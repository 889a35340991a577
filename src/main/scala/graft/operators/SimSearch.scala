package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{SessionArtifacts, Tables}
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor / similarity search over the embeddings
  * fixture (SURVEY.md §2.3 J).
  *
  * Two paths:
  *  - [[bruteTopK]] — exact brute-force cosine top-k. The query side is
  *    broadcast (queries ≪ corpus); the corpus is scanned once, fully
  *    parallel, and per-query top-k is taken with a window over
  *    (query, cos) — at 1000 executors this is a single map-side pass
  *    plus a shuffle of |queries|·k candidates... the correctness
  *    baseline and perfectly serviceable when |queries| is small.
  *  - [[lshTopK]] — random-hyperplane LSH-bucketed search: corpus and
  *    queries hash to 12-bit buckets; only same-bucket candidates are
  *    scored. Recall < 1 → rows-only check; recall vs brute force is
  *    asserted in SimSearchSpec.
  *
  * The cosine kernel is the codegen'd [[graft.functions.FloatVecDot]].
  */
object SimSearch {

  /** FIXED query-set size: queries are vec_id < NumQueries — a constant
    * number of probe vectors regardless of corpus scale. The round-2
    * parametrization (vec_id % 100 == 0) silently coupled the query set
    * to the corpus: 1% OF THE CORPUS broadcast on the build side grows
    * linearly and expires the "broadcast the small side" reasoning at
    * 100 TB. The search contract at scale is (small query batch) ×
    * (arbitrarily large corpus); a caller with more queries batches them
    * in NumQueries-sized chunks. */
  val NumQueries = 20

  /** FIXED coarse-quantizer size for IVF: C centroids independent of
    * corpus cardinality (round 2 sampled vec_id % 97 — again O(corpus)
    * broadcast). C scales with desired cell granularity, not data volume;
    * at 100 TB you raise C deliberately (and shard the centroid table)
    * rather than letting it track the corpus. */
  val NumCentroids = 32

  /** Exact top-k neighbors (k=5) for the fixed query set
    * (vec_id < [[NumQueries]]), self excluded. Deterministic: ties broken
    * by neighbor id; output carries rank, not the float score. */
  def bruteTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val scored = e.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** FILTERED vector search — the modern vector-DB workload brute search
    * misses: top-k cosine neighbors AMONG rows satisfying a metadata
    * constraint (here: the query's own label — the per-tenant /
    * per-language / per-split shape). The filter is an EQUI-condition,
    * so Catalyst plans the query×corpus pairing as a BroadcastHashJoin
    * keyed on label (plan-pinned) instead of the all-pairs
    * nested-loop `simsearch_topk` needs — the scored candidate set is
    * the label partition, not the corpus, which is exactly the
    * "pre-filter then search" economics a filtered ANN index buys at
    * 100 TB (an IVF/LSH index per label value drops in behind the same
    * contract). Deterministic rank output, ties by neighbor id. */
  def filteredTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"label".as("q_label"))
    val scored = e.join(broadcast(queries),
        $"label" === $"q_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** Session-scoped MATERIALIZED exact-top-k artifact (the
    * [[graft.operators.Dedup.minhashLshShared]] pattern): every consumer
    * that needs the exact answer as an INPUT — the declared `simsearch_topk`
    * query, and both recall queries' denominators (which each referenced
    * `bruteTopK` 2–3 times in their plans, so one rep recomputed the full
    * |corpus|×|queries| scoring repeatedly) — reads |queries|·k rows of
    * (q_id, n_id, rk) rows of one artifact per k. The artifact is what a
    * production vector lake does too: the exact ground-truth set is
    * computed once and versioned, not re-scored per evaluation. */
  def bruteTopKShared(s: SparkSession, d: String, k: Int = 5): DataFrame =
    // one slot PER K: a single shared slot made the k=20 MMR pool and the
    // k=5 recall twins evict each other every bench pass (round 13)
    SessionArtifacts.parquet(s, s"brutetopk.k$k", d)(bruteTopK(s, d, k))

  /** Greedy steps / candidate-pool size for [[mmrTopK]] — both mirrored
    * by the oracle's unrolled CTE chain. */
  val MmrK = 5
  val MmrPool = 20

  /** MMR-DIVERSIFIED top-k (Carbonell & Goldstein 1998) — the retrieval
    * shape plain `simsearch_topk` gets wrong on a near-dup corpus: the
    * exact top-5 of a query sitting in a duplicate clique is five copies
    * of the same document. Maximal Marginal Relevance re-ranks a
    * candidate pool greedily, step t picking
    *
    *   argmax over unselected d:  rel(q,d) − max_{s ∈ selected} sim(d,s)
    *
    * (λ = 1/2 — relevance and redundancy equally weighted, folded into
    * one SUBTRACTION so cross-engine agreement needs no constant
    * multiply) with ties broken by neighbor id, seeded with the exact
    * rank-1 neighbor. The training-data reading: "sample k diverse
    * exemplars near this probe", the selection rule semantic dedup
    * applies at retrieval time instead of corpus time.
    *
    * DETERMINISTIC: every step is a pure argmax over scores both engines
    * compute from the same float vectors ([[bruteTopK]]'s rank-
    * determinism class), so the (q_id, n_id, step) triple — selection
    * ORDER included — is hash-compared, not just the set.
    *
    * Scale: the corpus is touched ONCE (the [[bruteTopK]] broadcast-
    * query scan) to cut the |Q|×[[MmrPool]] pool; the greedy loop runs
    * entirely on pool-sized frames — |Q|·P² pairwise sims computed once,
    * then [[MmrK]] bounded rounds of (anti-join + max-aggregate +
    * per-query argmax) over ≤ |Q|·P rows, lineage-truncated. At 100 TB
    * the re-rank cost is independent of corpus size — that is MMR's
    * whole production appeal. */
  def mmrTopK(s: SparkSession, d: String): DataFrame =
    mmrOf(Tables.embeddings(s, d))

  /** Core over any (vec_id, embedding) frame — the declared query and
    * SimSearchSpec's planted-clique diversification law both drive this
    * path. */
  private[graft] def mmrOf(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    val pool = e.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"),
        $"embedding".as("n_emb"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= MmrPool)
    mmrGreedy(pool)
  }

  /** The MMR greedy re-rank over ANY candidate pool frame
    * (q_id, n_id, cos, n_emb, rk) with rk = 1..P per query — extracted
    * (round 13) so the pool is a swappable input: [[mmrOf]] feeds it the
    * exact brute pool, [[mmrAnn]] the IVF pool. The stage itself never
    * touches the corpus — |Q|·P² pairwise sims once, then [[MmrK]]
    * bounded argmax rounds on ≤ |Q|·P rows — which is the "MMR is a
    * pool → pool operator" claim made executable. Callers that have
    * already materialized the pool (mmrAnn reuses it for its flag
    * aggregates) pass `precheckpointed = true` to skip the second
    * copy. */
  private[graft] def mmrGreedy(pool0: DataFrame,
      precheckpointed: Boolean = false): DataFrame = {
    val s = pool0.sparkSession
    import s.implicits._
    val pool = if (precheckpointed) pool0 else pool0.localCheckpoint(eager = false)
    val pp = pool.as("x").join(pool.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.n_id") =!= col("y.n_id"))
      .select(col("x.q_id").as("q_id"), col("x.n_id").as("a"),
        col("y.n_id").as("b"),
        VectorFunctions.cosine(col("x.n_emb"), col("y.n_emb")).as("sim"))
      .localCheckpoint(eager = false)
    val rel = pool.select($"q_id", $"n_id", $"cos".as("rel"), $"rk")
    var sel = rel.where($"rk" === 1)
      .select($"q_id", $"n_id", lit(1L).as("step"))
    for (t <- 2 to MmrK) {
      val pen = pp.join(sel.select($"q_id", $"n_id".as("b")), Seq("q_id", "b"))
        .groupBy($"q_id", $"a").agg(max($"sim").as("pen"))
        .select($"q_id", $"a".as("n_id"), $"pen")
      val cand = rel.join(sel.select($"q_id", $"n_id"), Seq("q_id", "n_id"), "left_anti")
        .join(pen, Seq("q_id", "n_id"))
        .select($"q_id", $"n_id", ($"rel" - $"pen").as("score"))
      val ww = Window.partitionBy($"q_id").orderBy($"score".desc, $"n_id".asc)
      val next = cand.withColumn("r", row_number().over(ww)).where($"r" === 1)
        .select($"q_id", $"n_id", lit(t.toLong).as("step"))
      sel = sel.unionAll(next).localCheckpoint(eager = false)
    }
    sel
  }

  /** Multi-table MULTIPROBE LSH approximate top-k (scale path; see class
    * doc): corpus + queries bucketed into L tables × b-bit signatures;
    * each query probes its own bucket PLUS the b hamming-1 neighbor
    * buckets per table (bucket XOR one-hot masks) — a true neighbor that
    * lands one hyperplane away is still found. Multiprobe multiplies only
    * the probe fan-out (×(1+b) on the tiny query side), not the index
    * size — the standard recall lever when adding tables is too
    * expensive (measured here: recall 0.12 → 0.60 at sf0.01 / 0.64 at
    * sf0.1 with the same 8-table index). Candidates are deduped, scored
    * exactly, per-query top-k. */
  def lshTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val corpus = Dedup.lshBuckets(Tables.embeddings(s, d), dim = 64, seed = 11L)
    val masks = array((0L +: (0 until Dedup.LshBits).map(j => 1L << j)).map(lit(_)): _*)
    val queries = corpus.where($"vec_id" < NumQueries)
      .select($"table_id", explode(transform(masks, m => $"bucket".bitwiseXOR(m))).as("bucket"),
        $"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val cands = corpus.join(broadcast(queries), Seq("table_id", "bucket"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"q_emb", $"vec_id".as("n_id"), $"embedding")
      .dropDuplicates("q_id", "n_id")
    val scored = cands.select($"q_id", $"n_id",
      VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside LSH.
    *
    *  - Coarse quantizer: exactly [[NumCentroids]] centroids drawn
    *    deterministically from the corpus by hash order (TakeOrdered —
    *    O(C) on the driver however large the corpus; a seeded k-means
    *    would drop in here unchanged; the index structure is what's
    *    exercised).
    *  - Assignment: centroids are BROADCAST; each corpus vector scores all
    *    C and keeps its argmax via `max_by` — partial aggregation collapses
    *    the C copies per vector map-side (the broadcast join leaves all C
    *    scored copies of a row in one partition), so the shuffle carries
    *    |corpus| rows, not |corpus|·C.
    *  - Search: each query probes its `nprobe` nearest centroids' inverted
    *    lists only — the candidate join is an equi-join on centroid id
    *    against the broadcast probe set, then exact cosine + top-k.
    *
    * Recall < 1 by construction → rows-only check; recall vs brute force
    * is asserted in SimSearchSpec. */
  def ivfTopK(s: SparkSession, d: String, k: Int = 5, nprobe: Int = 8): DataFrame = {
    import s.implicits._
    val cands = ivfCands(s, d, nprobe)
    val scored = cands.select($"q_id", $"n_id",
      VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** Session-materialized IVF INVERTED LISTS — (vec_id, c_id, c_id2,
    * c_id3, embedding): every corpus vector assigned to its nearest
    * coarse centroid, PLUS its second- and third-nearest (rounds 14-15
    * — multi-assignment: computed from the same scored frame at build
    * time for free, it is what `dedup_semantic_ann`'s cell probe spills
    * into — the round-15 third slot lifted its sf0.01 pair-recall
    * trough 0.29 → see Dedup.semanticDedupAnn; the query-side
    * ivf keys keep probing nprobe lists of the primary assignment).
    * This IS the index artifact: at 100 TB the inverted file is BUILT
    * once per ingest (the `simsearch_index_delta` key maintains the
    * same published-index contract incrementally) and probed by every
    * query after, so the per-query cost the ivf keys measure is the
    * PROBE, not an index rebuild (round 13 — previously each of
    * ivf_recall / ivfpq / mmr_ann re-scored corpus×C per invocation). */
  private[operators] def ivfListsShared(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.parquet(s, "ivflists", d)(
      ivfListsOf(Tables.embeddings(s, d), ivfCentroidsShared(s, d)))

  /** The inverted-lists build over any (corpus, centroids) pair —
    * factored so Dedup's semantic-dedup cell index can reuse it with a
    * corpus-scaled quantizer ([[graft.operators.Dedup.semListsShared]])
    * while the query-side keys keep the fixed-C artifact above. */
  private[operators] def ivfListsOf(e: DataFrame, centroids: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    val w = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"c_id".asc)
    e.join(broadcast(centroids))
      .select($"vec_id", $"embedding", $"c_id",
        VectorFunctions.cosine($"embedding", $"c_emb").as("c_cos"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .groupBy($"vec_id")
      // rk-ordered (same highest-cos / smallest-c_id tiebreak as the
      // round-13 build): exactly one row carries each rk, so the
      // rk-keyed picks are deterministic (C >= 32 >= 3, all exist)
      .agg(min_by($"c_id", $"rk").as("c_id"),
           first(when($"rk" === 2, $"c_id"), ignoreNulls = true).as("c_id2"),
           max_by($"c_id", $"rk").as("c_id3"),
           first($"embedding").as("embedding"))
  }

  /** Deterministic hash-draw of C centroids from any corpus — the
    * [[ivfCentroids]] draw with a parametric C, for quantizers whose
    * size scales with the corpus (the semantic-dedup cell index). */
  private[operators] def centroidDrawOf(e: DataFrame, c: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.orderBy(pmod(xxhash64($"vec_id"), lit(1000003L)).asc, $"vec_id".asc)
      .limit(c)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
  }

  /** Deterministic coarse-quantizer draw shared by the index build and
    * the probe side (O(C) on the driver however large the corpus) — the
    * TRAINING step; probes read [[ivfCentroidsShared]], never this. */
  private def ivfCentroids(e: DataFrame): DataFrame =
    centroidDrawOf(e, NumCentroids)

  /** Session-materialized COARSE CENTROIDS (C rows) persisted beside the
    * inverted lists: the draw is O(C) output but its TakeOrdered input is
    * a corpus-wide scan, and before round 14 every probe-side invocation
    * (ivfCands → ivf_recall/ivfpq/mmr_ann) re-ran it — so the "per-query
    * work is corpus-independent once the artifact exists" claim held for
    * the lists but not the quantizer (ADVICE r14). A production store
    * publishes the quantizer WITH the index; probes now scan C parquet
    * rows (floats round-trip parquet bit-exact, so assignments and
    * probe rankings are unchanged). */
  private[operators] def ivfCentroidsShared(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.parquet(s, "ivfcents", d)(ivfCentroids(Tables.embeddings(s, d)))

  /** IVF candidate generation shared by [[ivfTopK]] and [[mmrAnn]]'s
    * pool: (q_id, q_emb, n_id, embedding) — the inverted-list probe
    * before scoring/ranking. */
  private def ivfCands(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val lists = ivfListsShared(s, d)
    // the query side scores only the 20-row fixed batch (filter pushed
    // to the scan) against the C-row PERSISTED quantizer — with both the
    // lists and the centroids artifact-backed (round 14), per-query work
    // really is independent of the corpus once the index exists
    val probes = e.where($"vec_id" < NumQueries)
      .join(broadcast(ivfCentroidsShared(s, d)))
      .select($"vec_id", $"embedding", $"c_id",
        VectorFunctions.cosine($"embedding", $"c_emb").as("c_cos"))
      .withColumn("pr", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"c_id".asc)))
      .where($"pr" <= nprobe)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"c_id")

    lists.join(broadcast(probes), Seq("c_id"))
      .where($"vec_id" =!= $"q_id")
      .select($"q_id", $"q_emb", $"vec_id".as("n_id"), $"embedding")
      .dropDuplicates("q_id", "n_id")
  }

  /** MMR OVER THE ANN POOL (round-12 verdict item 3 — completes the
    * "MMR is a pool → pool operator" claim with evidence): the same
    * [[mmrGreedy]] re-rank rides the IVF inverted-list pool
    * ([[ivfCands]], nprobe = 8, top-[[MmrPool]] per query) instead of
    * the brute-force pool — the swap a 100 TB deployment actually runs,
    * where the exact pool scan is the part that stops scaling and the
    * re-rank stage is corpus-independent either way. Approximate by
    * construction → the emitted row is the BOUND, oracle-asserted
    * constant-true (the recall-twin discipline every approximate path
    * carries):
    *
    *  - `pool_ok`  — the IVF pool retains ≥ poolFloor of the exact
    *    brute top-P pool globally (pool recall is what bounds MMR-ANN
    *    quality: the greedy stage is deterministic given the pool);
    *  - `recall_ok` — the ANN-MMR selection overlaps ≥ selFloor of the
    *    exact-MMR selection globally;
    *  - `div_ok` — the ANN-MMR selection's summed within-query pairwise
    *    similarity is ≤ that of the UNDIVERSIFIED IVF top-[[MmrK]] from
    *    the same pool: diversification must actually reduce redundancy
    *    on the pool it was given, or the re-rank stage is dead weight.
    *
    * Floors ratcheted to ~0.8× measured (fixed 20-query 32-centroid
    * parametrization — the ivfRecall method): pool recall 0.50 / 0.49 /
    * 0.445 at sf0.001/0.01/0.1 → poolFloor 0.35 (ivfRecall's own
    * floor); selection overlap 0.34 / 0.33 / 0.31 → selFloor 0.25 (the
    * pool's missing half bounds it — the greedy stage is deterministic
    * GIVEN a pool, so overlap tracks pool recall, measured); diversity
    * margin is wide (summed pairwise sim ≤ 7.0 vs ≥ 20.1 undiversified
    * at every SF). */
  def mmrAnn(s: SparkSession, d: String, poolFloor: Double = 0.35,
      selFloor: Double = 0.25): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    val pool = ivfCands(s, d, nprobe = 8)
      .select($"q_id", $"n_id",
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"),
        $"embedding".as("n_emb"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= MmrPool)
      .localCheckpoint(eager = false)
    val annSel = mmrGreedy(pool, precheckpointed = true).localCheckpoint(eager = false)
    val exactSel = mmrOf(e).localCheckpoint(eager = false)
    val exactPool = bruteTopKShared(s, d, MmrPool).select($"q_id", $"n_id")
    val nQ = exactSel.agg(count_distinct($"q_id").as("n_queries"))
    val poolHits = Dedup.recallCounts(exactPool,
      pool.select($"q_id", $"n_id"), Seq("q_id", "n_id"))
    val selHits = Dedup.recallCounts(exactSel.select($"q_id", $"n_id"),
      annSel.select($"q_id", $"n_id"), Seq("q_id", "n_id"))
    def pairSimSum(sel: DataFrame, tag: String) = {
      val withEmb = sel.join(e.select($"vec_id".as("n_id"), $"embedding"), "n_id")
      withEmb.as("x").join(withEmb.as("y"),
          col("x.q_id") === col("y.q_id") && col("x.n_id") < col("y.n_id"))
        .select(VectorFunctions.cosine(col("x.embedding"), col("y.embedding")).as("sim"))
        .agg(sum($"sim").as(tag))
    }
    val plainTopK = pool.where($"rk" <= MmrK).select($"q_id", $"n_id")
    nQ.crossJoin(poolHits.select($"n_found".as("pf"), $"n_exact".as("pe")))
      .crossJoin(selHits.select($"n_found".as("sf"), $"n_exact".as("se")))
      .crossJoin(pairSimSum(annSel.select($"q_id", $"n_id"), "ann_sim"))
      .crossJoin(pairSimSum(plainTopK, "plain_sim"))
      .select($"n_queries",
        ($"pf" >= $"pe" * poolFloor).cast("long").as("pool_ok"),
        ($"sf" >= $"se" * selFloor).cast("long").as("recall_ok"),
        ($"ann_sim" <= $"plain_sim").cast("long").as("div_ok"))
  }

  /** Int8 scalar-quantized corpus (vec_id, qvec: array<tinyint>): each
    * vector is scaled by its own max-|x|/127 and rounded — the symmetric
    * per-vector scheme every production vector store ships first. Cosine
    * is scale-invariant per vector, so quantized cosine needs NO
    * dequantization scale: cos(round(a/s_a), round(b/s_b)) approximates
    * cos(a, b) directly, and the only loss is rounding. The payoff at
    * 100 TB is the index footprint: 64 floats → 64 bytes is a 4× cut in
    * scan bytes / cache pressure on the O(corpus) side of every probe.
    * Zero-vector guard keeps the scale strictly positive. */
  def quantizedCorpus(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select($"vec_id", $"embedding",
        greatest(array_max(transform($"embedding", x => abs(x))), lit(1e-30f))
          .cast("double").as("s"))
      .select($"vec_id",
        transform($"embedding", x => round(x / $"s" * 127).cast("tinyint")).as("qvec"))
  }

  /** Exact top-k over the int8-quantized corpus: identical search shape
    * to [[bruteTopK]] (broadcast fixed query batch, one corpus pass,
    * per-query window top-k) but scoring int8 codes widened to float in
    * the codegen kernel — the storage is quantized, the arithmetic is
    * the same [[graft.functions.FloatVecDot]] hot loop. */
  def quantizedTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val fl = quantizedCorpus(Tables.embeddings(s, d))
      .select($"vec_id", transform($"qvec", x => x.cast("float")).as("emb"))
    val queries = fl.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"))
    val scored = fl.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"emb").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** Fixed neighbor count for the k-NN graph queries. */
  val KnnGraphK = 3

  /** Exact k-NN GRAPH: every corpus vector × its [[KnnGraphK]] nearest
    * neighbors (self excluded) — nearest-neighbor graph construction,
    * the backbone of graph-based near-dup clustering and graph-ANN
    * index builds. Unlike [[bruteTopK]]'s fixed 20-probe batch, EVERY
    * vector is a query, so neither side is broadcastable: ordered pairs
    * come from the blocked all-pairs equi-join discipline of
    * [[Dedup.embeddingExactPairs]] (probe side replicated to B slots,
    * candidate side home-slotted by pmod(id, B) — every ordered pair
    * meets exactly once on an equi-join key, never a nested-loop cross
    * join), then one (q_id) window keeps the top k. O(n²/B) per block
    * is inherent to the EXACT graph — this is the correctness baseline
    * and the ground-truth builder; [[knnGraphLsh]] is the 100 TB path.
    * Deterministic: rank output, ties by neighbor id; cosine is the
    * bit-parity [[graft.functions.FloatVecDot]] kernel, so the oracle's
    * full-graph window replay hash-matches.
    *
    * B is the PARALLELISM knob, not a semantic one (the pair cover and
    * the result are B-invariant): B must track the session's task slots
    * and grow with the corpus at cluster scale. Round 12 raised the
    * default 8 → 32 (the bench rig's slot count) AND pinned the
    * parallelism with an explicit repartition of the candidate side —
    * measured at the sf1 decade (20k vectors, ~4·10⁸ scored pairs), the
    * planner broadcast the exploded probe side and streamed the corpus
    * from its ONE file partition, so the join plus the partial
    * WindowGroupLimit sort of the full pair stream ran in a single task
    * (~18 min wall, one RUNNABLE executor in jstack while 31 cores
    * idled). Input-file partitioning is an accident of fixture layout,
    * never a parallelism contract: the 6 MB bj exchange on the slim
    * corpus side spreads the quadratic join work B-wide under EITHER
    * join strategy (any stream partitioning parallelizes a broadcast
    * join; bj co-partitions a shuffle join), and the partial
    * window-group-limit then sorts B slices concurrently. */
  def knnGraph(s: SparkSession, d: String, k: Int = KnnGraphK,
      blocks: Int = 32): DataFrame =
    knnGraphOf(Tables.embeddings(s, d), k, blocks)

  /** [[knnGraph]] over any (vec_id, embedding) frame — the incremental
    * graph index builds its BASE graph from the base split. */
  private[operators] def knnGraphOf(e: DataFrame, k: Int = KnnGraphK,
      blocks: Int = 32): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    val probes = e.select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
      explode(sequence(lit(0L), lit(blocks - 1L))).as("bj"))
    // 4x partitions as keys: hashing B keys into exactly B bins leaves
    // ~1/e of them empty (balls-in-bins), so tasks carry 2-4 blocks and
    // effective parallelism drops to ~B·(1-1/e); over-provisioning bins
    // makes key collisions rare and each block its own task (ADVICE r12)
    val cands = e.select($"vec_id".as("n_id"), $"embedding".as("n_emb"),
      pmod($"vec_id", lit(blocks.toLong)).as("bj"))
      .repartition(4 * blocks, $"bj")
    val scored = probes.join(cands, Seq("bj")).where($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", VectorFunctions.cosine($"q_emb", $"n_emb").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** Session-materialized exact k-NN graph (the [[bruteTopKShared]]
    * artifact pattern): ground truth is computed once and versioned —
    * consumed by the declared query and [[knnGraphLsh]]'s recall gate. */
  def knnGraphShared(s: SparkSession, d: String, k: Int = KnnGraphK): DataFrame =
    // one slot per k: the k=3 hits/recall artifact and the k=1 wcc chain
    // graph coexist
    SessionArtifacts.parquet(s, s"knngraph.k$k", d)(knnGraph(s, d, k))

  /** Beam width and hop rounds for [[graphAnnTopK]] — fixed so the
    * search is deterministic and the oracle-facing recall floor has a
    * fixed parametrization. */
  val GraphAnnBeam = 32
  val GraphAnnRounds = 5

  /** HNSW's M-parameter argument made executable (round-15): at FIXED
    * out-degree, navigability decays as the corpus grows — measured in
    * round 14 as global recall 0.90 → 0.60 across one decade (500 →
    * 2000 vectors) at degree [[KnnGraphK]]=3. Production graph indexes
    * therefore grow degree with scale (HNSW keeps ~M·log n links per
    * node across its layers); this is that rule at M=[[GraphAnnM]]:
    * degree(n) = max(KnnGraphK, ceil(M·log10 n)) — 6 at n=500, 7 at
    * n=2000, 9 at the 20k sf1 decade, 18 at n=10⁹. The navigable-graph
    * artifact and the incremental insert path both derive their degree
    * from the corpus they index (one count() at build time, memoized
    * with the artifact); the oracle replays the same closed-form rule
    * analytically, so the edges-per-insert contract stays exact. */
  val GraphAnnM = 2.0
  def graphDegree(n: Long): Int =
    math.max(KnnGraphK,
      math.ceil(GraphAnnM * math.log10(math.max(n, 2L).toDouble)).toInt)
  /** Partition count of the navigable-graph artifact: hops prune the
    * adjacency scan to the frontier's buckets (bounded driver collect of
    * ≤ this many bucket ids per round). */
  val GraphAnnBuckets = 64

  /** Session-materialized NAVIGABLE GRAPH — the graph-ANN index family
    * (NSW/HNSW class), rendered Spark-first: the exact k-NN graph
    * artifact ([[knnGraphShared]]) SYMMETRIZED (undirected degree ~2k —
    * NSW's navigability premise), each edge carrying its destination's
    * embedding INLINE (a graph-ANN node owns its vector; hops must
    * never rejoin the corpus), written partitioned by
    * pmod(src, [[GraphAnnBuckets]]) so a beam-search hop reads ONLY the
    * frontier's partitions. Built once per (session, corpus) like every
    * index artifact. Degree is [[graphDegree]] of the corpus count
    * (round-15 scale-stability — see [[GraphAnnM]]), so the graph this
    * materializes is NOT the fixed-k [[knnGraphShared]] artifact the
    * `simsearch_knn_graph` contract keys; per-k memo slots keep both. */
  private[operators] def graphAnnIndexShared(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SessionArtifacts.read(s, SessionArtifacts.materialize(s, "graphann", d) { dir =>
      val deg = graphDegree(Tables.embeddings(s, d).count())
      writeNavigable(knnGraphShared(s, d, deg).select($"q_id", $"n_id"),
        Tables.embeddings(s, d), dir)
    })
  }

  /** GRAPH-ANN BEAM SEARCH over the navigable-graph artifact — the
    * NSW/HNSW search semantics (greedy best-first from fixed entry
    * points, beam-bounded) as bounded-round dataflow: every query keeps
    * its [[GraphAnnBeam]] best-so-far; each of the [[GraphAnnRounds]]
    * rounds expands ALL frontier nodes' neighbors at once (the batch
    * rendition of the sequential candidate pop), scores them against the
    * query, and re-trims to the beam. Entry points are [[NumCentroids]]
    * hash-drawn seeds — the same deterministic draw as the IVF coarse
    * quantizer, playing HNSW's upper-layer role of spreading starts
    * across the space.
    *
    * The BEAM STATE lives on the driver — ≤ |Q|·beam slim (q, n, cos)
    * triples BY CONSTRUCTION (it is the search frontier, not data; the
    * bounded-collect class, like the K×dim centroid folds), which is
    * exactly what an HNSW searcher's candidate heap is. Each round is
    * then ONE job: a scan of the adjacency PARTITION-PRUNED to the
    * frontier's buckets and filtered to the frontier's nodes — the
    * frontier's adjacency lists are read, not the graph; neighbor
    * embeddings ride the edges, so nothing rejoins the corpus; the
    * top-beam merge is a driver-side fold over ≤ |Q|·beam·2k rows (see
    * [[graphAnnSearch]]). Honest 100 TB note (SCALE.md): unlike the IVF
    * probe, hop I/O tracks frontier LOCALITY, not a fixed nprobe/C
    * fraction — graph-ANN is a random-access structure, and this
    * partition-pruned rendition is as close as scan-oriented dataflow
    * gets; it exists as the family's semantics + recall evidence, with
    * IVF/IVFPQ as the recommended scale path. */
  def graphAnnTopK(s: SparkSession, d: String, k: Int = 5,
      beam: Int = GraphAnnBeam, rounds: Int = GraphAnnRounds): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val seeds = ivfCentroidsShared(s, d)
      .select($"c_id".as("n_id"), $"c_emb".as("n_emb"))
    graphAnnSearch(graphAnnIndexShared(s, d), queries, seeds, k, beam, rounds)
  }

  /** The driver-heap beam-search core over (adjacency, queries, seeds),
    * behind [[graphAnnTopK]]. Returns (q_id, n_id, rk), self-pairs
    * excluded, ranks 1..k.
    *
    * The query batch is collected once per call — |Q|×dim floats, bounded
    * by construction like the beam itself — and rides every scan as a
    * `typedLit` map q_id → q_emb. The entry seeds and each hop are then
    * ONE job apiece, with no join and no broadcast to plan: a hop is the
    * adjacency scan pruned to `bucket IN (frontier buckets) AND
    * src IN (frontier nodes)`, each edge fanned out to the queries whose
    * beam holds its src (a `typedLit` map src → q_ids), scored with the
    * same `vec_cos` kernel as [[graphAnnSearchDistributed]], so the two
    * variants stay bit-identical (SimSearchSpec). A call costs
    * rounds + 2 jobs. */
  private def graphAnnSearch(adj: DataFrame, queries: DataFrame,
      seeds: DataFrame, k: Int, beam: Int, rounds: Int): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    // deterministic beam order: cos desc, ties by neighbor id
    def topBeam(cand: Seq[(Long, Long, Double)], width: Int) = cand
      .groupBy(x => (x._1, x._2)).values.map(_.head).toSeq // dedup (q, n)
      .groupBy(_._1).values.flatMap(
        _.sortBy(x => (-x._3, x._2)).take(width)).toSeq
    val qEmb = typedLit(queries.select($"q_id", $"q_emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    // every row of `rows` scored against each query id in `qIds`
    def score(rows: DataFrame, qIds: Column, nId: Column, nEmb: Column) = rows
      .select(explode(qIds).as("q_id"), nId.as("n_id"), nEmb.as("n_emb"))
      .select($"q_id", $"n_id",
        VectorFunctions.cosine(element_at(qEmb, $"q_id"), $"n_emb").as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // entry points (HNSW's upper layer role — spread the starts)
    var best = topBeam(score(seeds, map_keys(qEmb), $"n_id", $"n_emb"), beam)
    for (_ <- 1 to rounds) {
      val frontier = best.groupBy(_._2).map { case (n, xs) => n -> xs.map(_._1) }
      // bucket literals as Int: the partition column reads back through
      // partition-type inference as IntegerType, and Long literals would
      // wrap the partition attribute in a cast — pruning would then hang
      // on Spark's cast-unwrapping instead of a plain In (ADVICE r14; the
      // pruning law in SimSearchSpec pins this with inputFiles)
      val buckets = frontier.keys.map(n => (n % GraphAnnBuckets).toInt).toSeq.distinct
      val hops = score(
        adj.where($"bucket".isin(buckets: _*) && $"src".isin(frontier.keys.toSeq: _*)),
        element_at(typedLit(frontier), $"src"), $"dst", $"dst_emb")
      best = topBeam(best ++ hops, beam)
    }
    topBeam(best.filter(x => x._1 != x._2), k)
      .groupBy(_._1).values.flatMap(_.sortBy(x => (-x._3, x._2)).zipWithIndex
        .map { case ((q, n, _), i) => (q, n, (i + 1).toLong) }).toSeq
      .toDF("q_id", "n_id", "rk")
  }

  /** DISTRIBUTED beam search — [[graphAnnSearch]]'s exact semantics with
    * the beam state as a DATAFRAME instead of driver triples: the
    * batch-serving shape for |Q| ≫ 10³, where the driver variant's
    * |Q|·beam heap (HNSW's per-searcher candidate list, fine at the
    * contract's |Q|=[[NumQueries]]) stops being "bounded by
    * construction" (VERDICT r14 #2/#5). Per round: the ≤
    * [[GraphAnnBuckets]] frontier bucket ids are the ONLY driver
    * collect (64 ints — the partition-pruning predicate); the hop scan
    * joins the pruned adjacency against the distributed frontier on
    * src (Catalyst picks broadcast vs shuffle by frontier size — at
    * |Q|=20 it broadcasts, at |Q|=10⁶ it shuffles on src), re-attaches
    * q_emb by joining the query frame on q_id, and the per-query
    * top-beam trim is a window — the state never exceeds |Q|·beam rows
    * SHARDED across executors, never resident on the driver.
    * localCheckpoint truncates the per-round lineage (rounds of nested
    * windows otherwise stack into one giant plan) and keeps each hop
    * one materialized distributed action, mirroring the driver
    * variant's hop-per-action shape.
    *
    * Determinism matches the driver variant bit-for-bit: same cosine
    * kernel, same (cos desc, n_id asc) beam order, same seed entry —
    * SimSearchSpec's equivalence law asserts result identity on the
    * same inputs. */
  private[operators] def graphAnnSearchDistributed(adj: DataFrame,
      queries: DataFrame, seeds: DataFrame, k: Int, beam: Int,
      rounds: Int, prune: Boolean = true): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    // dedup (q, n) then per-query top-width — the distributed topBeam
    // (max(cos) is a no-op on duplicates: cosine is deterministic, both
    // copies carry the same score). ROUND-15 (guide §2.4 "two operations
    // keyed the same way share one exchange"): pre-partition by q_id
    // ALONE — HashPartitioning(q_id) satisfies both the (q_id, n_id)
    // aggregate's clustered distribution AND the window's, so the round
    // pays ONE exchange where groupBy(q_id, n_id) followed by the
    // q_id-window previously planned two (plan-pinned in PlanShapeSpec).
    def topBeam(cand: DataFrame, width: Int): DataFrame = cand
      .repartition($"q_id")
      .groupBy($"q_id", $"n_id").agg(max($"cos").as("cos"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= width)
      .select($"q_id", $"n_id", $"cos")
    var best = topBeam(
      queries.crossJoin(broadcast(seeds))
        .select($"q_id", $"n_id",
          VectorFunctions.cosine($"q_emb", $"n_emb").as("cos")),
      beam).localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      // ROUND-16: partition pruning is structural I/O avoidance — it only
      // helps when the frontier can MISS buckets. A batch pass whose
      // query set IS the corpus (graphAnnBatchCounts: every vector
      // searches, so every vector's bucket is in some frontier) touches
      // all buckets by construction; `prune = false` skips the per-round
      // bucket-distinct collect (one driver action per round) and scans
      // the adjacency unfiltered — same rows read either way. The
      // lazy round checkpoints then chain into the caller's one action
      // (plans stay truncated per round either way).
      val pruned = if (prune) {
        val buckets = best
          .select(pmod($"n_id", lit(GraphAnnBuckets.toLong)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)) // ≤ GraphAnnBuckets ints
        adj.where($"bucket".isin(buckets.toIndexedSeq: _*))
      } else adj
      val frontier = best.select($"q_id", $"n_id".as("src"))
      val hops = pruned
        .join(frontier, Seq("src"))
        .join(queries, Seq("q_id"))
        .select($"q_id", $"dst".as("n_id"),
          VectorFunctions.cosine($"q_emb", $"dst_emb").as("cos"))
      best = topBeam(best.unionByName(hops), beam).localCheckpoint(eager = false)
    }
    best.where($"q_id" =!= $"n_id")
      .withColumn("rk", row_number().over(w)).where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** BATCH graph-ANN: every corpus vector is a query (|Q| = n — the
    * offline batch-serving pass a training-data pipeline runs, e.g.
    * "attach each document's k nearest" before dedup/curation), served
    * by [[graphAnnSearchDistributed]] over the same navigable-graph
    * artifact and seeds as the interactive key. Output is the recall
    * contract vs the EXACT k-NN graph (the [[knnGraphShared]] ground
    * truth at k=[[KnnGraphK]]): (n_queries, n_exact, n_found,
    * recall_ok). Floor ratcheted from measurement (batch recall
    * 0.928 / 0.913 / 0.826 at sf0.001/0.01/0.1 — self-node
    * adjacency anchors each search, so it exceeds the 20-query
    * cold-start recall) → 0.62 ≈ 0.75× the min measured. */
  def graphAnnBatchRecall(s: SparkSession, d: String,
      floor: Double = 0.75): DataFrame = {
    import s.implicits._
    graphAnnBatchCounts(s, d).select($"n_queries",
      ($"n_found" >= $"n_exact" * floor).cast("long").as("recall_ok"))
  }

  /** The raw counts behind [[graphAnnBatchRecall]] — (n_queries,
    * n_exact, n_found). */
  private[graft] def graphAnnBatchCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = knnGraphShared(s, d, KnnGraphK).select($"q_id", $"n_id")
    val queries = Tables.embeddings(s, d)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val seeds = ivfCentroidsShared(s, d)
      .select($"c_id".as("n_id"), $"c_emb".as("n_emb"))
    // prune = false: every corpus vector is a query, so the frontier
    // spans every bucket by construction — see graphAnnSearchDistributed
    val got = graphAnnSearchDistributed(graphAnnIndexShared(s, d), queries,
      seeds, KnnGraphK, GraphAnnBeam, GraphAnnRounds, prune = false)
    Tables.embeddings(s, d).agg(count(lit(1)).as("n_queries"))
      .crossJoin(Dedup.recallCounts(exact, got.select($"q_id", $"n_id"),
        Seq("q_id", "n_id")))
  }

  /** Global recall floor of graph-ANN beam search vs the exact top-k —
    * the [[lshRecall]] contract. Floor ratcheted from measurement
    * (fixed beam-32 / 5-round / C-seed parametrization,
    * [[graphDegree]]-scaled adjacency — round 15):
    * global recall 1.000 / 1.000 / 1.000 at sf0.001/0.01/0.1 (degrees
    * 6/6/7) and 0.900 at the sf1 decade (n=20k, deg=9) — versus
    * 0.87/0.90/0.60 at the r14 FIXED degree k=3, whose one-decade
    * collapse was the measured argument for the degree rule. Floor
    * 0.75 = 0.75× the contract-SF min; the sf1 decade's 0.900 clears
    * it with margin, so the flag is scale-stable, not SF-tuned. */
  /** Symmetrized, embedding-carrying, bucket-partitioned adjacency of a
    * directed kNN edge list — the navigable-graph layout shared by the
    * full index and the incremental twin's BASE index. */
  private def writeNavigable(g: DataFrame, emb: DataFrame, dir: String): Unit = {
    val s = g.sparkSession
    import s.implicits._
    val und = g.select($"q_id".as("src"), $"n_id".as("dst"))
      .unionByName(g.select($"n_id".as("src"), $"q_id".as("dst")))
      .distinct()
    und.join(emb.select($"vec_id".as("dst"), $"embedding".as("dst_emb")), "dst")
      .withColumn("bucket", pmod($"src", lit(GraphAnnBuckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
  }

  /** The incremental twin's BASE index pair — navigable graph over the
    * base split (md5 bucket < 90, the content-addressed convention) plus
    * its hash-drawn entry seeds, both session-materialized: the insert
    * path must read PUBLISHED structures only (re-deriving seeds per
    * call would re-scan the base — the quantizer-artifact lesson,
    * ADVICE r14). */
  private def graphAnnBaseShared(s: SparkSession, d: String): (DataFrame, DataFrame, Int) = {
    import s.implicits._
    val dir = SessionArtifacts.materialize(s, "graphann.base", d) { dir =>
      val baseE = Tables.embeddings(s, d)
        .where(Maintenance.md5Hex32Col($"vec_id") % 100 < 90)
      // degree from the BASE corpus count (the structure being indexed),
      // kept beside the graph — [[graphDegree]] scale-stability
      val deg = graphDegree(baseE.count())
      writeNavigable(knnGraphOf(baseE, deg), baseE, s"$dir/adj")
      baseE.orderBy(pmod(xxhash64($"vec_id"), lit(1000003L)).asc, $"vec_id".asc)
        .limit(NumCentroids)
        .select($"vec_id".as("n_id"), $"embedding".as("n_emb"))
        .write.mode("overwrite").parquet(s"$dir/seeds")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "deg"), deg.toString)
    }
    (SessionArtifacts.read(s, s"$dir/adj"), SessionArtifacts.read(s, s"$dir/seeds"),
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "deg")).trim.toInt)
  }

  /** INCREMENTAL GRAPH-ANN — the maintained-artifact twin every index
    * family carries (dedup/spatial/IVF all have one; the graph family
    * now does too), and it is HNSW's OWN insert algorithm: a new vector
    * finds its neighbors BY SEARCHING the existing graph, then links to
    * its top-k — insert work ∝ |batch| beam searches, the base never
    * rescanned (the beam state is |batch|·beam driver triples; the hop
    * scans are partition-pruned base adjacency). The emitted edge lists
    * ARE the maintenance delta: appending them (symmetrized) to the
    * base adjacency is the same bucket-partitioned write the base index
    * used — ∝ |batch|·k rows, a [[writeNavigable]] call away.
    *
    * Emitted contract (recall-twin discipline): SQL-replayable anchors
    * (n_base / n_delta from the md5 split, n_edges_inserted = n_delta ×
    * [[graphDegree]](n_base) — every insert links exactly deg edges,
    * and the oracle replays the closed-form degree rule) plus
    * `edge_recall_ok`, asserting the searched-for neighbor lists retain
    * ≥ floor of the delta's EXACT base top-deg (the audit side is a
    * |delta|-broadcast brute scan — ground truth, not the production
    * path). Floor ratcheted from measurement (the round-15
    * parametrization — degree-scaled base graph,
    * [[GraphAnnEfConstruction]]=96 insert beam): insert-edge recall
    * 1.000 / 1.000 / 0.969 at sf0.001/0.01/0.1 and 0.710 at the sf1
    * decade (top-9 exact neighbors of a NOT-yet-linked vector is the
    * deepest recall ask in the family). Floor 0.65 — below the
    * 0.75×-contract-min convention (0.73) deliberately, so the
    * measured sf1 decade stays above the floor: the flag asserts
    * scale-stable behavior, not an SF-tuned bound. */
  def graphAnnIncremental(s: SparkSession, d: String,
      floor: Double = 0.65): DataFrame = {
    import s.implicits._
    graphAnnInsertCounts(s, d)
      .select($"n_base", $"n_delta", $"n_edges_inserted",
        ($"n_found" >= $"n_exact" * floor).cast("long").as("edge_recall_ok"))
  }

  /** Insert batch cap: the beam state of one insert wave is
    * ≤ this·[[GraphAnnBeam]] driver triples REGARDLESS of |delta| —
    * HNSW's real insert granularity is the bounded batch, and round 14
    * ran the whole 10%-of-corpus delta as one wave, which made the
    * "bounded driver collect" claim corpus-proportional (ADVICE r14).
    * Chunks are pmod(q_id)-assigned, so the split is deterministic and
    * each chunk's searches still read only the published base
    * artifacts. One chunk covers every test SF (delta ≤ 2000 there);
    * a production 10⁶-row backfill runs ~1000 sequential waves. */
  val GraphAnnInsertBatch = 4096L

  /** Insert-path beam width — HNSW's efConstruction > efSearch: an
    * insert must recover the new node's TOP-deg exact neighbors (deeper
    * recall than a top-5 query, and the query vector is not yet a graph
    * node to anchor on), so it searches with a wider beam than the
    * interactive path. Measured at the sf1 decade (n=20k, deg=9):
    * beam 32 → insert-edge recall 0.381; beam 96 → see scaladoc of
    * [[graphAnnIncremental]] for the ratcheted number. */
  val GraphAnnEfConstruction = 3 * GraphAnnBeam

  /** The insert searches' result — (q_id = delta node, n_id = base
    * neighbor, rk): the new nodes' edge lists. Exposed for the spec's
    * neighbors-are-base-nodes law. */
  private[operators] def graphAnnInsertedEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val delta = Tables.embeddings(s, d)
      .where(Maintenance.md5Hex32Col($"vec_id") % 100 >= 90)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val (adjBase, seeds, deg) = graphAnnBaseShared(s, d)
    val nChunks = ((delta.count() + GraphAnnInsertBatch - 1) / GraphAnnInsertBatch)
      .max(1L).toInt
    // insert waves run the DISTRIBUTED beam (law-proven identical to the
    // driver variant): a backfill batch is |Q| ≫ the interactive
    // contract's 20, and at efConstruction width the driver variant's
    // per-hop collect would be |batch|·ef·2deg rows — the exact shape
    // graphAnnSearchDistributed exists to shard
    (0 until nChunks).map { c =>
      graphAnnSearchDistributed(adjBase,
        delta.where(pmod($"q_id", lit(nChunks.toLong)) === c), seeds,
        deg, GraphAnnEfConstruction, GraphAnnRounds)
    }.reduce(_ unionByName _)
  }

  /** The counts behind [[graphAnnIncremental]]'s flag:
    * (n_base, n_delta, n_edges_inserted, n_exact, n_found). */
  private[graft] def graphAnnInsertCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val deg = graphAnnBaseShared(s, d)._3
    val vb = Maintenance.md5Hex32Col($"vec_id") % 100
    val delta = e.where(vb >= 90)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val inserted = graphAnnInsertedEdges(s, d)
      .localCheckpoint(eager = false) // two consumers: recall + the edge count
    // audit side: the delta's exact base top-k (broadcast the batch,
    // scan the base once — ground truth for the bound, not the insert).
    // The |base|×|delta| expansion must not ride the fixture's ONE
    // parquet partition through the broadcast join (the knnGraph
    // single-task lesson, SCALE.md "Repartition-pin re-records"): pin
    // the streamed side's parallelism with a slim explicit exchange —
    // measured at the sf1 decade, 121 → ~20 s for the counts pass.
    // ROUND-15 (guide §2.5/§2.2): the pin is CLUSTER-derived
    // (defaultParallelism), not the constant 128 — a fixed fan-out
    // overpays task overhead below it and underparallelizes above it —
    // and it hashes the raw high-cardinality vec_id instead of a
    // pmod-synthesized key with exactly P distinct values (the guide's
    // hash-collision skew trap: P values into P partitions leaves some
    // partitions with 2-3 keys and others empty).
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    val exactIns = e.where(vb < 90)
      .select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .join(broadcast(delta))
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= deg)
      .select($"q_id", $"n_id")
    e.agg(
        sum((vb < 90).cast("bigint")).as("n_base"),
        sum((vb >= 90).cast("bigint")).as("n_delta"))
      .crossJoin(inserted.agg(count(lit(1)).as("n_edges_inserted")))
      .crossJoin(Dedup.recallCounts(exactIns,
        inserted.select($"q_id", $"n_id"), Seq("q_id", "n_id")))
  }

  def graphAnnRecall(s: SparkSession, d: String, k: Int = 5,
      floor: Double = 0.75): DataFrame =
    Dedup.topKRecall(bruteTopKShared(s, d, k), graphAnnTopK(s, d, k), floor)

  /** Candidate stage of the LSH kNN graph over a [[Dedup.lshBuckets]]
    * index: multiprobe on the PROBE side only ([[lshTopK]] discipline —
    * each vector-as-query probes its own bucket plus the hamming-1
    * buckets per table; ×(1+bits) fan-out on probe rows, index size
    * unchanged, candidates still bucket-local), same-bucket equi-join,
    * deduped across tables. Exposed (ScaleSpec) so candidate cardinality
    * — the sub-quadratic-growth obligation of the bucket join — is
    * measurable without the scoring/top-k tail. */
  private[graft] def knnLshCandidatePairs(b: DataFrame,
      bits: Int = Dedup.LshBits): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    val masks = array((0L +: (0 until bits).map(j => 1L << j)).map(lit(_)): _*)
    val x = b.select($"table_id",
      explode(transform(masks, m => $"bucket".bitwiseXOR(m))).as("bucket"),
      $"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val y = b.select($"table_id", $"bucket", $"vec_id".as("n_id"), $"embedding".as("n_emb"))
    x.join(y, Seq("table_id", "bucket")).where($"q_id" =!= $"n_id")
      .dropDuplicates("q_id", "n_id")
  }

  /** The approximate edge set, with the persisted bucket index it was
    * scored from, so callers that materialize the edges can unpersist it
    * — without that, every direct call (plan specs) would pin another
    * cached copy for the session's lifetime. */
  private[graft] def knnGraphLshEdgesWithIndex(s: SparkSession, d: String,
      k: Int = KnnGraphK): (DataFrame, DataFrame) = {
    import s.implicits._
    VectorFunctions.register(s)
    // materialize the bucket index once before the self-join (the
    // embeddingLshPairs discipline) — both join sides read it, and the
    // 64 hyperplane dot products per vector are the expensive part
    val b = Dedup.lshBuckets(Tables.embeddings(s, d), dim = 64, seed = 11L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = knnLshCandidatePairs(b).select($"q_id", $"n_id",
      VectorFunctions.cosine($"q_emb", $"n_emb").as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    val edges = scored.withColumn("rk", row_number().over(w))
      .where($"rk" <= k)
      .select($"q_id", $"n_id")
    (edges, b)
  }

  /** The LSH edge set as a session artifact, one slot for (dir, k) (the
    * ngram-candidates precedent: a similarity index is maintained, not
    * per-query work). The bucket index is unpersisted once the edges are
    * on disk — the artifact supersedes the cache. */
  private def knnGraphLshEdgesShared(s: SparkSession, d: String, k: Int): DataFrame =
    SessionArtifacts.read(s, SessionArtifacts.materialize(s, "knnlsh", d, k) { dir =>
      val (edges, bucketIndex) = knnGraphLshEdgesWithIndex(s, d, k)
      try edges.write.mode("overwrite").parquet(dir)
      finally bucketIndex.unpersist()
    })

  /** LSH-bucketed approximate k-NN graph — the scale path for
    * [[knnGraph]]: candidate pairs are SAME-BUCKET pairs per hash table
    * (bucket-local quadratic, never corpus-quadratic — at 100 TB the
    * per-bucket population is what you size via [[Dedup.LshBits]], and
    * the bucket equi-join shuffles both sides by (table, bucket) with
    * cardinality that GROWS with the corpus), deduped across tables,
    * scored exactly with the codegen kernel, per-vector top-k. Recall
    * < 1 by construction, so the emitted row is the BOUND itself (the
    * dedup_embedding_lsh contract): (n_vectors, recall_ok) where
    * recall_ok asserts edge recall vs the exact graph ≥ floor — an
    * approximation-quality regression fails CORRECTNESS. Floor
    * ratcheted to ~0.8× measured (round 6, 8×8-bit tables + hamming-1
    * multiprobe: edge recall 0.675 / 0.619 /
    * 0.684 at sf0.001 / 0.01 / 0.1 on the near-uniform fixture — ANN's
    * hardest case; same-bucket probing alone measured 0.12–0.18, which
    * is why the multiprobe fan-out is on by default). */
  def knnGraphLsh(s: SparkSession, d: String, k: Int = KnnGraphK,
      floor: Double = 0.5): DataFrame = {
    import s.implicits._
    val approx = knnGraphLshEdgesShared(s, d, k)
    val exact = knnGraphShared(s, d, k)
    // n_vectors counts the CORPUS (matching the oracle's count over
    // embeddings), not distinct q_id in the exact graph — the two diverge
    // on a degenerate <2-vector corpus where no vector has any neighbor
    Tables.embeddings(s, d).agg(count(lit(1)).as("n_vectors"))
      .crossJoin(Dedup.recallCounts(exact.select($"q_id", $"n_id"), approx,
        Seq("q_id", "n_id")))
      .select($"n_vectors",
        ($"n_found" >= $"n_exact" * floor).cast("long").as("recall_ok"))
  }

  /** Quantization-quality bound, same contract as [[lshRecall]]: top-k
    * over int8 codes vs the exact float top-k ([[bruteTopKShared]]).
    * Unlike LSH/IVF there is no candidate pruning here — the recall loss
    * is pure rounding error — so the floor is far higher (measured 0.99
    * at sf0.01 / 1.00 at sf0.1 on the near-uniform fixture; floor 0.85
    * leaves margin for corpora with
    * tighter neighbor gaps). Output one row (n_queries, recall_ok). */
  def quantizedRecall(s: SparkSession, d: String, k: Int = 5,
      floor: Double = 0.85): DataFrame =
    Dedup.topKRecall(bruteTopKShared(s, d, k), quantizedTopK(s, d, k), floor)

  /** PQ geometry: 64 dims → [[PqSub]] subvectors × [[PqCent]]-entry
    * per-subspace codebooks = one byte per subvector, an 8-byte code per
    * vector (32× below float32). */
  val PqSub = 8
  val PqCent = 16

  /** Product quantization (Jégou et al., TPAMI'11) — the
    * codebook-compression ANN path, beside LSH (bucketing), IVF (coarse
    * partitioning) and int8 (scalar quantization). Encoding: each
    * subvector keeps its nearest codebook entry, argmin_c ‖v_j − c‖² =
    * argmin_c (‖c‖² − 2⟨v_j, c⟩) via the codegen vec_dot kernel,
    * c_idx tiebreak. Search is ADC (asymmetric distance): the query
    * stays exact; its dots against every codebook entry are precomputed
    * ONCE (a [[NumQueries]]×8×16 = 2,560-row broadcast table) and each
    * corpus vector scores as 8 table lookups — O(|corpus|·M) adds with
    * no per-pair float kernel, which is the entire economics of PQ at
    * 100 TB (the scan side reads 8-byte codes, not 256-byte vectors).
    * Rank by ADC dot / reconstructed norm ≈ cosine(query, v̂).
    *
    * Lookup dots are integer-scaled (micro-units) BEFORE the per-vector
    * sum so scores are order-independent integer sums — the same
    * discipline as text_logprob; an 8-double sum would vary with
    * partial-aggregation order across runs and can flip near-equal
    * ranks. Codebook: [[PqCent]] training rows by the IVF hash-order
    * draw (O(C) whatever the corpus; a seeded per-subspace k-means drops
    * in unchanged — the index structure is what's exercised). */
  def pqTopKOf(e: DataFrame, k: Int = 5): DataFrame = {
    val (codes, qtab) = pqIndex(e)
    pqAdcTopK(e, codes, qtab, k)
  }

  /** ADC scan + shortlist re-rank over given codes/tables — shared by
    * the inline path and the artifact-backed (session, dir) path. */
  private def pqAdcTopK(e: DataFrame, codes: DataFrame, qtab: DataFrame,
      k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val scored = codes.join(broadcast(qtab), Seq("j", "c_idx"))
      .where($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"qdot_micro").as("adc"), sum($"c_norm2_micro").as("vnorm2"))
      .select($"q_id", $"vec_id".as("n_id"),
        ($"adc" / sqrt($"vnorm2".cast("double"))).as("score"))
    pqRerank(e, scored, k)
  }

  /** Session-materialized PQ CODES — the 8-byte-per-vector compressed
    * index (vec_id, j, c_idx, c_norm2_micro). Like [[ivfListsShared]],
    * this is the artifact a production store builds once per ingest and
    * scans per query; before round 13 every pq/ivfpq invocation
    * re-encoded the corpus. The query ADC tables stay per-call — a
    * 2,560-row broadcast off the 20-row query scan and the 128-row
    * [[pqCodebookShared]] artifact (round 14: previously the per-call
    * table build re-ran the codebook draw's corpus scan). */
  private def pqCodesShared(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.parquet(s, "pqcodes", d)(
      pqCodesOf(Tables.embeddings(s, d), pqCodebookShared(s, d)))

  /** Per-row subspace split: (j, 8-float slice) × [[PqSub]] of the
    * `embedding` column — shared by training, encode, and query sides. */
  private def pqSubs = {
    val w = 64 / PqSub
    posexplode(transform(sequence(lit(0), lit(PqSub - 1)),
      j => slice(col("embedding"), j * w + 1, lit(w))))
  }

  /** The [[PqCent]]-row codebook draw (j, c_idx, c_sub, c_norm2_micro) —
    * TRAINING: its TakeOrdered input is a corpus-wide scan, so probes
    * read [[pqCodebookShared]], never this (a seeded per-subspace
    * k-means drops in unchanged; the index structure is what's
    * exercised). */
  private def pqCodebookOf(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    e.orderBy(pmod(xxhash64($"vec_id"), lit(999983L)).asc, $"vec_id".asc)
      .limit(PqCent)
      .withColumn("c_idx",
        row_number().over(Window.orderBy($"vec_id".asc)) - 1) // 16 rows
      .select($"c_idx", pqSubs.as(Seq("j", "c_sub")))
      .select($"j", $"c_idx", $"c_sub",
        round(VectorFunctions.vecDot($"c_sub", $"c_sub") * 1e6).cast("bigint")
          .as("c_norm2_micro"))
  }

  /** Session-materialized PQ CODEBOOK ([[PqSub]]×[[PqCent]] = 128 rows)
    * persisted beside the codes: before round 14 every pq/ivfpq probe
    * re-ran the codebook draw's corpus scan to build its ADC tables even
    * though the codes themselves were artifact-backed (ADVICE r14). A
    * production store publishes codebook + codes together; the per-query
    * ADC table build now scans 128 codebook rows plus the 20-row pruned
    * query batch. Floats round-trip parquet bit-exact → identical codes
    * and ADC scores. */
  private def pqCodebookShared(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.parquet(s, "pqcodebook", d)(pqCodebookOf(Tables.embeddings(s, d)))

  /** ENCODE against a given codebook: per (vec, j) the nearest centroid,
    * plus its ‖c‖² share of the reconstructed norm —
    * (vec_id, j, c_idx, c_norm2_micro), the 8-byte-per-vector scan side. */
  private def pqCodesOf(e: DataFrame, cb: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    e.select($"vec_id", pqSubs.as(Seq("j", "sub")))
      .join(broadcast(cb), "j")
      .select($"vec_id", $"j", $"c_idx", $"c_norm2_micro",
        ($"c_norm2_micro" - lit(2e6) * VectorFunctions.vecDot($"sub", $"c_sub"))
          .as("adist"))
      .groupBy($"vec_id", $"j")
      .agg(min_by(struct($"c_idx", $"c_norm2_micro"), struct($"adist", $"c_idx"))
        .as("best"))
      .select($"vec_id", $"j",
        $"best".getField("c_idx").as("c_idx"),
        $"best".getField("c_norm2_micro").as("c_norm2_micro"))
  }

  /** ADC lookup tables for the fixed exact-query batch against a given
    * codebook — (q_id, j, c_idx, qdot_micro), a 2,560-row broadcast; the
    * corpus scan is pruned to vec_id < [[NumQueries]]. */
  private def pqQueryTabOf(e: DataFrame, cb: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    VectorFunctions.register(s)
    e.where($"vec_id" < NumQueries)
      .select($"vec_id", pqSubs.as(Seq("j", "sub")))
      .join(broadcast(cb), "j")
      .select($"vec_id".as("q_id"), $"j", $"c_idx",
        round(VectorFunctions.vecDot($"sub", $"c_sub") * 1e6).cast("bigint")
          .as("qdot_micro"))
  }

  /** The INLINE PQ index pair (codebook trained in the same plan) —
    * kept for [[pqTopKOf]]'s self-contained path; the artifact-backed
    * keys pair [[pqCodesShared]] with [[pqQueryTabOf]] over
    * [[pqCodebookShared]]. */
  private def pqIndex(e: DataFrame): (DataFrame, DataFrame) = {
    val cb = pqCodebookOf(e)
    (pqCodesOf(e, cb), pqQueryTabOf(e, cb))
  }

  /** ADC shortlist → exact re-rank (the production PQ deployment: the
    * compressed scan prunes the corpus to R = 10k candidates; only the
    * shortlist pays a full-precision distance — |queries|·R exact dots,
    * O(1) in corpus scale). */
  private def pqRerank(e: DataFrame, scored: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val slw = Window.partitionBy($"q_id").orderBy($"score".desc, $"n_id".asc)
    val shortlist = scored.withColumn("slrk", row_number().over(slw))
      .where($"slrk" <= 10 * k)
      .select($"q_id", $"n_id")
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val reranked = shortlist
      .join(e.select($"vec_id".as("n_id"), $"embedding"), "n_id")
      .join(broadcast(queries), "q_id")
      .select($"q_id", $"n_id",
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
    val rkw = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id".asc)
    reranked.withColumn("rk", row_number().over(rkw))
      .where($"rk" <= k)
      .select($"q_id", $"n_id", $"rk".cast("bigint").as("rk"))
  }

  /** IVF-PQ (the FAISS IVFPQ composite — THE production vector-index
    * architecture): the IVF coarse quantizer prunes the scan to the
    * query's nprobe inverted lists, and PQ's asymmetric-distance tables
    * score only those candidates from 8-byte codes — at 100 TB the scan
    * reads nprobe/C of the corpus AND touches codes instead of
    * full-precision vectors, which is why every production store ships
    * this pairing rather than either half alone. Composition here is
    * literal: [[ivfCands]] (the inverted-list probe) restricts the
    * [[pqIndex]] ADC scan via one id semi-join; the exact re-rank on the
    * 10k-shortlist is unchanged. Recall < 1 by construction → the
    * declared key emits the oracle-asserted BOUND vs the exact top-k
    * (floor ratcheted ~0.8× measured, the ivfRecall method). */
  def ivfPqTopK(s: SparkSession, d: String, k: Int = 5,
      nprobe: Int = 8): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cands = ivfCands(s, d, nprobe).select($"q_id", $"n_id")
    val codes = pqCodesShared(s, d)
    val qtab = pqQueryTabOf(e, pqCodebookShared(s, d))
    val scored = codes
      .join(cands.withColumnRenamed("n_id", "vec_id"), Seq("vec_id"))
      .join(broadcast(qtab), Seq("q_id", "j", "c_idx"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"qdot_micro").as("adc"), sum($"c_norm2_micro").as("vnorm2"))
      .select($"q_id", $"vec_id".as("n_id"),
        ($"adc" / sqrt($"vnorm2".cast("double"))).as("score"))
    pqRerank(e, scored, k)
  }

  /** Global recall floor of the IVF-PQ composite vs the exact top-k —
    * the bound is the output (the recall-twin discipline). Measured
    * global recall 0.44 / 0.45 / 0.30 at sf0.001/0.01/0.1 (the composite
    * pays both halves' misses: IVF alone 0.44–0.48, PQ alone 0.44+ —
    * on the near-uniform fixture the intersection lands at ~0.3–0.45)
    * → floor 0.22 ≈ 0.75× worst measured. */
  def ivfPqRecall(s: SparkSession, d: String, k: Int = 5,
      floor: Double = 0.22): DataFrame =
    Dedup.topKRecall(bruteTopKShared(s, d, k), ivfPqTopK(s, d, k), floor)

  def pqTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, d)
    pqAdcTopK(e, pqCodesShared(s, d),
      pqQueryTabOf(e, pqCodebookShared(s, d)), k)
  }

  /** PQ recall vs the shared exact top-k, same contract as [[lshRecall]].
    * Floor ratcheted from measurement: raw ADC
    * top-k recalls 0.09–0.14 on the near-uniform fixture (16-centroid
    * codebooks on spherical noise — PQ's hardest case); the shortlist +
    * exact re-rank recovers 0.64 / 0.58 / 0.44 at
    * sf0.001 / 0.01 / 0.1. Floor 0.35 ≈ 0.8× the min measured. */
  def pqRecall(s: SparkSession, d: String, k: Int = 5,
      floor: Double = 0.35): DataFrame =
    Dedup.topKRecall(bruteTopKShared(s, d, k), pqTopK(s, d, k), floor)

  // ------------------------------------------------ driver-visible recall
  // Round 1 left the approximate paths rows-only; their recall bounds
  // lived in SimSearchSpec where the driver never saw them. These queries
  // make the bound itself the oracle-checked output: the approximate
  // top-k is joined against the EXACT top-k computed in-engine (bruteTopK
  // — itself independently hash-verified), and the emitted ok-flags must
  // all be 1 to hash-match an oracle that asserts them constant-true. An
  // approximation-quality regression now fails CORRECTNESS instead of
  // passing silently. The fixture embeddings are near-uniform on the
  // sphere (ANN's hardest case). Floors are ratcheted to ~0.8× measured
  // (round 3, fixed 20-query / 32-centroid
  // parametrization): multiprobe-LSH global recall 0.64 (sf0.01) / 0.68
  // (sf0.1) → floor 0.5; IVF nprobe=8/32 global recall 0.48 / 0.44 →
  // floor 0.35, with per-query min hits = 1 at both SFs → minHits 1.

  /** Per-query + global IVF recall bound. Output (q_id, recall_ok,
    * global_ok): recall_ok = this query found ≥ minHits of its exact
    * top-k (measured per-query min is exactly 1 on the near-uniform
    * fixture — some cells legitimately hold one true neighbor);
    * global_ok — constant across rows — asserts total hits ≥ floor of
    * all exact pairs, the tight bound a per-query minimum can't express.
    * Oracle asserts both flags constant-true. */
  def ivfRecall(s: SparkSession, d: String, k: Int = 5, minHits: Int = 1,
      floor: Double = 0.35): DataFrame = {
    import s.implicits._
    val exact = bruteTopKShared(s, d, k)
    // `hits` has two consumers (the per-query join and the global sum);
    // without materialization the whole IVF pipeline — corpus×centroid
    // scoring included — executes once per consumer. It is ≤ |queries|
    // rows, so an eager localCheckpoint is the right cut point (vs
    // checkpointing scoredAll, which is |corpus|×C rows carrying
    // embeddings; its only other consumer, the probe branch, already gets
    // the vec_id < NumQueries filter pushed to the scan and is O(queries)).
    val hits = ivfTopK(s, d, k).select($"q_id", $"n_id")
      .join(exact.select($"q_id", $"n_id"), Seq("q_id", "n_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("hits"))
      .localCheckpoint(eager = false)
    val globalOk = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(sum($"hits").as("n_found")))
      .select(($"n_found" >= $"n_exact" * floor).cast("long").as("global_ok"))
    exact.select($"q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .crossJoin(globalOk) // 1-row scalar
      .select($"q_id",
        (coalesce($"hits", lit(0L)) >= minHits).cast("long").as("recall_ok"),
        $"global_ok")
  }

  /** Global LSH recall floor (per-query bounds don't hold on uniform
    * data — some buckets legitimately miss). Output one row
    * (n_queries, recall_ok); n_queries is independently SQL-checkable. */
  def lshRecall(s: SparkSession, d: String, k: Int = 5, floor: Double = 0.5): DataFrame =
    Dedup.topKRecall(bruteTopKShared(s, d, k), lshTopK(s, d, k), floor)

  /** Radius threshold for [[rangeSearch]] — all neighbors at cosine ≥ τ,
    * however many there are (vs top-k's fixed count). */
  val RangeTau = 0.35

  /** Radius (range) search — the OTHER vector-retrieval contract: every
    * corpus vector within cosine ≥ [[RangeTau]] of each fixed query,
    * self excluded. Top-k answers "the best k whatever their quality";
    * radius answers "everything above a quality bar, however many" —
    * dedup-style retrieval and recall evaluation both need this form.
    * Same scale shape as [[bruteTopK]]: broadcast the O(1) query batch,
    * one corpus scan, no window needed at all — the threshold filters
    * map-side, so the shuffle carries only qualifying rows (∝ result,
    * not corpus). Scores are emitted as raw doubles from the codegen
    * [[graft.functions.FloatVecDot]] kernel, which bit-matches DuckDB's
    * list_cosine_similarity (the dedup_embedding discipline). */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val queries = e.where($"vec_id" < NumQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    e.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        VectorFunctions.cosine($"q_emb", $"embedding").as("cos"))
      .where($"cos" >= RangeTau)
  }

  /** RRF rank constant (the standard 60 from Cormack & Clarke's original
    * reciprocal-rank-fusion formulation) and per-list depth. */
  val RrfConst = 60
  val RrfTopK = 5

  /** Hybrid retrieval via reciprocal-rank fusion — the production RAG
    * retrieval shape: a KEYWORD ranked list (idf-weighted distinct-term
    * overlap against each query document's own terms) and a VECTOR ranked
    * list (the session-materialized exact top-k, [[bruteTopKShared]])
    * are fused per (query, candidate) as Σ_lists ⌊10⁶ / (60 + rank)⌋ —
    * integer contributions, integer sums, no doubles anywhere in the
    * fusion, so ranking is exactly reproducible. A candidate found by
    * only one list still scores (the other contributes 0) — RRF's whole
    * point is that the two retrievers disagree.
    *
    * Scale shape: doc_id and vec_id are aligned in the fixture (one
    * embedding per document — the usual lakehouse layout). The corpus is
    * tokenized ONCE (the distinct-term profile feeds df, the query
    * profiles and the match join); query-side terms with their idf are a
    * |queries|·|query vocab| broadcast (O(1) in corpus scale); the match
    * join is an equi-join on term carrying only (q_id, doc_id,
    * idf_micro); both rank lists are |queries|·k rows. Nothing O(corpus)
    * is ever broadcast or collected. */
  def rrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vec = bruteTopKShared(s, d, RrfTopK)
      .select($"q_id", $"n_id", $"rk".as("rk_vec"))
    val dt = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(
        filter(TextAnalysis.toks($"text"), t => t =!= ""))).as("tok"))
      .localCheckpoint(eager = false) // one corpus tokenize feeds df, queries, matches
    val nd = dt.agg(count_distinct($"doc_id").as("n_docs")) // 1-row scalar
    val idf = dt.groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select($"tok",
        round(log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)) * 1e6)
          .cast("bigint").as("idf_micro"))
    val qterms = dt.where($"doc_id" < NumQueries)
      .select($"doc_id".as("q_id"), $"tok")
      .join(idf, "tok") // |queries| x |query vocab| — O(1) in corpus scale
    val kw = Window.partitionBy($"q_id").orderBy($"kscore".desc, $"doc_id".asc)
    val kwTop = dt.join(broadcast(qterms), Seq("tok"))
      .where($"doc_id" =!= $"q_id")
      .groupBy($"q_id", $"doc_id")
      .agg(sum($"idf_micro").as("kscore"))
      .withColumn("rk_kw", row_number().over(kw))
      .where($"rk_kw" <= RrfTopK)
      .select($"q_id", $"doc_id".as("n_id"), $"rk_kw")
    val fused = vec.join(kwTop, Seq("q_id", "n_id"), "full_outer")
      .select($"q_id", $"n_id",
        (coalesce(expr(s"1000000 div ($RrfConst + rk_vec)"), lit(0L)) +
         coalesce(expr(s"1000000 div ($RrfConst + rk_kw)"), lit(0L)))
          .as("rrf_micro"))
    val fw = Window.partitionBy($"q_id").orderBy($"rrf_micro".desc, $"n_id".asc)
    fused.withColumn("rk", row_number().over(fw).cast("bigint"))
      .where($"rk" <= RrfTopK)
  }

  /** k-NN CLASSIFIER over the embedding space (Cover–Hart 1967, k = 5,
    * majority vote) — "label the new document from its nearest labeled
    * neighbors", the zero-training baseline every embedding pipeline
    * ships first. Votes come from the session-memoized exact top-5
    * artifact ([[bruteTopKShared]] — the LSH/IVF index is the
    * documented 100 TB candidate swap, as everywhere in this family);
    * neighbor labels join from documents via a SHUFFLE equi-join
    * (labels are corpus-sized — never broadcast); the vote is a
    * per-query ≤5-row profile ranked by (votes DESC, best-rank ASC,
    * lang ASC) — the nearest of the tied classes wins, then
    * lexicographic, fully deterministic. Output carries the truth and
    * a correct flag so the hash gate doubles as an accuracy pin. */
  def knnClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = bruteTopKShared(s, d, k = 5)
    val labels = Tables.documents(s, d).select($"doc_id", $"lang")
    val votes = topk
      .join(labels.select($"doc_id".as("n_id"), $"lang".as("n_lang")), "n_id")
      .groupBy($"q_id", $"n_lang")
      .agg(count(lit(1)).as("votes"), min($"rk").as("best_rk"))
    val w = Window.partitionBy($"q_id")
      .orderBy($"votes".desc, $"best_rk".asc, $"n_lang".asc)
    votes.withColumn("r", row_number().over(w)).where($"r" === 1)
      .select($"q_id", $"n_lang".as("pred_lang"))
      .join(labels.select($"doc_id".as("q_id"), $"lang".as("true_lang")), "q_id")
      .select($"q_id", $"pred_lang", $"true_lang",
        ($"pred_lang" === $"true_lang").cast("bigint").as("correct"))
  }

  /** Unrolled greedy MMR replay: pool + pairwise sims once, then one
    * (penalty, candidate, argmax, accumulate) CTE quartet per step —
    * row_number (score desc, id asc) ≡ the engine's windowed argmax. */
  private def mmrOracle: String = {
    val steps = (2 to MmrK).map { t =>
      s"""pen$t AS (
        SELECT p.q_id, p.a AS n_id, max(p.sim) AS pen
        FROM pp p JOIN acc${t - 1} s ON s.q_id = p.q_id AND s.n_id = p.b
        GROUP BY 1, 2),
      cand$t AS (
        SELECT c.q_id, c.n_id, c.rel - p.pen AS score
        FROM pool c
        JOIN pen$t p ON p.q_id = c.q_id AND p.n_id = c.n_id
        LEFT JOIN acc${t - 1} s ON s.q_id = c.q_id AND s.n_id = c.n_id
        WHERE s.n_id IS NULL),
      sel$t AS (
        SELECT q_id, n_id, CAST($t AS BIGINT) AS step FROM (
          SELECT q_id, n_id, row_number() OVER (
            PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS r
          FROM cand$t) t WHERE r = 1),
      acc$t AS (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM sel$t)"""
    }.mkString(",\n      ")
    s"""
      WITH scored AS MATERIALIZED (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])) AS rel,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])) DESC,
                          e.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries),
      pool AS MATERIALIZED (SELECT * FROM scored WHERE rk <= $MmrPool),
      pp AS MATERIALIZED (
        SELECT x.q_id, x.n_id AS a, y.n_id AS b,
               list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])) AS sim
        FROM pool x
        JOIN pool y ON x.q_id = y.q_id AND x.n_id <> y.n_id
        JOIN embeddings ea ON ea.vec_id = x.n_id
        JOIN embeddings eb ON eb.vec_id = y.n_id),
      acc1 AS (SELECT q_id, n_id, CAST(1 AS BIGINT) AS step FROM pool WHERE rk = 1),
      $steps
      SELECT q_id, n_id, step FROM acc$MmrK"""
  }

  val oracle: Map[String, String] = Map(
    "simsearch_mmr" -> mmrOracle,
    // approximate path → the BOUND is the output (recall-twin
    // discipline): all three flags constant-true, n_queries exact
    "simsearch_mmr_ann" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS pool_ok,
             CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS div_ok
      FROM embeddings WHERE vec_id < $NumQueries""",
    // the definition restated: exact top-5 window, label join, majority
    // vote with the same (votes, nearest, lang) tie rule
    "ml_knn_classifier" -> s"""
      WITH topk AS (
        SELECT q_id, n_id, rk FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(e.embedding AS DOUBLE[])) DESC,
                            e.vec_id ASC) AS rk
          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries) t
        WHERE rk <= 5),
      v AS (
        SELECT t.q_id, d.lang AS n_lang, count(*) AS votes, min(t.rk) AS best_rk
        FROM topk t JOIN documents d ON d.doc_id = t.n_id
        GROUP BY 1, 2),
      p AS (
        SELECT q_id, n_lang AS pred_lang FROM v
        QUALIFY row_number() OVER (PARTITION BY q_id
          ORDER BY votes DESC, best_rk ASC, n_lang ASC) = 1)
      SELECT p.q_id, p.pred_lang, d.lang AS true_lang,
             CAST(p.pred_lang = d.lang AS BIGINT) AS correct
      FROM p JOIN documents d ON d.doc_id = p.q_id""",

    "search_rrf" -> s"""
      WITH vec AS (
        SELECT q_id, n_id, rk AS rk_vec FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(e.embedding AS DOUBLE[])) DESC,
                            e.vec_id ASC) AS rk
          FROM embeddings q JOIN embeddings e
            ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
        ) t WHERE rk <= $RrfTopK),
      dt AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents)
        WHERE tok <> ''),
      nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
      idf AS (
        SELECT tok, CAST(round(ln(1 + (n_docs - count(*) + 0.5) / (count(*) + 0.5))
                               * 1000000) AS BIGINT) AS idf_micro
        FROM dt CROSS JOIN nd GROUP BY tok, n_docs),
      kw AS (
        SELECT q_id, n_id, rk_kw FROM (
          SELECT q.doc_id AS q_id, c.doc_id AS n_id,
                 row_number() OVER (
                   PARTITION BY q.doc_id
                   ORDER BY sum(idf_micro) DESC, c.doc_id ASC) AS rk_kw
          FROM dt q
          JOIN dt c ON q.tok = c.tok AND c.doc_id <> q.doc_id
          JOIN idf ON idf.tok = q.tok
          WHERE q.doc_id < $NumQueries
          GROUP BY q.doc_id, c.doc_id
        ) t WHERE rk_kw <= $RrfTopK),
      fused AS (
        SELECT coalesce(vec.q_id, kw.q_id) AS q_id,
               coalesce(vec.n_id, kw.n_id) AS n_id,
               coalesce(1000000 // ($RrfConst + rk_vec), 0)
               + coalesce(1000000 // ($RrfConst + rk_kw), 0) AS rrf_micro
        FROM vec FULL JOIN kw
          ON vec.q_id = kw.q_id AND vec.n_id = kw.n_id)
      SELECT q_id, n_id, CAST(rrf_micro AS BIGINT) AS rrf_micro, rk FROM (
        SELECT q_id, n_id, rrf_micro,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY rrf_micro DESC, n_id ASC) AS rk
        FROM fused) t
      WHERE rk <= $RrfTopK""",

    "simsearch_range" -> s"""
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])) AS cos
      FROM embeddings q JOIN embeddings e
        ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
      WHERE list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[])) >= $RangeTau""",

    "simsearch_ivf_recall" -> s"""
      SELECT DISTINCT vec_id AS q_id, CAST(1 AS BIGINT) AS recall_ok,
             CAST(1 AS BIGINT) AS global_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    "simsearch_lsh_recall" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    "simsearch_quantized_recall" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    // graph-ANN beam search: the bound is the output (recall-twin
    // discipline); the navigable graph's hash-drawn seeds and xxhash64
    // draws cannot replay in DuckDB, so the oracle anchors n_queries
    // and asserts the floor flag constant-true
    "simsearch_graph_ann" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    // batch serving (every vector a query, distributed beam state): the
    // query-set anchor replays; the floor flag is the bound
    "simsearch_graph_ann_batch" -> """
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings""",

    // incremental insert: the md5 split and the exactly-deg-edges-per-
    // insert invariant replay analytically — including the round-15
    // degree rule deg = max(KnnGraphK, ceil(M·log10 n_base)), replayed
    // as the same closed form; the recall flag is the bound
    "simsearch_graph_ann_incremental" -> s"""
      WITH b AS (
        SELECT vec_id,
               (${Maintenance.md5Hex32Sql("CAST(vec_id AS VARCHAR)")} % 100) AS bk
        FROM embeddings),
      deg AS (
        SELECT GREATEST($KnnGraphK,
                 CAST(CEIL($GraphAnnM * LOG10(CAST(
                   (SELECT count(*) FROM b WHERE bk < 90) AS DOUBLE)))
                   AS BIGINT)) AS k)
      SELECT (SELECT count(*) FROM b WHERE bk < 90) AS n_base,
             (SELECT count(*) FROM b WHERE bk >= 90) AS n_delta,
             (SELECT count(*) * (SELECT k FROM deg) FROM b WHERE bk >= 90)
               AS n_edges_inserted,
             CAST(1 AS BIGINT) AS edge_recall_ok""",

    "simsearch_pq_recall" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    "simsearch_ivfpq_recall" -> s"""
      SELECT count(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id < $NumQueries""",

    "simsearch_filtered_topk" -> s"""
      SELECT q_id, n_id, rk FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])) DESC,
                          e.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings e
          ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
         AND e.label = q.label
      ) t WHERE rk <= 5""",

    "simsearch_topk" -> s"""
      SELECT q_id, n_id, rk FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])) DESC,
                          e.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings e ON q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
      ) t WHERE rk <= 5""",

    // full-graph window replay: every vector is a query (the blocked
    // equi-join on the engine side is checked against the definition)
    "simsearch_knn_graph" -> s"""
      SELECT q_id, n_id, rk FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])) DESC,
                          e.vec_id ASC) AS rk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      ) t WHERE rk <= $KnnGraphK""",

    "simsearch_knn_graph_lsh" -> """
      SELECT count(*) AS n_vectors, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings"""
  )
}
