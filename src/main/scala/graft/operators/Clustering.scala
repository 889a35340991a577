package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SessionArtifacts, Tables}

/** Distributed k-means (Lloyd) over the embeddings table — the training
  * step behind every IVF index build and corpus-partitioning pipeline
  * (cluster-then-sample, domain discovery, near-dup sharding). The
  * reference engine has no clustering surface; this is the LLM-pipeline
  * extension family (SURVEY §2.4 J), built the way Spark MLlib's KMeans
  * actually iterates: per-iteration work is ONE distributed pass
  * (assignment is a per-row map against broadcast centroids; the update
  * is a map-side-combined partial-sum aggregate), and the only driver
  * traffic is the K×dim centroid matrix itself — a bounded scalar
  * (4×64 longs here) per iteration, the CMS-sketch class of collect,
  * NEVER the corpus.
  *
  * Bit-replayability discipline (what makes this oracle-checkable): the
  * float vectors are quantized ONCE to integer micro-units, so every
  * distance is an exact BIGINT dot of differences (order-independent
  * sums), centroid updates are floor-divided integer means
  * (`Math.floorDiv` here ≡ `(s - ((s % n) + n) % n) // n` in the
  * oracle — all-BIGINT on both sides, exact at ANY magnitude; DuckDB's
  * bare `//` truncates and a double-based floor loses exactness past
  * 2^53, so neither is used), and
  * argmin ties break to the smallest centroid id (`array_position`
  * returns the FIRST index at the min). Convergence is fixed-iteration
  * (3), not threshold-based — a replayable loop count. Scale notes: K
  * centroids broadcast as literals into whole-stage codegen; the update
  * shuffle carries K×dim partial sums per partition, independent of row
  * count; inertia is in micro^2 units, so a trillion-row corpus should
  * rescale units (or widen to DECIMAL) before the BIGINT sum saturates.
  * Empty clusters keep their previous centroid (both sides replay
  * this via the coalesce-to-previous rule).
  */
object Clustering {
  private val K = 4
  private val Iters = 3
  private val Dim = 64
  private val Scale = 1000000L

  /** Quantized corpus: (vec_id, e: array<bigint> micro-units). Exposed
    * to specs so seed-inertia replays use the SAME scale constant. */
  private[operators] def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).select($"vec_id",
      transform($"embedding", x => round(x.cast("double") * Scale).cast("bigint")).as("e"))
  }

  def kmeansEmbed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (assigned, cents) = lloyd(quantized(s, d))
    val l1ByCid = map(cents.zipWithIndex.flatMap { case (c, ci) =>
      Seq(lit(ci.toLong), lit(c.map(math.abs).sum)) }: _*)
    assigned
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n"), sum($"d").as("inertia"))
      .withColumn("centroid_l1", element_at(l1ByCid, $"cluster"))
  }

  /** Core Lloyd loop over any (vec_id, e: array<bigint>) frame — exposed
    * so specs can plant separated clusters and assert recovery. Returns
    * the per-vector assignment (vec_id, cluster, d = squared distance to
    * its centroid) and the final centroid matrix. */
  private[operators] def lloyd(qIn: DataFrame): (DataFrame, Array[Seq[Long]]) = {
    val s = qIn.sparkSession
    import s.implicits._
    // the corpus is consumed by 2 + Iters actions (seed collect, one
    // aggregate per iteration, final assignment): checkpoint so the
    // scan + per-row quantization runs once, not per action — MLlib's
    // KMeans caches its input for exactly this reason
    val q = qIn.localCheckpoint(eager = false)

    // deterministic seed: the K smallest vec_ids' vectors (k-means++ at
    // scale would sample by D^2 weight; a FIXED seed is what makes the
    // run replayable against the oracle, and the iteration mechanics —
    // the thing under test — are identical either way)
    var cents: Array[Seq[Long]] = q.orderBy($"vec_id").limit(K)
      .select($"e").as[Seq[Long]].collect()

    // centroids ride in as ONE broadcast single-row frame (array of K
    // arrays), not as 256 inline literals: the literal form forces a
    // multi-second whole-stage-codegen compile of the nested HOF tree on
    // EVERY action — measured 10 s/run at sf0.1, ~all of it compiler —
    // while the column form keeps the generated code size independent
    // of K×dim. Broadcast cross join of a 1-row frame = a map-side
    // closure, no shuffle, same 100 TB shape as a literal.
    def withCents(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(
        Seq(Tuple1(cents.map(_.toSeq).toSeq)).toDF("cents")))
    // squared-L2 to each centroid, exact BIGINT, array order fixes the
    // summation order on both engines
    def dists = transform($"cents",
      c => aggregate(zip_with($"e", c, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
    // first index at the minimum = smallest-cid tie-break, 0-based
    def cid = (array_position(dists, array_min(dists)) - 1).cast("bigint")

    for (_ <- 1 to Iters) {
      // ONE aggregate carries all K×dim sums: K output rows of dim sum
      // columns regardless of corpus size (map-side combine does the
      // heavy lifting), and the collect below is that bounded matrix,
      // not data. Dim per-element sums beat posexplode here: a
      // generator would re-evaluate the cid HOF tree per EXPLODED row
      // (64× amplification — measured 4–6 s/iteration vs <1 s for this
      // shape), while GetArrayItem sums stay in whole-stage codegen.
      val sums = withCents(q)
        .groupBy(cid.as("cid"))
        .agg(count(lit(1)).as("n"),
          (0 until Dim).map(i => sum($"e"(i)).as(s"s$i")): _*)
        .collect()
      cents = cents.zipWithIndex.map { case (old, ci) =>
        sums.find(_.getLong(0) == ci.toLong).map { r =>
          val n = r.getLong(1)
          (0 until Dim).map(i => Math.floorDiv(r.getLong(i + 2), n)): Seq[Long]
        }.getOrElse(old) // empty cluster keeps its centroid
      }
    }

    (assignTo(q, cents), cents.map(_.toSeq))
  }

  /** Session-materialized TRAINED-CELL assignment — (vec_id, cluster)
    * from the full [[lloyd]] run, written once per (session, corpus) like
    * every published index artifact (the ivfListsShared / PQ-codebook
    * pattern, endorsed by the r14 quantizer-artifact fix): a production
    * IVF-cell consumer probes a PUBLISHED partitioner, it does not
    * retrain k-means per query. ml_kmeans keeps training inline — the
    * training loop IS that key's contract; this artifact serves the
    * cell-probing consumers (dbscan_ivf). */
  private[graft] def lloydCellsShared(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SessionArtifacts.parquet(s, "lloydcells", d)(
      lloyd(quantized(s, d))._1.select($"vec_id", $"cluster"))
  }

  /** Exact-integer nearest-centroid assignment of any (vec_id, e) frame
    * against a FIXED centroid matrix — [[lloyd]]'s final assignment,
    * factored out so index-maintenance consumers ([[indexDelta]]) can
    * assign an ingest batch against published centroids without
    * retraining. Same broadcast-1-row-frame shape, same smallest-cid
    * tie-break, squared-L2 in BIGINT. Returns (vec_id, cluster, d). */
  private[operators] def assignTo(q: DataFrame, cents: Array[Seq[Long]]): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val withC = q.crossJoin(broadcast(
      Seq(Tuple1(cents.map(_.toSeq).toSeq)).toDF("cents")))
    val dists = transform($"cents",
      c => aggregate(zip_with($"e", c, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
    val cid = (array_position(dists, array_min(dists)) - 1).cast("bigint")
    withC.select($"vec_id", cid.as("cluster"), array_min(dists).as("d"))
  }

  /** DuckDB replay of the SAME integer algorithm, unrolled per
    * iteration (the oracle string is generated, not hand-kept, so K /
    * Iters / Dim changes cannot desynchronize the two sides): QUALIFY
    * row_number argmin ≡ array_position-first tie-break;
    * non-negative-mod floor division ≡ floorDiv (exact BIGINT at any
    * magnitude); coalesce-to-previous ≡ the empty-cluster rule. */
  /** Squared-L2 between aliases q/c in the generated oracles. */
  private def kmDist: String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), " +
      "i -> (q.e[i] - c.e[i]) * (q.e[i] - c.e[i])))"

  /** One generated assignment CTE: rows of `src` against centroids
    * `prev`, QUALIFY-argmin with the smallest-cid tie-break. Shared by
    * [[oracleKmeans]] and [[oracleIndexDelta]]. */
  private def kmAssign(src: String, prev: String, a: String) = s"""
      $a AS (
        SELECT vec_id, e, cid, d FROM (
          SELECT q.vec_id, q.e, c.cid, $kmDist AS d
          FROM $src q CROSS JOIN $prev c) t
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1)"""

  /** One generated centroid-update CTE pair (the floorDiv means +
    * empty-cluster coalesce). Shared by the training chains. */
  private def kmUpdate(prev: String, a: String, cur: String) = s"""
      ${a}_sums AS (
        SELECT cid, i.range AS dim, CAST(sum(e[i.range]) AS BIGINT) AS s,
               count(*) AS n
        FROM $a, range(1, ${Dim + 1}) i
        GROUP BY cid, i.range),
      $cur AS (
        SELECT p.cid, coalesce(u.e, p.e) AS e
        FROM $prev p
        LEFT JOIN (
          SELECT cid,
                 list((s - ((s % n) + n) % n) // n
                      ORDER BY dim) AS e
          FROM ${a}_sums GROUP BY cid) u ON u.cid = p.cid)"""

  /** The full unrolled Lloyd chain (seed c0 → c[Iters]) trained over a
    * CTE named `q` that the caller's `head` must define. */
  private def kmTrainChain: String = {
    val seed = s"""
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e
        FROM (SELECT vec_id, e FROM q ORDER BY vec_id LIMIT $K))"""
    seed + (1 to Iters).map { it =>
      kmAssign("q", s"c${it - 1}", s"a$it") + "," +
        kmUpdate(s"c${it - 1}", s"a$it", s"c$it")
    }.mkString(",", ",", "")
  }

  /** Quantization CTE over a source relation. */
  private def kmQuantSql(src: String): String = s"""(
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS e
        FROM $src)"""

  private def oracleKmeans: String = {
    def assign(prev: String, a: String) = kmAssign("q", prev, a)
    val head = s"""
      WITH q AS ${kmQuantSql("embeddings")},"""
    head + kmTrainChain + "," + assign(s"c$Iters", "fa") + s""",
      l1 AS (SELECT cid,
                    CAST(list_sum(list_transform(e, v -> abs(v))) AS BIGINT)
                      AS centroid_l1
             FROM c$Iters)
      SELECT f.cid AS cluster, count(*) AS n,
             CAST(sum(f.d) AS BIGINT) AS inertia,
             min(l1.centroid_l1) AS centroid_l1
      FROM fa f JOIN l1 ON l1.cid = f.cid
      GROUP BY f.cid"""
  }

  // ---------------------------------------------------------------- ml_pca_power

  private val PcaDim = 64
  private val PcaScale = 1000L     // milli-units: keeps s·x products in long
  private val PcaVScale = 1000000L // fixed-point loading scale (ppm)
  private val PcaIters = 4

  /** Dominant principal direction of the embedding corpus by POWER
    * ITERATION on the uncentered Gram matrix XᵀX (the top right singular
    * vector — what an IVF coarse rotation, a whitening pass, or an
    * ANN-dimensionality diagnostic starts from). Same bit-replayability
    * discipline as [[kmeansEmbed]]: vectors quantized once to integer
    * milli-units (coarser than kmeans' micro-units so the per-row
    * s·x products stay in LONG: |s| ≤ 64·10³·10⁶ ≈ 6.4·10¹⁰,
    * |s·x| ≤ 6.4·10¹³), the iteration w = Xᵀ(Xv) runs as per-row dot
    * in long + per-element DECIMAL(38,0) sums (corpus-sized sums wrap
    * BIGINT, the agg_corr_matrix lesson), and normalization divides by
    * max|w| (NOT the L2 norm — an integer-exact truncating division
    * both engines replay; BigInt `/` here ≡ HUGEINT `//` in DuckDB,
    * both toward zero) into ppm fixed point. Fixed 4 iterations, all-ones
    * seed — replayable loop, no convergence threshold. Per iteration the
    * distributed work is ONE map-side-combined 64-column aggregate; the
    * only driver traffic is the 64-long w vector — bounded model state,
    * the kmeans-centroid class of collect. The all-zero-corpus edge keeps
    * the seed (mx = 0 guard on both sides). */
  /** Quantized corpus for the PCA family (milli-units — see
    * [[pcaPower]]'s magnitude contract), checkpointed once. */
  private def pcaQuantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).select(
      transform($"embedding",
        x => round(x.cast("double") * PcaScale).cast("bigint")).as("e"))
      .localCheckpoint(eager = false)
  }

  /** One power-iteration pass over the checkpointed quantized corpus.
    * With `ortho = Some(v1)`, every round Gram–Schmidts the raw iterate
    * against v1 IN EXACT INTEGERS before normalizing — the scale-free
    * form w′ = w·⟨v1,v1⟩ − ⟨w,v1⟩·v1 (no division, so no rounding
    * enters until the one ppm quantization both engines share).
    * Magnitude contract at sf0.1: |w| ≤ ~6·10¹⁷, ⟨v1,v1⟩ ≤ 64·10¹²,
    * ⟨w,v1⟩ ≤ 64·6·10²³ → |w′| ≤ ~4·10³¹ and w′·10⁶ ≤ 4·10³⁷ — inside
    * both BigInt (unbounded) and the oracle's HUGEINT (1.7·10³⁸),
    * margins stated not assumed. */
  private def powerPass(q: DataFrame, ortho: Option[Array[BigInt]]): Array[BigInt] = {
    val s = q.sparkSession
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    var v: Array[BigInt] = Array.fill(PcaDim)(BigInt(PcaVScale))
    for (_ <- 1 to PcaIters) {
      // s = <x, v> projected ONCE per row (inlining it into all 64 sum
      // terms would square the codegen expression tree — the measured
      // K×dim compile blowup), then w_j = Σ x_j·s as decimal sums.
      // ROUND-15 note: the per-iteration literals DO change the generated
      // source each iteration (PcaIters fresh codegen units per pass) —
      // a broadcast-array-frame rewrite was tried and MEASURED SLOWER
      // (3.1 → 8.0 s: zip_with/aggregate are CodegenFallback, and the
      // broadcast adds a job per iteration); the suite-sized codegen
      // class cache (Bench scaladoc) instead makes the 12 compiled units
      // persist across passes, which was the actual waste.
      val sCol = (0 until PcaDim).map(j => $"e"(j) * lit(v(j).toLong)).reduce(_ + _)
      val row = q.withColumn("sc", sCol)
        .select((0 until PcaDim).map(j =>
          sum(($"e"(j) * $"sc").cast(dec)).as(s"w$j")): _*)
        .collect()(0)
      var w = (0 until PcaDim).map(j => BigInt(row.getDecimal(j).toBigInteger)).toArray
      ortho.foreach { v1 =>
        val v1v1 = v1.map(x => x * x).sum
        val wv1 = w.zip(v1).map { case (a, b) => a * b }.sum
        w = w.zip(v1).map { case (wj, v1j) => wj * v1v1 - wv1 * v1j }
      }
      val mx = w.map(_.abs).max
      if (mx > 0) v = w.map(x => x * PcaVScale / mx)
    }
    v
  }

  def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    powerPass(pcaQuantized(s, d), None).zipWithIndex
      .map { case (x, j) => ((j + 1).toLong, x.toLong) }.toSeq
      .toDF("dim_idx", "loading_ppm")
  }

  /** TOP-2 principal directions — [[pcaPower]] plus a second pass whose
    * iterate is Gram–Schmidt-orthogonalized against the first component
    * EVERY round, in exact integers ([[powerPass]]): the deflation
    * variant that never touches the data (deflating rows would force
    * rational arithmetic; orthogonalizing the 64-long iterate is a
    * driver-side BigInt identity). Same distributed cost model as
    * pcaPower ×2; the oracle is the generated two-pass unrolled replay.
    * Residual non-orthogonality is one ppm quantization per round —
    * law-checked |cos(v1, v2)| < 0.01 in NewOpsLawSpec. */
  def pcaTop2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = pcaQuantized(s, d)
    val v1 = powerPass(q, None)
    val v2 = powerPass(q, Some(v1))
    (v1.zipWithIndex.map { case (x, j) => (1L, (j + 1).toLong, x.toLong) } ++
      v2.zipWithIndex.map { case (x, j) => (2L, (j + 1).toLong, x.toLong) }).toSeq
      .toDF("component", "dim_idx", "loading_ppm")
  }

  /** DuckDB replay of the same integer power iteration, unrolled
    * (generated like [[oracleKmeans]], so Dim/Iters/scale changes cannot
    * desynchronize the sides). Per iteration: the projection is an
    * unnest-join dot product, the matrix-vector product a per-element
    * grouped sum in DECIMAL(38,0), the normalization a HUGEINT `//`
    * (truncating, ≡ Scala BigInt `/`). */
  /** Generated two-pass replay for [[pcaTop2]]: pass 1 is the
    * [[oraclePcaPower]] chain verbatim; pass 2 re-seeds at all-ones and
    * inserts the integer Gram–Schmidt CTEs (w′ = w·⟨v1,v1⟩ − ⟨w,v1⟩·v1,
    * all HUGEINT) between each raw iterate and its normalization. */
  private def oraclePcaTop2: String = {
    val v1f = s"v$PcaIters" // pass-1 final component
    def iter2(prev: String, k: Int) = s"""
      b_s$k AS MATERIALIZED (
        SELECT q.e, x.sc FROM q JOIN (
          SELECT q2.rid, CAST(sum(q2.e[v.j] * v.v) AS BIGINT) AS sc
          FROM q q2, $prev v GROUP BY q2.rid) x USING (rid)),
      b_w$k AS MATERIALIZED (
        SELECT i.range AS j,
               CAST(sum(CAST(e[i.range] * sc AS DECIMAL(38,0))) AS HUGEINT) AS w
        FROM b_s$k, range(1, ${PcaDim + 1}) i GROUP BY 1),
      b_o$k AS (
        SELECT (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) FROM $v1f) AS v1v1,
               (SELECT CAST(sum(w.w * v1.v) AS HUGEINT)
                FROM b_w$k w JOIN $v1f v1 USING (j)) AS wv1),
      b_wo$k AS MATERIALIZED (
        SELECT w.j, w.w * o.v1v1 - o.wv1 * v1.v AS w
        FROM b_w$k w JOIN $v1f v1 USING (j), b_o$k o),
      b_m$k AS (SELECT max(abs(w)) AS mx FROM b_wo$k),
      b_v$k AS MATERIALIZED (
        SELECT j, CASE WHEN m.mx = 0 THEN vp.v
                       ELSE CAST((w.w * $PcaVScale) // m.mx AS BIGINT)
                  END AS v
        FROM b_wo$k w JOIN $prev vp USING (j), b_m$k m)"""
    val pass2 = (1 to PcaIters)
      .map(k => iter2(if (k == 1) "b_v0" else s"b_v${k - 1}", k))
      .mkString(",", ",", "")
    oraclePcaBody + ",\n      b_v0 AS MATERIALIZED (SELECT j, v FROM v0)" + pass2 + s"""
      SELECT CAST(1 AS BIGINT) AS component, CAST(j AS BIGINT) AS dim_idx,
             CAST(v AS BIGINT) AS loading_ppm FROM $v1f
      UNION ALL
      SELECT CAST(2 AS BIGINT), CAST(j AS BIGINT), CAST(v AS BIGINT)
      FROM b_v$PcaIters"""
  }

  /** Shared WITH-chain of [[oraclePcaPower]] up to the pass-1 final
    * component (no SELECT) so the top-2 oracle can extend it. */
  private def oraclePcaBody: String = {
    def iter(prev: String, k: Int) = s"""
      s$k AS MATERIALIZED (
        SELECT q.e, x.sc FROM q JOIN (
          SELECT q2.rid, CAST(sum(q2.e[v.j] * v.v) AS BIGINT) AS sc
          FROM q q2, $prev v GROUP BY q2.rid) x USING (rid)),
      w$k AS MATERIALIZED (
        SELECT i.range AS j,
               CAST(sum(CAST(e[i.range] * sc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS w
        FROM s$k, range(1, ${PcaDim + 1}) i GROUP BY 1),
      m$k AS (SELECT max(abs(CAST(w AS HUGEINT))) AS mx FROM w$k),
      v$k AS MATERIALIZED (
        SELECT j, CASE WHEN m.mx = 0 THEN vp.v
                       ELSE CAST((CAST(w.w AS HUGEINT) * $PcaVScale) // m.mx AS BIGINT)
                  END AS v
        FROM w$k w JOIN $prev vp USING (j), m$k m)"""
    val head = s"""
      WITH q AS MATERIALIZED (
        SELECT row_number() OVER () AS rid,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * $PcaScale) AS BIGINT)) AS e
        FROM embeddings),
      v0 AS (SELECT i.range AS j, CAST($PcaVScale AS BIGINT) AS v
             FROM range(1, ${PcaDim + 1}) i)"""
    val iters = (1 to PcaIters).map(k => iter(s"v${k - 1}", k)).mkString(",", ",", "")
    head + iters
  }

  private def oraclePcaPower: String =
    oraclePcaBody + s"""
      SELECT CAST(j AS BIGINT) AS dim_idx, CAST(v AS BIGINT) AS loading_ppm
      FROM v$PcaIters"""

  // ---------------------------------------------------------------- simsearch_index_delta

  /** ANN-index MAINTENANCE — the incremental twin for the IVF/simsearch
    * family, closing the cross-run loop the dedup family already has
    * (pairs / clusters / spans): centroids trained on the BASE vectors
    * ([[lloyd]], deterministic) are the PUBLISHED index artifact
    * (K rows: centroid + per-cell base population/inertia,
    * session-materialized); an ingest batch only ASSIGNS its vectors
    * against those fixed centroids ([[assignTo]] — one broadcast-
    * closure pass over the delta, work ∝ |delta|, the base never
    * rescanned) and emits per cell: base/delta populations, the
    * delta's inertia, and DRIFT_PPM — the exact cross-multiplied
    * integer ratio of delta mean squared distance to base mean squared
    * distance ((Σd_delta·n_base·10⁶) div (Σd_base·n_delta), DECIMAL(38,0)
    * against the oracle's HUGEINT since inertia sums are micro²-unit) —
    * the retrain trigger: a cell whose incoming vectors sit much
    * farther from its centroid than the training population did is a
    * cell whose geometry the index no longer represents. Cells the
    * delta misses emit n_delta = 0 / NULL drift. Base/delta split is
    * the content-addressed md5(vec_id) % 100 < 90 convention. The
    * oracle is GENERATED from the same builders as ml_kmeans (train
    * chain over the base subset, one assignment of the delta), so
    * K/Iters/Scale changes cannot desynchronize the sides. */
  def indexDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vecBucket = Maintenance.md5Hex32Col($"vec_id") % 100
    val idx = SessionArtifacts.parquet(s, "ivfindex", d) {
      val (assignedBase, cents) = lloyd(quantized(s, d).where(vecBucket < 90))
      val stats = assignedBase.groupBy($"cluster")
        .agg(count(lit(1)).as("n_base"), sum($"d").as("sum_d_base"))
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("cluster", "e")
        .join(stats, Seq("cluster"), "left")
        .select($"cluster", $"e",
          coalesce($"n_base", lit(0L)).as("n_base"),
          coalesce($"sum_d_base", lit(0L)).cast("bigint").as("sum_d_base"))
    }.localCheckpoint(eager = false)
    // K×dim bounded driver traffic — the published centroid matrix
    val cents: Array[Seq[Long]] = idx.orderBy($"cluster")
      .select($"e").as[Seq[Long]].collect()
    val del = assignTo(quantized(s, d).where(vecBucket >= 90), cents)
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_delta"), sum($"d").as("sum_d_delta"))
    idx.join(del, Seq("cluster"), "left")
      .select($"cluster", $"n_base",
        coalesce($"n_delta", lit(0L)).as("n_delta"),
        coalesce($"sum_d_delta", lit(0L)).cast("bigint").as("delta_inertia"),
        expr("""
          CASE WHEN coalesce(n_delta, 0) = 0 OR sum_d_base = 0 THEN NULL
               ELSE CAST(CAST(sum_d_delta AS DECIMAL(38,0)) * n_base * 1000000
                         div (CAST(sum_d_base AS DECIMAL(38,0)) * n_delta)
                         AS BIGINT) END""").as("drift_ppm"))
  }

  private def oracleIndexDelta: String = {
    val bkt = "(" + Maintenance.md5Hex32Sql("CAST(vec_id AS VARCHAR)") + " % 100)"
    s"""
      WITH qall AS ${kmQuantSql("embeddings")},
      q AS (SELECT * FROM qall WHERE $bkt < 90),
      qd AS (SELECT * FROM qall WHERE $bkt >= 90),""" +
      kmTrainChain + "," +
      kmAssign("q", s"c$Iters", "fb") + "," +
      kmAssign("qd", s"c$Iters", "fd") + s""",
      base AS (
        SELECT cid, count(*) AS n_base, CAST(sum(d) AS BIGINT) AS sum_d_base
        FROM fb GROUP BY cid),
      del AS (
        SELECT cid, count(*) AS n_delta, CAST(sum(d) AS BIGINT) AS sum_d_delta
        FROM fd GROUP BY cid)
      SELECT c.cid AS cluster,
             coalesce(b.n_base, 0) AS n_base,
             coalesce(dl.n_delta, 0) AS n_delta,
             coalesce(dl.sum_d_delta, 0) AS delta_inertia,
             CASE WHEN coalesce(dl.n_delta, 0) = 0 OR coalesce(b.sum_d_base, 0) = 0
                  THEN NULL
                  ELSE CAST(CAST(dl.sum_d_delta AS HUGEINT) * b.n_base * 1000000
                            // (CAST(b.sum_d_base AS HUGEINT) * dl.n_delta)
                            AS BIGINT) END AS drift_ppm
      FROM c$Iters c
      LEFT JOIN base b ON b.cid = c.cid
      LEFT JOIN del dl ON dl.cid = c.cid"""
  }

  val oracle: Map[String, String] = Map(
    "ml_kmeans" -> oracleKmeans,
    "ml_pca_power" -> oraclePcaPower,
    "ml_pca_top2" -> oraclePcaTop2,
    "simsearch_index_delta" -> oracleIndexDelta)
}
