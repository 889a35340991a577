package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-duplicate recall for the approximate dedup paths (the oracle
  * gate already proves exact agreement on the fixtures; these prove the
  * sketches actually FIND duplicates). */
class DedupSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single morning"

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val docs = docsDf(Seq(
      1L -> base,
      2L -> (base + " today"), // near-dup of 1
      3L -> "completely different content about spark catalyst optimizer rules and physical plans",
      4L -> "yet another unrelated document mentioning parquet files and shuffle partitions"))
    val pairs = Dedup.minhashPairs(docs, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical docs at hamming 0; near-dup within 3; unrelated filtered") {
    val docs = docsDf(Seq(
      1L -> base,
      2L -> base,
      3L -> (base + " maybe"),
      4L -> "totally distinct words nothing shared with anything else whatsoever in vocabulary"))
    val got = Dedup.simhashPairs(docs, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 0L)
    assert(got.keySet.forall { case (a, b) => Set(1L, 2L, 3L).contains(a) && Set(1L, 2L, 3L).contains(b) })
  }

  test("embedding LSH recovers planted near-identical vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    // plant: vec 100 = vec 0 + tiny noise
    val planted = (100L, vecs(0)._2.map(x => x + 0.001f))
    val df = (vecs :+ planted).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingExactPairs(df, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshPairs(df, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 100L)))
    assert(lsh == exact) // near-identical pairs: multi-table miss prob ≈ 0
  }

  test("charShingles of short text is empty, not a descending-sequence artifact") {
    import spark.implicits._
    val r = Seq(("x" * 5)).toDF("t").select(Dedup.charShingles($"t", 12)).head.getSeq[String](0)
    assert(r.isEmpty)
  }

  /** Driver union-find, always attaching the larger root under the
    * smaller → every tree's root is its component's min node id. Labels
    * every endpoint of a non-self-loop edge, the CC output contract. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      parent(x) = r
      r
    }
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** CC labels as a map, asserting one row per node. */
  private def ccLabels(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val got = rows.toMap
    assert(rows.length == got.size, "a node carries more than one label row")
    got
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(ccLabels(edges.toDF("a", "b")) === unionFindLabels(edges), s"trial $trial")
    }
  }

  test("connectedComponents labels are independent of input partitioning, " +
    "row order and spark.sql.shuffle.partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val random = (1 to 3).map(_ => Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)))
    val path = rnd.shuffle((1L until 500L).map(i => (i, i + 1)))
    val star = rnd.shuffle((1L to 2000L).map(i => (0L, i * 7 + 3)))
    // five 60-edge chains over interleaved ids: round-robin repartition
    // spreads every chain over all five input partitions (checked below)
    val spanning = (0 until 5).flatMap(c => (0 until 60).map(i => ((i * 5 + c).toLong, ((i + 1) * 5 + c).toLong)))
    val spanIn = spanning.toDF("a", "b").repartition(5)
    val partsPerChain = spanIn.select(($"a" % 5).as("c"), spark_partition_id().as("p"))
      .distinct().groupBy($"c").count().collect().map(_.getLong(1))
    assert(partsPerChain.length == 5 && partsPerChain.forall(_ == 5),
      s"premise: every chain must span all 5 input partitions, got ${partsPerChain.toSeq}")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      for (parts <- Seq(1, 3, 7)) {
        spark.conf.set(key, parts.toString)
        for ((g, name) <- (random :+ path :+ star :+ spanning)
            .zip(Seq("random1", "random2", "random3", "path", "star", "spanning"))) {
          assert(ccLabels(g.toDF("a", "b").repartition(5)) === unionFindLabels(g),
            s"$name at shuffle.partitions=$parts")
        }
        assert(ccLabels(Seq.empty[(Long, Long)].toDF("a", "b").repartition(5)).isEmpty,
          s"empty edge set at shuffle.partitions=$parts")
        assert(ccLabels(Seq((1L, 1L), (2L, 2L)).toDF("a", "b").repartition(5)).isEmpty,
          s"self-loops only at shuffle.partitions=$parts")
      }
    } finally spark.conf.set(key, saved)
  }

  test("prefix-filtered ngram jaccard equals the exhaustive all-pairs result") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def randDoc(len: Int): Vector[String] = Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
    // 20 random docs + mutated near-dups of the first few (1-token edits)
    val bases = (0 until 20).map(i => i.toLong -> randDoc(12 + rnd.nextInt(8)))
    val mutated = (0 until 6).map { i =>
      val (id, toks) = bases(i)
      val t2 = toks.updated(rnd.nextInt(toks.size), vocab(rnd.nextInt(vocab.size)))
      (100L + id) -> t2
    }
    val all = (bases ++ mutated).map { case (id, toks) => (id, toks.mkString(" ")) }
    // exhaustive reference on word-3-gram sets
    def grams(toks: Seq[String]): Set[String] =
      toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val sets = all.map { case (id, text) => id -> grams(text.split(" ").toSeq) }.toMap
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty
      c = (sa intersect sb).size.toDouble
      j = c / (sa.size + sb.size - c) if j >= 0.8
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccardPairs(all.toDF("doc_id", "text"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty, "test corpus must contain qualifying near-dups")
  }

  test("connectedComponents labels every node with its component's min id") {
    import spark.implicits._
    // components: {1,2,3,4} (path), {10,11}, {20,21,22} (triangle)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("hits: score conservation against the k-NN edge set") {
    // unnormalized integer HITS has exact conservation laws the output
    // hash can't localize: with hub_0 = 1 everywhere, auth_1(v) is v's
    // IN-degree, so Σ auth_1 = |edges|; after the final round,
    // Σ hub = Σ_{(u,v)∈E} auth(v) — each round is a pure edge-sum.
    val edges = SimSearch.knnGraphShared(spark, sf)
      .select(col("q_id").as("src"), col("n_id").as("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = Dedup.hits(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val auth = out.map(t => (t._1, t._3)).toMap
    val hub = out.map(t => (t._1, t._2)).toMap
    // final-round consistency: hub(u) = Σ auth(v) over u's out-edges
    val hubExpected = edges.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum)
    assert(out.forall { case (v, h, _) => hubExpected.getOrElse(v, 0L) == h })
    // every corpus vector appears exactly once; out-degree-0 is impossible
    // in a k-NN graph (k ≥ 1), so every hub is positive
    assert(out.length == graft.core.Tables.embeddings(spark, sf).count())
    assert(out.forall(_._2 > 0))
  }

  test("pagerank: hub outranks leaves, mass is conserved-ish, layout-invariant") {
    import spark.implicits._
    // star 1-{2,3,4,5} plus a detached edge 10-11
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.pagerankOf(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 7)
    // the hub holds strictly more mass than any leaf; symmetric leaves tie
    assert(Seq(2L, 3L, 4L, 5L).forall(l => got(1L) > got(l)))
    assert(Seq(3L, 4L, 5L).forall(l => got(l) === got(2L)))
    assert(got(10L) === got(11L))
    // integer truncation leaks ≤1 ppb per edge per round: total stays
    // within a tight band under S = 1e9
    val total = got.values.sum
    assert(total > 990000000L && total <= 1000000000L, s"mass=$total")
    // bit-identical under a different physical layout
    val got2 = Dedup.pagerankOf(pairs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === got)
  }

  test("verifyJaccard evaluates its pairs input once") {
    import spark.implicits._
    val docs = docsDf(Seq(1L -> base, 2L -> (base + " today"),
      3L -> (base + " again"), 4L -> "an unrelated document about parquet row groups"))
    val rows = spark.sparkContext.longAccumulator("pair rows")
    val tick = udf { (a: Long) => rows.add(1); a }.asNondeterministic()
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (1L, 4L))
    val pairs = spark.sparkContext.parallelize(raw, 2).toDF("a", "b")
      .select(tick($"a").as("a"), $"b")
    val got = Dedup.verifyJaccard(pairs, docs, Dedup.charShingles($"text", 12)).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == raw.toSet)
    assert(rows.value == raw.size, s"${rows.value} pair-row evaluations for ${raw.size} pairs")
  }

  /** recallCounts against its left-semi reference formulation:
    * n_exact = |exact|, n_found = |exact ⋉ approx| on `keys`. */
  test("recallCounts equals the left-semi counts on random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def frame(n: Int) = Seq.fill(n)((
      if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(8).toLong),
      rnd.nextInt(3).toLong)).toDF("q_id", "n_id")
    val cases = Seq.fill(6)((frame(40), frame(40))) ++ Seq(
      (frame(0), frame(30)), // empty exact
      (frame(30), frame(0)), // empty approx
      (frame(0), frame(0)),
      (frame(30), frame(30).select(($"q_id" + 100).as("q_id"), $"n_id"))) // disjoint
    cases.foreach { case (exact, approx) =>
      val keys = Seq("q_id", "n_id")
      val want = (exact.count(), exact.join(approx, keys, "left_semi").count())
      val r = Dedup.recallCounts(exact, approx, keys).collect()
      assert(r.length == 1)
      assert((r(0).getAs[Long]("n_exact"), r(0).getAs[Long]("n_found")) == want)
      val ok = Dedup.topKRecall(exact, approx, 0.5).collect()
      assert(ok.length == 1)
      assert(ok(0).getAs[Long]("n_queries") ==
        exact.where($"q_id".isNotNull).select($"q_id").distinct().count())
      assert(ok(0).getAs[Long]("recall_ok") == (if (want._2 >= want._1 * 0.5) 1L else 0L))
    }
  }
}
