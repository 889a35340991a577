package graft.operators

import graft.SparkSpec

/** Job cost of the two driver loops: one connected-components round and
  * one graph-ANN hop are exactly one Spark job each, and a recall bound
  * over a search adds a fixed few (jobs counted by
  * [[graft.SparkSpec.jobsOf]]). */
class RoundJobsSpec extends SparkSpec {

  /** The star rounds of [[Dedup.connectedComponents]] replayed on the
    * driver from its entry edge set: the rounds it runs, the last one
    * being the first whose output repeats the previous round's. */
  private def starRounds(entry: Set[(Long, Long)]): Int = {
    def round(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val nbrs = e.toSeq.flatMap { case (hi, lo) => Seq((hi, lo), (lo, hi)) }
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
      val ls = nbrs.toSeq.flatMap { case (u, vs) =>
        val m = math.min(u, vs.min)
        vs.filter(_ > u).map(v => (v, m))
      }.toSet
      ls.groupBy(_._1).toSeq.flatMap { case (hi, xs) =>
        val m = xs.map(_._2).min
        (hi, m) +: xs.toSeq.map(_._2).filter(_ != m).map(lo => (lo, m))
      }.toSet
    }
    var (e, prev, rounds) = (entry, Option.empty[Set[(Long, Long)]], 0)
    var done = false
    while (!done) {
      val next = round(e)
      rounds += 1
      done = next.isEmpty || prev.contains(next)
      prev = Some(next)
      e = next
    }
    rounds
  }

  test("each connected-components round costs exactly one job") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // one edge per input partition: the entry contraction is then the
    // identity on (hi, lo) edges, so the driver replay starts from the
    // same edge set as the operator
    val graphs = Seq(
      Seq((1L, 2L)),
      rnd.shuffle((1L until 9L).map(i => (i, i + 1))),
      rnd.shuffle((1L until 33L).map(i => (i, i + 1))),
      rnd.shuffle((1L until 129L).map(i => (i, i + 1))),
      Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).filter(e => e._1 != e._2))
    val costs = graphs.map { g =>
      val edges = spark.createDataFrame(spark.sparkContext.parallelize(g, g.size)).toDF("a", "b")
      val rounds = starRounds(g.map(e => (math.max(e._1, e._2), math.min(e._1, e._2))).toSet)
      rounds -> jobsOf(Dedup.connectedComponents(edges).collect())
    }
    assert(costs.map(_._1).distinct.size >= 3, s"premise: round counts must differ, got $costs")
    // one job per round, one for the exact fixpoint check, one to collect
    assert(costs.forall { case (rounds, jobs) => jobs == rounds + 2 }, s"(rounds, jobs): $costs")
  }

  test("each graph-ANN hop costs exactly one job") {
    SimSearch.graphAnnTopK(spark, sf).collect() // builds the session artifacts
    val one = jobsOf(SimSearch.graphAnnTopK(spark, sf, rounds = 1).collect())
    val five = jobsOf(SimSearch.graphAnnTopK(spark, sf, rounds = 5).collect())
    assert(five - one == 4, s"rounds=1: $one jobs, rounds=5: $five jobs")
  }

  test("a warm graph-ANN recall costs its hops plus a fixed few jobs") {
    SimSearch.graphAnnRecall(spark, sf).collect() // builds the session artifacts
    val jobs = jobsOf(SimSearch.graphAnnRecall(spark, sf).collect())
    // the search costs rounds + 2; the recall bound reads the exact and
    // approximate top-k once each, in one aggregate
    assert(jobs <= SimSearch.GraphAnnRounds + 5,
      s"$jobs jobs at ${SimSearch.GraphAnnRounds} rounds")
  }
}
