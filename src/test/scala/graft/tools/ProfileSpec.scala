package graft.tools

import java.nio.file.Files

/** [[Profile.run]] on the shared session: its per-rep counts agree with an
  * independent job count, streaming keys report their microbatch phases,
  * `plans` writes the formatted plan, and an unknown key is an error. */
class ProfileSpec extends graft.SparkSpec {
  private def noop(key: String): Unit =
    graft.SparkEntry.queries(key)(spark, sf).write.mode("overwrite").format("noop").save()

  test("a warm rep's jobs equal the job ids the same noop write takes") {
    val recs = Profile.run(spark, sf, Seq("graph_wcc"), reps = 2, plans = None)
    assert(recs.map(_("rep")) == Seq(1, 2))
    val warm = recs(1)("jobs").asInstanceOf[Long]
    assert(warm > 1, "premise: the key runs more than one job")
    assert(warm == jobsOf(noop("graph_wcc")))
    assert(recs(1)("job_list").asInstanceOf[Seq[_]].size == warm)
    assert(recs(1)("tasks").asInstanceOf[Long] >= recs(1)("stages").asInstanceOf[Long])
  }

  test("a streaming key reports each microbatch's durationMs phases") {
    val rec = Profile.run(spark, sf, Seq("stream_dedup"), reps = 1, plans = None).head
    val batches = rec("batches").asInstanceOf[Seq[Map[String, Any]]]
    assert(batches.size >= 3, rec)
    assert(batches.forall(_("duration_ms").asInstanceOf[Map[String, Long]].contains("addBatch")))
  }

  test("plans writes the last rep's formatted plan") {
    val dir = Files.createTempDirectory("profile-plans")
    Profile.run(spark, sf, Seq("q1_agg"), reps = 1, plans = Some(dir.toString))
    val file = dir.resolve("q1_agg.txt")
    val plan = try Files.readString(file) finally { Files.deleteIfExists(file); Files.delete(dir) }
    assert(plan.contains("Physical Plan"), plan)
  }

  test("an unknown key yields an err record") {
    val recs = Profile.run(spark, sf, Seq("no_such_key"), reps = 2, plans = None)
    assert(recs == Seq(Map("key" -> "no_such_key", "err" -> "unknown query")))
  }
}
