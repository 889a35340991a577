package graft.mr

import graft.SparkSpec

/** MR-core parity tests (SURVEY.md §5.2): native vs external-script paths
  * produce identical merged results, results are partition-count
  * invariant (the property the reference's FNV-vs-Murmur3 difference makes
  * essential), and the shipped mapper/reducer scripts run unmodified
  * through the pipe path, over a seeded [[TestCorpus]] file. */
class MRJobSpec extends SparkSpec {
  private lazy val RefText = TestCorpus.write(seed = 17, files = 1, bytes = 100000).head

  private def nativeWordCount(r: Int): Map[String, Long] = {
    val pattern = WordCount.TokenPattern // local: closure must not capture the suite
    val lines = MRJob.text(spark, RefText)
    MRJob.mapNative(lines)(l => pattern.r.findAllIn(l.toLowerCase).map(w => (w, "1")))
      .partitionSort(r)
      .reduceNative((k, vs) => Iterator((k, vs.map(_.toLong).sum.toString)))
      .rdd.collect().map { case (k, v) => k -> v.toLong }.toMap
  }

  lazy val native5: Map[String, Long] = nativeWordCount(5)

  test("shipped mapper.py + reducer.py run unmodified through the pipe path") {
    val lines = MRJob.text(spark, RefText)
    val scripted = MRJob
      .mapScript(lines, Seq("python3", s"${TestCorpus.scripts}/mapper.py"))
      .partitionSort(5)
      .reduceScript(Seq("python3", s"${TestCorpus.scripts}/reducer.py"))
      .rdd.collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(scripted.nonEmpty)
    assert(scripted == native5)
  }

  test("merged result is partition-count invariant (R=3 vs R=7)") {
    assert(nativeWordCount(3) == nativeWordCount(7))
  }

  test("reduceNative sees consecutive-equal-key groups (sorted-stream contract)") {
    import spark.implicits._
    val kv = spark.createDataset(Seq("b\t1", "a\t2", "a\t3", "c\t4", "a\t5"))
    val out = MRJob.mapScript(kv, Seq("cat"))
      .partitionSort(2)
      .reduceNative((k, vs) => Iterator((k, vs.mkString("+"))))
      .rdd.collect().toMap
    assert(out == Map("a" -> "2+3+5", "b" -> "1", "c" -> "4"))
  }

  test("DataFrame word count matches MR-path word count (two implementations)") {
    val df = WordCount.onTextFiles(spark, RefText)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == native5)
  }

  test("saveText writes sorted tab-KV part files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mr_out").toString
    import spark.implicits._
    val kv = spark.createDataset(Seq("z\t1", "a\t1", "m\t1"))
    MRJob.mapScript(kv, Seq("cat")).partitionSort(1).saveText(dir)
    val lines = spark.read.textFile(dir).collect()
    assert(lines.sorted.sameElements(lines)) // single partition: sorted within file
    assert(lines.toSet == Set("a\t1", "m\t1", "z\t1"))
  }
}
