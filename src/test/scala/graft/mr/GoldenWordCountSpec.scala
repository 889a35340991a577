package graft.mr

import graft.SparkSpec
import scala.sys.process._

/** Port of the reference's end-to-end golden-output validation (SURVEY.md
  * §5.1/§5.2-2): word count over a 5-text corpus (a seeded
  * [[TestCorpus]]) must byte-match a golden regenerated at test time.
  *
  * The golden is produced by the shipped, unmodified scripts —
  * `cat texts | mapper.py | LC_ALL=C sort | reducer.py` — i.e. the exact
  * single-threaded pipeline of the reference's gen_word_count.py:46-55
  * (same tokenizer, same bytewise sort, same groupby-sum), independent of
  * any Spark code.
  *
  * Comparison is the validator's contract
  * (validate/validate_output.py:10-29): globally sorted lines, byte
  * equality.
  */
class GoldenWordCountSpec extends SparkSpec {
  test("DataFrame word count byte-matches the script pipeline over a seeded corpus") {
    val texts = TestCorpus.write(seed = 29, files = 5, bytes = 40000)
    val corpus = java.nio.file.Paths.get(texts.head).getParent
    val scripts = TestCorpus.scripts
    // Write to a file and read back as UTF-8: sys.process `!!` decodes
    // stdout with the JVM default charset (POSIX here), mangling the
    // unicode apostrophes the tokenizer regex preserves.
    val out = java.io.File.createTempFile("golden_wc", ".txt")
    out.deleteOnExit()
    val rc = Seq("bash", "-c",
      s"""cat "$corpus"/*.txt | python3 "$scripts/mapper.py" | LC_ALL=C sort | python3 "$scripts/reducer.py" > "${out.getPath}"""").!
    assert(rc === 0)
    val golden: Seq[String] = new String(
      java.nio.file.Files.readAllBytes(out.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq

    val ours: Seq[String] = WordCount.onTextFiles(spark, texts.toSeq: _*)
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
      .sorted
      .toSeq

    assert(golden.exists(_.contains("’")), "premise: curly-apostrophe words are counted")
    assert(ours.size === golden.size)
    ours.zip(golden).zipWithIndex.foreach { case ((o, g), i) =>
      assert(o === g, s"line $i differs")
    }
  }

  test("script path honors spark.graft.mr.scriptsDir pointed at a copied dir") {
    // The scripts dir must be a real deployment knob, not a baked-in
    // path: copy the shipped mapper.py/reducer.py elsewhere, point the
    // conf at the copy, and the script-pipe query must match the native
    // path.
    spark.conf.set("spark.graft.mr.scriptsDir", TestCorpus.scripts)
    try {
      val viaCopy = WordCount.mrScript(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val native = WordCount.mrNative(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaCopy.nonEmpty && viaCopy == native)
    } finally spark.conf.unset("spark.graft.mr.scriptsDir")
  }
}
