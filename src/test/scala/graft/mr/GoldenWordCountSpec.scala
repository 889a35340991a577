package graft.mr

import graft.SparkSpec
import scala.sys.process._

/** Port of the reference's end-to-end golden-output validation (SURVEY.md
  * §5.1/§5.2-2): word count over the 5-text validation corpus
  * (/root/reference/client/systems_project_output_validation/generate/texts)
  * must byte-match a golden regenerated at test time.
  *
  * The golden is produced by the reference's OWN unmodified scripts —
  * `cat texts | mapper.py | LC_ALL=C sort | reducer.py` — i.e. the exact
  * single-threaded pipeline of gen_word_count.py:46-55 (same tokenizer,
  * same bytewise sort, same groupby-sum), independent of any Spark code.
  * Regenerating (rather than diffing the checked-in correct_counts.txt)
  * sidesteps the corpus/golden mismatch documented in SURVEY §7 risks:
  * the snapshot is missing one of the 6 texts the checked-in golden used
  * (.MISSING_LARGE_BLOBS).
  *
  * Comparison is the validator's contract
  * (validate/validate_output.py:10-29): globally sorted lines, byte
  * equality.
  */
class GoldenWordCountSpec extends SparkSpec {
  private val Gen = "/root/reference/client/systems_project_output_validation/generate"
  private val Scripts = "/root/reference/client/scripts"

  test("DataFrame word count byte-matches the reference pipeline over the validation corpus") {
    // Write to a file and read back as UTF-8: sys.process `!!` decodes
    // stdout with the JVM default charset (POSIX here), mangling the
    // unicode apostrophes the tokenizer regex preserves.
    val out = java.io.File.createTempFile("golden_wc", ".txt")
    out.deleteOnExit()
    val rc = Seq("bash", "-c",
      s"""cat "$Gen/texts"/*.txt | python3 "$Scripts/mapper.py" | LC_ALL=C sort | python3 "$Scripts/reducer.py" > "${out.getPath}"""").!
    assert(rc === 0)
    val golden: Seq[String] = new String(
      java.nio.file.Files.readAllBytes(out.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq

    val texts = new java.io.File(s"$Gen/texts").listFiles().map(_.getPath).sorted
    val ours: Seq[String] = WordCount.onTextFiles(spark, texts.toSeq: _*)
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getLong(1)}")
      .sorted
      .toSeq

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
    val dir = java.nio.file.Files.createTempDirectory("graft_scripts")
    for (f <- Seq("mapper.py", "reducer.py"))
      java.nio.file.Files.writeString(dir.resolve(f), WordCount.shippedScript(f))
    spark.conf.set("spark.graft.mr.scriptsDir", dir.toString)
    try {
      val viaCopy = WordCount.mrScript(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val native = WordCount.mrNative(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaCopy.nonEmpty && viaCopy == native)
    } finally spark.conf.unset("spark.graft.mr.scriptsDir")
  }
}
