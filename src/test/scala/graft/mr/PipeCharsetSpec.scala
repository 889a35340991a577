package graft.mr

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** The script stages must hand lines to user scripts as UTF-8 whatever
  * the JVM's default charset is: under an ASCII default (a POSIX locale
  * with no LANG) an unencoded `pipe` turns every curly apostrophe into
  * `?`, so words split and counts change. Each case runs
  * [[PipeCharsetMain]] in its own JVM, because the default charset is
  * fixed at JVM start. */
class PipeCharsetSpec extends AnyFunSuite {
  private def run(encoding: String): (String, Map[String, Long]) = {
    val java = s"${sys.props("java.home")}/bin/java"
    val opens = Seq("java.lang", "java.lang.invoke", "java.io", "java.net",
      "java.nio", "java.util", "java.util.concurrent", "sun.nio.ch",
      "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val out = new StringBuilder
    val rc = Process(Seq(java, s"-Dfile.encoding=$encoding", "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.mr.PipeCharsetMain"))
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(rc === 0, out.toString)
    val lines = out.toString.linesIterator.toSeq
    val charset = lines.collectFirst { case l if l.startsWith("CHARSET ") => l.drop(8) }
    val counts = lines.collect { case l if l.startsWith("COUNT ") =>
      val Array(w, n) = l.drop(6).split(' ')
      PipeCharsetMain.unescape(w) -> n.toLong
    }.toMap
    (charset.getOrElse(""), counts)
  }

  test("script map and reduce count the same words under an ASCII default charset as under UTF-8") {
    val (asciiCharset, ascii) = run("ANSI_X3.4-1968")
    val (utf8Charset, utf8) = run("UTF-8")
    // the premise: the forked JVMs really run under the two defaults
    assert(asciiCharset == "US-ASCII" && utf8Charset == "UTF-8")
    assert(utf8 == PipeCharsetMain.expected)
    assert(ascii == utf8, s"ASCII-default counts differ: ${ascii.toSeq.sorted}")
  }
}

/** A word count through [[MRJob.mapScript]] and [[MRJob.Keyed.reduceScript]]
  * with byte-level Python scripts (whitespace split, sum of equal-key
  * runs), over lines with curly apostrophes and accents. Prints the
  * default charset and every (word, count) with non-ASCII characters
  * escaped, so its own stdout encoding cannot change what it reports. */
object PipeCharsetMain {
  val Lines: Seq[String] = Seq(
    "don’t stop ‘quoted’ words",
    "naïve café don’t",
    "don't stop café")

  def expected: Map[String, Long] =
    Lines.flatMap(_.split(' ')).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private val Mapper =
    "import sys\nfor l in sys.stdin.buffer:\n  for w in l.split():\n    sys.stdout.buffer.write(w + b'\\t1\\n')"
  private val Reducer =
    "import sys\nprev, n = None, 0\nfor l in sys.stdin.buffer:\n  k, v = l.rstrip(b'\\n').split(b'\\t', 1)\n" +
      "  if k != prev and prev is not None: sys.stdout.buffer.write(prev + b'\\t' + str(n).encode() + b'\\n'); n = 0\n" +
      "  prev, n = k, n + int(v)\n" +
      "if prev is not None: sys.stdout.buffer.write(prev + b'\\t' + str(n).encode() + b'\\n')"

  def escape(w: String): String =
    w.flatMap(c => if (c < 128 && c != '\\') c.toString else f"\\u${c.toInt}%04x")
  def unescape(w: String): String =
    "\\\\u([0-9a-f]{4})".r.replaceAllIn(w, m =>
      scala.util.matching.Regex.quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val counts = MRJob.mapScript(spark.createDataset(Lines), Seq("python3", "-c", Mapper))
      .partitionSort(3)
      .reduceScript(Seq("python3", "-c", Reducer))
      .rdd.collect()
    println(s"CHARSET ${java.nio.charset.Charset.defaultCharset().name}")
    counts.foreach { case (w, n) => println(s"COUNT ${escape(w)} $n") }
    spark.stop()
  }
}
