package graft.mr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The reference's one shipped workload (SURVEY.md §2.1 O9): tokenize with
  * the exact mapper regex (/root/reference/client/scripts/mapper.py:13,
  * `[a-z](?:[a-z'‘’]*[a-z])?` over the lowercased line) and count per word.
  *
  * Spark-first shape: `regexp_extract_all` + `explode` + two-phase hash
  * aggregation. Versus the reference's combiner-less hash shuffle of one
  * `word\t1` line per token (cmd/azure/azure_util.go:234-246), Spark's
  * partial aggregation shrinks the shuffle from O(tokens) to
  * O(distinct words × partitions) — the difference between shuffling
  * ~100 TB and ~GBs at corpus scale.
  */
object WordCount {
  /** Tokenizer regex, byte-identical semantics to the reference mapper. */
  val TokenPattern = "[a-z](?:[a-z'‘’]*[a-z])?"

  def countTokens(lines: DataFrame, textCol: String): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .select(explode(regexp_extract_all(lower(col(textCol)), lit(TokenPattern), lit(0))).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Word count over the documents fixture (driver-visible query). */
  def onDocuments(s: SparkSession, d: String): DataFrame =
    countTokens(Tables.documents(s, d), "text")

  /** Word count over raw text files — the reference's actual input shape
    * (byte-range sharded text scan ≈ FileSourceScanExec splits). */
  def onTextFiles(s: SparkSession, paths: String*): DataFrame =
    countTokens(s.read.textFile(paths: _*).toDF("value"), "value")

  /** Word count through the generic MR substrate's NATIVE path (map →
    * partitionSort → sorted-stream reduce) — the second implementation of
    * the same query, putting MRJob itself inside the driver's DuckDB
    * correctness gate. */
  def mrNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String]
    val pat = TokenPattern // local: the closure must not capture this object
    MRJob.mapNative(lines)(l => pat.r.findAllIn(l.toLowerCase).map(w => (w, "1")))
      .partitionSort(8)
      .reduceNative((k, vs) => Iterator((k, vs.map(_.toLong).sum.toString)))
      .toDF("word", "cnt")
      .select($"word", $"cnt".cast("bigint").as("cnt"))
  }

  /** The shipped word-count script `name` (`mapper.py` or `reducer.py`,
    * classpath resources following the reference pair's tokenizer and
    * sorted-group sum, FIXTURES.md §A), as source text. */
  def shippedScript(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/mr/$name")
    require(in != null, s"no shipped script $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The pipe command of word-count script `name`: `python3 <dir>/<name>`
    * when `spark.graft.mr.scriptsDir` names a dir, else the shipped script
    * run as `python3 -c <text>` (no file, no dependence on the cwd). */
  private def scriptCommand(s: SparkSession, name: String): Seq[String] =
    s.conf.getOption("spark.graft.mr.scriptsDir") match {
      case Some(dir) => Seq("python3", s"$dir/$name")
      case None => Seq("python3", "-c", shippedScript(name))
    }

  /** Word count through the SCRIPT-pipe path: a mapper.py/reducer.py pair
    * piped as user scripts — byte-level UDF parity, hash-checked against
    * the same SQL oracle. The pair is the shipped one unless
    * `spark.graft.mr.scriptsDir` points at another. Mapper input is
    * coalesced (no shuffle) to M=8 shards to mirror the
    * reference's one-process-per-shard model: the pipe forks a Python
    * interpreter per partition, so fork startup must amortize over
    * shard-sized inputs, not over however many file splits the scan
    * produced — at 32 scan splits the query was paying ~40 interpreter
    * startups for milliseconds of actual mapping. */
  def mrScript(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String].coalesce(8)
    MRJob.mapScript(lines, scriptCommand(s, "mapper.py"))
      .partitionSort(8)
      .reduceScript(scriptCommand(s, "reducer.py"))
      .toDF("word", "cnt")
      .select($"word", $"cnt".cast("bigint").as("cnt"))
  }

  /** Word count through the MR substrate's COMBINER path (reduceByKey =
    * map-side partial merge before the shuffle) — the aggregation upgrade
    * the reference's combiner-less design cannot express (it shuffles one
    * `word\t1` line per token, azure_util.go:234-246); here the shuffle
    * carries one partial count per (word, partition). */
  def mrCombine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select("text").as[String]
    val pat = TokenPattern
    MRJob.mapNative(lines)(l => pat.r.findAllIn(l.toLowerCase).map(w => (w, "1")))
      .reduceByKey((a, b) => (a.toLong + b.toLong).toString)
      .toDF("word", "cnt")
      .select($"word", $"cnt".cast("bigint").as("cnt"))
  }

  private val CountSql = """
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z](?:[a-z''‘’]*[a-z])?')) AS w
        FROM documents
      ) t GROUP BY w"""

  val oracle: Map[String, String] = Map(
    "wordcount" -> CountSql,
    "mr_native_wordcount" -> CountSql,
    "mr_script_wordcount" -> CountSql,
    "mr_combine_wordcount" -> CountSql,
  )
}
