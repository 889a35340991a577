package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.mr.{ByteShards, MRJob, MRSpec, WordCount}

/** One operation of a workload. `plan` calls the module's public function
  * (any eager work it does is part of it); what it returns, if anything,
  * is then run to a sink. `scanOf` names the table an operation reads in
  * full, so its input rows can be checked against the parquet footers. */
final case class Op(name: String, module: String, plan: () => Option[DataFrame],
    scanOf: Option[String] = None)

object Workloads {
  /** Map tasks and reduce tasks of the MapReduce jobs. */
  val M = 8
  val R = 4

  /** Six of the 22 TPC-H shapes of operators.Sql: the big aggregation,
    * the 3- and 6-way joins, the outer-join count, the IN subquery and the
    * EXISTS / NOT EXISTS pair. */
  private val sqlKeys = Seq(
    "sql_q1_pricing", "sql_q3_shipping", "sql_q5_local", "sql_q13_count_grouping",
    "sql_q18_large_orders", "sql_q21_waiting")

  private val dedupKeys = Seq(
    "dedup_exact" -> "operators.Dedup",
    "dedup_minhash" -> "operators.Dedup",
    "dedup_minhash_clusters" -> "operators.Dedup",
    "dedup_clusters_incremental" -> "operators.Dedup",
    "simsearch_graph_ann" -> "operators.SimSearch",
    "text_winnow" -> "operators.TextAnalysis",
    "curate_pipeline" -> "operators.Curation")

  private def entry(spark: SparkSession, in: String, key: String, module: String): Op =
    Op(key, module, () => Some(SparkEntry.queries(key)(spark, in)))

  private def scan(spark: SparkSession, in: String, table: String): Op =
    Op(s"scan_$table", "scan", () => Some(spark.read.parquet(s"$in/$table.parquet")),
      scanOf = Some(table))

  /** The fixed operation list of `workload`, in run order. `out` receives
    * the MapReduce job's output files; `scripts` holds mapper.py and
    * reducer.py. */
  def ops(workload: String, spark: SparkSession, in: String, out: String,
      scripts: String): Seq[Op] = workload match {
    case "wordcount_mr" =>
      val corpus = new java.io.File(s"$in/corpus").listFiles()
        .filter(_.isFile).map(_.getPath).sorted.toSeq
      val pat = WordCount.TokenPattern
      def tokens(l: String) = pat.r.findAllIn(l.toLowerCase).map(w => (w, "1"))
      def counted(k: MRJob.Keyed): DataFrame = {
        import spark.implicits._
        k.toDF("word", "cnt").select($"word", $"cnt".cast("bigint").as("cnt"))
      }
      spark.conf.set("spark.graft.mr.scriptsDir", scripts)
      Seq(
        Op("mr_spec", "mr", () => {
          MRSpec.run(spark, MRSpec("bench", 0, s"$in/corpus", s"$out/mr_spec", M, R,
            s"$scripts/mapper.py", s"$scripts/reducer.py"))
          None
        }),
        Op("mr_native", "mr", () => Some(counted(
          MRJob.mapNative(ByteShards.lines(spark, corpus, M))(tokens)
            .partitionSort(R)
            .reduceNative((k, vs) => Iterator((k, vs.map(_.toLong).sum.toString)))))),
        Op("mr_combine", "mr", () => Some(counted(
          MRJob.mapNative(ByteShards.lines(spark, corpus, M))(tokens)
            .reduceByKey((a, b) => (a.toLong + b.toLong).toString)))),
        Op("wc_text", "mr", () => Some(WordCount.onTextFiles(spark, corpus: _*))))
    case "tpch_sql" =>
      scan(spark, in, "lineitem") +: sqlKeys.map(entry(spark, in, _, "operators.Sql"))
    case "dedup_search" =>
      Seq(scan(spark, in, "documents"), scan(spark, in, "embeddings")) ++
        dedupKeys.map { case (k, m) => entry(spark, in, k, m) } :+
        entry(spark, in, "stream_dedup", "streaming.Streams")
  }

  /** Oracle SQL of the operations that have one in the program's contract. */
  def oracle(ops: Seq[Op]): Map[String, String] =
    ops.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap
}
