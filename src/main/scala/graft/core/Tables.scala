package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md /
  * FIXTURES.md §B). One parquet file per table under the scale-factor dir.
  *
  * Every loader reads through [[SessionArtifacts.read]]: the first call
  * for a table in a session resolves `spark.read.parquet` (a footer
  * schema-inference job) and later calls wrap the same resolved relation
  * in a fresh plan with fresh attribute ids, with no job. A rewritten
  * table file, a changed schema-inference conf or another session
  * resolves anew (the cache's key is described there).
  *
  * Every load sets `spark.sql.legacy.parquet.nanosAsLong` (see
  * [[events]]), so the inference confs of a session are the same from
  * its first table read on and no table is re-resolved when the first
  * events read would otherwise flip that conf mid-session.
  *
  * Scale notes: at 100 TB the same loader works unchanged — the resolved
  * relation plans a [[org.apache.spark.sql.execution.FileSourceScanExec]]
  * whose splits are sized by `spark.sql.files.maxPartitionBytes`, the Spark
  * analog of the reference's byte-range sharder
  * (/root/reference/cmd/master/mr_master.go:152-217). Column pruning and
  * predicate pushdown reach the scan automatically when callers stay in the
  * DataFrame algebra.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    SessionArtifacts.read(spark, s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts normalized to session-zone TimestampType whatever the
    * driver generated this round: `timestamp[ns]` (Spark's vectorized
    * reader rejects it — read nanos as long via the legacy conf [[load]]
    * sets, which must stay set while the frame runs, and floor-convert,
    * identical to DuckDB's `CAST(ts_ns AS TIMESTAMP)` truncation),
    * `timestamp[us]` with isAdjustedToUTC=false (inferred
    * TIMESTAMP_NTZ — cast, a value identity under the UTC session zone
    * both engines run in), or plain UTC `timestamp[us]` (passthrough).
    * Downstream operators always see one type, so oracle comparisons
    * agree across regenerations. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      // LongType can only arise from the nanosAsLong conf load sets on a
      // timestamp[ns] parquet, so the longs are known-nanoseconds.
      // NB: integral `div`, not `/` — Column./ is double division and ns
      // epochs exceed double's 2^53 mantissa, drifting the odd microsecond.
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType => raw
      // fail fast: a plain-int64 or other regenerated ts would otherwise be
      // silently mis-scaled and every events query would be quietly wrong
      case other => throw new IllegalStateException(
        s"events.ts has unexpected type $other; extend Tables.events for this fixture format")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Catalog-style row-count STATISTIC for a table: summed from parquet
    * file footers on the driver — O(#files) metadata reads, the number
    * ANALYZE TABLE would persist — NOT a Spark job over the data. For
    * consumers that need a cardinality to SIZE something (a bloom
    * filter, a sketch) without paying a dim-side count() job; it is the
    * unfiltered table cardinality, so filtered consumers get a safe
    * over-estimate (selectivity is the CBO's refinement, not ours). */
  def rowStat(s: SparkSession, dir: String, name: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(root))
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
