package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.SparkSpec
import graft.core.{SessionArtifacts, Tables}
import graft.streaming.Streams

/** The session-artifact registry: an artifact is rebuilt when the files
  * of its data dir change, a failed build leaves nothing behind, two data
  * dirs never share an artifact, [[SessionArtifacts.clear]] drops every
  * registry key and dir so the next query transparently rebuilds, and
  * [[SessionArtifacts.read]] resolves a relation once per fingerprint,
  * conf set and session. */
class SessionArtifactsSpec extends SparkSpec {
  private def copyDir(from: String, to: Path): Unit =
    Files.list(Paths.get(from)).iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName)))

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  private def tmpEntries(prefix: String): Seq[String] =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(prefix)).toSeq

  test("an artifact is rebuilt when a file of its data dir is rewritten, without clear") {
    val d = Files.createTempDirectory("stale_input")
    try {
      copyDir(sf, d)
      val before = Dedup.minhashLshShared(spark, d.toString).count()
      // rewrite documents.parquet with one document duplicated under a new id
      val docs = Tables.documents(spark, d.toString)
      val rows = docs.collect().toSeq
      val dup = docs.where(col("doc_id") === rows.map(_.getLong(0)).min)
        .withColumn("doc_id", lit(rows.map(_.getLong(0)).max + 1))
      val rewritten = spark.createDataFrame(rows.asJava, docs.schema).union(dup).collect()
      Files.delete(d.resolve("documents.parquet"))
      spark.createDataFrame(rewritten.toSeq.asJava, docs.schema)
        .coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
      val expected = Dedup.minhashLsh(spark, d.toString).count()
      assert(expected > before, "the duplicate must add at least one pair")
      assert(Dedup.minhashLshShared(spark, d.toString).count() == expected)
    } finally deleteTree(d)
  }

  test("a build that throws leaves no dir and no key, and the next call builds") {
    val name = "failing_build_probe"
    var builds = 0
    val e = intercept[IllegalStateException] {
      SessionArtifacts.materialize(spark, name, sf) { dir =>
        builds += 1
        Files.writeString(Paths.get(dir, "half"), "written before the failure")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(tmpEntries(s"graft_$name").isEmpty, "the half-built dir must be deleted")
    assert(!spark.conf.getAll.keys.exists(_.startsWith(s"${SessionArtifacts.Prefix}$name.")))
    val dir = SessionArtifacts.materialize(spark, name, sf) { dir =>
      builds += 1
      Files.writeString(Paths.get(dir, "ok"), "built")
    }
    assert(builds == 2 && Files.exists(Paths.get(dir, "ok")))
    assert(SessionArtifacts.materialize(spark, name, sf)(_ => builds += 1) == dir)
    assert(builds == 2, "an unchanged data dir is served from the artifact")
  }

  test("two data dirs whose paths share a hashCode get their own staged stream slices") {
    val root = Files.createTempDirectory("stage_collide")
    val (a, b) = (root.resolve("Aa"), root.resolve("BB"))
    assert(a.toString.hashCode == b.toString.hashCode, "premise: the paths collide")
    try {
      Files.createDirectories(a)
      Files.copy(Paths.get(sf, "events.parquet"), a.resolve("events.parquet"))
      val evens = Tables.events(spark, sf).where(col("event_id") % 2 === 0)
      evens.write.parquet(b.resolve("events.parquet").toString)
      val staged = Seq(a, b).map(p => spark.read.parquet(
        Streams.stagedEventsDir(spark, p.toString)).count())
      assert(staged == Seq(Tables.events(spark, sf).count(), evens.count()))
    } finally deleteTree(root)
  }

  test("clear drops memo keys + artifact dirs; queries rebuild after") {
    // build two memoized artifacts (parquet pairs artifact + temp views)
    val before = Dedup.minhashLshShared(spark, sf).count()
    Sql.registerViews(spark, sf)
    val dirOpt = spark.conf.getOption("spark.graft.minhashpairs.dir")
    assert(dirOpt.isDefined)
    assert(spark.conf.getAll.keys.exists(_.startsWith(SessionArtifacts.Prefix)))

    SessionArtifacts.clear(spark)

    assert(!spark.conf.getAll.keys.exists(_.startsWith(SessionArtifacts.Prefix)),
      "graft conf keys must be unset after clear")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirOpt.get)),
      "materialized pairs artifact must be deleted")
    // rebuild works and is equivalent
    assert(Dedup.minhashLshShared(spark, sf).count() == before)
  }

  test("clear never deletes non-artifact paths referenced from conf") {
    val probe = java.nio.file.Files.createTempDirectory("not_graft_probe")
    spark.conf.set("spark.graft.test.dir", probe.toString)
    SessionArtifacts.clear(spark)
    assert(java.nio.file.Files.exists(probe), "non-graft_ dir must survive")
    java.nio.file.Files.delete(probe)
  }

  test("clear drops the registry's keys and keeps the scriptsDir user setting") {
    val scripts = "spark.graft.mr.scriptsDir"
    spark.conf.set(scripts, "scripts/wordcount")
    try {
      val dir = SessionArtifacts.materialize(spark, "clear_probe", sf)(_ => ())
      val keys = Seq("src", "dir").map(k => s"${SessionArtifacts.Prefix}clear_probe.$k")
      assert(keys.forall(spark.conf.getOption(_).isDefined))
      SessionArtifacts.clear(spark)
      assert(keys.forall(spark.conf.getOption(_).isEmpty), "the artifact's keys must be unset")
      assert(!Files.exists(Paths.get(dir)), "the artifact's dir must be deleted")
      assert(spark.conf.getOption(scripts).contains("scripts/wordcount"),
        "a user setting under spark.graft.* must survive clear")
    } finally spark.conf.unset(scripts)
  }

  test("a warm read of a table or an artifact dir runs no Spark job") {
    Tables.documents(spark, sf)
    SimSearch.graphAnnIndexShared(spark, sf)
    val warm = (jobsOf(Tables.documents(spark, sf)),
      jobsOf(SimSearch.graphAnnIndexShared(spark, sf)))
    assert(warm == ((0, 0)), "(documents, graph-ANN index) jobs")
  }

  test("a rewritten table file is re-resolved without clear") {
    val d = Files.createTempDirectory("relation_rewrite")
    try {
      copyDir(sf, d)
      val docs = Tables.documents(spark, d.toString)
      val rows = docs.collect().toSeq
      assert(Tables.documents(spark, d.toString).count() == rows.size)
      val extra = docs.where(col("doc_id") === rows.map(_.getLong(0)).min)
        .withColumn("doc_id", lit(rows.map(_.getLong(0)).max + 1)).collect()
      Files.delete(d.resolve("documents.parquet"))
      spark.createDataFrame((rows ++ extra).asJava, docs.schema)
        .coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
      assert(Tables.documents(spark, d.toString).count() == rows.size + 1)
    } finally deleteTree(d)
  }

  test("two reads of one table self-join unambiguously") {
    import spark.implicits._
    val ids = Tables.documents(spark, sf).select("doc_id").as[Long].collect()
    val pairs = ids.length.toLong * (ids.length - 1) / 2
    assert(ids.distinct.length == ids.length, "premise: doc_id is a key")
    val joined = Tables.documents(spark, sf).as("x")
      .join(Tables.documents(spark, sf).as("y"), $"x.doc_id" < $"y.doc_id")
    assert(joined.count() == pairs)
  }

  test("a relation is served only to the session that resolved it") {
    val other = spark.newSession()
    def sessionOf(df: DataFrame): SparkSession = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].sparkSession
    }.get
    val n = Tables.documents(spark, sf).count()
    Seq(spark, other, spark, other).foreach { s =>
      val docs = Tables.documents(s, sf)
      assert((docs.sparkSession eq s) && (sessionOf(docs) eq s))
      assert(docs.count() == n)
    }
  }

  test("a schema-inference conf is part of the relation's key") {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val path = s"$sf/events.parquet"
    val prev = spark.conf.get(ntz)
    def tsType = SessionArtifacts.read(spark, path).schema("ts").dataType
    try {
      spark.conf.set(ntz, "true")
      assert(tsType == TimestampNTZType, "premise: ts is a timestamp without zone")
      spark.conf.set(ntz, "false")
      assert(tsType == TimestampType)
    } finally spark.conf.set(ntz, prev)
  }
}
