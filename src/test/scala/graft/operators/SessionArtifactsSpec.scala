package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{SessionArtifacts, Tables}
import graft.streaming.Streams

/** The session-artifact registry: an artifact is rebuilt when the files
  * of its data dir change, a failed build leaves nothing behind, two data
  * dirs never share an artifact, and [[SessionArtifacts.clear]] drops
  * every key and dir so the next query transparently rebuilds. */
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
}
