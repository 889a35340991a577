package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract gate the round-5 verdict demanded: three rounds in a row
  * ended with queries registered in [[SparkEntry.queries]] but missing
  * from SURVEY.md §2.4 and/or the BASELINE.md bench table, which left the
  * coverage map stale and the 2× regression bar unenforceable exactly
  * where the code was newest. Prose didn't fix the pattern; a failing
  * test is the only thing that has. This spec makes the drift structural:
  *
  *  - every registered query key must be cited (backtick-quoted) in
  *    SURVEY.md §2.4 — deleting a §2.4 row for a live query fails CI;
  *  - every registered query key must have a `| key | median | spread |`
  *    row in BASELINE.md so `tools/BenchDelta` can regression-gate it;
  *  - every registered query key must carry an oracle
  *    ([[SparkEntry.oracleSql]]) — the driver's correctness gate demands
  *    both halves.
  *
  * Grace for genuinely in-flight work: keys listed (comma-separated) in
  * the env var SPARK_GRAFT_NEW_QUERIES are exempt from the BASELINE row
  * requirement ONLY (a new operator can land before its uncontended
  * 3-run baseline is recorded) — never from §2.4 or the oracle. */
class ContractSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val registered: Set[String] = SparkEntry.queries.keySet

  test("every registered query is declared in SURVEY.md §2.4") {
    val survey = read("SURVEY.md")
    val start = survey.indexOf("### 2.4")
    assert(start >= 0, "SURVEY.md lost its §2.4 heading")
    val section = survey.substring(start,
      survey.indexOf("\n## ", start) match { case -1 => survey.length; case i => i })
    val missing = registered.filterNot(k => section.contains(s"`$k`"))
    assert(missing.isEmpty,
      s"queries registered in SparkEntry but undeclared in SURVEY §2.4: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has a BASELINE.md bench row") {
    val row = """(?m)^\|\s*([a-z0-9_]+)\s*\|\s*[0-9.]+\s*\|\s*[0-9.]+\s*\|""".r
    val baselined = row.findAllMatchIn(read("BASELINE.md")).map(_.group(1)).toSet
    val grace = sys.env.getOrElse("SPARK_GRAFT_NEW_QUERIES", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val missing = registered -- baselined -- grace
    assert(missing.isEmpty,
      s"queries with no BASELINE.md row (unenforceable 2x bar): ${missing.toSeq.sorted.mkString(", ")}" +
        "\nrecord them from an uncontended 3-run bench, or list in-flight keys in SPARK_GRAFT_NEW_QUERIES")
  }

  test("every registered query carries an oracle") {
    val missing = registered -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries with no oracleSql entry: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle belongs to a registered query (no orphaned oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- registered
    assert(orphans.isEmpty,
      s"oracleSql keys with no registered query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  /** The round-9/10 phantom-citation class, made structural: docstrings
    * kept claiming laws "pinned in XSpec" where no such spec existed
    * (r9: DistRankSpec, a PlanShapeSpec vocab pin; r10: the pca_top2
    * cos law; r11 audit: three stale names for laws that lived in
    * renamed specs). A citation the reader cannot follow is worse than
    * none. Allowlist: identifiers ending in "Spec" that are not test
    * suites — the engine's own MRSpec class, the reference's
    * MapReduceSpec Go struct, and Spark's internal
    * PartialReducerPartitionSpec. */
  test("every *Spec cited from src/main is an existing test suite (no phantom citations)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val notSuites = Set("MRSpec", "MapReduceSpec", "PartialReducerPartitionSpec")
    def walk(root: String) = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    val suites = walk("src/test").map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val cite = """[A-Za-z][A-Za-z0-9]*Spec""".r
    val phantom = (for {
      f <- walk("src/main")
      m <- cite.findAllIn(read(f.toString))
      if !suites.contains(m) && !notSuites.contains(m)
    } yield s"$m (${f.getFileName})").distinct
    assert(phantom.isEmpty,
      s"docstrings cite test suites that do not exist: ${phantom.sorted.mkString(", ")}" +
        "\nwrite the law, fix the name, or add a justified allowlist entry")
  }

  /** Session artifacts go through one registry: a hand-rolled memo (its
    * own `spark.graft.*` keys and `resetDir`) is how the stale-input and
    * colliding-key faults crept in. The one literal allowed outside the
    * registry is the user's word-count scripts setting. */
  test("only the session-artifact registry names spark.graft.* keys or calls resetDir") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val registry = Paths.get("src/main/scala/graft/core/SessionArtifacts.scala")
    val userSetting = "\"spark.graft.mr.scriptsDir\""
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != registry).toSeq
    val keys = sources.filter(f =>
      read(f.toString).replace(userSetting, "").contains("\"spark.graft."))
    assert(keys.isEmpty, s"spark.graft.* literals outside the registry: ${keys.mkString(", ")}")
    val resets = sources.filter(f => !f.startsWith("src/main/scala/graft/core") &&
      read(f.toString).contains("resetDir"))
    assert(resets.isEmpty, s"resetDir called outside core: ${resets.mkString(", ")}")
  }

  /** Streaming queries start in one place, `Streams.runQuery`, which pins
    * the state-partition count and the checkpoint manager for the start:
    * a query started anywhere else would silently run without them. */
  test("only Streams.runQuery starts a streaming query") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val streams = Paths.get("src/main/scala/graft/streaming/Streams.scala")
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    val elsewhere = sources.filter(f => f != streams && read(f.toString).contains("writeStream"))
    assert(elsewhere.isEmpty, s"writeStream outside Streams: ${elsewhere.mkString(", ")}")
    val text = read(streams.toString)
    val runner = text.indexOf("private def runQuery(")
    assert(runner >= 0, "Streams lost its runQuery")
    val runnerEnd = text.indexOf("\n  }\n", runner)
    val starts = """\.(start|toTable)\(""".r.findAllMatchIn(text).map(_.start).toSeq
    assert(starts.nonEmpty && starts.forall(i => i > runner && i < runnerEnd),
      s"a streaming query starts outside runQuery at offsets ${starts.filter(i => i < runner || i > runnerEnd)}")
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  /** Sessions come from one factory, `graft.core.Session.local`, so every
    * main runs the same engine settings. Two builders stay: `Sql.extSession`
    * (the extensions-injected twin on an existing context) and `ChaosCheck`
    * (its `local[4, 2]` task-retry master is the point of that check). */
  test("only Session.local, Sql.extSession and ChaosCheck build a SparkSession") {
    val allowed = Set("src/main/scala/graft/core/Session.scala",
      "src/main/scala/graft/operators/Sql.scala", "src/main/scala/graft/tools/ChaosCheck.scala")
    val builders = mainSources.filter(f => read(f.toString).contains("SparkSession.builder"))
    assert(builders.map(_.toString).toSet.subsetOf(allowed),
      s"SparkSession.builder outside the session factory: ${builders.mkString(", ")}")
    val sql = read("src/main/scala/graft/operators/Sql.scala")
    val ext = sql.indexOf("private def extSession(")
    assert(ext >= 0, "Sql lost its extSession")
    val extEnd = sql.indexOf("\n\n", ext)
    val at = "SparkSession\\.builder".r.findAllMatchIn(sql).map(_.start).toSeq
    assert(at.forall(i => i > ext && i < extEnd), s"Sql builds a session outside extSession at $at")
  }

  /** Every environment variable the program reads is named here, so a new
    * knob fails this test and is seen in review. */
  test("src/main reads only the allowlisted environment variables") {
    val allowlist = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_REPS", "SPARK_GRAFT_BUDGET_SEC", "SPARK_GRAFT_WARMUP",
      "SPARK_GRAFT_SQL_ONLY", "SPARK_GRAFT_ROCKSDB")
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\("([^"]+)"""".r
    val reads = for {
      f <- mainSources
      text = read(f.toString)
      site <- """sys\.env|getenv""".r.findAllMatchIn(text)
    } yield named.findPrefixMatchOf(text.substring(site.start)).map(_.group(1))
      .getOrElse(s"<unnamed read in ${f.getFileName}>")
    val unknown = reads.toSet -- allowlist
    assert(unknown.isEmpty, s"environment reads outside the allowlist: ${unknown.toSeq.sorted.mkString(", ")}")
  }
}
