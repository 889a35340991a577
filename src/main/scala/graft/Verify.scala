package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 — dump (and list oracle SQL for) a subset;
    // unset for the driver's full run. oracle_sql.json is filtered to the
    // same subset so tools/check_oracle.py checks exactly what was dumped.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_SQL_ONLY=1 — dump oracle_sql.json without executing any
    // query (for static oracle linting, e.g. the HUGEINT scan in
    // tools/check_oracle.py).
    val sqlOnly = sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")
    SparkEntry.queries
      .filter { case _ if sqlOnly => false
                case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sweep session-scoped artifact dirs/caches before exit: the
    // in-session memo bounding caps live copies at one per call-site,
    // and this drops that last copy so a finished run leaves no temp
    // residue behind (best-effort — a kill-9 leaves the final set)
    try graft.core.SessionArtifacts.clear(spark)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
