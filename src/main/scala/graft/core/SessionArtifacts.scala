package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The registry of session artifacts: parquet dirs, bucketed tables and
  * temp views that an operator derives from a data dir once and reuses
  * across queries (LSH band tables, prefix indexes, exact top-k ground
  * truth, staged stream slices, day-partitioned copies, …).
  *
  * One key layout. An artifact `name` lives under two conf keys:
  * `spark.graft.<name>.dir` holds its dir, a `graft_<name>*` temp dir,
  * and `spark.graft.<name>.src` holds what it was built from. Scratch
  * dirs ([[scratch]]) use the `.dir` key alone.
  *
  * Fingerprinted inputs. The `.src` value is the data dir, the
  * parameters the artifact depends on, and a digest of (path, length,
  * mtime) of every file under the data dir. Rewriting any input file
  * changes the digest, so the next [[materialize]] rebuilds instead of
  * serving the old artifact; no [[clear]] is needed.
  *
  * Failed builds leave nothing. An artifact is registered only after its
  * build returns; a build that throws has its dir deleted, and the
  * previous registration (if any) is left as it was.
  *
  * Resolved relations. [[read]] is the one parquet read of a fixture
  * table or an artifact dir. Resolving `spark.read.parquet` is itself a
  * Spark job (footer schema inference), plus a listing job for a dir of
  * more than 32 subdirs; [[read]] keeps the resolved relation (schema
  * and file listing) per path and serves later reads from it with no
  * job. Its key is the path's (path, length, mtime) fingerprint and the
  * session's parquet schema-inference confs, so a rewritten file or a
  * flipped conf re-resolves; a relation is served only to the session
  * that resolved it.
  *
  * [[clear]] drops every artifact and held relation at once, for a
  * long-lived session that moves between many corpora; user settings
  * under `spark.graft.*` stay.
  */
object SessionArtifacts {
  /** Conf-key namespace all graft artifacts register under. */
  val Prefix = "spark.graft."

  /** Artifact temp dirs are created with this name prefix under the JVM
    * temp dir — the sweep refuses to delete anything else. */
  private val DirPrefix = "graft_"

  /** The artifact dir of `name` for `dataDir`, building it on a miss.
    * The entry is reused while the data dir's files, the data dir itself
    * and every one of `params` are unchanged; otherwise `build` writes a
    * fresh `graft_<name>*` dir, which replaces (and deletes) the previous
    * one once `build` returns. Sites with several outputs write them to
    * subdirs of the one dir. */
  def materialize(s: SparkSession, name: String, dataDir: String, params: Any*)(
      build: String => Unit): String = {
    val srcKey = s"$Prefix$name.src"
    val dirKey = s"$Prefix$name.dir"
    val src = (dataDir +: params.map(_.toString) :+ fingerprint(s, dataDir)).mkString("#")
    s.conf.getOption(dirKey).filter(_ => s.conf.getOption(srcKey).contains(src))
      .getOrElse {
        val dir = newDir(name)
        try build(dir)
        catch { case e: Throwable => deleteIfArtifactDir(dir); throw e }
        resetDir(s, dirKey, dir)
        s.conf.set(srcKey, src)
        dir
      }
  }

  /** [[materialize]] of one frame written as parquet, read back. */
  def parquet(s: SparkSession, name: String, dataDir: String, params: Any*)(
      frame: => DataFrame): DataFrame =
    read(s, materialize(s, name, dataDir, params: _*)(
      frame.write.mode("overwrite").parquet(_)))

  /** Confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** path → (key, relation resolved under that key); one entry per path. */
  private val relations = new ConcurrentHashMap[String, (String, HadoopFsRelation)]()

  /** Contexts whose end already evicts their relations (weak keys, and
    * the values do not point back at them). */
  private val evicting = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** `s.read.parquet(path)`, resolved once per fingerprint: a hit wraps
    * the held relation in a fresh `LogicalRelation` (fresh attribute ids,
    * so a self-join of two reads stays unambiguous) and runs no job. */
  def read(s: SparkSession, path: String): DataFrame = {
    val key = (fingerprint(s, path) +: InferenceConfs.map(s.conf.getOption(_).orNull))
      .mkString("#")
    Option(relations.get(path)).collect {
      case (k, rel) if k == key && (rel.sparkSession eq s) => s.baseRelationToDataFrame(rel)
    }.getOrElse {
      val df = s.read.parquet(path)
      df.queryExecution.analyzed match {
        case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
          evictOnStop(s.sparkContext)
          relations.put(path, (key, rel))
        case _ => ()
      }
      df
    }
  }

  /** A held relation keeps its session reachable, so the entries of a
    * context go when it stops. */
  private def evictOnStop(sc: SparkContext): Unit = evicting.synchronized {
    if (!evicting.containsKey(sc)) {
      evicting.put(sc, true)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          relations.values.removeIf(_._2.sparkSession.sparkContext eq sc)
      })
    }
  }

  /** Drop the held relations of `dir` and every path under it. */
  private def forgetRelations(dir: String): Unit =
    relations.keySet.removeIf(p => p == dir || p.startsWith(dir + "/"))

  /** A fresh, empty `graft_<name>*` dir for one call's output; it
    * replaces (and deletes) the dir the previous call of `name` made, so
    * a call site holds at most one live copy and [[clear]] sweeps the
    * last. */
  def scratch(s: SparkSession, name: String): String = {
    val dir = newDir(name)
    resetDir(s, s"$Prefix$name.dir", dir)
    dir
  }

  /** Digest of (path, length, mtime) of every file under `dataDir`, from
    * one driver-side recursive listing (no Spark job). `listStatus`, not
    * `listFiles`: the latter builds a LocatedFileStatus per file, whose
    * permission copy forks an `ls` per file on the local file system
    * (~40 ms per 12-file dir, against ~0.3 ms). */
  private def fingerprint(s: SparkSession, dataDir: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(dataDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return "absent"
    def walk(f: FileStatus): Seq[FileStatus] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(walk) else Seq(f)
    val files = walk(fs.getFileStatus(root))
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update((f + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def newDir(name: String): String =
    java.nio.file.Files.createTempDirectory(DirPrefix + name).toString

  /** Drop every session-scoped artifact:
    *  1. unpersist all cached frames (catalog-wide — the library's
    *     persists are all CacheManager entries);
    *  2. drop the bucketed catalog tables and `graft_*` temp views;
    *  3. delete the artifact dirs referenced from the registry's
    *     `spark.graft.*.dir` values (only paths under java.io.tmpdir
    *     named `graft_*`);
    *  4. unset the registry's `.src`/`.dir` keys so the next call
    *     rebuilds; user settings such as `spark.graft.mr.scriptsDir`
    *     are kept;
    *  5. empty the resolved-relation cache.
    */
  def clear(s: SparkSession): Unit = {
    s.catalog.clearCache()
    Seq("graft_li_bkt", "graft_ord_bkt")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Tables.names.foreach(n => s.catalog.dropTempView(s"graft_$n"))
    val registryKeys = s.conf.getAll.keys
      .filter(k => k.startsWith(Prefix) && (k.endsWith(".src") || k.endsWith(".dir"))).toSeq
    registryKeys.foreach { k =>
      if (k.endsWith(".dir")) s.conf.getOption(k).foreach(deleteIfArtifactDir)
      s.conf.unset(k)
    }
    relations.clear()
  }

  /** Replace an artifact-dir conf value, deleting the dir the old value
    * pointed at first: a rebuild must not orphan the previous dir beyond
    * [[clear]]'s reach (clear only sweeps dirs referenced from CURRENT
    * conf values). */
  private def resetDir(s: SparkSession, dirKey: String, newDir: String): Unit = {
    s.conf.getOption(dirKey).foreach(deleteIfArtifactDir)
    s.conf.set(dirKey, newDir)
  }

  /** Best-effort recursive delete, gated to `graft_*` dirs under the JVM
    * temp dir so a mis-set conf value can never point the sweep at data. */
  private[graft] def deleteIfArtifactDir(v: String): Unit = {
    import java.nio.file.{Files, Paths, Path}
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val p = try Paths.get(v).toAbsolutePath catch { case _: Exception => return }
    if (!p.startsWith(tmpRoot) || p == tmpRoot) return
    if (!p.getFileName.toString.startsWith(DirPrefix)) return
    if (!Files.isDirectory(p)) return
    forgetRelations(p.toString)
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case _: Exception => () } // best-effort: leaks die with tmpdir
  }
}
