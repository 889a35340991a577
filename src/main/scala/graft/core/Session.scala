package graft.core

import org.apache.spark.sql.SparkSession

/** The one local session factory: `graft.Bench`, `graft.Verify`,
  * `graft.tools.Profile` and the test tier all build their session here,
  * so they run the same engine settings and differ only in core count.
  * Memory settings are not set here: pass Spark's own `spark.*` system
  * properties, which `SparkConf` loads (for example
  * `JAVA_TOOL_OPTIONS=-Dspark.memory.fraction=0.05` for a spill press);
  * the heap is the launcher's `-Xmx`. */
object Session {
  /** Whole-stage-codegen class cache entries (a static conf, so it must be
    * set before the session exists). Spark's default of 100 thrashes
    * under a suite of 325 keys with several codegen stages each, so every
    * pass recompiled every stage; 4096 holds a suite's classes across
    * passes (round 15, A/B on a 33-key subset: a pass ~10% faster). Any
    * long-lived session serving a repeated query mix sizes this cache to
    * its workload; perfbench's harness uses the same value. */
  private val CodegenCacheEntries = 4096

  /** `SPARK_GRAFT_CPUS` if set, otherwise the host's available processors. */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, AQE on (it is
    * what re-plans skewed and small partitions at cluster scale, so a
    * measurement with it off would time a plan we would never run), UTC
    * session time zone, no UI, the suite-sized codegen cache and log level
    * ERROR. ERROR, not WARN: over 325 keys the benign WARN floods
    * (streaming ResolveWriteToStream and MicroBatchExecution per query,
    * DAGScheduler cancel-group, WindowExec without a partition) fill a
    * run's stdout tail and push the contract lines out of it. */
  def local(cpus: Int = hostCpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
