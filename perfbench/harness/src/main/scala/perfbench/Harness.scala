package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload in one fresh JVM and writes what it measured to
  * `<out>/result.json`; `run.py` turns that into the benchmark's metrics.
  *
  * Usage: Harness <workload> <input dir> <out dir> <scripts dir> <seconds> <trace 0|1>
  *
  * Sequence: session + inputs registered (prints `READY`), one cold pass,
  * then warm passes until `seconds` have passed, and at least
  * [[MinWarmPasses]]; every measured pass runs its outputs to the `noop`
  * sink. A last, unmeasured check pass runs the operations once more on
  * the state the warm passes left (session memos included) and writes each
  * output as parquet for the correctness checks. Closed loop: one
  * operation at a time, one client thread, `local[nproc]`.
  */
object Harness {
  val OpProp = "perfbench.op"
  /** Warm passes of every run, however short `seconds`; the warm-pass
    * figures are medians over them. */
  val MinWarmPasses = 2

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process and of the children it has waited for
    * (the MapReduce scripts). */
  def processCpuS: Double = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
      .split("\\) ")(1).split(" ")
    // fields 16 and 17 of /proc/self/stat: cutime, cstime (clock ticks)
    os.getProcessCpuTime / 1e9 + (f(13).toLong + f(14).toLong) / 100.0
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, scripts, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the program's own bench sizes the generated-class cache to hold a
      // suite's stages (graft.Bench); the default 100 entries recompiles them
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val ledger = new Ledger(traced)
    sc.addSparkListener(ledger)
    if (traced) {
      spark.listenerManager.register(ledger.queryListener)
      spark.streams.addListener(ledger.streamListener)
    }
    val ops = Workloads.ops(workload, spark, in, out, scripts)
    Files.createDirectories(Paths.get(out, "results"))
    writeJson(s"$out/oracle_sql.json", Workloads.oracle(ops))
    org.apache.spark.perfbench.Bus.drain(sc)
    println("READY")
    System.out.flush()

    val t0 = System.nanoTime()
    val epochMs0 = System.currentTimeMillis()
    def now: Double = (System.nanoTime() - t0) / 1e9
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opSpans = mutable.ArrayBuffer.empty[Seq[Any]]

    def runPass(pass: Int, kind: String): Unit = {
      val (start, cpu0, gc0, jit0, cg0) =
        (now, processCpuS, gcMs, jitMs, codegenNs)
      val rows = ops.map { op =>
        ledger.current = (pass, op.name)
        sc.setLocalProperty(OpProp, s"$pass:${op.name}")
        val a = now
        val df = op.plan()
        val b = now
        df.foreach(sink(_, kind, op))
        val c = now
        sc.setLocalProperty(OpProp, null)
        org.apache.spark.perfbench.Bus.drain(sc)
        ledger.closeOp()
        if (traced) opSpans += Seq(pass, op.name, op.module, a, b, c)
        Map("op" -> op.name, "module" -> op.module, "plan_s" -> (b - a),
          "exec_s" -> (c - b)) ++ ledger.tally((pass, op.name)).fields
      }
      val end = now
      passes += Map("pass" -> pass, "kind" -> kind, "start_s" -> start, "wall_s" -> (end - start),
        "cpu_s" -> (processCpuS - cpu0), "jvm_gc_s" -> (gcMs - gc0) / 1e3,
        "jit_ms" -> (jitMs - jit0).toDouble, "codegen_ms" -> (codegenNs - cg0) / 1e6,
        "ops" -> rows)
    }

    // a full-table scan is checked by its row count, which every pass's
    // listener records, so its rows are not written
    def sink(df: DataFrame, kind: String, op: Op): Unit =
      if (kind == "check" && op.scanOf.isEmpty)
        df.write.mode("overwrite").parquet(s"$out/results/${op.name}")
      else df.write.mode("overwrite").format("noop").save()

    runPass(0, "cold")
    val warmStart = now
    var pass = 1
    while (pass <= MinWarmPasses || now - warmStart < seconds) { runPass(pass, "warm"); pass += 1 }
    runPass(pass, "check")

    ledger.current = (-1, "functions")
    val functions = if (traced && workload == "dedup_search") Kernels.nsPerRow(spark, in) else Map.empty
    val scans = ops.flatMap(o => o.scanOf.map(o.name -> _)).toMap
    val result = Map(
      "workload" -> workload, "cpus" -> cpus, "passes" -> passes, "scans" -> scans,
      "functions" -> functions, "task_cpu_total_s" -> ledger.taskCpuTotalS,
      "peak_rss_mb" -> peakRssMb)
    writeJson(s"$out/result.json", result)
    if (traced) {
      val spans = Map(
        "ops" -> opSpans,
        "jobs" -> ledger.jobSpans.map(j => Seq(j._1, j._2, j._3, (j._4 - epochMs0) / 1e3, (j._5 - epochMs0) / 1e3)),
        "stages" -> ledger.stageSpans.map(s => Seq(s._1, s._2, s._3, (s._4 - epochMs0) / 1e3, (s._5 - epochMs0) / 1e3, s._6)),
        "batches" -> ledger.batchSpans.map(b => Seq(b._1, b._2, b._3, b._4, (b._5 - epochMs0) / 1e3, b._6 / 1e3)),
        "passes" -> passes.map(p => Seq(p("pass"), p("kind"), p("start_s"), p("wall_s"))))
      writeJson(s"$out/spans.json", spans)
    }
    try graft.core.SessionArtifacts.clear(spark) catch { case _: Throwable => () }
    spark.stop()
  }

  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
