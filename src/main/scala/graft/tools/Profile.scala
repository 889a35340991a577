package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.core.{Session, SessionArtifacts}

/** The one profiling entry point. Runs declared query keys to the `noop`
  * sink (every output column consumed, the final sort kept, as in
  * [[graft.Bench]]) and prints one JSON line per (key, rep) with:
  * wall seconds; jobs, stages and tasks; shuffle read and write bytes;
  * memory and disk spill bytes; peak execution memory of any one task;
  * task GC seconds; each job's id, seconds and call site; and, for a
  * streaming key, each microbatch's `durationMs` phases. Rep 1 of a key
  * pays its artifact builds and first codegen; later reps are warm.
  *
  * Events are attributed by draining the listener bus after each rep, so
  * a rep's trailing task-end events are never charged to the next one.
  * An unknown or failing key prints an `err` line and the run exits 1:
  * an operator that cannot complete, under a memory press say, is a fault
  * to fix, not a number to record.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.Profile
  * <key,key,...> [--reps N] [--plans DIR]"`. `--reps` defaults to 2;
  * `--plans DIR` also writes `DIR/<key>.txt`, the formatted plan of the
  * last rep. A memory press goes through Spark's own properties, e.g.
  * `SPARK_DRIVER_MEM=2g JAVA_TOOL_OPTIONS=-Dspark.memory.fraction=0.05`
  * (the first line printed echoes the session's heap and fraction).
  */
object Profile {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One rep's counters. The scheduler callbacks and [[streams]] run on
    * the listener-bus thread, so every access holds this object's lock. */
  private final class Probe extends SparkListener {
    private var jobs, stages, tasks, shuffleReadB, shuffleWriteB = 0L
    private var memSpillB, diskSpillB, peakExecB, gcMs = 0L
    private val jobStarts = mutable.HashMap.empty[Int, (Long, String)]
    private val jobRows = mutable.ArrayBuffer.empty[(Int, Double, String)]
    private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; shuffleReadB = 0; shuffleWriteB = 0
      memSpillB = 0; diskSpillB = 0; peakExecB = 0; gcMs = 0
      jobStarts.clear(); jobRows.clear(); batches.clear()
    }

    def record(key: String, rep: Int, wallS: Double): Map[String, Any] = synchronized(ListMap(
      "key" -> key, "rep" -> rep, "wall_s" -> wallS,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
      "memory_spill_b" -> memSpillB, "disk_spill_b" -> diskSpillB,
      "peak_exec_b" -> peakExecB, "gc_s" -> gcMs / 1e3,
      "job_list" -> jobRows.sortBy(_._1).toList.map { case (id, s, site) =>
        ListMap("id" -> id, "s" -> s, "call_site" -> site) },
      "batches" -> batches.toList))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      // the result stage is created last, and its name is the call site
      jobStarts(e.jobId) = (e.time, e.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, site) =>
        jobRows += ((e.jobId, (e.time - t0) / 1e3, site))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        memSpillB += m.memoryBytesSpilled
        diskSpillB += m.diskBytesSpilled
        peakExecB = peakExecB max m.peakExecutionMemory
        gcMs += m.jvmGCTime
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = Probe.this.synchronized {
        val p = e.progress
        batches += ListMap("query" -> p.name, "batch" -> p.batchId,
          "duration_ms" -> TreeMap.from(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }))
      }
    }
  }

  private def emit(r: Map[String, Any]): Map[String, Any] = {
    println(mapper.writeValueAsString(r))
    r
  }

  /** Runs each key `reps` times on `spark`, printing and returning one
    * record per rep; a key's reps stop at its first failure. */
  def run(spark: SparkSession, sfDir: String, keys: Seq[String], reps: Int,
      plans: Option[String]): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    try keys.flatMap { key =>
      graft.SparkEntry.queries.get(key) match {
        case None => Seq(emit(ListMap("key" -> key, "err" -> "unknown query")))
        case Some(fn) =>
          val out = mutable.ArrayBuffer.empty[Map[String, Any]]
          var last: Option[DataFrame] = None
          while (out.size < reps && !out.lastOption.exists(_.contains("err"))) {
            Bus.drain(sc)
            probe.reset()
            val t0 = System.nanoTime()
            out += (try {
              val df = fn(spark, sfDir)
              df.write.mode("overwrite").format("noop").save()
              val wallS = (System.nanoTime() - t0) / 1e9
              Bus.drain(sc)
              last = Some(df)
              emit(probe.record(key, out.size + 1, wallS))
            } catch { case e: Throwable =>
              last = None
              emit(ListMap("key" -> key, "rep" -> (out.size + 1),
                "err" -> Option(e.getMessage).getOrElse(e.getClass.getName)))
            })
          }
          for (d <- plans; df <- last)
            Files.writeString(Paths.get(d, s"$key.txt"),
              df.queryExecution.explainString(FormattedMode))
          out.toSeq
      }
    } finally {
      sc.removeSparkListener(probe)
      spark.streams.removeListener(probe.streams)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.toSeq.drop(1).grouped(2).toSeq
    require(args.nonEmpty && !args(0).startsWith("--") &&
      opts.forall { case Seq("--reps" | "--plans", _) => true; case _ => false },
      "usage: graft.tools.Profile <key,key,...> [--reps N] [--plans DIR]")
    val opt = opts.map { case Seq(k, v) => k -> v }.toMap
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val spark = Session.local()
    emit(ListMap("sf" -> sfDir, "cpus" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "memory_fraction" -> spark.sparkContext.getConf.get("spark.memory.fraction", "0.6")))
    val records = try run(spark, sfDir, args(0).split(",").toSeq,
        opt.get("--reps").fold(2)(_.toInt), opt.get("--plans"))
      finally {
        try SessionArtifacts.clear(spark) catch { case _: Throwable => () }
        spark.stop()
      }
    if (records.exists(_.contains("err"))) sys.exit(1)
  }
}
