package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.core.{SessionArtifacts, Tables}

/** Structured-Streaming surface (SURVEY.md §2.3 S) over the events fixture
  * re-played as a file stream in ≥[[Microbatches]] time-ordered
  * microbatches (`maxFilesPerTrigger=1` over time-range slices — asserted
  * per query, so incremental state build/query/evict is genuinely
  * exercised). Each declared query actually executes a streaming query
  * (readStream → transform → memory sink, `processAllAvailable`), then
  * returns the sink table — so the driver's batch-shaped contract still
  * validates real streaming plans against the batch oracle (stream/batch
  * equivalence is the Dataflow-model check). The RocksDB state-store
  * provider — the one that survives production state sizes — is wired
  * behind SPARK_GRAFT_ROCKSDB=1 (see [[useRocksDb]]). Every query starts
  * and runs through [[runQuery]].
  *
  * Modes: the three windowed aggregations run in `complete` mode
  * (nothing withheld by the watermark, so the sink equals the batch
  * answer); [[tumblingAppend]] runs the production `append` shape —
  * watermark-finalized windows only; [[tumblingUpdate]] the `update`
  * dashboard shape — changed rows only, last revision selected; dedup
  * runs in `append` (emit on first sight); statefulCount in `update`.
  *
  * Scale: watermark + window state lives in the state store keyed by
  * (window, key) — partitioned by the same shuffle as the aggregation, so
  * a 1000-executor cluster shards state horizontally.
  */
object Streams {

  /** Number of staged fixture slices = number of microbatches each
    * streaming query executes (maxFilesPerTrigger=1). ≥3 so incremental
    * state-store behavior is actually exercised — round 1 replayed the
    * fixture as ONE batch, which made stream≡batch hold trivially. */
  val Microbatches = 3

  /** Stage the events fixture as [[Microbatches]] TIME-RANGE slices in a
    * session-artifact dir, oldest slice first with strictly increasing
    * mtimes (the file-stream source orders files by modification time).
    * Every streaming query replays the fixture as ≥3 time-ordered
    * microbatches. Time-ordering means the
    * event-time watermark (computed from batch N's max) can never drop
    * batch N+1 rows — batch results stay equal to the batch oracle while
    * state is built, queried, and evicted incrementally for real. */
  private[graft] def stagedEventsDir(s: SparkSession, d: String): String =
    SessionArtifacts.materialize(s, "stream.staged", d) { dirName =>
      val dir = java.nio.file.Paths.get(dirName)
      // normalize through Tables.events (ns-long / NTZ / UTC parquet all
      // collapse to one timestamp type), then stage ts as epoch-micros
      // BIGINT — the stream schema below re-attaches the timestamp type
      val raw = Tables.events(s, d)
        .withColumn("ts", unix_micros(col("ts")))
      val Array(c1, c2) = raw.stat.approxQuantile(
        "ts", Array(1.0 / Microbatches, 2.0 / Microbatches), 0.001)
      val lo = Seq(Long.MinValue, c1.toLong, c2.toLong)
      val hi = Seq(c1.toLong, c2.toLong, Long.MaxValue)
      (0 until Microbatches).foreach { i =>
        val tmp = dir.resolve(s"graft_slice_$i")
        raw.where(col("ts") >= lo(i) && col("ts") < hi(i))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = java.nio.file.Files.list(tmp)
        val part = try listing.toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
        finally listing.close() // Files.list holds an open DirectoryStream
        val dst = dir.resolve(f"slice_$i%02d.parquet")
        java.nio.file.Files.move(java.nio.file.Paths.get(part), dst)
        // explicit, strictly-increasing mtimes → deterministic batch order
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        // the staging dir's residue (_SUCCESS, crc files) is dead once the
        // part file moved out
        SessionArtifacts.deleteIfArtifactDir(tmp.toString)
      }
    }

  /** The events table's batch schema, needed to open the same parquet as a
    * file stream (streams cannot infer schema). One file per trigger →
    * [[Microbatches]] real microbatches per query. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val dir = stagedEventsDir(s, d)
    val schema = StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withColumn("ts", timestamp_micros(col("ts")))
  }

  /** The RocksDB state-store provider (spillable, incremental
    * checkpoints) is the store that survives a real unbounded stream —
    * the default in-memory HDFS-backed store is the first thing to fall
    * over at production state sizes. Opt-in via SPARK_GRAFT_ROCKSDB=1.
    *
    * Round-4 status: the round-2 sandbox limitation (snapshot
    * maintenance's forked delete parking every commit in
    * ProcessImpl.waitFor) NO LONGER REPRODUCES — all 12 streaming
    * queries run green under the provider (driver-shape bench, zero
    * errors, comparable latencies), and `RocksDbSpec` asserts in CI that
    * a RocksDB-backed windowed agg reports rocksdb state-store metrics
    * and matches the default-store result. The env var stays opt-in only
    * so recorded bench baselines keep comparing like-to-like stores;
    * measured, the store is not where per-batch time goes (the
    * checkpoint manager is, see [[runQuery]]). */
  private def useRocksDb: Boolean = sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")

  /** The one place a streaming query of this family starts and runs.
    * Three session settings are pinned for the start only — a query
    * keeps the confs it started with, and the session gets its own
    * values back once `start` returns:
    *
    *  - 4 state partitions. The state-store count is the shuffle
    *    partition count AT QUERY START; every batch pays store-open +
    *    commit per partition per stateful operator (a stream-stream join
    *    keeps four stores per partition), so the count is sized to the
    *    stream's key cardinality, not the batch default. Round 14 dropped
    *    the family default 8 → 4 with results invariant (partitioning
    *    never changes a keyed aggregation's answer); at production scale
    *    it is throughput-derived.
    *  - Spark's `FileSystemBasedCheckpointFileManager` for the offset,
    *    commit and state-store files. The default FileContext-based
    *    manager goes through Hadoop's local file system, which without
    *    the native libhadoop forks a `chmod` per file created and per
    *    directory made, plus more per rename and status call: measured
    *    at local[4] on 4 vCPUs, one warm `stream_dedup` call started
    *    ~770 processes in 1.2–1.4 s with it and ~186 in 0.7–0.8 s with
    *    this manager, Spark's own fallback, whose rename is atomic on
    *    `file:`.
    *  - the RocksDB provider when opted in ([[useRocksDb]]).
    *
    * A plain query then runs to the end of its input
    * (`processAllAvailable`) and must have run ≥ [[Microbatches]]
    * batches — the fixture must NOT have been absorbed as one batch;
    * an `availableNow` query runs under `Trigger.AvailableNow` and stops
    * itself at the input's current end. The query is stopped on return. */
  private def runQuery(s: SparkSession, name: String, writer: DataStreamWriter[Row],
      availableNow: Boolean = false): StreamingQuery = {
    val pins = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName) ++
      Option.when(useRocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val prev = pins.map { case (k, _) => k -> s.conf.getOption(k) }
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    val q = try {
      val named = writer.queryName(name)
      (if (availableNow) named.trigger(Trigger.AvailableNow()) else named).start()
    } finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    try {
      if (availableNow) q.awaitTermination()
      else {
        q.processAllAvailable()
        // batch ids start at 0
        require(q.lastProgress != null && q.lastProgress.batchId >= Microbatches - 1,
          s"$name ran ${if (q.lastProgress == null) "no" else q.lastProgress.batchId + 1} " +
          s"batches; expected >= $Microbatches")
      }
    } finally q.stop()
    q
  }

  private def runToTable(s: SparkSession, df: DataFrame, name: String,
      mode: String): DataFrame = {
    runQuery(s, name, df.writeStream.outputMode(mode).format("memory"))
    s.table(name)
  }

  /** Tumbling 1-day windows per event_type: count + exact-cents sum. */
  def tumbling(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"),
           (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"total")
    runToTable(s, agg, "graft_stream_tumbling", "complete")
  }

  /** Tumbling 1-day windows in APPEND mode — the production shape for an
    * unbounded stream: a window's single final row is emitted only when
    * the watermark (max event time − 10 min) passes the window END, and
    * its state is then evicted; windows the watermark has not yet closed
    * are withheld. The complete-mode windowed queries above re-emit the
    * whole result each batch (fine for a dashboard sink, unbounded for a
    * log sink); append is the at-most-once-per-window contract an
    * append-only sink (parquet, Kafka) requires. Over the ≥3 time-ordered
    * microbatches the final watermark sits 10 min before the fixture's
    * max ts (mid-day on day 30), so exactly the day-1..29 windows are
    * finalized — which is what the oracle replays: batch windows whose
    * end ≤ global max ts − 10 min. (Spark runs the extra no-data batch
    * that flushes windows closed by the LAST data batch's watermark
    * advance; processAllAvailable waits for it.) */
  def tumblingAppend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"),
           (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"total")
    runToTable(s, agg, "graft_stream_tumbling_append", "append")
  }

  /** Tumbling 1-day windows in UPDATE mode — the dashboard-sink shape
    * (closes SURVEY §2.3 S's "agg in update/append modes" for *windowed*
    * aggs; round 3 ran windowed aggs only complete+append and update only
    * for the unwindowed stateful count): each batch emits ONLY the
    * (window, key) rows it changed — neither complete's full re-emit nor
    * append's watermark-withheld finalization. The memory sink therefore
    * holds every REVISION a window's row went through across the ≥3
    * time-ordered microbatches; the query's answer is each key's last
    * revision (max n — counts grow monotonically), the same batch-side
    * post-step statefulCount uses. Time-ordered replay means a window's
    * state is never evicted before all its rows arrive, so the last
    * revision per key equals the batch answer and the complete-mode
    * oracle applies. Whether any key was actually revised across batches
    * is a property of the STAGED FIXTURE (a slice cut aligned to every
    * window boundary would legitimately produce one revision per key), so
    * that observable is asserted in StreamingSpec, not here — the raw
    * revision log is exposed via [[tumblingUpdateRevisions]]. */
  def tumblingUpdate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val updates = tumblingUpdateRevisions(s, d)
    updates.groupBy($"w_start", $"event_type")
      .agg(max($"n").as("n"), max_by($"total", $"n").as("total"))
  }

  /** The update-mode sink contents: every (window, key) revision emitted
    * across the ≥3 microbatches (spec hook for the revised-across-batches
    * observable that separates update mode from append). */
  def tumblingUpdateRevisions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"),
           (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"total")
    runToTable(s, agg, "graft_stream_tumbling_update", "update")
  }

  /** `Trigger.AvailableNow` incremental catch-up — the nightly-batch-
    * over-a-stream mode every production pipeline runs: process all data
    * available right now in bounded microbatches, checkpoint, and STOP
    * (unlike `processAllAvailable`, the query terminates itself; unlike
    * a one-shot batch read, offsets/state persist so the next run picks
    * up exactly where this one stopped). Exercised as a real two-run
    * catch-up: run 1 sees the first two staged slices and terminates;
    * slice 3 is then appended to the source dir and run 2 restarts from
    * the SAME checkpoint — the operator `require`s that run 2 read only
    * the delta (slice-3 rows, not a reprocess of the history), which is
    * the whole point of the mode. The complete-mode tumbling aggregate
    * re-emits full state after catch-up, so run 2's table equals the
    * batch answer over all three slices and the stream_tumbling oracle
    * applies verbatim. At 100 TB this is the cost model that matters:
    * each nightly run's work is ∝ the day's new data, never the
    * accumulated history — state lives in the checkpoint's store,
    * sharded by the same shuffle as the aggregation. */
  def availableNow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = stagedEventsDir(s, d)
    val slices = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
      try l.toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      finally l.close()
    }
    require(slices.length >= Microbatches, s"staged dir lost slices: ${slices.length}")
    // private per-invocation root (src grows between runs; the checkpoint
    // is the contract under test)
    val root = java.nio.file.Paths.get(SessionArtifacts.scratch(s, "avnow"))
    val src = java.nio.file.Files.createDirectory(root.resolve("src"))
    val ckpt = root.resolve("ckpt").toString
    def stage(i: Int): Unit = {
      val dst = src.resolve(f"slice_$i%02d.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(slices(i)), dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    def runOnce(tag: String): (DataFrame, Long) = {
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("ts", timestamp_micros($"ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"),
             (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
        .select($"window.start".as("w_start"), $"event_type", $"n", $"total")
      val name = s"graft_stream_available_now_$tag"
      val q = runQuery(s, name, agg.writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckpt), availableNow = true)
      (s.table(name), q.recentProgress.map(_.numInputRows).sum)
    }
    (0 until Microbatches - 1).foreach(stage)
    val (_, firstRead) = runOnce("r1")
    require(firstRead > 0, "first AvailableNow run must ingest the staged history")
    stage(Microbatches - 1) // new data lands between the runs
    val (caught, secondRead) = runOnce("r2")
    val deltaRows = SessionArtifacts.read(s, slices(Microbatches - 1)).count()
    // the catch-up contract: run 2's input is EXACTLY the appended delta —
    // a reprocess of run 1's history here means the checkpoint restore
    // failed and the nightly cost model is broken
    require(secondRead == deltaRows,
      s"catch-up read $secondRead rows; expected only the $deltaRows delta rows")
    caught
  }

  /** CHAINED stateful aggregations in ONE streaming query — the
    * hierarchical rollup (6-hour partials re-aggregated to days) that
    * needed two jobs + an intermediate topic before Spark 3.4 allowed
    * multiple stateful operators per query. The second groupBy keys on
    * `window(window_time(window), "1 day")`: window_time is the
    * event-time column of the FIRST aggregation's output (window end − 1
    * unit, so a 6 h window belongs to the day containing its end-exclusive
    * boundary = its own day for aligned windows), which is what lets the
    * watermark propagate through the first stateful operator into the
    * second. Append mode end-to-end: a daily row emits exactly once,
    * when the watermark passes the DAY end — so the sink holds the
    * day-1..29 finalized windows and the oracle replays windows whose
    * end ≤ max ts − 10 min, the tumblingAppend rule one level up. At
    * 100 TB the win is the 6 h pre-aggregation: the day-level state and
    * shuffle see |keys × 4| partial rows per day, not raw events, and
    * both operators shard state by the same aggregation shuffle. */
  def chainedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n6"),
           sum(round($"value" * 100).cast("bigint")).as("cents6"))
    val daily = hourly
      .groupBy(window(window_time($"window"), "1 day"), $"event_type")
      .agg(sum($"n6").as("n"), (sum($"cents6") / 100.0).as("total"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"total")
    runToTable(s, daily, "graft_stream_chained_agg", "append")
  }

  /** Sliding windows (6h window, 3h slide): every event lands in exactly
    * two epoch-aligned windows. */
  def sliding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "6 hours", "3 hours"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"n")
    runToTable(s, agg, "graft_stream_sliding", "complete")
  }

  /** STREAMING session windows per user (1h gap): session start + event
    * count, executed incrementally over the ≥3 staged microbatches — a
    * session spanning a batch boundary exists as two partial sessions in
    * the state store until the later batch MERGES them, the genuinely
    * stateful part of streaming sessionization (round 1 ran this
    * aggregation in batch mode). Complete output mode: the final batch's
    * sink equals the fully-merged batch answer, which the
    * gaps-and-islands oracle replays. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"session_window.start".as("sess_start"), $"user_id", $"n_events")
    runToTable(s, agg, "graft_stream_session", "complete")
  }

  /** DYNAMIC-gap session windows (`session_window(ts, gapExpr)`): the
    * gap is a per-EVENT expression — a purchase keeps the session alive
    * 6 hours, anything else 1 hour — the engagement-modeling shape a
    * fixed gap cannot express (a checkout pause shouldn't end the
    * session a browse pause would). Each event spans [ts, ts+gap(event))
    * and overlapping spans merge, so a session's END is the max over its
    * events' individual ends — emitted alongside the start precisely
    * because that max-merge is the semantics under test. The oracle
    * replays it with the cumulative-max-end rule (new session iff
    * ts ≥ max(prev ts+gap)); the fixed-gap lag-rule of stream_session
    * is NOT equivalent here (a long-gap event can bridge over a
    * short-gap successor). Complete mode over the time-ordered slices →
    * batch-equivalent; state is (user, open-session) as ever, merged
    * incrementally per microbatch. */
  def sessionizeDynamic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gap = when($"event_type" === "purchase", lit("6 hours"))
      .otherwise(lit("1 hour"))
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n_events"),
           sum(round($"value" * 100).cast("bigint")).as("cents"))
      .select($"session_window.start".as("sess_start"),
        $"session_window.end".as("sess_end"),
        $"user_id", $"n_events", $"cents")
    runToTable(s, agg, "graft_stream_session_dynamic", "complete")
  }

  /** Stream-STATIC enrichment join — the most common production join
    * shape (a fact stream decorated with a dimension table) and a
    * different machine than the stream-stream joins below: the static
    * side needs NO watermark and NO join state; every microbatch plans a
    * fresh broadcast-hash lookup against the dim snapshot, so the stream
    * side never shuffles for the join. Enriched events then aggregate
    * into 1-day windows per market segment (complete mode). The oracle
    * replays the batch join + window — stream-static inner join over an
    * append-only static table is exactly batch-equivalent. */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = broadcast(Tables.customer(s, d)
      .select($"c_custkey".as("user_id"), $"c_mktsegment"))
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .join(dim, Seq("user_id"))
      .groupBy(window($"ts", "1 day"), $"c_mktsegment")
      .agg(count(lit(1)).as("n"),
           (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
      .select($"window.start".as("w_start"), $"c_mktsegment", $"n", $"total")
    runToTable(s, agg, "graft_stream_static_join", "complete")
  }

  /** Streaming dedup on (user_id, event_type): emits each key once on
    * first sight (append mode). Output = the distinct key set. */
  def dedupKeys(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dd = eventsStream(s, d)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
    runToTable(s, dd, "graft_stream_dedup", "append")
  }

  /** Custom streaming state via flatMapGroupsWithState (SURVEY.md §2.3 S:
    * the KeyValueGroupedDataset state path): per-user running totals held
    * in a typed GroupState, emitted in update mode. State is sharded by
    * the groupByKey shuffle — per-user state scales horizontally across
    * executors — and carries an EVENT-TIME TTL (EventTimeTimeout +
    * setTimeoutTimestamp at last-activity + 60 days): a user idle past
    * the TTL has state evicted once the watermark passes it, the
    * unbounded-stream essential. Event-time (not processing-time) TTL is
    * the right tool twice over: it tracks the data's own clock under
    * backfill/replay, and it only evaluates when the watermark moves —
    * a processing-time timer forces the engine into a continuous
    * empty-batch loop just to poll timers (measured here: unbounded
    * batch churn). The 60-day TTL exceeds the fixture's 30-day span, so
    * nothing is evicted mid-replay and the final per-user state equals
    * the batch answer.
    *
    * The fixture replays as ≥3 microbatches, so the memory sink holds one
    * row per (user, batch-with-updates); the query's answer is each
    * user's LAST state — selected by max n (counts increase
    * monotonically), a batch-side post-step that leaves the incremental
    * streaming plan untouched. */
  def statefulCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ttlMs = 60L * 24 * 3600 * 1000
    val updated = eventsStream(s, d)
      .withWatermark("ts", "35 days")
      .select($"user_id", $"value", $"ts")
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove() // event-time TTL: evict idle users' state
            Iterator.empty
          } else {
            val (n0, cents0) = state.getOption.getOrElse((0L, 0L))
            var n = n0; var cents = cents0; var lastMs = 0L
            rows.foreach { case (_, v, t) =>
              n += 1; cents += math.round(v * 100)
              lastMs = math.max(lastMs, t.getTime)
            }
            state.update((n, cents))
            state.setTimeoutTimestamp(lastMs + ttlMs)
            Iterator((user, n, cents / 100.0))
          }
        })
      .toDF("user_id", "n", "total")
    val updates = runToTable(s, updated, "graft_stream_stateful", "update")
    updates.groupBy($"user_id")
      .agg(max($"n").as("n"), max_by($"total", $"n").as("total"))
  }

  /** Spark-4 arbitrary-state API — `transformWithState` with a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]]: the successor
    * to flatMapGroupsWithState with NAMED state variables (value/list/
    * map), per-variable TTL, and timers. Here the per-user state is a
    * MapState keyed by event type holding (n, Σcents) — composite keyed
    * state that flatMapGroupsWithState could only fake by packing the
    * whole map into one blob and rewriting it wholesale each batch;
    * MapState reads/writes only the TOUCHED keys, and that per-entry
    * I/O granularity is the point of the new API at production state
    * sizes. Counts and cent-sums are commutative, so emission (the
    * updated rows per input batch) is batch-boundary independent; last
    * revision per (user, type) = the batch aggregate — the
    * [[statefulCount]] update-mode contract, collapsed by max_by below.
    * The OSS implementation is provider-gated to RocksDB, so the
    * provider is forced for this query and restored after — the
    * production state backend, CI-proven by RocksDbSpec. The processor
    * itself is [[TypeTotals]], object-level so StreamChaosSpec can run
    * the EXACT production processor through a kill-and-restart. */
  def transformState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updated = eventsStream(s, d)
        .select($"user_id", $"event_type", round($"value" * 100).cast("bigint").as("cents"))
        .as[(Long, String, Long)]
        .groupByKey(_._1)
        .transformWithState(new TypeTotals, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n", "cents")
      val updates = runToTable(s, updated, "graft_stream_transform_state", "update")
      updates.groupBy($"user_id", $"event_type")
        .agg(max($"n").as("n"), max_by($"cents", $"n").as("cents"))
    } finally prev match {
      case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** The transformWithState processor behind [[transformState]]: per-user
    * MapState keyed by event type holding (n, Σcents). Object-level (no
    * outer capture → serializable standalone) so StreamChaosSpec restarts
    * the exact production processor from a checkpoint. */
  private[graft] class TypeTotals
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, String, Long), (Long, String, Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var totals: MapState[String, (Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getMapState("typeTotals", Encoders.STRING,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String, Long)],
        tv: TimerValues): Iterator[(Long, String, Long, Long)] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
      rows.foreach { case (_, et, cents) =>
        val (n0, c0) = touched.getOrElse(et,
          if (totals.containsKey(et)) totals.getValue(et) else (0L, 0L))
        touched(et) = (n0 + 1, c0 + cents)
      }
      touched.foreach { case (et, v) => totals.updateValue(et, v) }
      touched.iterator.map { case (et, (n, c)) => (user, et, n, c) }
    }
  }

  /** Stateful dedup with bounded state: dropDuplicatesWithinWatermark
    * keeps a key's state only until the watermark passes it — the
    * unbounded-stream-safe variant of stream_dedup (whose state grows
    * forever). The delay (35 days) exceeds the fixture's 30-day span, so
    * no key's state expires mid-replay and the multi-microbatch output
    * still equals SELECT DISTINCT — the operator's semantic contract is
    * only "exactly-once WITHIN the watermark"; a shorter delay would
    * legitimately re-emit a key whose state aged out, which no batch SQL
    * mirrors. The eviction path itself (keys dropped after
    * min(event time seen) + delay) is what a production pipeline tunes
    * delay against. */
  def dedupWatermarked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dd = eventsStream(s, d)
      .withWatermark("ts", "35 days")
      .select($"user_id", $"event_type", $"ts")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
    runToTable(s, dd, "graft_stream_dedup_wm", "append")
  }

  /** Watermarked stream-stream inner join: clicks joined to the same
    * user's purchases within the following hour. Both sides carry
    * watermarks and the join condition bounds event time on both ends, so
    * Spark can size the join state and expire rows as the watermark
    * advances — the unbounded-stream-safe join shape. State is sharded by
    * the user_id equi-key's shuffle. One replayed batch here → output
    * equals the batch interval join, which the DuckDB oracle replays. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
              $"value".as("amount"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
        $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
      .select($"c_user".as("user_id"), $"click_id", $"purchase_id", $"amount")
    runToTable(s, joined, "graft_stream_ss_join", "append")
  }

  /** Watermarked stream-stream LEFT OUTER join — the shape that needs
    * state-EXPIRY semantics, not just state lookup: a click with no
    * purchase in its hour is emitted with nulls only once the watermark
    * proves no matching purchase can still arrive (wm passes
    * c_ts + 1 hour, the click's last possible match time), i.e. on state
    * eviction. Clicks whose match window the final watermark has not yet
    * closed are withheld (2 rows at sf0.01 — the oracle replays exactly
    * this: matched pairs ∪ unmatched clicks with c_ts + 1h < max ts − 1h).
    * Inner-join results stream out immediately as before. */
  def streamStreamLeftJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
              $"value".as("amount"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
        $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select($"c_user".as("user_id"), $"click_id", $"purchase_id", $"amount")
    runToTable(s, joined, "graft_stream_ss_left", "append")
  }

  /** foreachBatch parquet sink — the production sink pattern: each
    * microbatch lands as parquet with exactly-once-per-batch semantics
    * (batchId available for idempotent writes); the query result is the
    * read-back of what got written, so the oracle validates the full
    * stream → sink → storage round-trip. */
  def sinkParquet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = SessionArtifacts.scratch(s, "stream_sink")
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           (sum(round($"value" * 100).cast("bigint")) / 100.0).as("total"))
    runQuery(s, "graft_stream_sink_parquet", agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // complete mode: every batch overwrites with the full-to-date
        // answer — idempotent per batchId, so a replayed batch is safe
        batch.write.mode(SaveMode.Overwrite).parquet(out)
      })
    s.read.parquet(out)
  }

  /** Streaming CDC apply (foreachBatch MERGE): maintain a last-writer-wins
    * per-user snapshot from the event stream — the "serving table fed by a
    * stream" production shape (a Kafka topic compacted into a queryable
    * current-state table). Each microbatch is first collapsed to its
    * latest row per key (one window over the batch), then merged with the
    * previous snapshot version, latest (ts, event_id) winning — the same
    * MERGE discipline as [[graft.operators.Maintenance.upsert]], run
    * incrementally. Snapshot versions are WRITTEN, not overwritten
    * (v(batchId) reads the highest COMPLETE version below it): overwriting
    * the parquet a lazy plan is still reading is the classic
    * self-overwrite corruption. Replay idempotency is carried by the
    * snapshot DIRECTORY, not driver memory: each batch lists the on-disk
    * versions, merges from the newest complete one below its id, and
    * skips the write entirely if its own version already completed — so a
    * restarted/replayed batch (checkpointed recovery re-delivers the last
    * uncommitted batch) reproduces the same chain instead of resetting
    * it, and a crashed half-write (no _SUCCESS) is redone. The merge
    * key-compare is (ts, event_id) — total order, so the result is
    * independent of batch boundaries AND batch order. At scale: one
    * user_id shuffle per batch (batch ≪ snapshot); bucket both sides on
    * user_id (src_bucketed_join) to make the merge zero-exchange. */
  /** Complete (= _SUCCESS-marked) snapshot versions under an upsert chain
    * root. Object-level so StreamChaosSpec inspects the same chain the
    * production merge maintains. */
  private[graft] def upsertCompleteVersions(rootPath: java.nio.file.Path): Seq[Long] = {
    val listing = java.nio.file.Files.list(rootPath)
    try listing.toArray.map(_.toString).toSeq
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))
      .flatMap(p => p.split('/').last.stripPrefix("v").toLongOption)
    finally listing.close()
  }

  /** One CDC merge step of [[upsertSink]] — the foreachBatch body,
    * object-level so StreamChaosSpec can kill-and-restart the EXACT
    * production merge (not a copy) around a checkpoint. Idempotent per
    * batchId: a re-delivered batch whose version already completed is
    * skipped; a crashed half-write (no _SUCCESS) is redone. */
  private[graft] def upsertMerge(s: SparkSession, rootPath: java.nio.file.Path)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val root = rootPath.toString
    def latestPerUser(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("last_ts").desc, col("last_event_id").desc)
      df.withColumn("rk", row_number().over(w)).where(col("rk") === 1).drop("rk")
    }
    val versions = upsertCompleteVersions(rootPath)
    if (!versions.contains(batchId)) { // replayed-and-committed: skip
      val delta = latestPerUser(batch)
      val merged = versions.filter(_ < batchId).maxOption match {
        case None       => delta
        case Some(prev) => latestPerUser(delta.unionByName(s.read.parquet(s"$root/v$prev")))
      }
      merged.write.mode(SaveMode.Overwrite)
        .parquet(s"$root/v$batchId")
    }
  }

  def upsertSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the previous invocation's snapshot chain is reclaimed here; its
    // only consumer is the DataFrame that invocation returned
    val root = SessionArtifacts.scratch(s, "upsert")
    val rootPath = java.nio.file.Paths.get(root)
    val stream = eventsStream(s, d).select($"user_id", $"ts".as("last_ts"),
      $"event_id".as("last_event_id"), $"event_type".as("last_type"),
      $"value".as("last_value"))
    runQuery(s, "graft_stream_upsert_sink", stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        upsertMerge(s, rootPath)(batch.toDF(), batchId)
      })
    s.read.parquet(s"$root/v${upsertCompleteVersions(rootPath).max}").drop("last_event_id")
  }

  /** Windowed approximate distinct users per day — the streaming
    * dashboard staple (exact count_distinct is impossible incrementally
    * without holding every key; the HLL sketch is mergeable per-batch
    * state, and merges are max-based, so the estimate is independent of
    * batch boundaries and arrival order). The declared output follows
    * the agg_approx pattern: the engine-specific estimate stays OUT of
    * the hash-compared columns — each window emits its exact batch
    * distinct count plus a flag that the streaming HLL estimate landed
    * within 5% of it, which the oracle replays exactly. */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 day"))
      // rsd 0.02 → the 5% flag is a ~2.5σ bound (default rsd 0.05 makes
      // 5% a 1σ coin flip — same calibration as agg_approx)
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"window.start".as("w_start"), $"approx_users")
    val streamed = runToTable(s, agg, "graft_stream_approx_distinct", "complete")
    val exact = Tables.events(s, d)
      .groupBy(date_trunc("day", $"ts").as("w_start"))
      .agg(count_distinct($"user_id").as("n_exact"))
    exact.join(streamed, Seq("w_start"))
      .select($"w_start", $"n_exact",
        (abs($"approx_users" - $"n_exact") <= $"n_exact" * 0.05)
          .cast("long").as("within_5pct"))
  }

  /** Streaming anomaly monitor — the incremental twin of
    * [[graft.operators.Relational.eventsAnomaly]]: per user, running
    * integer moments (n, Σc, Σc²) live in keyed state; each arriving
    * event is tested against the prefix INCLUDING itself with the same
    * all-integer inequality (n·x − S)² > 9·(n·S₂ − S²) and emitted
    * exactly once if anomalous — the alert stream a production monitor
    * sinks to a queue. Batch rows are sorted by (ts_µs, event_id) inside
    * the group function (the group iterator carries no order contract)
    * and the staged slices are time-ordered, so the running prefix
    * equals the batch cumulative window whatever the batch boundaries —
    * the oracle replays exactly that window. State is three longs per
    * user (an event-time TTL would bolt on as in [[statefulCount]]);
    * the integer test keeps the flag set bit-stable where a running
    * double mean/stddev would drift with batch slicing. */
  def anomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val flagged = eventsStream(s, d)
      .select($"user_id", $"event_id",
        round($"value" * 100).cast("bigint").as("cents"),
        unix_micros($"ts").as("ts_us"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[(Long, Long, String)]) => {
          // Σc² lives in BigInt (serialized as a string in state): a Long
          // accumulator wraps at ~2⁶³/|c|² events and would then flag
          // EVERYTHING while the exact HUGEINT oracle flags nothing —
          // the whole inequality mirrors the batch side's DECIMAL(38,0)
          // widening (n and Σc stay Long: in range until n·|c| ~ 2⁶³,
          // the same documented bound as the batch op)
          var (n, sc, sc2str) = state.getOption.getOrElse((0L, 0L, "0"))
          var sc2 = BigInt(sc2str)
          val out = Seq.newBuilder[(Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, eid, c, _) =>
            n += 1; sc += c; sc2 += BigInt(c) * c
            val dev = BigInt(n) * c - sc
            if (n >= 2 && dev * dev > BigInt(9) * (BigInt(n) * sc2 - BigInt(sc) * sc))
              out += ((user, eid, c))
          }
          state.update((n, sc, sc2.toString))
          out.result().iterator
        })
      .toDF("user_id", "event_id", "cents")
    runToTable(s, flagged, "graft_stream_anomaly", "update")
  }

  /** Streaming quantified-pattern monitor — [[graft.operators.Relational
    * .eventsQuantPattern]]'s PATTERN (signup view+ purchase) evaluated
    * INCREMENTALLY: per-user state carries only the last two completed
    * runs plus the current run (type + length — O(1) state however long
    * the history), and a match emits AT ARRIVAL of the purchase that
    * OPENS a purchase run following a view run following a signup run.
    * Emission is batch-boundary independent by the stream_anomaly
    * discipline: the run automaton is a prefix computation under the
    * (ts, event_id) total order, state carries across batches, and
    * batch rows are sorted inside the group function (the iterator has
    * no order contract). Each match row carries the closing purchase's
    * event_id and the B+ quantifier length, so the oracle — a window
    * replay over the full batch table — verifies measures AND emission
    * points, not just match counts. */
  def quantPattern(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val matches = eventsStream(s, d)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, String, Long)],
         state: GroupState[(String, String, Long, String, Long)]) => {
          // (prev2 type, prev1 type, prev1 len, current type, current len);
          // "" = no such run yet
          var (p2, p1, p1len, cur, curLen) =
            state.getOption.getOrElse(("", "", 0L, "", 0L))
          val out = Seq.newBuilder[(Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, eid, et, _) =>
            if (et == cur) curLen += 1
            else {
              if (cur.nonEmpty) { p2 = p1; p1 = cur; p1len = curLen }
              cur = et; curLen = 1
              if (et == "purchase" && p1 == "view" && p2 == "signup")
                out += ((user, eid, p1len))
            }
          }
          state.update((p2, p1, p1len, cur, curLen))
          out.result().iterator
        })
      .toDF("user_id", "event_id", "b_len")
    runToTable(s, matches, "graft_stream_quant_pattern", "update")
  }

  /** Dead-letter routing (the side-output pattern): every production
    * ingest splits each microbatch into parseable rows → the main sink
    * and malformed rows → a dead-letter queue for replay/inspection —
    * dropping them silently loses data, failing the query on one bad
    * row loses the pipeline. Corruption is STAGED in-stream
    * deterministically (event_id % 11 mangles the props JSON), parse =
    * get_json_object returning null, and foreachBatch routes the two
    * splits to per-batchId subdirectories (overwrite per batch dir =
    * replay-idempotent, the upsertSink discipline). The query returns
    * the read-back of BOTH sinks aggregated per (sink, event_type), so
    * the oracle replays the routing rule over the batch table and
    * validates the full stream → split → storage round-trip including
    * conservation (good + dlq = everything). */
  def deadLetter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = SessionArtifacts.scratch(s, "dlq")
    val src = eventsStream(s, d)
      .withColumn("raw",
        when($"event_id" % 11 === 0, concat(lit("corrupt:"), $"props"))
          .otherwise($"props"))
      .withColumn("k", get_json_object($"raw", "$.k"))
      .select($"event_id", $"event_type", $"k")
    runQuery(s, "graft_stream_dead_letter", src.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF().localCheckpoint(eager = false) // two consumers, one compute
        b.where(col("k").isNotNull).write
          .mode(SaveMode.Overwrite).parquet(s"$root/good/b$batchId")
        b.where(col("k").isNull).write
          .mode(SaveMode.Overwrite).parquet(s"$root/dlq/b$batchId")
      })
    def readSink(name: String) =
      s.read.option("recursiveFileLookup", "true").parquet(s"$root/$name")
        .select(lit(name).as("sink"), $"event_type")
    readSink("good").unionByName(readSink("dlq"))
      .groupBy($"sink", $"event_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Support threshold for [[heavyHitters]]: items with frequency
    * > N/HhK are heavy. */
  val HhK = 500
  /** State shards for the streaming Misra-Gries summary. */
  val HhShards = 8

  /** STREAMING heavy hitters — frequent campaign-impression items
    * (event_type × campaign k) over the event stream with BOUNDED state,
    * the top-K dashboard staple where exact per-item counting would hold
    * every key ever seen. The [[graft.operators.TextAnalysis
    * .heavyHitters]] two-pass discipline, run incrementally:
    *
    *  - pass 1 (streaming): items shard by hash (an item's occurrences
    *    all land in one shard), each shard keeps a Misra-Gries summary of
    *    capacity 2·HhK/HhShards as flatMapGroupsWithState state — MG is a
    *    one-pass algorithm, so seeding batch N+1 from batch N's summary
    *    IS running it over the concatenated stream, and any item with
    *    global frequency > N/HhK survives in the FINAL state (its shard
    *    sees frequency > N_shard/(capacity+1) for any shard the hash
    *    balance plausibly produces). Each batch emits the tracked item
    *    set, so the sink's union across batches is a SUPERSET of the
    *    final summary — candidate recall is preserved;
    *  - pass 2 (batch confirm): exact counts over candidate items only
    *    (everything else collapses into one Other bucket — the confirm
    *    aggregation state is O(candidates), not O(domain)), keep
    *    cnt·HhK > N. Exact counts ⇒ the oracle replays the threshold
    *    as a plain GROUP BY ... HAVING with no approximation caveat.
    *
    * State: HhShards × capacity ≈ 2·HhK counters total, independent of
    * the item domain; at 100 TB raise HhShards for write parallelism —
    * the guarantee degrades gracefully as capacity/shard falls. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val cap = 2 * HhK / HhShards
    val itemCol = concat($"event_type", lit("_"), get_json_object($"props", "$.k"))
    val tracked = eventsStream(s, d)
      .select(itemCol.as("item"))
      .as[String]
      .groupByKey(it => math.floorMod(it.hashCode, HhShards))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (shard: Int, rows: Iterator[String], state: GroupState[Map[String, Long]]) => {
          val m = graft.operators.TextAnalysis.misraGriesFrom(
            rows, cap, state.getOption.getOrElse(Map.empty))
          state.update(m)
          m.keysIterator.map(item => (shard, item))
        })
      .toDF("shard", "item")
    val sunk = runToTable(s, tracked, "graft_stream_hh", "update")
    // bounded collect: ≤ shards × capacity × batches candidate strings
    val candidates = sunk.select($"item").distinct().as[String].collect().toSeq
    val Other = " other" // items contain no space: concat of type and digits
    val counted = Tables.events(s, d)
      .groupBy(when(itemCol.isInCollection(candidates), itemCol)
        .otherwise(Other).as("item"))
      .agg(count(lit(1)).as("cnt"))
    counted.crossJoin(broadcast(counted.agg(sum($"cnt").as("n_total"))))
      .where($"item" =!= Other && $"cnt" * HhK > $"n_total")
      .select($"item", $"cnt")
  }

  /** STREAMING approximate percentiles — per-event-type p50/p90 of the
    * value stream via `percentile_approx`, the sketch that makes
    * percentiles possible on an unbounded stream at all: its state is a
    * bounded MERGEABLE quantile summary per group (map-side partials +
    * cross-batch accumulation in the state store), where the exact
    * interpolated percentile would need every value retained and
    * re-sorted per trigger. Complete mode over the ≥3 time-ordered
    * microbatches. The declared output is the [[graft.operators
    * .Relational.aggApproxPercentile]] accuracy contract: the sketch
    * values stay OUT of the hash-compared columns; each group emits its
    * exact batch count plus flags that the streaming sketch landed
    * inside the exact ±5-percentile-point value band, which the oracle
    * replays as constant-true. */
  def approxPercentile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, d)
      .groupBy($"event_type")
      .agg(percentile_approx($"value", lit(0.5), lit(10000)).as("ap50"),
           percentile_approx($"value", lit(0.9), lit(10000)).as("ap90"))
    val streamed = runToTable(s, agg, "graft_stream_approx_pct", "complete")
    val exact = Tables.events(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           percentile($"value", lit(0.45)).as("lo50"),
           percentile($"value", lit(0.55)).as("hi50"),
           percentile($"value", lit(0.85)).as("lo90"),
           percentile($"value", lit(0.95)).as("hi90"))
    streamed.join(exact, "event_type")
      .select($"event_type", $"n",
        ($"ap50" >= $"lo50" && $"ap50" <= $"hi50").cast("long").as("p50_ok"),
        ($"ap90" >= $"lo90" && $"ap90" <= $"hi90").cast("long").as("p90_ok"))
  }

  val oracle: Map[String, String] = Map(
    "stream_dead_letter" -> """
      SELECT CASE WHEN event_id % 11 = 0 THEN 'dlq' ELSE 'good' END AS sink,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2""",

    "stream_heavy_hitters" -> """
      WITH t AS (
        SELECT event_type || '_' || json_extract_string(props, '$.k') AS item
        FROM events)
      SELECT item, count(*) AS cnt FROM t
      GROUP BY item
      HAVING count(*) * 500 > (SELECT count(*) FROM t)""",

    "stream_approx_percentile" -> """
      SELECT event_type, count(*) AS n,
             CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
      FROM events GROUP BY event_type""",

    "stream_quant_pattern" -> """
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      r0 AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS run_id
        FROM e),
      runs AS (
        SELECT user_id, run_id, max(event_type) AS rtype, count(*) AS rlen
        FROM r0 GROUP BY 1, 2)
      SELECT e.user_id, e.event_id, CAST(v.rlen AS BIGINT) AS b_len
      FROM r0 e
      JOIN runs v ON v.user_id = e.user_id AND v.run_id = e.run_id - 1
                 AND v.rtype = 'view'
      JOIN runs g ON g.user_id = e.user_id AND g.run_id = e.run_id - 2
                 AND g.rtype = 'signup'
      WHERE e.chg = 1 AND e.event_type = 'purchase'""",

    "stream_anomaly" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(ts AS TIMESTAMP) AS ts
        FROM events),
      x AS (
        -- HUGEINT mirrors the engine's BigInt widening (see events_anomaly)
        SELECT user_id, event_id, cents,
               CAST(count(*) OVER w AS HUGEINT) AS n,
               CAST(sum(cents) OVER w AS HUGEINT) AS sc,
               CAST(sum(CAST(cents AS HUGEINT) * cents) OVER w AS HUGEINT) AS sc2
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id, cents FROM x
      WHERE n >= 2
        AND (n * cents - sc) * (n * cents - sc) > 9 * (n * sc2 - sc * sc)""",

    "stream_approx_distinct" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             CAST(1 AS BIGINT) AS within_5pct
      FROM events GROUP BY 1""",

    "stream_upsert_sink" -> """
      SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
             event_type AS last_type, value AS last_value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rk
            FROM events)
      WHERE rk = 1""",

    "stream_sink_parquet" -> """
      SELECT event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events GROUP BY event_type""",

    "stream_stream_join" -> """
      SELECT c.user_id AS user_id, c.event_id AS click_id,
             p.event_id AS purchase_id, p.value AS amount
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
       AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR""",

    // matched rows always emit; an unmatched click emits nulls iff the
    // final GLOBAL watermark closed its 1h match window. Each stream's
    // watermark tracks only its own filtered rows (the EventTimeWatermark
    // node sits above the event_type filter), and the engine's global
    // watermark is the MIN across inputs — so the replay uses
    // least(max click ts, max purchase ts) − 1h, not the all-events max.
    "stream_stream_left_join" -> """
      WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, value AS amount,
                   CAST(ts AS TIMESTAMP) AS p_ts
            FROM events WHERE event_type = 'purchase'),
      m AS (SELECT c.user_id, c.click_id, p.purchase_id, p.amount
            FROM c JOIN p ON c.user_id = p.user_id
             AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR),
      wm AS (SELECT least((SELECT max(c_ts) FROM c), (SELECT max(p_ts) FROM p))
                    - INTERVAL 1 HOUR AS w)
      SELECT user_id, click_id, purchase_id, amount FROM m
      UNION ALL
      SELECT c.user_id, c.click_id,
             CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS DOUBLE) AS amount
      FROM c, wm
      WHERE c.click_id NOT IN (SELECT click_id FROM m)
        AND c.c_ts + INTERVAL 1 HOUR < wm.w""",

    "stream_transform_state" -> """
      SELECT user_id, event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2""",

    "stream_stateful_count" -> """
      SELECT user_id, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events GROUP BY user_id""",

    "stream_dedup_watermark" -> """
      SELECT DISTINCT user_id, event_type FROM events""",

    // append mode: only windows the final watermark closed, i.e. window
    // end ≤ max event time − the 10-minute delay
    "stream_tumbling_append" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events
      WHERE CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) + INTERVAL 1 DAY
            <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
      GROUP BY 1, 2""",

    // daily rollup of 6h partials, append mode at the DAY level: only
    // days whose end the final watermark passed are finalized
    "stream_chained_agg" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events
      WHERE CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) + INTERVAL 1 DAY
            <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 10 MINUTE
      GROUP BY 1, 2""",

    "stream_static_join" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             c_mktsegment, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2""",

    "stream_tumbling" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events GROUP BY 1, 2""",

    // after catch-up the complete-mode re-emit equals the full batch
    // answer — incrementality (run 2 reads only the delta) is require'd
    // inside the operator, not visible in the output
    "stream_available_now" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events GROUP BY 1, 2""",

    // update mode, last revision per (window, key) selected — equals the
    // batch answer because the time-ordered replay never evicts a window's
    // state before all its rows arrive
    "stream_tumbling_update" -> """
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
             event_type, count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
      FROM events GROUP BY 1, 2""",

    // each event belongs to the two 3h-grid windows [g, g+6h) covering it
    "stream_sliding" -> """
      SELECT w_start, count(*) AS n FROM (
        SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800) * 10800) AS TIMESTAMP) AS w_start
        FROM events
        UNION ALL
        SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800) * 10800 - 10800) AS TIMESTAMP) AS w_start
        FROM events
      ) t GROUP BY w_start""",

    // gaps-and-islands sessionization with the same 1h gap
    "stream_session" -> """
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 1 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      g AS (SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
            FROM e)
      SELECT min(ts) AS sess_start, user_id, count(*) AS n_events
      FROM g GROUP BY user_id, sess""",

    "stream_dedup" -> """
      SELECT DISTINCT user_id, event_type FROM events""",

    // dynamic-gap sessions: cumulative-max-end rule (a long-gap event can
    // bridge over a short-gap successor, so the lag rule is wrong here)
    "stream_session_dynamic" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'purchase' THEN INTERVAL 6 HOUR
                    ELSE INTERVAL 1 HOUR END AS gap,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      w AS (
        SELECT *, max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM e),
      g AS (
        SELECT *, sum(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess
        FROM w)
      SELECT min(ts) AS sess_start, max(ts + gap) AS sess_end, user_id,
             count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
      FROM g GROUP BY user_id, sess"""
  )
}
