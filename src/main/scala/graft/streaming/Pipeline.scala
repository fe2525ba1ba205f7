package graft.streaming

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.model.{Schemas, Telemetry, Thresholds}
import graft.rules.FleetRules
import graft.sinks.Sinks
import graft.sources.{FileReplay, Tables}


/** Structured-Streaming ingest path — the Spark re-expression of the
  * reference's E1 entry point (producer → Kafka → consumer rules → store;
  * reference consumer.py:51–164, SURVEY §2.9 and §3 E1).
  *
  * Semantics mapping:
  *  - per-record loop + 50-row buffers → micro-batches (`availableNow` for
  *    bounded runs, `ProcessingTime` for live);
  *  - inline per-alert INSERT → set-oriented [[FleetRules]] transform
  *    inside the same micro-batch;
  *  - auto-commit at-least-once → checkpointed offsets (exactly-once into
  *    transactional sinks; parquet append here is at-least-once, an
  *    explicit parity call — SURVEY §7 hard-part 4);
  *  - SIGINT flag + buffer flush → `query.stop()` + checkpoint recovery.
  */
object Pipeline {

  /** File-based telemetry stream: JSONL landing directory → lenient wire
    * normalization (the streaming twin of [[FileReplay.readTelemetryJsonl]]).
    * Backpressure (the reference's BATCH_SIZE/sleep pacing, consumer.py:33,
    * producer.py:181) is [[jsonStream]]'s trigger cap: one byte-sized
    * wave of files per trigger, unless the caller pins
    * `maxFilesPerTrigger`.
    */
  def telemetryFileStream(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    FileReplay.normalize(
      jsonStream(s, Schemas.telemetryWire.toDDL, dir, maxFilesPerTrigger))

  /** The JSONL stream of `dir` under the DDL `schema` — the reader of the
    * capped JSONL runners — with a cap on how much of the backlog one
    * trigger admits: `Some(n)` pins n files, `None` admits
    * `maxBytesPerTrigger` at one wave of full splits —
    * `defaultParallelism × spark.sql.files.maxPartitionBytes`, read from
    * the session, so every core gets a full split and no trigger is cut
    * short by a file count. Each trigger pays a fixed cost (offset log,
    * planning, batch persist, sink job commits) whatever its size; sizing
    * by bytes pays it once per wave, not once per N files however small
    * they are.
    */
  private def jsonStream(s: SparkSession, schema: String, dir: String,
      cap: Option[Int]): DataFrame = {
    val r = s.readStream.schema(schema)
    val capped = cap match {
      case Some(n) => r.option("maxFilesPerTrigger", n)
      case None =>
        val split = JavaUtils.byteStringAsBytes(s.conf.get("spark.sql.files.maxPartitionBytes"))
        r.option("maxBytesPerTrigger", s.sparkContext.defaultParallelism * split)
    }
    capped.json(dir)
  }

  /** Starts `w` as a bounded run — drain what is available now, stop —
    * checkpointed at `checkpointDir`, so a re-run resumes after the last
    * committed batch. Every file-sourced runner starts here. */
  private def startAvailableNow(w: DataStreamWriter[Row],
      checkpointDir: String): StreamingQuery =
    w.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The micro-batch runner: `body` receives each batch with its id.
    * Runners outside this file (the OpenSky replay) start here too. */
  private[graft] def runBatches(df: DataFrame, checkpointDir: String,
      outputMode: String = "append")(body: (DataFrame, Long) => Unit): StreamingQuery =
    startAvailableNow(df.writeStream.outputMode(outputMode).foreachBatch(body),
      checkpointDir)

  /** The idempotent batch sink: `df` overwrites `dir/batch=<batchId>`,
    * and the written directory is returned. foreachBatch is
    * at-least-once — a batch that crashed between its write and the
    * checkpoint commit re-runs on restart with the same id over the same
    * input — so keying the directory by the batch id makes the replay
    * rewrite its own output instead of appending a duplicate: exactly-once
    * output for readers of `dir`, without a transactional store. */
  private def writeBatch(df: DataFrame, dir: String, batchId: Long): String = {
    val out = s"$dir/batch=$batchId"
    df.write.mode("overwrite").parquet(out)
    out
  }

  /** A single-output gate: each micro-batch of `stream` maps through
    * `verdict` into [[writeBatch]]'s `dir`. */
  private def runGate(stream: DataFrame, dir: String, checkpointDir: String)
      (verdict: DataFrame => DataFrame): StreamingQuery =
    runBatches(stream, checkpointDir) { (batch, batchId) =>
      writeBatch(verdict(batch), dir, batchId)
    }

  /** The append sink: `df` appended as parquet under `path`. */
  private def appendParquet(df: DataFrame, path: String, checkpointDir: String,
      partitionBy: String*): StreamingQuery =
    startAvailableNow(df.writeStream.format("parquet")
      .partitionBy(partitionBy: _*)
      .option("path", path)
      .outputMode("append"), checkpointDir)

  /** `transformWithState` runs only on the RocksDB state store; the
    * provider conf is session-wide, set before planning (RocksDB is a
    * correct provider for every other stateful op in this module too). */
  private def useRocksDb(s: SparkSession): Unit =
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Unified streaming ingest: any number of telemetry-schema STREAMING
    * legs (file wire, OpenSky poll/replay, simulation — each a different
    * source kind with its own offsets) tagged and union'd by
    * [[graft.sources.UnifiedIngest.unify]] into ONE store, partitioned by
    * `(p_date, source_mode)` so per-mode reads prune at the directory
    * level. One streaming query, one checkpoint, N sources — Structured
    * Streaming tracks each leg's offsets independently inside the shared
    * checkpoint, so a restart resumes every mode exactly where it
    * stopped. The streaming form of the reference's
    * three-producers-one-table topology (SURVEY §2.7).
    */
  def runUnifiedIngest(s: SparkSession, legs: Seq[(String, DataFrame)],
      outDir: String, checkpointDir: String): StreamingQuery =
    appendParquet(graft.sources.UnifiedIngest.unify(legs: _*)
      .withColumn("p_date", to_date(col("time"))),
      outDir, checkpointDir, "p_date", "source_mode")

  /** Kafka telemetry stream (reference consumer.py:51–60: three topics,
    * earliest offsets, JSON values). Compiles against core Spark; running
    * it requires the spark-sql-kafka connector on the cluster classpath
    * (not shipped in this environment — the file stream above exercises
    * identical downstream semantics).
    */
  def kafkaTelemetryStream(s: SparkSession, bootstrap: String,
      topic: String = "vehicle_telemetry"): DataFrame =
    FileReplay.normalize(
      s.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .select(from_json(col("value").cast("string"), Schemas.telemetryWire).as("r"))
        .select(col("r.*")))

  /** Kafka sink leg (reference producer.py:142–145: JSON-serialized dicts). */
  def toKafkaSink(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): StreamingQuery =
    df.select(to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** The telemetry+alerts sink body shared by [[runAlertPipeline]] and
    * [[runDedupedAlertPipeline]] — one copy, so persist handling, sink
    * layout and alert derivation cannot drift between the two. The two
    * writes read only the persisted batch, so they run as concurrent
    * jobs ([[graft.sinks.Sinks.concurrently]]): a small trigger pays one
    * job's fixed cost in wall, not two. Both are joined before the body
    * returns or throws, so the batch commits only after both landed and
    * a failed batch replays with neither still running — delivery stays
    * at-least-once, as with the sequential writes. */
  private def writeTelemetryAndAlerts(batch: DataFrame, outDir: String,
      t: Thresholds): Unit = {
    val b = batch.persist()
    try Sinks.concurrently(
      () => Sinks.writePartitioned(b, s"$outDir/vehicle_telemetry"),
      () => Sinks.writePartitioned(FleetRules.telemetryAlerts(b, t), s"$outDir/alerts"))
    finally { b.unpersist(); () }
  }

  /** The E1 pipeline, bounded: drain whatever is in `inDir`, derive alerts
    * with the reference's telemetry rules (speed and battery), write both
    * raw telemetry and alerts as day-partitioned parquet, stop at the end
    * of available data. Each trigger admits one byte-sized wave of files
    * ([[telemetryFileStream]]). The two writes of a batch run
    * concurrently and are both joined before the batch commits
    * ([[writeTelemetryAndAlerts]]); delivery is at-least-once.
    * Checkpointing makes re-runs incremental (only new files process).
    */
  def runAlertPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, t: Thresholds = Thresholds()): StreamingQuery =
    runBatches(telemetryFileStream(s, inDir), checkpointDir) { (batch, _) =>
      writeTelemetryAndAlerts(batch, outDir, t)
    }

  /** Watermarked event-time windowed metrics — incremental metric
    * materialization the reference declared but never built
    * (sql/01_schema.sql:61–67; SURVEY §2.9 extension row).
    * Works on both batch and streaming frames; with a stream, late data
    * beyond the watermark is dropped and windows finalize incrementally.
    */
  def speedMetricsByWindow(telemetry: DataFrame, windowLen: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    telemetry
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), windowLen), col("vehicle_id"))
      .agg(
        avg(col("current_speed_kmh")).as("avg_speed_kmh"),
        max(col("current_speed_kmh")).as("max_speed_kmh"),
        sum(when(col("speed_limit_violation"), 1L).otherwise(0L)).as("violations"),
        count(lit(1)).as("n_samples"))
      .select(col("window.start").as("time_bucket"), col("vehicle_id"),
        col("avg_speed_kmh"), col("max_speed_kmh"), col("violations"), col("n_samples"))

  /** Exactly-once-style ingest dedup (SURVEY §2.9 delivery row: the
    * reference is at-least-once with no dedup — PIPELINE_REAL_DATA.md §4
    * removed ON CONFLICT — so crash-replays duplicate rows; this is the
    * flagged upgrade). Watermarked `dropDuplicatesWithinWatermark` keeps a
    * bounded state store of seen keys: duplicates arriving within the
    * watermark horizon are dropped, state older than the watermark is
    * evicted, so memory is bounded at any scale.
    *
    * The dedup key is `(vehicle_id, xxhash64(raw wire columns))`, NOT the
    * parsed `(vehicle_id, time)`: normalize stamps every
    * unparseable-timestamp record with the same per-batch fallback, so a
    * time-keyed dedup would collapse distinct malformed records in one
    * micro-batch (data loss) while missing crash-replayed malformed
    * records (whose fallback time changed). Content identity is computed
    * on the wire bytes, before any lossy normalization. Triggers are
    * capped as in [[telemetryFileStream]].
    */
  def dedupedTelemetryStream(s: SparkSession, dir: String,
      watermark: String = "10 minutes",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val wire = jsonStream(s, Schemas.telemetryWire.toDDL, dir, maxFilesPerTrigger)
    val wireCols = Schemas.telemetryWire.fieldNames.toSeq.map(col)
    FileReplay.normalize(
        wire.withColumn("wire_hash", xxhash64(wireCols: _*)),
        keep = Seq("wire_hash"))
      .withWatermark("time", watermark)
      .dropDuplicatesWithinWatermark("vehicle_id", "wire_hash")
      .drop("wire_hash")
  }

  /** Deduped alert pipeline: same as [[runAlertPipeline]] but replayed /
    * duplicated wire records within the watermark produce each telemetry
    * row (and its alerts) exactly once.
    */
  def runDedupedAlertPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, t: Thresholds = Thresholds()): StreamingQuery =
    runBatches(dedupedTelemetryStream(s, inDir), checkpointDir) { (batch, _) =>
      writeTelemetryAndAlerts(batch, outDir, t)
    }

  /** Per-vehicle running state carried across micro-batches. */
  final case class VehicleProgress(lastOdometer: Double, totalKm: Double, nRecords: Long)

  /** One emitted row per vehicle per micro-batch. */
  final case class OdometerUpdate(vehicle_id: Int, n_records: Long, total_km: Double)

  /** Custom stateful streaming operator (SURVEY §2.9 "stateful ops"):
    * per-vehicle cumulative distance — the declarative analog of the
    * reference producer's per-vehicle mutable walk state
    * (producer.py:147–164), but on the consumer side and fault-tolerant:
    * state lives in the checkpointed state store, so a stopped and
    * restarted query resumes the running totals exactly.
    *
    * Implemented on `transformWithState` (Spark 4's arbitrary-state
    * processor API, the successor of `flatMapGroupsWithState`): typed
    * `ValueState` per vehicle, no TTL (fleet cardinality is bounded), no
    * timers. Requires the RocksDB state store provider —
    * [[runOdometerProgress]] sets it.
    */
  final class OdometerProcessor
      extends StatefulProcessor[Int, Telemetry, OdometerUpdate] {
    @transient private var progress: ValueState[VehicleProgress] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      progress = getHandle.getValueState[VehicleProgress]("progress",
        Encoders.product[VehicleProgress], TTLConfig.NONE)
    override def handleInputRows(vid: Int, rows: Iterator[Telemetry],
        timers: TimerValues): Iterator[OdometerUpdate] = {
      // full-resolution micros + odometer tiebreak: getTime alone is
      // ms-truncated and tie-breaks by shuffle order, so two same-stamp
      // readings would make batch.last (hence the checkpointed state and
      // a crash-replay's totals) nondeterministic; odometer is monotone
      // per vehicle, so (time, odometer) orders replays identically
      val batch = rows.toSeq.sortBy(r => (eventMicros(r.time), r.odometer_km))
      if (batch.isEmpty) Iterator.empty
      else {
        val prev =
          if (progress.exists()) progress.get()
          else VehicleProgress(batch.head.odometer_km, 0.0, 0L)
        // odometer is monotone per vehicle: distance this batch is the
        // gap from the last seen reading to this batch's final reading
        val km = math.max(0.0, batch.last.odometer_km - prev.lastOdometer)
        val next = VehicleProgress(batch.last.odometer_km,
          prev.totalKm + km, prev.nRecords + batch.size)
        progress.update(next)
        Iterator.single(OdometerUpdate(vid, next.nRecords, next.totalKm))
      }
    }
  }

  /** An event on a per-user stream (the funnel and CEP wires). */
  sealed trait UserEvent { def user_id: Long }

  /** One event on the funnel stream's wire. */
  final case class FunnelEvent(ts: java.sql.Timestamp, user_id: Long,
      event_type: String) extends UserEvent
  /** Per-user funnel clock: first qualifying time of each stage, −1 =
    * not reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  /** Emitted once per user per stage TRANSITION (the funnel event log —
    * stage counts are one group-by over it). */
  final case class FunnelTransition(user_id: Long, stage: Int, at_us: Long)

  // "not reached" sentinel: Long.MinValue, NOT -1 — pre-epoch
  // timestamps are legal negative micros and must not re-open a
  // locked stage
  private[streaming] val FunnelUnset = Long.MinValue

  /** The funnel transition function — ONE step of the per-user state
    * machine, shared verbatim by the in-order twin and the
    * watermark-buffered twin ([[funnelMachine]] under
    * [[InOrderProcessor]] or [[BufferedProcessor]]) so the two can only
    * differ in WHEN events are applied, never in what a step does. */
  private[streaming] def funnelStep(s: FunnelState, us: Long,
      eventType: String): (FunnelState, Option[Int]) =
    eventType match {
      case "view" if s.t1 == FunnelUnset =>
        (s.copy(t1 = us), Some(1))
      case "click" if s.t1 != FunnelUnset && s.t2 == FunnelUnset && us > s.t1 =>
        (s.copy(t2 = us), Some(2))
      case "purchase" if s.t2 != FunnelUnset && s.t3 == FunnelUnset && us > s.t2 =>
        (s.copy(t3 = us), Some(3))
      case _ => (s, None)
    }

  /** A per-user event-time state machine, run by [[InOrderProcessor]] or
    * [[BufferedProcessor]]: `zero` is a new user's state, `order` sorts a
    * user's events (event-time micros first, then a tiebreak), and `step`
    * applies one event, emitting at most one row. `name` names the state
    * variable in the checkpoint. */
  private[streaming] final case class StateMachine[E, S, O](name: String,
      zero: S, order: E => (Long, Long), step: (S, Long, E) => (S, Option[O])) {
    /** Applies `events` to `s` in `order`. */
    def run(s: S, key: Long, events: Seq[E]): (S, Seq[O]) = {
      var cur = s
      val out = Seq.newBuilder[O]
      events.sortBy(order).foreach { e =>
        val (next, o) = step(cur, key, e)
        cur = next
        out ++= o
      }
      (cur, out.result())
    }
  }

  /** Runs a [[StateMachine]] on arrival: each micro-batch's events apply
    * in `order` within the batch, against the state the previous batches
    * left. One value-state per key, no timers. */
  private[streaming] final class InOrderProcessor[E, S, O](m: StateMachine[E, S, O],
      stateEnc: Encoder[S]) extends StatefulProcessor[Long, E, O] {
    @transient private var st: ValueState[S] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](m.name, stateEnc, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[E],
        timers: TimerValues): Iterator[O] = {
      val (s, out) = m.run(if (st.exists()) st.get() else m.zero, key, rows.toSeq)
      st.update(s)
      out.iterator
    }
  }

  /** Watermark-buffered [[StateMachine]] — closes the out-of-order gap the
    * in-order twin declares (VERDICT r10 item 2): instead of applying
    * events on arrival, each user's events are BUFFERED in a ListState
    * and applied in EVENT-TIME order only once the watermark passes
    * them — at which point Spark's late-row filter guarantees no
    * earlier event can still arrive, so the application order is the
    * batch order and the stream equals the batch law (q109's funnel,
    * q118's lead window) for ANY arrival shuffle within the watermark
    * delay (spec-pinned on deliberately scrambled files). Events later
    * than the delay are dropped upstream by the watermark — the standard
    * bounded-disorder contract, with the batch query as the
    * reconciliation beyond it.
    *
    * Mechanics: rows land in the buffer; a drain applies every buffered
    * event with time strictly below the current watermark through the
    * machine's `step` (shared with the in-order twin) and re-buffers the
    * rest, registering an event-time timer at the earliest pending
    * event so a key with no further arrivals still drains when the
    * watermark advances past it. State per user is the machine state
    * plus only the ≤-delay arrival window of events — bounded by
    * disorder, not by history.
    */
  private[streaming] final class BufferedProcessor[E: ClassTag, S, O](
      m: StateMachine[E, S, O], stateEnc: Encoder[S], eventEnc: Encoder[E])
      extends StatefulProcessor[Long, E, O] {
    @transient private var st: ValueState[S] = _
    @transient private var buf: ListState[E] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[S](m.name, stateEnc, TTLConfig.NONE)
      buf = getHandle.getListState[E]("buf", eventEnc, TTLConfig.NONE)
    }
    private def drain(key: Long, wmUs: Long): Iterator[O] = {
      // strict <: an event AT the watermark could still gain a same-
      // timestamp sibling (late-row filtering drops only ts < watermark)
      val (ready, pending) = buf.get().toArray.partition(e => m.order(e)._1 < wmUs)
      val out =
        if (ready.isEmpty) Seq.empty[O]
        else {
          val (s, o) = m.run(if (st.exists()) st.get() else m.zero, key, ready.toSeq)
          st.update(s)
          buf.clear()
          if (pending.nonEmpty) buf.put(pending)
          o
        }
      if (pending.nonEmpty) {
        // idempotent across drains: re-registering an existing expiry
        // logs a state-store warning, so probe the timer list first
        val at = pending.map(m.order(_)._1).min / 1000L + 1L
        if (!getHandle.listTimers().contains(at)) getHandle.registerTimer(at)
      }
      out.iterator
    }
    override def handleInputRows(key: Long, rows: Iterator[E],
        timers: TimerValues): Iterator[O] = {
      rows.foreach(buf.appendValue)
      drain(key, timers.getCurrentWatermarkInMs() * 1000L)
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[O] =
      drain(key, timers.getCurrentWatermarkInMs() * 1000L)
  }

  /** The keyed-stream runner of the funnel and CEP twins: JSONL events
    * keyed by user through `m` — on arrival, or with a `delay` through
    * the watermark buffer — and the emitted rows appended as parquet
    * under `path`. */
  private def runUserStateStream[E <: UserEvent with Product : TypeTag : ClassTag,
      S <: Product : TypeTag, O <: Product : TypeTag](s: SparkSession,
      schema: String, inDir: String, maxFilesPerTrigger: Int,
      delay: Option[String], m: StateMachine[E, S, O], path: String,
      checkpointDir: String): StreamingQuery = {
    import s.implicits._
    useRocksDb(s)
    val raw = jsonStream(s, schema, inDir, Some(maxFilesPerTrigger))
    // permissive JSON nulls a malformed field; an unguarded null ts
    // or user_id would abort the query and checkpoint-replay the same
    // file forever. Rows needing quarantine instead of a drop route
    // through runExpectationGateStream's contract first.
    val events = raw.filter(raw.columns.map(c => col(c).isNotNull).reduce(_ && _))
    val byUser = delay.fold(events)(events.withWatermark("ts", _))
      .as[E].groupByKey(_.user_id)
    val out = delay match {
      case None =>
        byUser.transformWithState(new InOrderProcessor(m, Encoders.product[S]),
          TimeMode.None(), OutputMode.Append())
      case Some(_) =>
        byUser.transformWithState(
          new BufferedProcessor(m, Encoders.product[S], Encoders.product[E]),
          TimeMode.EventTime(), OutputMode.Append())
    }
    appendParquet(out.toDF(), path, checkpointDir)
  }

  /** Streaming funnel — the stateful twin of batch q109's ordered
    * view → click → purchase funnel: a per-user three-slot state
    * machine (first view; first click after it; first purchase after
    * that), emitting one row per stage transition. State is three longs
    * per user, no timers, bounded by user cardinality.
    *
    * Ordering contract: within a micro-batch rows process in event-time
    * order, so the operator equals batch q109 whenever each user's
    * events ARRIVE in time order across batches (the usual funnel-feed
    * assumption). A later batch delivering an EARLIER view cannot
    * retract an already-locked stage — the streaming result is then a
    * conservative approximation, exactly the stream-vs-batch gap every
    * no-retraction funnel has; the batch query is the reconciliation.
    */
  private val funnelMachine = StateMachine[FunnelEvent, FunnelState, FunnelTransition](
    "funnel", FunnelState(FunnelUnset, FunnelUnset, FunnelUnset),
    e => (eventMicros(e.ts), 0L),
    (s, uid, e) => {
      val us = eventMicros(e.ts)
      val (next, stage) = funnelStep(s, us, e.event_type)
      (next, stage.map(FunnelTransition(uid, _, us)))
    })

  private val funnelSchema = "ts TIMESTAMP, user_id LONG, event_type STRING"

  /** Funnel-stream runner: JSONL event batches → stage-transition log,
    * appended as parquet (on the RocksDB state store). */
  def runFunnelStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 10): StreamingQuery =
    runUserStateStream(s, funnelSchema, inDir, maxFilesPerTrigger, None,
      funnelMachine, s"$outDir/funnel_transitions", checkpointDir)

  /** Buffered-funnel runner: [[runFunnelStream]] with the watermark
    * buffer — `delay` is the declared disorder bound (events arriving
    * more than `delay` behind the max seen event time are dropped by
    * the watermark, everything inside it is re-ordered exactly). */
  def runBufferedFunnelStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, delay: String = "1 hour",
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    runUserStateStream(s, funnelSchema, inDir, maxFilesPerTrigger, Some(delay),
      funnelMachine, s"$outDir/funnel_transitions", checkpointDir)

  /** Timestamp → epoch micros at FULL microsecond resolution: getTime is
    * ms-truncated, the sub-ms part rides in getNanos — dropping it would
    * collapse sub-millisecond gaps the batch queries count. Shared by
    * every stateful processor that sorts or compares event times. */
  private def eventMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Last two events of ANY type per user (the CEP pattern needs strict
    * contiguity, so non-error events must be SEEN to break a run);
    * n = how many events observed so far (0/1/2+). */
  final case class CepState(n: Int, id1: Long, ts1: Long, e1: Boolean,
      id2: Long, ts2: Long, e2: Boolean)
  final case class CepEvent(ts: java.sql.Timestamp, user_id: Long,
      event_id: Long, event_type: String) extends UserEvent
  /** One row per detected incident — batch q118's exact schema. */
  final case class CepIncident(user_id: Long, first_id: Long, last_id: Long,
      start_us: Long, end_us: Long, span_us: Long)

  /** The CEP transition function — ONE step of the last-two-events
    * machine, shared verbatim by the in-order and the watermark-buffered
    * twin ([[cepMachine]]).
    * The monotonicity guard (ts1 <= ts2 <= us): a LATE event — one
    * applied after a later-timestamped event already entered the
    * state — must not form an incident (us − ts1 could be negative and
    * would pass the window check trivially); in the buffered twin the
    * drain order makes the guard vacuous, in the in-order twin it is
    * the conservative no-retraction contract. */
  private[streaming] def cepStep(s: CepState, uid: Long, e: CepEvent,
      windowUs: Long): (CepState, Option[CepIncident]) = {
    val us = eventMicros(e.ts)
    val isErr = e.event_type == "error"
    val out =
      if (s.n >= 2 && s.e1 && s.e2 && isErr
          && s.ts1 <= s.ts2 && s.ts2 <= us && us - s.ts1 <= windowUs)
        Some(CepIncident(uid, s.id1, e.event_id, s.ts1, us, us - s.ts1))
      else None
    (CepState(math.min(s.n + 1, 2),
      s.id2, s.ts2, s.e2, e.event_id, us, isErr), out)
  }

  /** Streaming sequence-pattern (CEP) detection — the stateful twin of
    * batch q118: three strictly consecutive 'error' events per user
    * within `windowUs`, emitted as one incident per anchor (AFTER MATCH
    * SKIP TO NEXT ROW, like the batch lead-window form). State is the
    * last TWO events per user — a fixed-length strict-contiguity
    * pattern needs exactly (patternLen − 1) rows of lookback, the
    * transformWithState analogue of the batch query's two LEADs; a
    * variable-length pattern (`error+`) would grow this to an open run
    * summary, same operator shape.
    *
    * Ordering contract ([[funnelMachine]]'s): rows sort by
    * (event time, event_id) within a micro-batch, so the stream equals
    * batch q118 whenever each user's events arrive time-ordered across
    * batches; a late event cannot retro-break an already-emitted run —
    * the batch query is the reconciliation. The watermark-buffered twin
    * ([[runBufferedErrorBurstStream]]) equals the lead-window law under
    * ANY arrival shuffle within the delay — including the late error the
    * in-order twin conservatively refuses to match (spec-pinned against
    * the batch plan on scrambled files).
    */
  private def cepMachine(windowUs: Long) =
    StateMachine[CepEvent, CepState, CepIncident](
      "cep", CepState(0, 0L, 0L, false, 0L, 0L, false),
      e => (eventMicros(e.ts), e.event_id),
      (s, uid, e) => cepStep(s, uid, e, windowUs))

  private val cepSchema = "ts TIMESTAMP, user_id LONG, event_id LONG, event_type STRING"

  /** CEP-stream runner: JSONL event batches → incident log, appended as
    * parquet (on the RocksDB state store). */
  def runErrorBurstStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, windowUs: Long = 86400000000L,
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    runUserStateStream(s, cepSchema, inDir, maxFilesPerTrigger, None,
      cepMachine(windowUs), s"$outDir/error_incidents", checkpointDir)

  /** Buffered-CEP runner: [[runErrorBurstStream]] with the watermark
    * buffer ([[runBufferedFunnelStream]]'s contract — `delay` is the
    * declared disorder bound). */
  def runBufferedErrorBurstStream(s: SparkSession, inDir: String,
      outDir: String, checkpointDir: String,
      windowUs: Long = 86400000000L, delay: String = "26 hours",
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    runUserStateStream(s, cepSchema, inDir, maxFilesPerTrigger, Some(delay),
      cepMachine(windowUs), s"$outDir/error_incidents", checkpointDir)

  /** Streaming anomaly gate — q112's robust median/MAD model fitted ONCE
    * from the stored corpus at stream start ([[graft.queries.Windowed.madModel]],
    * the langid/quality-gate pattern), each arriving micro-batch scored
    * by the SHARED scoring core: an arriving event flags if and only if
    * the batch audit would flag it against the same corpus medians.
    * Anomalies land as an append-only log with the score attached; the
    * 5-row model broadcast makes the per-batch cost one map-side join.
    */
  def runAnomalyGateStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      threshold: Double = 3.5,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val model = graft.queries.Windowed.madModel(s, corpusDir)
    runGate(jsonStream(s, "ts TIMESTAMP, event_id LONG, event_type STRING, value DOUBLE",
        inDir, Some(maxFilesPerTrigger)), s"$outDir/anomalies", checkpointDir) { batch =>
      graft.queries.Windowed.madScore(
          batch.select(col("event_id"), col("event_type"), col("value")),
          model, threshold)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("score"))
    }
  }

  /** Per-vehicle cumulative distance rows, one per vehicle per batch. */
  def odometerProgress(telemetry: Dataset[Telemetry]): Dataset[OdometerUpdate] = {
    import telemetry.sparkSession.implicits._
    telemetry
      .groupByKey(_.vehicle_id)
      .transformWithState(new OdometerProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Stateful leg runner: telemetry stream → per-batch cumulative rows,
    * on the RocksDB state store ([[useRocksDb]]). */
  def runOdometerProgress(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    import s.implicits._
    useRocksDb(s)
    appendParquet(odometerProgress(telemetryFileStream(s, inDir).as[Telemetry]).toDF(),
      s"$outDir/odometer_progress", checkpointDir)
  }

  /** Streaming sessionization (the streaming twin of batch q35): telemetry
    * grouped into driving sessions split on `gap` of silence, via Spark's
    * native `session_window` — state merges windows as rows arrive and a
    * session finalizes (appears in append output) once the watermark
    * passes its end. Batch q35 uses the cumulative-flag window form
    * because batch has no state store; both implement the same 30-min-gap
    * semantics at their respective lifecycles. State per key is one open
    * session range, evicted at finalization — bounded by fleet
    * cardinality, not history.
    */
  def sessionizedTelemetry(telemetry: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 minutes"): DataFrame =
    telemetry
      .withWatermark("time", watermark)
      .groupBy(session_window(col("time"), gap), col("vehicle_id"))
      .agg(count(lit(1)).as("n_samples"),
        max(col("current_speed_kmh")).as("max_speed_kmh"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("vehicle_id"), col("n_samples"), col("max_speed_kmh"))

  /** Session-window runner: finalized driving sessions appended as parquet. */
  def runSessionPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, gap: String = "30 minutes"): StreamingQuery =
    appendParquet(sessionizedTelemetry(telemetryFileStream(s, inDir), gap),
      s"$outDir/driving_sessions", checkpointDir)

  /** Stream-stream interval join (SURVEY §2.4 extension: the reference
    * evaluates collision rules on perception events alone,
    * consumer.py:112–124 — it cannot answer "how fast was OUR vehicle
    * moving when the risky object was seen" without a second lookup; a
    * native engine joins the two live streams). Each perception event is
    * enriched with the same vehicle's telemetry samples within
    * ±`tolerance` of the sighting.
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions, so Spark provably evicts state: a buffered
    * telemetry row can be dropped once the perception watermark passes
    * its time + tolerance (and vice versa) — state stays
    * O(rate × (watermark + tolerance)) regardless of stream length,
    * which is what lets this run unbounded on a 1000-executor cluster.
    *
    * `joinType` "inner" (default) or "leftOuter": left-outer KEEPS
    * perception sightings with no concurrent telemetry (a perception unit
    * reporting while the telemetry feed is down is precisely the row an
    * operator wants to see) — the null-padded row is emitted only once
    * the watermark proves no matching telemetry can still arrive, which
    * is the same eviction bound as the inner form, just surfaced instead
    * of discarded.
    */
  def perceptionTelemetryJoin(telemetry: DataFrame, perception: DataFrame,
      tolerance: String = "10 seconds",
      watermark: String = "2 minutes",
      joinType: String = "inner"): DataFrame = {
    val tel = telemetry
      .select(col("vehicle_id").as("tel_vehicle_id"), col("time").as("tel_time"),
        col("current_speed_kmh"), col("speed_limit_violation"))
      .withWatermark("tel_time", watermark)
    val per = perception
      .select(col("vehicle_id"), col("time").as("per_time"), col("object_class"),
        col("object_distance_m"), col("object_speed_kmh"), col("confidence"))
      .withWatermark("per_time", watermark)
    per.join(tel,
        col("vehicle_id") === col("tel_vehicle_id") &&
          col("tel_time") >= col("per_time") - expr(s"INTERVAL $tolerance") &&
          col("tel_time") <= col("per_time") + expr(s"INTERVAL $tolerance"),
        joinType)
      .drop("tel_vehicle_id")
  }

  /** Interval-join runner: perception sightings enriched with concurrent
    * own-vehicle telemetry, appended as parquet. Both inputs are JSONL
    * landing dirs (the file twins of the two Kafka topics).
    */
  def runPerceptionContext(s: SparkSession, telemetryDir: String,
      perceptionDir: String, outDir: String, checkpointDir: String,
      tolerance: String = "10 seconds"): StreamingQuery = {
    val tel = telemetryFileStream(s, telemetryDir)
    val per = s.readStream.schema(Schemas.perception).json(perceptionDir)
    appendParquet(perceptionTelemetryJoin(tel, per, tolerance),
      s"$outDir/perception_context", checkpointDir)
  }

  /** Proximity-pair join — the real-time generalization of the
    * reference's within-poll proximity perception
    * (opensky_source.py:101–143) and the streaming twin of q13's banded
    * self-pairing: emit every pair of DIFFERENT vehicles whose position
    * reports lie within `radiusM` metres (planar dlat/dlon metric,
    * [[graft.sources.OpenSkyMap.proximityPerception]]'s formula) AND
    * within ±`tolerance` of each other in event time.
    *
    * Candidates come from a lat/lon grid equi-join, never a cross
    * product: the left leg explodes each report into its own grid cell
    * plus the 8 neighbors, the right leg keeps its single own cell, and
    * the cell widths equal the maximum per-axis delta an in-radius pair
    * can have (radius/111 km latitude; the 0.7 longitude-scale floor —
    * the SAME planar metric and coverage rule as
    * [[graft.sources.OpenSkyMap.proximityPerception]]'s 50 km batch
    * form; a change to either formula must land in both) —
    * so any in-radius pair meets in exactly ONE bucket (the right row's
    * own cell) and the join key cardinality grows with airspace density
    * instead of going quadratic. `left_vehicle_id < right_vehicle_id`
    * halves the state and de-duplicates the symmetric pair.
    *
    * Works unchanged on static frames (the spec's batch twin) and on
    * streams: callers watermark BOTH inputs before the call, and the
    * time-range predicate is what lets Structured Streaming expire
    * per-cell state at `watermark + tolerance` — state is
    * O(rate × (watermark + tolerance)) at any stream length, the
    * [[perceptionTelemetryJoin]] bound applied to a self-join.
    */
  def proximityPairJoin(left: DataFrame, right: DataFrame,
      radiusM: Double = 500.0,
      tolerance: String = "10 seconds"): DataFrame = {
    // cell width == max per-axis delta (|Δ| <= width ⇒ cells at most 1
    // apart ⇒ the 3×3 explode covers every in-radius pair)
    val cellLatDeg = radiusM / 111000.0
    val cellLonDeg = radiusM / (111000.0 * 0.7)
    def cellLat(c: org.apache.spark.sql.Column) =
      floor(c / cellLatDeg).cast("long")
    def cellLon(c: org.apache.spark.sql.Column) =
      floor(c / cellLonDeg).cast("long")
    val probe = left
      .filter(col("latitude").isNotNull && col("longitude").isNotNull)
      .select(col("vehicle_id").as("l_vehicle_id"), col("time").as("l_time"),
        col("latitude").as("l_lat"), col("longitude").as("l_lon"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct((cellLat(col("latitude")) + dx).as("clat"),
            (cellLon(col("longitude")) + dy).as("clon"))): _*)).as("c"))
      .select(col("l_vehicle_id"), col("l_time"), col("l_lat"), col("l_lon"),
        col("c.clat").as("clat"), col("c.clon").as("clon"))
    val build = right
      .filter(col("latitude").isNotNull && col("longitude").isNotNull)
      .select(col("vehicle_id").as("r_vehicle_id"), col("time").as("r_time"),
        col("latitude").as("r_lat"), col("longitude").as("r_lon"),
        cellLat(col("latitude")).as("clat"), cellLon(col("longitude")).as("clon"))
    val dlat = (col("l_lat") - col("r_lat")) * 111000.0
    val dlon = (col("l_lon") - col("r_lon")) * 111000.0 *
      greatest(lit(0.7), abs(col("r_lat")) / 90.0)
    probe.join(build,
        col("l_vehicle_id") < col("r_vehicle_id") &&
          probe("clat") === build("clat") && probe("clon") === build("clon") &&
          col("r_time") >= col("l_time") - expr(s"INTERVAL $tolerance") &&
          col("r_time") <= col("l_time") + expr(s"INTERVAL $tolerance"))
      .withColumn("dist_m", round(sqrt(dlat * dlat + dlon * dlon), 2))
      .filter(col("dist_m") <= radiusM)
      .select(col("l_vehicle_id"), col("r_vehicle_id"),
        col("l_time"), col("r_time"), col("dist_m"))
  }

  /** Proximity-pair runner: the telemetry landing dir self-joined into a
    * continuous stream of close-encounter pairs, appended as parquet —
    * the collision-risk rule (consumer.py:110–120) lifted from
    * per-record perception input to PAIRS derived from positions alone.
    */
  def runProximityStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, radiusM: Double = 500.0,
      tolerance: String = "10 seconds",
      watermark: String = "2 minutes"): StreamingQuery = {
    val tel = telemetryFileStream(s, inDir)
      .select(col("vehicle_id"), col("time"), col("latitude"), col("longitude"))
      // normalize defaults a missing position to (0, 0) — "null island".
      // A position-less report must not manufacture close encounters
      // there, so the exact origin is excluded (a real fix at 0°N 0°E is
      // six significant figures away from (0.000000, 0.000000) in the
      // wire's 6-dp rounding, reference producer.py:72)
      .filter(!(col("latitude") === 0.0 && col("longitude") === 0.0))
    val l = tel.withWatermark("time", watermark)
    val r = tel.withWatermark("time", watermark)
    appendParquet(proximityPairJoin(l, r, radiusM, tolerance),
      s"$outDir/proximity_pairs", checkpointDir)
  }

  /** Streaming corpus heavy hitters: the Misra–Gries aggregate
    * ([[graft.functions.expressions.FreqSketch]]) as STREAMING STATE — a
    * mergeable sketch is exactly what a streaming global aggregate needs,
    * so the same kernel that powers q67b's batch pass materializes a
    * continuously-updated top-token summary here. Each micro-batch's
    * partial sketch merges into the ≤ k-entry state-store buffer
    * (complete-mode global agg: state is ONE serialized sketch + a count,
    * bounded at any corpus size); every trigger overwrites the snapshot
    * parquet with the current (token, est) rows plus the exact running
    * token total. The q67b bounds (est ≤ c, c − est ≤ N/257, no heavy
    * hitter lost) hold across batch boundaries and checkpoint restarts —
    * pinned in StreamingSpec, including an incremental restart.
    *
    * One doc per input line (whitespace-tokenized), mirroring the batch
    * corpus shape.
    */
  def runTokenHeavyHitters(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val docs = s.readStream
      .option("maxFilesPerTrigger", 1)
      .text(inDir)
    val sketch = docs
      .select(explode(split(col("value"), " ")).as("token"))
      .agg(graft.functions.expressions.freq_sketch(col("token")).as("sk"),
        count(lit(1)).as("n_tokens"))
    runBatches(sketch, checkpointDir, "complete") { (batch, _) =>
      batch
        // explode_outer: an empty sketch (no input yet) must still
        // snapshot one row carrying the running total, not an empty file
        .select(explode_outer(col("sk")).as("e"), col("n_tokens"))
        .select(col("e.token"), col("e.est"), col("n_tokens"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$outDir/token_heavy_hitters")
    }
  }

  /** Windowed streaming heavy hitters: [[runTokenHeavyHitters]]'s global
    * sketch, per event-time window — `freq_sketch` under a watermarked
    * `groupBy(window(...))`, so each window holds ONE ≤k-entry sketch in
    * the state store and the watermark evicts finalized windows
    * (bounded state in BOTH dimensions: per-window by k, across windows
    * by the watermark horizon). Append mode: a window's top tokens are
    * emitted exactly once, when the watermark passes it — the
    * trending-terms materialization over a document stream.
    *
    * Input rows: JSONL `{"ts": "...", "text": "..."}` (one document per
    * line, whitespace-tokenized).
    */
  def runWindowedHeavyHitters(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, windowLen: String = "1 minute",
      watermark: String = "2 minutes"): StreamingQuery =
    appendParquet(jsonStream(s, "ts TIMESTAMP, text STRING", inDir, Some(1))
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("token"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.expressions.freq_sketch(col("token")).as("sk"),
        count(lit(1)).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        explode(col("sk")).as("e"), col("n_tokens"))
      .select(col("window_start"), col("e.token"), col("e.est"), col("n_tokens")),
      s"$outDir/windowed_heavy_hitters", checkpointDir)

  /** Streaming metrics leg: windowed speed metrics appended as parquet
    * once each window finalizes (append mode + watermark). Writes its own
    * wide table; the reference-schema long `self_driving_metrics` table is
    * populated by [[graft.metrics.MetricsRefresh]].
    */
  def runMetricsPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    appendParquet(speedMetricsByWindow(telemetryFileStream(s, inDir)),
      s"$outDir/speed_metrics_windowed", checkpointDir)

  /** Streaming corpus drift monitor — q80's ingest-shift report as a live
    * guard: per event-time window, each token's realized rate in the
    * arriving document stream is compared against its rate in a BASELINE
    * corpus (computed batch-side once at start, broadcast into every
    * micro-batch), and tokens whose absolute rate shift exceeds
    * `threshold` are appended as alert rows. The thing a continuously fed
    * training pipeline actually watches: a scraper gone wrong or a
    * domain-mix switch shows up as a handful of tokens surging within a
    * window, long before any model-side signal.
    *
    * Two-level aggregation (per-window token counts, then per-window
    * totals) doesn't fit one streaming agg, so the watermarked windowed
    * counts finalize in append mode and the per-window normalization +
    * baseline join + threshold run inside foreachBatch — valid because
    * append mode emits a window's rows exactly once, complete, after the
    * watermark passes. State is bounded by (windows in the horizon ×
    * vocabulary); the baseline is a static broadcast.
    */
  def runTokenDriftMonitor(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String, windowLen: String = "1 minute",
      watermark: String = "2 minutes", threshold: Double = 0.02): StreamingQuery = {
    import s.implicits._
    val base = graft.sources.Tables.documents(s, corpusDir)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("bc"))
    // materialized ONCE before the stream starts (localCheckpoint is
    // eager and truncates lineage): as a lazy plan the full corpus
    // token-count aggregate would re-execute inside every micro-batch's
    // baseline join — the scaladoc's "computed batch-side once" contract,
    // now actually enforced
    val baseline = base.crossJoin(broadcast(base.groupBy().agg(sum($"bc").as("bn"))))
      .select($"token", ($"bc".cast("double") / $"bn").as("base_rate"))
      .localCheckpoint()
    runGate(windowedTokenCounts(s, inDir, windowLen, watermark),
        s"$outDir/token_drift", checkpointDir) { batch =>
      val tot = batch.groupBy($"w").agg(sum($"c").as("n"))
      batch.join(tot, Seq("w"))
        .join(broadcast(baseline), Seq("token"), "left")
        .select($"w.start".as("window_start"), $"token", $"c",
          ($"c".cast("double") / $"n").as("rate"),
          coalesce($"base_rate", lit(0.0)).as("base_rate"))
        .withColumn("drift", abs($"rate" - $"base_rate"))
        .filter($"drift" >= threshold)
    }
  }

  /** The drift and novelty monitors' input: watermarked per-(window,
    * token) counts of a JSONL document stream, one file per trigger. */
  private def windowedTokenCounts(s: SparkSession, inDir: String,
      windowLen: String, watermark: String): DataFrame =
    jsonStream(s, "ts TIMESTAMP, doc_id LONG, text STRING", inDir, Some(1))
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("w"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy(col("w"), col("token"))
      .agg(count(lit(1)).as("c"))

  /** Streaming vocabulary-novelty monitor — q98's Heaps-law curve as a
    * live ingest guard: per event-time window, how many tokens arrived,
    * how many distinct terms, and how many of those terms the BASELINE
    * corpus has never seen. A saturated corpus admits novelty at a
    * decaying Heaps rate, so a novelty spike is the earliest signal of a
    * broken scraper, an encoding regression (mojibake mints "new" terms
    * by the thousand) or an unplanned domain switch — cheaper to watch
    * than q80's per-token drift and complementary to it (drift sees
    * known tokens surging; this sees unknown tokens appearing).
    *
    * Same two-level shape as [[runTokenDriftMonitor]]: watermarked
    * per-(window, token) counts finalize once in append mode, then the
    * per-window reduction and the baseline anti-join run in foreachBatch.
    * The baseline is the corpus's distinct-term set — vocabulary-bounded
    * at any corpus size (q98's saturation argument) — materialized once
    * at stream start. Windows are judged independently against the
    * stored-corpus vocabulary (not cumulatively against earlier stream
    * windows): admission into the baseline is an explicit batch-side
    * step (the q82/q95 append contract), not a streaming side effect.
    */
  def runVocabNoveltyMonitor(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String, windowLen: String = "1 minute",
      watermark: String = "2 minutes"): StreamingQuery = {
    import s.implicits._
    val vocab = graft.sources.Tables.documents(s, corpusDir)
      .select(explode(split($"text", " ")).as("token"))
      .distinct()
      .localCheckpoint()
    runGate(windowedTokenCounts(s, inDir, windowLen, watermark),
        s"$outDir/vocab_novelty", checkpointDir) { batch =>
      val novel = batch.join(vocab, Seq("token"), "left_anti")
        .groupBy($"w").agg(count(lit(1)).as("n_new"))
      batch.groupBy($"w")
        .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"))
        .join(novel, Seq("w"), "left")
        .select($"w.start".as("window_start"), $"n_tokens",
          $"n_distinct", coalesce($"n_new", lit(0L)).as("n_new_terms"))
        .withColumn("new_frac",
          $"n_new_terms".cast("double") / $"n_distinct")
    }
  }

  /** Streaming ANN lookup against a trained PQ index (the online-retrieval
    * half of q78: train once over the corpus, then serve arriving query
    * vectors). Query embeddings stream in as JSONL; each micro-batch
    * quantizes them and runs EXACTLY the batch ADC scoring
    * ([[graft.queries.VectorOps.pqAdcTopK]], shared function) against the
    * index trained at stream start — so stream results == batch results
    * on the same parsed rows by construction (StreamingSpec pins it).
    *
    * Scale shape: the index codes table is the compressed store (8 code
    * ids per corpus vector) materialized once; per batch the only
    * corpus-side work is codes ⋈ a broadcast nq·M·K distance table plus
    * one partial-agg shuffle — no decompression, no re-training. Ranking
    * windows aren't streamable, which is why the scoring runs per
    * micro-batch inside foreachBatch (availableNow-bounded here; a live
    * trigger works identically).
    */
  def runPqLookupStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String, k: Int = 5,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val idx = graft.queries.VectorOps.pqTrainCached(s, corpusDir)
    runGate(jsonStream(s, "ts TIMESTAMP, query_id LONG, embedding ARRAY<FLOAT>",
        inDir, Some(maxFilesPerTrigger)), s"$outDir/pq_lookup", checkpointDir) { batch =>
      val queries = batch.select(col("query_id").as("vec_id"),
        graft.functions.expressions.quantize_vec(col("embedding"))
          .cast("array<bigint>").as("xq"))
      graft.queries.VectorOps.pqAdcTopK(queries, idx, k)
    }
  }

  /** Streaming twin of q84 — BM25 retrieval serving: arriving query
    * documents (ts, query_id, text) retrieve their top-`k` matches from
    * the corpus weight store ([[graft.queries.TextOps.bm25StoreCached]]
    * — built once, the retrieval serving artifact). Each micro-batch
    * tokenizes its queries to distinct term hashes and runs EXACTLY the
    * batch serving leg ([[graft.queries.TextOps.bm25TopK]], shared
    * function): one broadcast inverted query index per batch into one
    * Bm25ScanTopK scan, broadcast destroyed after the bounded result
    * materializes. A query therefore ranks identically in the stream
    * and in batch q84 (StreamingSpec pins stream == batch), and the
    * per-batch cost is one corpus scan — never a corpus shuffle.
    */
  def runBm25LookupStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String, k: Int = 5,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val store = graft.queries.TextOps.bm25StoreCached(s, corpusDir)
    runBatches(jsonStream(s, "ts TIMESTAMP, query_id LONG, text STRING",
        inDir, Some(maxFilesPerTrigger)), checkpointDir) { (batch, batchId) =>
      // null guard (runFunnelStream's rule): permissive JSON nulls the
      // fields of a corrupt line — an unguarded getLong/getSeq would
      // NPE, and the checkpoint would replay the same batch forever
      val qrows = batch
        .filter(col("query_id").isNotNull && col("text").isNotNull)
        .select(col("query_id"),
          array_distinct(transform(split(col("text"), " "),
            t => xxhash64(t))).as("hs"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      if (qrows.nonEmpty)
        writeBatch(graft.queries.TextOps.bm25TopK(store, qrows, k),
          s"$outDir/bm25_lookup", batchId)
    }
  }

  /** Streaming twin of q88 — hybrid retrieval serving: arriving queries
    * carry BOTH modalities (ts, query_id, text, embedding) and every
    * micro-batch runs EXACTLY the two batch serving legs against
    * artifacts prepared once at stream start — [[graft.queries.TextOps
    * .bm25TopK]] over the cached weight store and [[graft.queries
    * .VectorOps.cosineServe]] over the corpus embeddings — then the
    * shared RRF fusion ([[graft.queries.Retrieval.rrfFuse]]). A query
    * therefore fuses identically in stream and batch q88 (StreamingSpec
    * pins it). Per-batch cost: one weight-store scan + one embeddings
    * scan, each against a broadcast request set — never a corpus
    * shuffle. The batch rows are collected to the driver (bounded by
    * the serving-batch contract) and re-created on the artifact
    * session, so no plan ever mixes the foreachBatch clone with the
    * stream-start session.
    */
  def runHybridLookupStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String, depth: Int = 20, topN: Int = 10,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val store = graft.queries.TextOps.bm25StoreCached(s, corpusDir)
    val emb = graft.sources.Tables.embeddings(s, corpusDir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"))
    runBatches(jsonStream(s,
        "ts TIMESTAMP, query_id LONG, text STRING, embedding ARRAY<FLOAT>",
        inDir, Some(maxFilesPerTrigger)), checkpointDir) { (batch, batchId) =>
      // null guard (see runBm25LookupStream) + ONE collect for both
      // modalities — two separate collects re-listed and re-parsed the
      // trigger's JSON twice per micro-batch
      val rows = batch
        .filter(col("query_id").isNotNull && col("text").isNotNull &&
          col("embedding").isNotNull)
        .select(col("query_id"),
          array_distinct(transform(split(col("text"), " "),
            t => xxhash64(t))).as("hs"),
          col("embedding"))
        .collect()
      val qrows = rows.map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      val qvecs = rows.map(r => (r.getLong(0), r.getSeq[Float](2))).sortBy(_._1)
      if (qrows.nonEmpty) {
        val session = store.sparkSession
        import session.implicits._
        val lex = graft.queries.TextOps.bm25TopK(store, qrows, depth)
        val dense = graft.queries.VectorOps.cosineServe(emb,
          qvecs.toSeq.toDF("query_id", "q_emb"), depth)
        writeBatch(graft.queries.Retrieval.rrfFuse(lex, dense, topN),
          s"$outDir/hybrid_lookup", batchId)
      }
    }
  }

  /** Streaming twin of q85 — LM perplexity gating on the ingest path:
    * the bigram LM is trained ONCE batch-side on the stored split
    * ([[graft.queries.TextOps.trainBigramLm]] — materialized tables, the
    * token-drift-monitor baseline contract) and every arriving
    * micro-batch scores its documents through the SHARED scoring leg
    * ([[graft.queries.TextOps.lmScoreDocs]]): per-doc bigram count,
    * exact fixed-point log-prob sum, average. A document scores
    * identically in stream and batch (StreamingSpec pins it); batch
    * q85's worst-100 report is the corpus-level view of the same
    * numbers. Per-batch cost: one scan of the batch against the
    * vocabulary²-bounded LM tables — no corpus access at all.
    */
  def runLmPerplexityStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val lm = graft.queries.TextOps.bigramLmCached(s, corpusDir)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/lm_scores",
        checkpointDir) { batch =>
      graft.queries.TextOps.lmScoreDocs(batch.select(col("doc_id"), col("text")), lm)
    }
  }

  /** The text gates' input: `(ts, doc_id, text)` JSONL documents. */
  private def docStream(s: SparkSession, inDir: String,
      maxFilesPerTrigger: Int): DataFrame =
    jsonStream(s, "ts TIMESTAMP, doc_id LONG, text STRING", inDir,
      Some(maxFilesPerTrigger))

  /** Streaming twin of q100 — the trained language-ID gate on the ingest
    * path: the NB model ([[graft.queries.LangId.langIdModelCached]]) is
    * fitted ONCE at stream start on the stored split of `corpusDir`, and
    * each arriving micro-batch is classified by EXACTLY the batch scoring
    * leg ([[graft.queries.LangId.langIdScoreDocs]], shared function) — a
    * document gets the same (lang_pred, score_fp) in stream and batch by
    * construction (StreamingSpec pins it). Per-batch cost is one
    * batch-sized scan against the broadcast model; the stored corpus is
    * never touched after training.
    */
  def runLangIdGateStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val m = graft.queries.LangId.langIdModelCached(s, corpusDir)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/langid",
        checkpointDir) { batch =>
      graft.queries.LangId.langIdScoreDocs(batch.select(col("doc_id"), col("text")), m)
    }
  }

  /** Streaming twin of q139 — per-window code-switch detection on the
    * ingest path: q100's model is loaded once at stream start, and each
    * arriving micro-batch runs the SHARED
    * [[graft.queries.LangId.codeSwitchSummary]] core (16-word windows,
    * per-chunk NbScore kernel pass, vote argmax) — a document gets the
    * same (n_chunks, n_langs, dominant_lang, n_switches) verdict in
    * stream and batch by construction. The langid gate labels the doc;
    * this gate flags when the label is only majority-true. */
  def runCodeSwitchGateStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val m = graft.queries.LangId.langIdModelCached(s, corpusDir)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/codeswitch",
        checkpointDir) { batch =>
      graft.queries.LangId.codeSwitchSummary(batch.select(col("doc_id"), col("text")), m)
    }
  }

  /** Streaming twin of q151 — the data-card QUALITY GATE on the ingest
    * path: the stored corpus's per-source cards
    * ([[graft.queries.TextOps.sourceCards]]) are computed ONCE at stream
    * start (sources-bounded frame), and each arriving micro-batch is
    * carded by the SAME function and compared against them
    * ([[graft.queries.TextOps.dataCardFlags]], shared core): a new
    * source, a mean-length drift outside [½, 2]×, or a short-doc spike
    * > 2× raises a per-(batch, source) flag row — operator alerting
    * before a bad feed pollutes the corpus, the card-level counterpart
    * of the row-level anomaly/langid/quality gates. Flag comparisons
    * are exact long cross-multiplications, and writes go through
    * [[writeBatch]].
    */
  def runDataCardGateStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val stored = graft.queries.TextOps.sourceCards(
      graft.sources.Tables.documents(s, corpusDir)
        .select(col("source"), col("lang"), col("text")))
      .localCheckpoint()
    runGate(jsonStream(s,
        "ts TIMESTAMP, doc_id LONG, text STRING, lang STRING, source STRING",
        inDir, Some(maxFilesPerTrigger)), s"$outDir/card_flags", checkpointDir) { batch =>
      graft.queries.TextOps.dataCardFlags(
        batch.select(col("source"), col("lang"), col("text")), stored)
    }
  }

  /** Streaming twin of q102 — the model-based quality gate on the ingest
    * path: the weak-supervised binary NB
    * ([[graft.queries.LangId.qualityModelCached]]) is fitted once at
    * stream start, and each arriving micro-batch is scored into the
    * (doc_id, nb_keep, margin_fp) verdict by the SHARED
    * [[graft.queries.LangId.langIdScoresAll]] core — an arriving
    * document gets the same margin in stream and batch by construction.
    * Complements the rule gate ([[runGopherGateStream]]): rules judge
    * form, the model judges resemblance to the kept corpus.
    */
  def runQualityGateStream(s: SparkSession, corpusDir: String, inDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val m = graft.queries.LangId.qualityModelCached(s, corpusDir)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/quality",
        checkpointDir) { batch =>
      graft.queries.LangId.langIdScoresAll(
        batch.select(col("doc_id"), col("text")), m)
        .groupBy(col("doc_id"))
        .agg(max(when(col("lang") === "keep", col("score_fp"))).as("s_keep"),
          max(when(col("lang") === "drop", col("score_fp"))).as("s_drop"))
        .select(col("doc_id"),
          (col("s_keep") - col("s_drop") > 0).as("nb_keep"),
          (col("s_keep") - col("s_drop")).as("margin_fp"))
    }
  }

  /** Streaming twin of q82 — incremental near-dup dedup of an ARRIVING
    * document stream against a PERSISTED MinHash band index
    * ([[graft.queries.TextOps.saveMinHashIndex]]): the index is loaded
    * once at stream start, and each micro-batch runs EXACTLY the batch
    * scoring ([[graft.queries.TextOps.dedupAgainstIndex]], shared
    * function) — shingle + band the arriving docs, probe the stored band
    * buckets, verify candidates by exact Jaccard against the stored
    * shingle arrays. A document therefore matches in the stream iff it
    * matches in the batch query (StreamingSpec pins stream == batch on
    * the same rows), and the stored corpus is never re-shingled — the
    * append-only ingest leg (reference consumer.py:133–149) meeting the
    * dedup family.
    *
    * Scale shape: per micro-batch the arriving side (bands, candidates)
    * rides as broadcasts against the in-place index scans — no corpus
    * shuffle per batch, cost bounded by batch size × matched buckets.
    */
  def runIncrementalDedupStream(s: SparkSession, indexPath: String,
      inDir: String, outDir: String, checkpointDir: String, t: Double = 0.5,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val idx = graft.queries.TextOps.loadMinHashIndex(s, indexPath)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/incremental_dedup",
        checkpointDir) { batch =>
      graft.queries.TextOps.dedupAgainstIndex(batch.select(col("doc_id"), col("text")), idx, t)
    }
  }

  /** Streaming twin of q83 — incremental embedding-dedup of arriving
    * vectors against a persisted IVF index
    * ([[graft.queries.VectorOps.saveVecDedupIndex]]): index loaded once
    * at stream start, each micro-batch screened by EXACTLY the batch
    * function ([[graft.queries.VectorOps.dedupVecAgainstIndex]]) — the
    * arriving side assigns map-side against the broadcast centroids and
    * broadcasts into the cell equi-join, so the stored vectors table is
    * only scanned in place per batch (StreamingSpec pins stream ==
    * batch on the same rows). */
  def runIncrementalVecDedupStream(s: SparkSession, indexPath: String,
      inDir: String, outDir: String, checkpointDir: String,
      minCos: Double = 0.4, maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val idx = graft.queries.VectorOps.loadVecDedupIndex(s, indexPath)
    runGate(jsonStream(s, "ts TIMESTAMP, vec_id LONG, embedding ARRAY<FLOAT>",
        inDir, Some(maxFilesPerTrigger)), s"$outDir/incremental_vec_dedup",
        checkpointDir) { batch =>
      graft.queries.VectorOps.dedupVecAgainstIndex(
        batch.select(col("vec_id"), col("embedding")), idx, minCos)
    }
  }

  /** Streaming TAKEDOWN ingestion — the deferred-deletion half of index
    * maintenance. The eager removal functions (Additive.remove on the
    * raw BM25 and LM stores / removeFromMinHashIndex / removeFromClusters,
    * q142–q145) subtract victims per call; at 100 TB, materializing a
    * pruned postings store per takedown batch is the wrong cost model.
    * Production engines defer instead (Lucene's deleted-docs bitmap,
    * Delta Lake's deletion vectors): arriving requests append to a
    * TOMBSTONE LEDGER, serving masks against it (victim-bounded work
    * at query time — [[readTombstoneLedger]] feeds the exact eager
    * functions lazily, so no artifact row is rewritten), and an
    * operator-scheduled compaction folds the ledger into the store
    * once, amortized over many batches (the fold IS the eager removal,
    * materialized — spec-pinned to serve identically before and
    * after).
    *
    * Each micro-batch lands as its own `batch=<id>` ledger partition
    * ([[writeBatch]]: a crash replay rewrites its own directory) holding the batch's distinct
    * non-null victim ids; the ledger's union-distinct is the takedown
    * set regardless of duplicate requests across batches. */
  def runTakedownLedgerStream(s: SparkSession, inDir: String,
      ledgerDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    runGate(jsonStream(s, "ts TIMESTAMP, doc_id LONG", inDir, Some(maxFilesPerTrigger)),
        ledgerDir, checkpointDir) { batch =>
      // null guard (runFunnelStream's rule): a corrupt JSONL line
      // nulls doc_id; it must not become a null tombstone row
      batch.filter(col("doc_id").isNotNull).select(col("doc_id")).distinct()
    }

  /** The accumulated tombstone set of a [[runTakedownLedgerStream]]
    * ledger directory: union of every batch partition, distinct (a
    * victim requested twice across batches is one tombstone). Pass it
    * to any removeFrom* function for a lazy serve-time mask, or
    * materialize that result as the compaction fold. Returns an empty
    * (doc_id LONG) frame for a ledger with no batches yet — serving
    * under an empty ledger is the unmasked store. */
  def readTombstoneLedger(s: SparkSession, ledgerDir: String): DataFrame =
    readLedger(s, ledgerDir)._2

  /** The `batch=` partitions of a tombstone ledger, listed once, and the
    * distinct victim set read from exactly those partitions — an empty
    * (doc_id LONG) frame when there are none. */
  private def readLedger(s: SparkSession, ledgerDir: String): (Seq[Path], DataFrame) = {
    // FS-agnostic listing (Hadoop FileSystem, not java.io.File): on
    // hdfs://-s3a:// deployments a local-only probe would silently
    // report "no batches" and serving would ignore every takedown
    val p = new Path(ledgerDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts =
      if (fs.exists(p))
        fs.listStatus(p).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
          .map(_.getPath)
      else Seq.empty
    val victims =
      if (parts.nonEmpty)
        Tables.parquetParts(s, ledgerDir, parts.map(_.toString))
          .select(col("doc_id")).distinct()
      else {
        import s.implicits._
        Seq.empty[Long].toDF("doc_id")
      }
    (parts, victims)
  }

  /** COMPACTION — fold the accumulated tombstones into the store and
    * clear the ledger, amortized over many takedown batches (Lucene's
    * segment-merge applying its deleted-docs bitmaps; Delta's OPTIMIZE
    * applying deletion vectors). `fold` is the artifact-specific leg:
    * it receives the distinct victim set ([[readTombstoneLedger]]) and
    * must MATERIALIZE the pruned store (write the removeFrom* result
    * back to persistent storage) before returning — only then are the
    * applied batch partitions deleted.
    *
    * Crash-safety is by idempotence, not atomicity: every removeFrom*
    * is a no-op on already-removed ids (anti-joins match nothing;
    * count subtraction finds no victim postings), so a crash AFTER the
    * fold but BEFORE the ledger clear leaves stale tombstones whose
    * re-application — lazily at serve time or by the next compaction —
    * changes nothing. Serve identity before/after the round-trip
    * (masked serve over the full ledger == compacted store under the
    * emptied ledger) is spec-pinned in StreamingSpec for the whole
    * artifact family.
    *
    * Concurrency with a LIVE takedown stream: the set of `batch=`
    * partitions is SNAPSHOTTED up front, the victim set is read from
    * exactly that snapshot (localCheckpointed so the fold's store
    * rewrite cannot race its own input scan), and the clearing loop
    * deletes ONLY the snapshot list — a tombstone batch appended by a
    * concurrently running [[runTakedownLedgerStream]] between the
    * snapshot and the delete survives in the ledger un-folded, to be
    * masked at serve time and applied by the next compaction, never
    * silently dropped. */
  def compactTombstones[A](s: SparkSession, ledgerDir: String)
      (fold: DataFrame => A): A = {
    val (snapshot, victims) = readLedger(s, ledgerDir)
    val result = fold(victims.localCheckpoint())
    snapshot.foreach(dir =>
      dir.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dir, true))
    result
  }

  /** Streaming DECONTAMINATION gate — q160's near-dup eval screen on
    * the admission path: the eval suite's MinHash index is built ONCE
    * at stream start (eval sets are bounded — the q160 fixture, ≤183
    * docs at any SF), and each arriving micro-batch of candidate
    * TRAINING documents probes it through EXACTLY the batch leg
    * ([[graft.queries.TextOps.dedupAgainstIndex]], shared function) —
    * an arriving paraphrase of an eval item flags in the stream iff
    * q160's batch sweep would flag it (banding is symmetric in the
    * pair, verification is exact; StreamingSpec pins both the
    * stream==batch and the orientation-equivalence laws). Flagged
    * (train, eval) pairs land through [[writeBatch]];
    * per-batch cost is one batch-sized banded probe of the tiny eval
    * index. */
  def runDecontaminationGateStream(s: SparkSession, corpusDir: String,
      inDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    import graft.queries.TextOps
    val evalDocs = graft.sources.Tables.documents(s, corpusDir)
      .filter(col("doc_id") % 29 === 0 && col("doc_id") < 5300L)
      .select(col("doc_id"), col("text"))
    val idx = TextOps.buildMinHashIndex(
      TextOps.shingleDocs(evalDocs).localCheckpoint())
    runGate(docStream(s, inDir, maxFilesPerTrigger)
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
        s"$outDir/contamination", checkpointDir) { batch =>
      TextOps.dedupAgainstIndex(batch.select(col("doc_id"), col("text")), idx)
        .select(col("new_doc_id").as("train_doc_id"),
          col("old_doc_id").as("eval_doc_id"),
          col("common"), col("jaccard"))
    }
  }

  /** Streaming twin of q174 — the CDC admission gate on the ingest path:
    * every arriving micro-batch is DIFFED against the stored corpus
    * version before admission — which documents are brand-new, which
    * are content revisions of stored ids, which are byte-identical
    * re-deliveries (the at-least-once upstream case a CDC gate exists
    * to absorb). Classification is EXACTLY q174's shared core
    * ([[graft.queries.TextOps.snapshotDiffRows]] restricted to the
    * batch's rows — in2 = 1), so a document classifies identically in
    * stream and batch by construction; per-(batch, source) counts +
    * arriving-token masses land through [[writeBatch]].
    *
    * The stored map is the (doc_id, md5, nw) projection the exact-dedup
    * admission path already maintains (q95's store / CardStore's hash
    * leg) — at 100 TB the gate joins the batch against that maintained
    * artifact, never re-hashing stored text. Here, without a persisted
    * hash store, the per-batch cost is kept BATCH-keyed the same way:
    * the raw corpus is semi-joined on the batch's (broadcast) doc_id
    * set FIRST, and only the touched rows enter [[TextOps
    * .diffProjection]]'s md5/token hashing — the stored-only side the
    * in2 = 1 restriction would discard is never hashed at all.
    * Restricting v1 to the batch's keys is classification-preserving:
    * every in2 = 1 row's doc_id is in the batch by definition, so its
    * v1 partner (if any) survives the semi-join.
    */
  def runSnapshotDiffGateStream(s: SparkSession, corpusDir: String,
      inDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    import graft.queries.TextOps
    val storedRaw = graft.sources.Tables.documents(s, corpusDir)
      .select(col("doc_id"), col("source"), col("text"))
    runGate(jsonStream(s, "ts TIMESTAMP, doc_id LONG, text STRING, source STRING",
        inDir, Some(maxFilesPerTrigger))
        .filter(col("doc_id").isNotNull && col("text").isNotNull),
        s"$outDir/snapshot_diff", checkpointDir) { batch =>
      val arriving = TextOps.diffProjection(
        batch.select(col("doc_id"), col("source"), col("text")))
      val storedTouched = TextOps.diffProjection(
        storedRaw.join(broadcast(arriving.select(col("doc_id"))),
          Seq("doc_id"), "left_semi"))
      TextOps.snapshotDiffRows(storedTouched, arriving)
        .filter(col("in2") === 1L)
        .groupBy(col("source"))
        .agg(sum(col("in2")).as("n_batch"),
          sum(col("add")).as("n_new"),
          sum(col("chg")).as("n_revised"),
          sum(col("same")).as("n_redelivered"),
          sum(col("tokadd")).as("tokens_new"))
    }
  }

  /** Streaming twin of q136 — the perceptual frame gate on the ingest
    * path: the stored corpus's frame-dHash band index is built ONCE at
    * stream start ([[graft.queries.MultimodalQ.framePhashIndexCached]]),
    * and each arriving micro-batch's payloads are screened by EXACTLY
    * the batch serving leg
    * ([[graft.queries.MultimodalQ.frameDupAgainstIndex]], shared
    * function) — an arriving document gets the same
    * (n_full_frames, n_matched_frames) in stream and batch by
    * construction (StreamingSpec pins it). Per-batch cost is one
    * batch-sized banded probe against the in-place index; writes go
    * through [[writeBatch]].
    */
  def runFramePhashGateStream(s: SparkSession, corpusDir: String,
      inDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val idx = graft.queries.MultimodalQ.framePhashIndexCached(s, corpusDir)
    runGate(docStream(s, inDir, maxFilesPerTrigger), s"$outDir/frame_phash",
        checkpointDir) { batch =>
      graft.queries.MultimodalQ.frameDupAgainstIndex(
        batch.select(col("doc_id"), encode(col("text"), "UTF-8").as("content")), idx)
    }
  }

  /** Streaming twin of q49's stratified domain mixing: documents arrive
    * as a watermarked JSONL stream and pass through EXACTLY the batch
    * mixing core ([[graft.queries.TextOps.domainMix]] — md5-bucket
    * thresholding against a broadcast mixing table), so a document
    * survives the stream iff it survives the batch query: sampling is a
    * pure function of doc_id, no rand(), no per-batch state. The filter
    * is scan-local (prunes before any shuffle or sink write); the static
    * mixing table joins as a broadcast; the watermark bounds event time
    * for any downstream windowed consumer. StreamingSpec pins realized
    * per-language rates (and the full surviving row set) equal to the
    * batch form on the same rows.
    */
  def mixedDocumentStream(s: SparkSession, inDir: String,
      mix: Seq[(String, Int)] = graft.queries.TextOps.defaultMix,
      watermark: String = "10 minutes",
      maxFilesPerTrigger: Int = 10): DataFrame = {
    import s.implicits._
    val docs = jsonStream(s,
        "ts TIMESTAMP, doc_id LONG, lang STRING, source STRING, text STRING",
        inDir, Some(maxFilesPerTrigger))
      .withWatermark("ts", watermark)
    graft.queries.TextOps.domainMix(docs, mix.toDF("lang", "keep_n"))
  }

  /** [[mixedDocumentStream]] materialized to a day-partitioned parquet
    * store (the sampled-corpus landing zone a training pipeline reads).
    */
  def runMixedIngest(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, mix: Seq[(String, Int)] = graft.queries.TextOps.defaultMix,
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    appendParquet(mixedDocumentStream(s, inDir, mix, maxFilesPerTrigger = maxFilesPerTrigger)
      .withColumn("p_date", to_date(col("ts"))),
      s"$outDir/mixed_documents", checkpointDir, "p_date")

  /** Streaming twin of q92 — PII scrub on the ingest path: arriving
    * documents are redacted BEFORE they ever land in the corpus (the
    * realistic deployment — scrubbing after materialization leaves raw
    * PII on disk). Runs the SHARED [[graft.queries.TextOps.scrubPii]]
    * transform: a document redacts identically in stream and batch q92
    * (StreamingSpec pins it). Stateless scan-local map — no state store,
    * no shuffle, direct parquet append.
    */
  def runPiiScrubStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 10): StreamingQuery =
    appendParquet(graft.queries.TextOps.scrubPii(
      docStream(s, inDir, maxFilesPerTrigger), col("text")),
      s"$outDir/pii_scrubbed", checkpointDir)

  /** Streaming twin of q94 — Gopher quality gate on the ingest path: every
    * arriving document is scored through the SHARED rule battery
    * ([[graft.queries.TextOps.gopherStats]]) and lands with its stats and
    * keep flag, so downstream consumers filter on `keep` without
    * re-scoring. Stateless scan-local map — no state store, no shuffle,
    * direct parquet append; a document is judged identically in stream
    * and batch q94 (StreamingSpec pins it).
    */
  def runGopherGateStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 10): StreamingQuery =
    appendParquet(graft.queries.TextOps.gopherStats(docStream(s, inDir, maxFilesPerTrigger)),
      s"$outDir/gopher_gate", checkpointDir)

  /** EXACTLY-ONCE streaming metrics store without a transactional table
    * format (SURVEY §2.9's delivery row, store side). [[runMetricsPipeline]]
    * appends finalized windows, so a micro-batch replayed after a crash
    * between the sink write and the checkpoint commit appends its rows
    * TWICE — the classic at-least-once foreachBatch failure. Here each
    * micro-batch UPSERTS its (vehicle_id, time_bucket)-keyed window
    * aggregates through [[Sinks.upsertPartitioned]]: a replayed batch
    * re-executes against the same state-store version, emits the same
    * update rows, and the upsert rewrites the same keys to the same
    * values — convergent, so replay count does not change the store.
    *
    * Update output mode: a window's aggregate is emitted (and upserted)
    * every batch it changes in, and the key's final winner is the last
    * refinement — readers between batches see the best-so-far value
    * instead of waiting for watermark finalization, and the store still
    * converges to exactly the clean-run content (StreamingSpec pins
    * replayed-batch == single-clean-run byte equality).
    *
    * Scale: upsert cost per batch is bounded by the day partitions the
    * batch touches (see upsertPartitioned) — for a watermarked stream
    * that's the recent days only, not table history.
    */
  def runUpsertMetricsPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 10): StreamingQuery =
    runBatches(speedMetricsByWindow(telemetryFileStream(s, inDir, Some(maxFilesPerTrigger))),
        checkpointDir, "update") { (batch, _) =>
      Sinks.upsertPartitioned(s, batch, s"$outDir/speed_metrics_store",
        keyCols = Seq("vehicle_id", "time_bucket"), timeCol = "time_bucket")
    }

  /** The RAW-WIRE admission contract: validated BEFORE
    * [[graft.sources.FileReplay.normalize]]'s lenient coercions, which
    * silently default whatever they cannot parse (the reference's
    * `.get()`-with-default shape, consumer.py:90–123). The gate makes
    * the silent path loud for the IDENTITY and MEASUREMENT fields: a
    * record whose vehicle_id / timestamp / speed is absent or
    * malformed is quarantined with its reasons instead of defaulted.
    * Position and battery fields stay lenient BY DESIGN — a
    * position-less report is legitimate telemetry (normalize's (0,0)
    * default is guarded where it matters, [[runProximityStream]]'s
    * null-island filter), and quarantining it would drop real speed
    * and battery signal. */
  def telemetryWireContract: graft.operators.Expectations.Suite =
    graft.operators.Expectations.suite
      .notNull("vehicle_id")
      .notNull("timestamp")
      .notNull("current_speed_kmh")
      .matches("vehicle_id", "^-?[0-9]+(\\.[0-9]+)?$")
      .matches("timestamp", "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$")
      .matches("current_speed_kmh", "^-?[0-9]+(\\.[0-9]+)?$")

  /** Streaming expectation gate — the data-contract twin of the batch
    * q106 audit, applied at the INGEST boundary with dead-letter
    * routing: each arriving micro-batch is row-annotated by the
    * row-local contract ([[graft.operators.Expectations.Suite.annotate]]
    * — one codegen'd projection), clean rows are normalized and admitted
    * to the store, violating rows land in `quarantine/` with their
    * `violations` reason tags and batch id, and the per-batch audit
    * summary (the same (check, column, n_violations, passed) rows as
    * q106) appends to `audit/` — the contract's time series, the input
    * to "wire quality degraded" alerting.
    *
    * Delivery: all three sinks are [[writeBatch]] overwrites
    * (`batch=N/` subdirs), so a crash between write and checkpoint
    * commit replays the batch into the same directory — exactly-once
    * output without a transactional store. `batch_id` additionally
    * rides quarantine and audit ROWS so readers that coalesce the
    * partition dirs keep the provenance column.
    */
  def runExpectationGateStream(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String,
      contract: graft.operators.Expectations.Suite = telemetryWireContract,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val wire = jsonStream(s, Schemas.telemetryWire.toDDL, inDir, Some(maxFilesPerTrigger))
    runBatches(wire, checkpointDir) { (batch, batchId) =>
      val ann = contract.annotate(batch).persist()
      try {
        writeBatch(FileReplay.normalize(
            ann.filter(size(col("violations")) === 0).drop("violations")),
          s"$outDir/admitted", batchId)
        writeBatch(ann.filter(size(col("violations")) > 0)
            .withColumn("batch_id", lit(batchId)),
          s"$outDir/quarantine", batchId)
        // audit the PERSISTED annotated frame, not the source batch —
        // auditing `batch` would re-list and re-parse the trigger's
        // JSON a third time on every micro-batch
        writeBatch(contract.audit(ann.drop("violations"))
            .withColumn("batch_id", lit(batchId)),
          s"$outDir/audit", batchId)
      } finally ann.unpersist()
    }
  }

  /** The COMPOSED ADMISSION PIPELINE (VERDICT r11 #1) — the single
    * wired ingest path: every arriving micro-batch runs the full
    * [[graft.queries.Admission.decide]] cascade (CDC → quality →
    * three-screen decontamination → exact/lexical/embedding dedup
    * probes) against the MAINTAINED state under `stateDir`, then the
    * admitted survivors append to every store and artifact
    * ([[graft.queries.Admission.appendAdmitted]]: corpus, hash store,
    * MinHash index, IVF vectors, BM25 raw, card store). One stream, one
    * checkpoint; every write is its own `batch=<id>` overwrite, so a
    * crash-replayed batch rewrites its own partitions — idempotent end
    * to end. StreamingSpec pins the end state row-identical to the
    * batch composition on the same rows; q180 is the driver-gated
    * lifecycle row over the same shared core.
    *
    * Per-batch order is load-bearing for crash safety: the decision
    * frame is MATERIALIZED (decisions/batch=<id> write) before any
    * store append mutates the state directories the lazy decision plan
    * reads, and the admitted rows re-derive from the immutable source
    * batch semi-joined on the persisted decisions — a replay after any
    * partial failure reproduces both writes bit-identically. So unlike
    * the alert runners, this body stays sequential on purpose
    * ("decisions first"); only the store appends inside
    * [[graft.queries.Admission.appendAdmitted]], which read none of
    * each other's output, run concurrently.
    *
    * Scale shape: state reloads per batch are lazy partition-discovered
    * unions (no corpus materialization); each probe broadcasts the
    * batch side against in-place artifact scans; the card-flag gate
    * compares against [[graft.queries.Admission.servedCardStore]] — the
    * maintained aggregate, so the baseline EVOLVES with admissions
    * instead of freezing at stream start.
    */
  def runAdmissionPipeline(s: SparkSession, corpusDir: String,
      inDir: String, stateDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    import graft.queries.{Admission, TextOps}
    // seed via the per-JVM cached state artifact (hard-link clone):
    // stream startup pays O(files) metadata, not six store rebuilds
    Admission.cloneSeededState(s, corpusDir, stateDir)
    val scr = Admission.screens(s, corpusDir)
    val arriving = jsonStream(s, "ts TIMESTAMP, doc_id LONG, text STRING, lang STRING, " +
        "source STRING, embedding ARRAY<FLOAT>", inDir, Some(maxFilesPerTrigger))
      // null TEXT is admitted to the cascade (normalize coalesces it to
      // '', so the doc gets a decision row exactly as the batch
      // composition would decide it — stream == batch is structural, not
      // an accident of the data); only a null doc_id (corrupt wire line)
      // has no identity to decide and is dropped
      .filter(col("doc_id").isNotNull)
    runBatches(arriving, checkpointDir) { (batch, batchId) =>
      val wire = Admission.normalize(batch).persist()
      try {
        // state read EXCLUDES this batch's own partitions: a replay
        // after a torn commit (appends landed, checkpoint didn't)
        // must see exactly the prior batches' state, or its docs
        // would classify as redelivered and the replay would
        // overwrite the batch with rejections (Admission.readPart)
        val st = Admission.readDedupState(s, stateDir, Some(batchId))
        // decisions FIRST (materializes the verdicts before appends
        // mutate the state dirs the lazy plan reads)
        val decided = Tables.parquet(s, writeBatch(Admission.decide(wire, st, scr),
          s"$stateDir/decisions", batchId))
        // advisory card-flag gate vs the MAINTAINED card aggregate
        writeBatch(TextOps.dataCardFlags(
            wire.select(col("source"), col("lang"), col("text")),
            TextOps.cardsOfStore(
              Admission.servedCardStore(s, stateDir, Some(batchId)))
              .localCheckpoint()),
          s"$stateDir/card_flags", batchId)
        // the REVISION ROUTE's first leg (the Admission policy's
        // "takedown + re-admission"): a content revision's doc_id
        // lands in the state's tombstone ledger as this batch's own
        // partition (runTakedownLedgerStream's on-disk format,
        // idempotent under replay). [[compactAdmissionState]] folds
        // the ledger into every store; the revised CONTENT then
        // re-enters admission as a fresh arrival — q181 gates the
        // whole composition
        writeBatch(decided.filter(col("status") === "revised").select(col("doc_id"))
            .distinct(),
          s"$stateDir/tombstones", batchId)
        val admitted = wire.join(
          decided.filter(col("status") === "admitted").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        Admission.appendAdmitted(s, stateDir, batchId, admitted)
      } finally wire.unpersist()
    }
  }

  /** COMPACTION for the admission state (the q159 leg on the WHOLE
    * store family): fold the accumulated revision/takedown tombstones
    * (`<stateDir>/tombstones/batch=*`, written by
    * [[runAdmissionPipeline]]'s revised leg) into every store —
    * [[graft.queries.Admission.compactState]] — and drain the ledger.
    * Operator-scheduled, with the admission stream STOPPED at a
    * checkpointed boundary (folding partitions forfeits the own-batch
    * replay exclusion for an uncommitted batch — Admission.compactState
    * scaladoc). After compaction, a revised document's new content
    * re-enters [[runAdmissionPipeline]] as a fresh arrival and runs the
    * full cascade against the survivor state. */
  def compactAdmissionState(s: SparkSession, stateDir: String): Unit =
    compactTombstones(s, s"$stateDir/tombstones") { vic =>
      graft.queries.Admission.compactState(s, stateDir, vic)
    }
}
