package graft.perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.rules.FleetRules
import graft.sinks.Sinks
import graft.sources.{FileReplay, Simulation}
import graft.streaming.{Observability, Pipeline}

/** The reference's E1 path: wire JSONL → `Pipeline.runAlertPipeline`
  * (lenient normalize, alert rules, day-partitioned sink). The inputs are
  * made once; each round replays them into its own landing directory,
  * store and checkpoint, in two phases (round 1, whose timings are not
  * reported, drains the backlog only):
  *
  *  - Backlog: drain a pre-staged replay backlog of a 1,000-vehicle fleet
  *    spanning several days, with a small seeded share of malformed numeric
  *    fields. Rows/s is the rows of the reported rounds over their summed
  *    drain time.
  *  - Live tail: an open loop drops one tick file (the whole fleet's tick)
  *    per simulated second, compressed to `tickIntervalS` of wall time; the
  *    driver loop re-runs the AvailableNow pipeline on the round's
  *    checkpoint until every tick is committed. A tick's alert latency runs
  *    from its scheduled drop time to the return of the run that committed
  *    it.
  */
final class FleetIngest(c: Ctx) extends Workload {
  import FleetIngest._

  private val s = c.spark
  private val vehicles = if (c.smoke) 50 else 1000
  private val backlogDays = if (c.smoke) 2 else 4
  private val ticksPerDay = if (c.smoke) 20 else 24
  private val backlogFiles = if (c.smoke) 4 else 16
  val rounds = 3
  // a quarter second per simulated second: a pipeline run then picks up four
  // to six tick files, inside one trigger's file limit
  private val tickIntervalS = 0.25
  private val tailTicks = if (c.smoke) 4 else math.max(4, 2 * c.seconds)
  private val backlogRows = vehicles.toLong * backlogDays * ticksPerDay

  private val inputs = c.work.resolve("fleet_ingest/inputs")
  private val backlog = inputs.resolve("backlog")
  private val ticks = inputs.resolve("ticks")
  private var round = 0
  private def dir = c.work.resolve(s"fleet_ingest/round-$round")
  private def landing = dir.resolve("landing")
  private def staging = dir.resolve("staging")
  private def store = dir.resolve("store").toString
  private def ckpt = dir.resolve("ckpt").toString
  private def dayStart(d: Int): Long = Day0Ms + d * DayMs + 9 * HourMs

  /** Telemetry as the producers put it on the wire: every field a string,
    * "yyyy-MM-dd HH:mm:ss" timestamps, and about 1 % of rows with one
    * numeric field garbled (so normalize's lenient defaults run). */
  private def wire(simSeed: Long, nTicks: Int, startMs: Long): DataFrame = {
    val tel = Simulation.telemetry(s, vehicles, nTicks, simSeed, startMs).toDF()
    val h = pmod(xxhash64(lit(c.seed), col("vehicle_id"), col("time")), lit(1000L))
    val fields = tel.columns.toSeq.map {
      case "time" => date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("timestamp")
      case f =>
        val i = Garbled.indexOf(f)
        (if (i < 0) col(f).cast("string")
         else when(h < 10 && pmod(h, lit(Garbled.size.toLong)) === i, lit("n/a"))
           .otherwise(col(f).cast("string"))).as(f)
    }
    tel.select(((expr("unix_millis(time)") - startMs) / 1000).cast("int").as("tick"),
      to_json(struct(fields: _*)).as("value"))
  }

  /** The inputs, made from the seed alone: the backlog as JSONL part
    * files, and the tail as one file per tick. */
  override def prepare(): Measured = {
    (0 until backlogDays).map(d => wire(c.seed * 7919 + d, ticksPerDay, dayStart(d)))
      .reduce(_ union _).select("value")
      .repartition(backlogFiles).write.text(backlog.toString)
    Files.createDirectories(ticks)
    wire(c.seed * 7919 + backlogDays, tailTicks, dayStart(backlogDays))
      .collect().groupBy(_.getInt(0)).foreach { case (tick, rows) =>
        Files.write(ticks.resolve(f"tick-$tick%05d.json"), rows.map(_.getString(1)).toSeq.asJava)
      }
    require(Files.list(ticks).count() == tailTicks, "every tail tick staged")
    Measured(0, 0, Nil, 0, 0)
  }

  /** A fresh landing directory holding the backlog, the tail staged
    * outside it, and a fresh store and checkpoint. */
  def setup(r: Int): Unit = {
    round = r
    Workload.deleteTree(dir)
    Files.createDirectories(landing)
    Files.createDirectories(staging)
    Files.list(backlog).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .foreach(f => Files.createLink(landing.resolve(f.getFileName), f))
    Files.list(ticks).iterator().asScala
      .foreach(f => Files.createLink(staging.resolve(f.getFileName), f))
  }

  def named(p50: Double, p90: Double, rowsPerS: Double): Seq[(String, Double, String)] =
    Seq(("ingest_rows_per_s", rowsPerS, "1/s"), ("alert_latency_p50_s", p50, "s"),
      ("alert_latency_p90_s", p90, "s"))

  private def runPipeline(t: Option[Tracer]): StreamingQuery = {
    val q = Pipeline.runAlertPipeline(s, landing.toString, store, ckpt)
    t.foreach(_.adopt(q.runId.toString))
    q.awaitTermination()
    q
  }

  def measure(r: Int, t: Option[Tracer]): Measured = {
    require(r == round, s"round $r measured after set-up of round $round")
    val recorder = t.map(_ => Observability.record(s))
    val runs = Seq.newBuilder[(Long, StreamingQuery)]
    def run(): StreamingQuery = {
      val called = System.currentTimeMillis()
      val q = runPipeline(t)
      runs += called -> q
      q
    }
    val drainS = Workload.layer(t, "ingest.backlog")(Stats.timed(run())._2)
    // round 1's timings are not reported: it drains (and checks) only
    val dropping = if (r == 1) 0 else tailTicks
    val (latency, lateS) =
      if (dropping == 0) (Map.empty[Int, Double], Array(0.0))
      else Workload.layer(t, "ingest.tail")(tail(() => run()))

    val mismatches = Seq.newBuilder[String]
    val missing = dropping - latency.size
    runs.result().map(_._2).flatMap(_.exception).foreach(e => mismatches += s"pipeline run failed: $e")
    // every round replays the same inputs: round 2, the first reported one
    // and never traced, is checked
    if (r == 2) mismatches ++= checkStore()

    val progress = runs.result().map { case (called, q) => called -> q.recentProgress.toSeq }
    val layers = t.fold(Map.empty[String, Double]) { _ =>
      val all = progress.flatMap(_._2)
      val rec = recorder.get
      val deadlineMs = System.currentTimeMillis() + 30000L
      // the recorder hears progress on the streaming listener bus: wait
      // until it has seen every batch the queries themselves report
      while (rec.batches.size < all.size && System.currentTimeMillis() < deadlineMs)
        rec.synchronized(rec.wait(10))
      s.streams.removeListener(rec)
      if (rec.batches.size != all.size)
        mismatches += s"progress recorder saw ${rec.batches.size} of ${all.size} batches"
      def ms(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
      Map(
        "streaming.batches" -> rec.batches.size.toDouble,
        "streaming.batch_p50_s" -> Stats.median(rec.batches.map(_.durationMs / 1e3)),
        "streaming.run_start_s" -> Stats.median(progress.collect { case (called, p +: _) =>
          (Instant.parse(p.timestamp).toEpochMilli - called) / 1e3 }),
        "streaming.trigger_overhead_s" -> Stats.median(all.map(p =>
          (ms(p, "triggerExecution") - ms(p, "addBatch")) / 1e3)),
        "ingest.generator_late_max_s" -> lateS.max)
    }
    // a tick never committed counts as failed, and as missing every limit
    val problems = mismatches.result()
    Measured(backlogFiles + dropping + (if (r == 2) 1 else 0), missing + problems.size,
      latency.values.toSeq ++ Seq.fill(missing)(NeverS), backlogRows.toDouble, drainS, layers,
      Option.when(missing > 0)(s"$missing of $dropping tail ticks never committed").toSeq ++ problems)
  }

  /** The live tail: a generator thread drops the staged tick files on
    * schedule while this thread re-runs the pipeline whenever a dropped
    * file is not yet committed. Returns each tick's alert latency and how
    * late the generator dropped it. */
  private def tail(run: () => Unit): (Map[Int, Double], Array[Double]) = {
    val intervalNs = (tickIntervalS * 1e9).toLong
    val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
    val lateS = new Array[Double](tailTicks)
    val t0 = System.nanoTime() + intervalNs
    val due = (0 until tailTicks).map(i => t0 + i * intervalNs)
    val gen = new Thread(() => {
      (0 until tailTicks).foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        Files.move(staging.resolve(f"tick-$i%05d.json"), landing.resolve(f"tick-$i%05d.json"),
          StandardCopyOption.ATOMIC_MOVE)
        lateS(i) = (System.nanoTime() - due(i)) / 1e9
        dropped.incrementAndGet()
        dropped.synchronized(dropped.notifyAll())
      }
    }, "perfbench-tick-generator")
    gen.setDaemon(true)
    val seen = scala.collection.mutable.Set.empty[String] ++= committedFiles(ckpt)
    val latency = scala.collection.mutable.Map.empty[Int, Double]
    val deadline = due.last + 120L * 1000000000L
    gen.start()
    while (latency.size < tailTicks && System.nanoTime() < deadline) {
      dropped.synchronized {
        while (dropped.get() <= latency.size && System.nanoTime() < deadline) dropped.wait(50)
      }
      run()
      val end = System.nanoTime()
      committedFiles(ckpt).filterNot(seen).foreach { f =>
        seen += f
        TickFile.findFirstMatchIn(f).foreach(m => latency(m.group(1).toInt) = (end - due(m.group(1).toInt)) / 1e9)
      }
    }
    gen.join()
    (latency.toMap, lateS)
  }

  /** The store holds exactly what a batch read of the landed files gives:
    * same row count, same alert count per type. */
  private def checkStore(): Seq[String] = {
    val out = store
    val batch = FileReplay.readTelemetryJsonl(s, landing.toString)
    val wantRows = batch.count()
    // explicit schemas: a sink directory with no commit yet reads as empty
    val gotRows = s.read.schema("vehicle_id INT").parquet(s"$out/vehicle_telemetry").count()
    def byType(df: DataFrame): Map[String, Long] =
      df.groupBy("alert_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantAlerts = byType(FleetRules.telemetryAlerts(batch))
    val gotAlerts = byType(s.read.schema("alert_type STRING").parquet(s"$out/alerts"))
    Seq(
      Option.when(gotRows != wantRows)(s"store has $gotRows telemetry rows, batch read $wantRows"),
      Option.when(gotAlerts != wantAlerts)(s"store alerts $gotAlerts, batch rules $wantAlerts")
    ).flatten
  }

  /** Each layer's function called alone over the backlog, median of
    * three: normalize, the alert rules, the partitioned sink; then the
    * metrics layer over the ingested store. */
  override def layerTimings(): Map[String, Double] = {
    def med(f: => Double): Double = Stats.median((1 to 3).map(_ => f))
    val normS = med(Stats.timed(FileReplay.readTelemetryJsonl(s, backlog.toString)
      .write.format("noop").mode("overwrite").save())._2)
    val norm = FileReplay.readTelemetryJsonl(s, backlog.toString).persist()
    try {
      val rows = norm.count()
      val alerts = FleetRules.telemetryAlerts(norm).count()
      val rulesS = med(Stats.timed(FleetRules.telemetryAlerts(norm)
        .write.format("noop").mode("overwrite").save())._2)
      val probe = dir.resolve("sink-probe")
      var files, bytes = 0L
      val writeS = med {
        Workload.deleteTree(probe)
        val secs = Stats.timed(Sinks.writePartitioned(norm, probe.toString))._2
        val parts = Files.walk(probe).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        files = parts.size; bytes = parts.map(Files.size).sum
        secs
      }
      Map("sources.normalize_rows_per_s" -> rows / normS, "rules.alerts_s" -> rulesS,
        "rules.alert_ratio" -> alerts.toDouble / rows, "sinks.write_s" -> writeS,
        "sinks.files_written" -> files.toDouble, "sinks.bytes_per_row" -> bytes.toDouble / rows)
    } finally { norm.unpersist(); () }
  } ++ dashboardView()

  /** The dashboard over the ingested store: the fleet's perception and
    * driving streams land beside the pipeline's telemetry and alerts, and
    * the metrics layer's parts run alone, as of noon of the last backlog
    * day (the 24 h window then spans two of the store's day partitions). */
  private def dashboardView(): Map[String, Double] = {
    import s.implicits._
    val out = store
    val sim = (0 until backlogDays)
      .map(d => Simulation.ticks(s, vehicles, ticksPerDay, c.seed * 7919 + d, dayStart(d)))
      .reduce(_ union _)
    Sinks.writePartitioned(sim.map(_.perception).toDF(), s"$out/perception_events")
    Sinks.writePartitioned(sim.flatMap(_.driving).toDF(), s"$out/driving_events")
    MetricsLayer.probe(s, out, dir.resolve("metrics-probe").toString,
      lit(new java.sql.Timestamp(dayStart(backlogDays - 1) + 3 * HourMs)))
  }
}

object FleetIngest {
  val Day0Ms = 1699920000000L // 2023-11-14 00:00:00 UTC
  val HourMs = 3600000L
  val DayMs: Long = 24 * HourMs
  /** Latency charged to a tick that was never committed. */
  val NeverS = 1e6
  private val Garbled = Seq("current_speed_kmh", "battery_level_pct", "latitude",
    "odometer_km", "remaining_range_km")
  private val TickFile = "tick-(\\d+)\\.json".r

  /** Names of the files a file-stream checkpoint has committed, from its
    * source log (`sources/0/<batch>` and `<batch>.compact`, JSON lines
    * after a version header). */
  def committedFiles(checkpoint: String): Set[String] = {
    val dir = java.nio.file.Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(PathField.findFirstMatchIn(_).map(_.group(1).split('/').last)).toSet
      finally ls.close()
    }
  }
  private val PathField = "\"path\":\"([^\"]+)\"".r
}
