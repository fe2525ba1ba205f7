package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.metrics.MetricsRefresh
import graft.sinks.Sinks
import graft.sources.{Simulation, Tables}
import graft.streaming.Pipeline

/** One-shot local pipeline — the engine's E3 entry point (reference
  * scripts/run_full_pipeline_local.py:248–273: generate → ingest → rules →
  * store → export, in-process). Usage:
  *
  *   sbt "runMain graft.LocalPipeline [outDir] [nVehicles] [nTicks] [seed]"
  *
  * Simulated telemetry lands as JSONL (the wire format), streams through
  * the availableNow alert pipeline into day-partitioned parquet, windowed
  * metrics materialize incrementally, and summary CSVs export at the end —
  * the full reference pipeline shape with Spark boundaries in place of
  * Kafka/Postgres.
  */
object LocalPipeline {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(Files.createTempDirectory("graft_pipeline").toString)
    val nVehicles = args.lift(1).map(_.toInt).getOrElse(10)
    // default covers > 2 full metric windows + watermark (>= ~161 s of
    // event time) so the windowed-metrics leg emits rows out of the box
    val nTicks = args.lift(2).map(_.toInt).getOrElse(240)
    val seed = args.lift(3).map(_.toLong).getOrElse(42L)
    val spark = Sessions.local()
    import spark.implicits._

    // 1. produce: simulated fleet walk -> JSONL landing dir. The wire
    // format is the reference's: a `timestamp` STRING field in
    // "yyyy-MM-dd HH:mm:ss" (producer.py:57-58), not a typed `time` —
    // emitting the typed field here would silently hit the parse
    // fallback on ingest and stamp every row with wall-clock time.
    val landing = s"$outDir/landing"
    val tel = Simulation.telemetry(spark, nVehicles, nTicks, seed).toDF()
    val wire = tel
      .withColumn("timestamp", date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
      .drop("time")
    wire.select(to_json(struct(wire.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").text(landing)
    println(s"[pipeline] produced ${tel.count()} telemetry rows -> $landing")

    // 2. consume: stream -> rules -> partitioned parquet (bounded run)
    Pipeline.runAlertPipeline(spark, landing, s"$outDir/store", s"$outDir/ckpt_alerts")
      .awaitTermination()
    Pipeline.runMetricsPipeline(spark, landing, s"$outDir/store", s"$outDir/ckpt_metrics")
      .awaitTermination()

    val storedTel = Tables.parquet(spark, s"$outDir/store/vehicle_telemetry")
    // a run that raised no alert leaves the alerts dir with no data file
    val alerts = Tables.parquetIfPresent(spark, s"$outDir/store/alerts")
    if (storedTel.isEmpty) {
      System.err.println("[pipeline] no telemetry stored (nTicks=0?); nothing to export")
      spark.stop(); sys.exit(2)
    }
    println(s"[pipeline] stored telemetry=${storedTel.count()} alerts=${alerts.fold(0L)(_.count())}")
    alerts.foreach(_.groupBy("alert_type").count().orderBy("alert_type").collect()
      .foreach(r => println(s"[pipeline]   ${r.getString(0)}: ${r.getLong(1)}")))

    // 3. serve: persist the event tables into the store, then run the
    // dashboard refresh loop (reference dashboard.py:41,191-194 — all nine
    // metric queries re-run per tick; settings.yaml:20 refresh_seconds).
    // Each tick exports the metric CSVs and appends melted rows to
    // self_driving_metrics. Tick times step from the data's max event time
    // so the run is deterministic for a fixed seed.
    val drv = Simulation.driving(spark, nVehicles, nTicks, seed).toDF()
    val per = Simulation.perception(spark, nVehicles, nTicks, seed).toDF()
    Sinks.writePartitioned(drv, s"$outDir/store/driving_events")
    Sinks.writePartitioned(per, s"$outDir/store/perception_events")
    val asOf = storedTel.agg(max("time")).head().getTimestamp(0)
    val refreshTicks = args.lift(4).map(_.toInt).getOrElse(2)
    MetricsRefresh.runMetricsRefresh(spark, s"$outDir/store", s"$outDir/results",
      ticks = refreshTicks, intervalMs = 250,
      tickTimes = i => lit(new java.sql.Timestamp(asOf.getTime + i * 1000L)))
    println(s"[pipeline] metrics refresh: $refreshTicks ticks served")
    val summary = storedTel.groupBy("vehicle_id")
      .agg(count(lit(1)).as("n"), max("current_speed_kmh").as("max_speed_kmh"))
      .orderBy("vehicle_id")
    Sinks.exportCsv(summary, s"$outDir/results/telemetry_summary")
    // the metrics sink dir exists (with _spark_metadata) even when no
    // window finalized
    Tables.parquetIfPresent(spark, s"$outDir/store/speed_metrics_windowed") match {
      case Some(m) => println(s"[pipeline] windowed metrics rows=${m.count()}")
      case None => println("[pipeline] windowed metrics: no finalized windows yet " +
        "(needs > window + watermark of event time; increase nTicks)")
    }
    println(s"[pipeline] results -> $outDir/results")
    spark.stop()
  }
}
