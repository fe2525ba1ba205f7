package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.sinks.Sinks
import graft.sources.Tables

/** The serving surface the reference exposes through its Streamlit
  * dashboard: every `refresh_seconds` (5 s — settings.yaml:20) the
  * dashboard re-runs all nine metric queries against the store
  * (dashboard.py:41,60–68,191–194). This module is that loop as an engine
  * component — each tick recomputes the metric frames from the parquet
  * store, exports CSV snapshots (S9), and appends the melted rows to the
  * `self_driving_metrics` table the reference declared but never populated
  * (sql/01_schema.sql:61–67).
  *
  * Scale note: each tick is a handful of small aggregation queries over
  * day-partitioned parquet with an `asOf`-bounded time predicate, so
  * partition pruning keeps the per-tick scan proportional to the lookback
  * window, not the table's history.
  */
object MetricsRefresh {

  /** Melt one metric frame into the reference's long metrics schema
    * (time_bucket, vehicle_id, metric_name, metric_value, metadata): one
    * row per (vehicle, numeric column). Frames without a vehicle_id (the
    * fleet summary) emit a null vehicle_id = fleet-wide. Non-numeric
    * dimension columns (interventions_per_vehicle's event_type,
    * perception_summary's object_class) ride in `metadata` — that is the
    * column's whole purpose: without them, a vehicle with four event
    * types would melt into four indistinguishable rows sharing one
    * (time_bucket, vehicle_id, metric_name) key.
    */
  def toMetricRows(name: String, df: DataFrame, tickTime: Column): DataFrame = {
    val numeric = df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != "vehicle_id")
    require(numeric.nonEmpty, s"metric frame '$name' has no numeric columns to melt")
    val dims = df.schema.fields
      .filter(f => !f.dataType.isInstanceOf[NumericType] && f.name != "vehicle_id")
    val vid =
      if (df.columns.contains("vehicle_id")) col("vehicle_id").cast("int")
      else lit(null).cast("int")
    val metadata =
      if (dims.isEmpty) typedLit(Map.empty[String, String])
      else map(dims.toSeq.flatMap(f =>
        Seq(lit(f.name), col(f.name).cast("string"))): _*)
    df.select(tickTime.as("time_bucket"), vid.as("vehicle_id"),
        metadata.as("metadata"),
        explode(array(numeric.map(f => struct(
          lit(s"$name.${f.name}").as("metric_name"),
          col(f.name).cast("double").as("metric_value"))): _*)).as("m"))
      .select(col("time_bucket"), col("vehicle_id"),
        col("m.metric_name").as("metric_name"),
        col("m.metric_value").as("metric_value"),
        col("metadata"))
  }

  /** The nine metric frames computable from whatever tables the store has
    * (driving/perception leg optional — a telemetry-only store still
    * serves six). */
  def metricFrames(s: SparkSession, storeDir: String, asOf: Column): Map[String, DataFrame] = {
    // None for an ABSENT table (missing dir, or a dir with no data file —
    // a sink that created its directory before its first commit); any
    // other read failure (permissions, corrupt footers) PROPAGATES — a
    // monitoring surface must not go quietly blind on exactly the failures
    // it exists to surface
    def tableIfExists(table: String) = Tables.parquetIfPresent(s, s"$storeDir/$table")
    val tel = tableIfExists("vehicle_telemetry")
    val alerts = tableIfExists("alerts")
    val drv = tableIfExists("driving_events")
    val per = tableIfExists("perception_events")
    val m = Map.newBuilder[String, DataFrame]
    tel.foreach { t =>
      m += "distinct_vehicles" -> FleetMetrics.distinctVehicleIds(t)
      m += "latest_telemetry" -> FleetMetrics.latestTelemetry(t)
      m += "engagement_rate" -> FleetMetrics.autopilotEngagementRate(t, asOf = asOf)
    }
    alerts.foreach(a => m += "alerts_summary" -> FleetMetrics.alertsSummary(a))
    drv.foreach(d => m += "interventions_per_vehicle" ->
      FleetMetrics.interventionsPerVehicle(d, asOf = asOf))
    per.foreach(p => m += "perception_summary" ->
      FleetMetrics.perceptionSummary(p, asOf = asOf))
    for (t <- tel; d <- drv) {
      m += "km_per_intervention" -> FleetMetrics.kmPerIntervention(t, d, asOf = asOf)
      m += "intervention_rate" -> FleetMetrics.interventionRatePer1000Km(t, d, asOf = asOf)
      m += "disengagement_rate" -> FleetMetrics.disengagementRatePer1000Km(t, d, asOf = asOf)
      m += "fleet_summary" -> FleetMetrics.fleetSelfDrivingSummary(t, d, asOf = asOf)
    }
    m.result()
  }

  /** Row-snapshot frames (served as CSV, not melted into the numeric
    * metrics table). */
  private val snapshotOnly = Set("alerts_summary", "latest_telemetry", "distinct_vehicles")

  /** One dashboard tick: recompute every available metric frame as of
    * `tickTime`, overwrite the CSV snapshots, append melted rows to
    * `self_driving_metrics`. Returns the served frame names.
    *
    * Every melted row carries the tick's `time_bucket`, so rebalancing
    * on it gives the append one write task, which AQE splits by bytes
    * only past the advisory partition size: one file per date touched,
    * not one per partition of every cached frame.
    */
  def refreshOnce(s: SparkSession, storeDir: String, resultsDir: String,
      tickTime: Column = current_timestamp()): Seq[String] = {
    // scoped persist: every non-snapshot frame is consumed TWICE per tick
    // (CSV export + melted append) — uncached, each metric query would
    // run as two full jobs on the serving loop's hot path
    val frames = metricFrames(s, storeDir, asOf = tickTime)
      .map { case (name, df) => name -> df.persist() }
    try {
      frames.foreach { case (name, df) => Sinks.exportCsv(df, s"$resultsDir/$name") }
      val melted = frames.collect {
        case (name, df) if !snapshotOnly(name) => toMetricRows(name, df, tickTime)
      }
      if (melted.nonEmpty)
        Sinks.writePartitioned(
          melted.reduce(_ unionByName _).hint("rebalance", col("time_bucket")),
          s"$storeDir/self_driving_metrics", timeCol = "time_bucket")
      frames.keys.toSeq.sorted
    } finally frames.values.foreach(_.unpersist())
  }

  /** Bounded serving loop: `ticks` refreshes, `intervalMs` apart — the
    * reference's auto-refreshing dashboard as a testable, schedulable
    * component (run it under any external scheduler for unbounded
    * serving). `tickTimes` injects deterministic tick timestamps in tests.
    */
  def runMetricsRefresh(s: SparkSession, storeDir: String, resultsDir: String,
      ticks: Int, intervalMs: Long = 5000,
      tickTimes: Int => Column = _ => current_timestamp()): Unit =
    (0 until ticks).foreach { i =>
      refreshOnce(s, storeDir, resultsDir, tickTimes(i))
      if (i < ticks - 1) Thread.sleep(intervalMs)
    }
}
