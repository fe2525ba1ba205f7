package graft.metrics

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sources.Simulation

/** The dashboard serving loop: each tick re-materializes the metric frames
  * into CSV snapshots + the long self_driving_metrics table (reference
  * dashboard.py 5 s auto-refresh).
  */
class MetricsRefreshSpec extends SparkSpec {

  private def buildStore(dir: String): Timestamp = {
    val tel = Simulation.telemetry(spark, 4, 60, seed = 11).toDF()
    val drv = Simulation.driving(spark, 4, 60, seed = 11).toDF()
    val per = Simulation.perception(spark, 4, 60, seed = 11).toDF()
    Sinks.writePartitioned(tel, s"$dir/vehicle_telemetry")
    Sinks.writePartitioned(drv, s"$dir/driving_events")
    Sinks.writePartitioned(per, s"$dir/perception_events")
    Sinks.writePartitioned(
      graft.rules.FleetRules.telemetryAlerts(tel).limit(10), s"$dir/alerts")
    tel.agg(max("time")).head().getTimestamp(0)
  }

  test("two ticks produce two snapshots in self_driving_metrics + fresh CSVs") {
    val store = tmpDir("mr_store")
    val results = tmpDir("mr_results")
    val asOf = buildStore(store)
    val t0 = new Timestamp(asOf.getTime)
    val t1 = new Timestamp(asOf.getTime + 5000)
    MetricsRefresh.runMetricsRefresh(spark, store, results,
      ticks = 2, intervalMs = 1, tickTimes = i => lit(if (i == 0) t0 else t1))

    val m = spark.read.parquet(s"$store/self_driving_metrics")
    val ticks = m.select("time_bucket").distinct().collect().map(_.getTimestamp(0)).sorted
    assert(ticks.toSeq == Seq(t0, t1), "one snapshot per tick")
    val perTick = m.groupBy("time_bucket").count().collect().map(_.getLong(1)).toSet
    assert(perTick.size == 1, "both ticks melt the same metric set")
    assert(m.filter(col("metric_name") === "engagement_rate.engagement_pct").count() == 8,
      "4 vehicles x 2 ticks")
    // fleet-wide scalar rows carry null vehicle_id
    assert(m.filter(col("metric_name").startsWith("fleet_summary.") &&
      col("vehicle_id").isNotNull).count() == 0)
    // CSV snapshots for all nine metric surfaces
    val served = new java.io.File(results).listFiles().map(_.getName).toSet
    assert(Set("engagement_rate", "latest_telemetry", "alerts_summary",
      "km_per_intervention", "intervention_rate", "disengagement_rate",
      "fleet_summary", "interventions_per_vehicle", "perception_summary",
      "distinct_vehicles").subsetOf(served))
  }

  test("melted rows carry their dimension columns in metadata") {
    import spark.implicits._
    val frame = Seq((1, "manual_override", 3L), (1, "emergency_brake", 2L))
      .toDF("vehicle_id", "event_type", "event_count")
    val rows = MetricsRefresh.toMetricRows("interventions_per_vehicle",
        frame, lit(new Timestamp(0)))
      .collect()
    assert(rows.length == 2)
    // without the dimension, both rows would share one (time_bucket,
    // vehicle_id, metric_name) key and be indistinguishable
    val metas = rows.map(_.getMap[String, String](4).get("event_type").get).toSet
    assert(metas == Set("manual_override", "emergency_brake"))
    val byType = rows.map(r =>
      r.getMap[String, String](4)("event_type") -> r.getDouble(3)).toMap
    assert(byType == Map("manual_override" -> 3.0, "emergency_brake" -> 2.0))
  }

  test("tableIfExists: absent and empty dirs serve None, corrupt stores throw") {
    val store = tmpDir("mr_bad_store")
    val results = tmpDir("mr_bad_results")
    // empty dir (a sink that created its directory before first commit)
    new java.io.File(s"$store/vehicle_telemetry").mkdirs()
    assert(MetricsRefresh.metricFrames(spark, store, lit(new Timestamp(0))).isEmpty)
    // corrupt parquet must PROPAGATE, not silently blind the dashboard
    val f = new java.io.FileWriter(s"$store/vehicle_telemetry/part-0000.parquet")
    f.write("this is not parquet"); f.close()
    intercept[Exception] {
      MetricsRefresh.refreshOnce(spark, store, results, lit(new Timestamp(0)))
    }
  }

  test("telemetry-only store still serves the telemetry frames") {
    val store = tmpDir("mr_tel_store")
    val results = tmpDir("mr_tel_results")
    val tel = Simulation.telemetry(spark, 2, 20, seed = 5).toDF()
    Sinks.writePartitioned(tel, s"$store/vehicle_telemetry")
    val served = MetricsRefresh.refreshOnce(spark, store, results,
      lit(tel.agg(max("time")).head().getTimestamp(0)))
    assert(served.toSet == Set("distinct_vehicles", "latest_telemetry", "engagement_rate"))
    assert(spark.read.parquet(s"$store/self_driving_metrics")
      .filter(col("metric_name") === "engagement_rate.engagement_pct").count() == 2)
  }

  test("a tick appends no more parquet files than the dates it touches") {
    val store = tmpDir("mr_files_store")
    val results = tmpDir("mr_files_results")
    // three days of fleet data, each table spread over several files per
    // day, so every metric frame reads (and caches) several partitions
    val day = 24L * 3600 * 1000
    val start = 1700000000000L
    def days[T](f: Long => org.apache.spark.sql.Dataset[T]) =
      (0 until 3).map(d => f(start + d * day)).reduce(_ union _).toDF().repartition(6)
    val tel = days(t => Simulation.telemetry(spark, 6, 40, seed = 3, startMillis = t))
    Sinks.writePartitioned(tel, s"$store/vehicle_telemetry")
    Sinks.writePartitioned(days(t => Simulation.driving(spark, 6, 40, seed = 3, startMillis = t)),
      s"$store/driving_events")
    Sinks.writePartitioned(days(t => Simulation.perception(spark, 6, 40, seed = 3, startMillis = t)),
      s"$store/perception_events")
    Sinks.writePartitioned(graft.rules.FleetRules.telemetryAlerts(tel), s"$store/alerts")
    val asOf = new Timestamp(start + 2 * day + 3600 * 1000)
    MetricsRefresh.refreshOnce(spark, store, results, lit(asOf))

    val table = new java.io.File(s"$store/self_driving_metrics")
    val dates = table.listFiles().filter(_.getName.startsWith("p_date="))
    val files = dates.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(dates.map(_.getName).toSeq == Seq("p_date=2023-11-16"))
    assert(files.length <= dates.length,
      s"${files.length} files for ${dates.length} date(s)")
    // every melted frame is in the one file
    assert(spark.read.parquet(table.toString).select("metric_name")
      .distinct().collect().map(_.getString(0).takeWhile(_ != '.')).toSet ==
      Set("engagement_rate", "interventions_per_vehicle", "perception_summary",
        "km_per_intervention", "intervention_rate", "disengagement_rate", "fleet_summary"))
  }
}
