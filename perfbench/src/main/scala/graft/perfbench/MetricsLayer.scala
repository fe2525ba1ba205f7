package graft.perfbench

import org.apache.spark.sql.{Column, SparkSession}

import graft.metrics.MetricsRefresh
import graft.sinks.Sinks

/** The dashboard's metrics layer, split into the parts of one
  * `MetricsRefresh.refreshOnce` tick and each called alone over a store:
  * every metric frame computed by itself, the CSV exports, and the melted
  * `self_driving_metrics` append; plus how many day partitions the frames'
  * scans read against how many the tables have.
  */
object MetricsLayer {

  /** The ten frames `MetricsRefresh.metricFrames` serves from a full store. */
  val frames: Seq[String] = Seq("distinct_vehicles", "latest_telemetry",
    "engagement_rate", "alerts_summary", "interventions_per_vehicle",
    "perception_summary", "km_per_intervention", "intervention_rate",
    "disengagement_rate", "fleet_summary")

  /** Frames `refreshOnce` exports but does not melt into the metrics table. */
  private val snapshotOnly = Set("alerts_summary", "latest_telemetry", "distinct_vehicles")

  def probe(s: SparkSession, store: String, out: String, asOf: Column): Map[String, Double] = {
    val scans = new Tracer(s)
    val fs = MetricsRefresh.metricFrames(s, store, asOf)
    require(fs.keySet == frames.toSet,
      s"store serves ${fs.keys.toSeq.sorted.mkString(",")}, not all ten frames")
    val frameS = fs.map { case (name, df) =>
      s"metrics.${name}_s" -> Stats.timed(df.write.format("noop").mode("overwrite").save())._2
    }
    val parts = scans.finish()
    val cached = fs.map { case (name, df) => name -> df.persist() }
    try {
      cached.values.foreach(_.count())
      val exportS = Stats.timed(cached.foreach { case (name, df) =>
        Sinks.exportCsv(df, s"$out/$name") })._2
      val appendS = Stats.timed(Sinks.writePartitioned(
        cached.collect { case (name, df) if !snapshotOnly(name) =>
          MetricsRefresh.toMetricRows(name, df, asOf) }.reduce(_ unionByName _),
        s"$out/self_driving_metrics", timeCol = "time_bucket"))._2
      frameS ++ Map(
        "metrics.partitions_read" -> parts.partitionsRead.toDouble,
        "metrics.prune_ratio" -> (1.0 - parts.partitionsRead.toDouble / parts.partitionsTotal),
        "sinks.export_csv_s" -> exportS, "sinks.metrics_append_s" -> appendS)
    } finally cached.values.foreach(_.unpersist())
  }
}
