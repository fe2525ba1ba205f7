package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.model.Thresholds
import graft.rules.FleetRules
import graft.sinks.Sinks
import graft.streaming.Pipeline

/** Offline replay of captured OpenSky REST payloads as a streaming source —
  * the working form of SURVEY S4 in a zero-egress environment. Each
  * captured poll (one `GET /api/states/all` response:
  * `{"time": <unix>, "states": [[...], ...]}` — reference
  * opensky_source.py:51–67) lands as one JSON file in a directory; the
  * built-in file stream replays them on the trigger schedule, re-creating
  * the reference's poll loop (opensky_source.py:146–177) without network
  * I/O. The file source already provides per-trigger scheduling
  * (`maxFilesPerTrigger`), checkpointed progress and backpressure, so a
  * custom `MicroBatchStream` would only re-implement it; a live deployment
  * swaps the capture directory for a tiny fetch-to-landing-dir poller and
  * nothing downstream changes.
  */
object OpenSkyReplay {

  /** Raw payload shape. State vectors are positional arrays of mixed JSON
    * scalars; reading them as `array<string>` is lossless (every scalar
    * token keeps its JSON text) and the typed projection below applies the
    * real types per index.
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("states", ArrayType(ArrayType(StringType)))))

  /** Positional parse to [[OpenSkyMap.stateSchema]] columns
    * (opensky_source.py:24–34 index map) plus the `poll_time` group key,
    * with the reference's per-poll truncation `states[:max_vehicles]`
    * (opensky_source.py:166) as a positional filter. `try_cast` keeps one
    * malformed vector from aborting the poll under ANSI mode.
    */
  def parseStates(payloads: DataFrame, maxVehicles: Int = 20): DataFrame =
    payloads
      .select(col("time").as("poll_time"), posexplode(col("states")).as(Seq("pos", "s")))
      .filter(col("pos") < maxVehicles)
      .select(
        col("poll_time"),
        col("s").getItem(0).as("icao24"),
        col("s").getItem(1).as("callsign"),
        col("s").getItem(2).as("origin_country"),
        col("s").getItem(3).try_cast("bigint").as("time_position"),
        col("s").getItem(4).try_cast("bigint").as("last_contact"),
        col("s").getItem(5).try_cast("double").as("longitude"),
        col("s").getItem(6).try_cast("double").as("latitude"),
        col("s").getItem(7).try_cast("double").as("baro_altitude"),
        col("s").getItem(8).try_cast("boolean").as("on_ground"),
        col("s").getItem(9).try_cast("double").as("velocity"),
        col("s").getItem(10).try_cast("double").as("true_track"))

  /** Streaming state rows from a capture directory. One payload file per
    * trigger by default — each micro-batch is exactly one poll, the
    * reference's cadence.
    */
  def stateStream(s: SparkSession, dir: String, maxVehicles: Int = 20,
      filesPerTrigger: Int = 1): DataFrame =
    parseStates(
      s.readStream.schema(payloadSchema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .json(dir),
      maxVehicles)

  /** Full replay pipeline: captured polls → telemetry + per-poll proximity
    * perception → collision alerts, all day-partitioned parquet (the
    * offline twin of the reference's standalone OpenSky demo,
    * run_standalone_opensky_demo.py:36–133). Pairing is keyed by
    * `poll_time`, so several captured polls landing in one micro-batch
    * still pair strictly within their own poll.
    */
  def runReplayPipeline(s: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, t: Thresholds = Thresholds(),
      maxVehicles: Int = 20, filesPerTrigger: Int = 1): StreamingQuery =
    Pipeline.runBatches(stateStream(s, inDir, maxVehicles, filesPerTrigger),
        checkpointDir) { (batch, _) =>
      val b = batch.persist()
      try {
        // asOf pinned to the row's own poll_time (not wall clock): a
        // state with null time_position then stamps the SAME value on
        // the original attempt and on a crash replay of this
        // at-least-once foreachBatch — deterministic replay, the
        // capture's own clock
        val asOf = timestamp_seconds(col("poll_time"))
        Sinks.writePartitioned(OpenSkyMap.toTelemetry(b, asOf = asOf),
          s"$outDir/vehicle_telemetry")
        val perception = OpenSkyMap.proximityPerception(b,
          groupCols = Seq("poll_time"), asOf = asOf)
        Sinks.writePartitioned(perception, s"$outDir/perception_events")
        Sinks.writePartitioned(FleetRules.perceptionAlerts(perception, t),
          s"$outDir/alerts")
      } finally { b.unpersist(); () }
    }
}
