package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FileReplaySpec extends SparkSpec {

  private val fixture = getClass.getResource("/telemetry_sample.csv").getPath
  private val asOf = lit("2026-03-01 09:00:00").cast("timestamp")

  test("CSV replay normalizes coercions, defaults and schema") {
    val df = FileReplay.readTelemetryCsv(spark, fixture, asOf).orderBy("time", "vehicle_id")
    val rows = df.collect()
    assert(rows.length == 6)
    assert(df.columns.toSeq == Seq("time", "vehicle_id", "current_speed_kmh",
      "speed_limit_violation", "latitude", "longitude", "battery_level_pct",
      "remaining_range_km", "autopilot_engaged", "odometer_km",
      "start_location", "destination"))
    // row with all-empty values: vehicle_id default 1, numeric defaults
    val empty = rows.find(r => r.getDouble(2) == 0.0).get
    assert(empty.getInt(1) == 1 && empty.getDouble(6) == 85.0 && empty.getDouble(7) == 400.0)
    assert(empty.getString(10) == "Waymo" && empty.getBoolean(8))
  }

  test("str->bool truthiness matches the reference tables") {
    val df = FileReplay.readTelemetryCsv(spark, fixture, asOf)
    // violations: "1" and "TRUE" count; "0"/"false"/"no"/empty don't
    assert(df.filter(col("speed_limit_violation")).count() == 2)
    // autopilot default-true semantics: only "0" and "FALSE" disable
    assert(df.filter(!col("autopilot_engaged")).count() == 2)
  }

  test("unparseable timestamp falls back to asOf deterministically") {
    val df = FileReplay.readTelemetryCsv(spark, fixture, asOf)
    val fallback = df.filter(col("time") === asOf)
    assert(fallback.count() == 1)
    assert(fallback.head().getDouble(2) == 41.0)
  }

  test("JSONL replay matches CSV semantics") {
    val dir = tmpDir("jsonl")
    val p = Paths.get(dir, "t.jsonl")
    Files.writeString(p,
      """{"vehicle_id":"9","timestamp":"2026-03-01 10:00:00","current_speed_kmh":"66.5","speed_limit_violation":"yes"}
        |{"vehicle_id":"10"}
        |""".stripMargin)
    val df = FileReplay.readTelemetryJsonl(spark, p.toString, asOf).orderBy("vehicle_id")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(1) == 9 && rows(0).getDouble(2) == 66.5 && rows(0).getBoolean(3))
    assert(rows(1).getInt(1) == 10 && !rows(1).getBoolean(3) &&
      rows(1).getTimestamp(0) != null)
  }

  test("readTelemetryFile dispatches on the extension, ignoring its case") {
    val dir = tmpDir("replay_ext")
    val jsonl = Paths.get(dir, "t.jsonl")
    Files.writeString(jsonl,
      """{"vehicle_id":"9","timestamp":"2026-03-01 10:00:00","odometer_km":"12.5"}
        |{"vehicle_id":"10","autopilot_engaged":"no"}
        |""".stripMargin)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("time", "vehicle_id").collect().toSeq
    val csvRows = rows(FileReplay.readTelemetryCsv(spark, fixture, asOf))
    val jsonRows = rows(FileReplay.readTelemetryJsonl(spark, jsonl.toString, asOf))
    assert(csvRows.size == 6 && jsonRows.size == 2)
    val copies = Seq("t.csv" -> fixture, "t.Csv" -> fixture, "t.NDJSON" -> jsonl.toString,
      "u.JsonL" -> jsonl.toString, "t.ndjson" -> jsonl.toString)
    copies.foreach { case (name, src) =>
      val p = Files.copy(Paths.get(src), Paths.get(dir, name)).toString
      val want = if (src == fixture) csvRows else jsonRows
      assert(rows(FileReplay.readTelemetryFile(spark, p, asOf)) == want, name)
    }
    assert(rows(FileReplay.readTelemetryFile(spark, jsonl.toString, asOf)) == jsonRows)
    val txt = Files.copy(jsonl, Paths.get(dir, "t.txt")).toString
    val e = intercept[IllegalArgumentException](FileReplay.readTelemetryFile(spark, txt, asOf))
    assert(e.getMessage.contains(txt), e.getMessage)
  }
}
