package graft.sinks

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The z-order clustered layout ([[Sinks.writeZOrdered]]) read back through
  * ordinary parquet filters: a box over the store returns exactly what the
  * same filter returns on the unclustered input, and q105's box pushes both
  * of its column bounds down to the scan. */
class ZOrderSpec extends SparkSpec {

  test("a NaN row cannot poison the layout bounds or box results") {
    import spark.implicits._
    val dir = tmpDir("z_nan")
    // plus a row with a null z value: no row may be lost or duplicated
    val rows = (1 to 200).map(i => (i.toLong, Option(i.toDouble % 50), (i % 40).toDouble)) ++
      Seq((999L, Some(Double.NaN), 3.0), (998L, None, 3.0))
    val df = rows.toDF("id", "x", "y")
    Sinks.writeZOrdered(df, dir, Seq("x", "y"), nFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    val got = back.filter($"x".between(10.0, 20.0) && $"y".between(5.0, 15.0))
      .select("id").collect().map(_.getLong(0)).toSet
    val want = df.filter($"x".between(10.0, 20.0) && $"y".between(5.0, 15.0))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("box queries == direct filters for random boxes; corners included") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val dir = tmpDir("zstore") + "/events"
    Sinks.writeZOrdered(ev, dir, Seq("user_id", "value"), nFiles = 16)
    val store = spark.read.parquet(dir)
    val b = ev.agg(min($"user_id"), max($"user_id"), min($"value"), max($"value")).head()
    val (uMin, uMax, vMin, vMax) = (b.getLong(0), b.getLong(1), b.getDouble(2), b.getDouble(3))
    def box(uLo: Long, uHi: Long, vLo: Double, vHi: Double) =
      $"user_id".between(uLo, uHi) && $"value".between(vLo, vHi)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id").collect().map(_.getLong(0)).toSet
    val rnd = new scala.util.Random(11)
    val sizes = (1 to 8).map { _ =>
      val (u1, u2) = (uMin + rnd.nextInt((uMax - uMin + 1).toInt), uMin + rnd.nextInt((uMax - uMin + 1).toInt))
      val (v1, v2) = (vMin + rnd.nextDouble() * (vMax - vMin), vMin + rnd.nextDouble() * (vMax - vMin))
      val (uLo, uHi, vLo, vHi) = (math.min(u1, u2), math.max(u1, u2), math.min(v1, v2), math.max(v1, v2))
      val expect = ids(ev.filter(box(uLo, uHi, vLo, vHi)))
      assert(ids(store.filter(box(uLo, uHi, vLo, vHi))) == expect, s"box ($uLo,$uHi)x($vLo,$vHi)")
      expect.size
    }
    assert(sizes.exists(_ > 0), sizes)
    // a box pinned exactly at the data's observed min/max keeps every row
    assert(store.filter(box(uMin, uMax, vMin, vMax)).count() == ev.count())
  }

  test("q105 pushes both box bounds to the parquet scan and skips row groups") {
    // a non-adaptive plan: AQE replaces a stage that came back empty (this
    // box is empty at sf0.001) with an empty relation, and the scan, with
    // its row count, drops out of the final plan
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (pushed, read) = try {
      val q = graft.SparkEntry.queries("q105_zorder_box")(spark, sf0001)
      q.collect()
      val scans = q.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 1, scans)
      (scans.head.metadata("PushedFilters"), scans.head.metrics("numOutputRows").value)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    Seq("GreaterThanOrEqual(user_id,40)", "LessThanOrEqual(user_id,90)",
      "GreaterThanOrEqual(value,100.0)", "LessThanOrEqual(value,400.0)").foreach { f =>
      assert(pushed.contains(f), s"$f not pushed: $pushed")
    }
    val total = graft.sources.Tables.events(spark, sf0001).count()
    assert(read < total, s"the scan read all $total rows: no row group was skipped")
  }
}
