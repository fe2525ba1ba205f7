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

  test("the binary-search bucket equals the all-boundary count it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val fracs = array((1 until 256).map(i => lit(i / 256.0)): _*)
    // with and without a NaN share large enough to put NaN boundaries on top
    Seq(0, 2).foreach { nanTenths =>
      val xs: Seq[Option[Double]] = Seq.fill(4000)(rnd.nextInt(10) match {
        case 0 => None
        case k if k <= nanTenths => Some(Double.NaN)
        case k if k <= nanTenths + 3 => Some(math.floor(rnd.nextGaussian() * 3)) // ties
        case _ => Some(rnd.nextGaussian() * 100)
      })
      val bounds = xs.toDF("x").select(approx_percentile($"x", fracs, lit(10000)).as("b"))
      val bs = bounds.head().getSeq[Double](0)
      assert(bs.size == 255 && bs.distinct.size < 255, "the data's ties repeat a boundary")
      assert(bs.exists(_.isNaN) == (nanTenths > 0), bs)
      // every boundary itself, both zeros and both infinities probe the edges
      val probes = xs ++ (bs ++ Seq(-0.0, 0.0, Double.NegativeInfinity,
        Double.PositiveInfinity, Double.NaN)).map(Option(_)) :+ None
      val withB = probes.toDF("x").crossJoin(broadcast(bounds))
      val reference = aggregate($"b", lit(0), (acc, b) => acc + when($"x" > b, 1).otherwise(0))
      val got = Sinks.quantileBucket(withB.withColumn("want", reference), "x", "b", 8)
        .select($"x", $"b".as("got"), $"want").collect()
      val wrong = got.filterNot(r => r.get(1) == r.get(2))
      assert(wrong.isEmpty, s"nanTenths=$nanTenths: ${wrong.take(5).mkString(", ")}")
      assert(got.filter(_.isNullAt(0)).forall(_.getInt(1) == 0), "a null lands in bucket 0")
      val top = bs.count(b => !b.isNaN)
      assert(got.filter(r => !r.isNullAt(0) && r.getDouble(0).isNaN).forall(_.getInt(1) == top),
        "a NaN counts every non-NaN boundary")
      assert(got.map(_.getInt(1)).distinct.length > 100, "the probes span the buckets")
    }
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
