package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  test("CSV export round-trips a metric frame with header") {
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "k", "v")
    val dir = tmpDir("csv_out") + "/export"
    Sinks.exportCsv(df, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.columns.toSeq == Seq("id", "k", "v"))
    assert(back.orderBy("id").collect().map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
    // single output file (coalesce(1))
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv")) == 1)
  }

  test("writeZOrdered: per-file min/max tighten on EVERY z column, content unchanged") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
      .select("user_id", "value", "event_id")
    val base = tmpDir("z_base")
    val zdir = tmpDir("z_opt")
    ev.repartition(8).write.mode("overwrite").parquet(base)
    Sinks.writeZOrdered(ev, zdir, Seq("user_id", "value"), nFiles = 32)

    // clustering is a layout change, never a content change
    val back = spark.read.parquet(zdir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)

    // per-file value spans: the z layout must tighten BOTH columns at
    // once (a plain sort would only tighten its leading column)
    def avgRange(dir: String, c: String): Double =
      spark.read.parquet(dir).groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("r"))
        .agg(avg("r")).head().getDouble(0)
    val uRatio = avgRange(zdir, "user_id") / avgRange(base, "user_id")
    val vRatio = avgRange(zdir, "value") / avgRange(base, "value")
    assert(uRatio < 0.5, s"user_id per-file range ratio $uRatio not tightened")
    assert(vRatio < 0.5, s"value per-file range ratio $vRatio not tightened")
  }

  test("upsert: same-key rows replaced, new keys appended, only touched partitions rewritten") {
    import spark.implicits._
    val dir = tmpDir("upsert") + "/t"
    val day1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val day2 = java.sql.Timestamp.valueOf("2026-01-02 10:00:00")
    val base = Seq((1, day1, 50.0), (2, day1, 60.0), (3, day2, 70.0))
      .toDF("vehicle_id", "time", "speed")
    Sinks.writePartitioned(base, dir)
    def day1Files = new java.io.File(s"$dir/p_date=2026-01-01").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val day1Before = day1Files
    // update vehicle 3's day-2 row, insert vehicle 4 on day 2
    val updates = Seq((3, day2, 75.0), (4, day2, 80.0))
      .toDF("vehicle_id", "time", "speed")
    Sinks.upsertPartitioned(spark, updates, dir, Seq("vehicle_id", "time"))
    val after = spark.read.parquet(dir)
    assert(after.count() == 4)
    assert(after.filter($"vehicle_id" === 3).head().getDouble(2) == 75.0,
      "colliding key takes the update's value")
    assert(after.filter($"vehicle_id" === 4).count() == 1)
    assert(after.filter($"vehicle_id" === 1).head().getDouble(2) == 50.0)
    assert(day1Files == day1Before, "untouched day-1 partition must not be rewritten")
    // upsert into a not-yet-existing table works (first write path)
    val dir2 = tmpDir("upsert2") + "/t"
    Sinks.upsertPartitioned(spark, updates, dir2, Seq("vehicle_id", "time"))
    assert(spark.read.parquet(dir2).count() == 2)
  }

  test("ORC sink: day-partitioned round-trip with partition pruning") {
    val dir = tmpDir("orc_out") + "/t"
    val tel = graft.sources.Simulation.telemetry(spark, 3, 40, seed = 7).toDF()
    Sinks.writePartitionedOrc(tel, dir)
    val back = spark.read.orc(dir)
    assert(back.count() == tel.count())
    assert(back.columns.contains("p_date"))
    // a p_date predicate prunes at the partition level, same as parquet
    val pruned = back.filter(col("p_date") === back.select(min("p_date")).head().getDate(0))
    val scan = pruned.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "ORC scan node present")
    assert(scan.get.partitionFilters.nonEmpty, "p_date filter reached partition pruning")
  }

  test("compaction collapses small files, preserves rows and partitioning") {
    val dir = tmpDir("compact") + "/t"
    val tel = graft.sources.Simulation.telemetry(spark, 4, 50, seed = 3).toDF()
    // three appends at full parallelism -> many small files
    (1 to 3).foreach(_ => Sinks.writePartitioned(tel, dir))
    def parquetFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles.size
    val rows = spark.read.parquet(dir).count()
    Sinks.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024,
      partitionCols = Seq("p_date"))
    assert(parquetFiles.size < before)
    assert(parquetFiles.size == 1, "600 tiny rows fit one target-size file")
    val after = spark.read.parquet(dir)
    assert(after.count() == rows)
    assert(after.columns.contains("p_date"), "partition column survives")
  }

  test("compaction does not duplicate rows when one write spans several partition values") {
    import spark.implicits._
    val dir = tmpDir("compact_multi") + "/t"
    // ONE dynamic-partition write emits the SAME part-file basename
    // under every p=... directory it touches, so a basename-keyed
    // file→salt join multiplies those rows (the silent-duplication
    // regression); two appends deepen the collision
    val df = (0 until 900).map(i => (i.toLong, i % 3)).toDF("id", "p")
    (1 to 2).foreach(_ => df.write.mode("append").partitionBy("p").parquet(dir))
    val before = spark.read.parquet(dir).select("id", "p").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    Sinks.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024,
      partitionCols = Seq("p"))
    val after = spark.read.parquet(dir).select("id", "p").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(after == before)
  }

  test("compaction splits an over-target partition directory into multiple files") {
    val dir = tmpDir("compact_split") + "/t"
    val tel = graft.sources.Simulation.telemetry(spark, 4, 400, seed = 9).toDF()
    (1 to 3).foreach(_ => Sinks.writePartitioned(tel, dir))
    def filesPerDir = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getName).view.mapValues(_.size).toMap
    }
    val rows = spark.read.parquet(dir).count()
    // a target far below one day's bytes: partition-column-only
    // repartitioning would collapse each day to ONE file regardless
    Sinks.compact(spark, dir, targetFileBytes = 20L * 1024,
      partitionCols = Seq("p_date"))
    val after = filesPerDir
    assert(after.values.max > 1,
      s"an over-target directory must split into multiple files, got $after")
    assert(spark.read.parquet(dir).count() == rows)
  }

  test("compaction rescues files appended by a concurrent writer") {
    val dir = tmpDir("compact_race") + "/t"
    val tel = graft.sources.Simulation.telemetry(spark, 4, 50, seed = 7).toDF()
    (1 to 2).foreach(_ => Sinks.writePartitioned(tel, dir))
    val base = spark.read.parquet(dir).count()
    // the seam fires after the compactor pins its file list == a streaming
    // sink appending mid-rewrite; those rows must survive the swap
    Sinks.compactImpl(spark, dir, 64L * 1024 * 1024, Seq("p_date"),
      () => Sinks.writePartitioned(tel, dir))
    val after = spark.read.parquet(dir)
    assert(after.count() == base + tel.count(),
      "rows appended during compaction must not be deleted with __precompact")
    assert(!new java.io.File(dir + "__precompact").exists())
    assert(!new java.io.File(dir + "__compacting").exists())
  }

  test("JDBC sink round-trips through an embedded Derby database") {
    // Derby ships with Spark (hive-metastore dependency), so the JDBC leg
    // is executable here: write via the production writeJdbc (append mode,
    // batched statements), read back through Spark's JDBC source, compare.
    val db = tmpDir("derby") + "/fleetdb"
    val url = s"jdbc:derby:$db;create=true"
    val tel = graft.sources.Simulation.telemetry(spark, 3, 20, seed = 11).toDF()
    Sinks.writeJdbc(tel, url, "vehicle_telemetry", user = "app", password = "app")
    // append a second batch: mode must accumulate, not replace
    Sinks.writeJdbc(tel.limit(5), url, "vehicle_telemetry", user = "app", password = "app")
    val props = new java.util.Properties()
    props.setProperty("user", "app")
    props.setProperty("password", "app")
    val back = spark.read.jdbc(url, "vehicle_telemetry", props)
    assert(back.count() == tel.count() + 5)
    val a = tel.orderBy("vehicle_id", "time").collect().toSeq
    val b = back.except(tel.limit(5)).orderBy("vehicle_id", "time").collect().toSeq
    assert(b.map(_.getInt(b.head.fieldIndex("vehicle_id"))).toSet ==
      a.map(_.getInt(a.head.fieldIndex("vehicle_id"))).toSet)
    val s = back.agg(sum(col("odometer_km"))).head().getDouble(0)
    val e = tel.agg(sum(col("odometer_km"))).head().getDouble(0) +
      tel.limit(5).agg(sum(col("odometer_km"))).head().getDouble(0)
    assert(math.abs(s - e) < 1e-9)
    try { java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true") }
    catch { case _: java.sql.SQLException => () } // clean shutdown always throws
  }

  test("partitioned parquet sink prunes by day") {
    val tel = graft.sources.Simulation.telemetry(spark, 2, 10, seed = 1,
      startMillis = 1700000000000L).toDF()
    val dir = tmpDir("pq_out") + "/telemetry"
    Sinks.writePartitioned(tel, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 20)
    val pruned = back.filter(col("p_date") === to_date(lit("2023-11-14")))
    // all simulated rows land on 2023-11-14 (epoch 1700000000)
    assert(pruned.count() == 20)
    assert(back.filter(col("p_date") === to_date(lit("1999-01-01"))).count() == 0)
  }

  test("concurrently: every write runs") {
    val dir = tmpDir("conc_all")
    Sinks.concurrently((1 to 3).map(i =>
      () => spark.range(i * 10).write.parquet(s"$dir/w$i")): _*)
    assert((1 to 3).map(i => spark.read.parquet(s"$dir/w$i").count()) == Seq(10, 20, 30))
  }

  test("concurrently: a failure surfaces only after a slower sibling has finished") {
    val slow = tmpDir("conc_slow") + "/slow"
    val e = intercept[IllegalStateException] {
      Sinks.concurrently(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(500); spark.range(10).write.parquet(slow) })
    }
    assert(e.getMessage == "first")
    // the sibling committed before the failure was thrown
    assert(new java.io.File(s"$slow/_SUCCESS").exists())
    assert(spark.read.parquet(slow).count() == 10)
  }

  test("concurrently: the first failure in argument order carries the others as suppressed") {
    val dir = tmpDir("conc_fail")
    val e = intercept[RuntimeException] {
      Sinks.concurrently(
        () => spark.range(5).write.parquet(s"$dir/ok"),
        () => { Thread.sleep(200); throw new RuntimeException("a") },
        () => throw new IllegalArgumentException("b"),
        () => throw new UnsupportedOperationException("c"))
    }
    assert(e.getMessage == "a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b", "c"))
    assert(spark.read.parquet(s"$dir/ok").count() == 5)
  }

  test("concurrently: the jobs of every write carry the caller's job group") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("conc_group")
    val Tag = "graft.spec.write"
    // (write tag, job group) of every job a tagged write runs
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { tag =>
          seen.add(tag -> j.properties.getProperty("spark.jobGroup.id"))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("sinks-spec-group", "concurrent writes")
    try {
      Sinks.concurrently((1 to 3).map(i => () => {
        sc.setLocalProperty(Tag, i.toString)
        spark.range(i * 10).write.parquet(s"$dir/w$i")
      }): _*)
      // listener events arrive asynchronously: wait until every write's
      // jobs have been heard
      val deadline = System.currentTimeMillis() + 30000L
      while (seen.asScala.map(_._1).toSet.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val jobs = seen.asScala.toSeq
    assert(jobs.map(_._1).toSet == Set("1", "2", "3"), s"jobs heard: $jobs")
    assert(jobs.forall(_._2 == "sinks-spec-group"), s"jobs outside the caller's group: $jobs")
    // the caller's own properties are untouched by the writes' tags
    assert(sc.getLocalProperty(Tag) == null)
  }

  test("concurrently: card-store saves over local rows == a naive count, save after save") {
    import graft.queries.{Additive, TextOps}
    import spark.implicits._
    // local rows are projected on the driver, once per concurrent write:
    // a lambda shared by the three tables' plans raced there and
    // miscounted ws_tokens now and then
    val texts = Seq("", "a", "a b", " a  b ", "abc def ghi", "  ", "b")
    val docs = (0 until 42).map(i => (s"s${i % 4}", "en", texts(i % texts.size)))
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val nw = ds.map(_._3.split(" ").count(_.nonEmpty).toLong)
      s"[$src,${ds.size},${nw.sum},${nw.count(_ < 50)}]"
    }.toSeq.sorted
    val dir = tmpDir("conc_cards")
    (1 to 25).foreach { round =>
      Additive.save(TextOps.cardStoreOf(docs.toDF("source", "lang", "text")), s"$dir/$round")
      val sums = spark.read.parquet(s"$dir/$round/sums")
        .select("source", "n_docs", "ws_tokens", "n_short_docs")
      assert(sums.collect().map(_.toString).sorted.toSeq == want, s"save $round")
    }
  }

  test("one launcher of concurrent Spark jobs: Sinks.concurrently") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p)).toMap
    finally walk.close()
    def count(text: String, s: String): Int =
      text.split(java.util.regex.Pattern.quote(s), -1).length - 1
    Seq("ExecutionContext", "inParallel", "Future(", "Future.sequence", "Executors.",
        "ForkJoinPool", ".par.").foreach { s =>
      assert(sources.values.map(count(_, s)).sum == 0, s"`$s` in src/main")
    }
    // every thread src/main starts, but the index cache's shutdown hook,
    // is a concurrent write's
    val threads = sources.map { case (f, text) =>
      f -> (count(text, "new Thread(") - count(text, "addShutdownHook(new Thread(")) }
      .filter(_._2 > 0)
    assert(threads == Map("scala/graft/sinks/Sinks.scala" -> 1),
      s"threads started outside Sinks.concurrently: $threads")
  }
}
