package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingSpec extends SparkSpec {

  private def writeJsonl(dir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("", "\n", "\n"))

  private val row1 =
    """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:00","current_speed_kmh":"80","speed_limit_violation":"true","battery_level_pct":"50"}"""
  private val row2 =
    """{"vehicle_id":"2","timestamp":"2026-03-01 08:00:01","current_speed_kmh":"40","speed_limit_violation":"false","battery_level_pct":"10"}"""
  private val row3 =
    """{"vehicle_id":"3","timestamp":"2026-03-01 08:00:02","current_speed_kmh":"30","speed_limit_violation":"false","battery_level_pct":"90"}"""

  test("availableNow alert pipeline: stream -> rules -> partitioned parquet, incremental on re-run") {
    val in = tmpDir("stream_in")
    val out = tmpDir("stream_out")
    val ckpt = tmpDir("stream_ckpt")
    writeJsonl(in, "batch1.jsonl", row1, row2)

    val q1 = Pipeline.runAlertPipeline(spark, in, out, ckpt)
    q1.awaitTermination()
    val tel1 = spark.read.parquet(s"$out/vehicle_telemetry")
    val al1 = spark.read.parquet(s"$out/alerts")
    assert(tel1.count() == 2)
    // row1 -> Speed Violation, row2 -> Low Battery
    assert(al1.count() == 2)
    assert(al1.select("alert_type").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq == Seq("Low Battery", "Speed Violation"))
    // day partitioning materialized
    assert(tel1.columns.contains("p_date"))

    // second run with one new file: checkpoint skips batch1
    writeJsonl(in, "batch2.jsonl", row3)
    val q2 = Pipeline.runAlertPipeline(spark, in, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/vehicle_telemetry").count() == 3)
    assert(spark.read.parquet(s"$out/alerts").count() == 2, "benign row adds no alert")
  }

  test("alert pipeline: a failed sink write ends the query uncommitted, with none of its jobs left running") {
    import scala.jdk.CollectionConverters._
    val in = tmpDir("stream_fail_in")
    val out = tmpDir("stream_fail_out")
    val ckpt = tmpDir("stream_fail_ckpt")
    writeJsonl(in, "batch1.jsonl", row1, row2)
    // a regular file where the alerts table's directory must go
    Files.writeString(Paths.get(out, "alerts"), "occupied")
    // job id -> job group of every job start, job id -> end time of
    // every job end the session hears
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.put(j.jobId, _))
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ends.put(j.jobId, j.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Pipeline.runAlertPipeline(spark, in, out, ckpt)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
      val terminated = System.currentTimeMillis()
      assert(!Files.exists(Paths.get(ckpt, "commits", "0")), "a failed batch must not commit")
      def mine = groups.asScala.collect { case (id, g) if g == q.runId.toString => id }.toSet
      // listener events arrive asynchronously: wait until every job of
      // the query's group has been heard ending
      val deadline = terminated + 30000L
      while ((mine.isEmpty || !mine.forall(ends.containsKey)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(mine.nonEmpty, "the telemetry write ran no job in the query's job group")
      val endTimes = mine.map(id => id -> ends.asScala.get(id)).toMap
      // end times are stamped when a job finishes, not when it is heard
      assert(endTimes.values.forall(_.exists(_ <= terminated)),
        s"jobs still running after awaitTermination ($terminated): $endTimes")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("byte-sized triggers: a small-file backlog drains in one micro-batch, == batch rules") {
    def committed(ckpt: String): Int =
      new java.io.File(s"$ckpt/commits").listFiles().count(_.getName.forall(_.isDigit))
    val in = tmpDir("bt_in")
    // 12 files: more than a 10-file cap admits, far below one wave of
    // full splits in bytes
    (0 until 12).foreach { f =>
      writeJsonl(in, f"f$f%02d.jsonl", (0 until 3).map { i =>
        val v = f * 3 + i
        s"""{"vehicle_id":"$v","timestamp":"2026-03-01 08:00:${f"$v%02d"}",""" +
          s""""current_speed_kmh":"${40 + v}","speed_limit_violation":"${v % 4 == 0}",""" +
          s""""battery_level_pct":"${(v * 7) % 100}"}"""
      }: _*)
    }
    val out = tmpDir("bt_out")
    val ckpt = tmpDir("bt_ckpt")
    Pipeline.runAlertPipeline(spark, in, out, ckpt).awaitTermination()
    assert(committed(ckpt) == 1, "the whole backlog fits one trigger")

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val batch = graft.sources.FileReplay.readTelemetryJsonl(spark, in)
    val alerts = graft.rules.FleetRules.telemetryAlerts(batch)
    assert(rows(spark.read.parquet(s"$out/vehicle_telemetry").select(batch.columns.map(col): _*))
      == rows(batch))
    assert(rows(spark.read.parquet(s"$out/alerts").select(alerts.columns.map(col): _*))
      == rows(alerts))
    assert(alerts.count() > 0 && alerts.select("alert_type").distinct().count() == 2,
      "both telemetry rules fire on the backlog")

    // a pinned file-count cap still wins over the byte default
    val pinned = tmpDir("bt_ckpt1")
    Pipeline.telemetryFileStream(spark, in, maxFilesPerTrigger = Some(1))
      .writeStream.format("noop").option("checkpointLocation", pinned)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(committed(pinned) == 12, "one micro-batch per file")
  }

  test("watermarked windowed metrics finalize through availableNow") {
    val in = tmpDir("met_in")
    val out = tmpDir("met_out")
    val ckpt = tmpDir("met_ckpt")
    // two vehicles, two 1-minute windows
    // the 08:10 row advances the watermark (08:10 - 2min = 08:08) past the
    // earlier window ends, so those finalize and emit; its own window stays
    // open and must NOT appear in append output
    writeJsonl(in, "b.jsonl",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:10","current_speed_kmh":"60","speed_limit_violation":"false"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:50","current_speed_kmh":"80","speed_limit_violation":"true"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:01:10","current_speed_kmh":"40","speed_limit_violation":"false"}""",
      """{"vehicle_id":"2","timestamp":"2026-03-01 08:00:20","current_speed_kmh":"50","speed_limit_violation":"false"}""",
      """{"vehicle_id":"2","timestamp":"2026-03-01 08:10:00","current_speed_kmh":"30","speed_limit_violation":"false"}""")
    val q = Pipeline.runMetricsPipeline(spark, in, out, ckpt)
    q.awaitTermination()
    val m = spark.read.parquet(s"$out/speed_metrics_windowed")
    val v1w1 = m.filter(col("vehicle_id") === 1 &&
      col("time_bucket") === lit("2026-03-01 08:00:00").cast("timestamp")).collect()
    assert(v1w1.length == 1)
    assert(v1w1.head.getAs[Double]("avg_speed_kmh") == 70.0)
    assert(v1w1.head.getAs[Double]("max_speed_kmh") == 80.0)
    assert(v1w1.head.getAs[Long]("violations") == 1L)
    assert(m.count() == 3, "three finalized (vehicle, window) groups")
    assert(m.filter(col("time_bucket") === lit("2026-03-01 08:10:00").cast("timestamp"))
      .count() == 0, "open window beyond watermark is not emitted")
  }

  test("upsert metrics store: a replayed micro-batch converges to the clean run") {
    def metRow(vid: Int, t: String, kmh: Int, viol: Boolean = false) =
      s"""{"vehicle_id":"$vid","timestamp":"$t","current_speed_kmh":"$kmh","speed_limit_violation":"$viol"}"""
    val in = tmpDir("ups_in")
    // three files -> three micro-batches (maxFilesPerTrigger = 1); the
    // same window is refined across batches so update-mode partials flow
    val files = Seq(
      "b1.jsonl" -> Seq(
        metRow(1, "2026-03-01 08:00:10", 60),
        metRow(2, "2026-03-01 08:00:20", 50)),
      "b2.jsonl" -> Seq(
        metRow(1, "2026-03-01 08:00:50", 80, viol = true),
        metRow(1, "2026-03-01 08:01:10", 40)),
      "b3.jsonl" -> Seq(
        metRow(2, "2026-03-01 08:10:00", 30)))
    files.foreach { case (n, rows) => writeJsonl(in, n, rows: _*) }

    def store(out: String): Seq[String] =
      spark.read.parquet(s"$out/speed_metrics_store")
        .orderBy("vehicle_id", "time_bucket")
        .collect().map(_.toString).toSeq

    def runToCompletion(out: String, ckpt: String): Unit = {
      val q = Pipeline.runUpsertMetricsPipeline(spark, in, out, ckpt,
        maxFilesPerTrigger = 1)
      q.awaitTermination()
      q.stop() // release the checkpoint before any same-path restart
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    }

    // clean run: no failures, every batch committed exactly once
    val outA = tmpDir("ups_outA")
    runToCompletion(outA, tmpDir("ups_ckptA"))
    val clean = store(outA)
    assert(clean.nonEmpty)

    // crash-replay run: drop the LAST batch's commit marker after a full
    // run — exactly the state after a crash between the foreachBatch sink
    // write and the checkpoint commit — and restart. The restarted query
    // re-executes that batch against the same state version and upserts
    // the same rows again.
    val outB = tmpDir("ups_outB")
    val ckptB = tmpDir("ups_ckptB")
    runToCompletion(outB, ckptB)
    val commits = new java.io.File(s"$ckptB/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 3, s"expected >=3 micro-batches, got ${commits.length}")
    assert(commits.last.delete())
    // the local FS keeps a checksum sidecar; a stale one makes the
    // re-written commit look like a concurrent writer's
    new java.io.File(s"$ckptB/commits/.${commits.last.getName}.crc").delete()
    runToCompletion(outB, ckptB)
    assert(store(outB) == clean,
      "replayed micro-batch must leave the store row-identical to a single clean run")
  }

  test("shared batch sink: torn-commit replay rewrites every batch=* output row-identically") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def jsonl(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"), $"*")))
        .collect().map(_.getString(0)).toSeq
    val texts = jsonl(docs.filter($"doc_id" % 10 >= 8).orderBy($"doc_id")
      .select($"doc_id", $"text"))
    val queries = jsonl(docs.filter($"doc_id" % 37 === 0).orderBy($"doc_id")
      .select($"doc_id".as("query_id"), $"text"))
    val bad = """{"vehicle_id":"x1","timestamp":"2026-03-01 08:00:03","current_speed_kmh":"50","speed_limit_violation":"false"}"""

    // (gate, input files, runner(in, out, ckpt), batch=* output dirs):
    // a single-output gate, the conditional bm25 lookup and the
    // three-output expectation gate — one file per micro-batch
    val cases: Seq[(String, Seq[Seq[String]], (String, String, String) => StreamingQuery,
        Seq[String])] = Seq(
      ("langid", Seq(texts.take(texts.length / 2), texts.drop(texts.length / 2)),
        (in, out, ck) => Pipeline.runLangIdGateStream(spark, sf0001, in, out, ck,
          maxFilesPerTrigger = 1), Seq("langid")),
      ("bm25", Seq(queries.take(1), queries.drop(1)),
        (in, out, ck) => Pipeline.runBm25LookupStream(spark, sf0001, in, out, ck,
          maxFilesPerTrigger = 1), Seq("bm25_lookup")),
      ("expectation", Seq(Seq(row1, bad), Seq(row2, row3)),
        (in, out, ck) => Pipeline.runExpectationGateStream(spark, in, out, ck,
          maxFilesPerTrigger = 1), Seq("admitted", "quarantine", "audit")))

    cases.foreach { case (gate, files, run, outputs) =>
      val in = tmpDir(s"torn_${gate}_in")
      files.zipWithIndex.foreach { case (ls, i) => writeJsonl(in, s"b$i.jsonl", ls: _*) }
      def runToCompletion(out: String, ckpt: String): Unit = {
        val q = run(in, out, ckpt)
        q.awaitTermination()
        q.stop() // release the checkpoint before any same-path restart
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (spark.streams.active.exists(_.id == q.id) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      }
      // every row with its batch=<id> partition value
      def written(out: String): Seq[(String, Seq[String])] = outputs.map(o =>
        o -> spark.read.parquet(s"$out/$o").collect().map(_.toString).sorted.toSeq)
      def commits(ckpt: String): Seq[java.io.File] =
        new java.io.File(s"$ckpt/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt).toSeq

      val outA = tmpDir(s"torn_${gate}_outA")
      runToCompletion(outA, tmpDir(s"torn_${gate}_ckptA"))
      val clean = written(outA)
      assert(clean.forall(_._2.nonEmpty), s"$gate: empty clean output")

      val outB = tmpDir(s"torn_${gate}_outB")
      val ckptB = tmpDir(s"torn_${gate}_ckptB")
      runToCompletion(outB, ckptB)
      val done = commits(ckptB)
      assert(done.length == files.length, s"$gate: one micro-batch per file")
      // the state after a crash between the sink write and the commit
      assert(done.last.delete())
      new java.io.File(s"$ckptB/commits/.${done.last.getName}.crc").delete()
      runToCompletion(outB, ckptB)
      assert(commits(ckptB).map(_.getName) == done.map(_.getName),
        s"$gate: the torn batch was replayed and committed")
      assert(written(outB) == clean,
        s"$gate: replayed batch must leave batch=* row-identical to a clean run")
    }
  }

  test("runner scaffold lives once in Pipeline.scala") {
    val src = Paths.get("src/main/scala/graft/streaming/Pipeline.scala")
    assert(Files.exists(src), s"run from the repository root: $src")
    def occurrences(text: String, s: String) =
      text.split(java.util.regex.Pattern.quote(s), -1).length - 1
    val text = Files.readString(src)
    Seq("RocksDBStateStoreProvider", "batch=$batchId").foreach { s =>
      assert(occurrences(text, s) == 1,
        s"`$s` must occur exactly once — new runners go through the shared helpers")
    }
    // every bounded runner under src/main, not only this file's, starts
    // through Pipeline's one AvailableNow helper
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala"))
    val all = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(Files.readString).mkString("\n")
    finally files.close()
    assert(occurrences(all, "Trigger.AvailableNow()") == 1,
      "`Trigger.AvailableNow()` must occur once in src/main — start runners through Pipeline.runBatches")
  }

  test("streaming drift monitor: flooded token alerts in its window only, rates exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("drift_in")
    val out = tmpDir("drift_out")
    val ckpt = tmpDir("drift_ckpt")
    def doc(ts: String, id: Long, text: String) =
      s"""{"ts":"$ts","doc_id":$id,"text":"$text"}"""
    // window 1 (08:00): corpus-like words; window 2 (08:01): flooded with
    // a token the baseline has never seen; a late row (08:10) advances the
    // watermark so both windows finalize
    writeJsonl(in, "b1.jsonl",
      doc("2026-03-01 08:00:05", 1, "spark batch query table"),
      doc("2026-03-01 08:00:20", 2, "spark agg filter row"))
    writeJsonl(in, "b2.jsonl",
      doc("2026-03-01 08:01:05", 3, "zzznovel zzznovel zzznovel spark"),
      doc("2026-03-01 08:01:30", 4, "zzznovel zzznovel zzznovel zzznovel"))
    writeJsonl(in, "b3.jsonl",
      doc("2026-03-01 08:10:00", 5, "spark"))
    // pin strictly increasing mtimes (see windowed-heavy-hitters test):
    // batch order must match event-time order or the late file advances
    // the watermark first and the early windows' rows drop as late
    for ((stem, i) <- Seq("b1", "b2", "b3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))

    Pipeline.runTokenDriftMonitor(spark, corpus, in, out, ckpt,
      threshold = 0.3).awaitTermination()
    val alerts = spark.read.parquet(s"$out/token_drift")
      .filter(col("window_start") < org.apache.spark.sql.functions.lit("2026-03-01 08:10:00").cast("timestamp"))
      .collect()
    // the flood dominates window 2 (7 of 8 tokens) and is absent from the
    // baseline -> drift == rate == 7/8; no other token in either window
    // shifts 0.3 of rate (window 1's heaviest, spark at 0.25, drifts
    // ~0.22 against its baseline rate)
    assert(alerts.length == 1)
    val flood = alerts.head
    assert(flood.getString(1) == "zzznovel")
    assert(flood.getTimestamp(0).toString.startsWith("2026-03-01 08:01"))
    assert(flood.getLong(2) == 7L)
    assert(flood.getDouble(3) == 7.0 / 8.0)
    assert(flood.getDouble(4) == 0.0)
  }

  test("streaming vocab novelty: known window scores zero, garbage window counted exactly") {
    import org.apache.spark.sql.functions.{col, explode, split}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("vocab_in")
    val out = tmpDir("vocab_out")
    val ckpt = tmpDir("vocab_ckpt")
    // pull two real corpus tokens so window 1 is guaranteed novelty-free
    val known = graft.sources.Tables.documents(spark, corpus)
      .select(explode(split(col("text"), " ")).as("t"))
      .distinct().orderBy(col("t")).limit(2).as[String].collect()
    def doc(ts: String, id: Long, text: String) =
      s"""{"ts":"$ts","doc_id":$id,"text":"$text"}"""
    // window 1 (08:00): baseline vocabulary only; window 2 (08:01): two
    // never-seen terms among known ones; late row finalizes both windows
    writeJsonl(in, "b1.jsonl",
      doc("2026-03-01 08:00:05", 1, s"${known(0)} ${known(1)} ${known(0)}"))
    writeJsonl(in, "b2.jsonl",
      doc("2026-03-01 08:01:05", 2, s"zzgarbage1 ${known(0)} zzgarbage2"),
      doc("2026-03-01 08:01:30", 3, "zzgarbage1"))
    writeJsonl(in, "b3.jsonl",
      doc("2026-03-01 08:10:00", 4, known(0)))
    for ((stem, i) <- Seq("b1", "b2", "b3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))

    Pipeline.runVocabNoveltyMonitor(spark, corpus, in, out, ckpt)
      .awaitTermination()
    val rows = spark.read.parquet(s"$out/vocab_novelty")
      .filter(col("window_start") < org.apache.spark.sql.functions.lit("2026-03-01 08:10:00").cast("timestamp"))
      .orderBy(col("window_start")).collect()
    assert(rows.length == 2)
    val (w1, w2) = (rows(0), rows(1))
    // window 1: 3 tokens, 2 distinct, nothing new
    assert(w1.getLong(1) == 3L && w1.getLong(2) == 2L && w1.getLong(3) == 0L)
    assert(w1.getDouble(4) == 0.0)
    // window 2: 4 tokens, 3 distinct (zzgarbage1, zzgarbage2, known0),
    // exactly the 2 garbage terms novel
    assert(w2.getLong(1) == 4L && w2.getLong(2) == 3L && w2.getLong(3) == 2L)
    assert(w2.getDouble(4) == 2.0 / 3.0)
  }

  test("streaming PQ lookup: stream ADC top-k == batch scoring on the same rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("pq_in")
    val out = tmpDir("pq_out")
    val ckpt = tmpDir("pq_ckpt")
    // query stream: JSONL re-serialization of real corpus vectors (two
    // files -> two micro-batches); ids offset so none collides with a
    // corpus vec_id
    val vecs = spark.read.parquet(s"$corpus/embeddings.parquet")
      .orderBy($"vec_id").limit(6)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def line(id: Long, v: Seq[Float]) =
      s"""{"ts":"2026-03-01 08:00:00","query_id":${id + 100000},"embedding":[${v.mkString(",")}]}"""
    writeJsonl(in, "b1.jsonl", vecs.take(3).map((line _).tupled): _*)
    writeJsonl(in, "b2.jsonl", vecs.drop(3).map((line _).tupled): _*)

    Pipeline.runPqLookupStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/pq_lookup")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    // batch: the same shared scoring on the same parsed rows
    val idx = graft.queries.VectorOps.pqTrain(spark, corpus)
    val parsed = spark.read
      .schema("ts TIMESTAMP, query_id LONG, embedding ARRAY<FLOAT>")
      .json(in)
      .select(col("query_id").as("vec_id"),
        graft.functions.expressions.quantize_vec(col("embedding"))
          .cast("array<bigint>").as("xq"))
    val batch = graft.queries.VectorOps.pqAdcTopK(parsed, idx, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // every query served with a full top-5
    assert(streamed.size == 6 * 5)
  }

  test("streaming BM25 lookup: stream top-k == batch q84 on the same queries") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("bm25_in")
    val out = tmpDir("bm25_out")
    val ckpt = tmpDir("bm25_ckpt")
    // query stream: q84's own query docs re-serialized as JSONL (two
    // files -> two micro-batches; to_json handles text escaping), SAME
    // ids — so the stream's output must equal batch q84's rows exactly
    // (incl. self-exclusion)
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    val lines = spark.read.parquet(s"$corpus/documents.parquet")
      .filter($"doc_id" % 37 === 0).orderBy($"doc_id")
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id".as("query_id"), $"text")))
      .collect().map(_.getString(0))
    assert(lines.length >= 2)
    writeJsonl(in, "b1.jsonl", lines.take(1).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(1).toIndexedSeq: _*)

    Pipeline.runBm25LookupStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/bm25_lookup")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    val batch = graft.SparkEntry.queries("q84_bm25_topk")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming hybrid lookup: stream RRF fusion == batch q88 on the same queries") {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("hyb_in")
    val out = tmpDir("hyb_out")
    val ckpt = tmpDir("hyb_ckpt")
    // query stream: q88's own request set (text + embedding joined on the
    // aligned ids) re-serialized as JSONL, two files -> two micro-batches,
    // SAME ids — so the stream's fused output must equal batch q88 exactly
    val lines = spark.read.parquet(s"$corpus/documents.parquet")
      .filter($"doc_id" % 37 === 0)
      .join(spark.read.parquet(s"$corpus/embeddings.parquet"),
        $"doc_id" === $"vec_id")
      .orderBy($"doc_id")
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id".as("query_id"), $"text", $"embedding")))
      .collect().map(_.getString(0))
    assert(lines.length >= 2)
    writeJsonl(in, "b1.jsonl", lines.take(1).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(1).toIndexedSeq: _*)

    Pipeline.runHybridLookupStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/hybrid_lookup")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    val batch = graft.SparkEntry.queries("q88_hybrid_rrf")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming langid gate: per-doc predictions == batch scoring, q100 is its confusion view") {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("lid_in")
    val out = tmpDir("lid_out")
    val ckpt = tmpDir("lid_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    // arriving split re-serialized as JSONL, two files -> two micro-batches
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runLangIdGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/langid")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    // batch: the same shared train + score on the same rows
    val m = graft.queries.LangId.trainLangIdNb(
      docs.filter($"doc_id" % 10 < 8).select(col("lang"), col("text")))
    val batch = graft.queries.LangId.langIdScoreDocs(
      docs.filter($"doc_id" % 10 >= 8).select(col("doc_id"), col("text")), m)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // q100's declared output is the confusion-matrix view of exactly
    // these predictions
    val confusion = spark.read.parquet(s"$out/langid")
      .select($"doc_id", $"lang_pred")
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang", $"lang_pred").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val q100rows = graft.SparkEntry.queries("q100_langid_trained")(spark, corpus)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(q100rows == confusion)
  }

  test("streaming data-card gate: per-batch flags == batch core, drift legs fire") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("dc_in")
    val out = tmpDir("dc_out")
    val ckpt = tmpDir("dc_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    // batch 1: a slice of real corpus rows (familiar sources, no drift
    // expected on length by construction is NOT guaranteed — the spec
    // compares against the shared core, not a hand-prediction)
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text", $"lang", $"source")))
      .collect().map(_.getString(0))
    writeJsonl(in, "b1.jsonl", lines.toIndexedSeq: _*)
    // batch 2: a NEW source plus an engineered short-doc spike on a
    // stored source — both flag legs must fire
    val storedSrc = docs.select($"source").distinct()
      .orderBy($"source").head().getString(0)
    writeJsonl(in, "b2.jsonl",
      s"""{"ts":"2026-03-01 09:00:00","doc_id":900001,"text":"brand new feed","lang":"en","source":"never_seen_feed"}""",
      s"""{"ts":"2026-03-01 09:00:00","doc_id":900002,"text":"a b","lang":"en","source":"$storedSrc"}""",
      s"""{"ts":"2026-03-01 09:00:00","doc_id":900003,"text":"c d","lang":"en","source":"$storedSrc"}""")
    Pipeline.runDataCardGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()

    val stored = graft.queries.TextOps.sourceCards(
      docs.select($"source", $"lang", $"text"))
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // stream == batch core per batch directory
    val flags = spark.read.option("basePath", s"$out/card_flags")
      .parquet(s"$out/card_flags/batch=*")
    val b1 = spark.read.json(s"$in/b1.jsonl")
    assert(tab(flags.filter($"batch" === 0).drop("batch")) ==
      tab(graft.queries.TextOps.dataCardFlags(
        b1.select($"source", $"lang", $"text"), stored)))
    // batch 2's engineered drifts fire
    val f2 = flags.filter($"batch" === 1).collect()
      .map(r => r.getString(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(f2("never_seen_feed") == ((true, false, false)))
    val (ns, ld, ss) = f2(storedSrc)
    assert(!ns && (ld || ss),
      s"engineered 2-word docs on $storedSrc flagged neither len_drift nor short_spike")
    // replay idempotence: a second run with no new files changes nothing
    val before = tab(flags)
    Pipeline.runDataCardGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    assert(tab(spark.read.option("basePath", s"$out/card_flags")
      .parquet(s"$out/card_flags/batch=*")) == before)
  }

  test("streaming snapshot-diff gate: CDC legs classify, == shared core, idempotent") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    import graft.queries.TextOps
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("sd_in")
    val out = tmpDir("sd_out")
    val ckpt = tmpDir("sd_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val base = docs.orderBy($"doc_id").limit(2).collect()
    def f(r: org.apache.spark.sql.Row, revise: Boolean) =
      (r.getAs[Long]("doc_id"),
        r.getAs[String]("text") + (if (revise) " zz" else ""),
        r.getAs[String]("source"))
    // batch 1 (engineered): one byte-identical redelivery, one content
    // revision of a stored id, one brand-new document
    val b1rows = Seq(f(base(0), revise = false), f(base(1), revise = true),
      (900001L, "brand new doc", "fresh_feed")).toDF("doc_id", "text", "source")
    val b1lines = b1rows.select(to_json(struct(
      lit("2026-03-01 08:00:00").as("ts"), $"doc_id", $"text", $"source")))
      .collect().map(_.getString(0))
    writeJsonl(in, "b1.jsonl", b1lines.toIndexedSeq: _*)
    // batch 2: a real corpus slice — all redeliveries by construction
    val slice = docs.filter($"doc_id" % 10 >= 8)
    val b2lines = slice.select(to_json(struct(
      lit("2026-03-01 09:00:00").as("ts"), $"doc_id", $"text", $"source")))
      .collect().map(_.getString(0))
    writeJsonl(in, "b2.jsonl", b2lines.toIndexedSeq: _*)
    Pipeline.runSnapshotDiffGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()

    val got = spark.read.option("basePath", s"$out/snapshot_diff")
      .parquet(s"$out/snapshot_diff/batch=*")
    // engineered batch: each CDC leg classifies exactly one document
    val b1got = got.filter($"batch" === 0)
    assert(b1got.agg(sum($"n_new"), sum($"n_revised"), sum($"n_redelivered"),
      sum($"tokens_new")).head() ==
      org.apache.spark.sql.Row(1L, 1L, 1L, 3L))
    assert(b1got.filter($"source" === "fresh_feed")
      .head().getAs[Long]("n_new") == 1L)
    // real-slice batch: every row is a byte-identical redelivery
    val b2got = got.filter($"batch" === 1)
    assert(b2got.agg(sum($"n_new"), sum($"n_revised")).head() ==
      org.apache.spark.sql.Row(0L, 0L))
    assert(b2got.agg(sum($"n_redelivered")).head().getLong(0) == slice.count())
    // stream == the shared classification core on the same rows
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val want = TextOps.snapshotDiffRows(
        TextOps.diffProjection(docs),
        TextOps.diffProjection(slice.select($"doc_id", $"source", $"text")))
      .filter($"in2" === 1L)
      .groupBy($"source")
      .agg(sum($"in2").as("n_batch"), sum($"add").as("n_new"),
        sum($"chg").as("n_revised"), sum($"same").as("n_redelivered"),
        sum($"tokadd").as("tokens_new"))
    assert(tab(b2got.drop("batch")) == tab(want))
    // replay idempotence: re-run with no new files changes nothing
    val before = tab(got)
    Pipeline.runSnapshotDiffGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    assert(tab(spark.read.option("basePath", s"$out/snapshot_diff")
      .parquet(s"$out/snapshot_diff/batch=*")) == before)
  }

  test("composed admission pipeline: stream end-state == batch composition, idempotent") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.{Admission, TextOps, VectorOps}
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("adm_in")
    val state = tmpDir("adm_state")
    val ckpt = tmpDir("adm_ckpt")
    // the SAME arrival fixture the q180 lifecycle row composes, split
    // over two stream files (one micro-batch each)
    val (b0, b1) = Admission.fixtureBatches(spark, corpus)
    def lines(df: org.apache.spark.sql.DataFrame) = df.select(to_json(struct(
      lit("2026-03-01 08:00:00").as("ts"), $"doc_id", $"text", $"lang",
      $"source", $"embedding"))).collect().map(_.getString(0))
    writeJsonl(in, "b1.jsonl", lines(b0).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines(b1).toIndexedSeq: _*)
    Pipeline.runAdmissionPipeline(spark, corpus, in, state, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()

    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // 1. per-batch decisions == the shared-core batch composition
    val comp = Admission.batchComposition(spark, corpus)
    val decGot = spark.read.option("basePath", s"$state/decisions")
      .parquet(s"$state/decisions/batch=*")
    comp.zipWithIndex.foreach { case ((_, dec), i) =>
      assert(tab(decGot.filter($"batch" === i).drop("batch")) == tab(dec),
        s"decisions batch $i")
    }
    // the admitted corpus under the composition
    val admitted = comp.map { case (b, dec) =>
      Admission.normalize(b).join(
        dec.filter($"status" === "admitted").select($"doc_id"),
        Seq("doc_id"), "left_semi")
    }.reduce(_ unionByName _).localCheckpoint()
    val stored = spark.read.parquet(s"$corpus/documents.parquet")
      .filter($"doc_id" % 10 < 8)
      .select($"doc_id", coalesce($"source", lit("")).as("source"),
        $"lang", $"text")
    val allDocs = stored.unionByName(admitted.drop("embedding"))
      .localCheckpoint()
    // 2. corpus + hash stores == stored ∪ admitted
    assert(tab(spark.read.parquet(s"$state/corpus").drop("batch")) ==
      tab(allDocs), "corpus store")
    assert(tab(spark.read.parquet(s"$state/hashes").drop("batch")) ==
      tab(allDocs.select($"doc_id", $"source",
        md5(coalesce($"text", lit(""))).as("h"),
        TextOps.nwOf($"text").as("nw"))), "hash store")
    // 3. MinHash index == fresh build over the union (the append law)
    val freshSh = TextOps.shingleDocs(allDocs.select($"doc_id", $"text"))
      .localCheckpoint()
    assert(tab(spark.read.parquet(s"$state/minhash/shingles")
      .select($"doc_id", $"n", $"hs")) ==
      tab(freshSh.select($"doc_id", $"n", $"hs")), "minhash shingles")
    assert(tab(spark.read.parquet(s"$state/minhash/bands")
      .select($"doc_id", $"band", $"bh")) ==
      tab(TextOps.bandsOf(freshSh)), "minhash bands")
    // 4. IVF vectors == frozen-centroid assignment over the union
    val cents = spark.read.parquet(s"$state/vec/centroids")
    val expVecs = VectorOps.assignCells(
        spark.read.parquet(s"$corpus/embeddings.parquet")
          .filter($"vec_id" % 10 < 8).select($"vec_id", $"embedding")
          .unionByName(admitted.filter($"embedding".isNotNull)
            .select($"doc_id".as("vec_id"), $"embedding")),
        cents).select($"vec_id", $"cell", $"embedding")
    assert(tab(spark.read.parquet(s"$state/vec/vectors")
      .select($"vec_id", $"cell", $"embedding")) == tab(expVecs),
      "ivf vectors")
    // 5. BM25 raw serving == rebuild over the union (array order inside
    // a posting row is collect_list-nondeterministic — compare the
    // exploded canonical rows)
    val served = Admission.servedBm25(spark, state)
    def postRows(p: org.apache.spark.sql.DataFrame) = tab(p
      .select($"doc_id", $"len", explode(arrays_zip($"hs", $"tfs")).as("z"))
      .select($"doc_id", $"len", $"z.hs", $"z.tfs"))
    val freshPost = TextOps.bm25RawPostings(allDocs.select($"doc_id", $"text"))
      .localCheckpoint()
    assert(postRows(served("postings")) == postRows(freshPost), "bm25 postings")
    assert(tab(served("df")) == tab(TextOps.bm25DfOf(freshPost)), "bm25 df")
    val (n, sumLen) = TextOps.bm25TotalsOf(freshPost)
    assert(served.totals == Map("n" -> n, "sum_len" -> sumLen), "bm25 totals")
    // 6. card store serving == rebuild over the union
    assert(tab(TextOps.cardsOfStore(Admission.servedCardStore(spark, state))) ==
      tab(TextOps.cardsOfStore(TextOps.cardStoreOf(
        allDocs.select($"source", $"lang", $"text")))), "card store")
    // 7. the advisory card-flag gate wrote per-batch verdicts
    assert(spark.read.parquet(s"$state/card_flags").count() >= 0)
    // 8. replay idempotence: re-run with no new files changes nothing
    val before = (tab(decGot),
      tab(spark.read.parquet(s"$state/corpus").drop("batch")),
      tab(spark.read.parquet(s"$state/hashes").drop("batch")))
    Pipeline.runAdmissionPipeline(spark, corpus, in, state, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val after = (tab(spark.read.option("basePath", s"$state/decisions")
        .parquet(s"$state/decisions/batch=*")),
      tab(spark.read.parquet(s"$state/corpus").drop("batch")),
      tab(spark.read.parquet(s"$state/hashes").drop("batch")))
    assert(before == after, "replay changed the end state")
    // 9. TORN COMMIT: the appends landed but the checkpoint commit
    // didn't — delete batch 1's commit marker and re-run. The replayed
    // batch must see only PRIOR batches' state (Admission.readPart's
    // before-filter): without it, batch 1's own appended hashes would
    // classify its docs as redelivered and the replay would overwrite
    // the batch with rejections and empty appends.
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    // the local checksum FS keeps a .crc sibling; it must go too or the
    // replayed commit's rename fails
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    Pipeline.runAdmissionPipeline(spark, corpus, in, state, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val afterTorn = (tab(spark.read.option("basePath", s"$state/decisions")
        .parquet(s"$state/decisions/batch=*")),
      tab(spark.read.parquet(s"$state/corpus").drop("batch")),
      tab(spark.read.parquet(s"$state/hashes").drop("batch")))
    assert(before == afterTorn, "torn-commit replay diverged")
  }

  test("revision route: streamed revise → ledger → compaction → re-admission == batch composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Admission
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("rev_in")
    val state = tmpDir("rev_state")
    val ckpt = tmpDir("rev_ckpt")
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val arr = Admission.revisionArrivals(spark, corpus)
    def lines(df: org.apache.spark.sql.DataFrame) = df.select(to_json(struct(
      lit("2026-03-01 08:00:00").as("ts"), $"doc_id", $"text", $"lang",
      $"source", $"embedding"))).collect().map(_.getString(0))
    // batch 0: the revisions arrive — every decision must be `revised`
    // and the flagged ids must land in the state's tombstone ledger
    writeJsonl(in, "b1.jsonl", lines(arr).toIndexedSeq: _*)
    Pipeline.runAdmissionPipeline(spark, corpus, in, state, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val dec0got = spark.read.parquet(s"$state/decisions/batch=0")
    assert(dec0got.filter($"status" =!= "revised").count() == 0)
    assert(tab(Pipeline.readTombstoneLedger(spark, s"$state/tombstones")) ==
      tab(arr.select($"doc_id")), "ledger == the revised ids")
    // operator-scheduled compaction at the stopped, checkpointed boundary
    Pipeline.compactAdmissionState(spark, state)
    assert(Pipeline.readTombstoneLedger(spark, s"$state/tombstones")
      .count() == 0, "compaction must drain the ledger")
    // batch 1: the SAME revised contents re-enter as fresh arrivals
    writeJsonl(in, "b2.jsonl", lines(arr).toIndexedSeq: _*)
    Pipeline.runAdmissionPipeline(spark, corpus, in, state, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val dec1got = spark.read.parquet(s"$state/decisions/batch=1")
    // the whole streamed route == the batch composition (shared core)
    val refState = tmpDir("rev_ref")
    val (dec0, dec1) = Admission.revisionComposition(spark, corpus, refState)
    assert(tab(dec0got) == tab(dec0), "batch-0 decisions")
    assert(tab(dec1got) == tab(dec1), "batch-1 decisions")
    // end state across the maintained stores == the composition's
    assert(tab(spark.read.parquet(s"$state/hashes").drop("batch")) ==
      tab(spark.read.parquet(s"$refState/hashes").drop("batch")),
      "final hashes store")
    assert(tab(spark.read.parquet(s"$state/corpus").drop("batch")) ==
      tab(spark.read.parquet(s"$refState/corpus").drop("batch")),
      "final corpus store")
    assert(tab(spark.read.parquet(s"$state/minhash/bands").drop("batch")) ==
      tab(spark.read.parquet(s"$refState/minhash/bands").drop("batch")),
      "final minhash bands")
    assert(tab(spark.read.parquet(s"$state/vec/vectors").drop("batch")) ==
      tab(spark.read.parquet(s"$refState/vec/vectors").drop("batch")),
      "final ivf vectors")
  }

  test("streaming decontamination gate: flags == batch screen, orientation == q160") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    import graft.queries.TextOps
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("dg_in")
    val out = tmpDir("dg_out")
    val ckpt = tmpDir("dg_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    def isEval(c: org.apache.spark.sql.Column) = c % 29 === 0 && c < 5300L
    // the arriving "training candidates": every non-eval doc — the full
    // admission surface, split over two files (batch boundaries must
    // not change what flags)
    val train = docs.filter(!isEval($"doc_id"))
    val lines = train
      .select($"doc_id",
        to_json(struct(lit("2026-03-01 08:00:00").as("ts"), $"doc_id", $"text")))
      .collect().sortBy(_.getLong(0)).map(_.getString(1))
    val (l1, l2) = lines.splitAt(lines.length / 2)
    writeJsonl(in, "b1.jsonl", l1.toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", l2.toIndexedSeq: _*)
    Pipeline.runDecontaminationGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val got = spark.read.option("basePath", s"$out/contamination")
      .parquet(s"$out/contamination/batch=*")
      .select($"train_doc_id", $"eval_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // stream == the batch screen on the same rows (shared function,
    // reversed orientation: arriving train probes the eval index)
    val evalIdx = TextOps.buildMinHashIndex(TextOps.shingleDocs(
      docs.filter(isEval($"doc_id")).select($"doc_id", $"text")))
    val want = TextOps.dedupAgainstIndex(
        train.select($"doc_id", $"text"), evalIdx)
      .select($"new_doc_id", $"old_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // orientation equivalence: banding is symmetric in the pair and the
    // verify is exact, so the stream's flags equal batch q160 (which
    // probes EVAL against a TRAIN index) on the same corpus
    val q160pairs = graft.SparkEntry
      .queries("q160_neardup_decontamination")(spark, corpus)
      .select($"train_doc_id", $"eval_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == q160pairs)
  }

  test("streaming code-switch gate: per-doc window summaries == batch q139 on the same rows") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("cs_in")
    val out = tmpDir("cs_out")
    val ckpt = tmpDir("cs_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runCodeSwitchGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/codeswitch")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.SparkEntry.queries("q139_codeswitch_windows")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming perceptual frame gate: per-doc frame matches == batch q136 on the same rows") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("fp_in")
    val out = tmpDir("fp_out")
    val ckpt = tmpDir("fp_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runFramePhashGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/frame_phash")
      .drop("batch")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.SparkEntry.queries("q136_frame_phash_admit")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming quality gate: per-doc margins == batch q102 on the same rows") {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("qg_in")
    val out = tmpDir("qg_out")
    val ckpt = tmpDir("qg_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runQualityGateStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/quality")
      .select($"doc_id", $"nb_keep", $"margin_fp")
      .collect().map(_.toString).sorted.toSeq

    val batch = graft.SparkEntry.queries("q102_quality_classifier")(spark, corpus)
      .select($"doc_id", $"nb_keep", $"margin_fp")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming LM perplexity: per-doc scores == batch scoring, q85 is its worst-100 view") {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("lm_in")
    val out = tmpDir("lm_out")
    val ckpt = tmpDir("lm_ckpt")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    // arriving split re-serialized as JSONL, two files -> two micro-batches
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runLmPerplexityStream(spark, corpus, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/lm_scores")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    // batch: the same shared train + score on the same rows
    val lm = graft.queries.TextOps.trainBigramLm(
      docs.filter($"doc_id" % 10 < 8))
    val batch = graft.queries.TextOps.lmScoreDocs(
      docs.filter($"doc_id" % 10 >= 8).select(col("doc_id"), col("text")), lm)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // q85's declared output is the worst-100 view of exactly these scores
    val q85rows = graft.SparkEntry.queries("q85_lm_perplexity_filter")(spark, corpus)
      .select(col("doc_id"), col("n_bigrams"), col("sum_fp"), col("avg_logprob"))
      .collect().map(_.toString).toSet
    assert(q85rows.subsetOf(streamed.toSet))
  }

  test("streaming incremental dedup: micro-batches vs loaded index == batch q82") {
    import org.apache.spark.sql.functions.{lit, struct, to_json}
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("inc_in")
    val out = tmpDir("inc_out")
    val ckpt = tmpDir("inc_ckpt")
    val idxDir = tmpDir("inc_idx")
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    // persist the index artifact over the stored split (q82's rule)
    val old = graft.queries.TextOps.shingleDocs(docs.filter($"doc_id" % 10 < 8))
      .persist()
    try graft.queries.TextOps.saveMinHashIndex(
      graft.queries.TextOps.buildMinHashIndex(old), idxDir)
    finally old.unpersist()
    // arriving snapshot: the new split re-serialized as JSONL, two
    // files -> two micro-batches (to_json handles text escaping)
    val lines = docs.filter($"doc_id" % 10 >= 8)
      .select(to_json(struct(lit("2026-03-01 08:00:00").as("ts"),
        $"doc_id", $"text")))
      .collect().map(_.getString(0))
    val half = lines.length / 2
    writeJsonl(in, "b1.jsonl", lines.take(half).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", lines.drop(half).toIndexedSeq: _*)

    Pipeline.runIncrementalDedupStream(spark, idxDir, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/incremental_dedup")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq

    // batch q82 builds the same index over the same stored split and
    // scores the same arriving rows
    val batch = graft.SparkEntry.queries("q82_dedup_incremental")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming incremental vec-dedup: micro-batches vs loaded index == batch q83") {
    import spark.implicits._
    val corpus = "/root/testdata/sf0.001"
    val in = tmpDir("vdd_in")
    val out = tmpDir("vdd_out")
    val ckpt = tmpDir("vdd_ckpt")
    val idxDir = tmpDir("vdd_idx")
    val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding")
    graft.queries.VectorOps.saveVecDedupIndex(
      graft.queries.VectorOps.buildVecDedupIndex(emb.filter($"vec_id" % 10 < 8)),
      idxDir)
    val arriving = emb.filter($"vec_id" % 10 >= 8)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    def line(id: Long, v: Seq[Float]) =
      s"""{"ts":"2026-03-01 08:00:00","vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val half = arriving.length / 2
    writeJsonl(in, "b1.jsonl", arriving.take(half).map((line _).tupled).toIndexedSeq: _*)
    writeJsonl(in, "b2.jsonl", arriving.drop(half).map((line _).tupled).toIndexedSeq: _*)

    Pipeline.runIncrementalVecDedupStream(spark, idxDir, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val streamed = spark.read.parquet(s"$out/incremental_vec_dedup")
      .drop("batch") // batchId partition column from the idempotent write
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.SparkEntry.queries("q83_dedup_incremental_embedding")(spark, corpus)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming domain mixing: realized rates == batch q49 core on the same rows") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val in = tmpDir("mix_in")
    val out = tmpDir("mix_out")
    val ckpt = tmpDir("mix_ckpt")
    def doc(id: Long, lang: String, src: String) =
      s"""{"ts":"2026-03-01 08:0${id % 10}:00","doc_id":$id,"lang":"$lang","source":"$src","text":"w$id"}"""
    val langs = Seq("en", "fr", "de", "es", "zh")
    // 200 docs over 5 languages, split across two files -> two batches
    val rows = (0L until 200L).map(i => doc(i, langs((i % 5).toInt), s"s${i % 3}"))
    writeJsonl(in, "b1.jsonl", rows.take(120): _*)
    writeJsonl(in, "b2.jsonl", rows.drop(120): _*)

    Pipeline.runMixedIngest(spark, in, out, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val streamed = spark.read.parquet(s"$out/mixed_documents")
      .select($"doc_id", $"lang", $"source", $"weight")

    // the batch core on exactly the same input rows
    val batch = graft.queries.TextOps.domainMix(
      spark.read.schema("ts TIMESTAMP, doc_id LONG, lang STRING, source STRING, text STRING")
        .json(in),
      graft.queries.TextOps.defaultMix.toDF("lang", "keep_n"))
      .select($"doc_id", $"lang", $"source", $"weight")

    val sSet = streamed.collect().map(_.toString).sorted.toSeq
    val bSet = batch.collect().map(_.toString).sorted.toSeq
    assert(sSet.nonEmpty && sSet == bSet,
      "streaming survivors (ids, langs, weights) must equal the batch core's")

    // realized per-language rates match, and mixing actually mixes: en is
    // sampled at ~half the rate of zh (keep_n 128 vs 256)
    val rates = streamed.groupBy($"lang").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("zh") == 40L, "zh keep_n=256 keeps every bucket")
    assert(rates("en") < rates("zh"))
  }

  test("streaming PII scrub: arriving docs redact exactly as batch scrubPii") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val in = tmpDir("pii_in")
    val out = tmpDir("pii_out")
    val ckpt = tmpDir("pii_ckpt")
    def doc(id: Long, text: String) =
      s"""{"ts":"2026-03-01 09:0${id % 10}:00","doc_id":$id,"text":"$text"}"""
    val rows = Seq(
      doc(0, "mail me at a.b+c@site.org or ops@x.co thanks"),
      doc(1, "call +1 415-555-0137 after noon"),
      doc(2, "server at 10.0.0.1 and backup 192.168.24.255 down"),
      doc(3, "clean document with no contact details at all"),
      doc(4, "mixed: root@10.2.3.4 box, +44 207-946-0321, a@b.io"))
    writeJsonl(in, "b1.jsonl", rows.take(3): _*)
    writeJsonl(in, "b2.jsonl", rows.drop(3): _*)

    Pipeline.runPiiScrubStream(spark, in, out, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val streamed = spark.read.parquet(s"$out/pii_scrubbed")

    val batch = graft.queries.TextOps.scrubPii(
      spark.read.schema("ts TIMESTAMP, doc_id LONG, text STRING").json(in),
      col("text"))
    val sSet = streamed.collect().map(_.toString).sorted.toSeq
    val bSet = batch.collect().map(_.toString).sorted.toSeq
    assert(sSet.nonEmpty && sSet == bSet,
      "stream and batch must redact identically")

    // the scrub actually fires: counts and placeholders land as expected
    val byId = streamed.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(byId(0)._1 == 2 && byId(0)._4 == "mail me at <EMAIL> or <EMAIL> thanks")
    assert(byId(1)._2 == 1 && byId(1)._4 == "call <PHONE> after noon")
    assert(byId(2)._3 == 2 && byId(2)._4 == "server at <IP> and backup <IP> down")
    assert(byId(3) == ((0L, 0L, 0L, "clean document with no contact details at all")))
    // root@10.2.3.4 is NOT an email under the pattern (TLD must be
    // alphabetic), so its dotted quad falls through to the IP pass
    assert(byId(4) == ((1L, 1L, 1L, "mixed: root@<IP> box, <PHONE>, <EMAIL>")))
  }

  test("streaming Gopher gate: arriving docs judged exactly as batch gopherStats") {
    import spark.implicits._
    val in = tmpDir("gopher_in")
    val out = tmpDir("gopher_out")
    val ckpt = tmpDir("gopher_ckpt")
    // one passing doc (60 the-words, mean len >= 3), one too short, one
    // symbol-heavy, one with no stop words
    val pass = (Seq.fill(30)("the") ++ Seq.fill(30)("quality")).mkString(" ")
    val short = "too short with the the text"
    val symbols = (Seq.fill(60)("the") ++ Seq.fill(10)("#")).mkString(" ")
    val nostop = Seq.fill(60)("word").mkString(" ")
    def doc(id: Long, text: String) =
      s"""{"ts":"2026-03-01 10:0${id % 10}:00","doc_id":$id,"text":"$text"}"""
    writeJsonl(in, "b1.jsonl", doc(0, pass), doc(1, short))
    writeJsonl(in, "b2.jsonl", doc(2, symbols), doc(3, nostop))

    Pipeline.runGopherGateStream(spark, in, out, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val streamed = spark.read.parquet(s"$out/gopher_gate")

    val batch = graft.queries.TextOps.gopherStats(
      spark.read.schema("ts TIMESTAMP, doc_id LONG, text STRING").json(in))
    val sSet = streamed.collect().map(_.toString).sorted.toSeq
    val bSet = batch.collect().map(_.toString).sorted.toSeq
    assert(sSet.nonEmpty && sSet == bSet, "stream and batch must judge identically")

    val keep = streamed.collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(keep == Map(0L -> true, 1L -> false, 2L -> false, 3L -> false))
  }

  test("progress listener records per-batch input rows without touching the query") {
    val in = tmpDir("obs_in")
    val out = tmpDir("obs_out")
    val ckpt = tmpDir("obs_ckpt")
    writeJsonl(in, "b1.jsonl", row1, row2)
    writeJsonl(in, "b2.jsonl", row3)
    val rec = Observability.record(spark)
    try {
      Pipeline.runAlertPipeline(spark, in, out, ckpt).awaitTermination()
      // listener bus delivery is async — poll briefly for the events
      val deadline = System.nanoTime() + 30L * 1000000000
      while (rec.totalInputRows < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(rec.totalInputRows == 3,
        s"expected 3 wire rows accounted, got ${rec.batches}")
      // >= 0, not > 0: a sub-millisecond micro-batch (e.g. the empty
      // AvailableNow finalization batch) can legally report 0 ms
      assert(rec.batches.forall(_.durationMs >= 0))
      assert(rec.batches.exists(_.durationMs > 0),
        "the batch that carried the input rows takes measurable time")
    } finally spark.streams.removeListener(rec)
  }

  test("session windows: gap-split sessions finalize past the watermark") {
    val in = tmpDir("sess_in")
    val out = tmpDir("sess_out")
    val ckpt = tmpDir("sess_ckpt")
    writeJsonl(in, "b.jsonl",
      // vehicle 1: two rows 10s apart (one session, 30s gap), then a row
      // 2 min later (second session)
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:00","current_speed_kmh":"60","speed_limit_violation":"false"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:10","current_speed_kmh":"80","speed_limit_violation":"true"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:02:00","current_speed_kmh":"40","speed_limit_violation":"false"}""",
      // vehicle 2: advances the watermark to 08:08 so the above finalize;
      // its own session stays open and must not be emitted
      """{"vehicle_id":"2","timestamp":"2026-03-01 08:10:00","current_speed_kmh":"30","speed_limit_violation":"false"}""")
    Pipeline.runSessionPipeline(spark, in, out, ckpt, gap = "30 seconds")
      .awaitTermination()
    val sessions = spark.read.parquet(s"$out/driving_sessions")
      .orderBy("vehicle_id", "session_start").collect()
    assert(sessions.length == 2, "two finalized vehicle-1 sessions, open one withheld")
    val s1 = sessions(0)
    assert(s1.getAs[java.sql.Timestamp]("session_start").toString == "2026-03-01 08:00:00.0")
    assert(s1.getAs[java.sql.Timestamp]("session_end").toString == "2026-03-01 08:00:40.0",
      "session end = last event + gap")
    assert(s1.getAs[Long]("n_samples") == 2 && s1.getAs[Double]("max_speed_kmh") == 80.0)
    val s2 = sessions(1)
    assert(s2.getAs[java.sql.Timestamp]("session_start").toString == "2026-03-01 08:02:00.0")
    assert(s2.getAs[Long]("n_samples") == 1)
  }

  test("stream-stream interval join: perception enriched with ±10s telemetry") {
    val telIn = tmpDir("ssj_tel")
    val perIn = tmpDir("ssj_per")
    val out = tmpDir("ssj_out")
    val ckpt = tmpDir("ssj_ckpt")
    writeJsonl(telIn, "t.jsonl",
      // vehicle 1: samples at 08:00:00, 08:00:08, 08:00:30
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:00","current_speed_kmh":"80","speed_limit_violation":"true"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:08","current_speed_kmh":"70","speed_limit_violation":"true"}""",
      """{"vehicle_id":"1","timestamp":"2026-03-01 08:00:30","current_speed_kmh":"60","speed_limit_violation":"false"}""",
      // vehicle 2: in-tolerance time but different vehicle
      """{"vehicle_id":"2","timestamp":"2026-03-01 08:00:01","current_speed_kmh":"40","speed_limit_violation":"false"}""")
    writeJsonl(perIn, "p.jsonl",
      // sighting at 08:00:05: matches vehicle 1 samples at :00 and :08 only
      """{"time":"2026-03-01 08:00:05","vehicle_id":1,"object_class":"pedestrian","object_distance_m":4.0,"object_speed_kmh":12.0,"object_relative_direction":"ahead","confidence":0.95}""",
      // sighting at 08:01:00: nothing within ±10s
      """{"time":"2026-03-01 08:01:00","vehicle_id":1,"object_class":"car","object_distance_m":30.0,"object_speed_kmh":50.0,"object_relative_direction":"rear","confidence":0.9}""")
    Pipeline.runPerceptionContext(spark, telIn, perIn, out, ckpt).awaitTermination()
    val joined = spark.read.parquet(s"$out/perception_context")
    assert(joined.count() == 2, "one sighting x two in-tolerance samples")
    val speeds = joined.select("current_speed_kmh")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(speeds == Seq(70.0, 80.0))
    assert(joined.select("object_class").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("pedestrian"))
  }

  test("LEFT OUTER interval join: unmatched sighting emits null-padded once watermark proves no match") {
    import org.apache.spark.sql.streaming.Trigger
    val telIn = tmpDir("ssjo_tel")
    val perIn = tmpDir("ssjo_per")
    val out = tmpDir("ssjo_out")
    val ckpt = tmpDir("ssjo_ckpt")
    def tRow(ts: String, v: Int, kmh: Int) =
      s"""{"vehicle_id":"$v","timestamp":"$ts","current_speed_kmh":"$kmh","speed_limit_violation":"false"}"""
    def pRow(ts: String, v: Int, cls: String) =
      s"""{"time":"$ts","vehicle_id":$v,"object_class":"$cls","object_distance_m":4.0,"object_speed_kmh":12.0,"object_relative_direction":"ahead","confidence":0.9}"""
    // one file per micro-batch on each side so the watermark advances
    // across batches and the final no-data batch can flush outer state
    writeJsonl(telIn, "t1.jsonl", tRow("2026-03-01 08:00:00", 1, 80))
    writeJsonl(telIn, "t2.jsonl", tRow("2026-03-01 08:10:00", 1, 70))
    writeJsonl(telIn, "t3.jsonl", tRow("2026-03-01 08:20:00", 1, 60))
    writeJsonl(perIn, "p1.jsonl", pRow("2026-03-01 08:01:00", 9, "ghost"))
    writeJsonl(perIn, "p2.jsonl", pRow("2026-03-01 08:10:00", 1, "car"))
    writeJsonl(perIn, "p3.jsonl", pRow("2026-03-01 08:20:00", 1, "bus"))
    // FileStreamSource admits files in mtime order; sequential writes can
    // land in the same mtime tick, which would let a late file (08:20)
    // into batch 1 and advance the watermark past the early rows. Pin
    // strictly increasing mtimes so batch order matches event-time order.
    for ((dir, stems) <- Seq(telIn -> Seq("t1", "t2", "t3"), perIn -> Seq("p1", "p2", "p3"));
         (stem, i) <- stems.zipWithIndex)
      Files.setLastModifiedTime(Paths.get(dir, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    val tel = Pipeline.telemetryFileStream(spark, telIn, maxFilesPerTrigger = Some(1))
    val per = spark.readStream.schema(graft.model.Schemas.perception)
      .option("maxFilesPerTrigger", 1).json(perIn)
    Pipeline.perceptionTelemetryJoin(tel, per, joinType = "leftOuter")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val joined = spark.read.parquet(out)
    val matched = joined.filter(col("current_speed_kmh").isNotNull)
    assert(matched.count() == 2, "car@08:10 and bus@08:20 each match one sample")
    val ghost = joined.filter(col("object_class") === "ghost").collect()
    assert(ghost.length == 1, "the unmatched sighting IS emitted (inner would drop it)")
    assert(ghost.head.isNullAt(ghost.head.fieldIndex("current_speed_kmh")),
      "null-padded telemetry side")
  }

  test("streaming proximity pairs == batch twin; grid never drops a boundary pair") {
    val in = tmpDir("prox_in")
    val out = tmpDir("prox_out")
    val ckpt = tmpDir("prox_ckpt")
    def tRow(v: Int, ts: String, lat: Double, lon: Double) =
      s"""{"vehicle_id":"$v","timestamp":"$ts","current_speed_kmh":"50","speed_limit_violation":"false","latitude":"$lat","longitude":"$lon"}"""
    // near the origin 0.001 deg lat ~ 111 m; radius 500 m, tolerance 10 s.
    // v1/v2/v5 cluster within radius+tolerance; v6 sits in the adjacent
    // grid cell (lat < 0) but only ~111 m from v1 — the boundary pair the
    // 3x3 explode exists to keep; v3 is spatially out (>800 m from all),
    // v4 is spatially in but 25 s late.
    writeJsonl(in, "t.jsonl",
      tRow(1, "2026-03-01 08:00:00", 0.0000, 0.0005),
      tRow(2, "2026-03-01 08:00:05", 0.0020, 0.0000),
      tRow(3, "2026-03-01 08:00:06", 0.0100, 0.0000),
      tRow(4, "2026-03-01 08:00:30", 0.0020, 0.0010),
      tRow(5, "2026-03-01 08:00:08", 0.0025, 0.0002),
      tRow(6, "2026-03-01 08:00:02", -0.0010, 0.0000),
      // two position-less reports: normalize defaults them to (0,0),
      // where they would otherwise pair with each other AND with v1
      // (111 m away) — the null-island guard must drop them
      """{"vehicle_id":"7","timestamp":"2026-03-01 08:00:01","current_speed_kmh":"20","speed_limit_violation":"false"}""",
      """{"vehicle_id":"8","timestamp":"2026-03-01 08:00:02","current_speed_kmh":"21","speed_limit_violation":"false"}""")
    Pipeline.runProximityStream(spark, in, out, ckpt).awaitTermination()
    val pairs = spark.read.parquet(s"$out/proximity_pairs")
    val got = pairs.select("l_vehicle_id", "r_vehicle_id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 2), (1, 5), (2, 5), (1, 6), (2, 6), (5, 6)),
      s"expected the 4-clique minus time/space exclusions, got $got")
    // v3 (spatially out) and v4 (temporally out) appear nowhere; neither
    // do the position-less v7/v8, whose (0,0) defaults the guard drops
    assert(!got.exists(p => Set(3, 4, 7, 8)(p._1) || Set(3, 4, 7, 8)(p._2)))
    // normalization: left id strictly below right id
    assert(got.forall(p => p._1 < p._2))
    // the batch twin over the SAME join body on a static frame agrees
    // row-for-row (watermarks are the only streaming-side addition)
    val st = graft.sources.FileReplay.normalize(
        spark.read.schema(graft.model.Schemas.telemetryWire).json(in))
      .select(col("vehicle_id"), col("time"), col("latitude"), col("longitude"))
      // the runner's null-island guard, mirrored
      .filter(!(col("latitude") === 0.0 && col("longitude") === 0.0))
    val batch = Pipeline.proximityPairJoin(st, st).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getTimestamp(2), r.getTimestamp(3), r.getDouble(4))).toSet
    val stream = pairs.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getTimestamp(2), r.getTimestamp(3), r.getDouble(4))).toSet
    assert(stream == batch)
  }

  test("expectation gate: bad wire records quarantined with reasons, clean ones admitted") {
    val in = tmpDir("eg_in")
    val out = tmpDir("eg_out")
    val ckpt = tmpDir("eg_ckpt")
    writeJsonl(in, "b1.jsonl",
      row1, // clean
      // non-numeric vehicle_id: would coerce to default 1 silently
      """{"vehicle_id":"x1","timestamp":"2026-03-01 08:00:03","current_speed_kmh":"50","speed_limit_violation":"false"}""",
      // non-numeric speed
      """{"vehicle_id":"4","timestamp":"2026-03-01 08:00:04","current_speed_kmh":"fast","speed_limit_violation":"false"}""")
    writeJsonl(in, "b2.jsonl",
      row2, // clean
      // malformed timestamp
      """{"vehicle_id":"5","timestamp":"yesterday","current_speed_kmh":"60","speed_limit_violation":"false"}""",
      // vehicle_id missing entirely -> notNull (matches tolerates the null)
      """{"timestamp":"2026-03-01 08:00:06","current_speed_kmh":"10","speed_limit_violation":"false"}""")
    // one file per micro-batch so the audit time series has two batches
    Pipeline.runExpectationGateStream(spark, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val admitted = spark.read.parquet(s"$out/admitted")
    assert(admitted.count() == 2)
    assert(admitted.select("vehicle_id").collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(admitted.schema("time").dataType.typeName == "timestamp",
      "admitted rows are normalized, not raw wire")
    val quarantine = spark.read.parquet(s"$out/quarantine")
    assert(quarantine.count() == 4)
    val reasons = quarantine.collect().map(r =>
      (Option(r.getAs[String]("vehicle_id")),
        r.getSeq[String](r.fieldIndex("violations")).toSet)).toMap
    assert(reasons(Some("x1")) == Set("matches:vehicle_id"))
    assert(reasons(Some("4")) == Set("matches:current_speed_kmh"))
    assert(reasons(Some("5")) == Set("matches:timestamp"))
    assert(reasons(None) == Set("not_null:vehicle_id"))
    // per-batch audit: 6 contract rows per micro-batch, violation mass
    // matches the quarantine reasons
    val audit = spark.read.parquet(s"$out/audit")
    assert(audit.select("batch_id").distinct().count() == 2)
    assert(audit.count() == 12)
    val totalViolations = audit.agg(sum("n_violations")).head().getLong(0)
    assert(totalViolations == 4)
  }

  test("streaming anomaly gate: replayed corpus flags exactly the batch q112 rows") {
    val in = tmpDir("an_in")
    val out = tmpDir("an_out")
    val ckpt = tmpDir("an_ckpt")
    graft.sources.Tables.events(spark, sf0001)
      .select("ts", "event_id", "event_type", "value")
      .coalesce(2).write.mode("overwrite").json(in)
    Pipeline.runAnomalyGateStream(spark, sf0001, in, out, ckpt,
      maxFilesPerTrigger = 1).awaitTermination()
    val got = spark.read.parquet(s"$out/anomalies").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(5))).toSet
    val want = graft.SparkEntry.queries("q112_value_anomaly_mad")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(5))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming CEP: error-burst incidents match the batch lead-window law") {
    val in = tmpDir("cep_in")
    val out = tmpDir("cep_out")
    val ckpt = tmpDir("cep_ckpt")
    def e(ts: String, u: Long, id: Long, t: String) =
      s"""{"ts":"$ts","user_id":$u,"event_id":$id,"event_type":"$t"}"""
    // u1: clean triple SPLIT ACROSS BATCHES (state must carry over);
    // u2: a view breaks the first run, a later triple completes;
    // u3: three errors spanning > 24h (out of window);
    // u4: four errors in window -> TWO overlapping incidents
    writeJsonl(in, "b1.jsonl",
      e("2026-03-01 08:00:00", 1, 101, "error"),
      e("2026-03-01 08:10:00", 1, 102, "error"),
      e("2026-03-01 08:00:00", 2, 201, "error"),
      e("2026-03-01 08:01:00", 2, 202, "view"),
      e("2026-03-01 08:02:00", 2, 203, "error"),
      e("2026-03-01 00:00:00", 3, 301, "error"),
      e("2026-03-01 13:00:00", 3, 302, "error"),
      e("2026-03-01 08:00:00", 4, 401, "error"),
      e("2026-03-01 08:01:00", 4, 402, "error"),
      e("2026-03-01 08:00:00", 5, 501, "error"),
      e("2026-03-01 09:00:00", 5, 502, "error"))
    writeJsonl(in, "b2.jsonl",
      e("2026-03-01 08:20:00", 1, 103, "error"),
      e("2026-03-01 08:03:00", 2, 204, "error"),
      e("2026-03-01 08:04:00", 2, 205, "error"),
      e("2026-03-02 02:00:00", 3, 303, "error"),
      e("2026-03-01 08:02:00", 4, 403, "error"),
      e("2026-03-01 08:03:00", 4, 404, "error"),
      // u5: a LATE error (earlier event time than what the state holds)
      // must not form an incident — the monotonicity guard (a negative
      // span would trivially pass the window check)
      e("2026-03-01 07:00:00", 5, 503, "error"))
    for ((stem, i) <- Seq("b1", "b2").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    Pipeline.runErrorBurstStream(spark, in, out, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val got = spark.read.parquet(s"$out/error_incidents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 101L, 103L),   // cross-batch triple
      (2L, 203L, 205L),   // run re-formed after the view broke it
      (4L, 401L, 403L), (4L, 402L, 404L)), // overlapping incidents
      s"got $got")
    // span law: every incident's span equals end - start and fits the window
    spark.read.parquet(s"$out/error_incidents").collect().foreach { r =>
      assert(r.getLong(5) == r.getLong(4) - r.getLong(3))
      assert(r.getLong(5) <= 86400000000L)
    }
  }

  test("streaming funnel: per-user stage machine matches the batch funnel law") {
    val in = tmpDir("fn_in")
    val out = tmpDir("fn_out")
    val ckpt = tmpDir("fn_ckpt")
    def e(ts: String, u: Long, t: String) =
      s"""{"ts":"$ts","user_id":$u,"event_type":"$t"}"""
    // u1 completes the funnel; u2 purchases WITHOUT a click (stops at
    // view); u3's click precedes their first view (ignored), the click
    // after the view counts; u4 only clicks (never views -> no stages)
    writeJsonl(in, "b1.jsonl",
      e("2026-03-01 08:00:00", 1, "view"),
      e("2026-03-01 08:00:05", 1, "click"),
      e("2026-03-01 08:00:01", 2, "view"),
      e("2026-03-01 08:00:02", 3, "click"),
      e("2026-03-01 08:00:03", 3, "view"),
      e("2026-03-01 08:00:04", 4, "click"))
    writeJsonl(in, "b2.jsonl",
      e("2026-03-01 08:01:00", 1, "purchase"),
      e("2026-03-01 08:01:01", 2, "purchase"),
      e("2026-03-01 08:01:02", 3, "click"))
    // strictly increasing mtimes: batch order == event-time order
    for ((stem, i) <- Seq("b1", "b2").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    Pipeline.runFunnelStream(spark, in, out, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val tr = spark.read.parquet(s"$out/funnel_transitions").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(tr == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1), (3L, 2)),
      s"got $tr")
    // the batch q109 law on the same events: stage counts are the
    // distinct users whose transition log reaches that stage
    val byStage = (1 to 3).map(k => tr.count(_._2 == k))
    assert(byStage == Seq(3, 2, 1))
  }

  test("buffered funnel: deliberately scrambled arrival == batch q109 law") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{min => fmin, unix_micros}
    val in = tmpDir("bfn_in")
    val out = tmpDir("bfn_out")
    val ckpt = tmpDir("bfn_ckpt")
    def e(ts: String, u: Long, t: String) =
      s"""{"ts":"$ts","user_id":$u,"event_type":"$t"}"""
    // the in-order twin's fixture with arrival DELIBERATELY REVERSED:
    // the LATE-timestamped events land in batch 1, the early ones in
    // batch 2 — the exact shuffle the in-order twin mis-handles (u1's
    // purchase would arrive before its view and never fire stage 3).
    // A far-future sentinel (u999) then pushes the watermark past every
    // buffered event so all keys drain via their event-time timers.
    writeJsonl(in, "f1.jsonl",
      e("2026-03-01 08:01:00", 1, "purchase"),
      e("2026-03-01 08:01:01", 2, "purchase"),
      e("2026-03-01 08:01:02", 3, "click"))
    writeJsonl(in, "f2.jsonl",
      e("2026-03-01 08:00:00", 1, "view"),
      e("2026-03-01 08:00:05", 1, "click"),
      e("2026-03-01 08:00:01", 2, "view"),
      e("2026-03-01 08:00:02", 3, "click"),
      e("2026-03-01 08:00:03", 3, "view"),
      e("2026-03-01 08:00:04", 4, "click"))
    writeJsonl(in, "f3.jsonl",
      e("2026-03-01 12:00:00", 999, "view"))
    for ((stem, i) <- Seq("f1", "f2", "f3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    Pipeline.runBufferedFunnelStream(spark, in, out, ckpt,
      delay = "1 hour", maxFilesPerTrigger = 1).awaitTermination()
    // the batch q109 law computed INDEPENDENTLY over the same events
    // (min-based stage times, not funnelStep — no shared code with the
    // unit under test); the sentinel rides outside the comparison (its
    // own drain would need a yet-later watermark)
    val ev = spark.read.schema("ts TIMESTAMP, user_id LONG, event_type STRING")
      .json(in).filter($"user_id" < 999)
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(fmin($"ts").as("t"))
    val t2 = ev.join(t1, "user_id")
      .filter($"event_type" === "click" && $"ts" > $"t")
      .groupBy($"user_id").agg(fmin($"ts").as("t"))
    val t3 = ev.join(t2, "user_id")
      .filter($"event_type" === "purchase" && $"ts" > $"t")
      .groupBy($"user_id").agg(fmin($"ts").as("t"))
    val want = Seq(t1 -> 1, t2 -> 2, t3 -> 3).flatMap { case (df, k) =>
      df.select($"user_id", unix_micros($"t")).collect()
        .map(r => (r.getLong(0), k, r.getLong(1)))
    }.toSet
    val got = spark.read.parquet(s"$out/funnel_transitions").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter(_._1 < 999).toSet
    assert(got == want && want.exists(_._2 == 3),
      s"got $got want $want — stage 3 must fire despite reversed arrival")
  }

  test("buffered CEP: scrambled arrival == batch q118 lead-window law (late error now matches)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lead, unix_micros}
    import org.apache.spark.sql.expressions.Window
    val in = tmpDir("bcep_in")
    val out = tmpDir("bcep_out")
    val ckpt = tmpDir("bcep_ckpt")
    def e(ts: String, u: Long, id: Long, t: String) =
      s"""{"ts":"$ts","user_id":$u,"event_id":$id,"event_type":"$t"}"""
    // the in-order CEP fixture with the batches SWAPPED: every user's
    // later events arrive first. u5 is the decisive case — its 07:00
    // error arrives last but is EARLIEST in event time; the in-order
    // twin conservatively refuses the (503,501,502) run, the buffered
    // twin must emit it because that is what batch q118 computes.
    writeJsonl(in, "f1.jsonl",
      e("2026-03-01 08:20:00", 1, 103, "error"),
      e("2026-03-01 08:03:00", 2, 204, "error"),
      e("2026-03-01 08:04:00", 2, 205, "error"),
      e("2026-03-02 02:00:00", 3, 303, "error"),
      e("2026-03-01 08:02:00", 4, 403, "error"),
      e("2026-03-01 08:03:00", 4, 404, "error"),
      e("2026-03-01 07:00:00", 5, 503, "error"))
    writeJsonl(in, "f2.jsonl",
      e("2026-03-01 08:00:00", 1, 101, "error"),
      e("2026-03-01 08:10:00", 1, 102, "error"),
      e("2026-03-01 08:00:00", 2, 201, "error"),
      e("2026-03-01 08:01:00", 2, 202, "view"),
      e("2026-03-01 08:02:00", 2, 203, "error"),
      e("2026-03-01 00:00:00", 3, 301, "error"),
      e("2026-03-01 13:00:00", 3, 302, "error"),
      e("2026-03-01 08:00:00", 4, 401, "error"),
      e("2026-03-01 08:01:00", 4, 402, "error"),
      e("2026-03-01 08:00:00", 5, 501, "error"),
      e("2026-03-01 09:00:00", 5, 502, "error"))
    writeJsonl(in, "f3.jsonl",
      e("2026-03-05 00:00:00", 999, 901, "view"))
    for ((stem, i) <- Seq("f1", "f2", "f3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    Pipeline.runBufferedErrorBurstStream(spark, in, out, ckpt,
      delay = "27 hours", maxFilesPerTrigger = 1).awaitTermination()
    // batch q118's lead-window plan applied to the same fed events —
    // the reconciliation query itself, not a re-derivation
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    val want = spark.read
      .schema("ts TIMESTAMP, user_id LONG, event_id LONG, event_type STRING")
      .json(in).filter($"user_id" < 999)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .select($"user_id", $"event_id", $"event_type", $"ts_us",
        lead($"event_type", 1).over(w).as("t2"),
        lead($"event_type", 2).over(w).as("t3"),
        lead($"event_id", 2).over(w).as("id3"),
        lead($"ts_us", 2).over(w).as("ts3"))
      .filter($"event_type" === "error" && $"t2" === "error" && $"t3" === "error"
        && $"ts3" - $"ts_us" <= 86400000000L)
      .select($"user_id", $"event_id", $"id3", $"ts_us", $"ts3")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val got = spark.read.parquet(s"$out/error_incidents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .filter(_._1 < 999).toSet
    assert(got == want, s"got $got want $want")
    // the late-error incident the in-order twin cannot emit IS here
    assert(got.exists(i => i._1 == 5L && i._2 == 503L && i._3 == 502L),
      "u5's out-of-order error run must match under the buffer")
  }

  test("watermarked ingest dedup: replayed wire records land exactly once") {
    import org.apache.spark.sql.functions.col
    val in = tmpDir("dd_in")
    val out = tmpDir("dd_out")
    val ckpt = tmpDir("dd_ckpt")
    // row1 appears twice in the same file and again in a second file:
    // an at-least-once source replaying a batch
    writeJsonl(in, "a.jsonl", row1, row1, row2)
    writeJsonl(in, "b.jsonl", row1, row3)
    Pipeline.runDedupedAlertPipeline(spark, in, out, ckpt).awaitTermination()
    val tel = spark.read.parquet(s"$out/vehicle_telemetry")
    assert(tel.count() == 3, "five wire records, three distinct (vehicle,time) keys")
    assert(tel.filter(col("vehicle_id") === 1).count() == 1)
    val al = spark.read.parquet(s"$out/alerts")
    assert(al.filter(col("alert_type") === "Speed Violation").count() == 1,
      "the duplicated speeding row alerts exactly once")
  }

  test("ingest dedup keys on wire content: distinct malformed-ts records survive, replayed ones dedup") {
    import org.apache.spark.sql.functions.col
    val in = tmpDir("ddm_in")
    val out = tmpDir("ddm_out")
    val ckpt = tmpDir("ddm_ckpt")
    // both records have an unparseable timestamp -> both get the same
    // per-batch fallback time, but they are DIFFERENT readings and must
    // both land; the replay of the first (same wire bytes, second file /
    // later batch, different fallback time) must be dropped
    val bad1 = """{"vehicle_id":"7","timestamp":"not-a-time","current_speed_kmh":"80","speed_limit_violation":"true"}"""
    val bad2 = """{"vehicle_id":"7","timestamp":"not-a-time","current_speed_kmh":"55","speed_limit_violation":"false"}"""
    writeJsonl(in, "a.jsonl", bad1, bad2)
    writeJsonl(in, "b.jsonl", bad1)
    Pipeline.runDedupedAlertPipeline(spark, in, out, ckpt).awaitTermination()
    val tel = spark.read.parquet(s"$out/vehicle_telemetry")
    assert(tel.count() == 2, "two distinct readings kept, exact replay dropped")
    assert(tel.filter(col("current_speed_kmh") === 80.0).count() == 1)
    assert(tel.filter(col("current_speed_kmh") === 55.0).count() == 1)
  }

  test("stateful odometer progress: state survives across availableNow restarts") {
    import org.apache.spark.sql.functions.col
    val in = tmpDir("st_in")
    val out = tmpDir("st_out")
    val ckpt = tmpDir("st_ckpt")
    def telRow(vid: Int, t: String, odo: Double) =
      s"""{"vehicle_id":"$vid","timestamp":"$t","odometer_km":"$odo"}"""
    writeJsonl(in, "b1.jsonl",
      telRow(1, "2026-03-01 08:00:00", 10.0),
      telRow(1, "2026-03-01 08:00:10", 12.0),
      telRow(2, "2026-03-01 08:00:05", 100.0))
    Pipeline.runOdometerProgress(spark, in, out, ckpt).awaitTermination()
    val r1 = spark.read.parquet(s"$out/odometer_progress")
    assert(r1.count() == 2)
    val v1 = r1.filter(col("vehicle_id") === 1).head()
    assert(v1.getAs[Long]("n_records") == 2 && v1.getAs[Double]("total_km") == 2.0)

    // restart with a new file: vehicle 1 advances from checkpointed state
    // (12.0 -> 15.5), vehicle 2 stays flat
    writeJsonl(in, "b2.jsonl",
      telRow(1, "2026-03-01 08:01:00", 15.5),
      telRow(2, "2026-03-01 08:01:00", 100.0))
    Pipeline.runOdometerProgress(spark, in, out, ckpt).awaitTermination()
    val r2 = spark.read.parquet(s"$out/odometer_progress")
      .orderBy("vehicle_id", "n_records").collect()
    assert(r2.length == 4)
    val v1b = r2.filter(r => r.getInt(0) == 1 && r.getLong(1) == 3L)
    assert(v1b.length == 1 && v1b.head.getDouble(2) == 5.5,
      "cumulative km resumes from checkpointed state, not from zero")
    val v2b = r2.filter(r => r.getInt(0) == 2 && r.getLong(1) == 2L)
    assert(v2b.length == 1 && v2b.head.getDouble(2) == 0.0)
  }

  test("batch frame through the same windowed-metrics transform") {
    val tel = graft.sources.Simulation.telemetry(spark, 3, 120, seed = 42).toDF()
    val m = Pipeline.speedMetricsByWindow(tel)
    val rows = m.collect()
    assert(rows.nonEmpty)
    assert(m.filter(col("avg_speed_kmh") < 20.0 || col("avg_speed_kmh") > 90.0).count() == 0)
    val total = m.agg(sum("n_samples")).head().getLong(0)
    assert(total == 360L)
  }

  test("windowed heavy hitters: per-window sketches finalize past the watermark") {
    import spark.implicits._
    val in = tmpDir("whh_in")
    val out = tmpDir("whh_out")
    val ckpt = tmpDir("whh_ckpt")
    def doc(ts: String, toks: Seq[String]) =
      s"""{"ts":"$ts","text":"${toks.mkString(" ")}"}"""
    // window 1 (08:00): 'alpha' heavy; window 2 (08:01): 'beta' heavy;
    // late row at 08:10 pushes the watermark past both
    writeJsonl(in, "w1.jsonl",
      doc("2026-03-01 08:00:05", Seq.fill(30)("alpha") ++ Seq("x", "y")),
      doc("2026-03-01 08:00:40", Seq.fill(10)("alpha")))
    writeJsonl(in, "w2.jsonl",
      doc("2026-03-01 08:01:10", Seq.fill(25)("beta") ++ Seq("z")))
    writeJsonl(in, "w3.jsonl", doc("2026-03-01 08:10:00", Seq("tail")))
    // pin strictly increasing mtimes (see interval-join test): batch order
    // must match event-time order or the late file advances the watermark
    // first and the early windows' rows are dropped as late
    for ((stem, i) <- Seq("w1", "w2", "w3").zipWithIndex)
      Files.setLastModifiedTime(Paths.get(in, s"$stem.jsonl"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))

    Pipeline.runWindowedHeavyHitters(spark, in, out, ckpt).awaitTermination()
    val snap = spark.read.parquet(s"$out/windowed_heavy_hitters")
    val w1 = snap.filter($"window_start" === "2026-03-01 08:00:00")
    val w2 = snap.filter($"window_start" === "2026-03-01 08:01:00")
    // both early windows finalized; per-window counts are exact here
    // (vocab << k): alpha 40 in w1 only, beta 25 in w2 only
    assert(w1.filter($"token" === "alpha").head().getLong(2) == 40L)
    assert(w1.head().getLong(3) == 42L)
    assert(w2.filter($"token" === "beta").head().getLong(2) == 25L)
    assert(w1.filter($"token" === "beta").count() == 0)
    assert(w2.filter($"token" === "alpha").count() == 0)
  }

  test("streaming heavy hitters: MG bounds hold across micro-batches and a restart") {
    import spark.implicits._
    val in = tmpDir("hh_in")
    val out = tmpDir("hh_out")
    val ckpt = tmpDir("hh_ckpt")

    def docLine(tokens: Seq[String]) = tokens.mkString(" ")
    // three micro-batches (maxFilesPerTrigger=1) with a skewed vocabulary
    Files.writeString(Paths.get(in, "d1.txt"),
      docLine(Seq.fill(50)("alpha") ++ (1 to 30).map(i => s"r$i")) + "\n")
    Files.writeString(Paths.get(in, "d2.txt"),
      docLine(Seq.fill(40)("beta") ++ Seq.fill(20)("alpha")) + "\n")
    Files.writeString(Paths.get(in, "d3.txt"),
      docLine((1 to 40).map(i => s"s$i") ++ Seq.fill(25)("gamma")) + "\n")

    def checkBounds(): Unit = {
      val snap = spark.read.parquet(s"$out/token_heavy_hitters")
      val exact = spark.read.text(in)
        .select(explode(split($"value", " ")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = exact.values.sum
      val err = n / 257L
      val est = snap.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = snap.head().getLong(2)
      assert(total == n, s"running token total $total != exact $n")
      est.foreach { case (t, e) =>
        val c = exact.getOrElse(t, 0L)
        assert(e <= c && c - e <= err, s"$t est=$e true=$c err>$err")
      }
      exact.foreach { case (t, c) =>
        if (c > err) assert(est.contains(t), s"heavy hitter lost: $t")
      }
    }

    Pipeline.runTokenHeavyHitters(spark, in, out, ckpt).awaitTermination()
    checkBounds()

    // restart with one more file: the serialized sketch state must
    // restore from the checkpoint and keep merging (complete mode
    // reprocesses nothing — only d4 is read)
    Files.writeString(Paths.get(in, "d4.txt"),
      docLine(Seq.fill(60)("alpha") ++ Seq.fill(15)("delta")) + "\n")
    Pipeline.runTokenHeavyHitters(spark, in, out, ckpt).awaitTermination()
    checkBounds()
  }

  test("tombstone ledger: streamed takedowns accumulate, mask serving == eager removal") {
    import graft.queries.{Additive, TextOps}
    val in = tmpDir("tb_in")
    val ledger = tmpDir("tb_ledger")
    val ckpt = tmpDir("tb_ckpt")
    def req(id: Long) = s"""{"ts":"2026-03-01 08:00:00","doc_id":$id}"""
    // duplicate request across batches (7 twice) + a corrupt line: the
    // ledger must be the distinct non-null victim set
    writeJsonl(in, "a.jsonl", req(0), req(7), """{"ts":null,"doc_id":null}""")
    writeJsonl(in, "b.jsonl", req(7), req(14))
    Pipeline.runTakedownLedgerStream(spark, in, ledger, ckpt).awaitTermination()
    val t1 = Pipeline.readTombstoneLedger(spark, ledger)
    assert(t1.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 7L, 14L))

    // masked serving (store rows untouched) == eager removal: the mask
    // IS the eager function applied lazily to the ledger frame
    val raw = TextOps.bm25RawCached(spark, sf0001)
    val masked = Additive.remove(raw, t1)
    import spark.implicits._
    val eager = Additive.remove(raw, Seq(0L, 7L, 14L).toDF("doc_id"))
    assert(masked.totals == eager.totals)
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(tab(masked("df")) == tab(eager("df")))
    val qrows = TextOps.bm25RawQueryRows(spark, sf0001)
    assert(tab(TextOps.bm25RawTopK(masked, qrows, 5)) ==
      tab(TextOps.bm25RawTopK(eager, qrows, 5)))

    // a later stream run accumulates (restart from the same checkpoint)
    writeJsonl(in, "c.jsonl", req(21))
    Pipeline.runTakedownLedgerStream(spark, in, ledger, ckpt).awaitTermination()
    val t2 = Pipeline.readTombstoneLedger(spark, ledger)
    assert(t2.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 7L, 14L, 21L))
    // and an idle re-run (no new files) changes nothing
    Pipeline.runTakedownLedgerStream(spark, in, ledger, ckpt).awaitTermination()
    assert(Pipeline.readTombstoneLedger(spark, ledger)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 7L, 14L, 21L))

    // empty-ledger serve == unmasked serve (fresh deployment, no
    // takedowns yet); compaction's contract follows: folding the ledger
    // (materializing `masked`) then serving under an empty ledger is
    // the already-asserted masked serve
    val none = Pipeline.readTombstoneLedger(spark, tmpDir("tb_empty"))
    assert(none.isEmpty)
    val unmasked = Additive.remove(raw, none)
    assert(unmasked.totals == raw.totals && tab(unmasked("df")) == tab(raw("df")))
  }

  test("tombstone ledger generalizes: mask == eager for MinHash, cluster, PQ, NB; compactTombstones round-trip") {
    import graft.queries.{Additive, LangId, TextOps, VectorOps}
    import graft.sources.Tables
    import spark.implicits._
    val in = tmpDir("tbg_in")
    val ledger = tmpDir("tbg_ledger")
    val ckpt = tmpDir("tbg_ckpt")
    def req(id: Long) = s"""{"ts":"2026-03-01 08:00:00","doc_id":$id}"""
    writeJsonl(in, "a.jsonl", req(0), req(7))
    writeJsonl(in, "b.jsonl", req(14), req(7))
    Pipeline.runTakedownLedgerStream(spark, in, ledger, ckpt).awaitTermination()
    val t = Pipeline.readTombstoneLedger(spark, ledger)
    val eager = Seq(0L, 7L, 14L).toDF("doc_id")
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // ONE ledger feeds every removeFrom* lazily — readTombstoneLedger's
    // claim. For each artifact class, serving under the ledger mask must
    // equal serving under the eagerly-applied literal victim set.

    // MinHash dedup index: arriving-snapshot screening after removal
    val mh = TextOps.minHashIndexCached(spark, sf0001)
    val arriving = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 5 === 1).select($"doc_id", $"text")
    val mhMasked = tab(TextOps.dedupAgainstIndex(
      arriving, TextOps.removeFromMinHashIndex(mh, t)))
    assert(mhMasked == tab(TextOps.dedupAgainstIndex(
      arriving, TextOps.removeFromMinHashIndex(mh, eager))))

    // near-dup cluster labeling: victim-touched components re-cluster
    val labels = TextOps.dedupClustersCached(spark, sf0001)
    val edges = TextOps.dedupEdgesCached(spark, sf0001)
    assert(tab(TextOps.removeFromClusters(labels, edges, t)) ==
      tab(TextOps.removeFromClusters(labels, edges, eager)))

    // PQ ANN index (vec_id-keyed): ADC top-k after code removal
    val pq = VectorOps.pqTrainCached(spark, sf0001)
    val tVec = t.select($"doc_id".as("vec_id"))
    val eagerVec = eager.select($"doc_id".as("vec_id"))
    val pqQueries = Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id", expr("transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))").as("xq"))
    assert(tab(VectorOps.pqAdcTopK(pqQueries,
        VectorOps.removeFromPqIndex(pq, tVec), 5)) ==
      tab(VectorOps.pqAdcTopK(pqQueries,
        VectorOps.removeFromPqIndex(pq, eagerVec), 5)))

    // NB langid raw store: held-out classification after exact unlearning
    val nbRaw = LangId.nbRawCached(spark, sf0001)
    val held = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
    assert(tab(LangId.langIdScoreDocs(held,
        LangId.nbModelOf(Additive.remove(nbRaw, t)))) ==
      tab(LangId.langIdScoreDocs(held,
        LangId.nbModelOf(Additive.remove(nbRaw, eager)))))

    // compactTombstones round-trip: fold the ledger into a materialized
    // pruned store (MinHash — it has a persist/load pair), ledger
    // empties, and serving the compacted store under the now-empty
    // ledger equals the pre-compaction masked serve
    val compDir = tmpDir("tbg_compacted")
    Pipeline.compactTombstones(spark, ledger) { vic =>
      TextOps.saveMinHashIndex(TextOps.removeFromMinHashIndex(mh, vic), compDir)
    }
    val afterLedger = Pipeline.readTombstoneLedger(spark, ledger)
    assert(afterLedger.isEmpty)
    val compacted = TextOps.loadMinHashIndex(spark, compDir)
    assert(tab(TextOps.dedupAgainstIndex(arriving,
      TextOps.removeFromMinHashIndex(compacted, afterLedger))) == mhMasked)

    // idempotent re-compaction (the crash-after-fold contract): folding
    // an already-applied (now empty) ledger changes nothing
    val compDir2 = tmpDir("tbg_compacted2")
    Pipeline.compactTombstones(spark, ledger) { vic =>
      TextOps.saveMinHashIndex(
        TextOps.removeFromMinHashIndex(compacted, vic), compDir2)
    }
    assert(tab(TextOps.dedupAgainstIndex(arriving,
      TextOps.loadMinHashIndex(spark, compDir2))) == mhMasked)
  }

  test("compactTombstones: batch appended mid-compaction survives un-folded and applies next round") {
    import spark.implicits._
    val ledger = tmpDir("tbc_ledger")
    Seq(3L, 9L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ledger/batch=0")
    // a live takedown stream lands batch=1 WHILE the fold runs — between
    // the snapshot and the clearing loop. The old implementation deleted
    // batch=* wholesale and silently dropped it (ADVICE r10, medium).
    var folded1: Set[Long] = null
    Pipeline.compactTombstones(spark, ledger) { vic =>
      folded1 = vic.as[Long].collect().toSet
      Seq(21L).toDF("doc_id")
        .write.mode("overwrite").parquet(s"$ledger/batch=1")
    }
    assert(folded1 == Set(3L, 9L))
    // the concurrent batch is still in the ledger (masked at serve time)…
    assert(Pipeline.readTombstoneLedger(spark, ledger)
      .as[Long].collect().toSet == Set(21L))
    // …and the next compaction folds it; the ledger then drains fully
    var folded2: Set[Long] = null
    Pipeline.compactTombstones(spark, ledger) { vic =>
      folded2 = vic.as[Long].collect().toSet
    }
    assert(folded2 == Set(21L))
    assert(Pipeline.readTombstoneLedger(spark, ledger).isEmpty)
  }
}
