package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.{SparkEntry, SparkSpec}
import graft.dev.Measure
import graft.queries.IndexCache
import graft.sinks.Sinks

/** The plain-SQL surface: every table registered as a temp view, typed
  * loaders applied (events nanos handling), kernels callable inline —
  * the way the reference's users actually query (queries.py SQL strings).
  * And the one parquet reader under it, [[Tables.parquet]]: the schema it
  * resolves on the driver is the one Spark's inference job would, and it
  * starts no job to get it.
  */
class TablesSpec extends SparkSpec {

  /** `Tables.parquet`'s schema against Spark's own inference. */
  private def assertInferred(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == want, path)
    assert(Tables.parquetIfPresent(spark, path).map(_.schema).contains(want), path)
  }

  test("registerViews: every table queryable from spark.sql, events.ts typed") {
    Tables.registerViews(spark, sf0001)
    // all ten views exist and scan
    Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").count() == 1, s"view $n")
    }
    // the events view went through the typed loader: ts is a TIMESTAMP,
    // not the raw nanos long
    val t = spark.sql("SELECT ts FROM events LIMIT 1").schema.head.dataType
    assert(t == org.apache.spark.sql.types.TimestampType, s"events.ts is $t")
    // a metric query in plain SQL agrees with the DataFrame form
    val sqlCount = spark.sql(
      "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30").head().getLong(0)
    val dfCount = Tables.lineitem(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 30).count()
    assert(sqlCount == dfCount)
    // engine kernels compose with the views in one SQL statement
    val ws = spark.sql(
      "SELECT word_stats(text).n_words AS n FROM documents ORDER BY doc_id LIMIT 1")
      .head().getLong(0)
    assert(ws > 0)
  }

  test("the reader's schema is Spark's inferred schema for every base table") {
    Tables.names.foreach(n => assertInferred(s"$sf0001/$n.parquet"))
  }

  test("the reader's schema is Spark's inferred schema for a p_date store and an artifact dir") {
    val store = s"${tmpDir("tables_store")}/telemetry"
    val ticks = spark.range(6).select(col("id").cast("int").as("vehicle_id"),
      (lit(1714521600L) + col("id") * 86400L).cast("timestamp").as("time"),
      (col("id") * 1.5).as("speed"))
    Sinks.writePartitioned(ticks.filter(col("id") < 3), store)
    Sinks.writePartitioned(ticks.filter(col("id") >= 3), store)
    assert(Files.list(Paths.get(store)).iterator().asScala.count(_.getFileName.toString
      .startsWith("p_date=")) == 6)
    assertInferred(store)
    assert(Tables.parquet(spark, store).schema.fieldNames.last == "p_date")

    // the langid artifact: every table q100 serves from
    SparkEntry.queries("q100_langid_trained")(spark, sf0001)
    val art = Files.list(IndexCache.root).iterator().asScala
      .find(_.getFileName.toString.startsWith("langid_")).get
    val tables = Files.list(art).iterator().asScala.filter(Files.isDirectory(_)).toSeq
    assert(tables.size >= 3, tables)
    tables.foreach(t => assertInferred(t.toString))
  }

  test("the reader's schema is Spark's inferred schema for TimestampNTZ and nanos ts files") {
    // written by parquet-mr, not Spark: no Spark schema in the footer, so
    // the session's converter types `ts` (the two events layouts)
    val dir = tmpDir("tables_ts")
    val layouts = Seq("TIMESTAMP(MICROS,false)" -> TimestampNTZType, "TIMESTAMP(NANOS,false)" -> LongType)
    layouts.zipWithIndex.foreach { case ((logical, want), i) =>
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 event_id; required int64 ts ($logical); }")
      val file = s"$dir/layout$i/part-00000.parquet"
      val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L)
        .append("ts", 1714521600000000L))
      finally w.close()
      assertInferred(s"$dir/layout$i")
      assert(Tables.parquet(spark, s"$dir/layout$i").schema("ts").dataType == want, logical)
    }
  }

  test("a read starts no Spark job, where Spark's inference starts one") {
    val region = s"$sf0001/region.parquet"
    val read: Measure.Preset = (s, _) => leg => {
      leg("load")(Tables.load(s, sf0001, "region").schema.size.toLong)
      leg("parquet")(Tables.parquet(s, region).schema.size.toLong)
      leg("inferred")(s.read.parquet(region).schema.size.toLong)
    }
    val recs = Measure.run(spark, Seq("read" -> read), Seq(sf0001), 2)
    recs.filter(_.leg != "inferred").foreach(r => assert(r.jobs == 0 && r.bareJobs == 0, r))
    recs.filter(_.leg == "inferred").foreach(r => assert(r.jobs == 1 && r.bareJobs == 1, r))
  }

  test("a multi-path read under a basePath: Spark's inferred frame, and no job") {
    val ledger = tmpDir("tables_parts")
    Seq(0L, 1L).foreach(b => spark.range(b * 10, b * 10 + 3).select(col("id").as("doc_id"))
      .write.parquet(s"$ledger/batch=$b"))
    val parts = Seq(0L, 1L).map(b => s"$ledger/batch=$b")
    val want = spark.read.option("basePath", ledger).parquet(parts: _*)
    val got = Tables.parquetParts(spark, ledger, parts)
    assert(got.schema == want.schema && got.schema.fieldNames.toSeq == Seq("doc_id", "batch"))
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
    val read: Measure.Preset = (s, _) => leg =>
      leg("parts")(Tables.parquetParts(s, ledger, parts).schema.size.toLong)
    Measure.run(spark, Seq("read" -> read), Seq(sf0001), 2)
      .foreach(r => assert(r.jobs == 0 && r.bareJobs == 0, r))
  }

  test("a dir holding only _SUCCESS and .crc files has no table: None, or Spark's UNABLE_TO_INFER_SCHEMA") {
    val dir = tmpDir("tables_empty")
    Seq("_SUCCESS", ".part-00000.parquet.crc", "._SUCCESS.crc")
      .foreach(n => Files.write(Paths.get(dir, n), Array[Byte](1, 2, 3)))
    Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    assert(Tables.parquetIfPresent(spark, dir).isEmpty)
    assert(Tables.parquetIfPresent(spark, s"$dir/missing").isEmpty)
    val e = intercept[AnalysisException](Tables.parquet(spark, dir))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }

  test("a corrupt data file throws") {
    val dir = tmpDir("tables_corrupt")
    Files.writeString(Paths.get(dir, "part-00000.parquet"), "not a parquet file")
    intercept[RuntimeException](Tables.parquetIfPresent(spark, dir))
    intercept[RuntimeException](Tables.parquet(spark, dir))
  }

  test("runtime guard: warm q06 and q100 start no job from a DataFrameReader.parquet call site") {
    val sc = spark.sparkContext
    val queries = Seq("q06_distinct_users", "q100_langid_trained")
    def serve(): Unit = queries.foreach(q =>
      SparkEntry.queries(q)(spark, sf0001).write.format("noop").mode("overwrite").save())
    serve() // builds the artifacts
    val marker = "graft.tablesSpec.marker"
    val sites = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) drained.countDown()
        else e.stageInfos.foreach(st => sites.add(s"${st.name}\n${st.details}"))
    }
    sc.addSparkListener(listener)
    try {
      serve()
      // the bus delivers in order: once the marker's start arrives, every
      // job the two queries started has been seen
      sc.setLocalProperty(marker, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
    } finally sc.removeSparkListener(listener)
    assert(!sites.isEmpty)
    val readJobs = sites.asScala.filter(_.contains("DataFrameReader.parquet"))
    assert(readJobs.isEmpty, readJobs.mkString("\n---\n"))
  }
}
