package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. These are the engine's batch
  * scan path: columnar parquet with Catalyst predicate pushdown and column
  * pruning (replaces the reference's TimescaleDB scans + chunk exclusion,
  * sql/01_schema.sql:22,35 — see SURVEY.md §4).
  *
  * At 100 TB each "file" becomes a partitioned directory; nothing here
  * changes — `spark.read.parquet` handles directory trees, partition
  * discovery and pruning natively.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalized to session-zoned TimestampType whatever the
    * parquet writer emitted. Two layouts exist across driver testdata
    * generations:
    *
    *  - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong=true`
    *    it scans as a LongType of nanoseconds; the data is µs-granular
    *    (verified: epoch_ns % 1000 == 0 for all rows), so the integer
    *    `div 1000` is lossless (plain `/` would route through double and
    *    lose precision above 2^53);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as TimestampNTZ;
    *    the engine's session time zone is pinned to UTC (Sessions.scala),
    *    so the cast to TimestampType re-reads the same wall-clock fields
    *    as the same instant the nanos layout produced — downstream
    *    window/watermark/oracle semantics are unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so the engine is drivable from
    * plain `spark.sql(...)` — the surface the reference's users actually
    * write (src/metrics/queries.py is ~250 lines of SQL strings). Views
    * go through the same typed loaders (so `events.ts` nanos handling
    * applies), are lazy (no scan until queried), and compose with the
    * kernel functions GraftExtensions injects — a SQL user gets
    * `SELECT word_stats(text) FROM documents` on a stock session started
    * with `spark.sql.extensions=graft.GraftExtensions`.
    *
    * Stock sessions lack `spark.sql.legacy.parquet.nanosAsLong`, without
    * which the `events.parquet` TIMESTAMP(NANOS) footer is rejected at
    * schema inference (ILLEGAL_PARQUET_TYPE) — it is a runtime SQL conf,
    * so set it here rather than require every caller to know about it.
    */
  def registerViews(s: SparkSession, sfDir: String): Unit = {
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      val df = if (n == "events") events(s, sfDir) else load(s, sfDir, n)
      df.createOrReplaceTempView(n)
    }
  }
}
