package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md), and the
  * engine's one parquet reader, [[parquet]].
  *
  * One parquet file per table under `sfDir`. These are the engine's batch
  * scan path: columnar parquet with Catalyst predicate pushdown and column
  * pruning (replaces the reference's TimescaleDB scans + chunk exclusion,
  * sql/01_schema.sql:22,35 — see SURVEY.md §4).
  *
  * At 100 TB each "file" becomes a partitioned directory; nothing here
  * changes — the reader handles directory trees, and Spark's partition
  * discovery and pruning apply as before.
  *
  * Schema resolution. A bare `spark.read.parquet(path)` infers its schema
  * in a one-task Spark job that reads one footer: without `mergeSchema`,
  * Spark reads only the first data file in path order. [[parquet]] reads
  * that same footer on the driver and converts it with the code that job
  * runs (`ParquetFileFormat.readSchemaFromFooter` with the session's
  * converter), then hands the schema to the reader. The result is the
  * frame inference gives, with no job. Partition columns are not in the
  * footer, so Spark still discovers them from the `k=v` directory names.
  * Nothing is cached: each call reads the footer again, so a rewritten
  * directory never serves a stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The parquet file or directory at `path` (no glob), read with the
    * schema of its first data file. With no data file under it, or no
    * such path, this is Spark's own read and its own error
    * (`UNABLE_TO_INFER_SCHEMA`, `PATH_NOT_FOUND`). A streaming file
    * sink's dir is still served from its `_spark_metadata` log; its
    * schema comes from the first file listed, which that sink's one query
    * wrote like every other. */
  def parquet(s: SparkSession, path: String): DataFrame =
    parquetIfPresent(s, path).getOrElse(s.read.parquet(path))

  /** [[parquet]], or None when `path` is missing or holds no data file
    * (a sink that made its directory before its first commit). A footer
    * that cannot be read throws. */
  def parquetIfPresent(s: SparkSession, path: String): Option[DataFrame] =
    footerSchema(s, Seq(path)).map(s.read.schema(_).parquet(path))

  /** [[parquet]] over several `paths` under one `basePath`, which Spark's
    * partition discovery reads the `k=v` dir names from, with the schema
    * of the first data file of the first path that holds one. With no
    * data file at all, this is Spark's own read and its own error. */
  def parquetParts(s: SparkSession, basePath: String, paths: Seq[String]): DataFrame = {
    val reader = s.read.option("basePath", basePath)
    footerSchema(s, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The schema Spark's inference reads from the first data file under
    * `paths`, read on the driver, or None with no data file. */
  private def footerSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    paths.iterator.map(new Path(_))
      .flatMap(p => firstDataFile(p.getFileSystem(conf), p)).nextOption().map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(s.sessionState.conf))
      }
  }

  /** The data file Spark's inference reads: the first, by path string, of
    * the files it lists, which skip `_*` and `.*` names (but keep `k=v`
    * partition dirs) and in-flight `._COPYING_` files. A dir sorts as
    * `name/`, so the walk visits files in path order and stops at the
    * first. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    def visible(n: String) = !((n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_"))
    def under(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filter(st => visible(st.getPath.getName))
        .sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
        .iterator.flatMap(st => if (st.isDirectory) under(st.getPath) else Some(st))
        .nextOption()
    val root = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    root.flatMap(st => if (st.isDirectory) under(p) else Some(st))
  }

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
    * which the `events.parquet` TIMESTAMP(NANOS) footer is rejected when
    * its schema is resolved (ILLEGAL_PARQUET_TYPE) — it is a runtime SQL conf,
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
