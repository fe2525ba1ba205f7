package graft.sinks

import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Batch sinks — the write side of the pipeline (SURVEY §2.1 S7–S9).
  *
  * The engine's canonical store is time-partitioned parquet (the Spark
  * analog of the reference's TimescaleDB hypertable chunking,
  * sql/01_schema.sql:22–69): day partitions give Catalyst partition
  * pruning on every `time >` predicate. JDBC and CSV are compatibility
  * sinks mirroring reference db.py:67–129 and scripts/export_results.py.
  */
object Sinks {

  /** Run independent writes as concurrent Spark jobs: the wall becomes
    * the slowest write, not the sum of each job's fixed launch and
    * commit cost. Each write runs on a thread started here, so its jobs
    * inherit the caller's Spark local properties (a stream's job group,
    * which `query.stop()` cancels, the job description and the SQL
    * execution id). Every write is joined before anything is thrown:
    * the first failure in argument order is rethrown with the others
    * attached as suppressed, so no write is still running when a
    * failed micro-batch is replayed. Writes passed here must not read
    * what a sibling writes; callers sequence the real dependencies.
    * Nor may writes over local rows share a higher-order function's
    * lambda (`filter(c, w => ...)`): Spark evaluates such a projection
    * on the driver, and the plans built from one column share its
    * lambda variable, so the writes race on it (wrong values, no error).
    * Checkpoint the shared lineage first, or keep lambdas out of it. */
  def concurrently(writes: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (w, i) =>
      val t = new Thread(() => try w() catch { case e: Throwable => failures(i) = e },
        s"graft-sink-$i")
      t.start()
      t
    }
    // joined uninterruptibly: a stopped stream cancels the writes' job
    // group, so they end; returning before they do would let a replay
    // race them
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    val thrown = (Option.when(interrupted)(new InterruptedException("sink writes interrupted")) ++
      failures.filter(_ != null)).toSeq
    thrown.headOption.foreach { first =>
      thrown.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Day-partitioned parquet table. Partitioning column is derived, so the
    * data keeps its full-resolution `time`; at 100 TB each day directory
    * splits into many files sized by the writer's task parallelism.
    */
  def writePartitioned(df: DataFrame, path: String, timeCol: String = "time",
      mode: String = "append"): Unit =
    df.withColumn("p_date", to_date(col(timeCol)))
      .write.mode(mode).partitionBy("p_date").parquet(path)

  /** CSV export (reference export_results.py:31–75): single headered file
    * per result, for dashboard-sized frames only — `coalesce(1)` funnels
    * the result through one task, which is the point for a hand-off file
    * and wrong for anything large.
    */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Day-partitioned ORC table — the same layout contract as
    * [[writePartitioned]] on Spark's other built-in columnar format
    * (vectorized reader, predicate pushdown, and partition pruning all
    * apply identically; interop target for Hive/Trino-side consumers).
    * Avro is NOT offered: the `avro` DataFrame format needs the external
    * spark-avro module, absent from this build environment (only the Avro
    * core libs ship in /opt/spark/jars) — same closure note as the Kafka
    * leg in README.
    */
  def writePartitionedOrc(df: DataFrame, path: String, timeCol: String = "time",
      mode: String = "append"): Unit =
    df.withColumn("p_date", to_date(col(timeCol)))
      .write.mode(mode).partitionBy("p_date").orc(path)

  /** Z-order clustered write: lay rows out along a space-filling curve
    * over up to 4 numeric columns so parquet min/max statistics stay
    * TIGHT on EVERY z column in EVERY file — a filter on any one of them
    * skips most files/row groups, where a plain sort only serves its
    * leading column. This is the layout lever behind Delta/Iceberg
    * `OPTIMIZE ZORDER`, built from public Spark primitives:
    *
    *  1. one `approx_percentile` pass computes 255 quantile boundaries
    *     (8 bits) per z column (mergeable sketch, map-side combined —
    *     the q54b pattern), broadcast as a single row;
    *  2. each row maps every z column to its quantile bucket, the count
    *     of boundaries below it, by an 8-step binary search
    *     ([[quantileBucket]]; equal-frequency, so skew can't pile the
    *     curve into few buckets; a null counts no boundary and lands
    *     in bucket 0, a NaN — above every double in Spark's ordering —
    *     in the top one);
    *  3. bucket bits are interleaved into the Morton z-value, and
    *     `repartitionByRange(nFiles, __z)` + `sortWithinPartitions(__z)`
    *     produce `nFiles` range-disjoint, internally-sorted files,
    *     overwriting `path`.
    *
    * Readers need nothing special: an ordinary filter on the z columns
    * pushes down to the parquet scan and skips the row groups whose
    * stats fall outside it (q105).
    *
    * Cost: one sketch pass + one range shuffle — the same price as a
    * global sort by one column, but the locality benefits all z columns.
    * At 100 TB this is the difference between scanning a fleet-day and
    * scanning the lake for a `(vehicle, speed-band)` probe.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      nFiles: Int): Unit = {
    require(zCols.nonEmpty && zCols.size <= 4, "z-order over 1..4 columns")
    // 8 bits per column: 4 columns fill 32 of the z-value's 63 bits, and
    // the boundary array stays a 255-element literal
    val bits = 8
    val nb = 1 << bits
    val fracs = array((1 until nb).map(i => lit(i.toDouble / nb)): _*)
    val bounds = df.select(zCols.map(c =>
      approx_percentile(col(c).cast("double"), fracs, lit(10000)).as(s"__zb_$c")): _*)
    val withB = df.crossJoin(broadcast(bounds))
    val buckets = zCols.foldLeft(withB)((f, c) => quantileBucket(f, c, s"__zb_$c", bits))
    val z = zCols.indices.foldLeft(lit(0L)) { (acc, ci) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(
          shiftright(col(s"__zb_${zCols(ci)}"), i).bitwiseAND(lit(1)).cast("long"),
          i * zCols.size + ci))
      }
    }
    buckets.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop(zCols.map(c => s"__zb_$c") :+ "__z": _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Replace the sorted `2^bits - 1`-boundary array column `bounds` of `df`
    * by the count of its boundaries that `c` (as a double) is greater
    * than: `bits` steps of a binary search over `element_at`, each step
    * its own codegen'd projection (a lambda over the whole array would
    * run interpreted). A null `c` counts no boundary; a NaN, above every
    * double in Spark's ordering, counts every non-NaN one. */
  private[sinks] def quantileBucket(df: DataFrame, c: String, bounds: String,
      bits: Int): DataFrame = {
    val (x, n) = (col(c).cast("double"), col("__zn"))
    // each step probes the boundary `step` past the count so far; the
    // count never passes 2^bits - 1, so every probe is in range
    (bits - 1 to 0 by -1).map(1 << _)
      .foldLeft(df.withColumn("__zn", lit(0))) { (f, step) =>
        f.withColumn("__zn",
          when(element_at(col(bounds), n + step) < x, n + step).otherwise(n))
      }
      .drop(bounds).withColumnRenamed("__zn", bounds)
  }

  /** Small-file compaction for a parquet table: rewrite to
    * ceil(bytes / targetFileBytes) files (per partition directory when
    * `partitionCols` is set), preserving rows and partitioning. Streaming
    * micro-batch sinks accrete one-file-per-trigger; at 100 TB unmanaged
    * small files dominate scan planning time, and periodic compaction is
    * the standard remedy.
    *
    * Concurrent-writer safety: the rewrite reads an explicitly pinned file
    * list (not "whatever is in the directory at scan time"), and after the
    * swap any data file that a live writer appended during the rewrite —
    * present in the old directory but absent from the pinned list — is
    * moved into the new directory before the old one is deleted. So a
    * streaming sink may keep appending throughout; no rows are lost.
    * Readers can still observe a brief missing-directory window between
    * the two renames (atomic multi-dir swap is a table format's job, not a
    * filesystem's); schedule compaction off the query path or use Delta/
    * Iceberg where that window is unacceptable.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Seq.empty): Unit =
    compactImpl(spark, path, targetFileBytes, partitionCols, () => ())

  /** Keyed upsert into a day-partitioned parquet table — the ON CONFLICT
    * semantics the reference's schema once had and its pipeline removed
    * (results/PIPELINE_REAL_DATA.md §4), restored set-oriented: rows in
    * `updates` replace existing rows with the same `keyCols`; on a key
    * collision the later `timeCol` wins, and an update beats an existing
    * row at equal time.
    *
    * Partition-scoped: only the day partitions that `updates` touches are
    * read and rewritten (dynamic partition overwrite), so upsert cost
    * scales with the update's day span, not table history. The distinct
    * touched-date list collected to the driver is partition METADATA
    * (days, not rows) — bounded and tiny by construction.
    *
    * Not transactional: a crash mid-write can leave touched partitions
    * partially rewritten (the table-format caveat as compact()); use
    * Delta/Iceberg MERGE where atomicity is required. The key must pin
    * the row's day (e.g. include `timeCol`, as (vehicle_id, time) does) —
    * a key whose day CHANGES between versions lives in two partitions,
    * and reconciling that is a table-format MERGE, not a partition
    * overwrite.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
      updates: DataFrame, path: String, keyCols: Seq[String],
      timeCol: String = "time"): Unit = {
    require(keyCols.nonEmpty, "upsert needs a key")
    import org.apache.spark.sql.expressions.Window
    val up = updates.withColumn("p_date", to_date(col(timeCol)))
    val touched = up.select("p_date").distinct().collect().map(_.getDate(0))
    // a null timeCol has no partition to land in — reject it with the
    // column name instead of an opaque NPE at the toString below
    require(!touched.contains(null),
      s"upsert: `$timeCol` is null on some update rows — every row needs a partition day")
    // "table exists" means "holds a data file": a bare directory left by
    // a crashed first write takes the first-write branch
    val existing = Tables.parquetIfPresent(spark, path)
      .map(_.filter(col("p_date").isin(touched.map(_.toString): _*)))
    val tagged = up.withColumn("__is_update", lit(1))
    val merged = existing.fold(tagged)(_.withColumn("__is_update", lit(0)).unionByName(tagged))
    // final content-hash tiebreak: two DISTINCT update rows sharing the
    // same key and timeCol would otherwise tie completely and row_number
    // would pick a shuffle-order-dependent winner (identical rows still
    // tie, but then every winner is identical too). Map-typed columns are
    // excluded — Spark rejects hash functions over MapType
    // (DATATYPE_MISMATCH.HASH_MAP_TYPE), which would fail the whole
    // upsert on tables like self_driving_metrics (metadata map column);
    // the residual caveat (two rows differing ONLY in a map column still
    // tie) is the pre-existing identical-rows caveat, one type wider
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val hashable = merged.schema.fields
      .filter(f => !hasMap(f.dataType))
      .map(_.name).sorted
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol).desc, col("__is_update").desc,
        xxhash64(hashable.map(col).toSeq: _*).desc)
    val winner = merged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__is_update")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // localCheckpoint: the plan reads the same partitions it overwrites
      winner.localCheckpoint()
        .write.mode("overwrite").partitionBy("p_date").parquet(path)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** `afterPin` is a test seam: invoked once right after the file list is
    * pinned (i.e. "during the rewrite" from a concurrent writer's view),
    * letting specs simulate a mid-compaction append deterministically.
    */
  private[graft] def compactImpl(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long, partitionCols: Seq[String], afterPin: () => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // data files only (skip _SUCCESS / hidden), with their dir-relative
    // paths so late arrivals can be matched and re-homed after the swap
    // (listFiles returns fully-qualified URIs — strip the qualified base)
    def dataFiles(base: Path): Seq[(String, Long)] = {
      val baseStr = fs.makeQualified(base).toString.stripSuffix("/") + "/"
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      val it = fs.listFiles(base, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
          out += ((f.getPath.toString.stripPrefix(baseStr), f.getLen))
      }
      out.toSeq
    }

    val pinned = dataFiles(root)
    if (pinned.isEmpty) return
    afterPin()
    val totalBytes = pinned.map(_._2).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val rootStr = fs.makeQualified(root).toString.stripSuffix("/")
    val raw = Tables.parquetParts(spark, path,
      pinned.map(rootStr + "/" + _._1))
    // hash-repartition ON the partition columns PLUS a per-directory salt:
    // a bare round-robin spreads every table partition's rows over all
    // tasks (partitionBy then writes up to nFiles files per directory —
    // the opposite of compaction), while partition columns ALONE collapse
    // each directory to a single task and file, ignoring targetFileBytes
    // for a directory larger than the target (a 50 GB day would become
    // one 50 GB file through one task). The salt ranges over that
    // directory's own ceil(bytes/target) file count, computed from the
    // pinned sizes, so each directory lands ~k_dir tasks/files. Hash
    // collisions between (dir, salt) groups can merge two salt groups of
    // one directory into one task (fewer, larger files) — bounded by 2×
    // target in practice, never the one-file collapse.
    val df =
      if (partitionCols.nonEmpty) {
        import spark.implicits._
        def dirOf(rel: String): String = rel.lastIndexOf('/') match {
          case -1 => ""
          case i => rel.substring(0, i)
        }
        val dirK: Map[String, Long] = pinned.groupBy(f => dirOf(f._1))
          .map { case (dir, fs) => dir ->
            math.max(1L, math.ceil(fs.map(_._2).sum.toDouble / targetFileBytes).toLong) }
        // key each row by its source file's DIR-RELATIVE PATH (the last
        // partitionCols.length + 1 segments of input_file_name), mapped
        // to its directory's file target through the pinned list itself.
        // The path, not the bare file name: ONE dynamic-partition write
        // job emits the SAME part-file basename into EVERY partition
        // directory it touches (task 0 → part-00000-<uuid> under each
        // p=...), so a basename key is non-unique across dirs and the
        // join would multiply those rows — silent duplication on any
        // append spanning ≥ 2 partition values. Rel paths are unique by
        // construction. Reconstructing the dir from partition VALUES
        // instead would silently miss on hive-escaped values, null
        // partitions or type-normalized names; if URI-encoding ever
        // makes the segment forms disagree, the left-join MISSES and
        // na.fill degrades that directory to the one-file collapse —
        // never to duplication
        val segs = partitionCols.length + 1
        val fileK = pinned.map { f => (f._1, dirK(dirOf(f._1))) }
          .toSeq.toDF("__file", "__k")
        raw.withColumn("__file",
            substring_index(input_file_name(), "/", -segs))
          .join(broadcast(fileK), Seq("__file"), "left")
          .na.fill(1L, Seq("__k"))
          .withColumn("__salt",
            pmod(xxhash64(monotonically_increasing_id()), col("__k")))
          .repartition(nFiles, (partitionCols :+ "__salt").map(col): _*)
          .drop("__file", "__k", "__salt")
      } else raw.repartition(nFiles)
    val tmp = rootStr + "__compacting"
    val old = rootStr + "__precompact"
    val writer = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp)
    // swap via rename-aside: the live path is missing only between the
    // two renames (not during the whole rewrite), and a crash leaves the
    // data recoverable at one of the suffixed paths
    fs.delete(new Path(old), true)
    if (!fs.rename(root, new Path(old)))
      throw new java.io.IOException(s"compaction rename-aside failed: $path -> $old")
    if (!fs.rename(new Path(tmp), root)) {
      if (fs.exists(root)) {
        // a concurrent writer re-created the live dir inside the swap
        // window; merge the compacted output into it file-by-file (part
        // file names are UUID-unique, so only metadata files can collide)
        def mergeInto(src: Path, destDir: Path): Unit = {
          val dest = new Path(destDir, src.getName)
          if (fs.getFileStatus(src).isDirectory && fs.exists(dest)) {
            fs.listStatus(src).foreach(st => mergeInto(st.getPath, dest))
            fs.delete(src, false)
          } else if (fs.exists(dest) && src.getName.startsWith("_")) {
            fs.delete(src, true)
          } else {
            fs.mkdirs(destDir)
            if (!fs.rename(src, dest))
              throw new java.io.IOException(s"compaction merge failed: $src -> $dest")
          }
        }
        fs.listStatus(new Path(tmp)).foreach(st => mergeInto(st.getPath, root))
        fs.delete(new Path(tmp), true)
      } else {
        fs.rename(new Path(old), root) // restore
        throw new java.io.IOException(s"compaction swap failed: $tmp -> $path")
      }
    }
    // rescue concurrent appends: anything under old that was not in the
    // pinned scan list arrived during the rewrite — move it into the new
    // directory (keeping its partition subpath) before deleting old
    val pinnedRel = pinned.map(_._1).toSet
    dataFiles(new Path(old)).collect { case (rel, _) if !pinnedRel.contains(rel) =>
      val dest = new Path(root, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(old + "/" + rel), dest))
        throw new java.io.IOException(s"late-file rescue failed: $rel")
    }
    fs.delete(new Path(old), true)
  }

  /** JDBC batch sink (reference db.py:67–129: execute_values pages of 500,
    * per-batch transaction). `batchsize` maps the page size; per-partition
    * transactions and retries are the driver's (JDBC connector's) concern.
    * Not executable in this environment (no database) — the streaming and
    * verify paths use parquet.
    */
  def writeJdbc(df: DataFrame, url: String, table: String, user: String,
      password: String, batchSize: Int = 500): Unit = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    props.setProperty("batchsize", batchSize.toString)
    df.write.mode("append").jdbc(url, table, props)
  }
}
