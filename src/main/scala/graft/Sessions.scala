package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration, shared by Verify,
  * Bench, and the test suites.
  *
  * - shuffle partitions sized to local cores (the 200 default is wrong for
  *   local mode; on a real cluster this is set per-deployment);
  * - AQE on: runtime coalescing, skew-join splitting, broadcast demotion;
  * - UTC session time zone (oracle parity — FIXTURES.md);
  * - `nanosAsLong`: the driver testdata's `events.ts` is parquet
  *   TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright
  *   ([PARQUET_TYPE_ILLEGAL]); reading it as a long and converting in
  *   [[graft.sources.Tables.events]] keeps the scan vectorized;
  * - the native kernels as SQL functions, from [[GraftExtensions]] — the
  *   same injection a stock cluster gets from `spark.sql.extensions`.
  */
object Sessions {
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Scale-adaptive shuffle width (guide §2.2/§5): START every shuffle
      // at 8× cores and let AQE coalesce down by actual bytes — AQE can
      // merge small partitions but can never SPLIT a too-coarse one
      // (except in skew joins), so a fixed `shuffle.partitions = cores`
      // forces multi-GB per-task aggregate state at the x100/x1000
      // corpora (measured: q65 x1000 spilled 49 GB mem / 13 GB disk per
      // run at 32 partitions; spill-free at 256). Small inputs coalesce
      // back to the same effective widths as before, so driver-SF plans
      // and bench numbers stay comparable; a deployment overrides via
      // SPARK_GRAFT_INITIAL_PARTITIONS (production guidance: ~2–3× total
      // executor cores, or input-bytes/64 MB, whichever is larger).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", (cores * 8).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Cores default to the whole machine (the deployment target is
    * local[32] — builder brief); `SPARK_GRAFT_CPUS` caps it for
    * reproducible smaller runs (the verify loop uses 8).
    */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkDecSumContract(spark)
    spark
  }

  /** [[graft.queries.decSumFast]] deployment guard: its codegen'd long
    * sum WRAPS SILENTLY past ~9.2·10^18 unscaled (≈10^12 rows of
    * 10^6-magnitude money per group) under non-ANSI arithmetic. A
    * deployment whose per-group volumes could approach that headroom
    * declares it with `spark.graft.decSumFast.beyondHeadroom=true`, and
    * session construction then REQUIRES `spark.sql.ansi.enabled` so an
    * overflow raises instead of corrupting results — the contract in
    * queries/package.scala, enforced rather than documented.
    */
  private[graft] def checkDecSumContract(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.graft.decSumFast.beyondHeadroom").contains("true"))
      require(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
        "decSumFast headroom contract: spark.graft.decSumFast.beyondHeadroom=true " +
          "requires spark.sql.ansi.enabled=true — past ~9.2e18 unscaled per group " +
          "the long sum wraps silently under non-ANSI arithmetic " +
          "(see graft.queries.decSumFast; use decSum to trade speed for headroom)")
}
