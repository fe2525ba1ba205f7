package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object queries {

  /** A declared engine query: the Spark transform plus (optionally) the
    * equivalent ANSI SQL the driver runs in DuckDB as a correctness oracle.
    * Queries without SQL-expressible semantics (e.g. LSH bucketing with
    * engine-side randomness) omit `oracle` and get a rows-only check.
    */
  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      doc: String = "")

  /** Exact, order-independent double aggregation.
    *
    * Double sums are non-associative: Spark's partial/final aggregation over
    * 32 shuffle partitions and DuckDB's single-threaded fold would disagree
    * in the last ulps, breaking the driver's hash compare. Routing the sum
    * through a fixed-scale decimal makes addition exact and associative on
    * both engines; the single final cast back to double is deterministic.
    * Oracle-side equivalent:
    * `CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)` —
    * the VARCHAR bridge matters: DuckDB's direct decimal→double cast
    * double-rounds (int128→double, then ÷10^scale), landing one ulp off
    * the correctly-rounded value Spark's BigDecimal.doubleValue produces;
    * its string→double parse is correctly rounded.
    *
    * Overflow headroom: `sum(decimal(18,4))` widens to decimal(28,4) —
    * ~10^24 absolute headroom, i.e. ~10^12 rows of 10^12-magnitude values
    * before overflow. With ANSI on (Spark 4 default) an overflow raises
    * rather than silently nulling; if a 100 TB deployment ever trips it,
    * widen the cast (decimal(30,4) sums to 38,4) rather than disabling
    * ANSI.
    */
  def decSum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact mean: exact decimal sum, one deterministic double division. */
  def decAvg(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double") / count(c)

  /** [[decSum]] at long-sum speed, for columns CONTRACTED to at most 4
    * decimal digits (TPC-H money/quantity/discount: decimal(15,2) by
    * spec). `sum(decimal(18,4))` widens to decimal(28,4), past Spark's
    * compact-long range, so every row update boxes a BigDecimal; here
    * each value becomes its exact unscaled long (`round(x*10000)` — for a
    * k/100 double the product sits within ε·10⁴ ≪ 0.5 of the integer, so
    * the round recovers exactly what the decimal cast produces), the
    * aggregation is one codegen'd long sum, and ONLY the final row per
    * group pays a decimal op: unscaled/10⁴ as an exact decimal division
    * (result scale 6 ≥ 4, so no rounding), then one correctly-rounded
    * cast to double — bit-identical to [[decSum]] by construction.
    *
    * NOT for arbitrary doubles (a 5th decimal digit ties differently than
    * BigDecimal HALF_UP) — events.value stays on [[decSum]]. Overflow
    * headroom: 9.2·10¹⁸ unscaled = ~10¹² rows of 10⁶-magnitude money per
    * GROUP. Past that the long sum WRAPS SILENTLY under Spark's default
    * non-ANSI arithmetic — only `spark.sql.ansi.enabled=true` turns the
    * wrap into an error. Deployments whose per-group row counts could
    * approach the headroom must either run ANSI or use [[decSum]]; this
    * engine's call sites (TPC-H money at ≤10⁹ rows/group even at 100 TB)
    * sit ≥3 orders of magnitude inside it.
    */
  def decSumFast(c: Column): Column =
    (sum(round(c * 10000).cast("long")).cast("decimal(38,0)") / lit(10000L))
      .cast("double")

  /** [[decAvg]]'s fast twin under the same ≤4-decimal contract. */
  def decAvgFast(c: Column): Column =
    decSumFast(c) / count(c)

  /** Per-JVM on-disk home for cached index artifacts (PQ codebooks,
    * MinHash band indexes, vec-dedup indexes): deterministic training +
    * a fresh per-process temp dir means one JVM never trains the same
    * index twice and can never read a stale artifact from an earlier
    * process; parquet (not in-memory DataFrames) so dev sweeps that
    * unpersist every cached RDD can't invalidate it. Swept recursively
    * on JVM exit (deleteOnExit only removes empty dirs). */
  private[graft] object IndexCache {
    lazy val root: java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory("graft_idx_cache")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(q => java.nio.file.Files.deleteIfExists(q))
        catch { case _: Exception => () } // best-effort cleanup
      }))
      p
    }
    private val seq = new java.util.concurrent.atomic.AtomicInteger()
    private val paths = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[String]]()

    /** Cumulative build seconds per artifact family, summed over every
      * build this JVM ran — the train/serve split Bench reports so a
      * fresh deployment's one-time artifact cost is visible separately
      * from steady per-query cost. */
    private val buildSecs =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    private[graft] def buildSeconds: Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    }

    /** Dataset-dir cache-key component: canonical path PLUS a content
      * fingerprint (every file's relative path, length and mtime,
      * md5-folded). [[artifact]] keys on this instead of the bare path
      * so a rewrite of the data AT THE SAME PATH within a JVM's
      * lifetime (dev loops, test fixtures, re-materialized snapshots)
      * can never be served a stale index — the fingerprint changes, the
      * key changes, the artifact rebuilds. Driver-local directory walk:
      * O(files), no data read. */
    private def dataKey(d: String): String = {
      val base = new java.io.File(d).getCanonicalFile
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).fold(Seq.empty[java.io.File])(
            _.toSeq.sortBy(_.getName).flatMap(walk))
        else Seq(f)
      val sig = walk(base)
        .map(f => s"${f.getPath}|${f.length}|${f.lastModified}")
        .mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8"))
      base.getPath + "@" + md.take(6).map("%02x".format(_)).mkString
    }

    /** The one way to a cached artifact: the path of `family`'s artifact
      * over data dir `dataDir` under `params`, built by `build` into a
      * fresh directory on first request (at most once per key per JVM).
      * The key is the family, the dir's content fingerprint ([[dataKey]])
      * and the params, so a rewrite of the dir or a change of params
      * builds anew; the build seconds accrue under `family`
      * ([[buildSeconds]]). The build runs OUTSIDE the map's
      * `computeIfAbsent` — a per-key memoized future claims the slot in
      * O(1), so a multi-minute Spark-job build never holds a
      * ConcurrentHashMap bin lock and unrelated keys that hash to the
      * same bin resolve concurrently; losers of the claim race (and later
      * callers) block on the future only. A failed build removes its
      * future, and a waiter that observes the failure clears the slot and
      * re-enters the claim race to attempt its own build — matching
      * `computeIfAbsent`'s waiter-retry semantics — instead of replaying
      * the winner's cached exception. */
    def artifact(family: String, dataDir: String, params: Any*)(
        build: String => Unit): String = {
      val key = (family +: dataKey(dataDir) +: params.map(_.toString)).mkString("|")
      while (true) {
        val mine = new java.util.concurrent.CompletableFuture[String]()
        val won = paths.putIfAbsent(key, mine)
        if (won == null) {
          try {
            val p = root.resolve(s"${family}_${seq.getAndIncrement()}").toString
            val t0 = System.nanoTime()
            build(p)
            buildSecs.merge(family, (System.nanoTime() - t0) / 1e9,
              (a, b) => a + b)
            mine.complete(p)
            return p
          } catch {
            case e: Throwable =>
              mine.completeExceptionally(e)
              paths.remove(key, mine)
              throw e
          }
        } else {
          try return won.join()
          catch {
            case _: java.util.concurrent.CompletionException =>
              // Winner's build failed. Its own remove may not have landed
              // yet; clear the slot (idempotent) and retry with our own
              // build. Each pass through here corresponds to one real
              // failed build, so a persistently failing build still
              // surfaces its exception to every caller (from their own
              // attempt), never an infinite spin.
              paths.remove(key, won)
          }
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }
}
