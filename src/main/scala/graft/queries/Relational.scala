package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The relational operator inventory of SURVEY.md §2, re-expressed over the
  * driver testdata so every operator has a DuckDB oracle.
  *
  * Each query is a pure `(SparkSession, sfDir) => DataFrame` transform —
  * the Spark analog of the reference's SQL metric functions
  * (reference src/metrics/queries.py:29–223). Declarative DataFrame plans
  * keep Catalyst in charge: filters/projections push into the parquet scan,
  * aggregates get partial (map-side) combine, joins pick broadcast vs
  * shuffled via AQE (SURVEY.md §4).
  *
  * Determinism rules for the oracle hash-compare (both sides identical):
  *  - double SUM/AVG go through exact decimal aggregation (see [[decSum]]);
  *  - divisions happen once on bit-identical doubles (IEEE-deterministic);
  *  - every output has a total ORDER BY; window orders carry a unique
  *    tiebreak column (SURVEY.md §7 "hard parts" #2).
  */
object Relational {

  /** Q1 — pricing summary (SURVEY A1/A6; reference queries.py:29–42 shape).
    * Scan + filter + group-agg with partial aggregation; the filter and the
    * 7-column projection push down into the parquet scan.
    */
  private val q01 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1999-12-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          decSumFast($"l_quantity").as("sum_qty"),
          decSumFast($"l_extendedprice").as("sum_base_price"),
          // scaled form of dec(18,4)·dec(8,4): k1·10⁻⁴ × m2·10⁻² with
          // both factors exact ≤2-decimal ints — the double product
          // (≤1.05·10¹¹ < 2⁵³) is exact per row; the SUM runs in
          // decimal(38,0), not long: the 10⁶-scaled products average
          // ~3.6·10¹⁰, so a long sum would hit the 9.2·10¹⁸ ceiling at
          // only ~2.5·10⁸ rows per group (TPC-H SF ≈ 100) — 100× below
          // decSumFast's plain-column headroom. The final ÷10⁶ decimal
          // division + double cast round once, matching the
          // decimal-product sum bit-for-bit
          (sum((round($"l_extendedprice" * 10000) *
              round((lit(1.0) - $"l_discount") * 100)).cast("long")
              .cast("decimal(38,0)"))
            / lit(1000000L))
            .cast("double").as("sum_disc_price"),
          decAvgFast($"l_quantity").as("avg_qty"),
          decAvgFast($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-12-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Q2 — threshold alert + top-N by time (SURVEY P2+T1; reference
    * consumer.py:90–98 speed rule + queries.py:45–58 alerts top-N).
    * Filter + orderBy + limit compiles to TakeOrderedAndProject: each
    * partition keeps only its local top-100 before the single-reduce merge,
    * so no full sort at 100 TB.
    */
  private val q02 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"value" > 150.0)
        .select(
          $"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
          $"event_type", $"value",
          concat(lit("ALERT user "), $"user_id",
            lit(" value "), round($"value", 0).cast("long")).as("alert_message"))
        .orderBy($"ts_us".desc, $"event_id")
        .limit(100)
    },
    oracle = Some("""
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value,
             'ALERT user ' || user_id || ' value ' || CAST(CAST(ROUND(value, 0) AS BIGINT) AS VARCHAR) AS alert_message
      FROM events
      WHERE value > 150.0
      ORDER BY ts_us DESC, event_id
      LIMIT 100"""))

  /** Q3 — per-customer order rollup via LEFT JOIN + COALESCE (SURVEY J1;
    * reference queries.py:103–110). The aggregated right side is small
    * relative to the dimension at any scale; AQE broadcasts it.
    */
  private val q03 = Q(
    fn = (s, d) => {
      import s.implicits._
      val byCust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"), decSumFast($"o_totalprice").as("total_spent"))
      Tables.customer(s, d)
        .join(byCust, $"c_custkey" === $"o_custkey", "left")
        .select($"c_custkey", $"c_name",
          coalesce($"n_orders", lit(0L)).as("n_orders"),
          coalesce($"total_spent", lit(0.0)).as("total_spent"))
        .orderBy($"c_custkey")
    },
    oracle = Some("""
      WITH by_cust AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_spent
        FROM orders GROUP BY o_custkey)
      SELECT c_custkey, c_name,
             COALESCE(n_orders, 0) AS n_orders,
             COALESCE(total_spent, 0.0) AS total_spent
      FROM customer LEFT JOIN by_cust ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  /** Q4 — revenue by region through the dimension chain (broadcast joins).
    * region(5) and nation(25) stay tiny at every scale factor: explicit
    * `broadcast()` keeps the fact-table scan shuffle-free on the dim side.
    */
  private val q04 = Q(
    fn = (s, d) => {
      import s.implicits._
      val dims = broadcast(
        Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey"))
      Tables.customer(s, d)
        .join(dims, $"c_nationkey" === $"n_nationkey")
        .join(Tables.orders(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_orders"), decSumFast($"o_totalprice").as("revenue"))
        .orderBy($"r_name")
    },
    oracle = Some("""
      SELECT r_name, COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN orders ON o_custkey = c_custkey
      GROUP BY r_name
      ORDER BY r_name"""))

  /** Q5 — latest row per key (SURVEY W1; reference queries.py:71–83
    * `DISTINCT ON (vehicle_id) ... ORDER BY time DESC`). Postgres breaks
    * ties by physical order; we declare `(ts DESC, event_id DESC)` as the
    * total order (SURVEY §7 #2). One shuffle on the partition key; at high
    * key cardinality `max_by(struct)` is the agg-side alternative.
    */
  private val q05 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type", $"value")
        .orderBy($"user_id")
    },
    oracle = Some("""
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
      ORDER BY user_id"""))

  /** Q101 — backward as-of join, full-row form ([[graft.operators
    * .AsofJoin]], round 8): purchase→view attribution where the matched
    * view's PAYLOAD (event id, value) travels with the join — the shape
    * q34's scalar-timestamp carry cannot express (kdb/QuestDB's `aj`,
    * Flink's temporal join; DuckDB runs its native ASOF LEFT JOIN as
    * the oracle). The reference side is deduped to one row per
    * (user_id, ts) — max event_id, the operator's determinism contract —
    * and left semantics keep purchases with no prior view (nulls). Plan:
    * one hash exchange per side + a per-partition sort — a sort-merge
    * join's exchange shape; no per-key loops, no range-join explosion.
    */
  private val q101 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val ref = ev.filter($"event_type" === "view")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)))
        .filter($"rn" === 1)
        .select($"user_id", $"ts",
          $"event_id".as("ref_event_id"), $"value".as("ref_value"))
      val probe = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      graft.operators.AsofJoin.asofJoin(probe, ref, "user_id", "ts")
        .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
          $"value",
          $"asof_ref_event_id".as("ref_event_id"),
          unix_micros($"asof_ts").as("ref_ts_us"),
          $"asof_ref_value".as("ref_value"),
          (unix_micros($"ts") - unix_micros($"asof_ts")).as("staleness_us"))
        .orderBy($"event_id")
    },
    oracle = Some("""
      WITH v AS (
        SELECT user_id, ts, event_id AS ref_event_id, value AS ref_value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'view')
        WHERE rn = 1
      ), p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
      )
      SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
             v.ref_event_id, epoch_us(v.ts) AS ref_ts_us, v.ref_value,
             epoch_us(p.ts) - epoch_us(v.ts) AS staleness_us
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY p.event_id"""))

  /** Q105 — two-dimensional box query over a Z-ORDERED store
    * ([[graft.sinks.Sinks.writeZOrdered]]): the events table clustered
    * along the Morton curve of (user_id, value) into range-disjoint
    * sorted files, queried with a selective box on BOTH columns. Day
    * partitioning (the store's default layout,
    * [[graft.sinks.Sinks.writePartitioned]]) prunes only time; the
    * clustered files carry tight min/max stats on both columns, so the
    * box's bounds push down to the parquet scan and skip the row groups
    * outside it (ZOrderSpec asserts both pushed bounds and the skipped
    * rows). The filter compares the native long `user_id`: a
    * `CAST(user_id AS DOUBLE)` bound would not push down. The layout is
    * an IndexCache artifact (built once per dataset per JVM, the PQ-index
    * pattern); the RESULT is layout-independent — the DuckDB oracle is
    * the plain box predicate on raw events (integer bounds, so the cast
    * there selects the same rows), and the hash match proves skipping
    * loses nothing. */
  private val q105 = Q(
    fn = (s, d) => {
      import s.implicits._
      val p = IndexCache.artifact("zorder", d) { path =>
        // 64 files: ~1.5k rows a file at sf0.1, so a box a few percent
        // of the plane wide still skips most of the store
        graft.sinks.Sinks.writeZOrdered(
          Tables.events(s, d)
            .select($"event_id", $"user_id", $"event_type", $"value"),
          path, Seq("user_id", "value"), nFiles = 64)
      }
      Tables.parquet(s, p)
        .filter($"user_id".between(40, 90) && $"value".between(100.0, 400.0))
        .orderBy($"event_id")
    },
    oracle = Some("""
      SELECT event_id, user_id, event_type, value
      FROM events
      WHERE CAST(user_id AS DOUBLE) BETWEEN 40 AND 90
        AND value BETWEEN 100.0 AND 400.0
      ORDER BY event_id"""))

  /** Q106 — declarative data-quality expectation audit
    * ([[graft.operators.Expectations]], round 8): the events stream's
    * admission contract evaluated set-oriented — the Deequ/dbt-test
    * pattern, and the batch generalization of the reference's per-record
    * `.get()`-with-default shape validation (consumer.py:90–123). The
    * contract is deliberately stricter than the data on two axes (value
    * capped at 450, membership without 'signup') so the audit shows real
    * violation counts alongside passing checks. All row-local checks
    * ride ONE aggregate pass; the uniqueness check is one key-count
    * aggregate on event_id. */
  private val q106 = Q(
    fn = (s, d) => {
      graft.operators.Expectations.suite
        .notNull("user_id")
        .notNull("event_type")
        .inRange("value", 0.0, 450.0)
        .isIn("event_type", Seq("click", "view", "purchase", "error"))
        .matches("props", "^\\{.*\\}$")
        .unique("event_id")
        .audit(Tables.events(s, d))
    },
    oracle = Some("""
      WITH v AS (
        SELECT 'not_null' AS c, 'user_id' AS col,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
        FROM events
        UNION ALL
        SELECT 'not_null', 'event_type',
               CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'in_range', 'value',
               CAST(SUM(CASE WHEN value IS NOT NULL
                              AND (value < 0.0 OR value > 450.0)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'is_in', 'event_type',
               CAST(SUM(CASE WHEN event_type IS NOT NULL
                              AND event_type NOT IN ('click','view','purchase','error')
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'matches', 'props',
               CAST(SUM(CASE WHEN props IS NOT NULL
                              AND NOT regexp_matches(props, '^\{.*\}$')
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'unique', 'event_id', CAST(COALESCE(SUM(n), 0) AS BIGINT)
        FROM (SELECT COUNT(*) AS n FROM events
              GROUP BY event_id HAVING COUNT(*) > 1)
      )
      SELECT c AS "check", col AS "column", n AS n_violations,
             n = 0 AS passed
      FROM v ORDER BY "check", "column""""))

  /** The funnel's three stage tables, shared by q109 (counts) and q111
    * (latency distribution): per user, first view; first click after
    * it; first purchase after that. Null users excluded up front:
    * countDistinct at stage 0 drops nulls while groupBy at later stages
    * would keep a null group — the asymmetry would make the funnel
    * non-monotone. */
  private def funnelTimes(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"event_type", $"ts")
      .filter($"user_id".isNotNull)
    val t1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val t2 = ev.filter($"event_type" === "click").join(t1, "user_id")
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val t3 = ev.filter($"event_type" === "purchase").join(t2, "user_id")
      .filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    (ev, t1, t2, t3)
  }

  /** Q165 — TIME-BUDGET funnel: q109's ordered view → click → purchase
    * with per-stage conversion deadlines (click within 1 h of the first
    * view; purchase within 24 h of that click) — the product form of
    * the funnel metric ("converted", unqualified, hides whether the
    * journey took a minute or a month; every growth dashboard reports
    * the budgeted variant alongside). Same min-based stage derivation
    * as q109 — each stage is the FIRST qualifying event inside its
    * budget window — so the whole query is three filtered joins + tiny
    * aggregations, no per-user loops, and the oracle replays it with
    * epoch-microsecond arithmetic (exact longs; the only doubles are
    * the final pct divisions over identical operands).
    */
  private val q165 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"user_id", $"event_type", $"ts")
        .filter($"user_id".isNotNull)
      val t1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val t2 = ev.filter($"event_type" === "click").join(t1, "user_id")
        .filter($"ts" > $"t1" &&
          unix_micros($"ts") - unix_micros($"t1") <= 3600000000L)
        .groupBy($"user_id").agg(min($"ts").as("t2"))
      val t3 = ev.filter($"event_type" === "purchase").join(t2, "user_id")
        .filter($"ts" > $"t2" &&
          unix_micros($"ts") - unix_micros($"t2") <= 86400000000L)
        .groupBy($"user_id").agg(min($"ts").as("t3"))
      val stages =
        ev.agg(countDistinct($"user_id").as("n_users"))
          .select(lit(0).as("stage_idx"), lit("any_activity").as("stage"), $"n_users")
        .unionByName(t1.agg(count(lit(1)).as("n_users"))
          .select(lit(1).as("stage_idx"), lit("view").as("stage"), $"n_users"))
        .unionByName(t2.agg(count(lit(1)).as("n_users"))
          .select(lit(2).as("stage_idx"), lit("click_within_1h").as("stage"), $"n_users"))
        .unionByName(t3.agg(count(lit(1)).as("n_users"))
          .select(lit(3).as("stage_idx"), lit("purchase_within_24h").as("stage"), $"n_users"))
      val w = Window.orderBy($"stage_idx")
      stages
        .withColumn("pct_of_prev",
          $"n_users".cast("double") / lag($"n_users", 1).over(w).cast("double"))
        .orderBy($"stage_idx")
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
      ), t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
      ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1
          AND epoch_us(e.ts) - epoch_us(t1.t1) <= 3600000000
        GROUP BY e.user_id
      ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          AND epoch_us(e.ts) - epoch_us(t2.t2) <= 86400000000
        GROUP BY e.user_id
      ), stages AS (
        SELECT 0 AS stage_idx, 'any_activity' AS stage,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ev
        UNION ALL
        SELECT 1, 'view', CAST(COUNT(*) AS BIGINT) FROM t1
        UNION ALL
        SELECT 2, 'click_within_1h', CAST(COUNT(*) AS BIGINT) FROM t2
        UNION ALL
        SELECT 3, 'purchase_within_24h', CAST(COUNT(*) AS BIGINT) FROM t3
      )
      SELECT stage_idx, stage, n_users,
             CAST(n_users AS DOUBLE)
               / CAST(LAG(n_users) OVER (ORDER BY stage_idx) AS DOUBLE)
               AS pct_of_prev
      FROM stages ORDER BY stage_idx"""))

  /** Q109 — ordered funnel analysis over the event stream: how many
    * users progress view → click → purchase IN ORDER (each stage's
    * event strictly after the previous stage's first occurrence) — the
    * classic conversion-funnel workload, absent from the inventory
    * until now (q35 sessionizes, q41 intersects cohorts; neither is
    * order-aware). Three stage aggregates, each one shuffle on
    * user_id: stage k's candidates join stage k−1's first-times and
    * keep only later events, so the funnel's ORDER constraint is an
    * equi-join + filter, never a per-user sort or UDF loop. The
    * summary attaches each stage's conversion vs the previous stage
    * with one 4-row window.
    */
  private val q109 = Q(
    fn = (s, d) => {
      import s.implicits._
      val (ev, t1, t2, t3) = funnelTimes(s, d)
      val stages =
        ev.agg(countDistinct($"user_id").as("n_users"))
          .select(lit(0).as("stage_idx"), lit("any_activity").as("stage"), $"n_users")
        .unionByName(t1.agg(count(lit(1)).as("n_users"))
          .select(lit(1).as("stage_idx"), lit("view").as("stage"), $"n_users"))
        .unionByName(t2.agg(count(lit(1)).as("n_users"))
          .select(lit(2).as("stage_idx"), lit("click_after_view").as("stage"), $"n_users"))
        .unionByName(t3.agg(count(lit(1)).as("n_users"))
          .select(lit(3).as("stage_idx"), lit("purchase_after_click").as("stage"), $"n_users"))
      val w = Window.orderBy($"stage_idx")
      stages
        .withColumn("pct_of_prev",
          $"n_users".cast("double") / lag($"n_users", 1).over(w).cast("double"))
        .orderBy($"stage_idx")
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
      ), t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
      ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1
        GROUP BY e.user_id
      ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        GROUP BY e.user_id
      ), stages AS (
        SELECT 0 AS stage_idx, 'any_activity' AS stage,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ev
        UNION ALL
        SELECT 1, 'view', CAST(COUNT(*) AS BIGINT) FROM t1
        UNION ALL
        SELECT 2, 'click_after_view', CAST(COUNT(*) AS BIGINT) FROM t2
        UNION ALL
        SELECT 3, 'purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM t3
      )
      SELECT stage_idx, stage, n_users,
             CAST(n_users AS DOUBLE)
               / CAST(LAG(n_users) OVER (ORDER BY stage_idx) AS DOUBLE)
               AS pct_of_prev
      FROM stages ORDER BY stage_idx"""))

  /** Q111 — conversion-latency distribution: for every user who
    * completes q109's ordered funnel, the time from FIRST VIEW to the
    * completing purchase, summarized as exact interpolated percentiles
    * (q36's `percentile`/`quantile_cont` parity device — sort-based
    * exact over identical doubles on both engines). The funnel tells
    * you HOW MANY convert; this tells you HOW LONG conversion takes —
    * the number an attribution window or a cache TTL is actually sized
    * from. Converters are the funnel's tip (≪ corpus), so the exact
    * single-group percentile buffer is bounded by construction — the
    * same documented contract as q36's per-type groups, with q36b's
    * sketch as the fallback if a deployment's converter set explodes.
    */
  private val q111 = Q(
    fn = (s, d) => {
      import s.implicits._
      val (_, t1, _, t3) = funnelTimes(s, d)
      t3.join(t1, "user_id")
        .select((unix_micros($"t3") - unix_micros($"t1"))
          .cast("double").as("lat_us"))
        .agg(count(lit(1)).as("n_converted"),
          min($"lat_us").cast("long").as("min_us"),
          percentile($"lat_us", lit(0.5)).as("p50_us"),
          percentile($"lat_us", lit(0.9)).as("p90_us"),
          max($"lat_us").cast("long").as("max_us"))
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
      ), t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
      ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e
        JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t1
        GROUP BY e.user_id
      ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e
        JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        GROUP BY e.user_id
      ), lat AS (
        SELECT CAST(epoch_us(t3.t3) - epoch_us(t1.t1) AS DOUBLE) AS lat_us
        FROM t3 JOIN t1 ON t1.user_id = t3.user_id
      )
      SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
             CAST(MIN(lat_us) AS BIGINT) AS min_us,
             quantile_cont(lat_us, 0.5) AS p50_us,
             quantile_cont(lat_us, 0.9) AS p90_us,
             CAST(MAX(lat_us) AS BIGINT) AS max_us
      FROM lat"""))

  /** Q110 — retention cohort matrix: users bucketed by first-activity
    * week (their cohort), each cohort's active-user count tracked at
    * every later week offset — the retention triangle behind every
    * engagement dashboard. Scale shape: the (user, week) activity grid
    * is distinct-collapsed map-side FIRST (one row per user-week, not
    * per event), the cohort assignment is one min-aggregate over it,
    * and the matrix is one count over the joined grid — output is
    * #cohorts × #offsets, weeks-squared bounded regardless of event
    * volume.
    */
  private val q110 = Q(
    fn = (s, d) => {
      import s.implicits._
      val activity = Tables.events(s, d)
        .select($"user_id", date_trunc("week", $"ts").as("wk"))
        .distinct()
      val cohort = activity.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
      activity.join(cohort, "user_id")
        .select($"cohort_wk",
          (datediff($"wk", $"cohort_wk") / lit(7)).cast("int").as("week_offset"))
        .groupBy($"cohort_wk", $"week_offset")
        .agg(count(lit(1)).as("n_users"))
        .select(unix_micros($"cohort_wk").as("cohort_week_us"),
          $"week_offset", $"n_users")
        .orderBy($"cohort_week_us", $"week_offset")
    },
    oracle = Some("""
      WITH activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      ), cohort AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM activity GROUP BY user_id
      )
      SELECT epoch_us(c.cohort_wk) AS cohort_week_us,
             CAST(date_diff('day', c.cohort_wk, a.wk) / 7 AS INT) AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM activity a JOIN cohort c ON c.user_id = a.user_id
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Q6 — distinct keys (SURVEY A7; reference queries.py:61–68). Partial
    * distinct happens map-side before the shuffle. At 100 TB the
    * approx_count_distinct variant (see Q9) avoids the full shuffle.
    */
  private val q06 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id").distinct()
        .orderBy($"user_id")
        .limit(200)
    },
    oracle = Some("""
      SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 200"""))

  /** Q7 — engagement-rate style conditional aggregation (SURVEY A6;
    * reference queries.py:207–223). The ratio divides bit-identical exact
    * integers once, so no rounding hazard.
    */
  private val q07 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("total_events"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("purchases"))
        .withColumn("purchase_pct", round(lit(100.0) * $"purchases" / $"total_events", 2))
        .orderBy($"user_id")
    },
    oracle = Some("""
      SELECT user_id, COUNT(*) AS total_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             ROUND(100.0 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / COUNT(*), 2) AS purchase_pct
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Q8 — km-per-intervention shape: two aggregates left-joined with a
    * CASE/NULLIF ratio guard (SURVEY J1+A2+A3+P9+P10; reference
    * queries.py:86–110). max-min and the single division are exact.
    */
  private val q08 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val rng = ev.groupBy($"user_id")
        .agg((max($"value") - min($"value")).as("value_range"))
      val err = ev.filter($"event_type" === "error")
        .groupBy($"user_id").agg(count(lit(1)).as("errors"))
      rng.join(err, Seq("user_id"), "left")
        .select($"user_id", $"value_range",
          coalesce($"errors", lit(0L)).as("errors"),
          when(coalesce($"errors", lit(0L)) > 0, $"value_range" / $"errors")
            .as("value_per_error"))
        .orderBy($"user_id")
    },
    oracle = Some("""
      WITH rng AS (
        SELECT user_id, MAX(value) - MIN(value) AS value_range FROM events GROUP BY user_id),
      err AS (
        SELECT user_id, COUNT(*) AS errors FROM events WHERE event_type = 'error' GROUP BY user_id)
      SELECT r.user_id, r.value_range,
             COALESCE(e.errors, 0) AS errors,
             CASE WHEN COALESCE(e.errors, 0) > 0 THEN r.value_range / e.errors ELSE NULL END AS value_per_error
      FROM rng r LEFT JOIN err e ON r.user_id = e.user_id
      ORDER BY r.user_id"""))

  /** Q9 — fleet-wide scalar combine (SURVEY A5+J2; reference
    * queries.py:190–204): two one-row aggregates cross-joined
    * (BroadcastNestedLoopJoin over single rows — negligible at any scale).
    */
  private val q09 = Q(
    fn = (s, d) => {
      import s.implicits._
      // the q36b gating pattern (round 11): the HLL estimate itself is
      // engine-specific and can't be hashed, but its GUARANTEE can —
      // the exact distinct rides along (one extra shuffle the sketch
      // exists to avoid at 100 TB; here it is the audit leg) and the
      // oracle pins |estimate − exact| ≤ 5%·exact as literal TRUE.
      // rsd 0.016 ≈ lgK 14 (q36c's precision), so the 5% bound is ~3σ
      // of a DETERMINISTIC estimator — fixed per dataset, verified at
      // all three SFs; a broken sketch fails the driver hash.
      // PRODUCTION NOTE: the exact countDistinct is GATE-TIME AUDIT
      // ONLY — a production call site at 100 TB uses the sketch column
      // alone (approx_count_distinct, no exact rider), because the
      // exact rider is precisely the global distinct shuffle the
      // sketch exists to avoid. The bench cost of this query prices
      // the audit, not the production plan.
      val ev = Tables.events(s, d)
      val tot = ev.agg(
        decSum($"value").as("total_value"),
        count(lit(1)).as("total_events"),
        countDistinct($"user_id").as("n_users"),
        approx_count_distinct($"user_id", 0.016).as("approx_users"))
      val key = ev.filter($"event_type".isin("error", "signup"))
        .agg(count(lit(1)).as("key_events"))
      tot.crossJoin(key)
        .select($"total_value", $"total_events", $"n_users", $"key_events",
          when($"key_events" > 0, $"total_value" / $"key_events")
            .as("value_per_key_event"),
          (abs($"approx_users" - $"n_users") <=
            greatest(lit(1L), ($"n_users" * 0.05).cast("long")))
            .as("users_estimate_ok"))
    },
    oracle = Some("""
      WITH tot AS (
        SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value,
               COUNT(*) AS total_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events),
      key_ev AS (
        SELECT COUNT(*) AS key_events FROM events
        WHERE event_type IN ('error', 'signup'))
      SELECT total_value, total_events, n_users, key_events,
             CASE WHEN key_events > 0
                  THEN total_value / key_events END AS value_per_key_event,
             TRUE AS users_estimate_ok
      FROM tot CROSS JOIN key_ev"""),
    doc = "1-row fleet summary; HLL distinct gated by its 5% contract against the exact rider")

  /** Q9b — exact variant of Q9 with a full oracle. */
  private val q09b = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val tot = ev.agg(
        decSum($"value").as("total_value"),
        count(lit(1)).as("total_events"),
        countDistinct($"user_id").as("n_users"))
      val key = ev.filter($"event_type".isin("error", "signup"))
        .agg(count(lit(1)).as("key_events"))
      tot.crossJoin(key)
        .select($"total_value", $"total_events", $"n_users", $"key_events",
          when($"key_events" > 0, $"total_value" / $"key_events")
            .as("value_per_key_event"))
    },
    oracle = Some("""
      WITH tot AS (
        SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value,
               COUNT(*) AS total_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events),
      key_ev AS (
        SELECT COUNT(*) AS key_events FROM events WHERE event_type IN ('error', 'signup'))
      SELECT total_value, total_events, n_users, key_events,
             CASE WHEN key_events > 0 THEN total_value / key_events ELSE NULL END AS value_per_key_event
      FROM tot, key_ev"""))

  /** Q10 — group shares via aggregate + broadcast grand total. The
    * SQL-natural form is an unpartitioned `SUM() OVER ()`; that runs over
    * only the 5 post-aggregation rows here, but an unpartitioned WindowExec
    * still plans a move-everything-to-one-partition step (and warns), so
    * the grand total is computed as a 1-row aggregate crossJoined back —
    * same q09b shape, same values, shuffle-free broadcast at any scale.
    */
  private val q10 = Q(
    fn = (s, d) => {
      import s.implicits._
      val byType = Tables.events(s, d)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), decSum($"value").as("total_value"))
      val grand = byType.agg(sum($"n").as("grand_n"))
      byType.crossJoin(broadcast(grand))
        .withColumn("share_pct", $"n" * lit(100.0) / $"grand_n")
        .drop("grand_n")
        .orderBy($"event_type")
    },
    oracle = Some("""
      SELECT event_type, n, total_value, n * 100.0 / SUM(n) OVER () AS share_pct
      FROM (SELECT event_type, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
            FROM events GROUP BY event_type)
      ORDER BY event_type"""))

  /** Q11 — per-user inter-event gap via lag window (natural extension of
    * SURVEY §2.5; per-segment odometer deltas in the telemetry domain).
    * Long-typed gap sum is exact; one double division at the end.
    */
  private val q11 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
        .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
        .filter($"gap_us".isNotNull)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_gaps"), sum($"gap_us").as("total_gap_us"))
        .withColumn("avg_gap_us", $"total_gap_us" / $"n_gaps")
        .orderBy($"user_id")
    },
    oracle = Some("""
      SELECT user_id, COUNT(*) AS n_gaps, CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
             SUM(gap_us) / COUNT(*) AS avg_gap_us
      FROM (SELECT user_id,
                   epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events)
      WHERE gap_us IS NOT NULL
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Q12 — ROLLUP over order status × priority (cheap extension flagged in
    * SURVEY §2.3). Grouping-set nulls are folded to 'ALL' to keep one
    * null-ordering contract across engines.
    */
  private val q12 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), decSumFast($"o_totalprice").as("total_price"))
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
          coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
          $"n_orders", $"total_price")
        .orderBy($"o_orderstatus", $"o_orderpriority")
    },
    oracle = Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus, o_orderpriority"""))

  /** Q13 — proximity self-pairing with per-key cap (SURVEY J3+T4; reference
    * opensky_source.py:101–143). Banded equi self-join + range predicate
    * + row_number cap 3, the declarative form of the reference's O(n²)
    * pair loop.
    *
    * Scale design: joining on nation alone (25 keys) materializes
    * (n/25)² candidate pairs per nation before the band filter — quadratic
    * per group. Instead each probe row explodes into its own acctbal band
    * (width 10 = the range radius) plus the two adjacent bands, and the
    * join key is `(nation, band)`: every |b1−b2|<10 pair still meets in
    * exactly one bucket (the build row's own band), candidate count is
    * ~linear in true matches, and join-key cardinality grows with the data
    * instead of being pinned at 25.
    */
  private val q13 = Q(
    fn = (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val band = floor($"c_acctbal" / 10.0).cast("long")
      val a = c.select($"c_custkey".as("c_custkey"), $"c_nationkey".as("nk"), $"c_acctbal".as("b1"),
        explode(array(band - 1, band, band + 1)).as("band"))
      val b = c.select($"c_custkey".as("other_custkey"), $"c_nationkey".as("nk"), $"c_acctbal".as("b2"),
        band.as("band"))
      val w = Window.partitionBy($"c_custkey").orderBy(abs($"b1" - $"b2"), $"other_custkey")
      a.join(b, Seq("nk", "band"))
        .filter($"c_custkey" =!= $"other_custkey" && abs($"b1" - $"b2") < 10.0)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_custkey", $"other_custkey", abs($"b1" - $"b2").as("bal_diff"))
        .orderBy($"c_custkey", $"other_custkey")
    },
    oracle = Some("""
      SELECT c_custkey, other_custkey, bal_diff
      FROM (SELECT a.c_custkey, b.c_custkey AS other_custkey,
                   ABS(a.c_acctbal - b.c_acctbal) AS bal_diff,
                   ROW_NUMBER() OVER (PARTITION BY a.c_custkey
                                      ORDER BY ABS(a.c_acctbal - b.c_acctbal), b.c_custkey) AS rn
            FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
            WHERE a.c_custkey <> b.c_custkey AND ABS(a.c_acctbal - b.c_acctbal) < 10.0)
      WHERE rn <= 3
      ORDER BY c_custkey, other_custkey"""))

  /** Q14 — shipping-priority 3-way join (TPC-H Q3 shape): selective dim
    * filter + fact join + group + top-10. The mktsegment filter pushes to
    * the customer scan; top-10 via TakeOrderedAndProject.
    */
  private val q14 = Q(
    fn = (s, d) => {
      import s.implicits._
      val cut = lit("1998-06-01").cast("timestamp")
      val c = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, d).filter($"o_orderdate" < cut)
      val l = Tables.lineitem(s, d).filter($"l_shipdate" > cut)
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg(sum($"l_extendedprice".cast("decimal(18,4)") *
          (lit(1.0) - $"l_discount").cast("decimal(8,4)"))
          .cast("double").as("revenue"))
        // o_orderdate scans as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false);
        // with the UTC session zone the cast to TIMESTAMP is an identity.
        .select($"l_orderkey", unix_micros($"o_orderdate".cast("timestamp")).as("o_orderdate_us"), $"revenue")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },
    oracle = Some("""
      SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  /** Q15 — anti join: customers with no big-ticket orders (NOT EXISTS).
    * The totalprice filter keeps the build side small and the result
    * non-empty at every scale factor.
    */
  private val q15 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter($"o_totalprice" > 300000.0),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .orderBy($"c_custkey")
    },
    oracle = Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      ORDER BY c_custkey"""))

  /** Q16 — semi join: suppliers with at least one high-quantity lineitem
    * (EXISTS). left_semi stops probing at first match; no fact-side blowup.
    */
  private val q16 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.supplier(s, d)
        .join(Tables.lineitem(s, d).filter($"l_quantity" >= 48.0),
          $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .orderBy($"s_suppkey")
    },
    oracle = Some("""
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 48.0)
      ORDER BY s_suppkey"""))

  /** Q40 — CUBE over order status × priority (the grouping-sets sibling
    * of q12's ROLLUP; SURVEY §2.3 flags cube as the natural extension).
    * Grouping-set nulls folded to 'ALL' as in q12.
    */
  private val q40 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), decSumFast($"o_totalprice").as("total_price"))
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
          coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
          $"n_orders", $"total_price")
        .orderBy($"o_orderstatus", $"o_orderpriority")
    },
    oracle = Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus, o_orderpriority"""))

  /** Q41 — set operations (SURVEY §2.7: absent in the reference; the
    * engine supports them): users who both viewed and purchased
    * (INTERSECT) tagged against users who viewed but never purchased
    * (EXCEPT), unioned into one labeled output.
    */
  private val q41 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val viewers = ev.filter($"event_type" === "view").select($"user_id").distinct()
      val buyers = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
      viewers.intersect(buyers).withColumn("cohort", lit("view_and_buy"))
        .unionByName(viewers.except(buyers).withColumn("cohort", lit("view_only")))
        .orderBy($"cohort", $"user_id")
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT user_id, 'view_and_buy' AS cohort FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        UNION ALL
        SELECT user_id, 'view_only' FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
      ORDER BY cohort, user_id"""))

  /** Q52 — PIVOT (wide reshape): per-user event counts and exact value
    * sums, one column pair per event type. The pivot values are declared
    * explicitly — with an inferred pivot Spark first runs a separate
    * distinct-scan job to discover them and the output column ORDER
    * depends on that scan; declared values cost zero extra jobs and pin
    * the schema, which is what a production pipeline wants at any scale.
    * Value sums route through decimal (see [[graft.queries.decSum]]) so
    * the wide cells are bit-stable under partial aggregation.
    */
  private val q52 = Q(
    fn = (s, d) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d)
        .groupBy($"user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)).as("n"), decSum($"value").as("val"))
        // fill only the pivoted measure cells (long *_n and double *_val):
        // an unscoped fill would also rewrite a NULL user_id group key to
        // 0, silently merging it with a real user 0
        .na.fill(0L, types.flatMap(t => Seq(s"${t}_n", s"${t}_val")))
        .orderBy($"user_id")
    },
    oracle = Some("""
      SELECT user_id,
        CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click_n,
        COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE), 0.0) AS click_val,
        CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error_n,
        COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE), 0.0) AS error_val,
        CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase_n,
        COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE), 0.0) AS purchase_val,
        CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup_n,
        COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE), 0.0) AS signup_val,
        CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view_n,
        COALESCE(CAST(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE), 0.0) AS view_val
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Q53 — statistical aggregates with EXACT moments: mean, sample
    * stddev, and corr(value, hour-of-day) per event type. Spark's builtin
    * stddev/corr accumulate floating moments whose value depends on
    * partition order — nondeterministic across runs and engines. Here
    * every moment (Σx, Σx², Σxy) is an exact decimal/integer sum (order-
    * independent, partial-agg safe); the closed-form combination into
    * mean/stddev/corr is a fixed sequence of IEEE double ops, so results
    * are bit-identical on any cluster layout and match DuckDB exactly.
    * Overflow headroom: Σx² sums decimal(38,8) — ~10^30 absolute, far
    * beyond 100 TB row counts at these magnitudes.
    */
  private val q53 = Q(
    fn = (s, d) => {
      import s.implicits._
      val x = $"value".cast("decimal(18,4)")
      val hr = hour($"ts")
      val m = Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"),
          sum((x * x).cast("decimal(38,8)")).as("sxx"),
          sum(hr.cast("long")).as("sy"),
          sum((hr * hr).cast("long")).as("syy"),
          sum((x * hr).cast("decimal(38,8)")).as("sxy"))
        .select($"event_type", $"n",
          $"sx".cast("double").as("sx"), $"sxx".cast("double").as("sxx"),
          $"sy".cast("double").as("sy"), $"syy".cast("double").as("syy"),
          $"sxy".cast("double").as("sxy"))
      m.select($"event_type", $"n",
          ($"sx" / $"n").as("mean_value"),
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") /
            ($"n".cast("double") * ($"n" - 1)))
            .as("stddev_value"),
          (($"n" * $"sxy" - $"sx" * $"sy") /
            (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
              sqrt($"n" * $"syy" - $"sy" * $"sy"))).as("corr_value_hour"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      WITH m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS sx,
          CAST(CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS sxx,
          CAST(CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS DOUBLE) AS sy,
          CAST(CAST(SUM(CAST(EXTRACT(hour FROM ts) * EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS DOUBLE) AS syy,
          CAST(CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * EXTRACT(hour FROM ts) AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS VARCHAR) AS DOUBLE) AS sxy
        FROM events GROUP BY event_type
      )
      SELECT event_type, n,
             sx / n AS mean_value,
             sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_value,
             (n * sxy - sx * sy) /
               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_value_hour
      FROM m ORDER BY event_type"""))

  /** Q54 — NTILE decile profiling: per event type, split values into 10
    * equal-frequency buckets and report each bucket's row count and exact
    * min/max bounds (the data-profiling shape behind quantile-bucketed
    * feature engineering). The window's ORDER BY carries `event_id` as a
    * unique tiebreak — without it, rows with equal `value` straddle
    * bucket boundaries in a nondeterministic order and the hash compare
    * is meaningless (SURVEY §5 determinism rule). min/max of doubles are
    * exact, so no decimal routing is needed.
    *
    * Scale note (stated, not hidden): NTILE partitions by event_type —
    * 5 groups — so each window sort lands on one reducer; exact
    * equal-frequency bucketing over a low-cardinality partition key is
    * inherently a per-group global sort. At 100 TB the same profiling
    * question is answered by q36b's mergeable quantile sketch
    * (approx_percentile boundaries, constant memory), with this exact
    * form reserved for bounded groups.
    */
  private val q54 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type", $"event_id", $"value")
        .withColumn("decile", ntile(10).over(
          Window.partitionBy($"event_type").orderBy($"value", $"event_id")))
        .groupBy($"event_type", $"decile")
        .agg(count(lit(1)).as("n"),
          min($"value").as("lo"), max($"value").as("hi"))
        .withColumn("decile", $"decile".cast("long"))
        .orderBy($"event_type", $"decile")
    },
    oracle = Some("""
      WITH t AS (
        SELECT event_type, value,
               NTILE(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events
      )
      SELECT event_type, decile, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(value) AS lo, MAX(value) AS hi
      FROM t GROUP BY event_type, decile
      ORDER BY event_type, decile"""))

  /** Q54b — the declared 100 TB sibling of q54 (the Scaladoc's promised
    * sketch path): decile profiling WITHOUT the per-group global sort.
    * `approx_percentile` computes the 9 interior decile boundaries per
    * event type as a mergeable quantile sketch (map-side combined,
    * constant memory per group); every row is then bucketed by counting
    * the broadcast boundaries strictly below its value — one scan, one
    * tiny broadcast, one partial-aggregated groupBy, no window anywhere.
    * The plan scales with rows, not with per-group cardinality.
    *
    * Sketch BOUNDARIES are engine-specific, so the per-bucket counts and
    * bounds can't be hashed against DuckDB — but the sketch's contract
    * can: every decile must exist (row-set = types × 1..10, any missing
    * bucket is a row-count mismatch), hold within 3% of n/10 (tie mass
    * in this data is ≤0.2% of any type; the sketch's own rank error is
    * 1/10000), and tile the value axis monotonically. The query emits
    * the exact per-type total (hash-oracled) plus those contract
    * booleans, which the oracle pins as literal TRUE — a sketch past
    * its guarantee flips a boolean and fails the driver hash (VERDICT
    * r10 item 4). The monotonicity lag-window runs over the ≤50-row
    * PROFILE, not the data — the data-side plan is unchanged: one scan,
    * one tiny broadcast, partial-aggregated groupBy, no window.
    */
  private val q54b = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_type", $"value")
      val bounds = ev
        .groupBy($"event_type")
        .agg(approx_percentile($"value",
          array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("bs"))
      val prof = ev
        .join(broadcast(bounds), Seq("event_type"))
        // decile = 1 + #boundaries strictly below the value (ties land in
        // the lower bucket); aggregate over the 9-element array stays in
        // the row — no explode, no join fan-out
        .withColumn("decile",
          (aggregate($"bs", lit(0),
            (acc, b) => acc + when($"value" > b, 1).otherwise(0)) + 1).cast("long"))
        .groupBy($"event_type", $"decile")
        .agg(count(lit(1)).as("nd"),
          min($"value").as("lo"), max($"value").as("hi"))
      val tot = prof.groupBy($"event_type").agg(sum($"nd").as("n"))
      prof.join(tot, Seq("event_type"))
        .withColumn("prev_hi", lag($"hi", 1).over(
          Window.partitionBy($"event_type").orderBy($"decile")))
        .select($"event_type", $"decile", $"n",
          (abs($"nd" - $"n" / 10.0) <= $"n" * 0.03).as("pop_ok"),
          (coalesce($"prev_hi" <= $"lo", lit(true)) && $"lo" <= $"hi")
            .as("mono_ok"))
        .orderBy($"event_type", $"decile")
    },
    oracle = Some("""
      WITH t AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
      )
      SELECT t.event_type, CAST(r.range + 1 AS BIGINT) AS decile, t.n,
             TRUE AS pop_ok, TRUE AS mono_ok
      FROM t, range(10) r
      ORDER BY event_type, decile"""))

  /** Q57 — ranking-function family beyond row_number/ntile: suppliers
    * ranked by exact revenue within their nation using `rank` (gaps on
    * ties), `dense_rank` (no gaps), and `percent_rank` (= (rank-1)/(n-1),
    * exact ints divided once — deterministic cross-engine). Revenue
    * routes through decimal so ties (and therefore all three rank
    * columns) are exact, not float-accidental.
    *
    * percent_rank is computed ARITHMETICALLY — (rank−1)/(n_nation−1)
    * from a per-nation count join — not with the builtin window
    * function: Catalyst's InferWindowGroupLimit only fires when every
    * expression over the window is rank/dense_rank/row_number, so a
    * percent_rank in the same window silently turns the top-5 filter
    * into a full per-partition sort (verified on this Spark build).
    * With rank-only windows the plan keeps WindowGroupLimit (top-k
    * pruning before the sort), and the arithmetic form is the
    * definition of percent_rank, bit-identical on exact ints.
    */
  private val q57 = Q(
    fn = (s, d) => {
      import s.implicits._
      val rev = Tables.lineitem(s, d)
        .groupBy($"l_suppkey")
        .agg(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
          .cast("decimal(18,4)")).as("revenue"))
      val sup = Tables.supplier(s, d).select($"s_suppkey", $"s_name", $"s_nationkey")
      val joined = sup.join(rev, $"s_suppkey" === $"l_suppkey")
      val perNation = joined.groupBy($"s_nationkey").agg(count(lit(1)).as("n_nat"))
      // no unique tiebreak in the WINDOW order: equal revenues must
      // share a rank (that's what rank/dense_rank demonstrate) — rank
      // values are deterministic under ties, and the unique final
      // ORDER BY keeps the output row order stable
      val w = Window.partitionBy($"s_nationkey").orderBy($"revenue".desc)
      joined
        .withColumn("rnk", rank().over(w))
        .withColumn("dense_rnk", dense_rank().over(w))
        .filter($"rnk" <= 5)
        .join(broadcast(perNation), Seq("s_nationkey"))
        .withColumn("pct_rnk",
          when($"n_nat" === 1, lit(0.0))
            .otherwise(($"rnk" - 1).cast("double") / ($"n_nat" - 1)))
        .select($"s_nationkey", $"s_suppkey", $"s_name",
          $"revenue".cast("double").as("revenue"),
          $"rnk".cast("long").as("rnk"),
          $"dense_rnk".cast("long").as("dense_rnk"), $"pct_rnk")
        .orderBy($"s_nationkey", $"rnk", $"s_suppkey")
    },
    oracle = Some("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue
        FROM lineitem GROUP BY l_suppkey
      ), joined AS (
        SELECT s_nationkey, s_suppkey, s_name, revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
      ), per_nation AS (
        SELECT s_nationkey, COUNT(*) AS n_nat FROM joined GROUP BY s_nationkey
      ), ranked AS (
        SELECT s_nationkey, s_suppkey, s_name, revenue,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS dense_rnk
        FROM joined
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY revenue DESC)
      )
      SELECT s_nationkey, s_suppkey, s_name,
             CAST(CAST(revenue AS VARCHAR) AS DOUBLE) AS revenue,
             rnk, dense_rnk,
             CASE WHEN n_nat = 1 THEN 0.0
                  ELSE CAST(rnk - 1 AS DOUBLE) / (n_nat - 1) END AS pct_rnk
      FROM ranked JOIN per_nation USING (s_nationkey)
      WHERE rnk <= 5
      ORDER BY s_nationkey, rnk, s_suppkey"""))

  /** Q63 — data-quality conformance audit (the engine form of the
    * reference's infrastructure check, scripts/verify.py:13–119, and of
    * SURVEY §5's schema-assertion strategy): one long-format row per
    * check over the lineitem/orders pair — row count, null key count,
    * referential orphans (left ANTI join), duplicate primary keys,
    * domain-range violations. Each check is an independent aggregate
    * over one scan leg; the union is logical; the anti-join is the only
    * join and shuffles once on the key. This is the audit a 100 TB
    * ingest runs per partition-day before publishing it downstream.
    */
  private val q63 = Q(
    fn = (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      def check(name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.select(lit(name).as("check"), $"n".cast("long").as("n_bad"))
      // the three whole-table predicate checks fuse into ONE scan+agg
      // (unpivoted to long form with stack); only dup_pk (needs a keyed
      // agg) and orphans (needs the anti-join) keep their own legs —
      // 3 lineitem scans instead of 5
      // coalesce(sum, 0): on an EMPTY (or fully pruned) table sum() is
      // NULL and the audit would read "unknown" instead of "passing
      // zero violations" — the oracle COALESCEs the same two sums, and
      // Expectations.Suite.audit carries the identical guard
      val fused = li.agg(
          coalesce(sum(when($"l_orderkey".isNull || $"l_partkey".isNull || $"l_suppkey".isNull, 1L)
            .otherwise(0L)), lit(0L)).as("null_keys"),
          coalesce(sum(when($"l_quantity" < 1.0 || $"l_quantity" > 50.0, 1L).otherwise(0L)),
            lit(0L)).as("qty_domain"),
          count(lit(1)).as("rowcount"))
        .select(expr(
          "stack(3, 'null_keys', null_keys, 'qty_domain', qty_domain, 'rowcount', rowcount)")
          .as(Seq("check", "n_bad")))
        .select($"check", $"n_bad".cast("long").as("n_bad"))
      check("dup_pk", li.groupBy($"l_orderkey", $"l_linenumber")
          .agg(count(lit(1)).as("c")).filter($"c" > 1).agg(count(lit(1)).as("n")))
        .unionByName(check("orphans",
          li.join(ord, $"l_orderkey" === $"o_orderkey", "left_anti").agg(count(lit(1)).as("n"))))
        .unionByName(fused)
        .orderBy($"check")
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT 'dup_pk' AS check, CAST(COUNT(*) AS BIGINT) AS n_bad FROM (
          SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'null_keys', CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
                   OR l_suppkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        UNION ALL
        -- LEFT JOIN ... IS NULL, not NOT IN: a NULL l_orderkey must COUNT
        -- as an orphan (matching Spark's left_anti), and one NULL
        -- o_orderkey must not collapse the whole check to 0 via NOT IN's
        -- three-valued logic
        SELECT 'orphans', CAST(COUNT(*) AS BIGINT)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
        UNION ALL
        SELECT 'qty_domain', CAST(COALESCE(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'rowcount', CAST(COUNT(*) AS BIGINT) FROM lineitem)
      ORDER BY "check""""))

  /** Q115 — event-type co-occurrence lift (association-rule mining's
    * support/confidence/lift over the user×event-type basket; Agrawal &
    * Srikant, VLDB'94): which behaviors travel together across users —
    * the product-analytics question behind "do users who error also
    * purchase?", and the categorical sibling of q110's retention matrix.
    *
    * Scale shape: the (user, type) grid distinct-collapses map-side
    * FIRST (partial aggregation on a 2-column projection — the only pass
    * over raw events), so the self-join runs on ≤|types| rows per user,
    * never on the event stream; per-type supports and the user total are
    * |types|-row / 1-row broadcasts. All counts exact longs; lift and the
    * two confidences are single double divisions on identical operands,
    * so the oracle hashes bit-for-bit. Output is |types|²-bounded at any
    * event volume.
    */
  private val q115 = Q(
    fn = (s, d) => {
      import s.implicits._
      // materialized once: the grid feeds the user total, the per-type
      // supports AND both self-join sides — four subtrees that would
      // each replay the events scan + distinct exchange
      val ut = Tables.events(s, d)
        .select($"user_id", $"event_type").distinct().localCheckpoint()
      // countDistinct skips a NULL user (matching the oracle's
      // COUNT(DISTINCT) and q109's null-user contract); the null row may
      // still sit in `ut` but can never equi-join itself in either engine
      val tot = ut.agg(countDistinct($"user_id").as("n_users"))
      val nt = ut.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
      val pairs = ut.as("a").join(ut.as("b"), Seq("user_id"))
        .filter($"a.event_type" < $"b.event_type")
        .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(nt.select($"event_type".as("type_a"), $"n_t".as("n_a"))), Seq("type_a"))
        .join(broadcast(nt.select($"event_type".as("type_b"), $"n_t".as("n_b"))), Seq("type_b"))
        .crossJoin(broadcast(tot))
        .select($"type_a", $"type_b", $"n_ab", $"n_a", $"n_b",
          (($"n_ab" * $"n_users").cast("double")
            / ($"n_a" * $"n_b").cast("double")).as("lift"),
          ($"n_ab".cast("double") / $"n_a".cast("double")).as("conf_a_to_b"),
          ($"n_ab".cast("double") / $"n_b".cast("double")).as("conf_b_to_a"))
        .orderBy($"type_a", $"type_b")
    },
    oracle = Some("""
      WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
      ), tot AS (
        SELECT COUNT(DISTINCT user_id) AS n_users FROM ut
      ), nt AS (
        SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type
      ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_ab
        FROM ut a JOIN ut b ON a.user_id = b.user_id
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type)
      SELECT p.type_a, p.type_b, CAST(p.n_ab AS BIGINT) AS n_ab,
             CAST(na.n_t AS BIGINT) AS n_a, CAST(nb.n_t AS BIGINT) AS n_b,
             CAST(p.n_ab * t.n_users AS DOUBLE)
               / CAST(na.n_t * nb.n_t AS DOUBLE) AS lift,
             CAST(p.n_ab AS DOUBLE) / CAST(na.n_t AS DOUBLE) AS conf_a_to_b,
             CAST(p.n_ab AS DOUBLE) / CAST(nb.n_t AS DOUBLE) AS conf_b_to_a
      FROM pairs p
      JOIN nt na ON na.event_type = p.type_a
      JOIN nt nb ON nb.event_type = p.type_b
      CROSS JOIN tot t
      ORDER BY type_a, type_b"""))

  /** Q119 — key-skew audit: per join/aggregation key, the distribution
    * facts that predict shuffle behavior at scale — row count, distinct
    * keys, the hottest key's count and share, and the coefficient of
    * variation of per-key counts. The pre-flight behind every skew
    * decision this engine documents (salting, AQE skew-join, q13's
    * banding): a key with max_share ≫ 1/shuffle_partitions is a straggler
    * in waiting, and cnt_cv ≈ 0 means uniform keys where none of that
    * machinery is needed.
    *
    * Deliberately sort-free (the metric must be cheaper than the problem
    * it predicts): each audited key costs one map-side-combined count
    * aggregate over its column plus a single-row fold of the count table.
    * cv comes from the closed form cv² = K·Σc²/N² − 1 — Σc² is exact
    * (per-row decimal/HUGEINT squares, no long wrap at any count), the
    * ratio is assembled in double after one correctly-rounded conversion
    * per factor (no decimal-precision cliff), then one division, one
    * subtraction and one IEEE sqrt on identical operands in both engines.
    * No global rank/Gini: those need a full sort of the count table,
    * which at 10⁹ keys is itself a skew hazard; max + cv carry the
    * actionable signal.
    */
  private val q119 = Q(
    fn = (s, d) => {
      import s.implicits._
      def audit(name: String, df: DataFrame, key: Column): DataFrame = {
        val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        // c is cast to decimal BEFORE squaring (a long×long c*c wraps
        // silently past c ≈ 3e9 — precisely the pathological hot key
        // this audit exists to flag); Σc² stays exact decimal/HUGEINT
        counts.agg(
            sum($"c").as("n_rows"),
            count(lit(1)).as("n_keys"),
            max($"c").as("max_cnt"),
            sum(($"c".cast("decimal(19,0)") * $"c".cast("decimal(19,0)")))
              .as("sumsq"))
          .select(lit(name).as("audited_key"),
            $"n_rows", $"n_keys", $"max_cnt",
            ($"max_cnt".cast("double") / $"n_rows".cast("double")).as("max_share"),
            // the K·Σc²/N² ratio is assembled in DOUBLE after one exact
            // (correctly-rounded) conversion per factor — a decimal
            // K·Σc² product would hit Spark's precision-38 cliff around
            // 10^38 and NULL out silently, inverting the signal via
            // greatest(NULL, 0); double products are deterministic and
            // identical in both engines at any magnitude. The ratio is
            // ≥ 1 − ε exactly (Cauchy–Schwarz), and below 2^53 the
            // conversions are exact so it rounds to ≥ 1.0; past that a
            // ulp could dip the difference under zero — the greatest()
            // keeps sqrt off NaN, identically in both engines
            sqrt(greatest(
              $"n_keys".cast("double") * $"sumsq".cast("double")
                / ($"n_rows".cast("double") * $"n_rows".cast("double"))
                - lit(1.0),
              lit(0.0))).as("cnt_cv"))
      }
      val ev = Tables.events(s, d)
      val li = Tables.lineitem(s, d)
      audit("events.user_id", ev, $"user_id")
        .unionByName(audit("events.event_type", ev, $"event_type"))
        .unionByName(audit("lineitem.l_orderkey", li, $"l_orderkey"))
        .unionByName(audit("lineitem.l_partkey", li, $"l_partkey"))
        .unionByName(audit("orders.o_custkey", Tables.orders(s, d), $"o_custkey"))
        .orderBy($"audited_key")
    },
    oracle = Some("""
      WITH a AS (
        SELECT 'events.user_id' AS audited_key, CAST(user_id AS VARCHAR) AS k
        FROM events
        UNION ALL
        SELECT 'events.event_type', event_type FROM events
        UNION ALL
        SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
        UNION ALL
        SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      ), counts AS (
        SELECT audited_key, k, COUNT(*) AS c FROM a GROUP BY audited_key, k)
      SELECT audited_key,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(c) AS BIGINT) AS max_cnt,
             CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS max_share,
             sqrt(GREATEST(CAST(COUNT(*) AS DOUBLE)
                 * CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
               / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
               - 1.0, 0.0)) AS cnt_cv
      FROM counts GROUP BY audited_key
      ORDER BY audited_key"""))

  /** Q124 — join-cardinality pre-flight: for each candidate join, the
    * EXACT output size and the hottest key's contribution, computed from
    * the two per-key count tables alone — what a cost-based optimizer
    * estimates from sampled stats, available exactly for the cost of two
    * count aggregates and a key-bounded join (never the join itself).
    * q119 profiles one key; this prices the PAIR: `out_rows` says
    * whether the join is materializable at all, `max_key_out` /
    * `max_key_share` say whether one key alone produces a straggler
    * partition (the AQE-skew-split / salting trigger). The events
    * self-join row prices the q115/q13-style self-pairing pattern.
    *
    * Exactness: per-key products and the total are decimal/HUGEINT
    * (no long wrap at any per-key count); outputs emit as BIGINT —
    * past 9.2e18 output rows the ANSI cast raises rather than wraps,
    * and a join that size is the answer "do not run this join" anyway.
    * max_key_share is the single double division.
    */
  private val q124 = Q(
    fn = (s, d) => {
      import s.implicits._
      def preflightCounts(name: String, lc: DataFrame, rc: DataFrame): DataFrame =
        lc.select($"k", $"c".as("cl")).join(rc.select($"k", $"c".as("cr")), Seq("k"))
          .select(($"cl".cast("decimal(19,0)") * $"cr".cast("decimal(19,0)"))
            .as("prod"))
          .agg(count(lit(1)).as("n_matched_keys"),
            sum($"prod").as("out"), max($"prod").as("mx"))
          // no-overlap joins emit NO row (matching the oracle's GROUP BY,
          // which has nothing to group) — not a null-filled zero row
          .filter($"n_matched_keys" > 0)
          .select(lit(name).as("join_name"),
            $"n_matched_keys",
            $"out".cast("long").as("out_rows"),
            $"mx".cast("long").as("max_key_out"),
            ($"mx".cast("double") / $"out".cast("double")).as("max_key_share"))
      def counts(df: DataFrame, k: Column): DataFrame =
        df.groupBy(k.as("k")).agg(count(lit(1)).as("c"))
      def preflight(name: String, l: DataFrame, lk: Column,
          r: DataFrame, rk: Column): DataFrame =
        preflightCounts(name, counts(l, lk), counts(r, rk))
      // the self-join side is ONE materialized count table joined to
      // itself — not two identical aggregates racing for exchange reuse
      val evCounts = counts(Tables.events(s, d), $"user_id").localCheckpoint()
      preflight("lineitem*orders",
          Tables.lineitem(s, d), $"l_orderkey", Tables.orders(s, d), $"o_orderkey")
        .unionByName(preflight("orders*customer",
          Tables.orders(s, d), $"o_custkey", Tables.customer(s, d), $"c_custkey"))
        .unionByName(preflight("lineitem*part",
          Tables.lineitem(s, d), $"l_partkey", Tables.part(s, d), $"p_partkey"))
        .unionByName(preflightCounts("events*events", evCounts, evCounts))
        .orderBy($"join_name")
    },
    oracle = Some("""
      WITH pairs AS (
        SELECT 'lineitem*orders' AS join_name,
               CAST(l.c AS HUGEINT) * o.c AS prod
        FROM (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1) l
        JOIN (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1) o
        USING (k)
        UNION ALL
        SELECT 'orders*customer', CAST(o.c AS HUGEINT) * cu.c
        FROM (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1) o
        JOIN (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1) cu
        USING (k)
        UNION ALL
        SELECT 'lineitem*part', CAST(l.c AS HUGEINT) * p.c
        FROM (SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1) l
        JOIN (SELECT p_partkey AS k, COUNT(*) AS c FROM part GROUP BY 1) p
        USING (k)
        UNION ALL
        SELECT 'events*events', CAST(a.c AS HUGEINT) * b.c
        FROM (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1) a
        JOIN (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1) b
        USING (k))
      SELECT join_name,
             CAST(COUNT(*) AS BIGINT) AS n_matched_keys,
             CAST(SUM(prod) AS BIGINT) AS out_rows,
             CAST(MAX(prod) AS BIGINT) AS max_key_out,
             CAST(MAX(prod) AS DOUBLE) / CAST(SUM(prod) AS DOUBLE)
               AS max_key_share
      FROM pairs GROUP BY join_name
      ORDER BY join_name"""))

  /** Q131 — Benford first-digit audit of order totals: the observed
    * leading-digit distribution of `o_totalprice` against Benford's law
    * (Newcomb 1881; Benford 1938; Nigrini's forensic-accounting
    * standard) — naturally-occurring multi-magnitude amounts follow
    * P(d) = log10(1 + 1/d), and a synthetic, capped, or fabricated
    * amount column visibly doesn't. The per-digit deviation is the
    * data-forensics sibling of q119's distribution audits; TPC-H prices
    * are uniform-ish by construction, so the emitted deviations are the
    * honest (large) answer, not a tuned zero.
    *
    * Exactness: the leading digit comes from the STRING of the exact
    * integer cents (`round(x·100)` — the decSumFast money contract;
    * long→string rendering is exact and identical in both engines, where
    * any floor(log10(x)) digit extraction would ride libm), shares are
    * single double divisions, and the Benford reference shares are
    * 10-decimal literals — identical parsed doubles on both sides, no
    * log10 call anywhere. One map-side digit count; 9-row output.
    */
  private val q131 = Q(
    fn = (s, d) => {
      import s.implicits._
      val benford = Seq(
        (1, 0.3010299957), (2, 0.1760912591), (3, 0.1249387366),
        (4, 0.0969100130), (5, 0.0791812460), (6, 0.0669467896),
        (7, 0.0579919470), (8, 0.0511525224), (9, 0.0457574906))
      val bf = s.createDataFrame(benford).toDF("digit", "benford_share")
      val obs = Tables.orders(s, d)
        .select(expr(
          "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)")
          .as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum($"n_obs").as("n_total"))
      // hint the RIGHT (buildable) side: the preserved side of a left
      // outer join can never be the hash-join build side, so hinting bf
      // was dead code that only logged HintErrorLogger warnings
      bf.join(broadcast(obs), Seq("digit"), "left")
        .na.fill(0L, Seq("n_obs"))
        .crossJoin(broadcast(tot))
        .select($"digit", $"n_obs",
          ($"n_obs".cast("double") / $"n_total".cast("double")).as("obs_share"),
          $"benford_share",
          (($"n_obs".cast("double") / $"n_total".cast("double"))
            - $"benford_share").as("deviation"))
        .orderBy($"digit")
    },
    oracle = Some("""
      WITH bf(digit, benford_share) AS (VALUES
        (1, 0.3010299957), (2, 0.1760912591), (3, 0.1249387366),
        (4, 0.0969100130), (5, 0.0791812460), (6, 0.0669467896),
        (7, 0.0579919470), (8, 0.0511525224), (9, 0.0457574906)
      ), obs AS (
        SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                 AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n_obs
        FROM orders GROUP BY 1
      ), tot AS (SELECT SUM(n_obs) AS n_total FROM obs)
      SELECT bf.digit,
             CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
             CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
               AS obs_share,
             CAST(bf.benford_share AS DOUBLE) AS benford_share,
             CAST(COALESCE(o.n_obs, 0) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
               - CAST(bf.benford_share AS DOUBLE) AS deviation
      FROM bf LEFT JOIN obs o ON o.digit = bf.digit
      CROSS JOIN tot t
      ORDER BY bf.digit"""))

  /** Q132 — RFM customer segmentation (Hughes 1994; the classic
    * marketing-analytics operator): each customer scored 1–5 on Recency
    * (last order date), Frequency (order count) and Monetary (lifetime
    * cents, exact), against the corpus's own exact quintile thresholds;
    * cells aggregated with an interpretable segment label (champion /
    * loyal / big_spender / at_risk / hibernating / regular — a
    * deterministic CASE chain, identical in both engines).
    *
    * Scale shape: one orders scan collapses to the customers-bounded RFM
    * table; the 12 thresholds are ONE single-group exact-percentile row
    * (q36's device — buffers the customer table's columns; at 10⁹+
    * customers swap in `approx_percentile`, the declared fallback),
    * broadcast back; scoring is a map-side projection (score = 1 + Σ
    * strictly-greater threshold crossings — interpolated thresholds make
    * ties impossible to land ON except at data points, and the > rule is
    * mirrored exactly); output ≤ 5³ cells.
    */
  private val q132 = Q(
    fn = (s, d) => {
      import s.implicits._
      val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
      val cust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(max(unix_micros($"o_orderdate".cast("timestamp"))).as("last_us"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon_c"))
      val th = cust.agg(
        percentile($"last_us", qs).as("tr"),
        percentile($"freq", qs).as("tf"),
        percentile($"mon_c", qs).as("tm"))
      def score(v: Column, t: Column): Column =
        (lit(1) + (0 to 3).map(i => when(v > t.getItem(i), 1).otherwise(0))
          .reduce(_ + _)).cast("long")
      cust.crossJoin(broadcast(th))
        .select(score($"last_us".cast("double"), $"tr").as("r_score"),
          score($"freq".cast("double"), $"tf").as("f_score"),
          score($"mon_c".cast("double"), $"tm").as("m_score"))
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_customers"))
        .withColumn("segment",
          when($"r_score" >= 4 && $"f_score" >= 4 && $"m_score" >= 4, "champion")
            .when($"f_score" >= 4, "loyal")
            .when($"m_score" === 5, "big_spender")
            .when($"r_score" <= 2 && $"f_score" >= 3, "at_risk")
            .when($"r_score" <= 2, "hibernating")
            .otherwise("regular"))
        .orderBy($"r_score", $"f_score", $"m_score")
    },
    oracle = Some("""
      WITH cust AS (
        SELECT o_custkey,
               CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
               COUNT(*) AS freq,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS mon_c
        FROM orders GROUP BY o_custkey
      ), th AS (
        SELECT quantile_cont(last_us, [0.2, 0.4, 0.6, 0.8]) AS tr,
               quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS tf,
               quantile_cont(mon_c, [0.2, 0.4, 0.6, 0.8]) AS tm
        FROM cust
      ), scored AS (
        SELECT
          CAST(1 + (CASE WHEN last_us > tr[1] THEN 1 ELSE 0 END)
                 + (CASE WHEN last_us > tr[2] THEN 1 ELSE 0 END)
                 + (CASE WHEN last_us > tr[3] THEN 1 ELSE 0 END)
                 + (CASE WHEN last_us > tr[4] THEN 1 ELSE 0 END) AS BIGINT)
            AS r_score,
          CAST(1 + (CASE WHEN freq > tf[1] THEN 1 ELSE 0 END)
                 + (CASE WHEN freq > tf[2] THEN 1 ELSE 0 END)
                 + (CASE WHEN freq > tf[3] THEN 1 ELSE 0 END)
                 + (CASE WHEN freq > tf[4] THEN 1 ELSE 0 END) AS BIGINT)
            AS f_score,
          CAST(1 + (CASE WHEN mon_c > tm[1] THEN 1 ELSE 0 END)
                 + (CASE WHEN mon_c > tm[2] THEN 1 ELSE 0 END)
                 + (CASE WHEN mon_c > tm[3] THEN 1 ELSE 0 END)
                 + (CASE WHEN mon_c > tm[4] THEN 1 ELSE 0 END) AS BIGINT)
            AS m_score
        FROM cust CROSS JOIN th)
      SELECT r_score, f_score, m_score,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CASE
               WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
               WHEN f_score >= 4 THEN 'loyal'
               WHEN m_score = 5 THEN 'big_spender'
               WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
               WHEN r_score <= 2 THEN 'hibernating'
               ELSE 'regular' END AS segment
      FROM scored
      GROUP BY r_score, f_score, m_score
      ORDER BY r_score, f_score, m_score"""))

  val all: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01,
    "q02_threshold_alerts_topn" -> q02,
    "q03_orders_per_customer" -> q03,
    "q04_revenue_by_region" -> q04,
    "q05_latest_event_per_user" -> q05,
    "q101_asof_attribution" -> q101,
    "q105_zorder_box" -> q105,
    "q106_expectation_audit" -> q106,
    "q109_funnel" -> q109,
    "q165_funnel_time_budget" -> q165,
    "q110_retention_cohorts" -> q110,
    "q111_conversion_latency" -> q111,
    "q115_event_cooccurrence_lift" -> q115,
    "q119_key_skew_audit" -> q119,
    "q124_join_preflight" -> q124,
    "q131_benford_audit" -> q131,
    "q132_rfm_segments" -> q132,
    "q06_distinct_users" -> q06,
    "q07_engagement_rate" -> q07,
    "q08_value_per_error" -> q08,
    "q09_fleet_summary_approx" -> q09,
    "q09b_fleet_summary_exact" -> q09b,
    "q10_event_type_share" -> q10,
    "q11_user_event_gaps" -> q11,
    "q12_orders_rollup" -> q12,
    "q13_proximity_pairs" -> q13,
    "q14_shipping_priority" -> q14,
    "q15_customers_no_orders" -> q15,
    "q16_high_qty_suppliers" -> q16,
    "q40_orders_cube" -> q40,
    "q41_cohort_set_ops" -> q41,
    "q52_event_pivot" -> q52,
    "q53_exact_moments" -> q53,
    "q54_value_deciles" -> q54,
    "q54b_value_deciles_approx" -> q54b,
    "q57_supplier_rank" -> q57,
    "q63_qc_audit" -> q63,
  )
}
