package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Advanced windowed operators beyond the reference's surface (SURVEY §2.5
  * lists only latest-per-key): frame-spec moving aggregates, an as-of
  * join, and gap-based sessionization — the time-series staples a
  * telemetry engine needs at scale. All single-shuffle-per-key window
  * plans; no self-joins.
  */
object Windowed {

  /** Time-bucket id by integer division TRUNCATING TOWARD ZERO —
    * empirically identical in Spark (`-7L div 2 = -3`) and DuckDB 1.0
    * (`-7 // 2 = -3`; its integer `//` truncates, it does NOT floor),
    * so bucketing hash-matches at any epoch. For pre-1970 timestamps
    * truncation merges the two half-buckets around zero — unusual as a
    * calendar but deterministic and engine-consistent; a
    * calendar-correct floor would need the SAME sign correction added
    * to BOTH engines' expressions, not one. Shared by q116/q120/q122/
    * q123 so the contract lives in one place.
    */
  private def bucketDiv(col: String, unitUs: Long) =
    expr(s"$col div ${unitUs}L")

  /** Q33 — moving aggregates over a ROWS frame (4-row trailing window).
    * The average routes through an exact decimal sum so the frame
    * aggregation is order-insensitive and bit-identical across engines
    * (incremental frame update vs recompute would otherwise diverge in
    * last ulps).
    */
  private val q33 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        .rowsBetween(-3, Window.currentRow)
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
        .withColumn("mov_n", count(lit(1)).over(w))
        .withColumn("mov_avg",
          sum($"value".cast("decimal(18,4)")).over(w).cast("double") / $"mov_n")
        .withColumn("mov_max", max($"value").over(w))
        .select($"user_id", $"event_id", $"ts_us", $"value",
          $"mov_n", $"mov_avg", $"mov_max")
        .orderBy($"user_id", $"ts_us", $"event_id")
    },
    oracle = Some("""
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             COUNT(*) OVER w AS mov_n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER w AS mov_avg,
             MAX(value) OVER w AS mov_max
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_us, event_id"""))

  /** Q34 — as-of join, scalar form: for every purchase, the most recent
    * view TIMESTAMP at or before it per user. Since round 8 this rides
    * the generic [[graft.operators.AsofJoin]] operator (union +
    * running-last sweep: one shuffle per side, linear partition scan —
    * no range self-join); the reference side is the distinct (user, ts)
    * view instants, satisfying the operator's (key, time)-uniqueness
    * contract while leaving the declared output unchanged. q101 is the
    * full-row-payload sibling (the matched event's id and value travel
    * with the join). DuckDB's native ASOF LEFT JOIN is the oracle.
    */
  private val q34 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"event_type")
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"ts_us").distinct()
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_us")
      graft.operators.AsofJoin.asofJoin(purchases, views, "user_id", "ts_us")
        .select($"user_id", $"event_id", $"ts_us",
          $"asof_ts_us".as("last_view_ts_us"),
          ($"ts_us" - $"asof_ts_us").as("since_view_us"))
        .orderBy($"user_id", $"ts_us", $"event_id")
    },
    oracle = Some("""
      SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
             epoch_us(v.ts) AS last_view_ts_us,
             epoch_us(p.ts) - epoch_us(v.ts) AS since_view_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND v.ts <= p.ts
      ORDER BY p.user_id, ts_us, p.event_id"""))

  /** Q35 — gap-based sessionization: a 30-minute silence starts a new
    * session; emit per-session aggregates. Session ids come from a
    * cumulative sum over the is-new flag — one window pass, then a
    * group-by; the standard scalable form (no iterative logic).
    */
  private val q35 = Q(
    fn = (s, d) => {
      import s.implicits._
      val gapUs = 30L * 60 * 1000000
      val order = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
        .withColumn("is_new",
          when(lag($"ts_us", 1).over(order).isNull ||
            $"ts_us" - lag($"ts_us", 1).over(order) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum($"is_new").over(running))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"ts_us").as("start_us"),
          max($"ts_us").as("end_us"),
          decSum($"value").as("session_value"))
        .withColumn("duration_us", $"end_us" - $"start_us")
        .orderBy($"user_id", $"session_id")
    },
    oracle = Some("""
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
                         OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ), sess AS (
        SELECT user_id, event_id, ts_us, value,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             CAST(MIN(ts_us) AS BIGINT) AS start_us,
             CAST(MAX(ts_us) AS BIGINT) AS end_us,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS session_value,
             CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
      FROM sess
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  /** Q36 — exact interpolated percentiles per group (`percentile` /
    * `quantile_cont`: sort-based exact, both engines interpolate
    * `lower + (upper-lower)*frac` over identical doubles).
    *
    * Scale note: exact percentile buffers each group's values in the
    * aggregation buffer — fine for bounded per-group cardinality (5 event
    * types here), a memory hazard for billions-per-group; the 100 TB form
    * is `approx_percentile` (t-digest sketch, mergeable map-side), whose
    * values are engine-specific — so the exact form carries the oracle and
    * q36b below is the runnable scale sibling.
    */
  private val q36 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          percentile($"value", lit(0.5)).as("p50"),
          percentile($"value", lit(0.9)).as("p90"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.9) AS p90
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q36b — the declared 100 TB path for q36: `approx_percentile`
    * (mergeable quantile sketch, map-side combined — constant memory per
    * group regardless of group cardinality, where exact `percentile`
    * buffers every value). Sketch VALUES are engine-specific, so they
    * can't be hashed against DuckDB — but the sketch's GUARANTEE can:
    * the returned element's exact rank must sit within the accuracy
    * bound of the target rank. The query emits the exact percentiles
    * (hash-oracled, quantile_cont both engines) plus one boolean per
    * sketch output — |rank(approx_pXX) − XX·n| within 1% of n (10× the
    * sketch's 1/10000 contract + tie slack; ties hold ≤0.2% of any
    * type's mass in this data) — which the oracle pins as literal TRUE.
    * A sketch that drifts past its guarantee flips the boolean and
    * fails the hash, so the approximate path is gated by the driver,
    * not rows-only (VERDICT r10 item 4). The rank audit is one extra
    * scan against the 5-row broadcast of sketch outputs.
    */
  private val q36b = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_type", $"value")
      val agg = ev.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        percentile($"value", lit(0.5)).as("p50"),
        percentile($"value", lit(0.9)).as("p90"),
        approx_percentile($"value", lit(0.5), lit(10000)).as("ap50"),
        approx_percentile($"value", lit(0.9), lit(10000)).as("ap90"))
      val ranks = ev
        .join(broadcast(agg.select($"event_type", $"ap50", $"ap90")),
          Seq("event_type"))
        .groupBy($"event_type").agg(
          sum(when($"value" <= $"ap50", 1L).otherwise(0L)).as("r50"),
          sum(when($"value" <= $"ap90", 1L).otherwise(0L)).as("r90"))
      agg.join(ranks, Seq("event_type"))
        .select($"event_type", $"n", $"p50", $"p90",
          (abs($"r50" - $"n" * 0.5) <= greatest(lit(2.0), $"n" / 100.0))
            .as("p50_rank_ok"),
          (abs($"r90" - $"n" * 0.9) <= greatest(lit(2.0), $"n" / 100.0))
            .as("p90_rank_ok"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.9) AS p90,
             TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q36c — MERGEABLE sketch materialization: per-day HLL sketches of the
    * user set, then a sketch-union roll-up per event type — the
    * incremental-distinct pattern that makes `self_driving_metrics`-style
    * tables maintainable at 100 TB: each day aggregates once into a
    * ~KB sketch row, and any later question ("distinct users this
    * quarter?") merges sketches without re-touching raw data. Spark's
    * Datasketches HLL (hll_sketch_agg / hll_union_agg) is map-side
    * combined and associative, so the daily and roll-up levels are the
    * same partial-aggregation machinery.
    *
    * Sketch bytes and estimates are engine-specific, but their CONTRACT
    * is hashable (the q36b/q09 gating pattern, round 11): the exact
    * distinct rides along (the audit leg — at 100 TB it is exactly the
    * shuffle the sketch path avoids) and the oracle pins n_days, the
    * exact count, and |union-estimate − exact| ≤ 5%·exact as literal
    * TRUE (lgK 14 ⇒ σ ≈ 0.8%, so 5% is ~6σ of a DETERMINISTIC
    * estimator — fixed per dataset, verified at all three SFs). A
    * sketch whose daily/merge machinery drifts fails the driver hash.
    */
  private val q36c = Q(
    fn = (s, d) => {
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"))
      val merged = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("approx_users"))
      val exact = Tables.events(s, d)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      merged.join(exact, Seq("event_type"))
        .select($"event_type", $"n_days", $"exact_users",
          (abs($"approx_users" - $"exact_users") <=
            greatest(lit(1L), ($"exact_users" * 0.05).cast("long")))
            .as("estimate_ok"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      SELECT event_type,
             CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             TRUE AS estimate_ok
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q37 — time-series similarity search (PAPERS.md: "Time Series
    * Similarity Search for Streaming Data in Distributed Systems",
    * EDBT 2019 shape): each entity's event stream is resampled to a
    * fixed-length profile (24 hour-of-day buckets of summed value), and
    * the query set finds its top-3 nearest profiles by squared euclidean
    * distance.
    *
    * The whole pipeline is exact int64 (decimal sums ×10^4 → integers, so
    * distances are exact) — no float anywhere, hash-stable by
    * construction. Queries broadcast against the profile corpus; profile
    * construction is one map-side-combined aggregation of the raw events.
    */
  private val q37 = Q(
    fn = (s, d) => {
      import s.implicits._
      val prof = Tables.events(s, d)
        .groupBy($"user_id", hour($"ts").as("h"))
        .agg((sum($"value".cast("decimal(18,4)")) * 10000).cast("long").as("q"))
      // materialized once (q120's grid localCheckpoint pattern): the
      // profile table feeds BOTH the broadcast query side and the corpus
      // join side — without it the events scan + hourly aggregation run
      // twice per evaluation. |users| rows of 24 longs — tiny at any SF
      val vecs = prof.groupBy($"user_id")
        .agg(map_from_entries(collect_list(struct($"h", $"q"))).as("m"))
        .select($"user_id",
          transform(sequence(lit(0), lit(23)),
            h => coalesce(element_at($"m", h), lit(0L))).as("vec"))
        .localCheckpoint()
      val queries = broadcast(vecs.filter($"user_id" % 50 === 0)
        .select($"user_id".as("query_id"), $"vec".as("qv")))
      val w = Window.partitionBy($"query_id").orderBy($"dist2", $"neighbor_id")
      vecs.join(queries, $"user_id" =!= $"query_id")
        .select($"query_id", $"user_id".as("neighbor_id"),
          aggregate(zip_with($"qv", $"vec", (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, v) => acc + v).as("dist2"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .orderBy($"query_id", $"rank")
    },
    oracle = Some("""
      WITH prof AS (
        SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS q
        FROM events GROUP BY 1, 2
      ), users AS (SELECT DISTINCT user_id FROM events),
      grid AS (
        SELECT u.user_id, t.h FROM users u, (SELECT CAST(UNNEST(generate_series(0,23)) AS INT) AS h) t
      ), dense AS (
        SELECT g.user_id, g.h, COALESCE(p.q, 0) AS q
        FROM grid g LEFT JOIN prof p ON g.user_id = p.user_id AND g.h = p.h
      ), dist AS (
        SELECT a.user_id AS query_id, b.user_id AS neighbor_id,
               SUM((a.q - b.q) * (a.q - b.q)) AS dist2
        FROM dense a JOIN dense b ON a.h = b.h
        WHERE a.user_id % 50 = 0 AND a.user_id <> b.user_id
        GROUP BY 1, 2
      )
      SELECT query_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
             CAST(rank AS INT) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dist2, neighbor_id) AS rank FROM dist)
      WHERE rank <= 3
      ORDER BY query_id, rank"""))

  /** Q55 — gap-fill resampling with linear interpolation: each user's
    * irregular event values are resampled onto a regular daily grid; each
    * grid point takes `v_prev + (v_next - v_prev) · Δt_frac` between its
    * two surrounding samples (only interior points emit — no
    * extrapolation). The classic time-series regularization step before
    * windowed feature extraction, absent from SQL engines as a builtin.
    *
    * Implementation is the sweep idiom (q34's as-of pattern, doubled):
    * union the grid rows with the sample rows, one window per user
    * ordered by (time, is_grid) — `last_value IGNORE NULLS` looking back
    * supplies the previous sample, `first_value IGNORE NULLS` looking
    * forward the next, so ONE shuffle on user_id serves every grid point;
    * no per-grid-point join, no range join. The global day range comes
    * from a 1-row agg broadcast (q09b pattern). Interpolation arithmetic
    * runs on exact epoch-micros longs cast to double (micros < 2^53 —
    * exact), so results are bit-identical across engines.
    */
  private val q55 = Q(
    fn = (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val span = ev.agg(to_date(min($"ts")).as("d0"), to_date(max($"ts")).as("d1"))
      val grid = ev.select($"user_id").distinct()
        .crossJoin(broadcast(span))
        .select($"user_id",
          explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
        .select($"user_id", $"day".cast("timestamp").as("gts"))
        .select($"user_id", unix_micros($"gts").as("t"),
          lit(null).cast("double").as("v"), lit(1).as("is_grid"), $"gts",
          lit(-1L).as("event_id"))
      val samples = ev.select($"user_id", unix_micros($"ts").as("t"),
        $"value".as("v"), lit(0).as("is_grid"), lit(null).cast("timestamp").as("gts"),
        $"event_id")
      // event_id completes the total order (SURVEY §5): two same-user
      // samples at an identical timestamp would otherwise make pv/nv
      // nondeterministic. Grid rows use -1, not null — Spark sorts nulls
      // first where DuckDB sorts them last, so a null tiebreak would
      // itself diverge.
      val w = Window.partitionBy($"user_id").orderBy($"t", $"is_grid", $"event_id")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      samples.unionByName(grid)
        .withColumn("pt", last(when($"is_grid" === 0, $"t"), ignoreNulls = true).over(back))
        .withColumn("pv", last($"v", ignoreNulls = true).over(back))
        .withColumn("nt", first(when($"is_grid" === 0, $"t"), ignoreNulls = true).over(fwd))
        .withColumn("nv", first($"v", ignoreNulls = true).over(fwd))
        .filter($"is_grid" === 1 && $"pt".isNotNull && $"nt".isNotNull)
        .withColumn("value", when($"nt" === $"pt", $"pv")
          .otherwise($"pv" + ($"nv" - $"pv") *
            (($"t" - $"pt").cast("double") / ($"nt" - $"pt").cast("double"))))
        .select($"user_id", $"gts".as("grid_ts"), $"value")
        .orderBy($"user_id", $"grid_ts")
    },
    oracle = Some("""
      WITH span AS (
        SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
      ), grid AS (
        SELECT u.user_id, CAST(g.day AS TIMESTAMP) AS gts
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN span
        CROSS JOIN LATERAL (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP),
                            CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS day) g
      ), unioned AS (
        SELECT user_id, epoch_us(ts) AS t, value AS v, 0 AS is_grid,
               CAST(NULL AS TIMESTAMP) AS gts, event_id
        FROM events
        UNION ALL
        SELECT user_id, epoch_us(gts) AS t, NULL AS v, 1 AS is_grid, gts,
               -1 AS event_id
        FROM grid
      ), swept AS (
        SELECT *,
          last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_grid, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
          last_value(v IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_grid, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_grid, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
          first_value(v IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY t, is_grid, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        FROM unioned
      )
      SELECT user_id, gts AS grid_ts,
             CASE WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
             END AS value
      FROM swept
      WHERE is_grid = 1 AND pt IS NOT NULL AND nt IS NOT NULL
      ORDER BY user_id, grid_ts"""))

  /** Q64 — SCD2 interval construction (slowly-changing-dimension
    * history): collapse each user's event stream into contiguous
    * [valid_from, valid_to) intervals of a tracked attribute (the value
    * band), `valid_to` = next interval's start, NULL while current — the
    * standard change-data-capture materialization an upsert-only store
    * (Sinks.upsertPartitioned keeps latest-wins) cannot answer
    * ("what was the state AT time t?"). Shape: one shuffle on user_id
    * serves the change-flag window, the per-segment aggregate, and the
    * lead window — no self-join, no range join.
    */
  private val q64 = Q(
    fn = (s, d) => {
      import s.implicits._
      val order = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val segs = Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          floor($"value" / 50.0).cast("long").as("band"))
        .withColumn("chg",
          when(lag($"band", 1).over(order).isNull ||
            $"band" =!= lag($"band", 1).over(order), 1L).otherwise(0L))
        .withColumn("seg", sum($"chg").over(running))
        .groupBy($"user_id", $"seg")
        .agg(first($"band").as("band"), min($"ts_us").as("valid_from_us"),
          count(lit(1)).as("n_events"))
      segs
        .withColumn("valid_to_us",
          lead($"valid_from_us", 1).over(Window.partitionBy($"user_id").orderBy($"seg")))
        .select($"user_id", $"seg", $"band", $"valid_from_us", $"valid_to_us", $"n_events")
        .orderBy($"user_id", $"seg")
    },
    oracle = Some("""
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(FLOOR(value / 50.0) AS BIGINT) AS band,
               CASE WHEN LAG(CAST(FLOOR(value / 50.0) AS BIGINT), 1) OVER w IS NULL
                      OR CAST(FLOOR(value / 50.0) AS BIGINT)
                         <> LAG(CAST(FLOOR(value / 50.0) AS BIGINT), 1) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ), segd AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
        FROM flagged
      ), segs AS (
        SELECT user_id, seg, ANY_VALUE(band) AS band,
               CAST(MIN(ts_us) AS BIGINT) AS valid_from_us,
               COUNT(*) AS n_events
        FROM segd GROUP BY user_id, seg
      )
      SELECT user_id, seg, band, valid_from_us,
             LEAD(valid_from_us, 1) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to_us,
             n_events
      FROM segs
      ORDER BY user_id, seg"""))

  /** Q58 — interval (range) join, the batch twin of the streaming
    * perception×telemetry join ([[graft.streaming.Pipeline
    * .perceptionTelemetryJoin]], whose ±tolerance semantics were
    * previously only spec-tested through the streaming runner): every
    * 'error' event paired with the same user's 'click' events within
    * ±4 hours.
    *
    * The range predicate executes as a BANDED EQUI-JOIN (q13's
    * de-quadratic idiom applied to time): both sides are keyed by
    * (user_id, floor(ts / tol)); the error side probes its own and both
    * adjacent bands, so every qualifying pair matches in EXACTLY one
    * band (the probe band equal to the click's single band — no dedup
    * pass needed) and the join is a plain shuffle equi-join with a
    * residual |Δt| filter. Never a per-user cross product: a user with a
    * year of history still only pairs rows band-by-band. The DuckDB
    * oracle is the raw range join, so the banding's exact equivalence to
    * the declarative form is hash-verified.
    */
  private val q58 = Q(
    fn = (s, d) => {
      import s.implicits._
      val tolUs = 4L * 3600 * 1000000
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type", $"value")
      val err = ev.filter($"event_type" === "error")
        .select($"user_id", $"event_id".as("err_id"), $"ts_us".as("err_us"),
          explode(array((-1 to 1).map(o => expr(s"ts_us div $tolUs") + o): _*)).as("band"))
      val clk = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("clk_id"), $"ts_us".as("clk_us"),
          $"value".as("clk_value"), expr(s"ts_us div $tolUs").as("band"))
      err.join(clk, Seq("user_id", "band"))
        .filter(abs($"clk_us" - $"err_us") <= tolUs)
        .select($"user_id", $"err_id", $"clk_id",
          ($"clk_us" - $"err_us").as("lag_us"), $"clk_value")
        .orderBy($"user_id", $"err_id", $"clk_id")
    },
    oracle = Some("""
      SELECT e.user_id, e.event_id AS err_id, c.event_id AS clk_id,
             CAST(epoch_us(c.ts) - epoch_us(e.ts) AS BIGINT) AS lag_us,
             c.value AS clk_value
      FROM events e
      JOIN events c ON e.user_id = c.user_id
       AND e.event_type = 'error' AND c.event_type = 'click'
       AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 14400000000
                              AND epoch_us(e.ts) + 14400000000
      ORDER BY e.user_id, err_id, clk_id"""))

  /** q112's fitted robust-location model: (event_type, med, mad), both
    * 5-row median tables materialized once. Shared by the batch query
    * and [[graft.streaming.Pipeline.runAnomalyGateStream]], so a stream
    * scores arriving events against EXACTLY the medians the batch audit
    * reports. */
  private[graft] def madModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
      .localCheckpoint()
    ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs($"value" - $"med"))
      .groupBy($"event_type")
      .agg(first($"med").as("med"), percentile($"adev", lit(0.5)).as("mad"))
      .localCheckpoint()
  }

  /** Score rows of (…, event_type, value) against a fitted (event_type,
    * med, mad) model — the shared scoring core of batch q112 and the
    * streaming gate. Emits only anomalies (score > threshold; MAD = 0
    * groups contract-excluded). */
  private[graft] def madScore(rows: DataFrame, model: DataFrame,
      threshold: Double = 3.5): DataFrame = {
    import rows.sparkSession.implicits._
    rows.join(broadcast(model), Seq("event_type"))
      .filter($"mad" > 0)
      .withColumn("adev", abs($"value" - $"med"))
      .withColumn("score", $"adev" / (lit(1.4826) * $"mad"))
      .filter($"score" > threshold)
  }

  /** Q112 — robust anomaly detection: per-group median/MAD z-score over
    * `events.value` (Iglewicz–Hoaglin modified z-score; Leys et al., J. Exp.
    * Soc. Psych. 2013 for why MAD beats mean/stddev on contaminated data —
    * a single extreme value shifts a mean-based z toward itself and masks
    * its own outlierness; the median pair is 50%-breakdown robust).
    *
    * Two exact interpolated medians (q36's `percentile`/`quantile_cont`
    * parity device): per-type median of `value`, then per-type median of
    * the absolute deviations (= MAD). Both 5-row results broadcast back;
    * the score `adev / (1.4826 · mad)` is one double multiply + divide on
    * identical operands in both engines, so the filter and ordering agree
    * bit-for-bit. Groups where MAD = 0 (more than half the values at the
    * median — no robust scale exists) are excluded by contract.
    *
    * Scale shape: three scans of events (the information-theoretic floor
    * without caching the corpus: one per median pass, one for the output
    * rows — both 5-row median tables are materialized once so no subtree
    * replays a pass), two bounded (|event_type|-row) broadcast joins, no
    * window over the full table. Exact `percentile` buffers per group —
    * fine for bounded group count with bounded values per group; at
    * unbounded per-group cardinality swap both medians for
    * `approx_percentile` (q36b's declared fallback — the score stays
    * identical in form, the cut line moves within sketch ε).
    */
  private val q112 = Q(
    fn = (s, d) => {
      import s.implicits._
      madScore(Tables.events(s, d).select($"event_id", $"event_type", $"value"),
          madModel(s, d))
        .select($"event_id", $"event_type", $"value", $"med", $"mad", $"score")
        .orderBy($"score".desc, $"event_id")
    },
    oracle = Some("""
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
      ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
      ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
             d.adev / (1.4826 * m.mad) AS score
      FROM dev d JOIN mad m USING (event_type)
      WHERE m.mad > 0 AND d.adev / (1.4826 * m.mad) > 3.5
      ORDER BY score DESC, event_id"""))

  /** Q113 — per-user value trend: least-squares slope of `value` against
    * event time, surfacing the steepest-declining users (the engagement /
    * battery-drain trend question; the reference's dashboard plots exactly
    * this curve per vehicle, visualization/dashboard.py:60–189 — here as a
    * set-oriented ranking instead of a chart).
    *
    * q97's fixed-point closed-form device, adapted to time series:
    * x = whole seconds since the USER'S first event (slope is invariant
    * under per-group x-translation, so the anchor costs one window min
    * over the same user_id partitioning the aggregate needs — Catalyst
    * reuses the exchange), y = value quantized to 1e-4 units. Every
    * regression sum is exact (per-row products bounded: x ≤ 3.2e7 for a
    * year-long history, yq ≤ 5e9 for 1e5-magnitude values ⇒ x·yq ≤ 1.6e17
    * inside long; sums routed through decimal(20,0)→(30,0) in Spark and
    * HUGEINT in DuckDB — no wrap at any corpus size). The closed form
    * n·Σxy − Σx·Σy / n·Σxx − (Σx)² is evaluated in exact decimal, each
    * side cast once to double (DuckDB via the VARCHAR bridge — its direct
    * HUGEINT→DOUBLE cast is correctly rounded but the bridge removes the
    * doubt), and the single division + the 8.64 unit fold (86400 s/day ÷
    * 1e4 quantization) run on identical doubles in both engines.
    *
    * Degenerate fits are contract-excluded: n < 3 (no meaningful trend)
    * and zero x-variance (all events in the same second).
    */
  private val q113 = Q(
    fn = (s, d) => {
      import s.implicits._
      val xs = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"),
          expr("CAST(round(value * 10000) AS BIGINT)").as("yq"))
        .withColumn("x", expr("(ts_us - min(ts_us) OVER (PARTITION BY user_id)) div 1000000"))
      val fit = xs.groupBy($"user_id").agg(
        count(lit(1)).as("n"),
        sum($"x".cast("decimal(20,0)")).as("sx"),
        sum($"yq".cast("decimal(20,0)")).as("sy"),
        sum(($"x" * $"yq").cast("decimal(20,0)")).as("sxy"),
        sum(($"x" * $"x").cast("decimal(20,0)")).as("sxx"))
      val nDec = $"n".cast("decimal(20,0)")
      fit
        .withColumn("num", nDec * $"sxy" - $"sx" * $"sy")
        .withColumn("den", nDec * $"sxx" - $"sx" * $"sx")
        .filter($"n" >= 3 && $"den" =!= 0)
        .select($"user_id", $"n".as("n_events"),
          ($"num".cast("double") / $"den".cast("double") * lit(8.64))
            .as("slope_per_day"))
        .orderBy($"slope_per_day".asc, $"user_id")
        .limit(50)
    },
    oracle = Some("""
      WITH base AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(round(value * 10000) AS BIGINT) AS yq
        FROM events
      ), xs AS (
        SELECT user_id,
               (ts_us - MIN(ts_us) OVER (PARTITION BY user_id)) // 1000000 AS x,
               yq
        FROM base
      ), fit AS (
        SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(yq) AS sy,
               SUM(x*yq) AS sxy, SUM(x*x) AS sxx
        FROM xs GROUP BY user_id
        HAVING COUNT(*) >= 3
           AND COUNT(*)*SUM(x*x) - SUM(x)*SUM(x) <> 0)
      SELECT user_id, CAST(n AS BIGINT) AS n_events,
             CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) * 8.64
               AS slope_per_day
      FROM fit
      ORDER BY slope_per_day ASC, user_id
      LIMIT 50"""))

  /** Q116 — OHLC bar downsampling: per event type, 6-hour bars carrying
    * open/high/low/close of `value` plus count and exact sum — the
    * canonical time-series compaction every monitoring/market stack ships
    * (and the batch form of what the reference's dashboard recomputes per
    * refresh tick, visualization/dashboard.py:60–189). Open/close are
    * first/last BY EVENT TIME with event_id as the total tie-break, so
    * the result is deterministic under equal timestamps — the law the
    * oracle's hash compare enforces.
    *
    * Plan shape: one exchange on (event_type, bar) serves both window
    * passes (ascending + descending row_number — same partitioning, two
    * in-partition sorts) and the final aggregation; no self-join, no
    * argmax subquery. The sum routes through decSum so partial/final
    * aggregation order can't shift a ulp. At 100 TB the bar width is the
    * lever: bars are the partition unit and each holds rate × 6 h rows —
    * a hotter feed narrows the bar (or pre-aggregates per-file partial
    * bars) rather than changing the operator.
    */
  private val q116 = Q(
    fn = (s, d) => {
      import s.implicits._
      val barUs = 6L * 3600 * 1000000
      val b = Tables.events(s, d)
        .select($"event_id", $"event_type", unix_micros($"ts").as("ts_us"), $"value")
        .withColumn("bar", bucketDiv("ts_us", barUs))
      val wA = Window.partitionBy($"event_type", $"bar")
        .orderBy($"ts_us".asc, $"event_id".asc)
      val wD = Window.partitionBy($"event_type", $"bar")
        .orderBy($"ts_us".desc, $"event_id".desc)
      b.withColumn("ra", row_number().over(wA))
        .withColumn("rd", row_number().over(wD))
        .groupBy($"event_type", $"bar")
        .agg(max(when($"ra" === 1, $"value")).as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max(when($"rd" === 1, $"value")).as("close"),
          count(lit(1)).as("n_events"),
          decSum($"value").as("sum_value"))
        .select($"event_type", timestamp_micros($"bar" * barUs).as("bar_start"),
          $"open", $"high", $"low", $"close", $"n_events", $"sum_value")
        .orderBy($"event_type", $"bar_start")
    },
    oracle = Some("""
      WITH b AS (
        SELECT event_id, event_type, epoch_us(ts) AS ts_us, value,
               epoch_us(ts) // 21600000000 AS bar
        FROM events
      ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                  ORDER BY ts_us ASC, event_id ASC) AS ra,
               ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                  ORDER BY ts_us DESC, event_id DESC) AS rd
        FROM b)
      SELECT event_type, make_timestamp(bar * 21600000000) AS bar_start,
             MAX(CASE WHEN ra = 1 THEN value END) AS open,
             MAX(value) AS high, MIN(value) AS low,
             MAX(CASE WHEN rd = 1 THEN value END) AS close,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS sum_value
      FROM r GROUP BY event_type, bar
      ORDER BY event_type, bar_start"""))

  /** Q118 — sequence-pattern (CEP) detection: per user, three STRICTLY
    * consecutive 'error' events (no event of any other type between
    * them) whose span fits inside 24 hours — the MATCH_RECOGNIZE /
    * Flink-CEP workload ("three failures in a row = incident") that
    * Spark has no native operator for, expressed as a lead-window scan:
    * the pattern `error error error` over a row-adjacent window is
    * exactly two LEADs and a span predicate, one exchange per user, no
    * per-user loops or UDFs (SQL-2016 row-pattern semantics for a
    * fixed-length strict-contiguity pattern reduce to this; variable-
    * length patterns — `error+` — would move to transformWithState,
    * the streaming twin's shape, [[graft.streaming.Pipeline]]).
    *
    * Incidents may overlap (each anchor row reports once — the
    * AFTER MATCH SKIP TO NEXT ROW policy); emitted spans are
    * deterministic via the (ts, event_id) total order.
    */
  private val q118 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
        .select($"user_id", $"event_id", $"event_type", $"ts_us",
          lead($"event_type", 1).over(w).as("t2"),
          lead($"event_type", 2).over(w).as("t3"),
          lead($"event_id", 2).over(w).as("id3"),
          lead($"ts_us", 2).over(w).as("ts3"))
        .filter($"event_type" === "error" && $"t2" === "error" && $"t3" === "error"
          && $"ts3" - $"ts_us" <= 86400000000L)
        .select($"user_id", $"event_id".as("first_id"), $"id3".as("last_id"),
          $"ts_us".as("start_us"), $"ts3".as("end_us"),
          ($"ts3" - $"ts_us").as("span_us"))
        .orderBy($"user_id", $"first_id")
    },
    oracle = Some("""
      WITH r AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3,
               LEAD(event_id, 2) OVER w AS id3,
               LEAD(epoch_us(ts), 2) OVER w AS ts3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      SELECT user_id, event_id AS first_id, id3 AS last_id,
             CAST(ts_us AS BIGINT) AS start_us, CAST(ts3 AS BIGINT) AS end_us,
             CAST(ts3 - ts_us AS BIGINT) AS span_us
      FROM r
      WHERE event_type = 'error' AND t2 = 'error' AND t3 = 'error'
        AND ts3 - ts_us <= 86400000000
      ORDER BY user_id, first_id"""))

  /** Q120 — rolling active users: per day, DAU, trailing-7-day WAU and
    * the DAU/WAU stickiness ratio — the product-health triple every
    * engagement stack reports. Exact sliding-window DISTINCT without a
    * window function: the (day, user) grid distinct-collapses map-side
    * FIRST (the only pass over raw events), then each grid row fans out
    * to the ≤7 trailing cover days it contributes to, and WAU is one
    * distinct-count per cover day — the fan-out multiplies the
    * users×days GRID (bounded by both cardinalities), never the event
    * stream. Day bucketing is the shared [[bucketDiv]] trunc-division
    * (bit-identical in both engines at any epoch).
    *
    * Days are emitted as epoch-day numbers (TZ-free by construction;
    * the session is UTC but an integer day survives any client TZ).
    * Only days with ≥1 active user are emitted, and stickiness is a
    * single double division on exact longs.
    */
  private val q120 = Q(
    fn = (s, d) => {
      import s.implicits._
      val dayUs = 86400000000L
      val grid = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"))
        .withColumn("day", bucketDiv("ts_us", dayUs))
        .select($"day", $"user_id").distinct()
        .localCheckpoint()
      val dau = grid.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wau = grid
        .select(explode(sequence($"day", $"day" + 6)).as("cover"), $"user_id")
        .distinct()
        .groupBy($"cover".as("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select($"day".as("day_num"), $"dau", $"wau",
          ($"dau".cast("double") / $"wau".cast("double")).as("stickiness"))
        .orderBy($"day_num")
    },
    oracle = Some("""
      WITH grid AS (
        SELECT DISTINCT
               epoch_us(ts) // 86400000000 AS day, user_id
        FROM events
      ), dau AS (
        SELECT day, COUNT(*) AS dau FROM grid GROUP BY day
      ), wau AS (
        SELECT day + o AS day, user_id
        FROM grid, unnest(generate_series(0, 6)) AS t(o)
        GROUP BY day + o, user_id
      ), wauc AS (
        SELECT day, COUNT(*) AS wau FROM wau GROUP BY day)
      SELECT CAST(d.day AS BIGINT) AS day_num,
             CAST(d.dau AS BIGINT) AS dau,
             CAST(w.wau AS BIGINT) AS wau,
             CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      FROM dau d JOIN wauc w USING (day)
      ORDER BY day_num"""))

  /** Q121 — frequent consecutive event-type sequences (length-3): the
    * sequential-pattern-mining complement of q118's fixed-pattern CEP —
    * q118 asks "did THIS pattern fire", this asks "WHICH patterns are
    * common" (PrefixSpan's contiguous-trigram core, enumerable exactly
    * because the pattern length is fixed). Same per-user lead-window
    * scan as q118 (one exchange), then a |types|³-bounded count with
    * occurrence and distinct-user support per trigram, top-20.
    */
  private val q121 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
        .select($"user_id", $"event_type".as("t1"),
          lead($"event_type", 1).over(w).as("t2"),
          lead($"event_type", 2).over(w).as("t3"))
        .filter($"t2".isNotNull && $"t3".isNotNull)
        .groupBy($"t1", $"t2", $"t3")
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct($"user_id").as("n_users"))
        .orderBy($"n_occurrences".desc, $"t1", $"t2", $"t3")
        .limit(20)
    },
    oracle = Some("""
      WITH r AS (
        SELECT user_id, event_type AS t1,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      SELECT t1, t2, t3, COUNT(*) AS n_occurrences,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM r WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY t1, t2, t3
      ORDER BY n_occurrences DESC, t1, t2, t3
      LIMIT 20"""))

  /** Q122 — trajectory outliers by Dynamic Time Warping: each user's
    * daily-value curve aligned against the fleet-mean curve, top-20 most
    * distant — the time-series-shape outlier DTW was built for (Sakoe &
    * Chiba 1978; Berndt & Clifford, KDD'94 for the data-mining use):
    * a user whose SHAPE deviates (burst early, burst late, inverted
    * cadence) scores high even when pointwise z-scores stay ordinary,
    * because DTW allows elastic alignment before summing costs — the
    * shape complement of q112's pointwise robust scores and q37's
    * lockstep-Euclidean ts-KNN.
    *
    * Everything is integer: daily values quantized to 1e-4 units and
    * long-summed, the fleet mean is an integer division, and the DP
    * (native [[graft.functions.expressions.DtwDist]] kernel, two-row
    * O(n·m)) runs on exact longs — the DuckDB oracle replays the SAME
    * recurrence (recursive CTE over the series index, a list_reduce DP
    * row per step, same 10^15 sentinel), so a 62-cell alignment path
    * hash-matches bit-for-bit. Scale shape: one map-side daily collapse
    * (the only pass over events), per-user in-row sorts, the ≤|days|
    * fleet curve broadcast once; each user costs one O(days²) kernel
    * call inside the scan — no joins after the collapse.
    */
  private val q122 = Q(
    fn = (s, d) => {
      import s.implicits._
      val dayUs = 86400000000L
      val daily = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"),
          expr("CAST(round(value * 10000) AS BIGINT)").as("q"))
        .withColumn("day", bucketDiv("ts_us", dayUs))
        .groupBy($"user_id", $"day").agg(sum($"q").as("vq"))
        .localCheckpoint()
      val useries = daily.groupBy($"user_id")
        .agg(array_sort(collect_list(struct($"day", $"vq"))).as("sv"))
        .select($"user_id", transform($"sv", x => x("vq")).as("vals"))
      val gcurve = daily.groupBy($"day")
        // plain `div`: truncation toward zero, same as DuckDB `//`
        // (see [[bucketDiv]]) — exact parity at any sign
        .agg(expr("sum(vq) div count(1)").as("avg_q"))
        .agg(array_sort(collect_list(struct($"day", $"avg_q"))).as("sc"))
        .select(transform($"sc", x => x("avg_q")).as("curve"))
      useries.crossJoin(broadcast(gcurve))
        .select($"user_id", size($"vals").cast("long").as("n_days"),
          graft.functions.expressions.dtw_dist($"vals", $"curve").as("dtw_dist"))
        .orderBy($"dtw_dist".desc, $"user_id")
        .limit(20)
    },
    oracle = Some("""
      WITH RECURSIVE daily AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vq
        FROM events
        GROUP BY user_id, epoch_us(ts) // 86400000000
      ), useries AS (
        SELECT user_id, list(vq ORDER BY day) AS vals FROM daily GROUP BY user_id
      ), gcurve AS (
        SELECT list(avg_q ORDER BY day) AS curve FROM (
          SELECT day, CAST(SUM(vq) AS BIGINT) // COUNT(*) AS avg_q
          FROM daily GROUP BY day)
      ), base AS (
        SELECT u.user_id, 0 AS i,
               [CAST(0 AS BIGINT)]
                 || list_transform(g.curve, x -> CAST(1000000000000000 AS BIGINT))
                 AS row,
               u.vals, g.curve
        FROM useries u, gcurve g
      ), dp AS (
        SELECT * FROM base
        UNION ALL
        SELECT user_id, i + 1,
          list_reduce(
            [CAST([1000000000000000] AS BIGINT[])] ||
              list_transform(generate_series(1, len(curve)), j -> CAST([j] AS BIGINT[])),
            (acc, x) -> list_append(acc,
              abs(vals[i + 1] - curve[x[1]])
                + least(acc[len(acc)], least(row[x[1] + 1], row[x[1]])))),
          vals, curve
        FROM dp WHERE i < len(vals)
      )
      SELECT user_id, CAST(len(vals) AS BIGINT) AS n_days,
             CAST(row[len(curve) + 1] AS BIGINT) AS dtw_dist
      FROM dp WHERE i = len(vals)
      ORDER BY dtw_dist DESC, user_id
      LIMIT 20"""))

  /** Q123 — forecastability by exponential smoothing: per event type,
    * one-step-ahead simple-exponential-smoothing error (α = 0.2, level
    * seeded at the first observation) against the random-walk baseline
    * (yesterday's value), over the daily-total series — Hyndman's
    * "skill vs naive" diagnostic: skill ≈ 1 means the series is noise
    * the smoother can't beat, ≪ 1 means structure worth forecasting.
    * The recursion s_i = (2·x_i + 8·s_{i−1}) div 10 is integer
    * fixed-point, so the fold is exact in both engines: Spark runs it
    * as a codegen'd `aggregate` HOF (one in-row fold per series — no
    * kernel needed, the recursion never crosses rows), the oracle as a
    * `list_reduce` over the same 4-slot accumulator (q122's DP-oracle
    * device, one dimension down). Positive-domain contract: `div` vs
    * `//` agree because daily sums (and hence levels) are non-negative.
    *
    * Scale shape: the daily collapse is the only pass over events;
    * series are |types|-bounded here and day-bounded always — a
    * per-key variant (forecastability per user) would ride the same
    * fold under the q122 grid bound.
    */
  private val q123 = Q(
    fn = (s, d) => {
      import s.implicits._
      val dayUs = 86400000000L
      val daily = Tables.events(s, d)
        .select($"event_type", unix_micros($"ts").as("ts_us"),
          expr("CAST(round(value * 10000) AS BIGINT)").as("q"))
        .withColumn("day", bucketDiv("ts_us", dayUs))
        .groupBy($"event_type", $"day").agg(sum($"q").as("vq"))
      daily.groupBy($"event_type")
        .agg(array_sort(collect_list(struct($"day", $"vq"))).as("sv"))
        .select($"event_type", transform($"sv", x => x("vq")).as("vals"))
        .withColumn("n", size($"vals"))
        .filter($"n" >= 2)
        .withColumn("f", expr("""
          aggregate(
            slice(vals, 2, size(vals) - 1),
            named_struct('s', vals[0], 'e', CAST(0 AS BIGINT),
                         'rw', CAST(0 AS BIGINT), 'prev', vals[0]),
            (acc, x) -> named_struct(
              's', (2 * x + 8 * acc.s) div 10,
              'e', acc.e + abs(x - acc.s),
              'rw', acc.rw + abs(x - acc.prev),
              'prev', x))"""))
        .filter($"f.rw" > 0)
        .select($"event_type", $"n".cast("long").as("n_days"),
          ($"f.e".cast("double") / ($"n" - 1).cast("double")).as("es_mae"),
          ($"f.rw".cast("double") / ($"n" - 1).cast("double")).as("rw_mae"),
          ($"f.e".cast("double") / $"f.rw".cast("double")).as("skill"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS vq
        FROM events
        GROUP BY event_type, epoch_us(ts) // 86400000000
      ), series AS (
        SELECT event_type, list(vq ORDER BY day) AS vals
        FROM daily GROUP BY event_type
      ), folded AS (
        SELECT event_type, len(vals) AS n,
          list_reduce(
            [CAST([vals[1], 0, 0, vals[1]] AS BIGINT[])] ||
              list_transform(vals[2:], x -> CAST([x, 0, 0, 0] AS BIGINT[])),
            (acc, x) -> CAST([
              (2 * x[1] + 8 * acc[1]) // 10,
              acc[2] + abs(x[1] - acc[1]),
              acc[3] + abs(x[1] - acc[4]),
              x[1]] AS BIGINT[])
          ) AS f
        FROM series)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             CAST(f[2] AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS es_mae,
             CAST(f[3] AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS rw_mae,
             CAST(f[2] AS DOUBLE) / CAST(f[3] AS DOUBLE) AS skill
      FROM folded WHERE n >= 2 AND f[3] > 0
      ORDER BY event_type"""))

  /** Q125 — maximal error runs (gaps-and-islands): per user, MAXIMAL
    * stretches of consecutive 'error' events — broken by any other
    * event type or by a > 24 h gap between consecutive errors — emitted
    * when the run reaches 3. The variable-length (`error+`) pattern
    * q118's scaladoc points at: q118 fires per fixed-length anchor,
    * this returns each maximal island ONCE with its true length — the
    * classic gaps-and-islands construction (LAG-flag → running-sum run
    * id → group), which is also how SQL-2016 row-pattern `A+` quantifiers
    * compile when the pattern is a single predicate. One exchange per
    * user (both window passes and the aggregation share it); all longs.
    *
    * The island family triptych: q35 sessionizes ALL events by time gap,
    * q118 matches a fixed-length contiguous pattern, q125 islands a
    * predicate with both a contiguity and a gap break.
    */
  private val q125 = Q(
    fn = (s, d) => {
      import s.implicits._
      val gapUs = 86400000000L
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
      val flagged = Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
        .withColumn("brk",
          when(lag($"event_type", 1).over(w).isNull ||
            lag($"event_type", 1).over(w) =!= "error" ||
            $"ts_us" - lag($"ts_us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("run_id", sum($"brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.filter($"event_type" === "error")
        .groupBy($"user_id", $"run_id")
        .agg(count(lit(1)).as("n_errors"),
          min(struct($"ts_us", $"event_id")).as("a"),
          max(struct($"ts_us", $"event_id")).as("b"))
        .filter($"n_errors" >= 3)
        .select($"user_id", $"n_errors",
          $"a.event_id".as("first_id"), $"b.event_id".as("last_id"),
          $"a.ts_us".as("start_us"), $"b.ts_us".as("end_us"),
          ($"b.ts_us" - $"a.ts_us").as("span_us"))
        .orderBy($"user_id", $"first_id")
    },
    oracle = Some("""
      WITH r AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               CASE WHEN LAG(event_type, 1) OVER w IS NULL
                      OR LAG(event_type, 1) OVER w <> 'error'
                      OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 86400000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ), runs AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM r
      ), erows AS (
        SELECT user_id, run_id, event_id, ts_us,
               ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                                  ORDER BY ts_us, event_id) AS ra,
               ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                                  ORDER BY ts_us DESC, event_id DESC) AS rd
        FROM runs WHERE event_type = 'error')
      SELECT user_id, COUNT(*) AS n_errors,
             CAST(MAX(CASE WHEN ra = 1 THEN event_id END) AS BIGINT) AS first_id,
             CAST(MAX(CASE WHEN rd = 1 THEN event_id END) AS BIGINT) AS last_id,
             CAST(MIN(ts_us) AS BIGINT) AS start_us,
             CAST(MAX(ts_us) AS BIGINT) AS end_us,
             CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us
      FROM erows
      GROUP BY user_id, run_id
      HAVING COUNT(*) >= 3
      ORDER BY user_id, first_id"""))

  /** Q130 — fulfillment-latency SLA by order priority: exact interpolated
    * p50/p90 of order→ship latency (whole days, exact integer `div`) plus
    * the ≤30-day attainment share, per `o_orderpriority` — the TPC-H-
    * flavored service-level report (Q4's "late orders" question turned
    * into the distribution an SLA dashboard actually shows). One
    * orderkey-keyed join (co-partitioned at any scale — both sides hash
    * to the same key; no broadcast hint, AQE broadcasts orders at test
    * scale), then q36's exact-percentile device per priority (5 bounded
    * groups; `approx_percentile` is the declared unbounded-cardinality
    * fallback). Attainment is an exact conditional count over integer
    * days; the share is one double division.
    */
  private val q130 = Q(
    fn = (s, d) => {
      import s.implicits._
      // TPC-H date columns load as TIMESTAMP_NTZ; the cast to (UTC)
      // TIMESTAMP is wall-clock identity under the session contract
      Tables.lineitem(s, d)
        .select($"l_orderkey",
          unix_micros($"l_shipdate".cast("timestamp")).as("ship_us"))
        .join(Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            unix_micros($"o_orderdate".cast("timestamp")).as("ord_us")),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority",
          expr("(ship_us - ord_us) div 86400000000").as("lat_d"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lineitems"),
          percentile($"lat_d", lit(0.5)).as("p50_days"),
          percentile($"lat_d", lit(0.9)).as("p90_days"),
          sum(when($"lat_d" <= 30, 1L).otherwise(0L)).as("n_within_30d"))
        .withColumn("within_30d_share",
          $"n_within_30d".cast("double") / $"n_lineitems".cast("double"))
        .orderBy($"o_orderpriority")
    },
    oracle = Some("""
      WITH lat AS (
        SELECT o.o_orderpriority,
               (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000
                 AS lat_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_lineitems,
             quantile_cont(lat_d, 0.5) AS p50_days,
             quantile_cont(lat_d, 0.9) AS p90_days,
             CAST(SUM(CASE WHEN lat_d <= 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_30d,
             CAST(SUM(CASE WHEN lat_d <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS within_30d_share
      FROM lat
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  val all: Map[String, Q] = Map(
    "q33_moving_aggregates" -> q33,
    "q34_asof_join" -> q34,
    "q35_sessionization" -> q35,
    "q36_percentiles" -> q36,
    "q36b_percentiles_approx" -> q36b,
    "q36c_hll_daily_merge" -> q36c,
    "q37_timeseries_knn" -> q37,
    "q55_gapfill_resample" -> q55,
    "q58_interval_join" -> q58,
    "q64_scd2" -> q64,
    "q112_value_anomaly_mad" -> q112,
    "q113_user_trend_slope" -> q113,
    "q116_ohlc_bars" -> q116,
    "q118_error_burst_cep" -> q118,
    "q120_rolling_active_users" -> q120,
    "q121_frequent_sequences" -> q121,
    "q122_dtw_trajectory_outliers" -> q122,
    "q123_forecastability" -> q123,
    "q125_error_runs" -> q125,
    "q130_ship_latency_sla" -> q130,
  )
}
