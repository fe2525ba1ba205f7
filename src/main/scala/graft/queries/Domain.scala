package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rules.{Rule, RuleEngine}
import graft.sources.Tables

/** Domain-shaped queries exercising the rules/model layer against the
  * driver's oracle-checkable tables: the reusable alert-rule engine
  * (reference consumer.py:87–127), the planar-distance math of the
  * proximity mapper (reference opensky_source.py:124–129), and the
  * perception-summary ordering (reference queries.py:114–127).
  */
object Domain {

  /** Q28 — three-rule alert table over `events` via [[RuleEngine]] — the
    * exact shape of the reference's alert chain (filter → typed alert →
    * formatted message → one alerts table), evaluated set-oriented. All
    * three rules are evaluated in one scan-local projection; no shuffle.
    *
    * Messages avoid %-formatting: printf rounds half-even in C engines but
    * half-up on the JVM, while `round()` rounds half-away-from-zero on
    * both — so `round` + string concat is the cross-engine-stable form.
    */
  private val q28 = Q(
    fn = (s, d) => {
      import s.implicits._
      val rules = Seq(
        Rule("High Value", $"value" > 150.0,
          concat(lit("user "), $"user_id", lit(" value "), round($"value", 1))),
        Rule("Error Event", $"event_type" === "error",
          concat(lit("user "), $"user_id", lit(" error"))),
        Rule("Risky Click", $"event_type" === "click" && $"value" < 5.0,
          concat(lit("user "), $"user_id", lit(" click value "), round($"value", 1))))
      RuleEngine.alerts(Tables.events(s, d), rules, $"ts", $"user_id", "user_id")
        .select(unix_micros($"time").as("ts_us"), $"user_id",
          $"alert_type", $"alert_message")
        .orderBy($"ts_us", $"user_id", $"alert_type")
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT epoch_us(ts) AS ts_us, user_id, 'High Value' AS alert_type,
               'user ' || user_id || ' value ' || ROUND(value, 1) AS alert_message
        FROM events WHERE value > 150.0
        UNION ALL
        SELECT epoch_us(ts), user_id, 'Error Event',
               'user ' || user_id || ' error'
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT epoch_us(ts), user_id, 'Risky Click',
               'user ' || user_id || ' click value ' || ROUND(value, 1)
        FROM events WHERE event_type = 'click' AND value < 5.0)
      ORDER BY ts_us, user_id, alert_type"""))

  /** Q29 — per-entity trajectory step distance (the planar-distance math
    * of SURVEY P13: abs/greatest scale correction, squares, sqrt), via a
    * lag window. All doubles flow through one fixed-shape expression over
    * identical operands, so the sqrt is bit-identical across engines.
    */
  private val q29 = Q(
    fn = (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"), $"value")
        .withColumn("dv", $"value" - lag($"value", 1).over(w))
        .withColumn("dt_sec", ($"ts_us" - lag($"ts_us", 1).over(w)) / 1000000.0)
        .filter($"dv".isNotNull)
        .withColumn("scale", greatest(lit(0.7), abs($"value") / 90.0))
        .withColumn("step_dist",
          sqrt(($"dv" * $"dv") * ($"scale" * $"scale") + $"dt_sec" * $"dt_sec"))
        .select($"user_id", $"event_id", $"ts_us", $"step_dist")
        .orderBy($"step_dist".desc, $"user_id", $"event_id")
        .limit(100)
    },
    oracle = Some("""
      SELECT user_id, event_id, ts_us, SQRT((dv * dv) * (scale * scale) + dt_sec * dt_sec) AS step_dist
      FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dv,
               (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) / 1000000.0 AS dt_sec,
               GREATEST(0.7, ABS(value) / 90.0) AS scale
        FROM events)
      WHERE dv IS NOT NULL
      ORDER BY step_dist DESC, user_id, event_id
      LIMIT 100"""))

  /** Q30 — perception-summary ordering (SURVEY A4: two-key count with
    * count-descending output order, reference queries.py:118–126).
    */
  private val q30 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"user_id", $"n".desc, $"event_type")
    },
    oracle = Some("""
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, n DESC, event_type"""))

  /** Q42 — JSON property extraction (SURVEY §2.8 JSON row: the wire
    * payloads are JSON documents; `events.props` carries one). Spark side
    * uses the real JSON path machinery (`get_json_object`); the oracle
    * reproduces the semantics with a regex so it doesn't depend on
    * DuckDB's JSON extension being loadable offline. Exact integer
    * aggregates per event type.
    */
  private val q42 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("k_sum"),
          min($"k").as("k_min"),
          max($"k").as("k_max"),
          countDistinct($"k").as("k_distinct"))
        .orderBy($"event_type")
    },
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(k) AS BIGINT) AS k_sum,
             MIN(k) AS k_min, MAX(k) AS k_max,
             COUNT(DISTINCT k) AS k_distinct
      FROM (SELECT event_type,
                   CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
            FROM events)
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Q59 — unified three-mode ingestion (SURVEY §2.7's one declared use
    * of union: the reference's three producers — simulation
    * producer.py:147–199, OpenSky poller opensky_source.py:146–177,
    * CSV/JSONL replay waymo_replay.py:95–160 — all write one telemetry
    * table). Three wire-shaped legs are derived deterministically from
    * `events` (each with a DIFFERENT column subset, like the real
    * producers), pushed through the REAL [[graft.sources.FileReplay
    * .normalize]] lenient-schema path (P14 coercions, P15 timestamp
    * parse with asOf fallback, per-column defaults), then tagged and
    * merged by [[graft.sources.UnifiedIngest.unify]]. The oracle mirrors
    * every coercion and default in SQL, so the union AND the
    * normalization contract are hash-verified — not just spec-asserted.
    *
    * The file leg deliberately carries malformed wire values (bad
    * timestamps, empty vehicle ids, yes/no booleans) to pin the fallback
    * semantics; numeric wire strings are integer-valued so no
    * double→string formatting ever crosses engines. Zero-shuffle plan:
    * three narrow projections over one table union'd logically.
    */
  private val q59 = Q(
    fn = (s, d) => {
      import s.implicits._
      val wireFmt = "yyyy-MM-dd HH:mm:ss"
      val asOf = to_timestamp(lit("2024-02-01 00:00:00"))
      val ev = Tables.events(s, d)
      val simWire = ev.filter($"event_type" === "view").select(
        $"event_id",
        date_format($"ts", wireFmt).as("timestamp"),
        pmod($"user_id", lit(100)).cast("string").as("vehicle_id"),
        floor($"value").cast("long").cast("string").as("current_speed_kmh"),
        when($"value" > 150, "true").otherwise("false").as("speed_limit_violation"),
        floor($"value" * 100).cast("long").cast("string").as("odometer_km"))
      val osWire = ev.filter($"event_type" === "click").select(
        $"event_id",
        date_format($"ts", wireFmt).as("timestamp"),
        (pmod($"user_id", lit(9999)) + 1).cast("string").as("vehicle_id"),
        floor($"value" * 3.6).cast("long").cast("string").as("current_speed_kmh"),
        pmod($"user_id", lit(90)).cast("string").as("latitude"),
        pmod($"user_id", lit(180)).cast("string").as("longitude"),
        concat(lit(" FLT"), $"user_id", lit(" ")).as("destination"))
      val fileWire = ev.filter($"event_type" === "purchase").select(
        $"event_id",
        when($"event_id" % 2 === 0, date_format($"ts", wireFmt))
          .otherwise(lit("not-a-time")).as("timestamp"),
        when($"event_id" % 3 === 0, lit(""))
          .otherwise(pmod($"user_id", lit(50)).cast("string")).as("vehicle_id"),
        when($"event_id" % 2 === 0, "yes").otherwise("no").as("speed_limit_violation"),
        when($"event_id" % 5 === 0, "0").otherwise("1").as("autopilot_engaged"),
        lit("").as("start_location"))
      val keep = Seq("event_id")
      graft.sources.UnifiedIngest.unify(
          "simulation" -> graft.sources.FileReplay.normalize(simWire, asOf, keep),
          "opensky" -> graft.sources.FileReplay.normalize(osWire, asOf, keep),
          "file_replay" -> graft.sources.FileReplay.normalize(fileWire, asOf, keep))
        .select($"source_mode", $"event_id", $"vehicle_id",
          unix_micros($"time").as("time_us"), $"current_speed_kmh",
          $"speed_limit_violation", $"latitude", $"longitude",
          $"battery_level_pct", $"remaining_range_km", $"autopilot_engaged",
          $"odometer_km", $"start_location", $"destination")
        .orderBy($"source_mode", $"event_id")
    },
    oracle = Some("""
      SELECT * FROM (
        SELECT 'simulation' AS source_mode, event_id,
               CAST(user_id % 100 AS INT) AS vehicle_id,
               epoch_us(date_trunc('second', ts)) AS time_us,
               FLOOR(value) AS current_speed_kmh,
               value > 150 AS speed_limit_violation,
               0.0 AS latitude, 0.0 AS longitude,
               85.0 AS battery_level_pct, 400.0 AS remaining_range_km,
               true AS autopilot_engaged,
               FLOOR(value * 100) AS odometer_km,
               'Waymo' AS start_location, 'Waymo' AS destination
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT 'opensky', event_id,
               CAST(user_id % 9999 + 1 AS INT),
               epoch_us(date_trunc('second', ts)),
               FLOOR(value * 3.6),
               false,
               CAST(user_id % 90 AS DOUBLE), CAST(user_id % 180 AS DOUBLE),
               85.0, 400.0, true, 0.0,
               'Waymo', 'FLT' || user_id
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT 'file_replay', event_id,
               CASE WHEN event_id % 3 = 0 THEN 1 ELSE CAST(user_id % 50 AS INT) END,
               CASE WHEN event_id % 2 = 0 THEN epoch_us(date_trunc('second', ts))
                    ELSE epoch_us(TIMESTAMP '2024-02-01 00:00:00') END,
               0.0,
               event_id % 2 = 0,
               0.0, 0.0, 85.0, 400.0,
               NOT (event_id % 5 = 0),
               0.0, 'Waymo', 'Waymo'
        FROM events WHERE event_type = 'purchase')
      ORDER BY source_mode, event_id"""))

  val all: Map[String, Q] = Map(
    "q28_alert_rules_union" -> q28,
    "q29_trajectory_steps" -> q29,
    "q30_event_type_ranking" -> q30,
    "q42_json_extraction" -> q42,
    "q59_ingest_union" -> q59,
  )
}
