package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Thresholds

/** A declarative alert rule: rows matching `condition` produce one alert
  * with `alertType` and the formatted `message`. The Spark re-expression of
  * the reference's per-record if/elif alert chain
  * (reference consumer.py:90–124) — set-oriented, evaluated once per
  * micro-batch or batch instead of once per record per connection.
  */
final case class Rule(alertType: String, condition: Column, message: Column)

object RuleEngine {

  /** Derive the alert table from an input frame and a rule list in one
    * pass: a single projection builds, per row, an array with one
    * `when(condition, (alert_type, alert_message))` slot per rule and
    * explodes it; the slots of rules that did not match come out with a
    * NULL `alert_type` and are filtered away. The input is scanned once
    * whatever the rule count (not once per rule, as a union of filtered
    * projections would), and there is no shuffle — alerts scale linearly
    * with input at any cluster size. A row emits one alert per matching
    * rule; a NULL condition matches nothing, as in a filter.
    *
    * The empty slots are dropped after the explode, not with a `filter`
    * lambda over the array: Spark's `ArrayFilter` is a codegen fallback
    * (interpreted per row), and over a cached 2M-row telemetry frame it
    * took the derivation from ~0.26 s to ~0.55 s on 4 cores.
    *
    * Output schema matches [[graft.model.Alert]] with a caller-named
    * entity column.
    */
  def alerts(df: DataFrame, rules: Seq[Rule], time: Column, entity: Column,
      entityName: String = "vehicle_id"): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.forall(_.alertType != null), "a NULL alert type marks an empty slot")
    val slots = array(rules.map { r =>
      when(r.condition, struct(lit(r.alertType).as("alert_type"),
        r.message.as("alert_message")))
    }: _*)
    df.select(time.as("time"), entity.as(entityName), inline(slots))
      .filter(col("alert_type").isNotNull)
  }
}

/** The reference's three fleet alert rules with its exact message formats
  * (consumer.py:95–98 speed, :104–107 battery, :119–124 collision),
  * parametrized by [[Thresholds]] (settings.yaml:23–27).
  *
  * Known formatting divergence (intentional, like the other parity calls):
  * JVM `format_string` %.1f/%.0f rounds HALF_UP where Python's :.1f/:.0f
  * rounds half-even, so a value landing exactly on a .5 boundary formats
  * one ulp apart across engines (19.25 → "19.2" in Python, "19.3" here).
  * Sensor doubles land on exact .5 boundaries with ~zero probability and
  * no consumer parses alert text numerically; byte parity would cost a
  * pre-rounding pass on every alert, so the JVM convention stands.
  */
object FleetRules {

  /** consumer.py:90–98 — flag is precomputed at the source (producer.py:79). */
  def speedViolation: Rule = Rule(
    "Speed Violation",
    col("speed_limit_violation") === true,
    format_string("Vehicle %d exceeded speed limit (%.0f km/h)",
      col("vehicle_id"), col("current_speed_kmh")))

  /** consumer.py:99–107. */
  def lowBattery(t: Thresholds): Rule = Rule(
    "Low Battery",
    col("battery_level_pct") < t.batteryPct,
    format_string("Vehicle %d battery low: %.1f%%",
      col("vehicle_id"), col("battery_level_pct")))

  /** consumer.py:112–124 — close AND fast-moving object. */
  def collisionRisk(t: Thresholds): Rule = Rule(
    "Collision Risk",
    col("object_distance_m") < t.collisionDistanceM &&
      col("object_speed_kmh") > t.collisionObjectSpeedKmh,
    format_string("Vehicle %d detected %s at %.1fm, speed %.0f km/h",
      col("vehicle_id"), col("object_class"),
      col("object_distance_m"), col("object_speed_kmh")))

  /** Telemetry-stream alerts (speed + battery rules). */
  def telemetryAlerts(telemetry: DataFrame, t: Thresholds = Thresholds()): DataFrame =
    RuleEngine.alerts(telemetry, Seq(speedViolation, lowBattery(t)),
      col("time"), col("vehicle_id"))

  /** Perception-stream alerts (collision rule). */
  def perceptionAlerts(perception: DataFrame, t: Thresholds = Thresholds()): DataFrame =
    RuleEngine.alerts(perception, Seq(collisionRisk(t)),
      col("time"), col("vehicle_id"))
}
