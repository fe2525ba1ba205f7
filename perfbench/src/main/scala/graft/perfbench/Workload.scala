package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What one measured round of a workload produced.
  *
  * `latencies` are the workload's unit-of-work times in seconds (alert
  * latency per tick file, query time per query); `work` the work done at
  * full rate (backlog rows, queries) and `workS` the seconds it took;
  * `layers` per-layer metrics (traced round only); `mismatches` the output
  * checks that failed, each already counted in `failed`.
  */
final case class Measured(attempted: Long, failed: Long, latencies: Seq[Double],
    work: Double, workS: Double, layers: Map[String, Double] = Map.empty,
    mismatches: Seq[String] = Nil)

object Measured {
  def combine(ms: Seq[Measured]): Measured = Measured(ms.map(_.attempted).sum,
    ms.map(_.failed).sum, ms.flatMap(_.latencies), ms.map(_.work).sum, ms.map(_.workS).sum,
    ms.flatMap(_.layers).toMap, ms.flatMap(_.mismatches))
}

/** Sizes and paths every workload shares. `smoke` shrinks every input to
  * seconds of work for the harness's own tests. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    data: Path, smoke: Boolean)

trait Workload {
  /** Rounds of set-up and measurement in an untraced run, at least two:
    * round 1 warms the JVM. A traced run makes three, the last traced. */
  def rounds: Int

  /** Set-up done once, before the rounds; what it checks counts as
    * attempted and failed. */
  def prepare(): Measured = Measured(0, 0, Nil, 0, 0)

  /** Build round `round`'s inputs from the seed, from scratch. */
  def setup(round: Int): Unit

  /** Measure round `round`; `tracer` is set on the traced round only. */
  def measure(round: Int, tracer: Option[Tracer]): Measured

  /** The figures of all rounds under the workload's own names and units. */
  def named(p50: Double, p90: Double, throughputPerS: Double): Seq[(String, Double, String)]

  /** Per-layer metrics from calling single layers alone on the inputs of
    * the last set-up, after the traced round (so they stay out of its Spark
    * totals). */
  def layerTimings(): Map[String, Double] = Map.empty
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Run `f` as a span when tracing, plainly otherwise. */
  def layer[T](t: Option[Tracer], name: String)(f: => T): T =
    t.fold(f)(_.span(name)(f))
}
