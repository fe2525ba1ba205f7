package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

import graft.SparkEntry
import graft.queries.{IndexCache, Q}

/** The declared query inventory as a serving surface. Set-up is a warm
  * pass at sf0.001 that checks every suite query's output against the
  * committed expected file, then per round a fresh copy of the committed
  * sf0.01 tables; each round after the first times one pass of the suite,
  * in a seeded order, through `noop` writes on its copy.
  */
final class QuerySuite(c: Ctx, expected: Path) extends Workload {
  import QuerySuite._

  private val warmDir = c.data.resolve("sf0.001").toString
  private val source = c.data.resolve(if (c.smoke) "sf0.001" else "sf0.01")
  private val suite = if (c.smoke) Smoke else Suite
  private val want = Expected.read(expected)
  require(suite.forall(want.contains), s"$expected lacks queries of the suite")
  val rounds = 2
  private var servedDir = ""

  override def prepare(): Measured = {
    val mismatches = suite.flatMap { name =>
      val e = want(name)
      val (got, secs) = Stats.timed(scala.util.Try(digest(SparkEntry.queries(name)(c.spark, warmDir))))
      release(c.spark)
      System.err.println(f"[perfbench] warm  $name%-36s $secs%.3f s")
      got match {
        case scala.util.Failure(err) => Some(s"$name: warm pass failed: $err")
        case scala.util.Success((rows, _)) if rows != e.rows =>
          Some(s"$name: $rows rows, expected ${e.rows}")
        case scala.util.Success((_, h)) if e.hash.exists(_ != h) =>
          Some(s"$name: content hash $h, expected ${e.hash.get}")
        case _ => None
      }
    }
    Measured(suite.size, mismatches.size, Nil, 0, 0, mismatches = mismatches)
  }

  def setup(round: Int): Unit = {
    // serve a fresh copy of the tables: IndexCache keys its artifacts on the
    // data directory, so every measured pass builds them as a first pass
    // over new data does
    val served = c.work.resolve(s"query_suite/${source.getFileName}-$round")
    Workload.deleteTree(served)
    Files.createDirectories(served)
    Files.list(source).forEach(f => Files.copy(f, served.resolve(f.getFileName)))
    servedDir = served.toString
  }

  def named(p50: Double, p90: Double, queriesPerS: Double): Seq[(String, Double, String)] =
    Seq(("suite_s", suite.size / queriesPerS, "s"), ("query_p50_s", p50, "s"))

  // round 1's timings are not reported, and the warm pass has just run every
  // suite query: skip its pass
  def measure(round: Int, t: Option[Tracer]): Measured =
    if (round == 1) Measured(0, 0, Nil, 0, 0) else pass(round, t)

  private def pass(round: Int, t: Option[Tracer]): Measured = {
    val order = new scala.util.Random(c.seed * 31 + round).shuffle(suite)
    val artBefore = IndexCache.buildSeconds
    val builtBefore = artifacts()
    val t0 = System.nanoTime()
    val runs = order.map { name =>
      val fn = SparkEntry.queries(name)
      val (ok, secs) = Stats.timed(Workload.layer(t, name) {
        scala.util.Try(fn(c.spark, servedDir).write.format("noop").mode("overwrite").save())
      })
      release(c.spark)
      ok.failed.foreach(e => System.err.println(s"[perfbench] query $name failed: $e"))
      System.err.println(f"[perfbench] query $name%-36s $secs%.3f s")
      (name, ok.isSuccess, secs)
    }
    val suiteS = Stats.secondsSince(t0)
    val layers = t.fold(Map.empty[String, Double]) { tr =>
      val bySpan = tr.jobsBySpan
      val jobsPerQuery = tr.spans.filter(s => suite.contains(s.name))
        .map(s => bySpan.getOrElse(s.id, 0).toDouble)
      val artAfter = IndexCache.buildSeconds
      measured.map { case (fam, qs) =>
        s"queries.${fam}_s" -> runs.collect { case (n, _, s) if qs.contains(n) => s }.sum
      }.toMap ++ Map(
        "queries.artifact_build_s" ->
          artAfter.map { case (k, v) => v - artBefore.getOrElse(k, 0.0) }.sum,
        "queries.artifact_builds" -> (artifacts() - builtBefore).toDouble,
        "queries.jobs_per_query_p50" -> Stats.median(jobsPerQuery))
    }
    Measured(runs.size, runs.count(!_._2), runs.map(_._3), runs.size.toDouble, suiteS, layers)
  }
}

object QuerySuite {
  import graft.queries._

  /** The ten family maps, in registration order. */
  val families: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> Relational.all, "textops" -> TextOps.all,
    "vectorops" -> VectorOps.all, "domain" -> Domain.all,
    "multimodal" -> MultimodalQ.all, "windowed" -> Windowed.all,
    "retrieval" -> Retrieval.all, "graphops" -> GraphOps.all,
    "langid" -> LangId.all, "admission" -> Admission.all)

  /** The suite: a query of every family but admission that is among the
    * family's cheapest on fresh tables, the text family's inverted-index
    * query, which builds an artifact, and two more cheap ones, so that the
    * median query is not one whose time depends on which query builds a
    * shared artifact first. One pass takes about nine seconds at sf0.01 on
    * 4 idle cores. */
  val Suite: Seq[String] = Seq(
    "q06_distinct_users",
    "q25_knn_cosine_exact",
    "q29_trajectory_steps",
    "q30_event_type_ranking",
    "q36_percentiles",
    "q43_media_frame_sample",
    "q53_exact_moments",
    "q67_heavy_hitters",
    "q71_inverted_index",
    "q88_hybrid_rrf",
    "q100_langid_trained",
    "q126_item_similarity")

  /** What smoke mode runs: three of the suite's cheapest queries. */
  val Smoke: Seq[String] = Seq("q06_distinct_users", "q29_trajectory_steps", "q67_heavy_hitters")

  /** Families the suite runs and reports. Admission's two lifecycle
    * compositions take 10-40 s each at these sizes, more than a run has. */
  val measured: Seq[(String, Map[String, Q])] = families.filterNot(_._1 == "admission")

  /** Drop what a query left cached or checkpointed, so each query starts
    * from the same state whatever ran before it. */
  def release(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Artifacts built so far (one directory entry per IndexCache build). */
  def artifacts(): Long = {
    val ls = Files.list(IndexCache.root)
    try ls.count() finally ls.close()
  }

  /** (row count, order-independent content hash): the exact sum of one
    * 64-bit hash per row over the row's JSON form. Running it executes
    * every output column. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)")
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  final case class Want(rows: Long, hash: Option[String])

  /** The committed expected file: a tab-separated table, one query a line —
    * `name  rows  hash|-` — hashes only for queries with a DuckDB oracle,
    * row counts for the rest. */
  object Expected {
    def read(p: Path): Map[String, Want] = {
      import scala.jdk.CollectionConverters._
      val rows = Files.readAllLines(p).asScala.toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      require(rows.forall(_.length == 3), s"malformed expected file $p")
      rows.map(r => r(0) -> Want(r(1).toLong, Option(r(2)).filter(_ != "-"))).toMap
    }
  }

  /** Write the expected file: digest every suite query at `warmDir`. */
  def record(s: SparkSession, warmDir: String, out: Path): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    val lines = Suite.sorted.map { name =>
      val (rows, hash) = digest(SparkEntry.queries(name)(s, warmDir)); release(s)
      Seq(name, rows.toString, if (oracle(name)) hash else "-").mkString("\t")
    }
    Files.writeString(out, (Header ++ lines).mkString("", "\n", "\n"))
  }

  private val Header = Seq(
    "# Expected outputs of the query_suite queries at sf0.001: row count and the",
    "# order-independent content hash (exact sum of xxhash64 over each row's JSON",
    "# form) for queries with a DuckDB oracle, '-' for the rest. Regenerate with",
    "#   python3 perfbench/run.py --record perfbench/expected/queries.tsv",
    "# query\trows\thash (oracle queries)")
}
