package graft.dev

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, Sessions, SparkEntry}
import graft.queries.{Additive, Admission, IndexCache, LangId, TextOps, VectorOps}
import graft.sources.Tables

/** The measurement CLI (dev tool; `graft.Bench` stays the driver-facing
  * benchmark): time declared queries, or the named legs of a lifecycle
  * preset, rep by rep in one session. It prints one record per rep and leg,
  * then one min-of-reps line per (target, dir, leg).
  *
  *   sbt "runMain graft.dev.Measure <targets> <dirs> [reps] [k=v,…]"
  *   sbt "runMain graft.dev.Measure q18_neardup_jaccard testdata/sf0.001,testdata/sf0.1 4"
  *   sbt "runMain graft.dev.Measure scale tmp_scale/x1,tmp_scale/x10,tmp_scale/x100 3"
  *   sbt "runMain graft.dev.Measure q38,q75 tmp_scale/x100 3 graft.vec.ivfCells=64,graft.vec.kmeansK=64"
  *
  *  - `targets`, a comma list: a declared query name or name prefix; `scale`
  *    (the scaling list below); `ingest` ([[graft.Bench.measureIngest]]); or
  *    one of the leg presets `nb`, `decide`, `admission`, `bm25append`,
  *    `clusterappend` and `compaction`. A name that matches nothing fails
  *    before any work and lists the valid names.
  *  - `dirs`, a comma list of data dirs. Every target runs on every dir, dir
  *    by dir, in the order given: list a small dir first to pay the JVM's
  *    JIT and codegen warm-up there.
  *  - `reps` (default 3), then session conf overrides, each split at its
  *    first `=` (e.g. `spark.sql.autoBroadcastJoinThreshold=1m` to emulate
  *    a large candidate mass against executor memory).
  *
  * The record of one leg: wall seconds; from one listener, its jobs, the
  * bare jobs among them (`bareJobs`: jobs that ran outside any SQL
  * execution, i.e. with no `spark.sql.execution.id`, such as the footer job
  * of a parquet read that infers its schema, or an RDD action), tasks,
  * executor CPU-s, task run-s, GC-s, shuffle read and write MB, spill MB and
  * the seconds in which no task was running (driver-only); the seconds of
  * `IndexCache` artifact builds it paid; and, from one query
  * execution listener, the broadcast, sort-merge and shuffled-hash joins and
  * the shuffle exchanges of every plan it executed, through AQE stages (the
  * dedup queries end in `localCheckpoint`, whose execution is the one with
  * the interesting joins), and those plans themselves ([[Explain]] prints
  * them). CPU-s is the A/B comparator to trust on a
  * host whose wall clock carries co-tenant load.
  *
  * Both listeners are attached once per run. Before and after each leg a
  * marker job is run and its end awaited: the bus then has delivered every
  * event of the leg and none of the next one, and the marker's own job and
  * tasks are never counted.
  *
  * Query targets execute through a `noop` write, as Bench does (`count()`
  * would let Catalyst prune columns). After each rep, the RDDs persisted
  * since the reps began are unpersisted, so a preset's untimed setup
  * survives its reps; the setup's own RDDs are released after the last rep.
  */
object Measure {

  /** One timed leg of one rep; `out` is what the leg reported (`rows=N`);
    * `plans` holds the formatted executed plan of every Dataset action of
    * the leg, in order (not printed). */
  final case class Record(target: String, dir: String, rep: Int, leg: String,
      wallS: Double, jobs: Int, bareJobs: Int, tasks: Int, cpuS: Double, taskRunS: Double,
      gcS: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
      spillMb: Double, driverOnlyS: Double, artifactS: Double,
      broadcastJoins: Int, sortMergeJoins: Int, shuffledHashJoins: Int,
      exchanges: Int, out: String, plans: Seq[String]) {
    override def toString: String =
      productElementNames.zip(productIterator).drop(4).collect {
        case (k, v: Double) => f"$k=$v%.3f"
        case (k, v: Number) => s"$k=$v"
        case (_, out: String) if out.nonEmpty => out
      }.mkString(s"$target $dir rep $rep $leg ", " ", "")
  }

  /** Times one named leg of a rep and returns the leg's result. A leg that
    * returns a `Long` reports it as `rows=N`, one that returns a `String`
    * reports that string. */
  trait Leg { def apply[A](name: String)(body: => A): A }

  /** A target: untimed setup on one dir, returning the body of one rep.
    * The body times its legs through the [[Leg]] it is given; whatever it
    * does outside them is untimed. */
  type Preset = (SparkSession, String) => Leg => Unit

  def main(args: Array[String]): Unit = sys.exit(cli(args))

  /** The CLI without the exit: 2 on bad arguments, before any session is
    * opened; 1 when a target fails; 0 otherwise. The session is stopped
    * however the run ends. */
  private[graft] def cli(args: Array[String]): Int =
    try {
      require(args.length >= 2 && args.length <= 4, "usage: Measure <targets> <dirs> [reps] [k=v,…]")
      val reps = args.lift(2).fold(3)(_.toInt)
      require(reps > 0, s"reps must be positive, got $reps")
      val plan = args(0).split(',').toSeq.flatMap(resolve)
      val overrides = args.lift(3).fold(Seq.empty[(String, String)])(confs)
      val s = Sessions.local()
      try { run(s, plan, args(1).split(',').toSeq, reps, overrides); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally s.stop()
    } catch { case e: IllegalArgumentException => System.err.println(e.getMessage); 2 }

  /** Library entry point: runs every resolved target (see [[resolve]]) on
    * every dir, `reps` times, in `spark`, and returns every record. Conf
    * overrides hold for the run only. Throws on a failed setup or rep;
    * never stops the session. */
  def run(spark: SparkSession, plan: Seq[(String, Preset)], dirs: Seq[String],
      reps: Int, overrides: Seq[(String, String)] = Nil): Seq[Record] = {
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    try for (d <- dirs; (t, p) <- plan; r <- runTarget(spark, meter, t, p, d, reps)) yield r
    finally {
      spark.sparkContext.removeSparkListener(meter)
      spark.listenerManager.unregister(meter)
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  private def runTarget(spark: SparkSession, meter: Meter, t: String,
      preset: Preset, d: String, reps: Int): Seq[Record] = {
    def persisted = spark.sparkContext.getPersistentRDDs
    def release(keep: collection.Set[Int]): Unit =
      persisted.filterNot(kv => keep(kv._1)).values.foreach(_.unpersist(false))
    def failed(what: String, e: Throwable) =
      new RuntimeException(s"[measure] $t on $d, $what failed: $e", e)
    val beforeSetup = persisted.keySet
    try {
      val body = try preset(spark, d) catch { case NonFatal(e) => throw failed("setup", e) }
      val keep = persisted.keySet
      val recs = (1 to reps).flatMap { i =>
        val buf = mutable.ArrayBuffer.empty[Record]
        try body(meter.leg(t, d, i, buf)) catch { case NonFatal(e) => throw failed(s"rep $i", e) }
        finally release(keep)
        buf
      }
      // the min-of-reps line: the fastest rep's record and every rep's wall
      recs.map(_.leg).distinct.foreach { leg =>
        val rs = recs.filter(_.leg == leg)
        println(s"[measure] min ${rs.minBy(_.wallS)} (all: ${rs.map(r => f"${r.wallS}%.2f").mkString(" ")})")
      }
      recs
    } finally release(beforeSetup)
  }

  /** Target names → presets. A declared query name, `scale` or a preset
    * name resolves to itself; any other string to the declared queries it
    * prefixes, and to an error listing every valid name if there are none. */
  def resolve(t: String): Seq[(String, Preset)] = {
    val qs = SparkEntry.queries
    val names =
      if (t == "scale") Scale
      else if (qs.contains(t)) Seq(t)
      else qs.keys.toSeq.sorted.filter(q => t.nonEmpty && q.startsWith(t))
    if (names.isEmpty && !presets.contains(t))
      throw new IllegalArgumentException(s"unknown target '$t'; a target is a preset, " +
        "scale, or a declared query or prefix of one:\n  " +
        (presets.keys.toSeq.sorted ++ Seq("scale") ++ qs.keys.toSeq.sorted).mkString("\n  "))
    presets.get(t).fold(names.map(n => n -> query(n, qs(n))))(p => Seq(t -> p))
  }

  /** Conf overrides `k=v,k=v`, each split at its first `=`. */
  private[graft] def confs(arg: String): Seq[(String, String)] =
    arg.split(',').toSeq.map(kv => kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => k -> v
      case _ => throw new IllegalArgumentException(s"conf override '$kv' is not key=value")
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def query(name: String, fn: (SparkSession, String) => DataFrame): Preset =
    (s, d) => leg => leg(name)(noop(fn(s, d)))

  /** The listener side of the record, as one `SparkListener` and one
    * `QueryExecutionListener` that [[run]] attaches. The per-leg totals are
    * written on the bus thread and read under `this` after [[drain]]. */
  private final class Meter(sc: SparkContext)
      extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
    private val MarkerKey = "graft.measure.marker"
    private val planKinds = Seq(classOf[BroadcastHashJoinExec], classOf[SortMergeJoinExec],
      classOf[ShuffledHashJoinExec], classOf[ShuffleExchangeLike])
    private val planCounts = new Array[Int](planKinds.size)
    private var starts, ends, markerTasks, jobs, bareJobs = 0
    // per-task metrics, summed per leg in Record's order: CPU ns, run ms,
    // GC ms, shuffle read and write bytes, spilled bytes
    private val taskMetrics: Seq[TaskMetrics => Long] = Seq(_.executorCpuTime,
      _.executorRunTime, _.jvmGCTime, _.shuffleReadMetrics.totalBytesRead,
      _.shuffleWriteMetrics.bytesWritten, m => m.memoryBytesSpilled + m.diskBytesSpilled)
    private val taskSums = new Array[Long](taskMetrics.size)
    private val markerStages = mutable.Set.empty[Int]
    private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    private val plans = mutable.ArrayBuffer.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts += 1
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markerStages ++= e.stageIds
      else {
        jobs += 1
        if (Option(e.properties).forall(_.getProperty(SQLExecution.EXECUTION_ID_KEY) == null))
          bareJobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ends += 1
      notifyAll()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (markerStages(e.stageId)) markerTasks += 1
      else {
        taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach(m =>
          taskMetrics.indices.foreach(i => taskSums(i) += taskMetrics(i)(m)))
      }
    }

    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      // walks into AQE subtrees and query stages, whose `children` are Nil
      val nodes = mapPlans(qe.executedPlan)(identity)
      val plan = s"$fn: ${qe.explainString(FormattedMode)}"
      synchronized {
        planKinds.indices.foreach(i => planCounts(i) += nodes.count(planKinds(i).isInstance))
        plans += plan
      }
    }

    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Run a one-task marker job, then wait until the bus has delivered its
      * task and every job start has its end: the marker's end, and with it
      * every event posted before, has then been delivered. */
    private def drain(): Unit = {
      val want = synchronized(markerTasks) + 1
      sc.setLocalProperty(MarkerKey, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      val deadline = System.currentTimeMillis() + 60000L
      synchronized {
        while (markerTasks < want || starts != ends) {
          require(System.currentTimeMillis() < deadline,
            s"listener bus not drained: $starts job starts, $ends job ends")
          wait(1000)
        }
      }
    }

    /** The [[Leg]] of one rep: it prints each leg's record and appends it
      * to `into`. */
    def leg(t: String, d: String, rep: Int, into: mutable.Buffer[Record]): Leg = new Leg {
      def apply[A](name: String)(body: => A): A = {
        drain()
        synchronized {
          starts = 0; ends = 0; markerTasks = 0; jobs = 0; bareJobs = 0
          java.util.Arrays.fill(planCounts, 0); java.util.Arrays.fill(taskSums, 0L)
          markerStages.clear(); taskSpans.clear(); plans.clear()
        }
        val arts0 = IndexCache.buildSeconds.values.sum
        val ms0 = System.currentTimeMillis()
        val a = body
        val ms1 = System.currentTimeMillis()
        drain()
        val artifactS = IndexCache.buildSeconds.values.sum - arts0
        val out = a match { case n: Long => s"rows=$n"; case s: String => s; case _ => "" }
        val mb = 1048576.0
        synchronized {
          // task time inside [ms0, ms1], each span counted past the end of
          // the ones that started before it; the rest of the wall ran no task
          val busy = taskSpans.map { case (s, e) => (math.max(s, ms0), math.min(e, ms1)) }
            .sortBy(_._1).foldLeft((0L, ms0)) { case ((sum, end), (s, e)) =>
              (sum + math.max(0L, e - math.max(s, end)), math.max(end, e))
            }._1
          val Array(bhj, smj, shj, exch) = planCounts
          val Array(cpuNs, runMs, gcMs, readB, writeB, spillB) = taskSums
          into += Record(t, d, rep, name, (ms1 - ms0) / 1e3, jobs, bareJobs, taskSpans.size,
            cpuNs / 1e9, runMs / 1e3, gcMs / 1e3, readB / mb, writeB / mb, spillB / mb,
            math.max(0L, ms1 - ms0 - busy) / 1e3, artifactS, bhj, smj, shj, exch, out,
            plans.toList)
        }
        println(s"[measure] ${into.last}")
        a
      }
    }
  }

  /** The presets. Each leg preset but `ingest` holds its input fixed
    * against a growing corpus, so a leg that costs ∝ batch stays flat
    * across dirs while one that costs ∝ corpus grows. */
  private val presets: Map[String, Preset] = Map(
    "ingest" -> ingest _, "nb" -> nbUnlearn _, "decide" -> decideItemize _,
    "admission" -> admission _, "bm25append" -> bm25Append _,
    "clusterappend" -> clusterAppend _, "compaction" -> compaction _)

  /** Stored docs 0..999 under fresh ids, with `cols`: a FIXED 1,000-doc
    * batch in which every doc has a stored duplicate, so the dedup probes
    * and the touched-component merges do real work at any corpus size. */
  private def freshCopies(docs: DataFrame, cols: String*): DataFrame =
    docs.filter(col("doc_id") < 1000)
      .select((col("doc_id") + 1000000000L).as("doc_id") +: cols.map(col): _*)

  /** The admission presets' arriving batch, with no embeddings. */
  private def arrivals(s: SparkSession, d: String): DataFrame =
    freshCopies(Tables.documents(s, d), "source", "lang", "text")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .localCheckpoint()

  /** Runs `body` on a private copy of the per-JVM seeded admission state,
    * and deletes the copy when `body` ends, however it ends. */
  private def withSeededState[A](s: SparkSession, d: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_measure")
    try {
      val state = s"$dir/state"
      Admission.cloneSeededState(s, d, state)
      body(state)
    } finally JavaUtils.deleteRecursively(dir.toFile)
  }

  /** The bench's streaming-ingest leg ([[graft.Bench.measureIngest]]); its
    * `sec` times the streaming run only, not the wire-format staging. The
    * dir is not read. */
  private def ingest(s: SparkSession, d: String): Leg => Unit = leg => leg("ingest") {
    val (rows, sec) = Bench.measureIngest(s)
    f"rows=$rows sec=$sec%.3f rows_per_sec=${rows / sec}%.0f"
  }

  /** q149's lifecycle leg by leg: which of append / remove / refit /
    * compile / score carries the wall-clock. */
  private def nbUnlearn(s: SparkSession, d: String): Leg => Unit = { leg =>
    import s.implicits._
    val docs = Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)
    val raw = leg("raw(cached)")(LangId.nbRawCached(s, d))
    val appended = leg("append")(Additive.merge(raw, LangId.NbRaw.deltaOf(
      docs.filter($"doc_id" % 10 === 8).select($"doc_id", $"lang", $"text"))))
    val pruned = leg("remove")(Additive.remove(appended,
      docs.filter($"doc_id" % 7 === 0).select($"doc_id").distinct().localCheckpoint()))
    val m = leg("refit")(LangId.nbModelOf(pruned))
    leg("compile")(m.compiled)
    val test = leg("test-ckpt")(docs.filter($"doc_id" % 10 === 9)
      .select($"doc_id", $"lang", $"text").localCheckpoint())
    leg("score+agg")(noop(
      LangId.langIdScoreDocs(test.select($"doc_id", $"text"), m)
        .join(test.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"lang", $"lang_pred")
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"lang_pred")))
  }

  /** `Admission.decide`'s store probes, each its own job against the
    * seeded state and the fixed 1,000-doc batch:
    *   cdc      — batch LEFT JOIN hash store BY doc_id (store scanned,
    *              batch broadcast);
    *   hdist    — `st.hashes.select(h).distinct()` (the exact-dup screen's
    *              build side: a corpus-sized EXCHANGE, the one
    *              corpus-proportional shuffle in decide);
    *   ndprobe  — lexical near-dup probe against the stored inverted
    *              index (posting scan, keyed join);
    *   embprobe — IVF probe against the stored vector index (cell scan). */
  private def decideItemize(s: SparkSession, d: String): Leg => Unit = {
    import s.implicits._
    // the probes only read the state, so they read the cached seed itself
    val st = Admission.readDedupState(s, Admission.seededStateCached(s, d))
    val b = Admission.normalize(arrivals(s, d))
      .withColumn("h", md5(coalesce($"text", lit(""))))
      .localCheckpoint()
    leg => {
      leg("cdc")(noop(b.join(
        st.hashes.select($"doc_id", $"h".as("h_stored")), Seq("doc_id"), "left")))
      leg("hdist")(noop(b.join(
        st.hashes.select($"h").distinct(), Seq("h"), "left_semi")))
      leg("ndprobe")(noop(TextOps.dedupAgainstIndex(
        b.select($"doc_id", $"text"), st.idx, 0.5)))
      leg("embprobe")(noop(VectorOps.dedupVecAgainstIndex(
        b.filter($"embedding".isNotNull)
          .select($"doc_id".as("vec_id"), $"embedding"), st.vecIdx, 0.4)))
    }
  }

  /** The admission pipeline's cost claim: deciding and appending one
    * arriving micro-batch costs ∝ batch (plus bounded index probes), not
    * corpus. Against a fresh copy of the seeded state per rep and the
    * screens, both built untimed (the deployment's one-time cost):
    *  - `decide`: the full cascade verdict for the batch (CDC probe, NB
    *    quality, three eval screens, hash/MinHash/IVF probes);
    *  - `append`: the admitted survivors landing in all six stores;
    *  - `compact`: folding a 1,000-tombstone ledger into every store — the
    *    amortized per-compaction bill (corpus-proportional by design: one
    *    store rewrite). */
  private def admission(s: SparkSession, d: String): Leg => Unit = {
    import s.implicits._
    val nCorpus = Tables.documents(s, d).count()
    val scr = Admission.screens(s, d)
    val batch = arrivals(s, d)
    println(s"[measure] admission $d setup: corpus=$nCorpus batch=1000")
    leg => withSeededState(s, d) { state =>
      val dec = leg("decide")(Admission.decide(batch,
        Admission.readDedupState(s, state), scr))
      leg("append")(Admission.appendAdmitted(s, state, 0L,
        Admission.normalize(batch).join(
          dec.filter($"status" === "admitted").select($"doc_id"), Seq("doc_id"), "left_semi")))
      leg("compact") {
        // tombstone 1,000 REAL stored ids so the fold removes true store
        // rows (the appended fresh ids would anti-join their own batch
        // partition only)
        batch.select(($"doc_id" - 1000000000L).as("doc_id"))
          .write.mode("overwrite").parquet(s"$state/tombstones/batch=9")
        graft.streaming.Pipeline.compactAdmissionState(s, state)
      }
    }
  }

  /** q137's cost claim: appending the fixed 1,000-doc snapshot to the raw
    * BM25 postings store and serving a bounded request set costs
    * ∝ snapshot + vocabulary + one postings scan, not corpus
    * re-tokenization. The stored artifact is built untimed.
    *  - `append+serve`: the merge of the snapshot's delta (snapshot
    *    tokenize + vocab-bounded df merge) + bm25RawTopK over the merged
    *    postings;
    *  - `rebuild+serve`: the store of the full union corpus + the
    *    same serve — what a deployment without the append path re-pays
    *    every snapshot. */
  private def bm25Append(s: SparkSession, d: String): Leg => Unit = {
    val docs = Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)
    val nCorpus = docs.count()
    val stored = TextOps.Bm25Raw.deltaOf(docs).checkpoint("df")
    val snapshot = freshCopies(docs, "text").localCheckpoint()
    val qrows = TextOps.bm25RawQueryRows(s, d)
    println(s"[measure] bm25append $d setup: corpus=$nCorpus snapshot=1000 queries=${qrows.length}")
    leg => {
      leg("append+serve")(TextOps.bm25RawTopK(Additive.merge(stored,
        TextOps.Bm25Raw.deltaOf(snapshot)).checkpoint("df"), qrows, 5).count())
      leg("rebuild+serve")(TextOps.bm25RawTopK(TextOps.Bm25Raw.deltaOf(
        docs.select("doc_id", "text").unionByName(snapshot)), qrows, 5).count())
    }
  }

  /** q135's cost claim: incremental cluster maintenance costs ∝ snapshot,
    * not corpus. The full-corpus clustering and MinHash index are built
    * untimed; `serve` is what a daily append of the fixed 1,000-doc
    * snapshot pays: index probe (new×old pairs), snapshot-internal LSH and
    * appendToClusters. */
  private def clusterAppend(s: SparkSession, d: String): Leg => Unit = {
    import s.implicits._
    val docs = Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)
    val nCorpus = docs.count()
    val labels = TextOps.dedupClustersCached(s, d).localCheckpoint()
    val shingled = TextOps.shingleDocs(docs).persist()
    val idx = try {
      val built = TextOps.buildMinHashIndex(shingled)
      TextOps.MinHashIndex(built.bands.localCheckpoint(), built.shingles.localCheckpoint())
    } finally shingled.unpersist()
    val snapshot = freshCopies(docs, "text").localCheckpoint()
    println(s"[measure] clusterappend $d setup: corpus=$nCorpus snapshot=1000")
    leg => leg("serve") {
      val newOld = TextOps.dedupAgainstIndex(snapshot, idx)
        .select($"new_doc_id".as("u"), $"old_doc_id".as("v"))
      val fresh = TextOps.shingleDocs(snapshot).persist()
      val newNew =
        try TextOps.nearDupPairsLshFromShingled(fresh).select($"i".as("u"), $"j".as("v"))
        finally fresh.unpersist()
      TextOps.appendToClusters(labels, newOld.unionByName(newNew)).count()
    }
  }

  /** Ledger batches folded per compaction, one leg each. */
  private val CompactionBatches = Seq(1, 10, 100)

  /** The tombstone ledger's amortization claim: ONE
    * `compactAdmissionState` rewrite folds MANY takedown batches, so the
    * per-batch cost (fold seconds / N) falls ∝ 1/N toward one rewrite. Per
    * N: clone the seeded state and append N ledger batches of 1,000
    * DISJOINT stored ids (real store rows — doc_id % 10 < 8 — so every
    * store family anti-joins true victims), untimed; then time one fold. */
  private def compaction(s: SparkSession, d: String): Leg => Unit = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val nCorpus = docs.count()
    // batch b takes the stored ids in [b·1250, (b+1)·1250): exactly 1,000
    // of each 1,250-id stripe are stored under the % 10 < 8 split
    val stripes = CompactionBatches.max * 1250L
    // the largest leg's victims stay at most a fifth of the corpus (their
    // share at the 500k-doc corpus SCALE.md measured): past that, the fold
    // rewrites a store that lost most of its rows, and reads less than
    // the 1-batch fold does
    val minCorpus = CompactionBatches.max * 1000L * 5
    require(nCorpus >= minCorpus, s"compaction needs a corpus of at least $minCorpus docs " +
      s"(${CompactionBatches.max} batches of 1,000 victims at most 20 % of it); $d has $nCorpus")
    val stored = docs.select($"doc_id")
      .filter($"doc_id" % 10 < 8 && $"doc_id" < stripes)
      .localCheckpoint()
    println(s"[measure] compaction $d setup: corpus=$nCorpus")
    leg => CompactionBatches.foreach { n =>
      withSeededState(s, d) { state =>
        (0 until n).foreach { b =>
          stored.filter($"doc_id" >= b * 1250L && $"doc_id" < (b + 1) * 1250L)
            .write.mode("overwrite").parquet(s"$state/tombstones/batch=${100 + b}")
        }
        leg(s"n_batches=$n") {
          graft.streaming.Pipeline.compactAdmissionState(s, state)
          s"victims=${n * 1000}"
        }
      }
    }
  }

  /** `scale`: the dedup/ANN/CC family and its neighbours, run over the
    * GenCorpus synthetic corpora for SCALE.md's measured scaling curves. */
  private val Scale = Seq(
    "q17_dedup_exact", "q18_neardup_jaccard", "q19_neardup_minhash_lsh",
    "q47_dedup_clusters", "q38_neardup_embedding", "q75_semantic_dedup",
    "q67b_heavy_hitters_sketch", "q70_token_budget_trim",
    // round-6 additions: note the %50 query convention means the ANN
    // query COUNT grows with the corpus too — q78's full ADC is nq·n·M
    // by design (the declared brute-force-complete baseline; q79 is the
    // pruned path)
    "q78_pq_adc_ann", "q79_ivfpq_ann", "q80_corpus_drift", "q81_embedding_drift",
    // round-13: the exact-vs-approximate serving A/B the x100 replay
    // graded (VERDICT r12 #4) — q25 is the declared exact baseline
    // (%50 request set grows with the corpus), q26 the scan-local
    // multiprobe LSH kernel that must beat it
    "q25_knn_cosine_exact", "q26_knn_ann_lsh",
    // round-14: the IVF probe path, rebuilt scan-local (IvfScanTopK)
    // after VERDICT r13 #1 caught the probe equi-join at 21.7 s / x100
    "q39_knn_ann_ivf",
    // round-13 (cont.): the exact-pool consumers, rebuilt over the
    // CosineScanTopK serving core with q25
    "q104_ann_recall_audit",
    // round-7 additions: the incremental dedup pair. Both go through the
    // per-JVM IndexCache, so rep 1 pays index build + probe and later
    // reps probe only — min-of-reps ≈ the per-snapshot serving cost.
    // NOTE the %10 split rule makes the "arriving snapshot" grow with
    // the corpus (20% of it); a real deployment's snapshot is bounded.
    "q82_dedup_incremental", "q83_dedup_incremental_embedding",
    // retrieval/quality: q84's query set is doc_id % 37 under the
    // absolute QuerySetCap bound (≤100 queries at any corpus size, so
    // the driver-side request collect is O(1) in the corpus); q85's LM
    // tables are vocabulary²-bounded at any corpus size
    "q84_bm25_topk", "q85_lm_perplexity_filter",
    // span surgery: q65's gram-flagging scan + per-row array arithmetic
    // (q65 itself added for the r14 x1000 decade probe — VERDICT r13 #2
    // names it among the corpus scans to break-test at the next decade)
    "q65_dup_ngram_spans", "q86_dedup_span_removal",
    // canonicalization: shares q47's clustering artifact via IndexCache
    // (rep 1 pays LSH+CC, later reps read the artifact — min-of-reps is
    // the post-clustering selection cost: quality scan + broadcast joins
    // + member-bounded window)
    "q91_dedup_canonicalize",
    // graph centrality: 3 power-iteration rounds — each one
    // co-partitioned join + one contribution shuffle over the edge list
    // (edges ∝ corpus tokens, vocabulary-bounded on the term side)
    "q96_textrank_keywords",
    // corpus statistics: q97/q98 are scan + vocabulary-bounded
    // aggregates; q99 is two corpus explodes + small-table joins
    "q97_zipf_slope", "q98_vocab_growth", "q99_pmi_collocations",
    // round-8: the sketch-bounded fraction-support sibling — candidates
    // via one Misra-Gries pass, exact recount of <= k types only
    "q99b_pmi_sketch",
    // round-8: distributed BPE training (48 vocabulary-table rounds,
    // IndexCache'd — rep 1 pays training, min-of-reps is the apply scan)
    "q23b_bpe_token_stats",
    // round-8: md5-featured SimHash + exact verification (banding keeps
    // candidates ~linear; md5 cost is per distinct shingle per doc)
    "q20_simhash_pairs",
    // round-8: trained NB langid — training shuffle vocab×langs bounded,
    // model broadcast, scoring scan-local
    "q100_langid_trained",
    // round-8: weak-supervised quality classifier — q100's shape with a
    // rule-labeling scan on top (both legs scan-local)
    "q102_quality_classifier",
    // round-8: cross-source dup attribution — q19's banded pair
    // generation + two pair-set equi-joins, |sources|²-bounded output
    "q103_cross_source_dup_matrix",
    // round-8: cluster-unit split — one projection + one left join
    // against the pair-bounded cluster artifact (shared with q47/q91)
    "q107_leakage_free_split",
    // round-8: cross-split OOV — map-side token collapse, vocab-bounded
    // join
    "q108_oov_rate",
    // round-8: asymmetric containment — prefix-probe vs full-posting
    // inverted-index join + merge-intersect verification
    "q114_containment_dedup",
    // round-9: perceptual frame near-dup — one (band, bv) exchange over
    // 8 bands x 64-byte frames, capped in-bucket hamming sweep
    "q134_frame_phash_dedup",
    // round-13: the MIH admission probe, rebuilt scan-local
    // (MihMatchScan) after the r12 x100 replay caught its 8-bit
    // ancestor at 764 s and the 4×16-bit join at 129 s
    "q136_frame_phash_admit",
    // round-9: incremental cluster maintenance — rep 1 pays the stored
    // clustering + index artifacts, min-of-reps is the snapshot probe +
    // touched-component CC (the steady-state serving cost)
    "q135_dedup_cluster_append",
    // round-9: retrieval-artifact maintenance — rep 1 pays the stored-
    // split raw-postings artifact (q137) / LM artifact (q138); min-of-
    // reps is snapshot tokenize + vocab-bounded merge + one serve scan.
    // NOTE the %10 split convention again grows the "snapshot" with the
    // corpus; the `bm25append` preset holds it fixed for the
    // cost-∝-snapshot claim
    "q137_bm25_index_append", "q138_lm_append_rescore",
    // round-9: per-window langid — q100's scan-local kernel pass over
    // posexploded chunks + two chunk-row aggregations
    "q139_codeswitch_windows",
    // round-9: ANN admission — rep 1 trains the stored-split codebook
    // artifact; min-of-reps is snapshot encode + one ADC serve scan
    "q140_ann_index_append",
    // round-9: exact-quota stratified split — one bounded stratum count
    // + per-stratum rank window + broadcast quota join
    "q141_stratified_split",
    // round-9: index takedowns — postings/bands anti-joins + vocab-
    // bounded df subtraction; no stored text re-tokenized
    "q142_bm25_index_remove", "q143_dedup_index_remove",
    // round-9: LM takedown — victims' stored postings subtract into
    // vocab-bounded tables; cluster takedown — victim anti-joins +
    // touched-component-only re-clustering
    "q144_lm_remove_rescore", "q145_cluster_remove",
    // round-9: JL projection (scan-local per-row pass) and its sampled
    // adjacent-pair distance audit
    "q146_jl_projection", "q147_jl_distance_audit",
    // round-9: two-stage compressed retrieval — stage 1 is a broadcast
    // scan over 4x-smaller vectors for an ABSOLUTELY BOUNDED request
    // set (<= 100 at any corpus size, the QuerySetCap device), stage 2
    // reranks the nq*100-bounded candidates in full dimension
    "q148_jl_prefilter_knn",
    // round-9: NB machine unlearning — victim postings + vocab×langs
    // merges + closed-form refit; scoring is the NbScore scan
    "q149_nb_unlearn",
    // round-10: hard negatives (one BM25 serving scan + candidate-
    // bounded Jaccard verification), per-source data cards (one narrow
    // projection + two map-side-combined aggs), matryoshka audit
    // (%31-bounded pair sample × 3 budgets)
    "q150_hard_negatives", "q151_source_data_cards", "q152_matryoshka_audit",
    "q153_retrieval_eval_neardup", "q154_curriculum_phases",
    "q155_neardup_label_qa", "q156_semantic_hard_negatives", "q157_keyframe_selection",
    "q158_dedup_survivor_weights",
    // round-11: deferred-deletion lifecycle (ledger append + two
    // victim-bounded masked serves + one amortized store rewrite) and
    // the pruned dense-negative pool (q148's two-stage composition +
    // one bounded anti-join against the cluster edge artifact)
    "q159_deferred_deletion_lifecycle", "q156b_semantic_negatives_pruned",
    // round-11 (cont.): eval-bounded banded probe of the training-corpus
    // index; three batch-proportional store merges + sources-bounded render
    "q160_neardup_decontamination", "q161_data_card_append",
    "q162_data_card_remove",
    // round-11 (cont.): chunk-store build (IndexCache'd) + one scan-local
    // bounded-heap serve + nq*20-bounded doc pooling
    "q163_maxpassage_bm25", "q166_maxpassage_index_append",
    "q167_maxpassage_index_remove", "q168_hybrid_maxpassage_rrf",
    "q169_semantic_decontamination",
    // round-11 (cont.): FFD packing audit (q50's per-group pack + two
    // doc-level aggs), per-lang fertility (q23b's cached merges +
    // scan-local BpeEncode), snapshot diff (one co-partitioned
    // full-outer join on doc_id over two narrow hash projections)
    "q172_packing_efficiency", "q173_tokenizer_fertility",
    "q174_snapshot_diff",
    // round-11 (cont.): tokenizer version drift (two plan-literal merges
    // tables into one stored-split scan; rep 1 carries the v1 artifact),
    // truncation loss (one scan, all budgets in one map-side agg)
    "q175_tokenizer_drift", "q176_truncation_loss",
    // round-11 (cont.): DP marginal release — three map-side group-bys
    // to key-bounded marginals + per-group scalar noise arithmetic
    "q171_dp_marginal_release",
    // round-11 (cont.): vocab-coverage curve (one word-count agg, all
    // downstream vocab-bounded) and the dedup-threshold sweep (five
    // filters over q18's verified pair frame)
    "q177_vocab_coverage", "q178_dedup_threshold_sweep",
    // round-13: the composed admission lifecycles. NOTE their %-split
    // fixture batches GROW with the corpus by declaration — the
    // batch-bounded per-micro-batch claim is the `admission` preset's job
    // (fixed 1,000-doc batch); these rows price the declared audit
    // compositions themselves
    "q180_admission_pipeline", "q181_revision_lifecycle",
    // round-11 (cont.): the three-screen decontamination stack — every
    // leg eval-bounded (distinct-eval-shingle semi-join, index probe,
    // broadcast dense scan)
    "q179_decontamination_stack")
}
