package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a layer, recorded from the benchmark's side
  * of the call. `parent` is the id of the enclosing span (0 at the root). */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, seconds: Double)

/** Spark-side totals of one traced phase. */
final case class SparkTotals(jobs: Int, stages: Int, tasks: Long, cpuS: Double,
    runS: Double, gcS: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
    spillMb: Double, planS: Double, driverOnlyS: Double,
    partitionsRead: Long, partitionsTotal: Long)

/** Where a traced phase's time went, collected without touching the engine:
  * spans around the benchmark's own calls into each layer, each run under
  * its own Spark job group; a `SparkListener` that attributes jobs, stages
  * and task metrics to those groups; a `QueryExecutionListener` for plan
  * time and file-scan partition pruning. Everything stays in memory until
  * [[Tracer.finish]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val stack = mutable.Stack[(Int, String)]((0, ""))
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val startMs = System.currentTimeMillis()

  private final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L)
  // listener-bus state: written on the bus thread, read after drain()
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private var jobStarts = 0
  private var jobEnds = 0
  private var stages = 0
  private var tasks = 0L
  private var cpuNs, runMs, gcMs, shufRead, shufWrite, spill = 0L
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var planMs = 0L
  private var partsRead, partsTotal = 0L
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs(e.jobId) = Job(e.jobId, g, e.time)
      jobStarts += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      jobEnds += 1
      lock.notifyAll()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      val scans = fileScans(qe.executedPlan)
      lock.synchronized {
        planMs += plan
        scans.filter(seenScans.add).foreach { s =>
          s.metrics.get("numPartitions").foreach(m => partsRead += m.value)
          s.relation.location match {
            case f: PartitioningAwareFileIndex if s.relation.partitionSchema.nonEmpty =>
              partsTotal += f.partitionSpec().partitions.size
            case _ =>
          }
        }
      }
    }
  }

  /** File scans of an executed plan, through AQE stages, subqueries and
    * cached relations (a persisted frame's scan lives in its cached plan). */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanLike] = {
    val own = p match {
      case s: FileSourceScanLike => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
      case _ => Nil
    }
    own ++ p.children.flatMap(fileScans) ++ p.subqueries.flatMap(fileScans)
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  /** Run `f` as one span under its own job group; returns its result. */
  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.top._1
    val group = s"perfbench.$id"
    groupSpan.put(group, id)
    stack.push((id, name))
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try f
    finally {
      val secs = Stats.secondsSince(t0)
      stack.pop()
      stack.top match {
        case (0, _) => sc.clearJobGroup()
        case (outer, outerName) => sc.setJobGroup(s"perfbench.$outer", outerName)
      }
      spanBuf += Span(id, parent, name, ms0, System.currentTimeMillis(), secs)
    }
  }

  /** Attribute jobs that run under another group (a streaming query sets
    * its run id as the job group) to the span that started them. */
  def adopt(group: String): Unit = groupSpan.put(group, stack.top._1)

  /** Wait until the listener bus has delivered every event of the work
    * done so far: submit a marker job, then block until its end is seen
    * and job starts and ends match. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val marker = s"perfbench.drain.${ids.incrementAndGet()}"
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(marker, "listener bus drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, "")
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      def done = jobStarts == jobEnds &&
        jobs.valuesIterator.exists(j => j.group == marker && j.endMs >= 0)
      while (!done) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"listener bus not drained: $jobStarts job starts, $jobEnds job ends")
        lock.wait(left)
      }
    }
  }

  def spans: Seq[Span] = spanBuf.toSeq

  /** Jobs per span id. */
  def jobsBySpan: Map[Int, Int] = lock.synchronized {
    jobs.valuesIterator.flatMap(j => Option(j.group).flatMap(g => Option(groupSpan.get(g))))
      .toSeq.groupBy(_.intValue).map { case (k, v) => k -> v.size }
  }

  /** Drain, detach the listeners and total the phase. */
  def finish(): SparkTotals = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    val endMs = System.currentTimeMillis()
    lock.synchronized {
      val userJobs = jobs.valuesIterator.count(j => j.group == null || !j.group.startsWith("perfbench.drain."))
      // union of task intervals; the rest of the phase ran no task at all
      var busy = 0L
      var curS, curE = -1L
      taskSpans.sortBy(_._1).foreach { case (s0, e0) =>
        val s = math.max(s0, startMs); val e = math.min(e0, endMs)
        if (e > s) {
          if (s > curE) { busy += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      busy += curE - curS
      SparkTotals(userJobs, stages, tasks, cpuNs / 1e9, runMs / 1e3, gcMs / 1e3,
        shufRead / 1048576.0, shufWrite / 1048576.0, spill / 1048576.0,
        planMs / 1e3, (endMs - startMs - busy) / 1e3, partsRead, partsTotal)
    }
  }

  /** Spans and job records as tab-separated lines:
    * `span  id  parent  name  start_ms  end_ms  seconds` and
    * `job  id  span  group  start_ms  end_ms` (span 0: outside every span). */
  def write(path: java.nio.file.Path): Unit = {
    val spanLines = spans.map(s =>
      Seq("span", s.id, s.parent, s.name, s.startMs, s.endMs, s.seconds).mkString("\t"))
    val jobLines = lock.synchronized(jobs.valuesIterator.toSeq).map(j => Seq("job", j.id,
      Option(j.group).flatMap(g => Option(groupSpan.get(g))).fold("0")(_.toString),
      Option(j.group).getOrElse("-"), j.startMs, j.endMs).mkString("\t"))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, (spanLines ++ jobLines).mkString("", "\n", "\n"))
  }
}
