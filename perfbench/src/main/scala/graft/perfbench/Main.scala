package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <dir> --work <dir> --expected <file>
  *        --traces <dir> --out <file> [--smoke]
  *   Main --record <file> --cores <n> --data <dir> ...
  *
  * The session comes from `Sessions.local(cores)` with no conf overrides,
  * so engine configuration changes show in the numbers. The run prepares
  * the workload once, then makes its rounds of set-up and measurement;
  * set-up time is session start plus preparation plus the median round
  * set-up. With `--trace 1` the third round is traced, and its per-layer
  * metrics replace the end-to-end ones. `--out`
  * gets tab-separated lines that run.py turns into the result:
  * `metric name value`, `named name value unit`, `info key value`,
  * `attempted n`, `failed n` and `mismatch text`.
  */
object Main {

  /** Heap the run still holds after a full collection: what the engine
    * keeps (caches, session state), not when the collector ran. Spark's
    * cleaner frees broadcasts and shuffles of collected references on its
    * own thread, so collect once more after it has had time to. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val smoke = args.contains("--smoke")
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath

    val (spark, sessionS) = Stats.timed(Sessions.local(cores))
    if (opts.contains("record")) {
      QuerySuite.record(spark, data.resolve("sf0.001").toString, Paths.get(opts("record")))
      spark.stop()
      return
    }

    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val c = Ctx(spark, seed, opt("seconds").toInt, work, data, smoke)
    val w: Workload = workload match {
      case "fleet_ingest" => new FleetIngest(c)
      case "query_suite" => new QuerySuite(c, Paths.get(opt("expected")))
      case other => sys.error(s"unknown workload '$other'")
    }

    // round 1 warms the JVM: its set-up is one of the set-ups whose median
    // is reported and its checks count, but its timings do not. A traced
    // run makes round 1, an untraced round 2 to compare against, and a
    // traced round 3
    val (prepared, prepareS) = Stats.timed(w.prepare())
    val rounds = (1 to (if (trace) 3 else w.rounds)).map { r =>
      val (_, setupS) = Stats.timed(w.setup(r))
      val tracer = Option.when(trace && r == 3)(new Tracer(spark))
      val (m, measureS) = Stats.timed(w.measure(r, tracer))
      System.err.println(f"[perfbench] round $r: set-up $setupS%.3f s, measured $measureS%.3f s")
      (setupS, m, tracer)
    }
    val setupS = rounds.map(_._1)
    val plain = rounds.collect { case (_, m, None) => m }.tail
    val all = Measured.combine(plain)
    val p50 = Stats.median(all.latencies)
    val p90 = Stats.quantile(all.latencies, 0.9)
    val throughput = all.work / all.workS

    val out = Seq.newBuilder[Seq[Any]]
    rounds.last match {
      case (_, traced, Some(tracer)) =>
        val t = tracer.finish()
        tracer.write(Paths.get(opt("traces")).resolve(s"trace-$workload-seed$seed.tsv"))
        // against the untraced round just before, which also ran in a warm
        // JVM right after a set-up
        val overhead = Stats.median(traced.latencies) - Stats.median(plain.last.latencies)
        val layers = traced.layers ++ w.layerTimings() ++ Map(
          "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
          "spark.tasks_per_stage" -> (if (t.stages == 0) 0.0 else t.tasks.toDouble / t.stages),
          "spark.executor_cpu_s" -> t.cpuS, "spark.executor_run_s" -> t.runS,
          "spark.gc_s" -> t.gcS, "spark.shuffle_read_mb" -> t.shuffleReadMb,
          "spark.shuffle_write_mb" -> t.shuffleWriteMb, "spark.spill_mb" -> t.spillMb,
          "spark.plan_s" -> t.planS, "spark.driver_only_s" -> t.driverOnlyS,
          "trace.overhead_s" -> overhead)
        layers.toSeq.sortBy(_._1).foreach { case (k, v) => out += Seq("metric", k, v) }
      case _ =>
        out += Seq("metric", "setup_s", sessionS + prepareS + Stats.median(setupS))
        out += Seq("metric", "p50_s", p50)
        out += Seq("metric", "throughput_per_s", throughput)
        out += Seq("metric", "live_heap_mb", liveHeapMb())
    }
    val shown = Measured.combine(prepared +: rounds.map(_._2))

    w.named(p50, p90, throughput).foreach { case (k, v, u) => out += Seq("named", k, v, u) }
    out += Seq("info", "peak_rss_mb", peakRssMb())
    out += Seq("info", "session_s", sessionS)
    out += Seq("info", "prepare_s", prepareS)
    out += Seq("info", "setup_rounds_s", setupS.mkString(","))
    out += Seq("info", "latency_samples", all.latencies.size)
    out += Seq("info", "spark_version", spark.version)
    out += Seq("info", "jvm_version", System.getProperty("java.vm.version"))
    out += Seq("attempted", shown.attempted)
    out += Seq("failed", shown.failed)
    shown.mismatches.foreach { m =>
      System.err.println(s"[perfbench] MISMATCH $m")
      out += Seq("mismatch", m.replaceAll("\\s+", " "))
    }
    Files.writeString(Paths.get(opt("out")),
      out.result().map(_.mkString("\t")).mkString("", "\n", "\n"))
    spark.stop()
    if (shown.failed > 0) sys.exit(3)
  }
}
