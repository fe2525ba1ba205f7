package graft.dev

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The measurement CLI (dev/Measure.scala): records read from its one
  * listener pair, drained by a marker job, and loud failures on bad input. */
class MeasureSpec extends SparkSpec {

  /** (rep, wall, CPU-s, jobs) summed over each rep's legs. */
  private def repTotals(recs: Seq[Measure.Record]) = recs.groupBy(_.rep).toSeq.sortBy(_._1)
    .map { case (rep, rs) => (rep, rs.map(_.wallS).sum, rs.map(_.cpuS).sum, rs.map(_.jobs).sum) }

  test("a declared query: every rep has wall, CPU and jobs, and rep 2 counts what rep 1 counted") {
    val recs = Measure.run(spark, Measure.resolve("q06_distinct_users"), Seq(sf0001), 2)
    assert(recs.map(r => (r.target, r.leg, r.rep)) ==
      Seq(("q06_distinct_users", "q06_distinct_users", 1), ("q06_distinct_users", "q06_distinct_users", 2)))
    recs.foreach { r =>
      assert(r.wallS > 0 && r.cpuS > 0 && r.jobs >= 1 && r.tasks >= r.jobs, r)
      assert(r.artifactS == 0.0, r)
    }
    // the query is deterministic, so a job or task of rep 1 delivered late
    // would show up as a difference here
    assert(recs(1).jobs == recs(0).jobs, recs)
    // its table read resolves the schema on the driver: every job runs
    // inside the noop write's SQL execution
    assert(recs(1).bareJobs == 0, recs(1))
    assert(recs(1).tasks == recs(0).tasks, recs)
  }

  test("the nb preset: every rep runs its named legs, with wall, CPU and jobs") {
    val recs = Measure.run(spark, Measure.resolve("nb"), Seq(sf0001), 2)
    val legs = Seq("raw(cached)", "append", "remove", "refit", "compile", "test-ckpt", "score+agg")
    assert(recs.map(r => (r.rep, r.leg)) == (1 to 2).flatMap(i => legs.map(i -> _)))
    val reps = repTotals(recs)
    assert(reps.size == 2)
    reps.foreach { case (rep, wall, cpu, jobs) =>
      assert(wall > 0 && cpu > 0 && jobs >= 1, s"rep $rep: wall=$wall cpu=$cpu jobs=$jobs")
    }
  }

  test("the admission preset deletes the state copy each rep clones") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def clones = tmp.listFiles().count(f => f.isDirectory && f.getName.startsWith("graft_measure"))
    val before = clones
    val recs = Measure.run(spark, Measure.resolve("admission"), Seq(sf0001), 1)
    assert(recs.map(_.leg) == Seq("decide", "append", "compact"))
    assert(clones == before, s"$before graft_measure dirs before the run, $clones after")
  }

  test("the compaction preset refuses a corpus its victims would hollow out") {
    val e = intercept[RuntimeException](
      Measure.run(spark, Measure.resolve("compaction"), Seq(sf0001), 1))
    assert(e.getMessage.contains(s"compaction on $sf0001, setup failed"), e.getMessage)
    assert(e.getMessage.contains("at least 500000 docs"), e.getMessage)
    assert(e.getMessage.contains(s"$sf0001 has 500"), e.getMessage)
  }

  test("the drain marker is never counted: a leg with no job records none, a one-job leg one") {
    val sc = spark.sparkContext
    val preset: Measure.Preset = (_, _) => leg => {
      leg("none")(())
      leg("one")(sc.parallelize(1 to 4, 2).count())
    }
    val recs = Measure.run(spark, Seq("probe" -> preset), Seq("d"), 2)
    recs.filter(_.leg == "none").foreach { r =>
      assert(r.jobs == 0 && r.tasks == 0 && r.cpuS == 0.0 && r.exchanges == 0, r)
    }
    recs.filter(_.leg == "one").foreach { r =>
      assert(r.jobs == 1 && r.tasks == 2 && r.out == "rows=4", r)
    }
    assert(recs.size == 4)
  }

  test("bareJobs counts the jobs that ran outside any SQL execution") {
    val sc = spark.sparkContext
    val preset: Measure.Preset = (s, _) => leg => {
      leg("rdd")(sc.parallelize(1 to 2).count())
      leg("sql")(s.range(4).count())
    }
    val recs = Measure.run(spark, Seq("bare" -> preset), Seq("d"), 1)
    assert(recs.map(r => (r.leg, r.bareJobs)) == Seq("rdd" -> 1, "sql" -> 0), recs)
    assert(recs.forall(_.jobs >= 1), recs)
  }

  test("an unknown target fails before any work and lists the valid names") {
    val e = intercept[IllegalArgumentException](Measure.resolve("no_such_target"))
    Seq("no_such_target", "nb", "compaction", "scale", "q06_distinct_users", "q181_revision_lifecycle")
      .foreach(n => assert(e.getMessage.contains(n), e.getMessage))
    // the CLI exits 2 on it without opening a session, as on a bad rep count
    assert(Measure.cli(Array("no_such_target", sf0001)) == 2)
    assert(Measure.cli(Array("q06_distinct_users", sf0001, "0")) == 2)
    assert(Measure.cli(Array("q06_distinct_users")) == 2)
    // a prefix resolves to every declared query it starts, `scale` to its list
    assert(Measure.resolve("q99").map(_._1) == Seq("q99_pmi_collocations", "q99b_pmi_sketch"))
    assert(Measure.resolve("q99_pmi_collocations").map(_._1) == Seq("q99_pmi_collocations"))
    assert(Measure.resolve("scale").size == 82)
    intercept[IllegalArgumentException](Measure.resolve(""))
  }

  test("a conf override splits at its first '=' and holds for the run only") {
    assert(Measure.confs("a.b=x=y,c=1,d=") == Seq("a.b" -> "x=y", "c" -> "1", "d" -> ""))
    Seq("novalue", "=v", "a=1,,b=2").foreach { bad =>
      intercept[IllegalArgumentException](Measure.confs(bad))
    }
    assert(Measure.cli(Array("q06_distinct_users", sf0001, "1", "novalue")) == 2)
    val key = "spark.graft.measureSpec.k"
    var seen = Option.empty[String]
    val preset: Measure.Preset = (s, _) => leg => leg("read") { seen = s.conf.getOption(key) }
    Measure.run(spark, Seq("conf" -> preset), Seq("d"), 1, Measure.confs(s"$key=v=w"))
    assert(seen.contains("v=w"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("a rep that throws names its target, dir and rep") {
    val preset: Measure.Preset = (_, _) => {
      var rep = 0
      leg => { rep += 1; leg("boom")(if (rep == 2) sys.error("leg failed") else 1L) }
    }
    val e = intercept[RuntimeException](
      Measure.run(spark, Seq("flaky" -> preset), Seq("/some/dir"), 3))
    assert(e.getMessage.contains("flaky on /some/dir, rep 2 failed"), e.getMessage)
    assert(e.getMessage.contains("leg failed"), e.getMessage)
    val q = intercept[RuntimeException](
      Measure.run(spark, Measure.resolve("q06_distinct_users"), Seq("/no/such/dir"), 1))
    assert(q.getMessage.contains("q06_distinct_users on /no/such/dir, rep 1 failed"), q.getMessage)
    // the listeners are detached: a later run still counts exactly
    val sc = spark.sparkContext
    val one: Measure.Preset = (_, _) => leg => leg("one")(sc.parallelize(1 to 4, 2).count())
    assert(Measure.run(spark, Seq("one" -> one), Seq("d"), 1).map(_.jobs) == Seq(1))
  }

  test("the CLI exits 1 on a failed rep, naming it, and ends its JVM") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      jvm ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.dev.Measure", "q06_distinct_users", "/no/such/dir", "1")
    val log = java.nio.file.Files.createTempFile("measure_cli", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val exited = p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly()
    val out = java.nio.file.Files.readString(log)
    java.nio.file.Files.delete(log)
    assert(exited, s"the CLI's JVM did not exit: ${out.takeRight(2000)}")
    assert(p.exitValue() == 1, out.takeRight(2000))
    assert(out.contains("q06_distinct_users on /no/such/dir, rep 1 failed"), out.takeRight(2000))
  }

  test("source guard: one listener pair, one release site and no sleeping in dev/") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/dev")
    assert(java.nio.file.Files.isDirectory(dir), s"run from the repository root: $dir")
    val files = java.nio.file.Files.list(dir)
    val text = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(java.nio.file.Files.readString).mkString("\n")
    finally files.close()
    def occurrences(s: String) = text.split(java.util.regex.Pattern.quote(s), -1).length - 1
    assert(occurrences("Thread.sleep") == 0, "drain the listener bus with a marker job")
    Seq("addSparkListener", "listenerManager.register", "getPersistentRDDs").foreach { s =>
      assert(occurrences(s) == 1, s"`$s` belongs to Measure's one harness")
    }
  }
}
