package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The reflective `spark.sql.extensions` loading contract: a fresh
  * session built the way `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions` builds one (no-arg
  * construction by class name, no `Sessions` call) resolves every kernel
  * of the [[GraftExtensions]] table from SQL. `Sessions.builder` adds the
  * same extension, so the other suites run on this injection path too;
  * this spec pins that it works with nothing but the class name, and that
  * the table stays the only static registration path.
  */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtensionSession[A](f: SparkSession => A): A = {
    val base = Sessions.local(4) // ensure the shared SparkContext exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // the exact loading contract spark-submit uses: no-arg reflective
      // construction of a Function1[SparkSessionExtensions, Unit]
      val ext = Class.forName("graft.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[SparkSessionExtensions => Unit]
      val s = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(ext)
        .getOrCreate()
      assert(s ne base, "a fresh session, not the shared one")
      f(s)
    } finally {
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("every injected function resolves from SQL with no imperative registration") {
    withExtensionSession { s =>
      val ws = s.sql("SELECT word_stats('a b a').n_words AS n").head().getLong(0)
      assert(ws == 3L)
      val cos = s.sql(
        "SELECT quantized_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-6)
      // the remaining injections: resolution is the regression surface
      // (name typo / arity / dropped block), so a parse+analyze suffices
      val resolveOnly = Seq(
        "SELECT minhash_signature(word_shingles('a b c d'))",
        "SELECT simhash64(word_shingles('a b c d'))",
        "SELECT winnow_fingerprint('abcdefghijkl')",
        "SELECT shingle_hashes('a b c d')",
        "SELECT hyperplane_sigs(array(1.0F, 2.0F))",
        "SELECT quantize_vec(array(0.5F))",
        "SELECT sorted_intersect_count(array(1L, 2L), array(2L, 3L))",
        "SELECT ppjoin_pairs(array(named_struct('doc_id', 1L, 'n', 10, 'rk', 1), " +
          "named_struct('doc_id', 2L, 'n', 10, 'rk', 2)), 0.5D, 4096)",
        "SELECT pq_adc(array(0, 1), array(1L, 2L, 3L, 4L), 2)",
        "SELECT bpe_encode('ab ab', array(struct('a', 'b')))",
        "SELECT char_grams('abcd')",
        "SELECT bigram_hashes('a b c')",
        "SELECT bigram_spans('a b c')",
        "SELECT sorted_intersect(array(1L, 2L), array(2L, 3L))",
        "SELECT dtw_dist(array(1L, 2L), array(1L, 3L))",
        "SELECT freq_sketch_long(h, 16) FROM (SELECT xxhash64('a') AS h)",
        "SELECT simhash_bucket_pairs(array(named_struct('doc_id', 1L, 'simhash', 1L), " +
          "named_struct('doc_id', 2L, 'simhash', 3L)), 7, 4096)",
        "SELECT char_gram_counts('abcd')",
        "SELECT dhash64(encode('abcdefgh', 'UTF-8'))",
        "SELECT jl_project(array_repeat(1.0F, 64))",
        "SELECT long_cosine(array(1L, 2L), array(2L, 3L))")
      resolveOnly.foreach(q => assert(s.sql(q).count() == 1, q))
      // aggregates inject too: MG sketch end-to-end, bloom build+probe
      // round-trip (build over xxhash64'd values, probe one present and
      // one absent)
      val hh = s.sql(
        "SELECT freq_sketch(t) AS sk FROM VALUES ('a'),('b'),('a') AS v(t)")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(hh.map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 2L, "b" -> 1L))
      // the probe's bloom argument must be a constant or scalar subquery
      // (the engine passes a collected literal; SQL users use a subquery).
      // The subquery path once fell out of codegen (Spark's internal
      // BloomFilterMightContain logs `ERROR CodeGenerator ... not an
      // rvalue` and de-optimizes to the interpreter); graft's BloomProbe
      // must run it clean — capture the codegen logger and assert zero
      // ERROR events while the probe executes.
      val codegenErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graft-codegen-capture", null, null, false,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          if (e.getLevel == org.apache.logging.log4j.Level.ERROR &&
              e.getLoggerName.contains("CodeGenerator"))
            codegenErrors.add(e.getMessage.getFormattedMessage)
      }
      appender.start()
      val logCtx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      logCtx.getConfiguration.getRootLogger
        .addAppender(appender, org.apache.logging.log4j.Level.ERROR, null)
      logCtx.updateLoggers()
      try {
        val probes = s.sql(
          """SELECT bloom_might_contain(
                 (SELECT bloom_agg(xxhash64(t), 10L) FROM VALUES ('x'),('y') AS v(t)),
                 xxhash64('x')),
               bloom_might_contain(
                 (SELECT bloom_agg(xxhash64(t), 10L) FROM VALUES ('x'),('y') AS v(t)),
                 xxhash64('zzz-absent'))""")
          .head()
        assert(probes.getBoolean(0))
        assert(!probes.getBoolean(1))
      } finally {
        logCtx.getConfiguration.getRootLogger.removeAppender("graft-codegen-capture")
        logCtx.updateLoggers()
        appender.stop()
      }
      assert(codegenErrors.isEmpty,
        s"bloom probe fell out of whole-stage codegen: ${codegenErrors}")
    }
  }

  test("the kernel table: 28 distinct names, each resolvable in an extension-only session") {
    val names = GraftExtensions.kernels.map(_.name)
    assert(names.size == 28 && names.distinct.size == 28, names)
    withExtensionSession { s =>
      names.foreach(n => assert(s.catalog.functionExists(n), n))
    }
  }

  test("a wrong-arity call names the function and its expected arity") {
    withExtensionSession { s =>
      val e = intercept[Exception](s.sql("SELECT quantized_cosine(array(1.0F))").collect())
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
        m.contains("quantized_cosine requires exactly 2 arguments, got 1"))),
        s"expected the arity error, got: $e")
    }
  }

  /** Every `.scala` file under src/main except `skip`, concatenated. */
  private def mainSource(skip: Option[String] = None): String = {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !skip.exists(p.endsWith))
      .map(java.nio.file.Files.readString).mkString("\n")
    finally files.close()
  }
  private def occurrences(text: String, s: String): Int =
    text.split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("one registration site: injectFunction once and createOrReplaceTempFunction nowhere in src/main") {
    val text = mainSource()
    assert(occurrences(text, "injectFunction") == 1,
      "kernels go in the GraftExtensions table")
    assert(occurrences(text, "createOrReplaceTempFunction") == 0,
      "a broadcast kernel's Column wrapper builds its expression through KernelColumns")
  }

  test("source guard: no doc comment in src/main is directly followed by another") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root)
    val orphans = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
      // Scaladoc attaches only the second of two adjacent doc comments
      lines.indices.init.collect {
        case i if lines(i).endsWith("*/") && lines(i + 1).startsWith("/**") => s"$p:${i + 1}"
      }
    }.toList
    finally files.close()
    assert(orphans.isEmpty, s"doc comments with nothing to attach to: ${orphans.mkString(", ")}")
  }

  test("artifacts resolve through IndexCache.artifact: no IndexCache.resolve( or IndexCache.dataKey( outside it") {
    val rest = mainSource(skip = Some("graft/queries/package.scala"))
    assert(occurrences(rest, "IndexCache.resolve(") + occurrences(rest, "IndexCache.dataKey(") == 0)
  }

  test("one parquet reader: read.parquet( nowhere in src/main outside Tables") {
    // a bare read infers its schema in a Spark job; Tables.parquet reads
    // the footer on the driver, and so does Tables.parquetParts for a
    // multi-path read under a basePath
    val rest = mainSource(skip = Some("graft/sources/Tables.scala"))
    assert(occurrences(rest, "read.parquet(") == 0)
    assert(occurrences(rest, "option(\"basePath\"") == 0)
  }

  test("one count-store algebra: the hand-written subtraction `- coalesce(` only in Additive") {
    // every maintained count store subtracts through Additive.subtract
    assert(occurrences(mainSource(skip = Some("graft/queries/Additive.scala")), "- coalesce(") == 0)
  }

  test("broadcast kernels have no registry lifecycle: one file reaches the sql-private converters") {
    val shim = "org/apache/spark/sql/KernelColumns.scala"
    val rest = mainSource(skip = Some(shim))
    Seq("perCall(", "dropPerCall", "classic.ExpressionUtils").foreach { s =>
      assert(occurrences(rest, s) == 0, s"`$s` outside $shim")
    }
  }

  test("KernelColumns: aggregate, scalar and lambda kernels match brute force and leave the registry unchanged") {
    import org.apache.spark.sql.functions._
    import graft.functions.expressions
    val s = Sessions.local(4)
    import s.implicits._
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().toSet

    // aggregate: cosine top-2 of two corpus queries (self excluded),
    // score DESC then neighbor id
    val vecs = Seq(1L -> Seq(1f, 0f, 0f), 2L -> Seq(1f, 1f, 0f), 3L -> Seq(0f, 1f, .5f),
      4L -> Seq(.5f, .5f, .5f), 5L -> Seq(-1f, 0f, 1f))
    def quant(v: Seq[Float]): Array[Long] = v.map(x => math.floor(x * 1048576.0).toLong).toArray
    def norm2(v: Array[Long]): Long = v.map(x => x * x).sum
    val qs = Seq(1L, 4L).map { id => val qv = quant(vecs.toMap.apply(id)); (id, qv, norm2(qv)) }
    val cosBc = s.sparkContext.broadcast(qs.toArray: expressions.CosineQuerySet)
    val emb = vecs.toDF("vec_id", "embedding").repartition(2)
    val gotTopK = emb.agg(expressions.cosine_scan_topk(cosBc, 2, $"vec_id", $"embedding").as("t"))
      .select(explode($"t").as("e"))
      .select($"e.query_id", $"e.neighbor_id", $"e.score", $"e.rank")
      .orderBy($"query_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val wantTopK = qs.flatMap { case (qid, qv, qq) =>
      vecs.filter(_._1 != qid).map { case (id, v) =>
        val b = quant(v)
        (qid, id, b.indices.map(j => qv(j) * b(j)).sum.toDouble /
          (math.sqrt(qq.toDouble) * math.sqrt(norm2(b).toDouble)))
      }.sortBy(t => (-t._3, t._2)).take(2)
    }
    assert(gotTopK == wantTopK)

    // scalar: nearest centroid (smallest cid on a distance tie) per row
    val cents = Array(Array(0L, 0L), Array(10L, 0L), Array(0L, 10L))
    val centBc = s.sparkContext.broadcast(cents)
    val xs = Seq(1L -> Seq(1L, 1L), 2L -> Seq(9L, 2L), 3L -> Seq(5L, 5L), 4L -> Seq(2L, 9L))
    val gotArgmin = xs.toDF("id", "xq")
      .select($"id", expressions.centroid_argmin(centBc, $"xq").as("a"))
      .orderBy($"id").collect().map(r => r.getLong(0) -> r.getStruct(1).getInt(1)).toSeq
    val wantArgmin = xs.map { case (id, x) =>
      id -> cents.indices.minBy(c => (cents(c).indices.map(j => (x(j) - cents(c)(j)) *
        (x(j) - cents(c)(j))).sum, c))
    }
    assert(gotArgmin == wantArgmin)

    // lambda: the probe inside filter keeps what the filter's own
    // mightContain says, members and non-members alike
    val bf = (1L to 200L).toDF("h").agg(expressions.bloom_agg($"h", lit(200L)))
      .collect()(0).getAs[Array[Byte]](0)
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bf))
    val bloomBc = s.sparkContext.broadcast(bf)
    val hs = Seq(1L, 50L, 200L, 201L, 5000L, 123456789L)
    val gotKept = Seq(hs).toDF("hs")
      .select(filter($"hs", h => expressions.bloom_probe_broadcast(bloomBc, h)))
      .head().getSeq[Long](0)
    assert(gotKept == hs.filter(bloom.mightContainLong))
    assert(Seq(1L, 50L, 200L).forall(gotKept.contains))

    Seq(cosBc, centBc, bloomBc).foreach(_.destroy())
    assert(registry.listFunction().toSet == before)
  }

  test("registerViews is self-sufficient on a session missing the nanos conf") {
    withExtensionSession { s =>
      // simulate a stock session: the legacy conf inherited from the
      // shared SparkContext is explicitly absent
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      graft.sources.Tables.registerViews(s, "/root/testdata/sf0.001")
      val t = s.sql("SELECT ts FROM events LIMIT 1").schema.head.dataType
      assert(t == org.apache.spark.sql.types.TimestampType, s"events.ts is $t")
      assert(s.sql("SELECT word_stats(text).n_words FROM documents LIMIT 1")
        .head().getLong(0) > 0)
    }
  }
}
