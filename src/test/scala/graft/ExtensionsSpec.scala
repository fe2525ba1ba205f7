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

  test("one registration site: injectFunction and createOrReplaceTempFunction occur once in src/main") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val files = java.nio.file.Files.walk(root)
    val text = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(java.nio.file.Files.readString).mkString("\n")
    finally files.close()
    Seq("injectFunction", "createOrReplaceTempFunction").foreach { s =>
      assert(text.split(java.util.regex.Pattern.quote(s), -1).length - 1 == 1,
        s"`$s` must occur exactly once — kernels go in the GraftExtensions table, " +
          "per-call broadcast kernels through expressions.perCall")
    }
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
