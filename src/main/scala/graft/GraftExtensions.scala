package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.expressions._

/** Session-extensions entry point and the ONLY static registration path
  * of the engine's native function kernels:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * `Sessions.builder` adds it, so every engine session and a stock
  * cluster get the same SQL surface: one row of
  * [[GraftExtensions.kernels]] per function. Kernels that capture
  * per-call broadcast state (`pq_scan_topk`, `bloom_probe_broadcast`, …)
  * are not SQL surface; their Column wrappers carry the expression
  * itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.kernels.foreach { k =>
      e.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, k.name, k.usage,
          "", "", "", "", "", "", "scala_udf"),
        k.builder))
    }
}

object GraftExtensions {

  /** A kernel's call arguments, arity already checked. [[int]] /
    * [[double]] / [[literal]] read an argument that must be a literal
    * (a build-time parameter of the expression, not a column). */
  final class Args private[GraftExtensions] (k: Kernel, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def literal(i: Int): Expression = {
      require(exprs(i).foldable,
        s"${k.name} argument ${i + 1} must be a literal: ${k.signature}")
      exprs(i)
    }
    def int(i: Int): Int = literal(i).eval().toString.toInt
    def double(i: Int): Double = literal(i).eval().toString.toDouble
  }

  /** One SQL function: its name, `_FUNC_(params) - description` usage,
    * argument count, and the expression it builds. */
  final case class Kernel(name: String, usage: String, arity: Int, build: Args => Expression) {
    def signature: String = usage.take(usage.indexOf(')') + 1).replace("_FUNC_", name)
    def builder(exprs: Seq[Expression]): Expression = {
      require(exprs.length == arity,
        s"$name requires exactly $arity argument${if (arity == 1) "" else "s"}, " +
          s"got ${exprs.length}: $signature")
      build(new Args(this, exprs))
    }
  }

  val kernels: Seq[Kernel] = Seq(
    Kernel("minhash_signature", "_FUNC_(shingles) - 64-permutation MinHash signature", 1,
      a => MinHashSignature(a(0), 64)),
    Kernel("quantized_cosine", "_FUNC_(a, b) - exact 2^20-quantized cosine", 2,
      a => QuantizedCosine(a(0), a(1))),
    Kernel("long_cosine", "_FUNC_(a, b) - cosine of two already-quantized long vectors", 2,
      a => LongCosine(a(0), a(1))),
    Kernel("jl_project",
      "_FUNC_(embedding) - 16 Johnson-Lindenstrauss ±1 projections of a 64-dim vector", 1,
      a => JlProjectExpr(a(0), 16, 64, 1L << 20)),
    Kernel("winnow_fingerprint", "_FUNC_(text) - winnowing fingerprint set (k=8, w=4)", 1,
      a => WinnowFingerprint(a(0), 8, 4)),
    Kernel("word_shingles", "_FUNC_(text) - distinct word 3-gram shingles", 1,
      a => WordShingles(a(0), 3)),
    Kernel("char_grams", "_FUNC_(text) - occurrence-level character 3-grams", 1,
      a => CharGrams(a(0), 3)),
    Kernel("char_gram_counts",
      "_FUNC_(text) - distinct character 3-grams with their occurrence counts", 1,
      a => CharGramCounts(a(0), 3)),
    Kernel("simhash64", "_FUNC_(shingles) - 64-bit SimHash over shingle features", 1,
      a => SimHash64(a(0))),
    Kernel("hyperplane_sigs",
      "_FUNC_(embedding) - 8 random-hyperplane LSH signatures of 6 sign bits", 1,
      a => HyperplaneSigs(a(0), 8, 6, 64)),
    Kernel("shingle_hashes",
      "_FUNC_(text) - sorted xxhash64 values of distinct word 3-gram shingles", 1,
      a => ShingleHashes(a(0), 3)),
    Kernel("quantize_vec", "_FUNC_(v) - exact 2^20 floor quantization of a float vector", 1,
      a => QuantizeVec(a(0), 1048576.0)),
    Kernel("sorted_intersect_count",
      "_FUNC_(a, b) - distinct common values of two sorted long arrays", 2,
      a => SortedIntersectCount(a(0), a(1))),
    Kernel("sorted_intersect",
      "_FUNC_(a, b) - distinct common values of two sorted long arrays, ascending", 2,
      a => SortedIntersect(a(0), a(1))),
    Kernel("dtw_dist",
      "_FUNC_(a, b) - integer Dynamic Time Warping distance of two long series", 2,
      a => DtwDist(a(0), a(1))),
    Kernel("word_stats",
      "_FUNC_(text) - struct(n_words, n_distinct, top_c, total2, d2) in one pass", 1,
      a => WordStats(a(0))),
    Kernel("sq_dist", "_FUNC_(a, b) - sum of squared differences of two long arrays", 2,
      a => SqDistLong(a(0), a(1))),
    Kernel("dhash64", "_FUNC_(frame) - 64-bit difference hash of a binary frame", 1,
      a => DHash64(a(0))),
    Kernel("bigram_hashes", "_FUNC_(words) - xxhash64 of each adjacent word pair", 1,
      a => BigramHashes(a(0))),
    Kernel("bigram_spans", "_FUNC_(words) - struct(hash, pos) per adjacent word pair", 1,
      a => BigramSpans(a(0))),
    Kernel("freq_sketch",
      "_FUNC_(token) - Misra-Gries top-256 heavy-hitter sketch: array<struct(token, est)>", 1,
      a => FreqSketch(a(0), 256)),
    Kernel("freq_sketch_long",
      "_FUNC_(hash, k) - Misra-Gries top-k sketch over long keys: array<struct(key, est)>", 2,
      a => FreqSketchLong(a(0), a.int(1))),
    Kernel("pq_adc",
      "_FUNC_(codes, dtable, k) - PQ asymmetric distance: sum of per-subspace table lookups", 3,
      a => PqAdcDist(a(0), a(1), a.int(2))),
    Kernel("bpe_encode",
      "_FUNC_(text, merges) - greedy BPE subword apply over a literal merges table", 2,
      a => BpeEncode(a(0), parseMergesLiteral(a.literal(1)))),
    Kernel("ppjoin_pairs",
      "_FUNC_(bucket, t, max_bucket) - PPJoin candidate pairs from one prefix bucket", 3,
      a => PPJoinPairs(a(0), a.double(1), a.int(2))),
    Kernel("simhash_bucket_pairs",
      "_FUNC_(bucket, max_ham, max_bucket) - in-bucket SimHash pairs within Hamming bound", 3,
      a => SimHashBucketPairs(a(0), a.int(1), a.int(2))),
    // Spark's runtime-filter bloom aggregate plus graft's own probe (the
    // internal BloomFilterMightContain fails codegen on a scalar-subquery
    // bloom argument — see BloomProbe): the semi-join pre-filter of q68
    Kernel("bloom_agg", "_FUNC_(xxhash64_value, est_items) - serialized bloom filter", 2,
      a => new BloomFilterAggregate(a(0), a(1))),
    Kernel("bloom_might_contain",
      "_FUNC_(bloom, xxhash64_value) - bloom membership probe", 2,
      a => BloomProbe(a(0), a(1))))
}
