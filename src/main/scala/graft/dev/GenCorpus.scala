package graft.dev

import org.apache.spark.sql.SparkSession

import graft.functions.expressions.splitmix

/** Seed-pinned synthetic corpus generator for SCALE.md's measured scaling
  * curves (dev tool — NOT part of the engine; the driver's sf* testdata
  * stays the correctness substrate).
  *
  * The driver corpus tops out at sf0.1 (5,000 docs over a ~30-word closed
  * vocabulary). That density is fine for correctness but meaningless for
  * scale extrapolation: a closed vocabulary makes every shingle a
  * stop-shingle as the corpus grows, which no real corpus does. This
  * generator mimics the statistics that matter to the dedup/ANN family at
  * large n instead:
  *
  *  - Zipf(s=1.07) vocabulary of 50k terms — common words frequent, long
  *    tail rare, so unrelated documents share FEW 3-gram shingles while
  *    near-duplicate pairs share most (the regime PPJoin/LSH are built
  *    for);
  *  - ~5% of docs are word-level mutations of their predecessor
  *    (near-dup pairs with jaccard >= ~0.6), ~0.16% exact duplicates —
  *    the sf0.1 ratios;
  *  - embeddings: deterministic unit-scale 64-dim vectors; every 10th is
  *    its predecessor plus epsilon noise (the q38/q75 near-dup signal).
  *
  * Everything derives from [[splitmix]] of (id, stream) — same seed, same
  * corpus, any executor count. Usage:
  *   sbt "runMain graft.dev.GenCorpus /root/repo/tmp_scale/x10 10"
  */
object GenCorpus {
  private val VOCAB = 50000
  private val ZIPF_S = 1.07

  // cumulative Zipf weights, binary-searched with a uniform draw
  private lazy val cum: Array[Double] = {
    val w = Array.tabulate(VOCAB)(k => 1.0 / math.pow(k + 1.0, ZIPF_S))
    val c = new Array[Double](VOCAB)
    var acc = 0.0
    var i = 0
    while (i < VOCAB) { acc += w(i); c(i) = acc; i += 1 }
    val total = c(VOCAB - 1)
    i = 0
    while (i < VOCAB) { c(i) /= total; i += 1 }
    c
  }

  private def unit(id: Long, stream: Long): Double = {
    // 53-bit mantissa of a splitmix draw -> uniform [0, 1)
    (splitmix(id * 1000003L + stream) >>> 11).toDouble / (1L << 53).toDouble
  }

  private def word(id: Long, stream: Long): String = {
    val u = unit(id, stream)
    var lo = 0
    var hi = VOCAB - 1
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (cum(mid) < u) lo = mid + 1 else hi = mid
    }
    s"w$lo"
  }

  private val LANGS = Array("en", "fr", "de", "es", "zh")

  private[dev] def docWords(id: Long): Array[String] = {
    val len = 16 + (math.floorMod(splitmix(id * 31 + 7), 75L)).toInt
    Array.tabulate(len)(p => word(id * 131 + p, 9001L + p))
  }

  /** High-dup-mass variant: with probability `spamPct`/100 a doc is a
    * word-level mutation of one of 10 fixed templates (ids −1…−10) — the
    * boilerplate/spam regime where near-dup CANDIDATE pairs grow
    * quadratically inside template clusters instead of staying ~linear.
    * A [[Measure]] run over such a corpus shows the un-hinted verification
    * join degrades to a shuffle join instead of OOMing (the default corpus
    * statistics are untouched: spamPct = 0 is bit-identical to
    * [[docText]]).
    */
  private[dev] def docTextSpam(id: Long, spamPct: Int): String = {
    if (spamPct > 0 && math.floorMod(splitmix(id * 11 + 5), 100L) < spamPct) {
      val base = docWords(-1L - (id % 10)) // one of 10 fixed templates
      val out = base.clone()
      var p = 0
      while (p < out.length) {
        if (math.floorMod(splitmix(id * 77 + p), 6L) == 0L)
          out(p) = word(id * 131 + p, 4242L + p)
        p += 1
      }
      out.mkString(" ")
    } else docText(id)
  }

  /** text for doc `id`, including the near/exact-dup structure. */
  private[dev] def docText(id: Long): String = {
    if (id % 625 == 624 && id >= 3) return docText(id - 3) // exact dup
    if (id % 20 == 19 && id >= 1) {
      // near-dup: mutate every ~6th word of the predecessor
      val base = docWords(id - 1)
      val out = base.clone()
      var p = 0
      while (p < out.length) {
        if (math.floorMod(splitmix(id * 77 + p), 6L) == 0L)
          out(p) = word(id * 131 + p, 4242L + p)
        p += 1
      }
      return out.mkString(" ")
    }
    docWords(id).mkString(" ")
  }

  private[dev] def embedding(id: Long): Array[Float] = {
    if (id % 10 == 9 && id >= 1) {
      val base = embedding(id - 1)
      Array.tabulate(64)(c => base(c) + 0.005f * (unit(id * 17 + c, 555L).toFloat - 0.5f))
    } else
      Array.tabulate(64)(c => 2.0f * unit(id * 13 + c, 333L).toFloat - 1.0f)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toInt
    // optional 3rd arg: spam/template percentage (default 0 — unchanged
    // statistics; > 0 switches docText to the high-dup-mass variant)
    val spamPct = if (args.length > 2) args(2).toInt else 0
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val s: SparkSession = graft.Sessions.local()
    import s.implicits._

    s.range(nDocs).repartition(s.sparkContext.defaultParallelism)
      .map { id =>
        val text = docTextSpam(id, spamPct)
        (id, text,
          LANGS(math.floorMod(splitmix(id * 3 + 1), LANGS.length.toLong).toInt),
          s"src${math.floorMod(splitmix(id * 5 + 2), 20L)}",
          text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    s.range(nVecs).repartition(s.sparkContext.defaultParallelism)
      .map { id =>
        (id, embedding(id).toSeq,
          math.floorMod(splitmix(id * 7 + 3), 10L).toInt)
      }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"[gencorpus] wrote $nDocs docs / $nVecs vecs to $outDir")
    s.stop()
  }
}
