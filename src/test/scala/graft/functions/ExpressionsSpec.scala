package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity tests: each native kernel must be bit-identical to the
  * declarative (built-in-functions) form it replaced — the DuckDB oracles
  * were validated against the declarative forms.
  */
class ExpressionsSpec extends SparkSpec {

  test("minhash_signature == declarative (a*x+b) mod P minima") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("x y z"))).toDF("id", "sh")
    val P = 1000000007L
    val aArr = (0 until 64).map(p => expressions.permA(64)(p))
    val bArr = (0 until 64).map(p => expressions.permB(64)(p))
    val declarative = df.withColumn("hs", transform($"sh", x => pmod(xxhash64(x), lit(P))))
      .withColumn("sig", transform(sequence(lit(0), lit(63)),
        p => array_min(transform($"hs",
          h => pmod(element_at(typedlit(aArr), p + 1) * h +
            element_at(typedlit(bArr), p + 1), lit(P))))))
      .select($"id", $"sig")
    val native = df.select($"id",
      expressions.minhash_signature($"sh").as("sig"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("quantized_cosine == declarative floor(x*2^20) int cosine") {
    import spark.implicits._
    val df = Seq((Seq(0.5f, -1.25f, 2.0f), Seq(1.0f, 0.75f, -0.5f))).toDF("a", "b")
    def q(c: org.apache.spark.sql.Column) = transform(c, x => floor(x.cast("double") * 1048576.0))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, r) => p * r), lit(0L), (acc, v) => acc + v)
    val declarative = df.select(
      (dot(q($"a"), q($"b")).cast("double") /
        (sqrt(dot(q($"a"), q($"a")).cast("double")) *
          sqrt(dot(q($"b"), q($"b")).cast("double")))).as("c"))
      .head().getDouble(0)
    val native = df.select(expressions.quantized_cosine($"a", $"b")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(native) ==
      java.lang.Double.doubleToLongBits(declarative))
  }

  test("jl_project == declarative sign-literal aggregate form") {
    import spark.implicits._
    val signs = Array.tabulate(64 * 16)(k =>
      if ((expressions.splitmix((1L << 20) + k) & 1L) == 1L) 1L else -1L)
    val df = Seq((1L, Array.tabulate(64)(i => (math.sin(i + 1) * 0.3).toFloat)),
        (2L, Array.tabulate(64)(i => (math.cos(i * 2 + 1) * 0.2).toFloat)))
      .toDF("vec_id", "embedding")
    val declarative = df.select($"vec_id",
        transform($"embedding",
          x => floor(x.cast("double") * 1048576.0).cast("long")).as("xfp"))
      .select($"vec_id",
        transform(sequence(lit(0), lit(15)), j =>
          aggregate(sequence(lit(0), lit(63)), lit(0L),
            (acc, i) => acc + element_at(lit(signs), i * 16 + j + 1) *
              element_at($"xfp", i + 1))).as("y"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val native = df.select($"vec_id", expressions.jl_project($"embedding").as("y"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(native == declarative)
    // a truncated/corrupt embedding surfaces as SQL null (QuantizedCosine's
    // dimensionality rule), never as a plausible prefix projection
    val short = Seq((1L, Array.tabulate(32)(i => i.toFloat / 100)))
      .toDF("vec_id", "embedding")
    assert(short.select(expressions.jl_project($"embedding")).head().isNullAt(0))
  }

  test("long_cosine == declarative int cosine; mismatch and null components surface null") {
    import spark.implicits._
    val df = Seq((Seq(524288L, -1310720L, 2097152L), Seq(1048576L, 786432L, -524288L)))
      .toDF("a", "b")
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, r) => p * r), lit(0L), (acc, v) => acc + v)
    val declarative = df.select(
      (dot($"a", $"b").cast("double") /
        (sqrt(dot($"a", $"a").cast("double")) *
          sqrt(dot($"b", $"b").cast("double")))).as("c"))
      .head().getDouble(0)
    val native = df.select(expressions.long_cosine($"a", $"b")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(native) ==
      java.lang.Double.doubleToLongBits(declarative))
    val bad = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(1L, 2L)),
      (2L, Seq(1L, 2L), Seq(1L, 2L))).toDF("id", "a", "b")
    val rows = bad.select($"id", expressions.long_cosine($"a", $"b").as("c"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1), "length mismatch must be null")
    assert(!rows(1).isNullAt(1) && math.abs(rows(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("quantized_cosine: mismatched dimensionality surfaces null, not a truncated score") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)),          // corrupt pair
      (2L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("id", "a", "b")
    val rows = df.select($"id", expressions.quantized_cosine($"a", $"b").as("c"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1), "length mismatch must be null")
    assert(!rows(1).isNullAt(1) && math.abs(rows(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("winnow_fingerprint == declarative nested-transform form") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaa")).toDF("id", "text")
    val k = 8
    val win = 4
    val declarative = df
      .select($"id", transform(sequence(lit(1), length($"text")),
        i => ascii($"text".substr(i, lit(1)))).as("codes"))
      .select($"id", transform(sequence(lit(1), size($"codes") - (k - 1)),
        i => aggregate(slice($"codes", i, lit(k)), lit(0L),
          (acc, c) => (acc * 31 + c) % 1000000007L)).as("kh"))
      .select($"id", array_distinct(transform(sequence(lit(1), size($"kh") - (win - 1)),
        i => array_min(slice($"kh", i, lit(win))))).as("fps"))
    val native = df.select($"id", expressions.winnow_fingerprint($"text").as("fps"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("simhash64 == declarative 64-pass aggregate form") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f")),
      (2L, Seq("x y z")),
      (3L, Seq.empty[String])).toDF("id", "sh")
    val hs = transform($"sh", x => xxhash64(x))
    val bit = (i: Int) =>
      when(aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    val declarative = df.select($"id",
      (0 until 64).map(bit).reduce(_ bitwiseOR _).as("s"))
    val native = df.select($"id", expressions.simhash64($"sh").as("s"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("word_shingles == declarative split+slice+concat_ws+distinct") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p  q r"), (4L, "t t t t t"))
      .toDF("id", "text")
    val declarative = df.select($"id", split($"text", " ").as("w"))
      .select($"id", when(size($"w") >= 3,
        array_distinct(transform(sequence(lit(1), size($"w") - 2),
          i => concat_ws(" ", slice($"w", i, lit(3))))))
        .otherwise(array().cast("array<string>")).as("sh"))
    val native = df.select($"id", expressions.word_shingles($"text").as("sh"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("shingle_hashes == array_sort(transform(word_shingles, xxhash64))") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p  q r s"), (4L, "t t t t t"),
      (5L, "the quick brown fox jumps over the quick brown fox"))
      .toDF("id", "text")
    val declarative = df.select($"id",
      array_sort(transform(expressions.word_shingles($"text"), x => xxhash64(x))).as("hs"))
    val native = df.select($"id", expressions.shingle_hashes($"text").as("hs"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("word_stats == declarative explode/groupBy + 2-gram transform") {
    import spark.implicits._
    // covers: repeats, single word, repeated-space empty tokens, trailing
    // space, empty string, all-identical, repeated 2-grams
    val df = Seq((1L, "a b a b c"), (2L, "x"), (3L, "p  q r"), (4L, "t t t t t"),
      (5L, "a b "), (6L, ""), (7L, "the quick the quick the"))
      .toDF("id", "text")
    val w = df.select($"id", split($"text", " ").as("w"))
    // guard: sequence(1, 0) is a DESCENDING sequence in Spark, so the
    // unguarded transform would element_at out of bounds on 1-word docs
    val grams = w.select($"id", (size($"w") - 1).as("total2"),
      when(size($"w") >= 2,
        size(array_distinct(transform(sequence(lit(1), size($"w") - 1),
          i => concat(element_at($"w", i), lit(" "), element_at($"w", i + 1))))))
        .otherwise(0L).as("d2"))
      .filter($"total2" >= 1)
    val freq = w.select($"id", explode($"w").as("word"))
      .groupBy($"id", $"word").agg(count(lit(1)).as("c"))
      .groupBy($"id").agg(sum($"c").as("n_words"),
        count(lit(1)).as("n_distinct"), max($"c").as("top_c"))
    val declarative = freq.join(grams, Seq("id"))
      .select($"id", $"n_words", $"n_distinct", $"top_c", $"total2".cast("long"),
        $"d2".cast("long"))
    val native = df.select($"id", expressions.word_stats($"text").as("st"))
      .filter($"st.total2" >= 1)
      .select($"id", $"st.n_words", $"st.n_distinct", $"st.top_c", $"st.total2", $"st.d2")
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
    // single-word and empty docs have no 2-gram slot and are filtered by
    // total2 >= 1 in both forms
    assert(native.count() == 5)
  }

  test("quantize_vec == transform floor(x * 2^20)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1L to 30L).map(id => (id, Seq.fill(16)(rnd.nextFloat() * 4 - 2)))
      .toDF("id", "v")
    val declarative = df.select($"id",
      transform($"v", x => floor(x.cast("double") * 1048576.0)).as("q"))
    val native = df.select($"id", expressions.quantize_vec($"v").as("q"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("sorted_intersect_count == size(array_intersect) on sorted arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1L to 50L).map { id =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).sorted
      (id, a, b)
    } :+ ((51L, Seq.empty[Long], Seq(1L, 2L))) :+
      ((52L, Seq(5L, 5L, 7L), Seq(5L, 7L, 7L, 9L)))
    val df = rows.toDF("id", "a", "b")
    val declarative = df.select($"id",
      size(array_intersect($"a", $"b")).cast("long").as("c"))
    val native = df.select($"id",
      expressions.sorted_intersect_count($"a", $"b").as("c"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("sorted_intersect == sorted array_intersect; size law vs count kernel") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1L to 50L).map { id =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).sorted
      (id, a, b)
    } :+ ((51L, Seq.empty[Long], Seq(1L, 2L))) :+
      ((52L, Seq(5L, 5L, 7L), Seq(5L, 7L, 7L, 9L)))
    val df = rows.toDF("id", "a", "b")
    // array_intersect keeps left-side first-occurrence order; on sorted
    // distinct-collapsed inputs that IS ascending order
    val declarative = df.select($"id",
      array_sort(array_intersect($"a", $"b")).as("w"))
    val native = df.select($"id", expressions.sorted_intersect($"a", $"b").as("w"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
    val law = df.select(
      (size(expressions.sorted_intersect($"a", $"b")).cast("long") =!=
        expressions.sorted_intersect_count($"a", $"b")).as("bad"))
    assert(law.filter($"bad").count() == 0)
  }

  test("dtw_dist == naive full-matrix DP; zero on identical, <= lockstep") {
    import spark.implicits._
    def naive(a: Seq[Long], b: Seq[Long]): Long = graft.TestNum.dtwNaive(a, b)
    val rnd = new scala.util.Random(13)
    val rows = (1L to 40L).map { id =>
      val a = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(2000).toLong - 1000)
      val b = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(2000).toLong - 1000)
      (id, a, b)
    } :+ ((41L, Seq(5L, 6L, 7L), Seq(5L, 6L, 7L)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", expressions.dtw_dist($"a", $"b").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) == naive(a, b), s"id=$id")
      if (a == b) assert(got(id) == 0L)
      if (a.length == b.length)
        assert(got(id) <= a.zip(b).map(p => math.abs(p._1 - p._2)).sum)
    }
  }

  test("simhash_bucket_pairs == declarative pair explosion (incl. cap path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // buckets of varied sizes; a few simhashes close together so some
    // pairs survive hamming<=7, most don't
    val buckets = (1 to 20).map { b =>
      val m = 1 + rnd.nextInt(12)
      val base = rnd.nextLong()
      // ids unique within a bucket (the operator's real invariant, and it
      // keeps the kernel's stable sortBy == array_sort's struct order on
      // the cap path regardless of seed)
      val ids = rnd.shuffle((0 until 1000).toList).take(m)
      (b.toLong, ids.zipWithIndex.map { case (id, k) =>
        val sim = if (k % 3 == 0) base ^ (1L << rnd.nextInt(64)) else rnd.nextLong()
        (id.toLong, sim)
      })
    }
    val df = buckets.toDF("bucket", "ds")
      .select($"bucket", $"ds".cast("array<struct<doc_id:bigint,simhash:bigint>>"))
    def declarative(maxBucket: Int) = df
      .withColumn("ds", when(size($"ds") > maxBucket,
        slice(array_sort($"ds"), 1, maxBucket)).otherwise($"ds"))
      .select($"bucket", explode(flatten(transform($"ds", (x, ix) =>
        transform(slice($"ds", ix + 2, greatest(size($"ds") - ix - 1, lit(0))),
          y => struct(least(x("doc_id"), y("doc_id")).as("i"),
            greatest(x("doc_id"), y("doc_id")).as("j"),
            bit_count(x("simhash").bitwiseXOR(y("simhash"))).cast("long")
              .as("hamming")))))).as("p"))
      .filter($"p.hamming" <= 7)
      .select($"bucket", $"p.i", $"p.j", $"p.hamming")
      .collect().map(_.toString).sorted.toSeq
    def native(maxBucket: Int) = df
      .select($"bucket", explode(expressions
        .simhash_bucket_pairs($"ds", 7, maxBucket)).as("p"))
      .select($"bucket", $"p.i", $"p.j", $"p.hamming")
      .collect().map(_.toString).sorted.toSeq
    assert(native(4096) == declarative(4096), "uncapped path")
    assert(native(5) == declarative(5), "capped path (sorted prefix)")
    assert(native(4096).nonEmpty)
  }

  test("char_grams == declarative substr sweep (occurrences, order kept)") {
    import spark.implicits._
    val df = Seq("abcdef", "ab", "abc", "a b c", "").toDF("t")
    val declarative = df.select($"t",
      when(length($"t") >= 3,
        transform(sequence(lit(1), length($"t") - 2),
          i => $"t".substr(i, lit(3))))
        .otherwise(array().cast("array<string>")).as("gs"))
    val native = df.select($"t",
      expressions.char_grams($"t").as("gs"))
    assert(native.orderBy("t").collect().toSeq ==
      declarative.orderBy("t").collect().toSeq)
  }

  test("hyperplane_sigs == declarative aggregate(zip_with) sign bits (quantized)") {
    import spark.implicits._
    val nPlanes = 6
    val nTables = 8
    val rnd = new scala.util.Random(11)
    val df = (1L to 40L).map(id => (id, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "embedding")
    def signRow(t: Int, p: Int): Seq[Long] =
      (0 until 64).map(i =>
        if ((expressions.splitmix(((t * nPlanes + p) * 64L) + i) & 1L) == 1L) 1L
        else -1L)
    // projections in the exact quantized-long domain (floor(x·2^20) —
    // q25's scoring quantizer): order-free, engine-independent
    def sigOf(t: Int) = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with($"embedding", typedlit(signRow(t, p)),
          (x, sgn) => floor(x.cast("double") * 1048576.0).cast("long") * sgn),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    val declarative = df.select($"id", array((0 until nTables).map(sigOf): _*).as("sigs"))
    val native = df.select($"id", expressions.hyperplane_sigs($"embedding").as("sigs"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("sq_dist == declarative aggregate(zip_with) squared distance") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1L, -5L, 3L), Seq(4L, 0L, 3L)),
      (2L, Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)),
      (3L, Seq(1048576L, -1048576L, 7L), Seq(-1048576L, 1048576L, 7L)))
      .toDF("id", "a", "b")
    val declarative = df.select($"id",
      aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("d"))
    val native = df.select($"id", expressions.sq_dist($"a", $"b").as("d"))
    assert(native.orderBy("id").collect().toSeq ==
      declarative.orderBy("id").collect().toSeq)
  }

  test("bloom_probe_broadcast == literal probe; plan size O(1) in filter size") {
    import spark.implicits._
    val hs = (1L to 5000L).toDF("h")
    val bf = hs.agg(expressions.bloom_agg($"h", lit(5000L)))
      .collect()(0).getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(bf)
    val probeRange = (4000L to 6000L).toDF("h")
    // bit-identical verdicts vs the literal form on hits AND misses
    val viaBc = probeRange
      .filter(expressions.bloom_probe_broadcast(bc, $"h"))
      .collect().map(_.getLong(0)).toSeq
    val viaLit = probeRange
      .filter(expressions.bloom_might_contain(lit(bf), $"h"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaBc == viaLit)
    // plan representations carry the broadcast handle, not the payload:
    // the filter is ~KBs, every plan string must stay far below it
    val planned = probeRange.filter(expressions.bloom_probe_broadcast(bc, $"h"))
    val qe = planned.queryExecution
    assert(bf.length > 4000, s"test filter unexpectedly small: ${bf.length}")
    for (p <- Seq(qe.analyzed.toString, qe.optimizedPlan.toString, qe.executedPlan.toString))
      assert(p.length < 4000, s"plan string grew with the bloom payload: ${p.length} chars")
    // and the lambda path (how q68 uses it) agrees with the scalar path
    val arr = Seq((1L, Seq(1L, 2L, 9999999L))).toDF("id", "hs")
      .select($"id", size(filter($"hs",
        h => expressions.bloom_probe_broadcast(bc, h))).as("n_hit"))
      .head().getInt(1)
    assert(arr == 2)
  }

  test("bloom_agg clamps its filter to the runtime maxNumBits conf whatever estItems says") {
    import spark.implicits._
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val clamp = 4096L
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, clamp.toString)
    try {
      val bf = (1L to 1000L).toDF("h")
        .agg(expressions.bloom_agg($"h", lit(1000000000000L)))
        .collect()(0).getAs[Array[Byte]](0)
      val filter = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bf))
      assert(filter.bitSize() > 0 && filter.bitSize() <= clamp,
        s"filter of ${filter.bitSize()} bits above the $clamp-bit clamp")
      // saturated past its design load, but still no false negatives
      assert((1L to 1000L).forall(filter.mightContainLong))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("trainBpeMerges: deterministic greedy merges on a hand-computed sample") {
    // "abab"×2 + "ab"×1: (a,b) appears 2·2+1 = 5 times, (b,a) 2 — merge
    // (a,b) first; then the only pair is (ab,ab) in "abab"; then nothing
    val merges = expressions.trainBpeMerges(Seq("abab" -> 2L, "ab" -> 1L), 5)
    assert(merges == Seq(("a", "b"), ("ab", "ab")))
    // equal counts tie-break lexicographically on the pair
    assert(expressions.trainBpeMerges(Seq("ab" -> 1L, "ba" -> 1L), 1) ==
      Seq(("a", "b")))
    // nMerges caps the table
    assert(expressions.trainBpeMerges(Seq("abab" -> 2L, "ab" -> 1L), 1) ==
      Seq(("a", "b")))
    assert(expressions.trainBpeMerges(Seq.empty, 4) == Seq.empty)
  }

  test("per-call registration: interleaved bloom probes bind their own broadcasts") {
    import spark.implicits._
    def bloomOf(vals: Seq[Long]): Array[Byte] = vals.toDF("h")
      .agg(expressions.bloom_agg($"h", lit(128L)))
      .collect()(0).getAs[Array[Byte]](0)
    val bcEven = spark.sparkContext.broadcast(bloomOf(0L to 100L by 2))
    val bcOdd = spark.sparkContext.broadcast(bloomOf(1L to 101L by 2))
    // build BOTH columns before analyzing either: a column resolved by a
    // session-global name would let the second call clobber the first,
    // and colEven would silently bind the odd filter
    val colEven = expressions.bloom_probe_broadcast(bcEven, $"h")
    val colOdd = expressions.bloom_probe_broadcast(bcOdd, $"h")
    val probe = (0L to 9L).toDF("h")
    val hitsEven = probe.filter(colEven).collect().map(_.getLong(0)).toSet
    val hitsOdd = probe.filter(colOdd).collect().map(_.getLong(0)).toSet
    // no false negatives: each probe must keep ALL of its own set
    assert((0L to 9L by 2).forall(hitsEven), s"even probe lost members: $hitsEven")
    assert((1L to 9L by 2).forall(hitsOdd), s"odd probe lost members: $hitsOdd")
    // a rebuilt column gives the same hits
    val again = probe.filter(expressions.bloom_probe_broadcast(bcEven, $"h"))
      .collect().map(_.getLong(0)).toSet
    assert(again == hitsEven)
    bcEven.destroy(); bcOdd.destroy()
  }

  test("pq_adc rejects a dtable whose length disagrees with codes × K") {
    import spark.implicits._
    val bad = Seq((Seq(0, 1), Seq.fill(5)(1L))).toDF("codes", "dtable")
    val e = intercept[Exception] {
      bad.select(expressions.pq_adc($"codes", $"dtable", 16)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("pq_adc")),
      s"expected the descriptive pq_adc length error, got: $e")
  }

  test("ppjoin_pairs == declarative cap+explode+length+position form") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val t = 0.5
    val cap = 4
    // buckets: normal, cap-triggering (6 > 4, unsorted input order),
    // singleton, and one where the filters disagree per pair
    val buckets = Seq(
      Seq((10L, 40, 3), (7L, 42, 1), (30L, 80, 2), (12L, 41, 20)),
      Seq((9L, 50, 2), (3L, 50, 1), (6L, 50, 3), (1L, 50, 4), (8L, 50, 5), (2L, 50, 6)),
      Seq((5L, 30, 1)),
      Seq((100L, 10, 1), (101L, 21, 1), (102L, 20, 9), (103L, 20, 2)))
      .toDF("raw")
      .select(transform($"raw", e =>
        struct(e("_1").as("doc_id"), e("_2").as("n"), e("_3").as("rk"))).as("ds"))
    def declPairs(ds: Column): org.apache.spark.sql.DataFrame = {
      val capped = when(size(ds) > cap, slice(array_sort(ds), 1, cap)).otherwise(ds)
      buckets.select(capped.as("ds"))
        .select(explode(flatten(transform($"ds", (x, ix) =>
          transform(slice($"ds", ix + 2, greatest(size($"ds") - ix - 1, lit(0))),
            y => struct(least(x("doc_id"), y("doc_id")).as("a"),
              greatest(x("doc_id"), y("doc_id")).as("b"),
              x("n").as("nx"), y("n").as("ny"),
              x("rk").as("rkx"), y("rk").as("rky")))))).as("p"))
        .filter($"p.ny" >= $"p.nx" * t && $"p.nx" >= $"p.ny" * t)
        .filter(least($"p.nx" - $"p.rkx", $"p.ny" - $"p.rky") + 1 >=
          floor(($"p.nx" + $"p.ny" + 2) / 3))
        .select($"p.a", $"p.b")
    }
    val native = buckets
      .select(explode(expressions.ppjoin_pairs($"ds", t, cap)).as("p"))
      .select($"p.a", $"p.b")
    val d = declPairs($"ds").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val n = native.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(d.nonEmpty, "test buckets produced no declarative pairs — fixture broken")
    assert(n == d)
  }

  test("pq_adc == declarative per-subspace table lookup sum") {
    import spark.implicits._
    val k = 4
    val df = Seq(
      (Seq(0, 3, 1), Seq(10L, 11L, 12L, 13L, 20L, 21L, 22L, 23L, 30L, 31L, 32L, 33L)),
      (Seq(2, 0, 3), Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L)))
      .toDF("codes", "dtable")
    val declarative = df.select(
      aggregate(
        zip_with(sequence(lit(0), size($"codes") - 1), $"codes",
          (m, c) => element_at($"dtable", m * k + c + 1)),
        lit(0L), (acc, v) => acc + v).as("d"))
      .collect().map(_.getLong(0)).toSeq
    val native = df.select(expressions.pq_adc($"codes", $"dtable", k).as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(native == declarative)
    assert(native == Seq(10L + 23L + 31L, 3L + 5L + 12L))
  }

  test("bm25_scan_topk: candidacy, tie-break, k cap, self-exclusion") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(10L, 20L, 30L), Seq(5L, 3L, 2L)),
      (2L, Seq(10L, 40L), Seq(7L, 1L)),
      (5L, Seq(10L), Seq(7L)), // ties doc 2's q1 score — doc_id breaks it
      (3L, Seq(20L, 30L, 40L), Seq(2L, 2L, 2L)),
      (4L, Seq(50L), Seq(9L))).toDF("doc_id", "hs", "ws")
    // queries: qid 1 ~ terms {10, 20} (self-excluded from its own top-k),
    // qid 3 ~ terms {40, 50}
    val bc = spark.sparkContext.broadcast(
      (Array(1L, 3L), Array(10L, 20L, 40L, 50L),
        Array(0, 1, 2, 3, 4), Array(0, 0, 1, 1)))
    try {
      val got = docs
        .agg(expressions.bm25_scan_topk(bc, 2,
          $"doc_id", $"hs", $"ws").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.doc_id", $"e.rank", $"e.score_fp")
        .orderBy($"query_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      // q1: d2=7, d5=7 (tie → doc_id asc), d3=2 dropped by k=2; d1 is self,
      // d4 shares no term. q3: d4=9, d2=1; d3 is self.
      assert(got.toSeq == Seq(
        (1L, 2L, 1, 7L), (1L, 5L, 2, 7L),
        (3L, 4L, 1, 9L), (3L, 2L, 2, 1L)))
      // misaligned store: weights one entry LONGER than hs must fail
      // loudly too, not score the leading entries silently
      val bad = Seq((1L, Seq(10L, 20L), Seq(5L, 3L, 2L))).toDF("doc_id", "hs", "ws")
      val e = intercept[Exception] {
        bad.agg(expressions.bm25_scan_topk(bc, 2,
          $"doc_id", $"hs", $"ws").as("t")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("must align")))
    } finally bc.destroy()
  }

  test("bm25_raw_scan_topk: in-scan weights match the builder formula; alignment guard") {
    import spark.implicits._
    // all docs at len == avgdl → length factor 1.2·(0.25+0.75) = 1.2,
    // so the tf saturation is floor(tf·2.2/(tf+1.2)·1e6):
    // tf=1 → 1000000, tf=2 → 1375000, tf=3 → 1571428
    val docs = Seq(
      (1L, Seq(10L, 20L), Seq(1L, 2L), 4L),
      (2L, Seq(10L), Seq(3L), 4L),
      (3L, Seq(20L), Seq(1L), 4L)).toDF("doc_id", "hs", "tfs", "len")
    // q7 ~ {10} idf 2, q8 ~ {20} idf 3 (query ids outside the doc ids —
    // self-exclusion is bm25_scan_topk's covered branch)
    val bc = spark.sparkContext.broadcast(
      (Array(7L, 8L), Array(10L, 20L), Array(0, 1, 2), Array(0, 1),
        Array(2L, 3L), 4.0))
    try {
      val got = docs
        .agg(expressions.bm25_raw_scan_topk(bc, 5,
          $"doc_id", $"hs", $"tfs", $"len").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.doc_id", $"e.rank", $"e.score_fp")
        .orderBy($"query_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      assert(got.toSeq == Seq(
        (7L, 2L, 1, 2L * 1571428L), (7L, 1L, 2, 2L * 1000000L),
        (8L, 1L, 1, 3L * 1375000L), (8L, 3L, 2, 3L * 1000000L)))
    } finally bc.destroy()
    // misaligned store: tfs shorter than hs must fail loudly
    val bad = Seq((1L, Seq(10L, 20L), Seq(1L), 4L)).toDF("doc_id", "hs", "tfs", "len")
    val bc2 = spark.sparkContext.broadcast(
      (Array(7L), Array(10L), Array(0, 1), Array(0), Array(2L), 4.0))
    try {
      val e = intercept[Exception] {
        bad.agg(expressions.bm25_raw_scan_topk(bc2, 5,
          $"doc_id", $"hs", $"tfs", $"len").as("t")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("must align")))
    } finally bc2.destroy()
  }

  test("kernels are callable from SQL") {
    import spark.implicits._
    Seq((Seq("a b c"), "hello world of sparks")).toDF("sh", "t")
      .createOrReplaceTempView("k_test")
    val r = spark.sql(
      """SELECT size(minhash_signature(sh)) AS n, size(winnow_fingerprint(t)) AS f
         FROM k_test""").head()
    assert(r.getInt(0) == 64 && r.getInt(1) > 0)
    val sq = spark.sql(
      "SELECT sq_dist(array(1L, 2L), array(4L, 6L)) AS d, " +
        "sq_dist(array(1L, 2L), array(4L)) AS mismatch").head()
    assert(sq.getLong(0) == 25L)
    assert(sq.isNullAt(1), "dim mismatch must be SQL null")
  }

  test("dhash64: monotone-shift invariance, bit semantics, degenerate frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, encode}
    def dh(texts: String*): Seq[Long] =
      texts.toDF("t").select(expressions.dhash64(encode(col("t"), "UTF-8")))
        .collect().map(_.getLong(0)).toSeq
    val Seq(base, shifted, noisy) = dh(
      "abcdefgh" * 8,
      ("abcdefgh" * 8).map(c => (c + 1).toChar),  // order-preserving shift
      ("abcdefgh" * 8).updated(10, 'a'))           // one disturbed comparison pair
    assert(base == shifted, "dHash must be invariant under monotone byte shifts")
    assert(java.lang.Long.bitCount(base ^ noisy) <= 2 && base != noisy)
    // bit j set iff byte j < byte j+1; "ab" -> bit 0 only; "ba" -> 0
    assert(dh("ab") == Seq(1L) && dh("ba") == Seq(0L))
    // degenerate: empty and 1-byte frames hash to 0; bit 63 never set
    assert(dh("", "x") == Seq(0L, 0L))
    val wide = dh("abcdefgh" * 16) // 128 bytes: comparisons beyond j=62 ignored
    assert(wide.head >= 0L, "bit 63 never set -> non-negative")
  }

  test("ivf_scan_topk == the probe equi-join + quantized_cosine + window it replaced") {
    import spark.implicits._
    // 12 vectors over 3 cells; queries 0 and 3 probe different cell sets
    val corpus = (0L until 12L).map { id =>
      (id, (id % 3).toInt,
        Seq.tabulate(4)(c => ((id * 7 + c * 13) % 11).toFloat / 11f - 0.4f))
    }
    val emb = corpus.toDF("vec_id", "label", "embedding")
      .select($"vec_id", $"label", transform($"embedding", _.cast("float")).as("embedding"))
    // q0 probes cells {0, 2} (its own cell + one more), q3 probes {0} only
    val probeSets = Map(0L -> Array(0, 2), 3L -> Array(0))
    val qrows: expressions.IvfQuerySet = corpus
      .filter(r => probeSets.contains(r._1))
      .map { case (id, _, e) =>
        val qv = e.map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray
        (id, qv, qv.map(x => x * x).sum, probeSets(id))
      }.sortBy(_._1).toArray
    val bc = spark.sparkContext.broadcast(qrows)
    val got =
      try emb.agg(expressions.ivf_scan_topk(bc, 3,
          $"vec_id", $"label", $"embedding").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.score")
        .orderBy($"query_id", $"rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      finally bc.destroy()
    // declarative reference: probe equi-join + exact kernel + window
    val probes = probeSets.toSeq
      .flatMap { case (q, cells) => cells.map(c => (q, c)) }
      .toDF("query_id", "label")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"neighbor_id")
    val want = emb.join(broadcast(probes), Seq("label"))
      .filter($"vec_id" =!= $"query_id")
      .join(emb.select($"vec_id".as("query_id"), $"embedding".as("q_emb")), Seq("query_id"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        expressions.quantized_cosine($"q_emb", $"embedding").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .orderBy($"query_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2)))
    assert(got.toSeq == want.toSeq, "kernel must be bit-identical to the join form")
    // candidacy really is cell-limited: q3 probes only cell 0
    assert(got.filter(_._1 == 3L).forall(t => t._2 % 3 == 0))
  }

  test("cosine_scan_topk: heterogeneous query dims — scratch sized to the max") {
    import spark.implicits._
    // FIRST query is the short one (the r13 sizing bug keyed off qs(0))
    val q2 = Array(1048576L, 1048576L) // dim 2
    val q3 = Array(1048576L, 0L, 1048576L) // dim 3
    val bc = spark.sparkContext.broadcast(Array(
      (100L, q2, q2.map(x => x * x).sum),
      (200L, q3, q3.map(x => x * x).sum)): expressions.CosineQuerySet)
    val emb = Seq(
      (1L, Seq(1.0f, 1.0f)),          // dim 2 — candidate for q100 only
      (2L, Seq(1.0f, 0.0f, 1.0f)),    // dim 3 — candidate for q200 only
      (3L, Seq(0.5f, 0.5f, 0.0f, 1.0f))) // dim 4 — matches neither
      .toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", _.cast("float")).as("embedding"))
    val got =
      try emb.agg(expressions.cosine_scan_topk(bc, 5,
          $"vec_id", $"embedding").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.neighbor_id", $"e.score")
        .orderBy($"query_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      finally bc.destroy()
    // per-pair n == qv.length is the only dim gate: the longer-dim query
    // (after a shorter first query) still scores its matching row
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((100L, 1L), (200L, 2L)))
    assert(got.forall(_._3 > 0.999)) // parallel vectors, cosine ≈ 1
  }

  test("top-k scan kernels == driver-side brute force over 4 tasks: ties by id, k > candidates") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import Ordering.Double.TotalOrdering
    type Doc = (Long, Seq[Float], Seq[Int], Int, Seq[Int], Seq[Long], Seq[Long], Seq[Long], Long)
    val bases = Seq(Seq(1f, 0f, .5f, -.25f), Seq(0f, 1f, 1f, 0f),
      Seq(.5f, .5f, 0f, 1f), Seq(-1f, .25f, 0f, .5f), Seq(0f, 0f, 0f, 0f))
    // 30 docs over 5 embeddings (one all-zero, skipped as degenerate),
    // 3 PQ subspaces of 4 codes, 3 cells, two 3-bit LSH tables and
    // 2-term BM25 postings: every kernel meets exact score ties
    val corpus = (0L until 30L).map { i =>
      (i, bases((i % 5).toInt),
        Seq((i % 4).toInt, (i / 2 % 4).toInt, (i / 3 % 4).toInt), (i % 3).toInt,
        Seq((i % 8).toInt, (i * 3 % 8).toInt),
        Seq(10L + i % 4, 20L + i % 3), Seq(1L + i % 5, 2L + i % 2),
        Seq(1L + i % 3, 1L + i % 2), 2L + i % 4)
    }
    val df = corpus.toDF("vec_id", "embedding", "codes", "cell", "sigs",
      "hs", "ws", "tfs", "len").repartition(4)
    val byId = corpus.map(d => d._1 -> d).toMap

    // four queries; id 100 is outside the corpus, the others self-exclude
    val qids = Seq(0L, 7L, 13L, 100L)
    def quant(e: Seq[Float]): Array[Long] =
      e.map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray
    val qv = qids.map(q => quant(if (q == 100L) bases(1) else byId(q)._2))
    val qq = qv.map(_.map(x => x * x).sum)
    val qsigs = qids.map(q => (if (q == 100L) Seq(5, 2) else byId(q)._5).toArray)
    val cells = Seq(Array(0), Array(1, 2), Array(0, 1, 2), Array(2))
    val dts = qids.map(q => Array.tabulate(12)(j => (j * 7 + q * 3) % 5))
    val terms = Seq(Seq(10L, 20L), Seq(11L), Seq(12L, 21L, 22L), Seq(13L, 30L))
    val termHash = terms.flatten.distinct.sorted.toArray
    val slots = termHash.map(t => terms.indices.filter(terms(_).contains(t)).toArray)
    val offsets = slots.scanLeft(0)(_ + _.length)
    val idfFp = termHash.map(t => 1L + t % 3)
    val avgdl = 3.0
    val nPlanes = 3

    val pqBc = spark.sparkContext.broadcast(
      qids.indices.map(i => (qids(i), dts(i), cells(i))).toArray)
    val bm25Bc = spark.sparkContext.broadcast(
      (qids.toArray, termHash, offsets, slots.flatten): expressions.Bm25QueryIndex)
    val rawBc = spark.sparkContext.broadcast((qids.toArray, termHash, offsets,
      slots.flatten, idfFp, avgdl): expressions.Bm25RawQueryIndex)
    val lshBc = spark.sparkContext.broadcast(
      qids.indices.map(i => (qids(i), qv(i), qq(i), qsigs(i))).toArray: expressions.LshQuerySet)
    val cosBc = spark.sparkContext.broadcast(
      qids.indices.map(i => (qids(i), qv(i), qq(i))).toArray: expressions.CosineQuerySet)
    val ivfBc = spark.sparkContext.broadcast(
      qids.indices.map(i => (qids(i), qv(i), qq(i), cells(i))).toArray: expressions.IvfQuerySet)

    // QuantizedCosine's arithmetic; None where it is SQL-null or a self-pair
    def cosine(i: Int, d: Doc): Option[Double] = {
      val b = quant(d._2)
      val dbb = b.map(x => x * x).sum
      if (d._1 == qids(i) || dbb == 0L || qq(i) == 0L || b.length != qv(i).length) None
      else Some(b.indices.map(j => qv(i)(j) * b(j)).sum.toDouble /
        (math.sqrt(qq(i).toDouble) * math.sqrt(dbb.toDouble)))
    }
    def pq(cellFiltered: Boolean)(i: Int, d: Doc): Option[Double] =
      if (d._1 == qids(i) || (cellFiltered && !cells(i).contains(d._4))) None
      else Some(d._3.indices.map(j => dts(i)(j * 4 + d._3(j))).sum.toDouble)
    // sum of `weight(term position)` over the doc terms the query has
    def bm25(weight: (Doc, Int) => Long)(i: Int, d: Doc): Option[Double] = {
      val hit = d._6.indices.filter(t => terms(i).contains(d._6(t)))
      if (d._1 == qids(i) || hit.isEmpty) None
      else Some(hit.map(t => weight(d, t)).sum.toDouble)
    }
    def rawWeight(d: Doc, t: Int): Long = {
      val tf = d._8(t)
      val lenTerm = 1.2 * (0.25 + (0.75 * d._9) / avgdl)
      idfFp(termHash.indexOf(d._6(t))) * math.floor((tf * 2.2) / (tf + lenTerm) * 1e6).toLong
    }
    def lshCandidate(i: Int, d: Doc): Boolean = d._5.indices.exists { t =>
      val x = d._5(t) ^ qsigs(i)(t)
      x == 0 || (Integer.bitCount(x) == 1 && Integer.numberOfTrailingZeros(x) < nPlanes)
    }
    // per query: the k best candidates, score DESC (ASC for a distance),
    // ties broken by id — rows (query_id, id, rank, score)
    def brute(k: Int, asc: Boolean, longScore: Boolean)(
        score: (Int, Doc) => Option[Double]): Seq[(Long, Long, Int, Any)] =
      qids.indices.flatMap { i =>
        corpus.flatMap(d => score(i, d).map(d._1 -> _))
          .sortBy { case (id, sc) => (if (asc) sc else -sc, id) }
          .take(k).zipWithIndex
          .map { case ((id, sc), r) =>
            (qids(i), id, r + 1, if (longScore) (sc.toLong: Any) else (sc: Any)) }
      }

    val kernels: Seq[(String, Int => Column, Int => Seq[(Long, Long, Int, Any)])] = Seq(
      ("pq_scan_topk", k => expressions.pq_scan_topk(pqBc, k, 4, $"vec_id", $"codes"),
        k => brute(k, asc = true, longScore = true)(pq(cellFiltered = false))),
      ("pq_scan_topk with cell", k => expressions.pq_scan_topk(pqBc, k, 4,
          $"vec_id", $"codes", $"cell"),
        k => brute(k, asc = true, longScore = true)(pq(cellFiltered = true))),
      ("bm25_scan_topk", k => expressions.bm25_scan_topk(bm25Bc, k,
          $"vec_id", $"hs", $"ws"),
        k => brute(k, asc = false, longScore = true)(bm25((d, t) => d._7(t)))),
      ("bm25_raw_scan_topk", k => expressions.bm25_raw_scan_topk(rawBc, k,
          $"vec_id", $"hs", $"tfs", $"len"),
        k => brute(k, asc = false, longScore = true)(bm25(rawWeight))),
      ("lsh_scan_topk", k => expressions.lsh_scan_topk(lshBc, k, nPlanes,
          $"vec_id", $"embedding", $"sigs"),
        k => brute(k, asc = false, longScore = false)((i, d) =>
          if (lshCandidate(i, d)) cosine(i, d) else None)),
      ("cosine_scan_topk", k => expressions.cosine_scan_topk(cosBc, k,
          $"vec_id", $"embedding"),
        k => brute(k, asc = false, longScore = false)(cosine)),
      ("ivf_scan_topk", k => expressions.ivf_scan_topk(ivfBc, k,
          $"vec_id", $"cell", $"embedding"),
        k => brute(k, asc = false, longScore = false)((i, d) =>
          if (cells(i).contains(d._4)) cosine(i, d) else None)))
    try {
      // k = 3 cuts through tied scores; k = 50 exceeds every candidate count
      for ((name, kernel, want) <- kernels; k <- Seq(3, 50)) {
        val got = df.agg(kernel(k).as("t"))
          .select(explode($"t").as("e")).select("e.*")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.get(3))).toSeq
        val expected = want(k)
        assert(expected.map(_._1).distinct.size >= 3, s"$name: fixture too sparse")
        assert(got == expected, s"$name, k = $k")
      }
    } finally Seq(pqBc, bm25Bc, rawBc, lshBc, cosBc, ivfBc).foreach(_.destroy())
  }

  test("one top-k scan aggregate: its scaffold and the per-call release live once") {
    import scala.jdk.CollectionConverters._
    def source(dir: String): String = {
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(java.nio.file.Files.readString).mkString("\n")
      finally files.close()
    }
    def occurrences(text: String, s: String): Int =
      text.split(java.util.regex.Pattern.quote(s), -1).length - 1
    val main = source("src/main")
    assert(occurrences(main, "TypedImperativeAggregate[PqTopKState]") == 1,
      "a top-k scan kernel extends expressions.ScanTopK")
    assert(occurrences(main, "PqTopKState.readFrom") == 1,
      "PqTopKState partials deserialize in ScanTopK only")
    val all = main + source("src/test")
    Seq("ScanTopK", "MatchScan", "bloomProbe").map(_ + "Name").foreach { helper =>
      assert(!all.contains(helper),
        s"`$helper` is gone: a broadcast kernel's Column carries its own expression")
    }
  }
}
