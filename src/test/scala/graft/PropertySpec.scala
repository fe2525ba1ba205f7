package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.FileReplay

/** Property tests (SURVEY §5): totality and invariants over generated
  * inputs rather than fixtures. Uses raw ScalaCheck generators with
  * seeded deterministic sampling (the scalatest bridge artifact isn't in
  * the offline cache, and deterministic cases suit this repo's
  * reproducibility contract anyway). Spark jobs per case are expensive,
  * so each property runs 10 generated cases.
  */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 10)(body: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      for {
        a <- ga.apply(Gen.Parameters.default, Seed(42L + i))
        b <- gb.apply(Gen.Parameters.default, Seed(1042L + i))
      } body(a, b)
    }

  private val wireCell: Gen[String] = Gen.oneOf(
    Gen.const(null: String), Gen.const(""), Gen.const("not-a-number"),
    Gen.choose(-1000.0, 1000.0).map(_.toString),
    Gen.oneOf("true", "false", "1", "0", "yes", "no", "TRUE", "garbage"),
    Gen.const("2026-03-01 08:00:00"), Gen.const("9999-99-99 99:99:99"))

  test("property: FileReplay.normalize is total over arbitrary wire rows") {
    val fields = graft.model.Schemas.telemetryWire.fieldNames
    forAll(Gen.listOfN(8, Gen.listOfN(fields.length, wireCell))) { rowCells =>
      val rows = rowCells.map(cells => Row(cells: _*))
      val wire = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        StructType(fields.map(StructField(_, StringType, nullable = true))))
      val out = FileReplay.normalize(wire,
        lit("2026-01-01 00:00:00").cast("timestamp")).collect()
      // never throws, never drops, never nulls the normalized columns
      assert(out.length == rows.length)
      assert(out.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      assert(out.forall(r => r.getString(10) != null && r.getString(10).nonEmpty))
    }
  }

  test("property: alert union count == sum of per-rule match counts") {
    import graft.rules.{Rule, RuleEngine}
    // NULL condition inputs must match nothing, as in a filter
    val eventGen = for {
      v <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(-50.0, 250.0).map(Some(_)))
      t <- Gen.frequency(1 -> Gen.const(None),
        6 -> Gen.oneOf("click", "view", "error").map(Some(_)))
    } yield (v, t)
    var bothRules, nullInputs = 0
    forAll(Gen.listOfN(30, eventGen)) { evs =>
      import spark.implicits._
      val df = evs.zipWithIndex.map { case ((v, t), i) => (i.toLong, v, t) }
        .toDF("id", "value", "event_type")
      val rules = Seq(
        Rule("high", col("value") > 150.0, concat(lit("h"), col("id"))),
        // the message is NULL when value is: the alert must still be emitted
        Rule("err", col("event_type") === "error", concat(lit("e"), col("value"))))
      val time = col("id").cast("timestamp")
      val alerts = RuleEngine.alerts(df, rules, time, col("id"), "id")
      // reference: one filtered projection per rule, unioned
      val reference = rules.map { r =>
        df.filter(r.condition).select(time.as("time"), col("id"),
          lit(r.alertType).as("alert_type"), r.message.as("alert_message"))
      }.reduce(_ unionAll _)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(alerts.columns.toSeq == reference.columns.toSeq)
      assert(rows(alerts) == rows(reference))
      val high = evs.count(_._1.exists(_ > 150.0))
      val err = evs.count(_._2.contains("error"))
      assert(alerts.count() == high + err)
      bothRules += evs.count(e => e._1.exists(_ > 150.0) && e._2.contains("error"))
      nullInputs += evs.count(e => e._1.isEmpty || e._2.isEmpty)
    }
    assert(bothRules > 0 && nullInputs > 0, "generated rows hit both rules and NULL inputs")
  }

  test("property: quantized_cosine is symmetric, bounded, 1 on itself") {
    val vecGen = Gen.listOfN(16, Gen.choose(-8.0f, 8.0f))
      .suchThat(_.exists(x => math.abs(x) > 0.01f))
    forAll2(vecGen, vecGen) { (a, b) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        graft.functions.expressions.quantized_cosine(col("a"), col("b")).as("ab"),
        graft.functions.expressions.quantized_cosine(col("b"), col("a")).as("ba"),
        graft.functions.expressions.quantized_cosine(col("a"), col("a")).as("aa")).head()
      assert(r.getDouble(0) == r.getDouble(1), "symmetric")
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-9, "bounded")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9, "self-cosine is 1")
    }
  }

  test("property: word_shingles count and membership") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x")
    forAll(Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))) { ws =>
      import spark.implicits._
      val text = ws.mkString(" ")
      val out = Seq(text).toDF("t")
        .select(graft.functions.expressions.word_shingles(col("t")).as("sh"))
        .head().getSeq[String](0)
      if (ws.length < 3) assert(out.isEmpty)
      else {
        assert(out.nonEmpty && out.length <= ws.length - 2, "distinct <= total 3-grams")
        assert(out.forall(s => text.contains(s)), "every shingle is a substring")
        assert(out.distinct.length == out.length, "distinct")
      }
    }
  }

  test("property: word_stats matches a naive Scala reference on arbitrary token lists") {
    val word = Gen.oneOf("a", "bb", "ccc", "d", "")
    forAll(Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, word)), n = 15) { ws =>
      import spark.implicits._
      val text = ws.mkString(" ")
      val toks = text.split(" ", -1).toSeq // reference tokenization incl. empties
      val row = Seq(text).toDF("t")
        .select(graft.functions.expressions.word_stats(col("t")).as("st"))
        .select("st.n_words", "st.n_distinct", "st.top_c", "st.total2", "st.d2")
        .head()
      assert(row.getLong(0) == toks.length.toLong)
      assert(row.getLong(1) == toks.distinct.length.toLong)
      assert(row.getLong(2) == toks.groupBy(identity).values.map(_.size).max.toLong)
      assert(row.getLong(3) == (toks.length - 1).toLong)
      assert(row.getLong(4) == toks.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq.distinct.length.toLong)
    }
  }

  test("property: connected components equals union-find on random graphs") {
    import spark.implicits._
    // random undirected edge lists, including path-like graphs (the
    // worst case for naive label propagation) and self-contained cliques
    val edgeGen: Gen[List[(Long, Long)]] = for {
      nV <- Gen.choose(2, 40)
      nE <- Gen.choose(1, 50)
      edges <- Gen.listOfN(nE, for {
        a <- Gen.choose(0L, nV.toLong - 1)
        b <- Gen.choose(0L, nV.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    forAll(edgeGen, n = 6) { edges =>
      if (edges.nonEmpty) {
        val got = graft.queries.TextOps
          .connectedComponents(edges.toDF("u", "v"), maxIters = 24)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference union-find
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = verts.map { v =>
          val root = find(v)
          v -> verts.filter(find(_) == root).min
        }.toMap
        assert(got == expected, s"edges=$edges")
      }
    }
  }

  test("property: winnow fingerprints are within the hash modulus") {
    forAll(Gen.choose(11, 120).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))) { text =>
      import spark.implicits._
      val fps = Seq(text).toDF("t")
        .select(graft.functions.expressions.winnow_fingerprint(col("t")).as("f"))
        .head().getSeq[Long](0)
      assert(fps.nonEmpty)
      assert(fps.forall(f => f >= 0 && f < 1000000007L))
      assert(fps.distinct.length == fps.length)
    }
  }

  test("property: sorted_intersect_count == distinct-set intersection size") {
    val arrGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-30L, 30L)).map(_.sorted))
    forAll2(arrGen, arrGen) { (a, b) =>
      import spark.implicits._
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.expressions.sorted_intersect_count(col("a"), col("b")))
        .head().getLong(0)
      assert(got == (a.toSet intersect b.toSet).size.toLong)
    }
  }

  test("property: decSumFast/decAvgFast == decSum/decAvg on arbitrary 2-decimal money") {
    // the fast path's whole claim is bit-identity under the <=4-decimal
    // contract; pin it on random 2-decimal values of money-like magnitude
    // (positives and negatives, many partitions so partial-agg order varies)
    val moneyGen = Gen.listOfN(300,
      Gen.choose(-50000000L, 50000000L).map(c => c / 100.0))
    forAll(moneyGen, n = 5) { vals =>
      import spark.implicits._
      val df = vals.toDF("x").repartition(7)
      val r = df.agg(
        graft.queries.decSum(col("x")).as("slow"),
        graft.queries.decSumFast(col("x")).as("fast"),
        graft.queries.decAvg(col("x")).as("aslow"),
        graft.queries.decAvgFast(col("x")).as("afast")).head()
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"sum diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"avg diverged: ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("property: dupFraction matches a naive in-memory reference") {
    val occGen = Gen.listOfN(120, for {
      doc <- Gen.choose(0L, 8L)
      key <- Gen.choose(0, 12).map(i => s"k$i")
    } yield (doc, key))
    forAll(occGen, n = 5) { occ =>
      import spark.implicits._
      val got = graft.queries.TextOps.dupFraction(occ.toDF("doc_id", "key"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val byKeyDocs = occ.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size)
      val exp = occ.groupBy(_._1).map { case (doc, rows) =>
        doc -> (rows.size.toLong,
          rows.count(r => byKeyDocs(r._2) >= 2).toLong)
      }
      assert(got == exp)
      // the r15 explicit-totals overload (q65/q73 supply arithmetic
      // per-doc counts instead of paying a second counting pass) must
      // be row-identical when handed exactly occ's per-doc row counts
      val totals = occ.groupBy(_._1).view.mapValues(_.size.toLong).toSeq
      val got2 = graft.queries.TextOps.dupFraction(occ.toDF("doc_id", "key"),
          totals.toDF("doc_id", "n_spans"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got2 == exp)
      // totals short of occ's rows break the contract: the query fails
      // naming a doc_id rather than reporting dup_frac < 0
      val short = totals.map { case (doc, n) => (doc, n - occ.size) }
      val e = intercept[Exception] {
        graft.queries.TextOps.dupFraction(occ.toDF("doc_id", "key"),
          short.toDF("doc_id", "n_spans")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null &&
        m.contains("dupFraction: totals hold fewer spans than occ for doc_id")), e)
    }
  }

  test("property: bpe_encode kernel == independent naive greedy reference") {
    import graft.functions.expressions
    val tokenGen = Gen.choose(1, 2)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    // duplicate pairs allowed (first rank must win); multi-char sides only
    // fire when earlier merges create them — both paths exercised
    val mergesGen = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, Gen.zip(tokenGen, tokenGen)))
    val textGen = Gen.listOfN(60,
      Gen.frequency(5 -> Gen.oneOf('a', 'b', 'c'), 1 -> Gen.const(' ')))
      .map(_.mkString)
    forAll2(Gen.listOfN(8, textGen), mergesGen) { (texts, merges) =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = df.select($"id", expressions.bpe_encode($"text", merges).as("toks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == NaiveBpe.encode(t, merges),
          s"text='$t' merges=$merges")
      }
    }
  }

  test("property: Lcg matches java.util.Random for arbitrary seeds and bounds") {
    forAll2(Gen.long, Gen.listOfN(40, Gen.choose(1, 64)), n = 5) { (seed, bounds) =>
      val jr = new java.util.Random(seed)
      var st = graft.sources.Simulation.Lcg.seeded(seed)
      bounds.foreach { bound =>
        val (s1, v) = graft.sources.Simulation.Lcg.nextInt(st, bound)
        assert(v == jr.nextInt(bound)); st = s1
        val (s2, d) = graft.sources.Simulation.Lcg.nextDouble(st)
        assert(d == jr.nextDouble()); st = s2
      }
    }
  }

  test("property: bigram span kernels == transform/concat_ws + xxhash64 reference") {
    import graft.functions.expressions
    import org.apache.spark.sql.functions._
    // spaces weighted heavily: empty words, leading/trailing/multiple
    // separators are the edge cases; a multi-byte char guards the
    // byte-scan's UTF-8 safety claim
    val textGen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n,
      Gen.frequency(4 -> Gen.oneOf('a', 'b', 'c'), 2 -> Gen.const(' '),
        1 -> Gen.const('é'))).map(_.mkString))
    forAll(Gen.listOfN(12, textGen)) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val w = split($"text", " ")
      val ref = df.select($"id",
          when(size(w) >= 2, transform(sequence(lit(1), size(w) - 1),
            i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
            .otherwise(array()).as("bgs"))
        .withColumn("hs", transform($"bgs", b => xxhash64(b)))
        .collect().map(r => r.getLong(0) ->
          (r.getSeq[String](1), r.getSeq[Long](2))).toMap
      val got = df.select($"id",
          expressions.bigram_spans($"text").as("sp"),
          expressions.bigram_hashes($"text").as("hs"))
        .collect().map { r =>
          val sp = r.getSeq[org.apache.spark.sql.Row](1)
          r.getLong(0) -> (sp.map(_.getString(0)), sp.map(_.getLong(1)),
            r.getSeq[Long](2))
        }.toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val (refBgs, refHs) = ref(i.toLong)
        val (gotBgs, gotSpanHs, gotHs) = got(i.toLong)
        assert(gotBgs == refBgs, s"text='$t' spans")
        assert(gotSpanHs == refHs, s"text='$t' span hashes")
        assert(gotHs == refHs, s"text='$t' bare hashes")
      }
    }
  }

  test("property: dtw_dist is symmetric, zero iff equal-as-aligned, triangle-ish bounds") {
    val serGen = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-500L, 500L)))
    forAll2(serGen, serGen) { (a, b) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        graft.functions.expressions.dtw_dist(col("a"), col("b")).as("ab"),
        graft.functions.expressions.dtw_dist(col("b"), col("a")).as("ba"),
        graft.functions.expressions.dtw_dist(col("a"), col("a")).as("aa")).head()
      assert(r.getLong(0) == r.getLong(1), "symmetric (cost is symmetric)")
      assert(r.getLong(2) == 0L, "self-distance 0")
      assert(r.getLong(0) >= 0L, "non-negative")
      // an upper bound: align everything to one element
      val ub = (a.map(x => math.abs(x - b.head)).sum
        + b.tail.map(y => math.abs(a.last - y)).sum)
      assert(r.getLong(0) <= ub, "bounded by the corner alignment")
    }
  }

  test("property: sorted_intersect is commutative, sorted, and counts agree") {
    val arrGen = Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 30L))).map(_.sorted)
    forAll2(arrGen, arrGen) { (a, b) =>
      import spark.implicits._
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        graft.functions.expressions.sorted_intersect(col("a"), col("b")).as("ab"),
        graft.functions.expressions.sorted_intersect(col("b"), col("a")).as("ba"),
        graft.functions.expressions.sorted_intersect_count(col("a"), col("b")).as("c"))
        .head()
      val ab = r.getSeq[Long](0)
      assert(ab == r.getSeq[Long](1), "commutative")
      assert(ab == ab.sorted && ab.distinct == ab, "sorted distinct")
      assert(ab.length.toLong == r.getLong(2), "count law")
      assert(ab.toSet == (a.toSet & b.toSet), "set semantics")
    }
  }

  test("property: PqTopKState partials round-tripped through writeTo/readFrom and merged == one state fed everything") {
    import graft.functions.expressions.PqTopKState
    val nq = 3
    val nParts = 4
    // (query slot, key, id, partial that receives the push)
    val pushGen = Gen.listOf(for {
      qi <- Gen.choose(0, nq - 1)
      key <- Gen.choose(-4L, 4L)
      id <- Gen.choose(0L, 15L)
      part <- Gen.choose(0, nParts - 1)
    } yield (qi, key, id, part))
    forAll2(pushGen, Gen.choose(1, 6)) { (pushes, k) =>
      def fed(ps: Seq[(Int, Long, Long, Int)]): PqTopKState = {
        val st = new PqTopKState(nq, k)
        ps.foreach { case (qi, key, id, _) => st.push(qi, key, id) }
        st
      }
      def contents(st: PqTopKState): Seq[Seq[(Long, Long)]] = (0 until nq).map(qi =>
        (0 until st.size(qi)).map(i => (st.dist(qi)(i), st.id(qi)(i))).sorted)
      val whole = fed(pushes)
      val partials = (0 until nParts).map(p =>
        PqTopKState.readFrom(fed(pushes.filter(_._4 == p)).writeTo))
      val merged = partials.reduce((a, b) => a.mergeFrom(b))
      assert(contents(merged) == contents(whole))
      // and both keep each query's k smallest (key, id)
      assert(contents(whole) == (0 until nq).map(qi =>
        pushes.filter(_._1 == qi).map(p => (p._2, p._3)).sorted.take(k)))
    }
  }

  test("property: additive store laws == rebuild for every family (merge, subtract, remove, save/load, per-batch fold)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.ArrayType
    import graft.queries.{Additive, Admission, LangId, TextOps}
    import graft.sources.Tables
    import spark.implicits._
    // a family's store of (doc_id, source, lang, text) docs, by name
    val families = Seq[(String, DataFrame => Additive.Store)](
      "bm25" -> (d => TextOps.Bm25Raw.deltaOf(d.select("doc_id", "text"))),
      "nb" -> (d => LangId.NbRaw.deltaOf(d.select("doc_id", "lang", "text"))),
      "lm" -> (d => TextOps.LmRaw.deltaOf(d.select("doc_id", "text"))),
      "cards" -> (d => TextOps.cardStoreOf(d.select("source", "lang", "text"))))
    val build = families.toMap
    // a frame as a row multiset; array columns compare as the sorted
    // multiset of their zipped elements (collect_list order is free)
    def rows(df: DataFrame): Seq[String] = {
      val arrays = df.schema.fields.collect { case f if f.dataType.isInstanceOf[ArrayType] => f.name }
      val norm = if (arrays.isEmpty) df else df.select(
        df.columns.filterNot(arrays.contains).map(col) :+
          sort_array(arrays_zip(arrays.map(col): _*)).as("arrays"): _*)
      norm.collect().map(_.toString).sorted.toSeq
    }
    def same(what: String, a: Additive.Store, b: Additive.Store): Unit = {
      a.family.names.foreach(n => assert(rows(a(n)) == rows(b(n)), s"$what: $n"))
      assert(a.totals == b.totals, s"$what: totals")
    }
    // a small vocabulary, so counts collide across docs and some words,
    // grams and hashes are unique to one side; empty texts included.
    // lang is never null: the stores key on it (cards coalesce it to '')
    type Doc = (String, String, String)
    val doc: Gen[Doc] = for {
      source <- Gen.oneOf("s1", "s2", "s3")
      lang <- Gen.oneOf("en", "fr", "")
      n <- Gen.choose(0, 7)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba", "zebra", "abc"))
    } yield (source, lang, ws.mkString(" "))
    val docsA = Gen.choose(1, 10).flatMap(Gen.listOfN(_, doc))
    val docsB = Gen.choose(1, 6).flatMap(Gen.listOfN(_, doc))
    def laws(a: Seq[Doc], b: Seq[Doc]): Unit = {
      def docs(xs: Seq[Doc], from: Long) =
        xs.zipWithIndex.map { case ((src, l, t), i) => (from + i, src, l, t) }
          .toDF("doc_id", "source", "lang", "text")
      val (dA, dB) = (docs(a, 0L), docs(b, 100L))
      val dAB = dA.unionByName(dB)
      val state = tmpDir("additive_laws")
      families.foreach { case (name, of) =>
        val union = of(dAB)
        same(s"$name merge", Additive.merge(of(dA), of(dB)), union)
        same(s"$name subtract", Additive.subtract(union, of(dB)), of(dA))
        if (union.family.postings.nonEmpty)
          same(s"$name remove", Additive.remove(union, dB.select("doc_id")), of(dA))
        Additive.save(union, s"$state/whole/$name")
        same(s"$name load(save)", Additive.load(union.family, s"$state/whole/$name",
          Tables.parquet(spark, _)), union)
        // admission's layout: each batch's delta under its batch=<id> part
        Additive.save(of(dA), s"$state/$name", "batch=-1")
        Additive.save(of(dB), s"$state/$name", "batch=0")
        same(s"$name fold", Additive.merge(Additive.load(union.family, s"$state/$name",
          Tables.parquet(spark, _).drop("batch"))), union)
      }
      same("admission bm25", Admission.servedBm25(spark, state), build("bm25")(dAB))
      same("admission cards", Admission.servedCardStore(spark, state), build("cards")(dAB))
    }
    forAll2(docsA, docsB, n = 3)(laws)
    // B = ∅: admitting or removing nothing is each law's identity case
    forAll(docsA, n = 1)(laws(_, Nil))
    // the cached artifacts are the build over the stored split
    val stored = Tables.documents(spark, sf0001).filter($"doc_id" % 10 < 8)
      .select($"doc_id", $"source", $"lang", $"text")
    same("bm25 artifact", TextOps.bm25RawCached(spark, sf0001), build("bm25")(stored))
    same("nb artifact", LangId.nbRawCached(spark, sf0001), build("nb")(stored))
    same("lm artifact", TextOps.lmRawCached(spark, sf0001), build("lm")(stored))
  }
}
