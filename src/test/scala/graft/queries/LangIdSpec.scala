package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Invariants for the trained NB language classifier (q100). Exact values
  * are the DuckDB oracle's job; these pin the classifier semantics.
  */
class LangIdSpec extends SparkSpec {

  private def confusion = SparkEntry.queries("q100_langid_trained")(spark, sf0001)

  test("q100: every held-out doc is classified exactly once") {
    import spark.implicits._
    val heldOut = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).count()
    val classified = confusion.agg(sum("n_docs")).head().getLong(0)
    assert(classified == heldOut)
  }

  test("q100: predictions come from the training label set") {
    import spark.implicits._
    val trainLangs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 < 8).select($"lang").distinct()
      .collect().map(_.getString(0)).toSet
    val preds = confusion.select($"lang_pred").distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(trainLangs), "NB can only emit trained classes")
  }

  test("q100: accuracy beats the uniform-random floor (data-capped signal)") {
    val rows = confusion.collect()
    val total = rows.map(_.getLong(2)).sum
    val diag = rows.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    // this corpus's generator gives only `en` a real signal (the/a rate);
    // measured 0.25 at sf0.001 / 0.30 at sf0.1 vs 0.20 random — pin a
    // regression floor, not the ceiling
    assert(diag.toDouble / total >= 0.22)
  }

  test("q102: covers the held-out split, margin-ordered, beats base rate") {
    import spark.implicits._
    val df = SparkEntry.queries("q102_quality_classifier")(spark, sf0001)
    val rows = df.collect()
    val heldOut = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).count()
    assert(rows.length.toLong == heldOut, "every held-out doc is scored")
    // emission order IS the quality ranking
    val margins = rows.map(_.getLong(3))
    assert(margins.zip(margins.tail).forall { case (a, b) => a >= b })
    // nb_keep is exactly the margin's sign (zero falls to drop)
    rows.foreach(r => assert(r.getBoolean(2) == (r.getLong(3) > 0)))
    // the classifier generalizes the rule labels from text alone:
    // measured agreement 0.64 at sf0.001 / 0.69 at sf0.1 vs a 0.59
    // majority base rate — pin a floor above chance-with-slack
    val agree = rows.count(r => r.getBoolean(1) == r.getBoolean(2))
    assert(agree.toDouble / rows.length >= 0.6)
  }

  test("q100 releases its scoped persist") {
    spark.catalog.clearCache()
    confusion.count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q100 must unpersist its (lang, trigram) counts after materializing")
  }

  test("scoring plan is one scan-local NbScore pass: no joins, no exchanges") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
    val m = LangId.langIdModelCached(spark, sf0001)
    val plan = LangId.langIdScoresAll(docs, m)
      .queryExecution.executedPlan.toString
    // the whole posterior surface comes from ONE kernel pass over the
    // text (nb_score against the broadcast compiled model) — a
    // regression back to the distinct-gram groupBy + broadcast-join
    // shape re-introduces a corpus-proportional exchange into every
    // batch score and streaming gate
    val kernelPasses = "(?i)nb_?score".r.findAllIn(plan).size
    assert(kernelPasses >= 1, s"expected an nb_score pass in:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"scoring must stay scan-local (no exchange, no join):\n$plan")
  }

  test("NbScore kernel == declarative join-form scoring, row for row") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
    val m = LangId.langIdModelCached(spark, sf0001)
    val kernel = LangId.langIdScoresAll(docs, m)
      .collect().map(_.toString).sorted.toSeq
    // the retired declarative form: distinct-gram counts, broadcast
    // weight join, two-level aggregation, closed-form trigram total —
    // the gold standard the kernel must reproduce exactly
    val counts = docs.select($"doc_id",
        explode(graft.functions.expressions.char_grams($"text")).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("tc"))
    val seen = counts.join(broadcast(m.weights), Seq("g"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"tc" * $"w_fp").as("seen_fp"), sum($"tc").as("seen_c"))
    val declarative = docs.select($"doc_id",
        greatest(length($"text") - 2, lit(0)).cast("long").as("tt"))
      .crossJoin(broadcast(m.stats))
      .join(seen, Seq("doc_id", "lang"), "left")
      .na.fill(0L, Seq("seen_fp", "seen_c"))
      .select($"doc_id", $"lang",
        ($"prior_fp" + $"seen_fp" + ($"tt" - $"seen_c") * $"unseen_fp")
          .as("score_fp"))
      .collect().map(_.toString).sorted.toSeq
    assert(kernel.nonEmpty && kernel == declarative)
  }

  test("q129 calibration: mass == q102 rows, bin law exact, rates bounded") {
    val bins = SparkEntry.queries("q129_quality_calibration")(spark, sf0001)
      .collect()
    val scored = SparkEntry.queries("q102_quality_classifier")(spark, sf0001)
      .collect()
    assert(bins.nonEmpty)
    assert(bins.map(_.getLong(1)).sum == scored.length)
    // recompute each bin from q102's rows (same trunc-div + clamp)
    val naive = scored.map { r =>
      val b = math.max(-10L, math.min(10L, r.getLong(3) / 1000000L))
      (b, r.getBoolean(1), r.getBoolean(2))
    }.groupBy(_._1)
    bins.foreach { r =>
      val (b, n, nk, nn, rate) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))
      val rows = naive(b)
      assert(n == rows.length)
      assert(nk == rows.count(_._2) && nn == rows.count(_._3))
      assert(rate == nk.toDouble / n.toDouble)
      assert(rate >= 0 && rate <= 1)
    }
    assert(bins.map(_.getLong(0)).toSet == naive.keySet)
  }

  test("q139: held-out coverage, chunk law, switch bounds, dominant membership") {
    import spark.implicits._
    val out = graft.SparkEntry.queries("q139_codeswitch_windows")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8)
      .select($"doc_id", size(split($"text", " ")).as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // one summary row per held-out doc
    assert(out.map(_._1).toSet == docs.keySet)
    val trainLangs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 < 8).select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    out.foreach { case (id, nChunks, nLangs, dom, nSwitches) =>
      // chunk count law: ceil(words / 16)
      assert(nChunks == (docs(id) + 15) / 16, s"doc $id chunk count")
      assert(nLangs >= 1 && nLangs <= nChunks)
      assert(nSwitches >= 0 && nSwitches <= nChunks - 1)
      // a doc predicted monolingual cannot have switches; switches imply langs
      if (nLangs == 1) assert(nSwitches == 0)
      if (nSwitches == 0 && nChunks > 1)
        assert(nLangs == 1, s"doc $id: zero switches but $nLangs langs")
      assert(trainLangs.contains(dom))
    }
    // the corpus's weak per-chunk signal must actually produce BOTH
    // monolingual and mixed verdicts — otherwise the query discriminates
    // nothing and the invariants above are vacuous
    assert(out.exists(_._3 >= 2) && out.exists(_._3 == 1))
  }

  test("q139 core: a null-text doc gets a prior-only verdict, never vanishes") {
    import spark.implicits._
    // permissive-JSON corruption on the streaming gate path: split(null)
    // used to posexplode to zero chunk rows and the doc disappeared from
    // the gate verdict entirely
    val m = LangId.trainLangIdNb(graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 < 8).select($"lang", $"text"))
    val docs = Seq((1L, "hello world"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = LangId.codeSwitchSummary(docs, m).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(2L) == ((1L, 1L, 0L)), "one prior-only chunk, no switches")
  }

  test("NB raw store: projection law, unlearn == retrain, append/remove roundtrip") {
    import spark.implicits._
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def modelTabs(m: LangId.NbModel) = (tab(m.weights), tab(m.stats))
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val raw = LangId.nbRawCached(spark, sf0001)
    // projection law: refit from the raw store == the served artifact
    assert(modelTabs(LangId.nbModelOf(raw)) ==
      modelTabs(LangId.langIdModelCached(spark, sf0001)))
    // exact unlearning: subtracting victims' stored counts == retrain
    val vics = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 === 0)
      .select($"doc_id")
    val pruned = Additive.remove(raw, vics)
    val retrained = LangId.trainLangIdNb(
      docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 =!= 0)
        .select($"lang", $"text"))
    assert(modelTabs(LangId.nbModelOf(pruned)) == modelTabs(retrained))
    // append == retrain on the union; append-then-remove is the identity
    val snap = docs.filter($"doc_id" % 10 === 8)
      .select($"doc_id", $"lang", $"text")
    val appended = Additive.merge(raw, LangId.NbRaw.deltaOf(snap))
    val unionTrained = LangId.trainLangIdNb(
      docs.filter($"doc_id" % 10 < 9).select($"lang", $"text"))
    assert(modelTabs(LangId.nbModelOf(appended)) == modelTabs(unionTrained))
    val back = Additive.remove(appended, snap.select($"doc_id"))
    Seq("lg", "dlab", "tgpost").foreach(n => assert(tab(back(n)) == tab(raw(n)), n))
  }

  test("langIdScoreDocs in-row argmax == windowed argmax over the score surface") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the in-row array_position argmax must pick exactly the row the
    // old posexplode + row_number (score desc, lang asc) window picked,
    // doc for doc — ties included (the kernel's langs ride sorted asc)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
    val m = LangId.langIdModelCached(spark, sf0001)
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val windowed = LangId.langIdScoresAll(docs, m)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score_fp".desc, $"lang")))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang".as("lang_pred"), $"score_fp")
    assert(tab(LangId.langIdScoreDocs(docs, m)) == tab(windowed))
  }

  test("NB unlearning: a trigram unique to the victim leaves the vocabulary") {
    import spark.implicits._
    // 'zzz' occurs only in doc 2 — its takedown must drop the gram from
    // the count table, shrinking v (the smoothing denominator shifts in
    // every surviving weight, which the refit == retrain law covers;
    // here the raw-count mechanics are pinned directly)
    val snap = Seq((1L, "en", "abcab"), (2L, "fr", "zzzab"))
      .toDF("doc_id", "lang", "text")
    val raw = LangId.NbRaw.deltaOf(snap)
    val grams0 = raw("lg").select($"g").distinct()
      .collect().map(_.getString(0)).toSet
    assert(grams0.contains("zzz"))
    val pruned = Additive.remove(raw, Seq(2L).toDF("doc_id"))
    val grams1 = pruned("lg").select($"g").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!grams1.contains("zzz") && grams1 == Set("abc", "bca", "cab"))
    assert(pruned("dlab").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
