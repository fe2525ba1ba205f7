package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkEntry

/** Invariant tests for the query registry on sf0.001 (SURVEY §5: golden
  * invariants instead of golden files — the DuckDB oracle covers exact
  * values; these pin semantic properties).
  */
class QueriesSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("registry: every oracle key has a query and entry() is non-empty") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    assert(qs.size >= 32)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01 pricing summary: positive sums, avg consistent with count") {
    val rows = run("q01_pricing_summary").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0 && r.getDouble(3) > 0)
      assert(r.getLong(7) > 0)
    }
  }

  test("q07 engagement pct within [0,100]") {
    val bad = run("q07_engagement_rate")
      .filter(col("purchase_pct") < 0 || col("purchase_pct") > 100)
    assert(bad.count() == 0)
  }

  test("q10 shares sum to 100") {
    val total = run("q10_event_type_share").agg(sum("share_pct")).head().getDouble(0)
    assert(math.abs(total - 100.0) < 1e-9)
  }

  test("q13 banded self-join: band filter holds, caps at 3 per key") {
    // sf0.01: sf0.001's customer table is too sparse for <10 bal pairs
    val df = SparkEntry.queries("q13_proximity_pairs")(spark, "/root/testdata/sf0.01")
    assert(df.count() > 0)
    assert(df.filter(col("bal_diff") >= 10.0).count() == 0)
    val maxPer = df.groupBy("c_custkey").count().agg(max("count")).head().getLong(0)
    assert(maxPer <= 3)
  }

  test("q17 exact dedup: survivors cover all distinct texts") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val distinctTexts = docs.select("text").distinct().count()
    val dedup = run("q17_dedup_exact")
    assert(dedup.count() == distinctTexts)
    assert(dedup.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("q19 MinHash-LSH equals the exact Jaccard pairs (recall 1 here)") {
    val exact = run("q18_neardup_jaccard").select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("q19_neardup_minhash_lsh").select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus plants near-dup pairs")
    assert(lsh == exact)
  }

  test("q20 SimHash pairs: verified-exact precision, recall >= 0.5 vs exact") {
    val exact = run("q18_neardup_jaccard").select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q20 = run("q20_simhash_pairs").collect()
    val sim = q20.map(r => (r.getLong(0), r.getLong(1))).toSet
    // emitted pairs are jaccard-verified, so precision is 1 BY CONSTRUCTION;
    // the subset assertion pins that the verification actually ran
    assert(sim.subsetOf(exact), "verified simhash pairs must be true near-dups")
    // hamming <= 7 is the semantics (oracle replays it), recall the trade
    assert(sim.size.toDouble / exact.size >= 0.5)
    q20.foreach { r =>
      assert(r.getLong(2) <= 7, "hamming filter is part of the contract")
      assert(r.getDouble(6) >= 0.5, "every emitted pair is jaccard-verified")
    }
  }

  test("q18/q19 release their scoped persist (no pinned cache after run)") {
    spark.catalog.clearCache()
    run("q18_neardup_jaccard").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q18 must unpersist its shingled corpus after materializing the result")
    run("q19_neardup_minhash_lsh").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q19 must unpersist its shingled corpus after materializing the result")
    run("q20_simhash_pairs").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q20 must unpersist its shingled corpus after materializing the result")
    run("q46_decontamination").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "q46 must unpersist its split corpus after materializing the result")
  }

  test("capBucket truncates oversized buckets deterministically") {
    import spark.implicits._
    val df = Seq(Seq(5L, 3L, 1L, 4L, 2L), Seq(2L, 1L)).toDF("ds")
    val out = df.select(TextOps.capBucket($"ds", 3).as("ds"))
      .collect().map(_.getSeq[Long](0))
    assert(out.contains(Seq(1L, 2L, 3L)), "oversized bucket -> first 3 in sorted order")
    assert(out.contains(Seq(2L, 1L)), "bucket within cap passes through untouched")
  }

  test("pathological shared shingle: capped candidate gen, results exact") {
    import spark.implicits._
    // every doc shares the hot shingle "x y z" (df = nDocs) and carries one
    // unique shingle -> with 2 shingles the whole doc is its own prefix, so
    // the hot bucket holds ALL docs: the quadratic-candidate worst case the
    // cap exists for. No pair reaches jaccard 0.5 (overlap is 1 of 3).
    val nDocs = 300
    val dir = tmpDir("advdocs")
    (1 to nDocs).map(i => (i.toLong, s"x y z w$i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("graft.text.maxBucket", "8")
    try {
      assert(SparkEntry.queries("q18_neardup_jaccard")(spark, dir).count() == 0)
      assert(SparkEntry.queries("q19_neardup_minhash_lsh")(spark, dir).count() == 0)
      assert(SparkEntry.queries("q20_simhash_pairs")(spark, dir)
        .filter(col("i") >= col("j")).count() == 0)
    } finally spark.conf.unset("graft.text.maxBucket")
  }

  test("q20: the oracle's cap literal (4096) never binds at test scale") {
    // the DuckDB oracle replays the kernel's maxBucket cap with a literal
    // 4096; this pins the complementary invariant that the default cap is
    // inert on oracle-checked data — the pair set is identical with the
    // cap effectively disabled, so the capped and uncapped formulations
    // agree wherever the driver hashes them
    val dflt = run("q20_simhash_pairs").collect().toSet
    spark.conf.set("graft.text.maxBucket", (1 << 24).toString)
    try {
      val uncapped = run("q20_simhash_pairs").collect().toSet
      assert(dflt == uncapped)
    } finally spark.conf.unset("graft.text.maxBucket")
  }

  test("q103: matrix is normalized and conserves the q19 pair set") {
    val m = run("q103_cross_source_dup_matrix").collect()
    assert(m.nonEmpty)
    // normalized cells, each backed by at least one pair (>= 2 docs)
    m.foreach { r =>
      assert(r.getString(0) <= r.getString(1))
      assert(r.getLong(2) >= 1)
      assert(r.getLong(3) >= 2 && r.getLong(3) <= 2 * r.getLong(2))
    }
    // attribution is a partition of the near-dup relation: cell pair
    // counts sum to exactly the q19 pair count
    val total = m.map(_.getLong(2)).sum
    assert(total == run("q19_neardup_minhash_lsh").count())
  }

  test("q104: audit rows == recomputed q25-vs-q39 overlap, one row per query") {
    val audit = run("q104_ann_recall_audit").collect()
    val exact = run("q25_knn_cosine_exact").select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run("q39_knn_ann_ivf").select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(audit.map(_.getLong(0)).toSet == exact.map(_._1),
      "one audit row per exact-KNN query")
    audit.foreach { r =>
      val q = r.getLong(0)
      val expectHits = (exact.filter(_._1 == q) & ivf).size.toLong
      assert(r.getLong(1) == expectHits)
      assert(r.getDouble(2) == expectHits / 5.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("q107: near-dup clusters never straddle the split; singletons == q45") {
    val split = run("q107_leakage_free_split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(split.size.toLong == docs, "one split row per document")
    // cohesion: every member of a q47 cluster carries the same split
    val clusters = run("q47_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    clusters.groupBy(_._2).foreach { case (rep, members) =>
      val splits = members.map(m => split(m._1)._2).toSet
      assert(splits.size == 1, s"cluster $rep straddles splits: $splits")
    }
    // singletons (docs in no cluster) fall back to exactly q45's assignment
    val clustered = clusters.map(_._1).toSet
    val q45s = run("q45_dataset_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    split.foreach { case (id, (unit, sp)) =>
      if (!clustered.contains(id)) {
        assert(unit == id)
        assert(sp == q45s(id), s"singleton $id diverges from q45")
      }
    }
  }

  test("q108: oov mass bounded and consistent with a direct recompute") {
    import spark.implicits._
    val rows = run("q108_oov_rate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) == r.getLong(2).toDouble / r.getLong(1).toDouble)
    }
    // direct recompute of the global OOV mass (split + vocab from scratch)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5n(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1)
      .map("%02x".format(_)).mkString.take(1)
    def splitOf(id: Long) = md5n(id) match {
      case n if n <= "9" || n == "a" || n == "b" => "train"
      case "c" | "d" => "val"
      case _ => "test"
    }
    val vocab = docs.filter(d => splitOf(d._1) == "train")
      .flatMap(_._3.split(" ", -1)).toSet
    val test = docs.filter(d => splitOf(d._1) == "test")
    val expectTokens = test.map(_._3.split(" ", -1).length.toLong).sum
    val expectOov = test.map(_._3.split(" ", -1).count(w => !vocab(w)).toLong).sum
    assert(rows.map(_.getLong(1)).sum == expectTokens)
    assert(rows.map(_.getLong(2)).sum == expectOov)
  }

  test("q109: funnel is monotone and order-aware") {
    val rows = run("q109_funnel").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    // each stage is a subset of the previous: counts never increase
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    assert(rows.head.isNullAt(3), "stage 0 has no previous stage")
    rows.tail.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("q111: latency quantiles ordered; converter count == q109 stage 3") {
    val r = run("q111_conversion_latency").head()
    val (n, lo, p50, p90, hi) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
    assert(n > 0)
    assert(lo <= p50 && p50 <= p90 && p90 <= hi)
    assert(lo > 0, "a completed funnel has strictly positive latency")
    val stage3 = run("q109_funnel").collect()
      .find(_.getInt(0) == 3).get.getLong(2)
    assert(n == stage3, "every funnel completer has exactly one latency row")
  }

  test("q110: cohort 0-offset counts the cohort itself; offsets non-negative") {
    val m = run("q110_retention_cohorts").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m.nonEmpty)
    assert(m.keys.forall(_._2 >= 0))
    // week 0 row exists for every cohort and is its maximum (every
    // cohort member is by definition active in their first week)
    m.keys.map(_._1).foreach { c =>
      val zero = m((c, 0))
      assert(m.filter(_._1._1 == c).values.forall(_ <= zero))
    }
    // total cohort mass == distinct users
    import spark.implicits._
    val users = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id").distinct().count()
    assert(m.collect { case ((_, 0), n) => n }.sum == users)
  }

  test("q25/q26: ANN recall@5 >= 0.6 against exact KNN") {
    val exact = run("q25_knn_cosine_exact").select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = run("q26_knn_ann_lsh").select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 50)
    assert((exact & ann).size.toDouble / exact.size >= 0.6)
  }

  test("q25 scores are valid cosines, ranked descending per query") {
    val rows = run("q25_knn_cosine_exact").collect()
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(byRank.sliding(2).forall { case Array(a, b) => a >= b })
    }
  }

  test("q27 centroids: 64 components per label, n_vecs consistent") {
    val df = run("q27_label_centroids")
    val perLabel = df.groupBy("label").count().collect()
    assert(perLabel.forall(_.getLong(1) == 64))
    val nv = df.select("label", "n_vecs").distinct().groupBy("label").count().collect()
    assert(nv.forall(_.getLong(1) == 1), "n_vecs constant within label")
  }

  test("q28 alert union preserves per-rule counts") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val expected = ev.filter(col("value") > 150).count() +
      ev.filter(col("event_type") === "error").count() +
      ev.filter(col("event_type") === "click" && col("value") < 5).count()
    assert(run("q28_alert_rules_union").count() == expected)
  }

  test("q38 embedding near-dup: IVF-cell blocking, cos in [0.4, 1]") {
    val rows = run("q38_neardup_embedding").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(3) >= 0.4 && r.getDouble(3) <= 1.0 + 1e-9))
    assert(rows.forall(r => r.getLong(1) < r.getLong(2)), "pairs are ordered i < j")
  }

  test("q38 sub-split cap only prunes: capped pairs are a subset, never invented") {
    def pairs() = SparkEntry.queries("q38_neardup_embedding")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val uncapped = pairs()
    assert(uncapped.size < 100, "limit must not truncate or subset check is invalid")
    spark.conf.set("graft.vec.maxCell", "2")
    try {
      val capped = pairs()
      assert(capped.subsetOf(uncapped),
        "sub-splitting a cell may drop candidate pairs but must never add any")
      assert(pairs() == capped, "sub-split assignment is deterministic across runs")
    } finally spark.conf.unset("graft.vec.maxCell")
  }

  test("q39 IVF ANN: recall consistent with probing 3 of 10 cells") {
    val exact = run("q25_knn_cosine_exact").select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run("q39_knn_ann_ivf").select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // this corpus is near-random (labels are not cosine clusters), so the
    // expected ceiling is ~the probed fraction (3/10); on clustered data
    // the same structure recalls far higher
    assert(recall >= 0.15, s"recall $recall below the probed-fraction floor")
  }

  test("q78 PQ-ADC ANN: valid ranks/codes domain, ADC recall vs exact quantized L2") {
    import spark.implicits._
    val pq = run("q78_pq_adc_ann").collect()
    assert(pq.nonEmpty)
    // shape invariants: 5 neighbors per query, ranks 1..5, self excluded,
    // distances non-negative and non-decreasing in rank
    pq.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to 5))
      assert(rows.forall(_.getLong(1) != qid))
      val byRank = rows.sortBy(_.getInt(2)).map(_.getLong(3))
      assert(byRank.forall(_ >= 0L))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
    // ADC quality: against exact quantized-L2 top-5 (the same integer
    // metric family ADC approximates). An 8x16 codebook (32 bits/vector,
    // 64:1 vs the 256-byte float vector) on a near-random corpus is coarse — pin a
    // conservative floor well above chance (5/499 ~ 1%).
    val E = graft.functions.expressions
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", E.quantize_vec($"embedding").cast("array<bigint>").as("xq"))
    val qs = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"xq".as("qx"))
    val exact = qs.crossJoin(emb)
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", E.sq_dist($"qx", $"xq").as("dist"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"dist", $"vec_id")))
      .filter($"rk" <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"ADC recall $recall below floor")
  }

  test("q79 IVF-PQ: ADC distances agree with q78; pruning only drops, never rescores") {
    val full = run("q78_pq_adc_ann").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val ivfpq = run("q79_ivfpq_ann").collect()
    assert(ivfpq.nonEmpty)
    ivfpq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to 5))
    }
    // same codebooks, same codes: wherever a (query, neighbor) pair
    // appears in both, the ADC distance must be IDENTICAL — IVF changes
    // which pairs are scored, never their scores
    val both = ivfpq.filter(r => full.contains((r.getLong(0), r.getLong(1))))
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(3) == full((r.getLong(0), r.getLong(1))),
        s"ADC distance drifted for (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // probing 3 of 10 near-random cells keeps a meaningful share of the
    // full-ADC top-5
    val recall = both.length.toDouble / full.size
    assert(recall >= 0.15, s"IVF-PQ recall vs full ADC $recall below probed-fraction floor")
  }

  test("PQ index save/load: a loaded index serves identical results") {
    import spark.implicits._
    val idx = VectorOps.pqTrain(spark, sf0001)
    val dir = tmpDir("pq_index")
    VectorOps.savePqIndex(idx, dir)
    val loaded = VectorOps.loadPqIndex(spark, dir)
    val queries = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id",
        graft.functions.expressions.quantize_vec($"embedding")
          .cast("array<bigint>").as("xq"))
    val a = VectorOps.pqAdcTopK(queries, idx, 5).collect().map(_.toString).sorted.toSeq
    val b = VectorOps.pqAdcTopK(queries, loaded, 5).collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("PQ index append == build-time encoding of the union under the frozen codebook") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id",
        graft.functions.expressions.quantize_vec($"embedding")
          .cast("array<bigint>").as("xq"))
    val storedIdx = VectorOps.pqTrainOn(emb.filter($"vec_id" % 10 < 8))
    val appended = VectorOps.appendToPqIndex(
      emb.filter($"vec_id" % 10 >= 8), storedIdx)
    // codebook untouched by the append
    assert(appended.cents.collect().map(_.toString).sorted.toSeq ==
      storedIdx.cents.collect().map(_.toString).sorted.toSeq)
    // codes == encoding ALL vectors against the stored codebook at once
    def codes(i: VectorOps.PqIndex) = i.codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).sortBy(_._1).toSeq
    val atOnce = VectorOps.PqIndex(
      VectorOps.encodePq(emb, storedIdx), storedIdx.cents)
    assert(codes(appended) == codes(atOnce))
    // and serving over the appended index == serving over the rebuilt one
    val queries = emb.filter($"vec_id" % 50 === 0)
    val a = VectorOps.pqAdcTopK(queries, appended, 5)
      .collect().map(_.toString).sorted.toSeq
    val b = VectorOps.pqAdcTopK(queries, atOnce, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("index-family removal: vec-dedup, PQ and frame indexes prune to survivor rows exactly") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label", $"embedding")
    val stored = emb.filter($"vec_id" % 10 < 8)
    val rm = emb.filter($"vec_id" % 7 === 0).select($"vec_id")
    // vec-dedup: centroids (trained state) untouched, vectors = the
    // built index's own surviving rows bit-for-bit
    val vIdx = VectorOps.buildVecDedupIndex(stored)
    val vPruned = VectorOps.removeFromVecDedupIndex(vIdx, rm)
    assert(vPruned.centroids.collect().map(_.toString).sorted.toSeq ==
      vIdx.centroids.collect().map(_.toString).sorted.toSeq)
    assert(vPruned.vectors.collect().map(_.toString).sorted.toSeq ==
      vIdx.vectors.filter($"vec_id" % 7 =!= 0)
        .collect().map(_.toString).sorted.toSeq)
    // PQ: codes = surviving code rows, codebook untouched, and a serve
    // over the pruned index never returns a removed neighbor
    val xq = emb.select($"vec_id",
      graft.functions.expressions.quantize_vec($"embedding")
        .cast("array<bigint>").as("xq"))
    val pIdx = VectorOps.pqTrainOn(xq.filter($"vec_id" % 10 < 8))
    val pPruned = VectorOps.removeFromPqIndex(pIdx, rm)
    assert(pPruned.codes.collect().map(_.toString).sorted.toSeq ==
      pIdx.codes.filter($"vec_id" % 7 =!= 0)
        .collect().map(_.toString).sorted.toSeq)
    val served = VectorOps.pqAdcTopK(xq.filter($"vec_id" % 50 === 0), pPruned, 5)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(served.nonEmpty && served.forall(_ % 7 != 0))
    // frame index: one anti-join on the decoded doc id; rows ==
    // rebuilding the bands over the survivor split
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      MultimodalQ.mihBands(MultimodalQ.frameHashes(
        graft.multimodal.Multimodal.asMedia(df)))
        .select("band", "bv", "fid", "h")
    val fIdx = bandsOf(docs.filter($"doc_id" % 10 < 8))
    val fPruned = MultimodalQ.removeFromFramePhashIndex(fIdx,
      docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
    assert(fPruned.collect().map(_.toString).sorted.toSeq ==
      bandsOf(docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 =!= 0))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("q23b BPE token stats == naive end-to-end recount (both SFs)") {
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val docs = graft.sources.Tables.documents(spark, d)
        .select("source", "text").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // recompute the training vocabulary (FULL corpus word counts) and
      // merges with the independent driver-local trainer — the
      // distributed trainer must learn the identical table
      val wc = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => (w, g.length.toLong) }.toSeq
        .sortBy { case (w, c) => (-c, w) }
      val merges = graft.functions.expressions.trainBpeMerges(wc, 48)
      assert(merges.nonEmpty)
      assert(TextOps.bpeMergesCached(spark, d) == merges,
        s"distributed trainer diverged from the naive trainer at $d")
      val expected = docs.groupBy(_._1).map { case (src, g) =>
        val bpe = g.map(x => graft.NaiveBpe.encode(x._2, merges).length.toLong).sum
        val ws = g.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
        (src, g.length.toLong, bpe, ws, bpe.toDouble / ws)
      }.toSeq.sortBy(_._1)
      val got = SparkEntry.queries("q23b_bpe_token_stats")(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
      assert(got.nonEmpty && got == expected, s"mismatch at $d")
      // merging only ever shortens toward whole words, never past them
      got.foreach { case (_, _, bpe, ws, _) => assert(bpe >= ws) }
    }
  }

  test("q82 incremental dedup == cross-split subset of q18's exact pairs") {
    val full = run("q18_neardup_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def isNew(id: Long) = id % 10 >= 8
    // brute-force expectation from the INDEPENDENT exact pipeline: q18's
    // all-pairs set restricted to pairs crossing the new/old split,
    // reoriented new-first
    val expected = full.collect {
      case (i, j) if isNew(i) != isNew(j) => if (isNew(i)) (i, j) else (j, i)
    }
    val got = run("q82_dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == expected)
  }

  test("q84 BM25 top-k == independent in-memory reference") {
    // full reimplementation in plain Scala over the same fixed-point
    // formula — every stage (tf, df, avgdl, idf, weights, ranking) is
    // checked end-to-end against an independent execution path
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (w, g) => ((id, w), g.length.toLong) }
    }.toMap
    val dlen = docs.map { case (id, ws) => id -> ws.length.toLong }.toMap
    val df = tf.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val n = dlen.size.toLong
    val avgdl = dlen.values.sum.toDouble / n
    def idfFp(t: String) =
      math.floor(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * 1e6).toLong
    def wFp(id: Long, t: String) = idfFp(t) * math.floor(
      (tf((id, t)) * 2.2) /
        (tf((id, t)) + 1.2 * (0.25 + 0.75 * dlen(id) / avgdl)) * 1e6).toLong
    val expected = docs.map(_._1).filter(_ % 37 == 0).sorted.flatMap { qid =>
      val qTerms = docs.find(_._1 == qid).get._2.distinct
      docs.map(_._1).filter(_ != qid)
        // candidates = docs sharing >=1 query term (the inner postings join)
        .filter(did => qTerms.exists(t => tf.contains((did, t))))
        .map(did => (did, qTerms.filter(t => tf.contains((did, t))).map(wFp(did, _)).sum))
        .sortBy { case (did, s) => (-s, did) }.take(5).zipWithIndex
        .map { case ((did, s), i) => (qid, did, s, (i + 1).toLong) }
    }.toSeq
    val got = run("q84_bm25_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("q85 LM perplexity filter == independent in-memory reference") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val stored = docs.filter(_._1 % 10 < 8)
    def bgs(ws: Seq[String]) =
      if (ws.length < 2) Seq.empty[String] else ws.sliding(2).map(_.mkString(" ")).toSeq
    val c12 = stored.flatMap(d => bgs(d._2)).groupBy(identity)
      .map { case (b, g) => b -> g.size.toLong }
    val c1 = c12.toSeq.groupBy(_._1.split(" ")(0))
      .map { case (w, g) => w -> g.map(_._2).sum }
    val v = stored.flatMap(_._2).distinct.size.toLong
    val expected = docs.filter(_._1 % 10 >= 8).flatMap { case (id, ws) =>
      val b = bgs(ws)
      if (b.isEmpty) None
      else {
        val sum = b.map { bg =>
          val w1 = bg.split(" ")(0)
          math.floor(math.log((c12.getOrElse(bg, 0L) + 1.0) /
            (c1.getOrElse(w1, 0L) + v)) * 1e6).toLong
        }.sum
        Some((id, b.length.toLong, sum, sum.toDouble / b.length))
      }
    }.sortBy { case (id, _, _, avg) => (avg, id) }.take(100).toSeq
    val got = run("q85_lm_perplexity_filter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("q86 span removal == independent in-memory reference, consistent with q65") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val grams = docs.flatMap { case (id, ws) =>
      if (ws.length < 8) Seq.empty
      else ws.sliding(8).zipWithIndex.map { case (g, i) => (id, i + 1, g.mkString(" ")) }.toSeq
    }
    val docFreq = grams.groupBy(_._3).map { case (g, occ) => g -> occ.map(_._1).distinct.size }
    val flagged = grams.filter(g => docFreq(g._3) >= 2)
      .groupBy(_._1).map { case (id, g) => id -> g.map(_._2).toSet }
    val byId = docs.toMap
    val expected = flagged.toSeq.sortBy(_._1).map { case (id, starts) =>
      val ws = byId(id)
      val kept = ws.zipWithIndex.collect {
        case (w, i) if !starts.exists(s => s <= i + 1 && i + 1 <= s + 7) => w
      }
      (id, ws.length.toLong, kept.length.toLong, kept.mkString(" "))
    }
    val got = run("q86_dedup_span_removal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got.nonEmpty && got == expected)
    // exactly the docs q65 reports as containing duplicated spans
    val q65dup = run("q65_dup_ngram_spans").collect()
      .collect { case r if r.getLong(2) >= 1 => r.getLong(0) }.toSet
    assert(got.map(_._1).toSet == q65dup)
  }

  test("q87 prototypicality prune keeps the far half of each q74 cluster") {
    val assign = run("q74_kmeans_lloyd").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue(),
        r.getAs[Number]("dist").longValue()))
    val expected = assign.groupBy(_._2).toSeq.flatMap { case (c, members) =>
      val ranked = members.sortBy { case (id, _, dist) => (-dist, id) }
      ranked.take((members.length + 1) / 2).zipWithIndex
        .map { case ((id, _, dist), i) => (id, c, dist, (i + 1).toLong) }
    }.sortBy(_._1)
    val got = run("q87_prototypicality_prune").collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue(),
        r.getAs[Number]("dist").longValue(), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expected)
    // every cluster keeps ceil(n/2) — never empty, never the whole cluster
    // (for clusters with >= 2 members)
    val keptPer = got.groupBy(_._2).view.mapValues(_.size).toMap
    assign.groupBy(_._2).foreach { case (c, m) =>
      assert(keptPer.getOrElse(c, 0) == (m.length + 1) / 2)
    }
  }

  test("q89 graded contamination: covers all shingled train docs, agrees with q46") {
    import spark.implicits._
    val got = run("q89_contamination_frac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // fraction = n_shared/n_shingles, in [0,1]; zero-overlap docs present
    got.foreach { case (_, n, sh, f) =>
      assert(n > 0 && sh >= 0 && sh <= n && f == sh.toDouble / n)
    }
    assert(got.exists(_._3 == 0))
    // the >= 8 slice is exactly q46
    val q46m = run("q46_decontamination").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val slice = got.filter(_._3 >= 8).map(r => (r._1, r._3)).toMap
    assert(slice == q46m)
    // dirtiest-first ordering
    val fracs = got.map(_._4).toSeq
    assert(fracs == fracs.sortBy(-_))
  }

  test("q90 DSIR weights == in-memory likelihood-ratio recompute") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.flatMap { case (id, lang, text) =>
      text.split(" ").map(t => (id, lang == "en", t))
    }
    val ct = toks.filter(_._2).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val cr = toks.filter(!_._2).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val vocab = (ct.keySet ++ cr.keySet)
    val (nt, nr, v) = (ct.values.sum, cr.values.sum, vocab.size.toLong)
    val delta = vocab.iterator.map { w =>
      w -> (math.floor(math.log((ct.getOrElse(w, 0L) + 1).toDouble / (nt + v)) * 1e6).toLong
        - math.floor(math.log((cr.getOrElse(w, 0L) + 1).toDouble / (nr + v)) * 1e6).toLong)
    }.toMap
    val expected = toks.filter(!_._2).groupBy(_._1).toSeq.map { case (id, ts) =>
      (id, ts.length.toLong, ts.map(t => delta(t._3)).sum)
    }.sortBy { case (id, _, w) => (-w, id) }
    val got = run("q90_dsir_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got == expected)
    // only raw-pool (non-target) docs are scored
    assert(got.map(_._1).toSet ==
      docs.filter(_._2 != "en").map(_._1).toSet.filter(id =>
        docs.find(_._1 == id).get._3.nonEmpty))
  }

  test("q88 hybrid RRF == in-memory fusion of its BM25 and cosine legs") {
    val lex = TextOps.bm25TopK(
        TextOps.bm25StoreCached(spark, sf0001),
        TextOps.bm25QueryRows(spark, sf0001), 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    val dense = VectorOps.cosineTopK(spark, sf0001, _ % 37 === 0, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2).toLong))
    val lexM = lex.toMap
    val denseM = dense.toMap
    val expected = (lexM.keySet ++ denseM.keySet).toSeq.map { key =>
      val lr = lexM.getOrElse(key, 0L)
      val dr = denseM.getOrElse(key, 0L)
      val score = (if (lr > 0) 1.0 / (lr + 60) else 0.0) +
        (if (dr > 0) 1.0 / (dr + 60) else 0.0)
      (key._1, key._2, lr, dr, score)
    }.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, docId, _, _, score) => (-score, docId) }
        .take(10).zipWithIndex
        .map { case ((q, doc, lr, dr, sc), i) => (q, doc, lr, dr, sc, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._6))
    val got = run("q88_hybrid_rrf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == expected)
    // fusion actually mixes: some fused row must come from each leg alone
    assert(got.exists(r => r._3 > 0 && r._4 == 0))
    assert(got.exists(r => r._3 == 0 && r._4 > 0))
  }

  test("q168 passage-level hybrid == in-memory fusion of its max-passage and cosine legs") {
    val lex = TextOps.maxPassagePool(
        TextOps.bm25TopK(TextOps.bm25ChunkStoreCached(spark, sf0001),
          TextOps.bm25QueryRows(spark, sf0001), 40), 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4)))
    val dense = VectorOps.cosineTopK(spark, sf0001, _ % 37 === 0, 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2).toLong))
    val lexM = lex.toMap
    val denseM = dense.toMap
    val expected = (lexM.keySet ++ denseM.keySet).toSeq.map { key =>
      val lr = lexM.getOrElse(key, 0L)
      val dr = denseM.getOrElse(key, 0L)
      val score = (if (lr > 0) 1.0 / (lr + 60) else 0.0) +
        (if (dr > 0) 1.0 / (dr + 60) else 0.0)
      (key._1, key._2, lr, dr, score)
    }.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, docId, _, _, score) => (-score, docId) }
        .take(10).zipWithIndex
        .map { case ((q, doc, lr, dr, sc), i) => (q, doc, lr, dr, sc, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._6))
    val got = run("q168_hybrid_maxpassage_rrf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == expected)
    // the passage leg and the dense leg each contribute alone somewhere
    assert(got.exists(r => r._3 > 0 && r._4 == 0))
    assert(got.exists(r => r._3 == 0 && r._4 > 0))
  }

  test("MinHash index save/load: loaded index serves identical pairs") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val old = TextOps.shingleDocs(docs.filter($"doc_id" % 10 < 8)).persist()
    try {
      val built = TextOps.buildMinHashIndex(old)
      val dir = tmpDir("mh_index")
      TextOps.saveMinHashIndex(built, dir)
      val loaded = TextOps.loadMinHashIndex(spark, dir)
      // artifact round-trip: both tables content-identical
      assert(loaded.bands.collect().map(_.toString).sorted.toSeq ==
        built.bands.collect().map(_.toString).sorted.toSeq)
      assert(loaded.shingles.collect().map(_.toString).sorted.toSeq ==
        built.shingles.collect().map(_.toString).sorted.toSeq)
      // serving equivalence: the loaded artifact yields the same verified
      // pairs as the in-memory index
      val fresh = docs.filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
      val a = TextOps.dedupAgainstIndex(fresh, built)
        .collect().map(_.toString).sorted.toSeq
      val b = TextOps.dedupAgainstIndex(fresh, loaded)
        .collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty && a == b)
    } finally old.unpersist()
  }

  test("MinHash index append == rebuild from scratch over the union") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val dir = tmpDir("mh_append")
    // snapshot 1 indexed, snapshot 2 appended after "admission"
    val old = TextOps.shingleDocs(docs.filter($"doc_id" % 10 < 8)).persist()
    try TextOps.saveMinHashIndex(TextOps.buildMinHashIndex(old), dir)
    finally old.unpersist()
    TextOps.appendToMinHashIndex(
      docs.filter($"doc_id" % 10 >= 8).select($"doc_id", $"text"), dir)
    val appended = TextOps.loadMinHashIndex(spark, dir)
    val full = TextOps.shingleDocs(docs).persist()
    try {
      val scratch = TextOps.buildMinHashIndex(full)
      assert(appended.bands.collect().map(_.toString).sorted.toSeq ==
        scratch.bands.collect().map(_.toString).sorted.toSeq)
      assert(appended.shingles.collect().map(_.toString).sorted.toSeq ==
        scratch.shingles.collect().map(_.toString).sorted.toSeq)
      // and the appended artifact serves: a probe of the first 50 docs
      // matches the from-scratch index pair-for-pair
      val probe = docs.filter($"doc_id" < 50).select($"doc_id", $"text")
      val a = TextOps.dedupAgainstIndex(probe, appended)
        .collect().map(_.toString).sorted.toSeq
      val b = TextOps.dedupAgainstIndex(probe, scratch)
        .collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty && a == b)
    } finally full.unpersist()
  }

  test("MinHash index removal == rebuild over the survivors; removed docs stop matching") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val stored = TextOps.shingleDocs(docs.filter($"doc_id" % 10 < 8)).persist()
    try {
      val idx = TextOps.buildMinHashIndex(stored)
      val ids = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
      val pruned = TextOps.removeFromMinHashIndex(idx, ids)
      val surv = TextOps.shingleDocs(
        docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 =!= 0)).persist()
      try {
        val scratch = TextOps.buildMinHashIndex(surv)
        def tab(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).sorted.toSeq
        assert(tab(pruned.bands) == tab(scratch.bands))
        assert(tab(pruned.shingles) == tab(scratch.shingles))
        // a probe against the pruned index never returns a removed doc
        val probe = docs.filter($"doc_id" % 10 >= 8).select($"doc_id", $"text")
        val hits = TextOps.dedupAgainstIndex(probe, pruned)
          .select("old_doc_id").collect().map(_.getLong(0))
        assert(hits.forall(_ % 7 != 0))
      } finally surv.unpersist()
    } finally stored.unpersist()
  }

  test("appendToClusters == from-scratch clustering over the union graph") {
    import spark.implicits._
    // q135's composition at sf0.001: stored-80% labeling + (new x old,
    // new x new) verified pairs, appended — must equal clustering the
    // whole corpus from scratch, row for row
    val appended = graft.SparkEntry.queries("q135_dedup_cluster_append")(spark, sf0001)
      .select($"doc_id", $"cluster_rep")
      .collect().map(_.toString).sorted.toSeq
    val scratch = graft.SparkEntry.queries("q47_dedup_clusters")(spark, sf0001)
      .select($"doc_id", $"cluster_rep")
      .collect().map(_.toString).sorted.toSeq
    assert(appended.nonEmpty && appended == scratch)
  }

  test("capped-bucket regime: incremental clustering only ever over-merges vs a capped rebuild") {
    import spark.implicits._
    // force the pathological-bucket cap to engage: 10 identical docs all
    // land in ONE (band, bh) bucket per band, far over maxBucket=2, plus
    // two unrelated singletons. The from-scratch rebuild keeps only the
    // 2 smallest ids per bucket (pair 0-1); the incremental path's
    // uncapped new x old probe merges the arriving docs (8, 9) into the
    // stored component. Contract (q135 scaladoc): equality is impossible
    // under a cap overflow, but divergence must be ONE-SIDED — every
    // rebuild merge is also an incremental merge (never under-merges).
    val dup = (0L to 9L).map(i => (i, "alpha beta gamma delta epsilon"))
    val docs = (dup ++ Seq((100L, "zebra yak xray words quorum"),
      (101L, "mango nectar oboe piano quartz"))).toDF("doc_id", "text")
    spark.conf.set("graft.text.maxBucket", "2")
    try {
      def labelsOf(pairs: org.apache.spark.sql.DataFrame) =
        TextOps.connectedComponents(pairs.select($"i".as("u"), $"j".as("v")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = TextOps.shingleDocs(docs).persist()
      val scratch = try labelsOf(TextOps.nearDupPairsLshFromShingled(full))
        finally full.unpersist()
      // capped rebuild found only the pair among the 2 smallest bucket ids
      assert(scratch == Map(0L -> 0L, 1L -> 0L))

      val stored = TextOps.shingleDocs(docs.filter($"doc_id" < 8)).persist()
      val (storedLabels, idx) = try {
        (labelsOf(TextOps.nearDupPairsLshFromShingled(stored)).toSeq
           .toDF("doc_id", "cluster_rep"),
         TextOps.buildMinHashIndex(stored))
      } finally stored.unpersist()
      val arriving = docs.filter($"doc_id" >= 8)
      val newOld = TextOps.dedupAgainstIndex(arriving, idx)
        .select($"new_doc_id".as("u"), $"old_doc_id".as("v"))
      val fresh = TextOps.shingleDocs(arriving).persist()
      val newNew = try TextOps.nearDupPairsLshFromShingled(fresh)
          .select($"i".as("u"), $"j".as("v"))
        finally fresh.unpersist()
      val inc = TextOps.appendToClusters(storedLabels, newOld.unionByName(newNew))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // one-sided: every rebuild same-cluster pair is same-cluster
      // incrementally...
      for (Seq((a, ra), (b, rb)) <- scratch.toSeq.combinations(2)
           if ra == rb)
        assert(inc(a) == inc(b), s"rebuild merged $a,$b but incremental did not")
      // ...and here the divergence is strict: the uncapped probe merged
      // the arriving dups into the stored component
      assert(inc(8L) == inc(0L) && inc(9L) == inc(0L))
      assert(!inc.contains(100L) && !inc.contains(101L),
        "singletons never enter the edge-labeled set")
    } finally spark.conf.unset("graft.text.maxBucket")
  }

  test("appendToClusters leaves untouched components byte-identical and handles empty deltas") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (20L, 20L))
      .toDF("doc_id", "cluster_rep")
    // empty delta: labeling passes through verbatim
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(TextOps.appendToClusters(labels, empty)
      .collect().map(_.toString).sorted.toSeq ==
      labels.collect().map(_.toString).sorted.toSeq)
    // a new edge 11-20 merges components 10 and 20 (min rep 10) and
    // introduces new vertex 30 via 20-30; component 1 is untouched
    val delta = Seq((11L, 20L), (20L, 30L)).toDF("u", "v")
    val out = TextOps.appendToClusters(labels, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 10L, 30L -> 10L))
  }

  test("incremental dedup admission loop: snapshot 2 matches docs admitted from snapshot 1") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val dir = tmpDir("mh_loop")
    // corpus = stored 80%; snapshot 1 = new docs ending in 8; snapshot 2 =
    // new docs ending in 9 (includes near-dups of both corpus AND snap-1
    // docs — the generator's near-dup pairs are id-adjacent, so some
    // (…8, …9) pairs cross the two snapshots)
    val old = TextOps.shingleDocs(docs.filter($"doc_id" % 10 < 8)).persist()
    try TextOps.saveMinHashIndex(TextOps.buildMinHashIndex(old), dir)
    finally old.unpersist()
    val snap1 = docs.filter($"doc_id" % 10 === 8).select($"doc_id", $"text")
    val snap2 = docs.filter($"doc_id" % 10 === 9).select($"doc_id", $"text")
    // snapshot 1: dedup, admit the non-matched survivors, index them
    val m1 = TextOps.dedupAgainstIndex(snap1, TextOps.loadMinHashIndex(spark, dir))
    val matched1 = m1.select($"new_doc_id").distinct()
    TextOps.appendToMinHashIndex(
      snap1.join(matched1, snap1("doc_id") === matched1("new_doc_id"), "left_anti"), dir)
    // snapshot 2 now screens against corpus ∪ admitted-snap-1
    val m2 = TextOps.dedupAgainstIndex(snap2, TextOps.loadMinHashIndex(spark, dir))
      .select($"new_doc_id", $"old_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // expectation from the exact pipeline: q18 pairs restricted to
    // (snap2 doc, corpus-or-admitted doc)
    val admitted = snap1.select($"doc_id").collect().map(_.getLong(0)).toSet --
      m1.select($"new_doc_id").collect().map(_.getLong(0)).toSet
    val indexed = (id: Long) => id % 10 < 8 || admitted(id)
    val full = run("q18_neardup_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (i, j) if i % 10 == 9 && indexed(j) => (i, j)
      case (i, j) if j % 10 == 9 && indexed(i) => (j, i)
    }
    assert(m2 == expected)
    // the loop is live: an ADMITTED snapshot-1 doc arriving again (the
    // re-ingest case) is caught by the appended index — it matches itself
    // at jaccard 1.0 (this corpus has no cross-snapshot near-dup pair, so
    // the self-match is the deterministic witness that appended docs are
    // really probed)
    assert(admitted.nonEmpty)
    val reId = admitted.min
    val rematch = TextOps.dedupAgainstIndex(
      snap1.filter($"doc_id" === reId), TextOps.loadMinHashIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(rematch.exists { case (n, o, j) => n == reId && o == reId && j == 1.0 },
      s"re-ingested admitted doc $reId not caught by the appended index: ${rematch.toSeq}")
  }

  test("VecDedup index save/load/append: loaded == built; append == build-time assignment") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label", $"embedding")
    val dir = tmpDir("vec_idx")
    val built = VectorOps.buildVecDedupIndex(emb.filter($"vec_id" % 10 < 8))
    VectorOps.saveVecDedupIndex(built, dir)
    val loaded = VectorOps.loadVecDedupIndex(spark, dir)
    val arriving = emb.filter($"vec_id" % 10 >= 8).select($"vec_id", $"embedding")
    // serving equivalence of the loaded artifact
    val a = VectorOps.dedupVecAgainstIndex(arriving, built)
      .collect().map(_.toString).sorted.toSeq
    val b = VectorOps.dedupVecAgainstIndex(arriving, loaded)
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
    // append assigns with the FROZEN centroids: appended vectors table ==
    // built vectors ∪ the arriving rows assigned against the same centroids
    VectorOps.appendToVecDedupIndex(arriving, dir)
    val appended = VectorOps.loadVecDedupIndex(spark, dir).vectors
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).sorted.toSeq
    val expected = (built.vectors.select($"vec_id", $"cell").collect() ++
      VectorOps.assignCells(arriving, built.centroids)
        .select($"vec_id", $"cell").collect())
      .map(r => (r.getLong(0), r.get(1).toString)).sorted.toSeq
    assert(appended == expected)
    // a re-ingested appended vector matches itself at cos 1.0
    val reId = arriving.select(min($"vec_id")).head().getLong(0)
    val rematch = VectorOps.dedupVecAgainstIndex(
      arriving.filter($"vec_id" === reId),
      VectorOps.loadVecDedupIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // self-cosine is dot/(√qq·√qq) — one ulp under 1.0 in doubles
    assert(rematch.exists { case (n, o, c) => n == reId && o == reId && c >= 0.999 },
      s"re-ingested vector $reId not caught: ${rematch.toSeq}")
  }

  test("q80 corpus drift: union of top-64s, exact counts, drift ordering") {
    import spark.implicits._
    val rows = run("q80_corpus_drift").collect()
    assert(rows.nonEmpty && rows.length <= 128,
      s"union of two top-64 sets holds at most 128 tokens, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) > 0)
      assert(math.abs(r.getDouble(5) - math.abs(r.getDouble(3) - r.getDouble(4))) == 0.0)
    }
    val drifts = rows.map(_.getDouble(5))
    assert(drifts.zip(drifts.tail).forall { case (a, b) => a >= b })
    // counts agree with a direct per-snapshot recount
    val direct = graft.sources.Tables.documents(spark, sf0001)
      .select(($"doc_id" % 2).as("snap"), explode(split($"text", " ")).as("token"))
      .groupBy($"snap", $"token").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == direct.getOrElse((0L, r.getString(0)), 0L))
      assert(r.getLong(2) == direct.getOrElse((1L, r.getString(0)), 0L))
    }
    // the token set IS the union of the two snapshots' top-64
    val expected = (0L to 1L).flatMap { snap =>
      direct.collect { case ((s, t), c) if s == snap => (t, c) }.toSeq
        .sortBy { case (t, c) => (-c, t) }.take(64).map(_._1)
    }.toSet
    assert(rows.map(_.getString(0)).toSet == expected)
  }

  test("q81 embedding drift: 64 dims, counts partition the corpus, shift ordering") {
    import spark.implicits._
    val rows = run("q81_embedding_drift").collect()
    assert(rows.length == 64)
    val nVecs = graft.sources.Tables.embeddings(spark, sf0001).count()
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == nVecs,
        "snapshot counts must partition the corpus per dimension")
      assert(math.abs(r.getDouble(5) - math.abs(r.getDouble(3) - r.getDouble(4))) == 0.0)
    }
    val shifts = rows.map(_.getDouble(5))
    assert(shifts.zip(shifts.tail).forall { case (a, b) => a >= b })
  }

  test("q36b exact columns == q36, sketch rank-guarantee booleans all true at sf0.01") {
    val sf = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("q36_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val rows = SparkEntry.queries("q36b_percentiles_approx")(spark, sf).collect()
    assert(rows.length == exact.size, "same groups as the exact form")
    rows.foreach { r =>
      val (n, p50, p90) = exact(r.getString(0))
      // the carried percentile columns are the EXACT ones — bit-identical
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == p50, s"${r.getString(0)} p50")
      assert(r.getDouble(3) == p90, s"${r.getString(0)} p90")
      // the sketch guarantee booleans the driver hash now gates
      assert(r.getBoolean(4), s"${r.getString(0)} p50 rank outside sketch bound")
      assert(r.getBoolean(5), s"${r.getString(0)} p90 rank outside sketch bound")
    }
  }

  test("q36c HLL daily-merge: 5% contract boolean true, exact riders sane") {
    val rows = SparkEntry.queries("q36c_hll_daily_merge")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3),
        s"${r.getString(0)}: HLL union estimate outside 5% of exact ${r.getLong(2)}")
      assert(r.getLong(1) >= 28, "a month of days contributed sketches")
      assert(r.getLong(2) > 0)
    }
  }

  test("q54b approx deciles: contract booleans true, totals exact, all 10 buckets") {
    val sf = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q54b_value_deciles_approx")(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to 10L),
        s"$et: expected deciles 1..10")
      assert(rs.map(_.getLong(2)).distinct.length == 1,
        s"$et: per-type total must repeat on every decile row")
      rs.foreach { r =>
        assert(r.getBoolean(3), s"$et decile ${r.getLong(1)} population outside 3% of n/10")
        assert(r.getBoolean(4), s"$et decile ${r.getLong(1)} bounds not monotone")
      }
    }
    // the carried total is the exact per-type population (== q54's sum)
    val totals = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val exactTotals = SparkEntry.queries("q54_value_deciles")(spark, sf).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(totals == exactTotals, "both forms bucket every row exactly once")
  }

  test("q47 clusters: consistent with q18 pairs (same component <=> connected)") {
    val pairs = run("q18_neardup_jaccard").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val label = run("q47_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(label.nonEmpty)
    // every vertex of every pair is labeled, both ends share a label
    pairs.foreach { case (i, j) =>
      assert(label(i) == label(j), s"pair ($i,$j) split across clusters")
    }
    // the rep is a member of its own cluster and the cluster minimum
    label.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keySet.min == rep, s"rep $rep is not the component min")
    }
    // reference union-find on the pair list agrees exactly
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { if (ri < rj) parent(rj) = ri else parent(ri) = rj }
    }
    label.foreach { case (v, rep) =>
      // path-compress fully, then normalize each root to its component min
      val mine = find(v)
      val compMin = parent.keys.filter(find(_) == mine).min
      assert(rep == compMin, s"doc $v labeled $rep, union-find says $compMin")
    }
  }

  test("q91 canonicalize: one survivor per cluster, argmax quality, labels == q47") {
    val rows = run("q91_dedup_canonicalize").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // covers the whole corpus exactly once
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong == nDocs)
    assert(rows.map(_._1).distinct.length == rows.length)
    // cluster labels agree with q47 (non-members default to themselves)
    val q47Label = run("q47_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, rep, _, _) =>
      assert(rep == q47Label.getOrElse(doc, doc), s"doc $doc labeled $rep")
    }
    // exactly one survivor per cluster, and it is the quality argmax
    // (doc_id tie-break): no member strictly beats it, and any member
    // tying its score has a larger doc_id
    rows.groupBy(_._2).foreach { case (rep, members) =>
      val survivors = members.filter(_._4)
      assert(survivors.length == 1, s"cluster $rep has ${survivors.length} survivors")
      val s0 = survivors.head
      members.foreach { m =>
        assert(m._3 < s0._3 || (m._3 == s0._3 && m._1 >= s0._1),
          s"cluster $rep: member ${m._1} (q=${m._3}) beats survivor ${s0._1} (q=${s0._3})")
      }
    }
  }

  test("q93 temperature mix: fractions normalize, α=0.5 flattens, order preserved") {
    val rows = run("q93_domain_temperature_mix").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "raw fractions sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-6, "temp fractions sum to 1")
    // ranking by tokens is preserved, and the mixture is strictly flatter:
    // the temp-share ratio between any two sources is the square root of
    // their raw-share ratio
    rows.combinations(2).foreach { case Array(a, b) =>
      val (lo, hi) = if (a._2 <= b._2) (a, b) else (b, a)
      assert(lo._4 <= hi._4, s"${lo._1} vs ${hi._1}: temp ranking flipped")
      if (lo._2 > 0) {
        val expected = math.sqrt(hi._3 / lo._3)
        assert(math.abs(hi._4 / lo._4 - expected) < 1e-9,
          s"${hi._1}/${lo._1}: temp ratio ${hi._4 / lo._4} != sqrt(raw ratio) $expected")
      }
    }
    rows.foreach { r =>
      assert(r._5 == math.floor(r._4 * 1e6).toLong, s"${r._1}: quota_ppm mismatch")
    }
  }

  test("q48 repetition filter: fractions in [0,1], keep matches thresholds") {
    val rows = run("q48_repetition_filter").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (top, dist, dup) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(top > 0 && top <= 1.0); assert(dist > 0 && dist <= 1.0)
      assert(dup >= 0 && dup <= 1.0)
      assert(r.getBoolean(5) == (top <= 0.12 && dist >= 0.35 && dup <= 0.08))
    }
  }

  test("q49 stratified sample: realized rate tracks the mixing table") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01" // sf0.001 is too sparse per language
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("q49_stratified_sample")(spark, sf)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = Map("en" -> 0.5, "fr" -> 0.75, "de" -> 0.75, "es" -> 0.875, "zh" -> 1.0)
    rates.foreach { case (lang, p) =>
      val realized = kept.getOrElse(lang, 0L).toDouble / total(lang)
      assert(math.abs(realized - p) < 0.15, s"$lang realized $realized, target $p")
    }
    // zh keeps everything (rate 256/256): exact, not approximate
    assert(kept("zh") == total("zh"))
  }

  test("q50 packing: capacity respected, FFD bin-count bound, deterministic") {
    import spark.implicits._
    val budget = 128
    val rows = run("q50_sequence_packing").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._2, t._3)).foreach { case ((grp, bin), docs) =>
      val tot = docs.map(_._4).sum
      assert(tot <= budget || docs.size == 1,
        s"bin ($grp,$bin) holds $tot tokens across ${docs.size} docs")
    }
    rows.groupBy(_._2).foreach { case (grp, docs) =>
      val bins = docs.map(_._3).distinct.size
      val lower = math.ceil(docs.map(_._4).sum.toDouble / budget)
      assert(bins >= lower, s"grp $grp: $bins bins below volume bound $lower")
      assert(bins <= math.ceil(lower * 11.0 / 9.0) + 1,
        s"grp $grp: $bins bins exceeds FFD guarantee off $lower")
    }
    val again = run("q50_sequence_packing").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.toSeq == again.toSeq, "packing must be deterministic")
  }

  test("q51 tf-idf: 3 ranked keywords per doc, df consistent with corpus") {
    val df = run("q51_tfidf_keywords")
    val perDoc = df.groupBy("doc_id").count().collect()
    assert(perDoc.nonEmpty && perDoc.forall(_.getLong(1) == 3))
    assert(df.filter(col("rank") < 1 || col("rank") > 3).count() == 0)
    assert(df.filter(col("tf") < 1 || col("df") < 1).count() == 0)
  }

  test("q65 dup spans: fractions in [0,1], exact-duplicate docs score 1.0") {
    val df = run("q65_dup_ngram_spans").cache()
    try {
      assert(df.filter(col("n_dup_spans") > col("n_spans")).count() == 0)
      assert(df.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
      assert(df.agg(sum("n_dup_spans")).head().getLong(0) > 0,
        "corpus contains at least one duplicated 8-gram span")
      // naive recomputation grouping on the RAW gram strings (no md5
      // shuffle key): the hashed path must be value-identical
      val naive = graft.sources.Tables.documents(spark, sf0001)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("ws")) - 8),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(8))))).as("gram"))
      val docFreq = naive.groupBy("gram").agg(countDistinct("doc_id").as("ndocs"))
      val expected = naive.join(docFreq, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("e_spans"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("e_dup"))
      val cmp = df.join(expected, "doc_id")
      assert(cmp.count() == df.count())
      assert(cmp.filter(col("n_spans") =!= col("e_spans") ||
        col("n_dup_spans") =!= col("e_dup")).count() == 0)
    } finally df.unpersist()
  }

  test("q66 dim stats: 64 dims, stds non-negative, agrees with naive doubles") {
    val df = run("q66_embedding_dim_stats").cache()
    try {
      val emb = graft.sources.Tables.embeddings(spark, sf0001)
      assert(df.count() == 64)
      assert(df.filter(col("n_vecs") =!= emb.count()).count() == 0)
      assert(df.filter(col("std_c") < 0).count() == 0)
      // quantization error is bounded by 2^-20 per component; a plain
      // double mean/std must agree to well within 1e-5
      val naive = emb
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(avg(col("x").cast("double")).as("m"),
          stddev_pop(col("x").cast("double")).as("sd"))
      val joined = df.join(naive, "pos")
      assert(joined.filter(abs(col("mean_c") - col("m")) > 1e-5).count() == 0)
      assert(joined.filter(abs(col("std_c") - col("sd")) > 1e-5).count() == 0)
    } finally df.unpersist()
  }

  test("q32 frame features: n_frames matches ceil(bytes/64)") {
    val df = run("q32_media_frame_features")
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), ceil(length(col("text")) / 64.0).cast("int").as("exp_frames"))
    val joined = df.join(docs, "doc_id")
    assert(joined.filter(col("n_frames") =!= col("exp_frames")).count() == 0)
  }

  test("q67b sketch-verified heavies == brute-force tokens with c > N/257") {
    import spark.implicits._
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split($"text", " ")).as("token"))
    val n = toks.count()
    val exact = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > n / 257L)
    val got = run("q67b_heavy_hitters_sketch")
    assert(got.count() == exact.count())
    assert(got.join(exact, Seq("token", "cnt"), "left_anti").count() == 0)
  }

  test("q69 chunking: stride-24 starts, 32-token caps, exact tail coverage") {
    import spark.implicits._
    val chunks = run("q69_chunk_documents")
    assert(chunks.filter($"start_tok" =!= $"chunk_id" * 24L + 1L).count() == 0)
    assert(chunks.filter($"n_tokens" > 32L || $"n_tokens" < 1L).count() == 0)
    // last chunk of each doc ends exactly at the doc's token count
    val last = chunks.groupBy($"doc_id")
      .agg(max($"start_tok" + $"n_tokens" - 1L).as("covered"),
        count(lit(1)).as("n_chunks"))
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
    val j = last.join(docs, "doc_id")
    assert(j.filter($"covered" =!= $"n").count() == 0)
    assert(j.filter($"n_chunks" =!= floor(($"n" - 1L) / 24L) + 1L).count() == 0)
  }

  test("q70 two-level prefix sum == flat window, budget is a per-source prefix") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val got = run("q70_token_budget_trim")
    // the distributed (bucketed) running sum must equal the flat
    // single-window form bit-for-bit
    val flat = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", $"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum_tokens" <= 800L)
    assert(got.count() == flat.count())
    assert(got.join(flat, Seq("source", "doc_id", "n_tokens", "cum_tokens"),
      "left_anti").count() == 0)
    // kept set is a prefix: every kept doc's cum stays within budget and
    // counts are monotone in doc_id per source
    assert(got.filter($"cum_tokens" > 800L).count() == 0)
  }

  test("q71 inverted index: postings capped sorted prefixes, df >= posting len") {
    import spark.implicits._
    val idx = run("q71_inverted_index")
    val rows = idx.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getLong(1)
      // postings is a space-joined scalar string (gate-comparable encoding)
      val postings = r.getString(2).split(' ').toSeq.map(_.toLong)
      assert(postings.nonEmpty && postings.length <= 32)
      assert(postings == postings.sorted, s"unsorted postings for ${r.getString(0)}")
      assert(df >= postings.length)
      assert(if (df < 32) postings.length == df else postings.length == 32)
    }
    // df agrees with a direct distinct-doc count per token
    val direct = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("df2"))
    assert(idx.join(direct, "token").filter($"df" =!= $"df2").count() == 0)
  }

  test("q73 frame dedup: frame counts exact, binary path == string path") {
    import spark.implicits._
    val fd = run("q73_frame_dedup")
    assert(fd.filter($"dup_frac" < 0.0 || $"dup_frac" > 1.0).count() == 0)
    assert(fd.filter($"n_dup_frames" > $"n_frames").count() == 0)
    // frame count is exactly ceil(bytes/64) (min 1 for empty payloads)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id",
        greatest(ceil(length($"text") / 64.0), lit(1)).cast("long").as("exp"))
    assert(fd.join(docs, "doc_id").filter($"n_frames" =!= $"exp").count() == 0)
    // the binary substring path must agree with a STRING recomputation of
    // the duplicated-frame counts (ascii corpus: byte frames == char frames)
    val sframes = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text",
        explode(sequence(lit(1), greatest(length($"text"), lit(1)), lit(64))).as("st"))
      .select($"doc_id", md5(expr("substring(text, st, 64)")).as("fk"))
      .groupBy($"doc_id", $"fk").agg(count(lit(1)).as("c"))
    val sdf = sframes.groupBy($"fk").agg(count(lit(1)).as("df"))
    val sdup = sframes.join(sdf, "fk").groupBy($"doc_id")
      .agg(sum(when($"df" >= 2, $"c").otherwise(0L)).as("n_dup2"))
    assert(fd.join(sdup, "doc_id").filter($"n_dup_frames" =!= $"n_dup2").count() == 0)
  }

  test("q74 k-means: deterministic, valid assignment, inertia below init") {
    import spark.implicits._
    val a = run("q74_kmeans_lloyd").collect()
    val b = run("q74_kmeans_lloyd").collect()
    assert(a.toSeq == b.toSeq, "two runs must be bit-identical")
    assert(a.length == 500)
    assert(a.forall(r => r.getLong(2) >= 0L))
    assert(a.map(_.getLong(1)).distinct.length <= 8)
    // Lloyd must not end worse than the seed assignment: recompute the
    // round-0 inertia exactly (seeds = 8 lowest-id quantized vectors)
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id",
        graft.functions.expressions.quantize_vec($"embedding")
          .cast("array<bigint>").as("xq"))
      .orderBy($"vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val seeds = vecs.take(8).map(_._2)
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (xi, ci) => (xi - ci) * (xi - ci) }.sum
    val initInertia = vecs.map { case (_, x) => seeds.map(c => d2(x, c)).min }
      .map(BigInt(_)).sum
    val finalInertia = a.map(r => BigInt(r.getLong(2))).sum
    assert(finalInertia <= initInertia,
      s"inertia grew: $finalInertia > $initInertia")
  }

  test("q75 SemDeDup: kept == exact non-dominated complement, dropped have a kept dominator") {
    import spark.implicits._
    val kept = run("q75_semantic_dedup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent recomputation of the domination rule over the same
    // cluster assignment
    val assign = VectorOps.kmeansAssign(spark, sf0001)
      .select($"vec_id", $"cluster")
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val v = assign.join(emb, "vec_id")
    val pairs = v.select($"cluster", $"vec_id".as("i"), $"embedding".as("ei"))
      .join(v.select($"cluster", $"vec_id".as("j"), $"embedding".as("ej")), Seq("cluster"))
      .filter($"i" < $"j")
      .filter(graft.functions.expressions.quantized_cosine($"ei", $"ej") >= 0.4)
      .select($"i", $"j").collect()
    val dominated = pairs.map(_.getLong(1)).toSet
    val allVecs = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet == allVecs.keySet -- dominated)
    assert(kept.forall { case (id, c) => allVecs(id) == c })
    // the LOWEST id of every cluster can never be dominated, so it must
    // always be kept — the deterministic-representative property
    allVecs.groupBy(_._2).values.foreach { cluster =>
      assert(kept.contains(cluster.keys.min))
    }
    assert(dominated.nonEmpty, "fixture should produce at least one semantic dup")
  }

  test("q76 epoch shards: each epoch is a full permutation, epochs differ") {
    import spark.implicits._
    val df = run("q76_epoch_shards")
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    // every epoch covers every doc exactly once
    assert(df.groupBy($"epoch").count().collect().forall(_.getLong(1) == nDocs))
    assert(df.groupBy($"epoch", $"doc_id").count().filter($"count" > 1).count() == 0)
    // positions are contiguous 1..n within each (epoch, shard)
    val bad = df.groupBy($"epoch", $"shard")
      .agg(min($"pos").as("lo"), max($"pos").as("hi"), count(lit(1)).as("n"))
      .filter($"lo" =!= 1L || $"hi" =!= $"n")
    assert(bad.count() == 0)
    // the two epochs order documents differently (different permutation)
    val e1 = df.filter($"epoch" === 1L).select($"doc_id", $"shard", $"pos")
    val e2 = df.filter($"epoch" === 2L).select($"doc_id", $"shard".as("s2"), $"pos".as("p2"))
    val same = e1.join(e2, "doc_id")
      .filter($"shard" === $"s2" && $"pos" === $"p2").count()
    assert(same < nDocs / 2, s"epochs nearly identical: $same of $nDocs fixed points")
  }

  test("q75 sub-split cap only prunes dominations: capped kept is a superset") {
    val dflt = run("q75_semantic_dedup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.vec.maxCell", "8")
    try {
      val capped = run("q75_semantic_dedup").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sub-splitting can only MISS dominations (cross-sub pairs), so
      // every default-kept vector stays kept, clusters unchanged
      assert(dflt.keySet.subsetOf(capped.keySet))
      assert(dflt.forall { case (id, c) => capped(id) == c })
    } finally spark.conf.unset("graft.vec.maxCell")
  }

  test("q77 per-source heavies == per-source brute force at c > n_g/257") {
    import spark.implicits._
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", explode(split($"text", " ")).as("token"))
    val totals = toks.groupBy($"source").agg(count(lit(1)).as("n"))
    val exact = toks.groupBy($"source", $"token").agg(count(lit(1)).as("cnt"))
      .join(totals, "source")
      .filter($"cnt" > $"n" / 257L)
      .select($"source", $"token", $"cnt")
    val got = run("q77_heavy_hitters_by_source")
    assert(got.count() == exact.count())
    assert(got.join(exact, Seq("source", "token", "cnt"), "left_anti").count() == 0)
  }

  test("q68 bloom decontamination == q46-style exact, and the bloom prunes") {
    import spark.implicits._
    // output equivalence at the declared >= 8 threshold: q68 must agree
    // with the exact plan (q46) row-for-row
    val exact = run("q46_decontamination")
    val bloomed = run("q68_decontaminate_bloom")
    assert(bloomed.count() == exact.count())
    assert(bloomed.join(exact, Seq("doc_id", "n_shared"), "left_anti").count() == 0)

    // the bloom pair itself: no false negatives — every inserted hash
    // must probe true (false positives are allowed and expected)
    val E = graft.functions.expressions
    val hs = (1L to 1000L).toDF("h")
    val bf = hs.agg(E.bloom_agg($"h", lit(1000L))).collect()(0).getAs[Array[Byte]](0)
    val misses = hs.filter(!E.bloom_might_contain(lit(bf), $"h")).count()
    assert(misses == 0, s"bloom false negatives: $misses")
    // prune effectiveness: absent values mostly probe false at 3% FPP
    val absent = (100001L to 101000L).toDF("h")
    val fp = absent.filter(E.bloom_might_contain(lit(bf), $"h")).count()
    assert(fp < 200, s"bloom passes $fp of 1000 absent values — not pruning")
  }

  test("q96 textrank: integer ranks, strict order, terms exist in corpus") {
    import spark.implicits._
    val df = run("q96_textrank_keywords")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // ranks positive and the emitted order is (pr desc, term asc)
    val prs = rows.map(_.getLong(1))
    assert(prs.forall(_ > 0))
    assert(rows.sortBy(r => (-r.getLong(1), r.getString(0))).toSeq == rows.toSeq)
    // non-degenerate: centrality separates the vocabulary
    assert(prs.distinct.length > 1)
    // every keyword is a real corpus token
    val vocab = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("term"))
      .distinct().as[String].collect().toSet
    assert(rows.map(_.getString(0)).forall(vocab.contains))
    // a term in every doc must outrank one confined to a single doc:
    // centrality follows document frequency on this bipartite graph
    val docFreq = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ranked = rows.map(_.getString(0))
    val commonest = docFreq.maxBy(t => (t._2, t._1))._1
    assert(ranked.contains(commonest),
      s"highest-df term '$commonest' missing from top ranks")
  }

  test("q97 zipf slope: negative, bounded, one row per source") {
    val rows = run("q97_zipf_slope").collect()
    assert(rows.nonEmpty)
    // one row per distinct source, ordered
    val sources = rows.map(_.getString(0))
    assert(sources.toSeq == sources.sorted.toSeq && sources.distinct.length == sources.length)
    rows.foreach { r =>
      val (slope, n) = (r.getDouble(1), r.getLong(2))
      // a frequency-ranked curve can only fall; real text sits near -1
      assert(slope < 0.0, s"source ${r.getString(0)}: slope $slope not negative")
      assert(slope > -5.0, s"source ${r.getString(0)}: slope $slope degenerate")
      assert(n >= 2 && n <= 200)
    }
  }

  test("q98 vocab growth: monotone curve bounded by corpus totals") {
    import spark.implicits._
    val rows = run("q98_vocab_growth").collect()
    assert(rows.nonEmpty)
    val (toks, vocab) = (rows.map(_.getLong(1)), rows.map(_.getLong(2)))
    // tokens strictly grow (every doc has at least one token); vocabulary
    // never shrinks and can never outpace the tokens that introduced it
    assert(toks.zip(toks.tail).forall { case (a, b) => a < b })
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b })
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
    // the curve ends inside the true corpus totals
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val totalToks = docs.select(explode(split(col("text"), " "))).count()
    val totalVocab = docs.select(explode(split(col("text"), " "))).distinct().count()
    assert(toks.last <= totalToks && vocab.last <= totalVocab)
  }

  test("q99 pmi collocations: support floor holds, pmi matches a naive recompute") {
    import spark.implicits._
    val rows = run("q99_pmi_collocations").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // support floor and (pmi desc, bg asc) emission order
    assert(rows.forall(_.getLong(1) >= 5L))
    assert(rows.sortBy(r => (-r.getLong(2), r.getString(0))).toSeq == rows.toSeq)
    // independent in-memory recompute of the quantized log-sum for the
    // emitted bigrams (same formula, driver-side Scala doubles)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("ws")).as[Seq[String]].collect()
    val uni = docs.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val bgs = docs.filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.tail).map { case (a, b) => s"$a $b" })
    val bgc = bgs.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val nTok = uni.values.sum
    val nBg = bgs.length.toLong
    def q(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
    rows.foreach { r =>
      val Array(w1, w2) = r.getString(0).split(" ", 2)
      val expected = q(r.getLong(1)) + 2L * q(nTok) - q(nBg) - q(uni(w1)) - q(uni(w2))
      assert(r.getLong(2) == expected,
        s"bigram '${r.getString(0)}': pmi ${r.getLong(2)} != naive $expected")
    }
  }

  test("q99b sketch+recount == q99 at a matched threshold; default frac holds its floor") {
    import spark.implicits._
    // matched threshold: pick frac so ceil(frac * N_bg) == 5 (q99's
    // absolute support) — the sketch path must then emit exactly q99's
    // rows: the MG candidate set is a lossless superset by the factor-2
    // slack, and the recount is exact
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("ws")).as[Seq[String]].collect()
    val nBg = docs.map(ws => math.max(ws.length - 1, 0).toLong).sum
    val exact = run("q99_pmi_collocations").collect().map(_.toString).toSeq
    spark.conf.set("graft.text.pmiSupportFrac", (4.5 / nBg).toString)
    try {
      val sketched = run("q99b_pmi_sketch").collect().map(_.toString).toSeq
      assert(sketched == exact,
        "q99b at thr=5 must equal q99 row-for-row (sketch is a prune, not an approximation)")
    } finally spark.conf.unset("graft.text.pmiSupportFrac")
    // default fraction: every emitted bigram meets the declared floor
    val dflt = run("q99b_pmi_sketch").collect()
    val thr = math.max(math.ceil(0.0001 * nBg).toLong, 1L)
    assert(dflt.nonEmpty && dflt.forall(_.getLong(1) >= thr))
  }

  test("q112 MAD anomaly: score law exact, med/mad match a naive recompute") {
    val rows = run("q112_value_anomaly_mad").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, med, mad, score) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(mad > 0 && score > 3.5)
      assert(score == math.abs(v - med) / (1.4826 * mad))
    }
    // interpolated-median recompute (quantile_cont semantics)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val rank = (s.length - 1) * 0.5
      val l = rank.toInt
      if (l + 1 < s.length) s(l) + (s(l + 1) - s(l)) * (rank - l) else s(l)
    }
    val byType = graft.sources.Tables.events(spark, sf0001)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.groupBy(_.getString(1)).foreach { case (tpe, rs) =>
      val med = medianOf(byType(tpe))
      val mad = medianOf(byType(tpe).map(v => math.abs(v - med)))
      assert(math.abs(rs.head.getDouble(3) - med) < 1e-12)
      assert(math.abs(rs.head.getDouble(4) - mad) < 1e-12)
    }
  }

  test("q113 trend slope: matches exact naive OLS, asc order, caps at 50") {
    val out = run("q113_user_trend_slope").collect()
    assert(out.nonEmpty && out.length <= 50)
    val emitted = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(emitted.map(_._3).toSeq == emitted.map(_._3).toSeq.sorted)
    // exact BigInt closed form over the same (x, yq) quantization
    val naive = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "ts", "value").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), t.getEpochSecond * 1000000L + t.getNano / 1000L,
          graft.TestNum.sparkRound(r.getDouble(2) * 10000))
      }.toSeq.groupBy(_._1).flatMap { case (u, es) =>
        val t0 = es.map(_._2).min
        val pts = es.map(e => (BigInt((e._2 - t0) / 1000000L), BigInt(e._3)))
        val n = BigInt(pts.length)
        val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        val sxx = pts.map(p => p._1 * p._1).sum
        val den = n * sxx - sx * sx
        if (pts.length >= 3 && den != 0)
          Some(u -> ((n * sxy - sx * sy).toDouble / den.toDouble * 8.64))
        else None
      }
    emitted.foreach { case (u, n, slope) =>
      assert(n >= 3)
      assert(math.abs(slope - naive(u)) <= 1e-12 * math.max(1.0, math.abs(slope)))
    }
    // the emitted 50 are the 50 smallest slopes
    val floor50 = naive.values.toSeq.sorted.take(out.length)
    assert(emitted.map(_._3).toSeq == floor50)
  }

  test("q114 containment == brute-force over the same shingle sets (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("q114_containment_dedup")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(5) >= 0.8)
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(4) <= r.getLong(2)) // common <= n_i
    }
    val sets = TextOps.shingleDocs(graft.sources.Tables.documents(spark, d))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toSet))
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia != ib
      if sa.size < sb.size || (sa.size == sb.size && ia < ib)
      common = (sa & sb).size
      if common.toDouble / sa.size >= 0.8
    } yield (ia, ib, common.toLong)).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet == brute)
  }

  test("q116 OHLC: bar invariants hold, open/close match the time-ordered rows") {
    val out = run("q116_ohlc_bars").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (o, h, l, c) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(h >= math.max(o, c) && l <= math.min(o, c))
      assert(r.getLong(6) >= 1)
    }
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select("event_type", "ts", "event_id", "value").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        val us = t.getEpochSecond * 1000000L + t.getNano / 1000L
        (r.getString(0), us / 21600000000L, us, r.getLong(2), r.getDouble(3))
      }
    assert(out.map(_.getLong(6)).sum == ev.length)
    val naive = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      val sorted = es.sortBy(e => (e._3, e._4))
      k -> (sorted.head._5, sorted.last._5)
    }
    out.foreach { r =>
      val bar = r.getTimestamp(1).toInstant.getEpochSecond * 1000000L / 21600000000L
      val (open, close) = naive((r.getString(0), bar))
      assert(r.getDouble(2) == open && r.getDouble(5) == close)
    }
  }

  test("q117 triangles == brute-force over the co-purchase graph") {
    val out = run("q117_triangle_count").collect()
    assert(out.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triPerNode = adj.keys.map { u =>
      u -> adj(u).toSeq.flatMap(v => (adj(u) & adj(v)).map(w => Set(u, v, w)))
        .distinct.size.toLong
    }.toMap
    val naiveTop = triPerNode.toSeq.filter(_._2 > 0)
      .sortBy { case (u, t) => (-t, u) }.take(50)
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq == naiveTop)
    out.foreach { r =>
      val (u, deg, tri, cc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(deg == adj(u).size)
      assert(cc == (tri * 2).toDouble / (deg * (deg - 1)).toDouble)
      assert(tri <= deg * (deg - 1) / 2)
    }
  }

  test("q118 CEP: incidents == naive scan of per-user time-ordered sequences") {
    val out = run("q118_error_burst_cep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.nonEmpty)
    val seqs = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), t.getEpochSecond * 1000000L + t.getNano / 1000L,
          r.getLong(2), r.getString(3))
      }.toSeq.groupBy(_._1)
    val naive = seqs.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      s.sliding(3).filter(w => w.length == 3 &&
          w.forall(_._4 == "error") && w(2)._2 - w(0)._2 <= 86400000000L)
        .map(w => (u, w(0)._3, w(2)._3))
    }.toSet
    assert(out == naive)
  }

  test("q119 skew audit: exact recompute per audited key") {
    val out = run("q119_key_skew_audit").collect()
    assert(out.length == 5)
    def naive(pairs: Seq[Any]): (Long, Long, Long, Double, Double) = {
      val cnts = pairs.groupBy(identity).values.map(_.size.toLong).toSeq
      val n = cnts.sum; val k = cnts.length.toLong; val mx = cnts.max
      val sumsq = cnts.map(c => c * c).sum
      (n, k, mx, mx.toDouble / n.toDouble,
        math.sqrt(math.max((k * sumsq).toDouble / (n * n).toDouble - 1.0, 0.0)))
    }
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "event_type").collect()
    val expect = Map(
      "events.user_id" -> naive(ev.map(_.get(0)).toSeq),
      "events.event_type" -> naive(ev.map(_.get(1)).toSeq))
    out.filter(r => expect.contains(r.getString(0))).foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((e._1, e._2, e._3)))
      assert(math.abs(r.getDouble(4) - e._4) < 1e-15)
      assert(math.abs(r.getDouble(5) - e._5) < 1e-12)
    }
    out.foreach { r =>
      assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0 && r.getLong(2) <= r.getLong(1))
    }
  }

  test("q120 rolling active: WAU >= DAU, stickiness in (0,1], exact recompute") {
    val out = run("q120_rolling_active_users").collect()
    assert(out.nonEmpty)
    val grid = graft.sources.Tables.events(spark, sf0001)
      .select("ts", "user_id").collect()
      .map { r =>
        val t = r.getTimestamp(0).toInstant
        ((t.getEpochSecond * 1000000L + t.getNano / 1000L) / 86400000000L,
          r.getLong(1))
      }.toSet
    val dau = grid.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val wau = grid.flatMap { case (d, u) => (0 to 6).map(o => (d + o, u)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet.size.toLong).toMap
    out.foreach { r =>
      val (d, da, wa, st) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(da == dau(d) && wa == wau(d))
      assert(wa >= da && st > 0 && st <= 1.0)
      assert(st == da.toDouble / wa.toDouble)
    }
    assert(out.map(_.getLong(0)).toSet == dau.keySet)
  }

  test("q121 frequent sequences: counts == naive trigram scan, top-20 order") {
    val out = run("q121_frequent_sequences").collect()
    assert(out.nonEmpty && out.length <= 20)
    val naive = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), t.getEpochSecond * 1000000L + t.getNano / 1000L,
          r.getLong(2), r.getString(3))
      }.toSeq.groupBy(_._1).values.flatMap { es =>
        es.sortBy(e => (e._2, e._3)).sliding(3).filter(_.length == 3)
          .map(w => ((w(0)._4, w(1)._4, w(2)._4), w(0)._1))
      }.toSeq
    val byTri = naive.groupBy(_._1).map { case (k, v) =>
      k -> (v.size.toLong, v.map(_._2).distinct.size.toLong)
    }
    val expectTop = byTri.toSeq
      .sortBy { case ((a, b, c), (n, _)) => (-n, a, b, c) }.take(out.length)
    assert(out.map(r => ((r.getString(0), r.getString(1), r.getString(2)),
      (r.getLong(3), r.getLong(4)))).toSeq == expectTop)
  }

  test("q122 DTW outliers == naive recompute over daily curves") {
    val out = run("q122_dtw_trajectory_outliers").collect()
    assert(out.nonEmpty && out.length <= 20)
    // trunc division + Spark-round semantics, mirroring the engines
    val daily = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "ts", "value").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0),
          (t.getEpochSecond * 1000000L + t.getNano / 1000L) / 86400000000L,
          graft.TestNum.sparkRound(r.getDouble(2) * 10000))
      }.toSeq.groupBy(e => (e._1, e._2)).map { case ((u, d), es) =>
        (u, d, es.map(_._3).sum)
      }.toSeq
    val curve = daily.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, es) =>
      es.map(_._3).sum / es.length.toLong
    }
    val dists = daily.groupBy(_._1).map { case (u, es) =>
      u -> graft.TestNum.dtwNaive(es.sortBy(_._2).map(_._3), curve)
    }
    val expectTop = dists.toSeq.sortBy { case (u, dd) => (-dd, u) }.take(out.length)
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq == expectTop)
  }

  test("q123 forecastability: fold matches a naive sequential recompute") {
    val out = run("q123_forecastability").collect()
    assert(out.nonEmpty)
    val daily = graft.sources.Tables.events(spark, sf0001)
      .select("event_type", "ts", "value").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getString(0),
          (t.getEpochSecond * 1000000L + t.getNano / 1000L) / 86400000000L,
          graft.TestNum.sparkRound(r.getDouble(2) * 10000))
      }.toSeq.groupBy(e => (e._1, e._2)).map { case ((tp, d), es) =>
        (tp, d, es.map(_._3).sum)
      }.toSeq.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3)).toMap
    out.foreach { r =>
      val vals = daily(r.getString(0))
      assert(r.getLong(1) == vals.length)
      var s = vals.head; var prev = vals.head
      var e = 0L; var rw = 0L
      vals.tail.foreach { x =>
        e += math.abs(x - s); rw += math.abs(x - prev)
        s = (2 * x + 8 * s) / 10L; prev = x
      }
      assert(r.getDouble(2) == e.toDouble / (vals.length - 1).toDouble)
      assert(r.getDouble(3) == rw.toDouble / (vals.length - 1).toDouble)
      assert(r.getDouble(4) == e.toDouble / rw.toDouble)
      assert(r.getDouble(4) > 0)
    }
  }

  test("q124 join pre-flight: out_rows == actually running the join") {
    val out = run("q124_join_preflight").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.size == 4)
    // ground truth: actually run each join and count (sf0.001 is small)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val ord = graft.sources.Tables.orders(spark, sf0001)
    val ev = graft.sources.Tables.events(spark, sf0001)
    val realLo = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
    val realEe = ev.as("a").join(ev.as("b"), "user_id").count()
    assert(out("lineitem*orders")._2 == realLo)
    assert(out("events*events")._2 == realEe)
    out.values.foreach { case (nk, rows, mx, share) =>
      assert(nk > 0 && rows >= nk && mx <= rows)
      assert(share > 0 && share <= 1.0)
      assert(share == mx.toDouble / rows.toDouble)
    }
  }

  test("q125 error runs == naive maximal-island scan; q118 law holds") {
    val out = run("q125_error_runs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val seqs = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map { r =>
        val t = r.getTimestamp(1).toInstant
        (r.getLong(0), t.getEpochSecond * 1000000L + t.getNano / 1000L,
          r.getLong(2), r.getString(3))
      }.toSeq.groupBy(_._1)
    val naive = seqs.toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      // accumulate maximal error islands with the 24h inter-error gap break
      val islands = scala.collection.mutable.ArrayBuffer
        .empty[Vector[(Long, Long, Long, String)]]
      var cur = Vector.empty[(Long, Long, Long, String)]
      s.foreach { e =>
        if (e._4 == "error" &&
            (cur.isEmpty || e._2 - cur.last._2 <= 86400000000L))
          cur = cur :+ e
        else {
          if (cur.size >= 3) islands += cur
          cur = if (e._4 == "error") Vector(e) else Vector.empty
        }
      }
      if (cur.size >= 3) islands += cur
      islands.map(run =>
        (u, run.size.toLong, run.head._3, run.last._3, run.map(_._3).toSet))
    }
    assert(out.toSeq ==
      naive.map(i => (i._1, i._2, i._3, i._4)).sortBy(x => (x._1, x._3)))
    // law vs q118: every fixed-length triple's anchor is a MEMBER of some
    // island (islands are maximal; a triple's 24h total span implies its
    // steps satisfy q125's per-step gap)
    val triples = run("q118_error_burst_cep").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    triples.foreach { case (u, firstId) =>
      assert(naive.exists(i => i._1 == u && i._5.contains(firstId)))
    }
  }

  test("q126 item similarity: sim law exact, top-5 per part, symmetric pairs") {
    val out = run("q126_item_similarity").collect()
    assert(out.nonEmpty)
    val op = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val support = op.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val w = op.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).toSeq.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    val byPart = out.groupBy(_.getLong(0))
    byPart.foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
      // ranks descend by sim with neighbor tiebreak
      val sims = rows.sortBy(_.getLong(1)).map(r => (r.getDouble(4), r.getLong(2)))
      sims.sliding(2).foreach {
        case Array((s1, n1), (s2, n2)) =>
          assert(s1 > s2 || (s1 == s2 && n1 < n2))
        case _ =>
      }
    }
    out.foreach { r =>
      val (p, n, cw, sim) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))
      val key = (math.min(p, n), math.max(p, n))
      assert(cw == w(key) && cw >= 2)
      assert(sim == cw.toDouble / math.sqrt((support(p) * support(n)).toDouble))
    }
  }

  test("q127 graph summary: consistent with q117's per-node counts") {
    val r = run("q127_graph_summary").head()
    val (nodes, edges, avgDeg, maxDeg, tri, trans) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    assert(nodes > 0 && edges > 0 && tri > 0)
    assert(avgDeg == 2.0 * edges / nodes)
    assert(trans > 0 && trans <= 1.0)
    // per-node triangle counts (q117, unlimited would be needed for the
    // full sum law; use the brute-force graph instead)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val es = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(nodes == adj.size && edges == es.size)
    assert(maxDeg == adj.values.map(_.size).max)
    val triBrute = es.toSeq.map { case (a, b) => (adj(a) & adj(b)).size }.sum / 3
    // every triangle closes 3 of its edges, so summing common-neighbor
    // counts over edges counts each triangle exactly 3 times
    assert(tri == triBrute)
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(trans == 3.0 * tri / wedges.toDouble)
  }

  test("q128 silhouette: bounded means, clusters/sizes == q74's assignment") {
    val out = run("q128_cluster_silhouette").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)
    }
    // the silhouette's own k-means fit is deterministic, so its clusters
    // and sizes must equal q74's cached assignment exactly
    val assign = run("q74_kmeans_lloyd").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = assign.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toMap == sizes)
    assert(out.map(_.getLong(1)).sum == assign.length)
  }

  test("q130 ship latency: share law exact, percentiles ordered, mass conserved") {
    val out = run("q130_ship_latency_sla").collect()
    assert(out.length == 5)
    val li = graft.sources.Tables.lineitem(spark, sf0001).count()
    assert(out.map(_.getLong(1)).sum == li)
    out.foreach { r =>
      val (n, p50, p90, n30, share) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))
      assert(p90 >= p50 && p50 >= 0)
      assert(n30 <= n && share == n30.toDouble / n.toDouble)
    }
  }

  test("q131 benford: 9 digits, shares sum to 1, digits match naive extraction") {
    val out = run("q131_benford_audit").collect()
    assert(out.length == 9)
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-6)
    val naive = graft.sources.Tables.orders(spark, sf0001)
      .select("o_totalprice").collect()
      .map(r => graft.TestNum.sparkRound(r.getDouble(0) * 100).toString.head - '0')
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      assert(r.getLong(1) == naive.getOrElse(r.getInt(0), 0L))
      assert(r.getDouble(4) == r.getDouble(2) - r.getDouble(3))
    }
  }

  test("q132 RFM: cell mass == customers, scores in 1..5, quintile balance") {
    val out = run("q132_rfm_segments").collect()
    assert(out.nonEmpty)
    val nCust = graft.sources.Tables.orders(spark, sf0001)
      .select("o_custkey").distinct().count()
    assert(out.map(_.getLong(3)).sum == nCust)
    out.foreach { r =>
      (0 to 2).foreach(i => assert(r.getLong(i) >= 1 && r.getLong(i) <= 5))
      assert(Set("champion", "loyal", "big_spender", "at_risk",
        "hibernating", "regular").contains(r.getString(4)))
    }
    // quintile balance: each marginal score bucket holds 10-30% of
    // customers (exact 20% up to ties/interpolation)
    (0 to 2).foreach { i =>
      val marg = out.groupBy(_.getLong(i)).view
        .mapValues(_.map(_.getLong(3)).sum).toMap
      marg.values.foreach { c =>
        assert(c >= nCust / 10 && c <= nCust * 3 / 10, s"axis $i: $marg")
      }
    }
  }

  test("q133 KS: statistic matches a naive CDF sweep, bounds hold") {
    val r = run("q133_ks_split_test").head()
    val (nTr, nTe, atVal, ks, crit) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4))
    assert(ks >= 0 && ks <= 1 && crit > 0)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val tr = docs.filter(_._1 % 10 < 8).map(_._2)
    val te = docs.filter(_._1 % 10 >= 8).map(_._2)
    assert(nTr == tr.length && nTe == te.length)
    val naive = (tr ++ te).distinct.sorted.map { v =>
      val d = (BigInt(tr.count(_ <= v)) * te.length
        - BigInt(te.count(_ <= v)) * tr.length).abs
      (d, v)
    }.maxBy(x => (x._1, -x._2))
    assert(atVal == naive._2)
    assert(ks == naive._1.toDouble / (BigInt(tr.length) * te.length).toDouble)
  }

  test("q115 lift: exact recompute from distinct baskets") {
    val out = run("q115_event_cooccurrence_lift").collect()
    assert(out.nonEmpty)
    val baskets = graft.sources.Tables.events(spark, sf0001)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val nUsers = baskets.map(_._1).size
    val nT = baskets.groupBy(_._2).view.mapValues(_.map(_._1).size).toMap
    out.foreach { r =>
      val (typeA, typeB) = (r.getString(0), r.getString(1))
      val nab = baskets.filter(_._2 == typeA).map(_._1)
        .intersect(baskets.filter(_._2 == typeB).map(_._1)).size
      assert(r.getLong(2) == nab)
      assert(nab <= math.min(nT(typeA), nT(typeB)))
      assert(r.getDouble(5) ==
        (nab.toLong * nUsers).toDouble / (nT(typeA).toLong * nT(typeB)).toDouble)
    }
  }

  test("BM25 raw artifact: append == from-scratch raw stats over the union") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    // postings rows carry collect_list arrays whose in-row order is
    // nondeterministic — normalize to per-doc sorted (h, tf) pairs
    def norm(p: org.apache.spark.sql.DataFrame) = p.collect().map { r =>
      (r.getLong(0),
        r.getSeq[Long](1).zip(r.getSeq[Long](2)).sortBy(_._1).toSeq,
        r.getLong(3))
    }.sortBy(_._1).toSeq
    val raw = TextOps.Bm25Raw.deltaOf(docs.filter($"doc_id" % 10 < 8))
    val merged = Additive.merge(raw,
      TextOps.Bm25Raw.deltaOf(docs.filter($"doc_id" % 10 >= 8))).checkpoint("df")
    val pf = TextOps.bm25RawPostings(docs)
    val dff = TextOps.bm25DfOf(pf)
    val (nf, lf) = TextOps.bm25TotalsOf(pf)
    assert(merged.totals("n") == nf && merged.totals("sum_len") == lf)
    assert(merged("df").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq ==
      dff.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    assert(norm(merged("postings")) == norm(pf))
  }

  test("BM25 raw append of an empty snapshot is the identity") {
    import spark.implicits._
    // a quiet admission day: zero arriving docs must leave every
    // artifact table untouched (the empty sum used to NPE in totals)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val raw = TextOps.Bm25Raw.deltaOf(docs)
    val merged = Additive.merge(raw,
      TextOps.Bm25Raw.deltaOf(docs.filter($"doc_id" < 0))).checkpoint("df")
    assert(merged.totals == raw.totals)
    assert(merged("postings").count() == raw("postings").count())
    assert(merged("df").collect().map(_.toString).sorted.toSeq ==
      raw("df").collect().map(_.toString).sorted.toSeq)
  }

  test("BM25 raw removal == from-scratch raw stats over the survivors") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val raw = TextOps.Bm25Raw.deltaOf(docs)
    val pruned = Additive.remove(raw,
      docs.filter($"doc_id" % 7 === 0).select($"doc_id")).checkpoint("df")
    val survivors = docs.filter($"doc_id" % 7 =!= 0)
    val ps = TextOps.bm25RawPostings(survivors)
    val (ns, ls) = TextOps.bm25TotalsOf(ps)
    assert(pruned.totals("n") == ns && pruned.totals("sum_len") == ls)
    assert(pruned("df").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq ==
      TextOps.bm25DfOf(ps).collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq)
    def ids(p: org.apache.spark.sql.DataFrame) =
      p.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(pruned("postings")) == ids(ps))
    // removing nothing is the identity
    val same = Additive.remove(raw, docs.filter($"doc_id" < 0).select($"doc_id"))
    assert(same.totals == raw.totals && same("df").count() == raw("df").count())
  }

  test("BM25 raw-postings serving == precomputed-weight-store serving") {
    import spark.implicits._
    // the query-time-idf scan kernel against the established build-time-
    // weight path, same corpus, same request set — bit-identical output
    // is the Bm25RawScanTopK arithmetic contract
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val raw = TextOps.Bm25Raw.deltaOf(docs)
    val qrows = TextOps.bm25RawQueryRows(spark, sf0001)
    val a = TextOps.bm25RawTopK(raw, qrows, 5)
      .collect().map(_.toString).toSeq
    val b = TextOps.bm25TopK(TextOps.bm25WeightStore(docs), qrows, 5)
      .collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("q141 stratified split: exact global quota, per-stratum seat law, coverage") {
    import spark.implicits._
    val out = run("q141_stratified_split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // full coverage, one verdict per doc
    assert(out.map(_._1).sorted.toSeq == docs.map(_._1).sorted.toSeq)
    val n = docs.length.toLong
    // the global train budget is hit EXACTLY — the allocation's whole point
    assert(out.count(_._4 == "train").toLong == (4L * n) / 5L)
    // per-stratum: train count is floor(0.8 n_h) or floor + 1 seat
    val byStratum = docs.groupBy(d => (d._2, d._3)).view.mapValues(_.length.toLong)
    val trainBy = out.filter(_._4 == "train")
      .groupBy(o => (o._2, o._3)).view.mapValues(_.length.toLong).toMap
    byStratum.foreach { case (h, nh) =>
      val base = (4L * nh) / 5L
      val got = trainBy.getOrElse(h, 0L)
      assert(got == base || got == base + 1L, s"stratum $h: $got vs base $base")
    }
    // deterministic: a second evaluation produces the identical assignment
    val again = run("q141_stratified_split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("bigram LM append == retrain on the union; chained appends compose") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def same(lm: TextOps.BigramLm, trained: TextOps.BigramLm) = {
      assert(lm.v == trained.v)
      assert(tab(lm.c12) == tab(trained.c12))
      assert(tab(lm.c1) == tab(trained.c1))
    }
    // the raw LM store of the stored split absorbs the % 10 = 8
    // snapshot: its served view equals a retrain on the union (q138)
    val raw1 = Additive.merge(TextOps.lmRawCached(spark, sf0001),
      TextOps.LmRaw.deltaOf(docs.filter($"doc_id" % 10 === 8)))
    val lmU = TextOps.trainBigramLm(docs.filter($"doc_id" % 10 < 9))
    same(TextOps.lmOf(raw1), lmU)
    val held = docs.filter($"doc_id" % 10 === 9)
    val a = tab(TextOps.lmScoreDocs(held, TextOps.lmOf(raw1)))
    assert(a.nonEmpty && a == tab(TextOps.lmScoreDocs(held, lmU)))
    // a second append onto the merged store: v must equal the
    // full-corpus distinct word count
    val raw2 = Additive.merge(raw1, TextOps.LmRaw.deltaOf(held))
    same(TextOps.lmOf(raw2), TextOps.trainBigramLm(docs))
    assert(TextOps.lmOf(raw2).v ==
      docs.select(explode(split($"text", " "))).distinct().count())
  }

  test("LM raw store: projection law, removal == retrain on survivors") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val raw = TextOps.lmRawCached(spark, sf0001)
    // serving tables are projections of the raw store
    val trained = TextOps.trainBigramLm(docs.filter($"doc_id" % 10 < 8))
    val viewed = TextOps.lmOf(raw)
    assert(viewed.v == trained.v)
    assert(tab(viewed.c12) == tab(trained.c12))
    assert(tab(viewed.c1) == tab(trained.c1))
    // exact takedown: subtracting victims' stored postings lands on the
    // retrain-on-survivors tables (incl. the vocabulary shrinking when a
    // word's last surviving doc goes)
    val vics = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 === 0)
      .select($"doc_id")
    val pruned = Additive.remove(raw, vics)
    val retrained = TextOps.trainBigramLm(
      docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 7 =!= 0))
    val prunedLm = TextOps.lmOf(pruned)
    // (v may or may not shrink — it shrinks iff some word was unique to
    // the victims, which sf0.001's 31-word vocabulary happens not to
    // have; the roundtrip test below covers the shrink path, where
    // snapshot-unique words must leave wc on removal)
    assert(prunedLm.v == retrained.v)
    assert(tab(prunedLm.c12) == tab(retrained.c12))
    assert(tab(prunedLm.c1) == tab(retrained.c1))
    // removing nothing is the identity
    val same = Additive.remove(raw, docs.filter($"doc_id" < 0).select($"doc_id"))
    assert(tab(same("c12")) == tab(raw("c12")) && tab(same("wc")) == tab(raw("wc")))
  }

  test("LM raw store: append then remove the same snapshot is the identity") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val raw = TextOps.lmRawCached(spark, sf0001)
    val snap = docs.filter($"doc_id" % 10 === 8)
    val appended = Additive.merge(raw, TextOps.LmRaw.deltaOf(snap))
    // the append alone must equal a retrain on the union
    val lmU = TextOps.trainBigramLm(docs.filter($"doc_id" % 10 < 9))
    assert(TextOps.lmOf(appended).v == lmU.v)
    assert(tab(appended("c12")) == tab(lmU.c12))
    // roundtrip: removing exactly the appended ids restores every table
    val back = Additive.remove(appended, snap.select($"doc_id"))
    Seq("c12", "wc", "bgpost", "wpost").foreach(n =>
      assert(tab(back(n)) == tab(raw(n)), n))
  }

  test("LM raw store: a word unique to the victim leaves the vocabulary") {
    import spark.implicits._
    // two docs; "zebra" occurs only in doc 2 — its takedown must drop
    // the word from wc (v: 3 → 2) and its bigrams from c12, while the
    // shared words' counts only decrement (ndocs 2 → 1)
    val docs = Seq((1L, "a b a"), (2L, "a zebra b")).toDF("doc_id", "text")
    val raw = TextOps.LmRaw.deltaOf(docs)
    assert(TextOps.lmOf(raw).v == 3L) // a, b, zebra
    val pruned = Additive.remove(raw, Seq(2L).toDF("doc_id"))
    assert(TextOps.lmOf(pruned).v == 2L)
    val words = pruned("wc").collect().map(_.getString(0)).sorted.toSeq
    assert(words == Seq("a", "b"))
    val bgs = pruned("c12").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(bgs == Seq(("a b", 1L), ("b a", 1L)))
  }

  test("q146 JL projection matches a driver-side reference; q147 ratios concentrate near k") {
    import spark.implicits._
    // independent reference: quantize + project a few sampled vectors in
    // plain Scala from the same splitmix sign constants
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" % 43 === 0)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val signs = Array.tabulate(64 * 16)(k =>
      if ((graft.functions.expressions.splitmix((1L << 20) + k) & 1L) == 1L) 1L
      else -1L)
    val expect = emb.flatMap { case (vid, xs) =>
      val xfp = xs.map(x => math.floor(x.toDouble * 1048576.0).toLong)
      (0 until 16).map(j =>
        (vid, j.toLong, (0 until 64).map(i => signs(i * 16 + j) * xfp(i)).sum))
    }.sorted.toSeq
    val got = run("q146_jl_projection").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got.nonEmpty && got == expect)

    // JL concentration: with ±1 signs E[d2_proj] = k·d2_orig; the mean
    // sampled ratio must sit near k = 16 (loose band — 17 pairs at this
    // SF) and every pair must have positive distances
    val audit = run("q147_jl_distance_audit").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(audit.nonEmpty)
    audit.foreach { case (d2o, d2p, _) => assert(d2o > 0L && d2p >= 0L) }
    val meanRatio = audit.map(_._3).sum / audit.length
    assert(meanRatio > 8.0 && meanRatio < 24.0,
      s"mean JL ratio $meanRatio far from k=16")
  }

  test("q148 two-stage JL retrieval: recall@5 vs exact q25 on the same requests") {
    // measured composition trade at the 100-of-500 candidate depth on
    // this NEAR-RANDOM corpus (the projection's worst case — q26's
    // note): mean recall ≈ 0.74. The pin is a floor well above the
    // 100/499 ≈ 1.0-of-5 random-candidate baseline, not the measured
    // point (rank margins this thin wobble with any quantizer change).
    val exact = run("q25_knn_cosine_exact")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sel = run("q148_jl_prefilter_knn")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = exact.groupBy(_._1)
    assert(byQ.nonEmpty)
    val recall = byQ.map { case (_, rows) =>
      rows.count(sel.contains).toDouble / rows.length
    }
    assert(recall.sum / recall.size >= 0.5,
      s"mean recall@5 ${recall.sum / recall.size} below the two-stage floor")
  }

  test("q156b pruned semantic negatives: recall floor vs exact pool, exclusion holds") {
    import spark.implicits._
    // exact-pool sibling on the SAME bounded request set (q156 keeps the
    // unbounded %50 convention; the pruned default serves <= 100 queries)
    val exact = run("q156_semantic_hard_negatives")
      .filter($"query_id" < 5000L)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sel = run("q156b_semantic_negatives_pruned")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = exact.groupBy(_._1)
    assert(byQ.nonEmpty)
    // measured at sf0.01: mean recall@5 = 0.74 (q148's two-stage trade on
    // this near-random corpus); the pin is a floor, not the point
    val recall = byQ.map { case (_, rows) =>
      rows.count(sel.contains).toDouble / rows.length
    }
    assert(recall.sum / recall.size >= 0.5,
      s"mean recall@5 ${recall.sum / recall.size} below the pruned-pool floor")
    // the exclusion contract carries over: no surviving negative is a
    // verified near-duplicate of its query
    val nd = TextOps.dedupEdgesCached(spark, sf0001).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    assert(sel.forall(p => !nd.contains(p)), "a near-dup pair survived the exclusion")
  }

  test("q164 k-anonymity: generalization monotonicity, risk leg non-vacuous") {
    val rows = run("q164_k_anonymity_audit").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == Set("lang", "source", "source_lang"))
    val (fineG, fineMin, f2, f5, f10) = rows("source_lang")
    Seq("lang", "source").foreach { coarse =>
      val (g, mn, k2, k5, k10) = rows(coarse)
      // dropping a quasi-identifier can only merge groups: fewer groups,
      // larger smallest group, less at-risk row mass
      assert(g <= fineG && mn >= fineMin && k2 <= f2 && k5 <= f5 && k10 <= f10,
        s"generalizing to $coarse did not monotonically reduce risk")
    }
    assert(f10 > 0, "finest level must expose at-risk rows at spec SF")
  }

  test("q170 l-diversity: generalization monotonicity, entropy⊇distinct, both verdicts") {
    val rows = run("q170_l_diversity_audit").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(rows.keySet == Set("cohort", "cohort_day", "cohort_hour"))
    // an l=1 group has entropy 0 < ln 2, so the entropy-l check flags a
    // SUPERSET of the distinct-l check at every level
    rows.values.foreach { case (_, _, gL2, rL2, gEnt, rEnt) =>
      assert(gEnt >= gL2 && rEnt >= rL2, "entropy-l must subsume distinct-l")
    }
    // every coarse group is a union of fine groups, so generalizing can
    // only raise min_l and shrink the distinct-l flagged mass (an l=1
    // coarse group is made entirely of l=1 fine groups). The ENTROPY
    // legs are deliberately NOT pinned monotone: entropy-flagged row
    // mass can grow under merging (a 75/25 coarse group flags all its
    // rows while its 50/0 + 25/25 fine parts flag only half), so that
    // is not a theorem
    val (hg, hMin, hG2, hR2, _, _) = rows("cohort_hour")
    Seq("cohort_day", "cohort").foreach { coarse =>
      val (g, mn, g2, r2, _, _) = rows(coarse)
      assert(g <= hg && mn >= hMin && g2 <= hG2 && r2 <= hR2,
        s"generalizing to $coarse did not monotonically improve diversity")
    }
    // both verdicts at spec SF: the finest level exposes low-diversity
    // groups, the coarsest passes l=2 outright
    assert(hG2 > 0, "finest level must expose l<2 groups at spec SF")
    assert(rows("cohort")._3 == 0 && rows("cohort")._5 == 0,
      "coarsest level must satisfy both l=2 notions at spec SF")
  }

  test("q171 DP release: noise bound, clamp, determinism, noise fires") {
    import spark.implicits._
    val out = run("q171_dp_marginal_release").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(out.keys.map(_._1).toSet == Set("source", "lang", "source_lang"))
    assert(out.values.forall(_ >= 0L), "clamped release must be non-negative")
    // true marginals, computed independently
    val base = graft.sources.Tables.documents(spark, sf0001)
      .select(coalesce($"source", lit("")).as("source"),
        coalesce($"lang", lit("")).as("lang"))
    val truth =
      base.groupBy($"source").count().collect()
        .map(r => ("source", r.getString(0), "") -> r.getLong(1)) ++
      base.groupBy($"lang").count().collect()
        .map(r => ("lang", "", r.getString(0)) -> r.getLong(1)) ++
      base.groupBy($"source", $"lang").count().collect()
        .map(r => ("source_lang", r.getString(0), r.getString(1)) -> r.getLong(2))
    val tm = truth.toMap
    assert(out.keySet == tm.keySet, "release must cover exactly the true marginals")
    // |noise| <= 24 structurally (truncated geometrics), clamp only tightens
    assert(out.forall { case (k, rel) => math.abs(rel - tm(k)) <= 24L },
      "released value strayed past the truncated-noise bound")
    // the mechanism is non-degenerate at spec SF: some noise fired
    assert(out.exists { case (k, rel) => rel != tm(k) }, "no noise fired")
    // seeded mechanism: bit-identical on re-run
    val again = run("q171_dp_marginal_release").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(again == out, "seeded release must be deterministic")
  }

  test("q172 packing efficiency: waste identity, LB + FFD bounds, covers q50") {
    val rows = run("q172_packing_efficiency").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nBins, nOver, small, waste, lb) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // accounting identity: regular bins split exactly into fill + pad
      assert(128L * (nBins - nOver) == small + waste,
        s"waste identity broken at grp ${r.get(0)}")
      // capacity lower bound (Johnson's 11/9 guarantee is vs OPT, which
      // is unobservable — lb can sit far below OPT when most docs are
      // just over half the budget, so only the lower bound is a theorem)
      assert(nBins >= lb, s"bins below LB at grp ${r.get(0)}")
      if (!r.isNullAt(7)) {
        val u = r.getDouble(7)
        assert(u > 0.0 && u <= 1.0, s"utilization $u out of range")
      }
    }
    // the audit covers exactly the shipped packing
    val packedDocs = run("q50_sequence_packing").count()
    assert(rows.map(_.getLong(1)).sum == packedDocs)
    assert(rows.map(_.getLong(5)).sum > 0L, "padding waste must be non-vacuous")
  }

  test("q173 tokenizer fertility: bounds, ratio identity, mass == q23b") {
    val rows = run("q173_tokenizer_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, bpe, ws, wc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nd > 0 && ws > 0)
      // every word is >= 1 subword, every subword >= 1 char
      assert(bpe >= ws, s"fertility below 1 at lang ${r.get(0)}")
      assert(bpe <= wc, s"more subwords than chars at lang ${r.get(0)}")
      assert(math.abs(r.getDouble(5) - bpe.toDouble / ws) < 1e-12)
      assert(math.abs(r.getDouble(6) - wc.toDouble / bpe) < 1e-12)
    }
    // same corpus, same trained tokenizer, different grouping: total
    // subword mass must equal q23b's per-source totals exactly
    val bySource = run("q23b_bpe_token_stats").collect()
      .map(_.getLong(2)).sum
    assert(rows.map(_.getLong(2)).sum == bySource,
      "per-lang and per-source subword mass diverged")
    assert(rows.map(_.getLong(1)).sum ==
      graft.sources.Tables.documents(spark, sf0001).count())
  }

  test("q174 snapshot diff: conservation laws, version counts, all legs fire") {
    import spark.implicits._
    val rows = run("q174_snapshot_diff").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v1, v2, add, rem, chg, same) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // the diff must reconcile the two versions exactly
      assert(v2 == v1 - rem + add, s"v2 != v1 - removed + added at ${r.get(0)}")
      assert(chg + same == v1 - rem, s"common split broken at ${r.get(0)}")
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
    assert(rows.map(_.getLong(1)).sum == docs.filter($"doc_id" % 10 < 8).count())
    assert(rows.map(_.getLong(2)).sum == docs.filter($"doc_id" % 13 =!= 0).count())
    // every leg non-vacuous at spec SF
    Seq(3, 4, 5, 6).foreach { i =>
      assert(rows.map(_.getLong(i)).sum > 0L, s"diff leg $i is vacuous")
    }
  }

  test("q175 tokenizer drift: triangle law, per-doc floor, drift fires") {
    import spark.implicits._
    val rows = run("q175_tokenizer_drift").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ws, v1, v2, dt, dd) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
      // each version tokenizes every word into >= 1 subword
      assert(v1 >= ws && v2 >= ws)
      // per-doc |Δ| sums dominate the net mass shift, and every drifted
      // doc moves at least one token
      assert(dt >= math.abs(v1 - v2), s"triangle law broken at ${r.get(0)}")
      assert(dt >= dd, s"drifted docs without moved tokens at ${r.get(0)}")
      assert(math.abs(r.getDouble(7) - v1.toDouble / ws) < 1e-12)
      assert(math.abs(r.getDouble(8) - v2.toDouble / ws) < 1e-12)
    }
    // retraining on the grown corpus must actually move tokenizations
    // at spec SF, else the audit is vacuous
    assert(rows.map(_.getLong(6)).sum > 0L, "no document drifted")
    assert(rows.map(_.getLong(1)).sum ==
      graft.sources.Tables.documents(spark, sf0001)
        .filter($"doc_id" % 10 < 8).count())
  }

  test("q176 truncation loss: budget monotonicity, ratio identity, binds") {
    val rows = run("q176_truncation_loss").collect()
    val byBudget = rows.groupBy(_.getLong(0))
    assert(byBudget.keySet == Set(32L, 64L, 96L))
    rows.foreach { r =>
      val (nd, ws, lost, cut) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lost <= ws && cut <= nd)
      assert(math.abs(r.getDouble(6) - lost.toDouble / ws) < 1e-12)
    }
    // a larger budget can only cut less, per source
    def bySource(b: Long) = byBudget(b)
      .map(r => r.getString(1) -> ((r.getLong(4), r.getLong(5)))).toMap
    val (m32, m64, m96) = (bySource(32L), bySource(64L), bySource(96L))
    m32.keys.foreach { src =>
      assert(m32(src)._1 >= m64(src)._1 && m64(src)._1 >= m96(src)._1)
      assert(m32(src)._2 >= m64(src)._2 && m64(src)._2 >= m96(src)._2)
    }
    // every budget leg binds somewhere at spec SF
    Seq(32L, 64L, 96L).foreach { b =>
      assert(byBudget(b).map(_.getLong(4)).sum > 0L, s"budget $b is vacuous")
    }
  }

  test("q177 vocab coverage: curve strictly grows, mass checks out") {
    import spark.implicits._
    val rows = run("q177_vocab_coverage").collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(8L, 16L, 24L))
    val total = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(coalesce($"text", lit("")), " ")).as("w"))
      .filter(length($"w") > 0).count()
    rows.foreach { r =>
      assert(r.getLong(2) == total, "total token mass mismatch")
      assert(r.getLong(1) > 0 && r.getLong(1) <= total)
      val cov = r.getDouble(4)
      assert(cov > 0.0 && cov < 1.0, s"budget ${r.getLong(0)} not inside the curve")
      assert(math.abs(cov - r.getLong(1).toDouble / total) < 1e-12)
    }
    // a bigger budget strictly covers more on this >24-type corpus
    assert(rows(0).getLong(1) < rows(1).getLong(1) &&
      rows(1).getLong(1) < rows(2).getLong(1))
  }

  test("q178 threshold sweep: monotone, 0.5 row == q18, 0.9 bites") {
    val rows = run("q178_dedup_threshold_sweep").collect()
      .sortBy(_.getDouble(0))
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    // tightening the threshold can only drop pairs and touched docs
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(1) >= hi.getLong(1) && lo.getLong(2) >= hi.getLong(2))
    }
    // the 0.5 row is exactly q18's verified pair set
    val q18pairs = run("q18_neardup_jaccard").collect()
    assert(rows(0).getLong(1) == q18pairs.length)
    assert(rows(0).getLong(2) ==
      q18pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length)
    // the sweep is non-vacuous at spec SF: 0.9 excludes some pairs
    assert(rows(4).getLong(1) < rows(0).getLong(1),
      "0.9 must exclude pairs at spec SF")
    assert(rows(4).getLong(1) > 0)
  }

  test("q179 decontamination stack: partition, union bounds, legs == q160/q169") {
    val rows = run("q179_decontamination_stack").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, ex, nd, se, fl, cl) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // flagged/clean partition the training docs
      assert(fl + cl == nt, s"partition broken at ${r.get(0)}")
      // union bounds: at least the biggest leg, at most the sum
      assert(fl >= math.max(ex, math.max(nd, se)) && fl <= ex + nd + se)
    }
    // each screen's catch equals its standalone query's flagged-doc set
    assert(rows.map(_.getLong(3)).sum ==
      run("q160_neardup_decontamination").collect()
        .map(_.getLong(0)).distinct.length,
      "near-dup leg diverged from q160")
    assert(rows.map(_.getLong(4)).sum ==
      run("q169_semantic_decontamination").collect()
        .map(_.getLong(0)).distinct.length,
      "semantic leg diverged from q169")
    // every screen catches something, and the screens overlap (the
    // union is strictly below the sum) at spec SF
    Seq(2, 3, 4).foreach(i => assert(rows.map(_.getLong(i)).sum > 0L))
    assert(rows.map(_.getLong(5)).sum <
      rows.map(r => r.getLong(2) + r.getLong(3) + r.getLong(4)).sum)
  }

  test("q165 time-budget funnel: budgets only shrink q109's stages, and do bind") {
    def stages(name: String) = run(name).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val budget = stages("q165_funnel_time_budget")
    val free = stages("q109_funnel")
    assert(budget.keySet == Set(0, 1, 2, 3))
    // stage 0/1 have no budget — identical; budgeted stages can only lose users
    assert(budget(0) == free(0) && budget(1) == free(1))
    assert(budget(2) <= free(2) && budget(3) <= free(3))
    assert(budget(2) < free(2), "the 1h click budget must bind at spec SF")
    // funnel monotone within itself
    assert(budget(1) >= budget(2) && budget(2) >= budget(3))
  }

  for (qn <- Seq("q163_maxpassage_bm25", "q166_maxpassage_index_append", "q167_maxpassage_index_remove"))
  test(s"$qn: max-passage pooling laws hold") {
    val out = run(qn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks not contiguous")
      assert(sorted.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      }, s"query $q doc scores not non-increasing")
      assert(sorted.map(_._2).distinct.length == sorted.length,
        s"query $q returned a document twice")
      rows.foreach { case (_, doc, cid, _, _) =>
        assert(doc != q, s"query $q returned its own document")
        assert((cid - 1) / 100000 == doc,
          s"best chunk $cid does not decode to parent $doc")
      }
    }
  }

  test("q169 semantic decontamination: membership and threshold laws, non-vacuous") {
    val out = run("q169_semantic_decontamination").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty, "semantic leakage leg must fire at spec SF")
    def isEval(id: Long) = id % 29 == 0 && id < 5300
    out.foreach { case (train, eval, cos) =>
      assert(!isEval(train) && isEval(eval), s"membership violated for ($train,$eval)")
      assert(cos >= 0.4, s"pair ($train,$eval) below threshold")
    }
    // distinct screen from the lexical one: at least one flagged pair must
    // NOT be a verified lexical near-dup (embeddings see what shingles miss)
    val lex = run("q160_neardup_decontamination")
      .select("train_doc_id", "eval_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.exists(p => !lex.contains((p._1, p._2))),
      "semantic screen added nothing beyond the lexical one at spec SF")
  }

  test("q160 near-dup decontamination: pairs == q18's cross-boundary pairs, membership laws") {
    val out = run("q160_neardup_decontamination").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.nonEmpty, "decontamination leg must be exercised at spec SF")
    def isEval(id: Long) = id % 29 == 0 && id < 5300
    out.foreach { case (train, eval, j) =>
      assert(!isEval(train), s"train doc $train is in the eval set")
      assert(isEval(eval), s"eval doc $eval fails the fixture predicate")
      assert(j >= 0.5, s"pair ($train,$eval) below the verify threshold")
    }
    // independent cross-check: q18's all-pairs set (PPJoin machinery,
    // not the banded index) restricted to pairs straddling the eval
    // boundary must equal q160's pair set exactly
    val q18pairs = run("q18_neardup_jaccard").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wantPairs = q18pairs.collect {
      case (i, j) if isEval(i) && !isEval(j) => (j, i)
      case (i, j) if !isEval(i) && isEval(j) => (i, j)
    }.toSet
    assert(out.map(p => (p._1, p._2)).toSet == wantPairs)
  }

  test("q161 card store: render == direct cards, append == full-corpus rebuild") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"lang", $"text")
    def tab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // the store decomposition loses nothing: rendering the store of a
    // corpus equals carding the corpus directly
    assert(tab(TextOps.cardsOfStore(TextOps.cardStoreOf(docs))) ==
      tab(TextOps.sourceCards(docs.select($"source", $"lang", $"text"))))
    // the append law against the Spark batch form (the oracle pins the
    // same law against DuckDB's from-scratch card)
    assert(tab(SparkEntry.queries("q161_data_card_append")(spark, sf0001)) ==
      tab(TextOps.sourceCards(docs.select($"source", $"lang", $"text"))))
  }

  test("q150 hard negatives: near-dup candidates excluded, invariants hold") {
    import spark.implicits._
    val E = graft.functions.expressions
    val out = run("q150_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.length <= 5, s"query $q returned ${sorted.length} > 5")
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks not contiguous from 1")
      assert(sorted.map(_._3).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      }, s"query $q scores not non-increasing in rank")
      assert(rows.forall(_._2 != q), s"query $q returned itself")
    }
    // the exclusion leg must be EXERCISED at this SF (≥ 1 near-dup pair
    // in the top-20 pool — checked independently against the oracle's
    // criterion), and no returned negative may be one
    val cands = TextOps.bm25TopK(
      TextOps.bm25StoreCached(spark, sf0001),
      TextOps.bm25QueryRows(spark, sf0001), 20)
    val sh = TextOps.shingleDocs(
      graft.sources.Tables.documents(spark, sf0001).select($"doc_id", $"text"))
    val nd = cands
      .join(sh.select($"doc_id".as("query_id"), $"n".as("n_q"),
        $"hs".as("hs_q")), Seq("query_id"))
      .join(sh.select($"doc_id", $"n".as("n_c"), $"hs".as("hs_c")),
        Seq("doc_id"))
      .withColumn("common", E.sorted_intersect_count($"hs_q", $"hs_c"))
      .filter($"common".cast("double") /
        ($"n_q" + $"n_c" - $"common").cast("double") >= 0.5)
      .select($"query_id", $"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.nonEmpty, "near-dup exclusion vacuous in the top-20 pool")
    assert(out.forall { case (q, d, _, _) => !nd((q, d)) },
      "a near-dup candidate survived into the hard-negative set")
  }

  test("q155 near-dup label QA: pair set matches q18, both verdicts occur") {
    import spark.implicits._
    val rows = run("q155_neardup_label_qa").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, v, lu, lv, m) =>
      assert(u < v, s"pair ($u,$v) not min-first oriented")
      assert(m == (lu == lv), s"pair ($u,$v) lang_match inconsistent")
    }
    // non-vacuity: the QA must see agreeing AND disagreeing pairs
    assert(rows.exists(_._5) && rows.exists(!_._5))
    // the audited pair set IS q18's exact near-dup pair set
    val q18pairs = run("q18_neardup_jaccard").select($"i", $"j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == q18pairs)
  }

  test("q154 curriculum phases: exact quartile seat law, quality monotone across phases") {
    val rows = run("q154_curriculum_phases").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_._2).sum == total, "phases must partition the corpus")
    // exact rank-quartile seat law: phase p spans ranks
    // (ceil((p-1)N/4), ceil(pN/4)] under phase = ((rank-1)*4) div N + 1
    def bound(p: Long) = (p * total + 3) / 4
    rows.foreach { case (p, nd, _, lo, hi) =>
      assert(nd == bound(p) - bound(p - 1),
        s"phase $p has $nd docs, expected ${bound(p) - bound(p - 1)} for N=$total")
      assert(lo <= hi)
    }
    // curriculum order: phase k's WORST doc is at least as clean as
    // phase k+1's BEST (rank cut: quality non-increasing across phases)
    rows.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._4 >= b._5,
          s"phase ${a._1} min ${a._4} below phase ${b._1} max ${b._5}")
      case _ =>
    }
  }

  test("q153 near-dup retrieval eval: rr laws, hits occur, partner counts positive") {
    val rows = run("q153_retrieval_eval_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, np, br, rr) =>
      assert(np >= 1, s"query $q has no partners yet was evaluated")
      br match {
        case Some(rk) =>
          assert(rk >= 1 && rk <= 10, s"query $q best_rank $rk outside 1..10")
          assert(rr == 1.0 / rk, s"query $q rr10 $rr != 1/$rk")
        case None => assert(rr == 0.0, s"query $q missed but rr10 $rr != 0")
      }
    }
    // non-vacuity both ways: the eval must see hits AND misses at this
    // SF, otherwise the metric is degenerate
    assert(rows.exists(_._3.isDefined), "no query retrieved a partner")
    assert(rows.exists(_._3.isEmpty), "every query retrieved a partner — miss leg vacuous")
  }

  test("q158 survivor weights: mass conservation, weights >= 1, dups excluded") {
    import spark.implicits._
    val rows = run("q158_dedup_survivor_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    // distribution preservation: total weight == raw corpus size
    assert(rows.map(_._2).sum == total, "weights must conserve corpus mass")
    assert(rows.forall(_._2 >= 1L))
    assert(rows.exists(_._2 > 1L), "no multi-doc cluster — upweighting vacuous")
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate survivor rows")
    // non-representative cluster members must be absent
    val labels = TextOps.dedupClustersCached(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dropped = labels.collect { case (d, rep) if d != rep => d }.toSet
    assert(dropped.nonEmpty && rows.forall(r => !dropped(r._1)))
  }

  test("q158 weights under cluster takedown: survivor mass conserved, == rebuild") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val labels = TextOps.dedupClustersCached(spark, sf0001)
    val edges = TextOps.dedupEdgesCached(spark, sf0001)
    val vic = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
    def weights(lb: org.apache.spark.sql.DataFrame,
        corpus: org.apache.spark.sql.DataFrame) = {
      val reps = lb.groupBy($"cluster_rep".as("doc_id"))
        .agg(count(lit(1)).as("weight"))
      val singles = corpus.select($"doc_id")
        .join(lb.select($"doc_id"), Seq("doc_id"), "left_anti")
        .select($"doc_id", lit(1L).as("weight"))
      reps.unionByName(singles).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val survivors = docs.join(vic, Seq("doc_id"), "left_anti")
    val afterTakedown =
      weights(TextOps.removeFromClusters(labels, edges, vic), survivors)
    val survEdges = edges
      .join(vic.select($"doc_id".as("u")), Seq("u"), "left_anti")
      .join(vic.select($"doc_id".as("v")), Seq("v"), "left_anti")
    val rebuilt = weights(TextOps.unionFindCC(survEdges)
      .select($"vertex".as("doc_id"), $"rep".as("cluster_rep")), survivors)
    assert(afterTakedown.nonEmpty && afterTakedown == rebuilt)
    // mass conservation holds over the SURVIVOR corpus after the mutation
    assert(afterTakedown.map(_._2).sum == survivors.count())
  }

  test("q157 keyframe selection: walk laws, both keep and drop branches fire") {
    val rows = run("q157_keyframe_selection").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, nf, nk, kept) =>
      val idx = kept.split(" ").map(_.toLong)
      assert(nk >= 1 && nk <= nf, s"doc $doc: $nk keyframes of $nf")
      assert(idx.length == nk, s"doc $doc: kept list length != n_keyframes")
      assert(idx.head == 0L, s"doc $doc: frame 0 must always be kept")
      assert(idx.last < nf, s"doc $doc: kept index beyond frame count")
      assert(idx.toSeq == idx.sorted.distinct.toSeq,
        s"doc $doc: kept indices not strictly increasing")
    }
    // both branches must be real at this SF: some doc drops a frame,
    // some doc keeps more than one
    assert(rows.exists(r => r._3 < r._2), "drop branch vacuous")
    assert(rows.exists(r => r._3 > 1L), "multi-keep branch vacuous")
  }

  test("q156 semantic hard negatives: near-dup exclusion fires, invariants hold") {
    import spark.implicits._
    val out = run("q156_semantic_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.length <= 5)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.map(_._4).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true
      })
      assert(rows.forall(_._2 != q), s"query $q returned itself")
    }
    // the exclusion must be EXERCISED: >= 1 near-dup pair inside the
    // exact top-20 pool at this SF, and none in the output
    val pool = VectorOps.cosineTopK(spark, sf0001,
      v => v % 50 === 0, 20)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = TextOps.dedupEdgesCached(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nd = (edges ++ edges.map(_.swap)).toSet
    assert(pool.exists(nd.contains), "exclusion vacuous in the exact top-20 pool")
    assert(out.forall { case (q, n, _, _) => !nd((q, n)) },
      "a near-dup candidate survived into the semantic hard-negative set")
  }

  test("q152 matryoshka audit: three budgets, error laws, more dims help") {
    val rows = run("q152_matryoshka_audit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(8L, 16L, 32L))
    rows.foreach { case (m, n, mae, mx) =>
      assert(n > 0, s"budget $m: no pairs")
      assert(mae >= 0.0 && mx >= mae, s"budget $m: mae=$mae max=$mx")
      assert(mx <= 2.0, s"budget $m: |Δcos| can never exceed 2")
    }
    // a 4x dim budget must preserve cosine strictly better on average
    val byM = rows.map(r => r._1 -> r._3).toMap
    assert(byM(32L) < byM(8L),
      s"mae(32)=${byM(32L)} not below mae(8)=${byM(8L)}")
  }

  test("q151 data cards: entropy bounded by ln(n_langs), consistency laws") {
    import spark.implicits._
    val rows = run("q151_source_data_cards").collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total, "cards must partition the corpus")
    rows.foreach { r =>
      val (nDocs, ws, meanLen) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val (nShort, nDup, nLangs) = (r.getLong(4), r.getLong(5), r.getLong(6))
      val ent = r.getDouble(8)
      assert(nDocs > 0 && ws >= 0 && nShort >= 0 && nShort <= nDocs)
      assert(nDup >= 0 && nDup < nDocs)
      assert(math.abs(meanLen - ws.toDouble / nDocs) == 0.0)
      // Shannon bounds (fixed-point floor can only round DOWN, so the
      // upper bound ln(n_langs) holds exactly; >= -1e-6 absorbs -0.0)
      assert(ent >= -1e-6 && ent <= math.log(nLangs.toDouble) + 1e-9,
        s"entropy $ent outside [0, ln($nLangs)]")
      if (nLangs == 1) assert(ent == 0.0)
    }
  }

  test("cluster removal == rebuild on survivors; victims absent") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val labels = TextOps.dedupClustersCached(spark, sf0001)
    val edges = TextOps.dedupEdgesCached(spark, sf0001)
    val vic = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
    val removed = TextOps.removeFromClusters(labels, edges, vic)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // global rebuild over the survivor edge set — no touched-component
    // shortcut — must agree exactly
    val survEdges = edges
      .join(vic.select($"doc_id".as("u")), Seq("u"), "left_anti")
      .join(vic.select($"doc_id".as("v")), Seq("v"), "left_anti")
    val rebuilt = TextOps.unionFindCC(survEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(removed.nonEmpty && removed == rebuilt)
    val vicIds = vic.collect().map(_.getLong(0)).toSet
    assert(removed.forall { case (d, r) => !vicIds(d) && !vicIds(r) })
    // removing nothing is the identity
    val same = TextOps.removeFromClusters(labels, edges,
      docs.filter($"doc_id" < 0).select($"doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val orig = labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(same == orig)
  }

  test("cluster removal splits a component bridged by the victim") {
    import spark.implicits._
    // 1—2—5—9—10 is one component (rep 1) built from the true pair set;
    // removing bridge doc 5 must SPLIT it into {1,2} and {9,10} — the
    // case a star-edge (label-only) shortcut cannot express, because
    // 1—2 and 9—10 connectivity survives only in the original edges
    val edges = Seq((1L, 2L), (2L, 5L), (5L, 9L), (9L, 10L)).toDF("u", "v")
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 1L), (9L, 1L), (10L, 1L))
      .toDF("doc_id", "cluster_rep")
    val out = TextOps.removeFromClusters(labels, edges,
        Seq(5L).toDF("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (9L, 9L), (10L, 9L)))
    // and a victim whose every partner is removed leaves the labeling:
    // removing 9 and 10 from the split result drops them entirely
    val out2 = TextOps.removeFromClusters(labels, edges,
        Seq(5L, 9L, 10L).toDF("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out2 == Seq((1L, 1L), (2L, 1L)))
  }

  test("cluster removal: distributed CC branch handles the widened edge store") {
    import spark.implicits._
    // the ccluster artifact now persists jaccard alongside (u, v); the
    // distributed CC branch unions its input with a 2-column projection
    // POSITIONALLY, so removeFromClusters must narrow the store before
    // CC. Force the distributed branch (ccDriverMax = 0) on a wide
    // frame — without the narrowing this throws NUM_COLUMNS_MISMATCH
    val edges = Seq((1L, 2L, 0.9), (2L, 5L, 0.8), (5L, 9L, 0.7),
      (9L, 10L, 0.6)).toDF("u", "v", "jaccard")
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 1L), (9L, 1L), (10L, 1L))
      .toDF("doc_id", "cluster_rep")
    spark.conf.set("graft.text.ccDriverMax", "0")
    try {
      val out = TextOps.removeFromClusters(labels, edges,
          Seq(5L).toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(out == Seq((1L, 1L), (2L, 1L), (9L, 9L), (10L, 9L)))
    } finally spark.conf.unset("graft.text.ccDriverMax")
  }

  test("BPE pair artifact: each leg == the distributed per-round trainer (sf0.001)") {
    import spark.implicits._
    // the same word-count projection the shared bpewc artifact scans
    val wc = graft.sources.Tables.documents(spark, sf0001)
      .select(($"doc_id" % 10 < 8).as("stored"),
        explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(
        sum(when($"stored", 1L).otherwise(0L)).as("c_stored"),
        count(lit(1)).as("c_all"))
    // the driver-side pair fit (the cached path at this vocab size) must
    // be bit-identical to the unchanged distributed loop, per leg
    val distV1 = TextOps.trainBpeDistributed(
      wc.filter($"c_stored" > 0).select($"w", $"c_stored".as("c")), 48)
    val distV2 = TextOps.trainBpeDistributed(
      wc.select($"w", $"c_all".as("c")), 48)
    assert(TextOps.bpeMergesCachedV1(spark, sf0001) == distV1,
      "v1 (stored-split) leg diverged from the distributed trainer")
    assert(TextOps.bpeMergesCached(spark, sf0001) == distV2,
      "v2 (full-corpus) leg diverged from the distributed trainer")
    // and the two sequences genuinely diverge on this corpus — the
    // no-prefix-property fact that makes deriving v1 from v2's trace
    // impossible (the pair must be trained, not sliced)
    assert(distV1 != distV2)
  }

  test("cosineServe: null-component query drops; null-component neighbor skips (QuantizedCosine's rule)") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq[Option[Float]](Some(1.0f), Some(0.5f))),
      (2L, Seq[Option[Float]](Some(0.5f), Some(1.0f))),
      (3L, Seq[Option[Float]](Some(1.0f), None))) // null component
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>"))
    val queries = emb.filter($"vec_id" >= 2)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val got = VectorOps.cosineServe(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // query 3 (null component) emits NOTHING — dropped at collect, the
    // join form's all-pairs-null behavior; vector 3 never scores as a
    // neighbor either (the kernel's per-row null skip)
    assert(got == Seq((2L, 1L)))
  }

  test("kmeansFit releases every round's centroid_argmin registration") {
    def registered = spark.sessionState.functionRegistry.listFunction().toSet
    val before = registered
    val (assign, cents) = VectorOps.kmeansFit(
      graft.sources.Tables.embeddings(spark, sf0001), k = 4, rounds = 2)
    assert(assign.count() > 0 && cents.length == 4)
    assert(registered == before)
  }
}
