package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Law-level pins on the composed admission cascade ([[Admission]]) —
  * the StreamingSpec pins stream == batch end-to-end; these pin the
  * DECISION SEMANTICS themselves against independent machinery. */
class AdmissionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val comp = Admission.batchComposition(spark, sf0001)
  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("statuses partition every arrival; engineered CDC rows classify") {
    val (b0, dec0) = comp(0)
    assert(dec0.count() == b0.count(), "one decision per arrival")
    assert(dec0.groupBy($"doc_id").count().filter($"count" > 1).count() == 0,
      "decision per doc_id is unique")
    // engineered rows: stored %50==0 arrived byte-identical, %50==1
    // arrived with ' zz' appended
    val redel = dec0.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 0)
    assert(redel.count() > 0 &&
      redel.filter($"status" =!= "redelivered").count() == 0)
    val revis = dec0.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 1)
    assert(revis.count() > 0 &&
      revis.filter($"status" =!= "revised").count() == 0)
    // every genuinely-new arrival lands in exactly one later stage
    val newStatuses = dec0.filter($"doc_id" % 10 === 8)
      .select($"status").distinct().as[String].collect().toSet
    assert(newStatuses.subsetOf(Set("quality_rejected", "contaminated",
      "exact_dup", "near_dup", "embed_dup", "admitted")))
  }

  test("admitted docs are hash-new vs the store and hash-unique in batch") {
    val storedH = docs.filter($"doc_id" % 10 < 8)
      .select(md5(coalesce($"text", lit(""))).as("h")).distinct()
    comp.foreach { case (b, dec) =>
      val admH = Admission.normalize(b)
        .join(dec.filter($"status" === "admitted").select($"doc_id"),
          Seq("doc_id"), "left_semi")
        .select(md5(coalesce($"text", lit(""))).as("h"))
      assert(admH.join(storedH, Seq("h"), "left_semi").count() == 0,
        "admitted content hash already in the stored corpus")
      assert(admH.groupBy($"h").count().filter($"count" > 1).count() == 0,
        "two admitted docs in one batch share a content hash")
    }
  }

  test("near-dup verdicts agree with a brute-force jaccard check") {
    // independent machinery: ALL (arrival x stored) pairs verified by
    // exact jaccard — a near_dup rejection must have a >= 0.5 partner
    // in the state it probed; an admitted doc must have none
    val (b0, dec0) = comp(0)
    val sh = TextOps.shingleDocs(docs.select($"doc_id", $"text"))
      .localCheckpoint()
    val newIds = dec0.filter($"doc_id" % 10 === 8).select($"doc_id")
    val cand = newIds.select($"doc_id".as("i"))
      .crossJoin(docs.filter($"doc_id" % 10 < 8).select($"doc_id".as("j")))
    val bf = TextOps.verifyPairs(cand, sh, 0.5)
      .select($"i".as("doc_id")).distinct()
    val ndRejected = dec0.filter($"status" === "near_dup").select($"doc_id")
    assert(ndRejected.join(bf, Seq("doc_id"), "left_anti").count() == 0,
      "near_dup rejection without a brute-force >= 0.5 stored partner")
    val admitted = dec0.filter($"status" === "admitted").select($"doc_id")
    assert(admitted.join(bf, Seq("doc_id"), "left_semi").count() == 0,
      "admitted doc has a brute-force >= 0.5 stored partner")
  }

  test("contamination verdicts match the standalone q179-style screens") {
    val (b0, dec0) = comp(0)
    def isEval(c: org.apache.spark.sql.Column) = c % 29 === 0 && c < 5300L
    // exact leg recomputed independently: shared distinct shingles with
    // the eval content
    val sh = TextOps.shingleDocs(docs.select($"doc_id", $"text"))
    val evalH = sh.filter(isEval($"doc_id"))
      .select(explode($"hs").as("h")).distinct()
    val exactFlag = sh.select($"doc_id", explode($"hs").as("h"))
      .join(evalH, Seq("h"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .filter($"n" >= 8).select($"doc_id")
    // every exact-leg hit among quality-pass batch-0 docs must be
    // terminal-flagged contaminated (the cascade puts decon before
    // the dedup stages)
    val qPassIds = dec0.filter($"status".isin("contaminated", "exact_dup",
      "near_dup", "embed_dup", "admitted")).select($"doc_id")
    val mustFlag = qPassIds.join(exactFlag, Seq("doc_id"), "left_semi")
    val contaminated = dec0.filter($"status" === "contaminated")
      .select($"doc_id")
    assert(mustFlag.join(contaminated, Seq("doc_id"), "left_anti")
      .count() == 0, "exact-leg contamination not flagged")
  }

  private def tab(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("compactState == rebuild-on-survivors across every store family") {
    import graft.streaming.Pipeline
    val state = tmpDir("adm_compact")
    Admission.seedState(spark, sf0001, state)
    // an arbitrary victim set spanning the stored split
    val vic = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 13 === 2)
      .select($"doc_id")
    assert(vic.count() > 0)
    vic.write.mode("overwrite").parquet(s"$state/tombstones/batch=0")
    Pipeline.compactAdmissionState(spark, state)
    // ledger drained
    assert(Pipeline.readTombstoneLedger(spark, s"$state/tombstones")
      .count() == 0, "compaction must drain the ledger")
    val surv = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 13 =!= 2)
      .select($"doc_id", coalesce($"source", lit("")).as("source"),
        $"lang", $"text").localCheckpoint()
    // corpus + hashes == survivors
    assert(tab(spark.read.parquet(s"$state/corpus").drop("batch")) ==
      tab(surv), "compacted corpus")
    assert(tab(spark.read.parquet(s"$state/hashes").drop("batch")) ==
      tab(surv.select($"doc_id", $"source",
        md5(coalesce($"text", lit(""))).as("h"),
        TextOps.nwOf($"text").as("nw"))), "compacted hashes")
    // minhash == fresh build over survivors
    val freshSh = TextOps.shingleDocs(surv.select($"doc_id", $"text"))
      .localCheckpoint()
    assert(tab(spark.read.parquet(s"$state/minhash/shingles")
      .select($"doc_id", $"n", $"hs")) ==
      tab(freshSh.select($"doc_id", $"n", $"hs")), "compacted shingles")
    assert(tab(spark.read.parquet(s"$state/minhash/bands")
      .select($"doc_id", $"band", $"bh")) ==
      tab(TextOps.bandsOf(freshSh)), "compacted bands")
    // IVF == frozen-centroid assignment over surviving vectors
    val cents = spark.read.parquet(s"$state/vec/centroids")
    val expVecs = VectorOps.assignCells(
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" % 10 < 8 && $"vec_id" % 13 =!= 2)
          .select($"vec_id", $"embedding"), cents)
      .select($"vec_id", $"cell", $"embedding")
    assert(tab(spark.read.parquet(s"$state/vec/vectors")
      .select($"vec_id", $"cell", $"embedding")) == tab(expVecs),
      "compacted ivf vectors")
    // BM25 serving == rebuild over survivors
    val served = Admission.servedBm25(spark, state)
    def postRows(p: org.apache.spark.sql.DataFrame) = tab(p
      .select($"doc_id", $"len", explode(arrays_zip($"hs", $"tfs")).as("z"))
      .select($"doc_id", $"len", $"z.hs", $"z.tfs"))
    val freshPost = TextOps.bm25RawPostings(surv.select($"doc_id", $"text"))
      .localCheckpoint()
    assert(postRows(served("postings")) == postRows(freshPost),
      "compacted bm25 postings")
    assert(tab(served("df")) == tab(TextOps.bm25DfOf(freshPost)),
      "compacted bm25 df")
    val (n, sumLen) = TextOps.bm25TotalsOf(freshPost)
    assert(served.totals == Map("n" -> n, "sum_len" -> sumLen), "compacted bm25 totals")
    // card serving == rebuild over survivors
    assert(tab(TextOps.cardsOfStore(Admission.servedCardStore(spark, state))) ==
      tab(TextOps.cardsOfStore(TextOps.cardStoreOf(
        surv.select($"source", $"lang", $"text")))), "compacted cards")
    // idempotence: re-folding the SAME victims changes nothing (the
    // compactTombstones crash rule — stale tombstones re-apply as no-ops)
    val before = (tab(spark.read.parquet(s"$state/hashes").drop("batch")),
      tab(spark.read.parquet(s"$state/minhash/bands").drop("batch")))
    Admission.compactState(spark, state, vic)
    assert(before == (tab(spark.read.parquet(s"$state/hashes").drop("batch")),
      tab(spark.read.parquet(s"$state/minhash/bands").drop("batch"))),
      "re-applying folded victims must be a no-op")
  }

  test("revision lifecycle: tombstone fold + re-admission laws (q181 core)") {
    val state = tmpDir("adm_revise")
    val (dec0, dec1) = Admission.revisionComposition(spark, sf0001, state)
    val rev = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 1)
    assert(rev.count() > 0)
    // batch 0: every arrival is a revision, nothing else
    assert(dec0.count() == rev.count())
    assert(dec0.filter($"status" =!= "revised").count() == 0)
    // the ledger was drained by the compaction
    assert(graft.streaming.Pipeline.readTombstoneLedger(
      spark, s"$state/tombstones").count() == 0)
    // batch 1: every re-arrival decides as a FRESH doc (no CDC verdicts)
    assert(dec1.count() == rev.count())
    assert(dec1.filter($"status".isin("redelivered", "revised")).count() == 0)
    // end state: hashes store == survivors(original) ∪ admitted(modified)
    val survRows = docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 =!= 1)
      .select($"doc_id", coalesce($"source", lit("")).as("source"),
        md5(coalesce($"text", lit(""))).as("h"), TextOps.nwOf($"text").as("nw"))
    val admRows = dec1.filter($"status" === "admitted")
      .select($"doc_id", $"source", $"h", $"nw")
    assert(tab(spark.read.parquet(s"$state/hashes").drop("batch")) ==
      tab(survRows.unionByName(admRows)), "final hashes store")
    // no old version survives: a revised doc's (id, ORIGINAL hash) pair
    // is gone from the store — its id reappears only if re-admitted,
    // and then under the new content's hash. (Pair-keyed, not hash-
    // keyed: an unrevised exact TWIN of a revised doc legitimately
    // keeps the same content hash under its own id.)
    val oldPairs = rev.select($"doc_id",
      md5(coalesce($"text", lit(""))).as("h"))
    assert(spark.read.parquet(s"$state/hashes").select($"doc_id", $"h")
      .join(oldPairs, Seq("doc_id", "h"), "left_semi").count() == 0,
      "an old revision (id, hash) survived the fold")
  }
}
