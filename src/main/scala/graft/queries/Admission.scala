package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.Tables

/** The COMPOSED ADMISSION PIPELINE — the single wired path a curation
  * user actually runs, assembled from the individually spec-pinned and
  * hash-oracled gates (VERDICT r11 "Next round" #1):
  *
  * arriving batch
  *   → CDC classification            (q174's snapshot-diff core against
  *                                    the maintained (doc_id, md5) store)
  *   → quality gate                  (q102's weak-supervised NB margin)
  *   → three-screen decontamination  (q179's stack: exact n-gram /
  *                                    near-dup / semantic, eval-bounded)
  *   → exact-dup admission           (q95's content-hash screen +
  *                                    within-batch first-wins)
  *   → lexical near-dup admission    (q82's MinHash-index probe)
  *   → embedding near-dup admission  (q83's IVF-index probe)
  *   → store + artifact appends      (corpus, hash store, MinHash index,
  *                                    IVF vectors, BM25 raw, card store —
  *                                    the q137/q161/q82/q83 append laws)
  *
  * Every stage is the SHARED function its standalone gate/query uses —
  * composition adds sequencing and policy, never a re-implementation, so
  * a document's verdict here equals its verdict under the standalone
  * gate by construction. The cascade (cheap screens first, index probes
  * last) is the 100 TB cost shape: each stage's input is the previous
  * stage's survivors, and every probe is batch-broadcast against
  * in-place artifact scans.
  *
  * Policy (documented contracts, pinned by the oracle + StreamingSpec):
  *  - CDC: only brand-NEW doc_ids proceed; byte-identical re-deliveries
  *    are dropped, content revisions are flagged (`revised`) but NOT
  *    admitted — a revision is takedown + re-admission: the flagged
  *    doc_id enters the state's tombstone ledger (q159's format,
  *    written by the streaming pipeline's revised leg), an operator-
  *    scheduled compaction ([[compactState]] via [[graft.streaming
  *    .Pipeline.compactAdmissionState]]) folds it out of every store,
  *    and the new content re-enters admission as a fresh arrival —
  *    the full composition is the driver-gated lifecycle row q181.
  *  - Quality: NB margin must be strictly positive (q102's nb_keep).
  *  - Decontamination flags reject; the three screens run on
  *    quality-pass docs only (cascade), each eval-bounded.
  *  - Exact dup: content hash present in the maintained store, OR a
  *    smaller doc_id in the SAME batch carries the same hash
  *    (first-wins, deterministic).
  *  - Near-dup (lexical): verified word-3-gram Jaccard ≥ 0.5 against
  *    the maintained MinHash index (stored ∪ previously admitted).
  *    Near-dup pairs arriving WITHIN one batch are both admitted — the
  *    periodic q18 sweep / q135 re-cluster catches them; screening the
  *    batch against itself per micro-batch would be quadratic in dup
  *    storms for a case the maintenance pass already owns.
  *  - Embedding near-dup: exact quantized cosine ≥ 0.4 within the
  *    arriving vector's frozen-quantizer IVF cell (q83's SemDeDup
  *    contract). Docs without an embedding skip this leg and the
  *    semantic decon leg (they were still lexically screened).
  *  - langid is ANNOTATION, not a filter (the langid gate's confusion
  *    view q100 monitors it); data-card flags are per-(batch, source)
  *    operator alerts, not row filters.
  */
object Admission {

  private def isEval(c: Column): Column = c % 29 === 0 && c < 5300L

  /** Static screens and models, built/loaded ONCE (stream start or
    * query entry): all eval-bounded or vocabulary-bounded. */
  private[graft] case class Screens(
      evalShingles: DataFrame, // (sh) — distinct eval shingle hashes
      evalIdx: TextOps.MinHashIndex, // eval docs' band index (≤183 docs)
      evalEmb: DataFrame, // (eval_id, q_emb) — eval embeddings
      quality: LangId.NbModel,
      langid: LangId.NbModel)

  private[graft] def screens(s: SparkSession, corpusDir: String): Screens = {
    import s.implicits._
    // eval-bounded artifacts persist per JVM (IndexCache): bench reps,
    // the stream and the batch composition share ONE build
    val p = IndexCache.artifact("admeval", corpusDir) { path =>
      val evalDocs = Tables.documents(s, corpusDir)
        .filter(isEval($"doc_id")).select($"doc_id", $"text")
      val sh = TextOps.shingleDocs(evalDocs).persist()
      try {
        sh.select($"doc_id", $"n", $"hs")
          .write.mode("overwrite").parquet(s"$path/shingles")
        TextOps.bandsOf(sh)
          .write.mode("overwrite").parquet(s"$path/bands")
        sh.select(explode($"hs").as("sh")).distinct()
          .write.mode("overwrite").parquet(s"$path/evsh")
      } finally sh.unpersist()
      Tables.embeddings(s, corpusDir).filter(isEval($"vec_id"))
        .select($"vec_id".as("eval_id"), $"embedding".as("q_emb"))
        .write.mode("overwrite").parquet(s"$path/emb")
    }
    Screens(
      evalShingles = Tables.parquet(s, s"$p/evsh"),
      evalIdx = TextOps.MinHashIndex(
        bands = Tables.parquet(s, s"$p/bands"),
        shingles = Tables.parquet(s, s"$p/shingles")),
      evalEmb = Tables.parquet(s, s"$p/emb"),
      quality = LangId.qualityModelCached(s, corpusDir),
      langid = LangId.langIdModelCached(s, corpusDir))
  }

  /** The stored split's (doc_id, h) content-hash projection, persisted
    * per JVM — the maintained exact-dedup artifact the CDC and
    * exact-dup stages probe (q95's store shape). */
  private[graft] def storedHashesCached(s: SparkSession,
      corpusDir: String): DataFrame = {
    import s.implicits._
    val p = IndexCache.artifact("admhash", corpusDir) { path =>
      Tables.documents(s, corpusDir).filter($"doc_id" % 10 < 8)
        .select($"doc_id", md5(coalesce($"text", lit(""))).as("h"))
        .write.mode("overwrite").parquet(path)
    }
    Tables.parquet(s, p)
  }

  /** The mutable serving state a decision needs: the content-hash store
    * and the two dedup indexes (lexical + vector), each maintained by
    * [[appendAdmitted]] / grown functionally by the batch composition. */
  private[graft] case class DedupState(
      hashes: DataFrame, // (doc_id, h) — one row per stored/admitted doc
      idx: TextOps.MinHashIndex,
      vecIdx: VectorOps.VecDedupIndex)

  /** Normalize an arriving frame to the admission wire shape
    * (doc_id, source, lang, text, embedding). Text coalesces to '' HERE —
    * the single entry point — so a null-text wire record gets a decision
    * row under exactly [[decide]]'s semantics on both the streaming and
    * batch paths (the stream used to drop null texts at the source, which
    * made stream == batch parity data-dependent rather than structural). */
  private[graft] def normalize(batch: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    batch.select($"doc_id", coalesce($"source", lit("")).as("source"),
      $"lang", coalesce($"text", lit("")).as("text"), $"embedding")
  }

  /** The per-batch decision core — one row per arriving document with
    * its terminal status under the cascade. Shared VERBATIM by the
    * streaming pipeline ([[graft.streaming.Pipeline
    * .runAdmissionPipeline]]) and the batch composition (q180), so
    * stream == batch is structural. Returns
    * (doc_id, source, h, nw, margin_fp, lang_pred, status),
    * materialized (bounded: batch-sized).
    */
  private[graft] def decide(batch0: DataFrame, st: DedupState,
      sc: Screens): DataFrame = {
    val s = batch0.sparkSession
    import s.implicits._
    val b = normalize(batch0)
      .withColumn("h", md5(coalesce($"text", lit(""))))
      .withColumn("nw", TextOps.nwOf($"text"))
      .localCheckpoint()
    // annotation: langid verdict for EVERY arriving doc (q100's scorer)
    val lp = LangId.langIdScoreDocs(b.select($"doc_id", $"text"), sc.langid)
      .select($"doc_id", $"lang_pred")
    // CDC — q174's orientation: batch keys probe the maintained store
    val cdc = b.join(
      st.hashes.select($"doc_id", $"h".as("h_stored")), Seq("doc_id"), "left")
    val newDocs = cdc.filter($"h_stored".isNull)
      .select($"doc_id", $"source", $"lang", $"text", $"embedding", $"h", $"nw")
    // quality — q102's NB margin on the new docs
    // materialized: every downstream stage filters through qPass, and
    // without the checkpoint each would re-run the NB scoring pass
    val qm = LangId.langIdScoresAll(newDocs.select($"doc_id", $"text"), sc.quality)
      .groupBy($"doc_id")
      .agg(max(when($"lang" === "keep", $"score_fp")).as("s_keep"),
        max(when($"lang" === "drop", $"score_fp")).as("s_drop"))
      .select($"doc_id", ($"s_keep" - $"s_drop").as("margin_fp"))
      .localCheckpoint()
    val qPass = newDocs.join(qm.filter($"margin_fp" > 0),
      Seq("doc_id"), "left_semi")
    // decontamination — q179's three screens, eval-bounded, on the
    // quality-pass survivors
    val shQ = TextOps.shingleDocs(qPass.select($"doc_id", $"text"))
    val fExact = shQ.select($"doc_id", explode($"hs").as("sh"))
      .join(sc.evalShingles, Seq("sh"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 8).select($"doc_id")
    val fNd = TextOps.dedupAgainstIndex(
        qPass.select($"doc_id", $"text"), sc.evalIdx, 0.5)
      .select($"new_doc_id".as("doc_id")).distinct()
    val fSem = qPass.filter($"embedding".isNotNull)
      .select($"doc_id", $"embedding")
      .crossJoin(broadcast(sc.evalEmb))
      .filter(graft.functions.expressions
        .quantized_cosine($"q_emb", $"embedding") >= 0.4)
      .select($"doc_id").distinct()
    val contaminated = fExact.unionByName(fNd).unionByName(fSem).distinct()
      .localCheckpoint()
    val clean = qPass.join(contaminated, Seq("doc_id"), "left_anti")
    // exact dup — q95's hash screen + within-batch first-wins
    val dupVsStore = clean
      .join(st.hashes.select($"h").distinct(), Seq("h"), "left_semi")
      .select($"doc_id")
    val dupInBatch = clean
      .withColumn("rn",
        row_number().over(Window.partitionBy($"h").orderBy($"doc_id")))
      .filter($"rn" > 1).select($"doc_id")
    val exactDup = dupVsStore.unionByName(dupInBatch).distinct()
      .localCheckpoint()
    val s4 = clean.join(exactDup, Seq("doc_id"), "left_anti")
    // lexical near-dup — q82's index probe
    val ndAdm = TextOps.dedupAgainstIndex(
        s4.select($"doc_id", $"text"), st.idx, 0.5)
      .select($"new_doc_id".as("doc_id")).distinct()
    val s5 = s4.join(ndAdm, Seq("doc_id"), "left_anti")
    // embedding near-dup — q83's IVF probe on the remaining survivors
    val embDup = VectorOps.dedupVecAgainstIndex(
        s5.filter($"embedding".isNotNull)
          .select($"doc_id".as("vec_id"), $"embedding"), st.vecIdx, 0.4)
      .select($"new_vec_id".as("doc_id")).distinct()
    cdc
      .join(qm, Seq("doc_id"), "left")
      .join(contaminated.withColumn("f_cont", lit(1)), Seq("doc_id"), "left")
      .join(exactDup.withColumn("f_xdup", lit(1)), Seq("doc_id"), "left")
      .join(ndAdm.withColumn("f_nd", lit(1)), Seq("doc_id"), "left")
      .join(embDup.withColumn("f_emb", lit(1)), Seq("doc_id"), "left")
      .join(lp, Seq("doc_id"), "left")
      .withColumn("status",
        when($"h_stored".isNotNull && $"h" === $"h_stored", "redelivered")
          .when($"h_stored".isNotNull, "revised")
          .when($"margin_fp".isNull || $"margin_fp" <= 0, "quality_rejected")
          .when($"f_cont" === 1, "contaminated")
          .when($"f_xdup" === 1, "exact_dup")
          .when($"f_nd" === 1, "near_dup")
          .when($"f_emb" === 1, "embed_dup")
          .otherwise("admitted"))
      .select($"doc_id", $"source", $"h", $"nw", $"margin_fp", $"lang_pred",
        $"status")
      .localCheckpoint()
  }

  // ------------------------------------------------------------------
  // On-disk state for the STREAMING pipeline. Every table lives under
  // batch=<id> partitions (the seed is batch=-1), written with
  // mode("overwrite") into the batch's OWN directory — a replayed
  // micro-batch rewrites its own partition, so every store is
  // idempotent under crash-replay (the family-wide batchId rule).
  // Serving reads the partition-discovered union lazily; the additive
  // stores (raw BM25, cards) are each batch's delta, saved with
  // Additive.save under its batch=<id> part, and serve as the merge of
  // their load — row-identical to merging batch by batch because every
  // store is count-additive over disjoint doc sets.
  // ------------------------------------------------------------------

  private[graft] def seedMarker(stateDir: String) =
    java.nio.file.Paths.get(stateDir, "_seeded")

  /** Seed the state root from the stored split (doc_id % 10 < 8 — the
    * q82/q95/q137 admission convention) of `corpusDir`. Idempotent: a
    * `_seeded` marker skips re-seeding. The MinHash / IVF artifacts are
    * copied from the per-JVM caches (same content as building fresh —
    * QueriesSpec pins load == build). */
  private[graft] def seedState(s: SparkSession, corpusDir: String,
      stateDir: String): Unit = {
    import s.implicits._
    if (java.nio.file.Files.exists(seedMarker(stateDir))) return
    val stored = Tables.documents(s, corpusDir)
      .filter($"doc_id" % 10 < 8)
      .select($"doc_id", coalesce($"source", lit("")).as("source"),
        $"lang", $"text")
      .withColumn("h", md5(coalesce($"text", lit(""))))
      .withColumn("nw", TextOps.nwOf($"text"))
    writeDocStores(stateDir, "-1", stored)
    val mh = TextOps.minHashIndexCached(s, corpusDir)
    mh.bands.write.mode("overwrite")
      .parquet(s"$stateDir/minhash/bands/batch=-1")
    mh.shingles.write.mode("overwrite")
      .parquet(s"$stateDir/minhash/shingles/batch=-1")
    val vi = VectorOps.vecDedupIndexCached(s, corpusDir)
    vi.centroids.write.mode("overwrite").parquet(s"$stateDir/vec/centroids")
    vi.vectors.select($"vec_id", $"cell", $"embedding")
      .write.mode("overwrite").parquet(s"$stateDir/vec/vectors/batch=-1")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.createFile(seedMarker(stateDir))
  }

  /** The stores derivable from plain (doc_id, source, lang, text, h, nw)
    * rows — shared by the seed and every admitted-batch append so the
    * two can never drift in schema. */
  private def writeDocStores(stateDir: String, batchId: String,
      docs: DataFrame): Unit = {
    import docs.sparkSession.implicits._
    // batch-bounded independent writes, launched concurrently (the
    // compactState rule)
    Sinks.concurrently(
      () => docs.select($"doc_id", $"source", $"lang", $"text")
        .write.mode("overwrite").parquet(s"$stateDir/corpus/batch=$batchId"),
      () => docs.select($"doc_id", $"source", $"h", $"nw")
        .write.mode("overwrite").parquet(s"$stateDir/hashes/batch=$batchId"),
      () => Additive.save(TextOps.Bm25Raw.deltaOf(docs.select($"doc_id", $"text")),
        s"$stateDir/bm25", s"batch=$batchId"),
      () => Additive.save(TextOps.cardStoreOf(docs.select($"source", $"lang", $"text")),
        s"$stateDir/cards", s"batch=$batchId"))
  }

  /** Append an ADMITTED batch (doc_id, source, lang, text, embedding)
    * to every store — cost ∝ batch, stored rows untouched, idempotent
    * under replay (own-partition overwrite). */
  private[graft] def appendAdmitted(s: SparkSession, stateDir: String,
      batchId: Long, admitted: DataFrame): Unit = {
    import s.implicits._
    val a = admitted
      .withColumn("h", md5(coalesce($"text", lit(""))))
      .withColumn("nw", TextOps.nwOf($"text"))
      .localCheckpoint()
    val fresh = TextOps.shingleDocs(a.select($"doc_id", $"text"))
      .localCheckpoint()
    Sinks.concurrently(
      () => writeDocStores(stateDir, batchId.toString, a),
      () => TextOps.bandsOf(fresh).write.mode("overwrite")
        .parquet(s"$stateDir/minhash/bands/batch=$batchId"),
      () => fresh.select($"doc_id", $"n", $"hs").write.mode("overwrite")
        .parquet(s"$stateDir/minhash/shingles/batch=$batchId"),
      // IVF vectors: assign under the FROZEN seed quantizer (q83's
      // append contract)
      () => VectorOps.assignCells(
          a.filter($"embedding".isNotNull)
            .select($"doc_id".as("vec_id"), $"embedding"),
          Tables.parquet(s, s"$stateDir/vec/centroids"))
        .select($"vec_id", $"cell", $"embedding")
        .write.mode("overwrite")
        .parquet(s"$stateDir/vec/vectors/batch=$batchId"))
  }

  /** The seeded state as a per-JVM IndexCache ARTIFACT: the maintained
    * deployment state that exists before any arrival — corpus, hashes,
    * MinHash, IVF, BM25, cards over the stored split. Build cost lands
    * in the priced artifact bill (Bench's train/serve split), exactly
    * like bm25RawCached for q159; lifecycle queries CLONE it instead of
    * re-materializing six store families per run. */
  private[graft] def seededStateCached(s: SparkSession, d: String): String =
    IndexCache.artifact("admstate", d) { path =>
      seedState(s, d, path)
    }

  /** Clone the cached seeded state into `stateDir` via HARD LINKS —
    * O(files) metadata ops, no data copied. Safe because every mutation
    * of a state dir is create-new-file or delete-dir (parquet parts are
    * immutable; compaction unlinks and renames) — a linked byte is
    * never modified in place, so the cached master stays pristine.
    * Falls back to a real copy when the link crosses filesystems.
    * Idempotent via the `_seeded` marker, like [[seedState]]. */
  private[graft] def cloneSeededState(s: SparkSession, d: String,
      stateDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(seedMarker(stateDir))) return
    val src = java.nio.file.Paths.get(seededStateCached(s, d))
    val dst = java.nio.file.Paths.get(stateDir)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      // the _seeded marker is NOT linked during the walk: a crash
      // mid-clone must not leave a partial tree that the idempotency
      // check above treats as complete — the marker is created LAST,
      // exactly seedState's rule (ADVICE r13)
      else if (p.getFileName.toString != "_seeded" &&
          !java.nio.file.Files.exists(t))
        try java.nio.file.Files.createLink(t, p)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            java.nio.file.Files.copy(p, t)
        }
    }
    java.nio.file.Files.createFile(seedMarker(stateDir))
  }

  /** COMPACTION FOLD for the admission stores — the artifact-specific
    * leg [[graft.streaming.Pipeline.compactTombstones]] calls with the
    * accumulated tombstone set (the q159 contract applied to the WHOLE
    * store family): every doc-keyed store masks its victims and
    * rewrites as a fresh consolidated `batch=-1` partition; the
    * count-additive artifacts (BM25 df/totals, card store) RECOMPUTE
    * from the masked postings/corpus — definitionally the
    * rebuild-on-survivors, so post-compaction serving is exact by
    * construction (AdmissionSpec pins it against seedState over the
    * survivor corpus). Idempotent: re-applying the same victims
    * anti-joins nothing (the compactTombstones crash rule), and each
    * swap materializes (localCheckpoint) BEFORE deleting the partitions
    * it read. Cost: one store rewrite, amortized over every tombstone
    * batch the ledger folded — never per takedown/revision.
    *
    * Operator contract (like q159's): run with the admission stream
    * STOPPED at a checkpointed boundary — folding `batch=N` partitions
    * into `batch=-1` forfeits [[readPart]]'s own-batch exclusion for
    * any batch that had appended but not committed. */
  private[graft] def compactState(s: SparkSession, stateDir: String,
      victims: DataFrame): Unit = {
    import s.implicits._
    val vic = victims.select($"doc_id").distinct().localCheckpoint()
    val vicVec = vic.select($"doc_id".as("vec_id"))
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // write-once swap: the masked fold lands in an underscore-prefixed
    // sibling (invisible to partition discovery, so the fold can read
    // the old partitions while writing), then the old partitions drop
    // and the fold RENAMES in as the consolidated batch=-1 — one
    // materialization instead of localCheckpoint + write, and the store
    // is never in a state where a crash loses both copies
    val tmp = "_compact_tmp"
    def commit(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (fs.exists(p))
        fs.listStatus(p)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
          .foreach(st => fs.delete(st.getPath, true))
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$tmp"),
        new org.apache.hadoop.fs.Path(s"$dir/batch=-1"))
    }
    def swap(dir: String)(masked: DataFrame): Unit = {
      masked.write.mode("overwrite").parquet(s"$dir/$tmp")
      commit(dir)
    }
    // an additive store is REBUILT from its survivors (the rebuild each
    // serve must equal), saved under the tmp part, then swapped table by
    // table
    def rebuild(dir: String)(st: Additive.Store): Unit = {
      Additive.save(st, dir, tmp)
      st.family.dirs.foreach(n => commit(s"$dir/$n"))
    }
    // the per-family folds are INDEPENDENT Spark jobs over small frames
    // (each swap is one anti-join + one partition write) — run them
    // concurrently so the compaction wall is the slowest family, not
    // the sum of their job launches. Only one ordering is real: cards
    // read the NEWLY compacted corpus.
    Sinks.concurrently(
      () => swap(s"$stateDir/corpus")(
        readPart(s, s"$stateDir/corpus")
          .select($"doc_id", $"source", $"lang", $"text")
          .join(vic, Seq("doc_id"), "left_anti")),
      () => swap(s"$stateDir/hashes")(
        readPart(s, s"$stateDir/hashes")
          .select($"doc_id", $"source", $"h", $"nw")
          .join(vic, Seq("doc_id"), "left_anti")),
      () => swap(s"$stateDir/minhash/bands")(
        readPart(s, s"$stateDir/minhash/bands")
          .select($"doc_id", $"band", $"bh")
          .join(vic, Seq("doc_id"), "left_anti")),
      () => swap(s"$stateDir/minhash/shingles")(
        readPart(s, s"$stateDir/minhash/shingles")
          .select($"doc_id", $"n", $"hs")
          .join(vic, Seq("doc_id"), "left_anti")),
      () => swap(s"$stateDir/vec/vectors")(
        readPart(s, s"$stateDir/vec/vectors")
          .select($"vec_id", $"cell", $"embedding")
          .join(vicVec, Seq("vec_id"), "left_anti")),
      // BM25: df/totals RECOMPUTED from the masked postings
      () => rebuild(s"$stateDir/bm25")(TextOps.Bm25Raw.project(Map(
        "postings" -> readPart(s, s"$stateDir/bm25/postings")
          .join(vic, Seq("doc_id"), "left_anti")))))
    // cards: recomputed from the NEWLY compacted corpus store
    rebuild(s"$stateDir/cards")(TextOps.cardStoreOf(
      Tables.parquet(s, s"$stateDir/corpus/batch=-1")
        .select($"source", $"lang", $"text")))
  }

  /** Read a batch-partitioned store, keeping only partitions BEFORE
    * `before` (when given). This is the crash-replay guard: a
    * micro-batch that crashed AFTER its appends landed but BEFORE the
    * checkpoint commit is replayed under the same batchId — if its
    * decision read saw its OWN partitions, its documents would
    * classify as already-stored (`redelivered`), the replay would
    * overwrite the decisions with rejections and the appends with
    * empty partitions, losing the batch. Excluding `batch >= before`
    * makes the state a batch sees a pure function of the PRIOR
    * batches, so a replay reproduces the original decisions and
    * appends bit-identically (StreamingSpec simulates the torn commit
    * by deleting the checkpoint's commit marker). */
  private def readPart(s: SparkSession, dir: String,
      before: Option[Long] = None): DataFrame = {
    val df = Tables.parquet(s, dir)
    before.fold(df)(b => df.filter(col("batch") < b)).drop("batch")
  }

  /** The decision-serving state over the partition-discovered union —
    * lazy frames. `before` (the current batchId on the streaming path)
    * excludes this batch's own partially-written partitions, see
    * [[readPart]]. */
  private[graft] def readDedupState(s: SparkSession, stateDir: String,
      before: Option[Long] = None): DedupState = {
    import s.implicits._
    DedupState(
      hashes = readPart(s, s"$stateDir/hashes", before)
        .select($"doc_id", $"h"),
      idx = TextOps.MinHashIndex(
        bands = readPart(s, s"$stateDir/minhash/bands", before)
          .select($"doc_id", $"band", $"bh"),
        shingles = readPart(s, s"$stateDir/minhash/shingles", before)
          .select($"doc_id", $"n", $"hs")),
      vecIdx = VectorOps.VecDedupIndex(
        centroids = readPart(s, s"$stateDir/vec/centroids"),
        vectors = readPart(s, s"$stateDir/vec/vectors", before)
          .select($"vec_id", $"cell", $"embedding")))
  }

  /** Serve a maintained additive store: the merge of the per-batch
    * deltas [[writeDocStores]] saved (q161's and q137's append laws),
    * before `before` when given ([[readPart]]). */
  private[graft] def servedCardStore(s: SparkSession, stateDir: String,
      before: Option[Long] = None): TextOps.CardStore =
    Additive.merge(Additive.load(TextOps.CardStore, s"$stateDir/cards",
      readPart(s, _, before)))

  private[graft] def servedBm25(s: SparkSession, stateDir: String): TextOps.Bm25Raw =
    Additive.merge(Additive.load(TextOps.Bm25Raw, s"$stateDir/bm25", readPart(s, _)))

  // ------------------------------------------------------------------
  // Q180 — the composed lifecycle as ONE driver-gated row set (the
  // q159 style): the full cascade run as a two-batch BATCH composition
  // over a deterministic arrival fixture, every stage pinned by a
  // from-scratch DuckDB replay of the whole stack.
  // ------------------------------------------------------------------

  /** Arrival fixture (deterministic at every SF):
    *  - stored corpus = the doc_id % 10 < 8 split;
    *  - batch 0 = the % 10 == 8 docs (new), PLUS engineered CDC rows
    *    from the stored corpus: % 50 == 0 redelivered byte-identical,
    *    % 50 == 1 redelivered with `' zz'` appended (content revision);
    *  - batch 1 = the % 10 == 9 docs (new) — screened against
    *    stored ∪ batch-0 admissions, so the SEQUENTIAL composition is
    *    what the oracle checks (a batch-1 doc near-dupping a batch-0
    *    admission must reject).
    * Embeddings ride along by doc_id ≡ vec_id where present. */
  private[graft] def fixtureBatches(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", $"lang", $"text")
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    def withEmb(df: DataFrame) = df
      .join(emb, df("doc_id") === emb("vec_id"), "left").drop("vec_id")
    val b0 = docs.filter($"doc_id" % 10 === 8)
      .unionByName(docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 0))
      .unionByName(docs.filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 1)
        .withColumn("text", concat(coalesce($"text", lit("")), lit(" zz"))))
    val b1 = docs.filter($"doc_id" % 10 === 9)
    (withEmb(b0), withEmb(b1))
  }

  private val statuses = Seq("redelivered", "revised", "quality_rejected",
    "contaminated", "exact_dup", "near_dup", "embed_dup", "admitted")

  private def summarize(dec: DataFrame): DataFrame = {
    import dec.sparkSession.implicits._
    val counts = statuses.map(st =>
      sum(when($"status" === st, 1L).otherwise(0L)).as(s"n_$st")) :+
      sum(when($"status" === "admitted", $"nw").otherwise(0L))
        .as("tokens_admitted")
    dec.groupBy($"batch_idx", $"source")
      .agg(count(lit(1)).as("n_arrived"), counts: _*)
      .orderBy($"batch_idx", $"source")
  }

  /** The in-memory batch composition over [[fixtureBatches]] — q180's
    * body, exposed so StreamingSpec can pin the STREAMED end state
    * row-identical against this exact sequence. Returns each batch with
    * its decisions, in order. State grows functionally between batches
    * — the in-memory mirror of [[appendAdmitted]] (append ==
    * rebuild-over-union is each artifact's pinned law). */
  private[graft] def batchComposition(s: SparkSession,
      d: String): Seq[(DataFrame, DataFrame)] = {
    import s.implicits._
    val sc = screens(s, d)
    val st0 = DedupState(
      hashes = storedHashesCached(s, d),
      idx = TextOps.minHashIndexCached(s, d),
      vecIdx = {
        val v = VectorOps.vecDedupIndexCached(s, d)
        VectorOps.VecDedupIndex(v.centroids,
          v.vectors.select($"vec_id", $"cell", $"embedding"))
      })
    val (b0, b1) = fixtureBatches(s, d)
    val dec0 = decide(b0, st0, sc)
    val adm0 = normalize(b0).join(
      dec0.filter($"status" === "admitted").select($"doc_id"),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val sh0 = TextOps.shingleDocs(adm0.select($"doc_id", $"text"))
      .localCheckpoint()
    val st1 = DedupState(
      hashes = st0.hashes.unionByName(adm0.select($"doc_id",
        md5(coalesce($"text", lit(""))).as("h"))),
      idx = TextOps.MinHashIndex(
        bands = st0.idx.bands.unionByName(TextOps.bandsOf(sh0)),
        shingles = st0.idx.shingles.select($"doc_id", $"n", $"hs")
          .unionByName(sh0.select($"doc_id", $"n", $"hs"))),
      vecIdx = VectorOps.VecDedupIndex(st0.vecIdx.centroids,
        st0.vecIdx.vectors.unionByName(
          VectorOps.assignCells(
              adm0.filter($"embedding".isNotNull)
                .select($"doc_id".as("vec_id"), $"embedding"),
              st0.vecIdx.centroids)
            .select($"vec_id", $"cell", $"embedding"))))
    val dec1 = decide(b1, st1, sc)
    Seq((b0, dec0), (b1, dec1))
  }

  private val q180 = Q(
    fn = (s, d) => {
      import s.implicits._
      summarize(batchComposition(s, d).zipWithIndex.map {
        case ((_, dec), i) => dec.withColumn("batch_idx", lit(i.toLong))
      }.reduce(_ unionByName _))
    },
    oracle = Some {
      val jac = "CAST(COUNT(*) AS DOUBLE) / " +
        "(any_value(oo.n) + any_value(nn.n) - COUNT(*))"
      val cosExpr = "CAST(list_sum(list_transform(generate_series(1, " +
        "len(x.qv)), k -> x.qv[k] * y.qv[k])) AS DOUBLE) / " +
        "(SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE)))"
      LangId.qualityOracleCtes + "," +
        TextOps.nearDupShingleCtes.trim.stripPrefix("WITH") + "," +
        VectorOps.kmeansOracleCtes("WHERE vec_id % 10 < 8").trim
          .stripPrefix("WITH") +
        VectorOps.ivfAssignCtes + s""",
      storedh AS (
        SELECT doc_id, md5(COALESCE(text, '')) AS h
        FROM documents WHERE doc_id % 10 < 8
      ), nwt AS (
        SELECT doc_id, CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
          x -> len(x) > 0)) AS BIGINT) AS nw
        FROM documents
      ), arrh AS (
        SELECT doc_id, COALESCE(source, '') AS source,
               md5(COALESCE(text, '')) AS h,
               CAST(doc_id % 10 - 8 AS BIGINT) AS b
        FROM documents WHERE doc_id % 10 >= 8
      ), redel AS (
        SELECT doc_id, COALESCE(source, '') AS source
        FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 = 0
      ), revis AS (
        SELECT doc_id, COALESCE(source, '') AS source
        FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 = 1
      ), qpass AS (
        SELECT a.* FROM arrh a JOIN piv p ON p.doc_id = a.doc_id
        WHERE p.s_keep - p.s_drop > 0
      ), qrej AS (
        SELECT a.* FROM arrh a JOIN piv p ON p.doc_id = a.doc_id
        WHERE p.s_keep - p.s_drop <= 0
      ), evsh AS (
        SELECT DISTINCT s FROM ex WHERE doc_id % 29 = 0 AND doc_id < 5300
      ), dfx AS (
        SELECT ex.doc_id FROM ex JOIN evsh USING (s)
        GROUP BY ex.doc_id HAVING COUNT(*) >= 8
      ), dfn AS (
        SELECT DISTINCT nn.doc_id AS doc_id
        FROM ex oo JOIN ex nn ON oo.s = nn.s
        WHERE oo.doc_id % 29 = 0 AND oo.doc_id < 5300
        GROUP BY oo.doc_id, nn.doc_id
        HAVING $jac >= 0.5
      ), dfs AS (
        SELECT DISTINCT y.vec_id AS doc_id
        FROM qn x JOIN qn y ON x.vec_id % 29 = 0 AND x.vec_id < 5300
        WHERE $cosExpr >= 0.4
      ), cont AS (
        SELECT doc_id FROM dfx UNION SELECT doc_id FROM dfn
        UNION SELECT doc_id FROM dfs
      ), cln AS (
        SELECT qpass.* FROM qpass
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)
      ), cl0 AS (SELECT * FROM cln WHERE b = 0
      ), x0 AS (
        SELECT cl0.*, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM cl0
      ), xd0 AS (
        SELECT doc_id FROM x0
        WHERE rn > 1 OR h IN (SELECT h FROM storedh)
      ), s40 AS (
        SELECT * FROM cl0 WHERE doc_id NOT IN (SELECT doc_id FROM xd0)
      ), nd0 AS (
        SELECT DISTINCT nn.doc_id AS doc_id
        FROM ex oo JOIN ex nn ON oo.s = nn.s
        WHERE oo.doc_id % 10 < 8
          AND nn.doc_id IN (SELECT doc_id FROM s40)
        GROUP BY oo.doc_id, nn.doc_id
        HAVING $jac >= 0.5
      ), s50 AS (
        SELECT * FROM s40 WHERE doc_id NOT IN (SELECT doc_id FROM nd0)
      ), ed0 AS (
        SELECT DISTINCT aa.vec_id AS doc_id
        FROM asg aa JOIN asg bb ON aa.cell = bb.cell
        JOIN qn x ON x.vec_id = aa.vec_id
        JOIN qn y ON y.vec_id = bb.vec_id
        WHERE bb.vec_id % 10 < 8
          AND aa.vec_id IN (SELECT doc_id FROM s50)
          AND $cosExpr >= 0.4
      ), adm0 AS (
        SELECT * FROM s50 WHERE doc_id NOT IN (SELECT doc_id FROM ed0)
      ), cl1 AS (SELECT * FROM cln WHERE b = 1
      ), x1 AS (
        SELECT cl1.*, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM cl1
      ), xd1 AS (
        SELECT doc_id FROM x1
        WHERE rn > 1 OR h IN (SELECT h FROM storedh)
           OR h IN (SELECT h FROM adm0)
      ), s41 AS (
        SELECT * FROM cl1 WHERE doc_id NOT IN (SELECT doc_id FROM xd1)
      ), nd1 AS (
        SELECT DISTINCT nn.doc_id AS doc_id
        FROM ex oo JOIN ex nn ON oo.s = nn.s
        WHERE (oo.doc_id % 10 < 8
               OR oo.doc_id IN (SELECT doc_id FROM adm0))
          AND nn.doc_id IN (SELECT doc_id FROM s41)
        GROUP BY oo.doc_id, nn.doc_id
        HAVING $jac >= 0.5
      ), s51 AS (
        SELECT * FROM s41 WHERE doc_id NOT IN (SELECT doc_id FROM nd1)
      ), ed1 AS (
        SELECT DISTINCT aa.vec_id AS doc_id
        FROM asg aa JOIN asg bb ON aa.cell = bb.cell
        JOIN qn x ON x.vec_id = aa.vec_id
        JOIN qn y ON y.vec_id = bb.vec_id
        WHERE (bb.vec_id % 10 < 8
               OR bb.vec_id IN (SELECT doc_id FROM adm0))
          AND aa.vec_id IN (SELECT doc_id FROM s51)
          AND $cosExpr >= 0.4
      ), adm1 AS (
        SELECT * FROM s51 WHERE doc_id NOT IN (SELECT doc_id FROM ed1)
      ), dec AS (
        SELECT CAST(0 AS BIGINT) AS batch_idx, source,
               'redelivered' AS status, doc_id FROM redel
        UNION ALL SELECT CAST(0 AS BIGINT), source, 'revised', doc_id FROM revis
        UNION ALL SELECT b, source, 'quality_rejected', doc_id FROM qrej
        UNION ALL SELECT b, source, 'contaminated', doc_id FROM qpass
          WHERE doc_id IN (SELECT doc_id FROM cont)
        UNION ALL SELECT b, source, 'exact_dup', doc_id FROM cln
          WHERE (b = 0 AND doc_id IN (SELECT doc_id FROM xd0))
             OR (b = 1 AND doc_id IN (SELECT doc_id FROM xd1))
        UNION ALL SELECT b, source, 'near_dup', doc_id FROM cln
          WHERE (b = 0 AND doc_id IN (SELECT doc_id FROM nd0))
             OR (b = 1 AND doc_id IN (SELECT doc_id FROM nd1))
        UNION ALL SELECT b, source, 'embed_dup', doc_id FROM cln
          WHERE (b = 0 AND doc_id IN (SELECT doc_id FROM ed0))
             OR (b = 1 AND doc_id IN (SELECT doc_id FROM ed1))
        UNION ALL SELECT b, source, 'admitted', doc_id FROM adm0
        UNION ALL SELECT b, source, 'admitted', doc_id FROM adm1
      )
      SELECT batch_idx, source,
             CAST(COUNT(*) AS BIGINT) AS n_arrived,
             CAST(SUM(CASE WHEN status = 'redelivered' THEN 1 ELSE 0 END) AS BIGINT) AS n_redelivered,
             CAST(SUM(CASE WHEN status = 'revised' THEN 1 ELSE 0 END) AS BIGINT) AS n_revised,
             CAST(SUM(CASE WHEN status = 'quality_rejected' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_rejected,
             CAST(SUM(CASE WHEN status = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
             CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
             CAST(SUM(CASE WHEN status = 'embed_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_embed_dup,
             CAST(SUM(CASE WHEN status = 'admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
             CAST(COALESCE(SUM(CASE WHEN status = 'admitted' THEN nwt.nw END), 0) AS BIGINT) AS tokens_admitted
      FROM dec LEFT JOIN nwt USING (doc_id)
      GROUP BY batch_idx, source
      ORDER BY batch_idx, source"""
    })

  // ------------------------------------------------------------------
  // Q181 — the REVISION ROUTE as one driver-gated lifecycle row
  // (VERDICT r12 #5: the admission policy declared "revision = takedown
  // + re-admission through the tombstone ledger" but nothing wired it).
  // The composition, run through the REAL on-disk state machinery:
  //
  //   seed state (stored split, all six artifact families)
  //   → batch 0: every stored doc_id % 50 == 1 re-arrives with its
  //     content revised (text + ' zz') → decide flags all `revised`
  //   → the flagged doc_ids land in the state's tombstone ledger
  //     (exactly the streaming pipeline's revised leg)
  //   → compactAdmissionState folds the ledger: every store drops the
  //     old versions (compactState — the q159 fold on the whole family)
  //   → batch 1: the SAME revised contents re-enter admission as fresh
  //     arrivals and run the FULL cascade against the survivor state
  //     (quality on the new text, eval screens, exact/lexical/embedding
  //     dedup vs survivors — a revision whose new text still near-dups
  //     an unrevised stored doc is REJECTED, the honest outcome)
  //   → admitted re-admissions append to every store.
  //
  // Output: per-doc decision rows for both legs plus the END STATE — the
  // maintained hashes store read back from disk. The oracle rebuilds all
  // three legs from scratch (model training, modified-text scoring and
  // shingles, survivor-masked dedup probes), so a hash match proves the
  // tombstone fold removed exactly the old versions, the re-admission
  // cascade decided exactly as a fresh arrival would, and the final
  // stores equal a from-scratch build over the final contents.
  // ------------------------------------------------------------------

  /** The revision arrival set: stored doc_id % 50 == 1 (⊂ the stored
    * split since %50==1 ⇒ %10==1), text revised by appending ' zz'
    * (q180's engineered-revision device), embeddings riding by
    * doc_id ≡ vec_id where present (revision touches text only). */
  private[graft] def revisionArrivals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.documents(s, d)
      .filter($"doc_id" % 10 < 8 && $"doc_id" % 50 === 1)
      .select($"doc_id", $"source", $"lang",
        concat(coalesce($"text", lit("")), lit(" zz")).as("text"))
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    rev.join(emb, rev("doc_id") === emb("vec_id"), "left").drop("vec_id")
  }

  /** The two-leg revision composition over the ON-DISK state machinery,
    * exposed so StreamingSpec can pin the streamed route (revised leg →
    * ledger → compactAdmissionState → re-arrival) end-state-identical.
    * Returns (dec0, dec1, stateDir) — decisions materialized, state
    * fully appended. */
  private[graft] def revisionComposition(s: SparkSession, d: String,
      stateDir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    cloneSeededState(s, d, stateDir)
    val scr = screens(s, d)
    val arr = revisionArrivals(s, d)
    // batch 0: all arrivals classify `revised` against the seeded state
    val dec0 = decide(arr, readDedupState(s, stateDir), scr)
    // the revision route: flagged old versions enter the tombstone
    // ledger — the exact on-disk leg the streaming pipeline writes
    dec0.filter($"status" === "revised").select($"doc_id").distinct()
      .write.mode("overwrite").parquet(s"$stateDir/tombstones/batch=0")
    // operator-scheduled compaction folds the ledger into every store
    graft.streaming.Pipeline.compactAdmissionState(s, stateDir)
    // batch 1: the new contents re-enter admission as fresh arrivals
    val dec1 = decide(arr, readDedupState(s, stateDir), scr)
    val admitted = normalize(arr).join(
      dec1.filter($"status" === "admitted").select($"doc_id"),
      Seq("doc_id"), "left_semi")
    appendAdmitted(s, stateDir, 1L, admitted)
    (dec0, dec1)
  }

  private val q181 = Q(
    fn = (s, d) => {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("graft_q181").toString
      val state = s"$work/state"
      val (dec0, dec1) = revisionComposition(s, d, state)
      def legOf(dec: DataFrame, leg: String) = dec
        .select(lit(leg).as("leg"), $"doc_id", $"source", $"h", $"nw",
          $"status")
      val out = legOf(dec0, "revise")
        .unionByName(legOf(dec1, "readmit"))
        .unionByName(Tables.parquet(s, s"$state/hashes")
          .select(lit("final").as("leg"), $"doc_id", $"source", $"h",
            $"nw", lit("stored").as("status")))
        .orderBy($"leg", $"doc_id")
        // materialize, then RECLAIM the per-run state tree now — a
        // lifecycle rep rewrites every store family, and three bench
        // sweeps at x100 would otherwise strand GBs of dead temp state
        .localCheckpoint()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(work)).iterator()
        .asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    },
    oracle = Some {
      val jac = "CAST(COUNT(*) AS DOUBLE) / " +
        "(any_value(oo.n) + any_value(nn.n) - COUNT(*))"
      val cosExpr = "CAST(list_sum(list_transform(generate_series(1, " +
        "len(x.qv)), k -> x.qv[k] * y.qv[k])) AS DOUBLE) / " +
        "(SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE)))"
      LangId.qualityOracleCtesFor(
        "\n        SELECT doc_id, COALESCE(text, '') || ' zz' AS text" +
        "\n        FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 = 1") +
        "," +
        TextOps.nearDupShingleCtes.trim.stripPrefix("WITH") + "," +
        VectorOps.kmeansOracleCtes("WHERE vec_id % 10 < 8").trim
          .stripPrefix("WITH") +
        VectorOps.ivfAssignCtes + s""",
      arr AS (
        SELECT doc_id, COALESCE(source, '') AS source,
               COALESCE(text, '') || ' zz' AS mtext
        FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 = 1
      ), arrh AS (
        SELECT doc_id, source, md5(mtext) AS h,
               CAST(len(list_filter(string_split(mtext, ' '),
                 x -> len(x) > 0)) AS BIGINT) AS nw
        FROM arr
      ), survh AS (
        SELECT doc_id, COALESCE(source, '') AS source,
               md5(COALESCE(text, '')) AS h,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 x -> len(x) > 0)) AS BIGINT) AS nw
        FROM documents WHERE doc_id % 10 < 8 AND doc_id % 50 <> 1
      ), mdocs AS (
        SELECT doc_id, string_split(mtext, ' ') AS w FROM arr
      ), mshingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM mdocs WHERE len(w) >= 3
      ), mex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM mshingled
      ), qrej AS (
        SELECT a.doc_id FROM arrh a JOIN piv p ON p.doc_id = a.doc_id
        WHERE p.s_keep - p.s_drop <= 0
      ), evsh AS (
        SELECT DISTINCT s FROM ex WHERE doc_id % 29 = 0 AND doc_id < 5300
      ), dfx AS (
        SELECT mex.doc_id FROM mex JOIN evsh USING (s)
        GROUP BY mex.doc_id HAVING COUNT(*) >= 8
      ), dfn AS (
        SELECT DISTINCT nn.doc_id AS doc_id
        FROM ex oo JOIN mex nn ON oo.s = nn.s
        WHERE oo.doc_id % 29 = 0 AND oo.doc_id < 5300
        GROUP BY oo.doc_id, nn.doc_id
        HAVING $jac >= 0.5
      ), dfs AS (
        SELECT DISTINCT y.vec_id AS doc_id
        FROM qn x JOIN qn y ON x.vec_id % 29 = 0 AND x.vec_id < 5300
        WHERE $cosExpr >= 0.4
      ), cont AS (
        SELECT doc_id FROM dfx UNION SELECT doc_id FROM dfn
        UNION SELECT doc_id FROM dfs
      ), cln AS (
        SELECT a.* FROM arrh a
        WHERE a.doc_id NOT IN (SELECT doc_id FROM qrej)
          AND a.doc_id NOT IN (SELECT doc_id FROM cont)
      ), xw AS (
        SELECT cln.*, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM cln
      ), xd AS (
        SELECT doc_id FROM xw
        WHERE rn > 1 OR h IN (SELECT h FROM survh)
      ), s4 AS (
        SELECT * FROM cln WHERE doc_id NOT IN (SELECT doc_id FROM xd)
      ), nd AS (
        SELECT DISTINCT nn.doc_id AS doc_id
        FROM ex oo JOIN mex nn ON oo.s = nn.s
        WHERE oo.doc_id % 10 < 8 AND oo.doc_id % 50 <> 1
          AND nn.doc_id IN (SELECT doc_id FROM s4)
        GROUP BY oo.doc_id, nn.doc_id
        HAVING $jac >= 0.5
      ), s5 AS (
        SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM nd)
      ), ed AS (
        SELECT DISTINCT aa.vec_id AS doc_id
        FROM asg aa JOIN asg bb ON aa.cell = bb.cell
        JOIN qn x ON x.vec_id = aa.vec_id
        JOIN qn y ON y.vec_id = bb.vec_id
        WHERE bb.vec_id % 10 < 8 AND bb.vec_id % 50 <> 1
          AND aa.vec_id IN (SELECT doc_id FROM s5)
          AND $cosExpr >= 0.4
      ), adm AS (
        SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM ed)
      ), outrows AS (
        SELECT 'revise' AS leg, doc_id, source, h, nw, 'revised' AS status
        FROM arrh
        UNION ALL
        SELECT 'readmit', a.doc_id, a.source, a.h, a.nw,
               CASE WHEN a.doc_id IN (SELECT doc_id FROM qrej)
                      THEN 'quality_rejected'
                    WHEN a.doc_id IN (SELECT doc_id FROM cont)
                      THEN 'contaminated'
                    WHEN a.doc_id IN (SELECT doc_id FROM xd)
                      THEN 'exact_dup'
                    WHEN a.doc_id IN (SELECT doc_id FROM nd)
                      THEN 'near_dup'
                    WHEN a.doc_id IN (SELECT doc_id FROM ed)
                      THEN 'embed_dup'
                    ELSE 'admitted' END
        FROM arrh a
        UNION ALL
        SELECT 'final', doc_id, source, h, nw, 'stored' FROM survh
        UNION ALL
        SELECT 'final', doc_id, source, h, nw, 'stored' FROM arrh
        WHERE doc_id IN (SELECT doc_id FROM adm)
      )
      SELECT leg, doc_id, source, h, nw, status FROM outrows
      ORDER BY leg, doc_id"""
    })

  val all: Map[String, Q] = Map(
    "q180_admission_pipeline" -> q180,
    "q181_revision_lifecycle" -> q181)
}
