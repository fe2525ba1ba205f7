package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Trained language identification — the statistical upgrade of q21's
  * stopword-marker argmax (reference anchor: the `lang` labeling of the
  * document corpus; the operator a real training-data pipeline runs is a
  * TRAINED classifier à la fastText/CLD, not a marker table).
  *
  * q100 trains a multinomial Naive Bayes over character trigrams on the
  * stored split (doc_id % 10 < 8 — q82's snapshot convention) and
  * classifies the held-out 20%, emitting the confusion summary. This is
  * the standard n-gram langid construction (Cavnar & Trenkle's n-gram
  * stats + NB smoothing): class priors from split label counts, add-one
  * smoothed trigram likelihoods, unseen-gram mass 1/(N_lang + V).
  *
  * Exactness (the q85 device): every log-probability is quantized ONCE
  * to fixed-point — floor(ln(·)·10⁶) on a double built from exact
  * integer operands — so per-document accumulation is exact long
  * arithmetic, order-free on both engines, and the argmax tie-breaks
  * deterministically (score desc, lang asc). The only libm calls sit on
  * vocabulary×|langs|-bounded frames (same 1-ulp robustness argument as
  * q84/q51, validated empirically at all SFs by the hash gate).
  *
  * Scale shape for 100 TB: training is one map-side-combined count per
  * (lang, trigram) — the shuffle carries at most |vocab|×|langs| rows
  * per task (charset³-bounded, corpus-size-independent); the fitted
  * model compiles once per JVM into primitive arrays and broadcasts
  * ([[graft.functions.expressions.NbCompiled]]), so scoring is ONE
  * scan-local kernel pass over the held-out split — zero joins, zero
  * shuffled corpus rows. The two driver scalars (vocab
  * size, train doc count) are bounded single-row actions (the Lloyd
  * pattern). Accuracy on THIS corpus is capped by its generator — only
  * `en` carries a real signal (elevated the/a rates; the other labels
  * are statistically near-indistinguishable) — the spec pins the en
  * separation and the oracle pins the construction.
  */
object LangId {

  /** The fitted classifier: `weights` (lang, g, w_fp) — add-one smoothed
    * fixed-point trigram log-likelihoods, |vocab|×|langs| rows — and
    * `stats` (lang, prior_fp, unseen_fp) — one row per class. Both
    * vocabulary-bounded at any corpus size; consumers broadcast them.
    *
    * `compiled` collects both tables ONCE per instance (vocabulary-
    * bounded, the centroid-collect budget) into the [[graft.functions
    * .expressions.NbCompiled]] primitive form and broadcasts it — the
    * scoring kernel's operand. Cached-model constructors memoize the
    * NbModel INSTANCE per artifact path so a JVM compiles each fitted
    * model exactly once (bench sweeps, streaming micro-batches and the
    * batch queries all share the same broadcast). */
  private[graft] case class NbModel(weights: DataFrame, stats: DataFrame) {
    @transient lazy val compiled: (Array[String],
        org.apache.spark.broadcast.Broadcast[graft.functions.expressions.NbCompiled]) = {
      val s = stats.sparkSession
      import s.implicits._
      val st = stats.select($"lang", $"prior_fp", $"unseen_fp")
        .collect().sortBy(_.getString(0))
      val langs = st.map(_.getString(0))
      val idx = langs.zipWithIndex.toMap
      val priors = st.map(_.getLong(1))
      val unseen = st.map(_.getLong(2))
      val grams = weights.select($"g", $"lang", $"w_fp").collect()
        .map(r => (r.getString(0), idx(r.getString(1)), r.getLong(2)))
      (langs, s.sparkContext.broadcast(
        graft.functions.expressions.NbCompiled(priors, unseen, grams)))
    }
  }

  /** Fit the NB model on a labeled (lang, text) frame. The only shuffle
    * is the (lang, trigram) count (map-side combined, ≤ |vocab|×|langs|
    * rows); the two scalars (vocab size, doc count) are bounded driver
    * actions. Both model tables are materialized before the intermediate
    * count is released. */
  private[graft] def trainLangIdNb(train: DataFrame): NbModel = {
    import train.sparkSession.implicits._
    // per-doc counts fold scan-locally (char_gram_counts kernel), so the
    // (lang, g) shuffle carries per-doc DISTINCT grams, not occurrences
    val langGram = train
      .select($"lang",
        explode(graft.functions.expressions.char_gram_counts($"text")).as("gc"))
      .groupBy($"lang", $"gc.g".as("g")).agg(sum($"gc.c").as("c"))
      .persist()
    try nbFit(langGram,
      train.groupBy($"lang").agg(count(lit(1)).as("nd")), train.count())
    finally langGram.unpersist()
  }

  /** The closed-form fit from the COUNT tables — `lg` (lang, g, c),
    * `priors` (lang, nd), `nTrain` — shared by [[trainLangIdNb]]
    * (counts aggregated from a labeled frame) and [[nbModelOf]]
    * (counts read from a mutated raw store), so exact unlearning
    * (q149) can never drift from training: identical count inputs
    * produce bit-identical weights/stats.
    *
    * Computed DRIVER-SIDE over ONE collect of the count table: the
    * vocabulary×|langs| collect is the budget [[NbModel.compiled]]
    * already spends on the fitted weights, and folding the fit into it
    * replaces four cluster jobs (vocab distinct count, two model
    * localCheckpoints, the langTot joins) with local array arithmetic —
    * the q149 gate paid ~1 s of pure job overhead for vocab-bounded
    * work. Exactness is unchanged: `StrictMath.log` is EXACTLY the
    * function Spark's `log` expression evaluates (mathExpressions.scala
    * — both interpreted and codegen'd paths), over the same exact
    * integer-built doubles, so the driver fit is bit-identical to the
    * old in-plan fit on any platform. */
  private def nbFit(lg: DataFrame, priors: DataFrame, nTrain: Long): NbModel = {
    val s = lg.sparkSession
    import s.implicits._
    def fp(x: Double): Long = math.floor(x * 1e6).toLong
    val rows = lg.select($"lang", $"g", $"c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val v = {
      val set = new java.util.HashSet[String]()
      rows.foreach(r => set.add(r._2))
      set.size.toLong
    }
    val nl = rows.groupBy(_._1).map { case (l, rs) =>
      l -> rs.iterator.map(_._3).sum
    }
    val stats = priors.select($"lang", $"nd").collect()
      // a language in priors with NO trigram counts (all its training
      // docs too short — dlab keeps trigram-less docs) must not crash
      // the fit: the old in-plan inner join on the count table dropped
      // it from stats, so skip it here too (ADVICE r13)
      .filter(r => nl.contains(r.getString(0)))
      .map { r =>
        val l = r.getString(0); val nd = r.getLong(1)
        (l, fp(StrictMath.log(nd.toDouble / nTrain)),
          fp(StrictMath.log(1.0 / (nl(l) + v).toDouble)))
      }.toSeq
    val weights = rows.map { case (l, g, c) =>
      (l, g, fp(StrictMath.log((c + 1).toDouble / (nl(l) + v).toDouble)))
    }.toSeq
    NbModel(weights.toDF("lang", "g", "w_fp"),
      stats.toDF("lang", "prior_fp", "unseen_fp"))
  }

  /** Memoized NbModel instances per (Spark application, artifact path),
    * so the lazy [[NbModel.compiled]] broadcast is built once per JVM per
    * artifact (a fresh instance per call would re-collect + re-broadcast
    * the model on every query run / micro-batch). The application id in
    * the key matters: a restarted SparkSession in the same JVM must not
    * be served DataFrames/broadcasts bound to the STOPPED context. */
  private val modelInstances =
    new java.util.concurrent.ConcurrentHashMap[String, NbModel]()
  private def modelKey(s: SparkSession, path: String): String =
    s"${s.sparkContext.applicationId}|$path"

  private def langIdArtifact(s: SparkSession, d: String): String =
    IndexCache.artifact("langid", d) { path =>
      import s.implicits._
      val training = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 < 8)
      // RAW store first (q137/q144's device applied to a trained
      // classifier): per-doc labeled trigram counts + doc labels; the
      // model's count table is a PROJECTION of the per-doc postings,
      // built that way so exact unlearning (subtract a victim's own
      // stored counts — [[Additive.remove]]) lands on precisely the
      // counts a retrain on survivors would see. Docs too short for a
      // trigram have no postings but still count in dlab (priors and
      // the prior denominator include them, exactly as trainLangIdNb's
      // direct frame counts do).
      // the per-doc count fold happens INSIDE the scan (char_gram_counts
      // kernel) and the store keeps it AS the kernel emits it: ONE row
      // per document, grams as an array<struct<g,c>> column. Doc-keyed
      // mutations (the unlearning semi-/anti-joins) then move one row
      // per DOC through the join instead of one per distinct gram —
      // the flat layout made q149's victim-count subtraction scan tens
      // of millions of join rows at sf0.1 where the doc-level store has
      // tens of thousands, and only the victims' arrays ever explode.
      // The exploded frame is still never cached (a localCheckpoint of
      // corpus×distinct-grams rows as deserialized blocks starved
      // execution memory at x100 — flaky AGGREGATE_OUT_OF_MEMORY); the
      // lg projection re-reads the compact columnar store it just wrote.
      training
        .select($"doc_id", $"lang",
          graft.functions.expressions.char_gram_counts($"text").as("gcs"))
        .write.mode("overwrite").parquet(s"$path/tgpost")
      training.select($"doc_id", $"lang")
        .write.mode("overwrite").parquet(s"$path/dlab")
      val lg = NbRaw.project(Map("tgpost" -> Tables.parquet(s, s"$path/tgpost")))("lg")
        .localCheckpoint()
      lg.write.mode("overwrite").parquet(s"$path/lg")
      val m = nbFit(lg,
        training.groupBy($"lang").agg(count(lit(1)).as("nd")),
        training.count())
      m.weights.write.mode("overwrite").parquet(s"$path/weights")
      m.stats.write.mode("overwrite").parquet(s"$path/stats")
    }

  /** The model over dataset `d`'s stored split (doc_id % 10 < 8),
    * trained once per JVM via [[IndexCache]] (bigramLmCached's pattern)
    * — bench sweeps and the streaming gate share one training run and
    * pay only the scoring leg. */
  private[graft] def langIdModelCached(s: SparkSession, d: String): NbModel = {
    val p = langIdArtifact(s, d)
    modelInstances.computeIfAbsent(modelKey(s, p), _ =>
      NbModel(Tables.parquet(s, s"$p/weights"), Tables.parquet(s, s"$p/stats")))
  }

  /** The langid model's raw, mutable [[Additive]] store: per-doc
    * labeled trigram counts (`tgpost`: doc_id, lang, gcs
    * array<struct<g,c>> — ONE row per doc, so doc-keyed mutations join
    * doc-level rows and only the victims' arrays ever explode), doc
    * labels (`dlab`: doc_id, lang — includes trigram-less short docs),
    * and the maintained count table (`lg`: lang, g, c). Every fitted
    * quantity is a closed form of these ([[nbFit]]), so append and
    * removal are count arithmetic and the refit is vocabulary-bounded.
    * The merged count table is best left LAZY: its one consumer per
    * lifecycle is nbFit's single collect (or the next mutation's join),
    * and an eager vocab×langs materialization was a whole cluster job of
    * pure overhead in the q149 gate. */
  private[graft] type NbRaw = Additive.Store
  private[graft] object NbRaw extends Additive.Family(
      counts = Seq("lg" -> Additive.Counts(Seq("lang", "g"), "c")),
      postings = Seq("tgpost", "dlab")) {
    override def project(own: Map[String, DataFrame]): NbRaw =
      Additive.Store(this, own + ("lg" -> own("tgpost")
        .select(col("lang"), explode(col("gcs")).as("gc"))
        .groupBy(col("lang"), col("gc.g").as("g")).agg(sum(col("gc.c")).as("c"))))

    /** The store of a labeled snapshot (doc_id, lang, text): the
      * scan-local per-doc count fold in the store's doc-level array shape
      * (the langIdArtifact tgpost rule), materialized once because the
      * postings and the counts both read it. */
    def deltaOf(snap: DataFrame): NbRaw = {
      val sg = snap
        .select(col("doc_id"), col("lang"),
          graft.functions.expressions.char_gram_counts(col("text")).as("gcs"))
        .localCheckpoint()
      project(Map("tgpost" -> sg, "dlab" -> sg.select(col("doc_id"), col("lang"))))
    }
  }

  /** Memoized like [[modelInstances]] (same app-scoped key rule): the
    * three parquet handles re-read footers for schema on every
    * construction — a measurable per-rep tax in the q149 gate for
    * frames whose path is immutable within the JVM. */
  private val rawInstances =
    new java.util.concurrent.ConcurrentHashMap[String, NbRaw]()
  private[graft] def nbRawCached(s: SparkSession, d: String): NbRaw = {
    val p = langIdArtifact(s, d)
    rawInstances.computeIfAbsent(modelKey(s, p), _ =>
      Additive.load(NbRaw, p, Tables.parquet(s, _)))
  }

  /** Refit from the (possibly mutated) raw store — [[nbFit]] on the
    * maintained projections, so identical counts give bit-identical
    * weights/stats to a from-scratch [[trainLangIdNb]]. The label table
    * is evaluated ONCE: the per-lang counts collect (≤ |langs| rows —
    * bounded) and the doc total is their sum (each dlab row carries
    * exactly one lang), so a lifecycle caller whose dlab is a lazy
    * union ∘ anti-join chain (q149: parquet ∪ snapshot, minus victims)
    * pays that chain once, not once per aggregate (VERDICT r11 #6). */
  private[graft] def nbModelOf(raw: NbRaw): NbModel = {
    val s = raw("dlab").sparkSession
    import s.implicits._
    val ndRows = raw("dlab").groupBy($"lang").agg(count(lit(1)).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    nbFit(raw("lg"), ndRows.toDF("lang", "nd"), ndRows.map(_._2).sum)
  }

  /** The scoring core: (doc_id, text) → one (doc_id, lang, score_fp)
    * row per document per class — the full posterior surface (fixed
    * point, exact longs). Scoring is ONE scan-local kernel pass
    * ([[graft.functions.expressions.NbScore]] — per trigram occurrence,
    * one gram-table probe + |langs| long adds against the broadcast
    * compiled model): zero joins, zero shuffled corpus rows, cost ∝
    * corpus code units × |langs| entirely inside the scan task. The
    * declarative form this replaced exchanged one row per distinct
    * (doc, trigram) through a groupBy plus a second (doc, lang)
    * aggregation; the kernel's identity
    * score = prior + tt·unseen + Σ_occ (w − unseen) is the same exact
    * long arithmetic, order-free (LangIdSpec pins kernel == declarative
    * row-for-row). [[langIdScoreDocs]] is its argmax view; q102 pivots
    * it into a binary margin. */
  private[graft] def langIdScoresAll(docs: DataFrame, m: NbModel): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (langs, bc) = m.compiled
    // coalesce(text, ""): a null text (corrupt wire record through the
    // permissive JSON gates) must score prior-only like the declarative
    // form did (its greatest(length(null)-2, 0) skipped the null to 0) —
    // the kernel's null-in/null-out would posexplode to ZERO rows and the
    // doc would silently vanish from every gate verdict
    docs.select($"doc_id",
        graft.functions.expressions.nb_score(bc,
          coalesce($"text", lit(""))).as("sc"))
      .select($"doc_id", posexplode($"sc").as(Seq("li", "score_fp")))
      .select($"doc_id",
        element_at(typedlit(langs.toSeq), $"li".cast("int") + 1).as("lang"),
        $"score_fp")
  }

  /** The scoring leg, shared verbatim by batch q100 and the streaming
    * ingest gate: (doc_id, text) → (doc_id, lang_pred, score_fp) — the
    * argmax of the kernel's score array with the deterministic
    * (score desc, lang asc) tie-break. The argmax happens IN-ROW: the
    * kernel emits scores in sorted-lang order, so the FIRST occurrence
    * of the array max (array_position) IS the window's
    * (score desc, lang asc) row_number()=1 pick — the old
    * posexplode → |langs|·corpus rows → partitioned-window sort is a
    * pure plan change, row-identical output (LangIdSpec pins it against
    * the windowed form). */
  private[graft] def langIdScoreDocs(docs: DataFrame, m: NbModel): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (langs, bc) = m.compiled
    // coalesce(text, ""): the langIdScoresAll null rule — a null text
    // must score prior-only, not vanish
    docs.select($"doc_id",
        graft.functions.expressions.nb_score(bc,
          coalesce($"text", lit(""))).as("sc"))
      .select($"doc_id",
        element_at(typedlit(langs.toSeq),
          array_position($"sc", array_max($"sc")).cast("int"))
          .as("lang_pred"),
        array_max($"sc").as("score_fp"))
  }

  /** The fitted-model CTEs shared by the q100/q139/q149 oracles (the
    * qualityOracleCtes pattern), parameterized by the train/test split
    * predicates so the unlearning oracle (q149 — survivors-only
    * retrain) reuses the ONE replay of [[trainLangIdNb]] instead of a
    * divergent copy. Ends with `w` (lang, g, w_fp) and `stats`
    * (lang, prior_fp, unseen_fp). */
  private def langidCtes(trainWhere: String, testWhere: String): String = s"""
      WITH train AS (
        SELECT doc_id, lang, text FROM documents WHERE $trainWhere
      ), test AS (
        SELECT doc_id, lang, text FROM documents WHERE $testWhere
      ), traing AS (
        SELECT lang, unnest(list_transform(generate_series(1, len(text) - 2),
               i -> substr(text, i, 3))) AS g
        FROM train
      ), lg AS (
        SELECT lang, g, COUNT(*) AS c FROM traing GROUP BY lang, g
      ), lt AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM lg GROUP BY lang
      ), voc AS (
        SELECT COUNT(DISTINCT g) AS v FROM lg
      ), pri AS (
        SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang
      ), ntot AS (
        SELECT COUNT(*) AS nt FROM train
      ), stats AS (
        SELECT pri.lang,
               CAST(FLOOR(LN(CAST(nd AS DOUBLE) / nt) * 1e6) AS BIGINT) AS prior_fp,
               CAST(FLOOR(LN(1.0 / CAST(nl + v AS DOUBLE)) * 1e6) AS BIGINT) AS unseen_fp
        FROM pri CROSS JOIN ntot JOIN lt ON lt.lang = pri.lang CROSS JOIN voc
      ), w AS (
        SELECT lg.lang, lg.g,
               CAST(FLOOR(LN(CAST(c + 1 AS DOUBLE) / CAST(nl + v AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
        FROM lg JOIN lt ON lt.lang = lg.lang CROSS JOIN voc
      )"""

  /** The default stored-split instantiation (q100/q139). */
  private val langidModelCtes: String =
    langidCtes("doc_id % 10 < 8", "doc_id % 10 >= 8")

  /** The scoring/argmax/confusion tail shared by q100 and q149 (both
    * score the `test` CTE under the `w`/`stats` model tables their
    * prefix defines). */
  private val langidScoreTail: String = """
      , testg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(text) - 2),
               i -> substr(text, i, 3))) AS g
        FROM test
      ), tc AS (
        SELECT doc_id, g, COUNT(*) AS tc FROM testg GROUP BY doc_id, g
      ), seen AS (
        SELECT tc.doc_id, w.lang,
               CAST(SUM(tc * w_fp) AS BIGINT) AS seen_fp,
               CAST(SUM(tc) AS BIGINT) AS seen_c
        FROM tc JOIN w USING (g)
        GROUP BY tc.doc_id, w.lang
      ), grid AS (
        SELECT t.doc_id, t.lang AS lang_true, s.lang, s.prior_fp, s.unseen_fp,
               CAST(GREATEST(len(t.text) - 2, 0) AS BIGINT) AS tt
        FROM test t CROSS JOIN stats s
      ), scored AS (
        SELECT g.doc_id, g.lang_true, g.lang,
               g.prior_fp + COALESCE(se.seen_fp, 0) +
                 (g.tt - COALESCE(se.seen_c, 0)) * g.unseen_fp AS score_fp
        FROM grid g LEFT JOIN seen se
          ON se.doc_id = g.doc_id AND se.lang = g.lang
      ), pred AS (
        SELECT doc_id, lang_true, lang AS lang_pred,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_fp DESC, lang) AS rn
        FROM scored
      )
      SELECT lang_true AS lang, lang_pred, COUNT(*) AS n_docs
      FROM pred WHERE rn = 1
      GROUP BY lang_true, lang_pred
      ORDER BY lang, lang_pred"""

  private val q100 = Q(
    fn = (s, d) => {
      import s.implicits._
      val test = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 >= 8)
      langIdScoreDocs(test.select($"doc_id", $"text"), langIdModelCached(s, d))
        .join(test.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"lang", $"lang_pred")
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"lang_pred")
    },
    oracle = Some(langidModelCtes + langidScoreTail))

  /** Q149 — exact NB machine unlearning, full lifecycle (q144's shape
    * on a TRAINED CLASSIFIER rather than an index or LM): the stored
    * raw model store ([[nbRawCached]], %10<8) admits the labeled
    * %10=8 snapshot ([[Additive.merge]]), processes the %7=0 takedown
    * batch ([[Additive.remove]] — victims' counts subtracted from
    * their own stored postings, a victim-only trigram leaves the
    * vocabulary and shifts the smoothing denominator in EVERY weight),
    * refits the closed form ([[nbModelOf]]) and classifies the %10=9
    * held-out split (q100's confusion-matrix shape). The oracle
    * retrains from scratch on (%10<9 AND %7≠0) — a hash match proves
    * append ∘ unlearn ≡ retrain-on-survivors exactly, through the
    * refit's logs and the argmax. */
  private val q149 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val par = s.sparkContext.defaultParallelism
      // repartition AFTER the split filters, and only the legs that do
      // per-char kernel work (snapshot tokenize, held-out scoring) — the
      // old whole-table repartition exchanged the full corpus text once
      // per consuming job; the victim leg needs doc_id only (pruned scan)
      val appended = Additive.merge(nbRawCached(s, d), NbRaw.deltaOf(
        docs.filter($"doc_id" % 10 === 8)
          .select($"doc_id", $"lang", $"text").repartition(par)))
      // the victim ids feed three doc-level joins: materialized once
      val pruned = Additive.remove(appended,
        docs.filter($"doc_id" % 7 === 0).select($"doc_id").distinct().localCheckpoint())
      val m = nbModelOf(pruned)
      // one scan of the held-out split feeds BOTH the scorer and the
      // label join (it was read from parquet twice)
      val test = docs.filter($"doc_id" % 10 === 9)
        .select($"doc_id", $"lang", $"text").repartition(par)
        .localCheckpoint()
      langIdScoreDocs(test.select($"doc_id", $"text"), m)
        .join(test.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"lang", $"lang_pred")
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"lang_pred")
    },
    oracle = Some(
      langidCtes("doc_id % 10 < 9 AND doc_id % 7 <> 0", "doc_id % 10 = 9")
        + langidScoreTail))

  /** The quality model: NB over character trigrams with BINARY classes
    * ('keep'/'drop'), weak-supervised by the Gopher rule battery
    * ([[TextOps.gopherStats]]) on the stored split — the GPT-3 §A /
    * LLaMA recipe shape (train a cheap classifier to separate reference
    * text from raw crawl, then score the whole corpus), with the rule
    * battery standing in for the reference corpus as the label source.
    * One training run per JVM (IndexCache). */
  private[graft] def qualityModelCached(s: SparkSession, d: String): NbModel = {
    val p = IndexCache.artifact("qualnb", d) { path =>
      import s.implicits._
      val train = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 < 8)
      val labeled = train
        .join(TextOps.gopherStats(train).select($"doc_id", $"keep"), Seq("doc_id"))
        .select(when($"keep", lit("keep")).otherwise(lit("drop")).as("lang"),
          $"text")
      val m = trainLangIdNb(labeled)
      m.weights.write.mode("overwrite").parquet(s"$path/weights")
      m.stats.write.mode("overwrite").parquet(s"$path/stats")
    }
    modelInstances.computeIfAbsent(modelKey(s, p), _ =>
      NbModel(Tables.parquet(s, s"$p/weights"), Tables.parquet(s, s"$p/stats")))
  }

  /** q102's full weak-supervised NB scoring pipeline as a shared oracle
    * prelude (rule labeling, training, fixed-point scoring, the per-doc
    * keep/drop margin in `piv`, labels in `lbl`) — q102 ranks it, q129
    * bins it, q180/q181 gate on it; one PARAMETERIZED string so every
    * hash check replays the SAME model over its own held-out rows.
    * `testSql` must select (doc_id, text); the default instantiation
    * ([[qualityOracleCtes]]) is the %10>=8 held-out split, byte-
    * identical to the pre-refactor literal. */
  private[queries] def qualityOracleCtesFor(testSql: String): String = """
      WITH wsp AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
      ), feat AS (
        SELECT doc_id, text,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS sum_word_len,
               CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
               CAST(len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop,
               CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols
        FROM wsp
      ), lbl AS (
        SELECT doc_id, text,
               (n_words BETWEEN 50 AND 100000)
                 AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
                 AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
                 AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.8
                 AND n_stop >= 2
                 AND CAST(n_symbols AS DOUBLE) < CAST(n_words AS DOUBLE) * 0.1 AS keep
        FROM feat
      ), train AS (
        SELECT doc_id, CASE WHEN keep THEN 'keep' ELSE 'drop' END AS lang, text
        FROM lbl WHERE doc_id % 10 < 8
      ), test AS (""" + testSql + """
      ), traing AS (
        SELECT lang, unnest(list_transform(generate_series(1, len(text) - 2),
               i -> substr(text, i, 3))) AS g
        FROM train
      ), lg AS (
        SELECT lang, g, COUNT(*) AS c FROM traing GROUP BY lang, g
      ), lt AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM lg GROUP BY lang
      ), voc AS (
        SELECT COUNT(DISTINCT g) AS v FROM lg
      ), pri AS (
        SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang
      ), ntot AS (
        SELECT COUNT(*) AS nt FROM train
      ), stats AS (
        SELECT pri.lang,
               CAST(FLOOR(LN(CAST(nd AS DOUBLE) / nt) * 1e6) AS BIGINT) AS prior_fp,
               CAST(FLOOR(LN(1.0 / CAST(nl + v AS DOUBLE)) * 1e6) AS BIGINT) AS unseen_fp
        FROM pri CROSS JOIN ntot JOIN lt ON lt.lang = pri.lang CROSS JOIN voc
      ), w AS (
        SELECT lg.lang, lg.g,
               CAST(FLOOR(LN(CAST(c + 1 AS DOUBLE) / CAST(nl + v AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp
        FROM lg JOIN lt ON lt.lang = lg.lang CROSS JOIN voc
      ), testg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(text) - 2),
               i -> substr(text, i, 3))) AS g
        FROM test
      ), tc AS (
        SELECT doc_id, g, COUNT(*) AS tc FROM testg GROUP BY doc_id, g
      ), seen AS (
        SELECT tc.doc_id, w.lang,
               CAST(SUM(tc * w_fp) AS BIGINT) AS seen_fp,
               CAST(SUM(tc) AS BIGINT) AS seen_c
        FROM tc JOIN w USING (g)
        GROUP BY tc.doc_id, w.lang
      ), grid AS (
        SELECT t.doc_id, s.lang, s.prior_fp, s.unseen_fp,
               CAST(GREATEST(len(t.text) - 2, 0) AS BIGINT) AS tt
        FROM test t CROSS JOIN stats s
      ), scored AS (
        SELECT g.doc_id, g.lang,
               g.prior_fp + COALESCE(se.seen_fp, 0) +
                 (g.tt - COALESCE(se.seen_c, 0)) * g.unseen_fp AS score_fp
        FROM grid g LEFT JOIN seen se
          ON se.doc_id = g.doc_id AND se.lang = g.lang
      ), piv AS (
        SELECT doc_id,
               MAX(CASE WHEN lang = 'keep' THEN score_fp END) AS s_keep,
               MAX(CASE WHEN lang = 'drop' THEN score_fp END) AS s_drop
        FROM scored GROUP BY doc_id
      )"""

  /** The default instantiation — the %10>=8 held-out split (q102/q129/
    * q180); byte-identical to the pre-refactor literal. */
  private[queries] val qualityOracleCtes: String = qualityOracleCtesFor(
    "\n        SELECT doc_id, text FROM lbl WHERE doc_id % 10 >= 8")

  /** q102's scored held-out frame (doc_id, rule_keep, nb_keep,
    * margin_fp), unordered — shared by the ranking (q102) and the
    * calibration bins (q129). */
  private def qualityScored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val test = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .filter($"doc_id" % 10 >= 8)
    val rules = TextOps.gopherStats(test)
      .select($"doc_id", $"keep".as("rule_keep"))
    langIdScoresAll(test.select($"doc_id", $"text"), qualityModelCached(s, d))
      .groupBy($"doc_id")
      .agg(max(when($"lang" === "keep", $"score_fp")).as("s_keep"),
        max(when($"lang" === "drop", $"score_fp")).as("s_drop"))
      .join(rules, Seq("doc_id"))
      .select($"doc_id", $"rule_keep",
        ($"s_keep" - $"s_drop" > 0).as("nb_keep"),
        ($"s_keep" - $"s_drop").as("margin_fp"))
  }

  /** Q102 — model-based quality scoring (GPT-3 Appendix A / LLaMA's
    * quality-classifier pass): the [[qualityModelCached]] binary NB,
    * applied to the held-out split, emitting each document's rule label,
    * the classifier's verdict and its fixed-point keep-margin
    * (s_keep − s_drop), most-confidently-quality first — the ranking a
    * pipeline thresholds or importance-samples over (q90's DSIR is the
    * unigram-likelihood sibling of the same idea). The margin is exact
    * long arithmetic end-to-end; prediction is margin > 0 (a zero
    * margin falls to 'drop', the argmax lang-asc tie-break). Scale
    * shape: q100's — rule labeling and scoring are scan-local, the
    * model is vocabulary-bounded and broadcast.
    */
  private val q102 = Q(
    fn = (s, d) => {
      import s.implicits._
      qualityScored(s, d).orderBy($"margin_fp".desc, $"doc_id")
    },
    oracle = Some(qualityOracleCtes + """
      SELECT p.doc_id, l.keep AS rule_keep,
             (s_keep - s_drop) > 0 AS nb_keep,
             CAST(s_keep - s_drop AS BIGINT) AS margin_fp
      FROM piv p JOIN lbl l ON l.doc_id = p.doc_id
      ORDER BY margin_fp DESC, p.doc_id"""))

  /** Q129 — classifier calibration bins: q102's keep-margin bucketed
    * into whole log-odds units (margin_fp is ln-scale ×10⁶, so
    * `margin_fp div 10⁶` IS the integer nat), clamped to ±10, with the
    * observed rule-keep rate per bin — the reliability diagram
    * (DeGroot & Fienberg 1983; Niculescu-Mizil & Caruana, ICML'05) that
    * answers "does a higher margin actually mean higher quality?" for
    * the q102 model the gates threshold on. A calibrated classifier
    * shows the rate rising with the bin; a flat profile means the
    * margin is noise and the gate's threshold is arbitrary.
    *
    * Deliberately NOT quantile bins: NTILE needs a global sort of the
    * held-out split; fixed log-odds bins are a map-side projection +
    * one ≤21-row aggregate at any corpus size. Truncating division
    * (`div` / `//` — identical toward-zero semantics in both engines)
    * merges the (−1, 1)-nat sliver into bin 0; same rule both sides of
    * the oracle.
    */
  private val q129 = Q(
    fn = (s, d) => {
      import s.implicits._
      qualityScored(s, d)
        .withColumn("logodds_bin",
          least(greatest(expr("margin_fp div 1000000"), lit(-10L)), lit(10L)))
        .groupBy($"logodds_bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"rule_keep", 1L).otherwise(0L)).as("n_rule_keep"),
          sum(when($"nb_keep", 1L).otherwise(0L)).as("n_nb_keep"))
        .withColumn("rule_keep_rate",
          $"n_rule_keep".cast("double") / $"n_docs".cast("double"))
        .orderBy($"logodds_bin")
    },
    oracle = Some(qualityOracleCtes + """,
      binned AS (
        SELECT LEAST(GREATEST((s_keep - s_drop) // 1000000, -10), 10)
                 AS logodds_bin,
               l.keep AS rule_keep,
               (s_keep - s_drop) > 0 AS nb_keep
        FROM piv p JOIN lbl l ON l.doc_id = p.doc_id)
      SELECT CAST(logodds_bin AS BIGINT) AS logodds_bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rule_keep,
             CAST(SUM(CASE WHEN nb_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nb_keep,
             CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS rule_keep_rate
      FROM binned
      GROUP BY logodds_bin
      ORDER BY logodds_bin"""))

  /** q139's core, shared verbatim with the streaming ingest gate
    * ([[graft.streaming.Pipeline.runCodeSwitchGateStream]]) so a
    * document summarizes identically in stream and batch: (doc_id,
    * text) → (doc_id, n_chunks, n_langs, dominant_lang, n_switches)
    * under 16-word windows and model `m`. */
  private[graft] def codeSwitchSummary(docs: DataFrame, m: NbModel): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // coalesce(text, ""): a null text (corrupt wire record through the
    // permissive JSON gate) must yield one prior-only chunk, not
    // posexplode to ZERO rows and vanish from the gate verdict — the
    // langIdScoresAll null rule applied BEFORE the chunker, which would
    // otherwise drop the doc first
    val chunks = docs
      .select($"doc_id", split(coalesce($"text", lit("")), " ").as("ws"))
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), ceil(size($"ws") / lit(16.0)).cast("int") - 1),
        i => array_join(slice($"ws", i * 16 + 1, lit(16)), " ")))
        .as(Seq("ci0", "ctext")))
    // chunk key = doc_id·2²⁰ + (ci0+1): bijective for < 2²⁰ chunks per
    // doc (~16.8M words). The streaming gate ingests arbitrary wire
    // documents, so the bound FAILS LOUDLY instead of aliasing high
    // chunks into the next doc_id's key space (frameHashes' fid rule)
    val preds = langIdScoreDocs(
      chunks.select(
        expr("CASE WHEN doc_id >= 0 AND ci0 + 1 < 1048576" +
          " THEN doc_id * 1048576 + ci0 + 1" +
          " ELSE raise_error(concat('codeSwitchSummary: doc ', doc_id," +
          " ' needs doc_id >= 0 and < 1048575 chunks; the packed key'," +
          " ' decode uses truncating div, which would alias a negative'," +
          " ' doc_id into the neighboring key space')) END")
          .as("doc_id"),
        $"ctext".as("text")), m)
      .select(expr("doc_id div 1048576").as("doc_id"),
        pmod($"doc_id", lit(1048576L)).as("ci"), $"lang_pred")
    val stats = preds
      .withColumn("prev", lag($"lang_pred", 1).over(
        Window.partitionBy($"doc_id").orderBy($"ci")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct($"lang_pred").as("n_langs"),
        sum(when($"prev".isNotNull && $"prev" =!= $"lang_pred", 1L)
          .otherwise(0L)).as("n_switches"))
    val dominant = preds.groupBy($"doc_id", $"lang_pred")
      .agg(count(lit(1)).as("nc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"nc".desc, $"lang_pred")))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang_pred".as("dominant_lang"))
    stats.join(dominant, Seq("doc_id"))
      .select($"doc_id", $"n_chunks", $"n_langs", $"dominant_lang",
        $"n_switches")
  }

  /** Q139 — windowed code-switch detection: document-level language ID
    * (q100) misses MIXED-language documents — boilerplate in one
    * language wrapping content in another, quoted passages, machine-
    * concatenated crawls — which pollute monolingual training splits
    * with a label that is only majority-true. The standard cheap
    * detector re-runs the trained classifier per WINDOW: each held-out
    * document is chunked into fixed 16-word windows (non-overlapping;
    * word-split then space-rejoin reproduces exact substrings), every
    * chunk is scored under q100's SHARED NbScore model artifact, and
    * the per-document summary (chunk count, distinct predicted
    * languages, dominant language by chunk votes with a deterministic
    * (votes desc, lang asc) tie-break, adjacent-chunk switch count) is
    * emitted per doc. n_langs ≥ 2 / n_switches > 0 are the downstream
    * filter's levers; the full summary ships so the query is a
    * deterministic, hash-checkable corpus report rather than a
    * threshold choice.
    *
    * Scale shape: chunk scoring is the SAME scan-local kernel pass as
    * q100 (chunks ride as posexploded pseudo-docs keyed doc_id·2²⁰+ci —
    * zero joins, zero model shuffles, cost ∝ corpus code units ×
    * |langs|); the two per-doc aggregations (lag-window switch count,
    * vote argmax) shuffle one row per CHUNK, map-side combined — no
    * corpus text moves. Exactness: chunk scores are q100's exact
    * fixed-point longs; every output column is an integer or a label.
    */
  private val q139 = Q(
    fn = (s, d) => {
      import s.implicits._
      val test = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 >= 8)
      codeSwitchSummary(test.select($"doc_id", $"text"),
        langIdModelCached(s, d))
        .orderBy($"doc_id")
    },
    oracle = Some(langidModelCtes + """
      , dw AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               CAST(CEIL(len(string_split(text, ' ')) / 16.0) AS BIGINT) AS nc
        FROM test
      ), chunks AS (
        SELECT doc_id, ci,
               array_to_string(list_slice(ws, (ci - 1) * 16 + 1, ci * 16), ' ') AS ctext
        FROM (SELECT doc_id, ws, unnest(generate_series(1, nc)) AS ci FROM dw)
      ), cg AS (
        SELECT doc_id, ci, unnest(list_transform(generate_series(1, len(ctext) - 2),
               i -> substr(ctext, i, 3))) AS g
        FROM chunks
      ), tc AS (
        SELECT doc_id, ci, g, COUNT(*) AS tc FROM cg GROUP BY doc_id, ci, g
      ), seen AS (
        SELECT tc.doc_id, tc.ci, w.lang,
               CAST(SUM(tc * w_fp) AS BIGINT) AS seen_fp,
               CAST(SUM(tc) AS BIGINT) AS seen_c
        FROM tc JOIN w USING (g)
        GROUP BY tc.doc_id, tc.ci, w.lang
      ), grid AS (
        SELECT c.doc_id, c.ci, s.lang, s.prior_fp, s.unseen_fp,
               CAST(GREATEST(len(c.ctext) - 2, 0) AS BIGINT) AS tt
        FROM chunks c CROSS JOIN stats s
      ), scoredc AS (
        SELECT g.doc_id, g.ci, g.lang,
               g.prior_fp + COALESCE(se.seen_fp, 0) +
                 (g.tt - COALESCE(se.seen_c, 0)) * g.unseen_fp AS score_fp
        FROM grid g LEFT JOIN seen se
          ON se.doc_id = g.doc_id AND se.ci = g.ci AND se.lang = g.lang
      ), predc AS (
        SELECT doc_id, ci, lang AS lang_pred,
               ROW_NUMBER() OVER (PARTITION BY doc_id, ci
                                  ORDER BY score_fp DESC, lang) AS rn
        FROM scoredc
      ), p AS (
        SELECT doc_id, ci, lang_pred FROM predc WHERE rn = 1
      ), agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT lang_pred) AS BIGINT) AS n_langs,
               CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> lang_pred
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
        FROM (SELECT doc_id, ci, lang_pred,
                     LAG(lang_pred) OVER (PARTITION BY doc_id ORDER BY ci) AS prev
              FROM p)
        GROUP BY doc_id
      ), dom AS (
        SELECT doc_id, lang_pred AS dominant_lang FROM (
          SELECT doc_id, lang_pred,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY COUNT(*) DESC, lang_pred) AS rn
          FROM p GROUP BY doc_id, lang_pred) WHERE rn = 1
      )
      SELECT agg.doc_id, n_chunks, n_langs, dominant_lang, n_switches
      FROM agg JOIN dom USING (doc_id)
      ORDER BY agg.doc_id"""))

  val all: Map[String, Q] = Map(
    "q100_langid_trained" -> q100,
    "q102_quality_classifier" -> q102,
    "q129_quality_calibration" -> q129,
    "q139_codeswitch_windows" -> q139,
    "q149_nb_unlearn" -> q149,
  )
}
