package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis / deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline surface the reference lacks but a
  * 100 TB corpus engine needs (builder brief; SURVEY.md §7 step 8).
  *
  * Scale design notes (each query is written for the 1000-executor case,
  * not just the 500-row test table):
  *  - exact dedup groups by a 128-bit content hash, so the shuffle key is
  *    16 bytes regardless of document size;
  *  - the exact near-dup join is prefix-filtered (PPJoin-style): shingles
  *    are globally ordered by document frequency (rarest first) and only
  *    each document's prefix participates in the candidate self-join, so
  *    hot shingles never fan out quadratically;
  *  - MinHash/LSH and SimHash banding bound candidate generation by
  *    bucket, never all-pairs;
  *  - everything is built-in Catalyst expressions (higher-order array
  *    functions, xxhash64) — no UDFs, whole-stage codegen throughout.
  */
object TextOps {

  /** Whitespace word tokens. */
  private[queries] def words(text: Column): Column = split(text, " ")

  /** Non-empty whitespace word count of `text` (null counts 0), as a
    * long. No lambda: Spark evaluates a projection over local rows on
    * the driver, where every plan built from one column shares its
    * lambda variable, so concurrent writes of such plans (an
    * [[Additive.save]]) would race on it. */
  private[graft] def nwOf(text: Column): Column =
    size(array_remove(words(coalesce(text, lit(""))), "")).cast("long")

  /** Pathological-bucket guard for candidate generation (q18/q19/q20): a
    * bucket (shared prefix shingle / LSH band / SimHash byte) larger than
    * `maxBucket` would explode quadratically at pair time. Cap it to the
    * first `maxBucket` entries in sorted order (deterministic — collect_list
    * order is not). Normal buckets pass through untouched, so results are
    * unchanged wherever the cap doesn't trigger; where it does, the
    * truncation is the standard LSH-dedup trade (a bucket shared by
    * millions of documents carries ~no similarity signal). Session-tunable
    * via `graft.text.maxBucket` (default 4096).
    */
  private[queries] def capBucket(ds: Column, maxBucket: Int): Column =
    when(size(ds) > maxBucket, slice(array_sort(ds), 1, maxBucket)).otherwise(ds)

  private[queries] def maxBucket(s: SparkSession): Int =
    s.conf.get("graft.text.maxBucket", "4096").toInt

  /** documents → (doc_id, n: int, hs: array<long>) with n = |shingles| and
    * hs the sorted xxhash64 values of the distinct word-3-gram shingles.
    *
    * The explicit repartition spreads the per-document work (shingling,
    * hashing — interpreted higher-order lambdas) across all cores: the
    * test corpus is one tiny parquet file = one scan partition, which
    * would otherwise serialize every downstream computation. At real
    * scale the corpus arrives as many splits and this is a cheap
    * round-robin of ~1 task's data.
    */
  private[queries] def shingled(s: SparkSession, d: String): DataFrame =
    shingleDocs(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism))

  /** (doc_id, text, …) → (doc_id, n: int, hs: array<long>) for ANY
    * document frame — the corpus form above and arriving snapshots /
    * micro-batches ([[dedupAgainstIndex]]) go through the SAME
    * expressions, so an arriving document shingles identically to how
    * the stored corpus was indexed.
    *
    * hs: the shingle set as a sorted xxhash64 array — the only form the
    * dedup family needs (candidate generation explodes it, MinHash/
    * SimHash kernels consume raw hashes, verification merge-intersects
    * two of them), so the strings never leave this projection and the
    * cached corpus is ~8 bytes per shingle. One native pass
    * (split → k-gram → string-distinct → hash → sort); n stays the
    * exact string-distinct count. Bit-compatible with
    * array_sort(transform(word_shingles(text), xxhash64)) — parity
    * spec in ExpressionsSpec.
    */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", graft.functions.expressions.shingle_hashes($"text").as("hs"))
      .filter(size($"hs") >= 1)
      .select($"doc_id", size($"hs").as("n"), $"hs")
  }

  /** Exact Jaccard verification of candidate pairs (i < j): join the two
    * shingle sets back in and keep pairs with jaccard >= minJaccard.
    * `common` and the set sizes are exact ints, so the single double
    * division is bit-identical across engines.
    *
    * Intersection runs on the sorted xxhash64 arrays (`hs`) with the
    * native merge kernel — no per-row hash-set build, no string compares.
    * Hash identity is exact up to 64-bit collisions (for a corpus of 10^9
    * distinct shingles the chance of ANY colliding pair is ~3e-2, and a
    * collision shifts one pair's `common` by 1 only if the two colliding
    * shingles land in the same candidate pair — the practical standard
    * for dedup at scale; `n_i`/`n_j` stay exact string-distinct counts).
    *
    * Callers dedup candidates BEFORE this join: a true near-dup pair
    * re-surfaces once per shared prefix shingle / matching LSH band —
    * measured 5.5× on a realistic Zipf corpus (SCALE.md x100; the dense
    * sf0.1 corpus shows only 1.05×, which is why benchmark-tuning this
    * away would be a trap). The candidate `distinct()` is map-side
    * combined, so its exchange carries ~unique pairs, while skipping it
    * would multiply the join input and every verification merge by the
    * dup factor.
    *
    * No broadcast hint: candidates are usually ≪ corpus (the documented
    * contract), and at test scale AQE broadcasts them on its own — but a
    * high-dup-mass corpus makes the candidate set grow with the dup mass,
    * and a hard hint would force that whole set into executor memory
    * exactly when it is largest. Leaving the choice to AQE keeps the
    * map-side join when candidates are small and degrades to a shuffle
    * join instead of an OOM when they are not (the q95/q103 lesson
    * applied to the family's own verification leg).
    */
  private[queries] def verifyPairs(cand: DataFrame, docs: DataFrame, minJaccard: Double): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(docs.select($"doc_id".as("i"), $"hs".as("hs_i"), $"n".as("n_i")), Seq("i"))
      .join(docs.select($"doc_id".as("j"), $"hs".as("hs_j"), $"n".as("n_j")), Seq("j"))
      .withColumn("common",
        graft.functions.expressions.sorted_intersect_count($"hs_i", $"hs_j"))
      .withColumn("jaccard", $"common".cast("double") / ($"n_i" + $"n_j" - $"common"))
      .filter($"jaccard" >= minJaccard)
      .select($"i", $"j", $"n_i".cast("long").as("n_i"),
        $"n_j".cast("long").as("n_j"), $"common", $"jaccard")
      .orderBy($"i", $"j")
  }

  /** The word-3-gram shingle explode shared by the near-dup oracles
    * (q18/q19's pair select and q178's threshold sweep — one extracted
    * string, the replays cannot drift). */
  private[queries] val nearDupShingleCtes = """
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )"""

  /** Near-dup output oracle, shared by q18 (exact) and q19 (MinHash-LSH):
    * the LSH variant is verified-exact on its candidates and its recall at
    * the data's jaccard levels (all true pairs >= 0.8) is ~1-1e-4, so both
    * produce the true pair set; verified equal at sf0.01 via local_verify.
    */
  private val nearDupOracle = s"""$nearDupShingleCtes
      SELECT a.doc_id AS i, b.doc_id AS j,
             any_value(a.n) AS n_i, any_value(b.n) AS n_j,
             COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ORDER BY i, j"""

  /** Q17 — exact deduplication by content hash (hash group-by; brief's
    * "exact dedup"). Groups on md5(text) so the shuffle key is 16 bytes,
    * not the document; keeps the lowest doc_id as the deterministic
    * survivor. At sf0.1 the table contains real exact duplicates.
    */
  private val q17 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select($"keep_id", $"n_copies")
        .orderBy($"keep_id")
    },
    oracle = Some("""
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY md5(text)
      ORDER BY keep_id"""))

  /** q18's full pipeline as a reusable building block: the verified exact
    * near-duplicate pair set at `t` (also the edge list for q47's cluster
    * construction). Result is materialized (localCheckpoint) with the
    * corpus cache already released.
    */
  private[queries] def nearDupPairs(s: SparkSession, d: String, t: Double = 0.5): DataFrame = {
      import s.implicits._
      // persist: the shingled corpus feeds candidate generation AND both
      // sides of the verification join — three independent plan subtrees
      // that would otherwise each rerun the scan + shingle kernel. The
      // small verified-pairs result is materialized (localCheckpoint)
      // before the cache is released, so nothing stays pinned after the
      // query returns.
      val docs = shingled(s, d).persist()
      try verifyPairs(ppjoinCandidates(docs, t), docs, t).localCheckpoint()
      finally docs.unpersist()
  }

  /** Each document's shingle set ranked rare-first by the global
    * (df, h) order: (doc_id, n, sh: array<struct<df, h>>) with `sh`
    * ascending — the shared stage under q18's prefix-sliced candidate
    * generation and q114's full-rank probe/index legs.
    *
    * Works on the 8-byte shingle hashes (`hs`, hashed once under the
    * cache), not strings: df counting, ranking and bucketing only need a
    * consistent identity, and a rare hash collision merely merges two
    * buckets — extra candidates that verification filters right back
    * out. Ranking is a per-doc in-row sort (ObjectHashAggregate +
    * array_sort) instead of a sort-based window: the exchange by doc_id
    * is the same, but the partition-wide sort of every (doc, shingle)
    * row becomes ~shingles-per-doc-sized in-row sorts. Memory trade:
    * collect_list holds one doc's full (df, h) array in the agg buffer
    * (~16 B/shingle) where the window form spilled — bounded because
    * documents are length-bounded upstream (q48's quality gate); a
    * corpus of pathological multi-GB "documents" should use the window
    * form instead.
    */
  private def dfRankedShingles(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ex = docs.select($"doc_id", $"n", explode($"hs").as("h"))
    val dfreq = ex.groupBy($"h").agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("h"))
      .groupBy($"doc_id")
      .agg(first($"n").as("n"),
        array_sort(collect_list(struct($"df", $"h"))).as("sh"))
  }

  /** q18's candidate-generation leg (PPJoin prefix + length + position
    * filters over a shingled corpus), exposed for reuse and leg-level
    * profiling. Returns distinct (i, j) candidate pairs, i < j (see
    * [[verifyPairs]] on why dedup belongs on the candidate side).
    */
  private[queries] def ppjoinCandidates(docs: DataFrame, t: Double): DataFrame = {
      import docs.sparkSession.implicits._
      {
        val s = docs.sparkSession
        // exact integer threshold: t as parts-per-million, so
        // alpha = ceil(t·n) = (n·p + 999999) div 10⁶ can never over-round
        // the way float ceil(n*t) does (20·0.55 = 11.000000000000002 in
        // IEEE → ceil 12 → a one-short prefix silently DROPS true pairs).
        // Identical to the float form at the t=0.5 default (n/2 is exact
        // in binary); exact for any t with ≤ 6 decimals — the contract.
        val p = math.round(t * 1e6)
        // only the prefix survives the explode (q114 explodes the full
        // ranking for its index side — the shared stage is factored as
        // dfRankedShingles)
        val prefix = dfRankedShingles(docs)
          .select($"doc_id", $"n",
            posexplode(slice($"sh", lit(1),
              ($"n" - expr(s"(n * ${p}L + 999999L) div 1000000L") + 1)
                .cast("int"))).as(Seq("p0", "e")))
          // rare-first ranking puts the df=1 shingles at the FRONT of
          // every prefix, and a df=1 shingle's bucket has exactly one
          // entry — it can never produce a pair. Dropping them AFTER the
          // slice (ranks are already assigned, so the position filter's
          // rk values are unchanged) typically sheds the majority of the
          // bucket-shuffle volume. Lossless: `size(ds) > 1` discarded the
          // same rows a shuffle later.
          .filter($"e.df" > 1)
          .select($"doc_id", $"n", ($"p0" + 1).as("rk"), $"e.h".as("h"))
        // Bucket-collect pair generation (prefix entries computed once, no
        // self-join): group by shingle hash, then one native kernel pass
        // per bucket (PPJoinPairs) applies the cap, the length filter
        // (t*n_i <= n_j) and the position filter (see the Scaladoc proof)
        // in a tight primitive loop — the nested-transform explosion it
        // replaced built a 6-field struct per raw pair through
        // interpreted lambdas and was the q18 bench ceiling. Both filters
        // are symmetric in (x, y) so the kernel's min/max id ordering
        // never splits an (n, rk) pair across documents.
        val cand = prefix.groupBy($"h")
          .agg(collect_list(struct($"doc_id", $"n", $"rk")).as("ds"))
          .filter(size($"ds") > 1)
          .select(explode(graft.functions.expressions
            .ppjoin_pairs($"ds", t, maxBucket(s))).as("p"))
          .select($"p.a".as("i"), $"p.b".as("j"))
          .distinct()
        cand
      }
  }

  /** Q18 — exact near-duplicate pairs by word-3-gram Jaccard >= 0.5,
    * prefix-filtered (brief's "n-gram Jaccard" dedup).
    *
    * Candidate generation: shingles are ranked per document by global
    * document frequency ascending (rare first); only the first
    * n - ceil(0.5*n) + 1 shingles (the prefix) join. Any pair with
    * jaccard >= t shares >= ceil(t*n) shingles, hence shares a prefix
    * shingle under a common global order — lossless, while hot shingles
    * (df in the thousands) sit at the end of every ranking and never
    * generate candidates. A length filter (t*n_i <= n_j) prunes further,
    * and the PPJoin position filter prunes per shared shingle: a pair at
    * jaccard >= t needs overlap alpha = ceil(t/(1+t)*(n_i+n_j)); the first
    * shingle the pair shares under the global order bounds the achievable
    * overlap by min(n_i - rk_i, n_j - rk_j) + 1 (every later common
    * shingle sits after it in both rankings), and that first shared
    * shingle is provably inside both prefixes, so keeping a pair iff ANY
    * shared prefix shingle passes the bound is lossless. alpha is computed
    * in integers (t = 0.5 -> floor((n_i+n_j+2)/3)), so no float rounding
    * can over-prune. The final answer is exact, so the naive all-pairs SQL
    * is a valid oracle.
    */
  private val q18 = Q(
    fn = (s, d) => nearDupPairs(s, d),
    oracle = Some(nearDupOracle))

  /** Q114 — asymmetric containment near-dup: pairs (i, j) where shingle
    * set i is ≥ t-contained in shingle set j (C(A,B) = |A∩B|/|A|,
    * n_i ≤ n_j). The dedup question Jaccard structurally misses: a
    * paragraph quoted inside a 100× longer document has J ≈ |A|/|B| → 0
    * but C = 1 — containment is the standard detector for quote/subset/
    * boilerplate-wrapper duplication (Broder's resemblance vs containment
    * split, SEQUENCES'97; q86 removes duplicated SPANS, this FINDS the
    * engulfing relations pair-wise).
    *
    * Candidate generation is q18's rare-first prefix device, re-derived
    * for the asymmetric bound: a pair at C ≥ t shares ≥ ceil(t·n_i)
    * shingles, so under any fixed global shingle order the CONTAINED
    * side's prefix of length n_i − ceil(t·n_i) + 1 must hold a shared
    * shingle (pigeonhole — all shared shingles outside the prefix would
    * number ≤ ceil(t·n_i) − 1). Unlike Jaccard's symmetric join, the
    * container side cannot be prefix-truncated (its required rank depends
    * on the probe's n_i, unknown at index time), so prefixes probe the
    * FULL posting list — the inverted index q71 materializes anyway.
    * Pruning in the join: the length filter n_j ≥ ceil(t·n_i), the
    * position filter min(n_i − rk_i, n_j − rk_j) + 1 ≥ ceil(t·n_i) (the
    * first shared shingle bounds achievable overlap from both ranks; both
    * rank vectors share the (df, h) order so the bound is lossless), and
    * integer alpha arithmetic so float rounding can never over-prune.
    *
    * Scale shape: one df count, two in-row prefix/rank sorts under one
    * doc_id exchange, one equi-join keyed by 8-byte shingle hash whose
    * probe side is rare-first prefixes (hot shingles never probe; df=1
    * entries are shed from BOTH legs before the exchange — any join row
    * they produced was the self-pair i = j, see the shed comment at the
    * ranked stage), candidates distinct-collapsed before the
    * verification join (q18's merge-intersect kernel; AQE-chosen side). At 100 TB the
    * in-bucket pair loop moves into a PPJoinPairs-style kernel with the
    * asymmetric alpha — declared lever, not needed at measured scale
    * (ScaleBench row in SCALE.md).
    */
  private val q114 = Q(
    fn = (s, d) => {
      import s.implicits._
      val t = 0.8
      val docs = shingled(s, d).persist()
      try {
        // one in-row (df, h)-ascending sort per doc ([[dfRankedShingles]],
        // shared with q18) serves BOTH legs: full ranks for the index
        // side, the first n - ceil(t*n) + 1 entries for the probe side
        // materialized once — the probe and index legs below are two
        // independent subtrees of the same ranking
        val ranked = dfRankedShingles(docs)
          .select($"doc_id", $"n",
            posexplode($"sh").as(Seq("p0", "e")))
          // df = 1 shed, BOTH legs (q18's prefix device, extended to the
          // index side): a join row requires its shingle in probe doc i
          // AND index doc j with i != j, i.e. df >= 2 — a df = 1 entry
          // can only ever produce the self-pair the i != j filter
          // discards. Ranks are already assigned (posexplode over the
          // full vector), so rk/n arithmetic in both filters is
          // untouched; lossless by the pigeonhole that defines df. On a
          // Zipf corpus the rare-first prefixes are df = 1-heavy, so
          // this sheds most of the probe leg and a large slice of the
          // index leg before the equi-join's exchange (guide §2.3).
          .filter($"e.df" > 1)
          .select($"doc_id", $"n", ($"p0" + 1).as("rk"), $"e.h".as("h"))
          .localCheckpoint()
        // alpha = ceil(0.8·n) computed EXACTLY in integers as
        // (4n + 4) div 5 — double ceil(n*0.8) could round across an
        // integer for other thresholds and silently over-prune (q18's
        // kernel carries the same discipline for its t = 0.5 bound)
        val probe = ranked
          .filter($"rk" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
          .select($"doc_id".as("i"), $"n".as("n_a"), $"rk".as("rk_a"), $"h")
        val index = ranked
          .select($"doc_id".as("j"), $"n".as("n_b"), $"rk".as("rk_b"), $"h")
        val alpha = expr("(n_a * 4 + 4) div 5")
        val cand = probe.join(index, Seq("h"))
          .filter($"i" =!= $"j")
          .filter($"n_a" < $"n_b" || ($"n_a" === $"n_b" && $"i" < $"j"))
          .filter($"n_b" >= alpha)
          .filter(least($"n_a" - $"rk_a", $"n_b" - $"rk_b") + 1 >= alpha)
          .select($"i", $"j").distinct()
        // no broadcast hint — AQE picks broadcast at test scale and
        // falls back to a shuffle join when containment mass is large
        // (see verifyPairs)
        cand
          .join(docs.select($"doc_id".as("i"), $"hs".as("hs_i"), $"n".as("n_i")), Seq("i"))
          .join(docs.select($"doc_id".as("j"), $"hs".as("hs_j"), $"n".as("n_j")), Seq("j"))
          .withColumn("common",
            graft.functions.expressions.sorted_intersect_count($"hs_i", $"hs_j"))
          .withColumn("containment", $"common".cast("double") / $"n_i")
          .filter($"containment" >= t)
          .select($"i", $"j", $"n_i".cast("long").as("n_i"),
            $"n_j".cast("long").as("n_j"), $"common".cast("long").as("common"),
            $"containment")
          .orderBy($"i", $"j")
          .localCheckpoint()
      } finally docs.unpersist()
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )
      SELECT a.doc_id AS i, b.doc_id AS j,
             any_value(a.n) AS n_i, any_value(b.n) AS n_j,
             COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE) / any_value(a.n) AS containment
      FROM ex a JOIN ex b ON a.s = b.s
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE) / any_value(a.n) >= 0.8
      ORDER BY i, j"""))

  /** One alternation step of the large-star/small-star connected-components
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Edges are undirected, kept with no self-loops.
    *
    *  - large-star: for every node u, hook each LARGER neighbor onto the
    *    minimum of u's closed neighborhood;
    *  - small-star: orient edges large→small; hook each smaller neighbor
    *    (and u itself) onto the minimum.
    *
    * Both steps are a groupBy-min + a re-join of the edge list — two
    * shuffles each, no collect_list of neighborhoods, so a celebrity node
    * with 10^8 neighbors never materializes a bucket. Converges in
    * O(log^2 n) alternations on any graph (paper Thm 3); near-dup
    * components are dense and converge in 2–3.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
    val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u", least($"u", $"mn").as("m"))
    // duplicates are tolerated here (smallStar's terminal distinct dedups):
    // one fewer shuffle per alternation
    sym.join(mins, "u").filter($"v" > $"u")
      .select($"v".as("u"), $"m".as("v"))
      .filter($"u" =!= $"v")
  }

  private def smallStar(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
    val lo = sym.filter($"v" < $"u")
    val mins = lo.groupBy($"u").agg(min($"v").as("m"))
    lo.join(mins, "u").select($"v".as("u"), $"m".as("v"))
      .union(mins.select($"u", $"m".as("v")))
      .filter($"u" =!= $"v").distinct()
  }

  /** Connected components over an undirected (u, v) edge list: every
    * vertex that appears in an edge is labeled with its component's
    * minimum vertex id. Iterated large-star/small-star with a
    * (count, bit_xor) set-fingerprint convergence check — see
    * [[largeStar]]. `maxIters` caps runaway graphs (O(log² n) alternations
    * suffice; 24 covers any practical n; a SUM of random 64-bit hashes
    * would trip ANSI overflow, hence xor).
    */
  private[graft] def connectedComponents(pairs: DataFrame, maxIters: Int = 24): DataFrame = {
    import pairs.sparkSession.implicits._
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = pairs
    var fp = fingerprint(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prev = edges
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nfp = fingerprint(next)
      // the (count, bit_xor) fingerprint is a ~2^-64 probabilistic check;
      // on a match, confirm with ONE exact set difference before declaring
      // convergence (counts are exact via the fingerprint's first half, so
      // an empty one-sided anti-join implies set equality). Runs once per
      // convergence, not per iteration — the && short-circuits.
      converged = nfp == fp && next.join(prev, Seq("u", "v"), "left_anti").isEmpty
      edges = next; fp = nfp; iter += 1
    }
    require(converged, s"connected components did not converge in $iter alternations")
    // converged edges are stars (x → component min); add the roots
    edges.select($"u".as("vertex"), $"v".as("rep"))
      .union(edges.select($"v".as("vertex"), $"v".as("rep")))
      .distinct()
  }

  /** q47's verified near-dup clustering persisted once per JVM via
    * [[IndexCache]] ([[graft.queries.VectorOps.kmeansAssignCached]]'s
    * pattern): q47 and q91 consume the SAME (doc_id, cluster_rep)
    * labeling, so the LSH candidate pass, the exact-Jaccard verification
    * and the large-star/small-star alternations run once per dataset and
    * every later consumer pays one artifact read.
    *
    * The LSH pipeline produces the same verified pair set as the exact
    * q18 path (QueriesSpec asserts equality) without its global
    * document-frequency shuffle — the right edge generator at 100 TB.
    */
  private def dedupClusterArtifact(s: SparkSession, d: String): String =
    IndexCache.artifact("ccluster", d) { p =>
      import s.implicits._
      // the verified pair set persists ALONGSIDE the labeling: star
      // edges are connectivity-equivalent for APPENDS (adding edges
      // can only merge), but removal needs the true pairs — a victim
      // can be the bridge between two sub-clusters, and only the
      // original edges know whether the component splits
      // ([[removeFromClusters]]). nearDupPairsLsh already returns a
      // localCheckpointed frame; the rename is lineage-only. The exact
      // jaccard rides along (verifyPairs computes it anyway) so
      // artifact consumers that need similarity values — q178's
      // threshold sweep — read them off the store instead of
      // re-shingling the corpus.
      val pairs = nearDupPairsLsh(s, d)
        .select($"i".as("u"), $"j".as("v"), $"jaccard")
      pairs.write.mode("overwrite").parquet(s"$p/edges")
      connectedComponents(pairs.select($"u", $"v"))
        .select($"vertex".as("doc_id"), $"rep".as("cluster_rep"))
        .write.mode("overwrite").parquet(s"$p/labels")
    }

  private[graft] def dedupClustersCached(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${dedupClusterArtifact(s, d)}/labels")

  /** The verified near-dup pair set underlying [[dedupClustersCached]]
    * — the removal path's source of truth. The 3-column store schema
    * `(u, v, jaccard)` is a contract (q145's removal path needs u/v;
    * q178's threshold sweep needs jaccard), so assert it at read time:
    * a future writer that narrows the store fails HERE, loudly, not
    * inside a downstream consumer's analysis error. */
  private[graft] def dedupEdgesCached(s: SparkSession, d: String): DataFrame = {
    val df = Tables.parquet(s, s"${dedupClusterArtifact(s, d)}/edges")
    val expected = Seq("u", "v", "jaccard")
    require(expected.forall(df.columns.contains),
      s"dedup edges store at ${dedupClusterArtifact(s, d)}/edges must carry " +
        s"columns $expected (the q145 removal + q178 sweep contract); " +
        s"found ${df.columns.toSeq}")
    df
  }

  /** Exact takedown on the near-dup cluster labeling — the removal
    * counterpart of [[appendToClusters]]. Appends only ever MERGE, so
    * star edges suffice there; removal can SPLIT a component (the
    * victim may be the only bridge between two groups of near-dups),
    * which no function of the labeling alone can decide — hence the
    * artifact persists the verified pair set and removal re-clusters
    * from it. Victim-incident edges drop (two anti-joins, unhinted —
    * the q95/q103 AQE rule), components untouched by any victim pass
    * through verbatim, and only the touched components re-enter
    * connected components over their SURVIVING edges (both endpoints
    * of an edge share a component, so restricting on `u` is
    * complete). A touched doc whose every partner was removed leaves
    * the labeling — exactly as a rebuild over the survivors would
    * drop it (the labeling contains only docs in ≥ 1 verified pair).
    * Result == from-scratch rebuild on the survivor corpus whenever
    * the persisted pair set is the true pair set (every verify SF and
    * production dup fractions — the exact-Jaccard pair property is
    * pair-local: removing docs never changes whether two SURVIVORS
    * are near-dups) — q145's oracle hash-checks it, QueriesSpec pins
    * the bridge-split case the star-edge shortcut would get wrong.
    * Cap regime (the q135 caveat's mirror image): if the artifact was
    * built under a capBucket overflow, pairs the capped build DROPPED
    * are not in the store, so a from-scratch rebuild on survivors
    * (whose shrunken buckets may no longer overflow) can discover
    * merges this removal cannot — divergence one-sided in the
    * opposite direction from append's (removal never invents a pair;
    * it can only miss merges the capped build never knew). The
    * touched subgraph is victim-bounded: [[boundedCC]] picks the
    * driver union-find below the 200k-edge threshold, the distributed
    * alternation above it. */
  private[graft] def removeFromClusters(labels: DataFrame, edges: DataFrame,
      victims: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    val vic = victims.select($"doc_id").distinct().localCheckpoint()
    // narrow to (u, v) whatever the store carries alongside (the edges
    // artifact also persists jaccard for q178's sweep): the distributed
    // CC branch unions the input with a 2-column projection positionally
    // and would throw on a wider frame
    val survEdges = edges.select($"u", $"v")
      .join(vic.select($"doc_id".as("u")), Seq("u"), "left_anti")
      .join(vic.select($"doc_id".as("v")), Seq("v"), "left_anti")
    val touchedReps = labels.join(vic, Seq("doc_id"), "left_semi")
      .select($"cluster_rep".as("tr")).distinct()
    val untouched = labels
      .join(touchedReps, labels("cluster_rep") === touchedReps("tr"), "left_anti")
    val touchedDocs = labels
      .join(touchedReps, labels("cluster_rep") === touchedReps("tr"), "left_semi")
      .select($"doc_id".as("u"))
    val relabeled = boundedCC(
      survEdges.join(touchedDocs, Seq("u"), "left_semi").localCheckpoint())
    untouched.unionByName(relabeled)
  }

  /** CC-algorithm chooser shared by the two cluster-maintenance legs
    * ([[appendToClusters]], [[removeFromClusters]]): their delta
    * subgraphs are snapshot-/victim-bounded by construction, and below
    * the threshold a driver union-find labels them in microseconds
    * where the distributed alternation loop pays multiple scheduled
    * jobs per iteration (measured: ~3 s of pure overhead for an
    * 83-edge graph at sf0.1); a dup storm that merges corpus-scale
    * mass into the delta exceeds the threshold and takes the
    * distributed path — a 200k-edge collect is ~3 MB, the same
    * bounded-artifact budget as the centroid/probe collects. */
  private def boundedCC(ccInput: DataFrame): DataFrame = {
    import ccInput.sparkSession.implicits._
    // threshold session-tunable (default 200k) so specs can force the
    // distributed branch on small graphs — the branch the wide-edges
    // regression (jaccard column in the store) would otherwise only
    // exercise in a dup-storm
    val driverMax = ccInput.sparkSession.conf
      .get("graft.text.ccDriverMax", "200000").toLong
    (if (ccInput.count() <= driverMax) unionFindCC(ccInput)
     else connectedComponents(ccInput))
      .select($"vertex".as("doc_id"), $"rep".as("cluster_rep"))
  }

  /** Incremental MAINTENANCE of the near-dup cluster labeling — the
    * clustering counterpart of [[appendToMinHashIndex]]: production
    * corpora append daily, and rebuilding `dedupClustersCached` from
    * scratch re-pays the whole corpus's LSH + connected-components for
    * a snapshot-sized delta.
    *
    * `labels` is an existing (doc_id, cluster_rep) star labeling (a
    * prior [[connectedComponents]] output); `newPairs` the NEW verified
    * near-dup edges (u, v) — snapshot×stored admissions plus
    * snapshot-internal pairs. Only components TOUCHED by a new edge are
    * re-clustered: their star edges (vertex → rep, connectivity-
    * equivalent to the original component by the star property) union
    * the new edges re-enter large-star/small-star; untouched labels
    * pass through verbatim. Result == a from-scratch rebuild over the
    * union graph (QueriesSpec pins it; q135's oracle hash-checks the
    * end-to-end composition against DuckDB's independent full-corpus
    * CC), at cost ∝ touched-component + snapshot size, never corpus
    * size. The equality is over the EDGES THE CALLER SUPPLIES: when an
    * upstream pair generator truncates (capBucket under a dup storm —
    * see q135's contract), append-only edge addition can only ever
    * over-merge relative to a capped rebuild, never under-merge. Join choices are AQE's: the touched-reps side is bounded by
    * 2·|newPairs| and broadcasts at any realistic snapshot size, but no
    * hint forces it (this round's verifyPairs lesson).
    */
  private[graft] def appendToClusters(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    // min-first orientation, distinct-collapsed: bounded materialization
    val np = newPairs
      .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .filter($"u" =!= $"v").distinct().localCheckpoint()
    val touchedV = np.select($"u".as("doc_id"))
      .union(np.select($"v".as("doc_id"))).distinct()
    // current reps of every touched vertex (unlabeled vertices are their
    // own provisional rep — brand-new docs and never-clustered singletons)
    val touchedReps = touchedV.join(labels, Seq("doc_id"), "left")
      .select(coalesce($"cluster_rep", $"doc_id").as("tr")).distinct()
    val touched = labels
      .join(touchedReps, labels("cluster_rep") === touchedReps("tr"))
      .drop("tr")
    val starEdges = touched.filter($"doc_id" =!= $"cluster_rep")
      .select(least($"doc_id", $"cluster_rep").as("u"),
        greatest($"doc_id", $"cluster_rep").as("v"))
    // the merged subgraph is snapshot-bounded by construction (touched
    // components + new edges) — [[boundedCC]] carries the measured
    // chooser rationale
    val merged = boundedCC(
      starEdges.unionByName(np).distinct().localCheckpoint())
    val untouched = labels
      .join(touchedReps, labels("cluster_rep") === touchedReps("tr"), "left_anti")
    untouched.unionByName(merged)
  }

  /** Driver-side connected components over a BOUNDED edge list —
    * bit-identical contract to [[connectedComponents]] (every vertex
    * appearing in an edge labeled with its component's minimum vertex
    * id), for the snapshot-bounded subgraphs of [[appendToClusters]]
    * where the distributed alternation loop is all scheduling overhead.
    * Classic union-find with path halving; component minima resolved in
    * a second pass. Callers guard the collect with an explicit count
    * threshold.
    */
  private[queries] def unionFindCC(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val es = edges.select($"u", $"v").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { x =>
      val r = find(x)
      minOf(r) = math.min(minOf.getOrElse(r, x), x)
    }
    parent.keys.toSeq.sorted
      .map(x => (x, minOf(find(x))))
      .toDF("vertex", "rep")
  }

  /** The stored-80% clustering artifact (q135's "yesterday" state),
    * cached per JVM like [[dedupClustersCached]] but over the
    * `doc_id % 10 < 8` split — the same deterministic stored/arriving
    * convention as q82/q95. */
  private[queries] def storedClustersCached(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, IndexCache.artifact("cclusterstored", d) { p =>
      import s.implicits._
      val stored = shingleDocs(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 < 8)).persist()
      try connectedComponents(
          nearDupPairsLshFromShingled(stored).select($"i".as("u"), $"j".as("v")))
        .select($"vertex".as("doc_id"), $"rep".as("cluster_rep"))
        .write.mode("overwrite").parquet(p)
      finally stored.unpersist()
    })

  /** Q135 — incremental cluster maintenance, end to end: cluster the
    * stored 80% once ([[storedClustersCached]]), admit the arriving 20%
    * against the stored MinHash index (q82's [[dedupAgainstIndex]] —
    * new×old verified pairs), LSH the snapshot against itself for
    * new×new pairs ([[nearDupPairsLshFromShingled]] on the snapshot
    * only), then [[appendToClusters]]. Every pair of the union corpus
    * is stored×stored (inside the prior labeling), new×old, or
    * new×new, so the appended labeling EQUALS the from-scratch
    * full-corpus clustering — which is why this query can share q47's
    * independent DuckDB connected-components oracle verbatim: the
    * incremental path must land on the exact same (doc_id,
    * cluster_rep, keep) rows. Steady-state cost (artifacts built) is
    * the snapshot probe + the touched-component CC — ∝ snapshot, not
    * corpus (SCALE.md round-9 measurement).
    *
    * Cap regime (`graft.text.maxBucket`, default 4096): the equality
    * above holds whenever no (band, bh) bucket of the UNION corpus
    * exceeds the cap — true at every verify SF and at production dup
    * fractions. Under a dup storm that overflows a bucket, exact
    * equality with a capped rebuild is impossible by construction (the
    * rebuild keeps the cap-smallest ids of the UNION bucket; append-only
    * edge addition cannot un-merge), but the divergence is one-sided
    * and safe: each incremental leg caps over a SUBSET of the union
    * bucket (stored-only, snapshot-only, probe uncapped), so its kept
    * ids — hence its pair set — are a superset of the rebuild's, and
    * the incremental labeling only ever merges MORE, never less. A
    * dedup pipeline that over-merges drops extra near-dups; it never
    * silently re-admits one. QueriesSpec pins both directions: equality
    * at the default cap, superset-only under a forced cap overflow.
    */
  private val q135 = Q(
    fn = (s, d) => {
      import s.implicits._
      val storedLabels = storedClustersCached(s, d)
      val arriving = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 >= 8)
      val newOld = dedupAgainstIndex(arriving, minHashIndexCached(s, d))
        .select($"new_doc_id".as("u"), $"old_doc_id".as("v"))
      val fresh = shingleDocs(arriving).persist()
      val newNew =
        try nearDupPairsLshFromShingled(fresh).select($"i".as("u"), $"j".as("v"))
        finally fresh.unpersist()
      appendToClusters(storedLabels, newOld.unionByName(newNew))
        .withColumn("keep", $"doc_id" === $"cluster_rep")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      )
      SELECT u AS doc_id, MIN(r) AS cluster_rep, u = MIN(r) AS keep
      FROM reach GROUP BY u ORDER BY doc_id"""))

  /** Q47 — near-duplicate CLUSTERS: the pairs→groups step real dedup needs
    * (a pair list alone can't pick survivors when A~B and B~C but A!~C).
    * Connected components over the verified near-dup pair set (generated
    * by the LSH pipeline — equal to q18's exact pair set, spec-asserted)
    * via iterated large-star/small-star; each doc maps to its component's
    * minimum doc_id, `keep` marks the survivor.
    *
    * The driver-side loop holds only per-iteration COUNTS (convergence
    * check on (|E|, bit_xor of xxhash64) — one cheap action per
    * iteration, the standard shape for iterative graph algorithms); the
    * edge data itself never leaves the cluster, and localCheckpoint
    * truncates lineage so plan depth stays O(1) per iteration.
    */
  private val q47 = Q(
    fn = (s, d) => {
      import s.implicits._
      dedupClustersCached(s, d)
        .withColumn("keep", $"doc_id" === $"cluster_rep")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      )
      SELECT u AS doc_id, MIN(r) AS cluster_rep, u = MIN(r) AS keep
      FROM reach GROUP BY u ORDER BY doc_id"""))

  /** Q158 — dedup with SURVIVOR RE-WEIGHTING: deduplication changes the
    * training distribution (a document with 50 near-copies was,
    * de facto, 50× upweighted in the raw corpus — dropping 49 copies
    * silently downweights that content 50×). The standard fix is to
    * keep one survivor per near-dup cluster carrying the cluster's
    * multiplicity as a sampling weight, so dedup removes redundant
    * BYTES without moving the distribution. Output: every surviving
    * document (cluster representatives + singletons never in any pair)
    * with its integer weight — the training-sampler's input.
    *
    * Composition over the cached clustering artifact: weights are one
    * count over the labeling (pair-bounded); singletons are one
    * anti-join of the corpus id column against it, weight 1. The
    * representative (component-minimum id) is the survivor — q91 picks
    * a QUALITY winner instead when content differs materially; this
    * operator's contract is distribution preservation, so the choice
    * of which copy survives is immaterial and the deterministic rep
    * avoids a second scan.
    */
  private val q158 = Q(
    fn = (s, d) => {
      import s.implicits._
      val labels = dedupClustersCached(s, d)
      val reps = labels.groupBy($"cluster_rep".as("doc_id"))
        .agg(count(lit(1)).as("weight"))
      val singletons = Tables.documents(s, d).select($"doc_id")
        .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
        .select($"doc_id", lit(1L).as("weight"))
      reps.unionByName(singletons).orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      ), labels AS (
        SELECT u AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY u
      ), reps AS (
        SELECT cluster_rep AS doc_id, CAST(COUNT(*) AS BIGINT) AS weight
        FROM labels GROUP BY cluster_rep
      ), singles AS (
        SELECT d.doc_id, CAST(1 AS BIGINT) AS weight
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM labels l WHERE l.doc_id = d.doc_id)
      )
      SELECT doc_id, weight FROM reps
      UNION ALL SELECT doc_id, weight FROM singles
      ORDER BY doc_id"""))

  /** Q145 — cluster takedown: q142/q143's removal contract on the
    * near-dup cluster artifact itself. The persisted labeling + edge
    * set ([[dedupClustersCached]] / [[dedupEdgesCached]]) process the
    * doc_id % 7 = 0 takedown batch through [[removeFromClusters]]:
    * victim-incident edges drop, only victim-touched components
    * re-cluster from their surviving edges (a victim bridging two
    * sub-clusters SPLITS them — the case star edges cannot express),
    * untouched labels pass verbatim. The oracle re-derives the full
    * exact-Jaccard clustering over the survivor corpus from scratch —
    * a hash match proves remove ≡ rebuild-on-survivors, which holds
    * unconditionally because near-dup pairhood is pair-local (no
    * survivor pair appears or disappears when other docs leave). */
  private val q145 = Q(
    fn = (s, d) => {
      import s.implicits._
      removeFromClusters(
        dedupClustersCached(s, d), dedupEdgesCached(s, d),
        Tables.documents(s, d).filter($"doc_id" % 7 === 0).select($"doc_id"))
        .withColumn("keep", $"doc_id" === $"cluster_rep")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 7 <> 0
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      )
      SELECT u AS doc_id, MIN(r) AS cluster_rep, u = MIN(r) AS keep
      FROM reach GROUP BY u ORDER BY doc_id"""))

  /** Q91 — near-dup cluster canonicalization: the dedup family's final
    * production step. q47 labels clusters; this picks the SURVIVOR of each
    * cluster by content quality (q22's composite score, highest wins,
    * doc_id tie-break) instead of q47's arbitrary min-id representative —
    * what an actual corpus-curation pipeline ships to training.
    *
    * Scale shape: the full corpus is never window-sorted. Cluster members
    * (the docs appearing in any verified near-dup pair — a small fraction
    * of the corpus) are ranked with a window over `cluster_rep`; the
    * singleton majority bypasses the window entirely via one anti-join and
    * keeps itself. The clustering artifact is the SAME cached parquet q47
    * reads ([[dedupClustersCached]]), so q47+q91 together pay for one LSH +
    * connected-components run.
    */
  private val q91 = Q(
    fn = (s, d) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "is", "to", "in")
      val quality = Tables.documents(s, d)
        .select($"doc_id", $"n_chars", words($"text").as("w"))
        .withColumn("quality_score",
          when($"n_chars" >= 100 && $"n_chars" <= 400, 1.0).otherwise(0.0)
            + size(filter($"w", w0 => w0.isInCollection(stop))).cast("double")
              / size($"w"))
        .select($"doc_id", $"quality_score")
      val clusters = dedupClustersCached(s, d).select($"doc_id", $"cluster_rep")
      val rk = Window.partitionBy($"cluster_rep")
        .orderBy($"quality_score".desc, $"doc_id".asc)
      val members = quality.join(clusters, Seq("doc_id"))
        .withColumn("keep", row_number().over(rk) === 1)
      val singletons = quality
        .join(clusters.select($"doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("cluster_rep", $"doc_id")
        .withColumn("keep", lit(true))
      members.select($"doc_id", $"cluster_rep", $"quality_score", $"keep")
        .unionByName(
          singletons.select($"doc_id", $"cluster_rep", $"quality_score", $"keep"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      ), clusters AS (
        SELECT u AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY u
      ), q AS (
        SELECT doc_id,
               (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)
                 + CAST(len(list_filter(string_split(text, ' '),
                     w -> list_contains(['the','a','of','and','is','to','in'], w))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS quality_score
        FROM documents)
      SELECT q.doc_id,
             COALESCE(c.cluster_rep, q.doc_id) AS cluster_rep,
             q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_rep, q.doc_id)
                                ORDER BY q.quality_score DESC, q.doc_id) = 1 AS keep
      FROM q LEFT JOIN clusters c ON c.doc_id = q.doc_id
      ORDER BY q.doc_id"""))

  /** PII patterns shared by batch q92 and the streaming scrub twin.
    * Written in the common Java-regex / RE2 subset (character classes,
    * bounded repetition, `\b`) so Spark and the DuckDB oracle match the
    * same spans on the same input.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+\\d{1,2} \\d{3}-\\d{3}-\\d{4}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Detection counts + placeholder redaction over `raw`. The REDACTION
    * chain is sequential and order matters (emails first — their digits
    * could otherwise be bitten by the looser numeric patterns — then
    * phones, then IPv4s, each replacement running over the previous
    * pass's output). The COUNTS are independent raw-text detections:
    * all three regexp_counts scan the ORIGINAL text, so on overlapping
    * spans (e.g. a dotted quad inside an email local part) a count can
    * include a span the earlier replacement consumed — counts answer
    * "what did each detector see", not "how many placeholders were
    * written", and both engines count the same way. Entirely scan-local
    * codegen'd expressions: zero shuffle, streams unchanged.
    */
  private[graft] def scrubPii(df: DataFrame, raw: Column): DataFrame =
    df.select(col("doc_id"),
      regexp_count(raw, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(raw, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(raw, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(raw, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"), Ipv4Re, "<IP>").as("text_redacted"))

  /** Q92 — PII detection + redaction (the scrub stage every
    * training-data pipeline runs before materializing a corpus).
    *
    * The synthetic corpus contains no PII (verified: zero '@' across all
    * SFs), so the query derives a deterministic contact tail from
    * `doc_id` — one email, one phone, one IPv4 per document, computed
    * identically by both engines — and scrubs `text || tail`. The
    * operator under test is the scrub itself ([[scrubPii]]): the oracle
    * hash-verifies counts AND the exact redacted strings, and the
    * streaming twin ships the same transform on the ingest path.
    */
  private val q92 = Q(
    fn = (s, d) => {
      import s.implicits._
      val raw = concat($"text",
        lit(" Contact user"), $"doc_id", lit("@mail"), $"doc_id" % 10,
        lit(".com call +1 "), $"doc_id" % 900 + 100,
        lit("-"), ($"doc_id" * 7) % 900 + 100,
        lit("-"), ($"doc_id" * 13) % 9000 + 1000,
        lit(" from 10."), $"doc_id" % 256,
        lit("."), ($"doc_id" * 3) % 256,
        lit("."), ($"doc_id" * 7) % 256)
      scrubPii(Tables.documents(s, d).select($"doc_id", raw.as("raw")), $"raw")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH raw AS (
        SELECT doc_id,
               text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
               CAST(doc_id % 10 AS VARCHAR) || '.com call +1 ' ||
               CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
               CAST((doc_id * 7) % 900 + 100 AS VARCHAR) || '-' ||
               CAST((doc_id * 13) % 9000 + 1000 AS VARCHAR) || ' from 10.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.' ||
               CAST((doc_id * 3) % 256 AS VARCHAR) || '.' ||
               CAST((doc_id * 7) % 256 AS VARCHAR) AS r
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(r, '\+\d{1,2} \d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(r, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(r,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_redacted
      FROM raw
      ORDER BY doc_id"""))

  /** Q93 — temperature-smoothed domain mixture (the Gopher / Pile-style
    * sampling-weight computation): per-source token shares are flattened
    * with α = 0.5 — weight_i ∝ tokens_i^α — so low-resource domains are
    * upsampled relative to their raw share before training. α = 0.5 is
    * exactly `sqrt`, which is IEEE-correctly-rounded on both engines
    * (general `pow` is not so portable); the total tokens_i^α cancels the
    * corpus-size term, so p_i^α / Σ p_j^α = √tokens_i / Σ √tokens_j.
    *
    * Scale shape: one map-side-combined groupBy over the corpus, then
    * arithmetic on a source-count-sized frame joined back by a 1-row
    * broadcast. The Σ √tokens denominator routes through [[decSum]] —
    * double addition is non-associative, so a plain `sum` over shuffle
    * partitions would be nondeterministic in the last ulp.
    */
  private val q93 = Q(
    fn = (s, d) => {
      import s.implicits._
      // materialized: without this the totals aggregate re-derives from
      // the raw scan and the corpus is read twice; after it, one corpus
      // scan feeds both the per-source rows and the 1-row totals
      val per = Tables.documents(s, d)
        .select($"source", size(words($"text")).cast("long").as("nt"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
        .localCheckpoint()
      val tot = per.agg(
        sum($"n_tokens").as("tot_tokens"),
        decSum(sqrt($"n_tokens".cast("double"))).as("tot_sqrt"))
      per.crossJoin(broadcast(tot))
        .withColumn("raw_frac",
          $"n_tokens".cast("double") / $"tot_tokens".cast("double"))
        .withColumn("temp_frac",
          sqrt($"n_tokens".cast("double")) / $"tot_sqrt")
        .withColumn("quota_ppm", floor($"temp_frac" * 1e6))
        .select($"source", $"n_docs", $"n_tokens", $"raw_frac",
          $"temp_frac", $"quota_ppm")
        .orderBy($"source")
    },
    oracle = Some("""
      WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
      ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
               CAST(CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS tot_sqrt
        FROM per)
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS raw_frac,
             sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt AS temp_frac,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt * 1000000.0) AS BIGINT) AS quota_ppm
      FROM per, tot ORDER BY source"""))

  /** The rule battery itself, shared verbatim by batch q94 and the
    * streaming ingest gate ([[graft.streaming.Pipeline.runGopherGateStream]])
    * so a document is judged identically in stream and batch. */
  private[graft] def gopherStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val gopherStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs
      .select($"doc_id", $"text", words($"text").as("w"))
      .withColumn("n_words", size($"w").cast("long"))
      .withColumn("sum_word_len",
        aggregate($"w", lit(0L), (acc, x) => acc + length(x)))
      .withColumn("mean_word_len",
        $"sum_word_len".cast("double") / $"n_words".cast("double"))
      .withColumn("n_alpha_words",
        size(filter($"w", x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("frac_alpha_words",
        $"n_alpha_words".cast("double") / $"n_words".cast("double"))
      .withColumn("n_stop",
        size(filter($"w", x => x.isInCollection(gopherStop))).cast("long"))
      .withColumn("n_symbols",
        (regexp_count($"text", lit("#")) + regexp_count($"text", lit("\\.\\.\\."))).cast("long"))
      .withColumn("keep",
        $"n_words" >= 50 && $"n_words" <= 100000 &&
          $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0 &&
          $"frac_alpha_words" > 0.8 &&
          $"n_stop" >= 2 &&
          $"n_symbols".cast("double") < $"n_words".cast("double") * 0.1)
      .select($"doc_id", $"n_words", $"mean_word_len", $"frac_alpha_words",
        $"n_stop", $"n_symbols", $"keep")
  }

  /** Q94 — Gopher quality rules (Rae et al. 2021, Appendix A — the
    * published word-level heuristic battery; complements q22's
    * form-based composite and q48's repetition filter): word-count
    * bounds, mean-word-length bounds, alphabetic-word fraction,
    * symbol-to-word ratio, minimum stop-word count. Every intermediate
    * is an exact integer (word counts, summed word lengths), so the two
    * derived doubles are single divisions both engines compute
    * bit-identically. One corpus scan, zero shuffle, codegen'd
    * higher-order array functions.
    */
  private val q94 = Q(
    fn = (s, d) => {
      import s.implicits._
      gopherStats(Tables.documents(s, d)).orderBy($"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
      ), m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS sum_word_len,
               CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
               CAST(len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop,
               CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols
        FROM w)
      SELECT doc_id, n_words,
             CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
             CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS frac_alpha_words,
             n_stop, n_symbols,
             (n_words BETWEEN 50 AND 100000)
               AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
               AND CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
               AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.8
               AND n_stop >= 2
               AND CAST(n_symbols AS DOUBLE) < CAST(n_words AS DOUBLE) * 0.1 AS keep
      FROM m
      ORDER BY doc_id"""))

  /** 16-band × 4-row MinHash banding of a shingled frame:
    * (doc_id, band, bh). ONE set of expressions shared by q19's
    * within-corpus LSH, the [[buildMinHashIndex]] builder and
    * [[dedupAgainstIndex]]'s arriving-side probe — identical expressions
    * mean an arriving document hashes into exactly the buckets its
    * stored near-duplicates were indexed under, so probe candidates
    * equal q19's banding candidates by construction.
    *
    * Native one-pass signature kernel: one xxhash64 per shingle, 64
    * (a*x+b) mod P permutation minima in a tight primitive loop
    * (interpreted HOF lambdas were the round-1 bottleneck; see
    * graft.functions).
    */
  private val mhBands = 16
  private val mhRows = 64 / mhBands
  private[graft] def bandsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("sig",
        graft.functions.expressions.minhash_signature($"hs"))
      .select($"doc_id",
        explode(transform(sequence(lit(0), lit(mhBands - 1)),
          b => struct(b.as("band"),
            xxhash64(b, slice($"sig", b * mhRows + 1, lit(mhRows))).as("bh"))))
          .as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bh".as("bh"))
  }

  private[queries] def nearDupPairsLsh(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      // persist: reused by signature computation and both verify joins
      // (see q18's note — released after the result is materialized)
      val docs = shingled(s, d).persist()
      try nearDupPairsLshFromShingled(docs)
      finally docs.unpersist()
  }

  /** [[nearDupPairsLsh]] over an already-shingled (and caller-persisted)
    * frame — the reusable core, so the incremental path (q135) can run
    * the same LSH pipeline on an arriving snapshot without touching the
    * full-corpus table. */
  private[graft] def nearDupPairsLshFromShingled(docs: DataFrame): DataFrame = {
      import docs.sparkSession.implicits._
      val s = docs.sparkSession
      val banded = bandsOf(docs)
      // Bucket-collect pair generation instead of a self-join: signatures
      // are computed once, and candidate pairs come from exploding each
      // bucket's id list; pathological buckets are capped (see capBucket).
      val cand = banded.groupBy($"band", $"bh")
        .agg(collect_list($"doc_id").as("ids"))
        .filter(size($"ids") > 1)
        .withColumn("ids", capBucket($"ids", maxBucket(s)))
        .select(explode(flatten(transform($"ids", (x, ix) =>
          transform(slice($"ids", ix + 2, greatest(size($"ids") - ix - 1, lit(0))),
            y => struct(least(x, y).as("a"), greatest(x, y).as("b")))))).as("p"))
        .select($"p.a".as("i"), $"p.b".as("j"))
        .distinct()
      verifyPairs(cand, docs, 0.5).localCheckpoint()
  }

  /** Q19 — MinHash + LSH near-duplicate pairs (brief's scale path for
    * near-dup at 100 TB: no global df pass, candidates only within LSH
    * buckets).
    *
    * 64 MinHash permutations simulated as min over xxhash64(perm, shingle);
    * 16 bands x 4 rows; a pair becomes a candidate iff some band hashes
    * equal. Candidates are then verified with exact Jaccard (>= 0.5), so
    * precision is 1 and recall at the corpus's near-dup similarity levels
    * (>= 0.8) is 1 - (1 - 0.8^4)^16 ≈ 0.9998 — the output equals Q18's
    * exact pair set on the test corpora (asserted in TextOpsSpec).
    */
  private val q19 = Q(
    fn = (s, d) => nearDupPairsLsh(s, d),
    oracle = Some(nearDupOracle))

  // ────────────────────────────────────────────────────────────────────
  // Incremental near-dup dedup against a persisted MinHash band index —
  // the production shape for a corpus that grows by snapshots: index the
  // stored corpus ONCE, then dedup every arriving snapshot / micro-batch
  // against the index without ever re-shingling (or even re-reading) the
  // stored documents. Reference anchor: the append-only ingest leg
  // (consumer.py:133–149) meeting the dedup family.

  /** The persisted dedup index over a stored corpus:
    *  - `bands` (doc_id, band, bh) — the 16×4 MinHash band buckets, the
    *    probe target for candidate generation (16 rows per stored doc);
    *  - `shingles` (doc_id, n, hs) — each stored doc's sorted
    *    shingle-hash array (~8 bytes per shingle), the exact-verification
    *    operand, so verification never touches stored TEXT either.
    * Both are plain tables: partitionable, bucketable (by bh / doc_id),
    * and appendable when the corpus itself grows — the same
    * index-as-artifact pattern as [[graft.queries.VectorOps.savePqIndex]].
    */
  private[graft] case class MinHashIndex(bands: DataFrame, shingles: DataFrame)

  /** Build a [[MinHashIndex]] from a shingled corpus frame
    * ([[shingleDocs]]); callers persist `docs` when building eagerly. */
  private[graft] def buildMinHashIndex(docs: DataFrame): MinHashIndex = {
    import docs.sparkSession.implicits._
    MinHashIndex(bandsOf(docs), docs.select($"doc_id", $"n", $"hs"))
  }

  /** Persist a [[MinHashIndex]] as two parquet tables. At 100 TB the
    * bands table is 16 small rows per stored doc and the shingles table
    * ~the corpus's distinct-shingle volume at 8 bytes each — both a
    * fraction of the text they replace for dedup purposes. */
  private[graft] def saveMinHashIndex(idx: MinHashIndex, path: String): Unit = {
    idx.bands.write.mode("overwrite").parquet(s"$path/bands")
    idx.shingles.write.mode("overwrite").parquet(s"$path/shingles")
  }

  /** Load a [[saveMinHashIndex]] artifact; serving-equivalence to the
    * built index is pinned in QueriesSpec. */
  private[graft] def loadMinHashIndex(s: SparkSession, path: String): MinHashIndex =
    MinHashIndex(
      bands = Tables.parquet(s, s"$path/bands"),
      shingles = Tables.parquet(s, s"$path/shingles"))

  /** Index MAINTENANCE — the other half of the incremental story: after
    * [[dedupAgainstIndex]] screens an arriving snapshot, the ACCEPTED
    * documents are appended to the persisted artifact so the NEXT
    * snapshot dedups against them too. Banding is a pure per-document
    * function ([[bandsOf]]), so appending is two parquet appends of the
    * new docs' rows — cost ∝ snapshot size, never corpus size, and the
    * appended artifact is row-identical to rebuilding from scratch over
    * the union (QueriesSpec pins it). Caller sequencing (dedup, choose
    * survivors, append) is the admission policy; this function only
    * indexes what it is given.
    */
  private[graft] def appendToMinHashIndex(newDocs: DataFrame, path: String): Unit = {
    import newDocs.sparkSession.implicits._
    val fresh = shingleDocs(newDocs).persist()
    try {
      bandsOf(fresh).write.mode("append").parquet(s"$path/bands")
      fresh.select($"doc_id", $"n", $"hs").write.mode("append")
        .parquet(s"$path/shingles")
    } finally fresh.unpersist()
  }

  /** Remove documents from a [[MinHashIndex]] — the takedown half of
    * index maintenance (raw BM25's [[Additive.remove]] rule on the dedup
    * artifact): banding and shingling are pure per-document functions,
    * so removal is two anti-joins on doc_id — no neighbor's rows change,
    * and the pruned index is row-identical to rebuilding over the
    * survivors (QueriesSpec). A removed document stops matching future
    * arrivals IMMEDIATELY, which is the operational point: a document
    * deleted for cause must not keep vetoing near-duplicate admissions.
    */
  private[graft] def removeFromMinHashIndex(idx: MinHashIndex,
      removeIds: DataFrame): MinHashIndex = {
    import removeIds.sparkSession.implicits._
    val ids = removeIds.select($"doc_id")
    MinHashIndex(
      bands = idx.bands.join(ids, Seq("doc_id"), "left_anti"),
      shingles = idx.shingles.join(ids, Seq("doc_id"), "left_anti"))
  }

  /** Dedup an ARRIVING document set (doc_id, text) against a
    * [[MinHashIndex]]: emit every (new_doc_id, old_doc_id) pair with
    * exact word-3-gram Jaccard ≥ t, verified — without re-shingling the
    * stored corpus (candidates probe `idx.bands`, verification
    * merge-intersects against `idx.shingles`).
    *
    * Exactness: banding recall at the corpus's near-dup similarity
    * levels is the q19 argument (1 − (1 − s⁴)¹⁶ ≈ 0.9998 at s = 0.8),
    * and candidates are verified exactly, so the output equals the
    * brute-force new×old pair set — q82's DuckDB oracle hash-checks
    * precisely that.
    *
    * Scale shape: the arriving side is a snapshot / micro-batch —
    * bounded and small relative to the corpus BY CONTRACT — so its
    * bands and its candidate pairs ride as broadcasts: the stored index
    * is only ever scanned in place (two scan-side broadcast joins), no
    * corpus shuffle at any index size. Like [[verifyPairs]], candidates
    * are `distinct`-ed BEFORE verification (a true pair resurfaces once
    * per matching band — up to 16×). The result is materialized
    * (bounded: verified pairs only) before returning.
    */
  private[graft] def dedupAgainstIndex(newDocs: DataFrame, idx: MinHashIndex,
      t: Double = 0.5): DataFrame = {
    import newDocs.sparkSession.implicits._
    val fresh = shingleDocs(newDocs).persist()
    try {
      // no broadcast hints (the verifyPairs/q95/q103 rule): AQE broadcasts
      // the snapshot bands and the candidate set at any realistic batch
      // size, and degrades to a shuffle join when a backfill-sized
      // snapshot or a dup storm violates "snapshot ≪ corpus" — a hard
      // hint would OOM exactly there
      val cand = bandsOf(fresh)
        .join(idx.bands.select($"doc_id".as("old_id"), $"band", $"bh"),
          Seq("band", "bh"))
        .select($"doc_id".as("new_id"), $"old_id")
        .distinct()
      cand
        .join(fresh.select($"doc_id".as("new_id"), $"hs".as("hs_new"),
          $"n".as("n_new")), Seq("new_id"))
        .join(idx.shingles.select($"doc_id".as("old_id"), $"hs".as("hs_old"),
          $"n".as("n_old")), Seq("old_id"))
        .withColumn("common",
          graft.functions.expressions.sorted_intersect_count($"hs_new", $"hs_old"))
        .withColumn("jaccard",
          $"common".cast("double") / ($"n_new" + $"n_old" - $"common"))
        .filter($"jaccard" >= t)
        .select($"new_id".as("new_doc_id"), $"old_id".as("old_doc_id"),
          $"n_new".cast("long").as("n_new"), $"n_old".cast("long").as("n_old"),
          $"common", $"jaccard")
        .orderBy($"new_doc_id", $"old_doc_id")
        .localCheckpoint()
    } finally fresh.unpersist()
  }

  /** q82's index over the stored split of dataset `d`, through the
    * per-JVM [[IndexCache]] ([[graft.queries.VectorOps.vecDedupIndexCached]]'s
    * pattern): the stored corpus is shingled and indexed ONCE per JVM;
    * every later run — bench sweeps, dev reps, the streaming twin's
    * batch check — pays only the probe, which is the actual
    * per-snapshot serving cost. Build is deterministic in the dataset
    * dir, so the cache can never serve a wrong index within a JVM. */
  private[graft] def minHashIndexCached(s: SparkSession, d: String): MinHashIndex =
    loadMinHashIndex(s, IndexCache.artifact("minhash", d) { p =>
      import s.implicits._
      // persist: the stored-side shingles feed both index tables (bands
      // derive from them) — built once, released after the save
      val stored = shingleDocs(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 < 8)).persist()
      try saveMinHashIndex(buildMinHashIndex(stored), p)
      finally stored.unpersist()
    })

  /** Q82 — incremental near-dup dedup: index the stored 80% of the
    * corpus (doc_id % 10 < 8 — the deterministic stand-in for
    * "yesterday's corpus", persisted once per JVM via
    * [[minHashIndexCached]]), then dedup the arriving 20% against it via
    * [[dedupAgainstIndex]]. The oracle is the BRUTE-FORCE new×old
    * verified pair set, so candidate generation, index content and
    * verification are all hash-checked. The streaming twin
    * ([[graft.streaming.Pipeline.runIncrementalDedupStream]]) loads the
    * SAME artifact and filters arriving micro-batches through the same
    * function.
    */
  private val q82 = Q(
    fn = (s, d) => {
      import s.implicits._
      val arriving = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 >= 8)
      dedupAgainstIndex(arriving, minHashIndexCached(s, d))
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )
      SELECT a.doc_id AS new_doc_id, b.doc_id AS old_doc_id,
             any_value(a.n) AS n_new, any_value(b.n) AS n_old,
             COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
      FROM ex a JOIN ex b ON a.s = b.s
        AND a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ORDER BY new_doc_id, old_doc_id"""))

  /** Q95 — incremental EXACT dedup: the admission report for an arriving
    * snapshot screened against the stored corpus by content hash — the
    * most common production screen, completing the incremental family
    * (q82 MinHash near-dup, q83 embedding, q95 exact).
    *
    * Scale shape: both sides reduce to (doc_id, md5) — a 16-byte key —
    * before any join. The serving contract is snapshot ≪ corpus (q82's),
    * under which AQE broadcasts the arriving side and the stored corpus
    * is scanned in place, never shuffled; the strategy is deliberately
    * left to AQE rather than a hard `broadcast()` hint because the
    * IN-REPO fixture (doc_id % 10 >= 8) is 20% of the corpus and grows
    * linearly with it — a forced broadcast would OOM exactly when the
    * contract is violated, while AQE degrades to a 16-byte-key shuffle
    * join. The oracle compares raw text equality; md5 equality agrees
    * absent collisions (2^-64-scale at any realistic corpus size).
    */
  private val q95 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val arriving = docs.filter($"doc_id" % 10 >= 8)
        .select($"doc_id".as("new_doc_id"), md5($"text").as("h"))
      val stored = docs.filter($"doc_id" % 10 < 8)
        .select($"doc_id".as("old_doc_id"), md5($"text").as("h"))
      val matches = stored.join(arriving, Seq("h"))
        .select($"new_doc_id", $"old_doc_id")
      arriving.select($"new_doc_id")
        .join(matches, Seq("new_doc_id"), "left")
        .groupBy($"new_doc_id")
        .agg(min($"old_doc_id").as("first_old_match"),
          count($"old_doc_id").as("n_matches"))
        .withColumn("admitted", $"n_matches" === 0)
        .orderBy($"new_doc_id")
    },
    oracle = Some("""
      SELECT a.doc_id AS new_doc_id,
             MIN(b.doc_id) AS first_old_match,
             CAST(COUNT(b.doc_id) AS BIGINT) AS n_matches,
             COUNT(b.doc_id) = 0 AS admitted
      FROM documents a
      LEFT JOIN documents b ON a.text = b.text AND b.doc_id % 10 < 8
      WHERE a.doc_id % 10 >= 8
      GROUP BY a.doc_id
      ORDER BY a.doc_id"""))

  /** Q20 — SimHash near-dup dedup (brief's SimHash): 64-bit simhash over
    * distinct word-3-gram shingles (shingle features, not bare words —
    * this corpus's word vocabulary is ~30 terms, so word-set simhashes
    * would collide everywhere; shingle sets overlap ~5% between unrelated
    * docs and ~99% between near-dups), banded into 8 bytes so any pair
    * within Hamming distance 7 shares at least one exact band
    * (pigeonhole) — candidate join is per-bucket, never all-pairs —
    * then survivors of the hamming ≤ 7 filter are verified with exact
    * Jaccard ≥ 0.5 (q19's device), so emitted pairs are true near-dups
    * with their hamming distance attached.
    *
    * Full hash oracle: the 64-bit FEATURE hash is the signed
    * reinterpretation of the first 16 hex chars of md5(shingle) — a
    * value both engines compute bit-identically (DuckDB parses the same
    * hex; Spark uses conv(·,16,−10)) — so simhash bit-majorities,
    * banding, the hamming filter AND the exact verification are all
    * replayed precisely by DuckDB. xxhash64 stays out of the semantics
    * (it only powers the verification intersection via the shared
    * sorted-hash arrays, exact up to 64-bit collisions — q18's
    * argument). md5 costs more per shingle than xxhash64, but features
    * are per DISTINCT shingle per doc and computed once per scan.
    */
  private val q20 = Q(
    fn = (s, d) => {
      import s.implicits._
      // (doc_id, n, hs): the exact-verification operand — persisted
      // across candidate generation + the two verify joins (q18's note)
      val docs = shingled(s, d).persist()
      try {
        val withSim = Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .select($"doc_id",
            graft.functions.expressions.word_shingles($"text").as("sh"))
          .filter(size($"sh") >= 1)
          // bit-majority kernel over md5-derived signed-64 features (one
          // tight pass; see graft.functions.SimHash64)
          .select($"doc_id", graft.functions.expressions.simhash64(
            transform($"sh",
              g => conv(substring(md5(g), 1, 16), 16, -10)
                .cast("long"))).as("simhash"))
        val banded = withSim.select($"doc_id", $"simhash",
            explode(array((0 until 8).map(b => struct(lit(b).as("band"),
              shiftright($"simhash", b * 8).bitwiseAND(255).as("bv"))): _*)).as("bb"))
          .select($"doc_id", $"simhash", $"bb.band".as("band"), $"bb.bv".as("bv"))
        // bucket-collect pairs: simhashes computed once, no self-join; the
        // in-bucket m² comparison sweep runs in the native xor+popcount
        // kernel (only hamming<=7 survivors allocate — single-byte
        // banding admits ~m²/2 comparisons per bucket, the inherent
        // Θ(n²/2⁸) of the SimHash construction; q19 is the sub-quadratic
        // near-dup path at corpus scale), pathological buckets capped
        // inside the kernel (capBucket's rule)
        val pairs = banded.groupBy($"band", $"bv")
          .agg(collect_list(struct($"doc_id", $"simhash")).as("ds"))
          .filter(size($"ds") > 1)
          .select(explode(graft.functions.expressions
            .simhash_bucket_pairs($"ds", 7, maxBucket(s))).as("p"))
          .select($"p.i".as("i"), $"p.j".as("j"), $"p.hamming".as("hamming"))
          .distinct()
          // bounded candidate set — materialized once, feeds both the
          // verification join and the hamming re-attach
          .localCheckpoint()
        verifyPairs(pairs.select($"i", $"j"), docs, 0.5)
          .join(broadcast(pairs), Seq("i", "j"))
          .select($"i", $"j", $"hamming", $"n_i", $"n_j", $"common", $"jaccard")
          .orderBy($"i", $"j")
          .localCheckpoint()
      } finally docs.unpersist()
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), feats AS (
        SELECT doc_id, unnest(sh) AS g FROM shingled
      ), fh AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 1, 16))::UBIGINT::HUGEINT
                 - CASE WHEN ('0x' || substr(md5(g), 1, 16))::UBIGINT
                             >= 9223372036854775808::UHUGEINT
                        THEN 18446744073709551616::HUGEINT
                        ELSE 0::HUGEINT END AS BIGINT) AS h
        FROM feats
      ), bits AS (
        SELECT doc_id, t.b,
               SUM(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        FROM fh CROSS JOIN generate_series(0, 63) t(b)
        GROUP BY doc_id, t.b
      ), sim AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN cnt <= 0 THEN 0::HUGEINT
                             WHEN b = 63 THEN -9223372036854775808::HUGEINT
                             ELSE (1::BIGINT << b)::HUGEINT END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
      ), banded AS (
        SELECT s.doc_id, t.band, (s.simhash >> (8 * t.band)) & 255 AS bv
        FROM sim s CROSS JOIN generate_series(0, 7) t(band)
      ), bandedc AS (
        -- replay the kernel's pathological-bucket cap: buckets larger than
        -- graft.text.maxBucket (default 4096 — this literal mirrors the
        -- default) keep only the maxBucket smallest doc_ids
        SELECT doc_id, band, bv FROM (
          SELECT doc_id, band, bv,
                 row_number() OVER (PARTITION BY band, bv ORDER BY doc_id) AS rk
          FROM banded)
        WHERE rk <= 4096
      ), cand AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        FROM bandedc a JOIN bandedc b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      ), ham AS (
        SELECT c.i, c.j,
               CAST(bit_count(xor(si.simhash, sj.simhash)) AS BIGINT) AS hamming
        FROM cand c
        JOIN sim si ON si.doc_id = c.i
        JOIN sim sj ON sj.doc_id = c.j
        WHERE bit_count(xor(si.simhash, sj.simhash)) <= 7
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )
      SELECT h.i, h.j, h.hamming,
             any_value(a.n) AS n_i, any_value(b.n) AS n_j, COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
      FROM ham h
      JOIN ex a ON a.doc_id = h.i
      JOIN ex b ON b.doc_id = h.j AND b.s = a.s
      GROUP BY h.i, h.j, h.hamming
      HAVING CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ORDER BY i, j"""))

  /** Q21 — n-gram/stopword-heuristic language ID (brief's "language-ID"),
    * scored against the labeled `lang` column as a confusion summary.
    * Marker-word hits per language; argmax with fixed precedence order,
    * 'und' (undetermined) when nothing matches.
    */
  private val q21 = Q(
    fn = (s, d) => {
      import s.implicits._
      val markers: Seq[(String, Seq[String])] = Seq(
        "de" -> Seq("der", "die", "das", "und", "nicht"),
        "en" -> Seq("the", "a", "of", "and", "is"),
        "es" -> Seq("el", "los", "las", "y", "es"),
        "fr" -> Seq("le", "la", "les", "et", "est"))
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"lang", array_distinct(words($"text")).as("w"))
      val withHits = markers.foldLeft(docs) { case (df, (l, ms)) =>
        df.withColumn(s"hits_$l",
          size(array_intersect($"w", array(ms.map(lit): _*))))
      }
      val best = greatest(markers.map { case (l, _) => col(s"hits_$l") }: _*)
      val pred = when(best === 0, lit("und"))
        .otherwise(markers.foldRight(lit("und")) { case ((l, _), e) =>
          when(col(s"hits_$l") === best, lit(l)).otherwise(e)
        })
      withHits.withColumn("lang_pred", pred)
        .groupBy($"lang", $"lang_pred")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"lang_pred")
    },
    oracle = Some("""
      WITH scored AS (
        SELECT lang,
               len(list_intersect(list_distinct(string_split(text,' ')), ['der','die','das','und','nicht'])) AS hits_de,
               len(list_intersect(list_distinct(string_split(text,' ')), ['the','a','of','and','is'])) AS hits_en,
               len(list_intersect(list_distinct(string_split(text,' ')), ['el','los','las','y','es'])) AS hits_es,
               len(list_intersect(list_distinct(string_split(text,' ')), ['le','la','les','et','est'])) AS hits_fr
        FROM documents
      ), pred AS (
        SELECT lang,
               CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                    WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                    WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                    WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM scored)
      SELECT lang, lang_pred, COUNT(*) AS n_docs
      FROM pred
      GROUP BY lang, lang_pred
      ORDER BY lang, lang_pred"""))

  /** Q22 — per-document quality scoring (brief's "quality scoring"):
    * token count, punctuation count, stopword ratio and a composite
    * score. Each double is produced by one fixed-order expression over
    * exact ints, so both engines agree bitwise.
    */
  private val q22 = Q(
    fn = (s, d) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "is", "to", "in")
      Tables.documents(s, d)
        .select($"doc_id", $"n_chars", words($"text").as("w"),
          regexp_count($"text", lit("[.,!?;:]")).cast("long").as("punct_cnt"))
        .withColumn("n_tokens", size($"w").cast("long"))
        .withColumn("stop_cnt",
          size(filter($"w", w0 => w0.isInCollection(stop))).cast("long"))
        .withColumn("stop_ratio", $"stop_cnt".cast("double") / $"n_tokens")
        .withColumn("quality_score",
          when($"n_chars" >= 100 && $"n_chars" <= 400, 1.0).otherwise(0.0)
            + $"stop_ratio")
        .select($"doc_id", $"n_chars", $"n_tokens", $"punct_cnt",
          $"stop_cnt", $"stop_ratio", $"quality_score")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','is','to','in'], w))) AS stop_cnt,
             CAST(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','is','to','in'], w))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)
               + CAST(len(list_filter(string_split(text, ' '),
                   w -> list_contains(['the','a','of','and','is','to','in'], w))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS quality_score
      FROM documents
      ORDER BY doc_id"""))

  /** Q23 — token counting per source (brief's "token counting"):
    * whitespace tokens plus a BPE-ish `[a-z]+|[0-9]+` unit count,
    * aggregated per source with exact integer sums.
    */
  private val q23 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", size(words($"text")).cast("long").as("nt"),
          regexp_count($"text", lit("[a-z]+|[0-9]+")).cast("long").as("nb"),
          $"n_chars")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"nt").as("ws_tokens"),
          sum($"nb").as("bpe_units"),
          sum($"n_chars").as("total_chars"))
        .withColumn("avg_tokens_per_doc", $"ws_tokens" / $"n_docs")
        .orderBy($"source")
    },
    oracle = Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS bpe_units,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) / COUNT(*) AS avg_tokens_per_doc
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  /** Distributed BPE training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016) over a
    * word-count table — the FULL corpus vocabulary, not a sample.
    *
    * The classical trainer's per-round state (every word's current
    * segmentation) is never collected: each round re-derives it by
    * encoding the word column under the merges learned so far (the same
    * native [[graft.functions.expressions.BpeEncode]] kernel the apply
    * path uses — replay-by-rank equals sequential merge application for
    * trained merge lists, the standard BPE property), counts adjacent
    * pairs weighted by word count in ONE map-side-combined aggregation,
    * and collects exactly one row (the argmax pair, ties count desc
    * then pair lexicographic — q74's bounded Lloyd collect). Work per
    * round is a scan of the VOCABULARY table (tokens-distinct, Heaps-law
    * sublinear in the corpus; the corpus itself is scanned once, by the
    * caller, to build the counts), so training 48 merges at 100 TB is
    * 48 vocabulary scans — distributed, bounded driver traffic, no
    * sampling bias.
    *
    * Deterministic in the vocabulary: same counts → same merges on any
    * cluster layout (exact long counts, total argmax order).
    */
  private[queries] def trainBpeDistributed(vocab: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val s = vocab.sparkSession
    import s.implicits._
    val E = graft.functions.expressions
    val v = vocab.persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (merges.length < nMerges && !done) {
        val top = v
          .select($"c", E.bpe_encode($"w", merges.toSeq).as("seq"))
          .select($"c",
            slice($"seq", lit(1), size($"seq") - 1).as("ls"),
            slice($"seq", lit(2), size($"seq") - 1).as("rs"))
          .select($"c", explode(arrays_zip($"ls", $"rs")).as("p"))
          .groupBy($"p.ls".as("l"), $"p.rs".as("r"))
          .agg(sum($"c").as("cnt"))
          .orderBy($"cnt".desc, $"l", $"r")
          .limit(1).collect()
        if (top.isEmpty) done = true
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toSeq
    } finally v.unpersist()
  }

  /** The shipped (v2, full-corpus) tokenizer over dataset `d`,
    * persisted once per JVM via [[IndexCache]] (the
    * tokenizer-as-artifact shape: a real pipeline trains its tokenizer
    * once and ships the merges table with the corpus). Trained together
    * with the v1 twin in ONE resolve ([[bpeMergesPairPath]]); reruns —
    * bench reps, the spec's both-SF sweep — read the ≤`nMerges`-row
    * parquet. */
  private[queries] def bpeMergesCached(s: SparkSession, d: String,
      nMerges: Int = 48): Seq[(String, String)] =
    readMerges(s, s"${bpeMergesPairPath(s, d, nMerges)}/v2")

  /** The ONE corpus tokenize scan behind BOTH cached tokenizers: per-word
    * counts with the stored-split (doc_id % 10 < 8) mass broken out, so
    * the v1 (stored-split) and v2 (full-corpus) trainings derive their
    * vocabularies from the SAME materialized artifact instead of each
    * paying the corpus scan (VERDICT r11 #5: the pair was 14.1 s of the
    * 54.9 s artifact bill, half of it this duplicated scan). Exactness:
    * v1's vocabulary is the `c_stored > 0` rows with `c_stored` — the
    * same multiset a direct scan of the filtered corpus yields — and
    * v2's is `c_all`, so the trained merges (and every q23b/q173/q175
    * oracle) are unchanged. The artifact is vocabulary-sized. */
  private def bpeWordCountsCached(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = IndexCache.artifact("bpewc", d) { path =>
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(($"doc_id" % 10 < 8).as("stored"),
          explode(words($"text")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(
          sum(when($"stored", 1L).otherwise(0L)).as("c_stored"),
          count(lit(1)).as("c_all"))
        .write.mode("overwrite").parquet(path)
    }
    Tables.parquet(s, p)
  }

  /** One trainer build behind both cached tokenizers ([[bpeMergesCached]]
    * full-corpus v2, [[bpeMergesCachedV1]] stored-split v1): a
    * projection change (e.g. word normalization) lands on both by
    * construction (both read [[bpeWordCountsCached]]'s single scan), so
    * q175's drift comparison can never mix differently-preprocessed
    * trainers.
    *
    * The two merge SEQUENCES are independent by necessity — BPE merges
    * have no prefix property across nested corpora (v1's round-r argmax
    * is over c_stored mass, v2's over c_all; one extra document can
    * reorder round 1 and every segmentation after it), so v1 is NOT
    * derivable from v2's training trace (VERDICT r13 #5). What IS
    * shared is the input: the word-count table is vocabulary-bounded
    * (Heaps-sublinear in the corpus), so under
    * `graft.bpe.driverVocabMax` (default 2M distinct words) BOTH legs
    * fit DRIVER-SIDE from one collect of the already-materialized
    * artifact — [[graft.functions.expressions.trainBpeMerges]], whose
    * per-round argmax and left-to-right merge application are
    * bit-parity with the in-plan trainer (q23b's spec pin + the
    * unrolled SQL oracle) — replacing 96 per-round cluster jobs (2
    * legs × 48 rounds, 9.6 s of the r13 artifact bill) with local
    * array arithmetic over the one collect (the q149 closed-form-fit
    * precedent). Above the threshold the unchanged distributed
    * per-round loop ([[trainBpeDistributed]]) trains each leg — the
    * 100 TB path when the vocabulary outgrows the driver. */
  private def bpeMergesPairPath(s: SparkSession, d: String,
      nMerges: Int): String = {
    import s.implicits._
    IndexCache.artifact("bpemerges", d, nMerges) { path =>
      val wc = bpeWordCountsCached(s, d)
      val maxV = s.conf.get("graft.bpe.driverVocabMax", "2000000").toLong
      val (m1, m2) = if (wc.count() <= maxV) {
        val rows = wc.select($"w", $"c_stored", $"c_all").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        (graft.functions.expressions.trainBpeMerges(
          rows.collect { case (w, cs, _) if cs > 0 => (w, cs) }.toSeq, nMerges),
          graft.functions.expressions.trainBpeMerges(
            rows.map { case (w, _, ca) => (w, ca) }.toSeq, nMerges))
      } else {
        (trainBpeDistributed(
          wc.filter($"c_stored" > 0).select($"w", $"c_stored".as("c")), nMerges),
          trainBpeDistributed(wc.select($"w", $"c_all".as("c")), nMerges))
      }
      def write(m: Seq[(String, String)], sub: String): Unit =
        m.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
          .toDF("rank", "l", "r")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/$sub")
      write(m1, "v1")
      write(m2, "v2")
    }
  }

  private def readMerges(s: SparkSession, p: String): Seq[(String, String)] = {
    import s.implicits._
    Tables.parquet(s, p).orderBy($"rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Q23b — TRUE subword token counting (q23's `bpe_units` is a regex
    * proxy; real pipelines budget BPE tokens): a merges-table-driven
    * byte-pair-encoding segmentation, trained then applied.
    *
    *  1. TRAIN distributedly on the FULL corpus vocabulary
    *     ([[trainBpeDistributed]] — exact word counts, 48 greedy merge
    *     rounds, each one map-side-combined pair count + a 1-row argmax
    *     collect, ties count desc then pair lexicographic); the merges
    *     table persists per JVM as an artifact ([[bpeMergesCached]]);
    *  2. APPLY corpus-wide with the native BpeEncode kernel (greedy
    *     lowest-rank adjacent-pair merge per word, one tight loop —
    *     WinnowFingerprint's shape), the ≤48-entry merges table riding
    *     as a plan literal — fully scan-local, map-side-combined agg.
    *
    * Full hash oracle (round 9): DuckDB replays training as 48 UNROLLED
    * merge rounds ([[bpeOracleSql]] — the q74-Lloyd/q96-PageRank idiom
    * for iterative algorithms), each round a pair-count + (cnt desc, l,
    * r) argmax + a left-to-right non-overlapping merge application
    * expressed with gaps-and-islands window functions (runs of
    * consecutive eligible positions merge at odd in-run offsets — the
    * only overlap case is l=r chains, resolved exactly as the kernel's
    * left-to-right scan resolves them). The oracle applies merges
    * SEQUENTIALLY in rank order while the engine's BpeEncode re-encodes
    * greedily by lowest rank; for merge lists trained on the same
    * vocabulary the two are equal (the standard BPE replay property —
    * training itself derives each round's state by rank-replay), and
    * the apply phase only encodes corpus words, all of which are in the
    * training vocabulary by construction. Exponential-CTE-inlining trap:
    * every round references the previous segmentation three times, so
    * all round CTEs are AS MATERIALIZED. ScalaCheck kernel parity and
    * the end-to-end naive recount (QueriesSpec) stay as independent
    * checks.
    */
  private val q23b = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val docs = Tables.documents(s, d)
      val merges = bpeMergesCached(s, d)
      docs
        .repartition(s.sparkContext.defaultParallelism)
        .select($"source",
          size(E.bpe_encode($"text", merges)).cast("long").as("n_sub"),
          size(filter(words($"text"), w => length(w) > 0)).cast("long").as("n_words"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_sub").as("bpe_tokens"),
          sum($"n_words").as("ws_tokens"))
        .withColumn("avg_bpe_per_word",
          $"bpe_tokens".cast("double") / $"ws_tokens")
        .orderBy($"source")
    },
    oracle = Some(bpeOracleSql(48)))


  /** [[bpeMergesCached]]'s v1-tokenizer twin: merges trained on the
    * STORED SPLIT only (doc_id % 10 < 8 — the q137/q161 admission
    * convention), cached under its own key. q175 compares this frozen
    * release tokenizer against the full-corpus retrain. */
  private[queries] def bpeMergesCachedV1(s: SparkSession, d: String,
      nMerges: Int = 48): Seq[(String, String)] =
    readMerges(s, s"${bpeMergesPairPath(s, d, nMerges)}/v1")

  /** Q175 — TOKENIZER VERSION DRIFT: what re-training the tokenizer on
    * the grown corpus does to the EXISTING corpus's tokenization — the
    * release-engineering measurement behind "can we ship tokenizer v2,
    * or does it invalidate every cached token count, packing layout and
    * context-budget estimate keyed to v1?". The v1 tokenizer trains on
    * the stored split (doc_id%10<8 — [[bpeMergesCachedV1]], frozen at
    * release time); v2 is q23b's shipped full-corpus tokenizer. Both
    * encode the SAME stored split (every stored word is in both
    * training vocabularies, so the q23b greedy≡rank-replay property
    * holds for both legs), and the drift surfaces per language:
    * total subword mass under each version, the token mass that moved
    * (Σ per-doc |n_v1 − n_v2|), how many documents' cached counts are
    * invalidated, and both fertilities.
    *
    * Shape at 100 TB: both ≤48-entry merges tables ride as plan
    * literals into ONE scan of the stored split (two scan-local
    * BpeEncode passes per row), then a map-side-combined aggregation
    * to ≤|langs| rows. The oracle replays BOTH trainings via the
    * shared [[bpeTrainCtes]] under disjoint CTE prefixes.
    */
  private val q175 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val m1 = bpeMergesCachedV1(s, d)
      val m2 = bpeMergesCached(s, d)
      val txt = coalesce($"text", lit(""))
      val wl = filter(words(txt), w => length(w) > 0)
      Tables.documents(s, d)
        .filter($"doc_id" % 10 < 8)
        .repartition(s.sparkContext.defaultParallelism)
        .select(coalesce($"lang", lit("")).as("lang"),
          size(E.bpe_encode(txt, m1)).cast("long").as("n1"),
          size(E.bpe_encode(txt, m2)).cast("long").as("n2"),
          size(wl).cast("long").as("nw"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"nw").as("ws_tokens"),
          sum($"n1").as("bpe_v1"),
          sum($"n2").as("bpe_v2"),
          sum(abs($"n1" - $"n2")).as("drift_tokens"),
          sum(when($"n1" =!= $"n2", 1L).otherwise(0L)).as("drift_docs"))
        .withColumn("fertility_v1",
          $"bpe_v1".cast("double") / nullif($"ws_tokens", lit(0L)))
        .withColumn("fertility_v2",
          $"bpe_v2".cast("double") / nullif($"ws_tokens", lit(0L)))
        .orderBy($"lang")
    },
    oracle = Some(bpeDriftSql(48)))

  /** q175's oracle: two independent [[bpeTrainCtes]] replays (prefix `a`
    * = v1 on the stored split; unprefixed = v2 on the full corpus), both
    * applied per word to the stored split and re-assembled per document
    * for the |Δ| legs. */
  private def bpeDriftSql(n: Int): String = {
    s"""WITH ${bpeTrainCtes(n, "a", "WHERE doc_id % 10 < 8")},
${bpeTrainCtes(n)},
dw AS (
  SELECT doc_id, COALESCE(lang, '') AS lang,
         unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 10 < 8),
pd AS (
  SELECT doc_id, MIN(lang) AS lang,
         CAST(COUNT(*) AS BIGINT) AS nw,
         CAST(SUM(a.n_sub) AS BIGINT) AS n1,
         CAST(SUM(b.n_sub) AS BIGINT) AS n2
  FROM dw JOIN awn a ON a.w = dw.w JOIN wn b ON b.w = dw.w
  WHERE len(dw.w) > 0
  GROUP BY doc_id),
agg AS (
  SELECT lang,
         CAST(SUM(nw) AS BIGINT) AS ws_tokens,
         CAST(SUM(n1) AS BIGINT) AS bpe_v1,
         CAST(SUM(n2) AS BIGINT) AS bpe_v2,
         CAST(SUM(ABS(n1 - n2)) AS BIGINT) AS drift_tokens,
         CAST(SUM(CASE WHEN n1 <> n2 THEN 1 ELSE 0 END) AS BIGINT) AS drift_docs
  FROM pd GROUP BY lang),
nd AS (
  SELECT COALESCE(lang, '') AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id % 10 < 8 GROUP BY 1)
SELECT nd.lang, nd.n_docs,
       COALESCE(a.ws_tokens, 0) AS ws_tokens,
       COALESCE(a.bpe_v1, 0) AS bpe_v1,
       COALESCE(a.bpe_v2, 0) AS bpe_v2,
       COALESCE(a.drift_tokens, 0) AS drift_tokens,
       COALESCE(a.drift_docs, 0) AS drift_docs,
       CAST(a.bpe_v1 AS DOUBLE) / NULLIF(a.ws_tokens, 0) AS fertility_v1,
       CAST(a.bpe_v2 AS DOUBLE) / NULLIF(a.ws_tokens, 0) AS fertility_v2
FROM nd LEFT JOIN agg a USING (lang)
ORDER BY nd.lang"""
  }

  /** Q176 — TRUNCATION-LOSS audit: the context-budget selection
    * measurement that pairs q70's trim (which CUTS at a budget) and
    * q172's packing audit (which measures padding BELOW it) — for each
    * candidate context length, how much token mass and how many
    * documents a hard truncation would cost, per source. The curve over
    * budgets is what picks the context length for a training run (too
    * short burns content, too long burns padding — q172's other half).
    * Budgets 32/64/96 bracket this corpus's length distribution (every
    * leg non-vacuous at every SF). ONE corpus scan: all per-budget
    * sums ride a single map-side-combined aggregation; the budget rows
    * unpivot from the sources-bounded aggregate, never the corpus.
    */
  private val q176 = Q(
    fn = (s, d) => {
      import s.implicits._
      val budgets = Seq(32L, 64L, 96L)
      val base = Tables.documents(s, d).select(
        coalesce($"source", lit("")).as("source"),
        size(filter(words(coalesce($"text", lit(""))),
          w => length(w) > 0)).cast("long").as("nw"))
      val aggCols = budgets.flatMap { b =>
        Seq(
          sum(when($"nw" > b, $"nw" - b).otherwise(0L)).as(s"lost$b"),
          sum(when($"nw" > b, 1L).otherwise(0L)).as(s"cut$b"))
      }
      val allAggs = Seq(count(lit(1)).as("n_docs"),
        sum($"nw").as("ws_tokens")) ++ aggCols
      val agg = base.groupBy($"source").agg(allAggs.head, allAggs.tail: _*)
      budgets.map { b =>
        agg.select(lit(b).as("budget"), $"source", $"n_docs", $"ws_tokens",
          col(s"lost$b").as("tokens_lost"), col(s"cut$b").as("docs_truncated"))
      }.reduce(_ unionByName _)
        .withColumn("loss_frac",
          $"tokens_lost".cast("double") / nullif($"ws_tokens", lit(0L)))
        .orderBy($"budget", $"source")
    },
    oracle = Some("""
      WITH base AS (
        SELECT COALESCE(source, '') AS source,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 w -> len(w) > 0)) AS BIGINT) AS nw
        FROM documents
      ), agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS ws_tokens,
               CAST(SUM(CASE WHEN nw > 32 THEN nw - 32 ELSE 0 END) AS BIGINT) AS lost32,
               CAST(SUM(CASE WHEN nw > 32 THEN 1 ELSE 0 END) AS BIGINT) AS cut32,
               CAST(SUM(CASE WHEN nw > 64 THEN nw - 64 ELSE 0 END) AS BIGINT) AS lost64,
               CAST(SUM(CASE WHEN nw > 64 THEN 1 ELSE 0 END) AS BIGINT) AS cut64,
               CAST(SUM(CASE WHEN nw > 96 THEN nw - 96 ELSE 0 END) AS BIGINT) AS lost96,
               CAST(SUM(CASE WHEN nw > 96 THEN 1 ELSE 0 END) AS BIGINT) AS cut96
        FROM base GROUP BY source
      ), stacked AS (
        SELECT CAST(32 AS BIGINT) AS budget, source, n_docs, ws_tokens,
               lost32 AS tokens_lost, cut32 AS docs_truncated FROM agg
        UNION ALL
        SELECT CAST(64 AS BIGINT), source, n_docs, ws_tokens, lost64, cut64 FROM agg
        UNION ALL
        SELECT CAST(96 AS BIGINT), source, n_docs, ws_tokens, lost96, cut96 FROM agg
      )
      SELECT budget, source, n_docs, ws_tokens, tokens_lost, docs_truncated,
             CAST(tokens_lost AS DOUBLE) / NULLIF(ws_tokens, 0) AS loss_frac
      FROM stacked
      ORDER BY budget, source"""))

  /** Q177 — VOCABULARY COVERAGE curve: the "choose the vocab budget"
    * measurement next to q108's OOV rate (which fixes a vocabulary and
    * scores a split) and q98's vocab growth (which tracks type counts
    * over time) — for each candidate budget, what fraction of the
    * corpus's token MASS the top-k types cover. The elbow of this curve
    * is where a tokenizer/embedding-table budget stops paying.
    * Budgets {8, 16, 24} bracket this corpus's ~30-type closed
    * vocabulary (every leg strictly between 0 and 1 at every SF).
    *
    * Shape at 100 TB: one map-side-combined word count to the VOCAB
    * table, then everything downstream — the rank window, the budget
    * sums, the cross-combines — runs over that vocabulary-bounded
    * frame, never corpus rows (the q141 bounded-table argument; the
    * window is unpartitioned but its input is ≤|vocab| rows, and a
    * deployment with a 10⁸-type vocabulary would swap in q70's
    * two-level prefix rank).
    */
  private val q177 = Q(
    fn = (s, d) => {
      import s.implicits._
      val wc = Tables.documents(s, d)
        .select(explode(words(coalesce($"text", lit("")))).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("c"))
      // top-k FIRST (TakeOrderedAndProject — distributed), then rank
      // the ≤24 survivors: the former full-vocab row_number was a
      // single-task sort over the whole type table for a rk ≤ 24 read
      val ranked = wc.orderBy($"c".desc, $"w").limit(24)
        .withColumn("rk",
          row_number().over(Window.orderBy($"c".desc, $"w")))
      val tot = wc.agg(sum($"c").as("total_tokens"),
        count(lit(1)).as("n_types"))
      Seq(8L, 16L, 24L).map { b =>
        ranked.filter($"rk" <= b)
          .agg(coalesce(sum($"c"), lit(0L)).as("covered_tokens"))
          .crossJoin(tot)
          .select(lit(b).as("vocab_budget"), $"covered_tokens",
            $"total_tokens", $"n_types",
            ($"covered_tokens".cast("double") / $"total_tokens")
              .as("coverage"))
      }.reduce(_ unionByName _).orderBy($"vocab_budget")
    },
    oracle = Some("""
      WITH wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS w
              FROM documents)
        WHERE len(w) > 0 GROUP BY w
      ), rk AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM wc
      ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM wc
      ), b AS (
        SELECT CAST(unnest([8, 16, 24]) AS BIGINT) AS vocab_budget
      ), cov AS (
        SELECT b.vocab_budget,
               CAST(COALESCE(SUM(CASE WHEN rk.rk <= b.vocab_budget
                 THEN rk.c END), 0) AS BIGINT) AS covered_tokens
        FROM b LEFT JOIN rk ON rk.rk <= b.vocab_budget
        GROUP BY b.vocab_budget
      )
      SELECT cov.vocab_budget, cov.covered_tokens, tot.total_tokens,
             tot.n_types,
             CAST(cov.covered_tokens AS DOUBLE) / tot.total_tokens AS coverage
      FROM cov CROSS JOIN tot
      ORDER BY cov.vocab_budget"""))

  /** Q178 — DEDUP THRESHOLD SENSITIVITY sweep: the calibration curve
    * behind the near-dup family's single most consequential knob. Every
    * near-dup consumer (q18 pairs, q47 clusters, q158 survivor weights,
    * q160 decontamination) runs at Jaccard ≥ 0.5 by declaration — this
    * measures what each CANDIDATE threshold would have flagged, from
    * the MAINTAINED verified pair set: the ccluster artifact persists
    * every pair with its exact Jaccard (q145's removal path needs the
    * edges anyway; the similarity value now rides along), so the sweep
    * is five filters over the stored pair frame, never a re-shingle.
    * Emits pairs flagged and distinct documents touched per threshold;
    * monotone decreasing by construction, which the spec pins
    * alongside the t = 0.5 row's equality with q18 (the artifact's
    * pair set IS the exact pair set — q19/q47's verified-LSH property).
    *
    * Shape at 100 TB: the sweep aggregates the stored pair frame,
    * orders of magnitude smaller than the corpus; the docs-touched
    * legs are distinct-collapses of it, and the five 1-row combines
    * are broadcast scalar crosses. The oracle recomputes the exact
    * all-pairs sweep from scratch, so the gate also re-verifies the
    * artifact's pair set AND its stored jaccard values per threshold.
    */
  private val q178 = Q(
    fn = (s, d) => {
      import s.implicits._
      val pairs = dedupEdgesCached(s, d)
        .select($"u".as("i"), $"v".as("j"), $"jaccard")
      Seq(0.5, 0.6, 0.7, 0.8, 0.9).map { t =>
        val p = pairs.filter($"jaccard" >= t)
        p.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(
            p.select(explode(array($"i", $"j")).as("doc")).distinct()
              .agg(count(lit(1)).as("n_docs_touched")))
          .select(lit(t).as("threshold"), $"n_pairs", $"n_docs_touched")
      }.reduce(_ unionByName _).orderBy($"threshold")
    },
    oracle = Some(s"""$nearDupShingleCtes,
      pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j,
               CAST(COUNT(*) AS DOUBLE)
                 / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE)
                 / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), t AS (
        SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
      ), f AS (
        SELECT t.threshold, pairs.i, pairs.j
        FROM t LEFT JOIN pairs ON pairs.jaccard >= t.threshold
      ), np AS (
        SELECT threshold,
               CAST(SUM(CASE WHEN i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
        FROM f GROUP BY threshold
      ), nd AS (
        SELECT threshold, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_touched
        FROM (SELECT threshold, unnest([i, j]) AS doc FROM f WHERE i IS NOT NULL)
        GROUP BY threshold
      )
      SELECT np.threshold, np.n_pairs,
             CAST(COALESCE(nd.n_docs_touched, 0) AS BIGINT) AS n_docs_touched
      FROM np LEFT JOIN nd ON nd.threshold = np.threshold
      ORDER BY np.threshold"""))

  /** Q179 — the DECONTAMINATION STACK: all three eval-leakage screens a
    * release actually runs, composed over one eval fixture and reported
    * as the per-source audit a data card cites. The screens are the
    * shipped ones, not re-implementations — each is individually
    * hash-oracled and this composition is too:
    *
    *  1. EXACT n-gram overlap (q46's criterion against the eval set):
    *     a training doc sharing ≥ 8 distinct word-3-grams with ANY
    *     eval content — catches verbatim inclusion;
    *  2. NEAR-DUP (q160, shared [[dedupAgainstIndex]] leg): banded
    *     MinHash candidates + exact Jaccard ≥ 0.5 — catches paraphrase
    *     and light edits that break verbatim n-grams;
    *  3. SEMANTIC (q169's screen): quantized cosine ≥ 0.4 between the
    *     doc's embedding and any eval embedding — catches rewrites and
    *     translations that break shingles entirely.
    *
    * Per source: training docs, each screen's raw catch (screens
    * overlap — the spec pins the inclusion-exclusion bounds), the
    * union catch, and the clean remainder that may enter q56's
    * materialization.
    *
    * Shape at 100 TB: every leg is eval-bounded — the exact leg is a
    * semi-join against the DISTINCT eval shingle set, the near-dup leg
    * probes the maintained dedup index with ≤183 eval docs, the
    * semantic leg is one broadcast-bounded scan (q169's shape); the
    * three flag sets are contamination-sized, so the attribution joins
    * are broadcast-small under AQE.
    */
  private val q179 = Q(
    fn = (s, d) => {
      import s.implicits._
      def isEval(c: Column) = c % 29 === 0 && c < 5300L
      val docs = Tables.documents(s, d)
      val idDoc = docs.select($"doc_id", $"text")
      // leg 1: exact n-gram overlap with the eval set
      val sh = shingleDocs(idDoc)
      val evalH = sh.filter(isEval($"doc_id"))
        .select(explode($"hs").as("h")).distinct()
      val exactF = sh.filter(!isEval($"doc_id"))
        .select($"doc_id", explode($"hs").as("h"))
        .join(evalH, Seq("h"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 8)
        .select($"doc_id", lit(1L).as("f_exact"))
      // leg 2: near-dup screen (q160's orientation — eval probes the
      // training-corpus index through the shared admission leg)
      val idx = buildMinHashIndex(shingleDocs(idDoc.filter(!isEval($"doc_id"))))
      val ndF = dedupAgainstIndex(idDoc.filter(isEval($"doc_id")), idx)
        .select($"old_doc_id".as("doc_id")).distinct()
        .select($"doc_id", lit(1L).as("f_nd"))
      // leg 3: semantic screen (q169; doc_id ≡ vec_id)
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding")
      val evalQ = broadcast(emb.filter(isEval($"vec_id"))
        .select($"vec_id".as("eval_id"), $"embedding".as("q_emb")))
      val semF = emb.filter(!isEval($"vec_id"))
        .join(evalQ, $"vec_id" =!= $"eval_id")
        .filter(graft.functions.expressions
          .quantized_cosine($"q_emb", $"embedding") >= 0.4)
        .select($"vec_id".as("doc_id")).distinct()
        .select($"doc_id", lit(1L).as("f_sem"))
      docs.filter(!isEval($"doc_id"))
        .select($"doc_id", coalesce($"source", lit("")).as("source"))
        .join(exactF, Seq("doc_id"), "left")
        .join(ndF, Seq("doc_id"), "left")
        .join(semF, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_train"),
          sum(coalesce($"f_exact", lit(0L))).as("n_exact"),
          sum(coalesce($"f_nd", lit(0L))).as("n_neardup"),
          sum(coalesce($"f_sem", lit(0L))).as("n_semantic"),
          sum(when($"f_exact".isNotNull || $"f_nd".isNotNull ||
            $"f_sem".isNotNull, 1L).otherwise(0L)).as("n_flagged"),
          sum(when($"f_exact".isNull && $"f_nd".isNull &&
            $"f_sem".isNull, 1L).otherwise(0L)).as("n_clean"))
        .orderBy($"source")
    },
    oracle = Some(s"""$nearDupShingleCtes,
      evs AS (
        SELECT DISTINCT s FROM ex WHERE doc_id % 29 = 0 AND doc_id < 5300
      ), fx AS (
        SELECT ex.doc_id FROM ex JOIN evs USING (s)
        WHERE NOT (ex.doc_id % 29 = 0 AND ex.doc_id < 5300)
        GROUP BY ex.doc_id HAVING COUNT(*) >= 8
      ), fn AS (
        SELECT DISTINCT b.doc_id
        FROM ex a JOIN ex b ON a.s = b.s
          AND a.doc_id % 29 = 0 AND a.doc_id < 5300
          AND NOT (b.doc_id % 29 = 0 AND b.doc_id < 5300)
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) /
               (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), q0 AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS v
        FROM embeddings
      ), withn AS (
        SELECT vec_id, v,
               list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i])) AS qq
        FROM q0
      ), fs AS (
        SELECT DISTINCT b.vec_id AS doc_id
        FROM withn a JOIN withn b
          ON a.vec_id % 29 = 0 AND a.vec_id < 5300
          AND NOT (b.vec_id % 29 = 0 AND b.vec_id < 5300)
        WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
                i -> a.v[i] * b.v[i])) AS DOUBLE)
              / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) >= 0.4
      ), t AS (
        SELECT d.doc_id, COALESCE(d.source, '') AS source,
               CASE WHEN fx.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_exact,
               CASE WHEN fn.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_nd,
               CASE WHEN fs.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem
        FROM documents d
        LEFT JOIN fx ON fx.doc_id = d.doc_id
        LEFT JOIN fn ON fn.doc_id = d.doc_id
        LEFT JOIN fs ON fs.doc_id = d.doc_id
        WHERE NOT (d.doc_id % 29 = 0 AND d.doc_id < 5300)
      )
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(f_exact) AS BIGINT) AS n_exact,
             CAST(SUM(f_nd) AS BIGINT) AS n_neardup,
             CAST(SUM(f_sem) AS BIGINT) AS n_semantic,
             CAST(SUM(CASE WHEN f_exact + f_nd + f_sem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             CAST(SUM(CASE WHEN f_exact + f_nd + f_sem = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      FROM t
      GROUP BY source
      ORDER BY source"""))

  /** Q173 — TOKENIZER FERTILITY by language: the multilingual-fairness
    * audit every shared-tokenizer pipeline reports (a BPE vocabulary
    * trained on a skewed mix tokenizes under-represented languages into
    * more, shorter pieces — those languages pay more context budget and
    * more FLOPs per word; fertility = subword tokens per whitespace
    * word is the standard measure). Applies q23b's SHARED trained
    * tokenizer (same [[bpeMergesCached]] artifact, same native
    * BpeEncode kernel) and aggregates by the `lang` label instead of
    * `source`, adding the compression view (word chars per subword
    * token). All counts exact longs; the two ratios are single final
    * divisions.
    *
    * Shape at 100 TB: identical to q23b's serve leg — the ≤48-entry
    * merges table rides as a plan literal, encoding is scan-local, one
    * map-side-combined aggregation to ≤|langs| rows. The oracle shares
    * [[bpeTrainCtes]] verbatim, so q173 and q23b gate the SAME
    * tokenizer replay.
    */
  private val q173 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val merges = bpeMergesCached(s, d)
      val txt = coalesce($"text", lit(""))
      val wl = filter(words(txt), w => length(w) > 0)
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(coalesce($"lang", lit("")).as("lang"),
          size(E.bpe_encode(txt, merges)).cast("long").as("n_sub"),
          size(wl).cast("long").as("n_words"),
          aggregate(wl, lit(0L),
            (acc, w) => acc + length(w).cast("long")).as("n_chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_sub").as("bpe_tokens"),
          sum($"n_words").as("ws_tokens"),
          sum($"n_chars").as("word_chars"))
        .withColumn("fertility",
          $"bpe_tokens".cast("double") / nullif($"ws_tokens", lit(0L)))
        .withColumn("chars_per_token",
          $"word_chars".cast("double") / nullif($"bpe_tokens", lit(0L)))
        .orderBy($"lang")
    },
    oracle = Some(bpeFertilitySql(48)))

  /** q173's oracle: [[bpeTrainCtes]]'s tokenizer replay, aggregated by
    * language with the word-chars leg. */
  private def bpeFertilitySql(n: Int): String = {
    s"""WITH ${bpeTrainCtes(n)},
agg AS (
  SELECT d.lang,
         CAST(SUM(wn.n_sub) AS BIGINT) AS bpe_tokens,
         CAST(COUNT(*) AS BIGINT) AS ws_tokens,
         CAST(SUM(len(d.w)) AS BIGINT) AS word_chars
  FROM (SELECT COALESCE(lang, '') AS lang,
               unnest(string_split(text, ' ')) AS w FROM documents) d
  JOIN wn ON wn.w = d.w
  WHERE len(d.w) > 0
  GROUP BY d.lang),
nd AS (SELECT COALESCE(lang, '') AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1)
SELECT nd.lang, nd.n_docs,
       COALESCE(a.bpe_tokens, 0) AS bpe_tokens,
       COALESCE(a.ws_tokens, 0) AS ws_tokens,
       COALESCE(a.word_chars, 0) AS word_chars,
       CAST(a.bpe_tokens AS DOUBLE) / NULLIF(a.ws_tokens, 0) AS fertility,
       CAST(a.word_chars AS DOUBLE) / NULLIF(a.bpe_tokens, 0) AS chars_per_token
FROM nd LEFT JOIN agg a USING (lang)
ORDER BY nd.lang"""
  }

  /** q23b's oracle-SQL generator: `n` unrolled BPE training rounds plus
    * the apply/aggregate phase, as one DuckDB query (see q23b's scaladoc
    * for the replay-equivalence argument). Each round:
    *   p_k  — the argmax pair over adjacent-pair counts of seg_{k-1};
    *   m_k  — seg_{k-1} exploded to (word, position, token, eligible);
    *   ma_k — positions that MERGE: within each maximal run of
    *          consecutive eligible positions, the 1st, 3rd, 5th… (the
    *          left-to-right non-overlap rule; only l=r chains ever
    *          produce runs longer than 1);
    *   seg_k — rebuilt lists (merged token at ma positions, consumed
    *          position dropped via the ma(i-1) anti-condition), with a
    *          fallback branch that carries seg_{k-1} forward verbatim
    *          once training has exhausted every pair (the trainer's
    *          early-stop).
    */
  private def bpeOracleSql(n: Int): String = {
    s"""WITH ${bpeTrainCtes(n)},
agg AS (
  SELECT d.source,
         CAST(SUM(wn.n_sub) AS BIGINT) AS bpe_tokens,
         CAST(COUNT(*) AS BIGINT) AS ws_tokens
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) d
  JOIN wn ON wn.w = d.w
  WHERE len(d.w) > 0
  GROUP BY d.source),
nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
SELECT a.source, nd.n_docs, a.bpe_tokens, a.ws_tokens,
       CAST(a.bpe_tokens AS DOUBLE) / a.ws_tokens AS avg_bpe_per_word
FROM agg a JOIN nd USING (source)
ORDER BY a.source"""
  }

  /** One unrolled BPE merge round (see [[q23b]]'s scaladoc). `x` prefixes
    * every CTE name so two independent tokenizer replays can coexist in
    * one WITH clause (q175's version-drift oracle). */
  private def bpeRoundSql(k: Int, x: String = ""): String = {
      val p = s"${x}seg${k - 1}"
      s"""${x}p$k AS MATERIALIZED (
  SELECT l, r FROM (
    SELECT seq[i] AS l, seq[i+1] AS r, SUM(c) AS cnt
    FROM (SELECT c, seq, unnest(generate_series(1, len(seq)-1)) AS i FROM $p)
    GROUP BY 1, 2)
  ORDER BY cnt DESC, l, r LIMIT 1),
${x}m$k AS MATERIALIZED (
  SELECT s.w, s.c, s.i, s.seq[s.i] AS tok,
         (s.i < len(s.seq) AND s.seq[s.i] = p.l AND s.seq[s.i+1] = p.r) AS elig
  FROM (SELECT w, c, seq, unnest(generate_series(1, len(seq))) AS i FROM $p) s
  CROSS JOIN ${x}p$k p),
${x}ma$k AS MATERIALIZED (
  SELECT w, i FROM (
    SELECT w, i, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY i) AS pir
    FROM (SELECT w, i, i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS grp
          FROM ${x}m$k WHERE elig))
  WHERE pir % 2 = 1),
${x}seg$k AS MATERIALIZED (
  SELECT m.w, MIN(m.c) AS c,
         list(CASE WHEN ma.i IS NOT NULL THEN (SELECT l || r FROM ${x}p$k)
                   ELSE m.tok END ORDER BY m.i) AS seq
  FROM ${x}m$k m
  LEFT JOIN ${x}ma$k ma ON ma.w = m.w AND ma.i = m.i
  LEFT JOIN ${x}ma$k mb ON mb.w = m.w AND mb.i = m.i - 1
  WHERE mb.i IS NULL
  GROUP BY m.w
  UNION ALL
  SELECT s.* FROM $p s WHERE NOT EXISTS (SELECT 1 FROM ${x}p$k))"""
  }

  /** The shared BPE-training replay prefix (vocab → 48 unrolled merge
    * rounds → per-word subword counts `wn`), extracted from
    * [[bpeOracleSql]] so q173's fertility oracle replays EXACTLY the
    * tokenizer q23b gates — the two oracles cannot drift. `x` prefixes
    * CTE names and `where` restricts the training corpus (q175's v1
    * tokenizer trains on the stored split only); emitted WITHOUT the
    * leading WITH keyword so replays compose. */
  private def bpeTrainCtes(n: Int, x: String = "", where: String = ""): String = {
    val rounds = (1 to n).map(k => bpeRoundSql(k, x)).mkString(",\n")
    s"""${x}vocab AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents $where)
  WHERE len(w) > 0 GROUP BY w),
${x}seg0 AS MATERIALIZED (
  SELECT w, c, list_transform(generate_series(1, len(w)), i -> w[i:i]) AS seq
  FROM ${x}vocab),
$rounds,
${x}wn AS (SELECT w, len(seq) AS n_sub FROM ${x}seg$n)"""
  }

  /** Q24 — document fingerprinting by winnowing (brief's "rolling hash"):
    * polynomial rolling hash (base 31 mod 1e9+7) over char-8-grams,
    * minima over sliding windows of 4, distinct minima = the fingerprint
    * set. Pure integer arithmetic → identical across engines; summarized
    * as (count, min, max) per document.
    */
  private val q24 = Q(
    fn = (s, d) => {
      import s.implicits._
      val k = 8
      val win = 4
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter(length($"text") >= k + win - 1)
        // native one-pass kernel (rolling hash + window minima + distinct);
        // bit-compatible with the nested-transform form (graft.functions)
        .select($"doc_id",
          graft.functions.expressions.winnow_fingerprint($"text").as("fps"))
        .select($"doc_id", size($"fps").cast("long").as("n_fp"),
          array_min($"fps").as("min_fp"), array_max($"fps").as("max_fp"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH codes AS (
        SELECT doc_id, list_transform(generate_series(1, len(text)),
               i -> ascii(text[i:i])) AS codes
        FROM documents WHERE len(text) >= 11
      ), kh AS (
        SELECT doc_id, list_transform(generate_series(1, len(codes) - 7),
               i -> list_reduce(codes[i:i+7], (acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % 1000000007)) AS kh
        FROM codes
      ), fps AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(kh) - 3),
               i -> list_min(kh[i:i+3]))) AS fps
        FROM kh)
      SELECT doc_id, len(fps) AS n_fp,
             CAST(list_min(fps) AS BIGINT) AS min_fp,
             CAST(list_max(fps) AS BIGINT) AS max_fp
      FROM fps
      ORDER BY doc_id"""))

  /** Q45 — deterministic train/val/test split by content-independent id
    * hash (the training-data staple: assignment must be stable across
    * runs, machines and engines, and uncorrelated with any feature).
    * First hex nibble of md5(doc_id): 0–b → train (12/16), c–d → val,
    * e–f → test. Pure projection — no shuffle, no state, reproducible
    * anywhere md5 exists.
    */
  private val q45 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          substring(md5($"doc_id".cast("string")), 1, 1).as("bucket"),
          splitOf($"doc_id").as("split"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      ORDER BY doc_id"""))

  /** Q141 — EXACT-QUOTA stratified split (largest-remainder / Hare
    * allocation): q45's hash split hits 80% only in expectation —
    * per-stratum realized fractions wobble, and a small stratum can
    * land badly off (a 60-doc language at sf0.001 can swing ±6%), which
    * is exactly what a stratified EVAL set cannot tolerate. This
    * operator allocates the global train budget T = (4N) div 5 across
    * (lang, source) strata exactly: base_h = (4·n_h) div 5 per stratum,
    * the E = T − Σ base_h leftover seats go to the strata with the
    * largest scaled remainders (4·n_h) mod 5, tie-broken (lang, source)
    * ascending — every quantity an integer, so the allocation is
    * bit-identical on any engine and Σ quotas == T by construction.
    * Within a stratum, membership is decided by the md5(doc_id) rank
    * (q45's content-independent shuffle, made rank-based): the first
    * quota_h docs in hash order train, the rest eval.
    *
    * Shape at scale: one map-side-combined stratum count (|langs| ×
    * |sources| rows — the allocation itself is driver arithmetic on a
    * bounded table, the Lloyd/centroid collect budget), one per-stratum
    * rank window (partitioned by stratum — no global sort), one
    * broadcast quota join. Nothing corpus-sized moves except the rank
    * window's own stratum-hash exchange.
    */
  private val q141 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"source")
      val strata = docs.groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val total = strata.map(_._3).sum
      val t = (4L * total) / 5L
      val base = strata.map { case (l, src, n) => (l, src, (4L * n) / 5L, (4L * n) % 5L) }
      val extra = (t - base.map(_._3).sum).toInt
      // NULLS LAST on the tie-break, mirroring the oracle's default
      // ORDER BY collation; null-stratum docs are then excluded from the
      // output by the inner quota join on BOTH engines (null keys never
      // equi-match), but such strata still occupy priority slots and can
      // consume `extra`, so they must stay in the sort
      val quotas = base
        .sortBy { case (l, src, _, r) =>
          (-r, l == null, if (l == null) "" else l,
            src == null, if (src == null) "" else src) }
        .zipWithIndex
        .map { case ((l, src, b, _), i) => (l, src, if (i < extra) b + 1 else b) }
      val quotaDf = quotas.toSeq.toDF("lang", "source", "quota")
      val ranked = docs.withColumn("rk", row_number().over(
        Window.partitionBy($"lang", $"source")
          .orderBy(md5($"doc_id".cast("string")), $"doc_id")))
      ranked.join(broadcast(quotaDf), Seq("lang", "source"))
        .select($"doc_id", $"lang", $"source",
          when($"rk" <= $"quota", "train").otherwise("eval").as("split"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
      ), tot AS (
        SELECT (4 * CAST(SUM(n) AS BIGINT)) // 5 AS t FROM c
      ), b AS (
        SELECT lang, source, n, (4 * n) // 5 AS base, (4 * n) % 5 AS r FROM c
      ), e AS (
        SELECT t - (SELECT CAST(SUM(base) AS BIGINT) FROM b) AS extra FROM tot
      ), pri AS (
        SELECT lang, source, base,
               row_number() OVER (ORDER BY r DESC, lang, source) AS pri
        FROM b
      ), q AS (
        SELECT lang, source,
               base + CASE WHEN pri <= (SELECT extra FROM e)
                           THEN 1 ELSE 0 END AS quota
        FROM pri
      ), ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
      )
      SELECT doc_id, lang, source,
             CASE WHEN rk <= quota THEN 'train' ELSE 'eval' END AS split
      FROM ranked JOIN q USING (lang, source)
      ORDER BY doc_id"""))

  /** Shared decontamination core: for every TRAIN document that shares at
    * least one word-3-gram shingle with the held-out test split, its
    * total shingle count `n` and distinct shared count `n_shared`.
    * Callers choose the contamination criterion: q46 reports the
    * reference absolute threshold (≥ 8 shared), q56 gates on the
    * fractional overlap n_shared/n — the absolute count degrades as the
    * corpus (and thus the test shingle set) grows, while the fraction
    * measures how much of THIS doc is covered by eval data, which is the
    * scale-stable leakage signal.
    *
    * `keepZeroOverlap = true` additionally
    * returns every train doc (n > 0) with n_shared = 0 — q46 thresholds
    * the former, q89 grades the latter, and both ride ONE pipeline so
    * the decontamination criterion can never silently diverge between
    * the gate and its audit. */
  private[queries] def trainTestOverlap(s: SparkSession, d: String,
      keepZeroOverlap: Boolean = false): DataFrame = {
      import s.implicits._
      // scoped persist (q18's pattern): the train and test subtrees would
      // otherwise each re-run the scan + shingle kernel
      val docs = shingled(s, d)
        .withColumn("split", splitOf($"doc_id"))
        .persist()
      try {
        val trainEx = docs.filter($"split" === "train")
          .select($"doc_id", $"n", explode($"hs").as("h"))
        val testH = docs.filter($"split" === "test")
          .select(explode($"hs").as("h")).distinct()
        // hs holds string-distinct shingles, so count(*) per doc after the
        // semi-match == distinct shared shingles
        val shared = trainEx.join(testH, Seq("h"))
          .groupBy($"doc_id")
          .agg(first($"n").as("n"), count(lit(1)).as("n_shared"))
        (if (!keepZeroOverlap) shared
         else docs.filter($"split" === "train" && $"n" > 0)
           .select($"doc_id", $"n")
           .join(shared.select($"doc_id", $"n_shared"), Seq("doc_id"), "left")
           .na.fill(0L, Seq("n_shared")))
          .localCheckpoint()
      } finally docs.unpersist()
  }

  /** Q46 — benchmark decontamination: training documents that share ≥ 8
    * word-3-gram shingles with ANY held-out (test-split) document, with
    * the shared-shingle count. The standard pre-training hygiene pass:
    * eval data leaking into train skews benchmarks, so overlap is flagged
    * before training. Split assignment is q45's md5-nibble hash.
    *
    * Shape at scale: explode the (already distinct) shingle-hash arrays,
    * inner-join train-side shingles against the distinct test-side shingle
    * set on the 8-byte hash, count per train doc — one shuffle keyed by
    * shingle hash (hot shingles spread across reducers), one count-by-doc.
    * No pairwise work at all: overlap is against the test SET, not per
    * test doc.
    */
  private val q46 = Q(
    fn = (s, d) => {
      import s.implicits._
      trainTestOverlap(s, d)
        .filter($"n_shared" >= 8)
        .select($"doc_id", $"n_shared")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' ')))) AS s
        FROM w WHERE len(w) >= 3
      ), split AS (
        SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
        FROM documents
      ), test_sh AS (
        SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE split = 'test'
      )
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh JOIN split USING (doc_id) JOIN test_sh USING (s)
      WHERE split = 'train'
      GROUP BY sh.doc_id
      HAVING COUNT(*) >= 8
      ORDER BY sh.doc_id"""))

  /** Q89 — graded contamination report (the GPT-3 §C / PaLM §7.1
    * recipe): for EVERY train-split document, the fraction of its
    * distinct word-3-grams that appear anywhere in the test split —
    * q46 flags docs past an absolute shared-count, q68 asks bloom
    * membership, q56 hard-drops past 0.8; this emits the full graded
    * distribution (zero-overlap docs included), which is what a
    * contamination audit reports and what threshold tuning needs.
    * Dirtiest documents first.
    *
    * Exactness: counts are exact longs; the fraction is one IEEE
    * division over identical integers on both engines, so even the
    * overlap_frac sort key hash-checks. Scale shape: q46's exact
    * pipeline (scan-local shingle kernel, distinct test-shingle
    * semi-join, per-doc count) plus one broadcast-size left join to
    * bring zero-overlap docs back — no new corpus-sized exchange.
    */
  private val q89 = Q(
    fn = (s, d) => {
      import s.implicits._
      // the SAME pipeline as q46's gate ([[trainTestOverlap]], zero-
      // overlap docs kept) — graded here instead of thresholded
      trainTestOverlap(s, d, keepZeroOverlap = true)
        .select($"doc_id", $"n".cast("long").as("n_shingles"), $"n_shared",
          ($"n_shared".cast("double") / $"n".cast("double")).as("overlap_frac"))
        .orderBy($"overlap_frac".desc, $"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS ss
        FROM w WHERE len(w) >= 3
      ), split AS (
        SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
        FROM documents
      ), test_sh AS (
        SELECT DISTINCT unnest(ss) AS s
        FROM sh JOIN split USING (doc_id) WHERE split = 'test'
      ), tr AS (
        SELECT doc_id, len(ss) AS n, ss
        FROM sh JOIN split USING (doc_id) WHERE split = 'train'
      ), shared AS (
        SELECT t.doc_id, COUNT(*) AS n_shared
        FROM (SELECT doc_id, unnest(ss) AS s FROM tr) t
        JOIN test_sh USING (s)
        GROUP BY t.doc_id
      )
      SELECT tr.doc_id, CAST(tr.n AS BIGINT) AS n_shingles,
             CAST(COALESCE(shared.n_shared, 0) AS BIGINT) AS n_shared,
             CAST(COALESCE(shared.n_shared, 0) AS DOUBLE)
               / CAST(tr.n AS DOUBLE) AS overlap_frac
      FROM tr LEFT JOIN shared ON tr.doc_id = shared.doc_id
      ORDER BY overlap_frac DESC, tr.doc_id"""))

  /** Q90 — DSIR importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every RAW-pool document by the log likelihood ratio of its tokens
    * under a target-domain unigram model vs the raw-pool model —
    * selecting the highest-weight docs importance-resamples the raw
    * pool toward the target distribution. Target = the `lang = 'en'`
    * slice (the paper's target sample); raw pool = everything else;
    * add-one smoothing over the UNION vocabulary on both sides. The
    * paper hashes features only to bound memory — the exact-unigram
    * form here is the same estimator (a vocabulary-sized model is
    * already this engine's standard working set: q51/q80/q84/q85).
    *
    * Exactness: per-term `floor(ln(p)·10⁶)` fixed-point log-probs
    * (q84/q85's device), so each doc's weight is an exact long
    * Σ count·(lp_target − lp_raw) — order-free on both engines; even
    * the sort key hash-checks. Scale shape: term stats are one
    * map-side-combined vocab-sized aggregate; the totals row
    * broadcasts; scoring is q51's (doc,term)⋈vocab equi-join + one
    * per-doc sum — no corpus-sized shuffle beyond the standard
    * token-stats exchange.
    */
  private val q90 = Q(
    fn = (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", ($"lang" === "en").as("is_t"),
          explode(words($"text")).as("term"))
      val termStats = toks.groupBy($"term").agg(
        sum(when($"is_t", 1L).otherwise(0L)).as("ct"),
        sum(when(!$"is_t", 1L).otherwise(0L)).as("cr"))
      val totals = termStats.agg(sum($"ct").as("nt"), sum($"cr").as("nr"),
        count(lit(1)).as("v"))
      val delta = termStats.crossJoin(broadcast(totals))
        .select($"term",
          (floor(log(($"ct" + 1).cast("double") / ($"nt" + $"v").cast("double")) * 1e6)
            .cast("long")
            - floor(log(($"cr" + 1).cast("double") / ($"nr" + $"v").cast("double")) * 1e6)
              .cast("long")).as("delta_fp"))
      toks.filter(!$"is_t")
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
        .join(delta, Seq("term"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"), sum($"c" * $"delta_fp").as("weight_fp"))
        .orderBy($"weight_fp".desc, $"doc_id")
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, lang = 'en' AS is_t,
               unnest(string_split(text, ' ')) AS term
        FROM documents
      ), ts AS (
        SELECT term,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS cr
        FROM t GROUP BY term
      ), tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
               COUNT(*) AS v
        FROM ts
      ), delta AS (
        SELECT term,
          CAST(FLOOR(LN(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)) * 1e6) AS BIGINT)
          - CAST(FLOOR(LN(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)) * 1e6) AS BIGINT)
            AS delta_fp
        FROM ts CROSS JOIN tot
      ), rd AS (
        SELECT doc_id, term, COUNT(*) AS c
        FROM t WHERE NOT is_t GROUP BY doc_id, term
      )
      SELECT rd.doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * delta_fp) AS BIGINT) AS weight_fp
      FROM rd JOIN delta USING (term)
      GROUP BY rd.doc_id
      ORDER BY weight_fp DESC, rd.doc_id"""))

  /** Q48 — repetition-based quality filtering (the Gopher/C4 family of
    * training-corpus filters: Rae et al. 2021 §A1.1 "repetition" signals;
    * Raffel et al. 2020 §2.2 heuristics). Per document:
    *
    *  - `top_word_frac`: occurrences of the most frequent word / total
    *    words (boilerplate/keyword-stuffing signal);
    *  - `distinct_frac`: distinct words / total words (vocabulary
    *    collapse signal);
    *  - `dup_2gram_frac`: fraction of word-2-gram occurrences that are
    *    repeats (template/loop signal);
    *  - `keep`: all three inside their thresholds.
    *
    * Shape for 100 TB: ALL five per-document counts come from the
    * [[graft.functions.expressions.WordStats]] native kernel in one pass
    * that never leaves the scan task — zero shuffle bytes (the previous
    * form explode-shuffled one row per word occurrence through a
    * two-level hash agg; per-document statistics don't need a shuffle at
    * all). Fractions are exact-int divisions, so the doubles (and the
    * boolean verdict) are bit-identical cross-engine.
    */
  private[queries] def repetitionScores(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", graft.functions.expressions.word_stats($"text").as("st"))
        .filter($"st.total2" >= 1)
        .select($"doc_id", $"st.n_words".as("n_words"),
          ($"st.top_c".cast("double") / $"st.n_words").as("top_word_frac"),
          ($"st.n_distinct".cast("double") / $"st.n_words").as("distinct_frac"),
          (($"st.total2" - $"st.d2").cast("double") / $"st.total2").as("dup_2gram_frac"))
  }

  /** The q48 quality verdict as a reusable predicate column. */
  private def qualityKeep: Column =
    col("top_word_frac") <= 0.12 && col("distinct_frac") >= 0.35 &&
      col("dup_2gram_frac") <= 0.08

  private val q48 = Q(
    fn = (s, d) => {
      import s.implicits._
      repetitionScores(s, d)
        .withColumn("keep", qualityKeep)
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), grams AS (
        SELECT doc_id, len(w)-1 AS total2,
               len(list_distinct(list_transform(generate_series(1, len(w)-1),
                 i -> array_to_string(w[i:i+1], ' ')))) AS d2
        FROM w WHERE len(w) >= 2
      ), wc AS (
        SELECT doc_id, unnest(w) AS word FROM w
      ), cnt AS (
        SELECT doc_id, word, COUNT(*) AS c FROM wc GROUP BY doc_id, word
      ), freq AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct, MAX(c) AS top_c
        FROM cnt GROUP BY doc_id
      )
      SELECT f.doc_id, f.n_words,
             CAST(f.top_c AS DOUBLE) / f.n_words AS top_word_frac,
             CAST(f.n_distinct AS DOUBLE) / f.n_words AS distinct_frac,
             CAST(g.total2 - g.d2 AS DOUBLE) / g.total2 AS dup_2gram_frac,
             (CAST(f.top_c AS DOUBLE) / f.n_words <= 0.12
              AND CAST(f.n_distinct AS DOUBLE) / f.n_words >= 0.35
              AND CAST(g.total2 - g.d2 AS DOUBLE) / g.total2 <= 0.08) AS keep
      FROM freq f JOIN grams g USING (doc_id)
      ORDER BY f.doc_id"""))

  /** q49's default mixing table: per-language keep_n of 256 buckets. */
  private[graft] val defaultMix: Seq[(String, Int)] =
    Seq(("en", 128), ("fr", 192), ("de", 192), ("es", 224), ("zh", 256))

  /** q49's mixing core, shared with the streaming twin
    * ([[graft.streaming.Pipeline.mixedDocumentStream]]): md5 bucket of
    * doc_id computed scan-side, broadcast join against the mixing table,
    * keep rows whose bucket falls under their language's keep_n, attach
    * the inverse-probability `weight`. Stateless and scan-local, so it
    * runs identically on batch and streaming frames; all input columns
    * pass through.
    */
  private[graft] def domainMix(docs: DataFrame, mix: DataFrame): DataFrame = {
    val hexpos = "instr('0123456789abcdef', substr(md5(cast(doc_id as string)), %d, 1))"
    val bucket = expr(s"(${hexpos.format(1)} - 1) * 16 + ${hexpos.format(2)} - 1")
    docs
      .withColumn("bucket", bucket.cast("long"))
      .join(broadcast(mix), Seq("lang"))
      .filter(col("bucket") < col("keep_n"))
      .withColumn("weight", lit(256.0) / col("keep_n"))
      .drop("bucket", "keep_n")
  }

  /** Q49 — stratified deterministic sampling (domain mixing): each
    * language gets a target retention rate from a mixing table (the
    * knob a 100 TB pipeline turns to re-weight low-resource languages),
    * and a document survives iff its content-hash bucket falls under its
    * language's rate. Sampling is a pure function of doc_id (md5 bucket
    * in [0, 256)), so the sample is reproducible run-to-run, engine-to-
    * engine — no rand(), no seed plumbing — and survivors carry the
    * inverse-probability `weight` for unbiased downstream aggregation.
    *
    * Shape for 100 TB: the mixing table joins as a broadcast (5 rows);
    * the bucket is computed scan-side, so the filter prunes before any
    * shuffle. Rates are k/256 (two md5 nibbles) — fine-grained enough
    * for mixing ratios while staying exactly portable SQL (no float
    * thresholds, no engine hash functions).
    */
  private val q49 = Q(
    fn = (s, d) => {
      import s.implicits._
      domainMix(
        Tables.documents(s, d).select($"doc_id", $"lang", $"source"),
        defaultMix.toDF("lang", "keep_n"))
        .select($"doc_id", $"lang", $"source", $"weight")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH mix AS (
        SELECT * FROM (VALUES ('en', 128), ('fr', 192), ('de', 192),
                              ('es', 224), ('zh', 256)) m(lang, keep_n)
      ), bucketed AS (
        SELECT doc_id, lang, source,
               (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        FROM documents
      )
      SELECT doc_id, lang, source, 256.0 / keep_n AS weight
      FROM bucketed JOIN mix USING (lang)
      WHERE bucket < keep_n
      ORDER BY doc_id"""))

  /** Q51 — TF-IDF keyword extraction: top-3 terms per document ranked by
    * tf × ln(N/df), ties broken by term. The score itself is
    * intentionally NOT in the output: Spark's `log` evaluates through
    * StrictMath (fdlibm) while DuckDB/C engines use the platform libm,
    * which disagree by 1 ulp on ~9% of this domain — the RANKING is
    * insensitive to 1-ulp perturbations unless two unequal scores
    * coincide to 15 significant digits (verified empirically at sf0.01
    * and sf0.1), but a score column would hash-mismatch outright.
    *
    * Shape for 100 TB: tf is a map-side-combined two-key hash agg; df
    * aggregates the (already tiny) tf frame by word; N is a 1-row agg
    * broadcast via crossJoin (the q09b/q10 pattern — no unpartitioned
    * window); per-doc top-3 is a rank-limit window, which Spark 4 runs
    * as WindowGroupLimit (top-k per key, no full sort of the partition).
    */
  private val q51 = Q(
    fn = (s, d) => {
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select($"doc_id", explode(words($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val ranked = tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .withColumn("score", $"tf" * log($"n".cast("double") / $"df"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")))
        .filter($"rank" <= 3)
      ranked.select($"doc_id", $"term", $"tf", $"df", $"rank".cast("long").as("rank"))
        .orderBy($"doc_id", $"rank")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), tf AS (
        SELECT doc_id, unnest(w) AS term FROM w
      ), tfc AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
      ), dfc AS (
        SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
      ), n AS (
        SELECT COUNT(*) AS n FROM documents
      ), ranked AS (
        SELECT doc_id, term, tf, df,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tf * ln(CAST(n AS DOUBLE) / df) DESC, term) AS rank
        FROM tfc JOIN dfc USING (term) CROSS JOIN n
      )
      SELECT doc_id, term, tf, df, rank
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  /** q50's sequential FFD replay (the recursive-CTE oracle), extracted so
    * q172's efficiency audit aggregates EXACTLY the same packing — the
    * two oracles cannot drift. Declared before q50: object vals
    * initialize in declaration order. */
  private val ffdPackCtes = """
      WITH RECURSIVE docs AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n,
               CAST(doc_id % 64 AS INT) AS grp
        FROM documents
      ), ordered AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY n DESC, doc_id) AS INT) AS rn
        FROM docs
      ), steps AS (
        SELECT grp, 0 AS rn, CAST([] AS INT[]) AS bins,
               CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS bin, CAST(NULL AS INT) AS n
        FROM (SELECT DISTINCT grp FROM ordered)
        UNION ALL
        SELECT o.grp, o.rn,
               CASE WHEN COALESCE(list_position(list_transform(s.bins, b -> b >= o.n), true), 0) = 0
                    THEN list_append(s.bins, GREATEST(128 - o.n, 0))
                    ELSE list_transform(generate_series(1, len(s.bins)),
                           i -> CASE WHEN i = list_position(list_transform(s.bins, b -> b >= o.n), true)
                                     THEN s.bins[i] - o.n ELSE s.bins[i] END) END,
               o.doc_id,
               CAST(CASE WHEN COALESCE(list_position(list_transform(s.bins, b -> b >= o.n), true), 0) = 0
                    THEN len(s.bins)
                    ELSE list_position(list_transform(s.bins, b -> b >= o.n), true) - 1 END AS INT),
               o.n
        FROM steps s JOIN ordered o ON o.grp = s.grp AND o.rn = s.rn + 1
      )"""

  /** Q50 — sequence packing: assign documents to fixed token-budget bins
    * (context windows) so training batches waste minimal padding. Bin
    * packing is NP-hard and inherently sequential, so the distributed
    * form is two-level: documents are deterministically salted into
    * `P` independent packing groups (pmod of doc_id — at 100 TB, P
    * tracks cluster parallelism and each group packs inside one task),
    * and each group runs first-fit-decreasing imperatively inside
    * `flatMapGroups` (the one operator family where typed per-group
    * logic genuinely beats declarative SQL — FFD's open-bin state has
    * no window-function form). FFD guarantees ≤ 11/9·OPT + 1 bins per
    * group (Johnson 1973); the invariants spec asserts the capacity
    * bound and that bound.
    *
    * Documents longer than the budget get singleton bins (truncation is
    * a separate concern — q44's resize shape). Deterministic: group
    * salt, sort key (tokens desc, doc_id), and fit order are all pure
    * functions of the input — so even this imperative operator is
    * hash-verified: the oracle replays FFD sequentially as a DuckDB
    * recursive CTE whose per-group state is the bin-capacity list
    * (one recursion step per document, first-fit via list_position).
    * QueriesSpec keeps the capacity/FFD-bound/determinism invariants.
    * NOTE: the oracle pins the DEFAULT group count (64) — the session
    * knob is for deployments/specs; CORRECTNESS runs use the default.
    */
  private val q50 = Q(
    fn = (s, d) => {
      import s.implicits._
      val budget = 128
      // a packing group must fit one task's memory (it is sorted and
      // packed imperatively): size P to corpus_rows / rows-per-task, not
      // to a constant — session-tunable for deployments
      val nGroups = s.conf.get("graft.pack.groups", "64").toInt
      val toks = Tables.documents(s, d)
        .select($"doc_id", size(words($"text")).as("n_tokens"),
          pmod($"doc_id", lit(nGroups)).cast("int").as("grp"))
      toks.as[(Long, Int, Int)]
        .groupByKey(_._3)
        .flatMapGroups { (grp, it) =>
          val docs = it.toArray.sortBy { case (id, n, _) => (-n, id) }
          val remaining = scala.collection.mutable.ArrayBuffer.empty[Int]
          docs.iterator.map { case (id, n, _) =>
            val fit = remaining.indexWhere(_ >= n)
            val bin =
              if (fit >= 0) { remaining(fit) -= n; fit }
              else { remaining += math.max(budget - n, 0); remaining.length - 1 }
            (id, grp, bin, n)
          }
        }
        .toDF("doc_id", "grp", "bin", "n_tokens")
        .orderBy($"doc_id")
    },
    oracle = Some(s"""$ffdPackCtes
      SELECT doc_id, grp, bin, n AS n_tokens
      FROM steps WHERE doc_id IS NOT NULL
      ORDER BY doc_id"""))

  /** Q172 — PACKING-EFFICIENCY audit: the measurement that tells you
    * whether q50's sequence packing is worth shipping — per packing
    * group, how many context windows the FFD packing used, how much
    * padding it wastes, and how far it sits from the bin-packing lower
    * bound (a packing run without this audit can silently burn 30% of
    * paid FLOPs on pad tokens). From q50's packing (shared fn — the
    * audit measures EXACTLY the shipped packing):
    *
    *  - a bin's load is the token sum of its documents; a bin with
    *    load > 128 is an OVERSIZED singleton (FFD gives an oversized
    *    document remaining capacity 0, so nothing joins it) and is
    *    excluded from the waste accounting — truncation is q70's
    *    concern, not packing's;
    *  - padding_waste = Σ over regular bins of (128 − load);
    *  - lb_bins = n_oversized + ceil(small_tokens / 128), the
    *    classical capacity lower bound (the spec pins n_bins ≥ lb;
    *    Johnson's 11/9·OPT + 1 FFD guarantee is NOT pinned against lb
    *    — OPT can sit far above the capacity bound when documents are
    *    just over half the budget, so that inequality is not a theorem
    *    of this audit's observables);
    *  - utilization = small_tokens / (128 · regular bins), null when a
    *    group is all-oversized (NULLIF on both engines).
    *
    * All integer arithmetic except the one final division. Shape at
    * 100 TB: q50's per-group FFD (P groups track cluster parallelism)
    * plus two map-side-combined aggregations of the packed frame —
    * the audit costs one pass over doc-level rows, never the text.
    */
  private val q172 = Q(
    fn = (s, d) => {
      import s.implicits._
      val bins = q50.fn(s, d)
        .groupBy($"grp", $"bin")
        .agg(sum($"n_tokens".cast("long")).as("load"),
          count(lit(1)).as("n_docs"))
      bins.groupBy($"grp")
        .agg(
          sum($"n_docs").as("n_docs"),
          count(lit(1)).as("n_bins"),
          sum(when($"load" > 128L, 1L).otherwise(0L)).as("n_oversized_bins"),
          sum(when($"load" <= 128L, $"load").otherwise(0L)).as("small_tokens"),
          sum(when($"load" <= 128L, lit(128L) - $"load").otherwise(0L))
            .as("padding_waste"))
        .withColumn("lb_bins",
          $"n_oversized_bins" + expr("(small_tokens + 127) div 128"))
        .withColumn("utilization",
          $"small_tokens".cast("double") /
            nullif(lit(128L) * ($"n_bins" - $"n_oversized_bins"), lit(0L)))
        .select($"grp", $"n_docs", $"n_bins", $"n_oversized_bins",
          $"small_tokens", $"padding_waste", $"lb_bins", $"utilization")
        .orderBy($"grp")
    },
    oracle = Some(s"""$ffdPackCtes,
      packed AS (
        SELECT grp, bin, CAST(n AS BIGINT) AS n
        FROM steps WHERE doc_id IS NOT NULL
      ), binload AS (
        SELECT grp, bin, SUM(n) AS load, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM packed GROUP BY grp, bin
      ), agg AS (
        SELECT grp,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(CASE WHEN load > 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversized_bins,
               CAST(SUM(CASE WHEN load <= 128 THEN load ELSE 0 END) AS BIGINT) AS small_tokens,
               CAST(SUM(CASE WHEN load <= 128 THEN 128 - load ELSE 0 END) AS BIGINT) AS padding_waste
        FROM binload GROUP BY grp
      )
      SELECT grp, n_docs, n_bins, n_oversized_bins, small_tokens,
             padding_waste,
             CAST(n_oversized_bins + (small_tokens + 127) // 128 AS BIGINT) AS lb_bins,
             CAST(small_tokens AS DOUBLE)
               / NULLIF(128 * (n_bins - n_oversized_bins), 0) AS utilization
      FROM agg
      ORDER BY grp"""))

  /** Q56 — the flagship composition: materialize the cleaned TRAINING
    * SPLIT end to end, the query a pre-training data pipeline actually
    * ships. Stages (each individually oracled by its own query):
    *
    *  1. quality gate — q48's repetition thresholds;
    *  2. split assignment — q45's deterministic md5-nibble, keep 'train';
    *  3. decontamination — drop docs whose shingle set is ≥ 80% covered
    *     by the held-out test split (the fractional form of q46's
    *     overlap — scale-stable where the absolute count is not), as a
    *     LEFT ANTI join;
    *  4. feature join — attach the embedding row (vec_id = doc_id).
    *
    * Shape at scale: stages 1–3 are filters/anti-joins keyed on doc_id
    * (the anti join's right side is the small contaminated-id set —
    * broadcast); the embedding join is the only big-big equi-join,
    * shuffling both sides once on the shared key. Every stage is
    * deterministic, so the materialized split is reproducible bit-for-bit
    * anywhere — which is the property that makes training runs
    * comparable.
    */
  private val q56 = Q(
    fn = (s, d) => {
      import s.implicits._
      val keepers = repetitionScores(s, d)
        .filter(qualityKeep)
        .select($"doc_id", $"n_words".as("n_tokens"))
      val train = Tables.documents(s, d)
        .filter(splitOf($"doc_id") === "train")
        .select($"doc_id", $"lang", $"source")
      // fractional criterion (≥ 80% of the doc's own shingles covered by
      // the test set): near-verbatim leakage, stable as the corpus grows —
      // see trainTestOverlap
      val contaminated = trainTestOverlap(s, d)
        .filter($"n_shared".cast("double") / $"n" >= 0.8)
        .select($"doc_id")
      val emb = Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), $"embedding")
      // The materialized split carries the embedding as a scalar digest,
      // not the raw array: md5 over the comma-joined exact-quantized
      // components (the q25 quantization, so both engines see identical
      // int64 strings). A digest is what a reproducibility check wants
      // anyway — bit-level drift in the feature join shows up as a hash
      // mismatch without shipping 64 floats per row through the compare.
      val digest = md5(array_join(
        transform(graft.functions.expressions.quantize_vec($"embedding"),
          x => x.cast("long").cast("string")), ","))
      train
        .join(keepers, Seq("doc_id"))
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .join(emb, Seq("doc_id"))
        .select($"doc_id", $"lang", $"source", $"n_tokens",
          digest.as("emb_digest"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), grams AS (
        SELECT doc_id, len(w)-1 AS total2,
               len(list_distinct(list_transform(generate_series(1, len(w)-1),
                 i -> array_to_string(w[i:i+1], ' ')))) AS d2
        FROM w WHERE len(w) >= 2
      ), wc AS (
        SELECT doc_id, unnest(w) AS word FROM w
      ), cnt AS (
        SELECT doc_id, word, COUNT(*) AS c FROM wc GROUP BY doc_id, word
      ), freq AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct, MAX(c) AS top_c
        FROM cnt GROUP BY doc_id
      ), keepers AS (
        SELECT f.doc_id, f.n_words AS n_tokens
        FROM freq f JOIN grams g USING (doc_id)
        WHERE CAST(f.top_c AS DOUBLE) / f.n_words <= 0.12
          AND CAST(f.n_distinct AS DOUBLE) / f.n_words >= 0.35
          AND CAST(g.total2 - g.d2 AS DOUBLE) / g.total2 <= 0.08
      ), split AS (
        SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
        FROM documents
      ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' ')))) AS s,
               len(list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' ')))) AS n
        FROM w WHERE len(w) >= 3
      ), test_sh AS (
        SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE split = 'test'
      ), contaminated AS (
        SELECT sh.doc_id
        FROM sh JOIN split USING (doc_id) JOIN test_sh USING (s)
        WHERE split = 'train'
        GROUP BY sh.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / any_value(n) >= 0.8
      )
      SELECT d.doc_id, d.lang, d.source, k.n_tokens,
             md5(array_to_string(list_transform(e.embedding,
               x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) AS VARCHAR)),
               ',')) AS emb_digest
      FROM documents d
      JOIN split USING (doc_id)
      JOIN keepers k ON k.doc_id = d.doc_id
      JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE split.split = 'train'
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY d.doc_id"""))

  /** Q61 — weighted sample via PRIORITY SAMPLING (Duffield, Lund & Thorup,
    * JACM 2007): each document gets priority w/u with weight w = its token
    * count and u a uniform in (0,1]; the top-64 by priority form a sample
    * whose subset-sum estimates are provably near-optimal — the standard
    * way to downsample a corpus by quality/length weight without a global
    * shuffle (vs q49's equal-probability strata).
    *
    * Determinism across engines, by construction: u is an md5-derived
    * 32-bit integer (never 0 after +1), and the priority is
    * `(w·2^32) / (h+1)` — the product is an exact double (< 2^52) and a
    * single IEEE division is correctly rounded on every engine, so the
    * ranking is bit-identical (pow/ln-based exponential keys would NOT
    * be: libm vs Math.pow differ in ulps). Top-k executes as
    * TakeOrderedAndProject (per-partition heads, then one k-row merge);
    * the rank window runs over the 64 survivors only.
    */
  private val q61 = Q(
    fn = (s, d) => {
      import s.implicits._
      val keyed = Tables.documents(s, d)
        .select($"doc_id",
          graft.functions.expressions.word_stats($"text").getField("n_words").as("n_words"))
        .withColumn("h",
          conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long"))
        .select($"doc_id", $"n_words",
          (($"n_words".cast("double") * 4294967296.0) / ($"h" + 1).cast("double"))
            .as("priority"))
      keyed.orderBy($"priority".desc, $"doc_id").limit(64)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"priority".desc, $"doc_id")))
        .select($"doc_id", $"n_words", $"priority", $"rank")
        .orderBy($"rank")
    },
    oracle = Some("""
      WITH keyed AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(string_split(text, ' ')) AS DOUBLE) * 4294967296.0
                 / CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 1 AS DOUBLE) AS priority
        FROM documents)
      SELECT doc_id, n_words, priority,
             CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INT) AS rank
      FROM keyed
      ORDER BY priority DESC, doc_id
      LIMIT 64"""))

  /** Q65 — duplicate-span detection: for every document, how many of its
    * word-8-gram positions are corpus-duplicated (the 8-gram also occurs
    * in at least one OTHER document). This is span-level dedup signal in
    * the sense of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022) — doc-level dedup (q17–q20) misses the
    * boilerplate an 8-gram filter catches, and the per-doc dup fraction
    * is the standard gate for "mostly-duplicated" pages.
    *
    * Scale shape: the explode emits n−7 grams per document, but each
    * shuffles as a fixed 8-byte [[gram8Keys]] long (r15; was 16-byte
    * unhex(md5) of the gram string — see the helper's identity/audit
    * note), not the ~50-byte gram text, and the whole roll-up is
    * [[dupFraction]]'s r14 join-free plan:
    * per-doc totals plus ONE key-keyed (min, max, count) fold whose df = 1
    * survivors are subtracted from the totals
    * (n_dup = n_spans − Σc over min(doc)==max(doc) keys) — no corpus-sized
    * join, no all-pairs anywhere, cost is O(total tokens), the same as a
    * tokenize pass. The dup flag needs `df ≥ 2` over DISTINCT docs, so a
    * gram repeated within one document only does not count (position count
    * and distinct-doc count differ exactly there).
    *
    * `dup_frac` is one IEEE division of two exact integers — bit-identical
    * on any engine, no rounding needed.
    */
  private val q65 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("ws"))
        .filter(size($"ws") >= 8)
      dupFraction(
        docs
          // r15: 8-byte long key straight off the word array
          // ([[gram8Keys]]) — half the r14 exchange width (16-byte
          // unhex(md5)), and neither the ~50-byte gram string nor the
          // md5 is ever computed
          .select($"doc_id", explode(gram8Keys($"ws")).as("key")),
        // n_spans is arithmetic in the row (n − 7 positions, the exact
        // row count of the explode above): supplying it skips the
        // single-arg overload's second scan + hash + explode + count
        // pass over every position
        docs.select($"doc_id", (size($"ws") - 7).cast("long").as("n_spans")))
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      pos AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w),
      g AS (
        SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS gk FROM pos),
      df AS (
        SELECT gk, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gk)
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
             CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS dup_frac
      FROM g JOIN df USING (gk)
      GROUP BY g.doc_id
      ORDER BY g.doc_id"""))

  /** q45's deterministic split assignment, shared by every consumer
    * (q45, trainTestOverlap/q46/q56, q68): first hex nibble of
    * md5(doc_id) — 0–b train (12/16), c–d val (2/16), e–f test (2/16).
    * One definition so the split can never silently diverge between the
    * split query and the decontamination/materialization stages.
    */
  private def splitOf(docId: Column): Column = {
    val nibble = substring(md5(docId.cast("string")), 1, 1)
    when(nibble <= "9" || nibble === "a" || nibble === "b", "train")
      .when(nibble === "c" || nibble === "d", "val")
      .otherwise("test")
  }

  /** One 8-byte key per word-8-gram position (q65 / q86's span-dedup
    * identity): xxhash64 over the 8 words AS A TUPLE — the gram string
    * is never concatenated and no md5 runs, and the key shuffles as a
    * long (8 bytes) instead of r14's 16-byte unhex(md5(gram)) binary
    * (guide §2.3: narrower types through the exchange; the hash itself
    * is also ~an order of magnitude cheaper per position than md5 over
    * the ~50-byte string).
    *
    * Identity contract: the oracles key grams by md5(gram-string).
    * Tuple identity EQUALS gram-string identity because words are
    * space-free (they come from split on ' '), so joining with a space
    * separator is injective — the only semantic delta is hash width
    * (128 → 64 bit). Collisions would first show up as a df
    * over-count; audited by [[graft.dev.KeyAuditProbe]] (count distinct
    * md5 vs xxhash64-tuple vs pairs — bijective on the x1000 corpus,
    * zero collisions; OPTIMIZATION_r15.md) on top of the driver-SF
    * oracle hash checks. If a future corpus ever trips the audit, fall
    * back to the md5 key and take the r14 exchange width.
    */
  private[graft] def gram8Keys(ws: Column): Column =
    transform(sequence(lit(0), size(ws) - 8),
      i => xxhash64((0 to 7).map(j => element_at(ws, i + (j + 1))): _*))

  /** Shared duplicate-occurrence roll-up (q65's word 8-grams, q73's
    * binary frames): given one (doc_id, key) row per span occurrence,
    * report per doc the total occurrence count, the corpus-duplicated
    * count (df >= 2 — the key occurs in at least one OTHER document),
    * and their exact-IEEE ratio.
    *
    * r14 shape (the flag join removed — guide §2.4): the previous plan
    * attached each key's distinct-doc frequency back onto the collapsed
    * (doc, key) frame with a corpus-sized equi-join, which pushed every
    * occurrence row through three corpus-sized exchanges (collapse by
    * (doc, key), re-key by key for df, join output re-keyed by doc) —
    * the x1000 decade probe measured that super-linear (shuffle-block
    * growth, guide §2.2). But the df value is never needed per row:
    * n_dup_spans = n_spans − (occurrences of keys UNIQUE to the doc),
    * and a key is unique to one doc iff min(doc_id) == max(doc_id) over
    * its occurrences. So ONE exchange keyed by `key` folds
    * (min, max, count) — map-side partials collapse each scan task's
    * position stream to its local key set first — the df == 1 survivors
    * re-aggregate by their single doc (narrow rows, map-side combined),
    * and subtract from the per-doc totals, whose own exchange is tiny
    * (the explode streams doc-contiguous, so partials collapse to
    * ~one row per doc per task). Output is identical by arithmetic
    * identity (Σ c over df ≥ 2 keys = Σ c − Σ c over df = 1 keys),
    * pinned by the PropertySpec in-memory reference.
    *
    * r15: callers whose span count is arithmetic in the row itself
    * (q65: n−7 8-gram positions; q73: ⌈len/64⌉ frames) pass `totals`
    * explicitly via the two-argument overload — the single-argument
    * form re-evaluated the whole occ subtree (scan + key hash + explode
    * + partial count) just to COUNT rows per doc (the two legs' partial
    * aggs differ, so AQE stage reuse never shared them; guide §2.3/§2.4:
    * don't produce the rows at all). The contract: `totals` must be
    * (doc_id, n_spans) with n_spans == occ's exact per-doc row count —
    * pinned against the counting form by PropertySpec.
    */
  private[graft] def dupFraction(occ: DataFrame): DataFrame = {
    val s = occ.sparkSession
    import s.implicits._
    // per-doc occurrence totals: occ streams doc-contiguous out of the
    // explode, so the map-side partial collapses each task to ~its doc
    // count before the exchange
    dupFraction(occ, occ.groupBy($"doc_id").agg(count(lit(1)).as("n_spans")))
  }

  /** [[dupFraction]] with caller-supplied per-doc totals — see the
    * single-argument overload's r15 note for the exactness contract. A
    * doc whose total is below its count of df == 1 occurrences fails
    * the query with an error naming the doc_id. */
  private[graft] def dupFraction(occ: DataFrame, totals: DataFrame): DataFrame = {
    val s = occ.sparkSession
    import s.implicits._
    // keys whose every occurrence sits in one document (df == 1): the
    // only rows that do NOT count as duplicated spans
    val uniq = occ.groupBy($"key")
      .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"),
        count(lit(1)).as("c"))
      .filter($"d0" === $"d1")
      .groupBy($"d0").agg(sum($"c").as("n_uniq"))
      .select($"d0".as("doc_id"), $"n_uniq")
    // totals short of occ's rows would give a negative duplicate count
    // and a dup_frac < 0: fail the contract loudly instead
    val nUniq = coalesce($"n_uniq", lit(0L))
    totals.join(uniq, Seq("doc_id"), "left")
      .select($"doc_id", $"n_spans",
        when(nUniq > $"n_spans", raise_error(concat(
          lit("dupFraction: totals hold fewer spans than occ for doc_id "),
          $"doc_id".cast("string"))))
          .otherwise($"n_spans" - nUniq).as("n_dup_spans"))
      .withColumn("dup_frac",
        $"n_dup_spans".cast("double") / $"n_spans".cast("double"))
      .orderBy($"doc_id")
  }

  /** Q67 — corpus-wide heavy hitters, exact: top-64 tokens by occurrence
    * count. The canonical explode → hash-agg shape: partial aggregation
    * collapses each scan task's occurrences to its local vocabulary
    * before the shuffle (the shuffle carries distinct-tokens-per-task
    * rows, not one row per occurrence), and the final top-64 is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of 64-row
    * heads, never a global sort). Deterministic total order
    * (cnt desc, token) so the LIMIT boundary is stable cross-engine.
    */
  private val q67 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(words($"text")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token")
        .limit(64)
    },
    oracle = Some("""
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
      ORDER BY cnt DESC, token
      LIMIT 64"""))

  /** Q67b — guaranteed heavy hitters via the Misra–Gries sketch
    * ([[graft.functions.expressions.FreqSketch]], k = 256), two passes:
    *
    *  1. sketch pass: one `freq_sketch` aggregate (+ the exact total N in
    *     the same job) — partials are <= 256-entry maps merged up the
    *     normal aggregation tree, so NOTHING per-token is shuffled; the
    *     driver receives one sketch-sized row (the bounded-collect
    *     category: <= k entries by construction, like upsert's partition
    *     metadata);
    *  2. recount pass: the MG guarantee says every token with true count
    *     c > N/(k+1) is in the sketch, so the sketch entries are a
    *     complete candidate set — re-count exactly ONLY those (a
    *     broadcast IN filter of <= 256 tokens, then a <= 256-key agg) and
    *     keep c > N/(k+1).
    *
    * The sketch's counts are stream-order-dependent (Spark merge order is
    * not deterministic) but the FINAL output is exact and deterministic —
    * it equals "all tokens with count > N/257" — so a sketch-based plan
    * still gets a full hash-match oracle. At 100 TB this replaces q67's
    * full-vocabulary shuffle with one sketch per task; the guarantee
    * (not just heuristics) is what makes the second pass sufficient.
    * Bounds (est <= c, c − est <= N/(k+1), merge-safe) pinned in
    * FreqSketchSpec against exact counts.
    */
  private val q67b = Q(
    fn = (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(words($"text")).as("token"))
      val row = toks
        .agg(graft.functions.expressions.freq_sketch($"token").as("sk"),
          count(lit(1)).as("n"))
        .collect()(0)
      val n = row.getLong(1)
      val thr = n / 257L // k = 256: every token with c > thr is in the sketch
      val cand = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      // broadcast-join candidate filter — q77's shape: the ≤256-entry
      // candidate set rides as one small relation instead of a 256-literal
      // `isin` re-analyzed into an InSet on every run
      val candDf = broadcast(cand.toSeq.toDF("token"))
      toks.join(candDf, Seq("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" > thr)
        .orderBy($"cnt".desc, $"token")
    },
    oracle = Some("""
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      tot AS (SELECT COUNT(*) AS n FROM t)
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t
      GROUP BY token
      HAVING COUNT(*) > (SELECT n // 257 FROM tot)
      ORDER BY cnt DESC, token"""))

  /** Q68 — decontamination with a broadcast bloom pre-filter: q46's
    * declared semantics (train docs sharing >= 8 distinct word-3-gram
    * shingles with the test split) through the 100 TB physical plan:
    *
    *  1. build ONE bloom filter over the test split's shingle hashes
    *     (Spark's own matched BloomFilterAggregate/BloomFilterMightContain
    *     pair — the runtime-filter machinery, surfaced as functions);
    *     the serialized filter (~1.2 MB per 10⁶ distinct shingles at the
    *     default 3 % FPP) ships as a BROADCAST VARIABLE probed by
    *     `BloomProbeBroadcast`, so the plan carries only the broadcast
    *     handle and plan size stays O(1) however large the held-out set
    *     grows — executors fetch the payload once via torrent;
    *  2. probe every train doc's shingle array SCAN-SIDE (a codegen'd
    *     `filter(hs, h -> might_contain(...))` — no join, no shuffle) and
    *     keep docs with >= 8 probable hits. Bloom has no false negatives,
    *     so bloom-hits >= true-shared per doc and every truly contaminated
    *     doc survives the prune — the filter only sheds clean docs (the
    *     overwhelming majority of a real corpus);
    *  3. exact set-semi-join verification (q46's shuffle) over the pruned
    *     remnant only, so the expensive exchange carries candidate docs
    *     instead of the whole corpus.
    *
    * Output is bit-identical to the exact plan — same oracle as q46 —
    * which is the point: the bloom is a prune, not an approximation of
    * the answer. FPP only costs extra verification work, never wrong
    * rows. Prune effectiveness pinned in QueriesSpec.
    */
  private val q68 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val docs = shingled(s, d)
        .withColumn("split", splitOf($"doc_id"))
        .persist()
      try {
        val testH = docs.filter($"split" === "test")
          .select(explode($"hs").as("h")).distinct()
        // size the bloom from sum(n) — an upper bound on distinct test
        // shingles that needs only the tiny per-doc counts (no explode,
        // no distinct job); an oversized estimate only lowers the FPP
        val nTest = math.max(docs.filter($"split" === "test")
          .agg(coalesce(sum($"n"), lit(0L))).head().getLong(0), 1L)
        val bloom = testH
          .agg(E.bloom_agg($"h", lit(nTest)).as("bf"))
          .collect()(0).getAs[Array[Byte]](0)
        if (bloom == null) {
          // empty test split → nothing can be contaminated; the exact
          // plan (and the oracle) return the empty set, so we must too,
          // not fail the query
          Seq.empty[(Long, Long)].toDF("doc_id", "n_shared")
        } else {
          // ship the filter as a broadcast variable, not a plan literal:
          // plan size stays O(1) as the held-out set grows (see
          // BloomProbeBroadcast scaladoc); ExpressionsSpec pins this
          val bc = s.sparkContext.broadcast(bloom)
          try {
            val candidates = docs.filter($"split" === "train")
              .withColumn("n_hit",
                size(filter($"hs", h => E.bloom_probe_broadcast(bc, h)))
                  .cast("long"))
              .filter($"n_hit" >= 8)
            candidates.select($"doc_id", explode($"hs").as("h"))
              .join(testH, Seq("h"))
              .groupBy($"doc_id")
              .agg(count(lit(1)).as("n_shared"))
              .filter($"n_shared" >= 8)
              .select($"doc_id", $"n_shared")
              .orderBy($"doc_id")
              // materialize (contaminated docs only — a small fraction by
              // construction) while `docs` is still persisted, then release
              // the filter broadcast instead of leaving it to driver GC
              .localCheckpoint()
          } finally bc.destroy()
        }
      } finally docs.unpersist()
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' ')))) AS s
        FROM w WHERE len(w) >= 3
      ), split AS (
        SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
                  ELSE 'test' END AS split
        FROM documents
      ), test_sh AS (
        SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE split = 'test'
      )
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh JOIN split USING (doc_id) JOIN test_sh USING (s)
      WHERE split = 'train'
      GROUP BY sh.doc_id
      HAVING COUNT(*) >= 8
      ORDER BY sh.doc_id"""))

  /** Q69 — sliding-window document chunking (context-length preparation:
    * split each document into 32-token chunks on a 24-token stride, 8
    * tokens of overlap — the standard pre-tokenization step before
    * sequence packing, cf. q50). Entirely SCAN-LOCAL: `sequence` builds
    * the chunk starts, `posexplode` + `slice` cut the windows — chunk
    * generation never leaves the scan task, no shuffle at any scale.
    * The final ORDER BY is presentation-only (driver compare sorts).
    */
  private val q69 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", words($"text").as("w"))
        .select($"doc_id", $"w",
          posexplode(sequence(lit(1), size($"w"), lit(24))).as(Seq("pos", "start")))
        .select(
          $"doc_id",
          $"pos".cast("long").as("chunk_id"),
          $"start".cast("long").as("start_tok"),
          array_join(slice($"w", $"start", lit(32)), " ").as("chunk_text"),
          size(slice($"w", $"start", lit(32))).cast("long").as("n_tokens"))
        .orderBy($"doc_id", $"chunk_id")
    },
    oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      s AS (SELECT doc_id, w, unnest(generate_series(1, len(w), 24)) AS start FROM w)
      SELECT doc_id,
             (start - 1) // 24 AS chunk_id,
             start AS start_tok,
             array_to_string(w[start:start+31], ' ') AS chunk_text,
             len(w[start:start+31]) AS n_tokens
      FROM s
      ORDER BY doc_id, chunk_id"""))

  /** Q70 — per-source token-budget trim (data-mixing recipes cap each
    * domain's contribution in tokens, not documents): keep each source's
    * documents in doc_id order while the running token total stays within
    * budget (800 tokens).
    *
    * The running total is a DISTRIBUTED PREFIX SUM, not one window sort
    * per source (which serializes a 100 TB source through a single
    * reducer — q54's declared caveat):
    *
    *  1. coarse buckets of 256 doc_ids; per-(source, bucket) subtotals
    *     are a tiny table (rows / 256);
    *  2. bucket offsets = window over THAT table (per-source sort of
    *     rows/256 entries — repeat the bucketing for another 256× if a
    *     source ever outgrows it);
    *  3. within-bucket running sum joins the offset back — each sort is
    *     <= 256 rows, parallel across buckets.
    *
    * Exact integer arithmetic end-to-end, so the two-level decomposition
    * is bit-identical to the flat window the oracle runs.
    *
    * The bucket key here is a fixed-width value split of the order key,
    * which sizes buckets at ~256 docs only for dense id spaces (true of
    * this corpus's sequential ids). Sparse or hashed 64-bit ids make
    * fixed-width buckets degenerate (~1 doc each, collapsing step 2 back
    * into the flat window) — there, derive the bucket bounds from range
    * statistics (approx_percentile over doc_id) instead of a fixed
    * width; the two-level decomposition itself is unchanged.
    */
  private val q70 = Q(
    fn = (s, d) => {
      import s.implicits._
      val budget = 800L
      val base = Tables.documents(s, d)
        .select($"source", $"doc_id",
          size(words($"text")).cast("long").as("n_tokens"))
        .withColumn("bucket", ($"doc_id" / 256L).cast("long"))
      val offsets = base.groupBy($"source", $"bucket")
        .agg(sum($"n_tokens").as("bsum"))
        .withColumn("offset",
          coalesce(sum($"bsum").over(
            Window.partitionBy($"source").orderBy($"bucket")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"source", $"bucket", $"offset")
      base.join(offsets, Seq("source", "bucket"))
        .withColumn("cum_tokens",
          // explicit ROWS frame: the default RANGE frame would lump
          // tied doc_ids into one cumulative step, diverging from the
          // oracle's ROWS UNBOUNDED PRECEDING on duplicate ids
          $"offset" + sum($"n_tokens").over(
            Window.partitionBy($"source", $"bucket").orderBy($"doc_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter($"cum_tokens" <= budget)
        .select($"source", $"doc_id", $"n_tokens", $"cum_tokens")
        .orderBy($"source", $"doc_id")
    },
    oracle = Some("""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM c WHERE cum_tokens <= 800
      ORDER BY source, doc_id"""))

  /** Q71 — inverted-index construction (the retrieval-side artifact a
    * corpus pipeline materializes next to the training set): per token,
    * its document frequency and a capped posting list (first 32 doc_ids
    * ascending).
    *
    * Scale shape: postings go through `row_number <= 32` BEFORE
    * `collect_list`, which Spark executes as WindowGroupLimit — a
    * map-side per-token top-32 heap on every partition, so a stop-word
    * token shuffles at most 32·partitions rows, never its full posting
    * set; the collected array is bounded at 32 by construction. The df
    * leg is a plain map-side-combined count at token granularity. Both
    * legs shuffle by token; the join is small-by-small.
    *
    * The posting list is emitted space-joined (one scalar string per
    * token, bounded at 32 ids) rather than as an array column: the
    * correctness gate compares flat cells, and a scalar encoding keeps
    * the output hashable everywhere.
    */
  private val q71 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docTokens = Tables.documents(s, d)
        .select($"doc_id", explode(array_distinct(words($"text"))).as("token"))
      val dfreq = docTokens.groupBy($"token")
        .agg(count(lit(1)).as("df"))
      val postings = docTokens
        .withColumn("rk", row_number().over(
          Window.partitionBy($"token").orderBy($"doc_id")))
        .filter($"rk" <= 32)
        .groupBy($"token")
        .agg(array_join(
          transform(sort_array(collect_list($"doc_id")), _.cast("string")),
          " ").as("postings"))
      dfreq.join(postings, "token")
        .select($"token", $"df", $"postings")
        .orderBy($"token")
    },
    oracle = Some("""
      WITH dt AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string((list(doc_id ORDER BY doc_id))[1:32], ' ') AS postings
      FROM dt
      GROUP BY token
      ORDER BY token"""))

  /** Q72 — corpus QC audit: q63's conformance-check pattern (long-format
    * check/violation rows) over the LLM-pipeline tables — documents and
    * embeddings must agree before any training run. Checks: docs missing
    * an embedding row, orphan embeddings, wrong dimensionality, NaN
    * components, empty documents, duplicate doc_ids. Anti-joins are
    * expressed LEFT JOIN ... IS NULL (q63's note: NOT IN's three-valued
    * logic silently zeroes a check on dirty data); each check is one
    * scan-local predicate or one equi-join — no all-pairs anywhere.
    */
  private val q72 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      def check(name: String, df: DataFrame): DataFrame =
        df.select(lit(name).as("check"), $"n".cast("long").as("n_violations"))
      check("docs_missing_embedding",
          docs.join(emb.select($"vec_id"),
            docs("doc_id") === emb("vec_id"), "left_anti")
            .agg(count(lit(1)).as("n")))
        .unionByName(check("orphan_embeddings",
          emb.join(docs.select($"doc_id"),
            emb("vec_id") === docs("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n"))))
        .unionByName(check("bad_dimension",
          emb.agg(sum(when(size($"embedding") =!= 64, 1L).otherwise(0L)).as("n"))))
        .unionByName(check("nan_component",
          emb.agg(sum(when(exists($"embedding", x => isnan(x)), 1L)
            .otherwise(0L)).as("n"))))
        .unionByName(check("empty_document",
          docs.agg(sum(when(length($"text") === 0, 1L).otherwise(0L)).as("n"))))
        .unionByName(check("duplicate_doc_id",
          docs.groupBy($"doc_id").agg(count(lit(1)).as("c"))
            .filter($"c" > 1).agg(count(lit(1)).as("n"))))
        .orderBy($"check")
    },
    oracle = Some("""
      SELECT 'docs_missing_embedding' AS check, CAST(COUNT(*) AS BIGINT) AS n_violations
      FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE e.vec_id IS NULL
      UNION ALL
      SELECT 'orphan_embeddings', CAST(COUNT(*) AS BIGINT)
      FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
      WHERE d.doc_id IS NULL
      UNION ALL
      SELECT 'bad_dimension', CAST(COUNT(*) AS BIGINT)
      FROM embeddings WHERE len(embedding) != 64
      UNION ALL
      SELECT 'nan_component', CAST(COUNT(*) AS BIGINT)
      FROM embeddings WHERE len(list_filter(embedding, x -> isnan(x))) > 0
      UNION ALL
      SELECT 'empty_document', CAST(COUNT(*) AS BIGINT)
      FROM documents WHERE strlen(text) = 0
      UNION ALL
      SELECT 'duplicate_doc_id', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT doc_id FROM documents GROUP BY doc_id HAVING COUNT(*) > 1)
      ORDER BY "check""""))

  /** Q76 — deterministic epoch sharding: the data-ordering step between
    * a curated corpus and a distributed training run. For each of two
    * epochs, every document gets (shard, position): the shard from the
    * top nibble of md5(doc_id # epoch) (8 shards ≈ data-loader workers),
    * the position by ranking the same hash within the shard — a
    * different, deterministic, uniformly-mixed permutation per epoch,
    * reproducible from (doc_id, epoch) alone (resumable training).
    *
    * Scale shape: this is how a global "shuffle" avoids a global sort —
    * hash-bucket to shards FIRST, then sort only within each shard
    * (row_number per (epoch, shard): bounded, parallel sorts of
    * corpus/8, vs one total-order sort of the corpus). Same two-level
    * idea as q70's prefix sum; shard count scales with the cluster.
    */
  private val q76 = Q(
    fn = (s, d) => {
      import s.implicits._
      val epochs = Seq(1, 2).map { e =>
        Tables.documents(s, d)
          .select(lit(e.toLong).as("epoch"), $"doc_id",
            md5(concat($"doc_id".cast("string"), lit(s"#$e"))).as("ek"))
      }.reduce(_ unionByName _)
      epochs
        .withColumn("shard",
          floor(conv(substring($"ek", 1, 1), 16, 10).cast("long") / 2L).cast("long"))
        .withColumn("pos", row_number().over(
          Window.partitionBy($"epoch", $"shard").orderBy($"ek", $"doc_id")).cast("long"))
        .select($"epoch", $"shard", $"pos", $"doc_id")
        .orderBy($"epoch", $"shard", $"pos")
    },
    oracle = Some("""
      WITH e AS (
        SELECT epoch, doc_id,
               md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)) AS ek
        FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch))
      SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
             row_number() OVER (PARTITION BY epoch, shard ORDER BY ek, doc_id) AS pos,
             doc_id
      FROM (
        SELECT epoch, doc_id, ek,
               CASE substr(ek, 1, 1)
                 WHEN '0' THEN 0 WHEN '1' THEN 0 WHEN '2' THEN 1 WHEN '3' THEN 1
                 WHEN '4' THEN 2 WHEN '5' THEN 2 WHEN '6' THEN 3 WHEN '7' THEN 3
                 WHEN '8' THEN 4 WHEN '9' THEN 4 WHEN 'a' THEN 5 WHEN 'b' THEN 5
                 WHEN 'c' THEN 6 WHEN 'd' THEN 6 ELSE 7 END AS shard
        FROM e)
      ORDER BY epoch, shard, pos"""))

  /** Q77 — per-source heavy hitters: q67b's sketch-then-recount pattern
    * as a GROUPED aggregate — one ≤256-entry Misra–Gries buffer PER
    * SOURCE in the hash-aggregate state (the per-domain top-terms shape
    * a mixing pipeline monitors), merged partials per key, one
    * bounded collect (sources × ≤k entries). The MG guarantee holds per
    * group over its own stream, so each group's candidate set is
    * complete for its own threshold n_g/257 and the exact recount —
    * a broadcast (source, token) semi-filter, then a ≤ sources·k-key
    * agg — yields the deterministic exact answer per source.
    */
  private val q77 = Q(
    fn = (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"source", explode(words($"text")).as("token"))
      val sketches = toks.groupBy($"source")
        .agg(graft.functions.expressions.freq_sketch($"token").as("sk"),
          count(lit(1)).as("n"))
        .collect()
      val cands = sketches.flatMap { r =>
        val thr = r.getLong(2) / 257L
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (r.getString(0), e.getString(0), thr))
      }.toSeq
      val candDf = broadcast(cands.toDF("source", "token", "thr"))
      toks.join(candDf, Seq("source", "token"))
        .groupBy($"source", $"token")
        .agg(first($"thr").as("thr"), count(lit(1)).as("cnt"))
        .filter($"cnt" > $"thr")
        .select($"source", $"token", $"cnt")
        .orderBy($"source", $"cnt".desc, $"token")
    },
    oracle = Some("""
      WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      tot AS (SELECT source, COUNT(*) AS n FROM t GROUP BY source)
      SELECT t.source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t JOIN tot USING (source)
      GROUP BY t.source, token, tot.n
      HAVING COUNT(*) > tot.n // 257
      ORDER BY source, cnt DESC, token"""))

  /** Q80 — corpus drift monitor: the ingest-shift report a continuously
    * fed training corpus needs (did the token distribution move between
    * snapshots?). Snapshots here are the deterministic doc_id-parity
    * halves (the stand-in for "yesterday's corpus vs today's" — the query
    * shape is identical for any snapshot predicate). For every token in
    * the union of the two snapshots' top-64 (exact counts), report both
    * counts, both rates, and the absolute rate shift, largest first.
    *
    * Cross-engine exactness: counts are exact longs; each rate is ONE
    * correctly-rounded long/long double division and the drift is one
    * IEEE subtraction of those doubles — bit-identical to the oracle
    * (no logs, no PSI — same design choice as q51's integer-only
    * output). Scale shape: one map-side-combined (snap, token) count;
    * the per-snapshot top-64 runs as WindowGroupLimit (map-side heaps,
    * q71's pattern) so no snapshot's full vocabulary is globally
    * sorted; totals are a 2-row broadcast.
    */
  private val q80 = Q(
    fn = (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(($"doc_id" % 2).as("snap"), explode(words($"text")).as("token"))
      val counts = toks.groupBy($"snap", $"token")
        .agg(count(lit(1)).as("c"))
      val top = counts
        .withColumn("rk", row_number().over(
          Window.partitionBy($"snap").orderBy($"c".desc, $"token")))
        .filter($"rk" <= 64)
        .select($"token").distinct()
      val wide = counts.join(top, Seq("token"))
        .groupBy($"token")
        .agg(
          sum(when($"snap" === 0, $"c").otherwise(0L)).as("c0"),
          sum(when($"snap" === 1, $"c").otherwise(0L)).as("c1"))
      val totals = broadcast(counts.groupBy()
        .agg(
          sum(when($"snap" === 0, $"c").otherwise(0L)).as("n0"),
          sum(when($"snap" === 1, $"c").otherwise(0L)).as("n1")))
      wide.crossJoin(totals)
        .select($"token", $"c0", $"c1",
          ($"c0".cast("double") / $"n0").as("rate0"),
          ($"c1".cast("double") / $"n1").as("rate1"))
        .withColumn("drift", abs($"rate0" - $"rate1"))
        .orderBy($"drift".desc, $"token")
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS token
        FROM documents),
      counts AS (
        SELECT snap, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM t GROUP BY snap, token),
      top AS (
        SELECT DISTINCT token FROM (
          SELECT snap, token, c,
                 row_number() OVER (PARTITION BY snap ORDER BY c DESC, token) AS rk
          FROM counts) WHERE rk <= 64),
      wide AS (
        SELECT token,
               CAST(SUM(CASE WHEN snap = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN snap = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
        FROM counts JOIN top USING (token)
        GROUP BY token),
      tot AS (
        SELECT CAST(SUM(CASE WHEN snap = 0 THEN c ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN snap = 1 THEN c ELSE 0 END) AS BIGINT) AS n1
        FROM counts)
      SELECT token, c0, c1,
             CAST(c0 AS DOUBLE) / n0 AS rate0,
             CAST(c1 AS DOUBLE) / n1 AS rate1,
             ABS(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1) AS drift
      FROM wide CROSS JOIN tot
      ORDER BY drift DESC, token"""))

  /** The BM25 "index": per-document aligned (term hash, fixed-point
    * BM25 weight) arrays over `docs` — everything document-side of the
    * scoring (tf, doc length, idf, the k1/b saturation) is precomputed
    * here, so serving a query set needs only its term hashes. Hash
    * equality stands in for string equality engine-side only — q84's
    * oracle still joins on the strings. */
  private[graft] def bm25WeightStore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val terms = docs.select($"doc_id", explode(words($"text")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dlen = terms.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n"),
      (sum($"len").cast("double") / count(lit(1))).as("avgdl"))
    val idf = df.crossJoin(broadcast(stats))
      .select($"term",
        floor(log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * 1e6)
          .cast("long").as("idf_fp"), $"avgdl")
    tf.join(dlen, Seq("doc_id")).join(idf, Seq("term"))
      .select($"doc_id", $"term",
        ($"idf_fp" * floor(($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"len" / $"avgdl")) * 1e6)
          .cast("long")).as("w_fp"))
      .groupBy($"doc_id")
      .agg(collect_list(struct(xxhash64($"term").as("h"), $"w_fp")).as("tw"))
      .select($"doc_id",
        transform($"tw", x => x("h")).as("hs"),
        transform($"tw", x => x("w_fp")).as("ws"))
  }

  /** [[bm25WeightStore]] over dataset `d`, persisted once per JVM via
    * [[IndexCache]] — the retrieval serving artifact: batch q84, bench
    * sweeps and the streaming lookup twin share one build and pay only
    * the scan. */
  private[graft] def bm25StoreCached(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, IndexCache.artifact("bm25", d) { p =>
      bm25WeightStore(Tables.documents(s, d)).write.mode("overwrite").parquet(p)
    })

  /** BM25 serving leg: top-`k` documents from `store` for each query in
    * `qrows` (query_id, distinct term hashes — a collected request set,
    * bounded by the serving-batch contract). Builds the inverted
    * query-term index, broadcasts it into ONE [[graft.functions
    * .expressions.Bm25ScanTopK]] scan, materializes the nq·k result and
    * destroys the broadcast (pqAdcTopK's serving hygiene). Shared
    * verbatim with the streaming twin so stream results == batch
    * results on the same rows by construction. */
  private[graft] def bm25TopK(store: DataFrame,
      qrows: Array[(Long, Array[Long])], k: Int): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    val byTerm = qrows.zipWithIndex
      .flatMap { case ((_, hs), qi) => hs.map(_ -> qi) }
      .groupBy(_._1).toArray.sortBy(_._1)
    val offsets = byTerm.scanLeft(0)(_ + _._2.length)
    val bc = s.sparkContext.broadcast((qrows.map(_._1), byTerm.map(_._1),
      offsets, byTerm.flatMap(_._2.map(_._2))))
    try {
      store.agg(graft.functions.expressions
          .bm25_scan_topk(bc, k, $"doc_id", $"hs", $"ws").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.doc_id", $"e.score_fp",
          $"e.rank".cast("long").as("rank"))
        .orderBy($"query_id", $"rank")
        // materialize (nq·k rows) so the broadcast can be destroyed now
        .localCheckpoint()
    } finally bc.destroy()
  }

  /** Absolute cap on the bench request-set fixture: `doc_id % 37 = 0 AND
    * doc_id < 3700` is at most 100 queries at ANY corpus size, so the
    * driver-side collect in [[bm25QueryRows]] stays O(1) in the corpus —
    * a `% 37`-only fixture grew linearly with it, which made the BENCH
    * query (not the serving operator, whose contract is request ≪
    * corpus) the one unbounded driver collect in the repo. */
  private[graft] val QuerySetCap = 3700L

  /** The shared retrieval request set (every 37th document under the
    * [[QuerySetCap]] bound, ≤100 queries at any SF) — q84 and the hybrid
    * fusion (q88) serve the SAME queries so their lexical legs are one
    * artifact + one scan shape. */
  private[graft] def bm25QueryRows(s: SparkSession,
      d: String): Array[(Long, Array[Long])] = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" % 37 === 0 && $"doc_id" < QuerySetCap)
      .select($"doc_id",
        array_distinct(transform(words($"text"), t => xxhash64(t))).as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
  }

  /** q69's exact chunk windowing (stride 24, width 32) with each chunk
    * keyed as a pseudo-document `cid = doc_id·100000 + chunk + 1` —
    * shared by the max-passage family (q163 serve, q166 append). */
  private[graft] def chunkedDocs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", words($"text").as("w"))
      .select($"doc_id", $"w",
        posexplode(sequence(lit(1), size($"w"), lit(24))).as(Seq("pos", "start")))
      .select(($"doc_id" * 100000L + $"pos" + 1L).as("doc_id"),
        array_join(slice($"w", $"start", lit(32)), " ").as("text"))
  }

  /** Doc-level MAX pooling of a chunk-keyed top-k result — q163's
    * serving tail, shared with q166: decode the parent id, drop the
    * query's own document, keep each doc's best chunk (ties → lowest
    * cid), rank docs top-5. */
  private[graft] def maxPassagePool(byChunk: DataFrame,
      topN: Int = 5): DataFrame = {
    import byChunk.sparkSession.implicits._
    byChunk
      .select($"query_id",
        expr("(doc_id - 1) div 100000").as("parent_doc"),
        $"doc_id".as("cid"), $"score_fp")
      .filter($"parent_doc" =!= $"query_id")
      .groupBy($"query_id", $"parent_doc")
      .agg(max(struct($"score_fp", ($"cid" * -1L).as("negcid"))).as("best"))
      .select($"query_id", $"parent_doc".as("doc_id"),
        ($"best.negcid" * -1L).as("best_chunk_cid"),
        $"best.score_fp".as("score_fp"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"score_fp".desc, $"doc_id")).cast("long"))
      .filter($"rank" <= topN)
      .select($"query_id", $"doc_id", $"best_chunk_cid", $"score_fp", $"rank")
      .orderBy($"query_id", $"rank")
  }

  /** q163's chunk-keyed weight store over dataset `d`, per-JVM cached —
    * shared with the passage-level hybrid (Retrieval q168). */
  private[graft] def bm25ChunkStoreCached(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, IndexCache.artifact("bm25chunks", d) { p =>
      bm25WeightStore(chunkedDocs(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))))
        .write.mode("overwrite").parquet(p)
    })

  /** The max-passage oracle of q163, q166 and q167: BM25 over the
    * 32-word chunks, 24 words apart, of the documents `where` keeps; the
    * request set is every `m`th document below `100 m`, and each request's
    * top-20 chunks pool to its top-5 other documents. */
  private def maxPassageOracle(where: String, m: Int): String = s"""
      WITH w0 AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents$where
      ), ch AS (
        SELECT doc_id * 100000 + (start - 1) // 24 + 1 AS cid,
               array_to_string(w[start:start+31], ' ') AS ctext
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w), 24)) AS start
              FROM w0)
      ), t AS (
        SELECT cid, unnest(string_split(ctext, ' ')) AS term FROM ch
      ), tf AS (
        SELECT cid, term, COUNT(*) AS tf FROM t GROUP BY cid, term
      ), dlen AS (
        SELECT cid, COUNT(*) AS len FROM t GROUP BY cid
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), wt AS (
        SELECT tf.cid, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (cid) JOIN idf USING (term)
      ), q AS (
        SELECT DISTINCT doc_id AS query_id, term FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id % $m = 0 AND doc_id < ${m * 100})
      ), scored AS (
        SELECT q.query_id, wt.cid, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN wt USING (term)
        GROUP BY q.query_id, wt.cid
      ), topch AS (
        SELECT query_id, cid, score_fp FROM (
          SELECT query_id, cid, score_fp,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score_fp DESC, cid) AS rk
          FROM scored)
        WHERE rk <= 20
      ), pooled AS (
        SELECT query_id, doc_id, cid AS best_chunk_cid, score_fp FROM (
          SELECT query_id, (cid - 1) // 100000 AS doc_id, cid, score_fp,
                 ROW_NUMBER() OVER (PARTITION BY query_id, (cid - 1) // 100000
                   ORDER BY score_fp DESC, cid) AS rn
          FROM topch WHERE (cid - 1) // 100000 <> query_id)
        WHERE rn = 1
      ), ranked AS (
        SELECT query_id, doc_id, best_chunk_cid, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM pooled
      )
      SELECT query_id, doc_id, best_chunk_cid, score_fp, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""

  /** Q163 — MAX-PASSAGE retrieval: BM25 over fixed-size CHUNKS with
    * document-level max pooling — the long-document retrieval shape
    * (a 100-page manual should rank by its best passage, not by its
    * diluted whole-document term statistics; RAG serving retrieves the
    * passage, attribution needs the document). The corpus is chunked by
    * q69's exact windowing (stride 24, width 32), each chunk keyed as a
    * pseudo-document `cid = doc_id·100000 + chunk + 1` (> QuerySetCap,
    * so the scan kernel's self-exclusion-by-id can never fire on a
    * chunk; the +1 keeps doc 0's first chunk off id 0), the q84 scoring
    * machinery runs UNCHANGED over the chunk store (one build via
    * IndexCache, one Bm25ScanTopK scan per request set), top-20 chunks
    * per query pool to their parent docs by MAX score, the query's own
    * document drops, and the top-5 documents emit with their best
    * chunk's id and score. Every step is deterministic exact/fixed-
    * point arithmetic — the oracle replays chunking, scoring, pooling
    * and ranking from scratch.
    *
    * Scale shape: the chunk store is ~len/24 rows per document of the
    * same per-row width as q84's (the tokenize/weight passes are the
    * same map-side aggs over more, shorter rows); serving is still ONE
    * scan-local bounded-heap pass + an nq·20-bounded pool/rank. */
  private val q163 = Q(
    fn = (s, d) =>
      maxPassagePool(bm25TopK(bm25ChunkStoreCached(s, d), bm25QueryRows(s, d), 20)),
    oracle = Some(maxPassageOracle("", 37)))

  /** Q166 — max-passage INDEX APPEND: the maintenance story for the
    * newest serving artifact (a RAG passage index absorbs today's
    * admitted documents without re-tokenizing its history). q163's
    * weight store bakes global idf/avgdl into every row — the
    * serve-fast form, invalidated wholesale by any corpus change — so
    * the MAINTAINED form is the chunk-keyed RAW store (q137's
    * argument, chunk-granular): per-chunk (term-hash, tf, len)
    * postings + the vocabulary-bounded df table + totals, all additive
    * over disjoint chunk sets. The stored split's chunk-raw artifact
    * absorbs the arriving snapshot's CHUNKS ([[Additive.merge]] of their
    * [[Bm25Raw.deltaOf]] — chunks are just short documents to it), serves the
    * % 41 request set with query-time idf over the merged statistics,
    * and pools to documents ([[maxPassagePool]], shared with q163).
    * The oracle chunks the FULL corpus and rebuilds from scratch — a
    * hash match proves chunk-append ∘ serve ∘ pool ≡ rebuild exactly,
    * including the idf/avgdl refresh over merged totals.
    */
  private val q166 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val merged = Additive.merge(bm25ChunkRawCached(s, d),
        Bm25Raw.deltaOf(chunkedDocs(docs.filter($"doc_id" % 10 >= 8)))).checkpoint("df")
      maxPassagePool(bm25RawTopK(merged, bm25RawQueryRows(s, d), 20))
    },
    oracle = Some(maxPassageOracle("", 41)))

  /** Q167 — max-passage index TAKEDOWN: q166's removal half, closing
    * the append × remove pair for the passage index. A takedown request
    * names DOCUMENTS (doc_id % 7 = 0); the victims' CHUNK ids are
    * looked up IN THE STORE (one postings projection filtered on the
    * decoded parent — no victim text is re-read, it may already be
    * gone) and fed to the UNCHANGED [[Additive.remove]]: postings
    * anti-join, vocabulary-bounded df subtraction, totals decrement.
    * Serving the % 41 request set over what remains and pooling to
    * documents must equal the from-scratch chunk index over the
    * survivor corpus — the oracle's claim, chunk-granular: every chunk
    * of a removed document stops scoring, every surviving chunk's
    * statistics refresh through the merged idf/avgdl.
    */
  private val q167 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val merged = Additive.merge(bm25ChunkRawCached(s, d),
        Bm25Raw.deltaOf(chunkedDocs(docs.filter($"doc_id" % 10 >= 8)))).checkpoint("df")
      // victim documents -> their chunk ids, read off the store itself
      val victimCids = merged("postings")
        .filter(expr("(doc_id - 1) div 100000 % 7 = 0"))
        .select($"doc_id")
      val pruned = Additive.remove(merged, victimCids).checkpoint("df")
      maxPassagePool(bm25RawTopK(pruned, bm25RawQueryRows(s, d), 20))
    },
    oracle = Some(maxPassageOracle(" WHERE doc_id % 7 <> 0", 41)))

  /** Q84 — BM25 top-k retrieval ("more-like-this" search over the
    * corpus): every query document (doc_id % 37 = 0 under the absolute
    * [[QuerySetCap]] bound) retrieves its 5 highest-scoring other documents
    * under BM25 (Robertson–Walker, k1 = 1.2, b = 0.75, Lucene's
    * ln(1 + (N − df + ½)/(df + ½)) idf). The textual counterpart of the
    * ANN family (q25/q39): q71 builds the inverted index, this is the
    * scoring probe over it.
    *
    * Exactness under the hash gate: a raw double BM25 sum is
    * order-dependent (float addition is non-associative, and Spark's
    * partial aggs + DuckDB's fold would disagree in the last ulps), so
    * per-(term, doc) weights are quantized ONCE to fixed-point longs —
    * floor(idf·10⁶) × floor(tf_factor·10⁶) — and the per-candidate sum
    * is exact long arithmetic, order-free on both engines. The only
    * libm call (ln) sits inside a floor(·10⁶) on a ~vocabulary-sized
    * frame, where a cross-engine 1-ulp disagreement flips the result
    * only if ln lands within an ulp of an integer/10⁶ boundary —
    * verified empirically at sf0.01 and sf0.1 (q51's argument, made
    * robust by integerization). Every other step is IEEE arithmetic on
    * identical operands (avgdl is exact-long-sum / count), so it is
    * bit-identical across engines by construction.
    *
    * Shape for 100 TB: tf / doc-length are map-side-combined scan aggs;
    * df and idf are vocabulary-sized; the query set (bounded by
    * contract — a request set, never a second corpus) is collected and
    * broadcast as an inverted term index into ONE scan-local bounded
    * aggregate over the per-doc weight store
    * ([[graft.functions.expressions.Bm25ScanTopK]] — q78's FAISS scan
    * shape applied to text): each task scores its documents against the
    * touched queries in a primitive loop and keeps per-query 5-entry
    * heaps, so the only exchange carries one ≤ nq·5 partial per task.
    * The first draft's broadcast candidate equi-join materialized
    * ~nq·n rows through a shuffle hash agg under this corpus's dense
    * vocabulary and died allocating pages at the x10 synthetic scale
    * (SCALE.md round 7) — same arithmetic, selection and output, wrong
    * exchange shape.
    */
  private val q84 = Q(
    fn = (s, d) => bm25TopK(bm25StoreCached(s, d), bm25QueryRows(s, d), 5),
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT doc_id AS query_id, term FROM tf
        WHERE doc_id % 37 = 0 AND doc_id < 3700
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      )
      SELECT query_id, doc_id, score_fp, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q150 — hard-negative mining for retrieval-model training (the DPR/
    * sentence-transformers data-prep step): for each query in q84's
    * bounded request set, the top BM25 candidates make the best training
    * negatives — EXCEPT near-duplicates of the query document, which are
    * de-facto positives and poison the contrastive loss as false
    * negatives. Mine from the top-20 candidate pool (the truncation is
    * part of the declared semantics, q148's candidate-pool contract),
    * drop candidates at exact word-3-gram Jaccard ≥ 0.5 against the
    * query doc (q18's near-dup criterion, verified per candidate pair —
    * never against the corpus), and re-rank the survivors to top-5.
    *
    * Shape at 100 TB: candidates come from the ONE Bm25ScanTopK serving
    * scan (nq·20 rows, bounded by the request-set cap); the union of
    * query + candidate ids (≤ 2,100) semi-joins the corpus scan so only
    * those documents shingle; the per-pair exact Jaccard is the
    * merge-intersect kernel over sorted hash arrays on a ≤ 2,000-row
    * frame. No corpus shuffle, no pairwise leg — verification cost is
    * candidate-bounded at any corpus size. A doc too short to shingle
    * (< 3 words) cannot be verified near-dup and is kept (LEFT joins on
    * both engines).
    */
  private val q150 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val cands = bm25TopK(bm25StoreCached(s, d), bm25QueryRows(s, d), 20)
      val ids = cands.select($"query_id".as("doc_id"))
        .union(cands.select($"doc_id")).distinct()
      val sh = shingleDocs(Tables.documents(s, d)
        .join(ids, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"text")).localCheckpoint()
      val keep = cands
        .join(sh.select($"doc_id".as("query_id"), $"n".as("n_q"),
          $"hs".as("hs_q")), Seq("query_id"), "left")
        .join(sh.select($"doc_id", $"n".as("n_c"), $"hs".as("hs_c")),
          Seq("doc_id"), "left")
        .withColumn("common",
          when($"hs_q".isNull || $"hs_c".isNull, lit(0L))
            .otherwise(E.sorted_intersect_count($"hs_q", $"hs_c")))
        .filter($"hs_q".isNull || $"hs_c".isNull ||
          $"common".cast("double") /
            ($"n_q" + $"n_c" - $"common").cast("double") < 0.5)
      keep
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id")
            .orderBy($"score_fp".desc, $"doc_id")).cast("long"))
        .filter($"rank" <= 5)
        .select($"query_id", $"doc_id", $"score_fp", $"rank")
        .orderBy($"query_id", $"rank")
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT doc_id AS query_id, term FROM tf
        WHERE doc_id % 37 = 0 AND doc_id < 3700
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      ), cand AS (
        SELECT query_id, doc_id, score_fp FROM ranked WHERE rank <= 20
      ), docs2 AS (
        SELECT doc_id, string_split(text, ' ') AS w2 FROM documents
      ), sh AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w2)-2),
               i -> array_to_string(w2[i:i+2], ' '))) AS sh
        FROM docs2 WHERE len(w2) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sh
      ), ov AS (
        SELECT c.query_id, c.doc_id, COUNT(*) AS common,
               any_value(a.n) AS n_q, any_value(b.n) AS n_c
        FROM cand c
        JOIN ex a ON a.doc_id = c.query_id
        JOIN ex b ON b.doc_id = c.doc_id AND b.s = a.s
        GROUP BY c.query_id, c.doc_id
      ), keep AS (
        SELECT c.query_id, c.doc_id, c.score_fp
        FROM cand c
        LEFT JOIN ov ON ov.query_id = c.query_id AND ov.doc_id = c.doc_id
        WHERE ov.common IS NULL
           OR CAST(ov.common AS DOUBLE) / (ov.n_q + ov.n_c - ov.common) < 0.5
      ), rr AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM keep
      )
      SELECT query_id, doc_id, score_fp, rank
      FROM rr WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** q151's shared core over any (source, lang, text) frame — also the
    * per-batch leg of the streaming data-card gate
    * ([[graft.streaming.Pipeline.runDataCardGateStream]]), so an
    * arriving batch is carded by EXACTLY the published-card arithmetic. */
  private[graft] def sourceCards(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs
      .select($"source", coalesce($"lang", lit("")).as("lang"),
        md5(coalesce($"text", lit(""))).as("h"),
        size(filter(words(coalesce($"text", lit(""))),
          w => length(w) > 0)).cast("long").as("nw"))
    val s1 = base.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"nw").as("ws_tokens"),
      sum(when($"nw" < 50, 1L).otherwise(0L)).as("n_short_docs"),
      (count(lit(1)) - count_distinct($"h")).as("n_dup_docs"))
    val l = base.groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
    val ent = l.join(s1.select($"source", $"n_docs"), Seq("source"))
      .groupBy($"source").agg(
        count(lit(1)).as("n_langs"),
        sum($"c" * floor(-log($"c".cast("double") / $"n_docs") * 1e6)
          .cast("long")).as("ent_fp"))
    val dom = l.withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"c".desc, $"lang")))
      .filter($"rn" === 1).select($"source", $"lang".as("dominant_lang"))
    s1.join(ent, Seq("source")).join(dom, Seq("source"))
      .select($"source", $"n_docs", $"ws_tokens",
        ($"ws_tokens".cast("double") / $"n_docs").as("mean_doc_len"),
        $"n_short_docs", $"n_dup_docs", $"n_langs", $"dominant_lang",
        ($"ent_fp".cast("double") / ($"n_docs" * lit(1e6)))
          .as("lang_entropy"))
      .orderBy($"source")
  }

  /** The MERGEABLE state behind a per-source data card (q161's
    * artifact): every q151 statistic decomposes into three stores that
    * merge EXACTLY under corpus append —
    *  - `sums`   (source → n_docs, ws_tokens, n_short): plain additive;
    *  - `langs`  (source × lang → count): additive, and n_langs /
    *    dominant / entropy are pure functions of it;
    *  - `hashes` (source × md5 → count): COUNTED, not just distinct —
    *    n_dup = n_docs − |rows with c > 0|. COUNT-DISTINCT is not
    *    additive (a dup can straddle a split boundary) and a bare SET
    *    is not SUBTRACTABLE (removing one copy of a twice-held hash
    *    must keep the row) — the counted multiset supports both append
    *    and takedown exactly. The key is the q17 exact-dedup shuffle
    *    key materialized.
    * At 100 TB the hashes table is the big leg (~24 bytes/distinct doc)
    * and is the same store an exact-dedup admission path already
    * maintains; sums/langs are sources- and sources×langs-bounded. */
  private[graft] type CardStore = Additive.Store
  private[graft] object CardStore extends Additive.Family(counts = Seq(
    "sums" -> Additive.Counts(Seq("source"), "n_docs"),
    "langs" -> Additive.Counts(Seq("source", "lang"), "c"),
    "hashes" -> Additive.Counts(Seq("source", "h"), "c")))

  /** The card store of `docs` (source, lang, text). It keeps no
    * postings, so a takedown subtracts the victims' own store, built from
    * their rows on the way out (q162); append merges the batch's (q161).
    * Both are exact because every table is count-additive over disjoint
    * doc sets. */
  private[graft] def cardStoreOf(docs: DataFrame): CardStore = {
    import docs.sparkSession.implicits._
    val base = docs
      .select($"source", coalesce($"lang", lit("")).as("lang"),
        md5(coalesce($"text", lit(""))).as("h"), nwOf($"text").as("nw"))
    Additive.Store(CardStore, Map(
      "sums" -> base.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"nw").as("ws_tokens"),
        sum(when($"nw" < 50, 1L).otherwise(0L)).as("n_short_docs")),
      "langs" -> base.groupBy($"source", $"lang").agg(count(lit(1)).as("c")),
      "hashes" -> base.groupBy($"source", $"h").agg(count(lit(1)).as("c"))))
  }

  /** Render a [[CardStore]] as q151's card rows — the same statistics
    * by the same arithmetic (entropy's per-share fixed-point device,
    * one double division per source), just read off the mergeable
    * stores instead of the corpus scan. sourceCards(docs) ==
    * cardsOfStore(cardStoreOf(docs)) is pinned in QueriesSpec. */
  private[graft] def cardsOfStore(st: CardStore): DataFrame = {
    val sums = st("sums")
    import sums.sparkSession.implicits._
    val distinctH = st("hashes").groupBy($"source").agg(count(lit(1)).as("n_distinct"))
    val s1 = sums.join(distinctH, Seq("source"))
      .select($"source", $"n_docs", $"ws_tokens", $"n_short_docs",
        ($"n_docs" - $"n_distinct").as("n_dup_docs"))
    val ent = st("langs").join(s1.select($"source", $"n_docs"), Seq("source"))
      .groupBy($"source").agg(
        count(lit(1)).as("n_langs"),
        sum($"c" * floor(-log($"c".cast("double") / $"n_docs") * 1e6)
          .cast("long")).as("ent_fp"))
    val dom = st("langs").withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"c".desc, $"lang")))
      .filter($"rn" === 1).select($"source", $"lang".as("dominant_lang"))
    s1.join(ent, Seq("source")).join(dom, Seq("source"))
      .select($"source", $"n_docs", $"ws_tokens",
        ($"ws_tokens".cast("double") / $"n_docs").as("mean_doc_len"),
        $"n_short_docs", $"n_dup_docs", $"n_langs", $"dominant_lang",
        ($"ent_fp".cast("double") / ($"n_docs" * lit(1e6)))
          .as("lang_entropy"))
      .orderBy($"source")
  }

  /** The data-card QUALITY GATE core (shared by the streaming twin and
    * its spec's batch replay): card the arriving docs, compare each
    * source against the stored corpus card, flag
    *  - `new_source`   — no stored card exists;
    *  - `len_drift`    — batch mean doc length outside [½, 2]× stored;
    *  - `short_spike`  — batch short-doc fraction > 2× stored.
    * All comparisons are exact cross-multiplications in decimal — no
    * float threshold can wobble between engines or runs. Overflow is
    * impossible by construction, not by magnitude assumption: operands
    * cast decimal(19,0) (counts are int64, so every product of two
    * fits 38 digits exactly), and "x > 2·y" is evaluated as
    * "x − y > y" so no intermediate ever exceeds the larger product —
    * Spark's non-ANSI decimal would otherwise return NULL (reading as
    * false) on a 39-digit 2·y at extreme corpus counts.
    * The join is null-safe on source (a null-source batch row must
    * match its null-source stored card, not flag new_source forever).
    * Flags are per (batch, source) — operator alerting, not row-level
    * filtering (a drifted source needs a human, not a drop). */
  private[graft] def dataCardFlags(batchDocs: DataFrame,
      storedCards: DataFrame): DataFrame = {
    import batchDocs.sparkSession.implicits._
    def dec(c: Column) = c.cast("decimal(19,0)")
    // exact x > 2*y over products of int64 pairs, overflow-free
    def gtTwice(x: Column, y: Column) = (x - y) > y
    val b = sourceCards(batchDocs)
      .select($"source", $"n_docs".as("b_n"), $"ws_tokens".as("b_ws"),
        $"n_short_docs".as("b_short"))
    val st = storedCards
      .select($"source".as("s_source"), $"n_docs".as("s_n"),
        $"ws_tokens".as("s_ws"), $"n_short_docs".as("s_short"))
    val bwsSn  = dec($"b_ws") * dec($"s_n")
    val swsBn  = dec($"s_ws") * dec($"b_n")
    val bshSn  = dec($"b_short") * dec($"s_n")
    val sshBn  = dec($"s_short") * dec($"b_n")
    b.join(st, $"source" <=> $"s_source", "left")
      .select($"source", $"b_n".as("n_docs"),
        $"s_n".isNull.as("new_source"),
        (!$"s_n".isNull && (gtTwice(bwsSn, swsBn) || gtTwice(swsBn, bwsSn)))
          .as("len_drift"),
        (!$"s_n".isNull && gtTwice(bshSn, sshBn)).as("short_spike"))
      .orderBy($"source")
  }

  /** Q151 — per-source data cards (the "datasheets for datasets"
    * materialization a pipeline publishes with every corpus release):
    * one row per source with the statistics a consumer checks before
    * training on it — volume (docs, whitespace tokens, mean length),
    * quality red flags (short-doc and exact-duplicate counts), and
    * language composition (distinct langs, dominant lang, Shannon
    * entropy of the lang distribution).
    *
    * Exactness: every statistic is exact integer arithmetic except two
    * final divisions. The entropy uses the q85 fixed-point device
    * applied per LANG SHARE (langs × sources rows, bounded): each share
    * contributes c·floor(−ln(c/N)·10⁶) in exact longs — the ln is one
    * IEEE op over the same exact integer operands on both engines — and
    * the single double division by N·10⁶ happens once per source row.
    *
    * Shape at 100 TB: one narrow projection of the corpus scan (source,
    * lang, md5, token count — text never leaves the scan), two
    * map-side-combined aggregations over it (per-source; per source ×
    * lang), and source-bounded joins. The count-distinct(md5) expands
    * inside the per-source agg — the q17 exact-dedup shuffle key, 16
    * bytes per doc.
    */
  private val q151 = Q(
    fn = (s, d) => sourceCards(Tables.documents(s, d)
      .select(col("source"), col("lang"), col("text"))),
    oracle = Some("""
      WITH d AS (
        SELECT COALESCE(lang, '') AS lang, source,
               md5(COALESCE(text, '')) AS h,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 w -> len(w) > 0)) AS BIGINT) AS nw
        FROM documents
      ), s1 AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS ws_tokens,
               CAST(SUM(CASE WHEN nw < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs
        FROM d GROUP BY source
      ), l AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY source, lang
      ), ent AS (
        SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_langs,
               CAST(SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n_docs) * 1e6)
                 AS BIGINT)) AS BIGINT) AS ent_fp
        FROM l JOIN s1 ON s1.source = l.source GROUP BY l.source
      ), dom AS (
        SELECT source, lang AS dominant_lang FROM (
          SELECT source, lang,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY c DESC, lang) AS rn
          FROM l)
        WHERE rn = 1
      )
      SELECT s1.source, n_docs, ws_tokens,
             CAST(ws_tokens AS DOUBLE) / n_docs AS mean_doc_len,
             n_short_docs, n_dup_docs, n_langs, dominant_lang,
             CAST(ent_fp AS DOUBLE) / (n_docs * 1e6) AS lang_entropy
      FROM s1 JOIN ent USING (source) JOIN dom USING (source)
      ORDER BY source"""))

  /** The snapshot-diff classification core shared by q174 and the
    * streaming CDC gate ([[graft.streaming.Pipeline
    * .runSnapshotDiffGateStream]]): both versions as (doc_id, source,
    * h, nw) frames, ONE co-partitioned full-outer join on doc_id,
    * per-row classification flags. The stream aggregates the in2 = 1
    * restriction of exactly these rows, so an arriving document
    * classifies identically in stream and batch by construction. */
  private[graft] def snapshotDiffRows(v1: DataFrame, v2: DataFrame): DataFrame = {
    import v1.sparkSession.implicits._
    v1.select($"doc_id", $"source".as("src1"), $"h".as("h1"), $"nw".as("nw1"))
      .join(v2.select($"doc_id", $"source".as("src2"), $"h".as("h2"),
        $"nw".as("nw2")), Seq("doc_id"), "full_outer")
      .select(coalesce($"src2", $"src1").as("source"),
        when($"h1".isNotNull, 1L).otherwise(0L).as("in1"),
        when($"h2".isNotNull, 1L).otherwise(0L).as("in2"),
        when($"h1".isNull && $"h2".isNotNull, 1L).otherwise(0L).as("add"),
        when($"h1".isNotNull && $"h2".isNull, 1L).otherwise(0L).as("rem"),
        when($"h1".isNotNull && $"h2".isNotNull && $"h1" =!= $"h2", 1L)
          .otherwise(0L).as("chg"),
        when($"h1".isNotNull && $"h2".isNotNull && $"h1" === $"h2", 1L)
          .otherwise(0L).as("same"),
        when($"h1".isNull, $"nw2").otherwise(0L).as("tokadd"),
        when($"h2".isNull, $"nw1").otherwise(0L).as("tokrem"))
  }

  /** documents → the (doc_id, source, h, nw) projection both diff legs
    * and the streaming gate's stored-version map use. */
  private[graft] def diffProjection(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      coalesce($"source", lit("")).as("source"),
      md5(coalesce($"text", lit(""))).as("h"),
      size(filter(words(coalesce($"text", lit(""))),
        w => length(w) > 0)).cast("long").as("nw"))
  }

  /** Q174 — SNAPSHOT DIFF: the dataset-version audit a pipeline
    * publishes between releases (the lakeFS/DVC/Delta "what changed"
    * summary next to the data card q151): per source, how many
    * documents were added, removed, content-changed, and untouched
    * between corpus v1 and v2, with the whitespace-token mass entering
    * and leaving. Content identity is the md5 the exact-dedup path
    * already materializes (q17/CardStore) — a diff never re-reads
    * text it can hash.
    *
    * Version fixture (the q161/q162 convention): v1 = the doc_id%10<8
    * split, with the %17==3 docs carrying a simulated PRIOR revision
    * (text reversed — a pure deterministic function both engines
    * replay); v2 = the %13≠0 survivor corpus. So all four legs are
    * non-vacuous at every SF: added = admitted snapshot survivors,
    * removed = takedown victims, changed = the %17 revision set's
    * common members, unchanged = the rest.
    *
    * Shape at 100 TB: two narrow projections (doc_id, source, md5,
    * token count) and ONE co-partitioned full-outer sort-merge join on
    * doc_id — the canonical snapshot-diff plan — then a map-side
    * combined per-source aggregation. Text never leaves either scan.
    */
  private val q174 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id",
        coalesce($"source", lit("")).as("source"),
        coalesce($"text", lit("")).as("text"),
        size(filter(words(coalesce($"text", lit(""))),
          w => length(w) > 0)).cast("long").as("nw"))
      val v1 = docs.filter($"doc_id" % 10 < 8).select($"doc_id", $"source",
        when($"doc_id" % 17 === 3, md5(reverse($"text")))
          .otherwise(md5($"text")).as("h"),
        $"nw")
      val v2 = docs.filter($"doc_id" % 13 =!= 0)
        .select($"doc_id", $"source", md5($"text").as("h"), $"nw")
      snapshotDiffRows(v1, v2)
        .groupBy($"source")
        .agg(sum($"in1").as("n_v1"), sum($"in2").as("n_v2"),
          sum($"add").as("n_added"), sum($"rem").as("n_removed"),
          sum($"chg").as("n_changed"), sum($"same").as("n_unchanged"),
          sum($"tokadd").as("tokens_added"),
          sum($"tokrem").as("tokens_removed"))
        .orderBy($"source")
    },
    oracle = Some("""
      WITH base AS (
        SELECT doc_id, COALESCE(source, '') AS source,
               COALESCE(text, '') AS text,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 w -> len(w) > 0)) AS BIGINT) AS nw
        FROM documents
      ), v1 AS (
        SELECT doc_id, source AS src1,
               CASE WHEN doc_id % 17 = 3 THEN md5(reverse(text))
                    ELSE md5(text) END AS h1,
               nw AS nw1
        FROM base WHERE doc_id % 10 < 8
      ), v2 AS (
        SELECT doc_id, source AS src2, md5(text) AS h2, nw AS nw2
        FROM base WHERE doc_id % 13 <> 0
      ), j AS (
        SELECT COALESCE(v2.src2, v1.src1) AS source, h1, h2, nw1, nw2
        FROM v1 FULL JOIN v2 USING (doc_id)
      )
      SELECT source,
             CAST(SUM(CASE WHEN h1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
             CAST(SUM(CASE WHEN h2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
             CAST(SUM(CASE WHEN h1 IS NULL AND h2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             CAST(SUM(CASE WHEN h1 IS NOT NULL AND h2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(SUM(CASE WHEN h1 IS NOT NULL AND h2 IS NOT NULL AND h1 <> h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             CAST(SUM(CASE WHEN h1 IS NOT NULL AND h2 IS NOT NULL AND h1 = h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             CAST(SUM(CASE WHEN h1 IS NULL THEN nw2 ELSE 0 END) AS BIGINT) AS tokens_added,
             CAST(SUM(CASE WHEN h2 IS NULL THEN nw1 ELSE 0 END) AS BIGINT) AS tokens_removed
      FROM j
      GROUP BY source
      ORDER BY source"""))

  /** Q171 — DIFFERENTIALLY-PRIVATE marginal release: the third leg of
    * the privacy family — q164 MEASURES re-identification risk, q170
    * measures sensitive-value diversity, this RELEASES the corpus
    * composition marginals (per-source / per-lang / per-source×lang
    * document counts, the numbers a data card publishes) under ε-DP so
    * the release itself cannot leak any single document's presence.
    *
    * Mechanism: discrete Laplace (two-sided geometric) noise with
    * α = 1/2, i.e. ε = ln 2 per marginal (3·ln 2 total by sequential
    * composition — each document contributes to one group per level).
    * The noise is the DIFFERENCE OF TWO GEOMETRIC(1/2) draws (a
    * textbook identity for the discrete Laplace), and each geometric
    * draw is the leading-zero count of a 24-bit slice of
    * md5('dp1|' ‖ level ‖ '|' ‖ key) — P(G = g) = 2^−(g+1), truncated
    * at 24 (probability 2⁻²⁴, so |noise| ≤ 24 is a structural bound
    * the spec pins). Leading zeros = 24 − len(bin(x)) — EXACT integer
    * arithmetic on both engines, no ln/floor boundary risk anywhere;
    * the md5 seed makes the release deterministic and hash-oracle-able
    * while remaining a faithful inverse-CDF sample of the mechanism.
    * HONESTY NOTE: because the seed derivation here is PUBLIC (md5 of
    * the released key), an adversary can recompute and subtract the
    * noise exactly — the shipped sample demonstrates the mechanism but
    * does NOT itself carry the formal ε-DP guarantee. The production
    * contract is a SECRET seed (a keyed PRF, e.g. HMAC with a key held
    * by the releasing party): swap the md5 for that PRF and the
    * identical plan is ε-DP; seeded-but-secret DP is standard practice
    * for reproducible releases. The final GREATEST(0, ·) clamp is
    * post-processing — DP is closed under it.
    *
    * Shape at 100 TB: one narrow two-column projection, three
    * map-side-combined group-bys (groups bounded by the key
    * cardinality, not the corpus), then per-group scalar arithmetic.
    * True counts never leave the query — only the noised release.
    */
  private val q171 = Q(
    fn = (s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d).select(
        coalesce($"source", lit("")).as("source"),
        coalesce($"lang", lit("")).as("lang"))
      // marginals group by the (key1, key2) PAIR and emit both columns
      // — a rendered 'a|b' concatenation would be ambiguous when a key
      // value itself contains the delimiter, silently merging two cells
      // of the released histogram
      def level(name: String, k1: Column, k2: Column) =
        base.groupBy(k1.as("key1"), k2.as("key2"))
          .agg(count(lit(1)).as("n"))
          .select(lit(name).as("level"), $"key1", $"key2", $"n")
      def geo(x: Column) =
        when(x === 0L, lit(24L))
          .otherwise(lit(24L) - length(bin(x)).cast("long"))
      level("source", $"source", lit(""))
        .unionByName(level("lang", lit(""), $"lang"))
        .unionByName(level("source_lang", $"source", $"lang"))
        // the seed concatenates md5 digests (fixed-width hex), so the
        // (level, key1, key2) → seed map is injective whatever the keys
        .withColumn("h", md5(concat(lit("dp1|"), $"level", lit("|"),
          md5($"key1"), md5($"key2"))))
        .withColumn("x1", conv(substring($"h", 1, 6), 16, 10).cast("long"))
        .withColumn("x2", conv(substring($"h", 7, 6), 16, 10).cast("long"))
        .select($"level", $"key1", $"key2",
          greatest(lit(0L), $"n" + geo($"x1") - geo($"x2")).as("released"))
        .orderBy($"level", $"key1", $"key2")
    },
    oracle = Some("""
      WITH base AS (
        SELECT COALESCE(source, '') AS source, COALESCE(lang, '') AS lang
        FROM documents
      ), m AS (
        SELECT 'source' AS level, source AS key1, '' AS key2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY source
        UNION ALL
        SELECT 'lang', '', lang, CAST(COUNT(*) AS BIGINT)
        FROM base GROUP BY lang
        UNION ALL
        SELECT 'source_lang', source, lang, CAST(COUNT(*) AS BIGINT)
        FROM base GROUP BY source, lang
      ), xs AS (
        SELECT level, key1, key2, n,
               CAST('0x' || substr(md5('dp1|' || level || '|'
                 || md5(key1) || md5(key2)), 1, 6) AS BIGINT) AS x1,
               CAST('0x' || substr(md5('dp1|' || level || '|'
                 || md5(key1) || md5(key2)), 7, 6) AS BIGINT) AS x2
        FROM m
      )
      SELECT level, key1, key2,
             CAST(GREATEST(0,
               n + (CASE WHEN x1 = 0 THEN 24 ELSE 24 - length(bin(x1)) END)
                 - (CASE WHEN x2 = 0 THEN 24 ELSE 24 - length(bin(x2)) END))
               AS BIGINT) AS released
      FROM xs
      ORDER BY level, key1, key2"""))

  /** Q170 — l-DIVERSITY audit: the companion measurement to q164's
    * k-anonymity (Machanavajjhala et al. 2007). k-anonymity bounds
    * group SIZE; a group of 500 rows that all share one sensitive
    * value still leaks it — l-diversity requires every
    * quasi-identifier group to contain at least l WELL-REPRESENTED
    * sensitive values. Audited release: the interaction log
    * generalized to (user-cohort = user_id mod 20, time bucket), with
    * `event_type` as the sensitive attribute. For each lattice level —
    * (cohort, hour), (cohort, day), (cohort) — the audit reports both
    * diversity notions per the paper: distinct-l (groups whose
    * sensitive-value set has < 2 members, and the row mass in them)
    * and entropy-l (groups whose sensitive-value entropy is below
    * ln 2, i.e. entropy-l-diversity fails at l = 2 — catches the
    * "49 views + 1 purchase" group that distinct-l passes).
    *
    * Exactness: the entropy check is q151's per-share fixed-point
    * device — each sensitive value contributes c·floor(−ln(c/n)·10⁶)
    * in exact longs, and the l = 2 bound compares against
    * floor(ln 2·10⁶)·n = 693147·n, so every emitted quantity is an
    * exact integer on both engines.
    *
    * Shape at 100 TB: per level, one map-side-combined group-by to
    * (keys, type) counts, a window partitioned by the group keys (the
    * fine-grained lattice key — never unpartitioned) over that
    * already-aggregated frame, and a single-row summary. Cost is
    * |groups × sensitive values| per level regardless of corpus size;
    * min_l is monotone under generalization (every coarse group is a
    * union of fine groups), which the spec pins.
    */
  private val q170 = Q(
    fn = (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).select(
        ($"user_id" % lit(20L)).as("cohort"),
        date_trunc("hour", $"ts").as("hr"),
        to_date($"ts").as("day"),
        coalesce($"event_type", lit("")).as("event_type"))
      def level(name: String, keys: Column*) = {
        val g = e.groupBy((keys :+ $"event_type"): _*)
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(keys: _*)
        val grp = g
          .withColumn("n", sum($"c").over(w))
          .withColumn("efp",
            $"c" * floor(-log($"c".cast("double") / $"n") * 1e6).cast("long"))
          .groupBy(keys: _*)
          .agg(max($"n").as("n"), count(lit(1)).as("l_d"),
            sum($"efp").as("ent_fp"))
        grp.agg(
          count(lit(1)).as("n_groups"),
          min($"l_d").as("min_l"),
          sum(when($"l_d" < 2, 1L).otherwise(0L)).as("g_below_l2"),
          sum(when($"l_d" < 2, $"n").otherwise(0L)).as("rows_below_l2"),
          sum(when($"ent_fp" < lit(693147L) * $"n", 1L).otherwise(0L))
            .as("g_ent_below_l2"),
          sum(when($"ent_fp" < lit(693147L) * $"n", $"n").otherwise(0L))
            .as("rows_ent_below_l2"))
          .select(lit(name).as("level"), $"n_groups", $"min_l",
            $"g_below_l2", $"rows_below_l2", $"g_ent_below_l2",
            $"rows_ent_below_l2")
      }
      level("cohort", $"cohort")
        .unionByName(level("cohort_day", $"cohort", $"day"))
        .unionByName(level("cohort_hour", $"cohort", $"hr"))
        .orderBy($"level")
    },
    oracle = Some("""
      WITH e AS (
        SELECT user_id % 20 AS cohort,
               date_trunc('hour', ts) AS hr,
               CAST(ts AS DATE) AS day,
               COALESCE(event_type, '') AS event_type
        FROM events
      ), gh AS (
        SELECT cohort, hr, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY cohort, hr, event_type
      ), gd AS (
        SELECT cohort, day, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY cohort, day, event_type
      ), gc AS (
        SELECT cohort, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY cohort, event_type
      ), wh AS (
        SELECT cohort, hr, c,
               SUM(c) OVER (PARTITION BY cohort, hr) AS n
        FROM gh
      ), wd AS (
        SELECT cohort, day, c,
               SUM(c) OVER (PARTITION BY cohort, day) AS n
        FROM gd
      ), wc AS (
        SELECT cohort, c,
               SUM(c) OVER (PARTITION BY cohort) AS n
        FROM gc
      ), sh AS (
        SELECT cohort, hr, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS l_d,
               SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n) * 1e6)
                 AS BIGINT)) AS ent_fp
        FROM wh GROUP BY cohort, hr
      ), sd AS (
        SELECT cohort, day, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS l_d,
               SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n) * 1e6)
                 AS BIGINT)) AS ent_fp
        FROM wd GROUP BY cohort, day
      ), sc AS (
        SELECT cohort, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS l_d,
               SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n) * 1e6)
                 AS BIGINT)) AS ent_fp
        FROM wc GROUP BY cohort
      )
      SELECT 'cohort' AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(l_d) AS BIGINT) AS min_l,
             CAST(SUM(CASE WHEN l_d < 2 THEN 1 ELSE 0 END) AS BIGINT) AS g_below_l2,
             CAST(SUM(CASE WHEN l_d < 2 THEN n ELSE 0 END) AS BIGINT) AS rows_below_l2,
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN 1 ELSE 0 END) AS BIGINT) AS g_ent_below_l2,
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN n ELSE 0 END) AS BIGINT) AS rows_ent_below_l2
      FROM sc
      UNION ALL
      SELECT 'cohort_day', CAST(COUNT(*) AS BIGINT), CAST(MIN(l_d) AS BIGINT),
             CAST(SUM(CASE WHEN l_d < 2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN l_d < 2 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN n ELSE 0 END) AS BIGINT)
      FROM sd
      UNION ALL
      SELECT 'cohort_hour', CAST(COUNT(*) AS BIGINT), CAST(MIN(l_d) AS BIGINT),
             CAST(SUM(CASE WHEN l_d < 2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN l_d < 2 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN ent_fp < 693147 * n THEN n ELSE 0 END) AS BIGINT)
      FROM sh
      ORDER BY level"""))

  /** Q164 — k-ANONYMITY audit over a generalization lattice: the
    * privacy-review measurement a corpus release runs next to the PII
    * scan (q92) and the data cards (q151) — how identifying are the
    * release's quasi-identifier columns, and how much does each
    * generalization step (dropping a column) buy? For each lattice
    * level — (source, lang), (source), (lang) — the audit reports the
    * group count, the smallest group, and the ROW mass sitting in
    * groups below k ∈ {2, 5, 10} (the re-identification-exposed rows;
    * k-anonymity holds at k iff that mass is 0). All exact integer
    * arithmetic over three map-side-combined group-bys of one narrow
    * two-column projection — text never leaves the scan, cost is
    * |groups| per level regardless of corpus size.
    */
  private val q164 = Q(
    fn = (s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d).select(
        coalesce($"source", lit("")).as("source"),
        coalesce($"lang", lit("")).as("lang"))
      def level(name: String, keys: Column*) =
        base.groupBy(keys: _*).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"),
            min($"n").as("min_group"),
            sum(when($"n" < 2, $"n").otherwise(0L)).as("rows_below_k2"),
            sum(when($"n" < 5, $"n").otherwise(0L)).as("rows_below_k5"),
            sum(when($"n" < 10, $"n").otherwise(0L)).as("rows_below_k10"))
          .select(lit(name).as("level"), $"n_groups", $"min_group",
            $"rows_below_k2", $"rows_below_k5", $"rows_below_k10")
      level("lang", $"lang")
        .unionByName(level("source", $"source"))
        .unionByName(level("source_lang", $"source", $"lang"))
        .orderBy($"level")
    },
    oracle = Some("""
      WITH base AS (
        SELECT COALESCE(source, '') AS source, COALESCE(lang, '') AS lang
        FROM documents
      ), g2 AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY source, lang
      ), gs AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY source
      ), gl AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY lang
      )
      SELECT 'lang' AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(n) AS BIGINT) AS min_group,
             CAST(SUM(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k2,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k5,
             CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k10
      FROM gl
      UNION ALL
      SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(MIN(n) AS BIGINT),
             CAST(SUM(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
      FROM gs
      UNION ALL
      SELECT 'source_lang', CAST(COUNT(*) AS BIGINT), CAST(MIN(n) AS BIGINT),
             CAST(SUM(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
      FROM g2
      ORDER BY level"""))

  /** Q162 — data-card TAKEDOWN: the full append × remove lifecycle on
    * the curation datasheet (the maintenance matrix's last layer —
    * postings q137/q142, MinHash q82/q143, LM q138/q144, clusters
    * q135/q145, PQ q140, NB q149 all have both halves; cards gained
    * append in q161, this is the removal half). The stored split's
    * [[CardStore]] absorbs the arriving snapshot, then processes a
    * takedown batch (% 13 = 0, the victims' rows read once on their
    * way out, their [[cardStoreOf]] subtracted); the oracle computes the
    * SURVIVOR-corpus card from scratch. A hash match proves
    * remove ∘ append ≡ rebuild-on-survivors exactly — including n_dup
    * through the COUNTED hash multiset (a set-valued store would
    * over-subtract a dup pair whose one member is taken down) and the
    * entropy/dominant recomputation over decremented lang counts.
    */
  private val q162 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"text")
      val appended = Additive.merge(
        cardStoreOf(docs.filter($"doc_id" % 10 < 8)),
        cardStoreOf(docs.filter($"doc_id" % 10 >= 8)))
      cardsOfStore(Additive.subtract(appended,
        cardStoreOf(docs.filter($"doc_id" % 13 === 0))))
    },
    oracle = Some("""
      WITH d AS (
        SELECT COALESCE(lang, '') AS lang, source,
               md5(COALESCE(text, '')) AS h,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 w -> len(w) > 0)) AS BIGINT) AS nw
        FROM documents WHERE doc_id % 13 <> 0
      ), s1 AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS ws_tokens,
               CAST(SUM(CASE WHEN nw < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs
        FROM d GROUP BY source
      ), l AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY source, lang
      ), ent AS (
        SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_langs,
               CAST(SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n_docs) * 1e6)
                 AS BIGINT)) AS BIGINT) AS ent_fp
        FROM l JOIN s1 ON s1.source = l.source GROUP BY l.source
      ), dom AS (
        SELECT source, lang AS dominant_lang FROM (
          SELECT source, lang,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY c DESC, lang) AS rn
          FROM l)
        WHERE rn = 1
      )
      SELECT s1.source, n_docs, ws_tokens,
             CAST(ws_tokens AS DOUBLE) / n_docs AS mean_doc_len,
             n_short_docs, n_dup_docs, n_langs, dominant_lang,
             CAST(ent_fp AS DOUBLE) / (n_docs * 1e6) AS lang_entropy
      FROM s1 JOIN ent USING (source) JOIN dom USING (source)
      ORDER BY source"""))

  /** Q161 — INCREMENTAL data cards: q151's datasheet maintained under
    * corpus append instead of recomputed from scratch (the q137/q138
    * maintenance argument applied to the curation layer — a release
    * card over a 100 TB corpus cannot re-scan history every admission).
    * The stored split's [[CardStore]] absorbs the arriving snapshot
    * (its [[cardStoreOf]] merged — three exact merges, cost ∝ batch) and the
    * merged store renders as card rows ([[cardsOfStore]]). The oracle
    * computes the FULL-corpus card from scratch (q151's SQL verbatim) —
    * a hash match proves append ∘ render ≡ rebuild exactly, including
    * the non-additive legs: n_dup through the union-distinct hash SET
    * (a duplicate pair straddling the split boundary is counted — a
    * count-only store would miss it) and entropy/dominant through the
    * merged per-(source, lang) counts.
    */
  private val q161 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", $"lang", $"text")
      val stored = cardStoreOf(docs.filter($"doc_id" % 10 < 8))
      cardsOfStore(Additive.merge(stored, cardStoreOf(docs.filter($"doc_id" % 10 >= 8))))
    },
    oracle = Some("""
      WITH d AS (
        SELECT COALESCE(lang, '') AS lang, source,
               md5(COALESCE(text, '')) AS h,
               CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
                 w -> len(w) > 0)) AS BIGINT) AS nw
        FROM documents
      ), s1 AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS ws_tokens,
               CAST(SUM(CASE WHEN nw < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs
        FROM d GROUP BY source
      ), l AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY source, lang
      ), ent AS (
        SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_langs,
               CAST(SUM(c * CAST(FLOOR(-LN(CAST(c AS DOUBLE) / n_docs) * 1e6)
                 AS BIGINT)) AS BIGINT) AS ent_fp
        FROM l JOIN s1 ON s1.source = l.source GROUP BY l.source
      ), dom AS (
        SELECT source, lang AS dominant_lang FROM (
          SELECT source, lang,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY c DESC, lang) AS rn
          FROM l)
        WHERE rn = 1
      )
      SELECT s1.source, n_docs, ws_tokens,
             CAST(ws_tokens AS DOUBLE) / n_docs AS mean_doc_len,
             n_short_docs, n_dup_docs, n_langs, dominant_lang,
             CAST(ent_fp AS DOUBLE) / (n_docs * 1e6) AS lang_entropy
      FROM s1 JOIN ent USING (source) JOIN dom USING (source)
      ORDER BY source"""))

  /** Q153 — retrieval-quality evaluation without labeled judgments:
    * near-duplicate pairs as pseudo-relevance (the standard zero-label
    * eval trick — a query document's verified near-dup IS a relevant
    * result by construction). For every document under the absolute
    * request cap that has at least one verified near-dup partner
    * ([[dedupEdgesCached]] — the q18-equal pair set), run the BM25
    * serving leg with the doc's own terms and report the best rank of
    * any partner in the top-10 plus the reciprocal rank (rr10 = 0 on a
    * miss) — the per-query MRR@10 surface an index health check
    * aggregates. A sanity gate every pipeline runs after an index
    * build/append/takedown: if near-dups stop retrieving each other,
    * the index is broken regardless of what downstream metrics say.
    *
    * Shape at 100 TB: the request set is pair-members under the
    * QuerySetCap id bound (≤ 3,700 absolutely); candidates come from
    * the ONE Bm25ScanTopK serving scan; the partner check is a join of
    * nq·10 result rows against the pair set. The pair artifact is the
    * cached ccluster edge set — already built for q47/q91/q135/q145,
    * so this eval costs one serving scan + bounded joins.
    */
  private val q153 = Q(
    fn = (s, d) => {
      import s.implicits._
      val edges = dedupEdgesCached(s, d)
      val partners = edges.select($"u".as("query_id"), $"v".as("partner"))
        .unionByName(edges.select($"v".as("query_id"), $"u".as("partner")))
        .localCheckpoint()
      val qset = partners.select($"query_id").distinct()
        .filter($"query_id" < QuerySetCap)
      val qrows = Tables.documents(s, d)
        .join(qset.select($"query_id".as("doc_id")), Seq("doc_id"), "left_semi")
        .select($"doc_id",
          array_distinct(transform(words($"text"), t => xxhash64(t))).as("hs"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val topk = bm25TopK(bm25StoreCached(s, d), qrows, 10)
      val hit = topk.join(partners,
          topk("query_id") === partners("query_id") &&
            topk("doc_id") === partners("partner"))
        .select(topk("query_id").as("qid"), $"rank")
        .groupBy($"qid").agg(min($"rank").as("best_rank"))
      qset
        .join(partners.groupBy($"query_id")
          .agg(count_distinct($"partner").as("n_partners")), Seq("query_id"))
        .join(hit.withColumnRenamed("qid", "query_id"), Seq("query_id"), "left")
        .select($"query_id", $"n_partners", $"best_rank",
          coalesce(lit(1.0) / $"best_rank".cast("double"), lit(0.0)).as("rr10"))
        .orderBy($"query_id")
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), prs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) /
               (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), partners AS (
        SELECT i AS query_id, j AS partner FROM prs
        UNION ALL SELECT j, i FROM prs
      ), qset AS (
        SELECT DISTINCT query_id FROM partners WHERE query_id < 3700
      ), t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT qset.query_id, tf.term FROM tf
        JOIN qset ON tf.doc_id = qset.query_id
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      ), hit AS (
        SELECT r.query_id, CAST(MIN(r.rank) AS BIGINT) AS best_rank
        FROM ranked r
        JOIN partners p ON p.query_id = r.query_id AND p.partner = r.doc_id
        WHERE r.rank <= 10
        GROUP BY r.query_id
      ), np AS (
        SELECT query_id, CAST(COUNT(DISTINCT partner) AS BIGINT) AS n_partners
        FROM partners GROUP BY query_id
      )
      SELECT qs.query_id, np.n_partners, hit.best_rank,
             COALESCE(CAST(1.0 AS DOUBLE) / hit.best_rank, CAST(0.0 AS DOUBLE)) AS rr10
      FROM qset qs
      JOIN np USING (query_id)
      LEFT JOIN hit USING (query_id)
      ORDER BY query_id"""))

  /** Q154 — curriculum phase assignment (data ORDERING, the training-
    * prep op the split/mix/pack family doesn't cover): rank every
    * document by q22's quality score and cut the corpus into four exact
    * rank quartiles — phase 1 trains first (cleanest), phase 4 last.
    * Declared output is the per-phase summary (4 rows at any corpus
    * size): doc count, token budget, and the quality range each phase
    * spans — a wrong assignment at any quartile boundary shifts the
    * exact sums and fails the hash.
    *
    * The global rank uses the two-level prefix-sum device (q70's
    * shape): scores quantize into ≤ 129 coarse buckets (floor(−64·q),
    * order-consistent with the (q desc, doc_id) rank by monotonicity —
    * equal scores always share a bucket, so re-sorting within buckets
    * restores the exact global order), per-bucket counts roll into
    * offsets through a ≤ 129-row window, and each doc's rank is its
    * bucket offset + an in-bucket row_number — no unpartitioned
    * corpus-sized window anywhere. Phase = ((rank−1)·4) div N, exact
    * integer arithmetic; N is a bounded single-row action (the Lloyd
    * pattern). Skew note: a score value shared by a huge doc mass
    * lands one bucket/window partition — at 100 TB the quantizer
    * constant is the declared lever (more buckets → smaller
    * partitions), same contract as the z-order cell constant.
    */
  private val q154 = Q(
    fn = (s, d) => {
      import s.implicits._
      val stop = Seq("the", "a", "of", "and", "is", "to", "in")
      val t = Tables.documents(s, d)
        .select($"doc_id", $"n_chars", words($"text").as("w"))
        .withColumn("n_tokens", size($"w").cast("long"))
        .withColumn("q",
          when($"n_chars" >= 100 && $"n_chars" <= 400, 1.0).otherwise(0.0)
            + size(filter($"w", w0 => w0.isInCollection(stop)))
                .cast("double") / $"n_tokens")
        .select($"doc_id", $"n_tokens", $"q")
      val n = t.count()
      val bucketed = t.withColumn("bucket", floor(-$"q" * 64.0).cast("long"))
      val offsets = bucketed.groupBy($"bucket").agg(count(lit(1)).as("bc"))
        .withColumn("offset", coalesce(sum($"bc").over(
          Window.orderBy($"bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"bucket", $"offset")
      bucketed.join(broadcast(offsets), Seq("bucket"))
        .withColumn("rnk", $"offset" + row_number().over(
          Window.partitionBy($"bucket").orderBy($"q".desc, $"doc_id")))
        .withColumn("phase", expr(s"((rnk - 1) * 4) div ${n}L + 1"))
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("ws_tokens"),
          min($"q").as("min_quality"),
          max($"q").as("max_quality"))
        .orderBy($"phase")
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END)
                 + CAST(len(list_filter(string_split(text, ' '),
                     w -> list_contains(['the','a','of','and','is','to','in'], w))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS q
        FROM documents
      ), r AS (
        SELECT doc_id, n_tokens, q,
               ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rnk,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n
        FROM t
      ), p AS (
        SELECT CAST(((rnk - 1) * 4) // n + 1 AS BIGINT) AS phase,
               n_tokens, q
        FROM r
      )
      SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS ws_tokens,
             MIN(q) AS min_quality, MAX(q) AS max_quality
      FROM p GROUP BY phase ORDER BY phase"""))

  /** Q155 — label QA over the near-dup graph: verified near-duplicate
    * pairs whose `lang` labels DISAGREE. Two documents sharing ≥ half
    * their word-3-gram shingles are the same content; if their language
    * labels differ, one label is wrong (or the pair is templated
    * boilerplate straddling a lang boundary) — either way it's exactly
    * the label noise a langid-conditioned pipeline (mixing quotas,
    * per-lang tokenizers, q141's strata) must catch before training.
    * The near-dup graph is thus a free label-consistency checker — the
    * q153 trick (pairs as pseudo-relevance) applied to label QA.
    *
    * Emits EVERY verified pair with both labels and the agreement bit
    * (the QA report wants the base-rate denominator, not just the
    * violations). Cost: the cached ccluster edge set + two lang-column
    * joins — pair-bounded, the corpus text is never re-read.
    */
  private val q155 = Q(
    fn = (s, d) => {
      import s.implicits._
      val langs = Tables.documents(s, d)
        .select($"doc_id", coalesce($"lang", lit("")).as("lg"))
      dedupEdgesCached(s, d)
        .join(langs.select($"doc_id".as("u"), $"lg".as("lang_u")), Seq("u"))
        .join(langs.select($"doc_id".as("v"), $"lg".as("lang_v")), Seq("v"))
        .select($"u", $"v", $"lang_u", $"lang_v",
          ($"lang_u" === $"lang_v").as("lang_match"))
        .orderBy($"u", $"v")
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), prs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) /
               (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), lg AS (
        SELECT doc_id, COALESCE(lang, '') AS lg FROM documents
      )
      SELECT p.u, p.v, a.lg AS lang_u, b.lg AS lang_v,
             a.lg = b.lg AS lang_match
      FROM prs p
      JOIN lg a ON a.doc_id = p.u
      JOIN lg b ON b.doc_id = p.v
      ORDER BY u, v"""))

  /** (doc_id, bg) rows — one per bigram OCCURRENCE, as "w1 w2" strings
    * (tokens are space-split, so the key is unambiguous). */
  private def bigramsOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    // native one-pass span kernel — bit-identical strings to the
    // transform/concat_ws form it replaced (PropertySpec parity), at a
    // fraction of the per-occurrence cost (the interpreted lambda was
    // the measured explode ceiling at x100)
    df.select($"doc_id",
        explode(graft.functions.expressions.bigram_spans($"text")).as("p"))
      .select($"doc_id", $"p.bg".as("bg"))
  }

  /** q85's trained LM: bigram counts, bigram-prefix counts, vocabulary
    * size — all over the given (training) docs, materialized once
    * (localCheckpoint) so a long-lived serving stream never re-runs the
    * corpus aggregation per micro-batch (the token-drift-monitor
    * baseline contract). Tables are vocabulary²-bounded. */
  private[graft] case class BigramLm(c12: DataFrame, c1: DataFrame, v: Long)
  private[graft] def trainBigramLm(training: DataFrame): BigramLm = {
    import training.sparkSession.implicits._
    val c12 = bigramsOf(training).groupBy($"bg").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy(split($"bg", " ").getItem(0).as("w1"))
      .agg(sum($"c12").as("c1"))
      .localCheckpoint()
    val v = training.select(explode(words($"text")).as("word"))
      .agg(count_distinct($"word")).head().getLong(0)
    BigramLm(c12, c1, v)
  }

  /** q85's scoring leg: per-document (n_bigrams, sum_fp, avg_logprob)
    * of `docs` under `lm` — add-one smoothing, fixed-point per-bigram
    * log-probs (exact order-free sums), one final long/long→double
    * division. Shared verbatim with the streaming twin
    * ([[graft.streaming.Pipeline.runLmPerplexityStream]]) so a document
    * scores identically in stream and batch. */
  private[graft] def lmScoreDocs(docs: DataFrame, lm: BigramLm): DataFrame = {
    import docs.sparkSession.implicits._
    bigramsOf(docs)
      .withColumn("w1", split($"bg", " ").getItem(0))
      .join(lm.c12, Seq("bg"), "left")
      .join(lm.c1, Seq("w1"), "left")
      .select($"doc_id",
        floor(log((coalesce($"c12", lit(0L)) + 1.0) /
          (coalesce($"c1", lit(0L)) + lit(lm.v))) * 1e6).cast("long").as("lp_fp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lp_fp").as("sum_fp"))
      .withColumn("avg_logprob", $"sum_fp".cast("double") / $"n_bigrams")
  }

  /** q85's LM persisted once per JVM via [[IndexCache]] (the
    * bm25StoreCached / pqTrainCached serving-artifact pattern): batch
    * q85, the bench and the streaming perplexity gate share ONE
    * training run over the stored split; every later consumer pays one
    * artifact read of the vocabulary²-bounded tables. */
  private[graft] def bigramLmCached(s: SparkSession, d: String): BigramLm = {
    val p = bigramLmArtifact(s, d)
    BigramLm(Tables.parquet(s, s"$p/c12"), Tables.parquet(s, s"$p/c1"),
      Tables.parquet(s, s"$p/v").head().getLong(0))
  }

  /** The persisted LM artifact directory for `d`: the serving tables
    * (c12/c1/v) and the RAW per-doc store q137's takedown argument
    * demands ([[LmRaw]]: bgpost/wpost and their projections c12/wc).
    * Every serving table is a projection of the raw store (c12 = Σ_doc
    * bgpost, c1 = Σ_w2 c12, v = |wc|), built that way here so the
    * projection law holds by construction and a removal that subtracts
    * victims' stored postings lands on exactly the tables a retrain on
    * survivors would. */
  private def bigramLmArtifact(s: SparkSession, d: String): String =
    IndexCache.artifact("bigramlm", d) { path =>
      import s.implicits._
      val training = Tables.documents(s, d).filter($"doc_id" % 10 < 8)
      val bgp = bigramsOf(training).groupBy($"doc_id", $"bg")
        .agg(count(lit(1)).as("c")).localCheckpoint()
      bgp.write.mode("overwrite").parquet(s"$path/bgpost")
      val wp = training.select($"doc_id", explode(words($"text")).as("word"))
        .distinct().localCheckpoint()
      // groupBy(bg).count over occurrences == Σ_doc of per-doc counts:
      // trainBigramLm's c12 values, derived through the raw store
      val raw = LmRaw.project(Map("bgpost" -> bgp, "wpost" -> wp))
      val c12 = raw("c12").localCheckpoint()
      c12.write.mode("overwrite").parquet(s"$path/c12")
      c12.groupBy(split($"bg", " ").getItem(0).as("w1"))
        .agg(sum($"c12").as("c1"))
        .write.mode("overwrite").parquet(s"$path/c1")
      wp.write.mode("overwrite").parquet(s"$path/wpost")
      val wc = raw("wc").localCheckpoint()
      wc.write.mode("overwrite").parquet(s"$path/wc")
      Seq(wc.count()).toDF("v").write.mode("overwrite").parquet(s"$path/v")
    }

  /** q85's LM as a RAW, REMOVABLE [[Additive]] store (q137's Bm25Raw
    * contract applied to the language model): per-doc bigram counts
    * (`bgpost`: doc_id, bg, c), per-doc word incidence (`wpost`: doc_id,
    * word — distinct per doc), and their projections the scorer serves
    * from, `c12` (bg, c12) and the vocabulary doc-frequencies `wc`
    * (word, ndocs). A removal subtracts a victim's OWN stored postings —
    * never re-tokenizing text that may already be gone, the
    * right-to-be-forgotten constraint q142 established for BM25. A word
    * leaves the vocabulary exactly when its ndocs hits zero, which is
    * the one quantity a word-SET artifact could not answer. */
  private[graft] type LmRaw = Additive.Store
  private[graft] object LmRaw extends Additive.Family(
      counts = Seq("c12" -> Additive.Counts(Seq("bg"), "c12"),
        "wc" -> Additive.Counts(Seq("word"), "ndocs")),
      postings = Seq("bgpost", "wpost")) {
    override def project(own: Map[String, DataFrame]): LmRaw =
      Additive.Store(this, own ++ Map(
        "c12" -> own("bgpost").groupBy(col("bg")).agg(sum(col("c")).as("c12")),
        "wc" -> own("wpost").groupBy(col("word")).agg(count(lit(1)).as("ndocs"))))

    /** The store of an admitted snapshot (doc_id, text), lazy. */
    def deltaOf(snap: DataFrame): LmRaw = project(Map(
      "bgpost" -> bigramsOf(snap).groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c")),
      "wpost" -> snap.select(col("doc_id"), explode(words(col("text"))).as("word")).distinct()))
  }

  private[graft] def lmRawCached(s: SparkSession, d: String): LmRaw =
    Additive.load(LmRaw, bigramLmArtifact(s, d), Tables.parquet(s, _))

  /** The smoothed-LM view of a raw store: c12 as stored, c1 its lazy
    * vocabulary-bounded projection, v the size of its vocabulary (one
    * action). */
  private[graft] def lmOf(raw: LmRaw): BigramLm = {
    val c12 = raw("c12")
    import c12.sparkSession.implicits._
    BigramLm(c12,
      c12.groupBy(split($"bg", " ").getItem(0).as("w1")).agg(sum($"c12").as("c1")),
      raw("wc").count())
  }

  /** Q85 — language-model perplexity filter (the CCNet recipe shape:
    * score documents under an LM trained on trusted/held data; drop the
    * worst). Trains an add-one-smoothed bigram LM on the stored split
    * (doc_id % 10 < 8 — q82's snapshot rule), scores every ARRIVING
    * document's bigrams under it, and emits the 100 worst documents by
    * average log-probability (highest perplexity first) — the quality
    * gate q22's surface heuristics can't express (q22 scores form;
    * this scores fluency against a reference distribution).
    *
    * Exactness: per-bigram log-probs are quantized to fixed-point longs
    * (floor(ln(p)·10⁶) — q84's device), so the per-document sum is exact
    * and order-free; the final average is one IEEE long/long→double
    * division, bit-identical across engines. Bigrams ride as "w1 w2"
    * strings (tokens are space-split, so the key is unambiguous).
    *
    * Shape for 100 TB: the LM tables are vocabulary²-bounded — tiny
    * relative to the corpus (broadcast or shuffle-join on the bigram
    * key, AQE picks); scoring is one scan of the arriving split with
    * map-side-combined per-doc partial aggs; the worst-100 is
    * TakeOrderedAndProject, never a global sort.
    */
  private val q85 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val lm = bigramLmCached(s, d)
      lmScoreDocs(docs.filter($"doc_id" % 10 >= 8), lm)
        .orderBy($"avg_logprob".asc, $"doc_id")
        .limit(100)
        .select($"doc_id", $"n_bigrams", $"sum_fp", $"avg_logprob")
    },
    oracle = Some("""
      WITH dw AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM dw WHERE len(w) >= 2
      ), c12 AS (
        SELECT bg, COUNT(*) AS c12 FROM bg WHERE doc_id % 10 < 8 GROUP BY bg
      ), c1 AS (
        SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM c12 GROUP BY 1
      ), v AS (
        SELECT COUNT(DISTINCT word) AS v FROM (
          SELECT unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id % 10 < 8)
      ), scored AS (
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(LN((COALESCE(c12, 0) + 1.0) /
                 (COALESCE(c1, 0) + v)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_fp
        FROM (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
              FROM bg WHERE doc_id % 10 >= 8) p
        LEFT JOIN c12 USING (bg)
        LEFT JOIN c1 USING (w1)
        CROSS JOIN v
        GROUP BY p.doc_id
      )
      SELECT doc_id, n_bigrams, sum_fp,
             CAST(sum_fp AS DOUBLE) / n_bigrams AS avg_logprob
      FROM scored
      ORDER BY avg_logprob ASC, doc_id
      LIMIT 100"""))

  /** The raw BM25 postings artifact as an [[Additive]] store: per-doc
    * `postings` ([[bm25RawPostings]]' rows), the hash-keyed `df` table
    * and the totals `n` (docs) and `sum_len` (Σlen), the ONLY
    * corpus-global state, all additive. */
  private[graft] type Bm25Raw = Additive.Store
  private[graft] object Bm25Raw extends Additive.Family(
      counts = Seq("df" -> Additive.Counts(Seq("h"), "df")),
      postings = Seq("postings"), totals = Seq("n", "sum_len")) {
    /** Materializes the postings once (the totals are eager), then
      * derives df and the totals from them. */
    override def project(own: Map[String, DataFrame]): Bm25Raw = {
      val p = own("postings").localCheckpoint()
      val (n, sumLen) = bm25TotalsOf(p)
      Additive.Store(this, Map("postings" -> p, "df" -> bm25DfOf(p)),
        Map("n" -> n, "sum_len" -> sumLen))
    }

    /** The store of `docs` (doc_id, text): ONE tokenize pass. */
    def deltaOf(docs: DataFrame): Bm25Raw = project(Map("postings" -> bm25RawPostings(docs)))
  }

  /** Raw postings of `docs`: (doc_id, hs, tfs, len) — aligned arrays,
    * len = Σtf. NOTHING here reads corpus-global state — the property
    * that makes the artifact append-only. The df table and totals are
    * PROJECTIONS of the postings ([[bm25DfOf]]/[[bm25TotalsOf]]), so
    * one tokenize pass feeds all three artifact tables — materialize
    * the postings first and derive the other two from them. */
  private[graft] def bm25RawPostings(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(words($"text")).as("term"))
      .groupBy($"doc_id", xxhash64($"term").as("h"))
      .agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"h", $"tf")).as("tw"), sum($"tf").as("len"))
      .select($"doc_id", transform($"tw", x => x("h")).as("hs"),
        transform($"tw", x => x("tf")).as("tfs"), $"len")
  }

  /** Hash-keyed document frequency, derived from postings (each doc's
    * hs entries are distinct by the tf grouping, so one explode+count
    * is exactly df). */
  private[graft] def bm25DfOf(postings: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    postings.select(explode($"hs").as("h"))
      .groupBy($"h").agg(count(lit(1)).as("df"))
  }

  /** (n docs, Σlen) from postings. coalesce: an EMPTY frame (a quiet
    * admission day's snapshot) sums to NULL, and the append must report
    * (0, 0) rather than NPE. */
  private[graft] def bm25TotalsOf(postings: DataFrame): (Long, Long) = {
    import postings.sparkSession.implicits._
    val r = postings
      .agg(count(lit(1)).as("n"), coalesce(sum($"len"), lit(0L)).as("sum_len"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Build the raw artifact of `docs` (doc_id, text) at `path`, in
    * [[Additive.save]]'s layout. ONE tokenize pass: the postings parquet
    * is written first, then df/totals derive from the written postings,
    * never re-reading the text. */
  private def buildBm25Raw(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    bm25RawPostings(docs).write.mode("overwrite").parquet(s"$path/postings")
    val post = Tables.parquet(s, s"$path/postings")
    bm25DfOf(post).write.mode("overwrite").parquet(s"$path/df")
    val (n, sumLen) = bm25TotalsOf(post)
    Seq((n, sumLen)).toDF("n", "sum_len")
      .write.mode("overwrite").parquet(s"$path/totals")
  }

  /** The raw artifact over the STORED split (doc_id % 10 < 8) of `d`,
    * built once per JVM via [[IndexCache]]. */
  private[graft] def bm25RawCached(s: SparkSession, d: String): Bm25Raw = {
    import s.implicits._
    Additive.load(Bm25Raw, IndexCache.artifact("bm25raw", d) { path =>
      buildBm25Raw(Tables.documents(s, d).filter($"doc_id" % 10 < 8), path)
    }, Tables.parquet(s, _))
  }

  /** The raw artifact over the stored split's [[chunkedDocs]] chunks,
    * built once per JVM via [[IndexCache]]: the passage index q166
    * appends to and q167 prunes. */
  private[graft] def bm25ChunkRawCached(s: SparkSession, d: String): Bm25Raw = {
    import s.implicits._
    Additive.load(Bm25Raw, IndexCache.artifact("bm25chunkraw", d) { path =>
      buildBm25Raw(chunkedDocs(Tables.documents(s, d).filter($"doc_id" % 10 < 8)), path)
    }, Tables.parquet(s, _))
  }

  /** Serving leg over the raw artifact: resolve query-term idfs from
    * the CURRENT df table + totals, broadcast them with the inverted
    * query index, run ONE [[graft.functions.expressions
    * .Bm25RawScanTopK]] scan over the postings. [[bm25TopK]]'s serving
    * hygiene (materialize nq·k rows, destroy the broadcast). */
  private[graft] def bm25RawTopK(raw: Bm25Raw,
      qrows: Array[(Long, Array[Long])], k: Int): DataFrame = {
    val s = raw("postings").sparkSession
    val (n, sumLen) = (raw.totals("n"), raw.totals("sum_len"))
    import s.implicits._
    require(n > 0,
      "bm25RawTopK: empty postings store — no corpus stats exist " +
        "(avgdl/idf are undefined over zero documents)")
    val byTerm = qrows.zipWithIndex
      .flatMap { case ((_, hs), qi) => hs.map(_ -> qi) }
      .groupBy(_._1).toArray.sortBy(_._1)
    val offsets = byTerm.scanLeft(0)(_ + _._2.length)
    val dfMap = raw("df")
      .join(broadcast(byTerm.map(_._1).toSeq.toDF("h")), Seq("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val avgdl = sumLen.toDouble / n
    val idfFp = byTerm.map { case (h, _) =>
      dfMap.get(h) match {
        // q84's idf expression verbatim (same IEEE operation order)
        case Some(df) => math.floor(math.log(
          (n - df + 0.5) / (df + 0.5) + 1.0) * 1e6).toLong
        case None => 0L // in no stored doc — unreachable in the scan
      }
    }
    val bc = s.sparkContext.broadcast((qrows.map(_._1), byTerm.map(_._1),
      offsets, byTerm.flatMap(_._2.map(_._2)), idfFp, avgdl))
    try {
      raw("postings").agg(graft.functions.expressions
          .bm25_raw_scan_topk(bc, k, $"doc_id", $"hs", $"tfs", $"len")
          .as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.doc_id", $"e.score_fp",
          $"e.rank".cast("long").as("rank"))
        .orderBy($"query_id", $"rank")
        .localCheckpoint()
    } finally bc.destroy()
  }

  /** q137's request set: every 41st document, absolutely bounded (≤ 100
    * queries at any SF — [[QuerySetCap]]'s argument), DISJOINT fixture
    * from q84's % 37 so the two retrieval paths serve different
    * requests. */
  private[graft] def bm25RawQueryRows(s: SparkSession,
      d: String): Array[(Long, Array[Long])] = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" % 41 === 0 && $"doc_id" < 4100L)
      .select($"doc_id",
        array_distinct(transform(words($"text"), t => xxhash64(t))).as("hs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
  }

  /** Q137 — BM25 index APPEND + serve (Lucene's segment contract,
    * completing the incremental-maintenance family: q82 MinHash, q83
    * IVF, q95 exact-hash, q135 clusters — retrieval was the one serving
    * artifact still rebuilt from scratch per snapshot). q84's
    * precomputed weight store CANNOT be appended to: every stored w_fp
    * bakes in idf(df, N) and avgdl, and one admitted snapshot changes
    * those for EVERY stored document. The fix is the one search engines
    * shipped decades ago — store RAW postings (per-doc term hashes +
    * tfs + length), whose rows never depend on corpus-global stats, and
    * move idf/avgdl to QUERY TIME:
    *
    *  - artifact = postings (doc_id, hs, tfs, len) + df table (h, df) +
    *    totals (n, Σlen). All three are ADDITIVE: append tokenizes ONLY
    *    the arriving snapshot, unions its postings (stored rows
    *    untouched — disjoint doc_ids by the admission contract), merges
    *    the vocabulary-bounded df table and adds two longs. Cost ∝
    *    snapshot + vocabulary, never corpus.
    *  - serving resolves the request set's term idfs from the MERGED df
    *    table (one vocabulary-table semi-join, ≤ |query terms| rows
    *    collected) and ships them INSIDE the query broadcast;
    *    [[graft.functions.expressions.Bm25RawScanTopK]] computes each
    *    matched term's weight in the scan loop. Stored documents'
    *    weights are never materialized, so there is nothing
    *    corpus-sized to refresh — the exact reason Lucene scores with
    *    query-time weights.
    *
    * The query: build the artifact on the stored split (doc_id % 10 <
    * 8), append the arriving snapshot (% 10 >= 8), serve the % 41
    * request set against the merged index. The merged stats equal
    * full-corpus stats by construction (disjoint doc sets: df adds, N
    * and Σlen add), so the DuckDB oracle is simply full-corpus BM25 —
    * a hash match proves the composed append+query-time-idf path
    * bit-equal to a from-scratch rebuild. Arithmetic is q84's exactly:
    * same IEEE operation order in idf and the length factor, same
    * floor·10⁶ quantization, exact long score sums.
    */
  private val q137 = Q(
    fn = (s, d) => {
      import s.implicits._
      val merged = Additive.merge(bm25RawCached(s, d),
        Bm25Raw.deltaOf(Tables.documents(s, d).filter($"doc_id" % 10 >= 8))).checkpoint("df")
      bm25RawTopK(merged, bm25RawQueryRows(s, d), 5)
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT doc_id AS query_id, term FROM tf
        WHERE doc_id % 41 = 0 AND doc_id < 4100
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      )
      SELECT query_id, doc_id, score_fp, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q142 — the full index-maintenance LIFECYCLE on the BM25 store:
    * yesterday's stored-split artifact absorbs today's snapshot
    * ([[Additive.merge]]), processes a takedown batch (doc_id % 7 = 0
    * — [[Additive.remove]]), and serves the % 41 request set over
    * what remains. The DuckDB oracle computes full-corpus-minus-removed
    * BM25 from scratch (request terms drawn from the FULL corpus — a
    * removed document may still arrive as a query); a hash match proves
    * append ∘ remove ≡ rebuild-on-survivors exactly, including the
    * query-time idf/avgdl refresh after both mutations. Neither
    * mutation re-tokenizes stored text: append tokenizes the snapshot,
    * removal subtracts the victims' own stored postings.
    */
  private val q142 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val merged = Additive.merge(bm25RawCached(s, d),
        Bm25Raw.deltaOf(docs.filter($"doc_id" % 10 >= 8))).checkpoint("df")
      val pruned = Additive.remove(merged,
        docs.filter($"doc_id" % 7 === 0).select($"doc_id")).checkpoint("df")
      bm25RawTopK(pruned, bm25RawQueryRows(s, d), 5)
    },
    oracle = Some("""
      WITH rem AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
      ), t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM rem
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT DISTINCT doc_id AS query_id, term FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id % 41 = 0 AND doc_id < 4100)
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      )
      SELECT query_id, doc_id, score_fp, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q159 — the DEFERRED-DELETION lifecycle as one driver-gated row
    * (VERDICT r10 item 3; the spec pins live at StreamingSpec's
    * tombstone tests): takedown batches land as tombstone-ledger
    * `batch=` partitions ([[graft.streaming.Pipeline
    * .runTakedownLedgerStream]]'s on-disk format — the stream→ledger
    * leg itself is spec-pinned), serving MASKS against the accumulated
    * ledger ([[Additive.remove]] fed lazily by
    * [[graft.streaming.Pipeline.readTombstoneLedger]] — no artifact row
    * rewritten), [[graft.streaming.Pipeline.compactTombstones]] folds
    * the ledger into a MATERIALIZED pruned store and drains it, and
    * post-compaction serving runs over the reloaded compacted store
    * under the now-empty ledger (the empty mask must be the identity).
    * BOTH serves are emitted under a `leg` column; the oracle computes
    * the from-scratch survivor rebuild ONCE and pins each leg against
    * it — a hash match proves masked serve == compacted serve ==
    * rebuild-on-survivors across the whole composition. The two
    * batches' victim sets (% 14 == 0 and % 14 == 7) union to q142's
    * % 7 == 0 takedown set.
    *
    * Scale shape: ledger append is a tiny per-batch partition write;
    * the masked serve adds two victim-bounded anti/semi-joins in front
    * of the same scan-local top-k kernel; compaction is one store
    * rewrite amortized over every batch it folds.
    */
  private val q159 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val work = java.nio.file.Files.createTempDirectory("graft_q159").toString
      val ledger = s"$work/ledger"
      docs.filter($"doc_id" % 14 === 0).select($"doc_id")
        .write.mode("overwrite").parquet(s"$ledger/batch=0")
      docs.filter($"doc_id" % 14 === 7).select($"doc_id")
        .write.mode("overwrite").parquet(s"$ledger/batch=1")
      val store = bm25RawCached(s, d)
      val qrows = bm25RawQueryRows(s, d)
      val masked = bm25RawTopK(Additive.remove(store,
        graft.streaming.Pipeline.readTombstoneLedger(s, ledger)).checkpoint("df"), qrows, 5)
      graft.streaming.Pipeline.compactTombstones(s, ledger) { vic =>
        Additive.save(Additive.remove(store, vic), s"$work/compacted")
      }
      val emptied = graft.streaming.Pipeline.readTombstoneLedger(s, ledger)
      val served = bm25RawTopK(Additive.remove(Additive.load(Bm25Raw,
        s"$work/compacted", Tables.parquet(s, _)), emptied).checkpoint("df"), qrows, 5)
      masked.withColumn("leg", lit("masked"))
        .unionByName(served.withColumn("leg", lit("compacted")))
        .orderBy($"query_id", $"rank", $"leg")
    },
    oracle = Some("""
      WITH rem AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 10 < 8 AND doc_id % 7 <> 0
      ), t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM rem
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
      ), dlen AS (
        SELECT doc_id, COUNT(*) AS len FROM t GROUP BY doc_id
      ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dlen
      ), idf AS (
        SELECT term,
               CAST(FLOOR(LN((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_fp,
               avgdl
        FROM df CROSS JOIN stats
      ), w AS (
        SELECT tf.doc_id, tf.term,
               idf_fp * CAST(FLOOR((tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 * len / avgdl)) * 1e6) AS BIGINT) AS w_fp
        FROM tf JOIN dlen USING (doc_id) JOIN idf USING (term)
      ), q AS (
        SELECT DISTINCT doc_id AS query_id, term FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id % 41 = 0 AND doc_id < 4100)
      ), scored AS (
        SELECT q.query_id, w.doc_id, CAST(SUM(w_fp) AS BIGINT) AS score_fp
        FROM q JOIN w USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY q.query_id, w.doc_id
      ), ranked AS (
        SELECT query_id, doc_id, score_fp,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS rank
        FROM scored
      )
      SELECT query_id, doc_id, score_fp, rank, legs.leg
      FROM ranked, (VALUES ('compacted'), ('masked')) legs(leg)
      WHERE rank <= 5
      ORDER BY query_id, rank, legs.leg"""))

  /** Q143 — dedup-index removal + probe: q142's takedown contract on
    * the MinHash artifact. The stored-split index drops its doc_id % 7
    * takedowns ([[removeFromMinHashIndex]] — two doc_id anti-joins;
    * banding is per-document, so no surviving row changes), then the
    * arriving % 10 >= 8 snapshot probes the pruned index exactly as in
    * q82. The oracle brute-forces new × (stored minus removed) pairs at
    * jaccard ≥ 0.5 — a hash match proves a removed document stops
    * matching arrivals immediately and no survivor's candidacy or
    * verification changed (q82's banding-recall and exact-verify
    * arguments carry over unchanged).
    */
  private val q143 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pruned = removeFromMinHashIndex(minHashIndexCached(s, d),
        docs.filter($"doc_id" % 7 === 0).select($"doc_id"))
      dedupAgainstIndex(
        docs.repartition(s.sparkContext.defaultParallelism)
          .filter($"doc_id" % 10 >= 8), pruned)
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )
      SELECT a.doc_id AS new_doc_id, b.doc_id AS old_doc_id,
             any_value(a.n) AS n_new, any_value(b.n) AS n_old,
             COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
      FROM ex a JOIN ex b ON a.s = b.s
        AND a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8 AND b.doc_id % 7 <> 0
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ORDER BY new_doc_id, old_doc_id"""))

  /** Q160 — NEAR-DUP decontamination: eval-set leakage screening at the
    * paraphrase level. The exact n-gram decontamination family
    * (q46/q68/q89) catches verbatim eval text in the training corpus;
    * reworded or lightly edited eval items slip through — the gap the
    * near-dup machinery exists to close. Here the BOUNDED eval set
    * (doc_id % 29 = 0 under the q84/q137 QuerySetCap device — an eval
    * suite is thousands of items at any corpus size, never
    * corpus-proportional) probes a MinHash index over the training
    * corpus (everything else) through EXACTLY the admission-screen leg
    * ([[dedupAgainstIndex]], shared function): banded candidates, exact
    * sorted-intersect Jaccard verify at ≥ 0.5, emitted as
    * (train_doc_id, eval_doc_id) contamination pairs. The DuckDB oracle
    * brute-forces eval × train shingle overlap from scratch — a hash
    * match proves the banding lost no qualifying pair and the kernel's
    * arithmetic is exact (q82/q143's recall argument, new membership
    * split).
    *
    * Shape at 100 TB: the index over the training corpus is the SAME
    * artifact the dedup admission path already maintains (q82/q95 —
    * build once, probe forever); the probe is eval-bounded (≤100 rows
    * here), so decontamination costs one banded lookup of the eval
    * suite, not a corpus scan. Training docs flagged here are dropped
    * or audited before the split materialization (q45/q56).
    */
  private val q160 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val isEval = ($"doc_id" % 29 === 0) && ($"doc_id" < 5300L)
      val idx = buildMinHashIndex(shingleDocs(docs.filter(!isEval)))
      dedupAgainstIndex(docs.filter(isEval), idx)
        .select($"old_doc_id".as("train_doc_id"),
          $"new_doc_id".as("eval_doc_id"),
          $"common", $"jaccard")
        .orderBy($"train_doc_id", $"eval_doc_id")
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      )
      SELECT b.doc_id AS train_doc_id, a.doc_id AS eval_doc_id,
             COUNT(*) AS common,
             CAST(COUNT(*) AS DOUBLE) /
               (any_value(a.n) + any_value(b.n) - COUNT(*)) AS jaccard
      FROM ex a JOIN ex b ON a.s = b.s
        AND a.doc_id % 29 = 0 AND a.doc_id < 5300
        AND NOT (b.doc_id % 29 = 0 AND b.doc_id < 5300)
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(COUNT(*) AS DOUBLE) /
             (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ORDER BY train_doc_id, eval_doc_id"""))

  /** Q138 — bigram-LM APPEND + re-score: the language-model artifact's
    * incremental-maintenance step (q137's argument applied to q85's
    * LM). An add-one-smoothed bigram LM is nothing but count tables,
    * and counts are ADDITIVE over disjoint doc sets — so admitting a
    * snapshot into the training corpus is one [[Additive.merge]] into
    * the raw LM store ([[LmRaw]]): snapshot bigram counts merged into
    * c12 (vocabulary²-bounded shuffle) and word doc-frequencies into wc;
    * [[lmOf]] re-derives c1 from the merged c12 (it is a projection of
    * c12 by construction — [[trainBigramLm]]) and the exact smoothing
    * denominator v as wc's size (the scalar v alone is NOT additive —
    * overlapping vocabularies — which is why the store keeps per-word
    * counts, not just their number). Append cost ∝ snapshot tokens +
    * vocabulary; the stored training corpus is never re-read.
    *
    * The query: q85's LM (trained on % 10 < 8) absorbs the % 10 = 8
    * snapshot, then the % 10 = 9 held-out split is scored under the
    * UPDATED model, worst 100 by avg log-prob. The oracle trains on
    * % 10 < 9 from scratch — a hash match proves append == retrain on
    * the union, exactly (fixed-point per-bigram log-probs, one final
    * long/long→double division).
    */
  private val q138 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // c12 feeds c1 and the scorer: materialized once
      val lm = lmOf(Additive.merge(lmRawCached(s, d),
        LmRaw.deltaOf(docs.filter($"doc_id" % 10 === 8))).checkpoint("c12"))
      lmScoreDocs(docs.filter($"doc_id" % 10 === 9), lm)
        .orderBy($"avg_logprob".asc, $"doc_id")
        .limit(100)
        .select($"doc_id", $"n_bigrams", $"sum_fp", $"avg_logprob")
    },
    oracle = Some("""
      WITH dw AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM dw WHERE len(w) >= 2
      ), c12 AS (
        SELECT bg, COUNT(*) AS c12 FROM bg WHERE doc_id % 10 < 9 GROUP BY bg
      ), c1 AS (
        SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM c12 GROUP BY 1
      ), v AS (
        SELECT COUNT(DISTINCT word) AS v FROM (
          SELECT unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id % 10 < 9)
      ), scored AS (
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(LN((COALESCE(c12, 0) + 1.0) /
                 (COALESCE(c1, 0) + v)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_fp
        FROM (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
              FROM bg WHERE doc_id % 10 = 9) p
        LEFT JOIN c12 USING (bg)
        LEFT JOIN c1 USING (w1)
        CROSS JOIN v
        GROUP BY p.doc_id
      )
      SELECT doc_id, n_bigrams, sum_fp,
             CAST(sum_fp AS DOUBLE) / n_bigrams AS avg_logprob
      FROM scored
      ORDER BY avg_logprob ASC, doc_id
      LIMIT 100"""))

  /** Q144 — bigram-LM takedown, full lifecycle (q142's shape on the
    * language model): the stored-split raw LM store ([[lmRawCached]],
    * trained on doc_id % 10 < 8) absorbs the % 10 = 8 snapshot
    * ([[Additive.merge]]), processes the % 7 = 0 takedown batch
    * ([[Additive.remove]] — victims' counts subtracted from their OWN
    * stored postings, never re-tokenized), and the % 10 = 9 held-out
    * split is scored under the pruned model, worst 100 by avg
    * log-prob. The oracle retrains from scratch on
    * (% 10 < 9 AND % 7 ≠ 0) — a hash match proves
    * append ∘ remove ≡ retrain-on-survivors exactly, including the
    * smoothing denominator (a word unique to victims leaves the
    * vocabulary, shifting v for EVERY scored bigram). Removed docs may
    * still arrive to be scored — takedown prunes the model, not the
    * caller's input. This closes the maintenance matrix's last
    * asymmetry: every serving artifact now has an exact append AND an
    * exact removal path. */
  private val q144 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val appended = Additive.merge(lmRawCached(s, d),
        LmRaw.deltaOf(docs.filter($"doc_id" % 10 === 8)))
      // the merge stays lazy: the subtraction is its one consumer, and
      // its result feeds the scorer, c1 and v
      val pruned = Additive.remove(appended,
          docs.filter($"doc_id" % 7 === 0).select($"doc_id").distinct().localCheckpoint())
        .checkpoint("c12", "wc")
      lmScoreDocs(docs.filter($"doc_id" % 10 === 9), lmOf(pruned))
        .orderBy($"avg_logprob".asc, $"doc_id")
        .limit(100)
        .select($"doc_id", $"n_bigrams", $"sum_fp", $"avg_logprob")
    },
    oracle = Some("""
      WITH dw AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM dw WHERE len(w) >= 2
      ), c12 AS (
        SELECT bg, COUNT(*) AS c12 FROM bg
        WHERE doc_id % 10 < 9 AND doc_id % 7 <> 0 GROUP BY bg
      ), c1 AS (
        SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM c12 GROUP BY 1
      ), v AS (
        SELECT COUNT(DISTINCT word) AS v FROM (
          SELECT unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id % 10 < 9 AND doc_id % 7 <> 0)
      ), scored AS (
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(LN((COALESCE(c12, 0) + 1.0) /
                 (COALESCE(c1, 0) + v)) * 1e6) AS BIGINT)) AS BIGINT) AS sum_fp
        FROM (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
              FROM bg WHERE doc_id % 10 = 9) p
        LEFT JOIN c12 USING (bg)
        LEFT JOIN c1 USING (w1)
        CROSS JOIN v
        GROUP BY p.doc_id
      )
      SELECT doc_id, n_bigrams, sum_fp,
             CAST(sum_fp AS DOUBLE) / n_bigrams AS avg_logprob
      FROM scored
      ORDER BY avg_logprob ASC, doc_id
      LIMIT 100"""))

  /** Q86 — span-level dedup SURGERY: q65 measures how much of each
    * document is corpus-duplicated 8-gram boilerplate; this operator
    * performs the removal step of Lee et al. (ACL 2022) — every word
    * position covered by a duplicated 8-gram span (the gram occurs in
    * ≥ 2 distinct documents) is cut, and the cleaned text is emitted
    * for each document that lost at least one word. Doc-level dedup
    * (q17–q20) drops whole documents; this keeps the unique prose and
    * strips only the shared boilerplate.
    *
    * Exactness: the output is STRINGS (cleaned text) plus exact counts
    * — no floats anywhere — so the DuckDB oracle hash-checks the entire
    * surgery: gram identity, df ≥ 2 flagging, span coverage, word
    * reconstruction order.
    *
    * Shape at scale (r15 rewrite — VERDICT r14 #1, guide §2.3/§2.4/§3.2):
    * gram keys are [[gram8Keys]] 8-byte longs (no gram string, no md5);
    * the df ≥ 2 key set comes from q65's min ≠ max identity — ONE
    * map-side-combinable (key → min, max) exchange, where r14's
    * count_distinct planned TWO corpus-sized ones (a (key, doc_id)
    * dedup exchange, then the per-key count) — and position re-attach
    * is a bloom-prefiltered LEFT SEMI join against that (Zipf-small,
    * persisted) key set: every occurrence probes the broadcast bloom
    * scan-side, so only true-dup occurrences (plus the bloom's false
    * positives, which the exact semi join then sheds) ever reach a join
    * exchange — at any corpus size, even past the broadcast-hash-join
    * cap, the exchange carries the duplicated mass, not the corpus
    * (guide §3.2: false positives only cost a little extra shuffle,
    * never wrong rows). The per-doc flagged-start lists are bounded by
    * document length and collect per doc_id (one hash agg); the surgery
    * itself is pure per-row array arithmetic — coverage check per
    * position is O(|starts|) with both bounded by words-per-doc, never
    * corpus-sized.
    */
  private val q86 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val docs = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("ws"))
      val grams = docs.filter(size($"ws") >= 8)
        .select($"doc_id", posexplode(gram8Keys($"ws")).as(Seq("p", "key")))
        .select($"doc_id", ($"p" + 1).as("s"), $"key")
      // df >= 2 over distinct docs == min(doc) != max(doc) per key
      // (q65's identity): full map-side partials, one narrow exchange
      val dupKeys = grams.groupBy($"key")
        .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"))
        .filter($"d0" =!= $"d1")
        .select($"key")
        .persist()
      try {
        // exact count sizes the bloom (the key set is already
        // materialized by persist, so this is a K-row pass, not a
        // corpus pass); an empty key set means no duplicated span
        // anywhere — the semi join below returns empty without a probe
        val nDup = dupKeys.count()
        val pre = if (nDup == 0) grams else {
          val bloom = dupKeys.agg(E.bloom_agg($"key", lit(nDup)).as("bf"))
            .collect()(0).getAs[Array[Byte]](0)
          grams.filter(E.bloom_probe_broadcast(s.sparkContext.broadcast(bloom), $"key"))
        }
        val flagged = pre.join(dupKeys, Seq("key"), "left_semi")
          .groupBy($"doc_id").agg(sort_array(collect_list($"s")).as("starts"))
        docs.join(flagged, Seq("doc_id"))
        .withColumn("kept",
          filter(transform($"ws", (w, i) => struct(w.as("w"), (i + 1).as("p"))),
            x => !exists($"starts",
              st => st <= x("p") && x("p") <= st + 7)))
        .select($"doc_id",
          size($"ws").cast("long").as("n_words"),
          size($"kept").cast("long").as("n_kept"),
          concat_ws(" ", transform($"kept", x => x("w"))).as("text_clean"))
        .orderBy($"doc_id")
        // materialize while dupKeys is still persisted (the q114/q68
        // pattern) — the semi join's build side must not recompute the
        // corpus agg after the finally-unpersist below
        .localCheckpoint()
      } finally dupKeys.unpersist()
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      pos AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS s FROM w),
      g AS (
        SELECT doc_id, s, md5(array_to_string(ws[s:s+7], ' ')) AS gk FROM pos),
      df AS (
        SELECT gk FROM g GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2),
      fl AS (
        SELECT doc_id, list_sort(list(s)) AS starts
        FROM g JOIN df USING (gk) GROUP BY doc_id),
      cut AS (
        SELECT w.doc_id, ws,
               list_filter(generate_series(1, len(ws)),
                 p -> len(list_filter(starts,
                   st -> st <= p AND p <= st + 7)) = 0) AS kept
        FROM w JOIN fl USING (doc_id))
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(kept) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(list_transform(kept, p -> ws[p]), ' '), '') AS text_clean
      FROM cut
      ORDER BY doc_id"""))

  /** Q97 — Zipf slope per source: the standard power-law diagnostic for
    * a text corpus (Zipf 1949; Piantadosi, Psych. Bull. Rev. 2014 for
    * the modern treatment). A natural corpus has token frequency roughly
    * ∝ rank^s with s near −1; a slope far from −1 flags synthetic,
    * templated or degenerate text — the corpus-level sibling of q48's
    * per-document repetition filter.
    *
    * Per source: rank the top-200 tokens by frequency, least-squares fit
    * ln(freq) against ln(rank). Exactness: both logs are quantized to
    * integer micro-units (`round(ln(x)·10⁶)`), so every regression sum
    * (Σx, Σy, Σxy, Σx²) is an exact, order-insensitive long sum; the
    * single closed-form slope division is the ONLY floating-point
    * operation and runs on identical operands in both engines. Bounds:
    * x ≤ ln(200)·10⁶ ≈ 5.3e6, so n·Σx² ≤ ~1.1e18 — inside long range
    * with 8× headroom (the oracle's HUGEINT sums agree exactly because
    * nothing wraps).
    *
    * Scale shape: one map-side-combined (source, token) count, a top-200
    * WindowGroupLimit per source (the q51 pattern — never a full sort),
    * and a 5-row closed-form fit. No collect, no broadcast, no UDF.
    */
  private val q97 = Q(
    fn = (s, d) => {
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select($"source", explode(words($"text")).as("term"))
        .groupBy($"source", $"term").agg(count(lit(1)).as("cnt"))
      val rk = Window.partitionBy($"source").orderBy($"cnt".desc, $"term".asc)
      val pts = tf.withColumn("rnk", row_number().over(rk))
        .filter($"rnk" <= 200)
        .select($"source",
          expr("CAST(round(ln(rnk) * 1000000) AS BIGINT)").as("x"),
          expr("CAST(round(ln(cnt) * 1000000) AS BIGINT)").as("y"))
      pts.groupBy($"source").agg(
          count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
        // n >= 2: a source with a single ranked term has x = ln(1) = 0
        // for its only point, so n·Σx² − (Σx)² = 0 and the closed form
        // is 0/0 — no line is defined by one point; DuckDB and Spark
        // also disagree on NaN rendering, so the guard is a correctness
        // contract, not cosmetics (mirrored HAVING n >= 2 in the oracle)
        .filter($"n" >= 2)
        .select($"source",
          (($"n" * $"sxy" - $"sx" * $"sy").cast("double")
            / ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("zipf_slope"),
          $"n".as("n_terms"))
        .orderBy($"source")
    },
    oracle = Some("""
      WITH tf AS (
        SELECT source, term, COUNT(*) AS cnt FROM (
          SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY source, term
      ), top AS (
        SELECT source, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, term ASC) AS rnk
        FROM tf QUALIFY rnk <= 200
      ), pts AS (
        SELECT source,
               CAST(round(ln(rnk) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y
        FROM top
      ), fit AS (
        SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*y) AS sxy, SUM(x*x) AS sxx
        FROM pts GROUP BY source
        HAVING COUNT(*) >= 2)
      SELECT source,
             CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               AS zipf_slope,
             CAST(n AS BIGINT) AS n_terms
      FROM fit ORDER BY source"""))

  /** Q133 — exact two-sample Kolmogorov–Smirnov test between the stored
    * and held-out splits over document length: D = sup |F_train(x) −
    * F_test(x)| — the distribution-level split-hygiene check (q108 asks
    * "does the vocabulary transfer?", this asks "is the test split even
    * the same DISTRIBUTION?"; a bad split assigner or a time-skewed
    * holdout shows up here before any model does). Compared against the
    * large-sample 5% critical value c(α)·√((n₁+n₂)/(n₁·n₂)),
    * c(.05) = 1.358 (Smirnov 1948's asymptotic form).
    *
    * Exactness: the sup runs entirely in integers — per-length counts
    * collapse map-side, one cumulative window over the value axis
    * (range-partitioned sort at scale; the axis is value-DISTINCT, so
    * rows ≤ distinct lengths, not documents), and the maximized
    * quantity is |c₁·n₂ − c₂·n₁| (exact decimal — cross-multiplied so
    * no division happens before the argmax). Only the final D and the
    * critical value are doubles, from identical operands. Tie on the
    * sup: smallest length wins (deterministic in both engines).
    */
  private val q133 = Q(
    fn = (s, d) => {
      import s.implicits._
      val counts = Tables.documents(s, d)
        .select($"n_chars",
          when($"doc_id" % 10 < 8, 1L).otherwise(0L).as("tr"),
          when($"doc_id" % 10 >= 8, 1L).otherwise(0L).as("te"))
        .groupBy($"n_chars")
        .agg(sum($"tr").as("c_tr"), sum($"te").as("c_te"))
      val w = Window.orderBy($"n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts
        .select($"n_chars",
          sum($"c_tr").over(w).as("cum_tr"),
          sum($"c_te").over(w).as("cum_te"))
        .crossJoin(broadcast(counts.agg(
          sum($"c_tr").as("n_tr"), sum($"c_te").as("n_te"))))
        .select($"n_chars", $"n_tr", $"n_te",
          abs($"cum_tr".cast("decimal(38,0)") * $"n_te"
            - $"cum_te".cast("decimal(38,0)") * $"n_tr").as("num"))
        .orderBy($"num".desc, $"n_chars".asc)
        .limit(1)
        .select($"n_tr", $"n_te", $"n_chars".as("ks_at_value"),
          ($"num".cast("double")
            / ($"n_tr".cast("decimal(20,0)") * $"n_te").cast("double"))
            .as("ks_stat"))
        .withColumn("ks_critical_05",
          lit(1.358) * sqrt(($"n_tr" + $"n_te").cast("double")
            / ($"n_tr".cast("decimal(20,0)") * $"n_te").cast("double")))
        .withColumn("splits_differ", $"ks_stat" > $"ks_critical_05")
    },
    oracle = Some("""
      WITH counts AS (
        SELECT n_chars,
               SUM(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END) AS c_tr,
               SUM(CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END) AS c_te
        FROM documents GROUP BY n_chars
      ), tot AS (
        SELECT CAST(SUM(c_tr) AS BIGINT) AS n_tr,
               CAST(SUM(c_te) AS BIGINT) AS n_te FROM counts
      ), cum AS (
        SELECT n_chars,
               SUM(c_tr) OVER (ORDER BY n_chars
                 ROWS UNBOUNDED PRECEDING) AS cum_tr,
               SUM(c_te) OVER (ORDER BY n_chars
                 ROWS UNBOUNDED PRECEDING) AS cum_te
        FROM counts
      ), scored AS (
        SELECT c.n_chars, t.n_tr, t.n_te,
               ABS(CAST(c.cum_tr AS HUGEINT) * t.n_te
                 - CAST(c.cum_te AS HUGEINT) * t.n_tr) AS num
        FROM cum c CROSS JOIN tot t
        ORDER BY num DESC, n_chars ASC
        LIMIT 1)
      SELECT n_tr, n_te, n_chars AS ks_at_value,
             CAST(num AS DOUBLE)
               / CAST(CAST(n_tr AS HUGEINT) * n_te AS DOUBLE) AS ks_stat,
             1.358 * sqrt(CAST(n_tr + n_te AS DOUBLE)
               / CAST(CAST(n_tr AS HUGEINT) * n_te AS DOUBLE))
               AS ks_critical_05,
             CAST(num AS DOUBLE)
               / CAST(CAST(n_tr AS HUGEINT) * n_te AS DOUBLE)
               > 1.358 * sqrt(CAST(n_tr + n_te AS DOUBLE)
               / CAST(CAST(n_tr AS HUGEINT) * n_te AS DOUBLE))
               AS splits_differ
      FROM scored"""))

  /** Q98 — vocabulary-growth curve (Heaps' law, 1978): cumulative
    * distinct-term count against cumulative token count in doc_id order,
    * sampled every 25 documents. Together with q97's Zipf slope these
    * are the two classic corpus-statistics diagnostics: a vocabulary
    * that saturates too fast (or never) flags duplication or synthetic
    * text before any model sees it.
    *
    * "Distinct terms so far" never builds a running set: each term
    * contributes 1 at its GLOBAL first occurrence (`min(doc_id)` per
    * term — one map-side-combined aggregation) and the curve is then two
    * integer prefix sums over per-doc deltas, decomposed exactly like
    * q70's two-level bucket scheme (per-bucket subtotals → window over
    * the tiny bucket table → bounded within-bucket windows) — the same
    * dense-id caveat and range-statistics remedy documented there apply.
    * All arithmetic is long-integer, so the decomposition is
    * bit-identical to the oracle's flat windows.
    *
    * The coarse level has a FIXED fan-out: bucket width is
    * max(256, ceil((max doc_id + 1) / 65536)), so the single
    * unpartitioned window never sees more than ~65536 rows at ANY
    * corpus size (at 10¹⁰ docs the width is ~153k and the bucket table
    * is still ≤65536 rows in one task). The width probe is a 1-row
    * column-pruned max() — the bounded-collect class PlanAuditSpec's
    * unpartitioned-window whitelist documents.
    */
  private val q98 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", words($"text").as("w"))
      val perDoc = docs.select($"doc_id", size($"w").cast("long").as("n_tokens"))
      val newTerms = docs
        .select($"doc_id", explode(array_distinct($"w")).as("term"))
        .groupBy($"term").agg(min($"doc_id").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_new"))
      // fixed coarse fan-out: ≤ ~65536 buckets regardless of corpus
      // size (1-row column-pruned probe; see scaladoc)
      val maxDoc = Tables.documents(s, d)
        .agg(max($"doc_id")).head().getLong(0)
      val width = math.max(256L, (maxDoc + 65536L) / 65536L)
      val base = perDoc.join(newTerms, Seq("doc_id"), "left")
        .withColumn("n_new", coalesce($"n_new", lit(0L)))
        .withColumn("bucket", ($"doc_id" / width).cast("long"))
      val bw = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy($"bucket")
        .agg(sum($"n_tokens").as("bt"), sum($"n_new").as("bv"))
        .withColumn("ot", coalesce(sum($"bt").over(bw), lit(0L)))
        .withColumn("ov", coalesce(sum($"bv").over(bw), lit(0L)))
        .select($"bucket", $"ot", $"ov")
      val iw = Window.partitionBy($"bucket").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(offsets, Seq("bucket"))
        .withColumn("cum_tokens", $"ot" + sum($"n_tokens").over(iw))
        .withColumn("cum_vocab", $"ov" + sum($"n_new").over(iw))
        .filter($"doc_id" % 25 === 0)
        .select($"doc_id", $"cum_tokens", $"cum_vocab")
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ), perdoc AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w
      ), fo AS (
        SELECT term, MIN(doc_id) AS doc_id FROM (
          SELECT doc_id, unnest(list_distinct(ws)) AS term FROM w)
        GROUP BY term
      ), nt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM fo GROUP BY doc_id
      ), c AS (
        SELECT p.doc_id,
               SUM(p.n_tokens) OVER (ORDER BY p.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_vocab
        FROM perdoc p LEFT JOIN nt USING (doc_id))
      SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
             CAST(cum_vocab AS BIGINT) AS cum_vocab
      FROM c WHERE doc_id % 25 = 0 ORDER BY doc_id"""))

  /** Shared PMI scoring leg for q99/q99b: attach unigram counts and the
    * two 1-row broadcast totals to a support-filtered bigram count
    * table `bgc` (bg, cxy), score, top-50. The unigram table is
    * vocabulary-bounded and materialized once (it feeds two joins and
    * the token total); the total-bigram denominator never needs the
    * bigram table: N_bg == Σ max(len−1, 0), one scan-local aggregate —
    * and a caller that already holds the exact total (q99b's sketch job
    * computes it as a side output) passes it in and skips that scan
    * entirely.
    */
  private def pmiTop50(docs: DataFrame, bgc: DataFrame,
      nBgKnown: Option[Long] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val uni = docs.select(explode(words($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nTok = uni.agg(sum($"c").as("n_tok"))
    val nBg = nBgKnown match {
      case Some(n) => Seq(n).toDF("n_bg")
      case None => docs.select(
        greatest(size(words($"text")) - 1, lit(0)).cast("long").as("nb"))
        .agg(sum($"nb").as("n_bg"))
    }
    def q(col: Column): Column =
      round(log(col) * 1000000).cast("long")
    bgc
      .withColumn("w1", split($"bg", " ").getItem(0))
      .withColumn("w2", split($"bg", " ").getItem(1))
      .join(uni.select($"w".as("w1"), $"c".as("c1")), Seq("w1"))
      .join(uni.select($"w".as("w2"), $"c".as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBg))
      .select($"bg", $"cxy",
        (q($"cxy") + lit(2L) * q($"n_tok") - q($"n_bg")
          - q($"c1") - q($"c2")).as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"bg".asc)
      .limit(50)
  }

  /** Q99 — PMI collocations (Church & Hanks, CL 1990): the corpus's
    * top-50 two-word collocations by pointwise mutual information among
    * bigrams occurring >= 5 times — the classic phrase-mining /
    * tokenizer-vocabulary-seeding pass (multi-word units worth single
    * tokens surface here first), and the statistical complement of
    * q85's bigram LM (q85 scores documents under the bigram model; this
    * ranks the bigrams themselves).
    *
    * PMI = ln(P(xy) / (P(x)·P(y))) is computed as the LOG-SUM
    * ln(c_xy) + 2·ln(N) − ln(N_bg) − ln(c_x) − ln(c_y) with every term
    * individually quantized to micro-units (q97's device): the naive
    * ratio's numerator c_xy·N² overflows long arithmetic at corpus
    * scale, while the per-term quantized sum stays within ±10⁸ and is
    * bit-identical across engines. Counts are occurrence counts, so
    * P(x) estimates share one token denominator N.
    *
    * Scale shape: two map-side-combined counts (unigram, bigram — the
    * latter reuses q85's [[bigramsOf]]), two vocabulary-bounded
    * equi-joins to attach c_x/c_y, two 1-row broadcast totals, and a
    * TakeOrderedAndProject top-50. The >= 5 support filter runs BEFORE
    * the joins, so only repeated bigrams ever join.
    */
  private val q99 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // the bigram table is materialized AFTER the support filter
      // (bigram TYPES grow near-linearly with the corpus before
      // saturating — checkpointing them unfiltered measured 6× wall at
      // the x10→x100 decade); q99b is the sketch-bounded sibling for
      // fraction-of-corpus thresholds
      val bgc = bigramsOf(docs).groupBy($"bg").agg(count(lit(1)).as("cxy"))
        .filter($"cxy" >= 5)
        .localCheckpoint()
      pmiTop50(docs, bgc)
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ), uni AS (
        SELECT t AS w, COUNT(*) AS c FROM (
          SELECT unnest(ws) AS t FROM w) GROUP BY t
      ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni
      ), bgc AS (
        SELECT bg, COUNT(*) AS cxy FROM (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> array_to_string(ws[i:i+1], ' '))) AS bg
          FROM w WHERE len(ws) >= 2) GROUP BY bg
      ), nb AS (
        SELECT CAST(SUM(cxy) AS BIGINT) AS n_bg FROM bgc
      ), j AS (
        SELECT b.bg, b.cxy, u1.c AS c1, u2.c AS c2
        FROM bgc b
        JOIN uni u1 ON u1.w = string_split(b.bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(b.bg, ' ')[2]
        WHERE b.cxy >= 5)
      SELECT bg, cxy,
             CAST(round(ln(cxy) * 1000000) AS BIGINT)
               + 2 * CAST(round(ln(t.n_tok) * 1000000) AS BIGINT)
               - CAST(round(ln(n.n_bg) * 1000000) AS BIGINT)
               - CAST(round(ln(c1) * 1000000) AS BIGINT)
               - CAST(round(ln(c2) * 1000000) AS BIGINT) AS pmi_micro
      FROM j, tot t, nb n
      ORDER BY pmi_micro DESC, bg LIMIT 50"""))

  /** Q99b — PMI collocations with FRACTION-of-corpus support, the
    * declared 100 TB lever for q99 shipped as a first-class query. q99's
    * absolute `cxy >= 5` forces an exact count of every bigram TYPE —
    * the type tail grows near-linearly with the corpus and its count
    * shuffle dominated the measured x10→x100 decade (~6×, SCALE.md). A
    * production threshold is a corpus fraction ("appears in ≥ 0.01% of
    * bigram positions"), and that form admits a sketch bound:
    *
    *  1. sketch pass: ONE Misra–Gries aggregate over the xxhash64 of
    *     the bigram stream
    *     ([[graft.functions.expressions.FreqSketchLong]] with
    *     k = 2·ceil(1/frac) — the hash computes in a codegen'd
    *     projection, the aggregate touches only primitive longs) + the
    *     exact total N_bg in the same job. The MG guarantee (every item
    *     with count > N_bg/(k+1) is present) plus the factor-2 slack
    *     makes the ≤ k sketch entries a COMPLETE candidate superset for
    *     thr = max(ceil(frac·N_bg),1) — nothing per-type is shuffled,
    *     the driver receives ≤ k rows (bounded by the declared
    *     fraction, independent of corpus size). A 64-bit hash collision
    *     merges two types' sketch counts — candidates only grow, so the
    *     superset property survives;
    *  2. exact recount of candidates only (broadcast ≤ k-row hash join
    *     → ≤ k-key agg on the bigram STRINGS, so collisions fall out),
    *     keep cxy >= thr, then q99's [[pmiTop50]] leg.
    *
    * Like q68's bloom, the sketch is a PRUNE, not an approximation:
    * output equals "bigrams at ≥ frac of positions, top-50 PMI"
    * exactly, so the DuckDB oracle reproduces it in full (thr is the
    * same IEEE ceil both sides) and the query hash-matches at every SF
    * — sketch-then-recount with a guarantee, q67b's pattern carried to
    * the corpus-statistics family. `graft.text.pmiSupportFrac`
    * (default 1e-4) is oracle-pinned like maxCell; nothing in the engine
    * sets it. Equivalence with q99 at matched thresholds is spec-pinned
    * (QueriesSpec sets the conf to q99's support floor).
    */
  private val q99b = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val frac = s.conf.get("graft.text.pmiSupportFrac", "0.0001").toDouble
      require(frac >= 1e-6 && frac <= 1.0,
        s"graft.text.pmiSupportFrac=$frac outside [1e-6, 1] — the sketch " +
          "holds 2/frac entries per task buffer; shard the corpus or use " +
          "q99's absolute-support form below 1e-6")
      val k = 2 * math.ceil(1.0 / frac).toInt
      val docs = Tables.documents(s, d)
      // sketch pass: the bigram is never materialized as a string — the
      // per-occurrence column is the bare span hash ([[BigramHashes]],
      // a native one-pass long-array kernel), so the pass costs a long
      // explode + a primitive-long sketch update per occurrence
      val row = docs
        .select(explode(E.bigram_hashes($"text")).as("h"))
        .agg(E.freq_sketch_long($"h", k).as("sk"), count(lit(1)).as("n"))
        .collect()(0)
      val nBg = row.getLong(1)
      val thr = math.max(math.ceil(frac * nBg).toLong, 1L)
      val cand = broadcast(row.getSeq[org.apache.spark.sql.Row](0)
        .map(_.getLong(0)).toDF("h"))
      // recount: the span kernel carries (bg, h) per occurrence; the
      // broadcast hash join prunes scan-side against the <= k-row
      // candidate set, the exact grouping runs on the bigram STRING
      // (64-bit collisions fall out here), and the shuffle carries
      // <= k types per task
      val bgc = docs
        .select(explode(E.bigram_spans($"text")).as("p"))
        .select($"p.bg".as("bg"), $"p.h".as("h"))
        .join(cand, Seq("h"))
        .groupBy($"bg").agg(count(lit(1)).as("cxy"))
        .filter($"cxy" >= thr)
        .localCheckpoint()
      // the sketch job already produced the exact N_bg — hand it to the
      // scoring leg so q99b pays three corpus scans, not four
      pmiTop50(docs, bgc, nBgKnown = Some(nBg))
    },
    oracle = Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ), uni AS (
        SELECT t AS w, COUNT(*) AS c FROM (
          SELECT unnest(ws) AS t FROM w) GROUP BY t
      ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni
      ), bgc AS (
        SELECT bg, COUNT(*) AS cxy FROM (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> array_to_string(ws[i:i+1], ' '))) AS bg
          FROM w WHERE len(ws) >= 2) GROUP BY bg
      ), nb AS (
        SELECT CAST(SUM(cxy) AS BIGINT) AS n_bg FROM bgc
      ), thr AS (
        SELECT GREATEST(CAST(CEIL(0.0001 * n_bg) AS BIGINT), 1) AS t FROM nb
      ), j AS (
        SELECT b.bg, b.cxy, u1.c AS c1, u2.c AS c2
        FROM bgc b
        JOIN uni u1 ON u1.w = string_split(b.bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(b.bg, ' ')[2]
        WHERE b.cxy >= (SELECT t FROM thr))
      SELECT bg, cxy,
             CAST(round(ln(cxy) * 1000000) AS BIGINT)
               + 2 * CAST(round(ln(t.n_tok) * 1000000) AS BIGINT)
               - CAST(round(ln(n.n_bg) * 1000000) AS BIGINT)
               - CAST(round(ln(c1) * 1000000) AS BIGINT)
               - CAST(round(ln(c2) * 1000000) AS BIGINT) AS pmi_micro
      FROM j, tot t, nb n
      ORDER BY pmi_micro DESC, bg LIMIT 50"""))

  /** Q103 — cross-source duplication matrix: for every (source, source)
    * pair, how many verified near-duplicate document pairs span it and
    * how many distinct documents are involved. This is dedup
    * ATTRIBUTION — the curation question behind the dedup family: when
    * two feeds overlap (a crawl re-collecting a curated dump, two
    * crawls sharing frontier), the matrix says which pairings carry the
    * duplication mass, i.e. which source to drop, dedup against, or
    * de-prioritize. The reference's per-source accounting is the
    * group-by-source leg of its metric queries (queries.py — per-vehicle
    * rollups); this lifts the same shape onto the near-dup relation.
    *
    * Pipeline: q19's banded-LSH pair generation with exact
    * verification ([[nearDupPairsLsh]] — never all-pairs, recall
    * argument at q19), then each side's source is attached and the pair
    * normalized to (src_a <= src_b). Both joins are 8-byte-key
    * equi-joins of the pair set against a two-column corpus
    * projection; NO broadcast hint on either side — the near-dup pair
    * set grows with the corpus's dup mass, so AQE picks broadcast at
    * test scale and degrades to a shuffle join at 100 TB (the q95
    * lesson). The tagged pair set is checkpointed once and feeds both
    * aggregates; the output is |sources|²-bounded.
    *
    * `n_docs` counts distinct documents touched by the pairing's pairs
    * (union of both sides — for a within-source cell both sides draw
    * from the same source's docs).
    */
  private val q103 = Q(
    fn = (s, d) => {
      import s.implicits._
      val src = Tables.documents(s, d).select($"doc_id", $"source")
      val tagged = nearDupPairsLsh(s, d).select($"i", $"j")
        .join(src.select($"doc_id".as("i"), $"source".as("src_i")), Seq("i"))
        .join(src.select($"doc_id".as("j"), $"source".as("src_j")), Seq("j"))
        .select($"i", $"j",
          least($"src_i", $"src_j").as("src_a"),
          greatest($"src_i", $"src_j").as("src_b"))
        .localCheckpoint()
      val byPair = tagged.groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("n_pairs"))
      val byDoc = tagged.select($"src_a", $"src_b", $"i".as("doc_id"))
        .unionByName(tagged.select($"src_a", $"src_b", $"j".as("doc_id")))
        .groupBy($"src_a", $"src_b")
        .agg(countDistinct($"doc_id").as("n_docs"))
      byPair.join(byDoc, Seq("src_a", "src_b"))
        .orderBy($"src_a", $"src_b")
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE)
                 / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), tagged AS (
        SELECT p.i, p.j,
               CASE WHEN di.source <= dj.source THEN di.source
                    ELSE dj.source END AS src_a,
               CASE WHEN di.source <= dj.source THEN dj.source
                    ELSE di.source END AS src_b
        FROM pairs p
        JOIN documents di ON di.doc_id = p.i
        JOIN documents dj ON dj.doc_id = p.j
      ), m1 AS (
        SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM tagged GROUP BY src_a, src_b
      ), inv AS (
        SELECT src_a, src_b, i AS doc_id FROM tagged
        UNION ALL
        SELECT src_a, src_b, j AS doc_id FROM tagged
      ), m2 AS (
        SELECT src_a, src_b, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM inv GROUP BY src_a, src_b
      )
      SELECT m1.src_a, m1.src_b, m1.n_pairs, m2.n_docs
      FROM m1 JOIN m2 USING (src_a, src_b)
      ORDER BY src_a, src_b"""))

  /** Q107 — leakage-free train/val/test split: q45's deterministic
    * md5-nibble assignment applied to the near-dup CLUSTER, not the
    * document. Splitting documents independently leaks evaluation data:
    * two near-duplicates can land on opposite sides, and the test copy
    * "measures" what the train copy memorized — q46's decontamination
    * CATCHES such pairs after the fact; this split prevents them by
    * construction. Every member of a verified near-dup cluster
    * ([[dedupClustersCached]] — the q47/q91 artifact, shared again, so
    * the clustering is still paid for once) inherits the hash of its
    * cluster representative; the singleton majority (no pair, LEFT join
    * miss) hashes its own id, which on dup-free data reduces q107 to
    * exactly q45. The split frame itself is one corpus-scale projection
    * + one left join against the pair-bounded cluster table.
    */
  private val q107 = Q(
    fn = (s, d) => {
      import s.implicits._
      val clusters = dedupClustersCached(s, d).select($"doc_id", $"cluster_rep")
      Tables.documents(s, d).select($"doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("unit_id", coalesce($"cluster_rep", $"doc_id"))
        .select($"doc_id", $"unit_id", splitOf($"unit_id").as("split"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), shingled AS (
        SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
        FROM docs WHERE len(w) >= 3
      ), ex AS (
        SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM shingled
      ), pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE)
                 / (any_value(a.n) + any_value(b.n) - COUNT(*)) >= 0.5
      ), edges AS (
        SELECT i AS u, j AS v FROM pairs UNION SELECT j, i FROM pairs
      ), reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u
      ), cl AS (
        SELECT u AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY u
      )
      SELECT d.doc_id,
             COALESCE(cl.cluster_rep, d.doc_id) AS unit_id,
             CASE WHEN substr(md5(CAST(COALESCE(cl.cluster_rep, d.doc_id)
                                       AS VARCHAR)), 1, 1) IN
                       ('0','1','2','3','4','5','6','7','8','9','a','b')
                  THEN 'train'
                  WHEN substr(md5(CAST(COALESCE(cl.cluster_rep, d.doc_id)
                                       AS VARCHAR)), 1, 1) IN ('c','d')
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Q108 — held-out out-of-vocabulary rate by source: the fraction of
    * test-split token OCCURRENCES whose word never appears in the train
    * split, per source — the generalization-hygiene twin of the
    * leakage checks (q46 asks "did test CONTENT leak into train?"; this
    * asks the complement, "does train vocabulary COVER test?"), and the
    * per-source ranking says which feed's held-out half is most alien
    * to what the model will have seen. Split assignment is q45's shared
    * md5-nibble hash — the DOCUMENT-level split, deliberately: OOV is a
    * token-level statistic, and a leaked near-duplicate biases coverage
    * only through tokens that almost surely exist elsewhere in train
    * (second-order next to q46/q107's content-level leakage). A
    * deployment wanting the cluster-unit denominator swaps
    * `splitOf($"doc_id")` for q107's `splitOf(unit_id)` — one line, the
    * rest of the pipeline is split-agnostic.
    *
    * Scale shape: test tokens collapse map-side to (source, word,
    * count) BEFORE any join (the explode dies in its scan task), the
    * train vocabulary is a Heaps-bounded distinct, and the left join
    * runs on vocabulary-bounded rows on both sides — no token-stream
    * shuffle anywhere. The rate is one IEEE long-to-double division,
    * bit-identical across engines.
    */
  private val q108 = Q(
    fn = (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("split", splitOf($"doc_id"))
      val trainVocab = docs.filter($"split" === "train")
        .select(explode(words($"text")).as("w")).distinct()
        .withColumn("seen", lit(1))
      val testCounts = docs.filter($"split" === "test")
        .select($"source", explode(words($"text")).as("w"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      testCounts.join(trainVocab, Seq("w"), "left")
        .groupBy($"source")
        .agg(sum($"c").as("n_test_tokens"),
          sum(when($"seen".isNull, $"c").otherwise(0L)).as("n_oov"))
        .select($"source", $"n_test_tokens", $"n_oov",
          ($"n_oov".cast("double") / $"n_test_tokens".cast("double"))
            .as("oov_rate"))
        .orderBy($"source")
    },
    oracle = Some("""
      WITH sp AS (
        SELECT doc_id, source, text,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
                         ('0','1','2','3','4','5','6','7','8','9','a','b')
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
      ), tv AS (
        SELECT DISTINCT t FROM (
          SELECT unnest(string_split(text, ' ')) AS t
          FROM sp WHERE split = 'train')
      ), tt AS (
        SELECT source, t, COUNT(*) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS t
          FROM sp WHERE split = 'test')
        GROUP BY source, t
      )
      SELECT tt.source,
             CAST(SUM(tt.c) AS BIGINT) AS n_test_tokens,
             CAST(SUM(CASE WHEN tv.t IS NULL THEN tt.c ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(SUM(CASE WHEN tv.t IS NULL THEN tt.c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(tt.c) AS DOUBLE) AS oov_rate
      FROM tt LEFT JOIN tv ON tv.t = tt.t
      GROUP BY tt.source
      ORDER BY tt.source"""))

  val all: Map[String, Q] = Map(
    "q17_dedup_exact" -> q17,
    "q18_neardup_jaccard" -> q18,
    "q114_containment_dedup" -> q114,
    "q133_ks_split_test" -> q133,
    "q19_neardup_minhash_lsh" -> q19,
    "q20_simhash_pairs" -> q20,
    "q21_lang_id" -> q21,
    "q22_doc_quality" -> q22,
    "q23_token_stats" -> q23,
    "q23b_bpe_token_stats" -> q23b,
    "q135_dedup_cluster_append" -> q135,
    "q137_bm25_index_append" -> q137,
    "q138_lm_append_rescore" -> q138,
    "q142_bm25_index_remove" -> q142,
    "q143_dedup_index_remove" -> q143,
    "q144_lm_remove_rescore" -> q144,
    "q145_cluster_remove" -> q145,
    "q150_hard_negatives" -> q150,
    "q151_source_data_cards" -> q151,
    "q153_retrieval_eval_neardup" -> q153,
    "q154_curriculum_phases" -> q154,
    "q155_neardup_label_qa" -> q155,
    "q158_dedup_survivor_weights" -> q158,
    "q159_deferred_deletion_lifecycle" -> q159,
    "q160_neardup_decontamination" -> q160,
    "q161_data_card_append" -> q161,
    "q162_data_card_remove" -> q162,
    "q163_maxpassage_bm25" -> q163,
    "q164_k_anonymity_audit" -> q164,
    "q170_l_diversity_audit" -> q170,
    "q171_dp_marginal_release" -> q171,
    "q172_packing_efficiency" -> q172,
    "q173_tokenizer_fertility" -> q173,
    "q174_snapshot_diff" -> q174,
    "q175_tokenizer_drift" -> q175,
    "q176_truncation_loss" -> q176,
    "q177_vocab_coverage" -> q177,
    "q178_dedup_threshold_sweep" -> q178,
    "q179_decontamination_stack" -> q179,
    "q166_maxpassage_index_append" -> q166,
    "q167_maxpassage_index_remove" -> q167,
    "q24_winnow_fingerprint" -> q24,
    "q45_dataset_split" -> q45,
    "q141_stratified_split" -> q141,
    "q46_decontamination" -> q46,
    "q47_dedup_clusters" -> q47,
    "q48_repetition_filter" -> q48,
    "q49_stratified_sample" -> q49,
    "q50_sequence_packing" -> q50,
    "q51_tfidf_keywords" -> q51,
    "q56_training_split_materialize" -> q56,
    "q61_priority_sample" -> q61,
    "q65_dup_ngram_spans" -> q65,
    "q67_heavy_hitters" -> q67,
    "q67b_heavy_hitters_sketch" -> q67b,
    "q68_decontaminate_bloom" -> q68,
    "q69_chunk_documents" -> q69,
    "q70_token_budget_trim" -> q70,
    "q71_inverted_index" -> q71,
    "q72_corpus_qc" -> q72,
    "q76_epoch_shards" -> q76,
    "q77_heavy_hitters_by_source" -> q77,
    "q80_corpus_drift" -> q80,
    "q82_dedup_incremental" -> q82,
    "q84_bm25_topk" -> q84,
    "q85_lm_perplexity_filter" -> q85,
    "q86_dedup_span_removal" -> q86,
    "q89_contamination_frac" -> q89,
    "q90_dsir_weights" -> q90,
    "q91_dedup_canonicalize" -> q91,
    "q92_pii_redact" -> q92,
    "q93_domain_temperature_mix" -> q93,
    "q94_gopher_rules" -> q94,
    "q95_dedup_incremental_exact" -> q95,
    "q97_zipf_slope" -> q97,
    "q98_vocab_growth" -> q98,
    "q99_pmi_collocations" -> q99,
    "q99b_pmi_sketch" -> q99b,
    "q103_cross_source_dup_matrix" -> q103,
    "q107_leakage_free_split" -> q107,
    "q108_oov_rate" -> q108,
  )
}
