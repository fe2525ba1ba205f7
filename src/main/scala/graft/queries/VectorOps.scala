package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity-search operators over the `embeddings` table (64-dim float
  * vectors) — the vector half of the LLM-pipeline surface (builder brief;
  * SURVEY.md §7 step 8).
  *
  * Cross-engine determinism: float dot products are order- and
  * precision-sensitive, so every score here is computed over QUANTIZED
  * vectors — `floor(x * 2^20)` per element gives exact int64 arithmetic
  * (64 products of ~2^46 fit comfortably), and the final
  * `dot / (sqrt(qq) * sqrt(nn))` is a fixed-shape IEEE expression over
  * identical integers on both engines → bit-identical cosine scores, so
  * even the top-k ranking is oracle-checkable.
  *
  * Scale design: the query set is broadcast (never shuffles the corpus);
  * top-k is taken in two stages (per-partition, then global) so the
  * shuffle carries k rows per partition per query instead of the whole
  * scored corpus; the ANN variant prunes candidates by LSH bucket before
  * any scoring.
  */
object VectorOps {

  private val Scale = 1048576.0 // 2^20

  /** float array → exact quantized array via the native
    * [[graft.functions.expressions.QuantizeVec]] pass (the per-pair
    * scoring path uses [[graft.functions.expressions.QuantizedCosine]]
    * instead). */
  private def quantize(v: Column): Column =
    graft.functions.expressions.quantize_vec(v)

  /** Queries = every 50th vector (10 at sf0.01, 100 at sf0.1). */
  private def isQuery(vecId: Column): Column = vecId % 50 === 0

  /** Two-stage top-k per query by (score desc, neighbor id): local top-k
    * per partition, then global top-k — lossless under the total order,
    * and the final shuffle carries only k rows per partition per query.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val local = Window.partitionBy($"query_id", spark_partition_id())
      .orderBy($"score".desc, $"neighbor_id")
    val global = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"neighbor_id")
    scored
      .withColumn("lrn", row_number().over(local))
      .filter($"lrn" <= k)
      .withColumn("rank", row_number().over(global))
      .filter($"rank" <= k)
      .select($"query_id", $"neighbor_id", $"rank", $"score")
      .orderBy($"query_id", $"rank")
  }

  /** Exact cosine top-`k` for the query rows selected by `isQ`: the
    * query set is broadcast against the full corpus and scored with the
    * quantized-cosine kernel — q25's whole pipeline, factored so the
    * hybrid fusion (Retrieval q88) can serve a different request set at
    * a different depth through the identical scan. */
  private[queries] def cosineTopK(s: SparkSession, d: String,
      isQ: Column => Column, k: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      // single-file test input = one scan partition; spread the
      // per-pair scoring work (see TextOps.shingled note)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"vec_id", $"embedding")
    cosineServe(emb, emb.filter(isQ($"vec_id"))
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb")), k)
  }

  /** [[cosineTopK]]'s serving core over an EXTERNAL request set
    * (query_id, q_emb): the queries broadcast against the corpus scan,
    * exact quantized scoring, top-k — shared verbatim with the
    * streaming hybrid lookup so a query ranks identically in stream and
    * batch. A query is never paired with the corpus row of its own id
    * (both q25 and q88 serve corpus-resident request sets).
    *
    * Served SCAN-LOCAL since round 13 ([[graft.functions.expressions
    * .CosineScanTopK]]): the old broadcast nested-loop join + two-stage
    * window materialized nq·n scored rows — 77–134 s per consumer
    * (q25/q104/q156) at the x100 replay; the kernel is the same exact
    * arithmetic and (score desc, neighbor_id) selection with one
    * ≤ nq·k partial per task through the exchange. The bounded result
    * materializes so the broadcast reclaims immediately (pqAdcTopK's
    * cleanup rule). */
  private[graft] def cosineServe(emb: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val qrows: graft.functions.expressions.CosineQuerySet = queries
      .select($"query_id", quantize($"q_emb").cast("array<bigint>").as("qv"))
      .filter($"qv".isNotNull)
      .collect()
      .flatMap { r =>
        // QuantizedCosine's null rule carried to the collect: a query
        // with a NULL component scores SQL-null against every neighbor
        // in the join form (never enters a top-k), so it is dropped here
        // rather than silently unboxing null to 0L — the qq == 0L skip's
        // sibling (ADVICE r13)
        val boxed = r.getSeq[java.lang.Long](1)
        if (boxed.exists(_ eq null)) None
        else {
          val qv = boxed.map(_.longValue).toArray
          Some((r.getLong(0), qv, qv.map(x => x * x).sum))
        }
      }
      .sortBy(_._1)
    val bc = s.sparkContext.broadcast(qrows)
    try {
      emb.agg(graft.functions.expressions
          .cosine_scan_topk(bc, k, $"vec_id", $"embedding").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.score")
        .orderBy($"query_id", $"rank")
        .localCheckpoint()
    } finally bc.destroy()
  }

  /** Q25 — brute-force cosine top-5 (brief's similarity-search baseline).
    * The 2%-sample query set is broadcast against the full corpus; scores
    * are exact-quantized so the DuckDB oracle reproduces them bitwise.
    */
  private val q25 = Q(
    fn = (s, d) => cosineTopK(s, d, isQuery, 5),
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), withn AS (
        SELECT vec_id, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM q
      ), scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                    i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS score
        FROM withn a JOIN withn b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
      ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** The 8×6 hyperplane sign table as a '0'/'1' literal for q26's DuckDB
    * oracle: char [(t·6+p)·64 + i] is '1' iff sign(t,p,i) = +1 — the
    * SAME splitmix bits [[graft.functions.expressions.HyperplaneSigs]]
    * uses, so the oracle replays the exact signatures from the literal
    * alone (the signs are pure index constants, no data dependence). */
  private val hyperSigns: String =
    Array.tabulate(48 * 64)(k =>
      if ((graft.functions.expressions.splitmix(k.toLong) & 1L) == 1L) '1'
      else '0').mkString

  /** Q26 — LSH-bucketed approximate nearest neighbors (brief's scale
    * path). 8 independent hash tables of 6 deterministic random
    * hyperplanes each (component signs from splitmix(table, plane, dim)
    * parity) give 64-bucket signatures; queries probe their bucket plus
    * all Hamming-1 neighbors in every table. Scoring and ranking reuse
    * Q25's exact quantized pipeline — the approximation is purely in
    * candidate pruning.
    *
    * Full hash oracle (round 8): projections accumulate over the
    * QUANTIZED components (floor(x·2²⁰), q25's quantizer) in exact long
    * arithmetic — order-free and engine-independent — and the sign
    * constants are embedded in the oracle as a 3072-char literal
    * ([[hyperSigns]]), so DuckDB reproduces signature, multiprobe
    * candidate set, exact scoring and ranking bit-for-bit. The
    * approximation (recall < 1 vs q25) is part of the replayed
    * semantics, not an excuse for a weaker check.
    *
    * This corpus is near-random (top-5 cosine ≈ 0.35), the hardest case
    * for LSH: per-plane collision ≈ 0.61, so one table recalls ~0.26 and
    * the 8-table union ~0.9 (asserted >= 0.6 in VectorOpsSpec). On real
    * clustered embeddings the same structure prunes far more sharply; the
    * L-times index blowup is the standard multi-table LSH trade.
    */
  private val q26 = Q(
    fn = (s, d) => {
      import s.implicits._
      val nPlanes = 6
      // All 48 hyperplane projections in one native fused multiply-add
      // pass per row (hyperplane_sigs kernel; signs are the shared
      // splitmix constants of (table, plane, dim)).
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding",
          graft.functions.expressions.hyperplane_sigs($"embedding").as("sigs"))
      // the serving request set, collected once (bounded by the %50
      // request convention): quantized components + norm + signatures
      // ride to every task in ONE broadcast. The old shape — posexplode
      // the corpus 8×, equi-join the broadcast probe table, `distinct`
      // the candidate pairs, two-stage window — shuffled candidate rows
      // and cost 2.2× the exact q25 scan at x100 (VERDICT r12 #4);
      // LshScanTopK is the same candidacy, scoring and selection with
      // zero joins and one ≤ nq·k partial per task through the exchange
      // (the PqScanTopK / MIH serving shape).
      val qrows: graft.functions.expressions.LshQuerySet = emb
        .filter(isQuery($"vec_id"))
        .select($"vec_id",
          quantize($"embedding").cast("array<bigint>").as("qv"), $"sigs")
        .collect()
        .flatMap { r =>
          // null-component queries drop, mirroring QuantizedCosine's
          // null rule (see cosineServe's collect)
          val boxed = r.getSeq[java.lang.Long](1)
          if (boxed.exists(_ eq null)) None
          else {
            val qv = boxed.map(_.longValue).toArray
            Some((r.getLong(0), qv, qv.map(x => x * x).sum,
              r.getSeq[Int](2).toArray))
          }
        }
        .sortBy(_._1)
      val bc = s.sparkContext.broadcast(qrows)
      try {
        emb.agg(graft.functions.expressions.lsh_scan_topk(bc, 5, nPlanes,
            $"vec_id", $"embedding", $"sigs").as("t"))
          .select(explode($"t").as("e"))
          .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.score")
          .orderBy($"query_id", $"rank")
          // materialize (nq·k rows) so the broadcast reclaims NOW
          // (pqAdcTopK's cleanup rule)
          .localCheckpoint()
      } finally bc.destroy()
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), dims AS (
        SELECT vec_id, unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos
        FROM q
      ), proj AS (
        SELECT vec_id, t.tp,
               SUM(CASE WHEN substr('$hyperSigns',
                                    t.tp * 64 + pos, 1) = '1'
                        THEN qx ELSE -qx END) AS acc
        FROM dims CROSS JOIN generate_series(0, 47) t(tp)
        GROUP BY vec_id, t.tp
      ), sigs AS (
        SELECT vec_id, tp // 6 AS tbl,
               CAST(SUM(CASE WHEN acc > 0 THEN (1 << (tp % 6)) ELSE 0 END) AS BIGINT) AS sig
        FROM proj GROUP BY vec_id, tp // 6
      ), cand AS (
        SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
        FROM sigs qs JOIN sigs cs ON qs.tbl = cs.tbl
          AND qs.vec_id % 50 = 0 AND qs.vec_id <> cs.vec_id
          AND cs.sig IN (qs.sig, xor(qs.sig, 1), xor(qs.sig, 2), xor(qs.sig, 4),
                         xor(qs.sig, 8), xor(qs.sig, 16), xor(qs.sig, 32))
      ), withn AS (
        SELECT vec_id, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM q
      ), scored AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                    i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS score
        FROM cand c JOIN withn a ON a.vec_id = c.query_id
                    JOIN withn b ON b.vec_id = c.neighbor_id
      ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q27 — per-label centroids (embedding aggregation at scale: posexplode
    * + partial map-side aggregation keeps the shuffle at 64 rows per label
    * per partition). Component sums are exact quantized ints; the single
    * division by (2^20 * n) is bit-identical across engines.
    */
  private val q27 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"label", posexplode(quantize($"embedding")).as(Seq("pos", "qx")))
        .groupBy($"label", $"pos")
        // sum LONGS, not the kernel's integer-valued doubles: a double sum
        // loses exactness past 2^53 per (label, pos) — inside the 100 TB
        // envelope — and becomes partial-agg-order-dependent (q66's hazard)
        .agg(count(lit(1)).as("n_vecs"), sum($"qx".cast("long")).as("qsum"))
        .select($"label", $"pos",
          $"n_vecs", ($"qsum".cast("double") / ($"n_vecs" * Scale)).as("centroid_c"))
        .orderBy($"label", $"pos")
    },
    oracle = Some("""
      SELECT label, CAST(pos - 1 AS INT) AS pos, COUNT(*) AS n_vecs,
             CAST(SUM(CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1048576.0) AS centroid_c
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)
      GROUP BY label, pos
      ORDER BY label, pos"""))

  /** Shared IVF coarse quantizer (Q38/Q39): per-label centroid vectors in
    * EMBEDDING space — exact quantized component means, descaled by 1/2^20
    * before they re-enter the quantizing kernel (leaving them at ~x*2^20
    * would quantize twice, components ~2^40, silently wrapping the int64
    * norm inside QuantizedCosine). (c_label, cvec array<double>); tiny
    * (|labels| rows) — callers broadcast it.
    */
  private def ivfCentroids(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"label", posexplode(quantize($"embedding")).as(Seq("pos", "qx")))
      .groupBy($"label", $"pos")
      // long sum for exactness past 2^53 component mass (q27's note)
      .agg((sum($"qx".cast("long")) / count(lit(1))).cast("double").as("c"))
      .groupBy($"label")
      .agg(map_from_entries(collect_list(struct($"pos", $"c"))).as("m"))
      .select($"label".as("c_label"),
        transform(sequence(lit(0), lit(63)),
          p => element_at($"m", p) / Scale).as("cvec"))
  }

  private def toF(c: Column): Column = transform(c, x => x.cast("float"))

  /** Argmax-cosine cell assignment of (vec_id, embedding, …) rows against
    * a centroid frame ([[ivfCentroids]] shape) — q38's exact expressions,
    * FACTORED so the stored corpus at index-build time and arriving
    * vectors at probe time ([[dedupVecAgainstIndex]]) assign identically.
    * The centroid table collapses into ONE broadcast row and each vector
    * argmaxes with an in-row comparator sort — map-side, no shuffle, no
    * window. Output: (vec_id, embedding, cell). */
  private[graft] def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val s = emb.sparkSession
    // collect + pre-quantize the (small: k <= 4096) centroid table once
    // and argmax in one scan-local kernel pass (CellArgmax) — the old
    // per-row array_sort(transform(...)) over a broadcast struct array
    // was plan-size-safe but paid interpreted-lambda struct churn per
    // (row x centroid): the dominant index-build/probe cost once the
    // r14 cap lift let k grow past 512 (q83 x1000). Scores, tie rule
    // and the quantize-to-float step are bit-identical (see CellArgmax).
    val labelType = centroids.schema("c_label").dataType
    val rows = centroids.select($"c_label".cast("long"), $"cvec").collect()
    val labels = rows.map(_.getLong(0))
    val q = rows.map { r =>
      // boxed read: a null cvec/component must NOT unbox to 0.0 (the
      // ADVICE r13 rule) — such a centroid scored null against every
      // row in the old fold, i.e. never won; dbb = 0 makes the kernel
      // skip it the same way
      val cv = if (r.isNullAt(1)) null
        else r.getSeq[java.lang.Double](1)
      if (cv == null || cv.exists(_ == null)) null
      else cv.toArray.map(d =>
        math.floor(d.doubleValue().toFloat.toDouble * 1048576.0).toLong)
    }
    val kept = labels.zip(q).filter(_._2 != null)
    val dbb = kept.map(_._2.foldLeft(0L)((acc, x) => acc + x * x))
    val bc = s.sparkContext.broadcast(
      new graft.functions.expressions.CellCents(
        kept.map(_._1), kept.map(_._2), dbb))
    emb.withColumn("cell",
      graft.functions.expressions.cell_argmax(bc, $"embedding")
        .cast(labelType))
      .select($"vec_id", $"embedding", $"cell")
  }

  /** k ∝ n cell-count rule for the blocked-quadratic family (q38 / q75
    * / q83 — the DEFAULT since round 8, via `graft.vec.ivfCells` /
    * `graft.vec.kmeansK` = "auto"): one
    * cell per `graft.vec.cellTarget` vectors — default 1536, the measured
    * x100 optimum (SCALE.md: pair work falls with cell size until the
    * n·k centroid-assignment cost overtakes it; at 200k vectors k = 128
    * beat both 64 and 256). Capped at 4096 (was 512 through r13, when
    * assignment was a k-branch typedlit fold whose PLAN grew with k;
    * since [[graft.functions.expressions.CentroidArgmin]] the table
    * rides one broadcast and only the k·d per-row loop grows, so the
    * cap is two decades higher — the r14 x1000 probe measured the old
    * cap putting q38 on a 14×-per-decade curve the moment cells
    * outgrew the target). Past 4096 (≈ 6M vectors per clustering
    * domain) a deployment should shard the corpus before clustering or
    * use a two-level quantizer — at that k the Lloyd refits themselves
    * (rounds · n · k · d) are the bottleneck, not the assignment. */
  private def autoCellCount(s: SparkSession, n: Long): Int = {
    val target = math.max(1L, s.conf.get("graft.vec.cellTarget", "1536").toLong)
    math.min(4096L, math.max(8L, (n + target - 1) / target)).toInt
  }

  /** Resolved cluster count for the Lloyd family (q74/q75/q87 and the
    * q38/q83 quantizers): `graft.vec.kmeansK` — DEFAULT "auto", the
    * measured scaled-k rule ([[autoCellCount]]), since round 8: SCALE.md
    * showed the old fixed default goes quadratic at x100 (24× growth)
    * while k ∝ n holds 10^0.8. A count pins k for experiments. k is a
    * pure function of the corpus size, so the DuckDB oracles reproduce
    * the "auto" resolution exactly (the `kk` CTE in
    * [[kmeansOracleCtes]]). */
  private def resolveKmeansK(s: SparkSession, n: => Long): Int = {
    val v = s.conf.get("graft.vec.kmeansK", "auto")
    if (v == "auto") autoCellCount(s, n) else v.toInt
  }

  /** Q38 — embedding-cosine near-duplicate pairs (brief's fifth dedup
    * method), blocked on a coarse-quantizer cell: by DEFAULT (since
    * round 8) the scaled-k Lloyd clustering ([[kmeansAssignCached]],
    * k = n/cellTarget — [[autoCellCount]]), so at 100 TB the block is a
    * data-driven cluster id whose COUNT grows with the corpus, not a
    * fixed-cardinality category whose members do. Candidate pairs are
    * generated only within a cell. Cells above
    * `graft.vec.maxCell` members (default 4096) are further sub-split by
    * a deterministic md5 hash of the id, capBucket-style, which bounds
    * any block's pair count at maxCell^2 no matter how skewed the
    * clustering gets; the truncated cross-cell/cross-sub candidates are
    * the standard blocking-recall trade (pinned in QueriesSpec).
    *
    * Cell assignment stays map-side (Lloyd's argmin over typedlit
    * centroids — no shuffle, no window); the only corpus shuffle is
    * the (cell, sub) equi-join for pair generation. Every stage (the
    * Lloyd rounds, md5 sub-split, exact quantized cosine >= 0.4,
    * top-100) is deterministic and mirrored in the oracle SQL —
    * including the k = f(n) resolution (the kk CTE) — so the blocking
    * structure itself is hash-verified at every SF.
    *
    * NOTE: the oracle pins the DEFAULT maxCell (4096) and cellTarget
    * (1536) — the session knobs exist for deployments and the scale
    * harness; CORRECTNESS runs must use the defaults (same contract as
    * q50's packing-group count).
    *
    * Measured (SCALE.md): with fixed cells wall-clock grew 24× at x100
    * (Σ|cell|² = O(n²/k)); the scaled-k default holds 10^0.8 across the
    * decade because k ∝ n keeps per-cell work constant — a
    * coarse-quantizer parameter, not a plan change; the maxCell
    * sub-split bounds the worst single block either way.
    */
  private val q38 = Q(
    fn = (s, d) => {
      import s.implicits._
      val maxCell = s.conf.get("graft.vec.maxCell", "4096").toInt
      val base = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"label", $"embedding")
      val assigned = s.conf.get("graft.vec.ivfCells", "auto") match {
        case "label" =>
          // legacy fixed-cardinality blocking (per-label centroid cells,
          // the pre-round-8 default): kept as an explicit opt-in for the
          // SCALE.md fixed-k vs scaled-k comparison rows — with a fixed
          // cell count, cell population grows linearly with the corpus
          // and Σ|cell|² goes quadratic (measured 24× at x100).
          assignCells(base, ivfCentroids(base))
        case v =>
          // DEFAULT "auto" (since round 8): a k-means coarse quantizer
          // whose cell count grows with the corpus — one cell per
          // ~cellTarget vectors, the measured x100 optimum (pair work
          // falls ~linearly in cell size until the n·k assignment cost
          // overtakes it, which the k=256 probe showed; 10^0.8 growth
          // vs 24× for fixed cells, SCALE.md). The oracle reproduces
          // the same k = f(n) rule, so the auto blocking is
          // hash-verified like every fixed shape.
          val k = if (v == "auto") autoCellCount(s, base.count()) else v.toInt
          kmeansAssignCached(s, d, k)
            .select($"vec_id", $"cluster".cast("int").as("cell"))
            .join(base.select($"vec_id", $"embedding"), Seq("vec_id"))
            .select($"vec_id", $"embedding", $"cell")
      }
      // scoped persist (q18's pattern): assigned feeds the cell-sizes agg
      // AND both self-join sides — without it the per-row argmax over all
      // centroids (the most expensive map stage) re-runs up to 4x
      val cached = assigned.persist()
      try {
        val subbed = subSplit(cached, "cell", maxCell)
          .select($"cell", $"sub", $"vec_id", $"embedding")
        val a = subbed.select($"cell", $"sub", $"vec_id".as("i"), $"embedding".as("e_i"))
        val b = subbed.select($"cell", $"sub", $"vec_id".as("j"), $"embedding".as("e_j"))
        a.join(b, Seq("cell", "sub")).filter($"i" < $"j")
          .select($"cell", $"i", $"j",
            graft.functions.expressions.quantized_cosine($"e_i", $"e_j").as("cos"))
          .filter($"cos" >= 0.4)
          .orderBy($"cos".desc, $"i", $"j")
          .limit(100)
          .localCheckpoint()
      } finally cached.unpersist()
    },
    oracle = Some(kmeansOracleCtes() + """,
      a3 AS (
        SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM d3
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      qn AS (
        SELECT vec_id, xq AS qv,
               list_sum(list_transform(generate_series(1, 64), i -> xq[i] * xq[i])) AS qq
        FROM q),
      sz AS (
        SELECT cell, COUNT(*) AS n FROM a3 GROUP BY cell
      ), sub AS (
        SELECT a.vec_id, a.cell,
               """ + subSplitSql + """ AS sub
        FROM a3 a JOIN sz s USING (cell)
      )
      SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  k -> x.qv[k] * y.qv[k])) AS DOUBLE)
               / (SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE))) AS cos
      FROM sub a
      JOIN sub b ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
      JOIN qn x ON x.vec_id = a.vec_id
      JOIN qn y ON y.vec_id = b.vec_id
      WHERE CAST(list_sum(list_transform(generate_series(1, 64),
                k -> x.qv[k] * y.qv[k])) AS DOUBLE)
              / (SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE))) >= 0.4
      ORDER BY cos DESC, i, j
      LIMIT 100"""))

  // ────────────────────────────────────────────────────────────────────
  // Incremental embedding-dedup against a persisted IVF index — q82's
  // vector sibling (SemDeDup's serving shape): index the stored corpus
  // once (centroids + cell-assigned vectors), then screen every arriving
  // vector batch against the index without re-assigning (or re-reading)
  // the stored side.

  /** The persisted embedding-dedup index: `centroids` (c_label, cvec —
    * the coarse quantizer, trained on the STORED corpus only so arriving
    * vectors assign against a frozen structure) and `vectors` (vec_id,
    * cell, embedding — the stored corpus with its cell assignment
    * precomputed). Same index-as-artifact pattern as [[savePqIndex]] /
    * `TextOps.MinHashIndex`. */
  private[graft] case class VecDedupIndex(centroids: DataFrame, vectors: DataFrame)

  /** Build a [[VecDedupIndex]] over a stored corpus (vec_id, label,
    * embedding): coarse-quantizer centroids + argmax-cosine cell
    * assignment ([[assignCells]] — q38's exact expressions).
    *
    * Quantizer choice = q38's lever, and here it is NOT optional at
    * scale: the probe's in-cell bipartite join does Σ|stored cell| ×
    * |arriving in cell| work, so with a FIXED cell count both factors
    * grow linearly and the probe goes quadratic — measured 12.5× wall
    * for 10× data at x100 (SCALE.md round 7). `graft.vec.ivfCells`
    * ("auto" = n/`cellTarget`, the DEFAULT since round 8, or a pinned
    * count) trains k-means cells whose count grows with the corpus;
    * "label" opts back into the legacy fixed-cardinality frame. Any
    * frozen centroid frame is a valid quantizer because BOTH build and
    * probe assign through the same [[assignCells]]; the oracle
    * reproduces the auto training (k = f(stored n)), so the default
    * shape is hash-verified at every SF. */
  private[graft] def buildVecDedupIndex(emb: DataFrame): VecDedupIndex = {
    import emb.sparkSession.implicits._
    val s = emb.sparkSession
    val cents = s.conf.get("graft.vec.ivfCells", "auto") match {
      case "label" => ivfCentroids(emb) // legacy fixed-cardinality cells
      case v =>
        // DEFAULT "auto" (since round 8): k ∝ stored-corpus size, the
        // measured fix for the probe's quadratic (12.5× wall at x100
        // with fixed cells, SCALE.md round 7); mirrored by the oracle
        val k = if (v == "auto") autoCellCount(s, emb.count()) else v.toInt
        kmeansCentroidFrame(emb, k)
    }
    VecDedupIndex(cents,
      assignCells(emb.select($"vec_id", $"embedding"), cents))
  }

  /** K-means clusters of `emb` (vec_id, …, embedding) as an
    * [[ivfCentroids]]-shaped frame (c_label = cluster id, cvec =
    * per-cluster component means in embedding space): Lloyd assignment
    * ([[kmeansAssignVectors]]) picks the membership, then one posexplode
    * partial-agg computes the means — ivfCentroids' math with the
    * cluster id standing in for the label. Materialized (k rows). */
  private def kmeansCentroidFrame(emb: DataFrame, k: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val assign = kmeansAssignVectors(emb.select($"vec_id", $"embedding"), k)
      .select($"vec_id", $"cluster")
    assign.join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
      .select($"cluster", posexplode(quantize($"embedding")).as(Seq("pos", "qx")))
      .groupBy($"cluster", $"pos")
      // long sum for exactness past 2^53 component mass (q27's note)
      .agg((sum($"qx".cast("long")) / count(lit(1))).cast("double").as("c"))
      .groupBy($"cluster")
      .agg(map_from_entries(collect_list(struct($"pos", $"c"))).as("m"))
      .select($"cluster".cast("int").as("c_label"),
        transform(sequence(lit(0), lit(63)),
          p => element_at($"m", p) / Scale).as("cvec"))
      .localCheckpoint()
  }

  private[graft] def saveVecDedupIndex(idx: VecDedupIndex, path: String): Unit = {
    idx.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    idx.vectors.write.mode("overwrite").parquet(s"$path/vectors")
  }

  private[graft] def loadVecDedupIndex(s: SparkSession, path: String): VecDedupIndex =
    VecDedupIndex(
      centroids = Tables.parquet(s, s"$path/centroids"),
      vectors = Tables.parquet(s, s"$path/vectors"))

  /** Index maintenance (q82's admission loop, vector side): append
    * ACCEPTED arriving vectors to the persisted artifact — they are
    * assigned with the FROZEN stored-corpus centroids (the standard IVF
    * serving contract: the quantizer retrains on rebuild, not per
    * append), so an append is one parquet append of snapshot-sized rows
    * and the appended artifact equals assigning those rows at build time
    * against the same centroids (QueriesSpec pins it). */
  private[graft] def appendToVecDedupIndex(newVecs: DataFrame, path: String): Unit = {
    val s = newVecs.sparkSession
    import s.implicits._
    assignCells(newVecs.select($"vec_id", $"embedding"),
        loadVecDedupIndex(s, path).centroids)
      .select($"vec_id", $"cell", $"embedding")
      .write.mode("append").parquet(s"$path/vectors")
  }

  /** Takedown half of the vector-index maintenance
    * ([[graft.queries.TextOps.removeFromMinHashIndex]]'s rule): cell
    * assignment is per-vector under the FROZEN quantizer, so removal is
    * one vec_id anti-join on the vectors table; the centroids — trained
    * state, not membership — are untouched, exactly as appends leave
    * them. Pruned index == rebuild-assignment over the survivors
    * against the same frozen centroids (QueriesSpec). */
  private[graft] def removeFromVecDedupIndex(idx: VecDedupIndex,
      removeIds: DataFrame): VecDedupIndex = {
    import removeIds.sparkSession.implicits._
    VecDedupIndex(idx.centroids,
      idx.vectors.join(removeIds.select($"vec_id"), Seq("vec_id"), "left_anti"))
  }

  /** Screen ARRIVING vectors (vec_id, embedding) against a
    * [[VecDedupIndex]]: emit (new_vec_id, old_vec_id, cos) for every
    * stored vector in the arriving vector's cell with exact quantized
    * cosine ≥ minCos — SemDeDup's within-cluster domination test, served
    * incrementally. Scale shape: arriving vectors assign map-side
    * against the broadcast centroids and ride as the BROADCAST side of
    * the cell equi-join, so the stored vectors table is only ever
    * scanned in place — no corpus shuffle at any index size, cost ∝
    * batch size × matched-cell population. Cross-cell near-dups are the
    * standard blocking-recall trade (q38's contract); the oracle mirrors
    * the blocking, so the structure itself is hash-verified. */
  private[graft] def dedupVecAgainstIndex(newVecs: DataFrame, idx: VecDedupIndex,
      minCos: Double = 0.4): DataFrame = {
    import newVecs.sparkSession.implicits._
    val assigned = assignCells(newVecs.select($"vec_id", $"embedding"), idx.centroids)
    broadcast(assigned
        .select($"vec_id".as("new_vec_id"), $"embedding".as("e_new"), $"cell"))
      .join(idx.vectors.select($"vec_id".as("old_vec_id"),
        $"embedding".as("e_old"), $"cell"), Seq("cell"))
      .select($"new_vec_id", $"old_vec_id",
        graft.functions.expressions.quantized_cosine($"e_new", $"e_old").as("cos"))
      .filter($"cos" >= minCos)
      .orderBy($"new_vec_id", $"old_vec_id")
      .localCheckpoint()
  }

  /** q83's index over the stored split of dataset `d`, through the
    * per-JVM [[IndexCache]] (pqTrainCached's pattern): the stored corpus
    * is indexed ONCE per (dataset, quantizer config) and every later
    * run — bench sweeps, dev reps, the streaming twin — pays only the
    * probe, which is the actual per-snapshot serving cost. The quantizer
    * conf is part of the key: a run that switches `graft.vec.ivfCells`
    * gets its own artifact, never a structurally different one. */
  private[graft] def vecDedupIndexCached(s: SparkSession, d: String): VecDedupIndex = {
    import s.implicits._
    // the FULL quantizer conf keys the artifact: under "auto" the resolved
    // k also depends on graft.vec.cellTarget, so a run that changes the
    // target must get its own index, never a structurally stale one
    val cells = s.conf.get("graft.vec.ivfCells", "auto")
    val cellKey = if (cells == "auto")
      s"auto@${s.conf.get("graft.vec.cellTarget", "1536")}" else cells
    loadVecDedupIndex(s, IndexCache.artifact("vecdedup", d, cellKey) { p =>
      val stored = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"label", $"embedding")
        .filter($"vec_id" % 10 < 8)
      saveVecDedupIndex(buildVecDedupIndex(stored), p)
    })
  }

  /** The frozen-quantizer IVF cell assignment over ALL embeddings, as
    * oracle CTEs appended after [[kmeansOracleCtes]] — ends with `asg`
    * (vec_id, cell) and `qn` (vec_id, qv, qq). Shared by q83's oracle
    * and the composed admission-pipeline oracle
    * ([[graft.queries.Admission]]) so both replay the SAME assignment. */
  private[queries] val ivfAssignCtes: String = """,
      a3 AS (
        SELECT vec_id, xq, cid AS cluster FROM d3
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      cm AS (
        SELECT a3.cluster, t.d AS pos,
               CAST(SUM(xq[t.d]) AS DOUBLE) / COUNT(*) AS c
        FROM a3 CROSS JOIN generate_series(1, 64) t(d)
        GROUP BY a3.cluster, t.d
      ), cn AS (
        SELECT c_label, cqv,
               list_sum(list_transform(generate_series(1, 64), i -> cqv[i] * cqv[i])) AS cc
        FROM (
          SELECT cluster AS c_label,
                 list(CAST(FLOOR(CAST(CAST(c / 1048576.0 AS FLOAT) AS DOUBLE) * 1048576.0) AS BIGINT)
                      ORDER BY pos) AS cqv
          FROM cm GROUP BY cluster)
      ), qv AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), qn AS (
        SELECT vec_id, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM qv
      ), asg AS (
        SELECT vec_id, cell FROM (
          SELECT n.vec_id, c.c_label AS cell,
                 ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(n.qv)),
                        i -> n.qv[i] * c.cqv[i])) AS DOUBLE)
                     / (SQRT(CAST(n.qq AS DOUBLE)) * SQRT(CAST(c.cc AS DOUBLE))) DESC,
                   c.c_label) AS rn
          FROM qn n CROSS JOIN cn c
        ) WHERE rn = 1
      )"""

  /** Q83 — incremental embedding-dedup: index the stored 80% of the
    * corpus (vec_id % 10 < 8 — q82's snapshot rule on the vector side,
    * built once per JVM via [[vecDedupIndexCached]]), then screen the
    * arriving 20% via [[dedupVecAgainstIndex]]. The oracle reproduces
    * the WHOLE structure — stored-only centroid training, both sides'
    * argmax assignment, the bipartite in-cell join, exact quantized
    * cosine ≥ 0.4 — so candidate blocking and scoring are hash-checked,
    * q38's contract carried to the incremental form. The streaming twin
    * ([[graft.streaming.Pipeline.runIncrementalVecDedupStream]]) loads
    * the same artifact and screens micro-batches with the same function.
    */
  private val q83 = Q(
    fn = (s, d) => {
      import s.implicits._
      val all = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"label", $"embedding")
      val idx = vecDedupIndexCached(s, d)
      dedupVecAgainstIndex(all.filter($"vec_id" % 10 >= 8), idx)
    },
    oracle = Some(kmeansOracleCtes("WHERE vec_id % 10 < 8") + ivfAssignCtes + """
      SELECT a.vec_id AS new_vec_id, b.vec_id AS old_vec_id,
             CAST(list_sum(list_transform(generate_series(1, len(x.qv)),
                  k -> x.qv[k] * y.qv[k])) AS DOUBLE)
               / (SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE))) AS cos
      FROM asg a
      JOIN asg b ON a.cell = b.cell AND a.vec_id % 10 >= 8 AND b.vec_id % 10 < 8
      JOIN qn x ON x.vec_id = a.vec_id
      JOIN qn y ON y.vec_id = b.vec_id
      WHERE CAST(list_sum(list_transform(generate_series(1, len(x.qv)),
                k -> x.qv[k] * y.qv[k])) AS DOUBLE)
              / (SQRT(CAST(x.qq AS DOUBLE)) * SQRT(CAST(y.qq AS DOUBLE))) >= 0.4
      ORDER BY new_vec_id, old_vec_id"""))

  /** Q39 — IVF-style approximate nearest neighbors (brief's "IVF
    * variant"): per-label centroids (Q27's aggregation) act as the coarse
    * quantizer; every vector lives in its own label's cell, queries probe
    * the 3 nearest cells by exact centroid distance, and only those
    * cells' members are scored with the exact quantized cosine. The
    * centroid table is tiny and broadcast twice (assignment + probe).
    * Unlike the LSH/SimHash family there is no engine-specific hashing
    * anywhere in this pipeline — centroid averages are exact integer
    * sums, the float cast is IEEE round-to-nearest on both engines, and
    * probe selection and scoring are the q25 quantized arithmetic — so
    * the whole IVF structure is reproduced in SQL and hash-verified,
    * not just rows-checked. Recall vs Q25 additionally pinned in specs.
    */
  private val q39 = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"label", $"embedding")
      val centroids = broadcast(ivfCentroids(emb))
      // probe cells: 3 nearest centroids per query by exact quantized
      // cosine over the centroid vector (float-cast for the kernel);
      // nq×|cells| rows — stays in-plan, collects bounded
      val queries = emb.filter(isQuery($"vec_id"))
        .crossJoin(centroids)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"c_label",
          graft.functions.expressions.quantized_cosine($"embedding", toF($"cvec")).as("csim"))
      val probeW = Window.partitionBy($"query_id").orderBy($"csim".desc, $"c_label")
      // serve SCAN-LOCAL (VERDICT r13 #1; [[graft.functions.expressions
      // .IvfScanTopK]]): the old `emb.join(probes, "label")` materialized
      // one row per (corpus vector × query probing its cell) into the
      // exchange before the window top-k — at the x100 replay the
      // approximate path cost 5.7× the exact CosineScanTopK scan. The
      // per-query probe-cell sets now ride in the ONE broadcast with the
      // quantized components; candidacy (cell membership, ≤3 distinct
      // cells per query, self-pair exclusion), scoring and (score desc,
      // neighbor_id) selection are identical, oracle unchanged.
      val qrows: graft.functions.expressions.IvfQuerySet = queries
        .withColumn("pr", row_number().over(probeW))
        .filter($"pr" <= 3)
        .groupBy($"query_id")
        .agg(sort_array(collect_list($"c_label")).as("cells"),
          first($"q_emb").as("q_emb"))
        .select($"query_id", quantize($"q_emb").cast("array<bigint>").as("qv"),
          $"cells")
        .collect()
        .flatMap { r =>
          // null-component queries drop, mirroring QuantizedCosine's
          // null rule (see cosineServe's collect)
          val boxed = r.getSeq[java.lang.Long](1)
          if (boxed.exists(_ eq null)) None
          else {
            val qv = boxed.map(_.longValue).toArray
            Some((r.getLong(0), qv, qv.map(x => x * x).sum,
              r.getSeq[Int](2).toArray))
          }
        }
        .sortBy(_._1)
      val bc = s.sparkContext.broadcast(qrows)
      try {
        emb.agg(graft.functions.expressions
            .ivf_scan_topk(bc, 5, $"vec_id", $"label", $"embedding").as("t"))
          .select(explode($"t").as("e"))
          .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.score")
          .orderBy($"query_id", $"rank")
          // materialize (nq·k rows) so the broadcast reclaims NOW
          // (pqAdcTopK's cleanup rule)
          .localCheckpoint()
      } finally bc.destroy()
    },
    oracle = Some("""
      WITH qv AS (
        SELECT vec_id, label, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), qn AS (
        SELECT vec_id, label, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM qv
      ), cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS c
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)
        GROUP BY label, pos
      ), cn AS (
        SELECT c_label, cqv,
               list_sum(list_transform(generate_series(1, len(cqv)), i -> cqv[i] * cqv[i])) AS cc
        FROM (
          SELECT label AS c_label,
                 list(CAST(FLOOR(CAST(CAST(c / 1048576.0 AS FLOAT) AS DOUBLE) * 1048576.0) AS BIGINT)
                      ORDER BY pos) AS cqv
          FROM cent GROUP BY label)
      ), probes AS (
        SELECT query_id, label FROM (
          SELECT q.vec_id AS query_id, c.c_label AS label,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> q.qv[i] * c.cqv[i])) AS DOUBLE)
                     / (SQRT(CAST(q.qq AS DOUBLE)) * SQRT(CAST(c.cc AS DOUBLE))) DESC,
                   c.c_label) AS pr
          FROM qn q CROSS JOIN cn c
          WHERE q.vec_id % 50 = 0
        ) WHERE pr <= 3
      ), scored AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(s.qv)),
                    i -> s.qv[i] * e.qv[i])) AS DOUBLE)
                 / (SQRT(CAST(s.qq AS DOUBLE)) * SQRT(CAST(e.qq AS DOUBLE))) AS score
        FROM probes p
        JOIN qn e ON e.label = p.label
        JOIN qn s ON s.vec_id = p.query_id
        WHERE e.vec_id <> p.query_id
      ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q104 — ANN index-quality audit: per-query recall@5 of the IVF
    * pipeline (q39) against exact brute-force KNN (q25), emitted as a
    * first-class monitored quantity. This is the production health check
    * for an approximate index: recall degrades silently as the corpus
    * drifts away from the cell structure it was blocked under, and the
    * right response to a q81 embedding-drift alarm is exactly this
    * measurement — "is the index still good where my queries live?" —
    * run on a query SAMPLE, not the corpus (the audit costs one exact
    * top-k over the sampled queries, which is the bounded brute-force
    * leg q25 already implements).
    *
    * Both legs are the EXISTING hash-verified pipelines, so the audit's
    * own DuckDB oracle is their composition: the exact top-5 left-joined
    * to the IVF top-5 on (query, neighbor), hits counted per query.
    * recall = n_hit/5.0 is one IEEE division over identical small
    * integers — bit-identical across engines.
    */
  private val q104 = Q(
    fn = (s, d) => {
      import s.implicits._
      val exact = cosineTopK(s, d, isQuery, 5)
        .select($"query_id", $"neighbor_id")
      val ann = q39.fn(s, d)
        .select($"query_id", $"neighbor_id", lit(1).as("hit"))
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy($"query_id")
        .agg(sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select($"query_id", $"n_hit",
          ($"n_hit".cast("double") / 5.0).as("recall_at_5"))
        .orderBy($"query_id")
    },
    oracle = Some("""
      WITH qv AS (
        SELECT vec_id, label, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), qn AS (
        SELECT vec_id, label, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM qv
      ), exact_ranked AS (
        SELECT query_id, neighbor_id FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                        i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                     / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) DESC,
                   b.vec_id) AS rank
          FROM qn a JOIN qn b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
        ) WHERE rank <= 5
      ), cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS c
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)
        GROUP BY label, pos
      ), cn AS (
        SELECT c_label, cqv,
               list_sum(list_transform(generate_series(1, len(cqv)), i -> cqv[i] * cqv[i])) AS cc
        FROM (
          SELECT label AS c_label,
                 list(CAST(FLOOR(CAST(CAST(c / 1048576.0 AS FLOAT) AS DOUBLE) * 1048576.0) AS BIGINT)
                      ORDER BY pos) AS cqv
          FROM cent GROUP BY label)
      ), probes AS (
        SELECT query_id, label FROM (
          SELECT q.vec_id AS query_id, c.c_label AS label,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> q.qv[i] * c.cqv[i])) AS DOUBLE)
                     / (SQRT(CAST(q.qq AS DOUBLE)) * SQRT(CAST(c.cc AS DOUBLE))) DESC,
                   c.c_label) AS pr
          FROM qn q CROSS JOIN cn c
          WHERE q.vec_id % 50 = 0
        ) WHERE pr <= 3
      ), ivf_ranked AS (
        SELECT query_id, neighbor_id FROM (
          SELECT p.query_id, e.vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(s.qv)),
                        i -> s.qv[i] * e.qv[i])) AS DOUBLE)
                     / (SQRT(CAST(s.qq AS DOUBLE)) * SQRT(CAST(e.qq AS DOUBLE))) DESC,
                   e.vec_id) AS rank
          FROM probes p
          JOIN qn e ON e.label = p.label
          JOIN qn s ON s.vec_id = p.query_id
          WHERE e.vec_id <> p.query_id
        ) WHERE rank <= 5
      )
      SELECT e.query_id,
             CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hit,
             CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
      FROM exact_ranked e
      LEFT JOIN ivf_ranked i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
      ORDER BY e.query_id"""))

  /** Q66 — per-dimension corpus statistics of the embedding column
    * (count, mean, standard deviation), the inputs to whitening /
    * z-normalization before ANN indexing and to embedding-drift
    * monitoring between corpus snapshots.
    *
    * Cross-engine exactness, same recipe as q27: components are floor-
    * quantized to 2^20 ints and Σq is an exact LONG sum (quantize_vec
    * emits integral doubles; summing the raw doubles would start
    * rounding past 2^53, i.e. ~8.6·10⁹ vectors per dimension — the long
    * sum is exact to 9.2·10¹⁸ and ANSI raises beyond). Variance uses the
    * integer identity n·Σq² − (Σq)² in decimal(38,0) (both (Σq)² and n²
    * overflow int64 inside the 100 TB envelope), then divides and takes
    * one sqrt — correctly-rounded IEEE ops over identical integers, so
    * the doubles are bit-identical to the oracle's (whose big-int →
    * double conversions go through the VARCHAR bridge; decSum note).
    * Scale shape: one map-side-combined hash aggregate on a 64-value
    * key; the explode is the same one every scan already pays.
    */
  private val q66 = Q(
    fn = (s, d) => {
      import s.implicits._
      val dec = "decimal(38,0)"
      Tables.embeddings(s, d)
        .select(posexplode(quantize($"embedding")).as(Seq("pos", "qx")))
        .groupBy($"pos")
        .agg(count(lit(1)).as("n"), sum($"qx".cast("long")).as("sq"),
          sum($"qx".cast(dec) * $"qx".cast(dec)).as("sq2"))
        .select($"pos", $"n".as("n_vecs"),
          ($"sq".cast("double") / ($"n".cast("double") * Scale)).as("mean_c"),
          (sqrt(($"n".cast(dec) * $"sq2" - $"sq".cast(dec) * $"sq".cast(dec))
              .cast("double") /
            ($"n".cast(dec) * $"n".cast(dec)).cast("double")) / Scale).as("std_c"))
        .orderBy($"pos")
    },
    oracle = Some("""
      WITH q AS (
        SELECT pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT) AS qx
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)),
      a AS (
        SELECT pos, COUNT(*) AS n, SUM(qx) AS sq,
               SUM(CAST(qx AS HUGEINT) * qx) AS sq2
        FROM q GROUP BY pos)
      SELECT CAST(pos - 1 AS INT) AS pos,
             CAST(n AS BIGINT) AS n_vecs,
             CAST(CAST(sq AS VARCHAR) AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS mean_c,
             sqrt(CAST(CAST(n * sq2 - CAST(sq AS HUGEINT) * sq AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(CAST(n AS HUGEINT) * n AS VARCHAR) AS DOUBLE)) / 1048576.0 AS std_c
      FROM a
      ORDER BY pos"""))

  /** Q81 — embedding drift between snapshots: q80's token-drift question
    * asked of the VECTOR side (did the embedding distribution move
    * between corpus snapshots — a model/encoder change, a domain shift,
    * a broken preprocessing step all show up here first). Snapshots are
    * the deterministic vec_id-parity halves (same stand-in convention as
    * q80); per dimension, both snapshot means and the absolute mean
    * shift, largest shift first.
    *
    * Exactness is q66's recipe: component sums are exact longs over
    * quantized ints; each mean is one correctly-rounded double division
    * and the shift one IEEE subtraction — bit-identical to the oracle
    * (whose big-int→double conversions take the VARCHAR bridge).
    * Scale shape: one map-side-combined hash aggregate on a 64-value
    * key — the same single pass q66 pays, now carrying two conditional
    * sums.
    */
  private val q81 = Q(
    fn = (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select(($"vec_id" % 2).as("snap"),
          posexplode(quantize($"embedding")).as(Seq("pos", "qx")))
        .groupBy($"pos")
        .agg(
          sum(when($"snap" === 0, 1L).otherwise(0L)).as("n0"),
          sum(when($"snap" === 1, 1L).otherwise(0L)).as("n1"),
          sum(when($"snap" === 0, $"qx".cast("long")).otherwise(0L)).as("s0"),
          sum(when($"snap" === 1, $"qx".cast("long")).otherwise(0L)).as("s1"))
        .select($"pos", $"n0", $"n1",
          ($"s0".cast("double") / ($"n0".cast("double") * Scale)).as("mean0"),
          ($"s1".cast("double") / ($"n1".cast("double") * Scale)).as("mean1"))
        .withColumn("mean_shift", abs($"mean0" - $"mean1"))
        .orderBy($"mean_shift".desc, $"pos")
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id % 2 AS snap, pos,
               CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT) AS qx
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)),
      a AS (
        SELECT pos,
               CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               SUM(CASE WHEN snap = 0 THEN qx ELSE 0 END) AS s0,
               SUM(CASE WHEN snap = 1 THEN qx ELSE 0 END) AS s1
        FROM q GROUP BY pos)
      SELECT CAST(pos - 1 AS INT) AS pos, n0, n1,
             CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / (CAST(n0 AS DOUBLE) * 1048576.0) AS mean0,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1048576.0) AS mean1,
             ABS(CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / (CAST(n0 AS DOUBLE) * 1048576.0)
               - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1048576.0)) AS mean_shift
      FROM a
      ORDER BY mean_shift DESC, pos"""))

  /** q38/q75's shared deterministic block sub-split: blocks of `blockCol`
    * over `maxCell` members split into ceil(size/maxCell) sub-blocks by
    * md5(vec_id) — ONE definition of the blocking rule (hash width,
    * ceil-div) so the two dedup queries can never silently diverge; the
    * SQL twin is [[subSplitSql]]. Adds `sub` (and the broadcast size
    * join) to `df`, which must carry `vec_id` and `blockCol`. */
  private def subSplit(df: DataFrame, blockCol: String, maxCell: Int): DataFrame = {
    import df.sparkSession.implicits._
    val sizes = df.groupBy(col(blockCol)).agg(count(lit(1)).as("cn"))
    df.join(broadcast(sizes), Seq(blockCol))
      .withColumn("nsubs", floor(($"cn" + lit(maxCell - 1)) / lit(maxCell.toDouble)))
      .withColumn("sub",
        conv(substring(md5($"vec_id".cast("string")), 1, 8), 16, 10).cast("long") % $"nsubs")
  }

  /** DuckDB twin of [[subSplit]] at the DEFAULT cap (4096 — the pinned
    * oracle contract): emits the `% CAST(FLOOR((n + 4095) / 4096.0) AS
    * BIGINT)` sub expression for a row aliased `a` joined to a size
    * table aliased `s`. */
  private def subSplitSql: String =
    """CAST(concat('0x', substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % CAST(FLOOR((s.n + 4095) / 4096.0) AS BIGINT)"""

  /** The k-means oracle pipeline (quantize, scaled-k seed, two
    * assign/recenter rounds, final distances) shared VERBATIM by q74's,
    * q75's, q38's and q83's oracles — one source of truth so they can
    * never silently validate against different clusterings. `where`
    * restricts the TRAINING corpus (q83 trains on the stored split
    * only). Ends at CTE `d3` (vec_id, xq, cid, dist); callers append
    * their projection.
    *
    * k is the `kk` CTE — [[autoCellCount]]'s exact rule
    * (min(4096, max(8, ceil(n/1536)))) over the training rows, so the
    * oracle follows the scaled-k default at EVERY scale factor; like
    * q38's maxCell, the oracle pins the default `cellTarget` (1536) and
    * CORRECTNESS runs must use it. */
  private[queries] def kmeansOracleCtes(where: String = ""): String = """
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xq
        FROM embeddings """ + where + """),
      kk AS (
        SELECT LEAST(4096, GREATEST(8, (COUNT(*) + 1535) // 1536)) AS k FROM q),
      init AS (
        SELECT cid, c FROM (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, xq AS c
          FROM q) t CROSS JOIN kk WHERE t.cid < kk.k),
      d1 AS (
        SELECT q.vec_id, q.xq, i.cid,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 t -> (q.xq[t] - i.c[t]) * (q.xq[t] - i.c[t]))) AS BIGINT) AS dist
        FROM q CROSS JOIN init i),
      a1 AS (
        SELECT vec_id, xq, cid, dist FROM d1
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      m1 AS (
        SELECT a1.cid, t.d, SUM(xq[t.d]) // COUNT(*) AS m
        FROM a1 CROSS JOIN generate_series(1, 64) t(d)
        GROUP BY a1.cid, t.d),
      c1 AS (
        SELECT i.cid, COALESCE(mm.c, i.c) AS c
        FROM init i LEFT JOIN (
          SELECT cid, list(m ORDER BY d) AS c FROM m1 GROUP BY cid) mm
          ON i.cid = mm.cid),
      d2 AS (
        SELECT q.vec_id, q.xq, c1.cid,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 t -> (q.xq[t] - c1.c[t]) * (q.xq[t] - c1.c[t]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c1),
      a2 AS (
        SELECT vec_id, xq, cid, dist FROM d2
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      m2 AS (
        SELECT a2.cid, t.d, SUM(xq[t.d]) // COUNT(*) AS m
        FROM a2 CROSS JOIN generate_series(1, 64) t(d)
        GROUP BY a2.cid, t.d),
      c2 AS (
        SELECT c1.cid, COALESCE(mm.c, c1.c) AS c
        FROM c1 LEFT JOIN (
          SELECT cid, list(m ORDER BY d) AS c FROM m2 GROUP BY cid) mm
          ON c1.cid = mm.cid),
      d3 AS (
        SELECT q.vec_id, q.xq, c2.cid,
               CAST(list_sum(list_transform(generate_series(1, 64),
                 t -> (q.xq[t] - c2.c[t]) * (q.xq[t] - c2.c[t]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c2)"""

  /** Reusable Lloyd core (q74 reports it, q75 dedups within its
    * clusters): returns the MATERIALIZED final assignment
    * `(vec_id, cluster, dist)` — localCheckpoint'd before the scoped
    * persist releases, so callers compose it freely. */
  private[queries] def kmeansAssign(s: SparkSession, d: String,
      k: Int = 8, rounds: Int = 2): org.apache.spark.sql.DataFrame =
    kmeansAssignVectors(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), k, rounds)

  /** [[kmeansAssign]] persisted once per JVM via [[IndexCache]]
    * (pqTrainCached's pattern): q74, q75 and q87 all consume the SAME
    * deterministic clustering, so the Lloyd rounds (2 driver-bounded
    * collect passes over the corpus) run once and every later consumer
    * pays one artifact read. (k, rounds) are part of the key — q75's
    * scaled-k runs never alias the default clustering. */
  private[queries] def kmeansAssignCached(s: SparkSession, d: String,
      k: Int = 8, rounds: Int = 2): org.apache.spark.sql.DataFrame =
    kmeansFitCached(s, d, k, rounds)._1

  /** The cached Lloyd fit WITH its final centroid vectors: the artifact
    * persists both tables, so a consumer that needs distances to every
    * centroid (q128's silhouette) shares the SAME fit q74/q75/q87 read —
    * never a replay-equal-by-determinism second training run. */
  private[queries] def kmeansFitCached(s: SparkSession, d: String,
      k: Int = 8, rounds: Int = 2): (DataFrame, Seq[Array[Long]]) = {
    val root = IndexCache.artifact("kmeans", d, k, rounds) { p =>
      import s.implicits._
      val (assign, cents) = kmeansFit(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), k, rounds)
      assign.write.mode("overwrite").parquet(s"$p/assign")
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
        .toDF("cid", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$p/cents")
    }
    val cents = Tables.parquet(s, s"$root/cents").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Long](1).toArray).toSeq
    (Tables.parquet(s, s"$root/assign"), cents)
  }

  /** [[kmeansAssign]]'s core over an arbitrary (vec_id, embedding) frame
    * — identical recipe, so q74's oracle contract carries; callers that
    * cluster a SUBSET (e.g. [[buildVecDedupIndex]]'s stored split) go
    * through here. */
  private[queries] def kmeansAssignVectors(embRaw: DataFrame,
      k: Int = 8, rounds: Int = 2): org.apache.spark.sql.DataFrame =
    kmeansFit(embRaw, k, rounds)._1

  /** [[kmeansAssignVectors]] plus the FINAL centroid vectors (the ones
    * the returned assignment was scored against) — q128's silhouette
    * needs per-point distances to every centroid, not just the
    * assigned one. */
  private[queries] def kmeansFit(embRaw: DataFrame,
      k: Int = 8, rounds: Int = 2): (DataFrame, Seq[Array[Long]]) = {
    val s = embRaw.sparkSession
    import s.implicits._
    val emb = embRaw
      // QuantizeVec emits integral doubles (floor semantics); the long
      // cast is exact and keeps every distance in pure long arithmetic
      .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq"))
      .persist()
    try {
      var cents: Seq[Array[Long]] = emb.orderBy($"vec_id").limit(k)
        .select($"xq").collect().toSeq
        .map(_.getSeq[Long](0).toArray)
      // `act` runs an action over the assignment to the current
      // centroids; the round's broadcast is released once it returns
      def withAssigned[T](act: DataFrame => T): T = {
        // one broadcast + one scan-local k·d loop per row (CentroidArgmin)
        // instead of a k-branch least(struct(sq_dist, cid)) fold — the
        // fold's PLAN grew with k, which is what capped the scaled-k rule
        // at 512 cells (and with it the whole blocked family) until r14;
        // bit-identical output (tie → smallest cid, null → (null, 0))
        val bc = s.sparkContext.broadcast(cents.map(_.clone()).toArray)
        try act(emb.withColumn("a",
            graft.functions.expressions.centroid_argmin(bc, $"xq"))
          .select($"vec_id", $"xq",
            $"a.cid".cast("long").as("cluster"), $"a.dist".as("dist")))
        finally bc.destroy()
      }
      for (_ <- 1 to rounds) {
        val sums = withAssigned(_
          .select($"cluster", posexplode($"xq").as(Seq("pos", "qx")))
          .groupBy($"cluster", $"pos")
          .agg(sum($"qx").as("s"), count(lit(1)).as("n"))
          .collect())
        val byCluster = sums.groupBy(_.getLong(0).toInt)
        cents = cents.zipWithIndex.map { case (old, i) =>
          byCluster.get(i).fold(old) { rows =>
            val next = new Array[Long](old.length)
            rows.foreach { r =>
              next(r.getInt(1)) = r.getLong(2) / r.getLong(3)
            }
            next
          }
        }
      }
      (withAssigned(_.select($"vec_id", $"cluster", $"dist").localCheckpoint()), cents)
    } finally emb.unpersist()
  }

  /** Q74 — distributed k-means (Lloyd's algorithm, k=8, two recenter
    * rounds) over the embeddings — the clustering primitive behind
    * SemDeDup-style semantic curation (Abbas et al. 2023: cluster, then
    * dedup within clusters — q38's within-cell near-dup is the second
    * half; this is the first). Every quantity is EXACT INTEGER math, so
    * an iterative ML algorithm still gets a bit-exact DuckDB oracle:
    *
    *  - components quantized to int64 (the q25/q39 QuantizeVec pattern);
    *  - distances are Σ(x−c)² in long arithmetic (≤ 2⁴⁴·64 ≪ 2⁶³);
    *  - argmin by `least(struct(dist, cid))` — ties to the lowest cid,
    *    mirrored by the oracle's ORDER BY dist, cid;
    *  - recentered components are TRUNCATED integer means (Java long
    *    division == DuckDB `//`, both toward zero) — centroids stay
    *    integer vectors, so no double ever enters the pipeline; the
    *    ≤1-unit (≈2⁻²⁰) centroid quantization per round is noise
    *    relative to Lloyd's own convergence;
    *  - seeds = the k lowest-vec_id vectors (deterministic init).
    *
    * Scale shape: each round is one scan with a broadcast centroid
    * literal (k·64 longs), one posexplode partial-agg shuffle for the
    * sums, and a k·64-row collect (bounded — the broadcast pattern);
    * empty clusters keep their previous centroid. The interpreted
    * zip_with/aggregate lambdas cost k·dims per row; at real scale the
    * same loop swaps in a QuantizedCosine-style native kernel.
    */
  private val q74 = Q(
    fn = (s, d) => {
      import s.implicits._
      kmeansAssignCached(s, d,
        resolveKmeansK(s, Tables.embeddings(s, d).count())).orderBy($"vec_id")
    },
    oracle = Some(kmeansOracleCtes() + """
      SELECT vec_id, cid AS cluster, dist FROM d3
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
      ORDER BY vec_id"""))

  /** Q75 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = k-means clustering + within-cluster cosine
    * near-dup removal, composed from q74's Lloyd core and q25's exact
    * quantized cosine. A vector is DROPPED when a lower-id vector in
    * the SAME cluster has cosine ≥ 0.4 with it (greedy keep-lowest-id —
    * the paper's keep-one-per-ε-ball with a deterministic
    * representative; chains across kept members are the standard greedy
    * caveat). Output: the kept vectors with their cluster.
    *
    * Scale shape: the quadratic leg is WITHIN-CLUSTER only — exactly
    * the blocking that makes SemDeDup tractable (clusters play q38's
    * IVF-cell role) — and clusters over `graft.vec.maxCell` members are
    * further sub-split by the SAME deterministic md5 rule as q38, which
    * bounds any block's pair count at maxCell² however skewed the
    * clustering gets (missed cross-sub dominations mean extra kept
    * docs — the standard blocking-recall trade, pinned in QueriesSpec;
    * k also grows with the corpus so clusters rarely reach the cap).
    * The whole pipeline — iterative centroids, assignment, sub-split,
    * cosine, domination — is deterministic, so even this composed
    * algorithm hash-matches its DuckDB oracle. As with q38/q50, the
    * oracle pins the DEFAULT maxCell; CORRECTNESS runs use the default.
    */
  private val q75 = Q(
    fn = (s, d) => {
      import s.implicits._
      val maxCell = s.conf.get("graft.vec.maxCell", "4096").toInt
      // cluster count: the same k ∝ n lever as q38's ivfCells knob —
      // DEFAULT "auto" since round 8 (one cluster per ~cellTarget
      // vectors, mirrored by the oracle's kk CTE); a count pins k
      val kmK = resolveKmeansK(s, Tables.embeddings(s, d).count())
      val assign = kmeansAssignCached(s, d, kmK).select($"vec_id", $"cluster")
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      // scoped persist (q38's pattern): the assign⋈emb frame feeds the
      // sub-split size aggregate AND both self-join sides — without it
      // the artifact read + vec_id join re-run 3x per evaluation
      val joined = assign.join(emb, "vec_id").persist()
      try {
        val v = subSplit(joined, "cluster", maxCell)
        val a = v.select($"cluster", $"sub", $"vec_id".as("i"), $"embedding".as("ei"))
        val b = v.select($"cluster", $"sub", $"vec_id".as("j"), $"embedding".as("ej"))
        val dominated = a.join(b, Seq("cluster", "sub"))
          .filter($"i" < $"j")
          .filter(graft.functions.expressions.quantized_cosine($"ei", $"ej") >= 0.4)
          .select($"j".as("vec_id")).distinct()
        assign.join(dominated, Seq("vec_id"), "left_anti")
          .select($"vec_id", $"cluster")
          .orderBy($"vec_id")
          .localCheckpoint()
      } finally joined.unpersist()
    },
    oracle = Some(kmeansOracleCtes() + """,
      a3 AS (
        SELECT vec_id, xq, cid AS cluster FROM d3
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      sz AS (
        SELECT cluster, COUNT(*) AS n FROM a3 GROUP BY cluster),
      withn AS (
        SELECT a.vec_id, a.xq, a.cluster,
               """ + subSplitSql + """ AS sub,
               list_sum(list_transform(generate_series(1, 64), i -> xq[i] * xq[i])) AS qq
        FROM a3 a JOIN sz s USING (cluster)),
      dominated AS (
        SELECT DISTINCT b.vec_id
        FROM withn a JOIN withn b
          ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
        WHERE CAST(list_sum(list_transform(generate_series(1, 64),
                i -> a.xq[i] * b.xq[i])) AS DOUBLE)
              / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) >= 0.4)
      SELECT a3.vec_id, a3.cluster
      FROM a3 LEFT JOIN dominated dom ON a3.vec_id = dom.vec_id
      WHERE dom.vec_id IS NULL
      ORDER BY a3.vec_id"""))

  /** Q78 — product-quantization ANN with asymmetric-distance scoring
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011) — the embedding COMPRESSION path for ANN at
    * 100 TB: q39's IVF prunes WHICH vectors get scored, PQ shrinks what
    * each stored vector COSTS to keep and score. The 64 dims split into
    * M=8 subspaces of 8; each subspace trains a K=16 codebook by the q74
    * integer-exact Lloyd recipe (quantized components, long distances,
    * argmin ties to the lowest cid, truncated integer means, seeds = the
    * 16 lowest-vec_id subvectors, 2 recenter rounds), and every vector
    * encodes to 8 code ids — the stored representation drops from 512
    * bytes of floats to 8 codes. Scoring is ADC: the query keeps its RAW
    * quantized subvectors, flattened into a per-query M·K distance table
    * (broadcast), and one PqAdcDist kernel eval per (query, vector) sums
    * the M table lookups — NO shuffle in the scoring leg, and the corpus
    * side never decompresses (shape rationale at [[pqAdcTopK]]).
    *
    * Every quantity is exact integer math (per-subspace distances
    * ≤ 8·2^44, ADC sums over M=8 ≪ 2^63), so the ENTIRE iterative
    * pipeline — training, encoding, ADC, top-5 — hash-matches its DuckDB
    * oracle, q74's contract extended to a composed index structure.
    *
    * Scale shape: training is q74's bounded pattern with a subspace key
    * (one posexplode partial-agg shuffle per round; M·K·8 = 1024 rows
    * collected per round); encoding is one scan against a broadcast
    * codebook; ADC is a crossJoin against the broadcast distance tables
    * (one kernel eval per pair, zero shuffle); top-5 is the two-level
    * row_number (local per-partition cap, then global), so the final
    * exchange carries ≤ 5 rows per partition per query. Full ADC is
    * nq·n·M work by DESIGN (the complete-scoring baseline; q79's IVF
    * probes are the pruned path). ADC quality vs exact quantized-L2 is
    * pinned in QueriesSpec.
    */
  private val pqM = 8; private val pqDsub = 8; private val pqK = 16

  /** The trained PQ index: `codes` (vec_id, codes array<int> — one code
    * id per subspace, m-ordered: the 8-id compressed vector) and `cents`
    * (m, cid, c — the M·K codebook, broadcast-sized). Both materialized,
    * safe to reuse after the training cache is released. */
  private[graft] case class PqIndex(codes: DataFrame, cents: DataFrame)

  /** Split a quantized vector column into the (m, v) long-format
    * subvectors the PQ pipeline works in. */
  private def pqSubs(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"vec_id",
      posexplode(array((0 until pqM).map(m =>
        slice($"xq", m * pqDsub + 1, pqDsub)): _*)).as(Seq("m", "v")))
  }

  /** Nearest-codebook assignment of (vec_id, m, v) subvectors against
    * FROZEN centroid arrays — the exact expressions (sq_dist, (dist,
    * cid)-ascending tie-break) used at every training round, at
    * build-time encoding AND at append-time encoding ([[encodePq]]),
    * one implementation so the three can never drift. */
  private def pqAssign(subs: DataFrame,
      cents: Array[Array[Array[Long]]]): DataFrame = {
    import subs.sparkSession.implicits._
    val c = typedlit(cents.map(_.map(_.toSeq).toSeq).toSeq)
    val scored = (0 until pqK).map { k =>
      struct(
        graft.functions.expressions.sq_dist($"v",
          element_at(element_at(c, $"m" + 1), k + 1)).as("dist"),
        lit(k).as("cid"))
    }
    subs.withColumn("a", least(scored: _*))
      .select($"vec_id", $"m", $"v", $"a.cid".as("cid"))
  }

  /** Long-format assignments → the wide per-vector code store the ADC
    * kernel consumes (struct sort orders by m; cid unique per (vec, m)
    * so the sort is total). */
  private def pqWideCodes(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned.groupBy($"vec_id")
      .agg(array_sort(collect_list(struct($"m", $"cid"))).as("mc"))
      .select($"vec_id", transform($"mc", e => e("cid")).as("codes"))
  }

  /** q78's training leg over a prepared (vec_id, xq) frame — see q78's
    * Scaladoc for the recipe and the integer-exactness contract. */
  private[graft] def pqTrainOn(emb0: DataFrame): PqIndex = {
    import emb0.sparkSession.implicits._
    val emb = emb0.persist()
    try {
      val subs = pqSubs(emb)
      // per-subspace seeds: the K lowest-vec_id vectors, sliced
      var cents: Array[Array[Array[Long]]] = {
        val seed = emb.orderBy($"vec_id").limit(pqK).select($"xq").collect()
          .map(_.getSeq[Long](0).toArray)
        Array.tabulate(pqM)(m => seed.map(_.slice(m * pqDsub, m * pqDsub + pqDsub)))
      }
      def assigned: DataFrame = pqAssign(subs, cents)
      for (_ <- 1 to 2) {
        val sums = assigned
          .select($"m", $"cid", posexplode($"v").as(Seq("pos", "qx")))
          .groupBy($"m", $"cid", $"pos")
          .agg(sum($"qx").as("sm"), count(lit(1)).as("n"))
          .collect() // bounded: M·K·Dsub = 1024 rows per round
        val next = cents.map(_.map(_.clone()))
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            r.getLong(3) / r.getLong(4) // trunc division == DuckDB //
        }
        cents = next
      }
      val codes = pqWideCodes(assigned).localCheckpoint()
      val centDf = (for (m <- 0 until pqM; k <- 0 until pqK)
        yield (m, k, cents(m)(k).toSeq)).toDF("m", "cid", "c")
      PqIndex(codes, centDf)
    } finally emb.unpersist()
  }

  /** [[pqTrainOn]] over dataset `d`'s full embeddings table — shared
    * with the streaming lookup twin
    * ([[graft.streaming.Pipeline.runPqLookupStream]]). */
  private[graft] def pqTrain(s: SparkSession, d: String): PqIndex = {
    import s.implicits._
    pqTrainOn(Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq")))
  }

  /** Persist a trained [[PqIndex]] (codes + codebook as two parquet
    * tables). At 100 TB the index IS the artifact: training scans the
    * corpus once, then every serving job (batch re-ranks, the streaming
    * lookup) loads codes (8 ids/vector) instead of retraining — and the
    * codes table is the compressed corpus representation, bucketable /
    * partitionable like any other table. */
  private[graft] def savePqIndex(idx: PqIndex, path: String): Unit = {
    idx.codes.write.mode("overwrite").parquet(s"$path/codes")
    idx.cents.write.mode("overwrite").parquet(s"$path/cents")
  }

  /** Load a [[savePqIndex]] artifact; serving-equivalence to the
    * in-memory index is pinned in QueriesSpec. */
  private[graft] def loadPqIndex(s: SparkSession, path: String): PqIndex =
    PqIndex(
      codes = Tables.parquet(s, s"$path/codes"),
      cents = Tables.parquet(s, s"$path/cents"))

  /** [[pqTrain]] through the per-JVM [[IndexCache]]: the first caller
    * for a dataset trains and persists, every later caller loads the
    * codes / codebook parquet (8 code ids per vector — the compressed
    * store). q78 and q79 share one training run (identical codebooks),
    * and Bench's three sweeps reuse the first sweep's index — the
    * "index is the artifact" serving shape savePqIndex exists for.
    * Training is deterministic in (dataset dir, fixed engine params),
    * so the cache can never serve a wrong index within a JVM. */
  private[graft] def pqTrainCached(s: SparkSession, d: String): PqIndex =
    loadPqIndex(s, IndexCache.artifact("pq", d) { p =>
      savePqIndex(pqTrain(s, d), p)
    })

  /** The M·K codebook of `idx` collected back to the primitive array
    * form [[pqAssign]] consumes — 128 rows, the bounded-collect
    * budget. */
  private def centsArray(idx: PqIndex): Array[Array[Array[Long]]] = {
    val arr: Array[Array[Array[Long]]] =
      Array.fill(pqM, pqK)(Array.empty[Long])
    idx.cents.collect().foreach { r =>
      arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
    }
    arr
  }

  /** Encode (vec_id, xq) vectors against `idx`'s FROZEN codebook —
    * training's exact assignment expressions via [[pqAssign]], so
    * append-time codes are bit-equal to what build-time encoding of the
    * same vectors would have produced. */
  private[graft] def encodePq(vecs: DataFrame, idx: PqIndex): DataFrame =
    pqWideCodes(pqAssign(pqSubs(vecs), centsArray(idx)))

  /** Append an admitted vector snapshot to the PQ serving index:
    * arriving vectors encode against the FROZEN codebook (the standard
    * PQ/IVF serving contract — [[appendToVecDedupIndex]]'s rule on the
    * ANN artifact) and their 8-id codes union into the store; the
    * stored codes and the codebook are untouched, so the append costs
    * ∝ snapshot only. */
  private[graft] def appendToPqIndex(newVecs: DataFrame, idx: PqIndex): PqIndex =
    PqIndex(
      idx.codes.unionByName(encodePq(newVecs, idx).localCheckpoint()),
      idx.cents)

  /** Takedown half of ANN-index maintenance: codes are per-vector under
    * the frozen codebook, so removal is one vec_id anti-join; the
    * codebook — trained state — stays, as appends leave it. */
  private[graft] def removeFromPqIndex(idx: PqIndex,
      removeIds: DataFrame): PqIndex = {
    import removeIds.sparkSession.implicits._
    PqIndex(
      idx.codes.join(removeIds.select($"vec_id"), Seq("vec_id"), "left_anti"),
      idx.cents)
  }

  /** The PQ index trained on the STORED split (vec_id % 10 < 8) only —
    * q140's "yesterday's index" artifact, persisted once per JVM. */
  private[graft] def pqStoredCached(s: SparkSession, d: String): PqIndex =
    loadPqIndex(s, IndexCache.artifact("pqstored", d) { p =>
      import s.implicits._
      savePqIndex(pqTrainOn(Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"vec_id" % 10 < 8)
        .select($"vec_id",
          quantize($"embedding").cast("array<bigint>").as("xq"))), p)
    })

  /** Per-query flattened ADC distance tables: (query_id, dtable
    * array<long>) with slot m·K + cid — the broadcast operand of the
    * [[graft.functions.expressions.PqAdcDist]] kernel. nq rows × M·K
    * longs; tiny. Slot structs sort totally (slot unique per query). */
  private def pqDistTables(queries: DataFrame, idx: PqIndex): DataFrame = {
    import queries.sparkSession.implicits._
    pqSubs(queries)
      .select($"vec_id".as("query_id"), $"m", $"v")
      .join(idx.cents, Seq("m"))
      .select($"query_id", ($"m" * pqK + $"cid").as("slot"),
        graft.functions.expressions.sq_dist($"v", $"c").as("pdist"))
      .groupBy($"query_id")
      .agg(array_sort(collect_list(struct($"slot", $"pdist"))).as("sp"))
      .select($"query_id", transform($"sp", e => e("pdist")).as("dtable"))
  }

  /** The collected, broadcast-ready form of [[pqDistTables]]:
    * (query_id, dtable, probe cells — empty = no cell filter). The
    * collect is bounded by the serving batch: queries arrive in batches
    * by contract (a streaming micro-batch, a driver request set), never
    * as a second corpus. */
  private def collectDistTables(
      queries: DataFrame, idx: PqIndex,
      probes: Map[Long, Array[Int]] = Map.empty):
      Array[(Long, Array[Long], Array[Int])] =
    pqDistTables(queries, idx).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray,
        probes.getOrElse(r.getLong(0), Array.empty[Int])))
      .sortBy(_._1)

  /** q78's scoring leg: ADC top-k of `queries` (query_id, xq — RAW
    * quantized vectors) against a trained [[PqIndex]]. Shared verbatim
    * with the streaming twin so stream results == batch results on the
    * same rows by construction.
    *
    * Shape: ONE scan-local bounded aggregate over the codes store
    * ([[graft.functions.expressions.PqScanTopK]]): every task scores its
    * vectors against the broadcast query distance tables in a primitive
    * loop and keeps per-query k-entry heaps; the only exchange carries
    * one ≤ nq·k partial per task. Earlier shapes that materialized the
    * (query × vector) pairs — (m, cid) equi-join + re-agg, then
    * crossJoin + window rank — cost 222–260 s or OOM at the x100
    * synthetic scale; this runs the same arithmetic ~20× faster there
    * (SCALE.md) and is bit-identical (order-free long sums, same
    * (dist, id) selection order), so the oracle is unchanged.
    */
  private[graft] def pqAdcTopK(queries: DataFrame, idx: PqIndex, k: Int): DataFrame = {
    import queries.sparkSession.implicits._
    val bc = queries.sparkSession.sparkContext.broadcast(collectDistTables(queries, idx))
    try {
      val out = idx.codes
        .agg(graft.functions.expressions
          .pq_scan_topk(bc, k, pqK, $"vec_id", $"codes").as("t"))
        .select(explode($"t").as("e"))
        .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.adc_dist")
        .orderBy($"query_id", $"rank")
      // materialize (nq·k rows — bounded by the serving-batch contract)
      // so the broadcast can be destroyed NOW: a live-trigger serving
      // session makes one distance-table broadcast per micro-batch, and
      // leaving reclamation to driver GC + ContextCleaner accumulates
      // executor blocks for the life of the stream
      out.localCheckpoint()
    } finally bc.destroy()
  }

  private val q78 = Q(
    fn = (s, d) => {
      import s.implicits._
      val idx = pqTrainCached(s, d)
      val queries = Tables.embeddings(s, d)
        .filter(isQuery($"vec_id"))
        .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq"))
      pqAdcTopK(queries, idx, 5) // already materialized (see its cleanup note)
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xq
        FROM embeddings),
      sub AS (
        SELECT vec_id, t.m, xq[t.m*8+1 : t.m*8+8] AS v
        FROM q CROSS JOIN generate_series(0, 7) t(m)),
      init AS (
        SELECT m, cid, v AS c FROM (
          SELECT m, vec_id, v,
                 row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid
          FROM sub) WHERE cid < 16),
      d1 AS (
        SELECT s.vec_id, s.m, s.v, i.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - i.c[t]) * (s.v[t] - i.c[t]))) AS BIGINT) AS dist
        FROM sub s JOIN init i ON s.m = i.m),
      a1 AS (
        SELECT vec_id, m, v, cid FROM d1
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      m1 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM a1 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d),
      c1 AS (
        SELECT i.m, i.cid, COALESCE(mm.c, i.c) AS c
        FROM init i LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM m1 GROUP BY m, cid) mm
          ON i.m = mm.m AND i.cid = mm.cid),
      d2 AS (
        SELECT s.vec_id, s.m, s.v, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
        FROM sub s JOIN c1 c ON s.m = c.m),
      a2 AS (
        SELECT vec_id, m, v, cid FROM d2
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      m2 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM a2 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d),
      c2 AS (
        SELECT c1.m, c1.cid, COALESCE(mm.c, c1.c) AS c
        FROM c1 LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM m2 GROUP BY m, cid) mm
          ON c1.m = mm.m AND c1.cid = mm.cid),
      enc AS (
        SELECT vec_id, m, cid FROM (
          SELECT s.vec_id, s.m, c.cid,
                 CAST(list_sum(list_transform(generate_series(1, 8),
                   t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
          FROM sub s JOIN c2 c ON s.m = c.m)
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      dt AS (
        SELECT s.vec_id AS query_id, c.m, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS pdist
        FROM sub s JOIN c2 c ON s.m = c.m
        WHERE s.vec_id % 50 = 0),
      adc AS (
        SELECT d.query_id, a.vec_id, CAST(SUM(d.pdist) AS BIGINT) AS adc_dist
        FROM enc a JOIN dt d ON a.m = d.m AND a.cid = d.cid
        WHERE a.vec_id <> d.query_id
        GROUP BY d.query_id, a.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
      FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q140 — ANN index APPEND + serve: the admission step for the PQ
    * serving artifact, completing the incremental-maintenance matrix on
    * its last member (exact q95, MinHash q82, embedding-dedup q83,
    * clusters q135, frames q136, BM25 q137, LM q138 — the ANN index was
    * the one production artifact still without an append path). The
    * contract is FAISS's: codebooks train once on the stored corpus and
    * FREEZE; arriving vectors encode against the frozen codebook (8
    * code ids each — [[encodePq]], training's exact assignment
    * expressions) and union into the codes store. Stored codes never
    * re-encode, the codebook never retrains, so admission costs ∝
    * snapshot and the serving scan ([[pqAdcTopK]]) sees one homogeneous
    * codes table.
    *
    * The query: index trained on vec_id % 10 < 8, the % 10 >= 8
    * snapshot appended, the % 50 request set served ADC top-5 over the
    * merged store. The DuckDB oracle trains the codebook on the stored
    * split and encodes ALL vectors against it — a hash match proves
    * append-time encoding ≡ build-time encoding of the union under the
    * frozen codebook, exactly (integer-quantized vectors, exact long
    * distances, deterministic (dist, cid) and (adc, vec_id)
    * tie-breaks). Distances differ from q78's (its codebook saw the
    * full corpus), so the two declared outputs are distinct fixtures of
    * the same serving kernel.
    */
  private val q140 = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq"))
      val appended = appendToPqIndex(
        emb.filter($"vec_id" % 10 >= 8), pqStoredCached(s, d))
      pqAdcTopK(emb.filter(isQuery($"vec_id")), appended, 5)
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xq
        FROM embeddings),
      sub AS (
        SELECT vec_id, t.m, xq[t.m*8+1 : t.m*8+8] AS v
        FROM q CROSS JOIN generate_series(0, 7) t(m)),
      tsub AS (
        SELECT * FROM sub WHERE vec_id % 10 < 8),
      init AS (
        SELECT m, cid, v AS c FROM (
          SELECT m, vec_id, v,
                 row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid
          FROM tsub) WHERE cid < 16),
      d1 AS (
        SELECT s.vec_id, s.m, s.v, i.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - i.c[t]) * (s.v[t] - i.c[t]))) AS BIGINT) AS dist
        FROM tsub s JOIN init i ON s.m = i.m),
      a1 AS (
        SELECT vec_id, m, v, cid FROM d1
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      m1 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM a1 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d),
      c1 AS (
        SELECT i.m, i.cid, COALESCE(mm.c, i.c) AS c
        FROM init i LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM m1 GROUP BY m, cid) mm
          ON i.m = mm.m AND i.cid = mm.cid),
      d2 AS (
        SELECT s.vec_id, s.m, s.v, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
        FROM tsub s JOIN c1 c ON s.m = c.m),
      a2 AS (
        SELECT vec_id, m, v, cid FROM d2
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      m2 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM a2 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d),
      c2 AS (
        SELECT c1.m, c1.cid, COALESCE(mm.c, c1.c) AS c
        FROM c1 LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM m2 GROUP BY m, cid) mm
          ON c1.m = mm.m AND c1.cid = mm.cid),
      enc AS (
        SELECT vec_id, m, cid FROM (
          SELECT s.vec_id, s.m, c.cid,
                 CAST(list_sum(list_transform(generate_series(1, 8),
                   t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
          FROM sub s JOIN c2 c ON s.m = c.m)
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1),
      dt AS (
        SELECT s.vec_id AS query_id, c.m, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS pdist
        FROM sub s JOIN c2 c ON s.m = c.m
        WHERE s.vec_id % 50 = 0),
      adc AS (
        SELECT d.query_id, a.vec_id, CAST(SUM(d.pdist) AS BIGINT) AS adc_dist
        FROM enc a JOIN dt d ON a.m = d.m AND a.cid = d.cid
        WHERE a.vec_id <> d.query_id
        GROUP BY d.query_id, a.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
      FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q79 — IVF-PQ: the production ANN composition (FAISS's IVFADC shape;
    * Jégou et al. TPAMI 2011 §V): q39's IVF coarse quantizer decides
    * WHICH vectors each query scores (top-3 probe cells of 10), and
    * q78's PQ codes decide what scoring COSTS (ADC over 8 code ids, no
    * decompression). At 100 TB the two multiply: the scan prunes to the
    * probed fraction AND the scored operand is 8 bytes per vector.
    *
    * Composed from the two hash-verified halves — probe selection uses
    * q39's exact expressions (quantized cosine vs the per-label centroid
    * table), scoring uses q78's shared [[pqTrain]]/distance-table
    * machinery — and the COMPOSITION is itself hash-verified: the oracle
    * stitches q39's probe CTEs to q78's training CTEs, so any drift in
    * either half or in the candidate join surfaces as a mismatch.
    *
    * Scale shape: probe selection is a broadcast-centroid argsort per
    * query (no corpus shuffle); candidates are one equi-join on the cell
    * id; ADC is the candidate set ⋈ codes ⋈ broadcast distance tables +
    * one partial-agg long sum; top-5 via the two-level row_number.
    */
  private val q79 = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"label", $"embedding")
      // probe cells: q39's selection, verbatim expressions
      val centroids = broadcast(ivfCentroids(emb))
      val probeW = Window.partitionBy($"query_id").orderBy($"csim".desc, $"c_label")
      // no broadcast hint: this frame terminates in the probeSets
      // collect below, not a join — a hint here is dead (HintErrorLogger
      // noise at every bench sweep)
      val probes =
        emb.filter(isQuery($"vec_id"))
          .crossJoin(centroids)
          .select($"vec_id".as("query_id"), $"c_label",
            graft.functions.expressions.quantized_cosine($"embedding", toF($"cvec")).as("csim"))
          .withColumn("pr", row_number().over(probeW))
          .filter($"pr" <= 3)
          .select($"query_id", $"c_label".as("label"))
      // PQ index over the full corpus (q78's shared training — one JVM
      // trains it once; see pqTrainCached)
      val idx = pqTrainCached(s, d)
      // ADC distance tables for the query set
      val queries = Tables.embeddings(s, d)
        .filter(isQuery($"vec_id"))
        .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq"))
      // per-query probe-cell sets ride inside the same scan aggregate:
      // a query scores only vectors whose cell is in its probe set (the
      // IVF pruning), so the scoring leg is still zero-join, zero-shuffle
      // — see pqAdcTopK's shape note
      val probeSets: Map[Long, Array[Int]] = probes.collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rows) => qid -> rows.map(_.getInt(1)).sorted }
      val bc = s.sparkContext.broadcast(
        collectDistTables(queries, idx, probeSets))
      try {
        val withCell = idx.codes.join(
          emb.select($"vec_id", $"label".cast("int").as("cell")), Seq("vec_id"))
        withCell
          .agg(graft.functions.expressions
            .pq_scan_topk(bc, 5, pqK, $"vec_id", $"codes", $"cell").as("t"))
          .select(explode($"t").as("e"))
          .select($"e.query_id", $"e.neighbor_id", $"e.rank", $"e.adc_dist")
          .orderBy($"query_id", $"rank")
          .localCheckpoint() // materialized → broadcast reclaimable now
      } finally bc.destroy()
    },
    oracle = Some("""
      WITH qv AS (
        SELECT vec_id, label, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), qn AS (
        SELECT vec_id, label, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM qv
      ), cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS c
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)
        GROUP BY label, pos
      ), cn AS (
        SELECT c_label, cqv,
               list_sum(list_transform(generate_series(1, len(cqv)), i -> cqv[i] * cqv[i])) AS cc
        FROM (
          SELECT label AS c_label,
                 list(CAST(FLOOR(CAST(CAST(c / 1048576.0 AS FLOAT) AS DOUBLE) * 1048576.0) AS BIGINT)
                      ORDER BY pos) AS cqv
          FROM cent GROUP BY label)
      ), probes AS (
        SELECT query_id, label FROM (
          SELECT q.vec_id AS query_id, c.c_label AS label,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                        i -> q.qv[i] * c.cqv[i])) AS DOUBLE)
                     / (SQRT(CAST(q.qq AS DOUBLE)) * SQRT(CAST(c.cc AS DOUBLE))) DESC,
                   c.c_label) AS pr
          FROM qn q CROSS JOIN cn c
          WHERE q.vec_id % 50 = 0
        ) WHERE pr <= 3
      ), psub AS (
        SELECT vec_id, t.m, qv[t.m*8+1 : t.m*8+8] AS v
        FROM qv CROSS JOIN generate_series(0, 7) t(m)
      ), pinit AS (
        SELECT m, cid, v AS c FROM (
          SELECT m, vec_id, v,
                 row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid
          FROM psub) WHERE cid < 16
      ), pd1 AS (
        SELECT s.vec_id, s.m, s.v, i.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - i.c[t]) * (s.v[t] - i.c[t]))) AS BIGINT) AS dist
        FROM psub s JOIN pinit i ON s.m = i.m
      ), pa1 AS (
        SELECT vec_id, m, v, cid FROM pd1
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1
      ), pm1 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM pa1 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d
      ), pc1 AS (
        SELECT i.m, i.cid, COALESCE(mm.c, i.c) AS c
        FROM pinit i LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM pm1 GROUP BY m, cid) mm
          ON i.m = mm.m AND i.cid = mm.cid
      ), pd2 AS (
        SELECT s.vec_id, s.m, s.v, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
        FROM psub s JOIN pc1 c ON s.m = c.m
      ), pa2 AS (
        SELECT vec_id, m, v, cid FROM pd2
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1
      ), pm2 AS (
        SELECT a.m, a.cid, t.d, SUM(v[t.d]) // COUNT(*) AS cm
        FROM pa2 a CROSS JOIN generate_series(1, 8) t(d)
        GROUP BY a.m, a.cid, t.d
      ), pc2 AS (
        SELECT pc1.m, pc1.cid, COALESCE(mm.c, pc1.c) AS c
        FROM pc1 LEFT JOIN (
          SELECT m, cid, list(CAST(cm AS BIGINT) ORDER BY d) AS c
          FROM pm2 GROUP BY m, cid) mm
          ON pc1.m = mm.m AND pc1.cid = mm.cid
      ), enc AS (
        SELECT vec_id, m, cid FROM (
          SELECT s.vec_id, s.m, c.cid,
                 CAST(list_sum(list_transform(generate_series(1, 8),
                   t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS dist
          FROM psub s JOIN pc2 c ON s.m = c.m)
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) = 1
      ), dt AS (
        SELECT s.vec_id AS query_id, c.m, c.cid,
               CAST(list_sum(list_transform(generate_series(1, 8),
                 t -> (s.v[t] - c.c[t]) * (s.v[t] - c.c[t]))) AS BIGINT) AS pdist
        FROM psub s JOIN pc2 c ON s.m = c.m
        WHERE s.vec_id % 50 = 0
      ), cand AS (
        SELECT p.query_id, e.vec_id
        FROM qn e JOIN probes p ON e.label = p.label
        WHERE e.vec_id <> p.query_id
      ), adc AS (
        SELECT c.query_id, c.vec_id, CAST(SUM(d.pdist) AS BIGINT) AS adc_dist
        FROM cand c
        JOIN enc a ON a.vec_id = c.vec_id
        JOIN dt d ON d.query_id = c.query_id AND d.m = a.m AND d.cid = a.cid
        GROUP BY c.query_id, c.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
      FROM (
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rank
        FROM adc)
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q87 — prototypicality pruning (Sorscher et al., "Beyond neural
    * scaling laws: beating power law scaling via data pruning", NeurIPS
    * 2022): rank each vector by distance to its k-means cluster centroid
    * and KEEP the hard half — the members farthest from their prototype
    * (2·rank ≤ n+1 under dist-DESC ranking = ceil(n/2) kept per
    * cluster); the most prototypical (redundant) examples are dropped.
    * SemDeDup (q75) removes ε-duplicates; this prunes by informativeness
    * — the two standard embedding-curation passes over the same
    * clustering.
    *
    * Exactness: q74's integer-exact Lloyd assignment (quantized
    * components, long distances), integer rank arithmetic — every
    * column hash-checks. Scale shape: one count per cluster + one
    * per-cluster rank window; per-cluster sort cost is bounded by
    * cluster size, and `graft.vec.kmeansK` (k ∝ n, the measured q75
    * lever) keeps clusters at ~cellTarget members at any corpus size.
    */
  private val q87 = Q(
    fn = (s, d) => {
      import s.implicits._
      val assign = kmeansAssignCached(s, d,
        resolveKmeansK(s, Tables.embeddings(s, d).count()))
      val sz = assign.groupBy($"cluster").agg(count(lit(1)).as("n"))
      assign.join(sz, Seq("cluster"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"cluster").orderBy($"dist".desc, $"vec_id")))
        .filter($"rank" * 2 <= $"n" + 1)
        .select($"vec_id", $"cluster", $"dist", $"rank".cast("long").as("rank"))
        .orderBy($"vec_id")
    },
    oracle = Some(kmeansOracleCtes() + """,
      a3 AS (
        SELECT vec_id, cid AS cluster, dist FROM d3
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      sz AS (SELECT cluster, COUNT(*) AS n FROM a3 GROUP BY cluster),
      rk AS (
        SELECT vec_id, cluster, dist, n,
               ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY dist DESC, vec_id) AS rank
        FROM a3 JOIN sz USING (cluster))
      SELECT vec_id, cluster, dist, CAST(rank AS BIGINT) AS rank
      FROM rk WHERE 2 * rank <= n + 1
      ORDER BY vec_id"""))

  /** Q128 — simplified silhouette per cluster (Rousseeuw 1987; the
    * "simplified" centroid-distance form, Hruschka et al. 2004 —
    * O(n·k) instead of the O(n²) pairwise original): for each point,
    * a = distance to its own centroid, b = distance to the nearest
    * OTHER centroid, s = (b − a)/max(a, b); per-cluster mean s is the
    * cluster-quality monitor that answers "is the q74/q75/q87 clustering
    * still tight?" the way q104's recall audit answers it for the ANN
    * index. s near 1 = compact and isolated, near 0 = boundary mush,
    * negative = points closer to a foreign centroid (k too large or
    * drifted).
    *
    * Exactness: squared distances are exact longs (the quantized Lloyd
    * space), sqrt/division/subtraction run on identical doubles in both
    * engines, and the per-cluster MEAN goes through the q97 fixed-point
    * device (round(s·10⁶) per point, exact integer sum, one final
    * division) so partial aggregation order cannot move a ulp. The
    * degenerate a = b = 0 point (sits ON two centroids) takes s = 0 by
    * convention, mirrored in the oracle's CASE. The per-point
    * (vec_id, cluster, a², b²) table is an IndexCache artifact shared
    * across reps/consumers; the oracle extends [[kmeansOracleCtes]]'s
    * d3 (distances to ALL final centroids) with a rank-2 self-join.
    */
  private val q128 = Q(
    fn = (s, d) => {
      import s.implicits._
      val k = resolveKmeansK(s, Tables.embeddings(s, d).count())
      val sil = Tables.parquet(s, IndexCache.artifact("ksil", d, k) { p =>
        // the SHARED fit: centroids come from the same kmeans artifact
        // q74/q75/q87 read — one training run per dataset, and only the
        // one scoring pass below is silhouette-specific
        val (_, cents) = kmeansFitCached(s, d, k)
        // CentroidArgmin carries the runner-up distance precisely for
        // this consumer: (dist, cid, dist2) == the old
        // sort_array(struct(sq_dist, cid))(0..1) fields, without the
        // k-branch plan (see kmeansFit's assigned)
        val bc = s.sparkContext.broadcast(cents.map(_.clone()).toArray)
        try Tables.embeddings(s, d)
          .select($"vec_id", quantize($"embedding").cast("array<bigint>").as("xq"))
          .withColumn("a",
            graft.functions.expressions.centroid_argmin(bc, $"xq"))
          .select($"vec_id",
            $"a.cid".cast("long").as("cluster"),
            $"a.dist".as("a2"),
            $"a.dist2".as("b2"))
          .write.mode("overwrite").parquet(p)
        finally bc.destroy()
      })
      val sa = sqrt($"a2".cast("double"))
      val sb = sqrt($"b2".cast("double"))
      sil
        .withColumn("sv",
          when(greatest(sa, sb) > 0, (sb - sa) / greatest(sa, sb))
            .otherwise(lit(0.0)))
        .select($"cluster",
          expr("CAST(round(sv * 1000000) AS BIGINT)").as("sq"))
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_points"), sum($"sq").as("ssum"))
        .select($"cluster", $"n_points",
          ($"ssum".cast("double") / $"n_points".cast("double") / 1000000.0)
            .as("mean_silhouette"))
        .orderBy($"cluster")
    },
    oracle = Some(kmeansOracleCtes() + """,
      rnk AS (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d3),
      ab AS (
        SELECT o.vec_id, o.cid AS cluster, o.dist AS a2, b.dist AS b2
        FROM rnk o JOIN rnk b ON b.vec_id = o.vec_id AND b.rn = 2
        WHERE o.rn = 1),
      sil AS (
        SELECT cluster,
               CASE WHEN GREATEST(sqrt(CAST(a2 AS DOUBLE)),
                                  sqrt(CAST(b2 AS DOUBLE))) > 0
                    THEN (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                         / GREATEST(sqrt(CAST(a2 AS DOUBLE)),
                                    sqrt(CAST(b2 AS DOUBLE)))
                    ELSE 0.0 END AS sv
        FROM ab)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(CAST(round(sv * 1000000) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_silhouette
      FROM sil
      GROUP BY cluster
      ORDER BY cluster"""))

  // ────────────────────────────────────────────────────────────────────
  // Johnson–Lindenstrauss random projection — dimensionality reduction
  // for the embedding pipeline (Achlioptas 2003's database-friendly ±1
  // projections): 64-dim vectors compress to 16 dims with pairwise
  // distances preserved in expectation, shrinking every downstream
  // ANN/clustering shuffle and index 4× at 100 TB. Deterministic sign
  // constants + fixed-point arithmetic make the whole family exact.

  /** ±1 sign matrix for the JL projection: sign(i, j) for input dim i,
    * output dim j is the splitmix parity of (jlSeed + i·16 + j) — q26's
    * hyperplane-constant device in a DISJOINT seed domain (q26 consumes
    * splitmix([0, 3072)); the offset keeps the two sign families
    * independent). Pure index constants, no data dependence — so the
    * oracle replays them from a 1024-char literal. */
  private val jlK = 16
  private val jlSeed = 1L << 20
  private val jlSigns: Array[Long] =
    Array.tabulate(64 * jlK)(k =>
      if ((graft.functions.expressions.splitmix(jlSeed + k) & 1L) == 1L) 1L
      else -1L)
  private val jlSignBits: String =
    jlSigns.map(s => if (s == 1L) '1' else '0').mkString

  /** The projection itself: (vec_id, xfp, y) where xfp is q25's
    * quantizer (floor(x·2²⁰) as long) and y_j = Σ_i sign(i,j)·xfp_i —
    * exact long arithmetic, order-free sums, so both engines land on
    * identical values. Scale shape: ONE per-row expression pass (the
    * 64×16 sign matrix rides inside the plan as an array literal) —
    * zero joins, zero shuffled rows; the projection composes with the
    * IVF/PQ family downstream of one scan. */
  private[graft] def jlProject(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    // native fused quantize+multiply-add (JlProjectExpr — HyperplaneSigs'
    // device): bit-identical to the aggregate-over-sign-literal
    // declarative form it replaced (ExpressionsSpec parity pin), which
    // paid 16×64 interpreted lambda steps per corpus row — the measured
    // projection ceiling at x100
    emb.select($"vec_id",
        transform($"embedding",
          x => floor(x.cast("double") * 1048576.0).cast("long")).as("xfp"),
        graft.functions.expressions.jl_project($"embedding").as("y"))
  }

  /** Q146 — the projected coordinates of a deterministic vector sample
    * (vec_id % 43), posexploded to scalar rows for the gate. Pins the
    * sign convention itself (a distance audit alone is invariant under
    * per-dimension global sign flips — this query is not). */
  private val q146 = Q(
    fn = (s, d) => {
      import s.implicits._
      jlProject(Tables.embeddings(s, d)
          .filter($"vec_id" % 43 === 0).select($"vec_id", $"embedding"))
        .select($"vec_id", posexplode($"y").as(Seq("j", "y_fp")))
        .select($"vec_id", $"j".cast("long").as("j"), $"y_fp")
        .orderBy($"vec_id", $"j")
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
        FROM embeddings WHERE vec_id % 43 = 0
      ), dims AS (
        SELECT vec_id, unnest(xfp) AS qx, generate_subscripts(xfp, 1) AS pos
        FROM q
      ), proj AS (
        SELECT vec_id, t.j,
               SUM(CASE WHEN substr('$jlSignBits',
                                    (pos - 1) * $jlK + t.j + 1, 1) = '1'
                        THEN qx ELSE -qx END) AS y
        FROM dims CROSS JOIN generate_series(0, ${jlK - 1}) t(j)
        GROUP BY vec_id, t.j
      )
      SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(y AS BIGINT) AS y_fp
      FROM proj ORDER BY vec_id, j"""))

  /** Q147 — JL distance-preservation audit: for a deterministic sample
    * of adjacent-id pairs (a % 31 = 0, b = a + 1), exact squared L2 in
    * the original quantized space vs the projected space, plus their
    * ratio (expectation k = 16 with ±1 signs — no 1/√k normalization,
    * so the ratio is the JL concentration measurement a production
    * pipeline monitors before trusting the compressed index). All-long
    * arithmetic until the single final division. Scale shape: the
    * projection is scan-local; the audit joins two 1/31 samples on an
    * arithmetic key — sampled, never all-pairs. */
  private val q147 = Q(
    fn = (s, d) => {
      import s.implicits._
      val pr = jlProject(Tables.embeddings(s, d)
        .filter($"vec_id" % 31 <= 1).select($"vec_id", $"embedding"))
      val a = pr.filter($"vec_id" % 31 === 0)
        .select($"vec_id".as("a"), $"xfp".as("xa"), $"y".as("ya"))
      val b = pr.filter($"vec_id" % 31 === 1)
        .select($"vec_id".as("b"), $"xfp".as("xb"), $"y".as("yb"))
      a.join(b, b("b") === a("a") + 1)
        .select($"a", $"b",
          aggregate(zip_with($"xa", $"xb", (p, q0) => (p - q0) * (p - q0)),
            lit(0L), _ + _).as("d2_orig_fp"),
          aggregate(zip_with($"ya", $"yb", (p, q0) => (p - q0) * (p - q0)),
            lit(0L), _ + _).as("d2_proj_fp"))
        .withColumn("ratio",
          when($"d2_orig_fp" === 0L, lit(null).cast("double"))
            .otherwise($"d2_proj_fp".cast("double") / $"d2_orig_fp".cast("double")))
        .orderBy($"a")
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
        FROM embeddings WHERE vec_id % 31 <= 1
      ), dims AS (
        SELECT vec_id, unnest(xfp) AS qx, generate_subscripts(xfp, 1) AS pos
        FROM q
      ), proj AS (
        SELECT vec_id, t.j,
               SUM(CASE WHEN substr('$jlSignBits',
                                    (pos - 1) * $jlK + t.j + 1, 1) = '1'
                        THEN qx ELSE -qx END) AS y
        FROM dims CROSS JOIN generate_series(0, ${jlK - 1}) t(j)
        GROUP BY vec_id, t.j
      ), projl AS (
        SELECT vec_id, list(y ORDER BY j) AS ys FROM proj GROUP BY vec_id
      ), fv AS (
        SELECT q.vec_id, q.xfp, projl.ys FROM q JOIN projl USING (vec_id)
      )
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> (a.xfp[i] - b.xfp[i]) * (a.xfp[i] - b.xfp[i]))) AS BIGINT)
               AS d2_orig_fp,
             CAST(list_sum(list_transform(generate_series(1, $jlK),
               i -> (a.ys[i] - b.ys[i]) * (a.ys[i] - b.ys[i]))) AS BIGINT)
               AS d2_proj_fp,
             CASE WHEN list_sum(list_transform(generate_series(1, 64),
                    i -> (a.xfp[i] - b.xfp[i]) * (a.xfp[i] - b.xfp[i]))) = 0
                  THEN NULL
                  ELSE CAST(CAST(list_sum(list_transform(generate_series(1, $jlK),
                         i -> (a.ys[i] - b.ys[i]) * (a.ys[i] - b.ys[i]))) AS BIGINT) AS DOUBLE)
                       / CAST(CAST(list_sum(list_transform(generate_series(1, 64),
                           i -> (a.xfp[i] - b.xfp[i]) * (a.xfp[i] - b.xfp[i]))) AS BIGINT) AS DOUBLE)
             END AS ratio
      FROM fv a JOIN fv b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 31 = 0
      ORDER BY a"""))

  /** Q156 — SEMANTIC hard-negative mining: q150's contract on the dense
    * leg (dense retrievers train on embedding-space hard negatives; DPR
    * mines them from the dense index, not BM25). Top-20 exact-cosine
    * candidates per q25 request, minus verified near-duplicates of the
    * query document (the lexical pair graph, doc_id ≡ vec_id — a
    * same-content candidate is a false negative whichever space found
    * it), survivors re-ranked to top-5. Lexical (q150) and semantic
    * (q156) negatives are both mined in practice — they surface
    * different confusions, which is why both exist.
    *
    * Shape at 100 TB: q25's broadcast serving scan produces the nq·20
    * pool; the exclusion is one anti-join of that bounded pool against
    * the cached ccluster edge set. Nothing pairwise, nothing
    * corpus-shuffled beyond the declared exact-scoring scan (q26/q39/
    * q148 are the pruned paths for the pool itself).
    */
  private val q156 = Q(
    fn = (s, d) => {
      import s.implicits._
      val cands = cosineTopK(s, d, isQuery, 20)
        .select($"query_id", $"neighbor_id", $"score")
      val edges = graft.queries.TextOps.dedupEdgesCached(s, d)
      val nd = edges.select($"u".as("query_id"), $"v".as("neighbor_id"))
        .unionByName(edges.select($"v".as("query_id"), $"u".as("neighbor_id")))
      cands.join(nd, Seq("query_id", "neighbor_id"), "left_anti")
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id")
            .orderBy($"score".desc, $"neighbor_id")).cast("int"))
        .filter($"rank" <= 5)
        .select($"query_id", $"neighbor_id", $"rank", $"score")
        .orderBy($"query_id", $"rank")
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        FROM embeddings
      ), withn AS (
        SELECT vec_id, qv,
               list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS qq
        FROM q
      ), scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
                    i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS score
        FROM withn a JOIN withn b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
      ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
      ), cand AS (
        SELECT query_id, neighbor_id, score FROM ranked WHERE rank <= 20
      ), docs AS (
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
      ), nd AS (
        SELECT i AS query_id, j AS neighbor_id FROM prs
        UNION ALL SELECT j, i FROM prs
      ), keep AS (
        SELECT c.query_id, c.neighbor_id, c.score FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM nd
          WHERE nd.query_id = c.query_id AND nd.neighbor_id = c.neighbor_id)
      ), rr AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM keep
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM rr WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q156b — q156's semantic hard-negative mining over the PRUNED dense
    * pool (VERDICT r10 item 6: q156 keeps q25's brute-force nq·n pool as
    * the declared exactness baseline, but the SERVING DEFAULT at scale
    * must be a pruned path). The pool is q148's two-stage composition —
    * JL-prefilter top-100 per query over 16-dim projections, exact
    * full-dim rerank — cut to top-20, over the QuerySetCap-bounded
    * request set (% 50 = 0 AND < 5000: a serving batch does not grow
    * with the corpus); then q150/q156's exclusion contract verbatim:
    * verified lexical near-duplicates of the query are false negatives
    * and drop, survivors re-rank to top-5. Both stages and the
    * exclusion are deterministic exact arithmetic, so the DuckDB oracle
    * replays the ENTIRE composition — the approximation is purely stage
    * 1's candidate truncation, whose recall vs the exact pool is
    * floor-pinned in QueriesSpec (the q25→q26/q39 audit pattern).
    *
    * Shape at 100 TB: stage 1 scans 4×-smaller vectors against a ≤100-
    * query broadcast; stage 2 and everything after operate on the
    * nq·100-bounded candidate set; the near-dup exclusion is one
    * anti-join of a nq·20 pool against the cached edge set. Nothing
    * all-pairs, nothing corpus-shuffled in full dimension.
    */
  private val q156b = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding")
      val pr = jlProject(emb).select($"vec_id", $"y")
      val reqs = emb.filter(isQuery($"vec_id") && $"vec_id" < 5000L)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val queries = broadcast(pr
        .filter(isQuery($"vec_id") && $"vec_id" < 5000L)
        .select($"vec_id".as("query_id"), $"y".as("qy")))
      val stage1 = pr.join(queries, $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          graft.functions.expressions.long_cosine($"qy", $"y").as("score"))
      val cand = topK(stage1, 100).select($"query_id", $"neighbor_id")
      val pool = topK(cand
        .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"),
          Seq("neighbor_id"))
        .join(broadcast(reqs), Seq("query_id"))
        .select($"query_id", $"neighbor_id",
          graft.functions.expressions.quantized_cosine($"q_emb", $"embedding")
            .as("score")), 20)
        .select($"query_id", $"neighbor_id", $"score")
      val edges = graft.queries.TextOps.dedupEdgesCached(s, d)
      val nd = edges.select($"u".as("query_id"), $"v".as("neighbor_id"))
        .unionByName(edges.select($"v".as("query_id"), $"u".as("neighbor_id")))
      pool.join(nd, Seq("query_id", "neighbor_id"), "left_anti")
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id")
            .orderBy($"score".desc, $"neighbor_id")).cast("int"))
        .filter($"rank" <= 5)
        .select($"query_id", $"neighbor_id", $"rank", $"score")
        .orderBy($"query_id", $"rank")
    },
    oracle = Some(s"""
      WITH q0 AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
        FROM embeddings
      ), dims AS (
        SELECT vec_id, unnest(xfp) AS qx, generate_subscripts(xfp, 1) AS pos
        FROM q0
      ), proj AS (
        SELECT vec_id, t.j,
               SUM(CASE WHEN substr('$jlSignBits',
                                    (pos - 1) * $jlK + t.j + 1, 1) = '1'
                        THEN qx ELSE -qx END) AS y
        FROM dims CROSS JOIN generate_series(0, ${jlK - 1}) t(j)
        GROUP BY vec_id, t.j
      ), projl AS (
        SELECT vec_id, list(y ORDER BY j) AS ys FROM proj GROUP BY vec_id
      ), withn AS (
        SELECT vec_id, ys,
               list_sum(list_transform(generate_series(1, $jlK),
                 i -> ys[i] * ys[i])) AS yy
        FROM projl
      ), s1 AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, $jlK),
                    i -> a.ys[i] * b.ys[i])) AS DOUBLE)
                 / (SQRT(CAST(a.yy AS DOUBLE)) * SQRT(CAST(b.yy AS DOUBLE))) AS score
        FROM withn a JOIN withn b
          ON a.vec_id % 50 = 0 AND a.vec_id < 5000 AND a.vec_id <> b.vec_id
      ), cand AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS rk
          FROM s1)
        WHERE rk <= 100
      ), fn AS (
        SELECT vec_id, xfp,
               list_sum(list_transform(generate_series(1, 64),
                 i -> xfp[i] * xfp[i])) AS qq
        FROM q0
      ), rer AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> a.xfp[i] * b.xfp[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS score
        FROM cand c
        JOIN fn a ON a.vec_id = c.query_id
        JOIN fn b ON b.vec_id = c.neighbor_id
      ), pool AS (
        SELECT query_id, neighbor_id, score FROM (
          SELECT query_id, neighbor_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS rk
          FROM rer)
        WHERE rk <= 20
      ), docs AS (
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
      ), nd AS (
        SELECT i AS query_id, j AS neighbor_id FROM prs
        UNION ALL SELECT j, i FROM prs
      ), keep AS (
        SELECT p.query_id, p.neighbor_id, p.score FROM pool p
        WHERE NOT EXISTS (SELECT 1 FROM nd
          WHERE nd.query_id = p.query_id AND nd.neighbor_id = p.neighbor_id)
      ), rr AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM keep
      )
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM rr WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** Q169 — SEMANTIC decontamination: q160's eval-leakage screen on the
    * DENSE side (lexical shingles miss a translated or heavily reworded
    * eval item whose embedding still sits on top of a training doc —
    * the lexical and semantic screens are run together in practice,
    * exactly like the q150/q156 hard-negative pair). The bounded eval
    * fixture (vec_id % 29 < 5300, doc_id ≡ vec_id — q160's set)
    * broadcasts against one scan of the non-eval corpus embeddings;
    * every (train, eval) pair at quantized cosine ≥ 0.4 — the corpus's
    * established near-dup threshold (q38/q75/q83) — is flagged. Exact
    * quantized arithmetic, so the oracle brute-forces the same pairs
    * bit-identically.
    *
    * Shape at 100 TB: one broadcast-nested-loop scan, nq ≤ 183 by the
    * QuerySetCap argument — cost ∝ corpus × eval-suite, never
    * corpus²; the IVF/JL pruned paths (q39/q148) apply unchanged if
    * the eval suite ever grows.
    */
  private val q169 = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding")
      def isEval(c: Column) = c % 29 === 0 && c < 5300L
      val evalQ = broadcast(emb.filter(isEval($"vec_id"))
        .select($"vec_id".as("eval_doc_id"), $"embedding".as("q_emb")))
      emb.filter(!isEval($"vec_id"))
        .join(evalQ, $"vec_id" =!= $"eval_doc_id")
        .select($"vec_id".as("train_doc_id"), $"eval_doc_id",
          graft.functions.expressions.quantized_cosine($"q_emb", $"embedding")
            .as("cos"))
        .filter($"cos" >= 0.4)
        .orderBy($"train_doc_id", $"eval_doc_id")
    },
    oracle = Some("""
      WITH q0 AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS v
        FROM embeddings
      ), withn AS (
        SELECT vec_id, v,
               list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i])) AS qq
        FROM q0
      ), scored AS (
        SELECT b.vec_id AS train_doc_id, a.vec_id AS eval_doc_id,
               CAST(list_sum(list_transform(generate_series(1, len(a.v)),
                    i -> a.v[i] * b.v[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS cos
        FROM withn a JOIN withn b
          ON a.vec_id % 29 = 0 AND a.vec_id < 5300
          AND NOT (b.vec_id % 29 = 0 AND b.vec_id < 5300)
      )
      SELECT train_doc_id, eval_doc_id, cos
      FROM scored WHERE cos >= 0.4
      ORDER BY train_doc_id, eval_doc_id"""))

  /** Q152 — matryoshka (prefix-truncation) fidelity audit: how much
    * cosine similarity degrades when embeddings are served at prefix
    * dimension budgets 8/16/32 of the stored 64 — the measurement a
    * pipeline runs before adopting MRL-style truncated serving (Kusupati
    * et al. 2022), and the prefix-slicing counterpart of q147's random-
    * projection audit (JL compresses by mixing ALL dims; matryoshka by
    * dropping the tail — which one preserves THIS corpus's geometry is
    * an empirical question, hence both audits).
    *
    * Over q147's deterministic adjacent-id pair sample: per budget m,
    * the exact quantized cosine (q25's floor(x·2²⁰) convention, the
    * QuantizedCosine kernel) of the full vectors vs the m-prefix slices,
    * reporting n_pairs, mean |Δcos| and max |Δcos|. Exactness: each
    * cosine is one IEEE expression over exact longs — bit-identical on
    * both engines — so Δ, |Δ| and max are too; the MEAN uses the q85
    * fixed-point device (floor(|Δ|·10⁶) summed as exact longs, one final
    * division) so summation order can never matter. Zero-norm prefixes
    * (a vector whose first m quantized coords are all zero) produce SQL
    * null cosines (the kernel's zero-norm rule) and those pairs drop
    * from that budget's statistics on both engines.
    *
    * Shape at 100 TB: the pair sample is %31-bounded (~6% of vectors),
    * pairs form by an adjacent-id self-join on the sampled slice, and
    * the 3-budget explode triples a bounded frame — scan-dominated, no
    * corpus-sized shuffle, aggregates map-side combined to 3 rows.
    */
  private val q152 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val sample = Tables.embeddings(s, d)
        .filter($"vec_id" % 31 <= 1).select($"vec_id", $"embedding")
      val a = sample.filter($"vec_id" % 31 === 0)
        .select($"vec_id".as("a"), $"embedding".as("ea"))
      val b = sample.filter($"vec_id" % 31 === 1)
        .select($"vec_id".as("b"), $"embedding".as("eb"))
      val pairs = a.join(b, b("b") === a("a") + 1)
      pairs
        .select($"ea", $"eb",
          explode(array(lit(8L), lit(16L), lit(32L))).as("dim_budget"))
        .select($"dim_budget",
          E.quantized_cosine($"ea", $"eb").as("cf"),
          E.quantized_cosine(
            slice($"ea", lit(1), $"dim_budget".cast("int")),
            slice($"eb", lit(1), $"dim_budget".cast("int"))).as("cm"))
        .filter($"cf".isNotNull && $"cm".isNotNull)
        .select($"dim_budget",
          abs($"cf" - $"cm").as("ad"))
        .groupBy($"dim_budget")
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor($"ad" * 1e6).cast("long")).as("sum_fp"),
          max($"ad").as("max_abs_err"))
        .select($"dim_budget", $"n_pairs",
          ($"sum_fp".cast("double") / ($"n_pairs" * lit(1e6))).as("mae"),
          $"max_abs_err")
        .orderBy($"dim_budget")
    },
    oracle = Some("""
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
        FROM embeddings WHERE vec_id % 31 <= 1
      ), pr AS (
        SELECT a.xfp AS xa, b.xfp AS xb
        FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 31 = 0
      ), sums AS (
        SELECT CAST(m.dim_budget AS BIGINT) AS dim_budget,
          CAST(list_sum(list_transform(generate_series(1, 64), i -> xa[i] * xb[i])) AS BIGINT) AS fd,
          CAST(list_sum(list_transform(generate_series(1, 64), i -> xa[i] * xa[i])) AS BIGINT) AS fa,
          CAST(list_sum(list_transform(generate_series(1, 64), i -> xb[i] * xb[i])) AS BIGINT) AS fb,
          CAST(list_sum(list_transform(generate_series(1, m.dim_budget), i -> xa[i] * xb[i])) AS BIGINT) AS pd,
          CAST(list_sum(list_transform(generate_series(1, m.dim_budget), i -> xa[i] * xa[i])) AS BIGINT) AS pa,
          CAST(list_sum(list_transform(generate_series(1, m.dim_budget), i -> xb[i] * xb[i])) AS BIGINT) AS pb
        FROM pr CROSS JOIN (SELECT unnest([8, 16, 32]) AS dim_budget) m
      ), sc AS (
        SELECT dim_budget,
               CASE WHEN fa = 0 OR fb = 0 THEN NULL
                    ELSE CAST(fd AS DOUBLE) /
                         (sqrt(CAST(fa AS DOUBLE)) * sqrt(CAST(fb AS DOUBLE)))
               END AS cf,
               CASE WHEN pa = 0 OR pb = 0 THEN NULL
                    ELSE CAST(pd AS DOUBLE) /
                         (sqrt(CAST(pa AS DOUBLE)) * sqrt(CAST(pb AS DOUBLE)))
               END AS cm
        FROM sums
      )
      SELECT dim_budget, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(CAST(SUM(CAST(FLOOR(ABS(cf - cm) * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (COUNT(*) * 1e6) AS mae,
             MAX(ABS(cf - cm)) AS max_abs_err
      FROM sc WHERE cf IS NOT NULL AND cm IS NOT NULL
      GROUP BY dim_budget ORDER BY dim_budget"""))

  /** Q148 — two-stage compressed-space retrieval: JL PREFILTER + exact
    * rerank, the composition that makes q146 load-bearing and the
    * standard shape for dimensionality-reduced serving (FAISS's
    * coarse-then-refine contract with the projection as the coarse
    * stage). Stage 1 scores the request set against the 16-dim
    * projections (4× less arithmetic and 4× fewer bytes per candidate
    * than full-dim) and keeps the top-100 candidates per query; stage 2
    * re-scores ONLY those candidates with q25's exact full-dim
    * quantized cosine and emits the top-5. Both stages are
    * deterministic exact arithmetic, so the oracle replays the entire
    * composition — the approximation is purely stage 1's candidate
    * truncation.
    *
    * Measured trade (QueriesSpec, vs q25 on the same request set):
    * mean recall@5 ≈ 0.74 at a 100-of-500 candidate depth on this
    * corpus — which is NEAR-RANDOM (q26's note: top-5 cosine ≈ 0.35,
    * barely above the 1/√64 noise floor), the worst case for any
    * projection; clustered production embeddings separate far better
    * and the depth is the caller's recall lever. Scale shape: stage 1
    * is the q25 broadcast-scan over 4×-smaller vectors; stage 2 joins
    * the nq·100-bounded candidate set back to the corpus — AQE
    * broadcasts the candidate side; nothing all-pairs in full
    * dimension. */
  private val q148 = Q(
    fn = (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select($"vec_id", $"embedding")
      val pr = jlProject(emb).select($"vec_id", $"y")
      // absolutely bounded request set (q84/q137's QuerySetCap device:
      // <= 100 queries at ANY corpus size — a serving batch does not
      // grow with the stored corpus; q25 keeps the unbounded %50
      // convention as the declared brute-force-complete baseline).
      // The full-dim request embeddings ride the SAME bounded frame so
      // stage 2 never re-scans the corpus for <= 100 q_emb rows (the
      // vec_id predicate prunes the request scan's row groups).
      val reqs = emb.filter(isQuery($"vec_id") && $"vec_id" < 5000L)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val queries = broadcast(pr
        .filter(isQuery($"vec_id") && $"vec_id" < 5000L)
        .select($"vec_id".as("query_id"), $"y".as("qy")))
      // native fused dot+norms per candidate (long_cosine kernel) — the
      // three interpreted aggregate/zip_with lambdas it replaced were
      // the measured x100 ceiling (250 s over nq·n pairs)
      val stage1 = pr.join(queries, $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          graft.functions.expressions.long_cosine($"qy", $"y").as("score"))
      val cand = topK(stage1, 100).select($"query_id", $"neighbor_id")
      val reranked = cand
        .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"),
          Seq("neighbor_id"))
        .join(broadcast(reqs), Seq("query_id"))
        .select($"query_id", $"neighbor_id",
          graft.functions.expressions.quantized_cosine($"q_emb", $"embedding")
            .as("score"))
      topK(reranked, 5)
    },
    oracle = Some(s"""
      WITH q0 AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
        FROM embeddings
      ), dims AS (
        SELECT vec_id, unnest(xfp) AS qx, generate_subscripts(xfp, 1) AS pos
        FROM q0
      ), proj AS (
        SELECT vec_id, t.j,
               SUM(CASE WHEN substr('$jlSignBits',
                                    (pos - 1) * $jlK + t.j + 1, 1) = '1'
                        THEN qx ELSE -qx END) AS y
        FROM dims CROSS JOIN generate_series(0, ${jlK - 1}) t(j)
        GROUP BY vec_id, t.j
      ), projl AS (
        SELECT vec_id, list(y ORDER BY j) AS ys FROM proj GROUP BY vec_id
      ), withn AS (
        SELECT vec_id, ys,
               list_sum(list_transform(generate_series(1, $jlK),
                 i -> ys[i] * ys[i])) AS yy
        FROM projl
      ), s1 AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, $jlK),
                    i -> a.ys[i] * b.ys[i])) AS DOUBLE)
                 / (SQRT(CAST(a.yy AS DOUBLE)) * SQRT(CAST(b.yy AS DOUBLE))) AS score
        FROM withn a JOIN withn b
          ON a.vec_id % 50 = 0 AND a.vec_id < 5000 AND a.vec_id <> b.vec_id
      ), cand AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS rk
          FROM s1)
        WHERE rk <= 100
      ), fn AS (
        SELECT vec_id, xfp,
               list_sum(list_transform(generate_series(1, 64),
                 i -> xfp[i] * xfp[i])) AS qq
        FROM q0
      ), rer AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> a.xfp[i] * b.xfp[i])) AS DOUBLE)
                 / (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(b.qq AS DOUBLE))) AS score
        FROM cand c
        JOIN fn a ON a.vec_id = c.query_id
        JOIN fn b ON b.vec_id = c.neighbor_id
      ), ranked AS (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM rer)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score
      FROM ranked
      WHERE rank <= 5
      ORDER BY query_id, rank"""))

  val all: Map[String, Q] = Map(
    "q146_jl_projection" -> q146,
    "q147_jl_distance_audit" -> q147,
    "q148_jl_prefilter_knn" -> q148,
    "q152_matryoshka_audit" -> q152,
    "q156_semantic_hard_negatives" -> q156,
    "q156b_semantic_negatives_pruned" -> q156b,
    "q169_semantic_decontamination" -> q169,
    "q25_knn_cosine_exact" -> q25,
    "q26_knn_ann_lsh" -> q26,
    "q27_label_centroids" -> q27,
    "q38_neardup_embedding" -> q38,
    "q39_knn_ann_ivf" -> q39,
    "q104_ann_recall_audit" -> q104,
    "q66_embedding_dim_stats" -> q66,
    "q74_kmeans_lloyd" -> q74,
    "q128_cluster_silhouette" -> q128,
    "q75_semantic_dedup" -> q75,
    "q78_pq_adc_ann" -> q78,
    "q79_ivfpq_ann" -> q79,
    "q140_ann_index_append" -> q140,
    "q81_embedding_drift" -> q81,
    "q83_dedup_incremental_embedding" -> q83,
    "q87_prototypicality_prune" -> q87,
  )
}
