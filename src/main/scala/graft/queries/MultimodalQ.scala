package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Multimodal-column queries: binary payload metadata (declarative, no
  * decode) and the decoder-boundary frame-feature path. See
  * [[graft.multimodal.Multimodal]].
  */
object MultimodalQ {

  /** Q31 — media catalog scan: byte length, content hash, header bytes,
    * frame count from binary metadata only. Never touches a decoder —
    * the 100 TB dedup-by-checksum / catalog path.
    */
  private val q31 = Q(
    fn = (s, d) => {
      import s.implicits._
      Multimodal.mediaMetadata(Multimodal.asMedia(Tables.documents(s, d)))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id,
             CASE WHEN n_chars < 150 THEN 'image'
                  WHEN n_chars < 350 THEN 'audio'
                  ELSE 'video' END AS kind,
             CAST(strlen(text) AS BIGINT) AS byte_len,
             md5(text) AS content_md5,
             lower(hex(CAST(substr(text, 1, 8) AS BLOB))) AS header_hex,
             CAST(CEIL(strlen(text) / 64.0) AS BIGINT) AS n_frames
      FROM documents
      ORDER BY doc_id"""))

  /** Q32 — frame decode + feature extraction through the
    * [[Multimodal.FrameDecoder]] mapPartitions boundary. The stub
    * decoder's rolling checksum is byte-exact reproducible in SQL, so
    * even the imperative path gets a full oracle (ascii corpus: byte ==
    * ascii code).
    */
  private val q32 = Q(
    fn = (s, d) => {
      import s.implicits._
      Multimodal.frameFeatures(Multimodal.asMedia(Tables.documents(s, d)))
        .toDF()
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id,
             CAST(CEIL(strlen(text) / 64.0) AS INT) AS n_frames,
             CAST(LEAST(64, strlen(text)) AS INT) AS frame_bytes,
             CAST(list_reduce(list_transform(generate_series(1, strlen(text)),
                 i -> ascii(text[i:i])),
               (acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % 1000000007) AS BIGINT) AS feature_checksum
      FROM documents
      ORDER BY doc_id"""))

  /** Q43 — frame sampling (every 3rd frame) through the decoder boundary.
    * The sampled byte positions are expressible in SQL (frame index
    * (i-1)//64 ≡ 0 mod 3), so the sampling path gets a full oracle like
    * q32. Frame 0 is always sampled, so the checksum list is non-empty for
    * non-empty docs.
    */
  private val q43 = Q(
    fn = (s, d) => {
      import s.implicits._
      Multimodal.sampledFrameFeatures(
          Multimodal.asMedia(Tables.documents(s, d)), everyNth = 3)
        .toDF()
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id,
             CAST(CEIL(CEIL(strlen(text) / 64.0) / 3.0) AS INT) AS n_frames,
             CAST(LEAST(64, strlen(text)) AS INT) AS frame_bytes,
             CAST(list_reduce(list_transform(
                 list_filter(generate_series(1, strlen(text)),
                   i -> ((i - 1) // 64) % 3 = 0),
                 i -> ascii(text[i:i])),
               (acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % 1000000007) AS BIGINT) AS feature_checksum
      FROM documents
      ORDER BY doc_id"""))

  /** Q44 — per-frame resize (truncate-or-zero-pad to 32 bytes) between
    * decode and feature extraction. Truncation keeps frame-local byte
    * offsets 0..31; the final short frame zero-pads, and pad bytes fold
    * into the checksum as 0 (acc*31 steps) — all reproducible in SQL.
    */
  private val q44 = Q(
    fn = (s, d) => {
      import s.implicits._
      Multimodal.resizedFrameFeatures(Multimodal.asMedia(Tables.documents(s, d)))
        .toDF()
        .orderBy($"doc_id")
    },
    oracle = Some("""
      SELECT doc_id,
             CAST(CEIL(strlen(text) / 64.0) AS INT) AS n_frames,
             CAST(32 AS INT) AS frame_bytes,
             CAST(list_reduce(list_transform(
                 generate_series(0, CAST(CEIL(strlen(text) / 64.0) AS INT) * 32 - 1),
                 g -> CASE WHEN (g // 32) * 64 + (g % 32) + 1 <= strlen(text)
                           THEN ascii(text[((g // 32) * 64 + (g % 32) + 1):((g // 32) * 64 + (g % 32) + 1)])
                           ELSE 0 END),
               (acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % 1000000007) AS BIGINT) AS feature_checksum
      FROM documents
      ORDER BY doc_id"""))

  /** Q73 — cross-media frame-level dedup: hash every fixed-64-byte frame
    * of every payload and report, per medium, how many of its frames also
    * occur in at least one OTHER medium (q65's duplicate-span signal at
    * the binary-frame granularity — repeated intros/watermarks/silence in
    * media corpora). Pure metadata-path: frames are cut with `substring`
    * on the binary column and keyed by md5 — no decoder, codegen
    * throughout, and the q65 collapse shape (per-(doc, frame-hash) counts
    * die in the scan task; df is a count over distinct doc-frame rows;
    * both consumers share one exchange via AQE stage reuse).
    *
    * Oracle parity note: the oracle cuts frames with character `substr`
    * while the engine cuts bytes — equal because this corpus is ASCII
    * (the standing convention of the q31/q32 oracles, which md5 the text
    * directly). Real multi-byte media payloads have no text twin at all;
    * the engine's byte-frame semantics are the defined behavior.
    */
  private val q73 = Q(
    fn = (s, d) => {
      import s.implicits._
      val media = Multimodal.asMedia(Tables.documents(s, d))
      TextOps.dupFraction(
          media
            .select($"doc_id", $"content",
              explode(sequence(lit(1), greatest(length($"content"), lit(1)), lit(64)))
                .as("start"))
            .select($"doc_id",
              unhex(md5(expr("substring(content, start, 64)"))).as("key")),
          // n_frames is arithmetic in the row — ⌈len/64⌉ with the
          // empty-payload floor of 1, the exact row count of the
          // sequence explode above — so the totals leg skips the
          // single-arg overload's second frame-cut + md5 pass
          media.select($"doc_id",
            (floor((greatest(length($"content"), lit(1)) - 1) / lit(64)) + 1)
              .cast("long").as("n_spans")))
        .withColumnRenamed("n_spans", "n_frames")
        .withColumnRenamed("n_dup_spans", "n_dup_frames")
    },
    oracle = Some("""
      WITH f AS (
        SELECT doc_id,
               md5(substr(text, start, 64)) AS fk
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(strlen(text), 1), 64)) AS start
              FROM documents)),
      g AS (
        SELECT doc_id, fk, CAST(COUNT(*) AS BIGINT) AS c
        FROM f GROUP BY doc_id, fk),
      df AS (
        SELECT fk, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY fk)
      SELECT g.doc_id,
             CAST(SUM(g.c) AS BIGINT) AS n_frames,
             CAST(SUM(CASE WHEN df.df >= 2 THEN g.c ELSE 0 END) AS BIGINT) AS n_dup_frames,
             CAST(SUM(CASE WHEN df.df >= 2 THEN g.c ELSE 0 END) AS DOUBLE)
               / CAST(SUM(g.c) AS DOUBLE) AS dup_frac
      FROM g JOIN df USING (fk)
      GROUP BY g.doc_id
      ORDER BY g.doc_id"""))


  /** Q134 — PERCEPTUAL frame-level near-dup (q73's md5-exact ladder gets
    * the near rung the text family has had since q18): every full
    * 64-byte frame is hashed with the dHash difference hash
    * ([[graft.functions.expressions.DHash64]] — bit j = byte j < byte
    * j+1, monotone-invariant, so a re-encode/brightness-shift that
    * preserves byte ordering cannot escape, unlike md5), banded 8×8-bit
    * and bucket-joined exactly like q20's SimHash pass, with Hamming ≤ 7
    * verification inside the same capped in-bucket kernel
    * ([[graft.functions.expressions.SimHashBucketPairs]] — ids here are
    * frame ids doc_id·4096+frame_idx; docs are ≤ a few KB so frame_idx
    * < 4096 by orders of magnitude). 8 bands × 8 bits over a 64-bit
    * hash make the banding EXACT for Hamming ≤ 7 (pigeonhole: ≤ 7
    * flipped bits leave ≥ 1 band intact), so unlike an LSH recall
    * gamble the result is the complete pair set at the threshold.
    * Output: per document, how many of its full frames have a
    * perceptual match in at least one OTHER document (q73's
    * cross-media dup shape, perceptual edition).
    *
    * Scale shape: frames never leave their scan task until the single
    * (band, bv) exchange; the in-bucket m² sweep is the SimHash
    * construction's inherent Θ(n²/2⁸) with pathological buckets capped
    * (maxBucket's rule, replayed in the oracle); candidate pairs are
    * distinct-collapsed; every downstream aggregate is map-side
    * combined. Decoder-boundary note: the substring cut IS the
    * [[Multimodal.FixedWidthFakeDecoder]] contract (fixed 64-byte
    * slabs) expressed declaratively — MultimodalSpec pins the
    * equivalence, so a real codec swaps in behind the same boundary.
    *
    * Oracle parity: ASCII corpus ⇒ character positions == byte
    * positions (the standing q31/q32/q73 convention); the oracle
    * replays dHash bit-by-bit, the banding, the 4096 bucket cap and
    * the Hamming verify in DuckDB integer ops.
    */
  private val q134 = Q(
    fn = (s, d) => {
      import s.implicits._
      val E = graft.functions.expressions
      val media = Multimodal.asMedia(Tables.documents(s, d))
      val frames = frameHashes(media).localCheckpoint()
      val perDoc = frames.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_full_frames"))
      val banded = phashBands(frames)
      val pairs = banded.groupBy($"band", $"bv")
        .agg(collect_list(struct($"fid".as("doc_id"), $"h".as("simhash"))).as("ds"))
        .filter(size($"ds") > 1)
        .select(explode(E.simhash_bucket_pairs($"ds", 7, TextOps.maxBucket(s))).as("p"))
        .select($"p.i".as("i"), $"p.j".as("j"))
        .distinct()
        .filter(expr("(i div 4096) != (j div 4096)"))
      val matched = pairs
        .select(explode(array($"i", $"j")).as("fid")).distinct()
        .select(expr("fid div 4096").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_pdup_frames"))
      perDoc.join(matched, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_pdup_frames"))
        .select($"doc_id", $"n_full_frames", $"n_pdup_frames",
          ($"n_pdup_frames".cast("double") / $"n_full_frames").as("pdup_frac"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH fr AS (
        SELECT doc_id, doc_id * 4096 + (start - 1) // 64 AS fid,
               substr(text, start, 64) AS f
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(strlen(text), 1), 64)) AS start
              FROM documents)
        WHERE strlen(text) - start + 1 >= 64
      ), dh AS (
        SELECT doc_id, fid,
               CAST(SUM(CASE WHEN ascii(f[j+1:j+1]) < ascii(f[j+2:j+2])
                        THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS h
        FROM (SELECT doc_id, fid, f, unnest(generate_series(0, 62)) AS j FROM fr)
        GROUP BY doc_id, fid
      ), banded AS (
        SELECT fid, h, t.band, (h >> (8 * t.band)) & 255 AS bv
        FROM dh CROSS JOIN generate_series(0, 7) t(band)
      ), bandedc AS (
        SELECT fid, h, band, bv FROM (
          SELECT fid, h, band, bv,
                 row_number() OVER (PARTITION BY band, bv ORDER BY fid) AS rk
          FROM banded)
        WHERE rk <= 4096
      ), pairs AS (
        SELECT DISTINCT a.fid AS i, b.fid AS j
        FROM bandedc a JOIN bandedc b
          ON a.band = b.band AND a.bv = b.bv AND a.fid < b.fid
        WHERE bit_count(xor(a.h, b.h)) <= 7
          AND a.fid // 4096 <> b.fid // 4096
      ), mf AS (
        SELECT DISTINCT fid FROM
          (SELECT i AS fid FROM pairs UNION ALL SELECT j AS fid FROM pairs)
      ), md AS (
        SELECT fid // 4096 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_pdup_frames
        FROM mf GROUP BY 1
      ), pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_full_frames
        FROM fr GROUP BY doc_id)
      SELECT pd.doc_id, pd.n_full_frames,
             COALESCE(md.n_pdup_frames, 0) AS n_pdup_frames,
             CAST(COALESCE(md.n_pdup_frames, 0) AS DOUBLE) / pd.n_full_frames AS pdup_frac
      FROM pd LEFT JOIN md USING (doc_id)
      ORDER BY pd.doc_id"""))


  /** Q157 — keyframe selection by perceptual novelty (the frame-sampling
    * pass a vision-training pipeline runs BEFORE feature extraction:
    * q43 samples frames blindly at a stride; this keeps a frame only
    * when it LOOKS different from the last kept one, so near-static
    * media contributes few frames and fast-cutting media contributes
    * many). Per document: walk the full 64-byte frames in order, keep
    * frame 0, keep frame i iff Hamming(dHash_i, dHash of last KEPT)
    * exceeds the novelty radius. Real video sits near Hamming 0 between
    * adjacent frames, where q134's dedup radius 7 is the natural cut;
    * this ASCII stand-in corpus has NEAR-RANDOM adjacent frames
    * (Hamming ≈ 32 ± 4), so the fixture radius is 31 — the median —
    * making both the keep and drop branches real at every SF (a radius
    * of 7 kept everything: measured, and exactly the kind of vacuous
    * branch the non-vacuity spec rule exists to catch). The radius is
    * the operator's calibration lever, not part of its shape. Emits
    * (doc_id, n_frames, n_keyframes, kept indices).
    *
    * Shape at 100 TB: the ENTIRE operator is one scan-local expression
    * pass — frame hashing rides a transform lambda over in-row offsets
    * and the sequential keep-walk is an in-row aggregate() fold
    * (frames/doc is bounded by the doc-size contract, so the
    * interpreted fold touches ≲ 60 elements per row); zero shuffles,
    * zero joins, embarrassingly parallel. The oracle replays dHash
    * bit-by-bit (q134's CTEs) and the walk as a per-doc recursive CTE.
    */
  private val q157 = Q(
    fn = (s, d) => {
      import s.implicits._
      val media = Multimodal.asMedia(Tables.documents(s, d))
      val hs = media.select($"doc_id",
        expr("transform(" +
          "filter(sequence(1, greatest(length(content), 1), 64)," +
          " st -> length(content) - st + 1 >= 64)," +
          " st -> dhash64(substring(content, st, 64)))").as("hs"))
        .filter(size($"hs") >= 1)
      hs.select($"doc_id", size($"hs").cast("long").as("n_frames"),
          expr("aggregate(" +
            "slice(hs, 2, size(hs) - 1), " +
            "named_struct('lastH', hs[0], 'kept', array(0), 'idx', 0), " +
            "(acc, h) -> IF(bit_count(h ^ acc.lastH) > 31, " +
            "named_struct('lastH', h, 'kept', array_append(acc.kept, acc.idx + 1), 'idx', acc.idx + 1), " +
            "named_struct('lastH', acc.lastH, 'kept', acc.kept, 'idx', acc.idx + 1)), " +
            "acc -> acc.kept)").as("kept"))
        .select($"doc_id", $"n_frames",
          size($"kept").cast("long").as("n_keyframes"),
          array_join(transform($"kept", i => i.cast("string")), " ")
            .as("kept_idx"))
        .orderBy($"doc_id")
    },
    oracle = Some("""
      WITH RECURSIVE fr AS (
        SELECT doc_id, (start - 1) // 64 AS idx, substr(text, start, 64) AS f
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(strlen(text), 1), 64)) AS start
              FROM documents)
        WHERE strlen(text) - start + 1 >= 64
      ), dh AS (
        SELECT doc_id, idx,
               CAST(SUM(CASE WHEN ascii(f[j+1:j+1]) < ascii(f[j+2:j+2])
                        THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS h
        FROM (SELECT doc_id, idx, f, unnest(generate_series(0, 62)) AS j FROM fr)
        GROUP BY doc_id, idx
      ), walk AS (
        SELECT doc_id, idx, h AS lastH, CAST([0] AS BIGINT[]) AS kept
        FROM dh WHERE idx = 0
        UNION ALL
        SELECT d.doc_id, d.idx,
               CASE WHEN bit_count(xor(d.h, w.lastH)) > 31 THEN d.h ELSE w.lastH END,
               CASE WHEN bit_count(xor(d.h, w.lastH)) > 31
                    THEN list_append(w.kept, d.idx) ELSE w.kept END
        FROM walk w JOIN dh d ON d.doc_id = w.doc_id AND d.idx = w.idx + 1
      ), lastf AS (
        SELECT doc_id, MAX(idx) AS mi FROM dh GROUP BY doc_id
      )
      SELECT w.doc_id, CAST(l.mi + 1 AS BIGINT) AS n_frames,
             CAST(len(w.kept) AS BIGINT) AS n_keyframes,
             array_to_string(w.kept, ' ') AS kept_idx
      FROM walk w JOIN lastf l ON l.doc_id = w.doc_id AND w.idx = l.mi
      ORDER BY w.doc_id"""))

  /** Every FULL 64-byte frame of `media` (doc_id, content) with its
    * dHash: (doc_id, fid, h), fid = doc_id·4096 + frame index — the
    * shared stage under q134's within-corpus pass and q136's
    * index/probe legs (identical expressions, so an arriving frame
    * hashes exactly as its stored near-duplicates were indexed —
    * the bandsOf contract from the MinHash family). */
  private[graft] def frameHashes(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .select($"doc_id", $"content",
        explode(sequence(lit(1), greatest(length($"content"), lit(1)), lit(64)))
          .as("start"))
      .filter(length($"content") - $"start" + 1 >= 64)
      // the packing admits < 4096 frames per doc (docs are "a few KB" by
      // contract); a >= 256 KiB doc would alias its high frames into the
      // next doc_id's fid range, so the bound FAILS LOUDLY instead
      .select($"doc_id",
        expr("CASE WHEN (start - 1) div 64 < 4096" +
          " THEN doc_id * 4096 + (start - 1) div 64" +
          " ELSE raise_error(concat('frameHashes: doc ', doc_id," +
          " ' has >= 4096 full frames; fid packing would alias')) END")
          .as("fid"),
        graft.functions.expressions.dhash64(
          expr("substring(content, start, 64)")).as("h"))
  }

  /** 8×8-bit banding of a [[frameHashes]] frame: (fid, h, band, bv). */
  private[graft] def phashBands(frames: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = frames.sparkSession
    import s.implicits._
    frames.select($"fid", $"h",
        explode(array((0 until 8).map(b => struct(lit(b).as("band"),
          shiftright($"h", b * 8).bitwiseAND(255).as("bv"))): _*)).as("bb"))
      .select($"fid", $"h", $"bb.band".as("band"), $"bb.bv".as("bv"))
  }

  /** 4×16-bit multi-index-hashing banding (Norouzi et al., CVPR 2012)
    * of a [[frameHashes]] frame: (fid, h, band ∈ 0..3, bv — a 16-bit
    * substring of h). The SERVING index's layout: a Hamming ≤ 7 pair
    * has, by pigeonhole over 4 chunks, some chunk with ≤ 1 differing
    * bit, so probing each query chunk value plus its 16 one-bit
    * perturbations finds EVERY true match — exact like the 8×8-bit
    * banding, but 2¹⁶ buckets per band instead of 2⁸ make the
    * candidate join ~30× more selective (the r12 x100 replay measured
    * the 8-bit scheme at 764 s: 256 buckets over millions of frames is
    * a quadratic blow-up by construction). */
  private[graft] def mihBands(frames: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = frames.sparkSession
    import s.implicits._
    frames.select($"fid", $"h",
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright($"h", b * 16).bitwiseAND(65535).as("bv"))): _*)).as("bb"))
      .select($"fid", $"h", $"bb.band".as("band"), $"bb.bv".as("bv"))
  }

  /** The persisted perceptual frame index over a stored corpus: one
    * table (band, bv, fid, h) — 4 MIH rows per stored full frame
    * ([[mihBands]]), carrying the full hash so Hamming verification
    * never touches stored content (the
    * [[graft.queries.TextOps.MinHashIndex]] shape with bands and
    * verification operand fused — h IS 8 bytes, so a separate
    * shingles-style table would save nothing). Cached per JVM over the
    * `doc_id % 10 < 8` stored split (q82/q95/q135's split
    * convention). */
  private[graft] def framePhashIndexCached(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.parquet(s, IndexCache.artifact("phashidx", d) { p =>
      val stored = Multimodal.asMedia(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 < 8))
      mihBands(frameHashes(stored))
        .select($"band", $"bv", $"fid", $"h")
        .write.mode("overwrite").parquet(p)
    })
  }

  /** Takedown half of the frame-index maintenance: fids pack
    * doc_id·4096 + frame, so removing documents is one anti-join on the
    * decoded doc id — per-frame rows are independent and no survivor
    * changes ([[graft.queries.TextOps.removeFromMinHashIndex]]'s
    * rule at frame granularity). */
  private[graft] def removeFromFramePhashIndex(
      idxBands: org.apache.spark.sql.DataFrame,
      removeDocIds: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    import removeDocIds.sparkSession.implicits._
    idxBands
      .withColumn("__doc", expr("fid div 4096"))
      .join(removeDocIds.select($"doc_id".as("__doc")), Seq("__doc"), "left_anti")
      .drop("__doc")
  }

  /** Screen an ARRIVING media set (doc_id, content) against a persisted
    * perceptual frame index: per arriving doc, how many of its full
    * frames have a Hamming ≤ `maxHam` match among STORED frames —
    * q82's dedupAgainstIndex shape at the frame/perceptual granularity,
    * completing the incremental-admission matrix (q95 exact text,
    * q82 MinHash text, q83 embedding, q136 perceptual frame).
    *
    * Scale shape: the probe runs at the DISTINCT-HASH level (matching
    * is a pure function of the 64-bit hash) through the [[mihBands]]
    * multi-index — each distinct arriving hash probes, per 16-bit
    * band, its chunk value plus all 16 one-bit perturbations (17
    * probes × 4 bands = 68 bucket lookups). Pigeonhole over 4 chunks:
    * a Hamming ≤ 7 pair has a chunk with ≤ 1 differing bit, so the
    * probe set covers EVERY true match and the Hamming filter
    * verifies exactly — the report equals the brute-force new×old
    * comparison, which is precisely what the DuckDB oracle replays
    * (via the equivalent 8×8-bit pigeonhole — both candidate schemes
    * are supersets of the true match set, so the verified results are
    * identical). The arriving snapshot is bounded by contract; AQE
    * broadcasts its probe side at any realistic batch size and
    * degrades to a shuffle join beyond (no hint, verifyPairs' rule).
    */
  private[graft] def frameDupAgainstIndex(newMedia: org.apache.spark.sql.DataFrame,
      idxBands: org.apache.spark.sql.DataFrame, maxHam: Int = 7)
      : org.apache.spark.sql.DataFrame = {
    val s = newMedia.sparkSession
    import s.implicits._
    // persist (not localCheckpoint): the frame-hash table feeds both the
    // candidate probe and the per-doc frame count, and is released in the
    // finally below — a per-micro-batch caller (runFramePhashGateStream)
    // must not accumulate pinned blocks across the stream's lifetime.
    // The final localCheckpoint materializes the BOUNDED per-doc report
    // before the unpersist; its blocks are ContextCleaner-collected when
    // the returned frame goes out of scope (dedupAgainstIndex's shape).
    // MIH's single-perturbation probe set covers Hamming ≤ 7 over 4
    // chunks; a larger radius would need a wider perturbation
    // enumeration — fail loudly rather than silently lose recall
    require(maxHam <= 7,
      s"frameDupAgainstIndex: maxHam=$maxHam exceeds the 4x16-bit " +
        "multi-index's single-bit probe guarantee (<= 7)")
    val fresh = frameHashes(newMedia).persist()
    try {
      // distinct-hash level (matching is a pure function of h), served
      // SCAN-LOCAL (MihMatchScan — the LshScanTopK/PqScanTopK shape):
      // the arriving batch's distinct hashes broadcast once; each task
      // scans its slice of the STORED index, probes each index row's
      // chunk + 16 one-bit perturbations against the broadcast
      // (band, chunk) index — the symmetric side of the same Hamming ≤ 1
      // pigeonhole cover — verifies bit_count ≤ maxHam exactly, and
      // accumulates one BITSET over arriving slots. The former shape
      // exploded 68 probe rows per arriving hash through a shuffle join
      // plus two distinct exchanges (the r12 x100 replay measured the
      // 8-bit ancestor at 764 s); here the only exchange is one bitset
      // per task, and the matched-hash set is identical.
      val newHashes: graft.functions.expressions.MihQuerySet =
        fresh.select($"h").distinct().as[Long].collect().sorted
      val bc = idxBands.sparkSession.sparkContext.broadcast(newHashes)
      val matchedH =
        try {
          idxBands
            .agg(graft.functions.expressions.mih_match_scan(bc, maxHam,
              $"band".cast("int"), $"bv".cast("int"), $"h").as("t"))
            .select(explode($"t").as("h"))
            // bounded (≤ arriving distinct hashes); materialize so the
            // broadcast reclaims now (pqAdcTopK's cleanup rule)
            .localCheckpoint()
        } finally bc.destroy()
      val matched = fresh.join(matchedH, Seq("h"), "left_semi")
        .select(expr("fid div 4096").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_matched_frames"))
      fresh.groupBy($"doc_id").agg(count(lit(1)).as("n_full_frames"))
        .join(matched, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_matched_frames"))
        .select($"doc_id", $"n_full_frames", $"n_matched_frames",
          ($"n_matched_frames".cast("double") / $"n_full_frames").as("match_frac"))
        .orderBy($"doc_id")
        .localCheckpoint()
    } finally fresh.unpersist()
  }

  /** Q136 — perceptual frame ADMISSION: the stored 80% of the corpus
    * indexed once ([[framePhashIndexCached]]), the arriving 20%
    * screened against it ([[frameDupAgainstIndex]]). The multimodal
    * twin of q82's text admission and q83's embedding admission; the
    * streaming twin ([[graft.streaming.Pipeline.runFramePhashGateStream]])
    * loads the SAME artifact and filters arriving micro-batches
    * through the same serving function.
    */
  private val q136 = Q(
    fn = (s, d) => {
      import s.implicits._
      val arriving = Multimodal.asMedia(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .filter($"doc_id" % 10 >= 8))
      frameDupAgainstIndex(arriving, framePhashIndexCached(s, d))
    },
    oracle = Some("""
      WITH fr AS (
        SELECT doc_id, doc_id * 4096 + (start - 1) // 64 AS fid,
               substr(text, start, 64) AS f
        FROM (SELECT doc_id, text,
                unnest(generate_series(1, greatest(strlen(text), 1), 64)) AS start
              FROM documents)
        WHERE strlen(text) - start + 1 >= 64
      ), dh AS (
        SELECT doc_id, fid,
               CAST(SUM(CASE WHEN ascii(f[j+1:j+1]) < ascii(f[j+2:j+2])
                        THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS h
        FROM (SELECT doc_id, fid, f, unnest(generate_series(0, 62)) AS j FROM fr)
        GROUP BY doc_id, fid
      ), ab AS (
        SELECT fid, h, t.band, (h >> (8 * t.band)) & 255 AS bv
        FROM dh CROSS JOIN generate_series(0, 7) t(band)
        WHERE doc_id % 10 >= 8
      ), sb AS (
        SELECT fid, h, t.band, (h >> (8 * t.band)) & 255 AS bv
        FROM dh CROSS JOIN generate_series(0, 7) t(band)
        WHERE doc_id % 10 < 8
      ), cand AS (
        SELECT DISTINCT ab.fid AS nf, ab.h AS hn, sb.fid AS of, sb.h AS ho
        FROM ab JOIN sb ON ab.band = sb.band AND ab.bv = sb.bv
      ), m AS (
        SELECT nf // 4096 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_frames
        FROM (SELECT DISTINCT nf FROM cand WHERE bit_count(xor(hn, ho)) <= 7)
        GROUP BY 1
      ), pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_full_frames
        FROM fr WHERE doc_id % 10 >= 8 GROUP BY doc_id)
      SELECT pd.doc_id, pd.n_full_frames,
             COALESCE(m.n_matched_frames, 0) AS n_matched_frames,
             CAST(COALESCE(m.n_matched_frames, 0) AS DOUBLE) / pd.n_full_frames AS match_frac
      FROM pd LEFT JOIN m USING (doc_id)
      ORDER BY pd.doc_id"""))

  val all: Map[String, Q] = Map(
    "q31_media_metadata" -> q31,
    "q32_media_frame_features" -> q32,
    "q43_media_frame_sample" -> q43,
    "q44_media_frame_resize" -> q44,
    "q73_frame_dedup" -> q73,
    "q134_frame_phash_dedup" -> q134,
    "q157_keyframe_selection" -> q157,
    "q136_frame_phash_admit" -> q136,
  )
}
