package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.KernelColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the engine's hot per-row kernels.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`) evaluate
  * their lambdas interpreted — fine for a pass or two, but a 64-permutation
  * MinHash or a rolling-hash fingerprint over every character is thousands
  * of boxed lambda invocations per row. These expressions run the same
  * math as one tight primitive loop per row and stay inside whole-stage
  * codegen (the generated code calls straight into the typed kernel; no
  * Row boxing, no UDF serialization) — preference tier (b) of the
  * build-vs-custom ladder: compose built-ins first, drop
  * to a custom Expression only where built-ins can't express it
  * efficiently.
  *
  * Every kernel is bit-compatible with the declarative form it replaced,
  * so the DuckDB oracles are unchanged.
  */
object expressions {

  private[functions] val P = 1000000007L

  /** SplitMix64 mix — shared deterministic "randomness" for permutation
    * tables and LSH hyperplane signs (also used by VectorOps). */
  private[graft] def splitmix(v: Long): Long = {
    var x = v + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private[functions] def permA(n: Int): Array[Long] =
    (0 until n).map(p => math.floorMod(splitmix(2L * p), P - 1) + 1).toArray
  private[functions] def permB(n: Int): Array[Long] =
    (0 until n).map(p => math.floorMod(splitmix(2L * p + 1), P)).toArray

  // ExpectsInputTypes is sql-private in Spark 4; a manual check gives the
  // same analysis-time error instead of a runtime ClassCastException
  private def requireType(e: Expression, expected: DataType, what: String): TypeCheckResult =
    if (DataType.equalsIgnoreNullability(e.dataType, expected)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$what expects ${expected.simpleString}, got ${e.dataType.simpleString}")

  /** array<string> shingles (or array<long> of their xxhash64 values) →
    * array<long> MinHash signature: one xxhash64 (seed 42, == SQL
    * `xxhash64`) per string element — skipped when the caller passes
    * pre-hashed longs — then nPerm (a*h+b) mod P minima updated in a
    * single pass. The min-reduction is exact integer math, so signatures
    * are identical for a string array and its hashed form in any order.
    */
  case class MinHashSignature(child: Expression, nPerm: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private def overLongs = DataType.equalsIgnoreNullability(child.dataType, ArrayType(LongType))
    override def checkInputDataTypes(): TypeCheckResult =
      if (overLongs) TypeCheckResult.TypeCheckSuccess
      else requireType(child, ArrayType(StringType), "minhash_signature")
    @transient private lazy val a = permA(nPerm)
    @transient private lazy val b = permB(nPerm)
    @transient private lazy val hashed = overLongs

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val mins = Array.fill(nPerm)(Long.MaxValue)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        // null elements contribute nothing (SQL arrays may carry them)
        if (!arr.isNullAt(i)) {
          val h =
            if (hashed) math.floorMod(arr.getLong(i), P)
            else math.floorMod(
              XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L), P)
          var p = 0
          while (p < nPerm) {
            val v = (a(p) * h + b(p)) % P
            if (v < mins(p)) mins(p) = v
            p += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mhs", this, classOf[MinHashSignature].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  }

  /** string → array<string>: distinct word k-gram shingles in
    * first-occurrence order. Bit-compatible with
    * `array_distinct(transform(sequence(...), i => concat_ws(" ",
    * slice(split(text, " "), i, k))))` — including empty tokens from
    * repeated spaces (`split(sep, -1)` semantics). Returns an empty array
    * below k words (callers filter on `size > 0`).
    */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "word_shingles")

    override def nullSafeEval(input: Any): Any = {
      val words = input.toString.split(" ", -1)
      if (words.length < k) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ws", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** string → array<string> of ALL character `n`-gram OCCURRENCES (no
    * dedup, document order) — the feature pass of the trained language
    * classifier (q100). Semantics are exactly DuckDB's
    * `substr(text, i, n) for i in 1..len-n+1` over code units (the
    * corpus is ASCII, where Java chars, Unicode code points and bytes
    * coincide; on supplementary-plane text Java's UTF-16 units would
    * diverge from DuckDB's code points — documented, not hit). One
    * native pass replaces a `transform(sequence(...), i -> substr)`
    * HOF that evaluates an interpreted lambda per position per row.
    */
  case class CharGrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "char_grams")

    override def nullSafeEval(input: Any): Any = {
      val str = input.toString
      val len = str.length
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val out = new Array[AnyRef](len - n + 1)
      var i = 0
      while (i <= len - n) {
        out(i) = org.apache.spark.unsafe.types.UTF8String
          .fromString(str.substring(i, i + n))
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cg", this, classOf[CharGrams].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): CharGrams = copy(child = c)
  }

  /** string → array<struct<g,c>> of DISTINCT character `n`-grams with
    * their occurrence counts (first-occurrence order) — [[CharGrams]]
    * followed by the per-document count fold, in ONE scan-local pass
    * (the [[WordStats]] recipe). This is the langid raw-store feature
    * pass (LangId.langIdArtifact): emitting per-doc (g, c) pairs
    * directly makes the tgpost store map-side — the old
    * explode(char_grams) → groupBy(doc, lang, g) shuffled one row per
    * TRIGRAM OCCURRENCE (corpus×chars rows) where this shuffles
    * nothing, and the downstream (lang, g) projection now combines
    * per-doc DISTINCT grams (≤ min(|doc|, |vocab|) per doc) instead of
    * occurrences. Counts are exact longs, bit-identical to the
    * groupBy/count form at every site (order-free integer addition).
    */
  case class CharGramCounts(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("c", LongType, nullable = false))), containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "char_gram_counts")

    override def nullSafeEval(input: Any): Any = {
      val str = input.toString
      val len = str.length
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val counts = new java.util.LinkedHashMap[String, Long]()
      var i = 0
      while (i <= len - n) {
        val g = str.substring(i, i + n)
        counts.put(g, counts.getOrDefault(g, 0L) + 1L)
        i += 1
      }
      val out = new Array[AnyRef](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey),
            e.getValue.longValue()))
        j += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cgc", this, classOf[CharGramCounts].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): CharGramCounts = copy(child = c)
  }

  /** string → struct<n_words, n_distinct, top_c, total2, d2> (all long):
    * the per-document repetition statistics of q48/q56 in ONE native
    * pass — total word tokens, distinct tokens, the most frequent token's
    * count, 2-gram slots (n−1) and distinct 2-grams. Token semantics are
    * exactly `split(text, " ")` (single space, trailing empties kept —
    * Java `split(sep, -1)`), so every count is bit-identical to the
    * declarative form this replaces: an explode → two-level groupBy that
    * shuffled one row PER WORD OCCURRENCE across the cluster plus an
    * interpreted 2-gram lambda pass. This kernel never leaves the scan
    * task — per-document quality scoring at 100 TB is embarrassingly
    * parallel and now costs zero shuffle bytes.
    */
  case class WordStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("top_c", LongType, nullable = false),
      StructField("total2", LongType, nullable = false),
      StructField("d2", LongType, nullable = false)))
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "word_stats")

    override def nullSafeEval(input: Any): Any = {
      val toks = input.toString.split(" ", -1)
      val counts = new java.util.HashMap[String, Long]()
      var top = 0L
      var i = 0
      while (i < toks.length) {
        val c = counts.getOrDefault(toks(i), 0L) + 1L
        counts.put(toks(i), c)
        if (c > top) top = c
        i += 1
      }
      val grams = new java.util.HashSet[String]()
      i = 0
      while (i < toks.length - 1) {
        grams.add(toks(i) + " " + toks(i + 1))
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](toks.length.toLong, counts.size.toLong, top,
          (toks.length - 1).toLong, grams.size.toLong))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wst", this, classOf[WordStats].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): WordStats = copy(child = c)
  }

  /** (array<float>, array<float>) → double: cosine over 2^20-quantized
    * int64 vectors (bit-compatible with the `floor(x*2^20)` declarative
    * form and its DuckDB oracle — see VectorOps).
    */
  case class QuantizedCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    // null-on-null-component (see nullSafeEval), beyond child nullability
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(FloatType), "quantized_cosine")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(FloatType), "quantized_cosine")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      // mismatched dimensionality means corrupt/mixed embeddings: surface
      // SQL null (like the null-component path) rather than a plausible
      // but wrong truncated score
      if (a.numElements() != b.numElements()) return null
      val n = a.numElements()
      var dab = 0L; var daa = 0L; var dbb = 0L
      var i = 0
      while (i < n) {
        // a null component makes the cosine undefined — return SQL null
        // rather than silently reading it as 0
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val qa = math.floor(a.getFloat(i).toDouble * 1048576.0).toLong
        val qb = math.floor(b.getFloat(i).toDouble * 1048576.0).toLong
        dab += qa * qb; daa += qa * qa; dbb += qb * qb
        i += 1
      }
      // zero-norm vector → SQL null (mirroring the mismatch rule) rather
      // than NaN, which sorts FIRST under `desc` and would let one
      // degenerate embedding pollute every top-k candidate list
      if (daa == 0L || dbb == 0L) return null
      dab.toDouble / (math.sqrt(daa.toDouble) * math.sqrt(dbb.toDouble))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("qc", this, classOf[QuantizedCosine].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"""Object qcRes = $ref.nullSafeEval($l, $r);
           |if (qcRes == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Double) qcRes).doubleValue(); }""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedCosine =
      copy(left = l, right = r)
  }

  /** (array<long>, array<long>) → double: cosine over ALREADY-quantized
    * int64 vectors — [[QuantizedCosine]]'s arithmetic with the
    * quantization step removed, for vectors that live in fixed-point
    * form (the JL projections of VectorOps.jlProject). One fused pass
    * replaces three interpreted aggregate/zip_with lambdas per pair —
    * the measured stage-1 ceiling of q148 at x100 (250 s → the pair
    * loop is 16 multiply-adds per candidate). Bit-compatible with
    * `CAST(list_sum(a*b) AS DOUBLE) / (SQRT(CAST(Σa² AS DOUBLE)) *
    * SQRT(CAST(Σb² AS DOUBLE)))` — the oracle form. */
  case class LongCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(LongType), "long_cosine")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "long_cosine")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (a.numElements() != b.numElements()) return null
      val n = a.numElements()
      var dab = 0L; var daa = 0L; var dbb = 0L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val qa = a.getLong(i)
        val qb = b.getLong(i)
        dab += qa * qb; daa += qa * qa; dbb += qb * qb
        i += 1
      }
      // zero-norm projection → SQL null, not NaN (NaN sorts first under
      // `desc`, polluting stage-1 candidate lists; see QuantizedCosine above)
      if (daa == 0L || dbb == 0L) return null
      dab.toDouble / (math.sqrt(daa.toDouble) * math.sqrt(dbb.toDouble))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("lc", this, classOf[LongCosine].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"""Object lcRes = $ref.nullSafeEval($l, $r);
           |if (lcRes == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Double) lcRes).doubleValue(); }""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LongCosine =
      copy(left = l, right = r)
  }

  /** string → array<long> winnowing fingerprint: rolling polynomial hash
    * (base 31 mod 1e9+7) over char k-grams, distinct minima of sliding
    * windows of `win` (first-occurrence order, matching `array_distinct`).
    * Bit-compatible with the nested-transform form and its oracle.
    */
  case class WinnowFingerprint(child: Expression, k: Int, win: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "winnow_fingerprint")

    override def nullSafeEval(input: Any): Any = {
      val s = input.toString
      val n = s.length
      if (n < k + win - 1) return new GenericArrayData(Array.empty[Long])
      val m = n - k + 1
      val kh = new Array[Long](m)
      var i = 0
      while (i < m) {
        var acc = 0L
        var j = 0
        while (j < k) { acc = (acc * 31 + s.charAt(i + j).toInt) % P; j += 1 }
        kh(i) = acc
        i += 1
      }
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      i = 0
      while (i <= m - win) {
        var mn = kh(i)
        var j = 1
        while (j < win) { if (kh(i + j) < mn) mn = kh(i + j); j += 1 }
        seen.add(mn)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wfp", this, classOf[WinnowFingerprint].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): WinnowFingerprint = copy(child = c)
  }

  /** array<string> shingles (or array<long> of their xxhash64 values) →
    * long SimHash: one xxhash64 (seed 42, == SQL `xxhash64`) per string
    * element — skipped for pre-hashed longs; 64 signed bit-counters
    * updated in a single pass; bit i of the result is set iff counter i is
    * positive. The counter reduction is exact integer math, so the result
    * is identical for a string array and its hashed form in any order.
    *
    * Bit-compatible with the declarative form it replaced (64 interpreted
    * `aggregate()` lambda passes over `transform(sh, xxhash64)` — the last
    * of the round-1 interpreted-HOF bottlenecks): a null element hashes to
    * the seed (42), exactly as SQL `xxhash64(NULL)` does inside the old
    * `transform`; an empty array yields 0 (no counter positive).
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    private def overLongs = DataType.equalsIgnoreNullability(child.dataType, ArrayType(LongType))
    override def checkInputDataTypes(): TypeCheckResult =
      if (overLongs) TypeCheckResult.TypeCheckSuccess
      else requireType(child, ArrayType(StringType), "simhash64")
    @transient private lazy val hashed = overLongs

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val h =
          if (arr.isNullAt(i)) 42L
          else if (hashed) arr.getLong(i)
          else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sim |= (1L << b)
        b += 1
      }
      sim
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sh64", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ((Long) $ref.nullSafeEval($c)).longValue();")
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }


  /** binary → long: 64-byte-frame difference hash (dHash, the classic
    * perceptual-hash family member — Krawetz's "Kind of Like That"
    * construction re-derived for byte frames): bit j of the result is
    * set iff unsigned byte j < byte j+1, for j = 0..min(len−2, 62).
    * Monotone-invariant: any order-preserving brightness/gain shift of
    * the frame's bytes leaves every comparison — and so the hash —
    * unchanged, which is exactly why dHash survives re-encodes that
    * break md5-exact frame dedup (q73 vs q134). Bit 63 is never set, so
    * the value is non-negative and shift/band arithmetic needs no sign
    * care. Frames shorter than 2 bytes hash to 0.
    */
  case class DHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, BinaryType, "dhash64")

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[Array[Byte]]
      var h = 0L
      var j = 0
      val n = math.min(b.length - 1, 63)
      while (j < n) {
        if ((b(j) & 0xff) < (b(j + 1) & 0xff)) h |= (1L << j)
        j += 1
      }
      h
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, { c =>
        val h = ctx.freshName("dh")
        val n = ctx.freshName("dn")
        val j = ctx.freshName("dj")
        s"""
        long $h = 0L;
        int $n = java.lang.Math.min($c.length - 1, 63);
        for (int $j = 0; $j < $n; $j++) {
          if (($c[$j] & 0xff) < ($c[$j + 1] & 0xff)) $h |= (1L << $j);
        }
        ${ev.value} = $h;
        """
      })
    override protected def withNewChildInternal(c: Expression): DHash64 = copy(child = c)
  }

  /** string → array<long>: the sorted xxhash64 values of the distinct word
    * k-gram shingles — `array_sort(transform(word_shingles(text),
    * xxhash64))` fused into one native pass (both `transform`'s lambda and
    * `array_sort` evaluate interpreted per element as higher-order
    * functions). Dedup is by shingle STRING (two distinct shingles whose
    * hashes collide keep both longs), exactly like the composed form; the
    * bit-parity is spec-asserted.
    */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "shingle_hashes")

    override def nullSafeEval(input: Any): Any = {
      val words = input.toString.split(" ", -1)
      if (words.length < k) return new GenericArrayData(Array.empty[Long])
      val seen = new java.util.HashSet[String]()
      val hashes = new Array[Long](words.length - k + 1)
      var nh = 0
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        val s = sb.toString
        if (seen.add(s)) {
          hashes(nh) = XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType, 42L)
          nh += 1
        }
        i += 1
      }
      val out = java.util.Arrays.copyOf(hashes, nh)
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shh", this, classOf[ShingleHashes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  }

  /** text → array<long>: xxhash64 (seed 42 — Spark's `xxhash64`
    * default) of EVERY adjacent single-space word pair, one occurrence
    * per slot, in one tight byte pass. Because the word separator is a
    * single 0x20, the bigram "w_i w_{i+1}" occupies a CONTIGUOUS byte
    * span of the original string, so the hash runs directly over the
    * input buffer — no split, no per-occurrence String/array
    * construction, no interpreted higher-order lambda (the transform
    * form this replaced was the measured q99b sketch-pass ceiling).
    * Bit-parity with `xxhash64(concat_ws(' ', w_i, w_{i+1}))` under
    * `split(text, ' ', -1)` word semantics (empty words included) is
    * pinned in PropertySpec. UTF-8 multi-byte sequences never contain
    * 0x20, so the byte scan is code-point safe.
    */
  case class BigramHashes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "bigram_hashes")

    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val nBytes = u.numBytes
      var spaces = 0
      var i = 0
      while (i < nBytes) { if (u.getByte(i) == 0x20) spaces += 1; i += 1 }
      if (spaces == 0) return new GenericArrayData(Array.empty[Long])
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val out = new Array[Long](spaces)
      var prevStart = 0 // start of word j
      var curStart = -1 // start of word j+1 (valid once the first space passed)
      var bi = 0
      i = 0
      while (i <= nBytes) {
        if (i == nBytes || u.getByte(i) == 0x20) {
          if (curStart >= 0) {
            out(bi) = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(base, off + prevStart, i - prevStart, 42L)
            bi += 1
            prevStart = curStart
          }
          curStart = i + 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bgh", this, classOf[BigramHashes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): BigramHashes = copy(child = c)
  }

  /** text → array<struct<bg: string, h: long>>: every adjacent word
    * pair as (the bigram string, its [[BigramHashes]] span hash), same
    * single byte pass; the string is the span bytes cloned out of the
    * input buffer (one bounded copy — never a reference into the
    * reusable row buffer). The string-free hash sibling is the cheap
    * pass; this one exists for consumers that must group EXACTLY on the
    * bigram (q99b's recount, `bigramsOf`'s LM/PMI tables).
    */
  case class BigramSpans(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("bg", StringType, nullable = false),
        StructField("h", LongType, nullable = false))),
      containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "bigram_spans")

    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val nBytes = u.numBytes
      var spaces = 0
      var i = 0
      while (i < nBytes) { if (u.getByte(i) == 0x20) spaces += 1; i += 1 }
      if (spaces == 0)
        return new GenericArrayData(Array.empty[Any])
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val out = new Array[Any](spaces)
      var prevStart = 0
      var curStart = -1
      var bi = 0
      i = 0
      while (i <= nBytes) {
        if (i == nBytes || u.getByte(i) == 0x20) {
          if (curStart >= 0) {
            val len = i - prevStart
            val bg = org.apache.spark.unsafe.types.UTF8String
              .fromAddress(base, off + prevStart, len).clone()
            val h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(base, off + prevStart, len, 42L)
            out(bi) = org.apache.spark.sql.catalyst.InternalRow(bg, h)
            bi += 1
            prevStart = curStart
          }
          curStart = i + 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bgs", this, classOf[BigramSpans].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): BigramSpans = copy(child = c)
  }

  /** array<float> → array<double>: the exact 2^20 quantization
    * `transform(v, x => floor(x.cast("double") * 2^20))` as one native
    * pass (the lambda evaluates interpreted per element as a higher-order
    * function). Element nulls pass through as nulls, exactly like the
    * lambda form; output stays double so downstream aggregation dtypes
    * are unchanged.
    */
  case class QuantizeVec(child: Expression, scale: Double)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(FloatType), "quantize_vec")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        out(i) =
          if (arr.isNullAt(i)) null
          else java.lang.Double.valueOf(math.floor(arr.getFloat(i).toDouble * scale))
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("qv", this, classOf[QuantizeVec].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): QuantizeVec = copy(child = c)
  }

  /** (array<long>, array<long>) → long: count of DISTINCT values common to
    * two ascending-sorted long arrays, via a single merge pass (duplicate
    * runs are skipped on both sides). The set-intersection-size core of
    * near-dup verification: with shingle sets represented as sorted
    * xxhash64 arrays, this replaces `size(array_intersect(...))` over
    * string arrays — no string comparison, no hash-set build per row.
    * Inputs MUST be sorted ascending (callers build them with
    * `array_sort`); output on unsorted input is unspecified.
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(LongType), "sorted_intersect_count")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "sorted_intersect_count")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      val m = b.numElements()
      var i = 0; var j = 0; var c = 0L
      while (i < n && j < m) {
        val av = a.getLong(i)
        val bv = b.getLong(j)
        if (av < bv) i += 1
        else if (av > bv) j += 1
        else {
          c += 1
          while (i < n && a.getLong(i) == av) i += 1
          while (j < m && b.getLong(j) == av) j += 1
        }
      }
      c
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sic", this, classOf[SortedIntersectCount].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"${ev.value} = ((Long) $ref.nullSafeEval($l, $r)).longValue();")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)
  }

  /** [[SortedIntersectCount]]'s elements sibling: (array<long>,
    * array<long>) → array<long> of the DISTINCT values common to two
    * ascending-sorted long arrays, in ascending order, one merge pass.
    * For callers that need the intersection's IDENTITY, not just its
    * size — q117 attributes each triangle to its third corner from this.
    * Same contract: inputs must be sorted ascending or the output is
    * unspecified.
    */
  case class SortedIntersect(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(LongType), "sorted_intersect")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "sorted_intersect")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      val m = b.numElements()
      val out = new Array[Long](math.min(n, m))
      var i = 0; var j = 0; var c = 0
      while (i < n && j < m) {
        val av = a.getLong(i)
        val bv = b.getLong(j)
        if (av < bv) i += 1
        else if (av > bv) j += 1
        else {
          out(c) = av; c += 1
          while (i < n && a.getLong(i) == av) i += 1
          while (j < m && b.getLong(j) == av) j += 1
        }
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, c))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("si", this, classOf[SortedIntersect].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($l, $r);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersect =
      copy(left = l, right = r)
  }

  /** (array<long>, array<long>) → long: Dynamic Time Warping distance
    * with absolute-difference cost (Sakoe & Chiba, IEEE TASSP 1978) —
    * q122's trajectory-similarity core. Classic two-row DP, all integer
    * arithmetic: D[0][0] = 0, first row/column INF (= 10^15, far above
    * any real path cost yet overflow-safe under addition), D[i][j] =
    * |a_i − b_j| + min(D[i−1][j], D[i][j−1], D[i−1][j−1]). The DuckDB
    * oracle replays the SAME recurrence (recursive CTE over i,
    * list_reduce over j, same sentinel), so results hash-match exactly.
    * O(n·m) per row — callers bound series length (daily curves:
    * ≤ days per window).
    */
  case class DtwDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(LongType), "dtw_dist")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "dtw_dist")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      val m = b.numElements()
      val Inf = 1000000000000000L
      var prev = new Array[Long](m + 1)
      var cur = new Array[Long](m + 1)
      var j = 1
      while (j <= m) { prev(j) = Inf; j += 1 }
      var i = 1
      while (i <= n) {
        cur(0) = Inf
        val ai = a.getLong(i - 1)
        j = 1
        while (j <= m) {
          val c = math.abs(ai - b.getLong(j - 1))
          cur(j) = c + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dtw", this, classOf[DtwDist].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"${ev.value} = ((Long) $ref.nullSafeEval($l, $r)).longValue();")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DtwDist =
      copy(left = l, right = r)
  }

  /** array<float> embedding → array<int> of `nTables` random-hyperplane
    * LSH signatures (each `nPlanes` sign bits). Signs are the shared
    * splitmix constants sign(t,p,i) = ±1 by bit 0 of
    * splitmix((t*nPlanes+p)*64 + i). Projections accumulate over the
    * QUANTIZED components (floor(x·2²⁰) — the q25 scoring quantizer) in
    * exact long arithmetic, so each signature is order-free and
    * engine-independent: DuckDB reproduces it from the literal sign
    * table alone (q26's oracle), with no float-summation-order caveat.
    * One fused multiply-add loop replaces the 48 interpreted lambda
    * passes of the declarative `aggregate(zip_with(...))` form (parity
    * spec in ExpressionsSpec). A null component makes every projection
    * SQL null in the declarative form, turning every `when(proj > 0,
    * ...)` bit off — mirrored here by returning all-zero signatures.
    */
  case class HyperplaneSigs(child: Expression, nTables: Int, nPlanes: Int, dims: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(FloatType), "hyperplane_sigs")
    // sign table laid out [t*nPlanes + p][i]
    @transient private lazy val signs: Array[Array[Long]] =
      Array.tabulate(nTables * nPlanes, dims)((tp, i) =>
        if ((splitmix(tp * 64L + i) & 1L) == 1L) 1L else -1L)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dims)
      val sigs = new Array[Int](nTables)
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return new GenericArrayData(new Array[Int](nTables))
        i += 1
      }
      val acc = new Array[Long](nTables * nPlanes)
      i = 0
      while (i < n) {
        val x = math.floor(arr.getFloat(i).toDouble * 1048576.0).toLong
        var tp = 0
        while (tp < nTables * nPlanes) {
          acc(tp) += x * signs(tp)(i)
          tp += 1
        }
        i += 1
      }
      var tp = 0
      while (tp < nTables * nPlanes) {
        if (acc(tp) > 0) sigs(tp / nPlanes) |= 1 << (tp % nPlanes)
        tp += 1
      }
      new GenericArrayData(sigs)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hps", this, classOf[HyperplaneSigs].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneSigs = copy(child = c)
  }

  /** array<float>(dims) → array<long>(k): the Johnson–Lindenstrauss ±1
    * projection of VectorOps.jlProject as ONE fused quantize +
    * multiply-add pass per row — [[HyperplaneSigs]]'s shape with long
    * accumulators emitted instead of sign bits. Signs are the splitmix
    * parities of (seed + i·k + j), identical to the 1024-long array
    * literal of the declarative aggregate form it replaces (which paid
    * k·dims interpreted lambda steps per corpus row — the measured
    * projection ceiling of q148's stage 1 at x100). A null component
    * OR a dimensionality mismatch yields SQL null (QuantizedCosine's
    * rule): a truncated/corrupt embedding must surface, not compete in
    * downstream ranking with a plausible prefix projection. */
  case class JlProjectExpr(child: Expression, k: Int, dims: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(FloatType), "jl_project")
    // sign table laid out [i][j] — the jlSigns literal's i*k + j order
    @transient private lazy val signs: Array[Array[Long]] =
      Array.tabulate(dims, k)((i, j) =>
        if ((splitmix(seed + i * k + j) & 1L) == 1L) 1L else -1L)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      if (arr.numElements() != dims) return null
      var i = 0
      while (i < dims) {
        if (arr.isNullAt(i)) return null
        i += 1
      }
      val acc = new Array[Long](k)
      i = 0
      while (i < dims) {
        val x = math.floor(arr.getFloat(i).toDouble * 1048576.0).toLong
        val s = signs(i)
        var j = 0
        while (j < k) { acc(j) += x * s(j); j += 1 }
        i += 1
      }
      new GenericArrayData(acc)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jlp", this, classOf[JlProjectExpr].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""Object jlRes = $ref.nullSafeEval($c);
           |if (jlRes == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) jlRes; }""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): JlProjectExpr = copy(child = c)
  }

  /** Two array<long> vectors → Σ(a−b)², one tight primitive loop (the
    * distance kernel of q74's Lloyd iterations; bit-compatible with the
    * declarative `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)))` form
    * the oracle mirrors — including the null semantics: a null element
    * OR mismatched dimensionality yields SQL null, never a
    * plausible-but-wrong truncated distance).
    */
  case class SqDistLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    // null-on-null-element / dim-mismatch, beyond child nullability
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(LongType), "sq_dist")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "sq_dist")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      // zip_with pads the shorter array with nulls, making the
      // declarative distance null — mirror that for corrupt/mixed dims
      if (a.numElements() != b.numElements()) return null
      val n = a.numElements()
      var i = 0
      var acc = 0L
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val d = a.getLong(i) - b.getLong(i)
        acc += d * d
        i += 1
      }
      acc
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sqd", this, classOf[SqDistLong].getName)
      val res = ctx.freshName("sqdRes")
      nullSafeCodeGen(ctx, ev, (l, r) => s"""
        Object $res = $ref.nullSafeEval($l, $r);
        if ($res == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((Long) $res).longValue(); }""")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistLong =
      copy(left = l, right = r)
  }

  /** Nearest-centroid assignment (with runner-up distance) as ONE
    * scan-local pass — replaces the k-branch
    * `least(struct(sq_dist(xq, typedlit(c)), cid))` fold whose PLAN grew
    * with k: one expression branch (and one 64-long array literal) per
    * centroid was the reason `autoCellCount` capped the scaled-k rule at
    * 512 cells through round 13, which in turn put the blocked-quadratic
    * dedup family (q38/q75/q83) back on a super-linear curve the moment
    * the corpus outgrew 512·cellTarget vectors (measured at x1000:
    * q38 14× for 10× data). Here the centroid table rides in ONE
    * broadcast and each row pays a k·d long loop — the same arithmetic,
    * none of the plan.
    *
    * Bit-identical to the fold it replaces, edge rules included:
    *  - distance: [[SqDistLong]]'s exact long arithmetic (wrap and all);
    *  - tie on distance → smallest cid (the (dist, cid) struct order);
    *  - null xq / null element / dim mismatch → every per-centroid
    *    sq_dist is null; the struct ordering ranks null first and
    *    compares cid next, so the fold returned (dist null, cid 0) and
    *    sort_array's runner-up was (null, 1) — reproduced literally as
    *    struct(null, 0, null).
    *
    * Output struct(dist: long, cid: int, dist2: long): `dist`/`cid` are
    * the Lloyd assignment (q74's contract), `dist2` the second-nearest
    * distance (q128's silhouette b2 — the sort_array(...)(1) field of
    * the old fold). Requires k >= 2 (autoCellCount's floor is 8).
    */
  case class CentroidArgmin(
      child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("dist", LongType, nullable = true),
      StructField("cid", IntegerType, nullable = false),
      StructField("dist2", LongType, nullable = true)))
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(LongType), "centroid_argmin")

    private def nullRow: org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, 0, null))

    /** Core loop, callable from codegen via the reference object. */
    def assign(xAny: Any): org.apache.spark.sql.catalyst.InternalRow = {
      if (xAny == null) return nullRow
      val a = xAny.asInstanceOf[ArrayData]
      val cents = bc.value
      val dim = cents(0).length
      val n = a.numElements()
      if (n != dim) return nullRow
      val xs = new Array[Long](n)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return nullRow
        xs(i) = a.getLong(i)
        i += 1
      }
      // track best and runner-up under the exact (dist asc, cid asc)
      // struct order; strict < keeps the smaller cid on distance ties,
      // matching least/sort_array over structs with distinct cids
      var d1 = 0L; var c1 = 0; var d2 = 0L; var seen = 0
      var c = 0
      val k = cents.length
      while (c < k) {
        val cv = cents(c)
        var acc = 0L
        var j = 0
        while (j < n) { val d = xs(j) - cv(j); acc += d * d; j += 1 }
        if (seen == 0) { d1 = acc; c1 = c; seen = 1 }
        else if (acc < d1) { d2 = d1; d1 = acc; c1 = c; seen = 2 }
        else if (seen == 1 || acc < d2) { d2 = acc; seen = 2 }
        c += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](d1, c1, d2))
    }

    override def eval(
        input: org.apache.spark.sql.catalyst.InternalRow): Any =
      assign(child.eval(input))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
      val ref = ctx.addReferenceObj("cam", this, classOf[CentroidArgmin].getName)
      val childGen = child.genCode(ctx)
      val row = "org.apache.spark.sql.catalyst.InternalRow"
      ev.copy(
        code = childGen.code +
          code"""
        $row ${ev.value} = ($row) $ref.assign(
          ${childGen.isNull} ? null : (Object) ${childGen.value});""",
        isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): CentroidArgmin =
      copy(child = c)
    override def toString: String =
      s"centroid_argmin(broadcast#${bc.id}, $child)"
  }

  /** Pre-quantized centroid table for [[CellArgmax]]: labels,
    * floor(float(cvec)·2^20) long vectors, and their precomputed
    * self-dot-products (so each row pays one dot product per centroid,
    * not three). */
  final class CellCents(
      val labels: Array[Long],
      val q: Array[Array[Long]],
      val dbb: Array[Long]) extends Serializable

  /** Argmax-cosine cell assignment as ONE scan-local pass — the kernel
    * form of VectorOps.assignCells' per-row `array_sort(transform(cents,
    * struct(quantized_cosine, c_label)), (csim desc, c_label asc))(0)`.
    * The interpreted-HOF sort was plan-size-safe (the centroid table is
    * DATA there, not plan) but paid interpreted-lambda struct churn per
    * (row × centroid) — fine at the old 512-cell cap, the dominant cost
    * of index build/probe at the r14 4096 cap (q83's stored-split
    * assignment at x1000 = 1.8M rows × 1302 cells).
    *
    * Arithmetic is [[QuantizedCosine]]'s, term for term: quantize both
    * sides floor(float→double·2^20), long dot/norms,
    * dab / (sqrt(daa)·sqrt(dbb)) in that association — bit-identical
    * scores. Tie on score → smallest label (the comparator's c_label
    * leg). Null/degenerate rows (null embedding, null component, dim
    * mismatch, zero norm) return SQL NULL: every per-centroid cosine is
    * null for such a row, downstream candidate joins/filters drop it
    * either way (the old fold handed these rows an arbitrary
    * collect-order cell whose candidates then all scored null — same
    * final result through a needless join). Zero-norm CENTROIDS are
    * skipped (their cosine is null against every row); the old
    * comparator's null-vs-number leg was order-dependent there, so the
    * kernel rule is the only self-consistent reading. */
  case class CellArgmax(
      child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[CellCents])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(FloatType), "cell_argmax")

    /** Core loop; returns java.lang.Long or null. */
    def best(eAny: Any): Any = {
      if (eAny == null) return null
      val a = eAny.asInstanceOf[ArrayData]
      val t = bc.value
      if (t.q.length == 0) return null
      val dim = t.q(0).length
      if (a.numElements() != dim) return null
      val qa = new Array[Long](dim)
      var daa = 0L
      var i = 0
      while (i < dim) {
        if (a.isNullAt(i)) return null
        val q0 = math.floor(a.getFloat(i).toDouble * 1048576.0).toLong
        qa(i) = q0
        daa += q0 * q0
        i += 1
      }
      if (daa == 0L) return null
      val sa = math.sqrt(daa.toDouble)
      var bestLab = 0L
      var bestSim = 0.0
      var found = false
      var c = 0
      while (c < t.q.length) {
        val nbb = t.dbb(c)
        if (nbb != 0L) {
          val qv = t.q(c)
          var dab = 0L
          var j = 0
          while (j < dim) { dab += qa(j) * qv(j); j += 1 }
          val sim = dab.toDouble / (sa * math.sqrt(nbb.toDouble))
          val lab = t.labels(c)
          if (!found || sim > bestSim ||
              (sim == bestSim && lab < bestLab)) {
            bestSim = sim; bestLab = lab; found = true
          }
        }
        c += 1
      }
      if (!found) null else java.lang.Long.valueOf(bestLab)
    }

    override def eval(
        input: org.apache.spark.sql.catalyst.InternalRow): Any =
      best(child.eval(input))

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cax", this, classOf[CellArgmax].getName)
      val childGen = child.genCode(ctx)
      val res = ctx.freshName("caxRes")
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      ev.copy(code = childGen.code +
        code"""
        Object $res = $ref.best(
          ${childGen.isNull} ? null : (Object) ${childGen.value});
        boolean ${ev.isNull} = $res == null;
        long ${ev.value} = ${ev.isNull} ? -1L :
          ((java.lang.Long) $res).longValue();""")
    }
    override protected def withNewChildInternal(c: Expression): CellArgmax =
      copy(child = c)
    override def toString: String =
      s"cell_argmax(broadcast#${bc.id}, $child)"
  }

  /** [[CellArgmax]] as a Column. */
  def cell_argmax(bc: org.apache.spark.broadcast.Broadcast[CellCents],
      embedding: Column): Column =
    column(CellArgmax(expression(embedding), bc))

  /** [[CentroidArgmin]] as a Column. */
  def centroid_argmin(bc: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]],
      xq: Column): Column =
    column(CentroidArgmin(expression(xq), bc))

  /** Misra–Gries heavy-hitter sketch over a string column: at most `k`
    * (token, est) counters in O(k) space, one stream pass, mergeable
    * partials — the frequent-items summary of Misra & Gries 1982 with the
    * merge rule of Agarwal et al., "Mergeable Summaries" (PODS 2012):
    * pointwise-sum two sketches, then subtract the (k+1)-th largest count
    * from every counter and drop the non-positives.
    *
    * Guarantees after any update/merge tree over a stream of N items
    * (what FreqSketchSpec pins):
    *   - `est <= true count` (counts only ever lose decrements);
    *   - `true count - est <= N/(k+1)`;
    *   - hence every token with true count > N/(k+1) is present.
    *
    * Scale shape: this is a partial-aggregable `TypedImperativeAggregate`,
    * so a corpus-wide heavy-hitter pass ships one <= k-entry sketch per
    * task to the driver instead of shuffling one row per token occurrence
    * (the exact q67 plan). The result is order-dependent (bounds above are
    * not), so callers wanting a deterministic answer re-count the
    * candidate set exactly — q67b's two-pass pattern.
    */
  case class FreqSketch(
      child: Expression,
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
        java.util.HashMap[String, Long]]
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("token", StringType, nullable = false),
        StructField("est", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "freq_sketch")

    override def createAggregationBuffer(): java.util.HashMap[String, Long] =
      new java.util.HashMap[String, Long](k * 2)

    override def update(
        buf: java.util.HashMap[String, Long],
        input: org.apache.spark.sql.catalyst.InternalRow): java.util.HashMap[String, Long] = {
      val v = child.eval(input)
      if (v != null) {
        val t = v.toString // UTF8String backing bytes may be row-buffer reused
        if (buf.containsKey(t)) buf.put(t, buf.get(t) + 1L)
        else if (buf.size < k) buf.put(t, 1L)
        else {
          // classic MG decrement-all; amortized O(1) per stream item
          val it = buf.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      buf
    }

    override def merge(
        buf: java.util.HashMap[String, Long],
        other: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
      other.forEach { (t, c) =>
        val cur = buf.get(t)
        buf.put(t, if (buf.containsKey(t)) cur + c else c)
      }
      if (buf.size > k) {
        // subtract the (k+1)-th largest count, drop non-positives
        val counts = new Array[Long](buf.size)
        var i = 0
        val vit = buf.values().iterator()
        while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(counts)
        val sub = counts(counts.length - (k + 1)) // (k+1)-th largest
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue <= sub) it.remove() else e.setValue(e.getValue - sub)
        }
      }
      buf
    }

    override def eval(buf: java.util.HashMap[String, Long]): Any = {
      val entries = new Array[(String, Long)](buf.size)
      var i = 0
      val it = buf.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
      // deterministic presentation order: est desc, token asc
      val sorted = entries.sortBy { case (t, c) => (-c, t) }
      new GenericArrayData(sorted.map { case (t, c) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), c)
      })
    }

    override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.forEach { (t, c) =>
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b); out.writeLong(c)
      }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = new java.util.HashMap[String, Long](k * 2)
      var i = 0
      while (i < n) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        buf.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): FreqSketch =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): FreqSketch =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): FreqSketch =
      copy(child = c)
  }

  /** Open-addressed primitive long→long count table — [[FreqSketchLong]]'s
    * aggregation buffer. Linear probing over power-of-two arrays with a
    * separate presence bitmap (no sentinel key — xxhash64 covers the full
    * long range), capacity 4·k so the load factor stays ≤ 0.25 at the
    * ≤ k-entry invariant; the Misra–Gries decrement-all pass REBUILDS the
    * table from survivors (backward-shift deletion in linear probing is
    * the classic bug farm; a rebuild is the same amortized O(1) per
    * stream item — each pass removes ≥ k total count and each item adds
    * 1). Zero boxing on the hot path: the three arrays are the whole
    * state.
    */
  private[graft] final class LongCountSketch(val k: Int) {
    private val cap: Int = {
      var c = 8
      while (c < k * 4) c <<= 1
      c
    }
    private val mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0

    def size: Int = n

    private def slot(key: Long): Int = {
      // Stafford mix13 finalizer — xxhash64 outputs are already mixed,
      // but merge() also feeds raw re-inserts through here
      var x = key
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^= (x >>> 31)
      var i = (x & mask).toInt
      while (used(i) && keys(i) != key) i = (i + 1) & mask
      i
    }

    /** Add `c` to `key`'s count if present or insertable (n < k);
      * otherwise run one decrement-all pass (by 1 — the streaming MG
      * step). */
    def update(key: Long): Unit = {
      val i = slot(key)
      if (used(i)) vals(i) += 1L
      else if (n < k) { used(i) = true; keys(i) = key; vals(i) = 1L; n += 1 }
      else decrementAll(1L)
    }

    /** Unconditional add for merge: inserts even past k (the caller
      * trims with [[trimToK]] afterwards — MG merge semantics need the
      * union before the (k+1)-th-largest subtraction). Requires the
      * caller to grow — capacity 4k tolerates a transient 2k entries
      * from merging two ≤ k sketches. */
    def add(key: Long, c: Long): Unit = {
      val i = slot(key)
      if (used(i)) vals(i) += c
      else { used(i) = true; keys(i) = key; vals(i) = c; n += 1 }
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }

    private def rebuild(sub: Long): Unit = {
      val ok = keys; val ov = vals; val ou = used
      keys = new Array[Long](cap)
      vals = new Array[Long](cap)
      used = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < cap) {
        if (ou(i) && ov(i) > sub) {
          val j = slot(ok(i))
          used(j) = true; keys(j) = ok(i); vals(j) = ov(i) - sub
          n += 1
        }
        i += 1
      }
    }

    private def decrementAll(sub: Long): Unit = rebuild(sub)

    /** Post-merge trim: subtract the (k+1)-th largest count so at most
      * k survive — the sketch-merge rule whose error bound adds. */
    def trimToK(): Unit = if (n > k) {
      val counts = new Array[Long](n)
      var i = 0; var j = 0
      while (i < cap) { if (used(i)) { counts(j) = vals(i); j += 1 }; i += 1 }
      java.util.Arrays.sort(counts)
      rebuild(counts(counts.length - (k + 1)))
    }
  }

  /** [[FreqSketch]] over LONG keys — the hot-path variant for
    * high-cardinality streams (q99b's bigram types): the caller hashes
    * the item in a codegen'd projection (`xxhash64`) and the aggregate
    * touches only primitive longs ([[LongCountSketch]] — no per-row
    * String construction, no boxing), so the sketch pass runs at
    * hash-agg-comparable per-row cost while shipping ≤ k-entry partials
    * instead of the full type table. Same MG bounds as [[FreqSketch]]
    * (est ≤ true, true − est ≤ N/(k+1)); 64-bit key collisions merge two
    * items' counts, which can only ADD candidates under a
    * sketch-then-recount consumer — the exact recount prunes them, so
    * the guarantee direction is preserved.
    */
  case class FreqSketchLong(
      child: Expression,
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[LongCountSketch]
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("h", LongType, nullable = false),
        StructField("est", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, LongType, "freq_sketch_long")

    override def createAggregationBuffer(): LongCountSketch = new LongCountSketch(k)

    override def update(buf: LongCountSketch,
        input: org.apache.spark.sql.catalyst.InternalRow): LongCountSketch = {
      val v = child.eval(input)
      if (v != null) buf.update(v.asInstanceOf[Long])
      buf
    }

    override def merge(buf: LongCountSketch, other: LongCountSketch): LongCountSketch = {
      other.foreach((key, c) => buf.add(key, c))
      buf.trimToK()
      buf
    }

    override def eval(buf: LongCountSketch): Any = {
      val entries = new Array[(Long, Long)](buf.size)
      var i = 0
      buf.foreach { (key, c) => entries(i) = (key, c); i += 1 }
      // deterministic presentation order: est desc, key asc
      val sorted = entries.sortBy { case (h, c) => (-c, h) }
      new GenericArrayData(sorted.map { case (h, c) =>
        org.apache.spark.sql.catalyst.InternalRow(h, c)
      })
    }

    override def serialize(buf: LongCountSketch): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.size)
      buf.foreach { (key, c) => out.writeLong(key); out.writeLong(c) }
      out.flush()
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): LongCountSketch = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val m = in.readInt()
      val buf = new LongCountSketch(k)
      var i = 0
      while (i < m) { buf.add(in.readLong(), in.readLong()); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): FreqSketchLong =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): FreqSketchLong =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(c: Expression): FreqSketchLong =
      copy(child = c)
  }

  /** Probe a `bloom_agg`-serialized filter shipped as a BROADCAST
    * VARIABLE instead of a plan literal. `lit(bloomBytes)` is correct but
    * embeds the filter in every plan representation — explain strings,
    * the UI, the serialized logical plan — which at 100 TB (a multi-MB
    * filter over a large held-out set) bloats the driver and every plan
    * copy. Here the expression carries only the broadcast HANDLE (a few
    * bytes: serialized `Broadcast` is just its id); executors fetch the
    * payload once via the torrent protocol and deserialize the filter
    * once per task thread ([[filter]] is a transient lazy).
    *
    * Mirrors `BloomFilterMightContain`'s semantics exactly (same
    * `BloomFilter.readFrom` + `mightContainLong`), so swapping it in
    * changes no results — q68 pins bit-identity against the exact plan.
    */
  case class BloomProbeBroadcast(
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, LongType, "bloom_probe_bc")
    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bc.value))
    def probe(v: Long): Boolean = filter.mightContainLong(v)
    override def nullSafeEval(v: Any): Any = probe(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("bloomProbe", this,
        classOf[BloomProbeBroadcast].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.probe($v);")
    }
    override def toString: String = s"bloom_probe_bc(broadcast#${bc.id}, $child)"
    override protected def withNewChildInternal(c: Expression): BloomProbeBroadcast =
      copy(child = c)
  }

  /** The SQL-path bloom probe: `bloom_might_contain(bloom, xxhash64(v))`
    * where the bloom argument may be NON-foldable — in practice a scalar
    * subquery (`(SELECT bloom_agg(...) FROM heldout)`). Spark's own
    * `BloomFilterMightContain` assumes a foldable/null bloom child and
    * its generated code breaks on a subquery argument (whole-stage
    * codegen falls back with `ERROR CodeGenerator ... not an rvalue` —
    * results stay correct via the interpreter, but the hot path
    * de-optimizes and the log screams). This expression handles ANY
    * binary-typed bloom child in both eval and codegen: the filter is
    * deserialized once per task and memo-cached on the byte array's
    * reference identity (a scalar subquery yields the same instance
    * every row), so the per-row cost is one `mightContainLong`, inside
    * whole-stage codegen. Semantics mirror `BloomFilterMightContain`
    * exactly (`BloomFilter.readFrom` + `mightContainLong`); q68 pins
    * bit-identity of the results.
    */
  case class BloomProbe(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, BinaryType, "bloom_might_contain")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, LongType, "bloom_might_contain")
    }
    // per-task memo: tasks deserialize their own expression copy, so the
    // cache is task-confined in practice — but (bytes, filter) live in ONE
    // immutable pair assigned atomically, so even a hypothetically shared
    // instance can never observe one thread's bytes paired with another's
    // filter (a torn read sees a consistent pair or misses and re-derives)
    @transient private var cached:
        (Array[Byte], org.apache.spark.util.sketch.BloomFilter) = _
    def probe(bloom: Array[Byte], v: Long): Boolean = {
      var c = cached
      if (c == null || !(bloom eq c._1)) {
        c = (bloom, org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bloom)))
        cached = c
      }
      c._2.mightContainLong(v)
    }
    override def nullSafeEval(b: Any, v: Any): Any =
      probe(b.asInstanceOf[Array[Byte]], v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("bloomProbe", this,
        classOf[BloomProbe].getName)
      nullSafeCodeGen(ctx, ev, (b, v) => s"${ev.value} = $self.probe($b, $v);")
    }
    override def toString: String = s"bloom_might_contain($left, $right)"
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): BloomProbe = copy(left = l, right = r)
  }

  /** PQ asymmetric-distance accumulation: (codes array<int> — one code id
    * per subspace, m-ordered; dtable array<long> — a query's flattened
    * per-(subspace, code) distance table, slot = m·K + cid) → Σ_m
    * dtable[m·K + codes[m]] as long. One tight loop per (query, vector)
    * pair replaces q78's former codes⋈distance-table equi-join, which
    * materialized nq·n·M rows through a shuffle (measured 222 s / OOM at
    * the x100 synthetic scale — SCALE.md); with the kernel the scoring is
    * a crossJoin against a broadcast query table and NO shuffle at all.
    * Long addition is associative, so the sum is bit-identical to the
    * join-then-SUM form and the DuckDB oracle is unchanged.
    */
  case class PqAdcDist(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(left, ArrayType(IntegerType), "pq_adc codes")
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(right, ArrayType(LongType), "pq_adc dtable")
    }
    override def nullSafeEval(codesAny: Any, dtableAny: Any): Any = {
      val codes = codesAny.asInstanceOf[ArrayData]
      val dt = dtableAny.asInstanceOf[ArrayData]
      var sum = 0L
      var m = 0
      val n = codes.numElements()
      // array lengths are data, not schema, so this can't move to
      // checkInputDataTypes — but a malformed dtable must fail with the
      // contract spelled out, not an executor ArrayIndexOutOfBounds (or,
      // worse, a silent wrong-slot read when dtable is over-long)
      if (dt.numElements() != n * k)
        throw new IllegalArgumentException(
          s"pq_adc: dtable has ${dt.numElements()} slots but codes imply " +
            s"${n * k} (M=$n subspaces x K=$k codes; slot layout m*K+cid)")
      while (m < n) {
        sum += dt.getLong(m * k + codes.getInt(m))
        m += 1
      }
      sum
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqadc", this, classOf[PqAdcDist].getName)
      nullSafeCodeGen(ctx, ev, (c, d) =>
        s"${ev.value} = (Long) $ref.nullSafeEval($c, $d);")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqAdcDist = copy(left = l, right = r)
  }

  /** The per-query bounded top-k state of every [[ScanTopK]] kernel: for
    * each query, a k-entry binary max-heap ordered by (dist, id) — the
    * root is the WORST kept pair, so a better candidate evicts in
    * O(log k). */
  private[graft] final class PqTopKState(val nq: Int, val k: Int) {
    val dist = Array.ofDim[Long](nq, k)
    val id = Array.ofDim[Long](nq, k)
    val size = new Array[Int](nq)
    @inline private def worse(d1: Long, v1: Long, d2: Long, v2: Long): Boolean =
      d1 > d2 || (d1 == d2 && v1 > v2)
    def push(qi: Int, d: Long, v: Long): Unit = {
      val ds = dist(qi); val ids = id(qi)
      if (size(qi) < k) {
        var i = size(qi); ds(i) = d; ids(i) = v; size(qi) += 1
        while (i > 0 && worse(ds(i), ids(i), ds((i - 1) / 2), ids((i - 1) / 2))) {
          val p = (i - 1) / 2
          val td = ds(i); val tv = ids(i)
          ds(i) = ds(p); ids(i) = ids(p); ds(p) = td; ids(p) = tv
          i = p
        }
      } else if (worse(ds(0), ids(0), d, v)) {
        ds(0) = d; ids(0) = v
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < k && worse(ds(l), ids(l), ds(m), ids(m))) m = l
          if (r < k && worse(ds(r), ids(r), ds(m), ids(m))) m = r
          if (m == i) done = true
          else {
            val td = ds(i); val tv = ids(i)
            ds(i) = ds(m); ids(i) = ids(m); ds(m) = td; ids(m) = tv
            i = m
          }
        }
      }
    }

    // merge + wire format of [[ScanTopK]] — one copy to keep in sync
    def mergeFrom(other: PqTopKState): this.type = {
      var qi = 0
      while (qi < nq) {
        var i = 0
        while (i < other.size(qi)) {
          push(qi, other.dist(qi)(i), other.id(qi)(i))
          i += 1
        }
        qi += 1
      }
      this
    }

    def writeTo: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      o.writeInt(nq); o.writeInt(k)
      var qi = 0
      while (qi < nq) {
        o.writeInt(size(qi))
        var i = 0
        while (i < size(qi)) {
          o.writeLong(dist(qi)(i)); o.writeLong(id(qi)(i))
          i += 1
        }
        qi += 1
      }
      o.flush()
      bos.toByteArray
    }
  }

  private[graft] object PqTopKState {
    def readFrom(bytes: Array[Byte]): PqTopKState = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val nq = in.readInt(); val kk = in.readInt()
      val buf = new PqTopKState(nq, kk)
      var qi = 0
      while (qi < nq) {
        val n = in.readInt()
        buf.size(qi) = n
        var i = 0
        while (i < n) {
          buf.dist(qi)(i) = in.readLong(); buf.id(qi)(i) = in.readLong()
          i += 1
        }
        qi += 1
      }
      buf
    }
  }

  /** The aggregate every broadcast top-k scan kernel shares. A kernel
    * supplies only its `update` loop, which scores one input row against
    * the broadcast query set and pushes (query slot, key, id) into the
    * per-query heaps of a [[PqTopKState]]; the heaps keep the k smallest
    * (key, id), so a kernel ranking by score DESC pushes an
    * order-reversing key (negation, [[DescDouble]]) and `decode`s it back
    * here. Partials merge heap-to-heap (the only exchange carries one
    * ≤ nq·k partial per task) and the final value explodes to
    * (query_id, `idName`, rank, `scoreName`) rows in (key, id) order —
    * the join + window form's exact ranking.
    *
    * `args` are the (name, type) of the children; the last `nOptional`
    * may be omitted. Serializable because the constructor's fields live
    * here, above the case classes that make expressions serializable. */
  private[functions] abstract class ScanTopK(
      fnName: String,
      args: Seq[(String, DataType)],
      idName: String,
      scoreName: String,
      scoreType: DataType,
      nOptional: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[PqTopKState]
      with Serializable {

    def bc: org.apache.spark.broadcast.Broadcast[_]
    def k: Int
    /** Number of queries in the broadcast. */
    protected def nq: Int
    protected def queryId(qi: Int): Long
    /** Heap key → output score. */
    protected def decode(key: Long): Any

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField(idName, LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false),
        StructField(scoreName, scoreType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.length > args.length || children.length < args.length - nOptional) {
        val (required, optional) = args.map(_._1).splitAt(args.length - nOptional)
        TypeCheckResult.TypeCheckFailure(s"$fnName takes (${required.mkString(", ")}" +
          s"${optional.map(a => s"[, $a]").mkString})")
      } else children.zip(args).iterator
        .map { case (c, (what, t)) => requireType(c, t, s"$fnName $what") }
        .find(_ != TypeCheckResult.TypeCheckSuccess)
        .getOrElse(TypeCheckResult.TypeCheckSuccess)

    override def createAggregationBuffer(): PqTopKState = new PqTopKState(nq, k)

    override def merge(buf: PqTopKState, other: PqTopKState): PqTopKState =
      buf.mergeFrom(other)

    override def eval(buf: PqTopKState): Any = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var qi = 0
      while (qi < buf.nq) {
        val n = buf.size(qi)
        val pairs = Array.tabulate(n)(i => (buf.dist(qi)(i), buf.id(qi)(i)))
          .sortBy { case (d, v) => (d, v) }
        val qid = queryId(qi)
        var i = 0
        while (i < n) {
          out += org.apache.spark.sql.catalyst.InternalRow(
            qid, pairs(i)._2, i + 1, decode(pairs(i)._1))
          i += 1
        }
        qi += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def serialize(buf: PqTopKState): Array[Byte] = buf.writeTo

    override def deserialize(bytes: Array[Byte]): PqTopKState =
      PqTopKState.readFrom(bytes)

    override def toString: String =
      s"$fnName(broadcast#${bc.id}, k=$k, ${children.mkString(", ")})"
  }

  /** key → the slots (in ascending order) whose `keys` contain it: the
    * per-task probe index of the candidacy kernels, built once per
    * deserialized expression copy. */
  private def slotIndex[K](nSlots: Int)(
      keys: Int => IterableOnce[K]): java.util.HashMap[K, Array[Int]] = {
    val m = new java.util.HashMap[K, scala.collection.mutable.ArrayBuffer[Int]]()
    var slot = 0
    while (slot < nSlots) {
      keys(slot).iterator.foreach(key =>
        m.computeIfAbsent(key, _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += slot)
      slot += 1
    }
    val out = new java.util.HashMap[K, Array[Int]](m.size() * 2)
    m.forEach((key, buf) => out.put(key, buf.toArray))
    out
  }

  /** PQ ADC scoring + top-k as ONE scan-local aggregate — the FAISS-shaped
    * ADC scan re-expressed for Spark. Input rows are the compressed code
    * store (vec_id, codes[, cell]); the query set (id, flattened M·K
    * distance table, optional probe-cell set) rides in as a BROADCAST
    * captured at registration (a few MB for thousands of queries — a
    * bounded serving batch by contract). Each task scans its vectors
    * once, scores EVERY query against the codes in a primitive loop, and
    * keeps per-query k-entry heaps; partials merge heap-to-heap and the
    * final row explodes to (query_id, neighbor_id, rank, adc_dist).
    *
    * Why: materializing the (query × vector) pairs — crossJoin + window
    * rank, or a (m, cid) equi-join + re-aggregation — costs nq·n rows
    * through an exchange/sort, measured 222–260 s (or OOM) at the x100
    * synthetic scale; this aggregate is the same arithmetic with ZERO
    * joins, zero shuffled scoring rows (the only exchange carries one
    * ≤ nq·k-entry partial per task), and it ran ~20× faster there
    * (SCALE.md). Selection by k smallest (dist, id) is exactly the
    * window's (dist, id) ranking, and long sums are order-free, so the
    * output is bit-identical and the DuckDB oracles are unchanged.
    *
    * `cellFiltered`: when the optional third child (the vector's cell id)
    * is present, a query only scores vectors whose cell is in its probe
    * set — q79's IVF pruning, inside the same scan.
    */
  case class PqScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long], Array[Int])]],
      k: Int,
      subK: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("pq_scan_topk",
        Seq("vec_id" -> LongType, "codes" -> ArrayType(IntegerType), "cell" -> IntegerType),
        "neighbor_id", "adc_dist", LongType, nOptional = 1) {

    private def cellFiltered = children.length == 3
    override protected def nq: Int = bc.value.length
    override protected def queryId(qi: Int): Long = bc.value(qi)._1
    override protected def decode(key: Long): Any = key

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val vid = children(0).eval(row)
      val codesAny = children(1).eval(row)
      if (vid == null || codesAny == null) return buf
      val vecId = vid.asInstanceOf[Long]
      val codes = codesAny.asInstanceOf[ArrayData]
      val cell = if (cellFiltered) {
        val c = children(2).eval(row)
        if (c == null) return buf
        c.asInstanceOf[Int]
      } else -1
      val qs = bc.value
      val m = codes.numElements()
      var qi = 0
      while (qi < qs.length) {
        val (qid, dt, probes) = qs(qi)
        var ok = vecId != qid
        if (ok && cellFiltered) {
          var p = 0
          var hit = false
          while (p < probes.length && !hit) { hit = probes(p) == cell; p += 1 }
          ok = hit
        }
        if (ok) {
          var sum = 0L
          var j = 0
          while (j < m) {
            sum += dt(j * subK + codes.getInt(j))
            j += 1
          }
          buf.push(qi, sum, vecId)
        }
        qi += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): PqScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): PqScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PqScanTopK =
      copy(children = newChildren)
  }

  /** [[PqScanTopK]] as an aggregate Column over the query broadcast. */
  def pq_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long], Array[Int])]],
      k: Int, subK: Int, cols: Column*): Column =
    aggColumn(PqScanTopK(cols.map(expression), bc, k, subK))

  /** The broadcast operand of [[Bm25ScanTopK]]: the QUERY SET as an
    * inverted term index — `qids` (sorted query ids), `termHash` (sorted
    * distinct query-term hashes), and for termHash(i) the query slots
    * `qrefs(offsets(i) until offsets(i+1))` containing it. Size is
    * (query set × query terms), bounded by the serving-batch contract. */
  type Bm25QueryIndex = (Array[Long], Array[Long], Array[Int], Array[Int])

  /** Per-task scratch of [[Bm25ScanTopK]]: one nq-sized accumulator
    * reused across rows via a generation stamp, so scoring a document
    * allocates nothing. ThreadLocal because Spark may evaluate one
    * deserialized expression tree from the running task's thread only,
    * but thread-confined state is correct under every reuse policy. */
  private final class Bm25Scratch(nq: Int) {
    val acc = new Array[Long](nq)
    // LONG generation stamps: the ThreadLocal scratch outlives tasks, and
    // an Int gen wraps after 2^31 scored documents per executor thread —
    // a stale stamp collision would then silently skip a query's acc
    // reset and drop that document from its top-k
    val stamp = new Array[Long](nq)
    val touched = new Array[Int](nq)
    var gen = 0L
  }

  /** BM25 scoring + top-k as ONE scan-local aggregate — [[PqScanTopK]]'s
    * FAISS shape applied to text retrieval. Input rows are the per-doc
    * weight store (doc_id, term hashes, fixed-point BM25 weights,
    * aligned); the query set rides in as a broadcast inverted index.
    * Each task scans its documents once: for every doc term it walks the
    * queries containing that term (two array lookups per hit — exactly
    * one op per true (query, doc, term) match, the join's cardinality,
    * but in an L1-resident primitive loop instead of an exchange), then
    * pushes the touched queries' scores into per-query k-entry heaps.
    *
    * Why: the candidate equi-join shape materializes ~(queries sharing a
    * term × docs) rows through a shuffle hash agg — with a dense
    * vocabulary that is nq·n rows, measured as a TaskMemoryManager
    * page-allocation death spiral at the x10 synthetic scale (SCALE.md
    * round 7) — while this aggregate's only exchange carries one ≤ nq·k
    * partial per task. Candidacy (shares ≥ 1 query term), score sums
    * (order-free longs) and (score desc, doc_id) selection are identical
    * to the join+window form, so the output is bit-identical and the
    * DuckDB oracle is unchanged.
    */
  case class Bm25ScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[Bm25QueryIndex],
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("bm25_scan_topk",
        Seq("doc_id" -> LongType, "term_hashes" -> ArrayType(LongType),
          "weights" -> ArrayType(LongType)),
        "doc_id", "score_fp", LongType) {

    override protected def nq: Int = bc.value._1.length
    override protected def queryId(qi: Int): Long = bc.value._1(qi)
    override protected def decode(key: Long): Any = -key

    @transient private lazy val scratch =
      ThreadLocal.withInitial[Bm25Scratch](() => new Bm25Scratch(nq))

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val did = children(0).eval(row)
      val hsAny = children(1).eval(row)
      val wsAny = children(2).eval(row)
      if (did == null || hsAny == null || wsAny == null) return buf
      val docId = did.asInstanceOf[Long]
      val hs = hsAny.asInstanceOf[ArrayData]
      val ws = wsAny.asInstanceOf[ArrayData]
      val (qids, termHash, offsets, qrefs) = bc.value
      val st = scratch.get()
      st.gen += 1
      var nTouched = 0
      var ti = 0
      val nTerms = hs.numElements()
      // fail loudly on a malformed weight store (PqAdcDist's contract for
      // misaligned operands) instead of reading past the array's end
      if (ws.numElements() != nTerms)
        throw new IllegalArgumentException(
          s"bm25_scan_topk: weights has ${ws.numElements()} entries but " +
            s"term_hashes has $nTerms — the store's arrays must align")
      while (ti < nTerms) {
        val pos = java.util.Arrays.binarySearch(termHash, hs.getLong(ti))
        if (pos >= 0) {
          val w = ws.getLong(ti)
          var r = offsets(pos)
          val end = offsets(pos + 1)
          while (r < end) {
            val q = qrefs(r)
            if (st.stamp(q) != st.gen) {
              st.stamp(q) = st.gen
              st.acc(q) = 0L
              st.touched(nTouched) = q
              nTouched += 1
            }
            st.acc(q) += w
            r += 1
          }
        }
        ti += 1
      }
      var t = 0
      while (t < nTouched) {
        val q = st.touched(t)
        // heap keeps k smallest (key, id); key = -score makes that the k
        // LARGEST scores with (score desc, doc_id asc) selection — the
        // join+window form's exact ordering
        if (qids(q) != docId) buf.push(q, -st.acc(q), docId)
        t += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): Bm25ScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): Bm25ScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Bm25ScanTopK =
      copy(children = newChildren)
  }

  /** [[Bm25ScanTopK]] as an aggregate Column. */
  def bm25_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[Bm25QueryIndex],
      k: Int, cols: Column*): Column =
    aggColumn(Bm25ScanTopK(cols.map(expression), bc, k))

  /** The broadcast operand of [[Bm25RawScanTopK]]: [[Bm25QueryIndex]]
    * plus the QUERY-TIME scoring model — `idfFp(i)` is the fixed-point
    * idf of `termHash(i)` under the CURRENT merged corpus stats, and
    * `avgdl` the current mean document length. Carrying idf on the
    * query side (Lucene's query-time-weights contract) is what makes
    * the raw postings store append-only: corpus growth changes idf and
    * avgdl for EVERY stored document, but those live here — sized by
    * the request set, refreshed per serving batch from the vocabulary-
    * bounded df table — while the per-doc (tf, len) postings never
    * need rewriting. */
  type Bm25RawQueryIndex =
    (Array[Long], Array[Long], Array[Int], Array[Int], Array[Long], Double)

  /** [[Bm25ScanTopK]] over the RAW postings store (doc_id, term hashes,
    * term frequencies, doc length) instead of the precomputed weight
    * store: the per-(doc, term) BM25 weight
    * idf_fp · floor(tf·2.2 / (tf + 1.2·(0.25 + 0.75·len/avgdl)) · 10⁶)
    * is computed INSIDE the scan loop for matched terms only, with idf
    * and avgdl from the broadcast (query-time stats). Bit-identical to
    * deriving the full weight store first and scanning it with
    * [[Bm25ScanTopK]]: same IEEE operation order as the store builder
    * (tf·2.2 numerator; 0.75·len first, then ÷avgdl — the column
    * expression's left-associative order), same floor quantization,
    * same exact long sums, same (score desc, doc_id) selection. The
    * point is the maintenance story, not the scan: stored docs' weights
    * are never materialized, so an append refreshes nothing
    * corpus-sized. */
  case class Bm25RawScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[Bm25RawQueryIndex],
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("bm25_raw_scan_topk",
        Seq("doc_id" -> LongType, "term_hashes" -> ArrayType(LongType),
          "tfs" -> ArrayType(LongType), "len" -> LongType),
        "doc_id", "score_fp", LongType) {

    override protected def nq: Int = bc.value._1.length
    override protected def queryId(qi: Int): Long = bc.value._1(qi)
    override protected def decode(key: Long): Any = -key

    @transient private lazy val scratch =
      ThreadLocal.withInitial[Bm25Scratch](() => new Bm25Scratch(nq))

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val did = children(0).eval(row)
      val hsAny = children(1).eval(row)
      val tfAny = children(2).eval(row)
      val lenAny = children(3).eval(row)
      if (did == null || hsAny == null || tfAny == null || lenAny == null)
        return buf
      val docId = did.asInstanceOf[Long]
      val hs = hsAny.asInstanceOf[ArrayData]
      val tfs = tfAny.asInstanceOf[ArrayData]
      val len = lenAny.asInstanceOf[Long]
      val (qids, termHash, offsets, qrefs, idfFp, avgdl) = bc.value
      // per-doc length factor of the weight denominator — one compute
      // per document, not per matched term (the builder's column form
      // evaluates it per (doc, term) row to the same double)
      val lenTerm = 1.2 * (0.25 + (0.75 * len) / avgdl)
      val st = scratch.get()
      st.gen += 1
      var nTouched = 0
      var ti = 0
      val nTerms = hs.numElements()
      if (tfs.numElements() != nTerms)
        throw new IllegalArgumentException(
          s"bm25_raw_scan_topk: tfs has ${tfs.numElements()} entries but " +
            s"term_hashes has $nTerms — the store's arrays must align")
      while (ti < nTerms) {
        val pos = java.util.Arrays.binarySearch(termHash, hs.getLong(ti))
        if (pos >= 0) {
          val tf = tfs.getLong(ti)
          val w = idfFp(pos) *
            math.floor((tf * 2.2) / (tf + lenTerm) * 1e6).toLong
          var r = offsets(pos)
          val end = offsets(pos + 1)
          while (r < end) {
            val q = qrefs(r)
            if (st.stamp(q) != st.gen) {
              st.stamp(q) = st.gen
              st.acc(q) = 0L
              st.touched(nTouched) = q
              nTouched += 1
            }
            st.acc(q) += w
            r += 1
          }
        }
        ti += 1
      }
      var t = 0
      while (t < nTouched) {
        val q = st.touched(t)
        if (qids(q) != docId) buf.push(q, -st.acc(q), docId)
        t += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): Bm25RawScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): Bm25RawScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Bm25RawScanTopK =
      copy(children = newChildren)
  }

  /** [[Bm25RawScanTopK]] as an aggregate Column. */
  def bm25_raw_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[Bm25RawQueryIndex],
      k: Int, cols: Column*): Column =
    aggColumn(Bm25RawScanTopK(cols.map(expression), bc, k))

  /** A broadcast-capturing aggregate as a Column. The Column carries the
    * expression itself, so each call binds its own broadcast and leaves
    * nothing in the session: callers only `destroy()` the broadcast once
    * their result is materialized. */
  private def aggColumn(f: AggregateFunction): Column =
    column(f.toAggregateExpression())

  /** Order-preserving double ↔ long bijection for heap keys, flipped so
    * score DESC == encoded ASC (the PqTopKState natural order): the
    * ascending map flips the 63 value bits iff the sign bit is set
    * (negatives reverse), leaves the sign bit — an involution under
    * which signed-long order == IEEE double order (non-NaN) — then ~
    * for DESC. Shared by the cosine kernels ([[LshScanTopK]],
    * [[CosineScanTopK]], [[IvfScanTopK]]); decode inverts exactly. */
  private[functions] object DescDouble {
    @inline def encode(score: Double): Long = {
      val bits = java.lang.Double.doubleToLongBits(score)
      ~(bits ^ ((bits >> 63) & 0x7fffffffffffffffL))
    }
    @inline def decode(enc: Long): Double = {
      val asc = ~enc
      java.lang.Double.longBitsToDouble(
        asc ^ ((asc >> 63) & 0x7fffffffffffffffL))
    }
  }

  /** The broadcast operand of [[LshScanTopK]]: one entry per query —
    * (query_id, quantized components floor(x·2²⁰), ‖q‖² in the quantized
    * domain, per-table hyperplane signatures). Bounded by the serving
    * request-set contract. */
  type LshQuerySet = Array[(Long, Array[Long], Long, Array[Int])]

  /** Per-task scratch of [[LshScanTopK]]: the row's quantized components
    * (one quantize pass per corpus VECTOR, not per candidate pair) and a
    * generation-stamped per-query dedup mask (a vector colliding with a
    * query in several tables must score ONCE — the join form paid a
    * `distinct` exchange for exactly this). Long stamps: an Int wraps
    * after 2³¹ rows per executor thread (Bm25Scratch's rule). */
  private final class LshScratch(nq: Int, dims: Int) {
    val qv = new Array[Long](dims)
    val stamp = new Array[Long](nq)
    var gen = 0L
  }

  /** Multiprobe hyperplane-LSH candidate generation + exact quantized
    * cosine + top-k as ONE scan-local aggregate — [[PqScanTopK]]'s shape
    * applied to q26 (VERDICT r12 #4: the 8-table multiprobe candidate
    * JOIN shuffled candidate pairs and cost 2.2× the exact scan at x100;
    * this kernel is the same semantics with zero joins and zero shuffled
    * scoring rows — the only exchange carries one ≤ nq·k-entry partial
    * per task).
    *
    * Input rows are the corpus (vec_id, embedding array<float>, sigs
    * array<int> — [[HyperplaneSigs]]'s per-table signatures). The query
    * set rides in as a broadcast [[LshQuerySet]]; per task it compiles
    * ONCE into open-addressed (table, signature) → query-slot buckets
    * over the queries' probe sets (own signature + all Hamming-1
    * perturbations — the SAME probe enumeration the join form
    * broadcast). Each task then scans its vectors once: 8 bucket lookups
    * per row find every query whose probe set contains one of the row's
    * signatures (identical candidacy to the join: sig ∈ {qsig} ∪
    * {qsig⊕2^p} ⇔ popcount(sig⊕qsig) ≤ 1), the row quantizes once, each
    * candidate query scores with EXACTLY [[QuantizedCosine]]'s
    * arithmetic (same floor/int64/sqrt steps — a candidate whose cosine
    * is SQL-null there, i.e. zero norm / null component / dim mismatch,
    * is skipped here), and (score desc, neighbor_id) selection runs in
    * per-query k-entry heaps. Scores order through an order-preserving
    * double↔long bijection in the heap and decode exactly on output, so
    * the result is bit-identical to the join + distinct + two-stage
    * window form and the DuckDB oracle is unchanged.
    */
  case class LshScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[LshQuerySet],
      k: Int,
      nPlanes: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("lsh_scan_topk",
        Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
          "sigs" -> ArrayType(IntegerType)),
        "neighbor_id", "score", DoubleType) {

    override protected def nq: Int = bc.value.length
    override protected def queryId(qi: Int): Long = bc.value(qi)._1
    override protected def decode(key: Long): Any = DescDouble.decode(key)

    /** (table, probe-signature) → query slots. Key packs (table, sig).
      * The probe set {qsig} ∪ {qsig⊕2^p} is duplicate-free per query
      * (xor with a nonzero bit never equals the base), so no
      * within-bucket dedup is needed. */
    @transient private lazy val probeIndex: java.util.HashMap[Long, Array[Int]] =
      slotIndex[Long](bc.value.length) { qi =>
        val sigs = bc.value(qi)._4
        for (t <- sigs.indices; p <- -1 until nPlanes) yield {
          val probe = if (p < 0) sigs(t) else sigs(t) ^ (1 << p)
          (t.toLong << 32) | (probe.toLong & 0xffffffffL)
        }
      }

    @transient private lazy val scratch =
      ThreadLocal.withInitial[LshScratch](() => {
        val qs = bc.value
        // sized to the MAX query dim (not the first query's): with
        // heterogeneous dims, the per-candidate n == qv.length check is
        // the only dim gate — a row matching a longer-dim query must
        // have scratch room (ADVICE r13)
        new LshScratch(qs.length,
          if (qs.isEmpty) 0 else qs.iterator.map(_._2.length).max)
      })

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val vid = children(0).eval(row)
      val embAny = children(1).eval(row)
      val sigAny = children(2).eval(row)
      if (vid == null || embAny == null || sigAny == null) return buf
      val vecId = vid.asInstanceOf[Long]
      val emb = embAny.asInstanceOf[ArrayData]
      val sigs = sigAny.asInstanceOf[ArrayData]
      val qs = bc.value
      val st = scratch.get()
      st.gen += 1
      var quantized = false // lazily, only if some query candidates
      var dbb = 0L
      var degenerate = false
      val n = emb.numElements()
      var t = 0
      val nT = sigs.numElements()
      while (t < nT) {
        val key = (t.toLong << 32) | (sigs.getInt(t).toLong & 0xffffffffL)
        val bucket = probeIndex.get(key)
        if (bucket != null) {
          var bi = 0
          while (bi < bucket.length) {
            val qi = bucket(bi)
            if (st.stamp(qi) != st.gen) {
              st.stamp(qi) = st.gen
              val (qid, qv, qq, _) = qs(qi)
              // QuantizedCosine's null rules, applied once per row: a
              // dim mismatch, null component or zero norm scores NULL
              // there → the candidate is skipped here (null scores sort
              // last under topK's desc and never enter a k=5 list on
              // well-formed data; degenerate rows contribute nothing)
              if (vecId != qid && n == qv.length) {
                if (!quantized) {
                  quantized = true
                  var i = 0
                  while (i < n && !degenerate) {
                    if (emb.isNullAt(i)) degenerate = true
                    else {
                      val q = math.floor(emb.getFloat(i).toDouble * 1048576.0).toLong
                      st.qv(i) = q
                      dbb += q * q
                    }
                    i += 1
                  }
                  if (dbb == 0L) degenerate = true
                }
                if (!degenerate && qq != 0L) {
                  var dab = 0L
                  var i = 0
                  while (i < n) { dab += qv(i) * st.qv(i); i += 1 }
                  buf.push(qi, DescDouble.encode(
                    dab.toDouble / (math.sqrt(qq.toDouble) * math.sqrt(dbb.toDouble))),
                    vecId)
                }
              }
            }
            bi += 1
          }
        }
        t += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): LshScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): LshScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): LshScanTopK =
      copy(children = newChildren)
  }

  /** [[LshScanTopK]] as an aggregate Column. */
  def lsh_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[LshQuerySet],
      k: Int, nPlanes: Int, cols: Column*): Column =
    aggColumn(LshScanTopK(cols.map(expression), bc, k, nPlanes))

  /** The broadcast operand of [[MihMatchScan]]: the arriving batch's
    * DISTINCT frame hashes (slot-indexed), bounded by the serving-batch
    * contract. The per-task probe index over their 4×16-bit chunks is
    * compiled lazily from this. */
  type MihQuerySet = Array[Long]

  /** Multi-index-hashing match detection as ONE scan-local aggregate —
    * [[LshScanTopK]]'s shape for the perceptual-frame admission screen
    * (q136). Input rows are the STORED frame index (band, bv, h); the
    * arriving batch's distinct hashes ride in as a broadcast. Per task
    * it compiles a (band, chunk) → arriving-hash-slot index ONCE; each
    * stored index row then probes its chunk value plus the 16 one-bit
    * perturbations (17 lookups — one side of the symmetric Hamming ≤ 1
    * pigeonhole cover), verifies candidates with the exact
    * bit_count ≤ maxHam, and SETS A BIT per matched arriving hash. The
    * aggregation state is one bitset over the arriving slots (merge =
    * OR; a few hundred KB for millions of arriving hashes), and eval
    * explodes to the matched hash values.
    *
    * Why: the join form exploded 68 probe rows per ARRIVING hash
    * through a shuffle join against the index, plus two `distinct`
    * exchanges (probe dedup, candidate dedup) — candidate volume rode
    * the exchange. Here the only exchange carries one bitset per task,
    * duplicates are free (idempotent bit sets), and the index needs no
    * pre-distinct. Candidacy and verification are identical, so the
    * matched-hash SET — all the caller consumes — is identical and the
    * DuckDB oracle is unchanged. */
  case class MihMatchScan(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[MihQuerySet],
      maxHam: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]] {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult = {
      if (children.length != 3)
        return TypeCheckResult.TypeCheckFailure(
          "mih_match_scan takes (band, bv, h)")
      val a = requireType(children(0), IntegerType, "mih_match_scan band")
      if (a != TypeCheckResult.TypeCheckSuccess) return a
      val b = requireType(children(1), IntegerType, "mih_match_scan bv")
      if (b != TypeCheckResult.TypeCheckSuccess) return b
      requireType(children(2), LongType, "mih_match_scan h")
    }

    /** (band << 16 | chunk) → arriving slots. */
    @transient private lazy val probeIndex: java.util.HashMap[Int, Array[Int]] =
      slotIndex[Int](bc.value.length) { i =>
        (0 until 4).map(b => (b << 16) | (((bc.value(i) >>> (b * 16)) & 0xffffL).toInt))
      }

    override def createAggregationBuffer(): Array[Long] =
      new Array[Long]((bc.value.length + 63) / 64)

    override def update(buf: Array[Long], row: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
      val bAny = children(0).eval(row)
      val vAny = children(1).eval(row)
      val hAny = children(2).eval(row)
      if (bAny == null || vAny == null || hAny == null) return buf
      val band = bAny.asInstanceOf[Int]
      val bv = vAny.asInstanceOf[Int]
      val hOld = hAny.asInstanceOf[Long]
      val qs = bc.value
      var p = -1
      while (p < 16) {
        val probe = if (p < 0) bv else bv ^ (1 << p)
        val bucket = probeIndex.get((band << 16) | (probe & 0xffff))
        if (bucket != null) {
          var bi = 0
          while (bi < bucket.length) {
            val slot = bucket(bi)
            if ((buf(slot >> 6) & (1L << (slot & 63))) == 0L &&
                java.lang.Long.bitCount(qs(slot) ^ hOld) <= maxHam)
              buf(slot >> 6) |= 1L << (slot & 63)
            bi += 1
          }
        }
        p += 1
      }
      buf
    }

    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < buf.length) { buf(i) |= other(i); i += 1 }
      buf
    }

    override def eval(buf: Array[Long]): Any = {
      val qs = bc.value
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < qs.length) {
        if ((buf(i >> 6) & (1L << (i & 63))) != 0L) out += qs(i)
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bytes = new Array[Byte](buf.length * 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().put(buf)
      bytes
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val buf = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): MihMatchScan =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): MihMatchScan =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): MihMatchScan =
      copy(children = newChildren)
    override def toString: String =
      s"mih_match_scan(broadcast#${bc.id}, maxHam=$maxHam, ${children.mkString(", ")})"
  }

  /** [[MihMatchScan]] as an aggregate Column. */
  def mih_match_scan(
      bc: org.apache.spark.broadcast.Broadcast[MihQuerySet],
      maxHam: Int, cols: Column*): Column =
    aggColumn(MihMatchScan(cols.map(expression), bc, maxHam))

  /** The broadcast operand of [[CosineScanTopK]]: one entry per query —
    * (query_id, quantized components floor(x·2²⁰), ‖q‖² in the
    * quantized domain). Bounded by the serving-batch contract. */
  type CosineQuerySet = Array[(Long, Array[Long], Long)]

  /** EXACT brute-force cosine top-k as ONE scan-local aggregate — the
    * [[LshScanTopK]] shape with every (query, vector) pair a candidate
    * (q25's declared exhaustive baseline, and the exact pools q104's
    * recall audit and q156's hard negatives consume). The broadcast
    * nested-loop join form materialized nq·n scored ROWS into the
    * two-stage window; at the x100 replay that was 77–134 s per
    * consumer. Here each task scans its vectors once, quantizes the
    * row once, scores EVERY query in a primitive loop (exactly
    * [[QuantizedCosine]]'s arithmetic — a pair whose cosine is
    * SQL-null there, i.e. dim mismatch / null component / zero norm,
    * is skipped, and self-pairs are excluded like the join's
    * `vec_id =!= query_id`), and keeps per-query k-entry heaps ordered
    * by the exact (score desc, neighbor_id) total order via
    * [[DescDouble]]; the only exchange carries one ≤ nq·k partial per
    * task. Output is bit-identical to join + topK, oracles unchanged.
    */
  case class CosineScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[CosineQuerySet],
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("cosine_scan_topk",
        Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType)),
        "neighbor_id", "score", DoubleType) {

    override protected def nq: Int = bc.value.length
    override protected def queryId(qi: Int): Long = bc.value(qi)._1
    override protected def decode(key: Long): Any = DescDouble.decode(key)

    @transient private lazy val scratch =
      ThreadLocal.withInitial[LshScratch](() => {
        val qs = bc.value
        // max query dim, not the first's (ADVICE r13; see LshScanTopK):
        // the update's n > st.qv.length early-return must only reject
        // rows LONGER than every query — those match nothing under the
        // per-pair n == qv.length rule
        new LshScratch(qs.length,
          if (qs.isEmpty) 0 else qs.iterator.map(_._2.length).max)
      })

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val vid = children(0).eval(row)
      val embAny = children(1).eval(row)
      if (vid == null || embAny == null) return buf
      val vecId = vid.asInstanceOf[Long]
      val emb = embAny.asInstanceOf[ArrayData]
      val qs = bc.value
      if (qs.isEmpty) return buf
      val st = scratch.get()
      val n = emb.numElements()
      if (n > st.qv.length) return buf // dim mismatch vs every query: null cosine, skip
      // quantize the row ONCE (QuantizedCosine's floor(x·2²⁰) longs);
      // null component / zero norm → null cosine for every pair → skip
      var dbb = 0L
      var i = 0
      while (i < n) {
        if (emb.isNullAt(i)) return buf
        val q = math.floor(emb.getFloat(i).toDouble * 1048576.0).toLong
        st.qv(i) = q
        dbb += q * q
        i += 1
      }
      if (dbb == 0L) return buf
      val invB = math.sqrt(dbb.toDouble)
      var qi = 0
      while (qi < qs.length) {
        val (qid, qv, qq) = qs(qi)
        if (vecId != qid && qv.length == n && qq != 0L) {
          var dab = 0L
          var j = 0
          while (j < n) { dab += qv(j) * st.qv(j); j += 1 }
          buf.push(qi,
            DescDouble.encode(dab.toDouble / (math.sqrt(qq.toDouble) * invB)),
            vecId)
        }
        qi += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): CosineScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): CosineScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): CosineScanTopK =
      copy(children = newChildren)
  }

  /** [[CosineScanTopK]] as an aggregate Column. */
  def cosine_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[CosineQuerySet],
      k: Int, cols: Column*): Column =
    aggColumn(CosineScanTopK(cols.map(expression), bc, k))

  /** The broadcast operand of [[IvfScanTopK]]: one entry per query —
    * (query_id, quantized components floor(x·2²⁰), ‖q‖² in the quantized
    * domain, probe CELL labels — the ≤ nprobe nearest coarse-quantizer
    * cells, distinct by construction). Bounded by the serving
    * request-set contract. */
  type IvfQuerySet = Array[(Long, Array[Long], Long, Array[Int])]

  /** IVF cell-filtered exact cosine top-k as ONE scan-local aggregate —
    * [[CosineScanTopK]] with [[LshScanTopK]]'s probe-index candidacy
    * keyed by cell LABEL (VERDICT r13 #1: q39's probe equi-join
    * `emb.join(probes, "label")` materialized one row per (corpus
    * vector × query probing its cell) into the exchange before the
    * window top-k — the LAST candidate-join ANN shape, 5.7× the exact
    * scan at x100).
    *
    * Input rows are the corpus (vec_id, label, embedding). The query
    * set rides in as a broadcast [[IvfQuerySet]]; per task it compiles
    * ONCE into a label → query-slot index over the queries' probe-cell
    * sets. Each task scans its vectors once: one index lookup per row
    * finds every query probing the row's cell (identical candidacy to
    * the equi-join — a row's single label meets each query's distinct
    * probe set at most once, so no dedup mask is needed), the row
    * quantizes once, and each candidate scores with EXACTLY
    * [[QuantizedCosine]]'s arithmetic (a pair whose cosine is SQL-null
    * there — dim mismatch / null component / zero norm — is skipped,
    * and self-pairs are excluded like the join's
    * `vec_id =!= query_id`). (score desc, neighbor_id) selection runs
    * in per-query k-entry heaps via [[DescDouble]]; the only exchange
    * carries one ≤ nq·k partial per task. Output is bit-identical to
    * the join + two-stage window form, DuckDB oracle unchanged. */
  case class IvfScanTopK(
      children: Seq[Expression],
      bc: org.apache.spark.broadcast.Broadcast[IvfQuerySet],
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends ScanTopK("ivf_scan_topk",
        Seq("vec_id" -> LongType, "label" -> IntegerType,
          "embedding" -> ArrayType(FloatType)),
        "neighbor_id", "score", DoubleType) {

    override protected def nq: Int = bc.value.length
    override protected def queryId(qi: Int): Long = bc.value(qi)._1
    override protected def decode(key: Long): Any = DescDouble.decode(key)

    /** cell label → query slots probing it. */
    @transient private lazy val probeIndex: java.util.HashMap[Int, Array[Int]] =
      slotIndex[Int](bc.value.length)(qi => bc.value(qi)._4)

    @transient private lazy val scratch =
      ThreadLocal.withInitial[LshScratch](() => {
        val qs = bc.value
        // max query dim (the LshScanTopK/CosineScanTopK sizing rule)
        new LshScratch(qs.length,
          if (qs.isEmpty) 0 else qs.iterator.map(_._2.length).max)
      })

    override def update(buf: PqTopKState, row: org.apache.spark.sql.catalyst.InternalRow): PqTopKState = {
      val vid = children(0).eval(row)
      val lab = children(1).eval(row)
      val embAny = children(2).eval(row)
      if (vid == null || lab == null || embAny == null) return buf
      val bucket = probeIndex.get(lab.asInstanceOf[Int])
      if (bucket == null) return buf
      val vecId = vid.asInstanceOf[Long]
      val emb = embAny.asInstanceOf[ArrayData]
      val qs = bc.value
      val st = scratch.get()
      val n = emb.numElements()
      if (n > st.qv.length) return buf // longer than every query: null cosine, skip
      // quantize the row ONCE (QuantizedCosine's floor(x·2²⁰) longs);
      // null component / zero norm → null cosine for every pair → skip
      var dbb = 0L
      var i = 0
      while (i < n) {
        if (emb.isNullAt(i)) return buf
        val q = math.floor(emb.getFloat(i).toDouble * 1048576.0).toLong
        st.qv(i) = q
        dbb += q * q
        i += 1
      }
      if (dbb == 0L) return buf
      val sqB = math.sqrt(dbb.toDouble)
      var bi = 0
      while (bi < bucket.length) {
        val (qid, qv, qq, _) = qs(bucket(bi))
        if (vecId != qid && qv.length == n && qq != 0L) {
          var dab = 0L
          var j = 0
          while (j < n) { dab += qv(j) * st.qv(j); j += 1 }
          buf.push(bucket(bi),
            DescDouble.encode(dab.toDouble / (math.sqrt(qq.toDouble) * sqB)),
            vecId)
        }
        bi += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): IvfScanTopK =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): IvfScanTopK =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): IvfScanTopK =
      copy(children = newChildren)
  }

  /** [[IvfScanTopK]] as an aggregate Column. */
  def ivf_scan_topk(
      bc: org.apache.spark.broadcast.Broadcast[IvfQuerySet],
      k: Int, cols: Column*): Column =
    aggColumn(IvfScanTopK(cols.map(expression), bc, k))

  /** Compiled Naive-Bayes trigram model for [[NbScore]] — the
    * vocabulary-bounded (lang, gram, w_fp) / (lang, prior_fp, unseen_fp)
    * tables flattened into primitive arrays for a branch-light scoring
    * loop:
    *  - a trigram keys by PACKING its three UTF-16 code units into one
    *    long (48 bits — bijective on 3-char strings, so key equality IS
    *    string equality, no collisions possible);
    *  - an open-addressed (linear-probe) key table maps a gram to a slot;
    *  - `deltas` holds, per slot × lang, w_fp − unseen_fp. The identity
    *    score(l) = prior(l) + tt·unseen(l) + Σ_occ (w − unseen) over
    *    occurrences whose (gram, lang) is in the model makes absent pairs
    *    cost NOTHING in the loop: a missing (gram, lang) entry is delta
    *    0, a gram absent from the whole table skips the inner loop.
    */
  final class NbCompiled(
      val nLangs: Int,
      val priors: Array[Long],
      val unseen: Array[Long],
      val keys: Array[Long],
      val deltas: Array[Long]) extends Serializable {
    val mask: Int = keys.length - 1
    @inline def slotOf(key: Long): Int = {
      var h = key * -7046029254386353131L
      h ^= h >>> 32
      var i = h.toInt & mask
      while (true) {
        val k = keys(i)
        if (k == key) return i
        if (k == -1L) return -1
        i = (i + 1) & mask
      }
      -1 // unreachable
    }
  }

  object NbCompiled {
    /** Build from model rows. `grams`: (3-char gram, langIdx, w_fp). */
    def apply(priors: Array[Long], unseen: Array[Long],
        grams: Iterable[(String, Int, Long)]): NbCompiled = {
      val nLangs = priors.length
      val distinctGrams = grams.map(_._1).toSet.size
      var cap = 4
      while (cap < distinctGrams * 2) cap <<= 1
      val keys = Array.fill(cap)(-1L)
      val deltas = new Array[Long](cap * nLangs)
      val mask = cap - 1
      def insertSlot(key: Long): Int = {
        var h = key * -7046029254386353131L
        h ^= h >>> 32
        var i = h.toInt & mask
        while (keys(i) != -1L && keys(i) != key) i = (i + 1) & mask
        keys(i) = key
        i
      }
      grams.foreach { case (g, li, w) =>
        require(g.length == 3, s"nb_score gram must be 3 chars, got '$g'")
        val key = (g.charAt(0).toLong << 32) | (g.charAt(1).toLong << 16) |
          g.charAt(2).toLong
        deltas(insertSlot(key) * nLangs + li) = w - unseen(li)
      }
      new NbCompiled(nLangs, priors, unseen, keys, deltas)
    }
  }

  /** Per-document Naive-Bayes posterior surface as ONE scan-local pass —
    * text → array<long> of fixed-point scores in lang-index order
    * (score(l) = prior + Σ per-trigram-occurrence log-likelihood, the
    * exact long arithmetic of the declarative join form this replaces).
    * The model rides in as a broadcast [[NbCompiled]]; the kernel walks
    * the document's code units once, probes the gram table per trigram
    * occurrence and adds the slot's |langs| deltas — so trained-model
    * scoring at 100 TB is embarrassingly parallel: zero shuffled rows,
    * zero joins, the only exchange anywhere in a scoring query is its
    * output aggregation (if any). Replaces a distinct-gram groupBy whose
    * exchange carried one row per (doc, distinct trigram) — corpus-
    * proportional — plus a broadcast join and a second corpus-row
    * aggregation. NULL text scores NULL (callers see the row dropped by
    * the downstream posexplode).
    */
  case class NbScore(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[NbCompiled])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "nb_score")

    override def nullSafeEval(input: Any): Any = {
      val s = input.toString
      val m = bc.value
      val nL = m.nLangs
      val tt = math.max(s.length - 2, 0)
      val scores = new Array[Long](nL)
      var l = 0
      while (l < nL) { scores(l) = m.priors(l) + tt * m.unseen(l); l += 1 }
      var i = 0
      while (i < tt) {
        val key = (s.charAt(i).toLong << 32) | (s.charAt(i + 1).toLong << 16) |
          s.charAt(i + 2).toLong
        val slot = m.slotOf(key)
        if (slot >= 0) {
          val base = slot * nL
          var j = 0
          while (j < nL) { scores(j) += m.deltas(base + j); j += 1 }
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(scores)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nbs", this, classOf[NbScore].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): NbScore = copy(child = c)
    override def toString: String = s"nb_score(broadcast#${bc.id}, $child)"
  }

  /** [[NbScore]] as a Column. */
  def nb_score(bc: org.apache.spark.broadcast.Broadcast[NbCompiled],
      text: Column): Column =
    column(NbScore(expression(text), bc))

  /** PPJoin in-bucket pair generation: array<struct<doc_id:long, n:int,
    * rk:int>> (one bucket's prefix entries) → array<struct<a:long,
    * b:long>> of the candidate pairs surviving the cap, length and
    * position filters — the one tight loop replacing q18's
    * nested-`transform` pair explosion (6-field struct construction per
    * raw pair through interpreted HOF lambdas was the q18 bench ceiling).
    *
    * Bit-identical semantics to the declarative form it replaced:
    *  - cap: buckets larger than `maxBucket` are sorted ascending and
    *    truncated (entries are unique by doc_id within a bucket, so
    *    doc_id order == full struct order) — `capBucket`'s rule;
    *  - length filter: `ny·10⁶ >= nx·p && nx·10⁶ >= ny·p` with
    *    p = round(t·10⁶) — exact integer arithmetic, so a t whose binary
    *    double sits a ulp above its decimal value (0.55 →
    *    0.55000000000000004) can never over-prune a boundary-length
    *    pair; identical to the int×double form at the t = 0.5 default;
    *  - position filter: `min(nx-rkx, ny-rky) + 1 >= floor((nx+ny+2)/3)`
    *    — the integer alpha for t = 0.5 (callers with t > 0.5 get a
    *    weaker-but-lossless bound; t < 0.5 would over-prune, same
    *    contract as the expression this replaces);
    *  - pair orientation: a = min(doc_id), b = max(doc_id).
    */
  case class PPJoinPairs(child: Expression, t: Double, maxBucket: Int)
      extends UnaryExpression {
    // t as exact parts-per-million (≤6-decimal contract; see scaladoc)
    private val tPpm = math.round(t * 1e6)
    private val entryType = StructType(Seq(
      StructField("doc_id", LongType), StructField("n", IntegerType),
      StructField("rk", IntegerType)))
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false))),
      containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(entryType), "ppjoin_pairs")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      var m = arr.numElements()
      // unpack once: primitive columns beat repeated struct accessor calls
      var ids = new Array[Long](m)
      var ns = new Array[Int](m)
      var rks = new Array[Int](m)
      var i = 0
      while (i < m) {
        val e = arr.getStruct(i, 3)
        ids(i) = e.getLong(0); ns(i) = e.getInt(1); rks(i) = e.getInt(2)
        i += 1
      }
      if (m > maxBucket) {
        val order = Array.range(0, m).sortBy(ids)
        val (ids2, ns2, rks2) =
          (new Array[Long](maxBucket), new Array[Int](maxBucket), new Array[Int](maxBucket))
        i = 0
        while (i < maxBucket) {
          val o = order(i)
          ids2(i) = ids(o); ns2(i) = ns(o); rks2(i) = rks(o)
          i += 1
        }
        ids = ids2; ns = ns2; rks = rks2; m = maxBucket
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      i = 0
      while (i < m) {
        val nx = ns(i)
        var j = i + 1
        while (j < m) {
          val ny = ns(j)
          if (ny.toLong * 1000000L >= nx.toLong * tPpm &&
              nx.toLong * 1000000L >= ny.toLong * tPpm) {
            val pos = math.min(nx - rks(i), ny - rks(j)) + 1
            if (pos >= (nx + ny + 2) / 3) {
              val a = math.min(ids(i), ids(j))
              val b = math.max(ids(i), ids(j))
              out += org.apache.spark.sql.catalyst.InternalRow(a, b)
            }
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ppj", this, classOf[PPJoinPairs].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): PPJoinPairs =
      copy(child = c)
  }

  /** SimHash in-bucket pair generation: array<struct<doc_id:long,
    * simhash:long>> (one (band, bv) bucket) → array<struct<i:long,
    * j:long, hamming:long>> of the pairs within Hamming distance
    * `maxHam` — q20's candidate explosion collapsed into one xor+popcount
    * loop.
    *
    * Why this exists: single-byte banding admits ~m²/2 candidate
    * COMPARISONS per bucket (uniform fingerprints land n/256 docs per
    * bucket — the inherent Θ(n²/2⁸) of the 8-band/hamming-7 SimHash
    * construction; the sub-quadratic near-dup workhorse at corpus scale
    * is q19's MinHash-LSH). The declarative form materialized a struct
    * row per comparison through interpreted HOF lambdas; here a
    * comparison is one xor + one Long.bitCount (~ns), and only the rare
    * survivors allocate. Bit-identical semantics: cap — buckets larger
    * than `maxBucket` are sorted ascending by doc_id (unique within a
    * bucket) and truncated, `capBucket`'s rule; pair orientation i =
    * min, j = max; hamming = bit_count(xor).
    */
  case class SimHashBucketPairs(child: Expression, maxHam: Int, maxBucket: Int)
      extends UnaryExpression {
    private val entryType = StructType(Seq(
      StructField("doc_id", LongType), StructField("simhash", LongType)))
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("i", LongType, nullable = false),
        StructField("j", LongType, nullable = false),
        StructField("hamming", LongType, nullable = false))),
      containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, ArrayType(entryType), "simhash_bucket_pairs")

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      var m = arr.numElements()
      var ids = new Array[Long](m)
      var sims = new Array[Long](m)
      var i = 0
      while (i < m) {
        val e = arr.getStruct(i, 2)
        ids(i) = e.getLong(0); sims(i) = e.getLong(1)
        i += 1
      }
      if (m > maxBucket) {
        val order = Array.range(0, m).sortBy(ids)
        val (ids2, sims2) = (new Array[Long](maxBucket), new Array[Long](maxBucket))
        i = 0
        while (i < maxBucket) {
          val o = order(i)
          ids2(i) = ids(o); sims2(i) = sims(o)
          i += 1
        }
        ids = ids2; sims = sims2; m = maxBucket
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          val ham = java.lang.Long.bitCount(sims(i) ^ sims(j))
          if (ham <= maxHam) {
            val a = math.min(ids(i), ids(j))
            val b = math.max(ids(i), ids(j))
            out += org.apache.spark.sql.catalyst.InternalRow(a, b, ham.toLong)
          }
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shbp", this, classOf[SimHashBucketPairs].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): SimHashBucketPairs =
      copy(child = c)
  }

  /** Merge every non-overlapping left-to-right occurrence of the adjacent
    * token pair (l, r) in `seq` — BPE's single merge step, shared by the
    * [[BpeEncode]] apply kernel and [[trainBpeMerges]]' re-segmentation so
    * training and apply agree by construction. */
  private[functions] def bpeMergeAll(
      seq: Array[String], l: String, r: String): Array[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](seq.length)
    var j = 0
    while (j < seq.length) {
      if (j < seq.length - 1 && seq(j) == l && seq(j + 1) == r) {
        buf += (l + r); j += 2
      } else { buf += seq(j); j += 1 }
    }
    buf.toArray
  }

  /** UTF-8 byte-order `<` over strings — EXACTLY the total order Spark's
    * `orderBy` applies to StringType (UTF8String.compareTo: unsigned
    * byte-wise) and DuckDB's VARCHAR ORDER BY. The driver-side BPE
    * argmax must break ties in THIS order, not Java String (UTF-16
    * code-unit) order, to stay bit-parity with the distributed trainer
    * and the unrolled SQL oracle (identical on ASCII; supplementary
    * characters order differently). */
  private[functions] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Deterministic greedy BPE TRAINING over a bounded word-count sample
    * (Sennrich et al., "Neural Machine Translation of Rare Words with
    * Subword Units", ACL 2016 — algorithm 1, re-derived): start from
    * per-character segmentations, and for `nMerges` rounds count every
    * adjacent symbol pair weighted by word frequency, merge the most
    * frequent pair everywhere, repeat. Ties break by (count desc, left,
    * right) under UTF-8 byte order ([[utf8Lt]] — the distributed
    * trainer's Spark `orderBy` order) so the merges table is a pure
    * function of the input sample AND bit-identical to the in-plan
    * trainer on the same counts. Driver-local by design: the input is a
    * vocabulary-bounded word-count table (Heaps-sublinear in the
    * corpus), never the corpus — the [[graft.queries.TextOps]] artifact
    * pair trains through this under `graft.bpe.driverVocabMax`. */
  private[graft] def trainBpeMerges(
      wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var segs: Seq[(Array[String], Long)] = wordCounts
      .filter(_._1.nonEmpty)
      .map { case (w, c) => (w.map(_.toString).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (seq, c) =>
        var i = 0
        while (i < seq.length - 1) {
          val p = (seq(i), seq(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // argmax under (count desc, l, r) — a total order, so the
        // HashMap's iteration order can't leak into the result
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 || (e._2 == best._2 &&
              (utf8Lt(e._1._1, best._1._1) || (e._1._1 == best._1._1 &&
                utf8Lt(e._1._2, best._1._2)))))
            best = e
        }
        merges += best._1
        segs = segs.map { case (seq, c) =>
          (bpeMergeAll(seq, best._1._1, best._1._2), c)
        }
      }
    }
    merges.toSeq
  }

  /** Merges-table-driven BPE APPLY: text → array<string> of subword
    * tokens. Words are the non-empty single-space splits (q23's token
    * rule); each word starts as per-character symbols and repeatedly
    * merges the present adjacent pair with the LOWEST merge rank (all
    * non-overlapping occurrences, left to right) until no ranked pair
    * remains — the standard greedy BPE segmenter, one tight loop per
    * word (WinnowFingerprint's kernel shape; a higher-order-function
    * encoding would interpret thousands of boxed lambdas per document).
    * The merges table is a plan literal (≤ dozens of entries by the
    * bounded-training contract), so the expression is stateless and
    * SQL-injectable. Bit-parity vs an independent naive reference is
    * pinned by ScalaCheck in PropertySpec.
    */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(child, StringType, "bpe_encode text")

    // duplicate pairs keep their FIRST (lowest) rank
    @transient private lazy val rank: Map[(String, String), Int] =
      merges.zipWithIndex.groupMapReduce(_._1)(_._2)(math.min)

    private def encodeWord(w: String,
        out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
      var seq: Array[String] = w.map(_.toString).toArray
      var done = false
      while (!done && seq.length > 1) {
        var bestRank = Int.MaxValue
        var i = 0
        while (i < seq.length - 1) {
          val r = rank.getOrElse((seq(i), seq(i + 1)), Int.MaxValue)
          if (r < bestRank) bestRank = r
          i += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val (l, r) = merges(bestRank)
          seq = bpeMergeAll(seq, l, r)
        }
      }
      seq.foreach(t => out += org.apache.spark.unsafe.types.UTF8String.fromString(t))
    }

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var start = 0
      var i = 0
      while (i <= text.length) {
        if (i == text.length || text.charAt(i) == ' ') {
          if (i > start) encodeWord(text.substring(start, i), out)
          start = i + 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpe", this, classOf[BpeEncode].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
    }
    override protected def withNewChildInternal(c: Expression): BpeEncode =
      copy(child = c)
  }

  /** Parse a foldable array<struct<l,r>> merges literal (the shape
    * `typedlit(Seq[(String, String)])` produces) at function-build time. */
  private[graft] def parseMergesLiteral(e: Expression): Seq[(String, String)] = {
    val arr = e.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val row = arr.getStruct(i, 2)
      (row.getUTF8String(0).toString, row.getUTF8String(1).toString)
    }
  }

  // Column-API wrappers: the functions resolve in any session built by
  // `Sessions` or with `GraftExtensions` (its table registers them)
  def minhash_signature(shingles: Column): Column =
    call_function("minhash_signature", shingles)
  def quantized_cosine(a: Column, b: Column): Column =
    call_function("quantized_cosine", a, b)
  def winnow_fingerprint(text: Column): Column =
    call_function("winnow_fingerprint", text)
  def word_shingles(text: Column): Column =
    call_function("word_shingles", text)
  def char_grams(text: Column): Column =
    call_function("char_grams", text)
  def char_gram_counts(text: Column): Column =
    call_function("char_gram_counts", text)
  def simhash64(shingles: Column): Column =
    call_function("simhash64", shingles)
  def jl_project(embedding: Column): Column =
    call_function("jl_project", embedding)
  def long_cosine(a: Column, b: Column): Column =
    call_function("long_cosine", a, b)
  def sorted_intersect_count(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
  def sorted_intersect(a: Column, b: Column): Column =
    call_function("sorted_intersect", a, b)
  def dtw_dist(a: Column, b: Column): Column =
    call_function("dtw_dist", a, b)
  def hyperplane_sigs(embedding: Column): Column =
    call_function("hyperplane_sigs", embedding)
  def shingle_hashes(text: Column): Column =
    call_function("shingle_hashes", text)
  def quantize_vec(v: Column): Column =
    call_function("quantize_vec", v)
  def word_stats(text: Column): Column =
    call_function("word_stats", text)
  def sq_dist(a: Column, b: Column): Column =
    call_function("sq_dist", a, b)
  def freq_sketch(token: Column): Column =
    call_function("freq_sketch", token)
  def freq_sketch_long(hash: Column, k: Int): Column =
    call_function("freq_sketch_long", hash,
      org.apache.spark.sql.functions.lit(k))
  def dhash64(frame: Column): Column =
    call_function("dhash64", frame)
  def bigram_hashes(text: Column): Column =
    call_function("bigram_hashes", text)
  def bigram_spans(text: Column): Column =
    call_function("bigram_spans", text)
  def pq_adc(codes: Column, dtable: Column, k: Int): Column =
    call_function("pq_adc", codes, dtable,
      org.apache.spark.sql.functions.lit(k))
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode", text,
      org.apache.spark.sql.functions.typedlit(merges))
  def ppjoin_pairs(bucket: Column, t: Double, maxBucket: Int): Column =
    call_function("ppjoin_pairs", bucket,
      org.apache.spark.sql.functions.lit(t),
      org.apache.spark.sql.functions.lit(maxBucket))
  def simhash_bucket_pairs(bucket: Column, maxHam: Int, maxBucket: Int): Column =
    call_function("simhash_bucket_pairs", bucket,
      org.apache.spark.sql.functions.lit(maxHam),
      org.apache.spark.sql.functions.lit(maxBucket))
  def bloom_agg(hashed: Column, estItems: Column): Column =
    call_function("bloom_agg", hashed, estItems)
  def bloom_might_contain(bloom: Column, hashed: Column): Column =
    call_function("bloom_might_contain", bloom, hashed)

  /** [[BloomProbeBroadcast]] as a Column. It carries its own filter, so
    * concurrent callers on one session never bind each other's. */
  def bloom_probe_broadcast(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      hashed: Column): Column =
    column(BloomProbeBroadcast(bc, expression(hashed)))
}
