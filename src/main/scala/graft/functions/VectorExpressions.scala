package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for embedding math over `array<float>`
  * columns — the hot path of similarity search. A `zip_with`/`aggregate`
  * formulation pays an interpreted lambda call per element (higher-order
  * functions never enter whole-stage codegen); these compile to a tight
  * primitive loop via doGenCode, and the interpreted `nullSafeEval` path
  * matches it exactly.
  *
  * Semantics match the fold-in-index-order formulation (and the DuckDB
  * oracle): elements promoted to double, accumulated left-to-right.
  * Null ELEMENTS are not expected (embeddings are dense); null input
  * arrays propagate null.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float> args, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** sqrt(sum(x_i^2)) with double accumulation in index order. */
case class VecNorm(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vec_norm requires array<float>, got ${other.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  $s += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** Single-pass 16-bit SimHash over a space-delimited ASCII text column:
  * the FEATURES are word bigrams — f(wᵢ, wᵢ₊₁) = th(wᵢ)·131 + th(wᵢ₊₁)
  * with th(w) = len(w)*97 + ascii(first)*13 + ascii(last); a one-word
  * text falls back to its single unigram th. Bit b of the signature is
  * set iff the +1/-1 majority vote of (f >> b) & 1 over all features is
  * positive.
  *
  * Bigram (not unigram) features are the Manku et al. (WWW'07) shingled-
  * feature discipline, and they are what keeps the signature usable on
  * natural text: word frequencies are Zipf, so unigram features are
  * dominated by the same head words in EVERY document and the per-bit
  * votes converge to one global sign pattern — measured on the Zipf-
  * sampled sf1 corpus, the largest 16-bit band bucket held 12% of ALL
  * docs under unigram features (the banded candidate join degenerates
  * toward all-pairs) vs 0.16% under bigrams (~400× smaller pair
  * surface). The trade is looser-duplicate recall: a 5%-word-mutated
  * copy moves ~10% of its bigrams, so planted near-dup pairs verify at
  * hamming ≤ 8 with measured ~82% recall (vs ~99% for unigrams) — the
  * MinHash-LSH pipeline remains the high-recall path, exactly the
  * production split (simhash = cheap tight-dup filter).
  *
  * One per-row compiled byte scan — no split() array, no exploded rows, no
  * shuffle, no higher-order-function lambdas. Split semantics match
  * `split(text, ' ')` with unlimited limit (consecutive delimiters yield
  * empty tokens, th = 0). Byte-level `first`/`last` equals ascii() for the
  * ASCII corpus this operates on (same caveat the byte-histogram op
  * documents).
  */
object SimHashHelper {
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val counts = new Array[Int](16)
    val n = bytes.length
    var start = 0
    var i = 0
    var prevTh = 0L
    var tokens = 0
    def vote(f: Long): Unit = {
      var b = 0
      while (b < 16) {
        if (((f >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val len = i - start
        val first = if (len > 0) bytes(start) & 0xff else 0
        val last = if (len > 0) bytes(i - 1) & 0xff else 0
        val th = len.toLong * 97 + first * 13 + last
        tokens += 1
        if (tokens >= 2) vote(prevTh * 131 + th)
        prevTh = th
        start = i + 1
      }
      i += 1
    }
    if (tokens == 1) vote(prevTh)
    var sig = 0L
    var b = 0
    while (b < 16) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}

/** 48-bit SimHash as three independently-seeded 16-bit chunks, computed
  * in ONE byte scan over word-BIGRAM features (see [[SimHashHelper]] for
  * why bigrams — unigram features degenerate on Zipf text and saturate
  * the band buckets): chunk m applies an odd multiplicative mix
  * `(f * MULTS(m)) & 0xffff` (bijective mod 2^16, so the weak feature
  * hash's low-entropy high bits get spread) before the per-bit majority
  * vote. The chunks double as the LSH BANDS of the simhash near-dup
  * operator: two docs within Hamming distance k of each other agree on
  * at least one 16-bit chunk when k < 3 chunks (pigeonhole), so
  * candidate generation is chunk-equality — never all-pairs. Production
  * sizing is a 64-bit hash in 4 bands; 48 bits in 3 keeps every
  * intermediate (including `1 << 47`) inside signed-64 range for the
  * SQL oracle replica.
  */
object SimHash48Helper {
  private val MULTS = Array(25173L, 13849L, 40503L)

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val counts = new Array[Int](48)
    val n = bytes.length
    var start = 0
    var i = 0
    var prevTh = 0L
    var tokens = 0
    def vote(f: Long): Unit = {
      var m = 0
      while (m < 3) {
        val fm = (f * MULTS(m)) & 0xffffL
        var b = 0
        while (b < 16) {
          if (((fm >> b) & 1L) == 1L) counts(m * 16 + b) += 1
          else counts(m * 16 + b) -= 1
          b += 1
        }
        m += 1
      }
    }
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val len = i - start
        val first = if (len > 0) bytes(start) & 0xff else 0
        val last = if (len > 0) bytes(i - 1) & 0xff else 0
        val th = len.toLong * 97 + first * 13 + last
        tokens += 1
        if (tokens >= 2) vote(prevTh * 131 + th)
        prevTh = th
        start = i + 1
      }
      i += 1
    }
    if (tokens == 1) vote(prevTh)
    var sig = 0L
    var k = 0
    while (k < 48) {
      if (counts(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }
}

case class SimHash48(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash48 requires string, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash48"

  override protected def nullSafeEval(v: Any): Any =
    SimHash48Helper.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash48Helper.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash48 =
    copy(child = newChild)
}

case class SimHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash16 requires string, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(v: Any): Any =
    SimHashHelper.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // a static call per ROW (the StaticInvoke pattern) keeps the operator
    // inside whole-stage codegen; the token loop lives in one JIT-friendly
    // method instead of inlined generated Java
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashHelper.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** One-pass 32-permutation MinHash over a shingle array — the fused form
  * of the explode → scalar-hash → 32-column hash-aggregate pipeline (see
  * [[graft.operators.Dedup.sigOf]]): same shingle hash, same permuted
  * mins, but computed per DOC in one compiled loop, so the signature
  * pass needs NO explode and NO per-doc aggregation shuffle at all.
  */
object MinHashHelper {
  private final val P = 2147483647L // 2^31 - 1
  private final val K = 32
  private final val A: Array[Long] = Array.tabulate(K)(i => 1103L * (i + 1) + 7)
  private final val B: Array[Long] = Array.tabulate(K)(i => 12289L * (i + 1) + 3)

  /** `ascii(substr(g, pos, 1))` with SQL semantics: 1-based character
    * position, empty-out-of-range → 0, else the first byte (shingles are
    * ASCII `word_word` strings; for ASCII the byte IS the codepoint,
    * matching Spark's `Ascii` on every input this pipeline produces).
    */
  private def cp(g: UTF8String, pos: Int): Long = {
    val s = g.substringSQL(pos, 1)
    if (s.numBytes() == 0) 0L else (s.getByte(0) & 0xff).toLong
  }

  /** Replicates [[graft.operators.Dedup.shingleHashScalar]] exactly:
    * th = (((((len·131 + c1)·131 + c2)·131 + c3)·131 + c(len−2))·131 +
    * c(len−1))·131 + c(len), all BIGINT, mod P. Bounded: len ≤ ~10³ and
    * six ×131 steps keep the pre-mod value ≈ len·131⁶ ≪ 2⁶³.
    */
  def shingleHash(g: UTF8String): Long = {
    val len = g.numChars()
    var h = len.toLong
    h = h * 131 + cp(g, 1)
    h = h * 131 + cp(g, 2)
    h = h * 131 + cp(g, 3)
    h = h * 131 + cp(g, math.max(len - 2, 1))
    h = h * 131 + cp(g, math.max(len - 1, 1))
    h = h * 131 + cp(g, len)
    h % P
  }

  /** 32 permuted mins in one pass; an EMPTY shingle array yields 32 null
    * elements — the exact value the explode_outer + min-aggregate path
    * produced (min over a single null hash row), so banding and the
    * DuckDB oracle (`list_min([]) = NULL`) see identical signatures.
    */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](K))
    val mins = new Array[Long](K)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = shingleHash(arr.getUTF8String(i))
      var j = 0
      while (j < K) {
        val v = (A(j) * h + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `minhash32(grams)`: array<string> → array<long> of the 32 permuted
  * MinHash minima (null elements for an empty input array).
  */
case class MinHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash32 requires array<string>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash32"

  override protected def nullSafeEval(v: Any): Any =
    MinHashHelper.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashHelper.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}

/** Two-pointer set Jaccard over SORTED, DISTINCT string arrays.
  * Extracted to a static helper (the StaticInvoke pattern, like
  * [[SimHashHelper]]) so the generated code is one JIT-friendly call.
  */
object JaccardHelper {
  /** PRECONDITION: both arrays are distinct and sorted ascending (what
    * [[graft.operators.Dedup.gramsOf]] produces via
    * `array_sort(array_distinct(...))`). One merge pass counts the
    * intersection; |union| = |a| + |b| − |a∩b|. Replaces
    * `round(size(array_intersect(a,b)) / size(array_union(a,b))::double, 4)`
    * — same value, but no intermediate array materialization and no
    * per-pair hash-set build: the dominant allocation of the LSH verify
    * join drops to zero.
    *
    * Rounding replicates Spark's `round(_, 4)` on DoubleType exactly:
    * BigDecimal.valueOf (canonical decimal form of the double) +
    * HALF_UP — bit-for-bit the value the previous formulation produced,
    * so every DuckDB oracle stays valid. Both-empty inputs yield NaN
    * (0/0), matching the old plan's division; NaN fails any ≥ τ filter.
    */
  def jaccard4(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) Double.NaN
    else java.math.BigDecimal.valueOf(inter.toDouble / union)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `jaccard4(a, b)`: 4-dp set Jaccard of two sorted distinct
  * `array<string>` columns — the fused verify kernel of the MinHash-LSH
  * family (see [[JaccardHelper.jaccard4]] for the contract).
  */
case class Jaccard4(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard4 requires array<string> args, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard4"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaccardHelper.jaccard4(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardHelper.jaccard4($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Jaccard4 =
    copy(left = newLeft, right = newRight)
}

/** 56-bit dHash over a 64-element pixel array (8×8 grid, bit b set when
  * the left pixel of row b/7, column b%7 is darker than its row
  * neighbor) — the fused form of the `aggregate(sequence(0,55), …)`
  * higher-order-function fold in [[graft.operators.Multimodal.phashOf]],
  * which paid an interpreted lambda call per bit per asset (HOFs never
  * enter whole-stage codegen). Bit-identical semantics, including the
  * out-of-range and null-element behavior of `element_at` under
  * non-ANSI SQL (invalid index → null → CASE false → bit unset).
  */
object DHash56Helper {
  def compute(px: ArrayData): Long = {
    val n = px.numElements()
    var sig = 0L
    var b = 0
    while (b < 56) {
      val i1 = (b / 7) * 8 + (b % 7)
      val i2 = i1 + 1
      if (i2 < n && !px.isNullAt(i1) && !px.isNullAt(i2) &&
        px.getInt(i1) < px.getInt(i2)) sig |= 1L << b
      b += 1
    }
    sig
  }
}

/** 64-point pixel sampler over a text body — the fused form of
  * `transform(sequence(0, 63), k -> ascii(substring(txt,
  * 1 + (k * length(txt)) div 64, 1)))` in
  * [[graft.operators.Multimodal.pixelGrids]]. The HOF form paid an
  * interpreted lambda per sample, and each `substring(txt, pos, 1)` is
  * an O(pos) codepoint walk from the start of the string — O(64·len)
  * per asset. This walks the bytes ONCE to index codepoint offsets,
  * then decodes the 64 sampled codepoints — O(len + 64). Semantics are
  * `ascii` + codepoint-based `substring`/`length` exactly: sample k
  * reads the codepoint at 0-based char index (k·numChars) div 64, and
  * an empty body yields ascii('') = 0 for every sample.
  */
object PixelGrid64Helper {
  def compute(s: UTF8String): ArrayData = {
    val numChars = s.numChars()
    val out = new Array[Int](64)
    if (numChars > 0) {
      val bytes = s.getBytes
      // byte offset of each codepoint (one pass)
      val offs = new Array[Int](numChars)
      var i = 0
      var c = 0
      while (i < bytes.length && c < numChars) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      var k = 0
      while (k < 64) {
        val ci = ((k.toLong * numChars) / 64).toInt
        val o = offs(ci)
        val b0 = bytes(o) & 0xff
        // decode the codepoint at offset o (UTF-8)
        val cp =
          if (b0 < 0x80) b0
          else if (b0 < 0xe0) ((b0 & 0x1f) << 6) | (bytes(o + 1) & 0x3f)
          else if (b0 < 0xf0)
            ((b0 & 0x0f) << 12) | ((bytes(o + 1) & 0x3f) << 6) | (bytes(o + 2) & 0x3f)
          else ((b0 & 0x07) << 18) | ((bytes(o + 1) & 0x3f) << 12) |
            ((bytes(o + 2) & 0x3f) << 6) | (bytes(o + 3) & 0x3f)
        out(k) = cp
        k += 1
      }
    }
    new GenericArrayData(out)
  }
}

case class PixelGrid64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pixelgrid64 requires string, got ${other.sql}")
    }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pixelgrid64"

  override protected def nullSafeEval(v: Any): Any =
    PixelGrid64Helper.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PixelGrid64Helper.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): PixelGrid64 =
    copy(child = newChild)
}

/** Fused word-shingle builders — the shared narrow front of the LSH /
  * containment family. The SQL formulation (`array_sort(array_distinct(
  * zip_with(slice(ws,…), slice(ws,…), concat)))` over a pre-split `ws`)
  * pays an interpreted lambda per shingle (zip_with) plus interpreted
  * comparisons for array_sort's default-comparator lambda — higher-order
  * functions never enter whole-stage codegen. These walk the text bytes
  * once (0x20 never occurs inside a multi-byte UTF-8 char, so byte-level
  * word bounds equal `split(text, ' ', -1)` exactly, empties included),
  * build each shingle with one array copy, dedupe with a LinkedHashSet
  * (= array_distinct's keep-first-occurrence), and sort with
  * UTF8String.compareTo (= StringType's binary ordering). DedupSpec pins
  * element-wise equality against the SQL forms on the real corpus.
  */
object GramHelper {
  /** (start, end) byte offsets of each `split(text, ' ', -1)` token. */
  private def bounds(bytes: Array[Byte]): Array[Int] = {
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    val b = new Array[Int](2 * nWords)
    var w = 0
    var start = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        b(2 * w) = start; b(2 * w + 1) = i
        w += 1
        start = i + 1
      }
      i += 1
    }
    b
  }

  /** Power-of-two size of the shingle dedup table for `n` candidates:
    * load factor ≤ 0.5, clamped at 2^30. Without the clamp and the Long
    * compare, an Int capacity wraps negative once n > 2^29 and the
    * doubling loop never ends. At the clamp the load factor can reach 1
    * and a probe still finds a slot: `bounds` holds two Ints per word,
    * so n < 2^30.
    */
  private[functions] def tableCapacity(n: Int): Int = {
    var cap = 4
    while (cap < (1 << 30) && cap < n.toLong * 2) cap <<= 1
    cap
  }

  /** Distinct '_'-joined k-word shingles in first-occurrence order,
    * optionally binary-sorted. k-shingles exist when words ≥ k (the
    * slice-length guards in the SQL forms); a lone empty token (empty
    * text) yields zero shingles for k ≥ 2.
    *
    * Dedup is an open-addressing probe over the RAW byte ranges: since
    * `split` is single-space, the joined form of shingle i is exactly
    * `bytes[b(2i), b(2(i+k-1)+1))` with each 0x20 mapped to '_' (the k−1
    * in-range separators ARE the space bytes, empties included), so
    * candidates hash and compare in place and only first occurrences
    * ever materialize a UTF8String. The former LinkedHashSet form paid,
    * PER CANDIDATE (duplicates included), k arraycopies + one byte[]
    * alloc + a boxed set node — on repetitive corpora (the all-pairs
    * regime: few distinct grams, long docs) that allocation churn was
    * the dominant per-row cost of the whole gram front.
    */
  def shingles(s: UTF8String, k: Int, sorted: Boolean): ArrayData = {
    val bytes = s.getBytes
    val b = bounds(bytes)
    val nWords = b.length / 2
    val n = nWords - k + 1 // candidate shingles (one per word window)
    if (n <= 0) return new GenericArrayData(new Array[Any](0))
    val cap = tableCapacity(n)
    val mask = cap - 1
    val table = new Array[Int](cap)
    java.util.Arrays.fill(table, -1)
    val out = new Array[UTF8String](n)
    var nOut = 0
    var i = 0
    while (i < n) {
      val start = b(2 * i)
      val end = b(2 * (i + k - 1) + 1)
      // FNV-1a over the mapped bytes of the candidate range
      var h = -2128831035 // 0x811c9dc5
      var p = start
      while (p < end) {
        val raw = bytes(p)
        val v: Int = if (raw == ' ') '_'.toInt else raw.toInt
        h = (h ^ (v & 0xff)) * 16777619
        p += 1
      }
      var slot = h & mask
      var dup = false
      var done = false
      while (!done) {
        val j = table(slot)
        if (j < 0) done = true // empty slot: first occurrence
        else {
          // in-place equality: stored string vs mapped candidate range
          val st = out(j)
          if (st.numBytes == end - start) {
            var q = 0
            val len = end - start
            var eq = true
            while (eq && q < len) {
              val raw = bytes(start + q)
              val v: Byte = if (raw == ' ') '_'.toByte else raw
              if (st.getByte(q) != v) eq = false
              q += 1
            }
            if (eq) { dup = true; done = true }
            else slot = (slot + 1) & mask
          } else slot = (slot + 1) & mask
        }
      }
      if (!dup) {
        val len = end - start
        val sb = new Array[Byte](len)
        var q = 0
        while (q < len) {
          val raw = bytes(start + q)
          sb(q) = if (raw == ' ') '_'.toByte else raw
          q += 1
        }
        out(nOut) = UTF8String.fromBytes(sb)
        table(slot) = nOut
        nOut += 1
      }
      i += 1
    }
    val arr =
      if (nOut == n) out
      else java.util.Arrays.copyOf(out, nOut)
    // natural ordering IS UTF8String.compareTo = StringType's binary order
    if (sorted) java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }
}

abstract class ShingleExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
}

/** `array_distinct(zip_with(slice(ws,1,n-1), slice(ws,2,n-1), concat _))`
  * fused — distinct adjacent word bigrams, first-occurrence order.
  */
case class Bigrams2(child: Expression) extends ShingleExpression {
  override def prettyName: String = "bigrams2"
  override protected def nullSafeEval(v: Any): Any =
    GramHelper.shingles(v.asInstanceOf[UTF8String], 2, sorted = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHelper.shingles($a, 2, false);")
  override protected def withNewChildInternal(newChild: Expression): Bigrams2 =
    copy(child = newChild)
}

/** [[Bigrams2]] + binary sort — the `array_sort(…)` form
  * [[graft.operators.Dedup.gramsOf]] feeds to the two-pointer jaccard4.
  */
case class Bigrams2Sorted(child: Expression) extends ShingleExpression {
  override def prettyName: String = "bigrams2_sorted"
  override protected def nullSafeEval(v: Any): Any =
    GramHelper.shingles(v.asInstanceOf[UTF8String], 2, sorted = true)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHelper.shingles($a, 2, true);")
  override protected def withNewChildInternal(newChild: Expression): Bigrams2Sorted =
    copy(child = newChild)
}

/** Distinct 4-word shingles (first-occurrence order) — the fused
  * [[graft.operators.Dedup.grams4Spark]], the containment screen's
  * decontamination-standard long-gram regime.
  */
case class Grams4W(child: Expression) extends ShingleExpression {
  override def prettyName: String = "grams4w"
  override protected def nullSafeEval(v: Any): Any =
    GramHelper.shingles(v.asInstanceOf[UTF8String], 4, sorted = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHelper.shingles($a, 4, false);")
  override protected def withNewChildInternal(newChild: Expression): Grams4W =
    copy(child = newChild)
}

case class DHash56(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dhash56 requires array<int>, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "dhash56"

  override protected def nullSafeEval(v: Any): Any =
    DHash56Helper.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DHash56Helper.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): DHash56 =
    copy(child = newChild)
}

object VectorFunctions {
  /** Every graft SQL function: name, expression class and builder.
    * [[GraftExtensions]] installs exactly this table.
    */
  val all: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], e => VecDot(e(0), e(1))),
    ("vec_norm", classOf[VecNorm], e => VecNorm(e.head)),
    ("simhash16", classOf[SimHash16], e => SimHash16(e.head)),
    ("simhash48", classOf[SimHash48], e => SimHash48(e.head)),
    ("jaccard4", classOf[Jaccard4], e => Jaccard4(e(0), e(1))),
    ("minhash32", classOf[MinHash32], e => MinHash32(e.head)),
    ("container_decode", classOf[ContainerDecode], e => ContainerDecode(e.head)),
    ("dhash56", classOf[DHash56], e => DHash56(e.head)),
    ("pixelgrid64", classOf[PixelGrid64], e => PixelGrid64(e.head)),
    ("bigrams2", classOf[Bigrams2], e => Bigrams2(e.head)),
    ("bigrams2_sorted", classOf[Bigrams2Sorted], e => Bigrams2Sorted(e.head)),
    ("grams4w", classOf[Grams4W], e => Grams4W(e.head)))
}

/** Session-extension installer: graft's SQL functions and the native
  * as-of join planner strategy. The session factory
  * `graft.runner.Cli.buildSpark` sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`, so both are in
  * every session it builds and in every clone or new session of that
  * context; nothing else installs them.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    VectorFunctions.all.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // whole-operator extension: the native as-of join planner rule
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
