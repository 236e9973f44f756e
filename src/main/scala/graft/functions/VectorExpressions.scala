package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanDf
import org.apache.spark.sql.types._

/** Fused cosine similarity over two numeric array columns.
  *
  * A custom Catalyst expression (preference (b) of the build brief): one
  * pass computes dot product and both norms with whole-stage codegen —
  * the higher-order-function formulation (zip_with + aggregate ×3) is
  * CodegenFallback and walks the arrays three times. At 100 TB the ANN
  * scan is compute-bound on exactly this kernel.
  *
  * Accumulation order is ascending index, matching the sequential fold
  * of the reference/oracle formulation, so results are bit-identical.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xe = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val ye = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xe * ye; na += xe * xe; nb += ye * ye
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, dot, na, nb) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("dot"),
          ctx.freshName("na"), ctx.freshName("nb"))
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double x = (double) $a.$lGet($i);
          double y = (double) $b.$rGet($i);
          $dot += x * y; $na += x * x; $nb += y * y;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Portable 32-bit content hash: the unsigned value of the first 4 md5
  * bytes — semantically identical to
  * `conv(substr(md5(x),1,8),16,10)::long` (and DuckDB's
  * `('0x'||substr(md5(x),1,8))::BIGINT`) but computed in one pass with
  * no hex-string round-trip. The md5→substr→conv chain costs three
  * string allocations per value; on shingle-explosion workloads (MinHash,
  * SimHash, fingerprints) that is the hot loop.
  */
case class Md5Hash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hash32 expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    Md5Hash32.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Hash32 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes as an unsigned 32-bit value in a long. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val b = md.digest(s.getBytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  /** First 60 md5 bits (= the oracle idiom
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`: 15 hex chars are the
    * top 7.5 digest bytes): the first 8 bytes big-endian, shifted
    * right 4. The wide-key tier for METERING ops where a collision
    * only perturbs a count (`text_dup_spans`) — safe to ~10⁹ grams;
    * an op that CUTS on key equality needs [[compute120]] (span
    * removal uses it: 60 bits collide in volume at 10¹²-gram scale).
    */
  def compute60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val b = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Both 60-bit md5 halves in ONE digest: (_1) bits 0-59 = the
    * [[compute60]] oracle idiom `substr(md5(s), 1, 15)`, (_2) bits
    * 64-123 = `substr(md5(s), 17, 15)` — together a 120-bit key for
    * ops where a collision CORRUPTS output (span removal deletes text
    * on key equality): at 10¹²-gram corpus scale 60-bit birthday
    * collisions arrive in volume (~G²/2⁶¹ pairs) while 120 bits leave
    * ~G²/2¹²¹ ≈ 10⁻¹³ expected — negligible.
    */
  def compute120(s: org.apache.spark.unsafe.types.UTF8String): (Long, Long) = {
    val md = digest.get()
    md.reset()
    val b = md.digest(s.getBytes)
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (b(i) & 0xffL); i += 1 }
    while (i < 16) { lo = (lo << 8) | (b(i) & 0xffL); i += 1 }
    (hi >>> 4, lo >>> 4)
  }
}

/** k-word shingle hashes in one codegen'd pass: words array → array of
  * hashes of the space-joined k-grams. Replaces a CodegenFallback HOF
  * stack (transform(sequence) building shingle strings, then a second
  * transform hashing them) with a single loop that never materializes
  * the shingle-string column. `hash64 = false` → portable md5-32
  * ([[Md5Hash32.compute]], the MinHash family); `true` → Spark's
  * xxhash64 (seed 42, bit-identical to the builtin) for engine-internal
  * join keys.
  */
case class ShingleHashes(child: Expression, k: Int, mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects array<string> and k>=1, got " +
        s"${child.dataType.catalogString} / k=$k")
  }

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[ArrayData], k, mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashes.compute($c, $k, $mode)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val Sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  val ModeMd5_32 = 0
  val ModeXx64 = 1
  val ModeMd5_60 = 2

  def compute(words: ArrayData, k: Int, hash64: Boolean): ArrayData =
    compute(words, k, if (hash64) ModeXx64 else ModeMd5_32)

  def compute(words: ArrayData, k: Int, mode: Int): ArrayData = {
    val n = words.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val s = org.apache.spark.unsafe.types.UTF8String.concatWs(Sep, parts: _*)
      out(i) = mode match {
        case ModeXx64 =>
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        case ModeMd5_60 => Md5Hash32.compute60(s)
        case _ => Md5Hash32.compute(s)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** k-word shingle 120-bit keys in one codegen'd pass: words array →
  * `array<struct<h1, h2>>` where h1/h2 are the two md5 halves of each
  * space-joined k-gram ([[Md5Hash32.compute120]] — ONE digest per
  * gram, not two kernel passes). The corruption-safe key tier for
  * [[graft.ext.TextOps.spanRemoval]]: text is deleted on key equality,
  * so the key must not birthday-collide at 10¹²-gram corpus scale.
  * Oracle idioms: h1 = `('0x'||substr(md5(g),1,15))::BIGINT`,
  * h2 = `('0x'||substr(md5(g),17,15))::BIGINT`.
  */
case class ShingleHashPairs(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_md5_120 expects array<string> and k>=1, got " +
        s"${child.dataType.catalogString} / k=$k")
  }

  override def nullSafeEval(v: Any): Any =
    ShingleHashPairs.compute(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashPairs.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashPairs {
  private val Sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val s = org.apache.spark.unsafe.types.UTF8String.concatWs(Sep, parts: _*)
      val (h1, h2) = Md5Hash32.compute120(s)
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](h1, h2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** MinHash signature in one codegen'd pass: shingle-hash array → the
  * 8-lane minima of the universal-hash family (a_i h + b_i) mod p. The
  * HOF formulation walks the array once per lane (8 CodegenFallback
  * transform+array_min rounds); this loops once, all lanes in registers.
  * Values are bit-identical (same seeds, same prime — the DuckDB oracle
  * is generated from the same constants).
  */
case class MinHashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<bigint>, got ${t.catalogString}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSig.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  val HashPrime: Long = 4294967311L
  val SeedsA: Array[Long] = Array(1579L, 2477L, 3359L, 4283L, 5419L, 6367L, 7499L, 8599L)
  val SeedsB: Array[Long] = Array(9851L, 8699L, 7547L, 6421L, 5323L, 4211L, 3167L, 2081L)

  /** Null on an empty input (the HOF array_min of an empty array is
    * null); callers filter size >= k upstream.
    */
  def compute(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val lanes = SeedsA.length
    val mins = Array.fill(lanes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var s = 0
      while (s < lanes) {
        val v = (SeedsA(s) * h + SeedsB(s)) % HashPrime
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** 32-bit SimHash in one codegen'd pass: word-hash array → per-bit
  * majority fingerprint. The HOF formulation filters the array once per
  * bit (32 CodegenFallback rounds); this tallies all 32 bit-counts in
  * one loop. Bit-identical to `aggregate(sequence(0,31), ...)` over the
  * same hashes.
  */
case class SimHash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash32 expects array<bigint>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    SimHash32.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  def compute(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (2 * counts(b) > n) out |= 1L << b
      b += 1
    }
    out
  }
}

/** Product-quantization codeword assignment in one codegen'd pass:
  * vector → m dense codeword indices (argmin squared-L2 per sub-space).
  * The codebook rides along as a plan-literal reference object, exactly
  * like the inlined centroids of the IVF/k-means argmin.
  *
  * The HOF formulation (per sub-space: array of aggregate(zip_with)
  * structs + array_min) is CodegenFallback and allocates a struct per
  * (row, codeword); at ksub=100+ that interpretation dominated the whole
  * query (~70 s/query at sf0.1 — this kernel brings encoding back to
  * scan speed). Semantics are bit-identical to the HOF/oracle form:
  * ascending-index fold of (x-cw)^2 seeded at 0.0, HALF_UP round to
  * 9 dp (the same BigDecimal path as Spark's round()), ties keep the
  * smaller code.
  */
case class PqEncodeCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq encode expects array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    PqEncodeCodes.compute(v.asInstanceOf[ArrayData], books, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PqEncodeCodes.compute($c, $ref, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields are reference-equal under case-class equality; compare
  // contents so plan canonicalization / exchange reuse can fire (see
  // CentroidTopK).
  override def equals(other: Any): Boolean = other match {
    case o: PqEncodeCodes =>
      child == o.child && java.util.Arrays.deepEquals(
        books.asInstanceOf[Array[AnyRef]], o.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])
}

object PqEncodeCodes {
  private def round9(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  def compute(vec: ArrayData, books: Array[Array[Array[Double]]],
      isFloat: Boolean): ArrayData = {
    val m = books.length
    // UnsafeArrayData reads past numElements are unchecked: a corpus
    // whose dims mismatch the codebook would silently encode garbage —
    // fail as loudly as the null-element guard below
    var totalDims = 0
    var jd = 0
    while (jd < m) { totalDims += books(jd)(0).length; jd += 1 }
    require(vec.numElements() == totalDims,
      s"PQ encode input has ${vec.numElements()} dims, codebook expects $totalDims")
    val out = new Array[Int](m)
    var off = 0
    var j = 0
    while (j < m) {
      val book = books(j)
      val subDim = book(0).length
      var best = 0
      var bestRaw = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var s = 0.0
        var i = 0
        while (i < subDim) {
          // a null slot would silently read as the zeroed storage and
          // encode a phantom 0.0 dimension — diverging from the HOF/
          // oracle formulation, which propagates NULL; fail loudly
          if (vec.isNullAt(off + i)) throw new IllegalArgumentException(
            s"null element at dim ${off + i} in PQ encode input")
          val x = if (isFloat) vec.getFloat(off + i).toDouble else vec.getDouble(off + i)
          val d = x - cw(i)
          s += d * d
          i += 1
        }
        // The oracle orders by (HALF_UP round to 9 dp, code). Rounding
        // moves a value by <= 5e-10, so when two raw sums are more than
        // 2e-9 apart their rounded order equals their raw order and the
        // BigDecimal path (valueOf → Double.toString, the dominant cost
        // at ksub=1000 — it single-threaded a whole scan partition) is
        // skipped; only genuine near-ties pay it, and there the rounded
        // comparison decides exactly as Spark's round()/the oracle.
        if (s < bestRaw - 2e-9) { bestRaw = s; best = c }
        else if (s < bestRaw + 2e-9) {
          val rs = round9(s)
          val rb = round9(bestRaw)
          if (rs < rb) { bestRaw = s; best = c } // equal keeps the smaller code
        }
        c += 1
      }
      out(j) = best
      off += subDim
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** PQ reconstruction: m dense codes → the concatenated codewords, with
  * the codebook as a plan-literal reference object. The element_at/
  * concat formulation inlines the full codebook (m × ksub × subDim
  * doubles) as typedLit array literals — at ksub=1000 that is 64k
  * doubles of plan/codegen weight per query; this kernel keeps the plan
  * O(1) and the copy a tight loop.
  */
case class PqDecode(child: Expression, books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq decode expects array<int> codes, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    PqDecode.compute(v.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqDecode.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields are reference-equal under case-class equality; compare
  // contents so plan canonicalization / exchange reuse can fire (see
  // CentroidTopK).
  override def equals(other: Any): Boolean = other match {
    case o: PqDecode =>
      child == o.child && java.util.Arrays.deepEquals(
        books.asInstanceOf[Array[AnyRef]], o.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])
}

object PqDecode {
  def compute(codes: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    // GenericArrayData throws on out-of-bounds but UnsafeArrayData does
    // not — a short/long codes array must not silently read garbage
    require(codes.numElements() == m,
      s"PQ decode input has ${codes.numElements()} codes, codebook expects $m")
    var dims = 0
    var j = 0
    while (j < m) { dims += books(j)(0).length; j += 1 }
    val out = new Array[Double](dims)
    var off = 0
    j = 0
    while (j < m) {
      if (codes.isNullAt(j)) throw new IllegalArgumentException(
        s"null code at sub-space $j in PQ decode input")
      val code = codes.getInt(j)
      require(code >= 0 && code < books(j).length,
        s"PQ code $code out of range [0, ${books(j).length}) at sub-space $j")
      val cw = books(j)(code)
      System.arraycopy(cw, 0, out, off, cw.length)
      off += cw.length
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Vocabulary-driven greedy longest-match subword tokenizer (the
  * WordPiece/BPE-inference shape): each whitespace word tokenizes
  * left-to-right, at every position taking the LONGEST vocabulary entry
  * that matches, falling back to the single code point. Token counts —
  * not whitespace word counts — are what packing and mixture budgeting
  * meter at pipeline scale, and greedy longest-match is how production
  * tokenizers decode a trained merge table. The vocabulary here is a
  * fixed literal ([[SubwordTokens.Vocab]]) shared verbatim with the
  * DuckDB oracle's VALUES list, so tokenization is deterministic and
  * cross-engine checkable; a production deployment swaps in its model's
  * vocab without touching the kernel. Position advance is in code
  * points (DuckDB's substr/length unit), never UTF-16 units, so
  * non-ASCII corpora tokenize identically in both engines.
  */
case class SubwordTokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_subword_tokens expects array<string> words, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    SubwordTokens.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SubwordTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SubwordTokens {
  /** Longest vocabulary entry; greedy tries MaxLen..2 then single-char. */
  val MaxLen = 5

  /** The fixed subword vocabulary — multi-character entries only (every
    * single code point is implicitly a fallback token). English-corpus
    * affixes, function words, and high-frequency digraphs; all ASCII
    * lowercase, matching the lowercased word stream from normText.
    * ORDER IS NOT SEMANTIC (longest-match + same-length uniqueness make
    * matching order-free) but the list is the single source of truth
    * for the oracle's VALUES literal.
    */
  val Vocab: Seq[String] = Seq(
    "ation", "inter", "under", "trans", "ident",
    "tion", "ment", "ness", "able", "ould", "ight", "ough", "ance",
    "ence", "ther", "with", "that", "this", "have", "from",
    "ing", "ion", "ent", "est", "ive", "ous", "ity", "ate", "ize",
    "ful", "ish", "ism", "ist", "ure", "age", "ant", "ble", "ary",
    "the", "and", "for", "are", "was", "you", "not", "per", "com",
    "con", "pre", "pro", "sub", "dis", "mis", "out", "end", "int",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
    "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch",
    "ll", "be", "ma", "si", "om", "ur", "un", "ex", "id").distinct

  private val byLen: Array[java.util.HashSet[String]] = {
    val sets = Array.fill(MaxLen + 1)(new java.util.HashSet[String]())
    Vocab.foreach { t =>
      require(t.length >= 2 && t.length <= MaxLen, s"vocab entry '$t' out of bounds")
      sets(t.length).add(t): Unit
    }
    sets
  }

  def compute(words: ArrayData): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = words.numElements()
    var wi = 0
    while (wi < n) {
      if (words.isNullAt(wi)) throw new IllegalArgumentException(
        "null word in subword tokenizer input")
      // code points, not chars: a non-BMP code point is one DuckDB
      // character but two UTF-16 units — advancing by units would
      // desync the two engines' tokenizations
      val cps = words.getUTF8String(wi).toString.codePoints().toArray
      var p = 0
      while (p < cps.length) {
        var adv = 1
        var tok: String = null
        var len = math.min(MaxLen, cps.length - p)
        while (tok == null && len >= 2) {
          val cand = new String(cps, p, len)
          if (byLen(len).contains(cand)) { tok = cand; adv = len } else len -= 1
        }
        if (tok == null) tok = new String(cps, p, 1)
        out += org.apache.spark.unsafe.types.UTF8String.fromString(tok)
        p += adv
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Byte-grid perceptual hash in one codegen'd pass: the payload's code
  * points cut into an 8×8 grid of fixed-size cells, bit k = cell-k mean
  * above the stream mean by exact integer cross product (cellSum·n >
  * total·cellCnt — no float rounding anywhere). Returns [hi, lo] 32-bit
  * halves for [[graft.ext.Dedup.hammingPairs64]]. Replaces a
  * CodegenFallback HOF stack (per-char transform + per-cell aggregate —
  * ~66 evaluated lambdas per character) with a single loop; values are
  * bit-identical, the DuckDB oracle replays the same arithmetic.
  */
case class BytePHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_byte_phash expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    BytePHash64.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BytePHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BytePHash64 {
  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    // code points, not bytes or UTF-16 units: ascii()/substr() in the
    // oracle are code-point units (identical for the ASCII corpus, and
    // the two engines stay in lockstep beyond it)
    val cps = s.toString.codePoints().toArray()
    val n = cps.length
    // ceil(n/64): same cell size as the oracle's CAST(ceil(n/64.0) AS INT)
    val c = (n + 63) / 64
    var total = 0L
    var i = 0
    while (i < n) { total += cps(i); i += 1 }
    var hi = 0L
    var lo = 0L
    var k = 0
    while (k < 64 && c > 0) {
      val start = k * c
      val end = math.min(n, start + c)
      var cs = 0L
      var cnt = 0L
      var j = start
      while (j < end) { cs += cps(j); cnt += 1; j += 1 }
      // empty trailing cells: cnt=0 → 0 > 0 false, bit stays clear
      if (cs * n > total * cnt) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(hi, lo))
  }
}

/** Bloom-filter membership count in one codegen'd pass: how many 64-bit
  * hashes in the input array hit ALL `k` probe bits of the bitset. The
  * bitset is a plan-literal reference object built once from the small
  * side (an eval set's shingle hashes — the broadcast-model-input
  * class), so the probe is a pure scan-side projection: the corpus
  * never joins, shuffles, or broadcasts anything to discover that a
  * document has zero overlap. Probes use Kirsch-Mitzenmacher double
  * hashing (probe_i = h1 + i·h2 over a power-of-two width); build and
  * probe share [[BloomBits]], so there is no cross-engine hash contract
  * to keep — correctness is anchored by the exact verify stage
  * downstream, which the no-false-negative property makes sound.
  */
case class BloomHits(child: Expression, bits: Array[Long], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _)
        if k >= 1 && bits.nonEmpty && (bits.length & (bits.length - 1)) == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_hits expects array<bigint>, k>=1 and a power-of-two " +
        s"word count, got ${t.catalogString} / k=$k / words=${bits.length}")
  }

  override def nullSafeEval(v: Any): Any =
    BloomBits.hits(v.asInstanceOf[ArrayData], bits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bits, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BloomBits.hits($c, $ref, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields are reference-equal under case-class equality; compare
  // contents so plan canonicalization / exchange reuse can fire (see
  // CentroidTopK).
  override def equals(other: Any): Boolean = other match {
    case o: BloomHits =>
      k == o.k && child == o.child && java.util.Arrays.equals(bits, o.bits)
    case _ => false
  }

  override def hashCode(): Int =
    31 * (31 * child.hashCode() + k) + java.util.Arrays.hashCode(bits)
}

object BloomBits {
  /** Loud cap on the build side: the bloom models an EVAL SET's
    * n-grams, thousands-to-millions — if a caller feeds it corpus-sized
    * input the design is wrong and silence would hide it.
    */
  val MaxBuild: Int = 1 << 21

  /** Second probe stream from the Murmur3 finalizer mix, forced odd so
    * i·h2 walks the whole power-of-two ring.
    */
  private def mix(h: Long): Long = {
    var z = h
    z ^= z >>> 33
    z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33
    z | 1L
  }

  /** Bitset sized to the next power of two ≥ 16 bits/element (k=5 over
    * 16 bits/element ⇒ ~0.07% false-positive rate), floor 2048 bits.
    */
  def build(hashes: Array[Long], k: Int): Array[Long] = {
    require(hashes.length <= MaxBuild,
      s"bloom build side has ${hashes.length} hashes (cap $MaxBuild): " +
        "this filter models a bounded eval set, not a corpus")
    var mBits = 2048L
    while (mBits < 16L * hashes.length) mBits <<= 1
    val bits = new Array[Long]((mBits / 64).toInt)
    val mask = mBits - 1
    var i = 0
    while (i < hashes.length) {
      val h1 = hashes(i)
      val h2 = mix(h1)
      var j = 0
      while (j < k) {
        val pos = (h1 + j * h2) & mask
        bits((pos >>> 6).toInt) |= 1L << (pos & 63)
        j += 1
      }
      i += 1
    }
    bits
  }

  def contains(h1: Long, bits: Array[Long], k: Int): Boolean = {
    val mask = bits.length.toLong * 64 - 1
    val h2 = mix(h1)
    var j = 0
    while (j < k) {
      val pos = (h1 + j * h2) & mask
      if ((bits((pos >>> 6).toInt) >>> (pos & 63) & 1L) == 0L) return false
      j += 1
    }
    true
  }

  def hits(hashes: ArrayData, bits: Array[Long], k: Int): Long = {
    val n = hashes.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (contains(hashes.getLong(i), bits, k)) c += 1
      i += 1
    }
    c
  }
}

/** Johnson-Lindenstrauss ±1 projection as a codegen'd kernel: the
  * 16-dim expression-tree formulation (16 × 64 element_at terms inside
  * a posexplode Generate) is too large for whole-stage codegen and
  * falls back to interpreted eval (~1.9 s at sf0.1); this kernel is the
  * same ascending-j left fold as a tight loop with the sign matrix as a
  * plan reference object — bit-identical output (0.0 + t0 == t0, so
  * the explicit accumulator matches the add chain), scan speed, O(1)
  * plan size.
  */
case class JlProject(child: Expression, signs: Array[Array[Int]], scale: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"jl project expects array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    JlProject.compute(v.asInstanceOf[ArrayData], signs, scale, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jlSigns", signs, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.JlProject.compute($c, $ref, $scale, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array fields are reference-equal under case-class equality; compare
  // contents so plan canonicalization / exchange reuse can fire (see
  // CentroidTopK).
  override def equals(other: Any): Boolean = other match {
    case o: JlProject =>
      scale == o.scale && child == o.child && java.util.Arrays.deepEquals(
        signs.asInstanceOf[Array[AnyRef]], o.signs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int =
    31 * (31 * child.hashCode() + java.lang.Double.hashCode(scale)) +
      java.util.Arrays.deepHashCode(signs.asInstanceOf[Array[AnyRef]])
}

object JlProject {
  def compute(vec: ArrayData, signs: Array[Array[Int]], scale: Double,
      isFloat: Boolean): ArrayData = {
    val outDims = signs.length
    val inDims = if (outDims == 0) 0 else signs(0).length
    require(vec.numElements() == inDims,
      s"jl project input has ${vec.numElements()} dims, sign matrix expects $inDims")
    val out = new Array[Double](outDims)
    var k = 0
    while (k < outDims) {
      val row = signs(k)
      var acc = 0.0
      var j = 0
      while (j < inDims) {
        if (vec.isNullAt(j)) throw new IllegalArgumentException(
          s"null element at dim $j in jl project input")
        val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        acc = if (row(j) > 0) acc + x else acc - x
        j += 1
      }
      out(k) = java.math.BigDecimal.valueOf(acc * scale)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Packs the sign bits of a ≤64-dim numeric array into one BIGINT
  * (bit i set iff element i > 0) — the binary-quantization encode
  * kernel behind [[graft.ext.Similarity.binaryHammingTopK]]. A single
  * codegen'd pass; the higher-order `aggregate` formulation evaluates
  * its lambda interpreted per element (the JlProject rationale), which
  * is 64 boxed closure calls per row on what is otherwise an 8-byte
  * encode. Null elements leave their bit unset, matching the HOF
  * CASE's null-comparison fall-through.
  */
case class SignWord64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sign word expects array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    SignWord64.compute(v.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SignWord64.compute($c, $elemIsFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignWord64 {
  def compute(vec: ArrayData, isFloat: Boolean): Long = {
    val n = vec.numElements()
    require(n <= 64, s"sign word packs at most 64 dims, got $n")
    var w = 0L
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        if (x > 0.0) w |= (1L << i)
      }
      i += 1
    }
    w
  }
}

/** Per-document text counts in one codegen'd pass over each string:
  * `graft_text_stats(text, lower(text), stops)` → struct of
  *
  *  - `n_chars`: code points of `text` (`length(text)`)
  *  - `n_words`: words of the normalized lowered text
  *    (`size(split(Dedup.normText(text), ' '))`)
  *  - `n_alpha`: `a`-`z` characters of `lower(text)`
  *  - `n_punct`: characters of `text` outside `[a-zA-Z0-9 ]`
  *  - `stop_hits`: those words that are in `stops`
  *  - `ws_tokens`: `size(split(trim(text), '\\s+'))`
  *  - `bpe_tokens`: matches of `[a-z]+|[0-9]+|[^a-z0-9\\s]` in
  *    `lower(text)`
  *
  * the quality and token features of [[graft.ext.TextOps]], which
  * otherwise run five regex passes, a split and a per-word membership
  * filter per document. `lower` is Spark's own expression, passed in,
  * so case mapping (U+0130 lowers to two chars) is the engine's by
  * construction. `trim` strips U+0020 only and `\\s` is Java's six
  * ASCII whitespace chars, both as in the regex formulation — every
  * class tested is ASCII, so the scan runs on UTF-8 bytes, and code
  * points count as non-continuation bytes. The regex formulation is
  * pinned equal in PropertySpec.
  *
  * Null inputs follow the expressions this replaces: a length is null,
  * a `size` is -1 under `spark.sql.legacy.sizeOfNull` (ANSI off), else
  * null; a null `stops` list matches nothing. Field nullability
  * follows the same rule, so the derived columns keep their types.
  */
case class TextStats(text: Expression, lowered: Expression, stops: Expression,
    legacySizeOfNull: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  def this(text: Expression, lowered: Expression, stops: Expression) =
    this(text, lowered, stops,
      org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull)

  override def first: Expression = text
  override def second: Expression = lowered
  override def third: Expression = stops

  override def nullable: Boolean = false

  override def dataType: DataType = {
    def f(name: String, nullable: Boolean) = StructField(name, LongType, nullable)
    def size(name: String, of: Expression) = f(name, !legacySizeOfNull && of.nullable)
    StructType(Seq(
      f("n_chars", text.nullable), size("n_words", lowered), f("n_alpha", lowered.nullable),
      f("n_punct", text.nullable), size("stop_hits", lowered), size("ws_tokens", text),
      size("bpe_tokens", lowered)))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, lowered.dataType, stops.dataType) match {
      case (StringType, StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "graft_text_stats expects (string, string, array<string>), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextStats.compute(
      text.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      lowered.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      stops.eval(input).asInstanceOf[ArrayData], legacySizeOfNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val (t, l, s) = (text.genCode(ctx), lowered.genCode(ctx), stops.genCode(ctx))
    ev.copy(code = code"""
      ${t.code}
      ${l.code}
      ${s.code}
      final InternalRow ${ev.value} = graft.functions.TextStats.compute(
        ${t.isNull} ? null : ${t.value}, ${l.isNull} ? null : ${l.value},
        ${s.isNull} ? null : ${s.value}, $legacySizeOfNull);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(text = newFirst, lowered = newSecond, stops = newThird)
}

object TextStats {
  // Java's \s: space, \t, \n, \u000B, \f, \r
  private def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
  private def isLower(b: Byte): Boolean = b >= 'a' && b <= 'z'
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isLead(b: Byte): Boolean = (b & 0xc0) != 0x80

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      lowered: org.apache.spark.unsafe.types.UTF8String, stops: ArrayData,
      legacySizeOfNull: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val sizeOfNull: Any = if (legacySizeOfNull) -1L else null
    val out = Array[Any](null, sizeOfNull, null, null, sizeOfNull, sizeOfNull, sizeOfNull)
    if (text != null) {
      val b = text.getBytes
      var chars = 0L
      var kept = 0L // [a-zA-Z0-9 ]
      var i = 0
      while (i < b.length) {
        val c = b(i)
        if (isLead(c)) chars += 1
        if (c == ' ' || isDigit(c) || (c | 0x20) >= 'a' && (c | 0x20) <= 'z') kept += 1
        i += 1
      }
      out(0) = chars
      out(3) = chars - kept
      val from = trimStart(b)
      out(5) = wsRuns(b, from, trimEnd(b, from)) + 1L
    }
    if (lowered != null) {
      val b = lowered.getBytes
      var alpha = 0L
      var bpe = 0L
      var i = 0
      while (i < b.length) {
        val c = b(i)
        if (isLower(c)) {
          alpha += 1
          if (i == 0 || !isLower(b(i - 1))) bpe += 1
        } else if (isDigit(c)) {
          if (i == 0 || !isDigit(b(i - 1))) bpe += 1
        } else if (!isWs(c) && isLead(c)) bpe += 1
        i += 1
      }
      out(2) = alpha
      out(6) = bpe
      // words: the segments between whitespace runs of the space-trimmed
      // text, empty edge segments included (split with limit -1)
      var start = trimStart(b)
      val end = trimEnd(b, start)
      var words = 1L
      var hits = 0L
      var j = start
      while (j <= end) {
        if (j == end || isWs(b(j))) {
          if (stops != null && isStop(b, start, j, stops)) hits += 1
          if (j < end) {
            words += 1
            while (j + 1 < end && isWs(b(j + 1))) j += 1
            start = j + 1
          }
        }
        j += 1
      }
      out(1) = words
      out(4) = hits
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  private def trimStart(b: Array[Byte]): Int = {
    var s = 0
    while (s < b.length && b(s) == ' ') s += 1
    s
  }

  private def trimEnd(b: Array[Byte], start: Int): Int = {
    var e = b.length
    while (e > start && b(e - 1) == ' ') e -= 1
    e
  }

  private def wsRuns(b: Array[Byte], from: Int, until: Int): Long = {
    var runs = 0L
    var i = from
    while (i < until) {
      if (isWs(b(i)) && (i == from || !isWs(b(i - 1)))) runs += 1
      i += 1
    }
    runs
  }

  private def isStop(b: Array[Byte], from: Int, until: Int, stops: ArrayData): Boolean = {
    val n = stops.numElements()
    var k = 0
    while (k < n) {
      if (!stops.isNullAt(k)) {
        val s = stops.getUTF8String(k)
        if (s.numBytes == until - from) {
          var i = 0
          while (i < s.numBytes && s.getByte(i) == b(from + i)) i += 1
          if (i == s.numBytes) return true
        }
      }
      k += 1
    }
    false
  }
}

object VectorExpressions {
  /* Typed kernel columns: each builds the same case class its
   * `graft_*` name below resolves to, so an operator calls a kernel
   * without touching the session's function registry. */
  private def kernel(e: Expression): Column = PlanDf.column(e)
  private def ex(c: Column): Expression = PlanDf.expression(c)

  def cosine(a: Column, b: Column): Column = kernel(CosineSimilarity(ex(a), ex(b)))

  /** The cross-engine similarity score: cosine rounded to 9 dp. */
  def roundedCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.round(cosine(a, b), 9)

  def md5Hash32(s: Column): Column = kernel(Md5Hash32(ex(s)))
  def shingleHashes32(words: Column, k: Int): Column =
    kernel(ShingleHashes(ex(words), k, ShingleHashes.ModeMd5_32))
  def shingleHashes64(words: Column, k: Int): Column =
    kernel(ShingleHashes(ex(words), k, ShingleHashes.ModeXx64))
  def shingleMd5_60(words: Column, k: Int): Column =
    kernel(ShingleHashes(ex(words), k, ShingleHashes.ModeMd5_60))
  def shingleMd5_120(words: Column, k: Int): Column = kernel(ShingleHashPairs(ex(words), k))
  def minhashSig(hashes: Column): Column = kernel(MinHashSig(ex(hashes)))
  def simhash32(hashes: Column): Column = kernel(SimHash32(ex(hashes)))
  def subwordTokens(words: Column): Column = kernel(SubwordTokens(ex(words)))
  /** Reads `legacySizeOfNull` from the active session's conf when the
    * column is built (the SQL name reads it when it is resolved).
    */
  def textStats(text: Column, lowered: Column, stops: Column): Column =
    kernel(new TextStats(ex(text), ex(lowered), ex(stops)))
  def bytePHash(s: Column): Column = kernel(BytePHash64(ex(s)))
  def signWord(vec: Column): Column = kernel(SignWord64(ex(vec)))
  def frameEnergies(s: Column, frame: Int): Column = kernel(FrameEnergies(ex(s), frame))

  /** The graft_* expression family by SQL name: builders over the
    * call's argument expressions. [[register]] and
    * [[graft.GraftExtensions]] both install this one table.
    */
  private[graft] val Builders: Seq[(String, Seq[Expression] => Expression)] = {
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue
    Seq(
      "graft_cosine" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
      "graft_hash32" -> (exprs => Md5Hash32(exprs.head)),
      "graft_shingle_hashes32" -> (exprs => ShingleHashes(exprs(0), intArg(exprs(1)),
        ShingleHashes.ModeMd5_32)),
      "graft_shingle_hashes64" -> (exprs => ShingleHashes(exprs(0), intArg(exprs(1)),
        ShingleHashes.ModeXx64)),
      "graft_shingle_md5_60" -> (exprs => ShingleHashes(exprs(0), intArg(exprs(1)),
        ShingleHashes.ModeMd5_60)),
      "graft_shingle_md5_120" -> (exprs => ShingleHashPairs(exprs(0), intArg(exprs(1)))),
      "graft_minhash_sig" -> (exprs => MinHashSig(exprs.head)),
      "graft_simhash32" -> (exprs => SimHash32(exprs.head)),
      "graft_subword_tokens" -> (exprs => SubwordTokens(exprs.head)),
      "graft_text_stats" -> (exprs => new TextStats(exprs(0), exprs(1), exprs(2))),
      "graft_byte_phash" -> (exprs => BytePHash64(exprs.head)),
      "graft_sign_word" -> (exprs => SignWord64(exprs.head)),
      "graft_frame_energies" -> (exprs => FrameEnergies(exprs(0), intArg(exprs(1)))),
      // Spark ships BloomFilterAggregate/BloomFilterMightContain as the
      // engine of its runtime-bloom join optimization but does NOT expose
      // them in the public registry; graft's bloom-prefiltered semi join
      // (j14_bloom_semi) uses the same battle-tested kernels explicitly.
      // Signatures: graft_bloom_agg(xxhash64-key, estimatedItems, numBits)
      // -> binary; graft_might_contain(bloom, xxhash64-key) -> boolean.
      // SQL-only: might_contain takes its bloom from a scalar subquery.
      "graft_bloom_agg" -> (exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression()),
      "graft_might_contain" -> (exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))
  }

  /** Registers the graft_* expression family in this session, for SQL
    * text that names a kernel (specs, `j14_bloom_semi`'s scalar
    * subquery). Operators build kernels through the typed columns above
    * and never call it. A name this session's registry already holds
    * is left as it is: a second call rewrites nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Fused coarse-quantizer top-k: the `lists` nearest centroids for one
  * vector by (cosine DESC rounded to 9 dp, centroid id ASC), returned as
  * the same sorted array<struct<negsim, cid>> the transform/array_sort
  * formulation produced — but in ONE JIT'd loop with a bounded insertion
  * buffer instead of materializing + fully sorting a c-struct array per
  * row. At the round-11 serving grid (~833 centroids, nprobe 15) the
  * array form allocated 833 structs and ran an 833-element sort per
  * probe row — the measured ~2× IVF serve regression; this kernel is
  * O(c·dims) cosines plus ~k·ln(c/k) buffer inserts, with the BigDecimal
  * HALF_UP rounding paid ONLY by candidates inside a 2e-9 band of the
  * current k-th (the PqEncodeCodes lazy-rounding discipline — rounding
  * moves a value ≤ 5e-10, so anything further out keeps its raw order).
  * Centroids ride as a plan reference object (O(1) plan/codegen size at
  * any centroid count); semantics are bit-identical to the array form:
  * same ascending-index cosine accumulation, same HALF_UP 9 dp, same
  * (negsim, cid) tie rule, NaN sims ordered greatest (Spark's double
  * ordering) so zero-norm inputs degrade identically.
  */
/** Per-frame byte-stream energy in ONE codegen'd pass: text →
  * array<struct<n_samples, energy>> over non-overlapping `frame`-char
  * windows, energy = Σ codepoint² (exact integer, order-free). The HOF
  * formulation (`aggregate(transform(sequence(1, length(chunk)), p ->
  * ascii(substring(chunk, p, 1))²)))`) re-slices the chunk per
  * position — O(frame²) char scans per window plus a lambda object per
  * byte, and the silence filter evaluated the whole tree twice (the
  * §4.4 pushed-filter duplication) — the measured ~8× gap between the
  * media scan and its keyframe/silence consumers. Semantics are
  * identical: `substring` counts codepoints and `ascii` returns the
  * codepoint value, so the kernel walks codepoints.
  */
case class FrameEnergies(child: Expression, frame: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_frame_energies expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    FrameEnergies.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], frame)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.FrameEnergies.compute($c, $frame)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FrameEnergies {
  def compute(str: org.apache.spark.unsafe.types.UTF8String,
      frame: Int): ArrayData = {
    val cps = str.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val nFrames = (n + frame - 1) / frame
    val rows = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = f * frame
      val end = math.min(start + frame, n)
      var e = 0L
      var i = start
      while (i < end) {
        val c = cps(i).toLong
        e += c * c
        i += 1
      }
      rows(f) = org.apache.spark.sql.catalyst.InternalRow((end - start).toLong, e)
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

case class CentroidTopK(child: Expression, ids: Array[Long],
    vecs: Array[Array[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("negsim", DoubleType, nullable = false),
      StructField("cid", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid top-k expects array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    CentroidTopK.compute(v.asInstanceOf[ArrayData], ids, vecs, k, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("centVecs", vecs, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CentroidTopK.compute($c, $idsRef, $vecsRef, $k, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Case-class equality on Array fields is reference-based, so two
  // semantically identical instances would never compare equal — plan
  // canonicalization, subexpression elimination, and exchange reuse all
  // key on expression equality and would silently miss. Compare contents.
  override def equals(other: Any): Boolean = other match {
    case o: CentroidTopK =>
      k == o.k && child == o.child &&
        java.util.Arrays.equals(ids, o.ids) &&
        java.util.Arrays.deepEquals(
          vecs.asInstanceOf[Array[AnyRef]], o.vecs.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int = {
    var h = 31 * child.hashCode() + k
    h = 31 * h + java.util.Arrays.hashCode(ids)
    31 * h + java.util.Arrays.deepHashCode(vecs.asInstanceOf[Array[AnyRef]])
  }
}

object CentroidTopK {
  private def round9(v: Double): Double =
    if (java.lang.Double.isNaN(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  def compute(vec: ArrayData, ids: Array[Long], vecs: Array[Array[Double]],
      k: Int, isFloat: Boolean): ArrayData = {
    val c = ids.length
    val keep = math.min(k, c)
    // sorted buffer by (roundedNeg ASC, cid ASC); Double.compare orders
    // NaN greatest, matching Spark's struct/array_sort double ordering
    val negs = new Array[Double](keep)
    val cids = new Array[Long](keep)
    var m = 0
    // fast-path gate: max RAW neg over the buffer + 2e-9 — a candidate
    // past it cannot round into the kept set (see PqEncodeCodes band)
    var worstRaw = Double.NegativeInfinity
    var ci = 0
    while (ci < c) {
      val cent = vecs(ci)
      val n = math.min(vec.numElements(), cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val y = cent(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val rawNeg = -(dot / (math.sqrt(na) * math.sqrt(nb)))
      // NaN rawNeg fails this comparison and falls through to the exact
      // insert path, where Double.compare ranks it last — identical to
      // the array_sort ordering
      if (m < keep || !(rawNeg > worstRaw + 2e-9)) {
        val neg = round9(rawNeg)
        val cid = ids(ci)
        // insertion position by (neg, cid)
        var p = m
        while (p > 0 && {
          val cmp = java.lang.Double.compare(negs(p - 1), neg)
          cmp > 0 || (cmp == 0 && cids(p - 1) > cid)
        }) p -= 1
        if (p < keep) {
          val last = math.min(m, keep - 1)
          var q = last
          while (q > p) { negs(q) = negs(q - 1); cids(q) = cids(q - 1); q -= 1 }
          negs(p) = neg
          cids(p) = cid
          if (m < keep) m += 1
          // the gate must never UNDER-estimate the buffer's worst raw
          // value; the rounded max is within 5e-10 of it and the band
          // already absorbs that slack
          if (m == keep) worstRaw = negs(keep - 1)
        }
      }
      ci += 1
    }
    val rows = new Array[Any](m)
    var r = 0
    while (r < m) {
      rows(r) = org.apache.spark.sql.catalyst.InternalRow(negs(r), cids(r))
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}
