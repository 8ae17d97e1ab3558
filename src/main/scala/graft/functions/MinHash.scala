package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The per-row bodies of the MinHash expressions below, shared by their
  * interpreted and generated paths (the generated code calls these
  * static methods, so both paths are one implementation).
  *
  * Hash parity with Spark's built-in `xxhash64` is the contract: a
  * shingle is `concat_ws(' ', tokens[s .. s+w))` (NULL tokens skipped,
  * as concat_ws does), its hash `h = xxhash64(shingle)` is
  * `XXH64.hashUnsafeBytes` over its UTF-8 bytes with seed 42, and
  * `xxhash64(h, i)` folds `hashLong(h)` then `hashInt(i)` from seed 42 —
  * exactly `XxHash64Function`'s per-child fold. */
object MinHashKernel {

  val Seed: Long = 42L

  /** Writes shingle `s` (tokens s until s+w, space-joined) into a
    * reusable byte buffer; `len` holds its byte length after [[fill]]. */
  private final class ShingleBuffer {
    var bytes: Array[Byte] = new Array[Byte](64)
    var len: Int = 0

    def fill(tokens: ArrayData, s: Int, w: Int): Unit = {
      len = 0
      var first = true
      var j = s
      while (j < s + w) {
        if (!tokens.isNullAt(j)) {
          val t = tokens.getUTF8String(j)
          val need = len + t.numBytes() + (if (first) 0 else 1)
          if (need > bytes.length) bytes = java.util.Arrays.copyOf(bytes, math.max(need, bytes.length * 2))
          if (!first) { bytes(len) = ' '.toByte; len += 1 }
          t.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + len)
          len += t.numBytes()
          first = false
        }
        j += 1
      }
    }

    def hash: Long = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, Seed)

    def string: UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(bytes, len))
  }

  /** `sig[i] = min over shingles of xxhash64(xxhash64(shingle), i)` for
    * i < k, or NULL when there are fewer than `w` tokens (no shingle).
    * Duplicate shingles need no dedup: min is idempotent. */
  def signature(tokens: ArrayData, w: Int, k: Int): ArrayData = {
    val n = tokens.numElements() - w + 1
    if (n <= 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    val buf = new ShingleBuffer
    var s = 0
    while (s < n) {
      buf.fill(tokens, s, w)
      val h = XXH64.hashLong(buf.hash, Seed)
      var i = 0
      while (i < k) {
        val v = XXH64.hashInt(i, h)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Band b's key is `xxhash64(sig[b·rows], …, sig[(b+1)·rows − 1])`:
    * one key per whole band (trailing signature entries that do not fill
    * a band are ignored). NULL entries are skipped, as xxhash64 skips
    * NULL children. */
  def bandKeys(sig: ArrayData, rows: Int): ArrayData = {
    val keys = new Array[Long](sig.numElements() / rows)
    var b = 0
    while (b < keys.length) {
      var h = Seed
      var r = b * rows
      while (r < (b + 1) * rows) {
        if (!sig.isNullAt(r)) h = XXH64.hashLong(sig.getLong(r), h)
        r += 1
      }
      keys(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  private def shingles(tokens: ArrayData, w: Int): java.util.HashSet[UTF8String] = {
    val n = tokens.numElements() - w + 1
    val set = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    val buf = new ShingleBuffer
    var s = 0
    while (s < n) {
      buf.fill(tokens, s, w)
      set.add(buf.string)
      s += 1
    }
    set
  }

  /** Exact Jaccard |A ∩ B| / (|A| + |B| − |A ∩ B|) over the two token
    * arrays' DISTINCT shingle strings, the counts combined as longs and
    * divided as doubles (the `jaccardFromCounts` arithmetic); −1 when
    * either side has no shingle (the caller maps it to NULL). */
  def jaccard(a: ArrayData, b: ArrayData, w: Int): Double = {
    val sa = shingles(a, w)
    val sb = shingles(b, w)
    if (sa.isEmpty || sb.isEmpty) return -1.0
    val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
    var common = 0L
    val it = small.iterator()
    while (it.hasNext) if (large.contains(it.next())) common += 1
    common.toDouble / (sa.size.toLong + sb.size.toLong - common).toDouble
  }

  private[functions] def tokensOk(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  private[functions] def literalInt(e: Expression, what: String, fn: String): Option[TypeCheckResult] =
    if (e.dataType != IntegerType || !e.foldable)
      Some(TypeCheckResult.TypeCheckFailure(s"$fn $what must be an INT literal"))
    else if (e.eval(null).asInstanceOf[Int] < 1)
      Some(TypeCheckResult.TypeCheckFailure(s"$fn $what must be ≥ 1"))
    else None
}

/** `graft_minhash(tokens, w, k)` → `array<bigint>`: the k-entry MinHash
  * signature of the w-token shingles of `tokens`, bit-identical to the
  * composed `min_i xxhash64(xxhash64(concat_ws(' ', shingle)), i)`.
  * NULL for NULL tokens or fewer than `w` tokens.
  *
  * Why one expression: the composed form is either k `min` aggregates
  * over a shingle-row shuffle (a window, a distinct and a k-column
  * aggregate per document) or k nested higher-order functions, which
  * are CodegenFallback and interpreted per element. Here a document is
  * one pass over its shingles with a k-long running minimum, inside
  * whole-stage codegen. `w` and `k` must be literals. */
case class MinHash(tokens: Expression, w: Expression, k: Expression) extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = w
  override def third: Expression = k

  override def checkInputDataTypes(): TypeCheckResult =
    if (!MinHashKernel.tokensOk(tokens.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${tokens.dataType.simpleString}")
    else MinHashKernel.literalInt(w, "shingle width", prettyName)
      .orElse(MinHashKernel.literalInt(k, "signature length", prettyName))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  private lazy val width: Int = w.eval(null).asInstanceOf[Int]
  private lazy val length: Int = k.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, ignoredW: Any, ignoredK: Any): Any =
    MinHashKernel.signature(t.asInstanceOf[ArrayData], width, length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"""
         |${ev.value} = graft.functions.MinHashKernel.signature($t, $width, $length);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      first: Expression, second: Expression, third: Expression): MinHash =
    copy(tokens = first, w = second, k = third)
}

/** `graft_minhash_bands(sig, rowsPerBand)` → `array<bigint>`: one LSH
  * band key per `rowsPerBand` signature entries, bit-identical to
  * `xxhash64` over each band's slice of the signature. Pair it with
  * `posexplode` to get (band_id, band_key) rows. `rowsPerBand` must be
  * a literal. */
case class MinHashBands(sig: Expression, rowsPerBand: Expression) extends BinaryExpression {

  override def left: Expression = sig
  override def right: Expression = rowsPerBand

  override def checkInputDataTypes(): TypeCheckResult = sig.dataType match {
    case ArrayType(LongType, _) =>
      MinHashKernel.literalInt(rowsPerBand, "rows per band", prettyName)
        .getOrElse(TypeCheckResult.TypeCheckSuccess)
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> signature, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  private lazy val rows: Int = rowsPerBand.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(s: Any, ignoredRows: Any): Any =
    MinHashKernel.bandKeys(s.asInstanceOf[ArrayData], rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.functions.MinHashKernel.bandKeys($s, $rows);")

  override protected def withNewChildrenInternal(left: Expression, right: Expression): MinHashBands =
    copy(sig = left, rowsPerBand = right)
}

/** `graft_shingle_jaccard(tokensA, tokensB, w)` → `double`: the exact
  * Jaccard of the two documents' distinct w-token shingle sets, the
  * same ratio `Dedup.jaccardFromCounts` computes from shingle-row
  * counts. NULL when either side is NULL or has fewer than `w` tokens.
  * Evaluated per candidate pair, so the cost is linear in the pair's
  * two documents and nothing is shuffled by shingle. `w` must be a
  * literal. */
case class ShingleJaccard(tokensA: Expression, tokensB: Expression, w: Expression)
    extends TernaryExpression {

  override def first: Expression = tokensA
  override def second: Expression = tokensB
  override def third: Expression = w

  override def checkInputDataTypes(): TypeCheckResult =
    if (!MinHashKernel.tokensOk(tokensA.dataType) || !MinHashKernel.tokensOk(tokensB.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got " +
          s"${tokensA.dataType.simpleString} and ${tokensB.dataType.simpleString}")
    else MinHashKernel.literalInt(w, "shingle width", prettyName)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_jaccard"

  private lazy val width: Int = w.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(a: Any, b: Any, ignoredW: Any): Any = {
    val j = MinHashKernel.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], width)
    if (j < 0) null else j
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, _) =>
      s"""
         |${ev.value} = graft.functions.MinHashKernel.jaccard($a, $b, $width);
         |${ev.isNull} = ${ev.value} < 0;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      first: Expression, second: Expression, third: Expression): ShingleJaccard =
    copy(tokensA = first, tokensB = second, w = third)
}
