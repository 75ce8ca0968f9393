package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the near-dup VERIFY stage's set arithmetic in the
  * 64-bit hash domain.
  *
  * The string-domain spelling — `array_distinct(shinglesOf(toks, n))` per
  * doc, then `array_intersect(wa, wb)` per candidate pair — allocates one
  * gram STRING per position (an interpreted higher-order transform),
  * shuffles whole string arrays into the pair join (~10× the bytes of a
  * long array), and builds a hash map + result array per pair. These
  * expressions keep the exact same COUNTS (what the Jaccard verdicts are
  * computed from) while moving only 8-byte longs:
  *
  *  - [[ShingleHashSet]]: token array → SORTED DISTINCT xxhash64 values of
  *    its word n-grams, each hash bit-equal to
  *    `xxhash64(concat_ws(" ", slice(toks, i+1, n)))` (HashSetSpec pins
  *    it) — the SAME hash domain as [[graft.text.Dedup.docGrams]]. Grams
  *    are assembled into one reusable per-thread byte buffer — zero
  *    per-gram string allocation.
  *  - [[MinhashSignature]]: the near-dup CANDIDATE stage's signature over
  *    the same gram hashes, one long per seed (see its eval body).
  *  - [[HashedTokenSet]]: string array → sorted distinct xxhash64 values
  *    of its elements (the word-set verify's domain).
  *  - [[SortedIntersectCount]]: |a ∩ b| of two sorted distinct long arrays
  *    by a merge walk — no hash map, no result array.
  *
  * Set sizes and intersection counts equal the string-domain ones except
  * on a 64-bit collision (~2⁻⁶⁴ per pair — the standing [[graft.text.Dedup.docGrams]]
  * contract: a collision can only ever merge two grams). Ordering of the
  * returned arrays is ascending (the string spelling's first-occurrence
  * order was never observable: every consumer takes sizes/intersections).
  */
object HashSets {

  private val Seed = 42L // spark.sql.functions.xxhash64's default seed

  private[functions] val LongSet = ArrayType(LongType, containsNull = false)

  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 12)
  }

  /** xxhash64 (seed 42) of the UTF-8 bytes of tokens [from, until) joined
    * by single spaces, skipping null elements (concat_ws semantics). */
  private def hashGram(a: ArrayData, from: Int, until: Int): Long = {
    var len = 0
    var i = from
    while (i < until) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        len += (if (len > 0) 1 else 0) + s.numBytes()
      }
      i += 1
    }
    var b = buf.get()
    if (b.length < len) {
      b = new Array[Byte](java.lang.Integer.highestOneBit(len) * 2)
      buf.set(b)
    }
    var pos = 0
    i = from
    while (i < until) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        if (pos > 0) { b(pos) = ' '; pos += 1 }
        s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += s.numBytes()
      }
      i += 1
    }
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, pos, Seed)
  }

  private def sortedDistinct(h: Array[Long], n: Int): ArrayData = {
    java.util.Arrays.sort(h, 0, n)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || h(i) != h(m - 1)) { h(m) = h(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, m))
  }

  /** The hash of every word n-gram position; shinglesOf contract: a doc
    * shorter than `n` (also an empty one) yields ONE gram of all tokens. */
  private def gramHashes(toks: ArrayData, n: Int): Array[Long] = {
    val len = toks.numElements()
    if (len < n) Array(hashGram(toks, 0, len))
    else {
      val h = new Array[Long](len - n + 1)
      var i = 0
      while (i < h.length) { h(i) = hashGram(toks, i, i + n); i += 1 }
      h
    }
  }

  /** Eval body of [[ShingleHashSet]]. */
  def shingleHashSet(toks: ArrayData, n: Int): ArrayData = {
    val h = gramHashes(toks, n)
    sortedDistinct(h, h.length)
  }

  /** Eval body of [[MinhashSignature]]: for each seed p, the min over the
    * gram hashes g of `XXH64.hashLong(g, XXH64.hashInt(p, 42))` — bit-equal
    * to `min(xxhash64(lit(p), xxhash64(gram)))` over the doc's grams. */
  def minhashSignature(toks: ArrayData, n: Int, numPerms: Int): ArrayData = {
    val h = gramHashes(toks, n)
    val sig = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val seed = XXH64.hashInt(p, Seed)
      var m = Long.MaxValue
      var i = 0
      while (i < h.length) { m = math.min(m, XXH64.hashLong(h(i), seed)); i += 1 }
      sig(p) = m
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Eval body of [[HashedTokenSet]] (null elements skipped — token arrays
    * from split() never carry one). */
  def hashedTokenSet(toks: ArrayData): ArrayData = {
    val len = toks.numElements()
    val h = new Array[Long](len)
    var m = 0
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) {
        h(m) = XXH64.hashUTF8String(toks.getUTF8String(i), Seed)
        m += 1
      }
      i += 1
    }
    sortedDistinct(h, m)
  }

  /** Eval body of [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def shingleHashSetCol(toks: Column, n: Int): Column =
    GraftSqlBridge.column(ShingleHashSet(GraftSqlBridge.expression(toks), n))

  def minhashSignatureCol(toks: Column, n: Int, numPerms: Int): Column =
    GraftSqlBridge.column(MinhashSignature(GraftSqlBridge.expression(toks), n, numPerms))

  def hashedTokenSetCol(toks: Column): Column =
    GraftSqlBridge.column(HashedTokenSet(GraftSqlBridge.expression(toks)))

  def sortedIntersectCountCol(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedIntersectCount(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** Sorted distinct xxhash64 values of a token array's word n-grams. */
case class ShingleHashSet(child: Expression, n: Int) extends UnaryKernel("shingle_hash_set",
    ArrayType(StringType), HashSets.LongSet, "HashSets.shingleHashSet", n) {
  require(n >= 1, s"shingle_hash_set needs n >= 1, got $n")
  override protected def nullSafeEval(a: Any): Any =
    HashSets.shingleHashSet(a.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature of a token array's word n-grams: `numPerms` longs. */
case class MinhashSignature(child: Expression, n: Int, numPerms: Int)
  extends UnaryKernel("minhash_signature", ArrayType(StringType), HashSets.LongSet,
    "HashSets.minhashSignature", n, numPerms) {
  require(n >= 1 && numPerms >= 1, s"minhash_signature needs n, numPerms >= 1, got $n, $numPerms")
  override protected def nullSafeEval(a: Any): Any =
    HashSets.minhashSignature(a.asInstanceOf[ArrayData], n, numPerms)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted distinct xxhash64 values of a string array's elements. */
case class HashedTokenSet(child: Expression) extends UnaryKernel("hashed_token_set",
    ArrayType(StringType), HashSets.LongSet, "HashSets.hashedTokenSet") {
  override protected def nullSafeEval(a: Any): Any =
    HashSets.hashedTokenSet(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** |a ∩ b| for two SORTED DISTINCT long arrays (the [[ShingleHashSet]] /
  * [[HashedTokenSet]] output contract) — a merge walk, no per-row map. */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> inputs, got $l / $r")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashSets.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashSets.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
