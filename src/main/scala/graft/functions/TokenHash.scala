package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine-portable 60-bit token hash.
  *
  * Semantics are EXACTLY [[graft.text.Dedup.portableTokenHash]]'s md5
  * spelling — `conv(substring(md5(tok), 1, 15), 16, 10) cast long` — i.e.
  * the first 15 hex nibbles of the token's md5, which is the first 8 digest
  * bytes read as an unsigned big-endian 64-bit value shifted right 4 bits.
  * Any SQL engine with md5 recomputes it bit-for-bit (the oracle does), but
  * the md5→hex→substring→conv spelling pays, per token: a 32-char hex
  * string allocation, a substring copy, and a base-16 string parse — and in
  * the array form (`transform(toks, t => portableTokenHash(t))`) the
  * higher-order lambda additionally falls out of whole-stage codegen
  * (plan-verified in plans/r16: `* Project` → `Project`). These expressions
  * digest the token bytes straight to the long (one ThreadLocal-reused
  * MessageDigest, no hex round-trip) inside generated code, so the Project
  * stays codegen'd. TokenHashSpec pins native == md5-spelling on corpus
  * data, nulls, empty and non-ASCII strings.
  */
object TokenHash {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes of `s`): first 8 digest bytes as an
    * unsigned big-endian long, >>> 4 — identical to
    * conv(substring(md5(s),1,15),16,10). */
  def hash60(s: UTF8String): Long = {
    val m = md.get()
    m.reset()
    val d = m.digest(s.getBytes)
    val v =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    v >>> 4
  }

  /** [[hash60]] over every element of a string array; null elements hash to
    * null (matching `transform(toks, t => md5-spelling(t))`). */
  def hashAll(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      var j = 0
      while (j < n) {
        out(j) = hash60(a.getUTF8String(j))
        j += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        out(j) = if (a.isNullAt(j)) null else hash60(a.getUTF8String(j))
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Column API: scalar 60-bit portable token hash (string → long). */
  def hash60Col(tok: Column): Column =
    GraftSqlBridge.column(TokenHash60(GraftSqlBridge.expression(tok)))

  /** Column API: per-element hash of a string array (array<string> →
    * array<long>), the codegen'd replacement for the interpreted
    * `transform` spelling on the LM hot path. */
  def hashAllCol(toks: Column): Column =
    GraftSqlBridge.column(TokenHashes(GraftSqlBridge.expression(toks)))
}

/** Scalar form: string → long. */
case class TokenHash60(child: Expression)
  extends UnaryKernel("token_hash60", StringType, LongType, "TokenHash.hash60") {
  override protected def nullSafeEval(s: Any): Any = TokenHash.hash60(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Array form: array<string> → array<long> (null elements → null, matching
  * the higher-order `transform` spelling's lambda semantics). */
case class TokenHashes(child: Expression) extends UnaryKernel("token_hashes",
    ArrayType(StringType), ArrayType(LongType, containsNull = true), "TokenHash.hashAll") {
  override protected def nullSafeEval(a: Any): Any = TokenHash.hashAll(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
