package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `regexp_replace(lower(trim(text)), "\\s+", " ")` as one native kernel,
  * byte-equal to that spelling on every input (TextKernelSpec pins it).
  * `useICU` is `spark.sql.icu.caseMappings.enabled` when the expression is
  * built, the flag `Lower` reads. */
case class NormalizeText(child: Expression,
                         useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
  extends UnaryKernel("normalize_text", StringType, StringType, "NormalizeText.normalize", useICU) {
  override protected def nullSafeEval(s: Any): Any =
    NormalizeText.normalize(s.asInstanceOf[UTF8String], useICU)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NormalizeText {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Trim 0x20 as Spark's `trim` does; then an ASCII string is lowercased
    * and each `[ \t\n\x0B\f\r]` run (Java's `\s`) collapsed to one space in
    * one byte loop, and any other string takes `Lower`'s own UTF8_BINARY
    * code and `RegExpReplace`'s Java-regex replace. */
  def normalize(text: UTF8String, useICU: Boolean): UTF8String = {
    val t = text.trim()
    if (!t.isFullAscii) return UTF8String.fromString(Ws.matcher(CollationSupport.Lower
      .exec(t, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).toString).replaceAll(" "))
    val out = new Array[Byte](t.numBytes())
    var m = 0
    var i = 0
    while (i < out.length) {
      val b = t.getByte(i)
      if (b != ' ' && (b < '\t' || b > '\r')) {
        out(m) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        m += 1
      } else if (m == 0 || out(m - 1) != ' ') { out(m) = ' '; m += 1 }
      i += 1
    }
    UTF8String.fromBytes(out, 0, m)
  }
}
