package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** A unary expression whose interpreted and generated code call the same
  * static kernel on a non-null input: `graft.functions.<kernel>(input,
  * literals...)`, a Scala object's method reached through its static
  * forwarder, so the Project around it stays in whole-stage codegen.
  * `input` is the one child type accepted (an array's containsNull
  * aside); a subclass gives `nullSafeEval` as the same call. */
abstract class UnaryKernel(name: String, input: DataType, out: DataType,
                           kernel: String, literals: Any*)
  extends UnaryExpression with Serializable {

  override def prettyName: String = name

  override def dataType: DataType = out

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, input) match {
    case (ArrayType(a, _), ArrayType(b, _)) if a == b => TypeCheckResult.TypeCheckSuccess
    case (a, b) if a == b => TypeCheckResult.TypeCheckSuccess
    case (a, _) => TypeCheckResult.TypeCheckFailure(
      s"$name expects ${input.simpleString} input, got ${a.simpleString}")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.$kernel(${(c +: literals).mkString(", ")})")
}
