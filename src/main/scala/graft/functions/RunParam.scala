package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftfn.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A per-run value (the day being processed, its processing time, its
  * file count) that stays OUT of the generated Java source.
  *
  * Spark's `Literal` inlines Date, Timestamp and numeric values into
  * the generated source, and the codegen cache is keyed by that text,
  * so a plan that differs from yesterday's only in such a literal
  * compiles fresh classes that the JIT has never seen. A `RunParam`
  * is read through `ctx.addReferenceObj` instead: the source is the
  * same text for every value and the cache hits.
  *
  * It is deterministic and NOT foldable, so the optimizer never turns
  * it back into a literal (and cannot push a comparison with it into a
  * scan as a constant). `value` is in Catalyst's internal form for
  * `dataType`; build one with [[RunParam.of]].
  */
case class RunParam(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a run parameter carries a value")

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "run_param"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("runParam", value, CodeGenerator.boxedType(dataType))
    // primitives are unboxed explicitly; objects (UTF8String, ...) pass through
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}

object RunParam {

  /** A parameter carrying `v` with the type `lit(v)` would have. */
  def of(v: Any): Column = {
    val l = Literal.create(v)
    ColumnBridge.column(RunParam(l.value, l.dataType))
  }
}
