package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** One call of a scalar native kernel: the one Catalyst expression every
  * row of [[Natives]]' kernel table builds. Its identity is the SQL name
  * plus the argument expressions (literal arguments included), so two
  * separately built identical calls are `semanticEquals` and exchange
  * reuse and subexpression elimination match them.
  *
  * Interpreted eval and generated code both run the kernel's one plain
  * function through a `StaticInvoke` built from the row: per-row inputs
  * first, then the row's bound values (ints and booleans inlined, arrays
  * as codegen reference objects). A null input yields null.
  */
case class KernelCall(name: String, children: Seq[Expression]) extends Expression {

  @transient private lazy val kernel = Natives.kernel(name)

  @transient private lazy val call: Expression = kernel.call(children)

  override def dataType: DataType = kernel.result

  override def nullable: Boolean = children.take(kernel.inputs).exists(_.nullable)

  override def foldable: Boolean = children.forall(_.foldable)

  // the StaticInvoke reuses one argument buffer in interpreted eval, so
  // each partition gets its own copy
  override def stateful: Boolean = true

  // plans print the kernel as its object, the class DESCRIBE FUNCTION reports
  override def prettyName: String = kernel.cls.split('.').last.toLowerCase(java.util.Locale.ROOT)

  override protected def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult = kernel.check(children)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}
