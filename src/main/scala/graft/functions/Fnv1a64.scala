package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash of a string's UTF-8 bytes, as a native Catalyst
  * expression with whole-stage codegen (`doGenCode`) — the document
  * fingerprint primitive.
  *
  * The reference places shuffle keys with 32-bit FNV-1a
  * (`maple_juice/maple_juice.go:773-777`); placement there is not
  * output-visible (SURVEY §2.1-E5), but the same public algorithm
  * (Fowler–Noll–Vo, offset 0xcbf29ce484222325, prime 0x100000001b3) is a
  * good streaming fingerprint: one pass, no allocation, codegen-friendly —
  * strictly faster than a Scala UDF which would pay serialization per row.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fnv1a64 requires a string argument, got ${child.dataType}")
  }

  override def nullSafeEval(input: Any): Any =
    Fnv1a64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = ${Fnv1a64.Offset}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h *= ${Fnv1a64.Prime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

object Fnv1a64 {
  final val Offset = -3750763034362895579L // 0xcbf29ce484222325
  final val Prime  = 1099511628211L        // 0x00000100000001b3

  /** Interpreted twin of the generated code (used by nullSafeEval and by
    * tests as the independent expected value).
    */
  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /** Column-level entry point: `fnv1a64($"text")` — resolves against the
    * session's function registry, installed by [[Natives.register]].
    */
  def fnv1a64(c: Column): Column = call_function("fnv1a64", c)
}
