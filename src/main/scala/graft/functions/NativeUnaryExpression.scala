package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The Catalyst shell of a native unary expression: the input type
  * check, the interpreted path and the generated path, all around one
  * call on a kernel object that both paths share. A subclass passes its
  * `prettyName`, the child type it accepts (an array type accepts either
  * element nullability) and whether its kernel can return null; it
  * states its `dataType` and `nullable`, its [[kernel]], and the kernel
  * call once in Scala ([[scalaCall]]) and once in Java ([[javaCall]]).
  *
  * The generated code is a direct method call on the kernel through a
  * reference slot, so a primitive result is never boxed on the way. A
  * kernel that can return null (`kernelReturnsNull`; the expression must
  * then be `nullable`) has its null turned into SQL NULL; for a
  * primitive `dataType` such a kernel returns the boxed type and the
  * generated code unboxes it.
  *
  * Serializable because tasks deserialize expressions, and Java
  * deserialization needs a no-argument constructor on the first
  * superclass that is not serializable: `UnaryExpression`'s, not this. */
abstract class NativeUnaryExpression(
    override val prettyName: String,
    inputType: DataType,
    kernelReturnsNull: Boolean = false)
  extends UnaryExpression with Serializable {

  /** The object both paths call. */
  protected def kernel: AnyRef

  /** The Java type of the kernel's reference slot; must be public. */
  protected def kernelClass: String = kernel.getClass.getName

  /** The kernel call on a non-null child value. */
  protected def scalaCall(input: Any): Any

  /** The same call in Java, on the kernel reference `k` and the child
    * value `in`; further arguments can ride as `ctx` reference objects. */
  protected def javaCall(ctx: CodegenContext, k: String, in: String): String

  final override def checkInputDataTypes(): TypeCheckResult =
    (inputType, child.dataType) match {
      case (ArrayType(want, _), ArrayType(got, _)) if want == got =>
        TypeCheckResult.TypeCheckSuccess
      case (want, got) if want == got => TypeCheckResult.TypeCheckSuccess
      case (_, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ${inputType.simpleString}, got $t")
    }

  final override protected def nullSafeEval(input: Any): Any = scalaCall(input)

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val call = javaCall(ctx, ctx.addReferenceObj(prettyName, kernel, kernelClass), in)
      if (!kernelReturnsNull) s"${ev.value} = $call;"
      else {
        val r = ctx.freshName("result")
        val (javaType, unbox) =
          if (CodeGenerator.isPrimitiveType(dataType)) {
            (s"java.lang.${CodeGenerator.boxedType(dataType)}",
              s".${CodeGenerator.javaType(dataType)}Value()")
          } else (CodeGenerator.javaType(dataType), "")
        s"""
           |$javaType $r = $call;
           |if ($r == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $r$unbox;
           |}
         """.stripMargin
      }
    })
}
