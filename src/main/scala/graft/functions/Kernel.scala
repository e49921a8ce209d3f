package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** The one calling convention of the native kernels. Every kernel is a
  * static method on an object in `graft.functions`; its Catalyst
  * expression names that method (`target`, relative to the package) and
  * its plan-time literal arguments, and this template emits both the
  * interpreted and the generated call from them, so the two paths run
  * the same code (`KernelCodegenSpec` checks them against each other
  * row for row).
  *
  * Null policy: a null input gives a null result and no call. A kernel
  * whose method may itself return null for a non-null input sets
  * `nullResult`; codegen then takes `isNull` from the returned value.
  * A kernel that passes a plan-time object by reference (a precomputed
  * array) overrides `refArgs`; those terms follow the literals.
  *
  * The two bases are `Serializable` themselves: Java serialization of a
  * case class kernel (interpreted operators ship expressions to tasks)
  * needs its first non-serializable superclass to have a no-argument
  * constructor, which the Catalyst base classes have and these do not. */
sealed trait Kernel {
  protected def target: String
  protected def literals: Seq[Any]
  protected def nullResult: Boolean = false
  protected def refArgs(ctx: CodegenContext): Seq[String] = Nil

  /** The generated statement, given the children's value terms. */
  protected final def callCode(ctx: CodegenContext, ev: ExprCode): Seq[String] => String = {
    val tail = literals.map(_.toString) ++ refArgs(ctx)
    terms => {
      val call = s"graft.functions.$target(${(terms ++ tail).mkString(", ")})"
      if (!nullResult) s"${ev.value} = $call;"
      else s"""
       |${ev.value} = $call;
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin
    }
  }
}

/** A one-input kernel; `kernel` is the Scala call of `target`. */
abstract class UnaryKernel[A](protected val target: String, protected val literals: Any*)
    extends UnaryExpression with Kernel with Serializable {

  protected def kernel(a: A): Any

  override def nullable: Boolean = nullResult || super.nullable

  final override protected def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[A])

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val body = callCode(ctx, ev)
    nullSafeCodeGen(ctx, ev, c => body(Seq(c)))
  }
}

/** A two-input kernel; `kernel` is the Scala call of `target`. */
abstract class BinaryKernel[A, B](protected val target: String, protected val literals: Any*)
    extends BinaryExpression with Kernel with Serializable {

  protected def kernel(a: A, b: B): Any

  override def nullable: Boolean = nullResult || super.nullable

  final override protected def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[A], r.asInstanceOf[B])

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val body = callCode(ctx, ev)
    nullSafeCodeGen(ctx, ev, (l, r) => body(Seq(l, r)))
  }
}
