package graft.engine.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.engine.expr.NativeFunctions.LongArrayDot

/** Optimizer rule: recognize the declarative BIGINT dot product
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` and
  * rewrite it to the native [[LongArrayDot]] kernel.
  *
  * The declarative form is the portable spec users naturally write
  * (Similarity.qdotDeclarative), but it executes as interpreted lambda
  * dispatch per element — ~10× slower per pair in ANN/near-dup loops.
  * With this rule (installed via [[graft.GraftExtensions]]), the
  * spec form gets native speed with no API change.
  *
  * Soundness: fires only on ArrayType(LongType, containsNull=false)
  * inputs. `zip_with` null-pads unequal lengths, making the declarative
  * result NULL, while LongArrayDot truncates to the shorter array — so
  * the rewrite emits `if (size(a) = size(b)) dot(a, b) else NULL`, which
  * also yields NULL when either array is NULL (null comparison → else
  * branch, and the O(1) guard keeps everything in one codegen span).
  *
  * The rule runs in the optimizer, after `ReplaceExpressions` has
  * swapped every kernel front for its `StaticInvoke`; a front emitted
  * here would never be replaced and could not evaluate, so the rule
  * emits the kernel's `replacement` directly.
  *
  * Arithmetic mode: the rule is installed cluster-wide, so it must
  * preserve the overflow semantics of WHATEVER session it fires in, not
  * just graft's overflow-safe quantized data. LEGACY `*`/`+` wrap →
  * rewrite to the wrapping loop; ANSI raises ARITHMETIC_OVERFLOW →
  * rewrite to `LongArrayDot(failOnError = true)` (exact-checked loop,
  * same error); TRY yields NULL on overflow — no native twin, so TRY
  * (or mixed-mode) expressions are left interpreted rather than given
  * silently different results.
  */
object RewriteDeclarativeDot extends Rule[LogicalPlan] {

  private def sameVar(e: Expression, arg: NamedExpression): Boolean =
    (e, arg) match {
      case (a: NamedLambdaVariable, b: NamedLambdaVariable) => a.exprId == b.exprId
      case _ => false
    }

  /** The two operands are exactly the lambda's two variables, either order
    * (multiplication and addition commute).
    */
  private def usesBoth(l: Expression, r: Expression,
                       args: Seq[NamedExpression]): Boolean =
    args.length == 2 &&
      ((sameVar(l, args(0)) && sameVar(r, args(1))) ||
        (sameVar(l, args(1)) && sameVar(r, args(0))))

  private def longArrayNoNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, containsNull) => !containsNull
    case _ => false
  }

  /** The one loop body we can reproduce natively for this mode pair, if
    * any: both LEGACY → wrapping loop, both ANSI → exact-checked loop.
    * TRY (NULL-on-overflow) and mixed modes have no native twin.
    */
  private def nativeFailOnError(mulCtx: NumericEvalContext,
                                addCtx: NumericEvalContext): Option[Boolean] =
    (mulCtx.evalMode, addCtx.evalMode) match {
      case (EvalMode.LEGACY, EvalMode.LEGACY) => Some(false)
      case (EvalMode.ANSI, EvalMode.ANSI) => Some(true)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(Multiply(x, y, mulCtx), zargs, _)),
            Literal(0L, LongType),
            LambdaFunction(Add(al, ar, addCtx), margs, _),
            LambdaFunction(fin, fargs, _))
          if longArrayNoNulls(a) && longArrayNoNulls(b) &&
            usesBoth(x, y, zargs) && usesBoth(al, ar, margs) &&
            fargs.length == 1 && sameVar(fin, fargs.head) &&
            nativeFailOnError(mulCtx, addCtx).isDefined =>
        If(EqualTo(Size(a, legacySizeOfNull = false),
            Size(b, legacySizeOfNull = false)),
          LongArrayDot(a, b, nativeFailOnError(mulCtx, addCtx).get).replacement,
          Literal(null, LongType))
    }
}
