package graft.plans

import graft.functions.{ArrayDot, GraftFunctions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Add, ArrayAggregate, Cast, Expression, ExpressionInfo, LambdaFunction, Literal,
  Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Session-extension wiring for the graft kernels — the only way they
  * get into a session (`spark.sql.extensions=graft.plans.GraftExtensions`,
  * or `GraftSession.build`, which applies it programmatically to every
  * graft session):
  *
  *  - injects the six native functions of the one kernel list,
  *    [[graft.functions.GraftFunctions.kernels]], into the session's
  *    function registry, and
  *  - injects [[NativeDotProductRule]], an optimizer rule that
  *    rewrites the interpreted higher-order-function dot-product
  *    pattern `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (s,v) -> s+v)`
  *    into the codegen'd [[ArrayDot]] kernel. The HOF form evaluates
  *    lambdas interpretively per element (~40 µs); the kernel is a
  *    primitive loop inside whole-stage codegen — and the two are
  *    bit-identical by construction (same fold order, same null
  *    semantics; locked by GraftFunctionsSpec), so the rewrite is
  *    safe everywhere the pattern appears.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.kernels.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => NativeDotProductRule)
  }
}

/** Rewrites the interpreted `aggregate(zip_with(...))` dot product to
  * the native [[ArrayDot]] kernel (bit-identical; see
  * [[GraftExtensions]]). Matching is deliberately strict: the zip
  * lambda must multiply exactly its own two variables, the fold
  * lambda must add exactly its own two variables, the zero must be a
  * double 0.0, and the finish lambda must be the identity on the
  * accumulator — anything else is left untouched.
  */
object NativeDotProductRule extends Rule[LogicalPlan] {

  private object DotPattern {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
                Seq(lx: NamedLambdaVariable, ly: NamedLambdaVariable), _)),
            DoubleZero(),
            LambdaFunction(Add(s: NamedLambdaVariable, v: NamedLambdaVariable, _),
              Seq(ls: NamedLambdaVariable, lv: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable, Seq(lf: NamedLambdaVariable), _))
          if x.exprId == lx.exprId && y.exprId == ly.exprId &&
            s.exprId == ls.exprId && v.exprId == lv.exprId &&
            fin.exprId == lf.exprId =>
        Some((a, b))
      case _ => None
    }
  }

  private object DoubleZero {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0.0, DoubleType) => true
      case Cast(Literal(z, _), DoubleType, _, _) => z == 0 || z == 0.0
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotPattern(a, b) => ArrayDot(a, b)
    }
}
