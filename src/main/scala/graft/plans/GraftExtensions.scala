package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{CosineSim, DotProduct}

/** Optimizer rule: rewrite the composable dot-product idiom
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * into the fused native [[DotProduct]] — one codegen'd loop instead
  * of an intermediate products array plus two higher-order-function
  * frames. Semantics identical:
  *  - both accumulate ascending-index doubles;
  *  - the rewrite only fires on non-nullable element types (a null
  *    element poisons the composed sum, native skips it);
  *  - unequal lengths: zip_with pads the shorter array with nulls, so
  *    the composed sum is null — and DotProduct returns null on a
  *    length mismatch to match;
  *  - each lambda must use exactly its own two bound variables, one
  *    each (checked by exprId) — so e.g. `(x, y) -> x * x` (a
  *    sum-of-squares over the left array) is NOT rewritten, and the
  *    finish lambda must be the identity on its own variable.
  */
object DotProductRewrite extends Rule[LogicalPlan] {
  private def isDoubleArray(e: Expression, allowNullable: Boolean): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => allowNullable || !containsNull
    case _ => false
  }

  /** The binary op's operands are exactly the lambda's own two bound
    * variables, one of each (in either order).
    */
  private def usesBothArgsOnce(
      p: NamedLambdaVariable, q: NamedLambdaVariable,
      declared: Seq[NamedExpression]): Boolean = {
    val ids = declared.collect { case v: NamedLambdaVariable => v.exprId }
    p.exprId != q.exprId && ids.length == 2 && Set(p.exprId, q.exprId) == ids.toSet
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _), zipArgs, _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _), aggArgs, _),
          LambdaFunction(finishVar: NamedLambdaVariable, finArgs, _))
        if isDoubleArray(a, allowNullable = false) && isDoubleArray(b, allowNullable = false) &&
          usesBothArgsOnce(x1, y1, zipArgs) && usesBothArgsOnce(acc, v, aggArgs) &&
          finArgs.collect { case fv: NamedLambdaVariable => fv.exprId } == Seq(finishVar.exprId) =>
      DotProduct(a, b)
  }
}

/** Session extensions entry point:
  *
  * {{{ spark.sql.extensions=graft.plans.GraftExtensions }}}
  *
  * injects the graft_dot / graft_cosine SQL functions and the
  * dot-product rewrite rule into every session — the integration path
  * for SQL callers; Scala and DataFrame code build the same
  * expressions with `graft.functions.Native`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => DotProductRewrite)
  }
}
