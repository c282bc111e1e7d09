package graft.plans

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import graft.expr.ExactDoubleToDecimal

/** Optimizer rule: every `CAST(double AS DECIMAL(p <= 18, s >= 0))`, in
  * any eval mode (legacy, ANSI, try), becomes `ExactDoubleToDecimal`,
  * which returns the cast's exact result on the long-backed Decimal path
  * and runs the original cast for every input it does not accept.
  * Wider targets and float, string or decimal sources keep Spark's cast.
  * Registered through `GraftExtensions` (injectOptimizerRule); the
  * replacement is no `Cast`, so the rule is idempotent in the
  * operator-optimization fixpoint. */
object ExactDecimalCast extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c: Cast if c.resolved && ExactDoubleToDecimal.applies(c) =>
        ExactDoubleToDecimal(c)
    }
}
