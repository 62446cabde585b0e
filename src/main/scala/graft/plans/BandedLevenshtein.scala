package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite threshold comparisons of the full Levenshtein
  * distance into Spark's banded form.
  *
  * `levenshtein(l, r) <= k` computes the complete O(|l|·|r|) DP before
  * comparing; `levenshtein(l, r, k)` runs a banded O(k·max(|l|,|r|)) DP
  * with early exit, returns the EXACT distance when it is ≤ k and -1
  * otherwise — so `levenshtein(l, r, k) >= 0` is value-identical to the
  * original predicate (both are null iff an input is null; -1 only
  * stands for "above threshold", never a real distance). Measured on the
  * q71 candidate pairs (588k 30-char comparisons at sf0.1) the banded
  * form is ~2× cheaper; the gap widens with string length and smaller k.
  *
  * This is the engine's one custom `Rule[LogicalPlan]`: a rewrite whose
  * profitability Catalyst cannot know (it requires the -1 contract of
  * the threshold variant), applied where users naturally write the
  * predicate — filters, join residuals, CASE arms. The queries that ship
  * in this repo write the banded form explicitly (they cannot assume the
  * driver's session carries extensions); the rule makes the fast form
  * automatic for sessions built with [[GraftExtensions]]: every
  * [[graft.core.Sessions]] session, or any session whose
  * `spark.sql.extensions` conf names `graft.plans.GraftExtensions`.
  */
object BandedLevenshteinRule extends Rule[LogicalPlan] {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(k: Int, IntegerType) => Some(k)
      case _ => None
    }
  }

  private def banded(l: Expression, r: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(l, r, Some(Literal(k))), Literal(0))

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // lev(l,r) <= k  /  k >= lev(l,r)
    case LessThanOrEqual(Levenshtein(l, r, None), IntLit(k)) if k >= 0 => banded(l, r, k)
    case GreaterThanOrEqual(IntLit(k), Levenshtein(l, r, None)) if k >= 0 => banded(l, r, k)
    // lev(l,r) < k  /  k > lev(l,r)   (k >= 1: distance is never negative)
    case LessThan(Levenshtein(l, r, None), IntLit(k)) if k >= 1 => banded(l, r, k - 1)
    case GreaterThan(IntLit(k), Levenshtein(l, r, None)) if k >= 1 => banded(l, r, k - 1)
  }
}

/** Session-extension entry point (`spark.sql.extensions`) — registers
  * the WHOLE engine: the optimizer rule, the as-of planner strategy,
  * and (by composing [[graft.functions.GraftExtensions]]) every native
  * function, so one configuration line is sufficient. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BandedLevenshteinRule)
    // Sessions built WITH extensions get the as-of strategy from birth;
    // AsOf.joinBackward/joinForward still self-inject on already-built
    // sessions (the driver's case) via experimental.extraStrategies.
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // txlog catalog reads by name: the relation a path read builds.
    // Injected before the DML rule, so a MERGE source is converted
    // before the statement becomes a command
    e.injectResolutionRule(s => new TxLogReadRule(s))
    // SQL DML (DELETE/UPDATE/MERGE) over txlog catalog tables — must be
    // a RESOLUTION rule so it converts the statements before the
    // built-in row-level rewrite rules reject the table (Delta's shape).
    e.injectResolutionRule(s => new TxLogDmlRule(s))
    // streams by name (change feed or not) onto the DSv1 txlog source
    e.injectResolutionRule(s => new TxLogStreamRule(s))
    // txlog.`/path` relations for SELECT and DML — must run in the
    // HINT batch, before ResolveSQLOnFile refuses the non-file provider
    e.injectHintResolutionRule(s => new TxLogPathRule(s))
    // CDF as SQL: SELECT * FROM table_changes('lake.t', v1[, v2])
    e.injectTableFunction(TableChanges.fn)
    // lakehouse maintenance statements (OPTIMIZE/VACUUM/DESCRIBE
    // HISTORY) — regex-gated; everything else delegates verbatim
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    new graft.functions.GraftExtensions().apply(e)
  }
}
