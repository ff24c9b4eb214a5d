package graft.plans

import org.apache.spark.sql.{Dataset, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Generate, GlobalLimit, Join, LocalRelation, LogicalPlan, OneRowRelation, UnaryNode, Unpivot}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Plan GUARDRAILS — validation hooks for the mistakes that are merely
  * slow at test scale but fatal at 100 TB. First (and worst): the
  * accidental cartesian. A forgotten/mistyped join condition still runs
  * on local test data, then quadratically explodes in production. The
  * check walks the plan for cross joins and condition-less inner joins
  * and fails FAST — at plan time, not three hours into the job.
  *
  * Deliberately EXEMPT: joins whose one side is statically one row (a
  * scalar aggregate, a one-row local relation) — broadcasting corpus
  * constants (`crossJoin(broadcast(stats))`) is this engine's standard
  * idiom and is linear, not quadratic.
  *
  * Deliberately all-pairs operators (the exact brute-force scoring
  * baselines, e.g. [[graft.ops.Similarity.bruteForceTopK]]) are real
  * cartesians by intent — do not wrap them in the guard; the ANN
  * operators exist precisely so production paths never need them.
  *
  * Three routes to the same check:
  *  - programmatic: `Guardrails.assertNoCartesian(df)` before launch;
  *  - config: `spark.sql.extensions=graft.plans.GraftGuardrails` +
  *    `spark.graft.failOnCartesian=true` — injected as an analysis
  *    check rule, it vets every query of the session;
  *  - a session that already exists: [[arm]] adds the check as an
  *    optimizer rule, gated by the same flag.
  */
object Guardrails {

  val FlagKey = "spark.graft.failOnCartesian"

  /** The flag's value turns the check on — case-insensitive: a guardrail
    * must not fail OPEN on "True"/"TRUE".
    */
  private[plans] def enabled(flag: String): Boolean = flag.trim.equalsIgnoreCase("true")

  /** One statically-known row? (scalar aggregate, possibly under
    * projections/aliases/hints; literal relations of at most one row;
    * joins of two scalar sides). Row-MULTIPLYING unary operators
    * (explode/Generate, Expand, Unpivot) break the bound and stop the
    * recursion — a one-row child under an explode is not one row.
    */
  private def scalarSide(p: LogicalPlan): Boolean = p match {
    case a: Aggregate                         => a.groupingExpressions.isEmpty
    case l: LocalRelation                     => l.data.lengthCompare(1) <= 0
    case _: OneRowRelation                    => true
    // a literal LIMIT <= 1 statically bounds the side regardless of what
    // sits beneath it (`df.limit(1)` — the query-vector idiom)
    case g: GlobalLimit => g.limitExpr match {
      case Literal(n: Int, _) if n <= 1 => true
      case _                            => scalarSide(g.child)
    }
    case _: Generate | _: Expand | _: Unpivot => false
    case j: Join                              => scalarSide(j.left) && scalarSide(j.right)
    case u: UnaryNode                         => scalarSide(u.child)
    case _                                    => false
  }

  /** Throws `IllegalStateException` if `plan` contains a cross join or a
    * condition-less inner join between two multi-row sides. Subquery
    * expression plans are visited too — a cartesian hiding inside a
    * scalar subquery is just as quadratic.
    */
  def check(plan: LogicalPlan): Unit = plan.foreachWithSubqueries {
    case j: Join
        if (j.joinType == Cross || (j.joinType == Inner && j.condition.isEmpty))
          && !scalarSide(j.left) && !scalarSide(j.right) =>
      throw new IllegalStateException(
        "cartesian join between multi-row sides — quadratic at scale. " +
          "Add a join condition, or broadcast a one-row/scalar side. " +
          s"Offending join:\n$j")
    case _ => ()
  }

  /** Programmatic route: validate a frame's optimized plan (optimization
    * can surface a cartesian hidden behind a trivially-true condition).
    */
  def assertNoCartesian(df: Dataset[_]): Unit =
    check(df.queryExecution.optimizedPlan)

  /** [[check]] as an optimizer rule under the active session's flag; it
    * returns every plan unchanged.
    */
  private object CheckRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (enabled(SQLConf.get.getConfString(FlagKey, "false"))) check(plan)
      plan
    }
  }

  /** Arms the check on a session that exists already (extensions apply
    * only at session creation): adds it to `session.experimental`'s extra
    * optimizations, once, so `spark.graft.failOnCartesian` fails a
    * cartesian when the query is optimized. Idempotent. On a session that
    * has the extension too, the analysis check fails first.
    */
  def arm(session: SparkSession): Unit = session.experimental.synchronized {
    val x = session.experimental
    if (!x.extraOptimizations.contains(CheckRule))
      x.extraOptimizations = x.extraOptimizations :+ CheckRule
  }
}

/** `spark.sql.extensions` entry point: injects [[Guardrails.check]] as an
  * analysis check rule, gated by `spark.graft.failOnCartesian` (default
  * off) so one session config turns the guard on fleet-wide.
  */
class GraftGuardrails extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectCheckRule { session => plan =>
      if (Guardrails.enabled(session.conf.get(Guardrails.FlagKey, "false")))
        Guardrails.check(plan)
    }
}
