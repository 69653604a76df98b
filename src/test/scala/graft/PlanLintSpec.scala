package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, LambdaFunction, LeafExpression, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

import graft.operators.{Vectors, VectorsSqlTwins}

/** Registry-wide lint on optimized plans: no lambda body may hold a
  * costly subexpression that reads outer columns but no lambda
  * variable. Such a subexpression does not change from one element to
  * the next, yet the higher-order function evaluates it once per
  * element. The optimizer makes them: CollapseProject inlines a
  * projected column into the lambda that reads it, so an
  * `array(dot_0, ..., dot_59)` column read as `dots[p]` inside an
  * `aggregate` became 60 × 60 interpreted dot products per row.
  */
class PlanLintSpec extends SparkSpec {

  /** Cheap to re-evaluate: a column, a literal, or casts and aliases of
    * one. Anything else (a function call, an array or struct
    * constructor) costs work per evaluation. */
  private def cheap(e: Expression): Boolean = e match {
    case _: LeafExpression => true
    case Cast(child, _, _, _) => cheap(child)
    case Alias(child, _) => cheap(child)
    case _ => false
  }

  /** The costly loop-invariant subexpressions of `body`, outermost only. */
  private def invariants(body: Expression): Seq[Expression] =
    if (body.exists(_.isInstanceOf[NamedLambdaVariable])) body.children.flatMap(invariants)
    else if (body.exists(_.isInstanceOf[Attribute]) && !cheap(body)) Seq(body)
    else Nil

  /** The expressions of every plan node under `plan` and its subqueries.
    * A cached subtree is read from its InMemoryRelation's physical plan,
    * which holds the optimized expressions (the relation keeps the
    * analyzed logical plan only). */
  private def expressions(plan: LogicalPlan): Seq[Expression] =
    plan.collectWithSubqueries {
      case m: InMemoryRelation => physical(m.cacheBuilder.cachedPlan)
      case p => p.expressions
    }.flatten

  private def physical(plan: SparkPlan): Seq[Expression] =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => physical(a.inputPlan)
      case s: InMemoryTableScanExec => s.expressions ++ physical(s.relation.cacheBuilder.cachedPlan)
      case p => p.expressions
    }.flatten

  /** "lambda body <- invariant" for every finding in `df`'s optimized plan. */
  private def findings(df: DataFrame): Seq[String] =
    expressions(df.queryExecution.optimizedPlan).flatMap(_.collect {
      case f: LambdaFunction => invariants(f.function).map(e =>
        s"${f.function.sql.take(120)} <- ${e.sql.take(200)}")
    }.flatten).distinct

  test("the lint sees an invariant inlined into a lambda (the old signature)") {
    val old = graft.core.Caches.persist(VectorsSqlTwins.signedNFold(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), 16))
    try {
      val found = findings(old.select("vec_id", "sig"))
      assert(found.exists(_.contains("graft_dot")), found)
      assert(findings(Vectors.signed(spark.read.parquet(s"$sfDir/embeddings.parquet"))).isEmpty)
    } finally graft.core.Caches.release()
  }

  test("no registry query evaluates a loop-invariant subexpression per lambda step") {
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      try findings(build(spark, sfDir)).map(f => s"$name: $f")
      finally graft.core.Caches.release()
    }
    assert(flagged.isEmpty, flagged.mkString("\n", "\n", ""))
  }
}
