package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Physical-plan instrumentation shared by the bench artifact and the plan
  * asserts (`Bench.stagedReadbackExchanges`, PipelineSpec).
  * One definition so "same traversal as the test assert" is true by
  * construction — a Spark upgrade that changes the AQE node shapes is
  * fixed here once, not in three drifting copies.
  */
object PlanOps {

  /** Shuffle-exchange count of `df`'s EXECUTED plan. Runs the query (and
    * discards the rows) first: under AQE the final plan — the one whose
    * exchanges were actually paid — exists only after execution.
    * Instrumentation for benches/tests on small frames, not a production
    * operator. */
  def executedShuffleExchanges(df: DataFrame): Int = {
    df.collect() // resolve the AQE final plan before traversing
    def rec(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
      case q: QueryStageExec => rec(q.plan)
      case x: ShuffleExchangeLike => 1 + x.children.map(rec).sum
      case o => o.children.map(rec).sum + o.subqueries.map(rec).sum
    }
    rec(df.queryExecution.executedPlan)
  }
}
