package graft

import graft.core.MapReduce
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan shape of the map/reduce registry. Token rows are the largest frame
  * a job sees, so the stage that reads them must shrink them with a
  * codegen'd hash aggregate. An object hash aggregate there falls back to
  * sorting past 128 keys, and a sort aggregate sorts every token row. */
class MapReduceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val corpus: DataFrame = Seq(
    ("a.txt", "the cat sat on the mat"),
    ("b.txt", "the dog. The DOG!"),
    ("c.txt", "cat-alog entry_1")
  ).toDF("source", "text")

  test("every registry pair pre-aggregates token rows with a HashAggregate below the first shuffle") {
    for (m <- MapReduce.mapperNames.toSeq.sorted; r <- MapReduce.reducerNames.toSeq.sorted) {
      val plan = MapReduceSpec.finalPlan(MapReduce.run(corpus, m, r))
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      val lowest = exchanges.filter(e => collect(e.child) { case x: ShuffleExchangeExec => x }.isEmpty)
      assert(lowest.nonEmpty, s"($m, $r): no exchange\n$plan")
      lowest.foreach { e =>
        val slow = collect(e.child) {
          case a: ObjectHashAggregateExec => a
          case a: SortAggregateExec => a
        }
        assert(slow.isEmpty,
          s"($m, $r) aggregates token rows with ${slow.map(_.nodeName).mkString(", ")}\n$plan")
        val partial = collect(e.child) {
          case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
        }
        assert(partial.nonEmpty, s"($m, $r): no partial HashAggregate below the first shuffle\n$plan")
      }
    }
  }
}

object MapReduceSpec {

  /** Runs `df` and returns its final (post-AQE) physical plan. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
}
