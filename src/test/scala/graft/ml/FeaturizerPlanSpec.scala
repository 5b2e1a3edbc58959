package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec
import graft.tools.PlanAudit

/** Keeps both featurizers row-local: their executed plans hold no Window,
  * Aggregate, Generate or Join node, and the only Exchange is the
  * structure side's repartition. */
class FeaturizerPlanSpec extends SparkSpec {

  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanAudit.allNodes(df.queryExecution.executedPlan)
  }

  private def assertRowLocal(df: DataFrame, maxExchanges: Int): Unit = {
    val nodes = executedNodes(df)
    val fanOut = nodes.filter {
      case _: WindowExec | _: BaseAggregateExec | _: GenerateExec | _: BaseJoinExec => true
      case _ => false
    }
    assert(fanOut.isEmpty, s"fan-out nodes: ${fanOut.map(_.nodeName).mkString(", ")}")
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.size <= maxExchanges,
      s"${exchanges.size} exchanges: ${exchanges.map(_.simpleString(80)).mkString("; ")}")
  }

  test("composition featurizer: one narrow map, no exchange") {
    assertRowLocal(CompositionFeaturizer.featurize(spark,
      FeaturizerParitySpec.compositionFrame(spark), "id", "comp"), maxExchanges = 0)
  }

  test("structure featurizer: one narrow map after the repartition") {
    assertRowLocal(StructureFeaturizer.featurizeStructs(spark,
      FeaturizerParitySpec.structureSet(spark)), maxExchanges = 1)
  }
}
