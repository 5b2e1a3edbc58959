package graft.ml

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The featurizers' driver-side branch test. A Dataset whose optimized
  * plan is a `LocalRelation` (a `Seq(...).toDS()`, or a `toDF` under
  * projections, which Spark's ConvertToLocalRelation folds in, UDFs
  * included) already holds its rows in driver memory: collecting it runs
  * no job. Such an input is featurized on the driver; any other input
  * (a file read, a cached or joined frame) takes the distributed map.
  * The test is exact, so it needs no size estimate or threshold. */
object DriverRows {

  /** The input's rows if they are already on the driver, else None. */
  def of[T](ds: Dataset[T]): Option[Array[T]] =
    ds.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(ds.collect())
      case _ => None
    }
}
