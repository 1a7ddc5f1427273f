package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Reaches two members Spark keeps private to its own packages. */
object GraftShim {

  /** A frame of a logical plan built by hand, such as
    * [[graft.plans.BoundStage]]. */
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  /** `rdd.mapPartitionsWithIndex` as Spark's own operators call it: the
    * function is not run through the closure cleaner, which would
    * serialize it once more on the driver for every job. */
  def mapPartitionsWithIndexInternal[T, U: ClassTag](rdd: RDD[T])
                                                    (f: (Int, Iterator[T]) => Iterator[U]): RDD[U] =
    rdd.mapPartitionsWithIndexInternal(f)
}
