package org.apache.spark.sql

import org.apache.spark.sql.catalyst.{QueryPlanningTracker, QueryPlanningTrackerCallback}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** spark.sql(q) with a planning tracker whose callback reports, in
  * System.nanoTime, when analysis of the statement has ended. The variant
  * of `sql` that takes a tracker is `private[sql]`.
  */
object PerfbenchSql {
  def sql(spark: SparkSession, q: String, analyzedAt: Long => Unit): DataFrame = {
    val cb = new QueryPlanningTrackerCallback {
      def analyzed(t: QueryPlanningTracker, p: LogicalPlan): Unit =
        analyzedAt(System.nanoTime)
      def readyForExecution(t: QueryPlanningTracker): Unit = ()
    }
    spark.asInstanceOf[classic.SparkSession]
      .sql(q, Map.empty[String, Any], new QueryPlanningTracker(Some(cb)))
  }
}
