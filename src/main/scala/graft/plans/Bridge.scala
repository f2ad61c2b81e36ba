package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; custom-expression
  * libraries conventionally expose it via a shim in the sql package
  * namespace. This is the only place graft reaches into Spark innards.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an RDD of Catalyst rows with the given schema —
    * lets an executor-side kernel (mapPartitions over
    * `queryExecution.toRdd`) hand its rows back to the planner
    * without a Row round trip. `internalCreateDataFrame` is
    * private[sql]. */
  def frame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Force-create the driver's StateStoreCoordinator RPC endpoint.
    * A streaming query registers it as a side effect of starting; a
    * BATCH transformWithState plan skips that path, and its executors
    * then die with RpcEndpointNotFoundException when the RocksDB store
    * loads. Touching the manager's lazy coordinator (private[sql],
    * hence this shim) is the supported initialization. */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.streams.asInstanceOf[org.apache.spark.sql.classic.StreamingQueryManager]
      .stateStoreCoordinator
    ()
  }

  /** The physical plan of a streaming query's LAST micro-batch — lets
    * a spec assert on the executed streaming plan shape (e.g. that a
    * stream-static band join broadcast the static side) the way
    * PlanSpec asserts on batch plans. The wrapper and its
    * StreamExecution are private[sql]. */
  def lastStreamingPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString

  /** Block until every queued SparkListener event has been delivered —
    * lets a spec assert synchronously that a code path launched (or,
    * for the rowHint no-hidden-scan contracts, did NOT launch) a job.
    * `listenerBus.waitUntilEmpty` is private[spark], hence this shim. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
