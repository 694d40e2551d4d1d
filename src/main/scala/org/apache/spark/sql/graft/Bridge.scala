package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Expression↔Column bridge `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); custom Catalyst
  * expressions still need it. This shim lives under the sql package tree
  * to re-export the two conversions — the standard pattern for Spark
  * extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Frees the cached blocks behind a `localCheckpoint`ed frame once no
    * future computation reads it (iterative algorithms otherwise pin
    * O(rounds) copies of their state for the JVM's life). The blocks ARE
    * the data — lineage is truncated — so callers must only drop a
    * checkpoint whose every downstream consumer has already materialized.
    * Returns false (no-op) if the frame is not a checkpoint root — pass the
    * checkpointed frame ITSELF, not a wrapper built on it (any select/cache
    * layer above the LogicalRDD hides the root and nothing is evicted) —
    * or if the frame is not a classic (local-JVM) Dataset at all (a
    * Connect proxy has no reachable RDD to unpersist). */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df match {
      case ds: org.apache.spark.sql.classic.Dataset[_] =>
        ds.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false); true
          case _ => false
        }
      case _ => false
    }

  /** Blocks until every event posted so far has reached every listener
    * (the listener bus is `private[spark]`). */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Temp-function registration on a live session (the FunctionRegistry is
    * `private[sql]` too). For build-time registration prefer
    * `graft.functions.GraftExtensions` via spark.sql.extensions. */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
                           name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
