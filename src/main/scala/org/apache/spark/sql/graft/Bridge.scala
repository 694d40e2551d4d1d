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

  /** A clone of `spark` (`cloneSession` is `private[sql]`): a session of
    * its own whose conf, temp views and temp functions start as copies
    * of `spark`'s, so conf written to the clone never reaches `spark`.
    * `newSession()` would start from the builder's conf and drop the
    * caller's runtime confs, views and functions. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`, planned and run under
    * `spark`'s conf (`Dataset.ofRows` is `private[sql]`). */
  def rebind(df: org.apache.spark.sql.DataFrame,
             spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed)

  /** Takes `spark`'s streaming-event relay off the shared listener bus.
    * Every session whose `streams` manager exists keeps one relay there,
    * and Spark never removes it, so a session made per call would leave
    * one behind per call. After this, listeners added to `spark.streams`
    * hear nothing; listeners on the shared bus still hear its queries. */
  def detachStreams(spark: org.apache.spark.sql.SparkSession): Unit = {
    val relay = classOf[org.apache.spark.sql.classic.StreamingQueryManager]
      .getDeclaredField("listenerBus")
    relay.setAccessible(true)
    spark.sparkContext.listenerBus.removeListener(relay.get(spark.streams)
      .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }

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
