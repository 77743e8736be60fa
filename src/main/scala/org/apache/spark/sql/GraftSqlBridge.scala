package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Column <-> Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`). The standard
  * technique for Spark extension libraries that define native Catalyst
  * expressions: the bytecode is public, only the Scala signature is
  * package-private, so a one-file shim inside the package restores
  * access without reflection. The same holds for the `private[spark]`
  * listener bus and shutdown-hook manager below. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a Connect-client session over an explicitly configured
    * [[org.apache.spark.sql.connect.client.SparkConnectClient]] (e.g.
    * a fail-fast retry policy for fault detection) — `Builder.client`
    * is `private[sql]`, same shim rationale as above. */
  def connectSession(client: org.apache.spark.sql.connect.client.SparkConnectClient)
      : org.apache.spark.sql.connect.SparkSession =
    org.apache.spark.sql.connect.SparkSession.builder().client(client).create()

  /** Block until every listener has been handed every event posted so
    * far (`SparkContext.listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Have Spark's own shutdown hook delete `dir`; it runs after the
    * SparkContext's (`ShutdownHookManager` is `private[spark]`). */
  def deleteOnShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
