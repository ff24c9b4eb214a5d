package org.apache.spark

/** Test-only accessor for `private[spark]` internals (the same bridge play
  * as `org.apache.spark.sql.GraftSqlBridge` on the SQL side):
  * SessionHygieneSpec counts live broadcast blocks to pin the round-5
  * leak class at the resource level; TablesSchemaSpec waits for the
  * listener bus to deliver every posted event before reading a counter
  * fed by a `SparkListener`.
  */
object GraftSparkTestBridge {
  def broadcastBlockCount(sc: SparkContext): Int =
    SparkEnv.get.blockManager.master.getStorageStatus
      .map(_.blocks.keys.count(_.isBroadcast)).sum

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
