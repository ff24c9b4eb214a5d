package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.internal.{SessionState, SharedState}

/** Test-only accessor for Spark SQL internals: EngineSpec needs a session
  * of the shared context built without any extension, which no builder
  * makes once the context's `spark.sql.extensions` is set. The session's
  * primary constructor is Scala-private (public in bytecode), so it is
  * called by reflection.
  */
object GraftSqlTestBridge {
  def sessionWithoutExtensions(s: SparkSession): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getConstructor(classOf[SparkContext], classOf[Option[SharedState]],
        classOf[Option[SessionState]], classOf[SparkSessionExtensions],
        classOf[Map[String, String]], classOf[Map[String, String]])
      .newInstance(c.sparkContext, Some(c.sharedState), None, new SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
  }
}
