package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** A session's UUID: a stable memo key that, unlike the session object,
  * does not keep a stopped session reachable. `sessionUUID` is private[sql]
  * in Spark 4, so — like [[ColumnRefs]] — this shim lives under the sql
  * package only to read it. The engine runs on the classic session (it
  * schedules RDDs), so the cast always holds. */
object SessionIds {
  def of(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
