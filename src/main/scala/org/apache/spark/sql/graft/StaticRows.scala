package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution

/** A DataFrame's rows as an RDD of its plan prepared WITHOUT adaptive
  * execution. Turning an adaptive plan into an RDD runs each of its
  * exchanges' map stages as a job of its own; in the static plan an
  * exchange is a stage of the first job that consumes the RDD, and every
  * later job over the same RDD reuses its shuffle output. Only a range
  * exchange still runs its sample job when the RDD is created. Use it for
  * plans whose exchanges adaptive execution cannot improve (a fixed
  * partition count, no joins). Plan preparation is private[sql], so — like
  * [[ColumnRefs]] — this shim lives under the sql package only to reach it.
  */
object StaticRows {
  def of(df: DataFrame): RDD[Row] = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = df.schema
    session.withActive {
      QueryExecution.prepareExecutedPlan(session, df.queryExecution.sparkPlan).execute()
        .mapPartitions { it =>
          val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          it.map(r => toRow(r).asInstanceOf[Row])
        }
    }
  }
}
