package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.CatalystSerde
import org.apache.spark.sql.execution.QueryExecution

/** A Dataset's objects (a DataFrame's rows) as an RDD of its plan prepared
  * WITHOUT adaptive execution. Turning an adaptive plan into an RDD runs
  * each of its exchanges' map stages as a job of its own; in the static
  * plan an exchange is a stage of the first job that consumes the RDD, and
  * every later job over the same RDD reuses its shuffle output. Only a
  * range exchange still runs its sample job when the RDD is created. Use
  * it for plans whose exchanges adaptive execution cannot improve (a fixed
  * partition count, no joins). Objects are decoded as `Dataset.rdd` decodes
  * them. Plan preparation is private[sql], so — like [[ColumnRefs]] — this
  * shim lives under the sql package only to reach it.
  */
object StaticRows {
  def of[T](ds: Dataset[T]): RDD[T] = {
    val d = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[T]]
    val session = d.sparkSession
    val enc = d.exprEnc
    val objectType = enc.deserializer.dataType
    session.withActive {
      val plan = session.sessionState.executePlan(CatalystSerde.deserialize(d.logicalPlan)(enc)).sparkPlan
      QueryExecution.prepareExecutedPlan(session, plan).execute()
        .map(_.get(0, objectType).asInstanceOf[T])(enc.clsTag)
    }
  }
}
