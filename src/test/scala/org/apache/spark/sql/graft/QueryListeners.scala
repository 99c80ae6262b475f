package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** Test access to the QueryExecutionListeners registered on a session —
  * the listing is `private[spark]`, hence this package. */
object QueryListeners {
  def of(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
