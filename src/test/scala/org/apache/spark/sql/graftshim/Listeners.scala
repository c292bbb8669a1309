package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Which listeners a session has registered, for specs that check a
  * listener leaves nothing behind.
  */
object Listeners {
  /** Whether `l` is on the session's listener bus or among its
    * query-execution listeners.
    */
  def registered(spark: SparkSession, l: AnyRef): Boolean =
    spark.sparkContext.listenerBus.listeners.asScala.exists(_ eq l) ||
      spark.listenerManager.listListeners().exists(_ eq l)
}
