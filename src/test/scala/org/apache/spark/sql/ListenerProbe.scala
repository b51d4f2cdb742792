package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.util.QueryExecutionListener

/** Test access to what is registered on a session's listener buses. */
object ListenerProbe {
  def sparkListeners(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  def queryListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
