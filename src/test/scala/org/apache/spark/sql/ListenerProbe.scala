package org.apache.spark.sql

/** How many listeners a session has: (context listener bus, query execution
  * listeners). Both lists are `private[spark]`, hence this package.
  */
object ListenerProbe {
  def count(spark: SparkSession): (Int, Int) =
    (spark.sparkContext.listenerBus.listeners.size,
      spark.listenerManager.listListeners().length)
}
