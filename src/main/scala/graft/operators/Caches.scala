package graft.operators

import org.apache.spark.sql.SparkSession

/** The between-query release. Operators leave no Dataset cache: every
  * intermediate they materialize is a [[Par.pin]], and the pins' blocks
  * are dropped here, so they do not pile up across a run of queries. A
  * caller that caches its own frames is cleared too. Verify, Bench and the
  * benchmark call it after each query is consumed, never while one runs.
  */
object Caches {

  /** Drop every pin (see [[Par.release]]) and every cached Dataset in the
    * session.
    */
  def release(spark: SparkSession): Unit = {
    Par.release(spark)
    spark.catalog.clearCache()
  }
}
