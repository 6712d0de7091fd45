package org.apache.spark

import org.apache.spark.rdd.RDD

/** The one `private[spark]` core seam the engine needs (same package
  * technique as [[org.apache.spark.sql.GraftSqlShim]]): dropping an
  * RDD's cached blocks without `RDD.unpersist`'s WARN for a locally
  * checkpointed RDD, which every checkpoint release would log. */
object GraftCoreShim {

  /** What `RDD.unpersist` does to the blocks and the persistence list
    * (`SparkContext.unpersistRDD`), without its log lines. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
