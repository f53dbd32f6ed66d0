package org.apache.spark

/** Bridge into `private[spark]` block freeing for `graft.Bench`. */
object RddBlocks {

  /** Unpersists every persistent RDD of `sc`, without blocking.
    * `RDD.unpersist` logs a warning for each locally checkpointed RDD
    * (its lineage is truncated, so it cannot be recomputed); a reset
    * frees those blocks on purpose, so they are removed through the
    * context directly, the way `RDD.unpersist` removes them. */
  def unpersistAll(sc: SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach { rdd =>
      if (rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
        sc.unpersistRDD(rdd.id, blocking = false)
      else rdd.unpersist(blocking = false)
    }
}
