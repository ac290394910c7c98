package org.apache.spark

/** Release a persisted RDD's blocks by id — the scheduler-side half of
  * `RDD.unpersist`, which Spark keeps package-private. `RDD.unpersist`
  * on a locally checkpointed RDD also logs a warning that its lineage
  * is truncated; a caller releasing checkpoints it created and will
  * never read again gets nothing from that line per RDD. Same
  * package-placement trick as `GraftColumnBridge`, one delegation. */
object GraftRddRelease {
  def apply(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
