package org.apache.spark.graft

import org.apache.spark.{OneToOneDependency, SparkEnv}
import org.apache.spark.rdd.{ParallelCollectionRDD, RDD}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** What the block manager stores, read through Spark-private APIs. A
  * spec that counts the frames a loop leaves behind asks the block
  * manager: `SparkContext.getPersistentRDDs` holds its RDDs weakly, so a
  * frame the loop never released but the JVM already collected drops
  * out of it while its blocks stay stored.
  */
object StoredBlocks {
  /** Stored RDD blocks per RDD id, on every executor. */
  def rddBlocks(): Map[Int, Int] = {
    val master = SparkEnv.get.blockManager.master
    master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Whether `rdd` is a driver-built collection: a parallelized local
    * sequence under narrow maps only, stored nowhere.
    */
  def driverBuilt(rdd: RDD[_]): Boolean = rdd match {
    case _: ParallelCollectionRDD[_] => true
    case r => r.getStorageLevel == StorageLevel.NONE && (r.dependencies match {
      case Seq(d: OneToOneDependency[_]) => driverBuilt(d.rdd)
      case _ => false
    })
  }
}
