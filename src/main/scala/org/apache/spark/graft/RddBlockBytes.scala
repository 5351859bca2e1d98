package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Memory + disk bytes of the cached blocks of each RDD in `ids`, as the
  * block manager master records them. Executors report every stored
  * block to the master synchronously, so the figure is complete as soon
  * as the job that stored the blocks has ended; the public
  * `SparkContext.getRDDStorageInfo` reads the status store instead,
  * which the asynchronous listener bus fills and which can lag behind.
  * The master is `private[spark]`; this accessor lives in Spark's
  * package for that reason only.
  */
object RddBlockBytes {
  def apply(sc: SparkContext, ids: Set[Int]): Map[Int, Long] =
    sc.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.toSeq.collect {
        case (RDDBlockId(id, _), s) if ids(id) => id -> (s.memSize + s.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(_ + _)
}
