package org.apache.spark.perfbench

import org.apache.spark.scheduler.{SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.storage.{BlockManagerId, BlockUpdatedInfo, RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

import perfbench.ExecCounters

// In Spark's package: block ids and block-update events are built with
// package-private constructors.
class ExecCountersSpec extends AnyFunSuite {

  test("cache accounting: fills, peak, and release on unpersist") {
    val c = new ExecCounters(detailed = true)
    val bm = BlockManagerId("driver", "localhost", 1)
    def put(rdd: Int, split: Int, bytes: Long) = c.onBlockUpdated(SparkListenerBlockUpdated(
      BlockUpdatedInfo(bm, RDDBlockId(rdd, split),
        if (bytes > 0) StorageLevel.MEMORY_AND_DISK else StorageLevel.NONE, bytes, 0L)))
    put(1, 0, 100); put(1, 1, 50); put(2, 0, 30)
    assert(c.snapshot().peakCachedBytes == 180)
    c.onUnpersistRDD(SparkListenerUnpersistRDD(1))
    c.startWindow()
    assert(c.snapshot().peakCachedBytes == 30)
    put(2, 0, 0)
    put(3, 0, 10)
    val s = c.snapshot()
    assert(s.peakCachedBytes == 30 && s.fills == 4 && s.fillBytes == 190)
  }

}
