package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OperatorCaches

class OperatorCachesSpec extends AnyFunSuite {
  import TestSpark._

  test("track caches and registers a frame once, however often it is tracked") {
    OperatorCaches.releaseAll(blocking = true)
    val df = spark.range(7).selectExpr("id * 3 AS x")
    OperatorCaches.track(df)
    OperatorCaches.track(df)
    // a second frame over the same plan is the same cache
    OperatorCaches.track(spark.range(7).selectExpr("id * 3 AS x"))
    assert(OperatorCaches.trackedCount == 1)
    assert(df.storageLevel != StorageLevel.NONE)
    OperatorCaches.releaseAll(blocking = true)
    assert(OperatorCaches.trackedCount == 0)
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
