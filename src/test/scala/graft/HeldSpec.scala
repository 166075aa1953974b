package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel
import graft.util.Held

class HeldSpec extends AnyFunSuite with SparkTestBase {

  private val key = "held-spec"

  test("a key holds at most 64 frames: the oldest is unpersisted past the bound") {
    val dfs = (1 to 65).map(n => Held.frames.keep(key, spark.range(n.toLong).toDF()))
    try {
      assert(dfs.head.storageLevel == StorageLevel.NONE, "oldest frame still persisted")
      assert(dfs.tail.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
      assert(Held.frames(key).size == 64)
    } finally Held.frames.release(key)
    assert(dfs.forall(_.storageLevel == StorageLevel.NONE))
    assert(Held.frames(key).isEmpty)
  }
}
