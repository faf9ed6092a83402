package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Caches]] registration: whatever plan shape a checkpointed frame has,
  * [[Caches.clearPersisted]] frees what it holds.
  */
class CachesSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD ids `body` persisted. */
  private def persistedBy(body: => Unit): Set[Int] = {
    val before = persistentIds
    body
    persistentIds -- before
  }

  test("pinned frames' checkpoint RDDs are freed by clearPersisted") {
    val added = persistedBy(assert(Caches.pinned(spark.range(20).toDF("id")).count() == 20))
    assert(added.nonEmpty)
    Caches.clearPersisted()
    assert(persistentIds.intersect(added).isEmpty)
  }

  test("a checkpoint under a non-LogicalRDD plan is still registered and freed") {
    var cp: org.apache.spark.sql.DataFrame = null
    val added = persistedBy { cp = spark.range(30).toDF("id").localCheckpoint(true) }
    assert(added.nonEmpty)
    Caches.register(cp.withColumn("twice", col("id") * 2)) // a Project over the LogicalRDD
    Caches.clearPersisted()
    assert(persistentIds.intersect(added).isEmpty)
  }

  test("a frame with no checkpoint in its plan is registered itself and unpersisted") {
    val df = spark.range(40).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    assert(df.count() == 40)
    assert(df.storageLevel != StorageLevel.NONE)
    Caches.register(df)
    Caches.clearPersisted()
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
