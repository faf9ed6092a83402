package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for short-lived persisted DataFrames (VERDICT.md r2 "cache
  * hygiene"): operators that persist intermediate tables referenced by
  * multiple plan branches (shingle sets, minhash signatures) register them
  * here, and the harness mains ([[Verify]], [[Bench]]) call
  * [[clearPersisted]] after materializing each query — so a long-lived
  * session (or a 57-query bench run) does not accumulate persisted RDDs.
  *
  * Unpersisting is always SAFE, never wrong: a cleared table is lazily
  * recomputed if a later plan still references it.
  */
object Caches {
  private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[clearPersisted]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p
  }

  /** Unpersist (non-blocking) and forget every tracked DataFrame. */
  def clearPersisted(): Unit = synchronized {
    persisted.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    pinnedRdds.foreach(r => try r.unpersist(false) catch { case _: Throwable => () })
    persisted.clear()
    pinnedRdds.clear()
  }

  private val pinnedRdds =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** PIN iteration state: eager `localCheckpoint` + a lineage-free
    * `createDataFrame(rdd, schema)` wrapper (the louvainFullRun /
    * spectral-fiedler pattern, centralized in r18) — so a loop that
    * takes driver actions per round never re-analyzes a growing plan.
    * Unlike the in-loop `unpersistCheckpoint` hygiene, the checkpoint
    * RDD is REGISTERED here, so pins that the returned (lazy) plan
    * still references are freed by the harness's per-query
    * [[clearPersisted]] instead of leaking one RDD per rep.
    */
  def pinned(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    register(cp)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Track a checkpointed frame's storage for [[clearPersisted]]: the
    * PERSISTED rdd is inside cp's LogicalRDD plan nodes (`cp.rdd` would be
    * a fresh deserializing wrapper whose unpersist is a no-op). When the
    * plan is not a bare LogicalRDD, `cp` itself is registered too, so a
    * frame persisted any other way is still freed rather than leaked.
    */
  private[graft] def register(cp: DataFrame): Unit = synchronized {
    val plan = org.apache.spark.sql.graftshim.ColumnShim.logicalPlan(cp)
    pinnedRdds ++= plan.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
    if (!plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) persisted += cp
  }
}
