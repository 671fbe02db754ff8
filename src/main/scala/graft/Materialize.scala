package graft

import org.apache.spark.sql.DataFrame

/** Materialize a multi-consumer intermediate (sketch/signature/digest
  * frames read by a probe action AND the main plan; a merge batch read by
  * its scope collect AND its write) exactly once, so every consumer sees
  * the SAME evaluation — a non-deterministic input cannot split a
  * contract between two jobs.
  *
  * Local mode (tests, single-node runs) uses `localCheckpoint`: truncated
  * lineage, executor-local blocks — in one JVM there is no executor to
  * lose. On a CLUSTER, localCheckpoint blocks are unreplicated
  * executor-local storage with the lineage cut, so one executor loss
  * mid-job makes the stage unrecoverable; there the frame persists
  * MEMORY_AND_DISK with lineage INTACT — the first action populates the
  * cache while running the kernel once, later consumers read blocks, and
  * a lost block recomputes from lineage instead of failing the job.
  *
  * `eager = false` adds no job of its own: the caller's first action on
  * the returned frame fills the blocks while computing its own answer
  * (the checkpoint only runs a job for partitions that action left
  * uncached — none, for any action that reads the whole frame). Concurrent
  * first actions compute each partition once in local mode (the block
  * write lock serializes them); on a cluster two executors may each
  * compute it.
  *
  * Lifecycle note for LONG-LIVED cluster drivers: persisted frames stay
  * registered with the CacheManager until unpersisted (unlike
  * localCheckpoint RDDs, which the ContextCleaner reclaims once
  * unreferenced). A driver looping these operators over many corpora
  * should call `spark.catalog.clearCache()` between pipelines after the
  * results materialize — the same discipline `dropNearDuplicates`'
  * `persistInput` documents. */
private[graft] object Materialize {
  def once(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) df.localCheckpoint(eager)
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}
