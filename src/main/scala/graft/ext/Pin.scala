package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Every eager materialization in graft: the iterative tier's per-round
  * state (SuffixDedup's prefix-doubling, connected components, k-core
  * peel, PageRank/HITS, BPE merges, k-means/k-center passes, greedy MMR)
  * and the one-shot pins of a relation several consumers read. One
  * switch between the two Spark checkpoint postures, decided by the
  * SparkContext's own checkpoint directory:
  *
  *   - DEFAULT (no checkpoint directory): eager `localCheckpoint` —
  *     blocks live on executor storage, zero distributed-FS traffic, the
  *     right call for bench parity and any single-JVM run. NON-RESILIENT:
  *     lineage is truncated, so losing an executor loses blocks nothing
  *     can recompute and the job dies.
  *   - RELIABLE (`spark.checkpoint.dir` set at context start, or
  *     `SparkContext.setCheckpointDir` called, with an HDFS/object-store
  *     path): eager `checkpoint()` through that directory — each round's
  *     state survives executor loss, which is what a multi-hour 100 TB
  *     iterative job needs (a lost executor at round 40 of a
  *     prefix-doubling climb must not restart the whole climb).
  *
  * Both postures return a Dataset backed by the SAME leaf shape (a
  * `LogicalRDD` over the materialized rows), so downstream plans are
  * identical — [[PinSpec]] asserts results AND leaf class match across
  * the switch. The directory is read per call, so a context whose
  * directory is set mid-session pins reliably from the next call on.
  *
  * ==Checkpoint retention==
  * In reliable mode every round's `checkpoint()` writes a NEW file set
  * under the context's directory, and Spark never deletes a superseded
  * round's files on its own: `unpersist` is a storage-level no-op for a
  * `ReliableCheckpointRDD`, and the ContextCleaner only removes
  * checkpoint data when the (non-default)
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set AND
  * the checkpointed RDD is garbage-collected on the driver. A long
  * prefix-doubling climb therefore accumulates one superseded directory
  * per round for the job's lifetime — bounded by rounds (⌈log₂ λ*⌉ for
  * the suffix tier, tens not thousands), but real distributed-FS space.
  * For multi-hour jobs set `cleanCheckpoints=true` (rounds drop their
  * upstream references, so GC reclaims superseded rounds while the climb
  * runs), or point `spark.checkpoint.dir` at a job-scoped directory and
  * delete it after the job — the checkpoint data has no value once the
  * job ends.
  */
object Pin {

  /** Eagerly materializes `df` and cuts its lineage: reliably when the
    * SparkContext has a checkpoint directory, locally otherwise.
    */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Frees the storage blocks behind a pinned frame. `Dataset.unpersist`
    * is a no-op for checkpoint data (not a cacheManager entry) and
    * `Dataset.rdd` derives a NEW RDD, so the only handle on the
    * materialized blocks is the `LogicalRDD` leaf's backing RDD. Dropping
    * the reference works too, but only frees at the ContextCleaner's next
    * periodic GC — this releases a superseded round's blocks immediately.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => () // not a pinned leaf — nothing materialized to free
    }

  /** `df.pin()` — chain-position form of [[pin]]. */
  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = Pin.pin(df)
  }
}
