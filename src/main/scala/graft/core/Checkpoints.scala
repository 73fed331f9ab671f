package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Explicit release of `localCheckpoint` storage.
  *
  * A localCheckpoint'd Dataset is a `LogicalRDD` over an RDD persisted in
  * the block manager — `Dataset.unpersist` does NOT touch it (that only
  * clears CacheManager entries from `.cache()`), so checkpoint blocks
  * normally live until a driver GC lets the ContextCleaner collect the RDD
  * reference. On a large driver heap a full GC may never happen mid-run,
  * and iterative operators that checkpoint per call (dupClusters, the
  * quality-classifier trainer, PageRank) accumulate dead blocks that
  * squeeze unified memory. Operators call [[release]] the moment a
  * checkpoint is provably dead (the value they return no longer references
  * it) instead of waiting for GC.
  */
object Checkpoints {

  /** Reliable-checkpoint opt-in for cluster deployments (r20, VERDICT r19
    * #10 / ADVICE): `localCheckpoint` stores blocks on executors with
    * lineage truncated — per-call state that is recomputed on every
    * invocation and never crosses runs, but on a REAL cluster an executor
    * loss mid-query fails the job instead of recomputing, and the blocks
    * pin executor memory/disk until released. Setting
    * `SPARK_GRAFT_CHECKPOINT_DIR` routes every operator-internal
    * materialization through `Dataset.checkpoint` into that (HDFS/object
    * store) directory instead: slower per call, but partition loss is
    * recoverable from storage. Unset (the default, and the bench posture)
    * nothing changes.
    */
  private val reliableDir: Option[String] = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")

  /** `df.materialize(eager)` — the engine-wide spelling of "cut lineage and
    * materialize this per-call intermediate": `localCheckpoint(eager)` by
    * default, `checkpoint(eager)` into `SPARK_GRAFT_CHECKPOINT_DIR` when the
    * deployment opts into reliable checkpoints.
    */
  implicit class MaterializeSyntax[T](private val ds: Dataset[T]) {
    def materialize(eager: Boolean): Dataset[T] = materializeIn(ds, eager, reliableDir)
  }

  /** `materialize` with the reliable-checkpoint directory given: `None` is
    * a local checkpoint, `Some(dir)` a reliable one under `dir` (unless the
    * context already has a checkpoint directory, which is then kept).
    */
  private[graft] def materializeIn[T](ds: Dataset[T], eager: Boolean,
                                      dir: Option[String]): Dataset[T] = dir match {
    case Some(d) =>
      val sc = ds.sparkSession.sparkContext
      // two threads (Concurrent.both) may materialize at once
      synchronized { if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d) }
      ds.checkpoint(eager)
    case None => ds.localCheckpoint(eager)
  }

  /** Materialize `ds` eagerly, hand it to `consume`, and release it once
    * `consume` returns — for a per-call intermediate that `consume` reads to
    * completion (what it returns must not reference the checkpoint).
    */
  def scoped[T, R](ds: Dataset[T])(consume: Dataset[T] => R): R = {
    val m = materializeIn(ds, eager = true, reliableDir)
    try consume(m) finally release(m)
  }

  /** Drop the storage behind a checkpoint'd Dataset: the block-manager
    * blocks of a local checkpoint, and the files of a reliable one —
    * `spark.cleaner.referenceTracking.cleanCheckpoints` cannot be set once
    * the context runs, so nothing else would ever delete them.
    * Safe ONLY when nothing will read `ds` (or a plan built on it) again —
    * a checkpoint cannot be recomputed once its storage is gone.
    * Returns false (no-op) when `ds` is not checkpoint-backed.
    */
  def release(ds: Dataset[_]): Boolean = ds.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
      lr.rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
      true
    case _ => false
  }
}
