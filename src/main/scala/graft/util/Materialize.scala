package graft.util

import org.apache.spark.sql.Dataset

/** Row-block materialization with a cluster-safe fault-tolerance
  * toggle — the one place the engine decides HOW a multiply-read
  * narrow frame is pinned.
  *
  * The perf rule (measured, OPTIMIZATION_r21.md "central finding"):
  * narrow frames read several times downstream materialize as eager
  * row-block checkpoints, because the columnar `persist()` cache's
  * InMemoryRelation decode makes reuse reads 3.5–6× slower than
  * checkpoint block reads (wide column-pruned frames keep `persist()`
  * — the profiler input is the counter-measured case).
  *
  * The fault-tolerance rule (this helper's reason to exist):
  * `localCheckpoint` truncates lineage to executor-local blocks — on a
  * cluster, an executor lost during the read window fails the job
  * instead of recomputing. `reliable = true` materializes through
  * `Dataset.checkpoint` into the session's checkpoint dir instead:
  * same eager cut, blocks survive executor loss. A configured dir
  * alone never selects it. Results are identical in both modes — only
  * the storage of the cut changes; MaterializeSpec pins that
  * equivalence.
  *
  * Block lifetime: local blocks free when the ContextCleaner GCs the
  * unreferenced RDD (driver periodic GC, default 30 min). Reliable
  * checkpoint files stay on disk until the caller deletes them, unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — hence
  * explicit request only. An operator needing deterministic release on
  * a precise scope keeps persist + unpersist instead (SkewJoin
  * documents that choice).
  */
object Materialize {

  /** Eagerly materialize `ds` as row blocks and truncate its lineage:
    * local executor blocks, or reliable-checkpoint files when
    * `reliable` (which requires a checkpoint dir). */
  def rowBlocks[T](ds: Dataset[T], reliable: Boolean = false): Dataset[T] =
    if (reliable) {
      require(ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "Materialize.rowBlocks(reliable = true) requires SparkContext.setCheckpointDir")
      ds.checkpoint(eager = true)
    } else ds.localCheckpoint(eager = true)
}
