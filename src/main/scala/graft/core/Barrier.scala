package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode

/** Materialization barrier for an operator that runs eager side jobs over
  * a frame or reads it more than once: the frame is computed once, and
  * every later reference scans the stored blocks instead of replanning and
  * re-running the upstream (a lazy `persist` keeps the upstream plan).
  * Trade-off: the blocks are local checkpoints, NOT recomputable; if an
  * executor holding them is lost, the job reading them fails — re-run the
  * job to recover.
  */
object Barrier {
  /** Eagerly compute `df` once; the result has the same schema and rows.
    * A frame whose plan is already a leaf (a file or table scan, a
    * checkpoint, a cached or local relation) is returned as is: reading it
    * again re-runs no upstream, and a scan keeps its column pruning. */
  def materialize(df: DataFrame): DataFrame =
    if (df.queryExecution.withCachedData.isInstanceOf[LeafNode]) df
    else df.localCheckpoint(eager = true)
}
