package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** Superseded-checkpoint rotation for iterative loops: each round's
  * eager checkpoint replaces the previous round's, so at most two
  * snapshots are ever live (on a 10^11-edge component graph, retaining
  * all ~15 rounds would pin 15 O(E) copies on the executors).
  *
  * Ownership rule: a checkpoint is owned through its own RDD handle,
  * the `LogicalRDD` leaf the checkpointed frame reads. A rotation
  * materializes the new checkpoint first, then unpersists the handle it
  * kept from the previous round — never anything it did not create, so
  * concurrent checkpoints elsewhere in the session are untouched. A
  * rotation's state is confined to the one loop that created it.
  */
final class CheckpointRotation {

  private var own: Option[RDD[_]] = None

  /** Eagerly checkpoint `df`, then release the previously rotated
    * checkpoint (if any). Returns the checkpointed frame. */
  def rotate(df: DataFrame): DataFrame = {
    val out = CheckpointRotation.checkpoint(df)
    release()
    own = out.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
    out
  }

  /** Release the currently retained checkpoint (end-of-loop cleanup for
    * callers that copy the final frame out of the rotation). */
  def release(): Unit = {
    own.foreach(_.unpersist(blocking = false))
    own = None
  }
}

object CheckpointRotation {
  /** The one eager stage barrier: materialize `df` now and return a
    * frame whose plan is a `LogicalRDD` leaf over the checkpointed
    * rows, cutting the lineage above it. A bare `LocalRelation` is
    * returned unchanged with no job run: it has no lineage to cut. */
  def checkpoint(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case _: LocalRelation => df
    case _ => df.localCheckpoint(true)
  }

  /** Suffix form of [[checkpoint]], via
    * `import graft.ops.CheckpointRotation.Ops`. */
  implicit final class Ops(private val df: DataFrame) extends AnyVal {
    /** [[checkpoint]] this frame: an eager `LogicalRDD` barrier, or the
      * frame itself when it is a bare `LocalRelation`. Takes no lock;
      * the name is kept for existing callers. */
    def lockedCheckpoint(): DataFrame = checkpoint(df)
  }
}
