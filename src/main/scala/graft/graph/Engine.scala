package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD

object Engine {

  /** Drop the checkpoint blocks behind a localCheckpoint'd (or
    * otherwise materialized-to-LogicalRDD) frame. Only safe once every
    * frame derived from it has been materialized — the lineage is
    * truncated, so the blocks are the only copy. The PUBLIC release
    * half of the materialize-then-release contract that kernel results
    * (SpmvKernel.CompiledGraph.run / pagerank / lpa) and the sketch
    * operators (Dedup.minhashCandidates / simhashCandidates,
    * Similarity.cosineNearDup) return their frames under: call
    * `Engine.release(result)` when done with the frame, so a
    * long-lived session never accumulates per-invocation block sets.
    * A projection of such a frame (the algos' results, whose id columns
    * KernelResult.withLongs casts to long) releases the frame beneath. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case Project(_, l: LogicalRDD) => l.rdd.unpersist(false)
      case _ => ()
    }
}
