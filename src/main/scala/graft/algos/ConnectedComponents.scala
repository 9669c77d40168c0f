package graft.algos

import org.apache.spark.sql.DataFrame
import graft.graph._
import graft.graph.SpmvKernel.{KernelResult, onKernel}

/** Connected components = min-label propagation, the reference's
  * CC_Program (src/apps/cc.h) on the kernel's frontier mode
  * ([[CcKernelProgram]]): init label = vid (cc.h:33-36), messenger =
  * label (cc.h:38-40), combiner = min (cc.h:47-49), applicator keeps
  * the min and is active iff the label dropped (cc.h:51-55). Only
  * vertices whose label changed last superstep message (cc.cpp:41,
  * gather_depends_on_apply), so the frontier shrinks geometrically on
  * real graphs.
  */
object ConnectedComponents {

  /** The edges CC runs on: the UNDIRECTED closure of `edges`, self-loops
    * kept (the reference loads CC undirected, cc.cpp:26). */
  def shape(edges: DataFrame): DataFrame = GraphShaping.undirected(edges, selfLoops = true)

  /** Components of [[shape]]`(edges)`; returns state (vid, label: long,
    * changed) where label = min vid of the component — exact,
    * deterministic (north_rule: component assignments exact). */
  def run(edges: DataFrame, parts: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult =
    onKernel(shape(edges), parts)(_.run(new CcKernelProgram, maxIters = 0, ckpt = ckpt))
      .withLongs("label")
}
