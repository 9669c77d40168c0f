package graft.algos

import org.apache.spark.sql.DataFrame
import graft.graph._
import graft.graph.SpmvKernel.{KernelResult, onKernel}

/** BFS and SSSP on the kernel's frontier mode.
  *
  *  - BFS — reference BFS_Program (src/apps/bfs.h, [[BfsKernelProgram]]):
  *    undirected load with self-loops dropped and parallel edges deduped
  *    (bfs.cpp:26-30); an unvisited vertex is discovered at
  *    hops = iter+1 with parent = min-vid frontier in-neighbor
  *    (bfs.h:65-77). State (vid, parent: long, hops: long, changed);
  *    null = unvisited (the reference's INF sentinel, bfs.h:12).
  *  - SSSP — reference SSSP_Program (src/apps/sssp.h,
  *    [[SsspKernelProgram]]): directed weighted graph (sssp.cpp:35-38,
  *    -DHAS_WEIGHT); relax min(y, msg + w) (sssp.h:49-52), active iff
  *    the distance dropped (sssp.h:58-66). Without a `w` column the
  *    relax is msg + 1, the reference's unweighted fallback. State
  *    (vid, dist, changed); null = unreached.
  */
object Traversal {

  /** The edges BFS runs on (bfs.cpp:26-30). */
  def bfsShape(edges: DataFrame): DataFrame = GraphShaping.undirected(edges, selfLoops = false)

  def bfs(edges: DataFrame, root: Long, parts: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult =
    onKernel(bfsShape(edges), parts)(_.run(new BfsKernelProgram(root), maxIters = 0, ckpt = ckpt))
      .withLongs("parent", "hops")

  def sssp(edges: DataFrame, root: Long, parts: Int,
           ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult =
    onKernel(edges, parts)(_.run(new SsspKernelProgram(root), maxIters = 0, ckpt = ckpt))
}
