package graft.algos

import org.apache.spark.sql.DataFrame
import graft.graph._
import graft.graph.SpmvKernel.{KernelResult, compiled}

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
  *
  * `cache` is a tile-cache dir ([[SpmvKernel.compiled]]).
  */
object Traversal {

  def bfs(edges: DataFrame, root: Long, parts: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None,
          cache: Option[String] = None): KernelResult =
    compiled(edges, Shape.UndirectedNoSelf, parts, cache)(
      _.run(new BfsKernelProgram(root), maxIters = 0, ckpt = ckpt)).withLongs("parent", "hops")

  def sssp(edges: DataFrame, root: Long, parts: Int,
           ckpt: Option[graft.ckpt.CheckpointManager] = None,
           cache: Option[String] = None): KernelResult =
    compiled(edges, Shape.Raw, parts, cache)(
      _.run(new SsspKernelProgram(root), maxIters = 0, ckpt = ckpt))
}
