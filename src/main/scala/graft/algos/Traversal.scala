package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph._

/** BFS — reference BFS_Program (src/apps/bfs.h): nonstationary,
  * undirected load with self-loops dropped and parallel edges deduped
  * (bfs.cpp:26-30); messenger = own vid (bfs.h:52-54); combiner = min;
  * applicator visits an unvisited vertex at hops = iter+1 with
  * parent = min-vid frontier in-neighbor (bfs.h:65-77,
  * apply_depends_on_iter). Unvisited sentinel INF (bfs.h:12) becomes
  * SQL null here (cleaner than 2³¹−1 with Long vids).
  */
final class BfsProgram(root: Long) extends VertexProgram {
  val name = "bfs"
  val stationary = false

  def init(vertices: DataFrame): DataFrame =
    vertices.select(
      col("vid"),
      when(col("vid") === root, col("vid")).otherwise(lit(null).cast("long")).as("parent"),
      when(col("vid") === root, lit(0L)).otherwise(lit(null).cast("long")).as("hops"),
      (col("vid") === root).as("changed"))

  def message(state: DataFrame): Column = col("vid")

  def edgeCombine(msg: Column, w: Column): Column = msg

  def aggregate(v: Column): Column = min(v)

  def apply(joined: DataFrame, iter: Int): DataFrame = {
    val unvisited = col("hops").isNull
    val discovered = unvisited && col("y").isNotNull
    joined.select(
      col("vid"),
      when(discovered, col("y").cast("long")).otherwise(col("parent")).as("parent"),
      when(discovered, lit(iter + 1L)).otherwise(col("hops")).as("hops"),
      discovered.as("changed"))
  }
}

/** SSSP — reference SSSP_Program (src/apps/sssp.h): directed weighted
  * graph (sssp.cpp:35-38, Makefile:27-28 -DHAS_WEIGHT); messenger =
  * distance (sssp.h:45-47); combiner = min(y, msg + w) (sssp.h:49-52);
  * applicator relaxes distance, active iff it dropped (sssp.h:58-66).
  * The unweighted reference fallback (dist+1) is the w ≡ 1 special
  * case of the weighted path and needs no separate code.
  */
final class SsspProgram(root: Long) extends VertexProgram {
  val name = "sssp"
  val stationary = false

  def init(vertices: DataFrame): DataFrame =
    vertices.select(
      col("vid"),
      when(col("vid") === root, lit(0.0)).otherwise(lit(null).cast("double")).as("dist"),
      (col("vid") === root).as("changed"))

  def message(state: DataFrame): Column = col("dist")

  def edgeCombine(msg: Column, w: Column): Column = msg + w

  def aggregate(v: Column): Column = min(v)

  def apply(joined: DataFrame, iter: Int): DataFrame = {
    val newDist = when(col("dist").isNull, col("y"))
      .when(col("y").isNull, col("dist"))
      .otherwise(least(col("dist"), col("y")))
    joined.select(
      col("vid"),
      newDist.as("dist"),
      (newDist.isNotNull && (col("dist").isNull || newDist < col("dist"))).as("changed"))
  }
}

object Traversal {

  def bfs(edges: DataFrame, root: Long, parts: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): RunResult = {
    val und = GraphShaping.shape(edges,
      EdgeShaping.undirected(selfLoops = false))
    // BFS messages carry the parent vid; weight unused → compact layout
    val adj = Adjacency.build(und, parts, weighted = false)
    Engine.run(adj, new BfsProgram(root), RunConfig(maxIters = 0, ckpt = ckpt))
  }

  def sssp(edges: DataFrame, root: Long, parts: Int,
           ckpt: Option[graft.ckpt.CheckpointManager] = None): RunResult = {
    val adj = Adjacency.build(edges, parts)
    Engine.run(adj, new SsspProgram(root), RunConfig(maxIters = 0, ckpt = ckpt))
  }
}
