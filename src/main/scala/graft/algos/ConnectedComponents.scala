package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph._

/** Connected components = min-label propagation, the reference's
  * CC_Program (src/apps/cc.h): init label = vid (cc.h:33-36),
  * messenger = label (cc.h:38-40), combiner = min (cc.h:47-49),
  * applicator keeps the min and is active iff the label dropped
  * (cc.h:51-55). Nonstationary: only vertices whose label changed last
  * superstep message (cc.cpp:41, gather_depends_on_apply) — the
  * frontier shrinks geometrically on real graphs, and the engine flips
  * the message side to a broadcast once it is small.
  *
  * The caller symmetrizes the edge table first (the reference loads CC
  * undirected, cc.cpp:26); run over a directed edge table this becomes
  * forward-closure min-label propagation instead.
  */
final class MinLabelProgram(val name: String) extends VertexProgram {
  val stationary = false

  def init(vertices: DataFrame): DataFrame =
    vertices.select(col("vid"), col("vid").as("label"), lit(true).as("changed"))

  def message(state: DataFrame): Column = col("label")

  // Unweighted 2-arg combiner (cc.h:47-49): weight is ignored.
  def edgeCombine(msg: Column, w: Column): Column = msg

  def aggregate(v: Column): Column = min(v)

  def apply(joined: DataFrame, iter: Int): DataFrame = {
    val newLabel = least(col("label"), coalesce(col("y"), col("label")))
    joined.select(
      col("vid"),
      newLabel.as("label"),
      (newLabel =!= col("label")).as("changed"))
  }
}

object ConnectedComponents {

  /** Components of the UNDIRECTED closure of `edges`; returns
    * (vid, label) where label = min vid of the component — exact,
    * deterministic (north_rule: component assignments exact). */
  def run(edges: DataFrame, parts: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): RunResult = {
    val und = GraphShaping.shape(edges,
      EdgeShaping.undirected(selfLoops = true))
    // min-label combine ignores weights → compact dst-only adjacency
    val adj = Adjacency.build(und, parts, weighted = false)
    Engine.run(adj, new MinLabelProgram("cc"), RunConfig(maxIters = 0, ckpt = ckpt))
  }
}
