package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-time edge-shaping flags, mirroring the reference loader's
  * per-edge semantics (reference: src/mat/graph.hpp:41-43, applied in
  * parread_text/parread_binary at graph.hpp:266-285, 337-356) —
  * re-expressed as declarative Dataset transforms so Catalyst can fuse
  * them into the scan projection.
  *
  *  - selfLoops=false  → drop src==dst            (graph.hpp:266-270)
  *  - directed=false   → insert both (u,v),(v,u)  (graph.hpp:281-285)
  *  - parallelEdges=false → dedup (src,dst)       (src/mat/matrix.hpp:544-556)
  */
final case class EdgeShaping(
    selfLoops: Boolean = true,
    directed: Boolean = true,
    parallelEdges: Boolean = true)

object GraphShaping {

  /** Apply shaping flags to an edge DataFrame with columns
    * (src: long, dst: long[, w]). Order matches the reference loader:
    * self-loop filter → undirected double insert; dedup last (reference
    * does it per-tile after distribute).
    */
  def shape(edges: DataFrame, f: EdgeShaping): DataFrame = {
    val hasW = edges.columns.contains("w")
    val base = if (hasW) edges.select("src", "dst", "w")
               else edges.select(col("src"), col("dst"), lit(1.0).as("w"))

    var e = base
    if (!f.selfLoops) e = e.filter(col("src") =!= col("dst"))
    if (!f.directed)
      e = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    if (!f.parallelEdges) e = e.dropDuplicates("src", "dst")
    e
  }

  /** The undirected, parallel-edge-deduped closure the reference loads
    * for CC, BFS and LPA (graph.hpp:266-285), self-loops kept or
    * dropped, without the unit weight column the kernel's unweighted
    * programs ignore. */
  def undirected(edges: DataFrame, selfLoops: Boolean): DataFrame =
    shape(edges, EdgeShaping(selfLoops = selfLoops, directed = false, parallelEdges = false))
      .select("src", "dst")
}
