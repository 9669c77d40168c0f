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
  *  - acyclic=true     → orient every edge low→high (graph.hpp:271-275)
  *  - transpose=true   → swap src/dst             (graph.hpp:276-278)
  *  - directed=false   → insert both (u,v),(v,u)  (graph.hpp:281-285)
  *  - parallelEdges=false → dedup (src,dst)       (src/mat/matrix.hpp:544-556)
  */
final case class EdgeShaping(
    selfLoops: Boolean = true,
    acyclic: Boolean = false,
    transpose: Boolean = false,
    directed: Boolean = true,
    parallelEdges: Boolean = true)

object EdgeShaping {

  /** The undirected, parallel-edge-deduped closure the reference loads
    * for CC, BFS and LPA (graph.hpp:266-285), self-loops kept or
    * dropped. */
  def undirected(selfLoops: Boolean): EdgeShaping =
    EdgeShaping(selfLoops = selfLoops, directed = false, parallelEdges = false)
}

object GraphShaping {

  /** Apply shaping flags to an edge DataFrame with columns
    * (src: long, dst: long[, w]). Order matches the reference loader:
    * self-loop filter → acyclic orient → transpose → undirected double
    * insert; dedup last (reference does it per-tile after distribute).
    */
  def shape(edges: DataFrame, f: EdgeShaping): DataFrame = {
    val hasW = edges.columns.contains("w")
    val base = if (hasW) edges.select("src", "dst", "w")
               else edges.select(col("src"), col("dst"), lit(1.0).as("w"))

    var e = base
    if (!f.selfLoops) e = e.filter(col("src") =!= col("dst"))
    if (f.acyclic)
      e = e.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("w"))
    if (f.transpose)
      e = e.select(col("dst").as("src"), col("src").as("dst"), col("w"))
    if (!f.directed)
      e = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    if (!f.parallelEdges) e = e.dropDuplicates("src", "dst")
    e
  }
}
