package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree — the reference's Deg_Program (src/apps/deg.h:32-52):
  * messenger ≡ 1, combiner = sum, one stationary superstep ⇒ a plain
  * count aggregation. No vertex-program machinery needed in Spark;
  * `groupBy(src).count()` with map-side partial aggregation is the
  * whole operator.
  */
object Degree {

  /** Out-degree per vertex from a raw edge table (src, dst[, w]).
    * Vertices with no out-edges are absent (join-time coalesce to 0 is
    * the caller's job — mirrors reference messenger's degree=0 guard,
    * pr.h:31-33). */
  def out(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))

  def in(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("vid")).agg(count(lit(1)).as("degree"))
}
