package graft.graph

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import graft.ckpt.IterMetrics

/** The tile-compiled superstep loop — the library's one executor for
  * the vertex-program algorithms, over the full [[KernelProgram]]
  * (5-virtuals) contract with BOTH execution modes of the reference's
  * app family:
  *
  *  - STATIONARY SpMV (PR): every source row of every tile
  *    contributes every superstep (reference csc_spmv.hpp;
  *    vp:688-861);
  *  - NONSTATIONARY SpMSpV (CC, BFS, SSSP): only rows whose vertex
  *    changed last superstep contribute — the frontier rides a
  *    per-partition BITSET over state slots (the reference's activity
  *    bits XI/XV, vp:711-784; single-node tcsc_spmspv2.hpp:81-531),
  *    and each tile ships its accumulator SPARSE ([idx…][val…]) when
  *    that is smaller than the dense double array;
  *  - plus [[CompiledGraph.lpa]]: frequency LPA's mode combiner is a
  *    multiset, not a scalar monoid, so it brings its own pass pair
  *    (label-count triple exchange) to the same loop and tiles — the
  *    whole reference app family runs compiled.
  *
  * A Catalyst superstep would re-analyze, re-plan and re-launch an
  * identical job every iteration, and its generic hash aggregate pays
  * a DRAM-random probe per edge. This kernel is the reference's answer
  * re-expressed on Spark RDDs: GraphTap compiles
  * the matrix ONCE into per-tile compressed columns
  * (src/ds/compressed_column.hpp:63-1120, 2D tiling at
  * src/mat/matrix.hpp:271-368) and its superstep loop re-plans nothing
  * (src/vp/vertex_program.hpp:408-441). Here:
  *
  *  - `compile` partitions edges by hash(src) into P partitions, and
  *    inside each partition p builds one CSR TILE per destination
  *    partition q: source rows as state-slot indices, destinations as
  *    TILE-LOCAL dense indices (0..nDsts-1), weights optional. All
  *    indices int, all static, built once, cached.
  *  - each superstep is ONE two-stage RDD job, run by one driver
  *    loop for every algorithm; `run` and `lpa` differ only in the
  *    pass pair they hand it:
  *      stage 1 (scatter_gather+combine, vp:688-861): per tile, a
  *        tight primitive-array loop over the (active) source rows
  *        accumulates program.edgeCombine values into a DENSE per-tile
  *        accumulator — or, below 1/4 frontier-edge density, assembles
  *        the contributions sparsely without touching an nDsts-sized
  *        array at all. The tile result ships as a PACKED byte array;
  *        the shuffle carries ONLY doubles (+ ints when sparse) — the
  *        dst ids were exchanged once at compile time, the analog of
  *        the reference's static communicator layout.
  *      stage 2 (combine-final + apply, vp:1058-1113, 1641-1802): the
  *        exchange is a `repartitionAndSortWithinPartitions` keyed by
  *        (q, p), so partition q STREAMS its incoming tiles in sorted
  *        source-partition order — deterministic float sums with a
  *        real spill path (the shuffle reader's ExternalSorter),
  *        instead of buffering every tile on-heap — folds them into
  *        its V/P-sized y vector, and applies the program.
  *    No Catalyst, no per-iteration planning; driver overhead per
  *    superstep is one job submission (~10 ms class).
  *  - the per-superstep changed/frontier count is returned THROUGH the
  *    job (`sc.runJob` reading each partition's counter from the
  *    materialized state) — exactly-once under task retry, where an
  *    accumulator could over-count a retried stage.
  *
  * Scale shape at 100 TB: the per-superstep exchange is bounded by
  * Σ_pq |distinct dsts of tile (p,q)| doubles ≤ min(E, P·V), packed,
  * and on a shrinking frontier it degrades further to O(frontier-edges);
  * per-tile accumulators are V/P-sized (or frontier-sized), so
  * executor memory per task stays flat as P grows with the cluster.
  * Edges partition by hash(src), so a pathological hub vertex would
  * concentrate its out-edges in one partition (the reference's 2D grid
  * has the matching limitation per rank row); `compile` salts such
  * hubs across partitions, and `edgeImbalance` reports the realized
  * skew.
  */
object SpmvKernel {

  /** Routes pre-bucketed traffic to the partition its key names: an
    * Int key (the compile exchanges) or the q of a ((q, p), bytes) tile
    * message, whose p half drives the reduce-side sort that makes the
    * fold order deterministic. */
  private[graph] final class KeyPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case (q: Int, _) => q
      case q: Int => q
    }
    override def equals(o: Any): Boolean = o match {
      case p: KeyPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** One compiled CSR tile (p, q): edges of source-partition p whose
    * destinations hash to partition q. `srcSlots` indexes the owning
    * partition's state arrays; `dstLocal` indexes the tile's (sorted,
    * deterministic) distinct-destination list, whose slots on q are
    * precomputed in KernelPartition.inSlots. */
  private[graph] final case class Tile(
      srcSlots: Array[Int],
      offsets: Array[Int],
      dstLocal: Array[Int],
      weights: Array[Double], // null → all 1.0
      nDsts: Int) {
    def nEdges: Int = dstLocal.length
  }

  /** Partition p's compiled state: owned (sorted) vertex ids = state
    * slots, per-slot out-degree and 1/outdeg, the P outgoing tiles,
    * and — after the one-time compile-phase exchange — for every
    * source partition the mapping from its tile-local destination
    * index to a slot here.
    *
    * Salted-hub support (reference Matrix::balance's skew problem,
    * matrix.hpp:562-687): a source whose out-degree exceeds the compile
    * chunk has its edge rows SPLIT across partitions, so tiles here may
    * reference MIRROR sources this partition does not own. Mirrors get
    * slots [nOwned, nOwned+nMirror) in the combined index space the
    * tiles' srcSlots use; their per-superstep values arrive via the
    * hub-state broadcast (harvested from the owners by the same job
    * that reads the convergence count). `invDeg` is already combined
    * (owned ++ mirror); state/export arrays stay owned-sized. */
  private[graph] final case class KernelPartition(
      vids: Array[Long],
      deg: Array[Long],
      invDeg: Array[Double],          // length nOwned + nMirror
      mirrorVids: Array[Long],        // sorted; empty on an unsalted compile
      ownedHubSlots: Array[Int],      // owned slots mirrored elsewhere
      tiles: Array[Tile],
      inSlots: Array[Array[Int]]) // by source partition; null when no tile

  /** One partition's per-superstep state: `width` doubles per slot
    * (row-major), the active/changed BITSET (the frontier for
    * nonstationary programs — reference activity bits XI/XV,
    * vp:711-784), and the partition's changed count, read back
    * driver-side through `sc.runJob` for an exactly-once convergence
    * count. `counts` is the LPA mode's persistent per-(slot, label)
    * count store (null for every other program, and on fresh init or
    * checkpoint resume, where the next LPA superstep runs FULL). */
  private[graph] final case class PartState(
      values: Array[Double],
      active: Array[Long],
      changed: Long,
      counts: SlotCounts = null)

  private[graph] def bitGet(bits: Array[Long], i: Int): Boolean =
    (bits(i >>> 6) & (1L << (i & 63))) != 0

  /** A partition's stage-1 view of the previous superstep: state
    * values, active bits and vids over its owned ++ mirror slots. */
  private[graph] final case class GatherInputs(
      values: Array[Double], active: Array[Long], vids: Array[Long])

  /** What a superstep's two passes read besides their partition: the
    * 0-based superstep number, the active count the previous superstep
    * left, whether the state came from init or a checkpoint rather
    * than from a superstep of this call, and whether this is the
    * program's flush superstep ([[KernelProgram.flush]]). */
  private[graph] final case class Step(iter: Int, active: Long, fresh: Boolean, flush: Boolean)

  final case class KernelResult(state: DataFrame, iterations: Int,
                                metrics: Seq[IterMetrics], checksum: Double) {
    /** This result with the state columns `cols` — vertex ids or hop
      * counts, which the kernel stores as doubles — cast to long. */
    def withLongs(cols: String*): KernelResult = {
      import org.apache.spark.sql.functions.col
      copy(state = state.select(state.columns.toSeq.map(c =>
        if (cols.contains(c)) col(c).cast("long").as(c) else col(c)): _*))
    }
  }

  /** See [[KernelCompile.compile]]. */
  def compile(edges: DataFrame, parts: Int, hubChunk: Long = 0L): CompiledGraph =
    KernelCompile.compile(edges, parts, hubChunk)

  type CompiledGraph = graft.graph.CompiledGraph

  /** The one entry onto the kernel: compiles `shape(edges)` into
    * `parts` partitions, runs `f` on the tiles and releases them;
    * kernel results are materialized on their own. With a `cache` dir
    * the tiles load from, or are saved to,
    * `<cache>/<variant>-p<parts>` ([[CompiledGraphCache.compileOrLoad]]). */
  def compiled[R](edges: DataFrame, shape: Shape, parts: Int,
                  cache: Option[String] = None)(f: CompiledGraph => R): R = {
    val shaped = shape(edges)
    val v = shape.variant(shaped)
    val g = cache.fold(compile(shaped, parts))(d =>
      CompiledGraphCache.compileOrLoad(shaped, parts, s"$d/$v-p$parts", variant = v))
    try f(g) finally g.unpersist()
  }
}
