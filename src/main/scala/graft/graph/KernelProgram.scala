package graft.graph

import graft.algos.SourceSemantics

/** The vertex-program contract — the reference's five
  * `Vertex_Program` virtuals (initializer / messenger / combiner /
  * applicator / infinity, reference src/vp/vertex_program.hpp:32-45)
  * expressed over primitive per-partition state arrays so the
  * SpmvKernel tile loop can run them without boxing or per-edge
  * virtual dispatch.
  *
  * Shape of the contract, forced by the primitive representation:
  *
  *  - State is `width` doubles per vertex, stored row-major in the
  *    partition's value array (`base = slot * width`). Double.NaN is
  *    the SQL-null analog (exported as null by the kernel).
  *  - The 2-arg combiner is declared as an opcode ([[KernelProgram.Sum]]
  *    / [[KernelProgram.Min]]) rather than a virtual: the tile loop
  *    specializes its inner loop on it, mirroring the reference's
  *    template-compiled kernels (src/singlenode/csc_spmv.hpp,
  *    tcsc_spmspv2.hpp — one compiled loop per operator).
  *  - The combiner identity IS the reference's `infinity()` sentinel
  *    (vp:40-44): an aggregate equal to the identity is
  *    indistinguishable from "no message", exactly like the TCSC
  *    kernels' dense accumulators. Every shipped program either never
  *    produces the identity as a real aggregate (PR messages are > 0;
  *    CC/BFS/SSSP aggregates are finite) or is insensitive to the
  *    conflation (PR: y=0 → rank=α either way).
  *  - The per-edge combine is also an opcode: `MsgOnly` (CC/BFS — the
  *    unweighted 2-arg reference combiner), `MulW` (PR, pr.h:35-37),
  *    `AddW` (SSSP relax, sssp.h:49-52). On an unweighted compile
  *    (no `w` column) the loop uses w ≡ 1.
  *
  * `message`/`apply`/`init` stay true virtuals — they run per source
  * ROW / per vertex (not per edge), where a megamorphic call is noise
  * next to the edge loop.
  */
trait KernelProgram extends Serializable {
  def name: String

  /** true = every vertex messages every superstep (PR); false = only
    * vertices changed last superstep message — the frontier/SpMSpV
    * mode (reference stationary/nonstationary split, vp:688-784). */
  def stationary: Boolean

  /** Doubles of state per vertex (PR/CC/SSSP: 1; BFS: 2). */
  def width: Int

  /** Exported/checkpointed state column names, in `values` order. */
  def columns: Seq[String]

  /** 2-arg combiner opcode (sum or min — SURVEY.md §2.7: all shipped
    * reference apps use one of the two). */
  def combineOp: KernelProgram.CombineOp

  /** Per-edge combine opcode (the reference 3-arg combiner). */
  def edgeOp: KernelProgram.EdgeOp

  /** Initialize vertex `vid`'s state at `values[base..base+width)`;
    * returns the initial active bit (reference initializer's boolean,
    * vp:32-33). `hasIn` = the vertex receives at least one edge. Runs
    * on a checkpoint resume too, before the snapshot's columns are
    * laid over it. */
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean

  /** Message payload for an (active) source vertex; `invDeg` is the
    * compile-time 1/out-degree (0 for degree-0), the reference's
    * degree-seeded state (pr.cpp:38-49). */
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double

  /** Apply the aggregated `y` (== `combineOp.identity` when the vertex
    * received no message) to the state in place; returns the changed
    * bit (reference applicator, vp:37-39). `iter` is 0-based, matching
    * the reference's iteration-dependent applies (bfs.h:65-77). */
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean

  /** The program of ONE more superstep after the stop rule, on the
    * same state layout, or null for none. That superstep is not
    * checkpointed: it is a pure function of the final snapshot. */
  private[graph] def flush: KernelProgram = null
}

object KernelProgram {
  sealed abstract class CombineOp(val identity: Double)
  /** y += v (PR, Degree). Identity 0. */
  case object Sum extends CombineOp(0.0)
  /** y = min(y, v) (CC, BFS, SSSP). Identity +∞. */
  case object Min extends CombineOp(Double.PositiveInfinity)

  sealed trait EdgeOp
  /** combine(msg) — weight ignored (CC label, BFS parent vid). */
  case object MsgOnly extends EdgeOp
  /** combine(msg * w) — PR (pr.h:35-37). */
  case object MulW extends EdgeOp
  /** combine(msg + w) — SSSP relax (sssp.h:49-52); w ≡ 1 on an
    * unweighted compile reproduces the reference's hop fallback. */
  case object AddW extends EdgeOp

  /** Programs that carry a VERTEX ID through double-typed messages
    * (CC labels, BFS parents) are exact only below 2^53; a larger vid
    * would silently round to a neighboring id and corrupt the answer
    * (e.g. two dedup clusters merging). Checked once per vertex at
    * init — free next to the edge loop. */
  private[graph] final val MaxExactVid = 1L << 53
  private[graph] def checkExactVid(vid: Long, program: String): Unit =
    if (vid >= MaxExactVid || vid < 0)
      throw new IllegalArgumentException(
        s"$program kernel carries vertex ids in double-typed messages, " +
          s"exact only for 0 <= vid < 2^53; got $vid. " +
          "Re-key the vertex ids (e.g. dense-rank them) first.")
}

/** PageRank on the kernel — the reference pr.h math:
  * rank₀=α; msg = rank·(1/deg) (0 when deg=0); y = Σ msg·w;
  * rank ← α + (1−α)·y; changed iff |Δ| > tol.
  *
  * `sources` ([[SourceSemantics]]) gates the message of a source, a
  * vertex with no in-edge. A gated program keeps a second slot column,
  * 1.0 when the vertex has an in-edge and 0.0 when it has none: init
  * sets it, so a resume rebuilds it, and a salted hub's mirror reads
  * it off the hub broadcast with the rank. `Never`: a source messages
  * 0 and keeps its out-degree (tcsc_spmspv2.hpp:119-122, 455-460).
  * `FinalFlush`: the same, then one superstep of the `open` twin, whose
  * sources message too (vp:423-429, 1282-1317). */
final class PrKernelProgram private[graph] (alpha: Double, tol: Double,
    sources: SourceSemantics, open: Boolean = false) extends KernelProgram {
  val name = sources match {
    case SourceSemantics.Always => "pagerank"
    case SourceSemantics.Never => "pagerank-never"
    case SourceSemantics.FinalFlush => "pagerank-flush"
  }
  val stationary = true
  val width = if (sources == SourceSemantics.Always) 1 else 2
  private val gated = width == 2 && !open
  val columns = Seq("rank")
  val combineOp = KernelProgram.Sum
  val edgeOp = KernelProgram.MulW
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean = {
    values(base) = alpha
    if (width == 2) values(base + 1) = if (hasIn) 1.0 else 0.0
    true
  }
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double =
    if (gated && values(base + 1) == 0.0) 0.0 else values(base) * invDeg
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean = {
    val nr = alpha + (1.0 - alpha) * y
    val changed = math.abs(nr - values(base)) > tol
    values(base) = nr
    changed
  }
  override private[graph] def flush: KernelProgram =
    if (sources == SourceSemantics.FinalFlush && !open)
      new PrKernelProgram(alpha, tol, sources, open = true)
    else null
}

/** Min-label connected components — the reference CC_Program
  * (src/apps/cc.h) on the kernel's frontier mode: label₀ = vid,
  * message = label, combine = min, changed iff the label dropped.
  * Labels are vids stored as doubles — exact below 2^53. */
final class CcKernelProgram extends KernelProgram {
  val name = "cc"
  val stationary = false
  val width = 1
  val columns = Seq("label")
  val combineOp = KernelProgram.Min
  val edgeOp = KernelProgram.MsgOnly
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean = {
    KernelProgram.checkExactVid(vid, name)
    values(base) = vid.toDouble; true
  }
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double =
    values(base)
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean =
    if (y < values(base)) { values(base) = y; true } else false
}

/** BFS — reference BFS_Program (src/apps/bfs.h): message = own vid,
  * combine = min, an unvisited vertex that hears anything is
  * discovered at hops = iter+1 with parent = min-vid frontier
  * in-neighbor. State: [parent, hops], NaN = unvisited (the
  * reference's INF sentinel, bfs.h:12). */
final class BfsKernelProgram(root: Long) extends KernelProgram {
  val name = "bfs"
  val stationary = false
  val width = 2
  val columns = Seq("parent", "hops")
  val combineOp = KernelProgram.Min
  val edgeOp = KernelProgram.MsgOnly
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean = {
    KernelProgram.checkExactVid(vid, name)
    if (vid == root) { values(base) = vid.toDouble; values(base + 1) = 0.0; true }
    else { values(base) = Double.NaN; values(base + 1) = Double.NaN; false }
  }
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double =
    vid.toDouble
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean = {
    val unvisited = values(base + 1).isNaN
    if (unvisited && y != Double.PositiveInfinity) {
      values(base) = y; values(base + 1) = (iter + 1).toDouble; true
    } else false
  }
}

/** SSSP — reference SSSP_Program (src/apps/sssp.h): message = dist,
  * per-edge combine = msg + w, combine = min, relax iff the distance
  * strictly dropped (sssp.h:58-66). NaN = unreached. */
final class SsspKernelProgram(root: Long) extends KernelProgram {
  val name = "sssp"
  val stationary = false
  val width = 1
  val columns = Seq("dist")
  val combineOp = KernelProgram.Min
  val edgeOp = KernelProgram.AddW
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean =
    if (vid == root) { values(base) = 0.0; true }
    else { values(base) = Double.NaN; false }
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double =
    values(base)
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean = {
    if (y == Double.PositiveInfinity) return false
    val old = values(base)
    if (old.isNaN || y < old) { values(base) = y; true } else false
  }
}

/** In-degree as one kernel superstep — the reference Deg_Program
  * (src/apps/deg.h:32-52): messenger ≡ 1, combiner = sum, one
  * stationary superstep. (Out-degree needs no superstep at all on the
  * compiled matrix — every partition owns its source rows — and is
  * served from the compile-time degree array, CompiledGraph
  * .outDegrees; the reference's PR likewise reuses its compiled
  * matrix for the degree phase, pr.cpp:40-49.) */
final class DegreeKernelProgram extends KernelProgram {
  val name = "degree"
  val stationary = true
  val width = 1
  val columns = Seq("degree")
  val combineOp = KernelProgram.Sum
  val edgeOp = KernelProgram.MsgOnly
  def init(vid: Long, hasIn: Boolean, values: Array[Double], base: Int): Boolean = {
    values(base) = 0.0; true
  }
  def message(vid: Long, values: Array[Double], base: Int, invDeg: Double): Double = 1.0
  def apply(values: Array[Double], base: Int, y: Double, iter: Int): Boolean = {
    values(base) = y; false
  }
}
