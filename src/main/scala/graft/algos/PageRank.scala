package graft.algos

import org.apache.spark.sql.DataFrame
import graft.graph.Shape
import graft.graph.SpmvKernel.{KernelResult, compiled}

/** How PageRank treats messages from SOURCE vertices (no in-edges,
  * rank pinned at α). The reference family has three observable
  * behaviors:
  *
  *  - [[SourceSemantics.Always]] — textbook: sources message every
  *    superstep. (Also what graft's in-memory oracle computes.)
  *  - [[SourceSemantics.Never]] — the reference's single-node TCSC
  *    kernel: its `d` vector is seeded only for rows of the transposed
  *    matrix (tcsc_spmspv2.hpp:119-122), so `message_nnzcols` emits 0
  *    for in-edge-less vertices forever (tcsc_spmspv2.hpp:455-460; the
  *    factored final pass is commented out, :136-167). Checked against
  *    that kernel's printed output in ReferenceParitySpec.
  *  - [[SourceSemantics.FinalFlush]] — the distributed GraphTap with
  *    TCSC-CF computation factoring: source-row edges processed once,
  *    in ONE extra combine+apply after convergence
  *    (vertex_program.hpp:423-429, 1282-1317).
  */
sealed trait SourceSemantics
object SourceSemantics {
  case object Always extends SourceSemantics
  case object Never extends SourceSemantics
  case object FinalFlush extends SourceSemantics
}

/** PageRank with the reference's EXACT semantics (src/apps/pr.h), on
  * the kernel ([[graft.graph.PrKernelProgram]]):
  *
  *   - α = 0.15, tol = 1e-5 (pr.h:12-13) — both overridable;
  *   - rank₀ = α (pr.h:16, 28);
  *   - messenger: rank/degree, 0 when degree = 0 (pr.h:31-33) where
  *     degree is the OUT-degree (pr.cpp:38-49);
  *   - combiner: y += msg · w (pr.h:35-37);
  *   - applicator: rank ← α + (1−α)·y, changed iff |Δrank| > tol
  *     (pr.h:43-47).
  *
  * This is the UNNORMALIZED form — constant teleport α (not α/N) and
  * NO dangling-mass redistribution (sink rank simply leaks). GraphX /
  * textbook PR would diverge from the reference here; we encode the
  * reference formula (SURVEY.md §2.8). Source-vertex message
  * scheduling is selected by [[SourceSemantics]].
  */
object PageRank {
  val DefaultAlpha = 0.15
  val DefaultTol = 1e-5

  /** Run PageRank over an edge table (src, dst[, w]). `maxIters > 0`
    * runs a fixed budget (the reference slurm runs use 20,
    * graphtap.slurm:72); 0 runs to convergence (all |Δrank| ≤ tol).
    * State (vid, rank, changed).
    *
    * Every mode compiles the table once and runs in the kernel
    * ([[graft.graph.CompiledGraph.pagerank]]). `Never` gates each
    * source row in the program's message: a vertex with no in-edge
    * sends 0 and keeps its full out-degree, so it holds rank α.
    * `FinalFlush` runs `Never`, then one more superstep with the gate
    * open (vp:423-429), which counts as one more iteration. A gated
    * mode checkpoints under its own program name and keeps its
    * snapshot at the last gated superstep. `cache` is a tile-cache
    * dir ([[graft.graph.SpmvKernel.compiled]]). */
  def run(edges: DataFrame, parts: Int,
          maxIters: Int = 20,
          alpha: Double = DefaultAlpha,
          tol: Double = DefaultTol,
          sources: SourceSemantics = SourceSemantics.Always,
          ckpt: Option[graft.ckpt.CheckpointManager] = None,
          cache: Option[String] = None): KernelResult =
    compiled(edges, Shape.Raw, parts, cache)(_.pagerank(maxIters, alpha, tol, ckpt, sources))
}
