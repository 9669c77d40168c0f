package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.SpmvKernel.{KernelResult, onKernel}

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
    * `Never` runs `Always` on the edges whose source has an in-edge:
    * those sources keep their full out-degree, and a source without
    * in-edges never messages. Vertices outside that graph receive
    * nothing, so they hold rank α. `FinalFlush` then applies one
    * gather over the full edge table from the converged `Never` ranks
    * (vp:423-429), which counts as one more iteration. */
  def run(edges: DataFrame, parts: Int,
          maxIters: Int = 20,
          alpha: Double = DefaultAlpha,
          tol: Double = DefaultTol,
          sources: SourceSemantics = SourceSemantics.Always,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult = {
    def onGraph(e: DataFrame) = onKernel(e, parts)(_.pagerank(maxIters, alpha, tol, ckpt = ckpt))
    if (sources == SourceSemantics.Always) return onGraph(edges)

    val gated = onGraph(edges.join(edges.select(col("dst").as("src")), Seq("src"), "left_semi"))
    val all = edges.select(col("src").as("vid")).union(edges.select(col("dst").as("vid"))).distinct()
    val never = all.join(gated.state, Seq("vid"), "left_outer")
      .select(col("vid"), coalesce(col("rank"), lit(alpha)).as("rank"),
        coalesce(col("changed"), lit(false)).as("changed"))
    val state = sources match {
      case SourceSemantics.FinalFlush =>
        val w = if (edges.columns.contains("w")) col("w") else lit(1.0)
        val msgs = never.join(Degree.out(edges), "vid")
          .select(col("vid").as("src"), (col("rank") / col("degree")).as("msg"))
        val y = edges.select(col("src"), col("dst"), w.as("w")).join(msgs, "src")
          .groupBy(col("dst").as("vid")).agg(sum(col("msg") * col("w")).as("y"))
        val flushed = lit(alpha) + lit(1.0 - alpha) * coalesce(col("y"), lit(0.0))
        never.join(y, Seq("vid"), "left_outer")
          .select(col("vid"), flushed.as("rank"), (abs(flushed - col("rank")) > tol).as("changed"))
      case _ => never
    }
    val out = state.localCheckpoint(true)
    graft.graph.Engine.release(gated.state)
    val flush = if (sources == SourceSemantics.FinalFlush) 1 else 0
    KernelResult(out, gated.iterations + flush, gated.metrics,
      out.agg(coalesce(sum(col("rank")), lit(0.0))).head.getDouble(0))
  }
}
