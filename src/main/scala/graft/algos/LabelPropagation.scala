package graft.algos

import org.apache.spark.sql.DataFrame
import graft.graph._
import graft.graph.SpmvKernel.{KernelResult, compiled}
import graft.ckpt.CheckpointManager

/** Synchronous label propagation (community detection) — the
  * north_rule's fourth algorithm. The reference ships only the
  * min-label variant (its CC program, src/apps/cc.h, doubles as LPA
  * per SURVEY.md §2.8); this is the full frequency-based LPA with a
  * DETERMINISTIC tie-break (max count, then min label) so results are
  * exactly reproducible run-to-run (north_rule: label assignments
  * exact). It runs on the kernel's label-count stage pair
  * (SpmvKernel CompiledGraph.lpa) over the undirected, deduped closure
  * without self-loops.
  */
object LabelPropagation {

  /** State (vid, label: long, changed). `ckpt` resumes from the latest
    * complete snapshot and saves every `ckpt.every` supersteps plus a
    * final snapshot, unless that iteration is already on disk. `cache`
    * is a tile-cache dir ([[SpmvKernel.compiled]]). */
  def run(edges: DataFrame, parts: Int, maxIters: Int = 10,
          ckpt: Option[CheckpointManager] = None,
          cache: Option[String] = None): KernelResult =
    compiled(edges, Shape.UndirectedNoSelf, parts, cache)(_.lpa(maxIters, ckpt = ckpt))
      .withLongs("label")
}
