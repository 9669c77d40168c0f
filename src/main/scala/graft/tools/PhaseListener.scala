package graft.tools

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Per-superstep phase timing from stage-level task metrics — the
  * Spark-native analog of the reference's `make TIMING=-DTIMING` build
  * (Makefile:5-6), which reports init / scatter_gather / combine /
  * apply sums ± stddev per run (vertex_program.hpp:2134-2152).
  *
  * The kernel's superstep loops (SpmvKernel CompiledGraph.run and
  * .lpa) label each iteration's single job with job group
  * `graft-superstep-<iter>`. A superstep job has exactly one shuffle
  * boundary, so:
  *
  *   - GATHER = the shuffle-map stage(s): scatter + per-edge combine
  *     into one packed accumulator per tile (reference scatter_gather +
  *     combine, vp:688-861, 1058-1113);
  *   - APPLY  = the result stage: final combine + applicator + state
  *     materialization (vp:1641-1802);
  *   - BARRIER = iteration wall time minus the two stage spans — the
  *     driver residue (job submission, task launch, scheduling gaps): the
  *     MPI-barrier analog this library's scaling work targets.
  *
  * Wall spans use stage submission→completion; `cpuMs` sums
  * executorRunTime across tasks (the parallel work actually done).
  * Listener events post asynchronously — call `await()` before
  * reading. Pure public-listener-API; attach/detach per measured run.
  */
final class PhaseListener extends SparkListener {

  final case class StagePhase(wallMs: Long, cpuMs: Long)
  final case class Phases(iter: Int, gather: StagePhase, apply: StagePhase)

  // jobId → (iter, stageIds); resultStage = max stage id of the job
  private val jobIter = TrieMap.empty[Int, (Int, Seq[Int], Int)]
  private val stageDone = TrieMap.empty[Int, StagePhase]
  @volatile private var expected = 0
  @volatile private var completedStages = 0

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val group = Option(jobStart.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith("graft-superstep-")) {
      val iter = group.stripPrefix("graft-superstep-").toIntOption.getOrElse(-1)
      val ids = jobStart.stageInfos.map(_.stageId)
      jobIter.put(jobStart.jobId, (iter, ids, ids.max))
      expected += ids.size
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
    stageDone.put(si.stageId, StagePhase(wall, si.taskMetrics.executorRunTime))
    completedStages += 1
  }

  /** Best-effort drain of the async listener bus (stages may be
    * SKIPPED — reused shuffle output — and never complete; don't wait
    * on those). */
  def await(timeoutMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline && {
      val want = jobIter.values.flatMap(_._2).count(stageDone.contains)
      want < jobIter.values.map(_._2.size).sum && completedStages < expected
    }) Thread.sleep(20)
  }

  /** Phase breakdown per observed superstep, iter-ascending — ONE
    * entry per iter: if several jobs ran under the same superstep
    * group (both loops now clear the group right after the
    * materializing action, but e.g. an old artifact or a user job
    * could still double up), only the FIRST job of the iter — the
    * state materialization itself — counts, so checkpoint-save or
    * fallback-count jobs can never shift the positional pairing in
    * `summarize`. Gather = sum of non-result stages, apply = the
    * result stage. */
  def phases(): Seq[Phases] =
    jobIter.toSeq.groupBy(_._2._1).toSeq.sortBy(_._1).flatMap { case (iter, jobs) =>
      val (_, (_, stageIds, resultId)) = jobs.minBy(_._1)
      val apply = stageDone.get(resultId)
      val gathers = stageIds.filterNot(_ == resultId).flatMap(stageDone.get)
      apply.map { a =>
        val g = gathers.foldLeft(StagePhase(0, 0))((z, s) =>
          StagePhase(z.wallMs + s.wallMs, z.cpuMs + s.cpuMs))
        Phases(iter, g, a)
      }
    }

  /** Reference-TIMING-style summary over the observed supersteps, plus
    * the derived barrier share given per-iteration wall times. Returns
    * (gatherSumMs, applySumMs, barrierSumMs, perIterMedianBarrierMs). */
  def summarize(iterWallMs: Seq[Long]): PhaseListener.Summary = {
    val ph = phases()
    val gatherSum = ph.map(_.gather.wallMs).sum
    val applySum = ph.map(_.apply.wallMs).sum
    val wallSum = iterWallMs.sum
    val barriers = ph.zip(iterWallMs).map { case (p, w) =>
      math.max(0L, w - p.gather.wallMs - p.apply.wallMs)
    }
    val medBarrier =
      if (barriers.isEmpty) 0L
      else barriers.sorted.apply(barriers.size / 2)
    PhaseListener.Summary(ph.size, gatherSum, applySum,
      math.max(0L, wallSum - gatherSum - applySum), medBarrier,
      ph.map(_.gather.cpuMs).sum, ph.map(_.apply.cpuMs).sum)
  }
}

object PhaseListener {
  final case class Summary(iters: Int, gatherMs: Long, applyMs: Long,
                           barrierMs: Long, medianBarrierMs: Long,
                           gatherCpuMs: Long, applyCpuMs: Long)

  /** Attach around `body`, detach after; returns (result, listener). */
  def measure[T](sc: org.apache.spark.SparkContext)(body: => T): (T, PhaseListener) = {
    val pl = new PhaseListener
    sc.addSparkListener(pl)
    try { val r = body; pl.await(); (r, pl) }
    finally sc.removeSparkListener(pl)
  }
}
