package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import graft.graph._
import graft.ckpt.{CheckpointManager, IterMetrics}

/** Synchronous label propagation (community detection) — the
  * north_rule's fourth algorithm. The reference ships only the
  * min-label variant (its CC program, src/apps/cc.h, doubles as LPA
  * per SURVEY.md §2.8); this is the full frequency-based LPA with a
  * DETERMINISTIC tie-break (max count, then min label) so results are
  * exactly reproducible run-to-run (north_rule: label assignments
  * exact).
  *
  * Each superstep is two hash aggregations instead of the engine's
  * one: count labels per (vertex, label), then arg-max per vertex via
  * `max(struct(count, -label))` — both stay in whole-stage codegen
  * with map-side partial aggregation; the adjacency side never moves.
  */
object LabelPropagation {

  def run(edges: DataFrame, parts: Int, maxIters: Int = 10,
          ckpt: Option[CheckpointManager] = None): RunResult = {
    val und = GraphShaping.shape(edges,
      EdgeShaping.undirected(selfLoops = false))
    val adj = Adjacency.build(und, parts, weighted = false)
    runOnAdjacency(adj, maxIters, ckpt)
  }

  /** The same LPA on the tile-compiled kernel fast path
    * (SpmvKernel CompiledGraph.lpa — label-count triple exchange +
    * open-addressing mode merge): identical labels, iteration counts
    * and tie-break as `run` (KernelSpec parity), at kernel superstep
    * cost. The state schema matches run()'s (label LONG). */
  def runKernel(edges: DataFrame, parts: Int, maxIters: Int = 10,
                ckpt: Option[CheckpointManager] = None): RunResult = {
    val und = GraphShaping.shape(edges,
      EdgeShaping.undirected(selfLoops = false))
      .select("src", "dst")
    val g = SpmvKernel.compile(und, parts)
    val r = g.lpa(maxIters, ckpt = ckpt)
    g.unpersist()
    RunResult(
      r.state.select(col("vid"), col("label").cast("long").as("label"), col("changed")),
      r.iterations, r.metrics)
  }

  /** `ckpt` gives LPA the same durable resume contract as the Engine
    * loop (Engine.runLoop / north_rule resumability for the 4th algo):
    * resume from the latest complete snapshot, save every `ckpt.every`
    * supersteps plus a final snapshot. */
  def runOnAdjacency(adj: Adjacency, maxIters: Int,
                     ckpt: Option[CheckpointManager] = None): RunResult = {
    // same loop-session clone as Engine.run (AQE off, hash joins,
    // graph-sized exchanges): LPA previously looped on the CALLER's
    // session, where AQE re-planned every superstep micro-job into
    // several jobs — measured 31 jobs for a 5-superstep q_lpa run.
    import org.apache.spark.sql.graftbridge.SessionBridge
    val caller = adj.out.sparkSession
    val loop = Engine.loopSession(caller, adj.parts)
    val r = lpaLoop(Adjacency.rebind(adj, loop), maxIters, ckpt)
    RunResult(SessionBridge.rebind(caller, r.state), r.iterations, r.metrics)
  }

  private def lpaLoop(adj: Adjacency, maxIters: Int,
                      ckpt: Option[CheckpointManager]): RunResult = {
    val spark = adj.out.sparkSession
    val metrics = ArrayBuffer.empty[IterMetrics]
    val resumed = ckpt.flatMap(c => c.latestIter().map(i => (i, c.load(spark, i, "lpa"))))
    var iter = resumed.map(_._1).getOrElse(0)
    var active = 0L
    var state = resumed match {
      case Some((_, st)) =>
        val s = st.localCheckpoint(true)
        active = s.filter(col("changed")).count()
        s
      case None =>
        // init count rides the materializing job (observe), like Engine
        val obs = adj.vertices
          .select(col("vid"), col("vid").as("label"), lit(true).as("changed"))
          .observe("graft_lpa_init", sum(when(col("changed"), 1L).otherwise(0L)).as("active"))
        val s = obs.localCheckpoint(true)
        active = obs.queryExecution.observedMetrics.get("graft_lpa_init") match {
          case Some(row) if !row.isNullAt(0) => row.getLong(0)
          case _ => s.filter(col("changed")).count()
        }
        s
    }
    var prevState: DataFrame = null

    while (active > 0 && iter < maxIters) {
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup(s"graft-superstep-$iter",
        s"lpa superstep $iter", interruptOnCancel = false)
      // SHUFFLE_HASH: state is a localCheckpoint LogicalRDD with
      // unknown stats — same sort-merge-fallback hazard as Engine's
      // gather join. NO explicit repartition: the localCheckpoint
      // preserves the hash(vid, parts) partitioning of the previous
      // apply join (init state inherits it from the vertex table), so
      // the gather join is already co-partitioned with the adjacency —
      // the old per-superstep repartition was a second V-sized exchange
      // that moved rows onto the exact partitions they were on.
      val msgs = state.select(col("vid"), col("label").as("msg")).hint("SHUFFLE_HASH")

      val newLabels = adj.out
        .join(msgs, adj.out("src") === msgs("vid"), "inner")
        .select(col("msg"), explode(col("nbrs")).as("e"))
        .groupBy(adj.dstOf(col("e")).as("vid"), col("msg").as("nbrLabel"))
        .agg(count(lit(1)).as("cnt"))
        // arg-max with deterministic tie-break: highest count wins,
        // ties resolved toward the SMALLEST label (hence -nbrLabel in
        // the struct ordering).
        .groupBy(col("vid"))
        .agg(max(struct(col("cnt"), (-col("nbrLabel")).as("negLabel"))).as("top"))
        .select(col("vid"), (-col("top.negLabel")).as("newLabel"))

      val applied = state
        .join(newLabels.hint("SHUFFLE_HASH"), Seq("vid"), "left_outer")
        .select(
          col("vid"),
          coalesce(col("newLabel"), col("label")).as("label"),
          (coalesce(col("newLabel"), col("label")) =!= col("label")).as("changed"))

      // Same one-action-per-superstep shape as Engine (Engine.scala:
      // 135-153): the convergence count rides the materializing job as
      // a CollectMetrics accumulator, the EAGER localCheckpoint
      // truncates the per-iteration plan growth, and the previous
      // superstep's checkpoint blocks are dropped once the new state is
      // materialized — stable block-manager footprint over long runs.
      val metricName = s"graft_lpa_converge_$iter"
      val observed = applied.observe(metricName,
        sum(when(col("changed"), 1L).otherwise(0L)).as("active"))
      val newState = observed.localCheckpoint(true)
      // same job-group hygiene as Engine: fallback count + ckpt jobs
      // must not be attributed to the superstep by the PhaseListener
      spark.sparkContext.clearJobGroup()
      active = observed.queryExecution.observedMetrics.get(metricName) match {
        case Some(row) if !row.isNullAt(0) => row.getLong(0)
        case _ => newState.filter(col("changed")).count() // fallback
      }
      if (prevState ne null) Engine.release(prevState)
      prevState = state
      state = newState
      iter += 1
      metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, adj.numVertices)
      ckpt.foreach { c =>
        if (c.shouldCheckpoint(iter)) c.save("lpa", iter, state, metrics.toSeq)
      }
    }
    spark.sparkContext.clearJobGroup()
    ckpt.foreach(c => c.save("lpa", iter, state, metrics.toSeq))
    if (prevState ne null) Engine.release(prevState)
    RunResult(state, iter, metrics.toSeq)
  }
}
