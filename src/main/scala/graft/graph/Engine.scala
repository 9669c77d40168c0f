package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import graft.ckpt.{CheckpointManager, IterMetrics}

final case class RunConfig(
    /** >0 → run exactly this many supersteps (reference
      * `execute(num_iterations)`, vp:412-413 disables the convergence
      * check when an iteration budget is given); 0 → run to fixpoint
      * (no vertex changed). Either way an empty frontier ends the run
      * early — further supersteps are provably no-ops. */
    maxIters: Int = 0,
    /** Broadcast the message table instead of shuffling it when the
      * messaging side has at most this many vertices — the Spark-native
      * form of the reference's dense-bcast vs sparse-p2p switch
      * (vp:194, 754-784). DEFAULT 0 (off, round 6): the state is
      * hash(vid, parts)-co-partitioned with the adjacency by
      * construction, so the SHUFFLE_HASH branch is already
      * exchange-free — the broadcast bought nothing and cost one
      * driver-side collect job + relation build PER SUPERSTEP
      * (measured: q_pagerank_top 51→31 jobs and every frontier query
      * faster with the flip off; broadcasting 10^6-row messages was
      * additionally 5× slower than the co-partitioned shuffle). The
      * flip remains available for callers whose message side is NOT
      * co-partitioned (e.g. a resumed checkpoint with foreign
      * partitioning), where one broadcast beats a per-superstep
      * exchange. */
    broadcastMaxVertices: Long = 0,
    ckpt: Option[CheckpointManager] = None)

final case class RunResult(state: DataFrame, iterations: Int, metrics: Seq[IterMetrics]) {
  def checksum(stateCol: String): Double =
    state.agg(coalesce(sum(col(stateCol)), lit(0.0))).head.getDouble(0)
}

/** The superstep loop — the reference's `Vertex_Program::execute`
  * (src/vp/vertex_program.hpp:408-441) re-expressed as iterative
  * DataFrame message passing:
  *
  *   scatter_gather + bcast + combine (vp:688-861, 1058-1327)
  *     → one gather join (broadcast or co-partitioned shuffle) over
  *       the CSR adjacency, explode, then partial+final hash
  *       aggregation keyed by destination (Spark's map-side combine IS
  *       the reference's per-rank partial accumulation, vp:1058-1113);
  *   apply (vp:1641-1802)
  *     → vid-co-partitioned left-outer join of state with y + a
  *       column-expression applicator;
  *   has_converged allreduce (vp:1885-1923)
  *     → a count of changed vertices per superstep.
  *
  * Lineage is truncated every superstep with an eager localCheckpoint
  * (Spark plans would otherwise grow per iteration); durable resume
  * points go to the parquet/manifest CheckpointManager every
  * `ckpt.every` supersteps (north_rule resumability).
  */
object Engine {

  /** Clone `caller` into a superstep-loop session: hash joins (the
    * adjacency side would otherwise be re-sorted every iteration), AQE
    * OFF (it re-plans every stage of every superstep micro-job — pure
    * overhead, ~150ms/superstep at local[32], when the loop's
    * partitioning is fixed by construction), and exchanges sized to the
    * GRAPH (`parts`), not the session default: the adjacency is
    * hash(src, parts)-partitioned, so running the superstep
    * groupBy/apply at the session's shuffle.partitions would
    * (a) re-exchange state to the session width on superstep 1 and
    * (b) schedule session-width stages for a graph the builder already
    * right-sized (Adjacency/graphParts cap parts at the session value,
    * so at real scale the width line is a no-op; on small derived
    * graphs it cuts per-superstep task count ~4×). All three are
    * session-global flags, so the loop runs on a CLONED session (same
    * SparkContext — caches, checkpoint blocks and the block manager are
    * shared) with the caller's runtime confs copied over: a concurrent
    * analytical query on the caller's session keeps AQE skew handling
    * even while a loop is live (Dedup.duplicateClusters nests this
    * loop inside user queries). Shared with LabelPropagation's loop. */
  private[graft] def loopSession(caller: org.apache.spark.sql.SparkSession,
                                 parts: Int): org.apache.spark.sql.SparkSession = {
    val loop = caller.newSession()
    caller.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(loop.conf.set(k, v)) // static confs refuse runtime set — skip
    }
    loop.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", parts.toString)
    loop
  }

  def run(adj: Adjacency, program: VertexProgram, cfg: RunConfig = RunConfig()): RunResult = {
    import org.apache.spark.sql.graftbridge.SessionBridge
    val caller = adj.out.sparkSession
    val loop = loopSession(caller, adj.parts)
    val metrics = ArrayBuffer.empty[IterMetrics]
    val r = runLoop(Adjacency.rebind(adj, loop), program, cfg, metrics)
    // hand the final state back bound to the CALLER's session so
    // downstream one-shot queries over it run with the caller's conf
    RunResult(SessionBridge.rebind(caller, r.state), r.iterations, r.metrics)
  }

  private def runLoop(adj: Adjacency, program: VertexProgram, cfg: RunConfig,
                      metrics: ArrayBuffer[IterMetrics]): RunResult = {
    val spark = adj.out.sparkSession

    val resumed = cfg.ckpt.flatMap(c => c.latestIter().map(i =>
      (i, c.load(spark, i, program.name))))
    var iter = resumed.map(_._1).getOrElse(0)
    // the initial active count rides the init-materializing job as a
    // CollectMetrics accumulator (same observe trick as the superstep
    // loop below) instead of a second count job
    var active = 0L
    var state = resumed match {
      case Some((_, st)) =>
        val s = st.localCheckpoint(true)
        active = s.filter(col("changed")).count()
        s
      case None =>
        val obs = program.init(adj.vertices).observe("graft_init_active",
          sum(when(col("changed"), 1L).otherwise(0L)).as("active"))
        val s = obs.localCheckpoint(true)
        active = obs.queryExecution.observedMetrics.get("graft_init_active") match {
          case Some(row) if !row.isNullAt(0) => row.getLong(0)
          case _ => s.filter(col("changed")).count() // empty graph / miss
        }
        s
    }
    var prevState: DataFrame = null

    // Fixed-budget mode runs the full budget for stationary programs —
    // the reference disables its convergence check when an iteration
    // count is supplied (vp:412-413) and per-vertex tol-convergence
    // must not end the run early. Nonstationary programs still stop on
    // an empty frontier (provably a fixpoint). Convergence mode (0)
    // stops when no vertex changed.
    def keepGoing: Boolean =
      if (adj.numVertices == 0) false // empty graph: nothing to compute
      else if (cfg.maxIters > 0) iter < cfg.maxIters && (program.stationary || active > 0)
      else active > 0

    while (keepGoing) {
      val t0 = System.nanoTime()
      // label the one job this superstep runs so a SparkListener (the
      // per-phase timing probe, tools.PhaseListener — the reference's
      // TIMING=-DTIMING analog, vertex_program.hpp:2134-2152) can
      // attribute its stages to the iteration
      spark.sparkContext.setJobGroup(s"graft-superstep-$iter",
        s"${program.name} superstep $iter", interruptOnCancel = false)

      // --- scatter: message projection (frontier-filtered when nonstationary)
      val msgSide = if (program.stationary) state else state.filter(col("changed"))
      val msgs0 = msgSide.select(col("vid"), program.message(msgSide).as("msg"))
      val sideSize = if (program.stationary) adj.numVertices else active
      // Hint ONLY the shuffle branch: Spark keeps the outermost
      // join-strategy hint, so a SHUFFLE_HASH hint applied on top of
      // broadcast(msgs0) would silently override the broadcast and make
      // small frontiers (BFS/SSSP/CC tails) pay a shuffle stage.
      // No explicit repartition on the shuffle branch: state is an
      // eager localCheckpoint whose LogicalRDD PRESERVES the hash(vid,
      // parts) partitioning of the previous apply join, so the gather
      // SHJ is already co-partitioned with the adjacency (hash(src,
      // parts)) — an explicit repartition would add a second V-sized
      // exchange per superstep. The planner inserts one itself in the
      // (init/resume) cases where the partitioning is absent.
      val msgs =
        if (sideSize <= cfg.broadcastMaxVertices) broadcast(msgs0)
        else msgs0.hint("SHUFFLE_HASH")

      // --- gather: join messages onto the persisted CSR adjacency
      // (adjacency never moves — it is hash-partitioned by src), explode
      // neighbor chunks, per-edge combine, then hash-aggregate by dst.
      // SHUFFLE_HASH hint (shuffle branch only): the msgs side is a
      // localCheckpoint LogicalRDD with unknown stats, so without the
      // hint the planner falls back to sort-merge and re-sorts BOTH
      // sides every superstep.
      val gathered = adj.out
        .join(msgs, adj.out("src") === msgs("vid"), "inner")
        .select(col("msg"), explode(col("nbrs")).as("e"))
        .select(adj.dstOf(col("e")).as("vid"),
          program.edgeCombine(col("msg"), adj.wOf(col("e"))).as("mv"))
        .groupBy(col("vid"))
        .agg(program.aggregate(col("mv")).as("y"))

      // --- apply: state ⟗ y, applicator expression, changed flag.
      // Both sides are already hash-partitioned by vid (state via the
      // preserved localCheckpoint partitioning, y via the groupBy), so
      // with the SHUFFLE_HASH hint this join is exchange-free AND
      // sort-free — the y side (≤V rows) becomes the build map.
      val joined = state.join(gathered.hint("SHUFFLE_HASH"), Seq("vid"), "left_outer")
      val applied = program.apply(joined, iter)

      // EAGER localCheckpoint: truncates the logical plan to a
      // LogicalRDD (the state feeds both the message side and the apply
      // join, so an untruncated plan DOUBLES each superstep — measured
      // exponential per-iteration slowdown) and materializes it in one
      // job. The convergence count rides along as a CollectMetrics
      // accumulator (`observe`) instead of a second count job — one
      // action per superstep, like the reference's single allreduce
      // (vp:1918).
      val metricName = s"graft_converge_$iter"
      val observed = applied.observe(metricName,
        sum(when(col("changed"), 1L).otherwise(0L)).as("active"))
      val newState = observed.localCheckpoint(true)
      // the superstep's one job has run — drop the job group NOW so
      // follow-up jobs (observe-miss fallback count, checkpoint save)
      // don't masquerade as extra superstep phases and shift the
      // PhaseListener's per-iteration pairing
      spark.sparkContext.clearJobGroup()
      active = observed.queryExecution.observedMetrics.get(metricName) match {
        case Some(row) if !row.isNullAt(0) => row.getLong(0)
        case other =>
          if (sys.env.contains("GRAFT_DEBUG_OBSERVE"))
            System.err.println(s"[engine] observe miss at iter $iter: $other " +
              s"keys=${observed.queryExecution.observedMetrics.keySet}")
          newState.filter(col("changed")).count() // fallback
      }
      // Free the previous superstep's checkpoint blocks — newState is
      // fully materialized, so the old RDD is never read again. Without
      // this, a long run accumulates one V-sized block set per
      // superstep in the block manager.
      if (prevState ne null) release(prevState)
      prevState = state
      state = newState
      iter += 1
      metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, sideSize)

      cfg.ckpt.foreach { c =>
        if (c.shouldCheckpoint(iter)) c.save(program.name, iter, state, metrics.toSeq)
      }
    }

    spark.sparkContext.clearJobGroup()
    cfg.ckpt.foreach(c => c.save(program.name, iter, state, metrics.toSeq))
    if (prevState ne null) release(prevState)
    RunResult(state, iter, metrics.toSeq)
  }

  /** Drop the checkpoint blocks behind a localCheckpoint'd (or
    * otherwise materialized-to-LogicalRDD) frame. Only safe once every
    * frame derived from it has been materialized — the lineage is
    * truncated, so the blocks are the only copy. Shared with every
    * other superstep-loop in the library (LabelPropagation,
    * Dedup.duplicateClusters), and the PUBLIC release half of the
    * materialize-then-release contract the sketch operators
    * (Dedup.minhashCandidates / simhashCandidates,
    * Similarity.cosineNearDup) return their results under: call
    * `Engine.release(result)` when done with the frame, so a
    * long-lived session never accumulates per-invocation block sets. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
