package graft.graph

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.algos.SourceSemantics
import graft.ckpt.IterMetrics
import graft.graph.CompiledGraph._
import graft.graph.SpmvKernel._
import graft.graph.TilePacks._

/** Compiled graph handle: `run` any [[KernelProgram]] (or the
  * `pagerank` convenience) any number of times; call `unpersist()`
  * when done with the graph. Callers outside `graft.graph` reach it
  * through [[SpmvKernel.compiled]], which builds it with
  * [[SpmvKernel.compile]] or [[CompiledGraphCache.compileOrLoad]] and
  * releases it. */
final class CompiledGraph private[graph] (
    private[graph] val kernel: RDD[KernelPartition],
    val spark: SparkSession,
    val parts: Int,
    val numVertices: Long,
    val numEdges: Long,
    val weighted: Boolean,
    /** total mirror slots across partitions — 0 on an unsalted
      * compile, where every hub-salting code path short-circuits */
    val mirrorCount: Long = 0L) {

  private val sc = spark.sparkContext
  private val tilePart = new KeyPartitioner(parts)

  /** Materialize a state RDD and return (Σ changed, hub snapshot).
    * The count rides the successful task attempts (exactly-once
    * under retry); the hub snapshot is harvested in the same job
    * when the compile salted any hubs, and is null otherwise. */
  private def countAndHarvest(state: RDD[PartState], width: Int): (Long, HubStates) =
    if (mirrorCount == 0)
      (sc.runJob(state, (it: Iterator[PartState]) => it.next().changed).sum, null)
    else {
      val res = kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
        val kp = kIt.next(); val ps = sIt.next()
        val hubs = new Array[(Long, (Array[Double], Boolean))](kp.ownedHubSlots.length)
        var i = 0
        while (i < hubs.length) {
          val s = kp.ownedHubSlots(i)
          hubs(i) = (kp.vids(s),
            (java.util.Arrays.copyOfRange(ps.values, s * width, s * width + width),
              bitGet(ps.active, s)))
          i += 1
        }
        Iterator.single((ps.changed, hubs))
      }.collect()
      (res.iterator.map(_._1).sum, res.iterator.flatMap(_._2).toMap)
    }

  /** Exact per-superstep DENSE exchange volume in DOUBLES: Σ over
    * tiles of |distinct destinations| — the stationary upper bound
    * (a sparse frontier ships less). Bounded by min(E, P·V); grows
    * with P toward E as per-tile destination dedup thins out (the
    * all-to-all volume physics a cluster pays in network). */
  def exchangeDoubles: Long = kernel
    .map(kp => kp.tiles.map(t => if (t == null) 0L else t.nDsts.toLong).sum)
    .fold(0L)(_ + _)

  /** max/mean−1 over per-partition edge counts — the kernel's
    * realized skew (reference Matrix::balance, matrix.hpp:562-687).
    * hash(src) partitioning concentrates a hub's out-edges; audit it. */
  def edgeImbalance: Double = {
    val counts = kernel.map(kp => kp.tiles.map(t => if (t == null) 0L else t.nEdges.toLong).sum)
      .collect()
    val mean = counts.sum.toDouble / counts.length
    if (mean == 0) 0.0 else counts.max / mean - 1.0
  }

  /** (kernel partition, slot count) per non-empty partition: the rows
    * `stateDF` emits there, so one snapshot file each. One tiny job at
    * the graph's first checkpoint save. */
  private lazy val partRows: Seq[(Int, Long)] =
    sc.runJob(kernel, (it: Iterator[KernelPartition]) => it.next().vids.length.toLong)
      .zipWithIndex.collect { case (n, p) if n > 0 => (p, n) }.toSeq

  /** Re-slot a saved state frame into the kernel's partition layout —
    * the resume half of the checkpoint contract. `init` runs on every
    * slot first (re-asserting an exact-id program's 2^53 window), then
    * the snapshot's `stateCols` are laid over it: nulls become NaN,
    * and slot columns beyond them (LPA's prev-label scratch, the
    * PageRank source gate) keep their init values. A missing `changed`
    * column means all-active (only legacy pagerank snapshots, a
    * stationary program, lack it). Each task rejects a vid the graph
    * lacks and adds (partition, missing, first missing vid) to `gaps`
    * when the snapshot lacks some of its vertices. */
  private def stateFromDF(width: Int, stateCols: Seq[String], df: DataFrame, init: Init,
      gaps: org.apache.spark.util.CollectionAccumulator[(Int, Int, Long)]): RDD[PartState] = {
    // explicit casts: the manifest algo check rejects cross-ALGORITHM
    // resumes, but a same-algo snapshot written with different column
    // types (e.g. a long-typed label) must still read as the doubles
    // the kernel stores — ir.getDouble on a LONG column would
    // otherwise reinterpret raw bits
    val cols = "CAST(vid AS BIGINT) AS vid" +:
      stateCols.map(c => s"CAST($c AS DOUBLE) AS $c")
    val hasChanged = df.columns.contains("changed")
    val sel = if (hasChanged) cols :+ "CAST(changed AS BOOLEAN) AS changed" else cols
    val take = stateCols.length
    val keyed = df.selectExpr(sel: _*).queryExecution.toRdd
      .map { ir =>
        val vs = Array.fill(take)(Double.NaN)
        var c = 0
        while (c < take) {
          if (!ir.isNullAt(1 + c)) vs(c) = ir.getDouble(1 + c)
          c += 1
        }
        val act = !hasChanged || ir.getBoolean(1 + take)
        (ir.getLong(0), (vs, act))
      }
      .partitionBy(new HashPartitioner(parts))
    kernel.zipPartitions(keyed, preservesPartitioning = false) { (kIt, rIt) =>
      val kp = kIt.next()
      val n = kp.vids.length
      val slot = LongTable.positions(kp.vids)
      val values = initState(kp, width, init).values
      val bits = new Array[Long]((n + 63) >>> 6)
      val filled = new Array[Long]((n + 63) >>> 6)
      var changed = 0L
      var nFilled = 0
      rIt.foreach { case (v, (vs, act)) =>
        // reachable from user input: a snapshot of a different graph
        // carries vids this compile never slotted
        val s = slot.get(v, -1L).toInt
        if (s < 0) throw new IllegalArgumentException(
          s"vid $v is not present in the compiled graph " +
            "(resuming from a checkpoint of a different edge table?)")
        if (!bitGet(filled, s)) { filled(s >>> 6) |= 1L << (s & 63); nFilled += 1 }
        System.arraycopy(vs, 0, values, s * width, take)
        if (act) { bits(s >>> 6) |= 1L << (s & 63); changed += 1 }
      }
      if (nFilled < n) gaps.add((TaskContext.getPartitionId(), n - nFilled,
        kp.vids(Iterator.range(0, n).find(!bitGet(filled, _)).get)))
      Iterator.single(PartState(values, bits, changed))
    }
  }

  /** Export a state RDD as (vid, columns…, changed) with NaN → null.
    * Exports the first `stateCols.length` of each slot's `width`
    * doubles — the LPA mode stores a prev-label scratch column it
    * never exposes (stateCols.length == width everywhere else). */
  private def stateDF(width: Int, stateCols: Seq[String], state: RDD[PartState]): DataFrame = {
    val take = stateCols.length
    val schema = StructType(
      StructField("vid", LongType, nullable = false) +:
        stateCols.map(c => StructField(c, DoubleType, nullable = true)) :+
        StructField("changed", BooleanType, nullable = false))
    val rows = kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
      val kp = kIt.next(); val ps = sIt.next()
      Iterator.range(0, kp.vids.length).map { i =>
        val cells = new Array[Any](take + 2)
        cells(0) = kp.vids(i)
        var c = 0
        while (c < take) {
          val v = ps.values(i * width + c)
          cells(1 + c) = if (v.isNaN) null else java.lang.Double.valueOf(v)
          c += 1
        }
        cells(take + 1) = bitGet(ps.active, i)
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(cells))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Reference-exact PageRank (src/apps/pr.h) on the kernel — see
    * [[PrKernelProgram]] for the math and the `sources` modes. Kept as
    * the named entry point (Bench/Apps/specs); delegates to [[run]]. */
  def pagerank(maxIters: Int, alpha: Double = 0.15, tol: Double = 1e-5,
               ckpt: Option[graft.ckpt.CheckpointManager] = None,
               sources: SourceSemantics = SourceSemantics.Always): KernelResult =
    run(new PrKernelProgram(alpha, tol, sources), maxIters, ckpt)

  /** The one superstep loop behind [[run]] and [[lpa]] — the
    * two-stage job of the header. It owns resume, the initial frontier
    * count, the hub broadcast, lineage truncation, the
    * `graft-superstep-N` job group, [[IterMetrics]], checkpoint saves
    * tagged `<name>-kernel`, the checksum and the export. The caller
    * supplies `init` ([[KernelProgram.init]], also run under a
    * resumed snapshot), `more(iter, active)` (its stop rule; an empty
    * graph runs none), `gather` (stage 1: one tile → a packed message,
    * or null) and `absorb` (stage 2: a partition's tiles, sorted by
    * source partition, + old state → new state). `flush` adds one
    * unsaved superstep after the final snapshot, with `Step.flush`
    * set. `stationary` reports V rather than the active count as
    * `gatherRows`. */
  private def superstepLoop(name: String, width: Int, columns: Seq[String],
                            stationary: Boolean, flush: Boolean,
                            ckpt: Option[graft.ckpt.CheckpointManager])(
      init: Init,
      more: (Int, Long) => Boolean,
      gather: (Step, KernelPartition, GatherInputs, Tile) => Array[Byte],
      absorb: (Step, Iterator[((Int, Int), Array[Byte])], KernelPartition, PartState) => PartState)
      : KernelResult = {
    val P = parts
    val tag = s"$name-kernel"
    val metrics = ArrayBuffer.empty[IterMetrics]
    val resumed = ckpt.flatMap(c => c.latestIter().map(i => (i, c.load(spark, i, tag))))
    val gaps = sc.collectionAccumulator[(Int, Int, Long)]
    var state: RDD[PartState] = resumed
      .map { case (_, df) => stateFromDF(width, columns, df, init, gaps) }
      .getOrElse(kernel.map(initState(_, width, init)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize + read the initial frontier in one exactly-once job
    // (plus the hub snapshot for mirror slots on a salted compile)
    val (active0, hub0) = countAndHarvest(state, width)
    // raised after the job, so a foreign vid (thrown in-task) wins the diagnosis
    gaps.value.asScala.minByOption(_._1).foreach { case (p, k, v) =>
      throw new IllegalArgumentException(s"the checkpoint lacks $k of kernel partition $p's " +
        s"vertices (e.g. vid $v) — resuming from a checkpoint of a different edge table?")
    }
    var active = active0
    var hubBc = if (hub0 != null) sc.broadcast(hub0) else null
    var prev: RDD[PartState] = null
    val start = resumed.map(_._1).getOrElse(0)
    var iter = start
    var saved = if (resumed.isDefined) start else -1 // the last iter on disk
    def save(c: graft.ckpt.CheckpointManager): Unit = {
      c.save(tag, iter, stateDF(width, columns, state), partRows, metrics.toSeq)
      saved = iter
    }

    def superstep(flushStep: Boolean): Unit = {
      val t0 = System.nanoTime()
      val step = Step(iter, active, fresh = iter == start, flushStep)
      val hubBcLocal = hubBc
      // stage 1: packed byte arrays take the serializer's bulk path
      // (a block copy), where a boxed record pays elementwise
      // object-stream writes — measured 10-20× the kernel's actual
      // compute time at local[32]
      val msgs: RDD[((Int, Int), Array[Byte])] =
        kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
          val kp = kIt.next(); val ps = sIt.next()
          val p = TaskContext.getPartitionId()
          val in = combinedInputs(kp, ps, width,
            if (hubBcLocal == null) null else hubBcLocal.value)
          Iterator.range(0, P).flatMap { q =>
            val t = kp.tiles(q)
            val out = if (t == null) null else gather(step, kp, in, t)
            if (out == null) Iterator.empty else Iterator.single(((q, p), out))
          }
        }
      // exchange + stage 2: the (q, p) key routes by q and sorts by p
      // (spill-capable), so tiles stream in source-partition order
      val newState = msgs.repartitionAndSortWithinPartitions(tilePart)
        .zipPartitions(kernel, state, preservesPartitioning = false) { (mIt, kIt, sIt) =>
          Iterator.single(absorb(step, mIt, kIt.next(), sIt.next()))
        }.persist(StorageLevel.MEMORY_AND_DISK)

      // RDD lineage grows one zip+shuffle layer per iteration —
      // truncate periodically so task closures stay O(1)
      if ((iter + 1) % LineageTruncateEvery == 0)
        newState.localCheckpoint()
      // the ONE action per superstep: materializes newState AND
      // returns each partition's changed count from the successful
      // task attempt — exactly-once under retries (a recomputed
      // partition returns its own deterministic count; nothing
      // accumulates across attempts).
      sc.setJobGroup(s"graft-superstep-$iter", s"$name superstep $iter",
        interruptOnCancel = false)
      val (nActive, hubNew) =
        try countAndHarvest(newState, width)
        finally sc.clearJobGroup() // ckpt/export jobs are NOT the superstep
      active = nActive
      if (hubNew != null) {
        // the old snapshot served this superstep's stage 1, which the
        // job above has fully materialized — safe to release now
        val old = hubBc
        hubBc = sc.broadcast(hubNew)
        if (old != null) old.unpersist(false)
      }
      if (prev != null) prev.unpersist(false)
      prev = state
      state = newState
      iter += 1
      metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000,
        if (stationary) numVertices else step.active)
    }

    while (numVertices > 0 && more(iter, active)) {
      superstep(flushStep = false)
      ckpt.filter(_.shouldCheckpoint(iter)).foreach(save)
    }
    if (iter != saved) ckpt.foreach(save) // the final snapshot
    if (flush && numVertices > 0) superstep(flushStep = true)

    // deterministic checksum: per-partition sums folded in partition
    // order (first state column, NaN skipped)
    val checksum = sc.runJob(state, (it: Iterator[PartState]) => {
      val vs = it.next().values
      Iterator.range(0, vs.length / width).map(i => vs(i * width))
        .filterNot(_.isNaN).foldLeft(0.0)(_ + _)
    }).foldLeft(0.0)(_ + _)
    // SELF-CONTAINED result: materialize the export as an eager
    // localCheckpoint, then drop the loop's internal state blocks —
    // the returned frame never depends on kernel/state lineage, so
    // the caller may unpersist() the CompiledGraph in any order.
    // Release the result itself with Engine.release(result.state).
    val df = stateDF(width, columns, state).localCheckpoint(true)
    state.unpersist(false)
    if (prev != null) prev.unpersist(false)
    if (hubBc != null) hubBc.unpersist(false)
    KernelResult(df, iter, metrics.toSeq, checksum)
  }

  /** Any [[KernelProgram]] on the shared loop: SpMV gather and
    * Sum/Min fold + apply. `maxIters > 0` = fixed budget (the
    * per-vertex convergence check is disabled for stationary
    * programs, vp:412-413; an empty frontier still ends a
    * nonstationary run — further supersteps are provably no-ops);
    * 0 = run until no vertex changed. `ckpt` resumes from the latest
    * complete snapshot and saves every `ckpt.every` supersteps plus a
    * final snapshot, unless that iteration is already on disk. */
  def run(program: KernelProgram, maxIters: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult = {
    val width = program.width
    val stationary = program.stationary
    val sum = program.combineOp eq KernelProgram.Sum
    val identity = program.combineOp.identity
    val eop = program.edgeOp match {
      case KernelProgram.MsgOnly => 0
      case KernelProgram.MulW => 1
      case KernelProgram.AddW => 2
    }
    val flushing = program.flush
    superstepLoop(program.name, width, program.columns, stationary, flushing != null, ckpt)(
      init = program.init,
      more = (iter, active) =>
        if (maxIters > 0) iter < maxIters && (stationary || active > 0)
        else active > 0,
      // per tile: dense accumulate or sparse assemble, then pack
      gather = (step, kp, in, t) => {
        val prog = if (step.flush) flushing else program
        val values = in.values; val vids = in.vids; val invDeg = kp.invDeg
        val srcSlots = t.srcSlots; val offsets = t.offsets
        val dstLocal = t.dstLocal; val w = t.weights
        if (stationary) {
          // dense loop over every source row (SpMV)
          val acc = new Array[Double](t.nDsts)
          if (!sum) java.util.Arrays.fill(acc, identity)
          var i = 0
          while (i < srcSlots.length) {
            val slot = srcSlots(i)
            val msg = prog.message(vids(slot), values, slot * width, invDeg(slot))
            accumRow(acc, dstLocal, w, offsets(i), offsets(i + 1), msg, sum, eop)
            i += 1
          }
          packDense(acc)
        } else {
          // frontier pass: find the tile's active rows first
          // (a bit-test scan of srcSlots — ~1 ns/row; rows
          // with no active source skip ALL per-edge work)
          val rowsB = new scala.collection.mutable.ArrayBuilder.ofInt
          var aEdges = 0L
          var i = 0
          while (i < srcSlots.length) {
            if (bitGet(in.active, srcSlots(i))) {
              rowsB += i; aEdges += offsets(i + 1) - offsets(i)
            }
            i += 1
          }
          val rows = rowsB.result()
          if (rows.isEmpty) null
          else if (aEdges >= t.nDsts.toLong / 4) {
            // dense-enough frontier: same dense accumulate,
            // then pack sparse iff that ships fewer bytes
            val acc = new Array[Double](t.nDsts)
            if (!sum) java.util.Arrays.fill(acc, identity)
            var r = 0
            while (r < rows.length) {
              val i2 = rows(r); val slot = srcSlots(i2)
              val msg = prog.message(vids(slot), values, slot * width, invDeg(slot))
              accumRow(acc, dstLocal, w, offsets(i2), offsets(i2 + 1), msg, sum, eop)
              r += 1
            }
            packBest(acc, identity)
          } else {
            // true SpMSpV: assemble (dst, value) pairs from
            // the frontier edges only — no nDsts-sized
            // touch at all (tcsc_spmspv2.hpp's sparse y)
            packSparseAssembled(rows, srcSlots, offsets, dstLocal, w,
              vids, values, invDeg, width, aEdges.toInt, sum, eop, prog)
          }
        }
      },
      // fold the tiles into the V/P-sized y vector, then apply
      absorb = (step, tiles, kp, old) => {
        val n = kp.vids.length
        val y = new Array[Double](n)
        if (!sum) java.util.Arrays.fill(y, identity)
        var scratchD = new Array[Double](0)
        var scratchI = new Array[Int](0)
        tiles.foreach { case ((_, p), bytes) =>
          val slots = kp.inSlots(p)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val dense = bb.getInt(0) == FmtDense; val cnt = bb.getInt(4)
          if (scratchD.length < cnt) {
            scratchD = new Array[Double](cnt); scratchI = new Array[Int](cnt)
          }
          // one bulk copy back out per array: sparse indices, then values
          if (!dense) { bb.position(8); bb.asIntBuffer().get(scratchI, 0, cnt) }
          bb.position(if (dense) 8 else 8 + 4 * cnt)
          bb.asDoubleBuffer().get(scratchD, 0, cnt)
          var t = 0
          while (t < cnt) {
            val s = slots(if (dense) t else scratchI(t)); val v = scratchD(t)
            if (sum) y(s) += v else if (v < y(s)) y(s) = v
            t += 1
          }
        }
        // apply over EVERY slot (y = identity where silent): a vertex
        // that heard nothing still runs its applicator
        val nv = old.values.clone()
        val bits = new Array[Long]((n + 63) >>> 6)
        var changed = 0L
        var i = 0
        while (i < n) {
          if (program.apply(nv, i * width, y(i), step.iter)) {
            bits(i >>> 6) |= 1L << (i & 63); changed += 1
          }
          i += 1
        }
        PartState(nv, bits, changed)
      })
  }

  /** Frequency-based label propagation on the compiled tiles — the
    * north_rule's fourth algorithm on the kernel fast path. LPA's
    * mode combiner is a MULTISET aggregate, not a scalar, so it does
    * not fit the KernelProgram Sum/Min contract; it brings its own
    * pass pair to the shared loop:
    *
    *  - gather pre-aggregates each tile into (dstLocal, label,
    *    ±count) triples ([[LabelCounts.packLabelDeltas]]) — the
    *    analog of Catalyst's map-side partial count;
    *  - absorb buckets the incoming triples by slot and merges them
    *    into a PERSISTENT per-(slot, label) count store
    *    ([[SlotCounts]]), then re-arg-maxes every slot it fed.
    *
    * A superstep runs FULL or INCREMENTAL through that one path. A
    * full superstep ships +1 per edge for every source's label and
    * merges from empty counts. An incremental one ships (+newLabel,
    * −prevLabel) only from sources whose label changed last
    * superstep and merges into the previous counts, so only touched
    * destinations re-arg-max — O(changed-edge) work and exchange
    * instead of O(E), shrinking with the frontier exactly like the
    * scalar SpMSpV mode. The counts always equal the full recount
    * (every −1 removes a contribution a prior +1 added), and an
    * untouched destination's mode cannot have moved, so labels AND
    * iteration counts are identical either way. Incremental needs
    * the previous superstep's counts (so never right after init or
    * resume) and ships TWO contributions per changed-source edge
    * where full ships one per edge — cheaper only once under half
    * the vertices still change, hence the active·2 ≤ V gate.
    * `incremental = false` forces full supersteps (the A/B twin the
    * bench's full-only row and the parity spec use).
    *
    * The arg-max uses a deterministic tie-break (max count, then min
    * label); counts are integers and label ids exact below 2^53
    * (checked at init), so the result is bit-reproducible regardless
    * of tile arrival order. The mode must see ALL in-neighbor labels
    * (which is why the COUNTS are maintained rather than any message
    * skipped), a vertex with no in-messages keeps its label, and the
    * loop stops when no label changed or after `maxIters` supersteps
    * (0 runs none: synchronous LPA need not settle). Compile the
    * UNDIRECTED deduped shape first (GraphShaping), or use
    * algos.LabelPropagation.run, which does both. */
  def lpa(maxIters: Int,
          ckpt: Option[graft.ckpt.CheckpointManager] = None,
          incremental: Boolean = true): KernelResult = {
    val nV = numVertices
    val incr = (s: Step) => incremental && !s.fresh && s.active * 2 <= nV
    // Internal state is TWO doubles per slot: [label, prevLabel].
    // prevLabel (NaN = none) is what the incremental delta pass must
    // remove from the destination counts when a source changed; it is
    // never exported or checkpointed, and resumes as NaN (the first
    // superstep after a resume runs full)
    superstepLoop("lpa", 2, Seq("label"), stationary = true, flush = false, ckpt)(
      init = (vid, _, values, base) => {
        KernelProgram.checkExactVid(vid, "lpa")
        values(base) = vid.toDouble
        values(base + 1) = Double.NaN
        true
      },
      more = (iter, active) => active > 0 && iter < maxIters,
      gather = (step, _, in, t) => LabelCounts.packLabelDeltas(t, in.values,
        if (incr(step)) in.active else null, new LongTable(64)),
      absorb = (step, tiles, kp, old) => {
        val n = kp.vids.length
        val fed = LabelCounts.bucketBySlot(n, tiles, kp.inSlots)
        val base = if (incr(step)) old.counts else SlotCounts.empty(n)
        val counts = base.merged(fed, new LongTable(64))
        // arg-max every fed slot with the deterministic tie-break (max
        // count, min label). An unfed slot's mode is unchanged by
        // construction, and a slot with no live label keeps its label.
        val nv = old.values.clone()
        val bits = new Array[Long]((n + 63) >>> 6)
        var changed = 0L
        var slot = 0
        while (slot < n) {
          if (fed.offsets(slot + 1) > fed.offsets(slot)) {
            val bestBits = counts.argmax(slot)
            if (bestBits != Long.MinValue) {
              val best = java.lang.Double.longBitsToDouble(bestBits)
              if (best != nv(slot * 2)) {
                nv(slot * 2 + 1) = nv(slot * 2)
                nv(slot * 2) = best
                bits(slot >>> 6) |= 1L << (slot & 63)
                changed += 1
              }
            }
          }
          slot += 1
        }
        PartState(nv, bits, changed, counts)
      })
  }

  def unpersist(): Unit = kernel.unpersist(false)
}

private object CompiledGraph {
  /** Supersteps between truncations of the state RDD's lineage. */
  private final val LineageTruncateEvery = 20

  /** Per-superstep hub-state snapshot for mirror slots: vid →
    * (state values, active bit). Bounded by the number of salted
    * hubs (≤ 4·parts in auto mode) — a few KB of driver traffic
    * riding the job that already returns the convergence count. */
  private type HubStates = scala.collection.Map[Long, (Array[Double], Boolean)]

  /** [[KernelProgram.init]]'s shape: (vid, hasIn, values, base) → active. */
  private type Init = (Long, Boolean, Array[Double], Int) => Boolean

  /** A partition's fresh state: `init` on every owned slot, told
    * whether the slot receives an edge, i.e. whether some source
    * partition's tile lists it in `inSlots`. */
  private def initState(kp: KernelPartition, width: Int, init: Init): PartState = {
    val n = kp.vids.length
    val hasIn = new Array[Long]((n + 63) >>> 6)
    kp.inSlots.foreach(s => if (s != null) s.foreach(i => hasIn(i >>> 6) |= 1L << (i & 63)))
    val values = new Array[Double](n * width)
    val bits = new Array[Long]((n + 63) >>> 6)
    var changed = 0L
    var i = 0
    while (i < n) {
      if (init(kp.vids(i), bitGet(hasIn, i), values, i * width)) {
        bits(i >>> 6) |= 1L << (i & 63); changed += 1
      }
      i += 1
    }
    PartState(values, bits, changed)
  }

  /** Combined (owned ++ mirror) views of a partition's superstep
    * inputs for the stage-1 tile loop. Identity (no copies) when the
    * partition has no mirrors; otherwise the mirror tail is filled
    * from the hub broadcast. O(V/P) per partition per superstep —
    * the same order as the value scan stage 1 does anyway. Static so
    * the task closure never captures the CompiledGraph. */
  private def combinedInputs(kp: KernelPartition, ps: PartState, width: Int,
                             hub: HubStates): GatherInputs = {
    val nMir = kp.mirrorVids.length
    if (nMir == 0) GatherInputs(ps.values, ps.active, kp.vids)
    else {
      val nOwned = kp.vids.length
      val cv = java.util.Arrays.copyOf(ps.values, (nOwned + nMir) * width)
      val ca = java.util.Arrays.copyOf(ps.active, (nOwned + nMir + 63) >>> 6)
      val cvids = java.util.Arrays.copyOf(kp.vids, nOwned + nMir)
      var m = 0
      while (m < nMir) {
        val v = kp.mirrorVids(m)
        val (vals, act) = hub(v)
        System.arraycopy(vals, 0, cv, (nOwned + m) * width, width)
        if (act) {
          val s = nOwned + m
          ca(s >>> 6) |= 1L << (s & 63)
        }
        cvids(nOwned + m) = v
        m += 1
      }
      GatherInputs(cv, ca, cvids)
    }
  }

  /** Per-row edge-combine into a dense accumulator — the specialized
    * inner loops (one per combiner × edge-op × weightedness) the
    * reference gets from template instantiation. One call per source
    * ROW; the loops themselves are monomorphic primitive code. */
  private def accumRow(acc: Array[Double], dstLocal: Array[Int],
                       w: Array[Double], from: Int, until: Int,
                       msg: Double, sum: Boolean, eop: Int): Unit = {
    var e = from
    if (sum) {
      if (eop == 2) { // AddW
        if (w == null) while (e < until) { acc(dstLocal(e)) += msg + 1.0; e += 1 }
        else while (e < until) { acc(dstLocal(e)) += msg + w(e); e += 1 }
      } else if (eop == 1 && w != null) { // MulW weighted
        while (e < until) { acc(dstLocal(e)) += msg * w(e); e += 1 }
      } else { // MsgOnly, or MulW with w ≡ 1
        while (e < until) { acc(dstLocal(e)) += msg; e += 1 }
      }
    } else { // min
      if (eop == 2) {
        if (w == null) while (e < until) {
          val d = dstLocal(e); val v = msg + 1.0
          if (v < acc(d)) acc(d) = v
          e += 1
        }
        else while (e < until) {
          val d = dstLocal(e); val v = msg + w(e)
          if (v < acc(d)) acc(d) = v
          e += 1
        }
      } else if (eop == 1 && w != null) {
        while (e < until) {
          val d = dstLocal(e); val v = msg * w(e)
          if (v < acc(d)) acc(d) = v
          e += 1
        }
      } else {
        while (e < until) {
          val d = dstLocal(e)
          if (msg < acc(d)) acc(d) = msg
          e += 1
        }
      }
    }
  }
}
