package graft.graph

import org.apache.spark.{HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import graft.ckpt.IterMetrics
import graft.graph.TilePacks._

/** Tile-compiled kernel fast path for the superstep loop — the "drive
  * the loop below Catalyst" half of the engine, generalized to the
  * full [[KernelProgram]] (5-virtuals) contract with BOTH execution
  * modes of the reference's app family:
  *
  *  - STATIONARY SpMV (PR, Degree): every source row of every tile
  *    contributes every superstep (reference csc_spmv.hpp;
  *    vp:688-861);
  *  - NONSTATIONARY SpMSpV (CC, BFS, SSSP): only rows whose vertex
  *    changed last superstep contribute — the frontier rides a
  *    per-partition BITSET over state slots (the reference's activity
  *    bits XI/XV, vp:711-784; single-node tcsc_spmspv2.hpp:81-531),
  *    and each tile ships its accumulator SPARSE ([idx…][val…]) when
  *    that is smaller than the dense double array;
  *  - plus [[CompiledGraph.lpa]]: frequency LPA's mode combiner is a
  *    multiset, not a scalar monoid, so it runs as its own stage pair
  *    over the same tiles (label-count triple exchange) — the whole
  *    reference app family runs compiled.
  *
  * The DataFrame Engine (graph/Engine.scala) re-analyzes, re-plans and
  * re-launches a Catalyst job every superstep; the plan is IDENTICAL
  * every iteration (PLAN.md), so at small per-superstep runtimes the
  * fixed driver barrier (~0.3-0.5 s of planning + task launch at
  * local[32]) dominates, and inside the stages the generic hash
  * aggregate pays a DRAM-random probe per edge. This kernel is the
  * reference's answer re-expressed on Spark RDDs: GraphTap compiles
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
  *  - each superstep is ONE two-stage RDD job:
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
  *        its V/P-sized y vector, and runs program.apply in place.
  *    No Catalyst, no per-iteration planning; driver overhead per
  *    superstep is one job submission (~10 ms class).
  *  - the per-superstep changed/frontier count is returned THROUGH the
  *    job (`sc.runJob` reading each partition's counter from the
  *    materialized state) — exactly-once under task retry, matching
  *    the Engine's `observe()` exactness, where the previous
  *    accumulator could over-count a retried stage.
  *
  * Scale shape at 100 TB: the per-superstep exchange is bounded by
  * Σ_pq |distinct dsts of tile (p,q)| doubles ≤ min(E, P·V) — the same
  * V-bounded exchange as the DataFrame path, but packed, and on a
  * shrinking frontier it degrades further to O(frontier-edges);
  * per-tile accumulators are V/P-sized (or frontier-sized), so
  * executor memory per task stays flat as P grows with the cluster.
  * Known trade-off vs the salted DataFrame path: edges partition by
  * hash(src), so a pathological hub vertex concentrates its out-edges
  * in one partition (the DataFrame engine salts those rows; the
  * reference's 2D grid has the matching limitation per rank row).
  * `edgeImbalance` reports the realized skew; the DataFrame engine
  * remains the general path (arbitrary Column-expression programs).
  */
object SpmvKernel {

  /** splitmix64 finalizer — the deterministic spread for salted-hub
    * chunk routing (public-domain constant, same family as LongTable's
    * probe hash). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Identity partitioner for pre-bucketed (Int-keyed) tile traffic. */
  private final class IdPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Routes ((q, p), bytes) tile messages to partition q; the p half
    * of the key drives the reduce-side sort that makes the fold order
    * deterministic. */
  private final class TileKeyPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1
    override def equals(o: Any): Boolean = o match {
      case p: TileKeyPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** One packed edge chunk of the compile exchange: parallel primitive
    * arrays instead of per-edge (Long,(Long,Double)) tuples — the
    * serializer sees ~P² array records rather than E boxed tuples
    * (same packing idea as the superstep accumulator exchange), which
    * is equally fast under the SQL session's default JavaSerializer
    * (the per-query compiles) and under the probes' Kryo. */
  private[graph] final case class EdgeChunk(
      srcs: Array[Long], dsts: Array[Long], ws: Array[Double]) // ws null → unweighted

  /** P per-target EdgeChunk builders — the one bucketing loop of the
    * compile scan, the hub re-route and compilePartition's
    * per-destination split. `drain(q)` releases q's builders as it hands
    * out the chunk: result() copies, so holding a drained builder
    * doubles the chunk's bytes; across all P builders that peak OOM'd an
    * 8-partition compile of the 460M-edge table (each partition stages
    * E/8 edges through these buffers). */
  private final class ChunkBuilder(P: Int, weighted: Boolean) {
    private val bS = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
    private val bD = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
    private val bW = if (weighted) Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofDouble) else null
    def add(q: Int, s: Long, d: Long, w: Double): Unit = {
      bS(q) += s; bD(q) += d
      if (bW != null) bW(q) += w
    }
    /** q's chunk, or null when no edge went to q. */
    def drain(q: Int): EdgeChunk = {
      val ss = bS(q).result(); bS(q) = null
      val dd = bD(q).result(); bD(q) = null
      val ww = if (bW != null) { val w = bW(q).result(); bW(q) = null; w } else null
      if (ss.isEmpty) null else EdgeChunk(ss, dd, ww)
    }
    def chunks: Iterator[(Int, EdgeChunk)] = Iterator.range(0, P).flatMap { q =>
      val c = drain(q)
      if (c == null) Iterator.empty else Iterator.single((q, c))
    }
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
    * matrix.hpp:562-687, answered the way Adjacency.scala:89-105 salts
    * the DataFrame CSR): a source whose out-degree exceeds the compile
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

  /** Combined (owned ++ mirror) views of a partition's superstep
    * inputs for the stage-1 tile loop. Identity (no copies) when the
    * partition has no mirrors; otherwise the mirror tail is filled
    * from the hub broadcast. O(V/P) per partition per superstep —
    * the same order as the value scan stage 1 does anyway. Static so
    * the task closure never captures the CompiledGraph. */
  private def combinedInputs(kp: KernelPartition, ps: PartState, width: Int,
                             hub: scala.collection.Map[Long, (Array[Double], Boolean)])
      : (Array[Double], Array[Long], Array[Long]) = {
    val nMir = kp.mirrorVids.length
    if (nMir == 0) (ps.values, ps.active, kp.vids)
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
      (cv, ca, cvids)
    }
  }

  final case class KernelResult(state: DataFrame, iterations: Int,
                                metrics: Seq[IterMetrics], checksum: Double)

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

  /** Compiled graph handle: `run` any [[KernelProgram]] (or the
    * `pagerank` convenience) any number of times; call `unpersist()`
    * when done with the graph. Construct via [[SpmvKernel.compile]] or
    * [[CompiledGraphCache.compileOrLoad]]. */
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
    private val tilePart = new TileKeyPartitioner(parts)
    private def hasMirrors: Boolean = mirrorCount > 0

    /** Per-superstep hub-state snapshot for mirror slots: vid →
      * (state values, active bit). Bounded by the number of salted
      * hubs (≤ 4·parts in auto mode) — a few KB of driver traffic
      * riding the job that already returns the convergence count. */
    private type HubStates = scala.collection.Map[Long, (Array[Double], Boolean)]

    /** Materialize a state RDD and return (Σ changed, hub snapshot).
      * The count rides the successful task attempts (exactly-once
      * under retry, same contract as before); the hub snapshot is
      * harvested in the same job when the compile salted any hubs,
      * and is null otherwise — the unsalted path is byte-identical
      * to the pre-salting loop. */
    private def countAndHarvest(state: RDD[PartState], width: Int): (Long, HubStates) =
      if (!hasMirrors)
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

    /** Out-degree per vertex straight off the compiled matrix — no
      * superstep, no shuffle: every partition owns its source rows
      * (the reference reuses its compiled matrix for the degree phase
      * the same way, pr.cpp:40-49). Vertices with no out-edges are
      * absent, matching algos.Degree.out. */
    def outDegrees: DataFrame = {
      val sp = spark
      import sp.implicits._
      kernel.mapPartitions { kIt =>
        val kp = kIt.next()
        Iterator.range(0, kp.vids.length)
          .filter(i => kp.deg(i) > 0)
          .map(i => (kp.vids(i), kp.deg(i)))
      }.toDF("vid", "degree")
    }

    /** In-degree via ONE kernel superstep (messenger ≡ 1, sum — the
      * reference Deg_Program, deg.h:32-52) — the degree mode of the
      * compiled path. Matches algos.Degree.in. */
    def inDegrees: DataFrame = {
      import org.apache.spark.sql.functions._
      val r = run(new DegreeKernelProgram, maxIters = 1)
      r.state.filter(col("degree") > 0)
        .select(col("vid"), col("degree").cast("long").as("degree"))
    }

    /** Re-assert the 2^53 exact-id window over the compiled vids (they
      * are sorted per partition, so first/last suffice) — the resume
      * path's twin of the per-vertex init() check, which never runs on
      * a checkpoint resume. One tiny job over the cached tiles. */
    private def requireExactVids(program: String): Unit =
      kernel.map(kp =>
        if (kp.vids.isEmpty) null
        else (kp.vids(0), kp.vids(kp.vids.length - 1)))
        .collect().filter(_ != null).foreach { case (lo, hi) =>
          KernelProgram.checkExactVid(lo, program)
          KernelProgram.checkExactVid(hi, program)
        }

    /** Re-slot a saved state frame into the kernel's partition layout —
      * the resume half of the checkpoint contract. Nulls become NaN;
      * a missing `changed` column means all-active (only legacy
      * pagerank snapshots, a stationary program, lack it). Takes the
      * raw state shape (width, column names) so non-scalar programs
      * (the LPA mode) share the same resume path. */
    private def stateFromDF(width: Int, stateCols: Seq[String], df: DataFrame): RDD[PartState] = {
      val hp = new HashPartitioner(parts)
      // explicit casts: the manifest algo check rejects cross-ALGORITHM
      // resumes, but a same-algo snapshot written with different column
      // types (e.g. a long-typed label) must still read as the doubles
      // the kernel stores — ir.getDouble on a LONG column would
      // otherwise reinterpret raw bits
      val cols = "CAST(vid AS BIGINT) AS vid" +:
        stateCols.map(c => s"CAST($c AS DOUBLE) AS $c")
      val hasChanged = df.columns.contains("changed")
      val sel = if (hasChanged) cols :+ "CAST(changed AS BOOLEAN) AS changed" else cols
      val keyed = df.selectExpr(sel: _*).queryExecution.toRdd
        .map { ir =>
          val vs = new Array[Double](width)
          var c = 0
          while (c < width) {
            vs(c) = if (ir.isNullAt(1 + c)) Double.NaN else ir.getDouble(1 + c)
            c += 1
          }
          val act = !hasChanged || ir.getBoolean(1 + width)
          (ir.getLong(0), (vs, act))
        }
        .partitionBy(hp)
      kernel.zipPartitions(keyed, preservesPartitioning = false) { (kIt, rIt) =>
        val kp = kIt.next()
        val n = kp.vids.length
        val slot = LongTable.positions(kp.vids)
        val values = new Array[Double](n * width)
        val bits = new Array[Long]((n + 63) >>> 6)
        var changed = 0L
        rIt.foreach { case (v, (vs, act)) =>
          // reachable from user input: a snapshot of a different graph
          // carries vids this compile never slotted
          val s = slot.get(v, -1L).toInt
          if (s < 0) throw new IllegalArgumentException(
            s"vid $v is not present in the compiled graph " +
              "(resuming from a checkpoint of a different edge table?)")
          System.arraycopy(vs, 0, values, s * width, width)
          if (act) { bits(s >>> 6) |= 1L << (s & 63); changed += 1 }
        }
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
      * [[PrKernelProgram]] for the math. Kept as the named entry point
      * (Bench/Apps/specs); delegates to the generalized loop. */
    def pagerank(maxIters: Int, alpha: Double = 0.15, tol: Double = 1e-5,
                 lineageTruncateEvery: Int = 20,
                 ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult =
      run(new PrKernelProgram(alpha, tol), maxIters, lineageTruncateEvery, ckpt)

    /** The generalized superstep loop. `maxIters > 0` = fixed budget
      * (the per-vertex convergence check is disabled for stationary
      * programs, vp:412-413; an empty frontier still ends a
      * nonstationary run — further supersteps are provably no-ops);
      * 0 = run until no vertex changed. `ckpt` gives the fast path the
      * same durable resume contract as the Engine loop. */
    def run(program: KernelProgram, maxIters: Int,
            lineageTruncateEvery: Int = 20,
            ckpt: Option[graft.ckpt.CheckpointManager] = None): KernelResult = {
      val P = parts
      val width = program.width
      val sum = program.combineOp eq KernelProgram.Sum
      val identity = program.combineOp.identity
      val eop = program.edgeOp match {
        case KernelProgram.MsgOnly => 0
        case KernelProgram.MulW => 1
        case KernelProgram.AddW => 2
      }
      val stationary = program.stationary
      val metrics = ArrayBuffer.empty[IterMetrics]

      val resumed = ckpt.flatMap(c => c.latestIter().map(i =>
        (i, c.load(spark, i, s"${program.name}-kernel"))))
      if (resumed.isDefined && program.requiresExactVids) requireExactVids(program.name)
      var state: RDD[PartState] = resumed
        .map { case (_, df) => stateFromDF(width, program.columns, df) }
        .getOrElse(kernel.map { kp =>
          val n = kp.vids.length
          val values = new Array[Double](n * width)
          val bits = new Array[Long]((n + 63) >>> 6)
          var changed = 0L
          var i = 0
          while (i < n) {
            if (program.init(kp.vids(i), values, i * width)) {
              bits(i >>> 6) |= 1L << (i & 63); changed += 1
            }
            i += 1
          }
          PartState(values, bits, changed)
        })
        .persist(StorageLevel.MEMORY_AND_DISK)
      // materialize + read the initial frontier in one exactly-once job
      // (plus the hub snapshot for mirror slots on a salted compile)
      val init0 = countAndHarvest(state, width)
      var active = init0._1
      var hubBc: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, (Array[Double], Boolean)]] =
        if (init0._2 != null) sc.broadcast(init0._2) else null
      var prev: RDD[PartState] = null
      var iter = resumed.map(_._1).getOrElse(0)

      def keepGoing: Boolean =
        if (numVertices == 0) false
        else if (maxIters > 0) iter < maxIters && (stationary || active > 0)
        else active > 0

      while (keepGoing) {
        val t0 = System.nanoTime()
        val frontier = if (stationary) numVertices else active
        // GRAFT_KERNEL_PROFILE=1 → split pure tile-compute ns from the
        // framework residue (iterator/serialization/shuffle); profiling
        // only — retry-inflation is acceptable here, unlike the
        // convergence count below, which rides the job result.
        val profAcc =
          if (sys.env.contains("GRAFT_KERNEL_PROFILE"))
            Some(sc.longAccumulator(s"graft_spmv_compute_ns_$iter"))
          else None

        // ---- stage 1: per-tile gather — dense accumulate or sparse
        // assemble, then pack. Packed byte arrays take the serializer's
        // bulk path (a block copy), where a boxed record pays
        // elementwise object-stream writes — measured 10-20× the
        // kernel's actual compute time at local[32].
        val hubBcLocal = hubBc
        val msgs: RDD[((Int, Int), Array[Byte])] =
          kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
            val kp = kIt.next(); val ps = sIt.next()
            val p = TaskContext.getPartitionId()
            val (values, act, vids) = combinedInputs(kp, ps, width,
              if (hubBcLocal == null) null else hubBcLocal.value)
            val invDeg = kp.invDeg
            Iterator.range(0, P).flatMap { q =>
              val t = kp.tiles(q)
              if (t == null) Iterator.empty
              else {
                val c0 = if (profAcc.isDefined) System.nanoTime() else 0L
                val srcSlots = t.srcSlots; val offsets = t.offsets
                val dstLocal = t.dstLocal; val w = t.weights
                val out: Array[Byte] =
                  if (stationary) {
                    // dense loop over every source row (SpMV)
                    val acc = new Array[Double](t.nDsts)
                    if (!sum) java.util.Arrays.fill(acc, identity)
                    var i = 0
                    while (i < srcSlots.length) {
                      val slot = srcSlots(i)
                      val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
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
                      if (bitGet(act, srcSlots(i))) {
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
                        val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
                        accumRow(acc, dstLocal, w, offsets(i2), offsets(i2 + 1), msg, sum, eop)
                        r += 1
                      }
                      packBest(acc, identity)
                    } else {
                      // true SpMSpV: assemble (dst, value) pairs from
                      // the frontier edges only — no nDsts-sized
                      // touch at all (tcsc_spmspv2.hpp's sparse y)
                      packSparseAssembled(rows, srcSlots, offsets, dstLocal, w,
                        vids, values, invDeg, width, aEdges.toInt, sum, eop, program)
                    }
                  }
                profAcc.foreach(_.add(System.nanoTime() - c0))
                if (out == null) Iterator.empty else Iterator.single(((q, p), out))
              }
            }
          }

        // ---- exchange + stage 2: the (q, p) key routes by q and sorts
        // by p on the reduce side (spill-capable), so the fold below
        // streams tiles in deterministic source-partition order with
        // O(tile) — not O(V) — transient memory.
        val shuffled = msgs.repartitionAndSortWithinPartitions(tilePart)
        val newState = shuffled.zipPartitions(kernel, state,
          preservesPartitioning = false) { (mIt, kIt, sIt) =>
          val kp = kIt.next(); val old = sIt.next()
          val n = kp.vids.length
          val y = new Array[Double](n)
          if (!sum) java.util.Arrays.fill(y, identity)
          var scratchD = new Array[Double](0)
          var scratchI = new Array[Int](0)
          mIt.foreach { case ((_, p), bytes) =>
            val slots = kp.inSlots(p)
            val bb = java.nio.ByteBuffer.wrap(bytes)
            val fmt = bb.getInt(0); val cnt = bb.getInt(4)
            bb.position(8)
            if (fmt == FmtDense) {
              if (scratchD.length < cnt) scratchD = new Array[Double](cnt)
              bb.asDoubleBuffer().get(scratchD, 0, cnt) // one bulk copy back out
              var t = 0
              if (sum) while (t < cnt) { y(slots(t)) += scratchD(t); t += 1 }
              else while (t < cnt) {
                val s = slots(t); val v = scratchD(t)
                if (v < y(s)) y(s) = v
                t += 1
              }
            } else {
              if (scratchI.length < cnt) scratchI = new Array[Int](cnt)
              if (scratchD.length < cnt) scratchD = new Array[Double](cnt)
              bb.asIntBuffer().get(scratchI, 0, cnt)
              bb.position(8 + 4 * cnt)
              bb.asDoubleBuffer().get(scratchD, 0, cnt)
              var t = 0
              if (sum) while (t < cnt) { y(slots(scratchI(t))) += scratchD(t); t += 1 }
              else while (t < cnt) {
                val s = slots(scratchI(t)); val v = scratchD(t)
                if (v < y(s)) y(s) = v
                t += 1
              }
            }
          }
          // apply over EVERY slot (y = identity where silent), exactly
          // like the Engine's left-outer apply join
          val nv = old.values.clone()
          val bits = new Array[Long]((n + 63) >>> 6)
          var changed = 0L
          var i = 0
          while (i < n) {
            if (program.apply(nv, i * width, y(i), iter)) {
              bits(i >>> 6) |= 1L << (i & 63); changed += 1
            }
            i += 1
          }
          Iterator.single(PartState(nv, bits, changed))
        }.persist(StorageLevel.MEMORY_AND_DISK)

        // RDD lineage (unlike the Engine's per-superstep eager
        // localCheckpoint) grows one zip+shuffle layer per iteration —
        // truncate periodically so task closures stay O(1)
        if (lineageTruncateEvery > 0 && (iter + 1) % lineageTruncateEvery == 0)
          newState.localCheckpoint()
        // the ONE action per superstep: materializes newState AND
        // returns each partition's changed count from the successful
        // task attempt — exactly-once under retries (a recomputed
        // partition returns its own deterministic count; nothing
        // accumulates across attempts).
        sc.setJobGroup(s"graft-superstep-$iter", s"${program.name} superstep $iter",
          interruptOnCancel = false)
        val (nActive, hubNew) =
          try countAndHarvest(newState, width)
          finally sc.clearJobGroup() // ckpt/export jobs are NOT the superstep
        profAcc.foreach(a => System.err.println(
          s"[kernel-profile] iter=$iter computeMs=${a.value / 1000000}"))
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
        metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, frontier)
        ckpt.foreach { c =>
          if (c.shouldCheckpoint(iter))
            c.save(s"${program.name}-kernel", iter, stateDF(width, program.columns, state), metrics.toSeq)
        }
      }
      ckpt.foreach(c => c.save(s"${program.name}-kernel", iter, stateDF(width, program.columns, state), metrics.toSeq))

      // deterministic checksum: per-partition sums folded in partition
      // order (first state column, NaN skipped)
      val partSums = sc.runJob(state, (it: Iterator[PartState]) => {
        val ps = it.next()
        var s = 0.0
        var i = 0
        while (i * width < ps.values.length) {
          val v = ps.values(i * width)
          if (!v.isNaN) s += v
          i += 1
        }
        s
      })
      val checksum = partSums.foldLeft(0.0)(_ + _)
      // SELF-CONTAINED result: materialize the export as an eager
      // localCheckpoint, then drop the loop's internal state blocks —
      // the returned frame never depends on kernel/state lineage, so
      // the caller may unpersist() the CompiledGraph in any order.
      // Release the result itself with Engine.release(result.state).
      val df = stateDF(width, program.columns, state).localCheckpoint(true)
      state.unpersist(false)
      if (prev != null) prev.unpersist(false)
      if (hubBc != null) hubBc.unpersist(false)
      KernelResult(df, iter, metrics.toSeq, checksum)
    }

    /** Frequency-based label propagation on the compiled tiles — the
      * north_rule's fourth algorithm on the kernel fast path. LPA's
      * mode combiner is a MULTISET aggregate, not a scalar, so it does
      * not fit the KernelProgram Sum/Min contract; it gets its own
      * stage pair over the same tiles:
      *
      *  - stage 1 pre-aggregates each tile into (dstLocal, label,
      *    ±count) triples ([[LabelCounts.packLabelDeltas]]) — the
      *    analog of Catalyst's map-side partial count;
      *  - stage 2 buckets the incoming triples by slot and merges them
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
      * The arg-max uses the SAME deterministic tie-break as
      * algos.LabelPropagation (max count, then min label); counts are
      * integers and label ids exact below 2^53 (checked at init), so
      * the result is bit-reproducible regardless of tile arrival
      * order. Semantics match the Catalyst loop exactly: the mode
      * must see ALL in-neighbor labels (which is why the COUNTS are
      * maintained rather than any message skipped), a vertex with no
      * in-messages keeps its label, and the loop stops when no label
      * changed or at `maxIters`. Compile the UNDIRECTED deduped
      * shape first (GraphShaping — algos.LabelPropagation.run's
      * shaping), or use LabelPropagation.runKernel which does both. */
    def lpa(maxIters: Int, lineageTruncateEvery: Int = 20,
            ckpt: Option[graft.ckpt.CheckpointManager] = None,
            incremental: Boolean = true): KernelResult = {
      val P = parts
      val cols = Seq("label")
      // Internal state is TWO doubles per slot: [label, prevLabel].
      // prevLabel (NaN = none) is what the incremental delta pass must
      // remove from the destination counts when a source changed; it is
      // never exported (stateDF takes cols.length = 1 leading columns).
      val width = 2
      val metrics = ArrayBuffer.empty[IterMetrics]
      val resumed = ckpt.flatMap(c => c.latestIter().map(i =>
        (i, c.load(spark, i, "lpa-kernel"))))
      if (resumed.isDefined) requireExactVids("lpa")
      var state: RDD[PartState] = resumed
        .map { case (_, df) =>
          // snapshots carry (vid, label, changed) only; widen to
          // [label, NaN] — the full-mode superstep below rebuilds the
          // destination counts, so prev is not needed across a resume
          stateFromDF(1, cols, df).map { ps =>
            val n = ps.values.length
            val wide = new Array[Double](n * 2)
            var i = 0
            while (i < n) {
              wide(i * 2) = ps.values(i)
              wide(i * 2 + 1) = Double.NaN
              i += 1
            }
            PartState(wide, ps.active, ps.changed)
          }
        }
        .getOrElse(kernel.map { kp =>
          val n = kp.vids.length
          val values = new Array[Double](n * 2)
          val bits = new Array[Long]((n + 63) >>> 6)
          var i = 0
          while (i < n) {
            KernelProgram.checkExactVid(kp.vids(i), "lpa")
            values(i * 2) = kp.vids(i).toDouble
            values(i * 2 + 1) = Double.NaN
            bits(i >>> 6) |= 1L << (i & 63)
            i += 1
          }
          PartState(values, bits, n.toLong)
        })
        .persist(StorageLevel.MEMORY_AND_DISK)
      val init0 = countAndHarvest(state, width)
      var active = init0._1
      var hubBc: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[Long, (Array[Double], Boolean)]] =
        if (init0._2 != null) sc.broadcast(init0._2) else null
      var prev: RDD[PartState] = null
      var iter = resumed.map(_._1).getOrElse(0)
      var haveCounts = false

      while (active > 0 && iter < maxIters) {
        val t0 = System.nanoTime()
        val hubBcLocal = hubBc
        val incr = haveCounts && incremental && active * 2 <= numVertices
        val msgs: RDD[((Int, Int), Array[Byte])] =
          kernel.zipPartitions(state, preservesPartitioning = false) { (kIt, sIt) =>
            val kp = kIt.next(); val ps = sIt.next()
            val p = TaskContext.getPartitionId()
            val (values, act, _) = combinedInputs(kp, ps, 2,
              if (hubBcLocal == null) null else hubBcLocal.value)
            val rows = if (incr) act else null
            val table = new LongTable(64)
            Iterator.range(0, P).flatMap { q =>
              val t = kp.tiles(q)
              if (t == null) Iterator.empty
              else {
                val out = LabelCounts.packLabelDeltas(t, values, rows, table)
                if (out == null) Iterator.empty else Iterator.single(((q, p), out))
              }
            }
          }
        val shuffled = msgs.repartitionAndSortWithinPartitions(tilePart)
        val newState = shuffled.zipPartitions(kernel, state,
          preservesPartitioning = false) { (mIt, kIt, sIt) =>
          val kp = kIt.next(); val old = sIt.next()
          val n = kp.vids.length
          val fed = LabelCounts.bucketBySlot(n, mIt, kp.inSlots)
          val base = if (incr) old.counts else SlotCounts.empty(n)
          val counts = base.merged(fed, new LongTable(64))
          // arg-max every fed slot with the deterministic tie-break (max
          // count, min label). An unfed slot's mode is unchanged by
          // construction, and a slot with no live label keeps its label,
          // exactly like the Engine's left-outer apply.
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
          Iterator.single(PartState(nv, bits, changed, counts))
        }.persist(StorageLevel.MEMORY_AND_DISK)

        if (lineageTruncateEvery > 0 && (iter + 1) % lineageTruncateEvery == 0)
          newState.localCheckpoint()
        sc.setJobGroup(s"graft-superstep-$iter", s"lpa superstep $iter",
          interruptOnCancel = false)
        val (nActive, hubNew) =
          try countAndHarvest(newState, width)
          finally sc.clearJobGroup()
        active = nActive
        haveCounts = true
        if (hubNew != null) {
          val old = hubBc
          hubBc = sc.broadcast(hubNew)
          if (old != null) old.unpersist(false)
        }
        if (prev != null) prev.unpersist(false)
        prev = state
        state = newState
        iter += 1
        metrics += IterMetrics(iter, active, (System.nanoTime() - t0) / 1000000, numVertices)
        ckpt.foreach { c =>
          if (c.shouldCheckpoint(iter))
            c.save("lpa-kernel", iter, stateDF(width, cols, state), metrics.toSeq)
        }
      }
      ckpt.foreach(c => c.save("lpa-kernel", iter, stateDF(width, cols, state), metrics.toSeq))

      val partSums = sc.runJob(state, (it: Iterator[PartState]) => {
        val ps = it.next()
        var s = 0.0
        var i = 0
        while (i * width < ps.values.length) {
          val v = ps.values(i * width)
          if (!v.isNaN) s += v
          i += 1
        }
        s
      })
      val checksum = partSums.foldLeft(0.0)(_ + _)
      val df = stateDF(width, cols, state).localCheckpoint(true)
      state.unpersist(false)
      if (prev != null) prev.unpersist(false)
      if (hubBc != null) hubBc.unpersist(false)
      KernelResult(df, iter, metrics.toSeq, checksum)
    }

    def unpersist(): Unit = kernel.unpersist(false)
  }

  /** Compile an edge table (src, dst[, w]) into the tiled kernel form.
    * Three one-time shuffles: edges→hash(src), vertex-universe dedup,
    * and the tile-destination-list exchange that precomputes every
    * (p,q) slot mapping (+ one more, hub-edge re-routing, ONLY when a
    * hub breaches the salting chunk). Deterministic: tile edges sorted
    * (src, dst), tile destination lists sorted, so recompiles are
    * bit-identical.
    *
    * `hubChunk` caps how many of one source's edges may concentrate in
    * a single partition before the source row is SALTED — split across
    * partitions in chunks keyed by hash(dst), the same rationale as
    * the DataFrame engine's salted CSR (Adjacency.scala:89-105):
    * message duplication is correct for gather, and stage 2 already
    * merges by destination. 0 (the default) = auto:
    * max(65536, E/(4·parts)) — only a vertex owning more than a
    * quarter-partition of edges triggers, so ordinary graphs compile
    * byte-identically to the unsalted layout. Receiving partitions get
    * MIRROR source slots whose state is refreshed each superstep from
    * a hub broadcast harvested by the convergence-count job (O(#hubs)
    * ≤ 4·parts values — driver traffic in the kilobytes). */
  def compile(edges: DataFrame, parts: Int, hubChunk: Long = 0L): CompiledGraph = {
    val spark = edges.sparkSession
    val weighted = edges.columns.contains("w")
    val hp = new HashPartitioner(parts)
    val idPart = new IdPartitioner(parts)
    val P = parts
    val wtd = weighted

    // InternalRow scan (no per-row Row allocation) bucketed map-side
    // into PACKED per-target EdgeChunks: the old per-edge boxed-tuple
    // partitionBy was the compile's dominant cost (profiled 2.4 s of a
    // 7.2 s compile at 28.8M edges/32c under Kryo, worse under the SQL
    // session's JavaSerializer); the chunk exchange moves the same
    // bytes as ~P² primitive-array records.
    val scan =
      (if (weighted)
        edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)",
          "CAST(COALESCE(w, 1.0) AS DOUBLE)")
      else
        edges.selectExpr("CAST(src AS LONG)", "CAST(dst AS LONG)"))
        .queryExecution.toRdd
    val eParts: RDD[(Int, EdgeChunk)] = scan.mapPartitions { it =>
      val cb = new ChunkBuilder(P, wtd)
      it.foreach { ir =>
        val s = ir.getLong(0)
        cb.add(hp.getPartition(s), s, ir.getLong(1), if (wtd) ir.getDouble(2) else 0.0)
      }
      cb.chunks
    }.partitionBy(idPart).persist(StorageLevel.MEMORY_AND_DISK)

    // hub detection + total edge count in ONE pass (which also
    // materializes the chunk cache). Per-source counts are exact
    // per-partition out-degrees here because un-salted routing is
    // hash(src) — every source's edges sit wholly in one partition.
    // The old separate degree reduceByKey + vertex reduceByKey tuple
    // shuffles (profiled 0.6 s + 4.4 s at 28.8M/32c) are gone: degrees
    // are recomputed partition-locally in compilePartition, and the
    // vertex universe rides a packed distinct-vid chunk exchange below.
    val floor = if (hubChunk > 0) hubChunk else 65536L
    val (totalE, hubCands) = eParts.mapPartitions { it =>
      var n = 0L
      val cnt = new LongTable(1 << 12)
      it.foreach { case (_, c) =>
        var i = 0
        n += c.srcs.length
        while (i < c.srcs.length) { cnt.add(c.srcs(i), 1L); i += 1 }
      }
      Iterator.single((n, Iterator.range(0, cnt.size)
        .filter(j => cnt.valueAt(j) > floor).map(j => (cnt.keyAt(j), cnt.valueAt(j))).toList))
    }.fold((0L, List.empty[(Long, Long)])) {
      case ((n1, l1), (n2, l2)) => (n1 + n2, l1 ::: l2)
    }
    val chunk =
      if (hubChunk > 0) hubChunk
      else math.max(65536L, totalE / (4L * parts))
    val hubMap: Map[Long, Long] = hubCands.filter(_._2 > chunk).toMap

    // distinct-vid chunks to each vid's owner partition (replaces the
    // verts reduceByKey): per partition one dedup set over its chunk
    // cache, then one packed array per owner
    val vChunks: RDD[(Int, Array[Long])] = eParts.mapPartitions { it =>
      val set = new LongTable(1 << 12)
      it.foreach { case (_, c) =>
        var i = 0
        while (i < c.srcs.length) { set.put(c.srcs(i), 0L); set.put(c.dsts(i), 0L); i += 1 }
      }
      val bufs = Array.fill(P)(new scala.collection.mutable.ArrayBuilder.ofLong)
      var j = 0
      while (j < set.size) { val v = set.keyAt(j); bufs(hp.getPartition(v)) += v; j += 1 }
      Iterator.range(0, P).flatMap { q =>
        val a = bufs(q).result()
        if (a.isEmpty) Iterator.empty else Iterator.single((q, a))
      }
    }.partitionBy(idPart)

    // hub edges re-route to a salted partition: chunk k = hash(dst) %
    // nChunks, target = hash(src, k) — deterministic, so recompiles
    // stay bit-identical. Non-hub graphs skip the extra shuffle.
    val eTiles: RDD[(Int, EdgeChunk)] =
      if (hubMap.isEmpty) eParts
      else {
        val hm = hubMap // bounded: ≤ E/chunk entries (≤ 4·parts in auto)
        val ck = chunk
        eParts.mapPartitions { it =>
          val cb = new ChunkBuilder(P, wtd)
          it.foreach { case (_, c) =>
            var i = 0
            while (i < c.srcs.length) {
              val s = c.srcs(i); val d = c.dsts(i)
              val target = hm.get(s) match {
                case Some(dg) =>
                  val nc = math.min((dg + ck - 1) / ck, P.toLong).toInt
                  val k = ((mix(d) >>> 33) % nc).toInt
                  ((mix(s + 31L * (k + 1)) >>> 33) % P).toInt
                case None => hp.getPartition(s)
              }
              cb.add(target, s, d, if (wtd) c.ws(i) else 0.0)
              i += 1
            }
          }
          cb.chunks
        }.partitionBy(idPart)
      }

    // No materializing count() here: the nV/nE fold job below computes
    // `compiled` in its meta shuffle-map stage, which caches these
    // partitions as a side effect — one job fewer per compile.
    val compiled: RDD[(KernelPartition, Array[Array[Long]])] =
      vChunks.zipPartitions(eTiles, preservesPartitioning = true) { (vIt, eIt) =>
        Iterator.single(compilePartition(parts, hp, hubMap, vIt, eIt, weighted))
      }.persist(StorageLevel.MEMORY_AND_DISK)

    // one-time exchange of each tile's (sorted) destination-id list to
    // its owner partition → per-(p,q) slot mappings
    val meta: RDD[(Int, (Int, Array[Long]))] = compiled
      .mapPartitionsWithIndex { (p, it) =>
        val (_, dstVids) = it.next()
        Iterator.range(0, parts).flatMap(q =>
          if (dstVids(q) == null) Iterator.empty
          else Iterator.single((q, (p, dstVids(q)))))
      }.partitionBy(idPart)

    val kernel: RDD[KernelPartition] = compiled.zipPartitions(meta,
      preservesPartitioning = false) { (cIt, mIt) =>
      val (kp, _) = cIt.next()
      val vidSlot = LongTable.positions(kp.vids)
      val inSlots = new Array[Array[Int]](parts)
      mIt.foreach { case (_, (p, dstVids)) =>
        val arr = new Array[Int](dstVids.length)
        var i = 0
        while (i < dstVids.length) {
          arr(i) = vidSlot.get(dstVids(i), -1L).toInt
          i += 1
        }
        inSlots(p) = arr
      }
      Iterator.single(kp.copy(inSlots = inSlots))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val (nV, nE, nMir) = kernel
      .map(kp => (kp.vids.length.toLong,
        kp.tiles.map(t => if (t == null) 0L else t.nEdges.toLong).sum,
        kp.mirrorVids.length.toLong))
      .fold((0L, 0L, 0L)) { case ((v1, e1, m1), (v2, e2, m2)) =>
        (v1 + v2, e1 + e2, m1 + m2) }
    eParts.unpersist(false) // kernel + compiled are materialized now
    compiled.unpersist(false)
    new CompiledGraph(kernel, spark, parts, nV, nE, weighted, nMir)
  }

  private def compilePartition(
      P: Int, hp: HashPartitioner, hubMap: Map[Long, Long],
      vIt: Iterator[(Int, Array[Long])], eIt: Iterator[(Int, EdgeChunk)],
      weighted: Boolean): (KernelPartition, Array[Array[Long]]) = {
    // owned vid universe: merge the per-sender distinct-vid chunks,
    // sort, dedup in place
    val vb = new scala.collection.mutable.ArrayBuilder.ofLong
    vIt.foreach { case (_, a) => vb ++= a }
    val vids = sortedDistinct(vb.result())
    val nOwned = vids.length
    val vidSlot = LongTable.positions(vids)
    val deg = new Array[Long](nOwned)

    // bucket edges by destination partition, counting owned out-degrees
    // as they stream by (un-salted sources are wholly local, so the
    // local count IS the out-degree; salted hubs are overridden from
    // hubMap below) and collecting the sources a salted compile routed
    // here that this partition does NOT own
    val cb = new ChunkBuilder(P, weighted)
    val mirrorB = new scala.collection.mutable.ArrayBuilder.ofLong
    eIt.foreach { case (_, c) =>
      var i = 0
      while (i < c.srcs.length) {
        val s = c.srcs(i); val d = c.dsts(i)
        cb.add(hp.getPartition(d), s, d, if (weighted) c.ws(i) else 0.0)
        val sl = vidSlot.get(s, -1L).toInt
        if (sl < 0) mirrorB += s else deg(sl) += 1
        i += 1
      }
    }
    // owned salted hubs: the local count misses the chunks routed to
    // other partitions — the hub map carries the full out-degree
    hubMap.foreach { case (h, dg) =>
      val sl = vidSlot.get(h, -1L).toInt
      if (sl >= 0) deg(sl) = dg
    }
    // sorted, deduped mirror list → deterministic mirror slot order
    val mirrorVids = sortedDistinct(mirrorB.result())
    val mirrorSlot = LongTable.positions(mirrorVids)
    def slotOf(s: Long): Int = {
      val o = vidSlot.get(s, -1L).toInt
      if (o >= 0) o else nOwned + mirrorSlot.get(s, -1L).toInt
    }

    // combined invDeg: owned (from the local counts / hub override
    // above) ++ mirror (from the hub map — a mirror is by construction
    // a hub, whose full out-degree the map carries)
    val invDeg = new Array[Double](nOwned + mirrorVids.length)
    var di0 = 0
    while (di0 < nOwned) {
      if (deg(di0) > 0) invDeg(di0) = 1.0 / deg(di0)
      di0 += 1
    }
    var mi = 0
    while (mi < mirrorVids.length) {
      invDeg(nOwned + mi) = 1.0 / hubMap(mirrorVids(mi))
      mi += 1
    }
    // owned vids that are salted hubs (mirrored in other partitions):
    // their state is harvested for the hub broadcast every superstep
    val ownedHubSlots = hubMap.keysIterator
      .map(h => vidSlot.get(h, -1L).toInt).filter(_ >= 0).toArray
    java.util.Arrays.sort(ownedHubSlots)

    val tiles = new Array[Tile](P)
    val dstVids = new Array[Array[Long]](P)
    var q = 0
    while (q < P) {
      val chunk = cb.drain(q)
      if (chunk != null) {
        val ss = chunk.srcs; val dd = chunk.dsts; val ww = chunk.ws
        val n = ss.length
        // deterministic tile layout: edges in ascending SOURCE-SLOT
        // order (slot fits an Int, so (slot<<32 | idx) sorts as one
        // primitive long — no boxed comparator). Per-destination sums
        // are then added in ascending-source order every compile; dst
        // order within a source row is irrelevant to the sums. Mirror
        // slots sort after owned slots — also deterministic.
        val order = new Array[Long](n)
        var oi = 0
        while (oi < n) { order(oi) = (slotOf(ss(oi)).toLong << 32) | oi; oi += 1 }
        java.util.Arrays.sort(order)
        // sorted distinct destination list → tile-local ids
        val tileDsts = sortedDistinct(dd.clone())
        val dstIdx = LongTable.positions(tileDsts)

        val srcSlotsB = new scala.collection.mutable.ArrayBuilder.ofInt
        val offsetsB = new scala.collection.mutable.ArrayBuilder.ofInt
        val dstLocal = new Array[Int](n)
        val wOut = if (ww != null) new Array[Double](n) else null
        var lastSlot = -1
        var k = 0
        while (k < n) {
          val slot = (order(k) >>> 32).toInt
          val e = order(k).toInt
          if (slot != lastSlot) {
            srcSlotsB += slot
            offsetsB += k
            lastSlot = slot
          }
          dstLocal(k) = dstIdx.get(dd(e), -1L).toInt
          if (wOut != null) wOut(k) = ww(e)
          k += 1
        }
        offsetsB += n
        tiles(q) = Tile(srcSlotsB.result(), offsetsB.result(), dstLocal, wOut, tileDsts.length)
        dstVids(q) = tileDsts
      }
      q += 1
    }
    (KernelPartition(vids, deg, invDeg, mirrorVids, ownedHubSlots, tiles,
      inSlots = null), dstVids)
  }

  /** `raw` sorted ascending with duplicates dropped (sorts in place). */
  private def sortedDistinct(raw: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(raw)
    var u = -1; var i = 0
    while (i < raw.length) {
      if (u < 0 || raw(i) != raw(u)) { u += 1; raw(u) = raw(i) }
      i += 1
    }
    java.util.Arrays.copyOf(raw, u + 1)
  }
}
