package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.graph.SpmvKernel._

private[graph] object KernelCompile {

  /** splitmix64 finalizer — the deterministic spread for salted-hub
    * chunk routing (public-domain constant, same family as LongTable's
    * probe hash). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
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
    * partitions in chunks keyed by hash(dst):
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
    val idPart = new KeyPartitioner(parts)
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
