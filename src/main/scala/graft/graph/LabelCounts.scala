package graft.graph

/** The LPA mode's PERSISTENT per-(state-slot, label) counts — the
  * destination-side aggregation state an LPA superstep arg-maxes over
  * and the incremental superstep carries across iterations, so it only
  * has to absorb deltas from changed sources instead of recounting
  * every in-edge (the frontier idea applied to the multiset combiner;
  * the reference has no analog — its min-label LPA rides the scalar
  * frontier kernel). Each slot holds its live (labelBits, count) pairs
  * interleaved in one Array[Long] (null = no live label). Counts are
  * exact and strictly positive (by induction: every −1 removes a
  * contribution a prior +1 added). Bounded by Σ distinct (dst, label)
  * pairs alive ≤ the partition's in-edge count — the same order as the
  * compiled tiles themselves. */
private[graph] final class SlotCounts(private val bySlot: Array[Array[Long]])
    extends Serializable {

  /** Arg-max over the slot's live labels — max count, ties toward the
    * smallest label (LPA labels are nonnegative vertex ids, whose IEEE
    * bit pattern is order-isomorphic to the value, so the raw-bits `<`
    * IS the label `<` — identical to algos.LabelPropagation's
    * max(struct(cnt, -label))). Long.MinValue when the slot has no live
    * label (then the caller keeps its label). */
  def argmax(slot: Int): Long = {
    val e = bySlot(slot)
    var bestCnt = 0L
    var bestKey = Long.MinValue
    if (e != null) {
      var i = 0
      while (i < e.length) {
        val c = e(i + 1)
        if (c > bestCnt || (c == bestCnt && e(i) < bestKey)) { bestCnt = c; bestKey = e(i) }
        i += 2
      }
    }
    bestKey
  }

  /** These counts with every fed slot's bucket merged in, dropping
    * labels whose counts net to zero. Copy-on-write at SLOT
    * granularity: the result shares every unfed slot's array and this
    * receiver stays untouched, so a retried or recomputed task sees the
    * old counts (the contract a persisted PartState requires) — O(V/P)
    * pointer copy plus O(fed entries), never an O(E) pool copy, which
    * would put a term proportional to E back into every small-frontier
    * superstep. `table` is the caller's scratch. */
  def merged(fed: SlotBuckets, table: LongTable): SlotCounts = {
    val next = bySlot.clone()
    var slot = 0
    while (slot < next.length) {
      val from = fed.offsets(slot); val until = fed.offsets(slot + 1)
      if (until > from) {
        table.clear()
        val e = bySlot(slot)
        if (e != null) {
          var i = 0
          while (i < e.length) { table.add(e(i), e(i + 1)); i += 2 }
        }
        var k = from
        while (k < until) { table.add(fed.labs(k), fed.cnts(k)); k += 1 }
        var live = 0
        var j = 0
        while (j < table.size) { if (table.valueAt(j) != 0L) live += 1; j += 1 }
        if (live == 0) next(slot) = null
        else {
          val out = new Array[Long](2 * live)
          var o = 0
          j = 0
          while (j < table.size) {
            val c = table.valueAt(j)
            if (c != 0L) { out(o) = table.keyAt(j); out(o + 1) = c; o += 2 }
            j += 1
          }
          next(slot) = out
        }
      }
      slot += 1
    }
    new SlotCounts(next)
  }
}

private[graph] object SlotCounts {
  /** No labels anywhere — the base a FULL superstep merges into. */
  def empty(nSlots: Int): SlotCounts = new SlotCounts(new Array[Array[Long]](nSlots))
}

/** A destination partition's incoming LPA triples bucketed by state
  * slot: a flat CSR (`offsets` by slot, then label bits and ±counts in
  * arrival order). A slot is FED when its bucket is non-empty. */
private[graph] final class SlotBuckets(val offsets: Array[Int], val labs: Array[Long],
                                       val cnts: Array[Int])

private[graph] object LabelCounts {
  import graft.graph.SpmvKernel.{Tile, bitGet}

  /** Stage-1 LPA tile pass: per destination, the net (label, ±count)
    * contributions of the tile's source rows, packed as FmtLabels
    * triples. `rows == null` is a FULL pass: every source ships +1 for
    * its label over each out-edge. Otherwise only sources whose bit is
    * set in `rows` ship — +1 for the new label and −1 for the previous
    * one per out-edge — which keeps the destination's counts equal to
    * the full recount at O(changed-edge) cost. Contributions are
    * grouped by destination with one primitive long sort of
    * (dstLocal << 32 | index) and folded in `table`; a ± pair that
    * cancels ships nothing. Returns null when nothing ships. */
  def packLabelDeltas(t: Tile, values: Array[Double], rows: Array[Long],
                      table: LongTable): Array[Byte] = {
    val srcSlots = t.srcSlots; val offsets = t.offsets; val dstLocal = t.dstLocal
    val rowsB = new scala.collection.mutable.ArrayBuilder.ofInt
    var aEdges = 0
    var i = 0
    while (i < srcSlots.length) {
      if (rows == null || bitGet(rows, srcSlots(i))) {
        rowsB += i; aEdges += offsets(i + 1) - offsets(i)
      }
      i += 1
    }
    val shipping = rowsB.result()
    if (shipping.isEmpty) return null
    // up to two contributions per shipping edge: (+new, −prev)
    val maxK = if (rows == null) aEdges else 2 * aEdges
    val order = new Array[Long](maxK)
    val labs = new Array[Long](maxK)
    val sign = new Array[Int](maxK)
    var k = 0
    var r = 0
    while (r < shipping.length) {
      val i2 = shipping(r); val slot = srcSlots(i2)
      val cur = java.lang.Double.doubleToRawLongBits(values(slot * 2))
      val prevD = values(slot * 2 + 1)
      val hasPrev = rows != null && !prevD.isNaN
      val prevBits =
        if (hasPrev) java.lang.Double.doubleToRawLongBits(prevD) else 0L
      var e = offsets(i2); val end = offsets(i2 + 1)
      while (e < end) {
        val key = dstLocal(e).toLong << 32
        order(k) = key | k; labs(k) = cur; sign(k) = 1; k += 1
        if (hasPrev) { order(k) = key | k; labs(k) = prevBits; sign(k) = -1; k += 1 }
        e += 1
      }
      r += 1
    }
    java.util.Arrays.sort(order, 0, k)
    // fold ± per (dst, label); emit the nonzero net deltas
    val outD = new scala.collection.mutable.ArrayBuilder.ofInt
    val outL = new scala.collection.mutable.ArrayBuilder.ofDouble
    val outC = new scala.collection.mutable.ArrayBuilder.ofInt
    var nnz = 0
    var t2 = 0
    while (t2 < k) {
      val d = (order(t2) >>> 32).toInt
      table.clear()
      while (t2 < k && (order(t2) >>> 32).toInt == d) {
        val j = order(t2).toInt
        table.add(labs(j), sign(j))
        t2 += 1
      }
      var j = 0
      while (j < table.size) {
        val c = table.valueAt(j)
        if (c != 0L) {
          outD += d
          outL += java.lang.Double.longBitsToDouble(table.keyAt(j))
          outC += c.toInt
          nnz += 1
        }
        j += 1
      }
    }
    if (nnz == 0) null
    else TilePacks.packTriples(outD.result(), outL.result(), outC.result(), nnz)
  }

  /** Bucket a destination partition's FmtLabels packs by state slot
    * (`inSlots(p)` maps source partition p's tile-local destinations to
    * slots). Two passes over the packs — count, then place — so every
    * array is allocated once at its exact size; within a slot, triples
    * keep arrival order (sorted source partition, then pack order). */
  def bucketBySlot(nSlots: Int, packIt: Iterator[((Int, Int), Array[Byte])],
                   inSlots: Array[Array[Int]]): SlotBuckets = {
    val packs = packIt.toArray
    val offsets = new Array[Int](nSlots + 1)
    packs.foreach { case ((_, p), bytes) =>
      val slots = inSlots(p)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val ne = bb.getInt(4)
      var t = 0
      while (t < ne) { offsets(slots(bb.getInt(8 + 4 * t)) + 1) += 1; t += 1 }
    }
    var s = 0
    while (s < nSlots) { offsets(s + 1) += offsets(s); s += 1 }
    val labs = new Array[Long](offsets(nSlots))
    val cnts = new Array[Int](offsets(nSlots))
    val cursor = java.util.Arrays.copyOf(offsets, nSlots)
    packs.foreach { case ((_, p), bytes) =>
      val slots = inSlots(p)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val ne = bb.getInt(4)
      var t = 0
      while (t < ne) {
        val slot = slots(bb.getInt(8 + 4 * t))
        val k = cursor(slot)
        labs(k) = bb.getLong(8 + 4 * ne + 8 * t) // the label double's raw bits
        cnts(k) = bb.getInt(8 + 12 * ne + 4 * t)
        cursor(slot) = k + 1
        t += 1
      }
    }
    new SlotBuckets(offsets, labs, cnts)
  }
}
