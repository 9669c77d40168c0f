package graft.graph

/** The kernel's one hash table: primitive open-addressing Long→Long
  * with insertion-order enumeration (`keyAt`/`valueAt` for j < size),
  * an O(size) `clear`, and doubling growth clamped at 2^30 slots. It
  * slots vids and tile destinations at compile time, counts hub
  * out-degrees, re-slots checkpointed state, and folds LPA label
  * counts (keys = raw label bits). Every Long is a valid key; a
  * separate `used` mark tells free slots apart, and with no deletes a
  * probe stops at the first free slot, so an absent key costs one
  * short probe run. Layout (split key/value arrays, triangular
  * probing) was picked over interleaved key/value and over linear
  * probing by traced compile.task_cpu_ms and superstep.lpa.apply_cpu_ms
  * (perfbench fresh_graph and kernel_loops, 4 cores). */
private[graph] final class LongTable(expected: Int) {
  private var mask = LongTable.capacityFor(expected) - 1
  private var keys = new Array[Long](mask + 1)
  private var vals = new Array[Long](mask + 1)
  private var used = new Array[Boolean](mask + 1)
  private var order = new Array[Int](LongTable.maxFill(mask + 1)) // slot of the j-th key
  private var n = 0

  def size: Int = n
  def keyAt(j: Int): Long = keys(order(j))
  def valueAt(j: Int): Long = vals(order(j))

  /** The slot holding `k`, or the free slot where it would go. */
  private def find(k: Long): Int = {
    var h = k * -7046029254386353131L
    h ^= h >>> 32
    var i = h.toInt & mask
    var step = 1 // triangular probing: visits every slot of a power-of-two table
    while (used(i) && keys(i) != k) { i = (i + step) & mask; step += 1 }
    i
  }

  /** The slot holding `k`, inserting it with value 0 when absent. */
  private def slot(k: Long): Int = {
    var i = find(k)
    if (!used(i)) {
      if (n == order.length) { grow(); i = find(k) }
      used(i) = true; keys(i) = k; vals(i) = 0L
      order(n) = i; n += 1
    }
    i
  }

  def get(k: Long, dflt: Long): Long = {
    val i = find(k)
    if (used(i)) vals(i) else dflt
  }
  def put(k: Long, v: Long): Unit = {
    val i = slot(k) // may grow, replacing `vals`
    vals(i) = v
  }
  def add(k: Long, d: Long): Unit = {
    val i = slot(k)
    vals(i) += d
  }

  def clear(): Unit = {
    var j = 0
    while (j < n) { used(order(j)) = false; j += 1 }
    n = 0
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val oo = order; val on = n
    val cap = LongTable.grownCapacity(mask + 1)
    mask = cap - 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    used = new Array[Boolean](cap); order = new Array[Int](LongTable.maxFill(cap))
    n = 0
    var j = 0
    while (j < on) { put(ok(oo(j)), ov(oo(j))); j += 1 }
  }
}

private[graph] object LongTable {
  /** Largest capacity: one more doubling would overflow the Int index
    * space deep inside a task, so growth past it fails with the limit
    * instead (more than ~7·10^8 keys in one partition means the
    * partition count is wrong for the data). */
  final val MaxCapacity = 1 << 30

  def grownCapacity(cap: Int): Int = {
    if (cap >= MaxCapacity)
      throw new IllegalStateException(
        s"LongTable capacity would exceed 2^30 slots (at $cap) — " +
          "raise the partition count so per-partition key cardinality fits")
    cap << 1
  }

  /** Smallest power-of-two capacity holding `expected` keys at load ≤ 1/2. */
  private def capacityFor(expected: Int): Int = {
    var c = 16
    while (c / 2 < expected) c = grownCapacity(c)
    c
  }

  /** Keys a table of capacity `cap` holds before it grows (load 2/3). */
  private def maxFill(cap: Int): Int = (cap / 3) * 2

  /** ks(i) → i over distinct keys — a vid or destination slot index. */
  def positions(ks: Array[Long]): LongTable = {
    val t = new LongTable(ks.length)
    var i = 0
    while (i < ks.length) { t.put(ks(i), i); i += 1 }
    t
  }
}
