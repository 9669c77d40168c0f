package graft.graph

/** The per-tile exchange formats: one byte array per tile message, a
  * header of (format:int, count:int), then the payload — dense doubles,
  * sparse (idx:int…, val:double…), or LPA (dstLocal:int…, label:double…,
  * count:int…) triples. */
private[graph] object TilePacks {
  final val FmtDense = 0
  final val FmtSparse = 1
  // LPA label-count triples (dstLocal, label, count) — the mode
  // combiner's partial aggregate, which is a multiset not a scalar
  final val FmtLabels = 2

  def packDense(acc: Array[Double]): Array[Byte] = {
    val bytes = new Array[Byte](8 + acc.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtDense); bb.putInt(4, acc.length)
    bb.position(8)
    bb.asDoubleBuffer().put(acc) // ONE bulk copy
    bytes
  }

  /** Dense accumulator → whichever pack ships fewer bytes (sparse
    * entry = 12 bytes vs dense slot = 8). `identity` marks absent. */
  def packBest(acc: Array[Double], identity: Double): Array[Byte] = {
    var nnz = 0
    var i = 0
    while (i < acc.length) { if (acc(i) != identity) nnz += 1; i += 1 }
    if (12L * nnz >= 8L * acc.length) packDense(acc)
    else {
      val bytes = new Array[Byte](8 + 12 * nnz)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.putInt(0, FmtSparse); bb.putInt(4, nnz)
      val ib = { bb.position(8); bb.asIntBuffer() }
      val db = { bb.position(8 + 4 * nnz); bb.asDoubleBuffer() }
      i = 0
      while (i < acc.length) {
        if (acc(i) != identity) { ib.put(i); db.put(acc(i)) }
        i += 1
      }
      bytes
    }
  }

  /** True SpMSpV tile pass: assemble (dstLocal, value) contributions
    * from the frontier rows only, sort by (dst, edge-order) via one
    * packed-long primitive sort (deterministic sum fold order), merge
    * runs with the combiner, and pack sparse. Never touches an
    * nDsts-sized array. */
  def packSparseAssembled(rows: Array[Int], srcSlots: Array[Int],
                                  offsets: Array[Int], dstLocal: Array[Int],
                                  w: Array[Double], vids: Array[Long],
                                  values: Array[Double], invDeg: Array[Double],
                                  width: Int, aEdges: Int, sum: Boolean, eop: Int,
                                  program: KernelProgram): Array[Byte] = {
    val order = new Array[Long](aEdges) // (dstLocal << 32) | contribution index
    val vals = new Array[Double](aEdges)
    var k = 0
    var r = 0
    while (r < rows.length) {
      val i = rows(r); val slot = srcSlots(i)
      val msg = program.message(vids(slot), values, slot * width, invDeg(slot))
      var e = offsets(i); val end = offsets(i + 1)
      while (e < end) {
        val v = eop match {
          case 0 => msg
          case 1 => if (w == null) msg else msg * w(e)
          case 2 => if (w == null) msg + 1.0 else msg + w(e)
        }
        order(k) = (dstLocal(e).toLong << 32) | k
        vals(k) = v
        k += 1
        e += 1
      }
      r += 1
    }
    java.util.Arrays.sort(order)
    // merge-combine runs of equal dst (ascending contribution order
    // within a dst → deterministic sums)
    val outI = new Array[Int](aEdges)
    val outV = new Array[Double](aEdges)
    var nnz = 0
    var t = 0
    while (t < aEdges) {
      val d = (order(t) >>> 32).toInt
      var v = vals(order(t).toInt)
      t += 1
      while (t < aEdges && (order(t) >>> 32).toInt == d) {
        val v2 = vals(order(t).toInt)
        if (sum) v += v2 else if (v2 < v) v = v2
        t += 1
      }
      outI(nnz) = d; outV(nnz) = v; nnz += 1
    }
    val bytes = new Array[Byte](8 + 12 * nnz)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtSparse); bb.putInt(4, nnz)
    bb.position(8)
    bb.asIntBuffer().put(outI, 0, nnz)
    bb.position(8 + 4 * nnz)
    bb.asDoubleBuffer().put(outV, 0, nnz)
    bytes
  }

  /** (dstLocal, label, count) triples → one FmtLabels byte pack. */
  def packTriples(dd: Array[Int], ll: Array[Double], cc: Array[Int],
                          nnz: Int): Array[Byte] = {
    val bytes = new Array[Byte](8 + 16 * nnz)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(0, FmtLabels); bb.putInt(4, nnz)
    bb.position(8)
    bb.asIntBuffer().put(dd, 0, nnz)
    bb.position(8 + 4 * nnz)
    bb.asDoubleBuffer().put(ll, 0, nnz)
    bb.position(8 + 12 * nnz)
    bb.asIntBuffer().put(cc, 0, nnz)
    bytes
  }
}
