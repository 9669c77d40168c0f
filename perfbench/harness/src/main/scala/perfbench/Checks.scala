package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Output checks that do not trust the code under test. Each one
  * recomputes the defining property of a result on the driver, in
  * plain arrays, from the edge table the program read (no graft code
  * involved). Each returns (passed, detail). */
object Checks {

  /** Directed edge list with dense int vertex ids (the ingest's vid
    * dictionary is dense, so ids stay far below 2^31). */
  final class Edges(val src: Array[Int], val dst: Array[Int]) {
    val n: Int = if (src.isEmpty) 0 else math.max(src.max, dst.max) + 1
  }

  def edges(df: DataFrame): Edges = {
    val rows = df.select("src", "dst").collect()
    def id(v: Long): Int = { require(v >= 0 && v < Int.MaxValue, s"vid $v out of range"); v.toInt }
    new Edges(rows.map(r => id(r.getLong(0))), rows.map(r => id(r.getLong(1))))
  }

  /** Undirected neighbour lists: self-loops dropped, both directions,
    * duplicates removed. Returned as CSR (offsets, targets). */
  def neighbours(e: Edges): (Array[Int], Array[Int]) = {
    val keys = new Array[Long](2 * e.src.length)
    var k = 0
    var i = 0
    while (i < e.src.length) {
      if (e.src(i) != e.dst(i)) {
        keys(k) = e.src(i).toLong << 32 | e.dst(i); k += 1
        keys(k) = e.dst(i).toLong << 32 | e.src(i); k += 1
      }
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(keys, k)
    java.util.Arrays.sort(sorted)
    val off = new Array[Int](e.n + 1)
    val tgt = scala.collection.mutable.ArrayBuilder.make[Int]
    var prev = -1L
    for (key <- sorted if key != prev) {
      off((key >>> 32).toInt + 1) += 1
      tgt += (key & 0xffffffffL).toInt
      prev = key
    }
    for (v <- 0 until e.n) off(v + 1) += off(v)
    (off, tgt.result())
  }

  /** vid → value for a collected (vid, value[, changed]) result. */
  final class Values(rows: Array[Row], n: Int) {
    val has = new Array[Boolean](n)
    val v = new Array[Double](n)
    val changed = new Array[Boolean](n)
    var outside = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id < 0 || id >= n) outside += 1
      else {
        has(id.toInt) = true
        v(id.toInt) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
        if (r.length > 2) changed(id.toInt) = r.getBoolean(2)
      }
    }
    val count: Int = rows.length
  }

  /** Vertices of an edge list: every endpoint. */
  private def vertexSet(e: Edges): Array[Boolean] = {
    val s = new Array[Boolean](e.n)
    e.src.foreach(s(_) = true); e.dst.foreach(s(_) = true)
    s
  }

  private def sameVertices(e: Edges, x: Values): Boolean = {
    val vs = vertexSet(e)
    x.outside == 0 && vs.indices.forall(i => vs(i) == x.has(i))
  }

  /** The vertices of the undirected, self-loop-free shaping: those with
    * at least one neighbour. */
  private def sameVertices(off: Array[Int], x: Values): Boolean =
    x.outside == 0 && x.has.indices.forall(v => x.has(v) == (off(v + 1) > off(v)))

  /** PageRank fixed point: one more step over the returned ranks moves
    * no vertex by more than the loop's own stopping rule allows. The
    * loop stops when every |Δ| ≤ tol, so for every vertex v
    *   |α + (1−α)·Σ_{u→v} r_u/deg_u − r_v| ≤ (1−α)·tol·Σ_{u→v} 1/deg_u. */
  def pagerank(e: Edges, ranks: Array[Row], alpha: Double, tol: Double): (Boolean, String) = {
    val r = new Values(ranks, e.n)
    val deg = new Array[Int](e.n)
    e.src.foreach(s => deg(s) += 1)
    val y = new Array[Double](e.n)
    val b = new Array[Double](e.n)
    for (i <- e.src.indices) {
      val s = e.src(i); val d = e.dst(i)
      y(d) += r.v(s) / deg(s)
      b(d) += 1.0 / deg(s)
    }
    var bad = 0
    var maxRes = 0.0
    for (v <- 0 until e.n if r.has(v)) {
      val res = math.abs(alpha + (1 - alpha) * y(v) - r.v(v))
      if (!(res <= (1 - alpha) * tol * b(v) + 1e-9)) bad += 1
      maxRes = math.max(maxRes, res)
    }
    val same = sameVertices(e, r)
    (same && bad == 0, s"vertices=${r.count} vertex_set_ok=$same residual_violations=$bad max_residual=$maxRes")
  }

  /** Label propagation: every vertex holds the most frequent label among
    * its neighbours, ties going to the smallest label. A vertex with a
    * neighbour that changed in the last superstep saw that neighbour's
    * previous label, so it is checked only once no neighbour changed —
    * every vertex, when the run converged. */
  def lpa(e: Edges, nb: (Array[Int], Array[Int]), labels: Array[Row]): (Boolean, String) = {
    val (off, tgt) = nb
    val l = new Values(labels, e.n)
    var checked = 0
    var bad = 0
    val buf = new Array[Double](if (off.isEmpty) 0 else (0 until e.n).map(v => off(v + 1) - off(v)).max)
    for (v <- 0 until e.n if l.has(v) && off(v + 1) > off(v)) {
      var k = 0
      var anyChanged = false
      for (j <- off(v) until off(v + 1)) {
        buf(k) = l.v(tgt(j)); k += 1
        anyChanged ||= l.changed(tgt(j))
      }
      if (!anyChanged) {
        java.util.Arrays.sort(buf, 0, k)
        var best = buf(0); var bestN = 0
        var i = 0
        while (i < k) {
          var j = i
          while (j < k && buf(j) == buf(i)) j += 1
          if (j - i > bestN) { bestN = j - i; best = buf(i) }
          i = j
        }
        checked += 1
        if (best != l.v(v)) bad += 1
      }
    }
    val same = sameVertices(off, l)
    (same && checked > 0 && bad == 0,
      s"vertices=${l.count} vertex_set_ok=$same checked=$checked not_a_mode=$bad")
  }

  /** Connected components: labels agree across every edge, and each
    * label is the smallest vid carrying it. */
  def cc(e: Edges, nb: (Array[Int], Array[Int]), labels: Array[Row]): (Boolean, String) = {
    val l = new Values(labels, e.n)
    val split = e.src.indices.count(i => e.src(i) != e.dst(i) && l.v(e.src(i)) != l.v(e.dst(i)))
    val minOf = scala.collection.mutable.HashMap.empty[Double, Int]
    for (v <- 0 until e.n if l.has(v)) minOf.getOrElseUpdate(l.v(v), v)
    val notMin = minOf.count { case (lab, m) => lab != m.toDouble }
    val same = sameVertices(nb._1, l)
    (same && split == 0 && notMin == 0,
      s"vertices=${l.count} vertex_set_ok=$same components=${minOf.size} split_edges=$split label_not_min=$notMin")
  }

  /** A resumed run equals the uninterrupted one: same vertices, same
    * labels, same superstep count. */
  def sameValues(straight: Array[Row], resumed: Array[Row], straightIters: Int,
                 resumedIters: Int): (Boolean, String) = {
    val a = straight.map(r => r.getLong(0) -> r.get(1)).toMap
    val b = resumed.map(r => r.getLong(0) -> r.get(1)).toMap
    val diff = (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
    (diff == 0 && straightIters == resumedIters,
      s"vertices=${b.size}/${a.size} differing=$diff iterations=$resumedIters/$straightIters")
  }

  /** sha256 prefix over (vid, value) rows sorted by vid, the value
    * formatted by `fmt`: the stored-hash fingerprint for the default
    * seed. */
  def hashRows(rows: Array[Row], fmt: Any => String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_.getLong(0)).foreach(r =>
      md.update(s"${r.getLong(0)},${fmt(r.get(1))}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** A collected result as {"columns": [[name, type]], "rows": [...]},
    * hashed after the run with the oracle-compare canonicalisation. */
  def rowsJson(schema: StructType, rows: Array[Row]): Map[String, Any] = Map(
    "columns" -> schema.fields.toSeq.map(f => Seq(f.name, f.dataType.simpleString)),
    "rows" -> rows.toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case v => v
    }))
}
