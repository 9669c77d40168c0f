package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The kernel's one hash table against a boxed HashMap model. */
class LongTableSpec extends AnyFunSuite {

  test("LongTable matches mutable.HashMap over random add/put/get/clear across growths") {
    val rnd = new scala.util.Random(7)
    // edge keys, and keys that share their low 32 bits (differ only
    // above them) so they collide before the multiplier spreads them
    val special = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue)
    val sameLow = (0 until 64).map(i => (i.toLong << 40) | 0x1234L)
    def key(): Long = rnd.nextInt(4) match {
      case 0 => special(rnd.nextInt(special.length))
      case 1 => sameLow(rnd.nextInt(sameLow.length))
      case 2 => rnd.nextLong()
      case _ => rnd.nextInt(3000).toLong
    }
    for (round <- 0 until 4) {
      val t = new LongTable(if (round == 0) 0 else rnd.nextInt(64))
      val model = mutable.LinkedHashMap.empty[Long, Long]
      var peak = 0
      for (step <- 0 until 20000) {
        peak = math.max(peak, model.size)
        rnd.nextInt(100) match {
          case 0 if step % 50 == 0 => t.clear(); model.clear()
          case r if r < 45 =>
            val (k, d) = (key(), rnd.nextInt(9) - 4L)
            t.add(k, d); model(k) = model.getOrElse(k, 0L) + d
          case r if r < 70 =>
            val (k, v) = (key(), rnd.nextLong())
            t.put(k, v); model(k) = v
          case _ =>
            val k = key()
            assert(t.get(k, 42L) == model.getOrElse(k, 42L), s"get($k) at step $step")
        }
      }
      assert(t.size == model.size)
      // enumeration is in first-insertion order, like LinkedHashMap's
      val got = (0 until t.size).map(j => (t.keyAt(j), t.valueAt(j)))
      assert(got == model.toSeq)
      assert(peak > 1000, "the sequence must cross several growths")
    }
  }

  test("LongTable.positions maps each key to its index") {
    val ks = Array(5L, -3L, Long.MinValue, 0L, 1L << 40)
    val t = LongTable.positions(ks)
    ks.indices.foreach(i => assert(t.get(ks(i), -1L) == i))
    assert(t.get(7L, -1L) == -1L)
  }

  test("growth past 2^30 slots throws the IllegalStateException naming the limit") {
    assert(LongTable.grownCapacity(1 << 29) == (1 << 30))
    val e = intercept[IllegalStateException](LongTable.grownCapacity(1 << 30))
    assert(e.getMessage.contains("2^30"), e.getMessage)
  }
}
