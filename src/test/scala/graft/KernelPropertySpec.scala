package graft

import graft.graph._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Property tests of the kernel against [[ReferenceOracle]] on
  * generated graphs. ScalaCheck runs directly from `test(...)` (no
  * scalatestplus bridge). */
class KernelPropertySpec extends SparkTestBase {

  /** Up to ~200 vertices, at least one edge between two of them:
    * random and hub-skewed edges, parallel edges
    * (a repeated prefix), self-loops, and isolated vertices (vertices
    * whose only edge is a self-loop). */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 180)
    m <- Gen.choose(1, 3 * n)
    hubShare <- Gen.choose(0, 3) // 0..3 quarters of the edges leave vertex 0
    es <- Gen.listOfN(m, for {
      hub <- Gen.choose(0, 3)
      s <- Gen.choose(0, n - 1)
      d <- Gen.choose(0, n - 1)
    } yield ((if (hub < hubShare) 0 else s).toLong, d.toLong))
    dups <- Gen.choose(0, m)
    loops <- Gen.listOf(Gen.choose(0, n - 1).map(v => (v.toLong, v.toLong)))
    isolated <- Gen.choose(0, 10)
  } yield (0L, 1L) +: (es ++ es.take(dups) ++ loops ++
    (0 until isolated).map(i => ((n + i).toLong, (n + i).toLong)))

  test("kernel LPA (incremental and full-only) equals the reference oracle on generated graphs") {
    var salted = 0
    var engaged = 0
    val prop = Prop.forAllNoShrink(graphs, Gen.choose(1, 12)) { (es, maxIters) =>
      val (want, wantIters) = ReferenceOracle.lpa(es, maxIters)
      val und = GraphShaping.shape(edgesDF(es),
        EdgeShaping(selfLoops = false, directed = false, parallelEdges = false))
        .select("src", "dst")
      // a tiny hubChunk salts every vertex of degree > 4 into mirrors
      val g = SpmvKernel.compile(und, parts, hubChunk = 4)
      try {
        if (g.mirrorCount > 0) salted += 1
        def run(incremental: Boolean): (Int, Map[Long, Long]) = {
          val r = g.lpa(maxIters, incremental = incremental)
          if (incremental && r.metrics.dropRight(1).exists(_.activeVertices * 2 <= g.numVertices))
            engaged += 1
          val labels = r.state.collect().map(x => x.getLong(0) -> x.getDouble(1).toLong).toMap
          Engine.release(r.state)
          (r.iterations, labels)
        }
        // shaping drops self-loops, so a vertex with no other neighbour
        // is not in the kernel's graph; the oracle keeps its own label
        val wired = es.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).toSet
        val expected = (wantIters, want.filter { case (v, _) => wired(v) })
        want.forall { case (v, l) => wired(v) || v == l } &&
          run(incremental = true) == expected && run(incremental = false) == expected
      } finally g.unpersist()
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withWorkers(1).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status)
    assert(salted > 0, "no generated graph salted a hub — mirrors never exercised")
    assert(engaged > 0, "no generated run passed the incremental gate")
  }
}
