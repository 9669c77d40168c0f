package graft

import graft.graph._
import graft.algos.{ConnectedComponents, PageRank, SourceSemantics, Traversal}
import graft.ckpt.CheckpointManager
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Property tests of the kernel — through the algorithm API, shaping
  * included — against [[ReferenceOracle]] on generated graphs.
  * ScalaCheck runs directly from `test(...)` (no scalatestplus
  * bridge). */
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

  private def check(prop: Prop, trials: Int = 15): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(trials)
      .withWorkers(1).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, res.status)
  }

  /** Collects `read` from an algorithm's state, then releases it. */
  private def collected[A](r: SpmvKernel.KernelResult)(read: org.apache.spark.sql.DataFrame => A): A = {
    val out = read(r.state)
    Engine.release(r.state)
    out
  }

  private def pagerank(es: Seq[(Long, Long)], iters: Int, mode: SourceSemantics): Map[Long, Double] =
    collected(PageRank.run(edgesDF(es), parts, maxIters = iters, sources = mode))(
      _.select("vid", "rank").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap)

  private def components(es: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val r = ConnectedComponents.run(edgesDF(es), parts)
    (collected(r)(_.select("vid", "label").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap),
      r.iterations)
  }

  private def bfs(es: Seq[(Long, Long)], root: Long): (Map[Long, (Long, Long)], Int) = {
    val r = Traversal.bfs(edgesDF(es), root, parts)
    (collected(r)(_.select("vid", "parent", "hops").filter("hops IS NOT NULL").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap), r.iterations)
  }

  private def sssp(es: Seq[(Long, Long, Double)], root: Long): Map[Long, Double] =
    collected(Traversal.sssp(wEdgesDF(es), root, parts))(
      _.select("vid", "dist").filter("dist IS NOT NULL").collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap)

  test("PageRank in all three source modes equals the reference oracle on generated graphs") {
    val modes = Seq(SourceSemantics.Always -> "always", SourceSemantics.Never -> "never",
      SourceSemantics.FinalFlush -> "flush")
    check(Prop.forAllNoShrink(graphs, Gen.choose(1, 12)) { (es, iters) =>
      modes.forall { case (mode, name) =>
        val want = ReferenceOracle.pagerank(es, iters, mode = name)
        val got = pagerank(es, iters, mode)
        got.keySet == want.keySet &&
          want.forall { case (v, x) => math.abs(got(v) - x) <= 1e-6 }
      }
    })
  }

  test("CC labels and superstep count equal the reference oracle on generated graphs") {
    check(Prop.forAllNoShrink(graphs)(es => components(es) == ReferenceOracle.components(es)))
  }

  test("BFS hops, min-vid parents and superstep count equal the reference oracle on generated graphs") {
    check(Prop.forAllNoShrink(graphs)(es => bfs(es, 0L) == ReferenceOracle.bfs(es, 0L)))
  }

  test("a run resumed at a random superstep equals the uninterrupted run (PR, CC, BFS, SSSP, LPA)") {
    // one weighted compile per graph serves all five programs; hubChunk
    // = 4 salts every vertex of degree > 4, so the resume must rebuild
    // the mirror slots' hub broadcast. The gated PageRank modes run on
    // an unweighted twin compile, where their ranks must also equal
    // the oracle's, so the resume must rebuild the source gate too.
    val budget = 8
    var salted = 0
    type Run = (Int, Option[CheckpointManager]) => SpmvKernel.KernelResult
    check(Prop.forAllNoShrink(graphs, Gen.choose(1, budget)) { (es, k) =>
      val wes = es.zipWithIndex.map { case ((s, d), i) => (s, d, 1.0 + i % 7) }
      val g = SpmvKernel.compile(wEdgesDF(wes), parts, hubChunk = 4)
      val gu = SpmvKernel.compile(edgesDF(es), parts, hubChunk = 4)
      try {
        if (g.mirrorCount > 0) salted += 1
        def gated(mode: SourceSemantics): Run = (n, c) => gu.pagerank(n, ckpt = c, sources = mode)
        // (program, supersteps it runs after its last snapshot, oracle mode)
        val programs: Seq[(Run, Int, String)] = Seq(
          ((n, c) => g.pagerank(n, ckpt = c), 0, null),
          ((n, c) => g.run(new CcKernelProgram, n, ckpt = c), 0, null),
          ((n, c) => g.run(new BfsKernelProgram(0L), n, ckpt = c), 0, null),
          ((n, c) => g.run(new SsspKernelProgram(0L), n, ckpt = c), 0, null),
          ((n, c) => g.lpa(n, ckpt = c), 0, null),
          (gated(SourceSemantics.Never), 0, "never"),
          (gated(SourceSemantics.FinalFlush), 1, "flush"))
        programs.forall { case (run, flushes, mode) =>
          def outcome(r: SpmvKernel.KernelResult) =
            (r.iterations, collected(r)(_.collect().toSet))
          val straight = outcome(run(budget, None))
          val dir = java.nio.file.Files.createTempDirectory("graft-resume").toFile
          val cm = new CheckpointManager(dir.toString, every = 0)
          val resumes = try {
            val first = run(k, Some(cm))
            Engine.release(first.state)
            val resumed = run(budget, Some(cm))
            // the second call continued from the snapshot, not from init
            resumed.metrics.map(_.iter) == (first.iterations - flushes + 1 to resumed.iterations) &&
              outcome(resumed) == straight
          } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
          resumes && (mode == null || {
            val want = ReferenceOracle.pagerank(es, budget, mode = mode)
            val got = straight._2.map(x => x.getLong(0) -> x.getDouble(1)).toMap
            got.keySet == want.keySet &&
              want.forall { case (v, x) => math.abs(got(v) - x) <= 1e-6 }
          })
        }
      } finally { g.unpersist(); gu.unpersist() }
    }, trials = 10)
    assert(salted > 0, "no generated graph salted a hub — mirrors never exercised")
  }

  test("weighted SSSP distances equal Dijkstra on generated graphs") {
    // integer weights in [1, 7] from each edge's index: every path sum
    // is exact in double, so the comparison is exact
    check(Prop.forAllNoShrink(graphs) { es =>
      val wes = es.zipWithIndex.map { case ((s, d), i) => (s, d, 1.0 + i % 7) }
      sssp(wes, 0L) == ReferenceOracle.sssp(wes, 0L)
    })
  }
}
