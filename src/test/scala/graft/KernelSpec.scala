package graft

import graft.graph._

/** The tile-compiled kernel against the in-memory oracle: the
  * reference semantics (pr.h, cc.h, bfs.h, sssp.h and frequency LPA),
  * deterministic run-to-run. (Test names that say "engine" predate the
  * kernel being the only executor; each now checks the oracle.) */
class KernelSpec extends SparkTestBase {

  private def kernelRanks(es: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val g = SpmvKernel.compile(edgesDF(es), parts)
    try {
      val r = g.pagerank(maxIters = iters)
      r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    } finally g.unpersist()
  }

  test("random skewed graph matches the reference oracle allclose 1e-9 (20 iters)") {
    val es = randomEdges(400, 3000, seed = 91)
    val want = ReferenceOracle.pagerank(es, iters = 20)
    val got = kernelRanks(es, iters = 20)
    assert(got.keySet == want.keySet)
    want.foreach { case (v, x) =>
      assert(math.abs(got(v) - x) <= 1e-9, s"vid=$v want=$x got=${got(v)}")
    }
  }

  test("kernel equals the DataFrame engine path (same adjacency semantics)") {
    val es = randomEdges(200, 1500, seed = 93)
    val want = ReferenceOracle.pagerank(es, iters = 15)
    val kernel = kernelRanks(es, iters = 15)
    assert(kernel.keySet == want.keySet)
    want.foreach { case (v, x) =>
      assert(math.abs(kernel(v) - x) <= 1e-9, s"vid=$v oracle=$x kernel=${kernel(v)}")
    }
  }

  test("weighted edges: combiner multiplies by w (matches hand-rolled sweep)") {
    val es = Seq((0L, 1L, 2.0), (0L, 2L, 1.0), (1L, 2L, 3.0), (2L, 0L, 1.0))
    val g = SpmvKernel.compile(wEdgesDF(es), parts)
    val got = g.pagerank(maxIters = 5).state.collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    g.unpersist()
    // in-memory weighted sweep, same formula
    val vs = Seq(0L, 1L, 2L)
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = vs.map(_ -> 0.15).toMap
    (1 to 5).foreach { _ =>
      val y = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      es.foreach { case (u, v, w) => y(v) += rank(u) / outdeg(u) * w }
      rank = vs.map(v => v -> (0.15 + 0.85 * y(v))).toMap
    }
    vs.foreach(v => assert(math.abs(got(v) - rank(v)) <= 1e-12, s"vid=$v"))
  }

  test("convergence mode stops at the tol fixpoint like the engine") {
    val es = Fixtures.cycle6
    val g = SpmvKernel.compile(edgesDF(es), parts)
    val r = g.pagerank(maxIters = 0, tol = 1e-6)
    g.unpersist()
    // cycle: fixpoint rank=1 everywhere
    r.state.collect().foreach(x => assert(math.abs(x.getDouble(1) - 1.0) <= 1e-4))
    assert(r.iterations > 5) // actually iterated to the fixpoint
    assert(math.abs(r.checksum - 6.0) <= 1e-3)
  }

  test("two compiles + runs are bit-identical (deterministic tiles and fold order)") {
    val es = randomEdges(150, 900, seed = 97)
    val a = kernelRanks(es, iters = 12)
    val b = kernelRanks(es, iters = 12)
    assert(a == b, "kernel runs are not bit-deterministic")
  }

  test("parallel edges each contribute; empty graph is a no-op") {
    val dup = Seq((0L, 1L), (0L, 1L), (1L, 0L))
    val got = kernelRanks(dup, iters = 3)
    val want = ReferenceOracle.pagerank(dup, iters = 3)
    want.foreach { case (v, x) => assert(math.abs(got(v) - x) <= 1e-12) }

    val empty = SpmvKernel.compile(edgesDF(Seq.empty), parts)
    val r = empty.pagerank(maxIters = 5)
    assert(r.iterations == 0 && r.state.count() == 0)
    empty.unpersist()
  }

  // ---- generalized kernel: the frontier (SpMSpV) mode on the whole
  // nonstationary family

  private def undirected(es: Seq[(Long, Long)], selfLoops: Boolean = true) =
    GraphShaping.shape(edgesDF(es),
      EdgeShaping(selfLoops = selfLoops, directed = false, parallelEdges = false))
      .select("src", "dst")

  test("CC on the kernel frontier path equals the Catalyst engine (labels AND iterations)") {
    val es = randomEdges(300, 1200, seed = 101) ++ Seq((500L, 501L), (502L, 502L)) // extra tiny comps
    val g = SpmvKernel.compile(undirected(es), parts)
    val r = g.run(new CcKernelProgram, maxIters = 0)
    val got = r.state.select("vid", "label").collect()
      .map(x => x.getLong(0) -> x.getDouble(1).toLong).toMap
    g.unpersist()
    val (want, rounds) = ReferenceOracle.components(es)
    assert(got == want, "kernel CC labels diverge from the oracle")
    assert(r.iterations == rounds,
      s"kernel ran ${r.iterations} supersteps, oracle $rounds rounds")
  }

  test("BFS on the kernel frontier path equals the engine (parent, hops, iterations)") {
    val es = randomEdges(250, 900, seed = 103)
    val g = SpmvKernel.compile(undirected(es, selfLoops = false), parts)
    val r = g.run(new BfsKernelProgram(0L), maxIters = 0)
    val got = r.state.select("vid", "parent", "hops").collect().map { x =>
      x.getLong(0) -> (
        if (x.isNullAt(1)) None else Some(x.getDouble(1).toLong),
        if (x.isNullAt(2)) None else Some(x.getDouble(2).toLong))
    }.toMap
    g.unpersist()
    val (reached, rounds) = ReferenceOracle.bfs(es, 0L)
    val want = ReferenceOracle.vertices(es.filter(e => e._1 != e._2)).map(v =>
      v -> reached.get(v).fold((Option.empty[Long], Option.empty[Long])) {
        case (p, h) => (Some(p), Some(h)) }).toMap
    assert(got == want, "kernel BFS state diverges from the oracle")
    assert(r.iterations == rounds)
  }

  test("weighted SSSP on the kernel equals the engine relax exactly") {
    val rnd = new scala.util.Random(107)
    val es = (0 until 800).map { _ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong, 1.0 + rnd.nextInt(5))
    }
    val g = SpmvKernel.compile(wEdgesDF(es), parts)
    val r = g.run(new SsspKernelProgram(0L), maxIters = 0)
    val got = r.state.select("vid", "dist").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    g.unpersist()
    val dists = ReferenceOracle.sssp(es, 0L)
    val want = ReferenceOracle.vertices(es.map(e => (e._1, e._2))).map(v => v -> dists.get(v)).toMap
    assert(got == want, "kernel SSSP distances diverge from the oracle")
    assert(r.iterations == ReferenceOracle.ssspRounds(es, 0L))
  }

  test("unweighted SSSP (relax = dist+1) matches hop counts from BFS on a directed line") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (9L, 0L)) // 9 unreachable from 0
    val g = SpmvKernel.compile(edgesDF(es), parts)
    val r = g.run(new SsspKernelProgram(0L), maxIters = 0)
    val got = r.state.select("vid", "dist").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    g.unpersist()
    assert(got == Map(0L -> Some(0.0), 1L -> Some(1.0), 2L -> Some(2.0),
      3L -> Some(3.0), 4L -> Some(4.0), 9L -> None))
  }

  test("LPA on the kernel (mode combiner) equals the Catalyst engine (labels AND iterations)") {
    // two dense cliques + a bridge + random noise: exercises real label
    // coalescing, count ties (broken toward the smaller label in both
    // paths), and isolated self-loop vertices that keep their label
    val clique = (0L until 8L).flatMap(a => (0L until 8L).map(b => (a, b)))
    val clique2 = (20L until 27L).flatMap(a => (20L until 27L).map(b => (a, b)))
    val es = clique ++ clique2 ++ Seq((7L, 20L)) ++ randomEdges(60, 150, seed = 113)
    // the kernel's graph drops self-loops, so a vertex whose only edge
    // is a self-loop is absent; the oracle keeps it with its own label
    val wired = es.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).toSet
    for (iters <- Seq(1, 3, 10)) {
      val kr = graft.algos.LabelPropagation.run(edgesDF(es), parts, maxIters = iters)
      val got = kr.state.select("vid", "label").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      val (labels, rounds) = ReferenceOracle.lpa(es, iters)
      val want = labels.filter { case (v, _) => wired(v) }
      assert(got == want, s"kernel LPA labels diverge from the oracle at maxIters=$iters")
      assert(kr.iterations == rounds,
        s"kernel ran ${kr.iterations} supersteps, oracle $rounds rounds (maxIters=$iters)")
    }
  }

  test("LPA's budget counts supersteps: lpa(0) runs none, lpa(3) runs three") {
    // synchronous LPA on one undirected edge swaps the two labels every
    // superstep and never settles, so a budget of 0 cannot mean "until
    // nothing changes" here
    val g = SpmvKernel.compile(edgesDF(Seq((0L, 1L), (1L, 0L))), parts)
    try {
      def labels(maxIters: Int): (Int, Map[Long, Long]) = {
        val r = g.lpa(maxIters)
        (r.iterations, r.state.collect().map(x => x.getLong(0) -> x.getDouble(1).toLong).toMap)
      }
      assert(labels(0) == ((0, Map(0L -> 0L, 1L -> 1L))))
      assert(labels(3) == ((3, Map(0L -> 1L, 1L -> 0L))))
    } finally g.unpersist()
  }

  test("incremental LPA equals full-recount LPA (labels, iterations, checksum)") {
    // community structure with a long coalescing tail so several
    // supersteps pass the active·2 ≤ V gate and run the delta path
    // (±label triples into the persistent SlotCounts) — the full-only
    // twin recounts every edge every superstep; both must agree bit
    // for bit. incremental = false is the A/B lever.
    val clique = (0L until 10L).flatMap(a => (0L until 10L).map(b => (a, b)))
    val es = clique ++ (0L until 200L).map(i => (i, i + 1)) ++
      randomEdges(250, 500, seed = 211)
    def run(incremental: Boolean): (Int, Double, Map[Long, Double], Boolean) = {
      val g = SpmvKernel.compile(edgesDF(es.map(e => (e._1, e._2)) ++ es.map(e => (e._2, e._1))), parts)
      try {
        val r = g.lpa(maxIters = 25, incremental = incremental)
        // a non-final superstep with active·2 ≤ V means the NEXT one
        // ran the incremental delta path (the gate reads last count)
        val engaged = r.metrics.dropRight(1).exists(_.activeVertices * 2 <= g.numVertices)
        (r.iterations, r.checksum,
          r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap, engaged)
      } finally g.unpersist()
    }
    val hybrid = run(incremental = true)
    assert(hybrid._4, "test graph never passed the incremental gate — nothing exercised")
    val full = run(incremental = false)
    assert(hybrid._1 == full._1, s"iterations: hybrid=${hybrid._1} full=${full._1}")
    assert(hybrid._2 == full._2, "checksum diverged")
    assert(hybrid._3 == full._3, "labels diverged between incremental and full LPA")
  }

  test("kernel LPA is deterministic (two runs bit-identical)") {
    val es = randomEdges(150, 600, seed = 127)
    def once(): Seq[(Long, Long)] = {
      val r = graft.algos.LabelPropagation.run(edgesDF(es), parts, maxIters = 5)
      val out = r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      graft.graph.Engine.release(r.state)
      out
    }
    assert(once() == once())
  }

  test("frontier runs are deterministic (two CC runs bit-identical)") {
    val es = randomEdges(200, 800, seed = 109)
    def once(): Seq[(Long, Double)] = {
      val g = SpmvKernel.compile(undirected(es), parts)
      val r = g.run(new CcKernelProgram, maxIters = 0)
      val out = r.state.select("vid", "label").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq.sorted
      g.unpersist()
      out
    }
    assert(once() == once())
  }

  test("compile audit: V/E counts and bounded imbalance on a skewed graph") {
    val es = randomEdges(300, 4000, seed = 99)
    val g = SpmvKernel.compile(edgesDF(es), parts)
    assert(g.numEdges == es.length)
    assert(g.numVertices == ReferenceOracle.vertices(es).length)
    assert(g.edgeImbalance >= 0.0)
    g.unpersist()
  }

  test("salted hub compile: star graph balances and every program family stays exact") {
    // one vertex owning ~all out-edges: unsalted, hash(src) drops every
    // edge into ONE partition. A small hubChunk splits the hub's row
    // across partitions (mirror slots + per-superstep hub broadcast);
    // results must match the unsalted compile on every program family.
    val hub = 0L
    val star = (1L to 600L).map(d => (hub, d)) ++
      Seq((600L, 601L), (601L, hub), (5L, 6L), (6L, 7L))
    val flat = SpmvKernel.compile(edgesDF(star), parts)
    val salted = SpmvKernel.compile(edgesDF(star), parts, hubChunk = 64)
    try {
      assert(salted.mirrorCount > 0, "expected the star hub to salt into mirrors")
      assert(salted.numVertices == flat.numVertices && salted.numEdges == flat.numEdges)
      // balance: the hub's 600 edges spread across partitions
      assert(salted.edgeImbalance < flat.edgeImbalance,
        s"salted=${salted.edgeImbalance} flat=${flat.edgeImbalance}")
      assert(salted.edgeImbalance < 3.0, s"salted=${salted.edgeImbalance}")

      // stationary (PR): float-sum GROUPING changes, so allclose 1e-9
      def pr(g: SpmvKernel.CompiledGraph) = g.pagerank(maxIters = 10)
        .state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val (prF, prS) = (pr(flat), pr(salted))
      assert(prF.keySet == prS.keySet)
      prF.foreach { case (v, x) =>
        assert(math.abs(prS(v) - x) <= 1e-9, s"PR vid=$v flat=$x salted=${prS(v)}") }

      // frontier min-combiner (CC): min is grouping-independent → exact
      def cc(g: SpmvKernel.CompiledGraph) = g.run(new CcKernelProgram, maxIters = 0)
        .state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(cc(flat) == cc(salted), "CC diverged under salting")

      // iteration-dependent apply (BFS from the hub): exact
      def bfs(g: SpmvKernel.CompiledGraph) = g.run(new BfsKernelProgram(hub), maxIters = 0)
        .state.collect().map(x => (x.getLong(0),
          if (x.isNullAt(1)) -1.0 else x.getDouble(1),
          if (x.isNullAt(2)) -1.0 else x.getDouble(2))).toSet
      assert(bfs(flat) == bfs(salted), "BFS diverged under salting")

      // multiset combiner (LPA): integer counts → labels AND iterations exact
      def lpa(g: SpmvKernel.CompiledGraph) = {
        val r = g.lpa(maxIters = 10)
        (r.iterations, r.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap)
      }
      assert(lpa(flat) == lpa(salted), "LPA diverged under salting")
    } finally { flat.unpersist(); salted.unpersist() }
  }

  test("salted compile is deterministic and auto mode leaves ordinary graphs unsalted") {
    val es = randomEdges(300, 3000, seed = 103)
    // auto chunk floor (65536) is far above any degree here
    val auto = SpmvKernel.compile(edgesDF(es), parts)
    assert(auto.mirrorCount == 0, "auto salting must not trigger on an ordinary graph")
    auto.unpersist()
    // forced salting twice → bit-identical results (deterministic
    // chunk routing + sorted mirror slots)
    def once(): Seq[(Long, Double)] = {
      val g = SpmvKernel.compile(edgesDF(es), parts, hubChunk = 8)
      try g.pagerank(maxIters = 8).state.collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq.sortBy(_._1)
      finally g.unpersist()
    }
    assert(once() == once(), "salted compile not deterministic")
  }

  test("vid-in-message programs fail fast above 2^53 instead of rounding") {
    // CC labels (and BFS parents) ride double-typed messages — a vid
    // at 2^53 would silently round onto a neighboring id and merge
    // unrelated clusters; the programs reject it at init
    val big = (1L << 53) + 1L
    val g = SpmvKernel.compile(edgesDF(Seq((big, 1L), (1L, 2L))), parts)
    try {
      val e = intercept[Exception](g.run(new CcKernelProgram, maxIters = 0))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("exact only for 0 <= vid < 2^53")),
        s"unexpected failure: ${msgs(e).mkString(" | ")}")
    } finally g.unpersist()
  }
}
