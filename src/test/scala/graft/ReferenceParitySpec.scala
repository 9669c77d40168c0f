package graft

import graft.algos.PageRank
import graft.sources.EdgeListSource

/** Differential test against the REFERENCE IMPLEMENTATION'S OWN
  * OUTPUT: the reference's single-node TCSC PageRank kernel
  * (src/singlenode/tcsc_spmspv2.hpp, buildable with plain g++ via
  * `make test`) run on its shipped sample graph
  * data/rmat10_1024.bin (1024 V, 16384 E) as
  *   ./main 5 rmat10_1024.bin 1024 20
  * prints (captured 2026-08-16, g++ -O2):
  *   Final value    : 317.018          (Σ rank over all 1025 slots)
  *   V[0]=0.165455 V[1]=0.426287 V[2]=0.159504 V[3]=0.151325
  *   V[4]=1.23818  V[5]=0.15     V[6]=0.150692 V[7]=0.162355
  *   V[8]=0.15109  V[9]=0.189703
  * Semantics replicated here: binary records are (src,dst) LE uint32
  * pairs; `niters = 20` runs niters−1 = 19 update loops
  * (tcsc_spmspv2.hpp:129); parallel edges and self-loops kept;
  * vertices outside the edge set hold rank α = 0.15 and are included
  * in the reference's checksum (its state vector spans all 1025 ids).
  */
class ReferenceParitySpec extends SparkTestBase {

  private val sample = "/root/reference/data/rmat10_1024.bin"
  private val refVertices = 1025L // nvertices+1 "in favor of vertex id 0"
  private val refChecksum = 317.018
  private val refTop10 = Map(
    0L -> 0.165455, 1L -> 0.426287, 2L -> 0.159504, 3L -> 0.151325,
    4L -> 1.23818, 5L -> 0.15, 6L -> 0.150692, 7L -> 0.162355,
    8L -> 0.15109, 9L -> 0.189703)

  test("PageRank on the reference's sample graph matches its kernel output") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(sample)))
    val edges = EdgeListSource.readBinary(spark, sample)
    // the kernel's printed values are already the fixpoint (identical
    // for niters 19…60); run deep enough to converge at 6 digits too.
    // SourceSemantics.Never = the kernel's source-message gating.
    val r = PageRank.run(edges, parts, maxIters = 60, sources = graft.algos.SourceSemantics.Never)
    val ranks = r.state.select("vid", "rank").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap

    // per-vertex parity on the kernel's printed first-10 states
    refTop10.foreach { case (vid, want) =>
      val got = ranks.getOrElse(vid, 0.15)
      assert(math.abs(got - want) < 5e-6, s"vid=$vid got=$got want=$want")
    }

    // checksum parity: add back the alpha floor for ids absent from
    // the edge set (the kernel's dense state vector covers them)
    val checksum = r.checksum + 0.15 * (refVertices - ranks.size)
    assert(math.abs(checksum - refChecksum) < 5e-3, s"checksum=$checksum")
  }

  test("source-semantics modes match the mode-aware oracle") {
    val es = randomEdges(150, 700, seed = 91)
    def got(s: graft.algos.SourceSemantics): Map[Long, Double] =
      PageRank.run(edgesDF(es), parts, maxIters = 20, sources = s).state
        .select("vid", "rank").collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    def check(g: Map[Long, Double], mode: String): Unit = {
      val want = ReferenceOracle.pagerank(es, 20, mode = mode)
      assert(g.keySet == want.keySet)
      g.foreach { case (v, x) =>
        assert(math.abs(x - want(v)) <= 1e-6, s"mode=$mode vid=$v got=$x want=${want(v)}")
      }
    }
    check(got(graft.algos.SourceSemantics.Never), "never")
    check(got(graft.algos.SourceSemantics.FinalFlush), "flush")
    check(got(graft.algos.SourceSemantics.Always), "always")
  }
}
