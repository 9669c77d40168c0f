package graft

import java.nio.file.Files
import graft.tools.Apps

/** The CLI drop-in (graft.tools.Apps) must run every reference app
  * name over both file formats and produce the reference-greppable
  * summary fields (Iterations / Value checksum / Reachable vertices —
  * vertex_program.hpp:1944-1958). */
class AppsSpec extends SparkTestBase {

  private val sampleBin = "/root/reference/data/rmat10_1024.bin"

  test("pr/deg/tc over the reference sample binary") {
    assume(Files.exists(java.nio.file.Paths.get(sampleBin)))
    val pr = Apps.run(spark, "pr", sampleBin, iters = 5, root = 0, parts, weighted = false)
    assert(pr.iterations == 5 && pr.checksum > 0 && pr.top.size == 5)
    val deg = Apps.run(spark, "deg", sampleBin, iters = 0, root = 0, parts, weighted = false)
    assert(deg.checksum == 16384.0) // Σ out-degree = E
    val tc = Apps.run(spark, "tc", sampleBin, iters = 0, root = 0, parts, weighted = false)
    assert(tc.checksum == 78452.0) // the shipped sample graph's count (deterministic file)
  }

  test("bfs/cc/sssp over a text edge list with comments") {
    val dir = tempDir("graft-apps")
    Files.writeString(java.nio.file.Paths.get(dir, "g.txt"),
      """# path graph 0-1-2-3 plus isolated pair 8-9
        |0 1
        |1 2 2
        |2 3
        |8 9
        |""".stripMargin)
    val bfs = Apps.run(spark, "bfs", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    assert(bfs.reachable.contains(4L) && bfs.checksum == 0 + 1 + 2 + 3)
    val cc = Apps.run(spark, "cc", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    assert(cc.reachable.contains(6L)) // 6 vertices labeled
    assert(cc.checksum == 0 * 4 + 8 * 2) // min-label: {0,1,2,3}->0, {8,9}->8
    val sp = Apps.run(spark, "sssp", s"$dir/g.txt", iters = 0, root = 0, parts, weighted = false)
    // directed distances from 0: 0, 1, 3 (w=2 hop), 4
    assert(sp.reachable.contains(4L) && sp.checksum == 0 + 1 + 3 + 4)
  }

  test("pr/deg against the oracle on the sample binary, cache=<dir> reruns, and bfs/cc/sssp/lpa checksums on a text graph") {
    assume(Files.exists(java.nio.file.Paths.get(sampleBin)))
    // PageRank against the in-memory oracle on the same records: same
    // checksum and top-5 vertices; values agree to 1e-9 (the two sum
    // contributions in different orders, so last-ulp drift is expected)
    val pr = Apps.run(spark, "pr", sampleBin, iters = 5, root = 0, parts,
      weighted = false)
    val es = graft.sources.EdgeListSource.readBinary(spark, sampleBin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = ReferenceOracle.pagerank(es, iters = 5)
    val wantTop = want.toSeq.sortBy { case (v, x) => (-x, v) }.take(5)
    assert(pr.iterations == 5 && math.abs(pr.checksum - want.values.sum) <= 1e-9)
    assert(pr.top.map(_._1) == wantTop.map(_._1))
    pr.top.zip(wantTop).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9)
    }
    val deg = Apps.run(spark, "deg", sampleBin, iters = 0, root = 0, parts,
      weighted = false)
    assert(deg.checksum == 16384.0) // Σ out-degree = E

    // cache=<dir>: a second run of the same app loads the tile cache
    // instead of recompiling and must be checksum-identical; a second
    // APP on the same cache root must not collide (per-variant subdirs)
    val kc = tempDir("graft-apps-kcache")
    val prC1 = Apps.run(spark, "pr", sampleBin, iters = 5, root = 0, parts,
      weighted = false, cache = Some(kc))
    val prC2 = Apps.run(spark, "pr", sampleBin, iters = 5, root = 0, parts,
      weighted = false, cache = Some(kc))
    assert(prC1.checksum == prC2.checksum && prC1.checksum == pr.checksum)
    val ccC = Apps.run(spark, "cc", sampleBin, iters = 0, root = 0, parts,
      weighted = false, cache = Some(kc))
    val ccPlain = Apps.run(spark, "cc", sampleBin, iters = 0, root = 0, parts,
      weighted = false)
    assert(ccC.checksum == ccPlain.checksum && ccC.reachable == ccPlain.reachable)

    val dir = tempDir("graft-apps-kernel")
    Files.writeString(java.nio.file.Paths.get(dir, "g.txt"),
      """0 1
        |1 2 2
        |2 3
        |8 9
        |""".stripMargin)
    val bfs = Apps.run(spark, "bfs", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false)
    assert(bfs.reachable.contains(4L) && bfs.checksum == 0 + 1 + 2 + 3)
    val cc = Apps.run(spark, "cc", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false)
    assert(cc.reachable.contains(6L) && cc.checksum == 0 * 4 + 8 * 2)
    val sp = Apps.run(spark, "sssp", s"$dir/g.txt", iters = 0, root = 0, parts,
      weighted = false)
    assert(sp.reachable.contains(4L) && sp.checksum == 0 + 1 + 3 + 4)

    // lpa: the undirected path 0-1-2-3 plus pair 8-9 against the oracle:
    // checksum, distinct-label count and iterations
    val lpa = Apps.run(spark, "lpa", s"$dir/g.txt", iters = 5, root = 0, parts,
      weighted = false)
    val (labels, rounds) = ReferenceOracle.lpa(Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L)), 5)
    assert(lpa.checksum == labels.values.sum.toDouble
      && lpa.reachable.contains(labels.values.toSet.size.toLong)
      && lpa.iterations == rounds)
  }
}
