package graft

import graft.graph.{CompiledGraphCache, SpmvKernel}
import graft.ckpt.CheckpointManager

/** Durable compiled-graph cache: fingerprinted save/load of the kernel
  * tile arrays so a new JVM (e.g. one resuming a checkpointed run)
  * skips the three compile shuffles. */
class CompiledGraphCacheSpec extends SparkTestBase {

  private def parkEdges(es: Seq[(Long, Long)]): String = {
    val dir = tempDir("graft-edges")
    edgesDF(es).repartition(2).write.mode("overwrite").parquet(dir)
    dir
  }

  private def ranks(g: SpmvKernel.CompiledGraph, iters: Int = 8): Map[Long, Double] =
    g.pagerank(maxIters = iters).state.collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap

  test("cold compileOrLoad saves; warm load skips the compile bit-identically") {
    val edgeDir = parkEdges(randomEdges(200, 1200, seed = 301))
    val cacheDir = tempDir("graft-kcache")
    val df = spark.read.parquet(edgeDir)

    val cold = CompiledGraphCache.compileOrLoad(df, parts, cacheDir)
    val want = ranks(cold)
    val (v, e) = (cold.numVertices, cold.numEdges)
    cold.unpersist()

    // the warm path must load without compiling: load() directly
    // proves the cache is sufficient on its own
    val fp = CompiledGraphCache.fingerprint(df, parts)
    assert(fp.isDefined, "parquet input must fingerprint")
    val warm = CompiledGraphCache.load(spark, cacheDir, fp)
    assert(warm.isDefined, "warm load missed a fresh cache")
    val g = warm.get
    assert(g.numVertices == v && g.numEdges == e)
    assert(ranks(g) == want, "loaded graph diverged from the compiled one")
    g.unpersist()
  }

  test("a changed edge table misses the cache instead of loading a stale graph") {
    val edgeDir = parkEdges(randomEdges(100, 500, seed = 307))
    val cacheDir = tempDir("graft-kcache")
    val g = CompiledGraphCache.compileOrLoad(spark.read.parquet(edgeDir), parts, cacheDir)
    g.unpersist()
    // overwrite the table: sizes/mtimes change → new fingerprint
    edgesDF(randomEdges(100, 600, seed = 311)).repartition(2)
      .write.mode("overwrite").parquet(edgeDir)
    val df2 = spark.read.parquet(edgeDir)
    val fp2 = CompiledGraphCache.fingerprint(df2, parts)
    assert(CompiledGraphCache.load(spark, cacheDir, fp2).isEmpty,
      "stale cache loaded for a changed edge table")
    // and compileOrLoad recovers by recompiling + re-saving
    val g2 = CompiledGraphCache.compileOrLoad(df2, parts, cacheDir)
    assert(g2.numEdges == 600)
    assert(CompiledGraphCache.load(spark, cacheDir, fp2).isDefined)
    g2.unpersist()
  }

  test("checkpoint resume on a cache-loaded graph equals the uninterrupted run") {
    // the cross-JVM resume shape: process 1 compiles, saves the tile
    // cache, checkpoints mid-run and dies (unpersist stands in for the
    // JVM exit); process 2 LOADS the graph — no compile — and resumes
    val edgeDir = parkEdges(randomEdges(150, 900, seed = 313))
    val cacheDir = tempDir("graft-kcache")
    val df = spark.read.parquet(edgeDir)

    val g1 = CompiledGraphCache.compileOrLoad(df, parts, cacheDir)
    val straight = ranks(g1, iters = 12)
    val ckptDir = tempDir("graft-ckpt")
    val mgr = new CheckpointManager(ckptDir, every = 6)
    g1.pagerank(maxIters = 6, ckpt = Some(mgr))
    g1.unpersist() // "process 1 exits"

    val g2 = CompiledGraphCache.load(spark, cacheDir,
      CompiledGraphCache.fingerprint(df, parts)).get
    val resumed = g2.pagerank(maxIters = 12, ckpt = Some(mgr))
    assert(resumed.state.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      == straight, "cache-loaded resume diverged from the uninterrupted run")
    g2.unpersist()
  }

  test("weighted and salted compiles round-trip (weights, mirrors preserved)") {
    // weighted: SSSP relax depends on the tile weight arrays
    val wDir = tempDir("graft-edges-w")
    wEdgesDF(Seq((0L, 1L, 2.0), (1L, 2L, 0.5), (0L, 2L, 5.0), (2L, 3L, 1.0)))
      .write.mode("overwrite").parquet(wDir)
    val wdf = spark.read.parquet(wDir)
    val wCache = tempDir("graft-kcache-w")
    val gw = CompiledGraphCache.compileOrLoad(wdf, parts, wCache)
    def dists(g: SpmvKernel.CompiledGraph) =
      g.run(new graft.graph.SsspKernelProgram(0L), maxIters = 0).state.collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(1)) -1.0 else x.getDouble(1))).toMap
    val wantD = dists(gw)
    gw.unpersist()
    val gw2 = CompiledGraphCache.load(spark, wCache,
      CompiledGraphCache.fingerprint(wdf, parts)).get
    assert(gw2.weighted && dists(gw2) == wantD, "weights lost through the cache")
    gw2.unpersist()

    // salted: hub mirrors + combined invDeg must survive the round-trip
    val hub = 0L
    val sDir = parkEdges((1L to 300L).map(d => (hub, d)) :+ (300L, hub))
    val sdf = spark.read.parquet(sDir)
    val sCache = tempDir("graft-kcache-s")
    val gs = CompiledGraphCache.compileOrLoad(sdf, parts, sCache, hubChunk = 32)
    assert(gs.mirrorCount > 0, "expected a salted compile")
    val wantR = ranks(gs)
    val mc = gs.mirrorCount
    gs.unpersist()
    val gs2 = CompiledGraphCache.load(spark, sCache,
      CompiledGraphCache.fingerprint(sdf, parts, hubChunk = 32)).get
    assert(gs2.mirrorCount == mc && ranks(gs2) == wantR,
      "salted layout diverged through the cache")
    gs2.unpersist()
  }
}
