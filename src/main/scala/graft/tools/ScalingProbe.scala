package graft.tools

import org.apache.spark.sql.SparkSession
import graft.ingest._
import graft.graph._
import graft.algos._

/** Per-iteration breakdown of the PageRank superstep loop at one
  * parallelism level — the profiling companion to Bench's scaling
  * phase. Usage: ./run_main.sh graft.tools.ScalingProbe <cores> <nRepos>
  */
object ScalingProbe {
  /** 2nd-arg mode: an existing path → parked parquet; otherwise a repo
    * count (a mistyped path fails fast in toLong instead of silently
    * synthesizing). */
  private def isPath(a: String): Boolean = new java.io.File(a).exists()

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val nRepos = if (args.length > 1 && !isPath(args(1))) args(1).toLong else 1000000L
    // Local-mode tuning (measured at 32c/115M edges, medians):
    //  - shuffle compression OFF: superstep exchanges land in page
    //    cache; LZ4 is pure CPU here (9.2s → 7.0s/iter). On a real
    //    network-bound cluster leave it ON — this is a local setting.
    //  - CSR cache uncompressed + 64k-row batches: the adjacency is
    //    re-scanned every superstep; decompression and per-batch
    //    overhead dominate the gather (7.0s → 6.4s/iter).
    // -D system properties still win (sys.props lookup) for
    // experiments.
    def tuned(k: String, dflt: String) = sys.props.getOrElse(k, dflt)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("PROBE_AQE", "true"))
      .config("spark.shuffle.compress", tuned("spark.shuffle.compress", "false"))
      .config("spark.shuffle.spill.compress", tuned("spark.shuffle.spill.compress", "false"))
      .config("spark.sql.inMemoryColumnarStorage.compressed",
        tuned("spark.sql.inMemoryColumnarStorage.compressed", "false"))
      .config("spark.sql.inMemoryColumnarStorage.batchSize",
        tuned("spark.sql.inMemoryColumnarStorage.batchSize", "65536"))
      // vectorized first-level agg hash map: the superstep's dst-keyed
      // aggregation probes a multi-million-key map per task; the
      // columnar layout cuts per-probe DRAM traffic (measured
      // 8.6→7.6 s/iter at 32c/115M, −12% at 8c, −3% at 2c — gains
      // grow with core count because the bus is the contended
      // resource). Off by default in Spark; safe for this plan shape.
      .config("spark.sql.codegen.aggregate.map.vectorized.enable",
        tuned("spark.sql.codegen.aggregate.map.vectorized.enable", "true"))
      // Kryo: fast primitive/array paths for the kernel's RDD-level
      // shuffles (Java object streams were measured 10-20× the
      // kernel's compute time on the packed-accumulator exchange)
      .config("spark.serializer",
        tuned("spark.serializer", "org.apache.spark.serializer.KryoSerializer"))
      // Force the sort-based shuffle writer: the bypass-merge writer
      // (default below 200 partitions) opens P files per map task —
      // P² file opens per superstep, measured 3× the whole iteration
      // on this VM's virtio disk. A production cluster runs with
      // >200 partitions where the sort writer is the default anyway.
      .config("spark.shuffle.sort.bypassMergeThreshold",
        tuned("spark.shuffle.sort.bypassMergeThreshold", "1"))
      // long superstep loops produce one ~E-sized shuffle per
      // iteration; ContextCleaner only reaps the files after a driver
      // GC notices the dropped references (default periodic GC 30min —
      // iter walls were measured drifting up as /tmp filled). 120s
      // (not 45s): a typical 60-100 s sample now sees ≤1 firing, and
      // the launcher's -XX:+ExplicitGCInvokesConcurrent makes that
      // firing a concurrent cycle, not the 6 s stop-the-world full
      // collection that was spiking one random superstep per run.
      .config("spark.cleaner.periodicGC.interval",
        tuned("spark.cleaner.periodicGC.interval", "120s"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    // 2nd arg: either a repo count (synthesize) or a parked edge
    // parquet path (read back — same contract as Bench's samples).
    val edges =
      if (args.length > 1 && isPath(args(1))) spark.read.parquet(args(1))
      else {
        val corpus = RepoCorpus.generate(spark, RepoCorpus.Config(nRepos = nRepos, filesPerRepo = 4))
        EdgeExtraction.ingest(EdgeExtraction.withSha(corpus))._1
      }
    val parts = sys.env.get("PROBE_PARTS").map(_.toInt).getOrElse(cores)
    val iters = sys.env.get("PROBE_ITERS").map(_.toInt).getOrElse(10)
    // PROBE_KERNEL=0 → the general DataFrame Engine path (Catalyst
    // superstep jobs); default = the tile-compiled SpmvKernel fast
    // path, which is what a production fixed-iteration PageRank run
    // uses. Both are measured with the PhaseListener so the probe
    // reports the reference's TIMING split (scatter_gather/combine vs
    // apply vs barrier).
    val kernelMode = sys.env.getOrElse("PROBE_KERNEL", "1") != "0"
    // PROBE_ALGO=cc → connected components to the fixpoint instead of
    // fixed-iteration PageRank: the NONSTATIONARY (frontier/SpMSpV)
    // benchmark — kernel bitset-frontier loop vs the Catalyst engine's
    // frontier joins. Same undirected dedup shaping on both paths.
    // PROBE_ALGO=lpa → frequency label propagation (fixed PROBE_ITERS
    // budget; both paths stop at the same superstep by parity): the
    // MULTISET-combiner benchmark — the kernel's label-count triple
    // exchange vs the engine's two-hash-aggregation superstep.
    val algo = sys.env.getOrElse("PROBE_ALGO", "pr")

    // Round-6: kernel samples on a PARKED table route their compile
    // through the durable tile cache, one subdir per (shaping variant,
    // parts) — r5 verdict item 1: the bench's forked JVMs each paid the
    // full three-shuffle compile (multi-minute at 460M edges / 1 core)
    // for byte-identical tiles; with the cache the driver's recorded
    // run (the bench runs warmup + samples) loads in seconds and the
    // freed wall budget lands the optional samples. The reported loop
    // metrics are computed fresh every run either way — only the
    // build phase is cached, exactly like the parked edge tables
    // themselves. An EXPLICIT GRAFT_KERNEL_CACHE (the bench's
    // cold/warm cache pair) keeps its flat single-dir contract; the
    // synthesized-corpus mode has no files to fingerprint and
    // compiles unconditionally.
    val parkedPath = if (args.length > 1 && isPath(args(1))) Some(args(1)) else None
    def compiled(df: org.apache.spark.sql.DataFrame,
                 variant: String): graft.graph.SpmvKernel.CompiledGraph =
      sys.env.get("GRAFT_KERNEL_CACHE") match {
        case Some(d) => graft.graph.CompiledGraphCache.compileOrLoad(
          df, parts, d, variant = variant)
        case None => parkedPath match {
          case Some(p) => graft.graph.CompiledGraphCache.compileOrLoad(
            df, parts, s"$p.kcache/$variant-p$parts", variant = variant)
          case None => graft.graph.SpmvKernel.compile(df, parts)
        }
      }

    // build/compile-or-load seconds where the branch has a distinct
    // build phase (-1 = not applicable) — surfaced in probe-json so
    // Bench can record cold vs warm compile cost
    var buildSec = -1.0
    val (mode, nV, nE, rIters, iterWalls, imbalance, pl) =
      if (kernelMode && (algo == "lpa" || algo == "lpaf")) {
        // "lpaf" = the same kernel LPA with the incremental delta path
        // disabled (full recount every superstep) — the A/B twin that
        // isolates what the persistent-counts mode buys
        val und = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = false))
          .select("src", "dst")
        val g = compiled(und, "lpa-und")
        val tBuild = (System.nanoTime() - t0) / 1e9
        buildSec = tBuild
        println(f"[probe] mode=kernel-$algo cores=$cores parts=$parts V=${g.numVertices} E=${g.numEdges} buildSec=$tBuild%.1f")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(
          g.lpa(maxIters = iters, incremental = algo != "lpaf"))
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        (s"kernel-$algo", g.numVertices, g.numEdges, r.iterations,
          r.metrics.map(_.wallMs), g.edgeImbalance, pl)
      } else if (algo == "lpa") {
        // no buildSec here: the engine builds its adjacency inside the
        // measured run, so there is no distinct build phase to report
        // (a post-measure capture printed the whole loop as "build")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(
          LabelPropagation.run(edges.repartition(parts), parts, maxIters = iters))
        println(s"[probe] mode=engine-lpa cores=$cores parts=$parts")
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        // report the SAME shaped undirected edge set the engine
        // iterates (and the kernel twin reports) so the BENCH.md pair
        // rows are comparable; imbalance -1 = not measured here
        val nE = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = false)).count()
        ("engine-lpa", r.state.count(), nE, r.iterations,
          r.metrics.map(_.wallMs), -1.0, pl)
      } else if (kernelMode && algo == "cc") {
        val und = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = true)).select("src", "dst")
        val g = compiled(und, "cc-und")
        val tBuild = (System.nanoTime() - t0) / 1e9
        buildSec = tBuild
        println(f"[probe] mode=kernel-cc cores=$cores parts=$parts V=${g.numVertices} E=${g.numEdges} buildSec=$tBuild%.1f")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(
          g.run(new CcKernelProgram, maxIters = 0))
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        ("kernel-cc", g.numVertices, g.numEdges, r.iterations,
          r.metrics.map(_.wallMs), g.edgeImbalance, pl)
      } else if (algo == "cc") {
        // same as engine-lpa: adjacency build happens inside run()
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(
          ConnectedComponents.run(edges.repartition(parts), parts))
        println(s"[probe] mode=engine-cc cores=$cores parts=$parts")
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        // same shaped-count comparability contract as engine-lpa above
        val nE = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = true)).count()
        ("engine-cc", r.state.count(), nE, r.iterations,
          r.metrics.map(_.wallMs), -1.0, pl)
      } else if (algo == "conv") {
        // PageRank to the BASELINE convergence criterion (per-vertex
        // |Δrank| ≤ 1e-6, maxIters=0 → run until no vertex changed) on
        // the KERNEL path: proven hash-identical to the engine
        // (KernelSpec), so the ITERATION COUNT is exactly what the
        // engine would report, at a fraction of the bench budget —
        // which is what kept this sample from being shed in round 4.
        val g = compiled(edges, "raw")
        val tBuild = (System.nanoTime() - t0) / 1e9
        buildSec = tBuild
        println(f"[probe] mode=kernel-conv cores=$cores parts=$parts V=${g.numVertices} E=${g.numEdges} buildSec=$tBuild%.1f")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(
          g.pagerank(maxIters = 0, tol = 1e-6))
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        ("kernel-conv", g.numVertices, g.numEdges, r.iterations,
          r.metrics.map(_.wallMs), g.edgeImbalance, pl)
      } else if (kernelMode) {
        // GRAFT_KERNEL_CACHE=<dir> routes the compile through the
        // durable tile cache: a fingerprint-matching dir loads instead
        // of compiling (warm buildSec ≈ read cost), a miss compiles and
        // saves — the Bench cold/warm pair measures both
        val g = compiled(edges, "raw")
        val tBuild = (System.nanoTime() - t0) / 1e9
        buildSec = tBuild
        // mirrors > 0 ⇒ the auto hub-salting engaged (a source owned
        // more than a quarter-partition of edges); the imbalance field
        // below then reports the SALTED balance
        println(f"[probe] mode=kernel cores=$cores parts=$parts V=${g.numVertices} E=${g.numEdges} buildSec=$tBuild%.1f " +
          f"exchangeMBPerIter=${g.exchangeDoubles * 8.0 / 1e6}%.1f mirrors=${g.mirrorCount}")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(g.pagerank(maxIters = iters))
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        ("kernel", g.numVertices, g.numEdges, r.iterations,
          r.metrics.map(_.wallMs), g.edgeImbalance, pl)
      } else {
        // PROBE_WEIGHTED=0 → compact dst-only CSR (PageRank ignores
        // weights; the reference pr app builds without -DHAS_WEIGHT).
        // Default stays the struct layout: interleaved A/B at 32c/115M
        // measured the compact layout ~35% SLOWER (6.5 vs 8.8 s/iter)
        // and equal at 8c — the halved cache bytes don't pay for the
        // long-array Generate path here.
        val wtd = sys.env.getOrElse("PROBE_WEIGHTED", "1") != "0"
        val adj = Adjacency.build(edges.repartition(parts), parts, weighted = wtd)
        val tBuild = (System.nanoTime() - t0) / 1e9
        buildSec = tBuild
        println(f"[probe] mode=engine cores=$cores parts=$parts V=${adj.numVertices} E=${adj.numEdges} buildSec=$tBuild%.1f")
        val (r, pl) = PhaseListener.measure(spark.sparkContext)(PageRank.run(adj, maxIters = iters))
        r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
        val bal = BalanceAudit.audit(adj)
        ("engine", adj.numVertices, adj.numEdges, r.iterations,
          r.metrics.map(_.wallMs), bal.imbalance, pl)
      }

    val loopSec = iterWalls.sum / 1000.0
    val sorted = iterWalls.sorted
    val medianSec =
      if (sorted.isEmpty) 0.0
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2) / 1000.0
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2000.0
    println(f"[probe] loopSec=$loopSec%.2f tput=${nE * rIters / loopSec}%.0f edges/sec/superstep")

    // reference TIMING block (vertex_program.hpp:2132-2141): per-phase
    // sums from real stage metrics. "Scatter_gather+combine" = the
    // shuffle-map stage; "Apply" = the result stage; "Barrier" = the
    // driver residue the reference's MPI barrier corresponds to.
    val ph = pl.summarize(iterWalls)
    println(f"Init           time: ${0.0}%.1f ms (build excluded from loop)")
    println(f"Scatter_gather time (sum): ${ph.gatherMs.toDouble}%.1f ms (cpu ${ph.gatherCpuMs.toDouble}%.1f ms)")
    println(f"Apply          time (sum): ${ph.applyMs.toDouble}%.1f ms (cpu ${ph.applyCpuMs.toDouble}%.1f ms)")
    println(f"Barrier        time (sum): ${ph.barrierMs.toDouble}%.1f ms (median/iter ${ph.medianBarrierMs.toDouble}%.1f ms)")
    println(f"Execute        time: ${loopSec * 1e3}%.1f ms")

    // machine-readable summary for Bench's forked-JVM sampling —
    // Locale.ROOT so a comma-decimal default locale can't emit "0,123"
    // (which Bench's numeric regex would silently parse as 0).
    // imbalance = the reference's per-run balance report
    // (matrix.hpp:562-687) riding along so skew regressions fail loudly
    // in the round bench, not just in unit tests.
    println("[probe-json] " + String.format(java.util.Locale.ROOT,
      """{"mode":"%s","cores":%d,"edges":%d,"medianIterSec":%.3f,"loopSec":%.2f,"iters":%d,"imbalance":%.4f,"balanceBreached":%b,"gatherMs":%d,"applyMs":%d,"barrierMs":%d,"medBarrierMs":%d,"buildSec":%.2f}""",
      mode, Int.box(cores), Long.box(nE), Double.box(medianSec),
      Double.box(loopSec), Int.box(rIters), Double.box(imbalance),
      Boolean.box(imbalance > 0.2), Long.box(ph.gatherMs),
      Long.box(ph.applyMs), Long.box(ph.barrierMs), Long.box(ph.medianBarrierMs),
      Double.box(buildSec)))
    spark.stop()
  }
}
