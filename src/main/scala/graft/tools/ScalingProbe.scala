package graft.tools

import org.apache.spark.sql.SparkSession
import graft.ingest._
import graft.graph._

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
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
      // vectorized first-level agg hash map: the superstep's dst-keyed
      // aggregation probes a multi-million-key map per task; the
      // columnar layout cuts per-probe DRAM traffic (measured
      // 8.6→7.6 s/iter at 32c/115M, −12% at 8c, −3% at 2c — gains
      // grow with core count because the bus is the contended
      // resource). Off by default in Spark; safe for this plan shape.
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      // Kryo: fast primitive/array paths for the kernel's RDD-level
      // shuffles (Java object streams were measured 10-20× the
      // kernel's compute time on the packed-accumulator exchange)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Force the sort-based shuffle writer: the bypass-merge writer
      // (default below 200 partitions) opens P files per map task —
      // P² file opens per superstep, measured 3× the whole iteration
      // on this VM's virtio disk. A production cluster runs with
      // >200 partitions where the sort writer is the default anyway.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // long superstep loops produce one ~E-sized shuffle per
      // iteration; ContextCleaner only reaps the files after a driver
      // GC notices the dropped references (default periodic GC 30min —
      // iter walls were measured drifting up as /tmp filled). 120s
      // (not 45s): a typical 60-100 s sample now sees ≤1 firing, and
      // the launcher's -XX:+ExplicitGCInvokesConcurrent makes that
      // firing a concurrent cycle, not the 6 s stop-the-world full
      // collection that was spiking one random superstep per run.
      .config("spark.cleaner.periodicGC.interval", "120s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    // 2nd arg: either a repo count (synthesize) or a parked edge
    // parquet path (read back — same contract as Bench's samples).
    val parked = args.lift(1).filter(isPath)
    val edges = parked.map(spark.read.parquet(_)).getOrElse {
      val corpus = RepoCorpus.generate(spark, RepoCorpus.Config(nRepos = nRepos, filesPerRepo = 4))
      EdgeExtraction.ingest(EdgeExtraction.withSha(corpus))._1
    }
    val parts = cores
    val iters = sys.env.get("PROBE_ITERS").map(_.toInt).getOrElse(10)
    // Every mode runs on the tile-compiled SpmvKernel and is measured
    // with the PhaseListener, so the probe reports the reference's
    // TIMING split (scatter_gather/combine vs apply vs barrier).
    // PROBE_ALGO=cc → connected components to the fixpoint instead of
    // fixed-iteration PageRank: the NONSTATIONARY (frontier/SpMSpV)
    // benchmark. PROBE_ALGO=lpa → frequency label propagation (fixed
    // PROBE_ITERS budget): the MULTISET-combiner benchmark (the
    // label-count triple exchange); lpaf = the same with the
    // incremental delta path disabled. PROBE_ALGO=conv → PageRank to
    // the 1e-6 convergence criterion.
    val algo = sys.env.getOrElse("PROBE_ALGO", "pr")

    // Kernel samples on a PARKED table keep their tiles in a durable
    // cache next to it, one subdir per (shape, parts): the bench's
    // forked JVMs would otherwise each pay the full compile
    // (multi-minute at 460M edges / 1 core) for byte-identical tiles.
    // The loop metrics are computed fresh every run either way — only
    // the build phase is cached, like the parked edge tables
    // themselves. GRAFT_KERNEL_CACHE=<dir> (the bench's cold/warm cache
    // pair) names the cache root instead; the synthesized-corpus mode
    // has no files to fingerprint and compiles unconditionally.
    val cache = sys.env.get("GRAFT_KERNEL_CACHE").orElse(parked.map(_ + ".kcache"))
    // CC runs on the undirected deduped closure with self-loops, LPA
    // without them, PageRank on the raw table.
    val shape = algo match {
      case "lpa" | "lpaf" => Shape.UndirectedNoSelf
      case "cc" => Shape.Undirected
      case _ => Shape.Raw
    }
    val mode = if (algo == "pr") "kernel" else s"kernel-$algo"
    val (buildSec, nE, imbalance, r, pl) = SpmvKernel.compiled(edges, shape, parts, cache) { g =>
      val buildSec = (System.nanoTime() - t0) / 1e9
      // mirrors > 0 ⇒ the auto hub-salting engaged (a source owned more
      // than a quarter-partition of edges); the imbalance field below
      // then reports the SALTED balance
      println(f"[probe] mode=$mode cores=$cores parts=$parts V=${g.numVertices} E=${g.numEdges} buildSec=$buildSec%.1f " +
        f"exchangeMBPerIter=${g.exchangeDoubles * 8.0 / 1e6}%.1f mirrors=${g.mirrorCount}")
      val (r, pl) = PhaseListener.measure(spark.sparkContext)(algo match {
        // "lpaf" = the same LPA with the incremental delta path disabled
        // (full recount every superstep) — the A/B twin that isolates
        // what the persistent-counts mode buys
        case "lpa" | "lpaf" => g.lpa(maxIters = iters, incremental = algo != "lpaf")
        case "cc" => g.run(new CcKernelProgram, maxIters = 0)
        // the BASELINE convergence criterion: per-vertex |Δrank| ≤ 1e-6
        case "conv" => g.pagerank(maxIters = 0, tol = 1e-6)
        case _ => g.pagerank(maxIters = iters)
      })
      (buildSec, g.numEdges, g.edgeImbalance, r, pl)
    }
    r.metrics.foreach(m => println(s"[probe] iter=${m.iter} wallMs=${m.wallMs} active=${m.activeVertices}"))
    val (rIters, iterWalls) = (r.iterations, r.metrics.map(_.wallMs))

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
