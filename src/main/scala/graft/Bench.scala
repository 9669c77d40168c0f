package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Per-round benchmark. Two phases:
  *
  *  1. Headline `SparkEntry.queries` timings on SPARK_GRAFT_SF_DIR at
  *     local[SPARK_GRAFT_CPUS].
  *  2. Cluster-size scaling evidence (BASELINE.json north_rule): the
  *     identical PageRank job — synthetic repo corpus → edge
  *     extraction → parked parquet edge table → 10 supersteps — run at
  *     two parallelism levels on the SAME parked input, plus an
  *     unsaturated-pair curve, a frontier-algorithm (CC) kernel-vs-
  *     engine pair, a multiset-combiner (frequency LPA) kernel-vs-
  *     engine pair, and the Catalyst-engine continuity pair. Each
  *     sample runs in its own FORKED JVM (graft.tools.ScalingProbe) so
  *     GC state never bleeds between configurations; throughput =
  *     E / median superstep seconds.
  *
  * ARTIFACT-FIRST contract (round-3 fix — the driver's bench run must
  * always leave a parseable record, even if it is killed mid-phase-2):
  *
  *  - the phase-1 JSON line is PRINTED and parked in BENCH.json as
  *    soon as the query sweep finishes, BEFORE any scaling work;
  *  - BENCH.json and BENCH.md are REWRITTEN after every completed
  *    scaling sample, so the newest artifact always reflects
  *    everything measured so far;
  *  - phase 2 runs under a wall-clock budget
  *    (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1500 s for the whole
  *    bench): the strong pair and the unsaturated 1→4 pair always
  *    run; every other sample is OPTIONAL and is shed — recorded in
  *    BENCH.md — when the remaining budget is smaller than ~1.3× the
  *    last sample's cost on that table;
  *  - cumulative settle() sleeping is capped (SETTLE budget) instead
  *    of up to 3 minutes per fork.
  *
  * Emits the final JSON line {"metric","value","unit","queries","sf",
  * ...} on stdout at the end (the phase-1 flush printed the same shape
  * minus scaling, so a kill between the two still leaves one line).
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // local-mode tuning — see ScalingProbe.main's rationale; on a
      // network-bound cluster leave shuffle compression ON
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bump when RepoCorpus/EdgeExtraction (or their defaults) change —
    * cached tables stamped with a different config are regenerated
    * instead of silently reused (a stale cache would bench current
    * code against old bytes). */
  private val GenVersion = "g1"
  private def genConfig(nRepos: Long): String =
    s"$GenVersion|nRepos=$nRepos|filesPerRepo=4|seed=default|extract=sha-ingest"

  /** Synthesize corpus → extract edges → park as parquet on the
    * /dev/shm tmpfs, CACHED by repo count + generator config (the
    * `_gen_config` stamp — underscore-prefixed so parquet readers skip
    * it). Tables parked by earlier rounds under the legacy names
    * (e64m.parquet / e64000000repos.parquet, no stamp) are ADOPTED and
    * stamped on first touch — the generators are untouched since those
    * tables were written, and regenerating the 64M-repo table costs
    * ~10 min of the bench budget. */
  private def prepareEdges(cpus: Int, nRepos: Long): String = {
    val names =
      (if (nRepos % 1000000 == 0) Seq(s"e${nRepos / 1000000}m.parquet") else Seq.empty) :+
        s"e${nRepos}repos.parquet"
    val candidates =
      names.map(Paths.get("/dev/shm/graftbench").resolve) ++
        names.map(Paths.get("/tmp/graftbench_cache").resolve)
    val want = genConfig(nRepos)
    for (c <- candidates if Files.exists(c.resolve("_SUCCESS"))) {
      val marker = c.resolve("_gen_config")
      if (Files.exists(marker)) {
        if (Files.readString(marker).trim == want) return c.toString
        else System.err.println(s"[bench] $c: _gen_config mismatch — ignoring this cache")
      } else {
        System.err.println(s"[bench] adopting legacy cached table $c (stamping $GenVersion)")
        Files.writeString(marker, want)
        return c.toString
      }
    }
    val out = Paths.get("/dev/shm/graftbench").resolve(s"e${nRepos}repos.parquet")
    Files.createDirectories(out.getParent)
    // The gen session keeps Spark's DEFAULT shuffle compression — the
    // corpus extraction shuffles ~100 GB of file content at 64M repos,
    // and the loop-tuned compression-off session tripled the spill
    // footprint (measured ENOSPC at 64M repos).
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-gen-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      import graft.ingest._
      val corpus = RepoCorpus.generate(spark,
        RepoCorpus.Config(nRepos = nRepos, filesPerRepo = 4))
      val (edges, _) = EdgeExtraction.ingest(EdgeExtraction.withSha(corpus))
      edges.write.mode("overwrite").parquet(out.toString)
      Files.writeString(out.resolve("_gen_config"), want)
    } finally spark.stop()
    out.toString
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }

  /** JDK17 --add-opens set Spark needs (same list as run_main.sh),
    * plus ExplicitGCInvokesConcurrent: ContextCleaner's periodic
    * System.gc() (which local mode needs for shuffle-file reaping)
    * otherwise runs as a STOP-THE-WORLD full collection — measured
    * 6.1 s at a 32 GB heap, landing INSIDE a timed superstep and
    * reading as a phantom 3-6× iteration spike in the artifact. */
  private def addOpens: Seq[String] =
    Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
      "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED")) :+
      "-XX:+ExplicitGCInvokesConcurrent"

  /** Child-JVM classpath: this build's classes/jar + the Spark jars
    * directory — derived from code locations, NOT java.class.path
    * (which is just the sbt launcher when run under sbt). */
  private def childClasspath: String = {
    def src(c: Class[_]): String =
      c.getProtectionDomain.getCodeSource.getLocation.getPath
    val graftCp = src(getClass)
    // Prefer the full Spark distribution jars dir (same path build.sbt
    // uses): under sbt runMain, code-source locations point at sbt's
    // bg-jobs staging area where each jar sits alone in its own dir, so
    // deriving the dir from spark-sql's jar would miss the rest.
    val dist = new java.io.File("/opt/spark/jars")
    val sparkDir =
      if (dist.isDirectory) dist.getPath
      else new java.io.File(src(classOf[SparkSession])).getParent
    val scalaJar = src(classOf[scala.Function1[_, _]])
    s"$graftCp:$scalaJar:$sparkDir/*"
  }

  final case class Sample(edges: Long, loopSec: Double, medianIterSec: Double,
                          tput: Double, imbalance: Double, breached: Boolean,
                          gatherMs: Long, applyMs: Long, barrierMs: Long,
                          medBarrierMs: Long, iters: Int, wallSec: Double,
                          buildSec: Double)

  /** Cumulative settle budget across the whole bench — round 3's
    * per-fork 3-minute cap summed to ~35 min of pure sleeping over
    * ~12 forks on a busy box, which alone could eat the driver's
    * wall-clock allowance. */
  private var settleBudgetNs: Long = 240L * 1000000000L

  /** Wait for the box to settle (dead-JVM page reclaim, co-tenant
    * spikes) before a timing sample, spending from the GLOBAL budget. */
  private def settle(): Unit = {
    val start = System.nanoTime()
    val deadline = start + math.min(settleBudgetNs, 120L * 1000000000L)
    while (System.nanoTime() < deadline && {
      val load = scala.util.Try(
        Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble).getOrElse(0.0)
      load > 2.5
    }) Thread.sleep(5000)
    settleBudgetNs = math.max(0L, settleBudgetNs - (System.nanoTime() - start))
  }

  /** Best of k forked samples (min median-iter-sec wins): the host VM
    * shows up-to-6× jitter windows between identical runs, so a single
    * sample per config is a lottery; min-of-k is the standard
    * shared-machine de-noiser. A fork that dies (host-side OOM kill,
    * transient JVM failure) is retried once rather than aborting the
    * whole bench; only a config with ZERO surviving samples propagates
    * the failure. */
  private def prSampleBest(cpus: Int, edgePath: String, iters: Int,
                           k: Int, kernel: Boolean = true,
                           algo: String = "pr",
                           cacheDir: String = null): Sample = {
    val results = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var lastErr: Throwable = null
    var tries = 0
    // a retry after a failure is itself a full-cost fork — only spend
    // it while the wall budget lasts
    while (results.size < k && tries < k + 1 &&
           (tries == 0 || remainingSec > 0)) {
      tries += 1
      try results += prSampleForked(cpus, edgePath, iters, kernel, algo, cacheDir)
      catch {
        case e: Throwable =>
          lastErr = e
          // full message: for a dead fork it carries the cmd line and
          // the probe's output tail — the only diagnostic that exists
          System.err.println(s"[bench] probe attempt $tries at $cpus cores failed: " +
            e.getMessage)
      }
    }
    if (results.isEmpty) throw lastErr
    results.minBy(_.medianIterSec)
  }

  /** One sample in a FORKED JVM. `kernel` picks the tile-compiled
    * SpMV/SpMSpV fast path vs the Catalyst Engine path; `algo` picks
    * fixed-iteration PageRank (stationary) or to-fixpoint CC
    * (nonstationary frontier). */
  private def prSampleForked(cpus: Int, edgePath: String,
                             iters: Int, kernel: Boolean, algo: String,
                             cacheDir: String = null): Sample = {
    settle()
    val w0 = System.nanoTime()
    val xmx = sys.env.getOrElse("SPARK_GRAFT_BENCH_XMX", "48g")
    val java = sys.props("java.home") + "/bin/java"
    val cmd = Seq(java) ++ addOpens ++ Seq(
      s"-Xmx$xmx", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", childClasspath, "graft.tools.ScalingProbe", cpus.toString, edgePath)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("PROBE_ITERS", iters.toString)
    pb.environment().put("PROBE_KERNEL", if (kernel) "1" else "0")
    pb.environment().put("PROBE_ALGO", algo)
    if (cacheDir != null) pb.environment().put("GRAFT_KERNEL_CACHE", cacheDir)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    p.waitFor()
    val line = out.linesIterator.filter(_.startsWith("[probe-json]")).toSeq.lastOption
      .getOrElse {
        // the 20-line tail is usually shutdown-hook frames; the ROOT
        // CAUSE is the first thrown line, and the full output goes to
        // a file so a flaky big-table fork is diagnosable post-run
        val dump = Paths.get(s"/tmp/graft_probe_fail_${algo}_${cpus}c_${System.currentTimeMillis()}.log")
        scala.util.Try(Files.writeString(dump, out))
        val rootCause = out.linesIterator
          .filter(l => l.contains("Exception") || l.contains("Error") ||
            l.startsWith("Caused by"))
          .take(3).mkString("\n")
        sys.error(s"probe at $cpus cores produced no summary; cmd:\n" +
          cmd.mkString(" ") + s"\nfull output: $dump\nfirst thrown:\n" + rootCause +
          "\noutput tail:\n" +
          out.linesIterator.toSeq.takeRight(20).mkString("\n"))
      }
    def field(k: String): String =
      s""""$k":([0-9.a-z-]+)""".r.findFirstMatchIn(line).map(_.group(1))
        .getOrElse(sys.error(s"missing $k in $line"))
    val e = field("edges").toLong
    val med = field("medianIterSec").toDouble
    Sample(e, field("loopSec").toDouble, med, if (med > 0) e / med else 0.0,
      field("imbalance").toDouble, field("balanceBreached").toBoolean,
      field("gatherMs").toLong, field("applyMs").toLong,
      field("barrierMs").toLong, field("medBarrierMs").toLong,
      field("iters").toInt, (System.nanoTime() - w0) / 1e9,
      scala.util.Try(field("buildSec").toDouble).getOrElse(-1.0))
  }

  // ---- incremental artifact state ------------------------------------
  /** Wall-clock deadline for the whole bench (set in main). Required
    * samples launch while any budget remains; a blown budget sheds
    * them too — an rc=0 artifact with a partial scaling block beats a
    * driver-killed rc=124 with none (round-3 lesson). */
  private var deadlineNs: Long = Long.MaxValue
  private def remainingSec: Double = (deadlineNs - System.nanoTime()) / 1e9

  private val S = mutable.LinkedHashMap.empty[String, Sample]
  private var queryResults: Seq[(String, Double)] = Seq.empty
  private var convOpt: Option[(Int, Double, Long)] = None
  private val shed = mutable.ArrayBuffer.empty[String]
  private var sfDir = ""
  private var loCores = 8
  private var hiCores = 32

  private def f3(d: Double): String = f"$d%.3f"

  private def eff(num: Option[Sample], den: Option[Sample], factor: Double): Option[Double] =
    for (n <- num; d <- den; if d.tput > 0) yield n.tput / (d.tput * factor)

  /** Rewrite BENCH.json + BENCH.md from everything measured so far —
    * called after phase 1 and after EVERY scaling sample, so a kill at
    * any point leaves the newest complete record on disk. */
  private def writeArtifacts(): Unit = {
    val qs = queryResults.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = queryResults.map(_._2).sum

    val strongEff = eff(S.get("kHiE"), S.get("kLoE"), hiCores.toDouble / loCores)
    val strongEff14 = eff(S.get("k4Q"), S.get("k1Q"), 4.0)
    val weakEff = eff(S.get("kHiE"), S.get("kLoQ"), hiCores.toDouble / loCores)
    val weakEffUnsat = eff(S.get("k4Q"), S.get("k1S"), 4.0)
    val engineStrongEff = eff(S.get("eHiS"), S.get("eLoS"), hiCores.toDouble / loCores)
    val kernelVsEngine = for (k <- S.get("kLoS"); e <- S.get("eLoS"); if e.tput > 0)
      yield k.tput / e.tput
    val ccSpeedup = for (k <- S.get("ccK"); e <- S.get("ccE"); if k.loopSec > 0)
      yield e.loopSec / k.loopSec
    val lpaSpeedup = for (k <- S.get("lpaK"); e <- S.get("lpaE"); if k.loopSec > 0)
      yield e.loopSec / k.loopSec
    val lpaIncrSpeedup = for (k <- S.get("lpaK"); f <- S.get("lpaF"); if k.loopSec > 0)
      yield f.loopSec / k.loopSec

    val scalingFields = mutable.ArrayBuffer.empty[String]
    scalingFields += s""""mode":"kernel","cores_lo":$loCores,"cores_hi":$hiCores"""
    S.get("kHiE").foreach(s => scalingFields +=
      s""""edges":${s.edges},"tput_hi":${f"${s.tput}%.0f"},"med_barrier_ms_hi":${s.medBarrierMs},"gather_ms_hi":${s.gatherMs},"apply_ms_hi":${s.applyMs},"barrier_ms_hi":${s.barrierMs},"imbalance":${f"${s.imbalance}%.4f"},"balance_breached":${s.breached}""")
    S.get("kLoE").foreach(s => scalingFields += s""""tput_lo":${f"${s.tput}%.0f"}""")
    strongEff.foreach(e => scalingFields += s""""strong_eff":${f3(e)}""")
    S.get("k1Q").foreach(s => scalingFields += s""""tput_1_quarter":${f"${s.tput}%.0f"}""")
    S.get("k4Q").foreach(s => scalingFields += s""""tput_4_quarter":${f"${s.tput}%.0f"}""")
    strongEff14.foreach(e => scalingFields += s""""strong_eff_1_4":${f3(e)}""")
    S.get("kLoQ").foreach(s => scalingFields +=
      s""""edges_quarter":${s.edges},"tput_lo_quarter":${f"${s.tput}%.0f"}""")
    weakEff.foreach(e => scalingFields += s""""weak_eff":${f3(e)}""")
    weakEffUnsat.foreach(e => scalingFields += s""""weak_eff_unsat":${f3(e)}""")
    engineStrongEff.foreach(e => scalingFields += s""""engine_strong_eff":${f3(e)}""")
    S.get("eLoS").foreach(s => scalingFields += s""""engine_tput_lo_16th":${f"${s.tput}%.0f"}""")
    S.get("eHiS").foreach(s => scalingFields +=
      s""""engine_tput_hi_16th":${f"${s.tput}%.0f"},"engine_med_barrier_ms_hi":${s.medBarrierMs}""")
    kernelVsEngine.foreach(x => scalingFields += s""""kernel_vs_engine_tput":${f"$x%.1f"}""")
    S.get("ccK").foreach(s => scalingFields +=
      s""""cc_kernel_loop_sec":${f"${s.loopSec}%.2f"},"cc_kernel_iters":${s.iters}""")
    S.get("ccE").foreach(s => scalingFields +=
      s""""cc_engine_loop_sec":${f"${s.loopSec}%.2f"},"cc_engine_iters":${s.iters}""")
    ccSpeedup.foreach(x => scalingFields += s""""cc_kernel_speedup":${f"$x%.1f"}""")
    S.get("lpaK").foreach(s => scalingFields +=
      s""""lpa_kernel_loop_sec":${f"${s.loopSec}%.2f"},"lpa_kernel_iters":${s.iters}""")
    S.get("lpaE").foreach(s => scalingFields +=
      s""""lpa_engine_loop_sec":${f"${s.loopSec}%.2f"},"lpa_engine_iters":${s.iters}""")
    lpaSpeedup.foreach(x => scalingFields += s""""lpa_kernel_speedup":${f"$x%.1f"}""")
    S.get("lpaF").foreach(s => scalingFields +=
      s""""lpa_full_loop_sec":${f"${s.loopSec}%.2f"}""")
    lpaIncrSpeedup.foreach(x => scalingFields += s""""lpa_incremental_speedup":${f"$x%.2f"}""")
    convOpt.foreach { case (it, sec, _) =>
      scalingFields += s""""pr_iters_to_convergence":$it"""
    }
    S.get("cacheC").foreach(s => scalingFields +=
      s""""kernel_compile_cold_sec":${f"${s.buildSec}%.1f"}""")
    S.get("cacheW").foreach(s => scalingFields +=
      s""""kernel_compile_warm_sec":${f"${s.buildSec}%.1f"}""")
    if (shed.nonEmpty)
      scalingFields += s""""shed":${shed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""

    val prTput = S.get("kHiE").orElse(S.get("k4Q")).map(_.tput)
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
        prTput.map(t => s""","pr_edges_per_sec_per_superstep":${f"$t%.0f"}""").getOrElse("") +
        s""","scaling":{${scalingFields.mkString(",")}}}"""
    Files.writeString(Paths.get("BENCH.json"), json + "\n")

    val md = new StringBuilder
    md ++= "# BENCH — measured (local-mode scaling evidence)\n\n"
    md ++= "PageRank rows: 10 supersteps on the synthetic repo-link edge table\n"
    md ++= "(RepoCorpus seed=42 → EdgeExtraction → parked parquet, read back\n"
    md ++= "identically by every run); throughput = E / median superstep sec.\n"
    md ++= "CC rows: to-fixpoint frontier runs (loop sec is the comparable\n"
    md ++= "number; median iter is skewed by the shrinking frontier). Each\n"
    md ++= "config = one-or-more forked-JVM samples, min median wins.\n"
    md ++= "\"Executor\" analog = local core; partitions = cores. Kernel =\n"
    md ++= "graph/SpmvKernel (compile once, one 2-stage RDD job per superstep,\n"
    md ++= "packed exchange; frontier bitsets + sparse packs for CC). Phase\n"
    md ++= "split (gather/apply/barrier) from real per-stage task metrics\n"
    md ++= "(tools/PhaseListener). Artifacts are rewritten after every sample;\n"
    md ++= "\"shed\" lists optional samples dropped to fit the wall budget.\n\n"
    md ++= "| config | edges | loop sec | median iter sec | edges/sec/superstep | med barrier ms | iters |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    def row(label: String, key: String): Unit = S.get(key).foreach(s =>
      md ++= (s"| $label | ${s.edges} | ${f"${s.loopSec}%.2f"} | ${f3(s.medianIterSec)} | " +
        f"${s.tput}%.0f | ${s.medBarrierMs} | ${s.iters} |%n"))
    row("kernel PR 1 core, E/4", "k1Q")
    row("kernel PR 4 cores, E/4", "k4Q")
    row(s"kernel PR N=$loCores cores, E/4", "kLoQ")
    row("kernel PR 1 core, E/16", "k1S")
    row(s"kernel PR N=$loCores cores, E", "kLoE")
    row(s"kernel PR 4N=$hiCores cores, E", "kHiE")
    row(s"kernel PR N=$loCores cores, E/16", "kLoS")
    row(s"engine PR N=$loCores cores, E/16", "eLoS")
    row(s"engine PR 4N=$hiCores cores, E/16", "eHiS")
    row(s"kernel CC 4N=$hiCores cores, E/16", "ccK")
    row(s"engine CC 4N=$hiCores cores, E/16", "ccE")
    row(s"kernel LPA 4N=$hiCores cores, E/16", "lpaK")
    row(s"engine LPA 4N=$hiCores cores, E/16", "lpaE")
    row(s"kernel LPA full-only (no deltas) 4N=$hiCores, E/16", "lpaF")
    md ++= "\n"
    strongEff.foreach(e => md ++=
      f"- KERNEL STRONG efficiency N→4N (same input E) = $e%.3f (north_rule criterion: ≥0.8)%n")
    strongEff14.foreach(e => md ++=
      (f"- KERNEL STRONG efficiency 1→4 cores (same E/4 input) = $e%.3f —%n" +
        "  the only 4× step on this box where NEITHER endpoint shares a\n" +
        "  saturated DRAM bus; the cluster-faithful N→4N measurement\n"))
    weakEff.foreach(e => md ++=
      (f"- KERNEL WEAK efficiency (N on E/4 → 4N on E) = $e%.3f — single-box%n" +
        "  floor note: 4× data through the SAME shared DRAM bus costs ≥4×\n" +
        "  time, so local weak efficiency is bus-capped at ~0.25 by physics\n"))
    weakEffUnsat.foreach(e => md ++=
      (f"- KERNEL WEAK efficiency at the unsaturated pair (1 core on E/16 →%n" +
        f"  4 cores on E/4) = $e%.3f — cores and data ×4 with neither endpoint%n" +
        "  bus-capped: the cluster-growth regime this box can represent\n"))
    engineStrongEff.foreach(e => md ++=
      f"- ENGINE STRONG efficiency ($loCores→$hiCores on E/16) = $e%.3f (continuity row)%n")
    kernelVsEngine.foreach(x => md ++=
      f"- kernel vs engine PR at N=$loCores on E/16: $x%.1f× throughput;" +
        S.get("kLoS").flatMap(k => S.get("eLoS").map(en =>
          s" per-superstep barrier ${en.medBarrierMs} ms → ${k.medBarrierMs} ms")).getOrElse("") + "\n")
    ccSpeedup.foreach(x => md ++=
      (f"- FRONTIER (CC, to fixpoint) kernel vs engine at $hiCores cores on E/16:%n" +
        f"  $x%.1f× faster end-to-end (" +
        S.get("ccK").map(s => f"${s.loopSec}%.1f s/${s.iters} iters kernel").getOrElse("") +
        S.get("ccE").map(s => f" vs ${s.loopSec}%.1f s/${s.iters} iters engine").getOrElse("") +
        ") — the nonstationary SpMSpV mode\n"))
    lpaSpeedup.foreach(x => md ++=
      (f"- MULTISET COMBINER (frequency LPA, fixed 10-superstep budget) kernel vs%n" +
        f"  engine at $hiCores cores on E/16: $x%.1f× faster end-to-end (" +
        S.get("lpaK").map(s => f"${s.loopSec}%.1f s/${s.iters} iters kernel").getOrElse("") +
        S.get("lpaE").map(s => f" vs ${s.loopSec}%.1f s/${s.iters} iters engine").getOrElse("") +
        ") — the label-count triple exchange\n"))
    lpaIncrSpeedup.foreach(x => md ++=
      (f"- INCREMENTAL LPA (persistent per-(dst,label) counts + ±delta%n" +
        f"  exchange below the active·2 ≤ V gate) vs full recount every%n" +
        f"  superstep, same kernel: $x%.2f× end-to-end\n"))
    convOpt.foreach { case (it, sec, nr) => md ++=
      (f"- iterations to convergence (per-vertex |Δrank| ≤ 1e-6): $it%n" +
        f"  ($sec%.1f s loop at $hiCores cores on the $nr-repo E/16 table;%n" +
        "  kernel path — hash-identical to the engine, same iteration count)\n")
    }
    S.get("kHiE").foreach(s => md ++=
      f"- partition balance: kernel hash(src) imbalance max/mean−1 = ${s.imbalance}%.3f; breached(>0.2)=${s.breached}%n")
    for (c <- S.get("cacheC"); w <- S.get("cacheW")) md ++=
      (f"- durable compiled-graph cache (E/16, $hiCores cores): cold compile+save%n" +
        f"  ${c.buildSec}%.1f s -> warm fingerprint+load ${w.buildSec}%.1f s — a resuming JVM%n" +
        "  skips the three compile shuffles entirely (CompiledGraphCache)\n")
    if (shed.nonEmpty)
      md ++= s"- shed to fit the wall-clock budget: ${shed.mkString(", ")}\n"
    md ++= "\nSingle-box caveat: all \"executors\" are threads sharing one memory\n"
    md ++= "bus inside one VM with host-level jitter. The kernel's superstep\n"
    md ++= "barrier is ~20 ms (vs the engine's ~0.2-0.5 s of per-iteration\n"
    md ++= "Catalyst planning + task launch), so the remaining sub-1.0 strong\n"
    md ++= "efficiency is exchange memory bandwidth on the shared DRAM bus —\n"
    md ++= "traffic a real cluster spreads across per-node memory and network.\n"
    md ++= "Full methodology and efficiency-vs-size data: BASELINE.md.\n"
    Files.writeString(Paths.get("BENCH.md"), md.toString)
  }

  def main(args: Array[String]): Unit = {
    // all f"..%.3f" below feed machine-parsed JSON — never let a
    // comma-decimal default locale near them
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    // 2400 s fits phase 1 + the four required samples (~2100 s measured
    // with one 460M-edge compile per strong-pair fork) inside the
    // driver's ~1 h wall allowance with headroom for one failed-fork
    // retry; round 3's 1500 s default pretended the required set was
    // cheaper than it is and the overrun got the process killed.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
    deadlineNs = t0 + (budgetSec * 1e9).toLong
    def remaining: Double = remainingSec
    sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    hiCores = cpus
    loCores = math.max(2, cpus / 4)

    // ---- phase 1: headline query timings, in a FORKED JVM: running
    // 36 queries in-process left the parent holding a ~dozens-of-GB
    // heap while it forked the first 48g scaling probe — the host
    // killed that child (round-4 kLoE failure). The parent now never
    // builds a SparkSession at all.
    if (args.headOption.contains("--queries-child")) {
      val spark = session(cpus)
      val r = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val tq = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}") }
        name -> (System.nanoTime() - tq) / 1e9
      }
      spark.stop()
      println("[queries-json] " +
        r.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}"))
      return
    }
    queryResults =
      if (sys.env.contains("SPARK_GRAFT_BENCH_SKIP_QUERIES")) Seq.empty[(String, Double)]
      else {
        val xmx = sys.env.getOrElse("SPARK_GRAFT_BENCH_XMX", "48g")
        val java = sys.props("java.home") + "/bin/java"
        val cmd = Seq(java) ++ addOpens ++ Seq(
          s"-Xmx$xmx", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", childClasspath, "graft.Bench", "--queries-child")
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectErrorStream(true)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes())
        p.waitFor()
        out.linesIterator.filter(_.startsWith("[queries-json]")).toSeq.lastOption match {
          case Some(line) =>
            """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(line)
              .map(m => m.group(1) -> m.group(2).toDouble).toSeq
          case None =>
            System.err.println("[bench] query-phase fork produced no summary; output tail:\n" +
              out.linesIterator.toSeq.takeRight(20).mkString("\n"))
            Seq.empty
        }
      }
    // FLUSH the query-phase artifact before any scaling work: if the
    // driver kills this process mid-phase-2, this line (and BENCH.json)
    // is the round's record.
    writeArtifacts()
    println(Files.readString(Paths.get("BENCH.json")).trim)

    // ---- phase 2: scaling evidence, each sample in its own JVM.
    val iters = 10
    // 64M repos → ~461M edges: at kernel speeds the smaller tables are
    // fixed-overhead-dominated; the strong pair needs compute per core
    // to dominate the ~20 ms barrier, which at 4N=32 needs E ≥ ~4·10^8.
    val baseRepos = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPOS", "64000000").toLong
    val pMain = prepareEdges(cpus, baseRepos)
    val pQuarter = prepareEdges(cpus, math.max(1L, baseRepos / 4))
    val sixteenthRepos = math.max(1L, baseRepos / 16)
    val pSixteenth = prepareEdges(cpus, sixteenthRepos)

    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "1").toInt
    var lastCost = 60.0
    def take(key: String, required: Boolean)(body: => Sample): Unit = {
      // required samples launch while ANY budget remains (their value
      // justifies finishing an in-flight overrun); optional ones only
      // when the projected cost still fits
      if ((required && remaining <= 0) || (!required && remaining < lastCost * 1.3)) {
        shed += key
        System.err.println(f"[bench] shedding ${if (required) "required" else "optional"} sample $key (remaining $remaining%.0f s, ~cost ${lastCost * 1.3}%.0f s)")
      } else {
        try {
          val s = body
          S(key) = s
          lastCost = s.wallSec
          System.err.println(f"[bench] sample $key done in ${s.wallSec}%.0f s (remaining $remaining%.0f s)")
        } catch {
          case e: Throwable =>
            shed += s"$key(failed)"
            // getMessage can be null (NPE, InterruptedException) — a
            // null deref HERE would kill the artifact-first contract
            System.err.println(s"[bench] sample $key FAILED: " +
              Option(e.getMessage).flatMap(_.linesIterator.nextOption())
                .getOrElse(e.getClass.getName))
        }
        writeArtifacts()
      }
    }

    // REQUIRED: the unsaturated 1→4 pair + the strong pair on the big
    // table (the minimum the round record needs) — CHEAPEST FIRST, so
    // a slow or failing big-table fork can never starve the record of
    // the pair that fits. Everything after is optional and
    // budget-gated, cheapest-first within priority.
    take("k1Q", required = true)(prSampleBest(1, pQuarter, iters, samples))
    take("k4Q", required = true)(prSampleBest(4, pQuarter, iters, samples))
    take("kHiE", required = true)(prSampleBest(hiCores, pMain, iters, samples))
    take("kLoE", required = true)(prSampleBest(loCores, pMain, iters, samples))
    // frontier-algorithm pair: CC to fixpoint, kernel vs engine, on the
    // 16th table (the engine loop at 460M edges would alone blow the
    // budget — and the continuity signal only needs a trend)
    lastCost = 120.0
    take("ccK", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = samples, kernel = true, algo = "cc"))
    take("ccE", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = samples, kernel = false, algo = "cc"))
    // multiset-combiner pair: frequency LPA, kernel vs engine, fixed
    // 10-superstep budget on the 16th table (the label-count triple
    // exchange vs the engine's two-hash-agg superstep)
    take("lpaK", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = samples, kernel = true, algo = "lpa"))
    take("lpaE", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = samples, kernel = false, algo = "lpa"))
    // incremental-vs-full A/B twin: the same kernel LPA with the
    // persistent-count delta path disabled (every superstep recounts
    // all E edges) — isolates what the incremental mode buys
    take("lpaF", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = samples, kernel = true, algo = "lpaf"))
    // convergence criterion (kernel PR to |Δrank| ≤ 1e-6 on E/16 —
    // proven hash-identical to the engine, so the iteration count is
    // the engine's number at a fraction of the cost). Ranked ABOVE the
    // optional curve points: round 4's driver run shed it and the
    // round record lost pr_iters_to_convergence entirely.
    take("conv", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = 1, kernel = true, algo = "conv"))
    S.get("conv").foreach(s => convOpt = Some((s.iters, s.loopSec, sixteenthRepos)))
    // durable-compile-cache pair: a COLD fork compiles E/16 and saves
    // the tile cache, a WARM fork fingerprints, loads and skips the
    // compile entirely — 1 superstep each (only buildSec matters)
    val kcacheDir = pSixteenth + s".kcache$hiCores"
    take("cacheC", required = false) {
      deleteRecursive(Paths.get(kcacheDir))
      prSampleBest(hiCores, pSixteenth, 1, k = 1, kernel = true, cacheDir = kcacheDir)
    }
    take("cacheW", required = false)(
      prSampleBest(hiCores, pSixteenth, 1, k = 1, kernel = true, cacheDir = kcacheDir))
    // engine continuity pair + same-table kernel reference point
    take("eLoS", required = false)(
      prSampleBest(loCores, pSixteenth, iters, k = 1, kernel = false))
    take("eHiS", required = false)(
      prSampleBest(hiCores, pSixteenth, iters, k = 1, kernel = false))
    take("kLoS", required = false)(prSampleBest(loCores, pSixteenth, iters, samples))
    // weak-scaling endpoints
    take("k1S", required = false)(prSampleBest(1, pSixteenth, iters, samples))
    take("kLoQ", required = false)(prSampleBest(loCores, pQuarter, iters, samples))
    writeArtifacts()

    // The driver parses stdout; under sbt the [info] logger prefix
    // broke that in round 1 (BENCH_r01 parsed:null) — emit the line
    // bare (run/outputStrategy=StdoutOutput in build.sbt) AND park it
    // in BENCH.json as the reliable artifact. This is the final,
    // scaling-complete line; the phase-1 flush above printed the same
    // shape for the kill-mid-phase-2 case.
    println(Files.readString(Paths.get("BENCH.json")).trim)
  }
}
