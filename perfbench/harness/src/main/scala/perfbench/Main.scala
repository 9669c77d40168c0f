package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ckpt.CheckpointManager
import graft.graph._
import graft.graph.SpmvKernel.{CompiledGraph, KernelResult}
import graft.ingest.{EdgeExtraction, RepoCorpus}

/** Benchmark harness. Drives the program only through its public entry
  * points and times each call from outside.
  *
  *   --mode prep --workload W --seed N --scale S --work DIR
  *
  * generates the seeded inputs under DIR unless they are there already.
  * It runs in a JVM of its own, so nothing it leaves behind counts in a
  * measured run.
  *
  *   --mode run --workload W --seed N --scale S --seconds T --trace 0|1
  *   --work DIR --data DIR --out FILE [--inject KIND]
  *
  * sets up, runs the workload's closed loop for T seconds (one op at a
  * time), checks every output and writes the raw measurements to FILE.
  * `inject` corrupts the output of one op kind before its check, to test
  * the failure accounting. Metrics are derived from FILE by
  * perfbench/run.py. */
object Main {

  /** Table sizes. `full` is what BENCHMARK.json runs; `tiny` is the
    * smoke-test size. */
  final case class Scale(kernelRepos: Long, freshRepos: Long, filesPerRepo: Int)
  val Scales = Map(
    "full" -> Scale(kernelRepos = 40000L, freshRepos = 20000L, filesPerRepo = 4),
    "tiny" -> Scale(kernelRepos = 2000L, freshRepos = 1000L, filesPerRepo = 3))

  val PrAlpha = 0.15
  val PrTol = 1e-6
  val LpaBudget = 10
  val DefaultSeed = 42L

  /** The 18 graph-family queries, in the order every pass runs them. */
  val GraphQueries = Seq("q_triangles", "q_pagerank_top", "q_pagerank_kernel", "q_cc_kernel",
    "q_bfs_kernel", "q_sssp_kernel", "q_ssspw_kernel", "q_degree_kernel", "q_cc_sizes", "q_lpa",
    "q_lpa_kernel", "q_bfs_depths", "q_sssp", "q_sssp_weighted", "q_degree_in", "q_degree_out",
    "q_mode_degree", "q_vertex_classes")

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val scale: Scale = Scales.getOrElse(kv.getOrElse("scale", "full"), sys.error("bad --scale"))
    val work: Path = Paths.get(apply("work")).toAbsolutePath
    val cores: Int = Runtime.getRuntime.availableProcessors
    def prepDir: Path = work.resolve("prep").resolve(s"$workload-${kv.getOrElse("scale", "full")}-seed$seed")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    if (a("mode") == "prep") Prep.run(a) else new Run(a).run()
  }

  /** Session settings of every run: local[cores], the
    * program's local-mode tuning (same values as graft.Bench and
    * graft.tools.ScalingProbe), and scratch space inside the work dir. */
  def session(a: Args, cores: Int): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
      .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.cleaner.periodicGC.interval", "120s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val SessionSettings: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.shuffle.compress", "spark.serializer",
    "spark.shuffle.sort.bypassMergeThreshold", "spark.sql.inMemoryColumnarStorage.compressed",
    "spark.sql.inMemoryColumnarStorage.batchSize", "spark.cleaner.periodicGC.interval")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()

  def corpusConfig(a: Args, nRepos: Long): RepoCorpus.Config =
    RepoCorpus.Config(nRepos = nRepos, filesPerRepo = a.scale.filesPerRepo, seed = a.seed)

  /** The repo-link edge table's two kernel shapings. Each has its own
    * fingerprint variant in the tile cache. */
  def directed(edges: DataFrame): DataFrame = edges.select("src", "dst")
  def undirected(edges: DataFrame): DataFrame =
    GraphShaping.shape(edges,
      EdgeShaping(selfLoops = false, directed = false, parallelEdges = false)).select("src", "dst")
}

/** Seeded input generation, cached under the work dir and keyed by a
  * `_gen_config` stamp: a table whose stamp differs is regenerated. */
object Prep {
  import Main._

  def stamp(a: Args): String = a.workload match {
    case "kernel_loops" =>
      s"${corpusConfig(a, a.scale.kernelRepos)}|ingest=EdgeExtraction.ingest|" +
        s"tiles=directed,undirected|parts=${a.cores}|v1"
    case "fresh_graph" => s"${corpusConfig(a, a.scale.freshRepos)}|corpus|v1"
    case _ => ""
  }

  def ready(a: Args): Boolean = {
    val f = a.prepDir.resolve("_gen_config")
    stamp(a).isEmpty || Files.exists(f) && Files.readString(f) == stamp(a)
  }

  /** kernel_loops: corpus → repo-link edges → both tile shapings saved
    * to the tile cache. fresh_graph: the corpus parquet only. */
  def run(a: Args): Unit = if (!ready(a)) {
    deleteTree(a.prepDir)
    Files.createDirectories(a.prepDir)
    val spark = session(a, a.cores)
    try a.workload match {
      case "kernel_loops" =>
        val corpus = RepoCorpus.generate(spark, corpusConfig(a, a.scale.kernelRepos))
        val (edges, _) = EdgeExtraction.ingest(EdgeExtraction.withSha(corpus))
        val edgePath = a.prepDir.resolve("edges.parquet").toString
        edges.write.parquet(edgePath)
        val e = spark.read.parquet(edgePath)
        for ((shape, variant) <- Seq((directed(e), "directed"), (undirected(e), "undirected"))) {
          val g = SpmvKernel.compile(shape, a.cores)
          CompiledGraphCache.save(g, a.prepDir.resolve(s"tiles-$variant").toString,
            CompiledGraphCache.fingerprint(shape, a.cores, variant = variant).get)
          g.unpersist()
        }
      case "fresh_graph" =>
        RepoCorpus.generate(spark, corpusConfig(a, a.scale.freshRepos))
          .write.parquet(a.prepDir.resolve("corpus.parquet").toString)
    } finally spark.stop()
    Files.writeString(a.prepDir.resolve("_gen_config"), stamp(a))
  }
}

/** One measured run of one workload. */
final class Run(a: Main.Args) {
  import Main._

  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val inject = a.get("inject").getOrElse("")
  private val tracer = new Tracer(traced, s"${a.workload}-seed${a.seed}-${ProcessHandle.current().pid()}")
  private val listener = new LayerListener(tracer)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val runDir = a.work.resolve("runs").resolve(tracer.runId)

  final case class Op(kind: String, index: Int, seconds: Double, ok: Boolean, detail: String,
                      warmup: Boolean, extra: Map[String, Any])
  private val ops = ArrayBuffer.empty[Op]
  private val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val setupReps = ArrayBuffer.empty[Double]
  private var sessionReadyS = 0.0
  /** Ops run while this is set are JIT warm-up: checked and counted, but
    * left out of the timing medians. */
  private var warmup = false
  private var spark: SparkSession = _
  private var cacheHits = 0
  private var cacheMisses = 0
  /** Result hash of the op being checked; kept only for the default
    * seed, whose hashes are stored. */
  private var opHash: String = null
  private def hashOf(rows: Array[Row], fmt: Any => String): Unit =
    if (a.seed == DefaultSeed) opHash = Checks.hashRows(rows, fmt)

  private def now: Double = (System.nanoTime() - t0Ns) / 1e9
  private def count(kind: String): Int = ops.count(_.kind == kind)


  /** Time one op, then check its output outside the timed region. An
    * exception or a failed check counts the op as failed. */
  private def op[T](kind: String, extra: T => Map[String, Any])(body: => T)(
      check: T => (Boolean, String)): Option[T] = {
    if (traced) listener.attach(spark)
    tracer.op += 1
    val t = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind")(body)) catch { case e: Exception => Left(e) }
    val s = (System.nanoTime() - t) / 1e9
    if (traced) listener.detach(spark)
    val tc = System.nanoTime()
    val (ok, detail, ex) = res match {
      case Left(e) => (false, s"error: ${e.toString.linesIterator.nextOption().getOrElse("")}",
        Map.empty[String, Any])
      case Right(v) =>
        opHash = null
        val (ok, d) = try check(v) catch { case e: Exception => (false, s"check error: $e") }
        (ok, d, extra(v) ++ Option(opHash).map("hash" -> _) + ("check_s" -> (System.nanoTime() - tc) / 1e9))
    }
    ops += Op(kind, count(kind), s, ok, detail, warmup, ex)
    if (!ok) System.err.println(s"[perfbench] $kind #${count(kind)} FAILED: $detail")
    Jvm.collect()
    res.toOption
  }

  /** Make an op's collected output wrong (`--inject kind`): the first
    * vertex gets the value -1, which no rank or label can take. */
  private def maybeCorrupt(kind: String, rows: Array[Row]): Array[Row] =
    if (inject != kind || rows.isEmpty) rows
    else rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(1, -1.0)))

  def run(): Unit = {
    Files.createDirectories(runDir)
    spark = tracer.span("session")(session(a, a.cores))
    tracer.sc = spark.sparkContext
    sessionReadyS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    val conf = spark.conf.getAll
    info("session") = SessionSettings.flatMap(k => conf.get(k).map(k -> _)).toMap
    require(Prep.ready(a), s"inputs not prepared at ${a.prepDir}")
    try a.workload match {
      case "kernel_loops" => kernelLoops()
      case "fresh_graph" => freshGraph()
      case "graph_queries" => graphQueries()
      case w => sys.error(s"unknown workload $w")
    } finally {
      write()
      spark.stop()
      deleteTree(runDir)
    }
  }

  /** Set-up repeated three times; set-up time is read as their median. */
  private def setup[T](body: => T): T =
    (0 until 3).map { _ =>
      val t = System.nanoTime()
      val r = tracer.span("setup")(body)
      setupReps += (System.nanoTime() - t) / 1e9
      r
    }.last

  private def iterExtra(r: KernelResult): Map[String, Any] = Map(
    "iterations" -> r.iterations,
    "iter_ms" -> r.metrics.map(_.wallMs),
    "active" -> r.metrics.map(_.activeVertices))

  private def collect(r: KernelResult, col: String, withChanged: Boolean = false): Array[Row] =
    (if (withChanged) r.state.select("vid", col, "changed") else r.state.select("vid", col)).collect()

  // ---------------------------------------------------------------- kernel_loops

  private def loadTiles(s: SparkSession, df: DataFrame, dir: String, variant: String): CompiledGraph =
    tracer.span("cache.load") {
      CompiledGraphCache.load(s, dir, CompiledGraphCache.fingerprint(df, a.cores, variant = variant)) match {
        case Some(g) => cacheHits += 1; g
        case None =>
          cacheMisses += 1
          throw new IllegalStateException(s"tile cache MISS at $dir")
      }
    }

  private def kernelLoops(): Unit = {
    val edgePath = a.prepDir.resolve("edges.parquet").toString
    def tiles(v: String) = a.prepDir.resolve(s"tiles-$v").toString
    var loaded: Seq[CompiledGraph] = Nil
    val (gPr, gLpa) = setup {
      loaded.foreach(_.unpersist())
      val e = spark.read.parquet(edgePath)
      val g = (loadTiles(spark, directed(e), tiles("directed"), "directed"),
        loadTiles(spark, undirected(e), tiles("undirected"), "undirected"))
      loaded = Seq(g._1, g._2)
      g
    }
    info("tables") = Map(
      "directed" -> Map("V" -> gPr.numVertices, "E" -> gPr.numEdges),
      "undirected" -> Map("V" -> gLpa.numVertices, "E" -> gLpa.numEdges))
    val edges = Checks.edges(spark.read.parquet(edgePath))
    val nb = Checks.neighbours(edges)

    // the first pair warms the JIT up; the window opens after it
    var deadline = Double.MaxValue
    warmup = true
    while (count("pr") < 4 || now < deadline) {
      op[KernelResult]("pr", iterExtra)(
        tracer.span("superstep.pr")(gPr.pagerank(maxIters = 0, alpha = PrAlpha, tol = PrTol))) { r =>
        val ranks = maybeCorrupt("pr", collect(r, "rank"))
        Engine.release(r.state)
        hashOf(ranks, v => "%.6f".format(v))
        Checks.pagerank(edges, ranks, PrAlpha, PrTol)
      }
      for (_ <- 0 until 2) op[KernelResult]("lpa", iterExtra)(
        tracer.span("superstep.lpa")(gLpa.lpa(maxIters = LpaBudget))) { r =>
        val labels = maybeCorrupt("lpa", collect(r, "label", withChanged = true))
        Engine.release(r.state)
        hashOf(labels, v => v.asInstanceOf[Double].toLong.toString)
        Checks.lpa(edges, nb, labels)
      }
      if (warmup) { warmup = false; deadline = now + seconds }
    }
    gLpa.unpersist()
    if (traced) scaling(gPr, edgePath, tiles("directed"))
    else gPr.unpersist()
  }

  /** Fixed 10-superstep PageRank on the same tiles at local[cores] and
    * then, in a new context, at local[1]. A diagnostic of the traced run
    * only. */
  private def scaling(gPr: CompiledGraph, edgePath: String, dir: String): Unit = {
    def probe(g: CompiledGraph, cores: Int): Unit = {
      val l = new LayerListener(tracer)
      l.attach(spark)
      val r = tracer.span(s"scaling.local$cores")(g.pagerank(maxIters = 10, alpha = PrAlpha, tol = PrTol))
      l.detach(spark)
      Engine.release(r.state)
      g.unpersist()
      info(s"scaling_local$cores") = Map("iter_ms" -> r.metrics.map(_.wallMs), "listener" -> l.toJson(t0Ms))
    }
    info("exchange_doubles") = gPr.exchangeDoubles
    probe(gPr, a.cores)
    spark.stop()
    spark = session(a, 1)
    tracer.sc = spark.sparkContext
    probe(loadTiles(spark, directed(spark.read.parquet(edgePath)), dir, "directed"), 1)
  }

  // ---------------------------------------------------------------- fresh_graph

  private final case class Fresh(g: CompiledGraph, r: KernelResult, labels: Array[Row], sha: Long,
                                 edges: Long, detail: String)

  private def freshGraph(): Unit = {
    val corpusPath = a.prepDir.resolve("corpus.parquet").toString
    info("corpus_files") = setup(spark.read.parquet(corpusPath).count())
    val deadline = now + seconds
    while (count("fresh") < 1 || now < deadline) {
      val dir = runDir.resolve(s"fresh-${count("fresh")}")
      freshPair(corpusPath, dir)
      deleteTree(dir)
    }
  }

  /** One fresh op (corpus → verified CC result, checkpointing every
    * superstep) and one resume op (new session, tiles from the cache,
    * CC resumed from the middle snapshot). */
  private def freshPair(corpusPath: String, dir: Path): Unit = {
    val edgePath = dir.resolve("edges.parquet").toString
    val cacheDir = dir.resolve("tiles").toString
    val ckptDir = dir.resolve("ckpt")
    val fresh = op[Fresh]("fresh", f => iterExtra(f.r) ++ Map("sha_violations" -> f.sha,
        "edges" -> f.edges, "V" -> f.g.numVertices, "E" -> f.g.numEdges,
        "cache_bytes" -> treeBytes(Paths.get(cacheDir)), "ckpt_bytes" -> treeBytes(ckptDir))) {
      val (sha, nEdges) = tracer.span("ingest") {
        val withSha = EdgeExtraction.withSha(spark.read.parquet(corpusPath))
        val (edges, _) = EdgeExtraction.ingest(withSha)
        edges.write.parquet(edgePath)
        val sha = EdgeExtraction.verifySha(withSha,
          EdgeExtraction.withSha(withSha.select("repo", "path", "commit", "lang", "content")))
        (sha, spark.read.parquet(edgePath).count())
      }
      val und = undirected(spark.read.parquet(edgePath))
      val g = tracer.span("compile")(SpmvKernel.compile(und, a.cores))
      tracer.span("cache.save")(CompiledGraphCache.save(g, cacheDir,
        CompiledGraphCache.fingerprint(und, a.cores, variant = "undirected").get))
      val r = tracer.span("superstep.cc")(g.run(new CcKernelProgram, maxIters = 0,
        ckpt = Some(new CheckpointManager(ckptDir.toString, every = 1))))
      val (ok, detail) = tracer.span("check") {
        val labels = maybeCorrupt("fresh", collect(r, "label"))
        val e = Checks.edges(spark.read.parquet(edgePath))
        val (ok, d) = Checks.cc(e, Checks.neighbours(e), labels)
        (ok && sha == 0, s"$d sha_violations=$sha")
      }
      if (!ok) throw new IllegalStateException(s"wrong fresh result: $detail")
      Fresh(g, r, collect(r, "label"), sha, nEdges, detail)
    } { f =>
      hashOf(f.labels, v => v.asInstanceOf[Double].toLong.toString)
      (true, f.detail)
    }

    fresh.foreach { f =>
      Engine.release(f.r.state)
      f.g.unpersist()
      val mid = math.max(1, f.r.iterations / 2)
      val resumeRoot = dir.resolve("resume")
      copyTree(ckptDir.resolve(f"iter=$mid%05d"), resumeRoot.resolve(f"iter=$mid%05d"))
      op[KernelResult]("resume", r => iterExtra(r) ++ Map("from_iter" -> mid)) {
        val s2 = spark.newSession()
        if (traced) s2.listenerManager.register(listener)
        val g2 = loadTiles(s2, undirected(s2.read.parquet(edgePath)), cacheDir, "undirected")
        val r = tracer.span("superstep.cc")(g2.run(new CcKernelProgram, maxIters = 0,
          ckpt = Some(new CheckpointManager(resumeRoot.toString, every = 1))))
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          s2.listenerManager.unregister(listener)
        }
        g2.unpersist()
        r
      } { r =>
        val labels = maybeCorrupt("resume", collect(r, "label"))
        Engine.release(r.state)
        Checks.sameValues(f.labels, labels, f.r.iterations, r.iterations)
      }
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  // ---------------------------------------------------------------- graph_queries

  /** One pass runs the 18 queries in order, once each, on a cold JVM;
    * each query is an op whose result is collected and checked. */
  private def graphQueries(): Unit = {
    val dir = Paths.get(a("data")).toAbsolutePath.toString
    info("lineitem_rows") = setup(spark.read.parquet(s"$dir/lineitem.parquet").count())
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def pass(kind: String): Unit = {
      if (traced) listener.attach(spark)
      tracer.op += 1
      val t = System.nanoTime()
      val perQuery = tracer.span(s"op.$kind") {
        GraphQueries.map { q =>
          val tq = System.nanoTime()
          val res = try Right(tracer.span(s"query.$q") {
            val df = SparkEntry.queries(q)(spark, dir)
            (df.schema, df.collect())
          }) catch { case e: Exception => Left(e.toString.linesIterator.nextOption().getOrElse("")) }
          (q, (System.nanoTime() - tq) / 1e9, res)
        }
      }
      val s = (System.nanoTime() - t) / 1e9
      if (traced) listener.detach(spark)
      Jvm.collect()
      val index = count(kind)
      val errors = perQuery.collect { case (q, _, Left(e)) => s"$q: $e" }
      ops += Op(kind, index, s, errors.isEmpty, errors.mkString("; "), warmup = false,
        Map("query_s" -> perQuery.map { case (q, qs, _) => q -> qs }.toMap))
      perQuery.foreach {
        case (q, _, Right((schema, rows))) =>
          results(s"$kind#$index/$q") = Checks.rowsJson(schema, if (inject == q) rows.drop(1) else rows)
        case _ => ()
      }
    }
    pass("cold")
    info("query_results") = results
  }

  // ---------------------------------------------------------------- output

  private def write(): Unit = {
    val out = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> traced, "seconds" -> seconds,
      "cores" -> a.cores, "jdk" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION, "max_heap_mb" -> Jvm.maxHeapMb,
      "session_ready_s" -> sessionReadyS, "setup_reps_s" -> setupReps.toSeq,
      "peak_heap_after_gc_mb" -> Jvm.peakLiveBytes / 1048576.0,
      "jvm_gc_ms" -> Jvm.gcMs, "jvm_jit_ms" -> Jvm.jitMs,
      "cache_hits" -> cacheHits, "cache_misses" -> cacheMisses,
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj("kind" -> o.kind, "index" -> o.index,
        "s" -> o.seconds, "ok" -> o.ok, "detail" -> o.detail, "warmup" -> o.warmup,
        "extra" -> o.extra))),
      "info" -> info,
      "spans" -> Json.arr(tracer.toJson(t0Ns)),
      "listener" -> (if (traced) listener.toJson(t0Ms) else null))
    Files.writeString(Paths.get(a("out")), out.render)
  }
}
