package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.EdgeListSource
import graft.graph._
import graft.algos._

/** CLI drop-in for the reference's per-algorithm binaries
  * (`bin/{pr,deg,cc,bfs,sssp,tc}` — /root/reference/src/apps/ pr.cpp
  * sssp.cpp bfs.cpp cc.cpp deg.cpp):
  *
  *   runMain graft.tools.Apps <app> <file> [<num_vertices>] [<iters>]
  *                            [root=N] [weighted=true|false] [cores=N]
  *
  * Argv compatibility: the reference usage is
  * `bin/pr <file_path> <num_vertices> [<num_iterations>]`
  * (pr.cpp:20-25), so the first positional after the file is accepted
  * and IGNORED (the scan infers the vertex universe — no manual nv).
  * Output reproduces the labels the reference's job scripts grep
  * (graphtap.slurm:101-104; vertex_program.hpp:1944-1958):
  * `Iterations:`, `Value checksum:`, `Reachable vertices:`,
  * `Execute time:` — a reference user's post-processing keeps working.
  *
  * `sssp` on a `.bin` file defaults to weighted 12-byte records — the
  * reference SSSP build is `-DHAS_WEIGHT` (Makefile:27-28).
  */
object Apps {

  final case class Summary(app: String, iterations: Int, checksum: Double,
                           reachable: Option[Long], executeSec: Double,
                           top: Seq[(Long, Double)],
                           state: Option[DataFrame] = None,
                           stateCol: String = "")

  def load(spark: SparkSession, file: String, weighted: Boolean): DataFrame =
    if (file.endsWith(".bin")) EdgeListSource.readBinary(spark, file, weighted)
    else EdgeListSource.readText(spark, file)

  private def cks(df: DataFrame, c: String): Double =
    df.agg(coalesce(sum(col(c).cast("double")), lit(0.0))).head.getDouble(0)

  /** display() analog (reference vertex_program.hpp:1973-1990 prints
    * a vertex sample): top-5 by value, vid tie-break. */
  private def topOf(state: DataFrame, c: String): Seq[(Long, Double)] =
    state.select(col("vid"), col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(desc("v"), asc("vid")).limit(5)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** `kernel=true` routes pr/deg/cc/bfs/sssp/lpa through the tile-compiled
    * SpmvKernel (graph/SpmvKernel) instead of the Catalyst Engine —
    * identical results (KernelSpec/AppsSpec parity), reference-style
    * single-binary semantics: the reference runs its whole app family
    * on compiled kernels (src/singlenode/, vp:1331-1506). `tc` has no
    * kernel analog (a 2-join wedge count, not a superstep loop). */
  def run(spark: SparkSession, app: String, file: String, iters: Int,
          root: Long, parts: Int, weighted: Boolean,
          kernel: Boolean = false, cache: Option[String] = None): Summary = {
    val edges = load(spark, file, weighted)
    val t0 = System.nanoTime()
    def sec: Double = (System.nanoTime() - t0) / 1e9
    // cache=<dir> → durable tile cache (CompiledGraphCache): a rerun on
    // the same file loads the compiled graph instead of re-tiling. One
    // subdir per shaping variant — raw (pr/deg/sssp) and the undirected
    // shapes (cc/bfs) must never share tiles.
    def comp(df: org.apache.spark.sql.DataFrame, shape: String) = {
      // weightedness changes the tile layout (weight arrays), so a
      // weighted and an unweighted load of the same file must not
      // share a variant either
      val variant = if (df.columns.contains("w")) s"$shape-w" else shape
      cache match {
        case Some(d) => CompiledGraphCache.compileOrLoad(df, parts,
          s"$d/$variant-p$parts", variant = variant)
        case None => SpmvKernel.compile(df, parts)
      }
    }
    app match {
      case "pr" if kernel =>
        val g = comp(edges, "raw")
        val r = g.pagerank(maxIters = if (iters > 0) iters else 20)
        g.unpersist()
        Summary("pr", r.iterations, r.checksum, None, sec,
          topOf(r.state, "rank"), Some(r.state), "rank")
      case "deg" if kernel =>
        // the kernel's degree phase: out-degrees straight off the
        // compiled matrix (pr.cpp:40-49) — no superstep needed
        val g = comp(edges, "raw")
        val d = g.outDegrees.localCheckpoint(true)
        g.unpersist()
        Summary("deg", 1, cks(d, "degree"), None, sec, topOf(d, "degree"), Some(d), "degree")
      case "cc" if kernel =>
        val und = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = true)).select("src", "dst")
        val g = comp(und, "und")
        val r = g.run(new CcKernelProgram, maxIters = 0)
        g.unpersist()
        val st = r.state.select(col("vid"), col("label").cast("long").as("label"))
        Summary("cc", r.iterations, cks(st, "label"),
          Some(st.count()), sec, topOf(st, "label"), Some(st), "label")
      case "bfs" if kernel =>
        val und = GraphShaping.shape(edges,
          EdgeShaping.undirected(selfLoops = false))
          .select("src", "dst")
        val g = comp(und, "und-noself")
        val r = g.run(new BfsKernelProgram(root), maxIters = 0)
        g.unpersist()
        val st = r.state.select(col("vid"), col("parent").cast("long").as("parent"),
          col("hops").cast("long").as("hops"))
        val reached = st.filter(col("hops").isNotNull)
        Summary("bfs", r.iterations, cks(reached, "hops"),
          Some(reached.count()), sec, topOf(reached, "hops"), Some(st), "hops")
      case "sssp" if kernel =>
        val g = comp(edges, "raw")
        val r = g.run(new SsspKernelProgram(root), maxIters = 0)
        g.unpersist()
        val reached = r.state.filter(col("dist").isNotNull)
        Summary("sssp", r.iterations, cks(reached, "dist"),
          Some(reached.count()), sec, topOf(reached, "dist"), Some(r.state), "dist")
      case "lpa" =>
        val mi = if (iters > 0) iters else 10
        // both paths return RunResult with identical (vid,label) state
        val r = if (kernel) graft.algos.LabelPropagation.runKernel(edges, parts, maxIters = mi)
                else graft.algos.LabelPropagation.run(edges, parts, maxIters = mi)
        val st = r.state.select(col("vid"), col("label"))
        Summary("lpa", r.iterations, cks(st, "label"),
          Some(st.select("label").distinct().count()), sec,
          topOf(st, "label"), Some(st), "label")
      case "pr" =>
        val adj = Adjacency.build(edges, parts)
        val r = PageRank.run(adj, maxIters = if (iters > 0) iters else 20)
        Summary("pr", r.iterations, r.checksum("rank"), None, sec,
          topOf(r.state, "rank"), Some(r.state), "rank")
      case "deg" =>
        val d = Degree.out(edges)
        val c = cks(d, "degree")
        Summary("deg", 1, c, None, sec, topOf(d, "degree"), Some(d), "degree")
      case "cc" =>
        val r = ConnectedComponents.run(edges, parts)
        Summary("cc", r.iterations, cks(r.state, "label"),
          Some(r.state.count()), sec, topOf(r.state, "label"), Some(r.state), "label")
      case "bfs" =>
        val r = Traversal.bfs(edges, root, parts)
        val reached = r.state.filter(col("hops").isNotNull)
        Summary("bfs", r.iterations, cks(reached, "hops"),
          Some(reached.count()), sec, topOf(reached, "hops"), Some(r.state), "hops")
      case "sssp" =>
        val r = Traversal.sssp(edges, root, parts)
        val reached = r.state.filter(col("dist").isNotNull)
        Summary("sssp", r.iterations, cks(reached, "dist"),
          Some(reached.count()), sec, topOf(reached, "dist"), Some(r.state), "dist")
      case "tc" =>
        val n = TriangleCount.count(edges, parts)
        Summary("tc", 1, n.toDouble, None, sec, Seq.empty)
      case other =>
        sys.error(s"unknown app '$other' (pr|deg|cc|bfs|sssp|tc|lpa)")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("Usage: Apps <pr|deg|cc|bfs|sssp|tc|lpa> <file> " +
        "[<num_vertices>] [<num_iterations>] [root=N] [weighted=true|false] " +
        "[cores=N] [kernel=true|false] [cache=<tile-cache-dir>]")
      sys.exit(1)
    }
    val app = args(0)
    val file = args(1)
    val rest = args.drop(2)
    val kv = rest.filter(_.contains("=")).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    val pos = rest.filterNot(_.contains("="))
    val iters = pos.lift(1).map(_.toInt).getOrElse(0)
    val root = kv.get("root").map(_.toLong).getOrElse(0L)
    val cores = kv.get("cores").map(_.toInt)
      .getOrElse(math.min(8, Runtime.getRuntime.availableProcessors()))
    val weighted = kv.get("weighted").map(_.toBoolean)
      .getOrElse(app == "sssp" && file.endsWith(".bin"))
    val kernel = kv.get("kernel").exists(_.toBoolean)
    val cache = kv.get("cache")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-$app")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val s = run(spark, app, file, iters, root, parts = cores, weighted, kernel, cache)
    println(s"Iterations: ${s.iterations}")
    println(f"Value checksum: ${s.checksum}%.6f")
    s.reachable.foreach(n => println(s"Reachable vertices: $n"))
    println(f"Execute time: ${s.executeSec * 1e3}%.1f ms")
    s.top.foreach { case (vid, v) => println(f"  [$vid%d] $v%.6f") }
    // reference display(): the first 31 states by vid, printed as
    // `vertex[<vid>]:<state>` (vertex_program.hpp:2168-2177; count=31
    // in the app mains) — kept greppable for reference post-processing
    s.state.foreach { st =>
      st.select(col("vid"), col(s.stateCol).cast("double").as("v"))
        .orderBy(asc("vid")).limit(31).collect()
        .foreach(r => println(
          s"vertex[${r.getLong(0)}]:" +
            (if (r.isNullAt(1)) "inf" else f"${r.getDouble(1)}%.6f")))
    }
    println(f"$app end-to-end: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
