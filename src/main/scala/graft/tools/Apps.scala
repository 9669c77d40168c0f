package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.EdgeListSource
import graft.algos.{ConnectedComponents, Degree, LabelPropagation, PageRank, Traversal,
  TriangleCount}

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

  /** Every superstep app runs its `graft.algos` call, which compiles
    * the edges to the shape that algorithm needs on the tile-compiled
    * SpmvKernel (graph/SpmvKernel) — the reference likewise runs its
    * whole app family on compiled kernels (src/singlenode/,
    * vp:1331-1506). `cache=<dir>` keeps those tiles in a durable
    * cache, one subdir per shape, so a rerun on the same file loads
    * them instead of re-tiling. `deg` is a count aggregation and `tc`
    * a 2-join wedge count, not superstep loops. */
  def run(spark: SparkSession, app: String, file: String, iters: Int,
          root: Long, parts: Int, weighted: Boolean,
          cache: Option[String] = None): Summary = {
    val edges = load(spark, file, weighted)
    val t0 = System.nanoTime()
    def sec: Double = (System.nanoTime() - t0) / 1e9
    app match {
      case "pr" =>
        val r = PageRank.run(edges, parts, maxIters = if (iters > 0) iters else 20, cache = cache)
        Summary("pr", r.iterations, r.checksum, None, sec,
          topOf(r.state, "rank"), Some(r.state), "rank")
      case "deg" =>
        val d = Degree.out(edges)
        Summary("deg", 1, cks(d, "degree"), None, sec, topOf(d, "degree"), Some(d), "degree")
      case "cc" =>
        val r = ConnectedComponents.run(edges, parts, cache = cache)
        val st = r.state.select("vid", "label")
        Summary("cc", r.iterations, cks(st, "label"),
          Some(st.count()), sec, topOf(st, "label"), Some(st), "label")
      case "bfs" =>
        val r = Traversal.bfs(edges, root, parts, cache = cache)
        val st = r.state.select("vid", "parent", "hops")
        val reached = st.filter(col("hops").isNotNull)
        Summary("bfs", r.iterations, cks(reached, "hops"),
          Some(reached.count()), sec, topOf(reached, "hops"), Some(st), "hops")
      case "sssp" =>
        val r = Traversal.sssp(edges, root, parts, cache = cache)
        val reached = r.state.filter(col("dist").isNotNull)
        Summary("sssp", r.iterations, cks(reached, "dist"),
          Some(reached.count()), sec, topOf(reached, "dist"), Some(r.state), "dist")
      case "lpa" =>
        val mi = if (iters > 0) iters else 10
        val r = LabelPropagation.run(edges, parts, maxIters = mi, cache = cache)
        val st = r.state.select(col("vid"), col("label"))
        Summary("lpa", r.iterations, cks(st, "label"),
          Some(st.select("label").distinct().count()), sec,
          topOf(st, "label"), Some(st), "label")
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
        "[cores=N] [cache=<tile-cache-dir>]")
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
    val cache = kv.get("cache")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-$app")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val s = run(spark, app, file, iters, root, parts = cores, weighted, cache)
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
