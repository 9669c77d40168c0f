package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Collected rows of the twelve gated graph queries, in the line
  * format of the checked-in resources: per query a header
  * `@name<TAB>column…`, then one `name<TAB>value…` line per row, each
  * value as `String.valueOf` prints it. The degree queries have no
  * ORDER BY, so their lines are sorted. Two inputs are gated: the sf0.01
  * `lineitem` copy in `perfbench/data` (`resource`) and the small
  * clustered table of `writeClustered` (`clusteredResource`).
  *
  * `main` rewrites both resources from the current code:
  * `sbt "Test/runMain graft.GraphQueryRows [outDir]"`.
  */
object GraphQueryRows {
  val dataDir = "perfbench/data"
  val resource = "/graph_query_rows.tsv"
  val clusteredResource = "/graph_query_rows_clustered.tsv"
  val queries = Seq("q_pagerank_top", "q_cc_sizes", "q_lpa",
    "q_bfs_depths", "q_sssp", "q_sssp_weighted",
    "q_degree_in", "q_degree_out", "q_degree_kernel", "q_mode_degree",
    "q_vertex_classes", "q_triangles")
  private val unordered = Set("q_degree_in", "q_degree_out", "q_degree_kernel")

  def render(name: String, df: DataFrame): Seq[String] = {
    val rows = df.collect().toSeq.map(r => (name +: r.toSeq.map(String.valueOf)).mkString("\t"))
    (("@" + name) +: df.columns.toSeq).mkString("\t") +:
      (if (unordered(name)) rows.sorted else rows)
  }

  /** Writes `dir/lineitem.parquet` (one file) whose derived graph —
    * src = l_orderkey, dst = l_partkey, both below 1000 so the queries'
    * mod 1000 keeps them — has six components of 40, 30, 24, 16, 10 and
    * 6 vertices. Each component is a directed path through two halves
    * plus three pseudo-random edges per vertex inside its own half, so
    * CC, LPA, BFS and SSSP see several labels and depths. A lone
    * self-loop on vertex 700 is a one-vertex component where self-loops
    * are kept (CC, PageRank) and absent where they are dropped (LPA, BFS). */
  def writeClustered(spark: SparkSession, dir: String): Unit = {
    val blocks = Seq(0 -> 40, 100 -> 30, 200 -> 24, 300 -> 16, 400 -> 10, 500 -> 6)
    val pairs = blocks.flatMap { case (base, n) =>
      val h = n / 2
      val path = (0 until n - 1).map(i => (base + i, base + i + 1))
      val inside = for (i <- 0 until n; t <- 1 to 3) yield {
        val (lo, size) = if (i < h) (0, h) else (h, n - h)
        (base + i, base + lo + (i * 7 + t * 11) % size)
      }
      path ++ inside.filter { case (a, b) => a != b }
    } :+ (700 -> 700)
    val rows = pairs.zipWithIndex.map { case ((a, b), k) => (a.toLong, b.toLong, k % 7 + 1) }
    val s = spark; import s.implicits._
    rows.toDF("l_orderkey", "l_partkey", "l_linenumber").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("src/test/resources")
    val spark = TestSpark.spark
    val clustered = Files.createTempDirectory("graft-clustered").toString
    writeClustered(spark, clustered)
    try Seq(resource -> dataDir, clusteredResource -> clustered).foreach { case (res, dir) =>
      val lines = queries.flatMap(q => render(q, SparkEntry.queries(q)(spark, dir)))
      Files.write(Paths.get(out + res), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(clustered))
    spark.stop()
  }
}
