package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ingest._
import graft.graph._
import graft.algos._
import graft.ckpt.CheckpointManager

/** End-to-end smoke driver over the PUBLIC library API: synthesize a
  * repos corpus → extract repo→repo edges (sha256 invariant checked)
  * → PageRank / CC / triangles → checkpoint + resume. Usage:
  *   sbt "runMain graft.tools.Smoke [nRepos]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val nRepos = args.headOption.map(_.toLong).getOrElse(2000L)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = RepoCorpus.generate(spark, RepoCorpus.Config(nRepos = nRepos, filesPerRepo = 4))
    val withSha = EdgeExtraction.withSha(corpus).cache()
    val (edges, dict) = EdgeExtraction.ingest(withSha)
    val shaViolations = EdgeExtraction.verifySha(withSha,
      EdgeExtraction.withSha(withSha.select("repo", "path", "commit", "lang", "content")))
    println(s"[smoke] corpus files=${withSha.count()} repos=${dict.count()} " +
      s"edges=${edges.count()} shaViolations=$shaViolations")

    // checkpoint + resume: 10 iters with a snapshot at 5, then resume
    // to 10; the balance audit is max/mean − 1 of per-partition edges
    // (the reference flags > 0.2, matrix.hpp:614-626)
    val dir = java.nio.file.Files.createTempDirectory("graft-smoke-ckpt").toString
    val (pr, imbalance) = SpmvKernel.compiled(edges, Shape.Raw, parts = 8) { g =>
      println(s"[smoke] compiled: V=${g.numVertices} E=${g.numEdges} parts=${g.parts}")
      val pr = g.pagerank(maxIters = 20)
      val mgr5 = new CheckpointManager(dir, every = 5)
      g.pagerank(maxIters = 5, ckpt = Some(mgr5))
      val resumed = g.pagerank(maxIters = 10, ckpt = Some(mgr5))
      val straight = g.pagerank(maxIters = 10)
      val maxDelta = resumed.state.select(col("vid"), col("rank").as("r1"))
        .join(straight.state.select(col("vid"), col("rank").as("r2")), "vid")
        .agg(coalesce(max(abs(col("r1") - col("r2"))), lit(0.0))).head.getDouble(0)
      println(s"[smoke] resume-vs-straight maxDelta=$maxDelta (snapshot at iter 5, dir=$dir)")
      (pr, g.edgeImbalance)
    }
    val top = pr.state.select("vid", "rank").orderBy(desc("rank")).limit(3)
      .collect().map(r => s"${r.getLong(0)}:${"%.4f".format(r.getDouble(1))}").mkString(", ")
    println(s"[smoke] pagerank: iters=${pr.iterations} checksum=${pr.checksum} top3=[$top]")
    println(s"[smoke] pagerank metrics: " + pr.metrics.takeRight(3)
      .map(m => s"iter=${m.iter} active=${m.activeVertices} wallMs=${m.wallMs}").mkString(" | "))

    val cc = ConnectedComponents.run(edges, parts = 8)
    val nComp = cc.state.select("label").distinct().count()
    println(s"[smoke] cc: iters=${cc.iterations} components=$nComp")

    val tc = TriangleCount.count(edges, parts = 8)
    println(s"[smoke] triangles=$tc")

    // sources + stats: binary round-trip through the reference's
    // record format, checksum/summary sinks
    val binPath = java.nio.file.Files.createTempFile("graft-smoke", ".bin").toString
    graft.sources.EdgeListSource.writeBinary(edges.limit(1000), binPath)
    val back = graft.sources.EdgeListSource.readBinary(spark, binPath).count()
    val summ = graft.graph.Stats.summary(pr.state, "rank").head()
    println(s"[smoke] binary round-trip rows=$back; balance imbalance=${"%.3f".format(imbalance)} " +
      s"breached=${imbalance > 0.2}; rank mean=${"%.4f".format(summ.getAs[Double]("mean"))} " +
      s"argmax=${summ.getAs[Long]("argmax_vid")}")
    val rmatE = graft.ingest.Rmat.edges(spark, scale = 10)
    println(s"[smoke] rmat10: edges=${rmatE.count()} triangles=${graft.algos.TriangleCount.count(rmatE, 8)}")
    val cks = Seq(SourceSemantics.Always, SourceSemantics.Never, SourceSemantics.FinalFlush)
      .map(m => s"$m=${"%.4f".format(PageRank.run(rmatE, 8, maxIters = 30, sources = m).checksum)}")
    println(s"[smoke] rmat10 pagerank source-semantics checksums: ${cks.mkString(" ")}")

    println("[smoke] OK")
    spark.stop()
  }
}
