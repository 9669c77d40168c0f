package graft.ckpt

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One superstep's worth of run telemetry (north_rule: checkpoints
  * carry per-partition lineage + metrics). */
final case class IterMetrics(
    iter: Int,
    activeVertices: Long,
    wallMs: Long,
    gatherRows: Long)

/** Parquet-backed checkpoint store with a JSON manifest per snapshot —
  * the sandbox stand-in for an Iceberg-cataloged checkpoint table
  * (SURVEY.md §7: no Iceberg runtime jar ships with the image; the
  * directory layout `<root>/iter=NNNNN/{state/, manifest.json}` maps
  * 1:1 onto an Iceberg snapshot + metadata file, so swapping in
  * `iceberg-spark-runtime` later changes only this class).
  *
  * The manifest records: algorithm, iteration, snapshot id, row count,
  * per-partition row counts (lineage, one written file per non-empty
  * partition), and the full iteration-metrics history — enough for
  * exact resume (north_rule) and for a post-hoc skew audit (the
  * reference's `Matrix::balance` report, src/mat/matrix.hpp:562-687,
  * reborn as data).
  */
final class CheckpointManager(root: String, val every: Int) extends Serializable {

  private def iterDir(iter: Int): Path = Paths.get(root, f"iter=$iter%05d")

  def shouldCheckpoint(iter: Int): Boolean = every > 0 && iter > 0 && iter % every == 0

  /** Write `state` in one parquet job, then the manifest. The caller
    * gives `partRows`, (partition id, rows) per non-empty partition. */
  def save(algo: String, iter: Int, state: DataFrame, partRows: Seq[(Int, Long)],
           metrics: Seq[IterMetrics]): Unit = {
    val dir = iterDir(iter)
    state.write.mode("overwrite").parquet(dir.resolve("state").toString)
    val rows = partRows.map(_._2).sum
    val snapshotId = java.util.UUID.nameUUIDFromBytes(
      s"$algo/$iter/$rows".getBytes("UTF-8")).toString
    val metricsJson = metrics.map(m =>
      s"""{"iter":${m.iter},"active":${m.activeVertices},"wallMs":${m.wallMs},"gatherRows":${m.gatherRows}}"""
    ).mkString("[", ",", "]")
    val partsJson = partRows.map { case (p, c) => s"""{"pid":$p,"rows":$c}""" }
      .mkString("[", ",", "]")
    val manifest =
      s"""{"algo":"${algo}","iteration":$iter,"snapshotId":"$snapshotId",
         |"rows":$rows,"partitions":$partsJson,"metrics":$metricsJson}""".stripMargin
    Files.writeString(dir.resolve("manifest.json"), manifest)
  }

  /** Algorithm name recorded in the snapshot's manifest. */
  def manifestAlgo(iter: Int): Option[String] = {
    val m = iterDir(iter).resolve("manifest.json")
    if (!Files.exists(m)) None
    else """"algo"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(Files.readString(m)).map(_.group(1))
  }

  /** Latest complete snapshot (has a manifest), if any. */
  def latestIter(): Option[Int] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return None
    Files.list(r).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("iter=") &&
        Files.exists(p.resolve("manifest.json")))
      .map(p => p.getFileName.toString.stripPrefix("iter=").toInt)
      .toSeq.sorted.lastOption
  }

  /** Load with a fail-fast algorithm check: resuming algorithm X from
    * a snapshot written by algorithm Y would reinterpret state columns
    * (e.g. CC labels read as LPA labels) —
    * the same wrong-input class as resuming from a different graph,
    * which the kernel's slot lookup already rejects. */
  def load(spark: SparkSession, iter: Int, expectAlgo: String): DataFrame = {
    manifestAlgo(iter).filter(_ != expectAlgo).foreach(a =>
      throw new IllegalArgumentException(
        s"checkpoint at $root iter=$iter was written by algorithm '$a', " +
          s"cannot resume '$expectAlgo' from it"))
    spark.read.parquet(iterDir(iter).resolve("state").toString)
  }
}
