package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (getOrCreate). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = builder.getOrCreate(); s.sparkContext.setLogLevel("WARN"); s
  }
  private def builder = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val parts: Int = 8

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp directory, deleted when the current test ends. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally {
      tempDirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      tempDirs.clear()
    }

  def edgesDF(es: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    es.toDF("src", "dst")
  }

  def wEdgesDF(es: Seq[(Long, Long, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    es.toDF("src", "dst", "w")
  }

  /** Deterministic pseudo-random directed graph (no fixed seed drift —
    * plain scala.util.Random with explicit seed). */
  def randomEdges(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    // skewed dst choice: square the uniform to concentrate on low ids
    (0 until m).map { _ =>
      val s = r.nextInt(n).toLong
      val d = (math.pow(r.nextDouble(), 2.0) * n).toLong.min(n - 1L)
      (s, d)
    }
  }
}
