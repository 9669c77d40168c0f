package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
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

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val parts: Int = 8

  private val temps = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  private val suiteTemps = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp directory, deleted when the current test ends. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    temps += d
    d.toString
  }

  /** A fresh empty temp file, deleted when the current test ends. */
  def tempFile(prefix: String, suffix: String): String = {
    val f = Files.createTempFile(prefix, suffix).toFile
    temps += f
    f.toString
  }

  /** A fresh temp directory, deleted when the suite ends (for fixtures
    * that several tests share). */
  def suiteTempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    suiteTemps += d
    d.toString
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally {
      temps.foreach(FileUtils.deleteQuietly)
      temps.clear()
    }

  override def afterAll(): Unit =
    try suiteTemps.foreach(FileUtils.deleteQuietly)
    finally super.afterAll()

  /** `f`'s value and the number of Spark jobs started while it ran
    * (the suites run one at a time, so these are `f`'s jobs). */
  def withJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val v = f
      ListenerBridge.drain(sc)
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
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
