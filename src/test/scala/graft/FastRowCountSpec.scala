package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** `SparkEntry.fastRowCount`: over a many-file parquet directory the
  * footer sum equals `count()` and launches no job, and a plan it
  * cannot read from footers (a filter) still counts through a job. */
class FastRowCountSpec extends SparkTestBase {

  /** `f`'s value and the number of Spark jobs it launched. */
  private def withJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"fast-row-count-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "fastRowCount")
    try {
      val v = f
      ListenerBridge.drain(sc)
      (v, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("footer count over a 24-file parquet directory equals count()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowcount").resolve("t").toString
    spark.range(0, 10007, 1, 24).select(col("id").as("src"), (col("id") % 7).as("dst"))
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length >= 20)
    assert(withJobs(SparkEntry.fastRowCount(df)) == ((df.count(), 0)))
    assert(withJobs(SparkEntry.fastRowCount(df.select((col("src") + 1).as("x")))) == ((10007L, 0)))

    val filtered = df.filter(col("dst") === 3)
    val (n, jobs) = withJobs(SparkEntry.fastRowCount(filtered))
    assert(n == filtered.count())
    assert(n < 10007L)
    assert(jobs >= 1)
  }
}
