package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming operators over a timestamped edge/link stream
  * (src, dst, ts). The reference is strictly batch (SURVEY §2.6 —
  * no streaming exists there); these extend the engine to the
  * continuous-ingest case a 10^12-file pipeline actually faces: new
  * repo snapshots arriving as a stream, degree/link stats maintained
  * incrementally instead of recomputed.
  */
object LinkStream {

  final case class LinkEvent(src: Long, dst: Long, ts: Timestamp)
  final case class DegreeUpdate(vid: Long, degree: Long)

  /** Windowed in-link counts with a watermark: per (window, dst)
    * arrival counts, late data beyond `lateness` dropped. Append-mode
    * compatible (emits finalized windows only). */
  def windowedInLinks(events: DataFrame,
                      window: String = "1 hour",
                      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("dst"))
      .agg(count(lit(1)).as("n_links"))

  /** Drive the windowed-count aggregation over a bounded parquet
    * source to completion: file-stream read → 1-hour windows ×
    * event_type (count + value sum) → Complete-mode in-memory sink,
    * Trigger.AvailableNow. Complete mode makes the final table
    * independent of how the files were carved into micro-batches, so
    * the streaming path is exactly batch-checkable (same result as a
    * plain groupBy — the determinism the driver oracle needs). */
  def runWindowedEventCounts(spark: SparkSession, path: String,
                             sinkName: String = "graft_stream_hourly"): DataFrame = {
    val schema = spark.read.parquet(path).schema
    // a single-FILE parquet source trips the file-stream's partition
    // inference ("Option 'basePath' must be a directory"); FileStream
    // wants a directory (or glob) — stream a temp dir holding a
    // symlink to the file instead, deleted once the query has run (the
    // memory sink holds the rows)
    val p = java.nio.file.Paths.get(path)
    val linkDir =
      if (!java.nio.file.Files.isRegularFile(p)) None
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-stream-src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(p.getFileName.toString), p.toAbsolutePath)
        Some(d)
      }
    val srcPath = linkDir.fold(path)(_.toString)
    // a previous run's memory-sink view would collide on re-use of the
    // same sink name within one session
    spark.catalog.dropTempView(sinkName)
    // DECIMAL sum, not double: order-independent across engines AND
    // across micro-batch carve-ups, so the streamed total is exactly
    // the batch oracle's total by construction (a double sum's value
    // depends on accumulation order)
    try spark.readStream.schema(schema).parquet(srcPath)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(20,6)")), 4).cast("double").as("total"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(sinkName)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally linkDir.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    // 1-hour tumbling windows are epoch-aligned, so window.start is
    // exactly date_trunc('hour', ts) — flat, oracle-friendly shape
    spark.table(sinkName).select(
      col("window.start").as("hour"), col("event_type"),
      col("n"), col("total"))
  }

  /** Incremental out-degree via keyed state: each micro-batch updates
    * a per-vertex running counter and emits the new total — the
    * streaming analog of the Degree program (reference deg.h:32-52),
    * state kept in the state store instead of a vertex vector. */
  def incrementalOutDegree(events: Dataset[LinkEvent]): Dataset[DegreeUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.src)
      .mapGroupsWithState[Long, DegreeUpdate](GroupStateTimeout.NoTimeout) {
        (vid: Long, batch: Iterator[LinkEvent], state: GroupState[Long]) =>
          val d = state.getOption.getOrElse(0L) + batch.size
          state.update(d)
          DegreeUpdate(vid, d)
      }
  }
}
