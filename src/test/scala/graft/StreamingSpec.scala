package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.LinkStream
import graft.streaming.LinkStream.{DegreeUpdate, LinkEvent}

class StreamingSpec extends SparkTestBase {

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")

  test("windowed in-link counts with watermark") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[LinkEvent]
    val agg = LinkStream.windowedInLinks(mem.toDF(), window = "10 minutes", lateness = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_links")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(LinkEvent(1, 100, ts(1)), LinkEvent(2, 100, ts(3)), LinkEvent(3, 200, ts(4)))
      q.processAllAvailable()
      // advance watermark past the first window
      mem.addData(LinkEvent(4, 100, ts(31)))
      q.processAllAvailable()
      mem.addData(LinkEvent(5, 300, ts(59)))
      q.processAllAvailable()
      val rows = s.sql(
          "SELECT window.start, dst, n_links FROM win_links").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
      // first-window [10:00,10:10) counts finalized
      assert(rows((ts(0), 100L)) == 2 && rows((ts(0), 200L)) == 1)
    } finally q.stop()
  }

  test("bounded file-stream window agg equals the batch groupBy") {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-stream")
    val events = Seq(
      (1L, ts(1), "click", 2.5), (2L, ts(3), "click", 1.0),
      (3L, ts(4), "error", 4.0), (4L, ts(59), "click", 0.5))
      .toDF("event_id", "ts", "event_type", "value")
    // two files → potentially two micro-batches; Complete mode must
    // make the final table batch-split-independent
    events.filter($"event_id" <= 2).coalesce(1).write.parquet(s"$dir/a.parquet")
    events.filter($"event_id" > 2).coalesce(1).write.parquet(s"$dir/b.parquet")
    val got = LinkStream.runWindowedEventCounts(s, s"$dir/*", sinkName = "t_stream_hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // re-running with the same sink name in one session must not collide
    val again = LinkStream.runWindowedEventCounts(s, s"$dir/*", sinkName = "t_stream_hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(again == got)
    val want = events
      .groupBy(org.apache.spark.sql.functions.date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.sum($"value"), 4).as("total"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("incremental out-degree accumulates across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[LinkEvent]
    val updates = LinkStream.incrementalOutDegree(mem.toDS())
    val q = updates.writeStream.format("memory").queryName("inc_deg")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(LinkEvent(1, 10, ts(1)), LinkEvent(1, 11, ts(1)), LinkEvent(2, 10, ts(2)))
      q.processAllAvailable()
      mem.addData(LinkEvent(1, 12, ts(3)))
      q.processAllAvailable()
      val last = s.sql("SELECT vid, max(degree) AS degree FROM inc_deg GROUP BY vid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }
}
