package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.EdgeListSource
import graft.ingest.Rmat
import graft.graph.Stats

class SourcesSpec extends SparkTestBase {

  test("text edge list: comments skipped, optional weight, whitespace-split") {
    val dir = tempDir("graft-el")
    Files.writeString(java.nio.file.Paths.get(dir, "edges.txt"),
      """# comment line
        |% matrix-market style comment
        |0 1
        |1 2 7
        |
        |2   0
        |""".stripMargin)
    val got = EdgeListSource.readText(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((0L, 1L, 1.0), (1L, 2L, 7.0), (2L, 0L, 1.0)))
  }

  test("binary round-trip: write LE uint32 records, read back identically") {
    val es = randomEdges(100, 300, seed = 83).map { case (s, d) => (s, d, 1.0) }
    val df = wEdgesDF(es)
    val f = tempFile("graft-bin", ".bin")
    EdgeListSource.writeBinary(df, f, weighted = false)
    assert(Files.size(java.nio.file.Paths.get(f)) == 300L * 8)
    val back = EdgeListSource.readBinary(spark, f, weighted = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(back.sameElements(es.map(e => (e._1, e._2)).sorted))
  }

  test("binary weighted round-trip (12-byte records, reference sssp format)") {
    val es = Seq((1L, 2L, 5.0), (3L, 4L, 9.0))
    val f = tempFile("graft-binw", ".bin")
    EdgeListSource.writeBinary(wEdgesDF(es), f, weighted = true)
    assert(Files.size(java.nio.file.Paths.get(f)) == 2L * 12)
    val back = EdgeListSource.readBinary(spark, f, weighted = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == es.toSet)
  }

  test("converter extras: vid displacement and synthetic weights (reference converter.cpp:81,130)") {
    val es = Seq((1L, 2L, 1.0), (3L, 4L, 1.0), (5L, 6L, 1.0))
    val f = tempFile("graft-binx", ".bin")
    EdgeListSource.writeBinary(wEdgesDF(es), f, weighted = true,
      displace = 100L, synthWeightSeed = Some(7L))
    val back = EdgeListSource.readBinary(spark, f, weighted = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(back.map(t => (t._1, t._2)).toSet ==
      es.map(e => (e._1 + 100, e._2 + 100)).toSet)
    // synthesized weights land in [1,128] and are seed-deterministic
    assert(back.forall(t => t._3 >= 1.0 && t._3 <= 128.0))
    val f2 = tempFile("graft-binx2", ".bin")
    EdgeListSource.writeBinary(wEdgesDF(es), f2, weighted = true,
      displace = 100L, synthWeightSeed = Some(7L))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(f)),
      Files.readAllBytes(java.nio.file.Paths.get(f2))))
  }

  test("binary export rejects a vid outside uint32 instead of wrapping it") {
    val f = tempFile("graft-bin-range", ".bin")
    val neg = intercept[IllegalArgumentException](
      EdgeListSource.writeBinary(wEdgesDF(Seq((0L, 1L, 1.0), (-1L, 2L, 1.0))), f))
    assert(neg.getMessage.contains("vid -1 "), neg.getMessage)
    // in range before displacement, 2^32 after it
    val big = intercept[IllegalArgumentException](
      EdgeListSource.writeBinary(wEdgesDF(Seq((4294967290L, 1L, 1.0))), f, displace = 6L))
    assert(big.getMessage.contains("vid 4294967296 "), big.getMessage)
    val synth = intercept[IllegalArgumentException](
      EdgeListSource.writeBinary(wEdgesDF(Seq((1L, 1L << 32, 1.0))), f, weighted = true,
        synthWeightSeed = Some(7L)))
    assert(synth.getMessage.contains("vid 4294967296 "), synth.getMessage)
  }

  test("binary export rejects a fractional weight instead of truncating it") {
    val dir = tempDir("graft-binw-frac")
    Files.writeString(java.nio.file.Paths.get(dir, "g.txt"), "0 1 2.5\n1 2 3\n")
    val f = tempFile("graft-binw-frac", ".bin")
    val e = intercept[IllegalArgumentException](
      EdgeListSource.writeBinary(EdgeListSource.readText(spark, dir), f, weighted = true))
    assert(e.getMessage.contains("weight 2.5 "), e.getMessage)
    // unweighted records carry no weight, so the same edges export
    EdgeListSource.writeBinary(EdgeListSource.readText(spark, dir), f)
    assert(Files.size(java.nio.file.Paths.get(f)) == 2L * 8)
  }

  test("rmat: deterministic, right cardinality, skewed") {
    val e1 = Rmat.edges(spark, scale = 10).collect().map(r => (r.getLong(0), r.getLong(1)))
    val e2 = Rmat.edges(spark, scale = 10).repartition(7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e1.length == 16384 && e1.toSet == e2.toSet) // 1024 * 16, partition-independent
    assert(e1.forall { case (s, d) => s < 1024 && d < 1024 })
    // power-law-ish: top vertex holds many more edges than the median
    val bySrc = e1.groupBy(_._1).view.mapValues(_.size).values.toSeq.sorted
    assert(bySrc.last > 4 * bySrc(bySrc.size / 2))
  }

  test("stats summary matches hand computation") {
    val s = spark; import s.implicits._
    val state = Seq((1L, 2.0), (2L, 2.0), (3L, 5.0), (4L, 11.0))
      .toDF("vid", "rank")
    val r = Stats.summary(state, "rank").head()
    assert(r.getAs[Long]("n") == 4)
    assert(math.abs(r.getAs[Double]("mean") - 5.0) < 1e-12)
    assert(r.getAs[Double]("mode_value") == 2.0 && r.getAs[Long]("mode_count") == 2)
    assert(r.getAs[Long]("argmax_vid") == 4L && r.getAs[Double]("max_value") == 11.0)
    val (cks, n) = Stats.checksum(state, "rank")
    assert(cks == 20.0 && n == 4)
  }
}
