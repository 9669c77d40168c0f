package graft

import scala.io.Source

/** Offline result gate for the superstep graph queries: each query's
  * collected rows over `perfbench/data/lineitem.parquet` and over the
  * clustered table of [[GraphQueryRows.writeClustered]] equal the
  * checked-in rows (see [[GraphQueryRows]]). PageRank ranks match
  * within 1e-6; every other value, the column names and the row order
  * match exactly. */
class GraphQueryGoldenSpec extends SparkTestBase {

  private def load(resource: String): Map[String, Seq[String]] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream(resource), "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    lines.groupBy(l => l.takeWhile(_ != '\t').stripPrefix("@"))
  }

  private val expected = load(GraphQueryRows.resource)
  private val expectedClustered = load(GraphQueryRows.clusteredResource)

  private lazy val clusteredDir: String = {
    val dir = suiteTempDir("graft-clustered")
    GraphQueryRows.writeClustered(spark, dir)
    dir
  }

  private def sameValue(column: String, want: String, got: String): Boolean =
    if (column == "rank") math.abs(want.toDouble - got.toDouble) <= 1e-6 else want == got

  private def checkRows(got: Seq[String], want: Seq[String]): Unit = {
    assert(got.head == want.head, "columns")
    assert(got.size == want.size, s"row count: got ${got.size - 1}, want ${want.size - 1}")
    val columns = want.head.split('\t').tail
    got.tail.zip(want.tail).zipWithIndex.foreach { case ((g, w), i) =>
      val (gv, wv) = (g.split('\t').tail, w.split('\t').tail)
      assert(gv.length == wv.length, s"row $i: $g vs $w")
      columns.indices.foreach { c =>
        assert(sameValue(columns(c), wv(c), gv(c)), s"row $i, ${columns(c)}: got $g, want $w")
      }
    }
  }

  test("the resource holds every gated query") {
    assert(expected.keySet == GraphQueryRows.queries.toSet)
    assert(expectedClustered.keySet == GraphQueryRows.queries.toSet)
  }

  GraphQueryRows.queries.foreach { q =>
    test(s"$q rows equal the checked-in results") {
      checkRows(GraphQueryRows.render(q, SparkEntry.queries(q)(spark, GraphQueryRows.dataDir)),
        expected(q))
    }
  }

  GraphQueryRows.queries.foreach { q =>
    test(s"$q rows on the clustered graph equal the checked-in results") {
      checkRows(GraphQueryRows.render(q, SparkEntry.queries(q)(spark, clusteredDir)),
        expectedClustered(q))
    }
  }
}
