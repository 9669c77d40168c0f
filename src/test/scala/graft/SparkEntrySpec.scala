package graft

/** Driver-contract smoke: every `queries` entry runs on sf0.001 and
  * every oracle key has a matching query (column names are checked by
  * the driver's DuckDB compare; here we only guard wiring). */
class SparkEntrySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q_edgelist_roundtrip and q_stream_hourly delete their temp dirs") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(prefix: String) = tmp.list().count(_.startsWith(prefix))
    val leaks = Seq("q_edgelist_roundtrip" -> "graft-el", "q_stream_hourly" -> "graft-stream-src")
      .filter { case (q, prefix) =>
        val before = entries(prefix)
        assert(SparkEntry.queries(q)(spark, sf).count() > 0)
        entries(prefix) != before
      }
    assert(leaks.isEmpty, s"left entries in $tmp: $leaks")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001 and returns rows") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
