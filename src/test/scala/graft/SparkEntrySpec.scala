package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() returns rows on sf0.001; every declared
  * query runs there; oracleSql keys are a subset of queries; a contour feed
  * leaves no engine cache in the session.
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }

  test("span invariant holds on sf0.001") {
    val row = SparkEntry.queries("q_span_invariant")(spark, sf).collect().head
    assert(row.getAs[Boolean]("ok"))
  }

  test("a contour feed leaves no engine cache behind") {
    // a new session has its own temp views, so the feed is built here
    val session = spark.newSession()
    session.catalog.clearCache()
    SparkEntry.queries("q_contours_stats")(session, sf).collect()
    assert(session.sharedState.cacheManager.isEmpty, "the contour feed left a cache behind")
  }

  test("all queries execute on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
    }
  }
}
