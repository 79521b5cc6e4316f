package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class FeedsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("table: a small table under a file: URI dir takes the shared-feed path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("feeds-uri")
    val staging = Files.createTempDirectory("feeds-stage")
    (1 to 100).toDF("x").coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, dir.resolve("t.parquet"))
        moved = true
      }
    }
    assert(moved)
    // a shared feed is a local checkpoint (LogicalRDD); the raw scan is not
    def isFeed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l }.nonEmpty
    val viaUri = Feeds.table(spark, dir.toUri.toString.stripSuffix("/"), "t.parquet")
    assert(isFeed(viaUri), "a file: URI table under the size limit must be shared")
    assert(viaUri.as[Int].collect().sorted.toSeq == (1 to 100))
    // a missing table fails in the raw scan's path check, not in the probe
    intercept[org.apache.spark.sql.AnalysisException] {
      Feeds.table(spark, dir.toString, "absent.parquet")
    }
  }
}
