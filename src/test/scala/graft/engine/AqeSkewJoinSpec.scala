package graft.engine

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Runtime skew handling by AQE: a join keyed on a pathologically hot key
  * must be re-planned at runtime by AQE's skew-join rule (the hot
  * partition split into sub-partitions, the other side replicated) with
  * results identical to the logical join. The thresholds are lowered so
  * the contract triggers at test scale; at warehouse scale the defaults
  * (256 MB / 5x median) express the same contract.
  */
class AqeSkewJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("AQE splits the hot-key partition at runtime; join results unchanged") {
    import spark.implicits._
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 60k rows on ONE key + 64 singleton keys: the hot key's shuffle
      // partition dwarfs the median by far more than the 5x factor.
      val left = spark.range(0, 60000).select(
        org.apache.spark.sql.functions.lit(7L).as("k"),
        $"id".as("v"))
        .union(spark.range(0, 64).select(($"id" + 100L).as("k"), $"id".as("v")))
      val right = spark.range(0, 65).select(
        org.apache.spark.sql.functions
          .when($"id" === 0L, 7L).otherwise($"id" + 99L).as("k"),
        ($"id" * 10L).as("w"))
      val joined = left.join(right, "k")
      // materialize THIS QueryExecution (count()/agg would re-plan a new
      // one and the adaptive plan would never finalize on `joined`)
      val rows = joined.collect()
      assert(rows.length == 60000 + 64, "every row must join exactly once")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the sort-merge join as skew-handled:\n$plan")
      assert(plan.contains("AQEShuffleRead skewed"),
        s"the hot partition must be read as skew-split sub-partitions:\n$plan")
      val sum = rows.map(r => r.getLong(1) + r.getLong(2)).sum
      val want = (0L until 60000L).sum + (0L until 64L).map(i => i + 10L * (i + 1L)).sum
      assert(sum == want, "skew-split join must preserve the exact row multiset")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
