package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics over the events value column —
  * the data-driven threshold ladder ("auto thresholds") a contouring job
  * derives its level set from when the caller doesn't supply one.
  *
  * Spark's own `approx_percentile` is sketch-based (not reproducible
  * against an independent oracle) and a naive exact version is a global
  * sort. This is the scale-safe exact alternative: two passes, no global
  * sort anywhere.
  *
  *  - Pass 1: a map-side-combinable histogram over integer value buckets
  *    (`floor(value)`), collected to the driver. The histogram is bounded
  *    by the VALUE RANGE, not the row count (loudly asserted), so the
  *    collect is O(range) regardless of data scale.
  *  - Driver: fold cumulative counts; for each requested quantile q the
  *    target rank is k = floor(q * (n-1)) + 1 (1-based k-th order
  *    statistic), located to its bucket and within-bucket offset.
  *  - Pass 2: only the HIT buckets (each ~1/range of the data) are ranked
  *    by a window partitioned per bucket; a broadcast join picks each
  *    (bucket, offset) row.
  *
  * Determinism: the k-th order statistic is unique AS A VALUE even under
  * ties (any tie ordering permutes equal values among themselves), and the
  * selected threshold is a data value — no arithmetic crosses the
  * engine/oracle compare at all. The oracle ranks globally
  * (`row_number() OVER (ORDER BY value)`), an independent formulation of
  * the same statistic.
  */
object StatsOps {

  /** The quantile ladder: quartiles plus the P90 tail guard. */
  val Qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)

  /** The bucket key: integer value buckets, with NaN pinned to the TOP
    * bucket — NaN sorts above every finite double in both Spark's and
    * DuckDB's ORDER BY, so rank selection must treat it as the largest
    * "value"; floor(NaN) would silently land it in bucket 0 and break any
    * rank that touches the NaN region.
    *
    * Finite values with |v| >= 2^63 fail LOUDLY instead of bucketing:
    * Spark's long cast SATURATES them to Long.MaxValue — colliding with
    * the NaN sentinel — while DuckDB's cast of the same value errors, so
    * the engine and oracle would silently diverge. Such values are outside
    * the operator's stated domain anyway (they'd also blow the O(range)
    * histogram contract); the raise_error branch costs one codegen'd
    * comparison per row.
    */
  private[graft] def bucketCol: org.apache.spark.sql.Column =
    when(isnan(col("value")), lit(Long.MaxValue))
      .when(abs(col("value")) >= lit(Long.MaxValue.toDouble),
        raise_error(concat(lit("StatsOps bucket key: |value| >= 2^63 saturates the " +
          "long cast and collides with the NaN sentinel; got "), col("value").cast("string")))
          .cast("long"))
      .otherwise(floor(col("value")).cast("long"))

  /** One map-side-combinable histogram pass, collected to the driver —
    * bounded by the VALUE RANGE, not the row count (loudly asserted).
    */
  private def bucketHistogram(ev: org.apache.spark.sql.DataFrame): Array[(Long, Long)] = {
    val hist = ev.groupBy("bkt").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(hist.length <= 65536,
      s"value-bucket histogram has ${hist.length} buckets — widen the bucket " +
        "size before collecting (driver-side histogram must stay O(range))")
    hist
  }

  /** The driver-side LOCATE step shared by [[autoThresholds]] and
    * `EventOps.convert`: for each ladder quantile, the target
    * 1-based rank k, its bucket, and the within-bucket offset. Pure
    * integer walk over the sorted (bucket, count) histogram.
    */
  private[graft] def locateLadder(hist: Array[(Long, Long)]): Seq[(Double, Long, Long, Long)] = {
    val n = hist.iterator.map(_._2).sum
    require(n > 0, "locateLadder: empty histogram")
    Qs.map { q =>
      val k = math.floor(q * (n - 1).toDouble).toLong + 1L
      var cum = 0L
      var i = 0
      while (cum + hist(i)._2 < k) { cum += hist(i)._2; i += 1 }
      (q, k, hist(i)._1, k - cum)
    }
  }

  val autoThresholds: (SparkSession, String) => DataFrame = (spark, dir) => {
    import spark.implicits._
    val ev = Feeds.table(spark, dir, "events.parquet")
      .select(col("value"), bucketCol.as("bkt"))
    val hist = bucketHistogram(ev)
    val located = locateLadder(hist)
    val need = located.toDF("q", "k", "nbkt", "off")
    val hit = located.map(_._3).distinct
    val w = Window.partitionBy("bkt").orderBy("value")
    ev.filter(col("bkt").isin(hit: _*))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(need), col("bkt") === col("nbkt") && col("rn") === col("off"))
      .select(col("q"), col("k"), col("value").as("threshold"))
      .orderBy("q")
  }

  /** Exact global top-k events by value WITHOUT a global sort — the
    * classic distributed selection: the same bounded integer-bucket
    * histogram locates the cutoff bucket (the highest bucket where the
    * from-the-top cumulative count reaches k), only the candidate rows at
    * or above that bucket (≤ k + one bucket's population) are ranked, and
    * the tie-break (value DESC, event_id ASC) is a total order so the
    * result is fully deterministic. The oracle ranks the whole table —
    * an independent formulation of the same order statistics.
    */
  val TopK = 1000

  val topEvents: (SparkSession, String) => DataFrame = (spark, dir) => {
    val ev = Feeds.table(spark, dir, "events.parquet")
      .select(col("event_id"), col("value"), bucketCol.as("bkt"))
    val hist = bucketHistogram(ev).reverse // descending buckets
    require(hist.nonEmpty, "topEvents: empty events table")
    var cum = 0L
    var cutoff = hist.head._1
    val it = hist.iterator
    while (cum < TopK && it.hasNext) { val (b, c) = it.next(); cutoff = b; cum += c }
    // candidates (≤ k + one bucket's population) go through
    // TakeOrderedAndProject — per-partition partial top-k, no full sort
    // or single-partition shuffle of the candidate set; only the final k
    // rows see the rank window. The window partitions by pmod(event_id, 1)
    // — constant 0 for every row, but NOT foldable (a literal partition key
    // gets optimized away, restoring the unpartitioned spec): semantically
    // identical to an unpartitioned window over the k-row take, while
    // keeping WindowExec's "No Partition Defined" warning out of the gate
    // log. The single partition is bounded at TopK rows by construction,
    // never a data-sized spill risk.
    val w = Window.partitionBy(pmod(col("event_id"), lit(1L)))
      .orderBy(col("value").desc, col("event_id").asc)
    ev.filter(col("bkt") >= cutoff)
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(TopK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("event_id"), col("value"))
      .orderBy("rank")
  }

  /** PER-GROUP exact quantiles (p50/p90 of document length by source) —
    * the grouped companion of [[autoThresholds]], with nothing collected
    * at all: the (source, n_chars) histogram reduces map-side, a window
    * PER SOURCE over that histogram (bounded by the source's distinct
    * value classes, never its row count) accumulates counts, and each
    * quantile picks the smallest value class whose cumulative count
    * covers the target rank. Rank indices are pure integers —
    * idx(q) = (num * (n - 1)) div den for q = num/den — so no float
    * multiply sits near a rank boundary on either compare side; the
    * selected quantiles are data values (no arithmetic crosses the
    * compare). The oracle ranks each source's rows globally
    * (row_number per source), an independent formulation.
    */
  val groupQuantiles: (SparkSession, String) => DataFrame = (spark, dir) => {
    val hist = Feeds.table(spark, dir, "documents.parquet")
      .groupBy("source", "n_chars").agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
    val cum = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
    // 0-based target ranks: p50 = (total-1) div 2, p90 = (9*(total-1)) div 10
    val idx50 = expr("(total - 1) div 2")
    val idx90 = expr("(9 * (total - 1)) div 10")
    cum.groupBy("source")
      .agg(max(col("total")).as("n_docs"),
        min(when(col("cum") > idx50, col("n_chars"))).cast("long").as("p50_chars"),
        min(when(col("cum") > idx90, col("n_chars"))).cast("long").as("p90_chars"))
      .orderBy("source")
  }

  /** Per-type MEDIAN ABSOLUTE DEVIATION — the robust spread statistic an
    * outlier report wants when 3-sigma is poisoned by the outliers
    * themselves. Exact end to end over q = floor(value * 2^20): the LOW
    * median (smallest value class whose cumulative count passes
    * (n-1) div 2 — the [[groupQuantiles]] rank contract) via the
    * histogram-window idiom twice — once over the (type, q) classes, once
    * over the (type, |q - med|) deviation classes. Both window frames are
    * bounded by a type's DISTINCT VALUE CLASSES, never its row count, and
    * both reductions combine map-side. The median join-back broadcasts —
    * one row per event type, registry-sized at any data scale. The oracle
    * ranks each type's rows globally (row_number), the independent
    * formulation of the same order statistics.
    */
  val madStats: (SparkSession, String) => DataFrame = (spark, dir) => {
    val ev = Feeds.table(spark, dir, "events.parquet")
      .select(col("event_type"), floor(col("value") * 1048576.0).cast("long").as("q"))
    // low median of df's `v` per event_type, plus the group's row count
    def lowMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(v)).agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy("event_type").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      hist.withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("total", sum(col("n")).over(wAll))
        .groupBy("event_type")
        .agg(max(col("total")).as(s"${out}_n"),
          min(when(col("cum") > expr("(total - 1) div 2"), col(v))).as(out))
    }
    val med = lowMedian(ev, "q", "med_q")
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("q") - col("med_q")).as("d"))
    val mad = lowMedian(dev, "d", "mad_q")
    med.join(mad, "event_type")
      .select(col("event_type"), col("med_q_n").as("n_events"),
        col("med_q"), col("mad_q"))
      .orderBy("event_type")
  }

  /** HyperLogLog register table over the event stream's user ids — the
    * distinct-count sketch, DETERMINISTIC end to end so it sits on the
    * exact-oracle surface: hash = the repo's standard 60-bit md5
    * truncation, bucket = the low 6 bits (m = 64 registers), rank = the
    * leading-zero count of the remaining 54 bits plus one (computed as
    * 55 - bitlength via bin(), identical variable-width semantics in
    * Spark and DuckDB; an all-zero remainder pins the max rank 55), and
    * each register is the MAX rank seen — a map-side-combinable groupBy
    * whose state is 64 longs TOTAL at any data scale (the whole point of
    * HLL at 100 TB: one pass, O(m) memory, mergeable across partitions /
    * days / sources by register max). The contract emits the registers
    * themselves (plus per-bucket row counts pinning the hash
    * distribution), not the float harmonic-mean estimate — the estimate
    * is a deterministic driver-side function OF the registers, while the
    * registers are what a production pipeline stores and merges. Only
    * occupied buckets emit (both sides agree by construction).
    */
  /** The register pipeline over a one-column `uid` frame. Registers merge
    * by max and row counts by addition, so the same aggregation also runs
    * unchanged as a COMPLETE-mode streaming query whose state is the sketch
    * (bounded at m rows on an unbounded stream, no watermark needed).
    */
  private[graft] def hllRegisterTable(ids: DataFrame): DataFrame = {
    val h = conv(substring(md5(concat(lit("hll#"), col("uid").cast("string"))), 1, 15),
      16, 10).cast("long")
    ids.select(h.as("h"))
      .select((col("h") % 64).as("bucket"), expr("h div 64").as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rest")))).as("rank"))
      .groupBy("bucket")
      .agg(max("rank").as("register"), count(lit(1)).as("n_rows"))
  }

  val hllRegisters: (SparkSession, String) => DataFrame = (spark, dir) =>
    hllRegisterTable(Feeds.table(spark, dir, "events.parquet")
      .select(col("user_id").as("uid")))
      .orderBy("bucket")

  /** Count-min sketch over the event stream's user ids — the frequency
    * companion of [[hllRegisters]] (every cell deterministic, so the whole
    * sketch sits on the exact-oracle surface): depth d = 2 independent
    * md5-derived hash rows, width w = 64; cell (i, j) counts events whose
    * hash_i lands in column j. One narrow 2x explode of (row, col) pairs
    * into a map-side-combinable groupBy — state is 128 longs TOTAL at any
    * data scale, mergeable by cell addition across partitions/days (the
    * production use). The point-query estimate min_i cnt(i, h_i(u)) >=
    * true frequency is the classic CMS theorem — asserted for every user
    * in the spec; the contract emits the sketch cells themselves.
    */
  /** The CMS cell aggregation over a frame carrying `user_id`. Counts are
    * a commutative monoid, so the same plan is also a valid complete-mode
    * streaming aggregation with 128-long state.
    */
  private[graft] def cmsCellTable(events: DataFrame): DataFrame = {
    def cell(i: Int) = struct(lit(i.toLong).as("r"),
      expr(s"cast(conv(substring(md5(concat('cms$i#', cast(user_id as string))), " +
        s"1, 15), 16, 10) as bigint) % 64").as("c"))
    events
      .select(explode(array(cell(0), cell(1))).as("cell"))
      .groupBy(col("cell.r").as("sketch_row"), col("cell.c").as("sketch_col"))
      .agg(count(lit(1)).as("cnt"))
  }

  val cmsSketch: (SparkSession, String) => DataFrame = (spark, dir) =>
    cmsCellTable(Feeds.table(spark, dir, "events.parquet"))
      .orderBy("sketch_row", "sketch_col")

  val oracleSql: Map[String, String] = Map(
    // CMS cells: the same two hash rows unioned and counted in SQL
    "q_evt_cms" ->
      """WITH c AS (
        |  SELECT 0 AS sketch_row,
        |    ('0x' || substring(md5('cms0#' || user_id::VARCHAR), 1, 15))::BIGINT % 64 AS sketch_col
        |  FROM events
        |  UNION ALL
        |  SELECT 1, ('0x' || substring(md5('cms1#' || user_id::VARCHAR), 1, 15))::BIGINT % 64
        |  FROM events)
        |SELECT sketch_row::BIGINT AS sketch_row, sketch_col::BIGINT AS sketch_col,
        |  count(*)::BIGINT AS cnt
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // HLL registers: same hash/bucket/rank pipeline in SQL — bin() has
    // identical variable-width semantics in DuckDB, so the bitlength-based
    // rank matches bit for bit
    "q_evt_hll" ->
      """WITH h AS (SELECT ('0x' || substring(md5('hll#' || user_id::VARCHAR), 1, 15))::BIGINT AS h
        |           FROM events),
        |b AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM h)
        |SELECT bucket::BIGINT AS bucket,
        |  max(CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END)::BIGINT AS register,
        |  count(*)::BIGINT AS n_rows
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // MAD: each type ranked twice by row_number — values, then absolute
    // deviations from the low median — the gather formulation of the
    // engine's histogram-window selection
    "q_evt_mad" ->
      """WITH e AS (SELECT event_type, floor(value * 1048576.0)::BIGINT AS q FROM events),
        |r AS (SELECT event_type, q,
        |        row_number() OVER (PARTITION BY event_type ORDER BY q) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |m AS (SELECT event_type, max(n)::BIGINT AS n_events,
        |        min(CASE WHEN rn > (n - 1) // 2 THEN q END)::BIGINT AS med_q
        |      FROM r GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.q - m.med_q) AS dv
        |      FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT event_type, dv,
        |         row_number() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |m2 AS (SELECT event_type,
        |         min(CASE WHEN rn > (n - 1) // 2 THEN dv END)::BIGINT AS mad_q
        |       FROM r2 GROUP BY 1)
        |SELECT m.event_type, m.n_events, m.med_q, m2.mad_q
        |FROM m JOIN m2 USING (event_type) ORDER BY 1""".stripMargin,

    "q_group_quantiles" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, max(n)::BIGINT AS n_docs,
        |  max(CASE WHEN rk = (n - 1) // 2 THEN n_chars END)::BIGINT AS p50_chars,
        |  max(CASE WHEN rk = (9 * (n - 1)) // 10 THEN n_chars END)::BIGINT AS p90_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q_top_events" ->
      s"""SELECT rank, event_id, value FROM (
         |  SELECT event_id, value,
         |         row_number() OVER (ORDER BY value DESC, event_id)::BIGINT AS rank
         |  FROM events) r
         |WHERE rank <= $TopK ORDER BY rank""".stripMargin,

    "q_auto_thresholds" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM events),
        |qs(q) AS (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.75::DOUBLE), (0.9::DOUBLE)),
        |k AS (SELECT q, (floor(q * (n - 1))::BIGINT + 1)::BIGINT AS k
        |      FROM qs CROSS JOIN n),
        |r AS (SELECT value, row_number() OVER (ORDER BY value)::BIGINT AS rn FROM events)
        |SELECT k.q, k.k, r.value AS threshold
        |FROM k JOIN r ON r.rn = k.k ORDER BY k.q""".stripMargin
  )
}
