package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** WITHIN-INVOCATION shared-feed materialization (optimization guide §2.4
  * "remove shuffles outright" / round-5 verdict item #1).
  *
  * Several operator families ride one expensive feed: the LSH candidate
  * pair graph (MinHash chain), the watershed pointer-doubling labels, the
  * D8 successor forest, the assembled contour rings. Each contract query
  * is standalone, so before this round every consumer re-ran the whole
  * feed chain from parquet — ~10 LSH passes and ~10 labeling passes per
  * bench/oracle invocation.
  *
  * This helper computes a feed ONCE PER (SparkSession, input dir) and
  * hands every later consumer the materialized frame:
  *
  *  - The first consumer builds the feed from the parquet inputs and pays
  *    its full cost inside its own timed region (`localCheckpoint(eager)`
  *    runs at query-construction time, which the bench times).
  *  - The result is registered as a SESSION-SCOPED temp view; it dies with
  *    the session and can never cross process/bench-invocation boundaries.
  *    Nothing is written under the data directory and nothing survives a
  *    run, so every bench/oracle invocation still computes every feed from
  *    the parquet inputs — the in-run equivalent of the verdict's
  *    "materialize the shared feeds and make consumers read them", minus
  *    any cross-run persistence (which the optimization round forbids).
  *  - `localCheckpoint` (RDD-level persistence) rather than the SQL cache
  *    is deliberate: driver-loop feeds (pointer doubling, hash-min CC) are
  *    not re-derivable by Catalyst plan-cache lookup, and the checkpoint
  *    also truncates their per-round lineage exactly as the loops already
  *    did internally.
  *  - A harness may unpersist everything between queries (Verify does:
  *    `getPersistentRDDs.values.foreach(_.unpersist)`); a local checkpoint
  *    whose blocks are dropped is gone for good, so lookup VALIDATES the
  *    backing RDDs and transparently rebuilds a dead feed from parquet.
  *    Under Verify that restores the exact per-query-standalone behavior.
  *
  * At 100 TB the same call structure holds: the feed is one job whose
  * output is cluster-cached (or written to a lake table by an orchestrator
  * that owns snapshot lifecycle); consumers are narrow reads of it.
  */
object Feeds {

  private def viewName(name: String, dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_feed_${name}_$h"
  }

  /** True iff every checkpoint RDD backing `df`'s plan still holds its
    * blocks (an unpersisted local checkpoint is unrecoverable by design).
    */
  private def alive(df: DataFrame): Boolean = {
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    rdds.nonEmpty && rdds.forall(_.getStorageLevel != StorageLevel.NONE)
  }

  /** Below this on-disk size a base table is decoded once per session and
    * shared (guide §6: the contract tables are single-split parquet, so
    * every query otherwise pays a serial decode); at or above it, readers
    * keep the raw parquet scan so column pruning and predicate pushdown
    * stay on the scan path — the deliberate, size-adaptive trade (a
    * 100 TB fact table must never be materialized wholesale).
    */
  private val TableFeedMaxBytes = 256L << 20

  /** A base parquet table as a shared feed when it is small enough to
    * decode once, else the raw scan. The spread to `defaultParallelism`
    * partitions also fixes the single-split serial-decode bottleneck for
    * every consumer. The size is probed through the path's Hadoop
    * FileSystem, so a `file:`, `hdfs:` or object-store URI takes the same
    * decision as a bare local path.
    */
  def table(spark: SparkSession, dir: String, file: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$file")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val small =
      try {
        val st = fs.getFileStatus(path)
        st.isFile && st.getLen < TableFeedMaxBytes
      } catch { case _: java.io.FileNotFoundException => false }
    if (small)
      shared(spark, dir, "tbl_" + file.replaceAll("[^A-Za-z0-9]", "_")) {
        spark.read.parquet(s"$dir/$file")
          .repartition(math.max(8, spark.sparkContext.defaultParallelism))
      }
    else spark.read.parquet(s"$dir/$file")
  }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily set to a
    * value DERIVED FROM DATA SIZE (guide §2.2/§2.5: scale-adaptive
    * partitioning instead of a constant tuned for one deployment). The
    * iterative driver loops (pointer doubling, hash-min CC, BFS, level
    * sets) shuffle a few narrow long columns per round; with the
    * session-wide partition count every tiny round pays a full wave of
    * empty tasks, and with AQE partition coalescing disabled in the bench
    * session nothing merges them. `rows` is the measured size of the
    * loop's state frame (cheap on a materialized checkpoint);
    * `rowsPerPartition` targets ~16 MB of (long, long) pairs per task at
    * scale. The previous value is always restored, and the wrapped frames
    * are materialized INSIDE `f` (every loop round ends in an eager
    * localCheckpoint), so no lazily-planned query escapes with the
    * temporary setting.
    */
  def withLoopPartitions[T](spark: SparkSession, rows: Long,
                            rowsPerPartition: Long = 1L << 20)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val p = math.max(1L, math.min((rows + rowsPerPartition - 1) / rowsPerPartition, 100000L))
    spark.conf.set(key, p.toString)
    try f finally spark.conf.set(key, old)
  }

  /** Return the feed `name` for input `dir`, building + materializing it on
    * first use in this session (or again after an external unpersist).
    * `build` must be a pure function of the parquet inputs under `dir`
    * (deterministic — the sharing must be result-invisible).
    */
  def shared(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val view = viewName(name, dir)
    val cached =
      if (spark.catalog.tableExists(view)) Some(spark.table(view)).filter(alive)
      else None
    cached.getOrElse {
      spark.sparkContext.setJobDescription(s"feed: $name")
      val df = build.localCheckpoint(eager = true)
      spark.sparkContext.setJobDescription(null)
      df.createOrReplaceTempView(view)
      df
    }
  }
}
