package graft.streaming

import graft.docs.DocCodec
import graft.engine.ContourEngine
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import scala.collection.mutable.ArrayBuffer

/** Streaming re-contour of appended tile documents: an append-only document
  * stream (e.g. new raster snapshots landing in the lake) is decoded and
  * contoured per micro-batch with the same batch engine — foreachBatch gives
  * exactly-once sink semantics against the checkpoint, and each batch's
  * grids are independent (a grid's tiles are expected to land atomically,
  * which the lake's snapshot commit guarantees).
  *
  * Neither entry point changes the caller's session. The doc source reads
  * with that session's `spark.sql.parquet.columnarReaderBatchSize` for the
  * whole life of the stream (Spark's file stream source keeps the session
  * it was defined on, not the query's clone): doc rows carry MB-scale
  * media_ref strings, so set it to 32-64 as graft.Bench does — the default
  * 4096-row batch can overflow the 2GB column vector.
  */
object StreamingContour {

  val docSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Doc].schema

  /** Start a stream reading doc parquet from `inputPath`, contouring each
    * micro-batch, and handing results to `sink`.
    */
  def start(spark: SparkSession, inputPath: String, checkpointDir: String,
            cfg: JobConfig)(sink: (Dataset[ContourRow], Long) => Unit): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .schema(docSchema)
      .parquet(inputPath)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.as[Doc]
        val engine = new ContourEngine(batch.sparkSession, cfg)
        sink(engine.contours(DocCodec.decode(docs)), batchId)
      }
      .start()
  }

  /** Per-grid cross-batch state — INCREMENTAL: only the still-open boundary
    * fragments, the coverage counters, and the arrived tile keys (morton of
    * (tileX, tileY), for loud duplicate detection). Closed rings leave the
    * state the moment they close (FragmentMerge never reopens a closed
    * ring), so state size is O(open perimeter + arrived tiles), never
    * O(total contour length) — a huge grid arriving over many batches
    * carries only its frontier. `covered == -1` is the completion
    * tombstone: late or re-appended tiles after emission fail loudly
    * instead of silently restarting the counter.
    */
  final case class GridState(covered: Long, total: Long,
                             tileKeys: Seq[Long], open: Seq[RingFragRow])

  /** In emitted RingFragRow rows: ti >= 0 -> a closed ring of threshold
    * index ti; ti == CompleteTi -> the grid completed this batch. It is the
    * batch engine's ti = -1 tile marker, so completion assembly is
    * ContourEngine.contoursFrom over the grid's rings plus this marker.
    */
  val CompleteTi: Int = -1

  /** Stateful streaming contouring: a grid's tiles may arrive across ANY
    * number of micro-batches. flatMapGroupsWithState on gridId runs the
    * tile kernel on arrivals, merges boundary fragments with the carried
    * open set (FragmentMerge is arrival-order independent, so the final
    * rings are byte-identical to the batch engine's), and EMITS CLOSED
    * RINGS AS THEY CLOSE. Each batch's emitted rings land idempotently in
    * a parquet ring store under the checkpoint dir (one overwrite-mode
    * directory per batchId, so foreachBatch retries never duplicate);
    * when a grid's owned-cell coverage reaches gdx * gdy a completion
    * marker triggers the downstream per-grid assembly — reading back just
    * that grid's rings — and `sink` sees its contours exactly once.
    * This lifts `start`'s grids-land-atomically restriction.
    */
  def startStateful(spark: SparkSession, inputPath: String, checkpointDir: String,
                    cfg: JobConfig)(sink: (Dataset[ContourRow], Long) => Unit): StreamingQuery = {
    import spark.implicits._
    val ringStore = s"$checkpointDir/rings"
    val emitted = spark.readStream
      .schema(docSchema)
      .parquet(inputPath)
      .as[Doc]
      .flatMap(DocCodec.docToTiles)
      .groupByKey(_.gridId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        updateGrid(cfg))
    emitted.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[RingFragRow], batchId: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val rows = batch.persist()
        try {
          val completed = rows.filter(_.ti == CompleteTi).map(_.gridId)
            .collect().toSet
          // idempotent ring append: a retried batch overwrites its own dir.
          // Within the batch dir the rings are PARTITIONED BY GRID (a copy
          // column, so the full RingFragRow schema stays in the files) —
          // grid completion then reads only that grid's partitions instead
          // of scanning the whole ring-store history, which on a
          // long-running stream would grow without bound.
          rows.filter(_.ti >= 0).toDF()
            .withColumn("gid", col("gridId"))
            .write.mode("overwrite").partitionBy("gid")
            .parquet(s"$ringStore/b$batchId")
          // per-grid directory index: completion walks O(batches containing
          // that grid), not O(all batches). Collected grid list is bounded
          // by the batch's grid count; marker writes are idempotent.
          val ringGrids = rows.filter(_.ti >= 0).map(_.gridId).distinct().collect()
          val fs = new org.apache.hadoop.fs.Path(ringStore)
            .getFileSystem(s.sessionState.newHadoopConf())
          writeRingIndex(fs, ringStore, batchId, ringGrids.toSeq)
          if (completed.nonEmpty) {
            val markers = rows.filter(r => r.ti == CompleteTi)
            val rings = readRingStore(s, ringStore, completed)
            sink(new ContourEngine(s, cfg).contoursFrom(rings.union(markers)), batchId)
          }
        } finally rows.unpersist()
      }
      .start()
  }

  /** The completed grids' persisted rings: only the `gid=` partition
    * directories of those grids, across the per-batch directories — the
    * rest of the ring-store history is never touched.
    */
  private[streaming] def readRingStore(spark: SparkSession, ringStore: String,
                                       grids: Set[String]): Dataset[RingFragRow] = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(ringStore)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = ringDirsFor(fs, ringStore, grids)
    if (dirs.isEmpty) spark.emptyDataset[RingFragRow]
    else spark.read.schema(org.apache.spark.sql.Encoders.product[RingFragRow].schema)
      .parquet(dirs: _*)
      .as[RingFragRow]
  }

  private def escGid(gid: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(gid)

  /** Record, in the per-grid directory index, which grids batch `batchId`
    * wrote rings for: one empty marker file `index/gid=<g>/b<batchId>` per
    * grid (same Hive-style escaping as partitionBy, so exotic grid ids
    * round-trip). IDEMPOTENT: a retried batch recreates the same markers.
    */
  private[streaming] def writeRingIndex(fs: org.apache.hadoop.fs.FileSystem,
                                        ringStore: String, batchId: Long,
                                        grids: Seq[String]): Unit = {
    val indexDir = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(ringStore), "index")
    grids.sorted.foreach { g =>
      val gdir = new org.apache.hadoop.fs.Path(indexDir, s"gid=${escGid(g)}")
      fs.mkdirs(gdir)
      fs.create(new org.apache.hadoop.fs.Path(gdir, s"b$batchId"), true).close()
    }
  }

  /** The directories holding `grids`' rings: each grid's marker dir lists
    * exactly the batches holding its rings, so the walk is O(batches
    * containing that grid) — one `listStatus` per grid plus one existence
    * check per marker — regardless of how many batches the stream has
    * accumulated.
    */
  private[streaming] def ringDirsFor(fs: org.apache.hadoop.fs.FileSystem,
                                     ringStore: String,
                                     grids: Set[String]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(ringStore)
    val indexDir = new org.apache.hadoop.fs.Path(root, "index")
    grids.toSeq.sorted.flatMap { g =>
      val e = escGid(g)
      val markers =
        try fs.listStatus(new org.apache.hadoop.fs.Path(indexDir, s"gid=$e"))
          .map(_.getPath.getName).sorted.toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      markers.flatMap { b =>
        val d = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, b), s"gid=$e")
        // a batch retry may legitimately rewrite fewer grids than the
        // failed attempt indexed — stale markers are skipped, not errors
        if (fs.exists(d)) Some(d.toString) else None
      }
    }
  }

  private[streaming] def updateGrid(cfg: JobConfig)(
      gid: String, tiles: Iterator[TileRow],
      state: GroupState[GridState]): Iterator[RingFragRow] = {
    val ts = cfg.thresholds.toArray
    val prev = state.getOption.getOrElse(GridState(0L, 0L, Nil, Nil))
    if (prev.covered == -1L) {
      val late = tiles.map(t => (t.tileX, t.tileY)).toSeq
      if (late.nonEmpty)
        throw new IllegalStateException(
          s"grid $gid already completed and emitted; late/duplicate tiles: $late")
      return Iterator.empty
    }
    var covered = prev.covered
    var total = prev.total
    val seen = scala.collection.mutable.Set[Long](prev.tileKeys: _*)
    val emit = ArrayBuffer[RingFragRow]()
    val open = ArrayBuffer[RingFragRow](prev.open: _*)
    tiles.foreach { t =>
      val key = graft.index.CellIndex.morton(t.tileX, t.tileY)
      if (!seen.add(key))
        throw new IllegalStateException(
          s"duplicate tile (${t.tileX}, ${t.tileY}) delivered for grid $gid")
      total = t.gdx.toLong * t.gdy
      covered += t.tw.toLong * t.th
      if (covered > total)
        throw new IllegalStateException(
          s"grid $gid coverage overshoot: $covered > $total owned cells")
      ContourEngine.tileRows(t, ts, cfg.smooth).foreach(r => if (r.closed) emit += r else open += r)
    }
    val done = total > 0 && covered == total
    // merge this batch's open fragments with the carried ones, per
    // threshold; anything that closes is FINAL (FragmentMerge never
    // reopens a closed ring) and is emitted now, not carried. A completed
    // grid runs the batch engine's last round, which fails on a fragment
    // that stays open.
    val stillOpen = ArrayBuffer[RingFragRow]()
    open.groupBy(_.ti).foreach { case (ti, rows) =>
      if (done) emit ++= ContourEngine.closeRings(gid, ti, ts(ti), rows.iterator)
      else ContourEngine.mergeRows(gid, ti, 0, 0, rows.iterator)
        .foreach(r => if (r.closed) emit += r else stillOpen += r)
    }
    if (!done) {
      state.update(GridState(covered, total, seen.toSeq, stillOpen.toSeq))
      emit.iterator
    } else {
      // tombstone: late arrivals after emission must fail loudly, not
      // silently restart the grid
      state.update(GridState(-1L, total, Nil, Nil))
      emit += RingFragRow(gid, CompleteTi, closed = true, 0, 0, 0L, 0L, 0L, 0, Array.empty)
      emit.iterator
    }
  }
}
