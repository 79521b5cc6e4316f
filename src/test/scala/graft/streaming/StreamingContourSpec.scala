package graft.streaming

import graft.SparkTestSession
import graft.core.Goldens
import graft.docs.DocCodec
import graft.engine.GridSynth
import graft.model.{ContourRow, JobConfig}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class StreamingContourSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("appended grids are re-contoured per micro-batch, matching batch output") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("stream-in")
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val results = new java.util.concurrent.ConcurrentLinkedQueue[ContourRow]()

    // a grid's tiles must land atomically (the lake snapshot commit gives
    // this in production): stage as a single file, then move into the
    // watched dir — FileStreamSource would otherwise split one grid's
    // multi-file write across micro-batches and the merge would (correctly)
    // refuse to close its rings
    def appendGrid(name: String, grid: Array[Double]): Unit = {
      val staging = Files.createTempDirectory(s"stage-$name")
      DocCodec.encode(GridSynth.tilesFromArray(spark, name, grid, 10, 10, 5, 5))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val file = Files.list(staging).iterator()
      var moved = false
      while (file.hasNext && !moved) {
        val p = file.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, inDir.resolve(s"$name.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved = true
        }
      }
      assert(moved)
    }

    appendGrid("gA", Goldens.simpleGrid)
    val q = StreamingContour.start(spark, inDir.toString, ckpt, JobConfig(Seq(0.5), smooth = true)) {
      (cts, _) => cts.collect().foreach(results.add)
    }
    try {
      q.processAllAvailable()
      assert(results.size == 1)
      val first = results.peek()
      assert(first.gridId == "gA")
      Goldens.assertRing(first.polygons.head.exterior, Goldens.simpleExpected)

      // append a second grid -> only the new grid is contoured in batch 2
      appendGrid("gB", Goldens.multiGrid)
      q.processAllAvailable()
      assert(results.size == 2)
      assert(results.toArray(Array.empty[ContourRow]).exists(r =>
        r.gridId == "gB" && r.polygons.length == 2))
    } finally q.stop()
  }

  test("stateful stream: one grid's tiles split across two micro-batches == batch") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("sstream-in")
    val ckpt = Files.createTempDirectory("sstream-ckpt").toString
    val results = new java.util.concurrent.ConcurrentLinkedQueue[ContourRow]()
    val tiles = GridSynth.tilesFromArray(spark, "gH", Goldens.multiHoleGrid, 10, 10, 5, 5)
    val docs = DocCodec.encode(tiles).collect().sortBy(_.doc_id).toSeq
    assert(docs.length == 4)
    def writeDocs(name: String, ds: Seq[graft.model.Doc]): Unit = {
      val staging = Files.createTempDirectory(s"stage-$name")
      spark.createDataset(ds).coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val file = Files.list(staging).iterator()
      var moved = false
      while (file.hasNext && !moved) {
        val p = file.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, inDir.resolve(s"$name.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved = true
        }
      }
      assert(moved)
    }
    writeDocs("part1", docs.take(2))
    val q = StreamingContour.startStateful(spark, inDir.toString, ckpt,
      JobConfig(Seq(0.5), smooth = true)) { (cts, _) => cts.collect().foreach(results.add) }
    try {
      q.processAllAvailable()
      assert(results.isEmpty, "incomplete grid must not emit")
      writeDocs("part2", docs.drop(2))
      q.processAllAvailable()
      assert(results.size == 1)
      val got = results.peek()
      val want = new graft.engine.ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
        .contours(GridSynth.tilesFromArray(spark, "gH", Goldens.multiHoleGrid, 10, 10, 5, 5))
        .collect().head
      Goldens.assertContours(Seq(got), Seq(want), "cross-batch output must be byte-identical to batch")
    } finally q.stop()
  }

  test("ring store is grid-partitioned: completion reads only that grid's files") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("pstream-in")
    val ckpt = Files.createTempDirectory("pstream-ckpt").toString
    val results = new java.util.concurrent.ConcurrentLinkedQueue[ContourRow]()
    // two volcano grids interleaved: gP completes in batch 2; gQ stays
    // OPEN the whole time (only 80 of its tiles ever arrive), piling
    // closed interior rings into the store that gP's completion must
    // never read
    val (vol, vw, vh) = Goldens.loadFixture("/fixtures/volcano.json")
    val volTiles = GridSynth.tilesFromArray(spark, "gQ", vol, vw, vh, 8, 8)
      .collect().sortBy(t => (t.tileY, t.tileX)).toSeq
    val pTiles = GridSynth.tilesFromArray(spark, "gP", vol, vw, vh, 8, 8)
      .collect().sortBy(t => (t.tileY, t.tileX)).toSeq
    def writeDocs(name: String, ts: Seq[graft.model.TileRow]): Unit = {
      val staging = Files.createTempDirectory(s"stage-$name")
      DocCodec.encode(spark.createDataset(ts)).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val file = Files.list(staging).iterator()
      var moved = false
      while (file.hasNext && !moved) {
        val p = file.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, inDir.resolve(s"$name.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved = true
        }
      }
      assert(moved)
    }
    writeDocs("b1", pTiles.take(60) ++ volTiles.take(40))
    val cfg = JobConfig((100 to 180 by 20).map(_.toDouble), smooth = true)
    val q = StreamingContour.startStateful(spark, inDir.toString, ckpt, cfg) {
      (cts, _) => cts.collect().foreach(results.add)
    }
    try {
      q.processAllAvailable()
      assert(results.isEmpty)
      writeDocs("b2", pTiles.drop(60) ++ volTiles.slice(40, 80))
      q.processAllAvailable()
      val got = results.toArray(Array.empty[ContourRow]).toSeq.sortBy(_.threshold)
      assert(got.nonEmpty && got.forall(_.gridId == "gP"))
      val want = new graft.engine.ContourEngine(spark, cfg)
        .contours(spark.createDataset(pTiles)).collect().sortBy(_.threshold).toSeq
      Goldens.assertContours(got, want, "pruned-store output must stay byte-identical")
    } finally q.stop()
    // the store layout is b<batch>/gid=<grid>/ and the completion's read
    // set — ringDirsFor(gP) — touches ONLY gP's partitions, however much
    // history other grids have piled up
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val all = StreamingContour.ringDirsFor(fs, s"$ckpt/rings", Set("gP", "gQ"))
    val gp = StreamingContour.ringDirsFor(fs, s"$ckpt/rings", Set("gP"))
    assert(all.exists(_.endsWith("gid=gQ")), "open grid's rings are in the store")
    assert(gp.nonEmpty && gp.forall(_.endsWith("gid=gP")),
      s"completion read set must touch only gP's partitions, got $gp")
    // the walk is INDEX-DRIVEN: the stream wrote per-grid markers, and the
    // read set is exactly the batches gP's marker dir names — one
    // listStatus per grid, O(batches containing that grid), not a scan of
    // the store's whole batch history
    val indexDir = new org.apache.hadoop.fs.Path(s"$ckpt/rings/index")
    assert(fs.exists(indexDir), "stream must maintain the per-grid ring index")
    val gpMarkers = fs.listStatus(new org.apache.hadoop.fs.Path(indexDir, "gid=gP"))
      .map(_.getPath.getName).sorted.toSeq
    assert(gpMarkers.nonEmpty)
    assert(gp.map(d => new org.apache.hadoop.fs.Path(d).getParent.getName).sorted.toSeq
      == gpMarkers, s"read set $gp must be exactly gP's indexed batches $gpMarkers")
  }

  test("start and startStateful leave the caller's session conf as it was") {
    val key = "spark.sql.parquet.columnarReaderBatchSize"
    val caller = spark.newSession()
    caller.conf.set(key, "48")
    // one whole grid in one file, written before the stream starts
    val inDir = Files.createTempDirectory("conf-in").toString
    DocCodec.encode(GridSynth.tilesFromArray(spark, "gK", Goldens.simpleGrid, 10, 10, 5, 5))
      .coalesce(1).write.mode("append").parquet(inDir)
    val entries = Seq("start" -> StreamingContour.start _, "startStateful" -> StreamingContour.startStateful _)
    for ((name, entry) <- entries) {
      val ckpt = Files.createTempDirectory(s"conf-ckpt-$name").toString
      val results = new java.util.concurrent.ConcurrentLinkedQueue[ContourRow]()
      val q = entry(caller, inDir, ckpt, JobConfig(Seq(0.5), smooth = true)) {
        (cts, _) => cts.collect().foreach(results.add)
      }
      try {
        assert(caller.conf.get(key) == "48", s"$name changed the caller's $key")
        q.processAllAvailable()
        assert(results.size == 1, s"$name: one contour row for the one grid")
        Goldens.assertRing(results.peek().polygons.head.exterior, Goldens.simpleExpected, name)
      } finally q.stop()
      assert(caller.conf.get(key) == "48", s"$name changed the caller's $key")
    }
  }

  test("ring index: retried markers are idempotent and stale markers are skipped") {
    import spark.implicits._
    val store = Files.createTempDirectory("idxstore").toString
    def row(gid: String, ti: Int) =
      graft.model.RingFragRow(gid, ti, closed = true, 0, 0, 0L, 0L, ti.toLong, 0,
        Array(0.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    def writePartitioned(batch: String, rows: Seq[graft.model.RingFragRow]): Unit =
      spark.createDataset(rows).toDF()
        .withColumn("gid", org.apache.spark.sql.functions.col("gridId"))
        .write.mode("overwrite").partitionBy("gid").parquet(s"$store/$batch")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    writePartitioned("b0", Seq(row("gP", 0), row("gQ", 1)))
    StreamingContour.writeRingIndex(fs, store, 0L, Seq("gP", "gQ"))
    // a failed attempt of batch 1 indexed both grids, its retry rewrote
    // only gP: gQ's marker for b1 is stale
    StreamingContour.writeRingIndex(fs, store, 1L, Seq("gP", "gQ"))
    writePartitioned("b1", Seq(row("gP", 2)))
    StreamingContour.writeRingIndex(fs, store, 1L, Seq("gP"))
    val dirsQ = StreamingContour.ringDirsFor(fs, store, Set("gQ"))
    assert(dirsQ.length == 1 && dirsQ.head.endsWith("b0/gid=gQ"), s"got $dirsQ")
    val dirsP = StreamingContour.ringDirsFor(fs, store, Set("gP"))
    assert(dirsP.length == 2 && dirsP.forall(_.endsWith("gid=gP")), s"got $dirsP")
    val got = StreamingContour.readRingStore(spark, store, Set("gP"))
      .collect().map(r => (r.gridId, r.ti)).sorted.toSeq
    assert(got == Seq(("gP", 0), ("gP", 2)))
  }

  /** Minimal in-memory GroupState for driving updateGrid directly. */
  private final class FakeState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
    private var v: Option[S] = None
    override def exists: Boolean = v.isDefined
    override def get: S = v.get
    override def getOption: Option[S] = v
    override def update(s: S): Unit = v = Some(s)
    override def remove(): Unit = v = None
    override def hasTimedOut: Boolean = false
    override def setTimeoutDuration(ms: Long): Unit = ()
    override def setTimeoutDuration(d: String): Unit = ()
    override def setTimeoutTimestamp(ms: Long): Unit = ()
    override def setTimeoutTimestamp(ms: Long, d: String): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date, d: String): Unit = ()
    override def getCurrentWatermarkMs: Long = 0L
    override def getCurrentProcessingTimeMs: Long = 0L
  }

  test("incremental state: rings emit as they close; state holds only the open frontier") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val cfg = JobConfig((100 to 180 by 20).map(_.toDouble), smooth = true)
    val tiles = GridSynth.tilesFromArray(spark, "gi", data, w, h, 8, 8)
      .collect().sortBy(t => (t.tileY, t.tileX)).toSeq
    val update = StreamingContour.updateGrid(cfg) _
    val st = new FakeState[StreamingContour.GridState]
    val emitted = scala.collection.mutable.ArrayBuffer[graft.model.RingFragRow]()
    // feed the grid row-of-tiles by row-of-tiles (11 "batches" of 12 tiles)
    val batches = tiles.grouped(12).toSeq
    var sawEarlyRings = false
    batches.zipWithIndex.foreach { case (b, i) =>
      emitted ++= update("gi", b.iterator, st)
      if (i < batches.length - 1) {
        // rings must leave the state as they close, not pile up until done
        if (emitted.exists(_.ti >= 0)) sawEarlyRings = true
        val s = st.get
        assert(s.covered >= 0 && s.open.forall(!_.closed))
        // the carried frontier is bounded by the open perimeter: far less
        // than the rings already emitted (total contour length)
        val openPts = s.open.map(_.pts.length).sum
        val emittedPts = emitted.filter(_.ti >= 0).map(_.pts.length).sum
        assert(openPts < math.max(2000, emittedPts),
          s"batch $i: state carries $openPts pts vs $emittedPts emitted")
      }
    }
    assert(sawEarlyRings, "no rings emitted before completion")
    assert(emitted.count(_.ti == StreamingContour.CompleteTi) == 1)
    // the tombstone rejects late/duplicate arrivals loudly
    val late = intercept[IllegalStateException] {
      update("gi", tiles.take(1).iterator, st).toList
    }
    assert(late.getMessage.contains("already completed"))
    // accumulated closed rings == the batch engine's rings, byte-identical
    val eng = new graft.engine.ContourEngine(spark, cfg)
    val want = eng.closedRingRows(GridSynth.tilesFromArray(spark, "gi", data, w, h, 8, 8))
      .collect().filter(r => r.ti >= 0)
      .map(r => (r.ti, r.maxKey, r.pts.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    val got = emitted.filter(_.ti >= 0)
      .map(r => (r.ti, r.maxKey, r.pts.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    assert(got == want)
  }

  test("duplicate tile delivery fails loudly instead of stalling the grid") {
    val cfg = JobConfig(Seq(0.5), smooth = true)
    val tiles = GridSynth.tilesFromArray(spark, "gd", Goldens.multiHoleGrid, 10, 10, 5, 5)
      .collect().toSeq
    val update = StreamingContour.updateGrid(cfg) _
    val st = new FakeState[StreamingContour.GridState]
    update("gd", tiles.take(2).iterator, st).toList
    val dup = intercept[IllegalStateException] {
      update("gd", tiles.take(1).iterator, st).toList
    }
    assert(dup.getMessage.contains("duplicate tile"))
  }
}
