package graft.engine

import graft.core._
import graft.index.CellIndex
import graft.model._
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

/** The distributed contour pipeline over typed Datasets:
  *
  *   tiles --flatMap (narrow)--> per-(tile, threshold) marching-squares
  *   kernel (closed rings + open boundary fragments)
  *   [> 8x8 tiles per grid only: merge rounds 1..L-1, persisted shuffles
  *   keyed by hierarchical 2^l x 2^l spatial blocks]
  *   --ONE shuffle by (gridId, threshold), or (gridId, band chunk)--> assembly
  *   reducer: last merge round (closeRings), closure-order sort, affine,
  *   hole nesting / even-odd bands.
  *
  * At <= 8x8 tiles per grid a job is decode + kernel + one shuffle, with no
  * cache and no barrier. The kernel stage is embarrassingly parallel and
  * dominates cost; each intermediate round halves the open blocks.
  *
  * Output rings are byte-identical to the reference's single-threaded
  * output (order and rotation included) — see Stitcher/FragmentMerge.
  * Each step (kernel rows, merge rows, last round, round count, ring
  * reducer) is written once on the companion object; the streaming and SQL
  * paths call the same functions.
  */
final class ContourEngine(spark: SparkSession, cfg: JobConfig) {
  import ContourEngine._

  private val thresholds: Array[Double] = cfg.thresholds.toArray

  // Every cache this engine holds: a kernel output it persisted and the
  // live round of a deep merge hierarchy (earlier rounds are released as
  // the next one materializes). The caches behind a RETURNED lazy Dataset
  // must live until the caller's action completes — callers release them
  // afterwards via releaseCaches().
  private val tracked = ArrayBuffer[Dataset[_]]()
  private def release(d: Dataset[_]): Unit = synchronized {
    d.unpersist(blocking = false); tracked -= d
  }

  /** Persist `d`, force it with one count, and track the cache. */
  private def materialize(d: Dataset[RingFragRow]): Dataset[RingFragRow] = {
    val p = d.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized(tracked += p)
    p.count()
    p
  }

  /** Unpersist every cache this engine still holds (non-blocking). Call
    * after the final action on any Dataset returned by this engine; using
    * such a Dataset afterwards recomputes from source.
    */
  def releaseCaches(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false)); tracked.clear()
  }

  private[engine] def trackedCacheCount: Int = synchronized(tracked.size)

  /** Narrow stage: run the tile kernel for every threshold; emit closed
    * rings, open fragments, and one marker row per tile with ti = -1
    * (drives backfill of empty results).
    */
  def kernelRows(tiles: Dataset[TileRow]): Dataset[RingFragRow] = kernelOf(tiles, cfg.smooth)

  private def kernelOf(tiles: Dataset[TileRow], smooth: Boolean): Dataset[RingFragRow] = {
    val ts = thresholds
    tiles.flatMap { t =>
      Iterator.single(RingFragRow(t.gridId, -1, closed = true, t.tileX, t.tileY,
        0L, 0L, 0L, 0, Array.empty)) ++ ContourEngine.tileRows(t, ts, smooth)
    }
  }

  /** The merge state BEFORE its last round, lazily: kernel-closed rings,
    * rings closed in rounds 1..levels-1, the fragments still open, and the
    * ti = -1 markers. The last round runs in the assembly reducers: finish
    * this state with a `*From` call (or [[ContourEngine.closeRings]]). At
    * levels == 1 (<= 8x8 tiles per grid) it IS `kernelOut`. Deeper
    * hierarchies persist the kernel output (unless already cached) and
    * each round with one count, releasing the previous round's cache, so
    * they hold O(one round's state); kernel-closed rings never re-ship.
    */
  def closedRings(kernelOut: Dataset[RingFragRow], maxTileCoord: Int): Dataset[RingFragRow] = {
    val levels = ContourEngine.mergeLevels(maxTileCoord)
    if (levels == 1) kernelOut
    else {
      val kernel = if (kernelOut.storageLevel == StorageLevel.NONE) materialize(kernelOut) else kernelOut
      var state = kernel.filter(!_.closed) // rolled forward: closed in rounds 1..l + open
      for (l <- 1 until levels) {
        val next = materialize(state.filter(_.closed).union(mergeOpen(state.filter(!_.closed))))
        if (l > 1) release(state)
        state = next
      }
      kernel.filter(_.closed).union(state)
    }
  }

  /** One intermediate merge round: stitch open fragments within blocks one
    * bit coarser than their coords (round l's input coords are level-(l-1)
    * block coords, so tileX >> l overall).
    */
  private def mergeOpen(open: Dataset[RingFragRow]): Dataset[RingFragRow] =
    open.groupByKey(r => (r.gridId, r.ti, CellIndex.parent(CellIndex.morton(r.bx, r.by), 1)))(BlockKeyEnc)
      .flatMapGroups { (key: (String, Int, Long), it: Iterator[RingFragRow]) =>
        val (gid, ti, cell) = key
        ContourEngine.mergeRows(gid, ti, CellIndex.mortonX(cell), CellIndex.mortonY(cell), it).iterator
      }

  /** The last merge round as a shuffle of its own, for closed-ring
    * consumers: closeRings per (grid, threshold); markers pass through.
    */
  private def closeAll(state: Dataset[RingFragRow]): Dataset[RingFragRow] = {
    val ts = thresholds
    state.groupByKey(r => (r.gridId, r.ti))(GridKeyEnc)
      .flatMapGroups { (key: (String, Int), it: Iterator[RingFragRow]) =>
        if (key._2 < 0) it else ContourEngine.closeRings(key._1, key._2, ts(key._2), it).iterator
      }
  }

  /** Lake-checkpointed merge fixpoint with the same block hierarchy as
    * [[closedRings]]: round 0 = kernel output, round l = merge level l, the
    * last round closing every ring. Every round is committed as a snapshot
    * of `lakeTable` (atomic manifest, per-partition row metrics, lineage
    * chain), and on restart the latest completed round is read back and the
    * fixpoint resumes after it — so a failed long job never re-runs
    * finished rounds. Each round reads its input from the previous round's
    * parquet, which doubles as reliable materialization on a real cluster.
    * Returns closed rings and markers only.
    */
  def closedRingsCheckpointed(tiles: Dataset[TileRow], lakeTable: String,
                              maxTileCoord: Int): Dataset[RingFragRow] = {
    import graft.lake.Lake
    val levels = ContourEngine.mergeLevels(maxTileCoord)
    // resume from the LATEST committed round
    val resume = (0 to levels).reverse.iterator
      .map(l => (l, Lake.latestFor(spark, lakeTable, s"round-$l")))
      .collectFirst { case (l, Some(snap)) => (l, snap) }
    var (l, state) = resume match {
      case Some((l0, snap)) => (l0, Lake.read(spark, snap).as[RingFragRow])
      case None =>
        val snap = Lake.commit(spark, lakeTable, kernelRows(tiles).toDF(), "round-0")
        (0, Lake.read(spark, snap).as[RingFragRow])
    }
    while (l < levels) {
      l += 1
      val next =
        if (l < levels) state.filter(_.closed).union(mergeOpen(state.filter(!_.closed)))
        else closeAll(state)
      state = Lake.read(spark, Lake.commit(spark, lakeTable, next.toDF(), s"round-$l")).as[RingFragRow]
    }
    state
  }

  private def maxTileCoordOf(kernelOut: Dataset[RingFragRow]): Int = {
    import org.apache.spark.sql.functions._
    val row = kernelOut.filter(_.ti == -1).toDF()
      .agg(max(greatest(col("bx"), col("by")))).head()
    if (row.isNullAt(0)) 0 else row.getInt(0)
  }

  /** Kernel + every merge round, the last included, with auto-derived round
    * count: all closed rings (and ti = -1 markers) of the input tiles.
    */
  def closedRingRows(tiles: Dataset[TileRow], hint: Option[Int] = None): Dataset[RingFragRow] =
    closeAll(closedOf(tiles, hint, cfg.smooth))

  /** The pre-final merge state of `tiles`. Without a hint the kernel output
    * is persisted+counted ONCE and the round count derived from its cached
    * ti = -1 markers — the no-hint path must never evaluate the dominant
    * decode+kernel stage twice. releaseCaches() drops that cache too.
    */
  private def closedOf(tiles: Dataset[TileRow], hint: Option[Int],
                       smooth: Boolean): Dataset[RingFragRow] =
    hint match {
      case Some(m) => closedRings(kernelOf(tiles, smooth), m)
      case None =>
        val ko = materialize(kernelOf(tiles, smooth))
        closedRings(ko, maxTileCoordOf(ko))
    }

  /** Contour polygons — the reference's `contours()` distributed. */
  def contours(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[ContourRow] =
    contoursFrom(closedOf(tiles, maxTileCoordHint, cfg.smooth))

  /** Assembly from the pre-final merge state of [[closedRings]]. */
  def contoursFrom(state: Dataset[RingFragRow]): Dataset[ContourRow] =
    ContourEngine.reduceRings(state, cfg) { (gid, t, rings) =>
      ContourRow(gid, t, Assembly.assembleContour(rings).map(p => PolyRow(p.exterior, p.holes)))
    }

  /** Isolines — the reference's `lines()` distributed. */
  def lines(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[LineRow] =
    linesFrom(closedOf(tiles, maxTileCoordHint, cfg.smooth))

  def linesFrom(state: Dataset[RingFragRow]): Dataset[LineRow] =
    ContourEngine.reduceRings(state, cfg)(LineRow)

  /** Raw rings in grid coordinates — the reference's `contour_rings`
    * (no smoothing or affine regardless of cfg).
    */
  def contourRings(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[RingsRow] =
    ContourEngine.reduceRings(closedOf(tiles, maxTileCoordHint, smooth = false),
      JobConfig(cfg.thresholds, smooth = false))(RingsRow)

  /** Isobands — the reference's `isobands()` distributed: each threshold's
    * rings are computed once and feed both adjacent bands (as upper/lower);
    * per band: dedup -> affine -> filter len>3 -> even-odd assembly.
    */
  def isobands(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[BandRow] = {
    require(thresholds.length >= 2, "Unexpected: isobands needs >= 2 thresholds")
    isobandsFrom(closedOf(tiles, maxTileCoordHint, cfg.smooth))
  }

  /** Band assembly from the pre-final merge state of [[closedRings]]. */
  def isobandsFrom(state: Dataset[RingFragRow]): Dataset[BandRow] = {
    val n = thresholds.length
    val ts = thresholds
    val (xs, ys, xo, yo) = (cfg.xStep, cfg.yStep, cfg.xOrigin, cfg.yOrigin)
    val ident = cfg.isIdentityAffine
    // Bands are assembled in CHUNKS of K consecutive bands per group: a
    // threshold's rows (rings and open fragments) feed its bands ti - 1 and
    // ti, so at most two chunks (vs two bands) — the band shuffle ships
    // ~(1 + 1/K)x the ring bytes instead of 2x, and the last merge round and
    // dedup/affine run once per chunk, not per band (a boundary threshold
    // is merged in both its chunks, to the same rings). Each tile's ti = -1
    // marker goes to every chunk so every group exists — empty bands fall
    // out of the same shuffle. Parallelism is grids x ceil((n-1)/K) groups.
    val K = 4
    val numChunks = (n - 2) / K + 1
    state.flatMap { r =>
      val chunks = if (r.ti < 0) (0 until numChunks).iterator
        else Iterator(r.ti - 1, r.ti).filter(b => b >= 0 && b <= n - 2).map(_ / K).distinct
      chunks.map(ChunkRow(_, r))
    }.groupByKey(r => (r.row.gridId, r.chunk))(GridKeyEnc)
      .flatMapGroups { (key: (String, Int), it: Iterator[ChunkRow]) =>
        val (gid, chunk) = key
        val bLo = chunk * K
        val bHi = math.min(bLo + K, n - 1) // exclusive band end
        val byTi = Array.fill(bHi - bLo + 1)(new ArrayBuffer[RingFragRow]())
        it.foreach { r => if (r.row.ti >= 0) byTi(r.row.ti - bLo) += r.row }
        // per threshold: last merge round + closure-order sort, dedup,
        // affine, length filter — computed ONCE and shared read-only by the
        // two adjacent bands
        val ringsByTi: Array[Array[Array[Double]]] = Array.tabulate(byTi.length) { i =>
          ContourEngine.closeRings(gid, bLo + i, ts(bLo + i), byTi(i).iterator).iterator.map { r =>
            val deduped = Assembly.dedupAdjacent(r.pts)
            if (!ident) {
              val cpy = if (deduped eq r.pts) r.pts.clone() else deduped
              Assembly.applyAffine(cpy, xs, ys, xo, yo)
              cpy
            } else deduped
          }.filter(_.length / 2 > 3).toArray
        }
        (bLo until bHi).iterator.map { b =>
          val rings = ringsByTi(b - bLo) ++ ringsByTi(b + 1 - bLo)
          BandRow(gid, ts(b), ts(b + 1),
            Assembly.assembleBand(ArraySeq.unsafeWrapArray(rings)).map(p => PolyRow(p.exterior, p.holes)))
        }
      }
  }

  /** GeoJSON features per grid, ordered by threshold — for appending to the
    * document table as new text spans.
    */
  def contourFeatures(contours: Dataset[ContourRow]): Dataset[(String, Seq[String])] = {
    import spark.implicits._
    contours.groupByKey(_.gridId).mapGroups { (gid: String, it: Iterator[ContourRow]) =>
      val feats = it.toArray.sortBy(_.threshold).map { c =>
        GeoJson.contourFeature(ContourResult(c.threshold,
          c.polygons.map(p => Poly(p.exterior, p.holes))))
      }
      (gid, feats.toSeq)
    }
  }
}

object ContourEngine {

  // Encoders derived once per JVM: `spark.implicits._` would derive them
  // again by Scala reflection on the driver thread at every call.
  private[engine] implicit val RingFragEnc: Encoder[RingFragRow] = Encoders.product[RingFragRow]
  private[engine] implicit val ContourEnc: Encoder[ContourRow] = Encoders.product[ContourRow]
  private[engine] implicit val LineEnc: Encoder[LineRow] = Encoders.product[LineRow]
  private[engine] implicit val RingsEnc: Encoder[RingsRow] = Encoders.product[RingsRow]
  private[engine] implicit val BandEnc: Encoder[BandRow] = Encoders.product[BandRow]
  private[engine] implicit val ChunkEnc: Encoder[ChunkRow] = Encoders.product[ChunkRow]
  private val GridKeyEnc: Encoder[(String, Int)] = Encoders.product[(String, Int)]
  private val BlockKeyEnc: Encoder[(String, Int, Long)] = Encoders.product[(String, Int, Long)]

  /** Band-shuffle row of isobandsFrom: `row` bound for band chunk `chunk`. */
  final case class ChunkRow(chunk: Int, row: RingFragRow)

  /** The kernel's view of a stored tile: its owned samples and cells, plus
    * the virtual border cells (-1) of a tile on the grid's left/top edge.
    */
  def tileSpec(t: TileRow): Tiling.TileSpec =
    Tiling.TileSpec(t.tileX, t.tileY, t.sx0, t.sy0, t.tw, t.th,
      t.sx0, t.sy0, t.vw, t.vh,
      if (t.sx0 == 0) -1 else t.sx0, t.sx0 + t.tw - 1,
      if (t.sy0 == 0) -1 else t.sy0, t.sy0 + t.th - 1)

  /** One tile's kernel output for every threshold index `ti`: closed rings
    * (block (0, 0)) and open boundary fragments at the tile's own block
    * (tileX, tileY).
    */
  def tileRows(t: TileRow, ts: Array[Double], smooth: Boolean): Iterator[RingFragRow] = {
    val outs = Tiling.tileKernelMulti(t.values, tileSpec(t), t.gdx, t.gdy, ts, smooth)
    ts.indices.iterator.flatMap { ti =>
      val out = outs(ti)
      out.rings.iterator.map(r =>
        RingFragRow(t.gridId, ti, closed = true, 0, 0, 0L, 0L, r.maxKey, 0, r.pts)) ++
        out.frags.iterator.map(f =>
          RingFragRow(t.gridId, ti, closed = false, t.tileX, t.tileY,
            f.startKey, f.endKey, f.maxKey, f.anchorPos, f.pts))
    }
  }

  /** Stitch one group's open fragments: the rings that close (block
    * (0, 0)) followed by the fragments still open, at block (bx, by).
    * FragmentMerge is arrival-order independent, so any grouping of the
    * same fragments yields the same rings.
    */
  def mergeRows(gid: String, ti: Int, bx: Int, by: Int,
                open: Iterator[RingFragRow]): Array[RingFragRow] = {
    val res = FragmentMerge.merge(
      open.map(r => OpenFrag(r.pts, r.startKey, r.endKey, r.maxKey, r.anchorPos)).toSeq)
    (res.rings.iterator.map(cr =>
      RingFragRow(gid, ti, closed = true, 0, 0, 0L, 0L, cr.maxKey, 0, cr.pts)) ++
      res.open.iterator.map(f =>
        RingFragRow(gid, ti, closed = false, bx, by, f.startKey, f.endKey, f.maxKey, f.anchorPos, f.pts))
    ).toArray
  }

  /** The last merge round of one (grid, threshold index `ti`) group, given
    * all its rows: stitch the open fragments, fail loudly if any stay open,
    * and return every ring (arrived closed or closed here) in closure
    * (maxKey) order. Rows without points (backfill synthetics) are dropped.
    */
  def closeRings(gid: String, ti: Int, threshold: Double,
                 rows: Iterator[RingFragRow]): Array[RingFragRow] = {
    val (closed, open) = rows.filter(r => !r.closed || r.pts.nonEmpty).toArray.partition(_.closed)
    val merged = if (open.isEmpty) open else mergeRows(gid, ti, 0, 0, open.iterator)
    val left = merged.count(!_.closed)
    if (left > 0)
      throw new IllegalStateException(
        s"$left fragments failed to close for grid=$gid threshold=$threshold ti=$ti")
    (closed ++ merged).sortBy(_.maxKey)
  }

  /** Merge rounds for tile coordinates up to `maxTileCoord`: one bit per
    * round, but a single global round for <= 8x8 tiles per grid, where the
    * hierarchy costs more sequential stages than it saves.
    */
  def mergeLevels(maxTileCoord: Int): Int =
    if (maxTileCoord <= 7) 1
    else math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxTileCoord)))

  /** The ring reducer shared by contours, lines and raw rings: per (grid,
    * threshold) group, the last merge round (closeRings, closure-order sort
    * included), cfg's affine transform in place (unless identity), then
    * `assemble`. Every (grid, ti in 0..n-1) group exists: each ti < 0
    * marker fans out to a copy per threshold index, whose empty pts
    * (impossible for a real ring) closeRings drops — so ring-less
    * thresholds get the reference's empty geometry from the SAME shuffle,
    * with no driver collect and no extra stage.
    */
  private def reduceRings[T: Encoder](state: Dataset[RingFragRow], cfg: JobConfig)(
      assemble: (String, Double, Seq[Array[Double]]) => T): Dataset[T] = {
    val ts = cfg.thresholds.toArray
    val (xs, ys, xo, yo) = (cfg.xStep, cfg.yStep, cfg.xOrigin, cfg.yOrigin)
    val ident = cfg.isIdentityAffine
    state.flatMap(r => if (r.ti >= 0) Iterator.single(r) else ts.indices.iterator.map(ti => r.copy(ti = ti)))
      .groupByKey(r => (r.gridId, r.ti))(GridKeyEnc)
      .mapGroups { (key: (String, Int), it: Iterator[RingFragRow]) =>
        val (gid, ti) = key
        val rings = closeRings(gid, ti, ts(ti), it).map { r =>
          if (!ident) Assembly.applyAffine(r.pts, xs, ys, xo, yo)
          r.pts
        }
        assemble(gid, ts(ti), ArraySeq.unsafeWrapArray(rings))
      }
  }
}
