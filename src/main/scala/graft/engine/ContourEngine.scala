package graft.engine

import graft.core._
import graft.model._
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

/** The distributed contour pipeline over typed Datasets:
  *
  *   tiles --flatMap (narrow)--> per-(tile, threshold) marching-squares
  *   kernel (closed rings + open boundary fragments)
  *   --O(log tiles) hash-partitioned shuffle rounds keyed by hierarchical
  *   2^l x 2^l spatial blocks--> cross-tile ring closure
  *   --shuffle by (gridId, threshold)--> assembly reducer (closure-order
  *   sort, affine, hole nesting / even-odd bands).
  *
  * Scale notes: the kernel stage is embarrassingly parallel and dominates
  * cost; shuffled bytes are only contour boundary fragments (proportional to
  * isoline length crossing tile borders, not raster size). Each merge round
  * halves the number of open blocks; fragments per group are bounded by the
  * block perimeter. AQE coalesces the small later rounds.
  *
  * Output rings are byte-identical to the reference's single-threaded
  * output (order and rotation included) — see Stitcher/FragmentMerge.
  * Each step (kernel rows, merge rows, round count, ring reducer) is
  * written once on the companion object; the streaming and SQL paths call
  * the same functions.
  */
final class ContourEngine(spark: SparkSession, cfg: JobConfig) {
  import spark.implicits._

  private val thresholds: Array[Double] = cfg.thresholds.toArray

  // Every dataset this engine persists. Intermediate merge rounds are
  // unpersisted as soon as the next round materializes (see
  // closedRingsImpl); the caches that back the RETURNED lazy Datasets
  // (kernel output, last persisted merge round) must live until the caller's
  // action completes — callers release them afterwards via releaseCaches().
  private val tracked = ArrayBuffer[Dataset[_]]()
  private def track[T](d: Dataset[T]): Dataset[T] =
    synchronized { tracked += d; d }
  private def release(d: Dataset[_]): Unit = synchronized {
    d.unpersist(blocking = false); tracked -= d
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

  /** Iterative boundary-stitch fixpoint: level l groups open fragments by
    * (grid, threshold, tileX >> l, tileY >> l) and merges within the block.
    * `maxTileCoord` bounds the number of rounds; the final round merges
    * globally per (grid, threshold), so every ring must close there.
    */
  def closedRings(kernelOut0: Dataset[RingFragRow], maxTileCoord: Int): Dataset[RingFragRow] =
    closedRingsImpl(kernelOut0, maxTileCoord, prePersisted = false)

  private def closedRingsImpl(kernelOut0: Dataset[RingFragRow], maxTileCoord: Int,
                              prePersisted: Boolean): Dataset[RingFragRow] = {
    // ONE eager barrier: the kernel cache feeds several downstream
    // shuffles, which the DAG scheduler may launch concurrently — without
    // the barrier the dominant decode+kernel stage races a double compute.
    val kernelOut =
      if (prePersisted) kernelOut0
      else {
        val p = track(kernelOut0.persist(StorageLevel.MEMORY_AND_DISK))
        p.count()
        p
      }
    val levels = ContourEngine.mergeLevels(maxTileCoord)
    // Merge rounds are ROLLED FORWARD: round l's state = every cross-tile
    // closed ring found in rounds 1..l plus the still-open fragments.
    // Intermediate states (l < levels) persist eagerly (one count) and the
    // PREVIOUS round's cache is unpersisted right after — memory held by
    // the merge hierarchy stays O(one round's state), not O(sum of rounds).
    // The count barrier only exists on deep hierarchies; the levels == 1
    // fast path (the common bench shape) keeps the single kernel barrier
    // and zero extra stages. Kernel-closed rings never re-ship: they stay
    // in the kernel cache and join the result union directly.
    val kernelClosed = kernelOut.filter(_.closed)
    var state: Dataset[RingFragRow] = null // persisted mixed state of rounds >= 1
    var l = 1
    while (l <= levels) {
      val open = if (state == null) kernelOut.filter(!_.closed) else state.filter(!_.closed)
      val prevClosed = if (state == null) spark.emptyDataset[RingFragRow] else state.filter(_.closed)
      val next = prevClosed.union(mergeOpen(open, l, levels))
      if (l < levels) {
        val p = track(next.persist(StorageLevel.MEMORY_AND_DISK))
        p.count()
        if (state != null) release(state)
        state = p
      } else {
        // final round: a single consumer (the caller's one action) — lazy,
        // reading the kernel cache / the last persisted round
        state = next
      }
      l += 1
    }
    kernelClosed.union(state.filter(_.closed))
  }

  /** Merge round `level` of `levels`: group open fragments by blocks one
    * bit coarser than their input coords (round l's input coords are
    * already level-(l-1) block coords, so tileX >> l overall) and stitch
    * within each block. The final round merges globally per (grid,
    * threshold) — shift 31 zeroes every non-negative coordinate — and
    * fails loudly if anything stays open.
    */
  private def mergeOpen(open: Dataset[RingFragRow], level: Int,
                        levels: Int): Dataset[RingFragRow] = {
    val isFinal = level == levels
    val shift = if (isFinal) 31 else 1
    open.groupByKey(r => (r.gridId, r.ti,
        graft.index.CellIndex.parent(graft.index.CellIndex.morton(r.bx, r.by), shift)))
      .flatMapGroups { (key: (String, Int, Long), it: Iterator[RingFragRow]) =>
        val (gid, ti, cell) = key
        val out = ContourEngine.mergeRows(gid, ti,
          graft.index.CellIndex.mortonX(cell), graft.index.CellIndex.mortonY(cell), it)
        if (isFinal && out.exists(!_.closed))
          throw new IllegalStateException(
            s"${out.count(!_.closed)} fragments failed to close for grid=$gid ti=$ti")
        out.iterator
      }
  }

  /** Lake-checkpointed merge fixpoint with the same block hierarchy as
    * [[closedRings]]: round 0 = kernel output, round l = merge level l;
    * every round is committed as a snapshot of `lakeTable` (atomic
    * manifest, per-partition row metrics, lineage chain), and on restart
    * the latest completed round is read back and the fixpoint resumes
    * after it — so a failed long job never re-runs finished rounds. Each
    * round reads its input from the previous round's parquet, which
    * doubles as reliable materialization on a real cluster.
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
      val merged = mergeOpen(state.filter(!_.closed), l, levels)
      val snap = Lake.commit(spark, lakeTable,
        state.filter(_.closed).union(merged).toDF(), s"round-$l")
      state = Lake.read(spark, snap).as[RingFragRow]
    }
    state.filter(_.closed)
  }

  private def maxTileCoordOf(kernelOut: Dataset[RingFragRow]): Int = {
    import org.apache.spark.sql.functions._
    val row = kernelOut.filter(_.ti == -1).toDF()
      .agg(max(greatest(col("bx"), col("by")))).head()
    if (row.isNullAt(0)) 0 else row.getInt(0)
  }

  /** Kernel + merge with auto-derived round count: all closed rings (and
    * ti = -1 markers) of the input tiles.
    */
  def closedRingRows(tiles: Dataset[TileRow], hint: Option[Int] = None): Dataset[RingFragRow] =
    closedOf(tiles, hint, cfg.smooth)

  /** Persist+count the kernel output ONCE, then derive the round count from
    * the cached ti = -1 markers — the no-hint path must never evaluate the
    * dominant decode+kernel stage twice. Every cache is tracked by this
    * engine, so releaseCaches() drops it.
    */
  private def closedOf(tiles: Dataset[TileRow], hint: Option[Int],
                       smooth: Boolean): Dataset[RingFragRow] =
    hint match {
      case Some(m) => closedRings(kernelOf(tiles, smooth), m)
      case None =>
        val ko = track(kernelOf(tiles, smooth).persist(StorageLevel.MEMORY_AND_DISK))
        ko.count()
        closedRingsImpl(ko, maxTileCoordOf(ko), prePersisted = true)
    }

  /** Contour polygons — the reference's `contours()` distributed. */
  def contours(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[ContourRow] =
    contoursFrom(closedOf(tiles, maxTileCoordHint, cfg.smooth))

  /** Assembly from closed rings + ti = -1 markers (post-merge state). */
  def contoursFrom(closed: Dataset[RingFragRow]): Dataset[ContourRow] =
    ContourEngine.reduceRings(closed, cfg) { (gid, t, rings) =>
      ContourRow(gid, t, Assembly.assembleContour(rings).map(p => PolyRow(p.exterior, p.holes)))
    }

  /** Isolines — the reference's `lines()` distributed. */
  def lines(tiles: Dataset[TileRow], maxTileCoordHint: Option[Int] = None): Dataset[LineRow] =
    linesFrom(closedOf(tiles, maxTileCoordHint, cfg.smooth))

  def linesFrom(closed: Dataset[RingFragRow]): Dataset[LineRow] =
    ContourEngine.reduceRings(closed, cfg)(LineRow)

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

  def isobandsFrom(closed: Dataset[RingFragRow]): Dataset[BandRow] = {
    val n = thresholds.length
    val ts = thresholds
    val (xs, ys, xo, yo) = (cfg.xStep, cfg.yStep, cfg.xOrigin, cfg.yOrigin)
    val ident = cfg.isIdentityAffine
    // Bands are assembled in CHUNKS of K consecutive bands per group: a
    // threshold's rings feed at most two chunks (vs two bands), so the band
    // shuffle ships ~(1 + 1/K)x the ring bytes instead of 2x, and the
    // per-ring dedup/affine runs once per chunk instead of once per band.
    // Each tile's ti = -1 marker fans out to one synthetic EMPTY row per
    // chunk so every group exists — empty bands fall out of the same
    // shuffle. Parallelism stays grids x ceil((n-1)/K) groups.
    val K = 4
    val numChunks = (n - 2) / K + 1
    // rows: (gridId, chunk, ti, maxKey, pts)
    val chunkRings = closed.flatMap { r =>
      if (r.ti >= 0) {
        val out = new ArrayBuffer[(String, Int, Int, Long, Array[Double])](2)
        val cLo = if (r.ti - 1 >= 0) (r.ti - 1) / K else -1
        val cHi = if (r.ti <= n - 2) r.ti / K else -1
        if (cLo >= 0) out += ((r.gridId, cLo, r.ti, r.maxKey, r.pts))
        if (cHi >= 0 && cHi != cLo) out += ((r.gridId, cHi, r.ti, r.maxKey, r.pts))
        out.iterator
      } else
        (0 until numChunks).iterator.map(c =>
          (r.gridId, c, -1, Long.MinValue, Array.empty[Double]))
    }
    chunkRings
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, Long, Array[Double])]) =>
        val (gid, chunk) = key
        val bLo = chunk * K
        val bHi = math.min(bLo + K, n - 1) // exclusive band end
        val byTi = Array.fill(bHi - bLo + 1)(new ArrayBuffer[(Long, Array[Double])]())
        it.foreach { r => if (r._3 >= 0) byTi(r._3 - bLo) += ((r._4, r._5)) }
        // per threshold: closure-order sort, dedup, affine, length filter —
        // computed ONCE and shared read-only by the two adjacent bands
        val ringsByTi: Array[Seq[Array[Double]]] = byTi.map { rows =>
          rows.sortInPlaceBy(_._1)
          rows.iterator.map { case (_, pts) =>
            val deduped = Assembly.dedupAdjacent(pts)
            if (!ident) {
              val cpy = if (deduped eq pts) pts.clone() else deduped
              Assembly.applyAffine(cpy, xs, ys, xo, yo)
              cpy
            } else deduped
          }.filter(_.length / 2 > 3).toSeq
        }
        (bLo until bHi).iterator.map { b =>
          val rings = ringsByTi(b - bLo) ++ ringsByTi(b + 1 - bLo)
          BandRow(gid, ts(b), ts(b + 1),
            Assembly.assembleBand(rings).map(p => PolyRow(p.exterior, p.holes)))
        }
      }
  }

  /** GeoJSON features per grid, ordered by threshold — for appending to the
    * document table as new text spans.
    */
  def contourFeatures(contours: Dataset[ContourRow]): Dataset[(String, Seq[String])] = {
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

  /** Merge rounds for tile coordinates up to `maxTileCoord`: one bit per
    * round, but a single global round for <= 8x8 tiles per grid, where the
    * hierarchy costs more sequential stages than it saves.
    */
  def mergeLevels(maxTileCoord: Int): Int =
    if (maxTileCoord <= 7) 1
    else math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxTileCoord)))

  /** Every (grid, ti in 0..n-1) group is guaranteed to exist in the
    * assembly shuffle: real ring rows pass through, and each ti < 0 marker
    * fans out to one synthetic EMPTY row per threshold index (empty pts —
    * impossible for a real ring). The reducer skips the synthetics and so
    * emits the reference's empty geometry for ring-less thresholds from
    * the SAME shuffle — fully distributed backfill with zero extra stages
    * (no driver collect, no distinct/except barrier).
    */
  private def withPotentialKeys(closed: Dataset[RingFragRow], nKeys: Int): Dataset[RingFragRow] = {
    val spark = closed.sparkSession
    import spark.implicits._
    closed.flatMap { r =>
      if (r.ti >= 0) Iterator.single(r)
      else (0 until nKeys).iterator.map(ti =>
        RingFragRow(r.gridId, ti, closed = true, 0, 0, 0L, 0L, Long.MinValue, 0, Array.empty))
    }
  }

  /** The ring reducer shared by contours, lines and raw rings: per (grid,
    * threshold) group, skip empty rows, sort by closure order, apply cfg's
    * affine transform in place (unless identity), then `assemble`.
    */
  private def reduceRings[T: Encoder](closed: Dataset[RingFragRow], cfg: JobConfig)(
      assemble: (String, Double, Seq[Array[Double]]) => T): Dataset[T] = {
    val spark = closed.sparkSession
    import spark.implicits._
    val ts = cfg.thresholds.toArray
    val (xs, ys, xo, yo) = (cfg.xStep, cfg.yStep, cfg.xOrigin, cfg.yOrigin)
    val ident = cfg.isIdentityAffine
    withPotentialKeys(closed, ts.length)
      .groupByKey(r => (r.gridId, r.ti))
      .mapGroups { (key: (String, Int), it: Iterator[RingFragRow]) =>
        val rings = it.filter(_.pts.nonEmpty).toArray.sortBy(_.maxKey).map { r =>
          if (!ident) Assembly.applyAffine(r.pts, xs, ys, xo, yo)
          r.pts
        }
        assemble(key._1, ts(key._2), ArraySeq.unsafeWrapArray(rings))
      }
  }
}
