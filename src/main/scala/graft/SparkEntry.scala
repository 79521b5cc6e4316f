package graft

import graft.core.{Cases, Clip, GeoJson, MarchingSquares, Poly, ContourResult}
import graft.docs.DocCodec
import graft.engine.ContourEngine
import graft.model._
import graft.queries.{EventOps, EventsGrid, HullOps, HydroOps, MultimodalOps, RasterOps, RelOps, StatsOps, TrainingOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per operator family, each paired
  * (where SQL-expressible) with a DuckDB oracle over the same parquet
  * tables. Contour queries run the full distributed pipeline over a grid
  * derived deterministically from events.parquet (see EventsGrid), so the
  * oracle can recompute cell cases / segment totals in pure SQL.
  */
object SparkEntry {

  private def engine(spark: SparkSession, smooth: Boolean = true) =
    new ContourEngine(spark, JobConfig(EventsGrid.Thresholds, smooth = smooth))

  /** Visvalingam tolerance in the QUANTIZED doubled-area domain:
    * floor(0.01 * 2^20) — the keep/drop compare happens on integers on both
    * sides, so no FP tolerance can sit within an ulp of the decision.
    */
  private val SimplifyEps2Q = 10485L

  /** Isochrone cost thresholds (quantized travel costs — ~p30/p60/p90 of
    * the 8-hop field across all sfs), shared verbatim with the oracle.
    */
  private val IsoThresholds = Seq(20000.0, 50000.0, 100000.0)

  /** events grid -> interleaved doc table -> decode (codec always on path) */
  private def eventTiles(spark: SparkSession, dir: String): Dataset[TileRow] = {
    DocCodec.decode(DocCodec.encode(EventsGrid.tiles(spark, dir)))
  }

  // ---- shared contour feeds (optimization guide §2.4 / round-5 verdict
  //      item #1): the decoded tile set and the two assembled-contour
  //      variants are each ONE deterministic function of the parquet
  //      inputs, rebuilt before this round by ~15 contract queries.
  //      Feeds.shared computes each once per (session, dir); the first
  //      consumer pays the build inside its own timed region, and every
  //      frame is bit-identical to the per-query construction. ----

  /** The decoded event-grid tiles as a shared feed. */
  private def eventTilesF(spark: SparkSession, dir: String): Dataset[TileRow] = {
    import spark.implicits._
    graft.queries.Feeds.shared(spark, dir, "event_tiles") {
      eventTiles(spark, dir).toDF()
    }.as[TileRow]
  }

  /** The 3x3 focal-mean filtered field — shared by the fm contour and
    * fm isoband compositions.
    */
  private def fmCells(spark: SparkSession, dir: String)
      : Dataset[(Int, Int, Double)] = {
    import spark.implicits._
    graft.queries.Feeds.shared(spark, dir, "fm_cells") {
      val (w, h) = EventsGrid.dims(spark, dir)
      RasterOps.focalCellsTiledOf(
        RasterOps.baseCells(spark, dir).as[(Int, Int, Double)], w, h).toDF()
    }.as[(Int, Int, Double)]
  }

  /** Assembled SMOOTHED contours over the event grid (the default-config
    * pipeline shared by the moments/box/compactness/crossings/distance/
    * hausdorff/turning/clip consumers).
    */
  private def smoothContours(spark: SparkSession, dir: String): Dataset[ContourRow] =
    contourFeed(spark, dir, "contours_smooth", smooth = true)

  /** Assembled UNSMOOTHED contours (the pixel-center-exact variant shared
    * by the PIP/zonal/knn/rasterize consumers).
    */
  private def rawContours(spark: SparkSession, dir: String): Dataset[ContourRow] =
    contourFeed(spark, dir, "contours_raw", smooth = false)

  /** The feed is checkpointed once `Feeds.shared` returns, so the kernel and
    * merge-round caches the engine persisted to build it are dropped then.
    */
  private def contourFeed(spark: SparkSession, dir: String, name: String,
                          smooth: Boolean): Dataset[ContourRow] = {
    import spark.implicits._
    val eng = engine(spark, smooth)
    try graft.queries.Feeds.shared(spark, dir, name) {
      eng.contours(eventTilesF(spark, dir)).toDF()
    }.as[ContourRow]
    finally eng.releaseCaches()
  }

  private def thresholdsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    EventsGrid.Thresholds.toDF("threshold")
  }

  /** Clip window for q_clip_rings — interior fractional bounds (exactly
    * representable doubles) shared verbatim with the oracle SQL.
    */
  private val ClipX0 = 12.25
  private val ClipX1 = 87.75
  private val ClipY0 = 8.25
  private val ClipY1 = 73.75

  /** Per-threshold quantized vertex checksum of assembled contour polygons
    * (exteriors + holes) — shared by q_contours_stats and
    * q_pyramid_contours so the checksum contract lives in one place.
    */
  private def contourChecksumDf(spark: SparkSession,
                                contours: Dataset[ContourRow]): DataFrame = {
    import spark.implicits._
    contours.map { c =>
      val rings = c.polygons.iterator
        .flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
      val (n, qx, qy) = ringChecksum(rings)
      (c.threshold, n, qx, qy)
    }.toDF("threshold", "n_points", "qx_sum", "qy_sum")
      .orderBy("threshold")
  }

  /** Exact vertex-multiset checksum of a set of rings: every ring vertex
    * (closing duplicate dropped) is the start of exactly one directed
    * marching-squares segment, so (count, sum of floor(x*2^20), sum of
    * floor(y*2^20)) over ring vertices equals the same sums over
    * SQL-reconstructed segment-start points — exactly, because each
    * smoothed coordinate is produced by the identical f64 formula on both
    * sides and quantization happens per point (no float-order-dependent
    * sums cross the compare).
    */
  private def ringChecksum(rings: Iterator[Array[Double]]): (Long, Long, Long) = {
    var n = 0L; var qx = 0L; var qy = 0L
    rings.foreach { ring =>
      // drop the closing duplicate — conditionally, because the reference's
      // band-ring dedup can remove it (wrap segment collapsed by smoothing);
      // value-wise the trailing point then equals the first anyway, so the
      // multiset is unchanged either way
      val m0 = ring.length
      val m = if (m0 >= 4 && ring(0) == ring(m0 - 2) && ring(1) == ring(m0 - 1)) m0 - 2 else m0
      var i = 0
      while (i < m) {
        qx += math.floor(ring(i) * 1048576.0).toLong
        qy += math.floor(ring(i + 1) * 1048576.0).toLong
        n += 1
        i += 2
      }
    }
    (n, qx, qy)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val tiles = eventTiles(spark, "/root/testdata/sf0.001")
    engine(spark).contours(tiles).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- threshold classification: count of samples >= t (oracle: SQL) ----
    "q_threshold_class" -> ((spark, dir) => {
      import spark.implicits._
      val tiles = eventTilesF(spark, dir)
      val ts = EventsGrid.Thresholds
      val counts = tiles.flatMap { t =>
        // owned samples only (exclude halo)
        ts.iterator.map { th =>
          var n = 0L
          var r = 0
          while (r < t.th) {
            var c = 0
            while (c < t.tw) {
              if (t.values(r * t.vw + c) >= th) n += 1
              c += 1
            }
            r += 1
          }
          (th, n)
        }
      }.toDF("threshold", "n_partial")
      counts.groupBy("threshold").agg(sum("n_partial").as("n"))
        .join(thresholdsDf(spark), Seq("threshold"), "right")
        .na.fill(0L, Seq("n"))
        .select(col("threshold"), col("n").cast("long").as("n"))
        .orderBy("threshold")
    }),

    // ---- marching-squares cell-case histogram incl. virtual border ----
    "q_cell_case_hist" -> ((spark, dir) => {
      import spark.implicits._
      val tiles = eventTilesF(spark, dir)
      val ts = EventsGrid.Thresholds
      tiles.flatMap { t =>
        val s = ContourEngine.tileSpec(t)
        ts.iterator.flatMap { th =>
          val hist = MarchingSquares.caseHistogram(t.values, t.vw, t.vh, t.sx0, t.sy0,
            t.gdx, t.gdy, s.cx0, s.cx1, s.cy0, s.cy1, th)
          hist.iterator.zipWithIndex.filter(_._1 > 0L).map { case (n, c) => (th, c, n) }
        }
      }.toDF("threshold", "case_idx", "n_partial")
        .groupBy("threshold", "case_idx")
        .agg(sum("n_partial").cast("long").as("n"))
        .select(col("threshold"), col("case_idx").cast("long").as("case_idx"), col("n"))
        .orderBy("threshold", "case_idx")
    }),

    // ---- segment conservation: total stitched ring segments per threshold
    //      (engine: sum over closed rings of nPts-1; oracle: per-case segment
    //      counts summed in SQL) ----
    "q_segment_count" -> ((spark, dir) => {
      import spark.implicits._
      val tiles = eventTilesF(spark, dir)
      val eng = engine(spark, smooth = false)
      val closed = eng.closedRingRows(tiles)
      val ts = EventsGrid.Thresholds
      closed.filter(r => r.ti >= 0)
        .map(r => (ts(r.ti), r.pts.length.toLong / 2 - 1))
        .toDF("threshold", "segs")
        .groupBy("threshold").agg(sum("segs").as("segments"))
        .join(thresholdsDf(spark), Seq("threshold"), "right")
        .na.fill(0L, Seq("segments"))
        .select(col("threshold"), col("segments").cast("long").as("segments"))
        .orderBy("threshold")
    }),

    // ---- full contour pipeline (smooth=true): exact quantized vertex
    //      checksum over assembled polygons (exteriors + holes) ----
    "q_contours_stats" -> ((spark, dir) =>
      contourChecksumDf(spark, smoothContours(spark, dir))),

    // ---- contour length (smooth=true): total polyline length per
    //      threshold as an order-free integer sum of per-segment quantized
    //      f64 lengths (sqrt is correctly rounded, so each segment's
    //      length is deterministic on both sides of the compare) ----
    "q_contour_length" -> ((spark, dir) =>
      graft.engine.SpatialOps.contourLengthStats(
        spark, smoothContours(spark, dir))),

    // ---- shoelace moments (smooth=true): doubled signed area + centroid
    //      numerators per threshold as order-free integer sums of per-edge
    //      quantized f64 terms; degenerate edges contribute exactly 0 ----
    "q_contour_moments" -> ((spark, dir) =>
      graft.engine.SpatialOps.contourMomentStats(
        spark, smoothContours(spark, dir), EventsGrid.Thresholds)),

    // ---- box counting (smooth=true): occupied boxes at sides 1/2/4 over
    //      the ring vertex cloud; floor of power-of-two divisions keeps
    //      every box key exact on both compare sides ----
    "q_box_count" -> ((spark, dir) =>
      graft.engine.SpatialOps.boxCountStats(
        spark, smoothContours(spark, dir), EventsGrid.Thresholds)),

    // ---- isoperimetric compactness (smooth=true): A/P^2 per threshold
    //      as one fused pass over the ring edges — area cross terms and
    //      segment lengths quantize exactly like the moments/length
    //      operators, one truncating decimal division at the end ----
    "q_compactness" -> ((spark, dir) =>
      graft.engine.SpatialOps.compactnessStats(
        spark, smoothContours(spark, dir), EventsGrid.Thresholds)),

    // ---- one-pass Visvalingam simplification (smooth=true): per-vertex
    //      effective triangle area vs its ring neighbours, KEEP decided in
    //      the quantized integer domain (tolerance = SimplifyEps2Q) ----
    "q_simplify_stats" -> ((spark, dir) =>
      graft.engine.SpatialOps.simplifyStats(
        spark, smoothContours(spark, dir),
        EventsGrid.Thresholds, SimplifyEps2Q)),

    // ---- overview contouring: the full contour pipeline over the
    //      pyramid's level-1 grid (zoom-out vector tiles) ----
    "q_pyramid_contours" -> ((spark, dir) => {
      val (cells, w, h) = RasterOps.level1Cells(spark, dir)
      val tiles = EventsGrid.tilesFromCells(spark, cells, "pyr1", w, h, 25, 25)
      contourChecksumDf(spark, engine(spark).contours(tiles))
    }),

    // ---- isobands over the pyramid's level-1 overview grid: the
    //      zoom-out counterpart of q_fm_isobands — the band path
    //      (dedup, even-odd assembly) behind the 2x2 mean pooling ----
    "q_pyramid_isobands" -> ((spark, dir) => {
      import spark.implicits._
      val (cells, w, h) = RasterOps.level1Cells(spark, dir)
      val tiles = EventsGrid.tilesFromCells(spark, cells, "pyrb", w, h, 25, 25)
      engine(spark).isobands(tiles)
        .map { b =>
          val rings = b.polygons.iterator
            .flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
          val (n, qx, qy) = ringChecksum(rings)
          (b.minV, b.maxV, n, qx, qy)
        }
        .toDF("min_v", "max_v", "n_points", "qx_sum", "qy_sum")
        .orderBy("min_v")
    }),

    // ---- low-pass contouring: the full contour pipeline over the 3x3
    //      focal-mean filtered field (smoothed vector tiles — the standard
    //      pre-filter before contouring noisy rasters); the filtered grid
    //      re-origins to (w-2) x (h-2) through the zero-shuffle tiled
    //      kernel, RAW f64, then routes into the unchanged engine ----
    "q_fm_contours" -> ((spark, dir) => {
      import spark.implicits._
      val (w, h) = EventsGrid.dims(spark, dir)
      val fm = fmCells(spark, dir)
      val tiles = EventsGrid.tilesFromCells(spark, fm, "fm", w - 2, h - 2, 25, 25)
      contourChecksumDf(spark, engine(spark).contours(tiles))
    }),

    // ---- median-filtered isolines: the fm_contours genus with the
    //      NONLINEAR pre-filter (speckle suppression — impulse noise
    //      never smears into neighbors); the median is order statistics,
    //      so the filtered field is bit-exact against the oracle's
    //      list_sort pick with no association-tree contract needed.
    //      Deliberately the LINES path, not contours: the median passes
    //      raw samples through, so the field can equal a threshold
    //      EXACTLY and rings can collapse to zero area under smoothing —
    //      the contours path then drops collapsed rings no exterior
    //      contains (the reference's unmatched-hole rule,
    //      contourbuilder.rs:199-213; the engine handles it, verified
    //      bit-equal to CoreContour.contours on this very field at
    //      sf0.1), a ring-grouping + containment decision the checksum
    //      oracle cannot express without the full ring-walk. lines()
    //      keeps every smoothed ring — no assembly, no data-dependent
    //      drop — so the start-only reconstruction stays EXACT on
    //      plateau fields ----
    "q_med_contours" -> ((spark, dir) => {
      import spark.implicits._
      val (w, h) = EventsGrid.dims(spark, dir)
      val md = RasterOps.medianCellsTiledOf(
        RasterOps.baseCells(spark, dir).as[(Int, Int, Double)], w, h)
      val tiles = EventsGrid.tilesFromCells(spark, md, "md", w - 2, h - 2, 25, 25)
      engine(spark).lines(tiles)
        .map { l =>
          val (n, qx, qy) = ringChecksum(l.lines.iterator)
          (l.threshold, n, qx, qy)
        }
        .toDF("threshold", "n_points", "qx_sum", "qy_sum")
        .orderBy("threshold")
    }),

    // ---- isochrone contours: the full contour pipeline COMPOSED over the
    //      8-hop cost-distance field (weighted travel-cost rings — the
    //      drive-time-polygon product); the cost field is exact integers
    //      as f64, unreached cells carry the CostInf sentinel level ----
    "q_isochrone" -> ((spark, dir) => {
      import spark.implicits._
      val (w, h) = EventsGrid.dims(spark, dir)
      val cost = RasterOps.costCellsOf(
        RasterOps.baseCells(spark, dir).as[(Int, Int, Double)], w, h)
      val tiles = EventsGrid.tilesFromCells(spark, cost, "isoc", w, h, 25, 25)
      val eng = new ContourEngine(spark, JobConfig(IsoThresholds, smooth = true))
      contourChecksumDf(spark, eng.contours(tiles))
    }),

    // ---- full Douglas–Peucker simplification through the distributed
    //      wrapper (rows-only contract: the recursion's data-dependent
    //      branching is not SQL-expressible — DP is the one deliberate
    //      exception to the oracle rule, and its exactness is covered by
    //      SimplifySpec's property suite + the in-order-subset contract) ----
    "q_simplify_dp" -> ((spark, dir) => {
      import spark.implicits._
      val cts = smoothContours(spark, dir)
      val simplified = graft.engine.SpatialOps.simplifyContours(cts, eps = 0.05)
      // join on the FULL ContourRow key (gridId, threshold): the contract
      // input is single-grid, but a multi-grid composition through this
      // query must pair each grid with its own simplification, not
      // cross-product rows per threshold
      cts.joinWith(simplified,
          cts("gridId") === simplified("gridId") &&
            cts("threshold") === simplified("threshold"))
        .map { case (a, b) =>
          def nv(c: ContourRow) = c.polygons.iterator
            .flatMap(p => (p.exterior +: p.holes).iterator).map(_.length / 2 - 1).sum.toLong
          def nr(c: ContourRow) = c.polygons.iterator.map(1L + _.holes.length).sum
          (a.threshold, nr(a), nv(a), nr(b), nv(b))
        }
        .toDF("threshold", "n_rings", "n_vertices", "n_rings_dp", "n_vertices_dp")
        .orderBy("threshold")
    }),

    // ---- contour extent (ST_Extent analog): per-threshold bounding box of
    //      every ring vertex in the quantized domain (min/max/count are
    //      order-free); thresholds with no rings emit no row on either side ----
    "q_contour_extent" -> ((spark, dir) => {
      import spark.implicits._
      smoothContours(spark, dir)
        .flatMap { c =>
          var n = 0L
          var mnx = Long.MaxValue; var mxx = Long.MinValue
          var mny = Long.MaxValue; var mxy = Long.MinValue
          c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).foreach { ring =>
            var i = 0
            val m = ring.length - 2 // closing duplicate
            while (i < m) {
              val qx = math.floor(ring(i) * 1048576.0).toLong
              val qy = math.floor(ring(i + 1) * 1048576.0).toLong
              if (qx < mnx) mnx = qx
              if (qx > mxx) mxx = qx
              if (qy < mny) mny = qy
              if (qy > mxy) mxy = qy
              n += 1
              i += 2
            }
          }
          if (n == 0) None else Some((c.threshold, n, mnx, mxx, mny, mxy))
        }
        .toDF("threshold", "n_points", "qxmin", "qxmax", "qymin", "qymax")
        .orderBy("threshold")
    }),

    // ---- point density (heatmap binning): events into 10x10 superpixels,
    //      count + order-free quantized value sum per bin ----
    "q_point_density" -> ((spark, dir) => {
      val (w, _) = EventsGrid.dims(spark, dir)
      graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr(s"cast((event_id % $w) div 10 as long) as bx",
          s"cast((event_id div $w) div 10 as long) as by",
          "floor(value * 1048576.0) as qv")
        .groupBy("bx", "by")
        .agg(count(lit(1)).as("n"), sum("qv").as("qsum"))
        .orderBy("bx", "by")
    }),

    // ---- isolines (smooth=true): same checksum through the lines path ----
    "q_lines_stats" -> ((spark, dir) => {
      import spark.implicits._
      engine(spark).lines(eventTilesF(spark, dir))
        .map { l =>
          val (n, qx, qy) = ringChecksum(l.lines.iterator)
          (l.threshold, n, qx, qy)
        }
        .toDF("threshold", "n_points", "qx_sum", "qy_sum")
        .orderBy("threshold")
    }),

    // ---- isobands (smooth=true): per-band quantized vertex checksum ----
    "q_isobands_stats" -> ((spark, dir) => {
      import spark.implicits._
      engine(spark).isobands(eventTilesF(spark, dir))
        .map { b =>
          val rings = b.polygons.iterator
            .flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
          val (n, qx, qy) = ringChecksum(rings)
          (b.minV, b.maxV, n, qx, qy)
        }
        .toDF("min_v", "max_v", "n_points", "qx_sum", "qy_sum")
        .orderBy("min_v")
    }),

    // ---- isobands over the focal-mean field: the fm_contours
    //      composition through the BAND path (chunked band shuffle,
    //      dedup, even-odd assembly) — smoothed vector-tile bands ----
    "q_fm_isobands" -> ((spark, dir) => {
      import spark.implicits._
      val (w, h) = EventsGrid.dims(spark, dir)
      val fm = fmCells(spark, dir)
      val tiles = EventsGrid.tilesFromCells(spark, fm, "fmb", w - 2, h - 2, 25, 25)
      engine(spark).isobands(tiles)
        .map { b =>
          val rings = b.polygons.iterator
            .flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
          val (n, qx, qy) = ringChecksum(rings)
          (b.minV, b.maxV, n, qx, qy)
        }
        .toDF("min_v", "max_v", "n_points", "qx_sum", "qy_sum")
        .orderBy("min_v")
    }),

    // NOTE deliberately ABSENT: isobands over the MEDIAN field. Tried
    // and declined: on the sf0.1 plateau field (median passes raw
    // samples through, and raw values collide with the 25/50/75 ladder)
    // a band ring dedups below 4 points, tripping the engine's
    // reference-mandated `len > 3` drop (ContourEngine.isobandsFrom) —
    // the oracle's per-segment collapse model verified the remaining
    // mismatch is EXACTLY one dropped ring per affected band (4 points),
    // and modeling the drop in SQL needs per-ring kept-point counts,
    // i.e. the full ring-walk grouping. Mean/pyramid fields never
    // plateau, so their band compositions stay exactly oracled above.

    // ---- contour topology: ring nesting-depth histogram over the raw
    //      ring graph (y-bucketed crossing join; oracle derives rings,
    //      canonical vertices AND edge coords purely from the packed
    //      segment keys — no smoothing CTE at all) ----
    "q_ring_depth" -> ((spark, dir) =>
      graft.engine.SpatialOps.ringDepthHist(
        engine(spark).contourRings(eventTilesF(spark, dir)))),

    // ---- raw contour_rings (grid coords, no smoothing): exact integer
    //      doubled-coordinate sums (plus a cross moment) ----
    "q_contour_rings_stats" -> ((spark, dir) => {
      import spark.implicits._
      engine(spark).contourRings(eventTilesF(spark, dir))
        .map { r =>
          var n = 0L; var sx = 0L; var sy = 0L; var sxy = 0L
          r.rings.foreach { ring =>
            val m = ring.length - 2 // drop the closing duplicate
            var i = 0
            while (i < m) {
              val tx = (ring(i) * 2.0).toLong
              val ty = (ring(i + 1) * 2.0).toLong
              sx += tx; sy += ty; sxy += tx * ty; n += 1
              i += 2
            }
          }
          (r.threshold, n, sx, sy, sxy)
        }
        .toDF("threshold", "n_points", "sum_2x", "sum_2y", "sum_2x2y")
        .orderBy("threshold")
    }),

    // ---- GeoJSON feature content: per-ring properties of exactly what
    //      contourFeature serializes (every exterior + hole ring of the
    //      feature's MultiPolygon), rank-ordered by the order-insensitive
    //      (n_points, qx_sum, qy_sum) triple so the DuckDB oracle — which
    //      reconstructs ring GROUPING by walking the directed segment
    //      graph (successor pointer-doubling), not just the vertex
    //      multiset — can reproduce every row. The byte-level
    //      serialization itself stays golden-tested (all three reference
    //      doctest prefixes + md5 in CoreContourSpec); serialization is
    //      exercised here too: the ring set is parsed back OUT of the
    //      emitted GeoJSON string, so a serializer regression (dropped
    //      ring, reordered coordinates) fails the oracle compare. ----
    "q_geojson" -> ((spark, dir) => {
      import spark.implicits._
      val cts = smoothContours(spark, dir)
      cts.flatMap { c =>
        val feat = GeoJson.contourFeature(ContourResult(c.threshold,
          c.polygons.map(p => Poly(p.exterior, p.holes))))
        GeoJson.parseFeatureRings(feat).map { ring =>
          val (n, qx, qy) = ringChecksum(Iterator.single(ring))
          (c.threshold, n, qx, qy)
        }
      }.toDF("threshold", "n_points", "qx_sum", "qy_sum")
        .withColumn("ring_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("threshold")
            .orderBy("n_points", "qx_sum", "qy_sum")).cast("long"))
        .select("threshold", "ring_rank", "n_points", "qx_sum", "qy_sum")
        .orderBy("threshold", "ring_rank")
    }),

    // ---- bbox clip of every assembled contour ring (vector-tile cut):
    //      the engine runs core.Clip's four-stage Sutherland–Hodgman over
    //      each smoothed ring (a narrow flatMap after assembly — no new
    //      shuffle; the rollup groups by the threshold-cardinality key);
    //      the oracle re-derives ring ORDER by a recursive walk of the
    //      segment graph and replays the same four stages in window SQL ----
    "q_clip_rings" -> ((spark, dir) => {
      import spark.implicits._
      val cts = smoothContours(spark, dir)
      cts.flatMap { c =>
        c.polygons.iterator
          .flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
          .map { ring =>
            val out = Clip.clipRingBox(Clip.openRing(ring),
              ClipX0, ClipX1, ClipY0, ClipY1)
            var qx = 0L; var qy = 0L; var i = 0
            while (i < out.length) {
              qx += math.floor(out(i) * 1048576.0).toLong
              qy += math.floor(out(i + 1) * 1048576.0).toLong
              i += 2
            }
            (c.threshold, 1L, if (out.length >= 6) 1L else 0L,
              (out.length / 2).toLong, qx, qy)
          }.toSeq
      }.toDF("threshold", "one", "kept", "nv", "qx", "qy")
        .groupBy("threshold")
        .agg(sum("one").as("n_rings_in"), sum("kept").as("n_rings_kept"),
          sum("nv").as("n_vertices"), sum("qx").as("qx_sum"), sum("qy").as("qy_sum"))
        .orderBy("threshold")
    }),

    // ---- span-sequence invariant through append ----
    "q_span_invariant" -> ((spark, dir) => {
      import spark.implicits._
      val docs = DocCodec.encode(EventsGrid.tiles(spark, dir))
      val eng = engine(spark)
      val cts = eng.contours(DocCodec.decode(docs))
      val out = DocCodec.appendFeatures(docs, eng.contourFeatures(cts))
      val nViolations = DocCodec.spanInvariantViolations(docs, out).count()
      val nDocs = out.count()
      Seq((nDocs, nViolations, nViolations == 0)).toDF("n_docs", "n_violations", "ok")
    }),

    // ---- point-in-polygon tag join against the engine's own contours ----
    // Samples behave as unit pixels; the unsmoothed marching-squares curve
    // separates PIXEL CENTERS, so the center (x+0.5, y+0.5) is inside the
    // threshold-t MultiPolygon (even-odd over all rings) EXACTLY iff
    // value(x, y) >= t — which is what the DuckDB oracle checks relationally.
    "q_pip_tag" -> ((spark, dir) => {
      import spark.implicits._
      val cts = rawContours(spark, dir)
      val (w, _) = EventsGrid.dims(spark, dir)
      val points = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr("event_id", s"cast(event_id % $w as double) + 0.5 as x",
          s"cast(event_id div $w as double) + 0.5 as y")
        .as[(Long, Double, Double)]
      // y-band cogroup of ring segments and points (nothing collected)
      graft.engine.SpatialOps.pipTagPartitioned(spark, points, cts)
        .orderBy("point_id", "threshold")
    }),

    // ---- zonal statistics: per-threshold-zone aggregates of the raster,
    //      zones = the engine's own contour MultiPolygons, containment by
    //      the partitioned PIP join; values quantized per cell so every
    //      aggregate is an order-free integer. The oracle uses the same
    //      pixel-center identity as q_pip_tag (center inside the unsmoothed
    //      curve iff value >= threshold), so the whole geometric chain is
    //      checked relationally. ----
    "q_zonal_stats" -> ((spark, dir) => {
      import spark.implicits._
      val cts = rawContours(spark, dir)
      val (w, _) = EventsGrid.dims(spark, dir)
      val events = graft.queries.Feeds.table(spark, dir, "events.parquet")
      val points = events
        .selectExpr("event_id", s"cast(event_id % $w as double) + 0.5 as x",
          s"cast(event_id div $w as double) + 0.5 as y")
        .as[(Long, Double, Double)]
      val values = events.select(col("event_id").as("point_id"),
        floor(col("value") * 1048576.0).as("qv"))
      graft.engine.SpatialOps.zonalStats(spark, points, cts, values)
    }),

    // ---- zonal statistics OF THE SLOPE raster inside the engine's own
    //      contour zones — terrain analysis composed with vectorization:
    //      values = per-cell quantized Horn slope via the halo-tiled
    //      kernel (zero raster shuffle), zones = unsmoothed contour
    //      MultiPolygons via the partitioned PIP join, points = interior
    //      cell centers (slope's domain). Oracle: the pixel-center
    //      identity over the slot-join slope reconstruction. ----
    "q_zonal_slope" -> ((spark, dir) => {
      import spark.implicits._
      val cts = rawContours(spark, dir)
      val (w, h) = EventsGrid.dims(spark, dir)
      val points = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr("event_id", s"cast(event_id % $w as int) as ix",
          s"cast(event_id div $w as int) as iy")
        .filter(col("ix") >= 1 && col("ix") <= w - 2
          && col("iy") >= 1 && col("iy") <= h - 2)
        .selectExpr("event_id", "cast(ix as double) + 0.5 as x",
          "cast(iy as double) + 0.5 as y")
        .as[(Long, Double, Double)]
      val values = RasterOps.slopeCellsTiledOf(
        RasterOps.baseCells(spark, dir).as[(Int, Int, Double)], w, h)
      graft.engine.SpatialOps.zonalStats(spark, points, cts, values)
    }),

    // ---- nearest-contour-segment distance (ST_Distance / ST_DWithin):
    //      per sampled point and threshold, segments of the SMOOTHED
    //      contours within radius 8 + exact quantized squared distance to
    //      the closest one, via the cell-bucketed neighbor join (oracle:
    //      brute force over the segs2 reconstruction with a sound bbox
    //      prune, same distance expression tree) ----
    // ---- vector overlay: proper segment crossings between the smoothed
    //      contour layer and its (0.5, 0.25)-translated copy, counted per
    //      threshold with an exact integer orientation predicate (oracle:
    //      brute force behind the sound |start delta| <= 4 prune) ----
    "q_seg_crossings" -> ((spark, dir) => {
      val cts = smoothContours(spark, dir)
      graft.engine.SpatialOps.segCrossings(spark, cts, 0.5, 0.25)
    }),

    "q_contour_near_dist" -> ((spark, dir) => {
      import spark.implicits._
      val cts = smoothContours(spark, dir)
      val (w, _) = EventsGrid.dims(spark, dir)
      val points = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .filter(expr("event_id % 101 = 0"))
        .selectExpr("event_id", s"cast(event_id % $w as double) + 0.5 as x",
          s"cast(event_id div $w as double) + 0.5 as y")
        .as[(Long, Double, Double)]
      graft.engine.SpatialOps.nearSegmentDist(spark, points, cts, radius = 8.0)
    }),

    // ---- R-clipped Hausdorff between consecutive-threshold contours ----
    "q_contour_hausdorff" -> ((spark, dir) => {
      val cts = smoothContours(spark, dir)
      graft.engine.SpatialOps.contourHausdorff(spark, cts, EventsGrid.Thresholds)
    }),

    // ---- turning (convexity) census over the contour rings ----
    "q_contour_turning" -> ((spark, dir) => {
      val cts = smoothContours(spark, dir)
      graft.engine.SpatialOps.turningCensus(spark, cts, EventsGrid.Thresholds)
    }),

    // ---- kNN join against emitted contour vertices ----
    "q_knn_vertices" -> ((spark, dir) => {
      import spark.implicits._
      val cts = rawContours(spark, dir)
      val verts = graft.engine.SpatialOps.contourVertices(spark, cts)
        .filter(col("threshold") === 50.0)
      val (w, _) = EventsGrid.dims(spark, dir)
      val queries = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .filter(col("event_id") < 50)
        .selectExpr("event_id", s"cast(event_id % $w as double) + 0.25 as x",
          s"cast(event_id div $w as double) + 0.25 as y")
        .as[(Long, Double, Double)]
      graft.engine.SpatialOps.knnVertices(spark, queries, verts, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ---- tile assignment: point -> owning tile -> hierarchical Morton
    //      cell key (the stitch shuffle key), oracle-checked bit-for-bit ----
    "q_tile_assignment" -> ((spark, dir) => {
      import spark.implicits._
      val (w, _) = EventsGrid.dims(spark, dir)
      val tile = 50
      graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr("event_id", s"cast(event_id % $w as int) as x",
          s"cast(event_id div $w as int) as y")
        .as[(Long, Int, Int)]
        .map { case (id, x, y) =>
          val tx = x / tile
          val ty = y / tile
          val m = graft.index.CellIndex.morton(tx, ty)
          (id, tx.toLong, ty.toLong, m, graft.index.CellIndex.parent(m, 2))
        }
        .toDF("event_id", "tile_x", "tile_y", "cell", "parent_cell_l2")
        .orderBy("event_id")
    }),

    // ---- hierarchical Morton cell rollup: the H3/S2-style multi-
    //      resolution aggregation pyramid; points shuffle ONCE (map-side
    //      combined), upper levels re-aggregate the previous level by
    //      parent key (cell >>> 2), all key math in native bitwise Columns.
    //      The oracle recomputes every level from raw events with the same
    //      bit-spread cascade as q_tile_assignment. ----
    "q_cell_rollup" -> ((spark, dir) => {
      val w = EventsGrid.W
      val ev = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr(s"cast(event_id % $w as int) as x",
          s"cast(event_id div $w as int) as y",
          "cast(floor(value * 1048576.0) as bigint) as qv")
      graft.engine.SpatialOps.cellRollup(ev, tile = 50, levels = 3)
    }),

    // ---- vector -> raster burn: the engine's own contour MultiPolygons
    //      rasterized back to a class grid by the banded PIP join (class =
    //      nesting depth at the pixel center), pooled into 10x10 blocks.
    //      Oracle: the q_pip_tag pixel-center identity, class = number of
    //      thresholds <= value, grouped by block. ----
    "q_rasterize" -> ((spark, dir) => {
      import spark.implicits._
      val cts = rawContours(spark, dir)
      val (w, _) = EventsGrid.dims(spark, dir)
      val points = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .selectExpr("event_id", s"cast(event_id % $w as double) + 0.5 as x",
          s"cast(event_id div $w as double) + 0.5 as y")
        .as[(Long, Double, Double)]
      graft.engine.SpatialOps.rasterizeBlocks(spark, points, cts, w, block = 10)
    }),

    // ---- inverse-distance-weighted interpolation: scattered stations
    //      (every 37th event, at cell centers) -> coarse target lattice
    //      (step 10, at integer coords, so d^2 > 0 by construction) via the
    //      cell-bucketed neighbor join. Output keeps the quantized
    //      numerator/denominator sums as integers — no f64 division on the
    //      compare path. ----
    "q_idw_grid" -> ((spark, dir) => {
      val w = EventsGrid.W
      val (_, h) = EventsGrid.dims(spark, dir)
      val st = graft.queries.Feeds.table(spark, dir, "events.parquet")
        .filter(expr("event_id % 37 = 0"))
        .selectExpr(s"cast(event_id % $w as double) + 0.5 as sx",
          s"cast(event_id div $w as double) + 0.5 as sy", "value as v")
      val tg = spark.range(10L * (h / 10))
        .selectExpr("id as tid", "cast((id % 10) * 10 as double) as tx",
          "cast((id div 10) * 10 as double) as ty")
      graft.engine.SpatialOps.idwGrid(st, tg, radius = 8.0)
    }),

    // ---- training-data ops over documents/embeddings ----
    "q_doc_exact_dup" -> TrainingOps.exactDup,
    "q_doc_token_stats" -> TrainingOps.tokenStats,
    "q_doc_quality" -> TrainingOps.qualityScore,
    "q_doc_scrub" -> TrainingOps.scrubCensus,
    "q_doc_kcore" -> TrainingOps.kcore,
    "q_emb_separation" -> TrainingOps.embSeparation,
    "q_emb_hamming" -> TrainingOps.embHamming,
    "q_emb_pq" -> TrainingOps.pqAssign,
    "q_ann_pq_recall" -> TrainingOps.annPqRecall,
    "q_doc_lsh_recall" -> TrainingOps.lshRecall,
    "q_kmeans_iterate" -> TrainingOps.kmeansIterate,
    "q_doc_lang_confusion" -> TrainingOps.langConfusion,
    "q_doc_setsim" -> TrainingOps.setsimPairs,
    "q_doc_dedup_census" -> TrainingOps.dedupCensus,
    "q_doc_lang_id" -> TrainingOps.langId,
    "q_doc_minhash" -> TrainingOps.minhashSignatures,
    "q_doc_minhash_pairs" -> TrainingOps.minhashDupPairs,
    "q_doc_jaccard_pairs" -> TrainingOps.jaccardPairs,
    "q_doc_containment" -> TrainingOps.containmentCensus,
    "q_doc_burstiness" -> TrainingOps.tokenBurstiness,
    "q_doc_sentences" -> TrainingOps.sentenceCensus,
    "q_doc_readability" -> TrainingOps.readability,
    "q_doc_yule" -> TrainingOps.yuleK,
    "q_doc_dup_clusters" -> TrainingOps.dupClusters,
    "q_doc_stratified_sample" -> TrainingOps.stratifiedSample,
    "q_doc_source_stats" -> TrainingOps.sourceStats,
    "q_doc_top_terms" -> TrainingOps.topTerms,
    "q_doc_token_spectrum" -> TrainingOps.tokenSpectrum,
    "q_doc_hapax" -> TrainingOps.docHapax,
    "q_doc_collocations" -> TrainingOps.collocations,
    "q_doc_char_terms" -> TrainingOps.charTerms,
    "q_doc_bm25" -> TrainingOps.bm25,
    "q_doc_chi_terms" -> TrainingOps.chiTerms,
    "q_doc_chunks" -> TrainingOps.chunkDocs,
    "q_doc_stopwords" -> TrainingOps.stopwordStats,
    "q_doc_quality_gate" -> TrainingOps.qualityGate,
    "q_source_overlap" -> TrainingOps.sourceOverlap,
    "q_source_containment" -> TrainingOps.sourceContainment,
    "q_doc_rep_ngrams" -> TrainingOps.repNgramStats,
    "q_doc_decontam" -> TrainingOps.decontam,
    "q_doc_token_runs" -> TrainingOps.tokenRuns,
    "q_vocab_growth" -> TrainingOps.vocabGrowth,
    "q_kmeans_assign" -> TrainingOps.kmeansAssign,
    "q_kmeans_silhouette" -> TrainingOps.kmeansSilhouette,
    "q_emb_jl" -> TrainingOps.embJlDistortion,
    "q_emb_dimstats" -> TrainingOps.embDimStats,
    "q_evt_ripley" -> EventOps.ripleyK,
    "q_evt_nnd" -> EventOps.nndCensus,
    "q_evt_morisita" -> EventOps.morisita,
    "q_evt_joincount" -> EventOps.joinCount,
    "q_doc_mattr" -> TrainingOps.mattr,
    "q_doc_zipf" -> TrainingOps.zipfRanks,
    "q_evt_tripley" -> EventOps.temporalRipley,
    "q_evt_crossk" -> EventOps.crossK,
    "q_doc_lm_score" -> TrainingOps.docLmScore,
    "q_doc_keep_list" -> TrainingOps.keepList,
    "q_doc_pack" -> TrainingOps.packDocs,
    "q_doc_skyline" -> TrainingOps.skyline,
    "q_doc_pagerank" -> TrainingOps.pagerank,
    "q_doc_triangles" -> TrainingOps.triangles,
    "q_doc_novelty" -> TrainingOps.novelty,
    "q_doc_assort" -> TrainingOps.assortativity,
    "q_doc_lcp" -> TrainingOps.lcpNeighbors,
    "q_doc_edit_dist" -> TrainingOps.editNeighbors,
    "q_source_tv" -> TrainingOps.sourceTv,
    "q_cluster_mix" -> TrainingOps.clusterMix,
    "q_doc_head_cov" -> TrainingOps.headCoverage,
    "q_emb_energy" -> TrainingOps.embEnergy,
    "q_evt_window_join" -> EventOps.windowJoin,
    "q_evt_funnel" -> EventOps.funnel,
    "q_evt_retention" -> EventOps.retention,
    "q_evt_concurrency" -> EventOps.concurrency,
    "q_evt_coverage" -> EventOps.coverage,
    "q_evt_twa" -> EventOps.timeWeighted,
    "q_evt_overlap" -> EventOps.sessionOverlaps,
    "q_evt_json" -> EventOps.jsonExtract,
    "q_evt_cube" -> EventOps.cubeStats,
    "q_evt_outliers" -> EventOps.outliers,
    "q_kmeans_update" -> TrainingOps.kmeansUpdate,
    "q_integral" -> RasterOps.integralImage,
    "q_group_quantiles" -> StatsOps.groupQuantiles,
    "q_evt_mad" -> StatsOps.madStats,
    "q_grid_pyramid" -> RasterOps.gridPyramid,
    "q_focal_mean" -> RasterOps.focalMean,
    "q_grid_slope" -> RasterOps.hornSlope,
    "q_grid_tri" -> RasterOps.gridTri,
    "q_grid_aspect" -> RasterOps.gridAspect,
    "q_curvature" -> RasterOps.curvature,
    "q_glcm" -> RasterOps.glcm,
    "q_hillshade" -> RasterOps.hillshade,
    "q_grid_upsample" -> RasterOps.gridUpsample,
    "q_flow_dir" -> RasterOps.d8FlowDir,
    "q_pyramid_slope" -> RasterOps.pyramidSlope,
    "q_focal_median" -> RasterOps.focalMedian,
    "q_focal_majority" -> RasterOps.focalMajority,
    "q_morphology" -> RasterOps.morphology,
    "q_tophat" -> RasterOps.tophat,
    "q_glcm_stats" -> RasterOps.glcmStats,
    "q_row_prefix" -> RasterOps.rowPrefix,
    "q_viewshed" -> RasterOps.viewshed,
    "q_grid_cc" -> RasterOps.gridCc,
    "q_dist_transform" -> RasterOps.distTransform,
    "q_hist_equalize" -> RasterOps.histEqualize,
    "q_moran" -> RasterOps.moran,
    "q_local_moran" -> RasterOps.localMoran,
    "q_getis" -> RasterOps.getis,
    "q_tpi" -> RasterOps.tpi,
    "q_tile_skew" -> RasterOps.tileSkew,
    "q_hilbert" -> RasterOps.hilbert,
    "q_cost_horizon" -> RasterOps.costHorizon,
    "q_variogram" -> RasterOps.variogram,
    "q_geary" -> RasterOps.geary,
    "q_morton" -> RasterOps.morton,
    "q_laplacian" -> RasterOps.laplacian,
    "q_sobel" -> RasterOps.sobel,
    "q_lbp_hist" -> RasterOps.lbpHist,
    "q_critical_points" -> RasterOps.criticalPoints,
    "q_saddle_points" -> RasterOps.saddlePoints,
    "q_blur5" -> RasterOps.blur5,
    "q_watershed" -> HydroOps.watershed,
    "q_flow_accum" -> HydroOps.flowAccum,
    "q_strahler" -> HydroOps.strahler,
    "q_flow_len" -> HydroOps.flowLength,
    "q_stream_power" -> HydroOps.streamPower,
    "q_convex_hull" -> HullOps.convexHull,
    "q_hull_calipers" -> HullOps.hullCalipers,
    "q_doc_bfs_levels" -> TrainingOps.docBfsLevels,
    "q_evt_sessionize" -> EventOps.sessionize,
    "q_evt_trend" -> EventOps.trend,
    "q_evt_autocov" -> EventOps.autocov,
    "q_evt_haar" -> EventOps.haar,
    "q_evt_haar_energy" -> EventOps.haarEnergy,
    "q_evt_mann_kendall" -> EventOps.mannKendall,
    "q_evt_ordpat" -> EventOps.ordPatterns,
    "q_evt_ccf" -> EventOps.ccf,
    "q_lake_diff" -> EventOps.lakeDiff,
    "q_evt_profile" -> EventOps.profile,
    "q_grid_pole" -> RasterOps.gridPole,
    "q_grid_topology" -> RasterOps.gridTopology,
    "q_doc_keyphrase" -> TrainingOps.keyphrase,
    "q_evt_changepoint" -> EventOps.changepoint,
    "q_cc_nesting" -> RasterOps.ccNesting,
    "q_basin_borders" -> HydroOps.basinBorders,
    "q_basin_pour" -> HydroOps.basinPour,
    "q_grid_drainage" -> HydroOps.gridDrainage,
    "q_basin_hypso" -> HydroOps.basinHypso,
    "q_evt_weekday" -> EventOps.weekday,
    "q_evt_runs" -> EventOps.runs,
    "q_riparian" -> HydroOps.riparian,
    "q_wetness" -> HydroOps.wetness,
    "q_evt_type_affinity" -> EventOps.typeAffinity,
    "q_basin_channel" -> HydroOps.basinChannel,
    "q_band_adjacency" -> RasterOps.bandAdjacency,
    "q_rel_basket" -> RelOps.basket,
    "q_basin_depth" -> HydroOps.basinDepth,
    "q_basin_melton" -> HydroOps.basinMelton,
    "q_basin_elong" -> HydroOps.basinElong,
    "q_flow_indegree" -> HydroOps.flowIndegree,
    "q_flow_sinuosity" -> HydroOps.flowSinuosity,
    "q_basin_domdir" -> HydroOps.basinDomdir,
    "q_percolation" -> RasterOps.percolation,
    "q_evt_cusum" -> EventOps.cusum,
    "q_evt_spearman" -> EventOps.spearman,
    "q_evt_spike" -> EventOps.spike,
    "q_evt_gaps" -> EventOps.gaps,
    "q_evt_fano" -> EventOps.fano,
    "q_evt_simpson" -> EventOps.userSimpson,
    "q_evt_dau7" -> EventOps.dau7,
    "q_evt_lifespan" -> EventOps.lifespan,
    "q_evt_growth" -> EventOps.growth,
    "q_evt_gini" -> EventOps.gini,
    "q_evt_hourweek" -> EventOps.hourWeek,
    "q_evt_markov" -> EventOps.markov,
    "q_evt_convert" -> EventOps.convert,
    "q_evt_transitions" -> EventOps.transitions,
    "q_evt_asof" -> EventOps.asofViewPurchase,
    "q_auto_thresholds" -> StatsOps.autoThresholds,
    "q_top_events" -> StatsOps.topEvents,
    "q_evt_hll" -> StatsOps.hllRegisters,
    "q_evt_cms" -> StatsOps.cmsSketch,
    "q_doc_simpson" -> TrainingOps.simpson,
    "q_doc_kmv" -> TrainingOps.kmvSketch,
    "q_doc_bloom" -> TrainingOps.bloomCheck,

    // ---- relational analytics over the TPC-H-shaped warehouse tables ----
    "q_rel_pricing" -> RelOps.pricing,
    "q_rel_revenue_nation" -> RelOps.revenueNation,
    "q_rel_top_suppliers" -> RelOps.topSuppliers,
    "q_rel_priority" -> RelOps.priority,
    "q_rel_weekly_trend" -> RelOps.weeklyTrend,
    "q_rel_part_margin" -> RelOps.partMargin,
    "q_rel_local_revenue" -> RelOps.localRevenue,
    "q_rel_cust_dist" -> RelOps.custDist,
    "q_rel_promo_share" -> RelOps.promoShare,
    "q_rel_balance_audit" -> RelOps.balanceAudit,
    "q_rel_rollup" -> RelOps.revenueRollup,
    "q_rel_running" -> RelOps.runningRevenue,
    "q_rel_big_orders" -> RelOps.bigOrders,
    "q_rel_trade_matrix" -> RelOps.tradeMatrix,
    "q_rel_top_customer" -> RelOps.topCustomerPerNation,
    "q_rel_reconcile" -> RelOps.reconcile,
    "q_rel_pivot" -> RelOps.revenuePivot,
    "q_evt_click_no_buy" -> EventOps.clickNoBuy,
    "q_evt_click_and_buy" -> EventOps.clickAndBuy,
    "q_evt_click_surplus" -> EventOps.clickSurplus,
    "q_evt_locf" -> EventOps.locf,
    "q_rel_cheapest" -> RelOps.cheapestSupplier,
    "q_rel_dominant" -> RelOps.dominantSuppliers,
    "q_rel_diversity" -> RelOps.supplierDiversity,
    "q_rel_brand_revenue" -> RelOps.brandRevenue,
    "q_rel_benford" -> RelOps.benford,
    "q_rel_ship_priority" -> RelOps.shipPriority,
    "q_rel_returned" -> RelOps.returnedCustomers,
    "q_rel_lateness" -> RelOps.latenessPriority,
    "q_rel_market_share" -> RelOps.marketShare,
    "q_rel_profit" -> RelOps.partProfit,
    "q_evt_ntile" -> EventOps.ntileCensus,
    "q_lake_skip" -> RelOps.lakeSkip,
    "q_lake_merge" -> RelOps.lakeMerge,
    "q_rel_small_qty" -> RelOps.smallQty,
    "q_rel_cube" -> RelOps.cubeRevenue,
    "q_rel_gsets" -> RelOps.gsetsRevenue,
    "q_lake_zorder" -> EventOps.lakeZorder,
    "q_lake_delete" -> RelOps.lakeDelete,
    "q_lake_stats" -> RelOps.lakeStats,
    "q_rel_trailing" -> RelOps.trailingRevenue,
    "q_rel_waiting" -> RelOps.waitingSuppliers,
    "q_rel_share" -> RelOps.revenueShare,
    "q_rel_unpivot" -> RelOps.revenueUnpivot,

    // ---- composition: the auto-threshold ladder feeding the FULL contour
    //      pipeline (quantile selection -> tiling -> kernel -> stitch ->
    //      assembly -> smoothing), checksum-oracled end to end; the
    //      4-value collect is bounded by the ladder, not the data ----
    "q_auto_contours" -> ((spark, dir) => {
      import spark.implicits._
      val ths = StatsOps.autoThresholds(spark, dir)
        .select("threshold").as[Double].collect().toSeq.distinct
      val eng = new ContourEngine(spark, JobConfig(ths, smooth = true))
      contourChecksumDf(spark, eng.contours(eventTilesF(spark, dir)))
    }),
    "q_emb_near_dup" -> TrainingOps.embNearDup,
    "q_doc_winnow" -> TrainingOps.winnowFingerprints,
    "q_doc_simhash" -> TrainingOps.simhash,
    "q_doc_fingerprint" -> TrainingOps.fingerprint,
    "q_ann_topk" -> TrainingOps.annTopK,
    "q_ann_ivf_topk" -> TrainingOps.annIvfTopK,
    "q_ann_recall" -> TrainingOps.annRecall,

    // ---- multimodal binary columns (deterministic fake codec; real
    //      schema/partitioning/batch plumbing) ----
    "q_media_meta" -> ((spark, _) => {
      MultimodalOps.extractMeta(spark, MultimodalOps.syntheticMedia(spark, 300))
        .toDF().orderBy("mediaId")
    }),
    "q_media_pipeline" -> ((spark, _) => {
      val media = MultimodalOps.syntheticMedia(spark, 300)
      val processed = MultimodalOps.sampleFrames(spark,
        MultimodalOps.resizeImages(spark, media, 8, 8), 2)
      MultimodalOps.mediaFeatures(spark, processed).orderBy("media_id")
    }),
    "q_media_phash" -> ((spark, _) =>
      MultimodalOps.mediaPhash(spark, MultimodalOps.syntheticMedia(spark, 300)))
  )

  // ------------------------------------------------------------------
  // DuckDB reconstruction of the marching-squares vertex multiset: the
  // multiset of emitted ring vertices (each ring's closing duplicate
  // dropped) equals the multiset of directed segment START points, which
  // are per-case constants offset from the cell origin
  // (/root/reference/src/isoringbuilder.rs:7-31). smoooth_linear only ever
  // reads the two cell corners straddling the vertex's integer coordinate
  // (/root/reference/src/contourbuilder.rs:77-103), so the smoothed
  // coordinate is the identical f64 expression over the cells CTE's corner
  // values; quantization (floor(coord * 2^20) as BIGINT) happens per point,
  // so no float-order-dependent sum crosses the engine/oracle compare.
  // ------------------------------------------------------------------

  private val tsAllSql = "SELECT unnest([25.0,50.0,75.0,100.0]::DOUBLE[]) AS threshold"

  /** cells (corner values + case idx, incl. the virtual border) -> directed
    * segment starts, for the given threshold-set subquery. The dims/grid
    * CTE bodies are injectable so the same reconstruction also runs over
    * DERIVED grids (pyramid overview levels).
    */
  private def startsCte(thresholdsSql: String): String =
    startsCteOver(
      "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
      "SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events",
      thresholdsSql)

  private def startsCteOver(dimsSql: String, gSql: String, thresholdsSql: String): String =
    s"""dims AS ($dimsSql),
       |g AS ($gSql),
       |cells AS (
       |  SELECT t.threshold, cx.cx, cy.cy,
       |    b0.v AS v0, b1.v AS v1, b2.v AS v2, b3.v AS v3,
       |    COALESCE((b0.v >= t.threshold)::INT, 0)
       |      + 2 * COALESCE((b1.v >= t.threshold)::INT, 0)
       |      + 4 * COALESCE((b2.v >= t.threshold)::INT, 0)
       |      + 8 * COALESCE((b3.v >= t.threshold)::INT, 0) AS cse
       |  FROM (SELECT unnest(range(-1, (SELECT w FROM dims)))::INT AS cx) cx
       |  CROSS JOIN (SELECT unnest(range(-1, (SELECT h FROM dims)))::INT AS cy) cy
       |  CROSS JOIN ($thresholdsSql) t
       |  LEFT JOIN g b0 ON b0.x = cx.cx     AND b0.y = cy.cy + 1
       |  LEFT JOIN g b1 ON b1.x = cx.cx + 1 AND b1.y = cy.cy + 1
       |  LEFT JOIN g b2 ON b2.x = cx.cx + 1 AND b2.y = cy.cy
       |  LEFT JOIN g b3 ON b3.x = cx.cx     AND b3.y = cy.cy),
       |segt(cse, sdx, sdy) AS (VALUES
       |  (1,2,3),(2,3,2),(3,3,2),(4,2,1),(5,2,3),(5,2,1),(6,2,1),(7,2,1),
       |  (8,1,2),(9,2,3),(10,1,2),(10,3,2),(11,3,2),(12,1,2),(13,2,3),(14,1,2)),
       |starts AS (
       |  SELECT cells.threshold, cells.cx, cells.cy, segt.sdx, segt.sdy,
       |         cells.v0, cells.v1, cells.v2, cells.v3
       |  FROM cells JOIN segt ON segt.cse = cells.cse)""".stripMargin

  /** smoooth_linear applied to each segment start: a vertex has exactly one
    * integer coordinate (sdx=2 xor sdy=2); the x-branch reads the two
    * corners of row trunc(y) (row cy for sdy=1 with cy>=0, else row cy+1),
    * the y-branch the two corners of column trunc(x); guards replicate
    * `0 < coord < extent`. Unguarded/half coordinates stay (2c+sd)/2.
    */
  private val smoothPtsCte: String =
    """pts AS (
      |  SELECT threshold,
      |    CASE WHEN sdx = 2 AND cx BETWEEN 0 AND (SELECT w FROM dims) - 2 THEN
      |      (cx + 1)::DOUBLE
      |        + (threshold - (CASE WHEN sdy = 1 AND cy >= 0 THEN v3 ELSE v0 END))
      |        / ((CASE WHEN sdy = 1 AND cy >= 0 THEN v2 ELSE v1 END)
      |           - (CASE WHEN sdy = 1 AND cy >= 0 THEN v3 ELSE v0 END))
      |        - 0.5
      |    ELSE (2 * cx + sdx)::DOUBLE / 2.0 END AS px,
      |    CASE WHEN sdy = 2 AND cy BETWEEN 0 AND (SELECT h FROM dims) - 2 THEN
      |      (cy + 1)::DOUBLE
      |        + (threshold - (CASE WHEN sdx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
      |        / ((CASE WHEN sdx = 1 AND cx >= 0 THEN v0 ELSE v1 END)
      |           - (CASE WHEN sdx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
      |        - 0.5
      |    ELSE (2 * cy + sdy)::DOUBLE / 2.0 END AS py
      |  FROM starts)""".stripMargin

  /** Like startsCte + smoothPtsCte, but reconstructs BOTH endpoints of every
    * directed segment (role 0 = start, role 1 = end) with the same smoothing
    * expression — used where the reference's post-smoothing `ring.dedup()`
    * matters (a point is dropped iff its segment's two smoothed endpoints
    * coincide).
    *
    * Point keys (pk/sk/ek) pack the doubled-grid integer coordinates as
    * xd * 2^32 + yd: unique for grids up to 2^31 doubled-y cells (~10^9 of
    * raw y extent) and overflow-free below 2^30 raw x extent — far beyond
    * any per-grid size this engine targets (tiles bound the per-grid frame;
    * web scale comes from grid COUNT). The previous 10^6 multiplier
    * silently collided at ~5*10^5 y cells.
    */
  private def startsAndEndsCte(thresholdsSql: String): String =
    startsAndEndsCteOver(
      "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
      "SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events",
      thresholdsSql)

  private def startsAndEndsCteOver(dimsSql: String, gSql: String,
                                   thresholdsSql: String): String =
    s"""dims AS ($dimsSql),
       |g AS ($gSql),
       |cells AS (
       |  SELECT t.threshold, cx.cx, cy.cy,
       |    b0.v AS v0, b1.v AS v1, b2.v AS v2, b3.v AS v3,
       |    COALESCE((b0.v >= t.threshold)::INT, 0)
       |      + 2 * COALESCE((b1.v >= t.threshold)::INT, 0)
       |      + 4 * COALESCE((b2.v >= t.threshold)::INT, 0)
       |      + 8 * COALESCE((b3.v >= t.threshold)::INT, 0) AS cse
       |  FROM (SELECT unnest(range(-1, (SELECT w FROM dims)))::INT AS cx) cx
       |  CROSS JOIN (SELECT unnest(range(-1, (SELECT h FROM dims)))::INT AS cy) cy
       |  CROSS JOIN ($thresholdsSql) t
       |  LEFT JOIN g b0 ON b0.x = cx.cx     AND b0.y = cy.cy + 1
       |  LEFT JOIN g b1 ON b1.x = cx.cx + 1 AND b1.y = cy.cy + 1
       |  LEFT JOIN g b2 ON b2.x = cx.cx + 1 AND b2.y = cy.cy
       |  LEFT JOIN g b3 ON b3.x = cx.cx     AND b3.y = cy.cy),
       |segt(cse, segid, sdx, sdy, edx, edy) AS (VALUES
       |  (1,0,2,3,1,2),(2,0,3,2,2,3),(3,0,3,2,1,2),(4,0,2,1,3,2),
       |  (5,0,2,3,1,2),(5,1,2,1,3,2),(6,0,2,1,2,3),(7,0,2,1,1,2),
       |  (8,0,1,2,2,1),(9,0,2,3,2,1),(10,0,1,2,2,1),(10,1,3,2,2,3),
       |  (11,0,3,2,2,1),(12,0,1,2,3,2),(13,0,2,3,3,2),(14,0,1,2,2,3)),
       |ep AS (
       |  SELECT cells.threshold, cells.cx, cells.cy, segt.segid, r.role,
       |         CASE WHEN r.role = 0 THEN segt.sdx ELSE segt.edx END AS odx,
       |         CASE WHEN r.role = 0 THEN segt.sdy ELSE segt.edy END AS ody,
       |         cells.v0, cells.v1, cells.v2, cells.v3
       |  FROM cells JOIN segt ON segt.cse = cells.cse
       |  CROSS JOIN (VALUES (0),(1)) r(role)),
       |pts AS (
       |  SELECT threshold, cx, cy, segid, role,
       |    ((2 * cx + odx + 3)::BIGINT * 4294967296 + (2 * cy + ody + 3))::BIGINT AS pk,
       |    CASE WHEN odx = 2 AND cx BETWEEN 0 AND (SELECT w FROM dims) - 2 THEN
       |      (cx + 1)::DOUBLE
       |        + (threshold - (CASE WHEN ody = 1 AND cy >= 0 THEN v3 ELSE v0 END))
       |        / ((CASE WHEN ody = 1 AND cy >= 0 THEN v2 ELSE v1 END)
       |           - (CASE WHEN ody = 1 AND cy >= 0 THEN v3 ELSE v0 END))
       |        - 0.5
       |    ELSE (2 * cx + odx)::DOUBLE / 2.0 END AS px,
       |    CASE WHEN ody = 2 AND cy BETWEEN 0 AND (SELECT h FROM dims) - 2 THEN
       |      (cy + 1)::DOUBLE
       |        + (threshold - (CASE WHEN odx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
       |        / ((CASE WHEN odx = 1 AND cx >= 0 THEN v0 ELSE v1 END)
       |           - (CASE WHEN odx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
       |        - 0.5
       |    ELSE (2 * cy + ody)::DOUBLE / 2.0 END AS py
       |  FROM ep)""".stripMargin

  /** Ring-GROUPING reconstruction in SQL: every directed marching-squares
    * segment (both endpoints, integer grid keys) is a node whose unique
    * successor is the segment starting where it ends (start keys are
    * globally unique per threshold — each crossed cell edge starts exactly
    * one directed segment and ends exactly one, and the virtual border
    * closes every curve). Rings = cycles of this permutation, labeled by
    * min start-key via `levels` rounds of POINTER DOUBLING (after round t
    * each node knows the min label over the 2^t successors, so any ring up
    * to 2^levels segments converges; extra rounds are no-ops). CTEs are
    * MATERIALIZED — each level references the previous twice, and inlining
    * would re-expand the chain exponentially.
    */
  private def ringGraphCtes(thresholdsSql: String, levels: Int): String = {
    val base =
      s"""dims AS (SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events),
         |g AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |cells AS (
         |  SELECT t.threshold, cx.cx, cy.cy,
         |    b0.v AS v0, b1.v AS v1, b2.v AS v2, b3.v AS v3,
         |    COALESCE((b0.v >= t.threshold)::INT, 0)
         |      + 2 * COALESCE((b1.v >= t.threshold)::INT, 0)
         |      + 4 * COALESCE((b2.v >= t.threshold)::INT, 0)
         |      + 8 * COALESCE((b3.v >= t.threshold)::INT, 0) AS cse
         |  FROM (SELECT unnest(range(-1, (SELECT w FROM dims)))::INT AS cx) cx
         |  CROSS JOIN (SELECT unnest(range(-1, (SELECT h FROM dims)))::INT AS cy) cy
         |  CROSS JOIN ($thresholdsSql) t
         |  LEFT JOIN g b0 ON b0.x = cx.cx     AND b0.y = cy.cy + 1
         |  LEFT JOIN g b1 ON b1.x = cx.cx + 1 AND b1.y = cy.cy + 1
         |  LEFT JOIN g b2 ON b2.x = cx.cx + 1 AND b2.y = cy.cy
         |  LEFT JOIN g b3 ON b3.x = cx.cx     AND b3.y = cy.cy),
         |segt2(cse, segid, sdx, sdy, edx, edy) AS (VALUES
         |  (1,0,2,3,1,2),(2,0,3,2,2,3),(3,0,3,2,1,2),(4,0,2,1,3,2),
         |  (5,0,2,3,1,2),(5,1,2,1,3,2),(6,0,2,1,2,3),(7,0,2,1,1,2),
         |  (8,0,1,2,2,1),(9,0,2,3,2,1),(10,0,1,2,2,1),(10,1,3,2,2,3),
         |  (11,0,3,2,2,1),(12,0,1,2,3,2),(13,0,2,3,3,2),(14,0,1,2,2,3)),
         |sege AS (SELECT cells.threshold, cells.cx, cells.cy, segt2.sdx, segt2.sdy,
         |                segt2.edx, segt2.edy, cells.v0, cells.v1, cells.v2, cells.v3
         |         FROM cells JOIN segt2 ON segt2.cse = cells.cse),
         |seg AS MATERIALIZED (SELECT threshold,
         |    ((2*cx+sdx+3)::BIGINT * 4294967296 + (2*cy+sdy+3))::BIGINT AS sk,
         |    ((2*cx+edx+3)::BIGINT * 4294967296 + (2*cy+edy+3))::BIGINT AS ek,
         |    CASE WHEN sdx = 2 AND cx BETWEEN 0 AND (SELECT w FROM dims) - 2 THEN
         |      (cx + 1)::DOUBLE
         |        + (threshold - (CASE WHEN sdy = 1 AND cy >= 0 THEN v3 ELSE v0 END))
         |        / ((CASE WHEN sdy = 1 AND cy >= 0 THEN v2 ELSE v1 END)
         |           - (CASE WHEN sdy = 1 AND cy >= 0 THEN v3 ELSE v0 END))
         |        - 0.5
         |    ELSE (2 * cx + sdx)::DOUBLE / 2.0 END AS px,
         |    CASE WHEN sdy = 2 AND cy BETWEEN 0 AND (SELECT h FROM dims) - 2 THEN
         |      (cy + 1)::DOUBLE
         |        + (threshold - (CASE WHEN sdx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
         |        / ((CASE WHEN sdx = 1 AND cx >= 0 THEN v0 ELSE v1 END)
         |           - (CASE WHEN sdx = 1 AND cx >= 0 THEN v3 ELSE v2 END))
         |        - 0.5
         |    ELSE (2 * cy + sdy)::DOUBLE / 2.0 END AS py
         |  FROM sege)""".stripMargin
    val lvls = Seq("w0 AS MATERIALIZED (SELECT threshold, sk, sk AS lbl, ek AS jmp FROM seg)") ++
      (1 to levels).map(i =>
        s"""w$i AS MATERIALIZED (SELECT a.threshold, a.sk, least(a.lbl, b.lbl) AS lbl, b.jmp AS jmp
           |  FROM w${i - 1} a JOIN w${i - 1} b ON b.threshold = a.threshold AND b.sk = a.jmp)""".stripMargin)
    s"""$base,
       |${lvls.mkString(",\n")}""".stripMargin
  }

  private def ringWalkSql(thresholdsSql: String, levels: Int = 18): String =
    s"""WITH ${ringGraphCtes(thresholdsSql, levels)},
       |ringsz AS (SELECT s.threshold, l.lbl, count(*)::BIGINT AS n,
       |  SUM(floor(s.px * 1048576.0)::BIGINT)::BIGINT AS qx,
       |  SUM(floor(s.py * 1048576.0)::BIGINT)::BIGINT AS qy
       |  FROM seg s JOIN w$levels l ON l.threshold = s.threshold AND l.sk = s.sk
       |  GROUP BY 1, 2)
       |SELECT threshold,
       |  row_number() OVER (PARTITION BY threshold ORDER BY n, qx, qy, lbl)::BIGINT AS ring_rank,
       |  n AS n_points, qx AS qx_sum, qy AS qy_sum
       |FROM ringsz ORDER BY threshold, ring_rank""".stripMargin

  /** Bbox-clip oracle: the ring graph's cycles are WALKED into ordered
    * vertex lists by a recursive CTE (seed = each ring's min-start-key
    * node from the pointer-doubled labels; one successor step per
    * iteration — total rows = total segments), then four Sutherland–
    * Hodgman half-plane stages run as pure window SQL: each stage pairs
    * consecutive vertices cyclically (lead + first_value wraparound),
    * emits intersection (sub 0) and kept-endpoint (sub 1) rows per edge,
    * and renumbers with row_number — the same fixed f64 intersection
    * expression as core.Clip, with every literal cast ::DOUBLE (a bare
    * DuckDB decimal literal would compute in DECIMAL). Checksums are
    * rotation-invariant (the engine walks rings from the sweep-closure
    * start vertex, the oracle from the min-key vertex; the emitted
    * multiset is the same — see core.Clip's rotation-equivariance note).
    */
  private def clipRingsSql(thresholdsSql: String, levels: Int = 18): String = {
    def lit(c: Double) = s"($c::DOUBLE)"
    def stage(k: Int, prev: String, axisX: Boolean, c: Double, lower: Boolean): String = {
      val op = if (lower) ">=" else "<="
      val (sv, ev) = if (axisX) ("sx", "ex") else ("sy", "ey")
      val ix = if (axisX) lit(c) else s"sx + (${lit(c)} - sy) * (ex - sx) / (ey - sy)"
      val iy = if (axisX) s"sy + (${lit(c)} - sx) * (ey - sy) / (ex - sx)" else lit(c)
      s"""e$k AS (SELECT threshold, ring, seq, x AS sx, y AS sy,
         |  coalesce(lead(x) OVER (PARTITION BY threshold, ring ORDER BY seq),
         |           first_value(x) OVER (PARTITION BY threshold, ring ORDER BY seq)) AS ex,
         |  coalesce(lead(y) OVER (PARTITION BY threshold, ring ORDER BY seq),
         |           first_value(y) OVER (PARTITION BY threshold, ring ORDER BY seq)) AS ey
         |  FROM $prev),
         |v$k AS MATERIALIZED (SELECT threshold, ring,
         |  row_number() OVER (PARTITION BY threshold, ring ORDER BY seq, sub) AS seq,
         |  CASE WHEN sub = 0 THEN $ix ELSE ex END AS x,
         |  CASE WHEN sub = 0 THEN $iy ELSE ey END AS y
         |  FROM e$k CROSS JOIN (VALUES (0),(1)) r(sub)
         |  WHERE (sub = 0 AND ($sv $op ${lit(c)}) <> ($ev $op ${lit(c)}))
         |     OR (sub = 1 AND ($ev $op ${lit(c)})))""".stripMargin
    }
    s"""WITH RECURSIVE ${ringGraphCtes(thresholdsSql, levels)},
       |walk AS (
       |  SELECT threshold, sk AS ring, sk AS node, 0::BIGINT AS seq
       |  FROM w$levels WHERE sk = lbl
       |  UNION ALL
       |  SELECT w.threshold, w.ring, s.ek AS node, w.seq + 1
       |  FROM walk w JOIN seg s ON s.threshold = w.threshold AND s.sk = w.node
       |  WHERE s.ek <> w.ring),
       |v0 AS MATERIALIZED (SELECT w.threshold, w.ring, w.seq, s.px AS x, s.py AS y
       |  FROM walk w JOIN seg s ON s.threshold = w.threshold AND s.sk = w.node),
       |${stage(1, "v0", axisX = true, ClipX0, lower = true)},
       |${stage(2, "v1", axisX = true, ClipX1, lower = false)},
       |${stage(3, "v2", axisX = false, ClipY0, lower = true)},
       |${stage(4, "v3", axisX = false, ClipY1, lower = false)},
       |base AS (SELECT threshold, count(DISTINCT ring) AS nin FROM v0 GROUP BY 1),
       |kept AS (SELECT threshold, ring, count(*) AS nv,
       |  sum(floor(x * 1048576.0)::BIGINT) AS qx,
       |  sum(floor(y * 1048576.0)::BIGINT) AS qy
       |  FROM v4 GROUP BY 1, 2)
       |SELECT b.threshold, b.nin::BIGINT AS n_rings_in,
       |  coalesce(sum(CASE WHEN k.nv >= 3 THEN 1 END), 0)::BIGINT AS n_rings_kept,
       |  coalesce(sum(k.nv), 0)::BIGINT AS n_vertices,
       |  coalesce(sum(k.qx), 0)::BIGINT AS qx_sum,
       |  coalesce(sum(k.qy), 0)::BIGINT AS qy_sum
       |FROM base b LEFT JOIN kept k ON k.threshold = b.threshold
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  private def smoothChecksumOver(prefixCtes: String, dimsSql: String, gSql: String,
                                 thresholdsSql: String = tsAllSql): String =
    s"""WITH $prefixCtes${startsCteOver(dimsSql, gSql, thresholdsSql)},
       |$smoothPtsCte,
       |agg AS (SELECT threshold, count(*)::BIGINT AS n_points,
       |  SUM(floor(px * 1048576.0)::BIGINT)::BIGINT AS qx_sum,
       |  SUM(floor(py * 1048576.0)::BIGINT)::BIGINT AS qy_sum
       |  FROM pts GROUP BY 1)
       |SELECT t.threshold, COALESCE(agg.n_points, 0)::BIGINT AS n_points,
       |  COALESCE(agg.qx_sum, 0)::BIGINT AS qx_sum,
       |  COALESCE(agg.qy_sum, 0)::BIGINT AS qy_sum
       |FROM ($thresholdsSql) t LEFT JOIN agg ON agg.threshold = t.threshold
       |ORDER BY t.threshold""".stripMargin

  /** The auto-threshold ladder (StatsOps' exact order statistics) as a
    * threshold subquery — composes the quantile operator with the full
    * contour reconstruction, entirely in SQL on the oracle side.
    */
  private val autoThresholdsSql: String =
    """SELECT DISTINCT r.value AS threshold
      |FROM (SELECT (floor(q * (n - 1))::BIGINT + 1)::BIGINT AS k
      |      FROM (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.75::DOUBLE), (0.9::DOUBLE)) qs(q)
      |      CROSS JOIN (SELECT count(*)::BIGINT AS n FROM events) n) k
      |JOIN (SELECT value, row_number() OVER (ORDER BY value)::BIGINT AS rn
      |      FROM events) r ON r.rn = k.k""".stripMargin

  /** The isoband checksum reconstruction parameterized over the field
    * (the [[smoothChecksumOver]] genus for BANDS): both smoothed
    * endpoints per directed segment, the band path's dedup-collapse drop
    * (a point is removed exactly when its segment collapsed — smoothed
    * start == smoothed end), and the lower++upper band pairing. Carries
    * the isoband oracle's stated data assumption: no band ring dedups to
    * <= 3 points on the oracle field (gate-verified per field, loud on
    * violation).
    */
  private def isobandsChecksumOver(prefixCtes: String, dimsSql: String,
                                   gSql: String): String =
    s"""WITH $prefixCtes${startsAndEndsCteOver(dimsSql, gSql, tsAllSql)},
       |segs2 AS (
       |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
       |  FROM pts s JOIN pts e
       |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
       |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
       |kept AS (SELECT threshold, spx AS px, spy AS py FROM segs2
       |         WHERE NOT (spx = epx AND spy = epy)),
       |bandmap(minv, maxv, threshold) AS (VALUES
       |  (25.0::DOUBLE, 50.0::DOUBLE, 25.0::DOUBLE),
       |  (25.0::DOUBLE, 50.0::DOUBLE, 50.0::DOUBLE),
       |  (50.0::DOUBLE, 75.0::DOUBLE, 50.0::DOUBLE),
       |  (50.0::DOUBLE, 75.0::DOUBLE, 75.0::DOUBLE),
       |  (75.0::DOUBLE, 100.0::DOUBLE, 75.0::DOUBLE),
       |  (75.0::DOUBLE, 100.0::DOUBLE, 100.0::DOUBLE)),
       |agg AS (SELECT minv, maxv, count(*)::BIGINT AS n_points,
       |  SUM(floor(px * 1048576.0)::BIGINT)::BIGINT AS qx_sum,
       |  SUM(floor(py * 1048576.0)::BIGINT)::BIGINT AS qy_sum
       |  FROM kept JOIN bandmap ON bandmap.threshold = kept.threshold
       |  GROUP BY 1, 2)
       |SELECT b.minv AS min_v, b.maxv AS max_v,
       |  COALESCE(agg.n_points, 0)::BIGINT AS n_points,
       |  COALESCE(agg.qx_sum, 0)::BIGINT AS qx_sum,
       |  COALESCE(agg.qy_sum, 0)::BIGINT AS qy_sum
       |FROM (VALUES (25.0::DOUBLE, 50.0::DOUBLE), (50.0::DOUBLE, 75.0::DOUBLE),
       |      (75.0::DOUBLE, 100.0::DOUBLE)) b(minv, maxv)
       |LEFT JOIN agg ON agg.minv = b.minv AND agg.maxv = b.maxv
       |ORDER BY min_v""".stripMargin

  private val smoothChecksumSql: String = smoothChecksumOver("",
    "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
    "SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events")

  /** The same marching-squares + smoothing reconstruction, but over the
    * PYRAMID's level-1 grid: the pool CTE (identical text to the
    * q_grid_pyramid oracle via RasterOps.poolCte) derives the overview
    * grid in SQL, then feeds it to the unchanged cells/starts/smoothing
    * chain with halved dims.
    */
  private val pyramidContoursSql: String = {
    val prefix =
      s"""g0 AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |d AS (SELECT (count(*) // 100)::INT AS h FROM events),
         |${RasterOps.poolCte(1, 100)},
         |""".stripMargin
    smoothChecksumOver(prefix,
      "SELECT 50::INT AS w, ((SELECT h FROM d) // 2)::INT AS h",
      "SELECT x, y, v FROM g1")
  }

  /** Bands over the level-1 overview: the pool CTE feeding the
    * parameterized band reconstruction — the zoom-out counterpart of
    * q_fm_isobands' filtered-field bands.
    */
  private val pyramidIsobandsSql: String = {
    val prefix =
      s"""g0 AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |d AS (SELECT (count(*) // 100)::INT AS h FROM events),
         |${RasterOps.poolCte(1, 100)},
         |""".stripMargin
    isobandsChecksumOver(prefix,
      "SELECT 50::INT AS w, ((SELECT h FROM d) // 2)::INT AS h",
      "SELECT x, y, v FROM g1")
  }

  /** The isochrone oracle: the q_cost_horizon relaxation CTEs (renamed to
    * avoid the contour reconstruction's own g/cells/starts names) derive
    * the cost grid in SQL — unreached cells COALESCE to the CostInf level
    * — then feed the unchanged marching-squares + smoothing chain at the
    * cost thresholds.
    */
  private val isochroneSql: String = {
    val k = graft.queries.RasterOps.CostRounds
    val prefix =
      s"""gq AS MATERIALIZED (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y,
         |       value AS v, (floor(value * 1024.0)::BIGINT + 1024) AS qc FROM events),
         |cq0 AS MATERIALIZED (SELECT x, y, 0::BIGINT AS cost FROM gq
         |       WHERE v >= ${graft.queries.RasterOps.CostSrcThreshold}),
         |${graft.queries.RasterOps.costRoundCtes("gq", "cq")},
         |cg AS (SELECT b.x, b.y,
         |         COALESCE(c.cost, ${graft.core.RasterKernel.CostInf})::DOUBLE AS v
         |       FROM gq b LEFT JOIN cq$k c ON c.x = b.x AND c.y = b.y),
         |""".stripMargin
    smoothChecksumOver(prefix,
      "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
      "SELECT x, y, v FROM cg",
      s"SELECT unnest([${IsoThresholds.mkString(",")}]::DOUBLE[]) AS threshold")
  }

  /** DuckDB-equivalent SQL per query (omit => weaker rows-only check). */
  def oracleSql: Map[String, String] = Map(
    "q_isochrone" -> isochroneSql,
    "q_contours_stats" -> smoothChecksumSql,
    "q_auto_contours" -> smoothChecksumOver("",
      "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
      "SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events",
      autoThresholdsSql),
    "q_pyramid_contours" -> pyramidContoursSql,
    "q_pyramid_isobands" -> pyramidIsobandsSql,
    // low-pass contours: the focal-mean field derived in SQL (the
    // q_focal_mean slot joins, the kernel's exact association tree, NO
    // quantization — raw f64 feeds the unchanged marching-squares +
    // smoothing reconstruction), re-origined to (w-2) x (h-2)
    "q_fm_contours" -> smoothChecksumOver(
      s"""g0 AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |d0 AS (SELECT (count(*) // 100)::INT AS h FROM events),
         |fm AS (SELECT t.x - 1 AS x, t.y - 1 AS y,
         |  ((((b0.v + b1.v) + b2.v) + ((b3.v + t.v) + b5.v))
         |    + ((b6.v + b7.v) + b8.v)) / 9.0 AS v
         |  FROM g0 t
         |  ${(0 to 8).filter(_ != 4).map { o =>
              val dx = o % 3 - 1; val dy = o / 3 - 1
              s"JOIN g0 b$o ON b$o.x = t.x - ($dx) AND b$o.y = t.y - ($dy)"
            }.mkString("\n  ")}
         |  WHERE t.x BETWEEN 1 AND 98 AND t.y BETWEEN 1 AND (SELECT h FROM d0) - 2),
         |""".stripMargin,
      "SELECT 98::INT AS w, ((count(*) / 100) - 2)::INT AS h FROM events",
      "SELECT x, y, v FROM fm"),
    // median-filtered isolines: the median field derived in SQL by pure
    // order statistics (list_sort over the nine slots, 5th pick — RAW
    // f64, no arithmetic touches the values), re-origined to
    // (w-2) x (h-2). The LINES path keeps every smoothed ring, so the
    // start-only reconstruction stays exact even where the field equals
    // a threshold exactly (see the engine-side comment on why the
    // contours path would not be SQL-expressible here)
    "q_med_contours" -> smoothChecksumOver(
      s"""g0 AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |d0 AS (SELECT (count(*) // 100)::INT AS h FROM events),
         |md AS (SELECT t.x - 1 AS x, t.y - 1 AS y,
         |  list_sort([b0.v, b1.v, b2.v, b3.v, t.v, b5.v, b6.v, b7.v, b8.v])[5] AS v
         |  FROM g0 t
         |  ${(0 to 8).filter(_ != 4).map { o =>
              val dx = o % 3 - 1; val dy = o / 3 - 1
              s"JOIN g0 b$o ON b$o.x = t.x - ($dx) AND b$o.y = t.y - ($dy)"
            }.mkString("\n  ")}
         |  WHERE t.x BETWEEN 1 AND 98 AND t.y BETWEEN 1 AND (SELECT h FROM d0) - 2),
         |""".stripMargin,
      "SELECT 98::INT AS w, ((count(*) / 100) - 2)::INT AS h FROM events",
      "SELECT x, y, v FROM md"),

    "q_lines_stats" -> smoothChecksumSql,
    "q_geojson" -> ringWalkSql(tsAllSql),
    "q_clip_rings" -> clipRingsSql(tsAllSql),

    // nesting depth: ring labels from the pointer-doubled graph; every
    // coordinate decodes EXACTLY from the packed keys ((k // 2^32 - 3)/2,
    // halves are f64-representable), and the crossing predicate is the
    // engine's identical half-open expression — quarters and power-of-two
    // divisors keep it exact on both sides
    "q_ring_depth" ->
      s"""WITH ${ringGraphCtes(tsAllSql, 18)},
         |lbls AS (SELECT threshold, sk, lbl FROM w18),
         |edges AS (SELECT s.threshold, l.lbl AS rb,
         |    ((s.sk // 4294967296) - 3) / 2.0 AS x1, ((s.sk % 4294967296) - 3) / 2.0 AS y1,
         |    ((s.ek // 4294967296) - 3) / 2.0 AS x2, ((s.ek % 4294967296) - 3) / 2.0 AS y2
         |  FROM seg s JOIN lbls l ON l.threshold = s.threshold AND l.sk = s.sk),
         |reps AS (SELECT DISTINCT threshold, lbl AS ra,
         |    ((lbl // 4294967296) - 3) / 2.0 AS px, ((lbl % 4294967296) - 3) / 2.0 AS py
         |  FROM lbls),
         |crossings AS (SELECT r.threshold, r.ra, e.rb, count(*) AS nc
         |  FROM reps r JOIN edges e ON e.threshold = r.threshold AND e.rb <> r.ra
         |   AND ((e.y1 > r.py) <> (e.y2 > r.py))
         |   AND r.px < e.x1 + (r.py - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
         |  GROUP BY 1, 2, 3),
         |inside AS (SELECT threshold, ra, count(*) AS depth
         |  FROM crossings WHERE nc % 2 = 1 GROUP BY 1, 2),
         |depths AS (SELECT r.threshold, r.ra, coalesce(i.depth, 0) AS depth
         |  FROM reps r LEFT JOIN inside i ON i.threshold = r.threshold AND i.ra = r.ra)
         |SELECT threshold, depth::BIGINT AS depth, count(*)::BIGINT AS n_rings
         |FROM depths GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_contour_rings_stats" ->
      s"""WITH ${startsCte(tsAllSql)},
         |agg AS (SELECT threshold, count(*)::BIGINT AS n_points,
         |  SUM(2 * cx + sdx)::BIGINT AS sum_2x,
         |  SUM(2 * cy + sdy)::BIGINT AS sum_2y,
         |  SUM((2 * cx + sdx) * (2 * cy + sdy))::BIGINT AS sum_2x2y
         |  FROM starts GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.n_points, 0)::BIGINT AS n_points,
         |  COALESCE(agg.sum_2x, 0)::BIGINT AS sum_2x,
         |  COALESCE(agg.sum_2y, 0)::BIGINT AS sum_2y,
         |  COALESCE(agg.sum_2x2y, 0)::BIGINT AS sum_2x2y
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // Band rings additionally pass the reference's `ring.dedup()` after
    // smoothing: a point is removed exactly when its segment collapsed
    // (smoothed start == smoothed end, which happens when the threshold
    // exactly equals a sample value), so the kept multiset = all segment
    // starts minus the starts of collapsed segments — both endpoints of
    // every segment are reconstructed and compared here.
    // ASSUMPTION (data-dependent): the engine's band assembly additionally
    // drops rings that dedup to <= 3 points (ContourEngine.isobandsFrom's
    // `.filter(_.length / 2 > 3)`, mirroring the reference's band path);
    // this SQL counts every non-collapsed segment start and does NOT model
    // that per-ring filter, so it is exact only while no band ring on the
    // oracle data dedups below 4 points. Collapses DO occur here (a few
    // dozen events carry values exactly equal to a threshold at sf >=
    // 0.01), but the smallest marching-squares ring is 4 segments (a
    // single-cell island), so a violation needs a minimal ring around an
    // exactly-threshold-valued sample — verified absent at sf0.01 and
    // sf0.1 (oracle green at both). If the data ever changes, a mismatch
    // here flags it loudly rather than passing silently.
    "q_isobands_stats" -> isobandsChecksumOver("",
      "SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events",
      "SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events"),

    // isobands over the focal-mean field: the q_fm_contours field CTE
    // feeding the unchanged band reconstruction (dedup-collapse drop,
    // band pairing) at the (w-2) x (h-2) frame — smoothed vector-tile
    // BANDS, the product shape a noisy-raster choropleth ships
    "q_fm_isobands" -> isobandsChecksumOver(
      s"""g0 AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
         |d0 AS (SELECT (count(*) // 100)::INT AS h FROM events),
         |fm AS (SELECT t.x - 1 AS x, t.y - 1 AS y,
         |  ((((b0.v + b1.v) + b2.v) + ((b3.v + t.v) + b5.v))
         |    + ((b6.v + b7.v) + b8.v)) / 9.0 AS v
         |  FROM g0 t
         |  ${(0 to 8).filter(_ != 4).map { o =>
              val dx = o % 3 - 1; val dy = o / 3 - 1
              s"JOIN g0 b$o ON b$o.x = t.x - ($dx) AND b$o.y = t.y - ($dy)"
            }.mkString("\n  ")}
         |  WHERE t.x BETWEEN 1 AND 98 AND t.y BETWEEN 1 AND (SELECT h FROM d0) - 2),
         |""".stripMargin,
      "SELECT 98::INT AS w, ((count(*) / 100) - 2)::INT AS h FROM events",
      "SELECT x, y, v FROM fm"),

    // both smoothed endpoints of every directed segment (the same segs2
    // join the isoband oracle uses); per-segment f64 length quantizes
    // independently, so the sum is order-free. The engine excludes
    // zero-length segments from its count symmetrically with the FILTER,
    // making the VALUES dedup-agnostic; row PRESENCE for a threshold whose
    // segments are all degenerate (needs an exactly-threshold-valued
    // sample — the isoband oracle's documented data assumption, verified
    // absent at sf0.01/sf0.1) would differ and fail the gate loudly.
    "q_contour_length" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segs2 AS (
         |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1)
         |SELECT threshold,
         |  count(*) FILTER (WHERE NOT (spx = epx AND spy = epy))::BIGINT AS n_segments,
         |  sum(floor(sqrt((epx - spx) * (epx - spx) + (epy - spy) * (epy - spy))
         |        * 1048576.0)::BIGINT)::BIGINT AS qlen_sum
         |FROM segs2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // turning census: consecutive ring edges pair by the successor join
    // (b.sk = a.ek — start keys are unique per threshold), endpoints
    // quantize first, then one integer cross per shared vertex — the
    // independent counterpart of the engine's in-ring triple walk
    "q_contour_turning" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segk AS MATERIALIZED (
         |  SELECT s.threshold,
         |    s.pk AS sk, e.pk AS ek,
         |    floor(s.px * 1048576.0)::BIGINT AS sqx,
         |    floor(s.py * 1048576.0)::BIGINT AS sqy,
         |    floor(e.px * 1048576.0)::BIGINT AS eqx,
         |    floor(e.py * 1048576.0)::BIGINT AS eqy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
         |turns AS (
         |  SELECT a.threshold,
         |    (a.eqx - a.sqx) * (b.eqy - b.sqy)
         |      - (b.eqx - b.sqx) * (a.eqy - a.sqy) AS cr
         |  FROM segk a JOIN segk b
         |    ON b.threshold = a.threshold AND b.sk = a.ek),
         |agg AS (SELECT threshold, count(*)::BIGINT AS n_vertices,
         |  sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END)::BIGINT AS n_left,
         |  sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END)::BIGINT AS n_right,
         |  sum(CASE WHEN cr = 0 THEN 1 ELSE 0 END)::BIGINT AS n_straight,
         |  sum(cr)::BIGINT AS qcross_sum
         |  FROM turns GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.n_vertices, 0)::BIGINT AS n_vertices,
         |  COALESCE(agg.n_left, 0)::BIGINT AS n_left,
         |  COALESCE(agg.n_right, 0)::BIGINT AS n_right,
         |  COALESCE(agg.n_straight, 0)::BIGINT AS n_straight,
         |  COALESCE(agg.qcross_sum, 0)::BIGINT AS qcross_sum
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // every directed segment is one ring edge (contour rings never dedup);
    // each edge's shoelace terms quantize independently and a degenerate
    // edge's cross is EXACTLY +0.0, so no collapse filter is needed. The
    // expression trees mirror SpatialOps.contourMomentStats token for token.
    "q_contour_moments" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segs2 AS (
         |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
         |agg AS (SELECT threshold, count(*)::BIGINT AS n_edges,
         |  sum(floor((spx * epy - epx * spy) * 1048576.0)::BIGINT)::BIGINT AS qa2_sum,
         |  sum(floor((spx + epx) * (spx * epy - epx * spy) * 1048576.0)::BIGINT)::BIGINT AS qmx_sum,
         |  sum(floor((spy + epy) * (spx * epy - epx * spy) * 1048576.0)::BIGINT)::BIGINT AS qmy_sum
         |  FROM segs2 GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.n_edges, 0)::BIGINT AS n_edges,
         |  COALESCE(agg.qa2_sum, 0)::BIGINT AS qa2_sum,
         |  COALESCE(agg.qmx_sum, 0)::BIGINT AS qmx_sum,
         |  COALESCE(agg.qmy_sum, 0)::BIGINT AS qmy_sum
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // isoperimetric compactness: the moments and length reconstructions
    // fused — the same segs2 endpoints, the same per-edge quantizations
    // (cross mirrors q_contour_moments, length mirrors q_contour_length),
    // then A/P^2 as one truncating HUGEINT division in the exact
    // quantized units; zero-perimeter thresholds report NULL by contract
    "q_compactness" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segs2 AS (
         |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
         |agg AS (SELECT threshold,
         |  sum(floor((spx * epy - epx * spy) * 1048576.0)::BIGINT)::BIGINT AS qa2_sum,
         |  sum(floor(sqrt((epx - spx) * (epx - spx) + (epy - spy) * (epy - spy))
         |        * 1048576.0)::BIGINT)::BIGINT AS qlen_sum
         |  FROM segs2 GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.qa2_sum, 0)::BIGINT AS qa2_sum,
         |  COALESCE(agg.qlen_sum, 0)::BIGINT AS qlen_sum,
         |  CASE WHEN COALESCE(agg.qlen_sum, 0) = 0 THEN NULL
         |       ELSE ((abs(agg.qa2_sum::HUGEINT) * 1048576 * 1000000000)
         |             // (2 * agg.qlen_sum::HUGEINT * agg.qlen_sum::HUGEINT))::BIGINT
         |  END AS comp_x1e9
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // box counting: the vertex cloud is exactly the role-0 segment starts
    // (each ring vertex starts one directed segment); box keys as strings
    // of the same exact floors, counted DISTINCT per scale
    "q_box_count" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |st AS (SELECT threshold, px, py FROM pts WHERE role = 0),
         |agg AS (SELECT threshold, count(*)::BIGINT AS n_pts,
         |  count(DISTINCT floor(px)::BIGINT || ':' || floor(py)::BIGINT)::BIGINT AS nb1,
         |  count(DISTINCT floor(px / 2)::BIGINT || ':' || floor(py / 2)::BIGINT)::BIGINT AS nb2,
         |  count(DISTINCT floor(px / 4)::BIGINT || ':' || floor(py / 4)::BIGINT)::BIGINT AS nb4
         |  FROM st GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.n_pts, 0)::BIGINT AS n_pts,
         |  COALESCE(agg.nb1, 0)::BIGINT AS nb1, COALESCE(agg.nb2, 0)::BIGINT AS nb2,
         |  COALESCE(agg.nb4, 0)::BIGINT AS nb4,
         |  (CASE WHEN COALESCE(agg.nb2, 0) = 0 THEN 0
         |        ELSE (agg.nb1 * 1000000) // agg.nb2 END)::BIGINT AS dim_x1e6
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // Independent formulation: the engine buckets segments by start
    // endpoint into (radius+2)-cells and probes 3x3; the oracle brute-
    // forces point x segment with a SOUND bbox prune (a segment within
    // radius 8 has its start endpoint within 8 + sqrt(2) < 10 per axis)
    // and the SAME clamped-projection distance tree, so the bucketing's
    // coverage claim is itself under test. Degenerate segments included
    // on both sides (t = 0 branch).
    // proper crossings vs the translated copy: quantize AFTER the exact
    // f64 translation, then the same four integer orientation terms with
    // strict sign opposition; the |start delta| <= 4 prune is sound
    // (crossing segments' starts lie within 2*sqrt(2) per axis)
    "q_seg_crossings" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segs2 AS (
         |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
         |a AS (SELECT threshold, spx, spy,
         |        floor(spx * 1048576.0)::BIGINT AS a1x, floor(spy * 1048576.0)::BIGINT AS a1y,
         |        floor(epx * 1048576.0)::BIGINT AS a2x, floor(epy * 1048576.0)::BIGINT AS a2y
         |      FROM segs2),
         |b AS (SELECT threshold, spx + 0.5 AS bspx, spy + 0.25 AS bspy,
         |        floor((spx + 0.5) * 1048576.0)::BIGINT AS b1x,
         |        floor((spy + 0.25) * 1048576.0)::BIGINT AS b1y,
         |        floor((epx + 0.5) * 1048576.0)::BIGINT AS b2x,
         |        floor((epy + 0.25) * 1048576.0)::BIGINT AS b2y
         |      FROM segs2),
         |o AS (SELECT a.threshold,
         |        (a2x - a1x) * (b1y - a1y) - (b1x - a1x) * (a2y - a1y) AS oa1,
         |        (a2x - a1x) * (b2y - a1y) - (b2x - a1x) * (a2y - a1y) AS oa2,
         |        (b2x - b1x) * (a1y - b1y) - (a1x - b1x) * (b2y - b1y) AS ob1,
         |        (b2x - b1x) * (a2y - b1y) - (a2x - b1x) * (b2y - b1y) AS ob2
         |      FROM a JOIN b ON b.threshold = a.threshold
         |        AND b.bspx >= a.spx - 4.0 AND b.bspx <= a.spx + 4.0
         |        AND b.bspy >= a.spy - 4.0 AND b.bspy <= a.spy + 4.0)
         |SELECT threshold, count(*)::BIGINT AS n_crossings, sum(oa1)::BIGINT AS o_sum
         |FROM o
         |WHERE ((oa1 > 0 AND oa2 < 0) OR (oa1 < 0 AND oa2 > 0))
         |  AND ((ob1 > 0 AND ob2 < 0) OR (ob1 < 0 AND ob2 > 0))
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_contour_near_dist" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |segs2 AS (
         |  SELECT s.threshold, s.px AS spx, s.py AS spy, e.px AS epx, e.py AS epy
         |  FROM pts s JOIN pts e
         |    ON e.threshold = s.threshold AND e.cx = s.cx AND e.cy = s.cy
         |   AND e.segid = s.segid AND s.role = 0 AND e.role = 1),
         |p AS (SELECT event_id AS point_id, (event_id % 100)::DOUBLE + 0.5 AS px,
         |             (event_id // 100)::DOUBLE + 0.5 AS py
         |      FROM events WHERE event_id % 101 = 0),
         |cand AS (
         |  SELECT p.point_id, s.threshold, p.px, p.py, s.spx, s.spy,
         |         s.epx - s.spx AS dx, s.epy - s.spy AS dy
         |  FROM p JOIN segs2 s
         |    ON abs(s.spx - p.px) <= 10.0 AND abs(s.spy - p.py) <= 10.0),
         |tt AS (
         |  SELECT point_id, threshold, px, py, spx, spy, dx, dy,
         |    CASE WHEN dx * dx + dy * dy > 0.0 THEN
         |      least(greatest(((px - spx) * dx + (py - spy) * dy)
         |                       / (dx * dx + dy * dy), 0.0), 1.0)
         |    ELSE 0.0 END AS t
         |  FROM cand),
         |dd AS (
         |  SELECT point_id, threshold,
         |    (px - (spx + t * dx)) * (px - (spx + t * dx))
         |      + (py - (spy + t * dy)) * (py - (spy + t * dy)) AS d2
         |  FROM tt)
         |SELECT point_id, threshold, count(*)::BIGINT AS n_segs,
         |       min(floor(d2 * 1048576.0)::BIGINT)::BIGINT AS min_qd2
         |FROM dd WHERE d2 <= 64.0
         |GROUP BY 1, 2 ORDER BY point_id, threshold""".stripMargin,

    // ring adjacency reconstructed through the segment-successor
    // permutation: vertex v = segment b's smoothed start, its successor =
    // b's smoothed end (bit-identical to the next segment's start — the
    // smoothing reads only the shared straddling corners), its predecessor
    // = the start of the unique segment a whose endpoint key equals b's
    // start key (start/end keys are unique per threshold). The triangle
    // expression and the integer-domain keep compare mirror
    // SpatialOps.simplifyStats exactly.
    "q_simplify_stats" ->
      s"""WITH ${startsAndEndsCte(tsAllSql)},
         |tri AS (
         |  SELECT b0.threshold,
         |         a0.px AS ppx, a0.py AS ppy, b0.px AS vx, b0.py AS vy,
         |         b1.px AS nx, b1.py AS ny
         |  FROM pts b0
         |  JOIN pts b1 ON b1.threshold = b0.threshold AND b1.cx = b0.cx
         |   AND b1.cy = b0.cy AND b1.segid = b0.segid AND b0.role = 0 AND b1.role = 1
         |  JOIN pts a1 ON a1.threshold = b0.threshold AND a1.role = 1 AND a1.pk = b0.pk
         |  JOIN pts a0 ON a0.threshold = b0.threshold AND a0.cx = a1.cx
         |   AND a0.cy = a1.cy AND a0.segid = a1.segid AND a0.role = 0),
         |qa AS (SELECT threshold,
         |  floor(abs((vx - ppx) * (ny - ppy) - (nx - ppx) * (vy - ppy))
         |        * 1048576.0)::BIGINT AS qa
         |  FROM tri),
         |agg AS (SELECT threshold, count(*)::BIGINT AS n_vertices,
         |  sum(CASE WHEN qa >= $SimplifyEps2Q THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN qa >= $SimplifyEps2Q THEN qa ELSE 0 END)::BIGINT AS qkept_sum
         |  FROM qa GROUP BY 1)
         |SELECT t.threshold, COALESCE(agg.n_vertices, 0)::BIGINT AS n_vertices,
         |  COALESCE(agg.n_kept, 0)::BIGINT AS n_kept,
         |  COALESCE(agg.qkept_sum, 0)::BIGINT AS qkept_sum
         |FROM ($tsAllSql) t LEFT JOIN agg ON agg.threshold = t.threshold
         |ORDER BY t.threshold""".stripMargin,

    // per-threshold extent over the same smoothed vertex multiset the
    // checksum oracles reconstruct; min/max need no dedup handling
    // (contour rings never dedup) and presence is symmetric (GROUP BY
    // emits no row where no segments exist, matching the engine's filter)
    // R-clipped Hausdorff: the same smoothed-vertex reconstruction,
    // DISTINCT quantized points, the 3x3 cell-window min via a BETWEEN
    // join (a different candidate enumeration than the engine's 9-way
    // explode — same exact window), the same Rq2 = 2^44 resolve clip
    "q_contour_hausdorff" ->
      s"""WITH ${startsCte(tsAllSql)},
         |$smoothPtsCte,
         |qp AS MATERIALIZED (
         |  SELECT DISTINCT threshold, floor(px * 1048576.0)::BIGINT AS qx,
         |         floor(py * 1048576.0)::BIGINT AS qy FROM pts),
         |qc AS MATERIALIZED (
         |  SELECT threshold, qx, qy, floor(qx / 4194304.0)::BIGINT AS cx,
         |         floor(qy / 4194304.0)::BIGINT AS cy FROM qp),
         |prs AS (SELECT 25.0 AS t_lo, 50.0 AS t_hi
         |        UNION ALL SELECT 50.0, 75.0 UNION ALL SELECT 75.0, 100.0),
         |abm AS (SELECT p.t_lo, p.t_hi, a.qx, a.qy,
         |          min((a.qx - b.qx) * (a.qx - b.qx)
         |              + (a.qy - b.qy) * (a.qy - b.qy)) AS mind2
         |        FROM prs p
         |        JOIN qc a ON a.threshold = p.t_lo
         |        JOIN qc b ON b.threshold = p.t_hi
         |          AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |          AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |        GROUP BY 1, 2, 3, 4),
         |ab AS (SELECT t_lo, t_hi, count(*)::BIGINT AS n_res,
         |         max(mind2)::BIGINT AS h
         |       FROM abm WHERE mind2 < 4194304::BIGINT * 4194304 GROUP BY 1, 2),
         |bam AS (SELECT p.t_lo, p.t_hi, a.qx, a.qy,
         |          min((a.qx - b.qx) * (a.qx - b.qx)
         |              + (a.qy - b.qy) * (a.qy - b.qy)) AS mind2
         |        FROM prs p
         |        JOIN qc a ON a.threshold = p.t_hi
         |        JOIN qc b ON b.threshold = p.t_lo
         |          AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
         |          AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         |        GROUP BY 1, 2, 3, 4),
         |ba AS (SELECT t_lo, t_hi, count(*)::BIGINT AS n_res,
         |         max(mind2)::BIGINT AS h
         |       FROM bam WHERE mind2 < 4194304::BIGINT * 4194304 GROUP BY 1, 2),
         |nn AS (SELECT p.t_lo, p.t_hi,
         |         (SELECT count(*) FROM qc WHERE threshold = p.t_lo)::BIGINT AS n_lo,
         |         (SELECT count(*) FROM qc WHERE threshold = p.t_hi)::BIGINT AS n_hi
         |       FROM prs p)
         |SELECT nn.t_lo, nn.t_hi, nn.n_lo, nn.n_hi,
         |  (nn.n_lo - COALESCE(ab.n_res, 0))::BIGINT AS far_ab,
         |  (nn.n_hi - COALESCE(ba.n_res, 0))::BIGINT AS far_ba,
         |  COALESCE(ab.h, 0)::BIGINT AS h_ab_q2,
         |  COALESCE(ba.h, 0)::BIGINT AS h_ba_q2,
         |  greatest(COALESCE(ab.h, 0), COALESCE(ba.h, 0))::BIGINT AS haus_q2
         |FROM nn
         |LEFT JOIN ab ON ab.t_lo = nn.t_lo AND ab.t_hi = nn.t_hi
         |LEFT JOIN ba ON ba.t_lo = nn.t_lo AND ba.t_hi = nn.t_hi
         |ORDER BY nn.t_lo""".stripMargin,

    "q_contour_extent" ->
      s"""WITH ${startsCte(tsAllSql)},
         |$smoothPtsCte
         |SELECT threshold, count(*)::BIGINT AS n_points,
         |  min(floor(px * 1048576.0)::BIGINT) AS qxmin,
         |  max(floor(px * 1048576.0)::BIGINT) AS qxmax,
         |  min(floor(py * 1048576.0)::BIGINT) AS qymin,
         |  max(floor(py * 1048576.0)::BIGINT) AS qymax
         |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_point_density" ->
      """SELECT ((event_id % 100) // 10)::BIGINT AS bx,
        |       ((event_id // 100) // 10)::BIGINT AS by,
        |       count(*)::BIGINT AS n,
        |       sum(floor(value * 1048576.0)::BIGINT)::BIGINT AS qsum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_knn_vertices" ->
      s"""WITH ${startsCte("SELECT unnest([50.0]::DOUBLE[]) AS threshold")},
         |verts AS (SELECT (2 * cx + sdx)::DOUBLE / 2.0 AS vx,
         |                 (2 * cy + sdy)::DOUBLE / 2.0 AS vy FROM starts),
         |q AS (SELECT event_id AS query_id,
         |             (event_id % 100)::DOUBLE + 0.25 AS qx,
         |             (event_id // 100)::DOUBLE + 0.25 AS qy
         |      FROM events WHERE event_id < 50),
         |d AS (SELECT query_id, vx, vy,
         |             sqrt((vx - qx) * (vx - qx) + (vy - qy) * (vy - qy)) AS dist
         |      FROM q CROSS JOIN verts),
         |r AS (SELECT query_id, vx, vy, dist,
         |             row_number() OVER (PARTITION BY query_id ORDER BY dist, vx, vy) AS rank
         |      FROM d)
         |SELECT query_id, rank::BIGINT AS rank, vx, vy, dist
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_threshold_class" ->
      """WITH ts(threshold) AS (VALUES (25.0),(50.0),(75.0),(100.0))
        |SELECT threshold,
        |       (SELECT count(*) FROM events WHERE value >= threshold)::BIGINT AS n
        |FROM ts ORDER BY threshold""".stripMargin,

    "q_cell_case_hist" ->
      """WITH dims AS (SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events),
        |g AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
        |cells AS (
        |  SELECT t.threshold, cx.cx, cy.cy,
        |    COALESCE((b0.v >= t.threshold)::INT, 0) AS b0,
        |    COALESCE((b1.v >= t.threshold)::INT, 0) AS b1,
        |    COALESCE((b2.v >= t.threshold)::INT, 0) AS b2,
        |    COALESCE((b3.v >= t.threshold)::INT, 0) AS b3
        |  FROM (SELECT unnest(range(-1, (SELECT w FROM dims)))::INT AS cx) cx
        |  CROSS JOIN (SELECT unnest(range(-1, (SELECT h FROM dims)))::INT AS cy) cy
        |  CROSS JOIN (VALUES (25.0),(50.0),(75.0),(100.0)) t(threshold)
        |  LEFT JOIN g b0 ON b0.x = cx.cx     AND b0.y = cy.cy + 1
        |  LEFT JOIN g b1 ON b1.x = cx.cx + 1 AND b1.y = cy.cy + 1
        |  LEFT JOIN g b2 ON b2.x = cx.cx + 1 AND b2.y = cy.cy
        |  LEFT JOIN g b3 ON b3.x = cx.cx     AND b3.y = cy.cy)
        |SELECT threshold, (b0 + 2*b1 + 4*b2 + 8*b3)::BIGINT AS case_idx, count(*)::BIGINT AS n
        |FROM cells GROUP BY 1, 2 HAVING count(*) > 0 ORDER BY 1, 2""".stripMargin,

    "q_segment_count" ->
      """WITH dims AS (SELECT 100::INT AS w, (count(*) / 100)::INT AS h FROM events),
        |g AS (SELECT (event_id % 100)::INT AS x, (event_id // 100)::INT AS y, value AS v FROM events),
        |cells AS (
        |  SELECT t.threshold,
        |    COALESCE((b0.v >= t.threshold)::INT, 0)
        |      + 2 * COALESCE((b1.v >= t.threshold)::INT, 0)
        |      + 4 * COALESCE((b2.v >= t.threshold)::INT, 0)
        |      + 8 * COALESCE((b3.v >= t.threshold)::INT, 0) AS c
        |  FROM (SELECT unnest(range(-1, (SELECT w FROM dims)))::INT AS cx) cx
        |  CROSS JOIN (SELECT unnest(range(-1, (SELECT h FROM dims)))::INT AS cy) cy
        |  CROSS JOIN (VALUES (25.0),(50.0),(75.0),(100.0)) t(threshold)
        |  LEFT JOIN g b0 ON b0.x = cx.cx     AND b0.y = cy.cy + 1
        |  LEFT JOIN g b1 ON b1.x = cx.cx + 1 AND b1.y = cy.cy + 1
        |  LEFT JOIN g b2 ON b2.x = cx.cx + 1 AND b2.y = cy.cy
        |  LEFT JOIN g b3 ON b3.x = cx.cx     AND b3.y = cy.cy)
        |SELECT threshold,
        |  sum(CASE WHEN c IN (0, 15) THEN 0 WHEN c IN (5, 10) THEN 2 ELSE 1 END)::BIGINT AS segments
        |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pip_tag" ->
      """SELECT event_id AS point_id, threshold, (value >= threshold) AS inside
        |FROM events CROSS JOIN (VALUES (25.0),(50.0),(75.0),(100.0)) t(threshold)
        |ORDER BY point_id, threshold""".stripMargin,

    "q_zonal_stats" ->
      """WITH qv AS (SELECT value, floor(value * 1048576.0)::BIGINT AS q FROM events)
        |SELECT threshold,
        |  sum(CASE WHEN value >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_inside,
        |  sum(CASE WHEN value >= threshold THEN q END)::BIGINT AS qsum,
        |  min(CASE WHEN value >= threshold THEN q END) AS qmin,
        |  max(CASE WHEN value >= threshold THEN q END) AS qmax
        |FROM qv CROSS JOIN (VALUES (25.0),(50.0),(75.0),(100.0)) t(threshold)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Predictive oracle: one doc per 50x50 tile of the W x H events grid,
    // and the span-sequence invariant must hold with zero violations — the
    // engine computes the violations by real prefix comparison; the oracle
    // pins the expected outcome.
    "q_span_invariant" ->
      """SELECT (((100 + 49) // 50) *
        |        ((((SELECT count(*) FROM events) // 100) + 49) // 50))::BIGINT AS n_docs,
        |       0::BIGINT AS n_violations, true AS ok""".stripMargin,

    // The media blobs are md5-derived end to end (MultimodalOps), so DuckDB
    // can predict every parsed field and payload byte without touching the
    // binary: a genuine round-trip oracle over the encode->parse plumbing.
    "q_media_meta" ->
      """WITH ids AS (SELECT unnest(range(0, 300)) AS id),
        |img AS (SELECT id,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':w'), 1, 8))::BIGINT % 24 AS w,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':h'), 1, 8))::BIGINT % 24 AS h
        |        FROM ids WHERE id % 3 = 0),
        |aud AS (SELECT id,
        |          64 + ('0x' || substring(md5(id::VARCHAR || ':n'), 1, 8))::BIGINT % 192 AS samples
        |        FROM ids WHERE id % 3 = 1),
        |vid AS (SELECT id,
        |          4 + ('0x' || substring(md5(id::VARCHAR || ':f'), 1, 8))::BIGINT % 12 AS frames
        |        FROM ids WHERE id % 3 = 2)
        |SELECT id AS "mediaId", 'image' AS kind, w::INT AS width, h::INT AS height,
        |       3 AS channels, 0 AS "sampleRate", 1 AS frames, (16 + w * h * 3)::BIGINT AS "nBytes"
        |FROM img
        |UNION ALL
        |SELECT id, 'audio', 0, 0, 1, 8000, samples::INT, (12 + samples * 2)::BIGINT FROM aud
        |UNION ALL
        |SELECT id, 'video', 8, 8, 1, 0, frames::INT, (16 + frames * 64)::BIGINT FROM vid
        |ORDER BY "mediaId"""".stripMargin,

    "q_media_pipeline" ->
      """WITH ids AS (SELECT unnest(range(0, 300)) AS id),
        |img AS (SELECT id,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':w'), 1, 8))::BIGINT % 24 AS w,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':h'), 1, 8))::BIGINT % 24 AS h
        |        FROM ids WHERE id % 3 = 0),
        |aud AS (SELECT id,
        |          64 + ('0x' || substring(md5(id::VARCHAR || ':n'), 1, 8))::BIGINT % 192 AS samples
        |        FROM ids WHERE id % 3 = 1),
        |vid AS (SELECT id,
        |          4 + ('0x' || substring(md5(id::VARCHAR || ':f'), 1, 8))::BIGINT % 12 AS frames
        |        FROM ids WHERE id % 3 = 2),
        |-- nearest-neighbor 8x8 resize picks source pixel (x*w//8, y*h//8)
        |imgb AS (SELECT id, ((y.y * h // 8) * w + (x.x * w // 8)) * 3 + ch.ch AS p
        |         FROM img
        |         CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
        |         CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x
        |         CROSS JOIN (SELECT unnest(range(0, 3)) AS ch) ch),
        |imgsum AS (SELECT id, SUM(('0x' || substring(
        |             md5(id::VARCHAR || ':px:' || (p // 16)::VARCHAR),
        |             ((p % 16) * 2 + 1)::INT, 2))::INT)::BIGINT AS byte_sum
        |           FROM imgb GROUP BY 1),
        |audb AS (SELECT id, unnest(range(0, samples * 2)) AS p FROM aud),
        |audsum AS (SELECT id, SUM(('0x' || substring(
        |             md5(id::VARCHAR || ':pcm:' || (p // 16)::VARCHAR),
        |             ((p % 16) * 2 + 1)::INT, 2))::INT)::BIGINT AS byte_sum
        |           FROM audb GROUP BY 1),
        |-- frame sampling keeps frames 0, 2, 4, ...
        |vidf AS (SELECT id, frames, unnest(range(0, frames)) AS f FROM vid),
        |vidb AS (SELECT id, f * 64 + j.j AS p FROM vidf
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
        |         WHERE f % 2 = 0),
        |vidsum AS (SELECT id, SUM(('0x' || substring(
        |             md5(id::VARCHAR || ':fr:' || (p // 16)::VARCHAR),
        |             ((p % 16) * 2 + 1)::INT, 2))::INT)::BIGINT AS byte_sum
        |           FROM vidb GROUP BY 1)
        |SELECT img.id AS media_id, 'image' AS kind, 208::BIGINT AS n_bytes, imgsum.byte_sum
        |FROM img JOIN imgsum ON imgsum.id = img.id
        |UNION ALL
        |SELECT aud.id, 'audio', (12 + samples * 2)::BIGINT, audsum.byte_sum
        |FROM aud JOIN audsum ON audsum.id = aud.id
        |UNION ALL
        |SELECT vid.id, 'video', (16 + 64 * ((frames + 1) // 2))::BIGINT, vidsum.byte_sum
        |FROM vid JOIN vidsum ON vidsum.id = vid.id
        |ORDER BY media_id""".stripMargin,

    // aHash near-dup: the oracle predicts every resized gray from the md5
    // byte stream, takes the cross-multiplied mean-comparison bits, packs
    // 8-bit band keys, equality-joins candidates and counts true bit
    // mismatches — no 64-bit packing anywhere (bit 63 would overflow
    // BIGINT shifts), which is itself an independent formulation of the
    // engine's packed-long popcount
    "q_media_phash" ->
      """WITH ids AS (SELECT unnest(range(0, 300)) AS id),
        |img AS (SELECT id,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':w'), 1, 8))::BIGINT % 24 AS w,
        |          8 + ('0x' || substring(md5(id::VARCHAR || ':h'), 1, 8))::BIGINT % 24 AS h
        |        FROM ids WHERE id % 3 = 0),
        |px AS (SELECT id, y.y * 8 + x.x AS b,
        |         ((y.y * h // 8) * w + (x.x * w // 8)) * 3 AS p
        |       FROM img CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
        |                CROSS JOIN (SELECT unnest(range(0, 8)) AS x) x),
        |gb AS (SELECT px.id, px.b, px.p + ch.ch AS q
        |       FROM px CROSS JOIN (VALUES (0),(1),(2)) ch(ch)),
        |g AS (SELECT id, b, sum(('0x' || substring(
        |        md5(id::VARCHAR || ':px:' || (q // 16)::VARCHAR),
        |        ((q % 16) * 2 + 1)::INT, 2))::INT)::BIGINT AS gv
        |      FROM gb GROUP BY 1, 2),
        |tot AS (SELECT id, sum(gv) AS tot FROM g GROUP BY 1),
        |bits AS (SELECT g.id, g.b, CASE WHEN g.gv * 64 > tot.tot THEN 1 ELSE 0 END AS bit
        |         FROM g JOIN tot ON tot.id = g.id),
        |bands AS (SELECT id, (b // 8)::INT AS band,
        |            sum(bit * (1 << (b % 8)::INT))::BIGINT AS bkey
        |          FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.id AS media_a, b2.id AS media_b
        |         FROM bands a JOIN bands b2
        |           ON b2.band = a.band AND b2.bkey = a.bkey AND a.id < b2.id),
        |ham AS (SELECT c.media_a, c.media_b,
        |          sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
        |        FROM cand c JOIN bits ba ON ba.id = c.media_a
        |        JOIN bits bb ON bb.id = c.media_b AND bb.b = ba.b
        |        GROUP BY 1, 2)
        |SELECT media_a::BIGINT AS media_a, media_b::BIGINT AS media_b, hamming
        |FROM ham WHERE hamming <= 26 ORDER BY 1, 2""".stripMargin,

    "q_tile_assignment" ->
      """WITH pts AS (SELECT event_id, ((event_id % 100) // 50)::BIGINT AS tx,
        |                    ((event_id // 100) // 50)::BIGINT AS ty FROM events),
        |sp AS (SELECT event_id, tx, ty,
        |  -- Morton bit-spread of tx (even bits) and ty (odd bits), same mask
        |  -- cascade as index.CellIndex.spread
        |  ((((((tx & 2147483647) | ((tx & 2147483647) << 16)) & 281470681808895
        |      | ((((tx & 2147483647) | ((tx & 2147483647) << 16)) & 281470681808895) << 8)) & 71777214294589695
        |      | (((((tx & 2147483647) | ((tx & 2147483647) << 16)) & 281470681808895
        |      | ((((tx & 2147483647) | ((tx & 2147483647) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095)) AS sx4,
        |  ((((((ty & 2147483647) | ((ty & 2147483647) << 16)) & 281470681808895
        |      | ((((ty & 2147483647) | ((ty & 2147483647) << 16)) & 281470681808895) << 8)) & 71777214294589695
        |      | (((((ty & 2147483647) | ((ty & 2147483647) << 16)) & 281470681808895
        |      | ((((ty & 2147483647) | ((ty & 2147483647) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095)) AS sy4
        | FROM pts),
        |sp2 AS (SELECT event_id, tx, ty,
        |  (((sx4 | (sx4 << 2)) & 3689348814741910323) | (((sx4 | (sx4 << 2)) & 3689348814741910323) << 1)) & 6148914691236517205 AS sx,
        |  (((sy4 | (sy4 << 2)) & 3689348814741910323) | (((sy4 | (sy4 << 2)) & 3689348814741910323) << 1)) & 6148914691236517205 AS sy
        | FROM sp)
        |SELECT event_id, tx AS tile_x, ty AS tile_y,
        |       (sx | (sy << 1))::BIGINT AS cell,
        |       ((sx | (sy << 1)) >> 4)::BIGINT AS parent_cell_l2
        |FROM sp2 ORDER BY event_id""".stripMargin,

    // Independent formulation: the engine rolls up level l from level l-1
    // (cell >>> 2); the oracle recomputes EVERY level directly from the raw
    // points (px0 >> level) and re-derives the Morton key per level through
    // the same staged bit-spread cascade as q_tile_assignment — so the
    // parent-key identity morton(px,py) >> 2 == morton(px>>1, py>>1) that
    // the engine's single-shuffle design relies on is itself under test.
    "q_cell_rollup" ->
      s"""WITH pts AS (SELECT ((event_id % 100) // 50)::BIGINT AS px0,
         |                    ((event_id // 100) // 50)::BIGINT AS py0,
         |                    floor(value * 1048576.0)::BIGINT AS qv FROM events),
         |lv AS (SELECT unnest(range(0, 4))::INT AS level),
         |cells AS (SELECT level, (px0 >> level)::BIGINT AS px,
         |                 (py0 >> level)::BIGINT AS py,
         |                 count(*)::BIGINT AS n_points, sum(qv)::BIGINT AS qv_sum
         |          FROM pts CROSS JOIN lv GROUP BY 1, 2, 3),
         |${mortonStagesSql("cells", "level, px, py, n_points, qv_sum")}
         |SELECT level, (sx | (sy << 1))::BIGINT AS cell, px, py, n_points, qv_sum
         |FROM s5 ORDER BY level, cell""".stripMargin,

    // The q_pip_tag pixel-center identity (center strictly inside the
    // unsmoothed threshold-t curve iff value >= t) folded to a class per
    // cell, then pooled by 10x10 block — checks the whole geometric burn
    // chain relationally without reconstructing any geometry.
    "q_rasterize" ->
      """WITH cls AS (SELECT event_id,
        |    ((value >= 25.0)::INT + (value >= 50.0)::INT
        |     + (value >= 75.0)::INT + (value >= 100.0)::INT)::BIGINT AS cls
        |  FROM events)
        |SELECT ((event_id % 100) // 10)::BIGINT AS block_x,
        |       ((event_id // 100) // 10)::BIGINT AS block_y,
        |       count(*)::BIGINT AS n_cells,
        |       sum(cls)::BIGINT AS sum_class,
        |       max(cls)::BIGINT AS max_class
        |FROM cls GROUP BY 1, 2 ORDER BY block_x, block_y""".stripMargin,

    // Independent formulation: the engine buckets stations into radius-
    // sized cells and probes 3x3 neighborhoods; the oracle brute-forces the
    // full station x target join with the SAME d2 expression tree and
    // per-pair quantized terms — so the bucketing's claim (the 3x3 probe
    // finds every station within the radius, no duplicates) is under test.
    "q_idw_grid" ->
      """WITH st AS (SELECT (event_id % 100) + 0.5 AS sx,
        |                   (event_id // 100) + 0.5 AS sy, value AS v
        |            FROM events WHERE event_id % 37 = 0),
        |d AS (SELECT (count(*) // 100)::INT AS h FROM events),
        |tg AS (SELECT (j.j * 10 + i.i)::BIGINT AS tid,
        |              (i.i * 10)::DOUBLE AS tx, (j.j * 10)::DOUBLE AS ty
        |       FROM (SELECT unnest(range(0, 10))::INT AS i) i
        |       CROSS JOIN (SELECT unnest(range(0, (SELECT h FROM d) // 10))::INT AS j) j),
        |p AS (SELECT tid,
        |        ((sx - tx) * (sx - tx)) + ((sy - ty) * (sy - ty)) AS d2, v
        |      FROM tg JOIN st
        |        ON ((sx - tx) * (sx - tx)) + ((sy - ty) * (sy - ty)) <= 64.0
        |       AND ((sx - tx) * (sx - tx)) + ((sy - ty) * (sy - ty)) > 0.0)
        |SELECT tid, count(*)::BIGINT AS n_stations,
        |  sum(floor(1.0 / d2 * 1048576.0)::BIGINT)::BIGINT AS qw_sum,
        |  sum(floor(v / d2 * 1048576.0)::BIGINT)::BIGINT AS qwv_sum
        |FROM p GROUP BY 1 ORDER BY tid""".stripMargin
  ) ++ TrainingOps.oracleSql ++ RasterOps.oracleSql ++ EventOps.oracleSql ++
    StatsOps.oracleSql ++ HydroOps.oracleSql ++ HullOps.oracleSql ++
    RelOps.oracleSql

  /** Staged Morton bit-spread CTE chain (DuckDB): takes a CTE `src` with
    * BIGINT columns `px`, `py` (non-negative, 31-bit) plus `carry` columns
    * to pass through, and yields CTE `s5` with spread columns `sx`, `sy`
    * such that the cell key is `sx | (sy << 1)` — token-for-token the same
    * five-step mask cascade as [[graft.index.CellIndex.spread]] /
    * `CellIndex.mortonCol` (masks 0x0000ffff0000ffff, 0x00ff00ff00ff00ff,
    * 0x0f0f0f0f0f0f0f0f, 0x3333333333333333, 0x5555555555555555 in
    * decimal). Staged CTEs keep the SQL linear where full inlining would be
    * exponential in the cascade depth. */
  private def mortonStagesSql(src: String, carry: String): String = {
    val stages = Seq(
      (16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205"))
    val s0 = s"""s0 AS (SELECT $carry, (px & 2147483647) AS sx, (py & 2147483647) AS sy FROM $src)"""
    val rest = stages.zipWithIndex.map { case ((shift, mask), i) =>
      s"""s${i + 1} AS (SELECT $carry, ((sx | (sx << $shift)) & $mask) AS sx,
         |  ((sy | (sy << $shift)) & $mask) AS sy FROM s$i)""".stripMargin
    }
    (s0 +: rest).mkString(",\n")
  }
}
