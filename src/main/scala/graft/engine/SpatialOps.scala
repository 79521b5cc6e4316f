package graft.engine

import graft.core.Clip
import graft.model.ContourRow
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial-join operators over the engine's vector outputs:
  *
  *  - point-in-polygon tagging: ring segments are cut into horizontal
  *    y-bands, one primitive-array row per (band, ring), and one band
  *    cogroup tags each point by even-odd depth over ALL rings (exteriors +
  *    holes); nothing is collected but the threshold set;
  *  - kNN join against contour vertices: grid-cell bucketed join with an
  *    expanding ring search (r = 2 cells first; unresolved queries fall back
  *    to a brute-force pass), deterministic tie-break on (dist, x, y).
  */
object SpatialOps {

  /** Height of a point-in-polygon band, in coordinate units. */
  private val PipBand = 8.0

  @inline private def pipBand(y: Double): Int = math.floor(y / PipBand).toInt

  /** Point-in-polygon tagging: for each (id, x, y) point and threshold,
    * inside = an odd number of that threshold's rings (every grid's
    * exteriors and holes, tested without their closing point) strictly
    * contain the point. A point on a ring's boundary is neither inside nor
    * outside that ring (the reference's ring_contains verdict 0).
    *
    * Each ring becomes one record per y-band its segments reach, holding
    * those segments in one primitive array; each point partition packs its
    * points into one primitive-array record per band, and one cogroup per
    * band walks every ring record against the band's points: verdict 0 if
    * any segment of the ring contains the point, else ray parity with the
    * reference's f64 crossing expression. No record per (point, segment)
    * pair exists, so the shuffle is O(segments + points) in bytes and
    * O(rings + bands x partitions) in records, and a band holds only the
    * rings crossing it. Every (point, threshold) pair gets a row; a band
    * with no rings emits all-false rows.
    *
    * The cogroup is an RDD cogroup on a band-modulo HashPartitioner with
    * `spark.sql.shuffle.partitions` partitions, so a call plans no Catalyst
    * query and derives no typed encoder beyond its result's: that
    * driver-side work is a fixed cost of every call.
    *
    * `contours` is read twice (the threshold set, then the rings), so
    * persist it first: an unpersisted `ContourEngine.contours` re-runs its
    * whole job on the second read, decode and kernel included when no
    * kernel cache backs it (a hinted job at one merge level has none).
    *
    * Returns (point_id: long, threshold: double, inside: boolean).
    */
  def pipTagPartitioned(spark: SparkSession, points: Dataset[(Long, Double, Double)],
                        contours: Dataset[ContourRow]): DataFrame = {
    import spark.implicits._
    // CONFIG-cardinality (the builder's threshold ladder), not data-
    // cardinality, so collecting it is bounded; + 0.0 turns -0.0 into 0.0,
    // and the index lookup below uses == to match it
    val ts = contours.rdd.aggregate(Set.empty[Double])((s, c) => s + (c.threshold + 0.0), _ ++ _)
      .toArray.sorted
    val rings = contours.rdd.flatMap { c =>
      val t = ts.indexWhere(_ == c.threshold)
      c.polygons.iterator.flatMap(p => Iterator.single(p.exterior) ++ p.holes.iterator)
        .flatMap(r => bandRows(Clip.openRing(r)).map { case (b, segs) => (b, (t, segs)) })
    }
    val byBand = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    spark.createDataset(points.rdd.mapPartitions(bandPoints).cogroup(rings, byBand)
      .flatMap { case (_, (chunks, ringRows)) => tagBand(chunks, ringRows, ts) })
      .toDF("point_id", "threshold", "inside")
  }

  /** One (band, segments) record per band an open ring's segments reach;
    * each segment packs (ax, ay, bx, by), with a/b in the reference's
    * (current, previous) roles so the crossing division is bit-identical.
    */
  private def bandRows(ring: Array[Double]): Iterator[(Int, Array[Double])] = {
    val n = ring.length / 2
    val bands = new scala.collection.mutable.LongMap[graft.core.DoubleBuf]
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val ax = ring(2 * i); val ay = ring(2 * i + 1)
      val bx = ring(2 * j); val by = ring(2 * j + 1)
      // Bands cover the y-span plus the segment's EXACT on-boundary
      // claim slack (the same derivation as RingIndex's margins):
      //  - |dx| >= EPSILON (segmentContains' x-dominant branch):
      //    |cross| < EPSILON bounds the claimed point's y-deviation
      //    from the segment by EPSILON/|dx| in real arithmetic; the FP
      //    evaluation of the cross product adds rounding error up to
      //    ~2*EPSILON*(|dx*(cy-ay)| + |(cx-ax)*dy|), i.e. proportional
      //    to the SEGMENT SPAN in arbitrary (post-affine) frames —
      //    8*EPSILON*max(1, dx+dy) over-bounds it (deviation D solves
      //    D <= EPSILON/dx + 2*EPSILON*(D + span));
      //  - |dx| < EPSILON (vertical branch, incl. the post-smoothing
      //    cancellation case 0 < |dx| < EPSILON): within(ay, cy, by)
      //    requires y inside the EXACT y-span — slack 0.
      // Crossings need y strictly within the span and are unaffected.
      val adx = math.abs(bx - ax); val ady = math.abs(by - ay)
      val slack =
        if (adx < graft.core.Geom.Epsilon) 0.0
        else graft.core.Geom.Epsilon / adx +
          8.0 * graft.core.Geom.Epsilon * math.max(1.0, adx + ady)
      for (b <- pipBand(math.min(ay, by) - slack) to pipBand(math.max(ay, by) + slack)) {
        val buf = bands.getOrElseUpdate(b, new graft.core.DoubleBuf(16))
        buf.addPt(ax, ay); buf.addPt(bx, by)
      }
      i += 1
    }
    bands.iterator.map { case (b, buf) => (b.toInt, buf.toArray) }
  }

  /** One partition's points as one (band, (ids, packed x, y)) record per
    * band they fall in.
    */
  private def bandPoints(pts: Iterator[(Long, Double, Double)])
      : Iterator[(Int, (Array[Long], Array[Double]))] = {
    val bands = new scala.collection.mutable.LongMap[
      (scala.collection.mutable.ArrayBuilder.ofLong, graft.core.DoubleBuf)]
    pts.foreach { case (id, x, y) =>
      val (ids, xys) = bands.getOrElseUpdate(pipBand(y),
        (new scala.collection.mutable.ArrayBuilder.ofLong, new graft.core.DoubleBuf(64)))
      ids += id; xys.addPt(x, y)
    }
    bands.iterator.map { case (b, (ids, xys)) => (b.toInt, (ids.result(), xys.toArray)) }
  }

  /** Tags one band's points (one chunk per point partition) against its
    * (threshold index, segments) ring records: one (point_id, threshold,
    * inside) row per point and threshold.
    */
  private def tagBand(chunks: Iterable[(Array[Long], Array[Double])],
                      ringRows: Iterable[(Int, Array[Double])],
                      ts: Array[Double]): Iterator[(Long, Double, Boolean)] = {
    val ids = Array.concat(chunks.map(_._1).toSeq: _*)
    val xys = Array.concat(chunks.map(_._2).toSeq: _*)
    val np = ids.length
    if (np == 0) return Iterator.empty // a band of segments only
    // depth parity per (threshold index, point)
    val depthOdd = new Array[Boolean](ts.length * np)
    ringRows.foreach { case (t, segs) =>
      val base = t * np
      var p = 0
      while (p < np) {
        val x = xys(2 * p); val y = xys(2 * p + 1)
        var on = false; var odd = false
        var k = 0
        while (!on && k < segs.length) {
          val ax = segs(k); val ay = segs(k + 1); val bx = segs(k + 2); val by = segs(k + 3)
          if (graft.core.Geom.segmentContains(ax, ay, bx, by, x, y)) on = true
          else if (((ay > y) != (by > y)) && x < (bx - ax) * (y - ay) / (by - ay) + ax)
            odd = !odd
          k += 4
        }
        // contains == 1 (strictly inside): on no segment AND odd parity
        if (!on && odd) depthOdd(base + p) = !depthOdd(base + p)
        p += 1
      }
    }
    Iterator.range(0, ts.length).flatMap { t =>
      Iterator.range(0, np).map(p => (ids(p), ts(t), depthOdd(t * np + p)))
    }
  }

  /** Zonal statistics — the classic raster x vector operator: aggregate a
    * value per sample point over the ZONES defined by each threshold's
    * MultiPolygon (even-odd over all rings, boundary points excluded, the
    * same verdict as pipTagPartitioned). Built on that y-band PIP cogroup, so
    * nothing is collected and the shuffle volume is O(segments + points);
    * the aggregation is one map-side-combinable pass over the tagged
    * frame. Values arrive pre-quantized (`qv`, e.g. floor(v * 2^20)) so
    * every aggregate is an order-free integer — sums never depend on
    * combine order. Zones with no interior points keep their row
    * (n_inside = 0, null extrema) because the tagged frame carries every
    * (point, threshold) pair — the values frame joins LEFT, so n_inside
    * counts every inside point while qsum/qmin/qmax cover the inside
    * points that have a value (a partial values frame narrows the sums,
    * never the counts).
    *
    * Returns (threshold, n_inside, qsum, qmin, qmax).
    */
  def zonalStats(spark: SparkSession, points: Dataset[(Long, Double, Double)],
                 contours: Dataset[ContourRow], values: DataFrame): DataFrame = {
    val qv = when(col("inside"), col("qv"))
    pipTagPartitioned(spark, points, contours)
      .join(values.select(col("point_id"), col("qv")), Seq("point_id"), "left")
      .groupBy("threshold")
      .agg(sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"),
        sum(qv).as("qsum"), min(qv).as("qmin"), max(qv).as("qmax"))
      .orderBy("threshold")
  }

  /** Per-threshold contour length statistics: polyline length summed over
    * every ring (exteriors + holes) of each threshold's MultiPolygon.
    * Exactness: each segment's f64 length — sqrt((bx-ax)^2 + (by-ay)^2),
    * evaluated in exactly that operation order — quantizes INDEPENDENTLY
    * (floor(len * 2^20)), so the total is an order-free integer sum; no
    * float accumulation ever crosses a combine boundary. Zero-length
    * segments (post-smoothing dedup artifacts, when present) contribute
    * nothing and are excluded from the count, making the VALUES identical
    * whether or not an upstream dedup already collapsed them. (ROW
    * presence has one data-dependent edge: a threshold whose segments are
    * ALL degenerate — only possible when a sample equals the threshold
    * exactly, the same class the isoband oracle documents — would emit no
    * engine row while a segment-enumerating oracle still groups one;
    * verified absent at sf0.01/sf0.1, and a future data change fails the
    * gate loudly rather than silently.) Length is
    * orientation- and rotation-invariant, so ring winding/starting point
    * (which assembly controls) cannot affect the result.
    *
    * Returns (threshold, n_segments, qlen_sum).
    */
  def contourLengthStats(spark: SparkSession, contours: Dataset[ContourRow]): DataFrame = {
    import spark.implicits._
    contours.flatMap { c =>
      ringEdges(c).map { case (ax, ay, bx, by) =>
        val len = math.sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
        (c.threshold, if (ax == bx && ay == by) 0L else 1L,
          math.floor(len * 1048576.0).toLong)
      }
    }.toDF("threshold", "seg", "qlen")
      .groupBy("threshold")
      .agg(sum(col("seg")).as("n_segments"), sum(col("qlen")).as("qlen_sum"))
      .orderBy("threshold")
  }

  /** Per-threshold shoelace MOMENT statistics over every assembled ring:
    * the doubled signed area and both first-moment (centroid numerator)
    * sums of the threshold's MultiPolygon, as order-free integer sums.
    *
    * Each directed ring edge (a -> b) contributes independently:
    * cross = ax*by - bx*ay — the NEGATION of
    * /root/reference/src/area.rs's summand (prev.y*cur.x - prev.x*cur.y,
    * the convention Geom.area2 keeps bit-exact); this operator uses the
    * standard CCW-positive shoelace sign instead, mirrored verbatim by its
    * oracle, so the engine/oracle compare is unaffected — only the sign
    * convention differs from the ring-closure kernels. mx = (ax+bx)*cross,
    * my = (ay+by)*cross (the standard polygon-centroid numerator terms,
    * centroid = (sum mx, sum my) / (3 * sum cross)). Every term is a fixed
    * f64 expression of ONE edge's endpoints and quantizes independently
    * (floor(v * 2^20)), so the per-threshold totals are plain integer sums
    * — no float accumulation crosses a combine boundary, and hole rings'
    * opposite winding subtracts exactly as the signed cross does. A
    * degenerate edge (a == b, post-smoothing collapse) has cross =
    * ax*ay - ax*ay = +0.0 EXACTLY, so every one of its terms quantizes to
    * 0: the stats are dedup-agnostic with no exclusion rule needed, and
    * n_edges deliberately counts all directed edges (= directed
    * marching-squares segments) so row totals stay checkable against
    * q_segment_count-style conservation.
    *
    * Returns (threshold, n_edges, qa2_sum, qmx_sum, qmy_sum); thresholds
    * with no rings report zeros (row presence is by the threshold ladder,
    * not the data).
    */
  def contourMomentStats(spark: SparkSession, contours: Dataset[ContourRow],
                         thresholds: Seq[Double]): DataFrame = {
    import spark.implicits._
    val edges = contours.flatMap { c =>
      ringEdges(c).map { case (ax, ay, bx, by) =>
        val cross = ax * by - bx * ay
        (c.threshold, 1L,
          math.floor(cross * 1048576.0).toLong,
          math.floor((ax + bx) * cross * 1048576.0).toLong,
          math.floor((ay + by) * cross * 1048576.0).toLong)
      }
    }.toDF("threshold", "e", "qa2", "qmx", "qmy")
      .groupBy("threshold")
      .agg(sum(col("e")).as("n_edges"), sum(col("qa2")).as("qa2_sum"),
        sum(col("qmx")).as("qmx_sum"), sum(col("qmy")).as("qmy_sum"))
    edges.join(thresholds.toDF("threshold"), Seq("threshold"), "right")
      .na.fill(0L, Seq("n_edges", "qa2_sum", "qmx_sum", "qmy_sum"))
      .orderBy("threshold")
  }

  /** ISOPERIMETRIC COMPACTNESS per threshold — the shape-quality index a
    * contour consumer thresholds on (a circle maximizes area/perimeter^2
    * at 1/(4*pi) ~ 0.0796; fractal or filamentary layers score near 0):
    * comp_x1e9 = floor(|qa2_sum| * 2^20 * 10^9 / (2 * qlen_sum^2)) —
    * EXACTLY A / P^2 in the quantized units (qa2 ~ 2A*2^20, qlen ~
    * P*2^20, so A/P^2 = qa2 * 2^20 / (2 * qlen^2); pi deliberately never
    * enters — the integer-exact-surface contract, like the sqrt-free
    * Getis share). BOTH sums come from ONE pass over the ring edges
    * (the moments and length kernels share ringEdges; this operator
    * fuses them, so the raster->contour pipeline runs once and a single
    * threshold-cardinality groupBy carries integer partials): per edge,
    * cross = ax*by - bx*ay quantized exactly like contourMomentStats and
    * len = sqrt(dx^2 + dy^2) quantized exactly like contourLengthStats —
    * degenerate edges contribute exact zeros to both, so the stats stay
    * dedup-agnostic. |qa2| makes the index winding-agnostic (holes still
    * subtract INSIDE the sum first — net interior area, the standard
    * definition). The numerator rides decimal(38,0) (qa2 * 2^20 * 10^9
    * overflows BIGINT on continent-sized layers); thresholds with no
    * rings report zeros with a NULL index (stated contract — never a
    * zero-divide).
    */
  def compactnessStats(spark: SparkSession, contours: Dataset[ContourRow],
                       thresholds: Seq[Double]): DataFrame = {
    import spark.implicits._
    val dec = "decimal(38,0)"
    val edges = contours.flatMap { c =>
      ringEdges(c).map { case (ax, ay, bx, by) =>
        val cross = ax * by - bx * ay
        val len = math.sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
        (c.threshold,
          math.floor(cross * 1048576.0).toLong,
          math.floor(len * 1048576.0).toLong)
      }
    }.toDF("threshold", "qa2", "qlen")
      .groupBy("threshold")
      .agg(sum(col("qa2")).as("qa2_sum"), sum(col("qlen")).as("qlen_sum"))
    edges.join(thresholds.toDF("threshold"), Seq("threshold"), "right")
      .na.fill(0L, Seq("qa2_sum", "qlen_sum"))
      .select(col("threshold"), col("qa2_sum"), col("qlen_sum"),
        when(col("qlen_sum") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"cast((abs(cast(qa2_sum as $dec)) * 1048576 * 1000000000) div " +
            s"(2 * cast(qlen_sum as $dec) * cast(qlen_sum as $dec)) as bigint)"))
          .as("comp_x1e9"))
      .orderBy("threshold")
  }

  /** BOX-COUNTING statistics per threshold — the fractal-dimension
    * diagnostic of a contour layer (a smooth boundary halves its box
    * count when the box doubles; a space-filling one quarters it): over
    * the ring VERTEX cloud (each ring vertex is the start of exactly one
    * directed segment, closing duplicates dropped), the number of
    * occupied boxes at side 1, 2 and 4 — box keys are floor(px / s)
    * pairs, EXACT because /2 and /4 are power-of-two f64 divisions and
    * floor is a deterministic function of the (bit-exact) smoothed
    * coordinate on both compare sides. dim_x1e6 = nb1 * 10^6 div nb2 is
    * the 1-vs-2 occupancy ratio (2^d for dimension d); thresholds with no
    * rings report all zeros (stated contract — no zero-divide leaves the
    * fill row). Plan: one narrow vertex flatMap; the three distinct
    * counts expand the (threshold, box) stream map-side and reduce on the
    * threshold-cardinality key — no vertex ever joins anything.
    */
  def boxCountStats(spark: SparkSession, contours: Dataset[ContourRow],
                    thresholds: Seq[Double]): DataFrame = {
    import spark.implicits._
    val verts = contours.flatMap { c =>
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
        val n = ring.length / 2 - 1
        (0 until n).iterator.map(i => (c.threshold, ring(2 * i), ring(2 * i + 1)))
      }
    }.toDF("threshold", "px", "py")
    verts.groupBy("threshold").agg(
        count(lit(1)).as("n_pts"),
        countDistinct(floor(col("px")), floor(col("py"))).as("nb1"),
        countDistinct(floor(col("px") / 2), floor(col("py") / 2)).as("nb2"),
        countDistinct(floor(col("px") / 4), floor(col("py") / 4)).as("nb4"))
      .join(thresholds.toDF("threshold"), Seq("threshold"), "right")
      .na.fill(0L, Seq("n_pts", "nb1", "nb2", "nb4"))
      .select(col("threshold"), col("n_pts"), col("nb1"), col("nb2"), col("nb4"),
        when(col("nb2") === 0L, 0L)
          .otherwise(expr("(nb1 * 1000000L) div nb2")).as("dim_x1e6"))
      .orderBy("threshold")
  }

  /** One-pass Visvalingam–Whyatt simplification statistics: for every ring
    * vertex, the doubled area of the triangle it forms with its two ring
    * neighbours (cyclic), and the count of vertices that SURVIVE a single
    * elimination pass at tolerance `eps2q` — i.e. whose effective area is
    * at least the tolerance. This is the non-iterative VW filter (one
    * sweep, no re-evaluation after removal), the embarrassingly parallel
    * variant that needs no sequential priority queue — the right first
    * pass at scale, and a deterministic contract: kept(v) depends only on
    * v's original neighbours.
    *
    * Exactness: the doubled triangle area is the fixed-order f64 expression
    * (vx-px)*(ny-py) - (nx-px)*(vy-py), quantized per vertex
    * (floor(|a2| * 2^20)), and the KEEP decision compares in the quantized
    * INTEGER domain (qa >= eps2q) — no FP threshold can sit within an ulp
    * of the compare. Sums over kept vertices are order-free integer sums.
    *
    * Returns (threshold, n_vertices, n_kept, qkept_sum); thresholds with
    * no rings report zeros.
    */
  def simplifyStats(spark: SparkSession, contours: Dataset[ContourRow],
                    thresholds: Seq[Double], eps2q: Long): DataFrame = {
    import spark.implicits._
    val verts = contours.flatMap { c =>
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
        val n = ring.length / 2 - 1 // closing duplicate dropped; neighbours cyclic
        (0 until n).iterator.map { i =>
          val ip = (i + n - 1) % n; val in = (i + 1) % n
          val px = ring(2 * ip); val py = ring(2 * ip + 1)
          val vx = ring(2 * i); val vy = ring(2 * i + 1)
          val nx = ring(2 * in); val ny = ring(2 * in + 1)
          val a2 = (vx - px) * (ny - py) - (nx - px) * (vy - py)
          val qa = math.floor(math.abs(a2) * 1048576.0).toLong
          (c.threshold, 1L, if (qa >= eps2q) 1L else 0L, if (qa >= eps2q) qa else 0L)
        }
      }
    }.toDF("threshold", "v", "kept", "qa")
      .groupBy("threshold")
      .agg(sum(col("v")).as("n_vertices"), sum(col("kept")).as("n_kept"),
        sum(col("qa")).as("qkept_sum"))
    verts.join(thresholds.toDF("threshold"), Seq("threshold"), "right")
      .na.fill(0L, Seq("n_vertices", "n_kept", "qkept_sum"))
      .orderBy("threshold")
  }

  /** Full Douglas–Peucker simplification of every ring of a contour set
    * (core.Simplify) at tolerance `eps` — the recursive companion to the
    * one-pass simplifyStats filter. The distribution unit is the RING
    * (perimeter-bounded), executed inside one narrow map — no shuffle.
    * Rings that simplify below 3 distinct vertices are dropped; a polygon
    * whose exterior degenerates is dropped with its holes.
    */
  def simplifyContours(contours: Dataset[ContourRow], eps: Double): Dataset[ContourRow] = {
    import contours.sparkSession.implicits._
    contours.map { c =>
      graft.model.ContourRow(c.gridId, c.threshold, c.polygons.flatMap { p =>
        val ext = graft.core.Simplify.ring(p.exterior, eps)
        if (ext.length < 8) None // fewer than 3 distinct vertices + close
        else Some(graft.model.PolyRow(ext,
          p.holes.map(h => graft.core.Simplify.ring(h, eps)).filter(_.length >= 8)))
      })
    }
  }

  /** Every directed edge (a -> b) of every ring (exteriors + holes) of a
    * contour row: rings close explicitly ([v0..vn-1, v0]), so consecutive
    * pairs cover each directed segment of the cycle exactly once. The ONE
    * definition of the ring->segment walk — length/moments/near-dist all
    * fold over it (the specs' brute forces deliberately re-derive it
    * independently).
    */
  private def ringEdges(c: ContourRow): Iterator[(Double, Double, Double, Double)] =
    c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
      (0 until ring.length / 2 - 1).iterator.map { i =>
        (ring(2 * i), ring(2 * i + 1), ring(2 * i + 2), ring(2 * i + 3))
      }
    }

  /** Exact segment-crossing counts between a contour layer and its
    * TRANSLATED copy — the vector-overlay primitive (the ST_Intersects /
    * ST_Crosses counting analog): every smoothed ring segment of layer A
    * is tested for PROPER crossing against every segment of layer B (= A
    * shifted by (dx, dy), both exact binary fractions so the translation
    * is IEEE-exact) at the same threshold. The predicate runs ENTIRELY in
    * the quantized integer domain — endpoints floor(c * 2^20) first, then
    * the four orientation cross products with strict sign-opposition
    * tests (no o1*o2 product, which could overflow; touching/collinear
    * pairs are excluded by contract) — so no float tolerance sits within
    * an ulp of a crossing decision. Plan: the q_contour_near_dist
    * cell-bucket idiom — a smoothed marching-squares segment spans
    * <= sqrt(2), so two crossing segments' start points lie within
    * 2*sqrt(2) < 4 of each other; layer B buckets by start into 4-cells,
    * layer A probes its 3x3 neighborhood (each (A, B) pair tested at most
    * once: A's probe set covers B's single home cell), and the bucket
    * locality also bounds every orientation operand under 2^24 (products
    * < 2^46 — Long-safe with 2^17 headroom). The oracle brute-forces the
    * join behind the sound |start delta| <= 4 bbox prune: a different
    * candidate superset, the same exact predicate, therefore the same
    * crossing set. Output per threshold: crossing-pair count plus the
    * order-free integer sum of each pair's first orientation term (the
    * discriminator pinning WHICH pairs crossed).
    */
  /** Below this many segments the un-fanned side broadcasts (a few tens
    * of MB built); above, the join degrades to the shuffled path — the
    * deliberate strategy choice (guide §3.1) that a checkpointed input
    * (whose LogicalRDD carries no size estimate) would otherwise never
    * get from the planner.
    */
  private val BroadcastSegLimit = 500000L

  def segCrossings(spark: SparkSession, contours: Dataset[ContourRow],
                   dx: Double, dy: Double): DataFrame = {
    import spark.implicits._
    // one segment row per ring edge, SPREAD across the cores: the contour
    // set is a handful of fat rows (one per threshold), so without the
    // repartition the whole probe+predicate pipeline fuses into as many
    // tasks as there are contour rows (3-way parallelism on a 16-core
    // host — the round-1 measurement's stall)
    val segs = contours.flatMap { c =>
      ringEdges(c).map { case (ax, ay, bx, by) => (c.threshold, ax, ay, bx, by) }
    }.toDF("threshold", "ax", "ay", "bx", "by")
      .repartition(math.max(8, spark.sparkContext.defaultParallelism))
      .localCheckpoint(eager = true) // feeds BOTH layers (A and translated B)
    val nSegs = segs.count()
    def q(c: org.apache.spark.sql.Column) = floor(c * RasterQ20).cast("long")
    val s = 4.0
    val a = segs.select(col("threshold"),
      q(col("ax")).as("a1x"), q(col("ay")).as("a1y"),
      q(col("bx")).as("a2x"), q(col("by")).as("a2y"),
      floor(col("ax") / s).cast("long").as("acx"),
      floor(col("ay") / s).cast("long").as("acy"))
      .withColumn("o", explode(lit((0 until 9).toArray)))
      .select(col("threshold"), col("a1x"), col("a1y"), col("a2x"), col("a2y"),
        (col("acx") + col("o") % 3 - 1).as("cx"),
        (col("acy") + col("o").divide(3).cast("int") - 1).as("cy"))
    val b = segs.select(col("threshold"),
      q(col("ax") + dx).as("b1x"), q(col("ay") + dy).as("b1y"),
      q(col("bx") + dx).as("b2x"), q(col("by") + dy).as("b2y"),
      floor((col("ax") + dx) / s).cast("long").as("cx"),
      floor((col("ay") + dy) / s).cast("long").as("cy"))
    def orient(px: org.apache.spark.sql.Column, py: org.apache.spark.sql.Column,
               qx: org.apache.spark.sql.Column, qy: org.apache.spark.sql.Column,
               rx: org.apache.spark.sql.Column, ry: org.apache.spark.sql.Column) =
      (qx - px) * (ry - py) - (rx - px) * (qy - py)
    def opposite(o1: org.apache.spark.sql.Column, o2: org.apache.spark.sql.Column) =
      (o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)
    // broadcast the UN-FANNED layer when it fits: the 9x-replicated probe
    // side then never shuffles at all; a contour layer too big to build
    // hashes falls back to the key-equality shuffle join unchanged
    val bSide = if (nSegs <= BroadcastSegLimit) broadcast(b) else b
    a.join(bSide, Seq("threshold", "cx", "cy"))
      .withColumn("oa1", orient(col("a1x"), col("a1y"), col("a2x"), col("a2y"),
        col("b1x"), col("b1y")))
      .withColumn("oa2", orient(col("a1x"), col("a1y"), col("a2x"), col("a2y"),
        col("b2x"), col("b2y")))
      .withColumn("ob1", orient(col("b1x"), col("b1y"), col("b2x"), col("b2y"),
        col("a1x"), col("a1y")))
      .withColumn("ob2", orient(col("b1x"), col("b1y"), col("b2x"), col("b2y"),
        col("a2x"), col("a2y")))
      .filter(opposite(col("oa1"), col("oa2")) && opposite(col("ob1"), col("ob2")))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_crossings"), sum(col("oa1")).as("o_sum"))
      .orderBy("threshold")
  }

  /** Vertices of every ring of a contour set, deduplicated per threshold
    * (the closing duplicate dropped), as (threshold, vx, vy).
    */
  def contourVertices(spark: SparkSession, contours: Dataset[ContourRow]): DataFrame = {
    import spark.implicits._
    contours.flatMap { c =>
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
        // drop the closing duplicate point
        (0 until ring.length / 2 - 1).iterator.map(i => (c.threshold, ring(2 * i), ring(2 * i + 1)))
      }
    }.toDF("threshold", "vx", "vy")
  }

  /** kNN join: for each query point, the k nearest (vx, vy) vertices, by a
    * true EXPANDING-RING search — never a cartesian. Both sides bucket into
    * `cell`-sized grid cells; round i joins the still-unresolved queries
    * against their (2r+1)^2 cell neighborhood clipped to the vertex extent,
    * with r doubling per round. A query resolves when its kth candidate is
    * provably nearest (kth distance <= r*cell, so no closer vertex can hide
    * outside the searched ring) OR its neighborhood already covers the
    * whole vertex extent (then the "ring" was an exact scan — this also
    * resolves queries in empty regions and vertex sets smaller than k).
    * Every round shrinks the query set; r doubles until each query's ring
    * reaches the extent, so the loop always terminates, after
    * O(log(distance/cell)) rounds. Per-round shuffle volume is
    * O(candidates of still-unresolved queries), never O(queries x
    * vertices). Returns (query_id, rank, vx, vy, dist).
    */
  /** @param planProbe called with each round's executed join plan (the
    *   returned frame itself is a scan of the materialized result, so
    *   plan-shape assertions — e.g. "never a cartesian" — must look at the
    *   per-round plans, which this exposes to tests at no runtime cost).
    */
  def knnVertices(spark: SparkSession, queries: Dataset[(Long, Double, Double)],
                  vertices: DataFrame, k: Int, cell: Double = 2.0,
                  planProbe: String => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    // cell coordinates are LONGS end-to-end: r doubles per round, and with
    // 32-bit cells a query far outside the vertex extent could wrap qcx +- r
    // through Int range, making `covered` spuriously true (wrong answers) or
    // never true (non-termination). Long arithmetic can't reach the wrap
    // point: rCap below bounds r by the query/vertex cell extents.
    val verts = vertices.select(col("vx").cast("double"), col("vy").cast("double"))
      .withColumn("cx", floor(col("vx") / cell).cast("long"))
      .withColumn("cy", floor(col("vy") / cell).cast("long"))
      .persist()
    val q = queries.toDF("query_id", "qx", "qy")
    val outCols = Seq("query_id", "rank", "vx", "vy", "dist").map(col)

    val ext = verts.agg(min("cx"), max("cx"), min("cy"), max("cy")).head()
    if (ext.isNullAt(0)) {
      // no vertices at all: every query gets zero neighbors
      verts.unpersist(blocking = false)
      return q.select(col("query_id"), lit(0).as("rank"), lit(0.0).as("vx"),
        lit(0.0).as("vy"), lit(0.0).as("dist")).filter(lit(false))
    }
    val (vx0, vx1, vy0, vy1) = (ext.getLong(0), ext.getLong(1), ext.getLong(2), ext.getLong(3))

    val qcx = floor(col("qx") / cell).cast("long")
    val qcy = floor(col("qy") / cell).cast("long")

    // structural termination: r stops doubling at rCap, the radius at which
    // EVERY query's neighborhood covers the whole vertex extent (so the
    // last possible round is an exact scan and resolves everything)
    val qe = q.agg(min(qcx), max(qcx), min(qcy), max(qcy)).head()
    val rCap: Long =
      if (qe.isNullAt(0)) 2L
      else math.max(2L, Seq(qe.getLong(1) - vx0, vx1 - qe.getLong(0),
        qe.getLong(3) - vy0, vy1 - qe.getLong(2)).max + 1L)

    def topK(joined: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("vx"), col("vy"))
      joined
        .withColumn("dist",
          sqrt((col("vx") - col("qx")) * (col("vx") - col("qx")) +
            (col("vy") - col("qy")) * (col("vy") - col("qy"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }

    // every intermediate this loop persists or checkpoints is released
    // before returning; the result itself is materialized into ONE
    // localCheckpointed RDD (lineage truncated past every cache), which the
    // ContextCleaner frees once the caller drops the returned frame
    val phases = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val doneBufs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val roundRdds = scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
    val resolvedParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var unresolved = q
    var nUnresolved = -1L // unknown; first round always runs
    var r = 2L
    while (nUnresolved != 0L) {
      val coveredPred =
        qcx - r <= vx0 && qcx + r >= vx1 && qcy - r <= vy0 && qcy + r >= vy1
      // the neighborhood clipped to the vertex extent: cells outside it
      // hold nothing, so clipping changes no result and bounds the explode
      // by the extent instead of r^2
      val qCells = unresolved
        .withColumn("c0", greatest(qcx - r, lit(vx0)))
        .withColumn("c1", least(qcx + r, lit(vx1)))
        .withColumn("d0", greatest(qcy - r, lit(vy0)))
        .withColumn("d1", least(qcy + r, lit(vy1)))
        .withColumn("covered", coveredPred)
        .withColumn("cx", explode(when(col("c0") <= col("c1"),
          sequence(col("c0"), col("c1"))).otherwise(array().cast("array<long>"))))
        .withColumn("cy", explode(when(col("d0") <= col("d1"),
          sequence(col("d0"), col("d1"))).otherwise(array().cast("array<long>"))))
        .drop("c0", "c1", "d0", "d1")
      // each vertex row lives in exactly one cell and each (query, cell)
      // pair occurs once, so the join introduces no duplicates — and
      // genuinely duplicated vertex coordinates must stay (distinct
      // neighbors)
      val phase = topK(qCells.join(verts, Seq("cx", "cy"))).persist()
      phases += phase
      planProbe(phase.queryExecution.executedPlan.toString)
      val stats = phase.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"),
          first(col("covered")).as("covered"))
      // covered queries are final whatever their count (possibly < k rows:
      // the vertex set itself holds < k vertices, or none near the query)
      val resolvedIds = stats
        .filter(col("covered") || (col("n") === k && col("kth") <= lit(r * cell)))
        .select("query_id")
        // also: queries whose clipped neighborhood was EMPTY and covered —
        // they produce no phase rows; resolve them by coverage directly
      val coveredNoRows = unresolved
        .filter(coveredPred)
        .join(stats, Seq("query_id"), "left_anti")
        .select("query_id")
      val doneIds = resolvedIds.union(coveredNoRows).persist()
      doneBufs += doneIds
      resolvedParts += phase.join(doneIds, Seq("query_id"), "left_semi").select(outCols: _*)
      // localCheckpoint TRUNCATES the logical plan: without it each round's
      // lineage embeds every previous round and the plan tree grows
      // exponentially with the round count (far queries need
      // log2(distance/cell) rounds). Checkpointing the underlying RDD (not
      // the Dataset) keeps an explicit handle so the round's blocks can be
      // unpersisted deterministically below.
      val nextRdd = unresolved.join(doneIds, Seq("query_id"), "left_anti")
        .as[(Long, Double, Double)].rdd
      nextRdd.localCheckpoint()
      nUnresolved = nextRdd.count()
      roundRdds += nextRdd
      unresolved = spark.createDataset(nextRdd).toDF("query_id", "qx", "qy")
      r = math.min(r * 2L, rCap)
    }
    val resRdd = resolvedParts.reduce(_ union _)
      .as[(Long, Int, Double, Double, Double)].rdd
    resRdd.localCheckpoint()
    resRdd.count()
    // the result is materialized and lineage-free: release everything
    phases.foreach(_.unpersist(blocking = false))
    doneBufs.foreach(_.unpersist(blocking = false))
    roundRdds.foreach(_.unpersist(blocking = false))
    verts.unpersist(blocking = false)
    spark.createDataset(resRdd).toDF("query_id", "rank", "vx", "vy", "dist")
  }

  /** Hierarchical Morton cell rollup — the H3/S2-style multi-resolution
    * aggregation over a point table. Points bucket into level-0 cells keyed
    * by the Morton interleave of their tile coordinates (the same key
    * family as the stitch shuffle), and every coarser level re-aggregates
    * the PREVIOUS level only: parent key = cell >>> 2, parent coords =
    * px >> 1 / py >> 1 (the CellIndex.parent identity, pinned in
    * CellIndexSpec). Raw points therefore cross exactly ONE map-side-
    * combined shuffle; each subsequent level touches cell-cardinality rows,
    * so the overview build is O(cells), never O(points x levels) — at
    * 100 TB the upper levels are metadata-sized. All key arithmetic is
    * native bitwise Columns ([[graft.index.CellIndex.mortonCol]]), keeping
    * the whole plan in whole-stage codegen. `qv` must arrive pre-quantized
    * (e.g. floor(v * 2^20)) so every sum is an order-free integer.
    *
    * @param points columns (x int-castable, y int-castable, qv long), all
    *               coordinates non-negative
    * @return (level, cell, px, py, n_points, qv_sum) ordered by level, cell
    */
  def cellRollup(points: DataFrame, tile: Int, levels: Int): DataFrame = {
    require(tile > 0 && levels >= 0, s"tile=$tile levels=$levels")
    val l0 = points
      .select(expr(s"cast(x as bigint) div $tile").as("px"),
        expr(s"cast(y as bigint) div $tile").as("py"), col("qv"))
      .withColumn("cell", graft.index.CellIndex.mortonCol(col("px"), col("py")))
      .groupBy("cell", "px", "py")
      .agg(count(lit(1)).as("n_points"), sum("qv").as("qv_sum"))
      .withColumn("level", lit(0))
    var prev = l0
    var out = l0
    for (l <- 1 to levels) {
      prev = prev
        .groupBy(shiftrightunsigned(col("cell"), 2).as("cell"),
          shiftright(col("px"), 1).as("px"), shiftright(col("py"), 1).as("py"))
        .agg(sum("n_points").as("n_points"), sum("qv_sum").as("qv_sum"))
        .withColumn("level", lit(l))
      out = out.unionByName(prev)
    }
    out.select(col("level"), col("cell"), col("px"), col("py"),
        col("n_points").cast("long").as("n_points"),
        col("qv_sum").cast("long").as("qv_sum"))
      .orderBy("level", "cell")
  }

  /** Inverse-distance-weighted interpolation — the classic scattered-point
    * -> grid geospatial operator — via a CELL-BUCKETED neighbor join, never
    * all-pairs: stations bucket into radius-sized cells (one narrow
    * projection), each target probes only its 3x3 neighboring cells (a x9
    * replication of the TINY target table, the pivoted3x3 idiom), and the
    * equi-join on cell keys carries O(targets x local-station-density)
    * pairs — at 100 TB the radius bounds the work per target regardless of
    * total station count. Within the radius, weight = 1/d^2; each pair's
    * weighted-value and weight terms quantize PER PAIR (floor(x * 2^20))
    * before the order-free integer sums, and the output keeps the
    * numerator/denominator sums as integers — no f64 division ever crosses
    * the compare surface. Targets with no station in radius drop out of the
    * inner join on both engine and oracle sides identically.
    *
    * EXACTNESS: d2 = ((sx-tx)*(sx-tx)) + ((sy-ty)*(sy-ty)) and the term
    * trees 1.0/d2*2^20, v/d2*2^20 mirror the oracle token for token; the
    * radius gate d2 <= r2 compares exactly in f64. Callers must keep
    * targets OFF station coordinates (d2 > 0); the loud filter guards it.
    *
    * @param stations columns (sx double, sy double, v double), coords >= 0
    * @param targets  columns (tid long, tx double, ty double), coords >= 0
    * @return (tid, n_stations, qw_sum, qwv_sum) ordered by tid
    */
  def idwGrid(stations: DataFrame, targets: DataFrame, radius: Double): DataFrame = {
    require(radius > 0.0, s"radius=$radius")
    val r2 = radius * radius
    val st = stations.select(col("sx"), col("sy"), col("v"),
      floor(col("sx") / radius).cast("long").as("cx"),
      floor(col("sy") / radius).cast("long").as("cy"))
    val offsets = (0 until 9).toArray
    val tg = targets
      .withColumn("o", explode(lit(offsets)))
      .select(col("tid"), col("tx"), col("ty"),
        (floor(col("tx") / radius).cast("long") + col("o") % 3 - 1).as("cx"),
        (floor(col("ty") / radius).cast("long")
          + col("o").divide(3).cast("int") - 1).as("cy"))
    val d2 = ((col("sx") - col("tx")) * (col("sx") - col("tx"))) +
      ((col("sy") - col("ty")) * (col("sy") - col("ty")))
    tg.join(st, Seq("cx", "cy"))
      .withColumn("d2", d2)
      .filter(col("d2") <= r2 && col("d2") > 0.0)
      .groupBy("tid")
      .agg(count(lit(1)).as("n_stations"),
        sum(floor(lit(1.0) / col("d2") * RasterQ20)).as("qw_sum"),
        sum(floor(col("v") / col("d2") * RasterQ20)).as("qwv_sum"))
      .select(col("tid"), col("n_stations").cast("long").as("n_stations"),
        col("qw_sum").cast("long").as("qw_sum"),
        col("qwv_sum").cast("long").as("qwv_sum"))
      .orderBy("tid")
  }

  /** 2^20 per-term quantization — the raster family's shared constant. */
  private val RasterQ20 = graft.core.RasterKernel.Q20

  /** Nearest-contour-segment distance — the ST_Distance / ST_DWithin pair
    * against the engine's own contour MultiPolygons: for every query point,
    * the number of directed contour segments within `radius` and the exact
    * squared distance to the closest one, per threshold. Like [[idwGrid]]
    * this is a CELL-BUCKETED neighbor join, never all-pairs: segments
    * bucket by their START endpoint into cells of size radius + 2 (a
    * smoothed marching-squares segment lives inside one unit grid cell, so
    * its farthest point sits <= sqrt(2) from the start endpoint; any
    * segment within `radius` of a point therefore has its start within
    * radius + sqrt(2) < radius + 2 per axis, and the point's 3x3 cell probe
    * is guaranteed to find it), each point replicates x9 (the pivoted3x3
    * idiom over the point side only), and the equi-join on cell keys
    * carries O(points x local segment density) pairs — at 100 TB the radius
    * bounds work per point regardless of total contour size.
    *
    * EXACTNESS: the point-to-segment distance evaluates the textbook
    * clamped-projection tree — dx = epx-spx, len2 = dx*dx + dy*dy,
    * t = clamp(((px-spx)*dx + (py-spy)*dy) / len2, 0, 1) (0 for degenerate
    * segments), foot = s + t*d, d2 = (px-qx)^2 + (py-qy)^2 — every step an
    * IEEE-exact f64 op mirrored token for token by the oracle, and d2
    * quantizes per pair (floor(d2 * 2^20)) before the order-free MIN.
    * Degenerate (post-smoothing-collapsed) segments are INCLUDED on both
    * sides (their distance is the point distance), so n_segs matches the
    * directed-edge conservation the moments operator pins down. Points with
    * no segment in radius drop out of the inner join identically on both
    * sides; d2 = 0 (a point exactly on a segment) stays in-range.
    *
    * @return (point_id, threshold, n_segs, min_qd2) ordered by both keys
    */
  def nearSegmentDist(spark: SparkSession, points: Dataset[(Long, Double, Double)],
                      contours: Dataset[ContourRow], radius: Double): DataFrame = {
    import spark.implicits._
    require(radius > 0.0, s"radius=$radius")
    val segs = contours.flatMap { c =>
      ringEdges(c).map { case (ax, ay, bx, by) => (c.threshold, ax, ay, bx, by) }
    }.toDF("threshold", "spx", "spy", "epx", "epy")
      // spread the probe pipeline: the contour set is one fat row per
      // threshold, so the broadcast-probe stage would otherwise run at
      // |thresholds|-way parallelism (see segCrossings)
      .repartition(math.max(8, spark.sparkContext.defaultParallelism))
    val s = radius + 2.0
    val sb = segs.select(col("threshold"), col("spx"), col("spy"),
      col("epx"), col("epy"),
      floor(col("spx") / s).cast("long").as("cx"),
      floor(col("spy") / s).cast("long").as("cy"))
    val offsets = (0 until 9).toArray
    val pts = points.toDF("point_id", "px", "py").localCheckpoint(eager = true)
    val nPts = pts.count()
    val tg = pts
      .withColumn("o", explode(lit(offsets)))
      .select(col("point_id"), col("px"), col("py"),
        (floor(col("px") / s).cast("long") + col("o") % 3 - 1).as("cx"),
        (floor(col("py") / s).cast("long")
          + col("o").divide(3).cast("int") - 1).as("cy"))
    // broadcast the (sampled) probe side when it fits — the segment layer
    // then never shuffles; a large probe set keeps the key-equality
    // shuffle join (deliberate strategy choice, guide §3.1: the
    // checkpointed contour feed carries no size estimate for the planner)
    val tgSide = if (nPts <= 1000000L) broadcast(tg) else tg
    tgSide.join(sb, Seq("cx", "cy"))
      .withColumn("dx", col("epx") - col("spx"))
      .withColumn("dy", col("epy") - col("spy"))
      .withColumn("len2", col("dx") * col("dx") + col("dy") * col("dy"))
      .withColumn("t", when(col("len2") > 0.0,
        least(greatest(
          ((col("px") - col("spx")) * col("dx")
            + (col("py") - col("spy")) * col("dy")) / col("len2"),
          lit(0.0)), lit(1.0))).otherwise(lit(0.0)))
      .withColumn("qx", col("spx") + col("t") * col("dx"))
      .withColumn("qy", col("spy") + col("t") * col("dy"))
      .withColumn("d2",
        (col("px") - col("qx")) * (col("px") - col("qx"))
          + (col("py") - col("qy")) * (col("py") - col("qy")))
      .filter(col("d2") <= radius * radius)
      .groupBy("point_id", "threshold")
      .agg(count(lit(1)).as("n_segs"),
        min(floor(col("d2") * RasterQ20).cast("long")).as("min_qd2"))
      .select(col("point_id"), col("threshold"),
        col("n_segs").cast("long").as("n_segs"), col("min_qd2"))
      .orderBy("point_id", "threshold")
  }

  /** Vector -> raster burn: rasterize a contour set's threshold
    * MultiPolygons back onto the sample lattice via the y-band partitioned
    * PIP join — each center's CLASS is its nesting depth (the number of
    * thresholds whose polygon strictly contains it) — then pool
    * `block` x `block` cells into coarse raster blocks. This closes the
    * raster<->vector loop with geometry only: the engine's own vector
    * output drives the burn, and the oracle checks it relationally through
    * the pixel-center identity (center strictly inside the unsmoothed
    * threshold-t curve iff value >= t, the q_pip_tag contract). Shuffle
    * volume is the banded PIP join's O(segments + points); the class fold
    * and the block pooling are both map-side-combinable integer aggregates,
    * and block ids derive from point_id arithmetic so no coordinate column
    * rides the shuffle.
    *
    * @param points (id, x, y) cell centers, id = row-major index on a
    *               width-`w` lattice (x = id % w + 0.5, y = id / w + 0.5)
    * @return (block_x, block_y, n_cells, sum_class, max_class) ordered by
    *         block_x, block_y (names chosen over bx/by: `by` is a SQL
    *         keyword, which would force quoting through the oracle)
    */
  def rasterizeBlocks(spark: SparkSession, points: Dataset[(Long, Double, Double)],
                      contours: Dataset[ContourRow], w: Int, block: Int): DataFrame = {
    require(w > 0 && block > 0, s"w=$w block=$block")
    val tagged = pipTagPartitioned(spark, points, contours)
    tagged.groupBy("point_id")
      .agg(sum(when(col("inside"), 1L).otherwise(0L)).as("cls"))
      .withColumn("block_x", expr(s"(point_id % $w) div $block"))
      .withColumn("block_y", expr(s"(point_id div $w) div $block"))
      .groupBy("block_x", "block_y")
      .agg(count(lit(1)).as("n_cells"), sum("cls").as("sum_class"),
        max("cls").as("max_class"))
      .orderBy("block_x", "block_y")
  }

  /** Contour-topology nesting depth histogram over RAW (unsmoothed, grid
    * coordinate) rings: a ring's depth = the number of OTHER same-threshold
    * rings that contain its CANONICAL vertex (the lexicographic-min (x, y)
    * vertex — identical to the min packed start key the oracle's
    * pointer-doubled labels select), by even-odd ray crossing with the
    * half-open rule ((y1 > py) != (y2 > py), strict x-intercept). On the
    * 0.5-lattice distinct rings are vertex-disjoint and no vertex can sit
    * in an edge's interior, so the half-open verdict is EXACT — and every
    * arithmetic step (quarters, halves, power-of-two divisors) is
    * f64-representable, so the oracle's identical expression matches
    * bit-for-bit. Distributed shape: the crossing test is a Y-BUCKET
    * equi-join (edges span <= 1 in y, so each replicates to <= 2 integer
    * buckets; each (rep, edge) pair meets in exactly one bucket — no
    * dedup pass), then parity per (ringA, ringB), then the per-threshold
    * histogram; no nested loop over ring sets anywhere.
    */
  def ringDepthHist(rings: Dataset[graft.model.RingsRow]): DataFrame = {
    val spark = rings.sparkSession
    import spark.implicits._
    // kind 0 = ring representative (x1=px, y1=py); kind 1 = directed edge
    val tagged = rings.flatMap { rr =>
      rr.rings.iterator.flatMap { a =>
        val n = a.length / 2 - 1 // closing duplicate dropped
        var kx = a(0); var ky = a(1)
        var i = 1
        while (i < n) {
          val x = a(2 * i); val y = a(2 * i + 1)
          if (x < kx || (x == kx && y < ky)) { kx = x; ky = y }
          i += 1
        }
        val key = ((2 * kx).toLong + 3L) * 4294967296L + ((2 * ky).toLong + 3L)
        val rep = Iterator.single(
          (0, rr.threshold, key, kx, ky, 0.0, 0.0, math.floor(ky).toLong))
        val edges = (0 until n).iterator.flatMap { j =>
          val x1 = a(2 * j); val y1 = a(2 * j + 1)
          val k = if (j + 1 == n) 0 else j + 1
          val x2 = a(2 * k); val y2 = a(2 * k + 1)
          val b0 = math.floor(math.min(y1, y2)).toLong
          val b1 = math.floor(math.max(y1, y2)).toLong
          (b0 to b1).iterator.map(b => (1, rr.threshold, key, x1, y1, x2, y2, b))
        }
        rep ++ edges
      }
    }.toDF("kind", "threshold", "ring", "x1", "y1", "x2", "y2", "b")
      .localCheckpoint(true)
    val reps = tagged.filter(col("kind") === 0)
      .select(col("threshold"), col("ring").as("ra"),
        col("x1").as("px"), col("y1").as("py"), col("b"))
    val edges = tagged.filter(col("kind") === 1)
      .select(col("threshold"), col("ring").as("rb"),
        col("x1"), col("y1"), col("x2"), col("y2"), col("b"))
    val inside = reps.join(edges, Seq("threshold", "b"))
      .filter(col("ra") =!= col("rb")
        && ((col("y1") > col("py")) =!= (col("y2") > col("py")))
        && col("px") < col("x1")
          + (col("py") - col("y1")) * (col("x2") - col("x1")) / (col("y2") - col("y1")))
      .groupBy("threshold", "ra", "rb").agg(count(lit(1)).as("nc"))
      .filter(col("nc") % 2 === 1)
      .groupBy("threshold", "ra").agg(count(lit(1)).as("depth"))
    reps.select(col("threshold"), col("ra"))
      .join(inside, Seq("threshold", "ra"), "left")
      .select(col("threshold"), coalesce(col("depth"), lit(0L)).as("depth"))
      .groupBy("threshold", "depth")
      .agg(count(lit(1)).as("n_rings"))
      .orderBy("threshold", "depth")
  }

  /** R-CLIPPED HAUSDORFF census between the vertex sets of CONSECUTIVE
    * contour thresholds — the shape-drift statistic "how far did the
    * isoline move from level t to level t+1". Works on the DISTINCT
    * QUANTIZED vertex sets (floor(c * 2^20) per coordinate, the shared
    * quantization): for each vertex a of the lower threshold, the exact
    * min squared quantized distance to the upper threshold's vertices
    * found inside a's 3x3 cell window (cells of width 4 raster units ==
    * 2^22 quantized units, derived from the QUANTIZED coords by exact
    * f64 floor division so both sides bucket identically, negatives
    * included). EXACTNESS OF THE CLIP: any vertex outside the window
    * differs by >= 2^22 in some axis, so its d2q >= Rq2 = 2^44; a
    * window-min < Rq2 is therefore the TRUE global min (resolved), and a
    * vertex with an empty window or window-min >= Rq2 counts as FAR
    * (its true min is known only to be >= Rq2 — the clip). Per pair the
    * census reports both directed clipped maxima h_*_q2 = max over
    * resolved vertices of the exact min (0 when none resolve), the far
    * counts, and haus_q2 = max(h_ab, h_ba) — equal to the true
    * (quantized) Hausdorff distance squared whenever both far counts are
    * 0. Everything after quantization is integer compares and integer
    * min/max — no float crosses the engine/oracle line.
    *
    * Scale: the only joins are cell-bucketed equi-joins with a fixed 9x
    * probe fan-out — per-vertex candidate volume is bounded by window
    * occupancy, never |A| x |B|; the per-vertex min and per-pair max are
    * map-side-combinable aggregations on the (pair, vertex) and pair
    * keys. Dense isoline tiles skew some cells; the aggregation key
    * includes the vertex so AQE's skew split applies cleanly.
    */
  def contourHausdorff(spark: SparkSession, contours: Dataset[ContourRow],
                       thresholds: Seq[Double]): DataFrame = {
    import spark.implicits._
    val cellQ = 4194304.0 // 4 raster units * 2^20, exact power of two
    val rq2 = lit(4194304L * 4194304L) // outside-window d2q lower bound
    val v = contourVertices(spark, contours)
      .select(col("threshold"),
        floor(col("vx") * RasterQ20).cast("long").as("qx"),
        floor(col("vy") * RasterQ20).cast("long").as("qy"))
      .distinct()
      .withColumn("cx", floor(col("qx") / cellQ).cast("long"))
      .withColumn("cy", floor(col("qy") / cellQ).cast("long"))
    val ts = thresholds.sorted
    val pairs = ts.zip(ts.tail).toDF("t_lo", "t_hi")

    // one direction: for every src vertex, the window-min d2q against tgt;
    // per pair: resolved count and clipped max (pairs with nothing
    // resolved emit no row here — the final left join zero-fills them)
    def directed(src: DataFrame, tgt: DataFrame): DataFrame = {
      val probe = src
        .withColumn("o", explode(lit((0 until 9).toArray)))
        .select(col("t_lo"), col("t_hi"), col("qx").as("aqx"), col("qy").as("aqy"),
          (col("cx") + col("o") % 3 - 1).as("cx"),
          (col("cy") + col("o").divide(3).cast("int") - 1).as("cy"))
      probe
        .join(tgt.select(col("t_lo"), col("t_hi"), col("qx").as("bqx"),
          col("qy").as("bqy"), col("cx"), col("cy")), Seq("t_lo", "t_hi", "cx", "cy"))
        .select(col("t_lo"), col("t_hi"), col("aqx"), col("aqy"),
          ((col("aqx") - col("bqx")) * (col("aqx") - col("bqx"))
            + (col("aqy") - col("bqy")) * (col("aqy") - col("bqy"))).as("d2"))
        .groupBy("t_lo", "t_hi", "aqx", "aqy")
        .agg(min(col("d2")).as("mind2"))
        .filter(col("mind2") < rq2)
        .groupBy("t_lo", "t_hi")
        .agg(count(lit(1)).as("n_resolved"), max(col("mind2")).as("h_q2"))
    }

    val lo = v.join(pairs, v("threshold") === pairs("t_lo")).drop("threshold")
    val hi = v.join(pairs, v("threshold") === pairs("t_hi")).drop("threshold")
    val perT = v.groupBy("threshold").agg(count(lit(1)).as("n"))
    val counts = pairs
      .join(perT.select(col("threshold"), col("n").as("n_lo")),
        pairs("t_lo") === perT("threshold"), "left").drop("threshold")
      .join(perT.select(col("threshold"), col("n").as("n_hi")),
        col("t_hi") === perT("threshold"), "left").drop("threshold")
      .na.fill(0L, Seq("n_lo", "n_hi"))
    val ab = directed(lo, hi)
      .withColumnsRenamed(Map("n_resolved" -> "res_ab", "h_q2" -> "h_ab_q2"))
    val ba = directed(hi, lo)
      .withColumnsRenamed(Map("n_resolved" -> "res_ba", "h_q2" -> "h_ba_q2"))
    counts
      .join(ab, Seq("t_lo", "t_hi"), "left")
      .join(ba, Seq("t_lo", "t_hi"), "left")
      .na.fill(0L, Seq("res_ab", "res_ba", "h_ab_q2", "h_ba_q2"))
      .select(col("t_lo"), col("t_hi"), col("n_lo"), col("n_hi"),
        (col("n_lo") - col("res_ab")).as("far_ab"),
        (col("n_hi") - col("res_ba")).as("far_ba"),
        col("h_ab_q2"), col("h_ba_q2"),
        greatest(col("h_ab_q2"), col("h_ba_q2")).as("haus_q2"))
      .orderBy("t_lo")
  }

  /** TURNING census of the contour rings — the convexity fingerprint:
    * at every ring vertex the cross product of the incoming and outgoing
    * edge vectors, computed on QUANTIZED endpoints (floor(c * 2^20) per
    * coordinate first, then integer vector subtraction and one integer
    * cross — edge vectors are stencil-short so |cross| < 2^44,
    * order-free Long sums after that). Per threshold: vertex count,
    * left/right/straight turn counts (cross > 0 / < 0 / == 0 — collapsed
    * zero-length edges classify straight, matching the oracle's
    * successor-join semantics since contour rings keep them), and the
    * summed cross as the discriminating checksum. One narrow flatMap
    * over assembled rings + a threshold-cardinality rollup — no
    * shuffle beyond the tiny reduced frame. Oracle: the directed-segment
    * graph's successor join (b.sk = a.ek — start keys are unique per
    * threshold), the same quantize-then-cross at the shared vertex.
    */
  def turningCensus(spark: SparkSession, contours: Dataset[ContourRow],
                    thresholds: Seq[Double]): DataFrame = {
    import spark.implicits._
    val t = contours.flatMap { c =>
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
        val n = ring.length / 2 - 1 // closing duplicate dropped; cyclic
        (0 until n).iterator.map { i =>
          val ip = (i + n - 1) % n; val in = (i + 1) % n
          @inline def qx(j: Int) = math.floor(ring(2 * j) * RasterQ20).toLong
          @inline def qy(j: Int) = math.floor(ring(2 * j + 1) * RasterQ20).toLong
          val ax = qx(i) - qx(ip); val ay = qy(i) - qy(ip)
          val bx = qx(in) - qx(i); val by = qy(in) - qy(i)
          val cross = ax * by - bx * ay
          (c.threshold, 1L, if (cross > 0L) 1L else 0L,
            if (cross < 0L) 1L else 0L, if (cross == 0L) 1L else 0L, cross)
        }
      }
    }.toDF("threshold", "v", "l", "r", "st", "cross")
      .groupBy("threshold")
      .agg(sum(col("v")).as("n_vertices"), sum(col("l")).as("n_left"),
        sum(col("r")).as("n_right"), sum(col("st")).as("n_straight"),
        sum(col("cross")).as("qcross_sum"))
    t.join(thresholds.toDF("threshold"), Seq("threshold"), "right")
      .na.fill(0L, Seq("n_vertices", "n_left", "n_right", "n_straight", "qcross_sum"))
      .orderBy("threshold")
  }
}
