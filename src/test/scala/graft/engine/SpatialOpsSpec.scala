package graft.engine

import graft.SparkTestSession
import graft.core.Goldens
import graft.index.CellIndex
import graft.model.JobConfig
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class SpatialOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("pipTag over unsmoothed contours == value >= t at grid samples") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = false)).contours(tiles)
    val points = spark.createDataset(
      (0 until w * h by 7).map(i => (i.toLong, (i % w) + 0.5, (i / w) + 0.5)))
    val tagged = PipReference.pipTag(spark, points, cts)
      .as[(Long, Double, Boolean)].collect()
    tagged.foreach { case (id, t, inside) =>
      assert(inside == (data(id.toInt) >= t), s"point $id t=$t")
    }
  }

  test("pipTag handles holes (donut grid)") {
    import spark.implicits._
    val tiles = GridSynth.tilesFromArray(spark, "gh", Goldens.holeGrid, 10, 10, 5, 5)
    val cts = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = false)).contours(tiles)
    val points = spark.createDataset(Seq(
      (0L, 4.5, 5.5),  // in the hole -> outside
      (1L, 3.25, 5.5), // in the ring material -> inside
      (2L, 0.5, 0.5))) // far outside
    val got = PipReference.pipTag(spark, points, cts)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).map(_._3).toSeq
    assert(got == Seq(false, true, false))
  }

  test("pipTagPartitioned == broadcast pipTag (volcano, holes, off-grid points)") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = false)).contours(tiles)
    val rnd = new scala.util.Random(11)
    val points = spark.createDataset(
      (0 until 500).map(i => (i.toLong, rnd.nextDouble() * (w + 4) - 2, rnd.nextDouble() * (h + 4) - 2)) ++
        (0 until w * h by 13).map(i => (10000L + i, (i % w) + 0.5, (i / w) + 0.5)))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    val a = norm(PipReference.pipTag(spark, points, cts))
    val b = norm(SpatialOps.pipTagPartitioned(spark, points, cts))
    assert(a == b)
    assert(a.exists(_._3) && a.exists(!_._3))
  }

  test("pipTagPartitioned band slack: sub-EPSILON-dx segments and huge-span segments") {
    import spark.implicits._
    import graft.model.{ContourRow, PolyRow}
    val eps = graft.core.Geom.Epsilon
    // Ring A: a NEAR-VERTICAL segment with 0 < |dx| < EPSILON (the
    // post-smoothing cancellation case) crossing the default band edge
    // y = 8.0. segmentContains takes the vertical branch for it (y must
    // lie in the EXACT y-span), so the slack-0 banding must still route
    // every on-boundary candidate to a shared band.
    val x1 = 0.5 + eps / 2.0 // one ulp off 0.5; dx < EPSILON, nonzero
    assert(x1 != 0.5 && math.abs(x1 - 0.5) < eps)
    // y-span 7..9 so the claimed point (0.5, 8.0) sits AT band edge 8 with
    // |cy-ay| = 1: cross = dx*1 = eps/2 < EPSILON -> genuinely claimed
    // (with |cy-ay| = 2 the cross lands EXACTLY on EPSILON and the strict
    // < rejects it — the claim is that fine-grained)
    val ringA = Array(0.5, 7.0, x1, 9.0, 4.0, 9.0, 4.0, 7.0, 0.5, 7.0)
    // Ring B: a huge-span x-dominant segment (post-affine frame) whose
    // FP cross-product rounding term dwarfs EPSILON/|dx| — the span-scaled
    // slack must cover it. Its midpoint sits exactly on band edge y = 16.
    val ringB = Array(0.0, 8.0, 1.0e9, 24.0, 1.0e9, 40.0, 0.0, 40.0, 0.0, 8.0)
    val cts = spark.createDataset(Seq(
      ContourRow("adv", 1.0, Seq(PolyRow(ringA, Seq.empty))),
      ContourRow("adv", 2.0, Seq(PolyRow(ringB, Seq.empty)))))
    val probes = Seq(
      (0L, 0.5, 7.0),           // ring-A vertex (on boundary)
      (1L, 0.5, 8.0),           // on the sub-EPSILON-dx segment AT the band edge
      (2L, x1, 9.0),            // its other endpoint
      (3L, 0.5 + 1e-10, 8.0),   // just off the segment, at the band edge
      (4L, 2.0, 8.0),           // strictly inside ring A
      (5L, 0.4, 8.0),           // strictly outside ring A
      (6L, 5.0e8, 16.0),        // on ring B's hypotenuse AT band edge 16
      (7L, 5.0e8, 16.0 + 1e-6), // just above it (inside)
      (8L, 5.0e8, 15.0),        // below it (outside)
      (9L, 1.0e9, 24.0))        // ring-B vertex
    val points = spark.createDataset(probes)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = norm(PipReference.pipTag(spark, points, cts))
    val got = norm(SpatialOps.pipTagPartitioned(spark, points, cts))
    assert(got == want)
    // the interesting probes really are the on-boundary class (verdict 0:
    // neither inside nor outside -> inside=false), not accidental misses
    def contains(ring: Array[Double], x: Double, y: Double) =
      graft.core.Geom.ringContains(ring.dropRight(2), x, y)
    assert(contains(ringA, 0.5, 8.0) == 0)
    assert(contains(ringB, 5.0e8, 16.0) == 0)
    assert(contains(ringA, 2.0, 8.0) == 1 && contains(ringB, 5.0e8, 16.0 + 1e-6) == 1)
    assert(want.count(_._3) >= 2) // the strictly-inside probes tag true
  }

  test("pipTagPartitioned: a zero-length segment claims its whole y-line") {
    import spark.implicits._
    import graft.model.{ContourRow, PolyRow}
    // a 16x16 square whose right side repeats the vertex (16, 12): the
    // degenerate segment (16, 12)-(16, 12) is collinear with every point,
    // and segmentContains' vertical branch then claims every point with
    // y == 12, however far away in x
    val ring = Array(0.0, 0.0, 16.0, 0.0, 16.0, 12.0, 16.0, 12.0, 16.0, 16.0, 0.0, 16.0, 0.0, 0.0)
    val cts = spark.createDataset(Seq(ContourRow("deg", 1.0, Seq(PolyRow(ring, Seq.empty)))))
    val points = spark.createDataset(Seq(
      (0L, 2.0, 12.0),  // strictly inside, on the repeated vertex's y, 14 away in x
      (1L, 2.0, 11.0))) // strictly inside, off that line
    assert(graft.core.Geom.ringContains(graft.core.Clip.openRing(ring), 2.0, 12.0) == 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = Seq((0L, 1.0, false), (1L, 1.0, true))
    assert(norm(PipReference.pipTag(spark, points, cts)) == want)
    assert(norm(SpatialOps.pipTagPartitioned(spark, points, cts)) == want)
  }

  test("pipTagPartitioned: one row per (point, threshold), even with no segments in reach") {
    import spark.implicits._
    import graft.model.{ContourRow, PolyRow}
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
    val square = (x0: Double) => Array(x0, 0.0, x0 + 4.0, 0.0, x0 + 4.0, 4.0, x0, 4.0, x0, 0.0)
    // threshold 2.0's ring contains no point
    val cts = spark.createDataset(Seq(
      ContourRow("frame", 1.0, Seq(PolyRow(square(0.0), Seq.empty))),
      ContourRow("frame", 2.0, Seq(PolyRow(square(100.0), Seq.empty)))))
    val points = spark.createDataset(Seq(
      (0L, 2.0, 2.0),    // inside threshold 1.0's ring
      (1L, 2.0, 50.0),   // a band no segment reaches
      (2L, 50.0, 2.0),   // a band with segments, outside both rings
      (3L, 2.0, -30.0))) // a negative band no segment reaches
    val tagged = SpatialOps.pipTagPartitioned(spark, points, cts)
    assert(tagged.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("point_id", LongType), ("threshold", DoubleType), ("inside", BooleanType)))
    val got = tagged.as[(Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == (for (id <- 0L to 3L; t <- Seq(1.0, 2.0)) yield (id, t, id == 0L && t == 1.0)))
    assert(SpatialOps.pipTagPartitioned(spark, spark.emptyDataset[(Long, Double, Double)], cts)
      .count() == 0)
  }

  test("pipTagPartitioned handles a polygon set with many rings (multi-grid)") {
    import spark.implicits._
    // 60 grids -> thousands of rings; nothing is collected to the driver
    val tiles = (0 until 60).map(g =>
      GridSynth.tilesFromField(spark, s"g$g", GridSynth.VolcanoField(7L + g, 64, 64),
        64, 64, 32, 32, 2)).reduce(_ union _)
    val cts = new ContourEngine(spark, JobConfig(Seq(120.0, 160.0), smooth = false)).contours(tiles)
    val rnd = new scala.util.Random(5)
    val points = spark.createDataset((0 until 200).map(i =>
      (i.toLong, rnd.nextDouble() * 64, rnd.nextDouble() * 64)))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    // NOTE: with many grids both operators aggregate depth across ALL rings
    // of a threshold; pipTag emits one row per contour ROW, so compare the
    // per-threshold aggregated verdicts via the partitioned one against a
    // single-grid-at-a-time broadcast reference
    val got = norm(SpatialOps.pipTagPartitioned(spark, points, cts))
    val perGrid = (0 until 60).map { g =>
      PipReference.pipTag(spark, points, cts.filter(_.gridId == s"g$g"))
        .as[(Long, Double, Boolean)].collect()
    }
    // xor of per-grid parities == global parity
    val want = perGrid.flatten.groupBy(r => (r._1, r._2)).map { case ((id, t), rows) =>
      (id, t, rows.map(_._3).count(identity) % 2 == 1)
    }.toSeq.sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("zonalStats == aggregating the broadcast pipTag verdicts") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gz", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(110.0, 150.0, 190.0), smooth = false))
      .contours(tiles)
    val pts = spark.createDataset((0 until w * h).map { i =>
      (i.toLong, (i % w).toDouble + 0.5, (i / w).toDouble + 0.5)
    })
    val qvOf = (i: Long) => math.floor(data(i.toInt) * 1048576.0).toLong
    val values = pts.map { case (id, _, _) => (id, qvOf(id)) }.toDF("point_id", "qv")
    val got = SpatialOps.zonalStats(spark, pts, cts, values)
      .as[(Double, Long, Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    // expected: the (independently tested) broadcast PIP path + in-memory agg
    val tagged = PipReference.pipTag(spark, pts, cts)
      .as[(Long, Double, Boolean)].collect()
    val want = tagged.groupBy(_._2).map { case (t, rows) =>
      val in = rows.filter(_._3).map(r => qvOf(r._1))
      (t, in.length.toLong,
        if (in.isEmpty) None else Some(in.sum),
        if (in.isEmpty) None else Some(in.min),
        if (in.isEmpty) None else Some(in.max))
    }.toSeq.sortBy(_._1)
    assert(got == want)
    assert(got.exists(_._2 > 0) && got.exists(r => r._2 < w.toLong * h))

    // left-join contract: a partial values frame narrows the sums/extrema
    // but NEVER the inside counts
    val gotHalf = SpatialOps.zonalStats(spark, pts, cts,
      values.filter(org.apache.spark.sql.functions.col("point_id") % 2 === 0))
      .as[(Double, Long, Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    val wantHalf = tagged.groupBy(_._2).map { case (t, rows) =>
      val in = rows.filter(_._3).map(_._1)
      val inVal = in.filter(_ % 2 == 0).map(qvOf)
      (t, in.length.toLong,
        if (inVal.isEmpty) None else Some(inVal.sum),
        if (inVal.isEmpty) None else Some(inVal.min),
        if (inVal.isEmpty) None else Some(inVal.max))
    }.toSeq.sortBy(_._1)
    assert(gotHalf == wantHalf)
  }

  test("contourLengthStats == in-memory recompute over the same rings") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gl", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(110.0, 150.0), smooth = true))
      .contours(tiles)
    val got = SpatialOps.contourLengthStats(spark, cts)
      .as[(Double, Long, Long)].collect().sortBy(_._1).toSeq
    val want = cts.collect().map { c =>
      var n = 0L; var q = 0L
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).foreach { ring =>
        var i = 0
        while (i < ring.length - 2) {
          val dx = ring(i + 2) - ring(i); val dy = ring(i + 3) - ring(i + 1)
          if (dx != 0.0 || dy != 0.0) n += 1
          q += math.floor(math.sqrt(dx * dx + dy * dy) * 1048576.0).toLong
          i += 2
        }
      }
      (c.threshold, n, q)
    }.sortBy(_._1).toSeq
    assert(got == want)
    assert(want.forall(_._2 > 0))
  }

  test("contourMomentStats == in-memory shoelace recompute; zero rows for empty thresholds") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gm", data, w, h, 16, 16)
    val thresholds = Seq(110.0, 150.0, 1000.0) // 1000: no rings -> zero row
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val got = SpatialOps.contourMomentStats(spark, cts, thresholds)
      .as[(Double, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val byT = cts.collect().map { c =>
      var n = 0L; var qa = 0L; var qmx = 0L; var qmy = 0L
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).foreach { ring =>
        var i = 0
        while (i < ring.length - 2) {
          val ax = ring(i); val ay = ring(i + 1)
          val bx = ring(i + 2); val by = ring(i + 3)
          val cross = ax * by - bx * ay
          n += 1
          qa += math.floor(cross * 1048576.0).toLong
          qmx += math.floor((ax + bx) * cross * 1048576.0).toLong
          qmy += math.floor((ay + by) * cross * 1048576.0).toLong
          i += 2
        }
      }
      c.threshold -> ((n, qa, qmx, qmy))
    }.toMap
    val want = thresholds.sorted.map { t =>
      val (n, qa, qmx, qmy) = byT.getOrElse(t, (0L, 0L, 0L, 0L))
      (t, n, qa, qmx, qmy)
    }
    assert(got == want)
    assert(got.exists(_._2 > 0)) // non-trivial rings present
    assert(got.find(_._1 == 1000.0).get._2 == 0L) // empty threshold reports zeros
    // centroid sanity: (sum mx, sum my) / (3 * sum cross) lands inside the grid
    got.filter(r => r._2 > 0 && r._3 != 0L).foreach { case (t, _, qa, qmx, qmy) =>
      val cx = qmx.toDouble / (3.0 * qa); val cy = qmy.toDouble / (3.0 * qa)
      assert(cx > 0 && cx < w && cy > 0 && cy < h, s"centroid off-grid at t=$t: ($cx, $cy)")
    }
  }

  test("compactnessStats fuses moments + length exactly; NULL index on empty thresholds") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gc", data, w, h, 16, 16)
    val thresholds = Seq(110.0, 150.0, 1000.0) // 1000: no rings -> NULL index
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val got = SpatialOps.compactnessStats(spark, cts, thresholds).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1).toSeq
    // the fused pass must reproduce the two standalone operators' sums
    val moments = SpatialOps.contourMomentStats(spark, cts, thresholds)
      .as[(Double, Long, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val lengths = SpatialOps.contourLengthStats(spark, cts)
      .as[(Double, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    got.foreach { case (t, qa2, qlen, comp) =>
      assert(qa2 == moments(t), s"qa2 drift at t=$t")
      assert(qlen == lengths.getOrElse(t, 0L), s"qlen drift at t=$t")
      comp match {
        case Some(c) =>
          val want = (BigInt(qa2).abs * 1048576 * 1000000000L) / (2 * BigInt(qlen) * qlen)
          assert(BigInt(c) == want, s"index drift at t=$t")
          // a genuine closed layer sits strictly inside (0, 1/(4*pi)]
          assert(c > 0L && c <= 79577472L, s"index out of the isoperimetric range at t=$t: $c")
        case None => assert(qlen == 0L, "NULL index only on zero perimeter")
      }
    }
    assert(got.count(_._4.isDefined) == 2 && got.count(_._4.isEmpty) == 1,
      "both real thresholds score; the empty one is NULL")
  }

  test("boxCountStats == in-memory recompute; box counts shrink monotonically with scale") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gb", data, w, h, 16, 16)
    val thresholds = Seq(110.0, 150.0, 1000.0) // 1000: no rings -> zero row
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val got = SpatialOps.boxCountStats(spark, cts, thresholds)
      .as[(Double, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val byT = cts.collect().map { c =>
      val vs = c.polygons.iterator
        .flatMap(p => (p.exterior +: p.holes).iterator).flatMap { ring =>
          val n = ring.length / 2 - 1
          (0 until n).iterator.map(i => (ring(2 * i), ring(2 * i + 1)))
        }.toSeq
      def nb(s: Double) =
        vs.map { case (x, y) => (math.floor(x / s), math.floor(y / s)) }.distinct.size.toLong
      c.threshold -> ((vs.size.toLong, nb(1), nb(2), nb(4)))
    }.toMap
    val want = thresholds.sorted.map { t =>
      val (np, b1, b2, b4) = byT.getOrElse(t, (0L, 0L, 0L, 0L))
      (t, np, b1, b2, b4, if (b2 == 0) 0L else b1 * 1000000L / b2)
    }
    assert(got == want)
    // occupancy can only shrink as boxes grow; the dim proxy sits in
    // (1x, 4x) for a genuine curve
    got.filter(_._2 > 0).foreach { case (t, _, b1, b2, b4, dim) =>
      assert(b1 >= b2 && b2 >= b4, s"non-monotone boxes at t=$t")
      assert(dim > 1000000L && dim < 4000000L, s"dim proxy out of range at t=$t: $dim")
    }
    assert(got.find(_._1 == 1000.0).get._2 == 0L)
  }

  test("simplifyStats == in-memory recompute; eps=0 keeps all, huge eps keeps none") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gs", data, w, h, 16, 16)
    val thresholds = Seq(110.0, 150.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val eps = 10485L
    val got = SpatialOps.simplifyStats(spark, cts, thresholds, eps)
      .as[(Double, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = cts.collect().map { c =>
      var nv = 0L; var nk = 0L; var qs = 0L
      c.polygons.iterator.flatMap(p => (p.exterior +: p.holes).iterator).foreach { ring =>
        val n = ring.length / 2 - 1
        for (i <- 0 until n) {
          val ip = (i + n - 1) % n; val in = (i + 1) % n
          val a2 = (ring(2 * i) - ring(2 * ip)) * (ring(2 * in + 1) - ring(2 * ip + 1)) -
            (ring(2 * in) - ring(2 * ip)) * (ring(2 * i + 1) - ring(2 * ip + 1))
          val qa = math.floor(math.abs(a2) * 1048576.0).toLong
          nv += 1
          if (qa >= eps) { nk += 1; qs += qa }
        }
      }
      (c.threshold, nv, nk, qs)
    }.sortBy(_._1).toSeq
    assert(got == want)
    assert(got.forall(r => r._3 > 0 && r._3 < r._2)) // tolerance splits non-trivially
    val all = SpatialOps.simplifyStats(spark, cts, thresholds, 0L)
      .as[(Double, Long, Long, Long)].collect()
    assert(all.forall(r => r._2 == r._3)) // eps 0 keeps every vertex
    val none = SpatialOps.simplifyStats(spark, cts, thresholds, Long.MaxValue)
      .as[(Double, Long, Long, Long)].collect()
    assert(none.forall(r => r._3 == 0L && r._4 == 0L))
  }

  test("knnVertices bucketed == brute force") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(120.0, 160.0), smooth = true)).contours(tiles)
    val verts = SpatialOps.contourVertices(spark, cts)
    val rnd = new scala.util.Random(3)
    val queries = spark.createDataset(
      (0 until 40).map(i => (i.toLong, rnd.nextDouble() * w, rnd.nextDouble() * h)))
    val got = SpatialOps.knnVertices(spark, queries, verts, k = 5)
      .select("query_id", "rank", "vx", "vy")
      .as[(Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // brute force in memory
    val vs = verts.select("vx", "vy").as[(Double, Double)].collect()
    val qs = queries.collect()
    val want = qs.flatMap { case (qid, qx, qy) =>
      vs.map { case (vx, vy) =>
        (qid, math.sqrt((vx - qx) * (vx - qx) + (vy - qy) * (vy - qy)), vx, vy)
      }.sortBy(t => (t._2, t._3, t._4)).take(5).zipWithIndex
        .map { case ((qid2, _, vx, vy), i) => (qid2, i + 1, vx, vy) }
    }.toSeq.sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("knnVertices expanding ring: far/empty-region queries, no cartesian in plan") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(120.0), smooth = true)).contours(tiles)
    val verts = SpatialOps.contourVertices(spark, cts)
    // queries far outside the vertex extent (sparse/empty region) + a few
    // normal ones: the far ones must resolve by ring growth to coverage,
    // never by a cartesian fallback
    val queries = spark.createDataset(Seq(
      (0L, 900.0, 1200.0), (1L, -500.0, -500.0), (2L, 30.0, 30.0), (3L, 2000.0, 5.0)))
    // the returned frame is a scan of the materialized result, so the
    // no-cartesian property is asserted on every ROUND's join plan
    val roundPlans = scala.collection.mutable.ArrayBuffer[String]()
    val res = SpatialOps.knnVertices(spark, queries, verts, k = 5,
      planProbe = roundPlans += _)
    assert(roundPlans.nonEmpty)
    roundPlans.foreach { plan =>
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
    val got = res.select("query_id", "rank", "vx", "vy")
      .as[(Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val vs = verts.select("vx", "vy").as[(Double, Double)].collect()
    val want = queries.collect().flatMap { case (qid, qx, qy) =>
      vs.map { case (vx, vy) =>
        (qid, math.sqrt((vx - qx) * (vx - qx) + (vy - qy) * (vy - qy)), vx, vy)
      }.sortBy(t => (t._2, t._3, t._4)).take(5).zipWithIndex
        .map { case ((q2, _, vx, vy), i) => (q2, i + 1, vx, vy) }
    }.toSeq.sortBy(r => (r._1, r._2))
    assert(got == want)

    // an empty vertex set yields zero rows (and no join at all)
    val none = SpatialOps.knnVertices(spark, queries, verts.filter(col("vx") > 1e9), k = 3)
    assert(none.count() == 0)
  }

  test("knnVertices releases every intermediate cache; result is one checkpointed RDD") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(120.0), smooth = true)).contours(tiles)
    val verts = SpatialOps.contourVertices(spark, cts)
    val rnd = new scala.util.Random(7)
    val queries = spark.createDataset(
      (0 until 20).map(i => (i.toLong, rnd.nextDouble() * w, rnd.nextDouble() * h))
        :+ (20L, 5000.0, -3000.0)) // multi-round: forces several phases
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = SpatialOps.knnVertices(spark, queries, verts, k = 3)
    assert(res.count() == 21 * 3)
    // phases, doneIds, per-round checkpoints and verts are all gone; the
    // only NEW persisted RDD is the one backing the returned (already
    // materialized) result — freed by the ContextCleaner once the caller
    // drops the frame
    val added = spark.sparkContext.getPersistentRDDs -- before
    assert(added.size <= 1, s"leaked caches: ${added.values.map(_.toString)}")
  }

  test("knnVertices with cell coordinates beyond Int range (no 32-bit wrap)") {
    import spark.implicits._
    // vertices and queries clustered near x ~ 6e9: cell ids ~ 3e9 overflow
    // Int (the pre-fix code cast cells to int and wrapped, corrupting join
    // keys and the coverage predicate); distances stay small so the search
    // resolves in a few rounds
    val base = 6.0e9
    val vs = (0 until 50).map(i => (base + i * 3.0, base / 2 + (i % 7) * 2.0))
    val verts = vs.toDF("vx", "vy")
    val queries = spark.createDataset(
      (0 until 10).map(i => (i.toLong, base + i * 11.0 + 0.5, base / 2 + i * 1.0)))
    val got = SpatialOps.knnVertices(spark, queries, verts, k = 4)
      .select("query_id", "rank", "vx", "vy")
      .as[(Long, Int, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val want = queries.collect().flatMap { case (qid, qx, qy) =>
      vs.map { case (vx, vy) =>
        (qid, math.sqrt((vx - qx) * (vx - qx) + (vy - qy) * (vy - qy)), vx, vy)
      }.sortBy(t => (t._2, t._3, t._4)).take(4).zipWithIndex
        .map { case ((q2, _, vx, vy), i) => (q2, i + 1, vx, vy) }
    }.toSeq.sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("cellRollup == brute-force per-level recompute (random points)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val pts = Seq.tabulate(3000)(_ =>
      (rnd.nextInt(64), rnd.nextInt(64), rnd.nextInt(1000).toLong - 500L))
    val got = SpatialOps.cellRollup(pts.toDF("x", "y", "qv"), tile = 4, levels = 3)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    // brute force: every level independently from the raw points
    val want = (0 to 3).flatMap { l =>
      pts.groupBy { case (x, y, _) => ((x / 4) >> l, (y / 4) >> l) }
        .map { case ((px, py), g) =>
          (l, CellIndex.morton(px, py), px.toLong, py.toLong,
            g.size.toLong, g.map(_._3).sum)
        }
    }.sortBy(r => (r._1, r._2))
    assert(got == want)
    // engine rows must already arrive (level, cell)-ordered (oracle contract)
    assert(got == got.sortBy(r => (r._1, r._2)))
  }

  test("idwGrid cell-bucketed join == brute-force all-pairs (random stations)") {
    import spark.implicits._
    // Deterministic scattered stations at half-integer coords (so integer
    // targets never coincide: d2 > 0 by construction), including stations
    // whose cell is diagonal to a target's cell but still within radius —
    // the case the 3x3 probe must cover and a 1x1 probe would miss.
    val rnd = new scala.util.Random(42)
    val stations = (0 until 500).map { i =>
      (rnd.nextInt(120) + 0.5, rnd.nextInt(90) + 0.5, rnd.nextDouble() * 100.0)
    }
    val targets = (0 until 200).map { i =>
      (i.toLong, rnd.nextInt(121).toDouble, rnd.nextInt(91).toDouble)
    }
    val radius = 8.0
    val got = SpatialOps.idwGrid(
      stations.toDF("sx", "sy", "v"), targets.toDF("tid", "tx", "ty"), radius)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val q = 1048576.0
    val want = targets.flatMap { case (tid, tx, ty) =>
      val pairs = stations.flatMap { case (sx, sy, v) =>
        val d2 = ((sx - tx) * (sx - tx)) + ((sy - ty) * (sy - ty))
        if (d2 <= radius * radius && d2 > 0.0)
          Some((math.floor(1.0 / d2 * q).toLong, math.floor(v / d2 * q).toLong))
        else None
      }
      if (pairs.isEmpty) None
      else Some((tid, pairs.size.toLong, pairs.map(_._1).sum, pairs.map(_._2).sum))
    }.sortBy(_._1)
    assert(got == want)
    // no target may appear twice (a duplicated 3x3 cell probe would)
    assert(got.map(_._1).distinct.size == got.size)
  }

  test("nearSegmentDist bucketed join == brute-force all-pairs (volcano, smoothed)") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gn", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val rnd = new scala.util.Random(7)
    val points = (0 until 150).map { i =>
      (i.toLong, rnd.nextInt(w).toDouble + 0.25, rnd.nextInt(h).toDouble + 0.25)
    }
    val radius = 6.0
    val got = SpatialOps.nearSegmentDist(
      spark, spark.createDataset(points), cts, radius)
      .as[(Long, Double, Long, Long)].collect().toSeq
    // brute force over the SAME assembled segments
    val segs = cts.collect().flatMap { c =>
      c.polygons.flatMap(p => p.exterior +: p.holes).flatMap { ring =>
        (0 until ring.length / 2 - 1).map { i =>
          (c.threshold, ring(2 * i), ring(2 * i + 1), ring(2 * i + 2), ring(2 * i + 3))
        }
      }
    }
    val want = points.flatMap { case (pid, px, py) =>
      segs.flatMap { case (t, sx, sy, ex, ey) =>
        val dx = ex - sx; val dy = ey - sy
        val len2 = dx * dx + dy * dy
        val tt = if (len2 > 0.0)
          math.min(math.max(((px - sx) * dx + (py - sy) * dy) / len2, 0.0), 1.0)
        else 0.0
        val qx = sx + tt * dx; val qy = sy + tt * dy
        val d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
        if (d2 <= radius * radius)
          Some(((pid, t), math.floor(d2 * 1048576.0).toLong))
        else None
      }.groupBy(_._1).map { case ((p, t), g) =>
        (p, t, g.size.toLong, g.map(_._2).min)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got == want)
    assert(want.nonEmpty)
    assert(got.map(r => (r._1, r._2)).distinct.size == got.size)
  }

  test("rasterizeBlocks == threshold-count classes pooled by block (volcano)") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gr", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = false)).contours(tiles)
    val points = spark.createDataset(
      (0 until w * h).map(i => (i.toLong, (i % w) + 0.5, (i / w) + 0.5)))
    val got = SpatialOps.rasterizeBlocks(spark, points, cts, w, block = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = (0 until w * h)
      .map(i => (i, thresholds.count(t => data(i) >= t).toLong))
      .groupBy { case (i, _) => ((i % w) / 10, (i / w) / 10) }
      .map { case ((bx, by), g) =>
        (bx.toLong, by.toLong, g.size.toLong, g.map(_._2).sum, g.map(_._2).max)
      }.toSeq.sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("ringDepthHist == local crossing recompute on volcano (depths > 0 exist)") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gd", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = false))
    val ringsRows = eng.contourRings(tiles).collect()
    val want = ringsRows.flatMap { rr =>
      val open = rr.rings.map(_.dropRight(2))
      val reps = open.map { a =>
        var kx = a(0); var ky = a(1)
        var i = 1
        while (i < a.length / 2) {
          if (a(2 * i) < kx || (a(2 * i) == kx && a(2 * i + 1) < ky)) {
            kx = a(2 * i); ky = a(2 * i + 1)
          }
          i += 1
        }
        (kx, ky)
      }
      reps.zipWithIndex.map { case ((px, py), ri) =>
        val depth = open.indices.count { rj =>
          rj != ri && {
            val a = open(rj)
            val n = a.length / 2
            var c = 0
            for (j <- 0 until n) {
              val k = if (j + 1 == n) 0 else j + 1
              val (x1, y1, x2, y2) = (a(2 * j), a(2 * j + 1), a(2 * k), a(2 * k + 1))
              if ((y1 > py) != (y2 > py)
                  && px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)) c += 1
            }
            c % 2 == 1
          }
        }
        (rr.threshold, depth.toLong)
      }
    }.groupBy(identity).map { case ((t, d), xs) => (t, d, xs.length.toLong) }
      .toSeq.sortBy(r => (r._1, r._2))
    val got = SpatialOps.ringDepthHist(eng.contourRings(tiles)).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // nesting: the donut grid's hole ring sits at depth 1 inside the outer
    val tiles2 = GridSynth.tilesFromArray(spark, "gd2", Goldens.holeGrid, 10, 10, 5, 5)
    val eng2 = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = false))
    val got2 = SpatialOps.ringDepthHist(eng2.contourRings(tiles2)).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == Seq((0.5, 0L, 1L), (0.5, 1L, 1L)))
  }

  test("segCrossings == local quadratic all-pairs recompute (volcano)") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "gx", data, w, h, 16, 16)
    val thresholds = Seq(100.0, 140.0, 170.0)
    val cts = new ContourEngine(spark, JobConfig(thresholds, smooth = true)).contours(tiles)
    val (dx, dy) = (0.5, 0.25)
    // brute force over ALL pairs — no bucketing, the coverage claim of the
    // engine's 3x3 probe is itself under test
    val segs = cts.collect().flatMap { c =>
      c.polygons.flatMap(p => p.exterior +: p.holes).flatMap { ring =>
        (0 until ring.length / 2 - 1).map { i =>
          (c.threshold, ring(2 * i), ring(2 * i + 1), ring(2 * i + 2), ring(2 * i + 3))
        }
      }
    }
    def q(v: Double) = math.floor(v * 1048576.0).toLong
    def orient(px: Long, py: Long, qx: Long, qy: Long, rx: Long, ry: Long) =
      (qx - px) * (ry - py) - (rx - px) * (qy - py)
    def opp(a: Long, b: Long) = (a > 0 && b < 0) || (a < 0 && b > 0)
    val want = (for {
      (t, ax, ay, bx, by) <- segs
      (t2, cx2, cy2, dx2, dy2) <- segs if t2 == t
      (a1x, a1y, a2x, a2y) = (q(ax), q(ay), q(bx), q(by))
      (b1x, b1y, b2x, b2y) = (q(cx2 + dx), q(cy2 + dy), q(dx2 + dx), q(dy2 + dy))
      oa1 = orient(a1x, a1y, a2x, a2y, b1x, b1y)
      oa2 = orient(a1x, a1y, a2x, a2y, b2x, b2y)
      ob1 = orient(b1x, b1y, b2x, b2y, a1x, a1y)
      ob2 = orient(b1x, b1y, b2x, b2y, a2x, a2y)
      if opp(oa1, oa2) && opp(ob1, ob2)
    } yield (t, oa1)).groupBy(_._1)
      .map { case (t, xs) => (t, xs.length.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val got = SpatialOps.segCrossings(spark, cts, dx, dy).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.forall(_._2 > 0L), "every threshold should cross its shifted copy")
  }

  test("contourHausdorff == local brute-force clip; far vertices and empty thresholds handled") {
    import spark.implicits._
    import graft.model.{ContourRow, PolyRow}
    // threshold 1: unit-ish square; threshold 2: the same square nudged by
    // (0.5, 0.25) PLUS a far ring 50 units away (every far-ring vertex is
    // beyond the 4-unit clip from threshold 1 and vice versa); threshold 3
    // exists in the list but has NO contours (zero-vertex side)
    val sq1 = Array(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0)
    val sq2 = Array(0.5, 0.25, 2.5, 0.25, 2.5, 2.25, 0.5, 2.25, 0.5, 0.25)
    val far = Array(50.0, 50.0, 52.0, 50.0, 52.0, 52.0, 50.0, 52.0, 50.0, 50.0)
    val cts = spark.createDataset(Seq(
      ContourRow("hd", 1.0, Seq(PolyRow(sq1, Seq.empty))),
      ContourRow("hd", 2.0, Seq(PolyRow(sq2, Seq.empty), PolyRow(far, Seq.empty)))))
    val got = SpatialOps.contourHausdorff(spark, cts, Seq(1.0, 2.0, 3.0)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq

    // local recompute: distinct quantized vertices, plain O(n^2) true min,
    // clip at Rq2 = 2^44 (the window guarantee makes engine == this)
    val rq2 = 4194304L * 4194304L
    def qv(ring: Array[Double]): Seq[(Long, Long)] =
      ring.dropRight(2).grouped(2).map(p =>
        (math.floor(p(0) * 1048576.0).toLong, math.floor(p(1) * 1048576.0).toLong)).toSeq
    val vs = Map(1.0 -> qv(sq1).distinct, 2.0 -> (qv(sq2) ++ qv(far)).distinct,
      3.0 -> Seq.empty[(Long, Long)])
    def clip(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): (Long, Long) = {
      val mins = a.map(p => b.map(q =>
        (p._1 - q._1) * (p._1 - q._1) + (p._2 - q._2) * (p._2 - q._2))
        .foldLeft(Long.MaxValue)(math.min))
      val res = mins.filter(_ < rq2)
      ((a.length - res.length).toLong, if (res.isEmpty) 0L else res.max)
    }
    val want = Seq((1.0, 2.0), (2.0, 3.0)).map { case (lo, hi) =>
      val (fab, hab) = clip(vs(lo), vs(hi))
      val (fba, hba) = clip(vs(hi), vs(lo))
      (lo, hi, vs(lo).length.toLong, vs(hi).length.toLong, fab, fba, hab, hba,
        math.max(hab, hba))
    }
    assert(got == want)
    // the scenario must exercise every contract branch: far vertices on
    // both directions of pair 1 (the far ring), a fully-far pair 2 (empty
    // side), and a nonzero clipped Hausdorff on pair 1
    assert(want.head._5 == 0L && want.head._6 == 4L, "far ring: 4 far vertices hi->lo")
    assert(want.head._9 > 0L)
    assert(want(1)._3 > 0L && want(1)._4 == 0L && want(1)._9 == 0L)
  }

  test("turningCensus == local triple-walk recompute; reflex, collinear and hole turns occur") {
    import spark.implicits._
    import graft.model.{ContourRow, PolyRow}
    // an L-shaped CCW hexagon: 5 convex vertices + 1 reflex; a collinear
    // vertex spliced into one edge; plus a CW square hole (all right turns)
    val ell = Array(0.0, 0.0, 4.0, 0.0, 4.0, 2.0, 2.0, 2.0, 2.0, 4.0, 1.0, 4.0,
      0.0, 4.0, 0.0, 0.0)
    val hole = Array(0.5, 0.5, 0.5, 1.5, 1.5, 1.5, 1.5, 0.5, 0.5, 0.5)
    val cts = spark.createDataset(Seq(
      ContourRow("tc", 1.0, Seq(PolyRow(ell, Seq(hole))))))
    val got = SpatialOps.turningCensus(spark, cts, Seq(1.0, 2.0)).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    def census(rings: Seq[Array[Double]]): (Long, Long, Long, Long, Long) = {
      val ts = rings.flatMap { ring =>
        val n = ring.length / 2 - 1
        (0 until n).map { i =>
          val ip = (i + n - 1) % n; val in = (i + 1) % n
          def qx(j: Int) = math.floor(ring(2 * j) * 1048576.0).toLong
          def qy(j: Int) = math.floor(ring(2 * j + 1) * 1048576.0).toLong
          (qx(i) - qx(ip)) * (qy(in) - qy(i)) - (qx(in) - qx(i)) * (qy(i) - qy(ip))
        }
      }
      (ts.length.toLong, ts.count(_ > 0L).toLong, ts.count(_ < 0L).toLong,
        ts.count(_ == 0L).toLong, ts.sum)
    }
    val (nv, nl, nr, ns, qs) = census(Seq(ell, hole))
    assert(got == Seq((1.0, nv, nl, nr, ns, qs), (2.0, 0L, 0L, 0L, 0L, 0L)))
    // the scenario must exercise every class: 5 convex CCW corners turn
    // left, the L's reflex corner turns right, the collinear splice is
    // straight, and the CW hole's 4 corners all turn right
    assert(nv == 11L && nl == 5L && nr == 5L && ns == 1L)
  }
}
