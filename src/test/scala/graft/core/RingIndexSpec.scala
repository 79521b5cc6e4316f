package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** RingIndex must be bit-identical to Geom.ringContains / Geom.contains on
  * every input — including points exactly on vertices, edges, and the
  * degenerate closing segment.
  */
class RingIndexSpec extends AnyFunSuite {

  test("exact equivalence with Geom.ringContains on random rings/points") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 300) {
      // random marching-squares-like ring: short segments, half-integer verts
      val n = 4 + rnd.nextInt(60)
      val pts = new Array[Double](2 * (n + 1))
      var x = rnd.nextInt(20) * 0.5
      var y = rnd.nextInt(20) * 0.5
      for (i <- 0 until n) {
        pts(2 * i) = x
        pts(2 * i + 1) = y
        x += (rnd.nextInt(3) - 1) * 0.5
        y += (rnd.nextInt(3) - 1) * 0.5
      }
      pts(2 * n) = pts(0)
      pts(2 * n + 1) = pts(1)
      val idx = new RingIndex(pts)
      for (_ <- 0 until 60) {
        val qx = rnd.nextInt(24) * 0.25 - 0.5
        val qy = rnd.nextInt(24) * 0.25 - 0.5
        assert(idx.contains(qx, qy) == Geom.ringContains(pts, qx, qy),
          s"trial=$trial q=($qx,$qy) ring=${pts.mkString(",")}")
      }
      // vertices themselves must return 0
      for (i <- 0 until n) {
        val (vx, vy) = (pts(2 * i), pts(2 * i + 1))
        assert(idx.contains(vx, vy) == Geom.ringContains(pts, vx, vy))
      }
    }
  }

  test("outside-bbox margins: sub-epsilon-off-line claims still match the walk") {
    // near-vertical segment (|dx| < EPSILON, tall): a point 1 ulp OUTSIDE
    // the ring's x-bbox on that segment's line is still claimed by
    // segment_contains — the exact per-ring xMargin must route it to the
    // bucket walk, not the -1 short circuit
    val e = 1e-16 // < Geom.Epsilon
    val ring = Array(
      0.5, 0.0, 0.5 + e, 1.0, 2.0, 1.0, 2.0, 0.0, 0.5, 0.0)
    val idx = new RingIndex(ring)
    val probes = Seq(
      (0.5 - 1e-16, 0.5), // 1 ulp outside bminX, collinear within budget
      (0.5 - 1e-15, 0.5), // further out: beyond the claim budget
      (0.5 + 1e-16, 0.5), // inside
      (2.0 + 1e-16, 0.5), // 1 ulp right of bmaxX
      (1.0, -1e-16), (1.0, 1.0 + 1e-16)) // 1 ulp below/above in y
    probes.foreach { case (qx, qy) =>
      assert(idx.contains(qx, qy) == Geom.ringContains(ring, qx, qy),
        s"q=($qx,$qy)")
    }
    // x-dominant near-flat segment: y-claims up to EPSILON/|dx| below the
    // span must survive the y short circuit
    val flat = Array(0.0, 0.0, 2.0, 1e-16, 2.0, 1.0, 0.0, 1.0, 0.0, 0.0)
    val fidx = new RingIndex(flat)
    Seq((1.0, -1e-17), (1.0, 5e-17), (1.0, -1e-15), (0.5, 0.0)).foreach { case (qx, qy) =>
      assert(fidx.contains(qx, qy) == Geom.ringContains(flat, qx, qy), s"q=($qx,$qy)")
    }
  }

  test("exact equivalence on smoothed volcano rings") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val core = new CoreContour(ContourConfig(w, h, smooth = true))
    val rings = core.contourRings(data, 150.0) ++ core.contourRings(data, 120.0)
    val smoothRings = rings.map { r =>
      Smoother.smoothInPlace(r, data, w, 0, 0, w, h, 150.0); r
    }
    val rnd = new scala.util.Random(11)
    for (a <- smoothRings; b <- smoothRings) {
      val idx = new RingIndex(a)
      assert(idx.containsRing(b) == Geom.contains(a, b))
      for (_ <- 0 until 40) {
        val qx = rnd.nextDouble() * (w + 2) - 1
        val qy = rnd.nextDouble() * (h + 2) - 1
        assert(idx.contains(qx, qy) == Geom.ringContains(a, qx, qy))
      }
    }
  }

  /** contains == Geom.ringContains at every query, and the claim box
    * rejects only where the walk says -1.
    */
  private def agree(ring: Array[Double], qs: Seq[(Double, Double)], hint: String): Unit = {
    val idx = new RingIndex(ring)
    val boxes = RingIndex.claimBoxes(Array(idx))
    qs.foreach { case (x, y) =>
      val want = Geom.ringContains(ring, x, y)
      assert(idx.contains(x, y) == want, s"$hint q=($x,$y)")
      assert(RingIndex.mayClaim(boxes, 0, x, y) || want == -1, s"$hint claim box q=($x,$y)")
    }
  }

  /** Queries at quarter steps over [lo, hi]^2 plus 1-ulp neighbours of each. */
  private def around(lo: Double, hi: Double): Seq[(Double, Double)] = {
    val vs = (0 to ((hi - lo) * 4).toInt).map(k => lo + k * 0.25)
      .flatMap(v => Seq(v, math.nextUp(v), math.nextDown(v)))
    for (x <- vs; y <- vs) yield (x, y)
  }

  private def closed(pts: Double*): Array[Double] = (pts ++ pts.take(2)).toArray

  test("row index: two rings sharing a grid-border run (the all-on-boundary walk)") {
    // both rings run along y = 0 from x = 0 to x = 6 in unit steps, so every
    // vertex of the inner ring's run is on the outer ring's boundary
    val outer = closed((0 to 10).flatMap(x => Seq(x.toDouble, 0.0)) ++ Seq(10.0, 4.0, 0.0, 4.0): _*)
    val inner = closed((0 to 6).flatMap(x => Seq(x.toDouble, 0.0)) ++ Seq(6.0, 2.0, 0.0, 2.0): _*)
    for ((a, b) <- Seq((outer, inner), (inner, outer), (outer, outer), (inner, inner))) {
      assert(new RingIndex(a).containsRing(b) == Geom.contains(a, b))
      agree(a, around(-1, 11), "border run")
    }
  }

  test("row index: a ring doubling back over one row, x-spans overlapping") {
    // row y = 1 is walked right 0 -> 5, back left 5 -> 1, then right again
    val ring = closed(0, 1, 2, 1, 5, 1, 3, 1, 1, 1, 4, 1, 4, 3, 0, 3)
    agree(ring, around(-1, 6), "doubling back")
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 200) {
      // mostly-horizontal random walks on a few rows: long runs, overlaps
      val n = 4 + rnd.nextInt(40)
      val pts = new Array[Double](2 * n)
      var x = 0.0; var y = 0.0
      for (i <- 0 until n) {
        pts(2 * i) = x; pts(2 * i + 1) = y
        if (rnd.nextInt(4) == 0) y += rnd.nextInt(3) - 1 else x += (rnd.nextInt(9) - 4) * 0.5
      }
      val ring = closed(pts.toIndexedSeq: _*)
      val idx = new RingIndex(ring)
      for (_ <- 0 until 80) {
        val qx = rnd.nextInt(48) * 0.25 - 6; val qy = rnd.nextInt(24) * 0.25 - 3
        assert(idx.contains(qx, qy) == Geom.ringContains(ring, qx, qy), s"trial=$trial q=($qx,$qy)")
      }
    }
  }

  test("row index: exactly horizontal vs 1-ulp-off-horizontal segments") {
    val up = math.nextUp(1.0)
    for (top <- Seq(1.0, up, math.nextDown(1.0))) {
      val ring = closed(0, 1, 4, top, 4, 3, 0, 3)
      agree(ring, around(-1, 5), s"top=$top")
      agree(ring, for (x <- Seq(0.0, 2.0, 4.0, 4.5); y <- Seq(1.0, up, math.nextDown(1.0), 1 + 1e-16, 0.0, 2.0))
        yield (x, y), s"top=$top on-line")
    }
  }

  test("sub-ulp claims of short segments across bucket and row boundaries") {
    // A segment shorter than 1 claims points 1 ulp off its y. On quarter
    // and tenth grids the index's bucket and row edges often fall on (or
    // round to) vertex ys, so that ulp crosses from one bucket or row into
    // the next. Moves alternate: flat (exactly, or 1 ulp up: a bucket
    // segment), then up or down by a multiple of the step.
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 600) {
      val step = if (trial % 2 == 0) 0.25 else 0.1
      val n = 2 * (2 + rnd.nextInt(12))
      val pts = new Array[Double](2 * n)
      var x = 0.0; var y = 0.0
      for (i <- 0 until n) {
        pts(2 * i) = x; pts(2 * i + 1) = y
        if (i % 2 == 0) {
          x += (if (rnd.nextBoolean()) 0.25 else -0.5)
          if (rnd.nextInt(3) == 0) y = math.nextUp(y)
        } else y = (rnd.nextInt(9) - 4) * step
      }
      val ring = closed(pts.toIndexedSeq: _*)
      val qs = for (i <- 0 until n; dx <- Seq(-0.125, 0.0, 0.125);
                    qy <- Seq(math.nextDown(pts(2 * i + 1)), math.nextUp(pts(2 * i + 1))))
        yield (pts(2 * i) + dx, qy)
      agree(ring, qs, s"trial=$trial ring=${ring.mkString(",")}")
    }
  }

  test("row index: long horizontal segments under affine step 1000 / origin 1e6") {
    val rnd = new scala.util.Random(29)
    def affine(v: Double) = v * 1000.0 + 1e6
    for (trial <- 0 until 100) {
      val n = 4 + rnd.nextInt(30)
      val pts = new Array[Double](2 * n)
      var x = 0.0; var y = 0.0
      for (i <- 0 until n) {
        pts(2 * i) = affine(x); pts(2 * i + 1) = affine(y)
        if (i % 2 == 0) x += (rnd.nextInt(9) - 4) * 0.5 else y += (rnd.nextInt(3) - 1) * 0.5
      }
      val ring = closed(pts.toIndexedSeq: _*)
      val qs = for (_ <- 0 until 80) yield {
        val qx = affine(rnd.nextInt(40) * 0.25 - 5); val qy = affine(rnd.nextInt(40) * 0.25 - 5)
        rnd.nextInt(3) match {
          case 0 => (qx, qy)
          case 1 => (qx, qy + (rnd.nextInt(5) - 2) * 1e-10)
          case _ => (qx, math.nextUp(qy))
        }
      }
      agree(ring, qs, s"trial=$trial")
    }
  }

  test("row index: +0.0 and -0.0 coordinates") {
    val ring = closed(-0.0, 0.0, 2.0, -0.0, 2.0, 2.0, 0.0, 2.0)
    val zs = Seq(0.0, -0.0)
    agree(ring, for (x <- zs ++ Seq(1.0, 2.0); y <- zs ++ Seq(1.0, 2.0)) yield (x, y), "signed zero")
    agree(ring, for (x <- zs; y <- zs) yield (x, y), "signed zero corner")
  }

  test("NaN and infinite query points") {
    val ring = closed(0, 0, 4, 0, 4, 3, 2, 5, 0, 3)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val finite = Seq(0.0, 1.0, 3.0, 5.0)
    // y = 0.0 is the wrap line of the closing segment and a horizontal row
    val qs = (for (s <- specials; v <- finite) yield Seq((s, v), (v, s))).flatten ++
      (for (a <- specials; b <- specials) yield (a, b))
    agree(ring, qs, "non-finite")
  }
}
