package graft.core

import graft.SparkTestSession
import graft.engine.{ContourEngine, GridSynth}
import graft.model.JobConfig
import org.scalatest.funsuite.AnyFunSuite

/** Douglas–Peucker properties: vertex-subset in order, Hausdorff bound on
  * dropped vertices, identity at eps=0 for non-collinear rings,
  * monotonicity in eps, determinism, and the distributed wrapper being a
  * pure per-ring map of the core function.
  */
class SimplifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def volcanoRings(): Seq[Array[Double]] = {
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "dp", data, w, h, 16, 16)
    new ContourEngine(spark, JobConfig(Seq(110.0, 150.0), smooth = true))
      .contours(tiles).collect()
      .flatMap(c => c.polygons.flatMap(p => p.exterior +: p.holes)).toSeq
  }

  private def distSqTo(ring: Array[Double], px: Double, py: Double): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < ring.length - 2) {
      val ax = ring(i); val ay = ring(i + 1)
      val bx = ring(i + 2); val by = ring(i + 3)
      val dx = bx - ax; val dy = by - ay
      val l2 = dx * dx + dy * dy
      val t = if (l2 == 0.0) 0.0
        else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
      val ex = px - (ax + t * dx); val ey = py - (ay + t * dy)
      best = math.min(best, ex * ex + ey * ey)
      i += 2
    }
    best
  }

  test("subset-in-order, closure, error bound, monotone in eps, deterministic") {
    val rings = volcanoRings()
    assert(rings.nonEmpty)
    val epses = Seq(0.05, 0.2, 1.0)
    rings.foreach { r =>
      var prevLen = Int.MaxValue
      epses.foreach { eps =>
        val s = Simplify.ring(r, eps)
        // closed, and vertices are an ordered subset of the input's
        assert(s(0) == s(s.length - 2) && s(1) == s(s.length - 1))
        var j = 0
        var i = 0
        while (j < s.length - 2) {
          while (i < r.length - 2 && !(r(i) == s(j) && r(i + 1) == s(j + 1))) i += 2
          assert(i < r.length - 2, s"vertex $j not found in order (eps=$eps)")
          j += 2
        }
        // every DROPPED input vertex lies within eps of the simplified ring
        var k = 0
        while (k < r.length - 2) {
          val d = distSqTo(s, r(k), r(k + 1))
          assert(d <= eps * eps + 1e-12, s"dropped vertex beyond eps: d2=$d eps=$eps")
          k += 2
        }
        // deterministic
        assert(java.util.Arrays.equals(s, Simplify.ring(r, eps)))
        // monotone: larger eps never keeps more vertices
        assert(s.length <= prevLen)
        prevLen = s.length
      }
      // a real simplification happens at the largest eps on non-tiny rings
      if (r.length > 40) assert(Simplify.ring(r, 1.0).length < r.length)
    }
  }

  test("eps=0 drops only exactly-collinear vertices") {
    val rings = volcanoRings()
    rings.foreach { r =>
      val s = Simplify.ring(r, 0.0)
      var k = 0
      while (k < r.length - 2) {
        assert(distSqTo(s, r(k), r(k + 1)) == 0.0)
        k += 2
      }
    }
  }

  test("simplifyContours == per-ring core.Simplify, degenerates dropped") {
    import spark.implicits._
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val tiles = GridSynth.tilesFromArray(spark, "dpw", data, w, h, 16, 16)
    val cts = new ContourEngine(spark, JobConfig(Seq(110.0, 150.0), smooth = true))
      .contours(tiles)
    val eps = 0.5
    val got = graft.engine.SpatialOps.simplifyContours(cts, eps).collect()
      .sortBy(_.threshold)
    val want = cts.collect().sortBy(_.threshold).map { c =>
      c.polygons.flatMap { p =>
        val ext = Simplify.ring(p.exterior, eps)
        if (ext.length < 8) None
        else Some(Poly(ext, p.holes.map(hh => Simplify.ring(hh, eps)).filter(_.length >= 8)))
      }
    }
    got.zip(want).foreach { case (g, w0) => Goldens.assertPolys(g.polygons, w0, s"t=${g.threshold}") }
    assert(got.exists(_.polygons.nonEmpty))
  }
}
