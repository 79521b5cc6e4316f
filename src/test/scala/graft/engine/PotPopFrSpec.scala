package graft.engine

import graft.SparkTestSession
import graft.core.{ContourConfig, CoreContour, Goldens}
import graft.docs.DocCodec
import graft.model.JobConfig
import org.scalatest.funsuite.AnyFunSuite

/** pot_pop_fr: the reference's heavily skewed population-potential raster
  * (142x124, values 0..1.05e7) with its 13 uneven thresholds and the
  * example's real-world affine placement — including the NEGATIVE y_step,
  * which flips ring orientation after the transform and exercises the
  * post-affine area classification. Distributed output must equal the
  * single-process core polygon-for-polygon.
  */
class PotPopFrSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val thresholds = Seq(0.001, 105483.25, 527416.25, 1054832.5, 2109665.0,
    3164497.5, 4219330.0, 5274162.5, 6328995.0, 7383827.5, 8438660.0,
    9704459.0, 10548326.0)
  // examples/ex.rs:27-30
  private val (xo, yo) = (-6.144721171428571, 51.78171334283718)
  private val (xs, ys) = (0.11875873095057177, -0.08993203637245273)

  test("isobands with negative y_step affine: distributed == core, skewed thresholds") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/pot_pop_fr.json")
    val core = new CoreContour(ContourConfig(w, h, smooth = true, xo, yo, xs, ys))
    val want = core.isobands(data, thresholds.toArray)

    val tiles = DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "fr", data, w, h, 32, 32)))
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true, xo, yo, xs, ys))
    val got = eng.isobands(tiles).collect().sortBy(_.minV)

    assert(got.length == want.length && got.length == 12)
    var totalPolys = 0
    got.zip(want).foreach { case (g, w0) =>
      assert(g.minV == w0.minV && g.maxV == w0.maxV)
      Goldens.assertPolys(g.polygons, w0.polygons, s"band ${g.minV}")
      totalPolys += g.polygons.length
    }
    assert(totalPolys > 0)
  }

  test("contours with negative y_step: orientation-flipped classification matches core") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/pot_pop_fr.json")
    val ts = Seq(105483.25, 2109665.0)
    val core = new CoreContour(ContourConfig(w, h, smooth = true, xo, yo, xs, ys))
    val want = core.contours(data, ts.toArray)
    val tiles = GridSynth.tilesFromArray(spark, "fr", data, w, h, 48, 48)
    val eng = new ContourEngine(spark, JobConfig(ts, smooth = true, xo, yo, xs, ys))
    val got = eng.contours(tiles).collect().sortBy(_.threshold)
    got.zip(want).foreach { case (g, w0) =>
      Goldens.assertPolys(g.polygons, w0.polygons, s"t=${g.threshold}")
    }
  }
}
