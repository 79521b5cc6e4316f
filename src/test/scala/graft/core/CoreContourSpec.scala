package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's 12 golden tests (lib.rs:84-744) at the pure-core
  * level: exact equality on geometry including ring order, rotation and the
  * closing point.
  */
class CoreContourSpec extends AnyFunSuite {
  import Goldens._

  test("test_empty_polygons") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(zeros10x10, Array(0.5))
    assert(res.head.polygons.isEmpty)
  }

  test("test_empty_isoline") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.lines(zeros10x10, Array(0.5))
    assert(res.head.lines.isEmpty)
  }

  test("test_simple_polygon") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(simpleGrid, Array(0.5))
    assert(res.head.polygons.length == 1)
    assert(res.head.polygons.head.holes.isEmpty)
    assertRing(res.head.polygons.head.exterior, simpleExpected)
  }

  test("test_simple_isoline") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.lines(simpleGrid, Array(0.5))
    assert(res.head.lines.length == 1)
    assertRing(res.head.lines.head, simpleExpected)
  }

  test("test_polygon_with_hole") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(holeGrid, Array(0.5))
    assert(res.head.polygons.length == 1)
    val p = res.head.polygons.head
    assertRing(p.exterior, holeExpectedExterior)
    assert(p.holes.length == 1)
    assertRing(p.holes.head, holeExpectedInterior)
  }

  test("test_multipolygon") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(multiGrid, Array(0.5))
    assert(res.head.polygons.length == 2)
    assertRing(res.head.polygons(0).exterior, multiExpected1)
    assertRing(res.head.polygons(1).exterior, multiExpected2)
  }

  test("test_multipolygon_with_hole") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(multiHoleGrid, Array(0.5))
    val ps = res.head.polygons
    assert(ps.length == 2)
    assertRing(ps(0).exterior, multiHoleExpected1Ext)
    assert(ps(0).holes.length == 1)
    assertRing(ps(0).holes.head, multiHoleExpected1Int)
    assertRing(ps(1).exterior, multiHoleExpected2Ext)
    assert(ps(1).holes.length == 1)
    assertRing(ps(1).holes.head, multiHoleExpected2Int)
  }

  test("test_simple_polygon_no_smoothing") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = false))
    val res = c.contours(noSmoothGrid, Array(0.5))
    assert(res.head.polygons.length == 1)
    assertRing(res.head.polygons.head.exterior, noSmoothExpected)
  }

  test("test_multiple_thresholds") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(multiThreshGrid, Array(0.5, 1.5))
    assert(res.length == 2)
    assert(res(0).threshold == 0.5 && res(1).threshold == 1.5)
    assertRing(res(0).polygons.head.exterior, multiThreshExpected0)
    assertRing(res(1).polygons.head.exterior, multiThreshExpected1)
  }

  test("test_issue18") {
    val (data, w, h) = loadFixture("/fixtures/issue18.json")
    val c = new CoreContour(ContourConfig(w, h, smooth = true))
    val res = c.contours(data, Array(10.0))
    val ps = res.head.polygons
    assert(ps.length == issue18Expected.length, s"got ${ps.length} polygons")
    ps.zip(issue18Expected).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.holes.isEmpty, s"polygon $i has holes")
      assertRing(got.exterior, want, s"polygon $i:")
    }
  }

  test("test_multipolygon_with_x_y_steps") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true,
      xOrigin = 100.0, yOrigin = 200.0, xStep = 2.0, yStep = 2.0))
    val res = c.contours(stepsGrid, Array(0.5))
    assert(res.head.polygons.length == 2)
    assertRing(res.head.polygons(0).exterior, stepsExpected1)
    assertRing(res.head.polygons(1).exterior, stepsExpected2)
  }

  test("test_simple_polygon_no_smoothing_geojson") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = false))
    val res = c.contours(noSmoothGrid, Array(0.5))
    val json = GeoJson.contourFeature(res.head)
    assert(json.startsWith("""{"type":"Feature","geometry"""))
    val want = "[[[[6.0,7.5],[6.0,6.5],[6.0,5.5],[6.0,4.5],[6.0,3.5],[5.5,3.0]," +
      "[4.5,3.0],[3.5,3.0],[3.0,3.5],[3.0,4.5],[3.0,5.5],[3.0,6.5],[3.0,7.5]," +
      "[3.5,8.0],[4.5,8.0],[5.5,8.0],[6.0,7.5]]]]"
    assert(json.contains(s""""coordinates":$want"""), json)
  }

  test("line + contour doctest geojson prefixes (line.rs:30-53, contour.rs:30-53)") {
    // the doctests' ellided 10x10 grid (2/1/2 checker block), smooth=false
    val docGrid = Goldens.grid("""
      0 0 0 0 0 0 0 0 0 0
      0 0 0 0 0 0 0 0 0 0
      0 0 0 0 0 0 0 0 0 0
      0 0 0 2 1 2 0 0 0 0
      0 0 0 2 2 2 0 0 0 0
      0 0 0 1 2 1 0 0 0 0
      0 0 0 2 2 2 0 0 0 0
      0 0 0 2 1 2 0 0 0 0
      0 0 0 0 0 0 0 0 0 0
      0 0 0 0 0 0 0 0 0 0""")
    val c = new CoreContour(ContourConfig(10, 10, smooth = false))
    val lines = c.lines(docGrid, Array(0.5))
    assert(lines.length == 1)
    assert(GeoJson.lineFeature(lines.head).startsWith("""{"type":"Feature","geometry"""))
    val contours = c.contours(docGrid, Array(0.5))
    assert(contours.length == 1 && contours.head.polygons.nonEmpty)
    assert(GeoJson.contourFeature(contours.head).startsWith("""{"type":"Feature","geometry"""))
  }

  test("band doctest geojson prefix (band.rs:36-59)") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = false))
    val res = c.isobands(bandDocGrid, Array(0.5, 1.5, 2.5))
    assert(res.length == 2)
    assert(res(0).minV == 0.5 && res(0).maxV == 1.5)
    assert(res(1).minV == 1.5 && res(1).maxV == 2.5)
    val json = GeoJson.bandFeature(res(0))
    assert(json.startsWith("""{"type":"Feature","geometry"""))
  }

  test("BadDimension rejected") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    assertThrows[IllegalArgumentException](c.contours(Array(0.0, 1.0), Array(0.5)))
    assertThrows[IllegalArgumentException](c.lines(Array.fill(99)(0.0), Array(0.5)))
    assertThrows[IllegalArgumentException](c.isobands(Array.fill(99)(0.0), Array(0.5, 1.5)))
  }

  test("isobands requires >= 2 thresholds") {
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    assertThrows[IllegalArgumentException](c.isobands(zeros10x10, Array(0.5)))
  }

  test("isoband structural invariants on volcano fixture") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 5).map(_.toDouble).toArray
    val c = new CoreContour(ContourConfig(w, h, smooth = true))
    val bands = c.isobands(data, thresholds)
    assert(bands.length == thresholds.length - 1)
    bands.foreach { b =>
      b.polygons.foreach { p =>
        // rings closed
        val e = p.exterior
        assert(e(0) == e(e.length - 2) && e(1) == e(e.length - 1))
        p.holes.foreach { hRing =>
          assert(hRing(0) == hRing(hRing.length - 2) && hRing(1) == hRing(hRing.length - 1))
        }
      }
      // output order: descending truncated |area| of exteriors
      val areas = b.polygons.map(p => math.abs(Geom.area2(p.exterior)).toLong)
      assert(areas == areas.sortBy(-_), s"band ${b.minV}: $areas")
    }
  }

  test("NaN behaves as below threshold") {
    val g = simpleGrid.clone()
    // NaN outside the block must not change the contour
    g(0) = Double.NaN
    val c = new CoreContour(ContourConfig(10, 10, smooth = true))
    val res = c.contours(g, Array(0.5))
    assertRing(res.head.polygons.head.exterior, simpleExpected)
  }
}
