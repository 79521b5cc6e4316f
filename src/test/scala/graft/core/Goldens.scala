package graft.core

import graft.model.{ContourRow, PolyRow}
import org.scalatest.Assertions.{assert, fail}

/** The reference's 12 golden test inputs and expected geometries, ported
  * verbatim from /root/reference/src/lib.rs:84-744 (grids and expected
  * coordinates are data, re-expressed as Scala arrays). Shared by the pure
  * core suite and the distributed pipeline suites.
  */
object Goldens {

  def grid(rows: String): Array[Double] =
    rows.split("[,\\s]+").filter(_.nonEmpty).map(_.toDouble)

  /** pack [(x, y)...] into the engine's packed representation */
  def ring(pts: (Double, Double)*): Array[Double] =
    pts.flatMap { case (x, y) => Seq(x, y) }.toArray

  val zeros10x10: Array[Double] = Array.fill(100)(0.0)

  val simpleGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  val simpleExpected: Array[Double] = ring(
    (6.0, 7.5), (6.0, 6.5), (6.0, 5.5), (6.0, 4.5), (6.0, 3.5),
    (5.5, 3.0), (4.5, 3.0), (3.5, 3.0),
    (3.0, 3.5), (3.0, 4.5), (3.0, 5.5), (3.0, 6.5), (3.0, 7.5),
    (3.5, 8.0), (4.5, 8.0), (5.5, 8.0), (6.0, 7.5))

  val holeGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 0 1 0 0 0 0
    0 0 0 1 0 1 0 0 0 0
    0 0 0 1 0 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  val holeExpectedExterior: Array[Double] = simpleExpected
  val holeExpectedInterior: Array[Double] = ring(
    (4.5, 7.0), (4.0, 6.5), (4.0, 5.5), (4.0, 4.5), (4.5, 4.0),
    (5.0, 4.5), (5.0, 5.5), (5.0, 6.5), (4.5, 7.0))

  val multiGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 1 1 0 1 0 0 0
    0 0 0 1 1 0 1 0 0 0
    0 0 0 1 1 0 1 0 0 0
    0 0 0 1 1 0 1 0 0 0
    0 0 0 1 1 0 1 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  val multiExpected1: Array[Double] = ring(
    (5.0, 7.5), (5.0, 6.5), (5.0, 5.5), (5.0, 4.5), (5.0, 3.5),
    (4.5, 3.0), (3.5, 3.0), (3.0, 3.5), (3.0, 4.5), (3.0, 5.5),
    (3.0, 6.5), (3.0, 7.5), (3.5, 8.0), (4.5, 8.0), (5.0, 7.5))

  val multiExpected2: Array[Double] = ring(
    (7.0, 7.5), (7.0, 6.5), (7.0, 5.5), (7.0, 4.5), (7.0, 3.5),
    (6.5, 3.0), (6.0, 3.5), (6.0, 4.5), (6.0, 5.5), (6.0, 6.5),
    (6.0, 7.5), (6.5, 8.0), (7.0, 7.5))

  val multiHoleGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 1 1 1 0 1 1 1 0 0
    0 1 0 1 0 1 0 1 0 0
    0 1 1 1 0 1 1 1 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  val multiHoleExpected1Ext: Array[Double] = ring(
    (4.0, 5.5), (4.0, 4.5), (4.0, 3.5), (3.5, 3.0), (2.5, 3.0), (1.5, 3.0),
    (1.0, 3.5), (1.0, 4.5), (1.0, 5.5), (1.5, 6.0), (2.5, 6.0), (3.5, 6.0),
    (4.0, 5.5))
  val multiHoleExpected1Int: Array[Double] = ring(
    (2.5, 5.0), (2.0, 4.5), (2.5, 4.0), (3.0, 4.5), (2.5, 5.0))
  val multiHoleExpected2Ext: Array[Double] = ring(
    (8.0, 5.5), (8.0, 4.5), (8.0, 3.5), (7.5, 3.0), (6.5, 3.0), (5.5, 3.0),
    (5.0, 3.5), (5.0, 4.5), (5.0, 5.5), (5.5, 6.0), (6.5, 6.0), (7.5, 6.0),
    (8.0, 5.5))
  val multiHoleExpected2Int: Array[Double] = ring(
    (6.5, 5.0), (6.0, 4.5), (6.5, 4.0), (7.0, 4.5), (6.5, 5.0))

  val noSmoothGrid: Array[Double] = grid("""
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

  // identical to simpleExpected (half-integer ring, smooth=false)
  val noSmoothExpected: Array[Double] = simpleExpected

  val multiThreshGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 1 1 1 1 0 0 0
    0 0 0 1 1 1 1 0 0 0
    0 0 0 1 2 2 1 0 0 0
    0 0 0 1 1 2 1 0 0 0
    0 0 0 1 1 1 1 0 0 0
    0 0 0 1 1 1 1 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  val multiThreshExpected0: Array[Double] = ring(
    (7.0, 8.5), (7.0, 7.5), (7.0, 6.5), (7.0, 5.5), (7.0, 4.5), (7.0, 3.5),
    (6.5, 3.0), (5.5, 3.0), (4.5, 3.0), (3.5, 3.0),
    (3.0, 3.5), (3.0, 4.5), (3.0, 5.5), (3.0, 6.5), (3.0, 7.5), (3.0, 8.5),
    (3.5, 9.0), (4.5, 9.0), (5.5, 9.0), (6.5, 9.0), (7.0, 8.5))

  val multiThreshExpected1: Array[Double] = ring(
    (6.0, 6.5), (6.0, 5.5), (5.5, 5.0), (4.5, 5.0), (4.0, 5.5),
    (4.5, 6.0), (5.0, 6.5), (5.5, 7.0), (6.0, 6.5))

  val stepsGrid: Array[Double] = multiGrid

  val stepsExpected1: Array[Double] = ring(
    (110.0, 215.0), (110.0, 213.0), (110.0, 211.0), (110.0, 209.0), (110.0, 207.0),
    (109.0, 206.0), (107.0, 206.0), (106.0, 207.0), (106.0, 209.0), (106.0, 211.0),
    (106.0, 213.0), (106.0, 215.0), (107.0, 216.0), (109.0, 216.0), (110.0, 215.0))

  val stepsExpected2: Array[Double] = ring(
    (114.0, 215.0), (114.0, 213.0), (114.0, 211.0), (114.0, 209.0), (114.0, 207.0),
    (113.0, 206.0), (112.0, 207.0), (112.0, 209.0), (112.0, 211.0), (112.0, 213.0),
    (112.0, 215.0), (113.0, 216.0), (114.0, 215.0))

  /** issue18 expected: 9 polygons, each a single exterior ring (lib.rs:500-636). */
  val issue18Expected: Seq[Array[Double]] = Seq(
    ring((5.093049464469837, 2.5), (4.5, 1.675604779947537), (4.041491617923191, 2.5),
      (4.5, 3.0939939099086486), (5.093049464469837, 2.5)),
    ring((3.2866555248441216, 3.5), (2.5380369570434365, 2.5), (2.810018648476255, 1.5),
      (2.5, 0.7099240221367358), (2.102376081825299, 1.5), (1.5, 2.2930927322449044),
      (0.9128140626438015, 1.5), (1.5, 0.7886423607239752), (2.1982064997527755, 0.5),
      (1.5, 0.0), (0.5, 0.0), (0.0, 0.5), (0.0, 1.5), (0.0, 2.5),
      (0.5, 3.3582089552233354), (1.5, 2.708014829934868), (2.108384, 3.5),
      (2.5, 4.408234071765186), (3.2866555248441216, 3.5)),
    ring((6.441781292984862, 3.5), (5.5, 2.959587986897662), (4.958615849921951, 3.5),
      (5.5, 3.8767591586303354), (6.441781292984862, 3.5)),
    ring((4.0457991530192805, 4.5), (3.5, 3.7647997446944315), (2.618308376788021, 4.5),
      (3.5, 5.140019447145437), (4.0457991530192805, 4.5)),
    ring((7.016556897182495, 4.5), (6.5, 3.6303611303611305), (6.300452312802572, 4.5),
      (6.5, 4.727784276551992), (7.016556897182495, 4.5)),
    ring((3.1676925049689437, 5.5), (2.5, 4.606132784000669), (2.0164254986312082, 4.5),
      (1.5, 4.435054715357187), (0.5, 3.5148494368248206), (0.0, 4.5), (0.0, 5.5),
      (0.5, 6.231487086359968), (1.5, 6.137720033528919), (2.5, 5.946904838536682),
      (3.1676925049689437, 5.5)),
    ring((5.084253149370173, 8.5), (5.5, 8.109086806926463), (6.223857085400153, 7.5),
      (6.5, 7.140249759846301), (7.011048375853896, 6.5), (6.5, 6.223083605597608),
      (5.5, 5.6994222282881175), (4.5, 6.254883716200413), (4.150007260055157, 6.5),
      (3.5, 7.222661673070077), (3.1732349360925136, 7.5), (3.5, 8.060357480674517),
      (3.908975059166165, 8.5), (4.5, 9.177341957020609), (5.084253149370173, 8.5)),
    ring((2.4412640476419276, 9.5), (1.5, 9.30005100999793), (1.320828800497289, 9.5),
      (1.5, 10.0), (2.4412640476419276, 9.5)),
    ring((10.0, 9.5), (10.0, 8.5), (10.0, 7.5), (10.0, 6.5), (10.0, 5.5), (10.0, 4.5),
      (10.0, 3.5), (10.0, 2.5), (10.0, 1.5), (10.0, 0.5), (9.5, 0.0), (8.5, 0.0),
      (7.5, 0.0), (6.5, 0.0), (5.5, 0.0), (4.5, 0.0), (3.5, 0.0),
      (2.663832019716454, 0.5), (3.5, 0.8786157823790688), (4.5, 1.3957432081675032),
      (4.74461210542345, 1.5), (5.5, 1.98943399535271), (6.017704327724515, 2.5),
      (6.5, 3.427621734855286), (6.616189691853682, 3.5), (7.5, 4.0492152848856175),
      (7.6640591047371185, 4.5), (7.765869728675749, 5.5), (8.019380992928879, 6.5),
      (8.5, 6.935535276948297), (8.930593233352143, 7.5), (8.5, 7.910325821871075),
      (7.717229434426615, 8.5), (7.5, 8.658415374082265), (6.5, 8.666753585397572),
      (5.5, 8.792345981060047), (4.7166421517126125, 9.5), (5.5, 10.0), (6.5, 10.0),
      (7.5, 10.0), (8.5, 10.0), (9.5, 10.0), (10.0, 9.5)))

  /** 10x10 grid for the band.rs doctest (band.rs:36-59). */
  val bandDocGrid: Array[Double] = grid("""
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 1 2 1 0 0 0 0
    0 0 0 1 2 1 0 0 0 0
    0 0 0 1 2 1 0 0 0 0
    0 0 0 1 1 1 0 0 0 0
    0 0 0 0 0 0 0 0 0 0
    0 0 0 0 0 0 0 0 0 0""")

  /** Parse a JSON number the way serde_json does WITHOUT its
    * `float_roundtrip` feature: significand accumulated as an integer, cast
    * to f64, then scaled by a power of ten — two roundings, up to 1 ulp off
    * the correctly-rounded value. The reference's goldens (issue18) were
    * produced through that parser, so bit-identical fixture replay requires
    * emulating it (verified: correctly-rounded parsing shifts
    * issue18's first vertex by ~170 ulps after smoothing).
    */
  def serdeJsonParseDouble(s0: String): Double = {
    var s = s0.trim
    val neg = s.startsWith("-")
    if (neg) s = s.substring(1)
    var mant = s
    var exp10 = 0
    val eIx = s.indexWhere(c => c == 'e' || c == 'E')
    if (eIx >= 0) { exp10 = s.substring(eIx + 1).toInt; mant = s.substring(0, eIx) }
    val dotIx = mant.indexOf('.')
    val digits = if (dotIx >= 0) {
      exp10 -= (mant.length - dotIx - 1)
      mant.substring(0, dotIx) + mant.substring(dotIx + 1)
    } else mant
    var sig = 0L
    var i = 0
    var truncated = false
    while (i < digits.length) {
      val d = digits.charAt(i) - '0'
      if (!truncated && sig <= (Long.MaxValue - d) / 10) sig = sig * 10 + d
      else { truncated = true; exp10 += 1 }
      i += 1
    }
    var f = sig.toDouble
    if (exp10 >= 0) f *= math.pow(10.0, exp10) else f /= math.pow(10.0, -exp10)
    if (neg) -f else f
  }

  /** Load a JSON grid fixture {data, width, height} without external deps,
    * with serde_json-compatible float parsing (see above).
    */
  def loadFixture(resource: String): (Array[Double], Int, Int) = {
    val is = getClass.getResourceAsStream(resource)
    require(is != null, s"missing resource $resource")
    val text = scala.io.Source.fromInputStream(is).mkString
    val width = """"width"\s*:\s*(\d+)""".r.findFirstMatchIn(text).get.group(1).toInt
    val height = """"height"\s*:\s*(\d+)""".r.findFirstMatchIn(text).get.group(1).toInt
    val dataStr = text.substring(text.indexOf("[") + 1, text.indexOf("]"))
    val data = dataStr.split(",").map(t => serdeJsonParseDouble(t))
    (data, width, height)
  }

  private def pts(r: Array[Double]): String =
    r.grouped(2).map(_.mkString("(", ",", ")")).mkString

  /** Exact ring equality by value: order, rotation and closing point. Rings
    * are primitive arrays, whose `==` compares references.
    */
  def assertRing(got: Array[Double], want: Array[Double], hint: String = ""): Unit =
    if (!got.sameElements(want)) fail(s"$hint got=${pts(got)} want=${pts(want)}")

  /** Exact polygon-list equality: the same polygons in order, each exterior
    * and hole equal by value (assertRing).
    */
  def assertPolys(got: Seq[PolyRow], want: Seq[Poly], hint: String = ""): Unit = {
    assert(got.length == want.length, s"$hint: ${got.length} polygons, want ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assertRing(g.exterior, w.exterior, s"$hint poly $i exterior")
      assert(g.holes.length == w.holes.length,
        s"$hint poly $i: ${g.holes.length} holes, want ${w.holes.length}")
      g.holes.zip(w.holes).zipWithIndex.foreach { case ((gh, wh), j) =>
        assertRing(gh, wh, s"$hint poly $i hole $j")
      }
    }
  }

  /** Exact contour-row equality: the same (grid, threshold) rows in order,
    * polygons compared by assertPolys.
    */
  def assertContours(got: Seq[ContourRow], want: Seq[ContourRow], hint: String = ""): Unit = {
    assert(got.map(c => (c.gridId, c.threshold)) == want.map(c => (c.gridId, c.threshold)), hint)
    got.zip(want).foreach { case (g, w) =>
      assertPolys(g.polygons, w.polygons.map(p => Poly(p.exterior, p.holes)),
        s"$hint ${g.gridId} t=${g.threshold}")
    }
  }
}
