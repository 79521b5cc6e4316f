package graft.core

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ArraySeq

/** Assembly answers the reference's ring-against-ring containment tests
  * through RingIndex and skips pairs by claim box; its polygons must equal
  * a naive assembly that calls Geom.contains on every pair the reference
  * tests, in the reference's order (contourbuilder.rs:176-219, 231-341).
  */
class AssemblySpec extends AnyFunSuite {

  private def naiveContour(rings: Seq[Array[Double]]): Seq[Poly] = {
    val (ext, holes) = rings.partition(Geom.area2(_) > 0.0)
    val owner = holes.map(h => ext.indexWhere(e => Geom.contains(e, h) != -1))
    ext.indices.map(i => Poly(ext(i), holes.indices.filter(owner(_) == i).map(holes(_)))).toSeq
  }

  private def naiveBand(rings: Seq[Array[Double]]): Seq[Poly] = {
    val sorted = rings.toVector.sortBy(r => math.abs(Geom.area2(r)).toLong) // stable
    val depth = sorted.indices.map { i =>
      sorted.indices.count(j => j != i && Geom.contains(sorted(j), sorted(i)) != -1)
    }
    val ext = sorted.indices.filter(depth(_) % 2 == 0)
    val holes = sorted.indices.filter(depth(_) % 2 == 1)
    val owner = holes.map(h => ext.indexWhere(e => Geom.contains(sorted(e), sorted(h)) != -1))
    ext.indices.reverse.map { k =>
      Poly(sorted(ext(k)), holes.indices.filter(owner(_) == k).map(i => sorted(holes(i))))
    }
  }

  private def assertSame(got: Seq[Poly], want: Seq[Poly], hint: String): Unit = {
    assert(got.length == want.length, s"$hint: ${got.length} polygons, want ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.exterior.sameElements(w.exterior), s"$hint poly $i exterior")
      assert(g.holes.length == w.holes.length, s"$hint poly $i holes")
      g.holes.zip(w.holes).foreach { case (gh, wh) => assert(gh.sameElements(wh), s"$hint poly $i hole") }
    }
  }

  /** Both assemblies on `rings` given as a List and as an array-backed Seq. */
  private def check(rings: Seq[Array[Double]], hint: String): Unit = {
    val wantContour = naiveContour(rings)
    val wantBand = naiveBand(rings)
    for ((kind, in) <- Seq("List" -> rings.toList, "Array" -> ArraySeq.unsafeWrapArray(rings.toArray))) {
      assertSame(Assembly.assembleContour(in), wantContour, s"$hint contour ($kind)")
      assertSame(Assembly.assembleBand(in), wantBand, s"$hint band ($kind)")
    }
  }

  /** Per threshold: sweep -> (smooth) -> dedup -> (affine) -> keep > 3 points. */
  private def bandRings(data: Array[Double], w: Int, h: Int, t: Double, smooth: Boolean,
                        step: Double = 1.0, origin: Double = 0.0): Seq[Array[Double]] =
    new CoreContour(ContourConfig(w, h, smooth = false)).contourRings(data, t).map { r =>
      if (smooth) Smoother.smoothInPlace(r, data, w, 0, 0, w, h, t)
      val d = Assembly.dedupAdjacent(r)
      if (step != 1.0 || origin != 0.0) Assembly.applyAffine(d, step, step, origin, origin)
      d
    }.filter(_.length / 2 > 3)

  test("volcano: the 22 isobands and 23 contour levels equal the naive all-pairs walk") {
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val ts = (90 to 200 by 5).map(_.toDouble)
    for ((smooth, step, origin) <- Seq((true, 1.0, 0.0), (false, 1.0, 0.0), (false, 1000.0, 1e6))) {
      val perT = ts.map(t => bandRings(data, w, h, t, smooth, step, origin))
      perT.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
        check(lo ++ hi, s"smooth=$smooth step=$step band $b")
      }
    }
  }

  test("synthetic rings sharing grid-border runs equal the naive all-pairs walk") {
    // fields whose top and bottom rows are high: rings of adjacent
    // thresholds run along the same border rows
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 30) {
      val (w, h) = (12 + rnd.nextInt(20), 6 + rnd.nextInt(12))
      val data = Array.tabulate(w * h) { k =>
        val y = k / w
        if (y == 0 || y == h - 1) 9.0 + rnd.nextInt(2) else rnd.nextInt(10).toDouble
      }
      val perT = Seq(2.5, 4.5, 6.5, 8.5).map(t => bandRings(data, w, h, t, smooth = trial % 2 == 0))
      perT.sliding(2).foreach { case Seq(lo, hi) => check(lo ++ hi, s"trial $trial") }
    }
    // hand-built: three rings on one border run, nested, in both windings,
    // sharing their first vertex
    def rect(x0: Int, x1: Int, top: Double, ccw: Boolean): Array[Double] = {
      val open = (x0 to x1).map(x => Seq(x.toDouble, 0.0)) ++ Seq(Seq(x1.toDouble, top), Seq(x0.toDouble, top))
      val ring = if (ccw) open else open.head +: open.tail.reverse
      (ring :+ ring.head).flatten.toArray
    }
    val nested = Seq(rect(0, 10, 4, ccw = true), rect(0, 6, 2, ccw = false), rect(0, 3, 1, ccw = true),
      rect(2, 8, 3, ccw = false))
    check(nested, "border run")
    check(nested.reverse, "border run reversed")
  }

  test("random crossing rings equal the naive all-pairs walk") {
    // rings that cross each other: a hole's first vertex can sit inside a
    // ring's box while its later vertices leave it
    val rnd = new scala.util.Random(37)
    for (trial <- 0 until 40) {
      val rings = Seq.fill(12) {
        val n = 4 + rnd.nextInt(20)
        var x = rnd.nextInt(16) * 0.5; var y = rnd.nextInt(16) * 0.5
        val open = Array.fill(n) {
          val p = Array(x, y)
          x += (rnd.nextInt(5) - 2) * 0.5; y += (rnd.nextInt(5) - 2) * 0.5
          p
        }
        (open :+ open(0)).flatten
      }
      check(rings, s"trial $trial")
    }
  }
}
