package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Sutherland–Hodgman box clip: hand-walked goldens for the stage
  * composition (including boundary-corner injection) plus invariants on
  * random polygons.
  */
class ClipSpec extends AnyFunSuite {

  private def pts(a: Array[Double]): Seq[(Double, Double)] =
    a.grouped(2).map(p => (p(0), p(1))).toSeq

  private def shoelace2(a: Array[Double]): Double = {
    val n = a.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += a(2 * i) * a(2 * j + 1) - a(2 * j) * a(2 * i + 1)
      i += 1
    }
    s
  }

  test("square clipped to interior box = the box (hand-walked stage order)") {
    val sq = Array[Double](0, 0, 4, 0, 4, 4, 0, 4)
    val out = Clip.clipRingBox(sq, 1.0, 3.0, 1.0, 3.0)
    assert(pts(out) == Seq((3.0, 3.0), (1.0, 3.0), (1.0, 1.0), (3.0, 1.0)))
  }

  test("fully inside ring preserved up to rotation; fully outside empties") {
    // each stage emits every edge's ENDPOINT, so an untouched ring comes
    // back rotated one step per stage — same cyclic sequence
    val tri = Array[Double](1.5, 1.5, 2.5, 1.5, 2.0, 2.5)
    val out = pts(Clip.clipRingBox(tri, 1.0, 3.0, 1.0, 3.0))
    val in = pts(tri)
    assert(out.size == in.size &&
      (0 until in.size).exists(r => in.drop(r) ++ in.take(r) == out))
    assert(Clip.clipRingBox(tri, 10.0, 20.0, 10.0, 20.0).isEmpty)
  }

  test("corner overlap injects the box corner (stage composition)") {
    // square [0,4]^2 clipped to [-1,2]^2: intersection square [0,2]^2 —
    // the corner (2,2) exists in NEITHER input: stage 2's x=2 cut makes
    // the edge stage 4 then cuts at y=2
    val sq = Array[Double](0, 0, 4, 0, 4, 4, 0, 4)
    val out = Clip.clipRingBox(sq, -1.0, 2.0, -1.0, 2.0)
    assert(pts(out).contains((2.0, 2.0)))
    assert(math.abs(shoelace2(out)) == 8.0) // doubled area of the 2x2 square
    assert(out.grouped(2).forall(p =>
      p(0) >= -1.0 && p(0) <= 2.0 && p(1) >= -1.0 && p(1) <= 2.0))
  }

  test("openRing drops the closing duplicate only when present") {
    assert(Clip.openRing(Array(1.0, 2.0, 3.0, 4.0, 1.0, 2.0)).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    assert(Clip.openRing(Array(1.0, 2.0, 3.0, 4.0)).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("random polygons: outputs stay in the box, area never grows") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val n = 3 + rnd.nextInt(8)
      // star-shaped (hence simple) random polygon around (5, 5)
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val ring = angles.flatMap { a =>
        val r = 1.0 + rnd.nextDouble() * 6.0
        Seq(5.0 + r * math.cos(a), 5.0 + r * math.sin(a))
      }.toArray
      val (x0, x1, y0, y1) = (2.0, 8.0, 3.0, 7.5)
      val out = Clip.clipRingBox(ring, x0, x1, y0, y1)
      val eps = 1e-12
      assert(out.grouped(2).forall(p =>
        p(0) >= x0 - eps && p(0) <= x1 + eps && p(1) >= y0 - eps && p(1) <= y1 + eps))
      assert(math.abs(shoelace2(out)) <= math.abs(shoelace2(ring)) + 1e-9)
    }
  }
}
