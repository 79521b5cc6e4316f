package graft.core

import scala.collection.mutable.ArrayBuffer

/** A polygon: exterior ring + interior rings (holes), packed coords. */
final case class Poly(exterior: Array[Double], holes: Seq[Array[Double]])

/** Ring-hierarchy assembly, mirroring the reference's semantics:
  *  - contours: classify by doubled-shoelace sign, assign each hole to the
  *    FIRST (insertion-order) polygon whose exterior contains it
  *    (/root/reference/src/contourbuilder.rs:176-219);
  *  - isobands: adjacent-dedup, drop rings with <=3 points, stable-sort by
  *    u64-truncated |area|, even-odd enclosure depth, holes to first
  *    containing exterior, then reverse (contourbuilder.rs:231-341).
  *
  * Every containment test the reference makes between two rings is kept,
  * in the same order, and answered by a [[RingIndex]] of the enclosing
  * ring. A pair whose hole's first vertex lies outside the enclosing
  * ring's claim box ([[RingIndex.mayClaim]]) is -1 without a walk, since
  * contains returns the first non-zero vertex verdict; the boxes sit in
  * one packed array, so the all-pairs scan does not touch every ring.
  * The wrap-line quirk stays: the degenerate closing segment marks the
  * whole horizontal line through the ring's first vertex as on-boundary,
  * verdict 0, which sends the walk on to the hole's later vertices.
  */
object Assembly {

  /** Affine grid placement p*step + origin, applied only when non-identity
    * (contourbuilder.rs:140-147). Mutates in place.
    */
  def applyAffine(pts: Array[Double], xStep: Double, yStep: Double,
                  xOrigin: Double, yOrigin: Double): Unit = {
    var i = 0
    while (i < pts.length) {
      pts(i) = pts(i) * xStep + xOrigin
      pts(i + 1) = pts(i + 1) * yStep + yOrigin
      i += 2
    }
  }

  @inline def isIdentityAffine(xStep: Double, yStep: Double,
                               xOrigin: Double, yOrigin: Double): Boolean =
    xOrigin == 0.0 && yOrigin == 0.0 && xStep == 1.0 && yStep == 1.0

  /** Remove consecutive duplicate points (Vec::dedup semantics — only
    * adjacent exactly-equal points collapse; contourbuilder.rs:255).
    * Allocation-free in the common no-duplicate case (returns `pts`
    * itself); the dedup path writes straight into a primitive array — no
    * boxed Double ever (this runs over every band ring's full payload).
    */
  def dedupAdjacent(pts: Array[Double]): Array[Double] = {
    if (pts.length <= 2) return pts
    // fast scan: most rings have no adjacent duplicates at all
    var i = 2
    while (i < pts.length && !(pts(i) == pts(i - 2) && pts(i + 1) == pts(i - 1))) i += 2
    if (i >= pts.length) return pts
    val out = new Array[Double](pts.length)
    var m = i // everything before the first duplicate is kept verbatim
    System.arraycopy(pts, 0, out, 0, m)
    i += 2 // skip the first duplicate
    while (i < pts.length) {
      val x = pts(i); val y = pts(i + 1)
      if (!(x == out(m - 2) && y == out(m - 1))) {
        out(m) = x; out(m + 1) = y; m += 2
      }
      i += 2
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** Contour assembly: rings must already be in sweep-closure order with
    * smoothing and affine applied. Exterior polygons keep closure order;
    * each hole goes to the first polygon (in that order) whose exterior
    * contains it (contains != -1, i.e. inside OR on boundary); unmatched
    * holes are silently dropped (contourbuilder.rs:199-213).
    */
  def assembleContour(rings: Seq[Array[Double]]): Seq[Poly] = {
    val exteriors = new ArrayBuffer[Array[Double]]()
    val extHoles = new ArrayBuffer[ArrayBuffer[Array[Double]]]()
    val holes = new ArrayBuffer[Array[Double]]()
    rings.foreach { ring =>
      if (Geom.area2(ring) > 0.0) {
        exteriors += ring
        extHoles += new ArrayBuffer[Array[Double]]()
      } else holes += ring
    }
    if (holes.nonEmpty) {
      val idx = exteriors.iterator.map(new RingIndex(_)).toArray
      val boxes = RingIndex.claimBoxes(idx)
      holes.foreach { hole =>
        var i = 0
        var done = false
        while (i < exteriors.length && !done) {
          if (claims(idx, boxes, i, hole)) {
            extHoles(i) += hole
            done = true
          }
          i += 1
        }
      }
    }
    exteriors.indices.map(i => Poly(exteriors(i), extHoles(i).toSeq)).toSeq
  }

  /** Isoband assembly for one band. `rings` must be the concatenation
    * lower-threshold rings ++ upper-threshold rings, each set in closure
    * order, already deduped/affined/len-filtered. Output polygon order =
    * descending truncated |area| (ascending stable sort + reverse), as the
    * reference (contourbuilder.rs:286-338).
    */
  def assembleBand(rings: Seq[Array[Double]]): Seq[Poly] = {
    val in = rings.toArray
    val n = in.length
    val keys = in.map(r => math.abs(Geom.area2(r)).toLong)
    // Array[Int].sortBy sorts boxed indices with java.util.Arrays.sort,
    // which is stable; each key is computed once, not per comparison
    val sorted = Array.range(0, n).sortBy(keys(_)).map(in(_))
    val idx = sorted.map(new RingIndex(_))
    val boxes = RingIndex.claimBoxes(idx)
    val enclosedBy = new Array[Int](n)
    var i = 0
    while (i < n) {
      val ring = sorted(i)
      var cnt = 0
      var j = 0
      while (j < n) {
        if (j != i && claims(idx, boxes, j, ring)) cnt += 1
        j += 1
      }
      enclosedBy(i) = cnt
      i += 1
    }
    val exteriors = new ArrayBuffer[Int]() // indices into sorted
    val extHoles = new ArrayBuffer[ArrayBuffer[Array[Double]]]()
    val interiors = new ArrayBuffer[Array[Double]]()
    i = 0
    while (i < n) {
      if (enclosedBy(i) % 2 == 0) {
        exteriors += i
        extHoles += new ArrayBuffer[Array[Double]]()
      } else interiors += sorted(i)
      i += 1
    }
    interiors.foreach { hole =>
      var k = 0
      var done = false
      while (k < exteriors.length && !done) {
        if (claims(idx, boxes, exteriors(k), hole)) {
          extHoles(k) += hole
          done = true
        }
        k += 1
      }
    }
    exteriors.indices.reverseIterator
      .map(k => Poly(sorted(exteriors(k)), extHoles(k).toSeq))
      .toSeq
  }

  /** contains(ring k, hole) != -1, i.e. inside or on the boundary: -1
    * without a walk when hole's first vertex lies outside ring k's claim
    * box.
    */
  private def claims(idx: Array[RingIndex], boxes: Array[Double], k: Int,
                     hole: Array[Double]): Boolean =
    (hole.length < 2 || RingIndex.mayClaim(boxes, k, hole(0), hole(1))) &&
      idx(k).containsRing(hole) != -1
}
