package graft.core

/** Sutherland–Hodgman clipping of rings to an axis-aligned box — the
  * standard convex-window polygon clip (not in the reference, which has no
  * clipping at all; an engine-level addition for vector-tile cutting of
  * assembled contours).
  *
  * Semantics fixed for the oracle compare:
  *  - The four half-plane passes run in a FIXED order: x >= x0, x <= x1,
  *    y >= y0, y <= y1 (boundary counts as inside).
  *  - Input is an OPEN vertex list (closing duplicate dropped); edges are
  *    consecutive pairs cyclically, so the emitted cyclic sequence is
  *    rotation-equivariant — any checksum over the emitted multiset is
  *    rotation-invariant, which is what lets a SQL reconstruction that
  *    walks rings from a different start vertex match bit-for-bit.
  *  - Per edge (s -> e): if the endpoints straddle the clip line, emit the
  *    intersection FIRST; then emit e iff e is inside. The intersection
  *    ordinate is `s + (c - s_axis) * (e - s) / (e_axis - s_axis)` with
  *    exactly that f64 operation order (the divisor is never 0 on the
  *    straddle path), and the clipped-axis coordinate is EXACTLY c.
  *
  * S–H on a non-convex ring can emit degenerate zero-width bridges along
  * the clip boundary (the textbook behavior); they are kept verbatim —
  * callers computing areas get the correct value since bridges cancel.
  */
object Clip {

  /** Clip an open interleaved ring to [x0, x1] x [y0, y1]. */
  def clipRingBox(open: Array[Double], x0: Double, x1: Double,
                  y0: Double, y1: Double): Array[Double] = {
    var cur = open
    cur = halfPlane(cur, axisX = true, c = x0, lowerBound = true)
    cur = halfPlane(cur, axisX = true, c = x1, lowerBound = false)
    cur = halfPlane(cur, axisX = false, c = y0, lowerBound = true)
    cur = halfPlane(cur, axisX = false, c = y1, lowerBound = false)
    cur
  }

  /** One half-plane pass: keep the side `axis >= c` (lowerBound) or
    * `axis <= c`.
    */
  private[graft] def halfPlane(pts: Array[Double], axisX: Boolean, c: Double,
                               lowerBound: Boolean): Array[Double] = {
    val n = pts.length / 2
    if (n == 0) return pts
    val out = new DoubleBuf(pts.length + 8)
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val sx = pts(2 * i); val sy = pts(2 * i + 1)
      val ex = pts(2 * j); val ey = pts(2 * j + 1)
      val sv = if (axisX) sx else sy
      val ev = if (axisX) ex else ey
      val sIn = if (lowerBound) sv >= c else sv <= c
      val eIn = if (lowerBound) ev >= c else ev <= c
      if (sIn != eIn) {
        if (axisX) out.addPt(c, sy + (c - sx) * (ey - sy) / (ex - sx))
        else out.addPt(sx + (c - sy) * (ex - sx) / (ey - sy), c)
      }
      if (eIn) out.addPt(ex, ey)
      i += 1
    }
    out.toArray
  }

  /** Open vertex list of a possibly-closed ring (drops the trailing
    * closing duplicate iff present — band rings can arrive without one);
    * an already open ring is returned as is, not copied.
    */
  def openRing(ring: Array[Double]): Array[Double] = {
    val n = ring.length
    if (n >= 4 && ring(0) == ring(n - 2) && ring(1) == ring(n - 1))
      java.util.Arrays.copyOf(ring, n - 2)
    else ring
  }
}
