package graft.core

/** Exact `ring_contains` over one packed ring (see [[Geom.ringContains]]),
  * visiting only the segments that can change a verdict.
  *
  * Correctness argument: ring_contains is order-independent — the result is
  * 0 if ANY segment contains the point (segment_contains), else the ray-cast
  * parity, which is a XOR over independent per-segment straddle tests. So
  * evaluating any candidate superset of the segments that can
  * (a) straddle the query's y or (b) pass segment_contains yields
  * bit-identical verdicts. Three structures pick the candidates:
  *  - the claim box (see [[RingIndex.mayClaim]]): outside the ring's bbox
  *    widened by its per-ring claim margins, only a degenerate segment can
  *    claim the point and the parity is -1;
  *  - the row index: an exactly horizontal segment (yi == yj, |dx| >=
  *    EPSILON) never straddles, and claims only points whose x lies in its
  *    x-span and whose y lies within the claim margin of its row. These
  *    segments sit in a (row, x-cell) counting-sort CSR, and a query
  *    visits only the cells that can hold a span reaching its x (a ring's
  *    run along the grid border is one row of such segments);
  *  - the y-buckets: every other segment, stored in each bucket its
  *    y-range widened by the claim margin overlaps; a query scans the one
  *    bucket of its y.
  * The row index and the buckets are built on the ring's first query that
  * lands inside its claim box, in linear passes over primitive arrays.
  */
final class RingIndex(ring: Array[Double]) {
  private[this] val n = ring.length / 2
  // segment i runs from vertex i - 1 (vertex n - 1 for i == 0) to vertex i
  @inline private[this] def prev(i: Int): Int = if (i == 0) n - 1 else i - 1
  // exactly horizontal and not degenerate: the row index holds it
  @inline private[this] def isRow(i: Int): Boolean = {
    val j = prev(i)
    ring(2 * i + 1) == ring(2 * j + 1) && math.abs(ring(2 * i) - ring(2 * j)) >= Geom.Epsilon
  }

  private[this] var minX = Double.PositiveInfinity
  private[this] var maxX = Double.NegativeInfinity
  private[this] var minY = Double.PositiveInfinity
  private[this] var maxY = Double.NegativeInfinity
  private[this] var xMargin = 0.0
  private[this] var yMargin = 0.0
  // Degenerate segments (|dx| < EPSILON, dy == 0): each claims the whole
  // horizontal line through it, so the claim box cannot bound them. Their
  // y range lets a query off every such line (nearly all of the assembly's
  // pair tests) skip them without touching the ring's coordinates.
  private[this] var degSegs: Array[Int] = Array.emptyIntArray
  private[this] var degMinY = Double.PositiveInfinity
  private[this] var degMaxY = Double.NegativeInfinity
  // for the walk: the longest segment y-span, and the count and extent of
  // the row segments (hSpan = their longest x-span)
  private[this] var spanY = 0.0
  private[this] var nh = 0
  private[this] var hx0 = Double.PositiveInfinity
  private[this] var hx1 = Double.NegativeInfinity
  private[this] var hy0 = Double.PositiveInfinity
  private[this] var hy1 = Double.NegativeInfinity
  private[this] var hSpan = 0.0

  // ONE constructor pass: bbox + degenerate segments + the walk's extents +
  // the EXACT outside-claim margins:
  //  - a segment with |dx| >= EPSILON (x-dominant branch) can claim a point
  //    whose y lies up to EPSILON/|dx| outside its y-span (and only with x
  //    inside the x-span) -> yMargin = max over segments of that bound;
  //  - a near-vertical segment (|dx| < EPSILON, vertical branch) requires y
  //    inside its exact y-span and can claim x up to EPSILON/|dy| off its
  //    line -> xMargin = max over segments; if such a segment is
  //    also sub-EPSILON flat (dy == 0) it claims its whole horizontal line
  //    -> collected into degSegs.
  // The EPSILON/|d| bounds are real-arithmetic; the FP evaluation of the
  // cross product in Geom.collinear additionally carries rounding error
  // up to ~2*EPSILON*(|dx*(cy-ay)| + |(cx-ax)*dy|), i.e. proportional to
  // the SEGMENT SPAN for rings in arbitrary coordinate frames (post-affine
  // spans can exceed 1, unlike grid space). Each margin therefore adds
  // 8*EPSILON*max(1, dx+dy) — a generous over-bound of that term (the
  // deviation D solves D <= EPSILON/d + 2*EPSILON*(D + span), so the
  // scaled absolute term dominates) — keeping the short circuit EXACT in
  // ANY frame, not just grid space.
  locally {
    var nDeg = 0
    var i = 0
    while (i < n) {
      val j = prev(i)
      val x = ring(2 * i); val y = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      if (x < minX) minX = x
      if (x > maxX) maxX = x
      val dx = math.abs(x - xj)
      val dy = math.abs(y - yj)
      if (dy > spanY) spanY = dy
      val fpSlack = 8.0 * Geom.Epsilon * math.max(1.0, dx + dy)
      if (dx < Geom.Epsilon) {
        if (dy == 0.0) {
          if (nDeg == degSegs.length) degSegs = java.util.Arrays.copyOf(degSegs, 2 * nDeg + 1)
          degSegs(nDeg) = i
          nDeg += 1
          if (y < degMinY) degMinY = y
          if (y > degMaxY) degMaxY = y
        } else {
          val m = Geom.Epsilon / dy + fpSlack
          if (m > xMargin) xMargin = m
        }
      } else {
        val m = Geom.Epsilon / dx + fpSlack
        if (m > yMargin) yMargin = m
        if (y == yj && dx >= Geom.Epsilon) { // isRow(i)
          nh += 1
          if (math.min(x, xj) < hx0) hx0 = math.min(x, xj)
          if (math.max(x, xj) > hx1) hx1 = math.max(x, xj)
          if (y < hy0) hy0 = y
          if (y > hy1) hy1 = y
          if (dx > hSpan) hSpan = dx
        }
      }
      i += 1
    }
    degSegs = java.util.Arrays.copyOf(degSegs, nDeg)
  }

  // Outside-point short circuit semantics (EXACT in any coordinate frame —
  // the margins include the FP product-rounding term): a point outside
  // the bbox straddles no countable segment — for y outside the ring's
  // y-range no segment straddles at all; for x < minX every straddling
  // segment counts (total crossings of a closed curve by a full horizontal
  // line = even -> parity -1) and for x > maxX none does (the ray
  // intersection never exceeds maxX) — so the verdict is 0 iff some
  // segment CLAIMS the point, else -1. Beyond xMargin in x or yMargin in y
  // no non-degenerate segment can pass segment_contains (the FP
  // cross-product magnitude would exceed EPSILON even after worst-case
  // rounding), leaving only the degenerate segments, which are tested
  // exactly.
  @inline private[this] def inClaimBox(x: Double, y: Double): Boolean =
    !(x < minX - xMargin || x > maxX + xMargin || y < minY - yMargin || y > maxY + yMargin)

  private def writeBox(dst: Array[Double], off: Int): Unit = {
    dst(off) = minX - xMargin; dst(off + 1) = maxX + xMargin
    dst(off + 2) = minY - yMargin; dst(off + 3) = maxY + yMargin
    dst(off + 4) = degMinY; dst(off + 5) = degMaxY
  }

  // A degenerate segment claims only points on its own line (within()
  // on equal y's).
  private[this] def onDegenerate(x: Double, y: Double): Boolean = {
    if (!(y >= degMinY && y <= degMaxY)) return false
    var k = 0
    while (k < degSegs.length) {
      val i = degSegs(k)
      val j = prev(i)
      if (ring(2 * i + 1) == y &&
          Geom.segmentContains(ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1), x, y))
        return true
      k += 1
    }
    false
  }

  // ---- the walk: y-buckets and row index, built by `build` ----
  // Bucket, row and cell keys are floor((v - origin) * inverse width),
  // clamped to their range: monotone in v. The walk's candidate bounds
  // are exact reals (a y within yMargin of a segment's y-range, an x
  // within a span); their rounded-to-nearest double ends still bracket
  // every double inside the real range, so monotone keys never miss a
  // candidate.
  //
  // Buckets: a non-row segment straddles y only if yLo <= y < yHi, and
  // claims (x, y) only if y lies within yMargin of [yLo, yHi]. It is
  // stored in every bucket that [yLo - yMargin, yHi + yMargin] overlaps —
  // at most four, as bw >= the longest y-span and bw >= 2 * yMargin — so a
  // query scans the one bucket of its y and visits each candidate once.
  // bw >= extent / n bounds the bucket count by n + 1; a ring with a
  // non-finite y extent keeps one bucket.
  //
  // Rows: a row segment claims (x, y) only if min(xi, xj) <= x <=
  // max(xi, xj) and |y - yi| <= yMargin. Rows are keyed by y, spans by the
  // x-cell of their left end, with widths at least 1/nh of the extent (at
  // most nh + 1 rows and cells), and a span's exact length is below
  // 2 * hSpan, so a query visits the cells from that of x - 2 * hSpan to
  // that of x. A ring whose row extent is not finite keeps its row
  // segments in the buckets.
  //
  // CSR layouts: bucket b holds segIdx(bucketStart(b) until
  // bucketStart(b + 1)); row r holds rowSeg(rowStart(r) until
  // rowStart(r + 1)), in ascending x-cell rowCell.
  @volatile private[this] var built = false
  private[this] var rowsOn = false
  private[this] var invBw, invRw, invCw = 0.0
  private[this] var nBuckets, nRows, nCells = 0
  private[this] var bucketStart, segIdx, rowStart, rowSeg, rowCell: Array[Int] = _

  @inline private[this] def key(v: Double, origin: Double, inv: Double, count: Int): Int = {
    val d = (v - origin) * inv
    if (d <= 0) 0 else if (d >= count - 1) count - 1 else d.toInt
  }
  @inline private[this] def bucketOf(y: Double): Int = key(y, minY, invBw, nBuckets)
  @inline private[this] def rowOf(y: Double): Int = key(y, hy0, invRw, nRows)
  @inline private[this] def cellOf(x: Double): Int = key(x, hx0, invCw, nCells)
  @inline private[this] def inRows(i: Int): Boolean = rowsOn && isRow(i)

  // Counting sorts: the buckets in one, the rows by LSD radix (by x-cell,
  // then stably by row). Runs once, under the index's lock; the volatile
  // `built` publishes the arrays.
  private[this] def build(): Unit = {
    rowsOn = nh > 0 && hx1 - hx0 < Double.PositiveInfinity && hy1 - hy0 < Double.PositiveInfinity
    val extY = maxY - minY
    val bw = math.max(math.max(spanY, 2 * yMargin), extY / n)
    nBuckets = if (extY > 0 && extY < Double.PositiveInfinity) (extY / bw).toInt + 1 else 1
    invBw = 1.0 / bw
    if (rowsOn) {
      val rw = if (hy1 > hy0) (hy1 - hy0) / nh else 1.0
      val cw = math.max(hSpan, (hx1 - hx0) / nh)
      nRows = ((hy1 - hy0) / rw).toInt + 1
      nCells = ((hx1 - hx0) / cw).toInt + 1
      invRw = 1.0 / rw
      invCw = 1.0 / cw
    }
    val bStart = new Array[Int](nBuckets + 1)
    val rStart = new Array[Int](nRows + 1)
    val cStart = new Array[Int](nCells + 1)
    var i = 0
    while (i < n) {
      if (inRows(i)) {
        cStart(cellOf(math.min(ring(2 * i), ring(2 * prev(i)))) + 1) += 1
        rStart(rowOf(ring(2 * i + 1)) + 1) += 1
      } else {
        val yi = ring(2 * i + 1); val yj = ring(2 * prev(i) + 1)
        var b = bucketOf(math.min(yi, yj) - yMargin)
        val b1 = bucketOf(math.max(yi, yj) + yMargin)
        while (b <= b1) { bStart(b + 1) += 1; b += 1 }
      }
      i += 1
    }
    var k = 0
    while (k < nBuckets) { bStart(k + 1) += bStart(k); k += 1 }
    k = 0
    while (k < nCells) { cStart(k + 1) += cStart(k); k += 1 }
    k = 0
    while (k < nRows) { rStart(k + 1) += rStart(k); k += 1 }
    val segs = new Array[Int](bStart(nBuckets))
    val bFill = java.util.Arrays.copyOf(bStart, nBuckets)
    val nr = rStart(nRows)
    val byCell = new Array[Int](nr)
    val byCellKey = new Array[Int](nr)
    i = 0
    while (i < n) {
      if (inRows(i)) {
        val c = cellOf(math.min(ring(2 * i), ring(2 * prev(i))))
        byCell(cStart(c)) = i
        byCellKey(cStart(c)) = c
        cStart(c) += 1
      } else {
        val yi = ring(2 * i + 1); val yj = ring(2 * prev(i) + 1)
        var b = bucketOf(math.min(yi, yj) - yMargin)
        val b1 = bucketOf(math.max(yi, yj) + yMargin)
        while (b <= b1) { segs(bFill(b)) = i; bFill(b) += 1; b += 1 }
      }
      i += 1
    }
    val rSeg = new Array[Int](nr)
    val rCell = new Array[Int](nr)
    val rFill = java.util.Arrays.copyOf(rStart, nRows)
    k = 0
    while (k < nr) {
      val r = rowOf(ring(2 * byCell(k) + 1))
      rSeg(rFill(r)) = byCell(k)
      rCell(rFill(r)) = byCellKey(k)
      rFill(r) += 1
      k += 1
    }
    bucketStart = bStart; segIdx = segs
    rowStart = rStart; rowSeg = rSeg; rowCell = rCell
    built = true
  }

  /** True when some row segment passes segment_contains at (x, y). */
  private[this] def rowClaims(x: Double, y: Double): Boolean = {
    // NaN and infinite queries fail this range test
    if (!(rowsOn && x >= hx0 && x <= hx1 && y >= hy0 - yMargin && y <= hy1 + yMargin))
      return false
    val c0 = cellOf(x - 2 * hSpan)
    val c1 = cellOf(x)
    var r = rowOf(y - yMargin)
    val r1 = rowOf(y + yMargin)
    while (r <= r1) {
      val end = rowStart(r + 1)
      // first entry of row r with cell >= c0
      var lo = rowStart(r); var hi = end
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (rowCell(mid) < c0) lo = mid + 1 else hi = mid
      }
      while (lo < end && rowCell(lo) <= c1) {
        val i = rowSeg(lo)
        val j = prev(i)
        if (Geom.segmentContains(ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1), x, y))
          return true
        lo += 1
      }
      r += 1
    }
    false
  }

  /** Exact ring_contains(ring, (x, y)) — see Geom.ringContains. */
  def contains(x: Double, y: Double): Int = {
    if (!inClaimBox(x, y)) return if (onDegenerate(x, y)) 0 else -1
    if (!built) synchronized { if (!built) build() }
    if (rowClaims(x, y)) return 0
    var result = -1
    val b = bucketOf(y)
    var k = bucketStart(b)
    val end = bucketStart(b + 1)
    while (k < end) {
      val i = segIdx(k)
      val j = prev(i)
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if (Geom.segmentContains(xi, yi, xj, yj, x, y)) return 0
      if (((yi > y) != (yj > y)) && (x < (xj - xi) * (y - yi) / (yj - yi) + xi)) {
        result = -result
      }
      k += 1
    }
    result
  }

  /** Exact contains(ring, hole): first non-zero verdict walking hole's
    * vertices in order (see Geom.contains).
    */
  def containsRing(hole: Array[Double]): Int = {
    val m = hole.length / 2
    var i = 0
    while (i < m) {
      val c = contains(hole(2 * i), hole(2 * i + 1))
      if (c != 0) return c
      i += 1
    }
    0
  }
}

object RingIndex {

  /** The claim boxes of `idx`, six doubles each, for [[mayClaim]]: packed
    * so that a scan over many rings reads one array, not every ring.
    */
  def claimBoxes(idx: Array[RingIndex]): Array[Double] = {
    val boxes = new Array[Double](6 * idx.length)
    var k = 0
    while (k < idx.length) { idx(k).writeBox(boxes, 6 * k); k += 1 }
    boxes
  }

  /** False when claim box `k` alone settles `idx(k).contains(x, y) == -1`:
    * (x, y) lies outside the ring's bbox widened by its claim margins and
    * off the y range of its degenerate segments. The non-short-circuit
    * `|` and `&` keep the test free of branches, which an all-pairs scan
    * would mispredict.
    */
  @inline def mayClaim(boxes: Array[Double], k: Int, x: Double, y: Double): Boolean = {
    val o = 6 * k
    !(x < boxes(o) | x > boxes(o + 1) | y < boxes(o + 2) | y > boxes(o + 3)) |
      (y >= boxes(o + 4) & y <= boxes(o + 5))
  }
}
