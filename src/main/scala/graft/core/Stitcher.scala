package graft.core

import scala.collection.mutable.ArrayBuffer

/** One closed ring in grid coordinates: packed [x0,y0,...,x0,y0] (first vertex
  * repeated at the end), plus the global row-major sweep key of its closing
  * segment. Sorting rings by `maxKey` reproduces the reference's
  * single-threaded sweep-closure output order, and each ring is already
  * rotated to start at the closing segment's end vertex — together this makes
  * the distributed output byte-identical to the reference
  * (/root/reference/src/isoringbuilder.rs:172-277 output contract).
  */
final case class ClosedRing(pts: Array[Double], maxKey: Long)

/** An open polyline fragment whose endpoints lie on tile borders.
  * `startKey`/`endKey` are global half-integer vertex keys; `maxKey` is the
  * largest sweep key among the fragment's segments and `anchorPos` the vertex
  * index (within `pts`) of that segment's end vertex — carried so that rings
  * closed later by cross-tile merging can be rotated exactly like the
  * reference would have.
  */
final case class OpenFrag(pts: Array[Double], startKey: Long, endKey: Long,
                          maxKey: Long, anchorPos: Int)

final class KernelOut(val rings: ArrayBuffer[ClosedRing],
                      val frags: ArrayBuffer[OpenFrag])

/** Incremental fragment merge — a streaming hash join of directed segments on
  * perfect-hash vertex keys, mirroring the reference's stitch semantics
  * (/root/reference/src/isoringbuilder.rs:172-277) but from scratch on the
  * JVM, with global (whole-grid) vertex keys so tiles stitch consistently.
  *
  * Vertex key: pre-smoothing coordinates are multiples of 0.5 in
  * [0,dx] x [0,dy], so key = 2x + 2y * 2(dx+1) is collision-free
  * (cf. isoringbuilder.rs:166-169, globalized).
  */
final class Stitcher(gdx: Int) {
  private val keyStride: Long = 2L * (gdx.toLong + 1L)

  @inline def vertexKey(x2: Long, y2: Long): Long = x2 + y2 * keyStride

  private final class Frag(var startKey: Long, var endKey: Long) {
    val pts = new DoubleBuf(8)
    var maxKey: Long = 0L
    var anchorPos: Int = 0
    @inline def nPts: Int = pts.nPts
  }

  // fragments keyed by their open endpoints; a vertex has globally unique
  // in/out segments so each key maps to at most one fragment per side.
  // Primitive-keyed maps: get/put/remove here run once per emitted segment
  // and boxed-Long HashMap traffic was a top profile frame.
  private val byStart = new LongObjMap[Frag]()
  private val byEnd = new LongObjMap[Frag]()

  val rings = new ArrayBuffer[ClosedRing]()

  /** Add one directed segment (sx,sy)->(ex,ey) whose doubled-int coords are
    * (sx2,sy2)/(ex2,ey2), discovered at sweep key `sweepKey`. Sweep keys must
    * arrive in strictly increasing order within one Stitcher.
    */
  def addSegment(sx: Double, sy: Double, ex: Double, ey: Double,
                 sx2: Long, sy2: Long, ex2: Long, ey2: Long,
                 sweepKey: Long): Unit = {
    val sk = vertexKey(sx2, sy2)
    val ek = vertexKey(ex2, ey2)
    val f = byEnd.get(sk)
    if (f != null) {
      val g = byStart.get(ek)
      if (g != null) {
        byEnd.remove(sk)
        byStart.remove(ek)
        if (f eq g) {
          // ring closed: fragment runs end->...->start; append end.
          // Ring starts at the closing segment's end vertex == correct
          // rotation by construction.
          rings += ClosedRing(f.pts.toArrayPlus(ex, ey), sweepKey)
        } else {
          // concatenate f ++ g (segment connects f.end -> g.start)
          f.anchorPos = f.nPts // index of `end` (g's head) after concat
          f.pts.appendFrom(g.pts, 0)
          f.endKey = g.endKey
          f.maxKey = sweepKey
          byStart.put(f.startKey, f)
          byEnd.put(f.endKey, f)
        }
      } else {
        // append end to f's tail
        byEnd.remove(sk)
        f.pts.addPt(ex, ey)
        f.endKey = ek
        f.maxKey = sweepKey
        f.anchorPos = f.nPts - 1
        byEnd.put(ek, f)
      }
    } else {
      val h = byStart.get(ek)
      if (h != null) {
        // prepend start to h's head
        byStart.remove(ek)
        h.pts.prependPt(sx, sy)
        h.startKey = sk
        h.maxKey = sweepKey
        h.anchorPos = 1 // the segment's end vertex is now at index 1
        byStart.put(sk, h)
      } else {
        val nf = new Frag(sk, ek)
        nf.pts.addPt(sx, sy)
        nf.pts.addPt(ex, ey)
        nf.maxKey = sweepKey
        nf.anchorPos = 1
        byStart.put(sk, nf)
        byEnd.put(ek, nf)
      }
    }
  }

  /** Drain remaining open fragments (endpoints on tile borders), sorted by
    * maxKey for determinism.
    */
  def openFragments(): ArrayBuffer[OpenFrag] = {
    val out = new ArrayBuffer[OpenFrag](byStart.size)
    byStart.foreachValue { f =>
      out += OpenFrag(f.pts.toArray, f.startKey, f.endKey, f.maxKey, f.anchorPos)
    }
    out.sortInPlaceBy(_.maxKey)
    out
  }
}
