package graft.model

/** One interleaved-document span (the canonical input schema per the
  * engine's contract): kind is "text" | "media"; media_ref carries raster
  * tile payloads, text carries GeoJSON fragments / metadata; offset defines
  * the interleaving order and must survive every pipeline stage.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])

/** A decoded raster tile: owned samples [sx0, sx0+tw) x [sy0, sy0+th) of the
  * global gdx x gdy grid `gridId`, with values stored including the +1
  * right/bottom halo (vw x vh row-major, origin at (sx0, sy0)).
  */
final case class TileRow(gridId: String, tileX: Int, tileY: Int,
                         sx0: Int, sy0: Int, tw: Int, th: Int,
                         vw: Int, vh: Int, gdx: Int, gdy: Int,
                         values: Array[Double])

/** Kernel/merge exchange row: a closed ring (closed=true) or an open
  * boundary fragment; bx/by are spatial block coordinates at the current
  * merge level (tile coords at level 0) — the shuffle key of the
  * hierarchical stitch.
  */
final case class RingFragRow(gridId: String, ti: Int, closed: Boolean,
                             bx: Int, by: Int,
                             startKey: Long, endKey: Long,
                             maxKey: Long, anchorPos: Int,
                             pts: Array[Double])

/** Output rows. A ring is a primitive `Array[Double]` of interleaved x, y
  * (Catalyst `array<double>`, the same field types as `core.Poly`); arrays
  * compare by reference, so compare rings with `sameElements`/`toSeq`,
  * never `==`. No code writes into a ring once it is in a row: isobands
  * hand the same array to two adjacent bands.
  */
final case class PolyRow(exterior: Array[Double], holes: Seq[Array[Double]]) {
  /** Written out instead of the synthesized copy so that an exterior
    * rebuilt as a `Seq` is accepted too (perfbench's self-test perturbs
    * rings that way); the new exterior is copied into a fresh array.
    */
  def copy(exterior: scala.collection.Seq[Double] = this.exterior,
           holes: Seq[Array[Double]] = this.holes): PolyRow =
    PolyRow(exterior.toArray, holes)
}

final case class ContourRow(gridId: String, threshold: Double, polygons: Seq[PolyRow])
final case class LineRow(gridId: String, threshold: Double, lines: Seq[Array[Double]])
final case class BandRow(gridId: String, minV: Double, maxV: Double, polygons: Seq[PolyRow])
final case class RingsRow(gridId: String, threshold: Double, rings: Seq[Array[Double]])

/** Job configuration: thresholds + the reference ContourBuilder knobs. */
final case class JobConfig(thresholds: Seq[Double], smooth: Boolean,
                           xOrigin: Double = 0.0, yOrigin: Double = 0.0,
                           xStep: Double = 1.0, yStep: Double = 1.0) {
  def isIdentityAffine: Boolean =
    xOrigin == 0.0 && yOrigin == 0.0 && xStep == 1.0 && yStep == 1.0
}
