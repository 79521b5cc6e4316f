package graft.index

/** From-scratch hierarchical spatial cell index (no H3/S2 jar ships with the
  * environment): Morton / Z-order interleaving of non-negative tile
  * coordinates into a single Long key, with parent-cell derivation by bit
  * shifting — the shuffle key of the cross-tile stitch and the unit of
  * spatial partitioning. Level-l parent of a cell = both coordinates >> l,
  * which in Morton space is key >> 2l.
  */
object CellIndex {

  /** Interleave the low 31 bits of x (even positions) and y (odd). */
  def morton(x: Int, y: Int): Long =
    spread(x) | (spread(y) << 1)

  @inline private def spread(v0: Int): Long = {
    var v = v0.toLong & 0x7fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  @inline private def compact(v0: Long): Int = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1)) & 0x3333333333333333L
    v = (v | (v >> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >> 16)) & 0x00000000ffffffffL
    v.toInt
  }

  def mortonX(key: Long): Int = compact(key)
  def mortonY(key: Long): Int = compact(key >> 1)

  /** Parent cell at level l (2^l x 2^l tiles per cell). */
  @inline def parent(key: Long, level: Int): Long = key >>> (2 * level)

  /** Column form of [[morton]] — the identical five-step bit-spread cascade
    * as `spread`, expressed over native bitwise Columns so hierarchical cell
    * keys are computed inside whole-stage codegen (no typed map, no UDF, in
    * a scan's hot path). Same contract as [[morton]]: non-negative 31-bit
    * cell coordinates. CellIndexSpec pins column == scalar on random coords.
    */
  def mortonCol(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spreadCol(x).bitwiseOR(org.apache.spark.sql.functions.shiftleft(spreadCol(y), 1))

  private def spreadCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    var v = c.cast("long").bitwiseAND(lit(0x7fffffffL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }
}
