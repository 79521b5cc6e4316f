package graft.core

/** Deterministic GeoJSON Feature serialization matching the reference's
  * serialized shape (/root/reference/src/contour.rs:54-65, line.rs:54-65,
  * band.rs:60-72): {"type":"Feature","geometry":{...},"properties":{...}}
  * with properties {"threshold": t} for lines/contours and
  * {"min_v": lo, "max_v": hi} for bands. Key order is fixed; numbers use the
  * JVM's shortest round-trip double formatting.
  */
object GeoJson {

  def num(d: Double): String = {
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) {
      // integral values print like serde_json: "3.0"
      s"${d.toLong}.0"
    } else java.lang.Double.toString(d)
  }

  private def ringJson(pts: Array[Double]): String = {
    val sb = new StringBuilder("[")
    var i = 0
    while (i < pts.length) {
      if (i > 0) sb.append(',')
      sb.append('[').append(num(pts(i))).append(',').append(num(pts(i + 1))).append(']')
      i += 2
    }
    sb.append(']').toString
  }

  def multiPolygonJson(polys: Seq[Poly]): String =
    polys.map { p =>
      (ringJson(p.exterior) +: p.holes.map(ringJson)).mkString("[", ",", "]")
    }.mkString("[", ",", "]")

  def multiLineStringJson(lines: Seq[Array[Double]]): String =
    lines.map(ringJson).mkString("[", ",", "]")

  def contourFeature(c: ContourResult): String =
    s"""{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":${multiPolygonJson(c.polygons)}},"properties":{"threshold":${num(c.threshold)}}}"""

  def lineFeature(l: LineResult): String =
    s"""{"type":"Feature","geometry":{"type":"MultiLineString","coordinates":${multiLineStringJson(l.lines)}},"properties":{"threshold":${num(l.threshold)}}}"""

  def bandFeature(b: BandResult): String =
    s"""{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":${multiPolygonJson(b.polygons)}},"properties":{"min_v":${num(b.minV)},"max_v":${num(b.maxV)}}}"""

  /** Every ring (exteriors + holes, in serialized order) parsed back OUT of
    * a Feature's MultiPolygon coordinates — the exact inverse of
    * multiPolygonJson for strings this serializer emits (shortest
    * round-trip doubles parse back bit-identical). Lets content checks run
    * THROUGH the serialization, so a serializer regression (dropped ring,
    * reordered coordinates, mangled number) surfaces as a content mismatch.
    */
  def parseFeatureRings(feature: String): Seq[Array[Double]] = {
    val key = "\"coordinates\":"
    val start = feature.indexOf(key)
    require(start >= 0, "no coordinates key in feature")
    val rings = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var cur: scala.collection.mutable.ArrayBuffer[Double] = null
    var depth = 0
    var i = start + key.length
    var numStart = -1
    def flushNum(end: Int): Unit = if (numStart >= 0) {
      cur += java.lang.Double.parseDouble(feature.substring(numStart, end))
      numStart = -1
    }
    var done = false
    while (!done) {
      feature.charAt(i) match {
        case '[' =>
          depth += 1
          if (depth == 3) cur = new scala.collection.mutable.ArrayBuffer[Double]()
        case ']' =>
          flushNum(i)
          depth -= 1
          if (depth == 2) rings += cur.toArray
          if (depth == 0) done = true
        case ',' => flushNum(i)
        case _ => if (numStart < 0) numStart = i
      }
      i += 1
    }
    rings.toSeq
  }
}
