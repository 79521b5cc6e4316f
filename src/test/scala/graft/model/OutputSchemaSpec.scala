package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst schemas of the output rows, including every nullable and
  * containsNull flag: what graft.Verify writes and the oracle reads. A ring
  * is `array<double>` with non-null elements whatever its Scala type.
  */
class OutputSchemaSpec extends AnyFunSuite {
  private val ring = ArrayType(DoubleType, containsNull = false)
  private val rings = ArrayType(ring, containsNull = true)
  private val polygons = ArrayType(StructType(Seq(
    StructField("exterior", ring, nullable = true),
    StructField("holes", rings, nullable = true))), containsNull = true)
  private val gridId = StructField("gridId", StringType, nullable = true)
  private def double(name: String) = StructField(name, DoubleType, nullable = false)

  test("ContourRow: gridId, threshold, polygons of exterior + holes rings") {
    assert(Encoders.product[ContourRow].schema == StructType(Seq(
      gridId, double("threshold"), StructField("polygons", polygons, nullable = true))))
  }

  test("BandRow: gridId, minV, maxV, polygons of exterior + holes rings") {
    assert(Encoders.product[BandRow].schema == StructType(Seq(
      gridId, double("minV"), double("maxV"), StructField("polygons", polygons, nullable = true))))
  }

  test("LineRow: gridId, threshold, lines") {
    assert(Encoders.product[LineRow].schema == StructType(Seq(
      gridId, double("threshold"), StructField("lines", rings, nullable = true))))
  }

  test("RingsRow: gridId, threshold, rings") {
    assert(Encoders.product[RingsRow].schema == StructType(Seq(
      gridId, double("threshold"), StructField("rings", rings, nullable = true))))
  }
}
