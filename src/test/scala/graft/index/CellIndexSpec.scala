package graft.index

import org.scalatest.funsuite.AnyFunSuite

class CellIndexSpec extends AnyFunSuite {
  test("morton roundtrip and parent hierarchy") {
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 2000) {
      val x = rnd.nextInt(1 << 20)
      val y = rnd.nextInt(1 << 20)
      val k = CellIndex.morton(x, y)
      assert(CellIndex.mortonX(k) == x && CellIndex.mortonY(k) == y)
      val l = 1 + rnd.nextInt(10)
      val p = CellIndex.parent(k, l)
      assert(CellIndex.mortonX(p) == (x >> l) && CellIndex.mortonY(p) == (y >> l))
    }
  }

  test("morton preserves locality ordering within a parent") {
    // all 4 children of a parent cell are contiguous in morton order
    val parents = for (x <- 0 until 8; y <- 0 until 8) yield CellIndex.morton(x, y)
    parents.foreach { p =>
      val kids = for (dx <- 0 to 1; dy <- 0 to 1)
        yield CellIndex.morton(CellIndex.mortonX(p) * 2 + dx, CellIndex.mortonY(p) * 2 + dy)
      assert(kids.max - kids.min == 3)
      kids.foreach(k => assert(CellIndex.parent(k, 1) == p))
    }
  }

  test("mortonCol == morton scalar on random coords (column cascade pin)") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val coords = Seq.tabulate(2000)(_ =>
      (rnd.nextInt(1 << 20), rnd.nextInt(1 << 20))) :+
      ((1 << 31) - 1, (1 << 31) - 1) :+ ((0, 0)) // extremes of the 31-bit contract
    val got = coords.toDF("x", "y")
      .select(CellIndex.mortonCol(org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y")))
      .as[Long].collect()
    coords.zip(got).foreach { case ((x, y), k) =>
      assert(k == CellIndex.morton(x, y), s"($x,$y)")
    }
  }
}
