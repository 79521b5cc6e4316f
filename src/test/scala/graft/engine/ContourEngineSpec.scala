package graft.engine

import graft.SparkTestSession
import graft.core.Goldens
import graft.docs.DocCodec
import graft.model._
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** The reference's golden tests through the FULL distributed path:
  * grid -> tiles -> interleaved document table -> decode -> kernel ->
  * cross-tile merge -> assembly, at 1-tile, 2x2 and 3x3 tilings.
  * Assertions are exact (ring order, rotation, closing point).
  */
class ContourEngineSpec extends AnyFunSuite {
  import Goldens._

  private lazy val spark = SparkTestSession.spark

  private def tilesFor(values: Array[Double], dx: Int, dy: Int,
                       tw: Int, th: Int): Dataset[TileRow] = {
    // round-trip through the document table so the codec is always exercised
    DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "g1", values, dx, dy, tw, th)))
  }

  private val tilings = Seq((10, 10), (5, 5), (4, 4))

  private def contoursFor(values: Array[Double], thresholds: Seq[Double],
                          smooth: Boolean, tw: Int, th: Int,
                          xo: Double = 0, yo: Double = 0,
                          xs: Double = 1, ys: Double = 1): Seq[ContourRow] = {
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth, xo, yo, xs, ys))
    eng.contours(tilesFor(values, 10, 10, tw, th)).collect().toSeq.sortBy(_.threshold)
  }

  test("empty polygons + empty isoline through pipeline (all tilings)") {
    for ((tw, th) <- tilings) {
      val rows = contoursFor(zeros10x10, Seq(0.5), smooth = true, tw, th)
      assert(rows.length == 1 && rows.head.polygons.isEmpty, s"tiles ${tw}x$th")
      val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
      val lines = eng.lines(tilesFor(zeros10x10, 10, 10, tw, th)).collect()
      assert(lines.length == 1 && lines.head.lines.isEmpty)
    }
  }

  test("simple polygon (all tilings)") {
    for ((tw, th) <- tilings) {
      val rows = contoursFor(simpleGrid, Seq(0.5), smooth = true, tw, th)
      assert(rows.head.polygons.length == 1, s"tiles ${tw}x$th")
      assertRing(rows.head.polygons.head.exterior, simpleExpected, s"tiles ${tw}x$th")
    }
  }

  test("simple isoline (all tilings)") {
    for ((tw, th) <- tilings) {
      val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
      val rows = eng.lines(tilesFor(simpleGrid, 10, 10, tw, th)).collect()
      assert(rows.head.lines.length == 1)
      assertRing(rows.head.lines.head, simpleExpected, s"tiles ${tw}x$th")
    }
  }

  test("polygon with hole (all tilings)") {
    for ((tw, th) <- tilings) {
      val ps = contoursFor(holeGrid, Seq(0.5), smooth = true, tw, th).head.polygons
      assert(ps.length == 1)
      assertRing(ps.head.exterior, holeExpectedExterior, s"ext ${tw}x$th")
      assert(ps.head.holes.length == 1)
      assertRing(ps.head.holes.head, holeExpectedInterior, s"hole ${tw}x$th")
    }
  }

  test("multipolygon + multipolygon with hole (all tilings)") {
    for ((tw, th) <- tilings) {
      val ps = contoursFor(multiGrid, Seq(0.5), smooth = true, tw, th).head.polygons
      assert(ps.length == 2)
      assertRing(ps(0).exterior, multiExpected1, s"${tw}x$th p0")
      assertRing(ps(1).exterior, multiExpected2, s"${tw}x$th p1")

      val hs = contoursFor(multiHoleGrid, Seq(0.5), smooth = true, tw, th).head.polygons
      assert(hs.length == 2)
      assertRing(hs(0).exterior, multiHoleExpected1Ext, s"${tw}x$th h0")
      assertRing(hs(0).holes.head, multiHoleExpected1Int, s"${tw}x$th h0i")
      assertRing(hs(1).exterior, multiHoleExpected2Ext, s"${tw}x$th h1")
      assertRing(hs(1).holes.head, multiHoleExpected2Int, s"${tw}x$th h1i")
    }
  }

  test("no smoothing + multiple thresholds + affine steps (all tilings)") {
    for ((tw, th) <- tilings) {
      val ns = contoursFor(noSmoothGrid, Seq(0.5), smooth = false, tw, th).head.polygons
      assertRing(ns.head.exterior, noSmoothExpected, s"${tw}x$th nosmooth")

      val mt = contoursFor(multiThreshGrid, Seq(0.5, 1.5), smooth = true, tw, th)
      assert(mt.length == 2)
      assertRing(mt(0).polygons.head.exterior, multiThreshExpected0, s"${tw}x$th t0")
      assertRing(mt(1).polygons.head.exterior, multiThreshExpected1, s"${tw}x$th t1")

      val st = contoursFor(stepsGrid, Seq(0.5), smooth = true, tw, th,
        xo = 100.0, yo = 200.0, xs = 2.0, ys = 2.0).head.polygons
      assert(st.length == 2)
      assertRing(st(0).exterior, stepsExpected1, s"${tw}x$th steps0")
      assertRing(st(1).exterior, stepsExpected2, s"${tw}x$th steps1")
    }
  }

  test("issue18 fixture through pipeline (4x4 tiles)") {
    val (data, w, h) = loadFixture("/fixtures/issue18.json")
    val tiles = DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "g18", data, w, h, 4, 4)))
    val eng = new ContourEngine(spark, JobConfig(Seq(10.0), smooth = true))
    val ps = eng.contours(tiles).collect().head.polygons
    assert(ps.length == issue18Expected.length)
    ps.zip(issue18Expected).zipWithIndex.foreach { case ((got, want), i) =>
      assertRing(got.exterior, want, s"issue18 polygon $i")
    }
  }

  test("isobands match single-process core on volcano (multi-tile, multi-grid)") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 5).map(_.toDouble)
    val core = new graft.core.CoreContour(graft.core.ContourConfig(w, h, smooth = true))
    val want = core.isobands(data, thresholds.toArray)
    val tiles = DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "gv", data, w, h, 16, 16)))
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
    val got = eng.isobands(tiles).collect().sortBy(_.minV)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w0) =>
      assert(g.minV == w0.minV && g.maxV == w0.maxV)
      assertPolys(g.polygons, w0.polygons, s"band ${g.minV}")
    }
  }

  test("contour_rings raw grid coords (2x2 tiles)") {
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    val rows = eng.contourRings(tilesFor(simpleGrid, 10, 10, 5, 5)).collect()
    assert(rows.head.rings.length == 1)
    // raw = unsmoothed: vertices are half-integer multiples
    assert(rows.head.rings.head.forall(v => v * 2 == math.round(v * 2).toDouble))
  }

  test("contour_rings: releaseCaches drops the kernel cache it persisted") {
    spark.catalog.clearCache() // start from an empty cache manager
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    // no hint: the kernel output is persisted to derive the round count
    eng.contourRings(tilesFor(simpleGrid, 10, 10, 5, 5)).collect()
    eng.releaseCaches()
    assert(spark.sharedState.cacheManager.isEmpty, "a cache outlived releaseCaches()")
  }

  test("span-sequence invariant: appended GeoJSON spans preserve prefix") {
    val docs = DocCodec.encode(
      GridSynth.tilesFromArray(spark, "g1", simpleGrid, 10, 10, 5, 5))
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    val contours = eng.contours(DocCodec.decode(docs))
    val out = DocCodec.appendFeatures(docs, eng.contourFeatures(contours))
    val violations = DocCodec.spanInvariantViolations(docs, out).collect()
    assert(violations.isEmpty, violations.mkString("; "))
    val o = out.collect()
    assert(o.forall(_.spans.exists(sp => sp.kind == "text" && sp.text.contains("\"MultiPolygon\""))))
    assert(o.forall(_.spans.length == 3))
  }

  test("degenerate grid dims (1xN, Nx1, 1x1) through the pipeline") {
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    for ((dx, dy) <- Seq((1, 8), (8, 1), (1, 1), (2, 2))) {
      val vals = Array.tabulate(dx * dy)(i => (i % 2).toDouble)
      val core = new graft.core.CoreContour(graft.core.ContourConfig(dx, dy, smooth = true))
      val want = core.contours(vals, Array(0.5)).head
      val tiles = DocCodec.decode(DocCodec.encode(
        GridSynth.tilesFromArray(spark, s"g$dx-$dy", vals, dx, dy, math.max(1, dx / 2), math.max(1, dy / 2))))
      val got = eng.contours(tiles).collect().head
      assertPolys(got.polygons, want.polygons, s"dims ${dx}x$dy")
    }
  }

  test("multi-round hierarchical merge (8x8 tiles, 4 levels) matches core exactly") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    val core = new graft.core.CoreContour(graft.core.ContourConfig(w, h, smooth = true))
    val want = core.contours(data, thresholds.toArray)
    // 87/8 -> tile coords up to 10 -> levels = 4: the one-bit-per-round
    // block hierarchy runs several real rounds before the global one
    val tiles = DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "gm", data, w, h, 8, 8)))
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
    val got = eng.contours(tiles).collect().sortBy(_.threshold)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w0) =>
      assert(g.threshold == w0.threshold)
      assertPolys(g.polygons, w0.polygons, s"t=${g.threshold}")
    }
  }

  test("deep hierarchy releases intermediate round caches; releaseCaches drops the rest") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    val tiles = DocCodec.decode(DocCodec.encode(
      GridSynth.tilesFromArray(spark, "gcc", data, w, h, 8, 8)))
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
    val got = eng.contours(tiles).collect()
    assert(got.exists(_.polygons.nonEmpty))
    // 87/8 tiles -> levels = 4: rounds 1..3 persisted then released as the
    // next round materialized; only the kernel cache and the last
    // intermediate round (which backs the lazy final merge) remain
    assert(eng.trackedCacheCount == 2, s"still tracked: ${eng.trackedCacheCount}")
    eng.releaseCaches()
    assert(eng.trackedCacheCount == 0)
  }

  test("one merge level: a hinted job persists nothing and tracks no cache") {
    spark.catalog.clearCache() // start from an empty cache manager
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    val tiles = GridSynth.tilesFromArray(spark, "g1l", data, w, h, 16, 16)
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
    // 87/16 -> tile coords up to 5 -> levels = 1: the last (only) merge
    // round runs in the assembly reducer, behind no kernel cache or barrier
    val got = eng.contours(tiles, Some(5)).collect().sortBy(_.threshold)
    assert(eng.trackedCacheCount == 0, s"still tracked: ${eng.trackedCacheCount}")
    assert(spark.sharedState.cacheManager.isEmpty, "a job at one merge level persisted a cache")
    val core = new graft.core.CoreContour(graft.core.ContourConfig(w, h, smooth = true))
    val want = core.contours(data, thresholds.toArray)
    got.zip(want).foreach { case (g, w0) => assertPolys(g.polygons, w0.polygons, s"t=${g.threshold}") }
  }

  test("closedRingRows holds only closed rings and markers, at one and at four merge levels") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    val core = new graft.core.CoreContour(graft.core.ContourConfig(w, h, smooth = true))
    val want = thresholds.map(t => core.contourRings(data, t).length)
    for (tile <- Seq(16, 8)) {
      val tiles = GridSynth.tilesFromArray(spark, s"gr$tile", data, w, h, tile, tile)
      val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
      val rows = eng.closedRingRows(tiles).collect()
      assert(rows.forall(_.closed), s"tiles $tile: an open row left the last round")
      val perTi = thresholds.indices.map(ti => rows.count(_.ti == ti))
      assert(perTi == want, s"tiles $tile: rings per threshold")
      eng.releaseCaches()
    }
  }

  // The tile drop leaves fragments that can never close; the assembly
  // reducer's last merge round must name the grid, threshold and ti.
  private def assertFailsToClose(run: => Any, gid: String, thresholds: Seq[Double]): Unit = {
    val e = intercept[Exception](run)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val m = s"fragments failed to close for grid=$gid threshold=(\\S+) ti=(\\d+)".r.findFirstMatchIn(msgs)
    assert(m.isDefined, msgs)
    assert(m.get.group(1).toDouble == thresholds(m.get.group(2).toInt), m.get.matched)
  }

  test("fragments that never close fail in the assembly reducer, naming grid, threshold and ti") {
    val (data, w, h) = loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    // 44x31 tiles -> 2x2 tiles, one merge level; 8x8 tiles -> 11x8 tiles,
    // four merge levels. Each drops one tile that rings cross.
    for ((tw, th, drop) <- Seq((44, 31, (1, 1)), (8, 8, (5, 4)))) {
      val gid = s"gd$tw"
      val tiles = GridSynth.tilesFromArray(spark, gid, data, w, h, tw, th)
        .filter(t => (t.tileX, t.tileY) != drop)
      val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
      assertFailsToClose(eng.contours(tiles).collect(), gid, thresholds)
      assertFailsToClose(eng.isobands(tiles).collect(), gid, thresholds)
      eng.releaseCaches()
    }
  }

  test("external blob-store codec: identical tiles and pipeline output") {
    val tiles = GridSynth.tilesFromArray(spark, "gx", multiHoleGrid, 10, 10, 4, 4)
    val (docs, blobs) = DocCodec.encodeExternal(tiles)
    val viaExternal = DocCodec.decodeExternal(docs, blobs).collect().sortBy(t => (t.tileY, t.tileX))
    val viaInline = DocCodec.decode(DocCodec.encode(tiles)).collect().sortBy(t => (t.tileY, t.tileX))
    assert(viaExternal.length == viaInline.length)
    viaExternal.zip(viaInline).foreach { case (a, b) =>
      assert(a.gridId == b.gridId && a.tileX == b.tileX && a.tileY == b.tileY &&
        a.sx0 == b.sx0 && a.sy0 == b.sy0 && a.tw == b.tw && a.th == b.th &&
        a.vw == b.vw && a.vh == b.vh && a.gdx == b.gdx && a.gdy == b.gdy)
      assert(a.values.toSeq == b.values.toSeq, s"payload tile ${a.tileX},${a.tileY}")
    }
    // docs keep the exact contract schema and the span-sequence shape
    assert(docs.collect().forall(d => d.spans.map(_.kind) == Seq("text", "media") &&
      d.spans(1).media_ref.contains("&blob=") && !d.spans(1).media_ref.contains("&d=")))
    // full pipeline over the external path is byte-identical
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    val got = eng.contours(DocCodec.decodeExternal(docs, blobs)).collect().head.polygons
    assert(got.length == 2)
    assertRing(got(0).exterior, multiHoleExpected1Ext, "ext0")
    assertRing(got(1).exterior, multiHoleExpected2Ext, "ext1")
  }

  test("bad tile: a truncated payload or a header without vw fails naming grid and tile") {
    import spark.implicits._
    val tiles = GridSynth.tilesFromArray(spark, "gbad", simpleGrid, 10, 10, 5, 5).collect().toSeq
    // only tile (1, 0) is bad, so the error must say which tile it is
    def isBad(t: TileRow) = t.tileX == 1 && t.tileY == 0
    val whole = spark.createDataset(tiles)
    val truncated = spark.createDataset(tiles.map(t =>
      if (isBad(t)) t.copy(values = t.values.dropRight(1)) else t))
    def dropVw(d: Doc) =
      if (d.doc_id != "ggbad-t0_1") d
      else d.copy(spans = d.spans.map(s => s.copy(media_ref = s.media_ref.replaceFirst("&vw=\\d+", ""))))
    def dropPayload(d: Doc) =
      if (d.doc_id != "ggbad-t0_1") d
      else d.copy(spans = d.spans.map(s => s.copy(media_ref = s.media_ref.replaceFirst("&d=.*$", ""))))
    def viaExternal(ts: Dataset[TileRow], edit: Doc => Doc) = {
      val (docs, blobs) = DocCodec.encodeExternal(ts)
      DocCodec.decodeExternal(docs.map(edit), blobs)
    }
    val cases = Seq[(String, () => Dataset[TileRow], String)](
      ("decode, truncated payload", () => DocCodec.decode(DocCodec.encode(truncated)),
        "bytes, expected vw*vh*8"),
      ("decodeExternal, truncated payload", () => viaExternal(truncated, identity),
        "bytes, expected vw*vh*8"),
      ("decode, header lacks vw", () => DocCodec.decode(DocCodec.encode(whole).map(dropVw)),
        "header lacks vw"),
      ("decodeExternal, header lacks vw", () => viaExternal(whole, dropVw), "header lacks vw"),
      ("decode, inline span without &d=", () => DocCodec.decode(DocCodec.encode(whole).map(dropPayload)),
        "no payload"))
    for ((what, run, reason) <- cases) {
      val e = intercept[Exception](run().collect())
      val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
      assert(named.exists(m => m.contains("grid gbad tile (1, 0)") && m.contains(reason)),
        s"$what: $e")
    }
  }

  test("multiple grids in one job stay independent") {
    val t1 = GridSynth.tilesFromArray(spark, "gA", simpleGrid, 10, 10, 5, 5)
    val t2 = GridSynth.tilesFromArray(spark, "gB", multiGrid, 10, 10, 4, 4)
    val t3 = GridSynth.tilesFromArray(spark, "gC", zeros10x10, 10, 10, 10, 10)
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    val rows = eng.contours(t1.union(t2).union(t3)).collect()
    assert(rows.length == 3)
    val byGrid = rows.map(r => r.gridId -> r).toMap
    assertRing(byGrid("gA").polygons.head.exterior, simpleExpected, "gA")
    assert(byGrid("gB").polygons.length == 2)
    assert(byGrid("gC").polygons.isEmpty)
  }
}
