package perfbench

import graft.core.{ContourConfig, CoreContour, Poly}
import graft.engine.GridSynth
import graft.model.{BandRow, PolyRow}

/** Output checks. Isoband outputs are compared through row digests with the
  * first rep and with `core.CoreContour` run on the whole grid; pip outputs
  * with inside counts computed straight from the field.
  */
object Checks {

  /** One output row reduced to its key, its polygon count and a 64-bit hash
    * over the raw f64 bits of every vertex, in ring order, with ring and
    * polygon boundaries marked. Two rows with equal digests hold bit-exact
    * rings in the same order, with the same rotation and closing point (up
    * to a 2^-64 hash collision). Jobs collect only digests, so every rep is
    * checked without shipping geometry to the driver.
    */
  final case class Digest(gridId: String, key: Double, polygons: Int, hash: Long)

  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }
  private def step(h: Long, v: Long): Long = fmix(h * 0x9e3779b97f4a7c15L ^ v)

  private def polysHash(seed: Long, polys: Iterator[Iterator[Iterator[Double]]]): Long = {
    var h = seed
    polys.foreach { rings =>
      h = step(h, -1L)
      rings.foreach { ring =>
        h = step(h, -2L)
        ring.foreach(d => h = step(h, java.lang.Double.doubleToRawLongBits(d)))
      }
    }
    h
  }

  private def polyRowRings(p: PolyRow): Iterator[Iterator[Double]] =
    Iterator.single(p.exterior.iterator) ++ p.holes.iterator.map(_.iterator)
  private def polyRings(p: Poly): Iterator[Iterator[Double]] =
    Iterator.single(p.exterior.iterator) ++ p.holes.iterator.map(_.iterator)

  def bandDigest(b: BandRow): Digest =
    Digest(b.gridId, b.minV, b.polygons.length,
      polysHash(java.lang.Double.doubleToRawLongBits(b.maxV), b.polygons.iterator.map(polyRowRings)))

  /** Smooth isoband digests of one grid from `core.CoreContour` on the whole grid. */
  def reference(gridId: String, field: GridSynth.VolcanoField, side: Int,
                thresholds: Array[Double]): Seq[Digest] = {
    val values = new Array[Double](side * side)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) { values(y * side + x) = field(x, y); x += 1 }
      y += 1
    }
    new CoreContour(ContourConfig(side, side, smooth = true)).isobands(values, thresholds).map(b =>
      Digest(gridId, b.minV, b.polygons.length,
        polysHash(java.lang.Double.doubleToRawLongBits(b.maxV), b.polygons.iterator.map(polyRings))))
  }

  /** Compare one job's digests with the first rep's (restricted to the same
    * grids) and with the reference digests of every reference grid in the
    * output; returns the first difference, or None.
    */
  def compareDigests(baseline: Seq[Digest], got: Seq[Digest], refs: Seq[Digest]): Option[String] = {
    val have = got.map(d => (d.gridId, d.key) -> d).toMap
    if (have.size != got.length) return Some(s"duplicate output keys: ${got.length} rows, ${have.size} keys")
    val gridsOut = got.map(_.gridId).toSet
    def against(what: String, want: Seq[Digest]): Option[String] = {
      val w = want.map(d => (d.gridId, d.key) -> d).toMap
      val keys = (w.keySet ++ have.keySet.filter(k => want.exists(_.gridId == k._1))).toSeq.sorted
      keys.collectFirst { case k if w.get(k) != have.get(k) =>
        s"grid ${k._1} key ${k._2}: got ${have.get(k).fold("no row")(d => s"${d.polygons} polygons, hash ${d.hash}")}" +
          s", $what ${w.get(k).fold("no row")(d => s"${d.polygons} polygons, hash ${d.hash}")}"
      }
    }
    against("first rep", baseline).orElse(against("reference", refs.filter(d => gridsOut(d.gridId))))
  }

  /** Sampled pixels of the pip workload: every `stride`-th column and row,
    * starting at `offset`; the points are their centres (x + 0.5, y + 0.5).
    */
  def pipSample(side: Int, stride: Int, offset: (Int, Int)): Iterator[(Int, Int)] =
    for (y <- (offset._2 until side by stride).iterator; x <- (offset._1 until side by stride).iterator)
      yield (x, y)

  /** Expected inside count per threshold, straight from the field: a pixel
    * centre lies inside the unsmoothed threshold-t polygons exactly when the
    * pixel's value is >= t.
    */
  def expectedInside(field: GridSynth.VolcanoField, sample: Iterator[(Int, Int)],
                     thresholds: Array[Double]): Map[Double, Long] = {
    val counts = new Array[Long](thresholds.length)
    sample.foreach { case (x, y) =>
      val v = field(x, y)
      var i = 0
      while (i < thresholds.length) { if (v >= thresholds(i)) counts(i) += 1; i += 1 }
    }
    thresholds.zip(counts).toMap
  }

  def comparePip(expected: Map[Double, Long], got: Map[Double, Long]): Option[String] =
    expected.toSeq.sortBy(_._1).collectFirst {
      case (t, n) if got.getOrElse(t, 0L) != n =>
        s"threshold $t: ${got.getOrElse(t, 0L)} points inside, the field has $n cells >= $t"
    }.orElse(got.keys.find(t => !expected.contains(t)).map(t => s"unexpected threshold $t in output"))
}
