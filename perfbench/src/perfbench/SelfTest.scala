package perfbench

import graft.engine.ContourEngine
import graft.model.JobConfig

import scala.collection.mutable

/** Self-test of the harness on tiny grids:
  *  - every layer's stages land in that layer's ledger group, none is
  *    unattributed, and a layer the job does not call gets no stage;
  *  - correct outputs pass their checks;
  *  - a perturbed coordinate, a rotated ring, a changed digest and a wrong
  *    point-in-polygon count are each reported as failures.
  *
  * Usage: SelfTest <work dir>. Exits 1 on the first failed assertion list.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = argv.headOption.getOrElse(throw new IllegalArgumentException("usage: SelfTest <work dir>"))
    val problems = mutable.ArrayBuffer[String]()
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems += what
    }
    val spark = Main.session(2, work)
    val ledger = new StageLedger
    spark.sparkContext.addSparkListener(ledger)
    try {
      // 16 x 16 tiles per grid: four merge rounds, like contours_fine
      val bands = new IsobandWorkload("selftest_bands", grids = 2, side = 128, tile = 8)
      val pip = new PipWorkload("selftest_pip", side = 128, tile = 32, stride = 4,
        thresholds = Array(100.0, 140.0, 180.0))

      def traced(wl: Workload, dir: String): (wl.Out, Map[String, LayerStats]) = {
        ledger.sync(spark.sparkContext)
        ledger.drain()
        val gen = new Tracer(spark, true)
        gen.layer("gen")(wl.generate(spark, dir, 7L, 2))
        val tr = new Tracer(spark, true)
        val out = wl.job(spark, dir, "main", tr)
        ledger.sync(spark.sparkContext)
        (out, ledger.drain())
      }
      def attribution(name: String, stats: Map[String, LayerStats], layers: Seq[String]): Unit = {
        layers.foreach(l => expect(stats.get(l).exists(_.stages > 0), s"$name: layer $l has its own stages"))
        Main.JobLayers.filterNot(layers.contains).foreach(l =>
          expect(!stats.get(l).exists(_.stages > 0), s"$name: layer $l, not called, has no stages"))
        expect(!stats.contains(StageLedger.Unattributed), s"$name: no stage is unattributed")
      }

      val (bandsOut, bandsStats) = traced(bands, s"$work/bands")
      attribution("isobands", bandsStats, Seq("gen", "decode", "kernel", "merge", "assembly"))
      expect(bands.check("main", bandsOut).isEmpty, "isobands: a correct job passes")
      val warm = bands.job(spark, s"$work/bands", "warm", new Tracer(spark, false))
      expect(bands.check("warm", warm).isEmpty, "isobands: the warm-up matches the reference")

      // perturb one ring of a collected row; a fresh instance has no first
      // rep, so only the comparison with the reference can catch it
      val eng = new ContourEngine(spark, JobConfig(Workload.Ladder.toSeq, smooth = true))
      val rows = eng.isobands(Workload.decode(spark, Seq(s"$work/bands/a")), Some(15)).collect()
      eng.releaseCaches()
      val row = rows.find(_.polygons.exists(_.exterior.length > 8)).get
      val pi = row.polygons.indexWhere(_.exterior.length > 8)
      def perturbed(f: Array[Double] => Array[Double]): Seq[Checks.Digest] = {
        val p = row.polygons(pi)
        val d = Checks.bandDigest(row.copy(polygons = row.polygons.updated(pi,
          p.copy(exterior = f(p.exterior.toArray).toSeq))))
        warm.map(w => if (w.gridId == d.gridId && w.key == d.key) d else w)
      }
      expect(warm.contains(Checks.bandDigest(row)), "isobands: a collected row's digest matches the job's")
      val fresh = new IsobandWorkload("selftest_bands", grids = 2, side = 128, tile = 8)
      fresh.generate(spark, s"$work/fresh", 7L, 2)
      expect(fresh.check("warm", perturbed { r =>
        val c = r.clone(); c(3) = java.lang.Math.nextUp(c(3)); c
      }).nonEmpty, "isobands: a coordinate off by one ulp is a failure")
      expect(fresh.check("warm", perturbed { r =>
        val open = r.dropRight(2)
        val rotated = open.drop(2) ++ open.take(2)
        rotated ++ rotated.take(2)
      }).nonEmpty, "isobands: a rotated ring is a failure")
      expect(fresh.check("warm", warm).isEmpty, "isobands: the unperturbed output still passes")
      val d = bandsOut.head
      expect(bands.check("main", d.copy(hash = d.hash + 1) +: bandsOut.tail).nonEmpty,
        "isobands: a row differing from the first rep is a failure")

      val (pipOut, pipStats) = traced(pip, s"$work/pip")
      attribution("pip", pipStats, Seq("gen", "decode", "kernel", "merge", "assembly", "pip"))
      expect(pip.check("main", pipOut).isEmpty, "pip: a correct job passes")
      val (t, (n, inside)) = pipOut.head
      expect(pip.check("main", pipOut.updated(t, (n, inside + 1))).nonEmpty,
        "pip: an inside count off by one is a failure")
    } finally spark.stop()
    if (problems.nonEmpty) {
      System.err.println(s"[selftest] ${problems.length} failed")
      sys.exit(1)
    }
    println("[selftest] all passed")
  }
}
