package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run of one workload in this JVM; see perfbench/README.md.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <result.json>
  *
  * Set-up is session start + input generation + the workload's untimed
  * warm-up jobs ([[Workload.warmUp]]).
  * With --trace 0 the run then loops jobs at local[nproc] for --seconds and
  * times every one (at least [[MinReps]] jobs). With --trace 1 it loops
  * untraced jobs for --seconds / 2, runs [[TraceReps]] traced jobs, then
  * loops the 1/nproc-sized input at local[1] for --seconds / 2, and reports
  * per-layer medians and the weak-scaling efficiency. Every job's output is
  * checked after the timing ends.
  */
object Main {
  val TraceReps = 3
  val MinReps = 3
  val Layers: Seq[String] = Seq("gen", "decode", "kernel", "merge", "assembly", "pip")
  /** Layers of one job, in call order; `gen` runs in set-up. */
  val JobLayers: Seq[String] = Layers.tail

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      need("work"), need("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the engine's shuffles carry few bytes but heavy per-group CPU
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.locality.wait", "0ms")
      // blob rows carry ~0.5 MB payloads; small reader batches keep the
      // column vectors small
      .config("spark.sql.parquet.columnarReaderBatchSize", "32")
      // split the blob scan into several tasks per core, so the narrow
      // decode + kernel stage balances across cores
      .config("spark.sql.files.minPartitionNum", (4 * cores).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now(): Long = System.nanoTime()
  private def secondsSince(t0: Long): Double = (now() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload.named(a.workload)
    val nproc = Runtime.getRuntime.availableProcessors()
    val dir = s"${a.work}/input"
    val ledger = new StageLedger
    val outputs = mutable.ArrayBuffer[(String, wl.Out)]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    val metrics = mutable.LinkedHashMap[String, (Double, Int)]()
    println(s"[perfbench] ${wl.describe}; local[$nproc]; seed ${a.seed}; trace ${if (a.trace) 1 else 0}")

    /** One job; its wall in seconds, or None when it threw. */
    def run(spark: SparkSession, input: String, tr: Tracer): Option[Double] = {
      attempted += 1
      val t0 = now()
      try {
        val out = wl.job(spark, dir, input, tr)
        val wall = secondsSince(t0)
        outputs += ((input, out))
        Some(wall)
      } catch {
        case NonFatal(e) =>
          failures += s"$input job threw: $e"
          None
      }
    }
    def show(what: String, walls: Seq[Double]): Unit =
      println(s"[perfbench] $what job walls: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    /** Closed loop, one job at a time, for `seconds` and at least `minReps`
      * jobs; returns the walls of the jobs that did not throw.
      */
    def loop(spark: SparkSession, input: String, seconds: Double, minReps: Int): Seq[Double] = {
      val walls = mutable.ArrayBuffer[Double]()
      val deadline = now() + (seconds * 1e9).toLong
      var runs = 0
      while (now() < deadline || runs < minReps) {
        runs += 1
        run(spark, input, new Tracer(spark, false)).foreach(walls += _)
      }
      walls.toSeq
    }

    val t0 = now()
    var spark = session(nproc, a.work)
    val genTr = new Tracer(spark, a.trace)
    if (a.trace) spark.sparkContext.addSparkListener(ledger)
    val t1 = now()
    val tiles = genTr.layer("gen")(wl.generate(spark, dir, a.seed, nproc))
    val t2 = now()
    show("warm-up", wl.warmUp.flatMap(in => run(spark, in, new Tracer(spark, false))))
    val setupS = secondsSince(t0)
    println(f"[perfbench] set-up: session ${(t1 - t0) / 1e9}%.2f s, gen ${(t2 - t1) / 1e9}%.2f s, " +
      f"warm-up ${secondsSince(t2)}%.2f s")

    if (!a.trace) {
      val walls = loop(spark, "main", a.seconds, MinReps)
      show(s"local[$nproc]", walls)
      if (walls.nonEmpty) {
        val jobS = Stats.median(walls)
        metrics("job_s") = (jobS, walls.length)
        metrics("cells_per_s") = (wl.cells("main") / jobS, walls.length)
        metrics("setup_s") = (setupS, 1)
        if (wl.tags("main") > 0) metrics("tags_per_s") = (wl.tags("main") / jobS, walls.length)
      }
    } else {
      ledger.sync(spark.sparkContext)
      genTr.put("gen.rows_out", tiles)
      val gen = layerMetrics(Seq("gen"), genTr, ledger.drain())
      val untraced = loop(spark, "main", a.seconds / 2, MinReps)
      show(s"untraced local[$nproc]", untraced)
      val reps = (1 to TraceReps).flatMap { _ =>
        ledger.sync(spark.sparkContext)
        ledger.drain()
        val tr = new Tracer(spark, true)
        val wall = run(spark, "main", tr)
        ledger.sync(spark.sparkContext)
        val stats = ledger.drain()
        wall.map(w => (w, tr, stats))
      }
      show(s"traced local[$nproc]", reps.map(_._1))
      // weak scaling: local[1] on 1/nproc of the work
      spark.stop()
      spark = session(1, a.work)
      val weak = loop(spark, "weak", a.seconds / 2, MinReps)
      show("local[1]", weak)
      if (reps.nonEmpty && untraced.nonEmpty && weak.nonEmpty) {
        val perRep = reps.map { case (wall, tr, stats) =>
          val m = layerMetrics(JobLayers, tr, stats)
          val layerWall = JobLayers.map(l => m(s"$l.wall_s")).sum
          val rings = m.getOrElse("merge.rings", 0.0)
          m - "merge.rings" ++ Map(
            "merge.jobs" -> stats.get("merge").map(_.jobs.toDouble).getOrElse(0.0),
            "merge.rings_closed" -> (rings - m("kernel.closed_rings")),
            "assembly.rows_per_ring" -> (if (rings > 0) m("assembly.shuffle_write_records") / rings else 0.0),
            "driver.wall_s" -> (wall - layerWall),
            "driver.traced_job_s" -> wall,
            "driver.trace_overhead_s" -> (wall - Stats.median(untraced)),
            "driver.unattributed_stages" -> stats.get(StageLedger.Unattributed).map(_.stages.toDouble).getOrElse(0.0),
            "pip.inside_tags" -> m.getOrElse("pip.inside_tags", 0.0))
        }
        perRep.head.keys.foreach(k => metrics(k) = (Stats.median(perRep.map(_(k))), perRep.length))
        gen.foreach { case (k, v) => metrics(k) = (v, 1) }
        // per-core throughput at local[nproc] / at local[1]
        val work = (in: String) => if (wl.tags(in) > 0) wl.tags(in).toDouble else wl.cells(in).toDouble
        metrics("weak_scaling_eff") = ((work("main") / (nproc * Stats.median(untraced))) /
          (work("weak") / Stats.median(weak)), math.min(untraced.length, weak.length))
        writeTrace(a, nproc, untraced, reps.map { case (w, tr, _) => (w, tr) }, perRep)
      }
    }
    spark.stop()

    outputs.foreach { case (input, out) =>
      try wl.check(input, out).foreach(f => failures += s"$input: $f")
      catch { case NonFatal(e) => failures += s"$input check threw: $e" }
    }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    writeResult(a.out, failures.isEmpty && metrics.nonEmpty, attempted, failures.length, metrics)
  }

  /** Per-layer metrics of one traced job from its spans, counters and ledger. */
  def layerMetrics(layers: Seq[String], tr: Tracer, stats: Map[String, LayerStats]): Map[String, Double] =
    layers.flatMap { l =>
      val s = stats.getOrElse(l, new LayerStats)
      Seq(
        "wall_s" -> tr.spans.filter(_.name == l).map(_.seconds).sum,
        "task_s" -> s.taskMs / 1e3,
        "gc_s" -> s.gcMs / 1e3,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
        "shuffle_write_records" -> s.shuffleWriteRecords.toDouble,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
        "spill_bytes" -> s.spillBytes.toDouble,
        "stages" -> s.stages.toDouble,
        "tasks" -> s.tasks.toDouble,
        "task_skew" -> s.heaviestStageSkew,
        "rows_out" -> tr.counters.getOrElse(s"$l.rows_out", 0.0)
      ).map { case (k, v) => s"$l.$k" -> v }
    }.toMap ++ tr.counters.filter { case (k, _) => !k.endsWith(".rows_out") }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeResult(path: String, correct: Boolean, attempted: Int, failed: Int,
                          metrics: collection.Map[String, (Double, Int)]): Unit = {
    val ms = metrics.map { case (k, (v, n)) => s""""$k": {"value": ${json(v)}, "samples": $n}""" }
    write(path, s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
  }

  /** Spans and counters of every traced job, written when the run ends. */
  private def writeTrace(a: Args, nproc: Int, untraced: Seq[Double], reps: Seq[(Double, Tracer)],
                         perRep: Seq[Map[String, Double]]): Unit = {
    val repJson = reps.zip(perRep).map { case ((wall, tr), m) =>
      val t0 = tr.spans.headOption.map(_.startNs).getOrElse(0L)
      val spans = tr.spans.map(s =>
        s"""{"name": "${s.name}", "start_s": ${json((s.startNs - t0) / 1e9)}, "end_s": ${json((s.endNs - t0) / 1e9)}}""")
      val ms = m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${json(v)}""" }
      s"""{"wall_s": ${json(wall)}, "spans": [${spans.mkString(", ")}], "metrics": {${ms.mkString(", ")}}}"""
    }
    val path = Paths.get(a.out).resolveSibling(s"trace-${a.workload}-seed${a.seed}.json")
    write(path.toString,
      s"""{"workload": "${a.workload}", "seed": ${a.seed}, "nproc": $nproc, """ +
        s""""untraced_job_s": [${untraced.map(json).mkString(", ")}], "traced_jobs": [${repJson.mkString(", ")}]}""")
    println(s"[perfbench] trace written to $path")
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
