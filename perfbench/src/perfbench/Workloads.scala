package perfbench

import graft.docs.DocCodec
import graft.engine.{ContourEngine, GridSynth, SpatialOps}
import graft.model.{Doc, JobConfig, RingFragRow, TileRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One benchmark workload: its inputs (a pure function of the seed), and one
  * job from parquet to the final action, whose output is checked after the
  * timing ends.
  *
  * A job reads one of three inputs: `main` (the timed input), `warm` (a small
  * input for the JVM's first job) and `weak` (the 1/nproc-sized input of the
  * local[1] weak-scaling leg).
  */
sealed trait Workload {
  type Out
  def name: String
  def describe: String
  /** Raster cells contoured per job of `input`: grids x side^2 x thresholds. */
  def cells(input: String): Long
  /** Point x threshold tags per job of `input` (0 when the job tags none). */
  def tags(input: String): Long
  /** Inputs of the untimed warm-up jobs in set-up, in order. A fresh JVM's
    * jobs keep getting faster for several jobs; counting the warm-up in jobs
    * rather than seconds leaves every run equally warm however fast the
    * machine is.
    */
  def warmUp: Seq[String]
  /** Generate every input; returns the number of raster tiles written. */
  def generate(spark: SparkSession, dir: String, seed: Long, nproc: Int): Long
  def job(spark: SparkSession, dir: String, input: String, tr: Tracer): Out
  /** None when `out` is correct, else the first difference found. */
  def check(input: String, out: Out): Option[String]
}

object Workload {
  val Names: Seq[String] = Seq("isobands_coarse", "pip_tag")

  /** The volcano isoband ladder of the reference benchmark: 90..200 by 5. */
  val Ladder: Array[Double] = (90 to 200 by 5).map(_.toDouble).toArray

  def named(name: String): Workload = name match {
    case "isobands_coarse" => new IsobandWorkload(name, grids = 8, side = 1024, tile = 256)
    case "pip_tag" => new PipWorkload(name, side = 1024, tile = 256, stride = 4,
      thresholds = Array(100.0, 120.0, 140.0, 160.0, 180.0))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(" | ")})")
  }

  def gridId(g: Int): String = s"g$g"
  def field(seed: Long, g: Int, side: Int): GridSynth.VolcanoField =
    GridSynth.VolcanoField(seed + g, side, side)

  /** Tile grids `ids` of the seed's field family and write them as the doc
    * table + blob sidecar, `filesPerGrid` blob files per grid. Returns the
    * number of tiles.
    */
  def writeGrids(spark: SparkSession, path: String, seed: Long, ids: Seq[Int],
                 side: Int, tile: Int, filesPerGrid: Int): Long = {
    implicit val s: SparkSession = spark
    // both tables are encoded from the tiles: evaluate the field once
    val tiles = ids.map { g =>
      GridSynth.tilesFromField(spark, gridId(g), field(seed, g, side), side, side, tile, tile, filesPerGrid)
    }.reduce(_ union _).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (docs, blobs) = DocCodec.encodeExternal(tiles)
      blobs.write.mode("overwrite").parquet(s"$path/blobs")
      docs.coalesce(1).write.mode("overwrite").parquet(s"$path/docs")
    } finally tiles.unpersist()
    ids.length.toLong * ((side + tile - 1) / tile) * ((side + tile - 1) / tile)
  }

  /** The doc tables and blob sidecars under `paths`, decoded as one input. */
  def decode(spark: SparkSession, paths: Seq[String]): Dataset[TileRow] = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    DocCodec.decodeExternal(spark.read.parquet(paths.map(_ + "/docs"): _*).as[Doc],
      spark.read.parquet(paths.map(_ + "/blobs"): _*))
  }

  /** decode -> kernel -> merge, recording each layer's counters when tracing. */
  def closedRings(spark: SparkSession, eng: ContourEngine, paths: Seq[String], maxTileCoord: Int,
                  tr: Tracer): Dataset[RingFragRow] = {
    val tiles = tr.force("decode", decode(spark, paths)) { d => tr.put("decode.rows_out", d.count()) }
    val kernel = tr.force("kernel", eng.kernelRows(tiles)) { d =>
      val kinds = d.toDF()
        .groupBy(when(col("ti") === -1, "tiles").when(col("closed"), "closed_rings")
          .otherwise("open_frags").as("kind"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("tiles", "closed_rings", "open_frags").foreach(k => tr.put(s"kernel.$k", kinds.getOrElse(k, 0L).toDouble))
      tr.put("kernel.rows_out", kinds.values.sum)
    }
    tr.force("merge", eng.closedRings(kernel, maxTileCoord)) { d =>
      val r = d.toDF().agg(count(lit(1)), sum(when(col("ti") >= 0, 1L).otherwise(0L))).head()
      tr.put("merge.rows_out", r.getLong(0))
      tr.put("merge.rings", r.getLong(1))
    }
  }
}

/** Smooth isobands over `grids` volcano grids of side^2 cells with the
  * 23-threshold ladder.
  *
  * The grids are written in two parts: part `a`, the first grids/nproc
  * grids, is the `warm` and `weak` input; `main` reads parts `a` and `b`.
  *
  * Every job's output is reduced to per-row digests (see [[Checks.Digest]]);
  * each rep must match the first rep of the main input, and the sampled
  * grids must match `core.CoreContour` run on the whole grid.
  */
final class IsobandWorkload(val name: String, grids: Int, side: Int, tile: Int) extends Workload {
  import Workload._

  type Out = Seq[Checks.Digest]

  private val maxTileCoord = (side + tile - 1) / tile - 1
  private var seed = 0L
  private var nproc = 1
  private var baseline = Seq.empty[Checks.Digest]
  private def partA: Seq[Int] = 0 until math.max(1, grids / nproc)
  /** Grids compared with the single-threaded reference. */
  private lazy val refs: Seq[Checks.Digest] = Seq(partA.head, partA.last).distinct.flatMap(g =>
    Checks.reference(gridId(g), field(seed, g, side), side, Ladder))

  private def ids(input: String): Seq[Int] = if (input == "main") 0 until grids else partA
  private def paths(dir: String, input: String): Seq[String] =
    if (input == "main" && grids > partA.length) Seq(s"$dir/a", s"$dir/b") else Seq(s"$dir/a")

  def describe: String =
    s"$name: $grids grids of $side^2 cells, tiles $tile^2, ${Ladder.length} thresholds, smooth isobands"

  def cells(input: String): Long = ids(input).length.toLong * side * side * Ladder.length
  def tags(input: String): Long = 0L
  // the first job of the JVM is the slowest, so it runs on the small input
  def warmUp: Seq[String] = "warm" +: Seq.fill(4)("main")

  def generate(spark: SparkSession, dir: String, seed: Long, nproc: Int): Long = {
    this.seed = seed
    this.nproc = nproc
    // enough blob files that the main input's scan splits into several
    // tasks per core
    val files = math.max(1, 4 * nproc / grids)
    writeGrids(spark, s"$dir/a", seed, partA, side, tile, files) +
      (if (grids > partA.length) writeGrids(spark, s"$dir/b", seed, partA.length until grids, side, tile, files)
       else 0L)
  }

  def job(spark: SparkSession, dir: String, input: String, tr: Tracer): Out = {
    import spark.implicits._
    val eng = new ContourEngine(spark, JobConfig(Ladder.toSeq, smooth = true))
    try {
      val closed = closedRings(spark, eng, paths(dir, input), maxTileCoord, tr)
      val out = tr.layer("assembly")(eng.isobandsFrom(closed).map(Checks.bandDigest).collect().toSeq)
      tr.put("assembly.rows_out", out.length)
      tr.put("assembly.polygons", out.map(_.polygons.toLong).sum)
      out
    } finally {
      eng.releaseCaches()
      spark.catalog.clearCache()
    }
  }

  def check(input: String, out: Out): Option[String] = {
    val mine = ids(input).map(gridId).toSet
    if (baseline.isEmpty && input == "main") baseline = out
    Checks.compareDigests(baseline.filter(d => mine(d.gridId)), out, refs)
  }
}

/** Raster x vector join: unsmoothed contour polygons of one grid at a few
  * thresholds, then partitioned point-in-polygon tagging of every
  * `stride`-th pixel centre. The inside count per threshold must equal the
  * number of sampled pixels whose value is >= the threshold.
  *
  * The grid is always the field of seed 0; the run's seed picks the sample's
  * offset within the stride. A single grid's contour complexity varies
  * widely between fields, so a per-seed field would make job_s measure the
  * field rather than the engine.
  */
final class PipWorkload(val name: String, side: Int, tile: Int, stride: Int,
                        thresholds: Array[Double]) extends Workload {
  import Workload._

  /** Per threshold: (tags, inside tags). */
  type Out = Map[Double, (Long, Long)]

  private val maxTileCoord = (side + tile - 1) / tile - 1
  private val grid = field(0L, 0, side)
  private var offset = (0, 0)
  private var nproc = 1

  /** Sampled pixels per input: the warm-up tags 1/16 of the points, and the
    * local[1] leg every nproc-th sample row.
    */
  private def sample(input: String): Iterator[(Int, Int)] = input match {
    case "main" => Checks.pipSample(side, stride, offset)
    case "warm" => Checks.pipSample(side, 4 * stride, offset)
    case "weak" => Checks.pipSample(side, stride, offset).filter { case (_, y) => (y / stride) % nproc == 0 }
  }

  def describe: String =
    s"$name: 1 grid of $side^2 cells, tiles $tile^2, ${thresholds.length} thresholds unsmoothed, " +
      s"point-in-polygon of every ${stride}th pixel centre"

  def cells(input: String): Long = side.toLong * side * thresholds.length
  def tags(input: String): Long = sample(input).size.toLong * thresholds.length
  def warmUp: Seq[String] = Seq("warm", "main")

  def generate(spark: SparkSession, dir: String, seed: Long, nproc: Int): Long = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    offset = (rnd.nextInt(stride), rnd.nextInt(stride))
    this.nproc = nproc
    Seq("main", "warm", "weak").foreach { in =>
      sample(in).map { case (x, y) => (y.toLong * side + x, x + 0.5, y + 0.5) }.toSeq
        .toDF("point_id", "x", "y").repartition(nproc)
        .write.mode("overwrite").parquet(s"$dir/points-$in")
    }
    writeGrids(spark, s"$dir/grid", 0L, Seq(0), side, tile, 4 * nproc)
  }

  def job(spark: SparkSession, dir: String, input: String, tr: Tracer): Out = {
    import spark.implicits._
    val eng = new ContourEngine(spark, JobConfig(thresholds.toSeq, smooth = false))
    try {
      val closed = closedRings(spark, eng, Seq(s"$dir/grid"), maxTileCoord, tr)
      // the join reads the contours twice (segments, threshold set), so they
      // are materialized first, traced or not
      val contours = tr.layer("assembly") {
        val c = eng.contoursFrom(closed).persist(StorageLevel.MEMORY_AND_DISK)
        val r = c.toDF().agg(count(lit(1)), sum(size(col("polygons")))).head()
        tr.put("assembly.rows_out", r.getLong(0))
        tr.put("assembly.polygons", r.getLong(1))
        c
      }
      val out = tr.layer("pip") {
        val pts = spark.read.parquet(s"$dir/points-$input").as[(Long, Double, Double)]
        SpatialOps.pipTagPartitioned(spark, pts, contours)
          .groupBy("threshold")
          .agg(count(lit(1)), sum(when(col("inside"), 1L).otherwise(0L)))
          .as[(Double, Long, Long)].collect()
          .map { case (t, n, in) => t -> (n, in) }.toMap
      }
      tr.put("pip.rows_out", out.values.map(_._1).sum)
      tr.put("pip.inside_tags", out.values.map(_._2).sum)
      out
    } finally {
      eng.releaseCaches()
      spark.catalog.clearCache()
    }
  }

  def check(input: String, out: Out): Option[String] = {
    val points = sample(input).size.toLong
    out.collectFirst { case (t, (n, _)) if n != points => s"threshold $t: $n tags for $points points" }
      .orElse(Checks.comparePip(
        Checks.expectedInside(grid, sample(input), thresholds),
        out.map { case (t, (_, in)) => t -> in }))
  }
}
