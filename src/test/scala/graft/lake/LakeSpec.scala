package graft.lake

import graft.SparkTestSession
import graft.core.Goldens
import graft.engine.{ContourEngine, GridSynth}
import graft.model.JobConfig
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("commit/read/lineage/per-partition metrics") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-test").toString
    val s1 = Lake.commit(spark, table, (1 to 100).toDF("x"), "load")
    val s2 = Lake.commit(spark, table, (1 to 50).toDF("x"), "filter")
    assert(s1.rows == 100 && s2.rows == 50)
    assert(s2.parent == s1.id && s2.seq == s1.seq + 1)
    assert(s1.partitionRows.sum == 100)
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 50)
    assert(Lake.lineage(spark, table, s2.id).map(_.op) == Seq("load", "filter"))
    assert(Lake.latestFor(spark, table, "load").get.id == s1.id)
    assert(Lake.latestFor(spark, table, "nope").isEmpty)
  }

  test("checkpointed merge resumes from snapshots without recomputing tiles") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-ckpt").toString
    val (data, w, h) = Goldens.loadFixture("/fixtures/issue18.json")
    val tiles = GridSynth.tilesFromArray(spark, "g18", data, w, h, 4, 4)
    val eng = new ContourEngine(spark, JobConfig(Seq(10.0), smooth = true))

    // first run: populates round snapshots
    val closed1 = eng.closedRingsCheckpointed(tiles, table, maxTileCoord = 2)
    val want = eng.contoursFrom(closed1).collect().head

    // resume: pass an EMPTY tile dataset — if the result still matches, the
    // engine must have restored state from the lake, not recomputed input
    val emptyTiles = spark.emptyDataset[graft.model.TileRow]
    val closed2 = eng.closedRingsCheckpointed(emptyTiles, table, maxTileCoord = 2)
    val got = eng.contoursFrom(closed2).collect().head
    assert(got.polygons.length == Goldens.issue18Expected.length)
    Goldens.assertContours(Seq(got), Seq(want))
    // goldens through the checkpointed path too
    got.polygons.zip(Goldens.issue18Expected).foreach { case (g, e) =>
      Goldens.assertRing(g.exterior, e)
    }
    // small grids collapse to a single merge round; lineage intact
    val snaps = Lake.snapshots(spark, table)
    assert(snaps.map(_.op) == Seq("round-0", "round-1"))
    assert(Lake.lineage(spark, table, snaps.last.id).length == 2)
  }

  test("partial state: resume after deleting later rounds recomputes only them") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-partial").toString
    val tiles = GridSynth.tilesFromArray(spark, "g", Goldens.multiGrid, 10, 10, 4, 4)
    val eng = new ContourEngine(spark, JobConfig(Seq(0.5), smooth = true))
    eng.closedRingsCheckpointed(tiles, table, maxTileCoord = 2).count()
    // drop the final round manifest -> resume must redo just that round
    val dir = java.nio.file.Paths.get(table, "snapshots")
    val last = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).last
    Files.delete(last)
    val closed = eng.closedRingsCheckpointed(spark.emptyDataset[graft.model.TileRow], table, 2)
    val ps = eng.contoursFrom(closed).collect().head.polygons
    assert(ps.length == 2)
    Goldens.assertRing(ps(0).exterior, Goldens.multiExpected1)
  }

  test("time travel by seq; compaction rewrites files row-exactly and appends history") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-tt").toString
    val s0 = Lake.commit(spark, table, (1 to 100).toDF("x").repartition(8), "load")
    val s1 = Lake.commit(spark, table, (1 to 60).toDF("x").repartition(8), "filter")
    assert(s0.partitionRows.length == 8)
    // time travel resolves BOTH snapshots by seq, bytes unchanged
    assert(Lake.readAt(spark, table, s0.seq).as[Int].collect().sorted.toSeq == (1 to 100))
    assert(Lake.readAt(spark, table, s1.seq).as[Int].collect().sorted.toSeq == (1 to 60))
    // compaction: 8 files -> 2, same rows, new snapshot on top
    val c = Lake.compact(spark, table, 2)
    assert(c.op == "compact" && c.seq == s1.seq + 1 && c.parent == s1.id)
    assert(c.rows == 60 && c.partitionRows.length == 2)
    assert(Lake.read(spark, Lake.latest(spark, table).get)
      .as[Int].collect().sorted.toSeq == (1 to 60))
    // pre-compaction history stays readable until expired
    assert(Lake.readAt(spark, table, s1.seq).as[Int].collect().sorted.toSeq == (1 to 60))
    Lake.expireSnapshots(spark, table, keepLast = 1)
    val gone = intercept[IllegalArgumentException](Lake.readAt(spark, table, s1.seq))
    assert(gone.getMessage.contains("no complete snapshot"))
    assert(Lake.readAt(spark, table, c.seq).count() == 60)
  }

  test("diffSnapshots: multiset CDC between versions; schema drift is loud") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-diff").toString
    // v0 holds 1..10 plus a DUPLICATE 7; v1 drops 1..3 and ONE of the 7s,
    // adds 20 twice — multiset semantics must count occurrences
    val s0 = Lake.commit(spark, table, ((1 to 10) :+ 7).toDF("x"), "load")
    val s1 = Lake.commit(spark, table, ((4 to 10) ++ Seq(20, 20)).toDF("x"), "merge")
    val diff = Lake.diffSnapshots(spark, table, s0.seq, s1.seq)
      .as[(Int, String)].collect().sorted.toSeq
    assert(diff == Seq((1, "delete"), (2, "delete"), (3, "delete"),
      (7, "delete"), (20, "insert"), (20, "insert")))
    // identical versions diff to nothing
    assert(Lake.diffSnapshots(spark, table, s1.seq, s1.seq).count() == 0L)
    // schema drift fails loudly, not silently
    Lake.commit(spark, table, (1 to 3).toDF("renamed"), "evolve")
    val ex = intercept[IllegalArgumentException](
      Lake.diffSnapshots(spark, table, s1.seq, s1.seq + 1))
    assert(ex.getMessage.contains("schema mismatch"))
  }

  test("torn/in-flight manifests are never observed; recovery frees the slot") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-torn").toString
    val s1 = Lake.commit(spark, table, (1 to 10).toDF("x"), "load")
    // a writer died mid-manifest: valid name at the NEXT seq, truncated body
    val full = Files.readString(
      java.nio.file.Paths.get(table, "snapshots").resolve(f"${s1.seq}%012d.json"))
    val torn = full.substring(0, full.length / 2)
    val tornPath =
      java.nio.file.Paths.get(table, "snapshots").resolve(f"${s1.seq + 1}%012d.json")
    Files.writeString(tornPath, torn)
    assert(Lake.snapshots(spark, table).map(_.id) == Seq(s1.id))
    assert(Lake.latest(spark, table).get.id == s1.id)
    // the torn file OCCUPIES its seq slot: the next commit targets the same
    // name and must fail loudly rather than fork or clobber
    intercept[Exception] { Lake.commit(spark, table, (1 to 5).toDF("x"), "next") }
    // admin recovery clears exactly the torn slot (refusing complete ones),
    // then the retry lands on the freed seq
    assert(!Lake.recoverTornManifest(spark, table, s1.seq)) // complete: refused
    assert(Files.exists(java.nio.file.Paths.get(table, "snapshots")
      .resolve(f"${s1.seq}%012d.json")))
    assert(Lake.recoverTornManifest(spark, table, s1.seq + 1))
    val s2 = Lake.commit(spark, table, (1 to 5).toDF("x"), "next")
    assert(s2.parent == s1.id && s2.seq == s1.seq + 1)
    assert(Lake.latest(spark, table).get.id == s2.id)
  }

  test("seq is the collision unit: the losing committer's create genuinely fails") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-race").toString
    val s1 = Lake.commit(spark, table, (1 to 10).toDF("x"), "load")
    // two committers that both observed seq N target the SAME file name —
    // the loser's create(overwrite=false) throws instead of minting a
    // sibling manifest (the pre-rename layout embedded a fresh UUID in the
    // name, so both would have succeeded and forked the lineage)
    val p = new org.apache.hadoop.fs.Path(s"$table/snapshots", f"${s1.seq}%012d.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    intercept[java.io.IOException] { fs.create(p, false).close() }
    // duplicate seqs are structurally impossible: the seq IS the file name
    val seqs = Lake.snapshots(spark, table).map(_.seq)
    assert(seqs.distinct.length == seqs.length)
  }

  test("expireSnapshots keeps the newest history; commit cost reads only the tip") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-expire").toString
    val snaps = (1 to 5).map(i => Lake.commit(spark, table, (1 to i * 10).toDF("x"), s"op$i"))
    val dropped = Lake.expireSnapshots(spark, table, keepLast = 2)
    assert(dropped.map(_.op) == Seq("op1", "op2", "op3"))
    // expired data dirs gone, surviving ones readable
    dropped.foreach(s => assert(!Files.exists(java.nio.file.Paths.get(s.path))))
    assert(Lake.snapshots(spark, table).map(_.op) == Seq("op4", "op5"))
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 50)
    // lineage from the tip stops at the expiry boundary (parent unresolvable)
    assert(Lake.lineage(spark, table, snaps.last.id).map(_.op) == Seq("op4", "op5"))
    // a new commit continues the seq chain above the kept tip
    val s6 = Lake.commit(spark, table, (1 to 7).toDF("x"), "op6")
    assert(s6.seq == snaps.last.seq + 1 && s6.parent == snaps.last.id)
    // expiring everything but one leaves a single readable snapshot
    assert(Lake.expireSnapshots(spark, table, keepLast = 1).map(_.op) == Seq("op4", "op5"))
    assert(Lake.snapshots(spark, table).map(_.op) == Seq("op6"))
  }

  test("sweepOrphans reclaims data dirs left by a crash between expiry's two phases") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-sweep").toString
    val snaps = (1 to 4).map(i => Lake.commit(spark, table, (1 to i * 10).toDF("x"), s"op$i"))
    // simulate expireSnapshots(keepLast = 2) dying between its phases:
    // phase 1 (manifest deletion) completed for op1/op2, phase 2 (data
    // deletion) never ran — exactly the documented worst case
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0 to 1).foreach { seq =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$table/snapshots", f"$seq%012d.json"), false))
    }
    snaps.take(2).foreach(s => assert(Files.exists(java.nio.file.Paths.get(s.path)), "orphaned"))
    val swept = Lake.sweepOrphans(spark, table)
    assert(swept.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      == snaps.take(2).map(_.id).toSet)
    snaps.take(2).foreach(s => assert(!Files.exists(java.nio.file.Paths.get(s.path))))
    // the table still resolves and the kept snapshots' data is intact
    assert(Lake.snapshots(spark, table).map(_.op) == Seq("op3", "op4"))
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 40)
    assert(Lake.read(spark, Lake.latestFor(spark, table, "op3").get).count() == 30)
    // idempotent: a second sweep finds nothing
    assert(Lake.sweepOrphans(spark, table).isEmpty)
  }

  test("checkpointed + deep hierarchy: kill-resume is byte-identical") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-deep").toString
    val (data, w, h) = Goldens.loadFixture("/fixtures/volcano.json")
    val thresholds = (90 to 200 by 10).map(_.toDouble)
    val tiles = GridSynth.tilesFromArray(spark, "gs", data, w, h, 8, 8)
    val eng = new ContourEngine(spark, JobConfig(thresholds, smooth = true))
    val want = eng.contours(tiles).collect().sortBy(_.threshold).toSeq

    // 87/8 -> tile coords to 10 -> levels 4, so the op chain is
    // round-0..round-4
    val closed1 = eng.closedRingsCheckpointed(tiles, table, maxTileCoord = 10)
    val got1 = eng.contoursFrom(closed1).collect().sortBy(_.threshold).toSeq
    Goldens.assertContours(got1, want)
    val ops = Lake.snapshots(spark, table).map(_.op)
    assert(ops == Seq("round-0", "round-1", "round-2", "round-3", "round-4"))

    // kill before the global round: drop the final manifest, resume with
    // an EMPTY input — the engine must restore the round-3 snapshot and
    // redo only the global round, byte-identical
    val dir = java.nio.file.Paths.get(table, "snapshots")
    val last = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).last
    Files.delete(last)
    val closed2 = eng.closedRingsCheckpointed(
      spark.emptyDataset[graft.model.TileRow], table, maxTileCoord = 10)
    val got2 = eng.contoursFrom(closed2).collect().sortBy(_.threshold).toSeq
    Goldens.assertContours(got2, want)
    assert(Lake.snapshots(spark, table).map(_.op).count(_ == "round-4") == 1)
  }

  test("expiry on a legacy fork-sibling table deletes only the dropped sibling's manifest") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-fork").toString
    // fabricate a PRE-RENAME table whose two committers forked seq 0
    // (legacy names embed the id, so both creates succeeded back then)
    def legacyManifest(id: String): String =
      s"""{"seq":0,"id":"$id","parent":"","op":"legacy","path":"$table/data/$id","rows":0,""" +
        s""""partitionRows":[],"ts":1,"eof":true}"""
    val sd = Files.createDirectories(java.nio.file.Paths.get(table, "snapshots"))
    Files.writeString(sd.resolve("000000000000-aaa.json"), legacyManifest("aaaaaaaaaaaa"))
    Files.writeString(sd.resolve("000000000000-bbb.json"), legacyManifest("bbbbbbbbbbbb"))
    val s1 = Lake.commit(spark, table, (1 to 5).toDF("x"), "next") // seq 1
    assert(Lake.snapshots(spark, table).map(_.seq) == Seq(0L, 0L, 1L))
    // keepLast=2 drops exactly ONE of the seq-0 siblings; a seq-keyed
    // manifest delete would have wiped the kept sibling too
    val dropped = Lake.expireSnapshots(spark, table, keepLast = 2)
    assert(dropped.length == 1 && dropped.head.seq == 0L)
    val left = Lake.snapshots(spark, table)
    assert(left.map(_.seq) == Seq(0L, 1L))
    assert(left.map(_.id).contains(s1.id))
    assert(!left.map(_.id).contains(dropped.head.id))
  }

  test("readConformed: old snapshots read under the evolved schema; lossy evolution is loud") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("lake-evolve").toString
    // v0: (x: int, tag: string)
    Lake.commit(spark, table,
      (1 to 10).map(i => (i, s"t$i")).toDF("x", "tag"), "load")
    // v1 evolves: x widens int -> long, `tag` is dropped, `score` appears
    Lake.commit(spark, table,
      (11L to 20L).map(i => (i, i * 2L)).toDF("x", "score"), "evolve")

    val oldConf = Lake.readConformed(spark, table, 0L)
    val cur = Lake.read(spark, Lake.latest(spark, table).get)
    assert(oldConf.schema == cur.schema,
      "the conformed read must carry exactly the latest schema")
    val rows = oldConf.orderBy("x").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L), "widened column values preserved")
    assert(rows.forall(_.isNullAt(1)), "added column backfills as NULL")
    // unevolved seq conforms to itself
    assert(Lake.readConformed(spark, table, 1L).orderBy("x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == (11L to 20L).map(i => (i, i * 2L)))
    // lossy evolution (long -> int would narrow history) refuses loudly
    Lake.commit(spark, table,
      (1 to 3).map(i => (i, i.toLong)).toDF("score", "x").select(col("x").cast("int").as("x"),
        col("score")), "narrow")
    val e = intercept[IllegalArgumentException](Lake.readConformed(spark, table, 1L))
    assert(e.getMessage.contains("not a lossless upcast"))
  }

  test("maintainSums: CDC-folded materialized aggregate == from-scratch rollup at every step") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-ivm").toString
    def df(rows: Seq[(String, Long, Long)]) = rows.toDF("k", "a", "b")
    // v0: three keys, x carrying duplicates (multiset semantics matter)
    val v0 = Seq(("x", 1L, 10L), ("x", 1L, 10L), ("y", 2L, 20L), ("z", 3L, 30L))
    // v1: one x-duplicate removed, y grows, z VANISHES (count -> 0 drop), w appears
    val v1 = Seq(("x", 1L, 10L), ("y", 2L, 20L), ("y", 5L, 50L), ("w", 7L, 70L))
    // v2: w flips sign values; x unchanged; y loses a row
    val v2 = Seq(("x", 1L, 10L), ("y", 5L, 50L), ("w", -7L, -70L))
    Lake.commit(spark, table, df(v0), "load")
    Lake.commit(spark, table, df(v1), "update")
    Lake.commit(spark, table, df(v2), "update")

    def canon(d: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
      d.select("k", "n_rows", "a_sum", "b_sum").as[(String, Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)
    val keys = Seq("k"); val sums = Seq("a", "b")
    val m0 = Lake.fullSums(Lake.readAt(spark, table, 0L), keys, sums)
    val m1 = Lake.maintainSums(spark, table, m0, 0L, 1L, keys, sums)
    assert(canon(m1) == canon(Lake.fullSums(Lake.readAt(spark, table, 1L), keys, sums)),
      "maintained view at seq 1 != from-scratch rollup")
    assert(!canon(m1).exists(_._1 == "z"), "a key whose count reaches 0 must drop out")
    val m2 = Lake.maintainSums(spark, table, m1, 1L, 2L, keys, sums)
    assert(canon(m2) == canon(Lake.fullSums(Lake.readAt(spark, table, 2L), keys, sums)),
      "maintained view at seq 2 != from-scratch rollup")
    assert(canon(m2).exists(r => r._1 == "w" && r._3 == -7L && r._4 == -70L),
      "signed sums must fold through the delta exactly")
  }

  test("readSkipping: zone-map pruning is exact and actually prunes on range-clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("lake-skip").toString
    val df = spark.range(0, 10000).select(col("id").as("k"),
      (col("id") % 7).as("v"), concat(lit("s"), col("id")).as("s"))
    Lake.commit(spark, table, df.repartitionByRange(8, col("k")), "load")
    val scan = Lake.readSkipping(spark, table, 0L, "k", 1200L, 2400L)
    assert(scan.totalFiles == 8)
    assert(scan.keptFiles.size < scan.totalFiles, "clustered narrow range must prune files")
    val got = scan.df.select("k", "v", "s").as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    val want = Lake.readAt(spark, table, 0L).where(col("k") >= 1200 && col("k") <= 2400)
      .select("k", "v", "s").as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == want, "pruned scan must equal the full-scan filter exactly")
    assert(got.length == 1201)
    // a range beyond every zone map prunes ALL files: empty result, schema kept
    val none = Lake.readSkipping(spark, table, 0L, "k", 100000L, 200000L)
    assert(none.keptFiles.isEmpty && none.prunedFiles == 8)
    assert(none.df.count() == 0L)
    assert(none.df.columns.toSeq == Seq("k", "v", "s"))
    // string columns carry no zone map (BIGINT only)
    val stats = Lake.fileStats(spark, table, 0L)
    assert(stats.size == 8 && stats.forall(f => f.cols.contains("k") && !f.cols.contains("s")))
  }

  test("readSkipping: conservative paths — unclustered files, all-null group, legacy manifest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // unclustered (round-robin) layout: every file spans the key range, so
    // nothing prunes — but the result is still exact
    val t1 = Files.createTempDirectory("lake-skip-rr").toString
    val scattered = spark.range(0, 4000).select(
      (col("id") * 2654435761L % 4096).as("k"), col("id").as("v"))
    Lake.commit(spark, t1, scattered.repartition(6), "load")
    val s1 = Lake.readSkipping(spark, t1, 0L, "k", 100L, 300L)
    assert(s1.keptFiles.size == s1.totalFiles, "overlapping zone maps must not prune")
    val got1 = s1.df.as[(Long, Long)].collect().toSeq.sorted
    val want1 = Lake.readAt(spark, t1, 0L).where(col("k").between(100, 300))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got1 == want1 && got1.nonEmpty)

    // a file whose column is ALL null gets no zone map for it -> kept
    // conservatively; NULLs satisfy no range predicate, so still exact
    val t2 = Files.createTempDirectory("lake-skip-null").toString
    val nulled = spark.range(0, 4000).select(col("id").as("k"),
      when(col("id") < 1000, lit(null)).otherwise(col("id")).cast("long").as("n"))
    Lake.commit(spark, t2, nulled.repartitionByRange(4, col("k")), "load")
    val statless = Lake.fileStats(spark, t2, 0L).filter(f => !f.cols.contains("n")).map(_.file)
    assert(statless.nonEmpty, "the all-null file must carry no zone map for n")
    val s2 = Lake.readSkipping(spark, t2, 0L, "n", 1000L, 1499L)
    assert(statless.forall(s2.keptFiles.contains), "stat-less files must be kept")
    val got2 = s2.df.select("k", "n").as[(Long, Long)].collect().toSeq.sorted
    val want2 = Lake.readAt(spark, t2, 0L).where(col("n").between(1000, 1499))
      .select("k", "n").as[(Long, Long)].collect().toSeq.sorted
    assert(got2 == want2 && got2.length == 500)

    // legacy manifest (pre-stats): fileStats empty, nothing prunes, exact
    val t3 = Files.createTempDirectory("lake-skip-legacy").toString
    val sd = java.nio.file.Paths.get(t3, "snapshots")
    Files.createDirectories(sd)
    val dataPath = Lake.snapshotAt(spark, t2, 0L).get.path
    Files.writeString(sd.resolve("000000000000.json"),
      s"""{"seq":0,"id":"legacylegacy","parent":"","op":"load","path":"$dataPath",""" +
        s""""rows":4000,"partitionRows":[],"ts":0,"eof":true}""")
    assert(Lake.fileStats(spark, t3, 0L).isEmpty)
    val s3 = Lake.readSkipping(spark, t3, 0L, "k", 0L, 99L)
    assert(s3.keptFiles.size == s3.totalFiles, "legacy manifest must read everything")
    assert(s3.df.count() == 100L)
  }

  test("merge: copy-on-write upsert rewrites only zone-map-touched files; history stays immutable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("lake-merge").toString
    // even keys 0..15998 so an odd key is a genuine INSERT inside the range
    val base = spark.range(0, 8000).select((col("id") * 2).as("k"), (col("id") * 10).as("v"))
    Lake.commit(spark, table, base.repartitionByRange(8, col("k")), "load")
    val source = Seq((3000L, -1L), (3001L, -2L), (3004L, -3L)).toDF("k", "v")
    val res = Lake.merge(spark, table, source, "k")
    assert(res.snapshot.seq == 1L && res.snapshot.op == "merge")
    assert(res.rewroteFiles + res.carriedFiles == 8)
    assert(res.carriedFiles >= 6, s"narrow merge must carry most files, carried ${res.carriedFiles}")
    val got = Lake.readAt(spark, table, 1L).as[(Long, Long)].collect().toSeq.sorted
    val want = ((0L until 8000L).map(i => (i * 2, i * 10))
      .filterNot(r => r._1 == 3000L || r._1 == 3004L) ++
      Seq((3000L, -1L), (3001L, -2L), (3004L, -3L))).sorted
    assert(got == want, "merged snapshot must equal upsert-by-key exactly")
    // untouched files carried under their original names, byte-for-byte
    def names(seq: Long): Set[String] = {
      val p = java.nio.file.Paths.get(Lake.snapshotAt(spark, table, seq).get.path)
      Files.list(p).iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    }
    assert((names(0L) intersect names(1L)).size == res.carriedFiles)
    // the merged snapshot has zone maps on every file (carried included),
    // so data skipping keeps working downstream of a merge
    assert(Lake.fileStats(spark, table, 1L).size == names(1L).size)
    val scan = Lake.readSkipping(spark, table, 1L, "k", 3000L, 3004L)
    assert(scan.keptFiles.size < scan.totalFiles)
    assert(scan.df.as[(Long, Long)].collect().toSeq.sorted ==
      Seq((3000L, -1L), (3001L, -2L), (3002L, 15010L), (3004L, -3L)))
    // time travel: the parent snapshot still reads the pre-merge rows
    assert(Lake.readAt(spark, table, 0L).where(col("k") === 3000L)
      .as[(Long, Long)].collect().toSeq == Seq((3000L, 15000L)))
    // delete-insert semantics: a multi-row source key replaces wholesale
    Lake.merge(spark, table, Seq((3000L, 1L), (3000L, 2L)).toDF("k", "v"), "k")
    assert(Lake.readAt(spark, table, 2L).where(col("k") === 3000L)
      .as[(Long, Long)].collect().map(_._2).toSet == Set(1L, 2L))
    // loud paths: schema drift and an all-null source key
    intercept[IllegalArgumentException] {
      Lake.merge(spark, table, source.select(col("k")), "k")
    }
    intercept[IllegalArgumentException] {
      Lake.merge(spark, table,
        spark.range(1).select(lit(null).cast("long").as("k"), lit(0L).as("v")), "k")
    }
  }

  test("compactSmall: bin-packs only the small-file tail; large files carry; no-op is None") {
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("lake-packsmall").toString
    // one fat range partition (scrambled keys defeat delta encoding, so
    // the file is genuinely large) and eight 500-row crumbs
    val df = spark.range(0, 1000000).select(
      (col("id") * 2654435761L % 1000000007L).as("k"),
      when(col("id") < 996000L, lit(0L)).otherwise(col("id") % 8L + 1L).as("p"))
    Lake.commit(spark, table, df.repartitionByRange(9, col("p")), "load")
    def names(seq: Long): Set[String] = {
      val p = java.nio.file.Paths.get(Lake.snapshotAt(spark, table, seq).get.path)
      Files.list(p).iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    def census(seq: Long): (Seq[(Long, Long)], java.math.BigDecimal) = {
      val d = Lake.readAt(spark, table, seq)
      (d.groupBy("p").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        d.agg(sum(col("k").cast("decimal(38,0)"))).head.getDecimal(0))
    }
    val before = census(0L)
    // range sampling may fold some crumb boundaries together — count what
    // the layout actually produced instead of assuming all 8 survived
    val crumbs = names(0L).size - 1
    assert(crumbs >= 3, s"need a small-file tail to pack, got $crumbs crumbs")
    val res = Lake.compactSmall(spark, table, 100L * 1024L).get
    assert(res.rewroteFiles == crumbs && res.carriedFiles == 1)
    assert(res.snapshot.seq == 1L && res.snapshot.op == "compact" && res.snapshot.rows == 1000000L)
    assert(names(1L).size == 2, s"crumbs must pack into one file: ${names(1L)}")
    assert((names(0L) intersect names(1L)).size == 1, "the fat file must carry by name")
    assert(census(1L) == before, "compaction must be content-exact")
    assert(Lake.fileStats(spark, table, 1L).size == 2, "packed snapshot keeps zone maps")
    // idempotent: the packed file is no longer a crumb-TAIL (size < 2)
    assert(Lake.compactSmall(spark, table, 100L * 1024L).isEmpty)
    // nothing qualifies under a 1-byte threshold
    assert(Lake.compactSmall(spark, table, 1L).isEmpty)
  }

  test("clusterBy: z-order makes BOTH dimensions skippable; box reads prune and stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("lake-zorder").toString
    // 256x256 grid committed ROW-MAJOR: y-slabs per file, so y prunes but
    // x cannot (every file spans the full x range)
    val grid = spark.range(0, 65536).select(
      (col("id") % 256L).as("x"), (col("id") / lit(256L)).cast("long").as("y"), col("id").as("v"))
    Lake.commit(spark, table, grid.repartitionByRange(16, col("id")), "load")
    val rowMajorX = Lake.readSkipping(spark, table, 0L, "x", 16L, 31L)
    assert(rowMajorX.keptFiles.size == rowMajorX.totalFiles,
      "row-major layout must NOT be x-skippable (that is the point)")
    val snap = Lake.clusterBy(spark, table, "x", "y", 16)
    assert(snap.seq == 1L && snap.op == "cluster" && snap.rows == 65536L)
    // both single dimensions now prune
    val zx = Lake.readSkipping(spark, table, 1L, "x", 16L, 31L)
    val zy = Lake.readSkipping(spark, table, 1L, "y", 16L, 31L)
    assert(zx.keptFiles.size < zx.totalFiles, s"x must prune: ${zx.keptFiles.size}/${zx.totalFiles}")
    assert(zy.keptFiles.size < zy.totalFiles, s"y must prune: ${zy.keptFiles.size}/${zy.totalFiles}")
    // the box prunes harder than either dimension alone
    val box = Lake.readSkippingBox(spark, table, 1L,
      Seq(("x", 16L, 31L), ("y", 16L, 31L)))
    assert(box.keptFiles.size <= math.min(zx.keptFiles.size, zy.keptFiles.size))
    val got = box.df.select("x", "y", "v").as[(Long, Long, Long)].collect().toSeq.sorted
    val want = (for (x <- 16L to 31L; y <- 16L to 31L) yield (x, y, y * 256L + x)).sorted
    assert(got == want, "box read must be exact")
    // the clustered rewrite is content-exact
    assert(Lake.readAt(spark, table, 1L).agg(sum(col("v").cast("decimal(38,0)"))).head ==
      Lake.readAt(spark, table, 0L).agg(sum(col("v").cast("decimal(38,0)"))).head)
    // domain violation is loud, not wrapped around
    val bad = Files.createTempDirectory("lake-zorder-bad").toString
    Lake.commit(spark, bad,
      spark.range(1).select(lit(-1L).as("x"), lit(0L).as("y")), "load")
    intercept[IllegalArgumentException] { Lake.clusterBy(spark, bad, "x", "y", 2) }
  }

  test("deleteRange: pruned copy-on-write delete; null keys survive; metadata aggregates exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = Files.createTempDirectory("lake-delete").toString
    val base = spark.range(0, 8000).select(col("id").as("k"), (col("id") * 3L).as("v"))
    Lake.commit(spark, table, base.repartitionByRange(8, col("k")), "load")
    // metadata-only aggregates: count from the footer metric, min/max from
    // the merged zone maps — no data file opened
    assert(Lake.rowsAt(spark, table, 0L) == 8000L)
    assert(Lake.minMaxAt(spark, table, 0L, "k").contains((0L, 7999L)))
    assert(Lake.minMaxAt(spark, table, 0L, "nope").isEmpty)
    val res = Lake.deleteRange(spark, table, "k", 1000L, 1999L).get
    assert(res.snapshot.op == "delete" && res.snapshot.seq == 1L)
    // >= 5, not >= 6: the range partitioner's sampling seed derives from
    // the GLOBAL rdd id, so the 8 file boundaries drift a percent or two
    // with session history and the 1000-wide delete can straddle two
    // boundaries (3 rewrites) instead of one — pruning is proven either
    // way (most files untouched vs a naive rewrite-all)
    assert(res.rewroteFiles + res.carriedFiles == 8 && res.carriedFiles >= 5,
      s"narrow delete must carry most files, carried ${res.carriedFiles}")
    val got = Lake.readAt(spark, table, 1L).as[(Long, Long)].collect().toSeq.sorted
    val want = (0L until 8000L).filterNot(i => i >= 1000L && i <= 1999L).map(i => (i, i * 3L))
    assert(got == want.toSeq, "delete must drop exactly the range")
    assert(Lake.rowsAt(spark, table, 1L) == 7000L)
    assert(Lake.minMaxAt(spark, table, 1L, "k").contains((0L, 7999L)))
    // a range beyond every zone map is a no-op: nothing committed
    assert(Lake.deleteRange(spark, table, "k", 100000L, 200000L).isEmpty)
    assert(Lake.latest(spark, table).get.seq == 1L)

    // NULL keys are never "in range": a sweep of the whole known domain
    // keeps them (three-valued logic would silently drop them)
    val t2 = Files.createTempDirectory("lake-delete-null").toString
    val withNulls = spark.range(0, 10).select(
      when(col("id") < 3L, lit(null)).otherwise(col("id")).cast("long").as("k"),
      col("id").as("v"))
    Lake.commit(spark, t2, withNulls.coalesce(1), "load")
    val r2 = Lake.deleteRange(spark, t2, "k", 0L, 100L).get
    val left = Lake.readAt(spark, t2, 1L).select("v").as[Long].collect().toSeq.sorted
    assert(left == Seq(0L, 1L, 2L), s"null-key rows must survive, got $left")
    assert(r2.rewroteFiles == 1)
    // the survivor file is all-null in k -> min/max is unknowable -> None
    assert(Lake.minMaxAt(spark, t2, 1L, "k").isEmpty)
  }

  test("readAsOf resolves by commit time; rollback is a carry-only commit that keeps history") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = Files.createTempDirectory("lake-asof").toString
    def v(n: Int) = spark.range(0, 10L * n).select(col("id").as("k"))
    val s0 = Lake.commit(spark, table, v(1), "load")
    Thread.sleep(10) // force distinct commit timestamps
    val s1 = Lake.commit(spark, table, v(2), "update")
    Thread.sleep(10)
    val s2 = Lake.commit(spark, table, v(3), "update")
    assert(s0.ts < s1.ts && s1.ts < s2.ts)
    // as-of semantics: newest snapshot at or before t
    assert(Lake.snapshotAsOf(spark, table, s0.ts - 1).isEmpty)
    intercept[IllegalArgumentException] { Lake.readAsOf(spark, table, s0.ts - 1) }
    assert(Lake.readAsOf(spark, table, s0.ts).count() == 10L)
    assert(Lake.readAsOf(spark, table, s1.ts).count() == 20L)
    assert(Lake.readAsOf(spark, table, (s1.ts + s2.ts) / 2).count() == 20L)
    assert(Lake.readAsOf(spark, table, Long.MaxValue).count() == 30L)
    // rollback to v0: new snapshot, identical content, carried file names
    val rb = Lake.rollback(spark, table, 0L)
    assert(rb.seq == 3L && rb.op == "rollback" && rb.parent == s2.id && rb.rows == 10L)
    assert(Lake.readAt(spark, table, 3L).as[Long].collect().toSeq.sorted ==
      Lake.readAt(spark, table, 0L).as[Long].collect().toSeq.sorted)
    def names(seq: Long): Set[String] = {
      val p = java.nio.file.Paths.get(Lake.snapshotAt(spark, table, seq).get.path)
      Files.list(p).iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    assert(names(3L) == names(0L), "rollback must carry files byte-for-byte by name")
    // zone maps survive the carry (publish re-reads footers)
    assert(Lake.fileStats(spark, table, 3L).size == names(3L).size)
    assert(Lake.minMaxAt(spark, table, 3L, "k").contains((0L, 9L)))
    // history is untouched: the undone snapshots still time-travel
    assert(Lake.readAt(spark, table, 2L).count() == 30L)
    intercept[IllegalArgumentException] { Lake.rollback(spark, table, 99L) }
  }

  test("tags: named refs pin snapshots through expiry; collisions and stale pins are loud") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-tags").toString
    val s0 = Lake.commit(spark, table, (1 to 10).toDF("x"), "load")
    val s1 = Lake.commit(spark, table, (1 to 20).toDF("x"), "update")
    val s2 = Lake.commit(spark, table, (1 to 30).toDF("x"), "update")
    // pin the original corpus
    Lake.tag(spark, table, "train-v1", s0.seq)
    assert(Lake.tags(spark, table) == Seq(("train-v1", s0.seq, s0.id)))
    assert(Lake.readRef(spark, table, "train-v1").count() == 10L)
    // a second tagger of the same name loses loudly, never silently retags
    intercept[Exception] { Lake.tag(spark, table, "train-v1", s1.seq) }
    assert(Lake.snapshotRef(spark, table, "train-v1").id == s0.id)
    // tagging the void / bad names are loud
    intercept[IllegalArgumentException] { Lake.tag(spark, table, "v9", 99L) }
    intercept[IllegalArgumentException] { Lake.tag(spark, table, "../evil", s0.seq) }
    // expiry keeps the pinned snapshot and drops the unpinned middle one
    val dropped = Lake.expireSnapshots(spark, table, keepLast = 1)
    assert(dropped.map(_.seq) == Seq(s1.seq), "only the unpinned old snapshot expires")
    assert(Lake.readRef(spark, table, "train-v1").count() == 10L, "the pin still reads")
    assert(Lake.readAt(spark, table, s2.seq).count() == 30L)
    intercept[IllegalArgumentException] { Lake.readAt(spark, table, s1.seq) }
    // dropping the tag releases protection; the next expiry reclaims it
    assert(Lake.dropTag(spark, table, "train-v1"))
    assert(!Lake.dropTag(spark, table, "train-v1"), "second drop reports absence")
    assert(Lake.expireSnapshots(spark, table, keepLast = 1).map(_.seq) == Seq(s0.seq))
    intercept[IllegalArgumentException] { Lake.readRef(spark, table, "train-v1") }
  }

  test("WAP branches: staged commits invisible to main; publish is a carry-only fast-forward") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-wap").toString
    val s0 = Lake.commit(spark, table, (1 to 10).toDF("x"), "load")
    val s1 = Lake.commit(spark, table, (1 to 20).toDF("x"), "update")
    // fork, stage two audit-candidate commits
    assert(Lake.createBranch(spark, table, "audit").id == s1.id)
    intercept[Exception] { Lake.createBranch(spark, table, "audit") } // collision is loud
    // a fresh branch with nothing staged reads as its fork point
    val b0 = Lake.commitToBranch(spark, table, "audit", (1 to 25).toDF("x"), "stage")
    val b1 = Lake.commitToBranch(spark, table, "audit", (1 to 40).toDF("x"), "stage")
    assert(b1.parent == b0.id, "branch lineage is its own linear chain")
    // AUDIT: branch readers see the staged head, main readers see nothing
    assert(Lake.readBranch(spark, table, "audit").count() == 40L)
    assert(Lake.latest(spark, table).get.id == s1.id, "main head unmoved by staging")
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 20L)
    assert(Lake.snapshots(spark, table).map(_.seq) == Seq(s0.seq, s1.seq),
      "staged manifests never appear in the main listing")
    // PUBLISH: one carry-only main commit equal to the branch head
    val pub = Lake.fastForward(spark, table, "audit")
    assert(pub.op == "wap_publish" && pub.parent == s1.id && pub.seq == s1.seq + 1)
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 40L)
    assert(Lake.read(spark, pub).agg(org.apache.spark.sql.functions.sum("x"))
      .head().getLong(0) == (1 to 40).map(_.toLong).sum)
    assert(Lake.readAt(spark, table, s1.seq).count() == 20L, "history stays travelable")
    // drop the published branch; staged bytes are reclaimed, main unaffected
    assert(Lake.dropBranch(spark, table, "audit"))
    assert(!Lake.dropBranch(spark, table, "audit"))
    assert(Lake.read(spark, Lake.latest(spark, table).get).count() == 40L)
    intercept[Exception] { Lake.readBranch(spark, table, "audit") }
  }

  test("WAP branches: audit-fail drop, fresh-branch reads, stale fork point refuses") {
    import spark.implicits._
    val table = Files.createTempDirectory("lake-wap2").toString
    val s0 = Lake.commit(spark, table, (1 to 10).toDF("x"), "load")
    Lake.createBranch(spark, table, "bad")
    // nothing staged yet: the branch reads as its base, publish refuses
    assert(Lake.readBranch(spark, table, "bad").count() == 10L)
    intercept[IllegalArgumentException] { Lake.fastForward(spark, table, "bad") }
    Lake.commitToBranch(spark, table, "bad", (1 to 999).toDF("x"), "stage")
    // audit fails -> drop; main never saw a byte and no orphan survives
    assert(Lake.dropBranch(spark, table, "bad"))
    assert(Lake.latest(spark, table).get.id == s0.id)
    assert(Lake.sweepOrphans(spark, table).isEmpty, "staging left nothing under main data/")
    // stale fork point: main advances while a branch is staged
    Lake.createBranch(spark, table, "late")
    Lake.commitToBranch(spark, table, "late", (1 to 5).toDF("x"), "stage")
    Lake.commit(spark, table, (1 to 30).toDF("x"), "update")
    val e = intercept[IllegalArgumentException] { Lake.fastForward(spark, table, "late") }
    assert(e.getMessage.contains("rebase"), "divergence must name the remedy")
    // staging on an absent branch is loud
    intercept[IllegalArgumentException] {
      Lake.commitToBranch(spark, table, "ghost", (1 to 3).toDF("x"), "stage")
    }
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
