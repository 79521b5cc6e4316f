package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import java.nio.charset.StandardCharsets

/** Minimal Iceberg-style snapshot layer over parquet directories (the
  * environment ships no Iceberg jar, so snapshot semantics are built
  * in-repo):
  *
  *   table/
  *     data/<snapshotId>/...parquet
  *     snapshots/<seq>%012d.json   (manifest; snapshot id in the body)
  *
  * A manifest records the operation, parent snapshot (lineage chain), row
  * count and per-partition row metrics. Readers resolve the latest manifest
  * (or a pinned snapshot id).
  *
  * All filesystem access goes through the Hadoop FileSystem API, so tables
  * live on whatever store the path's scheme resolves to — local posix,
  * HDFS, or an object store — matching the parquet data files, which Spark
  * already writes through the same API. The manifest commit is RENAME-FREE
  * (object stores have no atomic rename): the manifest is created at its
  * final name with overwrite=false, written, closed, then read back and
  * VERIFIED byte-for-byte. The SEQUENCE NUMBER IS THE COLLISION UNIT: the
  * manifest file is named by seq alone, so of two concurrent committers
  * that both observed seq N, the second create(overwrite=false) fails
  * loudly (and on stores whose create-no-overwrite is weak, the byte
  * readback-verify catches the interleaving) — lineage can never fork
  * into duplicate-seq snapshots. Readers additionally require the
  * `"eof":true` trailer, so a torn or in-flight manifest is never
  * observed as a snapshot; a committer that crashed mid-write leaves its
  * seq slot blocked by a torn file, which `recoverTornManifest` clears.
  *
  * Commit cost is INDEPENDENT of the table's snapshot count: `latest`
  * lists the manifest directory (names carry the seq) and reads only the
  * highest complete manifest, never the whole history; `snapshots` (full
  * history read) backs only lineage walks and `expireSnapshots`.
  */
object Lake {

  final case class Snapshot(seq: Long, id: String, parent: String, op: String,
                            path: String, rows: Long,
                            partitionRows: Seq[Long], ts: Long)

  /** Zone map of one committed data file: per BIGINT column, the merged
    * (min, max) of every row group — recorded from the parquet footers at
    * commit time (metadata only, no data scan) and carried in the
    * manifest so a reader can prune files WITHOUT opening them.
    */
  final case class FileStat(file: String, cols: Map[String, (Long, Long)])

  private def conf(spark: SparkSession) = spark.sessionState.newHadoopConf()
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(conf(spark))

  private def snapshotsDir(table: String): Path = new Path(table, "snapshots")
  private def dataDir(table: String, id: String): Path =
    new Path(new Path(table, "data"), id)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Shared whole-file slurp (also used by the streaming ring index). */
  private[graft] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Commit a DataFrame as a new snapshot; returns the manifest. */
  def commit(spark: SparkSession, table: String, df: DataFrame, op: String): Snapshot = {
    val last = latest(spark, table)
    val parent = last.map(_.id).getOrElse("")
    val seq = last.map(_.seq + 1).getOrElse(0L)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    df.write.mode("overwrite").parquet(dd.toString)
    publish(spark, table, dd, id, parent, seq, op)
  }

  /** Manifest a fully-written data directory as snapshot `seq` of `table`.
    * Per-partition metrics and zone maps come from the parquet FOOTERS —
    * metadata reads only, no second scan of the snapshot's data.
    */
  private def publish(spark: SparkSession, table: String, dd: Path, id: String,
                      parent: String, seq: Long, op: String): Snapshot = {
    val hc = conf(spark)
    val fs = dd.getFileSystem(hc)
    val fileMeta = fs.listStatus(dd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, hc))
        try {
          val blocks = {
            val it = r.getFooter.getBlocks.iterator()
            val b = Seq.newBuilder[org.apache.parquet.hadoop.metadata.BlockMetaData]
            while (it.hasNext) b += it.next()
            b.result()
          }
          // zone map: per top-level INT64 column, min/max merged across row
          // groups — kept only when EVERY row group carries usable non-null
          // statistics (an all-null or stats-less group makes the column
          // unprunable for this file, which readSkipping treats as "keep")
          val perBlock: Seq[Map[String, (Long, Long)]] = blocks.map { b =>
            val cit = b.getColumns.iterator()
            val m = Map.newBuilder[String, (Long, Long)]
            while (cit.hasNext) {
              val c = cit.next()
              val path = c.getPath.toDotString
              val s = c.getStatistics
              if (!path.contains('.') &&
                  c.getPrimitiveType.getPrimitiveTypeName ==
                    org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
                  s != null && !s.isEmpty && s.hasNonNullValue)
                m += path -> (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                              s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
            m.result()
          }
          val prunable =
            if (perBlock.isEmpty) Set.empty[String]
            else perBlock.map(_.keySet).reduce(_ intersect _)
          val cols = prunable.toSeq.sorted.map { k =>
            val vs = perBlock.map(_(k))
            k -> (vs.map(_._1).min, vs.map(_._2).max)
          }.toMap
          (FileStat(st.getPath.getName, cols), blocks.map(_.getRowCount).sum)
        } finally r.close()
      }
    val parts = fileMeta.map(_._2)
    val rows = parts.sum
    val snap = Snapshot(seq, id, parent, op, dd.toString, rows, parts,
      System.currentTimeMillis())
    // "stats" goes LAST (before the eof trailer): parse() is
    // first-occurrence-per-key, so arbitrary column names inside the zone
    // maps can never shadow a manifest key that precedes them
    val statsJson = fileMeta.map { case (fst, _) =>
      val cs = fst.cols.toSeq.sortBy(_._1)
        .map { case (k, (mn, mx)) => s""""${esc(k)}":[$mn,$mx]""" }.mkString(",")
      s"""{"f":"${esc(fst.file)}","c":{$cs}}"""
    }.mkString(",")
    val json =
      s"""{"seq":$seq,"id":"${esc(id)}","parent":"${esc(parent)}","op":"${esc(op)}",""" +
        s""""path":"${esc(snap.path)}","rows":$rows,""" +
        s""""partitionRows":[${parts.mkString(",")}],"ts":${snap.ts},""" +
        s""""stats":[$statsJson],"eof":true}"""
    val sd = snapshotsDir(table)
    val sfs = fsOf(spark, sd)
    sfs.mkdirs(sd)
    // named by seq ALONE: two committers racing on the same seq collide on
    // the same final name, so the loser's create(overwrite=false) throws
    val manifest = new Path(sd, f"$seq%012d.json")
    // rename-free commit: create-no-overwrite at the FINAL name, then
    // verify the readback — see class doc
    val out = sfs.create(manifest, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val back = readFully(sfs, manifest)
    require(back == json, s"manifest readback mismatch for $manifest")
    snap
  }

  /** Manifest files as (seq-from-filename, path), unread, ascending. Also
    * accepts the legacy `<seq>-<id>.json` name so pre-rename tables stay
    * readable.
    */
  private def manifestFiles(fs: FileSystem, dir: Path): Seq[(Long, Path)] = {
    val listed =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => return Nil }
    listed.iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val digits = st.getPath.getName.takeWhile(_.isDigit)
        if (digits.isEmpty) None else Some((digits.toLong, st.getPath))
      }
      .toSeq.sortBy { case (seq, p) => (seq, p.getName) }
  }

  def snapshots(spark: SparkSession, table: String): Seq[Snapshot] = {
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    manifestFiles(fs, dir).iterator
      .map { case (_, p) => readFully(fs, p) }
      // a torn or in-flight manifest lacks the eof trailer -> not a snapshot
      .filter(_.endsWith("\"eof\":true}"))
      .map(parse)
      .toSeq.sortBy(_.seq)
  }

  private def parse(json: String): Snapshot = {
    def str(k: String): String =
      s""""$k":"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    def num(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
    val parts = """"partitionRows":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.toLong).toSeq).getOrElse(Nil)
    Snapshot(num("seq"), str("id"), str("parent"), str("op"), str("path"),
      num("rows"), parts, num("ts"))
  }

  /** Complete manifests read lazily NEWEST-FIRST — `latest` and resume
    * lookups touch one (typically) or a handful of manifests, not the
    * table's whole history.
    */
  private def snapshotsDesc(spark: SparkSession, table: String): Iterator[Snapshot] = {
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    manifestFiles(fs, dir).reverseIterator
      .map { case (_, p) => readFully(fs, p) }
      .filter(_.endsWith("\"eof\":true}"))
      .map(parse)
  }

  def latest(spark: SparkSession, table: String): Option[Snapshot] =
    snapshotsDesc(spark, table).nextOption()

  /** Latest snapshot whose op matches, if any (resume lookup). */
  def latestFor(spark: SparkSession, table: String, op: String): Option[Snapshot] =
    snapshotsDesc(spark, table).find(_.op == op)

  /** Drop all but the newest `keepLast` snapshots: delete their data
    * directories and manifests; returns the expired snapshots. Lineage
    * walks from a surviving snapshot stop where the chain crosses into
    * expired history (the parent id no longer resolves) — same contract as
    * Iceberg's expire_snapshots. Only COMPLETE manifests are touched; a
    * torn manifest (a crashed committer's slot) is left for
    * `recoverTornManifest`.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int): Seq[Snapshot] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    val all = snapshots(spark, table)
    // tagged snapshots are PROTECTED (the Iceberg ref-retention contract):
    // a pin like "the corpus v3 trained on" must survive any retention
    // policy until its tag is explicitly dropped
    val pinned = tags(spark, table).map(t => (t._2, t._3)).toSet
    val dropped = all.dropRight(keepLast)
      .filterNot(s => pinned.contains((s.seq, s.id)))
    if (dropped.isEmpty) return Nil
    // manifests are matched by the PARSED (seq, id), not the filename seq:
    // a legacy pre-rename table can hold duplicate-seq fork siblings, and a
    // seq-only match would delete the manifest of a KEPT sibling. Torn
    // files are skipped (they are recoverTornManifest's business). Only
    // files whose FILENAME seq is doomed are re-read (the filename seq
    // equals the body seq under both naming schemes), so the pass costs
    // one read per candidate, not per manifest in the table.
    val doomedSeqs = dropped.map(_.seq).toSet
    val doomed = dropped.map(s => (s.seq, s.id)).toSet
    // manifests go FIRST: if the run dies mid-way the worst case is an
    // orphaned data directory, never a surviving complete manifest whose
    // data is gone (which resume lookups could then select and fail on)
    manifestFiles(fs, dir)
      .filter { case (seq, _) => doomedSeqs.contains(seq) }
      .foreach { case (_, p) =>
        val body = readFully(fs, p)
        if (body.endsWith("\"eof\":true}")) {
          val s = parse(body)
          if (doomed.contains((s.seq, s.id))) fs.delete(p, false)
        }
      }
    dropped.foreach { s =>
      val dd = new Path(s.path)
      dd.getFileSystem(conf(spark)).delete(dd, true)
    }
    dropped
  }

  /** Delete the torn (incomplete) manifest blocking `seq`, if any — admin
    * recovery after a committer crashed mid-write, freeing the slot for a
    * retry. REFUSES to touch a complete manifest. Returns true if a torn
    * manifest was removed.
    */
  def recoverTornManifest(spark: SparkSession, table: String, seq: Long): Boolean = {
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    manifestFiles(fs, dir).filter(_._1 == seq).exists { case (_, p) =>
      val torn = !readFully(fs, p).endsWith("\"eof\":true}")
      if (torn) fs.delete(p, false)
      torn
    }
  }

  /** Delete data directories no COMPLETE manifest references — admin
    * recovery for `expireSnapshots`' documented worst case: manifests are
    * deleted BEFORE data dirs, so a crash between the two phases leaves
    * orphaned data directories that nothing will ever read or reclaim.
    * Returns the deleted paths.
    *
    * Single-admin contract (same as recoverTornManifest): must not run
    * concurrently with a committer — `commit` writes its data dir before
    * its manifest, so an in-flight commit's directory would look orphaned.
    * A TORN manifest's data dir is likewise swept: its committer crashed
    * mid-write and the slot must be retried from scratch anyway
    * (recoverTornManifest clears the manifest side).
    */
  def sweepOrphans(spark: SparkSession, table: String): Seq[String] = {
    val dataRoot = new Path(table, "data")
    val fs = fsOf(spark, dataRoot)
    val referenced = snapshots(spark, table).map(s => new Path(s.path).getName).toSet
    val listed =
      try fs.listStatus(dataRoot)
      catch { case _: java.io.FileNotFoundException => return Nil }
    listed.iterator
      .filter(st => st.isDirectory && !referenced.contains(st.getPath.getName))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
      .toSeq
  }

  def read(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.parquet(snap.path)

  /** Time travel: the complete snapshot at sequence number `seq`, if any.
    * Cost is one directory listing plus one manifest read — the filename
    * IS the seq (legacy fork siblings disambiguate by the parsed body
    * seq, same as expireSnapshots).
    */
  def snapshotAt(spark: SparkSession, table: String, seq: Long): Option[Snapshot] = {
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    manifestFiles(fs, dir).filter(_._1 == seq).iterator
      .map { case (_, p) => readFully(fs, p) }
      .filter(_.endsWith("\"eof\":true}"))
      .map(parse).find(_.seq == seq)
  }

  /** Time-travel read by sequence number; loud on an absent (never
    * committed, expired, or torn) seq.
    */
  def readAt(spark: SparkSession, table: String, seq: Long): DataFrame =
    read(spark, snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(s"readAt: no complete snapshot at seq $seq in $table")))

  // ---- named refs (tags): the Iceberg ref contract — a human-stable
  //      name for a snapshot, which PROTECTS it from expiry ----

  private def refsDir(table: String): Path = new Path(table, "refs")
  private val RefName = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Create a named TAG pointing at complete snapshot `seq` — the
    * audit/release pin ("the corpus we trained v3 on") that survives any
    * amount of later history. Creation is COLLISION-SAFE the same way
    * manifest commits are: the ref file is created with
    * overwrite = false, so two racing taggers of the same name get one
    * winner and one loud failure, never a silently replaced pin (retag =
    * dropTag + tag, an explicit two-step). Refuses a name that doesn't
    * resolve to a complete snapshot (a torn or expired seq can't be
    * pinned). The ref records BOTH seq and snapshot id, so resolution can
    * detect a reused slot and refuse rather than serve different data
    * under an old pin.
    */
  def tag(spark: SparkSession, table: String, name: String, seq: Long): Unit = {
    require(RefName.matches(name), s"tag: invalid ref name '$name'")
    val snap = snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(s"tag: no complete snapshot at seq $seq in $table"))
    val dir = refsDir(table)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val body = s"""{"name":"${esc(name)}","seq":${snap.seq},"id":"${esc(snap.id)}","eof":true}"""
    val out = fs.create(new Path(dir, s"$name.json"), false) // loud on collision
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** All complete tags of `table` as (name, seq, id) — one listing plus
    * one read per ref; the ref set is human-sized by construction.
    * Torn refs (a crashed tagger) are skipped like torn manifests.
    */
  def tags(spark: SparkSession, table: String): Seq[(String, Long, String)] = {
    val dir = refsDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .map(st => readFully(fs, st.getPath))
      .filter(_.endsWith("\"eof\":true}"))
      .map { body =>
        val s = parse(body)
        val name = """"name":"((?:[^"\\]|\\.)*)"""".r
          .findFirstMatchIn(body).map(m => unesc(m.group(1))).getOrElse("")
        (name, s.seq, s.id)
      }.sortBy(_._1)
  }

  /** Resolve a tag to its snapshot — loud if the tag is absent, its
    * target expired, or the seq slot holds a DIFFERENT snapshot than the
    * one pinned (id mismatch — never serve changed data under a pin).
    */
  def snapshotRef(spark: SparkSession, table: String, name: String): Snapshot = {
    val (_, seq, id) = tags(spark, table).find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(s"snapshotRef: no tag '$name' in $table"))
    val snap = snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(
        s"snapshotRef: tag '$name' targets seq $seq which no longer resolves in $table"))
    require(snap.id == id,
      s"snapshotRef: tag '$name' pinned snapshot ${id} but seq $seq now holds ${snap.id}")
    snap
  }

  /** Read a table at a named tag. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, snapshotRef(spark, table, name))

  /** Delete a tag (releasing its expiry protection); returns whether it
    * existed.
    */
  def dropTag(spark: SparkSession, table: String, name: String): Boolean = {
    require(RefName.matches(name), s"dropTag: invalid ref name '$name'")
    val p = new Path(refsDir(table), s"$name.json")
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.delete(p, false)
  }

  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case e => b += e; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }

  /** The zone maps recorded in the manifest at `seq` (empty for a legacy
    * manifest committed before stats existed — every reader treats the
    * absence as "nothing prunable", never as an error).
    */
  def fileStats(spark: SparkSession, table: String, seq: Long): Seq[FileStat] = {
    val dir = snapshotsDir(table)
    val fs = fsOf(spark, dir)
    manifestFiles(fs, dir).filter(_._1 == seq).iterator
      .map { case (_, p) => readFully(fs, p) }
      .filter(_.endsWith("\"eof\":true}"))
      .find(b => parse(b).seq == seq)
      .toSeq.flatMap(parseStats)
  }

  private def parseStats(json: String): Seq[FileStat] = {
    """"stats":\[(.*)\],"eof":true\}$""".r.findFirstMatchIn(json).map(_.group(1)) match {
      case None => Nil // legacy manifest: no zone maps recorded
      case Some(region) =>
        """\{"f":"((?:[^"\\]|\\.)*)","c":\{([^}]*)\}\}""".r.findAllMatchIn(region).map { m =>
          val cols = """"((?:[^"\\]|\\.)*)":\[(-?\d+),(-?\d+)\]""".r
            .findAllMatchIn(m.group(2))
            .map(c => unesc(c.group(1)) -> (c.group(2).toLong, c.group(3).toLong))
            .toMap
          FileStat(unesc(m.group(1)), cols)
        }.toSeq
    }
  }

  /** A zone-map-pruned scan: `df` is the rows of snapshot `seq` with
    * `lo <= column <= hi`, reading ONLY `keptFiles` of `totalFiles`.
    */
  final case class SkipScan(df: DataFrame, keptFiles: Seq[String], totalFiles: Int) {
    def prunedFiles: Int = totalFiles - keptFiles.size
  }

  /** DATA SKIPPING: read snapshot `seq` under the range predicate
    * `column BETWEEN lo AND hi`, opening only the data files whose
    * manifest zone map overlaps the range. Pruning is EXACT, not
    * approximate: a skipped file's [min, max] excludes the range, so no
    * row in it can satisfy the predicate (NULLs satisfy no range
    * predicate, so null-bearing files prune on their non-null range); a
    * file with no usable zone map for `column` — all-null row group,
    * stats-less legacy manifest, non-BIGINT column — is conservatively
    * read. The predicate is still applied to the kept files (file
    * granularity over-approximates), so the result equals
    * `readAt(...).filter(...)` exactly while the I/O scales with the
    * SELECTED key range, not the table: on range-clustered data (e.g. a
    * [[commit]] of a `repartitionByRange` layout) a narrow predicate
    * against a 100 TB table opens a handful of files, from the manifest
    * alone.
    */
  def readSkipping(spark: SparkSession, table: String, seq: Long,
                   column: String, lo: Long, hi: Long): SkipScan =
    readSkippingBox(spark, table, seq, Seq((column, lo, hi)))

  /** Multi-dimensional data skipping: the conjunction of range
    * predicates `(column, lo, hi)*` — a file survives only when EVERY
    * predicate's range overlaps its zone map, so on a [[clusterBy]]
    * z-ordered layout a box predicate prunes in all clustered
    * dimensions at once. Same exactness contract as [[readSkipping]].
    */
  def readSkippingBox(spark: SparkSession, table: String, seq: Long,
                      preds: Seq[(String, Long, Long)]): SkipScan = {
    import org.apache.spark.sql.functions.{col, lit}
    require(preds.nonEmpty, "readSkippingBox: at least one range predicate required")
    val snap = snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(
        s"readSkipping: no complete snapshot at seq $seq in $table"))
    val stats = fileStats(spark, table, seq).map(f => f.file -> f.cols).toMap
    val dd = new Path(snap.path)
    val fs = dd.getFileSystem(conf(spark))
    val files = fs.listStatus(dd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq.sortBy(_.getName)
    val kept = files.filter { p =>
      preds.forall { case (column, lo, hi) =>
        stats.get(p.getName).flatMap(_.get(column)) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true // no zone map -> cannot prune, must read
        }
      }
    }
    val pred = preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    val df =
      if (kept.isEmpty) read(spark, snap).where(lit(false)) // schema-preserving empty
      else spark.read.parquet(kept.map(_.toString): _*).where(pred)
    SkipScan(df, kept.map(_.getName), files.size)
  }

  /** Bit-interleaved Morton (z-order) value of two non-negative columns
    * (< 2^bits each) — pure column arithmetic (shift/mask/add over
    * disjoint bit positions), so it stays inside whole-stage codegen.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 21): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"zValue: bits must be in [1, 31], got $bits")
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-ORDER CLUSTERING: rewrite the latest snapshot range-partitioned
    * and sorted by the bit-interleaved ([[zValue]]) of two columns, as a
    * new `op = "cluster"` snapshot. Because consecutive z-values trace
    * compact rectangles, each written file covers a tight range in BOTH
    * dimensions — so the per-file zone maps become selective for both
    * columns at once and [[readSkippingBox]] prunes a box predicate in
    * two dimensions from the manifest alone (single-column range layout
    * can only ever prune its one sort key). This is the layout
    * maintenance that makes multi-dimension point/box lookups on a
    * 100 TB table open a handful of files. Loud when either column's
    * observed domain leaves [0, 2^bits) — silent wraparound would
    * corrupt the ordering, never the data.
    */
  def clusterBy(spark: SparkSession, table: String, colA: String, colB: String,
                numFiles: Int, bits: Int = 21): Snapshot = {
    import org.apache.spark.sql.functions._
    require(numFiles >= 1, s"clusterBy: numFiles must be >= 1, got $numFiles")
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"clusterBy: $table has no snapshot"))
    val df = read(spark, last)
    val dom = df.agg(min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head()
    val lim = 1L << bits
    for (i <- 0 until 4) {
      val v = dom.getLong(i)
      require(v >= 0L && v < lim,
        s"clusterBy: ${if (i < 2) colA else colB} domain value $v outside [0, $lim)")
    }
    val clustered = df.withColumn("__z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val snap = commit(spark, table, clustered, "cluster")
    require(snap.rows == last.rows,
      s"clusterBy: row count changed ${last.rows} -> ${snap.rows} in $table")
    snap
  }

  /** Time travel by TIMESTAMP: the newest complete snapshot whose commit
    * time is <= `asOfMillis` (ties resolve to the highest seq) — the
    * Iceberg as-of-timestamp contract next to [[snapshotAt]]'s by-seq
    * one. None when the table has no snapshot that old.
    */
  def snapshotAsOf(spark: SparkSession, table: String, asOfMillis: Long): Option[Snapshot] =
    snapshots(spark, table).filter(_.ts <= asOfMillis).lastOption

  /** Time-travel read by timestamp; loud when nothing that old exists. */
  def readAsOf(spark: SparkSession, table: String, asOfMillis: Long): DataFrame =
    read(spark, snapshotAsOf(spark, table, asOfMillis).getOrElse(
      throw new IllegalArgumentException(
        s"readAsOf: no complete snapshot at or before $asOfMillis in $table")))

  /** ROLLBACK: commit a NEW snapshot whose contents equal snapshot
    * `seq`, every data file carried byte-for-byte (raw copy, no
    * decode/encode) — history is append-only, so the undone snapshots
    * stay time-travelable until expired and the lineage chain stays
    * linear (parent = the snapshot being rolled back FROM). The cheap
    * "undo" a 100 TB table can afford: cost is a file copy (server-side
    * on object stores), never a table rewrite.
    */
  def rollback(spark: SparkSession, table: String, seq: Long): Snapshot = {
    val target = snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(s"rollback: no complete snapshot at seq $seq in $table"))
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"rollback: $table has no snapshot"))
    val hc = conf(spark)
    val td = new Path(target.path)
    val fs = td.getFileSystem(hc)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    fs.mkdirs(dd)
    fs.listStatus(td).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(dd, st.getPath.getName), false, hc)
      }
    val snap = publish(spark, table, dd, id, last.id, last.seq + 1, "rollback")
    require(snap.rows == target.rows,
      s"rollback: row count ${snap.rows} != target ${target.rows} in $table")
    snap
  }

  /** SCHEMA-EVOLVED time travel: the snapshot at `seq` read under the
    * LATEST snapshot's schema (the Iceberg read contract for evolved
    * tables). Columns added since `seq` backfill as typed NULLs; columns
    * since dropped are pruned; surviving columns match BY NAME and must
    * be cast-compatible (Cast.canUpCast — a widening like int -> long is
    * legal and applied; anything lossy fails LOUDLY rather than
    * reinterpreting history). Each snapshot's parquet stays immutable —
    * evolution is a property of the read, which is what keeps old
    * snapshots forever readable with zero rewrite at any table size.
    */
  def readConformed(spark: SparkSession, table: String, seq: Long): DataFrame = {
    val cur = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"readConformed: $table has no snapshot"))
    val target = read(spark, cur).schema
    val old = readAt(spark, table, seq)
    val oldByName = old.schema.map(f => f.name -> f).toMap
    val cols = target.map { f =>
      oldByName.get(f.name) match {
        case None =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        case Some(g) if g.dataType == f.dataType =>
          org.apache.spark.sql.functions.col(f.name)
        case Some(g) if org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(g.dataType, f.dataType) =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
        case Some(g) =>
          throw new IllegalArgumentException(
            s"readConformed: column ${f.name} evolved ${g.dataType} -> ${f.dataType}, " +
              "which is not a lossless upcast; refusing to reinterpret history")
      }
    }
    old.select(cols: _*)
  }

  /** Small-file compaction: rewrite the LATEST snapshot's data as a new
    * `op = "compact"` snapshot with `numFiles` files (coalesce — a narrow
    * rewrite, no shuffle), verified row-exact against the parent via the
    * committed footer metrics before returning. Readers keep resolving
    * the parent through time travel until it is expired — compaction
    * never mutates history, it appends to it (the Iceberg rewrite_data_
    * files contract). Run under the same single-writer regime as any
    * commit; the seq-collision unit makes a concurrent commit fail
    * loudly, not fork.
    */
  def compact(spark: SparkSession, table: String, numFiles: Int): Snapshot = {
    require(numFiles >= 1, s"compact: numFiles must be >= 1, got $numFiles")
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"compact: $table has no snapshot"))
    val snap = commit(spark, table, read(spark, last).coalesce(numFiles), "compact")
    require(snap.rows == last.rows,
      s"compact: row count changed ${last.rows} -> ${snap.rows} in $table")
    snap
  }

  /** What [[merge]] / [[compactSmall]] did: the committed snapshot plus
    * how much of the parent's data was actually rewritten vs carried
    * forward untouched.
    */
  final case class MergeResult(snapshot: Snapshot, rewroteFiles: Int, carriedFiles: Int)

  /** BIN-PACK COMPACTION: rewrite ONLY the latest snapshot's files
    * smaller than `smallBytes`, coalescing them into
    * ceil(totalSmallBytes / smallBytes) files; every file already at
    * size carries into the new snapshot byte-for-byte (raw copy, no
    * decode — the same carry contract as [[merge]]). This is the
    * maintenance job a streamed-into 100 TB table needs: micro-batch
    * commits leave long tails of small files, and packing them must not
    * cost a table rewrite — cost is O(small bytes), not O(table).
    * Returns None (and commits NOTHING) when fewer than two small files
    * exist — the no-op makes a scheduled run idempotent. Row-exact by
    * the same footer-metric require as [[compact]].
    */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long): Option[MergeResult] = {
    require(smallBytes > 0L, s"compactSmall: smallBytes must be > 0, got $smallBytes")
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"compactSmall: $table has no snapshot"))
    val hc = conf(spark)
    val pd = new Path(last.path)
    val fs = pd.getFileSystem(hc)
    val files = fs.listStatus(pd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)
    val (small, large) = files.partition(_.getLen < smallBytes)
    if (small.size < 2) return None
    val bins = math.max(1L, (small.map(_.getLen).sum + smallBytes - 1) / smallBytes).toInt
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    spark.read.parquet(small.map(_.getPath.toString): _*)
      .coalesce(bins).write.mode("overwrite").parquet(dd.toString)
    large.foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new Path(dd, st.getPath.getName), false, hc)
    }
    val snap = publish(spark, table, dd, id, last.id, last.seq + 1, "compact")
    require(snap.rows == last.rows,
      s"compactSmall: row count changed ${last.rows} -> ${snap.rows} in $table")
    Some(MergeResult(snap, small.size, large.size))
  }

  /** COPY-ON-WRITE MERGE (upsert by key): commit a new snapshot equal to
    * the current table with every key present in `source` REPLACED by the
    * source's rows for that key (all target rows of a source key drop,
    * all source rows land — delete-insert semantics, so multi-row keys
    * replace wholesale) and absent keys inserted.
    *
    * The rewrite is ZONE-MAP-PRUNED: only parent files whose [min, max]
    * for `key` overlaps the source's key range are decoded, anti-joined
    * against the source keys and rewritten; every other file is carried
    * into the new snapshot BYTE-FOR-BYTE (a raw filesystem copy — no
    * decode/encode, and object stores execute it server-side). A file
    * with no usable zone map is conservatively rewritten. That makes a
    * keyed merge against a range-clustered 100 TB table cost
    * O(touched key range), not O(table) decode — while each snapshot
    * still owns its whole directory, so expiry/orphan-sweep/lineage
    * semantics are untouched and time travel to the parent keeps reading
    * the pre-merge rows forever.
    *
    * Loud on: an empty table, a schema mismatch, or a source with no
    * non-null key (an unkeyed merge is a different operation — use
    * [[commit]]).
    */
  def merge(spark: SparkSession, table: String, source: DataFrame, key: String): MergeResult = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"merge: $table has no snapshot"))
    val cur = read(spark, last)
    // compare (name, type) pairs, not StructTypes: parquet round-trips
    // flip nullability, which is irrelevant to merge semantics
    require(cur.schema.map(f => (f.name, f.dataType)).sortBy(_._1) ==
        source.schema.map(f => (f.name, f.dataType)).sortBy(_._1),
      s"merge: source schema ${source.schema.simpleString} != table schema ${cur.schema.simpleString}")
    val range = source.agg(min(col(key)).cast("long"), max(col(key)).cast("long")).head()
    require(!range.isNullAt(0), s"merge: source carries no non-null $key")
    val (lo, hi) = (range.getLong(0), range.getLong(1))
    val stats = fileStats(spark, table, last.seq).map(f => f.file -> f.cols).toMap
    val hc = conf(spark)
    val pd = new Path(last.path)
    val fs = pd.getFileSystem(hc)
    val files = fs.listStatus(pd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq.sortBy(_.getName)
    val (touched, untouched) = files.partition { p =>
      stats.get(p.getName).flatMap(_.get(key)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no zone map -> may hold source keys, must rewrite
      }
    }
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    val touchedDf =
      if (touched.isEmpty) cur.where(lit(false))
      else spark.read.parquet(touched.map(_.toString): _*)
    // left_anti keeps the left schema untouched; unionByName aligns the
    // source by name, so the table's column order survives the merge
    val srcKeys = source.select(col(key).as("__merge_key")).distinct()
    val rewritten = touchedDf
      .join(srcKeys, col(key) === col("__merge_key"), "left_anti")
      .unionByName(source)
    rewritten.write.mode("overwrite").parquet(dd.toString)
    untouched.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(dd, p.getName), false, hc)
    }
    val snap = publish(spark, table, dd, id, last.id, last.seq + 1, "merge")
    MergeResult(snap, touched.size, untouched.size)
  }

  /** COPY-ON-WRITE DELETE: commit a new snapshot equal to the current
    * table minus every row with `lo <= key <= hi` — the third DML verb
    * next to [[commit]] (insert) and [[merge]] (upsert). Zone-map-pruned
    * like merge: only files whose key range overlaps the deletion range
    * are decoded and rewritten under the complement filter (NULL keys
    * are never in a range, so they are KEPT — the filter is
    * null-safe, not three-valued); every other file carries
    * byte-for-byte. Returns None (commits nothing) when no file
    * overlaps — a no-op delete leaves no snapshot behind.
    */
  def deleteRange(spark: SparkSession, table: String, key: String,
                  lo: Long, hi: Long): Option[MergeResult] = {
    import org.apache.spark.sql.functions.col
    val last = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"deleteRange: $table has no snapshot"))
    val stats = fileStats(spark, table, last.seq).map(f => f.file -> f.cols).toMap
    val hc = conf(spark)
    val pd = new Path(last.path)
    val fs = pd.getFileSystem(hc)
    val files = fs.listStatus(pd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq.sortBy(_.getName)
    val (touched, untouched) = files.partition { p =>
      stats.get(p.getName).flatMap(_.get(key)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no zone map -> may hold in-range keys, must rewrite
      }
    }
    if (touched.isEmpty) return None
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    spark.read.parquet(touched.map(_.toString): _*)
      .where(col(key).isNull || col(key) < lo || col(key) > hi)
      .write.mode("overwrite").parquet(dd.toString)
    untouched.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(dd, p.getName), false, hc)
    }
    val snap = publish(spark, table, dd, id, last.id, last.seq + 1, "delete")
    Some(MergeResult(snap, touched.size, untouched.size))
  }

  /** METADATA-ONLY row count of snapshot `seq` — the manifest's footer
    * metric; no data file is opened. The O(1)-I/O answer to
    * `SELECT count(*)` that a 100 TB table deserves.
    */
  def rowsAt(spark: SparkSession, table: String, seq: Long): Long =
    snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(s"rowsAt: no complete snapshot at seq $seq in $table")
    ).rows

  /** METADATA-ONLY min/max of a BIGINT column at snapshot `seq`, merged
    * from the manifest zone maps — exact because parquet INT64 footer
    * statistics are exact over non-null values, which is precisely SQL
    * min/max semantics. Returns None (caller falls back to a scan)
    * when ANY non-empty file lacks a zone map for the column — an
    * all-null file or a legacy manifest are indistinguishable from
    * unknown data, and guessing is not an option. Empty files (zero
    * rows) contribute nothing and are ignored; an empty or fully-null
    * snapshot yields None (SQL would say NULL — the caller decides).
    */
  def minMaxAt(spark: SparkSession, table: String, seq: Long,
               column: String): Option[(Long, Long)] = {
    val snap = snapshotAt(spark, table, seq).getOrElse(
      throw new IllegalArgumentException(s"minMaxAt: no complete snapshot at seq $seq in $table"))
    val stats = fileStats(spark, table, seq)
    if (stats.isEmpty && snap.rows > 0L) return None // legacy manifest
    val nonEmpty = stats.zip(snap.partitionRows).filter(_._2 > 0L).map(_._1)
    if (nonEmpty.isEmpty) return None
    val ranges = nonEmpty.map(_.cols.get(column))
    if (ranges.exists(_.isEmpty)) return None // some file is unknowable
    val rs = ranges.flatten
    Some((rs.map(_._1).min, rs.map(_._2).max))
  }

  /** CDC-style SNAPSHOT DIFF — the incremental-read primitive an
    * downstream consumer wants instead of re-scanning the table: the
    * MULTISET delta between two committed versions, as the row set plus a
    * `change` column ('insert' = in `toSeq` but not `fromSeq`, 'delete' =
    * the reverse), duplicate rows accounted per occurrence (exceptAll —
    * a set-based except would silently collapse legitimate duplicate
    * rows). Snapshots here are full rewrites, so the diff is two
    * hash-partitioned anti-folds over the two versions — the schema must
    * match (loud require; a schema-evolving diff is a different
    * operation). Both seqs resolve through the torn-manifest-safe
    * [[readAt]], so an expired or in-flight version fails loudly.
    */
  def diffSnapshots(spark: SparkSession, table: String,
                    fromSeq: Long, toSeq: Long): DataFrame = {
    val from = readAt(spark, table, fromSeq)
    val to = readAt(spark, table, toSeq)
    require(from.schema == to.schema,
      s"diffSnapshots: schema mismatch between seq $fromSeq and $toSeq in $table")
    to.exceptAll(from).withColumn("change", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("change", lit("delete")))
  }

  /** Materialized-aggregate INIT: the keyed count + integer-sum rollup of
    * `df` in [[maintainSums]]'s schema — (keys..., n_rows, <c>_sum per sum
    * column). Sums accumulate through decimal(38,0) and land as BIGINT
    * (the repo's fixed-point contract).
    */
  def fullSums(df: DataFrame, keyCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c).cast("decimal(38,0)")).cast("long").as(s"${c}_sum"))
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** INCREMENTAL VIEW MAINTENANCE: roll a materialized keyed aggregate
    * (as produced by [[fullSums]]) from snapshot `fromSeq` to `toSeq` by
    * folding ONLY the CDC delta — counts and integer sums form an abelian
    * group, so insert rows add, delete rows subtract, and keys whose
    * count reaches zero drop out entirely (a true group fold, not an
    * upsert). Cost is O(|changes| + |touched keys|): the snapshot is
    * never rescanned, which is the whole point at a 100 TB table whose
    * commits touch a sliver — the maintained view stays exact
    * (spec-proven equal to the from-scratch rollup after every commit).
    */
  def maintainSums(spark: SparkSession, table: String, matAgg: DataFrame,
                   fromSeq: Long, toSeq: Long,
                   keyCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val delta = diffSnapshots(spark, table, fromSeq, toSeq)
      .withColumn("sign", when(col("change") === "insert", lit(1L)).otherwise(lit(-1L)))
    val dAggs = sum(col("sign")).as("n_rows") +:
      sumCols.map(c =>
        sum(col(c).cast("decimal(38,0)") * col("sign")).cast("long").as(s"${c}_sum"))
    val dAgg = delta.groupBy(keyCols.map(col): _*).agg(dAggs.head, dAggs.tail: _*)
    foldSums(matAgg, dAgg, keyCols, sumCols)
  }

  /** The abelian-group MERGE of two keyed aggregates in [[fullSums]]'s
    * schema (counts/sums may be signed on the delta side): per-key
    * component-wise addition through a full-outer join, keys whose
    * count reaches zero dropping out. [[maintainSums]] folds a CDC delta
    * through it; any other delta producer in [[fullSums]]'s schema can too.
    */
  def foldSums(matAgg: DataFrame, deltaAgg: DataFrame,
               keyCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val measures = "n_rows" +: sumCols.map(c => s"${c}_sum")
    val d = deltaAgg.select(
      (keyCols.map(col) ++ measures.map(c => col(c).as(s"d_$c"))): _*)
    val rolled = keyCols.map(col) ++ measures.map(c =>
      (coalesce(col(c), lit(0L)) + coalesce(col(s"d_$c"), lit(0L))).as(c))
    matAgg.join(d, keyCols, "full_outer")
      .select(rolled: _*)
      .filter(col("n_rows") > 0L)
  }

  /** Lineage chain of a snapshot, oldest first. */
  def lineage(spark: SparkSession, table: String, id: String): Seq[Snapshot] = {
    val byId = snapshots(spark, table).map(s => s.id -> s).toMap
    Iterator.iterate(byId.get(id))(cur => cur.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).map(_.get).toSeq.reverse
  }

  // ---- write-audit-publish branches (the Iceberg WAP contract) ----
  //
  // A branch is a fully isolated table root at table/branches/<name> —
  // its own snapshots/ and data/ dirs, so every existing primitive
  // (commit, latest, time travel, expiry, orphan sweep) works on it
  // verbatim, and nothing under the main root (snapshots listing,
  // sweepOrphans over table/data) can ever see or delete staged data.
  // The WAP flow: createBranch pins the fork point -> commitToBranch
  // stages writes invisible to main readers -> the AUDIT is any read of
  // readBranch (row counts, quality gates, oracle checks) -> on pass,
  // fastForward publishes the branch head to main as one carry-only
  // commit; on fail, dropBranch discards everything and main never saw a
  // byte. fastForward is FAST-FORWARD-ONLY: if main advanced past the
  // recorded fork point it refuses loudly — divergent history needs an
  // explicit rebase decision, never a silent clobber.

  private def branchRoot(table: String, name: String): String =
    new Path(new Path(table, "branches"), name).toString
  private def branchBase(table: String, name: String): Path =
    new Path(branchRoot(table, name), "base.json")

  /** Fork a branch at the current main head. Collision-safe like tags:
    * the base file is created with overwrite = false, so two racing
    * creators of the same name get one winner and one loud failure.
    */
  def createBranch(spark: SparkSession, table: String, name: String): Snapshot = {
    require(RefName.matches(name), s"createBranch: invalid branch name '$name'")
    val base = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"createBranch: $table has no snapshot to fork"))
    val bp = branchBase(table, name)
    val fs = fsOf(spark, bp)
    fs.mkdirs(bp.getParent)
    val body = s"""{"name":"${esc(name)}","seq":${base.seq},"id":"${esc(base.id)}","eof":true}"""
    val out = fs.create(bp, false) // loud on collision
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    base
  }

  /** The (baseSeq, baseId) fork point of a branch — loud on an absent or
    * torn branch.
    */
  private def baseOf(spark: SparkSession, table: String, name: String): (Long, String) = {
    val bp = branchBase(table, name)
    val fs = fsOf(spark, bp)
    require(fs.exists(bp), s"branch '$name' does not exist in $table")
    val body = readFully(fs, bp)
    require(body.endsWith("\"eof\":true}"), s"branch '$name' base file is torn in $table")
    val s = parse(body)
    (s.seq, s.id)
  }

  /** Stage a commit on a branch — a full snapshot under the branch root,
    * INVISIBLE to every main-root reader. Returns the branch snapshot.
    */
  def commitToBranch(spark: SparkSession, table: String, name: String,
                     df: DataFrame, op: String): Snapshot = {
    baseOf(spark, table, name) // loud on absent branch
    commit(spark, branchRoot(table, name), df, op)
  }

  /** Branch head: the branch's own latest staged snapshot, or the main
    * fork-point snapshot when nothing is staged yet (a fresh branch reads
    * as its base, the Iceberg branch semantic).
    */
  def branchHead(spark: SparkSession, table: String, name: String): Snapshot = {
    val (baseSeq, baseId) = baseOf(spark, table, name)
    latest(spark, branchRoot(table, name)).getOrElse {
      val snap = snapshotAt(spark, table, baseSeq).getOrElse(
        throw new IllegalArgumentException(
          s"branchHead: branch '$name' base seq $baseSeq no longer resolves in $table"))
      require(snap.id == baseId,
        s"branchHead: branch '$name' forked from ${baseId} but seq $baseSeq now holds ${snap.id}")
      snap
    }
  }

  /** Read a branch — the audit surface of the WAP flow. */
  def readBranch(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, branchHead(spark, table, name))

  /** PUBLISH: fast-forward main to the branch head as one carry-only
    * main commit (every data file copied byte-for-byte, the rollback
    * idiom — cost is a file copy, never a rewrite). Refuses loudly when
    * main has advanced past the branch's fork point (fast-forward-only),
    * and when the branch has nothing staged (publishing a no-op is
    * almost certainly a flow bug). The branch itself is left in place —
    * dropping it is an explicit [[dropBranch]], like retagging.
    */
  def fastForward(spark: SparkSession, table: String, name: String): Snapshot = {
    val (baseSeq, baseId) = baseOf(spark, table, name)
    val head = latest(spark, branchRoot(table, name)).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward: branch '$name' has no staged commit in $table"))
    val mainHead = latest(spark, table).getOrElse(
      throw new IllegalArgumentException(s"fastForward: $table has no snapshot"))
    require(mainHead.seq == baseSeq && mainHead.id == baseId,
      s"fastForward: main advanced to seq ${mainHead.seq} (${mainHead.id}) past branch " +
        s"'$name' fork point seq $baseSeq ($baseId) — rebase the branch explicitly")
    val hc = conf(spark)
    val hd = new Path(head.path)
    val fs = hd.getFileSystem(hc)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val dd = dataDir(table, id)
    fs.mkdirs(dd)
    fs.listStatus(hd).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(dd, st.getPath.getName), false, hc)
      }
    val snap = publish(spark, table, dd, id, mainHead.id, mainHead.seq + 1, "wap_publish")
    require(snap.rows == head.rows,
      s"fastForward: row count ${snap.rows} != branch head ${head.rows} in $table")
    snap
  }

  /** Discard a branch and every byte it staged (the audit-fail arm);
    * returns whether it existed. Main history is untouched by
    * construction — the branch root held everything.
    */
  def dropBranch(spark: SparkSession, table: String, name: String): Boolean = {
    require(RefName.matches(name), s"dropBranch: invalid branch name '$name'")
    val root = new Path(branchRoot(table, name))
    val fs = fsOf(spark, root)
    fs.exists(root) && fs.delete(root, true)
  }
}
