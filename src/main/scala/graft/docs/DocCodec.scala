package graft.docs

import graft.model.{Doc, Span, TileRow}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

import java.nio.{ByteBuffer, ByteOrder}
import java.util.Base64

/** Codec between the interleaved text+media document table
  * (doc_id, spans: array<struct<kind,text,media_ref,offset>>) and decoded
  * raster tiles. One document per tile; each doc interleaves a text metadata
  * span with exactly one media span whose media_ref carries the tile header
  * and either the raster itself or the key of its blob:
  *
  *   raster://{gridId}/{tileY}/{tileX}?gdx&gdy&sx0&sy0&tw&th&vw&vh&d=<base64 f64 LE>
  *   raster://{gridId}/{tileY}/{tileX}?gdx&gdy&sx0&sy0&tw&th&vw&vh&blob=<key>
  *
  * The codec never reorders or mutates existing spans; engine outputs are
  * appended as NEW text spans with fresh offsets (span-sequence invariant).
  */
object DocCodec {

  // Encoders derived once per JVM: `spark.implicits._` would derive them
  // again by reflection on every call.
  private implicit val TileEnc: Encoder[TileRow] = Encoders.product[TileRow]
  private implicit val DocEnc: Encoder[Doc] = Encoders.product[Doc]
  private implicit val KeyBytesEnc: Encoder[(String, Array[Byte])] =
    Encoders.product[(String, Array[Byte])]
  private implicit val StringEnc: Encoder[String] = Encoders.STRING
  private implicit val DocFeaturesEnc: Encoder[(String, String, Seq[Span], Option[Seq[String]])] =
    Encoders.product[(String, String, Seq[Span], Option[Seq[String]])]

  private val Scheme = "raster://"
  private val InlinePayload = "&d="
  /** The header's query fields, all required, in the order they are written. */
  private val HeaderFields = Array("gdx", "gdy", "sx0", "sy0", "tw", "th", "vw", "vh")

  private def headerOf(t: TileRow): String =
    s"$Scheme${t.gridId}/${t.tileY}/${t.tileX}?gdx=${t.gdx}&gdy=${t.gdy}" +
      s"&sx0=${t.sx0}&sy0=${t.sy0}&tw=${t.tw}&th=${t.th}&vw=${t.vw}&vh=${t.vh}"

  /** Build a tile from its media_ref header (any fields after the eight
    * required ones, such as `blob=`, are ignored) and its f64 LE payload.
    * The one place a [[TileRow]] is decoded: a malformed header, a missing
    * field or a payload that is not vw*vh*8 bytes throws
    * IllegalArgumentException naming the grid, the tile and the reason.
    */
  def tileOf(header: String, payload: Array[Byte]): TileRow = {
    val q = header.indexOf('?')
    val path =
      if (header.startsWith(Scheme) && q > 0) header.substring(Scheme.length, q).split('/')
      else Array.empty[String]
    val tileY = path.lift(1).flatMap(_.toIntOption)
    val tileX = path.lift(2).flatMap(_.toIntOption)
    if (path.length != 3 || tileY.isEmpty || tileX.isEmpty)
      throw new IllegalArgumentException(s"bad raster tile: malformed media_ref header '$header'")
    def bad(reason: String) = new IllegalArgumentException(
      s"bad raster tile: grid ${path(0)} tile (${tileX.get}, ${tileY.get}): $reason")
    val v = new Array[Int](HeaderFields.length)
    val seen = new Array[Boolean](HeaderFields.length)
    for (kv <- header.substring(q + 1).split('&'); eq = kv.indexOf('='); if eq > 0) {
      val i = HeaderFields.indexOf(kv.substring(0, eq))
      if (i >= 0) {
        v(i) = kv.substring(eq + 1).toIntOption.getOrElse(throw bad(s"field '$kv' is not an integer"))
        seen(i) = true
      }
    }
    seen.indexOf(false) match {
      case -1 =>
      case i  => throw bad(s"header lacks ${HeaderFields(i)}")
    }
    val Array(gdx, gdy, sx0, sy0, tw, th, vw, vh) = v
    if (payload == null) throw bad("no payload")
    val want = vw.toLong * vh * 8
    if (payload.length != want) throw bad(s"payload has ${payload.length} bytes, expected vw*vh*8 = $want")
    val values = new Array[Double](vw * vh)
    ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(values)
    TileRow(path(0), tileX.get, tileY.get, sx0, sy0, tw, th, vw, vh, gdx, gdy, values)
  }

  def valuesToBytes(values: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(values)
    bb.array()
  }

  def mediaRef(t: TileRow): String =
    headerOf(t) + InlinePayload + Base64.getEncoder.encodeToString(valuesToBytes(t.values))

  /** A doc of the tile's text metadata span followed by the media span `ref`. */
  private def docOf(t: TileRow, ref: String): Doc = {
    val meta = s"""{"grid":"${t.gridId}","tile":[${t.tileX},${t.tileY}],""" +
      s""""w":${t.tw},"h":${t.th},"gdx":${t.gdx},"gdy":${t.gdy}}"""
    Doc(s"g${t.gridId}-t${t.tileY}_${t.tileX}",
      Seq(Span("text", meta, "", 0), Span("media", "", ref, 1)))
  }

  def tileToDoc(t: TileRow): Doc = docOf(t, mediaRef(t))

  def docToTiles(d: Doc): Iterator[TileRow] =
    d.spans.iterator.filter(s => s.kind == "media" && s.media_ref.startsWith(Scheme))
      .map { s =>
        val ref = s.media_ref
        ref.indexOf(InlinePayload) match {
          case -1 => tileOf(ref, null)
          case i  => tileOf(ref.substring(0, i),
            Base64.getDecoder.decode(ref.substring(i + InlinePayload.length)))
        }
      }

  def encode(tiles: Dataset[TileRow]): Dataset[Doc] = tiles.map(tileToDoc)

  /** The media spans of `docs` whose media_ref is a raster tile. */
  private def rasterSpans(docs: Dataset[Doc]): DataFrame =
    docs.toDF()
      .select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media" && substring(col("s.media_ref"), 1, Scheme.length) === Scheme)

  /** Columnar decode: slice the (small) metadata prefix and the base64
    * payload with byte-level substring ops and unbase64 natively, then build
    * each tile in [[tileOf]]. Keeps the ~1MB media_ref out of UTF-16
    * Strings (the payload travels as UTF8String bytes -> binary end to end).
    */
  def decode(docs: Dataset[Doc]): Dataset[TileRow] = {
    val ref = col("s.media_ref")
    // a span with no inline payload keeps its whole ref as the header and
    // a null payload, so tileOf names its tile
    val at = instr(ref, InlinePayload)
    rasterSpans(docs)
      .select(
        when(at > 0, substring(ref, lit(1), at - 1)).otherwise(ref),
        when(at > 0, unbase64(expr(
          s"substring(s.media_ref, instr(s.media_ref, '$InlinePayload') + ${InlinePayload.length})"))))
      .as[(String, Array[Byte])]
      .map { case (meta, payload) => tileOf(meta, payload) }
  }

  // ---- external (blob-store) payloads ------------------------------------
  // At scale the raster bytes do NOT travel inside media_ref: the span
  // carries a short reference ("...&blob=<key>") and the payload lives in a
  // sidecar table (blob_ref, payload BINARY). Parquet then stores the
  // raster as a real binary column: ~25% fewer bytes than base64, no
  // UTF8String inflation in the scan, and the multi-MB per-task working
  // sets that thrashed shared cache at 16 threads disappear.

  def blobKey(t: TileRow): String = s"${t.gridId}/${t.tileY}/${t.tileX}"

  def mediaRefExternal(t: TileRow): String = headerOf(t) + s"&blob=${blobKey(t)}"

  def tileToDocExternal(t: TileRow): Doc = docOf(t, mediaRefExternal(t))

  /** Doc table (exact contract schema, short media_refs) + blob sidecar. */
  def encodeExternal(tiles: Dataset[TileRow]): (Dataset[Doc], DataFrame) = {
    val docs = tiles.map(tileToDocExternal)
    val blobs = tiles.map(t => (blobKey(t), valuesToBytes(t.values))).toDF("blob_ref", "payload")
    (docs, blobs)
  }

  /** Decode against a blob sidecar: the parsed media spans are the SMALL
    * side (a few hundred bytes per doc) and are broadcast, so the payload
    * table streams through a narrow BroadcastHashJoin — no shuffle ever
    * carries raster bytes. At 10^12 docs (where the span set outgrows a
    * broadcast) the same operator runs as a bucketed sort-merge join with
    * both tables bucketed by blob_ref; the plan shape below is the
    * broadcast fast path.
    */
  def decodeExternal(docs: Dataset[Doc], blobs: DataFrame): Dataset[TileRow] = {
    val refs = rasterSpans(docs)
      .select(regexp_extract(col("s.media_ref"), "blob=([^&]+)", 1).as("blob_ref"),
        col("s.media_ref").as("ref"))
    blobs.join(broadcast(refs), Seq("blob_ref"))
      .select(col("ref"), col("payload"))
      .as[(String, Array[Byte])]
      .map { case (ref, payload) => tileOf(ref, payload) }
  }

  /** Append GeoJSON features as new text spans on every doc of the grid,
    * after the existing spans, in the given deterministic order. Existing
    * spans are untouched (the per-row span-sequence invariant).
    */
  def appendFeatures(docs: Dataset[Doc], features: Dataset[(String, Seq[String])]): Dataset[Doc] = {
    val byGrid = features.withColumnRenamed("_1", "gridId").withColumnRenamed("_2", "feats")
    docs.toDF().withColumn("gridId", regexp_extract(col("doc_id"), "^g(.*)-t\\d+_\\d+$", 1))
      .join(byGrid, Seq("gridId"), "left")
      .as[(String, String, Seq[Span], Option[Seq[String]])]
      .map { case (_, docId, spans, feats) =>
        val base = spans.map(_.offset).foldLeft(-1)(math.max) + 1
        val extra = feats.getOrElse(Nil).zipWithIndex.map { case (f, i) =>
          Span("text", f, "", base + i)
        }
        Doc(docId, spans ++ extra)
      }
  }

  /** Span-sequence invariant: every original doc's span sequence must be an
    * exact prefix (kind, text, media_ref, offset order) of the output doc's.
    * Returns violations (empty == invariant holds).
    */
  def spanInvariantViolations(before: Dataset[Doc], after: Dataset[Doc]): Dataset[String] =
    before.joinWith(after, before("doc_id") === after("doc_id"), "full_outer")
      .flatMap { case (b, a) =>
        if (b == null) Some(s"unexpected doc ${a.doc_id}")
        else if (a == null) Some(s"missing doc ${b.doc_id}")
        else {
          val bs = b.spans
          val as = a.spans.take(bs.length)
          if (bs != as) Some(s"span prefix mutated for ${b.doc_id}")
          else if (a.spans.map(_.offset) != a.spans.map(_.offset).sorted)
            Some(s"span offsets not increasing for ${a.doc_id}")
          else None
        }
      }
}
