package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QDef
import graft.sources.TableLoader._

/** Multimodal column support (SURVEY.md §2.9 "multimodal columns" +
  * §1.2 OLE Object → BinaryType; driver mandate).
  *
  * Media payloads are opaque `BinaryType` columns with a typed metadata
  * struct riding alongside. Two tiers:
  *
  *   - REAL codecs for public pure-JVM-parseable formats — 24bpp BMP,
  *     PCM16 WAV, animated GIF89a, PNG, and animated APNG
  *     ([[graft.media.BmpCodec]]/[[graft.media.WavCodec]]/
  *     [[graft.media.GifCodec]]/[[graft.media.PngCodec]]/
  *     [[graft.media.ApngCodec]], no native libs): the decode /
  *     resize / audio-stats / frame-sampling queries encode
  *     deterministic fixtures, parse the BYTES back, and are
  *     ORACLE-CHECKED against DuckDB recomputing the expected
  *     statistics from the generative formulas
  *     ([[graft.media.MediaGen]]) — the byte layout itself is under
  *     hash test. Animated frame decode is covered twice for real
  *     (palette frames via GIF, true-color frames via APNG with
  *     sampled-only inflation), so every media lane — still image,
  *     audio, animation/keyframe — has a genuine codec path.
  *   - A PER-KIND DISPATCH tier (qMultimodalFeatures /
  *     qMultimodalFrames / resizeMedia): a mixed-kind media table
  *     (BMP + PNG stills, PCM16 WAV audio, APNG video, assigned by
  *     doc_id % 4) whose feature / frame-sample / thumbnail lanes
  *     SNIFF the container from the payload's magic bytes and route
  *     to the matching real codec — the heterogeneous-corpus shape a
  *     production pipeline has, where one scan meets many formats.
  *     Both queries are oracle-checked against the per-kind MediaGen
  *     closed forms, so the dispatch itself sits under the hash gate.
  *     A payload no codec claims is REJECTED with the sniffed prefix
  *     (never fake-decoded); adding a format (e.g. a native H.264
  *     bridge) extends `sniffCodec` + one decode arm, not the
  *     pipeline.
  */
object Multimodal {

  /** Typed metadata carried with every media payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("byte_len", LongType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))),
      nullable = false)))

  /** Container sniffing — dispatch from the BYTES, not trusted
    * metadata (an ingest job's mime column can lie; magic numbers
    * don't): 'BM' → bmp; the 8-byte PNG signature → apng when an acTL
    * chunk precedes the first IDAT, else png; RIFF….WAVE → wav;
    * 'GIF8' → gif (r11 review: GifCodec was a fully supported codec
    * this dispatch never routed to, so GIF payloads in a mixed corpus
    * rejected as unknown). Anything else is rejected with the
    * offending prefix — an opaque container this JVM cannot parse
    * must fail loudly, never fake-decode. */
  def sniffCodec(p: Array[Byte]): String = {
    def pngSig: Boolean = p.length >= 8 &&
      (p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'
    if (p.length >= 4 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == '8') "gif"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
    else if (pngSig) {
      // chunk walk: [u32 len][4-byte type][data][crc] from offset 8;
      // acTL must appear before IDAT to mark an animated PNG
      var off = 8
      var out: String = null
      while (out == null && off + 8 <= p.length) {
        val len = ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
          ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
        val t = new String(p, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (t == "acTL") out = "apng"
        else if (t == "IDAT" || t == "IEND") out = "png"
        // a corrupt negative/huge length must terminate the walk (the
        // decoder will reject the stream properly), never spin it —
        // and the next offset is computed in Long: a large positive
        // corrupt len would overflow `off + 12 + len` to a NEGATIVE
        // Int, turning the designed terminate-and-reject into an
        // ArrayIndexOutOfBoundsException on p(off)
        else if (len < 0) out = "png"
        else {
          val next = off.toLong + 12L + len.toLong
          if (next + 8 > p.length) out = "png" else off = next.toInt
        }
      }
      if (out == null) "png" else out
    } else if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' &&
      p(2) == 'F' && p(3) == 'F' && p(8) == 'W' && p(9) == 'A' &&
      p(10) == 'V' && p(11) == 'E') "wav"
    else throw new IllegalArgumentException(
      "multimodal: unknown container (prefix " +
        p.take(8).map(b => f"${b & 0xFF}%02x").mkString(" ") +
        ") — no JVM codec claims it; route through a native bridge " +
        "or exclude the row")
  }

  /** Real per-kind media table: every document becomes one media row
    * whose payload is a genuinely ENCODED container — doc_id % 4 →
    * 24bpp BMP still, PNG still, PCM16 WAV clip, animated APNG —
    * with the metadata an ingest job would record (image geometry,
    * audio/video duration). Pure map-side fan-out, no shuffle. */
  def mediaTable(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(mediaSchema)
    import graft.media.MediaGen
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val row: org.apache.spark.sql.Row = (id % 4) match {
          case 0 =>
            val (w, h) = MediaGen.imageDims(id)
            val p = MediaGen.imageBytes(id)
            org.apache.spark.sql.Row(id, "image", p,
              org.apache.spark.sql.Row(
                p.length.toLong, "image/bmp", w, h, null))
          case 1 =>
            val (w, h) = MediaGen.pngDims(id)
            val p = MediaGen.pngBytes(id)
            org.apache.spark.sql.Row(id, "image", p,
              org.apache.spark.sql.Row(
                p.length.toLong, "image/png", w, h, null))
          case 2 =>
            val p = MediaGen.wavBytes(id)
            // sample count from the encoded payload's own layout
            // (44-byte canonical PCM header, 2 bytes/sample) — the
            // old wavSamples(id).length re-tabulated every sample a
            // second time just for a count (r11 review)
            val n = (p.length - 44) / 2
            val dur = n * 1000L / MediaGen.wavRate(id)
            org.apache.spark.sql.Row(id, "audio", p,
              org.apache.spark.sql.Row(
                p.length.toLong, "audio/wav", null, null, dur))
          case _ =>
            val (w, h) = MediaGen.apngDims(id)
            val p = MediaGen.apngBytes(id)
            // 100 ms/frame: the fcTL delay the encoder writes (1/10 s)
            val dur = MediaGen.apngFrameCount(id) * 100L
            org.apache.spark.sql.Row(id, "video", p,
              org.apache.spark.sql.Row(
                p.length.toLong, "image/apng", w, h, dur))
        }
        row
      }
    }(enc)
  }

  private val featureRowSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("acc", LongType, nullable = false),
    StructField("n_units", LongType, nullable = false)))

  /** Batch feature extraction with REAL per-kind decode: mapPartitions
    * over the payload column (the Scala analog of `mapInPandas` batch
    * decode — each partition decodes independently, no shuffle, which
    * is how a 1000-executor cluster fans out codec work at 100 TB).
    * The codec is SNIFFED from the bytes; geometry/duration come from
    * the DECODE, not the metadata column. Emits integer accumulators
    * (acc, n_units) so the float math happens once, in the query:
    * stills/video acc = Σ channel values over the (first) frame,
    * n_units = 3·w·h; audio acc = Σ s², n_units = n samples. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureRowSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val p = r.getAs[Array[Byte]](1)
          sniffCodec(p) match {
            case "bmp" =>
              val (w, h, rgb) = graft.media.BmpCodec.decode(p)
              org.apache.spark.sql.Row(id, "bmp", w, h, null,
                sumOf(rgb), 3L * w * h)
            case "png" =>
              val png = graft.media.PngCodec.decode(p)
              org.apache.spark.sql.Row(id, "png", png.width, png.height,
                null, sumOf(png.rgb), 3L * png.width * png.height)
            case "wav" =>
              val wav = graft.media.WavCodec.decode(p)
              var sq = 0L
              var i = 0
              while (i < wav.samples.length) {
                val v = wav.samples(i).toLong
                sq += v * v
                i += 1
              }
              org.apache.spark.sql.Row(id, "wav", null, null,
                wav.samples.length * 1000L / wav.sampleRate,
                sq, wav.samples.length.toLong)
            case "apng" =>
              // feature frame = frame 0 only; the container walk still
              // validates every chunk, but later frames stay deflated.
              // Duration is the SUM of the decoded fcTL delays — the
              // old frameCount×100ms assumed the fixture encoder's
              // frame rate and was silently wrong for any real-corpus
              // APNG (r11 review)
              val (w, h, _, frames, delays) = graft.media.ApngCodec
                .decodeSampled(p, (idx, _) => idx == 0)
              org.apache.spark.sql.Row(id, "apng", w, h, delays.sum,
                sumOf(frames.head._2), 3L * w * h)
            case "gif" =>
              val gif = graft.media.GifCodec.decode(p)
              var acc = 0L
              val f0 = gif.frames.head
              var i = 0
              while (i < f0.length) {
                val (cr, cg, cb) = gif.palette(f0(i) & 0xff)
                acc += cr + cg + cb
                i += 1
              }
              org.apache.spark.sql.Row(id, "gif", gif.width, gif.height,
                gif.delaysCs.map(_ * 10L).sum,
                acc, 3L * gif.width * gif.height)
            case other => throw new IllegalArgumentException(
              s"multimodal: extractFeatures has no decode arm for " +
                s"sniffed codec '$other'")
          }
        }
      }(enc)
  }

  private def sumOf(vals: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < vals.length) { s += vals(i); i += 1 }
    s
  }

  /** Build a media table from documents: payload = utf8 bytes of text
    * (the fixtures ship no binary column — SURVEY §2.9), metadata
    * populated the way an ingest job would. */
  def mediaFromDocuments(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        length(encode(col("text"), "UTF-8")).cast("bigint").as("byte_len"),
        lit("application/octet-stream").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("bigint").as("duration_ms")).as("meta"))

  /** Binary-column metadata query: byte length + content hashes over
    * BinaryType payloads (md5/sha2 on binary are the Access OLE-column
    * operations). Oracle hashes the same bytes from the text column. */
  val qMultimodalMeta: QDef = QDef(
    "q_multimodal_meta",
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  md5(text) AS payload_md5,
      |  sha256(text) AS payload_sha256
      |FROM documents
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    mediaFromDocuments(s, d)
      .select(
        col("media_id"),
        col("meta.byte_len").as("byte_len"),
        md5(col("payload")).as("payload_md5"),
        sha2(col("payload"), 256).as("payload_sha256"))
      .orderBy(col("media_id"))
  }

  /** Heterogeneous feature extraction, ORACLE-CHECKED: the mixed
    * BMP/PNG/WAV/APNG media table through the sniffing dispatch of
    * [[extractFeatures]] — one scan meets four containers; geometry,
    * duration, and the per-kind primary feature (channel mean for
    * stills/video frame 0, RMS for audio) all come from REAL decodes
    * of the encoded bytes. The oracle recomputes every branch from
    * MediaGen's closed forms, so the dispatch AND each codec's byte
    * handling sit under the driver's hash gate. */
  val qMultimodalFeatures: QDef = QDef(
    "q_multimodal_features",
    """WITH b0 AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 3) % 7 AS h
      |  FROM documents WHERE doc_id % 4 = 0),
      |b1 AS (SELECT doc_id, w, h, unnest(range(3 * w * h)) AS j FROM b0),
      |bmp AS (
      |  SELECT doc_id AS media_id, 'bmp' AS codec,
      |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |    CAST(NULL AS BIGINT) AS duration_ms,
      |    ROUND(SUM((doc_id * 31 + j) % 256) * 1.0 / (3 * w * h), 4)
      |      AS f0
      |  FROM b1 GROUP BY doc_id, w, h),
      |p0 AS (
      |  SELECT doc_id, 5 + doc_id % 8 AS w, 5 + (doc_id // 2) % 7 AS h
      |  FROM documents WHERE doc_id % 4 = 1),
      |p1 AS (SELECT doc_id, w, h, unnest(range(3 * w * h)) AS j FROM p0),
      |png AS (
      |  SELECT doc_id AS media_id, 'png' AS codec,
      |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |    CAST(NULL AS BIGINT) AS duration_ms,
      |    ROUND(SUM((doc_id * 17 + j * 3) % 256) * 1.0 / (3 * w * h), 4)
      |      AS f0
      |  FROM p1 GROUP BY doc_id, w, h),
      |w0 AS (
      |  SELECT doc_id, 8000 + (doc_id % 5) * 2000 AS rate,
      |    200 + doc_id % 300 AS n
      |  FROM documents WHERE doc_id % 4 = 2),
      |w1 AS (SELECT doc_id, rate, n, unnest(range(n)) AS j FROM w0),
      |w2 AS (
      |  SELECT doc_id, rate, n,
      |    (doc_id * 7 + j * 13) % 65536 - 32768 AS s
      |  FROM w1),
      |wav AS (
      |  SELECT doc_id AS media_id, 'wav' AS codec,
      |    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
      |    CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
      |    ROUND(SQRT(SUM(s * s) * 1.0 / n), 4) AS f0
      |  FROM w2 GROUP BY doc_id, rate, n),
      |a0 AS (
      |  SELECT doc_id, 7 + doc_id % 6 AS w, 5 + (doc_id // 2) % 6 AS h,
      |    2 + doc_id % 4 AS n
      |  FROM documents WHERE doc_id % 4 = 3),
      |a1 AS (SELECT doc_id, w, h, n, unnest(range(3 * w * h)) AS j FROM a0),
      |apng AS (
      |  SELECT doc_id AS media_id, 'apng' AS codec,
      |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |    CAST(n * 100 AS BIGINT) AS duration_ms,
      |    ROUND(SUM((doc_id * 13 + j * 7) % 256) * 1.0 / (3 * w * h), 4)
      |      AS f0
      |  FROM a1 GROUP BY doc_id, w, h, n)
      |SELECT * FROM (
      |  SELECT * FROM bmp UNION ALL SELECT * FROM png
      |  UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM apng)
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    extractFeatures(mediaTable(s, d))
      .select(
        col("media_id"), col("codec"), col("width"), col("height"),
        col("duration_ms"),
        when(col("codec") === "wav",
          round(sqrt(col("acc") * lit(1.0) / col("n_units")), 4))
          .otherwise(
            round(col("acc") * lit(1.0) / col("n_units"), 4)).as("f0"))
      .orderBy(col("media_id"))
  }

  /** Batch thumbnail pass with real per-kind transforms: stills
    * decode → nearest-neighbor resize to 8×8 → RE-ENCODE in their own
    * container; audio decimates to every 2nd sample (duration halves
    * at the same rate); video keeps only even-index frames and
    * re-encodes the APNG. Payload replaced, metadata updated from the
    * transform, partition-parallel, no shuffle — the write-back shape
    * a thumbnailing pass needs. */
  def resizeMedia(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(mediaSchema)
    media
      .select(col("media_id"), col("kind"), col("payload"), col("meta"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val kind = r.getString(1)
          val p = r.getAs[Array[Byte]](2)
          val meta = r.getAs[org.apache.spark.sql.Row](3)
          val mime = meta.getString(1)
          sniffCodec(p) match {
            case "bmp" =>
              val (w, h, rgb) = graft.media.BmpCodec.decode(p)
              val out = graft.media.BmpCodec.encode(8, 8,
                graft.media.BmpCodec.resizeNearest(w, h, rgb, 8, 8))
              org.apache.spark.sql.Row(id, kind, out,
                org.apache.spark.sql.Row(
                  out.length.toLong, mime, 8, 8, null))
            case "png" =>
              val png = graft.media.PngCodec.decode(p)
              val out = graft.media.PngCodec.encode(8, 8,
                graft.media.BmpCodec.resizeNearest(
                  png.width, png.height, png.rgb, 8, 8))
              org.apache.spark.sql.Row(id, kind, out,
                org.apache.spark.sql.Row(
                  out.length.toLong, mime, 8, 8, null))
            case "wav" =>
              val wav = graft.media.WavCodec.decode(p)
              val dec = Array.tabulate((wav.samples.length + 1) / 2)(i =>
                wav.samples(2 * i))
              val out = graft.media.WavCodec.encode(wav.sampleRate, dec)
              org.apache.spark.sql.Row(id, kind, out,
                org.apache.spark.sql.Row(
                  out.length.toLong, mime, null, null,
                  dec.length * 1000L / wav.sampleRate))
            case "apng" =>
              // sampled decode: the odd frames this arm drops are
              // never inflated (r11 review — decode-then-discard paid
              // the dominant per-byte cost for frames thrown away);
              // duration = decoded fcTL delays of the KEPT frames
              val (w, h, _, frames, delays) = graft.media.ApngCodec
                .decodeSampled(p, (idx, _) => idx % 2 == 0)
              val kept = frames.map(_._2).toArray
              val keptMs = frames.map { case (fi, _) => delays(fi) }.sum
              val out = graft.media.ApngCodec.encode(w, h, kept)
              org.apache.spark.sql.Row(id, kind, out,
                org.apache.spark.sql.Row(
                  out.length.toLong, mime, w, h, keptMs))
            case "gif" =>
              // animated: frame-decimation like the apng arm (keep
              // even frames, re-encode; GIF "resize" is temporal)
              val gif = graft.media.GifCodec.decode(p)
              val kept = gif.frames.zipWithIndex
                .collect { case (f, i) if i % 2 == 0 => f }
              val keptCs = gif.delaysCs.zipWithIndex
                .collect { case (c, i) if i % 2 == 0 => c }
              // per-frame delays survive the re-encode, so the
              // payload's real duration equals the metadata below
              // even for variable-delay GIFs (r12 advice — the old
              // uniform-head-delay encode diverged from the reported
              // keptCs sum)
              val out = graft.media.GifCodec.encode(
                gif.width, gif.height, kept, keptCs)
              org.apache.spark.sql.Row(id, kind, out,
                org.apache.spark.sql.Row(
                  out.length.toLong, mime, gif.width, gif.height,
                  keptCs.map(_ * 10L).sum))
            case other => throw new IllegalArgumentException(
              s"multimodal: resizeMedia has no decode arm for " +
                s"sniffed codec '$other'")
          }
        }
      }(enc)
  }

  /** Frame sampling with real per-kind decode — the 1→N flatMap batch
    * shape of a keyframe extractor: video (APNG) emits every
    * `stride`-th frame, and ONLY those frames are ever inflated (the
    * container walk validates the rest; at 100 TB the inflate is the
    * per-byte cost, so stride-k cuts codec work k×, not just output);
    * stills emit their single frame as frame 0; audio has no visual
    * frames and emits nothing. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("codec", StringType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("acc", LongType, nullable = false),
      StructField("n_units", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val p = r.getAs[Array[Byte]](1)
          sniffCodec(p) match {
            case "bmp" =>
              val (w, h, rgb) = graft.media.BmpCodec.decode(p)
              Iterator.single(org.apache.spark.sql.Row(
                id, "bmp", 1, 0, sumOf(rgb), 3L * w * h))
            case "png" =>
              val png = graft.media.PngCodec.decode(p)
              Iterator.single(org.apache.spark.sql.Row(
                id, "png", 1, 0, sumOf(png.rgb),
                3L * png.width * png.height))
            case "wav" => Iterator.empty
            case "apng" =>
              val (w, h, n, frames, _) = graft.media.ApngCodec
                .decodeSampled(p, (idx, _) => idx % stride == 0)
              frames.iterator.map { case (fi, rgb) =>
                org.apache.spark.sql.Row(
                  id, "apng", n, fi, sumOf(rgb), 3L * w * h)
              }
            case "gif" =>
              val gif = graft.media.GifCodec.decode(p)
              gif.frames.iterator.zipWithIndex
                .filter(_._2 % stride == 0)
                .map { case (f, fi) =>
                  var acc = 0L
                  var i = 0
                  while (i < f.length) {
                    val (cr, cg, cb) = gif.palette(f(i) & 0xff)
                    acc += cr + cg + cb
                    i += 1
                  }
                  org.apache.spark.sql.Row(
                    id, "gif", gif.frames.length, fi, acc,
                    3L * gif.width * gif.height)
                }
            case other => throw new IllegalArgumentException(
              s"multimodal: sampleFrames has no decode arm for " +
                s"sniffed codec '$other'")
          }
        }
      }(enc)
  }

  /** Frame-sample query (stride 2) over the mixed media table,
    * ORACLE-CHECKED: stills contribute their single frame, APNG
    * videos their even-index frames, audio nothing — per-frame f0 =
    * channel mean, recomputed by the oracle from the per-kind closed
    * forms (frame f of video uses the `f·19` term of the APNG pixel
    * formula). */
  val qMultimodalFrames: QDef = QDef(
    "q_multimodal_frames",
    """WITH b0 AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 3) % 7 AS h
      |  FROM documents WHERE doc_id % 4 = 0),
      |b1 AS (SELECT doc_id, w, h, unnest(range(3 * w * h)) AS j FROM b0),
      |bmp AS (
      |  SELECT doc_id AS media_id, 'bmp' AS codec,
      |    CAST(1 AS INT) AS n_frames, CAST(0 AS INT) AS frame_idx,
      |    ROUND(SUM((doc_id * 31 + j) % 256) * 1.0 / (3 * w * h), 4)
      |      AS f0
      |  FROM b1 GROUP BY doc_id, w, h),
      |p0 AS (
      |  SELECT doc_id, 5 + doc_id % 8 AS w, 5 + (doc_id // 2) % 7 AS h
      |  FROM documents WHERE doc_id % 4 = 1),
      |p1 AS (SELECT doc_id, w, h, unnest(range(3 * w * h)) AS j FROM p0),
      |png AS (
      |  SELECT doc_id AS media_id, 'png' AS codec,
      |    CAST(1 AS INT) AS n_frames, CAST(0 AS INT) AS frame_idx,
      |    ROUND(SUM((doc_id * 17 + j * 3) % 256) * 1.0 / (3 * w * h), 4)
      |      AS f0
      |  FROM p1 GROUP BY doc_id, w, h),
      |a0 AS (
      |  SELECT doc_id, 7 + doc_id % 6 AS w, 5 + (doc_id // 2) % 6 AS h,
      |    CAST(2 + doc_id % 4 AS INT) AS n
      |  FROM documents WHERE doc_id % 4 = 3),
      |af AS (
      |  SELECT doc_id, w, h, n,
      |    CAST(unnest(range(n)) AS INT) AS frame_idx
      |  FROM a0),
      |asamp AS (SELECT * FROM af WHERE frame_idx % 2 = 0),
      |a1 AS (
      |  SELECT doc_id, w, h, n, frame_idx,
      |    unnest(range(3 * w * h)) AS j
      |  FROM asamp),
      |apng AS (
      |  SELECT doc_id AS media_id, 'apng' AS codec, n AS n_frames,
      |    frame_idx,
      |    ROUND(SUM((doc_id * 13 + frame_idx * 19 + j * 7) % 256) * 1.0
      |      / (3 * w * h), 4) AS f0
      |  FROM a1 GROUP BY doc_id, w, h, n, frame_idx)
      |SELECT * FROM (
      |  SELECT * FROM bmp UNION ALL SELECT * FROM png
      |  UNION ALL SELECT * FROM apng)
      |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    sampleFrames(mediaTable(s, d), stride = 2)
      .select(
        col("media_id"), col("codec"), col("n_frames"), col("frame_idx"),
        round(col("acc") * lit(1.0) / col("n_units"), 4).as("f0"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  // ---------------------------------------------------------------
  // Real-codec tier (BMP / WAV, oracle-checked end-to-end)
  // ---------------------------------------------------------------

  /** doc_id → real encoded BMP payload (deterministic MediaGen pixels).
    * Pure map-side: encode work fans out per partition exactly like a
    * production thumbnail/ingest job. */
  def imageTable(s: SparkSession, d: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id, graft.media.MediaGen.imageBytes(id))
      }
    }(enc)
  }

  private val imageStatsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  private def channelSums(rgb: Array[Int]): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var p = 0
    while (p < rgb.length) {
      sr += rgb(p); sg += rgb(p + 1); sb += rgb(p + 2)
      p += 3
    }
    (sr, sg, sb)
  }

  /** Real image decode: parse the BMP bytes (header geometry, bottom-up
    * row flip, row padding) and aggregate per-channel means. The oracle
    * recomputes the SAME statistics from MediaGen's closed-form pixel
    * formula over `range()` — so a mistake anywhere in encode OR decode
    * byte handling breaks the hash, not just a unit test. */
  val qImageDecode: QDef = QDef(
    "q_image_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id // 3) % 7 AS INT) AS height
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, width, height,
      |    unnest(range(3 * width * height)) AS j
      |  FROM g),
      |p AS (
      |  SELECT doc_id, width, height, j,
      |    (doc_id * 31 + j) % 256 AS val
      |  FROM v)
      |SELECT doc_id, width, height,
      |  CAST(54 + height * ((3 * width + 3) // 4 * 4) AS BIGINT)
      |    AS byte_len,
      |  ROUND(SUM(CASE WHEN j % 3 = 0 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_r,
      |  ROUND(SUM(CASE WHEN j % 3 = 1 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_g,
      |  ROUND(SUM(CASE WHEN j % 3 = 2 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_b
      |FROM p
      |GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(imageStatsSchema)
    imageTable(s, d).mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val (w, h, rgb) = graft.media.BmpCodec.decode(bytes)
        val (sr, sg, sb) = channelSums(rgb)
        org.apache.spark.sql.Row(
          r.getLong(0), w, h, bytes.length.toLong, sr, sg, sb)
      }
    }(enc)
      .select(
        col("doc_id"), col("width"), col("height"), col("byte_len"),
        round(col("sum_r") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_r"),
        round(col("sum_g") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_g"),
        round(col("sum_b") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_b"))
      .orderBy(col("doc_id"))
  }

  /** Real thumbnail pass: decode → nearest-neighbor resize to 8×8 →
    * RE-ENCODE → decode the thumbnail again → per-channel means. The
    * oracle maps each output pixel to its integer-floor source position
    * and evaluates the pixel formula there, so the resample geometry
    * (⌊x2·w/8⌋, ⌊y2·h/8⌋) is hash-pinned too. */
  val qImageResize: QDef = QDef(
    "q_image_resize",
    """WITH g AS (
      |  SELECT doc_id,
      |    8 + doc_id % 9 AS w,
      |    8 + (doc_id // 3) % 7 AS h
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, w, h, unnest(range(64)) AS p
      |  FROM g),
      |m AS (
      |  SELECT doc_id,
      |    ((p // 8) * h // 8) * w + ((p % 8) * w // 8) AS src_pix
      |  FROM o)
      |SELECT doc_id,
      |  ROUND(SUM((doc_id * 31 + 3 * src_pix) % 256) * 1.0 / 64, 4)
      |    AS mean_r,
      |  ROUND(SUM((doc_id * 31 + 3 * src_pix + 1) % 256) * 1.0 / 64, 4)
      |    AS mean_g,
      |  ROUND(SUM((doc_id * 31 + 3 * src_pix + 2) % 256) * 1.0 / 64, 4)
      |    AS mean_b
      |FROM m
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    imageTable(s, d).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, rgb) = graft.media.BmpCodec.decode(r.getAs[Array[Byte]](1))
        val thumb = graft.media.BmpCodec.encode(8, 8,
          graft.media.BmpCodec.resizeNearest(w, h, rgb, 8, 8))
        val (_, _, rgb2) = graft.media.BmpCodec.decode(thumb)
        val (sr, sg, sb) = channelSums(rgb2)
        org.apache.spark.sql.Row(r.getLong(0), sr, sg, sb)
      }
    }(enc)
      .select(
        col("doc_id"),
        round(col("sum_r") * lit(1.0) / 64, 4).as("mean_r"),
        round(col("sum_g") * lit(1.0) / 64, 4).as("mean_g"),
        round(col("sum_b") * lit(1.0) / 64, 4).as("mean_b"))
      .orderBy(col("doc_id"))
  }

  /** Real audio decode: encode deterministic PCM16 WAVs, walk the RIFF
    * chunk list back off the bytes, and report rate / duration / RMS /
    * peak — oracle-checked against the closed-form sample formula. */
  val qAudioStats: QDef = QDef(
    "q_audio_stats",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
      |    CAST(200 + doc_id % 300 AS INT) AS n_samples
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, sample_rate, n_samples,
      |    unnest(range(n_samples)) AS j
      |  FROM g),
      |p AS (
      |  SELECT doc_id, sample_rate, n_samples,
      |    (doc_id * 7 + j * 13) % 65536 - 32768 AS s
      |  FROM v)
      |SELECT doc_id, sample_rate, n_samples,
      |  CAST(44 + 2 * n_samples AS BIGINT) AS byte_len,
      |  CAST(FLOOR(n_samples * 1000.0 / sample_rate) AS BIGINT)
      |    AS duration_ms,
      |  ROUND(SQRT(SUM(s * s) * 1.0 / n_samples), 4) AS rms,
      |  CAST(MAX(ABS(s)) AS BIGINT) AS peak
      |FROM p
      |GROUP BY doc_id, sample_rate, n_samples
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("byte_len", LongType, nullable = false),
      StructField("sum_sq", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = graft.media.MediaGen.wavBytes(id)
        val wav = graft.media.WavCodec.decode(bytes)
        var sq = 0L; var peak = 0L
        var i = 0
        while (i < wav.samples.length) {
          val v = wav.samples(i).toLong
          sq += v * v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        org.apache.spark.sql.Row(id, wav.sampleRate, wav.samples.length,
          bytes.length.toLong, sq, peak)
      }
    }(enc)
      .select(
        col("doc_id"), col("sample_rate"), col("n_samples"),
        col("byte_len"),
        floor(col("n_samples") * lit(1000.0) / col("sample_rate"))
          .cast("bigint").as("duration_ms"),
        round(sqrt(col("sum_sq") * lit(1.0) / col("n_samples")), 4)
          .as("rms"),
        col("peak"))
      .orderBy(col("doc_id"))
  }

  /** Real PNG decode — the fourth real codec in the multimodal tier
    * (BMP, WAV, GIF, now PNG): the engine ENCODES each doc's
    * closed-form pixels into a genuine PNG (zlib-deflated scanlines,
    * CRC'd chunks, filter type cycling 0–4 by row so every image
    * exercises every standard filter) and then PARSES the bytes back —
    * chunk walk, CRC verify, multi-IDAT inflate, per-row unfiltering
    * with the Paeth predictor. The oracle recomputes the SAME channel
    * means from MediaGen's pixel formula over `range()`, so the whole
    * compressed byte layout sits under the hash gate. byte_len is NOT
    * emitted — deflate output size is not closed-form (that's the
    * point of a real compressor). */
  val qPngDecode: QDef = QDef(
    "q_png_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(5 + doc_id % 8 AS INT) AS width,
      |    CAST(5 + (doc_id // 2) % 7 AS INT) AS height
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, width, height,
      |    unnest(range(3 * width * height)) AS j
      |  FROM g),
      |p AS (
      |  SELECT doc_id, width, height, j,
      |    (doc_id * 17 + j * 3) % 256 AS val
      |  FROM v)
      |SELECT doc_id, width, height,
      |  ROUND(SUM(CASE WHEN j % 3 = 0 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_r,
      |  ROUND(SUM(CASE WHEN j % 3 = 1 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_g,
      |  ROUND(SUM(CASE WHEN j % 3 = 2 THEN val ELSE 0 END) * 1.0
      |    / (width * height), 4) AS mean_b
      |FROM p
      |GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val statsSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(statsSchema)
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        // encode THEN decode: both directions of the byte layout are
        // on the hash path
        val png = graft.media.PngCodec
          .decode(graft.media.MediaGen.pngBytes(id))
        val (sr, sg, sb) = channelSums(png.rgb)
        org.apache.spark.sql.Row(
          id, png.width, png.height, sr, sg, sb)
      }
    }(enc)
      .select(
        col("doc_id"), col("width"), col("height"),
        round(col("sum_r") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_r"),
        round(col("sum_g") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_g"),
        round(col("sum_b") * lit(1.0) / (col("width") * col("height")), 4)
          .as("mean_b"))
      .orderBy(col("doc_id"))
  }

  /** REAL multi-frame frame-sampling: encode deterministic animated
    * GIF89a payloads (real variable-width LZW — GifCodec), decode the
    * container back off the bytes, sample every SECOND frame, and
    * report per-frame palette-resolved channel means — the PALETTE
    * sibling of qMultimodalFrames' true-color lanes: only sampled
    * frames' pixels are touched after the container walk, mirroring a
    * production keyframe-extraction job. The oracle recomputes the
    * SAME statistics from MediaGen's closed-form index + palette
    * formulas, so the whole byte layout — LZW bit packing, sub-block
    * framing, palette table — is under the hash gate. */
  val qGifFrames: QDef = QDef(
    "q_gif_frames",
    """WITH g AS (
      |  SELECT doc_id,
      |    8 + doc_id % 5 AS w,
      |    6 + (doc_id // 2) % 5 AS h,
      |    CAST(3 + doc_id % 4 AS INT) AS n_frames
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, w, h, n_frames,
      |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
      |  FROM g),
      |sampled AS (SELECT * FROM f WHERE frame_idx % 2 = 0),
      |px AS (
      |  SELECT doc_id, n_frames, frame_idx, w, h,
      |    unnest(range(w * h)) AS j
      |  FROM sampled),
      |c AS (
      |  SELECT doc_id, n_frames, frame_idx,
      |    (doc_id * 7 + frame_idx * 11 + j * 5) % 16 AS ci
      |  FROM px)
      |SELECT doc_id, n_frames, frame_idx,
      |  ROUND(AVG((ci * 17 + 3) % 256), 4) AS mean_r,
      |  ROUND(AVG((ci * 29 + 7) % 256), 4) AS mean_g,
      |  ROUND(AVG((ci * 43 + 11) % 256), 4) AS mean_b
      |FROM c
      |GROUP BY doc_id, n_frames, frame_idx
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("n_px", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val gif = graft.media.GifCodec.decode(
          graft.media.MediaGen.gifBytes(id))
        gif.frames.zipWithIndex
          .filter(_._2 % 2 == 0) // keyframe sampling: every 2nd frame
          .map { case (frame, fi) =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < frame.length) {
              val (cr, cg, cb) = gif.palette(frame(i) & 0xff)
              sr += cr; sg += cg; sb += cb
              i += 1
            }
            org.apache.spark.sql.Row(
              id, gif.frames.length, fi, sr, sg, sb, frame.length.toLong)
          }
      }
    }(enc)
      .select(
        col("doc_id"), col("n_frames"), col("frame_idx"),
        round(col("sum_r") * lit(1.0) / col("n_px"), 4).as("mean_r"),
        round(col("sum_g") * lit(1.0) / col("n_px"), 4).as("mean_g"),
        round(col("sum_b") * lit(1.0) / col("n_px"), 4).as("mean_b"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** APNG frame sampling — true-color animated decode through the real
    * PNG machinery (acTL/fcTL/fdAT container walk + per-frame zlib +
    * all five scanline filters): where q_gif_frames samples PALETTE
    * frames, this decodes genuine RGB animation
    * frames, and ONLY the sampled (even-index) frames are ever
    * inflated — the container walk validates every chunk's CRC and
    * sequence number but skipped frames' zlib streams stay compressed,
    * which is the cost model of a production keyframe extractor. The
    * oracle recomputes per-frame channel means from MediaGen's
    * closed-form pixel formula, so the whole layout — chunk framing,
    * sequence numbering, per-frame deflate, filter cycling — sits
    * under the hash gate. */
  val qApngFrames: QDef = QDef(
    "q_apng_frames",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(7 + doc_id % 6 AS INT) AS w,
      |    CAST(5 + (doc_id // 2) % 6 AS INT) AS h,
      |    CAST(2 + doc_id % 4 AS INT) AS n_frames
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, w, h, n_frames,
      |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
      |  FROM g),
      |sampled AS (SELECT * FROM f WHERE frame_idx % 2 = 0),
      |px AS (
      |  SELECT doc_id, n_frames, frame_idx, w, h,
      |    unnest(range(3 * w * h)) AS j
      |  FROM sampled),
      |v AS (
      |  SELECT doc_id, n_frames, frame_idx, w, h,
      |    j, (doc_id * 13 + frame_idx * 19 + j * 7) % 256 AS val
      |  FROM px)
      |SELECT doc_id, n_frames, frame_idx,
      |  ROUND(SUM(CASE WHEN j % 3 = 0 THEN val ELSE 0 END) * 1.0
      |    / (w * h), 4) AS mean_r,
      |  ROUND(SUM(CASE WHEN j % 3 = 1 THEN val ELSE 0 END) * 1.0
      |    / (w * h), 4) AS mean_g,
      |  ROUND(SUM(CASE WHEN j % 3 = 2 THEN val ELSE 0 END) * 1.0
      |    / (w * h), 4) AS mean_b
      |FROM v
      |GROUP BY doc_id, n_frames, frame_idx, w, h
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("n_px", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    documents(s, d).select(col("doc_id")).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val (w, h, n, frames, _) = graft.media.ApngCodec.decodeSampled(
          graft.media.MediaGen.apngBytes(id), (idx, _) => idx % 2 == 0)
        frames.map { case (fi, rgb) =>
          val (sr, sg, sb) = channelSums(rgb)
          org.apache.spark.sql.Row(
            id, n, fi, sr, sg, sb, (w * h).toLong)
        }
      }
    }(enc)
      .select(
        col("doc_id"), col("n_frames"), col("frame_idx"),
        round(col("sum_r") * lit(1.0) / col("n_px"), 4).as("mean_r"),
        round(col("sum_g") * lit(1.0) / col("n_px"), 4).as("mean_g"),
        round(col("sum_b") * lit(1.0) / col("n_px"), 4).as("mean_b"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val defs: Seq[QDef] = Seq(
    qMultimodalMeta, qMultimodalFeatures, qMultimodalFrames,
    qImageDecode, qImageResize, qAudioStats, qGifFrames, qPngDecode,
    qApngFrames)
}
