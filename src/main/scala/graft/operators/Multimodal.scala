package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VecDot.vec_dot

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in distributed batches.
  *
  * The decode step is a REAL (minimal) pure-JVM codec over three public
  * container formats with trivially-parseable layouts — BMP, WAV and
  * YUV4MPEG2 ([[MediaCodec]]). Payloads are genuine container bytes
  * (synthesized deterministically, since this box ships no media
  * corpora), and every decoded field is read back from the BYTES (magic
  * sniffing, little-endian header offsets, frame-marker scans) — never
  * from the envelope. The surrounding machinery — the binary column
  * schema, the typed `Dataset` shape, per-partition batched processing
  * (`mapPartitions`, the Scala analogue of `mapInPandas` batches),
  * partition sizing, and the declarative metadata path — is the same
  * plumbing a libjpeg/ffmpeg binding would plug into.
  *
  * Scale notes: payload bytes never hit a shuffle — the decode is a narrow
  * map over the scan, and the metadata-only projection (`mm_meta`) prunes
  * the payload column entirely when only metadata is needed (column
  * pruning reaches the parquet scan).
  */
object Multimodal {

  /** A multimodal record: opaque payload + typed envelope. */
  case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte])

  /** A decoded container — every field parsed from the payload bytes. */
  case class MediaDecoded(doc_id: Long, container: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Long, sample_rate: Int)

  /** Minimal pure-JVM codecs for three real container formats:
    *
    *  - BMP: BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B), 24 bpp,
    *    bottom-up rows padded to 4-byte boundaries; width/height are
    *    little-endian i32 at offsets 18/22.
    *  - WAV: canonical 44-byte RIFF/WAVE PCM header; sample rate at LE
    *    offset 24, block align at 32, data size at 40.
    *  - Y4M (YUV4MPEG2): ASCII parameter header terminated by `\n`
    *    (`W<width> H<height>` tokens), then `FRAME\n`-delimited 4:2:0
    *    planar frames of exactly w*h*3/2 bytes.
    *
    * Synthesis and parse are inverses by construction; the parse is
    * additionally pinned to the PUBLIC layouts by hand-written byte
    * fixtures in MediaCodecSpec, so a consistent offset bug on both
    * sides still fails the suite.
    */
  object MediaCodec {
    private def leU16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    }
    private def leU32(b: Array[Byte], off: Int, v: Long): Unit = {
      var i = 0
      while (i < 4) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    private def ascii(b: Array[Byte], off: Int, s: String): Unit = {
      var i = 0
      while (i < s.length) { b(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def rdU16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def rdU32(b: Array[Byte], off: Int): Long = {
      var v = 0L; var i = 0
      while (i < 4) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    private def startsWith(b: Array[Byte], s: String): Boolean =
      b.length >= s.length && {
        var i = 0
        while (i < s.length && b(i) == s.charAt(i).toByte) i += 1
        i == s.length
      }

    def bmp(w: Int, h: Int, seed: Long): Array[Byte] = {
      val rowSize = ((3 * w + 3) / 4) * 4
      val dataSize = rowSize * h
      val out = new Array[Byte](54 + dataSize)
      out(0) = 'B'; out(1) = 'M'
      leU32(out, 2, out.length.toLong) // file size
      leU32(out, 10, 54) // pixel-array offset
      leU32(out, 14, 40) // BITMAPINFOHEADER size
      leU32(out, 18, w.toLong)
      leU32(out, 22, h.toLong)
      leU16(out, 26, 1) // planes
      leU16(out, 28, 24) // bpp
      leU32(out, 34, dataSize.toLong)
      var i = 0
      while (i < dataSize) {
        out(54 + i) = ((seed * 31 + i) % 251).toByte; i += 1
      }
      out
    }

    /** A WAV container around caller-supplied 16-bit PCM samples
      * (values taken mod 2^16) — the planted-variant constructor
      * ([[Multimodal.audioAlign]]'s caption-modulated audio).
      */
    def wavPcm(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
      val dataSize = samples.length * 2
      val out = new Array[Byte](44 + dataSize)
      ascii(out, 0, "RIFF"); leU32(out, 4, 36L + dataSize)
      ascii(out, 8, "WAVE"); ascii(out, 12, "fmt ")
      leU32(out, 16, 16)
      leU16(out, 20, 1)
      leU16(out, 22, 1)
      leU32(out, 24, sampleRate.toLong)
      leU32(out, 28, sampleRate.toLong * 2)
      leU16(out, 32, 2)
      leU16(out, 34, 16)
      ascii(out, 36, "data"); leU32(out, 40, dataSize.toLong)
      var i = 0
      while (i < samples.length) {
        leU16(out, 44 + 2 * i, samples(i) & 0xffff); i += 1
      }
      out
    }

    def wav(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
      val dataSize = nSamples * 2 // mono, 16-bit PCM
      val out = new Array[Byte](44 + dataSize)
      ascii(out, 0, "RIFF"); leU32(out, 4, 36L + dataSize)
      ascii(out, 8, "WAVE"); ascii(out, 12, "fmt ")
      leU32(out, 16, 16) // PCM fmt chunk size
      leU16(out, 20, 1) // audio format: PCM
      leU16(out, 22, 1) // channels
      leU32(out, 24, sampleRate.toLong)
      leU32(out, 28, sampleRate.toLong * 2) // byte rate
      leU16(out, 32, 2) // block align
      leU16(out, 34, 16) // bits per sample
      ascii(out, 36, "data"); leU32(out, 40, dataSize.toLong)
      var i = 0
      while (i < nSamples) {
        leU16(out, 44 + 2 * i, ((seed + i * 37L) % 65536L).toInt); i += 1
      }
      out
    }

    def y4m(w: Int, h: Int, frames: Int, seed: Long): Array[Byte] = {
      val hdr = s"YUV4MPEG2 W$w H$h F25:1\n"
      val frameBytes = w * h * 3 / 2
      val out = new Array[Byte](hdr.length + frames * (6 + frameBytes))
      ascii(out, 0, hdr)
      var p = hdr.length
      var f = 0
      while (f < frames) {
        ascii(out, p, "FRAME\n")
        var j = 0
        while (j < frameBytes) {
          out(p + 6 + j) = ((seed + f * 17L + j) % 251).toByte; j += 1
        }
        p += 6 + frameBytes
        f += 1
      }
      out
    }

    /** Sniff the magic, then parse header fields from the spec offsets. */
    def decode(docId: Long, payload: Array[Byte]): MediaDecoded =
      if (startsWith(payload, "BM") && payload.length >= 54) {
        MediaDecoded(docId, "bmp", payload.length.toLong,
          rdU32(payload, 18).toInt, rdU32(payload, 22).toInt, 1L, 0)
      } else if (startsWith(payload, "RIFF") && payload.length >= 44 &&
          new String(payload, 8, 4, "US-ASCII") == "WAVE") {
        val blockAlign = rdU16(payload, 32)
        MediaDecoded(docId, "wav", payload.length.toLong, 0, 0,
          rdU32(payload, 40) / blockAlign, rdU32(payload, 24).toInt)
      } else if (startsWith(payload, "YUV4MPEG2 ")) {
        val nl = payload.indexOf('\n'.toByte)
        require(nl > 0, s"unterminated Y4M header for doc $docId")
        val toks = new String(payload, 0, nl, "US-ASCII").split(' ')
        def tok(p: Char): Int =
          toks.find(t => t.nonEmpty && t.head == p) match {
            case Some(t) => t.tail.toInt
            case None => throw new IllegalArgumentException(
              s"Y4M header missing '$p' token for doc $docId")
          }
        val w = tok('W'); val h = tok('H')
        val frameBytes = w * h * 3 / 2
        var p = nl + 1
        var n = 0L
        while (p + 6 <= payload.length &&
            new String(payload, p, 6, "US-ASCII") == "FRAME\n") {
          n += 1; p += 6 + frameBytes
        }
        MediaDecoded(docId, "y4m", payload.length.toLong, w, h, n, 0)
      } else throw new IllegalArgumentException(
        s"unknown container magic for doc $docId")
  }

  /** Deterministic container synthesis per doc (kind rotates by id):
    * real BMP/WAV/Y4M bytes whose parameters are closed-form in doc_id —
    * which is what lets the DuckDB oracle check the decode output without
    * being able to run the decoder itself.
    */
  def mediaContainers(spark: SparkSession, sfDir: String,
      kind: Option[String] = None): Dataset[MediaRecord] = {
    import spark.implicits._
    // Push a kind filter BEFORE synthesis/decode: kind is closed-form in
    // doc_id (id % 3), so a single-modality consumer (most of the
    // family) never pays for the other two modalities' payload bytes —
    // at scale the equivalent is partition pruning on a kind-partitioned
    // media table, and video payloads dominate the skipped bytes.
    val base = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val wanted = kind.map(k => Seq("image", "audio", "video").indexOf(k))
    require(wanted.forall(_ >= 0), s"unknown media kind: ${kind.get}")
    wanted.fold(base)(m => base.filter(col("doc_id") % 3 === m))
      .as[Long]
      .mapPartitions(_.map { id =>
        val payload = (id % 3) match {
          case 0 => MediaCodec.bmp((id % 64).toInt + 1, (id % 48).toInt + 1, id)
          case 1 => MediaCodec.wav(8000 + (id % 8).toInt * 1000,
            (id % 1000).toInt + 1, id)
          case _ => MediaCodec.y4m(2 * ((id % 16).toInt + 1),
            2 * ((id % 12).toInt + 1), (id % 24).toInt + 1, id)
        }
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaRecord(id, kind, payload)
      })
  }

  /** The full typed decode pipeline: binary in, parsed features out,
    * batched per partition (no shuffle). Oracle-checked: every output
    * field is parsed from real container bytes, and the closed-form
    * synthesis parameters let DuckDB compute the expected values.
    */
  def decodeAll(spark: SparkSession, sfDir: String): Dataset[MediaDecoded] = {
    import spark.implicits._
    mediaContainers(spark, sfDir)
      .mapPartitions(_.map(r => MediaCodec.decode(r.doc_id, r.payload)))
  }

  /** What the decoder must find, computed from the synthesis parameters
    * (BMP row padding, canonical WAV header size, Y4M ASCII header length
    * + per-frame marker and 4:2:0 payload).
    */
  val decodeAllSql: String =
    """SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
          ELSE 'y4m' END AS container,
        CAST(CASE doc_id % 3
          WHEN 0 THEN 54 + ((3 * (doc_id % 64 + 1) + 3) // 4) * 4
            * (doc_id % 48 + 1)
          WHEN 1 THEN 44 + 2 * (doc_id % 1000 + 1)
          ELSE length('YUV4MPEG2 W' || CAST(2 * (doc_id % 16 + 1) AS VARCHAR)
              || ' H' || CAST(2 * (doc_id % 12 + 1) AS VARCHAR) || ' F25:1') + 1
            + (doc_id % 24 + 1)
              * (6 + 2 * (doc_id % 16 + 1) * 2 * (doc_id % 12 + 1) * 3 // 2)
          END AS BIGINT) AS n_bytes,
        CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 64 + 1 WHEN 1 THEN 0
          ELSE 2 * (doc_id % 16 + 1) END AS INT) AS width,
        CAST(CASE doc_id % 3 WHEN 0 THEN doc_id % 48 + 1 WHEN 1 THEN 0
          ELSE 2 * (doc_id % 12 + 1) END AS INT) AS height,
        CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN doc_id % 1000 + 1
          ELSE doc_id % 24 + 1 END AS BIGINT) AS n_frames,
        CAST(CASE doc_id % 3 WHEN 1 THEN 8000 + (doc_id % 8) * 1000
          ELSE 0 END AS INT) AS sample_rate
      FROM documents"""

  /** Declarative metadata extraction over the binary column — the
    * checksum here is the same fold as the stub decoder, expressed as a
    * column over the payload bytes (ASCII text payload -> PolyHash on the
    * string equals the byte fold), proving the mapPartitions pipeline and
    * the declarative path agree.
    */
  def meta(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        poly_hash(decode(col("payload"), "UTF-8")).as("checksum"))
      .withColumn("width", (col("checksum") % 640 + 1).cast("int"))
      .withColumn("height", (col("checksum") % 480 + 1).cast("int"))
  }

  val metaSql: String = {
    import graft.functions.PolyHash.{sql => polySql}
    s"""SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio'
               ELSE 'video' END AS kind,
          octet_length(encode(text)) AS n_bytes,
          ${polySql("text")} AS checksum,
          CAST(${polySql("text")} % 640 + 1 AS INT) AS width,
          CAST(${polySql("text")} % 480 + 1 AS INT) AS height
        FROM documents"""
  }

  /** Decoded audio features over the WAV payloads — the decode→feature
    * step of a real audio pipeline (what an ffmpeg binding would feed a
    * filter bank): per file, the PCM samples are read back out of the
    * container bytes (16-bit little-endian signed, offsets from the
    * parsed header) and reduced to peak amplitude, exact sum of squares
    * and RMS. Integer arithmetic end-to-end until one division + sqrt
    * (both IEEE-exact, so the oracle matches bit-for-bit). Narrow map
    * over the scan — payload bytes never shuffle.
    */
  case class AudioFeatures(doc_id: Long, n_samples: Long, peak: Long,
      sumsq: Long, rms: Double)

  def audioFeatures(spark: SparkSession, sfDir: String): Dataset[AudioFeatures] = {
    import spark.implicits._
    mediaContainers(spark, sfDir, Some("audio"))
      .mapPartitions(_.map { r =>
        val d = MediaCodec.decode(r.doc_id, r.payload)
        require(d.container == "wav", s"expected wav, got ${d.container}")
        val n = d.n_frames.toInt
        var peak = 0L
        var sumsq = 0L
        var i = 0
        while (i < n) {
          val u = MediaCodec.rdU16(r.payload, 44 + 2 * i)
          val v = if (u < 32768) u.toLong else u.toLong - 65536L
          val a = math.abs(v)
          if (a > peak) peak = a
          sumsq += v * v
          i += 1
        }
        AudioFeatures(r.doc_id, n.toLong, peak, sumsq,
          math.sqrt(sumsq.toDouble / n))
      })
  }

  /** Oracle: the same samples from the synthesis closed form
    * (`(doc_id + i*37) mod 2^16`, reinterpreted signed), reduced with
    * exact integer ops then one division + sqrt.
    */
  val audioFeaturesSql: String =
    """WITH w AS (SELECT doc_id, doc_id % 1000 + 1 AS n
          FROM documents WHERE doc_id % 3 = 1),
        s AS (SELECT doc_id, n,
          list_transform(range(0, n), i ->
            CASE WHEN (doc_id + i*37) % 65536 < 32768
                 THEN (doc_id + i*37) % 65536
                 ELSE (doc_id + i*37) % 65536 - 65536 END) AS vs
          FROM w)
        SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
          CAST(list_max(list_transform(vs, v -> abs(v))) AS BIGINT) AS peak,
          CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(vs, v -> v*v)), (a, x) -> a + x) AS BIGINT)
            AS sumsq,
          sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(vs, v -> v*v)), (a, x) -> a + x) AS DOUBLE) / n)
            AS rms
        FROM s"""

  /** Container-aware frame EXTRACTION over the real Y4M payloads — the
    * codec-backed upgrade of [[frameSample]]'s fixed-size slicing: frame
    * offsets come from the PARSED container (ASCII header length + per-
    * frame `FRAME\n` marker + 4:2:0 frame size from the header's W/H
    * tokens), and each sampled frame's fingerprint folds over the actual
    * payload bytes at that offset. Narrow typed map (mapPartitions) —
    * payload bytes never shuffle; one output row per sampled frame.
    * The oracle recomputes offsets and byte folds from the synthesis
    * closed form, so a wrong header length, frame stride or slice
    * boundary mismatches immediately.
    */
  case class FrameRow(doc_id: Long, frame_idx: Long, offset: Long,
      frame_fp: Long)

  def frameExtract(spark: SparkSession, sfDir: String,
      sampleEvery: Int = 4): Dataset[FrameRow] = {
    import spark.implicits._
    mediaContainers(spark, sfDir, Some("video"))
      .mapPartitions(_.flatMap { r =>
        val d = MediaCodec.decode(r.doc_id, r.payload)
        require(d.container == "y4m", s"expected y4m, got ${d.container}")
        val hdr = r.payload.indexOf('\n'.toByte) + 1
        val frameBytes = d.width * d.height * 3 / 2
        (0L until d.n_frames by sampleEvery.toLong).map { f =>
          val off = hdr + f * (6 + frameBytes) + 6
          var h = 0L
          var j = 0
          while (j < frameBytes) {
            h = (h * 31L + (r.payload((off + j).toInt) & 0xff)) % 1000000007L
            j += 1
          }
          FrameRow(r.doc_id, f, off, h)
        }
      })
  }

  def frameExtractSql(sampleEvery: Int = 4): String =
    s"""WITH v AS (
          SELECT doc_id, 2 * (doc_id % 16 + 1) AS w,
            2 * (doc_id % 12 + 1) AS h, doc_id % 24 + 1 AS nf
          FROM documents WHERE doc_id % 3 = 2),
        p AS (
          SELECT doc_id, nf,
            length('YUV4MPEG2 W' || CAST(w AS VARCHAR) || ' H'
              || CAST(h AS VARCHAR) || ' F25:1') + 1 AS hdr,
            w * h * 3 // 2 AS fb
          FROM v),
        f AS (SELECT doc_id, hdr, fb,
                unnest(range(0, nf, $sampleEvery)) AS frame_idx
              FROM p)
        SELECT doc_id, frame_idx,
          CAST(hdr + frame_idx * (6 + fb) + 6 AS BIGINT) AS offset,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(0, fb),
              j -> (doc_id + frame_idx * 17 + j) % 251)),
            (a, b) -> (a * 31 + b) % 1000000007) AS frame_fp
        FROM f"""

  /** Frame sampling — the video-pipeline primitive (probe every k-th
    * frame, fingerprint it for frame-level dedup / shot detection): the
    * payload is treated as a dense sequence of fixed-size frames; the
    * operator emits one row per SAMPLED frame with its index, offset and
    * content fingerprint. Pure column expressions (sequence + explode +
    * substring + PolyHash) — a narrow map over the scan with a ×(frames/
    * stride) fan-out and no shuffle; at 100 TB the payload bytes never
    * leave their input split. (A real codec would replace the fixed-size
    * slicing with keyframe offsets from the container index — the
    * sampling/fingerprint plumbing is identical.)
    */
  def frameSample(spark: SparkSession, sfDir: String,
      frameLen: Int = 64, sampleEvery: Int = 4): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    val body = decode(encode(col("text"), "UTF-8"), "UTF-8") // payload round-trip
    val nFrames = ceil(length(body).cast("double") / frameLen).cast("long")
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        body.as("body"), nFrames.as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("kind"), col("n_frames"), col("body"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(sampleEvery.toLong)))
          .as("frame_idx"))
      .select(col("doc_id"), col("kind"), col("n_frames"), col("frame_idx"),
        (col("frame_idx") * frameLen + 1).as("offset"),
        poly_hash(expr(s"substring(body, CAST(frame_idx * $frameLen + 1 AS INT), $frameLen)"))
          .as("frame_fp"))
  }

  /** One image's perceptual hash, split into two 32-bit words (DuckDB's
    * BIGINT `<<` range-checks shift 63, the same constraint that shaped
    * [[graft.operators.Similarity.BinWordBits]]).
    */
  case class ImagePHash(doc_id: Long, phash_lo: Long, phash_hi: Long)

  /** The (band_idx, band_val) split of the 64-bit hash into
    * [[PHashBands]] 16-bit bands, the same discipline as
    * `Dedup.bandStructsCol`. Pigeonhole: any pair within
    * Hamming [[PHashBands]]-1 shares at least one exact band, so a
    * banded equi-join has exact recall at that cut — callers must keep
    * tau <= [[PHashBands]]-1 (enforced where tau enters).
    */
  val PHashBands = 4
  def pHashBandsCol(lo: Column, hi: Column): Column =
    posexplode(array(
      lo.bitwiseAND(lit(0xffffL)),
      shiftright(lo, 16).bitwiseAND(lit(0xffffL)),
      hi.bitwiseAND(lit(0xffffL)),
      shiftright(hi, 16).bitwiseAND(lit(0xffffL))))

  /** m6: perceptual-hash IMAGE near-dup — the visual-dedup step of a
    * multimodal training pipeline (aHash family: resize to an 8x8 grid,
    * threshold each cell's luma against the image mean, 64-bit
    * fingerprint; near-dups = small Hamming distance). The decode is the
    * real one: width/height/row stride parsed from the BMP header bytes,
    * grid cells sampled from the actual bottom-up padded pixel array
    * (nearest-neighbor resize — one pixel per cell, the cheap-and-
    * standard variant), luma = b+g+r kept as an INTEGER so the
    * threshold compare (64*luma > total) is division-free and
    * engine-exact. The corpus is the image containers plus, for
    * doc_id < `variantCut`, a noise-perturbed copy (+1 on every 97th
    * payload byte, re-keyed +10^6) — planted near-duplicates with a
    * closed form the oracle can recompute, so the JOIN's recall is
    * oracle-checked, not asserted.
    *
    * Candidate generation is banded, never all-pairs: the 64-bit hash
    * splits into 4 16-bit bands and images meet only inside an equal
    * (band_idx, band_val) bucket — by pigeonhole any pair at Hamming <=
    * 3 shares at least one exact band, so recall at the tau=3 cut is
    * EXACT while the join stays equi-keyed (the [[graft.operators.Dedup]]
    * SimHash discipline applied to pixels). Scale shape: payload bytes
    * never shuffle (hashing is a narrow typed map, same as
    * [[audioFeatures]]); only (id, 8-byte hash, band) rows reach the
    * exchange, and the verify step is bit_count over two words per
    * candidate pair.
    */
  /** The per-image aHash: grid row gy indexes from the image TOP (the
    * `h-1-py` flip undoes BMP's bottom-up row storage), so bit g of the
    * (lo, hi) pair is grid cell (gy = g/8 from top, gx = g%8 from left).
    */
  def pHashOf(b: Array[Byte]): (Long, Long) = {
    val w = MediaCodec.rdU32(b, 18).toInt
    val h = MediaCodec.rdU32(b, 22).toInt
    val rs = ((3 * w + 3) / 4) * 4
    val luma = new Array[Long](64)
    var total = 0L
    var g = 0
    while (g < 64) {
      val px = ((2 * (g % 8) + 1) * w) / 16
      val py = ((2 * (g / 8) + 1) * h) / 16
      val off = 54 + (h - 1 - py) * rs + 3 * px
      luma(g) = (b(off) & 0xff).toLong + (b(off + 1) & 0xff) +
        (b(off + 2) & 0xff)
      total += luma(g)
      g += 1
    }
    var lo = 0L; var hi = 0L
    g = 0
    while (g < 64) {
      if (64L * luma(g) > total) {
        if (g < 32) lo |= 1L << g else hi |= 1L << (g - 32)
      }
      g += 1
    }
    (lo, hi)
  }

  def imagePHash(spark: SparkSession, sfDir: String,
      variantCut: Long = 30L, tau: Int = 3): DataFrame = {
    import spark.implicits._
    require(tau >= 0 && tau <= PHashBands - 1,
      s"banded recall is exact only for tau <= ${PHashBands - 1}, got $tau")
    val hashes: Dataset[ImagePHash] = mediaContainers(spark, sfDir, Some("image"))
      .mapPartitions(_.flatMap { r =>
        val variant = if (r.doc_id < variantCut) {
          val p = r.payload.clone()
          var i = 0
          while (54 + i < p.length) {
            if (i % 97 == 0) p(54 + i) = (p(54 + i) + 1).toByte
            i += 1
          }
          Seq(MediaRecord(r.doc_id + 1000000L, r.kind, p))
        } else Nil
        (Seq(r) ++ variant).map { rec =>
          val (lo, hi) = pHashOf(rec.payload)
          ImagePHash(rec.doc_id, lo, hi)
        }
      })
    val bands = hashes.toDF.select(col("doc_id"), col("phash_lo"),
      col("phash_hi"),
      pHashBandsCol(col("phash_lo"), col("phash_hi"))
        .as(Seq("band_idx", "band_val")))
    val a = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("id_a"), col("phash_lo").as("la"),
      col("phash_hi").as("ha"))
    val bSide = bands.select(col("band_idx"), col("band_val"),
      col("doc_id").as("id_b"), col("phash_lo").as("lb"),
      col("phash_hi").as("hb"))
    a.join(bSide, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "la", "ha", "lb", "hb").distinct()
      .select(col("id_a"), col("id_b"),
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
          bit_count(col("ha").bitwiseXOR(col("hb")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= tau)
  }

  def imagePHashSql(variantCut: Long = 30L, tau: Int = 3): String = {
    // pixel byte i of seed's BMP payload (synthesis closed form), with
    // the variant's +1 perturbation on every 97th byte
    def pix(e: String) =
      s"((seed*31 + ($e)) % 251 + CASE WHEN pert = 1 AND ($e) % 97 = 0 THEN 1 ELSE 0 END)"
    val off = "((h-1-(((2*(g//8)+1)*h)//16))*rs + 3*(((2*(g%8)+1)*w)//16))"
    s"""WITH img AS (
          SELECT doc_id, doc_id AS seed, 0 AS pert
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, doc_id AS seed, 1 AS pert
          FROM documents WHERE doc_id % 3 = 0 AND doc_id < $variantCut),
        geom AS (
          SELECT doc_id, seed, pert, seed % 64 + 1 AS w, seed % 48 + 1 AS h,
            ((3*(seed % 64 + 1) + 3) // 4) * 4 AS rs
          FROM img),
        lum AS (
          SELECT doc_id, list_transform(range(0, 64), g ->
              ${pix(s"$off + 0")} + ${pix(s"$off + 1")} + ${pix(s"$off + 2")})
            AS ls
          FROM geom),
        tot AS (
          SELECT doc_id, ls,
            list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
              (a, b) -> a + b) AS total
          FROM lum),
        ph AS (
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, 32), g ->
                CASE WHEN 64*ls[g+1] > total
                     THEN CAST(1 AS BIGINT) << g ELSE CAST(0 AS BIGINT) END)),
              (a, b) -> a | b) AS lo,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(32, 64), g ->
                CASE WHEN 64*ls[g+1] > total
                     THEN CAST(1 AS BIGINT) << (g-32)
                     ELSE CAST(0 AS BIGINT) END)),
              (a, b) -> a | b) AS hi
          FROM tot),
        bands AS (
          SELECT doc_id, lo, hi,
            unnest([0, 1, 2, 3]) AS band_idx,
            unnest([lo % 65536, (lo // 65536) % 65536,
                    hi % 65536, (hi // 65536) % 65536]) AS band_val
          FROM ph),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT)
            AS hamming
        FROM cand
        WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= $tau"""
  }

  case class SceneCuts(doc_id: Long, n_frames: Long, n_cuts: Long,
      first_cut: Long)

  /** Shared m7/m9 geometry + planted-variant expansion: decode the Y4M,
    * and for doc_id < variantCut add the content-shifted copy (+97 mod
    * 251 on the second half of frames, re-keyed +2e6). ONE edit point
    * for the variant convention — m7 detects its cut, m9 samples its
    * shots, and both must see the identical corpus.
    * Returns (headerLen, frameBytes, nFrames, records) or None when the
    * video is ineligible (single frame or sub-minFb).
    */
  private def videoWithVariants(r: MediaRecord, variantCut: Long,
      minFb: Int): Option[(Int, Int, Int, Seq[MediaRecord])] = {
    val d = MediaCodec.decode(r.doc_id, r.payload)
    val hdr = r.payload.indexOf('\n'.toByte) + 1
    val fb = d.width * d.height * 3 / 2
    val nf = d.n_frames.toInt
    if (nf < 2 || fb < minFb) None
    else {
      val variant = if (r.doc_id < variantCut) {
        val p = r.payload.clone()
        var f = nf / 2
        while (f < nf) {
          val off = hdr + f * (6 + fb) + 6
          var j = 0
          while (j < fb) {
            p(off + j) = (((p(off + j) & 0xff) + 97) % 251).toByte
            j += 1
          }
          f += 1
        }
        Seq(MediaRecord(r.doc_id + 2000000L, r.kind, p))
      } else Nil
      Some((hdr, fb, nf, Seq(r) ++ variant))
    }
  }

  /** SAD between frames f-1 and f of a parsed Y4M payload. */
  private def sadAt(payload: Array[Byte], hdr: Int, fb: Int,
      f: Int): Long = {
    val offA = hdr + (f - 1) * (6 + fb) + 6
    val offB = hdr + f * (6 + fb) + 6
    var sad = 0L
    var j = 0
    while (j < fb) {
      sad += math.abs((payload(offA + j) & 0xff) - (payload(offB + j) & 0xff))
      j += 1
    }
    sad
  }

  /** Shared m7/m9 oracle fragments: the vids CTE (corpus + planted
    * variants in closed form) and the per-byte pixel expression.
    */
  private def videoVidsCte(variantCut: Long): String =
    s"""vids AS (
          SELECT doc_id, doc_id AS seed, 0 AS pert, doc_id % 24 + 1 AS nf,
            2*(doc_id % 16 + 1) * 2*(doc_id % 12 + 1) * 3 // 2 AS fb
          FROM documents WHERE doc_id % 3 = 2
          UNION ALL
          SELECT doc_id + 2000000 AS doc_id, doc_id AS seed, 1 AS pert,
            doc_id % 24 + 1 AS nf,
            2*(doc_id % 16 + 1) * 2*(doc_id % 12 + 1) * 3 // 2 AS fb
          FROM documents WHERE doc_id % 3 = 2 AND doc_id < $variantCut)"""

  private def videoPixSql(fe: String): String =
    s"""(seed + ($fe)*17 + j + CASE WHEN pert = 1 AND ($fe) >= nf // 2
          THEN 97 ELSE 0 END) % 251"""

  private def videoSadCtes(variantCut: Long, minFb: Int): String =
    s"""${videoVidsCte(variantCut)},
        eligible AS (
          SELECT doc_id, seed, pert, nf, fb FROM vids
          WHERE nf >= 2 AND fb >= $minFb),
        bnd AS (
          SELECT doc_id, seed, pert, nf, fb, unnest(range(1, nf)) AS f
          FROM eligible),
        sad AS (
          SELECT doc_id, nf, fb, f,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, fb), j ->
                CAST(abs((${videoPixSql("f")}) - (${videoPixSql("f - 1")}))
                  AS BIGINT))),
              (a, x) -> a + x) AS sad
          FROM bnd)"""

  /** m7: scene-CUT detection over the real Y4M payloads — the shot-
    * boundary step of a video curation pipeline (sample frames per shot,
    * dedup per shot, caption per shot): consecutive frames are compared
    * by the sum of absolute byte differences (SAD, the classic
    * pixel-domain cut detector) and a boundary is a cut when its
    * per-byte mean exceeds `thresh` — kept DIVISION-FREE as the integer
    * compare `sad > thresh·frameBytes` (the [[imagePHash]] discipline).
    * Frame offsets come from the PARSED container ([[frameExtract]]'s
    * header walk); the corpus is the video containers plus, for
    * doc_id < `variantCut`, a copy whose second half of frames is
    * content-shifted (+97 mod 251 per byte, re-keyed +2·10^6) — a
    * planted one-cut video the oracle recomputes in closed form.
    *
    * The thresholds are PROVABLE on the synthesized fill, not tuned:
    * consecutive natural frames sit 17 apart on the mod-251 byte circle,
    * so a natural boundary's per-byte SAD is 17 plus the wrap band's
    * contribution — at most 17 of every 251 consecutive bytes wrap,
    * each adding 234-17 = 217, so per-byte SAD <= 17 +
    * 217·17·ceil(fb/251)/fb, which for fb <= 251 is 17 + 3689/fb: 99.0
    * at `minFb` = 45, strictly under 100 (for fb > 251 the bound only
    * tightens toward 31.7). That inequality is the REASON for minFb: a
    * 2x2 thumbnail's window can be mostly wrap band, where SAD says
    * nothing — real shot detectors impose minimum frame areas for the
    * same statistics-starvation reason. The planted boundary composes the
    * circle shifts 17+97 = 114, so its per-byte SAD is in [114, 137] at
    * ANY alignment, while boundaries inside the shifted half keep the
    * natural 17-shift statistics. thresh = 100 therefore separates with
    * a proved margin on both sides: exactly one cut per variant, zero
    * on every unperturbed video — and the oracle checks the whole
    * relation, including that silence.
    *
    * Scale shape: a narrow typed map over the scan — each video's
    * payload is walked once per boundary pair within its input split,
    * emits one 4-long summary row, and NOTHING shuffles (the output
    * aggregation happens inside the per-document loop, not in a
    * groupBy). Videos with a single frame have no boundary; they and
    * sub-minFb frames are excluded, same filter in the oracle.
    */
  def sceneCuts(spark: SparkSession, sfDir: String,
      variantCut: Long = 30L, thresh: Int = 100,
      minFb: Int = 45): Dataset[SceneCuts] = {
    import spark.implicits._
    mediaContainers(spark, sfDir, Some("video"))
      .mapPartitions(_.flatMap { r =>
        videoWithVariants(r, variantCut, minFb).toSeq.flatMap {
          case (hdr, fb, nf, recs) =>
            recs.map { rec =>
              var nCuts = 0L
              var firstCut = 0L
              var f = 1
              while (f < nf) {
                if (sadAt(rec.payload, hdr, fb, f) > thresh.toLong * fb) {
                  nCuts += 1
                  if (firstCut == 0L) firstCut = f.toLong
                }
                f += 1
              }
              SceneCuts(rec.doc_id, nf.toLong, nCuts, firstCut)
            }
        }
      })
  }

  def sceneCutsSql(variantCut: Long = 30L, thresh: Int = 100,
      minFb: Int = 45): String =
    s"""WITH ${videoSadCtes(variantCut, minFb)}
        SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
          CAST(count(CASE WHEN sad > $thresh * fb THEN 1 END) AS BIGINT)
            AS n_cuts,
          CAST(coalesce(min(CASE WHEN sad > $thresh * fb THEN f END), 0)
            AS BIGINT) AS first_cut
        FROM sad GROUP BY doc_id, nf"""

  case class Keyframe(doc_id: Long, keyframe_idx: Long, shot_idx: Long,
      shot_len: Long)

  /** m9: KEYFRAME selection — m7's cut detector APPLIED, the
    * frame-sampling step a video training pipeline runs after shot
    * detection (one representative frame per shot, here the shot's
    * first frame: frame 0 plus every cut frame), each with its shot
    * index and length. Same corpus (incl. m7's planted mid-video
    * variants, whose nf/2 cut is provable), same SAD threshold, same
    * typed one-pass-over-payload-bytes shape; the oracle reconstructs
    * cut positions from the closed-form synthesis and derives shots
    * relationally (lead over cut frames). A video with no cuts yields
    * exactly one keyframe (frame 0, shot_len = n_frames).
    */
  def keyframes(spark: SparkSession, sfDir: String,
      variantCut: Long = 30L, thresh: Int = 100,
      minFb: Int = 45): Dataset[Keyframe] = {
    import spark.implicits._
    mediaContainers(spark, sfDir, Some("video"))
      .mapPartitions(_.flatMap { r =>
        videoWithVariants(r, variantCut, minFb).toSeq.flatMap {
          case (hdr, fb, nf, recs) =>
            recs.flatMap { rec =>
              val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
              var f = 1
              while (f < nf) {
                if (sadAt(rec.payload, hdr, fb, f) > thresh.toLong * fb)
                  cuts += f
                f += 1
              }
              val starts = 0 +: cuts.toSeq
              starts.zipWithIndex.map { case (st, i) =>
                val end = if (i + 1 < starts.length) starts(i + 1) else nf
                Keyframe(rec.doc_id, st.toLong, i.toLong, (end - st).toLong)
              }
            }
        }
      })
  }

  def keyframesSql(variantCut: Long = 30L, thresh: Int = 100,
      minFb: Int = 45): String =
    s"""WITH ${videoSadCtes(variantCut, minFb)},
        kf AS (
          SELECT doc_id, nf, CAST(0 AS BIGINT) AS kf_idx FROM eligible
          UNION ALL
          SELECT doc_id, nf, CAST(f AS BIGINT) AS kf_idx
          FROM sad WHERE sad > $thresh * fb)
        SELECT doc_id, kf_idx AS keyframe_idx,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY kf_idx) - 1
            AS BIGINT) AS shot_idx,
          CAST(coalesce(lead(kf_idx) OVER (PARTITION BY doc_id
              ORDER BY kf_idx), nf) - kf_idx AS BIGINT) AS shot_len
        FROM kf"""

  case class SilenceProfile(doc_id: Long, n_samples: Long, n_zeros: Long,
      max_zero_run: Long, lead_zeros: Long, trail_zeros: Long)

  /** m8: digital-silence profiling over the real WAV payloads — the
    * silence-trim step of an audio curation pipeline (strip zero padding
    * before ASR/training; flag zero-padded uploads): one pass over the
    * PCM samples read back out of the container bytes ([[audioFeatures]]'
    * offsets) computing the zero-run structure — total zeros, longest
    * run, leading and trailing pad lengths. The corpus is the audio
    * containers plus, for doc_id < `variantCut`, a copy whose last
    * max(2, n/3) samples are zeroed (re-keyed +3·10^6) — planted digital
    * trailing pad.
    *
    * Provable, not tuned: consecutive synthesized samples differ by 37,
    * which is invertible mod 2^16, so a natural zero sample recurs only
    * every 65 536 samples — with n <= 1000 a natural run is NEVER longer
    * than 1, while every planted pad is >= 2. `max_zero_run >= 2` is
    * therefore an exact padded-audio detector on this corpus, and the
    * oracle (a gaps-and-islands run reconstruction over the closed-form
    * samples) checks the full run structure, including the case where
    * the one natural zero happens to touch the pad and extends it.
    *
    * Scale shape: [[sceneCuts]]' — a narrow typed map, one summary row
    * per audio file, zero shuffles; payload bytes never leave the scan.
    */
  def silenceProfile(spark: SparkSession, sfDir: String,
      variantCut: Long = 30L): Dataset[SilenceProfile] = {
    import spark.implicits._
    mediaContainers(spark, sfDir, Some("audio"))
      .mapPartitions(_.flatMap { r =>
        val d = MediaCodec.decode(r.doc_id, r.payload)
        val n = d.n_frames.toInt
        val variant = if (r.doc_id < variantCut) {
          val p = r.payload.clone()
          val pad = math.max(2, n / 3)
          var i = math.max(0, n - pad)
          while (i < n) { p(44 + 2 * i) = 0; p(44 + 2 * i + 1) = 0; i += 1 }
          Seq(MediaRecord(r.doc_id + 3000000L, r.kind, p))
        } else Nil
        (Seq(r) ++ variant).map { rec =>
          var nZeros = 0L; var maxRun = 0L; var lead = 0L; var trail = 0L
          var run = 0L
          var i = 0
          while (i < n) {
            val z = rec.payload(44 + 2 * i) == 0 &&
              rec.payload(44 + 2 * i + 1) == 0
            if (z) {
              nZeros += 1; run += 1
              if (run > maxRun) maxRun = run
              if (run == i + 1) lead = run // run touches sample 0
              if (i == n - 1) trail = run // run touches the last sample
            } else run = 0
            i += 1
          }
          SilenceProfile(rec.doc_id, n.toLong, nZeros, maxRun, lead, trail)
        }
      })
  }

  def silenceProfileSql(variantCut: Long = 30L): String =
    s"""WITH a AS (
          SELECT doc_id, doc_id AS seed, 0 AS pert, doc_id % 1000 + 1 AS n
          FROM documents WHERE doc_id % 3 = 1
          UNION ALL
          SELECT doc_id + 3000000 AS doc_id, doc_id AS seed, 1 AS pert,
            doc_id % 1000 + 1 AS n
          FROM documents WHERE doc_id % 3 = 1 AND doc_id < $variantCut),
        s AS (
          SELECT doc_id, n, unnest(range(0, n)) AS i, seed, pert
          FROM a),
        z AS (
          SELECT doc_id, n, i
          FROM s
          WHERE CASE WHEN pert = 1 AND i >= n - greatest(2, n // 3) THEN 0
                     ELSE (seed + i*37) % 65536 END = 0),
        g AS (
          SELECT doc_id, n, i,
            i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM z),
        runs AS (
          SELECT doc_id, n, min(i) AS rs, max(i) AS re,
            CAST(count(*) AS BIGINT) AS len
          FROM g GROUP BY doc_id, n, grp)
        SELECT a.doc_id, CAST(a.n AS BIGINT) AS n_samples,
          coalesce(CAST(sum(len) AS BIGINT), 0) AS n_zeros,
          coalesce(max(len), 0) AS max_zero_run,
          coalesce(max(CASE WHEN rs = 0 THEN len END), 0) AS lead_zeros,
          coalesce(max(CASE WHEN re = a.n - 1 THEN len END), 0)
            AS trail_zeros
        FROM a LEFT JOIN runs ON a.doc_id = runs.doc_id
        GROUP BY a.doc_id, a.n"""

  def frameSampleSql(frameLen: Int = 64, sampleEvery: Int = 4): String = {
    import graft.functions.PolyHash.{sql => polySql}
    s"""WITH d AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio'
                 ELSE 'video' END AS kind,
            text AS body,
            CAST(ceil(length(text) / $frameLen.0) AS BIGINT) AS n_frames
          FROM documents),
        f AS (
          SELECT doc_id, kind, n_frames,
            unnest(range(0, n_frames, $sampleEvery)) AS frame_idx, body
          FROM d WHERE n_frames > 0)
        SELECT doc_id, kind, n_frames, frame_idx,
          frame_idx * $frameLen + 1 AS offset,
          ${polySql(s"substring(body, CAST(frame_idx * $frameLen + 1 AS INT), $frameLen)")} AS frame_fp
        FROM f"""
  }

  /** x1 — cross-modal PAIR dedup: the LAION-style multimodal cleanup
    * where neither modality alone decides. A (caption, image) pair is a
    * duplicate only when BOTH sides collide — its caption fingerprint
    * matches another pair's AND the two images are perceptual near-dups
    * ([[imagePHash]]'s banded Hamming identity). A caption collision
    * over genuinely DIFFERENT images is the opposite of noise: it is the
    * classic contrastive hard negative (same text, distinct visuals),
    * so those pairs are labeled `hard_negative` and kept.
    *
    * Corpus: one pair per image container (caption = the document's own
    * normalized text, the [[graft.operators.Dedup]] normalization), plus
    * planted variants for doc_id < `variantCut` reusing m6's perturbed
    * near-dup images (re-keyed +10^6): even seeds repeat their OWN
    * caption (caption-dup + image near-dup => the drop case), odd seeds
    * borrow the NEXT image doc's caption (caption-dup across distinct
    * images => the hard-negative case). Both branches are thereby
    * non-empty by construction and every label is closed-form for the
    * oracle — the m6 planting discipline extended to pairs.
    *
    * Decisions (first-witness dedup, the family's canonical-witness
    * discipline): `drop` = an EARLIER pair (lower pair_id) in the same
    * caption group has a near-dup image; `hard_negative` = survived and
    * at least one caption peer has a genuinely different image; `keep`
    * otherwise; `hot_caption` = caption group larger than `capMax`,
    * excluded from pairwise testing (the d10 dfCap discipline — at
    * 100 TB boilerplate captions make group-size² fan-out the
    * scale-killer, so hot groups are flagged, never joined; `capMax`
    * bounds the per-group fan-out at capMax² exactly like d10's dfCap²
    * per gram). Candidate generation is caption-group-keyed and the
    * image test is one equi-join probe into the banded pHash pair set —
    * never all-pairs on either modality.
    */
  def crossModalDedup(spark: SparkSession, sfDir: String,
      variantCut: Long = 30L, tau: Int = 3, capMax: Int = 64): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    // hash the caption AT THE SCAN and drop the string immediately: the
    // fingerprint is the caption's only downstream identity, and this
    // subtree is consumed three times (base, variant, borrowed-caption
    // lookup) — re-running the normalize+hash per use is one cheap
    // column expression per scan, while carrying the full text through
    // the union and joins was a 10x-probe CPU scale-killer
    // localCheckpoint: this 2-column (id, fingerprint) projection is
    // consumed three times (base pairs, variant pairs, borrowed-caption
    // lookup); materializing it once means the wide text column is
    // decompressed + normalized + hashed in ONE scan instead of three —
    // the s15/pq codebook sharing discipline applied to captions
    val caps = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        poly_hash(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("cap_fp"))
      .localCheckpoint()
    val base = caps.select(col("doc_id").as("pair_id"),
      col("doc_id").as("image_id"), col("cap_fp"))
    val nextCap = caps.select((col("doc_id") - 3).as("doc_id"),
      col("cap_fp").as("next_fp"))
    val variants = caps.filter(col("doc_id") < variantCut)
      .join(nextCap, Seq("doc_id"), "left")
      .select((col("doc_id") + 1000000L).as("pair_id"),
        (col("doc_id") + 1000000L).as("image_id"),
        when(col("doc_id") % 2 === 0, col("cap_fp"))
          .otherwise(coalesce(col("next_fp"), col("cap_fp"))).as("cap_fp"))
    val pairs = base.unionAll(variants)
    val gsz = pairs.groupBy("cap_fp").agg(count(lit(1)).as("gsz"))
    val wsz = pairs.join(gsz, Seq("cap_fp"))
    val small = wsz.filter(col("gsz") <= capMax)
    val a = small.select(col("cap_fp"), col("pair_id").as("p"),
      col("image_id").as("img_p"))
    val b = small.select(col("cap_fp"), col("pair_id").as("q"),
      col("image_id").as("img_q"))
    val pp = a.join(b, Seq("cap_fp")).filter(col("p") < col("q"))
    val ph = imagePHash(spark, sfDir, variantCut, tau)
      .select(col("id_a"), col("id_b"))
    val tested = pp
      .join(ph, least(col("img_p"), col("img_q")) === col("id_a") &&
        greatest(col("img_p"), col("img_q")) === col("id_b"), "left")
      .select(col("p"), col("q"),
        (col("img_p") === col("img_q") || col("id_a").isNotNull)
          .as("is_imgdup"))
    val peers = tested.select(col("p").as("pair_id"), col("is_imgdup"))
      .unionAll(tested.select(col("q").as("pair_id"), col("is_imgdup")))
    val stats = peers.groupBy("pair_id")
      .agg(count(lit(1)).as("n_cap_dups"),
        sum(when(col("is_imgdup"), 1L).otherwise(0L)).as("n_img_dups"),
        sum(when(col("is_imgdup"), 0L).otherwise(1L)).as("n_distinct_img"))
    val dropped = tested.filter(col("is_imgdup"))
      .select(col("q").as("pair_id")).distinct()
      .withColumn("is_drop", lit(1))
    wsz.join(stats, Seq("pair_id"), "left")
      .join(dropped, Seq("pair_id"), "left")
      .select(col("pair_id"), col("image_id"), col("cap_fp"),
        coalesce(col("n_cap_dups"), lit(0L)).as("n_cap_dups"),
        coalesce(col("n_img_dups"), lit(0L)).as("n_img_dups"),
        when(col("gsz") > capMax, "hot_caption")
          .when(col("is_drop").isNotNull, "drop")
          .when(coalesce(col("n_distinct_img"), lit(0L)) >= 1,
            "hard_negative")
          .otherwise("keep").as("decision"))
  }

  def crossModalDedupSql(variantCut: Long = 30L, tau: Int = 3,
      capMax: Int = 64): String = {
    import graft.functions.PolyHash.{sql => polySql}
    val normCap = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    s"""WITH imgdocs AS (
          SELECT doc_id, ${polySql(normCap)} AS cap_fp FROM documents
          WHERE doc_id % 3 = 0),
        fp AS (
          SELECT doc_id AS pair_id, doc_id AS image_id, cap_fp
          FROM imgdocs
          UNION ALL
          SELECT d.doc_id + 1000000, d.doc_id + 1000000,
            CASE WHEN d.doc_id % 2 = 0 THEN d.cap_fp
                 ELSE coalesce(n.cap_fp, d.cap_fp) END
          FROM imgdocs d LEFT JOIN imgdocs n ON n.doc_id = d.doc_id + 3
          WHERE d.doc_id < $variantCut),
        gsz AS (SELECT cap_fp, count(*) AS gsz FROM fp GROUP BY 1),
        wsz AS (SELECT f.*, g.gsz FROM fp f JOIN gsz g USING (cap_fp)),
        small AS (SELECT * FROM wsz WHERE gsz <= $capMax),
        pp AS (
          SELECT a.cap_fp, a.pair_id AS p, a.image_id AS img_p,
            b.pair_id AS q, b.image_id AS img_q
          FROM small a JOIN small b
            ON a.cap_fp = b.cap_fp AND a.pair_id < b.pair_id),
        ph AS (SELECT id_a, id_b FROM (${imagePHashSql(variantCut, tau)})),
        tested AS (
          SELECT pp.p, pp.q,
            (pp.img_p = pp.img_q OR ph.id_a IS NOT NULL) AS is_imgdup
          FROM pp LEFT JOIN ph
            ON least(pp.img_p, pp.img_q) = ph.id_a
              AND greatest(pp.img_p, pp.img_q) = ph.id_b),
        peers AS (
          SELECT p AS pair_id, is_imgdup FROM tested
          UNION ALL
          SELECT q AS pair_id, is_imgdup FROM tested),
        pstats AS (
          SELECT pair_id, count(*) AS n_cap_dups,
            CAST(sum(CASE WHEN is_imgdup THEN 1 ELSE 0 END) AS BIGINT)
              AS n_img_dups,
            CAST(sum(CASE WHEN is_imgdup THEN 0 ELSE 1 END) AS BIGINT)
              AS n_distinct_img
          FROM peers GROUP BY 1),
        dropped AS (
          SELECT DISTINCT q AS pair_id FROM tested WHERE is_imgdup)
        SELECT w.pair_id, w.image_id, w.cap_fp,
          coalesce(s.n_cap_dups, 0) AS n_cap_dups,
          coalesce(s.n_img_dups, 0) AS n_img_dups,
          CASE WHEN w.gsz > $capMax THEN 'hot_caption'
               WHEN d.pair_id IS NOT NULL THEN 'drop'
               WHEN coalesce(s.n_distinct_img, 0) >= 1 THEN 'hard_negative'
               ELSE 'keep' END AS decision
        FROM wsz w
        LEFT JOIN pstats s ON w.pair_id = s.pair_id
        LEFT JOIN dropped d ON w.pair_id = d.pair_id"""
  }

  /** x2 — caption↔image CONSISTENCY scoring, the CLIP-score filter of a
    * multimodal curation pipeline: embed the caption, take its cosine
    * against the image embedding, and drop pairs below a FIXED alignment
    * threshold (the production shape — LAION-style pipelines filter at a
    * constant CLIP score, not a per-batch percentile, so the operator is
    * scan-parallel with no global ordering anywhere). The caption
    * embedder here is deterministic feature hashing (token →
    * poly_hash-chosen slot, ±1 sign; the stand-in for the text-tower
    * forward pass, which is an external model call) — the Spark-side
    * plumbing is the real deliverable: tokenize at the scan, sparse
    * slot-sum, densify to the embedding dimension, one 1:1 equi-join
    * against the image-embedding table, index-order fold for the cosine
    * (bit-identical on both engines), constant-threshold decision.
    *
    * Scale: per-doc work is O(tokens + dim); the only shuffle is the
    * (doc_id, slot) partial-sum aggregation (map-side combinable
    * longs) and the id-keyed embedding join; no window, no global sort,
    * no cross-doc state — the filter streams.
    */
  def captionConsistency(spark: SparkSession, sfDir: String,
      dim: Int = 64, threshold: Double = 0.0): DataFrame = {
    import graft.functions.PolyHash.poly_hash
    // slot and sign must come from independent bits of the SAME hash on
    // both engines; with a power-of-two dim, `h div dim` == `h >> log2`
    // exactly (poly_hash is non-negative), which keeps the Spark side a
    // shift and the oracle side plain integer division
    require(dim > 0 && (dim & (dim - 1)) == 0, "dim must be a power of two")
    val shift = java.lang.Integer.numberOfTrailingZeros(dim)
    val toks = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val h = poly_hash(col("tok"))
    val sv = toks
      .select(col("doc_id"), (h % dim).as("slot"),
        when(shiftright(h, shift) % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "slot")
      .agg(sum(col("sgn")).as("tv"))
    val dense = sv.groupBy("doc_id")
      .agg(map_from_entries(collect_list(
        struct(col("slot").cast("int").as("k"), col("tv").as("v")))).as("m"))
      .select(col("doc_id"), transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L)).cast("double"))
        .as("tv"))
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), x => x.cast("double")).as("ev"))
    dense.join(emb, Seq("doc_id"))
      .select(col("doc_id"),
        vec_dot(col("tv"), col("ev")).as("dot"),
        vec_dot(col("tv"), col("tv")).as("nt"),
        vec_dot(col("ev"), col("ev")).as("ne"))
      .select(col("doc_id"),
        when(col("nt") === 0.0 || col("ne") === 0.0, lit(0.0))
          .otherwise(col("dot") / sqrt(col("nt") * col("ne")))
          .as("consistency"))
      .withColumn("decision",
        when(col("consistency") >= threshold, "keep").otherwise("drop"))
  }

  /** The x-family caption featurizer as a plain JVM function — the
    * exact replay of [[captionConsistency]]'s batch expressions
    * (`lower`/`trim`/`split`/poly_hash/slot-sign split), used by the
    * audio-alignment scorer so it hashes captions exactly as x2 does. Spark `lower` is locale-insensitive
    * (Locale.ROOT — a Turkish-locale JVM must not map I to dotless ı)
    * and Spark `trim` strips ONLY the space character, not Java trim's
    * whole <= U+0020 range. Slot sums are exact longs (the batch sums
    * +/-1 longs before any cast).
    */
  private[graft] def captionSlotSums(text: String, dim: Int): Array[Long] = {
    val shift = java.lang.Integer.numberOfTrailingZeros(dim)
    val v = new Array[Long](dim)
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    var lo = 0
    var hi = lowered.length
    while (lo < hi && lowered.charAt(lo) == ' ') lo += 1
    while (hi > lo && lowered.charAt(hi - 1) == ' ') hi -= 1
    lowered.substring(lo, hi).split("\\s+", -1)
      .foreach { t =>
        var h = 0L
        t.codePoints().forEach(cp => h = (h * 31L + cp) % 1000000007L)
        v((h % dim).toInt) += (if (((h >> shift) % 2) == 0L) 1L else -1L)
      }
    v
  }

  def captionConsistencySql(dim: Int = 64, threshold: Double = 0.0): String = {
    import graft.functions.PolyHash.{sql => polySql}
    val h = polySql("tok")
    s"""WITH img AS (SELECT doc_id, lower(trim(text)) AS t
          FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
        tok AS (SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS tok
                FROM img),
        sl AS (SELECT doc_id, h % $dim AS slot,
                 CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
               FROM (SELECT doc_id, $h AS h FROM tok)),
        sv AS (SELECT doc_id, slot, CAST(sum(sgn) AS BIGINT) AS tv
               FROM sl GROUP BY doc_id, slot),
        spine AS (SELECT doc_id, unnest(range(0, $dim)) AS slot FROM img),
        dense AS (SELECT s.doc_id AS doc_id,
                    list(CAST(coalesce(v.tv, 0) AS DOUBLE)
                      ORDER BY s.slot) AS tv
                  FROM spine s LEFT JOIN sv v
                    ON s.doc_id = v.doc_id AND s.slot = v.slot
                  GROUP BY s.doc_id),
        e AS (SELECT vec_id AS doc_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
              FROM embeddings),
        sc AS (SELECT d.doc_id AS doc_id,
                 list_reduce(list_prepend(0.0, list_transform(
                   range(1, $dim + 1), i -> tv[i] * ev[i])),
                   (a, b) -> a + b) AS dot,
                 list_reduce(list_prepend(0.0, list_transform(
                   range(1, $dim + 1), i -> tv[i] * tv[i])),
                   (a, b) -> a + b) AS nt,
                 list_reduce(list_prepend(0.0, list_transform(
                   range(1, $dim + 1), i -> ev[i] * ev[i])),
                   (a, b) -> a + b) AS ne
               FROM dense d JOIN e ON d.doc_id = e.doc_id)
        SELECT doc_id,
          CASE WHEN nt = 0.0 OR ne = 0.0 THEN 0.0
               ELSE dot / sqrt(nt * ne) END AS consistency,
          CASE WHEN (CASE WHEN nt = 0.0 OR ne = 0.0 THEN 0.0
                          ELSE dot / sqrt(nt * ne) END) >= $threshold
               THEN 'keep' ELSE 'drop' END AS decision
        FROM sc"""
  }

  case class AudioAlign(doc_id: Long, n_samples: Long, score: Double,
      decision: String)

  /** x3 — audio↔caption ALIGNMENT, the third modality pair (x1 paired
    * image↔image through captions, x2 scored caption↔image-embedding;
    * this scores caption↔AUDIO-CONTENT): per audio document, the
    * decoded PCM's energy envelope over `dim` time buckets ([[m4]]'s
    * container-byte read-back, reduced per bucket instead of globally)
    * is contrasted against the bucket mean and cosine-scored against
    * the caption's hash-sign vector ([[captionSlotSums]] signs — the
    * same featurizer every x-family path shares). A fixed threshold
    * splits 'aligned' from 'unaligned' — the CLIP-score shape of x2
    * applied to audio, which is how audio-text pairs are filtered
    * before contrastive training.
    *
    * Planted ground truth (the m6/m8 discipline): for doc_id <
    * `variantCut` the corpus carries an ALIGNED variant (re-keyed
    * +5·10^6) whose PCM is caption-MODULATED — `plantN` samples of
    * amplitude `plantAmp` exactly in the buckets whose caption sign is
    * positive, silence elsewhere — so its envelope contrast is
    * positively proportional to the caption vector wherever the sign
    * is nonzero (score -> 1 as zero-sign buckets vanish), while
    * natural audio's near-uniform envelope is uncorrelated with any
    * caption (CrossModalSpec pins the separation margin on both test
    * corpora). Everything is integer-exact until one shared double
    * fold in bucket order — dot, norms and the division are the only
    * float ops, replicated operand-for-operand by the oracle.
    *
    * Scale shape: one narrow typed map over the audio scan — payload
    * bytes never shuffle, no join (both modalities live on the doc
    * row), no window, no state; the filter streams, and the SAME
    * function body serves batch and streaming ingest
    * (CrossModalStreamingSpec pins stream == batch bit-for-bit).
    */
  def audioAlign(docs: DataFrame, dim: Int = 64, threshold: Double = 0.5,
      variantCut: Long = 30L, plantN: Int = 256,
      plantAmp: Int = 1000): DataFrame = {
    import docs.sparkSession.implicits._
    require(dim > 0 && (dim & (dim - 1)) == 0, "dim must be a power of two")
    require(plantN % dim == 0, "plantN must fill buckets evenly")
    docs.filter(col("doc_id") % 3 === 1 && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t: Array[Long] = captionSlotSums(text, dim)
          .map(x => java.lang.Long.signum(x).toLong)
        def rowFor(outId: Long, payload: Array[Byte]): AudioAlign = {
          val d = MediaCodec.decode(outId, payload)
          require(d.container == "wav", s"expected wav for doc $outId")
          val n = d.n_frames.toInt
          // bucketed energy envelope from the container bytes (m4's
          // sample read-back) — exact longs
          val e = new Array[Long](dim)
          var i = 0
          while (i < n) {
            val u = MediaCodec.rdU16(payload, 44 + 2 * i)
            val v = if (u < 32768) u.toLong else u.toLong - 65536L
            e((i.toLong * dim / n).toInt) += v * v
            i += 1
          }
          var tot = 0L
          var b = 0
          while (b < dim) { tot += e(b); b += 1 }
          // signed contrast c_b = dim*e_b - total (integer-exact, sums
          // to zero), then ONE double fold in bucket order
          var dot = 0.0
          var nc = 0.0
          var nt = 0.0
          b = 0
          while (b < dim) {
            val c = (dim.toLong * e(b) - tot).toDouble
            val tb = t(b).toDouble
            dot += c * tb; nc += c * c; nt += tb * tb
            b += 1
          }
          val score =
            if (nc == 0.0 || nt == 0.0) 0.0 else dot / math.sqrt(nc * nt)
          AudioAlign(outId, n.toLong, score,
            if (score >= threshold) "aligned" else "unaligned")
        }
        val nat = rowFor(id, MediaCodec.wav(8000 + (id % 8).toInt * 1000,
          (id % 1000).toInt + 1, id))
        if (id < variantCut) {
          val planted = new Array[Int](plantN)
          var i = 0
          while (i < plantN) {
            if (t((i.toLong * dim / plantN).toInt) > 0) planted(i) = plantAmp
            i += 1
          }
          Seq(nat, rowFor(id + 5000000L, MediaCodec.wavPcm(8000, planted)))
        } else Seq(nat)
      }.toDF()
  }

  def audioAlignSql(dim: Int = 64, threshold: Double = 0.5,
      variantCut: Long = 30L, plantN: Int = 256,
      plantAmp: Int = 1000): String = {
    import graft.functions.PolyHash.{sql => polySql}
    val h = polySql("tok")
    val perBucket = plantN / dim
    // the shared double fold over (c, tb) pairs in bucket order; c and
    // tb arrive as exact integers, each product/square rounds in double
    // exactly like the JVM loop
    def fold(expr: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(
            range(1, $dim + 1), i -> $expr)), (a, x) -> a + x)"""
    s"""WITH aud AS (SELECT doc_id, lower(trim(text)) AS t
          FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL),
        tok AS (SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS tok
                FROM aud),
        sl AS (SELECT doc_id, h % $dim AS slot,
                 CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
               FROM (SELECT doc_id, $h AS h FROM tok)),
        sv AS (SELECT doc_id, slot, CAST(sum(sgn) AS BIGINT) AS c
               FROM sl GROUP BY doc_id, slot),
        spine AS (SELECT doc_id, unnest(range(0, $dim)) AS b FROM aud),
        tvec AS (SELECT s.doc_id AS doc_id,
                   list(CAST(sign(coalesce(v.c, 0)) AS BIGINT)
                     ORDER BY s.b) AS tb
                 FROM spine s LEFT JOIN sv v
                   ON s.doc_id = v.doc_id AND s.b = v.slot
                 GROUP BY s.doc_id),
        nats AS (SELECT doc_id, n, (i * $dim) // n AS b,
                   CASE WHEN (doc_id + i*37) % 65536 < 32768
                        THEN (doc_id + i*37) % 65536
                        ELSE (doc_id + i*37) % 65536 - 65536 END AS v
                 FROM (SELECT doc_id, doc_id % 1000 + 1 AS n,
                         unnest(range(0, doc_id % 1000 + 1)) AS i
                       FROM aud)),
        nate AS (SELECT doc_id, b, CAST(sum(v*v) AS BIGINT) AS e
                 FROM nats GROUP BY doc_id, b),
        natv AS (SELECT s.doc_id AS doc_id,
                   CAST(max(n.n) AS BIGINT) AS n_samples,
                   list(CAST(coalesce(ne.e, 0) AS BIGINT)
                     ORDER BY s.b) AS ev
                 FROM spine s
                 JOIN (SELECT DISTINCT doc_id, n FROM nats) n
                   ON s.doc_id = n.doc_id
                 LEFT JOIN nate ne
                   ON s.doc_id = ne.doc_id AND s.b = ne.b
                 GROUP BY s.doc_id),
        plantv AS (SELECT t.doc_id + 5000000 AS doc_id,
                     CAST($plantN AS BIGINT) AS n_samples,
                     list_transform(tb, s ->
                       CASE WHEN s > 0
                         THEN CAST($perBucket * $plantAmp * $plantAmp
                           AS BIGINT)
                         ELSE CAST(0 AS BIGINT) END) AS ev,
                     tb
                   FROM tvec t WHERE t.doc_id < $variantCut),
        uni AS (SELECT n.doc_id AS doc_id, n.n_samples AS n_samples,
                   n.ev AS ev, t.tb AS tb
                 FROM natv n JOIN tvec t ON n.doc_id = t.doc_id
                 UNION ALL
                 SELECT doc_id, n_samples, ev, tb FROM plantv),
        sc AS (SELECT doc_id, n_samples,
                 ${fold(s"CAST($dim * ev[i] - tot AS DOUBLE) * CAST(tb[i] AS DOUBLE)")} AS dot,
                 ${fold(s"CAST($dim * ev[i] - tot AS DOUBLE) * CAST($dim * ev[i] - tot AS DOUBLE)")} AS nc,
                 ${fold("CAST(tb[i] AS DOUBLE) * CAST(tb[i] AS DOUBLE)")} AS nt
               FROM (SELECT doc_id, n_samples, ev, tb,
                       list_reduce(list_prepend(CAST(0 AS BIGINT), ev),
                         (a, x) -> a + x) AS tot
                     FROM uni))
        SELECT doc_id, n_samples,
          CASE WHEN nc = 0.0 OR nt = 0.0 THEN 0.0
               ELSE dot / sqrt(nc * nt) END AS score,
          CASE WHEN (CASE WHEN nc = 0.0 OR nt = 0.0 THEN 0.0
                          ELSE dot / sqrt(nc * nt) END) >= $threshold
               THEN 'aligned' ELSE 'unaligned' END AS decision
        FROM sc"""
  }
}
