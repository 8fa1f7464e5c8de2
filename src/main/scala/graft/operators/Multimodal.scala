package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal binary columns — real encode/decode plumbing. No gate
  * query or mirror page calls it; PipelineSpec's four m-cases (m2,
  * m3/m4, m5, m8) are its only callers (ROADMAP item 1, slice (b)).
  * At scale the payload is an opaque `binary` parquet column
  * (image/audio blobs) carried alongside typed metadata; decode /
  * feature-extract runs per-partition so each task touches only its own
  * blobs and no byte ever crosses the driver.
  *
  * The sandbox ships no media libraries, so the fixture synthesizes
  * REAL self-describing payloads — valid BMP (54-byte
  * BITMAPFILEHEADER+BITMAPINFOHEADER, 24bpp, 4-byte row padding) and
  * canonical 44-byte PCM WAV — deterministically from doc_id, and the
  * decoder genuinely parses the bytes back (magic checks, little-endian
  * field reads, length validation).
  */
object Multimodal {

  /** Feature row the decoder emits. Non-applicable fields carry 0, not
    * NULL — keeps the cross-engine compare free of null-encoding drift. */
  final case class MediaFeatures(
      doc_id: Long, media_type: String, byte_len: Long,
      width: Long, height: Long,
      sample_rate: Long, channels: Long, duration_ms: Long)

  private def u16(b: java.nio.ByteBuffer, v: Int): Unit = b.putShort(v.toShort)
  private def u32(b: java.nio.ByteBuffer, v: Long): Unit = b.putInt(v.toInt)

  /** Deterministic fixture payload for a doc: even ids → BMP, odd → WAV.
    * Dimensions/rates are closed-form in doc_id (mirrored by the oracle
    * SQL); pixel/sample bytes are a cheap LCG of (doc_id, i). */
  def encode(docId: Long): Array[Byte] =
    if (docId % 2 == 0) {
      val width = 16 + (docId % 64).toInt
      val height = 8 + (docId % 32).toInt
      val rowSize = ((width * 3 + 3) / 4) * 4
      val dataSize = rowSize * height
      val fileSize = 54 + dataSize
      val b = java.nio.ByteBuffer.allocate(fileSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte)
      u32(b, fileSize); u32(b, 0); u32(b, 54)          // file header
      u32(b, 40); u32(b, width); u32(b, height)        // DIB header
      u16(b, 1); u16(b, 24); u32(b, 0); u32(b, dataSize)
      u32(b, 2835); u32(b, 2835); u32(b, 0); u32(b, 0)
      var i = 0
      while (i < dataSize) { b.put(((docId * 31 + i * 7) & 0xFF).toByte); i += 1 }
      b.array()
    } else {
      val channels = 1 + ((docId / 2) % 2).toInt
      val sampleRate = 8000 + 100 * (docId % 8).toInt
      val nSamples = 100 + (docId % 400).toInt
      val dataSize = nSamples * channels * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes); u32(b, 36 + dataSize); b.put("WAVE".getBytes)
      b.put("fmt ".getBytes); u32(b, 16)
      u16(b, 1); u16(b, channels); u32(b, sampleRate)
      u32(b, sampleRate.toLong * channels * 2); u16(b, channels * 2); u16(b, 16)
      b.put("data".getBytes); u32(b, dataSize)
      var i = 0
      while (i < dataSize) { b.put(((docId * 17 + i * 13) & 0xFF).toByte); i += 1 }
      b.array()
    }

  /** Parse a BMP or WAV payload into features — REAL byte-level decode:
    * magic dispatch, little-endian reads at the format's offsets, and a
    * declared-vs-actual length check. Throws on anything malformed (a
    * corrupt blob must fail loudly, not ship fake features). */
  def decode(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val b = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M') {
      val fileSize = b.getInt(2).toLong
      require(fileSize == payload.length,
        s"BMP $docId: declared $fileSize != actual ${payload.length}")
      val width = b.getInt(18).toLong
      val height = b.getInt(22).toLong
      val bpp = b.getShort(28).toInt
      require(bpp == 24, s"BMP $docId: unsupported bpp $bpp")
      MediaFeatures(docId, "bmp", payload.length.toLong, width, height, 0L, 0L, 0L)
    } else if (payload.length >= 44 &&
        new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
        new String(payload, 8, 4, "US-ASCII") == "WAVE") {
      val channels = b.getShort(22).toLong
      val sampleRate = b.getInt(24).toLong
      val byteRate = b.getInt(28).toLong
      val bits = b.getShort(34).toInt
      val dataSize = b.getInt(40).toLong
      require(bits == 16, s"WAV $docId: unsupported bits $bits")
      require(44 + dataSize == payload.length,
        s"WAV $docId: declared ${44 + dataSize} != actual ${payload.length}")
      MediaFeatures(docId, "wav", payload.length.toLong, 0L, 0L,
        sampleRate, channels, dataSize * 1000L / byteRate)
    } else sys.error(s"doc $docId: unrecognized payload magic")
  }

  /** Output row of the m3 resize: dimensions and length come from the
    * RE-ENCODED payload; pix_sum is the sum of the sampled pixel bytes —
    * a value the oracle recomputes in closed form, so sampling the wrong
    * source offsets (row padding, channel order, truncated reads) fails
    * the gate even though the output dims would still look right. */
  final case class ResizedImage(
      doc_id: Long, out_w: Long, out_h: Long, out_len: Long, pix_sum: Long)

  /** Nearest-neighbor BMP resize — REAL pixel work on the decoded grid:
    * parse the source header, map each output pixel (px, py) to source
    * pixel (px·w/outW, py·h/outH), copy its 3 channel bytes into a fresh
    * valid 24bpp BMP (4-byte row padding, zeroed pad bytes). Map-side
    * per row; the resized blob is a decodable BMP ([[decode]] accepts
    * it), not just a feature vector. */
  def resizeBmp(docId: Long, payload: Array[Byte],
                outW: Int = 8, outH: Int = 8): (Array[Byte], ResizedImage) = {
    val b = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M',
      s"doc $docId: not a BMP")
    val width = b.getInt(18)
    val height = b.getInt(22)
    require(b.getShort(28) == 24, s"BMP $docId: unsupported bpp")
    val rowSize = ((width * 3 + 3) / 4) * 4
    val outRow = ((outW * 3 + 3) / 4) * 4
    val outSize = 54 + outRow * outH
    val out = java.nio.ByteBuffer.allocate(outSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    u32(out, outSize); u32(out, 0); u32(out, 54)
    u32(out, 40); u32(out, outW); u32(out, outH)
    u16(out, 1); u16(out, 24); u32(out, 0); u32(out, outRow.toLong * outH)
    u32(out, 2835); u32(out, 2835); u32(out, 0); u32(out, 0)
    var sum = 0L
    var py = 0
    while (py < outH) {
      var px = 0
      while (px < outW) {
        val srcX = px * width / outW
        val srcY = py * height / outH
        var c = 0
        while (c < 3) {
          val v = payload(54 + srcY * rowSize + srcX * 3 + c) & 0xFF
          out.put(54 + py * outRow + px * 3 + c, v.toByte)
          sum += v
          c += 1
        }
        px += 1
      }
      py += 1
    }
    (out.array(), ResizedImage(docId, outW.toLong, outH.toLong, outSize.toLong, sum))
  }

  /** 64-bit average hash (aHash) of a BMP — the perceptual fingerprint
    * image pipelines block near-dups on: nearest-neighbor 8x8 grayscale
    * downsample (same sampling as [[resizeBmp]]), bit (py*8+px) set iff
    * that cell's gray exceeds the 64-cell mean. Identical payloads hash
    * identically; uniform brightness shifts cancel (gray and mean move
    * together); banding + Hamming blocking then rides the SAME SimHash
    * pair machinery text near-dup uses (Dedup.simhashPairs over a
    * constructed SimhashIndex). Map-side, no library dependency. */
  def aHashBmp(docId: Long, payload: Array[Byte]): Long = {
    val b = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M',
      s"doc $docId: not a BMP")
    val width = b.getInt(18)
    val height = b.getInt(22)
    require(b.getShort(28) == 24, s"BMP $docId: unsupported bpp")
    val rowSize = ((width * 3 + 3) / 4) * 4
    val gray = new Array[Long](64)
    var total = 0L
    var py = 0
    while (py < 8) {
      var px = 0
      while (px < 8) {
        val srcX = px * width / 8
        val srcY = py * height / 8
        var g = 0L
        var c = 0
        while (c < 3) {
          g += payload(54 + srcY * rowSize + srcX * 3 + c) & 0xFF
          c += 1
        }
        gray(py * 8 + px) = g
        total += g
        px += 1
      }
      py += 1
    }
    // bit set iff gray*64 > total — integer compare, no float mean
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (gray(i) * 64 > total) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Output row of the m4 frame-sampler: header-derived sample counts
    * plus the signed-int16 sum of each frame's first sample — recomputed
    * closed-form by the oracle, so a wrong stride, wrong channel layout,
    * or wrong endianness shifts the sum and fails the gate. */
  final case class FrameSamples(
      doc_id: Long, n_samples: Long, n_frames: Long, frame_sum: Long)

  /** WAV frame-sampling — the audio analog of frame extraction: parse
    * the PCM header, step through the interleaved int16 stream at
    * `stride` samples per frame, and read channel 0's little-endian
    * sample at each frame start. Real byte-level reads on the data
    * section, map-side. */
  def frameSampleWav(docId: Long, payload: Array[Byte],
                     stride: Int = 160): FrameSamples = {
    val b = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 44 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE", s"doc $docId: not a WAV")
    val channels = b.getShort(22).toInt
    val dataSize = b.getInt(40)
    val nSamples = dataSize / (channels * 2)
    val nFrames = (nSamples + stride - 1) / stride
    var sum = 0L
    var f = 0
    while (f < nFrames) {
      sum += b.getShort(44 + f * stride * channels * 2).toLong // signed int16
      f += 1
    }
    FrameSamples(docId, nSamples.toLong, nFrames.toLong, sum)
  }

  /** 64-bit energy fingerprint of a WAV — the audio analog of
    * [[aHashBmp]]: sample channel-0 at 64 evenly-spaced positions
    * (nearest-neighbor, like the image downsample), bit w set iff that
    * position's |amplitude| exceeds the 64-position mean (integer
    * compare — |a|*64 > total). Identical payloads fingerprint
    * identically; uniform gain shifts largely cancel; blocking rides
    * the shared SimHash band/Hamming pair path. */
  def aHashWav(docId: Long, payload: Array[Byte]): Long = {
    val b = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 44 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE", s"doc $docId: not a WAV")
    val channels = b.getShort(22).toInt
    val dataSize = b.getInt(40)
    val nSamples = dataSize / (channels * 2)
    val amp = new Array[Long](64)
    var total = 0L
    var w = 0
    while (w < 64) {
      val s = (w.toLong * nSamples / 64).toInt
      val v = math.abs(b.getShort(44 + s * channels * 2).toLong)
      amp(w) = v
      total += v
      w += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (amp(i) * 64 > total) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Deterministic Y4M (YUV4MPEG2) fixture video — a REAL streaming
    * container (mplayer/ffmpeg's uncompressed interchange format): an
    * ASCII parameter header, then per-frame `FRAME\n` markers each
    * followed by a raw C444 picture (3·W·H bytes, Y plane first).
    * Dimensions and frame count are closed-form in doc_id (mirrored by
    * the oracle); picture bytes are the LCG of (doc_id, global byte
    * index) so every per-frame sum is recomputable in SQL. */
  def encodeY4m(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 16).toInt
    val h = 4 + (docId % 8).toInt
    val nf = 3 + (docId % 6).toInt
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A0:0 C444\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val p = w * h
    val out = new Array[Byte](header.length + nf * (6 + 3 * p))
    System.arraycopy(header, 0, out, 0, header.length)
    var off = header.length
    var g = 0
    var f = 0
    while (f < nf) {
      System.arraycopy(marker, 0, out, off, 6); off += 6
      var i = 0
      while (i < 3 * p) {
        out(off) = ((docId * 23 + g.toLong * 11) & 0xFF).toByte
        off += 1; g += 1; i += 1
      }
      f += 1
    }
    out
  }

  /** Output row of the m8 keyframe sampler: header-derived geometry,
    * the frame count COUNTED from the markers (not trusted from any
    * field — Y4M declares none), and the summed Y plane of every
    * sampled frame — closed-form in the oracle, so a wrong header
    * length, marker stride, or plane offset shifts the sum and fails
    * the gate. */
  final case class VideoFrames(
      doc_id: Long, width: Long, height: Long,
      n_frames: Long, n_sampled: Long, luma_sum: Long)

  /** Y4M keyframe sampling — the video analog of m4's audio frames:
    * parse the ASCII parameter header (magic, W/H/C tokens), then walk
    * the stream validating every `FRAME\n` marker; every `stride`-th
    * frame contributes its Y-plane byte sum (the luma content
    * signature real keyframe extractors thumbnail from). Real
    * byte-level reads, map-side; throws on malformed input — a corrupt
    * stream fails loudly. */
  def frameSampleY4m(docId: Long, payload: Array[Byte],
                     stride: Int = 2): VideoFrames = {
    val nl = payload.indexOf('\n'.toByte)
    require(nl > 0, s"doc $docId: no Y4M header line")
    val toks = new String(payload, 0, nl, "US-ASCII").split(" ")
    require(toks(0) == "YUV4MPEG2", s"doc $docId: bad Y4M magic")
    def param(c: Char): Option[String] =
      toks.find(t => t.nonEmpty && t(0) == c).map(_.drop(1))
    val w = param('W').getOrElse(sys.error(s"doc $docId: no W")).toInt
    val h = param('H').getOrElse(sys.error(s"doc $docId: no H")).toInt
    require(param('C').forall(_ == "444"),
      s"doc $docId: unsupported chroma ${param('C')}")
    val p = w * h
    var off = nl + 1
    var nf = 0L; var sampled = 0L; var luma = 0L
    while (off < payload.length) {
      require(payload.length >= off + 6 + 3 * p &&
        new String(payload, off, 6, "US-ASCII") == "FRAME\n",
        s"doc $docId: bad frame marker at $off")
      off += 6
      if (nf % stride == 0) {
        var i = 0
        while (i < p) { luma += payload(off + i) & 0xFF; i += 1 }
        sampled += 1
      }
      off += 3 * p
      nf += 1
    }
    require(off == payload.length, s"doc $docId: trailing bytes")
    VideoFrames(docId, w.toLong, h.toLong, nf, sampled, luma)
  }

  /** Fixture video frame — the video sibling of [[fixturePayloads]]. */
  def fixtureVideoPayloads(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, encodeY4m(id))))
      .toDF("doc_id", "payload")
  }

  /** The m2 pipeline over a (doc_id, payload) frame: per-partition
    * decode, features out. Column pruning keeps the scan at exactly the
    * two columns; no shuffle — decode is embarrassingly parallel. */
  def decodeFeatures(payloads: DataFrame): Dataset[MediaFeatures] = {
    import payloads.sparkSession.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => decode(id, p) })
  }

  /** Fixture payload frame — stands in for the binary parquet column the
    * real corpus would carry. */
  def fixturePayloads(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, encode(id))))
      .toDF("doc_id", "payload")
  }
}
