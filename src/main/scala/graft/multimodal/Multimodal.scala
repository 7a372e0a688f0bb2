package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media payload: opaque bytes + typed metadata. At 100 TB the `data`
  * column dominates storage; metadata columns are tiny and always readable
  * without touching the blobs (parquet column pruning). */
case class MediaRecord(
    media_id: Long,
    kind: String, // image | audio | video
    data: Array[Byte],
    width: Int,
    height: Int,
    duration_ms: Long)

/** Decoded features for a media record. */
case class MediaFeatures(
    media_id: Long,
    kind: String,
    payload_len: Long,
    content_hash: String,
    feature: Array[Double])

/** A media payload with a REAL container header: the bytes start with a
  * valid PNG/JPEG/WAV header whose metadata [[MediaHeaders]] decodes. */
case class MediaPayload(media_id: Long, kind: String, data: Array[Byte])

/** Decoded-from-bytes metadata ([[Multimodal.decodeMetadata]]): Nones are
  * fields the container genuinely does not carry (a PNG has no sample
  * rate), surfaced as SQL nulls. */
case class MediaMetadata(
    media_id: Long,
    kind: String,
    container: String,
    width: Option[Long],
    height: Option[Long],
    sample_rate: Option[Long],
    duration_ms: Option[Long],
    payload_len: Long)

/** Pure-JVM media HEADER codecs — no codec library needed: PNG IHDR,
  * JPEG SOF0 and WAV RIFF/fmt metadata are plain byte arithmetic
  * (network-order ints for PNG/JPEG, little-endian for WAV; real CRC32
  * on PNG chunks via java.util.zip). Writers emit structurally-valid
  * headers; parsers read ANY conforming file's metadata, not just ours —
  * a user pointing the pipeline at real .png/.jpg/.wav payloads gets
  * real dimensions. Sample/pixel decode is real too where no codec
  * library is needed: 16-bit PCM ([[wavSamples]]) and 8-bit grayscale
  * PNG ([[pngPixels]] — IDAT is just a zlib stream plus per-scanline
  * filters); only JPEG entropy decode stays behind
  * [[Multimodal.Codecs]]' fallback. */
object MediaHeaders {
  import java.nio.{ByteBuffer, ByteOrder}

  private def be32(d: Array[Byte], i: Int): Long =
    ((d(i) & 0xffL) << 24) | ((d(i + 1) & 0xffL) << 16) |
      ((d(i + 2) & 0xffL) << 8) | (d(i + 3) & 0xffL)
  private def be16(d: Array[Byte], i: Int): Int =
    ((d(i) & 0xff) << 8) | (d(i + 1) & 0xff)
  private def le32(d: Array[Byte], i: Int): Long =
    (d(i) & 0xffL) | ((d(i + 1) & 0xffL) << 8) |
      ((d(i + 2) & 0xffL) << 16) | ((d(i + 3) & 0xffL) << 24)
  private def le16(d: Array[Byte], i: Int): Int =
    (d(i) & 0xff) | ((d(i + 1) & 0xff) << 8)

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }

  private def pngChunk(chunkType: String, body: Array[Byte]): Array[Byte] = {
    val t = chunkType.getBytes("US-ASCII")
    ByteBuffer.allocate(12 + body.length)
      .putInt(body.length).put(t).put(body).putInt(crc32(t, body)).array()
  }

  /** Minimal structurally-valid PNG: signature + IHDR(w,h) + an IDAT
    * carrying `payload` verbatim (declared: NOT zlib-compressed pixel
    * data — header-level tools parse it, a pixel decoder would not) +
    * IEND. Total length = 57 + payload.length. */
  def pngBytes(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val ihdr = ByteBuffer.allocate(13).putInt(width).putInt(height)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    PngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", payload) ++ pngChunk("IEND", Array.empty)
  }

  /** (width, height) from a PNG's IHDR, or None if the bytes are not a
    * PNG. Spec: IHDR is always the first chunk, at a fixed offset. */
  def pngDims(d: Array[Byte]): Option[(Long, Long)] =
    if (d.length >= 24 && d.startsWith(PngSig) &&
        new String(d, 12, 4, "US-ASCII") == "IHDR")
      Some((be32(d, 16), be32(d, 20)))
    else None

  /** Minimal structurally-valid JPEG: SOI + SOF0(h,w, 3 components) +
    * `payload` verbatim (stands in for the SOS/entropy stream) + EOI.
    * Total length = 23 + payload.length. */
  def jpegBytes(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val sof0 = ByteBuffer.allocate(19)
      .put(0xff.toByte).put(0xc0.toByte).putShort(17.toShort) // seg len incl. itself
      .put(8.toByte).putShort(height.toShort).putShort(width.toShort).put(3.toByte)
      .put(Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)) // Y/Cb/Cr sampling+qtable
      .array()
    Array(0xff.toByte, 0xd8.toByte) ++ sof0 ++ payload ++ Array(0xff.toByte, 0xd9.toByte)
  }

  /** (width, height) from the first SOF0/1/2 frame header of a JPEG's
    * marker stream, or None. Walks segments by their declared lengths
    * (the standard scan — works on real progressive/baseline files),
    * stopping at SOS: past it lies entropy data, not markers. */
  def jpegDims(d: Array[Byte]): Option[(Long, Long)] = {
    if (d.length < 4 || (d(0) & 0xff) != 0xff || (d(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 3 < d.length && (d(i) & 0xff) == 0xff) {
      val marker = d(i + 1) & 0xff
      if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
        return if (i + 8 < d.length)
          Some((be16(d, i + 7).toLong, be16(d, i + 5).toLong))
        else None
      } else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9) || marker == 0x01) {
        i += 2 // standalone marker, no length field
      } else if (marker == 0xda) {
        return None // scan data begins; no frame header seen
      } else {
        if (i + 3 >= d.length) return None
        i += 2 + be16(d, i + 2)
      }
    }
    None
  }

  /** Classic 44-byte WAV header (RIFF + PCM fmt + data chunk header)
    * followed by `payload` as the sample data. Total = 44 + payload. */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
      payload: Array[Byte]): Array[Byte] = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    ByteBuffer.allocate(44 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36 + payload.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort) // PCM
      .putInt(sampleRate).putInt(byteRate)
      .putShort((channels * bitsPerSample / 8).toShort).putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(payload.length)
      .put(payload).array()
  }

  /** (sampleRate, durationMs) from a WAV's fmt + data chunks, walking the
    * RIFF chunk list (handles non-canonical chunk orders and LIST/fact
    * chunks real recorders emit). durationMs = floor(dataBytes * 1000 /
    * byteRate). None if not a parseable RIFF/WAVE. */
  def wavFormat(d: Array[Byte]): Option[(Long, Long)] = {
    if (d.length < 44 || new String(d, 0, 4, "US-ASCII") != "RIFF" ||
        new String(d, 8, 4, "US-ASCII") != "WAVE") return None
    var i = 12
    var byteRate = -1L
    var sampleRate = -1L
    var dataLen = -1L
    while (i + 8 <= d.length && (byteRate < 0 || dataLen < 0)) {
      val id = new String(d, i, 4, "US-ASCII")
      val size = le32(d, i + 4)
      if (id == "fmt " && i + 24 <= d.length) {
        sampleRate = le32(d, i + 12)
        byteRate = le32(d, i + 16)
      } else if (id == "data") {
        dataLen = math.min(size, (d.length - i - 8).toLong) // tolerate truncation
      }
      i += 8 + size.toInt + (size.toInt & 1) // RIFF pads odd chunks
    }
    if (byteRate > 0 && dataLen >= 0) Some((sampleRate, dataLen * 1000L / byteRate))
    else None
  }
  /** Channel count from a canonical WAV header's fmt chunk. */
  private[graft] def wavChannels(d: Array[Byte]): Int = le16(d, 22)

  /** PCM samples from a 16-bit WAV's data chunk (channels interleaved
    * as written), walking the RIFF chunk list like [[wavFormat]] —
    * sample-level decode, not header sniffing. Little-endian signed
    * 16-bit per the PCM spec; truncated data chunks yield the complete
    * prefix. Empty if not parseable 16-bit PCM. */
  def wavSamples(d: Array[Byte]): Array[Short] = {
    if (d.length < 44 || new String(d, 0, 4, "US-ASCII") != "RIFF" ||
        new String(d, 8, 4, "US-ASCII") != "WAVE") return Array.empty
    var i = 12
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= d.length && (bits < 0 || dataOff < 0)) {
      val id = new String(d, i, 4, "US-ASCII")
      val size = le32(d, i + 4).toInt
      if (id == "fmt " && i + 24 <= d.length) bits = le16(d, i + 22)
      else if (id == "data") {
        dataOff = i + 8
        dataLen = math.min(size, d.length - i - 8)
      }
      i += 8 + size + (size & 1) // RIFF pads odd chunks
    }
    if (bits != 16 || dataOff < 0) return Array.empty
    val n = dataLen / 2
    val out = new Array[Short](n)
    var j = 0
    while (j < n) {
      out(j) = ((d(dataOff + 2 * j) & 0xff) | (d(dataOff + 2 * j + 1) << 8)).toShort
      j += 1
    }
    out
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** REAL pixel-level PNG writer: 8-bit grayscale (color type 0) or
    * 8-bit RGB truecolor (color type 2), each scanline filtered per the
    * PNG spec with filter type `y % 5` — so a written image exercises
    * None/Sub/Up/Average/Paeth — and the filtered stream zlib-DEFLATED
    * into IDAT (java.util.zip.Deflater; PNG's IDAT *is* a zlib stream,
    * no codec library involved). Any conforming PNG reader decodes
    * these; [[pngSamples]] is the inverse. Per the spec, filters
    * operate BYTEWISE with the left neighbor `bpp` bytes back — which
    * is what makes one code path serve both color types. */
  private def pngSampleBytes(width: Int, height: Int, nc: Int,
      samples: Array[Int]): Array[Byte] = {
    require(nc == 1 || nc == 3, s"pngSampleBytes: $nc samples/pixel")
    require(width > 0 && height > 0 && samples.length == width * height * nc,
      s"pngSampleBytes: ${samples.length} samples for ${width}x$height x$nc")
    val rowBytes = width * nc
    val raw = new Array[Byte]((rowBytes + 1) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (rowBytes + 1)) = f.toByte
      var bx = 0
      while (bx < rowBytes) {
        val orig = samples(y * rowBytes + bx) & 0xff
        val left = if (bx >= nc) samples(y * rowBytes + bx - nc) & 0xff else 0
        val up = if (y > 0) samples((y - 1) * rowBytes + bx) & 0xff else 0
        val ul = if (bx >= nc && y > 0) samples((y - 1) * rowBytes + bx - nc) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        raw(y * (rowBytes + 1) + 1 + bx) = ((orig - pred) & 0xff).toByte
        bx += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val colorType = if (nc == 3) 2 else 0
    val ihdr = ByteBuffer.allocate(13).putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    PngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", out.toByteArray) ++
      pngChunk("IEND", Array.empty)
  }

  /** 8-bit grayscale PNG writer (color type 0). */
  def pngPixelBytes(width: Int, height: Int, pixels: Array[Int]): Array[Byte] =
    pngSampleBytes(width, height, 1, pixels)

  /** 8-bit RGB truecolor PNG writer (color type 2); `samples` is
    * pixel-major interleaved R,G,B — the same layout
    * [[graft.multimodal.JpegCodec.encodeInterleaved]] takes, so a color
    * fixture feeds both containers from one array. */
  def pngPixelBytesRgb(width: Int, height: Int, samples: Array[Int]): Array[Byte] =
    pngSampleBytes(width, height, 3, samples)

  /** REAL pixel-level PNG decode for 8-bit grayscale: [[pngSamples]]
    * narrowed to color type 0. Returns (width, height, pixels
    * row-major), or None — color PNGs decode via [[pngSamples]]. */
  def pngPixels(d: Array[Byte]): Option[(Long, Long, Array[Int])] =
    pngSamples(d) match {
      case Some((w, h, 1, px)) => Some((w, h, px))
      case _ => None
    }

  /** REAL pixel-level PNG decode for 8-bit grayscale (color type 0)
    * and 8-bit RGB truecolor (color type 2): walk the chunk list (IDAT
    * may be split across chunks — all bodies concatenate into one zlib
    * stream), INFLATE it, and reverse each scanline's filter (all five
    * types, BYTEWISE with the left neighbor `bpp` bytes back,
    * reconstructing against already-decoded neighbors as the spec
    * requires). Returns (width, height, samples-per-pixel, samples
    * pixel-major interleaved), or None for anything unparseable —
    * other color types / bit depths, truncated or corrupt streams —
    * never a throw: one bad blob must not kill a 100 TB scan. */
  def pngSamples(d: Array[Byte]): Option[(Long, Long, Int, Array[Int])] = {
    if (d.length < 45 || !d.startsWith(PngSig)) return None
    var i = 8
    var w = -1
    var h = -1
    var bitDepth = -1
    var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    while (i + 8 <= d.length) {
      val len = be32(d, i).toInt
      if (len < 0 || i + 12 + len > d.length) return None // truncated chunk
      val typ = new String(d, i + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(d, i + 8).toInt
          h = be32(d, i + 12).toInt
          bitDepth = d(i + 16) & 0xff
          colorType = d(i + 17) & 0xff
        case "IDAT" => idat.write(d, i + 8, len)
        case _ => ()
      }
      i += 12 + len // length + type + body + crc
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 ||
      (colorType != 0 && colorType != 2) || idat.size() == 0)
      return None
    val nc = if (colorType == 2) 3 else 1
    // Untrusted IHDR dims (ADVICE r15): a crafted ~50-byte header can
    // claim dims whose Int product overflows (throw) or demands
    // multi-GB buffers — gate on the shared sample budget in Long
    // arithmetic BEFORE allocating, None like any unparseable blob.
    if (w.toLong * h * nc > JpegCodec.MaxDecodeSamples) return None
    val rowBytes = w * nc
    val raw = new Array[Byte]((rowBytes + 1) * h)
    val inflater = new java.util.zip.Inflater()
    try {
      inflater.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && inflater.needsInput()) return None // truncated stream
        off += n
      }
      if (off != raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    val px = new Array[Int](w * h * nc)
    var y = 0
    while (y < h) {
      val f = raw(y * (rowBytes + 1)) & 0xff
      if (f > 4) return None
      var bx = 0
      while (bx < rowBytes) {
        val filt = raw(y * (rowBytes + 1) + 1 + bx) & 0xff
        val left = if (bx >= nc) px(y * rowBytes + bx - nc) else 0
        val up = if (y > 0) px((y - 1) * rowBytes + bx) else 0
        val ul = if (bx >= nc && y > 0) px((y - 1) * rowBytes + bx - nc) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        px(y * rowBytes + bx) = (filt + pred) & 0xff
        bx += 1
      }
      y += 1
    }
    Some((w.toLong, h.toLong, nc, px))
  }

  /** MJPEG "container": a motion-JPEG stream IS concatenated JPEG frames
    * — there is no outer wrapper to invent. */
  def mjpegBytes(frames: Seq[Array[Byte]]): Array[Byte] = frames.flatten.toArray

  /** Split an MJPEG stream into complete SOI..EOI frames. Boundary
    * detection on the bare markers is sound because conforming JPEG
    * writers byte-stuff 0xFF in entropy data as FF00 (so a raw FFD9 can
    * only be EOI); [[jpegBytes]]' ASCII payloads contain no 0xFF at all,
    * and the SOF0 field values it can emit (dims ≤ 1920, sampling
    * constants) never form an FFD8/FFD9 pair either. Trailing bytes
    * after the last complete frame are dropped (truncation-tolerant). */
  def mjpegFrames(d: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    var start = -1
    while (i + 1 < d.length) {
      val a = d(i) & 0xff
      val b = d(i + 1) & 0xff
      if (a == 0xff && b == 0xd8 && start < 0) { start = i; i += 2 }
      else if (a == 0xff && b == 0xd9 && start >= 0) {
        out += java.util.Arrays.copyOfRange(d, start, i + 2)
        start = -1
        i += 2
      } else i += 1
    }
    out.result()
  }
}

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * Decode depth, all pure-JVM ([[MediaHeaders]]/[[JpegCodec]], no codec
  * library):
  *  - header-level metadata is REAL for PNG/JPEG/WAV (q110);
  *  - SAMPLE-level audio decode is real (16-bit PCM, q123);
  *  - PIXEL-level image decode is real for 8-bit grayscale PNG (zlib
  *    inflate + scanline unfilter, q127) AND baseline grayscale JPEG
  *    (generic in-file DQT/DHT tables, Huffman entropy decode, IDCT,
  *    q163);
  *  - MJPEG frame split/sampling is real (q120).
  * [[Codecs]]' last-resort fallback for payloads neither codec decodes
  * (color JPEG/progressive/other containers) is byte-statistic
  * features, deterministic so specs and oracles can pin them. The
  * surrounding plumbing — schema, Dataset encoders, per-partition
  * batching, partition sizing — is the real distributed shape: swap the
  * fallback for a JNI/codec call and nothing else changes.
  */
object Multimodal {

  /** Codec layer. Image pixel decode is REAL for PNG payloads
    * ([[MediaHeaders.pngPixels]]: zlib inflate + scanline unfilter — q127
    * oracle-gates it end-to-end) and for baseline grayscale JPEG
    * ([[JpegCodec.decode]]: generic table-driven Huffman + IDCT — q163
    * gates it); WAV sample decode is real elsewhere
    * ([[MediaHeaders.wavSamples]], q123). Payloads neither codec covers
    * (color/progressive JPEG, other containers) get deterministic byte
    * statistics as the last resort. */
  object Codecs {
    /** Image feature extraction: for a decodable PNG (gray or RGB
      * truecolor) or baseline JPEG (grayscale or 3-component 4:4:4),
      * REAL pixel features — [n_samples, mean sample value, sample
      * variance, width] from the actual decoded samples (for color the
      * moments run over all channels' interleaved samples — the
      * channel-blind brightness screen; per-channel moments are
      * q166's surface). For anything else, the byte-statistic stand-in
      * [len, mean byte, first, last] (deterministic, so specs and
      * oracles can pin outputs). */
    def decodeFeatures(data: Array[Byte]): Array[Double] =
      MediaHeaders.pngSamples(data).map { case (w, _, _, px) => (w, 0L, px) }
        .orElse(JpegCodec.decodeInterleaved(data)
          .map { case (w, _, _, px) => (w, 0L, px) }) match {
        case Some((w, _, px)) =>
          var s = 0L
          var ss = 0L
          px.foreach { v => s += v; ss += v.toLong * v }
          val n = px.length.toDouble
          val mean = s / n
          Array(px.length.toDouble, mean, ss / n - mean * mean, w.toDouble)
        case None =>
          if (data.isEmpty) Array.fill(4)(0.0)
          else {
            val n = data.length.toDouble
            val sum = data.foldLeft(0L)((a, b) => a + (b & 0xff))
            Array(n, sum / n, (data.head & 0xff).toDouble, (data.last & 0xff).toDouble)
          }
      }

    /** Stand-in for resize: truncate payload to `maxBytes`. */
    def resize(data: Array[Byte], maxBytes: Int): Array[Byte] = data.take(maxBytes)
  }

  /** REAL frame sampling (not a stub): parse the MJPEG frame boundaries
    * ([[MediaHeaders.mjpegFrames]]) and keep every `stride`-th complete
    * frame, first frame always retained — the decode-free keyframe
    * thinning a video ingest pipeline runs before feature extraction.
    * Pure per-row byte work; q120 oracle-gates it end-to-end. */
  def frameSample(data: Array[Byte], stride: Int): Array[Byte] =
    MediaHeaders.mjpegBytes(
      MediaHeaders.mjpegFrames(data).zipWithIndex
        .collect { case (f, i) if i % stride == 0 => f })

  /** Fabricate a media table from `documents` (payload = utf-8 bytes of
    * text) — the testdata has no binary column, so the plumbing is proven
    * on synthetic-but-real bytes. */
  def mediaFromDocuments(s: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select(
        $"doc_id".as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          ($"doc_id" % 3 + 1).cast("int")).as("kind"),
        $"text".cast("binary").as("data"),
        ($"n_chars" % 1920).cast("int").as("width"),
        ($"n_chars" % 1080).cast("int").as("height"),
        ($"n_chars" * 40L).as("duration_ms"))
      .as[MediaRecord]
  }

  /** Fabricate a media table whose payloads carry VALID container
    * headers ([[MediaHeaders]] writers), so header-decode is provable
    * end-to-end: the decoded metadata must equal what the generator
    * formula encoded, and the formula is SQL-expressible for the oracle.
    * Per doc (kind by doc_id % 3, sizes from n_chars, body = utf-8 text):
    *  - image → PNG,  width = n_chars % 1920 + 1, height = n_chars % 1080 + 1
    *  - audio → WAV,  rate = 8000 + (n_chars % 8) * 1000, mono 16-bit PCM
    *  - video → JPEG keyframe stand-in, width = n_chars % 1280 + 1,
    *    height = n_chars % 720 + 1 (duration is not a JPEG header field →
    *    decodes to null) */
  def mediaWithHeaders(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select($"doc_id", $"n_chars", $"text")
      .as[(Long, Long, String)]
      .map { case (docId, nChars, text) =>
        val body = text.getBytes("UTF-8")
        val n = nChars.toInt
        (docId % 3) match {
          case 0 => MediaPayload(docId, "image",
            MediaHeaders.pngBytes(n % 1920 + 1, n % 1080 + 1, body))
          case 1 => MediaPayload(docId, "audio",
            MediaHeaders.wavBytes(8000 + (n % 8) * 1000, 1, 16, body))
          case _ => MediaPayload(docId, "video",
            MediaHeaders.jpegBytes(n % 1280 + 1, n % 720 + 1, body))
        }
      }
  }

  /** Header-level metadata decode — REAL parsing of the payload bytes,
    * not a stub: container sniffed from magic bytes, then the matching
    * [[MediaHeaders]] parser. Unparseable payloads yield container
    * "unknown" with null metadata (never a throw: one corrupt blob must
    * not kill a 100 TB scan). Pure per-row work → distributes at scan
    * speed; typed Dataset.map keeps the binary column off any shuffle. */
  def decodeMetadata(media: Dataset[MediaPayload]): Dataset[MediaMetadata] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val d = m.data
      val png = MediaHeaders.pngDims(d)
      val wav = if (png.isEmpty) MediaHeaders.wavFormat(d) else None
      val jpg = if (png.isEmpty && wav.isEmpty) MediaHeaders.jpegDims(d) else None
      val container =
        if (png.nonEmpty) "png" else if (wav.nonEmpty) "wav"
        else if (jpg.nonEmpty) "jpeg" else "unknown"
      val dims = png.orElse(jpg)
      MediaMetadata(
        media_id = m.media_id,
        kind = m.kind,
        container = container,
        width = dims.map(_._1),
        height = dims.map(_._2),
        sample_rate = wav.map(_._1),
        duration_ms = wav.map(_._2),
        payload_len = d.length.toLong)
    }
  }

  /** Decode + feature-extract via mapPartitions: the codec is invoked once
    * per row but initialized once per PARTITION (the expensive part for
    * real codecs) — the Spark-idiomatic batch shape for a native library.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init: one digest instance (and, in production, one
      // codec context) per task, reset per row — not re-created per row
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val feats = Codecs.decodeFeatures(r.data)
        md.reset()
        MediaFeatures(
          media_id = r.media_id,
          kind = r.kind,
          payload_len = r.data.length.toLong,
          content_hash = md.digest(r.data).map("%02x".format(_)).mkString,
          feature = feats)
      }
    }
  }

  /** The oracle-checkable face of the pipeline: payload length, content
    * hash, and byte-statistic features — expressed with built-in
    * expressions (the mapPartitions path above is spec-tested for
    * equivalence in MultimodalSpec). */
  def q37MediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaFromDocuments(s, d).toDF()
      .select($"media_id", $"kind",
        length($"data").cast("long").as("payload_len"),
        md5($"data").as("content_hash"),
        $"width".cast("long").as("width"),
        $"height".cast("long").as("height"),
        $"duration_ms")
  }

  val q37Sql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(length(text) AS BIGINT) AS payload_len,
      |  md5(text) AS content_hash,
      |  CAST(n_chars % 1920 AS BIGINT) AS width,
      |  CAST(n_chars % 1080 AS BIGINT) AS height,
      |  n_chars * 40 AS duration_ms
      |FROM documents""".stripMargin

  /** q110: metadata decoded FROM THE BYTES of valid container headers.
    * The Spark side generates payloads ([[mediaWithHeaders]]) and parses
    * them back ([[decodeMetadata]]); the oracle recomputes the same
    * values from the generator's arithmetic — a hash match proves the
    * byte writers and parsers invert each other exactly. */
  def q110MediaDecode(s: SparkSession, d: String): DataFrame =
    decodeMetadata(mediaWithHeaders(s, d)).toDF()

  /** Oracle twin of the generator formulas. Payload lengths are the
    * containers' structural overhead (PNG 57 = sig + IHDR + IDAT/IEND
    * framing, WAV 44 = RIFF/fmt/data header, JPEG 23 = SOI + SOF0 + EOI)
    * plus the utf-8 body; strlen = BYTE length in DuckDB, matching the
    * binary payload. WAV duration: floor(bytes * 1000 / byteRate),
    * byteRate = 2 * rate for mono 16-bit. */
  val q110Sql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS container,
      |  CASE doc_id % 3 WHEN 0 THEN CAST(n_chars % 1920 + 1 AS BIGINT)
      |                  WHEN 2 THEN CAST(n_chars % 1280 + 1 AS BIGINT) END AS width,
      |  CASE doc_id % 3 WHEN 0 THEN CAST(n_chars % 1080 + 1 AS BIGINT)
      |                  WHEN 2 THEN CAST(n_chars % 720 + 1 AS BIGINT) END AS height,
      |  CASE doc_id % 3 WHEN 1
      |    THEN CAST(8000 + (n_chars % 8) * 1000 AS BIGINT) END AS sample_rate,
      |  CASE doc_id % 3 WHEN 1
      |    THEN CAST(strlen(text) * 1000 // (2 * (8000 + (n_chars % 8) * 1000)) AS BIGINT)
      |  END AS duration_ms,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 57 WHEN 1 THEN 44 ELSE 23 END
      |       + strlen(text) AS BIGINT) AS payload_len
      |FROM documents""".stripMargin

  /** Fabricate MJPEG "videos" from every doc_id % 3 == 2 doc: K =
    * n_chars % 7 + 2 keyframes, frame j sized ((n_chars + j) % 1280 + 1,
    * (n_chars + j) % 720 + 1), payload = the doc's utf-8 text (ASCII ⇒
    * marker-safe by construction, see [[MediaHeaders.mjpegFrames]]). */
  def videosWithFrames(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .where(hasVideo(col("doc_id")))
      .select(col("doc_id"), col("n_chars"), col("text")).as[(Long, Long, String)]
      .map { case (docId, nChars, text) =>
        val n = nChars.toInt
        val k = n % 7 + 2
        val frames = (0 until k).map(j => MediaHeaders.jpegBytes(
          (n + j) % 1280 + 1, (n + j) % 720 + 1, text.getBytes("UTF-8")))
        MediaPayload(docId, "video", MediaHeaders.mjpegBytes(frames))
      }
  }

  /** q120: frame sampling proven END-TO-END from the bytes — generate
    * multi-frame MJPEG, thin to every 2nd frame with the real marker
    * walk, re-parse the SAMPLED stream, and report counts/lengths/dims
    * of what survived; the oracle recomputes every value from the
    * generator arithmetic, so a hash match proves split∘concat inversion
    * and the sampling policy at once. Per-row byte work — scan-speed at
    * any scale, binary never crosses a shuffle. */
  def q120FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videosWithFrames(s, d).map { p =>
      val orig = MediaHeaders.mjpegFrames(p.data)
      val sampledBytes = frameSample(p.data, 2)
      val kept = MediaHeaders.mjpegFrames(sampledBytes)
      val (fw, fh) = MediaHeaders.jpegDims(kept.head).getOrElse((-1L, -1L))
      val (lw, lh) = MediaHeaders.jpegDims(kept.last).getOrElse((-1L, -1L))
      (p.media_id, orig.size.toLong, kept.size.toLong, sampledBytes.length.toLong,
        fw, fh, lw, lh)
    }.toDF("media_id", "n_frames", "n_kept", "kept_len",
      "first_w", "first_h", "last_w", "last_h")
  }

  /** Oracle twin of [[q120FrameSample]]: K = n_chars%7+2 frames of
    * 23+strlen(text) bytes each; stride-2 keeps ceil(K/2) frames, the
    * last kept being index 2·⌊(K−1)/2⌋. */
  val q120Sql: String =
    """SELECT doc_id AS media_id,
      |  CAST(n_chars % 7 + 2 AS BIGINT) AS n_frames,
      |  CAST((n_chars % 7 + 3) // 2 AS BIGINT) AS n_kept,
      |  CAST(((n_chars % 7 + 3) // 2) * (23 + strlen(text)) AS BIGINT) AS kept_len,
      |  CAST(n_chars % 1280 + 1 AS BIGINT) AS first_w,
      |  CAST(n_chars % 720 + 1 AS BIGINT) AS first_h,
      |  CAST((n_chars + 2 * ((n_chars % 7 + 1) // 2)) % 1280 + 1 AS BIGINT) AS last_w,
      |  CAST((n_chars + 2 * ((n_chars % 7 + 1) // 2)) % 720 + 1 AS BIGINT) AS last_h
      |FROM documents WHERE doc_id % 3 = 2""".stripMargin

  /** Fabricate WAVs with REAL PCM payloads from every audio-kind doc
    * (doc_id % 3 == 1): 768 mono 16-bit samples, sample i =
    * ((doc_id·31 + i·17) mod 65536) − 32768 — spans the full signed
    * range and is SQL-expressible for the oracle. Rate follows q110's
    * formula, so header- and sample-level decode share one generator. */
  def audioWithPcm(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .where(hasAudio(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val bb = java.nio.ByteBuffer.allocate(768 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < 768) {
          bb.putShort((((docId * 31 + i * 17) % 65536) - 32768).toShort)
          i += 1
        }
        MediaPayload(docId, "audio",
          MediaHeaders.wavBytes(8000 + (nChars.toInt % 8) * 1000, 1, 16, bb.array()))
      }
  }

  /** q123: SAMPLE-level audio decode — windowed RMS/peak energy from
    * the PCM bytes (the silence-trim / loudness-bucket primitive an
    * audio ingest pipeline runs before transcription). The WAV data
    * chunk is decoded back to int16 ([[MediaHeaders.wavSamples]]),
    * split into 256-sample windows, and each window reports RMS and
    * peak; rate/duration come from the fmt-chunk header decode. Exact
    * cross-engine: v² ≤ 2³⁰ and 256 terms keep every intermediate sum
    * an exact double, so the oracle's re-generated arithmetic matches
    * to the last bit before the shared round(…, 4). Per-row byte work,
    * no shuffle — scan-speed on a 100 TB audio corpus. */
  def q123AudioEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioWithPcm(s, d).flatMap { m =>
      val fmt = MediaHeaders.wavFormat(m.data)
      val samples = MediaHeaders.wavSamples(m.data)
      fmt.toSeq.flatMap { case (rate, durMs) =>
        samples.grouped(256).zipWithIndex.map { case (w, wi) =>
          var sumSq = 0.0
          var peak = 0L
          w.foreach { sv =>
            val v = sv.toDouble
            sumSq += v * v
            peak = math.max(peak, math.abs(sv.toLong))
          }
          (m.media_id, wi.toLong, math.sqrt(sumSq / w.length), peak, rate, durMs)
        }
      }
    }.toDF("media_id", "window_idx", "rms", "peak", "sample_rate", "duration_ms")
      .withColumn("rms", round(col("rms"), 4))
  }

  /** Oracle twin of [[q123AudioEnergy]]: regenerate the PCM formula,
    * window by i // 256, and recompute RMS/peak — a hash match proves
    * the LE int16 writer and reader invert each other on every sample. */
  val q123Sql: String =
    """WITH a AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT a.doc_id, a.n_chars, g.i,
      |        CAST(((a.doc_id * 31 + g.i * 17) % 65536) - 32768 AS DOUBLE) AS v
      |      FROM a, (SELECT unnest(generate_series(0, 767)) AS i) g)
      |SELECT doc_id AS media_id,
      |  CAST(i // 256 AS BIGINT) AS window_idx,
      |  round(sqrt(avg(v * v)), 4) AS rms,
      |  CAST(max(CAST(abs(v) AS BIGINT)) AS BIGINT) AS peak,
      |  CAST(8000 + (n_chars % 8) * 1000 AS BIGINT) AS sample_rate,
      |  CAST(1536000 // (2 * (8000 + (n_chars % 8) * 1000)) AS BIGINT) AS duration_ms
      |FROM s GROUP BY doc_id, n_chars, i // 256""".stripMargin

  /** Fabricate PNGs with REAL zlib-compressed filtered pixel data from
    * every image-kind doc (doc_id % 3 == 0): w = n_chars % 24 + 8,
    * h = n_chars % 16 + 8, pixel(x, y) = (doc_id·7 + y·13 + x·31) mod
    * 256 — SQL-expressible for the oracle, and spanning all scanline
    * filter types via the writer's y % 5 policy. */
  def imagesWithPixels(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    imagesFromDocs(Tables(s, sfDir, "documents"))

  /** [[imagesWithPixels]] over an arbitrary (doc_id, n_chars) frame —
    * the maintained modality index derives CDC-changed docs' images
    * through the same generator the batch queries read. */
  def imagesFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where(hasImage(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = (nChars % 24 + 8).toInt
        val h = (nChars % 16 + 8).toInt
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            px(y * w + x) = ((docId * 7 + y * 13 + x * 31) % 256).toInt
            x += 1
          }
          y += 1
        }
        MediaPayload(docId, "image", MediaHeaders.pngPixelBytes(w, h, px))
      }
  }

  /** q127: PIXEL-level image decode — mean/variance luminance computed
    * from pixels reconstructed out of the PNG's zlib stream
    * ([[MediaHeaders.pngPixels]]), the brightness/contrast screen an
    * image ingest pipeline runs before a model sees the data. The
    * oracle regenerates the pixel formula and recomputes both moments,
    * so a hash match proves deflate∘inflate AND filter∘unfilter invert
    * on every pixel of every image (the writer cycles all 5 filter
    * types). Exact cross-engine: pixel sums (< 2¹⁸) and square sums
    * (< 2²⁶) are exact doubles, and both engines compute
    * s/n then ss/n − mean² in the same order before the shared
    * round(…, 4). Per-row byte work, no shuffle — scan-speed at 100 TB,
    * binary never leaves its task. */
  def q127PngPixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imagesWithPixels(s, d).flatMap { m =>
      MediaHeaders.pngPixels(m.data).map { case (w, h, px) =>
        var sum = 0L
        var sumSq = 0L
        px.foreach { v => sum += v; sumSq += v.toLong * v }
        val n = px.length
        val mean = sum.toDouble / n
        (m.media_id, w, h, mean, sumSq.toDouble / n - mean * mean)
      }
    }.toDF("media_id", "width", "height", "mean_lum", "var_lum")
      .withColumn("mean_lum", round(col("mean_lum"), 4))
      .withColumn("var_lum", round(col("var_lum"), 4))
  }

  /** Oracle twin of [[q127PngPixels]]: regenerate pixel(x, y) over
    * constant-bounded series (w ≤ 31, h ≤ 23) and recompute the
    * moments with the same expression order. */
  val q127Sql: String =
    """WITH im AS (SELECT doc_id, CAST(n_chars % 24 + 8 AS BIGINT) AS w,
      |                   CAST(n_chars % 16 + 8 AS BIGINT) AS h
      |            FROM documents WHERE doc_id % 3 = 0),
      |px AS (SELECT im.doc_id, im.w, im.h,
      |              CAST((im.doc_id * 7 + y.g * 13 + x.g * 31) % 256 AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 22)) AS g) y,
      |            (SELECT unnest(generate_series(0, 30)) AS g) x
      |       WHERE y.g < im.h AND x.g < im.w),
      |a AS (SELECT doc_id, w, h, CAST(sum(v) AS DOUBLE) AS s,
      |             CAST(sum(v * v) AS DOUBLE) AS ss, count(*) AS n
      |      FROM px GROUP BY doc_id, w, h)
      |SELECT doc_id AS media_id, w AS width, h AS height,
      |  round(s / n, 4) AS mean_lum,
      |  round(ss / n - (s / n) * (s / n), 4) AS var_lum
      |FROM a""".stripMargin

  /** 64-bit perceptual AVERAGE HASH of a grayscale image: block-average
    * the pixels onto an 8×8 grid (cell (cx, cy) collects pixels with
    * cx = ⌊x·8/w⌋, cy = ⌊y·8/h⌋ — every cell non-empty for w, h ≥ 8),
    * then set bit cy·8+cx iff the cell mean ≥ the IMAGE mean. The
    * comparison is integer cross-multiplication (cellSum·nTotal ≥
    * totalSum·cellCount), so it is exact and reproducible by any engine
    * with 64-bit integers — no float mean ever compared. Returned split
    * as (bits 32..63, bits 0..31, popcount): two non-negative < 2³²
    * BIGINTs survive every engine's signed-long arithmetic, where a
    * packed bit 63 would go negative. */
  private[graft] def ahash64(w: Int, h: Int, px: Array[Int]): (Long, Long, Int) = {
    val cs = new Array[Long](64)
    val cc = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val i = cy * 8 + x * 8 / w
        cs(i) += px(y * w + x)
        cc(i) += 1
        x += 1
      }
      y += 1
    }
    var ts = 0L; var tc = 0L
    var i = 0
    while (i < 64) { ts += cs(i); tc += cc(i); i += 1 }
    var hi = 0L; var lo = 0L; var n = 0
    i = 0
    while (i < 64) {
      if (cs(i) * tc >= ts * cc(i)) { // exact: cell mean ≥ image mean
        n += 1
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo, n)
  }

  /** q130: perceptual average-hash extraction — the image analogue of the
    * text fingerprints (q28/q45): a 64-bit aHash per image computed from
    * REAL decoded PNG pixels, the standard screen for visually-identical
    * or near-identical images in a multimodal training corpus (resize +
    * mean-threshold, cf. the classic aHash/pHash family). Per-row byte
    * work at scan speed — the blob never crosses a shuffle; only the
    * 3-BIGINT hash row does. The oracle regenerates the pixel formula and
    * recomputes the same integer-exact hash, so a match proves the whole
    * decode→downsample→threshold→pack chain bit-for-bit. */
  def q130ImageAhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imagesWithPixels(s, d).flatMap { m =>
      MediaHeaders.pngPixels(m.data).map { case (w, h, px) =>
        val (hi, lo, n) = ahash64(w.toInt, h.toInt, px)
        (m.media_id, w, h, hi, lo, n)
      }
    }.toDF("media_id", "width", "height", "ahash_hi", "ahash_lo", "n_set")
  }

  /** Shared oracle prefix: regenerate pixels, assign 8×8 grid cells, and
    * pack the integer-exact aHash per image — DuckDB side of [[ahash64]]. */
  private[graft] val ahashCte: String =
    """WITH im AS (SELECT doc_id, CAST(n_chars % 24 + 8 AS BIGINT) AS w,
      |                   CAST(n_chars % 16 + 8 AS BIGINT) AS h
      |            FROM documents WHERE doc_id % 3 = 0),
      |px AS (SELECT im.doc_id, im.w, im.h,
      |              (y.g * 8) // im.h AS cy, (x.g * 8) // im.w AS cx,
      |              CAST((im.doc_id * 7 + y.g * 13 + x.g * 31) % 256 AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 22)) AS g) y,
      |            (SELECT unnest(generate_series(0, 30)) AS g) x
      |       WHERE y.g < im.h AND x.g < im.w),
      |cell AS (SELECT doc_id, w, h, cy * 8 + cx AS idx,
      |                sum(v) AS cs, count(*) AS cc
      |         FROM px GROUP BY doc_id, w, h, cy, cx),
      |tot AS (SELECT doc_id, sum(cs) AS ts, sum(cc) AS tc
      |        FROM cell GROUP BY doc_id),
      |bits AS (SELECT cell.doc_id, w, h, idx,
      |                CASE WHEN cs * tc >= ts * cc THEN 1 ELSE 0 END AS b
      |         FROM cell JOIN tot ON cell.doc_id = tot.doc_id),
      |hash AS (SELECT doc_id, w, h,
      |    sum(CASE WHEN idx >= 32 THEN b * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS hi,
      |    sum(CASE WHEN idx < 32 THEN b * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS lo,
      |    sum(b) AS n
      |  FROM bits GROUP BY doc_id, w, h)""".stripMargin

  /** Oracle twin of [[q130ImageAhash]]. */
  val q130Sql: String =
    s"""$ahashCte
       |SELECT doc_id AS media_id, w AS width, h AS height,
       |  CAST(hi AS BIGINT) AS ahash_hi, CAST(lo AS BIGINT) AS ahash_lo,
       |  CAST(n AS BIGINT) AS n_set
       |FROM hash""".stripMargin

  /** q131: VISUAL near-dup pairs by banded perceptual hash — the image
    * face of q30's MinHash LSH. The 64-bit aHash splits into four 16-bit
    * bands; images sharing ANY band become candidates (pigeonhole: a pair
    * at Hamming distance ≤ 3 differs in at most 3 bands, so at least one
    * band matches — recall 1.0 at the ≤ 3 threshold, NO all-pairs scan),
    * and candidates are rescored with the exact popcount Hamming
    * distance. At 100 TB this is one exchange on (band, value); a hot
    * band value (many visually-flat images) concentrates like any LSH
    * bucket and caps the same way q30's bands do. Like every pair
    * REPORT, output cardinality is data-dependent: a corpus that is
    * mostly copies has quadratically many true pairs, and no plan makes
    * enumerating them sub-quadratic — the production levers are the
    * band-frequency cap above and grouping into components (q54)
    * instead of listing pairs. */
  def q131ImageNeardup(s: SparkSession, d: String): DataFrame =
    neardupPairs(q130ImageAhash(s, d).select("media_id", "ahash_hi", "ahash_lo"))

  /** Degenerate-band membership cap for the MODALITY pair family
    * (VERDICT r16 #1 — the one named 100 TB scale risk): a band value
    * shared by k media makes the banded self-join emit O(k²) candidate
    * rows, and real crawls CONCENTRATE — flat images (logos, blanks,
    * solid frames) all hash to the all-ones aHash, digital silence
    * shares one energy profile — so one hot band goes quadratic while
    * every other bucket stays tiny. Bands whose membership exceeds the
    * cap are DROPPED before the join ([[dropHotKeys]]), bounding pair
    * expansion at cap·|band rows|, the text family's own [[
    * graft.functions.TextOps.JaccardDfCap]] discipline: a band shared
    * by "everything" carries no similarity signal anyway, and a true
    * near-dup pair inside a dropped cohort still has 3 other bands to
    * match through unless it is degenerate in all four — exactly the
    * cohort a dedup pipeline handles by exact-hash grouping, not pair
    * enumeration. 1024 is structural headroom: max observed band df at
    * sf0.1 is 690 (audio) / 23 (image), so every oracle-gated answer is
    * unchanged; the oracle texts mirror the cap (q31's precedent) so
    * the two engines agree even at SFs where it binds. */
  val ModalityBandCap = 1024

  /** [[ModalityBandCap]]'s sibling for the EXACT-fingerprint equi-joins
    * (audio window fps, video scene-keyframe hashes): md5-of-content
    * keys collide only on identical content, but identical content is
    * precisely what concentrates — silence windows, black frames. Max
    * observed df at sf0.1 is 2 (windows) / 8 (scenes). */
  val ExactFpCap = 64

  /** Drop every key whose group exceeds `cap` rows — the hot list is
    * aggregated (one map-side-combined count exchange) and tiny by
    * construction (≤ |rows|/cap keys), so AQE broadcasts the anti-join
    * side; the kept rows never pay more than one extra exchange. */
  private[graft] def dropHotKeys(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__df"))
      .where(col("__df") > cap)
      .select(keys.map(col): _*)
    df.join(hot, keys, "left_anti")
  }

  /** The banded-Hamming pair plan over an arbitrary (media_id, ahash_hi,
    * ahash_lo) frame — shared by q131 and q132 so the decision query
    * decodes every PNG exactly ONCE (its verdict join reuses the same
    * `hashes` subtree the pairs come from). Hot bands are dropped at
    * [[ModalityBandCap]] before the self-join. */
  private def neardupPairs(hashes: DataFrame): DataFrame =
    neardupPairsCapped(hashes, ModalityBandCap)

  /** The 4×16-bit band rows of a (media_id, ahash_hi, ahash_lo) frame:
    * (media_id, ahash_hi, ahash_lo, b, v) — the LSH spine shared by the
    * pair plans and q186's instrument. */
  private def bandExplode(hashes: DataFrame): DataFrame =
    hashes.select(
      col("media_id"), col("ahash_hi"), col("ahash_lo"),
      explode(array(
        struct(lit(0).as("b"), col("ahash_lo").bitwiseAND(65535).as("v")),
        struct(lit(1).as("b"), shiftright(col("ahash_lo"), 16).bitwiseAND(65535).as("v")),
        struct(lit(2).as("b"), col("ahash_hi").bitwiseAND(65535).as("v")),
        struct(lit(3).as("b"), shiftright(col("ahash_hi"), 16).bitwiseAND(65535).as("v"))))
        .as("band"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("band.b").as("b"), col("band.v").as("v"))

  /** [[neardupPairs]] with an explicit band cap — q186 runs the same
    * machinery at a demonstration cap that BINDS on its planted flat
    * cohort at every SF, so the drop behavior itself is oracle-gated
    * (the production queries' structural cap never binds on fixture
    * data, by design). */
  private[graft] def neardupPairsCapped(hashes: DataFrame, cap: Int): DataFrame = {
    // r20 (guide §8.4 "fingerprints only"): the band rows are consumed
    // FOUR times (hot-key count + anti-join probe + both self-join
    // sides), and most callers derive `hashes` from a media decode —
    // without materialization the decode chain re-ran once per consumer.
    // One checkpoint of the 4-rows-per-media fingerprint table (the
    // lightweight proxy the guide says to materialize) feeds all four.
    // eager = false (ADVICE r20): materialization happens on the FIRST
    // ACTION, not at DataFrame construction — merely building the plan
    // (explain, SQL-surface tooling) no longer runs the full decode +
    // band-explode job as a side effect. All consumers still share the
    // one materialized copy.
    val kept = dropHotKeys(
      bandExplode(hashes).localCheckpoint(eager = false), Seq("b", "v"), cap)
    val l = kept.select(col("media_id").as("media_id_a"),
      col("ahash_hi").as("hi_a"), col("ahash_lo").as("lo_a"),
      col("b"), col("v"))
    val r = kept.select(col("media_id").as("media_id_b"),
      col("ahash_hi").as("hi_b"), col("ahash_lo").as("lo_b"),
      col("b"), col("v"))
    l.join(r, Seq("b", "v"))
      .where(col("media_id_a") < col("media_id_b"))
      .select(col("media_id_a"), col("media_id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
      .where(col("hamming") <= 3) // rescore BEFORE the distinct exchange
      .distinct()
  }

  /** Oracle twin of [[q131ImageNeardup]]: same banded-candidate plan in
    * SQL — band explode via a 4-row VALUES join, exact Hamming rescore
    * with xor + bit_count on the split halves, hot bands dropped at
    * [[ModalityBandCap]] (mirrored so both engines agree even at SFs
    * where the cap binds — q31's precedent). */
  val q131Sql: String =
    s"""$ahashCte,
       |band0 AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM hash, (VALUES (0), (1), (2), (3)) g(b)),
       |band AS (SELECT doc_id, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap)
       |SELECT DISTINCT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** q132: the image-dedup DECISION over q131's pair report — q83's
    * greedy SemDedup convention lifted to the visual domain: an image is
    * DROPPED when a lower-id image sits within Hamming ≤ 3 of its
    * aHash; the survivor set keeps one representative per duplicate
    * neighborhood. Per-image verdict row (the thing a curation pipeline
    * joins back onto the media table), not just pairs. Scale shape: the
    * removed-id set is duplicate-sized (AQE broadcasts it while small —
    * forcing a hint would be the q83 OOM trap on a copy-heavy corpus);
    * everything upstream rides q131's banded candidate plan. */
  def q132ImageDedupKeep(s: SparkSession, d: String): DataFrame = {
    // one decode pass: pairs derive from the SAME hashes subtree the
    // verdict join reads. localCheckpoint (not persist — ADVICE r15)
    // pins the reuse AND lets the blocks go with the frame when the
    // caller drops it, instead of leaking cache for the session.
    val hashes = q130ImageAhash(s, d)
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"))
      .localCheckpoint(eager = false)
    val removed = neardupPairs(hashes)
      .select(col("media_id_b").as("media_id")).distinct()
    hashes.join(removed.withColumn("dup", lit(1)), Seq("media_id"), "left")
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("dup").isNull.as("keep"))
  }

  /** Oracle twin of [[q132ImageDedupKeep]]: q131's pair chain, then a
    * left anti membership flag. */
  val q132Sql: String =
    s"""$ahashCte,
       |band0 AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM hash, (VALUES (0), (1), (2), (3)) g(b)),
       |band AS (SELECT doc_id, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap),
       |removed AS (SELECT DISTINCT b.doc_id
       |            FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |              AND a.doc_id < b.doc_id
       |            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)
       |SELECT h.doc_id AS media_id,
       |  CAST(h.hi AS BIGINT) AS ahash_hi, CAST(h.lo AS BIGINT) AS ahash_lo,
       |  r.doc_id IS NULL AS keep
       |FROM hash h LEFT JOIN removed r ON h.doc_id = r.doc_id""".stripMargin

  /** q133: AUDIO ENERGY GATE — the silence/activity screen an audio
    * ingest pipeline runs before paying for transcription or feature
    * extraction: a clip's 256-sample RMS windows (q123's real PCM
    * decode) are compared against the CORPUS-median window RMS, and the
    * clip keeps iff ≥ 2 of its 3 windows are at or above that bar (the
    * data-derived threshold makes the gate self-calibrating — no magic
    * constant to drift as the corpus changes). Exact cross-engine: both
    * sides compare the same round(·,4) RMS values against the same
    * interpolated median (Spark `percentile` ≡ DuckDB `quantile_cont`).
    * Scale shape: windows are per-row work; the median is ONE scalar
    * broadcast back; the verdict is a clip-keyed combiner aggregate. */
  def q133AudioEnergyGate(s: SparkSession, d: String): DataFrame = {
    val wins = q123AudioEnergy(s, d).select(col("media_id"), col("rms"))
    val med = wins.agg(expr("percentile(rms, 0.5D)").as("med"))
    wins.join(broadcast(med))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("rms") >= col("med"), 1L).otherwise(0L)).as("n_active"),
        round(max(col("rms")), 4).as("peak_rms"))
      .withColumn("keep", col("n_active") >= 2)
  }

  /** Fabricate baseline JPEGs with REAL entropy-coded pixel data from
    * every video-kind doc (doc_id % 3 == 2): w = (n_chars % 3 + 2)·8,
    * h = (n_chars % 2 + 2)·8 (whole 8×8 blocks), and each block
    * (bx, by) is CONSTANT value (doc_id·7 + by·13 + bx·31) mod 256 —
    * q127's pixel formula at block granularity. Block-constant is the
    * shape [[JpegCodec]]'s lossy path inverts exactly (DC-only blocks,
    * DC quant step 8 — see the codec's exactness contract), so the
    * oracle can regenerate the formula in SQL and hash-match. */
  def imagesWithJpegPixels(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .where(hasVideo(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = ((nChars % 3 + 2) * 8).toInt
        val h = ((nChars % 2 + 2) * 8).toInt
        val px = Array.tabulate(w * h) { i =>
          ((docId * 7 + (i / w / 8) * 13 + (i % w / 8) * 31) % 256).toInt
        }
        MediaPayload(docId, "image", JpegCodec.encode(w, h, px))
      }
  }

  /** q163: PIXEL-level JPEG decode — q127's brightness/contrast screen
    * over images reconstructed from a real baseline JPEG entropy stream
    * ([[JpegCodec.decode]]: in-file DQT/DHT tables, canonical Huffman,
    * dequant, IDCT), closing the one decode-depth gap PNG left open. A
    * hash match proves the FULL codec loop — DCT∘quantize∘Huffman and
    * its inverse — lands every pixel of every image exactly (the
    * fixture is block-constant, the shape the lossy path inverts
    * bit-exactly). Same exact-moments argument as q127: pixel sums
    * < 2¹⁸ are exact doubles and both engines divide in the same order
    * before the shared round(·, 4). Per-row byte work, no shuffle —
    * scan-speed at 100 TB, binary never leaves its task. */
  def q163JpegPixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imagesWithJpegPixels(s, d).flatMap { m =>
      JpegCodec.decode(m.data).map { case (w, h, px) =>
        var sum = 0L
        var sumSq = 0L
        px.foreach { v => sum += v; sumSq += v.toLong * v }
        val n = px.length
        val mean = sum.toDouble / n
        (m.media_id, w, h, mean, sumSq.toDouble / n - mean * mean)
      }
    }.toDF("media_id", "width", "height", "mean_lum", "var_lum")
      .withColumn("mean_lum", round(col("mean_lum"), 4))
      .withColumn("var_lum", round(col("var_lum"), 4))
  }

  /** Oracle twin of [[q163JpegPixels]]: regenerate the BLOCK formula
    * over constant-bounded series (bw ≤ 4, bh ≤ 3) — each block
    * contributes 64 pixels of its constant value — and recompute the
    * moments with q127's expression order. */
  val q163Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h
      |            FROM documents WHERE doc_id % 3 = 2),
      |bl AS (SELECT im.doc_id, im.w, im.h,
      |              CAST((im.doc_id * 7 + yy.g * 13 + xx.g * 31) % 256 AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 2)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 3)) AS g) xx
      |       WHERE yy.g < im.h // 8 AND xx.g < im.w // 8),
      |a AS (SELECT doc_id, w, h, CAST(sum(v) * 64 AS DOUBLE) AS s,
      |             CAST(sum(v * v) * 64 AS DOUBLE) AS ss, count(*) * 64 AS n
      |      FROM bl GROUP BY doc_id, w, h)
      |SELECT doc_id AS media_id, w AS width, h AS height,
      |  round(s / n, 4) AS mean_lum,
      |  round(ss / n - (s / n) * (s / n), 4) AS var_lum
      |FROM a""".stripMargin

  /** A MIXED-CONTAINER image corpus with PLANTED cross-container dups:
    * every doc gets a block-constant image (the shape both codecs
    * round-trip bit-exactly), even doc_ids stored as PNG and odd ones
    * as baseline JPEG — and the pixel CONTENT is keyed by the doc's
    * QUAD gid = doc_id // 4, so docs in one quad with equal dims carry
    * identical pixels in different containers. The planted ground
    * truth q164 must recover: the same crawled image re-encoded on a
    * different site is a dup NO byte-level hash can see. */
  def mixedContainerImages(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = ((nChars % 3 + 2) * 8).toInt
        val h = ((nChars % 2 + 2) * 8).toInt
        val gid = docId / 4
        val px = Array.tabulate(w * h) { i =>
          ((gid * 7 + (i / w / 8) * 13 + (i % w / 8) * 31) % 256).toInt
        }
        if (docId % 2 == 0)
          MediaPayload(docId, "image", MediaHeaders.pngPixelBytes(w, h, px))
        else
          MediaPayload(docId, "image", JpegCodec.encode(w, h, px))
      }
  }

  /** q164: CROSS-CONTAINER pixel-identical dup pairs — the dedup class
    * byte-level fingerprints (q28) are BLIND to: the same image stored
    * once as PNG and once as JPEG shares not one byte, but decodes to
    * the same pixels. Each payload is container-sniffed, decoded by
    * the matching REAL codec ([[MediaHeaders.pngPixels]] /
    * [[JpegCodec.decode]]), and fingerprinted as md5 over the decoded
    * pixel sequence; pairs join on the fingerprint. Exact
    * cross-engine: both codecs are bit-exact on the fixture's
    * block-constant shape, and both engines md5 the identical
    * comma-joined decimal string. Scale shape: decode + fingerprint is
    * per-row scan work (binary never shuffles — only the 32-char
    * fingerprint does), and matching is an equi-join on the
    * fingerprint, never all-pairs — exactly the 100 TB plan. */
  def q164CrossContainerDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // materialize fingerprints ONCE before the self-join — each image is
    // decoded a single time and only the 32-char fp row enters the join
    // (re-deriving the fixture per join side would decode twice; at
    // 100 TB the fingerprint table is what you'd persist, not re-scan)
    val fps = mixedContainerImages(s, d).flatMap { m =>
      val png = MediaHeaders.pngPixels(m.data)
      png.orElse(JpegCodec.decode(m.data)).map { case (w, h, px) =>
        (m.media_id, if (png.nonEmpty) "png" else "jpeg",
          w, h, px.mkString(","))
      }
    }.toDF("media_id", "container", "width", "height", "pixels")
      // dims are part of the fingerprint: two images with equal pixel
      // counts and identical row-major value strings but different
      // (w,h) shapes must NOT pair (ADVICE r14)
      .select(col("media_id"), col("container"), col("width"), col("height"),
        md5(concat(col("width").cast("string"), lit("x"),
          col("height").cast("string"), lit(":"), col("pixels"))).as("fp"))
      .localCheckpoint(eager = false)
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.media_id") < col("b.media_id"))
      .where(col("a.container") =!= col("b.container"))
      .select(col("a.media_id").as("media_id_a"), col("b.media_id").as("media_id_b"),
        col("a.container").as("container_a"), col("b.container").as("container_b"),
        col("a.width").as("width"), col("a.height").as("height"))
  }

  /** Oracle twin of [[q164CrossContainerDups]]: regenerate every doc's
    * pixel sequence from the quad-keyed block formula (per-pixel rows
    * ordered row-major, comma-joined, md5'd) and run the same
    * fingerprint self-join — from raw parquet, no codec involved, so a
    * hash match proves BOTH codecs decode the planted content exactly
    * and the dispatch tags containers right. */
  val q164Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h,
      |                   doc_id // 4 AS gid,
      |                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS container
      |            FROM documents),
      |px AS (SELECT im.doc_id, im.w, im.h, im.container, yy.g AS y, xx.g AS x,
      |              CAST((im.gid * 7 + (yy.g // 8) * 13 + (xx.g // 8) * 31) % 256
      |                   AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 23)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 31)) AS g) xx
      |       WHERE yy.g < im.h AND xx.g < im.w),
      |fp AS (SELECT doc_id AS media_id, container, w, h,
      |              md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' ||
      |                  string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x)) AS f
      |       FROM px GROUP BY doc_id, container, w, h)
      |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
      |       a.container AS container_a, b.container AS container_b,
      |       a.w AS width, a.h AS height
      |FROM fp a JOIN fp b ON b.f = a.f AND a.media_id < b.media_id
      |WHERE a.container <> b.container""".stripMargin

  /** Fabricate MJPEG streams whose frames are DECODABLE block-constant
    * baseline JPEGs from every video-kind doc (doc_id % 3 == 2):
    * K = n_chars % 5 + 2 frames, all at the doc's q163 dims
    * (w = (n_chars % 3 + 2)·8, h = (n_chars % 2 + 2)·8), and frame j's
    * block (bx, by) is constant (doc_id·7 + ((j % 4)/2)·11 + by·13 +
    * bx·31) mod 256 — each scene is HELD for two frames and the A-A-B-B
    * cycle repeats, planting the repeated-frame structure (title cards,
    * static scenes) a video dedup pass must fold even after stride-2
    * thinning. Block-constant is the shape [[JpegCodec]]'s lossy path
    * inverts exactly, so per-frame pixel formulas stay SQL-expressible. */
  def videosWithDecodableFrames(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .where(hasVideo(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = ((nChars % 3 + 2) * 8).toInt
        val h = ((nChars % 2 + 2) * 8).toInt
        val k = (nChars % 5 + 2).toInt
        val frames = (0 until k).map { j =>
          val c = (j % 4) / 2
          val px = Array.tabulate(w * h) { i =>
            ((docId * 7 + c * 11 + (i / w / 8) * 13 + (i % w / 8) * 31) % 256).toInt
          }
          JpegCodec.encode(w, h, px)
        }
        MediaPayload(docId, "video", MediaHeaders.mjpegBytes(frames))
      }
  }

  /** q165: VIDEO frames decoded to PIXELS — the composition round 14
    * left open: q120's marker-walk frame splitter feeds
    * [[JpegCodec.decode]] frame by frame, so "video support" graduates
    * from sampling bytes to seeing pixels. Per video: thin to every 2nd
    * frame ([[frameSample]], the decode-free keyframe pass), decode each
    * kept frame, fingerprint it (md5 over dims + pixel sequence — q164's
    * dim-qualified dup hash at frame granularity, collapsing the
    * near-identical-frame boilerplate the fixture plants), and report
    * frame counts, the distinct-frame count, and exact luminance moments
    * over every kept pixel. A hash match proves split ∘ sample ∘ decode
    * lands every pixel of every kept frame exactly (block-constant
    * frames, the codec's exactness contract) AND that the dup hash folds
    * repeated content. Scale shape: the whole chain is per-row byte work
    * inside one task — frames, pixels, and fingerprints never cross a
    * shuffle; only the 8-column summary row leaves the scan. */
  def q165VideoFramePixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videosWithDecodableFrames(s, d).map { m =>
      val nFrames = MediaHeaders.mjpegFrames(m.data).size.toLong
      val kept = MediaHeaders.mjpegFrames(frameSample(m.data, 2))
      val md = java.security.MessageDigest.getInstance("MD5")
      val fps = scala.collection.mutable.HashSet[String]()
      var sum = 0L
      var sumSq = 0L
      var n = 0L
      var w0 = -1L
      var h0 = -1L
      kept.foreach { f =>
        JpegCodec.decode(f).foreach { case (w, h, px) =>
          w0 = w; h0 = h
          px.foreach { v => sum += v; sumSq += v.toLong * v }
          n += px.length
          val digest = md.digest(
            (s"${w}x$h:" + px.mkString(",")).getBytes("UTF-8"))
          fps += digest.map("%02x".format(_)).mkString
          md.reset()
        }
      }
      val mean = sum.toDouble / n
      (m.media_id, nFrames, kept.size.toLong, fps.size.toLong, w0, h0,
        mean, sumSq.toDouble / n - mean * mean)
    }.toDF("media_id", "n_frames", "n_sampled", "n_unique",
      "width", "height", "mean_lum", "var_lum")
      .withColumn("mean_lum", round(col("mean_lum"), 4))
      .withColumn("var_lum", round(col("var_lum"), 4))
  }

  /** Oracle twin of [[q165VideoFramePixels]]: sampled frame i carries
    * content key ((2i) % 4)/2, so n_unique = distinct keys among the
    * ⌈K/2⌉ kept frames; luminance moments regenerate from the
    * block-constant formula over (frame, block) rows — each contributes
    * 64 pixels of its constant value — in q163's exact expression
    * order. */
  val q165Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h,
      |                   CAST(n_chars % 5 + 2 AS BIGINT) AS k
      |            FROM documents WHERE doc_id % 3 = 2),
      |sf AS (SELECT im.doc_id, im.w, im.h, im.k, g.g AS i,
      |              ((2 * g.g) % 4) // 2 AS c
      |       FROM im, (SELECT unnest(generate_series(0, 2)) AS g) g
      |       WHERE g.g < (im.k + 1) // 2),
      |bl AS (SELECT sf.doc_id, sf.w, sf.h, sf.k, sf.i, sf.c,
      |              CAST((sf.doc_id * 7 + sf.c * 11 + yy.g * 13 + xx.g * 31) % 256
      |                   AS BIGINT) AS v
      |       FROM sf,
      |            (SELECT unnest(generate_series(0, 2)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 3)) AS g) xx
      |       WHERE yy.g < sf.h // 8 AND xx.g < sf.w // 8),
      |a AS (SELECT doc_id, w, h, max(k) AS k,
      |             CAST(count(DISTINCT i) AS BIGINT) AS ns,
      |             CAST(count(DISTINCT c) AS BIGINT) AS nu,
      |             CAST(sum(v) * 64 AS DOUBLE) AS s,
      |             CAST(sum(v * v) * 64 AS DOUBLE) AS ss, count(*) * 64 AS n
      |      FROM bl GROUP BY doc_id, w, h)
      |SELECT doc_id AS media_id, k AS n_frames, ns AS n_sampled, nu AS n_unique,
      |       w AS width, h AS height,
      |       round(s / n, 4) AS mean_lum,
      |       round(ss / n - (s / n) * (s / n), 4) AS var_lum
      |FROM a""".stripMargin

  /** A mixed-container COLOR image corpus with planted cross-container
    * dups: every doc gets a 3-channel block-constant image — channel c
    * of block (bx, by) is constant (gid·7 + c·97 + by·13 + bx·31) mod
    * 256 with gid = doc_id / 4 (q164's quad keying) — stored as RGB
    * truecolor PNG for even doc_ids and as a 3-component 4:4:4
    * baseline JPEG for odd ones. One interleaved sample array feeds
    * both writers ([[MediaHeaders.pngPixelBytesRgb]] /
    * [[JpegCodec.encodeInterleaved]]), and per-channel block-constant
    * is the shape the lossy codec inverts exactly, so the color corpus
    * is as oracle-gateable as the grayscale one. */
  def mixedContainerColorImages(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = ((nChars % 3 + 2) * 8).toInt
        val h = ((nChars % 2 + 2) * 8).toInt
        val gid = docId / 4
        val px = Array.tabulate(w * h * 3) { i =>
          val p = i / 3
          val c = i % 3
          ((gid * 7 + c * 97 + (p / w / 8) * 13 + (p % w / 8) * 31) % 256).toInt
        }
        if (docId % 2 == 0)
          MediaPayload(docId, "image", MediaHeaders.pngPixelBytesRgb(w, h, px))
        else
          MediaPayload(docId, "image", JpegCodec.encodeInterleaved(w, h, 3, px))
      }
  }

  /** q166: COLOR pixel decode — per-CHANNEL moments over the mixed
    * PNG/JPEG color corpus, the query that lifts the decode story from
    * "grayscale corpus" to "image corpus". Payloads are
    * container-sniffed and decoded by the matching real color path
    * ([[MediaHeaders.pngSamples]] color type 2 /
    * [[JpegCodec.decodeInterleaved]] 3-comp 4:4:4); per-channel mean
    * and variance come from exact integer sums over the interleaved
    * samples (each channel's sums < 2¹⁸ stay exact doubles, divided in
    * q163's expression order before the shared round(·, 4)). A hash
    * match proves BOTH color codecs land every sample of every channel
    * exactly. Per-row scan work; binary never crosses a shuffle. */
  def q166ColorPixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mixedContainerColorImages(s, d).flatMap { m =>
      val png = MediaHeaders.pngSamples(m.data)
      png.orElse(JpegCodec.decodeInterleaved(m.data)).collect {
        case (w, h, 3, px) =>
          val sums = new Array[Long](3)
          val sqs = new Array[Long](3)
          var i = 0
          while (i < px.length) {
            val c = i % 3
            sums(c) += px(i)
            sqs(c) += px(i).toLong * px(i)
            i += 1
          }
          val n = (w * h).toDouble
          (m.media_id, if (png.nonEmpty) "png" else "jpeg", w, h,
            sums(0) / n, sums(1) / n, sums(2) / n,
            sqs(0) / n - (sums(0) / n) * (sums(0) / n),
            sqs(1) / n - (sums(1) / n) * (sums(1) / n),
            sqs(2) / n - (sums(2) / n) * (sums(2) / n))
      }
    }.toDF("media_id", "container", "width", "height",
      "mean_r", "mean_g", "mean_b", "var_r", "var_g", "var_b")
      .withColumn("mean_r", round(col("mean_r"), 4))
      .withColumn("mean_g", round(col("mean_g"), 4))
      .withColumn("mean_b", round(col("mean_b"), 4))
      .withColumn("var_r", round(col("var_r"), 4))
      .withColumn("var_g", round(col("var_g"), 4))
      .withColumn("var_b", round(col("var_b"), 4))
  }

  /** Oracle twin of [[q166ColorPixels]]: regenerate the per-channel
    * block formula over (channel, block) rows — each contributes 64
    * samples of its constant value — compute each channel's moments in
    * q163's exact expression order, and pivot the three channels wide. */
  val q166Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h,
      |                   doc_id // 4 AS gid,
      |                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS container
      |            FROM documents),
      |bl AS (SELECT im.doc_id, im.w, im.h, im.container, cc.g AS c,
      |              CAST((im.gid * 7 + cc.g * 97 + yy.g * 13 + xx.g * 31) % 256
      |                   AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 2)) AS g) cc,
      |            (SELECT unnest(generate_series(0, 2)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 3)) AS g) xx
      |       WHERE yy.g < im.h // 8 AND xx.g < im.w // 8),
      |a AS (SELECT doc_id, w, h, container, c, CAST(sum(v) * 64 AS DOUBLE) AS s,
      |             CAST(sum(v * v) * 64 AS DOUBLE) AS ss, count(*) * 64 AS n
      |      FROM bl GROUP BY doc_id, w, h, container, c),
      |m AS (SELECT doc_id, w, h, container, c, round(s / n, 4) AS mc,
      |             round(ss / n - (s / n) * (s / n), 4) AS vc FROM a)
      |SELECT doc_id AS media_id, container, w AS width, h AS height,
      |  max(CASE WHEN c = 0 THEN mc END) AS mean_r,
      |  max(CASE WHEN c = 1 THEN mc END) AS mean_g,
      |  max(CASE WHEN c = 2 THEN mc END) AS mean_b,
      |  max(CASE WHEN c = 0 THEN vc END) AS var_r,
      |  max(CASE WHEN c = 1 THEN vc END) AS var_g,
      |  max(CASE WHEN c = 2 THEN vc END) AS var_b
      |FROM m GROUP BY doc_id, container, w, h""".stripMargin

  /** q167: q164's cross-container pixel dedup on the COLOR corpus —
    * the same color image stored once as RGB PNG and once as a
    * 3-component baseline JPEG shares no bytes but decodes to the same
    * interleaved samples. Fingerprint = md5 over dims + the interleaved
    * sample sequence (channel count is implied by the sequence length
    * at fixed dims), materialized ONCE before the equi-join; only the
    * 32-char fingerprint ever shuffles, never the binary — the q164
    * scale shape, now covering color payloads. */
  def q167ColorCrossDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fps = mixedContainerColorImages(s, d).flatMap { m =>
      val png = MediaHeaders.pngSamples(m.data)
      png.orElse(JpegCodec.decodeInterleaved(m.data)).collect {
        case (w, h, 3, px) =>
          (m.media_id, if (png.nonEmpty) "png" else "jpeg", w, h, px.mkString(","))
      }
    }.toDF("media_id", "container", "width", "height", "pixels")
      .select(col("media_id"), col("container"), col("width"), col("height"),
        md5(concat(col("width").cast("string"), lit("x"),
          col("height").cast("string"), lit(":"), col("pixels"))).as("fp"))
      .localCheckpoint(eager = false)
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.media_id") < col("b.media_id"))
      .where(col("a.container") =!= col("b.container"))
      .select(col("a.media_id").as("media_id_a"), col("b.media_id").as("media_id_b"),
        col("a.container").as("container_a"), col("b.container").as("container_b"),
        col("a.width").as("width"), col("a.height").as("height"))
  }

  /** Oracle twin of [[q167ColorCrossDups]]: regenerate every doc's
    * interleaved sample sequence from the quad-keyed per-channel block
    * formula (rows ordered y, x, c — the interleaved layout — and
    * md5'd) and run the same fingerprint self-join. */
  val q167Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h,
      |                   doc_id // 4 AS gid,
      |                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS container
      |            FROM documents),
      |px AS (SELECT im.doc_id, im.w, im.h, im.container, yy.g AS y, xx.g AS x,
      |              cc.g AS c,
      |              CAST((im.gid * 7 + cc.g * 97 + (yy.g // 8) * 13 + (xx.g // 8) * 31)
      |                   % 256 AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 23)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 31)) AS g) xx,
      |            (SELECT unnest(generate_series(0, 2)) AS g) cc
      |       WHERE yy.g < im.h AND xx.g < im.w),
      |fp AS (SELECT doc_id AS media_id, container, w, h,
      |              md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' ||
      |                  string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x, c)) AS f
      |       FROM px GROUP BY doc_id, container, w, h)
      |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
      |       a.container AS container_a, b.container AS container_b,
      |       a.w AS width, a.h AS height
      |FROM fp a JOIN fp b ON b.f = a.f AND a.media_id < b.media_id
      |WHERE a.container <> b.container""".stripMargin

  /** Oracle twin of [[q133AudioEnergyGate]]: q123's PCM regeneration,
    * window RMS, corpus median, per-clip gate. */
  val q133Sql: String =
    """WITH a AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT a.doc_id, g.i,
      |        CAST(((a.doc_id * 31 + g.i * 17) % 65536) - 32768 AS DOUBLE) AS v
      |      FROM a, (SELECT unnest(generate_series(0, 767)) AS i) g),
      |w AS (SELECT doc_id, i // 256 AS window_idx, round(sqrt(avg(v * v)), 4) AS rms
      |      FROM s GROUP BY doc_id, i // 256),
      |med AS (SELECT quantile_cont(rms, 0.5) AS med FROM w)
      |SELECT doc_id AS media_id,
      |  CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN rms >= med THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
      |  round(max(rms), 4) AS peak_rms,
      |  sum(CASE WHEN rms >= med THEN 1 ELSE 0 END) >= 2 AS keep
      |FROM w CROSS JOIN med
      |GROUP BY doc_id""".stripMargin

  /** Fabricate WAVs with PLANTED duplicate sample content from every
    * audio-kind doc (doc_id % 3 == 1): q123's PCM generator re-keyed by
    * the QUAD gid = doc_id / 4, so audio docs sharing a quad carry
    * IDENTICAL 768-sample PCM (the same recording ingested from two
    * sources) while the wav header's sample rate still varies per doc —
    * a dup no byte-level hash survives a header change to see. A
    * gid-keyed window GATE silences window w when h² mod 2147483647
    * mod 64 < 24 for h = (gid·2654435761 + w·2246822519) mod 2³¹ —
    * the SQUARE is the point: a linear gate makes the mask a
    * one-parameter phase family where nearby gids near-collide and
    * the pair report goes quadratic (two earlier cuts of this fixture
    * hit that wall at 14k and 590 pairs); squaring decorrelates every
    * distinct gid, so only true quad dups pair. */
  def audioWithPcmDups(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    audioFromDocs(Tables(s, sfDir, "documents"))

  /** [[audioWithPcmDups]] over an arbitrary (doc_id, n_chars) frame —
    * the CDC seam, same role as [[imagesFromDocs]]. */
  def audioFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where(hasAudio(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val gid = docId / 4
        val bb = java.nio.ByteBuffer.allocate(768 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < 768) {
          val v = {
            val hw = (gid * 2654435761L + (i / 12) * 2246822519L) % 2147483648L
            if (hw * hw % 2147483647L % 64 < 24) 0
            else ((gid * 31 + i * 17) % 65536) - 32768
          }
          bb.putShort(v.toShort)
          i += 1
        }
        MediaPayload(docId, "audio",
          MediaHeaders.wavBytes(8000 + (nChars.toInt % 8) * 1000, 1, 16, bb.array()))
      }
  }

  /** 64-bit perceptual ENERGY fingerprint of a PCM clip — [[ahash64]]'s
    * audio sibling: bucket the samples onto 64 time windows (window of
    * sample i is ⌊i·64/n⌋), accumulate each window's energy Σv², and
    * set bit w iff the window's MEAN energy ≥ the clip's mean energy —
    * compared by integer cross-multiplication (es·tc ≥ ts·ec), so the
    * bit pattern is exact and any engine with 64-bit integers
    * reproduces it (v² ≤ 2³⁰ keeps every product < 2⁶³). Returned split
    * as (bits 32..63, bits 0..31, popcount) like [[ahash64]] so the
    * banded matcher is shared verbatim. */
  private[graft] def audioFp64(samples: Array[Int]): (Long, Long, Int) = {
    val n = samples.length
    val es = new Array[Long](64)
    val ec = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      es(w) += samples(i).toLong * samples(i)
      ec(w) += 1
      i += 1
    }
    var ts = 0L; var tc = 0L
    i = 0
    while (i < 64) { ts += es(i); tc += ec(i); i += 1 }
    var hi = 0L; var lo = 0L; var nb = 0
    i = 0
    while (i < 64) {
      if (es(i) * tc >= ts * ec(i)) { // exact: window mean energy ≥ clip mean
        nb += 1
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo, nb)
  }

  /** q168: audio ENERGY-FINGERPRINT extraction — the audio face of
    * q130's aHash, giving the third modality its dedup screen: a 64-bit
    * windowed-energy fingerprint per clip computed from REAL decoded
    * PCM ([[MediaHeaders.wavSamples]]). Per-row byte work at scan
    * speed — the blob never crosses a shuffle; only the 3-BIGINT hash
    * row does. The oracle regenerates the PCM formula and recomputes
    * the same integer-exact fingerprint, so a match proves the whole
    * decode→window→threshold→pack chain bit-for-bit. */
  def q168AudioFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioWithPcmDups(s, d).map { m =>
      val pcm = MediaHeaders.wavSamples(m.data)
      val (hi, lo, n) = audioFp64(pcm.map(_.toInt))
      (m.media_id, pcm.length.toLong, hi, lo, n.toLong)
    }.toDF("media_id", "n_samples", "fp_hi", "fp_lo", "n_set")
  }

  /** Shared oracle prefix for the audio family: regenerate the
    * quad-keyed PCM, window it, and pack the integer-exact fingerprint
    * — the DuckDB side of [[audioFp64]]. */
  private[graft] val audioFpCte: String =
    """WITH a AS (SELECT doc_id, doc_id // 4 AS gid FROM documents
      |           WHERE doc_id % 3 = 1),
      |s AS (SELECT a.doc_id, g.i, (g.i * 64) // 768 AS wi,
      |        CASE WHEN ((a.gid * 2654435761 + (g.i // 12) * 2246822519) % 2147483648)
      |                   * ((a.gid * 2654435761 + (g.i // 12) * 2246822519) % 2147483648)
      |                   % 2147483647 % 64 < 24
      |             THEN CAST(0 AS BIGINT)
      |             ELSE CAST(((a.gid * 31 + g.i * 17) % 65536) - 32768 AS BIGINT)
      |        END AS v
      |      FROM a, (SELECT unnest(generate_series(0, 767)) AS i) g),
      |win AS (SELECT doc_id, wi, sum(v * v) AS es, count(*) AS ec
      |        FROM s GROUP BY doc_id, wi),
      |tot AS (SELECT doc_id, sum(es) AS ts, sum(ec) AS tc
      |        FROM win GROUP BY doc_id),
      |bits AS (SELECT win.doc_id, wi,
      |                CASE WHEN es * tc >= ts * ec THEN 1 ELSE 0 END AS b
      |         FROM win JOIN tot ON win.doc_id = tot.doc_id),
      |hash AS (SELECT doc_id,
      |    sum(CASE WHEN wi >= 32 THEN b * (CAST(1 AS BIGINT) << (wi - 32)) ELSE 0 END) AS hi,
      |    sum(CASE WHEN wi < 32 THEN b * (CAST(1 AS BIGINT) << wi) ELSE 0 END) AS lo,
      |    sum(b) AS n
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Oracle twin of [[q168AudioFingerprint]]. */
  val q168Sql: String =
    s"""$audioFpCte
       |SELECT doc_id AS media_id, CAST(768 AS BIGINT) AS n_samples,
       |  CAST(hi AS BIGINT) AS fp_hi, CAST(lo AS BIGINT) AS fp_lo,
       |  CAST(n AS BIGINT) AS n_set
       |FROM hash""".stripMargin

  /** q169: AUDIO near-dup pairs by banded fingerprint — q131's banded
    * Hamming matcher (pigeonhole recall 1.0 at distance ≤ 3, one
    * exchange on (band, value), never all-pairs) running verbatim over
    * q168's fingerprints: the quad-planted identical recordings pair at
    * Hamming 0 even though their WAV bytes differ (different sample
    * rates in the header). */
  def q169AudioNeardup(s: SparkSession, d: String): DataFrame =
    neardupPairs(q168AudioFingerprint(s, d)
      .select(col("media_id"), col("fp_hi").as("ahash_hi"), col("fp_lo").as("ahash_lo")))

  /** Oracle twin of [[q169AudioNeardup]] — hot bands dropped at
    * [[ModalityBandCap]], mirroring the plan (the audio bands are the
    * family's most concentrated: max df 690 at sf0.1, still under). */
  val q169Sql: String =
    s"""$audioFpCte,
       |band0 AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM hash, (VALUES (0), (1), (2), (3)) g(b)),
       |band AS (SELECT doc_id, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap)
       |SELECT DISTINCT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** q170: the audio-dedup DECISION — q132's greedy keeper convention
    * on the third modality: a clip is DROPPED when a lower-id clip
    * sits within Hamming ≤ 3 of its energy fingerprint. One decode
    * pass (the checkpointed hashes subtree feeds both the pair spine
    * and the verdict join); the removed-id set is duplicate-sized and
    * AQE broadcasts it while small. */
  def q170AudioDedupKeep(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint, not persist (ADVICE r15): one decode pass into a
    // GC-reclaimable materialization instead of a session-lifetime pin.
    val hashes = q168AudioFingerprint(s, d)
      .select(col("media_id"), col("fp_hi").as("ahash_hi"), col("fp_lo").as("ahash_lo"))
      .localCheckpoint(eager = false)
    val removed = neardupPairs(hashes)
      .select(col("media_id_b").as("media_id")).distinct()
    hashes.join(removed.withColumn("dup", lit(1)), Seq("media_id"), "left")
      .select(col("media_id"), col("ahash_hi").as("fp_hi"),
        col("ahash_lo").as("fp_lo"), col("dup").isNull.as("keep"))
  }

  /** Oracle twin of [[q170AudioDedupKeep]]. */
  val q170Sql: String =
    s"""$audioFpCte,
       |band0 AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM hash, (VALUES (0), (1), (2), (3)) g(b)),
       |band AS (SELECT doc_id, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap),
       |removed AS (SELECT DISTINCT b.doc_id
       |            FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |              AND a.doc_id < b.doc_id
       |            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)
       |SELECT h.doc_id AS media_id,
       |  CAST(h.hi AS BIGINT) AS fp_hi, CAST(h.lo AS BIGINT) AS fp_lo,
       |  r.doc_id IS NULL AS keep
       |FROM hash h LEFT JOIN removed r ON h.doc_id = r.doc_id""".stripMargin

  /** Fabricate 4:2:0 chroma-subsampled baseline JPEGs from every doc:
    * dims are whole MCUs or ragged (w = (n_chars%2+1)·16, h =
    * (n_chars%3+1)·16), luma is CONSTANT per 8×8 block ((doc_id·7 +
    * by·13 + bx·31) mod 256 — q163's formula shape) and chroma is
    * CONSTANT per 16×16 MCU, the exact profile
    * [[JpegCodec.encode420]]/[[JpegCodec.decodeInterleaved]] invert
    * bit-for-bit (box-filter of a constant cell is the constant, every
    * block a lone DC, nearest upsampling of a constant plane exact). */
  /** The q174/q182 exactness-profile pixel plane: dims are whole MCUs
    * (w = (n_chars%2+1)·16, h = (n_chars%3+1)·16), luma constant per
    * 8×8 block and chroma constant per 16×16 MCU — the strictest cell
    * of any supported subsampling mode, so the SAME array round-trips
    * bit-exactly through 4:4:4, 4:2:0 AND 4:2:2 encoders. */
  private def mcuConstantPixels(docId: Long, nChars: Long): (Int, Int, Array[Int]) = {
    val w = ((nChars % 2 + 1) * 16).toInt
    val h = ((nChars % 3 + 1) * 16).toInt
    val px = new Array[Int](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        px(p) = ((docId * 7 + (y / 8) * 13 + (x / 8) * 31) % 256).toInt
        px(p + 1) = ((docId * 11 + (y / 16) * 17 + (x / 16) * 23) % 256).toInt
        px(p + 2) = ((docId * 5 + (y / 16) * 29 + (x / 16) * 37) % 256).toInt
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  def images420(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val (w, h, px) = mcuConstantPixels(docId, nChars)
        MediaPayload(docId, "image", JpegCodec.encode420(w, h, px))
      }
  }

  /** The q174 profile stored with the subsampling mode a real crawl
    * mixes: doc_id % 3 picks 4:4:4 / 4:2:0 / 4:2:2. Same pixels, three
    * SOF0 layouts — the decoder must read the sampling factors from
    * the stream, not assume a mode. */
  def imagesMixedSubsampling(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val (w, h, px) = mcuConstantPixels(docId, nChars)
        val data = (docId % 3) match {
          case 0 => JpegCodec.encodeInterleaved(w, h, 3, px)
          case 1 => JpegCodec.encode420(w, h, px)
          case _ => JpegCodec.encode422(w, h, px)
        }
        MediaPayload(docId, "image", data)
      }
  }

  /** q174: 4:2:0 JPEG pixel decode — the realism gap VERDICT r15
    * ranked first: real crawled JPEGs are overwhelmingly 4:2:0, so a
    * 4:4:4-only color path decodes almost nothing of a real image
    * corpus. Per-channel (Y/Cb/Cr) moments over the full-resolution
    * decode of a subsampled corpus, q166's exact integer-sum math (the
    * upsampled chroma's sums stay exact Longs; divisions in q163's
    * expression order before the shared round(·, 4)). A hash match
    * proves the whole MCU walk — 4 luma + 2 chroma blocks per MCU,
    * per-component DC predictors, nearest-neighbor upsampling — lands
    * every full-resolution sample exactly. Per-row scan work; binary
    * never crosses a shuffle. */
  def q174Jpeg420Pixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    images420(s, d).flatMap { m =>
      JpegCodec.decodeInterleaved(m.data).collect {
        case (w, h, 3, px) =>
          val sums = new Array[Long](3)
          val sqs = new Array[Long](3)
          var i = 0
          while (i < px.length) {
            val c = i % 3
            sums(c) += px(i)
            sqs(c) += px(i).toLong * px(i)
            i += 1
          }
          val n = (w * h).toDouble
          (m.media_id, w, h,
            sums(0) / n, sums(1) / n, sums(2) / n,
            sqs(0) / n - (sums(0) / n) * (sums(0) / n),
            sqs(1) / n - (sums(1) / n) * (sums(1) / n),
            sqs(2) / n - (sums(2) / n) * (sums(2) / n))
      }
    }.toDF("media_id", "width", "height",
      "mean_y", "mean_cb", "mean_cr", "var_y", "var_cb", "var_cr")
      .withColumn("mean_y", round(col("mean_y"), 4))
      .withColumn("mean_cb", round(col("mean_cb"), 4))
      .withColumn("mean_cr", round(col("mean_cr"), 4))
      .withColumn("var_y", round(col("var_y"), 4))
      .withColumn("var_cb", round(col("var_cb"), 4))
      .withColumn("var_cr", round(col("var_cr"), 4))
  }

  /** q182: the MIXED-subsampling decode gate — the same exactness
    * corpus stored per-doc as 4:4:4, 4:2:0 or 4:2:2, all through ONE
    * decode call: the decoder must take the sampling factors from each
    * stream's own SOF0 (no mode hint crosses the seam — the `mode`
    * column is fixture metadata the ORACLE derives from doc_id, purely
    * to make a per-mode failure visible in the diff). A hash match
    * proves the dispatch and all three MCU geometries land every
    * full-resolution sample exactly. */
  def q182JpegMixedPixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imagesMixedSubsampling(s, d).flatMap { m =>
      JpegCodec.decodeInterleaved(m.data).collect {
        case (w, h, 3, px) =>
          val sums = new Array[Long](3)
          val sqs = new Array[Long](3)
          var i = 0
          while (i < px.length) {
            val c = i % 3
            sums(c) += px(i)
            sqs(c) += px(i).toLong * px(i)
            i += 1
          }
          val n = (w * h).toDouble
          val mode = (m.media_id % 3) match {
            case 0 => "444"
            case 1 => "420"
            case _ => "422"
          }
          (m.media_id, mode, w, h,
            sums(0) / n, sums(1) / n, sums(2) / n,
            sqs(0) / n - (sums(0) / n) * (sums(0) / n),
            sqs(1) / n - (sums(1) / n) * (sums(1) / n),
            sqs(2) / n - (sums(2) / n) * (sums(2) / n))
      }
    }.toDF("media_id", "mode", "width", "height",
      "mean_y", "mean_cb", "mean_cr", "var_y", "var_cb", "var_cr")
      .withColumn("mean_y", round(col("mean_y"), 4))
      .withColumn("mean_cb", round(col("mean_cb"), 4))
      .withColumn("mean_cr", round(col("mean_cr"), 4))
      .withColumn("var_y", round(col("var_y"), 4))
      .withColumn("var_cb", round(col("var_cb"), 4))
      .withColumn("var_cr", round(col("var_cr"), 4))
  }

  /** Oracle twin of [[q174Jpeg420Pixels]]: regenerate the luma
    * per-8×8-block formula (64 full-res samples each) and the chroma
    * per-16×16-MCU formula (256 full-res samples each — the constant
    * survives box-filter, DC round-trip and nearest upsampling
    * unchanged), then q166's exact moment math per channel. */
  val q174Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 2 + 1) * 16 AS BIGINT) AS w,
      |                   CAST((n_chars % 3 + 1) * 16 AS BIGINT) AS h
      |            FROM documents),
      |yb AS (SELECT im.doc_id, im.w, im.h,
      |              CAST((im.doc_id * 7 + yy.g * 13 + xx.g * 31) % 256 AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(0, 5)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 3)) AS g) xx
      |       WHERE yy.g < im.h // 8 AND xx.g < im.w // 8),
      |ya AS (SELECT doc_id, w, h, CAST(sum(v) * 64 AS DOUBLE) AS s,
      |              CAST(sum(v * v) * 64 AS DOUBLE) AS ss
      |       FROM yb GROUP BY doc_id, w, h),
      |cb AS (SELECT im.doc_id, im.w, im.h, cc.g AS c,
      |              CAST((im.doc_id * (CASE cc.g WHEN 1 THEN 11 ELSE 5 END) +
      |                    yy.g * (CASE cc.g WHEN 1 THEN 17 ELSE 29 END) +
      |                    xx.g * (CASE cc.g WHEN 1 THEN 23 ELSE 37 END)) % 256
      |                   AS BIGINT) AS v
      |       FROM im,
      |            (SELECT unnest(generate_series(1, 2)) AS g) cc,
      |            (SELECT unnest(generate_series(0, 2)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 1)) AS g) xx
      |       WHERE yy.g < im.h // 16 AND xx.g < im.w // 16),
      |ca AS (SELECT doc_id, w, h, c, CAST(sum(v) * 256 AS DOUBLE) AS s,
      |              CAST(sum(v * v) * 256 AS DOUBLE) AS ss
      |       FROM cb GROUP BY doc_id, w, h, c)
      |SELECT ya.doc_id AS media_id, ya.w AS width, ya.h AS height,
      |  round(ya.s / (ya.w * ya.h), 4) AS mean_y,
      |  round(c1.s / (ya.w * ya.h), 4) AS mean_cb,
      |  round(c2.s / (ya.w * ya.h), 4) AS mean_cr,
      |  round(ya.ss / (ya.w * ya.h) -
      |        (ya.s / (ya.w * ya.h)) * (ya.s / (ya.w * ya.h)), 4) AS var_y,
      |  round(c1.ss / (ya.w * ya.h) -
      |        (c1.s / (ya.w * ya.h)) * (c1.s / (ya.w * ya.h)), 4) AS var_cb,
      |  round(c2.ss / (ya.w * ya.h) -
      |        (c2.s / (ya.w * ya.h)) * (c2.s / (ya.w * ya.h)), 4) AS var_cr
      |FROM ya
      |JOIN ca c1 ON c1.doc_id = ya.doc_id AND c1.c = 1
      |JOIN ca c2 ON c2.doc_id = ya.doc_id AND c2.c = 2""".stripMargin

  /** Fabricate WAVs with PLANTED TRIMMED duplicates — the commonest
    * real audio dup (VERDICT r15 #2): the same recording ingested with
    * different start offsets, which q169's WHOLE-CLIP energy
    * fingerprint is structurally blind to (the 64 fixed windows all
    * shift). Quad members (gid = doc_id/4) sample the SAME underlying
    * recording at trim offset (doc_id%4)·96 — a multiple of the
    * 32-sample window hop, the audio analog of trimming at token
    * granularity. The recording is the global quadratic sequence
    * v(t) = ((gid·2654435761 + t) mod 2147483647)² mod 2147483647
    * mod 65536 − 32768: NONLINEAR in t (round-15's fixture lesson —
    * a linear formula makes 64-sample runs collide across gids on a
    * single phase equation; after squaring, cross-gid or wrong-offset
    * window equality would need 64 consecutive roots of a varying
    * quadratic), and gids sit 2654435761 apart in t-space so distinct
    * recordings never share a window. */
  def audioWithTrimmedDups(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    trimmedAudioFromDocs(Tables(s, sfDir, "documents"))

  /** [[audioWithTrimmedDups]] over an arbitrary (doc_id, n_chars)
    * frame — the CDC seam for the maintained audio-window index. */
  def trimmedAudioFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where(hasAudio(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val gid = docId / 4
        val off = (docId % 4) * 96
        val bb = java.nio.ByteBuffer.allocate(768 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < 768) {
          val x = (gid * 2654435761L + off + j) % 2147483647L
          bb.putShort((x * x % 2147483647L % 65536L - 32768L).toShort)
          j += 1
        }
        MediaPayload(docId, "audio",
          MediaHeaders.wavBytes(8000 + (nChars.toInt % 8) * 1000, 1, 16, bb.array()))
      }
  }

  /** The 64-sample/hop-32 window grid over a PCM clip — the winnowing/
    * ExactSubstr shape on audio: LOCAL fingerprints anchored to content
    * position, so a copy trimmed at hop granularity still shares every
    * fully-overlapped window. Returns (window idx, comma-joined sample
    * csv) — the csv is md5'd on the DataFrame side so the hash is the
    * engine-portable md5-of-text both engines spell identically. */
  private[graft] def pcmWindows(pcm: Array[Short]): IndexedSeq[(Int, String)] = {
    val nw = if (pcm.length < 64) 0 else (pcm.length - 64) / 32 + 1
    (0 until nw).map { w =>
      val sb = new java.lang.StringBuilder(64 * 7)
      var j = 0
      while (j < 64) {
        if (j > 0) sb.append(',')
        sb.append(pcm(w * 32 + j).toInt)
        j += 1
      }
      (w, sb.toString)
    }
  }

  /** q175: per-window LOCAL audio fingerprints — the shift-robust
    * face of q168: 23 overlapping 64-sample windows per 768-sample
    * clip (hop 32), each fingerprinted by md5 over its exact samples.
    * Per-row scan work at decode speed; the blob never crosses a
    * shuffle — only (media_id, window, 32-char hash) rows do, the
    * ExactSubstr scale shape (q148) on the third modality. */
  def q175AudioWindowFp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioWithTrimmedDups(s, d).flatMap { m =>
      val pcm = MediaHeaders.wavSamples(m.data)
      val ws = pcmWindows(pcm)
      ws.map { case (w, csv) => (m.media_id, w.toLong, ws.length.toLong, csv) }
    }.toDF("media_id", "w", "n_windows", "csv")
      .select(col("media_id"), col("w"), col("n_windows"), md5(col("csv")).as("fp"))
  }

  /** Shared oracle prefix for the trimmed-audio family: regenerate the
    * quad-keyed trimmed PCM and the hop-32 window grid with md5 local
    * fingerprints — the DuckDB side of [[pcmWindows]] over
    * [[audioWithTrimmedDups]]. */
  private[graft] val audioTrimCte: String =
    """WITH a AS (SELECT doc_id, doc_id // 4 AS gid, (doc_id % 4) * 96 AS off
      |           FROM documents WHERE doc_id % 3 = 1),
      |s AS (SELECT a.doc_id, g.i,
      |        ((a.gid * 2654435761 + a.off + g.i) % 2147483647)
      |        * ((a.gid * 2654435761 + a.off + g.i) % 2147483647)
      |        % 2147483647 % 65536 - 32768 AS v
      |      FROM a, (SELECT unnest(generate_series(0, 767)) AS i) g),
      |wj AS (SELECT w.g AS w, j.g AS j, w.g * 32 + j.g AS i
      |       FROM (SELECT unnest(generate_series(0, 22)) AS g) w,
      |            (SELECT unnest(generate_series(0, 63)) AS g) j),
      |win AS (SELECT s.doc_id, wj.w,
      |               md5(string_agg(CAST(s.v AS VARCHAR), ',' ORDER BY wj.j)) AS fp
      |        FROM wj JOIN s ON s.i = wj.i
      |        GROUP BY s.doc_id, wj.w)""".stripMargin

  /** Oracle twin of [[q175AudioWindowFp]]. */
  val q175Sql: String =
    s"""$audioTrimCte
       |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS w,
       |  CAST(23 AS BIGINT) AS n_windows, fp
       |FROM win""".stripMargin

  /** q176: TRIMMED-dup pairs by banded window-fingerprint equi-join —
    * the pairs q169 cannot see, with the blindness IN the report: two
    * clips pair when ≥ 4 window fingerprints match; `offset_w` is the
    * recovered trim (constant across every matched window of a true
    * trim — `n_offsets` = 1 pins it), and `global_hamming` carries
    * q169's whole-clip fingerprint distance for the same pair, > 3 on
    * the planted trims (the banded global matcher would drop them).
    * ONE decode pass feeds windows AND global fingerprints (the
    * checkpointed frame serves both); only hashes shuffle, and the
    * equi-join on the 32-char fingerprint is candidate-bounded exactly
    * like q148's span join — never all-pairs. */
  def q176AudioTrimmedDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = audioWithTrimmedDups(s, d).flatMap { m =>
      val pcm = MediaHeaders.wavSamples(m.data)
      val (hi, lo, _) = audioFp64(pcm.map(_.toInt))
      pcmWindows(pcm).map { case (w, csv) => (m.media_id, w.toLong, csv, hi, lo) }
    }.toDF("media_id", "w", "csv", "ghi", "glo")
      .select(col("media_id"), col("w"), md5(col("csv")).as("fp"),
        col("ghi"), col("glo"))
      .localCheckpoint(eager = false)
    // digital silence shares one window md5 across a whole crawl — drop
    // fps above the cap before the self-join (VERDICT r16 #1)
    val kept = dropHotKeys(rows, Seq("fp"), ExactFpCap)
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id"), col("b.media_id"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("b.w") - col("a.w")).as("offset_w"),
        countDistinct(col("b.w") - col("a.w")).as("n_offsets"),
        (bit_count(first(col("a.ghi")).bitwiseXOR(first(col("b.ghi")))) +
          bit_count(first(col("a.glo")).bitwiseXOR(first(col("b.glo")))))
          .cast("long").as("global_hamming"))
      .where(col("n_shared") >= 4)
      .select(col("a.media_id").as("media_id_a"), col("b.media_id").as("media_id_b"),
        col("n_shared"), col("offset_w"), col("n_offsets"), col("global_hamming"))
  }

  /** Oracle twin of [[q176AudioTrimmedDups]]: the window-fingerprint
    * self-join plus q168's integer-exact global fingerprint recomputed
    * over the TRIMMED corpus (wi = ⌊i·64/768⌋ energy buckets, the
    * es·tc ≥ ts·ec cross-multiplied threshold) to report each pair's
    * whole-clip Hamming distance. */
  val q176Sql: String =
    s"""$audioTrimCte,
       |wen AS (SELECT doc_id, (i * 64) // 768 AS wi, sum(v * v) AS es, count(*) AS ec
       |        FROM s GROUP BY doc_id, (i * 64) // 768),
       |tot AS (SELECT doc_id, sum(es) AS ts, sum(ec) AS tc
       |        FROM wen GROUP BY doc_id),
       |bits AS (SELECT wen.doc_id, wi,
       |                CASE WHEN es * tc >= ts * ec THEN 1 ELSE 0 END AS b
       |         FROM wen JOIN tot ON wen.doc_id = tot.doc_id),
       |gfp AS (SELECT doc_id,
       |    sum(CASE WHEN wi >= 32 THEN b * (CAST(1 AS BIGINT) << (wi - 32)) ELSE 0 END) AS hi,
       |    sum(CASE WHEN wi < 32 THEN b * (CAST(1 AS BIGINT) << wi) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id),
       |kwin AS (SELECT doc_id, w, fp FROM (
       |    SELECT win.*, count(*) OVER (PARTITION BY fp) AS fdf FROM win) wd
       |  WHERE fdf <= $ExactFpCap)
       |SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       |  CAST(count(*) AS BIGINT) AS n_shared,
       |  CAST(min(b.w - a.w) AS BIGINT) AS offset_w,
       |  CAST(count(DISTINCT b.w - a.w) AS BIGINT) AS n_offsets,
       |  CAST(bit_count(xor(max(ga.hi), max(gb.hi))) +
       |       bit_count(xor(max(ga.lo), max(gb.lo))) AS BIGINT) AS global_hamming
       |FROM kwin a JOIN kwin b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |JOIN gfp ga ON ga.doc_id = a.doc_id
       |JOIN gfp gb ON gb.doc_id = b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 4""".stripMargin

  /** Fabricate MJPEG clips with PLANTED SCENE CUTS, including a
    * single-frame scene that stride-2 thinning provably misses (the
    * realism gap VERDICT r15 ranked third): K = n_chars % 4 + 4 frames
    * at q165's dims, frame j's scene key c(j) = 0 for j < 3, 1 at
    * j = 3, 2 after — an A-A-A-B-C-C-C schedule whose one-frame B sits
    * at an ODD index, invisible to every-2nd-frame sampling. Blocks
    * stay constant per (scene, block) — the codec's exactness profile —
    * so per-frame changed-pixel counts and difference energies are
    * SQL-regenerable: scenes differ by 11·Δc mod 256 ≠ 0 in every
    * block, so a cut changes EVERY pixel. */
  def videosWithCuts(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    Tables(s, sfDir, "documents")
      .where(hasVideo(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = ((nChars % 3 + 2) * 8).toInt
        val h = ((nChars % 2 + 2) * 8).toInt
        val k = (nChars % 4 + 4).toInt
        val frames = (0 until k).map { j =>
          val c = if (j < 3) 0 else if (j == 3) 1 else 2
          val px = Array.tabulate(w * h) { i =>
            ((docId * 7 + c * 11 + (i / w / 8) * 13 + (i % w / 8) * 31) % 256).toInt
          }
          JpegCodec.encode(w, h, px)
        }
        MediaPayload(docId, "video", MediaHeaders.mjpegBytes(frames))
      }
  }

  /** Per-frame (changed-pixel count, difference energy) against the
    * previous frame of an already-decoded clip; frame 0 reports (0, 0).
    * A dimension change counts as a full-frame change. Shared by
    * [[q177SceneKeyframes]] and the streaming keyframe register
    * ([[sceneKeyframeFrames]]) so both select the same frames. */
  private[graft] def frameDiffStats(
      frames: IndexedSeq[(Long, Long, Array[Int])]): IndexedSeq[(Long, Long)] =
    frames.indices.map { j =>
      if (j == 0) (0L, 0L)
      else {
        val (pw, ph, px) = frames(j)
        val (qw, qh, prev) = frames(j - 1)
        // a dimension change is a full-frame change; its energy is not
        // meaningful pixel-wise, so report 0 (the count drives the rule)
        if (pw != qw || ph != qh) (px.length.toLong, 0L)
        else {
          var c = 0L
          var e = 0L
          var i = 0
          while (i < px.length) {
            val dv = px(i) - prev(i)
            if (dv != 0) { c += 1; e += dv.toLong * dv }
            i += 1
          }
          (c, e)
        }
      }
    }

  /** q177's keep rule: frame 0 always, then any frame whose
    * changed-pixel count is positive AND clears a quarter of the clip's
    * max — a clip-relative threshold, so compression jitter far below
    * the clip's own cut magnitude never registers, while every
    * comparable cut does (changed-pixel count, unlike difference
    * ENERGY, is magnitude-free: a subtle crossfade cut and a hard cut
    * both move every pixel). */
  private def keyframeRule(changed: IndexedSeq[Long]): IndexedSeq[Boolean] = {
    val maxC = if (changed.isEmpty) 0L else changed.max
    changed.indices.map(j => j == 0 || (changed(j) > 0 && 4 * changed(j) >= maxC))
  }

  /** Scene-change keyframe selection over an MJPEG payload: the decoded
    * frames [[keyframeRule]] keeps. The streaming dup probe registers
    * these instead of stride-2 frames when asked — stride-2 is
    * decode-free but structurally blind to scenes shorter than the
    * stride ([[videosWithCuts]] plants exactly that). */
  def sceneKeyframeFrames(bytes: Array[Byte]): Seq[(Long, Long, Array[Int])] =
    sceneKeyframesOf(MediaHeaders.mjpegFrames(bytes))

  /** [[sceneKeyframeFrames]] over an ALREADY-SPLIT frame list — the
    * streaming probe sniffs the container once for its video check and
    * hands the same split here instead of re-walking the payload
    * (ADVICE r16). */
  def sceneKeyframesOf(split: Seq[Array[Byte]]): Seq[(Long, Long, Array[Int])] = {
    val frames = split.flatMap(f => JpegCodec.decode(f)).toIndexedSeq
    val keep = keyframeRule(frameDiffStats(frames).map(_._1))
    frames.indices.collect { case j if keep(j) => frames(j) }
  }

  /** q177: scene-change keyframe report — one row per frame with its
    * changed-pixel count, difference energy, and the keyframe verdict.
    * The whole chain (frame split, decode, pairwise diff, clip max,
    * verdict) runs inside ONE task per video: frames and pixels never
    * cross a shuffle, only the 6-column rows leave the scan — the q165
    * scale shape with a second decoded frame held transiently for the
    * diff. The fixture's planted one-frame scene at index 3 makes the
    * report's thesis checkable: keyframes are {0, 3, 4}, while stride-2
    * sampling (q165/q120) keeps only even indices and misses the cut. */
  def q177SceneKeyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videosWithCuts(s, d).flatMap { m =>
      val frames = MediaHeaders.mjpegFrames(m.data)
        .flatMap(f => JpegCodec.decode(f)).toIndexedSeq
      val stats = frameDiffStats(frames)
      val keep = keyframeRule(stats.map(_._1))
      frames.indices.map { j =>
        (m.media_id, j.toLong, frames.size.toLong,
          stats(j)._1, stats(j)._2, keep(j))
      }
    }.toDF("media_id", "frame_idx", "n_frames",
      "n_changed", "diff_energy", "keyframe")
  }

  /** Oracle twin of [[q177SceneKeyframes]]: regenerate each frame's
    * per-block constants from the scene schedule, lag-diff them per
    * block position (a changed block changes all 64 of its pixels, so
    * counts and energies scale by 64), then apply the same
    * quarter-of-max keep rule. */
  val q177Sql: String =
    """WITH im AS (SELECT doc_id, CAST((n_chars % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST((n_chars % 2 + 2) * 8 AS BIGINT) AS h,
      |                   CAST(n_chars % 4 + 4 AS BIGINT) AS k
      |            FROM documents WHERE doc_id % 3 = 2),
      |fr AS (SELECT im.doc_id, im.w, im.h, im.k, g.g AS j,
      |              CASE WHEN g.g < 3 THEN 0 WHEN g.g = 3 THEN 1 ELSE 2 END AS c
      |       FROM im, (SELECT unnest(generate_series(0, 6)) AS g) g
      |       WHERE g.g < im.k),
      |bl AS (SELECT fr.doc_id, fr.k, fr.j, yy.g AS yb, xx.g AS xb,
      |              CAST((fr.doc_id * 7 + fr.c * 11 + yy.g * 13 + xx.g * 31) % 256
      |                   AS BIGINT) AS v
      |       FROM fr,
      |            (SELECT unnest(generate_series(0, 2)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 3)) AS g) xx
      |       WHERE yy.g < fr.h // 8 AND xx.g < fr.w // 8),
      |d AS (SELECT doc_id, k, j,
      |             v - lag(v) OVER (PARTITION BY doc_id, yb, xb ORDER BY j) AS dv
      |      FROM bl),
      |f AS (SELECT doc_id, k, j,
      |             CAST(64 * count(CASE WHEN dv <> 0 THEN 1 END) AS BIGINT) AS n_changed,
      |             CAST(64 * coalesce(sum(dv * dv), 0) AS BIGINT) AS diff_energy
      |      FROM d GROUP BY doc_id, k, j),
      |mx AS (SELECT doc_id, max(n_changed) AS mc FROM f GROUP BY doc_id)
      |SELECT f.doc_id AS media_id, f.j AS frame_idx, f.k AS n_frames,
      |       f.n_changed, f.diff_energy,
      |       (f.j = 0 OR (f.n_changed > 0 AND 4 * f.n_changed >= mx.mc)) AS keyframe
      |FROM f JOIN mx ON mx.doc_id = f.doc_id""".stripMargin

  /** Fabricate MJPEG clips with CROSS-VIDEO SHARED SCENES: the q177
    * schedule (A-A-A-B-C-C-C, K = n_chars % 4 + 4) with scene content
    * and dims keyed by gid = doc_id / 4 instead of doc_id — block
    * (by, bx) of scene c is (gid·7 + c·11 + by·13 + bx·31) mod 256 at
    * w = (gid % 3 + 2)·8, h = (gid % 2 + 2)·8 — so the two video-kind
    * docs of a quad (doc_ids 12k+8, 12k+11) carry the SAME scenes in
    * the same dims: re-posted clips sharing footage, the dup structure
    * a video-level pass must fold. (Scene content has period 256 in
    * gid and dims period 6, so gids 768 apart also share scenes — a
    * fixture quirk the oracle reproduces exactly, visible only past
    * ~3,000 docs.) */
  def videosWithSharedScenes(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    videosFromDocs(Tables(s, sfDir, "documents"))

  /** [[videosWithSharedScenes]] over an arbitrary (doc_id, n_chars)
    * frame — the CDC seam for the maintained scene index, same role as
    * [[imagesFromDocs]]/[[audioFromDocs]]/[[trimmedAudioFromDocs]]. */
  def videosFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where(hasVideo(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val gid = docId / 4
        val w = ((gid % 3 + 2) * 8).toInt
        val h = ((gid % 2 + 2) * 8).toInt
        val k = (nChars % 4 + 4).toInt
        val frames = (0 until k).map { j =>
          val c = if (j < 3) 0 else if (j == 3) 1 else 2
          val px = Array.tabulate(w * h) { i =>
            ((gid * 7 + c * 11 + (i / w / 8) * 13 + (i % w / 8) * 31) % 256).toInt
          }
          JpegCodec.encode(w, h, px)
        }
        MediaPayload(docId, "video", MediaHeaders.mjpegBytes(frames))
      }
  }

  /** q180: VIDEO near-dup by shared scene keyframes — the video arc's
    * pair report, built on q177's selector: decode, keep the scene
    * keyframes ([[sceneKeyframeFrames]] — NOT stride-2, which misses
    * one-frame scenes entirely), fingerprint each keyframe with q164's
    * dim-qualified pixel md5, and pair videos on exact fingerprint
    * equality, counting shared scenes. Fingerprints materialize ONCE
    * (localCheckpoint) so each video decodes exactly once; only
    * (media_id, 32-char fp) rows enter the equi-join, which is
    * candidate-bounded by the planted quad structure — never
    * all-pairs, and pixels never cross a shuffle. */
  def q180VideoSceneDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fps = videosWithSharedScenes(s, d).flatMap { m =>
      sceneKeyframeFrames(m.data).map { case (w, h, px) =>
        (m.media_id, s"${w}x$h:" + px.mkString(","))
      }
    }.toDF("media_id", "key")
      .select(col("media_id"), md5(col("key")).as("fp"))
      .localCheckpoint(eager = false)
    // black/slate frames share one scene hash across a whole crawl —
    // drop fps above the cap before the self-join (VERDICT r16 #1)
    val kept = dropHotKeys(fps, Seq("fp"), ExactFpCap)
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id"), col("b.media_id"))
      .agg(countDistinct(col("a.fp")).as("n_shared_scenes"))
      .select(col("a.media_id").as("media_id_a"),
        col("b.media_id").as("media_id_b"), col("n_shared_scenes"))
  }

  /** Oracle twin of [[q180VideoSceneDups]]: a video's keyframes are
    * exactly one frame per scene it contains ({0,1} always — K ≥ 4 —
    * plus scene 2 when K ≥ 5, q177's rule on this schedule), so
    * regenerate each present scene's dim-qualified pixel hash from the
    * gid-keyed formula and join on hash equality — from raw parquet,
    * no codec: a match proves decode ∘ keyframe-select ∘ hash lands
    * every planted scene exactly. */
  /** The scene-fingerprint regeneration CTEs (`im`/`sc`/`px`/`fp`) —
    * shared by q180/q185 and the maintained q187/q188 oracles. */
  private[graft] val sceneFpCte: String =
    """WITH im AS (SELECT doc_id, doc_id // 4 AS gid,
      |                   CAST(((doc_id // 4) % 3 + 2) * 8 AS BIGINT) AS w,
      |                   CAST(((doc_id // 4) % 2 + 2) * 8 AS BIGINT) AS h,
      |                   n_chars % 4 + 4 AS k
      |            FROM documents WHERE doc_id % 3 = 2),
      |sc AS (SELECT im.doc_id, im.gid, im.w, im.h, c.g AS c
      |       FROM im, (SELECT unnest(generate_series(0, 2)) AS g) c
      |       WHERE c.g <= 1 OR im.k >= 5),
      |px AS (SELECT sc.doc_id, sc.c, sc.w, sc.h, yy.g AS y, xx.g AS x,
      |              CAST((sc.gid * 7 + sc.c * 11 + (yy.g // 8) * 13 +
      |                    (xx.g // 8) * 31) % 256 AS BIGINT) AS v
      |       FROM sc,
      |            (SELECT unnest(generate_series(0, 23)) AS g) yy,
      |            (SELECT unnest(generate_series(0, 31)) AS g) xx
      |       WHERE yy.g < sc.h AND xx.g < sc.w),
      |fp AS (SELECT doc_id, c,
      |              md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' ||
      |                  string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x)) AS f
      |       FROM px GROUP BY doc_id, c, w, h)""".stripMargin

  val q180Sql: String =
    s"""$sceneFpCte,
      |kfp AS (SELECT doc_id, f FROM (
      |    SELECT fp.*, count(*) OVER (PARTITION BY f) AS fdf FROM fp) fd
      |  WHERE fdf <= $ExactFpCap)
      |SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
      |       CAST(count(DISTINCT a.f) AS BIGINT) AS n_shared_scenes
      |FROM kfp a JOIN kfp b ON b.f = a.f AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id""".stripMargin

  /** q181: the trimmed-audio dedup DECISION — the greedy keeper
    * convention (q132/q170) on q176's pair report: a clip is DROPPED
    * when a lower-id clip shares ≥ 4 window fingerprints (i.e., is the
    * same recording up to a trim). This is the keeper the GLOBAL
    * fingerprint family cannot make: q170 keeps both halves of every
    * trimmed pair because q169 never pairs them. */
  def q181TrimmedDedupKeep(s: SparkSession, d: String): DataFrame = {
    val removed = q176AudioTrimmedDups(s, d)
      .select(col("media_id_b").as("media_id")).distinct()
    audioWithTrimmedDups(s, d).toDF().select(col("media_id"))
      .join(removed.withColumn("dup", lit(1)), Seq("media_id"), "left")
      .select(col("media_id"), col("dup").isNull.as("keep"))
  }

  /** Oracle twin of [[q181TrimmedDedupKeep]]: the q176 window-join
    * pairs recomputed from raw parquet, then the keeper left-join. */
  val q181Sql: String =
    s"""$audioTrimCte,
       |kwin AS (SELECT doc_id, w, fp FROM (
       |    SELECT win.*, count(*) OVER (PARTITION BY fp) AS fdf FROM win) wd
       |  WHERE fdf <= $ExactFpCap),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
       |          FROM kwin a JOIN kwin b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 4),
       |removed AS (SELECT DISTINCT db AS doc_id FROM pairs)
       |SELECT a.doc_id AS media_id, r.doc_id IS NULL AS keep
       |FROM a LEFT JOIN removed r ON a.doc_id = r.doc_id""".stripMargin

  /** q185: the video-dedup DECISION — the greedy keeper convention on
    * q180's scene-pair report: a video is DROPPED when a lower-id video
    * shares ≥ 2 scene keyframes (substantially the same footage, not a
    * single stock shot). Completes the pair→keeper arc on the fourth
    * family, and it only exists because keyframes see every scene —
    * a stride-2 register would misscount shares and mis-keep. */
  def q185VideoDedupKeep(s: SparkSession, d: String): DataFrame = {
    val removed = q180VideoSceneDups(s, d)
      .where(col("n_shared_scenes") >= 2)
      .select(col("media_id_b").as("media_id")).distinct()
    videosWithSharedScenes(s, d).toDF().select(col("media_id"))
      .join(removed.withColumn("dup", lit(1)), Seq("media_id"), "left")
      .select(col("media_id"), col("dup").isNull.as("keep"))
  }

  /** Oracle twin of [[q185VideoDedupKeep]]: q180's recompute as a
    * nested CTE + the keeper left-join. */
  val q185Sql: String =
    s"""WITH pairs AS (
       |$q180Sql
       |),
       |removed AS (SELECT DISTINCT media_id_b AS doc_id FROM pairs
       |            WHERE n_shared_scenes >= 2)
       |SELECT im.doc_id AS media_id, r.doc_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 2) im
       |LEFT JOIN removed r ON im.doc_id = r.doc_id""".stripMargin

  /** q186's demonstration cap — small enough to BIND on the planted
    * flat cohort at every SF (33 flats at sf0.01), so the drop behavior
    * is itself oracle-gated; the production queries run the same
    * machinery at the structural [[ModalityBandCap]]. */
  val InstrumentBandCap = 16

  /** Fabricate MJPEG quads where one member is a RE-ENCODE (VERDICT r16
    * #4 — the realism q180 is structurally blind to): same scene
    * schedule as [[videosWithSharedScenes]], but the doc_id % 4 == 3
    * member's every pixel sits at +1 — the deterministic stand-in for a
    * second encoder's quant rounding. Two constructions make the
    * thesis exact rather than statistical: (a) block values live in
    * 0..254 (mod 255), so the +1 shift never wraps, and a UNIFORM +1
    * provably preserves [[ahash64]] bit-for-bit (the threshold is the
    * cross-multiplication cs·tc ≥ ts·cc; adding cc to cs and tc to ts
    * on both sides preserves every inequality) while changing every
    * pixel hash; (b) per-block values come from the NONLINEAR
    * square-mod mix (the r15 audio-fixture lesson) keyed by (gid, c,
    * block) — a LINEAR gid term would enter as a uniform shift that
    * aHash is invariant to, making every same-dims video collide at
    * Hamming 0 (observed: 4,973 pairs from 167 clips before the mix) —
    * so distinct recordings' and distinct scenes' hashes decorrelate
    * and ONLY the planted re-encode pairs match. Cut detection is
    * preserved: across a cut ~254/255 of blocks change, far above the
    * quarter-of-max keyframe rule. */
  def videosWithReencodes(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    videosWithReencodesFromDocs(Tables(s, sfDir, "documents"))

  /** [[videosWithReencodes]] over an arbitrary (doc_id, n_chars) frame —
    * the CDC seam for the maintained re-encode index
    * ([[graft.sources.ReencodeIndex]]), [[videosFromDocs]]'s shape. */
  def videosWithReencodesFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    // gid % 3 == 2 keeps exactly the quads with TWO video members
    // (4g and 4g+3 — the normal/re-encoded pair); dims are 16-pixel
    // multiples so frames carry 16-48 blocks — enough aHash entropy
    // that distinct recordings don't collide (8-pixel dims gave 4-12
    // blocks and 310 spurious Hamming-0 pairs from 167 clips)
    docs
      .where(hasVideo(col("doc_id")) && expr("(doc_id div 4) % 3") === 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val gid = docId / 4
        val shift = if (docId % 4 == 3) 1 else 0
        val w = ((gid % 3 + 2) * 16).toInt
        val h = ((gid % 2 + 2) * 16).toInt
        val k = (nChars % 4 + 4).toInt
        val frames = (0 until k).map { j =>
          val c = if (j < 3) 0 else if (j == 3) 1 else 2
          val px = Array.tabulate(w * h) { i =>
            val t = (gid * 2654435761L + c * 97L +
              (i / w / 8) * 13L + (i % w / 8) * 31L) % 2147483647L
            (t * t % 2147483647L % 255L + shift).toInt
          }
          JpegCodec.encode(w, h, px)
        }
        MediaPayload(docId, "video", MediaHeaders.mjpegBytes(frames))
      }
  }

  /** q189: video near-dup by BANDED-HAMMING keyframe matching — the
    * robustness rung q180 lacks: q180 pairs on EXACT keyframe pixel
    * hashes, so a re-encoded copy (different quant rounding, every
    * pixel ±1) shares zero exact hashes and goes unseen. Here every
    * scene keyframe gets the 64-bit [[ahash64]] and keyframes pair
    * through the same capped 4×16 banding as q131, rescored to exact
    * Hamming ≤ 3; per video pair the report carries the similar-scene
    * count AND `n_exact_shared` — the count the exact-hash family
    * would have found — so every re-encode pair carries its own
    * blindness witness in-row (q176's pattern: n_exact_shared = 0
    * while n_similar_scenes > 0). Decode + keyframe-select + hash are
    * per-row scan work; fingerprints materialize once; only 4-column
    * hash rows enter the banded join, hot bands capped. */
  def q189ReencodedSceneDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fr = videosWithReencodes(s, d).flatMap { m =>
      sceneKeyframeFrames(m.data).map { case (w, h, px) =>
        val (hi, lo, _) = ahash64(w.toInt, h.toInt, px)
        (m.media_id, s"${w}x$h:" + px.mkString(","), hi, lo)
      }
    }.toDF("media_id", "key", "hi", "lo")
      .select(col("media_id"), md5(col("key")).as("fp"), col("hi"), col("lo"))
      .localCheckpoint(eager = false) // materialize on first action, not at build
    val bands = fr.select(col("media_id"), col("fp"), col("hi"), col("lo"),
        explode(array(
          struct(lit(0).as("b"), col("lo").bitwiseAND(65535).as("v")),
          struct(lit(1).as("b"), shiftright(col("lo"), 16).bitwiseAND(65535).as("v")),
          struct(lit(2).as("b"), col("hi").bitwiseAND(65535).as("v")),
          struct(lit(3).as("b"), shiftright(col("hi"), 16).bitwiseAND(65535).as("v"))))
          .as("band"))
      .select(col("media_id"), col("fp"), col("hi"), col("lo"),
        col("band.b").as("b"), col("band.v").as("v"))
    val kept = dropHotKeys(bands, Seq("b", "v"), ModalityBandCap)
    kept.as("x").join(kept.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_id_a"),
        col("y.media_id").as("media_id_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"),
        (bit_count(col("x.hi").bitwiseXOR(col("y.hi"))) +
          bit_count(col("x.lo").bitwiseXOR(col("y.lo")))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .groupBy(col("media_id_a"), col("media_id_b"))
      .agg(countDistinct(col("fp_a")).as("n_similar_scenes"),
        countDistinct(when(col("fp_a") === col("fp_b"), col("fp_a")))
          .as("n_exact_shared"),
        max(col("hamming")).cast("long").as("max_hamming"))
  }

  /** Shared oracle prefix for the RE-ENCODE family (q189 and the
    * maintained q191/q193): regenerate the shifted pixel planes,
    * recompute the per-keyframe exact dim-qualified hash AND the
    * integer-exact aHash at pixel level, ending in the UNCAPPED band
    * rows `band0(doc_id, fp, hi, lo, b, v)`. */
  private[graft] val reencodeBandCte: String =
    s"""WITH im AS (SELECT doc_id, doc_id // 4 AS gid,
       |                   CAST(((doc_id // 4) % 3 + 2) * 16 AS BIGINT) AS w,
       |                   CAST(((doc_id // 4) % 2 + 2) * 16 AS BIGINT) AS h,
       |                   n_chars % 4 + 4 AS k,
       |                   CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS shift
       |            FROM documents
       |            WHERE doc_id % 3 = 2 AND (doc_id // 4) % 3 = 2),
       |sc AS (SELECT im.*, c.g AS c
       |       FROM im, (SELECT unnest(generate_series(0, 2)) AS g) c
       |       WHERE c.g <= 1 OR im.k >= 5),
       |px AS (SELECT sc.doc_id, sc.c, sc.w, sc.h, yy.g AS y, xx.g AS x,
       |              (yy.g * 8) // sc.h AS cy, (xx.g * 8) // sc.w AS cx,
       |              CAST(((sc.gid * 2654435761 + sc.c * 97 +
       |                     (yy.g // 8) * 13 + (xx.g // 8) * 31) % 2147483647)
       |                   * ((sc.gid * 2654435761 + sc.c * 97 +
       |                       (yy.g // 8) * 13 + (xx.g // 8) * 31) % 2147483647)
       |                   % 2147483647 % 255 + sc.shift AS BIGINT) AS v
       |       FROM sc,
       |            (SELECT unnest(generate_series(0, 63)) AS g) yy,
       |            (SELECT unnest(generate_series(0, 63)) AS g) xx
       |       WHERE yy.g < sc.h AND xx.g < sc.w),
       |exact AS (SELECT doc_id, c,
       |              md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' ||
       |                  string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x)) AS fp
       |          FROM px GROUP BY doc_id, c, w, h),
       |cell AS (SELECT doc_id, c, cy * 8 + cx AS idx,
       |                sum(v) AS cs, count(*) AS cc
       |         FROM px GROUP BY doc_id, c, cy, cx),
       |tot AS (SELECT doc_id, c, sum(cs) AS ts, sum(cc) AS tc
       |        FROM cell GROUP BY doc_id, c),
       |bits AS (SELECT cell.doc_id, cell.c, idx,
       |                CASE WHEN cs * tc >= ts * cc THEN 1 ELSE 0 END AS b
       |         FROM cell JOIN tot ON cell.doc_id = tot.doc_id AND cell.c = tot.c),
       |hash AS (SELECT doc_id, c,
       |    sum(CASE WHEN idx >= 32 THEN b * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS hi,
       |    sum(CASE WHEN idx < 32 THEN b * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id, c),
       |fr AS (SELECT hash.doc_id, exact.fp, hash.hi, hash.lo
       |       FROM hash JOIN exact ON hash.doc_id = exact.doc_id
       |         AND hash.c = exact.c),
       |band0 AS (SELECT doc_id, fp, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM fr, (VALUES (0), (1), (2), (3)) g(b))""".stripMargin

  /** Oracle twin of [[q189ReencodedSceneDups]]: the shared re-encode
    * prefix, then the same capped band join, Hamming rescore and
    * per-pair aggregation. */
  val q189Sql: String =
    s"""$reencodeBandCte,
       |band AS (SELECT doc_id, fp, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap),
       |p AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |        a.fp AS fpa, b.fp AS fpb,
       |        bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
       |      FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |        AND a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)
       |SELECT da AS media_id_a, db AS media_id_b,
       |  CAST(count(DISTINCT fpa) AS BIGINT) AS n_similar_scenes,
       |  CAST(count(DISTINCT CASE WHEN fpa = fpb THEN fpa END) AS BIGINT)
       |    AS n_exact_shared,
       |  CAST(max(hamming) AS BIGINT) AS max_hamming
       |FROM p GROUP BY da, db""".stripMargin

  /** [[imagesWithPixels]] plus a planted FLAT-image cohort — the
    * degenerate class VERDICT r16 named: every constant image aHashes
    * to ALL-ONES regardless of its constant (each cell mean equals the
    * image mean, and the threshold is ≥), so the whole cohort lands in
    * the SAME four band values and the uncapped self-join goes
    * quadratic on it. Flats come from doc_id % 15 = 1 (disjoint from
    * the % 3 = 0 image residue; 15 ≡ 0 mod 3), constant value
    * doc_id·7 mod 256, q127's dims. */
  def imagesWithFlatCohort(s: SparkSession, sfDir: String): Dataset[MediaPayload] = {
    import s.implicits._
    val flats = Tables(s, sfDir, "documents")
      .where(col("doc_id") % 15 === 1)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val w = (nChars % 24 + 8).toInt
        val h = (nChars % 16 + 8).toInt
        val px = Array.fill(w * h)((docId * 7 % 256).toInt)
        MediaPayload(docId, "image", MediaHeaders.pngPixelBytes(w, h, px))
      }
    imagesWithPixels(s, sfDir).union(flats)
  }

  /** q186: the HOT-BAND instrument — q156's blocking-quality report for
    * the modality dedup family, run over a corpus WITH the degenerate
    * cohort every real crawl has (flat images). Per band slot: how many
    * distinct band values exist, the largest membership (the skew the
    * cap watches), how many values the [[InstrumentBandCap]] drops and
    * how many member rows go with them (the recall cost, reported the
    * way q156 reports blocking cost), then the candidate and verified
    * pair counts the CAPPED join actually performs. On this fixture the
    * uncapped join would emit 33·32/2 ≈ 5× the true-pair work at
    * sf0.01 and ~5.5M candidate rows at sf0.1 — quadratic in the
    * cohort — while the capped plan's pair work stays bounded by
    * cap·|band rows|. THE tuning artifact for [[ModalityBandCap]]:
    * run it at full scale before trusting any cap value. */
  def q186HotBandReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = imagesWithFlatCohort(s, d).flatMap { m =>
      MediaHeaders.pngPixels(m.data).map { case (w, h, px) =>
        val (hi, lo, _) = ahash64(w.toInt, h.toInt, px)
        (m.media_id, hi, lo)
      }
    }.toDF("media_id", "ahash_hi", "ahash_lo")
    val bands = bandExplode(hashes).localCheckpoint(eager = false)
    val bst = bands.groupBy(col("b"), col("v")).agg(count(lit(1)).as("df"))
    val stat = bst.groupBy(col("b")).agg(
      count(lit(1)).as("n_bands"),
      max(col("df")).as("max_band_size"),
      sum(when(col("df") > InstrumentBandCap, 1L).otherwise(0L)).as("n_hot_bands"),
      sum(when(col("df") > InstrumentBandCap, col("df")).otherwise(0L))
        .as("n_dropped_rows"))
    val kept = bands.join(
      bst.where(col("df") <= InstrumentBandCap).select(col("b"), col("v")),
      Seq("b", "v"), "left_semi")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.b").as("b"))
      .agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(bit_count(col("x.ahash_hi").bitwiseXOR(col("y.ahash_hi"))) +
          bit_count(col("x.ahash_lo").bitwiseXOR(col("y.ahash_lo"))) <= 3, 1L)
          .otherwise(0L)).as("n_dup_pairs"))
    stat.join(pairs, Seq("b"), "left")
      .select(col("b"), col("n_bands"), col("max_band_size"),
        col("n_hot_bands"), col("n_dropped_rows"),
        coalesce(col("n_candidate_pairs"), lit(0L)).as("n_candidate_pairs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"))
  }

  /** Oracle twin of [[q186HotBandReport]]: the regular images' hashes
    * via [[ahashCte]], the flat cohort's closed-form all-ones hash
    * (no pixel regen needed — the class's degeneracy IS the closed
    * form), then the same band stats and capped join in SQL. */
  val q186Sql: String =
    s"""$ahashCte,
       |flat AS (SELECT doc_id, CAST(4294967295 AS BIGINT) AS hi,
       |                CAST(4294967295 AS BIGINT) AS lo
       |         FROM documents WHERE doc_id % 15 = 1),
       |allh AS (SELECT doc_id, hi, lo FROM hash
       |         UNION ALL SELECT doc_id, hi, lo FROM flat),
       |band AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM allh, (VALUES (0), (1), (2), (3)) g(b)),
       |bst AS (SELECT b, v, count(*) AS df FROM band GROUP BY b, v),
       |stat AS (SELECT b, CAST(count(*) AS BIGINT) AS n_bands,
       |       CAST(max(df) AS BIGINT) AS max_band_size,
       |       CAST(sum(CASE WHEN df > $InstrumentBandCap THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hot_bands,
       |       CAST(sum(CASE WHEN df > $InstrumentBandCap THEN df ELSE 0 END) AS BIGINT)
       |         AS n_dropped_rows
       |  FROM bst GROUP BY b),
       |kept AS (SELECT band.* FROM band
       |         JOIN bst ON band.b = bst.b AND band.v = bst.v
       |         WHERE bst.df <= $InstrumentBandCap),
       |p AS (SELECT x.b AS b, CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       |       CAST(sum(CASE WHEN bit_count(xor(x.hi, y.hi)) +
       |                          bit_count(xor(x.lo, y.lo)) <= 3
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs
       |  FROM kept x JOIN kept y ON x.b = y.b AND x.v = y.v
       |    AND x.doc_id < y.doc_id
       |  GROUP BY x.b)
       |SELECT stat.b, n_bands, max_band_size, n_hot_bands, n_dropped_rows,
       |  coalesce(n_candidate_pairs, 0) AS n_candidate_pairs,
       |  coalesce(n_dup_pairs, 0) AS n_dup_pairs
       |FROM stat LEFT JOIN p ON p.b = stat.b""".stripMargin

  /** Fabricate WAV quads where one member is a GAIN-SCALED copy
    * (VERDICT r16 #5 — the realism q175/q176 are structurally blind
    * to: md5-of-exact-samples dies on ANY amplitude change). Base PCM
    * is the trimmed-audio family's nonlinear mix confined to HALF
    * range (−16384..16383), so the doc_id % 4 == 3 member's ×2 gain is
    * exact in int16 with no clipping — and exact ×2 preserves every
    * strict sample-order comparison, which is what the gain-robust
    * fingerprint reads. Quads with two audio members are g ≡ 1 mod 3
    * (members 4g and 4g+3), so every planted pair is (normal, gained). */
  def audioWithGainDups(s: SparkSession, sfDir: String): Dataset[MediaPayload] =
    audioWithGainDupsFromDocs(Tables(s, sfDir, "documents"))

  /** [[audioWithGainDups]] over an arbitrary (doc_id, n_chars) frame —
    * the CDC seam for the maintained gain-window index
    * ([[graft.sources.GainWindowIndex]]), [[trimmedAudioFromDocs]]'s
    * shape. */
  def audioWithGainDupsFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where(hasAudio(col("doc_id")))
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (docId, nChars) =>
        val gid = docId / 4
        val gain = if (docId % 4 == 3) 2 else 1
        val bb = java.nio.ByteBuffer.allocate(768 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < 768) {
          // DECORRELATION (the r15 fixture lesson, two failures deep): a
          // single x^2 mix left all clips on one global sequence with
          // gid-linear phases (111 spurious cross-pairs), and even with
          // a second multiplier the quadratic lattice repeated sign
          // patterns (2517 distinct of 3841 windows). The ASYMMETRIC
          // QUARTIC (t^2+t, then squared) measures collision-free:
          // every duplicate window left is a planted quad sibling.
          val t = (gid * 2654435761L + j * 2246822519L) % 2147483647L
          val u = (t * t + t) % 2147483647L
          bb.putShort(((u * u % 2147483647L % 32768L - 16384L) * gain).toShort)
          j += 1
        }
        MediaPayload(docId, "audio",
          MediaHeaders.wavBytes(8000 + (nChars.toInt % 8) * 1000, 1, 16, bb.array()))
      }
  }

  /** The GAIN-ROBUST window fingerprint: bit j (0 ≤ j < 63) of a
    * 64-sample window is 1 iff sample j+1 > sample j — the sign-of-delta
    * pattern (the audio-fingerprint literature's standard order
    * statistic). Any positive exact scaling preserves every strict
    * comparison, so a gained copy shares ALL its windows; md5-of-samples
    * shares none. Packed as one BIGINT, engine-reproducible. */
  private[graft] def signBits(pcm: Array[Short], start: Int): Long = {
    var bits = 0L
    var j = 0
    while (j < 63) {
      if (pcm(start + j + 1) > pcm(start + j)) bits |= 1L << j
      j += 1
    }
    bits
  }

  /** q190: gain-robust audio dedup — q176's trimmed-dup matcher with
    * the order-statistic fingerprint instead of exact-sample md5: clips
    * pair when ≥ 4 sign-of-delta window fingerprints match, with the
    * recovered offset, offset cardinality, AND `n_exact_shared` — the
    * count the exact-window family (q175/q176/q183) would have found —
    * so every gain pair carries its own blindness witness in-row
    * (n_exact_shared = 0 while n_shared ≥ 4, q176's convention). Same
    * scale shape as q176: per-row decode + windowing, only (id, w,
    * 2 fingerprints) rows enter the capped equi-join. */
  def q190GainRobustDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = audioWithGainDups(s, d).flatMap { m =>
      val pcm = MediaHeaders.wavSamples(m.data)
      pcmWindows(pcm).map { case (w, csv) =>
        (m.media_id, w.toLong, signBits(pcm, w * 32), csv)
      }
    }.toDF("media_id", "w", "sfp", "csv")
      .select(col("media_id"), col("w"), col("sfp"), md5(col("csv")).as("efp"))
      .localCheckpoint(eager = false)
    val kept = dropHotKeys(rows, Seq("sfp"), ExactFpCap)
    kept.as("a").join(kept.as("b"),
        col("a.sfp") === col("b.sfp") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id"), col("b.media_id"))
      .agg(count(lit(1)).as("n_shared"),
        sum(when(col("a.efp") === col("b.efp"), 1L).otherwise(0L))
          .as("n_exact_shared"),
        min(col("b.w") - col("a.w")).as("offset_w"),
        countDistinct(col("b.w") - col("a.w")).as("n_offsets"))
      .where(col("n_shared") >= 4)
      .select(col("a.media_id").as("media_id_a"),
        col("b.media_id").as("media_id_b"),
        col("n_shared"), col("n_exact_shared"),
        col("offset_w"), col("n_offsets"))
  }

  /** Shared oracle prefix for the GAIN family (q190 and the maintained
    * q192/q194): regenerate the half-range PCM with the per-member
    * gain, pack the 63-bit sign-of-delta fingerprint with lead() +
    * shifted sums, and md5 the exact samples for the witness column —
    * ending in the UNCAPPED window rows `win(doc_id, w, sfp, efp)`. */
  private[graft] val gainWinCte: String =
    s"""WITH a AS (SELECT doc_id, doc_id // 4 AS gid,
       |                  CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS gain
       |           FROM documents WHERE doc_id % 3 = 1),
       |s0 AS (SELECT a.doc_id, a.gain, g.i,
       |         (a.gid * 2654435761 + g.i * 2246822519) % 2147483647 AS t
       |       FROM a, (SELECT unnest(generate_series(0, 767)) AS i) g),
       |s1 AS (SELECT doc_id, gain, i, (t * t + t) % 2147483647 AS u FROM s0),
       |s AS (SELECT doc_id, i,
       |        (u * u % 2147483647 % 32768 - 16384) * gain AS v
       |      FROM s1),
       |d AS (SELECT doc_id, i, v,
       |             lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
       |      FROM s),
       |wj AS (SELECT w.g AS w, j.g AS j, w.g * 32 + j.g AS i
       |       FROM (SELECT unnest(generate_series(0, 22)) AS g) w,
       |            (SELECT unnest(generate_series(0, 63)) AS g) j),
       |win AS (SELECT d.doc_id, wj.w,
       |          sum(CASE WHEN wj.j < 63 AND d.nv > d.v
       |                   THEN CAST(1 AS BIGINT) << wj.j ELSE 0 END) AS sfp,
       |          md5(string_agg(CAST(d.v AS VARCHAR), ',' ORDER BY wj.j)) AS efp
       |        FROM wj JOIN d ON d.i = wj.i
       |        GROUP BY d.doc_id, wj.w)""".stripMargin

  /** Oracle twin of [[q190GainRobustDups]]: the shared gain prefix,
    * then the same capped join + gate. */
  val q190Sql: String =
    s"""$gainWinCte,
       |kwin AS (SELECT doc_id, w, sfp, efp FROM (
       |    SELECT win.*, count(*) OVER (PARTITION BY sfp) AS fdf FROM win) wd
       |  WHERE fdf <= $ExactFpCap)
       |SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
       |  CAST(count(*) AS BIGINT) AS n_shared,
       |  CAST(sum(CASE WHEN a.efp = b.efp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_shared,
       |  CAST(min(b.w - a.w) AS BIGINT) AS offset_w,
       |  CAST(count(DISTINCT b.w - a.w) AS BIGINT) AS n_offsets
       |FROM kwin a JOIN kwin b ON b.sfp = a.sfp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 4""".stripMargin

  /** q201 — the q186 hot-key instrument generalized to the ROBUST key
    * spaces (VERDICT r17 #6): the re-encode family's banded-aHash keys
    * (`bk`, capped at [[ModalityBandCap]] by q189/q191/q193) and the
    * gain family's sign-of-delta window fingerprints (`sfp`, capped at
    * [[ExactFpCap]] by q190/q192/q194) cap at the same constants as the
    * exact families but had no dropped-rows recall report of their own
    * — and a real crawl's black frames and digital silence concentrate
    * exactly there (a black keyframe's aHash is all-ones in every band;
    * silence packs an all-zero sign pattern). One row per key space:
    * the key population, the observed maximum key size (the number to
    * cross-check the cap against at full scale — at sf0.1 the observed
    * maxima are 18 for bk (3,288 keys) and 2 for sfp (28,750 keys),
    * far under the 1024/64 caps, so the caps cost ZERO dropped rows on
    * this corpus while still bounding a crawl's degenerate cohorts),
    * and what the production cap would drop. Derives through the INDEX objects' own fact
    * generators ([[graft.sources.ReencodeIndex.bandFacts]] /
    * [[graft.sources.GainWindowIndex.windows]]), so the instrument
    * measures exactly the key distribution the maintained tables and
    * batch queries join on — it cannot drift from them. */
  /** The one-row key-space report both instruments share: key
    * population, observed maximum key size, and what the production cap
    * would drop. ONE definition site so q201 (recomputed from the
    * corpus) and q202 (read from the stored index rows) cannot drift in
    * what they report — any difference between them is then a
    * difference in the ROWS, which is exactly the maintained ≡
    * recomputed claim. */
  private[graft] def keySpaceStat(rows: DataFrame, key: String,
      space: String, cap: Int): DataFrame =
    rows.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("df")).as("max_key_size"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("n_hot_keys"),
        sum(when(col("df") > cap, col("df")).otherwise(0L)).as("n_dropped_rows"))
      .select(lit(space).as("space"), lit(cap.toLong).as("cap"),
        col("n_keys"), col("max_key_size"),
        col("n_hot_keys"), col("n_dropped_rows"))

  def q201RobustKeySpaces(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents").select(col("doc_id"), col("n_chars"))
    keySpaceStat(graft.sources.ReencodeIndex.bandFacts(base), "bk",
        "reencode_bk", ModalityBandCap)
      .union(keySpaceStat(graft.sources.GainWindowIndex.windows(base), "sfp",
        "gain_sfp", ExactFpCap))
  }

  /** Oracle twin of [[q201RobustKeySpaces]]: both families' shared
    * prefixes (the re-encode band rows, the gain windows — their CTE
    * name spaces are disjoint), then the same per-space key-population
    * aggregate. bk = b·2¹⁶ + v, so grouping by (b, v) counts the same
    * keys. */
  val q201Sql: String =
    s"""$reencodeBandCte,
       |${gainWinCte.stripPrefix("WITH ")},
       |bkdf AS (SELECT b, v, count(*) AS df FROM band0 GROUP BY b, v),
       |sfdf AS (SELECT sfp, count(*) AS df FROM win GROUP BY sfp)
       |SELECT 'reencode_bk' AS space, CAST($ModalityBandCap AS BIGINT) AS cap,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(max(df) AS BIGINT) AS max_key_size,
       |  CAST(sum(CASE WHEN df > $ModalityBandCap THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hot_keys,
       |  CAST(sum(CASE WHEN df > $ModalityBandCap THEN df ELSE 0 END) AS BIGINT)
       |    AS n_dropped_rows
       |FROM bkdf
       |UNION ALL
       |SELECT 'gain_sfp', CAST($ExactFpCap AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(max(df) AS BIGINT),
       |  CAST(sum(CASE WHEN df > $ExactFpCap THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(sum(CASE WHEN df > $ExactFpCap THEN df ELSE 0 END) AS BIGINT)
       |FROM sfdf""".stripMargin

  // ------------------------------------------------------- cross-modal

  /** Membership predicate of the CROSS-MODAL family — which documents
    * carry a captioned image. ONE definition site (VERDICT r17 #4),
    * consumed by every surface of the family: the batch queries
    * (q195/q196 via [[captionedImagesFromDocs]]), the maintained index
    * ([[graft.sources.CrossModalIndex]]'s report and probe), the live
    * stream ([[graft.streaming.EventStream]]'s cross-modal probe, via
    * [[hasImageId]]) and — via [[hasImageSql]] — the oracle CTEs. In
    * this fixture corpus it is the media-catalog kind model's image arm
    * (doc_id % 3 = 0, [[mediaCatalogSql]]'s CASE); a production corpus
    * replaces this body with its real image-attachment metadata and
    * every surface follows. */
  def hasImage(docId: Column): Column = docId % 3 === 0

  /** The kind model's other two arms, for the same reason: every Scala
    * generator gates on ONE definition per modality instead of a bare
    * modulus. (The oracle texts keep the literal `doc_id % 3 = N` —
    * they are colocated with their queries and the hash gate pins
    * generator ≡ oracle, so a one-sided edit cannot ship; the
    * cross-modal image predicate needed more because it spans four
    * DECOUPLED surfaces, including streams and index code.) */
  def hasAudio(docId: Column): Column = docId % 3 === 1
  def hasVideo(docId: Column): Column = docId % 3 === 2

  /** [[hasImage]] for JVM-side streams (the `transformWithState`
    * processors see raw longs, not Columns). */
  private[graft] def hasImageId(docId: Long): Boolean = docId % 3 == 0

  /** [[hasImage]] as engine-neutral SQL, qualified by `ref` — the form
    * the oracle texts interpolate so the predicate cannot drift
    * between engine and oracle. */
  def hasImageSql(ref: String = "doc_id"): String = s"$ref % 3 = 0"

  /** Captioned-image payloads — the CLIP-style (image, caption) record:
    * the doc's text is the caption and the IMAGE is CONTENT-KEYED — the
    * pixel seed is the caption's first MinHash slice h0 (min over the
    * doc's shingle md5s, 16 bits), and the dims derive from the seed —
    * so a re-posted caption carries the re-posted image, the way
    * scraped alt-text/image pairs actually co-occur. Distinct captions
    * collide on h0 at the birthday rate (same image under a DIFFERENT
    * caption — the label-noise class), and near-dup captions that miss
    * band 0 keep their own images (same caption wording, different
    * illustration). Docs with no shingles (< 3 tokens) seed 0. The
    * seed is engine-reproducible: min(substring(md5(shingle), 1, 4))
    * parsed as hex, the q30 signature's own h0. */
  def captionedImagesFromDocs(docs: DataFrame): Dataset[MediaPayload] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.where(hasImage(col("doc_id")))
      .select(col("doc_id"),
        graft.functions.TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode_outer(expr(graft.functions.TextOps.shinglesExpr)).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(min(substring(md5(col("shingle")), 1, 4)).as("h0"))
      .select(col("doc_id"),
        coalesce(conv(col("h0"), 16, 10).cast("long"), lit(0L)).as("seed"))
      .as[(Long, Long)]
      .map { case (docId, seed) =>
        MediaPayload(docId, "image", captionedPngBytes(seed))
      }
  }

  /** The content-keyed PNG for a caption seed — the ONE pixel formula
    * behind q195's images, shared by the batch generator above and the
    * streaming probe so the two surfaces cannot drift. */
  private[graft] def captionedPngBytes(seed: Long): Array[Byte] = {
    val w = (seed % 24 + 8).toInt
    val h = (seed % 16 + 8).toInt
    val px = Array.tabulate(w * h)(i =>
      ((seed * 7 + (i / w) * 13 + (i % w) * 31) % 256).toInt)
    MediaHeaders.pngPixelBytes(w, h, px)
  }

  /** JVM mirror of the q30 signature chain for STREAMS: the 8 MinHash
    * slices (h0..h7) of a caption, or None when it has no shingles
    * (< 3 tokens) — value-identical to the DataFrame chain (same
    * whitespace tokenizer, same 3-gram shingles, same md5-hex slices;
    * min over the multiset equals min over the distinct set), which
    * MultimodalSpec pins on real corpus text. The streaming cross-modal
    * probe derives BOTH arms from it per row: caption band buckets
    * (slice pairs) and the h0 image seed. */
  private[graft] def captionSig(text: String): Option[Array[String]] = {
    val toks = text.trim.split("\\s+")
    if (toks.length < 3) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexes = (0 to toks.length - 3).map { i =>
        md.reset()
        md.digest((toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
            .getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
      }
      Some(Array.tabulate(8)(k =>
        hexes.iterator.map(_.substring(k * 4, k * 4 + 4)).min))
    }
  }

  /** q195: CROSS-MODAL pair integrity over captioned images — the dedup
    * decision a CLIP-style training pipeline needs at the PAIR level,
    * where neither single-modality family can make it alone. Every
    * near-dup pair in either modality is classified in one report:
    * `dup_pair` (image AND caption near-dup — drop one), `recaptioned`
    * (same image, different caption — label noise or caption
    * diversity, an annotation decision), `reillustrated` (same caption,
    * different image — stock-photo reuse). Image pairs run q131's
    * whole chain on the content-keyed PNGs (real decode, integer aHash,
    * capped 4×16 banding, Hamming ≤ 3); caption pairs are the q30
    * MinHash LSH candidates restricted to image-carrying docs; the two
    * bounded pair sets meet in ONE full-outer join on the pair key. At
    * 100 TB both sides are candidate-bounded before they meet — the
    * join is pair-count-sized, never corpus-sized. */
  /** q195's pair set as an opt-in shared persisted view (same
    * `graft.cacheTables` flag and lifecycle as TextOps' candidate
    * cache): q196 consumes the full set twice, so suite runs pay the
    * decode + band-join once, as the shared view `crossmodal_pairs`.
    * Entries of stopped sessions are dropped on access; their blocks
    * went with `SparkContext.stop`. Off by default — Verify measures the real path. */
  private val crossmodalPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def sharedViewBuilders(
      s: SparkSession, d: String): Seq[(String, () => Long)] = Seq(
    "crossmodal_pairs" -> (() => q195CrossModalPairs(s, d).count()))

  def q195CrossModalPairs(s: SparkSession, d: String): DataFrame =
    if (sys.props.get("graft.cacheTables").contains("true")) {
      crossmodalPairsCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      crossmodalPairsCache.getOrElseUpdate((s, d), buildCrossModalPairs(s, d).persist())
    } else buildCrossModalPairs(s, d)

  private def buildCrossModalPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r20: checkpointed — the banded self-join consumes `hashes` on both
    // sides (plus the hot-key gate), and without materialization the
    // whole caption-seeded generate + PNG decode + aHash chain re-ran
    // once per consumer (plan: 13 Generate, 0 ReusedExchange). q189's
    // pattern; one image-count-sized table.
    val hashes = captionedImagesFromDocs(Tables(s, d, "documents"))
      .flatMap { m =>
        MediaHeaders.pngPixels(m.data).map { case (w, h, px) =>
          val (hi, lo, _) = ahash64(w.toInt, h.toInt, px)
          (m.media_id, hi, lo)
        }
      }.toDF("media_id", "ahash_hi", "ahash_lo")
      .localCheckpoint(eager = false) // materialize on first action, not at build
    val img = neardupPairs(hashes)
      .select(col("media_id_a").as("doc_a"), col("media_id_b").as("doc_b"),
        lit(true).as("image_dup"))
    val cap = graft.functions.TextOps.candidatePairs(s, d)
      .where(hasImage(col("doc_a")) && hasImage(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), lit(true).as("caption_dup"))
    img.join(cap, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("image_dup"), lit(false)).as("image_dup"),
        coalesce(col("caption_dup"), lit(false)).as("caption_dup"))
      .withColumn("relation",
        when(col("image_dup") && col("caption_dup"), "dup_pair")
          .when(col("image_dup"), "recaptioned")
          .otherwise("reillustrated"))
  }

  /** Shared oracle prefix for the CROSS-MODAL family (q195/q196): the
    * q30 signature chain once (captions AND the h0 image seed both
    * read it), seed-keyed pixel regeneration, the integer-exact aHash
    * + capped band join — ending in `cand` (caption candidates among
    * image docs) and `ip` (image near-dup pairs). */
  private[graft] val crossmodalPairCtes: String =
    s"""WITH ${graft.functions.TextOps.shingleCte},
       |hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
       |sig AS (SELECT doc_id,
       |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
       |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
       |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
       |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, h0 || h1 AS bucket FROM sig
       |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
       |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
       |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |         WHERE ${hasImageSql("a.doc_id")} AND ${hasImageSql("b.doc_id")}),
       |seed AS (SELECT d.doc_id,
       |           COALESCE(CAST(('0x' || s.h0) AS BIGINT), 0) AS seed
       |         FROM (SELECT doc_id FROM documents WHERE ${hasImageSql()}) d
       |         LEFT JOIN sig s ON s.doc_id = d.doc_id),
       |im AS (SELECT doc_id, seed, CAST(seed % 24 + 8 AS BIGINT) AS w,
       |              CAST(seed % 16 + 8 AS BIGINT) AS h
       |       FROM seed),
       |px AS (SELECT im.doc_id, im.w, im.h,
       |              (y.g * 8) // im.h AS cy, (x.g * 8) // im.w AS cx,
       |              CAST((im.seed * 7 + y.g * 13 + x.g * 31) % 256 AS BIGINT) AS v
       |       FROM im,
       |            (SELECT unnest(generate_series(0, 22)) AS g) y,
       |            (SELECT unnest(generate_series(0, 30)) AS g) x
       |       WHERE y.g < im.h AND x.g < im.w),
       |cell AS (SELECT doc_id, w, h, cy * 8 + cx AS idx,
       |                sum(v) AS cs, count(*) AS cc
       |         FROM px GROUP BY doc_id, w, h, cy, cx),
       |tot AS (SELECT doc_id, sum(cs) AS ts, sum(cc) AS tc
       |        FROM cell GROUP BY doc_id),
       |bits AS (SELECT cell.doc_id, idx,
       |                CASE WHEN cs * tc >= ts * cc THEN 1 ELSE 0 END AS b
       |         FROM cell JOIN tot ON cell.doc_id = tot.doc_id),
       |hash AS (SELECT doc_id,
       |    sum(CASE WHEN idx >= 32 THEN b * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS hi,
       |    sum(CASE WHEN idx < 32 THEN b * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS lo
       |  FROM bits GROUP BY doc_id),
       |band0 AS (SELECT doc_id, hi, lo, g.b,
       |    CASE g.b WHEN 0 THEN lo & 65535
       |             WHEN 1 THEN (lo >> 16) & 65535
       |             WHEN 2 THEN hi & 65535
       |             ELSE (hi >> 16) & 65535 END AS v
       |  FROM hash, (VALUES (0), (1), (2), (3)) g(b)),
       |band AS (SELECT doc_id, hi, lo, b, v FROM (
       |    SELECT band0.*, count(*) OVER (PARTITION BY b, v) AS bdf FROM band0) bd
       |  WHERE bdf <= $ModalityBandCap),
       |ip AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |       FROM band a JOIN band b ON a.b = b.b AND a.v = b.v
       |         AND a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)""".stripMargin

  /** The classified pair set (the q195 final select, reusable as a
    * CTE body by q196). */
  private val crossmodalRelSelect: String =
    """SELECT COALESCE(ip.doc_a, c.doc_a) AS doc_a,
      |       COALESCE(ip.doc_b, c.doc_b) AS doc_b,
      |       ip.doc_a IS NOT NULL AS image_dup,
      |       c.doc_a IS NOT NULL AS caption_dup,
      |       CASE WHEN ip.doc_a IS NOT NULL AND c.doc_a IS NOT NULL THEN 'dup_pair'
      |            WHEN ip.doc_a IS NOT NULL THEN 'recaptioned'
      |            ELSE 'reillustrated' END AS relation
      |FROM ip FULL OUTER JOIN cand c
      |  ON c.doc_a = ip.doc_a AND c.doc_b = ip.doc_b""".stripMargin

  /** Oracle twin of [[q195CrossModalPairs]]: the shared prefix, then
    * the full-outer classification. */
  val q195Sql: String = s"$crossmodalPairCtes\n$crossmodalRelSelect"

  /** q196: the cross-modal dedup DECISION (q132's min-side-survivor
    * convention lifted to pairs-of-modalities): per captioned image,
    * how many partners it has in each q195 class — n_dup (true pair
    * duplicates), n_recaptioned (same image under other captions: the
    * label-noise exposure an annotation review triages), and
    * n_reillustrated (its caption under other images) — plus `keep`,
    * false iff the doc is the b-side of any dup_pair (exactly one
    * survivor per matched pair, the greedy convention every keeper
    * query here shares). One union + one aggregation over the bounded
    * q195 pair set; the corpus is touched once for the left join. */
  def q196CrossModalKeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = q195CrossModalPairs(s, d).localCheckpoint(eager = false)
    val u = pairs
      .select(col("doc_a").as("doc_id"), col("relation"), lit(0).as("is_b"))
      .union(pairs
        .select(col("doc_b").as("doc_id"), col("relation"), lit(1).as("is_b")))
    val agg = u.groupBy(col("doc_id")).agg(
      sum(when(col("relation") === "dup_pair", 1L).otherwise(0L)).as("n_dup"),
      sum(when(col("relation") === "recaptioned", 1L).otherwise(0L))
        .as("n_recaptioned"),
      sum(when(col("relation") === "reillustrated", 1L).otherwise(0L))
        .as("n_reillustrated"),
      max(when(col("is_b") === 1 && col("relation") === "dup_pair", 1)
        .otherwise(0)).as("removed"))
    Tables(s, d, "documents").where(hasImage(col("doc_id")))
      .select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_recaptioned"), lit(0L)).as("n_recaptioned"),
        coalesce(col("n_reillustrated"), lit(0L)).as("n_reillustrated"),
        (coalesce(col("removed"), lit(0)) === 0).as("keep"))
  }

  /** Oracle twin of [[q196CrossModalKeep]]: the shared prefix, the
    * classified pairs materialized once (rel is read twice and DuckDB
    * would otherwise inline the whole pixel chain per reference), one
    * side-tagged union + aggregation, corpus left join. */
  val q196Sql: String =
    s"""$crossmodalPairCtes,
       |rel AS MATERIALIZED ($crossmodalRelSelect),
       |u AS (SELECT doc_a AS doc_id, relation, 0 AS is_b FROM rel
       |      UNION ALL SELECT doc_b, relation, 1 FROM rel),
       |agg AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN relation = 'dup_pair' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(sum(CASE WHEN relation = 'recaptioned' THEN 1 ELSE 0 END) AS BIGINT) AS n_recaptioned,
       |  CAST(sum(CASE WHEN relation = 'reillustrated' THEN 1 ELSE 0 END) AS BIGINT) AS n_reillustrated,
       |  max(CASE WHEN is_b = 1 AND relation = 'dup_pair' THEN 1 ELSE 0 END) AS removed
       |  FROM u GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(a.n_dup, 0) AS n_dup,
       |  COALESCE(a.n_recaptioned, 0) AS n_recaptioned,
       |  COALESCE(a.n_reillustrated, 0) AS n_reillustrated,
       |  COALESCE(a.removed, 0) = 0 AS keep
       |FROM (SELECT doc_id FROM documents WHERE ${hasImageSql()}) d
       |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_media_features" -> (q37MediaFeatures _),
    "q110_media_decode" -> (q110MediaDecode _),
    "q120_frame_sample" -> (q120FrameSample _),
    "q123_audio_energy" -> (q123AudioEnergy _),
    "q127_png_pixels" -> (q127PngPixels _),
    "q130_image_ahash" -> (q130ImageAhash _),
    "q131_image_neardup" -> (q131ImageNeardup _),
    "q132_image_dedup_keep" -> (q132ImageDedupKeep _),
    "q133_audio_energy_gate" -> (q133AudioEnergyGate _),
    "q163_jpeg_pixels" -> (q163JpegPixels _),
    "q164_cross_container_dups" -> (q164CrossContainerDups _),
    "q165_video_frame_pixels" -> (q165VideoFramePixels _),
    "q166_color_pixels" -> (q166ColorPixels _),
    "q167_color_cross_dups" -> (q167ColorCrossDups _),
    "q168_audio_fingerprint" -> (q168AudioFingerprint _),
    "q169_audio_neardup" -> (q169AudioNeardup _),
    "q170_audio_dedup_keep" -> (q170AudioDedupKeep _),
    "q174_jpeg420_pixels" -> (q174Jpeg420Pixels _),
    "q175_audio_window_fp" -> (q175AudioWindowFp _),
    "q176_audio_trimmed_dups" -> (q176AudioTrimmedDups _),
    "q177_scene_keyframes" -> (q177SceneKeyframes _),
    "q180_video_scene_dups" -> (q180VideoSceneDups _),
    "q181_trimmed_dedup_keep" -> (q181TrimmedDedupKeep _),
    "q182_jpeg_mixed_pixels" -> (q182JpegMixedPixels _),
    "q185_video_dedup_keep" -> (q185VideoDedupKeep _),
    "q186_hot_band_report" -> (q186HotBandReport _),
    "q189_reencoded_scene_dups" -> (q189ReencodedSceneDups _),
    "q190_gain_robust_dups" -> (q190GainRobustDups _),
    "q195_crossmodal_pairs" -> (q195CrossModalPairs _),
    "q196_crossmodal_keep" -> (q196CrossModalKeep _),
    "q201_robust_key_spaces" -> (q201RobustKeySpaces _))

  val oracleSql: Map[String, String] = Map(
    "q37_media_features" -> q37Sql,
    "q110_media_decode" -> q110Sql,
    "q120_frame_sample" -> q120Sql,
    "q123_audio_energy" -> q123Sql,
    "q127_png_pixels" -> q127Sql,
    "q130_image_ahash" -> q130Sql,
    "q131_image_neardup" -> q131Sql,
    "q132_image_dedup_keep" -> q132Sql,
    "q133_audio_energy_gate" -> q133Sql,
    "q163_jpeg_pixels" -> q163Sql,
    "q164_cross_container_dups" -> q164Sql,
    "q165_video_frame_pixels" -> q165Sql,
    "q166_color_pixels" -> q166Sql,
    "q167_color_cross_dups" -> q167Sql,
    "q168_audio_fingerprint" -> q168Sql,
    "q169_audio_neardup" -> q169Sql,
    "q170_audio_dedup_keep" -> q170Sql,
    "q174_jpeg420_pixels" -> q174Sql,
    "q175_audio_window_fp" -> q175Sql,
    "q176_audio_trimmed_dups" -> q176Sql,
    "q177_scene_keyframes" -> q177Sql,
    "q180_video_scene_dups" -> q180Sql,
    "q181_trimmed_dedup_keep" -> q181Sql,
    "q185_video_dedup_keep" -> q185Sql,
    "q186_hot_band_report" -> q186Sql,
    "q189_reencoded_scene_dups" -> q189Sql,
    "q190_gain_robust_dups" -> q190Sql,
    "q195_crossmodal_pairs" -> q195Sql,
    "q196_crossmodal_keep" -> q196Sql,
    "q201_robust_key_spaces" -> q201Sql,
    // q182's oracle IS q174's math — the pixels are mode-independent by
    // construction — plus the mode tag derived from doc_id, so a
    // per-mode decode fault surfaces as that mode's rows mismatching
    "q182_jpeg_mixed_pixels" -> q174Sql.replace(
      "SELECT ya.doc_id AS media_id,",
      "SELECT ya.doc_id AS media_id,\n" +
        "  CASE ya.doc_id % 3 WHEN 0 THEN '444' WHEN 1 THEN '420' " +
        "ELSE '422' END AS mode,"))
}
