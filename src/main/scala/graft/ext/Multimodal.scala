package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * Decode coverage: PNG (from-scratch Inflater+unfilter decoder),
  * PCM WAV (from-scratch RIFF walk), JPEG and GIF (the JDK's bundled
  * ImageIO codecs — the compressed formats every standard JVM ships
  * full decoders for) are REAL pixel/sample decodes. MP4 gets
  * a REAL pure-JVM container parse ([[mp4Info]]: ftyp/mvhd/tkhd
  * metadata) and sample demux ([[mp4Samples]]: stsz × stsc × stco
  * resolved to exact encoded-sample byte ranges); demuxed samples
  * that sniff as JPEG/PNG/GIF (MJPEG-in-MP4 and kin, the video
  * layouts a bare JVM can actually decode) route through the REAL
  * image decoders ([[decodeFrame]]); only H.26x frame decode — no
  * bare-JVM codec exists — takes
  * the clearly-marked deterministic STUB (`decodeStub`). The
  * Spark-side plumbing is the
  * same for all: typed Dataset schema, mapPartitions batching
  * (amortizes per-batch decoder setup, the shape a JNI/FFmpeg
  * binding needs), partition sizing by byte budget, and frame
  * sampling over the binary payload.
  */
object Multimodal {

  /** An opaque media blob + its source id. */
  case class MediaRecord(doc_id: Long, media: Array[Byte])

  /** Typed decode output. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int,
      height: Int, format: String, checksum: Long)

  private def crc(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { // cheap rolling checksum, not crypto
      h = (h * 31 + (bytes(i) & 0xff)) % 2147483647L
      i += 1
    }
    h
  }

  /** STUB decoder — stands in for a real codec call. Deterministic
    * function of the bytes only, so tests are stable. A production
    * build swaps this body for the real binding and nothing else
    * changes. */
  def decodeStub(bytes: Array[Byte]): MediaMeta = {
    val c = crc(bytes)
    val fmt: String = if (bytes.isEmpty) "empty"
      else Seq("jpeg", "png", "wav", "mp4")((bytes(0) & 0xff) % 4)
    MediaMeta(-1L, bytes.length, 1 + (c % 640).toInt,
      1 + ((c >> 8) % 480).toInt, fmt, c)
  }

  // --- real header parsers (pure JVM, no codec libraries) -----------

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Real PNG header parse: signature + IHDR (always the first chunk
    * per the PNG spec), big-endian width/height at offsets 16/20.
    * None when the bytes aren't a well-formed PNG header. */
  def pngMeta(b: Array[Byte]): Option[MediaMeta] = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (b.length >= 24 && b.startsWith(PngSig) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = be32(16)
      val h = be32(20)
      if (w > 0 && w <= Int.MaxValue && h > 0 && h <= Int.MaxValue)
        Some(MediaMeta(-1L, b.length, w.toInt, h.toInt, "png", crc(b)))
      else None
    } else None
  }

  /** Real WAV (RIFF/WAVE) header parse: walks the chunk list to the
    * `fmt ` chunk and reports **width = sample rate, height =
    * channel count** — the audio analogue of pixel dimensions in this
    * schema (documented convention; a dedicated audio schema would
    * name them). None when not a well-formed RIFF/WAVE. */
  def wavMeta(b: Array[Byte]): Option[MediaMeta] = {
    def le16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length >= 36 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      var off = 12
      while (off + 8 <= b.length) {
        val sz = le32(off + 4)
        if (tag(off) == "fmt " && sz >= 16 && off + 8 + 16 <= b.length) {
          val channels = le16(off + 10)
          val sampleRate = le32(off + 12)
          return if (channels > 0 && sampleRate > 0 &&
              sampleRate <= Int.MaxValue)
            Some(MediaMeta(-1L, b.length, sampleRate.toInt, channels,
              "wav", crc(b)))
          else None
        }
        if (sz < 0 || sz > Int.MaxValue - 9) return None
        off += 8 + sz.toInt + (sz.toInt & 1) // RIFF chunks word-align
      }
      None
    } else None
  }

  /** Real JPEG header parse, pure JVM: SOI magic, then the marker
    * walk of ITU T.81 to the first SOFn frame header (C0–CF minus
    * C4/C8/CC which are DHT/JPG/DAC), big-endian height/width at
    * payload offsets +1/+3. None when the bytes aren't a well-formed
    * JPEG stream up to its frame header. */
  def jpegMeta(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var off = 2
    while (off + 4 <= b.length) {
      if ((b(off) & 0xff) != 0xff) return None
      val marker = b(off + 1) & 0xff
      if (marker == 0xff) off += 1 // fill byte before a marker
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7))
        off += 2 // standalone markers carry no length
      else if (marker == 0xd9 || marker == 0xda)
        return None // EOI / scan data reached without any SOF
      else {
        val len = ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
        if (len < 2 || off + 2 + len > b.length) return None
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (len < 9) return None
          val h = ((b(off + 5) & 0xff) << 8) | (b(off + 6) & 0xff)
          val w = ((b(off + 7) & 0xff) << 8) | (b(off + 8) & 0xff)
          return if (w > 0 && h > 0)
            Some(MediaMeta(-1L, b.length, w, h, "jpeg", crc(b)))
          else None
        }
        off += 2 + len
      }
    }
    None
  }

  /** Decode one blob: REAL header parse for formats a bare JVM can
    * sniff (PNG, WAV, JPEG, MP4 container metadata); the
    * deterministic stub only when no real parser claims the bytes
    * (sample DECODE inside an MP4 still needs a codec no bare JVM
    * ships — see [[mp4Samples]] for the real demux that stops at
    * encoded-sample boundaries). */
  def decode(bytes: Array[Byte]): MediaMeta =
    pngMeta(bytes).orElse(wavMeta(bytes)).orElse(jpegMeta(bytes))
      .orElse(gifMeta(bytes))
      .orElse(mp4Meta(bytes))
      .getOrElse(decodeStub(bytes))

  // --- real MP4 / ISO-BMFF container parse (pure JVM) ---------------

  /** Parsed MP4 container facts (metadata demux, no sample decode). */
  case class Mp4Info(majorBrand: String, timescale: Long,
      duration: Long, trakCount: Int, width: Int, height: Int)

  /** One ISO-BMFF box: (type, payloadStart, payloadEnd). */
  private def mp4Boxes(b: Array[Byte], start: Int,
      end: Int): Seq[(String, Int, Int)] = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var off = start
    while (off + 8 <= end) {
      val size32 = be32(off)
      val typ = new String(b, off + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val (hdr, size): (Int, Long) =
        if (size32 == 1L) { // 64-bit largesize follows the type
          if (off + 16 > end) return out.toSeq
          (16, (be32(off + 8) << 32) | be32(off + 12))
        } else if (size32 == 0L) (8, (end - off).toLong) // to end of file
        else (8, size32)
      if (size < hdr || off + size > end) return out.toSeq
      out += ((typ, off + hdr, off + size.toInt))
      off += size.toInt
    }
    out.toSeq
  }

  /** Real MP4 (ISO-BMFF, ISO 14496-12) container parse, pure JVM:
    * top-level box walk anchored on the mandatory leading `ftyp`
    * box, then `moov` → `mvhd` (timescale + duration, v0 and v1) and
    * per-`trak` `tkhd` dimensions (16.16 fixed point; first trak
    * with non-zero dims = the video track). This is metadata DEMUX
    * only — decoding the H.26x/AAC samples needs a codec no bare JVM
    * ships, so the pixel/sample layer keeps the labeled stub.
    *
    * ASCII text can never false-positive here: the leading 32-bit
    * big-endian box size of printable-ASCII bytes is ≥ 0x20202020
    * (~539 MB), which the `offset + size <= length` bound rejects —
    * so the hash-verified stub-path catalog queries on the text
    * corpus are unaffected by this parser's existence. */
  def mp4Info(b: Array[Byte]): Option[Mp4Info] = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    if (b.length < 16) return None
    val top = mp4Boxes(b, 0, b.length)
    // ftyp is the first box of a well-formed file (§4.3); anchoring
    // on it is also the sniff that keeps other formats out
    val ftyp = top.headOption.filter(_._1 == "ftyp").getOrElse(return None)
    if (ftyp._3 - ftyp._2 < 8) return None
    val brand = new String(b, ftyp._2, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    val moov = top.find(_._1 == "moov").getOrElse(return None)
    val kids = mp4Boxes(b, moov._2, moov._3)
    val mvhd = kids.find(_._1 == "mvhd").getOrElse(return None)
    val (p, pe) = (mvhd._2, mvhd._3)
    val ver = if (pe - p >= 1) b(p) & 0xff else return None
    val (timescale, duration) =
      if (ver == 0 && pe - p >= 20) (be32(p + 12), be32(p + 16))
      else if (ver == 1 && pe - p >= 32) (be32(p + 20), be64(p + 24))
      else return None
    if (timescale <= 0) return None
    val traks = kids.filter(_._1 == "trak")
    val dims = traks.iterator.flatMap { case (_, ts, te) =>
      mp4Boxes(b, ts, te).find(_._1 == "tkhd").flatMap { case (_, hs, he) =>
        val v = if (he - hs >= 1) b(hs) & 0xff else -1
        // tkhd payload: v0 = 84 bytes (w/h 16.16 at +76/+80),
        // v1 = 96 bytes (w/h at +88/+92)
        val wOff = if (v == 0 && he - hs >= 84) hs + 76
          else if (v == 1 && he - hs >= 96) hs + 88 else -1
        if (wOff < 0) None
        else {
          val w = (be32(wOff) >> 16).toInt
          val h = (be32(wOff + 4) >> 16).toInt
          if (w > 0 && h > 0) Some((w, h)) else None
        }
      }
    }.toSeq.headOption
    Some(Mp4Info(brand, timescale, duration, traks.size,
      dims.map(_._1).getOrElse(0), dims.map(_._2).getOrElse(0)))
  }

  /** [[mp4Info]] shaped into the decode schema. Video dims when a
    * trak carries them; an audio-only/dimension-less container
    * reports **width = mvhd timescale, height = trak count** (same
    * documented field repurposing as [[wavMeta]]'s rate/channels). */
  def mp4Meta(b: Array[Byte]): Option[MediaMeta] =
    mp4Info(b).map { i =>
      val (w, h) =
        if (i.width > 0) (i.width, i.height)
        else (math.min(i.timescale, Int.MaxValue).toInt, i.trakCount)
      MediaMeta(-1L, b.length, w, h, "mp4", crc(b))
    }

  /** Real MP4 sample demux, pure JVM: resolves the first trak's
    * sample table (`stbl`: `stsz` sizes × `stsc` sample-to-chunk
    * runs × `stco`/`co64` chunk offsets — ISO 14496-12 §8.7) into
    * absolute byte ranges and slices out the first `maxSamples`
    * encoded samples. This is the real boundary of a bare JVM:
    * frame-accurate EXTRACTION is pure table arithmetic (done here);
    * frame DECODE needs the codec — real for MJPEG/PNG samples via
    * [[decodeFrame]], stubbed for H.26x only. Slices cap at
    * `maxBytesPerSample` so a crafted stsz cannot balloon executor
    * memory. None when the container/table is malformed or sample
    * ranges fall outside the blob. */
  def mp4Samples(b: Array[Byte], maxSamples: Int,
      maxBytesPerSample: Int = 1 << 20): Option[Seq[Array[Byte]]] = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    if (mp4Info(b).isEmpty) return None
    val top = mp4Boxes(b, 0, b.length)
    val moov = top.find(_._1 == "moov").getOrElse(return None)
    val trak = mp4Boxes(b, moov._2, moov._3).find(_._1 == "trak")
      .getOrElse(return None)
    val stbl = for {
      mdia <- mp4Boxes(b, trak._2, trak._3).find(_._1 == "mdia")
      minf <- mp4Boxes(b, mdia._2, mdia._3).find(_._1 == "minf")
      st <- mp4Boxes(b, minf._2, minf._3).find(_._1 == "stbl")
    } yield st
    val (_, ss, se) = stbl.getOrElse(return None)
    val boxes = mp4Boxes(b, ss, se)
    def box(t: String) = boxes.find(_._1 == t)
    // stsz: uniform sample_size or a per-sample size list
    val (szS, szE) = box("stsz").map(x => (x._2, x._3)).getOrElse(return None)
    if (szE - szS < 12) return None
    val uniform = be32(szS + 4)
    val nSamples = be32(szS + 8)
    if (nSamples <= 0 || nSamples > Int.MaxValue) return None
    def sampleSize(i: Int): Long =
      if (uniform != 0) uniform
      else if (szS + 12 + 4L * i + 4 <= szE) be32(szS + 12 + 4 * i)
      else -1L
    // stco (32-bit) or co64 (64-bit) chunk offsets
    val co = box("stco").map(x => (x._2, x._3, 4))
      .orElse(box("co64").map(x => (x._2, x._3, 8)))
      .getOrElse(return None)
    val (coS, coE, coW) = co
    if (coE - coS < 8) return None
    val nChunks = be32(coS + 4)
    if (nChunks <= 0 || nChunks > Int.MaxValue ||
        coS + 8 + coW.toLong * nChunks > coE) return None
    def chunkOffset(c: Int): Long = // c is 0-based
      if (coW == 4) be32(coS + 8 + 4 * c) else be64(coS + 8 + 8 * c)
    // stsc: (first_chunk, samples_per_chunk) runs, 1-based chunks
    val (scS, scE) = box("stsc").map(x => (x._2, x._3)).getOrElse(return None)
    if (scE - scS < 8) return None
    val nRuns = be32(scS + 4)
    if (nRuns <= 0 || scS + 8 + 12L * nRuns > scE) return None
    val runs = (0 until nRuns.toInt).map { i =>
      (be32(scS + 8 + 12 * i), be32(scS + 8 + 12 * i + 4))
    }
    if (runs.head._1 != 1L ||
        runs.map(_._1) != runs.map(_._1).sorted) return None
    def samplesInChunk(c: Int): Long = // c is 0-based
      runs.takeWhile(_._1 <= c + 1).lastOption.map(_._2).getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var sample = 0
    var chunk = 0
    while (sample < nSamples && out.length < maxSamples &&
        chunk < nChunks) {
      var off = chunkOffset(chunk)
      val inChunk = samplesInChunk(chunk)
      var i = 0L
      while (i < inChunk && sample < nSamples && out.length < maxSamples) {
        val sz = sampleSize(sample)
        if (sz < 0 || sz > maxBytesPerSample ||
            off < 0 || off + sz > b.length) return None
        out += java.util.Arrays.copyOfRange(b, off.toInt, (off + sz).toInt)
        off += sz
        sample += 1
        i += 1
      }
      chunk += 1
    }
    if (out.isEmpty) None else Some(out.toSeq)
  }

  // --- real PNG pixel decode (pure JVM: Inflater + unfilter) --------

  /** Decoded raster: 3 bytes/pixel RGB, row-major. */
  case class PngPixels(width: Int, height: Int, rgb: Array[Byte])

  /** Cap on decoded raster size (w·h·3): a crafted header claiming
    * huge dimensions must not allocate unbounded executor memory. */
  private val MaxRasterBytes = 64 << 20

  /** Full PNG pixel decode, no codec library: chunk walk → IDAT
    * concat → `java.util.zip.Inflater` → per-scanline unfilter
    * (all five PNG filter types incl. Paeth) → expansion to RGB.
    * Supports the common shapes a bare-JVM decoder can commit to:
    * 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette + PLTE),
    * 4 (gray+alpha), 6 (RGBA), non-interlaced. Anything else (1/2/4/
    * 16-bit depths, Adam7) returns None and the caller falls back to
    * the labeled stub — a wrong answer is never produced. Alpha is
    * dropped (not premultiplied): features below are about content
    * statistics, not compositing. */
  def pngDecode(b: Array[Byte]): Option[PngPixels] = {
    def be32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def tag(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 24 || !b.startsWith(PngSig)) return None
    var off = 8
    var w = 0; var h = 0; var depth = 0; var colorType = -1
    var interlace = 0
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (off + 8 <= b.length && !done) {
      val len = be32(off)
      if (len > Int.MaxValue - 12 || off + 12 + len > b.length) return None
      val l = len.toInt
      tag(off + 4) match {
        case "IHDR" =>
          if (l < 13) return None
          w = be32(off + 8).toInt
          h = be32(off + 12).toInt
          depth = b(off + 16) & 0xff
          colorType = b(off + 17) & 0xff
          interlace = b(off + 20) & 0xff
        case "PLTE" => plte = java.util.Arrays.copyOfRange(b, off + 8, off + 8 + l)
        case "IDAT" => idat.write(b, off + 8, l)
        case "IEND" => done = true
        case _ => () // ancillary chunks skip
      }
      off += 12 + l
    }
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    if (w <= 0 || h <= 0 || depth != 8 || interlace != 0 ||
        idat.size() == 0) return None
    if (colorType == 3 && (plte == null || plte.length % 3 != 0)) return None
    if (w.toLong * h * 3 > MaxRasterBytes) return None
    val stride = w * channels
    val rawLen = (stride + 1) * h
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, got, rawLen - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None // truncated or preset-dictionary stream
        got += n
      }
      if (got < rawLen) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // unfilter in place into a filter-byte-free raster
    val px = new Array[Byte](stride * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val ro = y * (stride + 1) + 1
      val oo = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(ro + x) & 0xff
        val a = if (x >= bpp) px(oo + x - bpp) & 0xff else 0 // left
        val up = if (y > 0) px(oo - stride + x) & 0xff else 0 // above
        val c = if (x >= bpp && y > 0) px(oo - stride + x - bpp) & 0xff
          else 0 // upper-left
        val v = ft match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + up
          case 3 => cur + (a + up) / 2
          case 4 => // Paeth predictor
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
          case _ => return None
        }
        px(oo + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // expand to RGB
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    val n = w * h
    while (i < n) {
      val s = i * channels
      colorType match {
        case 0 | 4 =>
          val g = px(s); rgb(i * 3) = g; rgb(i * 3 + 1) = g; rgb(i * 3 + 2) = g
        case 2 | 6 =>
          rgb(i * 3) = px(s); rgb(i * 3 + 1) = px(s + 1)
          rgb(i * 3 + 2) = px(s + 2)
        case 3 =>
          val idx = (px(s) & 0xff) * 3
          if (idx + 2 >= plte.length) return None
          rgb(i * 3) = plte(idx); rgb(i * 3 + 1) = plte(idx + 1)
          rgb(i * 3 + 2) = plte(idx + 2)
      }
      i += 1
    }
    Some(PngPixels(w, h, rgb))
  }

  /** Real JPEG pixel decode via the JDK's bundled ImageIO codec —
    * JPEG is the one compressed image format every standard JVM
    * ships a complete decoder for, so no external codec library is
    * needed. Sniffs the SOI magic first (non-JPEG bytes never pay a
    * codec round-trip — ImageIO's own format probe is far more
    * expensive than a 3-byte check), then bulk-extracts the raster
    * into the same RGB layout as [[pngDecode]] so featurize / resize
    * share one code path. Same raster-size cap as PNG; any decode
    * failure returns None and callers fall back per their stub
    * policy — a wrong answer is never produced. */
  def jpegDecode(b: Array[Byte]): Option[PngPixels] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff ||
        (b(1) & 0xff) != 0xd8 || (b(2) & 0xff) != 0xff) return None
    // Reject oversized rasters BEFORE ImageIO inflates them: the SOF
    // header (via jpegMeta's marker walk) declares width/height, so a
    // crafted JPEG claiming huge dimensions never allocates a
    // BufferedImage. Mirrors pngDecode's pre-inflate cap.
    jpegMeta(b) match {
      case Some(m) =>
        if (m.width <= 0 || m.height <= 0 ||
            m.width.toLong * m.height * 3 > MaxRasterBytes) return None
      case None => return None
    }
    imageIoToPixels(b)
  }

  /** Shared ImageIO tail for the JDK-codec formats (JPEG, GIF):
    * decode, post-check dimensions against the raster cap, expand to
    * the 3-byte-RGB [[PngPixels]] raster. Callers MUST have run their
    * format's pre-decode dimension check first — this is the second
    * line of defense, not the first. */
  private def imageIoToPixels(b: Array[Byte]): Option[PngPixels] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > MaxRasterBytes) return None
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    val n = w * h
    while (i < n) {
      val p = argb(i)
      rgb(i * 3) = ((p >> 16) & 0xff).toByte
      rgb(i * 3 + 1) = ((p >> 8) & 0xff).toByte
      rgb(i * 3 + 2) = (p & 0xff).toByte
      i += 1
    }
    Some(PngPixels(w, h, rgb))
  }

  /** GIF87a/GIF89a pixel decode — the third compressed image format
    * whose full decoder ships in every standard JVM (ImageIO, like
    * JPEG). The raster cap is enforced BEFORE ImageIO inflates
    * anything, against BOTH the logical-screen descriptor AND every
    * frame's image descriptor ([[gifScan]]'s full block walk —
    * ImageIO allocates the frame's dimensions, so a 1×1 logical
    * screen hiding a 65535×65535 frame must be rejected at the
    * header walk, not post-decode). First frame only: animated-GIF
    * frame extraction is a sampling concern
    * ([[sampleFrames]]/[[mp4Samples]]-style), not a decode concern. */
  def gifDecode(b: Array[Byte]): Option[PngPixels] = {
    gifScan(b) match {
      case Some((w, h, fw, fh))
          if w > 0 && h > 0 && w.toLong * h * 3 <= MaxRasterBytes &&
            fw.toLong * fh * 3 <= MaxRasterBytes =>
        imageIoToPixels(b)
      case _ => None
    }
  }

  /** Structural GIF walk: signature + logical-screen descriptor, then
    * the full block chain (extensions with len-prefixed sub-blocks,
    * image descriptors with their local color tables and LZW data
    * sub-blocks) to the 0x3B trailer. Returns (logical W, logical H,
    * max frame W, max frame H) only for a WELL-FORMED stream.
    *
    * The walk is the load-bearing sniff, not the 6-byte signature:
    * "GIF89a" is printable ASCII, so a text document can carry the
    * magic — but every sub-block length byte must then chain exactly
    * onto the next structural byte all the way to a trailer, which
    * arbitrary text does not survive. This is the same
    * structure-backstop discipline as [[wavMeta]]'s fmt-chunk walk
    * and the ISO-BMFF box-size bound, and it is what keeps the
    * documents-as-media oracles stub-exact on an ASCII corpus. */
  private def gifScan(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 14) return None
    val sig = new String(b, 0, 6,
      java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    def le16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    val w = le16(6)
    val h = le16(8)
    var off = 13
    // global color table: flag bit 7, size 2^(n+1) entries × 3 bytes
    if ((b(10) & 0x80) != 0) off += 3 * (1 << ((b(10) & 0x07) + 1))
    var maxFw = 0
    var maxFh = 0
    var frames = 0
    // skip a len-prefixed sub-block chain; -1 on truncation
    def subBlocks(start: Int): Int = {
      var o = start
      while (o < b.length && b(o) != 0) {
        o += 1 + (b(o) & 0xff)
      }
      if (o < b.length) o + 1 else -1
    }
    while (off >= 0 && off < b.length) {
      (b(off) & 0xff) match {
        case 0x3b => // trailer: well-formed iff we saw at least a frame
          return if (frames > 0) Some((w, h, maxFw, maxFh)) else None
        case 0x21 => // extension: label byte + sub-blocks
          if (off + 2 > b.length) return None
          off = subBlocks(off + 2)
        case 0x2c => // image descriptor: 9 bytes + [LCT] + LZW + subs
          if (off + 10 > b.length) return None
          maxFw = math.max(maxFw, le16(off + 5))
          maxFh = math.max(maxFh, le16(off + 7))
          var o = off + 10
          if ((b(off + 9) & 0x80) != 0)
            o += 3 * (1 << ((b(off + 9) & 0x07) + 1))
          if (o + 1 > b.length) return None
          frames += 1
          off = subBlocks(o + 1) // skip LZW min-code byte, then subs
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  /** [[gifScan]] shaped into the decode schema — only a structurally
    * well-formed GIF sniffs (see the walk's scaladoc for why the
    * 6-byte magic alone must not). */
  def gifMeta(b: Array[Byte]): Option[MediaMeta] =
    gifScan(b).collect { case (w, h, _, _) if w > 0 && h > 0 =>
      MediaMeta(-1L, b.length, w, h, "gif", crc(b)) }

  /** [[rasterFeatures]] over [[gifDecode]]; None when the bytes
    * aren't a decodable GIF. */
  def gifFeatures(b: Array[Byte]): Option[Array[Double]] =
    gifDecode(b).map(rasterFeatures)

  /** Minimal PNG encoder (the write half of [[pngDecode]]): 8-bit
    * truecolor, filter 0 scanlines, one deflated IDAT — enough to
    * round-trip a resized raster as a real, standards-valid PNG. */
  def pngEncode(img: PngPixels): Array[Byte] = {
    require(img.rgb.length == img.width * img.height * 3,
      "pngEncode: raster size mismatch")
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length.toLong))
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(t)
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      out.write(be32(crc.getValue))
    }
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write(be32(img.width.toLong)); ihdr.write(be32(img.height.toLong))
    ihdr.write(8); ihdr.write(2) // depth 8, truecolor
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate, filter0, no interlace
    chunk("IHDR", ihdr.toByteArray)
    val stride = img.width * 3
    val raw = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      // filter byte 0 already zero-initialized
      System.arraycopy(img.rgb, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](8192)
    val comp = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real image featurizer over a decoded RGB raster: mean R/G/B,
    * mean Rec.601 luma, and a 4-bin luma histogram (fractions) — 8
    * dims, the same shape as [[featureStub]] so every path fits one
    * schema. Shared by the PNG and JPEG feature extractors. */
  def rasterFeatures(img: PngPixels): Array[Double] = {
    val n = img.width.toLong * img.height
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Long](4)
    var lumaSum = 0.0
    var i = 0
    while (i < n) {
      val r = img.rgb(i.toInt * 3) & 0xff
      val g = img.rgb(i.toInt * 3 + 1) & 0xff
      val bl = img.rgb(i.toInt * 3 + 2) & 0xff
      sr += r; sg += g; sb += bl
      val luma = 0.299 * r + 0.587 * g + 0.114 * bl
      lumaSum += luma
      hist(math.min(luma.toInt >> 6, 3)) += 1
      i += 1
    }
    def r6(d: Double): Double = math.rint(d * 1e6) / 1e6
    Array(r6(sr.toDouble / n), r6(sg.toDouble / n), r6(sb.toDouble / n),
      r6(lumaSum / n), r6(hist(0).toDouble / n), r6(hist(1).toDouble / n),
      r6(hist(2).toDouble / n), r6(hist(3).toDouble / n))
  }

  /** [[rasterFeatures]] over [[pngDecode]]; None when the bytes
    * aren't a decodable PNG. */
  def pngFeatures(b: Array[Byte]): Option[Array[Double]] =
    pngDecode(b).map(rasterFeatures)

  /** [[rasterFeatures]] over [[jpegDecode]]; None when the bytes
    * aren't a decodable JPEG. */
  def jpegFeatures(b: Array[Byte]): Option[Array[Double]] =
    jpegDecode(b).map(rasterFeatures)

  /** Codec dispatch for a DEMUXED MP4 sample: MJPEG-in-MP4 stores
    * each video sample as a complete JPEG stream, so samples that
    * sniff as JPEG decode for real through the wired ImageIO path
    * ([[jpegDecode]], with its pre-decode raster cap); PNG-in-MP4
    * likewise through [[pngDecode]]. None for any other codec
    * (H.26x samples are raw NAL payloads no bare JVM can decode —
    * callers fall back to the labeled stub), never a wrong answer. */
  def decodeFrame(sample: Array[Byte]): Option[PngPixels] =
    pngDecode(sample).orElse(jpegDecode(sample))
      .orElse(gifDecode(sample))

  /** Per-frame feature vector for a demuxed sample: REAL
    * [[rasterFeatures]] when [[decodeFrame]] has a codec for it,
    * the labeled [[featureStub]] otherwise — identical 8-dim shape
    * either way, so downstream schemas don't branch on codec. */
  def frameFeatures(sample: Array[Byte]): Array[Double] =
    decodeFrame(sample).map(rasterFeatures)
      .getOrElse(featureStub(sample))

  /** Real pixel resize for PNG payloads: decode, nearest-neighbor
    * sample to the fit-within-box dimensions (same arithmetic as
    * [[resizeDims]] — min(maxW/w, maxH/h, 1), floor, ≥ 1, never
    * upscale), re-encode with [[pngEncode]]. None for non-PNG bytes
    * (callers keep the original blob — the stub passthrough). */
  def pngResize(b: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] =
    pngDecode(b).map(img => pngEncode(resizeRaster(img, maxW, maxH)))

  /** Real pixel resize for JPEG payloads: ImageIO decode, the same
    * nearest-neighbor box fit as [[pngResize]], re-encoded as PNG
    * (a deliberate transcode: PNG is lossless and our encoder is
    * deterministic, while JPEG re-encoding quality is
    * encoder-version-dependent — the wrong property for reproducible
    * pipelines). None for non-JPEG bytes. */
  def jpegResize(b: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] =
    jpegDecode(b).map(img => pngEncode(resizeRaster(img, maxW, maxH)))

  /** Real pixel resize for GIF payloads — same box fit and lossless
    * PNG transcode as [[jpegResize]] (GIF re-encoding would also
    * re-quantize the palette, the wrong property for reproducible
    * pipelines). None for non-GIF bytes. */
  def gifResize(b: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] =
    gifDecode(b).map(img => pngEncode(resizeRaster(img, maxW, maxH)))

  /** Nearest-neighbor fit-within-box resample (same arithmetic as
    * [[resizeDims]]: scale = min(maxW/w, maxH/h, 1), floor, ≥ 1,
    * never upscale) — shared by the PNG and JPEG resize paths. */
  def resizeRaster(img: PngPixels, maxW: Int, maxH: Int): PngPixels = {
    val scale = math.min(math.min(maxW.toDouble / img.width,
      maxH.toDouble / img.height), 1.0)
    val ow = math.max((img.width * scale).toInt, 1)
    val oh = math.max((img.height * scale).toInt, 1)
    if (ow == img.width && oh == img.height) img
    else {
      val out = new Array[Byte](ow * oh * 3)
      var y = 0
      while (y < oh) {
        val sy = (y.toLong * img.height / oh).toInt
        var x = 0
        while (x < ow) {
          val sx = (x.toLong * img.width / ow).toInt
          val s = (sy * img.width + sx) * 3
          val d = (y * ow + x) * 3
          out(d) = img.rgb(s); out(d + 1) = img.rgb(s + 1)
          out(d + 2) = img.rgb(s + 2)
          x += 1
        }
        y += 1
      }
      PngPixels(ow, oh, out)
    }
  }

  // --- real WAV PCM decode (pure JVM: RIFF walk + LE samples) -------

  /** Decoded PCM audio: mono-mixed samples in [-1, 1]. */
  case class WavSamples(sampleRate: Int, channels: Int,
      samples: Array[Double])

  /** Cap on decoded sample count: a crafted header claiming a huge
    * data chunk must not allocate unbounded executor memory (16M
    * samples = ~6 min of 44.1 kHz audio, 128 MB of doubles). */
  private val MaxSamples = 16 << 20

  /** Real WAV PCM sample decode, pure JVM: walks the RIFF chunk list
    * to `fmt ` + `data`, accepts uncompressed PCM only (format code 1,
    * 8- or 16-bit), decodes little-endian samples (8-bit is unsigned
    * excess-128, 16-bit signed two's complement per the spec), scales
    * to [-1, 1] and mixes channels to mono by averaging. A truncated
    * data chunk decodes the frames actually present (the streaming-
    * capture case); anything non-PCM or malformed returns None and
    * callers fall back to the labeled stub — a wrong answer is never
    * produced. */
  def wavDecode(b: Array[Byte]): Option[WavSamples] = {
    def le16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 36 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmtCode = -1; var channels = 0; var rate = 0L; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= b.length && (fmtCode < 0 || dataOff < 0)) {
      val sz = le32(off + 4)
      if (sz < 0 || sz > Int.MaxValue - 9) return None
      tag(off) match {
        case "fmt " if sz >= 16 && off + 8 + 16 <= b.length =>
          fmtCode = le16(off + 8)
          channels = le16(off + 10)
          rate = le32(off + 12)
          bits = le16(off + 22)
        case "data" =>
          dataOff = off + 8
          dataLen = math.min(sz, (b.length - dataOff).toLong).toInt
        case _ => ()
      }
      off += 8 + sz.toInt + (sz.toInt & 1) // RIFF chunks word-align
    }
    if (fmtCode != 1 || channels <= 0 || rate <= 0 ||
        rate > Int.MaxValue || (bits != 8 && bits != 16)) return None
    val bytesPerSample = bits / 8
    val frameBytes = bytesPerSample * channels
    if (dataOff < 0 || frameBytes == 0) return None
    val frames = math.min(dataLen / frameBytes, MaxSamples)
    val out = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      var acc = 0.0
      var c = 0
      while (c < channels) {
        val o = dataOff + f * frameBytes + c * bytesPerSample
        acc += (if (bits == 8) ((b(o) & 0xff) - 128) / 128.0
          else le16(o).toShort / 32768.0)
        c += 1
      }
      out(f) = acc / channels
      f += 1
    }
    Some(WavSamples(rate.toInt, channels, out))
  }

  /** Real audio featurizer over decoded PCM samples: mean amplitude,
    * RMS, peak |amplitude|, zero-crossing rate, and a 4-bin
    * |amplitude| histogram (fractions) — 8 dims, the same shape as
    * [[featureStub]] and [[pngFeatures]] so every path fits one
    * schema. None when the bytes aren't decodable PCM WAV. */
  def wavFeatures(b: Array[Byte]): Option[Array[Double]] =
    wavDecode(b).filter(_.samples.nonEmpty).map { w =>
      val n = w.samples.length
      var sum = 0.0; var sq = 0.0; var peak = 0.0
      var zc = 0L
      val hist = new Array[Long](4)
      var i = 0
      while (i < n) {
        val s = w.samples(i)
        val a = math.abs(s)
        sum += s; sq += s * s
        if (a > peak) peak = a
        if (i > 0 && (s >= 0) != (w.samples(i - 1) >= 0)) zc += 1
        hist(math.min((a * 4).toInt, 3)) += 1
        i += 1
      }
      def r6(d: Double): Double = math.rint(d * 1e6) / 1e6
      Array(r6(sum / n), r6(math.sqrt(sq / n)), r6(peak),
        r6(zc.toDouble / math.max(n - 1, 1)), r6(hist(0).toDouble / n),
        r6(hist(1).toDouble / n), r6(hist(2).toDouble / n),
        r6(hist(3).toDouble / n))
    }

  /** Batched per-partition decode: the iterator is consumed in groups
    * of `batchSize` so a real decoder could process one batch per
    * native call (the `mapInPandas`/Arrow-batch shape, expressed
    * Scala-native). Lazy iterators — no partition materialization.
    * PNG/WAV/JPEG payloads get a real header parse ([[decode]]);
    * other formats fall back to the labeled stub. */
  def decodeMeta(records: Dataset[MediaRecord], batchSize: Int = 64)
      : Dataset[MediaMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one "decoder session" per batch
        batch.iterator.map(r => decode(r.media).copy(doc_id = r.doc_id))
      }
    }
  }

  /** Sample up to `n` fixed-width "frames" (byte slices) from a media
    * blob — the frame-sampling primitive for video-ish payloads,
    * expressed over the binary column with built-ins only. */
  def sampleFrames(media: org.apache.spark.sql.Column, n: Int,
      frameBytes: Int): org.apache.spark.sql.Column = {
    val len = length(media)
    filter(
      transform(sequence(lit(0), lit(n - 1)),
        i => substring(media, (i * greatest((len - frameBytes) /
          lit(math.max(n - 1, 1)), lit(1))).cast("int") + 1,
          lit(frameBytes))),
      f => length(f) > 0)
  }

  /** STUB feature extractor — stands in for an embedding model over
    * decoded media. One deterministic double per dimension from a
    * per-dimension polynomial byte hash, scaled to [-1, 1); a real
    * model swap replaces this body only. */
  val FeatureMults: Seq[Long] = Seq(31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L)

  def featureStub(bytes: Array[Byte]): Array[Double] =
    FeatureMults.map { mult =>
      var h = 0L
      var i = 0
      while (i < bytes.length) {
        h = (h * mult + (bytes(i) & 0xff)) % 2147483647L
        i += 1
      }
      (h % 2000L - 1000L) / 1000.0
    }.toArray

  /** Typed feature record. */
  case class MediaFeatures(doc_id: Long, features: Array[Double])

  /** Batched per-partition feature extraction — same mapPartitions
    * shape as [[decodeMeta]] (one "model session" per batch). PNG
    * and JPEG payloads get REAL pixel statistics ([[pngFeatures]] /
    * [[jpegFeatures]]: decoded raster means + luma histogram) and
    * PCM WAV payloads REAL sample statistics ([[wavFeatures]]:
    * RMS/peak/zero-crossings); only codec-less formats fall back to
    * the labeled stub, with an identical 8-dim output shape. */
  def extractFeatures(records: Dataset[MediaRecord], batchSize: Int = 64)
      : Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map(r => MediaFeatures(r.doc_id,
          pngFeatures(r.media).orElse(wavFeatures(r.media))
            .orElse(jpegFeatures(r.media))
            .orElse(gifFeatures(r.media))
            .getOrElse(featureStub(r.media))))
      }
    }
  }

  /** Fit-within-box resize arithmetic over decoded dimensions — the
    * metadata half of an image resize (the pixel half is the codec
    * stub's concern). Pure Column math: scale = min(maxW/w, maxH/h, 1)
    * never upscales; output dimensions floor but stay ≥ 1. */
  def resizeDims(width: org.apache.spark.sql.Column,
      height: org.apache.spark.sql.Column, maxW: Int, maxH: Int)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val scale = least(lit(maxW.toDouble) / width,
      lit(maxH.toDouble) / height, lit(1.0))
    (greatest((width * scale).cast("int"), lit(1)),
      greatest((height * scale).cast("int"), lit(1)))
  }

  /** Encoder counterpart of [[mp4Samples]]: wrap payload slices into
    * a minimal well-formed ISO-BMFF container — `ftyp` + `mdat`
    * (samples contiguous) + `moov` with `mvhd` and one trak whose
    * `stbl` indexes one chunk per sample (`stsz` per-sample sizes,
    * a single `stsc` run, absolute `stco` offsets). Round-trips
    * exactly: `mp4Samples(mp4Wrap(xs)) == xs`. The m_mp4_demux
    * catalog entry runs this builder+parser pair over every document
    * so the real ISO-BMFF path is oracle-verified at corpus scale,
    * not just on unit fixtures. */
  def mp4Wrap(samples: Seq[Array[Byte]],
      timescale: Int = 1000): Array[Byte] = {
    require(samples.nonEmpty && samples.forall(_.nonEmpty),
      "mp4Wrap: need at least one non-empty sample")
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(8 + body.length) ++ typ.getBytes(
        java.nio.charset.StandardCharsets.US_ASCII) ++ body
    }
    val ftyp = box("ftyp", "isom".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII),
      be32(0x200), "isomiso2".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
    val mdat = box("mdat", samples.flatten.toArray)
    // one chunk per sample → stco carries each sample's absolute
    // offset; mdat payload begins 8 bytes into the mdat box
    val offs = samples.scanLeft(ftyp.length + 8)(_ + _.length).init
    val stsz = box("stsz", be32(0), be32(0), be32(samples.length),
      samples.flatMap(s => be32(s.length)).toArray)
    val stsc = box("stsc", be32(0), be32(1), be32(1), be32(1), be32(1))
    val stco = box("stco", be32(0), be32(samples.length),
      offs.flatMap(be32).toArray)
    val mvhd = box("mvhd", be32(0), be32(0), be32(0), be32(timescale),
      be32(samples.length * timescale), be32(0x00010000),
      be32(0x01000000), new Array[Byte](8), new Array[Byte](36),
      new Array[Byte](24), be32(2))
    val tkhd = box("tkhd", be32(0), be32(0), be32(0), be32(1), be32(0),
      be32(0), new Array[Byte](8), new Array[Byte](8),
      new Array[Byte](36), be32(0), be32(0))
    val moov = box("moov", mvhd,
      box("trak", tkhd, box("mdia", box("minf",
        box("stbl", stsz, stsc, stco)))))
    ftyp ++ mdat ++ moov
  }

  /** One demuxed sample row. */
  case class Mp4Frame(doc_id: Long, sample_idx: Int, frame: Array[Byte])

  /** Distributed ISO-BMFF round-trip: per record, slice the payload
    * into consecutive `sampleBytes` chunks (≤ `maxSamples`), build a
    * real container with [[mp4Wrap]], demux it back through the real
    * sample-table parser [[mp4Samples]], and emit the recovered
    * samples. A demux miss throws (a silent fallback would hide a
    * parser bug behind green output). Same mapPartitions batch shape
    * as [[decodeMeta]]. */
  def mp4RoundTrip(records: Dataset[MediaRecord], maxSamples: Int,
      sampleBytes: Int, batchSize: Int = 64): Dataset[Mp4Frame] = {
    import records.sparkSession.implicits._
    records.filter(_.media.nonEmpty).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val slices = r.media.grouped(sampleBytes).take(maxSamples)
            .toSeq
          val demuxed = mp4Samples(mp4Wrap(slices), maxSamples)
            .getOrElse(throw new IllegalStateException(
              s"mp4 round-trip demux failed for doc ${r.doc_id}"))
          demuxed.iterator.zipWithIndex.map { case (s, i) =>
            Mp4Frame(r.doc_id, i, s)
          }
        }
      }
    }
  }

  /** One per-sample feature row from [[frameDecodePipeline]]. */
  case class FrameFeatures(doc_id: Long, sample_idx: Int,
      features: Array[Double])

  /** [[mp4RoundTrip]] composed with [[frameFeatures]] — the full
    * video-frame feature path: build + demux the real ISO-BMFF
    * container, then run the codec dispatch on every demuxed sample.
    * MJPEG/PNG samples get REAL raster statistics ([[decodeFrame]] →
    * [[rasterFeatures]]); codec-less payloads the labeled stub — one
    * 8-dim row either way, so downstream schemas don't branch on
    * codec. Same mapPartitions batching as [[mp4RoundTrip]]. */
  def frameDecodePipeline(records: Dataset[MediaRecord],
      maxSamples: Int, sampleBytes: Int): Dataset[FrameFeatures] = {
    import records.sparkSession.implicits._
    mp4RoundTrip(records, maxSamples, sampleBytes)
      .map(f => FrameFeatures(f.doc_id, f.sample_idx,
        frameFeatures(f.frame)))
  }

  /** documents.text re-cast as a media corpus (the container has no
    * real media files; byte payloads exercise identical plumbing). */
  /** Media near-duplicate pairs via a 64-cell BLOCK-HASH perceptual
    * fingerprint — the multimodal member of the dedup family. Each
    * blob is cut into 64 contiguous byte blocks; a block's polynomial
    * hash becomes one "pixel", the fingerprint bit is pixel > mean
    * (the average-hash construction), and the 64 bits split into 4 ×
    * 16-bit BANDS. Two blobs are candidates iff they share a band
    * value (an LSH band join — a blob pair differing in a few blocks
    * still collides on its unchanged bands), and candidates are
    * verified by exact Hamming distance over the full fingerprint.
    * Because cells hash LOCAL regions, a small byte edit flips only
    * the cells it touches — unlike a whole-blob hash, near-identical
    * media land at small Hamming distance.
    *
    * Scale shape: fingerprints are ONE narrow pass (the 64-cell
    * explode is per-row work) plus one doc_id exchange that serves
    * both the window mean and the band aggregation; the band join
    * ships only (band, bkey, doc_id) — never media bytes; Hamming
    * verification reattaches the 4-band fingerprints by doc_id
    * equi-joins, spreading hot-band pair work across the cluster
    * (the [[graft.ext.NearDupCandidates.MinShingle]] hot-block cap applies
    * unchanged if a corpus-common band emerges, e.g. all-zero
    * fingerprints from constant-byte blobs). */
  def phashDupPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    // blobs shorter than the cell count would yield empty blocks
    // (degenerate fingerprints); route them to exact-hash dedup
    // instead — a 64-byte floor costs nothing at media sizes
    val m = docs
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= 64)
    val blockLen = greatest(floor(col("len") / 64).cast("long"), lit(1L))
    val cells = m
      .select(col("doc_id"), col("text"), col("len"),
        explode(sequence(lit(0L), lit(63L))).as("i"))
      .select(col("doc_id"), col("i"),
        graft.functions.RollingHash.rolling_hash(
          col("text").substr((col("i") * blockLen + 1).cast("int"),
            blockLen.cast("int"))).as("h"))
    val fp = cells
      .withColumn("mean",
        floor(sum(col("h")).over(w) / 64.0).cast("long"))
      .groupBy(col("doc_id"), (col("i") / 16).cast("int").as("band"))
      .agg(sum(when(col("h") > col("mean"),
          expr("CAST(shiftleft(1, CAST(i % 16 AS INT)) AS BIGINT)"))
        .otherwise(lit(0L))).cast("long").as("bkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = fp.as("a").join(fp.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val pairs = cand
      .join(fp.select(col("doc_id").as("doc_a"), col("band"),
        col("bkey").as("ka")), Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("band"),
        col("bkey").as("kb")), Seq("doc_b", "band"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(bit_count(col("ka").bitwiseXOR(col("kb"))))
        .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
    // The passing pair set is orders smaller than the fingerprint
    // frame: materialize it once and release the persist immediately
    // (the embedDupPairs hygiene) so repeated calls — every Bench
    // rep, every spec — don't accumulate cached blocks.
    val out = pairs.localCheckpoint()
    fp.unpersist()
    out
  }

  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[MediaRecord]
  }

  /** Full decode pipeline as a DataFrame query (rows-only check). */
  def decodePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeMeta(mediaFromDocuments(s, dir)).toDF()
      .orderBy("doc_id")
  }
}
