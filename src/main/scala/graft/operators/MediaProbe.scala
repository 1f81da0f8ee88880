package graft.operators

/** Byte readers shared by the header parsers in this file: unsigned
  * (u8/U16/U32/U64) and signed (I32) fields at a byte offset, big- or
  * little-endian, plus a 4-byte ASCII `tag` match that is false for an
  * out-of-range offset instead of throwing.
  */
private[operators] object Bytes {
  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  def beI32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  def leI32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  def beU32(b: Array[Byte], i: Int): Long = beI32(b, i) & 0xffffffffL
  def leU32(b: Array[Byte], i: Int): Long = leI32(b, i) & 0xffffffffL
  def beU64(b: Array[Byte], i: Int): Long = (beU32(b, i) << 32) | beU32(b, i + 4)
  def tag(b: Array[Byte], i: Int, s: String): Boolean =
    i >= 0 && b.length >= i + 4 && b(i) == s(0).toByte && b(i + 1) == s(1).toByte &&
      b(i + 2) == s(2).toByte && b(i + 3) == s(3).toByte
}

/** Container-format metadata probe: format identification + pixel
  * dimensions parsed directly from binary headers — no codec library, no
  * decompression. This is the real first stage of a multimodal ingestion
  * pipeline (dimension/aspect-ratio filters, format routing, corrupt-file
  * triage) and needs only the first bytes of each payload:
  *
  *  - PNG:  8-byte signature, then IHDR width/height at offsets 16/20
  *          (big-endian u32)
  *  - GIF:  `GIF87a`/`GIF89a`, logical-screen w/h at offsets 6/8
  *          (little-endian u16)
  *  - BMP:  `BM`, BITMAPINFOHEADER width/height at offsets 18/22
  *          (little-endian i32; height may be negative = top-down rows)
  *  - JPEG: `FF D8`, then a marker-segment walk to the first SOF frame
  *          header (C0-CF minus C4/C8/CC), height/width at payload
  *          offsets +3/+5 (big-endian u16)
  *
  * Anything else → `unknown` with -1 dimensions. The pixel DECODE behind
  * these headers remains the documented stub boundary (no libjpeg/libpng
  * in this container); header parsing needs none of it.
  */
object MediaProbe {
  import Bytes._

  final case class Probe(format: String, width: Int, height: Int)

  private val Unknown = Probe("unknown", -1, -1)

  def probe(b: Array[Byte]): Probe =
    if (b.length >= 24 &&
      u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      u8(b, 4) == 0x0d && u8(b, 5) == 0x0a && u8(b, 6) == 0x1a && u8(b, 7) == 0x0a)
      Probe("png", beU32(b, 16).toInt, beU32(b, 20).toInt)
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Probe("gif", leU16(b, 6), leU16(b, 8))
    else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      Probe("bmp", leI32(b, 18), math.abs(leI32(b, 22)))
    else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      jpegSof(b)
    else Unknown

  /** Walk JPEG marker segments to the first start-of-frame header. */
  private def jpegSof(b: Array[Byte]): Probe = {
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xff) return Unknown // desynchronized stream
      val m = u8(b, i + 1)
      if (m == 0xff) i += 1 // fill byte
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
      else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        // SOFn payload: len(2) precision(1) height(2) width(2)
        if (i + 8 < b.length) return Probe("jpeg", beU16(b, i + 7), beU16(b, i + 5))
        else return Unknown
      } else {
        if (i + 3 >= b.length) return Unknown
        i += 2 + beU16(b, i + 2) // length includes its own 2 bytes
      }
    }
    Unknown
  }
}

/** Audio-container metadata probe — the audio-modality sibling of
  * [[MediaProbe]]: WAV (RIFF) headers are parsed in full (a chunk walk
  * to `fmt ` and `data`, tolerating extra chunks like `LIST` in
  * between), FLAC / Ogg / ID3(MP3) containers are identified by
  * signature. Sample-accurate duration needs no codec for PCM WAV:
  * `data` byte length / (channels × bytes-per-sample) is the sample
  * count. Compressed payload decode stays behind the same documented
  * stub boundary as pixel decode.
  */
object AudioProbe {
  import Bytes._

  /** nSamples / sampleRate etc. are -1 when the container doesn't carry
    * them without decode (flac/ogg/mp3 here) or the file is corrupt.
    */
  final case class Audio(
      format: String,
      channels: Int,
      sampleRate: Int,
      bitsPerSample: Int,
      nSamples: Long)

  private val Unknown = Audio("unknown", -1, -1, -1, -1L)

  def probe(b: Array[Byte]): Audio =
    if (tag(b, 0, "RIFF") && tag(b, 8, "WAVE")) wav(b)
    else if (tag(b, 0, "fLaC")) Audio("flac", -1, -1, -1, -1L)
    else if (tag(b, 0, "OggS")) Audio("ogg", -1, -1, -1, -1L)
    else if (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
      Audio("mp3", -1, -1, -1, -1L)
    else Unknown

  /** Chunk walk: chunks are (4-byte tag, u32le size, payload, pad to
    * even). The declared `data` size is trusted even when the payload is
    * truncated (header-only files are how manifests/probes see large
    * objects) — real ingestion validates length against object size
    * separately.
    */
  private def wav(b: Array[Byte]): Audio = {
    var i = 12L
    var channels = -1
    var rate = -1
    var bits = -1
    var dataBytes = -1L
    while (i + 8 <= b.length && (channels < 0 || dataBytes < 0)) {
      val at = i.toInt // safe: i + 8 <= b.length <= Int.MaxValue
      // unsigned chunk size, advanced in LONG arithmetic — a corrupt
      // size near 2^32 through .toInt would go negative (an
      // un-advancing loop, or a negative index into tag())
      val size = leU32(b, at + 4)
      if (tag(b, at, "fmt ") && i + 24 <= b.length) {
        channels = leU16(b, at + 10)
        rate = leU32(b, at + 12).toInt
        bits = leU16(b, at + 22)
      } else if (tag(b, at, "data")) {
        dataBytes = size
      }
      i += 8L + size + (size & 1L) // chunks pad to even offsets
    }
    if (channels <= 0 || rate <= 0 || bits <= 0) Unknown
    else {
      val n = if (dataBytes < 0) -1L else dataBytes / (channels.toLong * (bits / 8))
      Audio("wav", channels, rate, bits, n)
    }
  }

  /** Minimal PCM WAV header (44 bytes) declaring `nSamples` of audio —
    * the synthesis half of the round trip `q_multimodal_audio` tests;
    * payload bytes are intentionally omitted (see [[wav]] on truncation).
    */
  def wavHeader(channels: Int, rate: Int, bits: Int, nSamples: Long): Array[Byte] = {
    val dataSize = nSamples * channels * (bits / 8)
    // RIFF sizes are u32; fail loudly instead of silently truncating
    // through putInt (the probe round-trip would diverge undetected)
    require(
      dataSize >= 0 && dataSize + 36 <= 0xffffffffL,
      s"WAV data size $dataSize exceeds the RIFF u32 limit")
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt((36 + dataSize).toInt)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1.toShort) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(rate)
    bb.putInt(rate * channels * (bits / 8)) // byte rate
    bb.putShort((channels * (bits / 8)).toShort) // block align
    bb.putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize.toInt)
    bb.array()
  }
}

/** Video-container metadata probe — the video-modality sibling of
  * [[MediaProbe]]/[[AudioProbe]], completing the image/audio/video trio.
  * MP4 (ISO-BMFF) is parsed in full: a top-level box walk to `moov`, then
  * a child walk to `mvhd` (timescale + duration, version 0 and 1 layouts)
  * and `trak`/`tkhd` (presentation width/height, 16.16 fixed point).
  * AVI (RIFF) and Matroska/WebM (EBML magic) are identified by signature.
  * Frame DECODE stays behind the same documented stub boundary as pixel
  * and compressed-audio decode (no codec libraries in this container) —
  * none of it is needed for container metadata, which is what ingestion
  * filters (duration caps, aspect-ratio gates, format routing) read.
  */
object VideoProbe {
  import Bytes._

  /** `timescale`/`durationMs`/`width`/`height` are -1 where the container
    * doesn't carry them without decode (avi/mkv here) or the file is
    * corrupt/truncated.
    */
  final case class Video(
      format: String,
      brand: String,
      timescale: Int,
      durationMs: Long,
      width: Int,
      height: Int)

  private val Unknown = Video("unknown", "", -1, -1L, -1, -1)

  def probe(b: Array[Byte]): Video =
    if (tag(b, 4, "ftyp")) mp4(b)
    else if (tag(b, 0, "RIFF") && tag(b, 8, "AVI ")) Video("avi", "", -1, -1L, -1, -1)
    else if (b.length >= 4 && u8(b, 0) == 0x1a && u8(b, 1) == 0x45 &&
      u8(b, 2) == 0xdf && u8(b, 3) == 0xa3)
      Video("mkv", "", -1, -1L, -1, -1) // EBML: Matroska or WebM
    else Unknown

  /** Walk ISO-BMFF boxes: (u32be size, 4cc type); size 1 → u64 extended
    * size at offset 8, size 0 → box runs to EOF. Box sizes are advanced in
    * LONG arithmetic for the same corrupt-u32 reason as [[AudioProbe.wav]].
    * Returns (payloadStart, boxEnd) of the first `want` box inside
    * [from, to), or null — the end travels WITH the find so a box carrying
    * a 64-bit extended size (16-byte header) can't be re-measured wrongly
    * by a second 8-byte-header read.
    */
  private def findBox(b: Array[Byte], from: Long, to: Long, want: String): Array[Long] = {
    var i = from
    while (i + 8 <= to) {
      val at = i.toInt
      val size0 = beU32(b, at)
      val hdr = if (size0 == 1L) 16L else 8L
      val size =
        if (size0 == 0L) to - i // to end of enclosing space
        else if (size0 == 1L) { if (i + 16 > to) return null else beU64(b, at + 8) }
        else size0
      if (size < hdr) return null // corrupt: box smaller than its own header
      if (tag(b, at + 4, want)) return Array(i + hdr, math.min(i + size, to))
      i += size
    }
    null
  }

  private def mp4(b: Array[Byte]): Video = {
    val n = b.length.toLong
    // a truncated buffer can end inside the ftyp header: the signature
    // check only guarantees 8 bytes, the brand needs 12 (fuzz-found)
    val brand = if (b.length >= 12) new String(b, 8, 4, "US-ASCII") else ""
    val moovBox = findBox(b, 0L, n, "moov")
    if (moovBox == null) return Video("mp4", brand, -1, -1L, -1, -1)
    val moov = moovBox(0)
    val moovEnd = moovBox(1)
    var timescale = -1
    var durMs = -1L
    val mvhdBox = findBox(b, moov, moovEnd, "mvhd")
    if (mvhdBox != null && mvhdBox(0) + 4 <= moovEnd) {
      val mvhd = mvhdBox(0)
      val v = u8(b, mvhd.toInt)
      // FullBox payload: version(1) flags(3), then v0: ctime4 mtime4
      // timescale4 duration4 / v1: ctime8 mtime8 timescale4 duration8
      if (v == 0 && mvhd + 20 <= moovEnd) {
        timescale = beU32(b, mvhd.toInt + 12).toInt
        val dur = beU32(b, mvhd.toInt + 16)
        if (timescale > 0) durMs = dur * 1000L / timescale
      } else if (v == 1 && mvhd + 32 <= moovEnd) {
        timescale = beU32(b, mvhd.toInt + 20).toInt
        val dur = beU64(b, mvhd.toInt + 24)
        if (timescale > 0) durMs = dur * 1000L / timescale
      }
    }
    var width = -1
    var height = -1
    val trakBox = findBox(b, moov, moovEnd, "trak")
    if (trakBox != null) {
      val trak = trakBox(0)
      val trakEnd = trakBox(1)
      val tkhdBox = findBox(b, trak, trakEnd, "tkhd")
      if (tkhdBox != null && tkhdBox(0) + 4 <= trakEnd) {
        val tkhd = tkhdBox(0)
        val v = u8(b, tkhd.toInt)
        // v0 payload: ver/flags4 ctime4 mtime4 id4 res4 dur4 res8 layer2
        // alt2 vol2 res2 matrix36 → width @ +76, height @ +80 (16.16)
        // v1 adds 12 bytes (ctime/mtime/duration u64) → width @ +88
        val wOff = if (v == 1) 88 else 76
        if (tkhd + wOff + 8 <= trakEnd) {
          width = (beU32(b, (tkhd + wOff).toInt) >> 16).toInt
          height = (beU32(b, (tkhd + wOff + 4).toInt) >> 16).toInt
        }
      }
    }
    Video("mp4", brand, timescale, durMs, width, height)
  }

  /** Minimal-but-valid MP4: `ftyp` + `moov`(`mvhd` v0 + `trak`(`tkhd` v0))
    * — the synthesis half of the `q_multimodal_video` round trip. A `free`
    * box sits between ftyp and moov, and an `iods` box precedes mvhd
    * inside moov, so the probe's box walks are exercised against
    * non-adjacent siblings (same idea as WAV's LIST-chunk tolerance).
    */
  def mp4Header(
      brand: String,
      timescale: Int,
      duration: Long,
      width: Int,
      height: Int): Array[Byte] = {
    require(brand.length == 4, s"brand must be a 4cc: '$brand'")
    require(duration >= 0 && duration <= 0xffffffffL, s"duration $duration exceeds u32 (mvhd v0)")
    val mvhdSize = 8 + 100 // standard v0 mvhd
    val tkhdSize = 8 + 84 // standard v0 tkhd
    val trakSize = 8 + tkhdSize
    val iodsSize = 8 + 4
    val moovSize = 8 + iodsSize + mvhdSize + trakSize
    val bb = java.nio.ByteBuffer
      .allocate(16 + 16 + moovSize)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    // ftyp
    bb.putInt(16); fourcc("ftyp"); fourcc(brand); bb.putInt(0)
    // free (walk must skip it)
    bb.putInt(16); fourcc("free"); bb.putLong(0L)
    // moov
    bb.putInt(moovSize); fourcc("moov")
    //   iods (walk must skip it)
    bb.putInt(iodsSize); fourcc("iods"); bb.putInt(0)
    //   mvhd v0
    bb.putInt(mvhdSize); fourcc("mvhd")
    bb.putInt(0) // version 0 + flags
    bb.putInt(0); bb.putInt(0) // ctime, mtime
    bb.putInt(timescale)
    bb.putInt(duration.toInt) // u32 (range-checked above)
    val mvhdRest = mvhdSize - 8 - 4 - 8 - 4 - 4
    bb.put(new Array[Byte](mvhdRest))
    //   trak > tkhd v0
    bb.putInt(trakSize); fourcc("trak")
    bb.putInt(tkhdSize); fourcc("tkhd")
    bb.putInt(0) // version 0 + flags
    bb.putInt(0); bb.putInt(0) // ctime, mtime
    bb.putInt(1) // track id
    bb.putInt(0) // reserved
    bb.putInt(duration.toInt) // track duration
    bb.put(new Array[Byte](8 + 2 + 2 + 2 + 2 + 36)) // res/layer/alt/vol/res/matrix
    bb.putInt(width << 16) // 16.16 fixed point
    bb.putInt(height << 16)
    bb.array()
  }
}

/** Uncompressed-BMP codec + average-hash (aHash) — the pixel-DATA stage
  * the header probes stop short of: BMP carries raw 24-bit pixels, so a
  * full synthesize → parse → decode → hash round trip needs no external
  * codec library. The motivating duplicate in the reference's own domain:
  * a tile cache is full of byte-identical and near-identical images
  * (ocean/desert tiles), and a perceptual hash dedups the near-identical
  * ones a byte digest misses.
  *
  * aHash (the classic average-hash): per-pixel BT.601 integer luminance
  * `(299·R + 587·G + 114·B) / 1000`, image mean by integer division,
  * bit(idx) = lum > mean, idx = y·8 + x. Real pipelines resize to 8×8
  * first; the synthesized tiles are born 8×8, where the resize is the
  * identity (the decode/hash plumbing is exactly the production shape).
  * All arithmetic is integer, so the hash is bit-reproducible by the
  * DuckDB oracle from the same synthesis formula.
  */
object ImageCodec {
  import Bytes.leI32

  val W = 8
  val H = 8

  /** Deterministic synthetic tile content: a scene (doc_id mod 97) fixes
    * a high-contrast 20/220 pattern; every third document additionally
    * flips ONE scene pixel (which one depends on doc_id), making
    * same-scene documents near- but not byte-identical. Values sit ≥ 95
    * luminance units from any reachable mean, so the single-pixel flip
    * moves exactly one hash bit (the mean itself shifts by at most 4).
    */
  def lum(docId: Long, idx: Int): Int = {
    val scene = docId % 97
    val base =
      if ((((scene * 2654435761L + idx * 40503L) / 128) % 2) == 0L) 20 else 220
    if (docId % 3 == 0 && idx == (docId % 64).toInt) 240 - base else base
  }

  /** A real, well-formed 24-bpp bottom-up BMP of the document's tile
    * (54-byte header + 8×8 BGR rows; row stride 24 is already 4-aligned).
    */
  def bmp8x8(docId: Long): Array[Byte] = {
    val stride = W * 3
    val bytes = java.nio.ByteBuffer
      .allocate(54 + stride * H)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bytes.put('B'.toByte).put('M'.toByte)
    bytes.putInt(54 + stride * H) // file size
    bytes.putShort(0); bytes.putShort(0)
    bytes.putInt(54) // pixel-data offset
    bytes.putInt(40) // BITMAPINFOHEADER
    bytes.putInt(W)
    bytes.putInt(H) // positive = bottom-up row order
    bytes.putShort(1) // planes
    bytes.putShort(24) // bpp
    bytes.putInt(0) // BI_RGB
    bytes.putInt(stride * H)
    bytes.putInt(2835); bytes.putInt(2835) // 72 dpi
    bytes.putInt(0); bytes.putInt(0)
    var y = H - 1 // bottom row first
    while (y >= 0) {
      var x = 0
      while (x < W) {
        val v = lum(docId, y * W + x).toByte
        bytes.put(v).put(v).put(v) // grayscale: B = G = R
        x += 1
      }
      y -= 1
    }
    bytes.array()
  }

  /** 64-bit average hash of a decoded W×H luminance array — the shared
    * hashing tail of the BMP ([[aHash]]) and PNG ([[PngCodec.decode]])
    * round trips: mean by integer division, bit(i) = lum(i) > mean.
    */
  def hashLums(lums: Array[Int]): Long = {
    val mean = lums.foldLeft(0L)(_ + _) / lums.length
    var hash = 0L
    var i = 0
    while (i < lums.length) {
      if (lums(i) > mean) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Decode a 24-bpp BMP and compute the 64-bit average hash. Parses the
    * actual header fields (data offset, dimensions, bottom-up vs
    * top-down height sign) — a synthesizer bug or a parser bug breaks
    * the oracle hash-match, same contract as [[AudioProbe]]/[[VideoProbe]].
    */
  def aHash(b: Array[Byte]): Long = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
    val off = leI32(b, 10)
    val w = leI32(b, 18)
    val rawH = leI32(b, 22)
    val h = math.abs(rawH)
    val bottomUp = rawH > 0
    require(w == W && h == H, s"aHash expects ${W}x$H, got ${w}x$h")
    val stride = (w * 3 + 3) / 4 * 4
    val lums = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (bottomUp) h - 1 - y else y
      var x = 0
      while (x < w) {
        val p = off + srcRow * stride + x * 3
        val blue = b(p) & 0xff
        val green = b(p + 1) & 0xff
        val red = b(p + 2) & 0xff
        lums(y * w + x) = (299 * red + 587 * green + 114 * blue) / 1000
        x += 1
      }
      y += 1
    }
    hashLums(lums)
  }
}

/** Minimal-but-real PNG codec (grayscale, 8-bit, scanline filters
  * None/Sub/Up) — the COMPRESSED sibling of [[ImageCodec]]'s raw-pixel
  * BMP round trip, and the step past [[MediaProbe]]'s header-only PNG
  * probe: synthesis deflates a genuine zlib IDAT stream
  * (`java.util.zip.Deflater` — in the JRE, so no codec-library stub
  * needed) and stamps every chunk with its CRC-32; decode walks the
  * chunk stream verifying each CRC, re-inflates IDAT, reverses the
  * per-row filters, and average-hashes the recovered pixels with the
  * shared [[ImageCodec.hashLums]] tail.
  *
  * Pixel content is [[ImageCodec.lum]], and for grayscale the BT.601
  * weighted sum collapses to the identity (`(299v+587v+114v)/1000 = v`),
  * so a correct PNG round trip must reproduce the BMP pipeline's hash
  * bit-for-bit — pinned cross-codec in the spec, and recomputed
  * arithmetically by the DuckDB oracle of `q_multimodal_png`.
  *
  * Scale shape (same contract as the other media probes): synthesis,
  * decode, and hashing all happen inside one `mapPartitions` pass —
  * compressed bytes are born and die in the input partition; only
  * doc_id + fixed-width metadata ever reach a shuffle.
  */
object PngCodec {
  import Bytes.beI32
  import java.util.zip.{CRC32, Deflater, Inflater}

  val W: Int = ImageCodec.W
  val H: Int = ImageCodec.H

  final case class Png(
      width: Int,
      height: Int,
      bitDepth: Int,
      colorType: Int,
      nChunks: Int,
      crcOk: Boolean,
      hash: Long)

  private def chunk(bb: java.nio.ByteBuffer, typ: String, data: Array[Byte]): Unit = {
    val t = typ.getBytes("US-ASCII")
    bb.putInt(data.length).put(t).put(data)
    val crc = new CRC32
    crc.update(t)
    crc.update(data)
    bb.putInt(crc.getValue.toInt)
  }

  /** A real, well-formed grayscale PNG of the document's 8×8 tile. Rows
    * cycle filter types None/Sub/Up (`y % 3`) so the decoder's
    * un-filtering is exercised on every image, not just the trivial
    * filter-0 path.
    */
  def png8x8(docId: Long): Array[Byte] = {
    val raw = Array.tabulate(H, W)((y, x) => ImageCodec.lum(docId, y * W + x))
    val lines = new Array[Byte]((W + 1) * H)
    var y = 0
    while (y < H) {
      val f = y % 3
      lines(y * (W + 1)) = f.toByte
      var x = 0
      while (x < W) {
        val cur = raw(y)(x)
        val filtered = f match {
          case 0 => cur // None
          case 1 => cur - (if (x == 0) 0 else raw(y)(x - 1)) // Sub
          case _ => cur - (if (y == 0) 0 else raw(y - 1)(x)) // Up
        }
        lines(y * (W + 1) + 1 + x) = (filtered & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val defl = new Deflater()
    defl.setInput(lines)
    defl.finish()
    val buf = new Array[Byte](lines.length + 128) // zlib worst case for 72 B
    val n = defl.deflate(buf)
    require(defl.finished(), "IDAT deflate did not fit its buffer")
    defl.end()
    val idat = java.util.Arrays.copyOf(buf, n)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(W).putInt(H)
    ihdr.put(8.toByte).put(0.toByte) // bit depth 8, color type 0 (gray)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
    val bb = java.nio.ByteBuffer.allocate(8 + (12 + 13) + (12 + idat.length) + 12)
    bb.put(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
    chunk(bb, "IHDR", ihdr.array())
    chunk(bb, "IDAT", idat)
    chunk(bb, "IEND", Array.emptyByteArray)
    bb.array()
  }

  /** Full decode: chunk walk with per-chunk CRC-32 verification, IDAT
    * inflate, filter reversal (types 0/1/2 — what the synthesizer emits;
    * anything else fails loudly), average hash. Chunk lengths are
    * validated against the buffer before any read, so truncated input
    * fails with a message instead of an index error.
    */
  def decode(b: Array[Byte]): Png = {
    require(
      b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G',
      "not a PNG")
    var i = 8
    var w = -1
    var h = -1
    var depth = -1
    var ctype = -1
    var nChunks = 0
    var crcOk = true
    val idat = new java.io.ByteArrayOutputStream
    while (i + 12 <= b.length) {
      val len = beI32(b, i)
      require(len >= 0 && i + 12 + len <= b.length, s"truncated chunk at offset $i")
      val typ = new String(b, i + 4, 4, "US-ASCII")
      val crc = new CRC32
      crc.update(b, i + 4, 4 + len)
      if (crc.getValue.toInt != beI32(b, i + 8 + len)) crcOk = false
      typ match {
        case "IHDR" =>
          w = beI32(b, i + 8)
          h = beI32(b, i + 12)
          depth = b(i + 16) & 0xff
          ctype = b(i + 17) & 0xff
        case "IDAT" => idat.write(b, i + 8, len)
        case _ => ()
      }
      nChunks += 1
      i += 12 + len
    }
    require(w == W && h == H && depth == 8 && ctype == 0, s"unsupported PNG ${w}x$h d$depth c$ctype")
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    val lines = new Array[Byte]((w + 1) * h)
    var got = 0
    while (got < lines.length && !inf.finished()) {
      val k = inf.inflate(lines, got, lines.length - got)
      require(k > 0 || inf.finished(), "IDAT inflate stalled")
      got += k
    }
    require(got == lines.length, s"IDAT decoded $got of ${lines.length} bytes")
    inf.end()
    val lums = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val f = lines(y * (w + 1)) & 0xff
      var x = 0
      while (x < w) {
        val v = lines(y * (w + 1) + 1 + x) & 0xff
        val recon = f match {
          case 0 => v
          case 1 => v + (if (x == 0) 0 else lums(y * w + x - 1))
          case 2 => v + (if (y == 0) 0 else lums((y - 1) * w + x))
          case other => throw new IllegalArgumentException(s"unsupported PNG filter $other")
        }
        lums(y * w + x) = recon & 0xff
        x += 1
      }
      y += 1
    }
    Png(w, h, depth, ctype, nChunks, crcOk, ImageCodec.hashLums(lums))
  }
}
