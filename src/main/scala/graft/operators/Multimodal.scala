package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in batches per partition
  * (builder-prompt scale extension; the Scala analog of a Pandas-UDF /
  * `mapInPandas` stage is typed `mapPartitions` — one iterator per
  * partition, so a real decoder would amortize model/codec init across
  * the batch exactly like a Pandas UDF does).
  *
  * Decode is REAL at both levels (no stub seam since r17):
  * [[MediaCodec]] parses the actual header layouts of all three fixture
  * formats (PNG IHDR, JPEG SOF marker scan, WAV RIFF/fmt chunks) in
  * pure JVM byte reads — q66's oracle-gated path, with q23 the
  * narrower feature projection of the same decode — and [[pcmStats]]
  * decodes the WAV `data` payload's actual PCM samples at the declared
  * bit depth (8-bit unsigned-offset, 16/24/32-bit signed little-endian
  * per the format spec) into the audio statistics a curation pipeline
  * filters on (DC offset, peak, RMS) — q75. Compressed-audio SAMPLE
  * decode is real for FLAC's losslessly-unencoded subframe classes —
  * CONSTANT and VERBATIM frames bit-unpack with both frame CRCs
  * verified ([[MediaCodec.flacSamples]], q96) — so the remaining honest
  * gap is exactly the PREDICTOR classes: FLAC FIXED/LPC subframes,
  * decorrelated-stereo channel modes, and MP3's transform decode, each
  * returning its named sentinel rather than wrong samples. That is the
  * codec-library line; every other byte layout in the fixture is
  * decoded for real.
  *
  * Scale notes: media rows are wide (MBs per row at 100 TB); the
  * pipeline keeps them in one narrow pass (no shuffle), and metadata-only
  * queries prune the binary column at the parquet scan (columnar layout
  * means the bytes are never read — verified via ReadSchema in explain).
  */
object Multimodal {

  case class MediaRow(media_id: Long, media: Array[Byte], format: String)

  /** Make an opaque-binary media table from the documents fixture (UTF-8
    * bytes stand in for encoded media; format cycles deterministically). */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("media"),
      element_at(array(lit("png"), lit("jpeg"), lit("wav")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"))

  /** "Frame sampling" plumbing for video-like payloads: split the byte
    * stream into fixed-size chunks and emit every `stride`-th chunk with
    * its index — the shape of a real frame sampler (explode + index),
    * without a codec. */
  def sampleFrames(media: DataFrame, chunkSize: Int = 64, stride: Int = 4): DataFrame =
    media
      .select(col("media_id"), posexplode(expr(
        // the x.idx >= 0 AND idx*chunk < length guard kills the phantom
        // frames a descending sequence(0,-1) would emit for empty media
        s"""filter(transform(sequence(0, int(floor((length(media) - 1) / $chunkSize))),
           |  i -> struct(i as idx, substring(media, i * $chunkSize + 1, $chunkSize) as chunk)),
           |  x -> x.idx >= 0 AND x.idx * $chunkSize < length(media) AND x.idx % $stride = 0)""".stripMargin)))
      .select(col("media_id"), col("col.idx").cast("long").as("frame_idx"),
        md5(col("col.chunk")).as("frame_hash"),
        length(col("col.chunk")).cast("long").as("frame_bytes"))

  // ---- real header-level decode (q66) ------------------------------------

  /** Pure-JVM header parsers for the three fixture formats, whose
    * typed metadata lives in fixed, public byte layouts — PNG (IHDR),
    * JPEG (SOF) and WAV (RIFF/fmt) — a REAL decoder for media
    * metadata without any codec library (it replaced the early rounds'
    * stub seam, deleted in r17).
    *
    * Malformed input returns (-1, -1, 0) instead of throwing: at fleet
    * scale one corrupt object must not kill a 100 TB scan — the sentinel
    * row is filterable downstream (spec-pinned). */
  object MediaCodec {

    private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

    private def be16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

    /** PNG: 8-byte signature, then the IHDR chunk (4-byte length = 13,
      * "IHDR", width u32be, height u32be, 5 spec bytes, CRC32) — width
      * and height at fixed offsets 16 and 20; header ends at byte 33.
      * [[pngIssue]] is the reason-bearing core (None = parseable); the
      * tuple wrapper keeps the original sentinel contract. */
    def pngIssue(b: Array[Byte]): Option[String] =
      if (b.length < 33) Some("truncated_header")
      else if (!PngSig.indices.forall(i => b(i) == PngSig(i)))
        Some("bad_signature")
      else if (be32(b, 8) != 13L ||
          !(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'))
        Some("bad_ihdr")
      else None

    def parsePng(b: Array[Byte]): (Long, Long, Int) =
      if (pngIssue(b).isEmpty) (be32(b, 16), be32(b, 20), 33)
      else (-1L, -1L, 0)

    /** JPEG: SOI (FFD8), then marker segments (FF xx, u16be length
      * including itself); dimensions live in the first SOF frame header
      * (FFC0–FFCF except the non-frame C4/C8/CC): precision u8, height
      * u16be, width u16be. Returns the offset AFTER the SOF segment —
      * where this generator's payload starts. */
    def parseJpeg(b: Array[Byte]): (Long, Long, Int) =
      jpegCore(b).getOrElse((-1L, -1L, 0))

    def jpegIssue(b: Array[Byte]): Option[String] = jpegCore(b).left.toOption

    private def jpegCore(b: Array[Byte]): Either[String, (Long, Long, Int)] = {
      if (b.length < 4 || b(0) != 0xff.toByte || b(1) != 0xd8.toByte)
        return Left("bad_signature")
      var o = 2
      while (o + 4 <= b.length && b(o) == 0xff.toByte) {
        val marker = b(o + 1) & 0xff
        val segLen = be16(b, o + 2)
        if (segLen < 2 || o + 2 + segLen > b.length) return Left("bad_segment")
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (segLen < 7) return Left("bad_sof")
          val h = be16(b, o + 5).toLong
          val w = be16(b, o + 7).toLong
          return Right((w, h, o + 2 + segLen))
        }
        o += 2 + segLen
      }
      Left("no_sof")
    }

    /** A real, CRC-valid PNG signature+IHDR for the given dimensions —
      * the fixture generator's image "encoder". */
    def pngHeader(width: Long, height: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(33)
      out.put(PngSig)
      out.putInt(13)
      val tagAndData = java.nio.ByteBuffer.allocate(17)
      tagAndData.put("IHDR".getBytes("US-ASCII"))
      tagAndData.putInt(width.toInt).putInt(height.toInt)
      // bit depth 8, truecolor, deflate, adaptive filter, no interlace
      tagAndData.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      out.put(tagAndData.array())
      val crc = new java.util.zip.CRC32
      crc.update(tagAndData.array())
      out.putInt(crc.getValue.toInt)
      out.array()
    }

    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    private def tag(b: Array[Byte], o: Int, t: String): Boolean =
      t.indices.forall(i => b(o + i) == t.charAt(i).toByte)

    /** WAV: RIFF container ("RIFF", u32le riff size, "WAVE"), then
      * chunks of (4-byte id, u32le size, data, padded to even). Audio
      * parameters live in the "fmt " chunk (format u16le, channels
      * u16le, sample rate u32le, byte rate u32le, block align u16le,
      * bits per sample u16le); the payload starts after the "data"
      * chunk header. Walks the chunk list (robust to extra chunks like
      * LIST/JUNK before fmt), returns (sample_rate, channels,
      * bits_per_sample, payload offset); malformed/truncated input
      * returns the same filterable sentinel as the image parsers. */
    def parseWav(b: Array[Byte]): (Long, Long, Long, Int) =
      wavCore(b).getOrElse((-1L, -1L, -1L, 0))

    def wavIssue(b: Array[Byte]): Option[String] = wavCore(b).left.toOption

    private def wavCore(
        b: Array[Byte]): Either[String, (Long, Long, Long, Int)] = {
      if (b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE"))
        return Left("bad_container")
      var o = 12
      var rate = -1L; var ch = -1L; var bits = -1L
      while (o + 8 <= b.length) {
        val size = le32(b, o + 4)
        if (size < 0 || o + 8 + size > b.length) return Left("bad_chunk")
        if (tag(b, o, "fmt ")) {
          if (size < 16) return Left("bad_fmt")
          ch = le16(b, o + 10).toLong
          rate = le32(b, o + 12)
          bits = le16(b, o + 22).toLong
        } else if (tag(b, o, "data")) {
          // payload starts here; fmt must already have been seen
          // (the canonical layout; a data-before-fmt file is malformed)
          return if (rate < 0) Left("missing_fmt")
          else Right((rate, ch, bits, o + 8))
        }
        o += 8 + size.toInt + (size.toInt & 1) // chunks pad to even
      }
      Left("no_data")
    }

    /** Canonical 44-byte PCM WAV header (RIFF + 16-byte fmt + data
      * chunk header) for the given parameters — the fixture generator's
      * audio "encoder". */
    def wavHeader(sampleRate: Long, channels: Long, bitsPerSample: Long,
        dataLen: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val blockAlign = (channels * bitsPerSample / 8).toInt
      out.put("RIFF".getBytes("US-ASCII")).putInt((36 + dataLen).toInt)
      out.put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      out.putShort(1.toShort).putShort(channels.toShort)
      out.putInt(sampleRate.toInt)
      out.putInt((sampleRate * blockAlign).toInt)
      out.putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
      out.put("data".getBytes("US-ASCII")).putInt(dataLen.toInt)
      out.array()
    }

    /** SOI + APP0/JFIF + SOF0 (baseline, 3 components) — 39 bytes. */
    def jpegHeader(width: Long, height: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(39)
      out.put(Array[Byte](0xff.toByte, 0xd8.toByte))                  // SOI
      out.put(Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x10))      // APP0, len 16
      out.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      out.put(Array[Byte](0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00))
      out.put(Array[Byte](0xff.toByte, 0xc0.toByte, 0x00, 0x11, 0x08)) // SOF0, len 17, prec 8
      out.putShort(height.toShort).putShort(width.toShort)
      out.put(3.toByte)                                               // 3 components
      out.put(Array[Byte](0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01))
      out.array()
    }

    // ---- compressed-audio containers (metadata/frame level) --------------
    //
    // The sandbox has no codec libraries, so SAMPLE decode of compressed
    // audio stays an honest gap — but the container structure a curation
    // run filters on (duration, rate, channels, bitrate, frame integrity)
    // is plain public byte layout, parseable with zero dependencies:
    // MPEG-1 Layer III frame headers (ISO/IEC 11172-3: 4-byte header per
    // frame, frame length derivable from the header alone, so a WALK over
    // the frame chain verifies stream integrity end-to-end) and the FLAC
    // STREAMINFO metadata block (the format's mandatory first block:
    // bit-packed 20-bit rate / 3-bit channels / 5-bit depth / 36-bit
    // total-sample fields).

    /** MPEG-1 Layer III bitrate table, kbps by header index (index 0 =
      * "free format" and 15 are not decodable parameters — both classify
      * as bad_bitrate here). */
    val Mp3Bitrates: Array[Int] =
      Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)

    /** MPEG-1 sample-rate table by header index (index 3 is reserved). */
    val Mp3Rates: Array[Int] = Array(44100, 48000, 32000, -1)

    /** Samples per MPEG-1 Layer III frame — fixed by the spec. */
    val Mp3SamplesPerFrame = 1152L

    /** One MPEG-1 Layer III frame: the 4-byte header for the given
      * parameter indices, padded with a deterministic fill byte to the
      * header-implied frame length (144·bitrate/rate + padding) — the
      * fixture generator's frame "encoder". `channels` 1 = mono (mode
      * 0b11), 2 = stereo (mode 0b00). */
    def mp3Frame(bitrateIdx: Int, rateIdx: Int, padding: Boolean,
        channels: Int, fill: Byte): Array[Byte] = {
      val len = 144 * Mp3Bitrates(bitrateIdx) * 1000 / Mp3Rates(rateIdx) +
        (if (padding) 1 else 0)
      val b = Array.fill[Byte](len)(fill)
      b(0) = 0xff.toByte
      b(1) = 0xfb.toByte // sync(3)=111, MPEG-1(11), Layer III(01), no CRC(1)
      b(2) = ((bitrateIdx << 4) | (rateIdx << 2) |
        (if (padding) 2 else 0)).toByte
      b(3) = (if (channels == 1) 0xc0 else 0x00).toByte // mode: mono/stereo
      b
    }

    /** Walks the MPEG-1 Layer III frame chain from byte 0 to EOF: every
      * hop reads one 4-byte header, validates the sync/version/layer
      * bits and the bitrate/rate indices, derives the frame length, and
      * jumps. Stream parameters (rate, channels) are the FIRST frame's;
      * bitrate may vary per frame (VBR), so the reported kbps is the
      * frame-length-weighted mean rounded down. The walk must land
      * EXACTLY on EOF — a short final frame is truncated_frame, residue
      * after the last frame is trailing_garbage — so "ok" certifies the
      * whole stream's frame integrity, not just the first header.
      *
      * Taxonomy note (r18 advice): `trailing_garbage` names ANY
      * post-first-frame sync loss — true end-of-stream residue AND
      * mid-stream corruption even when more valid frames follow (the
      * walk stops at the first bad sync; it does not resync, so it
      * cannot tell the two apart without scanning for a later sync
      * word, which real decoders only attempt with heuristics). Later-
      * frame bitrate/samplerate defects DO keep their own classes
      * (bad_bitrate/bad_samplerate) because the sync word at that
      * offset was valid — the asymmetry is the walk's stop rule, not an
      * oversight. Triage reading a trailing_garbage row should treat it
      * as "stream invalid from byte offset X onward", not "valid stream
      * with junk appended". */
    def mp3Core(b: Array[Byte])
        : Either[String, (Long, Long, Long, Long)] = {
      var o = 0
      var rate = -1L; var ch = -1L; var frames = 0L; var brBits = 0L
      while (o < b.length) {
        if (o + 4 > b.length)
          return Left(if (frames == 0) "truncated_frame" else "trailing_garbage")
        if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xfe) != 0xfa)
          return Left(if (frames == 0) "bad_sync" else "trailing_garbage")
        val brIdx = (b(o + 2) & 0xf0) >>> 4
        val rIdx = (b(o + 2) & 0x0c) >>> 2
        if (Mp3Bitrates(brIdx) < 0) return Left("bad_bitrate")
        if (Mp3Rates(rIdx) < 0) return Left("bad_samplerate")
        val pad = (b(o + 2) & 0x02) >>> 1
        val len = 144 * Mp3Bitrates(brIdx) * 1000 / Mp3Rates(rIdx) + pad
        if (o + len > b.length) return Left("truncated_frame")
        if (frames == 0) {
          rate = Mp3Rates(rIdx).toLong
          ch = if (((b(o + 3) & 0xc0) >>> 6) == 3) 1L else 2L
        }
        brBits += Mp3Bitrates(brIdx).toLong * len
        frames += 1
        o += len
      }
      if (frames == 0) Left("truncated_frame")
      else Right((rate, ch, frames, brBits / b.length.toLong))
    }

    def mp3Issue(b: Array[Byte]): Option[String] = mp3Core(b).left.toOption

    /** FLAC header: "fLaC" magic + one STREAMINFO metadata block marked
      * last (header byte 0x80, 3-byte length 34) — 42 bytes. The four
      * audio parameters are bit-packed into one 64-bit big-endian field
      * per the spec: rate(20) | channels-1(3) | depth-1(5) |
      * total_samples(36). */
    def flacHeader(sampleRate: Long, channels: Long, bitsPerSample: Long,
        totalSamples: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(42)
      out.put("fLaC".getBytes("US-ASCII"))
      out.put(0x80.toByte).put(0.toByte).put(0.toByte).put(34.toByte)
      out.putShort(4096.toShort).putShort(4096.toShort) // min/max blocksize
      out.put(0.toByte).put(0.toByte).put(0.toByte)     // min framesize (unknown)
      out.put(0.toByte).put(0.toByte).put(0.toByte)     // max framesize (unknown)
      out.putLong((sampleRate << 44) | ((channels - 1) << 41) |
        ((bitsPerSample - 1) << 36) | totalSamples)
      out.put(new Array[Byte](16))                      // unset MD5 (all zero)
      out.array()
    }

    /** Parses the mandatory STREAMINFO block: magic, first-block type
      * check, length check, then the bit-unpack of the packed 64-bit
      * parameter field (the inverse of [[flacHeader]]'s shifts — but
      * reading REAL spec offsets, not this generator's: any FLAC file's
      * first 42+ bytes parse here). Audio frames after the metadata are
      * out of scope (sample decode needs a real codec) and ignored. */
    def flacCore(b: Array[Byte])
        : Either[String, (Long, Long, Long, Long)] = {
      if (b.length < 8) return Left("bad_magic")
      if (!tag(b, 0, "fLaC")) return Left("bad_magic")
      if ((b(4) & 0x7f) != 0) return Left("bad_block_type")
      val blockLen = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
      if (blockLen < 34 || b.length < 8 + 34) return Left("truncated_streaminfo")
      val packed = java.nio.ByteBuffer.wrap(b, 18, 8).getLong
      val rate = packed >>> 44
      val ch = ((packed >>> 41) & 0x7) + 1
      val bits = ((packed >>> 36) & 0x1f) + 1
      val total = packed & 0xfffffffffL
      if (rate == 0) Left("bad_sample_rate")
      else Right((rate, ch, bits, total))
    }

    def flacIssue(b: Array[Byte]): Option[String] = flacCore(b).left.toOption

    // ---- FLAC frame decode: CONSTANT + VERBATIM subframes (r20) ----------
    //
    // Shrinking the compressed-audio honest gap from the PUBLIC spec
    // (the FLAC format's frame layout is fully documented): CONSTANT
    // and VERBATIM subframes carry their samples LOSSLESSLY and need no
    // predictor state, so a pure-JVM decoder is a bit-reader plus the
    // two frame CRCs. FIXED/LPC subframes and decorrelated-stereo
    // channel assignments remain the named sentinel — decoding them
    // means implementing the predictors, which is the codec-library
    // line this engine deliberately does not cross.

    /** MSB-first bit reader over a byte array. */
    private[graft] final class BitReader(b: Array[Byte], start: Int) {
      var pos: Int = start // byte position
      var bit: Int = 0     // bits consumed of b(pos), from the MSB
      def atEnd: Boolean = pos >= b.length
      /** Next n bits (n <= 56) as an unsigned Long, MSB first. */
      def bits(n: Int): Long = {
        var out = 0L
        var left = n
        while (left > 0) {
          if (pos >= b.length) throw new IndexOutOfBoundsException("eof")
          val avail = 8 - bit
          val take = math.min(avail, left)
          val chunk = ((b(pos) & 0xff) >>> (avail - take)) & ((1 << take) - 1)
          out = (out << take) | chunk
          bit += take
          if (bit == 8) { bit = 0; pos += 1 }
          left -= take
        }
        out
      }
      def alignByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    }

    /** CRC-8, poly 0x07, init 0 — the FLAC frame-header checksum. */
    private[graft] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
      var crc = 0
      var i = from
      while (i < until) {
        crc ^= b(i) & 0xff
        var k = 0
        while (k < 8) {
          crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
                else (crc << 1) & 0xff
          k += 1
        }
        i += 1
      }
      crc
    }

    /** CRC-16, poly 0x8005, init 0 — the FLAC whole-frame checksum. */
    private[graft] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
      var crc = 0
      var i = from
      while (i < until) {
        crc ^= (b(i) & 0xff) << 8
        var k = 0
        while (k < 8) {
          crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
                else (crc << 1) & 0xffff
          k += 1
        }
        i += 1
      }
      crc
    }

    private val BlockSizes192 = Array(0, 192, 576, 1152, 2304, 4608)

    /** Decode every audio frame of a FLAC stream whose subframes are
      * CONSTANT or VERBATIM: returns (rate, channels, bits, samples)
      * with samples in frame order and, within a frame, channel-planar
      * (every sample of channel 0, then channel 1, …).
      * Left(reason) for malformed streams AND for the honest
      * sentinels: `undecodable_subframe` (FIXED/LPC predictors),
      * `undecodable_channel_mode` (decorrelated stereo),
      * `bad_frame_crc` / `bad_frame_sync` / `truncated_frame`
      * (structure). The walk is real parsing — metadata blocks by
      * is-last flag, blocksize/rate/depth codes, UTF-8-coded frame
      * number, both CRCs verified — not the generator's offsets. */
    def flacSamples(b: Array[Byte])
        : Either[String, (Long, Long, Long, Array[Int])] = {
      flacCore(b) match {
        case Left(e) => Left(e)
        case Right((rate, ch, bits, _)) =>
          // walk metadata blocks to the first frame (flacCore verified
          // the first block is STREAMINFO; honor is-last flags)
          var p = 4
          var last = false
          while (!last) {
            if (p + 4 > b.length) return Left("truncated_streaminfo")
            last = (b(p) & 0x80) != 0
            val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) |
              (b(p + 3) & 0xff)
            p += 4 + len
          }
          if (p > b.length) return Left("truncated_streaminfo")
          val out = scala.collection.mutable.ArrayBuilder.make[Int]
          try {
            while (p < b.length) {
              val frameStart = p
              // header: 14-bit sync + reserved + blocking strategy
              if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xfc) != 0xf8)
                return Left("bad_frame_sync")
              val bsCode = (b(p + 2) & 0xf0) >>> 4
              val srCode = b(p + 2) & 0x0f
              val chanAssign = (b(p + 3) & 0xf0) >>> 4
              val ssCode = (b(p + 3) & 0x0e) >>> 1
              p += 4
              // UTF-8-coded frame/sample number: lead byte gives width
              val lead = b(p) & 0xff
              val extra =
                if (lead < 0x80) 0
                else Integer.numberOfLeadingZeros(~(lead << 24)) - 0
              p += 1 + (if (lead < 0x80) 0 else extra - 1)
              val blockSize = bsCode match {
                case c if c >= 1 && c <= 5 => BlockSizes192(c)
                case 6 => val v = (b(p) & 0xff) + 1; p += 1; v
                case 7 =>
                  val v = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
                  p += 2; v
                case c if c >= 8 => 256 << (c - 8)
                case _ => return Left("bad_frame_blocksize")
              }
              if (srCode == 12) p += 1 // 8-bit kHz rate at header end
              else if (srCode == 13 || srCode == 14) p += 2
              val crc8At = p
              if (crc8(b, frameStart, crc8At) != (b(p) & 0xff))
                return Left("bad_frame_crc")
              p += 1
              val nCh = chanAssign match {
                case c if c <= 7 => c + 1
                case _ => return Left("undecodable_channel_mode")
              }
              val sBits = ssCode match {
                case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20
                case 6 => 24; case 7 => 32
                case 0 => bits.toInt // from STREAMINFO
                case _ => return Left("bad_frame_depth")
              }
              val rd = new BitReader(b, p)
              var c = 0
              while (c < nCh) {
                if (rd.bits(1) != 0) return Left("bad_subframe_pad")
                val tpe = rd.bits(6).toInt
                val wasted = rd.bits(1)
                if (wasted != 0) return Left("undecodable_subframe")
                def signed(v: Long): Int = {
                  val half = 1L << (sBits - 1)
                  (if (v >= half) v - (half << 1) else v).toInt
                }
                tpe match {
                  case 0 => // CONSTANT: one value for the whole block
                    val v = signed(rd.bits(sBits))
                    var k = 0
                    while (k < blockSize) { out += v; k += 1 }
                  case 1 => // VERBATIM: blockSize unencoded samples
                    var k = 0
                    while (k < blockSize) {
                      out += signed(rd.bits(sBits)); k += 1
                    }
                  case _ => return Left("undecodable_subframe")
                }
                c += 1
              }
              rd.alignByte()
              p = rd.pos
              val crcStored = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
              if (crc16(b, frameStart, p) != crcStored)
                return Left("bad_frame_crc")
              p += 2
            }
          } catch {
            case _: IndexOutOfBoundsException => return Left("truncated_frame")
          }
          Right((rate, ch, bits, out.result()))
      }
    }

    /** A real two-frame FLAC stream for `docId`: frame 0 CONSTANT
      * (value `(docId*31) % 65536 - 32768`), frame 1 VERBATIM with 192
      * 16-bit samples built big-endian from the payload bytes
      * (`hi = payload((2k) % n)`, `lo = payload((2k+1) % n)`) — mono,
      * 16-bit, 44100 Hz, blocksize 192 (code 0001), real CRC-8/CRC-16.
      * The oracle re-derives every sample from the document text
      * independently of this writer (the dimsOf contract). The payload
      * must be non-empty: the verbatim frame has nothing to wrap over. */
    def flacWithFrames(docId: Long, payload: Array[Byte]): Array[Byte] = {
      require(payload.nonEmpty, s"doc $docId: empty FLAC payload")
      val total = 384L
      def frame(num: Int, body: java.io.ByteArrayOutputStream => Unit)
          : Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(0xff); o.write(0xf8)
        o.write(0x10) // blocksize code 0001 (192) | rate code 0000
        o.write(0x08) // mono | sample size code 100 (16 bit) | reserved
        o.write(num)  // UTF-8-coded frame number (< 0x80: one byte)
        val h = o.toByteArray
        o.write(crc8(h, 0, h.length))
        body(o)
        val f = o.toByteArray
        val crc = crc16(f, 0, f.length)
        o.write((crc >>> 8) & 0xff); o.write(crc & 0xff)
        o.toByteArray
      }
      val cval = ((docId * 31) % 65536L - 32768L).toInt
      val f0 = frame(0, o => {
        o.write(0x00) // CONSTANT subframe header
        o.write((cval >>> 8) & 0xff); o.write(cval & 0xff)
      })
      val f1 = frame(1, o => {
        o.write(0x02) // VERBATIM subframe header
        val n = payload.length
        var k = 0
        while (k < 192) {
          o.write(payload((2 * k) % n) & 0xff)
          o.write(payload((2 * k + 1) % n) & 0xff)
          k += 1
        }
      })
      flacHeader(44100L, 1L, 16L, total) ++ f0 ++ f1
    }
  }

  /** One decoded media row across modalities: image rows carry parsed
    * width/height and -1 audio fields, wav rows the reverse — a fleet
    * media-metadata table keeps one schema and filters by format. */
  case class DecodedMedia(media_id: Long, n_bytes: Long, format: String,
      width: Long, height: Long, sample_rate: Long, channels: Long,
      bits_per_sample: Long, brightness: Double, content_hash: String)

  /** Deterministic decodable dimensions — the generator writes them into
    * the headers; the ORACLE recomputes them from media_id alone, so the
    * byte-level parse in [[decodeFeatures]] is verified against an
    * independent derivation (construction and parse share no offsets). */
  private def dimsOf(mediaId: Long): (Long, Long) =
    (16L + mediaId % 624, 16L + mediaId % 464)

  /** Deterministic decodable audio parameters for wav rows — same
    * independent-derivation contract as [[dimsOf]]. */
  private def audioOf(mediaId: Long): (Long, Long, Long) =
    (Seq(8000L, 16000L, 22050L, 44100L, 48000L)((mediaId % 5).toInt),
      1L + mediaId % 2,
      Seq(8L, 16L, 24L, 32L)((mediaId % 4).toInt))

  /** Media table with REAL format headers: png/jpeg rows carry a valid
    * signature+dimension header, wav rows a valid RIFF/fmt/data header,
    * in front of the payload (the document's UTF-8 bytes). A narrow
    * typed map — the generator is the test fixture's "encoder". */
  def decodableMediaTable(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val fmt = Seq("png", "jpeg", "wav")((id % 3).toInt)
        val (w, h) = dimsOf(id)
        val bytes = fmt match {
          case "png"  => MediaCodec.pngHeader(w, h) ++ payload
          case "jpeg" => MediaCodec.jpegHeader(w, h) ++ payload
          case _ =>
            val (rate, ch, bits) = audioOf(id)
            MediaCodec.wavHeader(rate, ch, bits, payload.length.toLong) ++ payload
        }
        MediaRow(id, bytes, fmt)
    }
  }

  /** The q23 shape with the stub seam REPLACED by real header parses
    * for ALL THREE formats (PNG IHDR, JPEG SOF, WAV RIFF/fmt): the
    * typed fields come from the bytes, brightness/hash from the payload
    * after the parsed header offset. Same typed mapPartitions batch
    * shape. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, rate, ch, bits, off) = r.format match {
          case "png" =>
            val (pw, ph, o) = MediaCodec.parsePng(r.media)
            (pw, ph, -1L, -1L, -1L, o)
          case "jpeg" =>
            val (jw, jh, o) = MediaCodec.parseJpeg(r.media)
            (jw, jh, -1L, -1L, -1L, o)
          case _ =>
            val (wr, wc, wb, o) = MediaCodec.parseWav(r.media)
            (-1L, -1L, wr, wc, wb, o)
        }
        val payload = java.util.Arrays.copyOfRange(r.media, off, r.media.length)
        var sum = 0L
        var i = 0
        while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
        val brightness =
          if (payload.length == 0) 0.0 else sum.toDouble / payload.length
        md.reset()
        val hash = md.digest(payload).map("%02x".format(_)).mkString
        DecodedMedia(r.media_id, r.media.length.toLong, r.format,
          w, h, rate, ch, bits, brightness, hash)
      }
    }
  }

  /** Real PCM sample statistics over a WAV payload — the audio-side
    * "pixel decode": [[MediaCodec.parseWav]] locates the `data` chunk
    * and declares the bit depth; the samples are then decoded per the
    * PCM spec (8-bit = unsigned with a 128 midpoint, 16/24/32-bit =
    * signed little-endian two's complement; a trailing partial sample
    * is ignored) and reduced to the statistics an audio-curation gate
    * filters on: sample count, mean amplitude (DC offset), peak
    * |amplitude|, and RMS at the declared depth. Stats pool all
    * channels (a stereo frame contributes each channel's sample).
    *
    * Cross-engine exactness: the mean rides on an exact int64 sum; the
    * RMS on an exact int128 sum of squares (primitive hi/lo carry
    * accumulation per sample — a 32-bit square is up to 2^62, so the
    * SUM overflows int64 on real payloads; one correctly-rounded
    * BigInteger→double conversion per ROW). NOTE the oracle must NOT
    * use DuckDB's direct HUGEINT→DOUBLE cast for these sums — it
    * rounds twice (hi·2⁶⁴ + lo as floats; measured as a 1-ulp rms hash
    * mismatch at sf0.1) — so [[qPcmStatsSql]] routes both sums through
    * the exact decimal string (`::VARCHAR::DOUBLE`, correctly-rounded
    * strtod); with that, every float op after the exact integer sums
    * is a single correctly-rounded IEEE op on both sides. A malformed
    * wav yields the usual filterable sentinel (n_samples = -1, zero
    * stats). */
  case class PcmStats(media_id: Long, sample_rate: Long, channels: Long,
      bits_per_sample: Long, n_samples: Long, mean_amp: Double,
      peak_abs: Long, rms: Double)

  def pcmStats(media: Dataset[MediaRow]): Dataset[PcmStats] = {
    import media.sparkSession.implicits._
    media.filter(col("format") === "wav").mapPartitions { rows =>
      rows.map { r =>
        val (rate, ch, bits, off) = MediaCodec.parseWav(r.media)
        // a structurally valid RIFF whose fmt declares a width we can't
        // decode (bits not a whole small byte count) is malformed FOR
        // THIS DECODER: same filterable sentinel, never a thrown task
        // (bits=0 would divide by zero below; bits>64 would wrap the
        // little-endian shift into garbage)
        if (rate < 0 || !DecodableDepths.contains(bits))
          PcmStats(r.media_id, -1L, -1L, -1L, -1L, 0.0, 0L, 0.0)
        else {
          val w = (bits / 8).toInt
          val n = (r.media.length - off) / w
          var sum = 0L; var peak = 0L
          var sqHi = 0L; var sqLo = 0L // int128 accumulator for Σ s²
          var k = 0
          while (k < n) {
            val base = off + k * w
            var raw = 0L
            var j = 0
            while (j < w) {
              raw |= (r.media(base + j) & 0xffL) << (8 * j); j += 1
            }
            val s =
              if (w == 1) raw - 128L
              else {
                val half = 1L << (8 * w - 1)
                if (raw >= half) raw - (half << 1) else raw
              }
            sum += s
            val a = math.abs(s)
            if (a > peak) peak = a
            val sq = s * s // ≤ 2^62: each square fits, only the sum can't
            val nlo = sqLo + sq
            if (java.lang.Long.compareUnsigned(nlo, sqLo) < 0) sqHi += 1
            sqLo = nlo
            k += 1
          }
          val (mean, rms) =
            if (n == 0L) (0.0, 0.0)
            else {
              val sumSq = java.math.BigInteger.valueOf(sqHi).shiftLeft(64)
                .add(new java.math.BigInteger(
                  java.lang.Long.toUnsignedString(sqLo)))
              (sum.toDouble / n, math.sqrt(sumSq.doubleValue / n))
            }
          PcmStats(r.media_id, rate, ch, bits, n, mean, peak, rms)
        }
      }
    }
  }

  /** PCM widths [[pcmStats]] can decode; a parseable wav declaring any
    * other depth is quarantine class `undecodable_depth`. */
  val DecodableDepths: Set[Long] = Set(8L, 16L, 24L, 32L)

  /** Failure class of one media row — "ok" when the row's declared
    * format parses (and, for wav, declares a decodable PCM depth).
    * One cheap header walk; payload bytes are never touched. */
  def mediaIssue(format: String, b: Array[Byte]): String = format match {
    case "png"  => MediaCodec.pngIssue(b).getOrElse("ok")
    case "jpeg" => MediaCodec.jpegIssue(b).getOrElse("ok")
    case _ => MediaCodec.wavIssue(b).getOrElse {
      val (_, _, bits, _) = MediaCodec.parseWav(b)
      if (DecodableDepths.contains(bits)) "ok" else "undecodable_depth"
    }
  }

  case class QuarantinedMedia(media_id: Long, format: String,
      reason: String, n_bytes: Long)

  /** The dead-letter variant of [[decodeFeatures]]: route every row to
    * (good, quarantined) instead of mixing sentinel rows into the good
    * relation. At 100-TB curation scale the quarantine relation is what
    * an operator actually wants from decode failures — a typed
    * parse-failure REASON per object, routed to its own sink, not a
    * -1 sentinel every downstream filter must know about. The split is
    * two narrow passes over the same scan (the classifier walks only
    * header bytes, so the repeated walk costs ~nothing next to the
    * payload decode); rows are PARTITIONED exactly (spec-pinned:
    * good ∪ quarantine = input, good ∩ quarantine = ∅). */
  def decodeRouted(media: Dataset[MediaRow])
      : (Dataset[DecodedMedia], Dataset[QuarantinedMedia]) = {
    import media.sparkSession.implicits._
    val good = decodeFeatures(
      media.filter(r => mediaIssue(r.format, r.media) == "ok"))
    val quarantined = media
      .map(r => QuarantinedMedia(r.media_id, r.format,
        mediaIssue(r.format, r.media), r.media.length.toLong))
      .filter(_.reason != "ok")
    (good, quarantined)
  }

  /** Compressed-audio media table: even doc_ids become MPEG-1 Layer III
    * streams (3–8 real frames, alternating padding bits so the frame
    * walk hops non-uniform lengths; parameters cycle the public bitrate/
    * rate tables), odd doc_ids become FLAC files (real bit-packed
    * STREAMINFO + the document's bytes standing in for the audio
    * frames, which metadata-level parse ignores). All parameters derive
    * from doc_id alone so the ORACLE recomputes them independently of
    * the byte-level parse — the [[decodableMediaTable]] contract. */
  def compressedMediaTable(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val k = id / 2
        if (id % 2 == 0) {
          val brIdx = 1 + (k % 14).toInt
          val rIdx = (k % 3).toInt
          val ch = 1 + (k % 2).toInt
          val n = 3 + (k % 6).toInt
          val bytes = (0 until n).flatMap(f => MediaCodec.mp3Frame(
            brIdx, rIdx, f % 2 == 1, ch, ((k + f) % 251).toByte)).toArray
          MediaRow(id, bytes, "mp3")
        } else {
          val rate = Seq(8000L, 16000L, 22050L, 44100L, 48000L)((k % 5).toInt)
          val bits = Seq(8L, 16L, 24L)((k % 3).toInt)
          val total = 4096L * (1 + k % 10000)
          MediaRow(id, MediaCodec.flacHeader(rate, 1 + k % 2, bits, total)
            ++ text.getBytes("UTF-8"), "flac")
        }
    }
  }

  /** One parsed compressed-audio row with its DECLARED expectation —
    * the fixture analog of [[QuarantineFixture]]'s third element, wide
    * enough to also declare the ok rows' parsed parameters. */
  case class CompressedDecl(media_id: Long, format: String, issue: String,
      sample_rate: Long, channels: Long, bits_per_sample: Long,
      bitrate_kbps: Long, n_frames: Long, total_samples: Long,
      bytes: Array[Byte])

  /** Malformed/edge fixture for q80 (ids disjoint from the corpus):
    * every parse-failure class of both formats plus the VBR case the
    * organic constant-bitrate corpus can't exercise (two frames at
    * 64/128 kbps: the declared 106 kbps is the frame-length-weighted
    * floor ⌊(64·208 + 128·417)/625⌋ — a parser that reads only the
    * first header or averages unweighted lands elsewhere). */
  val CompressedFixture: Seq[CompressedDecl] = {
    import MediaCodec._
    def cat(fs: Array[Byte]*): Array[Byte] = fs.flatten.toArray
    val okMp3 = cat(mp3Frame(9, 0, false, 2, 7), mp3Frame(9, 0, true, 2, 8))
    val okFlac = flacHeader(96000, 2, 24, 123456789L) ++
      "flac fixture audio bytes".getBytes("US-ASCII")
    def mut(b: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val c = b.clone(); f(c); c
    }
    val s = -1L
    Seq(
      CompressedDecl(6000000L, "mp3", "ok", 44100, 2, s, 128, 2, 2304,
        okMp3),
      CompressedDecl(6000001L, "mp3", "vbr_ok", s, s, s, s, s, s, cat(
        mp3Frame(5, 0, false, 1, 1), mp3Frame(9, 0, false, 1, 2))),
      CompressedDecl(6000002L, "mp3", "bad_sync", s, s, s, s, s, s,
        mut(okMp3)(_(0) = 0x00)),
      // frame 2's bitrate index -> 15 (frame 1 is 417 B, so frame 2's
      // parameter byte sits at 417+2): the walk must validate EVERY hop
      CompressedDecl(6000003L, "mp3", "bad_bitrate", s, s, s, s, s, s,
        mut(okMp3)(_(419) = 0xf0.toByte)),
      CompressedDecl(6000004L, "mp3", "bad_samplerate", s, s, s, s, s, s,
        mut(okMp3)(_(2) = (9 << 4 | 3 << 2).toByte)),
      CompressedDecl(6000005L, "mp3", "truncated_frame", s, s, s, s, s, s,
        okMp3.dropRight(10)),
      CompressedDecl(6000006L, "mp3", "truncated_frame", s, s, s, s, s, s,
        okMp3.take(3)),
      CompressedDecl(6000007L, "mp3", "trailing_garbage", s, s, s, s, s, s,
        okMp3 ++ Array[Byte](1, 2, 3)),
      CompressedDecl(6000010L, "flac", "ok", 96000, 2, 24, s, s, 123456789L,
        okFlac),
      CompressedDecl(6000011L, "flac", "bad_magic", s, s, s, s, s, s,
        mut(okFlac)(_(0) = 'X'.toByte)),
      CompressedDecl(6000012L, "flac", "bad_block_type", s, s, s, s, s, s,
        mut(okFlac)(_(4) = 0x81.toByte)), // first block type 1, not STREAMINFO
      CompressedDecl(6000013L, "flac", "truncated_streaminfo", s, s, s, s, s, s,
        okFlac.take(30)),
      CompressedDecl(6000014L, "flac", "bad_sample_rate", s, s, s, s, s, s,
        flacHeader(0, 1, 16, 1000L)))
  }

  /** The VBR fixture row's declared parse (computed once here, used by
    * both the oracle VALUES and the spec): 64 kbps × 208 B + 128 kbps ×
    * 417 B → ⌊66688/625⌋ = 106 kbps weighted, 2 frames, mono 44100. */
  val VbrDecl: (Long, Long, Long, Long, Long) = (44100L, 1L, 106L, 2L, 2304L)

  /** q80: compressed-audio container audit over corpus media ∪ the
    * malformed fixture — per-stream parsed parameters (rate, channels,
    * depth, weighted bitrate, frame count, total samples) with a typed
    * issue class; 'ok' on an mp3 row certifies the full frame-chain
    * walk landed exactly on EOF. The metadata/frame level is the
    * honest scope without codec libraries: SAMPLE decode of compressed
    * audio would need a real decoder, and the scaladoc says so. */
  def qCompressedAudio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = compressedMediaTable(Tables.documents(s, d))
      .union(CompressedFixture
        .map(f => MediaRow(f.media_id, f.bytes, f.format)).toDS())
    media.map { r =>
      val n = r.media.length.toLong
      r.format match {
        case "mp3" => MediaCodec.mp3Core(r.media) match {
          case Right((rate, ch, frames, kbps)) =>
            (r.media_id, r.format, "ok", rate, ch, -1L, kbps, frames,
              frames * MediaCodec.Mp3SamplesPerFrame, n)
          case Left(issue) =>
            (r.media_id, r.format, issue, -1L, -1L, -1L, -1L, -1L, -1L, n)
        }
        case _ => MediaCodec.flacCore(r.media) match {
          case Right((rate, ch, bits, total)) =>
            (r.media_id, r.format, "ok", rate, ch, bits, -1L, -1L, total, n)
          case Left(issue) =>
            (r.media_id, r.format, issue, -1L, -1L, -1L, -1L, -1L, -1L, n)
        }
      }
    }.toDF("media_id", "format", "issue", "sample_rate", "channels",
      "bits_per_sample", "bitrate_kbps", "n_frames", "total_samples",
      "n_bytes")
  }

  /** The oracle: organic rows replay the generator's doc_id arithmetic
    * (parameters AND the byte total — n frames × ⌊144000·br/rate⌋ plus
    * ⌊n/2⌋ padding bytes for mp3, 42 + payload for flac) with zero
    * shared offsets with the parser; fixture rows replay their
    * declarations, the VBR row its hand-derived weighted bitrate. */
  val qCompressedAudioSql: String = {
    val fxRows = CompressedFixture.map { f =>
      val (issue, vals) =
        if (f.issue == "vbr_ok") ("ok",
          s"${VbrDecl._1}, ${VbrDecl._2}, -1, ${VbrDecl._3}, ${VbrDecl._4}, ${VbrDecl._5}")
        else (f.issue,
          s"${f.sample_rate}, ${f.channels}, ${f.bits_per_sample}, " +
            s"${f.bitrate_kbps}, ${f.n_frames}, ${f.total_samples}")
      s"(${f.media_id}, '${f.format}', '$issue', $vals, ${f.bytes.length})"
    }.mkString(",\n       |    ")
    s"""WITH mp3 AS (
       |  SELECT doc_id AS media_id, 'mp3' AS format, 'ok' AS issue,
       |         [44100, 48000, 32000][((doc_id // 2) % 3 + 1)::INT]::BIGINT AS sample_rate,
       |         (1 + (doc_id // 2) % 2)::BIGINT AS channels,
       |         (-1)::BIGINT AS bits_per_sample,
       |         [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
       |           [((doc_id // 2) % 14 + 1)::INT]::BIGINT AS bitrate_kbps,
       |         (3 + (doc_id // 2) % 6)::BIGINT AS n_frames,
       |         ((3 + (doc_id // 2) % 6) * 1152)::BIGINT AS total_samples
       |  FROM documents WHERE doc_id % 2 = 0),
       |mp3b AS (
       |  SELECT *, (n_frames * (144000 * bitrate_kbps // sample_rate)
       |             + n_frames // 2)::BIGINT AS n_bytes FROM mp3),
       |flac AS (
       |  SELECT doc_id AS media_id, 'flac' AS format, 'ok' AS issue,
       |         [8000, 16000, 22050, 44100, 48000][((doc_id // 2) % 5 + 1)::INT]::BIGINT AS sample_rate,
       |         (1 + (doc_id // 2) % 2)::BIGINT AS channels,
       |         [8, 16, 24][((doc_id // 2) % 3 + 1)::INT]::BIGINT AS bits_per_sample,
       |         (-1)::BIGINT AS bitrate_kbps, (-1)::BIGINT AS n_frames,
       |         (4096 * (1 + (doc_id // 2) % 10000))::BIGINT AS total_samples,
       |         (42 + octet_length(encode(text)))::BIGINT AS n_bytes
       |  FROM documents WHERE doc_id % 2 = 1),
       |fx(media_id, format, issue, sample_rate, channels, bits_per_sample,
       |   bitrate_kbps, n_frames, total_samples, n_bytes) AS (VALUES
       |    $fxRows),
       |allrows AS (
       |  SELECT * FROM mp3b UNION ALL SELECT * FROM flac
       |  UNION ALL
       |  SELECT media_id, format, issue, sample_rate::BIGINT, channels::BIGINT,
       |         bits_per_sample::BIGINT, bitrate_kbps::BIGINT, n_frames::BIGINT,
       |         total_samples::BIGINT, n_bytes::BIGINT FROM fx)
       |SELECT * FROM allrows ORDER BY media_id""".stripMargin
  }

  // ---- SparkEntry wiring -------------------------------------------------

  /** Malformed-media fixture for q79 (ids disjoint from the corpus):
    * every quarantine class of every format, each blob a real header
    * surgically corrupted ONE way, plus one good row per format. The
    * third element is the DECLARED failure class — the engine derives
    * its own from the bytes, the oracle replays the declaration, so a
    * classifier drift hash-fails. */
  val QuarantineFixture: Seq[(Long, String, String, Array[Byte])] = {
    val payload = "quarantine fixture payload bytes 0123456789abc"
      .getBytes("US-ASCII") // 46 bytes, even: the no_data walk's chunk
                            // padding then lands exactly at end-of-file
    def png = MediaCodec.pngHeader(20, 10) ++ payload
    def jpg = MediaCodec.jpegHeader(20, 10) ++ payload
    def wav(bits: Long) =
      MediaCodec.wavHeader(16000, 1, bits, payload.length.toLong) ++ payload
    def mut(b: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val c = b.clone(); f(c); c
    }
    Seq(
      (5000000L, "png", "ok", png),
      (5000001L, "png", "truncated_header", png.take(20)),
      (5000002L, "png", "bad_signature", mut(png)(_(0) = 'X'.toByte)),
      (5000003L, "png", "bad_ihdr", mut(png)(_(12) = 'J'.toByte)),
      (5000010L, "jpeg", "ok", jpg),
      (5000011L, "jpeg", "bad_signature", jpg.drop(1)),
      // APP0 length bytes (offset 4-5) -> 0xffff: segment overruns
      (5000012L, "jpeg", "bad_segment",
        mut(jpg) { c => c(4) = 0xff.toByte; c(5) = 0xff.toByte }),
      // SOI + APP0 then a non-marker payload byte: the walk stops with
      // no SOF frame header seen
      (5000013L, "jpeg", "no_sof", jpg.take(20) ++ payload),
      (5000020L, "wav", "ok", wav(16)),
      (5000021L, "wav", "bad_container",
        mut(wav(16))(_(11) = 'X'.toByte)), // WAVE -> WAVX
      // data chunk size (offset 40-43 le32) claims more than the file
      (5000022L, "wav", "bad_chunk", mut(wav(16))(_(40) = 0xff.toByte)),
      // fmt chunk size (offset 16-19 le32) -> 8: shorter than a fmt
      (5000023L, "wav", "bad_fmt", mut(wav(16))(_(16) = 8.toByte)),
      // RIFF/WAVE then data with no fmt chunk before it
      (5000024L, "wav", "missing_fmt",
        "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
          "WAVE".getBytes("US-ASCII") ++ {
            val hdr = java.nio.ByteBuffer.allocate(8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            hdr.put("data".getBytes("US-ASCII")).putInt(payload.length)
            hdr.array()
          } ++ payload),
      // the data tag renamed: the walk runs off the end of the file
      (5000025L, "wav", "no_data",
        mut(wav(16)) { c => c(36) = 'l'.toByte; c(37) = 'a'.toByte
          c(38) = 't'.toByte; c(39) = 'e'.toByte }),
      // structurally valid, but fmt declares 12-bit PCM
      (5000026L, "wav", "undecodable_depth", wav(12)))
  }

  /** q79: the quarantine audit over corpus media ∪ the malformed
    * fixture — per (format, failure class) row and byte totals, the
    * relation a curation run's dead-letter dashboard reads. Organic
    * generator media all decode ("ok" rows, data-dependent counts);
    * the fixture populates every failure class. */
  def qMediaQuarantine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = decodableMediaTable(Tables.documents(s, d))
      .union(QuarantineFixture
        .map { case (id, fmt, _, bytes) => MediaRow(id, bytes, fmt) }
        .toDS())
    media
      .map(r => (r.format, mediaIssue(r.format, r.media),
        r.media.length.toLong))
      .toDF("format", "reason", "n_bytes")
      .groupBy("format", "reason")
      .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("sum_bytes"))
  }

  /** The oracle: organic rows are 'ok' by construction (generator
    * header size + payload bytes), fixture rows replay their DECLARED
    * class and real blob length — agreement pins the classifier's
    * decision AND the byte accounting for every failure class. */
  val qMediaQuarantineSql: String = {
    val fxRows = QuarantineFixture.map { case (_, fmt, reason, bytes) =>
      s"('$fmt', '$reason', ${bytes.length})"
    }.mkString(", ")
    s"""WITH organic AS (
       |  SELECT ['png', 'jpeg', 'wav'][(doc_id % 3 + 1)::INT] AS format,
       |         'ok' AS reason,
       |         octet_length(encode(text))
       |           + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END
       |           AS n_bytes
       |  FROM documents),
       |fx(format, reason, n_bytes) AS (VALUES $fxRows),
       |allrows AS (SELECT * FROM organic UNION ALL SELECT * FROM fx)
       |SELECT format, reason, COUNT(*)::BIGINT AS n_media,
       |       SUM(n_bytes)::BIGINT AS sum_bytes
       |FROM allrows GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q23: the media-feature projection every modality shares (id, size,
    * format, image dims, payload brightness, payload hash) — since r17
    * a straight projection of the REAL decode ([[decodeFeatures]]; wav
    * rows read the image sentinel -1×-1), not a stub path. */
  def qMediaFeatures(s: SparkSession, d: String): DataFrame = {
    decodeFeatures(decodableMediaTable(Tables.documents(s, d)))
      .toDF()
      .select(col("media_id"), col("n_bytes"), col("format"),
        col("width"), col("height"), col("brightness"), col("content_hash"))
  }

  /** Projection of [[qMediaDecodeSql]]'s independent re-derivation
    * (dims from media_id, brightness over the UTF-8 payload BYTES —
    * `bytes(i) & 0xff` ≡ hex-pair parse; a per-character
    * `unicode(text[i])` formulation would only agree on ASCII). */
  val qMediaFeaturesSql: String =
    """SELECT doc_id AS media_id,
      |       CAST(octet_length(encode(text))
      |            + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END
      |            AS BIGINT) AS n_bytes,
      |       ['png', 'jpeg', 'wav'][(doc_id % 3 + 1)::INT] AS format,
      |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
      |                 ELSE 16 + doc_id % 624 END AS BIGINT) AS width,
      |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
      |                 ELSE 16 + doc_id % 464 END AS BIGINT) AS height,
      |       list_sum(list_transform(range(0, octet_length(encode(text))),
      |                               i -> ('0x' || substr(hex(encode(text)), (i*2+1)::INT, 2))::INT))::DOUBLE
      |         / octet_length(encode(text)) AS brightness,
      |       md5(text) AS content_hash
      |FROM documents ORDER BY media_id""".stripMargin

  def qMediaDecode(s: SparkSession, d: String): DataFrame = {
    decodeFeatures(decodableMediaTable(Tables.documents(s, d)))
      .toDF()
  }

  /** The oracle never parses bytes: it re-derives width/height (images)
    * and sample_rate/channels/bits (wav) from media_id — the generator's
    * independent formulas — and payload brightness/hash from the text,
    * so a parser reading the wrong offset, endianness, or chunk fails
    * the hash even though the generator and parser live in the same
    * file. Header sizes (33-byte PNG, 39-byte JPEG, 44-byte WAV) are
    * the generator's fixed layouts. */
  val qMediaDecodeSql: String =
    """SELECT doc_id AS media_id,
      |       CAST(octet_length(encode(text))
      |            + CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END
      |            AS BIGINT) AS n_bytes,
      |       ['png', 'jpeg', 'wav'][(doc_id % 3 + 1)::INT] AS format,
      |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
      |                 ELSE 16 + doc_id % 624 END AS BIGINT) AS width,
      |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
      |                 ELSE 16 + doc_id % 464 END AS BIGINT) AS height,
      |       CAST(CASE WHEN doc_id % 3 = 2
      |                 THEN [8000, 16000, 22050, 44100, 48000][(doc_id % 5 + 1)::INT]
      |                 ELSE -1 END AS BIGINT) AS sample_rate,
      |       CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2
      |                 ELSE -1 END AS BIGINT) AS channels,
      |       CAST(CASE WHEN doc_id % 3 = 2
      |                 THEN [8, 16, 24, 32][(doc_id % 4 + 1)::INT]
      |                 ELSE -1 END AS BIGINT) AS bits_per_sample,
      |       list_sum(list_transform(range(0, octet_length(encode(text))),
      |                               i -> ('0x' || substr(hex(encode(text)), (i*2+1)::INT, 2))::INT))::DOUBLE
      |         / octet_length(encode(text)) AS brightness,
      |       md5(text) AS content_hash
      |FROM documents ORDER BY media_id""".stripMargin

  def qFrameSample(s: SparkSession, d: String): DataFrame =
    sampleFrames(mediaTable(Tables.documents(s, d)))

  /** q75: real PCM sample statistics over every wav row's payload. */
  def qPcmStats(s: SparkSession, d: String): DataFrame = {
    pcmStats(decodableMediaTable(Tables.documents(s, d)))
      .toDF()
  }

  /** The oracle re-derives the STATISTICS FROM THE PAYLOAD BYTES
    * independently of the engine's chunk walk: wav rows are
    * doc_id % 3 = 2, the declared depth replays the generator's
    * media_id formula, the payload is the document's UTF-8 bytes
    * (44-byte canonical header skipped by construction, not by
    * parsing), and each sample is reassembled from its little-endian
    * hex pairs with the same 8-bit-unsigned / two's-complement rule.
    * DuckDB's SUM over BIGINT promotes to HUGEINT, so the sum of
    * squares is exact like the engine's int128 accumulator; both sides
    * then perform the identical correctly-rounded double ops. The ONE
    * subtlety (found by a 1-ulp hash mismatch at sf0.1): DuckDB's
    * direct HUGEINT→DOUBLE cast rounds twice (hi·2⁶⁴ + lo as floats),
    * while the engine's BigInteger conversion rounds once — so the
    * oracle routes the conversion through the exact decimal string
    * (`::VARCHAR::DOUBLE`, correctly-rounded strtod), restoring
    * single-rounding on both sides. */
  val qPcmStatsSql: String = {
    // byte j of the payload as a BIGINT (hex pairs, 1-based substr),
    // TOTAL: out-of-range reads 0 so the unused high-byte terms of
    // narrow widths never parse '0x' + empty (eager CASE evaluation in
    // a vectorized engine must not be able to error on them)
    def b(j: String) =
      s"(CASE WHEN ($j) < nb THEN ('0x' || substr(hx, (($j)*2+1)::INT, 2))::BIGINT ELSE 0 END)"
    // little-endian raw value of sample k at width w (exact BIGINT)
    val raw = s"${b("k*w")} + CASE WHEN w >= 2 THEN 256 * ${b("k*w+1")} ELSE 0 END" +
      s" + CASE WHEN w >= 3 THEN 65536 * ${b("k*w+2")} ELSE 0 END" +
      s" + CASE WHEN w >= 4 THEN 16777216 * ${b("k*w+3")} ELSE 0 END"
    val half = "CASE w WHEN 2 THEN 32768 WHEN 3 THEN 8388608 ELSE 2147483648 END"
    val full = "CASE w WHEN 2 THEN 65536 WHEN 3 THEN 16777216 ELSE 4294967296 END"
    s"""WITH wavs AS (
       |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS nb,
       |         [1, 2, 3, 4][(doc_id % 4 + 1)::INT] AS w,
       |         [8000, 16000, 22050, 44100, 48000][(doc_id % 5 + 1)::INT] AS rate,
       |         1 + doc_id % 2 AS ch,
       |         [8, 16, 24, 32][(doc_id % 4 + 1)::INT] AS bits
       |  FROM documents WHERE doc_id % 3 = 2),
       |smp AS (
       |  SELECT media_id, rate, ch, bits, nb // w AS n_samples,
       |         list_transform(range(0, nb // w), k ->
       |           CASE WHEN w = 1 THEN ${b("k*w")} - 128
       |                WHEN ($raw) >= $half THEN ($raw) - $full
       |                ELSE ($raw) END) AS samples
       |  FROM wavs)
       |SELECT media_id,
       |       CAST(rate AS BIGINT) AS sample_rate,
       |       CAST(ch AS BIGINT) AS channels,
       |       CAST(bits AS BIGINT) AS bits_per_sample,
       |       CAST(n_samples AS BIGINT) AS n_samples,
       |       CASE WHEN n_samples = 0 THEN 0.0
       |            ELSE (list_sum(samples)::VARCHAR)::DOUBLE / n_samples
       |            END AS mean_amp,
       |       CAST(CASE WHEN n_samples = 0 THEN 0
       |                 ELSE list_max(list_transform(samples, s -> abs(s)))
       |            END AS BIGINT) AS peak_abs,
       |       CASE WHEN n_samples = 0 THEN 0.0
       |            ELSE sqrt((list_sum(list_transform(samples, s -> s * s))
       |                       ::VARCHAR)::DOUBLE
       |                      / n_samples) END AS rms
       |FROM smp ORDER BY media_id""".stripMargin
  }

  /** Chunking here is CHAR-indexed (`substr`/`len`) while Spark chunks
    * the binary BYTE-wise; DuckDB cannot md5 a blob slice, so the oracle
    * relies on the fixture contract that document text is pure ASCII
    * (TESTDATA.md — one byte per char makes the two identical). The
    * byte-exact q23 brightness above has no such dependency. */
  val qFrameSampleSql: String =
    """WITH idx AS (
      |  SELECT doc_id AS media_id, text,
      |         unnest(range(0, ((len(text) - 1) // 64) + 1)) AS i
      |  FROM documents),
      |f AS (
      |  SELECT media_id, i AS frame_idx,
      |         substr(text, (i * 64 + 1)::INT, 64) AS chunk
      |  FROM idx WHERE i % 4 = 0)
      |SELECT media_id, frame_idx, md5(chunk) AS frame_hash,
      |       CAST(len(chunk) AS BIGINT) AS frame_bytes
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // ---- q96: FLAC CONSTANT/VERBATIM sample decode -------------------------

  /** q96 — compressed-audio SAMPLE decode, shrinking the standing
    * honest gap: every document becomes a real two-frame FLAC stream
    * ([[MediaCodec.flacWithFrames]] — CONSTANT + VERBATIM subframes,
    * real CRC-8/CRC-16, bit-packed per the public spec), decoded back
    * with the generic bit-reader walk ([[MediaCodec.flacSamples]] —
    * frame sync, blocksize/depth codes, UTF-8-coded frame numbers,
    * both CRCs verified; construction and parse share no offsets),
    * then reduced to q75's PCM statistics. FIXED/LPC predictors and
    * decorrelated stereo remain the named sentinel (spec-pinned) —
    * that is the codec-library line. Parameters in the OUTPUT come
    * from the decode, not the generator. An empty document has no
    * payload to encode and gets the same sentinel row as an
    * undecodable stream. */
  def flacPcmStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val decoded =
          if (payload.isEmpty) Left("empty_payload")
          else MediaCodec.flacSamples(MediaCodec.flacWithFrames(id, payload))
        decoded match {
          case Left(_) =>
            PcmStats(id, -1L, -1L, -1L, -1L, 0.0, 0L, 0.0)
          case Right((rate, ch, bits, samples)) =>
            val n = samples.length.toLong
            var sum = 0L; var peak = 0L; var sumSq = 0L
            var k = 0
            while (k < samples.length) {
              val s = samples(k).toLong
              sum += s
              val a = math.abs(s)
              if (a > peak) peak = a
              sumSq += s * s // 16-bit samples: n * 2^30 fits int64 to n≈2^33
              k += 1
            }
            val (mean, rms) =
              if (n == 0) (0.0, 0.0)
              else (sum.toDouble / n, math.sqrt(sumSq.toDouble / n))
            PcmStats(id, rate, ch, bits, n, mean, peak, rms)
        }
    }.toDF()
  }

  def qFlacPcmStats(s: SparkSession, d: String): DataFrame =
    flacPcmStats(Tables.documents(s, d))

  /** Oracle: every sample re-derived from the DOCUMENT TEXT alone —
    * the constant frame from the doc_id arithmetic, the verbatim frame
    * from the payload's big-endian hex pairs with the wrap rule — then
    * the identical exact-int statistics (sums ≤ 2^53, so the ::DOUBLE
    * casts are exact; each later float op singly rounded on both
    * sides, the q75 contract). Empty documents get the engine's
    * sentinel row. */
  val qFlacPcmStatsSql: String = {
    def b(j: String) =
      s"('0x' || substr(hx, (($j)*2+1)::INT, 2))::BIGINT"
    val raw = s"256 * ${b("(2*k) % nb")} + ${b("(2*k+1) % nb")}"
    s"""WITH f AS (
       |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS nb,
       |         (doc_id * 31) % 65536 - 32768 AS cval
       |  FROM documents),
       |v AS (
       |  SELECT media_id, cval,
       |         list_transform(range(0, 192), k ->
       |           CASE WHEN ($raw) >= 32768 THEN ($raw) - 65536
       |                ELSE ($raw) END) AS verb
       |  FROM f WHERE nb > 0)
       |SELECT media_id,
       |       CAST(44100 AS BIGINT) AS sample_rate,
       |       CAST(1 AS BIGINT) AS channels,
       |       CAST(16 AS BIGINT) AS bits_per_sample,
       |       CAST(384 AS BIGINT) AS n_samples,
       |       (192 * cval + list_sum(verb))::DOUBLE / 384 AS mean_amp,
       |       CAST(GREATEST(abs(cval),
       |                     list_max(list_transform(verb, s -> abs(s))))
       |            AS BIGINT) AS peak_abs,
       |       sqrt((192 * cval * cval
       |             + list_sum(list_transform(verb, s -> s * s)))::DOUBLE
       |            / 384) AS rms
       |FROM v
       |UNION ALL
       |SELECT media_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS DOUBLE),
       |       CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
       |FROM f WHERE nb = 0
       |ORDER BY media_id""".stripMargin
  }
}
