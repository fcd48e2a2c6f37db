package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaCodec

/** The header-level media decoder (q66): real PNG IHDR / JPEG SOF byte
  * parsing, pinned on hand-crafted headers — including layouts the
  * fixture generator never produces (extra segments, progressive SOF2,
  * truncation, corrupt signatures), so the parser is verified as a
  * decoder, not as the generator's mirror image. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("PNG IHDR parse: round-trip, hand-built header, and malformed sentinels") {
    assert(MediaCodec.parsePng(MediaCodec.pngHeader(640, 480)) == (640L, 480L, 33))
    // hand-built (not via pngHeader): signature + IHDR with w=1, h=16777216+2
    // exercising all four width/height bytes big-endian
    val b = java.nio.ByteBuffer.allocate(33)
    b.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(1).putInt(0x01000002)
    b.put(Array[Byte](8, 2, 0, 0, 0)).putInt(0) // CRC not validated
    assert(MediaCodec.parsePng(b.array()) == (1L, 0x01000002L, 33))
    // corrupt signature, wrong chunk tag, truncation → sentinel, no throw
    val badSig = b.array().clone(); badSig(0) = 0x88.toByte
    assert(MediaCodec.parsePng(badSig) == (-1L, -1L, 0))
    val badTag = b.array().clone(); badTag(12) = 'X'
    assert(MediaCodec.parsePng(badTag) == (-1L, -1L, 0))
    assert(MediaCodec.parsePng(b.array().take(20)) == (-1L, -1L, 0))
    assert(MediaCodec.parsePng(Array.empty[Byte]) == (-1L, -1L, 0))
  }

  test("JPEG SOF parse: marker scan across segments, SOF2, and malformed sentinels") {
    assert(MediaCodec.parseJpeg(MediaCodec.jpegHeader(800, 600)) == (800L, 600L, 39))
    // a layout the generator never emits: SOI + COM segment + DHT (C4,
    // which must be SKIPPED, not read as a frame) + progressive SOF2
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        (((payload.length + 2) >> 8) & 0xff).toByte,
        ((payload.length + 2) & 0xff).toByte) ++ payload
    val sof2 = Array[Byte](8, 0x02, 0x00, 0x01, 0x00, 1, 0x01, 0x11, 0x00)
    val jpeg = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xfe, "a comment".getBytes("US-ASCII")) ++
      seg(0xc4, Array.fill[Byte](5)(0x11)) ++
      seg(0xc2, sof2) ++ Array[Byte](1, 2, 3)
    // height 0x0200 = 512, width 0x0100 = 256; offset = end of SOF2 seg
    assert(MediaCodec.parseJpeg(jpeg) == (256L, 512L, jpeg.length - 3))
    // malformed: no SOI, truncated segment length, zero-length segment
    assert(MediaCodec.parseJpeg(Array[Byte](0x12, 0x34)) == (-1L, -1L, 0))
    val truncated = MediaCodec.jpegHeader(8, 8).take(10)
    assert(MediaCodec.parseJpeg(truncated) == (-1L, -1L, 0))
    val badLen = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xfe.toByte, 0x00.toByte, 0x01.toByte)
    assert(MediaCodec.parseJpeg(badLen) == (-1L, -1L, 0))
  }

  test("WAV RIFF/fmt parse: round-trip, extra chunks, odd padding, malformed sentinels") {
    val bad = (-1L, -1L, -1L, 0)
    // round-trip through the generator's canonical 44-byte header
    assert(MediaCodec.parseWav(MediaCodec.wavHeader(44100, 2, 16, 10)
      ++ Array.fill[Byte](10)(7)) == (44100L, 2L, 16L, 44))
    // hand-built layout the generator never emits: RIFF + JUNK chunk of
    // ODD size (chunks pad to even — a parser that forgets the pad byte
    // derails here) + fmt + LIST + data
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + (payload.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array()
    }
    val fmt16 = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8).array()
    val body = chunk("JUNK", Array.fill[Byte](5)(0x6a)) ++
      chunk("fmt ", fmt16) ++
      chunk("LIST", Array.fill[Byte](4)(0x10)) ++
      chunk("data", Array[Byte](1, 2, 3))
    val riff = java.nio.ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(body).array()
    // payload offset: 12 RIFF/WAVE + JUNK (8+5+1 pad) + fmt (8+16) +
    // LIST (8+4) + 8 data header = 70 (the 3 data bytes then a pad byte)
    assert(MediaCodec.parseWav(riff) == (8000L, 1L, 8L, 70))
    // malformed: wrong magic, truncated mid-chunk, fmt too short,
    // data before fmt, chunk size past the buffer — sentinel, no throw
    val badMagic = riff.clone(); badMagic(8) = 'X'
    assert(MediaCodec.parseWav(badMagic) == bad)
    assert(MediaCodec.parseWav(riff.take(30)) == bad)
    val shortFmt = java.nio.ByteBuffer.allocate(12 + 8 + 14 + 8 + 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(14)
      .put(Array.fill[Byte](14)(0))
      .put("data".getBytes("US-ASCII")).putInt(2).array()
    assert(MediaCodec.parseWav(shortFmt ++ Array[Byte](1, 2)) == bad)
    val dataFirst = java.nio.ByteBuffer.allocate(12 + 8 + 2 + 8 + 16 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(100)
      .put("WAVE".getBytes("US-ASCII"))
      .put("data".getBytes("US-ASCII")).putInt(2).put(Array[Byte](1, 2))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).put(fmt16.take(8)).array()
    assert(MediaCodec.parseWav(dataFirst) == bad)
    val overrun = riff.clone()
    overrun(16) = 0x7f // fmt chunk claims a size past the buffer
    assert(MediaCodec.parseWav(overrun) == bad)
    assert(MediaCodec.parseWav(Array.empty[Byte]) == bad)
  }

  test("pcmStats: hand-built PCM at every depth, sign rules, tails, overflow, sentinel") {
    import Multimodal.{MediaRow, PcmStats}
    val s = spark
    import s.implicits._
    def wav(id: Long, bits: Long, payload: Array[Byte], ch: Long = 1) =
      MediaRow(id, MediaCodec.wavHeader(8000, ch, bits, payload.length.toLong)
        ++ payload, "wav")
    val rows = Seq(
      // 16-bit: full signed range incl. both extremes, little-endian
      // samples [1000, -1000, 32767, -32768, 0]
      wav(1, 16, Array[Byte](0xe8.toByte, 0x03, 0x18, 0xfc.toByte,
        0xff.toByte, 0x7f, 0x00, 0x80.toByte, 0x00, 0x00)),
      // 8-bit is UNSIGNED with a 128 midpoint: bytes [0,128,255] ->
      // samples [-128, 0, 127]
      wav(2, 8, Array[Byte](0x00, 0x80.toByte, 0xff.toByte)),
      // 24-bit signed extremes: 0x800000 -> -8388608, 0x7fffff -> 8388607
      wav(3, 24, Array[Byte](0x00, 0x00, 0x80.toByte,
        0xff.toByte, 0xff.toByte, 0x7f)),
      // odd tail: 5 bytes at 16-bit = 2 samples, last byte ignored
      wav(4, 16, Array[Byte](0x01, 0x00, 0x02, 0x00, 0x7f)),
      // 32-bit x5 at INT_MIN: each square is 2^62, the SUM is 5*2^62 —
      // past int64 — so this pins the int128 accumulator; rms = 2^31
      // exactly, mean = -2^31
      wav(5, 32, Array.fill(5)(Array[Byte](0, 0, 0, 0x80.toByte)).flatten),
      // empty payload: zero samples, defined zero stats
      wav(6, 16, Array.empty[Byte]),
      // malformed wav -> filterable sentinel, not a throw
      MediaRow(7, Array[Byte]('R', 'I', 'F', 'F', 1, 2, 3), "wav"),
      // structurally valid RIFF whose fmt declares an undecodable width:
      // bits=0 would divide by zero, bits=12 would decode garbage —
      // sentinel, not a thrown task (review finding r17)
      MediaRow(9007, MediaCodec.wavHeader(8000, 1, 0, 4)
        ++ Array[Byte](1, 2, 3, 4), "wav"),
      MediaRow(9012, MediaCodec.wavHeader(8000, 1, 12, 4)
        ++ Array[Byte](1, 2, 3, 4), "wav"),
      // non-wav rows are not this operator's domain
      MediaRow(8, MediaCodec.pngHeader(4, 4), "png"))
    val out = Multimodal.pcmStats(rows.toDS()).collect()
      .map(p => p.media_id -> p).toMap
    assert(!out.contains(8L), "png row leaked into pcmStats")
    def ref(samples: Seq[Long]): (Double, Long, Double) = {
      val n = samples.size
      val sumSq = samples.map(x => BigInt(x) * BigInt(x)).sum
      (samples.sum.toDouble / n, samples.map(math.abs).max,
        math.sqrt(sumSq.toDouble / n))
    }
    def check(id: Long, bits: Long, samples: Seq[Long]): Unit = {
      val (mean, peak, rms) = ref(samples)
      val p = out(id)
      assert(p == PcmStats(id, 8000, 1, bits, samples.size, mean, peak, rms),
        s"media $id: $p")
    }
    check(1, 16, Seq(1000, -1000, 32767, -32768, 0))
    check(2, 8, Seq(-128, 0, 127))
    check(3, 24, Seq(-8388608, 8388607))
    check(4, 16, Seq(1, 2))
    check(5, 32, Seq.fill(5)(-2147483648L))
    // the 32-bit case's exact closed forms (belt and braces past ref)
    assert(out(5L).rms == 2147483648.0 && out(5L).mean_amp == -2147483648.0)
    assert(out(6L) == PcmStats(6, 8000, 1, 16, 0, 0.0, 0, 0.0))
    assert(out(7L) == PcmStats(7, -1, -1, -1, -1, 0.0, 0, 0.0))
    Seq(9007L, 9012L).foreach { id =>
      assert(out(id) == PcmStats(id, -1, -1, -1, -1, 0.0, 0, 0.0),
        s"undecodable declared width must sentinel: ${out(id)}")
    }
  }

  test("decodeFeatures parses generator headers back and isolates the payload") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Multimodal.decodeFeatures(Multimodal.decodableMediaTable(docs))
      .toDF().collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    docs.select(col("doc_id"), col("text")).collect().foreach { d =>
      val (id, text) = (d.getLong(0), d.getString(1))
      val r = byId(id)
      val fmt = r.getString(2)
      val (w, h) = (r.getLong(3), r.getLong(4))
      val (rate, ch, bits) = (r.getLong(5), r.getLong(6), r.getLong(7))
      if (fmt == "wav") {
        assert(w == -1L && h == -1L, s"wav row carries image dims for $id")
        assert(rate == Seq(8000L, 16000L, 22050L, 44100L, 48000L)((id % 5).toInt)
          && ch == 1L + id % 2
          && bits == Seq(8L, 16L, 24L, 32L)((id % 4).toInt),
          s"audio params wrong for $id: ($rate, $ch, $bits)")
      } else {
        assert(w == 16L + id % 624 && h == 16L + id % 464, s"dims wrong for $id/$fmt")
        assert(rate == -1L && ch == -1L && bits == -1L,
          s"image row carries audio params for $id/$fmt")
      }
      // payload hash excludes the header: equals md5 of the raw text bytes
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(9) == md5, s"payload not isolated for $id/$fmt")
    }
  }

  test("decodeRouted partitions exactly; every quarantine class classified as declared") {
    import spark.implicits._
    // the classifier agrees with the fixture's declared class per row
    Multimodal.QuarantineFixture.foreach { case (id, fmt, declared, bytes) =>
      val got = Multimodal.mediaIssue(fmt, bytes)
      assert(got == declared, s"fixture $id/$fmt: classified $got, declared $declared")
    }
    // routing is an exact partition of the input: good ∪ quarantined =
    // input ids, disjoint; good rows decode non-sentinel, quarantined
    // rows never reach the good relation
    val media = Multimodal.decodableMediaTable(
      graft.engine.Tables.documents(spark, "/root/testdata/sf0.001"))
      .union(Multimodal.QuarantineFixture
        .map { case (id, fmt, _, bytes) => Multimodal.MediaRow(id, bytes, fmt) }
        .toDS())
    val inputIds = media.collect().map(_.media_id).toSet
    val (good, quarantined) = Multimodal.decodeRouted(media)
    val goodRows = good.collect()
    val qRows = quarantined.collect()
    val goodIds = goodRows.map(_.media_id).toSet
    val qIds = qRows.map(_.media_id).toSet
    assert(goodIds.intersect(qIds).isEmpty, "a row routed to BOTH relations")
    assert(goodIds ++ qIds == inputIds,
      s"routing dropped rows: ${inputIds -- goodIds -- qIds}")
    assert(qIds == Multimodal.QuarantineFixture
      .collect { case (id, _, r, _) if r != "ok" => id }.toSet,
      "quarantine set != the planted malformed rows")
    // the good relation is sentinel-free by construction now
    goodRows.foreach { r =>
      val parsed = if (r.format == "wav") r.sample_rate else r.width
      assert(parsed >= 0, s"sentinel row ${r.media_id} leaked into good")
    }
    // per-class reasons survive into the quarantine relation
    val reasonsById = qRows.map(q => q.media_id -> q.reason).toMap
    Multimodal.QuarantineFixture.foreach { case (id, _, declared, _) =>
      if (declared != "ok") assert(reasonsById(id) == declared)
    }
  }

  test("MP3 frame walk: hand-built chains, VBR weighted bitrate, every fixture class") {
    import MediaCodec._
    // hand-built 3-frame chain with alternating padding: the walk must
    // hop 417/418/417 and land exactly on EOF
    val chain = mp3Frame(9, 0, false, 2, 1) ++ mp3Frame(9, 0, true, 2, 2) ++
      mp3Frame(9, 0, false, 2, 3)
    assert(chain.length == 417 + 418 + 417)
    assert(mp3Core(chain) == Right((44100L, 2L, 3L, 128L)))
    // mono mode bit; a different rate changes the frame length
    assert(mp3Core(mp3Frame(1, 1, false, 1, 0)) == Right((48000L, 1L, 1L, 32L)))
    assert(mp3Frame(1, 1, false, 1, 0).length == 144 * 32000 / 48000)
    // VBR: weighted mean, not first-frame and not unweighted mean
    // (64·208 + 128·417)/625 = 106.7 -> 106; unweighted would be 96
    val vbr = mp3Frame(5, 0, false, 1, 1) ++ mp3Frame(9, 0, false, 1, 2)
    assert(mp3Core(vbr) == Right((44100L, 1L, 2L, 106L)))
    // one byte short of a full final frame is truncated, one byte past
    // a clean chain is trailing garbage: "ok" certifies the whole walk
    assert(mp3Issue(chain.dropRight(1)).contains("truncated_frame"))
    assert(mp3Issue(chain ++ Array[Byte](0)).contains("trailing_garbage"))
    assert(mp3Issue(Array.empty[Byte]).contains("truncated_frame"))
    // every fixture row classifies as declared (vbr_ok parses clean)
    Multimodal.CompressedFixture.filter(_.format == "mp3").foreach { f =>
      val got = mp3Core(f.bytes)
      val expected = if (f.issue == "vbr_ok" || f.issue == "ok") None else Some(f.issue)
      assert(got.left.toOption == expected,
        s"fixture ${f.media_id}: parsed $got, declared ${f.issue}")
    }
  }

  test("FLAC STREAMINFO: bit-unpack round-trip at field boundaries, fixture classes") {
    import MediaCodec._
    // round-trip across the packed 64-bit field's boundaries: max 20-bit
    // rate, 8 channels (3-bit), 32-bit depth (5-bit), max 36-bit total
    for ((r, c, b, t) <- Seq((96000L, 2L, 24L, 123456789L),
        (1048575L, 8L, 32L, (1L << 36) - 1), (1L, 1L, 1L, 0L),
        (44100L, 1L, 16L, 4096L)))
      assert(flacCore(flacHeader(r, c, b, t)) == Right((r, c, b, t)),
        s"round-trip failed at ($r,$c,$b,$t)")
    // trailing audio bytes are out of metadata scope
    assert(flacCore(flacHeader(8000, 1, 8, 7L) ++ Array[Byte](9, 9, 9)) ==
      Right((8000L, 1L, 8L, 7L)))
    Multimodal.CompressedFixture.filter(_.format == "flac").foreach { f =>
      val got = flacCore(f.bytes)
      val expected = if (f.issue == "ok") None else Some(f.issue)
      assert(got.left.toOption == expected,
        s"fixture ${f.media_id}: parsed $got, declared ${f.issue}")
    }
  }

  test("FLAC frame decode: CONSTANT/VERBATIM round-trip, CRC tamper caught, predictor sentinels honest") {
    import MediaCodec._
    // round-trip: the generator's two-frame stream decodes to exactly
    // the samples it encoded (192 × constant ++ 192 verbatim)
    val payload = "flac frame payload bytes 0123456789".getBytes("UTF-8")
    val b = flacWithFrames(7L, payload)
    val Right((rate, ch, bits, samples)) = flacSamples(b)
    assert((rate, ch, bits) == ((44100L, 1L, 16L)))
    assert(samples.length == 384)
    val cval = ((7L * 31) % 65536L - 32768L).toInt
    assert(samples.take(192).forall(_ == cval), "constant frame wrong")
    val verb = (0 until 192).map { k =>
      val raw = ((payload((2 * k) % payload.length) & 0xff) << 8) |
        (payload((2 * k + 1) % payload.length) & 0xff)
      if (raw >= 32768) raw - 65536 else raw
    }
    assert(samples.drop(192).toSeq == verb, "verbatim frame wrong")
    // a single flipped payload bit breaks the frame CRC-16
    val tampered = b.clone()
    tampered(tampered.length - 10) =
      (tampered(tampered.length - 10) ^ 0x01).toByte
    assert(flacSamples(tampered) == Left("bad_frame_crc"))
    // ...and a flipped header bit breaks the CRC-8
    val tampered2 = b.clone()
    tampered2(44) = (tampered2(44) ^ 0x04).toByte // inside frame-0 header
    assert(flacSamples(tampered2) == Left("bad_frame_crc"))
    // the honest sentinels: a FIXED-predictor subframe (type 001000)
    // and a left/side stereo frame (channel assignment 1000) decode to
    // their named gaps, never to wrong samples
    val fixedSub = b.clone()
    fixedSub(47) = 0x10.toByte // frame-0 subframe header: type 001000
    assert(flacSamples(fixedSub) == Left("undecodable_subframe") ||
      flacSamples(fixedSub) == Left("bad_frame_crc"))
    // rebuild frame-0 with the mutated subframe type and a VALID crc
    // chain, so the sentinel (not the crc) is what fires
    val f0 = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0xff); o.write(0xf8); o.write(0x10); o.write(0x08); o.write(0)
      val h = o.toByteArray
      o.write(crc8(h, 0, h.length))
      o.write(0x10) // FIXED order-0 subframe header
      o.write((cval >>> 8) & 0xff); o.write(cval & 0xff)
      val f = o.toByteArray
      val crc = crc16(f, 0, f.length)
      o.write((crc >>> 8) & 0xff); o.write(crc & 0xff)
      o.toByteArray
    }
    assert(flacSamples(flacHeader(44100L, 1L, 16L, 192L) ++ f0) ==
      Left("undecodable_subframe"))
    val stereo = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0xff); o.write(0xf8); o.write(0x10)
      o.write(0x88) // channel assignment 1000 = left/side
      o.write(0)
      val h = o.toByteArray
      o.write(crc8(h, 0, h.length))
      o.toByteArray
    }
    assert(flacSamples(flacHeader(44100L, 2L, 16L, 192L) ++ stereo) ==
      Left("undecodable_channel_mode"))
    // truncation fails honestly too
    assert(flacSamples(b.take(b.length - 50)).isLeft)
  }

  test("q96 flacPcmStats: an empty document yields the sentinel row, not an executor crash") {
    import spark.implicits._
    val docs = Seq((3L, ""), (4L, "ab")).toDF("doc_id", "text")
    val got = Multimodal.flacPcmStats(docs).as[Multimodal.PcmStats]
      .collect().sortBy(_.media_id).toSeq
    assert(got.head == Multimodal.PcmStats(3L, -1L, -1L, -1L, -1L, 0.0, 0L, 0.0))
    assert(got(1).sample_rate == 44100L && got(1).n_samples == 384L)
    intercept[IllegalArgumentException](MediaCodec.flacWithFrames(3L, Array.empty))
  }

  test("compressedMediaTable rows parse back to the doc_id arithmetic") {
    val rows = Multimodal.compressedMediaTable(
      graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")).collect()
    assert(rows.nonEmpty && rows.exists(_.format == "mp3") &&
      rows.exists(_.format == "flac"))
    rows.foreach { r =>
      val k = r.media_id / 2
      if (r.format == "mp3") {
        val n = 3 + (k % 6)
        assert(MediaCodec.mp3Core(r.media) == Right((
          MediaCodec.Mp3Rates((k % 3).toInt).toLong, 1 + k % 2, n,
          MediaCodec.Mp3Bitrates((1 + k % 14).toInt).toLong)),
          s"mp3 ${r.media_id}")
      } else {
        assert(MediaCodec.flacCore(r.media) == Right((
          Seq(8000L, 16000L, 22050L, 44100L, 48000L)((k % 5).toInt),
          1 + k % 2, Seq(8L, 16L, 24L)((k % 3).toInt),
          4096L * (1 + k % 10000))), s"flac ${r.media_id}")
      }
    }
  }
}
