package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Binary-column pipeline: synthesize → decode (real magic-byte
  * header parse) → features → similarity reuse; frame sampling; CSV
  * sink round-trip. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import Multimodal.{FlacChannel, FlacPredicted, FlacVerbatim}

  private def docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def silentWav(sr: Int, ch: Int, n: Int) =
    Multimodal.wavFromSamples(sr, Array.fill(ch)(new Array[Int](n)))
  private def plantedWav(id: Long, sr: Int, ch: Int, n: Int) =
    Multimodal.wavFromSamples(sr, Array.tabulate(ch, n)((c, i) => Multimodal.plantedSample(id, i, c)))

  /** A 76-byte mono WAV whose LIST chunk size reads 0x7FFFFFF8: an Int
    * cursor wraps negative on it. */
  private def wavOverflow: Array[Byte] = {
    val p = plantedWav(1L, 8000, 1, 10)
    p(40) = 0xf8.toByte; p(41) = 0xff.toByte; p(42) = 0xff.toByte; p(43) = 0x7f
    p
  }

  test("synthesize + decodeHeader: GRFT metadata round-trips, body length preserved") {
    val media = Multimodal.synthesize(docs.limit(20))
    val meta = Multimodal.decodeHeader(media).collect()
    assert(meta.length == 20)
    meta.foreach { m =>
      assert(m.width == (m.media_id % 640 + 16).toInt)
      assert(m.height == (m.media_id % 480 + 16).toInt)
      assert(m.format == "grft" && m.n_bytes > 8)
    }
  }

  test("synthesizeFormats + decodeHeader: real PNG/JPEG/GIF/BMP headers recover planted dims") {
    val media = Multimodal.synthesizeFormats(docs.limit(40))
    val meta = Multimodal.decodeHeader(media).collect()
    assert(meta.length == 40)
    val expectFmt = Map(0L -> "png", 1L -> "jpeg", 2L -> "gif", 3L -> "bmp")
    meta.foreach { m =>
      assert(m.format == expectFmt(m.media_id % 4),
        s"media ${m.media_id}: got ${m.format}")
      assert(m.width == (m.media_id % 640 + 16).toInt, s"width of ${m.media_id}")
      assert(m.height == (m.media_id % 480 + 16).toInt, s"height of ${m.media_id}")
    }
    assert(meta.map(_.format).distinct.sorted.toSeq == Seq("bmp", "gif", "jpeg", "png"))
    // a top-down BMP (negative DIB height) reports its absolute height,
    // the height bmpRgb decodes; Int.MinValue, which bmpRgb rejects,
    // reads as the -1 sentinel
    val bmp = Multimodal.bmpFromRgb(statsW, statsH, Array.tabulate(statsW * statsH)(i => i * 997))
    val minH = bmp.clone()
    minH(22) = 0; minH(23) = 0; minH(24) = 0; minH(25) = 0x80.toByte
    val odd = Seq(Multimodal.MediaRow(1L, "image", bmpTopDown(bmp, statsH)),
      Multimodal.MediaRow(2L, "image", minH)).toDS()
    val oddMeta = Multimodal.decodeHeader(odd).collect().sortBy(_.media_id)
    assert(oddMeta.map(m => (m.format, m.width, m.height)).toSeq ==
      Seq(("bmp", statsW, statsH), ("bmp", statsW, -1)))
    assert(Multimodal.bmpRgb(bmpTopDown(bmp, statsH)).map(d => (d._1, d._2)) == Some((statsW, statsH)))
    assert(Multimodal.bmpRgb(minH).isEmpty)
  }

  test("sniff: hand-byte contracts — endianness, JPEG SOF order, CRC, unknowns") {
    // PNG: big-endian dims; the synthesized IHDR CRC is a REAL CRC32
    val png = Multimodal.pngHeader(300, 200)
    assert(Multimodal.sniff(png) == (("png", 300, 200)))
    val crc = new java.util.zip.CRC32
    crc.update(png.slice(12, 29)) // "IHDR" + 13 data bytes
    val stamped = ((png(29) & 0xffL) << 24) | ((png(30) & 0xffL) << 16) |
      ((png(31) & 0xffL) << 8) | (png(32) & 0xffL)
    assert(stamped == crc.getValue, "IHDR CRC must be the genuine CRC32")
    // JPEG: the parser must walk past APP0 and read LINES (height)
    // before SAMPLES/LINE (width) — the classic transposition bug
    assert(Multimodal.sniff(Multimodal.jpegHeader(640, 120)) == (("jpeg", 640, 120)))
    // GIF + BMP: little-endian
    assert(Multimodal.sniff(Multimodal.gifHeader(12345, 678)) == (("gif", 12345, 678)))
    assert(Multimodal.sniff(Multimodal.bmpHeader(1920, 1080, 7)) == (("bmp", 1920, 1080)))
    // corrupted magic / truncation degrade to unknown, never throw
    assert(Multimodal.sniff("not an image".getBytes("UTF-8"))._1 == "unknown")
    assert(Multimodal.sniff(png.take(20))._1 == "unknown")
    assert(Multimodal.sniff(Array[Byte](0xff.toByte, 0xd8.toByte))._1 == "unknown")
  }

  test("synthesizeAudio + decodeAudio: WAV/FLAC recover planted rate/channels/samples") {
    val media = Multimodal.synthesizeAudio(docs.limit(40))
    val meta = Multimodal.decodeAudio(media).collect()
    assert(meta.length == 40)
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    meta.foreach { m =>
      val id = m.media_id
      assert(m.format == (if (id % 2 == 0) "wav" else "flac"), s"fmt of $id")
      assert(m.sample_rate == rates((id % 5).toInt), s"rate of $id")
      assert(m.channels == ((id / 2) % 2 + 1).toInt, s"channels of $id")
      assert(m.bits == 16 && m.n_samples == id % 200 + 50, s"samples of $id")
    }
    assert(meta.map(_.format).distinct.sorted.toSeq == Seq("flac", "wav"))
  }

  test("sniffAudio: hand-byte contracts — RIFF chunk walk, odd-size pad, FLAC bit unpack") {
    // WAV: the LIST chunk between fmt and data forces a real walk
    assert(Multimodal.sniffAudio(silentWav(44100, 2, 100)) ==
      (("wav", 44100, 2, 16, 100L)))
    // odd-size chunk: a 5-byte junk chunk between WAVE and fmt carries
    // a pad byte — a walk that forgets word alignment lands off-by-one
    val odd = "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      new Array[Byte](5 + 1) ++ // 5 payload + 1 pad
      silentWav(8000, 1, 10).drop(12)
    assert(Multimodal.sniffAudio(odd) == (("wav", 8000, 1, 16, 10L)))
    // FLAC: 20/3/5/36-bit fields unpack exactly, incl. a >32-bit
    // sample count crossing the byte boundary
    assert(Multimodal.sniffAudio(Multimodal.flacHeader(96000, 8, 24, 68719476735L)) ==
      (("flac", 96000, 8, 24, 68719476735L)))
    // truncation / corrupt magic degrade to unknown, never throw
    assert(Multimodal.sniffAudio(silentWav(8000, 1, 10).take(11))._1 == "unknown")
    assert(Multimodal.sniffAudio("RIFFxxxxNOPE".getBytes("US-ASCII"))._1 == "unknown")
    assert(Multimodal.sniffAudio(Multimodal.flacHeader(8000, 1, 16, 1L).take(20))._1 == "unknown")
  }

  test("synthesizeVideo + decodeVideo: MP4 box walk recovers planted clock/duration/dims") {
    val media = Multimodal.synthesizeVideo(docs.limit(30))
    val meta = Multimodal.decodeVideo(media).collect()
    assert(meta.length == 30)
    val clocks = Array(600, 1000, 90000)
    meta.foreach { m =>
      val id = m.media_id
      val ts = clocks((id % 3).toInt)
      val units = (id % 300 + 30) * ts / 10
      assert(m.format == "mp4", s"fmt of $id")
      assert(m.timescale == ts && m.duration_units == units, s"clock of $id")
      assert(m.duration_ms == units * 1000L / ts, s"ms of $id")
      assert(m.width == (id % 640 + 16).toInt && m.height == (id % 480 + 16).toInt,
        s"dims of $id")
    }
  }

  test("sniffVideo: hand-byte contracts — box recursion, 16.16 dims, truncation") {
    // direct header: 90kHz clock, 90000 units = exactly 1000 ms
    assert(Multimodal.sniffVideo(Multimodal.mp4Header(90000, 90000L, 1920, 1080)) ==
      (("mp4", 90000, 90000L, 1920, 1080)))
    // truncation inside moov and a non-ftyp prefix degrade to unknown
    val full = Multimodal.mp4Header(600, 1200L, 320, 240)
    assert(Multimodal.sniffVideo(full.take(40))._1 == "unknown")
    assert(Multimodal.sniffVideo("not a video at all".getBytes("UTF-8"))._1 == "unknown")
    // a malformed inner size (larger than its container) must not parse
    val broken = full.clone()
    broken(28 + 3) = -1 // inflate moov's declared size past the buffer
    assert(Multimodal.sniffVideo(broken)._1 == "unknown")
    // a largesize box (size 1) whose 64-bit size has a nonzero high word
    // is malformed: before moov the walk stops with nothing read; after
    // moov the fields already read stand and the walk does not step back
    val huge = Array[Byte](0, 0, 0, 1) ++ "free".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 32) ++ new Array[Byte](16)
    assert(Multimodal.sniffVideo(full.take(28) ++ huge ++ full.drop(28))._1 == "unknown")
    assert(Multimodal.sniffVideo(full ++ huge ++ Multimodal.mp4Header(90000, 5L, 7, 9).drop(28)) ==
      (("mp4", 600, 1200L, 320, 240)))
  }

  test("byteHistogram features are L1-normalized and feed Similarity unchanged") {
    val feats = Multimodal.byteHistogram(Multimodal.synthesize(docs.limit(50))).toDF()
    val sums = feats.select(expr("aggregate(features, 0D, (a, x) -> a + CAST(x AS DOUBLE))"))
      .as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-5, s"histogram not normalized: $s"))
    val topk = Similarity.bruteForceTopK(feats, "media_id", "features",
      col("media_id") < 2, k = 3).collect()
    assert(topk.length == 6) // 2 queries × 3 neighbors
  }

  /** One row per image format: the names of its stats and resize
    * cases, its planted payload at (id, w, h), its planted (r, g, b)
    * at image coordinate (x, y), its planted synthesizer, the dims
    * that synthesizer plants per id, re-layouts of the planted stats
    * payload that must read the same stats, and corrupt payloads that
    * must read the sentinel. JPEG plants coefficients, not pixels, so
    * it has no pixel truth: its stats are checked against the decoded
    * gray raster and its resize against the decoded source (±3). */
  private case class ImageFormat(name: String, statsCase: String, resizeCase: String,
      payload: (Long, Int, Int) => Array[Byte],
      truth: Option[(Long, Int, Int) => (Int, Int, Int)],
      synth: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      dims: Long => (Int, Int),
      sameStats: Array[Byte] => Seq[(String, Array[Byte])],
      rejects: Array[Byte] => Seq[(String, Array[Byte])])

  // w=5 forces a non-trivial BMP stride (16); h=6 cycles all five PNG
  // filter types
  private val statsId = 42L
  private val statsW = 5
  private val statsH = 6

  /** The same BMP stored TOP-DOWN: rows reversed, negative DIB height. */
  private def bmpTopDown(bmp: Array[Byte], h: Int): Array[Byte] = {
    val stride = 16
    val topDown = bmp.take(54) ++
      (h - 1 to 0 by -1).flatMap(r => bmp.slice(54 + r * stride, 54 + (r + 1) * stride))
    val negH = -h
    topDown(22) = negH.toByte; topDown(23) = (negH >> 8).toByte
    topDown(24) = (negH >> 16).toByte; topDown(25) = (negH >> 24).toByte
    topDown
  }

  private val planted = (id: Long, x: Int, y: Int) =>
    (Multimodal.plantedR(id, x, y), Multimodal.plantedG(id, x, y), Multimodal.plantedB(id, x, y))
  private val imageFormats = Seq(
    ImageFormat("bmp",
      "bmpPixelStats: real pixel walk — planted sums, top-down rows, corrupt-pad reject",
      "resizeBmpNearest: REAL resize — output pixels are the nearest-neighbor source reads",
      Multimodal.bmpWithPixels, Some(planted),
      Multimodal.synthesizeBmpPixels, id => ((id % 21 + 4).toInt, (id % 17 + 4).toInt),
      bmp => Seq("top-down rows" -> bmpTopDown(bmp, statsH)),
      { bmp =>
        val bpp8 = bmp.clone(); bpp8(28) = 8
        val rle = bmp.clone(); rle(30) = 1
        // |Int.MinValue| stays negative: must reject, not allocate or walk
        val minH = bmp.clone(); minH(22) = 0; minH(23) = 0; minH(24) = 0; minH(25) = 0x80.toByte
        Seq("short its final pad byte" -> bmp.dropRight(1), "8bpp" -> bpp8, "RLE" -> rle,
          "height Int.MinValue" -> minH)
      }),
    ImageFormat("gif",
      "gifPixelStats: malformed payloads reject with the sentinel",
      "resizeGifNearest: real LZW decode→remap→re-encode round-trip",
      Multimodal.gifWithPixels, Some { (id: Long, x: Int, y: Int) =>
        val i = Multimodal.plantedGifIdx(id, x, y)
        (Multimodal.gifPaletteR(i), Multimodal.gifPaletteG(i), Multimodal.gifPaletteB(i))
      }, Multimodal.synthesizeGifPixels, id => ((id % 19 + 4).toInt, (id % 13 + 4).toInt),
      _ => Seq.empty,
      { _ =>
        val gif = Multimodal.gifWithPixels(9L, 6, 5)
        Seq("truncated in GCT" -> gif.take(40), "truncated code stream" -> gif.dropRight(8),
          "header only" -> "GIF89a".getBytes("US-ASCII"))
      }),
    ImageFormat("png",
      "pngPixelStats: CRC and structure rejects",
      "resizePngNearest: inflate→unfilter→remap→refilter→deflate round-trip",
      Multimodal.pngWithPixels, Some(planted),
      Multimodal.synthesizePngPixels, id => ((id % 23 + 4).toInt, (id % 11 + 4).toInt),
      _ => Seq.empty,
      { _ =>
        val png = Multimodal.pngWithPixels(7L, 9, 6)
        // flip one byte INSIDE the IDAT payload: the chunk CRC must catch it
        val crcBad = png.clone(); crcBad(8 + 25 + 12) = (crcBad(8 + 25 + 12) ^ 0x01).toByte
        val deep = png.clone(); deep(8 + 8 + 8) = 16
        Seq("CRC flip" -> crcBad, "truncated" -> png.dropRight(6), "16-bit depth" -> deep)
      }),
    ImageFormat("jpeg",
      "jpegPixelStats: decoded gray sums; malformed rejects",
      "resizeJpegNearest: real Huffman/IDCT decode → remap → FDCT re-encode round-trip",
      Multimodal.jpegWithCoefficients, None,
      Multimodal.synthesizeJpegPixels, Multimodal.plantedJpegDims,
      _ => Seq.empty,
      { _ =>
        val jpeg = Multimodal.jpegWithCoefficients(5L, 12, 10)
        val prog = jpeg.clone() // SOF0 → SOF2 (progressive): unsupported, not garbage
        val sofAt = prog.indices.find(i => (prog(i) & 0xff) == 0xff &&
          (prog(i + 1) & 0xff) == 0xc0).get
        prog(sofAt + 1) = 0xc2.toByte
        Seq("truncated entropy" -> jpeg.take(jpeg.length / 2),
          "truncated header" -> jpeg.take(30), "progressive" -> prog)
      }))

  private def plantedStats(truth: (Long, Int, Int) => (Int, Int, Int), id: Long,
      pts: Seq[(Int, Int)]): (Long, Long, Long) = {
    val px = pts.map { case (x, y) => truth(id, x, y) }
    (px.map(_._3.toLong).sum, px.map(_._2.toLong).sum, px.map(_._1.toLong).sum)
  }

  for (f <- imageFormats) test(f.statsCase) {
    val (id, w, h) = (statsId, statsW, statsH)
    val p = f.payload(id, w, h)
    val expected = f.truth match {
      case Some(truth) =>
        val (sb, sg, sr) = plantedStats(truth, id, for (x <- 0 until w; y <- 0 until h) yield (x, y))
        Multimodal.PixelStats(id, w, h, sb, sg, sr, w.toLong * h)
      case None => // gray: every channel sums the decoded raster
        val Some((gw, gh, gray)) = Multimodal.imageGrayAny(p)
        val s = gray.map(_.toLong).sum
        Multimodal.PixelStats(id, gw, gh, s, s, s, gw.toLong * gh)
    }
    assert(expected.width == w && expected.height == h, f.name)
    assert(Multimodal.pixelStats(id, p) == expected, f.name)
    f.sameStats(p).foreach { case (what, q) =>
      assert(Multimodal.pixelStats(id, q) == expected, s"${f.name} $what")
    }
    // rejects: the all-(-1) sentinel, never a partial read
    f.rejects(p).foreach { case (what, q) =>
      assert(Multimodal.pixelStats(3L, q) ==
        Multimodal.PixelStats(3L, -1, -1, -1L, -1L, -1L, -1L), s"${f.name} $what")
    }
  }

  for (f <- imageFormats) test(f.resizeCase) {
    val media = f.synth(docs.limit(20))
    val sources = media.collect().map(r =>
      r.media_id -> Multimodal.imageGrayAny(r.payload).get).toMap
    val resized = Multimodal.resizeNearest(media, 8, 6).collect()
    assert(resized.length == 20)
    val stats = Multimodal.decodePixels(Multimodal.resizeNearest(media, 8, 6)).collect()
    assert(stats.length == 20)
    stats.foreach { st =>
      val id = st.media_id
      val (w, h) = f.dims(id)
      val pts = for (x <- 0 until 8; y <- 0 until 6) yield (x * w / 8, y * h / 6)
      assert(st.width == 8 && st.height == 6 && st.n_px == 48L, s"$id")
      f.truth.foreach { truth =>
        val (sb, sg, sr) = plantedStats(truth, id, pts)
        assert((st.sum_b, st.sum_g, st.sum_r) == ((sb, sg, sr)), s"sums of $id")
      }
    }
    // per pixel against the decoded source through the same map; the
    // lossy JPEG gets one extra FDCT/IDCT round-trip under the
    // preserved all-ones table: rounding error only
    val tol = if (f.truth.isEmpty) 3 else 0
    resized.foreach { r =>
      val (w, h, src) = sources(r.media_id)
      val Some((gw, gh, got)) = Multimodal.imageGrayAny(r.payload)
      assert(Multimodal.sniff(r.payload) == ((f.name, 8, 6)) && (gw, gh) == ((8, 6)))
      for (y <- 0 until 6; x <- 0 until 8) {
        val expect = src((y * h / 6) * w + x * w / 8)
        assert(math.abs(got(y * 8 + x) - expect) <= tol, s"id=${r.media_id} ($x,$y)")
      }
    }
  }

  test("resizeNearest: mixed formats resize in place; GRFT passes") {
    val ids = docs.limit(6)
    val mixed = imageFormats.map(_.synth(ids)).reduce(_ union _)
      .union(Multimodal.synthesize(ids))
    // keyed by (id, format): a resize that changed a payload's format
    // would leave its key unmatched
    def byKey(rows: Array[Multimodal.MediaRow]) =
      rows.map(r => (r.media_id, Multimodal.sniff(r.payload)._1) -> r.payload).toMap
    val before = byKey(mixed.collect())
    val after = byKey(Multimodal.resizeNearest(mixed, 8, 6).collect())
    assert(before.size == 30 && after.keySet == before.keySet)
    before.foreach { case (key @ (id, fmt), b) =>
      val a = after(key)
      if (fmt == "grft") assert(a.sameElements(b), s"GRFT stub $id must pass through")
      else {
        assert(Multimodal.sniff(a) == ((fmt, 8, 6)), s"$fmt $id")
        val src = Multimodal.decodeImage(b).get
        val dst = Multimodal.decodeImage(a).get
        fmt match {
          case "gif" => // palette and indices survive: only the raster is remapped
            assert(dst.palette.toSeq == src.palette.toSeq)
            assert(dst.px.toSeq ==
              Multimodal.nearest(src.w, src.h, src.px, 8, 6).toSeq)
          case "jpeg" => // re-encoded under the source's quant table
            val q = (p: Array[Byte]) => Multimodal.parseJpegComponents(p).get._3(0).quant.toSeq
            assert(q(a) == q(b))
          case _ =>
            assert(dst.px.toSeq == Multimodal.nearest(src.w, src.h, src.px, 8, 6).toSeq)
        }
      }
    }
    assert(before.keySet.map(_._2) == Set("bmp", "gif", "grft", "jpeg", "png"))
  }

  test("LZW: encode∘decode identity across width bumps, dict reset, KwKwK") {
    def roundTrip(idx: Array[Int], min: Int): Unit = {
      val got = Multimodal.lzwDecode(Multimodal.lzwEncode(idx, min), min, idx.length)
      assert(got != null && got.sameElements(idx),
        s"round-trip failed: n=${idx.length} min=$min")
    }
    roundTrip(Array(0), 8)
    roundTrip(Array(5, 5), 8)                        // single repeat
    roundTrip(Array.fill(40)(1), 2)                  // KwKwK chain, small alphabet
    roundTrip(Array.tabulate(353)(i => (i * 37 + 11) % 256), 8)
    // 20k pseudorandom symbols: crosses the 512/1024/2048 width bumps
    // AND the 4096 dictionary reset (CLEAR mid-stream)
    var s = 12345L
    val big = Array.fill(20000) {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      ((s >>> 33) % 256).toInt
    }
    roundTrip(big, 8)
    // truncated stream → null, not garbage
    val enc = Multimodal.lzwEncode(big, 8)
    assert(Multimodal.lzwDecode(enc.take(enc.length / 2), 8, big.length) == null)
  }

  test("LZW format pin: the emitted bit stream IS the GIF code layout") {
    // Independent bit-writer: codes [CLEAR=256, 5, 5, EOI=257] at 9
    // bits, LSB-first — hand-derivable from the GIF89a spec. If our
    // encoder deviated in packing order or code order, this differs.
    var acc = 0L; var n = 0
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    for (code <- Seq(256, 5, 5, 257)) {
      acc |= code.toLong << n; n += 9
      while (n >= 8) { bytes += (acc & 0xff).toByte; acc >>>= 8; n -= 8 }
    }
    if (n > 0) bytes += (acc & 0xff).toByte
    assert(Multimodal.lzwEncode(Array(5, 5), 8).toSeq == bytes.toSeq)
  }

  test("GIF cross-validation A: our encoder decodes correctly under the JDK's ImageIO") {
    val id = 77L; val w = (id % 19 + 4).toInt; val h = (id % 13 + 4).toInt
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.gifWithPixels(id, w, h)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val i = Multimodal.plantedGifIdx(id, x, y)
      val expect = 0xff000000 | (Multimodal.gifPaletteR(i) << 16) |
        (Multimodal.gifPaletteG(i) << 8) | Multimodal.gifPaletteB(i)
      assert(img.getRGB(x, y) == expect, s"pixel ($x,$y)")
    }
  }

  test("GIF cross-validation B: ImageIO's encoder decodes correctly under our parser") {
    val id = 123L; val w = 9; val h = 7
    val r = new Array[Byte](256); val g = new Array[Byte](256); val b = new Array[Byte](256)
    for (i <- 0 until 256) {
      r(i) = Multimodal.gifPaletteR(i).toByte
      g(i) = Multimodal.gifPaletteG(i).toByte
      b(i) = Multimodal.gifPaletteB(i).toByte
    }
    val cm = new java.awt.image.IndexColorModel(8, 256, r, g, b)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, Multimodal.plantedGifIdx(id, x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val Multimodal.PixelStats(_, gw, gh, sb, sg, sr, n) = Multimodal.pixelStats(0L, bos.toByteArray)
    assert((gw, gh, n) == ((w, h, w.toLong * h)))
    val pts = for (x <- 0 until w; y <- 0 until h) yield Multimodal.plantedGifIdx(id, x, y)
    assert(sr == pts.map(i => Multimodal.gifPaletteR(i).toLong).sum)
    assert(sg == pts.map(i => Multimodal.gifPaletteG(i).toLong).sum)
    assert(sb == pts.map(i => Multimodal.gifPaletteB(i).toLong).sum)
    // PER-PIXEL: the JDK writer emits INTERLACED streams by default,
    // so this also pins our 4-pass de-interlace row mapping exactly
    // (channel sums alone are row-order invariant and would not)
    val Some((_, _, _, idx)) = Multimodal.parseGif(bos.toByteArray)
    for (y <- 0 until h; x <- 0 until w)
      assert(idx(y * w + x) == Multimodal.plantedGifIdx(id, x, y), s"pixel ($x,$y)")
  }

  test("GIF cross-validation C: 64×64 noise crosses the 512+/1024+ code widths, both directions") {
    // A and B use ≤80-pixel images, so the dictionary never reaches 512
    // entries and the 9→10/10→11-bit width bumps are only exercised by
    // SELF round-trips — a matched off-by-one in encoder+decoder
    // relative to the GIF89a wire format would pass (round-14 ADVICE).
    // 4096 incompressible pixels force several thousand dictionary
    // entries through BOTH independent codecs.
    val w = 64; val h = 64
    var s = 987654321L
    val idx = Array.fill(w * h) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % 256).toInt
    }
    // our encoder → the JDK's independent decoder, per-pixel
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.gifFromIndices(w, h, idx, Multimodal.gifPlantedPalette)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val i = idx(y * w + x)
      val expect = 0xff000000 | (Multimodal.gifPaletteR(i) << 16) |
        (Multimodal.gifPaletteG(i) << 8) | Multimodal.gifPaletteB(i)
      assert(img.getRGB(x, y) == expect, s"ImageIO pixel ($x,$y)")
    }
    // the JDK's independent encoder → our decoder, per-pixel
    val r = new Array[Byte](256); val g = new Array[Byte](256); val b = new Array[Byte](256)
    for (i <- 0 until 256) {
      r(i) = Multimodal.gifPaletteR(i).toByte
      g(i) = Multimodal.gifPaletteG(i).toByte
      b(i) = Multimodal.gifPaletteB(i).toByte
    }
    val cm = new java.awt.image.IndexColorModel(8, 256, r, g, b)
    val big = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      big.getRaster.setSample(x, y, 0, idx(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(big, "gif", bos))
    val Some((gw, gh, _, got)) = Multimodal.parseGif(bos.toByteArray)
    assert(gw == w && gh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(got(y * w + x) == idx(y * w + x), s"our pixel ($x,$y)")
  }

  test("PNG filters: unfilter∘filter identity for all five types, any prior") {
    val raw = Array.tabulate(30)(i => ((i * 89 + 7) % 256).toByte)
    val prior = Array.tabulate(30)(i => ((i * 53 + 131) % 256).toByte)
    for (ft <- 0 to 4) {
      val filtered = Multimodal.pngFilterRow(ft, raw, prior)
      val back = filtered.clone()
      assert(Multimodal.pngUnfilterRow(ft, back, prior), s"filter $ft")
      assert(back.sameElements(raw), s"filter $ft round-trip")
    }
  }

  test("PNG cross-validation A: our encoder (5-filter cycle) decodes under ImageIO") {
    val id = 56L; val w = (id % 23 + 4).toInt; val h = (id % 11 + 4).toInt
    assert(h >= 5, "dims must exercise every filter type")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.pngWithPixels(id, w, h)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val expect = 0xff000000 | (Multimodal.plantedR(id, x, y) << 16) |
        (Multimodal.plantedG(id, x, y) << 8) | Multimodal.plantedB(id, x, y)
      assert(img.getRGB(x, y) == expect, s"pixel ($x,$y)")
    }
  }

  test("PNG cross-validation B: ImageIO's encoder decodes under our parser") {
    val id = 88L; val w = 11; val h = 6
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (Multimodal.plantedR(id, x, y) << 16) |
        (Multimodal.plantedG(id, x, y) << 8) | Multimodal.plantedB(id, x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val Some((gw, gh, rgb)) = Multimodal.parsePng(bos.toByteArray)
    assert(gw == w && gh == h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      assert((rgb(o) & 0xff) == Multimodal.plantedR(id, x, y), s"R ($x,$y)")
      assert((rgb(o + 1) & 0xff) == Multimodal.plantedG(id, x, y), s"G ($x,$y)")
      assert((rgb(o + 2) & 0xff) == Multimodal.plantedB(id, x, y), s"B ($x,$y)")
    }
  }

  test("wavSampleStats: planted PCM recovered through the RIFF walk; rejects") {
    // id·7 % 65536 = 32697 — the planted run straddles the sign flip
    val id = 4671L; val sr = 22050; val ch = 2; val nf = 7
    val p = plantedWav(id, sr, ch, nf)
    val samples = for (i <- 0 until nf; c <- 0 until ch)
      yield Multimodal.plantedSample(id, i, c).toLong
    val got = Multimodal.sampleStats(p)
    assert(got == ((sr, ch, nf.toLong, samples.sum,
      samples.map(s => s * s).sum, samples.map(math.abs).max)))
    // negative samples must sign-extend (planted fn spans both signs)
    assert(samples.exists(_ < 0) && samples.exists(_ > 0))
    // truncated data chunk: declared length no longer fits → reject
    assert(Multimodal.sampleStats(p.dropRight(3))._1 == -1)
    // 8-bit depth and non-PCM format tag reject
    val d8 = p.clone(); d8(34) = 8; assert(Multimodal.sampleStats(d8)._1 == -1)
    val alaw = p.clone(); alaw(20) = 6; assert(Multimodal.sampleStats(alaw)._1 == -1)
    assert(Multimodal.sampleStats("RIFFxxxx".getBytes("US-ASCII"))._1 == -1)
    // a LIST size of 0x7FFFFFF8 steps the walk past the payload: the
    // sentinel, not an ArrayIndexOutOfBoundsException from a wrapped cursor
    assert(wavOverflow.length == 76)
    assert(Multimodal.sampleStats(wavOverflow)._1 == -1)
  }

  test("decodeSamples: one op over WAV and FLAC rows; a corrupt chunk size reads the sentinel row") {
    val good = plantedWav(4671L, 22050, 2, 7)
    val flac = Multimodal.flacWithSamples(77L)
    val rows = Seq(Multimodal.MediaRow(0L, "audio", good), Multimodal.MediaRow(1L, "audio", wavOverflow),
      Multimodal.MediaRow(2L, "audio", flac), Multimodal.MediaRow(3L, "audio", "not audio".getBytes("UTF-8")))
    val got = Multimodal.decodeSamples(rows.toDS()).collect().sortBy(_.media_id)
    assert(got.map(_.media_id).toSeq == Seq(0L, 1L, 2L, 3L))
    for ((g, r) <- got.zip(rows)) {
      val (sr, ch, n, sum, sq, peak) = Multimodal.sampleStats(r.payload)
      assert((g.sample_rate, g.channels, g.n_samples, g.sum_s, g.sum_sq, g.peak) ==
        ((sr, ch, n, sum, sq, peak)), s"row ${g.media_id}")
    }
    assert(got(0).sample_rate == 22050 && got(2).sample_rate == 22050)
    val sentinel = Multimodal.SampleStats(1L, -1, -1, -1L, -1L, -1L, -1L)
    assert(got(1) == sentinel && got(3) == sentinel.copy(media_id = 3L))
  }

  // ---- FLAC (round-14): constant/verbatim frame truth ----

  test("flacSampleStats: planted constant+verbatim frames recovered through CRC'd headers") {
    for (id <- Seq(0L, 3L, 77L, 1234L)) {
      val p = Multimodal.flacWithSamples(id)
      val (sr, ch, n, sum, sq, peak) = Multimodal.sampleStats(p)
      val rates = Array(8000, 16000, 22050, 44100, 48000)
      val expCh = ((id / 2) % 2 + 1).toInt
      val nv = (id % 100 + 20).toInt
      assert(sr == rates((id % 5).toInt) && ch == expCh && n == 16L + nv)
      val vals = (0 until expCh).flatMap { c =>
        Seq.fill(16)(Multimodal.flacConstVal(id, c)) ++
          (0 until nv).map(i => Multimodal.flacVerbVal(id, c, i))
      }
      assert(sum == vals.map(_.toLong).sum, s"id=$id sum")
      assert(sq == vals.map(v => v.toLong * v).sum, s"id=$id sq")
      assert(peak == vals.map(v => math.abs(v.toLong)).max, s"id=$id peak")
    }
  }

  test("flacSampleStats: CRC flips, truncation, and unsupported subframes reject") {
    val p = Multimodal.flacWithSamples(9L)
    assert(Multimodal.sampleStats(p)._1 > 0)
    // flip one byte mid-frame → CRC-16 mismatch, sentinel not garbage
    val flip = p.clone(); flip(p.length - 10) = (flip(p.length - 10) ^ 0x01).toByte
    assert(Multimodal.sampleStats(flip)._1 == -1)
    // flip a frame-header byte → CRC-8 catches it before any decode
    val hdrFlip = p.clone(); hdrFlip(42 + 4) = (hdrFlip(42 + 4) ^ 0x01).toByte
    assert(Multimodal.sampleStats(hdrFlip)._1 == -1)
    assert(Multimodal.sampleStats(p.dropRight(5))._1 == -1) // truncated
    assert(Multimodal.sampleStats(p.take(42))._1 == -1)     // frames missing entirely
    assert(Multimodal.sampleStats(Multimodal.bmpWithPixels(9L, 6, 5))._1 == -1)
    // rewrite the first subframe header byte in place (to FIXED order 2,
    // type 0b001010) WITHOUT re-encoding the stream: since round 15 the
    // decoder understands FIXED subframes, but the tampered byte breaks
    // the frame CRC-16, so the stream still rejects — bit-flip safety is
    // CRC-owned, not type-gate-owned.
    val lpc = p.clone(); lpc(42 + 8) = 0x14
    assert(Multimodal.sampleStats(lpc)._1 == -1)
  }

  // ---- FLAC fixed/LPC + Rice (round-15, VERDICT r14 item 2) ----

  private def predStats(id: Long, ch: Int, n: Int): (Long, Long, Long) = {
    val vals = for (c <- 0 until ch; i <- 0 until n)
      yield Multimodal.flacPredVal(id, c, i).toLong
    (vals.sum, vals.map(v => v * v).sum, vals.map(math.abs).max)
  }

  test("flacPredFrame: fixed orders 0-4 × Rice partition orders round-trip exactly") {
    for (id <- Seq(1L, 58L, 913L); order <- 0 to 4; po <- 0 to 2) {
      val ch = ((id / 2) % 2 + 1).toInt
      val smp = Array.tabulate(ch, 32)((c, i) => Multimodal.flacPredVal(id, c, i))
      val p = Multimodal.flacHeader(44100, ch, 16, 32L) ++
        Multimodal.flacFrame(0, smp.map(FlacChannel(_, FlacPredicted(order, None, po))))
      val (sr, gotCh, n, sum, sq, peak) = Multimodal.sampleStats(p)
      assert((sr, gotCh, n) == ((44100, ch, 32L)), s"id=$id order=$order po=$po hdr")
      val (es, eq, ep) = predStats(id, ch, 32)
      assert((sum, sq, peak) == ((es, eq, ep)), s"id=$id order=$order po=$po stats")
    }
  }

  test("flacPredFrame: planted LPC frame (coefs [3,-1] >> 1) round-trips exactly") {
    for (id <- Seq(2L, 77L, 4440L)) {
      val ch = ((id / 2) % 2 + 1).toInt
      val n = (id % 104 + 16).toInt
      val smp = Array.tabulate(ch, n)((c, i) => Multimodal.flacPredVal(id, c, i))
      val p = Multimodal.flacHeader(8000, ch, 16, n.toLong) ++
        Multimodal.flacFrame(0, smp.map(FlacChannel(_, FlacPredicted(2, Some((Array(3, -1), 4, 1))))))
      val (_, gotCh, got, sum, sq, peak) = Multimodal.sampleStats(p)
      assert(gotCh == ch && got == n.toLong, s"id=$id hdr")
      val (es, eq, ep) = predStats(id, ch, n)
      assert((sum, sq, peak) == ((es, eq, ep)), s"id=$id lpc stats")
    }
  }

  test("flacPredFrame: escape (verbatim-residual) partitions round-trip exactly") {
    val id = 31L
    val smp = Array.tabulate(1, 32)((c, i) => Multimodal.flacPredVal(id, c, i))
    val p = Multimodal.flacHeader(16000, 1, 16, 32L) ++
      Multimodal.flacFrame(0, smp.map(FlacChannel(_, FlacPredicted(1, None, 1, escape = true))))
    val (_, _, got, sum, sq, peak) = Multimodal.sampleStats(p)
    assert(got == 32L)
    val (es, eq, ep) = predStats(id, 1, 32)
    assert((sum, sq, peak) == ((es, eq, ep)))
  }

  test("flac pred frames: CRC flips, truncation, and corpus round-trip") {
    val p = Multimodal.flacWithPredSamples(17L)
    assert(Multimodal.sampleStats(p)._1 > 0)
    // frame-header byte flip → CRC-8 reject before any residual decode
    val hdrFlip = p.clone(); hdrFlip(42 + 4) = (hdrFlip(42 + 4) ^ 0x01).toByte
    assert(Multimodal.sampleStats(hdrFlip)._1 == -1)
    // mid-stream Rice-bits flip → CRC-16 reject, never silent corruption
    val flip = p.clone(); flip(p.length - 9) = (flip(p.length - 9) ^ 0x40).toByte
    assert(Multimodal.sampleStats(flip)._1 == -1)
    assert(Multimodal.sampleStats(p.dropRight(3))._1 == -1) // truncated mid-frame
    // the q228 corpus decodes to the planted closed form
    for (id <- Seq(0L, 9L, 255L, 3999L)) {
      val ch = ((id / 2) % 2 + 1).toInt
      val total = 32 + (id % 104 + 16).toInt
      val (_, gotCh, n, sum, sq, peak) =
        Multimodal.sampleStats(Multimodal.flacWithPredSamples(id))
      assert(gotCh == ch && n == total.toLong, s"id=$id hdr")
      val (es, eq, ep) = predStats(id, ch, total)
      assert((sum, sq, peak) == ((es, eq, ep)), s"id=$id corpus stats")
    }
  }

  test("flacStereoFrame: left-side / side-right / mid-side invert exactly (17-bit side)") {
    for (id <- Seq(0L, 13L, 501L, 3999L)) {
      val p = Multimodal.flacWithStereoSamples(id)
      val (sr, ch, n, sum, sq, peak) = Multimodal.sampleStats(p)
      assert(ch == 2 && n == 144L, s"id=$id hdr")
      val lr = (0 until 144).flatMap(i =>
        Seq(Multimodal.flacStereoL(id, i).toLong, Multimodal.flacStereoR(id, i).toLong))
      assert(sum == lr.sum, s"id=$id sum")
      assert(sq == lr.map(v => v * v).sum, s"id=$id sq")
      assert(peak == lr.map(math.abs).max, s"id=$id peak")
      // channel 0 of the reconstruction is LEFT for every mode
      val ch0 = Multimodal.decodePcm(p).get.channels(0)
      assert(ch0.length == 144)
      assert(ch0.zipWithIndex.forall { case (v, i) =>
        v == Multimodal.flacStereoL(id, i) }, s"id=$id left channel")
      // extreme-amplitude pair: side = L−R spans the full 17-bit range
      val lMax = Array.fill(48)(32767); val rMin = Array.fill(48)(-32768)
      val px = Multimodal.flacHeader(8000, 2, 16, 48L) ++
        Multimodal.flacFrame(0, Seq(FlacChannel(lMax, FlacVerbatim()),
          FlacChannel(rMin, FlacVerbatim())), stereo = 10)
      val (_, _, nx, sumx, _, peakx) = Multimodal.sampleStats(px)
      assert(nx == 48L && sumx == 48L * (32767 - 32768) && peakx == 32768L)
      // CRC flip still rejects on decorrelated frames
      val flip = p.clone(); flip(p.length - 5) = (flip(p.length - 5) ^ 0x10).toByte
      assert(Multimodal.sampleStats(flip)._1 == -1)
    }
  }

  test("flac 8- and 24-bit streams decode exactly; bps-code mismatch rejects") {
    // 24-bit FIXED order 2: full-depth pseudo-random samples
    val s24 = Array.tabulate(1, 40)((_, i) =>
      ((3L * 1000003L * (i + 1) + 917L) % 16000000L).toInt - 8000000)
    val p24 = Multimodal.flacHeader(48000, 1, 24, 40L) ++
      Multimodal.flacFrame(0, s24.map(FlacChannel(_, FlacPredicted(2))), bps = 24)
    val (_, _, n24, sum24, sq24, peak24) = Multimodal.sampleStats(p24)
    assert(n24 == 40L)
    assert(sum24 == s24(0).map(_.toLong).sum)
    assert(sq24 == s24(0).map(v => v.toLong * v).sum)
    assert(peak24 == s24(0).map(v => math.abs(v.toLong)).max)
    // 8-bit LPC
    val s8 = Array.tabulate(1, 40)((c, i) => Multimodal.flacPredVal(5L, c, i) % 120)
    val p8 = Multimodal.flacHeader(8000, 1, 8, 40L) ++
      Multimodal.flacFrame(0, s8.map(FlacChannel(_, FlacPredicted(2, Some((Array(3, -1), 4, 1))))),
        bps = 8)
    val (_, _, n8, sum8, _, peak8) = Multimodal.sampleStats(p8)
    assert(n8 == 40L && sum8 == s8(0).map(_.toLong).sum &&
      peak8 == s8(0).map(v => math.abs(v.toLong)).max)
    // frame bps code disagreeing with STREAMINFO rejects
    val bad = Multimodal.flacHeader(8000, 1, 16, 40L) ++
      Multimodal.flacFrame(0, s8.map(FlacChannel(_, FlacPredicted(0))), bps = 24)
    assert(Multimodal.sampleStats(bad)._1 == -1)
    // unsupported depth (12-bit STREAMINFO) rejects
    assert(Multimodal.sampleStats(
      Multimodal.flacHeader(8000, 1, 12, 0L))._1 == -1)
  }

  test("flacWastedFrame: wasted-bits subframes shift back exactly") {
    for ((id, wasted) <- Seq((3L, 1), (44L, 2), (700L, 4))) {
      val ch = ((id / 2) % 2 + 1).toInt
      // low `wasted` bits zeroed by construction: scale planted values
      val smp = Array.tabulate(ch, 40)((c, i) =>
        (Multimodal.flacPredVal(id, c, i) >> wasted) << wasted)
      val p = Multimodal.flacHeader(22050, ch, 16, 40L) ++
        Multimodal.flacFrame(0, smp.map(FlacChannel(_, FlacVerbatim(wasted))))
      val (_, gotCh, n, sum, sq, peak) = Multimodal.sampleStats(p)
      assert(gotCh == ch && n == 40L, s"id=$id wasted=$wasted hdr")
      val vals = smp.flatten.map(_.toLong)
      assert(sum == vals.sum && sq == vals.map(v => v * v).sum &&
        peak == vals.map(math.abs).max, s"id=$id wasted=$wasted stats")
      // CRC still owns bit-flip safety on the wasted path
      val flip = p.clone(); flip(p.length - 4) = (flip(p.length - 4) ^ 0x02).toByte
      assert(Multimodal.sampleStats(flip)._1 == -1)
    }
  }

  // ---- Perceptual audio fingerprint (round-15, VERDICT r14 item 3) ----

  test("audioFp64: stable under WAV↔FLAC re-encode, 2× nearest resample, volume scale") {
    for (id <- Seq(0L, 7L, 131L, 1999L)) {
      val n = 65 * ((id % 4).toInt + 2)
      val s0 = Array.tabulate(n)(i => Multimodal.audioPlantedVal(id, i))
      val wav = Multimodal.wavFromSamples(16000, Array(s0))
      val fp = Multimodal.audioFp64(wav)
      assert(fp.isDefined, s"id=$id wav decodes")
      // lossless FLAC re-encode: zero shared bytes, equal fingerprint
      val flac = Multimodal.flacHeader(16000, 1, 16, n.toLong) ++
        Multimodal.flacFrame(0, Seq(FlacChannel(s0, FlacVerbatim())))
      assert(Multimodal.audioFp64(flac) == fp, s"id=$id flac fp")
      // FLAC with FIXED/Rice encoding of the same samples: same fp too
      // (any 65-divisible split works; one frame keeps windows trivial)
      val flacPred = Multimodal.flacHeader(16000, 1, 16, n.toLong) ++
        Multimodal.flacFrame(0, Seq(FlacChannel(s0, FlacPredicted(2))))
      assert(Multimodal.audioFp64(flacPred) == fp, s"id=$id flac-pred fp")
      // 2× nearest upsample: window-aligned → every window energy
      // doubles → identical comparison bits
      val s2 = Array.tabulate(2 * n)(i => s0(i / 2))
      assert(Multimodal.audioFp64(Multimodal.wavFromSamples(16000, Array(s2))) == fp,
        s"id=$id resampled fp")
      // uniform volume scale (clamped to 16-bit range by construction)
      val loud = s0.map(v => v * 2)
      assert(loud.forall(v => v >= -32768 && v <= 32767))
      assert(Multimodal.audioFp64(Multimodal.wavFromSamples(16000, Array(loud))) == fp,
        s"id=$id volume fp")
      // one muted window: flips at most 2 bits (the two comparisons
      // that touch the window), so the pair stays Hamming-searchable
      val wz = (id % 63).toInt + 1
      val s3 = Array.tabulate(n)(i => if (i.toLong * 65 / n == wz) 0 else s0(i))
      val fp3 = Multimodal.audioFp64(Multimodal.wavFromSamples(16000, Array(s3)))
      assert(fp3.isDefined)
      assert(java.lang.Long.bitCount(fp.get ^ fp3.get) <= 2, s"id=$id muted hamming")
    }
    // undecodable / too-short clips drop, never hash
    assert(Multimodal.audioFp64("RIFFjunk".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.audioFp64(
      Multimodal.wavFromSamples(8000, Array(Array.fill(10)(5)))).isEmpty) // < 65 samples
    // a corrupt chunk size reads as undecodable, never throws
    assert(Multimodal.audioFp64(wavOverflow).isEmpty)
  }

  test("audioNearDupsCapped: equals uncapped below the cap; silence family stays chained") {
    val corpus = Multimodal.synthesizeAudioPerceptualCorpus(docs.filter(col("doc_id") < 60))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = pairSet(Dedup.audioNearDups(corpus))
    assert(exact.nonEmpty)
    assert(pairSet(Dedup.audioNearDupsCapped(corpus, maxBucket = 256)) == exact)
    // digital silence: every clip fingerprints to 0 — the low-entropy
    // family the cap exists for. 40 identical fps under cap 8 must
    // yield the 39 consecutive chain pairs (connected, linear), not
    // the 780-pair clique.
    val silence = spark.createDataset((0L until 40L).map(i =>
      Multimodal.MediaRow(i, "audio",
        Multimodal.wavFromSamples(8000, Array(Array.fill(130)(0))))))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val sil = pairSet(Dedup.audioNearDupsCapped(silence, maxBucket = 8))
    assert(sil == (0L until 39L).map(i => (i, i + 1, 0)).toSet)
    val comps = Dedup.connectedComponents(
      Dedup.audioNearDupsCapped(silence, maxBucket = 8)).collect()
    assert(comps.length == 40 && comps.forall(_.getLong(1) == 0L))
  }

  // ---- MP4 stored-raw sample truth (round-15, VERDICT r14 item 5) ----

  test("mp4SampleStats: planted raw frames recovered via stsz/mdat cross-check") {
    for (id <- Seq(0L, 9L, 333L, 3999L)) {
      val p = Multimodal.mp4WithSamples(id)
      val (fs, nf, sum, fw, peak) = Multimodal.mp4SampleStats(p)
      assert(fs == (id % 49 + 16).toInt && nf == (id % 30 + 4).toInt, s"id=$id geom")
      val bytes = for (f <- 0 until nf; k <- 0 until fs)
        yield (f, Multimodal.mp4FrameByte(id, f, k).toLong)
      assert(sum == bytes.map(_._2).sum, s"id=$id sum")
      assert(fw == bytes.map { case (f, b) => (f + 1) * b }.sum, s"id=$id fw")
      assert(peak == bytes.map(_._2).max, s"id=$id peak")
      // the q206 header surface still reads the same container
      assert(Multimodal.sniffVideo(p)._1 == "mp4")
    }
  }

  test("mp4SampleStats: truncated mdat, padded mdat, and ambiguous tables reject") {
    val p = Multimodal.mp4WithSamples(42L)
    assert(Multimodal.mp4SampleStats(p)._1 > 0)
    // truncated mdat: dropping tail bytes breaks the box-extent walk
    assert(Multimodal.mp4SampleStats(p.dropRight(7))._1 == -1)
    // padded mdat: one extra byte appended and the mdat box size
    // grown to cover it — the walk parses, the stsz cross-check fails
    val fs = (42L % 49 + 16).toInt; val nf = (42L % 30 + 4).toInt
    val mdatLen = fs * nf
    val mdatStart = p.length - mdatLen - 8
    val padded = p ++ Array[Byte](0)
    val size2 = 8 + mdatLen + 1
    padded(mdatStart) = (size2 >> 24).toByte
    padded(mdatStart + 1) = (size2 >> 16).toByte
    padded(mdatStart + 2) = (size2 >> 8).toByte
    padded(mdatStart + 3) = size2.toByte
    assert(Multimodal.mp4SampleStats(padded)._1 == -1)
    // a second mdat is ambiguous, not silently summed
    val twoMdat = p ++ p.slice(mdatStart, p.length)
    assert(Multimodal.mp4SampleStats(twoMdat)._1 == -1)
    // per-sample-size table (stsz sample_size = 0) is outside the
    // stored-raw subset: flip the uniform size field to 0
    val idx = {
      // locate "stsz" ascii
      val pat = "stsz".getBytes("US-ASCII")
      (0 until p.length - 4).find(i => pat.indices.forall(j => p(i + j) == pat(j))).get
    }
    val perSample = p.clone()
    for (j <- 0 until 4) perSample(idx + 8 + j) = 0 // sample_size := 0
    assert(Multimodal.mp4SampleStats(perSample)._1 == -1)
    // non-MP4 payloads reject on the brand check
    assert(Multimodal.mp4SampleStats(Multimodal.bmpWithPixels(1L, 4, 4))._1 == -1)
  }

  // ---- Perceptual image dedup (round-14) ----

  test("dhash64: stable under 2× nearest resize and format re-encode; flips under perturbation") {
    for (id <- Seq(5L, 42L, 307L)) {
      val w = (id % 21 + 4).toInt; val h = (id % 17 + 4).toInt
      val Some((wb, hb, gb)) = Multimodal.imageGrayAny(Multimodal.bmpWithPixels(id, w, h))
      val hOrig = Multimodal.dhash64(wb, hb, gb)
      // PNG of the same planted pixels: zero shared bytes, equal hash
      val Some((wp, hp, gp)) = Multimodal.imageGrayAny(Multimodal.pngWithPixels(id, w, h))
      assert((wp, hp) == ((w, h)))
      assert(Multimodal.dhash64(wp, hp, gp) == hOrig, s"png hash id=$id")
      // 2× nearest resize: index maps compose exactly → identical hash
      val resized = Multimodal.resizeNearest(
        Multimodal.synthesizeBmpPixels(docs.filter(col("doc_id") === id)), 18, 16)
        .collect().head.payload
      val Some((wr, hr, gr)) = Multimodal.imageGrayAny(resized)
      assert((wr, hr) == ((18, 16)))
      assert(Multimodal.dhash64(wr, hr, gr) == hOrig, s"resized hash id=$id")
      // perturbed twin: at most 2 comparisons per sampling row touch
      // the inverted pixel → small positive-or-zero Hamming
      val Some((_, _, gq)) =
        Multimodal.imageGrayAny(Multimodal.bmpFromRgb(w, h, Multimodal.plantedRgbPerturbed(id, w, h)))
      val d = java.lang.Long.bitCount(Multimodal.dhash64(w, h, gq) ^ hOrig)
      assert(d <= 4, s"perturbed hamming $d for id=$id")
    }
    // JPEG payloads decode through the gray path too
    val (jw, jh) = Multimodal.plantedJpegDims(17L)
    val Some((gw, gh, _)) =
      Multimodal.imageGrayAny(Multimodal.jpegWithCoefficients(17L, jw, jh))
    assert((gw, gh) == ((jw, jh)))
  }

  test("imageNearDups: format re-encodes and resizes pair at Hamming 0 via the banded search") {
    val corpus = Multimodal.synthesizePerceptualCorpus(docs.limit(30))
    val pairs = Dedup.imageNearDups(corpus, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    val ids = docs.limit(30).select("doc_id").as[Long].collect()
    ids.foreach { id =>
      // BMP↔PNG and BMP↔resized are exact-hash pairs, always found
      assert(pairs.get((id * 4, id * 4 + 1)).contains(0L), s"bmp-png $id")
      assert(pairs.get((id * 4, id * 4 + 2)).contains(0L), s"bmp-resize $id")
      assert(pairs.get((id * 4 + 1, id * 4 + 2)).contains(0L), s"png-resize $id")
      // the perturbed twin pairs whenever its true distance is ≤ 3
      pairs.get((id * 4, id * 4 + 3)).foreach(d => assert(d >= 0L && d <= 3L))
    }
    // at least some perturbed twins must actually land as near-dups
    assert(ids.count(id => pairs.contains((id * 4, id * 4 + 3))) > 5)
  }

  // ---- JPEG (round-14): the last codec — entropy layer exact,
  // pixel layer pinned by DC-exactness + ImageIO ----

  test("JPEG planted coefficients round-trip EXACTLY through Huffman/RLE/DC-prediction") {
    for (id <- Seq(0L, 7L, 123L, 4095L)) {
      val (w, h) = Multimodal.plantedJpegDims(id)
      val Some((gw, gh, _, blocks)) =
        Multimodal.parseJpegBlocks(Multimodal.jpegWithCoefficients(id, w, h))
      assert(gw == w && gh == h)
      assert(blocks.length == ((w + 7) / 8) * ((h + 7) / 8))
      for (b <- blocks.indices; k <- 0 until 64)
        assert(blocks(b)(k) == Multimodal.plantedJpegCoef(id, b, k),
          s"id=$id block=$b k=$k")
    }
  }

  test("JPEG restart markers: DRI + RSTn round-trip with DC predictor resets") {
    // 6 blocks, restart every 2 — the predictor resets mid-image, so a
    // decoder that ignores RSTn recovers wrong absolute DCs
    val blocks = Array.tabulate(6) { b =>
      val blk = new Array[Int](64)
      blk(0) = 40 * b - 100; blk(5) = b - 2; blk
    }
    val p = Multimodal.jpegFromBlocks(16, 24, blocks, Array.fill(64)(1),
      restartInterval = 2)
    val Some((_, _, _, got)) = Multimodal.parseJpegBlocks(p)
    for (b <- 0 until 6; k <- 0 until 64)
      assert(got(b)(k) == blocks(b)(k), s"block=$b k=$k")
  }

  test("JPEG malformed payloads reject with None") {
    val good = Multimodal.jpegWithCoefficients(5L, 12, 10)
    assert(Multimodal.parseJpegBlocks(good).isDefined)
    assert(Multimodal.parseJpegBlocks(good.take(good.length / 2)).isEmpty) // truncated entropy
    assert(Multimodal.parseJpegBlocks(good.take(30)).isEmpty)              // truncated header
    assert(Multimodal.parseJpegBlocks(Multimodal.bmpWithPixels(5L, 6, 5)).isEmpty)
    val prog = good.clone() // SOF0 → SOF2 (progressive): unsupported, not garbage
    val sofAt = prog.indices.find(i => (prog(i) & 0xff) == 0xff &&
      (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.parseJpegBlocks(prog).isEmpty)
  }

  test("JPEG IDCT: matches the direct T.81 double-precision formula; FDCT inverts it") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 5) {
      val f = Array.fill(64)(rnd.nextInt(401) - 200.0)
      val got = Multimodal.jpegIdct(f)
      for (y <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
          s += cu * cv * f(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        }
        assert(math.abs(got(y * 8 + x) - s / 4) < 1e-9, s"($x,$y)")
      }
      // orthonormal pair: FDCT ∘ IDCT = identity to float precision
      val back = Multimodal.jpegFdct(got)
      for (k <- 0 until 64) assert(math.abs(back(k) - f(k)) < 1e-9)
    }
  }

  test("JPEG DC-only blocks decode to EXACT integers (pixel truth without rounding slack)") {
    // one 8×8 block, only DC set, quant(0) = 16: every pixel is
    // exactly DC·16/8 + 128 = 2·DC + 128 — integer arithmetic, no
    // tolerance needed
    for (dc <- Seq(-60, -1, 0, 13, 63)) {
      val blk = new Array[Int](64); blk(0) = dc
      val q = Array.fill(64)(1); q(0) = 16
      val p = Multimodal.jpegFromBlocks(8, 8, Array(blk), q)
      val Some((_, _, px)) = Multimodal.jpegGrayPixels(p)
      assert(px.forall(_ == 2 * dc + 128), s"dc=$dc")
    }
  }

  test("JPEG pixel round-trip under the all-ones table stays within rounding error") {
    val w = 23; val h = 17
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(w * h)(rnd.nextInt(256))
    val smooth = Array.tabulate(w * h)(i => (i % w) * 5 + (i / w) * 3 + 20)
    for (src <- Seq(noise, smooth)) {
      val Some((_, _, got)) =
        Multimodal.jpegGrayPixels(Multimodal.jpegFromGray(w, h, src))
      // all-ones quant: error is only FDCT-quantize rounding (RMS
      // ~0.3/pixel by orthonormality); 3 gray levels is a generous lid
      for (i <- 0 until w * h)
        assert(math.abs(got(i) - src(i)) <= 3, s"pixel $i: ${got(i)} vs ${src(i)}")
    }
  }

  test("JPEG cross-validation A: our encoder decodes correctly under the JDK's ImageIO") {
    val w = 21; val h = 14
    val rnd = new scala.util.Random(11)
    val src = Array.fill(w * h)(rnd.nextInt(256))
    val bytes = Multimodal.jpegFromGray(w, h, src)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    val Some((_, _, ours)) = Multimodal.jpegGrayPixels(bytes)
    // both decode the SAME coefficients; they may differ only by IDCT
    // rounding (IEEE-1180: conforming implementations within ±1)
    for (y <- 0 until h; x <- 0 until w) {
      val theirs = img.getRaster.getSample(x, y, 0)
      assert(math.abs(theirs - ours(y * w + x)) <= 1, s"pixel ($x,$y)")
    }
  }

  test("JPEG cross-validation B: ImageIO's encoder decodes correctly under our parser") {
    val w = 19; val h = 13
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(23)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val Some((gw, gh, ours)) = Multimodal.jpegGrayPixels(bytes)
    assert(gw == w && gh == h)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until h; x <- 0 until w)
      assert(math.abs(ref.getRaster.getSample(x, y, 0) - ours(y * w + x)) <= 1,
        s"pixel ($x,$y)")
  }

  test("color JPEG: planted per-component coefficients round-trip the interleaved scan exactly") {
    for (id <- Seq(2L, 58L, 901L)) {
      val (w, h) = Multimodal.plantedJpegDims(id)
      val Some((gw, gh, comps)) =
        Multimodal.parseJpegComponents(Multimodal.jpegColorWithCoefficients(id, w, h))
      assert(gw == w && gh == h && comps.length == 3)
      val nb = ((w + 7) / 8) * ((h + 7) / 8)
      for (c <- 0 until 3) {
        assert(comps(c).hs == 1 && comps(c).vs == 1)
        assert(comps(c).blocks.length == nb)
        for (b <- 0 until nb; k <- 0 until 64)
          assert(comps(c).blocks(b)(k) == Multimodal.plantedJpegColorCoef(id, c, b, k),
            s"id=$id c=$c b=$b k=$k")
      }
      // the single-component adapter must NOT accept color payloads
      assert(Multimodal.parseJpegBlocks(
        Multimodal.jpegColorWithCoefficients(id, w, h)).isEmpty)
    }
  }

  test("color JPEG cross-validation A: our 4:4:4 encoder decodes correctly under ImageIO") {
    val id = 77L; val w = 16; val h = 16
    val bytes = Multimodal.jpegColorWithCoefficients(id, w, h)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    val Some((_, _, ours)) = Multimodal.jpegRgb(bytes)
    // same coefficients, both ±1 IDCT rounding, plus YCbCr→RGB
    // rounding on each side → ≤ 2 per channel
    for (y <- 0 until h; x <- 0 until w) {
      val t = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(math.abs(((t >> 16) & 0xff) - (ours(o) & 0xff)) <= 2, s"R ($x,$y)")
      assert(math.abs(((t >> 8) & 0xff) - (ours(o + 1) & 0xff)) <= 2, s"G ($x,$y)")
      assert(math.abs((t & 0xff) - (ours(o + 2) & 0xff)) <= 2, s"B ($x,$y)")
    }
  }

  test("color JPEG cross-validation B: ImageIO's 4:2:0 encoder decodes under our parser") {
    // a gentle gradient: chroma varies slowly, so the box-vs-fancy
    // upsampling difference between decoders stays within a few levels
    val w = 40; val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (0xff << 24) | ((40 + 3 * x) << 16) | ((60 + 2 * y) << 8) | (90 + x + y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val Some((gw, gh, comps)) = Multimodal.parseJpegComponents(bytes)
    assert(gw == w && gh == h && comps.length == 3)
    // the JDK writer subsamples chroma by default — the parser must
    // see mixed sampling factors, not assume 4:4:4
    assert(comps(0).hs * comps(0).vs > comps(1).hs * comps(1).vs,
      s"expected subsampled chroma, got Y ${comps(0).hs}x${comps(0).vs} C ${comps(1).hs}x${comps(1).vs}")
    val Some((_, _, ours)) = Multimodal.jpegRgb(bytes)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until h; x <- 0 until w) {
      val t = ref.getRGB(x, y)
      val o = (y * w + x) * 3
      assert(math.abs(((t >> 16) & 0xff) - (ours(o) & 0xff)) <= 8, s"R ($x,$y)")
      assert(math.abs(((t >> 8) & 0xff) - (ours(o + 1) & 0xff)) <= 8, s"G ($x,$y)")
      assert(math.abs((t & 0xff) - (ours(o + 2) & 0xff)) <= 8, s"B ($x,$y)")
    }
  }

  test("sampleFrames: every k-th 16-byte chunk, explode shape") {
    val frames = Multimodal.sampleFrames(Multimodal.synthesize(docs.limit(3)), everyK = 2)
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_no % 2 == 0))
    assert(frames.forall(_.bytes.length <= 16))
  }

  test("CSV export/source round-trip (S8)") {
    val dir = tempDir("csv")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    graft.sources.Connectors.csvExport(df, dir)
    val back = graft.sources.Connectors.csvSource(spark, dir, df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("ORC + JSON round-trips; JSON schema-on-read drops unknown fields") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val orcDir = tempDir("orc")
    graft.sources.Connectors.orcExport(df, orcDir)
    assert(graft.sources.Connectors.orcSource(spark, orcDir)
      .orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)

    val jsonDir = tempDir("json")
    graft.sources.Connectors.jsonExport(df, jsonDir)
    // narrower explicit schema: unknown field `v` dropped, missing `extra` null
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.StringType)))
    val back = graft.sources.Connectors.jsonSource(spark, jsonDir, schema)
    assert(back.columns.toSeq == Seq("id", "extra"))
    assert(back.filter(col("extra").isNull).count() == 2)
  }

  test("hamming expression: codegen'd distance matches manual count") {
    val df = Seq(("0101", "0001"), ("1111", "1111"), ("10", "01")).toDF("a", "b")
    val got = df.select(graft.functions.HammingExpression.hamming(col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(got == Seq(1, 0, 2))
  }

  test("GraftConfig env parsing with defaults (S9)") {
    val c = graft.sources.GraftConfig.fromEnv(Map("GRAFT_PARTITION" -> "3"))
    assert(c.partition == 3 && c.topic == "feed-topic" && c.shufflePartitions == 32)
    assert(graft.sources.GraftConfig.fromEnv(Map("GRAFT_PARTITION" -> "x")).partition == 0)
  }
}
