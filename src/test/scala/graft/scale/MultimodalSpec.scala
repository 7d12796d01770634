package graft.scale

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir).limit(50)

  test("assets carry the payload bytes and typed metadata") {
    val a = Multimodal.assets(docs).cache()
    assert(a.count() === 50)
    val row = a.head()
    assert(row.content.length.toLong === row.n_bytes)
    assert(Set("png", "jpeg", "webp").contains(row.format))
  }

  test("decodeStub is deterministic and partition-parallel") {
    val a = Multimodal.assets(docs)
    val f1 = Multimodal.decodeStub(a).collect().sortBy(_.asset_id)
    val f2 = Multimodal.decodeStub(a.repartition(7)).collect().sortBy(_.asset_id)
    assert(f1.toSeq === f2.toSeq) // partitioning must not change results
    assert(f1.forall(f => f.width >= 16 && f.height >= 16))
  }

  test("imageDims parses PNG IHDR and JPEG SOF0, including fill bytes and EOI") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0, /* width 256 */ 0, 0, 0, 64 /* height 64 */) ++ new Array[Byte](8)
    assert(Multimodal.imageDims(png) === Some((256, 64)))
    // SOI, APP0 (16-byte segment), SOF0 with height=48 width=320
    val jpeg = bytes(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10) ++ new Array[Byte](14) ++
      bytes(0xFF, 0xC0, 0x00, 0x11, 8, 0x00, 0x30, 0x01, 0x40) ++ new Array[Byte](16)
    assert(Multimodal.imageDims(jpeg) === Some((320, 48)))
    // 0xFF fill bytes between SOI and SOF0 must be skipped one at a time —
    // the pre-fix walk advanced two and aborted on the misaligned C0
    val padded = bytes(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xC0, 0x00, 0x11, 8,
      0x00, 0x30, 0x01, 0x40) ++ new Array[Byte](16)
    assert(Multimodal.imageDims(padded) === Some((320, 48)))
    // EOI before any SOF: no frame header exists; must not read a phantom
    // length field past the marker
    val eoi = bytes(0xFF, 0xD8, 0xFF, 0xD9) ++ new Array[Byte](16)
    assert(Multimodal.imageDims(eoi) === None)
  }

  test("sampleChunks yields n fixed-stride slices per asset") {
    val chunks = Multimodal.sampleChunks(Multimodal.assets(docs).toDF(), n = 4)
    val counts = chunks.groupBy("asset_id").count().select("count").distinct().collect()
    assert(counts.map(_.getLong(0)).toSet === Set(4L))
    // chunk payloads are bounded at 64 bytes
    assert(chunks.filter(octet_length(col("chunk")) > 64).count() === 0)
  }

  test("imageDims parses GIF LSD and WebP VP8L/VP8X headers; truncation is None") {
    // round trip through the synthesizers (the q91 fixtures)
    assert(Multimodal.imageDims(Multimodal.gifBytes(640, 480)) === Some((640, 480)))
    assert(Multimodal.imageDims(Multimodal.gifBytes(1, 1)) === Some((1, 1)))
    assert(Multimodal.imageDims(Multimodal.webpBytes(640, 480)) === Some((640, 480)))
    // VP8L packs 14-bit fields: a dimension crossing the byte boundary
    assert(Multimodal.imageDims(Multimodal.webpBytes(300, 5000)) === Some((300, 5000)))
    // hand-built VP8X: canvas 256x128 as u24le (w-1, h-1) at offsets 24/27
    val vp8x = "RIFF".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0) ++
      "WEBP".getBytes("US-ASCII") ++ "VP8X".getBytes("US-ASCII") ++
      Array.fill[Byte](4)(0) ++ Array.fill[Byte](4)(0) ++
      Array[Byte](0xFF.toByte, 0, 0) ++ Array[Byte](0x7F, 0, 0)
    assert(Multimodal.imageDims(vp8x) === Some((256, 128)))
    // truncation and wrong magic fail closed
    assert(Multimodal.imageDims(Multimodal.gifBytes(640, 480).take(8)) === None)
    assert(Multimodal.imageDims(Multimodal.webpBytes(640, 480).take(20)) === None)
    assert(Multimodal.imageDims("GIF99a??".getBytes("US-ASCII")) === None)
  }

  test("wavInfo walks RIFF chunks to (channels, rate, n_samples); corrupt is None") {
    assert(Multimodal.wavInfo(Multimodal.wavBytes(2, 44100, 44100L)) ===
      Some((2, 44100, 44100L)))
    assert(Multimodal.wavInfo(Multimodal.wavBytes(1, 8000, 123L)) === Some((1, 8000, 123L)))
    // an extra chunk before fmt must be skipped by the walk (word-aligned)
    val padded = "RIFF".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0) ++
      "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0) ++
      Multimodal.wavBytes(1, 16000, 500L).drop(12)
    assert(Multimodal.wavInfo(padded) === Some((1, 16000, 500L)))
    assert(Multimodal.wavInfo(Multimodal.wavBytes(1, 8000, 10L).take(20)) === None)
    assert(Multimodal.wavInfo("RIFFxxxxAVI ".getBytes("US-ASCII")) === None)
    // a chunk lying about its size (u32 max would wrap the cursor) must
    // terminate the walk, not hang or scan past the payload
    val lying = "RIFF".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0) ++
      "WAVE".getBytes("US-ASCII") ++
      "JUNK".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0xFF.toByte) ++
      Multimodal.wavBytes(1, 16000, 500L).drop(12)
    assert(Multimodal.wavInfo(lying) === None)
  }

  test("resizeStub: half-size nearest-neighbor sampling, hand-checked buffer") {
    import spark.implicits._
    // a 16-byte payload -> 4x4 buffer; resize picks rows/cols 0 and 2:
    // bytes 0,2,8,10
    val content = (0 until 16).map(_.toByte).toArray
    val one = Seq(Multimodal.Asset(1L, content, "png", 16L)).toDS()
    val r = Multimodal.resizeStub(one).head()
    assert((r.w, r.h, r.rw, r.rh) === ((4, 4, 2, 2)))
    assert(r.resized.toSeq === Seq[Byte](0, 2, 8, 10))
    assert(r.checksum === 0 * 1 + 2 * 2 + 8 * 3 + 10 * 4)
    // degenerate payload: too small to resize -> empty buffer, checksum 0
    val tiny = Seq(Multimodal.Asset(2L, Array[Byte](7, 7), "png", 2L)).toDS()
    val t = Multimodal.resizeStub(tiny).head()
    assert((t.rw, t.rh, t.checksum) === ((0, 0, 0L)))
    assert(t.resized.isEmpty)
  }

  test("PNG codec: hand-computed 2x2 image round-trips through real deflate/inflate") {
    val pixels = Array[Byte](10, 20, 30, 40)
    val png = Multimodal.pngEncodeGray(pixels, 2, 2)
    // it is a real PNG: the header-only parser agrees on dimensions
    assert(Multimodal.imageDims(png) === Some((2, 2)))
    val Some((w, h, decoded)) = Multimodal.pngDecodeGray(png)
    assert((w, h) === ((2, 2)))
    assert(decoded.toSeq === pixels.toSeq)
  }

  test("PNG codec: all five filter types reconstruct exactly (image taller than 5 rows)") {
    // 7 rows exercise filters 0,1,2,3,4,0,1; adversarial pixel values hit
    // the Average floor and Paeth tie-break branches
    val w = 6; val h = 7
    val pixels = Array.tabulate(w * h)(k => ((k * 37 + (k * k) % 251) % 256).toByte)
    val Some((dw, dh, decoded)) = Multimodal.pngDecodeGray(Multimodal.pngEncodeGray(pixels, w, h))
    assert((dw, dh) === ((w, h)))
    assert(decoded.toSeq === pixels.toSeq)
    // and the decoded buffer feeds the resize arithmetic
    val (rw, rh, rs) = Multimodal.halfSize(decoded, dw, dh)
    assert((rw, rh) === ((3, 3)))
    assert(rs.toSeq === (for (i <- 0 until 3; j <- 0 until 3)
      yield pixels((2 * i) * w + 2 * j)).toSeq)
  }

  test("PNG decode fails closed: bad CRC, truncated IDAT, non-grayscale, garbage") {
    val png = Multimodal.pngEncodeGray(Array.tabulate(16)(_.toByte), 4, 4)
    // flip one IDAT payload byte: CRC check must reject, not mis-decode
    val corrupt = png.clone()
    corrupt(8 + 25 + 8 + 2) = (corrupt(8 + 25 + 8 + 2) ^ 0x01).toByte
    assert(Multimodal.pngDecodeGray(corrupt) === None)
    assert(Multimodal.pngDecodeGray(png.dropRight(20)) === None)
    assert(Multimodal.pngDecodeGray("not a png at all".getBytes("US-ASCII")) === None)
    // lying colorType: a truecolor header over 1-byte/px gray data is a
    // SHORT pixel stream for bpp=3 and must fail closed, not mis-decode
    val ihdrData = png.slice(16, 29)
    ihdrData(9) = 2 // IHDR data: w[0-3] h[4-7] depth[8] colorType[9]
    val crc = new java.util.zip.CRC32()
    crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdrData)
    val rgb = png.take(16) ++ ihdrData ++ Array(
      ((crc.getValue >> 24) & 0xff).toByte, ((crc.getValue >> 16) & 0xff).toByte,
      ((crc.getValue >> 8) & 0xff).toByte, (crc.getValue & 0xff).toByte) ++ png.drop(33)
    assert(Multimodal.pngDecodeGray(rgb) === None)
    // interlace FLAG over sequential scanline data: the Adam7 pass layout
    // needs more raw bytes than the sequential stream carries, so this is
    // a short pixel stream — corrupt input, fail closed (genuine Adam7
    // content decodes; see the interlace round-trip law below)
    val ihdrI = png.slice(16, 29)
    ihdrI(12) = 1
    val crcI = new java.util.zip.CRC32()
    crcI.update("IHDR".getBytes("US-ASCII")); crcI.update(ihdrI)
    val inter = png.take(16) ++ ihdrI ++ Array(
      ((crcI.getValue >> 24) & 0xff).toByte, ((crcI.getValue >> 16) & 0xff).toByte,
      ((crcI.getValue >> 8) & 0xff).toByte, (crcI.getValue & 0xff).toByte) ++ png.drop(33)
    assert(Multimodal.pngDecodeGray(inter) === None)
    // 16-bit depth: the remaining fail-closed PNG class (q298's witness)
    assert(Multimodal.pngDecodeGray(
      Multimodal.png16BitBytes(Array.tabulate(16)(_.toByte), 4, 4)) === None)
    // attacker-sized IHDR dims must reject BEFORE allocation (r18 ADVICE)
    val ihdrBig = png.slice(16, 29)
    ihdrBig(0) = 0x7f; ihdrBig(1) = 0xff.toByte // w = huge
    val crcB = new java.util.zip.CRC32()
    crcB.update("IHDR".getBytes("US-ASCII")); crcB.update(ihdrBig)
    val big = png.take(16) ++ ihdrBig ++ Array(
      ((crcB.getValue >> 24) & 0xff).toByte, ((crcB.getValue >> 16) & 0xff).toByte,
      ((crcB.getValue >> 8) & 0xff).toByte, (crcB.getValue & 0xff).toByte) ++ png.drop(33)
    assert(Multimodal.pngDecodeGray(big) === None)
  }

  test("Adam7 interlaced PNG reconstructs the exact pixels (odd dims, gray + truecolor)") {
    // odd dimensions exercise partial passes (some passes have ragged
    // widths/heights; 13x11 leaves none empty, 3x2 skips most)
    for ((w, h) <- Seq((13, 11), (8, 6), (3, 2), (16, 16))) {
      val gray = Array.tabulate(w * h)(k => ((k * 53 + (k * k) % 241) % 256).toByte)
      val Some((dw, dh, dec)) =
        Multimodal.pngDecodeGray(Multimodal.pngEncodeGrayAdam7(gray, w, h))
      assert((dw, dh) === ((w, h)))
      assert(dec.toSeq === gray.toSeq, s"gray Adam7 mismatch at ${w}x$h")
      // interlaced truecolor of the colorLift → exact luma
      val rgb = new Array[Byte](w * h * 3)
      gray.zipWithIndex.foreach { case (v, k) =>
        val (r, g, b) = Multimodal.colorLift(v & 0xff)
        rgb(3 * k) = r.toByte; rgb(3 * k + 1) = g.toByte; rgb(3 * k + 2) = b.toByte
      }
      val Some((_, _, cy)) =
        Multimodal.pngDecodeGray(Multimodal.pngEncodeRgbAdam7(rgb, w, h))
      assert(cy.toSeq === gray.toSeq, s"rgb Adam7 mismatch at ${w}x$h")
    }
  }

  test("tRNS decodes when opaque in practice; an actually-transparent pixel fails closed") {
    val w = 8; val h = 4
    val gray = Array.tabulate(w * h)(k => (k * 7 % 250).toByte)
    // palette + all-255 alpha table SHORTER than the palette (tail
    // defaults opaque): decodes to the exact palette luma
    val plte = Multimodal.ColorLiftPalette
    val Some((_, _, py)) = Multimodal.pngDecodeGray(
      Multimodal.pngEncodePaletteTrns(gray, plte, Array.fill(100)(255.toByte), w, h))
    assert(py.toSeq === gray.toSeq)
    // a non-opaque alpha on an index NO pixel uses is harmless...
    val alphaUnused = Array.fill(256)(255.toByte)
    alphaUnused(251) = 0 // 251 never appears (values are k*7 % 250)
    val Some((_, _, pu)) = Multimodal.pngDecodeGray(
      Multimodal.pngEncodePaletteTrns(gray, plte, alphaUnused, w, h))
    assert(pu.toSeq === gray.toSeq)
    // ...but on a USED index it fails closed
    val alphaUsed = Array.fill(256)(255.toByte)
    alphaUsed(gray(3) & 0xff) = 128.toByte
    assert(Multimodal.pngDecodeGray(
      Multimodal.pngEncodePaletteTrns(gray, plte, alphaUsed, w, h)) === None)
    // gray color key out of 8-bit range (or unused): decodes; used: closed
    val Some((_, _, ky)) = Multimodal.pngDecodeGray(
      Multimodal.pngEncodeGrayTrnsKey(gray, w, h, 256))
    assert(ky.toSeq === gray.toSeq)
    val Some((_, _, ku)) = Multimodal.pngDecodeGray(
      Multimodal.pngEncodeGrayTrnsKey(gray, w, h, 251))
    assert(ku.toSeq === gray.toSeq)
    assert(Multimodal.pngDecodeGray(
      Multimodal.pngEncodeGrayTrnsKey(gray, w, h, gray(5) & 0xff)) === None)
  }

  test("color PNG/GIF/VP8L decode to the exact q225 luma; alpha fails closed") {
    val w = 8; val h = 6
    val gray = Array.tabulate(w * h)(k => (16 + 4 * k).toByte)
    // truecolor PNG of the colorLift: luma(v+3, v, v-8) == v exactly
    val rgb = new Array[Byte](w * h * 3)
    gray.zipWithIndex.foreach { case (v, k) =>
      val (r, g, b) = Multimodal.colorLift(v & 0xff)
      rgb(3 * k) = r.toByte; rgb(3 * k + 1) = g.toByte; rgb(3 * k + 2) = b.toByte
    }
    val Some((pw, ph, py)) = Multimodal.pngDecodeGray(Multimodal.pngEncodeRgb(rgb, w, h))
    assert((pw, ph) === ((w, h)) && py.toSeq === gray.toSeq)
    // RGBA with full alpha decodes; one alpha byte < 255 fails closed
    val rgba = new Array[Byte](w * h * 4)
    gray.zipWithIndex.foreach { case (v, k) =>
      val (r, g, b) = Multimodal.colorLift(v & 0xff)
      rgba(4 * k) = r.toByte; rgba(4 * k + 1) = g.toByte
      rgba(4 * k + 2) = b.toByte; rgba(4 * k + 3) = 255.toByte
    }
    val Some((_, _, ay)) = Multimodal.pngDecodeGray(Multimodal.pngEncodeRgba(rgba, w, h))
    assert(ay.toSeq === gray.toSeq)
    val translucent = rgba.clone(); translucent(4 * 5 + 3) = 254.toByte
    assert(Multimodal.pngDecodeGray(Multimodal.pngEncodeRgba(translucent, w, h)) === None)
    // palette PNG: indices through a colorLift PLTE
    val plte = new Array[Byte](768)
    (0 until 256).foreach { v =>
      val (r, g, b) = Multimodal.colorLift(v)
      plte(3 * v) = r.toByte; plte(3 * v + 1) = g.toByte; plte(3 * v + 2) = b.toByte
    }
    val Some((_, _, paly)) = Multimodal.pngDecodeGray(
      Multimodal.pngEncodePalette(gray, plte, w, h))
    assert(paly.toSeq === gray.toSeq)
    // an index past the palette fails closed (PLTE cut to 64 entries)
    assert(Multimodal.pngDecodeGray(
      Multimodal.pngEncodePalette(gray, plte.take(192), w, h)) === None)
    // color-palette GIF
    val Some((gw, gh, gy)) = Multimodal.gifDecodeGray(
      Multimodal.gifEncodeIndexed(gray, plte, w, h))
    assert((gw, gh) === ((w, h)) && gy.toSeq === gray.toSeq)
    // color VP8L; and gray input through the RGB encoder stays the old bytes
    val Some((vw, vh, vy)) = Multimodal.webpDecodeGray(
      Multimodal.webpEncodeRgbVp8l(rgb, w, h))
    assert((vw, vh) === ((w, h)) && vy.toSeq === gray.toSeq)
    // non-lifted genuine color: luma is the q225 fixed-point value
    val one = Array[Byte](200.toByte, 30, 90)
    val Some((_, _, oy)) = Multimodal.pngDecodeGray(Multimodal.pngEncodeRgb(one, 1, 1))
    assert((oy(0) & 0xff) === ((19595 * 200 + 38470 * 30 + 7471 * 90 + 32768) >> 16))
  }

  test("mp4Info reads mvhd v0 and v1; lying box sizes and non-MP4 are None") {
    assert(Multimodal.mp4Info(Multimodal.mp4Bytes(600, 12345L, v1 = false)) ===
      Some((600, 12345L)))
    assert(Multimodal.mp4Info(Multimodal.mp4Bytes(90000, 1L << 33, v1 = true)) ===
      Some((90000, 1L << 33))) // v1 duration exceeds u32 — the 64-bit read path
    assert(Multimodal.mp4Info(Multimodal.mp4Bytes(600, 100L, v1 = false).take(20)) === None)
    assert(Multimodal.mp4Info("RIFF....WAVE".getBytes("US-ASCII")) === None)
    // a moov whose declared size overruns the payload fails closed
    val truncatedMoov = Multimodal.mp4Bytes(600, 100L, v1 = false).dropRight(4)
    assert(Multimodal.mp4Info(truncatedMoov) === None)
  }

  test("GIF round trip: pixels survive encode/decode, incl. LZW width growth and dict reset") {
    // small image with the KwKwK pattern (runs of equal bytes hit it)
    val runs = Array.tabulate(48)(k => (k / 7).toByte)
    val Some((w1, h1, d1)) = Multimodal.gifDecodeGray(Multimodal.gifEncodeGray(runs, 8, 6))
    assert((w1, h1) === ((8, 6)) && d1.toSeq === runs.toSeq)
    // large high-entropy image: the dictionary crosses the 512/1024/2048
    // code-width boundaries AND the 4096-entry clear-code reset
    val rnd = new scala.util.Random(42)
    val big = Array.fill(96 * 96)(rnd.nextInt(256).toByte)
    val Some((w2, h2, d2)) = Multimodal.gifDecodeGray(Multimodal.gifEncodeGray(big, 96, 96))
    assert((w2, h2) === ((96, 96)) && d2.toSeq === big.toSeq)
  }

  test("GIF encoder emits REAL spec GIF: the JDK's own ImageIO reader agrees pixel-for-pixel") {
    // independent-decoder law — a private LZW dialect would round-trip
    // through our decoder and still fail here
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((8, 6), (33, 17), (96, 96))) {
      val pixels = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val gif = Multimodal.gifEncodeGray(pixels, w, h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
      assert(img != null, s"ImageIO rejected our $w x $h GIF")
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val expected = pixels(y * w + x) & 0xff
        val rgb = img.getRGB(x, y)
        assert((rgb & 0xff) === expected && ((rgb >> 8) & 0xff) === expected &&
          ((rgb >> 16) & 0xff) === expected,
          s"pixel ($x,$y): ImageIO ${rgb.toHexString} vs $expected")
      }
    }
  }

  test("GIF decode fails closed: truncation, bad palette ref, garbage; a lying interlace flag permutes rows deterministically") {
    val pixels = Array.tabulate(24)(_.toByte)
    val gif = Multimodal.gifEncodeGray(pixels, 6, 4)
    assert(Multimodal.gifDecodeGray(gif.dropRight(8)) === None)
    assert(Multimodal.gifDecodeGray("GIF89a".getBytes("US-ASCII")) === None)
    assert(Multimodal.gifDecodeGray("not a gif".getBytes("US-ASCII")) === None)
    // flip the interlace flag in the image descriptor (offset: 13 header +
    // 768 GCT + 9 into the descriptor). Since r19 the decoder HONORS the
    // flag, so a lying flag yields exactly the appendix-E row scatter of
    // the sequential data (h=4 passes: rows 0,2 then 1,3 -> scatter
    // 0->0, 1->2, 2->1, 3->3) — deterministic, never None, never garbage
    val interlaced = gif.clone()
    val idOff = 13 + 768
    assert((interlaced(idOff) & 0xff) === 0x2c)
    interlaced(idOff + 9) = (interlaced(idOff + 9) | 0x40).toByte
    val scattered = Multimodal.gifDecodeGray(interlaced)
    assert(scattered.isDefined)
    val rowOf = Array(0, 2, 1, 3) // source row n lands on display row rowOf(n)
    val expect = new Array[Byte](24)
    for (n <- 0 until 4; x <- 0 until 6)
      expect(rowOf(n) * 6 + x) = pixels(n * 6 + x)
    assert(scattered.get._3.toSeq === expect.toSeq)
    // corrupt a byte mid-LZW-stream: either an invalid code or a frame
    // fill mismatch — never a silent wrong buffer... the stream may still
    // decode to DIFFERENT bytes of the right length for some corruptions,
    // so assert only on the shapes the protocol must catch: here we zero
    // the sub-block SIZE byte, truncating the stream before EOI
    val cut = gif.clone()
    cut(idOff + 10 + 1) = 0 // first sub-block length byte -> premature terminator
    assert(Multimodal.gifDecodeGray(cut) === None)
  }

  test("PCM WAV round trip: known samples survive encode/decode; truncated data fails closed") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val wav = Multimodal.wavBytesPcm(8000, samples)
    assert(Multimodal.wavPcmSamples(wav).map(_.toSeq) === Some(samples.toSeq))
    // header metadata agrees with the payload
    assert(Multimodal.wavInfo(wav) === Some((1, 8000, samples.length.toLong)))
    // data chunk declared longer than the payload: decode refuses
    assert(Multimodal.wavPcmSamples(wav.dropRight(2)) === None)
    assert(Multimodal.wavPcmSamples("RIFFxxxxWAVE".getBytes("US-ASCII")) === None)
  }

  test("JPEG codec: block-constant images round-trip EXACTLY under the flat quant table") {
    // the q214 losslessness basis: one DC coefficient 8·(v−128) per block,
    // quantizer 8 — every division a power of two, zero rounding loss
    for ((w, h) <- Seq((8, 8), (24, 16), (16, 8))) {
      val pixels = Array.tabulate(w * h) { k =>
        val bi = (k / w) / 8; val bj = (k % w) / 8
        ((bi * 91 + bj * 53 + 7) % 256).toByte
      }
      val jpg = Multimodal.jpegEncodeGray(pixels, w, h, Multimodal.JpegFlatQuant8)
      val Some((dw, dh, out)) = Multimodal.jpegDecodeGray(jpg)
      assert((dw, dh) === ((w, h)))
      assert(out.toSeq === pixels.toSeq)
    }
  }

  test("JPEG encoder emits REAL spec JPEG: ImageIO decodes it within IDCT tolerance") {
    // arbitrary (non-constant) pixels, the genuinely lossy standard table,
    // and a NON-multiple-of-8 size so edge-padded partial blocks are
    // exercised. ImageIO's IDCT differs from ours in rounding, so the law
    // is agreement within ±1 per pixel — the cross-decoder form of the GIF
    // law, adapted to a lossy codec.
    val (w, h) = (21, 13)
    val rnd = new scala.util.Random(42)
    val pixels = Array.tabulate(w * h)(_ => rnd.nextInt(256).toByte)
    val jpg = Multimodal.jpegEncodeGray(pixels, w, h)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, s"ImageIO rejected our $w x $h JPEG")
    assert(img.getWidth === w && img.getHeight === h)
    val Some((dw, dh, mine)) = Multimodal.jpegDecodeGray(jpg)
    assert((dw, dh) === ((w, h)))
    for (y <- 0 until h; x <- 0 until w) {
      val io = img.getRaster.getSample(x, y, 0)
      val us = mine(y * w + x) & 0xff
      assert(math.abs(io - us) <= 1,
        s"pixel ($x,$y): ImageIO $io vs ours $us")
    }
  }

  test("JPEG decoder reads FOREIGN files: the JDK writer's output (its own tables) decodes") {
    // the JDK encoder picks its own quantization and Huffman tables and
    // emits APP0/JFIF — none of which match ours. Decoding its file pins
    // the general DQT/DHT/segment walk, not just our own encoder's shapes.
    val (w, h) = (19, 11)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(7)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpg = bos.toByteArray
    val Some((dw, dh, mine)) = Multimodal.jpegDecodeGray(jpg)
    assert((dw, dh) === ((w, h)))
    // reference: ImageIO re-reading its own bytes; ±1 IDCT tolerance
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    for (y <- 0 until h; x <- 0 until w) {
      val io = ref.getRaster.getSample(x, y, 0)
      val us = mine(y * w + x) & 0xff
      assert(math.abs(io - us) <= 1, s"pixel ($x,$y): ImageIO $io vs ours $us")
    }
  }

  test("JPEG decode fails closed: progressive, truncation, non-grayscale, garbage") {
    val pixels = Array.tabulate(64)(i => (i * 4).toByte)
    val jpg = Multimodal.jpegEncodeGray(pixels, 8, 8)
    // progressive: rewrite the SOF0 marker to SOF2 — a baseline-only
    // decoder must refuse the frame, not misparse the scan
    val prog = jpg.clone()
    val sof = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    assert(Multimodal.jpegDecodeGray(prog) === None)
    // truncation inside the entropy-coded scan: never a partial buffer
    assert(Multimodal.jpegDecodeGray(jpg.dropRight(jpg.length / 3)) === None)
    // a 3-component (color) SOF: grayscale-only path refuses
    val color = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(color, "jpg", bos)
    assert(Multimodal.jpegDecodeGray(bos.toByteArray) === None)
    assert(Multimodal.jpegDecodeGray("not a jpeg at all".getBytes("US-ASCII")) === None)
    assert(Multimodal.jpegDecodeGray(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
    // a scan naming a component id the frame does not declare
    val strange = jpg.clone()
    val sos = strange.indices.find(i =>
      (strange(i) & 0xff) == 0xff && (strange(i + 1) & 0xff) == 0xda).get
    assert((strange(sos + 5) & 0xff) === 1, "SOS component selector located")
    strange(sos + 5) = 2
    assert(Multimodal.jpegDecodeGray(strange) === None)
  }

  test("audio envelope: slice exactness; gain/decimation/dither invariance through the WAV roundtrip") {
    // block-structured samples: slice i constant at (i*37+100)*64 — envelope
    // value is the closed form ((v div L) div 128) with zero jitter
    val L = 16
    val base = Array.tabulate(64 * L)(t => (((t / L) * 37 + 100) * 8).toShort)
    val env = Multimodal.audioEnvelope64(base)
    for (i <- 0 until 64)
      assert((env(i) & 0xff) === ((i * 37 + 100) * 8) / 128)
    val want = Multimodal.dHash56(env, 8, 8)
    // exact half gain: slice-mean order preserved → same hash
    assert(Multimodal.dHash56(
      Multimodal.audioEnvelope64(base.map(v => (v / 2).toShort)), 8, 8) === want)
    // 2:1 decimation: block structure survives every-other-sample → same hash
    assert(Multimodal.dHash56(
      Multimodal.audioEnvelope64(Array.tabulate(32 * L)(t => base(2 * t))), 8, 8) === want)
    // +1 dither on every 7th sample: sub-truncation perturbation → same hash
    assert(Multimodal.dHash56(
      Multimodal.audioEnvelope64(Array.tabulate(64 * L)(t =>
        (base(t) + (if (t % 7 == 0) 1 else 0)).toShort)), 8, 8) === want)
    // the WAV container roundtrip is sample-exact, so hashes survive it
    val Some(rt) = Multimodal.wavPcmSamples(Multimodal.wavBytesPcm(8000, base))
    assert(rt.toSeq === base.toSeq)
    // rectification: a sign-flipped clip has the identical envelope
    assert(Multimodal.audioEnvelope64(base.map(v => (-v).toShort)).toSeq === env.toSeq)
  }

  test("perceptual hashes: pool exactness, resolution/container invariance, known bits") {
    // 16x16 image, 2x2-pixel cells: pool == the 8x8 value grid exactly
    val g = Array.tabulate(64)(i => (i * 3 + 7) % 256)
    val img = Array.tabulate(16 * 16) { p =>
      g(((p / 16) / 2) * 8 + (p % 16) / 2).toByte
    }
    assert(Multimodal.pool8x8(img, 16, 16).toSeq === g.toSeq)
    // dHash bit (r,c) = g(r,c+1) > g(r,c); with +3 steps and one wrap the
    // expected mask is closed-form
    val want = {
      var h = 0L
      for (r <- 0 until 8; c <- 0 until 7)
        if (g(r * 8 + c + 1) > g(r * 8 + c)) h |= 1L << (r * 7 + c)
      h
    }
    assert(Multimodal.dHash56(img, 16, 16) === want)
    // half-size keeps the pool (cells shrink, content doesn't): same hash
    val (hw, hh2, half) = Multimodal.halfSize(img, 16, 16)
    assert(Multimodal.dHash56(half, hw, hh2) === Multimodal.dHash56(img, 16, 16))
    // container roundtrips preserve the hash (lossless codecs)
    val Some((_, _, png)) = Multimodal.pngDecodeGray(Multimodal.pngEncodeGray(img, 16, 16))
    assert(Multimodal.dHash56(png, 16, 16) === want)
    // aHash: bit set iff cell above the integer mean
    val mean = g.map(_.toLong).sum / 64
    val wantA = (0 until 64).foldLeft(0L)((h, i) => if (g(i) > mean) h | (1L << i) else h)
    assert(Multimodal.aHash64(img, 16, 16) === wantA)
  }

  test("phashPairs: banding is exhaustive within the Hamming threshold (== brute force)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // random 56-bit hashes plus planted near pairs at distances 0..7
    val base = (0 until 60).map(i => (i.toLong, rnd.nextLong() & ((1L << 56) - 1)))
    val planted = (0 until 8).map { d =>
      val (_, h) = base(d)
      var p = h
      (0 until d).foreach(j => p ^= 1L << ((j * 7 + d) % 56))
      (1000L + d, p)
    }
    val hashes = (base ++ planted).toDF("asset_id", "dhash")
    val got = Multimodal.phashPairs(hashes).as[(Long, Long)].collect().toSet
    val all = (base ++ planted)
    val brute = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    assert(got === brute)
    // the planted pairs at d <= 6 are in; the d = 7 pair is out
    for (d <- 0 to 6) assert(got.contains((d.toLong, 1000L + d)), s"d=$d missing")
    assert(!got.contains((7L, 1007L)))
  }

  test("JPEG decoder accepts per-image OPTIMIZED Huffman tables (JDK writer, optimize on)") {
    // with optimizeHuffmanTables the JDK writer derives image-specific
    // canonical tables instead of the Annex-K defaults — decoding its file
    // pins the general DHT rebuild against a second, independent table
    // shape (the first foreign-file law uses the JDK's default tables)
    val (w, h) = (32, 8) // 4 MCUs
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val rnd = new scala.util.Random(11)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
      .asInstanceOf[javax.imageio.plugins.jpeg.JPEGImageWriteParam]
    param.setOptimizeHuffmanTables(true)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val jpg = bos.toByteArray
    val Some((dw, dh, mine)) = Multimodal.jpegDecodeGray(jpg)
    assert((dw, dh) === ((w, h)))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    for (y <- 0 until h; x <- 0 until w) {
      val io = ref.getRaster.getSample(x, y, 0)
      val us = mine(y * w + x) & 0xff
      assert(math.abs(io - us) <= 1, s"pixel ($x,$y): ImageIO $io vs ours $us")
    }
  }

  test("animated GIF: all frames round-trip exactly, incl. dict-reset-sized frames") {
    val rnd = new scala.util.Random(11)
    for ((w, h, n) <- Seq((8, 6, 1), (33, 17, 3), (96, 96, 4))) {
      val frames = Seq.fill(n)(Array.fill(w * h)(rnd.nextInt(256).toByte))
      val gif = Multimodal.gifEncodeGrayAnimated(frames, w, h)
      val Some((dw, dh, out)) = Multimodal.gifDecodeGrayFrames(gif)
      assert((dw, dh) === ((w, h)) && out.size === n)
      for (f <- 0 until n)
        assert(out(f).toSeq === frames(f).toSeq, s"frame $f of $w x $h x $n")
    }
  }

  test("animated GIF encoder emits REAL spec GIF89a: ImageIO reads every frame pixel-for-pixel") {
    // independent-decoder law for the ANIMATED subset: a private frame
    // walk would round-trip through our own decoder and still fail here
    val rnd = new scala.util.Random(13)
    val w = 24; val h = 16; val n = 3
    val frames = Seq.fill(n)(Array.fill(w * h)(rnd.nextInt(256).toByte))
    val gif = Multimodal.gifEncodeGrayAnimated(frames, w, h, delayCs = 5)
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    reader.setInput(iis)
    assert(reader.getNumImages(true) === n, "ImageIO frame count")
    for (f <- 0 until n) {
      val img = reader.read(f)
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val expected = frames(f)(y * w + x) & 0xff
        assert((img.getRGB(x, y) & 0xff) === expected,
          s"frame $f pixel ($x,$y)")
      }
    }
    reader.dispose(); iis.close()
  }

  test("animated GIF decode fails closed: truncation, partial-frame descriptor, empty, garbage") {
    val frames = Seq(Array.tabulate(24)(_.toByte), Array.tabulate(24)(k => (k * 3).toByte))
    val gif = Multimodal.gifEncodeGrayAnimated(frames, 6, 4)
    assert(Multimodal.gifDecodeGrayFrames(gif.dropRight(6)) === None)
    assert(Multimodal.gifDecodeGrayFrames("GIF89a".getBytes("US-ASCII")) === None)
    assert(Multimodal.gifDecodeGrayFrames("not a gif".getBytes("US-ASCII")) === None)
    // zero-frame stream: header + GCT + immediate trailer is a syntactic
    // GIF but carries no image — the frames contract refuses it
    val empty = new java.io.ByteArrayOutputStream()
    empty.write(java.util.Arrays.copyOfRange(gif, 0, 13 + 768))
    empty.write(0x3b)
    assert(Multimodal.gifDecodeGrayFrames(empty.toByteArray) === None)
    // shrink frame 0's descriptor to a partial-screen frame: compositing
    // disposal is out of scope, so the strict decoder must refuse
    val partial = gif.clone()
    val idOff = 13 + 768 + 19 + 8 // header+GCT, NETSCAPE ext, GCE -> descriptor
    assert((partial(idOff) & 0xff) === 0x2c, "descriptor offset")
    partial(idOff + 5) = 5; partial(idOff + 6) = 0 // fw: 6 -> 5
    assert(Multimodal.gifDecodeGrayFrames(partial) === None)
    // the single-frame animated stream stays readable by the STILL decoder
    val one = Multimodal.gifEncodeGrayAnimated(frames.take(1), 6, 4)
    val Some((w1, h1, d1)) = Multimodal.gifDecodeGray(one)
    assert((w1, h1) === ((6, 4)) && d1.toSeq === frames.head.toSeq)
  }

  test("color JPEG: macroblock-constant 4:2:0 round-trip is EXACTLY the fixed-point YCC chain") {
    val w = 32; val h = 32
    val rgb = new Array[Byte](3 * w * h)
    for (p <- 0 until w * h) {
      val mb = ((p / w) / 16) * 2 + (p % w) / 16
      rgb(3 * p) = ((37 + mb * 51) % 256).toByte
      rgb(3 * p + 1) = ((91 + mb * 77) % 256).toByte
      rgb(3 * p + 2) = ((13 + mb * 29) % 256).toByte
    }
    val jpg = Multimodal.jpegEncodeColor420(rgb, w, h,
      Multimodal.JpegFlatQuant8, Multimodal.JpegFlatQuant8)
    val Some((dw, dh, out)) = Multimodal.jpegDecodeColor(jpg)
    assert((dw, dh) === ((w, h)))
    for (p <- 0 until w * h) {
      val (y, cb, cr) = Multimodal.rgbToYcc(
        rgb(3 * p) & 0xff, rgb(3 * p + 1) & 0xff, rgb(3 * p + 2) & 0xff)
      val (er, eg, eb) = Multimodal.yccToRgb(y, cb, cr)
      assert((out(3 * p) & 0xff, out(3 * p + 1) & 0xff, out(3 * p + 2) & 0xff)
        === ((er, eg, eb)), s"pixel $p")
    }
  }

  test("color JPEG decoder reads FOREIGN files: ImageIO's own 4:2:0 output, within IDCT tolerance") {
    // uniform-chroma content (r=g=b) so the decoders' different chroma
    // upsampling filters cannot contribute — the residual ±1 is IDCT
    // rounding, same tolerance as the grayscale foreign-file law
    val w = 32; val h = 32
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 8 + y * 3) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val foreign = bos.toByteArray
    val Some((dw, dh, out)) = Multimodal.jpegDecodeColor(foreign)
    assert((dw, dh) === ((w, h)))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(foreign))
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val io = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      val us = out(3 * (y * w + x) + c) & 0xff
      assert(math.abs(io - us) <= 1, s"pixel ($x,$y) channel $c: ImageIO $io vs ours $us")
    }
  }

  test("color JPEG encoder emits REAL spec JPEG: ImageIO decodes it within tolerance") {
    val w = 32; val h = 32
    val rgb = new Array[Byte](3 * w * h)
    for (p <- 0 until w * h) {
      val v = ((p % w) * 5 + (p / w) * 11) % 256
      rgb(3 * p) = v.toByte; rgb(3 * p + 1) = v.toByte; rgb(3 * p + 2) = v.toByte
    }
    val jpg = Multimodal.jpegEncodeColor420(rgb, w, h)
    val io = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(io != null, "ImageIO rejected our color JPEG")
    val Some((_, _, ours)) = Multimodal.jpegDecodeColor(jpg)
    for (y <- 0 until h; x <- 0 until w) {
      val rr = (io.getRGB(x, y) >> 16) & 0xff
      val us = ours(3 * (y * w + x)) & 0xff
      assert(math.abs(rr - us) <= 1, s"pixel ($x,$y): ImageIO $rr vs ours $us")
    }
  }

  test("color JPEG decode fails closed: grayscale stream, truncation, unsupported sampling, garbage") {
    val gray = Multimodal.jpegEncodeGray(Array.tabulate(64 * 64)(_.toByte), 64, 64)
    assert(Multimodal.jpegDecodeColor(gray) === None) // 1 component
    val w = 32; val h = 32
    val rgb = Array.fill(3 * w * h)(100.toByte)
    val jpg = Multimodal.jpegEncodeColor420(rgb, w, h)
    assert(Multimodal.jpegDecodeColor(jpg.dropRight(10)) === None)
    assert(Multimodal.jpegDecodeColor("not a jpeg".getBytes("US-ASCII")) === None)
    // flip Y's sampling byte 0x22 -> 0x21 (4:2:2): structure check refuses
    val bad = jpg.clone()
    var off = -1
    var i = 2
    while (off < 0 && i + 4 < bad.length) {
      if ((bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) == 0xc0) off = i + 4 + 7
      i += 1
    }
    assert(off > 0 && (bad(off) & 0xff) === 0x22, "SOF0 sampling byte located")
    bad(off) = 0x21
    assert(Multimodal.jpegDecodeColor(bad) === None)
    // the color decoder and gray decoder are mutually exclusive by design
    assert(Multimodal.jpegDecodeGray(jpg) === None)
  }

  test("cross-container near-dup key: gray content as COLOR JPEG hashes identically to gray PNG") {
    // luma of (v,v,v) is exactly v in the fixed point, chroma exactly 128,
    // and flat-quant constant blocks are lossless — so the same content
    // crawled as a grayscale PNG and as a color JPEG collides in the index
    for (src <- Seq(3L, 21L, 44L)) {
      val gray = Multimodal.synthPixels(src, pert = false)
      val rgb = new Array[Byte](3 * gray.length)
      for (p <- gray.indices) {
        rgb(3 * p) = gray(p); rgb(3 * p + 1) = gray(p); rgb(3 * p + 2) = gray(p)
      }
      val viaPng = Multimodal.decodeDhash(src,
        Multimodal.pngEncodeGray(gray, 64, 64), "png")
      val viaColorJpeg = Multimodal.decodeDhash(src,
        Multimodal.jpegEncodeColor420(rgb, 64, 64,
          Multimodal.JpegFlatQuant8, Multimodal.JpegFlatQuant8), "jpeg-color")
      assert(viaPng === viaColorJpeg, s"container split the content key for $src")
    }
  }

  test("decodeDhash wav path: envelope key through the real PCM parser; fail-closed on bad input") {
    val samples = Array.tabulate(1024)(t => ((t * 37) % 4000).toShort)
    val wav = Multimodal.wavBytesPcm(8000, samples)
    assert(Multimodal.decodeDhash(1L, wav, "wav") ===
      Multimodal.dHash56(Multimodal.audioEnvelope64(samples), 8, 8))
    // not a RIFF stream
    intercept[IllegalStateException] {
      Multimodal.decodeDhash(2L, "not audio".getBytes("US-ASCII"), "wav")
    }
    // decodes, but 100 samples cannot slice into 64 equal envelope bins
    intercept[IllegalStateException] {
      Multimodal.decodeDhash(3L,
        Multimodal.wavBytesPcm(8000, Array.tabulate(100)(_.toShort)), "wav")
    }
  }

  private def mjpegFixture(src: Long, nFrames: Int, fourcc: String = "jpeg") = {
    val frames = Seq.tabulate(nFrames)(f =>
      Multimodal.synthFramePixels(src, f, pert = false))
    (frames, Multimodal.mp4MjpegBytes(
      frames.map(Multimodal.jpegEncodeGray(_, 64, 64, Multimodal.JpegFlatQuant8)),
      64, 64, fourcc))
  }

  private def patchBox(b: Array[Byte], typ: String, at: Int, v: Long): Array[Byte] = {
    // search only inside moov — JPEG entropy bytes in mdat can collide
    // with any fourcc
    def u32(i: Int): Int = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    val moovStart = 16 + u32(16) // ftyp is 16 bytes; mdat size at its start
    val pos = b.indexOfSlice(typ.getBytes("US-ASCII"), moovStart) - 4
    assert(pos >= 0, s"fixture has no $typ box")
    val out = b.clone()
    for (i <- 0 until 4)
      out(pos + at + i) = ((v >> (8 * (3 - i))) & 0xff).toByte
    out
  }

  test("WebP VP8L: gray pixels round-trip bit-exactly through the real prefix-coded bitstream") {
    for (id <- Seq(3L, 27L, 91L)) {
      val px = Multimodal.synthPixels(id, pert = false)
      val b = Multimodal.webpEncodeGrayVp8l(px, 64, 64)
      val got = Multimodal.webpDecodeGray(b)
      assert(got.isDefined && got.get._1 === 64 && got.get._2 === 64)
      assert(got.get._3.toSeq === px.toSeq, s"pixels drifted for $id")
    }
    // non-square, incl. width 1 (14-bit field edges exercised elsewhere)
    val odd = Array.tabulate(5 * 3)(i => (i * 37 % 256).toByte)
    assert(Multimodal.webpDecodeGray(
      Multimodal.webpEncodeGrayVp8l(odd, 5, 3)).get._3.toSeq === odd.toSeq)
    val thin = Array.tabulate(7)(i => (255 - i).toByte)
    assert(Multimodal.webpDecodeGray(
      Multimodal.webpEncodeGrayVp8l(thin, 1, 7)).get._3.toSeq === thin.toSeq)
  }

  test("WebP cross-container law: same pixels as PNG and WebP hash identically") {
    for (id <- Seq(11L, 42L)) {
      val px = Multimodal.synthPixels(id, pert = false)
      val viaWebp = Multimodal.decodeDhash(id,
        Multimodal.webpEncodeGrayVp8l(px, 64, 64), "webp")
      val viaPng = Multimodal.decodeDhash(id,
        Multimodal.pngEncodeGray(px, 64, 64), "png")
      assert(viaWebp === viaPng)
    }
  }

  test("WebP decode fails closed: lossy VP8, transforms, truncation, dimension lies, garbage") {
    val px = Multimodal.synthPixels(7L, pert = false)
    val good = Multimodal.webpEncodeGrayVp8l(px, 64, 64)
    // lossy VP8: same container, different fourcc — never decoded
    val lossy = good.clone()
    lossy(15) = ' '.toByte // "VP8L" -> "VP8 "
    assert(Multimodal.webpDecodeGray(lossy) === None)
    // a transform bit flipped on: outside the literal subset
    // (bit position: 32 dims/flags bits after the signature byte => the
    // transform bit is bit 0 of payload byte 5; payload starts at file
    // byte 20, so file byte 25)
    val trans = good.clone()
    trans(25) = (trans(25) | 0x01).toByte
    assert(Multimodal.webpDecodeGray(trans) === None)
    // truncation: mid-bitstream EOF must not yield pixels
    assert(Multimodal.webpDecodeGray(good.dropRight(32)) === None)
    // header-only fixture (webpBytes) has no pixel stream behind the dims
    assert(Multimodal.webpDecodeGray(Multimodal.webpBytes(64, 64)) === None)
    // not a RIFF at all
    assert(Multimodal.webpDecodeGray("JFIF nope".getBytes("US-ASCII")) === None)
  }

  test("MP4 sample walk: MJPEG frames round-trip bit-exactly through stsd/stsz/stsc/stco") {
    // 4 frames => chunks of 3+1, two stsc runs: the chunk walk is real
    val (frames, b) = mjpegFixture(11L, 4)
    val got = Multimodal.mp4DecodeGrayFrames(b)
    assert(got.isDefined && got.get._1 === 64 && got.get._2 === 64)
    assert(got.get._3.map(_.toSeq) === frames.map(_.toSeq))
    // mjpa (QuickTime motion JPEG) shares the path
    val (f2, b2) = mjpegFixture(12L, 2, fourcc = "mjpa")
    assert(Multimodal.mp4DecodeGrayFrames(b2).get._3.map(_.toSeq) === f2.map(_.toSeq))
  }

  test("MP4 cross-container law: the same frames as animated GIF hash identically") {
    val (frames, b) = mjpegFixture(23L, 4)
    val gif = Multimodal.gifEncodeGrayAnimated(frames, 64, 64)
    val viaMp4 = Multimodal.mp4DecodeGrayFrames(b).get._3.map(Multimodal.dHash56(_, 64, 64))
    val viaGif = Multimodal.gifDecodeGrayFrames(gif).get._3.map(Multimodal.dHash56(_, 64, 64))
    assert(viaMp4 === viaGif)
    // the container dispatch routes each magic to its decoder, and only
    // recognized video containers decode at all
    assert(Multimodal.videoDecodeGrayFrames(b).get._3.map(_.toSeq) ===
      Multimodal.mp4DecodeGrayFrames(b).get._3.map(_.toSeq))
    assert(Multimodal.videoDecodeGrayFrames(gif).get._3.map(_.toSeq) ===
      Multimodal.gifDecodeGrayFrames(gif).get._3.map(_.toSeq))
    assert(Multimodal.videoDecodeGrayFrames(
      Multimodal.pngEncodeGray(frames.head, 64, 64)) === None)
  }

  test("MP4 sample walk fails closed: fragments, truncation, foreign codecs, lying tables") {
    val (_, b) = mjpegFixture(31L, 4)
    // fragmented: a top-level moof means samples live in trun tables the
    // moov walk does not describe — decoding the prefix would be silent loss
    val moof = Array[Byte](0, 0, 0, 8) ++ "moof".getBytes("US-ASCII")
    assert(Multimodal.mp4SampleTable(b ++ moof) === None)
    // truncated moov / lying top-level size
    assert(Multimodal.mp4SampleTable(b.dropRight(6)) === None)
    // lossy codec fourccs fail closed rather than decode garbage
    assert(Multimodal.mp4DecodeGrayFrames(mjpegFixture(31L, 4, fourcc = "avc1")._2) === None)
    // first chunk offset pointing past the payload
    assert(Multimodal.mp4SampleTable(
      patchBox(b, "stco", at = 16, v = b.length.toLong - 1)) === None)
    // stsc assigning fewer samples than stsz declares (3-sample walk vs 4)
    assert(Multimodal.mp4SampleTable(
      patchBox(b, "stsc", at = 20, v = 2L)) === None)
    // stsc run table not 1-based
    assert(Multimodal.mp4SampleTable(
      patchBox(b, "stsc", at = 16, v = 2L)) === None)
    // not an MP4 at all
    assert(Multimodal.mp4SampleTable("GIF89a such bytes".getBytes("US-ASCII")) === None)
  }

  test("q221 key law: half-size and dithered frames stay within the vote; dropped keyframes match exactly") {
    for (src <- Seq(5L, 17L, 40L); f <- 0 until 4) {
      val base = Multimodal.synthFramePixels(src, f, pert = false)
      val hb = Multimodal.dHash56(base, 64, 64)
      val (rw, rh, half) = Multimodal.halfSize(base, 64, 64)
      assert(Multimodal.dHash56(half, rw, rh) === hb,
        s"half-size frame $f of $src must pool to the SAME hash")
      val pert = Multimodal.dHash56(
        Multimodal.synthFramePixels(src, f, pert = true), 64, 64)
      assert(java.lang.Long.bitCount(hb ^ pert) <= 6,
        s"dithered frame $f of $src drifted past the Hamming budget")
    }
  }

  test("mp4AudioPcmSamples: 'twos' PCM round-trips through the two-track walk") {
    val samples = Array.tabulate(128)(i => ((i * 523) % 30000 - 15000).toShort)
    val b = Multimodal.mp4AvcPcmBytes(
      Seq(Array.tabulate(32)(_.toByte)), 64, 64, Some(samples))
    assert(Multimodal.mp4AudioPcmSamples(b).map(_.toSeq) === Some(samples.toSeq))
    assert(Multimodal.mp4AudioEnvelopeHash(b).isDefined)
    // no audio track -> no fallback modality
    assert(Multimodal.mp4AudioPcmSamples(Multimodal.mp4AvcPcmBytes(
      Seq(Array.tabulate(32)(_.toByte)), 64, 64, None)).isEmpty)
    // the frame path refuses the avc1 track either way
    assert(Multimodal.videoDecodeGrayFrames(b).isEmpty)
    // a non-64-sliceable PCM track decodes but may not envelope-hash
    val odd = Multimodal.mp4AvcPcmBytes(
      Seq(Array.tabulate(32)(_.toByte)), 64, 64, Some(samples.take(100)))
    assert(Multimodal.mp4AudioPcmSamples(odd).isDefined)
    assert(Multimodal.mp4AudioEnvelopeHash(odd).isEmpty)
  }

  test("decodeCoverage measures the live/audio_fallback/fail_closed split with byte mass") {
    import spark.implicits._
    val px = Multimodal.synthPixels(3L, pert = false)
    val samples = Array.tabulate(128)(i => (i * 100).toShort)
    val rows = Seq[(Long, Array[Byte])](
      (1L, Multimodal.pngEncodeGray(px, 64, 64)),
      (2L, Multimodal.webpEncodeGrayVp8(px, 64, 64, 8)),
      (3L, Multimodal.mp4AvcPcmBytes(
        Seq(Array.tabulate(16)(_.toByte)), 64, 64, Some(samples))),
      (4L, Multimodal.mp4AvcPcmBytes(
        Seq(Array.tabulate(16)(_.toByte)), 64, 64, None)),
      (5L, Array[Byte](1, 2, 3)))
    val got = Multimodal.decodeCoverage(rows.toDF("asset_id", "payload"))
      .as[(String, String, String, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> ((r._4, r._5))).toMap
    val sizes = rows.map { case (id, b) => id -> b.length.toLong }.toMap
    assert(got(("png", "deflate", "live")) === ((1L, sizes(1L))))
    assert(got(("webp", "vp8", "live")) === ((1L, sizes(2L))))
    assert(got(("mp4", "avc1", "audio_fallback")) === ((1L, sizes(3L))))
    assert(got(("mp4", "avc1", "fail_closed")) === ((1L, sizes(4L))))
    assert(got(("unknown", "unknown", "fail_closed")) === ((1L, 3L)))
    assert(got.size === 5)
  }

  test("avc1 with avcC decodes through the frame path; CABAC fails closed") {
    import graft.scale.Avc
    val frames = Array.tabulate(3)(f => Multimodal.synthFramePixels(21L, f, pert = false))
    val streams = frames.map(px => Avc.encodeGrayIdr(px, 64, 64, 6))
    val (sp, pp, _) = Avc.splitAnnexB(streams.head)
    val mp4 = Multimodal.mp4AvcPcmBytes(
      streams.map(b => Avc.toAvccSample(Avc.splitAnnexB(b)._3)).toSeq,
      64, 64, None, "avc1", Avc.avccPayload(sp, pp))
    val got = Multimodal.mp4DecodeGrayFrames(mp4)
    assert(got.exists(g => g._1 == 64 && g._2 == 64 && g._3.length == 3))
    // cross-container law: the avc1 decode hashes within the q216 budget
    // of the source frames, so it votes against MJPEG/GIF re-encodes
    got.get._3.zip(frames).zipWithIndex.foreach { case ((dec, src), f) =>
      val hd = java.lang.Long.bitCount(
        Multimodal.dHash56(dec, 64, 64) ^ Multimodal.dHash56(src, 64, 64))
      assert(hd <= 2, s"frame $f drifted $hd bits")
    }
    // magic dispatch reaches it too
    assert(Multimodal.videoDecodeGrayFrames(mp4).isDefined)
    // CABAC entropy coding decodes to the SAME frames (live since r20)
    val cabStreams = frames.map(px => Avc.encodeGrayIdr(px, 64, 64, 6, cabac = true))
    val (csp, cpp, _) = Avc.splitAnnexB(cabStreams.head)
    val cabac = Multimodal.mp4AvcPcmBytes(
      cabStreams.map(b => Avc.toAvccSample(Avc.splitAnnexB(b)._3)).toSeq,
      64, 64, None, "avc1", Avc.avccPayload(csp, cpp))
    val cgot = Multimodal.mp4DecodeGrayFrames(cabac)
    assert(cgot.isDefined, "CABAC avc1 track must decode")
    // CAVLC fixtures carry I_PCM MBs (outside the CABAC subset), so the
    // cross-entropy law here is the q216 Hamming budget, not byte equality
    // (AvcSpec pins byte equality with PCM disabled on both sides)
    cgot.get._3.zip(frames).zipWithIndex.foreach { case ((dec, src), f) =>
      val hd = java.lang.Long.bitCount(
        Multimodal.dHash56(dec, 64, 64) ^ Multimodal.dHash56(src, 64, 64))
      assert(hd <= 2, s"CABAC frame $f drifted $hd bits")
    }
    // one undecodable sample fails the whole track closed
    val torn = Multimodal.mp4AvcPcmBytes(
      (streams.dropRight(1).map(b => Avc.toAvccSample(Avc.splitAnnexB(b)._3)) :+
        Array.tabulate(40)(_.toByte)).toSeq,
      64, 64, None, "avc1", Avc.avccPayload(sp, pp))
    assert(Multimodal.mp4DecodeGrayFrames(torn) === None)
  }

  test("avcC build/parse roundtrip and fail-closed laws") {
    import graft.scale.Avc
    val annexb = Avc.encodeGrayIdr(Multimodal.synthPixels(9L, pert = false), 64, 64, 8)
    val (sp, pp, idr) = Avc.splitAnnexB(annexb)
    assert(sp.nonEmpty && pp.nonEmpty && idr.nonEmpty)
    // a tiny high-QP picture keeps the IDR NAL under 256 bytes so even
    // the 1-byte length prefix is exercised end to end
    val tiny = Avc.encodeGrayIdr(Array.fill(16 * 16)(90.toByte), 16, 16, 30)
    val (tsp, tpp, tidr) = Avc.splitAnnexB(tiny)
    for (ls <- Seq(1, 2, 4)) {
      val cfg = Avc.avccPayload(tsp, tpp, ls)
      val parsed = Avc.parseAvcc(cfg)
      assert(parsed.exists { case (s2, p2, l2) =>
        l2 == ls && s2.map(_.toSeq) == tsp.map(_.toSeq) && p2.map(_.toSeq) == tpp.map(_.toSeq)
      })
      // the sample decodes under every declared length size
      val sample = Avc.toAvccSample(tidr, ls)
      assert(Avc.decodeSampleGray(tsp, tpp, ls, sample).isDefined)
    }
    // an oversized NAL must refuse the narrow prefix, not truncate it
    assertThrows[IllegalArgumentException](Avc.toAvccSample(idr, 1))
    assert(Avc.parseAvcc(Array[Byte](2, 0, 0, 0, -1, -31)) === None) // bad version
    assert(Avc.parseAvcc(Avc.avccPayload(sp, pp).dropRight(3)) === None) // truncated
  }

  test("interlaced GIFs decode to the exact plain-twin pixels (both decoders)") {
    val px = Multimodal.synthPixels(13L, pert = false)
    val grayPal = Array.tabulate[Byte](768)(i => (i / 3).toByte)
    val plain = Multimodal.gifEncodeIndexed(px, grayPal, 64, 64)
    val inter = Multimodal.gifEncodeIndexed(px, grayPal, 64, 64, interlaced = true)
    // 13-byte header+LSD, 768-byte palette, 0x2c + 8 descriptor bytes
    assert(((inter(13 + 768 + 9): Int) & 0x40) != 0, "interlace flag set")
    val a = Multimodal.gifDecodeGray(plain)
    val b = Multimodal.gifDecodeGray(inter)
    assert(a.isDefined && b.isDefined)
    assert(a.get._3.toSeq == b.get._3.toSeq, "single-frame deinterlace")
    assert(a.get._3.toSeq == px.toSeq)
    val fa = Multimodal.gifDecodeGrayFrames(inter)
    assert(fa.exists(_._3.head.toSeq == px.toSeq), "frames-path deinterlace")
    // color interlaced: colorLift palette has luma exactly v
    val ci = Multimodal.gifEncodeIndexed(px, Multimodal.ColorLiftPalette,
      64, 64, interlaced = true)
    assert(Multimodal.gifDecodeGray(ci).exists(_._3.toSeq == px.toSeq))
    // odd heights hit every pass-grid edge case
    for (h <- Seq(1, 2, 3, 5, 7, 9, 17)) {
      val p2 = px.take(16 * h)
      val e = Multimodal.gifEncodeIndexed(p2, grayPal, 16, h, interlaced = true)
      assert(Multimodal.gifDecodeGray(e).exists(_._3.toSeq == p2.toSeq), s"h=$h")
    }
  }

  test("progressive JPEG decodes byte-exactly to its baseline twin") {
    for ((seed, w, h, quant) <- Seq(
        (31L, 64, 64, Multimodal.JpegStdQuant),
        (32L, 64, 64, Multimodal.JpegFlatQuant8),
        (33L, 50, 34, Multimodal.JpegStdQuant),
        (34L, 8, 8, Multimodal.JpegStdQuant),
        (35L, 24, 80, Multimodal.JpegFlatQuant8))) {
      val px = Array.tabulate(w * h) { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"${seed}_$i".getBytes("UTF-8"))(0)
      }
      val base = Multimodal.jpegDecodeGray(Multimodal.jpegEncodeGray(px, w, h, quant))
      val prog = Multimodal.jpegDecodeGray(
        Multimodal.jpegEncodeGrayProgressive(px, w, h, quant))
      assert(base.isDefined && prog.isDefined, s"seed=$seed")
      // the 6-scan successive approximation reconstructs the SAME
      // quantized coefficients, so the decodes are identical bytes
      assert(base.get._3.toSeq == prog.get._3.toSeq, s"seed=$seed")
    }
    // flat-quant block-constant content: progressive is lossless too
    val bc = Array.tabulate(64 * 64) { i =>
      val blk = (i / 64 / 8) * 8 + (i % 64) / 8
      (blk * 3 + 17).toByte
    }
    val dec = Multimodal.jpegDecodeGray(
      Multimodal.jpegEncodeGrayProgressive(bc, 64, 64, Multimodal.JpegFlatQuant8))
    assert(dec.exists(_._3.toSeq == bc.toSeq))
    // fail-closed: truncated progressive stream, and a color SOF2 shape
    val p = Multimodal.jpegEncodeGrayProgressive(bc, 64, 64)
    assert(Multimodal.jpegDecodeGray(java.util.Arrays.copyOf(p, p.length / 3)) === None)
    // coverageOf sees a progressive gray JPEG as live now
    assert(Multimodal.jpegDecodeGray(p).isDefined)
  }

  test("16-bit PNGs decode: truncation law, full-precision transparency, lying header refused") {
    val px = Multimodal.synthPixels(19L, pert = false)
    // bit-replicated 16-bit gray truncates back exactly
    assert(Multimodal.pngDecodeGray(Multimodal.pngEncodeGray16(px, 64, 64))
      .exists(_._3.toSeq == px.toSeq))
    // genuinely 16-bit content (arbitrary low bytes) maps to high bytes
    val lows = Array.tabulate[Byte](64 * 64)(k => ((k * 37) % 256).toByte)
    assert(Multimodal.pngDecodeGray(Multimodal.pngEncodeGray16(px, 64, 64, lows))
      .exists(_._3.toSeq == px.toSeq))
    // 16-bit truecolor of colorLift pixels lands on the exact luma
    assert(Multimodal.pngDecodeGray(
      Multimodal.pngEncodeRgb16(Multimodal.colorLiftPixels(px), 64, 64))
      .exists(_._3.toSeq == px.toSeq))
    // the q298 witness: a 16-bit header over an 8-bit payload is a SHORT
    // stream to a real 16-bit decoder — still fail closed
    assert(Multimodal.pngDecodeGray(Multimodal.png16BitBytes(px, 64, 64)) === None)
  }

  test("packed-depth PNGs (1/2/4-bit) roundtrip exactly; packed tRNS keys decide at raw depth") {
    val px = Multimodal.synthPixels(23L, pert = false)
    for (d <- Seq(1, 2, 4)) {
      val scale = 255 / ((1 << d) - 1)
      val lattice = px.map(v => (((v & 0xff) / scale) * scale).toByte)
      val enc = Multimodal.pngEncodeGrayPacked(lattice, 64, 64, d)
      assert(Multimodal.pngDecodeGray(enc).exists(_._3.toSeq == lattice.toSeq), s"d=$d")
      // odd width exercises row bit-padding
      val nw = 13
      val small = lattice.take(nw * 5)
      val e2 = Multimodal.pngEncodeGrayPacked(small, nw, 5, d)
      assert(Multimodal.pngDecodeGray(e2).exists(_._3.toSeq == small.toSeq), s"d=$d w=13")
      // packed AND Adam7-interlaced: per-pass bit-padded rows scatter back
      // to the identical image (r19 verdict task 7 — the combined shape)
      val eI = Multimodal.pngEncodeGrayPackedAdam7(lattice, 64, 64, d)
      assert(Multimodal.pngDecodeGray(eI).exists(_._3.toSeq == lattice.toSeq),
        s"adam7 d=$d")
      val eI2 = Multimodal.pngEncodeGrayPackedAdam7(small, nw, 5, d)
      assert(Multimodal.pngDecodeGray(eI2).exists(_._3.toSeq == small.toSeq),
        s"adam7 d=$d w=13")
    }
    // 4-bit palette: 16-entry gray palette, exact roundtrip
    val pal16 = Array.tabulate[Byte](48)(k => (17 * (k / 3)).toByte)
    val post4 = px.map(v => (((v & 0xff) >> 4) * 17).toByte)
    val encP = Multimodal.pngEncodePalettePacked(
      post4.map(v => ((v & 0xff) / 17).toByte), pal16, 64, 64, 4)
    assert(Multimodal.pngDecodeGray(encP).exists(_._3.toSeq == post4.toSeq))
    // packed gray tRNS: a USED raw-depth key fails closed, an unused one decodes
    def withKey(enc: Array[Byte], key: Int): Array[Byte] = {
      // splice a tRNS chunk right before IDAT
      val idatAt = {
        var i = 8
        var at = -1
        while (at < 0) {
          val len = ((enc(i) & 0xff) << 24) | ((enc(i + 1) & 0xff) << 16) |
            ((enc(i + 2) & 0xff) << 8) | (enc(i + 3) & 0xff)
          if (new String(enc, i + 4, 4, "US-ASCII") == "IDAT") at = i
          else i += 12 + len
        }
        at
      }
      val body = Array[Byte]((key >> 8).toByte, key.toByte)
      val crc = new java.util.zip.CRC32()
      crc.update("tRNS".getBytes("US-ASCII"))
      crc.update(body)
      val chunk = Array[Byte](0, 0, 0, 2) ++ "tRNS".getBytes("US-ASCII") ++ body ++
        Array[Byte]((crc.getValue >> 24).toByte, (crc.getValue >> 16).toByte,
          (crc.getValue >> 8).toByte, crc.getValue.toByte)
      enc.take(idatAt) ++ chunk ++ enc.drop(idatAt)
    }
    val flat5 = Array.fill[Byte](16)(85) // raw 4-bit value 5 everywhere
    val enc5 = Multimodal.pngEncodeGrayPacked(flat5, 4, 4, 4)
    assert(Multimodal.pngDecodeGray(withKey(enc5, 5)) === None) // key used
    assert(Multimodal.pngDecodeGray(withKey(enc5, 9)) // key unused
      .exists(_._3.toSeq == flat5.toSeq))
  }

  test("APNG decodes as its default image (acTL/fcTL/fdAT are ancillary to the still walk)") {
    // APNG is backward-compatible by design: the default image is a plain
    // PNG stream; animation chunks are ancillary. The still decoder must
    // return the default image, not fail closed and not touch fdAT.
    val px = Multimodal.synthPixels(29L, pert = false)
    val plain = Multimodal.pngEncodeGray(px, 64, 64)
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(body)
      Array[Byte]((body.length >> 24).toByte, (body.length >> 16).toByte,
        (body.length >> 8).toByte, body.length.toByte) ++
        tag.getBytes("US-ASCII") ++ body ++
        Array[Byte]((crc.getValue >> 24).toByte, (crc.getValue >> 16).toByte,
          (crc.getValue >> 8).toByte, crc.getValue.toByte)
    }
    // splice acTL+fcTL before IDAT and an fdAT (second-frame data) after
    def findChunk(b: Array[Byte], tag: String): Int = {
      var i = 8
      while (true) {
        val len = ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
          ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (new String(b, i + 4, 4, "US-ASCII") == tag) return i
        i += 12 + len
      }
      -1
    }
    val idatAt = findChunk(plain, "IDAT")
    val iendAt = findChunk(plain, "IEND")
    val acTL = chunk("acTL", Array[Byte](0, 0, 0, 2, 0, 0, 0, 0)) // 2 frames, loop forever
    val fcTL = chunk("fcTL", new Array[Byte](26))
    val fdAT = chunk("fdAT", Array[Byte](0, 0, 0, 2) ++ Array.fill[Byte](20)(7))
    val apng = plain.take(idatAt) ++ acTL ++ fcTL ++
      plain.slice(idatAt, iendAt) ++ fdAT ++ plain.drop(iendAt)
    assert(Multimodal.pngDecodeGray(apng).exists(_._3.toSeq == px.toSeq))
  }

  test("fragmented MP4: trun walk decodes identically to the progressive layout; fail-closed laws") {
    import graft.scale.Avc
    val frames = Array.tabulate(4)(f => Multimodal.synthFramePixels(37L, f, pert = false))
    val streams = frames.map(px => Avc.encodeGrayIdr(px, 64, 64, 6))
    val (sp, pp, _) = Avc.splitAnnexB(streams.head)
    val samples = streams.map(b => Avc.toAvccSample(Avc.splitAnnexB(b)._3)).toSeq
    val cfg = Avc.avccPayload(sp, pp)
    val prog = Multimodal.mp4AvcPcmBytes(samples, 64, 64, None, "avc1", cfg)
    for (perFrag <- Seq(1, 2, 4)) {
      val frag = Multimodal.mp4FragmentedBytes(samples, 64, 64, "avc1", cfg, perFrag)
      val a = Multimodal.mp4DecodeGrayFrames(prog)
      val b2 = Multimodal.mp4DecodeGrayFrames(frag)
      assert(a.isDefined && b2.isDefined, s"perFrag=$perFrag")
      assert(a.get._3.map(_.toSeq) == b2.get._3.map(_.toSeq), s"perFrag=$perFrag")
      // magic dispatch reaches the fragmented file too
      assert(Multimodal.videoDecodeGrayFrames(frag).isDefined)
    }
    val frag2 = Multimodal.mp4FragmentedBytes(samples, 64, 64, "avc1", cfg, 2)
    // truncating the last mdat puts a trun range past the payload: fail closed
    assert(Multimodal.mp4DecodeGrayFrames(frag2.dropRight(40)) === None)
    // offset-less chained truns (tfhd base-data-offset + two runs without
    // data offsets) decode identically to the explicit-offset layout
    for (perFrag <- Seq(2, 4)) {
      val chained = Multimodal.mp4FragmentedBytes(samples, 64, 64, "avc1", cfg,
        perFrag, chainedTruns = true)
      val a = Multimodal.mp4DecodeGrayFrames(
        Multimodal.mp4FragmentedBytes(samples, 64, 64, "avc1", cfg, perFrag))
      val c = Multimodal.mp4DecodeGrayFrames(chained)
      assert(a.isDefined && c.isDefined, s"chained perFrag=$perFrag")
      assert(a.get._3.map(_.toSeq) == c.get._3.map(_.toSeq), s"chained perFrag=$perFrag")
    }
    // clearing both the data-offset and sample-size flags leaves a run
    // with no size source at all: fail closed
    val noOff = frag2.clone()
    val trunAt = {
      var i = -1
      var k = 0
      while (i < 0 && k + 4 <= noOff.length) {
        if (new String(noOff, k, 4, "US-ASCII") == "trun") i = k
        k += 1
      }
      i
    }
    noOff(trunAt + 6) = 0x00 // clear flag byte carrying 0x02__
    noOff(trunAt + 7) = 0x00 // and the 0x01 data-offset bit
    assert(Multimodal.mp4DecodeGrayFrames(noOff) === None)
  }

  test("every progressive scan-script shape reconstructs identical coefficients") {
    // simple encoders emit progressions without successive approximation
    // or band splits; all four shapes must decode to the SAME pixels
    val px = Array.tabulate(48 * 32)(i => (((i % 48) * 3 + (i / 48) * 7) % 256).toByte)
    val ref = Multimodal.jpegDecodeGray(
      Multimodal.jpegEncodeGray(px, 48, 32)).get._3
    for (approx <- Seq(false, true); bands <- Seq(false, true)) {
      val enc = Multimodal.jpegEncodeGrayProgressiveKnobs(
        px, 48, 32, Multimodal.JpegStdQuant, approx, bands)
      val got = Multimodal.jpegDecodeGray(enc)
      assert(got.exists(_._3.toSeq == ref.toSeq), s"approx=$approx bands=$bands")
    }
  }

  test("progressive color JPEG decodes byte-exactly to its baseline twin") {
    for ((seed, w, h) <- Seq((41L, 32, 32), (42L, 64, 48), (43L, 16, 16))) {
      val rgb = Array.tabulate(3 * w * h) { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"${seed}_$i".getBytes("UTF-8"))(0)
      }
      val base = Multimodal.jpegDecodeColor(Multimodal.jpegEncodeColor420(rgb, w, h))
      val prog = Multimodal.jpegDecodeColor(
        Multimodal.jpegEncodeColorProgressive(rgb, w, h))
      assert(base.isDefined && prog.isDefined, s"seed=$seed")
      assert(base.get._3.toSeq == prog.get._3.toSeq, s"seed=$seed")
    }
  }

  test("progressive JPEG is EXTERNALLY certified: ImageIO reads our output, we read ImageIO's") {
    // ImageIO carries an independent progressive JPEG codec — the same
    // bidirectional certification pattern as VP8-vs-libwebp.
    val w = 32; val h = 32
    // 1. our GRAY progressive bitstream through ImageIO
    val gpx = Array.tabulate(w * h)(i => (((i % w) * 7 + (i / w) * 5) % 256).toByte)
    val gProg = Multimodal.jpegEncodeGrayProgressive(gpx, w, h)
    val gIo = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gProg))
    assert(gIo != null, "ImageIO rejected our gray progressive JPEG")
    val gOurs = Multimodal.jpegDecodeGray(gProg).get._3
    for (y <- 0 until h; x <- 0 until w) {
      // raster samples, NOT getRGB — the latter gamma-converts gray to sRGB
      val io = gIo.getRaster.getSample(x, y, 0)
      val us = gOurs(y * w + x) & 0xff
      assert(math.abs(io - us) <= 1, s"gray ($x,$y): ImageIO $io vs ours $us")
    }
    // 2. our COLOR progressive bitstream through ImageIO (r=g=b content so
    //    chroma upsampling filter differences cannot contribute)
    val rgb = new Array[Byte](3 * w * h)
    for (p <- 0 until w * h) {
      val v = ((p % w) * 5 + (p / w) * 11) % 256
      rgb(3 * p) = v.toByte; rgb(3 * p + 1) = v.toByte; rgb(3 * p + 2) = v.toByte
    }
    val cProg = Multimodal.jpegEncodeColorProgressive(rgb, w, h)
    val cIo = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cProg))
    assert(cIo != null, "ImageIO rejected our color progressive JPEG")
    val cOurs = Multimodal.jpegDecodeColor(cProg).get._3
    for (y <- 0 until h; x <- 0 until w) {
      val io = (cIo.getRGB(x, y) >> 16) & 0xff
      val us = cOurs(3 * (y * w + x)) & 0xff
      assert(math.abs(io - us) <= 1, s"color ($x,$y): ImageIO $io vs ours $us")
    }
    // 3. ImageIO's OWN progressive output through our decoder
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 8 + y * 3) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val prm = writer.getDefaultWriteParam
    prm.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), prm)
    writer.dispose(); ios.close()
    val foreign = bos.toByteArray
    // confirm it really is SOF2 (otherwise this law certifies nothing)
    def hasMarker(mk: Int): Boolean = {
      var i = 2
      var found = false
      while (!found && i + 4 <= foreign.length && (foreign(i) & 0xff) == 0xff) {
        val m = foreign(i + 1) & 0xff
        if (m == mk) found = true
        else if (m == 0xda || m == 0xd9) return found
        else i += 2 + (((foreign(i + 2) & 0xff) << 8) | (foreign(i + 3) & 0xff))
      }
      found
    }
    assert(hasMarker(0xc2), "ImageIO did not emit a progressive frame")
    val ours = Multimodal.jpegDecodeColor(foreign)
    assert(ours.isDefined, "our decoder rejected ImageIO's progressive output")
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(foreign))
    for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3) {
      val io = (ref.getRGB(x, y) >> (16 - 8 * ch)) & 0xff
      val us = ours.get._3(3 * (y * w + x) + ch) & 0xff
      assert(math.abs(io - us) <= 1, s"($x,$y) ch $ch: ImageIO $io vs ours $us")
    }
  }

  test("APNG: fdAT frames decode losslessly; stills law unchanged; fail-closed") {
    val frames = Array.tabulate(4)(f => Multimodal.synthFramePixels(21L, f, pert = false)).toSeq
    val apng = Multimodal.apngEncodeGray(frames, 64, 64)
    // the animation decodes frame-exactly (both codecs lossless)
    val got = Multimodal.apngDecodeGrayFrames(apng)
    assert(got.exists(g => g._1 == 64 && g._2 == 64 && g._3.length == 4))
    got.get._3.zip(frames).zipWithIndex.foreach { case ((dec, src), f) =>
      assert(dec.toSeq == src.toSeq, s"frame $f")
    }
    // magic dispatch reaches it; frame keys match the GIF twin exactly
    assert(Multimodal.videoDecodeGrayFrames(apng).isDefined)
    val gif = Multimodal.gifEncodeGrayAnimated(frames, 64, 64)
    val gifFrames = Multimodal.gifDecodeGrayFrames(gif).get._3
    got.get._3.zip(gifFrames).foreach { case (a, g) =>
      assert(a.toSeq == g.toSeq, "APNG and GIF frames must be key-identical")
    }
    // STILLS LAW: the still decoder reads an APNG's default image
    // (frame 0 here, fcTL-before-IDAT), and a plain PNG — no acTL —
    // stays out of the animation path entirely
    assert(Multimodal.pngDecodeGray(apng).exists(_._3.toSeq == frames.head.toSeq))
    val still = Multimodal.pngEncodeGray(frames.head, 64, 64)
    assert(Multimodal.apngDecodeGrayFrames(still) === None)
    assert(Multimodal.videoDecodeGrayFrames(still) === None)
    assert(Multimodal.pngDecodeGray(still).isDefined)
    // fail-closed: out-of-order sequence numbers (swap the two fdAT
    // sequence fields and refresh their CRCs)
    def chunkAt(b: Array[Byte], tag: String, nth: Int): Int = {
      var i = 8
      var seen = 0
      while (i + 12 <= b.length) {
        val len = (((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
          ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff))
        if (new String(b, i + 4, 4, "US-ASCII") == tag) {
          if (seen == nth) return i
          seen += 1
        }
        i += 12 + len
      }
      -1
    }
    def refreshCrc(b: Array[Byte], at: Int): Unit = {
      val len = (((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
        ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff))
      val crc = new java.util.zip.CRC32()
      crc.update(b, at + 4, 4 + len)
      val v = crc.getValue
      b(at + 8 + len) = ((v >> 24) & 0xff).toByte
      b(at + 9 + len) = ((v >> 16) & 0xff).toByte
      b(at + 10 + len) = ((v >> 8) & 0xff).toByte
      b(at + 11 + len) = (v & 0xff).toByte
    }
    val bad = apng.clone()
    val f1 = chunkAt(bad, "fdAT", 0)
    val f2 = chunkAt(bad, "fdAT", 1)
    assert(f1 > 0 && f2 > 0)
    val tmp = java.util.Arrays.copyOfRange(bad, f1 + 8, f1 + 12)
    System.arraycopy(bad, f2 + 8, bad, f1 + 8, 4)
    System.arraycopy(tmp, 0, bad, f2 + 8, 4)
    refreshCrc(bad, f1); refreshCrc(bad, f2)
    assert(Multimodal.apngDecodeGrayFrames(bad) === None)
    // fail-closed: a non-full-canvas frame (fcTL width halved)
    val crop = apng.clone()
    val fc = chunkAt(crop, "fcTL", 1)
    crop(fc + 8 + 7) = 32 // width 64 -> 32 (low byte)
    refreshCrc(crop, fc)
    assert(Multimodal.apngDecodeGrayFrames(crop) === None)
    // fail-closed: truncated fdAT payload (declared frames missing data)
    assert(Multimodal.apngDecodeGrayFrames(
      apng.take(f2) ++ apng.takeRight(12)) === None)
  }

  test("fMP4 tfhd/trun truncated at EOF fails closed, no crash") {
    import graft.scale.Avc
    val px = Multimodal.synthFramePixels(11L, 0, pert = false)
    val stream = Avc.encodeGrayIdr(px, 64, 64, 6)
    val (sp, pp, idr) = Avc.splitAnnexB(stream)
    val sample = Avc.toAvccSample(idr)
    val frag = Multimodal.mp4FragmentedBytes(Seq(sample), 64, 64, "avc1",
      Avc.avccPayload(sp, pp), 1)
    def find(tag: String): Int = {
      var i = -1; var k = 0
      while (i < 0 && k + 4 <= frag.length) {
        if (new String(frag, k, 4, "US-ASCII") == tag) i = k
        k += 1
      }
      assert(i > 0, tag); i - 4 // box start (size field)
    }
    def putBe32(a: Array[Byte], at: Int, v: Int): Unit = {
      a(at) = (v >> 24).toByte; a(at + 1) = (v >> 16).toByte
      a(at + 2) = (v >> 8).toByte; a(at + 3) = (v & 0xff).toByte
    }
    val moofS = find("moof"); val trafS = find("traf")
    val tfhdS = find("tfhd"); val trunS = find("trun")
    // 1. tfhd with base-data-offset flag, box (and file) ending before the
    //    u64 field: the walk must bound-check, not read past EOF
    val t1 = frag.take(tfhdS + 16)
    putBe32(t1, moofS, 48); putBe32(t1, trafS, 24); putBe32(t1, tfhdS, 16)
    t1(tfhdS + 11) = (t1(tfhdS + 11) | 0x01).toByte // base-data-offset present
    assert(Multimodal.mp4SampleTable(t1, _ == "avc1") === None)
    // 2. trun with data-offset flag, truncated at EOF before the field
    val t2 = frag.take(trunS + 16)
    putBe32(t2, moofS, 24 + (trunS + 16 - trafS)) // hdr + mfhd + traf
    putBe32(t2, trafS, trunS + 16 - trafS)
    putBe32(t2, trunS, 16)
    assert(Multimodal.mp4SampleTable(t2, _ == "avc1") === None)
    // 3. trun with per-sample sizes, sample count running past EOF: the
    //    first size entry is benign (offset 0 into the file, 4 bytes) so
    //    the walk reaches the second, truncated entry
    val t3 = frag.take(trunS + 24) // header + count + data-offset + 1 size
    putBe32(t3, moofS, 24 + (trunS + 24 - trafS))
    putBe32(t3, trafS, trunS + 24 - trafS)
    putBe32(t3, trunS, 24)
    putBe32(t3, trunS + 12, 1000) // sample_count >> available size entries
    putBe32(t3, trunS + 16, -moofS) // data offset: samples at file start
    putBe32(t3, trunS + 20, 4) // first sample size: in bounds
    assert(Multimodal.mp4SampleTable(t3, _ == "avc1") === None)
  }

  test("JPEG SOS with out-of-range Huffman table selectors fails closed") {
    val px = Array.tabulate(32 * 32)(i => ((i * 7) % 256).toByte)
    val enc = Multimodal.jpegEncodeGray(px, 32, 32)
    def sosAt(b: Array[Byte]): Int = {
      var i = 2
      while (!((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)) i += 1
      i
    }
    val bad = enc.clone()
    // gray SOS: FF DA len(2) ns(1) id(1) selectors(1) — selectors to 4/4
    bad(sosAt(bad) + 6) = 0x44.toByte
    assert(Multimodal.jpegDecodeGray(bad) === None)
    val rgb = Array.tabulate(3 * 16 * 16)(i => ((i * 5) % 256).toByte)
    val encC = Multimodal.jpegEncodeColor420(rgb, 16, 16)
    val badC = encC.clone()
    badC(sosAt(badC) + 6) = 0x44.toByte
    assert(Multimodal.jpegDecodeColor(badC) === None)
  }

  test("progressive JPEG with a non-conforming scan script fails closed") {
    val px = Array.tabulate(32 * 32)(i => ((i * 3) % 256).toByte)
    val enc = Multimodal.jpegEncodeGrayProgressiveKnobs(
      px, 32, 32, Multimodal.JpegStdQuant, approx = false, bands = true)
    // scan segments: FF DA only appears at real markers (entropy data is
    // byte-stuffed), so swapping the first two puts an AC scan before the
    // DC first pass — a script T.81 G.1.1.1.1 forbids
    val sos = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 2
    while (i + 1 < enc.length) {
      if ((enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xda) sos += i
      i += 1
    }
    assert(sos.length >= 2, "expected a multi-scan progressive stream")
    val (s1, s2) = (sos(0), sos(1))
    val e2 = if (sos.length > 2) sos(2) else {
      // end of second scan: the EOI marker
      var j = enc.length - 2
      while (!((enc(j) & 0xff) == 0xff && (enc(j + 1) & 0xff) == 0xd9)) j -= 1
      j
    }
    val swapped = enc.take(s1) ++
      enc.slice(s2, e2) ++ enc.slice(s1, s2) ++ enc.drop(e2)
    assert(Multimodal.jpegDecodeGray(swapped) === None)
    // duplicate DC first pass is equally non-conforming
    val dup = enc.take(s2) ++ enc.slice(s1, s2) ++ enc.drop(s2)
    assert(Multimodal.jpegDecodeGray(dup) === None)
  }

  test("decode spread leaves a plan without computed stats unshuffled") {
    // an RDD-backed plan reports spark.sql.defaultSizeInBytes: an unknown
    // size, not a payload large enough to fan out
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq((1L, Array[Byte](1, 2, 3))), 1)).toDF("id", "content")
    val spread = Multimodal.spreadForDecode(df, 1L)
    assert(!spread.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition]),
      spread.queryExecution.optimizedPlan.treeString)
    assert(spread.rdd.getNumPartitions === 1)
  }

  test("the JPEG family keeps one decoder core and one encoder core") {
    val src = java.nio.file.Paths.get("src/main/scala/graft/scale/Multimodal.scala")
    assert(java.nio.file.Files.isRegularFile(src),
      s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    val text = new String(java.nio.file.Files.readAllBytes(src), "UTF-8")
    for (name <- Seq("decodeSym", "syncRestart", "decTables", "putBits", "dht", "acScan")) {
      val n = s"\\bdef $name\\(".r.findAllIn(text).size
      assert(n === 1, s"Multimodal.scala defines $name $n times")
    }
  }
}
