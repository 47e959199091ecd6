package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal.{MediaCodec, MediaRecord}

/** Byte-level media codecs (round-8 verdict ask #5): pure-JVM BMP/PPM/WAV
  * decode with no codec libraries. The encode side exists so tests (and the
  * mm_decode contract query) can synthesize REAL bytes in-corpus. */
class MediaCodecSpec extends AnyFunSuite {

  private def rgbPattern(w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h * 3) { p =>
      val px = p / 3; val c = p % 3
      ((px * 37 + c * 11) % 256).toByte
    }

  test("BMP round-trip recovers dimensions and pixels at every row-padding width") {
    for (w <- 1 to 9; h <- Seq(1, 3, 5)) { // w*3 mod 4 covers all pad sizes
      val rgb = rgbPattern(w, h)
      val (dw, dh, dpx) = MediaCodec.decodeBmp(MediaCodec.encodeBmp(w, h, rgb))
      assert((dw, dh) == (w, h), s"dims for ${w}x$h")
      assert(dpx.toSeq == rgb.toSeq, s"pixels for ${w}x$h")
    }
  }

  test("BMP negative height (top-down row order) decodes to the same image") {
    val w = 5; val h = 4
    val rgb = rgbPattern(w, h)
    val bottomUp = MediaCodec.encodeBmp(w, h, rgb)
    // flip to top-down: negate height and reverse the stored row order
    val rowSize = (w * 3 + 3) / 4 * 4
    val topDown = bottomUp.clone()
    val nh = -h
    topDown(22) = (nh & 0xff).toByte; topDown(23) = ((nh >> 8) & 0xff).toByte
    topDown(24) = ((nh >> 16) & 0xff).toByte; topDown(25) = ((nh >> 24) & 0xff).toByte
    for (r <- 0 until h)
      System.arraycopy(bottomUp, 54 + (h - 1 - r) * rowSize,
        topDown, 54 + r * rowSize, rowSize)
    assert(MediaCodec.decodeBmp(topDown)._3.toSeq ==
      MediaCodec.decodeBmp(bottomUp)._3.toSeq)
  }

  test("PPM decodes with comments and arbitrary header whitespace") {
    val rgb = rgbPattern(3, 2)
    val header = "P6\n# a comment line\n3   2\n255\n"
    val bytes = header.getBytes ++ rgb
    val (w, h, dpx) = MediaCodec.decodePpm(bytes)
    assert((w, h) == (3, 2))
    assert(dpx.toSeq == rgb.toSeq)
  }

  test("WAV round-trip recovers rate, channels, and every sample; extra chunks skip") {
    val samples = Array.tabulate(47)(i => ((i * 2029 + 7) % 65536 - 32768).toShort)
    val (rate, ch, dsamp) = MediaCodec.decodeWav(MediaCodec.encodeWav(22050, 1, samples))
    assert((rate, ch) == (22050, 1))
    assert(dsamp.toSeq == samples.toSeq)
    // splice a LIST chunk between fmt and data: the chunk walk must skip it
    val plain = MediaCodec.encodeWav(8000, 2, samples)
    val listChunk = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val spliced = plain.take(36) ++ listChunk ++ plain.drop(36)
    // RIFF size field grows by the spliced chunk
    val newSize = (plain.length - 8) + listChunk.length
    spliced(4) = (newSize & 0xff).toByte; spliced(5) = ((newSize >> 8) & 0xff).toByte
    spliced(6) = ((newSize >> 16) & 0xff).toByte; spliced(7) = ((newSize >> 24) & 0xff).toByte
    val (r2, c2, s2) = MediaCodec.decodeWav(spliced)
    assert((r2, c2) == (8000, 2))
    assert(s2.toSeq == samples.toSeq)
  }

  test("WAV depth matrix: 8/24/32-bit PCM and 32/64-bit IEEE float all " +
      "decode to normalized 16-bit; 24/32/float are exact round-trips") {
    val samples = Array.tabulate(61)(i =>
      ((i * 4241 + 13) % 65536 - 32768).toShort)
    // exact carriers: the full 16-bit value survives the widening
    for ((bits, f) <- Seq((24, false), (32, false), (32, true), (64, false))) {
      val (r, c, got) = MediaCodec.decodeWav(
        MediaCodec.encodeWav(12000, 1, samples, bits, f))
      assert((r, c) == (12000, 1), s"rate/ch for $bits-bit float=$f")
      assert(got.toSeq == samples.toSeq, s"$bits-bit float=$f not exact")
    }
    // 8-bit floors to the 256 lattice (arithmetic shift, toward -inf)
    val (_, _, got8) = MediaCodec.decodeWav(
      MediaCodec.encodeWav(12000, 1, samples, bits = 8))
    assert(got8.toSeq == samples.map(s => (((s: Int) >> 8) << 8).toShort).toSeq)
    // float WAVs carry the spec's non-PCM framing: an 18-byte fmt chunk
    // (cbSize = 0) plus a fact chunk with the sample-frame count — strict
    // third-party readers reject a float file with the bare 16-byte fmt
    val f32 = MediaCodec.encodeWav(8000, 2, samples, bits = 32, float32 = true)
    assert(java.nio.ByteBuffer.wrap(f32, 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == 18, "float fmt size")
    assert(new String(f32, 38, 4, java.nio.charset.StandardCharsets.US_ASCII)
      == "fact", "float WAV must carry a fact chunk")
    assert(java.nio.ByteBuffer.wrap(f32, 46, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == samples.length / 2,
      "fact chunk carries the sample-FRAME count")
    // PCM keeps the classic 16-byte fmt, no fact
    val pcm = MediaCodec.encodeWav(8000, 1, samples)
    assert(java.nio.ByteBuffer.wrap(pcm, 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == 16, "PCM fmt size")
    // a float64 stream with out-of-range values clamps, never wraps
    val loud = MediaCodec.encodeWav(8000, 1, Array[Short](32767, -32768), bits = 64)
    // scale the first sample's double to 2.5 (data starts at 58 with the
    // extended fmt + fact framing; little-endian)
    java.nio.ByteBuffer.wrap(loud, 58, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(2.5)
    val (_, _, clamped) = MediaCodec.decodeWav(loud)
    assert(clamped(0) == 32767, s"out-of-range float must clamp, got ${clamped(0)}")
    // data chunk BEFORE fmt: bytes interpret only after both are known
    // (even byte count — RIFF pads odd chunks, which the writer omits at
    // end-of-file but the walk would expect mid-file)
    val even = samples.take(60)
    val b24 = MediaCodec.encodeWav(16000, 1, even, bits = 24)
    val fmtChunk = java.util.Arrays.copyOfRange(b24, 12, 36)
    val dataChunk = java.util.Arrays.copyOfRange(b24, 36, b24.length)
    val swapped = java.util.Arrays.copyOf(b24, b24.length)
    System.arraycopy(dataChunk, 0, swapped, 12, dataChunk.length)
    System.arraycopy(fmtChunk, 0, swapped, 12 + dataChunk.length, fmtChunk.length)
    val (r3, _, s3) = MediaCodec.decodeWav(swapped)
    assert(r3 == 16000 && s3.toSeq == even.toSeq,
      "data-before-fmt WAV must decode correctly")
    // compressed formats (e.g. ADPCM, code 2) refuse loudly
    val bad = MediaCodec.encodeWav(8000, 1, samples)
    bad(20) = 2
    val e = intercept[IllegalArgumentException](MediaCodec.decodeWav(bad))
    assert(e.getMessage.contains("PCM"), e.getMessage)
  }

  test("PNG round-trip recovers dimensions and pixels for gray/RGB/RGBA " +
      "across sizes that exercise every scanline filter") {
    // encodePng cycles filters per row (y % 5) — h >= 5 walks all of
    // None/Sub/Up/Average/Paeth, and w from 1 covers the left==0 edges
    for (w <- Seq(1, 3, 7); h <- Seq(1, 5, 6)) {
      val rgb = rgbPattern(w, h)
      val (dw, dh, dpx) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 2, rgb))
      assert((dw, dh) == (w, h), s"dims for ${w}x$h")
      assert(dpx.toSeq == rgb.toSeq, s"RGB pixels for ${w}x$h")
      // grayscale (color type 0): expands to (g,g,g)
      val gray = Array.tabulate(w * h)(p => ((p * 29 + 3) % 256).toByte)
      val (_, _, g3) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 0, gray))
      assert(g3.toSeq == gray.flatMap(g => Seq(g, g, g)).toSeq, s"gray ${w}x$h")
      // RGBA (color type 6): alpha drops, RGB survives
      val rgba = Array.tabulate(w * h * 4) { p =>
        val px = p / 4
        if (p % 4 == 3) ((px * 5) % 256).toByte else rgb(px * 3 + p % 4)
      }
      val (_, _, da) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 6, rgba))
      assert(da.toSeq == rgb.toSeq, s"RGBA ${w}x$h")
    }
  }

  test("PNG palette (color type 3) dereferences PLTE; gray+alpha (type 4) " +
      "replicates the gray channel") {
    val palette = Array.tabulate(256 * 3)(i => ((i * 13 + 5) % 256).toByte)
    val idx = Array.tabulate(6 * 4)(p => ((p * 41) % 256).toByte)
    val (w, h, dpx) = MediaCodec.decodePng(
      MediaCodec.encodePng(6, 4, 3, idx, palette))
    assert((w, h) == (6, 4))
    val want = idx.flatMap { i0 =>
      val i = (i0 & 0xff) * 3
      Seq(palette(i), palette(i + 1), palette(i + 2))
    }
    assert(dpx.toSeq == want.toSeq)
    val ga = Array.tabulate(3 * 5 * 2)(p =>
      (if (p % 2 == 0) (p * 7) % 256 else 128).toByte)
    val (_, _, g3) = MediaCodec.decodePng(MediaCodec.encodePng(3, 5, 4, ga))
    assert(g3.toSeq == (0 until 15).flatMap { px =>
      val g = ga(px * 2); Seq(g, g, g)
    }.toSeq)
  }

  test("PNG refusals are loud and specific: a LYING interlace flag, " +
      "illegal depth, truncated stream; decode() falls back to the stub") {
    val ok = MediaCodec.encodePng(4, 4, 2, rgbPattern(4, 4))
    // IHDR layout: sig(8) + len(4) + 'IHDR'(4) + w(4) h(4) depth(1)
    // colorType(1) compression(1) filter(1) interlace(1) — interlace at 28.
    // Flipping it on a NON-interlaced stream declares Adam7 geometry the
    // bytes don't hold — the decode must refuse, not misread
    val lying = ok.clone(); lying(8 + 4 + 4 + 12) = 1
    intercept[IllegalArgumentException](MediaCodec.decodePng(lying))
    // depth 3 exists for NO color type — the spec matrix refuses up front
    val deep = ok.clone(); deep(8 + 4 + 4 + 8) = 3
    val e2 = intercept[IllegalArgumentException](MediaCodec.decodePng(deep))
    assert(e2.getMessage.contains("illegal PNG depth"), e2.getMessage)
    // depth 16 is LEGAL for RGB, but this stream carries 8-bit data — the
    // decode must refuse on the short pixel stream, not misread half of it
    intercept[IllegalArgumentException] {
      val d16 = ok.clone(); d16(8 + 4 + 4 + 8) = 16
      MediaCodec.decodePng(d16)
    }
    val truncated = java.util.Arrays.copyOf(ok, ok.length - 20)
    intercept[IllegalArgumentException](MediaCodec.decodePng(truncated))
    // every refusal degrades to the stub through decode() — corrupt or
    // unsupported payloads never kill a mixed-corpus pipeline
    for (bad <- Seq(lying, deep, truncated)) {
      val rec = MediaRecord(9L, "image", bad, bad.length.toLong)
      assert(MediaCodec.decode(rec).feature.toSeq ==
        MediaCodec.decodeStub(rec).feature.toSeq)
    }
  }

  test("Adam7-INTERLACED PNG decodes to the same pixels (third-party " +
      "bytes: the JDK's progressive PNG writer)") {
    for ((w, h) <- Seq((12, 10), (7, 5), (1, 1), (9, 16))) {
      val rgb = rgbPattern(w, h)
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        bi.setRGB(x, y, ((rgb(p) & 0xff) << 16) |
          ((rgb(p + 1) & 0xff) << 8) | (rgb(p + 2) & 0xff))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      ios.close(); writer.dispose()
      val bytes = buf.toByteArray
      assert(bytes(8 + 4 + 4 + 12) == 1,
        s"JDK writer did not produce an interlaced PNG for ${w}x$h")
      val (dw, dh, out) = MediaCodec.decodePng(bytes)
      assert((dw, dh) == (w, h), s"dims for interlaced ${w}x$h")
      assert(out.toSeq == rgb.toSeq, s"interlaced pixels for ${w}x$h")
    }
  }

  /** Color-managed `getRGB` lies for gray/16-bit images (Java applies an
    * ICC transform); read raw raster samples and resolve them the way the
    * image's own model says to — palette lookup or linear depth rescale. */
  private def rawRgb(bi: java.awt.image.BufferedImage, x: Int, y: Int): (Int, Int, Int) =
    bi.getColorModel match {
      case icm: java.awt.image.IndexColorModel =>
        val i = bi.getRaster.getSample(x, y, 0)
        (icm.getRed(i), icm.getGreen(i), icm.getBlue(i))
      case _ =>
        val r = bi.getRaster
        def s(b: Int) = {
          val bits = r.getSampleModel.getSampleSize(b)
          r.getSample(x, y, b) * 255 / ((1 << bits) - 1)
        }
        if (r.getNumBands >= 3) (s(0), s(1), s(2)) else (s(0), s(0), s(0))
    }

  test("PNG bit-depth matrix (16 and sub-byte 1/2/4): our encoder " +
      "round-trips and ImageIO reads our bytes back pixel-identical") {
    val w = 9; val h = 7
    // sub-byte GRAY on the k×255/(2^d−1) lattice: quantize→rescale is exact
    for (d <- Seq(1, 2, 4)) {
      val dmax = (1 << d) - 1
      val gray = Array.tabulate(w * h)(i => (((i * 5 + d) % (dmax + 1)) * 255 / dmax).toByte)
      val bytes = MediaCodec.encodePng(w, h, 0, gray, bitDepth = d)
      assert(bytes(8 + 4 + 4 + 8) == d, s"IHDR depth for d=$d")
      val (dw, dh, rgb) = MediaCodec.decodePng(bytes)
      assert((dw, dh) == (w, h))
      assert(rgb.toSeq == gray.flatMap(g => Seq(g, g, g)).toSeq, s"depth-$d gray")
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        val g = gray(y * w + x) & 0xff
        assert(rawRgb(bi, x, y) == ((g, g, g)), s"ImageIO vs depth-$d at ($x,$y)")
      }
    }
    // sub-byte PALETTE: indices pack verbatim, dereference a tiny PLTE
    for (d <- Seq(2, 4)) {
      val n = 1 << d
      val pal = Array.tabulate(n * 3)(i => ((i * 29 + 7) % 256).toByte)
      val idx = Array.tabulate(w * h)(i => ((i * 3 + 1) % n).toByte)
      val bytes = MediaCodec.encodePng(w, h, 3, idx, pal, bitDepth = d)
      assert(bytes(8 + 4 + 4 + 8) == d)
      val (_, _, rgb) = MediaCodec.decodePng(bytes)
      val want = idx.flatMap { i0 =>
        val i = (i0 & 0xff) * 3; Seq(pal(i), pal(i + 1), pal(i + 2))
      }
      assert(rgb.toSeq == want.toSeq, s"depth-$d palette")
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        val i = (idx(y * w + x) & 0xff) * 3
        assert(rawRgb(bi, x, y) ==
          ((pal(i) & 0xff, pal(i + 1) & 0xff, pal(i + 2) & 0xff)),
          s"ImageIO vs depth-$d palette at ($x,$y)")
      }
    }
    // 16-bit gray: v×257 on the wire, high byte back — identity round-trip
    val gray8 = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val b16 = MediaCodec.encodePng(w, h, 0, gray8, bitDepth = 16)
    assert(b16(8 + 4 + 4 + 8) == 16)
    val (_, _, rgb16) = MediaCodec.decodePng(b16)
    assert(rgb16.toSeq == gray8.flatMap(g => Seq(g, g, g)).toSeq, "16-bit gray")
    val bi16 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b16))
    for (y <- 0 until h; x <- 0 until w) {
      val g = gray8(y * w + x) & 0xff
      assert(rawRgb(bi16, x, y) == ((g, g, g)), s"ImageIO vs 16-bit at ($x,$y)")
    }
    // 16-bit RGB too (filter delta = 6 bytes — a different stride path)
    val rgbIn = rgbPattern(w, h)
    val (_, _, rgbOut) = MediaCodec.decodePng(
      MediaCodec.encodePng(w, h, 2, rgbIn, bitDepth = 16))
    assert(rgbOut.toSeq == rgbIn.toSeq, "16-bit RGB")
  }

  test("THIRD-PARTY depth fixtures decode: ImageIO-written 16-bit gray " +
      "and sub-byte palette PNGs") {
    val w = 11; val h = 6
    // ImageIO's own 16-bit gray writer (TYPE_USHORT_GRAY → depth-16 PNG)
    val g16 = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      g16.getRaster.setSample(x, y, 0, ((x * 251 + y * 37 + 3) * 193) % 65536)
    val out16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(g16, "png", out16)
    val bytes16 = out16.toByteArray
    assert(bytes16(8 + 4 + 4 + 8) == 16 && bytes16(8 + 4 + 4 + 9) == 0,
      "JDK did not write a depth-16 gray PNG — fixture assumption broken")
    val (dw, dh, px16) = MediaCodec.decodePng(bytes16)
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val want = g16.getRaster.getSample(x, y, 0) >> 8
      val got = px16((y * w + x) * 3) & 0xff
      assert(got == want, s"16-bit sample at ($x,$y): got $got want $want")
    }
    // ImageIO's sub-byte palette writer (TYPE_BYTE_BINARY + 4-entry
    // IndexColorModel → depth-2 palette PNG)
    val colors = Array(0xff000000, 0xffff4020, 0xff20ff40, 0xff4020ff)
    val icm = new java.awt.image.IndexColorModel(2, 4,
      colors.map(c => ((c >> 16) & 0xff).toByte),
      colors.map(c => ((c >> 8) & 0xff).toByte),
      colors.map(c => (c & 0xff).toByte))
    val p2 = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, icm)
    for (y <- 0 until h; x <- 0 until w)
      p2.getRaster.setSample(x, y, 0, (x + 2 * y) % 4)
    val outP = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(p2, "png", outP)
    val bytesP = outP.toByteArray
    assert(bytesP(8 + 4 + 4 + 8) == 2 && bytesP(8 + 4 + 4 + 9) == 3,
      "JDK did not write a depth-2 palette PNG — fixture assumption broken")
    val (_, _, pxP) = MediaCodec.decodePng(bytesP)
    for (y <- 0 until h; x <- 0 until w) {
      val c = colors((x + 2 * y) % 4)
      val p = (y * w + x) * 3
      assert((pxP(p) & 0xff, pxP(p + 1) & 0xff, pxP(p + 2) & 0xff) ==
        (((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)),
        s"palette pixel at ($x,$y)")
    }
  }

  test("GIF round-trip: LZW + palette recover every pixel, sequential and " +
      "interlaced, through width growth and multiple sub-blocks") {
    for ((w, h) <- Seq((9, 7), (1, 1), (16, 1), (1, 13), (33, 21))) {
      val n = 8
      val pal = Array.tabulate(n * 3)(i => ((i * 41 + 13) % 256).toByte)
      val idx = Array.tabulate(w * h)(i => ((i * 5 + 2) % n).toByte)
      val want = idx.flatMap { i0 =>
        val i = (i0 & 0xff) * 3; Seq(pal(i), pal(i + 1), pal(i + 2))
      }.toSeq
      for (inter <- Seq(false, true)) {
        val (dw, dh, rgb) = MediaCodec.decodeGif(
          MediaCodec.encodeGif(w, h, pal, idx, inter))
        assert((dw, dh) == (w, h), s"dims ${w}x$h interlace=$inter")
        assert(rgb.toSeq == want, s"pixels ${w}x$h interlace=$inter")
      }
    }
    // a large 256-color noisy raster climbs the LZW width to 12 bits,
    // spans many 255-byte sub-blocks, and (dictionary full) exercises the
    // encoder's mid-stream clear — the decoder must track all of it
    val (w, h) = (120, 90)
    val pal = Array.tabulate(256 * 3)(i => ((i * 23 + 5) % 256).toByte)
    val idx = Array.tabulate(w * h)(i => ((i * i + 3 * i + 7) % 256).toByte)
    val (dw, dh, rgb) = MediaCodec.decodeGif(MediaCodec.encodeGif(w, h, pal, idx))
    assert((dw, dh) == (w, h))
    val want = idx.flatMap { i0 =>
      val i = (i0 & 0xff) * 3; Seq(pal(i), pal(i + 1), pal(i + 2))
    }.toSeq
    assert(rgb.toSeq == want, "256-color 12-bit-width raster")
  }

  test("GIF cross-validation: ImageIO reads our bytes pixel-identical " +
      "(sequential AND interlaced), and our decoder reads ImageIO's GIFs") {
    val (w, h) = (13, 9)
    val colors = Array(0xff102030, 0xffe04010, 0xff30c060, 0xff5060f0)
    val pal = colors.flatMap(c => Seq(((c >> 16) & 0xff).toByte,
      ((c >> 8) & 0xff).toByte, (c & 0xff).toByte))
    val idx = Array.tabulate(w * h)(i => ((i % w + 2 * (i / w)) % 4).toByte)
    for (inter <- Seq(false, true)) {
      val bytes = MediaCodec.encodeGif(w, h, pal, idx, inter)
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null, s"ImageIO rejected our GIF (interlace=$inter)")
      assert((bi.getWidth, bi.getHeight) == (w, h))
      for (y <- 0 until h; x <- 0 until w) {
        val c = colors(idx(y * w + x) & 0xff)
        assert(rawRgb(bi, x, y) ==
          (((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)),
          s"ImageIO vs our GIF at ($x,$y) interlace=$inter")
      }
    }
    // reverse direction: the JDK's own GIF writer (indexed image → GIF)
    val icm = new java.awt.image.IndexColorModel(2, 4,
      colors.map(c => ((c >> 16) & 0xff).toByte),
      colors.map(c => ((c >> 8) & 0xff).toByte),
      colors.map(c => (c & 0xff).toByte))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, idx(y * w + x) & 0xff)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", out), "JDK GIF writer")
    val (dw, dh, rgb) = MediaCodec.decodeGif(out.toByteArray)
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val c = colors(idx(y * w + x) & 0xff)
      val p = (y * w + x) * 3
      assert((rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff) ==
        (((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)),
        s"our decode vs JDK GIF at ($x,$y)")
    }
  }

  test("GIF refusals are loud and specific; decode() degrades corrupt " +
      "GIFs to the stub") {
    val pal = Array.tabulate(12)(i => ((i * 61) % 256).toByte)
    val idx = Array.tabulate(30)(i => (i % 4).toByte)
    val good = MediaCodec.encodeGif(6, 5, pal, idx)
    // truncations at every structural boundary refuse, never loop or crash
    for (cut <- Seq(3, 10, 13, 20, good.length - 2)) {
      intercept[IllegalArgumentException](
        MediaCodec.decodeGif(java.util.Arrays.copyOf(good, cut)))
    }
    // no image frame before the trailer
    val noFrame = ("GIF89a".getBytes.toSeq ++
      Seq[Byte](6, 0, 5, 0, 0, 0, 0, 0x3b)).toArray
    val e = intercept[IllegalArgumentException](MediaCodec.decodeGif(noFrame))
    assert(e.getMessage.contains("no image frame"))
    // decode() falls back to the stub instead of throwing
    val bad = good.clone()
    bad(good.length / 2) = (bad(good.length / 2) ^ 0x55).toByte
    val rec = MediaRecord(9L, "image", java.util.Arrays.copyOf(bad, 17),
      17L)
    assert(MediaCodec.decode(rec).feature.toSeq ==
      MediaCodec.decodeStub(rec).feature.toSeq)
    // the sniffer routes intact GIFs to the real decoder
    val feats = MediaCodec.decode(MediaRecord(5L, "image", good, good.length.toLong))
    assert((feats.width, feats.height) == (6, 5))
  }

  test("TIFF round-trip: none/LZW/PackBits strips recover every pixel for " +
      "gray, RGB, palette, and the LZW horizontal-differencing predictor") {
    for ((w, h) <- Seq((9, 7), (1, 1), (16, 1), (33, 21))) {
      val gray = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
      val rgb = rgbPattern(w, h)
      for (comp <- Seq(1, 5, 32773)) {
        val (dw, dh, g) = MediaCodec.decodeTiff(
          MediaCodec.encodeTiff(w, h, 1, gray, comp))
        assert((dw, dh) == (w, h), s"gray dims ${w}x$h comp=$comp")
        assert(g.toSeq == gray.flatMap(v => Seq(v, v, v)).toSeq,
          s"gray pixels ${w}x$h comp=$comp")
        val (_, _, c) = MediaCodec.decodeTiff(
          MediaCodec.encodeTiff(w, h, 3, rgb, comp))
        assert(c.toSeq == rgb.toSeq, s"RGB pixels ${w}x$h comp=$comp")
      }
      // LZW + predictor 2 (horizontal differencing per channel)
      val (_, _, p2) = MediaCodec.decodeTiff(
        MediaCodec.encodeTiff(w, h, 3, rgb, compression = 5, predictor = 2))
      assert(p2.toSeq == rgb.toSeq, s"predictor-2 pixels ${w}x$h")
      // palette: 256-entry ColorMap dereferenced from 16-bit entries
      val pal = Array.tabulate(768)(i => ((i * 29 + 7) % 256).toByte)
      val idx = Array.tabulate(w * h)(i => ((i * 5 + 3) % 256).toByte)
      val (_, _, pp) = MediaCodec.decodeTiff(
        MediaCodec.encodeTiff(w, h, 1, idx, compression = 5, palette = pal))
      val want = idx.flatMap { i0 =>
        val i = (i0 & 0xff) * 3; Seq(pal(i), pal(i + 1), pal(i + 2))
      }
      assert(pp.toSeq == want.toSeq, s"palette pixels ${w}x$h")
    }
    // a large noisy raster pushes TIFF-LZW through the EARLY width
    // changes (9->10->11->12 bits) and the mid-stream clear
    val (w, h) = (120, 90)
    val noisy = Array.tabulate(w * h * 3)(i => ((i * i * 31 + 7 * i) % 256).toByte)
    val (_, _, out) = MediaCodec.decodeTiff(
      MediaCodec.encodeTiff(w, h, 3, noisy, compression = 5))
    assert(out.toSeq == noisy.toSeq, "12-bit-width LZW raster")
  }

  test("TIFF LZW: random strips of about 255 bytes round-trip, where the " +
      "last code before EOI is the one that widens the decoder to 10 bits") {
    val rnd = new scala.util.Random(255)
    for (n <- Seq(253, 254, 255, 256, 257); _ <- 1 to 40) {
      val px = new Array[Byte](n)
      rnd.nextBytes(px)
      val (_, _, out) = MediaCodec.decodeTiff(
        MediaCodec.encodeTiff(n, 1, 1, px, compression = 5))
      assert(out.toSeq == px.flatMap(v => Seq(v, v, v)).toSeq, s"$n-byte strip")
    }
  }

  test("TIFF cross-validation with ImageIO: the JDK reads our LZW and " +
      "PackBits bytes; we read its (multi-strip, big-endian-capable) " +
      "output in none/LZW/PackBits and 1-bit bilevel") {
    val (w, h) = (13, 9)
    val rgb = rgbPattern(w, h)
    for ((comp, name) <- Seq(1 -> null, 5 -> "LZW", 32773 -> "PackBits")) {
      // ours -> ImageIO
      val bytes = MediaCodec.encodeTiff(w, h, 3, rgb, comp,
        predictor = if (comp == 5) 2 else 1)
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(bi != null, s"ImageIO rejected our TIFF comp=$comp")
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        assert(rawRgb(bi, x, y) ==
          ((rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff)),
          s"ImageIO vs our TIFF at ($x,$y) comp=$comp")
      }
      // ImageIO -> ours
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(p) & 0xff) << 16) |
          ((rgb(p + 1) & 0xff) << 8) | (rgb(p + 2) & 0xff))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val param = writer.getDefaultWriteParam
      if (name != null) {
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType(name)
      }
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.close(); writer.dispose()
      val (dw, dh, got) = MediaCodec.decodeTiff(buf.toByteArray)
      assert((dw, dh) == (w, h), s"dims from ImageIO TIFF $name")
      assert(got.toSeq == rgb.toSeq, s"pixels from ImageIO TIFF $name")
    }
    // 1-bit bilevel through the JDK's writer (TYPE_BYTE_BINARY -> 1-bit)
    val bw1 = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      bw1.getRaster.setSample(x, y, 0, (x + y) % 2)
    val out1 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bw1, "tiff", out1), "JDK TIFF writer")
    val (_, _, px1) = MediaCodec.decodeTiff(out1.toByteArray)
    for (y <- 0 until h; x <- 0 until w) {
      val want = if ((x + y) % 2 == 1) 255 else 0
      val p = (y * w + x) * 3
      assert((px1(p) & 0xff) == want, s"bilevel pixel at ($x,$y)")
    }
  }

  test("TIFF big-endian (MM) multi-strip fixture decodes: byte order, " +
      "rowsPerStrip < height, and strip reassembly are all live paths") {
    // hand-assembled MM file: 4x4 8-bit gray, 2 strips of 2 rows each
    val gray = Array.tabulate(16)(i => ((i * 37 + 5) % 256).toByte)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Int): Unit = { u16(v >>> 16); u16(v & 0xffff) }
    out.write('M'); out.write('M'); u16(42)
    u32(24) // IFD offset: header(8) + two 8-byte strips
    out.write(gray, 0, 8)  // strip 0 (rows 0-1)
    out.write(gray, 8, 8)  // strip 1 (rows 2-3)
    val entries = Seq( // tag, type, count, value
      (256, 3, 1, 4), (257, 3, 1, 4), (258, 3, 1, 8), (259, 3, 1, 1),
      (262, 3, 1, 1), (273, 4, 2, -1 /* offsets array, out of line */),
      (277, 3, 1, 1), (278, 3, 1, 2), (279, 4, 2, -2 /* counts array */))
    u16(entries.length)
    val offsArrayAt = 24 + 2 + entries.length * 12 + 4
    entries.foreach { case (tag, typ, count, value) =>
      u16(tag); u16(typ); u32(count)
      value match {
        case -1 => u32(offsArrayAt)
        case -2 => u32(offsArrayAt + 8)
        case v if typ == 3 => u16(v); u16(0)
        case v => u32(v)
      }
    }
    u32(0) // no next IFD
    u32(8); u32(16) // strip offsets
    u32(8); u32(8)  // strip byte counts
    val (dw, dh, rgb) = MediaCodec.decodeTiff(out.toByteArray)
    assert((dw, dh) == (4, 4))
    assert(rgb.toSeq == gray.flatMap(g => Seq(g, g, g)).toSeq,
      "big-endian multi-strip gray pixels")
  }

  test("GIF local color table + sub-rectangle frame composite onto the " +
      "logical screen over the background color") {
    // take a 2x2 encoded frame's LZW section and re-wrap it as a frame at
    // (1,1) on a 4x4 screen with a 2-entry GLOBAL table (background) and
    // the frame's own LOCAL table
    val pal = Array[Byte](10, 20, 30, 100, 110, 120, -56, -46, -36, 77, 88, 99)
    val idx = Array[Byte](0, 1, 2, 3)
    val small = MediaCodec.encodeGif(2, 2, pal, idx)
    // encodeGif layout: header(6) + LSD(7) + GCT(4 entries x 3) +
    // descriptor(10) + LZW section + trailer(1)
    val lzw = java.util.Arrays.copyOfRange(small, 6 + 7 + 12 + 10,
      small.length - 1) // min code size + sub-blocks + terminator
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes)
    out.write(4); out.write(0); out.write(4); out.write(0) // 4x4 screen
    out.write(0x80) // GCT present, 2 entries (s=0)
    out.write(1) // background index 1
    out.write(0)
    out.write(Array[Byte](5, 6, 7, 40, 50, 60), 0, 6) // GCT: bg = (40,50,60)
    out.write(0x2c) // frame at (1,1), 2x2, LCT present (4 entries: s=1)
    out.write(1); out.write(0); out.write(1); out.write(0)
    out.write(2); out.write(0); out.write(2); out.write(0)
    out.write(0x81)
    out.write(pal, 0, 12) // local color table
    out.write(lzw, 0, lzw.length)
    out.write(0x3b)
    val (dw, dh, rgb) = MediaCodec.decodeGif(out.toByteArray)
    assert((dw, dh) == (4, 4))
    def px(x: Int, y: Int) = ((rgb((y * 4 + x) * 3) & 0xff,
      rgb((y * 4 + x) * 3 + 1) & 0xff, rgb((y * 4 + x) * 3 + 2) & 0xff))
    // background everywhere outside the frame
    assert(px(0, 0) == ((40, 50, 60)) && px(3, 3) == ((40, 50, 60)) &&
      px(2, 0) == ((40, 50, 60)) && px(0, 2) == ((40, 50, 60)))
    // the frame's pixels from the LOCAL table at (1,1)..(2,2)
    assert(px(1, 1) == ((10, 20, 30)) && px(2, 1) == ((100, 110, 120)))
    assert(px(1, 2) == ((200, 210, 220)) && px(2, 2) == ((77, 88, 99)))
  }

  test("TIFF refusals are loud; decode() sniffs TIFF and degrades corrupt " +
      "payloads to the stub") {
    val rgb = rgbPattern(6, 5)
    val good = MediaCodec.encodeTiff(6, 5, 3, rgb, compression = 5)
    for (cut <- Seq(4, 9, good.length / 2, good.length - 3)) {
      intercept[IllegalArgumentException](
        MediaCodec.decodeTiff(java.util.Arrays.copyOf(good, cut)))
    }
    val feats = MediaCodec.decode(MediaRecord(5L, "image", good, good.length.toLong))
    assert((feats.width, feats.height) == (6, 5), "sniffer must route TIFF")
    val bad = good.clone()
    bad(5) = 0x7f // corrupt the IFD offset
    val rec = MediaRecord(9L, "image", bad, bad.length.toLong)
    assert(MediaCodec.decode(rec).feature.toSeq ==
      MediaCodec.decodeStub(rec).feature.toSeq)
  }

  test("decode() sniffs PNG alongside BMP (distinct magics, same features)") {
    val rgb = rgbPattern(5, 6)
    val png = MediaCodec.decode(MediaRecord(4L, "image",
      MediaCodec.encodePng(5, 6, 2, rgb), 1L))
    val bmp = MediaCodec.decode(MediaRecord(4L, "image",
      MediaCodec.encodeBmp(5, 6, rgb), 1L))
    assert((png.width, png.height) == (5, 6))
    assert(png.feature.toSeq == bmp.feature.toSeq,
      "identical pixels must yield identical features regardless of container")
  }

  test("decode() sniffs real formats; non-media payloads fall back to the stub") {
    val rgb = rgbPattern(4, 3)
    val img = MediaCodec.decode(MediaRecord(1L, "image",
      MediaCodec.encodeBmp(4, 3, rgb), 100L))
    assert((img.width, img.height, img.n_frames) == (4, 3, 1))
    val wav = MediaCodec.decode(MediaRecord(2L, "audio",
      MediaCodec.encodeWav(16000, 1, Array.tabulate(30)(_.toShort)), 100L))
    assert((wav.width, wav.height, wav.n_frames) == (16000, 1, 30))
    // plain text (even starting with BMP/RIFF-like magic) stubs, not throws
    for (txt <- Seq("hello corpus", "BM too short", "RIFF but not a wave at all, really")) {
      val rec = MediaRecord(3L, "image", txt.getBytes, txt.length.toLong)
      val (got, want) = (MediaCodec.decode(rec), MediaCodec.decodeStub(rec))
      assert(got.copy(feature = null).toString == want.copy(feature = null).toString
        && got.feature.toSeq == want.feature.toSeq, txt)
    }
  }
}
