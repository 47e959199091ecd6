package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the pipeline
  * as opaque `binary` payloads with a typed metadata struct alongside.
  *
  * The Spark side — schema, partition-sized batching, typed mapPartitions,
  * pushdown-friendly metadata columns — is real and tested, and so is the
  * decode for the public formats: 24-bit BMP and binary PPM pixels, PNG
  * (deflate + scanline filters via `java.util.zip.Inflater` —
  * gray/RGB/palette/alpha, every legal bit depth 1/2/4/8/16, interlaced
  * or not), GIF (LZW + global/local color tables, interlace, first frame
  * of animations), baseline TIFF (none/LZW/PackBits strips, gray/RGB/
  * palette/bilevel, both byte orders, horizontal-differencing
  * predictor), baseline AND progressive JPEG at 8- and 12-bit
  * precision ([[JpegCodec]]: huffman + DCT + YCbCr incl. 4:2:0
  * subsampling, restart markers, spectral selection + successive
  * approximation, plus ARITHMETIC-coded streams — sequential AND
  * progressive — via the Annex D/F/G coder in [[JpegArith]] — pure JVM),
  * and WAV audio across the depth
  * matrix — integer PCM 8/16/24/32 and IEEE float 32/64
  * ([[MediaCodec.decode]] — no codec dependencies anywhere). Payloads in
  * formats that genuinely need a codec library (MP3, H.264) fall back to
  * the deterministic [[MediaCodec.decodeStub]]; swap that arm for a
  * JNI/FFI decoder without touching the surrounding plan.
  */
object Multimodal {

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long,
      media_type: String,
      payload: Array[Byte],
      byte_len: Long)

  /** Decoded features (what a real image/audio decoder would emit). */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Double])

  object MediaCodec {

    // ------------------------------------------------ real decoders (JVM)
    // BMP (24-bit BI_RGB), binary PPM (P6), and PCM WAV decode with no
    // codec libraries: these public formats are header + raw samples, so a
    // few dozen lines of byte arithmetic replace the round-8 stub for any
    // payload that carries them. Unrecognized/corrupt payloads still fall
    // back to [[decodeStub]] so mixed corpora never fail mid-pipeline.

    private def u16le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def i32le(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    /** Encode an RGB image (row-major, top-down, 3 bytes/pixel) as a
      * 24-bit uncompressed BMP — the writer side of [[decodeBmp]], used by
      * the contract tests to synthesize real in-corpus image bytes. */
    def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
      val rowSize = (w * 3 + 3) / 4 * 4
      val out = java.nio.ByteBuffer.allocate(54 + rowSize * h)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
        .putInt(0).putInt(54) // reserved, pixel offset
      out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      var y = h - 1 // BMP rows are bottom-up
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val p = (y * w + x) * 3
          out.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p)) // BGR on disk
          x += 1
        }
        var pad = rowSize - w * 3
        while (pad > 0) { out.put(0.toByte); pad -= 1 }
        y -= 1
      }
      out.array()
    }

    /** Decode a 24-bit uncompressed BMP into (width, height, RGB bytes
      * row-major top-down). Throws on anything that is not one. */
    def decodeBmp(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
      val offset = i32le(b, 10)
      val w = i32le(b, 18)
      val hRaw = i32le(b, 22)
      val h = math.abs(hRaw) // negative height = top-down row order
      require(u16le(b, 28) == 24, s"only 24-bit BMP (got ${u16le(b, 28)})")
      require(i32le(b, 30) == 0, "only uncompressed (BI_RGB) BMP")
      require(w > 0 && h > 0 && w * h <= (b.length - offset),
        "BMP dimensions exceed payload")
      val rowSize = (w * 3 + 3) / 4 * 4
      val rgb = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val srcY = if (hRaw > 0) h - 1 - row else row // bottom-up vs top-down
        var x = 0
        while (x < w) {
          val s = offset + srcY * rowSize + x * 3
          val d = (row * w + x) * 3
          rgb(d) = b(s + 2); rgb(d + 1) = b(s + 1); rgb(d + 2) = b(s)
          x += 1
        }
        row += 1
      }
      (w, h, rgb)
    }

    /** Decode a binary PPM (`P6`): ASCII header (whitespace/comment
      * tolerant), then raw RGB — already row-major top-down. */
    def decodePpm(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(b.length > 2 && b(0) == 'P' && b(1) == '6', "not a P6 PPM")
      var i = 2
      def token(): Int = {
        while (i < b.length && (b(i).toChar.isWhitespace || b(i) == '#'))
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else i += 1
        var v = 0
        while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
        v
      }
      val w = token(); val h = token(); val maxVal = token()
      i += 1 // single whitespace after maxval
      require(w > 0 && h > 0 && maxVal == 255, "unsupported PPM header")
      require(b.length - i >= w * h * 3, "PPM payload truncated")
      (w, h, java.util.Arrays.copyOfRange(b, i, i + w * h * 3))
    }

    // ------------------------------------------------------------- PNG
    // PNG is deflate + per-scanline filters — decodable with
    // java.util.zip.Inflater and byte arithmetic, zero codec libraries.
    // Supported: color types 0 (gray), 2 (RGB), 3 (palette),
    // 4 (gray+alpha), 6 (RGBA) at EVERY legal bit depth (1/2/4/8/16 per
    // the spec's depth/colorType matrix), Adam7-interlaced or not.
    // Illegal combinations and corrupt streams refuse loudly (decode()
    // then falls back to the stub, so mixed corpora keep flowing).

    private def i32be(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    private val PngSig =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def channelsOf(colorType: Int): Int = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case t => throw new IllegalArgumentException(s"unsupported PNG color type $t")
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Encode raw 8-bit scanlines as a PNG — the writer side of
      * [[decodePng]]. `px` is row-major top-down, `channelsOf(colorType)`
      * bytes per pixel, ALWAYS 8 bits per sample on input; `bitDepth`
      * selects the on-wire depth: 16 widens each sample to `v×257` (decode
      * takes the high byte back — identity round-trip), 1/2/4 pack
      * MSB-first (gray samples quantize via `v >> (8−d)`, so inputs on the
      * `k×255/(2^d−1)` lattice round-trip exactly; palette INDICES pack
      * verbatim). Each row carries filter `y % 5`, so a round-trip
      * exercises every unfilter path (None/Sub/Up/Average/Paeth), making
      * the encode→decode pair a real conformance check, not an identity. */
    def encodePng(w: Int, h: Int, colorType: Int, px: Array[Byte],
        palette: Array[Byte] = null, bitDepth: Int = 8): Array[Byte] = {
      val bpp = channelsOf(colorType)
      require(px.length == w * h * bpp,
        s"need ${w * h * bpp} bytes for ${w}x$h type-$colorType, got ${px.length}")
      val legal = colorType match {
        case 0 => Set(1, 2, 4, 8, 16)
        case 3 => Set(1, 2, 4, 8)
        case _ => Set(8, 16)
      }
      require(legal(bitDepth),
        s"illegal PNG depth $bitDepth for color type $colorType")
      val bitsPP = bitDepth * bpp
      val delta = math.max(1, bitsPP / 8)
      val rowB = (w * bitsPP + 7) / 8
      // pack the 8-bit input samples to the on-wire depth, row-major
      val packed = new Array[Byte](h * rowB)
      var py = 0
      while (py < h) {
        var s = 0
        while (s < w * bpp) {
          val v = px(py * w * bpp + s) & 0xff
          bitDepth match {
            case 8 => packed(py * rowB + s) = v.toByte
            case 16 =>
              packed(py * rowB + 2 * s) = v.toByte     // v16 = v*257:
              packed(py * rowB + 2 * s + 1) = v.toByte // high == low == v
            case d =>
              val q = if (colorType == 3) {
                require(v < (1 << d), s"palette index $v exceeds depth $d")
                v
              } else v >> (8 - d)
              val bitOff = s * d
              val shift = 8 - d - (bitOff & 7)
              val idx = py * rowB + (bitOff >> 3)
              packed(idx) = ((packed(idx) & 0xff) | (q << shift)).toByte
          }
          s += 1
        }
        py += 1
      }
      val raw = new Array[Byte](h * (1 + rowB))
      var y = 0
      while (y < h) {
        val f = y % 5
        raw(y * (1 + rowB)) = f.toByte
        var x = 0
        while (x < rowB) {
          val cur = packed(y * rowB + x) & 0xff
          val left = if (x >= delta) packed(y * rowB + x - delta) & 0xff else 0
          val up = if (y > 0) packed((y - 1) * rowB + x) & 0xff else 0
          val ul = if (x >= delta && y > 0) packed((y - 1) * rowB + x - delta) & 0xff else 0
          val v = f match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - ((left + up) >> 1)
            case 4 => cur - paeth(left, up, ul)
          }
          raw(y * (1 + rowB) + 1 + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val zOut = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val tmp = new Array[Byte](8192)
      while (!deflater.finished()) zOut.write(tmp, 0, deflater.deflate(tmp))
      deflater.end()
      val out = new java.io.ByteArrayOutputStream(zOut.size + 128)
      out.write(PngSig)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
        val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        out.write(tb); out.write(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      }
      chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(bitDepth.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array())
      if (colorType == 3) {
        require(palette != null && palette.length % 3 == 0 &&
          palette.length <= 768, "palette PNG needs a <=256-entry RGB PLTE")
        chunk("PLTE", palette)
      }
      chunk("IDAT", zOut.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Decode a PNG into (width, height, RGB bytes row-major top-down):
      * walks the chunk list, inflates the concatenated IDAT zlib stream,
      * unfilters each scanline (None/Sub/Up/Average/Paeth) — per Adam7
      * PASS for interlaced files, scattering each sub-image onto the grid
      * — then expands gray/palette/alpha channels to RGB (alpha dropped).
      * All legal bit depths decode: 16-bit scales to 8 (high byte), 1/2/4
      * unpack MSB-first (gray samples rescale to full range, palette
      * indices dereference unscaled), per the PNG spec's depth/colorType
      * matrix — illegal combinations refuse loudly. */
    def decodePng(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(b.length > 8 + 25 && java.util.Arrays.equals(
        java.util.Arrays.copyOf(b, 8), PngSig), "not a PNG")
      var i = 8
      var w = 0; var h = 0; var bitDepth = -1; var colorType = -1; var interlace = 0
      var palette: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done && i + 8 <= b.length) {
        val len = i32be(b, i)
        require(len >= 0 && i + 12 + len <= b.length, "PNG chunk exceeds payload")
        new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII) match {
          case "IHDR" =>
            require(len == 13, "malformed IHDR")
            w = i32be(b, i + 8); h = i32be(b, i + 12)
            bitDepth = b(i + 16) & 0xff; colorType = b(i + 17) & 0xff
            interlace = b(i + 20) & 0xff
          case "PLTE" => palette = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
          case "IDAT" => idat.write(b, i + 8, len)
          case "IEND" => done = true
          case _ => () // ancillary chunks (tEXt, gAMA, …) skip
        }
        i += 12 + len
      }
      require(bitDepth >= 0 && w > 0 && h > 0, "missing/empty IHDR")
      require(interlace == 0 || interlace == 1,
        s"unknown PNG interlace method $interlace")
      val legalDepths: Set[Int] = colorType match {
        case 0 => Set(1, 2, 4, 8, 16) // grayscale
        case 3 => Set(1, 2, 4, 8)     // palette indices
        case 2 | 4 | 6 => Set(8, 16)  // RGB / gray+alpha / RGBA
        case other =>
          throw new IllegalArgumentException(s"unknown PNG color type $other")
      }
      require(legalDepths(bitDepth),
        s"illegal PNG depth $bitDepth for color type $colorType")
      val bpp = channelsOf(colorType)
      if (colorType == 3) require(palette != null, "palette PNG without PLTE")
      // raw-stream geometry: bits per pixel, bytes per scanline (sub-byte
      // depths pack MSB-first; rows pad to a byte boundary), and the
      // byte-level filter delta (PNG filters always operate on BYTES — for
      // sub-byte depths the "previous pixel" is the previous byte)
      val bitsPP = bitDepth * bpp
      val filterDelta = math.max(1, bitsPP / 8)
      def rowBytes(pw: Int): Int = (pw * bitsPP + 7) / 8
      val stride = w * bpp
      require(h.toLong * (1 + stride) <= Int.MaxValue, "PNG dimensions overflow")
      // Adam7 sub-image geometry: (xStart, yStart, xStep, yStep) per pass;
      // non-interlaced decodes as the single full-geometry "pass"
      val passes: Seq[(Int, Int, Int, Int)] =
        if (interlace == 0) Seq((0, 0, 1, 1))
        else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
      def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
        val (x0, y0, xs, ys) = p
        (math.max(0, (w - x0 + xs - 1) / xs), math.max(0, (h - y0 + ys - 1) / ys))
      }
      val totalRaw = passes.map { p =>
        val (pw, ph) = passDims(p)
        if (pw == 0 || ph == 0) 0L else ph.toLong * (1 + rowBytes(pw))
      }.sum
      require(totalRaw <= Int.MaxValue, "PNG dimensions overflow")
      // plausibility: zlib tops out near 1032:1, so declared dimensions
      // demanding more inflated bytes than the IDAT stream could ever
      // yield are corruption — refuse before allocating for garbage
      require(totalRaw <= 1100L * idat.size + 1024,
        s"corrupt PNG: $totalRaw pixel-stream bytes " +
          s"declared for ${idat.size} compressed bytes")
      val raw = new Array[Byte](totalRaw.toInt)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      try {
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          require(n > 0 || inf.finished(), "stalled PNG inflate (corrupt IDAT)")
          off += n
        }
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"undecodable PNG stream: $e")
      } finally inf.end()
      require(off == raw.length,
        s"PNG pixel stream short: $off of ${raw.length} bytes")
      // unfilter each pass's scanlines (filters reference the PASS's own
      // previous row/pixel, never the full image), then scatter the pass's
      // pixels onto the image grid
      val px = new Array[Byte](h * stride)
      var rawOff = 0
      passes.foreach { case pass @ (x0, y0, xs, ys) =>
        val (pw, ph) = passDims(pass)
        if (pw > 0 && ph > 0) {
          val pRow = rowBytes(pw)
          val pp = new Array[Byte](ph * pRow)
          var y = 0
          while (y < ph) {
            val f = raw(rawOff + y * (1 + pRow)) & 0xff
            var x = 0
            while (x < pRow) {
              val cur = raw(rawOff + y * (1 + pRow) + 1 + x) & 0xff
              val left = if (x >= filterDelta) pp(y * pRow + x - filterDelta) & 0xff else 0
              val up = if (y > 0) pp((y - 1) * pRow + x) & 0xff else 0
              val ul = if (x >= filterDelta && y > 0) pp((y - 1) * pRow + x - filterDelta) & 0xff else 0
              val v = f match {
                case 0 => cur
                case 1 => cur + left
                case 2 => cur + up
                case 3 => cur + ((left + up) >> 1)
                case 4 => cur + paeth(left, up, ul)
                case other =>
                  throw new IllegalArgumentException(s"bad PNG filter $other")
              }
              pp(y * pRow + x) = (v & 0xff).toByte
              x += 1
            }
            y += 1
          }
          // expand the pass's raw samples to 8 bits per channel: 16-bit
          // takes the high byte (big-endian per spec), sub-byte unpacks
          // MSB-first — gray samples rescale to [0,255] (×255/(2^d−1)),
          // palette INDICES stay unscaled (they dereference, not display)
          val pStride = pw * bpp
          val pp8 =
            if (bitDepth == 8) pp
            else {
              val e = new Array[Byte](ph * pStride)
              val dmax = (1 << bitDepth) - 1
              var y2 = 0
              while (y2 < ph) {
                var s = 0
                while (s < pStride) {
                  val v8 =
                    if (bitDepth == 16) pp(y2 * pRow + 2 * s) & 0xff
                    else {
                      val bitOff = s * bitDepth
                      val shift = 8 - bitDepth - (bitOff & 7)
                      val v = (pp(y2 * pRow + (bitOff >> 3)) >> shift) & dmax
                      if (colorType == 3) v else v * 255 / dmax
                    }
                  e(y2 * pStride + s) = v8.toByte
                  s += 1
                }
                y2 += 1
              }
              e
            }
          var r = 0
          while (r < ph) {
            var c = 0
            while (c < pw) {
              val dst = ((y0 + r * ys) * w + (x0 + c * xs)) * bpp
              System.arraycopy(pp8, (r * pw + c) * bpp, px, dst, bpp)
              c += 1
            }
            r += 1
          }
          rawOff += ph * (1 + pRow)
        }
      }
      // expand to RGB (alpha drops; gray replicates; palette dereferences)
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      while (p < w * h) {
        colorType match {
          case 0 | 4 =>
            val g = px(p * bpp)
            rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
          case 2 | 6 =>
            rgb(p * 3) = px(p * bpp); rgb(p * 3 + 1) = px(p * bpp + 1)
            rgb(p * 3 + 2) = px(p * bpp + 2)
          case 3 =>
            val idx = (px(p) & 0xff) * 3
            require(idx + 2 < palette.length, s"palette index ${px(p) & 0xff} out of range")
            rgb(p * 3) = palette(idx); rgb(p * 3 + 1) = palette(idx + 1)
            rgb(p * 3 + 2) = palette(idx + 2)
        }
        p += 1
      }
      (w, h, rgb)
    }

    /** Encode PCM mono/stereo samples as a RIFF/WAVE file — the writer
      * side of [[decodeWav]]. Input samples are ALWAYS 16-bit; `bits`
      * selects the on-wire carrier: integer PCM 8 (unsigned, top byte),
      * 16, 24, 32 (left-shifted — exact round-trip), or IEEE float 32/64
      * (`float32 = true`/`bits = 64`, scaled v/32768 — exact round-trip,
      * the scale is a power of two inside float precision). */
    def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short],
        bits: Int = 16, float32: Boolean = false): Array[Byte] = {
      val isFloat = float32 || bits == 64
      require(if (isFloat) bits == 32 || bits == 64
        else Set(8, 16, 24, 32)(bits), s"unsupported WAV carrier: $bits-bit float=$isFloat")
      val bytesPer = bits / 8
      val dataSize = samples.length * bytesPer
      // non-PCM formats require the EXTENDED fmt chunk (18 bytes, cbSize=0)
      // plus a fact chunk carrying the sample-frame count — strict readers
      // reject a float WAV with the bare 16-byte PCM fmt (WAVE spec; our
      // own chunk-walking decoder accepts either, but self-encoded files
      // must satisfy third-party readers too)
      val fmtSize = if (isFloat) 18 else 16
      val extra = if (isFloat) 14 else 0 // cbSize (2) + fact chunk (12)
      val out = java.nio.ByteBuffer.allocate(44 + extra + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes).putInt(36 + extra + dataSize).put("WAVE".getBytes)
      out.put("fmt ".getBytes).putInt(fmtSize)
        .putShort(if (isFloat) 3 else 1) // PCM / IEEE float
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * bytesPer)
        .putShort((channels * bytesPer).toShort)
        .putShort(bits.toShort)
      if (isFloat) {
        out.putShort(0) // cbSize: no format extension bytes
        out.put("fact".getBytes).putInt(4)
          .putInt(samples.length / math.max(1, channels))
      }
      out.put("data".getBytes).putInt(dataSize)
      samples.foreach { s =>
        if (isFloat && bits == 32) out.putFloat(s / 32768.0f)
        else if (isFloat) out.putDouble(s / 32768.0)
        else bits match {
          case 8 => out.put((((s: Int) >> 8) + 128).toByte)
          case 16 => out.putShort(s)
          case 24 =>
            val v = (s: Int) << 8
            out.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
              .put(((v >> 16) & 0xff).toByte)
          case 32 => out.putInt((s: Int) << 16)
        }
      }
      out.array()
    }

    /** Decode a RIFF/WAVE payload into (sampleRate, channels, samples) —
      * 16-bit normalized. Integer PCM at 8 (unsigned), 16, 24, 32 bits and
      * IEEE float at 32/64 bits all decode (8 shifts up; 24/32 keep the
      * top 16 bits; float clamps to [−1, 1] and scales by 32768). Walks
      * the chunk list, so extra chunks (LIST, fact) parse fine, and a
      * data chunk BEFORE fmt decodes correctly (bytes are interpreted
      * only after both are known). */
    def decodeWav(b: Array[Byte]): (Int, Int, Array[Short]) = {
      require(b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E',
        "not a RIFF/WAVE")
      var i = 12
      var rate = -1; var channels = -1; var fmtCode = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      while (i + 8 <= b.length && (rate < 0 || dataOff < 0)) {
        val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = i32le(b, i + 4)
        // a corrupt negative size would walk the chunk cursor BACKWARDS —
        // an infinite loop, not just a bad parse
        require(size >= 0, s"negative RIFF chunk size $size")
        id match {
          case "fmt " =>
            fmtCode = u16le(b, i + 8)
            require(fmtCode == 1 || fmtCode == 3,
              s"only PCM or IEEE-float WAV (format $fmtCode)")
            channels = u16le(b, i + 10)
            rate = i32le(b, i + 12)
            bits = u16le(b, i + 22)
          case "data" =>
            dataOff = i + 8; dataLen = size
          case _ => () // skip unknown chunks
        }
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      require(rate > 0 && dataOff >= 0, "missing fmt/data chunk")
      require(dataOff + dataLen <= b.length, "WAV data chunk exceeds payload")
      val legal = if (fmtCode == 3) Set(32, 64) else Set(8, 16, 24, 32)
      require(legal(bits), s"unsupported WAV depth: $bits-bit format $fmtCode")
      val bytesPer = bits / 8
      val n = dataLen / bytesPer
      val samples = new Array[Short](n)
      var k = 0
      while (k < n) {
        val o = dataOff + k * bytesPer
        samples(k) =
          if (fmtCode == 3) {
            val f =
              if (bits == 32) java.lang.Float.intBitsToFloat(i32le(b, o)).toDouble
              else java.lang.Double.longBitsToDouble(
                (i32le(b, o + 4).toLong << 32) | (i32le(b, o).toLong & 0xffffffffL))
            math.max(-32768, math.min(32767,
              math.round(math.max(-1.0, math.min(1.0, f)) * 32768))).toShort
          } else bits match {
            case 8 => (((b(o) & 0xff) - 128) << 8).toShort
            case 16 => u16le(b, o).toShort
            case 24 =>
              // sign-extend the 24-bit sample, keep the top 16 bits
              (((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
                (b(o + 2) << 16)) >> 8).toShort
            case 32 => (i32le(b, o) >> 16).toShort
          }
        k += 1
      }
      (rate, channels, samples)
    }

    // ------------------------------------------------------------- GIF
    // GIF is a palette + LZW — pure byte/bit arithmetic, zero codec
    // libraries: header + logical screen descriptor + color tables, then
    // LZW-compressed palette indices in ≤255-byte sub-blocks, codes packed
    // LSB-first with the width growing 3→12 bits as the dictionary fills.
    // The decoder handles GIF87a/89a, global AND local color tables,
    // interlaced row order, frame offsets (composited onto the logical
    // screen over the background color), extension blocks (skipped — a
    // transparency flag drops like PNG alpha), and deferred-clear streams;
    // animated GIFs decode their FIRST frame. Corrupt payloads refuse
    // loudly (decode() then degrades to the stub).

    /** Encode palette indices as a single-frame GIF89a — the writer side
      * of [[decodeGif]]. `palette` is RGB triples (≤ 256 entries, padded on
      * the wire to the next power of two ≥ 2); `interlace` writes rows in
      * Adam-style GIF interlace order (pass starts 0/4/2/1, steps 8/8/4/2),
      * exercising the decoder's row mapping. The LZW width grows exactly
      * when the classic compress-derived encoders grow it (checked against
      * the pre-add dictionary size at emit time), so any spec decoder —
      * including [[decodeGif]] and ImageIO, cross-validated both ways —
      * tracks it. */
    def encodeGif(w: Int, h: Int, palette: Array[Byte], indices: Array[Byte],
        interlace: Boolean = false): Array[Byte] = {
      require(w > 0 && h > 0 && indices.length == w * h,
        s"need ${w * h} indices for ${w}x$h, got ${indices.length}")
      require(palette.length % 3 == 0 && palette.length >= 3 &&
        palette.length <= 768, "palette must be 1..256 RGB triples")
      val nEntries = palette.length / 3
      // GCT size field s encodes 2^(s+1) entries; LZW min code size covers
      // the palette and is >= 2 per the spec's practical floor
      var s = 0
      while ((1 << (s + 1)) < nEntries) s += 1
      val tableEntries = 1 << (s + 1)
      val minCode = math.max(2, s + 1)
      indices.foreach(i => require((i & 0xff) < nEntries,
        s"index ${i & 0xff} outside the $nEntries-entry palette"))
      val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 64)
      def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      u16(w); u16(h)
      out.write(0x80 | s) // GCT present, size field s
      out.write(0); out.write(0) // background index, aspect
      out.write(palette, 0, palette.length)
      var pad = (tableEntries - nEntries) * 3
      while (pad > 0) { out.write(0); pad -= 1 }
      out.write(0x2c) // image descriptor: full screen at (0,0)
      u16(0); u16(0); u16(w); u16(h)
      out.write(if (interlace) 0x40 else 0)
      // source pixels in on-wire row order
      val src =
        if (!interlace) indices
        else {
          val rows = gifInterlaceRows(h)
          val re = new Array[Byte](indices.length)
          var r = 0
          while (r < h) {
            System.arraycopy(indices, rows(r) * w, re, r * w, w)
            r += 1
          }
          re
        }
      out.write(minCode)
      // LZW compress into 255-byte sub-blocks, codes packed LSB-first
      val block = new Array[Byte](255)
      var blockLen = 0
      var bitBuf = 0L
      var bitCnt = 0
      def flushByte(): Unit = {
        block(blockLen) = (bitBuf & 0xff).toByte
        bitBuf >>>= 8; bitCnt -= 8; blockLen += 1
        if (blockLen == 255) { out.write(255); out.write(block, 0, 255); blockLen = 0 }
      }
      var width = minCode + 1
      def writeCode(c: Int): Unit = {
        bitBuf |= c.toLong << bitCnt; bitCnt += width
        while (bitCnt >= 8) flushByte()
      }
      val clear = 1 << minCode
      val eoi = clear + 1
      var free = clear + 2
      // dictionary keyed by (prefix code << 8 | next index)
      var table = new java.util.HashMap[Integer, Integer]()
      writeCode(clear)
      var ent = indices.head & 0xff // src.head == indices.head for row 0
      var i = 1
      while (i < src.length) {
        val c = src(i) & 0xff
        val key = Integer.valueOf((ent << 8) | c)
        val hit = table.get(key)
        if (hit != null) ent = hit.intValue()
        else {
          writeCode(ent)
          // width grows per the PRE-add dictionary size (the classic
          // compress rule) so the decoder's mirror check stays in sync
          if (free >= (1 << width) && width < 12) width += 1
          if (free < 4096) { table.put(key, Integer.valueOf(free)); free += 1 }
          else { // table full: clear and restart (never deferred on encode)
            writeCode(clear)
            table = new java.util.HashMap[Integer, Integer]()
            width = minCode + 1; free = clear + 2
          }
          ent = c
        }
        i += 1
      }
      writeCode(ent)
      if (free >= (1 << width) && width < 12) width += 1
      writeCode(eoi)
      if (bitCnt > 0) flushByte()
      if (blockLen > 0) { out.write(blockLen); out.write(block, 0, blockLen) }
      out.write(0) // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** GIF interlace row order for a height-`h` frame: pass starts
      * 0/4/2/1 with steps 8/8/4/2 — `result(k)` = the IMAGE row that the
      * k-th on-wire row lands on. */
    private def gifInterlaceRows(h: Int): Array[Int] = {
      val rows = new Array[Int](h)
      var k = 0
      Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
        var y = start
        while (y < h) { rows(k) = y; k += 1; y += step }
      }
      rows
    }

    /** Decode a GIF's FIRST frame into (screen width, screen height, RGB
      * row-major top-down): walks header → color tables → extension blocks
      * (skipped) → the first image descriptor, LZW-decompresses the index
      * stream (LSB-first codes, width 3→12, clear/EOI, the invented-code
      * case, deferred clears), maps interlaced row order back, and
      * composites the frame onto the logical screen over the background
      * color. Throws on anything malformed. */
    def decodeGif(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(b.length > 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a', "not a GIF")
      val w = u16le(b, 6); val h = u16le(b, 8)
      require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
        s"implausible GIF screen ${w}x$h")
      val packed = b(10) & 0xff
      val bgIndex = b(11) & 0xff
      var i = 13
      var gct: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val n = 3 * (1 << ((packed & 7) + 1))
        require(i + n <= b.length, "GIF global color table exceeds payload")
        gct = java.util.Arrays.copyOfRange(b, i, i + n)
        i += n
      }
      // frame state, filled by the first image descriptor
      var frame: (Int, Int, Int, Int, Boolean, Array[Byte], Array[Byte]) = null
      while (frame == null) {
        require(i < b.length, "GIF ended before any image data")
        (b(i) & 0xff) match {
          case 0x3b => throw new IllegalArgumentException("GIF has no image frame")
          case 0x21 => // extension: label + sub-blocks (incl. GCE — skipped;
            // a transparency flag drops exactly like PNG alpha)
            i += 2
            while ({ require(i < b.length, "unterminated GIF extension")
              val len = b(i) & 0xff; i += 1 + len; len != 0 }) ()
          case 0x2c =>
            require(i + 10 <= b.length, "truncated GIF image descriptor")
            val left = u16le(b, i + 1); val top = u16le(b, i + 3)
            val iw = u16le(b, i + 5); val ih = u16le(b, i + 7)
            val ip = b(i + 9) & 0xff
            i += 10
            require(iw > 0 && ih > 0 && left + iw <= w && top + ih <= h,
              s"GIF frame ${iw}x$ih at ($left,$top) exceeds the ${w}x$h screen")
            var pal = gct
            if ((ip & 0x80) != 0) {
              val n = 3 * (1 << ((ip & 7) + 1))
              require(i + n <= b.length, "GIF local color table exceeds payload")
              pal = java.util.Arrays.copyOfRange(b, i, i + n)
              i += n
            }
            require(pal != null, "GIF frame without any color table")
            val (indices, next) = gifLzwDecode(b, i, iw * ih)
            i = next
            frame = (left, top, iw, ih, (ip & 0x40) != 0, pal, indices)
          case other =>
            throw new IllegalArgumentException(s"unknown GIF block 0x${other.toHexString}")
        }
      }
      val (left, top, iw, ih, interlaced, pal, indices) = frame
      val nPal = pal.length / 3
      val rgb = new Array[Byte](w * h * 3)
      // background fill (only visible when the frame is a sub-rectangle)
      if (gct != null && bgIndex < gct.length / 3) {
        var p = 0
        while (p < w * h) {
          rgb(p * 3) = gct(bgIndex * 3); rgb(p * 3 + 1) = gct(bgIndex * 3 + 1)
          rgb(p * 3 + 2) = gct(bgIndex * 3 + 2)
          p += 1
        }
      }
      val rowMap = if (interlaced) gifInterlaceRows(ih) else null
      var r = 0
      while (r < ih) {
        val destY = top + (if (rowMap != null) rowMap(r) else r)
        var x = 0
        while (x < iw) {
          val idx = indices(r * iw + x) & 0xff
          require(idx < nPal, s"GIF index $idx outside the $nPal-entry palette")
          val d = (destY * w + left + x) * 3
          rgb(d) = pal(idx * 3); rgb(d + 1) = pal(idx * 3 + 1)
          rgb(d + 2) = pal(idx * 3 + 2)
          x += 1
        }
        r += 1
      }
      (w, h, rgb)
    }

    /** LZW-decompress one GIF image data section starting at `off` (min
      * code size byte, then sub-blocks) into exactly `n` palette indices.
      * Returns (indices, offset past the section's terminator). The
      * dictionary holds (prefix code, tail byte) pairs — sequences expand
      * by walking prefix chains into a scratch stack, O(1) memory per
      * entry; the width bump mirrors the classic encoders' pre-add check
      * ([[encodeGif]]). */
    private def gifLzwDecode(b: Array[Byte], off: Int, n: Int)
        : (Array[Byte], Int) = {
      require(off < b.length, "missing GIF LZW data")
      val minCode = b(off) & 0xff
      require(minCode >= 2 && minCode <= 8, s"bad GIF LZW min code size $minCode")
      val clear = 1 << minCode
      val eoi = clear + 1
      val out = new Array[Byte](n)
      var outLen = 0
      val prefix = new Array[Int](4096)
      val tail = new Array[Byte](4096)
      val stack = new Array[Byte](4097)
      var free = clear + 2
      var width = minCode + 1
      var prev = -1
      var i = off + 1
      var blockRem = 0 // bytes left in the current sub-block
      var bitBuf = 0L
      var bitCnt = 0
      var finished = false
      def emitSeq(code: Int, invented: Boolean): Unit = {
        var sp = 0
        var c = code
        if (invented) {
          // the (code == free) case: sequence = prev's expansion + its own
          // first byte — materialize as prev + [firstByte(prev)]
          c = prev
          stack(sp) = 0; sp += 1 // placeholder, patched below
        }
        while (c >= clear) { // walk the prefix chain down to a root
          require(c < free && sp < stack.length, "corrupt GIF LZW chain")
          stack(sp) = tail(c); sp += 1; c = prefix(c)
        }
        val first = c.toByte
        if (invented) stack(0) = first
        require(outLen + sp + 1 <= n,
          "GIF LZW stream yields more pixels than the frame declares")
        out(outLen) = first; outLen += 1
        while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      }
      while (!finished) {
        while (bitCnt < width) { // refill LSB-first across sub-blocks
          if (blockRem == 0) {
            require(i < b.length, "unterminated GIF LZW data")
            blockRem = b(i) & 0xff; i += 1
            require(blockRem > 0, "GIF LZW data ended before EOI")
            require(i + blockRem <= b.length, "GIF sub-block exceeds payload")
          }
          bitBuf |= (b(i) & 0xffL) << bitCnt; bitCnt += 8; i += 1; blockRem -= 1
        }
        val code = (bitBuf & ((1L << width) - 1)).toInt
        bitBuf >>>= width; bitCnt -= width
        if (code == clear) {
          free = clear + 2; width = minCode + 1; prev = -1
        } else if (code == eoi) {
          require(outLen == n,
            s"GIF frame short: $outLen of $n pixels before EOI")
          finished = true
        } else if (prev == -1) { // first code after a clear: a root
          require(code < clear, s"corrupt GIF LZW: first code $code not a root")
          require(outLen < n, "GIF LZW stream overflows the frame")
          out(outLen) = code.toByte; outLen += 1
          prev = code
        } else {
          require(code <= free, s"corrupt GIF LZW code $code (free $free)")
          emitSeq(code, invented = code == free)
          if (free < 4096) {
            prefix(free) = prev
            tail(free) = (if (code == free) prev else code) match {
              case c0 => // first byte of the just-emitted sequence
                var c = c0
                while (c >= clear) c = prefix(c)
                c.toByte
            }
            free += 1
          }
          if (free >= (1 << width) && width < 12) width += 1
          prev = code
        }
      }
      // skip to the section's end: remaining sub-block bytes + terminator
      i += blockRem
      while ({ require(i < b.length, "unterminated GIF image data")
        val len = b(i) & 0xff; i += 1 + len; len != 0 }) ()
      (out, i)
    }

    // ------------------------------------------------------------- TIFF
    // Baseline TIFF 6.0 is an IFD tag walk + per-strip decompression —
    // byte arithmetic again: none (1), LZW (5, MSB-first codes with the
    // spec's EARLY code-width change and horizontal-differencing
    // predictor), and PackBits (32773). Gray (black- or white-is-zero,
    // 1/4/8-bit), palette (ColorMap's 16-bit entries), and 8-bit RGB
    // decode; both byte orders (II/MM); multi-strip. Tiles, planar
    // configuration 2, and the non-baseline compressions refuse loudly.

    /** Encode 8-bit samples as a single-strip little-endian TIFF — the
      * writer side of [[decodeTiff]]. `spp` 1 (gray, or palette when
      * `palette` is given: 256 RGB triples widened to the 16-bit
      * ColorMap) or 3 (RGB). `compression`: 1 = none, 5 = LZW
      * (optionally `predictor = 2`, horizontal differencing),
      * 32773 = PackBits. */
    def encodeTiff(w: Int, h: Int, spp: Int, px: Array[Byte],
        compression: Int = 1, palette: Array[Byte] = null,
        predictor: Int = 1): Array[Byte] = {
      require(w > 0 && h > 0 && (spp == 1 || spp == 3) &&
        px.length == w * h * spp, s"need ${w * h * spp} bytes for ${w}x$h")
      require(Set(1, 5, 32773)(compression), s"unsupported compression $compression")
      require(predictor == 1 || (predictor == 2 && compression == 5),
        "predictor 2 rides LZW only")
      require(palette == null || (spp == 1 && palette.length == 768),
        "palette mode needs spp=1 and 256 RGB triples")
      val raw0 = px.clone()
      if (predictor == 2) { // horizontal differencing per row, per channel
        var y = 0
        while (y < h) {
          var i = w * spp - 1
          while (i >= spp) {
            raw0(y * w * spp + i) =
              (raw0(y * w * spp + i) - px(y * w * spp + i - spp)).toByte
            i -= 1
          }
          y += 1
        }
      }
      val strip = compression match {
        case 1 => raw0
        case 5 => tiffLzwEncode(raw0)
        case _ => packBitsEncode(raw0)
      }
      val out = new java.io.ByteArrayOutputStream(strip.length + 512)
      def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
      out.write('I'); out.write('I'); u16(42)
      val stripOff = 8
      val cmapOff = stripOff + strip.length
      val cmapLen = if (palette != null) 256 * 3 * 2 else 0
      val bpsOff = cmapOff + cmapLen // SHORT[3] for RGB lives out-of-line
      u32(bpsOff + (if (spp == 3) 6 else 0)) // first IFD offset
      out.write(strip, 0, strip.length)
      if (palette != null) { // ColorMap: all R, all G, all B — 16-bit each
        for (ch <- 0 until 3; i <- 0 until 256) {
          val v = palette(i * 3 + ch) & 0xff
          u16(v * 257)
        }
      }
      if (spp == 3) { u16(8); u16(8); u16(8) }
      val photometric = if (palette != null) 3 else if (spp == 3) 2 else 1
      val entries = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, Int, Int)] // tag, type, count, value
      entries += ((256, 4, 1, w))
      entries += ((257, 4, 1, h))
      entries += ((258, 3, spp, if (spp == 3) bpsOff else 8))
      entries += ((259, 3, 1, compression))
      entries += ((262, 3, 1, photometric))
      entries += ((273, 4, 1, stripOff))
      entries += ((277, 3, 1, spp))
      entries += ((278, 4, 1, h))
      entries += ((279, 4, 1, strip.length))
      if (predictor == 2) entries += ((317, 3, 1, 2))
      if (palette != null) entries += ((320, 3, 256 * 3, cmapOff))
      u16(entries.length)
      entries.sortBy(_._1).foreach { case (tag, typ, count, value) =>
        u16(tag); u16(typ); u32(count)
        if (typ == 3 && count == 1) { u16(value); u16(0) } else u32(value)
      }
      u32(0) // no next IFD
      out.toByteArray
    }

    /** TIFF-variant LZW compress (MSB-first bit packing, 9→12-bit codes,
      * the spec's EARLY width change one code before the table fills). */
    private def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      var bitBuf = 0L
      var bitCnt = 0
      var width = 9
      def writeCode(c: Int): Unit = {
        bitBuf = (bitBuf << width) | c
        bitCnt += width
        while (bitCnt >= 8) {
          out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt)
          bitCnt -= 8
        }
      }
      val Clear = 256; val Eoi = 257
      var table = new java.util.HashMap[Integer, Integer]()
      var free = 258
      writeCode(Clear)
      if (data.nonEmpty) {
        var ent = data(0) & 0xff
        var i = 1
        while (i < data.length) {
          val ch = data(i) & 0xff
          val key = Integer.valueOf((ent << 8) | ch)
          val hit = table.get(key)
          if (hit != null) ent = hit.intValue()
          else {
            writeCode(ent)
            // EARLY change, checked against the PRE-add count: the
            // decoder bumps after ITS add, which lags the encoder's by
            // exactly one — the same alignment the GIF pair uses, moved
            // one code earlier per the TIFF spec
            if (free >= (1 << width) - 1 && width < 12) width += 1
            table.put(key, Integer.valueOf(free)); free += 1
            if (free >= 4093) { // near-full: clear and restart
              writeCode(Clear)
              table = new java.util.HashMap[Integer, Integer]()
              free = 258; width = 9
            }
            ent = ch
          }
          i += 1
        }
        writeCode(ent)
        // the decoder adds an entry on this last code too, and may widen
        // before it reads EOI: widen the same way (libtiff's LZWPostEncode)
        if (free >= (1 << width) - 1 && width < 12) width += 1
      }
      writeCode(Eoi)
      if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
      out.toByteArray
    }

    /** TIFF LZW decompress into exactly `n` bytes. */
    private def tiffLzwDecode(b: Array[Byte], n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var outLen = 0
      val prefix = new Array[Int](4096)
      val tail = new Array[Byte](4096)
      val stack = new Array[Byte](4097)
      val Clear = 256; val Eoi = 257
      var free = 258
      var width = 9
      var prev = -1
      var bitBuf = 0L
      var bitCnt = 0
      var i = 0
      def emit(code: Int, invented: Boolean): Unit = {
        var sp = 0
        var c = code
        if (invented) { stack(sp) = 0; sp += 1; c = prev }
        while (c >= 258) {
          require(c < free && sp < stack.length, "corrupt TIFF LZW chain")
          stack(sp) = tail(c); sp += 1; c = prefix(c)
        }
        val first = c.toByte
        if (invented) stack(0) = first
        require(outLen + sp + 1 <= n, "TIFF LZW yields more bytes than declared")
        out(outLen) = first; outLen += 1
        while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      }
      var done = false
      while (!done) {
        while (bitCnt < width && i < b.length) {
          bitBuf = (bitBuf << 8) | (b(i) & 0xffL); bitCnt += 8; i += 1
        }
        require(bitCnt >= width, "TIFF LZW stream ended before EOI")
        val code = ((bitBuf >> (bitCnt - width)) & ((1 << width) - 1)).toInt
        bitCnt -= width
        if (code == Clear) { free = 258; width = 9; prev = -1 }
        else if (code == Eoi) {
          require(outLen == n, s"TIFF strip short: $outLen of $n bytes")
          done = true
        } else if (prev == -1) {
          require(code < 256, s"corrupt TIFF LZW: first code $code not a root")
          require(outLen < n, "TIFF LZW overflows the strip")
          out(outLen) = code.toByte; outLen += 1
          prev = code
        } else {
          require(code <= free && code != 256 && code != 257,
            s"corrupt TIFF LZW code $code (free $free)")
          emit(code, invented = code == free)
          if (free < 4096) {
            prefix(free) = prev
            var c0 = if (code == free) prev else code
            while (c0 >= 258) c0 = prefix(c0)
            tail(free) = c0.toByte
            free += 1
          }
          if (free >= (1 << width) - 1 && width < 12) width += 1 // early change
          prev = code
        }
      }
      out
    }

    private def packBitsEncode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length + 32)
      var i = 0
      while (i < data.length) {
        var run = 1
        while (i + run < data.length && run < 128 && data(i + run) == data(i))
          run += 1
        if (run >= 2) {
          out.write(1 - run) // -(run-1) as a signed byte
          out.write(data(i))
          i += run
        } else {
          var lit = 1
          while (i + lit < data.length && lit < 128 &&
              (i + lit + 1 >= data.length || data(i + lit) != data(i + lit + 1)))
            lit += 1
          out.write(lit - 1)
          out.write(data, i, lit)
          i += lit
        }
      }
      out.toByteArray
    }

    private def packBitsDecode(b: Array[Byte], off: Int, len: Int,
        n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var outLen = 0
      var i = off
      while (outLen < n) {
        require(i < off + len, "PackBits strip ended early")
        val ctl = b(i); i += 1
        if (ctl >= 0) {
          val cnt = ctl + 1
          require(i + cnt <= off + len && outLen + cnt <= n, "PackBits overrun")
          System.arraycopy(b, i, out, outLen, cnt)
          i += cnt; outLen += cnt
        } else if (ctl != -128) {
          val cnt = 1 - ctl
          require(i < off + len && outLen + cnt <= n, "PackBits overrun")
          java.util.Arrays.fill(out, outLen, outLen + cnt, b(i))
          i += 1; outLen += cnt
        } // -128: noop
      }
      out
    }

    /** Decode a baseline TIFF's FIRST image into (width, height, RGB
      * row-major top-down): walks the IFD (both byte orders),
      * decompresses each strip (none/LZW/PackBits), undoes the
      * horizontal-differencing predictor, unpacks 1/4-bit gray MSB-first,
      * and expands gray/palette/RGB to RGB. Throws on anything
      * non-baseline (tiles, planar 2, other compressions/depths). */
    def decodeTiff(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(b.length > 8, "not a TIFF")
      val le = b(0) == 'I' && b(1) == 'I'
      require(le || (b(0) == 'M' && b(1) == 'M'), "not a TIFF")
      def rd16(o: Int): Int =
        if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      def rd32(o: Int): Int =
        if (le) rd16(o) | (rd16(o + 2) << 16) else (rd16(o) << 16) | rd16(o + 2)
      require(rd16(2) == 42, "bad TIFF magic number")
      val ifd = rd32(4)
      require(ifd >= 8 && ifd + 2 <= b.length, "bad IFD offset")
      val nEntries = rd16(ifd)
      require(ifd + 2 + nEntries * 12 + 4 <= b.length, "IFD exceeds payload")
      var w = 0; var h = 0; var compression = 1; var photometric = 1
      var spp = 1; var rowsPerStrip = Int.MaxValue; var predictor = 1
      var bits = 1
      var stripOffsets: Array[Int] = null
      var stripCounts: Array[Int] = null
      var cmapOff = -1; var cmapCount = 0
      var e = 0
      while (e < nEntries) {
        val o = ifd + 2 + e * 12
        val tag = rd16(o); val typ = rd16(o + 4 - 2); val count = rd32(o + 4)
        // value fits inline when total size <= 4 bytes, else it's an offset
        def sizeOf(t: Int) = t match {
          case 1 | 2 | 6 | 7 => 1; case 3 => 2; case 4 | 9 | 11 => 4; case _ => 8
        }
        def at(i2: Int): Int = { // i2-th value of this entry
          val total = sizeOf(typ) * count
          val base = if (total <= 4) o + 8 else rd32(o + 8)
          typ match {
            case 1 => b(base + i2) & 0xff
            case 3 => rd16(base + i2 * 2)
            case 4 => rd32(base + i2 * 4)
            case t => throw new IllegalArgumentException(s"TIFF value type $t")
          }
        }
        tag match {
          case 256 => w = at(0)
          case 257 => h = at(0)
          case 258 =>
            bits = at(0)
            var j = 1
            while (j < count) {
              require(at(j) == bits, "heterogeneous TIFF BitsPerSample")
              j += 1
            }
          case 259 => compression = at(0)
          case 262 => photometric = at(0)
          // strip-array sizes are read UNVALIDATED from the file: bound
          // them before allocating (strips cannot exceed the h <= 2^26
          // dimension cap; a corrupt count ~2^30 would force a multi-GB
          // allocation whose OutOfMemoryError is not NonFatal — it would
          // skip the stub fallback and kill the executor)
          case 273 =>
            require(count >= 1 && count <= (1 << 20),
              s"implausible TIFF StripOffsets count $count")
            stripOffsets = Array.tabulate(count)(at)
          case 277 => spp = at(0)
          case 278 => rowsPerStrip = at(0)
          case 279 =>
            require(count >= 1 && count <= (1 << 20),
              s"implausible TIFF StripByteCounts count $count")
            stripCounts = Array.tabulate(count)(at)
          case 284 => require(at(0) == 1, "planar TIFF unsupported")
          case 317 => predictor = at(0)
          case 320 =>
            cmapCount = count
            val total = sizeOf(typ) * count
            cmapOff = if (total <= 4) o + 8 else rd32(o + 8)
          case 322 | 323 | 324 | 325 =>
            throw new IllegalArgumentException("tiled TIFF unsupported")
          case _ => ()
        }
        e = e + 1
      }
      require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
        s"implausible TIFF dimensions ${w}x$h")
      require(stripOffsets != null && stripCounts != null &&
        stripOffsets.length == stripCounts.length, "missing TIFF strips")
      require(Set(1, 5, 32773)(compression),
        s"unsupported TIFF compression $compression")
      require(predictor == 1 || predictor == 2,
        s"unsupported TIFF predictor $predictor")
      require((spp == 1 && Set(1, 4, 8)(bits)) || (spp == 3 && bits == 8),
        s"unsupported TIFF layout: $spp samples x $bits bits")
      require(photometric >= 0 && photometric <= 3, s"photometric $photometric")
      if (photometric == 3)
        require(cmapOff >= 0 && cmapCount == 3 * (1 << bits), "palette TIFF without ColorMap")
      val rowBytes = (w * spp * bits + 7) / 8
      // decompress strips into the packed raster
      val packed = new Array[Byte](rowBytes * h)
      var strip = 0
      var row = 0
      while (strip < stripOffsets.length) {
        val rows = math.min(rowsPerStrip, h - row)
        require(rows > 0, "more TIFF strips than rows")
        val need = rowBytes * rows
        val off = stripOffsets(strip); val len = stripCounts(strip)
        require(off >= 0 && len >= 0 && off + len <= b.length,
          "TIFF strip exceeds payload")
        val data = compression match {
          case 1 =>
            require(len >= need, "uncompressed TIFF strip short")
            java.util.Arrays.copyOfRange(b, off, off + need)
          case 5 => tiffLzwDecode(java.util.Arrays.copyOfRange(b, off, off + len), need)
          case _ => packBitsDecode(b, off, len, need)
        }
        if (predictor == 2) {
          require(bits == 8, "predictor 2 needs 8-bit samples")
          var y = 0
          while (y < rows) {
            var i2 = spp
            while (i2 < w * spp) {
              data(y * rowBytes + i2) =
                (data(y * rowBytes + i2) + data(y * rowBytes + i2 - spp)).toByte
              i2 += 1
            }
            y += 1
          }
        }
        System.arraycopy(data, 0, packed, row * rowBytes, need)
        row += rows
        strip += 1
      }
      require(row >= h, s"TIFF strips cover $row of $h rows")
      // expand to RGB
      val rgb = new Array[Byte](w * h * 3)
      val dmax = (1 << bits) - 1
      var p = 0
      while (p < w * h) {
        val y = p / w; val x = p % w
        val sample =
          if (bits == 8) packed(y * rowBytes + x * spp) & 0xff
          else {
            val bitOff = x * bits
            (packed(y * rowBytes + (bitOff >> 3)) >> (8 - bits - (bitOff & 7))) & dmax
          }
        photometric match {
          case 2 =>
            rgb(p * 3) = packed(y * rowBytes + x * 3)
            rgb(p * 3 + 1) = packed(y * rowBytes + x * 3 + 1)
            rgb(p * 3 + 2) = packed(y * rowBytes + x * 3 + 2)
          case 3 =>
            val n = 1 << bits
            // ColorMap: 16-bit entries, all R then all G then all B
            def cm(ch: Int): Byte = (rd16(cmapOff + (ch * n + sample) * 2) >> 8).toByte
            rgb(p * 3) = cm(0); rgb(p * 3 + 1) = cm(1); rgb(p * 3 + 2) = cm(2)
          case pm =>
            val g0 = sample * 255 / dmax
            val g = (if (pm == 0) 255 - g0 else g0).toByte
            rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
        }
        p += 1
      }
      (w, h, rgb)
    }

    /** REAL decode: sniff the payload's magic and decode BMP/PPM pixels or
      * WAV samples into [[MediaFeatures]] — image width/height are the
      * decoded dimensions and the feature vector carries mean R/G/B plus a
      * pixel checksum; audio maps (sampleRate, channels, nSamples) onto
      * (width, height, n_frames) with mean/RMS features. Payloads in no
      * known format (or corrupt) fall back to [[decodeStub]], so a mixed
      * corpus decodes what it can and still flows. */
    def decode(r: MediaRecord): MediaFeatures =
      try {
        val b = r.payload
        if (b.length > 2 && b(0) == 'B' && b(1) == 'M') {
          val (w, h, rgb) = decodeBmp(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
            b(2) == 'N' && b(3) == 'G') {
          val (w, h, rgb) = decodePng(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
          val (w, h, rgb) = JpegCodec.decode(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 2 && b(0) == 'P' && b(1) == '6') {
          val (w, h, rgb) = decodePpm(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 13 && b(0) == 'G' && b(1) == 'I' &&
            b(2) == 'F' && b(3) == '8') {
          val (w, h, rgb) = decodeGif(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 8 &&
            ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
             (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))) {
          val (w, h, rgb) = decodeTiff(b); imageFeatures(r, w, h, rgb)
        } else if (b.length > 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') {
          val (rate, channels, samples) = decodeWav(b)
          var sum = 0.0; var sq = 0.0
          var i = 0
          while (i < samples.length) {
            val v = samples(i) / 32768.0; sum += v; sq += v * v; i += 1
          }
          val n = math.max(1, samples.length)
          MediaFeatures(r.doc_id, r.media_type, r.byte_len,
            width = rate, height = channels, n_frames = samples.length,
            feature = Array(sum / n, math.sqrt(sq / n), samples.length.toDouble,
              rate.toDouble, channels.toDouble, 0.0, 0.0, 0.0))
        } else decodeStub(r)
      } catch {
        // refusals are IllegalArgumentException, but a CORRUPT payload can
        // also surface as index/buffer/inflate errors from header
        // arithmetic — a mixed 100 TB corpus must degrade to the stub for
        // every malformed blob, never kill the job
        case scala.util.control.NonFatal(_) => decodeStub(r)
      }

    private def imageFeatures(r: MediaRecord, w: Int, h: Int,
        rgb: Array[Byte]): MediaFeatures = {
      var sr = 0L; var sg = 0L; var sb = 0L; var checksum = 0L
      var i = 0
      while (i < rgb.length) {
        val rv = rgb(i) & 0xff; val gv = rgb(i + 1) & 0xff; val bv = rgb(i + 2) & 0xff
        sr += rv; sg += gv; sb += bv
        checksum += rv + 2L * gv + 3L * bv
        i += 3
      }
      val n = math.max(1, w * h)
      MediaFeatures(r.doc_id, r.media_type, r.byte_len, w, h, n_frames = 1,
        feature = Array(sr.toDouble / n / 255.0, sg.toDouble / n / 255.0,
          sb.toDouble / n / 255.0, checksum.toDouble, w.toDouble, h.toDouble,
          0.0, 0.0))
    }

    /** STUB decode: deterministic pseudo-features derived from the payload
      * bytes. A real implementation would decode pixels/samples here; the
      * signature (bytes in, fixed-width features out, executed per partition
      * on executors) is exactly what a production decoder needs. */
    def decodeStub(r: MediaRecord): MediaFeatures = {
      var h = 1125899906842597L // deterministic FNV-ish fold over the payload
      var i = 0
      while (i < r.payload.length) { h = 31 * h + (r.payload(i) & 0xff); i += 1 }
      val width = 64 + (Math.floorMod(h, 16L) * 32L).toInt
      val height = 64 + (Math.floorMod(h >>> 8, 9L) * 32L).toInt
      val feature = Array.tabulate(8) { d =>
        val hd = h ^ (0x9e3779b97f4a7c15L * (d + 1))
        (Math.floorMod(hd, 2000L) - 1000L) / 1000.0
      }
      val frames = if (r.media_type == "video")
        1 + Math.floorMod(h >>> 16, 24L).toInt else 1
      MediaFeatures(r.doc_id, r.media_type, r.byte_len, width, height,
        n_frames = frames, feature)
    }

    /** STUB resize: a real implementation re-decodes at the target
      * resolution; the stub rescales the feature vector by the area ratio
      * (deterministic, plan shape identical). */
    def resizeStub(f: MediaFeatures, targetW: Int, targetH: Int): MediaFeatures = {
      val ratio = (targetW.toDouble * targetH) / (f.width.toDouble * f.height)
      f.copy(width = targetW, height = targetH,
        feature = f.feature.map(_ * ratio))
    }
  }

  /** Wrap a text corpus as fake media payloads (binary column + metadata) —
    * stands in for reading real image bytes; the schema and plan shape are
    * what a real multimodal table looks like. */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col(textCol).cast("binary").as("payload"),
      length(col(textCol).cast("binary")).cast("long").as("byte_len"))

  /** Decode/feature-extract over executor-side partitions (typed
    * mapPartitions — the Scala analogue of mapInPandas batch UDFs). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.map(MediaCodec.decode))
  }

  /** Resize every decoded record to a target resolution (executor-side,
    * same typed-batch shape as the decode). */
  def resize(media: DataFrame, targetW: Int, targetH: Int): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    extractFeatures(media).map(MediaCodec.resizeStub(_, targetW, targetH))
  }

  /** FRAME SAMPLING: explode each video into every `step`-th frame index —
    * fully declarative (sequence + explode, no UDF), so Catalyst plans and
    * codegens it; images/audio pass through as frame 0. The real decoder
    * would fetch the sampled frames' bytes in the downstream decode. */
  def frameSample(media: DataFrame, step: Int): DataFrame = {
    require(step > 0, s"frame-sample step must be positive, got $step")
    val spark = media.sparkSession
    import spark.implicits._
    val feats = extractFeatures(media).toDF()
    feats.withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(step))))
      .select(col("doc_id"), col("media_type"), col("frame_idx"), col("n_frames"))
  }

  /** Per-type feature summary (what a curation pipeline aggregates). */
  def featureSummary(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    extractFeatures(media)
      .groupBy($"media_type")
      .agg(count(lit(1)).as("n"),
        sum($"byte_len").as("total_bytes"),
        max($"width").as("max_width"),
        max($"height").as("max_height"))
      .orderBy($"media_type")
  }
}
