package graft.operators

import org.scalacheck.{Gen, Prop, Properties}

import graft.operators.Multimodal.MediaCodec

/** Round-trip fuzz for the pure-JVM PNG codec: for every supported color
  * type, random dimensions, and random pixel bytes,
  * `decodePng(encodePng(px)) == expected RGB expansion`. The encoder
  * cycles the scanline filter per row (y % 5), so any h ≥ 5 walks every
  * unfilter path (None/Sub/Up/Average/Paeth) against adversarial byte
  * patterns — a sign error in Paeth or a stride slip in Sub shows up as a
  * pixel mismatch, not a crash. */
object MediaCodecPropSpec extends Properties("PngCodec") {

  private val dims: Gen[(Int, Int)] =
    for { w <- Gen.choose(1, 17); h <- Gen.choose(1, 13) } yield (w, h)

  private def bytes(n: Int): Gen[Array[Byte]] =
    Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))

  private def eq(a: Array[Byte], b: Array[Byte]): Boolean = a.sameElements(b)

  property("RGB (type 2) round-trips every pixel byte") =
    Prop.forAll(dims.flatMap { case (w, h) =>
      bytes(w * h * 3).map(px => (w, h, px))
    }) { case (w, h, px) =>
      val (dw, dh, out) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 2, px))
      dw == w && dh == h && eq(out, px)
    }

  property("grayscale (type 0) expands to (g,g,g)") =
    Prop.forAll(dims.flatMap { case (w, h) =>
      bytes(w * h).map(px => (w, h, px))
    }) { case (w, h, px) =>
      val (_, _, out) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 0, px))
      eq(out, px.flatMap(g => Array(g, g, g)))
    }

  property("gray+alpha (type 4) drops alpha, keeps gray") =
    Prop.forAll(dims.flatMap { case (w, h) =>
      bytes(w * h * 2).map(px => (w, h, px))
    }) { case (w, h, px) =>
      val (_, _, out) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 4, px))
      eq(out, Array.tabulate(w * h * 3)(i => px((i / 3) * 2)))
    }

  property("RGBA (type 6) drops alpha, keeps RGB") =
    Prop.forAll(dims.flatMap { case (w, h) =>
      bytes(w * h * 4).map(px => (w, h, px))
    }) { case (w, h, px) =>
      val (_, _, out) = MediaCodec.decodePng(MediaCodec.encodePng(w, h, 6, px))
      eq(out, Array.tabulate(w * h * 3)(i => px((i / 3) * 4 + i % 3)))
    }

  property("JPEG round-trips random SMOOTH images within the quantization " +
      "budget across ragged dims and quality levels") =
    Prop.forAll(for {
      w <- Gen.choose(8, 25)
      h <- Gen.choose(8, 21)
      q <- Gen.choose(75, 95)
      corners <- Gen.listOfN(12, Gen.choose(30, 220)) // 4 corners x RGB
    } yield (w, h, q, corners)) { case (w, h, q, c) =>
      // bilinear interpolation of random corner colors: smooth by
      // construction, so DCT quantization error stays small and bounded
      val img = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3) {
        val fx = x.toDouble / math.max(1, w - 1)
        val fy = y.toDouble / math.max(1, h - 1)
        val v = c(ch) * (1 - fx) * (1 - fy) + c(3 + ch) * fx * (1 - fy) +
          c(6 + ch) * (1 - fx) * fy + c(9 + ch) * fx * fy
        img((y * w + x) * 3 + ch) = math.round(v).toByte
      }
      val (dw, dh, out) = graft.operators.JpegCodec.decode(
        graft.operators.JpegCodec.encode(w, h, img, q))
      var maxE = 0; var sum = 0L
      var i = 0
      while (i < img.length) {
        val d = math.abs((img(i) & 0xff) - (out(i) & 0xff))
        if (d > maxE) maxE = d
        sum += d; i += 1
      }
      dw == w && dh == h && maxE <= 24 && sum.toDouble / img.length <= 6.0
    }

  property("decode() NEVER throws on corrupted payloads of any format — " +
      "malformed blobs degrade to the stub instead of killing the job") =
    Prop.forAll(for {
      kind <- Gen.oneOf("png", "bmp", "wav", "jpeg", "jpeg-arith", "gif",
        "tiff", "garbage")
      flips <- Gen.choose(1, 12)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (kind, flips, seed)) { case (kind, flips, seed) =>
      val rnd = new java.util.Random(seed)
      val px = Array.tabulate(6 * 6 * 3)(i => ((i * 37) % 256).toByte)
      val base = kind match {
        case "png" => MediaCodec.encodePng(6, 6, 2, px)
        case "bmp" => MediaCodec.encodeBmp(6, 6, px)
        case "wav" => MediaCodec.encodeWav(8000, 1, Array.tabulate(40)(_.toShort))
        case "jpeg" => graft.operators.JpegCodec.encode(6, 6, px)
        case "jpeg-arith" =>
          graft.operators.JpegCodec.encode(6, 6, px, arithmetic = true)
        case "gif" => MediaCodec.encodeGif(6, 6,
          Array.tabulate(12)(i => ((i * 61) % 256).toByte),
          Array.tabulate(36)(i => (i % 4).toByte))
        case "tiff" => MediaCodec.encodeTiff(6, 6, 3, px, compression = 5)
        case _ =>
          val g = new Array[Byte](64); rnd.nextBytes(g); g
      }
      val corrupt = base.clone()
      (1 to flips).foreach { _ =>
        corrupt(rnd.nextInt(corrupt.length)) = rnd.nextInt(256).toByte
      }
      val rec = Multimodal.MediaRecord(1L, "image", corrupt, corrupt.length.toLong)
      val f = MediaCodec.decode(rec) // must not throw — stub or real
      f.feature.length == 8
    }

  property("GIF LZW round-trips ANY index raster through ANY palette, " +
      "sequential or interlaced (random data is LZW's worst case — the " +
      "dictionary churns and the code width climbs)") =
    Prop.forAll(for {
      (w, h) <- dims
      nPal <- Gen.oneOf(2, 3, 8, 41, 256)
      px <- bytes(w * h).map(_.map(b => (Math.floorMod(b, nPal)).toByte))
      pal <- bytes(nPal * 3)
      inter <- Gen.oneOf(true, false)
    } yield (w, h, px, pal, inter)) { case (w, h, px, pal, inter) =>
      val (dw, dh, out) =
        MediaCodec.decodeGif(MediaCodec.encodeGif(w, h, pal, px, inter))
      dw == w && dh == h && eq(out, px.flatMap { i0 =>
        val i = (i0 & 0xff) * 3
        Array(pal(i), pal(i + 1), pal(i + 2))
      })
    }

  property("TIFF strips round-trip ANY bytes through none/LZW/PackBits, " +
      "gray and RGB, with and without the LZW predictor") =
    Prop.forAll(for {
      (w, h) <- dims
      spp <- Gen.oneOf(1, 3)
      comp <- Gen.oneOf(1, 5, 32773)
      pred <- Gen.oneOf(1, 2)
      px <- bytes(w * h * spp)
    } yield (w, h, spp, comp, if (comp == 5) pred else 1, px)) {
      case (w, h, spp, comp, pred, px) =>
        // shrinking can break the generator invariant (dims to 0, px
        // length unlinked, comp/pred outside their generators) — such
        // tuples are vacuously fine
        if (w < 1 || h < 1 || (spp != 1 && spp != 3) ||
            px.length != w * h * spp || !Set(1, 5, 32773)(comp) ||
            (pred != 1 && pred != 2)) true
        else {
          val (dw, dh, out) = MediaCodec.decodeTiff(
            MediaCodec.encodeTiff(w, h, spp, px, comp, predictor = pred))
          val want =
            if (spp == 3) px
            else px.flatMap(v => Array(v, v, v))
          dw == w && dh == h && eq(out, want)
        }
    }

  property("palette (type 3) dereferences PLTE for any index pattern") =
    Prop.forAll(for {
      (w, h) <- dims
      px <- bytes(w * h)
      pal <- bytes(256 * 3)
    } yield (w, h, px, pal)) { case (w, h, px, pal) =>
      val (_, _, out) =
        MediaCodec.decodePng(MediaCodec.encodePng(w, h, 3, px, pal))
      eq(out, px.flatMap { i0 =>
        val i = (i0 & 0xff) * 3
        Array(pal(i), pal(i + 1), pal(i + 2))
      })
    }

  property("WAV depth carriers: 24/32-bit PCM and 32/64-bit float " +
      "round-trip EXACTLY; 8-bit floors to the 256 lattice — any samples, " +
      "rates, channel counts") =
    Prop.forAll(for {
      n <- Gen.choose(0, 200)
      s <- Gen.listOfN(n, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
      rate <- Gen.choose(1, 192000)
      ch <- Gen.choose(1, 8)
    } yield (s.map(_.toShort).toArray, rate, ch)) { case (samples, rate, ch) =>
      val exact = Seq((24, false), (32, false), (32, true), (64, false))
        .forall { case (bits, f) =>
          val (r, c, got) = MediaCodec.decodeWav(
            MediaCodec.encodeWav(rate, ch, samples, bits, f))
          r == rate && c == ch && got.sameElements(samples)
        }
      val (_, _, got8) = MediaCodec.decodeWav(
        MediaCodec.encodeWav(rate, ch, samples, bits = 8))
      exact && got8.sameElements(
        samples.map(s0 => (((s0: Int) >> 8) << 8).toShort))
    }

  property("PNG sub-byte and 16-bit depths round-trip on their exact " +
      "lattices for random dims and pixel patterns") =
    Prop.forAll(for {
      (w, h) <- dims
      d <- Gen.oneOf(1, 2, 4, 16)
      raw <- bytes(w * h)
    } yield (w, h, d, raw)) { case (w, h, d, raw) =>
      val dmax = if (d == 16) 255 else (1 << d) - 1
      // quantize onto the depth's representable lattice
      val px = raw.map(v => (((v & 0xff) * dmax / 255) * 255 / dmax).toByte)
      val (_, _, out) = MediaCodec.decodePng(
        MediaCodec.encodePng(w, h, 0, px, bitDepth = d))
      eq(out, px.flatMap(g => Array(g, g, g)))
    }
}
