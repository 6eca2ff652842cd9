package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties for the round-7 byte-loop expressions: each is
  * checked against a naive split/regex reference implementation over
  * adversarial generated text (newlines, runs of spaces/tabs, bullets,
  * dots, multi-byte chars), so the hand-rolled scanners can't silently
  * diverge from the `split`-semantics contracts their oracles assume.
  * Pure JVM — no Spark session needed.
  */
object TextExprPropertySpec extends Properties("TextExprs") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  // text over an alphabet rich in the edge characters the scanners parse
  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "b", "cat", "the", "•", "…", "-", "*", "."),
      3 -> Gen.oneOf(" ", "  ", "\t"),
      2 -> Gen.const("\n"),
      1 -> Gen.oneOf("...", "....", "- x", "  - y", "z..."))).map(_.mkString)

  private def lines(t: String): Array[String] = t.split("\n", -1)

  property("LineStatsExpr.NLines == split('\\n', -1) length") =
    Prop.forAll(textGen) { t =>
      graft.functions.LineStatsExpr.stat(t.getBytes("UTF-8"),
        graft.functions.LineStatsExpr.NLines) == lines(t).length
    }

  property("LineStatsExpr.BulletLines == space-ltrim'd startsWith -/*/•") =
    Prop.forAll(textGen) { t =>
      val expected = lines(t).count { l =>
        val s = l.dropWhile(_ == ' ')
        s.startsWith("-") || s.startsWith("*") || s.startsWith("•")
      }
      graft.functions.LineStatsExpr.stat(t.getBytes("UTF-8"),
        graft.functions.LineStatsExpr.BulletLines) == expected
    }

  property("LineStatsExpr.EllipsisLines == space-rtrim'd endsWith ...") =
    Prop.forAll(textGen) { t =>
      val expected = lines(t).count(_.reverse.dropWhile(_ == ' ').startsWith("..."))
      graft.functions.LineStatsExpr.stat(t.getBytes("UTF-8"),
        graft.functions.LineStatsExpr.EllipsisLines) == expected
    }

  property("LineStatsExpr.DistinctLines == distinct line strings") =
    Prop.forAll(textGen) { t =>
      graft.functions.LineStatsExpr.stat(t.getBytes("UTF-8"),
        graft.functions.LineStatsExpr.DistinctLines) == lines(t).distinct.length
    }

  private val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Seq("the", "cat", "a").foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  property("DistinctStopwordHitsExpr == distinct lowercased-token intersection") =
    Prop.forAll(textGen) { t =>
      // reference: trim + \s+ split (dropping the leading-empty artifact),
      // lowercase, intersect
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase).toSet
      val expected = toks.count(w => stopSet.contains(UTF8String.fromString(w)))
      graft.functions.DistinctStopwordHitsExpr.distinctHits(
        t.trim.getBytes("UTF-8"), stopSet) == expected
    }

  property("quantizeInt8 round-trip error ≤ half a step; codes within [0,255]") = {
    val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-100f, 100f)).map(_.toArray)
    Prop.forAll(vecGen) { v =>
      val mn = v.min.toDouble
      val mx = v.max.toDouble
      val codes = v.map { x =>
        if (mx == mn) 0
        else math.min(255, math.round((x.toDouble - mn) * 255.0 / (mx - mn)).toInt)
      }
      val step = if (mx == mn) 0.0 else (mx - mn) / 255.0
      val deq = codes.map(c => mn + c.toDouble * (mx - mn) / 255.0)
      codes.forall(c => c >= 0 && c <= 255) &&
        v.zip(deq).forall { case (o, d) => math.abs(o.toDouble - d) <= step / 2 + 1e-9 }
    }
  }

  property("BigramLm signals: hand walk over random token streams") = {
    val lm = graft.functions.LanguageModel.BigramLm(
      vocab = Map("a" -> 5L, "b" -> 3L, "c" -> 2L),
      bigrams = Map(("a", "b") -> 2L, ("b", "c") -> 1L),
      totalTokens = 10L, vocabSize = 3)
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "c", "z", "A", "B")).map(_.mkString(" "))
    Prop.forAll(tokGen) { t =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase).toList
      val inV = (w: String) => lm.vocab.contains(w)
      val expOov = toks.count(w => !inV(w))
      val pairs = if (toks.size < 2) Nil else toks.zip(toks.tail)
      val expInv = pairs.count { case (x, y) => inV(x) && inV(y) }
      val expHit = pairs.count(p => lm.bigrams.contains(p))
      // the scorers take the text lowercased once, as lower(trim(text))
      val got = graft.functions.BigramLmStatsExpr.stats(
        t.trim.toLowerCase.getBytes("UTF-8"), lm.runtime)
      got.getInt(0) == expOov && got.getInt(1) == expInv && got.getInt(2) == expHit
    }
  }

  property("BigramPairsExpr.pairs == in-vocab adjacent pairs of the split tokens") = {
    val vocab = new java.util.HashSet[UTF8String]()
    Seq("a", "b", "cat", "•").foreach(w => vocab.add(UTF8String.fromString(w)))
    Prop.forAll(textGen) { t =>
      val toks = t.split("[ \\t\\n\\x0B\\f\\r]+").filter(_.nonEmpty).toList
      val inV = (w: String) => vocab.contains(UTF8String.fromString(w))
      val expected = toks.zip(toks.drop(1)).filter { case (x, y) => inV(x) && inV(y) }
      val got = graft.functions.BigramPairsExpr.pairs(t.getBytes("UTF-8"), vocab)
      val pairs = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2)
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
      }
      pairs == expected
    }
  }

  // include multi-byte codepoints AND combining sequences: the dHash
  // grid must count CODEPOINTS (the declared contract unit), not UTF-16
  // units, bytes, or grapheme clusters — "é" and the ZWJ emoji pin
  // that a combining sequence contributes one cell entry PER CODEPOINT
  // (a grapheme-indexing engine would diverge; see PayloadDHashExpr doc)
  private val payloadGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(5)),
      2 -> Gen.oneOf("世", "界", "é", "ß", " "),
      1 -> Gen.oneOf("𝄞", "e\u0301" /* e + combining acute */,
        "\ud83d\udc69\u200d\ud83d\udcbb" /* ZWJ emoji */))).map(_.mkString)

  property("PayloadDHashExpr == naive codepoint-grid dHash through all containers") =
    Prop.forAll(payloadGen) { t =>
      // independent naive reference: functional-style grid over codepoints
      val cps = t.codePoints.toArray
      val n = cps.length
      val cells = (0 until 72).map { k =>
        val lo = (k.toLong * n / 72).toInt; val hi = ((k + 1).toLong * n / 72).toInt
        (cps.slice(lo, hi).map(_.toLong).sum, (hi - lo).toLong)
      }
      val expected = (0 until 64).foldLeft(0L) { (h, j) =>
        val (s1, l1) = cells((j / 8) * 9 + (j % 8))
        val (s2, l2) = cells((j / 8) * 9 + (j % 8) + 1)
        if (s1 * l2 > s2 * l1) h | (1L << j) else h
      }
      val bytes = t.getBytes("UTF-8")
      import graft.functions.{Multimodal, PayloadDHashExpr}
      val viaPng = PayloadDHashExpr.hash(Multimodal.ImageHeader.synthPng(4, 4, bytes))
      val viaJpg = PayloadDHashExpr.hash(Multimodal.ImageHeader.synthJpeg(4, 4, bytes))
      // a WAV with an even-length data chunk IS valid mono PCM16 and takes
      // the sample path (its own property below) — the payload-walk
      // contract only binds the odd-length (invalid-PCM) case
      val viaWav = bytes.length % 2 == 0 ||
        PayloadDHashExpr.hash(Multimodal.AudioHeader.synthWav(8000, 1, bytes)) == expected
      val viaAvi = PayloadDHashExpr.hash(Multimodal.VideoHeader.synthAvi(4, 4, 2, 40000, bytes))
      viaPng == expected && viaJpg == expected && viaWav && viaAvi == expected
    }

  private val samplesGen: Gen[List[Int]] =
    Gen.listOf(Gen.chooseNum(-32768, 32767))

  property("PCM WAV dHash == naive sample-grid dHash, container-layout-invariant") =
    Prop.forAll(samplesGen, Gen.chooseNum(1, 4)) { (sampleList, channels) =>
      import graft.functions.{Multimodal, PayloadDHashExpr}
      val samples = sampleList.toArray
      val expected = PayloadDHashExpr.hashSeq(samples)
      val mono = Multimodal.AudioSamples.synthPcmWav(16000, 1, samples)
      val multi = Multimodal.AudioSamples.synthPcmWav(8000, channels, samples, junk = true)
      // decode must invert the encode exactly (mixdown of replicated
      // channels is the identity), and the hash must be invariant to
      // channel count, sample rate, and the junk LIST chunk
      Multimodal.AudioSamples.decodePcm(mono).get.sameElements(samples) &&
        Multimodal.AudioSamples.decodePcm(multi).get.sameElements(samples) &&
        PayloadDHashExpr.hash(mono) == expected &&
        PayloadDHashExpr.hash(multi) == expected
    }

  private val frameGen: Gen[(Int, Int, Int)] = for {
    w <- Gen.chooseNum(1, 24)
    h <- Gen.chooseNum(1, 12)
    n <- Gen.chooseNum(1, 4)
  } yield (w, h, n)

  property("DIB AVI dHash == naive frame-sum dHash, container-layout-invariant") =
    Prop.forAll(frameGen, Gen.chooseNum(0L, Long.MaxValue)) { case ((w, h, n), seed) =>
      import graft.functions.{Multimodal, PayloadDHashExpr}
      // deterministic pseudo-random gray frames from the seed
      val frames = (0 until n).map(f =>
        Array.tabulate(w * h)(p => (((seed + f * 131 + p * 31) % 256) + 256).toInt % 256))
      val expectSums = Array.tabulate(w * h)(p => frames.map(_(p)).sum)
      val expected = PayloadDHashExpr.hashPixels(w, h, expectSums)
      val base = Multimodal.VideoFrames.synthDibAvi(w, h, frames, 40000)
      val relaid = Multimodal.VideoFrames.synthDibAvi(w, h, frames, 40000, junk = true)
      // decode must invert the encode exactly (gray luma is the identity,
      // bottom-up rows unflipped, row padding skipped), and the hash must
      // be invariant to the JUNK chunk, idx1 index, and buffer-size hint
      Multimodal.VideoFrames.decodeDibLumaSums(base).get._3.sameElements(expectSums) &&
        Multimodal.VideoFrames.decodeDibLumaSums(relaid).get._3.sameElements(expectSums) &&
        PayloadDHashExpr.hash(base) == expected &&
        PayloadDHashExpr.hash(relaid) == expected
    }

  property("baseline JPEG: DC-only blocks decode flat under BOTH Huffman layouts") =
    Prop.forAll(Gen.listOfN(8, Gen.chooseNum(0, 255)), Gen.chooseNum(1, 4)) { (valList, dri) =>
      import graft.functions.Multimodal.JpegGray
      val vals = valList.toArray
      val q8 = Array.fill(64)(8)
      val blocks = vals.toSeq.map { v => val zz = new Array[Int](64); zz(0) = v - 128; zz }
      val expected = Array.tabulate(27 * 16)(p => vals(((p / 27) / 8) * 4 + (p % 27) / 8))
      val a = JpegGray.synthBaselineJpeg(27, 16, blocks, q8,
        JpegGray.DcAnnexK, JpegGray.AcSmallA, 0, "A".getBytes("US-ASCII"))
      val b = JpegGray.synthBaselineJpeg(27, 16, blocks, q8,
        JpegGray.DcFlat, JpegGray.AcSmallB, dri, "B2".getBytes("US-ASCII"))
      JpegGray.decodeJpegLuma(a).get._3.sameElements(expected) &&
        JpegGray.decodeJpegLuma(b).get._3.sameElements(expected)
    }

  // the (run, size) pairs the compact AC tables carry:
  // 0x01 0x11 0x21 0x31 / 0x02 0x12 0x22 / 0x03
  private val acPosVal: Gen[List[(Int, Int)]] =
    Gen.listOf(for {
      rs <- Gen.oneOf((0, 1), (1, 1), (2, 1), (3, 1), (0, 2), (1, 2), (2, 2), (0, 3))
      mag <- Gen.chooseNum(1 << (rs._2 - 1), (1 << rs._2) - 1)
      neg <- Gen.oneOf(true, false)
    } yield (rs._1, if (neg) -mag else mag))

  property("baseline JPEG: AC entropy coding round-trips against the reference IDCT") =
    Prop.forAll(Gen.chooseNum(-128, 127), acPosVal) { (dc, acs) =>
      import graft.functions.Multimodal.JpegGray
      val q = Array.tabulate(64)(i => 1 + (i * 5) % 29)
      val zz = new Array[Int](64)
      zz(0) = dc
      var k = 1
      acs.foreach { case (run, v) => k += run; if (k < 64) { zz(k) = v; k += 1 } }
      val bytes = JpegGray.synthBaselineJpeg(8, 8, Seq(zz), q,
        JpegGray.DcAnnexK, JpegGray.AcSmallA, 0, "ac".getBytes("US-ASCII"))
      val zig = Array(
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
      val f = new Array[Int](64)
      for (i <- 0 until 64) f(zig(i)) = zz(i) * q(i)
      JpegGray.decodeJpegLuma(bytes).get._3.sameElements(JpegGray.idct8x8(f))
    }

  property("color JPEG: DC-only Y/Cb/Cr decode to the exact integer color luma, any subsampling") =
    Prop.forAll(
      Gen.listOfN(8, Gen.chooseNum(0, 255)), // Y per visible 8×8 block (4×2 grid, 27×16 px)
      Gen.listOfN(2, Gen.chooseNum(0, 255)), // Cb per 16×16 region (2 across)
      Gen.listOfN(2, Gen.chooseNum(0, 255)), // Cr per 16×16 region
      Gen.oneOf((2, 2), (2, 1), (1, 2), (1, 1)),
      Gen.chooseNum(0, 3)) { (yL, cbL, crL, samp, dri) =>
      import graft.functions.Multimodal.JpegGray
      val (hs, vs) = samp
      val q8 = Array.fill(64)(8)
      def dc(v: Int) = { val z = new Array[Int](64); z(0) = v - 128; z }
      val yv = yL.toArray; val cb = cbL.toArray; val cr = crL.toArray
      // 27×16 luma: 4×2 visible blocks; chroma region = x half (0..1)
      val mcusX = (27 + 8 * hs - 1) / (8 * hs); val mcusY = (16 + 8 * vs - 1) / (8 * vs)
      val bwY = mcusX * hs; val bhY = mcusY * vs
      val yB = for (by <- 0 until bhY; bx <- 0 until bwY)
        yield dc(yv(math.min(by, 1) * 4 + math.min(bx, 3)))
      // one chroma block per MCU; its constant value is the region value
      // of the MCU's left edge — constant per 16-wide x half by
      // construction when hs=2; when hs=1 two MCUs share a region value
      val cbB = for (my <- 0 until mcusY; mx <- 0 until mcusX)
        yield dc(cb(math.min(mx * hs * 8 / 16, 1)))
      val crB = for (my <- 0 until mcusY; mx <- 0 until mcusX)
        yield dc(cr(math.min(mx * hs * 8 / 16, 1)))
      val bytes = JpegGray.synthBaselineJpegColor(27, 16, hs, vs, yB, cbB, crB,
        q8, q8, JpegGray.DcAnnexK, JpegGray.AcSmallA, JpegGray.DcFlat, JpegGray.AcSmallB,
        dri, "prop".getBytes("US-ASCII"))
      val (w, h, lum) = JpegGray.decodeJpegLuma(bytes).get
      val expected = Array.tabulate(27 * 16) { p =>
        val x = p % 27; val y = p / 27
        val b = (y / 8) * 4 + (x / 8)
        val r = math.min(x / 16, 1)
        JpegGray.ycbcrLuma(yv(b), cb(r), cr(r))
      }
      (w, h) == (27, 16) && lum.sameElements(expected)
    }

  property("progressive JPEG == baseline decode of the same blocks, any script depth") =
    Prop.forAll(
      Gen.listOfN(8, Gen.chooseNum(-128, 127)),
      Gen.listOf(for {
        rs <- Gen.oneOf((0, 1), (1, 1), (2, 1), (3, 1), (0, 2), (1, 2), (2, 2), (0, 3))
        mag <- Gen.chooseNum(1 << (rs._2 - 1), (1 << rs._2) - 1)
        neg <- Gen.oneOf(true, false)
        zrl <- Gen.chooseNum(0, 1)
      } yield (rs._1 + zrl * 16, if (neg) -mag else mag)),
      Gen.chooseNum(0, 1)) { (dcs, acs, deep) =>
      import graft.functions.Multimodal.JpegGray
      import JpegGray._
      val q = Array.tabulate(64)(i => 1 + (i * 5) % 29)
      val blocks = dcs.zipWithIndex.map { case (dc, bi) =>
        val zz = new Array[Int](64)
        zz(0) = dc
        var k = 1
        acs.drop(bi % 3).foreach { case (run, v) =>
          k += run; if (k < 64) { zz(k) = v; k += 1 }
        }
        zz
      }
      val base = synthBaselineJpeg(27, 16, blocks, q, DcAnnexK, AcSmallA, 0,
        "b".getBytes("US-ASCII"))
      val expected = decodeJpegLuma(base).get._3
      val script =
        if (deep == 0) Seq(
          (Seq(0), 0, 0, 0, 1), (Seq(0), 1, 5, 0, 1), (Seq(0), 6, 63, 0, 1),
          (Seq(0), 0, 0, 1, 0), (Seq(0), 1, 5, 1, 0), (Seq(0), 6, 63, 1, 0))
        else Seq(
          (Seq(0), 0, 0, 0, 2), (Seq(0), 1, 63, 0, 2),
          (Seq(0), 0, 0, 2, 1), (Seq(0), 1, 63, 2, 1),
          (Seq(0), 0, 0, 1, 0), (Seq(0), 1, 63, 1, 0))
      val prog = synthProgressiveJpeg(27, 16, 1, 1, blocks, Nil, Nil, q, q,
        DcAnnexK, AcProgA, DcFlat, AcProgB, script, "p".getBytes("US-ASCII"))
      // both decodes run through one decoder, so each also meets the
      // hand reference that shares no decoder code but idct8x8
      val hand = handLuma(27, 16, blocks, q)
      decodeJpegLuma(prog).get._3.sameElements(expected) &&
        expected.sameElements(hand) && decodeJpegLuma(prog).get._3.sameElements(hand)
    }

  /** Natural index of each zigzag position, walked along the
    * anti-diagonals (T.81 figure 5). */
  private val zigzag: Array[Int] = (0 until 15).flatMap { s =>
    val diag = (math.max(0, s - 7) to math.min(s, 7)).map(r => r * 8 + (s - r))
    if (s % 2 == 1) diag else diag.reverse
  }.toArray

  /** Hand reference decode of a 1×1-sampled grayscale frame from its
    * zigzag-ordered quantized blocks: per block dezigzag, dequantise,
    * idct8x8, then crop the block grid to w×h. */
  private def handLuma(w: Int, h: Int, blocks: Seq[Array[Int]], q: Array[Int]): Array[Int] = {
    val bw = (w + 7) / 8
    val px = blocks.map { zz =>
      val f = new Array[Int](64)
      for (i <- 0 until 64) f(zigzag(i)) = zz(i) * q(i)
      graft.functions.Multimodal.JpegGray.idct8x8(f)
    }
    Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      px((y / 8) * bw + x / 8)((y % 8) * 8 + x % 8)
    }
  }

  property("palette/Adam7 PNG round-trip: any dims, any filter, permuted PLTE") =
    Prop.forAll(Gen.chooseNum(1, 40), Gen.chooseNum(1, 24),
      Gen.chooseNum(0, 4), Gen.chooseNum(0, 255)) { (w, h, f, seed) =>
      import graft.functions.Multimodal.ImagePixels
      val px = Array.tabulate(w * h)(p => (p * 31 + seed) % 256)
      val adam = ImagePixels.encodePngGrayAdam7(w, h, px, level = 6, filter = f)
      def perm(v: Int) = (v * 11 + seed) % 256 // gcd(11,256)=1 — bijective
      val palette = new Array[Int](256 * 3)
      (0 until 256).foreach { v =>
        val j = perm(v)
        palette(3 * j) = v; palette(3 * j + 1) = v; palette(3 * j + 2) = v
      }
      val pal = ImagePixels.encodePngPalette(w, h, palette, px.map(perm),
        level = 1, filter = (f + 1) % 5)
      val a = ImagePixels.decodePngLuma(adam)
      val p = ImagePixels.decodePngLuma(pal)
      a.exists(_._3.sameElements(px)) && p.exists(_._3.sameElements(px))
    }

  // ---- decoder totality: these codecs parse UNTRUSTED bytes inside
  // executors, so ANY corruption must yield a hash or a clean fallback,
  // never an exception, a giant allocation, or a hang ----

  private def validContainers(seed: Int): Seq[Array[Byte]] = {
    import graft.functions.Multimodal._
    val px = Array.tabulate(27 * 16)(p => (p * 7 + seed) % 256)
    val samples = Array.tabulate(100)(i => ((i * 131 + seed) % 65536) - 32768)
    val frames = (0 until 2).map(f => Array.tabulate(9 * 6)(p => (p + f + seed) % 256))
    val zz = { val z = new Array[Int](64); z(0) = seed % 128; z }
    val idPalette = Array.tabulate(256 * 3)(i => i / 3) // entry v = (v,v,v)
    Seq(
      ImagePixels.encodePngGray(27, 16, px, level = 6, filter = seed % 5),
      ImagePixels.encodePngPalette(27, 16, idPalette, px, level = 6,
        filter = (seed + 1) % 5),
      ImagePixels.encodePngGrayAdam7(27, 16, px, level = 6, filter = (seed + 2) % 5),
      AudioSamples.synthPcmWav(8000, 1 + seed % 2, samples, junk = seed % 2 == 0),
      AudioSamples.synthPcm8Wav(8000, 1 + seed % 2,
        samples.map(s => (s + 32768) >> 8), junk = seed % 2 == 1),
      AudioSamples.synthFloatWav(8000, 1 + seed % 2, samples),
      AudioSamples.synthPcm24Wav(8000, 1 + seed % 2, samples, junk = seed % 2 == 0),
      VideoFrames.synthDibAvi(9, 6, frames, 40000, junk = seed % 2 == 0),
      JpegGray.synthBaselineJpeg(16, 8, Seq(zz, zz), Array.fill(64)(8),
        JpegGray.DcAnnexK, JpegGray.AcSmallA, seed % 3, "f".getBytes("US-ASCII")),
      JpegGray.synthBaselineJpegColor(16, 8, 2, 1, Seq(zz, zz), Seq(zz), Seq(zz),
        Array.fill(64)(8), Array.fill(64)(8),
        JpegGray.DcAnnexK, JpegGray.AcSmallA, JpegGray.DcFlat, JpegGray.AcSmallB,
        seed % 3, "fc".getBytes("US-ASCII")),
      JpegGray.synthProgressiveJpeg(16, 8, 1, 1, Seq(zz, zz), Nil, Nil,
        Array.fill(64)(8), Array.fill(64)(8),
        JpegGray.DcAnnexK, JpegGray.AcProgA, JpegGray.DcFlat, JpegGray.AcProgB,
        Seq((Seq(0), 0, 0, 0, 1), (Seq(0), 1, 63, 0, 1),
          (Seq(0), 0, 0, 1, 0), (Seq(0), 1, 63, 1, 0)),
        "fp".getBytes("US-ASCII")),
      ImageHeader.synthPng(4, 4, Array.tabulate(20)(i => (i + seed).toByte)),
      ImageHeader.synthJpeg(4, 4, Array.tabulate(20)(i => (i + seed).toByte)),
      AudioHeader.synthWav(8000, 1 + seed % 2, Array.tabulate(21 + seed % 2)(i => (i + seed).toByte)),
      VideoHeader.synthAvi(4, 4, 2, 40000, Array.tabulate(20)(i => (i + seed).toByte)))
  }

  property("decoder totality: corrupted containers never throw from the hash chain") =
    Prop.forAll(Gen.chooseNum(0, 10000), Gen.chooseNum(0, 3), Gen.chooseNum(0, 1 << 20)) {
      (seed, mode, r) =>
        import graft.functions.PayloadDHashExpr
        validContainers(seed).forall { bytes =>
          val at = java.lang.Math.floorMod(r, math.max(1, bytes.length))
          val mutated = mode match {
            case 0 => bytes.take(at) // truncate
            case 1 => // flip one byte
              val c = bytes.clone(); c(at) = (c(at) ^ 0xff).toByte; c
            case 2 => // overwrite a byte with an arbitrary value
              val c = bytes.clone(); c(at) = (r >> 8).toByte; c
            case _ => // a length near 2^31 (0x7fffffff - k) in either byte order
              val bb = java.nio.ByteBuffer.wrap(bytes.clone())
              if ((r & 1) == 1) bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
              bb.putInt(java.lang.Math.floorMod(r >> 5, math.max(1, bytes.length - 3)),
                0x7fffffff - ((r >> 1) & 15)).array()
          }
          PayloadDHashExpr.hash(mutated) // Long or null — must not throw
          true
        }
    }

  property("decoder totality: headers declaring giga-pixel dims decline, never allocate") =
    Prop.forAll(Gen.chooseNum(1 << 13, 1 << 15)) { big =>
      import graft.functions.Multimodal._
      // JPEG SOF0 with big×big dims (up to 2^30 px) but a tiny body
      val zz = new Array[Int](64)
      val jpeg = JpegGray.synthBaselineJpeg(16, 8, Seq(zz, zz), Array.fill(64)(8),
        JpegGray.DcAnnexK, JpegGray.AcSmallA, 0, "x".getBytes("US-ASCII"))
      // patch the SOF0 dims in place (offsets: SOI(2) + APP0(18) + COM(5)
      // vary — find 0xFFC0 and patch h/w at +5..+8)
      val j = jpeg.clone()
      val sof = j.indices.dropRight(8).find(i => (j(i) & 0xff) == 0xff && (j(i + 1) & 0xff) == 0xc0).get
      j(sof + 5) = (big >> 8).toByte; j(sof + 6) = big.toByte
      j(sof + 7) = (big >> 8).toByte; j(sof + 8) = big.toByte
      val jpegDeclined = JpegGray.decodeJpegLuma(j).isEmpty
      // DIB AVI whose strf declares big×big
      val avi = VideoFrames.synthDibAvi(9, 6, Seq(Array.fill(54)(0)), 40000).clone()
      def patch32(at: Int, v: Int): Unit = {
        avi(at) = v.toByte; avi(at + 1) = (v >> 8).toByte
        avi(at + 2) = (v >> 16).toByte; avi(at + 3) = (v >> 24).toByte
      }
      val strf = avi.indices.dropRight(48).find(i =>
        avi(i) == 's' && avi(i + 1) == 't' && avi(i + 2) == 'r' && avi(i + 3) == 'f').get
      patch32(strf + 12, big); patch32(strf + 16, big)
      val aviDeclined = VideoFrames.decodeDibLumaSums(avi).isEmpty
      // PNG whose IHDR declares big×big (CRC wrong is fine — dims gate first)
      val png = ImagePixels.encodePngGray(4, 4, Array.fill(16)(0), 1, 0).clone()
      def pbe32(at: Int, v: Int): Unit = {
        png(at) = (v >> 24).toByte; png(at + 1) = (v >> 16).toByte
        png(at + 2) = (v >> 8).toByte; png(at + 3) = v.toByte
      }
      pbe32(16, big); pbe32(20, big)
      val pngDeclined = ImagePixels.decodePngLuma(png).isEmpty
      jpegDeclined && aviDeclined && pngDeclined
    }

  // ---- MojibakeFixExpr (round-11) -------------------------------------

  private def fixStr(s: String): String =
    graft.functions.MojibakeFixExpr.fix(UTF8String.fromString(s)).toString

  /** UTF-8 bytes misdecoded as Latin-1 — the corruption fixMojibake undoes. */
  private def mojify(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  private val asciiGen: Gen[String] =
    Gen.listOf(Gen.choose(' ', '~')).map(_.mkString)

  // strings guaranteed non-ASCII: accented Latin, Greek, CJK, an emoji
  private val richGen: Gen[String] = for {
    pre <- asciiGen
    core <- Gen.nonEmptyListOf(Gen.oneOf(
      "é", "ï", "ü", "ñ", "ç", "ß", "λ", "Ж", "中", "文", "😀", "—")).map(_.mkString)
    post <- asciiGen
  } yield pre + core + post

  property("fixMojibake: ASCII is identity") =
    Prop.forAll(asciiGen) { s => fixStr(s) == s }

  property("fixMojibake: repairs any Latin-1 misdecode of non-ASCII text") =
    Prop.forAll(richGen) { s => fixStr(mojify(s)) == s }

  property("fixMojibake: any repair round-trips back to the input") =
    Prop.forAll(Gen.listOf(Gen.choose(0x20.toChar, 0xFF.toChar)).map(_.mkString)) { s =>
      val f = fixStr(s)
      f == s || mojify(f) == s
    }

  property("fixMojibake: never introduces a replacement char") =
    Prop.forAll(Gen.listOf(Gen.choose(0x20.toChar, 0x2FFF.toChar)).map(_.mkString)) { s =>
      !fixStr(s).contains('\uFFFD') || s.contains('\uFFFD')
    }

  // ---- WordGramsExpr vs the split("\s+", -1) + sliding-join reference ----

  private def refGrams(t: String, k: Int, distinct: Boolean): Seq[String] = {
    // Java Pattern.split with limit -1 IS Spark split's semantics
    // (leading AND trailing empties kept, "" -> [""])
    val toks = java.util.regex.Pattern.compile("\\s+").split(t, -1)
    val grams =
      if (toks.length < k) Seq(toks.mkString(" "))
      else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    if (distinct) grams.distinct else grams
  }

  private def fusedGrams(t: String, k: Int, distinct: Boolean): Seq[String] = {
    val a = graft.functions.WordGramsExpr.grams(t.getBytes("UTF-8"), k, distinct)
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  private val gramTextGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "bb", "cat", "\u65E5\u672C", "x1"),
      3 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r", "", "\f"),
      1 -> Gen.const(""))).map(_.mkString)

  property("WordGramsExpr(k=2) == split+slide lambda") =
    Prop.forAll(gramTextGen) { t => fusedGrams(t, 2, false) == refGrams(t, 2, false) }

  property("WordGramsExpr(k=3, distinct) == array_distinct(split+slide)") =
    Prop.forAll(gramTextGen) { t => fusedGrams(t, 3, true) == refGrams(t, 3, true) }

  property("WordGramsExpr handles k > token count (single collapsed gram)") =
    Prop.forAll(Gen.oneOf("", " ", "a", "a b", "\t\t", " a ")) { t =>
      (1 to 5).forall(k => fusedGrams(t, k, false) == refGrams(t, k, false))
    }

  // ---- the WsTokens kernel vs Spark's own regex forms ----

  import org.apache.spark.sql.catalyst.expressions.{Expression, If, EqualTo, Length,
    Literal, Lower, RegExpReplace, Size, StringSplit, StringTrim}
  import graft.functions.{BigramLmStatsExpr, WsCollapseExpr, WsSplitExpr, WsTokenCountExpr}

  // all six Java-regex `\s` bytes, U+00A0 and U+2003 (not `\s`),
  // non-ASCII letters (Turkish İ, a Greek word ending in capital sigma),
  // "" and whitespace runs at either end
  private val wsTextGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf("a", "The", "cat", "\u00e9", "\u0416", "\u0130", "\u039f\u0394\u039f\u03a3",
        "\u00df", "\u65e5\u672c", "x\u00a0y"),
      4 -> Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r", "  ", " \t\n\u000b\f\r"),
      1 -> Gen.oneOf("\u00a0", "\u2003", ""))).map(_.mkString)

  private def str(t: String): Expression = Literal(UTF8String.fromString(t))
  private val wsRe = Literal(UTF8String.fromString("\\s+"))

  private def strings(a: Any): Seq[String] = {
    val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  property("WsSplitExpr == split(s, \"\\\\s+\")") =
    Prop.forAll(wsTextGen) { t =>
      strings(WsSplitExpr(str(t)).eval(null)) ==
        strings(StringSplit(str(t), wsRe, Literal(-1)).eval(null))
    }

  property("WsTokenCountExpr == tokenCount's Column form") =
    Prop.forAll(wsTextGen) { t =>
      // when(length(trim(c)) === 0, 0).otherwise(size(split(trim(c), "\\s+")))
      val trimmed = StringTrim(str(t))
      val columnForm = If(EqualTo(Length(trimmed), Literal(0)), Literal(0),
        Size(StringSplit(trimmed, wsRe, Literal(-1))))
      WsTokenCountExpr(str(t)).eval(null) == columnForm.eval(null)
    }

  property("WsCollapseExpr == regexp_replace(s, \"\\\\s+\", \" \")") =
    Prop.forAll(wsTextGen) { t =>
      WsCollapseExpr(str(t)).eval(null) ==
        RegExpReplace(str(t), wsRe, Literal(UTF8String.fromString(" "))).eval(null)
    }

  property("TokenFoldExpr == Σ max(1, ceil(codepoints/4)) over split(s, \"\\\\s+\")") =
    Prop.forAll(wsTextGen) { t =>
      val toks = strings(StringSplit(str(t), wsRe, Literal(-1)).eval(null))
      val expected = toks.map(w => math.max(1, (w.codePointCount(0, w.length) + 3) / 4)).sum
      graft.functions.TokenFoldExpr.subwords(t.getBytes("UTF-8")) == expected
    }

  property("SimHash64Expr == sign vector of xxhash64 over split(s, \"\\\\s+\")") =
    Prop.forAll(wsTextGen) { t =>
      val counts = new Array[Int](64)
      strings(StringSplit(str(t), wsRe, Literal(-1)).eval(null)).foreach { w =>
        val b = w.getBytes("UTF-8")
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        (0 until 64).foreach(i => counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
      }
      val expected = (0 until 64).foldLeft(0L)((acc, i) => if (counts(i) > 0) acc | (1L << i) else acc)
      graft.functions.SimHash64Expr.simhash(t.getBytes("UTF-8")) == expected
    }

  /** The LM signal walk as it stood before the one-walk struct: three
    * walks (one per counter) over the trimmed text, each token
    * lowercased by the JDK's `UTF8String.toLowerCase`. */
  private object ReferenceLmStat {
    val OovTokens = 0
    val InvocabBigrams = 1
    val HitBigrams = 2

    def stat(bytes: Array[Byte], lm: graft.functions.BigramLmRuntime, mode: Int): Int = {
      var oov = 0
      var invocab = 0
      var hits = 0
      var prev: UTF8String = null
      val toks = new String(bytes, "UTF-8").split("[ \\t\\n\\x0B\\f\\r]+").filter(_.nonEmpty)
      toks.foreach { raw =>
        val t = UTF8String.fromString(raw).toLowerCase
        val inV = lm.uni.containsKey(t)
        if (!inV) oov += 1
        if (prev != null && inV && lm.uni.containsKey(prev)) {
          invocab += 1
          if (lm.bi.containsKey(graft.functions.BigramLmRuntime.pairKey(prev, t))) hits += 1
        }
        prev = t
      }
      mode match {
        case OovTokens      => oov
        case InvocabBigrams => invocab
        case _              => hits
      }
    }
  }

  property("BigramLmStatsExpr over lower(trim(s)) == the three per-mode walks") = {
    // vocab and bigrams in the form the build counts them: lower()'d
    def lc(w: String) = Lower(str(w)).eval(null).toString
    val words = Seq("a", "the", "cat", "\u00e9", "\u0416", "\u0130", "\u039f\u0394\u039f\u03a3")
      .map(lc)
    val lm = graft.functions.LanguageModel.BigramLm(
      vocab = words.zipWithIndex.map { case (w, i) => w -> (i + 1).toLong }.toMap,
      bigrams = Map((lc("The"), lc("cat")) -> 3L, (lc("\u0130"), lc("a")) -> 1L,
        (lc("\u00e9"), lc("\u039f\u0394\u039f\u03a3")) -> 2L),
      totalTokens = 40L, vocabSize = words.size)
    Prop.forAll(wsTextGen) { t =>
      val trimmed = StringTrim(str(t)).eval(null).asInstanceOf[UTF8String].getBytes
      val lowered = Lower(StringTrim(str(t))).eval(null).asInstanceOf[UTF8String].getBytes
      val got = BigramLmStatsExpr.stats(lowered, lm.runtime)
      import ReferenceLmStat._
      got.getInt(0) == stat(trimmed, lm.runtime, OovTokens) &&
        got.getInt(1) == stat(trimmed, lm.runtime, InvocabBigrams) &&
        got.getInt(2) == stat(trimmed, lm.runtime, HitBigrams)
    }
  }

  // capitals encoded after Unicode 13 (U+A7C0, U+2C2F, U+10570): Spark's
  // lower() maps them through ICU; the JDK 17 mapping a per-token
  // UTF8String.toLowerCase used leaves them upper
  private val lateCapitalsGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf("\ua7c0", "\u2c2f", "\ud801\udd70", "\ua7c0x", "the", "The", "\u0130"),
      3 -> Gen.oneOf(" ", "\t", "\n"))).map(_.mkString)

  property("stopword and distinct-stopword walks count the tokens of lower(trim(s))") = {
    def lc(w: String) = Lower(str(w)).eval(null).asInstanceOf[UTF8String]
    val set = new java.util.HashSet[UTF8String]()
    Seq("\ua7c0", "\u2c2f", "\ud801\udd70", "the", "\u0130").foreach(w => set.add(lc(w)))
    Prop.forAll(lateCapitalsGen) { t =>
      val lowered = Lower(StringTrim(str(t))).eval(null).asInstanceOf[UTF8String]
      val toks = strings(StringSplit(Literal(lowered), wsRe, Literal(-1)).eval(null))
        .filter(w => set.contains(UTF8String.fromString(w)))
      graft.functions.StopwordHitsExpr.hits(lowered.getBytes, set) == toks.size &&
        graft.functions.DistinctStopwordHitsExpr.distinctHits(lowered.getBytes, set) ==
          toks.distinct.size
    }
  }
}
