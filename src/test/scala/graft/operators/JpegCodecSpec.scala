package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Baseline JPEG codec tests. Two evidence classes, mirroring the PNG
  * suite:
  *
  *  - EXACT: block-constant content with a DC quantizer dividing 8 is
  *    DC-only, and a DC-only block decodes in closed form — the decoder
  *    must reproduce the generator byte-for-byte across grayscale, 4:4:4
  *    and 4:2:0, with and without restart markers. This is the property
  *    the graded q_jpeg_decode fixture stands on.
  *  - TOLERANCE: arbitrary content at Q=1 round-trips within a small
  *    bound (forward+inverse DCT rounding only) — the lossy-but-faithful
  *    contract of a real JPEG pipeline.
  *
  * Plus the malformed-blob containment contract shared by every codec.
  */
class JpegCodecSpec extends SparkTestBase {

  private val nCases: Int = sys.env.getOrElse("GRAFT_PROP_CASES", "12").toInt

  private def gen[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Block-constant gray generator: every pixel of 8×8 block (bx,by) of
    * doc `id` carries the same value — the q_jpeg_decode fixture formula.
    */
  private def blockGen(id: Long, w: Int, c: Int)(i: Int): Byte = {
    val bw = (w + 7) / 8
    val x = (i / c) % w
    val y = i / (c * w)
    ((31L * id + 13L * ((y / 8) * bw + x / 8)) % 256L).toByte
  }

  test("JPEG: DC-only (block-constant) content decodes EXACTLY — gray, 4:4:4, 4:2:0, restarts") {
    (1L to nCases).foreach { seed =>
      val w = gen(Gen.chooseNum(8, 33), seed)
      val h = gen(Gen.chooseNum(8, 25), seed + 1)
      Seq(
        (1, false, 0), (3, false, 0), (3, true, 0), // gray / 4:4:4 / 4:2:0
        (3, true, 2), (1, false, 1)                 // restart intervals
      ).foreach { case (c, sub, ri) =>
        val px = Array.tabulate(w * h * c)(blockGen(seed, w, c))
        val blob = JpegCodec.encodeJpeg(w, h, c, px(_), subsample = sub,
          restartInterval = ri)
        assert(ImageCodec.sniff(blob).contains("jpeg"), s"seed=$seed sniff")
        val img = ImageCodec.decode(blob)
        assert((img.format, img.width, img.height, img.channels) == ("jpeg", w, h, c),
          s"seed=$seed c=$c sub=$sub shape")
        assert(img.pixels.toSeq == px.toSeq,
          s"seed=$seed c=$c sub=$sub ri=$ri DC-only decode not exact")
      }
    }
  }

  test("JPEG: arbitrary content at Q=1 round-trips within DCT-rounding tolerance") {
    val q1 = JpegCodec.flatQ(1)
    (1L to nCases).foreach { seed =>
      val w = gen(Gen.chooseNum(1, 40), seed)
      val h = gen(Gen.chooseNum(1, 30), seed + 1)
      // grayscale: the only loss is forward-quantize-inverse rounding
      val gray = gen(Gen.listOfN(w * h, Gen.chooseNum(0, 255)), seed + 2)
        .map(_.toByte).toArray
      val g2 = JpegCodec.decodeJpeg(
        JpegCodec.encodeJpeg(w, h, 1, gray(_), lumaQ = q1, chromaQ = q1))
      assert(g2.pixels.length == gray.length)
      val gErr = g2.pixels.indices.map(i => math.abs((g2.pixels(i) & 0xff) - (gray(i) & 0xff))).max
      assert(gErr <= 4, s"seed=$seed gray max err $gErr")
      // color 4:4:4: adds the YCbCr matrix round-trip (±2-ish per channel)
      val rgb = gen(Gen.listOfN(w * h * 3, Gen.chooseNum(0, 255)), seed + 3)
        .map(_.toByte).toArray
      val c2 = JpegCodec.decodeJpeg(
        JpegCodec.encodeJpeg(w, h, 3, rgb(_), lumaQ = q1, chromaQ = q1))
      val cErr = c2.pixels.indices.map(i => math.abs((c2.pixels(i) & 0xff) - (rgb(i) & 0xff))).max
      assert(cErr <= 6, s"seed=$seed rgb max err $cErr")
    }
  }

  test("JPEG: restart-marker stream decodes identically to the unrestarted one") {
    val px = Array.tabulate(24 * 17 * 3)(i => ((i * 31 + 7) % 256).toByte)
    val plain = JpegCodec.decodeJpeg(JpegCodec.encodeJpeg(24, 17, 3, px(_)))
    val restarted = JpegCodec.decodeJpeg(
      JpegCodec.encodeJpeg(24, 17, 3, px(_), restartInterval = 1))
    assert(plain.pixels.toSeq == restarted.pixels.toSeq)
  }

  test("JPEG: a stuffed FF00 in entropy data decodes; a bare marker there is rejected") {
    val q1 = JpegCodec.flatQ(1)
    // the first noise image whose entropy-coded data holds a stuffed FF
    val (gray, blob, at) = Iterator.from(1).map { seed =>
      val px = Array.tabulate(16 * 16)(i => ((i * 2654435761L + seed * 40503L) >>> 7).toByte)
      val b = JpegCodec.encodeJpeg(16, 16, 1, px(_), lumaQ = q1, chromaQ = q1)
      val sos = b.indexOfSlice(Array(0xff.toByte, 0xda.toByte))
      val data = sos + 2 + (((b(sos + 2) & 0xff) << 8) | (b(sos + 3) & 0xff))
      (px, b, b.indexOfSlice(Array(0xff.toByte, 0.toByte), data))
    }.find(_._3 >= 0).get
    val img = JpegCodec.decodeJpeg(blob)
    val err = img.pixels.indices.map(i => math.abs((img.pixels(i) & 0xff) - (gray(i) & 0xff))).max
    assert(err <= 4, s"stuffed-byte stream max err $err")
    val bare = blob.clone(); bare(at + 1) = 0xd0.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decodeJpeg(bare)).getMessage ==
      "jpeg: unexpected marker FFD0 inside entropy data")
  }

  test("JPEG: 4:2:0 subsampling box-averages chroma; constant-chroma content survives exactly") {
    // red-tinted gray: R = v+20, G = B = v (all blocks flat) — chroma is
    // CONSTANT across the image, so 2×2 box-average is the identity and
    // even the subsampled path must round-trip the tint exactly
    val w = 20; val h = 12
    val base = Array.tabulate(w * h)(i => 40 + (i / (w * 8) * ((w + 7) / 8) + (i % w) / 8) % 150)
    val px = new Array[Byte](w * h * 3)
    base.indices.foreach { i =>
      px(i * 3) = (base(i) + 20).toByte
      px(i * 3 + 1) = base(i).toByte
      px(i * 3 + 2) = base(i).toByte
    }
    val img = JpegCodec.decodeJpeg(JpegCodec.encodeJpeg(w, h, 3, px(_), subsample = true))
    val err = img.pixels.indices.map(i => math.abs((img.pixels(i) & 0xff) - (px(i) & 0xff))).max
    // not bit-exact (the tint makes Y/Cb/Cr non-integers → AC-free but
    // DC rounding ±1, plus color matrix rounding) — must stay tiny
    assert(err <= 2, s"constant-chroma 4:2:0 max err $err")
  }

  test("JPEG: unsupported profiles reject loudly — progressive, 12-bit, arithmetic") {
    val good = JpegCodec.encodeJpeg(16, 16, 1, i => (i * 7).toByte)
    // find the SOF0 marker and retag it
    def findMarker(b: Array[Byte], m: Int): Int = {
      var i = 2
      while (!((b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m)) i += 1
      i
    }
    val sof = findMarker(good, 0xc0)
    val progressive = good.clone(); progressive(sof + 1) = 0xc2.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decodeJpeg(progressive))
      .getMessage.contains("SOF2"))
    val arith = good.clone(); arith(sof + 1) = 0xc9.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decodeJpeg(arith))
      .getMessage.contains("SOF9"))
    val deep = good.clone(); deep(sof + 4) = 12.toByte // precision byte
    assert(intercept[IllegalArgumentException](JpegCodec.decodeJpeg(deep))
      .getMessage.contains("12-bit"))
  }

  test("JPEG: malformed blobs only ever raise IAE — truncation, garbage, mutation fuzz") {
    val good = JpegCodec.encodeJpeg(9, 7, 3, i => (i * 13).toByte)
    (2 until good.length by 3).foreach { n =>
      intercept[IllegalArgumentException](JpegCodec.decodeJpeg(good.take(n)))
    }
    val rnd = new scala.util.Random(4242)
    val soi = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)
    (1 to 200).foreach { i =>
      val body = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(body)
      try { JpegCodec.decodeJpeg(soi ++ body); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"case $i: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    (1 to 300).foreach { i =>
      val mutated = good.clone()
      val pos = rnd.nextInt(mutated.length)
      mutated(pos) = (mutated(pos) ^ (1 + rnd.nextInt(255))).toByte
      try { JpegCodec.decodeJpeg(mutated); () } // no CRC: may still decode
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"mutation at $pos: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("JPEG: ImageCodec dispatch — decode routes by magic, re-encode stays close") {
    val px = Array.tabulate(10 * 6 * 3)(blockGen(5, 10, 3))
    val img = ImageCodec.decode(JpegCodec.encodeJpeg(10, 6, 3, px(_)))
    assert(img.format == "jpeg")
    val again = ImageCodec.decode(ImageCodec.encode(img))
    assert((again.width, again.height, again.channels) == (10, 6, 3))
    // both generations are DC-only here → the re-encode is exact too
    assert(again.pixels.toSeq == img.pixels.toSeq)
  }
}
