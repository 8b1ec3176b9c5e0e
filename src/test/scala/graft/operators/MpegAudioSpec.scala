package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** MPEG-1 Layer I/II: bit I/O, framing, scfsi semantics, grouped codes,
  * filterbank structure (FIFO continuity across frames), and the
  * malformed-input surface.
  */
class MpegAudioSpec extends AnyFunSuite {

  private def l1Frame(d: Long, f: Int): MpegAudio.L1Frame = {
    val k0 = ((d + 5 * f) % 32).toInt
    val allocN = (1 + ((d + f) % 13)).toInt
    val n = (1 << (allocN + 1)) - 1
    val alloc = Array.fill(32)(0); alloc(k0) = allocN
    val sf = Array.fill(32)(0); sf(k0) = ((d + 7 * f) % 64).toInt
    val raw = Array.tabulate(12, 32)((gg, sb) =>
      if (sb == k0) ((5 * d + 7 * (12 * f + gg) + 3) % n).toInt else 0)
    MpegAudio.L1Frame(alloc, sf, raw)
  }

  test("bit I/O: writer and reader are inverses across byte boundaries") {
    val bw = new Bits.MsbWriter
    val vals = Seq((0x7ffL, 11), (3L, 2), (0L, 1), (0x3fL, 6), (1L, 1), (1023L, 10), (0L, 5))
    vals.foreach { case (v, b) => bw.put(v, b) }
    val bytes = bw.bytes()
    val br = new Bits.MsbReader(bytes, "mpeg audio", "bitstream truncated")
    vals.foreach { case (v, b) => assert(br.read(b).toLong == v, s"$v/$b") }
  }

  test("layer I: a decoded frame's PCM matches the closed-form filterbank sum") {
    for (d <- Seq(0L, 2L, 8L, 44L)) {
      val bytes = MpegAudio.encodeL1Frame(l1Frame(d, 0)) ++
        MpegAudio.encodeL1Frame(l1Frame(d, 1))
      val out = MpegAudio.decode(bytes)
      assert(out.layer == 1 && out.nFrames == 2 && out.pcm.length == 768)
      // closed-form replay: the 16-tap FIFO convolution per output sample
      def sOf(g: Int): (Int, Long) = {
        val f = g / 12
        val k0 = ((d + 5 * f) % 32).toInt
        val allocN = (1 + ((d + f) % 13)).toInt
        val n = (1 << (allocN + 1)) - 1
        val raw = (5 * d + 7 * g + 3) % n
        val sf = (d + 7 * f) % 64
        (k0, (2 * raw + 1 - n) * (1 + (3 * sf) % 13))
      }
      for (g <- 0 until 24; i <- 0 until 32) {
        var want = 0L
        for (m <- 0 to math.min(15, g)) {
          val (k0, sv) = sOf(g - m)
          val vi = (m % 2) * 32 + i
          want += MpegAudio.dTab(m * 32 + i) * MpegAudio.nTab(vi, k0) * sv
        }
        assert(out.pcm(g * 32 + i) == want, s"d=$d pcm($g,$i)")
      }
    }
  }

  test("layer II: scfsi patterns share scalefactors across parts exactly") {
    // same codes, four scfsi patterns: parts must pick the right SF
    for (pat <- 0 to 3) {
      val k0 = 3
      val alloc = Array.fill(MpegAudio.L2SbLimit)(0); alloc(k0) = 5 // 31 levels
      val scfsi = Array.fill(MpegAudio.L2SbLimit)(0); scfsi(k0) = pat
      val sf = Array.fill(MpegAudio.L2SbLimit, 3)(0)
      sf(k0)(0) = 10; sf(k0)(1) = 20; sf(k0)(2) = 30
      val raw = Array.tabulate(36, MpegAudio.L2SbLimit)((g, sb) =>
        if (sb == k0) (g * 7 + 1) % 31 else 0)
      val out = MpegAudio.decode(MpegAudio.encodeL2Frame(
        MpegAudio.L2Frame(alloc, scfsi, sf, raw)))
      assert(out.layer == 2 && out.pcm.length == 1152)
      def sfPart(p: Int): Int = pat match {
        case 0 => Seq(10, 20, 30)(p)
        case 1 => Seq(10, 10, 20)(p)
        case 2 => 10
        case _ => Seq(10, 20, 20)(p)
      }
      for (g <- 0 until 36; i <- 0 until 32) {
        var want = 0L
        for (m <- 0 to math.min(15, g)) {
          val sg = g - m
          val n = 31
          val sv = (2L * ((sg * 7 + 1) % 31) + 1 - n) *
            (1 + (3 * sfPart(sg / 12)) % 13)
          want += MpegAudio.dTab(m * 32 + i) *
            MpegAudio.nTab((m % 2) * 32 + i, k0) * sv
        }
        assert(out.pcm(g * 32 + i) == want, s"pat=$pat pcm($g,$i)")
      }
    }
  }

  test("layer II: grouped 3/5/9-level triplets unpack in s0,s1,s2 order") {
    for (allocV <- Seq(1, 2, 4)) {
      val (n, grouped, _) = MpegAudio.l2Class(allocV)
      assert(grouped)
      val k0 = 0
      val alloc = Array.fill(MpegAudio.L2SbLimit)(0); alloc(k0) = allocV
      val scfsi = Array.fill(MpegAudio.L2SbLimit)(2) // one SF
      val sf = Array.fill(MpegAudio.L2SbLimit, 3)(0)
      val raw = Array.tabulate(36, MpegAudio.L2SbLimit)((g, sb) =>
        if (sb == k0) (g * 2 + 1) % n else 0)
      val out = MpegAudio.decode(MpegAudio.encodeL2Frame(
        MpegAudio.L2Frame(alloc, scfsi, sf, raw)))
      // replay granule 0..2 only (taps reach back within the frame)
      for (g <- 0 until 36; i <- 0 until 32) {
        var want = 0L
        for (m <- 0 to math.min(15, g)) {
          val sg = g - m
          val sv = (2L * ((sg * 2 + 1) % n) + 1 - n) * MpegAudio.sfTab(0)
          want += MpegAudio.dTab(m * 32 + i) *
            MpegAudio.nTab((m % 2) * 32 + i, k0) * sv
        }
        assert(out.pcm(g * 32 + i) == want, s"alloc=$allocV pcm($g,$i)")
      }
    }
  }

  test("filterbank FIFO carries across frames: two-frame stream != frames decoded separately") {
    val bytes2 = MpegAudio.encodeL1Frame(l1Frame(6L, 0)) ++
      MpegAudio.encodeL1Frame(l1Frame(6L, 1))
    val joint = MpegAudio.decode(bytes2)
    val second = MpegAudio.decode(MpegAudio.encodeL1Frame(l1Frame(6L, 1)))
    // the second frame's early granules see the first frame's FIFO tail
    val jointSecond = joint.pcm.slice(384, 768)
    assert(!jointSecond.sameElements(second.pcm),
      "frame 2 must be shaped by frame 1's filterbank state")
    // ...but once the 16-granule FIFO has flushed, they agree
    assert(jointSecond.slice(512, 768 - 384).sameElements(
      second.pcm.slice(512, 768 - 384) /* same region */) ||
      jointSecond.drop(16 * 32).sameElements(second.pcm.drop(16 * 32)),
      "after 16 granules the FIFO histories converge")
  }

  test("stereo: channels decode independently and interleave sample-major") {
    // channel 0 = the mono fixture; channel 1 carries distinct signal —
    // the stereo stream's deinterleaved channel 0 must equal the mono
    // decode of the same per-channel data
    def alloc(ch: Int, sb: Int) = if (sb == 3 + 2 * ch) 5 else 0
    def sf(ch: Int, sb: Int) = if (sb == 3 + 2 * ch) 10 + 20 * ch else 0
    def raw(g: Int, ch: Int, sb: Int) =
      if (sb == 3 + 2 * ch) (g * 7 + 1 + 5 * ch) % ((1 << 6) - 1) else 0
    val st = MpegAudio.decode(MpegAudio.encodeL1Stereo(alloc, sf, raw))
    assert(st.layer == 1 && st.channels == 2 && st.pcm.length == 768)
    for (ch <- 0 to 1) {
      val a1 = Array.fill(32)(0); a1(3 + 2 * ch) = 5
      val s1 = Array.fill(32)(0); s1(3 + 2 * ch) = 10 + 20 * ch
      val r1 = Array.tabulate(12, 32)((g, sb) => raw(g, ch, sb))
      val mono = MpegAudio.decode(MpegAudio.encodeL1Frame(MpegAudio.L1Frame(a1, s1, r1)))
      for (t <- 0 until 384)
        assert(st.pcm(2 * t + ch) == mono.pcm(t), s"ch=$ch t=$t")
    }
    // Layer II stereo round-trips too (scfsi + grouping per channel)
    val st2 = MpegAudio.decode(MpegAudio.encodeL2Stereo(
      (ch, sb) => if (sb == ch) 2 else 0, // grouped 5-level class
      (ch, sb) => if (sb == ch) ch else 0,
      (ch, sb, i) => 7 * (i + 1) + ch,
      (g, ch, sb) => if (sb == ch) (g + 2 * ch) % 5 else 0))
    assert(st2.layer == 2 && st2.channels == 2 && st2.pcm.length == 2304)
  }

  test("malformed: every corruption fails loudly") {
    val good = MpegAudio.encodeL1Frame(l1Frame(0L, 0))
    // lost sync
    val badSync = good.clone(); badSync(0) = 0x12
    intercept[IllegalArgumentException](MpegAudio.decode(badSync))
    // truncated mid-frame
    intercept[IllegalArgumentException](
      MpegAudio.decode(java.util.Arrays.copyOf(good, good.length - 4)))
    // empty stream
    intercept[IllegalArgumentException](MpegAudio.decode(Array.emptyByteArray))
    // layer III bits over a Layer I body: the side info parse must reject
    // it (the L1 alloc nibbles read back as a nonzero main_data_begin)
    val l3 = good.clone()
    // header bits: sync(11) ver(2) layer(2): layer bits sit at bits 13-14
    // byte1 = [sync3][ver2][layer2][prot1]: set layer bits to 01 (III)
    l3(1) = ((l3(1) & ~0x06) | 0x02).toByte
    intercept[IllegalArgumentException](MpegAudio.decode(l3))
    // stereo mode
    val st = good.clone()
    st(3) = (st(3) & ~0xc0).toByte // mode 00 = stereo
    intercept[IllegalArgumentException](MpegAudio.decode(st))
    // mixed layers in one stream
    val l2 = {
      val alloc = Array.fill(MpegAudio.L2SbLimit)(0); alloc(0) = 3
      val scfsi = Array.fill(MpegAudio.L2SbLimit)(2)
      val sf = Array.fill(MpegAudio.L2SbLimit, 3)(0)
      val raw = Array.fill(36, MpegAudio.L2SbLimit)(0)
      MpegAudio.encodeL2Frame(MpegAudio.L2Frame(alloc, scfsi, sf, raw))
    }
    intercept[IllegalArgumentException](MpegAudio.decode(good ++ l2))
  }

  // ---- Layer III ------------------------------------------------------------

  /** The q_mp3_decode fixture family: per global granule one nonzero
    * spectral line (ESC/linbits every third granule), rotating gains,
    * scalefactors, scfsi masks, region splits, count1 tables and
    * stuffing. Mirrors Multimodal.withMp3Media and the SQL oracle.
    */
  private def l3Granule(d: Long, gi: Int): MpegAudio.L3Granule = {
    val pos = ((17 + 37 * d + 101 * gi) % 576).toInt
    val esc = (d + gi) % 3 == 0
    val v = if (esc) (15 + (d % 2)).toInt else (1 + ((d + 3 * gi) % 13)).toInt
    val signed = if ((d + 5 * gi) % 2 == 1) -v else v
    val sc = ((d + gi) % 16).toInt
    val tsel =
      if (esc) Array((16 + d % 16).toInt, (16 + (d + 1) % 16).toInt,
        (16 + (d + 2) % 16).toInt)
      else Array((12 + d % 3).toInt, (12 + (d + 1) % 3).toInt,
        (12 + (d + 2) % 3).toInt)
    val bigValues = pos / 2 + 1
    MpegAudio.L3Granule(
      lines = Seq((pos, signed)),
      globalGain = ((29 * d + 7 * gi) % 256).toInt,
      scalefacCompress = sc,
      tableSelect = tsel,
      region0Count = (d % 6).toInt, region1Count = (d % 4).toInt,
      preflag = ((d / 2 + gi) % 2).toInt,
      scalefacScale = ((d / 4 + gi) % 2).toInt,
      count1Table = (d % 2).toInt,
      count1Quads = math.min((d % 5).toInt, (576 - 2 * bigValues) / 4),
      stuffBits = (3 * ((d + gi) % 2)).toInt,
      scalefac = band => {
        val slen = if (band <= 10) sc >> 2 else sc & 3
        ((3 * d + band + gi) % (1L << slen)).toInt
      })
  }

  private def l3Stream(d: Long): Array[Byte] = {
    val nf = 1 + (d % 2).toInt
    (0 until nf).toArray.flatMap { f =>
      MpegAudio.encodeL3Frame((d % 16).toInt,
        Array(l3Granule(d, 2 * f), l3Granule(d, 2 * f + 1)))
    }
  }

  /** Closed-form replay of the full Layer III chain by LINEARITY: one
    * nonzero line per granule → requant → ≤2 alias contributions →
    * 36-point IMDCT landing in two granule-steps → frequency inversion →
    * the 16-tap polyphase convolution. This is exactly the SQL oracle's
    * algebra.
    */
  private def l3Expected(d: Long): Array[Long] = {
    val nf = 1 + (d % 2).toInt
    val ngran = 2 * nf
    val totalSteps = ngran * 18
    val pcm = new Array[Long](totalSteps * 32)
    for (gi <- 0 until ngran) {
      val pos = ((17 + 37 * d + 101 * gi) % 576).toInt
      val esc = (d + gi) % 3 == 0
      val v = if (esc) (15 + (d % 2)).toInt else (1 + ((d + 3 * gi) % 13)).toInt
      val neg = (d + 5 * gi) % 2 == 1
      val gg = ((29 * d + 7 * gi) % 256).toInt
      val band = math.min(pos / 26, 21)
      val group = if (band < 6) 0 else if (band < 11) 1 else if (band < 16) 2 else 3
      val scfsiBit = ((d % 16) >> group) & 1
      val sgi = if (gi % 2 == 1 && scfsiBit == 1) gi - 1 else gi
      val sc = ((d + sgi) % 16).toInt
      val slen = if (band <= 10) sc >> 2 else sc & 3
      val sfRaw = if (band > 20) 0L else (3 * d + band + sgi) % (1L << slen)
      val pre = ((d / 2 + gi) % 2).toInt
      val sscale = ((d / 4 + gi) % 2).toInt
      val sfv = sfRaw + (if (pre == 1) band % 3 else 0)
      val att = 1 + ((3 * sfv * (1 + sscale)) % 11)
      val gain = 1 + gg % 9
      val mag = v.toLong * (v + 2) * gain * att
      val xr = if (neg) -mag else mag
      val sb = pos / 18
      val k = pos % 18
      val contribs =
        if (k >= 10 && sb < 31)
          Seq((sb, k, 2L + (17 - k) % 3), (sb + 1, 17 - k, 1L + (17 - k) % 2))
        else if (k <= 7 && sb >= 1)
          Seq((sb, k, 2L + k % 3), (sb - 1, 17 - k, -(1L + k % 2)))
        else Seq((sb, k, 1L))
      for ((sbp, kp, w) <- contribs; p <- 0 until 36) {
        val gs = if (p < 18) gi * 18 + p else (gi + 1) * 18 + (p - 18)
        if (gs < totalSteps) {
          val ss = gs % 18
          val sgn = if (sbp % 2 == 1 && ss % 2 == 1) -1L else 1L
          val tval = xr * w * (((7 * p + 11 * kp + 3) % 23) - 11) *
            (1 + ((5 * p + 2) % 9)) * sgn
          for (m <- 0 to 15; if gs + m < totalSteps; i <- 0 until 32) {
            pcm((gs + m) * 32 + i) +=
              tval * MpegAudio.nTab((m % 2) * 32 + i, sbp) * MpegAudio.dTab(m * 32 + i)
          }
        }
      }
    }
    pcm
  }

  test("layer III: decoded PCM matches the closed-form linearity replay") {
    for (d <- 0L until 24L) {
      val out = MpegAudio.decode(l3Stream(d))
      val nf = 1 + (d % 2).toInt
      assert(out.layer == 3 && out.channels == 1 && out.nFrames == nf)
      assert(out.pcm.length == nf * 1152)
      val want = l3Expected(d)
      assert(out.pcm.sameElements(want),
        s"d=$d first diff at ${out.pcm.zip(want).indexWhere(t => t._1 != t._2)}")
    }
  }

  test("layer III: scfsi reuse changes granule 1, not granule 0") {
    // two frames identical except the scfsi mask: granule 0 PCM equal,
    // granule 1 differs where the reused scalefactor differs
    val g0 = l3Granule(6L, 0)
    val g1 = l3Granule(6L, 1)
    val a = MpegAudio.decode(MpegAudio.encodeL3Frame(0, Array(g0, g1)))
    val b = MpegAudio.decode(MpegAudio.encodeL3Frame(15, Array(g0, g1)))
    // granule 0 output (first 18 steps) must agree
    assert(a.pcm.take(576).sameElements(b.pcm.take(576)))
    assert(!a.pcm.drop(576).sameElements(b.pcm.drop(576)),
      "scfsi mask must change granule 1's dequantization")
  }

  test("layer III: ESC/linbits values round-trip through the region tables") {
    // d=0, gi=0 is an ESC granule (value 15); force linbits coverage by
    // also checking a plain granule decodes under non-ESC tables
    val esc = l3Granule(0L, 0)
    assert(esc.tableSelect.forall(_ >= 16))
    val out = MpegAudio.decode(MpegAudio.encodeL3Frame(0, Array(esc, l3Granule(0L, 1))))
    assert(out.pcm.sameElements(l3Expected(0L)))
  }

  test("layer III: stuffing bits are skipped to part2_3_length exactly") {
    // gi with (d+gi)%2==1 carries 3 stuffing bits; a second frame after
    // it only syncs if the skip landed exactly
    val out = MpegAudio.decode(l3Stream(1L)) // d=1: two frames, stuffed granules
    assert(out.nFrames == 2 && out.pcm.length == 2304)
  }

  test("layer III malformed: every corruption fails loudly") {
    val good = l3Stream(2L)
    // truncated
    intercept[IllegalArgumentException](
      MpegAudio.decode(java.util.Arrays.copyOf(good, good.length - 3)))
    // window_switching flag set: bit 83 (header 32 + mdb 9 + priv 5 +
    // scfsi 4 + part23 12 + bv 9 + gg 8 + sc 4)
    val ws = good.clone()
    ws(83 / 8) = (ws(83 / 8) | (0x80 >> (83 % 8))).toByte
    intercept[IllegalArgumentException](MpegAudio.decode(ws))
    // stereo mode bits under layer III
    val st = good.clone()
    st(3) = (st(3) & ~0xc0).toByte
    intercept[IllegalArgumentException](MpegAudio.decode(st))
    // nonzero main_data_begin (bit reservoir)
    val mdb = good.clone()
    mdb(4) = (mdb(4) | 0x80).toByte // first side-info bit
    intercept[IllegalArgumentException](MpegAudio.decode(mdb))
  }
}
