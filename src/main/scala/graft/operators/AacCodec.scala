package graft.operators

import graft.operators.Bits.{MsbReader, MsbWriter}

/** AAC-LC (ISO/IEC 13818-7 / 14496-3) decoder in pure JDK — the last
  * named rung of the perceptual-audio ladder. What is implemented is the
  * ADTS + AAC-LC DECODE STRUCTURE, end to end:
  *
  *  - ADTS framing: the 0xFFF syncword, MPEG-version/layer/protection
  *    bits, profile (LC), sampling-frequency index, channel
  *    configuration (1 = mono SCE, 2 = stereo CPE), the 13-bit
  *    frame_length the decoder
  *    validates against the consumed bytes, buffer fullness, and
  *    number_of_raw_data_blocks (0 = one block per frame);
  *  - raw_data_block: one single_channel_element (id_syn_ele SCE) or
  *    one channel_pair_element (CPE: common_window sharing one
  *    ics_info, the ms_mask_present family with the integer-exact MS
  *    butterfly, and intensity bands 14/15 on the right channel),
  *    followed by the END element id and byte alignment;
  *  - individual_channel_stream: 8-bit global_gain; ics_info with all
  *    four window_sequence values decoded — the long-class trio
  *    ONLY_LONG / LONG_START / LONG_STOP (6-bit max_sfb, predictor flag
  *    rejected if set; the transition shapes in [[aacWinSeq]]) and
  *    EIGHT_SHORT (4-bit max_sfb + the 7 scale_factor_grouping bits),
  *    window_shape;
  *  - section_data: run-length sections with a 4-bit codebook id each
  *    and incremental lengths (5-bit/31-escape long, 3-bit/7-escape
  *    short) covering the sfbs up to max_sfb, PER WINDOW GROUP for
  *    short sequences;
  *  - scale_factor_data: the first scalefactor seeded by global_gain,
  *    then DPCM deltas through the (pinned) scalefactor Huffman
  *    codebook for every sfb in a non-zero section;
  *  - spectral_data: per section, the spec's codebook grammar — 4-tuple
  *    codebooks 1–4 and 2-tuple codebooks 5–11, SIGNED books carrying
  *    signs in the symbol, UNSIGNED books (3,4 and 7–11) followed by a
  *    sign bit per nonzero member, and codebook 11's escape sequence
  *    (N ones, a zero, then an (N+4)-bit mantissa → 2^(N+4) + word);
  *    codebook 0 sections are zero; intensity books 14/15 are decoded on
  *    a CPE's right channel (PNS/reserved rejected);
  *  - the 4.4.2.1 presence flags between scale_factor_data and
  *    spectral_data: pulse_data PARSED AND APPLIED on long-window
  *    frames (4.4.2.7: number_pulse, pulse_start_sfb, additive offset
  *    chaining, amplitudes added to the QUANTIZED values sign-matched
  *    — zero lines go negative — before requantization; pulses into
  *    non-spectral sections and EIGHT_SHORT frames rejected loudly),
  *    gain_control_data rejected loudly,
  *    tns_data PARSED AND APPLIED on long-class frames — n_filt,
  *    coef_res, per-filter length/order/direction/coef_compress and the
  *    two's-complement coefficients, filter regions walking DOWN from
  *    max_sfb, and the §4.6.9 all-pole synthesis over each region with
  *    zero history at the region edge and direction-1 downward
  *    recursion; SHORT frames run the per-window 1-bit n_filt loop with
  *    4-bit lengths in short band units, regions bounded inside each
  *    window's 128 lines;
  *  - requantization |q|^(4/3)·2^((sf−100)/4) and the filterbank:
  *    the 2048-point long-window IMDCT, or eight 256-point short-window
  *    IMDCTs placed at 448 + 128w with window-group-interleaved spectra,
  *    both with 1024-sample overlap-add carried ACROSS ADTS frames.
  *
  * PINNED CONSTANTS, stated honestly (the [[MpegAudio]] discipline):
  * the out-of-band numeric tables — the Huffman codebooks (replaced by
  * a deterministic canonical-code family with the spec's tuple/LAV/sign
  * structure), the scalefactor-band boundaries (32 bands of width 32),
  * the requantization curves, and the IMDCT cosines/window — are
  * documented INTEGER implementation values, so every PCM sample is an
  * exact integer function of the bitstream; the TNS coefficient
  * dequantization (the spec's sin tables + reflection-to-direct-form
  * recursion) is likewise collapsed to a pinned identity map — the
  * coded two's-complement field IS the direct-form coefficient — while
  * the filter STRUCTURE (regions, order, direction, bounded history)
  * follows the spec. Everything STRUCTURAL follows the spec. The IMDCT accumulates over the nonzero spectral
  * lines only — an exact identity, not an approximation.
  *
  * PROFILE BOUNDARY — terminal rejections, not debt: this decoder is
  * AAC-LC (profile 1), the profile every ADTS fixture declares. The two
  * tools that remain rejected-loudly are out of the LC toolset by the
  * standard itself and stay permanently rejected: `gain_control_data`
  * (the SSR profile's gain-control tool, 14496-3 §4.5.2.6 — never
  * present in an LC stream) and the ics_info `predictor_data_present`
  * flag (the Main profile's backward-adaptive predictor, §4.6.2 — an LC
  * ics_info must code it 0). A conforming LC stream cannot exercise
  * either path, so the rejections are correctness guards for
  * mis-labelled streams, not missing LC surface.
  */
object AacCodec {

  // ---- pinned tables ---------------------------------------------------------

  /** Scalefactor band of a spectral line: 32 long bands of width 32. */
  private[operators] def sfb(line: Int): Int = line / 32
  private[operators] val NumSfb = 32
  private[operators] val FrameLen = 1024

  /** Codebook shape per the spec: tuple size, largest absolute value,
    * signed-in-symbol flag, escape flag (book 11).
    */
  private[operators] def cbTuple(cb: Int): Int = if (cb <= 4) 4 else 2
  private[operators] def cbLav(cb: Int): Int = cb match {
    case 1 | 2 => 1
    case 3 | 4 => 2
    case 5 | 6 => 4
    case 7 | 8 => 7
    case 9 | 10 => 12
    case _ => 16
  }
  private[operators] def cbSigned(cb: Int): Boolean = cb <= 2 || cb == 5 || cb == 6

  /** Pinned requantization stand-ins. */
  private[operators] def aacPow43(a: Int): Long = a.toLong * (a + 2)
  private[operators] def aacGain(sf: Int): Long = 1 + ((5L * sf) % 13)

  /** Pinned 2048-point IMDCT cosine and long-window stand-ins. */
  private[operators] def aacCos(p: Int, k: Int): Long = ((13 * p + 7 * k + 5) % 29) - 14
  private[operators] def aacWin(p: Int): Long = 1 + ((3 * p) % 17)

  /** Short-window structure (EIGHT_SHORT_SEQUENCE): 8 windows of 128
    * spectral lines; pinned short band table (15 bands: 14 of width 8 +
    * one of 16 — max_sfb is a 4-bit field, which is why the spec's own
    * short tables stop at 15), 256-point IMDCT cosine/window stand-ins,
    * and the spec's window offsets — window w contributes at frame
    * positions 448 + 128w .. +255.
    */
  private[operators] val NumSfbShort = 15 // max_sfb is a 4-bit field
  private[operators] val ShortLen = 128
  private[operators] val ShortOffset = 448
  private[operators] def sfbShortStart(b: Int): Int = if (b < 14) 8 * b else 112
  private[operators] def sfbShortWidth(b: Int): Int = if (b < 14) 8 else 16
  private[operators] def sfbShort(line: Int): Int = math.min(line / 8, 14)

  /** First line of short band `b`, with band 15 (= NumSfbShort) mapping
    * to the window end — the TNS region walk's upper boundary.
    */
  private[operators] def tnsShortLine(b: Int): Int =
    if (b >= NumSfbShort) ShortLen else sfbShortStart(b)
  private[operators] def aacCosS(p: Int, k: Int): Long = ((11 * p + 5 * k + 3) % 23) - 11
  private[operators] def aacWinS(p: Int): Long = 1 + ((7 * p) % 13)

  /** Long-class window by window_sequence: ONLY_LONG (0) uses the long
    * window; LONG_START (1) keeps the long left half, a flat middle, a
    * descending short half, then ZEROS; LONG_STOP (3) mirrors it. The
    * shapes are pinned stand-ins with the spec's PIECEWISE STRUCTURE —
    * the zero regions make the transition windows value-visible (a
    * wrong window sequence moves energy into samples the oracle expects
    * silent).
    */
  private[operators] def aacWinSeq(wseq: Int, p: Int): Long = wseq match {
    case 0 => aacWin(p)
    case 1 =>
      if (p < 1024) aacWin(p)
      else if (p < 1472) 7
      else if (p < 1600) aacWinS(255 - (p - 1472))
      else 0
    case _ =>
      if (p < 448) 0
      else if (p < 576) aacWinS(p - 448)
      else if (p < 1024) 7
      else aacWin(p)
  }

  /** The pinned spectral codebook family: canonical Huffman over tuple
    * symbols, the all-zero tuple heavily weighted (sparse spectra code
    * compactly, as in the spec's books).
    */
  private final class SpecBook(cb: Int) {
    val tuple: Int = cbTuple(cb)
    val lav: Int = cbLav(cb)
    val signed: Boolean = cbSigned(cb)
    private val radix = if (signed) 2 * lav + 1 else lav + 1
    private val nSyms = { var n = 1; var i = 0; while (i < tuple) { n *= radix; i += 1 }; n }
    private val weights = Array.tabulate(nSyms.toInt) { s =>
      if (symVals(s).forall(_ == 0)) 1000L else 1L + ((13L * s + 7 * cb) % 17)
    }
    private val (lens, codes) = MpegAudio.canonicalCode(weights)
    // canonical range-decode state (shared impl): the old per-BIT tuple
    // map probe was the same hot pattern jstack flagged in the MP3 reader
    private val reader = new MpegAudio.CanonicalReader(lens, codes)
    /** Magnitude (unsigned books) or signed value per tuple member. */
    def symVals(sym: Int): Array[Int] = {
      val v = new Array[Int](tuple)
      var s = sym
      var i = tuple - 1
      while (i >= 0) {
        v(i) = (s % radix) - (if (signed) lav else 0)
        s /= radix
        i -= 1
      }
      v
    }
    def symOf(vals: Array[Int]): Int = {
      var s = 0
      vals.foreach { v =>
        val digit = v + (if (signed) lav else 0)
        require(digit >= 0 && digit < radix, s"aac: value $v outside codebook $cb")
        s = s * radix + digit
      }
      s
    }
    def write(put: (Long, Int) => Unit, sym: Int): Unit =
      put(codes(sym).toLong, lens(sym))
    def read(br: MsbReader): Int =
      reader.read(br, "aac: invalid spectral Huffman code")
  }

  private lazy val specBooks: IndexedSeq[SpecBook] =
    (1 to 11).map(new SpecBook(_))

  /** Pinned scalefactor codebook: DPCM deltas −60..+60 (121 symbols),
    * zero-delta heavily weighted (the spec codebook's shape).
    */
  private lazy val sfLensCodes: (Array[Int], Array[Int]) =
    MpegAudio.canonicalCode(Array.tabulate(121)(s =>
      if (s == 60) 500L else 1L + ((11L * s + 3) % 19)))
  private def sfWrite(put: (Long, Int) => Unit, delta: Int): Unit = {
    require(delta >= -60 && delta <= 60, "aac: scalefactor delta out of range")
    val (lens, codes) = sfLensCodes
    put(codes(delta + 60).toLong, lens(delta + 60))
  }
  private def sfRead(br: MsbReader): Int =
    sfReader.read(br, "aac: invalid scalefactor code") - 60
  private lazy val sfReader: MpegAudio.CanonicalReader = {
    val (lens, codes) = sfLensCodes
    new MpegAudio.CanonicalReader(lens, codes)
  }

  // ---- encode (fixture generator) ----------------------------------------------

  /** One frame's spec: sparse nonzero lines (each with its codebook) and
    * the per-sfb scalefactor deltas. This profile codes each frame as
    * sections of codebook 0 around the nonzero sfbs. For
    * EIGHT_SHORT_SEQUENCE frames (`shortSeq`), `lines` positions are
    * win*128 + line and `grouping` carries the 7 scale_factor_grouping
    * bits (MSB first: bit 7-w set -> window w joins window w-1's group).
    */
  final case class AacFrame(globalGain: Int, lines: Seq[(Int, Int, Int)], // (pos, value, cb)
                            sfDelta: Int, shortSeq: Boolean = false,
                            grouping: Int = 0, windowSeq: Int = -1,
                            tns: Seq[(Int, Int, Seq[Int])] = Nil, // (length, direction, coefs)
                            // pulse_data (long windows only): start sfb and
                            // (pulse_offset, pulse_amp) pairs in coded order
                            pulseStartSfb: Int = 0,
                            pulses: Seq[(Int, Int)] = Nil) {
    /** Effective window_sequence: explicit if set, else derived. */
    def wseq: Int = if (windowSeq >= 0) windowSeq else if (shortSeq) 2 else 0
  }

  /** Window groups of an EIGHT_SHORT frame: seq of window lists. */
  private[operators] def windowGroups(grouping: Int): Seq[Seq[Int]] = {
    require(grouping >= 0 && grouping < 128, "aac: scale_factor_grouping is 7 bits")
    val groups = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer(0))
    var w = 1
    while (w < 8) {
      if (((grouping >> (7 - w)) & 1) == 1) groups.last += w
      else groups += scala.collection.mutable.ArrayBuffer(w)
      w += 1
    }
    groups.map(_.toSeq).toSeq
  }

  /** Write one section's coefficient run in tuples through a spectral
    * codebook, with the sign-bit and book-11 escape grammar.
    */
  private def writeSpectralRun(bw: MsbWriter, cb: Int,
                               coefAt: Int => Int, n: Int): Unit = {
    val book = specBooks(cb - 1)
    val t = book.tuple
    require(n % t == 0, "aac: section width not a tuple multiple")
    var off = 0
    while (off < n) {
      val vals = new Array[Int](t)
      val signs = scala.collection.mutable.ArrayBuffer.empty[Int]
      val escapes = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < t) {
        val v = coefAt(off + i)
        if (book.signed) vals(i) = v
        else {
          val a = math.abs(v)
          if (cb == 11 && a >= 16) {
            vals(i) = 16
            escapes += a
          } else {
            require(a <= book.lav, s"aac: |$v| outside codebook $cb")
            vals(i) = a
          }
          if (v != 0) signs += (if (v < 0) 1 else 0)
        }
        i += 1
      }
      book.write(bw.put, book.symOf(vals))
      signs.foreach(s0 => bw.put(s0.toLong, 1))
      escapes.foreach { a =>
        // escape_sequence: N ones, a zero, then an (N+4)-bit word with
        // value = 2^(N+4) + word
        var nb = 0
        while (a >= (1 << (nb + 5))) nb += 1
        require(a >= (1 << (nb + 4)), "aac: escape value below 16")
        var k = 0
        while (k < nb) { bw.put(1, 1); k += 1 }
        bw.put(0, 1)
        bw.put((a - (1 << (nb + 4))).toLong, nb + 4)
      }
      off += t
    }
  }

  /** The ics_info bits — shared by SCE streams and the CPE's
    * common_window (written once for both channels there).
    */
  private def writeIcsInfo(bw: MsbWriter, fr: AacFrame): Unit =
    if (fr.wseq != 2) {
      // ics_info (long-class: ONLY_LONG / LONG_START / LONG_STOP)
      bw.put(0, 1) // ics_reserved
      bw.put(fr.wseq.toLong, 2) // window_sequence
      bw.put(0, 1) // window_shape
      bw.put(NumSfb.toLong, 6) // max_sfb
      bw.put(0, 1) // predictor_data_present
    } else {
      // ics_info (EIGHT_SHORT: 4-bit max_sfb + 7 grouping bits, no
      // predictor flag)
      bw.put(0, 1)
      bw.put(2, 2) // window_sequence: EIGHT_SHORT
      bw.put(0, 1) // window_shape
      bw.put(NumSfbShort.toLong, 4)
      bw.put(fr.grouping.toLong, 7)
    }

  /** One individual_channel_stream: global_gain, ics_info (unless a
    * CPE's common_window already carried it), sections, scalefactors,
    * the presence flags (+tns), spectral data.
    */
  private def writeIcs(bw: MsbWriter, fr: AacFrame,
                       includeInfo: Boolean): Unit = {
      require(fr.globalGain >= 0 && fr.globalGain < 256)
      bw.put(fr.globalGain.toLong, 8)
      if (includeInfo) writeIcsInfo(bw, fr)
      require(fr.lines.nonEmpty, "aac fixture: at least one line")
      val cb = fr.lines.head._3
      require(cb >= 1 && cb <= 11)
      def sections(bits: Int, runs: Seq[(Int, Int)]): Unit = {
        val esc = (1 << bits) - 1
        runs.foreach { case (cbId, len) =>
          if (len > 0) {
            bw.put(cbId.toLong, 4)
            var rest = len
            while (rest >= esc) { bw.put(esc.toLong, bits); rest -= esc }
            bw.put(rest.toLong, bits)
          }
        }
      }
      if (fr.wseq != 2) {
        val byBand = fr.lines.groupBy(l => sfb(l._1))
        require(byBand.size == 1, "aac fixture: one coded sfb per frame")
        val band = byBand.keys.head
        sections(5, Seq((0, band), (cb, 1), (0, NumSfb - band - 1)))
        // scalefactors: one coded sfb → one DPCM delta from global_gain
        sfWrite(bw.put, fr.sfDelta)
        // pulse / tns / gain_control presence (4.4.2.1 order)
        if (fr.pulses.nonEmpty) {
          // pulse_data (4.4.2.7): number_pulse-1, pulse_start_sfb, then
          // (5-bit offset, 4-bit amp) per pulse; offsets chain from the
          // start band's first line
          require(fr.pulses.size <= 4, "aac fixture: number_pulse is 2 bits")
          require(fr.pulseStartSfb >= 0 && fr.pulseStartSfb < NumSfb)
          bw.put(1, 1) // pulse_data_present
          bw.put((fr.pulses.size - 1).toLong, 2)
          bw.put(fr.pulseStartSfb.toLong, 6)
          fr.pulses.foreach { case (off, amp) =>
            require(off >= 0 && off < 32 && amp >= 0 && amp < 16,
              "aac fixture: pulse offset is 5 bits, amp 4 bits")
            bw.put(off.toLong, 5)
            bw.put(amp.toLong, 4)
          }
        } else bw.put(0, 1) // pulse_data_present
        if (fr.tns.nonEmpty) {
          bw.put(1, 1) // tns_data_present
          require(fr.tns.size <= 3, "aac fixture: n_filt is 2 bits")
          bw.put(fr.tns.size.toLong, 2) // n_filt
          bw.put(1, 1) // coef_res = 1 -> 4-bit coefficients
          fr.tns.foreach { case (len, dir, coefs) =>
            require(len >= 0 && len < 64 && coefs.size <= 12)
            bw.put(len.toLong, 6)
            bw.put(coefs.size.toLong, 5) // order
            if (coefs.nonEmpty) {
              bw.put(dir.toLong, 1)
              bw.put(0, 1) // coef_compress
              coefs.foreach { c0 =>
                require(c0 >= -8 && c0 <= 7, "aac fixture: TNS coef outside 4 bits")
                bw.put((c0 & 0xf).toLong, 4)
              }
            }
          }
        } else bw.put(0, 1)
        bw.put(0, 1) // gain_control_data_present
        val base = band * 32
        writeSpectralRun(bw, cb,
          i => fr.lines.find(_._1 == base + i).map(_._2).getOrElse(0), 32)
      } else {
        val groups = windowGroups(fr.grouping)
        val win = fr.lines.head._1 / ShortLen
        val band = sfbShort(fr.lines.head._1 % ShortLen)
        require(fr.lines.forall(l => l._1 / ShortLen == win
          && sfbShort(l._1 % ShortLen) == band),
          "aac fixture: one coded (window, sfb) per short frame")
        val gIdx = groups.indexWhere(_.contains(win))
        groups.zipWithIndex.foreach { case (_, gi) =>
          if (gi == gIdx) sections(3, Seq((0, band), (cb, 1), (0, NumSfbShort - band - 1)))
          else sections(3, Seq((0, NumSfbShort)))
        }
        sfWrite(bw.put, fr.sfDelta)
        // spectral run: sfb width per window, window-interleaved inside
        // the group for the coded sfb
        val wins = groups(gIdx)
        val wid = sfbShortWidth(band)
        val buf = new Array[Int](wins.size * wid)
        // pulse / tns / gain_control presence (4.4.2.1 order); short TNS
        // codes one 1-bit n_filt per window — this fixture encoder puts
        // its single filter on the coded line's window
        require(fr.pulses.isEmpty, "aac: pulse_data forbidden on EIGHT_SHORT frames")
        bw.put(0, 1) // pulse_data_present
        if (fr.tns.nonEmpty) {
          require(fr.tns.size == 1, "aac fixture: short n_filt is 1 bit per window")
          bw.put(1, 1) // tns_data_present
          val codedWin = fr.lines.head._1 / ShortLen
          val (len, dir, coefs) = fr.tns.head
          require(len >= 0 && len < 16 && coefs.size <= 7,
            "aac fixture: short TNS length is 4 bits, order 3 bits (LC <= 7)")
          var w2 = 0
          while (w2 < 8) {
            if (w2 == codedWin) {
              bw.put(1, 1) // n_filt[w] = 1
              bw.put(1, 1) // coef_res = 1 -> 4-bit coefficients
              bw.put(len.toLong, 4)
              bw.put(coefs.size.toLong, 3)
              if (coefs.nonEmpty) {
                bw.put(dir.toLong, 1)
                bw.put(0, 1) // coef_compress
                coefs.foreach { c0 =>
                  require(c0 >= -8 && c0 <= 7, "aac fixture: TNS coef outside 4 bits")
                  bw.put((c0 & 0xf).toLong, 4)
                }
              }
            } else bw.put(0, 1)
            w2 += 1
          }
        } else bw.put(0, 1)
        bw.put(0, 1) // gain_control_data_present
        fr.lines.foreach { case (pos, v, _) =>
          buf(wins.indexOf(pos / ShortLen) * wid
            + pos % ShortLen - sfbShortStart(band)) = v
        }
        writeSpectralRun(bw, cb, buf(_), buf.length)
      }
  }

  /** The right channel of an intensity-stereo CPE: one band coded with
    * book 15 (in-phase) or 14 (out-of-phase), its dpcm_is_position
    * through the scalefactor codebook (chain seeded at zero), and NO
    * spectral data — the decoder reconstructs it from the left channel.
    */
  private def writeIcsIntensity(bw: MsbWriter, gg: Int,
                                band: Int, phase: Int, isPos: Int): Unit = {
    require(band >= 0 && band < NumSfb && isPos >= -60 && isPos <= 60)
    bw.put(gg.toLong, 8)
    val cb = if (phase > 0) 15 else 14
    def run(cbId: Int, len: Int): Unit = if (len > 0) {
      bw.put(cbId.toLong, 4)
      var rest = len
      while (rest >= 31) { bw.put(31, 5); rest -= 31 }
      bw.put(rest.toLong, 5)
    }
    run(0, band); run(cb, 1); run(0, NumSfb - band - 1)
    sfWrite(bw.put, isPos) // dpcm_is_position, chain seeded at 0
    bw.put(0, 1); bw.put(0, 1); bw.put(0, 1) // pulse / tns / gain flags
  }

  /** One PNS frame: a mono SCE whose single coded band is a NOISE band
    * (codebook 13) — no spectral data; noise_nrg rides its own dpcm
    * chain through the scalefactor codebook.
    */
  def encodePns(frames: Seq[(Int, Int, Int)]): Array[Byte] = { // (gg, band, nrg)
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach { case (gg, band, nrg) =>
      require(band >= 0 && band < NumSfb && nrg >= -60 && nrg <= 60)
      val bw = new MsbWriter
      bw.put(0, 3) // SCE
      bw.put(0, 4) // instance tag
      require(gg >= 0 && gg < 256)
      bw.put(gg.toLong, 8)
      bw.put(0, 1) // ics_reserved
      bw.put(0, 2) // ONLY_LONG
      bw.put(0, 1) // window_shape
      bw.put(NumSfb.toLong, 6)
      bw.put(0, 1) // predictor_data_present
      def run(cbId: Int, len: Int): Unit = if (len > 0) {
        bw.put(cbId.toLong, 4)
        var rest = len
        while (rest >= 31) { bw.put(31, 5); rest -= 31 }
        bw.put(rest.toLong, 5)
      }
      run(0, band); run(13, 1); run(0, NumSfb - band - 1)
      sfWrite(bw.put, nrg) // dpcm noise_nrg, chain seeded at 0
      bw.put(0, 1); bw.put(0, 1); bw.put(0, 1) // pulse / tns / gain flags
      bw.put(7, 3) // END
      writeAdts(out, bw.bytes(), channels = 1)
    }
    out.toByteArray
  }

  /** Wrap one raw_data_block body in an ADTS frame. */
  private def writeAdts(out: java.io.ByteArrayOutputStream, body: Array[Byte],
                        channels: Int, nRawBlocks: Int = 1,
                        crc: Boolean = false): Unit = {
    require(nRawBlocks >= 1 && nRawBlocks <= 4, "aac: 1..4 raw data blocks per frame")
    require(!crc || nRawBlocks == 1,
      "aac: CRC position tables for multi-block frames outside this profile")
    // ADTS header (protection_absent = 1 → 7 bytes; with CRC → 9)
    val hw = new MsbWriter
    hw.put(0xfff, 12) // syncword
    hw.put(0, 1) // MPEG-4
    hw.put(0, 2) // layer
    hw.put(if (crc) 0 else 1, 1) // protection_absent
    hw.put(1, 2) // profile: AAC-LC
    hw.put(4, 4) // sampling_frequency_index (44100)
    hw.put(0, 1) // private
    hw.put(channels.toLong, 3) // channel_configuration
    hw.put(0, 1); hw.put(0, 1) // original, home
    hw.put(0, 1); hw.put(0, 1) // copyright id bits
    val hdrLen = if (crc) 9 else 7
    hw.put((hdrLen + body.length).toLong, 13) // frame_length
    hw.put(0x7ff, 11) // buffer fullness (VBR)
    hw.put((nRawBlocks - 1).toLong, 2) // number_of_raw_data_blocks_in_frame - 1
    val hdr = hw.bytes()
    out.write(hdr, 0, hdr.length)
    if (crc) {
      val c = MpegAudio.crc16(
        MpegAudio.byteBits(hdr, 0, 7) ++ MpegAudio.byteBits(body, 0, body.length))
      out.write(c >> 8); out.write(c & 0xff)
    }
    out.write(body, 0, body.length)
  }

  def encode(frames: Seq[AacFrame], crc: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach { fr =>
      val bw = new MsbWriter
      // raw_data_block: SCE
      bw.put(0, 3) // id_syn_ele = SCE (0)
      bw.put(0, 4) // element_instance_tag
      writeIcs(bw, fr, includeInfo = true)
      bw.put(7, 3) // id_syn_ele = END
      writeAdts(out, bw.bytes(), channels = 1, crc = crc)
    }
    out.toByteArray
  }

  /** Mono ADTS with MULTIPLE raw_data_blocks per frame: each inner group
    * shares ONE ADTS header whose frame_length covers all its blocks;
    * every raw_data_block (SCE + END + byte alignment) is a full
    * 1024-sample audio frame.
    */
  def encodeGrouped(groups: Seq[Seq[AacFrame]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    groups.foreach { grp =>
      require(grp.nonEmpty && grp.size <= 4, "aac: 1..4 raw data blocks per frame")
      val body = new java.io.ByteArrayOutputStream()
      grp.foreach { fr =>
        val bw = new MsbWriter
        bw.put(0, 3) // id_syn_ele = SCE (0)
        bw.put(0, 4) // element_instance_tag
        writeIcs(bw, fr, includeInfo = true)
        bw.put(7, 3) // id_syn_ele = END
        val b = bw.bytes()
        body.write(b, 0, b.length)
      }
      writeAdts(out, body.toByteArray, channels = 1, nRawBlocks = grp.size)
    }
    out.toByteArray
  }

  /** One stereo CPE frame: `msMaskPresent` 0 (independent), 1 (per-band
    * ms_used bits from `msUsed(group, sfb)`), or 2 (all bands MS). Both
    * channels share the common_window ics_info (written from `left`).
    */
  final case class AacCpe(left: AacFrame, right: AacFrame,
                          msMaskPresent: Int = 0,
                          msUsed: (Int, Int) => Boolean = (_, _) => false,
                          // (band, phase +1/-1, is_pos): the right
                          // channel becomes a single intensity band
                          intensity: Option[(Int, Int, Int)] = None)

  /** Encode a stereo ADTS stream of channel_pair_elements with
    * common_window = 1 and the MS-stereo mask family.
    */
  def encodeCpe(frames: Seq[AacCpe]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach { cpe =>
      require(cpe.left.wseq == cpe.right.wseq &&
        cpe.left.grouping == cpe.right.grouping,
        "aac fixture: common_window needs matching window structure")
      require(cpe.msMaskPresent >= 0 && cpe.msMaskPresent <= 2)
      val bw = new MsbWriter
      bw.put(1, 3) // id_syn_ele = CPE (1)
      bw.put(0, 4) // element_instance_tag
      bw.put(1, 1) // common_window
      writeIcsInfo(bw, cpe.left)
      bw.put(cpe.msMaskPresent.toLong, 2)
      if (cpe.msMaskPresent == 1) {
        val nGroups = if (cpe.left.wseq == 2) windowGroups(cpe.left.grouping).size else 1
        val maxSfb = if (cpe.left.wseq == 2) NumSfbShort else NumSfb
        var g = 0
        while (g < nGroups) {
          var band = 0
          while (band < maxSfb) {
            bw.put(if (cpe.msUsed(g, band)) 1L else 0L, 1)
            band += 1
          }
          g += 1
        }
      }
      writeIcs(bw, cpe.left, includeInfo = false)
      cpe.intensity match {
        case Some((band, phase, isPos)) =>
          require(cpe.left.wseq != 2, "aac fixture: intensity fixture is long-window")
          writeIcsIntensity(bw, cpe.right.globalGain, band, phase, isPos)
        case None => writeIcs(bw, cpe.right, includeInfo = false)
      }
      bw.put(7, 3) // id_syn_ele = END
      writeAdts(out, bw.bytes(), channels = 2)
    }
    out.toByteArray
  }

  // ---- decode --------------------------------------------------------------------

  final case class AacPcm(nFrames: Int, pcm: Array[Long], channels: Int = 1)

  /** Parsed ics_info: window sequence, max_sfb, window groups. */
  private final case class IcsInfo(wseq: Int, maxSfb: Int, groups: Seq[Seq[Int]]) {
    def isShort: Boolean = wseq == 2
  }

  private def readIcsInfo(br: MsbReader): IcsInfo = {
    require(br.read(1) == 0, "aac: ics_reserved set")
    val wseq = br.read(2)
    val isShort = wseq == 2
    br.read(1) // window shape
    val maxSfb = if (isShort) br.read(4) else br.read(6)
    require(maxSfb <= (if (isShort) NumSfbShort else NumSfb),
      "aac: max_sfb beyond the band table")
    val groups =
      if (isShort) windowGroups(br.read(7))
      else {
        require(br.read(1) == 0, "aac: predictor data outside this profile")
        Seq(Seq(0))
      }
    IcsInfo(wseq, maxSfb, groups)
  }

  /** MS stereo (4.6.8.1): for masked (group, sfb) bands the transmitted
    * pair is (mid, side) and the channels reconstruct L = M+S, R = M−S —
    * AAC's butterfly is integer-exact by the spec itself (no scaling).
    */
  private def applyMs(l: Array[Long], r: Array[Long], info: IcsInfo,
                      used: (Int, Int) => Boolean): Unit = {
    var p = 0
    while (p < FrameLen) {
      val (g, band) =
        if (!info.isShort) (0, sfb(p))
        else {
          val win = p / ShortLen
          (info.groups.indexWhere(_.contains(win)), sfbShort(p % ShortLen))
        }
      if (band < info.maxSfb && used(g, band)) {
        val m = l(p)
        val s = r(p)
        l(p) = m + s
        r(p) = m - s
      }
      p += 1
    }
  }

  /** Pinned intensity-gain stand-in for the spec's 0.5^(is_pos/4)
    * curve: positive, deterministic in is_pos over the legal −60..60
    * dpcm domain (the MpegAudio discipline).
    */
  private[operators] def aacIsGain(p: Int): Long = 1 + ((3 * (p + 60)) % 11)

  /** Pinned PNS stand-ins (4.6.13): the spec lets every decoder choose
    * its own noise generator, which is exactly what an oracle-exact
    * engine cannot leave open — so the per-line noise VALUES are a
    * documented deterministic map of (band, line), and the noise_nrg
    * scaling curve is a pinned positive integer map of the decoded
    * energy (the MpegAudio discipline).
    */
  private[operators] def aacPnsNoise(band: Int, line: Int): Long =
    ((1103515245L * (line + 7L * band + 13) + 12345L) >> 4) % 17 - 8
  private[operators] def aacPnsGain(nrg: Int): Long = 1 + ((5 * (nrg + 60)) % 13)

  /** Intensity stereo (4.6.8.2): bands the right channel codes with
    * books 14/15 carry no spectra — they reconstruct from the LEFT
    * channel scaled by the pinned is_pos gain, in-phase (book 15) or
    * out-of-phase (14), INVERTED where ms_used is set (the 4.6.8.2.3
    * interplay; those bands are excluded from the MS butterfly).
    */
  private def applyIntensity(l: Array[Long], r: Array[Long], info: IcsInfo,
                             bands: Seq[(Int, Int, Int, Int)],
                             used: (Int, Int) => Boolean): Unit =
    bands.foreach { case (g, band, phase, isPos) =>
      val ph = if (used(g, band)) -phase else phase
      val gain = aacIsGain(isPos)
      if (!info.isShort) {
        var p = band * 32
        while (p < (band + 1) * 32) { r(p) = l(p) * ph * gain; p += 1 }
      } else info.groups(g).foreach { win =>
        var i = sfbShortStart(band)
        while (i < sfbShortStart(band) + sfbShortWidth(band)) {
          val p = win * ShortLen + i
          r(p) = l(p) * ph * gain
          i += 1
        }
      }
    }

  /** One individual_channel_stream: global_gain, ics_info unless the
    * CPE common_window supplied it, sections, scalefactors, presence
    * flags (+TNS), spectral data; returns the requantized (and
    * TNS-filtered) spectrum with the info actually in force.
    */
  private def readIcs(br: MsbReader,
                      common: Option[IcsInfo],
                      cpeSecond: Boolean = false)
      : (IcsInfo, Array[Long], Seq[(Int, Int, Int, Int)]) = {
      val globalGain = br.read(8)
      val info = common.getOrElse(readIcsInfo(br))
      val wseq = info.wseq
      val isShort = info.isShort
      val maxSfb = info.maxSfb
      val groups = info.groups
      val nGroups = groups.size
      // section_data (3-bit lengths for short windows, 5-bit for long)
      val sectBits = if (isShort) 3 else 5
      val sectEsc = (1 << sectBits) - 1
      val sfbCb = Array.ofDim[Int](nGroups, maxSfb)
      var g = 0
      while (g < nGroups) {
        var band = 0
        while (band < maxSfb) {
          val cb = br.read(4)
          require(cb <= 11 || cb == 13 || (cpeSecond && cb >= 14),
            "aac: reserved codebook 12 outside this profile (intensity is CPE-right only)")
          var len = 0
          var chunk = br.read(sectBits)
          while (chunk == sectEsc) { len += sectEsc; chunk = br.read(sectBits) }
          len += chunk
          require(len > 0 && band + len <= maxSfb, "aac: section overruns max_sfb")
          var i = 0
          while (i < len) { sfbCb(g)(band + i) = cb; i += 1 }
          band += len
        }
        g += 1
      }
      // scale_factor_data (DPCM from global_gain, chained across groups);
      // intensity bands (books 14/15) ride their OWN dpcm_is_position
      // chain initialized to zero (4.6.2.3)
      val sf = Array.ofDim[Int](nGroups, maxSfb)
      val isBands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      val pnsBands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var last = globalGain
      var isLast = 0
      var nrgLast = 0
      g = 0
      while (g < nGroups) {
        var band = 0
        while (band < maxSfb) {
          val cbHere = sfbCb(g)(band)
          if (cbHere == 13) {
            // PNS: noise_nrg rides its own dpcm chain (seeded at zero)
            nrgLast += sfRead(br)
            require(nrgLast >= -60 && nrgLast <= 60, "aac: noise_nrg out of range")
            pnsBands += ((g, band, nrgLast))
          } else if (cbHere >= 14) {
            isLast += sfRead(br)
            require(isLast >= -60 && isLast <= 60, "aac: is_position out of range")
            isBands += ((g, band, if (cbHere == 15) 1 else -1, isLast))
          } else if (cbHere != 0) {
            last += sfRead(br)
            require(last >= 0 && last < 256, "aac: scalefactor out of range")
            sf(g)(band) = last
          }
          band += 1
        }
        g += 1
      }
      // pulse / tns / gain_control presence flags (4.4.2.1: they sit
      // between scale_factor_data and spectral_data)
      val pulses: Seq[(Int, Int)] =
        if (br.read(1) == 1) {
          // pulse_data (4.4.2.7): long windows only; line positions chain
          // additively from the start band's first line; amplitudes apply
          // to the QUANTIZED values before requantization
          require(!isShort, "aac: pulse_data on an EIGHT_SHORT frame")
          val nPulse = br.read(2) + 1
          val startSfb = br.read(6)
          require(startSfb < NumSfb, "aac: pulse_start_sfb out of range")
          var k = startSfb * 32
          (0 until nPulse).map { _ =>
            k += br.read(5)
            val amp = br.read(4)
            require(k < FrameLen, "aac: pulse beyond the spectrum")
            (k, amp)
          }
        } else Nil
      val tnsFilters: Seq[(Int, Int, Int, Array[Int])] =
        if (br.read(1) == 1) {
          if (isShort) {
            // short-window TNS: one 1-bit n_filt per window, 4-bit
            // length in SHORT band units, 3-bit order (LC bound 7);
            // each filter's region lives inside its window's 128 lines
            val fs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Int])]
            var w = 0
            while (w < 8) {
              if (br.read(1) == 1) {
                val res = br.read(1)
                val len = br.read(4)
                val order = br.read(3)
                require(order <= 7, "aac: short TNS order beyond the LC limit")
                val top = math.min(maxSfb, NumSfbShort)
                val bottom = math.max(0, top - len)
                if (order > 0) {
                  val dirDown = br.read(1)
                  val compress = br.read(1)
                  val bits = res + 3 - compress
                  val coefs = Array.fill(order) {
                    val raw = br.read(bits)
                    if (raw >= (1 << (bits - 1))) raw - (1 << bits) else raw
                  }
                  fs += ((w * ShortLen + tnsShortLine(bottom),
                    w * ShortLen + tnsShortLine(top), dirDown, coefs))
                }
              }
              w += 1
            }
            fs.toSeq
          } else {
          val nFilt = br.read(2)
          val res = if (nFilt > 0) br.read(1) else 0
          var top = maxSfb
          val fs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Array[Int])]
          var fi = 0
          while (fi < nFilt) {
            val len = br.read(6)
            val order = br.read(5)
            require(order <= 12, "aac: TNS order beyond the LC limit")
            val bottom = math.max(0, top - len)
            if (order > 0) {
              val dirDown = br.read(1)
              val compress = br.read(1)
              val bits = res + 3 - compress
              // two's-complement coefficients; the sin-table inverse
              // quantization + reflection->direct-form recursion is
              // collapsed into a PINNED identity map (object doc)
              val coefs = Array.fill(order) {
                val raw = br.read(bits)
                if (raw >= (1 << (bits - 1))) raw - (1 << bits) else raw
              }
              fs += ((bottom * 32, math.min(top, NumSfb) * 32, dirDown, coefs))
            }
            top = bottom
            fi += 1
          }
          fs.toSeq
          }
        } else Nil
      require(br.read(1) == 0, "aac: gain_control_data outside this profile")
      // spectral_data: spec layout is win*128 + line for short frames
      // (line within window), plain 0..1023 for long
      val spec = new Array[Long](FrameLen)
      def readRun(cb: Int, n: Int): Array[Int] = {
        val book = specBooks(cb - 1)
        val t = book.tuple
        require(n % t == 0, "aac: section width not a tuple multiple")
        val out = new Array[Int](n)
        var offC = 0
        while (offC < n) {
          val vals = book.symVals(book.read(br))
          val negs = new Array[Boolean](t)
          // spec order: codeword, then one sign bit per nonzero member,
          // then the escape sequences (book 11) in member order
          var i = 0
          while (i < t) {
            if (!book.signed && vals(i) != 0) negs(i) = br.read(1) == 1
            i += 1
          }
          i = 0
          while (i < t) {
            if (book.signed) out(offC + i) = vals(i)
            else {
              var a = vals(i)
              if (cb == 11 && a == 16) {
                var n2 = 0
                while (br.read(1) == 1) { n2 += 1; require(n2 < 16, "aac: runaway escape") }
                a = (1 << (n2 + 4)) + br.read(n2 + 4)
              }
              out(offC + i) = if (negs(i)) -a else a
            }
            i += 1
          }
          offC += t
        }
        out
      }
      // long frames hold the QUANTIZED values first: pulse_data adds its
      // amplitudes in the quantized domain (sign-matched, zero lines go
      // negative) before requantization
      val qLong = if (!isShort) new Array[Int](FrameLen) else null
      g = 0
      while (g < nGroups) {
        var band = 0
        while (band < maxSfb) {
          val cb = sfbCb(g)(band)
          if (cb >= 1 && cb <= 11) {
            val gain = aacGain(sf(g)(band))
            if (!isShort) {
              val run = readRun(cb, 32)
              var i = 0
              while (i < 32) { qLong(band * 32 + i) = run(i); i += 1 }
            } else {
              val wins = groups(g)
              val wid = sfbShortWidth(band)
              val run = readRun(cb, wins.size * wid)
              var i = 0
              while (i < run.length) {
                val v = run(i)
                if (v != 0) {
                  val mag = aacPow43(math.abs(v)) * gain
                  val pos = wins(i / wid) * ShortLen + sfbShortStart(band) + i % wid
                  spec(pos) = if (v < 0) -mag else mag
                }
                i += 1
              }
            }
          }
          band += 1
        }
        g += 1
      }
      if (!isShort) {
        pulses.foreach { case (k, amp) =>
          val b = k / 32
          require(b < maxSfb && sfbCb(0)(b) >= 1 && sfbCb(0)(b) <= 11,
            "aac: pulse outside a spectral (codebook 1..11) section")
          if (qLong(k) > 0) qLong(k) += amp else qLong(k) -= amp
        }
        var pb = 0
        while (pb < maxSfb) {
          if (sfbCb(0)(pb) >= 1 && sfbCb(0)(pb) <= 11) {
            val gain = aacGain(sf(0)(pb))
            var i = pb * 32
            while (i < pb * 32 + 32) {
              val v = qLong(i)
              if (v != 0) {
                val mag = aacPow43(math.abs(v)) * gain
                spec(i) = if (v < 0) -mag else mag
              }
              i += 1
            }
          }
          pb += 1
        }
      }
      // PNS substitution (4.6.13): fill the noise bands from the pinned
      // generator scaled by the decoded energy — BEFORE TNS, which
      // filters whatever spectrum is in force
      pnsBands.foreach { case (g, band, nrg) =>
        val gain = aacPnsGain(nrg)
        if (!isShort) {
          var p = band * 32
          while (p < (band + 1) * 32) { spec(p) = aacPnsNoise(band, p) * gain; p += 1 }
        } else groups(g).foreach { win =>
          var i = sfbShortStart(band)
          while (i < sfbShortStart(band) + sfbShortWidth(band)) {
            val p = win * ShortLen + i
            spec(p) = aacPnsNoise(band, p) * gain
            i += 1
          }
        }
      }
      // TNS (4.6.9): all-pole synthesis over each filter's spectral
      // region — the spec's noise-shaping inverse. Filter state is
      // bounded at the region edge (zero history outside), direction 1
      // runs the recursion downward in frequency. Integer-exact: the
      // pinned coefficient map keeps every line a Long.
      tnsFilters.foreach { case (start, end, dirDown, a) =>
        if (dirDown == 0) {
          var n = start
          while (n < end) {
            var acc = 0L
            var j = 1
            while (j <= a.length) {
              if (n - j >= start) acc += a(j - 1) * spec(n - j)
              j += 1
            }
            spec(n) -= acc
            n += 1
          }
        } else {
          var n = end - 1
          while (n >= start) {
            var acc = 0L
            var j = 1
            while (j <= a.length) {
              if (n + j < end) acc += a(j - 1) * spec(n + j)
              j += 1
            }
            spec(n) -= acc
            n -= 1
          }
        }
      }
      (info, spec, isBands.toSeq)
  }

  /** Filterbank: long = one 2048-point IMDCT; short = eight 256-point
    * IMDCTs windowed and placed at 448 + 128w. Both paths accumulate
    * over nonzero lines only (exact); the caller overlap-adds.
    */
  private def filterbank(spec: Array[Long], wseq: Int): Array[Long] = {
    val buf = new Array[Long](2 * FrameLen)
    if (wseq != 2) {
      var k = 0
      while (k < FrameLen) {
        if (spec(k) != 0) {
          var p = 0
          while (p < 2 * FrameLen) {
            buf(p) += spec(k) * aacCos(p, k) * aacWinSeq(wseq, p)
            p += 1
          }
        }
        k += 1
      }
    } else {
      var wdx = 0
      while (wdx < 8) {
        var k = 0
        while (k < ShortLen) {
          val s0 = spec(wdx * ShortLen + k)
          if (s0 != 0) {
            var p = 0
            while (p < 2 * ShortLen) {
              buf(ShortOffset + ShortLen * wdx + p) += s0 * aacCosS(p, k) * aacWinS(p)
              p += 1
            }
          }
          k += 1
        }
        wdx += 1
      }
    }
    buf
  }

  def decode(bytes: Array[Byte]): AacPcm = {
    var off = 0
    var nFrames = 0
    var channels = 0
    var overlaps: Array[Array[Long]] = null
    val pcmOut = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (off < bytes.length) {
      val br = new MsbReader(bytes, off, bytes.length, "aac", "bitstream truncated")
      require(br.read(12) == 0xfff, "aac: lost ADTS sync")
      br.read(1) // version
      require(br.read(2) == 0, "aac: nonzero layer bits")
      val protAbsent = br.read(1) == 1 // 0 = crc_check present
      require(br.read(2) == 1, "aac: profile must be LC")
      br.read(4) // sampling frequency index
      br.read(1) // private
      val chCfg = br.read(3)
      require(chCfg == 1 || chCfg == 2,
        "aac: channel configurations beyond mono/stereo outside this profile")
      br.read(1); br.read(1); br.read(1); br.read(1)
      val frameLen = br.read(13)
      require(off + frameLen <= bytes.length, "aac: ADTS frame runs past the stream")
      br.read(11) // buffer fullness
      val nRaw = br.read(2) // number_of_raw_data_blocks_in_frame - 1... + 1 below
      if (!protAbsent) {
        // adts_error_check: a 16-bit crc_check after the 7-byte header.
        // The CRC itself is the REAL ISO polynomial (x^16+x^15+x^2+1,
        // all-ones init, shared with the Layer III error_check); the
        // COVERED REGION is pinned to header + raw data bytes (the
        // spec's per-block position-table scheme is why multi-block
        // protected frames stay rejected below).
        require(nRaw == 0,
          "aac: CRC position tables for multi-block frames outside this profile")
        val crcField = br.read(16)
        require(off + 9 <= off + frameLen, "aac: protected frame shorter than its CRC")
        val computed = MpegAudio.crc16(
          MpegAudio.byteBits(bytes, off, off + 7) ++
            MpegAudio.byteBits(bytes, off + 9, off + frameLen))
        require(computed == crcField,
          s"aac: ADTS CRC mismatch (header $crcField, computed $computed)")
      }
      require(channels == 0 || channels == chCfg,
        "aac: mixed channel configurations in one stream")
      channels = chCfg
      if (overlaps == null) overlaps = Array.ofDim[Long](chCfg, FrameLen)
      // 1 + number_of_raw_data_blocks_in_frame raw_data_blocks share this
      // ADTS header (each is one 1024-sample block: SCE/CPE, END, byte
      // alignment), the 13-bit frame_length covering them all
      var rawBlk = 0
      while (rawBlk <= nRaw) {
      // raw_data_block: SCE (mono) or CPE (stereo)
      val id = br.read(3)
      val streams: Array[(IcsInfo, Array[Long])] =
        if (chCfg == 1) {
          require(id == 0, "aac: expected a single_channel_element")
          br.read(4) // instance tag
          val (i1, s1, _) = readIcs(br, None)
          Array((i1, s1))
        } else {
          require(id == 1, "aac: expected a channel_pair_element")
          br.read(4) // instance tag
          if (br.read(1) == 1) { // common_window
            val info = readIcsInfo(br)
            val msMask = br.read(2)
            require(msMask <= 2, "aac: reserved ms_mask_present value")
            val used: (Int, Int) => Boolean =
              if (msMask == 1) {
                val bits = Array.ofDim[Boolean](info.groups.size, info.maxSfb)
                var g = 0
                while (g < info.groups.size) {
                  var band = 0
                  while (band < info.maxSfb) {
                    bits(g)(band) = br.read(1) == 1
                    band += 1
                  }
                  g += 1
                }
                (g2, b2) => bits(g2)(b2)
              } else if (msMask == 2) (_, _) => true
              else (_, _) => false
            val (_, l, _) = readIcs(br, Some(info))
            val (_, r, isBands) = readIcs(br, Some(info), cpeSecond = true)
            val isSet = isBands.map(ib => (ib._1, ib._2)).toSet
            if (msMask != 0)
              applyMs(l, r, info, (g2, b2) => used(g2, b2) && !isSet((g2, b2)))
            applyIntensity(l, r, info, isBands, used)
            Array((info, l), (info, r))
          } else {
            // independent windows: each channel carries its own ics_info
            val (iL, sL, _) = readIcs(br, None)
            val (iR, sR, isBands) = readIcs(br, None, cpeSecond = true)
            applyIntensity(sL, sR, iR, isBands, (_, _) => false)
            Array((iL, sL), (iR, sR))
          }
        }
      require(br.read(3) == 7, "aac: missing END element")
      br.alignByte()
      // filterbank per channel, overlap-add, sample-major interleave
      val bufs = streams.map { case (info, spec) => filterbank(spec, info.wseq) }
      var p = 0
      while (p < FrameLen) {
        var ch = 0
        while (ch < chCfg) {
          pcmOut += bufs(ch)(p) + overlaps(ch)(p)
          overlaps(ch)(p) = bufs(ch)(FrameLen + p)
          ch += 1
        }
        p += 1
      }
      nFrames += 1
      rawBlk += 1
      }
      require(br.bytePos == off + frameLen,
        s"aac: frame content (${br.bytePos - off} bytes) disagrees with frame_length $frameLen")
      off += frameLen
    }
    require(nFrames > 0, "aac: empty stream")
    AacPcm(nFrames, pcmOut.toArray, channels)
  }
}
