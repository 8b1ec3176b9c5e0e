package graft.operators

import graft.operators.Bits.{MsbReader, MsbWriter}

/** MPEG-1 Audio Layer I/II/III decoder (ISO/IEC 11172-3) in pure JDK —
  * the PERCEPTUAL rungs of the lossy-audio ladder: the waveform rungs
  * (G.711, IMA/MS ADPCM) code the time-domain signal directly, while web
  * audio is overwhelmingly frequency-domain coded (MP3/AAC). Layer I/II
  * implement the subband layer; Layer III (MP3 proper) adds the
  * Huffman/MDCT stage on top of the shared framing and the 32-band
  * polyphase synthesis filterbank (side info, scfsi scalefactor reuse,
  * region-selected big-value Huffman with ESC/linbits, the count1
  * region bounded by part2_3_length, requantization, alias-reduction
  * butterflies, the 36-point IMDCT with cross-frame overlap-add, and
  * frequency inversion — see the Layer III section below for the
  * pinned-constants statement).
  *
  * What is implemented is the ISO DECODE STRUCTURE, end to end:
  *
  *  - frame parsing: the 32-bit header (11-bit sync, MPEG-1 version
  *    bits, layer bits, bitrate index, sample-rate index, padding, mode)
  *    with FREE-FORMAT framing (bitrate index 0 — spec-legal: frame
  *    length is implied by content, which these fixtures size exactly);
  *  - Layer I side info: 4-bit bit allocation per subband, one 6-bit
  *    scalefactor per allocated subband, 12 granules × 32 subbands of
  *    `nb`-bit sample codes;
  *  - Layer II side info: subband-dependent allocation field widths
  *    (4 bits below sb 11, 3 below 23, 2 to the 30-band limit), the
  *    scale-factor-select (scfsi) machinery sharing 1–3 scalefactors
  *    across the frame's three 12-granule parts (patterns 0=three,
  *    1=(0,1)+2, 2=one, 3=0+(1,2)), per-class GROUPED sample codes
  *    (3/5/9-level quantizers pack three samples into one 5/7/10-bit
  *    code c via s_i = (c / n^i) mod n) and ungrouped codes;
  *  - symmetric mid-tread requantization with the spec's level counts
  *    n = 2^k − 1: numerator 2·raw + 1 − n (zero at the center code);
  *  - the 32-band polyphase SYNTHESIS FILTERBANK structure: per granule
  *    a 64-point matrixing of the 32 subband samples, a 1024-entry V
  *    FIFO shifted by 64, the spec's U selection (U[j·64+i] = V[j·128+i],
  *    U[j·64+32+i] = V[j·128+96+i]) and the 512-tap windowed sum
  *    producing 32 PCM samples.
  *
  * PINNED CONSTANTS, stated honestly (the [[Vp8Codec]] discipline): the
  * spec's out-of-band numeric tables — the cosine matrixing
  * N[i][k] = cos((16+i)(2k+1)π/64), the synthesis window D, and the
  * scalefactor exponents — are replaced by documented INTEGER
  * implementation tables (closed-form formulas below), and the final
  * PCM scaling/clip stage is omitted, so every output sample is an
  * exact integer function of the bitstream and the whole chain is
  * engine-replayable. Swapping the pinned tables for the ISO values and
  * adding the float scaling is a constants-only change. Everything
  * STRUCTURAL — framing, allocation, scfsi, grouping, requantization,
  * FIFO/matrix/window indexing — follows the spec.
  */
object MpegAudio {

  // ---- pinned integer tables (documented implementation values) -----------

  /** Matrixing table stand-in for cos((16+i)(2k+1)π/64), i ∈ 0..63,
    * k ∈ 0..31: varied, sign-mixed, bounded |N| ≤ 15. Precomputed once —
    * the formula sits inside the 64×32 matrixing loop of every synthesis
    * granule, where a per-element integer modulo is measurable (jstack
    * sampling put Synth.granule at ~9% of the MP3 decode wall); the array
    * holds the identical pinned values.
    */
  private[this] val nTabArr: Array[Long] =
    Array.tabulate(64 * 32)(x => ((11 * (x >> 5) + 23 * (x & 31) + 7) % 31) - 15L)
  // multiply (not (i << 5) | k): an out-of-range k then overflows past the
  // row and throws instead of OR-aliasing to a wrong in-range entry
  private[operators] def nTab(i: Int, k: Int): Long = nTabArr(i * 32 + k)

  /** Synthesis window stand-in for the 512-tap D table: |D| ≤ 14.
    * Precomputed for the same reason as [[nTab]] (512-tap windowed sum).
    */
  private[this] val dTabArr: Array[Long] =
    Array.tabulate(512)(x => ((7 * x + 13) % 29) - 14L)
  private[operators] def dTab(x: Int): Long = dTabArr(x)

  /** Integer scalefactor table (6-bit index), all positive. */
  private[this] val sfTabArr: Array[Long] = Array.tabulate(64)(i => 1 + ((3L * i) % 13))
  private[operators] def sfTab(idx: Int): Long = sfTabArr(idx)

  // Layer II allocation field widths by subband (spec table-A SHAPE)
  private[operators] def l2AllocBits(sb: Int): Int =
    if (sb < 11) 4 else if (sb < 23) 3 else 2
  private[operators] val L2SbLimit = 30

  /** Layer II quantization classes by allocation value: level count n
    * (odd, mid-tread), grouped flag, and code bits (per triplet when
    * grouped, per sample otherwise). Class 1..15; the spec's 3/5/9
    * grouping and 2^k−1 ladder.
    */
  private[operators] def l2Class(alloc: Int): (Int, Boolean, Int) = alloc match {
    case 1 => (3, true, 5)
    case 2 => (5, true, 7)
    case 3 => (7, false, 3)
    case 4 => (9, true, 10)
    case n => val k = n; ((1 << k) - 1, false, k) // 5..15 → 31..32767 levels
  }

  /** Mid-tread requantization numerator: zero at the center code. */
  private def dequant(raw: Int, n: Int): Long = 2L * raw + 1L - n

  // ---- Layer III pinned tables (documented implementation values) ----------
  //
  // Layer III adds the Huffman/MDCT stage on top of the I/II framing and
  // polyphase synthesis. The spec's out-of-band numeric tables — the 32
  // big-value Huffman code tables, the count1 tables, the scalefactor-band
  // boundaries, slen split, pretab, the x^(4/3)/2^(gain/4) requantization
  // curves, the alias-reduction cs/ca coefficients, and the 36-point IMDCT
  // cosines and window — are replaced by documented INTEGER implementation
  // tables (closed-form formulas below, plus a deterministic canonical
  // Huffman construction), so every PCM sample is an exact integer function
  // of the bitstream. Everything STRUCTURAL — side info layout, scfsi
  // scalefactor reuse across the frame's two granules, slen1/slen2 band
  // split, the three big-value regions with per-region table select,
  // ESC+linbits codes, sign bits, the count1 quadruple region bounded by
  // part2_3_length (with stuffing-bit skip and overrun discard), alias
  // butterflies across the 31 subband boundaries, IMDCT overlap-add
  // carried across granules AND frames, and frequency inversion — follows
  // ISO/IEC 11172-3 §2.4.

  /** Scalefactor band of a spectral line: 22 long bands of width 26 (the
    * last absorbs the remainder to 576) — the spec SHAPE (band count and
    * a nondecreasing-width partition of the 576 lines) with pinned
    * boundaries.
    */
  private[operators] def l3Band(line: Int): Int = math.min(line / 26, 21)

  /** slen split of the 4-bit scalefac_compress (spec shape: one field
    * yields two scalefactor code lengths; bands 0..10 use slen1,
    * 11..20 slen2, band 21 carries no scalefactor).
    */
  private[operators] def l3Slen1(sc: Int): Int = sc >> 2
  private[operators] def l3Slen2(sc: Int): Int = sc & 3

  /** ISO 11172-3 2.4.3.1 CRC-16 (generator x^16 + x^15 + x^2 + 1,
    * initial state all-ones) over a bit sequence — the error_check CRC
    * covers the 16 header bits after the protection bit plus the side
    * information.
    */
  private[operators] def crc16(bits: Iterator[Int]): Int = {
    var crc = 0xffff
    bits.foreach { b =>
      val fb = ((crc >> 15) & 1) ^ (b & 1)
      crc = (crc << 1) & 0xffff
      if (fb == 1) crc ^= 0x8005
    }
    crc
  }

  /** Bits of `bytes[from until until)` MSB-first. */
  private[operators] def byteBits(bytes: Array[Byte], from: Int, until: Int): Iterator[Int] =
    (from until until).iterator.flatMap(i =>
      (7 to 0 by -1).iterator.map(bit => (bytes(i) >> bit) & 1))

  /** MPEG-1 Layer III bitrates (kbps) by header index (spec Table B.2);
    * index 0 is free format, 15 is forbidden. Fixed-rate frames span
    * floor(144 * bitrate / 44100) + padding bytes — the framing that
    * makes the bit reservoir addressable.
    */
  private[operators] val l3BitrateKbps = Array(0, 32, 40, 48, 56, 64, 80,
    96, 112, 128, 160, 192, 224, 256, 320)

  /** scfsi band groups (spec: 0-5, 6-10, 11-15, 16-20). */
  private[operators] def l3ScfsiGroup(band: Int): Int =
    if (band < 6) 0 else if (band < 11) 1 else if (band < 16) 2 else 3

  /** Pinned pretab (spec shape: per-band additive scalefactor bias
    * enabled by preflag).
    */
  private[operators] def l3PreTab(band: Int): Int = if (band > 20) 0 else band % 3

  /** Pinned stand-in for |x|^(4/3): monotone, zero at zero. */
  private[operators] def l3Pow43(a: Int): Long = a.toLong * (a + 2)

  /** Pinned stand-in for the 2^((global_gain-210)/4) gain curve. */
  private[operators] def l3Gain(gg: Int): Long = 1 + gg % 9

  /** Pinned stand-in for the 2^(-(1+scalefac_scale)·scalefac) attenuation:
    * multiplicative, driven by the decoded scalefactor (plus pretab) and
    * the scalefac_scale flag exactly as the spec's exponent is.
    */
  private[operators] def l3SfAtt(sf: Int, scale: Int): Long =
    1 + ((3L * sf * (1 + scale)) % 11)

  /** Pinned alias-reduction butterfly coefficients (spec shape: 8
    * cs/ca pairs applied across every subband boundary).
    */
  private[operators] def l3Cs(i: Int): Long = 2 + i % 3
  private[operators] def l3Ca(i: Int): Long = 1 + i % 2

  /** Pinned 36-point IMDCT cosine stand-in (p ∈ 0..35, k ∈ 0..17).
    * Tabulated at object init (the nTab/dTab discipline): the formula is
    * evaluated 648x per non-zero long subband inside the IMDCT loop, and
    * the modulo costs more than the multiply-accumulate it feeds. Indexed
    * p * 18 + k so an out-of-range k overflows the array and throws
    * instead of aliasing to a wrong in-range entry.
    */
  private val l3CosArr: Array[Long] = Array.tabulate(36 * 18) { x =>
    val p = x / 18; val k = x % 18; ((7 * p + 11 * k + 3) % 23) - 11L
  }
  private[operators] def l3Cos(p: Int, k: Int): Long = l3CosArr(p * 18 + k)

  /** Pinned 12-point short-block IMDCT cosine / window stand-ins
    * (block_type 2: three short windows per granule per subband).
    * Same tabulation as [[l3Cos]] (72 / 12 pinned values).
    */
  private val l3CosSArr: Array[Long] = Array.tabulate(12 * 6) { x =>
    val p = x / 6; val k = x % 6; ((19 * p + 7 * k + 3) % 17) - 8L
  }
  private[operators] def l3CosS(p: Int, k: Int): Long = l3CosSArr(p * 6 + k)
  private val l3WinSArr: Array[Long] =
    Array.tabulate(12)(p => 1 + (5L * p) % 11)
  private[operators] def l3WinS(p: Int): Long = l3WinSArr(p)

  /** Long-class 36-point window by block_type — 0 normal, 1 START
    * (long first half, flat middle, descending short half, ZEROS), 3
    * STOP (mirrored). Pinned values, the spec's piecewise transition
    * STRUCTURE: the zero regions make the block type value-visible.
    */
  private[operators] def l3WinSeq(bt: Int, p: Int): Long =
    l3WinSeqArr((if (bt == 0 || bt == 1) bt else 2) * 36 + p)
  // tabulated per block-type row (0 normal, 1 START, row 2 = the match's
  // default arm, i.e. STOP and anything else) — evaluated 36x per
  // non-zero long subband in the IMDCT loop
  private val l3WinSeqArr: Array[Long] = Array.tabulate(3 * 36) { x =>
    val bt = x / 36; val p = x % 36
    bt match {
      case 0 => l3Win(p)
      case 1 =>
        if (p < 18) l3Win(p)
        else if (p < 24) 7
        else if (p < 30) l3WinS(11 - (p - 24))
        else 0
      case _ =>
        if (p < 6) 0
        else if (p < 12) l3WinS(p - 6)
        else if (p < 18) 7
        else l3Win(p)
    }
  }

  /** Pinned subblock_gain attenuation (spec: 2^(-2·gain) per short
    * window; multiplicative stand-in).
    */
  private[operators] def l3SubGain(g: Int): Long = 1 + (5L * g) % 7

  /** Region of a WINDOW-SWITCHING granule's (transmitted) line: only two
    * table_selects are coded, and the counts are implicit — pinned here
    * as a line-96 split for short granules and a band-7 split for the
    * long-class transitions (the spec's implicit-region structure with
    * pinned boundary values).
    */
  private[operators] def l3RegionSwitch(bt: Int, line: Int): Int =
    if (bt == 2) { if (line < 96) 0 else 1 }
    else if (l3Band(line) <= 7) 0 else 1

  /** Short-block layout (pinned): 12 scalefactor bands of width 16 per
    * window; TRANSMITTED order is band-major then window
    * (t = band·48 + window·16 + line), and the unreordered spectral slot
    * interleaves windows inside each polyphase subband
    * (slot = subband·18 + window·6 + line-in-subband) — the spec's
    * short-block REORDERING, which the decoder must invert before the
    * filterbank.
    */
  private[operators] def l3ShortBand(t: Int): Int = t / 48
  private[operators] def l3ShortWin(t: Int): Int = (t % 48) / 16
  private[operators] def l3ShortSlot(t: Int): Int = {
    val f = 16 * (t / 48) + t % 16
    (f / 6) * 18 + ((t % 48) / 16) * 6 + f % 6
  }

  /** Mixed-block layout (pinned): the two lowest polyphase subbands
    * (slots 0..35) stay LONG-processed while subbands 2..31 run short
    * windows — the spec's mixed_block_flag structure on this codec's
    * pinned geometry. Transmitted order: the 36 long lines first in
    * natural order, then the short region band-major-then-window over
    * per-window frequency lines f = 6·sb + line >= 12, where the
    * 16-wide pinned short band 0 contributes only its f 12..15 tail
    * (4 lines per window) and bands 1..11 their full 16. Returns
    * (band, window, f) for a transmitted position >= 36.
    */
  private[operators] def l3MixedShort(pos: Int): (Int, Int, Int) = {
    val t = pos - 36
    if (t < 12) (0, t / 4, 12 + t % 4)
    else {
      val u = t - 12
      (1 + u / 48, (u % 48) / 16, 16 * (1 + u / 48) + u % 16)
    }
  }

  /** Pinned long-block (block_type 0) window. */
  private[operators] def l3Win(p: Int): Long = 1 + ((5 * p + 2) % 9)

  /** Big-value table dimensions: tables 0..15 are plain (x, y) tables of
    * side 2..16; tables 16..31 are 16×16 ESC tables where x or y = 15
    * carries linbits extension bits (spec structure).
    */
  private[operators] def l3Dims(t: Int): Int = if (t >= 16) 16 else 2 + t % 15
  private[operators] def l3Linbits(t: Int): Int = if (t >= 16) 1 + t % 6 else 0

  /** Region of a spectral line given the side info region counts: the
    * spec maps region0_count/region1_count through the scalefactor-band
    * boundaries to line positions.
    */
  private[operators] def l3Region(line: Int, r0c: Int, r1c: Int): Int = {
    val r0end = 26 * (r0c + 1)
    val r1end = 26 * (r0c + 1 + r1c + 1)
    if (line < r0end) 0 else if (line < r1end) 1 else 2
  }

  /** Deterministic canonical Huffman code over weighted symbols: ties
    * broken by smallest contained symbol, canonical assignment by
    * (length, symbol). Both coder directions share the construction, so
    * the code family is self-consistent by construction.
    */
  private[operators] def canonicalCode(weights: Array[Long]): (Array[Int], Array[Int]) = {
    val n = weights.length
    require(n >= 2, "huffman: need at least two symbols")
    final case class Node(w: Long, minSym: Int, syms: List[Int])
    var nodes = weights.zipWithIndex
      .map { case (w, s) => Node(w, s, List(s)) }
      .sortBy(nd => (nd.w, nd.minSym))
      .toList
    val depth = new Array[Int](n)
    while (nodes.length > 1) {
      val a :: b :: rest = nodes: @unchecked
      (a.syms ++ b.syms).foreach(s => depth(s) += 1)
      val merged = Node(a.w + b.w, math.min(a.minSym, b.minSym), a.syms ++ b.syms)
      nodes = (merged :: rest).sortBy(nd => (nd.w, nd.minSym))
    }
    // canonical codes: symbols ordered by (length, symbol)
    val order = (0 until n).sortBy(s => (depth(s), s))
    val codes = new Array[Int](n)
    var code = 0
    var prevLen = 0
    order.foreach { s =>
      code <<= (depth(s) - prevLen)
      codes(s) = code
      code += 1
      prevLen = depth(s)
    }
    (depth, codes)
  }

  /** Canonical-code decode state over [[canonicalCode]] output, shared by
    * [[HuffTable]] and the AAC spectral/scalefactor books: codes of one
    * length are consecutive in increasing symbol order, so a (len, code)
    * hit is a range check + array index — no per-bit tuple allocation or
    * hash probe. (Prefix-freeness means a longer code's prefix can never
    * fall inside a shorter length's occupied range.)
    */
  private[operators] final class CanonicalReader(lens: Array[Int],
                                                 codes: Array[Int]) {
    /** Longest code, computed once: a per-read rescan of `lens` was once
      * the single hottest frame of the whole MP3 decode.
      */
    private val maxLen: Int = {
      var m = 0; var i = 0
      while (i < lens.length) { if (lens(i) > m) m = lens(i); i += 1 }
      m
    }
    require(maxLen <= 32, s"canonical code of length $maxLen exceeds 32 bits")
    private val symsInOrder: Array[Int] =
      lens.indices.sortBy(s => (lens(s), s)).toArray
    private val minCodeAt = new Array[Int](maxLen + 1)
    private val countAt = new Array[Int](maxLen + 1)
    private val baseAt = new Array[Int](maxLen + 1)
    locally {
      var i = 0
      while (i < symsInOrder.length) {
        val s = symsInOrder(i)
        val l = lens(s)
        if (countAt(l) == 0) { minCodeAt(l) = codes(s); baseAt(l) = i }
        countAt(l) += 1
        i += 1
      }
    }
    /** Symbol for the next code on `br`, or throws `what`. Only the code's
      * own bits are consumed; a stream that ends inside the code fails as
      * truncated.
      */
    def read(br: MsbReader, what: String): Int = {
      val bits = br.peek(maxLen)
      var len = 1
      while (len <= maxLen) {
        val d = (bits >>> (maxLen - len)) - minCodeAt(len)
        if (d >= 0 && d < countAt(len)) {
          br.skip(len)
          return symsInOrder(baseAt(len) + d)
        }
        len += 1
      }
      br.skip(maxLen)
      throw new IllegalArgumentException(what)
    }
  }

  private[operators] final class HuffTable(val dims: Int, val linbits: Int,
                                           weights: Array[Long]) {
    private val (lens, codes) = canonicalCode(weights)
    private val reader = new CanonicalReader(lens, codes)
    def write(put: (Long, Int) => Unit, sym: Int): Unit =
      put(codes(sym).toLong, lens(sym))
    def read(br: MsbReader): Int = reader.read(br, "mpeg audio: invalid Huffman code")
  }

  /** The pinned big-value table family: (0,0) is heavily weighted (so
    * sparse spectra code compactly, as in the spec's tables), the rest
    * varied by a formula keyed on the table id.
    */
  private[operators] lazy val l3BigTables: IndexedSeq[HuffTable] =
    (0 until 32).map { t =>
      val dim = l3Dims(t)
      val w = Array.tabulate(dim * dim) { s =>
        if (s == 0) 1000L else 1L + ((3L * (s / dim) + 5L * (s % dim) + 7L * t) % 13)
      }
      new HuffTable(dim, l3Linbits(t), w)
    }

  /** count1 table 0: Huffman over the 16 (v,w,x,y) quadruples; table 1
    * is the spec's fixed 4-bit form (pinned: the literal bits ARE the
    * quadruple).
    */
  private[operators] lazy val l3Count1Table: HuffTable = {
    val w = Array.tabulate(16)(s => if (s == 0) 100L else 1L + ((5L * s + 3) % 11))
    new HuffTable(16, 0, w)
  }

  // ---- synthesis filterbank -------------------------------------------------

  /** The 32-band synthesis state: the spec's 1024-entry V FIFO. */
  private final class Synth {
    private val v = new Array[Long](1024)
    /** One granule: matrix the 32 subband samples into 64 V values,
      * shift the FIFO, window, emit 32 PCM samples.
      */
    def granule(s: Array[Long], outBuf: Array[Long], outOff: Int): Unit = {
      System.arraycopy(v, 0, v, 64, 1024 - 64)
      var i = 0
      while (i < 64) {
        var acc = 0L
        var k = 0
        while (k < 32) {
          // sparse spectra leave most subbands zero; skipping them is an
          // exact identity, not an approximation
          if (s(k) != 0L) acc += nTab(i, k) * s(k)
          k += 1
        }
        v(i) = acc
        i += 1
      }
      // U selection + 512-tap windowed sum (spec indexing)
      i = 0
      while (i < 32) {
        var acc = 0L
        var j = 0
        while (j < 8) {
          acc += dTab((2 * j) * 32 + i) * v(j * 128 + i)
          acc += dTab((2 * j + 1) * 32 + i) * v(j * 128 + 96 + i)
          j += 1
        }
        outBuf(outOff + i) = acc
        i += 1
      }
      (): Unit
    }
  }

  // ---- encode (fixture generator) -------------------------------------------

  /** One Layer I mono frame: per-subband allocation nibble (0 or nb−1),
    * scalefactor indices, and 12×32 raw codes.
    */
  final case class L1Frame(alloc: Array[Int], sf: Array[Int],
                           raw: Array[Array[Int]]) // raw(granule)(subband)

  /** One Layer II mono frame: per-subband class allocation, scfsi
    * pattern, transmitted scalefactors (up to 3), and 36×32 raw codes
    * (grouped classes read them back per triplet).
    */
  final case class L2Frame(alloc: Array[Int], scfsi: Array[Int],
                           sf: Array[Array[Int]], raw: Array[Array[Int]])

  private def header(layer: Int, channels: Int = 1,
                     jointExt: Int = -1): (MsbWriter => Unit) = bw => {
    bw.put(0x7ff, 11) // sync
    bw.put(3, 2) // MPEG-1
    bw.put(if (layer == 1) 3 else 2, 2) // layer bits: 11 = I, 10 = II
    bw.put(1, 1) // no CRC
    bw.put(0, 4) // bitrate index 0 = free format
    bw.put(0, 2) // sample rate 44100
    bw.put(0, 1) // padding
    bw.put(0, 1) // private
    bw.put(if (channels == 1) 3 else if (jointExt >= 0) 1 else 0, 2) // mode
    bw.put(if (jointExt >= 0) jointExt.toLong else 0, 2) // mode extension
    bw.put(0, 1) // copyright
    bw.put(0, 1) // original
    bw.put(0, 2) // emphasis
  }

  /** One Layer I STEREO frame: the spec interleave — allocation per
    * (sb, ch), scalefactors per (sb, ch), samples per (granule, sb, ch).
    */
  /** One Layer I JOINT-STEREO frame (mode 01): subbands at or above
    * bound = 4 + 4*ext carry ONE shared allocation and ONE sample
    * stream; scalefactors stay per channel (the spec's intensity mode).
    */
  def encodeL1Joint(ext: Int, alloc: (Int, Int) => Int, sf: (Int, Int) => Int,
                    raw: (Int, Int, Int) => Int): Array[Byte] = {
    require(ext >= 0 && ext < 4)
    val bound = 4 + 4 * ext
    val bw = new MsbWriter
    header(1, 2, jointExt = ext)(bw)
    var sb = 0
    while (sb < 32) {
      if (sb >= bound) {
        require(alloc(0, sb) == alloc(1, sb), "layer1 joint: shared allocation above the bound")
        bw.put(alloc(0, sb).toLong, 4)
      } else {
        var ch = 0
        while (ch < 2) { bw.put(alloc(ch, sb).toLong, 4); ch += 1 }
      }
      sb += 1
    }
    sb = 0
    while (sb < 32) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) bw.put(sf(ch, sb).toLong, 6)
        ch += 1
      }
      sb += 1
    }
    var g = 0
    while (g < 12) {
      sb = 0
      while (sb < 32) {
        val chEnd = if (sb >= bound) 1 else 2
        var ch = 0
        while (ch < chEnd) {
          if (alloc(ch, sb) > 0) {
            val nb = alloc(ch, sb) + 1
            val r = raw(g, ch, sb)
            require(r >= 0 && r < (1 << nb) - 1,
              s"layer1 joint: raw $r out of $nb-bit mid-tread domain")
            bw.put(r.toLong, nb)
          }
          ch += 1
        }
        sb += 1
      }
      g += 1
    }
    bw.bytes()
  }

  /** One Layer II JOINT-STEREO frame: the L1 bound rule over the L2
    * side-info machinery (shared allocation + one sample stream above
    * the bound, per-channel scfsi/scalefactors throughout).
    */
  def encodeL2Joint(ext: Int, alloc: (Int, Int) => Int, scfsi: (Int, Int) => Int,
                    sf: (Int, Int, Int) => Int,
                    raw: (Int, Int, Int) => Int): Array[Byte] = {
    require(ext >= 0 && ext < 4)
    val bound = 4 + 4 * ext
    val bw = new MsbWriter
    header(2, 2, jointExt = ext)(bw)
    var sb = 0
    while (sb < L2SbLimit) {
      if (sb >= bound) {
        require(alloc(0, sb) == alloc(1, sb), "layer2 joint: shared allocation above the bound")
        bw.put(alloc(0, sb).toLong, l2AllocBits(sb))
      } else {
        var ch = 0
        while (ch < 2) { bw.put(alloc(ch, sb).toLong, l2AllocBits(sb)); ch += 1 }
      }
      sb += 1
    }
    sb = 0
    while (sb < L2SbLimit) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) bw.put(scfsi(ch, sb).toLong, 2)
        ch += 1
      }
      sb += 1
    }
    sb = 0
    while (sb < L2SbLimit) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) {
          val pat = scfsi(ch, sb)
          val count = pat match { case 0 => 3; case 2 => 1; case _ => 2 }
          var i = 0
          while (i < count) { bw.put(sf(ch, sb, i).toLong, 6); i += 1 }
        }
        ch += 1
      }
      sb += 1
    }
    var t = 0
    while (t < 12) {
      sb = 0
      while (sb < L2SbLimit) {
        val chEnd = if (sb >= bound) 1 else 2
        var ch = 0
        while (ch < chEnd) {
          if (alloc(ch, sb) > 0) {
            val (n, grouped, bits) = l2Class(alloc(ch, sb))
            if (grouped) {
              var c = 0
              var i = 2
              while (i >= 0) {
                val r = raw(3 * t + i, ch, sb)
                require(r >= 0 && r < n, "layer2 joint: sample out of domain")
                c = c * n + r
                i -= 1
              }
              bw.put(c.toLong, bits)
            } else {
              var i = 0
              while (i < 3) {
                val r = raw(3 * t + i, ch, sb)
                require(r >= 0 && r < n, "layer2 joint: sample out of domain")
                bw.put(r.toLong, bits)
                i += 1
              }
            }
          }
          ch += 1
        }
        sb += 1
      }
      t += 1
    }
    bw.bytes()
  }

  def encodeL1Stereo(alloc: (Int, Int) => Int, sf: (Int, Int) => Int,
                     raw: (Int, Int, Int) => Int): Array[Byte] = {
    val bw = new MsbWriter
    header(1, 2)(bw)
    var sb = 0
    while (sb < 32) {
      var ch = 0
      while (ch < 2) { bw.put(alloc(ch, sb).toLong, 4); ch += 1 }
      sb += 1
    }
    sb = 0
    while (sb < 32) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) bw.put(sf(ch, sb).toLong, 6)
        ch += 1
      }
      sb += 1
    }
    var g = 0
    while (g < 12) {
      sb = 0
      while (sb < 32) {
        var ch = 0
        while (ch < 2) {
          if (alloc(ch, sb) > 0) {
            val nb = alloc(ch, sb) + 1
            val r = raw(g, ch, sb)
            require(r >= 0 && r < (1 << nb) - 1,
              s"layer1 stereo: raw $r out of $nb-bit mid-tread domain")
            bw.put(r.toLong, nb)
          }
          ch += 1
        }
        sb += 1
      }
      g += 1
    }
    bw.bytes()
  }

  /** One Layer II STEREO frame: allocation/scfsi/scalefactors per
    * (sb, ch); per triplet, per sb, per ch a grouped code or 3 samples.
    */
  def encodeL2Stereo(alloc: (Int, Int) => Int, scfsi: (Int, Int) => Int,
                     sf: (Int, Int, Int) => Int,
                     raw: (Int, Int, Int) => Int): Array[Byte] = {
    val bw = new MsbWriter
    header(2, 2)(bw)
    var sb = 0
    while (sb < L2SbLimit) {
      var ch = 0
      while (ch < 2) { bw.put(alloc(ch, sb).toLong, l2AllocBits(sb)); ch += 1 }
      sb += 1
    }
    sb = 0
    while (sb < L2SbLimit) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) bw.put(scfsi(ch, sb).toLong, 2)
        ch += 1
      }
      sb += 1
    }
    sb = 0
    while (sb < L2SbLimit) {
      var ch = 0
      while (ch < 2) {
        if (alloc(ch, sb) > 0) {
          val m = scfsi(ch, sb) match {
            case 0 => 3
            case 2 => 1
            case _ => 2
          }
          var i = 0
          while (i < m) { bw.put(sf(ch, sb, i).toLong, 6); i += 1 }
        }
        ch += 1
      }
      sb += 1
    }
    var t = 0
    while (t < 12) {
      sb = 0
      while (sb < L2SbLimit) {
        var ch = 0
        while (ch < 2) {
          if (alloc(ch, sb) > 0) {
            val (n, grouped, bits) = l2Class(alloc(ch, sb))
            if (grouped) {
              val s0 = raw(3 * t, ch, sb); val s1 = raw(3 * t + 1, ch, sb)
              val s2 = raw(3 * t + 2, ch, sb)
              require(s0 < n && s1 < n && s2 < n,
                "layer2 stereo: grouped code out of domain")
              bw.put((s2.toLong * n + s1) * n + s0, bits)
            } else {
              var i = 0
              while (i < 3) {
                val r = raw(3 * t + i, ch, sb)
                require(r >= 0 && r < n,
                  s"layer2 stereo: raw $r out of $n-level domain")
                bw.put(r.toLong, bits)
                i += 1
              }
            }
          }
          ch += 1
        }
        sb += 1
      }
      t += 1
    }
    bw.bytes()
  }

  def encodeL1Frame(f: L1Frame): Array[Byte] = {
    require(f.alloc.length == 32 && f.sf.length == 32 && f.raw.length == 12)
    val bw = new MsbWriter
    header(1)(bw)
    var sb = 0
    while (sb < 32) { bw.put(f.alloc(sb).toLong, 4); sb += 1 }
    sb = 0
    while (sb < 32) {
      if (f.alloc(sb) > 0) bw.put(f.sf(sb).toLong, 6)
      sb += 1
    }
    var g = 0
    while (g < 12) {
      sb = 0
      while (sb < 32) {
        if (f.alloc(sb) > 0) {
          val nb = f.alloc(sb) + 1
          require(f.raw(g)(sb) >= 0 && f.raw(g)(sb) < (1 << nb) - 1,
            s"layer1: raw ${f.raw(g)(sb)} out of $nb-bit mid-tread domain")
          bw.put(f.raw(g)(sb).toLong, nb)
        }
        sb += 1
      }
      g += 1
    }
    bw.bytes()
  }

  def encodeL2Frame(f: L2Frame): Array[Byte] = {
    require(f.alloc.length == L2SbLimit && f.raw.length == 36)
    val bw = new MsbWriter
    header(2)(bw)
    var sb = 0
    while (sb < L2SbLimit) { bw.put(f.alloc(sb).toLong, l2AllocBits(sb)); sb += 1 }
    sb = 0
    while (sb < L2SbLimit) {
      if (f.alloc(sb) > 0) bw.put(f.scfsi(sb).toLong, 2)
      sb += 1
    }
    sb = 0
    while (sb < L2SbLimit) {
      if (f.alloc(sb) > 0) {
        val n = f.scfsi(sb) match {
          case 0 => 3
          case 2 => 1
          case _ => 2
        }
        var i = 0
        while (i < n) { bw.put(f.sf(sb)(i).toLong, 6); i += 1 }
      }
      sb += 1
    }
    var t = 0
    while (t < 12) {
      sb = 0
      while (sb < L2SbLimit) {
        if (f.alloc(sb) > 0) {
          val (n, grouped, bits) = l2Class(f.alloc(sb))
          if (grouped) {
            val s0 = f.raw(3 * t)(sb); val s1 = f.raw(3 * t + 1)(sb)
            val s2 = f.raw(3 * t + 2)(sb)
            require(s0 < n && s1 < n && s2 < n, "layer2: grouped code out of domain")
            bw.put((s2.toLong * n + s1) * n + s0, bits)
          } else {
            var i = 0
            while (i < 3) {
              val r = f.raw(3 * t + i)(sb)
              require(r >= 0 && r < n, s"layer2: raw $r out of $n-level domain")
              bw.put(r.toLong, bits)
              i += 1
            }
          }
        }
        sb += 1
      }
      t += 1
    }
    bw.bytes()
  }

  // ---- Layer III encode -------------------------------------------------------

  /** One Layer III granule spec (mono profile): a sparse set of nonzero
    * spectral lines, the side info knobs, the count of trailing all-zero
    * count1 quadruples, and optional stuffing bits (spec-legal padding
    * inside part2_3_length that the decoder must skip).
    */
  final case class L3Granule(lines: Seq[(Int, Int)], // (position, signed value)
                             globalGain: Int, scalefacCompress: Int,
                             tableSelect: Array[Int],
                             region0Count: Int, region1Count: Int,
                             preflag: Int, scalefacScale: Int,
                             count1Table: Int, count1Quads: Int,
                             stuffBits: Int, scalefac: Int => Int,
                             // window switching: 0 normal long, 1 START,
                             // 2 SHORT (lines in TRANSMITTED order), 3 STOP
                             blockType: Int = 0,
                             subblockGain: Int => Int = _ => 0,
                             scalefacS: (Int, Int) => Int = null, // (window, band)
                             // mixed blocks: subbands 0..1 long, 2..31 short;
                             // long scalefacs for bands 0..1 ride `scalefac`
                             mixed: Boolean = false)

  /** One Layer III MONO frame: 4-bit scfsi (band-group scalefactor reuse
    * between the frame's two granules) and two granules. Free-format
    * framing, main_data_begin = 0 (no bit reservoir in this profile).
    */
  /** Main-data bits of one granule-channel (scalefactors + Huffman). */
  private def l3GranuleBits(g: L3Granule, scfsi: Int, gi: Int): MsbWriter = {
      val bb = new MsbWriter
      val slen1 = l3Slen1(g.scalefacCompress)
      val slen2 = l3Slen2(g.scalefacCompress)
      if (g.blockType == 2) {
        // mixed blocks first carry the long part's scalefactors (pinned
        // bands 0..1 cover the 36 long lines; slen1), then the short grid
        if (g.mixed) {
          var b = 0
          while (b <= 1) {
            val v = g.scalefac(b)
            if (slen1 > 0) {
              require(v >= 0 && v < (1 << slen1),
                s"layer3: mixed long scalefac $v exceeds $slen1 bits")
              bb.put(v.toLong, slen1)
            } else require(v == 0, "layer3: slen 0 implies scalefactor 0")
            b += 1
          }
        }
        // short scalefactors: 12 pinned bands x 3 windows, band-major,
        // slen1 for bands 0..5 and slen2 for 6..11; never reused (scfsi
        // is a long-block mechanism)
        require(g.scalefacS != null, "layer3: short granule needs scalefacS")
        var s = 0
        while (s < 12) {
          val slen = if (s <= 5) slen1 else slen2
          var w = 0
          while (w < 3) {
            val v = g.scalefacS(w, s)
            if (slen > 0) {
              require(v >= 0 && v < (1 << slen), s"layer3: short scalefac $v exceeds $slen bits")
              bb.put(v.toLong, slen)
            } else require(v == 0, "layer3: slen 0 implies scalefactor 0")
            w += 1
          }
          s += 1
        }
      } else {
      // scalefactors: slen1 bands 0..10, slen2 bands 11..20; granule 1
      // skips groups whose scfsi bit is set (it reuses granule 0's values)
      var band = 0
      while (band <= 20) {
        val slen = if (band <= 10) slen1 else slen2
        val reuse = gi == 1 && ((scfsi >> l3ScfsiGroup(band)) & 1) == 1
        if (!reuse && slen > 0) {
          val v = g.scalefac(band)
          require(v >= 0 && v < (1 << slen), s"layer3: scalefac $v exceeds $slen bits")
          bb.put(v.toLong, slen)
        } else if (!reuse) {
          require(g.scalefac(band) == 0, "layer3: slen 0 implies scalefactor 0")
        }
        band += 1
      }
      }
      // big values region: pairs cover lines 0 .. 2·bigValues-1
      val byPos = g.lines.toMap
      require(byPos.size == g.lines.size, "layer3: duplicate line positions")
      g.lines.foreach { case (p, v) =>
        require(p >= 0 && p < 576 && v != 0, "layer3: line outside the spectrum")
      }
      val bigValues =
        if (g.lines.isEmpty) 0 else g.lines.map(_._1).max / 2 + 1
      require(bigValues <= 288)
      var pair = 0
      while (pair < bigValues) {
        val p0 = 2 * pair
        val t = g.tableSelect(
          if (g.blockType != 0) l3RegionSwitch(g.blockType, p0)
          else l3Region(p0, g.region0Count, g.region1Count))
        val tab = l3BigTables(t)
        val xv = byPos.getOrElse(p0, 0)
        val yv = byPos.getOrElse(p0 + 1, 0)
        def part(v: Int): Int = {
          val a = math.abs(v)
          if (tab.linbits > 0 && a >= 15) 15
          else {
            require(a < tab.dims, s"layer3: |$v| outside table $t domain")
            a
          }
        }
        val (xc, yc) = (part(xv), part(yv))
        tab.write(bb.put, xc * tab.dims + yc)
        def tail(v: Int, c: Int): Unit = {
          if (c == 15 && tab.linbits > 0) {
            val lin = math.abs(v) - 15
            require(lin >= 0 && lin < (1 << tab.linbits),
              s"layer3: linbits overflow in table $t")
            bb.put(lin.toLong, tab.linbits)
          }
          if (v != 0) bb.put(if (v < 0) 1L else 0L, 1)
        }
        tail(xv, xc)
        tail(yv, yc)
        pair += 1
      }
      // count1 region: all-zero quadruples in this encoder profile
      require(2 * bigValues + 4 * g.count1Quads <= 576,
        "layer3: count1 region past the spectrum")
      var q = 0
      while (q < g.count1Quads) {
        if (g.count1Table == 1) bb.put(0L, 4)
        else l3Count1Table.write(bb.put, 0)
        q += 1
      }
      var s = 0
      while (s < g.stuffBits) { bb.put(0L, 1); s += 1 }
      bb
  }

  /** The 59-bit per-(granule, channel) side-info block. */
  private def l3WriteSide(bw: MsbWriter, g: L3Granule, bodyLen: Int): Unit = {
    require(bodyLen < 4096, "layer3: part2_3_length overflow")
    bw.put(bodyLen.toLong, 12) // part2_3_length
    val bigValues = if (g.lines.isEmpty) 0 else g.lines.map(_._1).max / 2 + 1
    bw.put(bigValues.toLong, 9)
    require(g.globalGain >= 0 && g.globalGain < 256)
    bw.put(g.globalGain.toLong, 8)
    require(g.scalefacCompress >= 0 && g.scalefacCompress < 16)
    bw.put(g.scalefacCompress.toLong, 4)
    require(g.tableSelect.length == 3 && g.tableSelect.forall(t => t >= 0 && t < 32))
    if (g.blockType != 0) {
      // window switching: block_type + mixed flag + TWO table_selects +
      // three subblock gains (same 22 side bits as the normal shape)
      require(g.blockType >= 1 && g.blockType <= 3, "layer3: block_type is 1..3")
      bw.put(1, 1) // window_switching_flag
      bw.put(g.blockType.toLong, 2)
      require(!g.mixed || g.blockType == 2, "layer3: mixed_block_flag needs short blocks")
      bw.put(if (g.mixed) 1L else 0L, 1) // mixed_block_flag
      bw.put(g.tableSelect(0).toLong, 5)
      bw.put(g.tableSelect(1).toLong, 5)
      var w = 0
      while (w < 3) {
        val sg = g.subblockGain(w)
        require(sg >= 0 && sg < 8, "layer3: subblock_gain is 3 bits")
        bw.put(sg.toLong, 3)
        w += 1
      }
    } else {
      require(!g.mixed, "layer3: mixed_block_flag needs window switching")
      bw.put(0, 1) // window_switching_flag: long blocks
      g.tableSelect.foreach(t => bw.put(t.toLong, 5))
      require(g.region0Count >= 0 && g.region0Count < 16)
      require(g.region1Count >= 0 && g.region1Count < 8)
      bw.put(g.region0Count.toLong, 4)
      bw.put(g.region1Count.toLong, 3)
    }
    bw.put(g.preflag.toLong, 1)
    bw.put(g.scalefacScale.toLong, 1)
    bw.put(g.count1Table.toLong, 1)
  }

  /** The 4-byte MPEG-1 Layer III frame header (44100; free format by
    * default, or a fixed-rate index for reservoir streams). */
  private def l3WriteHeader(bw: MsbWriter, mode: Int, modeExt: Int,
                            brIdx: Int = 0, crc: Boolean = false,
                            padding: Int = 0): Unit = {
    require(brIdx >= 0 && brIdx <= 14, "layer3: bitrate index is 0..14")
    require(padding == 0 || brIdx != 0, "layer3: padding needs fixed-rate framing")
    bw.put(0x7ff, 11); bw.put(3, 2); bw.put(1, 2) // sync, MPEG-1, layer III (01)
    bw.put(if (crc) 0L else 1L, 1) // protection bit (0 = CRC present)
    bw.put(brIdx.toLong, 4); bw.put(0, 2) // bitrate index, 44100
    bw.put(padding.toLong, 1) // padding: +1 frame byte
    bw.put(0, 1) // private
    bw.put(mode.toLong, 2)
    bw.put(modeExt.toLong, 2)
    bw.put(0, 1); bw.put(0, 1); bw.put(0, 2)
  }

  def encodeL3Frame(scfsi: Int, gr: Array[L3Granule],
                    crc: Boolean = false): Array[Byte] = {
    require(gr.length == 2, "layer3: MPEG-1 frames carry two granules")
    require(scfsi >= 0 && scfsi < 16)
    require(scfsi == 0 || gr.forall(_.blockType != 2),
      "layer3: scfsi reuse is a long-block mechanism (spec: zero when short blocks appear)")
    val bodies = Array(l3GranuleBits(gr(0), scfsi, 0), l3GranuleBits(gr(1), scfsi, 1))
    val hw = new MsbWriter
    l3WriteHeader(hw, mode = 3, modeExt = 0, crc = crc)
    val hdr = hw.bytes() // 4 bytes
    val sw = new MsbWriter
    sw.put(0, 9) // main_data_begin: no reservoir in this profile
    sw.put(0, 5) // private bits
    sw.put(scfsi.toLong, 4)
    var gi = 0
    while (gi < 2) { l3WriteSide(sw, gr(gi), bodies(gi).length); gi += 1 }
    val side = sw.bytes() // mono: 17 bytes exactly
    require(side.length == 17, "layer3: mono side info is 17 bytes")
    val out = new java.io.ByteArrayOutputStream()
    out.write(hdr, 0, hdr.length)
    if (crc) {
      // error_check: CRC-16 over header bits 16..31 + the side info
      val c = crc16(byteBits(hdr, 2, 4) ++ byteBits(side, 0, side.length))
      out.write(c >> 8); out.write(c & 0xff)
    }
    out.write(side, 0, side.length)
    val mw = new MsbWriter
    bodies.foreach(mw.append)
    val main = mw.bytes()
    out.write(main, 0, main.length)
    out.toByteArray
  }

  /** MONO Layer III frames under FIXED-RATE framing with a real BIT
    * RESERVOIR: every frame spans floor(144·bitrate/44100) bytes, the
    * logical main data (scalefactors + Huffman, byte-aligned per frame
    * via tail stuffing) is packed back-to-back across the frames'
    * physical segments, and each frame's side info carries the
    * main_data_begin byte offset pointing BACK into earlier segments.
    * Small frames grow the reservoir surplus; the encoder enforces the
    * spec's invariants (data available by its own frame's end, surplus
    * and main_data_begin ≤ 511) and zero-pads the final segment's
    * slack. scfsi 0 (reservoir and reuse are orthogonal; kept simple).
    */
  def encodeL3Reservoir(brIdx: Int, grans: Seq[Array[L3Granule]],
                        padding: Int => Int = _ => 0): Array[Byte] = {
    require(brIdx >= 1 && brIdx <= 14, "layer3: fixed-rate bitrate index is 1..14")
    require(grans.nonEmpty && grans.forall(_.length == 2),
      "layer3: MPEG-1 frames carry two granules")
    // the padding bit adds one byte to ITS frame (how real 44100 Hz
    // streams hit their exact bitrate); each frame's segment grows with it
    val baseBytes = 144 * l3BitrateKbps(brIdx) * 1000 / 44100
    def segBytesOf(n: Int): Int = {
      val pad = padding(n)
      require(pad == 0 || pad == 1, "layer3: padding is one bit")
      baseBytes + pad - 4 - 17 // header + mono side info
    }
    val segBytes = segBytesOf(0)
    require(segBytes > 0, "layer3: frame too small for mono side info")
    // logical main data per frame, byte-aligned by stuffing granule 1's tail
    val bodies = grans.map { gr =>
      val b0 = l3GranuleBits(gr(0), 0, 0)
      val b1 = l3GranuleBits(gr(1), 0, 1)
      val pad = (8 - (b0.length + b1.length) % 8) % 8
      var i = 0
      while (i < pad) { b1.put(0L, 1); i += 1 }
      (b0, b1)
    }
    val lbytes = bodies.map { case (a, b) => (a.length + b.length) / 8 }
    var surplus = 0
    val mdbs = lbytes.zipWithIndex.map { case (lb, n) =>
      val m = surplus
      require(m <= 511, "layer3 fixture: main_data_begin beyond the 511-byte reservoir")
      surplus += segBytesOf(n) - lb
      require(surplus >= 0,
        "layer3 fixture: a frame's main data must fit by its own frame's end")
      require(surplus <= 511, "layer3 fixture: reservoir surplus beyond 511 bytes")
      m
    }
    val logicalBw = new MsbWriter
    bodies.foreach { case (a, b) => logicalBw.append(a); logicalBw.append(b) }
    val logical = logicalBw.bytes()
    val out = new java.io.ByteArrayOutputStream()
    var consumed = 0
    grans.indices.foreach { n =>
      val bw = new MsbWriter
      l3WriteHeader(bw, mode = 3, modeExt = 0, brIdx = brIdx,
        padding = padding(n))
      bw.put(mdbs(n).toLong, 9) // main_data_begin
      bw.put(0, 5) // private bits
      bw.put(0, 4) // scfsi
      l3WriteSide(bw, grans(n)(0), bodies(n)._1.length)
      l3WriteSide(bw, grans(n)(1), bodies(n)._2.length)
      val head = bw.bytes()
      require(head.length == 21, "layer3: header + mono side info is 21 bytes")
      out.write(head, 0, head.length)
      val end = math.min(consumed + segBytesOf(n), logical.length)
      out.write(logical, consumed, end - consumed)
      var padB = segBytesOf(n) - (end - consumed)
      while (padB > 0) { out.write(0); padB -= 1 } // stream-tail slack
      consumed = end
    }
    require(consumed == logical.length, "layer3 fixture: logical main data left over")
    out.toByteArray
  }

  /** One Layer III STEREO frame: per-channel scfsi, granule-channel
    * grid `gr(granule)(channel)`, coded as independent stereo
    * (mode 00, `modeExt` ignored = 0) or joint stereo (mode 01) with
    * `modeExt` selecting intensity (bit 0) / MS (bit 1). Main data in
    * the spec order granule-major, channel-minor.
    */
  def encodeL3Stereo(scfsi: Array[Int], gr: Array[Array[L3Granule]],
                     joint: Boolean = false, modeExt: Int = 0): Array[Byte] = {
    require(gr.length == 2 && gr.forall(_.length == 2),
      "layer3: stereo frames carry two granules x two channels")
    require(scfsi.length == 2 && scfsi.forall(s => s >= 0 && s < 16))
    require(scfsi.forall(_ == 0) || gr.forall(_.forall(_.blockType != 2)),
      "layer3: scfsi reuse is a long-block mechanism (spec: zero when short blocks appear)")
    require(modeExt >= 0 && modeExt < 4 && (joint || modeExt == 0))
    // positional intensity derives its region from LONG band bounds;
    // window-switching granules under intensity stay a loud rejection
    require(!joint || (modeExt & 1) == 0 || gr.forall(_.forall(_.blockType == 0)),
      "layer3: intensity stereo over window-switching granules outside this profile")
    val bodies = Array.tabulate(2, 2)((gi, ch) =>
      l3GranuleBits(gr(gi)(ch), scfsi(ch), gi))
    val bw = new MsbWriter
    l3WriteHeader(bw, mode = if (joint) 1 else 0, modeExt = modeExt)
    // side info (stereo: 32 bytes)
    bw.put(0, 9) // main_data_begin
    bw.put(0, 3) // private bits
    bw.put(scfsi(0).toLong, 4)
    bw.put(scfsi(1).toLong, 4)
    for (gi <- 0 to 1; ch <- 0 to 1)
      l3WriteSide(bw, gr(gi)(ch), bodies(gi)(ch).length)
    for (gi <- 0 to 1; ch <- 0 to 1) bw.append(bodies(gi)(ch))
    bw.bytes()
  }

  // ---- decode ----------------------------------------------------------------

  /** Decoded stream: layer, channel count, frame count, and the
    * full-precision fixed-point PCM, sample-major interleaved for stereo
    * (L0, R0, L1, R1, …); the pinned profile omits the final scale/clip.
    */
  final case class MpegPcm(layer: Int, channels: Int, nFrames: Int,
                           pcm: Array[Long])

  def decode(bytes: Array[Byte]): MpegPcm = {
    val br = new MsbReader(bytes, "mpeg audio", "bitstream truncated")
    var synths: Array[Synth] = null
    var l3Overlap: Array[Array[Array[Long]]] = null // per-channel IMDCT overlap, frame-crossing
    val pcmOut = scala.collection.mutable.ArrayBuffer.empty[Long]
    var layer = 0
    var channels = 0
    var nFrames = 0
    val reservoir = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while (!br.atEnd) {
      val frameStartBits = br.pos
      require(br.read(11) == 0x7ff, "mpeg audio: lost sync")
      require(br.read(2) == 3, "mpeg audio: not MPEG-1")
      val layerBits = br.read(2)
      val thisLayer = layerBits match {
        case 3 => 1
        case 2 => 2
        case 1 => 3
        case _ => throw new IllegalArgumentException("mpeg audio: reserved layer bits")
      }
      require(layer == 0 || layer == thisLayer, "mpeg audio: mixed layers in one stream")
      layer = thisLayer
      val crcProtected = br.read(1) == 0 // protection bit: 0 = CRC present
      val brIdx = br.read(4)
      require(brIdx == 0 || thisLayer == 3,
        "mpeg audio: fixed-rate framing is a Layer III feature in this profile")
      require(brIdx < 15, "mpeg audio: forbidden bitrate index")
      require(br.read(2) == 0, "mpeg audio: fixture sample-rate index must be 0")
      val padding = br.read(1)
      br.read(1) // private
      val mode = br.read(2)
      val nCh = mode match {
        case 3 => 1
        case 0 => 2 // independent stereo
        case 1 => 2 // joint stereo: L3 MS/intensity, L1/L2 bound mode
        case _ => throw new IllegalArgumentException(
          "mpeg audio: dual-channel mode outside this profile")
      }
      require(channels == 0 || channels == nCh,
        "mpeg audio: mixed channel modes in one stream")
      channels = nCh
      if (synths == null) synths = Array.fill(nCh)(new Synth)
      val modeExt = br.read(2)
      br.read(1); br.read(1); br.read(2) // (c), original, emphasis

      if (crcProtected) {
        // error_check (2.4.3.1): the 16-bit CRC sits right after the
        // header and covers header bits 16..31 plus the side info
        require(layer == 3, "mpeg audio: CRC frames outside Layer III in this profile")
        val crcField = br.read(16)
        val fs = (frameStartBits / 8).toInt
        val sideBytes = if (nCh == 1) 17 else 32
        require(fs + 6 + sideBytes <= bytes.length,
          "mpeg audio: CRC frame truncated before its side info")
        val computed = crc16(byteBits(bytes, fs + 2, fs + 4) ++
          byteBits(bytes, fs + 6, fs + 6 + sideBytes))
        require(computed == crcField,
          s"mpeg audio: CRC mismatch (header $crcField, computed $computed)")
      }
      if (layer == 3) {
        if (l3Overlap == null) l3Overlap = Array.fill(nCh, 32, 18)(0L)
        if (brIdx == 0) {
          // free format: self-delimiting frames, main data inline — the
          // reservoir is unaddressable without a fixed frame length
          decodeL3Frame(br, mdb => {
            require(mdb == 0,
              "mpeg audio: main_data_begin needs fixed-rate framing (no reservoir in free format)")
            br
          }, synths, l3Overlap, pcmOut, nCh,
            joint = mode == 1, modeExt = modeExt)
          br.alignByte()
        } else {
          // fixed-rate frame: the physical segment between this frame's
          // side info and the frame boundary joins the BIT RESERVOIR;
          // this frame's logical main data starts main_data_begin bytes
          // BEFORE the segment (inside earlier frames' segments)
          val frameBytes = 144 * l3BitrateKbps(brIdx) * 1000 / 44100 + padding
          val frameEndBits = frameStartBits + frameBytes.toLong * 8
          decodeL3Frame(br, mdb => {
            require(br.pos % 8 == 0, "mpeg audio: side info must be byte aligned")
            val segStart = (br.pos / 8).toInt
            val segEnd = (frameEndBits / 8).toInt
            require(segEnd >= segStart && segEnd <= bytes.length,
              "mpeg audio: frame extends past the stream")
            // spec reservoir cap: only the last 511 bytes stay addressable
            if (reservoir.length > 511)
              reservoir.remove(0, reservoir.length - 511)
            val before = reservoir.length
            require(mdb <= before,
              "mpeg audio: main_data_begin reaches before the reservoir")
            reservoir ++= bytes.view.slice(segStart, segEnd)
            val r = new MsbReader(reservoir.toArray, "mpeg audio", "bitstream truncated")
            r.seek((before - mdb).toLong * 8)
            r
          }, synths, l3Overlap, pcmOut, nCh,
            joint = mode == 1, modeExt = modeExt)
          br.seek(frameEndBits)
        }
        nFrames += 1
      } else {

      val nGran = if (layer == 1) 12 else 36
      // per-(channel, granule, subband) dequantized samples
      val samples = Array.fill(nCh, nGran, 32)(0L)

      // joint stereo (L1/L2): subbands at or above the bound share ONE
      // allocation and ONE sample stream; scalefactors stay per channel
      // (the spec's intensity mode — bound = 4 + 4*mode_extension)
      val jointBound = if (mode == 1) 4 + 4 * modeExt else 32

      if (layer == 1) {
        val alloc = Array.fill(nCh, 32)(0)
        var sb = 0
        while (sb < 32) {
          if (nCh == 2 && sb >= jointBound) {
            val a = br.read(4)
            alloc(0)(sb) = a; alloc(1)(sb) = a
          } else {
            var ch = 0
            while (ch < nCh) { alloc(ch)(sb) = br.read(4); ch += 1 }
          }
          sb += 1
        }
        val sf = Array.fill(nCh, 32)(0)
        sb = 0
        while (sb < 32) {
          var ch = 0
          while (ch < nCh) {
            if (alloc(ch)(sb) > 0) sf(ch)(sb) = br.read(6)
            ch += 1
          }
          sb += 1
        }
        var g = 0
        while (g < 12) {
          sb = 0
          while (sb < 32) {
            if (nCh == 2 && sb >= jointBound) {
              if (alloc(0)(sb) > 0) {
                val nb = alloc(0)(sb) + 1
                val n = (1 << nb) - 1
                val raw = br.read(nb)
                require(raw < n, "mpeg audio: code outside the mid-tread domain")
                samples(0)(g)(sb) = dequant(raw, n) * sfTab(sf(0)(sb))
                samples(1)(g)(sb) = dequant(raw, n) * sfTab(sf(1)(sb))
              }
            } else {
            var ch = 0
            while (ch < nCh) {
              if (alloc(ch)(sb) > 0) {
                val nb = alloc(ch)(sb) + 1
                val n = (1 << nb) - 1
                val raw = br.read(nb)
                require(raw < n, "mpeg audio: code outside the mid-tread domain")
                samples(ch)(g)(sb) = dequant(raw, n) * sfTab(sf(ch)(sb))
              }
              ch += 1
            }
            }
            sb += 1
          }
          g += 1
        }
      } else {
        val alloc = Array.fill(nCh, L2SbLimit)(0)
        var sb = 0
        while (sb < L2SbLimit) {
          if (nCh == 2 && sb >= jointBound) {
            val a = br.read(l2AllocBits(sb))
            alloc(0)(sb) = a; alloc(1)(sb) = a
          } else {
            var ch = 0
            while (ch < nCh) { alloc(ch)(sb) = br.read(l2AllocBits(sb)); ch += 1 }
          }
          sb += 1
        }
        val scfsi = Array.fill(nCh, L2SbLimit)(0)
        sb = 0
        while (sb < L2SbLimit) {
          var ch = 0
          while (ch < nCh) {
            if (alloc(ch)(sb) > 0) scfsi(ch)(sb) = br.read(2)
            ch += 1
          }
          sb += 1
        }
        val sf = Array.fill(nCh, L2SbLimit, 3)(0)
        sb = 0
        while (sb < L2SbLimit) {
          var ch = 0
          while (ch < nCh) {
            if (alloc(ch)(sb) > 0) scfsi(ch)(sb) match {
              case 0 =>
                sf(ch)(sb)(0) = br.read(6); sf(ch)(sb)(1) = br.read(6)
                sf(ch)(sb)(2) = br.read(6)
              case 1 =>
                val a = br.read(6); val b = br.read(6)
                sf(ch)(sb)(0) = a; sf(ch)(sb)(1) = a; sf(ch)(sb)(2) = b
              case 2 =>
                val a = br.read(6)
                sf(ch)(sb)(0) = a; sf(ch)(sb)(1) = a; sf(ch)(sb)(2) = a
              case _ =>
                val a = br.read(6); val b = br.read(6)
                sf(ch)(sb)(0) = a; sf(ch)(sb)(1) = b; sf(ch)(sb)(2) = b
            }
            ch += 1
          }
          sb += 1
        }
        var t = 0
        while (t < 12) {
          sb = 0
          while (sb < L2SbLimit) {
            val shared = nCh == 2 && sb >= jointBound
            val chEnd = if (shared) 1 else nCh
            var ch = 0
            while (ch < chEnd) {
              if (alloc(ch)(sb) > 0) {
                val (n, grouped, bits) = l2Class(alloc(ch)(sb))
                val part = t / 4 // granule 3t..3t+2 is in part (3t)/12 = t/4
                def put(i: Int, q: Long): Unit = {
                  samples(ch)(3 * t + i)(sb) = q * sfTab(sf(ch)(sb)(part))
                  if (shared) // one sample stream, per-channel scalefactors
                    samples(1)(3 * t + i)(sb) = q * sfTab(sf(1)(sb)(part))
                }
                if (grouped) {
                  var c = br.read(bits)
                  require(c < n * n * n, "mpeg audio: grouped code out of domain")
                  var i = 0
                  while (i < 3) {
                    put(i, dequant(c % n, n))
                    c /= n
                    i += 1
                  }
                } else {
                  var i = 0
                  while (i < 3) {
                    val raw = br.read(bits)
                    require(raw < n, "mpeg audio: code outside the mid-tread domain")
                    put(i, dequant(raw, n))
                    i += 1
                  }
                }
              }
              ch += 1
            }
            sb += 1
          }
          t += 1
        }
      }

      // synthesis per channel, PCM interleaved sample-major
      val outCh = Array.fill(nCh)(new Array[Long](32))
      var g = 0
      while (g < nGran) {
        var ch = 0
        while (ch < nCh) {
          synths(ch).granule(samples(ch)(g), outCh(ch), 0)
          ch += 1
        }
        var i = 0
        while (i < 32) {
          var ch2 = 0
          while (ch2 < nCh) { pcmOut += outCh(ch2)(i); ch2 += 1 }
          i += 1
        }
        g += 1
      }
      br.alignByte()
      nFrames += 1
      }
    }
    require(nFrames > 0, "mpeg audio: empty stream")
    MpegPcm(layer, channels, nFrames, pcmOut.toArray)
  }

  /** Decode one Layer III frame body (header already consumed), mono or
    * stereo, long or window-switching (START / SHORT / STOP) blocks:
    * 17-byte (mono) / 32-byte (stereo) side info, two granules
    * of per-channel main data — scalefactors with
    * scfsi reuse, region-selected big-value Huffman with ESC/linbits and
    * sign bits, the count1 quadruple region bounded by part2_3_length
    * (overrunning decodes discarded, stuffing skipped) — then the
    * spectral pipeline: pinned requantization, alias-reduction
    * butterflies, 36-point IMDCT with cross-granule/cross-frame
    * overlap-add, frequency inversion, and 18 polyphase steps per
    * granule appended to pcmOut.
    */
  private def decodeL3Frame(br: MsbReader, mainOf: Int => MsbReader,
                            synths: Array[Synth],
                            overlap: Array[Array[Array[Long]]],
                            pcmOut: scala.collection.mutable.ArrayBuffer[Long],
                            nCh: Int, joint: Boolean, modeExt: Int): Unit = {
    val mainDataBegin = br.read(9) // resolved by the caller's framing mode
    br.read(if (nCh == 1) 5 else 3) // private bits
    val scfsi = Array.fill(nCh)(br.read(4))
    case class Side(part23: Int, bigValues: Int, globalGain: Int, sc: Int,
                    tsel: Array[Int], r0: Int, r1: Int, pre: Int,
                    sfScale: Int, c1t: Int, bt: Int, sbg: Array[Int],
                    mixed: Boolean = false)
    val sides = Array.tabulate(2, nCh) { (_, _) =>
      val part23 = br.read(12)
      val bv = br.read(9)
      require(bv <= 288, "mpeg audio: big_values beyond the spectrum")
      val gg = br.read(8)
      val sc = br.read(4)
      if (br.read(1) == 1) {
        // window switching: block_type, mixed flag, TWO table selects,
        // three subblock gains; region counts are implicit (pinned)
        val bt = br.read(2)
        require(bt != 0, "mpeg audio: reserved block_type 0 under window switching")
        val mixed = br.read(1) == 1 // mixed_block_flag
        require(!mixed || bt == 2, "mpeg audio: mixed_block_flag needs short blocks")
        val ts = Array(br.read(5), br.read(5), 0)
        val sbg = Array(br.read(3), br.read(3), br.read(3))
        Side(part23, bv, gg, sc, ts, 0, 0, br.read(1), br.read(1), br.read(1), bt, sbg,
          mixed = mixed)
      } else {
        val ts = Array.fill(3)(br.read(5))
        Side(part23, bv, gg, sc, ts, br.read(4), br.read(3),
          br.read(1), br.read(1), br.read(1), 0, Array(0, 0, 0))
      }
    }
    // MS operates per unreordered spectral slot, so it composes with any
    // block type; positional INTENSITY derives its region from long band
    // bounds and stays a loud rejection over window-switching granules
    require(nCh == 1 || !joint || (modeExt & 1) == 0 ||
      sides.forall(_.forall(_.bt == 0)),
      "mpeg audio: intensity stereo over window-switching granules outside this profile")
    // scfsi is a long-block mechanism: reuse against a short granule is
    // out of spec and would read an undefined source
    require(scfsi.forall(_ == 0) ||
      (0 until nCh).forall(ch => sides(0)(ch).bt != 2 && sides(1)(ch).bt != 2),
      "mpeg audio: scfsi reuse with short blocks in the frame")
    // main data reader: the inline stream (free format) or the bit
    // reservoir positioned main_data_begin bytes back (fixed rate)
    val mbr = mainOf(mainDataBegin)
    val sf = Array.fill(nCh, 21)(0)
    var gi = 0
    while (gi < 2) {
      // per-channel requantized spectra of this granule; joint-stereo
      // reconstruction needs both before the filterbank runs
      val xrs = Array.ofDim[Long](nCh, 576)
      val zeroBound = new Array[Int](nCh) // lines consumed (bv + count1)
      var ch = 0
      while (ch < nCh) {
      val s = sides(gi)(ch)
      val start = mbr.pos
      val limit = start + s.part23
      // part 2: scalefactors (scfsi shares granule 0's decoded values,
      // per channel); short granules carry 12 bands x 3 windows instead
      val slen1 = l3Slen1(s.sc)
      val slen2 = l3Slen2(s.sc)
      val sfS = Array.ofDim[Int](3, 12)
      if (s.bt == 2) {
        if (s.mixed) { // long part's scalefactors (pinned bands 0..1, slen1)
          var b = 0
          while (b <= 1) {
            sf(ch)(b) = if (slen1 > 0) mbr.read(slen1) else 0
            b += 1
          }
        }
        var sb0 = 0
        while (sb0 < 12) {
          val slen = if (sb0 <= 5) slen1 else slen2
          var w = 0
          while (w < 3) {
            sfS(w)(sb0) = if (slen > 0) mbr.read(slen) else 0
            w += 1
          }
          sb0 += 1
        }
      } else {
      var band = 0
      while (band <= 20) {
        val slen = if (band <= 10) slen1 else slen2
        if (gi == 1 && ((scfsi(ch) >> l3ScfsiGroup(band)) & 1) == 1)
          () // keep the granule-0 value
        else sf(ch)(band) = if (slen > 0) mbr.read(slen) else 0
        band += 1
      }
      }
      // part 3: big-value pairs through the region-selected tables
      val raw = new Array[Int](576)
      var pos = 0
      var pair = 0
      while (pair < s.bigValues) {
        val t = s.tsel(
          if (s.bt != 0) l3RegionSwitch(s.bt, pos)
          else l3Region(pos, s.r0, s.r1))
        val tab = l3BigTables(t)
        val sym = tab.read(mbr)
        def finish(c: Int): Int = {
          var v = c
          if (c == 15 && tab.linbits > 0) v += mbr.read(tab.linbits)
          if (v != 0 && mbr.read(1) == 1) -v else v
        }
        raw(pos) = finish(sym / tab.dims)
        raw(pos + 1) = finish(sym % tab.dims)
        pos += 2
        pair += 1
      }
      require(mbr.pos <= limit, "mpeg audio: big values overran part2_3_length")
      // count1: quadruples until part2_3_length runs out; an attempt that
      // overruns the boundary (or the stream tail) is discarded — the
      // spec's overshoot rule — and stuffing bits are skipped
      var done = false
      while (!done && mbr.pos < limit && pos + 4 <= 576) {
        val attempt = scala.util.Try {
          val quad = if (s.c1t == 1) mbr.read(4) else l3Count1Table.read(mbr)
          val vals = new Array[Int](4)
          var j = 0
          while (j < 4) {
            if (((quad >> (3 - j)) & 1) == 1)
              vals(j) = if (mbr.read(1) == 1) -1 else 1
            j += 1
          }
          vals
        }
        attempt match {
          case scala.util.Success(vals) if mbr.pos <= limit =>
            var k = 0
            while (k < 4) { raw(pos + k) = vals(k); k += 1 }
            pos += 4
          case _ => done = true
        }
      }
      zeroBound(ch) = pos
      mbr.seek(limit) // stuffing / discarded overrun
      // requantize (pinned integer curves; band 21 has no scalefactor).
      // Short granules also UNREORDER here: transmitted band-major
      // triplet order -> the window-interleaved subband layout the
      // filterbank consumes; pretab never applies to short blocks, and
      // each window carries its subblock_gain attenuation.
      val xr = xrs(ch)
      var p = 0
      while (p < 576) {
        val v = raw(p)
        if (v != 0) {
          if (s.bt == 2 && s.mixed) {
            if (p < 36) {
              // long part: natural order, long bands 0..1, pretab applies
              val bandOf = l3Band(p)
              val sfv = sf(ch)(bandOf) + (if (s.pre == 1) l3PreTab(bandOf) else 0)
              val mag = l3Pow43(math.abs(v)) * l3Gain(s.globalGain) *
                l3SfAtt(sfv, s.sfScale)
              xr(p) = if (v < 0) -mag else mag
            } else {
              val (b, w, f) = l3MixedShort(p)
              val sfv = sfS(w)(b)
              val mag = l3Pow43(math.abs(v)) * l3Gain(s.globalGain) *
                l3SfAtt(sfv, s.sfScale) * l3SubGain(s.sbg(w))
              xr((f / 6) * 18 + w * 6 + f % 6) = if (v < 0) -mag else mag
            }
          } else if (s.bt == 2) {
            val w = l3ShortWin(p)
            val sfv = sfS(w)(l3ShortBand(p))
            val mag = l3Pow43(math.abs(v)) * l3Gain(s.globalGain) *
              l3SfAtt(sfv, s.sfScale) * l3SubGain(s.sbg(w))
            xr(l3ShortSlot(p)) = if (v < 0) -mag else mag
          } else {
            val bandOf = l3Band(p)
            val sfv = (if (bandOf <= 20) sf(ch)(bandOf) else 0) +
              (if (s.pre == 1) l3PreTab(bandOf) else 0)
            val mag = l3Pow43(math.abs(v)) * l3Gain(s.globalGain) *
              l3SfAtt(sfv, s.sfScale)
            xr(p) = if (v < 0) -mag else mag
          }
        }
        p += 1
      }
      ch += 1
      }
      // joint stereo (Layer III): intensity bands split the transmitted
      // (left) channel positionally — PINNED integer split kL(p) = p,
      // kR(p) = 6 − p standing in for the spec's tan-based ratios, the
      // is_pos = 7 escape falling back to MS (or L/R) per the spec —
      // and MS bands reconstruct the butterfly L = M+S, R = M−S (the
      // spec's 1/sqrt(2) is pinned to unit scaling; MpegAudio
      // discipline: STRUCTURE exact, scale constants documented).
      if (nCh == 2 && joint) {
        val msOn = (modeExt & 2) != 0
        val isOn = (modeExt & 1) != 0
        val iStart =
          if (!isOn) 576
          else { // smallest band boundary at or above the right
            // channel's zero bound (last coded line); band b starts at
            // 26*b for b <= 21 and band 21 spans 546..575 (30 lines,
            // l3Band geometry), so past band 21 the boundary is 576
            var b = 0
            while (b < 22 && 26 * b < zeroBound(1)) b += 1
            if (b >= 22) 576 else 26 * b
          }
        var p = 0
        while (p < 576) {
          val ms =
            if (p >= iStart) {
              val bandOf = l3Band(p)
              val isPos = if (bandOf <= 20) sf(1)(bandOf) else 0
              require(isPos <= 7, "mpeg audio: intensity position beyond 7")
              if (isPos != 7) {
                val m = xrs(0)(p)
                xrs(0)(p) = m * isPos
                xrs(1)(p) = m * (6 - isPos)
                false
              } else msOn // is_pos 7: no intensity; MS if enabled
            } else msOn
          if (ms) {
            val m = xrs(0)(p)
            val s2 = xrs(1)(p)
            xrs(0)(p) = m + s2
            xrs(1)(p) = m - s2
          }
          p += 1
        }
      }
      // filterbank per channel
      var ch2 = 0
      val pcmCh = Array.ofDim[Long](nCh, 18 * 32)
      while (ch2 < nCh) {
      val xr = xrs(ch2)
      val bt = sides(gi)(ch2).bt
      val mixed = sides(gi)(ch2).mixed
      // alias reduction across the 31 subband boundaries — long-class
      // blocks only (the spec applies no aliasing butterflies to short);
      // mixed blocks butterfly ONLY the boundary between their two long
      // subbands (the spec's lower-two-subbands rule)
      var sb = if (bt == 2 && !mixed) 32 else 1
      val sbAliasEnd = if (bt == 2 && mixed) 2 else 32
      while (sb < sbAliasEnd) {
        var i = 0
        while (i < 8) {
          val ai = 18 * sb - 1 - i
          val bi = 18 * sb + i
          val a = xr(ai)
          val b = xr(bi)
          xr(ai) = a * l3Cs(i) - b * l3Ca(i)
          xr(bi) = b * l3Cs(i) + a * l3Ca(i)
          i += 1
        }
        sb += 1
      }
      // IMDCT (36-point long window), overlap-add, frequency inversion.
      // All-zero subbands contribute nothing new: their output is the
      // carried overlap and their next overlap is zero — skipping the
      // 36x18 transform for them is an exact identity
      val tim = Array.ofDim[Long](32, 18)
      sb = 0
      while (sb < 32) {
        var anyNz = false
        var k1 = 18 * sb
        while (k1 < 18 * sb + 18 && !anyNz) { anyNz = xr(k1) != 0L; k1 += 1 }
        if (anyNz) {
          val out = new Array[Long](36)
          if (bt == 2 && (!mixed || sb >= 2)) {
            // three 12-point short IMDCTs over this subband's
            // window-interleaved 6-line groups, windowed and overlapped
            // INSIDE the 36-sample granule output at offsets 6 + 6w
            var w = 0
            while (w < 3) {
              var pp = 0
              while (pp < 12) {
                var acc = 0L
                var k = 0
                while (k < 6) {
                  val v = xr(18 * sb + 6 * w + k)
                  if (v != 0L) acc += v * l3CosS(pp, k)
                  k += 1
                }
                out(6 + 6 * w + pp) += acc * l3WinS(pp)
                pp += 1
              }
              w += 1
            }
          } else {
          // mixed low subbands run the NORMAL long window (the spec's
          // block_type-0 treatment of the long part)
          val wbt = if (bt == 2) 0 else bt
          var pp = 0
          while (pp < 36) {
            var acc = 0L
            var k = 0
            while (k < 18) {
              if (xr(18 * sb + k) != 0L) acc += xr(18 * sb + k) * l3Cos(pp, k)
              k += 1
            }
            out(pp) = acc * l3WinSeq(wbt, pp)
            pp += 1
          }
          }
          var ss = 0
          while (ss < 18) {
            var v = out(ss) + overlap(ch2)(sb)(ss)
            if (sb % 2 == 1 && ss % 2 == 1) v = -v
            tim(sb)(ss) = v
            overlap(ch2)(sb)(ss) = out(18 + ss)
            ss += 1
          }
        } else {
          var ss = 0
          while (ss < 18) {
            var v = overlap(ch2)(sb)(ss)
            if (sb % 2 == 1 && ss % 2 == 1) v = -v
            tim(sb)(ss) = v
            overlap(ch2)(sb)(ss) = 0L
            ss += 1
          }
        }
        sb += 1
      }
      // polyphase: 18 steps of 32 subband samples
      val step = new Array[Long](32)
      val pcmBuf = new Array[Long](32)
      var ss = 0
      while (ss < 18) {
        var sb2 = 0
        while (sb2 < 32) { step(sb2) = tim(sb2)(ss); sb2 += 1 }
        synths(ch2).granule(step, pcmBuf, 0)
        var i = 0
        while (i < 32) { pcmCh(ch2)(ss * 32 + i) = pcmBuf(i); i += 1 }
        ss += 1
      }
      ch2 += 1
      }
      // PCM interleave, sample-major (L0, R0, L1, R1, ...)
      var t = 0
      while (t < 18 * 32) {
        var c = 0
        while (c < nCh) { pcmOut += pcmCh(c)(t); c += 1 }
        t += 1
      }
      gi += 1
    }
  }
}
