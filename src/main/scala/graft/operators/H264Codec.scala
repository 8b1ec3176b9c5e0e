package graft.operators

import graft.operators.Bits.{MsbReader, MsbWriter}

/** H.264/AVC (ITU-T H.264 / ISO 14496-10) codec in pure JDK. The NAL/RBSP
  * TRANSPORT and PARAMETER-SET machinery is implemented for real (Annex B
  * start codes, emulation-prevention three-byte insertion/removal,
  * exp-Golomb ue/se, SPS/PPS parsing with the full field walk, IDR slice
  * headers with the dec_ref_pic_marking syntax), and the macroblock layer
  * decodes I_PCM (mb_type 25) AND coded Intra_16x16 macroblocks: all four
  * 16x16 luma prediction modes (V/H/DC/Plane) and all four chroma modes
  * with the spec availability fallbacks, CAVLC residual decoding
  * (trailing ones, level prefix/suffix with suffixLength adaptation and
  * both escape forms, total_zeros, run_before, nC neighbor contexts from
  * per-4x4 TotalCoeff, the 6-bit FLC form at nC >= 8), the 4x4 integer
  * inverse transform, the Intra_16x16 luma-DC 4x4 Hadamard and chroma-DC
  * 2x2 Hadamard paths, per-MB QP tracking with the chroma QP offset/map.
  * Beyond that intra-16x16 core the decoded surface now covers nine-mode
  * Intra_4x4 (with the prediction-mode flag/rem syntax and neighbor
  * availability rules), P slices (P_Skip with derived motion,
  * P_L0 16x16/16x8/8x16, P_8x8 with all four sub_mb_types, quarter-pel
  * 6-tap luma / bilinear chroma motion compensation, median MV
  * prediction, two list-0 references, explicit weighted prediction),
  * B slices (B_Skip and B_Direct_16x16 via spatial direct derivation
  * AND, for display-reordered POC-between B pictures, temporal direct
  * with per-4x4-cell colocated sampling and DistScaleFactor scaling;
  * B_L0/B_L1/B_Bi 16x16 with default bi-prediction averaging over the
  * POC-ordered lists), the CABAC entropy backend (arithmetic engine,
  * context-modelled bins for all decoded syntax elements, cross-backend
  * parity with CAVLC), and the in-loop deblocking filter (bS derivation,
  * alpha/beta tables, the normal and strong filter paths with
  * slice-level offsets), sub-16x16 B partitions (the full Table 7-14
  * two-partition family and B_8x8 with every Table 7-18 sub type), and
  * multi-reference sub-partitions (per-partition / per-sub-MB ref_idx
  * in two-reference P slices), reference-list modification (8.2.4.3
  * picNum remapping), adaptive reference marking (MMCO-1 short-term
  * unmark with the 8.2.5 DPB update), per-partition weighted
  * multi-reference prediction, cabac_init_idc 1/2 (pinned per-idc
  * context init tables), and long-term reference machinery (MMCO
  * 2/3/4/6 with MaxLongTermFrameIdx bookkeeping, the 8.2.4.2.1
  * short-then-long default list order, idc-2 long-term naming in the
  * 7.3.3.1 modification syntax, and the long-term-immune sliding
  * window), MMCO 5's unmark-all + frame_num/POC reset (splice
  * semantics: the stream renumbers from the reset picture), and
  * B-slice reference-list modification (7.3.3.1 applied per list with
  * independent rolling picNum predictors) — the full 8.2.5 marking
  * surface. Remaining compositional bounds (B slices over long-term
  * references, temporal direct over a modified list 1) are REJECTED
  * loudly, never misdecoded.
  *
  * Transport, exp-Golomb, the EP-byte rule (00 00 0x with x ≤ 3), the
  * I_PCM sample walk, and all the structural CAVLC/transform/prediction
  * semantics above are bit-exact per the standard. Three value families
  * are documented PINNED IMPLEMENTATION VALUES (the repo's codec
  * discipline): the VLC codeword assignments for
  * coeff_token/total_zeros/run_before (exp-Golomb-indexed pinned
  * permutations over the spec alphabets and contexts), the dequant
  * v-table arithmetic, and the CABAC P sub_mb_type bin tree
  * (pinned '1'/'01'/'000'/'001' with local CtxSubMb contexts, vs spec
  * Table 9-38's '1'/'00'/'011'/'010' on ctx 21-23) — a tables-only swap
  * away from interop.
  *
  * Cited reference behavior: the reference repo ingests media only as
  * opaque URLs (SURVEY §2.1); the codec ladder is parity-plus for the
  * 100 TB multimodal pipeline.
  */
object H264Codec {

  // ---- bit I/O: the shared MSB-first core plus the RBSP-only checks -------

  private def rbspReader(rbsp: Array[Byte]): MsbReader =
    new MsbReader(rbsp, "h264", "RBSP truncated")

  /** rbsp_trailing_bits: stop bit + zero alignment. */
  private def trailing(bw: MsbWriter): Unit = { bw.put(1, 1); bw.alignZero() }

  /** rbsp_trailing_bits + cabac_zero_word-free tail. */
  private def trailing(br: MsbReader): Unit = {
    require(br.read(1) == 1, "h264: missing rbsp_stop_one_bit")
    require(br.alignByte() == 0, "h264: nonzero rbsp alignment bit")
    while (!br.atEnd) require(br.read(8) == 0, "h264: trailing garbage after RBSP stop")
  }

  /** Bit read that returns zero past the end (the CABAC engine reads
    * ahead of the true entropy content).
    */
  private def bitOrZero(br: MsbReader): Int = if (br.atEnd) 0 else br.read(1)

  // ---- NAL transport (Annex B) -------------------------------------------------

  /** RBSP → EBSP: insert the emulation-prevention byte 0x03 whenever two
    * zero bytes are followed by 0x00..0x03 (spec 7.4.1.1).
    */
  private[operators] def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros == 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** EBSP → RBSP: drop 0x03 after two zero bytes. */
  private[operators] def unescapeRbsp(ebsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(ebsp.length)
    var zeros = 0
    var i = 0
    while (i < ebsp.length) {
      val b = ebsp(i) & 0xff
      if (zeros == 2 && b == 3) {
        require(i + 1 >= ebsp.length || (ebsp(i + 1) & 0xff) <= 3,
          "h264: emulation-prevention byte not followed by 00..03")
        zeros = 0
      } else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  private def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    out.write(0); out.write(0); out.write(0); out.write(1) // start code
    out.write((refIdc << 5) | nalType) // forbidden_zero_bit = 0
    val esc = escapeRbsp(rbsp)
    out.write(esc, 0, esc.length)
    out.toByteArray
  }

  /** Split an Annex B stream into (nal_ref_idc, nal_unit_type, RBSP). */
  private[operators] def splitNals(b: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
    val nals = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Byte])]
    var i = 0
    def isStart3(j: Int) = j + 3 <= b.length &&
      b(j) == 0 && b(j + 1) == 0 && b(j + 2) == 1
    // leading start code (3- or 4-byte form)
    while (i < b.length && !isStart3(i)) {
      require(b(i) == 0, "h264: garbage before the first start code")
      i += 1
    }
    require(i < b.length, "h264: no NAL units")
    while (i < b.length) {
      i += 3 // skip 00 00 01
      val hdr = b(i) & 0xff
      require((hdr & 0x80) == 0, "h264: forbidden_zero_bit set")
      val refIdc = (hdr >> 5) & 3
      val nalType = hdr & 0x1f
      i += 1
      val start = i
      while (i < b.length && !isStart3(i) && !(i + 3 < b.length && b(i) == 0 && isStart3(i + 1)))
        i += 1
      var end = i
      if (i < b.length && !isStart3(i)) { end = i; i += 1 } // the 4-byte form's extra 0
      nals += ((refIdc, nalType, unescapeRbsp(java.util.Arrays.copyOfRange(b, start, end))))
    }
    nals.toSeq
  }

  // ---- parameter sets ------------------------------------------------------------

  final case class Sps(profile: Int, level: Int, widthMbs: Int, heightMbs: Int,
                       log2MaxFrameNum: Int, log2MaxPoc: Int)
  final case class Pps(entropyCabac: Boolean, picInitQp: Int, chromaQpOff: Int,
                       weightedPred: Boolean = false)

  private def writeSps(w: Int, h: Int): Array[Byte] = {
    val bw = new MsbWriter
    bw.put(66, 8) // profile_idc: Baseline
    bw.put(0, 8) // constraint flags + reserved
    bw.put(30, 8) // level_idc 3.0
    bw.ue(0) // sps id
    bw.ue(4) // log2_max_frame_num_minus4 → 8
    bw.ue(0) // pic_order_cnt_type 0
    bw.ue(4) // log2_max_pic_order_cnt_lsb_minus4 → 8
    bw.ue(1) // max_num_ref_frames
    bw.put(0, 1) // gaps_in_frame_num_value_allowed
    bw.ue(w / 16 - 1) // pic_width_in_mbs_minus1
    bw.ue(h / 16 - 1) // pic_height_in_map_units_minus1
    bw.put(1, 1) // frame_mbs_only_flag
    bw.put(1, 1) // direct_8x8_inference
    bw.put(0, 1) // frame_cropping_flag
    bw.put(0, 1) // vui_parameters_present
    trailing(bw)
    bw.bytes()
  }

  private def writePps(chromaQpOff: Int = 0, cabac: Boolean = false,
                       weighted: Boolean = false): Array[Byte] = {
    val bw = new MsbWriter
    bw.ue(0) // pps id
    bw.ue(0) // sps id
    bw.put(if (cabac) 1 else 0, 1) // entropy_coding_mode
    bw.put(0, 1) // bottom_field_pic_order_in_frame_present
    bw.ue(0) // num_slice_groups_minus1
    bw.ue(0) // num_ref_idx_l0_default_active_minus1
    bw.ue(0) // num_ref_idx_l1_default_active_minus1
    bw.put(if (weighted) 1 else 0, 1) // weighted_pred_flag
    bw.put(0, 2) // weighted_bipred_idc
    bw.se(0) // pic_init_qp_minus26
    bw.se(0) // pic_init_qs_minus26
    bw.se(chromaQpOff) // chroma_qp_index_offset
    bw.put(1, 1) // deblocking_filter_control_present
    bw.put(0, 1) // constrained_intra_pred
    bw.put(0, 1) // redundant_pic_cnt_present
    trailing(bw)
    bw.bytes()
  }

  private[operators] def parseSps(rbsp: Array[Byte]): Sps = {
    val br = rbspReader(rbsp)
    val profile = br.read(8)
    br.read(8) // constraints
    val level = br.read(8)
    require(br.ue() == 0, "h264: multiple SPS ids outside this profile")
    val lmfn = br.ue() + 4
    val poct = br.ue()
    require(poct == 0, "h264: pic_order_cnt_type != 0 outside this profile")
    val lmpoc = br.ue() + 4
    br.ue() // max_num_ref_frames
    br.read(1) // gaps allowed
    val wMbs = br.ue() + 1
    val hMbs = br.ue() + 1
    require(br.read(1) == 1, "h264: interlaced (frame_mbs_only=0) outside this profile")
    br.read(1) // direct_8x8
    require(br.read(1) == 0, "h264: frame cropping outside this profile")
    require(br.read(1) == 0, "h264: VUI outside this profile")
    trailing(br)
    Sps(profile, level, wMbs, hMbs, lmfn, lmpoc)
  }

  private[operators] def parsePps(rbsp: Array[Byte]): Pps = {
    val br = rbspReader(rbsp)
    require(br.ue() == 0 && br.ue() == 0, "h264: multiple parameter sets outside this profile")
    val cabac = br.read(1) == 1
    br.read(1) // bottom_field_pic_order
    require(br.ue() == 0, "h264: slice groups (FMO) outside this profile")
    br.ue(); br.ue() // ref idx defaults
    val weighted = br.read(1) == 1 // weighted_pred_flag (P explicit WP)
    require(br.read(2) == 0, "h264: weighted bi-prediction outside this profile")
    val qp = 26 + br.se()
    br.se() // pic_init_qs
    val chromaOff = br.se()
    require(chromaOff >= -12 && chromaOff <= 12, "h264: chroma_qp_index_offset out of range")
    br.read(1); br.read(1); br.read(1)
    trailing(br)
    Pps(cabac, qp, chromaOff, weighted)
  }

  // ---- encode ---------------------------------------------------------------------

  /** Encode one IDR frame of I_PCM macroblocks: `yOf/uOf/vOf` give each
    * pixel (luma: frame coords; chroma: half-res coords). Returns a full
    * Annex B stream (SPS + PPS + IDR slice).
    */
  def encode(w: Int, h: Int, yOf: (Int, Int) => Int,
             uOf: (Int, Int) => Int, vOf: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w % 16 == 0 && h % 16 == 0,
      "h264: this profile codes full-MB frames (no cropping)")
    val bw = new MsbWriter
    // slice header (IDR, slice_type 7 = I, all-picture slice)
    bw.ue(0) // first_mb_in_slice
    bw.ue(7) // slice_type: I (the 5..9 "all slices in picture" form)
    bw.ue(0) // pps id
    bw.put(0, 8) // frame_num (log2 8)
    bw.ue(0) // idr_pic_id
    bw.put(0, 8) // pic_order_cnt_lsb (log2 8)
    // dec_ref_pic_marking (IDR): no_output_of_prior_pics, long_term_reference
    bw.put(0, 1)
    bw.put(0, 1)
    bw.se(0) // slice_qp_delta
    bw.ue(1) // disable_deblocking_filter_idc: off (all-PCM frame; QP-0 rule
    // would make it a no-op anyway, but the header states the truth)
    var mb = 0
    val mbW = w / 16
    while (mb < mbW * (h / 16)) {
      val mx = (mb % mbW) * 16
      val my = (mb / mbW) * 16
      bw.ue(25) // mb_type: I_PCM
      bw.alignZero() // pcm_alignment_zero_bit*
      var i = 0
      while (i < 256) { bw.put(yOf(mx + i % 16, my + i / 16) & 0xff, 8); i += 1 }
      i = 0
      while (i < 64) { bw.put(uOf(mx / 2 + i % 8, my / 2 + i / 8) & 0xff, 8); i += 1 }
      i = 0
      while (i < 64) { bw.put(vOf(mx / 2 + i % 8, my / 2 + i / 8) & 0xff, 8); i += 1 }
      mb += 1
    }
    trailing(bw)
    val out = new java.io.ByteArrayOutputStream()
    Seq(nal(3, 7, writeSps(w, h)), nal(3, 8, writePps()),
      nal(3, 5, bw.bytes())).foreach(n => out.write(n, 0, n.length))
    out.toByteArray
  }

  // ---- coded Intra_16x16 encoder (steered fixtures) --------------------------------

  /** Fixture plan for a coded (non-PCM) IDR frame at slice QP 28 with
    * chroma_qp_index_offset -6: at those QPs the steered quantization is
    * exact — a luma DC level L moves every pixel of its MB by exactly L,
    * a chroma DC level g by exactly g, and the two fixture AC positions
    * (zigzag scan 1 and 5) produce exact column patterns — so the lossy
    * chain reconstructs closed-form targets EXACTLY (the
    * q_vp8_key_decode discipline).
    *
    * variant(mb): 0 = DC-only steered delta; 1 = zero luma residual
    * (the MB's luma IS the prediction — modes become oracle-visible);
    * 2 = DC + steered AC (luma block 0 column pattern, chroma Cb block 0
    * pattern, cbp chroma 2); 3 = I_PCM. The last MB (when the frame is
    * at least 2x2 MBs and planeLast) codes Plane prediction with zero
    * residual in both planes.
    *
    * modeSel(mb): desired luma mode 0 V / 1 H / 2 DC, availability-mapped
    * (row 0 cannot V, column 0 cannot H, the corner is DC); chroma mode
    * mirrors luma. tCb/tCr MUST be diagonal-striped (equal along
    * anti-diagonals) so chroma prediction stays uniform — the encoder
    * asserts it.
    */
  final case class IntraPlan(w: Int, h: Int,
                             variant: Int => Int,
                             modeSel: Int => Int,
                             tL: Int => Int, tCb: Int => Int, tCr: Int => Int,
                             acSign: Int => Int,
                             planeLast: Boolean = true,
                             i4VH: Int => Int = _ => 0,
                             i4Steer: Int => Int = _ => 1,
                             i4Modes: (Int, Int) => Int = null,
                             pcmY: (Int, Int, Int) => Int = null)

  def encodeIntra(plan: IntraPlan, cabac: Boolean = false,
                  deblock: Boolean = false): Array[Byte] = {
    val (slice, _, _, _) = intraSlice(plan, cabac, deblock)
    val out = new java.io.ByteArrayOutputStream()
    Seq(nal(3, 7, writeSps(plan.w, plan.h)), nal(3, 8, writePps(-6, cabac)),
      nal(3, 5, slice)).foreach(n => out.write(n, 0, n.length))
    out.toByteArray
  }

  /** Encode one steered IDR slice through the chosen entropy backend;
    * returns (slice RBSP, recon Y/U/V) so the inter encoder can use the
    * frame as a reference.
    */
  private def intraSlice(plan: IntraPlan, cabac: Boolean = false,
                         deblock: Boolean = false):
      (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    val w = plan.w; val h = plan.h
    require(w > 0 && h > 0 && w % 16 == 0 && h % 16 == 0,
      "h264: this profile codes full-MB frames (no cropping)")
    val qp = 28
    val chromaOff = -6
    val qpc = chromaQp(qp + chromaOff)
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val cw = w / 2; val ch = h / 2
    val recY = new Array[Byte](w * h)
    val recU = new Array[Byte](cw * ch)
    val recV = new Array[Byte](cw * ch)
    val modeG = new ModeGrid(mbW * 4, mbH * 4)
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(7) // slice_type: I
    bw.ue(0) // pps id
    bw.put(0, 8) // frame_num
    bw.ue(0) // idr_pic_id
    bw.put(0, 8) // pic_order_cnt_lsb
    bw.put(0, 1); bw.put(0, 1) // dec_ref_pic_marking (IDR)
    bw.se(qp - 26) // slice_qp_delta -> QP 28
    if (deblock) { bw.ue(0); bw.se(0); bw.se(0) } // filter on, zero offsets
    else bw.ue(1) // disable_deblocking_filter_idc: off
    val pcmMb = new Array[Boolean](nMb)
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH) else new CavlcSink(bw, mbW, mbH)
    var mb = 0
    while (mb < nMb) {
      val r = mb / mbW; val c = mb % mbW
      val mx = c * 16; val my = r * 16
      val cx = c * 8; val cy = r * 8
      val isPlane = plan.planeLast && mb == nMb - 1 && mbW >= 2 && mbH >= 2
      val v = if (isPlane) -1 else plan.variant(mb)
      val mode0 = plan.modeSel(mb)
      val mode =
        if (isPlane) 3
        else if (r == 0 && c == 0) 2
        else if (r == 0 && mode0 == 0) 2
        else if (c == 0 && mode0 == 1) 2
        else mode0
      if (v == 3) {
        val ty = plan.tL(mb); val tu = plan.tCb(mb); val tv = plan.tCr(mb)
        val ys = new Array[Int](256)
        var i = 0
        while (i < 256) {
          val px = if (plan.pcmY != null) plan.pcmY(mb, i % 16, i / 16) else ty
          ys(i) = px; recY((my + i / 16) * w + mx + i % 16) = px.toByte
          i += 1
        }
        val us = Array.fill(64)(tu)
        val vs = Array.fill(64)(tv)
        i = 0
        while (i < 64) {
          recU((cy + i / 8) * cw + cx + i % 8) = tu.toByte
          recV((cy + i / 8) * cw + cx + i % 8) = tv.toByte
          i += 1
        }
        snk.mbTypeI(25, mb)
        snk.pcm(ys, us, vs, mb)
        pcmMb(mb) = true
      } else if (v == 4) {
        // I_4x4 macroblock: per-block prediction (fixture: all-V /
        // all-H with edge fallbacks; spec hook i4Modes for the full
        // nine-mode family), prev_intra4x4_pred_mode coding against the
        // mode grid, CBP, and a steered DC residual in block 10 on
        // last-row vertical MBs (granularity 4 at QP 28 — quarantined:
        // nothing reads block 10's edges)
        val explicit = plan.i4Modes != null
        val eff =
          if (explicit) -1
          else if (r == 0 && c == 0) 2
          else if (r == 0) 1
          else if (c == 0) 0
          else plan.i4VH(mb)
        val steer = !explicit && eff == 0 && r == mbH - 1 && r > 0
        val cs = if (steer) plan.i4Steer(mb) else 0
        val modes = Array.tabulate(16)(b => if (explicit) plan.i4Modes(mb, b) else eff)
        val lumaCoef = Array.fill(16)(new Array[Int](16))
        if (cs != 0) lumaCoef(10)(0) = cs
        var b = 0
        while (b < 16) {
          val bx = mx + blkX(b); val by = my + blkY(b)
          val pr = predIntra4(modes(b), recY, w, h, bx, by)
          val dcoef = new Array[Int](16)
          var k = 0
          while (k < 16) {
            if (lumaCoef(b)(k) != 0) { val p = zig4(k); dcoef(p) = deqAc(lumaCoef(b)(k), qp, p) }
            k += 1
          }
          val rr = invCore4(dcoef)
          var yy = 0
          while (yy < 4) {
            var xx = 0
            while (xx < 4) {
              recY((by + yy) * w + bx + xx) =
                clip255(pr(yy * 4 + xx) + ((rr(yy * 4 + xx) + 32) >> 6)).toByte
              xx += 1
            }
            yy += 1
          }
          b += 1
        }
        if (!explicit) {
          val base = eff match {
            case 2 => 128
            case 1 => recY(my * w + mx - 1) & 0xff
            case _ => recY((my - 1) * w + mx) & 0xff
          }
          var i = 0
          while (i < 256) {
            val xx = i % 16; val yy = i / 16
            val want = base + (if (cs != 0 && xx < 4 && yy >= 12) 4 * cs else 0)
            require((recY((my + yy) * w + mx + xx) & 0xff) == want,
              "h264 fixture: I4x4 steering drift")
            i += 1
          }
        }
        val cmode = eff match { case 0 => 2; case 1 => 1; case _ => 0 }
        val pCb = predChroma8(cmode, recU, cw, cx, cy)
        val pCr = predChroma8(cmode, recV, cw, cx, cy)
        var i = 1
        while (i < 64) {
          require(pCb(i) == pCb(0) && pCr(i) == pCr(0),
            "h264 fixture: non-uniform chroma prediction (targets must be diagonal-striped)")
          i += 1
        }
        val dcCb = new Array[Int](4)
        val dcCr = new Array[Int](4)
        dcCb(0) = plan.tCb(mb) - pCb(0)
        dcCr(0) = plan.tCr(mb) - pCr(0)
        val cbpC = if (dcCb(0) != 0 || dcCr(0) != 0) 1 else 0
        val cbpLuma = if (cs != 0) 4 else 0
        val cbp = cbpLuma | (cbpC << 4)
        snk.mbTypeI(0, mb)
        b = 0
        while (b < 16) {
          val gx = c * 4 + blkX(b) / 4; val gy = r * 4 + blkY(b) / 4
          val mpm = modeG.mpm(gx, gy)
          snk.i4ModeBits(modes(b) == mpm,
            if (modes(b) < mpm) modes(b) else modes(b) - 1)
          modeG.set(gx, gy, modes(b))
          b += 1
        }
        snk.chromaMode(cmode, mb)
        snk.cbp(cbp, mb)
        if (cbp != 0) snk.qpDelta(0)
        var s8 = 0
        while (s8 < 4) {
          if (((cbpLuma >> s8) & 1) == 1) {
            var j = 0
            while (j < 4) {
              val bb = s8 * 4 + j
              snk.residual(2, 0, c * 4 + blkX(bb) / 4, r * 4 + blkY(bb) / 4, mb, lumaCoef(bb))
              j += 1
            }
          }
          s8 += 1
        }
        if (cbpC >= 1) {
          snk.residual(3, 1, 0, 0, mb, dcCb)
          snk.residual(3, 2, 0, 0, mb, dcCr)
        }
        val rU = reconChroma(pCb, dcCb, null, qpc)
        val rV = reconChroma(pCr, dcCr, null, qpc)
        if (!explicit) {
          var k = 0
          while (k < 64) {
            require(rU(k) == plan.tCb(mb), "h264 fixture: I4x4 Cb steering drift")
            require(rV(k) == plan.tCr(mb), "h264 fixture: I4x4 Cr steering drift")
            k += 1
          }
        }
        i = 0
        while (i < 64) {
          recU((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
          recV((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
          i += 1
        }
      } else {
        val pL = predIntra16(mode, recY, w, mx, my)
        val cmode = mode match { case 0 => 2; case 1 => 1; case 2 => 0; case 3 => 3 }
        val pCb = predChroma8(cmode, recU, cw, cx, cy)
        val pCr = predChroma8(cmode, recV, cw, cx, cy)
        val dcScan = new Array[Int](16)
        var acBlocks: Array[Array[Int]] = null
        val s = plan.acSign(mb)
        require(s == 1 || s == -1, "h264 fixture: acSign must be +-1")
        if (!isPlane && v != 1) {
          var i = 1
          while (i < 256) {
            require(pL(i) == pL(0), "h264 fixture: non-uniform luma prediction under steering")
            i += 1
          }
          dcScan(0) = plan.tL(mb) - pL(0)
          if (v == 2) {
            acBlocks = Array.fill(16)(new Array[Int](15))
            acBlocks(0)(0) = 2 * s // zigzag pos (0,1): column pattern (10,5,-5,-10)*s
            acBlocks(0)(4) = s // zigzag pos (0,2): column pattern (4,-4,-4,4)*s
          }
        }
        val dcCb = new Array[Int](4)
        val dcCr = new Array[Int](4)
        var acCb: Array[Array[Int]] = null
        var acCr: Array[Array[Int]] = null
        var cbpC = 0
        if (!isPlane) {
          var i = 1
          while (i < 64) {
            require(pCb(i) == pCb(0) && pCr(i) == pCr(0),
              "h264 fixture: non-uniform chroma prediction (targets must be diagonal-striped)")
            i += 1
          }
          dcCb(0) = plan.tCb(mb) - pCb(0)
          dcCr(0) = plan.tCr(mb) - pCr(0)
          if (v == 2) {
            cbpC = 2
            acCb = Array.fill(4)(new Array[Int](15))
            acCr = Array.fill(4)(new Array[Int](15))
            acCb(0)(4) = s // zigzag pos (0,2): +-2 column pattern
          } else cbpC = if (dcCb(0) != 0 || dcCr(0) != 0) 1 else 0
        }
        val cbpL15 = v == 2
        val mbType = 1 + mode + 4 * cbpC + (if (cbpL15) 12 else 0)
        snk.mbTypeI(mbType, mb)
        snk.chromaMode(cmode, mb)
        snk.qpDelta(0)
        snk.residual(0, 0, 0, 0, mb, dcScan)
        if (cbpL15) {
          var b = 0
          while (b < 16) {
            snk.residual(1, 0, c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, mb, acBlocks(b))
            b += 1
          }
        }
        if (cbpC >= 1) {
          snk.residual(3, 1, 0, 0, mb, dcCb)
          snk.residual(3, 2, 0, 0, mb, dcCr)
        }
        if (cbpC == 2) {
          var b = 0
          while (b < 4) {
            snk.residual(4, 1, c * 2 + (b & 1), r * 2 + (b >> 1), mb, acCb(b))
            b += 1
          }
          b = 0
          while (b < 4) {
            snk.residual(4, 2, c * 2 + (b & 1), r * 2 + (b >> 1), mb, acCr(b))
            b += 1
          }
        }
        // reconstruct through the SHARED decode arithmetic and pin the
        // steering: the closed-form targets must land exactly
        val rY = reconI16(pL, dcScan, acBlocks, qp)
        val rU = reconChroma(pCb, dcCb, acCb, qpc)
        val rV = reconChroma(pCr, dcCr, acCr, qpc)
        if (v == 0) {
          var i = 0
          while (i < 256) { require(rY(i) == plan.tL(mb), "h264 fixture: luma DC steering drift"); i += 1 }
        } else if (v == 2) {
          val off = Array(14 * s, s, -9 * s, -6 * s)
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              val want = plan.tL(mb) + (if (yy < 4 && xx < 4) off(xx) else 0)
              require(rY(yy * 16 + xx) == want, "h264 fixture: luma AC steering drift")
              xx += 1
            }
            yy += 1
          }
        }
        if (!isPlane) {
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val co = if (v == 2 && yy < 4 && xx < 4) 2 * s * Array(1, -1, -1, 1)(xx) else 0
              require(rU(yy * 8 + xx) == plan.tCb(mb) + co, "h264 fixture: Cb steering drift")
              require(rV(yy * 8 + xx) == plan.tCr(mb), "h264 fixture: Cr steering drift")
              xx += 1
            }
            yy += 1
          }
        }
        var i = 0
        while (i < 256) { recY((my + i / 16) * w + mx + i % 16) = rY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          recU((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
          recV((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
          i += 1
        }
      }
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    if (deblock) {
      val meta = new H264Deblock.DeblockMeta(mbW, mbH)
      java.util.Arrays.fill(meta.intraMb, true)
      java.util.Arrays.fill(meta.qpMb, 0, nMb, qp)
      System.arraycopy(pcmMb, 0, meta.pcmMb, 0, nMb)
      // mg unused: every MB is intra, so bS never consults motion
      H264Deblock.filterFrame(recY, recU, recV, w, h, meta, null, chromaOff, 0, 0)
    }
    (bw.bytes(), recY, recU, recV)
  }

  // ---- P slices (inter prediction) -------------------------------------------------

  /** One frame-2 macroblock of the inter fixture plan. kind: 0 = P_Skip,
    * 1 = P_L0_16x16 with motion `mv` (any quarter-pel vector) AND a
    * steered whole-MB luma delta of 4*dL plus granularity-1 chroma
    * steering to tCb/tCr (requires the MC prediction to be uniform —
    * point the vector at a uniform source region), 2 = P_L0_16x16 with
    * motion `mv` and no residual, 3 = Intra_16x16 (DC luma) steered to
    * tL/tCb/tCr, 5 = P_L0_L0_16x8 (mv = top partition, mv2 = bottom),
    * 6 = P_L0_L0_8x16 (mv = left, mv2 = right) — both without residual,
    * 7 = P_8x8 with P_L0_8x8 sub-types (mvs8: quadrant 0..3 -> mv), no
    * residual.
    */
  final case class PMb(kind: Int, mv: (Int, Int) = (0, 0), dL: Int = 0,
                       tL: Int = 0, tCb: Int = 0, tCr: Int = 0,
                       mv2: (Int, Int) = (0, 0),
                       mvs8: Int => (Int, Int) = null,
                       sub4: Int => Int = null,
                       mvs4: (Int, Int) => (Int, Int) = null)

  /** Sub-partitions of a P_8x8 quadrant by sub_mb_type, as
    * (lx, ly, wC, hC) in 4x4-cell units relative to the quadrant: 0 one
    * 8x8, 1 two 8x4, 2 two 4x8, 3 four 4x4 (decode order).
    */
  private def subParts(t: Int): Seq[(Int, Int, Int, Int)] = t match {
    case 0 => Seq((0, 0, 2, 2))
    case 1 => Seq((0, 0, 2, 1), (0, 1, 2, 1))
    case 2 => Seq((0, 0, 1, 2), (1, 0, 1, 2))
    case _ => Seq((0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1))
  }

  /** B two-partition mb_type spec (Table 7-14, types 4..21): the
    * list-usage mask per partition (1 = L0 only, 2 = L1 only, 3 = Bi)
    * and whether the split is 16x8 (even types) or 8x16 (odd).
    */
  private def bPartSpec(mbType: Int): ((Int, Int), Boolean) = {
    require(mbType >= 4 && mbType <= 21, s"h264: B mb_type $mbType is not two-partition")
    val pair = (mbType - 4) / 2 match {
      case 0 => (1, 1)
      case 1 => (2, 2)
      case 2 => (1, 2)
      case 3 => (2, 1)
      case 4 => (1, 3)
      case 5 => (2, 3)
      case 6 => (3, 1)
      case 7 => (3, 2)
      case _ => (3, 3)
    }
    (pair, (mbType - 4) % 2 == 0)
  }

  /** B sub_mb_type spec (Table 7-18): list-usage mask (0 = direct) and
    * the [[subParts]] shape index (0 = 8x8, 1 = 8x4, 2 = 4x8, 3 = 4x4).
    */
  private def bSubSpec(t: Int): (Int, Int) = t match {
    case 0 => (0, 0)
    case 1 => (1, 0)
    case 2 => (2, 0)
    case 3 => (3, 0)
    case 4 => (1, 1)
    case 5 => (1, 2)
    case 6 => (2, 1)
    case 7 => (2, 2)
    case 8 => (3, 1)
    case 9 => (3, 2)
    case 10 => (1, 3)
    case 11 => (2, 3)
    case 12 => (3, 3)
    case _ => throw new IllegalArgumentException(s"h264: B sub_mb_type $t out of range")
  }

  /** One frame-3 macroblock of the B-slice fixture plan. kind: 0 =
    * B_L0_16x16 (list 0 = the P frame), 1 = B_L1_16x16 (list 1 = the
    * IDR), 2 = B_Bi_16x16 (the spec's default (p0 + p1 + 1) >> 1
    * average), 3 = Intra_16x16 steered to tL/tCb/tCr, 4 = B_Skip, 5 =
    * B_Direct_16x16, 6 = two-partition 16x8/8x16 (`raw2` is the Table
    * 7-14 mb_type 4..21; `pmv(part, list)` the per-partition per-list
    * vectors), 7 = B_8x8 (`bsub(q)` the Table 7-18 sub_mb_type per
    * raster quadrant; `bmvs(q, subIdx, list)` the sub-partition
    * vectors). mv0/mv1 are the 16x16 per-list vectors; no residual on
    * inter kinds.
    */
  final case class BMb(kind: Int, mv0: (Int, Int) = (0, 0), mv1: (Int, Int) = (0, 0),
                       tL: Int = 0, tCb: Int = 0, tCr: Int = 0,
                       raw2: Int = 0,
                       pmv: (Int, Int) => (Int, Int) = null,
                       bsub: Int => Int = null,
                       bmvs: (Int, Int, Int) => (Int, Int) = null)

  /** One macroblock of the weighted multi-reference P slice: P_L0_16x16
    * choosing its list-0 reference explicitly (0 = the P frame, 1 = the
    * IDR), no residual.
    */
  final case class WMb(refIdx: Int, mv: (Int, Int) = (0, 0))

  /** One macroblock of the non-weighted MULTI-REFERENCE P slice (two
    * active list-0 references: 0 = the P frame, 1 = the IDR). kind: 0 =
    * P_L0_16x16, 5 = P_L0_L0_16x8, 6 = P_L0_L0_8x16 — `refs`/`mvs` by
    * partition index — and 7 = P_8x8 (`sub4(q)` the sub_mb_type per
    * raster quadrant, `refs(q)` ONE reference per sub-MB as the spec
    * requires, `mvs8(q, j)` per sub-partition in decode order).
    */
  final case class MrMb(kind: Int, refs: Int => Int,
                        mvs: Int => (Int, Int) = null,
                        sub4: Int => Int = null,
                        mvs8: (Int, Int) => (Int, Int) = null)

  /** Explicit P-slice weighted-prediction table: log2 denominators and
    * per-reference (weight, offset) for luma / Cb / Cr.
    */
  final case class WeightSpec(lumaDenom: Int, chromaDenom: Int,
                              luma: Seq[(Int, Int)],
                              cb: Seq[(Int, Int)], cr: Seq[(Int, Int)])

  /** Two-frame plan: frame 1 IDR from `intra`, frame 2 P from `pmb`;
    * when `bmb` is set a third (non-reference) B slice follows. By
    * default it displays after both references (poc 4): list 0 = the P
    * frame, list 1 = the IDR, spatial direct. With `bTemporal` the B is
    * display-REORDERED between them (poc 1): the POC-default lists flip
    * (list 0 = the IDR, list 1 = the P frame), the slice signals
    * direct_spatial_mv_pred_flag = 0, and skip/direct MBs scale the
    * colocated P-frame motion per 4x4 cell (8.4.1.2.3, tb/td = 1/2).
    * When `wmb` is set a non-reference WEIGHTED
    * multi-reference P slice follows instead: PPS weighted_pred_flag=1
    * (frame 2 carries an identity pred_weight_table), two list-0
    * references, per-MB ref_idx, and `wspec`'s explicit weights.
    */
  final case class InterPlan(intra: IntraPlan, pmb: Int => PMb,
                             bmb: Int => BMb = null,
                             wmb: Int => WMb = null,
                             wspec: WeightSpec = null,
                             bTemporal: Boolean = false,
                             mrmb: Int => MrMb = null,
                             // multi-ref slice: emit a ref_pic_list
                             // modification putting the IDR at refIdx 0
                             mrModify: Boolean = false,
                             // before the multi-ref slice, emit a REFERENCE
                             // all-P_Skip frame whose dec_ref_pic_marking
                             // MMCO-1 unmarks the P frame (picNum 1), so the
                             // DPB becomes [skip-copy, IDR] instead of the
                             // sliding window's [skip-copy, P]
                             mmco: Boolean = false,
                             // cabac_init_idc of the P slice (0..2): selects
                             // the pinned context-initialization table
                             cabacIdc: Int = 0,
                             // long-term reference chain before the probe
                             // (-1 off): 0 = MMCO 4+3+1 (the IDR becomes
                             // long-term 0, probe list [mark-copy, IDR-lt]);
                             // 1 = MMCO 4+1+6 (the marking frame itself goes
                             // long-term, reconstructed one stripe SHIFTED so
                             // the list order is value-visible); 2 = chain 0
                             // then an MMCO-2 unmark (probe over two
                             // short-terms again); 3 = chain 0 with the probe
                             // naming the long-term via a 7.3.3.1 idc-2
                             // modification (list flipped to [IDR-lt, copy]);
                             // 4 = MMCO 5 splice (DPB + frame_num/POC reset,
                             // then a post-reset reference the probe must
                             // order by the RESET numbering)
                             ltVariant: Int = -1,
                             // B-slice list modification (7.3.3.1): swap
                             // the named list's two-picture default via
                             // one idc-0 command — spatial B only
                             bModL0: Boolean = false,
                             bModL1: Boolean = false)

  /** Per-4x4-cell motion state of the frame being decoded: refIdx (-1
    * for intra and not-yet-decoded), quarter-pel mv components. Neighbor
    * derivation for MV prediction reads specific cells, so sub-MB
    * partitions (16x8 / 8x16) predict against the right sources.
    */
  private[operators] final class MotionGrid(val mbW: Int, val mbH: Int) {
    val gw: Int = mbW * 4
    val gh: Int = mbH * 4
    val ref: Array[Int] = Array.fill(gw * gh)(-1)
    val mvx: Array[Int] = new Array[Int](gw * gh)
    val mvy: Array[Int] = new Array[Int](gw * gh)
    def fill(cx: Int, cy: Int, wC: Int, hC: Int, r0: Int, x0: Int, y0: Int): Unit = {
      var y = cy
      while (y < cy + hC) {
        var x = cx
        while (x < cx + wC) {
          ref(y * gw + x) = r0; mvx(y * gw + x) = x0; mvy(y * gw + x) = y0
          x += 1
        }
        y += 1
      }
    }
  }

  /** Cell availability at the time macroblock `mb`'s partition is being
    * decoded: earlier raster MBs and, within the current MB, cells an
    * earlier partition already wrote (`writtenInMb` on MB-local cell
    * coords).
    */
  private def cellAvail(g: MotionGrid, mb: Int, x: Int, y: Int,
                        writtenInMb: (Int, Int) => Boolean): Boolean = {
    if (x < 0 || y < 0 || x >= g.gw || y >= g.gh) false
    else {
      val owner = (y / 4) * g.mbW + x / 4
      owner < mb || (owner == mb && writtenInMb(x % 4, y % 4))
    }
  }

  private[operators] val noneWritten: (Int, Int) => Boolean = (_, _) => false

  /** Motion-vector predictor (8.4.1.3) for a partition whose top-left
    * cell is (cx0, cy0) spanning wC cells. `part`: 0 = 16x16, 1 = top
    * 16x8, 2 = bottom 16x8, 3 = left 8x16, 4 = right 8x16 — the spec's
    * directional preferences (top->B, bottom->A, left->A, right->C when
    * that neighbor's reference matches) come first, then the
    * B-and-C-unavailable rule, the exactly-one-matching-reference rule,
    * and the component median. Intra and unavailable neighbors carry
    * refIdx -1 and mv (0,0); C falls back to D (above-left).
    */
  private[operators] def mvPredictPart(g: MotionGrid, mb: Int, cx0: Int, cy0: Int,
                                       wC: Int, part: Int,
                                       writtenInMb: (Int, Int) => Boolean,
                                       refIdx: Int = 0): (Int, Int) = {
    def avail(x: Int, y: Int): Boolean = cellAvail(g, mb, x, y, writtenInMb)
    def info(x: Int, y: Int): (Int, Int, Int) =
      if (avail(x, y)) (g.ref(y * g.gw + x), g.mvx(y * g.gw + x), g.mvy(y * g.gw + x))
      else (-1, 0, 0)
    val a = info(cx0 - 1, cy0)
    val b = info(cx0, cy0 - 1)
    val cAvail = avail(cx0 + wC, cy0 - 1)
    val cc = if (cAvail) info(cx0 + wC, cy0 - 1) else info(cx0 - 1, cy0 - 1)
    val cOrD = cAvail || avail(cx0 - 1, cy0 - 1)
    part match {
      case 1 => if (b._1 == refIdx) return (b._2, b._3)
      case 2 => if (a._1 == refIdx) return (a._2, a._3)
      case 3 => if (a._1 == refIdx) return (a._2, a._3)
      case 4 => if (cc._1 == refIdx) return (cc._2, cc._3)
      case _ => ()
    }
    if (!avail(cx0, cy0 - 1) && !cOrD && avail(cx0 - 1, cy0)) return (a._2, a._3)
    val same = Seq(a, b, cc).filter(_._1 == refIdx)
    if (same.length == 1) return (same.head._2, same.head._3)
    def med(x: Int, y: Int, z: Int) =
      x + y + z - math.min(x, math.min(y, z)) - math.max(x, math.max(y, z))
    (med(a._2, b._2, cc._2), med(a._3, b._3, cc._3))
  }

  /** P_Skip motion (8.4.1.1): zero if the left or above neighbor cell is
    * unavailable or is an inter cell with refIdx 0 and mv (0,0);
    * otherwise the 16x16 predictor.
    */
  private[operators] def skipMvCell(g: MotionGrid, mb: Int, cx0: Int, cy0: Int): (Int, Int) = {
    def zeroTrig(x: Int, y: Int): Boolean =
      !cellAvail(g, mb, x, y, noneWritten) ||
        (g.ref(y * g.gw + x) == 0 && g.mvx(y * g.gw + x) == 0 && g.mvy(y * g.gw + x) == 0)
    if (zeroTrig(cx0 - 1, cy0) || zeroTrig(cx0, cy0 - 1)) (0, 0)
    else mvPredictPart(g, mb, cx0, cy0, 4, 0, noneWritten)
  }

  /** B spatial direct motion (8.4.1.2.2) in the two-reference profile:
    * per-list MinPositive reference over the A/B/C (C->D substitution)
    * neighbor cells, median mvs through the standard ref-matching
    * predictor, zero-prediction (both refs 0, zero mvs, bi) when every
    * neighbor list comes up empty. The colocated picture
    * (RefPicList1[0]) is the all-intra IDR in every stream this codec
    * emits, so the spec's colZeroFlag is identically FALSE (intra
    * colocated => refIdxCol = -1 fails the flag's refIdxCol == 0 test)
    * and the temporal clause never engages — documented, not skipped.
    */
  private def directSpatial(mg0: MotionGrid, mg1: MotionGrid, mb: Int,
                            cx: Int, cy: Int): (Int, (Int, Int), Int, (Int, Int)) = {
    def minPos(g: MotionGrid): Int = {
      def refAt(x: Int, y: Int): Int =
        if (cellAvail(g, mb, x, y, noneWritten)) g.ref(y * g.gw + x) else -1
      val a = refAt(cx - 1, cy)
      val b = refAt(cx, cy - 1)
      val cAvail = cellAvail(g, mb, cx + 4, cy - 1, noneWritten)
      val cc = if (cAvail) refAt(cx + 4, cy - 1) else refAt(cx - 1, cy - 1)
      val pos = Seq(a, b, cc).filter(_ >= 0)
      if (pos.isEmpty) -1 else pos.min
    }
    val r0 = minPos(mg0)
    val r1 = minPos(mg1)
    if (r0 < 0 && r1 < 0) (0, (0, 0), 0, (0, 0))
    else (
      r0,
      if (r0 >= 0) mvPredictPart(mg0, mb, cx, cy, 4, 0, noneWritten, r0) else (0, 0),
      r1,
      if (r1 >= 0) mvPredictPart(mg1, mb, cx, cy, 4, 0, noneWritten, r1) else (0, 0))
  }

  /** Whole-MB motion compensation from the reference frame, with the
    * REAL spec interpolation (8.4.2.2): quarter-pel luma through the
    * (1,-5,20,20,-5,1) six-tap half-pel filter — including the center
    * position j built from UNROUNDED intermediates with the +512 >> 10
    * normalization — and the quarter-position averages; eighth-pel
    * bilinear chroma with the ((8-dx)(8-dy)A + ... + 32) >> 6 kernel.
    * Out-of-frame support uses the spec's edge extension (coordinate
    * clamping), so MVs are unrestricted.
    */
  private[operators] def mcFetch(ref: H264Frame, mx: Int, my: Int, mvX: Int, mvY: Int):
      (Array[Int], Array[Int], Array[Int]) =
    mcFetchRect(ref, mx, my, 16, 16, mvX, mvY)

  /** Rounded bi-prediction average, element-wise. Replaces the
    * `a.zip(b).map { ... }` idiom at the B-slice averaging sites —
    * jstack-measured hot (a boxed tuple per pixel per bi-predicted
    * block); identical values.
    */
  private def avgRound(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length)
    var i = 0
    while (i < out.length) { out(i) = (a(i) + b(i) + 1) >> 1; i += 1 }
    out
  }

  /** [[avgRound]] over a (luma, cb, cr) plane triple. */
  private def avgPlanes(f0: (Array[Int], Array[Int], Array[Int]),
                        f1: (Array[Int], Array[Int], Array[Int])):
      (Array[Int], Array[Int], Array[Int]) =
    (avgRound(f0._1, f1._1), avgRound(f0._2, f1._2), avgRound(f0._3, f1._3))

  /** Rectangular MC fetch for sub-MB partitions: luma wP x hP plus the
    * corresponding wP/2 x hP/2 chroma.
    */
  private[operators] def mcFetchRect(ref: H264Frame, mx: Int, my: Int, wP: Int, hP: Int,
                                     mvX: Int, mvY: Int):
      (Array[Int], Array[Int], Array[Int]) = {
    val w = ref.width; val h = ref.height
    val xI = mx + (mvX >> 2); val yI = my + (mvY >> 2)
    val fx = mvX & 3; val fy = mvY & 3
    def P(x: Int, y: Int): Int =
      ref.y(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x))) & 0xff
    // raw (unrounded) six-tap sums
    def bRaw(x: Int, y: Int): Int =
      P(x - 2, y) - 5 * P(x - 1, y) + 20 * P(x, y) + 20 * P(x + 1, y) -
        5 * P(x + 2, y) + P(x + 3, y)
    def hRaw(x: Int, y: Int): Int =
      P(x, y - 2) - 5 * P(x, y - 1) + 20 * P(x, y) + 20 * P(x, y + 1) -
        5 * P(x, y + 2) + P(x, y + 3)
    def half(raw: Int): Int = clip255((raw + 16) >> 5)
    // center j: vertical six-tap over the raw horizontal sums
    def jVal(x: Int, y: Int): Int = clip255((bRaw(x, y - 2) - 5 * bRaw(x, y - 1) +
      20 * bRaw(x, y) + 20 * bRaw(x, y + 1) - 5 * bRaw(x, y + 2) + bRaw(x, y + 3) + 512) >> 10)
    def avg(a: Int, b: Int): Int = (a + b + 1) >> 1
    val pY = new Array[Int](wP * hP)
    // fractional-position selector hoisted to an Int so the per-pixel
    // dispatch is a tableswitch — the previous (fx, fy) tuple match
    // allocated a Tuple2 per pixel (jstack-hot on the B families)
    val sel = (fx << 2) | fy
    var i = 0
    while (i < wP * hP) {
      val x = xI + i % wP; val y = yI + i / wP
      pY(i) = (sel: @scala.annotation.switch) match {
        case 0x0 /* (0,0) */ => P(x, y)
        case 0x8 /* (2,0) */ => half(bRaw(x, y))
        case 0x2 /* (0,2) */ => half(hRaw(x, y))
        case 0x4 /* (1,0) */ => avg(P(x, y), half(bRaw(x, y)))
        case 0xc /* (3,0) */ => avg(half(bRaw(x, y)), P(x + 1, y))
        case 0x1 /* (0,1) */ => avg(P(x, y), half(hRaw(x, y)))
        case 0x3 /* (0,3) */ => avg(half(hRaw(x, y)), P(x, y + 1))
        case 0xa /* (2,2) */ => jVal(x, y)
        case 0x5 /* (1,1) */ => avg(half(bRaw(x, y)), half(hRaw(x, y)))
        case 0xd /* (3,1) */ => avg(half(bRaw(x, y)), half(hRaw(x + 1, y)))
        case 0x7 /* (1,3) */ => avg(half(hRaw(x, y)), half(bRaw(x, y + 1)))
        case 0xf /* (3,3) */ => avg(half(hRaw(x + 1, y)), half(bRaw(x, y + 1)))
        case 0x9 /* (2,1) */ => avg(half(bRaw(x, y)), jVal(x, y))
        case 0xb /* (2,3) */ => avg(jVal(x, y), half(bRaw(x, y + 1)))
        case 0x6 /* (1,2) */ => avg(half(hRaw(x, y)), jVal(x, y))
        case 0xe /* (3,2) */ => avg(jVal(x, y), half(hRaw(x + 1, y)))
        case _ => throw new IllegalStateException("unreachable")
      }
      i += 1
    }
    val cw = w / 2; val chh = h / 2
    def PC(plane: Array[Byte], x: Int, y: Int): Int =
      plane(math.max(0, math.min(chh - 1, y)) * cw + math.max(0, math.min(cw - 1, x))) & 0xff
    val cxI = mx / 2 + (mvX >> 3); val cyI = my / 2 + (mvY >> 3)
    val cdx = mvX & 7; val cdy = mvY & 7
    val cwP = wP / 2; val chP = hP / 2
    val pU = new Array[Int](cwP * chP)
    val pV = new Array[Int](cwP * chP)
    i = 0
    while (i < cwP * chP) {
      val x = cxI + i % cwP; val y = cyI + i / cwP
      def bil(pl: Array[Byte]): Int =
        ((8 - cdx) * (8 - cdy) * PC(pl, x, y) + cdx * (8 - cdy) * PC(pl, x + 1, y) +
          (8 - cdx) * cdy * PC(pl, x, y + 1) + cdx * cdy * PC(pl, x + 1, y + 1) + 32) >> 6
      pU(i) = bil(ref.u)
      pV(i) = bil(ref.v)
      i += 1
    }
    (pY, pU, pV)
  }

  /** Encode the two-frame IDR + P sequence: SPS, PPS, IDR slice (frame
    * 1), non-IDR P slice (frame 2, frame_num 1) referencing frame 1.
    */
  def encodeInter(p: InterPlan, cabac: Boolean = false,
                  deblockP: Boolean = false,
                  deblockB: Boolean = false): Array[Byte] = {
    require(p.wmb == null || p.wspec != null,
      "h264 fixture: the weighted slice needs a WeightSpec")
    require(p.wspec == null ||
      (p.wspec.luma.size == 2 && p.wspec.cb.size == 2 && p.wspec.cr.size == 2),
      "h264 fixture: two list-0 references need two weight entries")
    // the PPS weighted_pred_flag is stream-global (set whenever wspec is
    // present), but mmcoSkipSlice doesn't emit a pred_weight_table — the
    // combination would emit a P slice our own parser desyncs on, so
    // refuse it here instead of relying on fixture convention
    require(!(p.mmco && p.wspec != null),
      "h264 fixture: MMCO probe slice under a weighted-pred PPS is unsupported")
    // the IDR stays unfiltered (idc=1) so the reference frame keeps the
    // plan's exact steered constants; only the P slice opts in
    val (idrSlice, rY, rU, rV) = intraSlice(p.intra, cabac)
    val w = p.intra.w; val h = p.intra.h
    val ref = H264Frame(w, h, rY, rU, rV)
    val qp = 28
    val qpc = chromaQp(qp - 6)
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val cw = w / 2
    val recY = new Array[Byte](w * h)
    val recU = new Array[Byte](cw * (h / 2))
    val recV = new Array[Byte](cw * (h / 2))
    val mg = new MotionGrid(mbW, mbH)
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(5) // slice_type: P
    bw.ue(0) // pps id
    bw.put(1, 8) // frame_num 1
    bw.put(2, 8) // pic_order_cnt_lsb
    bw.put(0, 1) // num_ref_idx_active_override_flag
    bw.put(0, 1) // ref_pic_list_modification_flag_l0
    if (p.wspec != null) {
      // PPS-level weighted_pred_flag covers every P slice: this simple
      // one carries the identity table (default weights = 1<<denom, 0)
      bw.ue(p.wspec.lumaDenom)
      bw.ue(p.wspec.chromaDenom)
      bw.put(0, 1) // luma_weight_l0_flag
      bw.put(0, 1) // chroma_weight_l0_flag
    }
    bw.put(0, 1) // adaptive_ref_pic_marking_mode_flag (sliding window)
    if (cabac) bw.ue(p.cabacIdc) // cabac_init_idc (7.3.3: selects the init table)
    bw.se(qp - 26) // slice_qp_delta
    if (deblockP) { bw.ue(0); bw.se(0); bw.se(0) } // filter on, zero offsets
    else bw.ue(1) // disable_deblocking_filter_idc: off
    val meta = new H264Deblock.DeblockMeta(mbW, mbH)
    java.util.Arrays.fill(meta.qpMb, qp)
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH, p.cabacIdc) else new CavlcSink(bw, mbW, mbH)
    var mb = 0
    while (mb < nMb) {
      val r = mb / mbW; val c = mb % mbW
      val mx = c * 16; val my = r * 16
      val cx = c * 8; val cy = r * 8
      val m0 = p.pmb(mb)
      if (m0.kind == 0) {
        val smv = skipMvCell(mg, mb, c * 4, r * 4)
        require(smv == ((0, 0)), "h264 fixture: skip MV must derive to zero by construction")
        val (pY, pU, pV) = mcFetch(ref, mx, my, smv._1, smv._2)
        var i = 0
        while (i < 256) { recY((my + i / 16) * w + mx + i % 16) = pY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          recU((cy + i / 8) * cw + cx + i % 8) = pU(i).toByte
          recV((cy + i / 8) * cw + cx + i % 8) = pV(i).toByte
          i += 1
        }
        mg.fill(c * 4, r * 4, 4, 4, 0, 0, 0)
        snk.pSkip(flag = true, mb)
      } else {
        snk.pSkip(flag = false, mb)
        if (m0.kind == 3) {
          // Intra_16x16 in a P slice: DC luma, V/H/DC chroma by edge
          snk.pMbType(5 + 1 + 2 + 4 * 1, mb) // mb_type = 5 + I16x16(DC, cbpC 1, cbpL 0)
          val pL = predIntra16(2, recY, w, mx, my)
          val cmode = if (r == 0 && c == 0) 0 else if (r == 0) 1 else 2
          val pCb = predChroma8(cmode, recU, cw, cx, cy)
          val pCr = predChroma8(cmode, recV, cw, cx, cy)
          var i = 1
          while (i < 64) {
            require(pCb(i) == pCb(0) && pCr(i) == pCr(0),
              "h264 fixture: non-uniform chroma prediction in P-slice intra MB")
            i += 1
          }
          snk.chromaMode(cmode, mb)
          snk.qpDelta(0)
          val dcScan = new Array[Int](16)
          dcScan(0) = m0.tL - pL(0)
          val dcCb = new Array[Int](4); dcCb(0) = m0.tCb - pCb(0)
          val dcCr = new Array[Int](4); dcCr(0) = m0.tCr - pCr(0)
          snk.residual(0, 0, 0, 0, mb, dcScan)
          snk.residual(3, 1, 0, 0, mb, dcCb)
          snk.residual(3, 2, 0, 0, mb, dcCr)
          val rYm = reconI16(pL, dcScan, null, qp)
          val rUm = reconChroma(pCb, dcCb, null, qpc)
          val rVm = reconChroma(pCr, dcCr, null, qpc)
          i = 0
          while (i < 256) {
            require(rYm(i) == m0.tL, "h264 fixture: P-slice intra luma steering drift")
            recY((my + i / 16) * w + mx + i % 16) = rYm(i).toByte
            i += 1
          }
          i = 0
          while (i < 64) {
            require(rUm(i) == m0.tCb && rVm(i) == m0.tCr,
              "h264 fixture: P-slice intra chroma steering drift")
            recU((cy + i / 8) * cw + cx + i % 8) = rUm(i).toByte
            recV((cy + i / 8) * cw + cx + i % 8) = rVm(i).toByte
            i += 1
          }
          // refIdx stays -1 (intra); nC grid: DC-only luma leaves 0
          meta.intraMb(mb) = true
        } else if (m0.kind == 8) {
          // P_8x8 with the FULL sub-partition family (8x8/8x4/4x8/4x4):
          // four sub_mb_types then every sub-partition's mvd in decode
          // order, recon per sub-rect
          snk.pMbType(3, mb)
          var k = 0
          while (k < 4) { snk.subMbType8(m0.sub4(k)); k += 1 }
          val wr = Array.ofDim[Boolean](4, 4)
          val written: (Int, Int) => Boolean = (x0, y0) => wr(y0)(x0)
          k = 0
          while (k < 4) {
            val qx = (k & 1) * 2; val qy = (k >> 1) * 2
            subParts(m0.sub4(k)).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
              val cx0 = c * 4 + qx + lx; val cy0 = r * 4 + qy + ly
              val mv = m0.mvs4(k, j)
              val mvp = mvPredictPart(mg, mb, cx0, cy0, wC, 0, written)
              snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, cx0, cy0, wC, hC)
              mg.fill(cx0, cy0, wC, hC, 0, mv._1, mv._2)
              var yy = 0
              while (yy < hC) {
                var xx = 0
                while (xx < wC) { wr(qy + ly + yy)(qx + lx + xx) = true; xx += 1 }
                yy += 1
              }
              val (pY, pU, pV) = mcFetchRect(ref, mx + (qx + lx) * 4,
                my + (qy + ly) * 4, wC * 4, hC * 4, mv._1, mv._2)
              val wP = wC * 4
              var i = 0
              while (i < pY.length) {
                recY((my + (qy + ly) * 4 + i / wP) * w + mx + (qx + lx) * 4 + i % wP) =
                  pY(i).toByte
                i += 1
              }
              val cwP = wC * 2
              i = 0
              while (i < pU.length) {
                recU((cy + (qy + ly) * 2 + i / cwP) * cw + cx + (qx + lx) * 2 + i % cwP) =
                  pU(i).toByte
                recV((cy + (qy + ly) * 2 + i / cwP) * cw + cx + (qx + lx) * 2 + i % cwP) =
                  pV(i).toByte
                i += 1
              }
            }
            k += 1
          }
          snk.cbp(0, mb)
        } else if (m0.kind == 7) {
          // P_8x8: four P_L0_8x8 sub-partitions, each with its own mvd
          // against the standard predictor over its quadrant cells
          snk.pMbType(3, mb)
          var k = 0
          while (k < 4) { snk.subMbType8(0); k += 1 }
          k = 0
          while (k < 4) {
            val lx = (k & 1) * 2; val ly = (k >> 1) * 2
            val kk = k
            val written: (Int, Int) => Boolean =
              (x0, y0) => (y0 / 2) * 2 + x0 / 2 < kk
            val mv = m0.mvs8(k)
            val mvp = mvPredictPart(mg, mb, c * 4 + lx, r * 4 + ly, 2, 0, written)
            snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4 + lx, r * 4 + ly, 2, 2)
            mg.fill(c * 4 + lx, r * 4 + ly, 2, 2, 0, mv._1, mv._2)
            k += 1
          }
          snk.cbp(0, mb)
          k = 0
          while (k < 4) {
            val lx = (k & 1) * 2; val ly = (k >> 1) * 2
            val mv = m0.mvs8(k)
            val (pY, pU, pV) = mcFetchRect(ref, mx + lx * 4, my + ly * 4, 8, 8, mv._1, mv._2)
            var i = 0
            while (i < 64) {
              recY((my + ly * 4 + i / 8) * w + mx + lx * 4 + i % 8) = pY(i).toByte
              i += 1
            }
            i = 0
            while (i < 16) {
              recU((cy + ly * 2 + i / 4) * cw + cx + lx * 2 + i % 4) = pU(i).toByte
              recV((cy + ly * 2 + i / 4) * cw + cx + lx * 2 + i % 4) = pV(i).toByte
              i += 1
            }
            k += 1
          }
        } else if (m0.kind == 5 || m0.kind == 6) {
          // P_L0_L0_16x8 / P_L0_L0_8x16: two partitions, two mvds
          // against the directional-preference predictors, no residual
          val is16x8 = m0.kind == 5
          snk.pMbType(if (is16x8) 1 else 2, mb)
          val parts =
            if (is16x8) Seq((0, 0, 4, 2, 1, m0.mv), (0, 2, 4, 2, 2, m0.mv2))
            else Seq((0, 0, 2, 4, 3, m0.mv), (2, 0, 2, 4, 4, m0.mv2))
          parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, pt, mv), pi) =>
            val written: (Int, Int) => Boolean =
              if (pi == 0) noneWritten
              else if (is16x8) (_, y0) => y0 < 2
              else (x0, _) => x0 < 2
            val mvp = mvPredictPart(mg, mb, c * 4 + lx, r * 4 + ly, wC, pt, written)
            snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4 + lx, r * 4 + ly, wC, hC)
            mg.fill(c * 4 + lx, r * 4 + ly, wC, hC, 0, mv._1, mv._2)
          }
          snk.cbp(0, mb) // no residual in this fixture path
          parts.foreach { case (lx, ly, wC, hC, _, mv) =>
            val (pY, pU, pV) = mcFetchRect(ref, mx + lx * 4, my + ly * 4,
              wC * 4, hC * 4, mv._1, mv._2)
            val wP = wC * 4
            var i = 0
            while (i < pY.length) {
              recY((my + ly * 4 + i / wP) * w + mx + lx * 4 + i % wP) = pY(i).toByte
              i += 1
            }
            val cwP = wC * 2
            i = 0
            while (i < pU.length) {
              recU((cy + ly * 2 + i / cwP) * cw + cx + lx * 2 + i % cwP) = pU(i).toByte
              recV((cy + ly * 2 + i / cwP) * cw + cx + lx * 2 + i % cwP) = pV(i).toByte
              i += 1
            }
          }
        } else {
          // P_L0_16x16
          val mv = m0.mv
          val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten)
          snk.pMbType(0, mb)
          snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4, r * 4, 4, 4)
          val (pY, pU, pV) = mcFetch(ref, mx, my, mv._1, mv._2)
          val dL = if (m0.kind == 1) m0.dL else 0
          val gCb = if (m0.kind == 1) m0.tCb - pU(0) else 0
          val gCr = if (m0.kind == 1) m0.tCr - pV(0) else 0
          if (m0.kind == 1) {
            var i = 1
            while (i < 64) {
              require(pU(i) == pU(0) && pV(i) == pV(0),
                "h264 fixture: non-uniform chroma MC under kind-1 steering")
              i += 1
            }
          }
          val cbpLuma = if (dL != 0) 15 else 0
          if (dL != 0) { // every 4x4 block carries a DC level -> bS 2 edges
            var gy0 = 0
            while (gy0 < 4) {
              var gx0 = 0
              while (gx0 < 4) { meta.markNz(c * 4 + gx0, r * 4 + gy0); gx0 += 1 }
              gy0 += 1
            }
          }
          val cbpC = if (gCb != 0 || gCr != 0) 1 else 0
          val cbp = cbpLuma | (cbpC << 4)
          snk.cbp(cbp, mb)
          if (cbp != 0) snk.qpDelta(0)
          val blkCoef = new Array[Int](16)
          blkCoef(0) = dL
          if (cbpLuma == 15) {
            var b = 0
            while (b < 16) {
              snk.residual(2, 0, c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, mb, blkCoef)
              b += 1
            }
          }
          val dcCb = new Array[Int](4); dcCb(0) = gCb
          val dcCr = new Array[Int](4); dcCr(0) = gCr
          if (cbpC >= 1) {
            snk.residual(3, 1, 0, 0, mb, dcCb)
            snk.residual(3, 2, 0, 0, mb, dcCr)
          }
          // reconstruct: pred + 4*dL on luma, +gCb/gCr on chroma
          var i = 0
          while (i < 256) {
            val v = clip255(pY(i) + ((deqAc(dL, qp, 0) + 32) >> 6))
            if (m0.kind == 1)
              require(v == pY(i) + 4 * dL, "h264 fixture: P residual steering drift")
            recY((my + i / 16) * w + mx + i % 16) = v.toByte
            i += 1
          }
          val rUm = reconChroma(pU, dcCb, null, qpc)
          val rVm = reconChroma(pV, dcCr, null, qpc)
          i = 0
          while (i < 64) {
            recU((cy + i / 8) * cw + cx + i % 8) = rUm(i).toByte
            recV((cy + i / 8) * cw + cx + i % 8) = rVm(i).toByte
            i += 1
          }
          mg.fill(c * 4, r * 4, 4, 4, 0, mv._1, mv._2)
        }
      }
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    // in-loop: the filtered frame IS the reconstruction (and the list-0
    // reference of any following B slice), matching the decoder exactly
    if (deblockP) H264Deblock.filterFrame(recY, recU, recV, w, h, meta, mg, -6, 0, 0)
    val nals = scala.collection.mutable.ArrayBuffer(
      nal(3, 7, writeSps(w, h)),
      nal(3, 8, writePps(-6, cabac, weighted = p.wspec != null)),
      nal(3, 5, idrSlice), nal(2, 1, bw.bytes()))
    if (p.bmb != null) {
      val f2 = H264Frame(w, h, recY, recU, recV)
      nals += nal(0, 1, bSlice(p, w, h, ref, f2, cabac, deblock = deblockB,
        colMg = mg))
    }
    if (p.wmb != null) {
      // non-reference weighted P slice: list 0 = [the P frame, the IDR]
      val f2 = H264Frame(w, h, recY, recU, recV)
      nals += nal(0, 1, weightedSlice(p, w, h, f2, ref, cabac))
    }
    if (p.ltVariant >= 0) {
      require(p.mrmb != null, "h264 fixture: the long-term chain ends in a probe slice")
      require(!p.mmco && p.wspec == null && !p.mrModify,
        "h264 fixture: the long-term chain composes with the probe alone")
      // the base marking slice: MMCO 4 (max_long_term_frame_idx_plus1 = 1),
      // then 3 (picNum 0 = the IDR -> long-term 0), then 1 (unmark the P,
      // picNum 1); DPB after insert: [mark-copy (short), IDR (long 0)]
      val markIdrLt = Seq((4, 1, 0), (3, 1, 0), (1, 0, 0))
      p.ltVariant match {
        case 0 | 3 =>
          nals += nal(2, 1, markSlice(w, h, cabac, 2, 4, markIdrLt, 0))
        case 1 =>
          // MMCO 4, 1 (unmark the IDR, picNum 0), 6 (current goes
          // long-term 0); the marking frame reconstructs the P shifted
          // one stripe, so [P (short), shifted (long)] is value-ordered
          nals += nal(2, 1, markSlice(w, h, cabac, 2, 4,
            Seq((4, 1, 0), (1, 1, 0), (6, 0, 0)), 64))
        case 2 =>
          nals += nal(2, 1, markSlice(w, h, cabac, 2, 4, markIdrLt, 0))
          // MMCO 2 unmarks long-term 0; this second marking frame is a
          // skip copy of list0[0] (the first mark frame); DPB after:
          // two short-terms again
          nals += nal(2, 1, markSlice(w, h, cabac, 3, 6, Seq((2, 0, 0)), 0))
        case 4 =>
          // MMCO 5 splice: a skip copy of the P whose marking resets the
          // DPB and the frame_num/POC bases (it re-enters as fn 0), then
          // a sliding-window reference frame numbered fn 1 FROM THE
          // RESET, reconstructing the copy one stripe shifted — the
          // probe's list must read [shifted (fn 1), copy (fn 0)]; a
          // decoder that ignores the reset orders the pair the OTHER way
          // around (the pre-reset fn 2 outranks the post-reset fn 1)
          nals += nal(2, 1, markSlice(w, h, cabac, 2, 4, Seq((5, 0, 0)), 0))
          nals += nal(2, 1, markSlice(w, h, cabac, 1, 2, Seq.empty, 64))
        case other => throw new IllegalArgumentException(
          s"h264 fixture: ltVariant $other")
      }
      val (pfn, ppoc) = p.ltVariant match {
        case 2 => (4, 8)
        case 4 => (2, 6)
        case _ => (3, 6)
      }
      nals += nal(0, 1, multiRefSlice(p, w, h, cabac, pfn, ppoc,
        ltModify = p.ltVariant == 3))
    } else {
      if (p.mmco) {
        require(p.mrmb != null, "h264 fixture: the MMCO chain ends in a probe slice")
        nals += nal(2, 1, mmcoSkipSlice(w, h, cabac))
      }
      if (p.mrmb != null) {
        // non-reference multi-reference P slice with sub-partitions
        nals += nal(0, 1, multiRefSlice(p, w, h, cabac))
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    nals.foreach(n => out.write(n, 0, n.length))
    out.toByteArray
  }

  /** Encode the non-reference weighted multi-reference P slice: two
    * list-0 entries (ref_idx te-coded per MB), explicit
    * pred_weight_table from the plan's [[WeightSpec]], P_L0_16x16 MBs
    * without residual; the MV predictor runs with reference matching
    * (8.4.1.3's exactly-one-same-reference rule now discriminates by
    * the actual refIdx). Both entropy backends: CAVLC codes te()
    * ref_idx, CABAC the 9.3.3.1.1.6 unary bins with neighbor contexts.
    */
  private def weightedSlice(p: InterPlan, w: Int, h: Int,
                            refNew: H264Frame, refOld: H264Frame,
                            cabac: Boolean): Array[Byte] = {
    val qp = 28
    val ws = p.wspec
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(5) // slice_type: P
    bw.ue(0) // pps id
    bw.put(2, 8) // frame_num
    bw.put(6, 8) // pic_order_cnt_lsb
    bw.put(1, 1) // num_ref_idx_active_override_flag
    bw.ue(1) // num_ref_idx_l0_active_minus1: two references
    bw.put(0, 1) // ref_pic_list_modification_flag_l0
    // pred_weight_table: explicit weights for both references
    bw.ue(ws.lumaDenom)
    bw.ue(ws.chromaDenom)
    var ri = 0
    while (ri < 2) {
      bw.put(1, 1); bw.se(ws.luma(ri)._1); bw.se(ws.luma(ri)._2)
      bw.put(1, 1)
      bw.se(ws.cb(ri)._1); bw.se(ws.cb(ri)._2)
      bw.se(ws.cr(ri)._1); bw.se(ws.cr(ri)._2)
      ri += 1
    }
    // nal_ref_idc 0: no dec_ref_pic_marking
    if (cabac) bw.ue(0) // cabac_init_idc (7.3.3: present for P/B when CABAC)
    bw.se(qp - 26) // slice_qp_delta
    bw.ue(1) // disable_deblocking_filter_idc: off
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH) else new CavlcSink(bw, mbW, mbH)
    val mg = new MotionGrid(mbW, mbH)
    var mb = 0
    while (mb < nMb) {
      val r = mb / mbW; val c = mb % mbW
      val m = p.wmb(mb)
      require(m.refIdx == 0 || m.refIdx == 1, "h264 fixture: refIdx is 0 or 1")
      snk.pSkip(flag = false, mb)
      snk.pMbType(0, mb) // P_L0_16x16
      snk.refIdx(m.refIdx, c * 4, r * 4, 4, 4)
      val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten, m.refIdx)
      snk.mvd(m.mv._1 - mvp._1, m.mv._2 - mvp._2, c * 4, r * 4, 4, 4)
      mg.fill(c * 4, r * 4, 4, 4, m.refIdx, m.mv._1, m.mv._2)
      snk.cbp(0, mb)
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    bw.bytes()
  }

  /** Encode a REFERENCE all-P_Skip slice (frame_num 2) whose
    * dec_ref_pic_marking carries one MMCO-1 operation unmarking picNum 1
    * (the P frame): its reconstruction copies the P frame (skip = zero
    * motion from list0[0]), and after marking the DPB holds
    * [this copy, the IDR] — the sliding window alone would have kept
    * the P frame and evicted the IDR.
    */
  private def mmcoSkipSlice(w: Int, h: Int, cabac: Boolean): Array[Byte] =
    markSlice(w, h, cabac, frameNum = 2, poc = 4, ops = Seq((1, 0, 0)),
      shiftUnits = 0)

  /** Encode a REFERENCE P marking slice: a residual-free slice over one
    * active reference whose dec_ref_pic_marking carries an arbitrary
    * MMCO list (7.4.3.3 syntax values: op 1/3 take
    * difference_of_pic_nums_minus1, op 2 long_term_pic_num, op 4
    * max_long_term_frame_idx_plus1, op 6 long_term_frame_idx; op 3's
    * long_term_frame_idx rides the third tuple slot). With
    * `shiftUnits` 0 every MB is P_Skip (a pixel copy of list0[0]);
    * otherwise every MB is P_L0_16x16 carrying the same along-stripe
    * motion vector (quarter-pel units; +64 = one MB when horizontal),
    * so the reconstruction is list0[0] shifted one stripe with the
    * spec's edge clamp on the last one.
    */
  private def markSlice(w: Int, h: Int, cabac: Boolean, frameNum: Int,
                        poc: Int, ops: Seq[(Int, Int, Int)],
                        shiftUnits: Int): Array[Byte] = {
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val colv = w > h
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(5) // slice_type: P
    bw.ue(0) // pps id
    bw.put(frameNum, 8)
    bw.put(poc, 8) // pic_order_cnt_lsb
    bw.put(0, 1) // num_ref_idx_active_override_flag
    bw.put(0, 1) // ref_pic_list_modification_flag_l0
    // adaptive_ref_pic_marking_mode_flag: 0 = sliding window
    bw.put(if (ops.isEmpty) 0 else 1, 1)
    if (ops.nonEmpty) {
      ops.foreach { case (op, a, b) =>
        bw.ue(op)
        op match {
          case 1 | 2 | 4 | 6 => bw.ue(a)
          case 3 => bw.ue(a); bw.ue(b)
          case 5 => ()
          case other => throw new IllegalArgumentException(
            s"h264 fixture: MMCO operation $other")
        }
      }
      bw.ue(0) // end of MMCO list
    }
    if (cabac) bw.ue(0) // cabac_init_idc
    bw.se(28 - 26) // slice_qp_delta
    bw.ue(1) // disable_deblocking_filter_idc: off
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH) else new CavlcSink(bw, mbW, mbH)
    val mg = new MotionGrid(mbW, mbH)
    val mv: (Int, Int) = if (colv) (shiftUnits, 0) else (0, shiftUnits)
    var mb = 0
    while (mb < nMb) {
      if (shiftUnits == 0) snk.pSkip(flag = true, mb)
      else {
        val r = mb / mbW; val c = mb % mbW
        snk.pSkip(flag = false, mb)
        snk.pMbType(0, mb) // P_L0_16x16; one active reference: no ref_idx
        val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten)
        snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4, r * 4, 4, 4)
        mg.fill(c * 4, r * 4, 4, 4, 0, mv._1, mv._2)
        snk.cbp(0, mb)
      }
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    bw.bytes()
  }

  /** Encode the non-reference MULTI-REFERENCE P slice: a plain (not
    * weighted) P slice with num_ref_idx_l0_active = 2, per-partition /
    * per-sub-MB te() ref_idx, and the full P partition family — 16x16,
    * 16x8/8x16 (both ref_idx first, then both mvds, 7.3.5.1), and
    * P_8x8 with per-sub-MB references over any sub shape. The MV
    * predictors run ref-matched against each partition's own reference.
    * Non-reference and residual-free, so no reconstruction is kept.
    */
  private def multiRefSlice(p: InterPlan, w: Int, h: Int,
                            cabac: Boolean, frameNum: Int = 2, poc: Int = 6,
                            ltModify: Boolean = false): Array[Byte] = {
    val qp = 28
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(5) // slice_type: P
    bw.ue(0) // pps id
    bw.put(frameNum, 8)
    bw.put(poc, 8) // pic_order_cnt_lsb
    bw.put(1, 1) // num_ref_idx_active_override_flag
    bw.ue(1) // num_ref_idx_l0_active_minus1: two references
    if (ltModify) {
      // ref_pic_list_modification (7.3.3.1): one idc-2 command naming
      // long_term_pic_num 0 — the long-term picture moves to the list
      // front, flipping the default [short, long] order
      bw.put(1, 1) // ref_pic_list_modification_flag_l0
      bw.ue(2) // modification_of_pic_nums_idc: long-term
      bw.ue(0) // long_term_pic_num
      bw.ue(3) // end of modification list
    } else if (p.mrModify) {
      // ref_pic_list_modification (7.3.3.1): one idc-0 command with
      // abs_diff_pic_num_minus1 = 1 names picNum 0 (CurrPicNum 2 - 2),
      // the IDR — flipping the default [P, IDR] order to [IDR, P]
      bw.put(1, 1) // ref_pic_list_modification_flag_l0
      bw.ue(0) // modification_of_pic_nums_idc: subtract
      bw.ue(1) // abs_diff_pic_num_minus1
      bw.ue(3) // end of modification list
    } else bw.put(0, 1) // ref_pic_list_modification_flag_l0
    if (p.wspec != null) {
      // pred_weight_table (7.3.3.2): explicit per-reference weights —
      // the decoder applies them PER PARTITION by each partition's
      // own ref_idx
      val ws = p.wspec
      bw.ue(ws.lumaDenom)
      bw.ue(ws.chromaDenom)
      var ri = 0
      while (ri < 2) {
        bw.put(1, 1); bw.se(ws.luma(ri)._1); bw.se(ws.luma(ri)._2)
        bw.put(1, 1)
        bw.se(ws.cb(ri)._1); bw.se(ws.cb(ri)._2)
        bw.se(ws.cr(ri)._1); bw.se(ws.cr(ri)._2)
        ri += 1
      }
    }
    // nal_ref_idc 0: no marking
    if (cabac) bw.ue(0) // cabac_init_idc
    bw.se(qp - 26) // slice_qp_delta
    bw.ue(1) // disable_deblocking_filter_idc: off
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH) else new CavlcSink(bw, mbW, mbH)
    val mg = new MotionGrid(mbW, mbH)
    var mb = 0
    while (mb < nMb) {
      val r = mb / mbW; val c = mb % mbW
      val m = p.mrmb(mb)
      snk.pSkip(flag = false, mb)
      m.kind match {
        case 0 =>
          snk.pMbType(0, mb)
          val ri = m.refs(0)
          snk.refIdx(ri, c * 4, r * 4, 4, 4)
          val mv = m.mvs(0)
          val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten, ri)
          snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4, r * 4, 4, 4)
          mg.fill(c * 4, r * 4, 4, 4, ri, mv._1, mv._2)
        case 5 | 6 =>
          val is16x8 = m.kind == 5
          snk.pMbType(if (is16x8) 1 else 2, mb)
          val parts =
            if (is16x8) Seq((0, 0, 4, 2, 1), (0, 2, 4, 2, 2))
            else Seq((0, 0, 2, 4, 3), (2, 0, 2, 4, 4))
          parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, _), pi) =>
            snk.refIdx(m.refs(pi), c * 4 + lx, r * 4 + ly, wC, hC)
          }
          parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, pt), pi) =>
            val written: (Int, Int) => Boolean =
              if (pi == 0) noneWritten
              else if (is16x8) (_, y0) => y0 < 2
              else (x0, _) => x0 < 2
            val mv = m.mvs(pi)
            val mvp = mvPredictPart(mg, mb, c * 4 + lx, r * 4 + ly, wC, pt,
              written, m.refs(pi))
            snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4 + lx, r * 4 + ly, wC, hC)
            mg.fill(c * 4 + lx, r * 4 + ly, wC, hC, m.refs(pi), mv._1, mv._2)
          }
        case 7 =>
          snk.pMbType(3, mb)
          var k = 0
          while (k < 4) { snk.subMbType8(m.sub4(k)); k += 1 }
          k = 0
          while (k < 4) {
            snk.refIdx(m.refs(k), c * 4 + (k & 1) * 2, r * 4 + (k >> 1) * 2, 2, 2)
            k += 1
          }
          val wr = Array.ofDim[Boolean](4, 4)
          val written: (Int, Int) => Boolean = (x0, y0) => wr(y0)(x0)
          k = 0
          while (k < 4) {
            val qx = (k & 1) * 2; val qy = (k >> 1) * 2
            subParts(m.sub4(k)).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
              val cx0 = c * 4 + qx + lx; val cy0 = r * 4 + qy + ly
              val mv = m.mvs8(k, j)
              val mvp = mvPredictPart(mg, mb, cx0, cy0, wC, 0, written, m.refs(k))
              snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, cx0, cy0, wC, hC)
              mg.fill(cx0, cy0, wC, hC, m.refs(k), mv._1, mv._2)
              var yy = 0
              while (yy < hC) {
                var xx = 0
                while (xx < wC) { wr(qy + ly + yy)(qx + lx + xx) = true; xx += 1 }
                yy += 1
              }
            }
            k += 1
          }
        case other =>
          throw new IllegalArgumentException(s"h264 fixture: MrMb kind $other")
      }
      snk.cbp(0, mb)
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    bw.bytes()
  }

  /** Encode the non-reference B slice (frame 3). Default (spatial): poc
    * 4, list 0 = the P frame, list 1 = the IDR, B_L0/B_L1/B_Bi 16x16
    * with per-list MV prediction over per-list cell grids and the spec's
    * default (p0 + p1 + 1) >> 1 bi average; Intra_16x16 MBs steered.
    * With `p.bTemporal`: poc 1 (display-reordered between the IDR at 0
    * and the P at 2), direct_spatial_mv_pred_flag = 0, the POC-default
    * lists flip (list 0 = the IDR, list 1 = the P frame), and skip /
    * direct MBs replay the decoder's per-4x4-cell temporal scaling of
    * the colocated P motion (`colMg`). Sub-16x16 B partitions ride
    * kinds 6 (two-partition, Table 7-14 codes) and 7 (B_8x8 with the
    * Table 7-18 sub types).
    */
  private def bSlice(p: InterPlan, w: Int, h: Int,
                     ref0past: H264Frame, refP: H264Frame,
                     cabac: Boolean, deblock: Boolean = false,
                     colMg: MotionGrid = null): Array[Byte] = {
    val temporal = p.bTemporal
    require(!temporal || colMg != null,
      "h264 fixture: temporal B needs the P frame's motion grid")
    require(!temporal || (!p.bModL0 && !p.bModL1),
      "h264 fixture: B list modification rides the spatial (display-after) B only")
    // list pictures under the POC-default order (see the InterPlan doc),
    // then the fixture's per-list modification swap: one idc-0 command
    // names the OTHER picture, moving it to the list front
    val l0F = if (temporal || p.bModL0) ref0past else refP
    val l1F = if (temporal || p.bModL1) refP else ref0past
    val qp = 28
    val qpc = chromaQp(qp - 6)
    val mbW = w / 16; val mbH = h / 16; val nMb = mbW * mbH
    val cw = w / 2
    val bw = new MsbWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(6) // slice_type: B
    bw.ue(0) // pps id
    bw.put(2, 8) // frame_num
    bw.put(if (temporal) 1 else 4, 8) // pic_order_cnt_lsb
    bw.put(if (temporal) 0 else 1, 1) // direct_spatial_mv_pred_flag
    bw.put(0, 1) // num_ref_idx_active_override_flag
    bw.put(if (p.bModL0) 1 else 0, 1) // ref_pic_list_modification_flag_l0
    if (p.bModL0) {
      // idc 0, abs_diff_pic_num_minus1 = 1: picNum 0 (the IDR) leads
      // list 0 instead of the default P
      bw.ue(0); bw.ue(1); bw.ue(3)
    }
    bw.put(if (p.bModL1) 1 else 0, 1) // ref_pic_list_modification_flag_l1
    if (p.bModL1) {
      // idc 0, abs_diff_pic_num_minus1 = 0: picNum 1 (the P) leads
      // list 1 instead of the default IDR
      bw.ue(0); bw.ue(0); bw.ue(3)
    }
    // nal_ref_idc = 0: no dec_ref_pic_marking
    if (cabac) bw.ue(0) // cabac_init_idc (7.3.3: present for P/B when CABAC)
    bw.se(qp - 26)
    if (deblock) { bw.ue(0); bw.se(0); bw.se(0) } // filter on, zero offsets
    else bw.ue(1) // disable_deblocking_filter_idc: off
    val meta = new H264Deblock.DeblockMeta(mbW, mbH)
    java.util.Arrays.fill(meta.qpMb, qp)
    val snk: IntraSink =
      if (cabac) new CabacSink(bw, mbW, mbH) else new CavlcSink(bw, mbW, mbH)
    val mg0 = new MotionGrid(mbW, mbH)
    val mg1 = new MotionGrid(mbW, mbH)
    val bY = new Array[Byte](w * h)
    val bU = new Array[Byte](cw * (h / 2))
    val bV = new Array[Byte](cw * (h / 2))
    var mb = 0
    while (mb < nMb) {
      val r = mb / mbW; val c = mb % mbW
      val mx = c * 16; val my = r * 16
      val cx = c * 8; val cy = r * 8
      val m0 = p.bmb(mb)
      // bi (or one-sided) blend of two list fetches into the frame at
      // MB-local luma coords, mirroring the decoder's blendInto
      def writeBlend(px: Int, py: Int, wP: Int, hP: Int,
                     f0: (Array[Int], Array[Int], Array[Int]),
                     f1: (Array[Int], Array[Int], Array[Int])): Unit = {
        var i = 0
        while (i < wP * hP) {
          val v0 = if (f0 != null) f0._1(i) else f1._1(i)
          val v1 = if (f1 != null) f1._1(i) else f0._1(i)
          bY((my + py + i / wP) * w + mx + px + i % wP) = (((v0 + v1 + 1) >> 1)).toByte
          i += 1
        }
        val cwP = wP / 2
        i = 0
        while (i < cwP * (hP / 2)) {
          val u0 = if (f0 != null) f0._2(i) else f1._2(i)
          val u1 = if (f1 != null) f1._2(i) else f0._2(i)
          val w0 = if (f0 != null) f0._3(i) else f1._3(i)
          val w1 = if (f1 != null) f1._3(i) else f0._3(i)
          val co = (cy + py / 2 + i / cwP) * cw + cx + px / 2 + i % cwP
          bU(co) = (((u0 + u1 + 1) >> 1)).toByte
          bV(co) = (((w0 + w1 + 1) >> 1)).toByte
          i += 1
        }
      }
      snk.pSkip(flag = m0.kind == 4, mb)
      if (m0.kind == 4 || m0.kind == 5) {
        // B_Skip (4) / B_Direct_16x16 (5): direct motion — the decoder
        // re-derives it, so nothing but the (skip flag or direct
        // mb_type + zero cbp) rides the stream
        if (m0.kind == 5) { snk.bMbType(0, mb); snk.cbp(0, mb) }
        if (temporal) {
          // per-4x4-cell replay of the decoder's 8.4.1.2.3 derivation:
          // tb/td = (pocB - pocIdr)/(pocP - pocIdr) = 1/2
          var cyy = 0
          while (cyy < 4) {
            var cxx = 0
            while (cxx < 4) {
              val gx = c * 4 + cxx; val gy = r * 4 + cyy
              val colRef = colMg.ref(gy * colMg.gw + gx)
              require(colRef <= 0,
                "h264 fixture: temporal direct over a multi-reference colocated cell")
              val mcx = if (colRef < 0) 0 else colMg.mvx(gy * colMg.gw + gx)
              val mcy = if (colRef < 0) 0 else colMg.mvy(gy * colMg.gw + gx)
              val (l0x, l0y, l1x, l1y) = temporalScale(1, 2, mcx, mcy)
              mg0.fill(gx, gy, 1, 1, 0, l0x, l0y)
              mg1.fill(gx, gy, 1, 1, 0, l1x, l1y)
              val f0 = mcFetchRect(l0F, mx + cxx * 4, my + cyy * 4, 4, 4, l0x, l0y)
              val f1 = mcFetchRect(l1F, mx + cxx * 4, my + cyy * 4, 4, 4, l1x, l1y)
              var i = 0
              while (i < 16) {
                bY((my + cyy * 4 + i / 4) * w + mx + cxx * 4 + i % 4) =
                  (((f0._1(i) + f1._1(i) + 1) >> 1)).toByte
                i += 1
              }
              i = 0
              while (i < 4) {
                val ccx = cx + cxx * 2; val ccy = cy + cyy * 2
                bU((ccy + i / 2) * cw + ccx + i % 2) =
                  ((f0._2(i) + f1._2(i) + 1) >> 1).toByte
                bV((ccy + i / 2) * cw + ccx + i % 2) =
                  ((f0._3(i) + f1._3(i) + 1) >> 1).toByte
                i += 1
              }
              cxx += 1
            }
            cyy += 1
          }
        } else {
        val (r0, mv0, r1, mv1) = directSpatial(mg0, mg1, mb, c * 4, r * 4)
        mg0.fill(c * 4, r * 4, 4, 4, r0, mv0._1, mv0._2)
        mg1.fill(c * 4, r * 4, 4, 4, r1, mv1._1, mv1._2)
        val f0 = if (r0 >= 0) mcFetch(refP, mx, my, mv0._1, mv0._2) else null
        val f1 = if (r1 >= 0) mcFetch(ref0past, mx, my, mv1._1, mv1._2) else null
        val (pY, pU, pV) =
          if (f0 != null && f1 != null) avgPlanes(f0, f1)
          else if (f0 != null) f0 else f1
        var i = 0
        while (i < 256) { bY((my + i / 16) * w + mx + i % 16) = pY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          bU((cy + i / 8) * cw + cx + i % 8) = pU(i).toByte
          bV((cy + i / 8) * cw + cx + i % 8) = pV(i).toByte
          i += 1
        }
        }
      } else if (m0.kind == 6) {
        // two-partition 16x8/8x16: mb_type from the plan, then the
        // decoder's exact syntax order (all list-0 mvds, all list-1
        // mvds) with the same per-list predictors and written-cell rules
        snk.bMbType(m0.raw2, mb)
        val ((md0, md1), is16x8) = bPartSpec(m0.raw2)
        val mds = Array(md0, md1)
        val parts =
          if (is16x8) Seq((0, 0, 4, 2, 1), (0, 2, 4, 2, 2))
          else Seq((0, 0, 2, 4, 3), (2, 0, 2, 4, 4))
        var li = 0
        while (li < 2) {
          val g = if (li == 0) mg0 else mg1
          parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, pt), pi) =>
            if ((mds(pi) & (1 << li)) != 0) {
              val written: (Int, Int) => Boolean =
                if (pi == 0) noneWritten
                else if (is16x8) (_, y0) => y0 < 2
                else (x0, _) => x0 < 2
              val mv = m0.pmv(pi, li)
              val mvp = mvPredictPart(g, mb, c * 4 + lx, r * 4 + ly, wC, pt, written)
              snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, c * 4 + lx, r * 4 + ly, wC, hC)
              g.fill(c * 4 + lx, r * 4 + ly, wC, hC, 0, mv._1, mv._2)
            }
          }
          li += 1
        }
        snk.cbp(0, mb)
        parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, _), pi) =>
          val f0 = if ((mds(pi) & 1) != 0) {
            val mv = m0.pmv(pi, 0)
            mcFetchRect(l0F, mx + lx * 4, my + ly * 4, wC * 4, hC * 4, mv._1, mv._2)
          } else null
          val f1 = if ((mds(pi) & 2) != 0) {
            val mv = m0.pmv(pi, 1)
            mcFetchRect(l1F, mx + lx * 4, my + ly * 4, wC * 4, hC * 4, mv._1, mv._2)
          } else null
          writeBlend(lx * 4, ly * 4, wC * 4, hC * 4, f0, f1)
        }
      } else if (m0.kind == 7) {
        // B_8x8: four sub_mb_types, direct sub-MBs derived and filled
        // first (spatial MB-level derivation from neighbor state), then
        // the decoder's two per-list mvd passes with identical
        // written-cell marking
        require(!temporal, "h264 fixture: temporal B_8x8 not planned")
        snk.bMbType(22, mb)
        val subT = Array.tabulate(4)(m0.bsub)
        val specs = subT.map(bSubSpec)
        subT.foreach(snk.subMbTypeB)
        val sp =
          if (specs.exists(_._1 == 0)) directSpatial(mg0, mg1, mb, c * 4, r * 4)
          else null
        var q = 0
        while (q < 4) {
          if (specs(q)._1 == 0) {
            val (r0, dmv0, r1, dmv1) = sp
            require(r0 <= 0, "h264 fixture: direct list-0 reference beyond this profile")
            val qx = (q & 1) * 2; val qy = (q >> 1) * 2
            mg0.fill(c * 4 + qx, r * 4 + qy, 2, 2, r0, dmv0._1, dmv0._2)
            mg1.fill(c * 4 + qx, r * 4 + qy, 2, 2, r1, dmv1._1, dmv1._2)
            val f0 = if (r0 >= 0)
              mcFetchRect(l0F, mx + qx * 4, my + qy * 4, 8, 8, dmv0._1, dmv0._2)
            else null
            val f1 = if (r1 >= 0)
              mcFetchRect(l1F, mx + qx * 4, my + qy * 4, 8, 8, dmv1._1, dmv1._2)
            else null
            writeBlend(qx * 4, qy * 4, 8, 8, f0, f1)
          }
          q += 1
        }
        var li = 0
        while (li < 2) {
          val g = if (li == 0) mg0 else mg1
          val wr = Array.ofDim[Boolean](4, 4)
          q = 0
          while (q < 4) {
            if (specs(q)._1 == 0) {
              var yy = 0
              while (yy < 2) {
                var xx = 0
                while (xx < 2) { wr((q >> 1) * 2 + yy)((q & 1) * 2 + xx) = true; xx += 1 }
                yy += 1
              }
            }
            q += 1
          }
          val written: (Int, Int) => Boolean = (x0, y0) => wr(y0)(x0)
          q = 0
          while (q < 4) {
            val (mask, shape) = specs(q)
            val qx = (q & 1) * 2; val qy = (q >> 1) * 2
            if (mask != 0 && (mask & (1 << li)) != 0) {
              subParts(shape).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
                val cx0 = c * 4 + qx + lx; val cy0 = r * 4 + qy + ly
                val mv = m0.bmvs(q, j, li)
                val mvp = mvPredictPart(g, mb, cx0, cy0, wC, 0, written)
                snk.mvd(mv._1 - mvp._1, mv._2 - mvp._2, cx0, cy0, wC, hC)
                g.fill(cx0, cy0, wC, hC, 0, mv._1, mv._2)
                var yy = 0
                while (yy < hC) {
                  var xx = 0
                  while (xx < wC) { wr(qy + ly + yy)(qx + lx + xx) = true; xx += 1 }
                  yy += 1
                }
              }
            } else if (mask != 0) {
              var yy = 0
              while (yy < 2) {
                var xx = 0
                while (xx < 2) { wr(qy + yy)(qx + xx) = true; xx += 1 }
                yy += 1
              }
            }
            q += 1
          }
          li += 1
        }
        snk.cbp(0, mb)
        q = 0
        while (q < 4) {
          val (mask, shape) = specs(q)
          val qx = (q & 1) * 2; val qy = (q >> 1) * 2
          if (mask != 0) {
            subParts(shape).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
              val px = (qx + lx) * 4; val py = (qy + ly) * 4
              val f0 = if ((mask & 1) != 0) {
                val mv = m0.bmvs(q, j, 0)
                mcFetchRect(l0F, mx + px, my + py, wC * 4, hC * 4, mv._1, mv._2)
              } else null
              val f1 = if ((mask & 2) != 0) {
                val mv = m0.bmvs(q, j, 1)
                mcFetchRect(l1F, mx + px, my + py, wC * 4, hC * 4, mv._1, mv._2)
              } else null
              writeBlend(px, py, wC * 4, hC * 4, f0, f1)
            }
          }
          q += 1
        }
      } else if (m0.kind == 3) {
        meta.intraMb(mb) = true
        snk.bMbType(23 + 1 + 2 + 4 * 1, mb) // 23 + I16x16(DC, cbpC 1)
        val pL = predIntra16(2, bY, w, mx, my)
        val cmode = if (r == 0 && c == 0) 0 else if (r == 0) 1 else 2
        val pCb = predChroma8(cmode, bU, cw, cx, cy)
        val pCr = predChroma8(cmode, bV, cw, cx, cy)
        var i = 1
        while (i < 64) {
          require(pCb(i) == pCb(0) && pCr(i) == pCr(0),
            "h264 fixture: non-uniform chroma prediction in B-slice intra MB")
          i += 1
        }
        snk.chromaMode(cmode, mb)
        snk.qpDelta(0)
        val dcScan = new Array[Int](16); dcScan(0) = m0.tL - pL(0)
        val dcCb = new Array[Int](4); dcCb(0) = m0.tCb - pCb(0)
        val dcCr = new Array[Int](4); dcCr(0) = m0.tCr - pCr(0)
        snk.residual(0, 0, 0, 0, mb, dcScan)
        snk.residual(3, 1, 0, 0, mb, dcCb)
        snk.residual(3, 2, 0, 0, mb, dcCr)
        val rY = reconI16(pL, dcScan, null, qp)
        val rU = reconChroma(pCb, dcCb, null, qpc)
        val rV = reconChroma(pCr, dcCr, null, qpc)
        i = 0
        while (i < 256) {
          require(rY(i) == m0.tL, "h264 fixture: B-slice intra luma steering drift")
          bY((my + i / 16) * w + mx + i % 16) = rY(i).toByte
          i += 1
        }
        i = 0
        while (i < 64) {
          require(rU(i) == m0.tCb && rV(i) == m0.tCr,
            "h264 fixture: B-slice intra chroma steering drift")
          bU((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
          bV((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
          i += 1
        }
      } else {
        snk.bMbType(1 + m0.kind, mb) // 1 B_L0, 2 B_L1, 3 B_Bi
        if (m0.kind == 0 || m0.kind == 2) {
          val mvp = mvPredictPart(mg0, mb, c * 4, r * 4, 4, 0, noneWritten)
          snk.mvd(m0.mv0._1 - mvp._1, m0.mv0._2 - mvp._2, c * 4, r * 4, 4, 4)
          mg0.fill(c * 4, r * 4, 4, 4, 0, m0.mv0._1, m0.mv0._2)
        }
        if (m0.kind == 1 || m0.kind == 2) {
          val mvp = mvPredictPart(mg1, mb, c * 4, r * 4, 4, 0, noneWritten)
          snk.mvd(m0.mv1._1 - mvp._1, m0.mv1._2 - mvp._2, c * 4, r * 4, 4, 4)
          mg1.fill(c * 4, r * 4, 4, 4, 0, m0.mv1._1, m0.mv1._2)
        }
        snk.cbp(0, mb)
        val (pY, pU, pV) = m0.kind match {
          case 0 => mcFetch(l0F, mx, my, m0.mv0._1, m0.mv0._2)
          case 1 => mcFetch(l1F, mx, my, m0.mv1._1, m0.mv1._2)
          case _ =>
            avgPlanes(mcFetch(l0F, mx, my, m0.mv0._1, m0.mv0._2),
              mcFetch(l1F, mx, my, m0.mv1._1, m0.mv1._2))
        }
        var i = 0
        while (i < 256) { bY((my + i / 16) * w + mx + i % 16) = pY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          bU((cy + i / 8) * cw + cx + i % 8) = pU(i).toByte
          bV((cy + i / 8) * cw + cx + i % 8) = pV(i).toByte
          i += 1
        }
      }
      snk.endMb(mb == nMb - 1)
      mb += 1
    }
    snk.finish()
    // in-loop filter on the B reconstruction (non-reference, so this
    // only shapes the output frame) — both motion grids feed the bS
    // derivation's picture/mv comparisons
    if (deblock)
      H264Deblock.filterFrame(bY, bU, bV, w, h, meta, mg0, -6, 0, 0, mg1 = mg1)
    bw.bytes()
  }

  // ---- coded-macroblock machinery (Intra_16x16 + CAVLC) ---------------------------
  //
  // The STRUCTURE here is spec-exact: zigzag scan, the 4x4 integer inverse
  // transform (8.5.12.2) with its >>1 taps and (x+32)>>6 rounding, the
  // luma-DC 4x4 / chroma-DC 2x2 inverse Hadamard paths, trailing-ones,
  // level prefix/suffix coding with suffixLength adaptation and both
  // escape forms (prefix 14 @ suffixLength 0 and prefix >= 15), the nC
  // neighbor-context derivation from per-4x4 TotalCoeff with the spec
  // availability rules, the 6-bit FLC coeff_token form for nC >= 8, and
  // all four Intra_16x16 / four chroma prediction modes with their edge
  // fallbacks. Two value families are documented PINNED IMPLEMENTATION
  // VALUES (the Vp8Codec/MpegAudio discipline — a tables-only swap away
  // from interop): (a) the VLC codeword ASSIGNMENTS for coeff_token /
  // total_zeros / run_before are exp-Golomb-indexed pinned permutations
  // per nC context (the spec uses fixed Huffman tables with the same
  // alphabets and the same context switching), and (b) the dequant
  // v-table arithmetic follows the familiar m-table %6 / div-6 split.

  private val zig4 = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  // dequant class per raster position: 0 = corners, 1 = (odd,odd), 2 = rest
  private val posCls = Array(0, 2, 0, 2, 2, 1, 2, 1, 0, 2, 0, 2, 2, 1, 2, 1)
  private val vTab = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))
  private val qpcTail = Array(29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36,
    36, 37, 37, 37, 38, 38, 38, 39, 39, 39, 39)

  private[operators] def chromaQp(qpi: Int): Int = {
    require(qpi >= 0 && qpi <= 51, "h264: chroma QP index out of range")
    if (qpi < 30) qpi else qpcTail(qpi - 30)
  }

  private def deqAc(c: Int, qp: Int, pos: Int): Int =
    (c * vTab(qp % 6)(posCls(pos))) << (qp / 6)

  private def deqLumaDc(f: Int, qp: Int): Int = {
    val ls = vTab(qp % 6)(0) * 16
    if (qp >= 36) (f * ls) << (qp / 6 - 6)
    else (f * ls + (1 << (5 - qp / 6))) >> (6 - qp / 6)
  }

  private def deqChromaDc(f: Int, qpc: Int): Int =
    ((f * vTab(qpc % 6)(0) * 16) << (qpc / 6)) >> 5

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Explicit weighted-prediction transform (8.4.2.3.2, P slices):
    * pred' = Clip1(((w·pred + 2^(d−1)) >> d) + o), in place per plane.
    */
  private def wpApply(a: Array[Int], w: Int, o: Int, d: Int): Unit = {
    var i = 0
    while (i < a.length) {
      a(i) = clip255(if (d > 0) ((w * a(i) + (1 << (d - 1))) >> d) + o
      else w * a(i) + o)
      i += 1
    }
  }

  /** Spec 8.5.12.2 inverse 4x4 transform core (rows then columns; output
    * still carries the 64x gain — callers apply (r+32)>>6).
    */
  private def invCore4(d: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val d0 = d(i * 4); val d1 = d(i * 4 + 1); val d2 = d(i * 4 + 2); val d3 = d(i * 4 + 3)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      t(i * 4) = e0 + e3; t(i * 4 + 1) = e1 + e2
      t(i * 4 + 2) = e1 - e2; t(i * 4 + 3) = e0 - e3
      i += 1
    }
    val r = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val d0 = t(j); val d1 = t(4 + j); val d2 = t(8 + j); val d3 = t(12 + j)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      r(j) = e0 + e3; r(4 + j) = e1 + e2; r(8 + j) = e1 - e2; r(12 + j) = e0 - e3
      j += 1
    }
    r
  }

  /** Inverse 4x4 Hadamard for the Intra_16x16 luma DC plane (8.5.10). */
  private def invHadamard4(d: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val d0 = d(i * 4); val d1 = d(i * 4 + 1); val d2 = d(i * 4 + 2); val d3 = d(i * 4 + 3)
      val e0 = d0 + d2; val e1 = d0 - d2; val e2 = d1 - d3; val e3 = d1 + d3
      t(i * 4) = e0 + e3; t(i * 4 + 1) = e1 + e2
      t(i * 4 + 2) = e1 - e2; t(i * 4 + 3) = e0 - e3
      i += 1
    }
    val r = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val d0 = t(j); val d1 = t(4 + j); val d2 = t(8 + j); val d3 = t(12 + j)
      val e0 = d0 + d2; val e1 = d0 - d2; val e2 = d1 - d3; val e3 = d1 + d3
      r(j) = e0 + e3; r(4 + j) = e1 + e2; r(8 + j) = e1 - e2; r(12 + j) = e0 - e3
      j += 1
    }
    r
  }

  /** Inverse 2x2 Hadamard for the chroma DC plane (8.5.11); input raster
    * (c00, c01, c10, c11).
    */
  private def invHadamard2(c: Array[Int]): Array[Int] = Array(
    c(0) + c(1) + c(2) + c(3), c(0) - c(1) + c(2) - c(3),
    c(0) + c(1) - c(2) - c(3), c(0) - c(1) - c(2) + c(3))

  // ---- CAVLC VLC codebooks (pinned exp-Golomb-indexed permutations) ----------------

  /** coeff_token alphabets: (trailingOnes, totalCoeff) pairs. Three luma
    * nC contexts (0 <= nC < 2, 2 <= nC < 4, 4 <= nC < 8) carry DISTINCT
    * pinned symbol orders — a context mix-up changes the bitstream and
    * the grade catches it — and nC >= 8 uses the spec's exact 6-bit FLC.
    */
  private def tokenSyms(maxTc: Int, order: (Int, Int) => (Int, Int)): Array[(Int, Int)] = {
    val syms = for (tc <- 0 to maxTc; t1 <- 0 to math.min(3, tc)) yield (t1, tc)
    syms.sortBy { case (t1, tc) => order(t1, tc) }.toArray
  }
  private val lumaTokenSyms: Array[Array[(Int, Int)]] = Array(
    tokenSyms(16, (t1, tc) => (tc, -t1)),
    tokenSyms(16, (t1, tc) => (tc, t1)),
    tokenSyms(16, (t1, tc) => (t1, tc)))
  private val chromaDcTokenSyms: Array[(Int, Int)] = tokenSyms(4, (t1, tc) => (tc, -t1))
  private def rankOf(syms: Array[(Int, Int)]): Map[(Int, Int), Int] =
    syms.zipWithIndex.toMap
  private val lumaTokenRank = lumaTokenSyms.map(rankOf)
  private val chromaDcTokenRank = rankOf(chromaDcTokenSyms)

  private def lumaCtx(nC: Int): Int = if (nC < 2) 0 else if (nC < 4) 1 else 2

  private def writeCoeffToken(bw: MsbWriter, nC: Int, t1: Int, tc: Int): Unit = {
    if (nC == -1) bw.ue(chromaDcTokenRank((t1, tc)))
    else if (nC >= 8) {
      // spec 6-bit FLC: (totalCoeff-1)<<2 | trailingOnes, with the
      // otherwise-unused pattern 000011 meaning (0, 0)
      val v = if (tc == 0) 3 else ((tc - 1) << 2) | t1
      bw.put(v, 6)
    } else bw.ue(lumaTokenRank(lumaCtx(nC))((t1, tc)))
  }

  private def readCoeffToken(br: MsbReader, nC: Int): (Int, Int) = {
    if (nC == -1) {
      val r = br.ue()
      require(r < chromaDcTokenSyms.length, "h264: coeff_token out of range (chroma DC)")
      chromaDcTokenSyms(r)
    } else if (nC >= 8) {
      val v = br.read(6)
      if (v == 3) (0, 0)
      else {
        val tc = (v >> 2) + 1; val t1 = v & 3
        require(t1 <= math.min(3, tc), "h264: invalid FLC coeff_token")
        (t1, tc)
      }
    } else {
      val r = br.ue()
      val syms = lumaTokenSyms(lumaCtx(nC))
      require(r < syms.length, "h264: coeff_token out of range")
      syms(r)
    }
  }

  /** Write one level's prefix/suffix given the current suffixLength;
    * `code` is the spec levelCode (offsets already applied).
    */
  private def writeLevelCode(bw: MsbWriter, code: Int, sl: Int): Unit = {
    def unary(p: Int): Unit = { bw.put(0, p); bw.put(1, 1) }
    if (sl == 0) {
      if (code < 14) unary(code)
      else if (code < 30) { unary(14); bw.put((code - 14).toLong, 4) }
      else {
        var p = 15
        var done = false
        while (!done) {
          val base = 30 + (if (p >= 16) (1 << (p - 3)) - 4096 else 0)
          if (code - base < (1 << (p - 3))) {
            unary(p); bw.put((code - base).toLong, p - 3); done = true
          } else p += 1
        }
      }
    } else {
      if (code < (15 << sl)) { unary(code >> sl); bw.put((code & ((1 << sl) - 1)).toLong, sl) }
      else {
        var p = 15
        var done = false
        while (!done) {
          val base = (15 << sl) + (if (p >= 16) (1 << (p - 3)) - 4096 else 0)
          if (code - base < (1 << (p - 3))) {
            unary(p); bw.put((code - base).toLong, p - 3); done = true
          } else p += 1
        }
      }
    }
  }

  /** CAVLC-encode one residual block (`coef` in scan order; n = 16 luma
    * DC / 15 AC / 4 chroma DC). Returns TotalCoeff for the nC grids.
    */
  private def writeBlock(bw: MsbWriter, coef: Array[Int], nC: Int): Int = {
    val n = coef.length
    val pos = (0 until n).filter(coef(_) != 0).toArray
    val tc = pos.length
    require(tc <= (if (nC == -1) 4 else 16), "h264: too many coefficients")
    var t1 = 0
    var i = tc - 1
    while (i >= 0 && t1 < 3 && math.abs(coef(pos(i))) == 1) { t1 += 1; i -= 1 }
    writeCoeffToken(bw, nC, t1, tc)
    if (tc == 0) return 0
    var k = tc - 1
    var cnt = 0
    while (cnt < t1) { bw.put(if (coef(pos(k)) < 0) 1 else 0, 1); k -= 1; cnt += 1 }
    var sl = if (tc > 10 && t1 < 3) 1 else 0
    var idx = tc - 1 - t1
    var first = true
    while (idx >= 0) {
      val lv = coef(pos(idx))
      var code = if (lv > 0) 2 * lv - 2 else -2 * lv - 1
      if (first && t1 < 3) code -= 2
      first = false
      writeLevelCode(bw, code, sl)
      if (sl == 0) sl = 1
      if (math.abs(lv) > (3 << (sl - 1)) && sl < 6) sl += 1
      idx -= 1
    }
    val totalZeros = pos(tc - 1) + 1 - tc
    if (tc < n) bw.ue(totalZeros)
    var zerosLeft = totalZeros
    var q = tc - 1
    while (q >= 1 && zerosLeft > 0) {
      val run = pos(q) - pos(q - 1) - 1
      bw.ue(run)
      zerosLeft -= run
      q -= 1
    }
    tc
  }

  /** CAVLC-decode one residual block into scan order. */
  private def readBlock(br: MsbReader, n: Int, nC: Int): Array[Int] = {
    val (t1, tc) = readCoeffToken(br, nC)
    require(tc <= n, "h264: TotalCoeff exceeds block size")
    val out = new Array[Int](n)
    if (tc == 0) return out
    val levels = new Array[Int](tc) // index 0 = highest frequency
    var i = 0
    while (i < t1) { levels(i) = if (br.read(1) == 1) -1 else 1; i += 1 }
    var sl = if (tc > 10 && t1 < 3) 1 else 0
    while (i < tc) {
      var prefix = 0
      while (br.read(1) == 0) {
        prefix += 1
        require(prefix <= 31, "h264: level_prefix too long")
      }
      val size = if (prefix >= 15) prefix - 3
        else if (prefix == 14 && sl == 0) 4
        else sl
      var code = (math.min(15, prefix) << sl) + (if (size > 0) br.read(size) else 0)
      if (prefix >= 15 && sl == 0) code += 15
      if (prefix >= 16) code += (1 << (prefix - 3)) - 4096
      if (i == t1 && t1 < 3) code += 2
      levels(i) = if ((code & 1) == 0) (code + 2) >> 1 else -((code + 1) >> 1)
      if (sl == 0) sl = 1
      if (math.abs(levels(i)) > (3 << (sl - 1)) && sl < 6) sl += 1
      i += 1
    }
    var totalZeros = 0
    if (tc < n) {
      totalZeros = br.ue()
      require(totalZeros <= n - tc, "h264: total_zeros out of range")
    }
    var coeffNum = tc + totalZeros - 1
    var zerosLeft = totalZeros
    i = 0
    while (i < tc) {
      out(coeffNum) = levels(i)
      if (i < tc - 1) {
        val run = if (zerosLeft > 0) {
          val r = br.ue()
          require(r <= zerosLeft, "h264: run_before exceeds zeros left")
          r
        } else 0
        zerosLeft -= run
        coeffNum -= run + 1
      }
      i += 1
    }
    out
  }

  /** Spec hook: one residual block through the full CAVLC encode+decode
    * path (coeff_token, T1 signs, levels, total_zeros, run_before) at a
    * given nC context.
    */
  private[operators] def cavlcRoundtrip(coef: Array[Int], nC: Int): Array[Int] = {
    val bw = new MsbWriter
    writeBlock(bw, coef, nC)
    trailing(bw)
    val br = rbspReader(bw.bytes())
    val out = readBlock(br, coef.length, nC)
    trailing(br)
    out
  }

  // ---- entropy backends for intra slices -------------------------------------------
  //
  // The intra slice layer speaks SYNTAX ELEMENTS to one of two entropy
  // backends: CAVLC (coeff_token machinery, Exp-Golomb headers) or CABAC
  // (the H264Cabac engine with per-element context modeling). Residual
  // categories follow the spec's ctxBlockCat split: 0 = Intra16x16DC
  // (n=16), 1 = Intra16x16AC (n=15), 2 = LumaLevel4x4 (n=16), 3 =
  // ChromaDC (n=4), 4 = ChromaAC (n=15).

  private trait IntraSink {
    // P-slice elements (CAVLC batches skips into mb_skip_run; CABAC
    // codes a per-MB flag). pMbType takes the CAVLC-style raw value
    // (0/1/2 inter partitions; 5 + intraType for intra-in-P).
    def pSkip(flag: Boolean, mb: Int): Unit
    def pMbType(raw: Int, mb: Int): Unit
    def bMbType(raw: Int, mb: Int): Unit
    def subMbType8(t: Int): Unit
    def subMbTypeB(t: Int): Unit
    def mvd(dx: Int, dy: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit
    def refIdx(v: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit
    def mbTypeI(t: Int, mb: Int): Unit
    def pcm(ys: Array[Int], us: Array[Int], vs: Array[Int], mb: Int): Unit
    def i4ModeBits(useMpm: Boolean, rem: Int): Unit
    def chromaMode(m: Int, mb: Int): Unit
    def cbp(v: Int, mb: Int): Unit
    def qpDelta(d: Int): Unit
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, coef: Array[Int]): Unit
    def endMb(last: Boolean): Unit
    def finish(): Unit
  }

  private trait IntraSource {
    def pSkipNext(mb: Int): Boolean
    def pMbType(mb: Int): Int
    def bMbType(mb: Int): Int
    def subMbType8(): Int
    def subMbTypeB(): Int
    def mvd(cx: Int, cy: Int, wC: Int, hC: Int): (Int, Int)
    def refIdx(cx: Int, cy: Int, wC: Int, hC: Int): Int
    def mbTypeI(mb: Int): Int
    def pcm(mb: Int): (Array[Int], Array[Int], Array[Int])
    def i4Mode(mpm: Int): Int
    def chromaMode(mb: Int): Int
    def cbp(mb: Int): Int
    def qpDelta(): Int
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, n: Int): Array[Int]
    def endMb(last: Boolean): Unit
    def finish(): Unit
  }

  private final class CavlcSink(bw: MsbWriter, mbW: Int, mbH: Int) extends IntraSink {
    private val tcY = new TcGrid(mbW * 4, mbH * 4)
    private val tcCb = new TcGrid(mbW * 2, mbH * 2)
    private val tcCr = new TcGrid(mbW * 2, mbH * 2)
    private var skipRun = 0
    def pSkip(flag: Boolean, mb: Int): Unit = if (flag) skipRun += 1
    def pMbType(raw: Int, mb: Int): Unit = {
      bw.ue(skipRun)
      skipRun = 0
      bw.ue(raw)
    }
    def bMbType(raw: Int, mb: Int): Unit = pMbType(raw, mb)
    def subMbType8(t: Int): Unit = bw.ue(t)
    def subMbTypeB(t: Int): Unit = bw.ue(t)
    def mvd(dx: Int, dy: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit = {
      bw.se(dx); bw.se(dy)
    }
    def refIdx(v: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit = {
      require(v == 0 || v == 1, "h264: te() ref_idx coded for two references")
      bw.put(1 - v, 1) // te() with cMax 1: one inverted bit
    }
    def mbTypeI(t: Int, mb: Int): Unit = bw.ue(t)
    def pcm(ys: Array[Int], us: Array[Int], vs: Array[Int], mb: Int): Unit = {
      bw.alignZero()
      ys.foreach(x => bw.put(x & 0xff, 8))
      us.foreach(x => bw.put(x & 0xff, 8))
      vs.foreach(x => bw.put(x & 0xff, 8))
      val r = mb / mbW; val c = mb % mbW
      var b = 0
      while (b < 16) { tcY.set(c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, 16); b += 1 }
      b = 0
      while (b < 4) {
        tcCb.set(c * 2 + (b & 1), r * 2 + (b >> 1), 16)
        tcCr.set(c * 2 + (b & 1), r * 2 + (b >> 1), 16)
        b += 1
      }
    }
    def i4ModeBits(useMpm: Boolean, rem: Int): Unit = {
      bw.put(if (useMpm) 1 else 0, 1)
      if (!useMpm) bw.put(rem.toLong, 3)
    }
    def chromaMode(m: Int, mb: Int): Unit = bw.ue(m)
    def cbp(v: Int, mb: Int): Unit = bw.ue(v)
    def qpDelta(d: Int): Unit = bw.se(d)
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, coef: Array[Int]): Unit =
      cat match {
        case 0 =>
          val r = mb / mbW; val c = mb % mbW
          writeBlock(bw, coef, tcY.nc(c * 4, r * 4))
        case 1 | 2 => tcY.set(gx, gy, writeBlock(bw, coef, tcY.nc(gx, gy)))
        case 3 => writeBlock(bw, coef, -1)
        case _ =>
          val g = if (plane == 1) tcCb else tcCr
          g.set(gx, gy, writeBlock(bw, coef, g.nc(gx, gy)))
      }
    def endMb(last: Boolean): Unit = ()
    def finish(): Unit = {
      if (skipRun > 0) bw.ue(skipRun)
      trailing(bw)
    }
  }

  private final class CavlcSource(br: MsbReader, mbW: Int, mbH: Int) extends IntraSource {
    private val tcY = new TcGrid(mbW * 4, mbH * 4)
    private val tcCb = new TcGrid(mbW * 2, mbH * 2)
    private val tcCr = new TcGrid(mbW * 2, mbH * 2)
    private var skipLeft = -1
    def pSkipNext(mb: Int): Boolean = {
      if (skipLeft < 0) skipLeft = br.ue()
      if (skipLeft > 0) { skipLeft -= 1; true }
      else { skipLeft = -1; false }
    }
    def pMbType(mb: Int): Int = br.ue()
    def bMbType(mb: Int): Int = br.ue()
    def subMbType8(): Int = br.ue()
    def subMbTypeB(): Int = br.ue()
    def mvd(cx: Int, cy: Int, wC: Int, hC: Int): (Int, Int) = (br.se(), br.se())
    def refIdx(cx: Int, cy: Int, wC: Int, hC: Int): Int = 1 - br.read(1)
    def mbTypeI(mb: Int): Int = br.ue()
    def pcm(mb: Int): (Array[Int], Array[Int], Array[Int]) = {
      require(br.alignByte() == 0, "h264: nonzero pcm alignment bit")
      val ys = Array.fill(256)(br.read(8))
      val us = Array.fill(64)(br.read(8))
      val vs = Array.fill(64)(br.read(8))
      val r = mb / mbW; val c = mb % mbW
      var b = 0
      while (b < 16) { tcY.set(c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, 16); b += 1 }
      b = 0
      while (b < 4) {
        tcCb.set(c * 2 + (b & 1), r * 2 + (b >> 1), 16)
        tcCr.set(c * 2 + (b & 1), r * 2 + (b >> 1), 16)
        b += 1
      }
      (ys, us, vs)
    }
    def i4Mode(mpm: Int): Int =
      if (br.read(1) == 1) mpm
      else {
        val rem = br.read(3)
        if (rem < mpm) rem else rem + 1
      }
    def chromaMode(mb: Int): Int = {
      val m = br.ue()
      require(m <= 3, "h264: intra_chroma_pred_mode out of range")
      m
    }
    def cbp(mb: Int): Int = {
      val v = br.ue()
      require(v <= 47, "h264: coded_block_pattern out of range")
      v
    }
    def qpDelta(): Int = br.se()
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, n: Int): Array[Int] =
      cat match {
        case 0 =>
          val r = mb / mbW; val c = mb % mbW
          readBlock(br, n, tcY.nc(c * 4, r * 4))
        case 1 | 2 =>
          val coefs = readBlock(br, n, tcY.nc(gx, gy))
          tcY.set(gx, gy, coefs.count(_ != 0))
          coefs
        case 3 => readBlock(br, n, -1)
        case _ =>
          val g = if (plane == 1) tcCb else tcCr
          val coefs = readBlock(br, n, g.nc(gx, gy))
          g.set(gx, gy, coefs.count(_ != 0))
          coefs
      }
    def endMb(last: Boolean): Unit = ()
    def finish(): Unit = trailing(br)
  }

  // CABAC context allocation (pinned numbering, documented): see the
  // sink/source below for the per-element derivations.
  private val CtxMbType = 0 // +inc 0..2
  private val CtxMbI16 = 3 // cbpL, cbpC0, cbpC1, mode hi, mode lo -> 3..7
  private val CtxI4Flag = 8
  private val CtxI4Rem = 9
  private val CtxCMode = 10 // +inc 0..2; bins >= 1 at 13
  private val CtxCbpL = 14 // +inc 0..3
  private val CtxCbpC0 = 18 // +inc 0..3
  private val CtxCbpC1 = 22 // +inc 0..3
  private val CtxQpDelta = 26 // bin0 inc 0..1 -> 26/27; bin1 28; bins>=2 29
  private val CtxCbf = 30 // + cat*4 + inc
  private val CtxSig = 50 // + cat*15 + min(i,14)
  private val CtxLast = 125 // + cat*15 + min(i,14)
  private val CtxLevel = 200 // + cat*10 + inc (0..4 bin0, 5..9 rest)
  private val CtxSkip = 250 // + inc 0..2
  private val CtxPMbType = 253 // b0 intra?, b1, b2
  private val CtxMvdX = 256 // bin0 inc 0..2 at +0..2; bins>=1 at +3..6
  private val CtxMvdY = 263
  private val CtxSubMb = 270
  private val CtxBMbType = 271 // b0 intra?, b1, b2
  private val CtxRefIdx = 274 // bin0 inc 0..3 at +0..3; bin1 +4; bins>=2 +5
  private val CtxSubMb2 = 280 // sub_mb_type bins 1..2 (bin 0 at CtxSubMb)
  private val CtxBMbType2 = 282 // B mb_type extension bins (direct/two-part/8x8)
  private val CtxBSub = 283 // B sub_mb_type bin 0
  private val CtxBSub2 = 284 // B sub_mb_type bins 1..3
  private val NumCtx = 285

  /** Pinned per-idc CABAC context initialization: idc 0 keeps the
    * documented all-zero base; idc 1/2 seed a deterministic
    * (pStateIdx, valMPS) spread per context — PINNED IMPLEMENTATION
    * VALUES standing in for the spec's Table 9-12..9-33 init triples
    * (same discipline as the engine's range tables). Encoder and
    * decoder must agree on the SELECTED table or the arithmetic decode
    * desyncs from the first bin.
    */
  private def cabacInitStates(st: Array[Int], idc: Int): Unit = {
    require(idc >= 0 && idc <= 2, "h264: cabac_init_idc is 0..2")
    if (idc != 0) {
      var c = 0
      while (c < st.length / 2) {
        st(2 * c) = (7 * idc + 3 * c) % 16
        st(2 * c + 1) = (idc + c) & 1
        c += 1
      }
    }
  }

  private final class CabacSink(bw: MsbWriter, mbW: Int, mbH: Int,
                                initIdc: Int = 0) extends IntraSink {
    bw.alignOnes() // cabac_alignment_one_bit
    private val st = new Array[Int](2 * NumCtx)
    cabacInitStates(st, initIdc)
    private val eng = new H264Cabac.Enc(b => bw.put(b.toLong, 1))
    private val mbT = Array.fill(mbW * mbH)(-1)
    private val cmodeG = new Array[Int](mbW * mbH)
    private val cbpLG = new Array[Int](mbW * mbH)
    private val cbpCG = new Array[Int](mbW * mbH)
    private val cbfY = new TcGrid(mbW * 4, mbH * 4) // 0/1 flags
    private val cbfDcY = new TcGrid(mbW, mbH)
    private val cbfDcC = Array(new TcGrid(mbW, mbH), new TcGrid(mbW, mbH))
    private val cbfAcC = Array(new TcGrid(mbW * 2, mbH * 2), new TcGrid(mbW * 2, mbH * 2))
    private var prevQpDelta = 0

    def mbTypeI(t: Int, mb: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      def cond(m: Int, ok: Boolean): Int = if (ok && mbT(m) != 0 && mbT(m) != -1) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      eng.bin(st, CtxMbType + inc, if (t == 0) 0 else 1)
      if (t != 0) {
        eng.terminate(if (t == 25) 1 else 0)
        if (t != 25) {
          val m = t - 1
          eng.bin(st, CtxMbI16, if (m >= 12) 1 else 0)
          val cbpC = (m / 4) % 3
          eng.bin(st, CtxMbI16 + 1, if (cbpC != 0) 1 else 0)
          if (cbpC != 0) eng.bin(st, CtxMbI16 + 2, if (cbpC == 2) 1 else 0)
          eng.bin(st, CtxMbI16 + 3, (m % 4) >> 1)
          eng.bin(st, CtxMbI16 + 4, (m % 4) & 1)
        }
      }
      mbT(mb) = t
    }
    private val skipG = new Array[Int](mbW * mbH)
    private val absMx = new TcGrid(mbW * 4, mbH * 4)
    private val absMy = new TcGrid(mbW * 4, mbH * 4)
    def pSkip(flag: Boolean, mb: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      def cond(n: Int, ok: Boolean): Int = if (ok && skipG(n) == 0) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      eng.bin(st, CtxSkip + inc, if (flag) 1 else 0)
      skipG(mb) = if (flag) 1 else 0
    }
    def pMbType(raw: Int, mb: Int): Unit = {
      if (raw >= 5) {
        eng.bin(st, CtxPMbType, 1)
        mbTypeI(raw - 5, mb)
      } else {
        eng.bin(st, CtxPMbType, 0)
        raw match {
          case 0 => eng.bin(st, CtxPMbType + 1, 0); eng.bin(st, CtxPMbType + 2, 0)
          case 1 => eng.bin(st, CtxPMbType + 1, 1); eng.bin(st, CtxPMbType + 2, 1)
          case 2 => eng.bin(st, CtxPMbType + 1, 1); eng.bin(st, CtxPMbType + 2, 0)
          case 3 => eng.bin(st, CtxPMbType + 1, 0); eng.bin(st, CtxPMbType + 2, 1)
          case _ => throw new IllegalArgumentException(s"h264: P mb_type $raw unsupported")
        }
        mbT(mb) = -1
      }
    }
    def subMbType8(t: Int): Unit = {
      // pinned P sub_mb_type bin tree: 0 (8x8) '1'; 3 (4x4) '01';
      // 1 (8x4) '000'; 2 (4x8) '001'
      t match {
        case 0 => eng.bin(st, CtxSubMb, 1)
        case 3 => eng.bin(st, CtxSubMb, 0); eng.bin(st, CtxSubMb2, 1)
        case 1 => eng.bin(st, CtxSubMb, 0); eng.bin(st, CtxSubMb2, 0)
          eng.bin(st, CtxSubMb2 + 1, 0)
        case 2 => eng.bin(st, CtxSubMb, 0); eng.bin(st, CtxSubMb2, 0)
          eng.bin(st, CtxSubMb2 + 1, 1)
        case _ => throw new IllegalArgumentException(s"h264: sub_mb_type $t out of range")
      }
    }
    def bMbType(raw: Int, mb: Int): Unit = {
      // pinned B mb_type tree: intra escape '1'; '0 00' B_L0(1);
      // '0 01' B_L1(2); '0 10' B_Bi(3); '0 11 0' B_Direct(0);
      // '0 11 1' + 5 fixed bins (raw-4, MSB first) for 4..22
      if (raw >= 23) {
        eng.bin(st, CtxBMbType, 1)
        mbTypeI(raw - 23, mb)
      } else {
        eng.bin(st, CtxBMbType, 0)
        raw match {
          case 1 => eng.bin(st, CtxBMbType + 1, 0); eng.bin(st, CtxBMbType + 2, 0)
          case 2 => eng.bin(st, CtxBMbType + 1, 0); eng.bin(st, CtxBMbType + 2, 1)
          case 3 => eng.bin(st, CtxBMbType + 1, 1); eng.bin(st, CtxBMbType + 2, 0)
          case 0 =>
            eng.bin(st, CtxBMbType + 1, 1); eng.bin(st, CtxBMbType + 2, 1)
            eng.bin(st, CtxBMbType2, 0)
          case t =>
            require(t >= 4 && t <= 22, s"h264: B mb_type $t unsupported")
            eng.bin(st, CtxBMbType + 1, 1); eng.bin(st, CtxBMbType + 2, 1)
            eng.bin(st, CtxBMbType2, 1)
            var b = 4
            while (b >= 0) { eng.bin(st, CtxBMbType2, ((t - 4) >> b) & 1); b -= 1 }
        }
        mbT(mb) = -1
      }
    }
    def subMbTypeB(t: Int): Unit = {
      // pinned B sub_mb_type: 4 fixed bins (0..12, MSB first)
      require(t >= 0 && t <= 12, s"h264: B sub_mb_type $t out of range")
      eng.bin(st, CtxBSub, (t >> 3) & 1)
      var b = 2
      while (b >= 0) { eng.bin(st, CtxBSub2, (t >> b) & 1); b -= 1 }
    }
    private def mvdComp(d: Int, cx: Int, cy: Int, base: Int, g: TcGrid): Unit = {
      def gv(x: Int, y: Int): Int =
        if (x < 0 || y < 0 || x >= g.gw || y >= g.gh) 0 else g.at(x, y)
      val sum = gv(cx - 1, cy) + gv(cx, cy - 1)
      val inc = if (sum < 3) 0 else if (sum <= 32) 1 else 2
      val a = math.abs(d)
      def ctxOf(b: Int): Int = if (b == 0) base + inc else base + 3 + math.min(b - 1, 3)
      val prefix = math.min(a, 9)
      var b = 0
      while (b < prefix) { eng.bin(st, ctxOf(b), 1); b += 1 }
      if (prefix < 9) eng.bin(st, ctxOf(prefix), 0)
      else {
        var suf = a - 9
        var k = 3
        while (suf >= (1 << k)) { eng.bypass(1); suf -= 1 << k; k += 1 }
        eng.bypass(0)
        var bb = k - 1
        while (bb >= 0) { eng.bypass((suf >> bb) & 1); bb -= 1 }
      }
      if (a != 0) eng.bypass(if (d < 0) 1 else 0)
    }
    def mvd(dx: Int, dy: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit = {
      mvdComp(dx, cx, cy, CtxMvdX, absMx)
      mvdComp(dy, cx, cy, CtxMvdY, absMy)
      var y0 = cy
      while (y0 < cy + hC) {
        var x0 = cx
        while (x0 < cx + wC) {
          absMx.set(x0, y0, math.abs(dx)); absMy.set(x0, y0, math.abs(dy))
          x0 += 1
        }
        y0 += 1
      }
    }
    private val refG = new TcGrid(mbW * 4, mbH * 4)
    // ref_idx_l0 (9.3.3.1.1.6): unary bins; bin 0's context from the
    // left/above partitions' refIdx>0 flags (condTermA + 2*condTermB),
    // bin 1 at +4, later bins at +5
    def refIdx(v: Int, cx: Int, cy: Int, wC: Int, hC: Int): Unit = {
      def gv(x: Int, y: Int): Int =
        if (x < 0 || y < 0 || x >= refG.gw || y >= refG.gh) 0 else refG.at(x, y)
      val inc = (if (gv(cx - 1, cy) > 0) 1 else 0) +
        2 * (if (gv(cx, cy - 1) > 0) 1 else 0)
      def ctxOf(b: Int): Int =
        if (b == 0) CtxRefIdx + inc else if (b == 1) CtxRefIdx + 4 else CtxRefIdx + 5
      var b = 0
      while (b < v) { eng.bin(st, ctxOf(b), 1); b += 1 }
      eng.bin(st, ctxOf(v), 0)
      var y0 = cy
      while (y0 < cy + hC) {
        var x0 = cx
        while (x0 < cx + wC) { refG.set(x0, y0, v); x0 += 1 }
        y0 += 1
      }
    }
    def pcm(ys: Array[Int], us: Array[Int], vs: Array[Int], mb: Int): Unit = {
      // the terminate(1) inside mbTypeI flushed the engine; align and
      // emit raw samples, then re-initialize (9.3.1.2)
      bw.alignZero()
      ys.foreach(x => bw.put(x & 0xff, 8))
      us.foreach(x => bw.put(x & 0xff, 8))
      vs.foreach(x => bw.put(x & 0xff, 8))
      eng.reinit()
      val r = mb / mbW; val c = mb % mbW
      var b = 0
      while (b < 16) { cbfY.set(c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, 1); b += 1 }
      cbfDcY.set(c, r, 1)
      for (p <- 0 to 1) {
        cbfDcC(p).set(c, r, 1)
        var k = 0
        while (k < 4) { cbfAcC(p).set(c * 2 + (k & 1), r * 2 + (k >> 1), 1); k += 1 }
      }
      cbpLG(mb) = 15; cbpCG(mb) = 2
    }
    def i4ModeBits(useMpm: Boolean, rem: Int): Unit = {
      eng.bin(st, CtxI4Flag, if (useMpm) 1 else 0)
      if (!useMpm) {
        eng.bin(st, CtxI4Rem, (rem >> 2) & 1)
        eng.bin(st, CtxI4Rem, (rem >> 1) & 1)
        eng.bin(st, CtxI4Rem, rem & 1)
      }
    }
    def chromaMode(m: Int, mb: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      def cond(n: Int, ok: Boolean): Int = if (ok && cmodeG(n) != 0) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      eng.bin(st, CtxCMode + inc, if (m > 0) 1 else 0)
      if (m > 0) eng.bin(st, CtxCMode + 3, if (m > 1) 1 else 0)
      if (m > 1) eng.bin(st, CtxCMode + 3, if (m > 2) 1 else 0)
      cmodeG(mb) = m
    }
    def cbp(v: Int, mb: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      var coded = 0
      var s = 0
      while (s < 4) {
        val bit = (v >> s) & 1
        val leftBit =
          if ((s & 1) == 1) (coded >> (s - 1)) & 1
          else if (c > 0) (cbpLG(mb - 1) >> (s + 1)) & 1
          else 1
        val aboveBit =
          if (s >= 2) (coded >> (s - 2)) & 1
          else if (r > 0) (cbpLG(mb - mbW) >> (s + 2)) & 1
          else 1
        val inc = (1 - leftBit) + 2 * (1 - aboveBit)
        eng.bin(st, CtxCbpL + inc, bit)
        coded |= bit << s
        s += 1
      }
      val cbpC = v >> 4
      def condC(n: Int, ok: Boolean, two: Boolean): Int =
        if (ok && (if (two) cbpCG(n) == 2 else cbpCG(n) != 0)) 1 else 0
      val inc0 = condC(mb - 1, c > 0, two = false) + 2 * condC(mb - mbW, r > 0, two = false)
      eng.bin(st, CtxCbpC0 + inc0, if (cbpC != 0) 1 else 0)
      if (cbpC != 0) {
        val inc1 = condC(mb - 1, c > 0, two = true) + 2 * condC(mb - mbW, r > 0, two = true)
        eng.bin(st, CtxCbpC1 + inc1, if (cbpC == 2) 1 else 0)
      }
      cbpLG(mb) = v & 15; cbpCG(mb) = cbpC
    }
    def qpDelta(d: Int): Unit = {
      val m = if (d <= 0) -2 * d else 2 * d - 1
      var i = 0
      while (i < m) {
        val ctx = if (i == 0) CtxQpDelta + (if (prevQpDelta != 0) 1 else 0)
          else if (i == 1) CtxQpDelta + 2 else CtxQpDelta + 3
        eng.bin(st, ctx, 1)
        i += 1
      }
      val ctx = if (m == 0) CtxQpDelta + (if (prevQpDelta != 0) 1 else 0)
        else if (m == 1) CtxQpDelta + 2 else CtxQpDelta + 3
      eng.bin(st, ctx, 0)
      prevQpDelta = d
    }
    private def cbfCtxInc(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int): Int = {
      val r = mb / mbW; val c = mb % mbW
      cat match {
        case 0 => gAt0(cbfDcY, c - 1, r) + 2 * gAt0(cbfDcY, c, r - 1)
        case 1 | 2 => gAt0(cbfY, gx - 1, gy) + 2 * gAt0(cbfY, gx, gy - 1)
        case 3 => gAt0(cbfDcC(plane - 1), c - 1, r) + 2 * gAt0(cbfDcC(plane - 1), c, r - 1)
        case _ => gAt0(cbfAcC(plane - 1), gx - 1, gy) + 2 * gAt0(cbfAcC(plane - 1), gx, gy - 1)
      }
    }
    private def gAt0(g: TcGrid, x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= g.gw || y >= g.gh) 0 else g.at(x, y)
    private def setCbf(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, v: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      cat match {
        case 0 => cbfDcY.set(c, r, v)
        case 1 | 2 => cbfY.set(gx, gy, v)
        case 3 => cbfDcC(plane - 1).set(c, r, v)
        case _ => cbfAcC(plane - 1).set(gx, gy, v)
      }
    }
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, coef: Array[Int]): Unit = {
      val n = coef.length
      val cbf = if (coef.exists(_ != 0)) 1 else 0
      eng.bin(st, CtxCbf + cat * 4 + cbfCtxInc(cat, plane, gx, gy, mb), cbf)
      setCbf(cat, plane, gx, gy, mb, cbf)
      if (cbf == 0) return
      // significance map
      var lastSig = n - 1
      while (coef(lastSig) == 0) lastSig -= 1
      var i = 0
      while (i < n - 1 && i <= lastSig) {
        val sig = if (coef(i) != 0) 1 else 0
        eng.bin(st, CtxSig + cat * 15 + math.min(i, 14), sig)
        if (sig == 1)
          eng.bin(st, CtxLast + cat * 15 + math.min(i, 14), if (i == lastSig) 1 else 0)
        i += 1
      }
      // levels, reverse scan order, UEG0 with the c1/c2 context scheme
      var numEq1 = 0
      var numGt1 = 0
      var k = lastSig
      while (k >= 0) {
        val lv = coef(k)
        if (lv != 0) {
          val absm1 = math.abs(lv) - 1
          val base = CtxLevel + cat * 10
          val prefix = math.min(absm1, 14)
          var b = 0
          while (b < prefix) {
            val ctx = if (b == 0) base + (if (numGt1 > 0) 0 else math.min(4, 1 + numEq1))
              else base + 5 + math.min(4, numGt1)
            eng.bin(st, ctx, 1)
            b += 1
          }
          if (prefix < 14) {
            val ctx = if (prefix == 0) base + (if (numGt1 > 0) 0 else math.min(4, 1 + numEq1))
              else base + 5 + math.min(4, numGt1)
            eng.bin(st, ctx, 0)
          } else if (absm1 >= 14) {
            var suf = absm1 - 14
            var kk = 0
            while (suf >= (1 << kk)) { eng.bypass(1); suf -= 1 << kk; kk += 1 }
            eng.bypass(0)
            var bb = kk - 1
            while (bb >= 0) { eng.bypass((suf >> bb) & 1); bb -= 1 }
          }
          eng.bypass(if (lv < 0) 1 else 0)
          if (math.abs(lv) == 1) numEq1 += 1 else numGt1 += 1
        }
        k -= 1
      }
    }
    def endMb(last: Boolean): Unit = eng.terminate(if (last) 1 else 0)
    def finish(): Unit = bw.alignZero()
  }

  private final class CabacSource(br: MsbReader, mbW: Int, mbH: Int,
                                  initIdc: Int = 0) extends IntraSource {
    locally { // cabac_alignment_one_bit
      val k = (-br.pos & 7).toInt
      require(br.alignByte() == (1 << k) - 1, "h264: cabac alignment bit not one")
    }
    private val st = new Array[Int](2 * NumCtx)
    cabacInitStates(st, initIdc)
    private val eng = new H264Cabac.Dec(() => bitOrZero(br))
    private val mbT = Array.fill(mbW * mbH)(-1)
    private val cmodeG = new Array[Int](mbW * mbH)
    private val cbpLG = new Array[Int](mbW * mbH)
    private val cbpCG = new Array[Int](mbW * mbH)
    private val cbfY = new TcGrid(mbW * 4, mbH * 4)
    private val cbfDcY = new TcGrid(mbW, mbH)
    private val cbfDcC = Array(new TcGrid(mbW, mbH), new TcGrid(mbW, mbH))
    private val cbfAcC = Array(new TcGrid(mbW * 2, mbH * 2), new TcGrid(mbW * 2, mbH * 2))
    private var prevQpDelta = 0
    private def gAt0(g: TcGrid, x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= g.gw || y >= g.gh) 0 else g.at(x, y)

    def mbTypeI(mb: Int): Int = {
      val r = mb / mbW; val c = mb % mbW
      def cond(m: Int, ok: Boolean): Int = if (ok && mbT(m) != 0 && mbT(m) != -1) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      val t =
        if (eng.bin(st, CtxMbType + inc) == 0) 0
        else if (eng.terminate() == 1) 25
        else {
          val cbpL = eng.bin(st, CtxMbI16)
          val cbpC =
            if (eng.bin(st, CtxMbI16 + 1) == 0) 0
            else if (eng.bin(st, CtxMbI16 + 2) == 0) 1
            else 2
          val mode = (eng.bin(st, CtxMbI16 + 3) << 1) | eng.bin(st, CtxMbI16 + 4)
          1 + mode + 4 * cbpC + 12 * cbpL
        }
      mbT(mb) = t
      t
    }
    private val skipG = new Array[Int](mbW * mbH)
    private val absMx = new TcGrid(mbW * 4, mbH * 4)
    private val absMy = new TcGrid(mbW * 4, mbH * 4)
    def pSkipNext(mb: Int): Boolean = {
      val r = mb / mbW; val c = mb % mbW
      def cond(n: Int, ok: Boolean): Int = if (ok && skipG(n) == 0) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      val f = eng.bin(st, CtxSkip + inc)
      skipG(mb) = f
      f == 1
    }
    def pMbType(mb: Int): Int = {
      if (eng.bin(st, CtxPMbType) == 1) 5 + mbTypeI(mb)
      else {
        val t =
          if (eng.bin(st, CtxPMbType + 1) == 0) {
            if (eng.bin(st, CtxPMbType + 2) == 0) 0 else 3 // P_8x8
          } else if (eng.bin(st, CtxPMbType + 2) == 1) 1
          else 2
        mbT(mb) = -1
        t
      }
    }
    def subMbType8(): Int =
      if (eng.bin(st, CtxSubMb) == 1) 0
      else if (eng.bin(st, CtxSubMb2) == 1) 3
      else if (eng.bin(st, CtxSubMb2 + 1) == 0) 1
      else 2
    def bMbType(mb: Int): Int = {
      if (eng.bin(st, CtxBMbType) == 1) 23 + mbTypeI(mb)
      else {
        val t =
          if (eng.bin(st, CtxBMbType + 1) == 0) {
            if (eng.bin(st, CtxBMbType + 2) == 0) 1 else 2
          } else if (eng.bin(st, CtxBMbType + 2) == 0) 3
          else if (eng.bin(st, CtxBMbType2) == 0) 0 // B_Direct_16x16
          else { // extended family: 5 fixed bins, value raw-4
            var v = 0
            var b = 0
            while (b < 5) { v = (v << 1) | eng.bin(st, CtxBMbType2); b += 1 }
            require(v <= 18, s"h264: B mb_type extension $v out of range")
            v + 4
          }
        mbT(mb) = -1
        t
      }
    }
    def subMbTypeB(): Int = {
      var v = eng.bin(st, CtxBSub)
      var b = 0
      while (b < 3) { v = (v << 1) | eng.bin(st, CtxBSub2); b += 1 }
      require(v <= 12, s"h264: B sub_mb_type $v out of range")
      v
    }
    private def mvdComp(cx: Int, cy: Int, base: Int, g: TcGrid): Int = {
      def gv(x: Int, y: Int): Int =
        if (x < 0 || y < 0 || x >= g.gw || y >= g.gh) 0 else g.at(x, y)
      val sum = gv(cx - 1, cy) + gv(cx, cy - 1)
      val inc = if (sum < 3) 0 else if (sum <= 32) 1 else 2
      def ctxOf(b: Int): Int = if (b == 0) base + inc else base + 3 + math.min(b - 1, 3)
      var a = 0
      while (a < 9 && eng.bin(st, ctxOf(a)) == 1) a += 1
      if (a == 9) {
        var k = 3
        while (eng.bypass() == 1) {
          a += 1 << k
          k += 1
          require(k < 24, "h264: runaway mvd escape")
        }
        var bb = k - 1
        var suf = 0
        while (bb >= 0) { suf = (suf << 1) | eng.bypass(); bb -= 1 }
        a += suf
      }
      if (a == 0) 0
      else if (eng.bypass() == 1) -a
      else a
    }
    def mvd(cx: Int, cy: Int, wC: Int, hC: Int): (Int, Int) = {
      val dx = mvdComp(cx, cy, CtxMvdX, absMx)
      val dy = mvdComp(cx, cy, CtxMvdY, absMy)
      var y0 = cy
      while (y0 < cy + hC) {
        var x0 = cx
        while (x0 < cx + wC) {
          absMx.set(x0, y0, math.abs(dx)); absMy.set(x0, y0, math.abs(dy))
          x0 += 1
        }
        y0 += 1
      }
      (dx, dy)
    }
    private val refG = new TcGrid(mbW * 4, mbH * 4)
    def refIdx(cx: Int, cy: Int, wC: Int, hC: Int): Int = {
      val inc = (if (gAt0(refG, cx - 1, cy) > 0) 1 else 0) +
        2 * (if (gAt0(refG, cx, cy - 1) > 0) 1 else 0)
      def ctxOf(b: Int): Int =
        if (b == 0) CtxRefIdx + inc else if (b == 1) CtxRefIdx + 4 else CtxRefIdx + 5
      var v = 0
      while (eng.bin(st, ctxOf(v)) == 1) {
        v += 1
        require(v < 32, "h264: runaway ref_idx bins")
      }
      var y0 = cy
      while (y0 < cy + hC) {
        var x0 = cx
        while (x0 < cx + wC) { refG.set(x0, y0, v); x0 += 1 }
        y0 += 1
      }
      v
    }
    def pcm(mb: Int): (Array[Int], Array[Int], Array[Int]) = {
      br.alignByte() // discard to the byte boundary after the flush
      val ys = Array.fill(256)(br.read(8))
      val us = Array.fill(64)(br.read(8))
      val vs = Array.fill(64)(br.read(8))
      eng.reinit()
      val r = mb / mbW; val c = mb % mbW
      var b = 0
      while (b < 16) { cbfY.set(c * 4 + blkX(b) / 4, r * 4 + blkY(b) / 4, 1); b += 1 }
      cbfDcY.set(c, r, 1)
      for (p <- 0 to 1) {
        cbfDcC(p).set(c, r, 1)
        var k = 0
        while (k < 4) { cbfAcC(p).set(c * 2 + (k & 1), r * 2 + (k >> 1), 1); k += 1 }
      }
      cbpLG(mb) = 15; cbpCG(mb) = 2
      (ys, us, vs)
    }
    def i4Mode(mpm: Int): Int =
      if (eng.bin(st, CtxI4Flag) == 1) mpm
      else {
        val rem = (eng.bin(st, CtxI4Rem) << 2) | (eng.bin(st, CtxI4Rem) << 1) |
          eng.bin(st, CtxI4Rem)
        if (rem < mpm) rem else rem + 1
      }
    def chromaMode(mb: Int): Int = {
      val r = mb / mbW; val c = mb % mbW
      def cond(n: Int, ok: Boolean): Int = if (ok && cmodeG(n) != 0) 1 else 0
      val inc = cond(mb - 1, c > 0) + cond(mb - mbW, r > 0)
      var m = 0
      if (eng.bin(st, CtxCMode + inc) == 1) {
        m = 1
        if (eng.bin(st, CtxCMode + 3) == 1) {
          m = 2
          if (eng.bin(st, CtxCMode + 3) == 1) m = 3
        }
      }
      cmodeG(mb) = m
      m
    }
    def cbp(mb: Int): Int = {
      val r = mb / mbW; val c = mb % mbW
      var coded = 0
      var s = 0
      while (s < 4) {
        val leftBit =
          if ((s & 1) == 1) (coded >> (s - 1)) & 1
          else if (c > 0) (cbpLG(mb - 1) >> (s + 1)) & 1
          else 1
        val aboveBit =
          if (s >= 2) (coded >> (s - 2)) & 1
          else if (r > 0) (cbpLG(mb - mbW) >> (s + 2)) & 1
          else 1
        val inc = (1 - leftBit) + 2 * (1 - aboveBit)
        coded |= eng.bin(st, CtxCbpL + inc) << s
        s += 1
      }
      def condC(n: Int, ok: Boolean, two: Boolean): Int =
        if (ok && (if (two) cbpCG(n) == 2 else cbpCG(n) != 0)) 1 else 0
      val inc0 = condC(mb - 1, c > 0, two = false) + 2 * condC(mb - mbW, r > 0, two = false)
      var cbpC = 0
      if (eng.bin(st, CtxCbpC0 + inc0) == 1) {
        val inc1 = condC(mb - 1, c > 0, two = true) + 2 * condC(mb - mbW, r > 0, two = true)
        cbpC = if (eng.bin(st, CtxCbpC1 + inc1) == 1) 2 else 1
      }
      cbpLG(mb) = coded; cbpCG(mb) = cbpC
      coded | (cbpC << 4)
    }
    def qpDelta(): Int = {
      var m = 0
      var ctx = CtxQpDelta + (if (prevQpDelta != 0) 1 else 0)
      while (eng.bin(st, ctx) == 1) {
        m += 1
        require(m <= 104, "h264: runaway mb_qp_delta")
        ctx = if (m == 1) CtxQpDelta + 2 else CtxQpDelta + 3
      }
      val d = if (m % 2 == 0) -(m / 2) else (m + 1) / 2
      prevQpDelta = d
      d
    }
    private def cbfCtxInc(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int): Int = {
      val r = mb / mbW; val c = mb % mbW
      cat match {
        case 0 => gAt0(cbfDcY, c - 1, r) + 2 * gAt0(cbfDcY, c, r - 1)
        case 1 | 2 => gAt0(cbfY, gx - 1, gy) + 2 * gAt0(cbfY, gx, gy - 1)
        case 3 => gAt0(cbfDcC(plane - 1), c - 1, r) + 2 * gAt0(cbfDcC(plane - 1), c, r - 1)
        case _ => gAt0(cbfAcC(plane - 1), gx - 1, gy) + 2 * gAt0(cbfAcC(plane - 1), gx, gy - 1)
      }
    }
    private def setCbf(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, v: Int): Unit = {
      val r = mb / mbW; val c = mb % mbW
      cat match {
        case 0 => cbfDcY.set(c, r, v)
        case 1 | 2 => cbfY.set(gx, gy, v)
        case 3 => cbfDcC(plane - 1).set(c, r, v)
        case _ => cbfAcC(plane - 1).set(gx, gy, v)
      }
    }
    def residual(cat: Int, plane: Int, gx: Int, gy: Int, mb: Int, n: Int): Array[Int] = {
      val out = new Array[Int](n)
      val cbf = eng.bin(st, CtxCbf + cat * 4 + cbfCtxInc(cat, plane, gx, gy, mb))
      setCbf(cat, plane, gx, gy, mb, cbf)
      if (cbf == 0) return out
      val sig = new Array[Boolean](n)
      var lastSig = -1
      var i = 0
      var done = false
      while (i < n - 1 && !done) {
        if (eng.bin(st, CtxSig + cat * 15 + math.min(i, 14)) == 1) {
          sig(i) = true
          lastSig = i
          if (eng.bin(st, CtxLast + cat * 15 + math.min(i, 14)) == 1) done = true
        }
        i += 1
      }
      if (!done) { sig(n - 1) = true; lastSig = n - 1 }
      var numEq1 = 0
      var numGt1 = 0
      var k = lastSig
      while (k >= 0) {
        if (sig(k)) {
          val base = CtxLevel + cat * 10
          var absm1 = 0
          var go = true
          while (go && absm1 < 14) {
            val ctx = if (absm1 == 0) base + (if (numGt1 > 0) 0 else math.min(4, 1 + numEq1))
              else base + 5 + math.min(4, numGt1)
            if (eng.bin(st, ctx) == 1) absm1 += 1 else go = false
          }
          if (absm1 == 14) {
            var kk = 0
            while (eng.bypass() == 1) {
              absm1 += 1 << kk
              kk += 1
              require(kk < 20, "h264: runaway level escape")
            }
            var bb = kk - 1
            var suf = 0
            while (bb >= 0) { suf = (suf << 1) | eng.bypass(); bb -= 1 }
            absm1 += suf
          }
          val neg = eng.bypass() == 1
          out(k) = if (neg) -(absm1 + 1) else absm1 + 1
          if (absm1 == 0) numEq1 += 1 else numGt1 += 1
        }
        k -= 1
      }
      out
    }
    def endMb(last: Boolean): Unit = {
      val t = eng.terminate()
      require((t == 1) == last, "h264: end_of_slice_flag disagrees with the MB count")
    }
    def finish(): Unit = ()
  }

  // ---- TotalCoeff bookkeeping ------------------------------------------------------

  /** Per-4x4-block TotalCoeff grid with the spec nC derivation: both
    * neighbors -> (nA + nB + 1) >> 1; one -> that one; none -> 0.
    * Frame edge = slice edge here (one slice covers the picture).
    */
  private final class TcGrid(val gw: Int, val gh: Int) {
    private val g = new Array[Int](gw * gh)
    def set(bx: Int, by: Int, v: Int): Unit = g(by * gw + bx) = v
    def at(bx: Int, by: Int): Int = g(by * gw + bx)
    def nc(bx: Int, by: Int): Int = {
      val hasL = bx > 0; val hasA = by > 0
      if (hasL && hasA) (g(by * gw + bx - 1) + g((by - 1) * gw + bx) + 1) >> 1
      else if (hasL) g(by * gw + bx - 1)
      else if (hasA) g((by - 1) * gw + bx)
      else 0
    }
  }

  /** luma4x4BlkIdx -> MB-local pixel offsets (8x8-major block order). */
  private def blkX(i: Int): Int = ((i >> 2) & 1) * 8 + (i & 1) * 4
  private def blkY(i: Int): Int = ((i >> 3) & 1) * 8 + ((i >> 1) & 1) * 4

  // ---- intra prediction ------------------------------------------------------------

  /** Intra_16x16 luma prediction (8.3.3): mode 0 V, 1 H, 2 DC, 3 Plane,
    * with the spec availability fallbacks for DC and loud requires for
    * the modes that need neighbors.
    */
  private[operators] def predIntra16(mode: Int, rec: Array[Byte], w: Int,
                                     mx: Int, my: Int): Array[Int] = {
    val above = my > 0; val left = mx > 0
    def top(i: Int): Int =
      if (i < 0) rec((my - 1) * w + mx - 1) & 0xff else rec((my - 1) * w + mx + i) & 0xff
    def lef(i: Int): Int =
      if (i < 0) rec((my - 1) * w + mx - 1) & 0xff else rec((my + i) * w + mx - 1) & 0xff
    val out = new Array[Int](256)
    mode match {
      case 0 =>
        require(above, "h264: vertical pred without an above neighbor")
        var x = 0
        while (x < 16) { val v = top(x); var y = 0; while (y < 16) { out(y * 16 + x) = v; y += 1 }; x += 1 }
      case 1 =>
        require(left, "h264: horizontal pred without a left neighbor")
        var y = 0
        while (y < 16) { val v = lef(y); var x = 0; while (x < 16) { out(y * 16 + x) = v; x += 1 }; y += 1 }
      case 2 =>
        var s = 0
        val dc =
          if (above && left) { var i = 0; while (i < 16) { s += top(i) + lef(i); i += 1 }; (s + 16) >> 5 }
          else if (above) { var i = 0; while (i < 16) { s += top(i); i += 1 }; (s + 8) >> 4 }
          else if (left) { var i = 0; while (i < 16) { s += lef(i); i += 1 }; (s + 8) >> 4 }
          else 128
        java.util.Arrays.fill(out, dc)
      case 3 =>
        require(above && left, "h264: plane pred needs both neighbors")
        var hh = 0; var vv = 0
        var i = 0
        while (i < 8) {
          hh += (i + 1) * (top(8 + i) - top(6 - i))
          vv += (i + 1) * (lef(8 + i) - lef(6 - i))
          i += 1
        }
        val a = 16 * (lef(15) + top(15))
        val b = (5 * hh + 32) >> 6
        val c = (5 * vv + 32) >> 6
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            out(y * 16 + x) = clip255((a + b * (x - 7) + c * (y - 7) + 16) >> 5)
            x += 1
          }
          y += 1
        }
      case m => throw new IllegalArgumentException(s"h264: intra16 mode $m")
    }
    out
  }

  /** Chroma 8x8 prediction (8.3.4): mode 0 DC (per-quadrant source
    * rules), 1 H, 2 V, 3 Plane.
    */
  private[operators] def predChroma8(mode: Int, rec: Array[Byte], cw: Int,
                                     cx: Int, cy: Int): Array[Int] = {
    val above = cy > 0; val left = cx > 0
    def top(i: Int): Int =
      if (i < 0) rec((cy - 1) * cw + cx - 1) & 0xff else rec((cy - 1) * cw + cx + i) & 0xff
    def lef(i: Int): Int =
      if (i < 0) rec((cy - 1) * cw + cx - 1) & 0xff else rec((cy + i) * cw + cx - 1) & 0xff
    def sumT(lo: Int): Int = top(lo) + top(lo + 1) + top(lo + 2) + top(lo + 3)
    def sumL(lo: Int): Int = lef(lo) + lef(lo + 1) + lef(lo + 2) + lef(lo + 3)
    val out = new Array[Int](64)
    mode match {
      case 0 =>
        val q = new Array[Int](4) // quadrants raster (0,0),(1,0),(0,1),(1,1)
        q(0) =
          if (above && left) (sumT(0) + sumL(0) + 4) >> 3
          else if (above) (sumT(0) + 2) >> 2
          else if (left) (sumL(0) + 2) >> 2
          else 128
        q(1) =
          if (above) (sumT(4) + 2) >> 2
          else if (left) (sumL(0) + 2) >> 2
          else 128
        q(2) =
          if (left) (sumL(4) + 2) >> 2
          else if (above) (sumT(0) + 2) >> 2
          else 128
        q(3) =
          if (above && left) (sumT(4) + sumL(4) + 4) >> 3
          else if (above) (sumT(4) + 2) >> 2
          else if (left) (sumL(4) + 2) >> 2
          else 128
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { out(y * 8 + x) = q((y / 4) * 2 + x / 4); x += 1 }
          y += 1
        }
      case 1 =>
        require(left, "h264: chroma horizontal pred without a left neighbor")
        var y = 0
        while (y < 8) { val v = lef(y); var x = 0; while (x < 8) { out(y * 8 + x) = v; x += 1 }; y += 1 }
      case 2 =>
        require(above, "h264: chroma vertical pred without an above neighbor")
        var x = 0
        while (x < 8) { val v = top(x); var y = 0; while (y < 8) { out(y * 8 + x) = v; y += 1 }; x += 1 }
      case 3 =>
        require(above && left, "h264: chroma plane pred needs both neighbors")
        var hh = 0; var vv = 0
        var i = 0
        while (i < 4) {
          hh += (i + 1) * (top(4 + i) - top(2 - i))
          vv += (i + 1) * (lef(4 + i) - lef(2 - i))
          i += 1
        }
        val a = 16 * (lef(7) + top(7))
        val b = (17 * hh + 16) >> 5
        val c = (17 * vv + 16) >> 5
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            out(y * 8 + x) = clip255((a + b * (x - 3) + c * (y - 3) + 16) >> 5)
            x += 1
          }
          y += 1
        }
      case m => throw new IllegalArgumentException(s"h264: chroma mode $m")
    }
    out
  }

  // ---- Intra_4x4 prediction --------------------------------------------------------

  /** luma4x4BlkIdx whose above-right neighbors are not yet decoded at
    * their turn in the 8x8-major block order (the classic {3,7,11,13,15}
    * set); spec rule: replicate p[3,-1] in their place.
    */
  private val noAboveRight = Set(3, 7, 11, 13, 15)

  /** Above-right availability for the 4x4 block at pixel (bx, by): at an
    * MB top row the above MB row is fully decoded (raster slice order),
    * inside the MB it follows the 8x8-major decode order.
    */
  private def arAvailable(bx: Int, by: Int, w: Int): Boolean = {
    if (bx + 4 >= w) false
    else if (by % 16 == 0) by > 0
    else {
      val rx = (bx % 16) / 4; val ry = (by % 16) / 4
      val idx = ((ry & 2) << 2) | ((rx & 2) << 1) | ((ry & 1) << 1) | (rx & 1)
      !noAboveRight.contains(idx)
    }
  }

  /** All nine Intra_4x4 prediction modes (8.3.1.2.1-9): 0 V, 1 H, 2 DC,
    * 3 DDL, 4 DDR, 5 VR, 6 HD, 7 VL, 8 HU — with the spec availability
    * fallbacks for DC, the above-right replication rule, and loud
    * requires for modes that need missing neighbors. (bx, by) are the
    * block's top-left pixel coordinates in the luma plane.
    */
  private[operators] def predIntra4(mode: Int, rec: Array[Byte], w: Int, h: Int,
                                    bx: Int, by: Int): Array[Int] = {
    val above = by > 0; val left = bx > 0
    val ar = arAvailable(bx, by, w)
    // p(i, -1) for i in -1..7 (above incl. above-right), p(-1, j) for j in 0..3
    def rawTop(i: Int): Int = rec((by - 1) * w + bx + i) & 0xff
    def top(i: Int): Int =
      if (i < 0) rawTop(-1)
      else if (i >= 4 && !ar) rawTop(3)
      else rawTop(i)
    def lef(j: Int): Int =
      if (j < 0) rawTop(-1) else rec((by + j) * w + bx - 1) & 0xff
    val out = new Array[Int](16)
    def fill(f: (Int, Int) => Int): Unit = {
      var y = 0
      while (y < 4) { var x = 0; while (x < 4) { out(y * 4 + x) = f(x, y); x += 1 }; y += 1 }
    }
    mode match {
      case 0 =>
        require(above, "h264: intra4 vertical pred without an above neighbor")
        fill((x, _) => top(x))
      case 1 =>
        require(left, "h264: intra4 horizontal pred without a left neighbor")
        fill((_, y) => lef(y))
      case 2 =>
        val dc =
          if (above && left)
            (top(0) + top(1) + top(2) + top(3) + lef(0) + lef(1) + lef(2) + lef(3) + 4) >> 3
          else if (above) (top(0) + top(1) + top(2) + top(3) + 2) >> 2
          else if (left) (lef(0) + lef(1) + lef(2) + lef(3) + 2) >> 2
          else 128
        fill((_, _) => dc)
      case 3 =>
        require(above, "h264: intra4 DDL pred without an above neighbor")
        fill((x, y) =>
          if (x == 3 && y == 3) (top(6) + 3 * top(7) + 2) >> 2
          else (top(x + y) + 2 * top(x + y + 1) + top(x + y + 2) + 2) >> 2)
      case 4 =>
        require(above && left, "h264: intra4 DDR pred needs both neighbors")
        fill((x, y) =>
          if (x > y) (top(x - y - 2) + 2 * top(x - y - 1) + top(x - y) + 2) >> 2
          else if (x < y) (lef(y - x - 2) + 2 * lef(y - x - 1) + lef(y - x) + 2) >> 2
          else (top(0) + 2 * top(-1) + lef(0) + 2) >> 2)
      case 5 =>
        require(above && left, "h264: intra4 VR pred needs both neighbors")
        fill((x, y) => {
          val z = 2 * x - y
          if (z >= 0 && z % 2 == 0) (top(x - (y >> 1) - 1) + top(x - (y >> 1)) + 1) >> 1
          else if (z >= 0) (top(x - (y >> 1) - 2) + 2 * top(x - (y >> 1) - 1) + top(x - (y >> 1)) + 2) >> 2
          else if (z == -1) (lef(0) + 2 * top(-1) + top(0) + 2) >> 2
          else (lef(y - 1) + 2 * lef(y - 2) + lef(y - 3) + 2) >> 2
        })
      case 6 =>
        require(above && left, "h264: intra4 HD pred needs both neighbors")
        fill((x, y) => {
          val z = 2 * y - x
          if (z >= 0 && z % 2 == 0) (lef(y - (x >> 1) - 1) + lef(y - (x >> 1)) + 1) >> 1
          else if (z >= 0) (lef(y - (x >> 1) - 2) + 2 * lef(y - (x >> 1) - 1) + lef(y - (x >> 1)) + 2) >> 2
          else if (z == -1) (lef(0) + 2 * top(-1) + top(0) + 2) >> 2
          else (top(x - 1) + 2 * top(x - 2) + top(x - 3) + 2) >> 2
        })
      case 7 =>
        require(above, "h264: intra4 VL pred without an above neighbor")
        fill((x, y) =>
          if (y % 2 == 0) (top(x + (y >> 1)) + top(x + (y >> 1) + 1) + 1) >> 1
          else (top(x + (y >> 1)) + 2 * top(x + (y >> 1) + 1) + top(x + (y >> 1) + 2) + 2) >> 2)
      case 8 =>
        require(left, "h264: intra4 HU pred without a left neighbor")
        fill((x, y) => {
          val z = x + 2 * y
          if (z > 5) lef(3)
          else if (z == 5) (lef(2) + 3 * lef(3) + 2) >> 2
          else if (z % 2 == 0) (lef(y + (x >> 1)) + lef(y + (x >> 1) + 1) + 1) >> 1
          else (lef(y + (x >> 1)) + 2 * lef(y + (x >> 1) + 1) + lef(y + (x >> 1) + 2) + 2) >> 2
        })
      case m => throw new IllegalArgumentException(s"h264: intra4 mode $m")
    }
    out
  }

  /** Per-4x4-block intra-mode grid for prev_intra4x4_pred_mode
    * prediction: non-I4x4 macroblocks (I16x16, PCM) contribute DC (2),
    * the spec value for non-MxM neighbors; unavailable neighbors too.
    */
  private final class ModeGrid(val gw: Int, val gh: Int) {
    private val g = Array.fill(gw * gh)(2)
    def set(bx: Int, by: Int, v: Int): Unit = g(by * gw + bx) = v
    def mpm(bx: Int, by: Int): Int =
      if (bx == 0 || by == 0) 2 // either neighbor unavailable -> DC (8.3.1.1)
      else math.min(g(by * gw + bx - 1), g((by - 1) * gw + bx))
  }

  // ---- shared reconstruction -------------------------------------------------------

  /** Intra_16x16 luma reconstruction: zigzag-place the DC scan, inverse
    * Hadamard, dequant, then per 4x4 block insert dequantized AC and run
    * the core inverse transform. Shared by encoder steering and decoder.
    */
  private def reconI16(pred: Array[Int], dcScan: Array[Int],
                       acBlocks: Array[Array[Int]], qp: Int): Array[Int] = {
    val dcRast = new Array[Int](16)
    var i = 0
    while (i < 16) { dcRast(zig4(i)) = dcScan(i); i += 1 }
    val f = invHadamard4(dcRast)
    val out = new Array[Int](256)
    var b = 0
    while (b < 16) {
      val bx = blkX(b); val by = blkY(b)
      val d = new Array[Int](16)
      d(0) = deqLumaDc(f((by / 4) * 4 + bx / 4), qp)
      if (acBlocks != null) {
        val a = acBlocks(b)
        var k = 0
        while (k < 15) {
          if (a(k) != 0) { val p = zig4(k + 1); d(p) = deqAc(a(k), qp, p) }
          k += 1
        }
      }
      val r = invCore4(d)
      var yy = 0
      while (yy < 4) {
        var xx = 0
        while (xx < 4) {
          val pi = (by + yy) * 16 + bx + xx
          out(pi) = clip255(pred(pi) + ((r(yy * 4 + xx) + 32) >> 6))
          xx += 1
        }
        yy += 1
      }
      b += 1
    }
    out
  }

  /** One chroma component's reconstruction (8x8 = four 4x4 blocks with
    * the 2x2 Hadamard DC plane).
    */
  private def reconChroma(pred: Array[Int], dcScan: Array[Int],
                          acBlocks: Array[Array[Int]], qpc: Int): Array[Int] = {
    val f = invHadamard2(dcScan)
    val out = new Array[Int](64)
    var b = 0
    while (b < 4) {
      val bx = (b & 1) * 4; val by = (b >> 1) * 4
      val d = new Array[Int](16)
      d(0) = deqChromaDc(f(b), qpc)
      if (acBlocks != null) {
        val a = acBlocks(b)
        var k = 0
        while (k < 15) {
          if (a(k) != 0) { val p = zig4(k + 1); d(p) = deqAc(a(k), qpc, p) }
          k += 1
        }
      }
      val r = invCore4(d)
      var yy = 0
      while (yy < 4) {
        var xx = 0
        while (xx < 4) {
          val pi = (by + yy) * 8 + bx + xx
          out(pi) = clip255(pred(pi) + ((r(yy * 4 + xx) + 32) >> 6))
          xx += 1
        }
        yy += 1
      }
      b += 1
    }
    out
  }

  // ---- decode ----------------------------------------------------------------------

  final case class H264Frame(width: Int, height: Int, y: Array[Byte],
                             u: Array[Byte], v: Array[Byte])

  /** A decoded reference picture with the state later slices consume:
    * its picture order count (8.2.1, type 0: poc lsb with no wrap in
    * this profile) and its list-0 motion grid — the colocated motion a
    * temporal-direct B slice scales (8.4.1.2.3). Intra pictures carry an
    * all-(-1) grid, which is exactly the spec's "colocated is intra"
    * fallback signal.
    */
  private final case class RefPic(frame: H264Frame, poc: Int, mg: MotionGrid,
                                  frameNum: Int, ltIdx: Int = -1) {
    /** Marked long-term (8.2.5.4.3/8.2.5.4.6); `ltIdx` is its
      * LongTermFrameIdx (= LongTermPicNum for frames).
      */
    def longTerm: Boolean = ltIdx >= 0
  }

  /** Temporal direct motion scaling (8.4.1.2.3): tb/td are the POC
    * distances DiffPicOrderCnt(curr, pic0) / DiffPicOrderCnt(colPic,
    * pic0), clipped to [-128,127]; DistScaleFactor = Clip3(-1024, 1023,
    * (tb*tx + 32) >> 6) with tx = (16384 + Abs(td/2)) / td; then
    * mvL0 = (DistScaleFactor * mvCol + 128) >> 8 and mvL1 = mvL0 - mvCol
    * per component. Returns (mvL0x, mvL0y, mvL1x, mvL1y).
    */
  private def temporalScale(tb0: Int, td0: Int,
                            mvColX: Int, mvColY: Int): (Int, Int, Int, Int) = {
    val tb = math.max(-128, math.min(127, tb0))
    val td = math.max(-128, math.min(127, td0))
    require(td != 0, "h264: temporal direct with zero POC distance outside this profile")
    val tx = (16384 + math.abs(td / 2)) / td
    val dsf = math.max(-1024, math.min(1023, (tb * tx + 32) >> 6))
    val l0x = (dsf * mvColX + 128) >> 8
    val l0y = (dsf * mvColY + 128) >> 8
    (l0x, l0y, l0x - mvColX, l0y - mvColY)
  }

  /** Annex B sniff: a leading 3- or 4-byte start code. */
  def isAnnexB(b: Array[Byte]): Boolean =
    b != null && b.length >= 5 && b(0) == 0 && b(1) == 0 &&
      ((b(2) == 0 && b(3) == 1) || b(2) == 1)

  def decode(b: Array[Byte]): H264Frame = {
    val frames = decodeSequence(b)
    require(frames.length == 1, "h264: multi-frame stream (use decodeSequence)")
    frames.head
  }

  /** Decode a full Annex B sequence: SPS, PPS, an IDR slice, then any
    * number of P slices each referencing the previous decoded frame.
    */
  def decodeSequence(b: Array[Byte]): Seq[H264Frame] = {
    val nals = splitNals(b)
    require(nals.length >= 3 && nals(0)._2 == 7 && nals(1)._2 == 8,
      "h264: this profile expects SPS, PPS, then slices")
    val sps = parseSps(nals(0)._3)
    val pps = parsePps(nals(1)._3)
    require(nals(2)._2 == 5, "h264: the first slice must be IDR")
    // DPB of at most two reference pictures, short- or long-term. The
    // reference list default order (8.2.4.2.1) is short-term pictures by
    // descending picNum (= frameNum, no wrap in this profile) followed by
    // long-term pictures by ascending LongTermFrameIdx; that ordered pair
    // is what each slice decode receives as (refA, refB).
    var refs: List[RefPic] = Nil
    // 8.2.5.4.4: MaxLongTermFrameIdx, −1 = "no long-term frame indices"
    var maxLtIdx = -1
    def ordered: List[RefPic] =
      refs.filter(!_.longTerm).sortBy(-_.frameNum) ++
        refs.filter(_.longTerm).sortBy(_.ltIdx)
    val frames = scala.collection.mutable.ArrayBuffer.empty[H264Frame]
    for ((refIdc, t, rbsp) <- nals.drop(2)) {
      require(t == 5 || t == 1, s"h264: unexpected NAL type $t in the slice stream")
      val ord = ordered
      val refA = ord.headOption.orNull
      val refB = if (ord.length > 1) ord(1) else null
      val (rp0, ops) = decodeSliceFrame(rbsp, sps, pps, t == 5, refIdc, refA, refB)
      frames += rp0.frame
      if (refIdc != 0) {
        if (ops.isEmpty) {
          // sliding window (8.2.5.3): evicts only the oldest SHORT-term
          // picture; long-term pictures are immune
          val shorts = refs.filter(!_.longTerm).sortBy(-_.frameNum)
          val longs = refs.filter(_.longTerm)
          require(longs.length < 2,
            "h264: DPB overflow — long-term pictures leave no short-term slot")
          refs = rp0 :: shorts.take(1 - longs.length) ::: longs
        } else {
          // adaptive marking (8.2.5.4): apply the MMCO list in coded
          // order, then insert the current picture (no sliding window)
          var curLt = -1
          var reset = false
          ops.foreach {
            case (1, pn, _) =>
              val i = refs.indexWhere(r => !r.longTerm && r.frameNum == pn)
              require(i >= 0, "h264: MMCO names an absent reference")
              refs = refs.patch(i, Nil, 1)
            case (2, lt, _) =>
              val i = refs.indexWhere(r => r.longTerm && r.ltIdx == lt)
              require(i >= 0, "h264: MMCO 2 names an absent long-term picture")
              refs = refs.patch(i, Nil, 1)
            case (3, pn, lt) =>
              require(lt <= maxLtIdx,
                "h264: long_term_frame_idx beyond MaxLongTermFrameIdx")
              refs = refs.filterNot(r => r.longTerm && r.ltIdx == lt)
              val i = refs.indexWhere(r => !r.longTerm && r.frameNum == pn)
              require(i >= 0, "h264: MMCO 3 names an absent short-term picture")
              refs = refs.updated(i, refs(i).copy(ltIdx = lt))
            case (4, maxPlus1, _) =>
              maxLtIdx = maxPlus1 - 1
              refs = refs.filterNot(r => r.longTerm && r.ltIdx > maxLtIdx)
            case (5, _, _) =>
              // 8.2.5.4.5: unmark every reference and reset the
              // frame_num/POC bases — the current picture becomes
              // frameNum 0 / POC 0, and the stream numbers onward from
              // it (the splice point)
              refs = Nil
              maxLtIdx = -1
              reset = true
            case (6, lt, _) =>
              require(lt <= maxLtIdx,
                "h264: long_term_frame_idx beyond MaxLongTermFrameIdx")
              refs = refs.filterNot(r => r.longTerm && r.ltIdx == lt)
              curLt = lt
            case (op, _, _) => throw new IllegalArgumentException(
              s"h264: MMCO operation $op out of range")
          }
          val rp =
            if (reset) rp0.copy(frameNum = 0, poc = 0, ltIdx = curLt)
            else rp0.copy(ltIdx = curLt)
          refs = rp :: refs
          require(refs.length <= 2,
            "h264: DPB overflow — adaptive marking must free a slot")
        }
      }
    }
    frames.toSeq
  }

  private def decodeSliceFrame(rbsp: Array[Byte], sps: Sps, pps: Pps,
                               isIdr: Boolean, refIdc: Int,
                               refA: RefPic, refB: RefPic): (RefPic, Seq[(Int, Int, Int)]) = {
    val ref: H264Frame = if (refA != null) refA.frame else null
    val refPrev: H264Frame = if (refB != null) refB.frame else null
    val w = sps.widthMbs * 16
    val h = sps.heightMbs * 16
    val cw = w / 2; val ch = h / 2
    val y = new Array[Byte](w * h)
    val u = new Array[Byte](cw * ch)
    val v = new Array[Byte](cw * ch)
    val br = rbspReader(rbsp)
    require(br.ue() == 0, "h264: slices not starting at MB 0 outside this profile")
    val sliceType = br.ue()
    val isP = sliceType == 0 || sliceType == 5
    val isB = sliceType == 1 || sliceType == 6
    if (isIdr) require(sliceType == 2 || sliceType == 7, "h264: non-I slice in an IDR picture")
    else require(isP || isB, "h264: non-IDR slices are P or B in this profile")
    if (isP || isB) require(ref != null, "h264: inter slice without a reference frame")
    if (isB) require(refPrev != null, "h264: B slice needs two reference frames")
    if (isB) require(!refA.longTerm && !refB.longTerm,
      "h264: B slice over long-term references outside this profile")
    require(br.ue() == 0, "h264: unknown PPS id")
    val frameNum = br.read(sps.log2MaxFrameNum)
    if (isIdr) br.ue() // idr_pic_id
    val pocCur = br.read(sps.log2MaxPoc) // poc lsb (type 0, no wrap here)
    val temporalDirect = isB && br.read(1) == 0 // direct_spatial_mv_pred_flag
    // B reference lists (8.2.4.2.3 defaults over the two-picture DPB)
    // are ordered by POC, independent of the direct prediction mode: a B
    // that displays AFTER both references keeps list0 = newest / list1 =
    // oldest (list1 is list0 with the first two swapped when no future
    // reference exists); a POC-between (display-reordered) B gets
    // list0 = the POC-past picture and list1 = the POC-future one.
    val pocBetween = isB && refB.poc < pocCur && pocCur < refA.poc
    if (isB && !pocBetween)
      // the only other list configuration this profile decodes is the
      // display-after B over an ascending-POC DPB; anything else (e.g. a
      // B before both references) is rejected, never misdecoded
      require(pocCur > refA.poc && refA.poc > refB.poc,
        "h264: B slice POC ordering outside this profile")
    if (temporalDirect)
      // temporal direct needs the colocated picture (RefPicList1[0]) to
      // be the POC-future reference: in this profile's POC-default list
      // order that means the B displays BETWEEN its two references
      require(pocBetween,
        "h264: temporal direct outside a POC-between B (no future list-1 reference)")
    // POC-default B list heads before any modification (8.2.4.2.3)
    val bRp0default = if (pocBetween) refB else refA
    val bRp1default = if (pocBetween) refA else refB
    var numRef0 = 1
    val l0Mods = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val l1Mods = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // 7.3.3.1 / 8.2.4.3: idc 0/1 subtract/add abs_diff_pic_num from a
    // rolling predictor seeded at CurrPicNum (short-term picNum naming);
    // idc 2 names a long-term picture by LongTermPicNum. Each named
    // picture moves to the front of the remaining list (exact for
    // unique entries).
    def readMods(buf: scala.collection.mutable.ArrayBuffer[(Int, Int)]): Unit = {
      var idc = br.ue()
      var n = 0
      while (idc != 3) {
        require(idc == 0 || idc == 1 || idc == 2,
          s"h264: modification_of_pic_nums_idc $idc out of range")
        buf += ((idc, if (idc == 2) br.ue() else br.ue() + 1))
        n += 1
        require(n <= 4, "h264: runaway modification list")
        idc = br.ue()
      }
      require(buf.nonEmpty, "h264: empty modification list")
    }
    if (isP || isB) {
      if (br.read(1) == 1) { // num_ref_idx_active_override_flag
        require(isP, "h264: B num_ref_idx override outside this profile")
        numRef0 = br.ue() + 1
        require(numRef0 <= 2, "h264: more than two list-0 references outside this profile")
      }
      if (br.read(1) == 1) readMods(l0Mods) // ref_pic_list_modification_flag_l0
      if (isB && br.read(1) == 1) readMods(l1Mods) // ..._flag_l1
    }
    if (temporalDirect) require(l1Mods.isEmpty,
      "h264: temporal direct over a modified list 1 outside this profile")
    // B reference lists: the two-picture defaults permuted per list by
    // the modification commands (each list is its own rolling-predictor
    // walk seeded at CurrPicNum)
    def applyBMods(mods: Seq[(Int, Int)], defaults: Seq[RefPic]): Seq[RefPic] =
      if (mods.isEmpty) defaults
      else {
        val lst = scala.collection.mutable.ArrayBuffer(defaults: _*)
        var picNumPred = frameNum
        var insertIdx = 0
        mods.foreach { case (idc, v) =>
          val srcIdx =
            if (idc == 2) lst.indexWhere(r => r.longTerm && r.ltIdx == v)
            else {
              val pn = if (idc == 0) picNumPred - v else picNumPred + v
              require(pn >= 0, "h264: picNum wrap outside this profile")
              picNumPred = pn
              lst.indexWhere(r => !r.longTerm && r.frameNum == pn)
            }
          require(srcIdx >= 0, "h264: modification names an absent reference")
          val rp = lst.remove(srcIdx)
          lst.insert(insertIdx, rp)
          insertIdx += 1
        }
        lst.toSeq
      }
    val bList0 = if (isB) applyBMods(l0Mods.toSeq, Seq(bRp0default, bRp1default)) else Nil
    val bList1 = if (isB) applyBMods(l1Mods.toSeq, Seq(bRp1default, bRp0default)) else Nil
    val bL0frame = if (isB) bList0.head.frame else null
    val bL1frame = if (isB) bList1.head.frame else null
    if (numRef0 > 1) require(refPrev != null,
      "h264: two list-0 references need two decoded reference frames")
    // list 0 of a P slice: the POC/decode-order default [newest, older],
    // permuted by the modification commands
    val list0: IndexedSeq[RefPic] = if (isP) {
      val lst = scala.collection.mutable.ArrayBuffer(
        Seq(refA, refB).filter(_ != null): _*)
      var picNumPred = frameNum
      var insertIdx = 0
      l0Mods.foreach { case (idc, v) =>
        val srcIdx =
          if (idc == 2) lst.indexWhere(r => r.longTerm && r.ltIdx == v)
          else {
            val picNum = if (idc == 0) picNumPred - v else picNumPred + v
            require(picNum >= 0, "h264: picNum wrap outside this profile")
            picNumPred = picNum
            lst.indexWhere(r => !r.longTerm && r.frameNum == picNum)
          }
        require(srcIdx >= 0, "h264: modification names an absent reference")
        val rp = lst.remove(srcIdx)
        lst.insert(insertIdx, rp)
        insertIdx += 1
      }
      require(lst.length >= numRef0,
        "h264: more active references than decoded pictures")
      lst.take(numRef0).toIndexedSeq
    } else IndexedSeq.empty
    // pred_weight_table (7.3.3.2): explicit P-slice weighted prediction
    var wpDL = 0
    var wpDC = 0
    val wpLuma = Array.fill(math.max(numRef0, 1))((0, 0))
    val wpCb = Array.fill(math.max(numRef0, 1))((0, 0))
    val wpCr = Array.fill(math.max(numRef0, 1))((0, 0))
    if (pps.weightedPred && isP) {
      wpDL = br.ue(); require(wpDL <= 7, "h264: luma weight denom out of range")
      wpDC = br.ue(); require(wpDC <= 7, "h264: chroma weight denom out of range")
      var ri = 0
      while (ri < numRef0) {
        if (br.read(1) == 1) wpLuma(ri) = (br.se(), br.se())
        else wpLuma(ri) = (1 << wpDL, 0)
        if (br.read(1) == 1) {
          wpCb(ri) = (br.se(), br.se())
          wpCr(ri) = (br.se(), br.se())
        } else {
          wpCb(ri) = (1 << wpDC, 0)
          wpCr(ri) = (1 << wpDC, 0)
        }
        ri += 1
      }
    }
    // dec_ref_pic_marking (7.4.3.3): ordered MMCO list. Each entry is
    // (op, a) with `a` resolved here: op 1/3 carry the named picNum
    // (CurrPicNum − difference_of_pic_nums_minus1 − 1), op 2 the
    // LongTermPicNum, op 4 max_long_term_frame_idx_plus1, op 6 the
    // long_term_frame_idx; op 3 additionally carries its
    // long_term_frame_idx in `b`. Application happens in
    // [[decodeSequence]] (8.2.5.4) in coded order.
    val mmcoOps = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    if (isIdr) { br.read(1); br.read(1) } // dec_ref_pic_marking (IDR form)
    else if (refIdc != 0) {
      if (br.read(1) == 1) { // adaptive_ref_pic_marking_mode_flag (7.4.3.3)
        var op = br.ue()
        var n = 0
        while (op != 0) {
          require(op <= 6, s"h264: MMCO operation $op out of range")
          val entry = op match {
            case 1 | 3 =>
              val pn = frameNum - (br.ue() + 1)
              require(pn >= 0, "h264: MMCO picNum wrap outside this profile")
              (op, pn, if (op == 3) br.ue() else 0)
            case 2 | 4 | 6 => (op, br.ue(), 0)
            case _ => (5, 0, 0) // no parameters: unmark all + reset bases
          }
          mmcoOps += entry
          n += 1
          require(n <= 6, "h264: runaway MMCO list")
          op = br.ue()
        }
        require(mmcoOps.nonEmpty, "h264: empty adaptive marking list")
      }
    }
    var cabacIdc = 0
    if (pps.entropyCabac && (isP || isB)) {
      cabacIdc = br.ue() // 7.3.3: cabac_init_idc, 0..2
      require(cabacIdc <= 2, "h264: cabac_init_idc beyond 2")
    }
    var qp = pps.picInitQp + br.se() // slice_qp_delta
    require(qp >= 0 && qp <= 51, "h264: slice QP out of range")
    val disableDeblock = br.ue() // deblocking control present in our PPS
    require(disableDeblock <= 2, "h264: disable_deblocking_filter_idc out of range")
    var offA = 0; var offB = 0 // FilterOffsetA/B = slice offsets doubled
    if (disableDeblock != 1) { offA = br.se() << 1; offB = br.se() << 1 }
    val mbW = w / 16; val mbH = h / 16
    val meta = new H264Deblock.DeblockMeta(mbW, mbH)
    val src: IntraSource =
      if (pps.entropyCabac) new CabacSource(br, mbW, mbH, cabacIdc)
      else new CavlcSource(br, mbW, mbH)
    val modeG = new ModeGrid(mbW * 4, mbH * 4)
    val mg = new MotionGrid(mbW, mbH) // list 0
    val mgB1 = new MotionGrid(mbW, mbH) // list 1 (B slices)
    /** B_Skip / B_Direct_16x16 prediction: fills both motion grids and
      * returns the whole-MB (luma 256, cb 64, cr 64) prediction. The
      * SPATIAL branch derives one MV pair per MB (8.4.1.2.2 over this
      * profile's neighbor state); the TEMPORAL branch samples the
      * colocated picture's list-0 grid PER 4x4 CELL
      * (direct_8x8_inference_flag = 0 granularity), scales each cell's
      * mvCol through [[temporalScale]], and motion-compensates each cell
      * from both lists with the spec's default bi average.
      */
    /** Direct-mode prediction for a cell rect (qx,qy,wC,hC in 4x4-cell
      * units inside macroblock (c,r)), writing the bi/one-sided average
      * into the whole-MB arrays and filling both motion grids.
      * `spatialMv` is the MB-level spatial derivation (computed ONCE per
      * MB from neighbor state, before any of this MB's fills); ignored
      * under temporal direct, which samples the colocated picture per
      * 4x4 cell.
      */
    /** Write the bi (or one-sided) average of two list fetches into
      * whole-MB prediction arrays at MB-local luma coords (px,py); chroma
      * at half resolution. A null fetch means that list is unused.
      */
    def blendInto(aY: Array[Int], aU: Array[Int], aV: Array[Int],
                  px: Int, py: Int, wP: Int, hP: Int,
                  f0: (Array[Int], Array[Int], Array[Int]),
                  f1: (Array[Int], Array[Int], Array[Int])): Unit = {
      var i = 0
      while (i < wP * hP) {
        val v0 = if (f0 != null) f0._1(i) else f1._1(i)
        val v1 = if (f1 != null) f1._1(i) else f0._1(i)
        aY((py + i / wP) * 16 + px + i % wP) = (v0 + v1 + 1) >> 1
        i += 1
      }
      val cwP = wP / 2
      i = 0
      while (i < cwP * (hP / 2)) {
        val u0 = if (f0 != null) f0._2(i) else f1._2(i)
        val u1 = if (f1 != null) f1._2(i) else f0._2(i)
        val w0 = if (f0 != null) f0._3(i) else f1._3(i)
        val w1 = if (f1 != null) f1._3(i) else f0._3(i)
        val ci = (py / 2 + i / cwP) * 8 + px / 2 + i % cwP
        aU(ci) = (u0 + u1 + 1) >> 1
        aV(ci) = (w0 + w1 + 1) >> 1
        i += 1
      }
    }
    def directFillRect(c: Int, r: Int, qx: Int, qy: Int, wC: Int, hC: Int,
                       spatialMv: (Int, (Int, Int), Int, (Int, Int)),
                       aY: Array[Int], aU: Array[Int], aV: Array[Int]): Unit = {
      val mx = c * 16; val my = r * 16
      def blend(px: Int, py: Int, wP: Int, hP: Int,
                f0: (Array[Int], Array[Int], Array[Int]),
                f1: (Array[Int], Array[Int], Array[Int])): Unit =
        blendInto(aY, aU, aV, px, py, wP, hP, f0, f1)
      if (temporalDirect) {
        val colMg = refA.mg // colocated = RefPicList1[0] = the POC-future ref
        val tb = pocCur - refB.poc
        val td = refA.poc - refB.poc
        var cyy = qy
        while (cyy < qy + hC) {
          var cxx = qx
          while (cxx < qx + wC) {
            val gx = c * 4 + cxx; val gy = r * 4 + cyy
            val colRef = colMg.ref(gy * colMg.gw + gx)
            require(colRef <= 0,
              "h264: temporal direct over a multi-reference colocated cell outside this profile")
            // intra colocated (ref -1): mvCol = 0, refIdxCol treated as 0
            val mcx = if (colRef < 0) 0 else colMg.mvx(gy * colMg.gw + gx)
            val mcy = if (colRef < 0) 0 else colMg.mvy(gy * colMg.gw + gx)
            val (l0x, l0y, l1x, l1y) = temporalScale(tb, td, mcx, mcy)
            mg.fill(gx, gy, 1, 1, 0, l0x, l0y)
            mgB1.fill(gx, gy, 1, 1, 0, l1x, l1y)
            blend(cxx * 4, cyy * 4, 4, 4,
              mcFetchRect(bL0frame, mx + cxx * 4, my + cyy * 4, 4, 4, l0x, l0y),
              mcFetchRect(bL1frame, mx + cxx * 4, my + cyy * 4, 4, 4, l1x, l1y))
            cxx += 1
          }
          cyy += 1
        }
      } else {
        val (r0, mv0, r1, mv1) = spatialMv
        require(r0 <= 0, "h264: direct list-0 reference beyond this profile")
        mg.fill(c * 4 + qx, r * 4 + qy, wC, hC, r0, mv0._1, mv0._2)
        mgB1.fill(c * 4 + qx, r * 4 + qy, wC, hC, r1, mv1._1, mv1._2)
        val f0 = if (r0 >= 0)
          mcFetchRect(bL0frame, mx + qx * 4, my + qy * 4, wC * 4, hC * 4,
            mv0._1, mv0._2)
        else null
        val f1 = if (r1 >= 0)
          mcFetchRect(bL1frame, mx + qx * 4, my + qy * 4, wC * 4, hC * 4,
            mv1._1, mv1._2)
        else null
        blend(qx * 4, qy * 4, wC * 4, hC * 4, f0, f1)
      }
    }
    def directPredictMb(mbI: Int, c: Int, r: Int):
        (Array[Int], Array[Int], Array[Int]) = {
      val aY = new Array[Int](256)
      val aU = new Array[Int](64)
      val aV = new Array[Int](64)
      val sp =
        if (temporalDirect) null
        else directSpatial(mg, mgB1, mbI, c * 4, r * 4)
      directFillRect(c, r, 0, 0, 4, 4, sp, aY, aU, aV)
      (aY, aU, aV)
    }
    var mb = 0
    while (mb < mbW * mbH) {
      val r = mb / mbW; val c = mb % mbW
      val mx = c * 16; val my = r * 16
      val cx = c * 8; val cy = r * 8
      if ((isP || isB) && src.pSkipNext(mb)) {
        if (isB) {
        // B_Skip: direct-mode motion (spatial or temporal), no residual
        val (pY, pU, pV) = directPredictMb(mb, c, r)
        var i = 0
        while (i < 256) { y((my + i / 16) * w + mx + i % 16) = pY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          u((cy + i / 8) * cw + cx + i % 8) = pU(i).toByte
          v((cy + i / 8) * cw + cx + i % 8) = pV(i).toByte
          i += 1
        }
        meta.qpMb(mb) = qp
        src.endMb(mb == mbW * mbH - 1)
        mb += 1
        } else {
        // P_Skip: derived motion, no residual; refIdx 0 (the head of the
        // possibly-modified list) and the explicit weights still apply
        val smv = skipMvCell(mg, mb, c * 4, r * 4)
        val (pY, pU, pV) = mcFetch(list0(0).frame, mx, my, smv._1, smv._2)
        if (pps.weightedPred) {
          wpApply(pY, wpLuma(0)._1, wpLuma(0)._2, wpDL)
          wpApply(pU, wpCb(0)._1, wpCb(0)._2, wpDC)
          wpApply(pV, wpCr(0)._1, wpCr(0)._2, wpDC)
        }
        var i = 0
        while (i < 256) { y((my + i / 16) * w + mx + i % 16) = pY(i).toByte; i += 1 }
        i = 0
        while (i < 64) {
          u((cy + i / 8) * cw + cx + i % 8) = pU(i).toByte
          v((cy + i / 8) * cw + cx + i % 8) = pV(i).toByte
          i += 1
        }
        mg.fill(c * 4, r * 4, 4, 4, 0, smv._1, smv._2)
        meta.qpMb(mb) = qp
        src.endMb(mb == mbW * mbH - 1)
        mb += 1
        }
      } else {
        val rawType =
          if (isB) src.bMbType(mb)
          else if (isP) src.pMbType(mb)
          else src.mbTypeI(mb)
        if ((isP && rawType < 5) || (isB && rawType < 23)) {
          if (isP) require(rawType <= 3, s"h264: P mb_type $rawType outside this profile")

          var mbRef0 = 0 // list-0 reference of this MB (P_L0_16x16 only)
          val (pY, pU, pV) =
            if (isB && rawType == 0) {
              // B_Direct_16x16: direct derivation (spatial or temporal),
              // no motion syntax
              directPredictMb(mb, c, r)
            } else if (isB && rawType <= 3) {
              // B_L0 / B_L1 / B_Bi 16x16: per-list mvd over per-list
              // grids against the POC-ordered list pictures; Bi = the
              // spec's default (p0 + p1 + 1) >> 1 average
              val useL0 = rawType == 1 || rawType == 3
              val useL1 = rawType == 2 || rawType == 3
              var f0: (Array[Int], Array[Int], Array[Int]) = null
              var f1: (Array[Int], Array[Int], Array[Int]) = null
              if (useL0) {
                val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten)
                val (dx, dy) = src.mvd(c * 4, r * 4, 4, 4)
                val mvX = mvp._1 + dx; val mvY = mvp._2 + dy
                mg.fill(c * 4, r * 4, 4, 4, 0, mvX, mvY)
                f0 = mcFetch(bL0frame, mx, my, mvX, mvY)
              }
              if (useL1) {
                val mvp = mvPredictPart(mgB1, mb, c * 4, r * 4, 4, 0, noneWritten)
                val (dx, dy) = src.mvd(c * 4, r * 4, 4, 4)
                val mvX = mvp._1 + dx; val mvY = mvp._2 + dy
                mgB1.fill(c * 4, r * 4, 4, 4, 0, mvX, mvY)
                f1 = mcFetch(bL1frame, mx, my, mvX, mvY)
              }
              if (rawType == 1) f0
              else if (rawType == 2) f1
              else avgPlanes(f0, f1)
            } else if (isB && rawType <= 21) {
              // B two-partition 16x8/8x16 (Table 7-14): per-partition
              // list-usage mask; syntax order is all list-0 mvds then all
              // list-1 mvds (7.3.5.1); per-list directional-preference
              // predictors — partition 0's cells count as decoded
              // neighbors of partition 1 in both lists (ref stays -1 on
              // a list it doesn't use: the spec's intra-like contribution)
              val ((md0, md1), is16x8) = bPartSpec(rawType)
              val mds = Array(md0, md1)
              val parts =
                if (is16x8) Seq((0, 0, 4, 2, 1), (0, 2, 4, 2, 2))
                else Seq((0, 0, 2, 4, 3), (2, 0, 2, 4, 4))
              val mvs = Array.ofDim[Int](2, 2, 2) // [part][list][x,y]
              var list = 0
              while (list < 2) {
                val g = if (list == 0) mg else mgB1
                parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, pt), pi) =>
                  if ((mds(pi) & (1 << list)) != 0) {
                    val written: (Int, Int) => Boolean =
                      if (pi == 0) noneWritten
                      else if (is16x8) (_, y0) => y0 < 2
                      else (x0, _) => x0 < 2 // partition 0 always decoded first
                    val mvp = mvPredictPart(g, mb, c * 4 + lx, r * 4 + ly, wC, pt, written)
                    val (dx, dy) = src.mvd(c * 4 + lx, r * 4 + ly, wC, hC)
                    val mvX = mvp._1 + dx; val mvY = mvp._2 + dy
                    g.fill(c * 4 + lx, r * 4 + ly, wC, hC, 0, mvX, mvY)
                    mvs(pi)(list)(0) = mvX; mvs(pi)(list)(1) = mvY
                  }
                }
                list += 1
              }
              val aY = new Array[Int](256)
              val aU = new Array[Int](64)
              val aV = new Array[Int](64)
              parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, _), pi) =>
                val f0p = if ((mds(pi) & 1) != 0)
                  mcFetchRect(bL0frame, mx + lx * 4, my + ly * 4, wC * 4, hC * 4,
                    mvs(pi)(0)(0), mvs(pi)(0)(1))
                else null
                val f1p = if ((mds(pi) & 2) != 0)
                  mcFetchRect(bL1frame, mx + lx * 4, my + ly * 4, wC * 4, hC * 4,
                    mvs(pi)(1)(0), mvs(pi)(1)(1))
                else null
                blendInto(aY, aU, aV, lx * 4, ly * 4, wC * 4, hC * 4, f0p, f1p)
              }
              (aY, aU, aV)
            } else if (isB) {
              // B_8x8 (mb_type 22): four B sub_mb_types (Table 7-18);
              // direct sub-MBs derive their motion first (MB-level
              // spatial derivation computed from neighbor state BEFORE
              // any of this MB's fills; temporal samples per cell), then
              // the two per-list mvd passes over the coded sub-MBs in
              // raster order — each pass marks every visited sub-MB's
              // cells written, so earlier sub-MBs are available to the
              // predictor even when they don't use that list (their grid
              // ref stays -1: the spec's intra-like contribution)
              val subT = Array.fill(4)(src.subMbTypeB())
              val specs = subT.map(bSubSpec)
              val aY = new Array[Int](256)
              val aU = new Array[Int](64)
              val aV = new Array[Int](64)
              val sp =
                if (!temporalDirect && specs.exists(_._1 == 0))
                  directSpatial(mg, mgB1, mb, c * 4, r * 4)
                else null
              var q = 0
              while (q < 4) {
                if (specs(q)._1 == 0)
                  directFillRect(c, r, (q & 1) * 2, (q >> 1) * 2, 2, 2, sp, aY, aU, aV)
                q += 1
              }
              val subMvs = Array.ofDim[Int](4, 4, 2, 2) // [q][subIdx][list][x,y]
              var li = 0
              while (li < 2) {
                val g = if (li == 0) mg else mgB1
                val wr = Array.ofDim[Boolean](4, 4)
                q = 0
                while (q < 4) { // direct cells count as decoded neighbors
                  if (specs(q)._1 == 0) {
                    var yy = 0
                    while (yy < 2) {
                      var xx = 0
                      while (xx < 2) { wr((q >> 1) * 2 + yy)((q & 1) * 2 + xx) = true; xx += 1 }
                      yy += 1
                    }
                  }
                  q += 1
                }
                val written: (Int, Int) => Boolean = (x0, y0) => wr(y0)(x0)
                q = 0
                while (q < 4) {
                  val (mask, shape) = specs(q)
                  val qx = (q & 1) * 2; val qy = (q >> 1) * 2
                  if (mask != 0 && (mask & (1 << li)) != 0) {
                    subParts(shape).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
                      val cx0 = c * 4 + qx + lx; val cy0 = r * 4 + qy + ly
                      val mvp = mvPredictPart(g, mb, cx0, cy0, wC, 0, written)
                      val (dx, dy) = src.mvd(cx0, cy0, wC, hC)
                      val mvX = mvp._1 + dx; val mvY = mvp._2 + dy
                      g.fill(cx0, cy0, wC, hC, 0, mvX, mvY)
                      var yy = 0
                      while (yy < hC) {
                        var xx = 0
                        while (xx < wC) { wr(qy + ly + yy)(qx + lx + xx) = true; xx += 1 }
                        yy += 1
                      }
                      subMvs(q)(j)(li)(0) = mvX; subMvs(q)(j)(li)(1) = mvY
                    }
                  } else if (mask != 0) {
                    // visited but not using this list: cells still become
                    // decoded neighbors for later sub-MBs in this pass
                    var yy = 0
                    while (yy < 2) {
                      var xx = 0
                      while (xx < 2) { wr(qy + yy)(qx + xx) = true; xx += 1 }
                      yy += 1
                    }
                  }
                  q += 1
                }
                li += 1
              }
              q = 0
              while (q < 4) {
                val (mask, shape) = specs(q)
                val qx = (q & 1) * 2; val qy = (q >> 1) * 2
                if (mask != 0) {
                  subParts(shape).zipWithIndex.foreach { case ((lx, ly, wC, hC), j) =>
                    val px = (qx + lx) * 4; val py = (qy + ly) * 4
                    val f0p = if ((mask & 1) != 0)
                      mcFetchRect(bL0frame, mx + px, my + py, wC * 4, hC * 4,
                        subMvs(q)(j)(0)(0), subMvs(q)(j)(0)(1))
                    else null
                    val f1p = if ((mask & 2) != 0)
                      mcFetchRect(bL1frame, mx + px, my + py, wC * 4, hC * 4,
                        subMvs(q)(j)(1)(0), subMvs(q)(j)(1)(1))
                    else null
                    blendInto(aY, aU, aV, px, py, wC * 4, hC * 4, f0p, f1p)
                  }
                }
                q += 1
              }
              (aY, aU, aV)
            } else if (rawType == 3) {
              // P_8x8: four sub_mb_types, then (with two active
              // references) one ref_idx per sub-MB, then every
              // sub-partition's mvd in decode order; later
              // sub-partitions predict from the already-written cells
              // (tracked on an explicit grid) with ref matching against
              // the sub-MB's own reference
              val subT = Array.fill(4)(src.subMbType8())
              subT.foreach(t => require(t >= 0 && t <= 3,
                "h264: P sub_mb_type out of range"))
              val refs8 = Array.fill(4)(0)
              if (numRef0 > 1) {
                var k = 0
                while (k < 4) {
                  refs8(k) = src.refIdx(c * 4 + (k & 1) * 2, r * 4 + (k >> 1) * 2, 2, 2)
                  k += 1
                }
              }
              val wr = Array.ofDim[Boolean](4, 4)
              val written: (Int, Int) => Boolean = (x0, y0) => wr(y0)(x0)
              val aY = new Array[Int](256)
              val aU = new Array[Int](64)
              val aV = new Array[Int](64)
              var k = 0
              while (k < 4) {
                val qx = (k & 1) * 2; val qy = (k >> 1) * 2
                subParts(subT(k)).foreach { case (lx, ly, wC, hC) =>
                  val cx0 = c * 4 + qx + lx; val cy0 = r * 4 + qy + ly
                  val mvp = mvPredictPart(mg, mb, cx0, cy0, wC, 0, written, refs8(k))
                  val (dx, dy) = src.mvd(cx0, cy0, wC, hC)
                  val mvX = mvp._1 + dx
                  val mvY = mvp._2 + dy
                  mg.fill(cx0, cy0, wC, hC, refs8(k), mvX, mvY)
                  var yy = 0
                  while (yy < hC) {
                    var xx = 0
                    while (xx < wC) { wr(qy + ly + yy)(qx + lx + xx) = true; xx += 1 }
                    yy += 1
                  }
                  val (fY, fU, fV) = mcFetchRect(list0(refs8(k)).frame,
                    mx + (qx + lx) * 4,
                    my + (qy + ly) * 4, wC * 4, hC * 4, mvX, mvY)
                  if (pps.weightedPred) {
                    // explicit weights per SUB-MB reference (the
                    // whole-MB pass below only covers 16x16)
                    wpApply(fY, wpLuma(refs8(k))._1, wpLuma(refs8(k))._2, wpDL)
                    wpApply(fU, wpCb(refs8(k))._1, wpCb(refs8(k))._2, wpDC)
                    wpApply(fV, wpCr(refs8(k))._1, wpCr(refs8(k))._2, wpDC)
                  }
                  val wP = wC * 4
                  var i = 0
                  while (i < fY.length) {
                    aY(((qy + ly) * 4 + i / wP) * 16 + (qx + lx) * 4 + i % wP) = fY(i)
                    i += 1
                  }
                  val cwP = wC * 2
                  i = 0
                  while (i < fU.length) {
                    aU(((qy + ly) * 2 + i / cwP) * 8 + (qx + lx) * 2 + i % cwP) = fU(i)
                    aV(((qy + ly) * 2 + i / cwP) * 8 + (qx + lx) * 2 + i % cwP) = fV(i)
                    i += 1
                  }
                }
                k += 1
              }
              (aY, aU, aV)
            } else if (rawType == 0) {
              if (isP && numRef0 > 1)
                mbRef0 = src.refIdx(c * 4, r * 4, 4, 4)
              val mvp = mvPredictPart(mg, mb, c * 4, r * 4, 4, 0, noneWritten, mbRef0)
              val (dx, dy) = src.mvd(c * 4, r * 4, 4, 4)
              val mvX = mvp._1 + dx
              val mvY = mvp._2 + dy
              mg.fill(c * 4, r * 4, 4, 4, mbRef0, mvX, mvY)
              mcFetch(list0(mbRef0).frame, mx, my, mvX, mvY)
            } else {
              // P_L0_L0_16x8 / P_L0_L0_8x16: (with two active
              // references) both partitions' ref_idx first, then
              // per-partition mvds against the directional-preference
              // predictors (ref-matched to each partition's reference),
              // then per-partition motion compensation assembled into
              // the MB prediction
              val is16x8 = rawType == 1
              val aY = new Array[Int](256)
              val aU = new Array[Int](64)
              val aV = new Array[Int](64)
              val parts =
                if (is16x8) Seq((0, 0, 4, 2, 1), (0, 2, 4, 2, 2))
                else Seq((0, 0, 2, 4, 3), (2, 0, 2, 4, 4))
              val refs2 = Array(0, 0)
              if (numRef0 > 1)
                parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, _), pi) =>
                  refs2(pi) = src.refIdx(c * 4 + lx, r * 4 + ly, wC, hC)
                }
              parts.zipWithIndex.foreach { case ((lx, ly, wC, hC, pt), pi) =>
                val written: (Int, Int) => Boolean =
                  if (pi == 0) noneWritten
                  else if (is16x8) (_, y0) => y0 < 2
                  else (x0, _) => x0 < 2
                val mvp = mvPredictPart(mg, mb, c * 4 + lx, r * 4 + ly, wC, pt,
                  written, refs2(pi))
                val (dx, dy) = src.mvd(c * 4 + lx, r * 4 + ly, wC, hC)
                val mvX = mvp._1 + dx
                val mvY = mvp._2 + dy
                mg.fill(c * 4 + lx, r * 4 + ly, wC, hC, refs2(pi), mvX, mvY)
                val (fY, fU, fV) = mcFetchRect(list0(refs2(pi)).frame,
                  mx + lx * 4, my + ly * 4,
                  wC * 4, hC * 4, mvX, mvY)
                if (pps.weightedPred) {
                  // explicit weights per PARTITION reference
                  wpApply(fY, wpLuma(refs2(pi))._1, wpLuma(refs2(pi))._2, wpDL)
                  wpApply(fU, wpCb(refs2(pi))._1, wpCb(refs2(pi))._2, wpDC)
                  wpApply(fV, wpCr(refs2(pi))._1, wpCr(refs2(pi))._2, wpDC)
                }
                val wP = wC * 4
                var i = 0
                while (i < fY.length) {
                  aY((ly * 4 + i / wP) * 16 + lx * 4 + i % wP) = fY(i)
                  i += 1
                }
                val cwP = wC * 2
                i = 0
                while (i < fU.length) {
                  aU((ly * 2 + i / cwP) * 8 + lx * 2 + i % cwP) = fU(i)
                  aV((ly * 2 + i / cwP) * 8 + lx * 2 + i % cwP) = fV(i)
                  i += 1
                }
              }
              (aY, aU, aV)
            }
          if (isP && pps.weightedPred && rawType == 0) {
            // 16x16: one reference per MB; sub-partition shapes applied
            // their per-partition weights at fetch time above
            wpApply(pY, wpLuma(mbRef0)._1, wpLuma(mbRef0)._2, wpDL)
            wpApply(pU, wpCb(mbRef0)._1, wpCb(mbRef0)._2, wpDC)
            wpApply(pV, wpCr(mbRef0)._1, wpCr(mbRef0)._2, wpDC)
          }
          val cbp = src.cbp(mb)
          val cbpLuma = cbp & 15
          val cbpC = cbp >> 4
          require(cbpC <= 2, "h264: chroma coded_block_pattern out of range")
          if (cbp != 0) {
            qp += src.qpDelta()
            require(qp >= 0 && qp <= 51, "h264: macroblock QP out of range")
          }
          val qpc = chromaQp(math.max(0, math.min(51, qp + pps.chromaQpOff)))
          val lumaCoef = new Array[Array[Int]](16)
          var s8 = 0
          while (s8 < 4) {
            if (((cbpLuma >> s8) & 1) == 1) {
              var j = 0
              while (j < 4) {
                val bb = s8 * 4 + j
                lumaCoef(bb) =
                  src.residual(2, 0, c * 4 + blkX(bb) / 4, r * 4 + blkY(bb) / 4, mb, 16)
                if (lumaCoef(bb) != null && lumaCoef(bb).exists(_ != 0))
                  meta.markNz(c * 4 + blkX(bb) / 4, r * 4 + blkY(bb) / 4)
                j += 1
              }
            }
            s8 += 1
          }
          var dcCb = new Array[Int](4)
          var dcCr = new Array[Int](4)
          if (cbpC >= 1) {
            dcCb = src.residual(3, 1, 0, 0, mb, 4)
            dcCr = src.residual(3, 2, 0, 0, mb, 4)
          }
          var acCb: Array[Array[Int]] = null
          var acCr: Array[Array[Int]] = null
          if (cbpC == 2) {
            acCb = new Array[Array[Int]](4)
            var bk = 0
            while (bk < 4) {
              acCb(bk) = src.residual(4, 1, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
              bk += 1
            }
            acCr = new Array[Array[Int]](4)
            bk = 0
            while (bk < 4) {
              acCr(bk) = src.residual(4, 2, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
              bk += 1
            }
          }
          var b = 0
          while (b < 16) {
            val bx = mx + blkX(b); val by = my + blkY(b)
            val dcoef = new Array[Int](16)
            if (lumaCoef(b) != null) {
              var k = 0
              while (k < 16) {
                if (lumaCoef(b)(k) != 0) { val p = zig4(k); dcoef(p) = deqAc(lumaCoef(b)(k), qp, p) }
                k += 1
              }
            }
            val rr = invCore4(dcoef)
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                val pi = (blkY(b) + yy) * 16 + blkX(b) + xx
                y((by + yy) * w + bx + xx) =
                  clip255(pY(pi) + ((rr(yy * 4 + xx) + 32) >> 6)).toByte
                xx += 1
              }
              yy += 1
            }
            b += 1
          }
          val rU = reconChroma(pU, dcCb, acCb, qpc)
          val rV = reconChroma(pV, dcCr, acCr, qpc)
          var i = 0
          while (i < 64) {
            u((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
            v((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
            i += 1
          }
          meta.qpMb(mb) = qp
          src.endMb(mb == mbW * mbH - 1)
          mb += 1
        } else {
          val mbType = if (isP) rawType - 5 else if (isB) rawType - 23 else rawType
          qp = decodeIntraMb(mbType, src, pps, y, u, v, w, h, mb, qp, modeG, meta)
          meta.qpMb(mb) = qp
          src.endMb(mb == mbW * mbH - 1)
          mb += 1
        }
      }
    }
    src.finish()
    if (disableDeblock != 1) {
      // idc 2 (don't cross slice boundaries) equals idc 0 here: one
      // slice per picture, and frame borders are never filtered anyway;
      // B slices hand the list-1 grid to the bS derivation
      H264Deblock.filterFrame(y, u, v, w, h, meta, mg, pps.chromaQpOff,
        offA, offB, mg1 = if (isB) mgB1 else null)
    }
    (RefPic(H264Frame(w, h, y, u, v), pocCur, mg, frameNum), mmcoOps.toSeq)
  }

  /** Decode one intra macroblock (I_PCM / I_4x4 / Intra_16x16) into the
    * current frame's planes through an entropy source (CAVLC or CABAC) —
    * shared by I slices and the intra MBs of P slices; returns the
    * updated slice QP.
    */
  private def decodeIntraMb(mbType: Int, src: IntraSource, pps: Pps,
                            y: Array[Byte], u: Array[Byte], v: Array[Byte],
                            w: Int, h: Int, mb: Int, qp0: Int,
                            modeG: ModeGrid,
                            meta: H264Deblock.DeblockMeta): Int = {
    val mbW = w / 16
    val r = mb / mbW; val c = mb % mbW
    val mx = c * 16; val my = r * 16
    val cx = c * 8; val cy = r * 8
    val cw = w / 2
    var qp = qp0
    meta.intraMb(mb) = true
    if (mbType == 25) {
      meta.pcmMb(mb) = true // deblock QP-0 rule: PCM samples stay exact
      val (ys, us, vs) = src.pcm(mb)
      var i = 0
      while (i < 256) { y((my + i / 16) * w + mx + i % 16) = ys(i).toByte; i += 1 }
      i = 0
      while (i < 64) {
        u((cy + i / 8) * cw + cx + i % 8) = us(i).toByte
        v((cy + i / 8) * cw + cx + i % 8) = vs(i).toByte
        i += 1
      }
    } else if (mbType == 0) {
      // I_4x4: per-block modes via prev_intra4x4_pred_mode, CBP, then
      // sequential block reconstruction (later blocks predict from
      // earlier reconstructed ones)
      val modes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val gx = c * 4 + blkX(b) / 4; val gy = r * 4 + blkY(b) / 4
        modes(b) = src.i4Mode(modeG.mpm(gx, gy))
        modeG.set(gx, gy, modes(b))
        b += 1
      }
      val cmode = src.chromaMode(mb)
      val cbp = src.cbp(mb)
      val cbpLuma = cbp & 15
      val cbpC = cbp >> 4
      require(cbpC <= 2, "h264: chroma coded_block_pattern out of range")
      if (cbp != 0) {
        qp += src.qpDelta()
        require(qp >= 0 && qp <= 51, "h264: macroblock QP out of range")
      }
      val qpc = chromaQp(math.max(0, math.min(51, qp + pps.chromaQpOff)))
      val lumaCoef = new Array[Array[Int]](16)
      var s8 = 0
      while (s8 < 4) {
        if (((cbpLuma >> s8) & 1) == 1) {
          var j = 0
          while (j < 4) {
            val bb = s8 * 4 + j
            val gx = c * 4 + blkX(bb) / 4; val gy = r * 4 + blkY(bb) / 4
            lumaCoef(bb) = src.residual(2, 0, gx, gy, mb, 16)
            j += 1
          }
        }
        s8 += 1
      }
      var dcCb = new Array[Int](4)
      var dcCr = new Array[Int](4)
      if (cbpC >= 1) {
        dcCb = src.residual(3, 1, 0, 0, mb, 4)
        dcCr = src.residual(3, 2, 0, 0, mb, 4)
      }
      var acCb: Array[Array[Int]] = null
      var acCr: Array[Array[Int]] = null
      if (cbpC == 2) {
        acCb = new Array[Array[Int]](4)
        var bk = 0
        while (bk < 4) {
          acCb(bk) = src.residual(4, 1, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
          bk += 1
        }
        acCr = new Array[Array[Int]](4)
        bk = 0
        while (bk < 4) {
          acCr(bk) = src.residual(4, 2, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
          bk += 1
        }
      }
      b = 0
      while (b < 16) {
        val bx = mx + blkX(b); val by = my + blkY(b)
        val pr = predIntra4(modes(b), y, w, h, bx, by)
        val dcoef = new Array[Int](16)
        if (lumaCoef(b) != null) {
          var k = 0
          while (k < 16) {
            if (lumaCoef(b)(k) != 0) { val p = zig4(k); dcoef(p) = deqAc(lumaCoef(b)(k), qp, p) }
            k += 1
          }
        }
        val rr = invCore4(dcoef)
        var yy = 0
        while (yy < 4) {
          var xx = 0
          while (xx < 4) {
            y((by + yy) * w + bx + xx) =
              clip255(pr(yy * 4 + xx) + ((rr(yy * 4 + xx) + 32) >> 6)).toByte
            xx += 1
          }
          yy += 1
        }
        b += 1
      }
      val rU = reconChroma(predChroma8(cmode, u, cw, cx, cy), dcCb, acCb, qpc)
      val rV = reconChroma(predChroma8(cmode, v, cw, cx, cy), dcCr, acCr, qpc)
      var i = 0
      while (i < 64) {
        u((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
        v((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
        i += 1
      }
    } else {
      require(mbType >= 1 && mbType <= 24, s"h264: mb_type $mbType invalid in an I slice")
      val m = mbType - 1
      val mode = m % 4
      val cbpC = (m / 4) % 3
      val cbpL15 = m >= 12
      val cmode = src.chromaMode(mb)
      qp += src.qpDelta()
      require(qp >= 0 && qp <= 51, "h264: macroblock QP out of range")
      val qpc = chromaQp(math.max(0, math.min(51, qp + pps.chromaQpOff)))
      val dcScan = src.residual(0, 0, 0, 0, mb, 16)
      var acBlocks: Array[Array[Int]] = null
      if (cbpL15) {
        acBlocks = new Array[Array[Int]](16)
        var bk = 0
        while (bk < 16) {
          val bx = c * 4 + blkX(bk) / 4; val by = r * 4 + blkY(bk) / 4
          acBlocks(bk) = src.residual(1, 0, bx, by, mb, 15)
          bk += 1
        }
      }
      var dcCb = new Array[Int](4)
      var dcCr = new Array[Int](4)
      if (cbpC >= 1) {
        dcCb = src.residual(3, 1, 0, 0, mb, 4)
        dcCr = src.residual(3, 2, 0, 0, mb, 4)
      }
      var acCb: Array[Array[Int]] = null
      var acCr: Array[Array[Int]] = null
      if (cbpC == 2) {
        acCb = new Array[Array[Int]](4)
        var bk = 0
        while (bk < 4) {
          acCb(bk) = src.residual(4, 1, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
          bk += 1
        }
        acCr = new Array[Array[Int]](4)
        bk = 0
        while (bk < 4) {
          acCr(bk) = src.residual(4, 2, c * 2 + (bk & 1), r * 2 + (bk >> 1), mb, 15)
          bk += 1
        }
      }
      val rY = reconI16(predIntra16(mode, y, w, mx, my), dcScan, acBlocks, qp)
      val rU = reconChroma(predChroma8(cmode, u, cw, cx, cy), dcCb, acCb, qpc)
      val rV = reconChroma(predChroma8(cmode, v, cw, cx, cy), dcCr, acCr, qpc)
      var i = 0
      while (i < 256) { y((my + i / 16) * w + mx + i % 16) = rY(i).toByte; i += 1 }
      i = 0
      while (i < 64) {
        u((cy + i / 8) * cw + cx + i % 8) = rU(i).toByte
        v((cy + i / 8) * cw + cx + i % 8) = rV(i).toByte
        i += 1
      }
    }
    qp
  }
}
