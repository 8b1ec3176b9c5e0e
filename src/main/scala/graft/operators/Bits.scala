package graft.operators

/** The bitstream core every codec reads and writes through: one MSB-first
  * reader/writer pair (MPEG audio, AAC, H.264, FLAC, JPEG) and one
  * LSB-first pair (VP8L, GIF LZW).
  *
  * Readers keep up to 64 unread bits in a cache and refill it a byte at a
  * time, so bounds are checked once per read or refill, never per bit. A
  * read fails only when it would CONSUME a bit past `end`: prefetching
  * into the cache never fails, and a failing read leaves the position
  * where it was. Positions are consumed positions, absolute bit offsets
  * into the buffer (`pos`), whatever the cache holds.
  *
  * Malformed input throws `IllegalArgumentException` with the codec's own
  * prefix (`codec`); `truncated` says what running out of bits means for
  * that stream, and is only built when that happens. Codec-specific layers (H.264 emulation prevention, JPEG
  * FF00 unstuffing, checked alignment bits) stay in their codecs.
  */
private[operators] object Bits {

  /** A writer's field check, kept out of line so `put` allocates nothing. */
  private def misfit(v: Long, n: Int): Nothing =
    throw new IllegalArgumentException(s"bits: $v does not fit $n bits")

  /** MSB-first reader over `buf[start, end)`. `read(n)` takes n ≤ 32
    * bits, `readLong(n)` n ≤ 64, `peek(n)` n ≤ 32 (zero bits past the
    * end, nothing consumed).
    */
  final class MsbReader(buf: Array[Byte], start: Int, end: Int,
                        codec: String, truncated: => String) {
    def this(buf: Array[Byte], codec: String, truncated: => String) =
      this(buf, 0, buf.length, codec, truncated)
    require(start >= 0 && start <= end && end <= buf.length,
      s"$codec: bit range [$start, $end) outside a ${buf.length}-byte buffer")

    private var next = start // next byte to load into the cache
    private var cache = 0L   // unread bits, left-aligned; zeros below them
    private var avail = 0    // unread bits in the cache

    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$codec: $what")

    private def refill(): Unit =
      while (avail <= 56 && next < end) {
        cache |= (buf(next) & 0xffL) << (56 - avail)
        avail += 8
        next += 1
      }

    /** Top `n` (0..57) cached bits, consumed; `n` must be available. */
    private def take(n: Int): Long = {
      val v = (cache >>> 1) >>> (63 - n)
      cache <<= n
      avail -= n
      v
    }

    def read(n: Int): Int = {
      if (avail < n) { refill(); if (avail < n) fail(truncated) }
      take(n).toInt
    }

    def readLong(n: Int): Long = {
      if (n <= 32) read(n).toLong & 0xffffffffL
      else {
        if (avail + 8L * (end - next) < n) fail(truncated)
        val hi = readLong(n - 32)
        (hi << 32) | (read(32).toLong & 0xffffffffL)
      }
    }

    def peek(n: Int): Int = {
      if (avail < n) refill()
      ((cache >>> 1) >>> (63 - n)).toInt
    }

    def skip(n: Int): Unit = { read(n); () }

    /** Zeros before the next one bit, which is consumed too; more than
      * `max` zeros fail with `tooLong`.
      */
    def unary(max: Int, tooLong: String): Int = {
      var q = 0
      while (read(1) == 0) {
        q += 1
        if (q > max) fail(tooLong)
      }
      q
    }

    /** Unsigned exp-Golomb (H.264 9.1). */
    def ue(): Int = {
      val zeros = unary(31, "exp-Golomb code too long")
      (1 << zeros) - 1 + read(zeros)
    }

    /** Signed exp-Golomb (H.264 9.1.1). */
    def se(): Int = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }

    def pos: Long = next.toLong * 8 - avail
    def bytePos: Int = (pos >> 3).toInt
    def aligned: Boolean = (avail & 7) == 0
    def atEnd: Boolean = avail == 0 && next >= end

    /** Skip to the next byte boundary; returns the skipped bits. */
    def alignByte(): Int = read(avail & 7)

    def seek(bitPos: Long): Unit = {
      if (bitPos < start * 8L || bitPos > end * 8L) fail("seek outside the bitstream")
      next = (bitPos >> 3).toInt
      cache = 0L
      avail = 0
      skip((bitPos & 7).toInt)
    }
  }

  /** MSB-first writer; `put(v, n)` takes 0 ≤ v < 2^n, n ≤ 56. */
  final class MsbWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L // pending bits in the low `nAcc` bits
    private var nAcc = 0 // < 8 between calls

    def put(v: Long, n: Int): Unit = {
      if (n < 0 || n > 56 || v < 0 || (v >>> n) != 0) misfit(v, n)
      acc = (acc << n) | v
      nAcc += n
      while (nAcc >= 8) {
        nAcc -= 8
        out.write((acc >>> nAcc).toInt & 0xff)
      }
    }

    /** `q` zero bits, then a one. */
    def unary(q: Int): Unit = {
      var k = q
      while (k >= 56) { put(0, 56); k -= 56 }
      put(1, k + 1)
    }

    def ue(v: Int): Unit = {
      require(v >= 0, s"bits: exp-Golomb value $v is negative")
      val code = v + 1
      val n = 32 - Integer.numberOfLeadingZeros(code)
      put(0, n - 1)
      put(code.toLong, n)
    }

    def se(v: Int): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)

    /** Bits written so far (fixture-sized streams: under 2^31 bits). */
    def length: Int = out.size * 8 + nAcc

    /** Appends everything `w` holds, bit-exactly: its last byte unpadded. */
    def append(w: MsbWriter): Unit = {
      val full = w.out.toByteArray
      if (nAcc == 0) out.write(full, 0, full.length)
      else full.foreach(b => put(b & 0xff, 8))
      put(w.acc & ((1L << w.nAcc) - 1), w.nAcc)
    }

    def alignZero(): Unit = if (nAcc > 0) put(0, 8 - nAcc)
    def alignOnes(): Unit = if (nAcc > 0) put((1 << (8 - nAcc)) - 1, 8 - nAcc)

    /** The stream so far, the last byte zero-padded. */
    def bytes(): Array[Byte] = { alignZero(); out.toByteArray }
  }

  /** LSB-first reader over `buf[start, end)`: the first stream bit is bit 0
    * of a byte, and `read(n)` (n ≤ 32) returns the first bit read as its
    * least significant.
    */
  final class LsbReader(buf: Array[Byte], start: Int, end: Int,
                        codec: String, truncated: => String) {
    require(start >= 0 && start <= end && end <= buf.length,
      s"$codec: bit range [$start, $end) outside a ${buf.length}-byte buffer")

    private var next = start
    private var cache = 0L // unread bits, right-aligned; zeros above them
    private var avail = 0

    def read(n: Int): Int = {
      if (avail < n) {
        while (avail <= 56 && next < end) {
          cache |= (buf(next) & 0xffL) << avail
          avail += 8
          next += 1
        }
        if (avail < n) throw new IllegalArgumentException(s"$codec: $truncated")
      }
      val v = (cache & ((1L << n) - 1)).toInt
      cache >>>= n
      avail -= n
      v
    }
  }

  /** LSB-first writer; `put(v, n)` takes 0 ≤ v < 2^n, n ≤ 24. */
  final class LsbWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0

    def put(v: Int, n: Int): Unit = {
      if (n < 0 || n > 24 || (v >>> n) != 0) misfit(v, n)
      acc |= v.toLong << nAcc
      nAcc += n
      while (nAcc >= 8) {
        out.write(acc.toInt & 0xff)
        acc >>>= 8
        nAcc -= 8
      }
    }

    /** The stream so far, the last byte zero-padded. */
    def bytes(): Array[Byte] = {
      if (nAcc > 0) { out.write(acc.toInt & 0xff); acc = 0L; nAcc = 0 }
      out.toByteArray
    }
  }
}
