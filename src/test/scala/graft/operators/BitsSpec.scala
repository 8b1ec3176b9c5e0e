package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bits.{LsbReader, LsbWriter, MsbReader, MsbWriter}

/** The shared bitstream core: writer → reader round trips in both bit
  * orders, exp-Golomb and unary codes, and the end-of-buffer contract the
  * codecs rely on (a read fails only when it consumes a missing bit, and
  * a failed read leaves the position alone).
  */
class BitsSpec extends AnyFunSuite {

  /** (value, width) pairs over every width 0..32, values with the top and
    * bottom bits set, so fields cross byte boundaries at every offset.
    */
  private val fields: Seq[(Long, Int)] = (0 to 32).flatMap { n =>
    val max = (1L << n) - 1
    Seq((max, n), (max & 0x5a5a5a5aL, n), (if (n == 0) 0L else 1L << (n - 1), n))
  }

  private def msb(bytes: Array[Byte]) = new MsbReader(bytes, "test", "bitstream truncated")
  private def lsb(bytes: Array[Byte]) = new LsbReader(bytes, 0, bytes.length, "test", "bitstream truncated")

  test("MSB: writer and reader are inverses over widths 0..32 and a 36-bit readLong") {
    val mp3Header = Seq((0x7ffL, 11), (3L, 2), (0L, 1), (0x3fL, 6), (1L, 1), (1023L, 10), (0L, 5))
    val long36 = (0xabcdef123L, 36)
    val vals = mp3Header ++ fields :+ long36
    val bw = new MsbWriter
    vals.foreach { case (v, n) => bw.put(v, n) }
    val br = msb(bw.bytes())
    vals.foreach { case (v, n) =>
      val got = if (n > 32) br.readLong(n) else br.read(n).toLong & 0xffffffffL
      assert(got == v, s"$v/$n")
    }
    assert(br.pos == vals.map(_._2).sum)
  }

  test("LSB: writer and reader are inverses over widths 0..24, the first bit least significant") {
    val vals = fields.filter(_._2 <= 24)
    val bw = new LsbWriter
    vals.foreach { case (v, n) => bw.put(v.toInt, n) }
    val bytes = bw.bytes()
    val br = lsb(bytes)
    vals.foreach { case (v, n) => assert(br.read(n) == v, s"$v/$n") }
    // bit order within a byte: 1 then 0b10 packs as 0b101
    val w = new LsbWriter
    w.put(1, 1); w.put(2, 2)
    assert(w.bytes().toSeq == Seq(5.toByte))
    assert(bytes.length == (vals.map(_._2).sum + 7) / 8)
  }

  test("exp-Golomb ue/se and unary round-trip") {
    val us = Seq(0, 1, 2, 3, 7, 8, 254, 255, 65535, 1 << 20, Int.MaxValue - 1)
    val ss = Seq(0, 1, -1, 2, -2, 127, -128, 1 << 20, -(1 << 20))
    val qs = Seq(0, 1, 5, 55, 56, 57, 200)
    val bw = new MsbWriter
    us.foreach(bw.ue); ss.foreach(bw.se); qs.foreach(bw.unary)
    val br = msb(bw.bytes())
    us.foreach(u => assert(br.ue() == u))
    ss.foreach(s => assert(br.se() == s))
    qs.foreach(q => assert(br.unary(1000, "runaway") == q))
    // 32 leading zeros are not a 32-bit exp-Golomb code
    val tooLong = intercept[IllegalArgumentException](msb(new Array[Byte](8)).ue())
    assert(tooLong.getMessage == "test: exp-Golomb code too long")
    intercept[IllegalArgumentException](msb(new Array[Byte](2)).unary(8, "runaway"))
  }

  test("the last bit of a buffer reads; the next read throws") {
    val br = msb(Array(0x01.toByte))
    assert(br.read(7) == 0 && br.read(1) == 1)
    assert(br.atEnd && br.pos == 8)
    val e = intercept[IllegalArgumentException](br.read(1))
    assert(e.getMessage == "test: bitstream truncated")
    val lr = lsb(Array(0x80.toByte))
    assert(lr.read(7) == 0 && lr.read(1) == 1)
    intercept[IllegalArgumentException](lr.read(1))
  }

  test("a read that crosses the end throws and does not move the position") {
    val bytes = Array(0xa5.toByte, 0x3c.toByte)
    val br = msb(bytes)
    assert(br.read(3) == 0x5)
    intercept[IllegalArgumentException](br.read(14))
    intercept[IllegalArgumentException](br.readLong(40))
    assert(br.pos == 3)
    assert(br.read(13) == 0x053c)
    val lr = lsb(bytes)
    assert(lr.read(3) == 0x5)
    intercept[IllegalArgumentException](lr.read(14))
    assert(lr.read(13) == (0x3ca5 >>> 3))
  }

  test("the position counts consumed bits, whatever the cache prefetched") {
    val bytes = Array.tabulate(20)(i => (i * 37 + 11).toByte)
    val br = msb(bytes)
    assert(br.peek(32) == java.nio.ByteBuffer.wrap(bytes).getInt)
    assert(br.pos == 0)
    var consumed = 0L
    Seq(1, 5, 13, 32, 2, 30, 17).foreach { n => br.read(n); consumed += n; assert(br.pos == consumed) }
    assert(br.bytePos == consumed / 8 && !br.aligned)
    br.alignByte()
    assert(br.aligned && br.pos == (consumed + 7) / 8 * 8)
    // seek re-reads from any bit, and peeks past the end read as zeros
    br.seek(12)
    assert(br.pos == 12 && br.read(4) == (bytes(1) & 0x0f))
    br.seek(bytes.length * 8L - 3)
    assert(br.peek(8) == ((bytes.last & 0x07) << 5))
    intercept[IllegalArgumentException](br.seek(bytes.length * 8L + 1))
    // a reader over a slice ends at the slice
    val slice = new MsbReader(bytes, 2, 4, "test", "bitstream truncated")
    assert(slice.read(16) == (((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)) && slice.atEnd)
  }
}
