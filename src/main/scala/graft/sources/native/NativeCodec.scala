package graft.sources.native

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

/**
 * Low-level wire primitives of the ClickHouse Native format:
 * LEB128 varints (reference src/lib.rs:177-194), length-prefixed
 * strings with lossy-UTF8 sanitization (src/lib.rs:68-76), and
 * little-endian fixed-width scalars.
 */
object NativeCodec {

  /** Buffered little-endian reader over an InputStream. */
  final class Input(in: InputStream) {
    private[this] val buf = new Array[Byte](8)

    def readByte(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("unexpected EOF in Native stream")
      b
    }

    /** Returns -1 at clean EOF (file end between blocks), else the byte. */
    def tryReadByte(): Int = in.read()

    def readFully(dst: Array[Byte], off: Int, len: Int): Unit = {
      var pos = off
      val end = off + len
      while (pos < end) {
        val n = in.read(dst, pos, end - pos)
        if (n < 0) throw new EOFException("unexpected EOF in Native stream")
        pos += n
      }
    }

    /**
     * LEB128 unsigned varint, max 10 bytes (reference src/lib.rs:177-194
     * including the >=10-byte overflow error at :190-193).
     */
    def readVarUInt(): Long = {
      var result = 0L
      var shift = 0
      var i = 0
      while (i < 10) {
        val b = readByte()
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
        i += 1
      }
      throw new java.io.IOException("VarUInt longer than 10 bytes")
    }

    /** First VarUInt byte of a block, or None at clean EOF (src/lib.rs:216-224). */
    def tryReadVarUInt(): Option[Long] = {
      val first = tryReadByte()
      if (first < 0) return None
      var result = (first & 0x7fL)
      if ((first & 0x80) == 0) return Some(result)
      var shift = 7
      var i = 1
      while (i < 10) {
        val b = readByte()
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return Some(result)
        shift += 7
        i += 1
      }
      throw new java.io.IOException("VarUInt longer than 10 bytes")
    }

    /** Exactly `len` bytes. The array grows only as bytes arrive, so a
      * hostile length in a short stream fails at EOF instead of
      * allocating ahead of the data. */
    def readBytes(len: Int): Array[Byte] = {
      var a = new Array[Byte](math.min(len, 1 << 16))
      readFully(a, 0, a.length)
      while (a.length < len) {
        val got = a.length
        a = java.util.Arrays.copyOf(a, math.min(len.toLong, got * 2L).toInt)
        readFully(a, got, a.length - got)
      }
      a
    }

    def skipFully(len: Long): Unit = {
      var remaining = len
      while (remaining > 0) {
        val n = in.skip(remaining)
        if (n > 0) remaining -= n
        else { readByte(); remaining -= 1 } // skip() may return 0; force progress
      }
    }

    /**
     * Length-prefixed string, decoded as UTF-8 with NUL and U+FFFD
     * replacement chars stripped — parity with the reference's
     * sanitize (src/lib.rs:68-76, re-applied at :311).
     */
    def readString(): String = {
      val len = readVarUInt()
      if (len == 0) return ""
      if (len < 0 || len > Int.MaxValue)
        throw new java.io.IOException(s"string length $len too large")
      sanitize(new String(readBytes(len.toInt), StandardCharsets.UTF_8))
    }

    /**
     * Length-prefixed string straight to Catalyst's UTF8String.
     * Fast path: pure-ASCII bytes with no NUL need neither the UTF-8
     * decode/re-encode round trip nor sanitize — that's the common
     * case by far, and it's what the hot column-decode loop hits.
     * Anything with high bytes falls back to the sanitizing decode
     * (invalid sequences become U+FFFD there and are stripped, parity
     * with the reference's lossy decode, src/lib.rs:68-76).
     */
    def readUtf8(): org.apache.spark.unsafe.types.UTF8String = {
      val len = readVarUInt()
      if (len == 0) return org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
      if (len < 0 || len > Int.MaxValue)
        throw new java.io.IOException(s"string length $len too large")
      val bytes = readBytes(len.toInt)
      var i = 0
      var ascii = true
      while (ascii && i < bytes.length) {
        if (bytes(i) <= 0) ascii = false // high bit set, or NUL
        i += 1
      }
      if (ascii) org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
      else org.apache.spark.unsafe.types.UTF8String.fromString(
        sanitize(new String(bytes, StandardCharsets.UTF_8)))
    }

    def readShortLE(): Short = {
      readFully(buf, 0, 2)
      ((buf(0) & 0xff) | ((buf(1) & 0xff) << 8)).toShort
    }
    def readIntLE(): Int = {
      readFully(buf, 0, 4)
      (buf(0) & 0xff) | ((buf(1) & 0xff) << 8) | ((buf(2) & 0xff) << 16) | ((buf(3) & 0xff) << 24)
    }
    def readLongLE(): Long = {
      readFully(buf, 0, 8)
      (buf(0) & 0xffL) | ((buf(1) & 0xffL) << 8) | ((buf(2) & 0xffL) << 16) |
        ((buf(3) & 0xffL) << 24) | ((buf(4) & 0xffL) << 32) | ((buf(5) & 0xffL) << 40) |
        ((buf(6) & 0xffL) << 48) | ((buf(7) & 0xffL) << 56)
    }
    def readFloatLE(): Float = java.lang.Float.intBitsToFloat(readIntLE())
    def readDoubleLE(): Double = java.lang.Double.longBitsToDouble(readLongLE())
  }

  /** Buffered little-endian writer. */
  final class Output(out: OutputStream) {
    private[this] val buf = new Array[Byte](8)

    def writeByte(b: Int): Unit = out.write(b)

    def writeVarUInt(value: Long): Unit = {
      var v = value
      var continue = true
      while (continue) {
        val b = (v & 0x7f).toInt
        v = v >>> 7
        if (v != 0) out.write(b | 0x80) else { out.write(b); continue = false }
      }
    }

    def writeString(s: String): Unit = {
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      writeVarUInt(bytes.length.toLong)
      out.write(bytes)
    }

    def writeBytes(b: Array[Byte]): Unit = out.write(b)

    def writeShortLE(v: Short): Unit = {
      buf(0) = (v & 0xff).toByte; buf(1) = ((v >> 8) & 0xff).toByte
      out.write(buf, 0, 2)
    }
    def writeIntLE(v: Int): Unit = {
      buf(0) = v.toByte; buf(1) = (v >> 8).toByte
      buf(2) = (v >> 16).toByte; buf(3) = (v >> 24).toByte
      out.write(buf, 0, 4)
    }
    def writeLongLE(v: Long): Unit = {
      var i = 0
      while (i < 8) { buf(i) = (v >> (8 * i)).toByte; i += 1 }
      out.write(buf, 0, 8)
    }
    def writeFloatLE(v: Float): Unit = writeIntLE(java.lang.Float.floatToIntBits(v))
    def writeDoubleLE(v: Double): Unit = writeLongLE(java.lang.Double.doubleToLongBits(v))
    def flush(): Unit = out.flush()
  }

  /** Strip NUL and U+FFFD — reference src/lib.rs:73-74. */
  def sanitize(s: String): String = {
    var i = 0
    var clean = true
    while (clean && i < s.length) {
      val c = s.charAt(i)
      if (c == '\u0000' || c == '\uFFFD') clean = false
      i += 1
    }
    if (clean) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (c != '\u0000' && c != '\uFFFD') sb.append(c)
        j += 1
      }
      sb.toString
    }
  }
}
