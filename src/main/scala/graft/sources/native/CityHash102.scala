package graft.sources.native

/**
 * CityHash128, version 1.0.2 — the exact (old) CityHash revision
 * ClickHouse vendored for its compressed-frame checksums (modern
 * CityHash 1.1 changed the output for the same input, so version
 * fidelity matters). Implemented from the public v1.0.2 algorithm as
 * ported by the ClickHouse Java/JDBC clients.
 *
 * Used by [[NativeCompression]] to checksum compressed frames. Our own
 * write→read roundtrip verifies against this implementation
 * bidirectionally (fuzz-covered); equality with a live ClickHouse
 * server's checksums has not been differentially validated. A mismatch
 * always fails the read with a named error; there is no switch that
 * skips verification.
 */
private[native] object CityHash102 {
  private val k0 = 0xc3a5c85c97cb3127L
  private val k1 = 0xb492b66fbe98f273L
  private val k2 = 0x9ae16a3b2f90404fL
  private val k3 = 0xc949d7c7509e6557L
  private val kMul = 0x9ddfea08eb382d69L

  @inline private def fetch64(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline private def fetch32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)

  @inline private def rotate(v: Long, shift: Int): Long =
    if (shift == 0) v else (v >>> shift) | (v << (64 - shift))

  @inline private def rotateByAtLeast1(v: Long, shift: Int): Long =
    (v >>> shift) | (v << (64 - shift))

  @inline private def shiftMix(v: Long): Long = v ^ (v >>> 47)

  @inline private def hashLen16(u: Long, v: Long): Long = {
    var a = (u ^ v) * kMul
    a ^= (a >>> 47)
    var b = (v ^ a) * kMul
    b ^= (b >>> 47)
    b * kMul
  }

  private def hashLen0to16(s: Array[Byte], off: Int, len: Int): Long = {
    if (len > 8) {
      val a = fetch64(s, off)
      val b = fetch64(s, off + len - 8)
      hashLen16(a, rotateByAtLeast1(b + len, len)) ^ b
    } else if (len >= 4) {
      val a = fetch32(s, off)
      hashLen16(len + (a << 3), fetch32(s, off + len - 4))
    } else if (len > 0) {
      val a = s(off) & 0xff
      val b = s(off + (len >> 1)) & 0xff
      val c = s(off + len - 1) & 0xff
      val y = a + (b << 8)
      val z = len + (c << 2)
      shiftMix(y * k2 ^ z * k3) * k2
    } else k2
  }

  /** (a+z, b+c) pair update over one 32-byte chunk. */
  private def weakHashLen32WithSeeds(w: Long, x: Long, y: Long, z: Long,
      a0: Long, b0: Long, out: Array[Long]): Unit = {
    var a = a0 + w
    var b = rotate(b0 + a + z, 21)
    val c = a
    a += x
    a += y
    b += rotate(a, 44)
    out(0) = a + z
    out(1) = b + c
  }

  private def weakHashLen32WithSeeds(s: Array[Byte], off: Int, a: Long, b: Long,
      out: Array[Long]): Unit =
    weakHashLen32WithSeeds(fetch64(s, off), fetch64(s, off + 8),
      fetch64(s, off + 16), fetch64(s, off + 24), a, b, out)

  private def cityMurmur(s: Array[Byte], off0: Int, len: Int,
      seed0: Long, seed1: Long): Array[Long] = {
    var off = off0
    var a = seed0
    var b = seed1
    var c = 0L
    var d = 0L
    var l = len - 16
    if (l <= 0) {
      a = shiftMix(a * k1) * k1
      c = b * k1 + hashLen0to16(s, off, len)
      d = shiftMix(a + (if (len >= 8) fetch64(s, off) else c))
    } else {
      c = hashLen16(fetch64(s, off + len - 8) + k1, a)
      d = hashLen16(b + len, c + fetch64(s, off + len - 16))
      a += d
      while ({
        a ^= shiftMix(fetch64(s, off) * k1) * k1
        a *= k1
        b ^= a
        c ^= shiftMix(fetch64(s, off + 8) * k1) * k1
        c *= k1
        d ^= c
        off += 16
        l -= 16
        l > 0
      }) ()
    }
    a = hashLen16(a, c)
    b = hashLen16(d, b)
    Array(a ^ b, hashLen16(b, a))
  }

  private def cityHash128WithSeed(s: Array[Byte], off0: Int, len0: Int,
      seed0: Long, seed1: Long): Array[Long] = {
    if (len0 < 128) return cityMurmur(s, off0, len0, seed0, seed1)
    var off = off0
    var len = len0
    val v = new Array[Long](2)
    val w = new Array[Long](2)
    var x = seed0
    var y = seed1
    var z = k1 * len
    v(0) = rotate(y ^ k1, 49) * k1 + fetch64(s, off)
    v(1) = rotate(v(0), 42) * k1 + fetch64(s, off + 8)
    w(0) = rotate(y + z, 35) * k1 + x
    w(1) = rotate(x + fetch64(s, off + 88), 53) * k1
    while ({
      var i = 0
      while (i < 2) {
        x = rotate(x + y + v(0) + fetch64(s, off + 16), 37) * k1
        y = rotate(y + v(1) + fetch64(s, off + 48), 42) * k1
        x ^= w(1)
        y ^= v(0)
        z = rotate(z ^ w(0), 33)
        weakHashLen32WithSeeds(s, off, v(1) * k1, x + w(0), v)
        weakHashLen32WithSeeds(s, off + 32, z + w(1), y, w)
        val t = z; z = x; x = t
        off += 64
        i += 1
      }
      len -= 128
      len >= 128
    }) ()
    y += rotate(w(0), 37) * k0 + z
    x += rotate(v(0) + z, 49) * k0
    var tailDone = 0
    while (tailDone < len) {
      tailDone += 32
      y = rotate(y - x, 42) * k0 + v(1)
      w(0) += fetch64(s, off + len - tailDone + 16)
      x = rotate(x, 49) * k0 + w(0)
      w(0) += v(0)
      weakHashLen32WithSeeds(s, off + len - tailDone, v(0), w(1), v)
    }
    x = hashLen16(x, v(0))
    y = hashLen16(y, w(0))
    Array(hashLen16(x + v(1), w(1)) + y, hashLen16(x + w(1), y + v(1)))
  }

  /** 128-bit CityHash v1.0.2 of `s[off, off+len)` as (low, high). */
  def cityHash128(s: Array[Byte], off: Int, len: Int): Array[Long] = {
    if (len >= 16)
      cityHash128WithSeed(s, off + 16, len - 16,
        fetch64(s, off) ^ k3, fetch64(s, off + 8))
    else if (len >= 8)
      cityHash128WithSeed(Array.emptyByteArray, 0, 0,
        fetch64(s, off) ^ (len * k0), fetch64(s, off + len - 8) ^ k1)
    else
      cityHash128WithSeed(s, off, len, k0, k1)
  }
}
