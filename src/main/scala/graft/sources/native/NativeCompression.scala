package graft.sources.native

import java.io.{BufferedInputStream, EOFException, InputStream, OutputStream}

import org.apache.hadoop.conf.Configuration

/**
 * ClickHouse compressed-frame support for the Native format — the
 * reference's unchecked "Compression support" box (README.md:133; it
 * reads raw Native only). Each frame:
 *
 *   checksum: 16 bytes — CityHash128 v1.0.2 of header+payload
 *   method:    1 byte  — 0x82 LZ4, 0x90 ZSTD, 0x02 None
 *   compressed_size:   4 bytes LE — payload bytes + 9 (the header)
 *   uncompressed_size: 4 bytes LE
 *   payload
 *
 * The decompressed concatenation of all frames is the ordinary Native
 * block stream; frame boundaries need not align with block boundaries
 * (and don't, for foreign files). Our writer DOES end a frame at every
 * block boundary so the `.chidx` sidecar's block offsets stay valid
 * seek targets on the compressed file — intra-file splitting and
 * zone-map pruning work identically on compressed data.
 *
 * Codec libraries are the ones already on Spark's classpath
 * (lz4-java, zstd-jni) — LZ4 raw-block format, exactly what ClickHouse
 * frames carry.
 */
private[sources] object NativeCompression {
  val MethodLZ4: Byte = 0x82.toByte
  val MethodZSTD: Byte = 0x90.toByte
  val MethodNone: Byte = 0x02.toByte
  val HeaderLen = 9 // method + compressed_size + uncompressed_size
  val ChecksumLen = 16
  /** Frame payload cap (uncompressed) — ClickHouse's max_compress_block_size default. */
  val MaxFrameBytes: Int = 1 << 20

  /** Hadoop-conf key: declare the read-side compression explicitly
   *  (`none|lz4|zstd`) instead of sniffing — the escape hatch for the
   *  (pathological) sidecar-less foreign file whose first bytes
   *  coincidentally sniff as a frame header.
   *  Default "auto" = sidecar declaration if present, else sniff. */
  val ReadConfKey = "graft.native.read.compression"

  def methodFor(name: String): Byte = name.toLowerCase match {
    case "lz4" => MethodLZ4
    case "zstd" => MethodZSTD
    case "none" | "" => MethodNone
    case other => throw new IllegalArgumentException(
      s"clickhouse_native compression must be one of none|lz4|zstd, got '$other'")
  }

  /**
   * Wrap a freshly-opened (and possibly seeked-to-a-frame-boundary)
   * read stream, inserting the decompressing layer when the file is
   * compressed. Resolution order for the compression method:
   *
   *   1. explicit [[ReadConfKey]] (`none|lz4|zstd`) — user declaration;
   *   2. `declared` — the `.chidx` sidecar's writer-authored method,
   *      authoritative for files this writer produced;
   *   3. sniff the first frame header (foreign / sidecar-less files).
   *
   * Sniffing is a heuristic (a raw Native file's first 25 bytes could
   * coincidentally form a plausible frame header); every frame's
   * checksum is verified, so a misclassification fails with a named
   * error instead of decoding garbage.
   */
  def maybeWrapRead(raw: InputStream, conf: Configuration,
      declared: Option[String] = None): InputStream = {
    val in = new BufferedInputStream(raw, 64 * 1024)
    val confMethod = if (conf == null) "auto" else conf.get(ReadConfKey, "auto")
    val fromConf = !"auto".equalsIgnoreCase(confMethod)
    (if (fromConf) Some(confMethod.toLowerCase) else declared.map(_.toLowerCase)) match {
      case Some("none") => return in
      case Some("lz4" | "zstd") => return new FrameInputStream(in)
      case Some(other) if fromConf => throw new IllegalArgumentException(
        s"clickhouse_native read compression must be auto|none|lz4|zstd, got '$other'")
      case Some(_) =>
        // an unrecognized value in a SIDECAR's #meta line is a corrupt/
        // foreign declaration — degrade to sniffing like every other
        // malformed-sidecar case (NativeIndex returns None), instead of
        // hard-failing the scan; an explicit user conf stays strict
      case None => // fall through to sniffing
    }
    in.mark(ChecksumLen + HeaderLen)
    val peek = new Array[Byte](ChecksumLen + HeaderLen)
    var got = 0
    var eof = false
    while (got < peek.length && !eof) {
      val n = in.read(peek, got, peek.length - got)
      if (n < 0) eof = true else got += n
    }
    in.reset()
    if (got < peek.length) return in
    val method = peek(ChecksumLen)
    val comp = readIntLE(peek, ChecksumLen + 1)
    val uncomp = readIntLE(peek, ChecksumLen + 5)
    val plausible = (method == MethodLZ4 || method == MethodZSTD || method == MethodNone) &&
      comp >= HeaderLen && comp <= MaxFrameBytes * 4 + HeaderLen &&
      uncomp >= 0 && uncomp <= MaxFrameBytes * 64 &&
      (method != MethodNone || comp == uncomp + HeaderLen)
    if (plausible) new FrameInputStream(in) else in
  }

  @inline private[native] def readIntLE(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)

  @inline private[native] def writeIntLE(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte
    b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte
    b(i + 3) = (v >>> 24).toByte
  }

  @inline private[native] def writeLongLE(b: Array[Byte], i: Int, v: Long): Unit = {
    var k = 0
    while (k < 8) { b(i + k) = (v >>> (8 * k)).toByte; k += 1 }
  }

  @inline private[native] def readLongLE(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v |= (b(i + k) & 0xffL) << (8 * k); k += 1 }
    v
  }
}

/**
 * Compressing frame writer. Buffers uncompressed bytes; [[endFrame]]
 * (called by [[NativeBlockWriter]] at block boundaries) or the 1 MB
 * cap emits one frame. Not thread-safe (one per write task).
 */
private[sources] final class FrameOutputStream(out: OutputStream, method: Byte)
    extends OutputStream {
  import NativeCompression._

  private val buf = new java.io.ByteArrayOutputStream(64 * 1024)
  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()

  override def write(b: Int): Unit = {
    buf.write(b)
    if (buf.size >= MaxFrameBytes) endFrame()
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var remaining = len
    while (remaining > 0) {
      val take = math.min(remaining, MaxFrameBytes - buf.size)
      buf.write(b, o, take)
      o += take
      remaining -= take
      if (buf.size >= MaxFrameBytes) endFrame()
    }
  }

  /** Compress and emit the buffered bytes as one frame (no-op if empty). */
  def endFrame(): Unit = {
    if (buf.size == 0) return
    val raw = buf.toByteArray
    buf.reset()
    val payload = method match {
      case MethodLZ4 =>
        val max = lz4.maxCompressedLength(raw.length)
        val dst = new Array[Byte](max)
        val n = lz4.compress(raw, 0, raw.length, dst, 0, max)
        java.util.Arrays.copyOf(dst, n)
      case MethodZSTD => com.github.luben.zstd.Zstd.compress(raw, 3)
      case MethodNone => raw
      case m => throw new IllegalStateException(f"unknown method 0x$m%02x")
    }
    val frame = new Array[Byte](ChecksumLen + HeaderLen + payload.length)
    frame(ChecksumLen) = method
    writeIntLE(frame, ChecksumLen + 1, payload.length + HeaderLen)
    writeIntLE(frame, ChecksumLen + 5, raw.length)
    System.arraycopy(payload, 0, frame, ChecksumLen + HeaderLen, payload.length)
    val h = CityHash102.cityHash128(frame, ChecksumLen, HeaderLen + payload.length)
    writeLongLE(frame, 0, h(0))
    writeLongLE(frame, 8, h(1))
    out.write(frame)
  }

  override def flush(): Unit = out.flush() // frames end only at endFrame/close
  override def close(): Unit = {
    endFrame()
    out.close()
  }
}

/**
 * Decompressing frame reader: serves the concatenated decompressed
 * stream, pulling one frame at a time, each checked against its
 * CityHash128 checksum. EOF cleanly at a frame boundary; truncation
 * inside a frame raises.
 */
private[sources] final class FrameInputStream(in: InputStream)
    extends InputStream {
  import NativeCompression._

  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
  private var cur: Array[Byte] = Array.emptyByteArray
  private var pos = 0

  private def readFully(b: Array[Byte], off: Int, len: Int, allowEofAtStart: Boolean): Boolean = {
    var got = 0
    while (got < len) {
      val n = in.read(b, off + got, len - got)
      if (n < 0) {
        if (got == 0 && allowEofAtStart) return false
        throw new EOFException(s"truncated compressed frame: expected $len bytes, got $got")
      }
      got += n
    }
    true
  }

  private def nextFrame(): Boolean = {
    val head = new Array[Byte](ChecksumLen + HeaderLen)
    if (!readFully(head, 0, head.length, allowEofAtStart = true)) return false
    val method = head(ChecksumLen)
    val comp = readIntLE(head, ChecksumLen + 1)
    val uncomp = readIntLE(head, ChecksumLen + 5)
    // bounds before any allocation: frames arrive over the NETWORK on
    // the tcp transport, and a corrupt/hostile size must fail with a
    // named error, not a NegativeArraySizeException or a ~2 GB
    // allocation. Caps mirror the sniffer's plausibility window (64 MB
    // uncompressed — far above ClickHouse's 1 MB default
    // max_compress_block_size, low enough to bound one frame's memory).
    if (comp < HeaderLen || comp - HeaderLen > MaxFrameBytes * 64)
      throw new java.io.IOException(
        s"corrupt frame: implausible compressed_size $comp")
    if (uncomp < 0 || uncomp > MaxFrameBytes * 64)
      throw new java.io.IOException(
        s"corrupt frame: implausible uncompressed_size $uncomp")
    val payload = new Array[Byte](comp - HeaderLen)
    readFully(payload, 0, payload.length, allowEofAtStart = false)
    val whole = new Array[Byte](HeaderLen + payload.length)
    System.arraycopy(head, ChecksumLen, whole, 0, HeaderLen)
    System.arraycopy(payload, 0, whole, HeaderLen, payload.length)
    val h = CityHash102.cityHash128(whole, 0, whole.length)
    if (h(0) != readLongLE(head, 0) || h(1) != readLongLE(head, 8))
      throw new java.io.IOException("compressed frame checksum mismatch (CityHash128 v1.0.2)")
    cur = method match {
      case MethodLZ4 =>
        val dst = new Array[Byte](uncomp)
        lz4.decompress(payload, 0, dst, 0, uncomp)
        dst
      case MethodZSTD =>
        val dst = new Array[Byte](uncomp)
        val n = com.github.luben.zstd.Zstd.decompress(dst, payload)
        if (n != uncomp)
          throw new java.io.IOException(s"zstd frame decompressed to $n bytes, header said $uncomp")
        dst
      case MethodNone =>
        if (payload.length != uncomp)
          throw new java.io.IOException(
            s"uncompressed frame payload ${payload.length} != header $uncomp")
        payload
      case m => throw new java.io.IOException(f"unknown compression method 0x$m%02x")
    }
    pos = 0
    true
  }

  override def read(): Int = {
    while (pos >= cur.length) if (!nextFrame()) return -1
    val b = cur(pos) & 0xff
    pos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    while (pos >= cur.length) if (!nextFrame()) return -1
    val n = math.min(len, cur.length - pos)
    System.arraycopy(cur, pos, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = in.close()
}
