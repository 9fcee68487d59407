package graft.sources.native

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import graft.sources.native.ChType._
import graft.sources.native.NativeCodec.Input

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/**
 * The typed decode path: Native block columns straight into Spark
 * column vectors, no per-cell boxing. It is the only way a Spark scan
 * reads wire bytes — native files and both remote transports hand
 * their blocks here. [[ColumnCodec.decode]] stays as the boxed
 * reference implementation it must agree with (TypedDecodeSpec).
 *
 *  - little-endian fixed-width columns: one `readFully` into a reused
 *    buffer, then a bulk `put*LittleEndian`;
 *  - strings: from that buffer into `putByteArray`, with the same
 *    ASCII fast path and `sanitize` fallback as [[NativeCodec.Input.readUtf8]];
 *  - `Nullable` through its null map, `LowCardinality(String)` as a
 *    dictionary-backed vector (one byte copy per distinct value);
 *  - the converting types (UInt32, Date, DateTime/64, Decimal, Enum,
 *    UUID, IP) value by value, unboxed;
 *  - Array/Map/Tuple into child vectors.
 *
 * Hostile input is bounded: the buffer and every vector grow only as
 * bytes actually arrive (never sized from a header alone), and
 * structural violations (array offsets, dictionary indices, row
 * counts) raise an `IOException`.
 *
 * One decoder per partition reader: the vectors and the buffer are
 * reused across blocks, so a returned batch is valid until the next
 * [[decodeBlock]] (the contract Spark's vectorized parquet reader has).
 */
final class ColumnarDecoder(required: StructType) {
  import ColumnarDecoder._

  private val ordinals = required.fieldNames.zipWithIndex.toMap
  private val seen = new Array[Boolean](required.length)
  private val types = new java.util.HashMap[String, ChType]()
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var buf = new Array[Byte](64 * 1024)
  private var view = le(buf)

  /**
   * Decode one block body (after its `n_columns, n_rows` header) into
   * the reused vectors. Columns the read schema does not name are
   * skip-decoded; required columns the block lacks read as null.
   */
  def decodeBlock(in: Input, nCols: Int, nRows: Int): ColumnarBatch = {
    if (vectors == null) {
      // sized for one ordinary block; larger blocks grow as data arrives
      vectors = OnHeapColumnVector.allocateColumns(math.max(1, math.min(nRows, 1 << 16)), required)
      batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
    }
    vectors.foreach(_.reset())
    java.util.Arrays.fill(seen, false)
    var c = 0
    while (c < nCols) {
      val name = in.readString()
      val t = chType(in.readString())
      val i = ordinals.getOrElse(name, -1)
      if (i < 0 || seen(i)) ColumnCodec.skip(in, t, nRows)
      else {
        val dt = required(i).dataType
        if (!sameLayout(t.sparkType, dt))
          throw new IOException(
            s"column '$name' is ${t.name} in the data but ${dt.simpleString} in the read schema")
        decode(in, t, nRows, vectors(i))
        seen(i) = true
      }
      c += 1
    }
    var i = 0
    while (i < seen.length) {
      if (!seen(i)) { vectors(i).reserve(nRows); vectors(i).putNulls(0, nRows) }
      i += 1
    }
    batch.setNumRows(nRows)
    batch
  }

  private def chType(name: String): ChType = {
    var t = types.get(name)
    if (t == null) { t = ChType.parse(name); types.put(name, t) }
    t
  }

  /** Read exactly `n` bytes into `buf`. It grows only as bytes arrive,
    * so a hostile length in a short stream fails at EOF instead of
    * allocating ahead of the data. */
  private def readBuf(in: Input, n: Int): Unit = {
    var got = 0
    while (got < n) {
      if (got == buf.length) {
        buf = java.util.Arrays.copyOf(buf, math.min(n.toLong, buf.length * 2L).toInt)
        view = le(buf)
      }
      val k = math.min(n, buf.length) - got
      in.readFully(buf, got, k)
      got += k
    }
  }

  /** `rows` values of `width` bytes, a chunk at a time: `put(first, n)`
    * stores rows [first, first + n) from `buf` / `view`. */
  private def fixed(in: Input, rows: Int, width: Int, v: WritableColumnVector)(
      put: (Int, Int) => Unit): Unit = {
    val per = math.max(1, ChunkBytes / math.max(1, width))
    var done = 0
    while (done < rows) {
      val n = math.min(per, rows - done)
      readBuf(in, n * width)
      v.reserve(done + n)
      put(done, n)
      done += n
    }
  }

  private def decode(in: Input, t: ChType, rows: Int, v: WritableColumnVector): Unit = {
    if (v.hasDictionary) v.setDictionary(null) // a reused vector may hold the last block's
    t match {
      case ChString =>
        var i = 0
        while (i < rows) {
          val len = in.readVarUInt()
          if (len < 0 || len > Int.MaxValue) throw new IOException(s"string length $len too large")
          readBuf(in, len.toInt)
          v.reserve(i + 1)
          putUtf8(v, i, 0, len.toInt)
          i += 1
        }
      case ChFixedString(n) =>
        // NUL padding is stripped like every NUL (sanitize); pure-ASCII
        // values skip the String round trip
        val out = new Array[Byte](n)
        fixed(in, rows, n, v) { (first, count) =>
          var r = 0
          while (r < count) {
            val off = r * n
            var ascii = true
            var m = 0
            var j = 0
            while (j < n) {
              val b = buf(off + j)
              if (b < 0) ascii = false
              else if (b != 0) { out(m) = b; m += 1 }
              j += 1
            }
            if (ascii) v.putByteArray(first + r, out, 0, m)
            else v.putByteArray(first + r, sanitized(off, n))
            r += 1
          }
        }
      case ChUInt8 => fixed(in, rows, 1, v) { (first, n) =>
        var r = 0; while (r < n) { v.putInt(first + r, buf(r) & 0xff); r += 1 } }
      case ChInt8 => fixed(in, rows, 1, v) { (first, n) =>
        var r = 0; while (r < n) { v.putInt(first + r, buf(r).toInt); r += 1 } }
      case ChBool => fixed(in, rows, 1, v) { (first, n) =>
        var r = 0; while (r < n) { v.putBoolean(first + r, buf(r) != 0); r += 1 } }
      case ChUInt16 | ChDate => fixed(in, rows, 2, v) { (first, n) =>
        var r = 0; while (r < n) { v.putInt(first + r, view.getShort(2 * r) & 0xffff); r += 1 } }
      case ChInt16 => fixed(in, rows, 2, v) { (first, n) =>
        var r = 0; while (r < n) { v.putInt(first + r, view.getShort(2 * r).toInt); r += 1 } }
      case ChUInt32 => fixed(in, rows, 4, v) { (first, n) =>
        var r = 0; while (r < n) { v.putLong(first + r, view.getInt(4 * r) & 0xffffffffL); r += 1 } }
      case ChInt32 | ChDate32 => fixed(in, rows, 4, v) { (first, n) =>
        v.putIntsLittleEndian(first, n, buf, 0) }
      case ChUInt64 | ChInt64 => fixed(in, rows, 8, v) { (first, n) =>
        v.putLongsLittleEndian(first, n, buf, 0) }
      case ChFloat32 => fixed(in, rows, 4, v) { (first, n) =>
        v.putFloatsLittleEndian(first, n, buf, 0) }
      case ChFloat64 => fixed(in, rows, 8, v) { (first, n) =>
        v.putDoublesLittleEndian(first, n, buf, 0) }
      case d: ChDecimal => decimal(in, d, rows, v)
      case ChDateTime(_) => fixed(in, rows, 4, v) { (first, n) =>
        var r = 0
        while (r < n) { v.putLong(first + r, (view.getInt(4 * r) & 0xffffffffL) * 1000000L); r += 1 }
      }
      case ChDateTime64(p, _) =>
        val up = p <= 6
        val k = if (up) math.pow(10, 6 - p).toLong else math.pow(10, p - 6).toLong
        fixed(in, rows, 8, v) { (first, n) =>
          var r = 0
          while (r < n) {
            val x = view.getLong(8 * r)
            v.putLong(first + r, if (up) x * k else x / k)
            r += 1
          }
        }
      case e: ChEnum8 =>
        val labels = new Array[Array[Byte]](256)
        fixed(in, rows, 1, v) { (first, n) =>
          var r = 0
          while (r < n) {
            val code = buf(r)
            var l = labels(code + 128)
            if (l == null) {
              l = utf8(e.byCode.getOrElse(code, s"Unknown($code)"))
              labels(code + 128) = l
            }
            v.putByteArray(first + r, l)
            r += 1
          }
        }
      case e: ChEnum16 =>
        val labels = new java.util.HashMap[java.lang.Short, Array[Byte]]()
        fixed(in, rows, 2, v) { (first, n) =>
          var r = 0
          while (r < n) {
            val code = view.getShort(2 * r)
            v.putByteArray(first + r, labels.computeIfAbsent(code,
              _ => utf8(e.byCode.getOrElse(code, s"Unknown($code)"))))
            r += 1
          }
        }
      case ChUuid => fixed(in, rows, 16, v) { (first, n) =>
        var r = 0
        while (r < n) {
          v.putByteArray(first + r,
            utf8(new java.util.UUID(view.getLong(16 * r), view.getLong(16 * r + 8)).toString))
          r += 1
        }
      }
      case ChIPv4 => fixed(in, rows, 4, v) { (first, n) =>
        var r = 0
        while (r < n) {
          val x = view.getInt(4 * r)
          v.putByteArray(first + r,
            utf8(s"${(x >>> 24) & 0xff}.${(x >>> 16) & 0xff}.${(x >>> 8) & 0xff}.${x & 0xff}"))
          r += 1
        }
      }
      case ChIPv6 => fixed(in, rows, 16, v) { (first, n) =>
        var r = 0
        while (r < n) { v.putByteArray(first + r, utf8(ColumnCodec.ipv6(buf, 16 * r))); r += 1 }
      }
      case ChBigInt(_, width, signed) => fixed(in, rows, width, v) { (first, n) =>
        var r = 0
        while (r < n) {
          v.putByteArray(first + r, utf8(ColumnCodec.wideInt(buf, width * r, width, signed).toString))
          r += 1
        }
      }
      case ChWideDecimal(_, width, scale) => fixed(in, rows, width, v) { (first, n) =>
        var r = 0
        while (r < n) {
          v.putByteArray(first + r, utf8(new java.math.BigDecimal(
            ColumnCodec.wideInt(buf, width * r, width, signed = true), scale).toPlainString))
          r += 1
        }
      }
      case ChNullable(inner) =>
        // null map first on the wire; the inner values (defaults in
        // null slots) then fill the same vector without touching it
        fixed(in, rows, 1, v) { (first, n) =>
          var r = 0; while (r < n) { if (buf(r) != 0) v.putNull(first + r); r += 1 } }
        decode(in, inner, rows, v)
      case ChArray(inner) =>
        decode(in, inner, offsets(in, rows, v), v.getChild(0))
      case ChMap(kt, vt) =>
        val total = offsets(in, rows, v)
        decode(in, kt, total, v.getChild(0))
        decode(in, vt, total, v.getChild(1))
      case ChTuple(fields) =>
        // element columns are contiguous: all of element 1, then 2, …
        var f = 0
        while (f < fields.length) { decode(in, fields(f)._2, rows, v.getChild(f)); f += 1 }
        v.reserve(rows)
      case lc: ChLowCardinality => lowCardinality(in, lc, rows, v)
      case _: ChUnsupported => throw new UnsupportedColumnException(t.name)
    }
  }

  /** Length-prefixed string bytes at `buf(off, len)` into row `i`:
    * ASCII without NUL goes straight in, anything else through the
    * reference's sanitizing decode. */
  private def putUtf8(v: WritableColumnVector, i: Int, off: Int, len: Int): Unit = {
    var j = off
    val end = off + len
    while (j < end && buf(j) > 0) j += 1
    if (j == end) v.putByteArray(i, buf, off, len)
    else v.putByteArray(i, sanitized(off, len))
  }

  private def sanitized(off: Int, len: Int): Array[Byte] =
    utf8(NativeCodec.sanitize(new String(buf, off, len, StandardCharsets.UTF_8)))

  /** Decimal32/64 are Spark's int/long decimal storage as-is (bulk);
    * Decimal128 goes in as big-endian unscaled bytes. Values beyond the
    * declared precision fail like the boxed reference does. */
  private def decimal(in: Input, d: ChDecimal, rows: Int, v: WritableColumnVector): Unit = {
    def outOfRange(x: Any) = new IOException(s"value $x out of range for ${d.name}")
    d.byteWidth match {
      case 4 | 8 =>
        val width = d.byteWidth
        val limit = BigInt(10).pow(d.precision).toLong
        fixed(in, rows, width, v) { (first, n) =>
          var r = 0
          while (r < n) {
            val x = if (width == 4) view.getInt(4 * r).toLong else view.getLong(8 * r)
            if (x >= limit || x <= -limit) throw outOfRange(x)
            r += 1
          }
          if (width == 4) v.putIntsLittleEndian(first, n, buf, 0)
          else v.putLongsLittleEndian(first, n, buf, 0)
        }
      case _ =>
        val limit = java.math.BigInteger.TEN.pow(d.precision)
        fixed(in, rows, 16, v) { (first, n) =>
          var r = 0
          while (r < n) {
            val x = ColumnCodec.wideInt(buf, 16 * r, 16, signed = true)
            if (x.abs.compareTo(limit) >= 0) throw outOfRange(x)
            v.putByteArray(first + r, x.toByteArray)
            r += 1
          }
        }
    }
  }

  /** UInt64 cumulative end offsets → (offset, length) per row; returns
    * the element count, with non-monotonic or oversized offsets rejected. */
  private def offsets(in: Input, rows: Int, v: WritableColumnVector): Int = {
    var prev = 0L
    fixed(in, rows, 8, v) { (first, n) =>
      var r = 0
      while (r < n) {
        val end = view.getLong(8 * r)
        if (end < prev || end > MaxElements)
          throw new IOException(s"corrupt array offsets: $end after $prev")
        v.putArray(first + r, prev.toInt, (end - prev).toInt)
        prev = end
        r += 1
      }
    }
    prev.toInt
  }

  /**
   * Wire layout as in the boxed `ColumnCodec.decode`. String
   * dictionaries become a dictionary-backed vector — one byte copy per
   * DISTINCT value plus the int ids, the layout Spark's vectorized
   * parquet reader uses for dictionary pages; other inner types are
   * materialized per row. Index 0 of a Nullable inner is null.
   */
  private def lowCardinality(in: Input, lc: ChLowCardinality, rows: Int,
      v: WritableColumnVector): Unit = {
    val version = in.readLongLE()
    if (version != 1L)
      throw new UnsupportedColumnException(s"${lc.name} (keys version $version)")
    val serType = in.readLongLE()
    if ((serType & ColumnCodec.LcHasAdditionalKeys) == 0)
      throw new UnsupportedColumnException(s"${lc.name} (global dictionary)")
    val (inner, nullable) = lc.inner match {
      case ChNullable(i) => (i, true)
      case i => (i, false)
    }
    val dictSize = in.readLongLE()
    if (dictSize < 0 || dictSize > MaxElements)
      throw new IOException(s"implausible LowCardinality dictionary size $dictSize")
    val dict = new OnHeapColumnVector(math.max(1, math.min(dictSize, 1024L).toInt), inner.sparkType)
    decode(in, inner, dictSize.toInt, dict)
    val n = in.readLongLE()
    if (n != rows) throw new IOException(s"LowCardinality row count $n != block rows $rows")
    val width = (serType & ColumnCodec.LcIndexWidthMask).toInt match {
      case 0 => 1
      case 1 => 2
      case 2 => 4
      case 3 => 8
      case w => throw new IOException(s"LowCardinality index width class $w")
    }
    val strings = inner.sparkType == StringType
    val ids = if (strings) v.reserveDictionaryIds(math.max(1, math.min(rows, 1 << 16))) else null
    fixed(in, rows, width, v) { (first, count) =>
      if (strings) ids.reserve(first + count)
      var r = 0
      while (r < count) {
        val id = width match {
          case 1 => buf(r) & 0xffL
          case 2 => view.getShort(2 * r) & 0xffffL
          case 4 => view.getInt(4 * r) & 0xffffffffL
          case _ => view.getLong(8 * r)
        }
        if (id < 0 || id >= dictSize)
          throw new IOException(s"LowCardinality index $id outside a dictionary of $dictSize")
        val row = first + r
        if (strings) ids.putInt(row, id.toInt)
        if (nullable && id == 0) v.putNull(row)
        else if (!strings) copyValue(dict, id.toInt, v, row)
        r += 1
      }
    }
    if (strings) {
      val bytes = Array.tabulate(dictSize.toInt)(dict.getBinary)
      v.setDictionary(new BytesDictionary(bytes))
    }
    dict.close()
  }
}

object ColumnarDecoder {
  /** Most bytes one chunk of a fixed-width column reads at a time. */
  private val ChunkBytes = 1 << 20
  /** Most elements one container column (or dictionary) may flatten to. */
  private val MaxElements = Int.MaxValue - 16L

  private def le(b: Array[Byte]): ByteBuffer = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /**
   * Same physical vector layout: what a Native column decodes to can
   * fill a vector of the read schema's type. Nullability, and the
   * instant/wall-clock timestamp flavours, do not change the layout.
   */
  private def sameLayout(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => sameLayout(x, y)
    case (MapType(k1, v1, _), MapType(k2, v2, _)) => sameLayout(k1, k2) && sameLayout(v1, v2)
    case (StructType(f1), StructType(f2)) =>
      f1.length == f2.length && f1.zip(f2).forall { case (x, y) => sameLayout(x.dataType, y.dataType) }
    case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) => true
    case _ => a == b
  }

  private def copyValue(src: ColumnVector, si: Int, dst: WritableColumnVector, di: Int): Unit =
    dst.dataType match {
      case BooleanType => dst.putBoolean(di, src.getBoolean(si))
      case IntegerType | DateType => dst.putInt(di, src.getInt(si))
      case LongType | TimestampType | TimestampNTZType => dst.putLong(di, src.getLong(si))
      case FloatType => dst.putFloat(di, src.getFloat(si))
      case DoubleType => dst.putDouble(di, src.getDouble(si))
      case d: DecimalType => dst.putDecimal(di, src.getDecimal(si, d.precision, d.scale), d.precision)
      case other => throw new UnsupportedColumnException(s"LowCardinality(${other.simpleString})")
    }

  private final class BytesDictionary(values: Array[Array[Byte]]) extends Dictionary {
    override def decodeToBinary(id: Int): Array[Byte] = values(id)
    override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
  }
}

/** A stream of Native blocks decoded one [[ColumnarBatch]] at a time. */
trait BatchSource extends AutoCloseable {
  /** The next block decoded into `decoder`'s vectors, or null at the end. */
  def nextBatch(decoder: ColumnarDecoder): ColumnarBatch
}

/**
 * Spark's partition reader over one [[BatchSource]] — the native file
 * scan and the remote scan alike. Zero-row blocks (the remote header
 * block) are skipped; a pushed limit is counted in rows and trims the
 * last batch. With `file` set, IO failures while reading blocks are
 * rethrown as an `IOException` naming the file.
 *
 * Spark 4.1's DataSourceRDD remembers one reader per task and closes
 * it when another iterator of the same RDD starts in that task. When
 * both iterators are live — Spark ML's KMeans zips its input with
 * derived norms, so one task reads the same scan twice side by side —
 * that closes a reader still being read. So `close()` ends a reader
 * only once it is finished (or outside a task); a live one is released
 * when it finishes or when its task completes.
 */
private[sources] final class BatchPartitionReader(required: StructType, limit: Int,
    file: Option[String])(open: => BatchSource) extends PartitionReader[ColumnarBatch] {
  private val decoder = new ColumnarDecoder(required)
  private val source = open
  private var batch: ColumnarBatch = _
  private var emitted = 0L
  private var finished = false
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => finish()))

  override def next(): Boolean = {
    while (!finished) {
      if (limit >= 0 && emitted >= limit) finish()
      else named(source.nextBatch(decoder)) match {
        case null => finish()
        case b if b.numRows == 0 =>
        case b =>
          if (limit >= 0 && emitted + b.numRows > limit) b.setNumRows((limit - emitted).toInt)
          emitted += b.numRows
          batch = b
          return true
      }
    }
    false
  }

  private def named[T](body: => T): T = file.fold(body)(NativeIO.namingFile(_)(body))

  private def finish(): Unit = if (!finished) { finished = true; source.close() }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = if (finished || TaskContext.get() == null) finish()
}

/** The row path over the same reader: Spark's own `ColumnarBatch.rowIterator`. */
private[sources] final class BatchRowReader(batches: PartitionReader[ColumnarBatch])
    extends PartitionReader[InternalRow] {
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    row = rows.next()
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = batches.close()
}
