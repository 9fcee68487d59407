package graft.sources.native

import graft.sources.native.ChType._
import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One decoded column of a Native block. `values` holds Catalyst-ready
 * values: UTF8String, java.lang.Integer/Long/Boolean/Float/Double,
 * ArrayData, or null.
 */
final case class NativeColumn(name: String, chType: ChType, values: Array[Any])

/**
 * A decoded Native block: self-describing columnar batch (SURVEY §1.1).
 * `numRows` comes from the block header, NOT from the decoded columns —
 * a fully-pruned block (`count(*)`: Catalyst requires zero columns)
 * still knows how many rows it carries.
 */
final case class NativeBlock(columns: Array[NativeColumn], numRows: Int)

/**
 * Per-type column value codec. The reference's decode loop is
 * src/lib.rs:143-175 (String/UInt8/UInt64/Int32/Enum8, everything
 * else degraded to a sentinel string); ours covers the full §1.3
 * family and nests Nullable/Array.
 *
 * Decoding is column-at-a-time into flat arrays — the columnar layout
 * the wire format already has — rather than the reference's
 * row-at-a-time boxed-enum cells (src/lib.rs:28-35). Spark scans decode
 * with [[ColumnarDecoder]] instead, straight into column vectors;
 * [[decode]] is the boxed reference it is pinned against, and serves
 * the `Iterator[NativeBlock]` API of [[NativeBlockReader]].
 */
object ColumnCodec {

  /**
   * The column section of one block body, after its `n_columns, n_rows`
   * header: per column name, type, then `nRows` values — decoded when
   * `projection` keeps the name (None = all), skip-decoded otherwise.
   */
  def decodeColumns(in: Input, nCols: Int, nRows: Int,
      projection: Option[Set[String]]): NativeBlock = {
    val cols = Array.newBuilder[NativeColumn]
    var c = 0
    while (c < nCols) {
      val name = in.readString()
      val chType = ChType.parse(in.readString())
      if (projection.forall(_.contains(name)))
        cols += NativeColumn(name, chType, decode(in, chType, nRows))
      else skip(in, chType, nRows)
      c += 1
    }
    NativeBlock(cols.result(), nRows)
  }

  /** Decode `rows` values of `t` from `in` into a Catalyst-value array. */
  def decode(in: Input, t: ChType, rows: Int): Array[Any] = {
    val out = new Array[Any](rows)
    t match {
      case ChString =>
        var i = 0
        while (i < rows) { out(i) = in.readUtf8(); i += 1 }
      case ChFixedString(n) =>
        // FixedString(n): n raw bytes per value, NUL-padded; sanitize
        // strips the padding (reference strips NUL everywhere, src/lib.rs:73-74).
        var i = 0
        while (i < rows) {
          out(i) = UTF8String.fromString(NativeCodec.sanitize(
            new String(in.readBytes(n), java.nio.charset.StandardCharsets.UTF_8)))
          i += 1
        }
      case ChUInt8 =>
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readByte()); i += 1 }
      case ChInt8 =>
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readByte().toByte.toInt); i += 1 }
      case ChBool =>
        var i = 0
        while (i < rows) { out(i) = java.lang.Boolean.valueOf(in.readByte() != 0); i += 1 }
      case ChUInt16 =>
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readShortLE() & 0xffff); i += 1 }
      case ChInt16 =>
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readShortLE().toInt); i += 1 }
      case ChUInt32 =>
        var i = 0
        while (i < rows) { out(i) = java.lang.Long.valueOf(in.readIntLE() & 0xffffffffL); i += 1 }
      case ChInt32 =>
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readIntLE()); i += 1 }
      case ChUInt64 | ChInt64 =>
        var i = 0
        while (i < rows) { out(i) = java.lang.Long.valueOf(in.readLongLE()); i += 1 }
      case ChFloat32 =>
        var i = 0
        while (i < rows) { out(i) = java.lang.Float.valueOf(in.readFloatLE()); i += 1 }
      case ChFloat64 =>
        var i = 0
        while (i < rows) { out(i) = java.lang.Double.valueOf(in.readDoubleLE()); i += 1 }
      case ChDate =>
        // UInt16 days since epoch == Spark DateType's internal Int days.
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readShortLE() & 0xffff); i += 1 }
      case ChDate32 =>
        // Int32 signed days (pre-1970 roundtrips).
        var i = 0
        while (i < rows) { out(i) = Integer.valueOf(in.readIntLE()); i += 1 }
      case d: ChDecimal =>
        // little-endian two's-complement scaled integer → Catalyst Decimal
        var i = 0
        if (d.byteWidth == 4) {
          while (i < rows) {
            out(i) = org.apache.spark.sql.types.Decimal(
              BigDecimal(java.math.BigDecimal.valueOf(in.readIntLE().toLong, d.scale)),
              d.precision, d.scale)
            i += 1
          }
        } else if (d.byteWidth == 8) {
          while (i < rows) {
            out(i) = org.apache.spark.sql.types.Decimal(
              BigDecimal(java.math.BigDecimal.valueOf(in.readLongLE(), d.scale)),
              d.precision, d.scale)
            i += 1
          }
        } else {
          // Decimal128 tier: 16 LE two's-complement bytes → BigInteger
          while (i < rows) {
            out(i) = org.apache.spark.sql.types.Decimal(
              BigDecimal(new java.math.BigDecimal(
                readWideInt(in, 16, signed = true), d.scale)),
              d.precision, d.scale)
            i += 1
          }
        }
      case ChDateTime(_) =>
        // UInt32 epoch seconds → Catalyst micros.
        var i = 0
        while (i < rows) { out(i) = java.lang.Long.valueOf((in.readIntLE() & 0xffffffffL) * 1000000L); i += 1 }
      case ChDateTime64(p, _) =>
        var i = 0
        if (p <= 6) {
          val scale = math.pow(10, 6 - p).toLong
          while (i < rows) { out(i) = java.lang.Long.valueOf(in.readLongLE() * scale); i += 1 }
        } else {
          val div = math.pow(10, p - 6).toLong
          while (i < rows) { out(i) = java.lang.Long.valueOf(in.readLongLE() / div); i += 1 }
        }
      case e @ ChEnum8(_) =>
        // Int8 code → declared label, or "Unknown(N)" (src/lib.rs:157-166).
        var i = 0
        while (i < rows) {
          val code = in.readByte().toByte
          out(i) = UTF8String.fromString(e.byCode.getOrElse(code, s"Unknown($code)"))
          i += 1
        }
      case e @ ChEnum16(_) =>
        // Int16 LE code → declared label, same degradation as Enum8.
        var i = 0
        while (i < rows) {
          val code = in.readShortLE()
          out(i) = UTF8String.fromString(e.byCode.getOrElse(code, s"Unknown($code)"))
          i += 1
        }
      case ChNullable(inner) =>
        // Wire layout: null-mask byte per row first, then inner values
        // (ClickHouse writes a default value in the slot of a null).
        val mask = new Array[Boolean](rows)
        var i = 0
        while (i < rows) { mask(i) = in.readByte() != 0; i += 1 }
        val inner_vals = decode(in, inner, rows)
        i = 0
        while (i < rows) { out(i) = if (mask(i)) null else inner_vals(i); i += 1 }
      case ChArray(inner) =>
        // Wire layout: UInt64 cumulative end-offsets per row, then the
        // flattened element stream.
        val offsets = new Array[Long](rows)
        var i = 0
        while (i < rows) { offsets(i) = in.readLongLE(); i += 1 }
        val total = if (rows == 0) 0 else offsets(rows - 1).toInt
        val flat = decode(in, inner, total)
        var start = 0
        i = 0
        while (i < rows) {
          val end = offsets(i).toInt
          out(i) = new GenericArrayData(java.util.Arrays.copyOfRange(flat.asInstanceOf[Array[AnyRef]], start, end))
          start = end
          i += 1
        }
      case ChMap(kt, vt) =>
        // Array(Tuple(K,V)) layout: offsets, all keys flat, all values flat
        val offsets = new Array[Long](rows)
        var i = 0
        while (i < rows) { offsets(i) = in.readLongLE(); i += 1 }
        val total = if (rows == 0) 0 else offsets(rows - 1).toInt
        val keys = decode(in, kt, total)
        val vals = decode(in, vt, total)
        var start = 0
        i = 0
        while (i < rows) {
          val end = offsets(i).toInt
          out(i) = new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new GenericArrayData(java.util.Arrays.copyOfRange(keys.asInstanceOf[Array[AnyRef]], start, end)),
            new GenericArrayData(java.util.Arrays.copyOfRange(vals.asInstanceOf[Array[AnyRef]], start, end)))
          start = end
          i += 1
        }
      case ChTuple(fields) =>
        // element columns are contiguous: all of element 1, then element 2, …
        val cols = fields.map { case (_, ft) => decode(in, ft, rows) }
        var i = 0
        while (i < rows) {
          val row = new Array[Any](fields.length)
          var f = 0
          while (f < fields.length) { row(f) = cols(f)(i); f += 1 }
          out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(row)
          i += 1
        }
      case ChUuid =>
        // LE(msb64) ++ LE(lsb64) → canonical lowercase string
        var i = 0
        while (i < rows) {
          val msb = in.readLongLE()
          val lsb = in.readLongLE()
          out(i) = UTF8String.fromString(new java.util.UUID(msb, lsb).toString)
          i += 1
        }
      case ChIPv4 =>
        var i = 0
        while (i < rows) {
          val v = in.readIntLE()
          out(i) = UTF8String.fromString(
            s"${(v >>> 24) & 0xff}.${(v >>> 16) & 0xff}.${(v >>> 8) & 0xff}.${v & 0xff}")
          i += 1
        }
      case ChIPv6 =>
        // 16 network-order bytes → expanded lowercase hex groups (pure
        // arithmetic; see ChIPv6 scaladoc for why not InetAddress)
        var i = 0
        while (i < rows) { out(i) = UTF8String.fromString(ipv6(in.readBytes(16), 0)); i += 1 }
      case ChBigInt(_, width, signed) =>
        // LE bytes → BigInteger → exact decimal string (the reference
        // emits `<unsupported:T>` sentinels here, src/lib.rs:137)
        var i = 0
        while (i < rows) {
          out(i) = UTF8String.fromString(readWideInt(in, width, signed).toString)
          i += 1
        }
      case ChWideDecimal(_, width, scale) =>
        var i = 0
        while (i < rows) {
          out(i) = UTF8String.fromString(new java.math.BigDecimal(
            readWideInt(in, width, signed = true), scale).toPlainString)
          i += 1
        }
      case lc: ChLowCardinality =>
        decodeLowCardinality(in, lc, rows, out)
      case _: ChUnsupported =>
        throw new UnsupportedColumnException(t.name)
    }
    out
  }

  // LowCardinality serialization-type flags (ClickHouse wire format).
  private[native] val LcHasAdditionalKeys = 0x200L
  private[native] val LcIndexWidthMask = 0xffL

  /**
   * LowCardinality(T) dictionary wire layout:
   *
   *   UInt64 keys-serialization version (1 = shared-with-additional-keys)
   *   UInt64 serialization type: low byte = index width class
   *          (0→UInt8, 1→UInt16, 2→UInt32, 3→UInt64),
   *          bit 0x200 = dictionary ("additional keys") follows inline
   *   UInt64 dictionary size + dictionary values (plain inner type,
   *          non-nullable — for Nullable(T), slot 0 is the null default)
   *   UInt64 row count
   *   indices[rows] of the declared width
   *
   * The reference never decodes this — any LowCardinality column makes
   * it emit `<unsupported>` sentinels without consuming bytes,
   * corrupting every later column (src/lib.rs:168-170). Here it decodes
   * to the inner type's Catalyst values via dictionary lookup, filling
   * `out`.
   */
  private def decodeLowCardinality(in: Input, lc: ChLowCardinality, rows: Int,
      out: Array[Any]): Unit = {
    val version = in.readLongLE()
    if (version != 1L)
      throw new UnsupportedColumnException(s"${lc.name} (keys version $version)")
    val serType = in.readLongLE()
    if ((serType & LcHasAdditionalKeys) == 0)
      throw new UnsupportedColumnException(s"${lc.name} (global dictionary)")
    val (inner, nullable) = lc.inner match {
      case ChNullable(i) => (i, true)
      case i => (i, false)
    }
    val dictSize = in.readLongLE().toInt
    val dict = decode(in, inner, dictSize)
    val n = in.readLongLE().toInt
    require(n == rows, s"LowCardinality row count $n != block rows $rows")
    val width = (serType & LcIndexWidthMask).toInt
    var i = 0
    while (i < rows) {
      val idx = width match {
        case 0 => in.readByte()
        case 1 => in.readShortLE() & 0xffff
        case 2 => in.readIntLE()
        case _ => in.readLongLE().toInt
      }
      out(i) = if (nullable && idx == 0) null else dict(idx)
      i += 1
    }
  }

  /** Byte width for fixed-width types (None = variable). Used for skip-decode. */
  def fixedWidth(t: ChType): Option[Int] = t match {
    case ChUInt8 | ChInt8 | ChBool | _: ChEnum8 => Some(1)
    case ChUInt16 | ChInt16 | ChDate | _: ChEnum16 => Some(2)
    case ChUInt32 | ChInt32 | ChFloat32 | ChDate32 | _: ChDateTime => Some(4)
    case ChUInt64 | ChInt64 | ChFloat64 | _: ChDateTime64 => Some(8)
    case d: ChDecimal => Some(d.byteWidth)
    case ChFixedString(n) => Some(n)
    case ChUuid | ChIPv6 => Some(16)
    case ChIPv4 => Some(4)
    case ChBigInt(_, w, _) => Some(w)
    case ChWideDecimal(_, w, _) => Some(w)
    case _ => None
  }

  private def readWideInt(in: Input, width: Int, signed: Boolean): java.math.BigInteger =
    wideInt(in.readBytes(width), 0, width, signed)

  /** `width` little-endian bytes at `le(off)` → BigInteger (two's
    * complement when signed, non-negative magnitude otherwise). */
  private[native] def wideInt(le: Array[Byte], off: Int, width: Int,
      signed: Boolean): java.math.BigInteger = {
    // reverse to big-endian; unsigned values get a 0x00 sign byte
    val be = new Array[Byte](if (signed) width else width + 1)
    val to = if (signed) 0 else 1
    var j = 0
    while (j < width) { be(to + j) = le(off + width - 1 - j); j += 1 }
    new java.math.BigInteger(be)
  }

  /** 16 network-order bytes at `b(off)` → expanded lowercase hex groups. */
  private[native] def ipv6(b: Array[Byte], off: Int): String = {
    val sb = new java.lang.StringBuilder(39)
    var g = 0
    while (g < 8) {
      if (g > 0) sb.append(':')
      sb.append(java.lang.Integer.toHexString(
        ((b(off + 2 * g) & 0xff) << 8) | (b(off + 2 * g + 1) & 0xff)))
      g += 1
    }
    sb.toString
  }

  /**
   * Skip `rows` values of type `t` without materializing — column
   * pruning inside a block (SURVEY §4.2: strictly better than the
   * reference's decode-everything, src/lib.rs:251). Strings require
   * length-walking; fixed-width types are a single seek.
   */
  def skip(in: Input, t: ChType, rows: Int): Unit = t match {
    case _ if fixedWidth(t).isDefined =>
      in.skipFully(fixedWidth(t).get.toLong * rows)
    case ChString =>
      var i = 0
      while (i < rows) { in.skipFully(in.readVarUInt()); i += 1 }
    case ChNullable(inner) =>
      in.skipFully(rows.toLong)
      skip(in, inner, rows)
    case ChArray(inner) =>
      skip(in, inner, lastOffset(in, rows))
    case ChMap(kt, vt) =>
      val total = lastOffset(in, rows)
      skip(in, kt, total)
      skip(in, vt, total)
    case ChTuple(fields) =>
      fields.foreach { case (_, ft) => skip(in, ft, rows) }
    case lc: ChLowCardinality =>
      // must parse the dictionary structure to find the column's end
      val version = in.readLongLE()
      if (version != 1L) throw new UnsupportedColumnException(lc.name)
      val serType = in.readLongLE()
      if ((serType & LcHasAdditionalKeys) == 0)
        throw new UnsupportedColumnException(lc.name)
      val inner = lc.inner match { case ChNullable(i) => i; case i => i }
      val dictSize = in.readLongLE().toInt
      skip(in, inner, dictSize)
      val n = in.readLongLE().toInt
      val width = (serType & LcIndexWidthMask).toInt match {
        case 0 => 1; case 1 => 2; case 2 => 4; case _ => 8
      }
      in.skipFully(width.toLong * n)
    case other => throw new UnsupportedColumnException(other.name)
  }

  /** The element count of an array column (its last cumulative offset). */
  private def lastOffset(in: Input, rows: Int): Int = {
    var last = 0L
    var i = 0
    while (i < rows) { last = in.readLongLE(); i += 1 }
    if (last < 0 || last > Int.MaxValue) throw new java.io.IOException(s"corrupt array offset $last")
    last.toInt
  }

  /** Encode a column of Catalyst values (inverse of decode). */
  def encode(out: Output, t: ChType, values: Array[Any]): Unit = t match {
    case ChString =>
      var i = 0
      while (i < values.length) {
        values(i) match {
          case u: UTF8String => // UTF-8 bytes pass through, no String round trip
            val b = u.getBytes
            out.writeVarUInt(b.length.toLong)
            out.writeBytes(b)
          case other => out.writeString(String.valueOf(other))
        }
        i += 1
      }
    case ChFixedString(n) =>
      // CH INSERT semantics: shorter values NUL-pad to n bytes, longer
      // ones are an error (decode's sanitize strips the padding back).
      // Interior NULs are REJECTED here: decode's sanitize strips ALL
      // NUL bytes (reference parity — lib.rs sanitizes the whole
      // value, not just the tail), so a value containing one would
      // silently fail to round-trip. FixedString support is therefore
      // text-only; binary payloads belong in String columns.
      var i = 0
      while (i < values.length) {
        val b = values(i) match {
          case u: UTF8String => u.getBytes
          case other => String.valueOf(other).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        if (b.length > n) throw new IllegalArgumentException(
          s"clickhouse_native FixedString($n): value of ${b.length} bytes is too long")
        if (b.contains(0.toByte)) throw new IllegalArgumentException(
          s"clickhouse_native FixedString($n): interior NUL bytes do not " +
            "round-trip (decode sanitizes all NULs, matching the reference); " +
            "FixedString is text-only — use String for binary payloads")
        out.writeBytes(b)
        var p = b.length
        while (p < n) { out.writeByte(0); p += 1 }
        i += 1
      }
    case ChUInt8 | ChInt8 =>
      var i = 0
      while (i < values.length) { out.writeByte(values(i).asInstanceOf[Number].intValue() & 0xff); i += 1 }
    case ChBool =>
      var i = 0
      while (i < values.length) { out.writeByte(if (values(i).asInstanceOf[Boolean]) 1 else 0); i += 1 }
    case ChUInt16 | ChInt16 | ChDate =>
      var i = 0
      while (i < values.length) { out.writeShortLE(values(i).asInstanceOf[Number].shortValue()); i += 1 }
    case ChUInt32 | ChInt32 | ChDate32 =>
      var i = 0
      while (i < values.length) { out.writeIntLE(values(i).asInstanceOf[Number].intValue()); i += 1 }
    case d: ChDecimal =>
      var i = 0
      if (d.byteWidth <= 8) {
        while (i < values.length) {
          val unscaled = values(i).asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong
          if (d.byteWidth == 4) out.writeIntLE(unscaled.toInt) else out.writeLongLE(unscaled)
          i += 1
        }
      } else {
        // Decimal128 tier: unscaled BigInteger → 16 LE bytes,
        // sign-extended two's complement (inverse of decode)
        while (i < values.length) {
          val unscaled = values(i).asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal.setScale(d.scale).unscaledValue()
          val be = unscaled.toByteArray // big-endian, minimal length
          val fill = if (unscaled.signum() < 0) 0xff else 0x00
          var j = 0
          while (j < 16) {
            val k = be.length - 1 - j // byte index counted from the LSB
            out.writeByte(if (k >= 0) be(k) & 0xff else fill)
            j += 1
          }
          i += 1
        }
      }
    case ChUInt64 | ChInt64 =>
      var i = 0
      while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Number].longValue()); i += 1 }
    case e @ ChEnum8(_) =>
      // label → declared Int8 code; an undeclared label fails loudly
      // (ClickHouse likewise rejects unknown enum values at INSERT)
      var i = 0
      while (i < values.length) {
        val label = String.valueOf(values(i))
        out.writeByte(e.byLabel.getOrElse(label, throw new IllegalArgumentException(
          s"clickhouse_native ${e.name}: '$label' is not a declared enum value")).toInt & 0xff)
        i += 1
      }
    case e @ ChEnum16(_) =>
      var i = 0
      while (i < values.length) {
        val label = String.valueOf(values(i))
        out.writeShortLE(e.byLabel.getOrElse(label, throw new IllegalArgumentException(
          s"clickhouse_native ${e.name}: '$label' is not a declared enum value")))
        i += 1
      }
    case ChFloat32 =>
      var i = 0
      while (i < values.length) { out.writeFloatLE(values(i).asInstanceOf[Float]); i += 1 }
    case ChFloat64 =>
      var i = 0
      while (i < values.length) { out.writeDoubleLE(values(i).asInstanceOf[Double]); i += 1 }
    case ChDateTime(_) =>
      var i = 0
      while (i < values.length) { out.writeIntLE((values(i).asInstanceOf[Long] / 1000000L).toInt); i += 1 }
    case ChDateTime64(p, _) =>
      // Catalyst micros → 10^-p ticks; p > 6 needs a multiply (the
      // inverse of decode's divide), not 10^(6-p).toLong which is 0.
      var i = 0
      if (p <= 6) {
        val div = math.pow(10, 6 - p).toLong
        while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Long] / div); i += 1 }
      } else {
        val mul = math.pow(10, p - 6).toLong
        while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Long] * mul); i += 1 }
      }
    case ChNullable(inner) =>
      var i = 0
      while (i < values.length) { out.writeByte(if (values(i) == null) 1 else 0); i += 1 }
      val defaults = values.map(v => if (v == null) defaultValue(inner) else v)
      encode(out, inner, defaults)
    case at @ ChArray(inner) =>
      // ClickHouse has no Nullable(Array/Map/Tuple), so forSpark maps a
      // nullable Spark container column to a bare container type; a null
      // cell reaching here degrades to the empty container (same
      // null→default rule as the ChNullable inner-column encode above).
      val vs = nullsToDefault(at, values)
      var cum = 0L
      var i = 0
      while (i < vs.length) {
        cum += vs(i).asInstanceOf[ArrayData].numElements()
        out.writeLongLE(cum)
        i += 1
      }
      val flat = vs.flatMap(v => v.asInstanceOf[ArrayData].toObjectArray(inner.sparkType))
      encode(out, inner, flat.asInstanceOf[Array[Any]])
    case lc: ChLowCardinality =>
      encodeLowCardinality(out, lc, values)
    case mt @ ChMap(kt, vt) =>
      val vs = nullsToDefault(mt, values)
      var cum = 0L
      var i = 0
      while (i < vs.length) {
        cum += vs(i).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].numElements()
        out.writeLongLE(cum)
        i += 1
      }
      val flatK = vs.flatMap(v =>
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].keyArray().toObjectArray(kt.sparkType))
      val flatV = vs.flatMap(v =>
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].valueArray().toObjectArray(vt.sparkType))
      encode(out, kt, flatK.asInstanceOf[Array[Any]])
      encode(out, vt, flatV.asInstanceOf[Array[Any]])
    case tt @ ChTuple(fields) =>
      val values2 = nullsToDefault(tt, values)
      var f = 0
      while (f < fields.length) {
        val ft = fields(f)._2
        val col = new Array[Any](values2.length)
        var i = 0
        while (i < values2.length) {
          val r = values2(i).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          col(i) = if (r.isNullAt(f)) null else r.get(f, ft.sparkType)
          i += 1
        }
        encode(out, ft, col)
        f += 1
      }
    case ChUuid =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        val u = try java.util.UUID.fromString(s)
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"clickhouse_native UUID column: '$s' is not a UUID") }
        out.writeLongLE(u.getMostSignificantBits)
        out.writeLongLE(u.getLeastSignificantBits)
        i += 1
      }
    case ChIPv4 =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        val parts = s.split('.')
        def oct(p: String): Int = {
          val v = p.toIntOption.getOrElse(-1)
          if (v < 0 || v > 255) throw new IllegalArgumentException(
            s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
          v
        }
        if (parts.length != 4) throw new IllegalArgumentException(
          s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
        out.writeIntLE((oct(parts(0)) << 24) | (oct(parts(1)) << 16) |
          (oct(parts(2)) << 8) | oct(parts(3)))
        i += 1
      }
    case ChIPv6 =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        // literal guard: ':' never appears in hostnames, so getByName
        // on a colon-containing string can never trigger a DNS lookup;
        // anything without a colon is rejected before the call
        if (s.indexOf(':') < 0 || !s.forall(c =>
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
            (c >= 'A' && c <= 'F') || c == ':' || c == '.'))
          throw new IllegalArgumentException(
            s"clickhouse_native IPv6 column: '$s' is not an IPv6 literal")
        val addr = try java.net.InetAddress.getByName(s)
          catch { case _: java.net.UnknownHostException =>
            throw new IllegalArgumentException(
              s"clickhouse_native IPv6 column: '$s' is not an IPv6 literal") }
        val bytes = addr.getAddress match {
          case b16 if b16.length == 16 => b16
          case b4 => // v4-mapped literal parsed as Inet4Address → re-embed
            val b = new Array[Byte](16)
            b(10) = -1; b(11) = -1
            System.arraycopy(b4, 0, b, 12, 4)
            b
        }
        out.writeBytes(bytes)
        i += 1
      }
    case other =>
      throw new UnsupportedColumnException(other.name)
  }

  /**
   * Inverse of [[decodeLowCardinality]]: per-block dictionary + indices
   * (keys version 1, shared-with-additional-keys). For
   * `LowCardinality(Nullable(T))`, dictionary slot 0 holds the inner
   * type's default and index 0 means null — the layout ClickHouse
   * itself writes and our reader expects. Index width is the smallest
   * class that addresses the dictionary.
   */
  private def encodeLowCardinality(out: Output, lc: ChLowCardinality, values: Array[Any]): Unit = {
    val (inner, nullable) = lc.inner match {
      case ChNullable(i) => (i, true)
      case i => (i, false)
    }
    val dict = new scala.collection.mutable.ArrayBuffer[Any]()
    val slot = new java.util.HashMap[Any, Integer]()
    if (nullable) dict += defaultValue(inner) // slot 0 = null stand-in
    val indices = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      indices(i) =
        if (nullable && v == null) 0
        else {
          var s = slot.get(v)
          if (s == null) { s = Integer.valueOf(dict.length); slot.put(v, s); dict += v }
          s.intValue()
        }
      i += 1
    }
    val widthClass =
      if (dict.length <= 0xff) 0
      else if (dict.length <= 0xffff) 1
      else 2 // a 64 KiB-row block cannot exceed UInt32 dictionary slots
    out.writeLongLE(1L) // keys serialization version
    out.writeLongLE(LcHasAdditionalKeys | widthClass.toLong)
    out.writeLongLE(dict.length.toLong)
    encode(out, inner, dict.toArray)
    out.writeLongLE(values.length.toLong)
    i = 0
    while (i < values.length) {
      widthClass match {
        case 0 => out.writeByte(indices(i))
        case 1 => out.writeShortLE(indices(i).toShort)
        case _ => out.writeIntLE(indices(i))
      }
      i += 1
    }
  }

  /** Replace null container cells with the type's empty/default value
    * (allocation-free when the column has no nulls — the common case). */
  private def nullsToDefault(t: ChType, values: Array[Any]): Array[Any] = {
    var i = 0
    var hasNull = false
    while (i < values.length && !hasNull) { hasNull = values(i) == null; i += 1 }
    if (!hasNull) values
    else values.map(v => if (v == null) defaultValue(t) else v)
  }

  private def defaultValue(t: ChType): Any = t match {
    // a nullable slot's default IS null — its own encode writes the
    // null mask and substitutes the inner default (only reachable from
    // container defaults, e.g. a tuple with nullable fields)
    case _: ChNullable => null
    // an enum's default must be an ENCODABLE label (the null-slot
    // stand-in under Nullable) — use the first declared value, which is
    // also ClickHouse's implicit enum default
    case e: ChEnum8 => UTF8String.fromString(e.values.head._1)
    case e: ChEnum16 => UTF8String.fromString(e.values.head._1)
    case ChString | _: ChFixedString => UTF8String.fromString("")
    // CH defaults for the decoded-string network types (null slots
    // under Nullable encode these placeholder bytes)
    case ChUuid => UTF8String.fromString("00000000-0000-0000-0000-000000000000")
    case ChIPv4 => UTF8String.fromString("0.0.0.0")
    case ChIPv6 => UTF8String.fromString("0:0:0:0:0:0:0:0")
    case ChBool => java.lang.Boolean.FALSE
    case ChUInt8 | ChInt8 | ChUInt16 | ChInt16 | ChInt32 | ChDate | ChDate32 => Integer.valueOf(0)
    case ChFloat32 => java.lang.Float.valueOf(0f)
    case ChFloat64 => java.lang.Double.valueOf(0d)
    case d: ChDecimal => org.apache.spark.sql.types.Decimal(0L, d.precision, d.scale)
    case _: ChArray => new GenericArrayData(Array.empty[Any])
    case _: ChMap => new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
    case ChTuple(fields) => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      fields.map(f => defaultValue(f._2)).toArray)
    case _ => java.lang.Long.valueOf(0L)
  }
}

final class UnsupportedColumnException(val typeName: String)
  extends RuntimeException(s"<unsupported:$typeName>")
