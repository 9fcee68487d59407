package graft.sources.remote

import java.io.IOException

import graft.sources.native.{ChType, ColumnarDecoder, ColumnCodec, NativeBlock, NativeBlockReader}
import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * The ClickHouse native TCP protocol — hello handshake, protocol
 * revision negotiation, and packet framing — as publicly documented
 * and as spoken by the open clients (clickhouse-cpp / ch-go /
 * clickhouse-rs, the last being what the reference links for its
 * `clickhouse_scan`, reference Cargo.toml:31,
 * src/clickhouse_scan.rs:47-131).
 *
 * Wire vocabulary (everything little-endian):
 *  - VarUInt    — LEB128 unsigned varint
 *  - String     — VarUInt byte length + UTF-8 bytes
 *  - packet     — VarUInt packet code, then code-specific payload
 *
 * Session shape:
 *  1. client Hello (name, version, revision, database, user, password)
 *  2. server Hello (name, version, revision, then revision-gated
 *     fields: timezone, display name, patch). Both sides then speak
 *     min(client revision, server revision) — the negotiation.
 *  3. client Query (query id, client info, settings, stage,
 *     compression, query text) + one empty Data block terminating
 *     external tables.
 *  4. server streams packets: Data (header block first, then row
 *     blocks), Progress / ProfileInfo / Log / Totals / Extremes
 *     interleaved, closed by EndOfStream — or Exception at any point.
 *
 * [[ClientRevision]] is pinned to 54449: new enough for every field
 * the modern servers require before reading the query text (settings
 * serialized as strings, interserver secret, OpenTelemetry,
 * distributed depth, initial query start time), old enough that block
 * bodies carry no custom-serialization flags (introduced at 54454) —
 * so a negotiated block is wire-identical to the Native FILE block
 * layout and [[ColumnCodec]] decodes both.
 *
 * ChTcpProtocolSpec pins the exact bytes of both handshake directions
 * as hand-derived golden vectors and replays a recorded server
 * session end-to-end through the public scan surface.
 */
object ChTcpProtocol {

  val ClientName = "graft-spark"
  val VersionMajor = 1L
  val VersionMinor = 0L
  val ClientRevision = 54449L

  // Public revision gates (ClickHouse defines these in
  // src/Core/ProtocolDefines.h; the open clients mirror them).
  val MinRevisionWithBlockInfo = 51903L
  val MinRevisionWithTotalRowsInProgress = 51554L
  val MinRevisionWithClientInfo = 54032L
  val MinRevisionWithServerTimezone = 54058L
  val MinRevisionWithQuotaKey = 54060L
  val MinRevisionWithServerDisplayName = 54372L
  val MinRevisionWithClientWriteInfo = 54372L
  val MinRevisionWithVersionPatch = 54401L
  val MinRevisionWithSettingsSerializedAsStrings = 54429L
  val MinRevisionWithInterserverSecret = 54441L
  val MinRevisionWithOpenTelemetry = 54442L
  val MinRevisionWithDistributedDepth = 54448L
  val MinRevisionWithInitialQueryStartTime = 54449L
  val MinRevisionWithCustomSerialization = 54454L

  /** Client→server packet codes. */
  object ClientPacket {
    val Hello = 0L
    val Query = 1L
    val Data = 2L
    val Cancel = 3L
    val Ping = 4L
  }

  /** Server→client packet codes. */
  object ServerPacket {
    val Hello = 0L
    val Data = 1L
    val Exception = 2L
    val Progress = 3L
    val Pong = 4L
    val EndOfStream = 5L
    val ProfileInfo = 6L
    val Totals = 7L
    val Extremes = 8L
    val TablesStatus = 9L
    val Log = 10L
    val TableColumns = 11L
  }

  final case class ServerHello(
      name: String, versionMajor: Long, versionMinor: Long, revision: Long,
      timezone: String, displayName: String, versionPatch: Long) {
    /** The revision both sides speak after the handshake. */
    def negotiated: Long = math.min(revision, ClientRevision)
  }

  def writeClientHello(out: Output, database: String, user: String, password: String): Unit = {
    out.writeVarUInt(ClientPacket.Hello)
    out.writeString(ClientName)
    out.writeVarUInt(VersionMajor)
    out.writeVarUInt(VersionMinor)
    out.writeVarUInt(ClientRevision)
    out.writeString(database)
    out.writeString(user)
    out.writeString(password)
  }

  def readServerHello(in: Input): ServerHello = {
    val code = in.readVarUInt()
    if (code == ServerPacket.Exception) throw readException(in)
    if (code != ServerPacket.Hello)
      throw new IOException(s"clickhouse tcp: expected server Hello (0), got packet $code")
    val name = in.readString()
    val major = in.readVarUInt()
    val minor = in.readVarUInt()
    val revision = in.readVarUInt()
    val tz = if (revision >= MinRevisionWithServerTimezone) in.readString() else ""
    val display = if (revision >= MinRevisionWithServerDisplayName) in.readString() else ""
    val patch = if (revision >= MinRevisionWithVersionPatch) in.readVarUInt() else 0L
    ServerHello(name, major, minor, revision, tz, display, patch)
  }

  /**
   * Query packet at the negotiated revision, followed by the empty
   * Data block that terminates external-tables transfer. Identity
   * fields that would vary per host (os user, hostname, start time)
   * are sent empty/zero so a session is byte-deterministic — which is
   * what lets the spec pin golden vectors.
   *
   * With `compress` the compression flag negotiates frames ON: every
   * subsequent block BODY (everything after the packet code and
   * temporary-table name) travels as ClickHouse compressed frames —
   * including this packet's own external-tables terminator block.
   * Packet codes, table names, Progress / ProfileInfo / Exception
   * payloads, and Log blocks stay uncompressed, per the protocol.
   */
  def writeQuery(out: Output, query: String, negotiated: Long,
      compress: Boolean = false): Unit = {
    out.writeVarUInt(ClientPacket.Query)
    out.writeString("") // query id: let the server assign one
    if (negotiated >= MinRevisionWithClientInfo) {
      out.writeByte(1) // query kind: initial query
      out.writeString("") // initial user
      out.writeString("") // initial query id
      out.writeString("0.0.0.0:0") // initial address
      if (negotiated >= MinRevisionWithInitialQueryStartTime)
        out.writeLongLE(0L) // start time in us: unset
      out.writeByte(1) // interface: TCP
      out.writeString("") // os user
      out.writeString("") // client hostname
      out.writeString(ClientName)
      out.writeVarUInt(VersionMajor)
      out.writeVarUInt(VersionMinor)
      out.writeVarUInt(ClientRevision)
      if (negotiated >= MinRevisionWithQuotaKey) out.writeString("")
      if (negotiated >= MinRevisionWithDistributedDepth) out.writeVarUInt(0L)
      if (negotiated >= MinRevisionWithVersionPatch) out.writeVarUInt(0L)
      if (negotiated >= MinRevisionWithOpenTelemetry) out.writeByte(0) // no trace context
    }
    out.writeString("") // settings: none → immediate terminator
    if (negotiated >= MinRevisionWithInterserverSecret) out.writeString("")
    out.writeVarUInt(2L) // processing stage: Complete
    out.writeVarUInt(if (compress) 1L else 0L)
    out.writeString(query)
    writeEmptyDataBlock(out, negotiated, compress)
  }

  /** The zero-column zero-row Data block that ends external tables. */
  def writeEmptyDataBlock(out: Output, negotiated: Long, compress: Boolean = false): Unit = {
    out.writeVarUInt(ClientPacket.Data)
    out.writeString("") // temporary-table name: none
    val body = if (compress) {
      // block body rides in its own compressed frame(s)
      val bos = new java.io.ByteArrayOutputStream()
      val frames = new graft.sources.native.FrameOutputStream(
        bos, graft.sources.native.NativeCompression.MethodLZ4)
      val fOut = new Output(frames)
      writeBlockInfo(fOut, negotiated)
      fOut.writeVarUInt(0L)
      fOut.writeVarUInt(0L)
      fOut.flush()
      frames.endFrame()
      Some(bos.toByteArray)
    } else None
    body match {
      case Some(bytes) => out.writeBytes(bytes)
      case None =>
        writeBlockInfo(out, negotiated)
        out.writeVarUInt(0L) // columns
        out.writeVarUInt(0L) // rows
    }
  }

  /** BlockInfo: (field 1, is_overflows u8) (field 2, bucket_num i32) 0. */
  def writeBlockInfo(out: Output, negotiated: Long): Unit =
    if (negotiated >= MinRevisionWithBlockInfo) {
      out.writeVarUInt(1L); out.writeByte(0)
      out.writeVarUInt(2L); out.writeIntLE(-1)
      out.writeVarUInt(0L)
    }

  def readBlockInfo(in: Input, negotiated: Long): Unit =
    if (negotiated >= MinRevisionWithBlockInfo) {
      var field = in.readVarUInt()
      while (field != 0L) {
        field match {
          case 1L => in.readByte() // is_overflows
          case 2L => in.readIntLE() // bucket_num
          case other => throw new IOException(
            s"clickhouse tcp: unknown BlockInfo field $other")
        }
        field = in.readVarUInt()
      }
    }

  /**
   * One protocol block: temporary-table name, BlockInfo, then the same
   * (n_cols, n_rows, per-column name/type/values) layout as the Native
   * file format — decoded by the shared [[ColumnCodec]]. Unlike the
   * file reader, a zero-row block here is NOT a terminator: servers
   * send the schema as a rowless header block before any data.
   */
  def readBlock(in: Input, negotiated: Long, projection: Option[Set[String]]): NativeBlock = {
    in.readString() // temporary-table name (empty for results)
    readBlockBody(in, negotiated, projection)
  }

  /** Block body only — what travels inside compressed frames when the
    * session negotiated compression (the packet code and table name
    * stay outside the frames). Boxed values; Spark scans use
    * [[readBatchBody]]. */
  def readBlockBody(in: Input, negotiated: Long, projection: Option[Set[String]]): NativeBlock = {
    val (nCols, nRows) = readBlockShape(in, negotiated)
    ColumnCodec.decodeColumns(in, nCols, nRows, projection)
  }

  /** A block body's column (name, type) headers, values skipped and
    * never decoded: the schema probe's read, bounded in memory whatever
    * row count the header declares. */
  def readHeaderBody(in: Input, negotiated: Long): Seq[(String, ChType)] = {
    val (nCols, nRows) = readBlockShape(in, negotiated)
    NativeBlockReader.readColumnHeaders(in, nCols, nRows)
  }

  /** [[readBlockBody]] decoded straight into `decoder`'s column vectors. */
  def readBatchBody(in: Input, negotiated: Long, decoder: ColumnarDecoder): ColumnarBatch = {
    val (nCols, nRows) = readBlockShape(in, negotiated)
    decoder.decodeBlock(in, nCols, nRows)
  }

  /** BlockInfo, then the `n_columns, n_rows` header — capped BEFORE
    * toInt: this is network input, and a corrupt or hostile length here
    * must fail cleanly instead of wrapping negative or driving an
    * allocation ([[NativeBlockReader.checkShape]]). */
  private def readBlockShape(in: Input, negotiated: Long): (Int, Int) = {
    readBlockInfo(in, negotiated)
    val nCols = in.readVarUInt()
    val nRows = in.readVarUInt()
    NativeBlockReader.checkShape(nCols, nRows, "clickhouse tcp: ")
    (nCols.toInt, nRows.toInt)
  }

  /** Progress payload (consumed for flow, not surfaced). */
  def readProgress(in: Input, negotiated: Long): Unit = {
    in.readVarUInt() // rows
    in.readVarUInt() // bytes
    if (negotiated >= MinRevisionWithTotalRowsInProgress) in.readVarUInt() // total rows
    if (negotiated >= MinRevisionWithClientWriteInfo) {
      in.readVarUInt() // written rows
      in.readVarUInt() // written bytes
    }
  }

  /** ProfileInfo payload (consumed). */
  def readProfileInfo(in: Input): Unit = {
    in.readVarUInt() // rows
    in.readVarUInt() // blocks
    in.readVarUInt() // bytes
    in.readByte() // applied_limit
    in.readVarUInt() // rows_before_limit
    in.readByte() // calculated_rows_before_limit
  }

  /** Exception packet → IOException chain (code, name, message, stack, nested). */
  def readException(in: Input): IOException = {
    val code = in.readIntLE()
    val name = in.readString()
    val message = in.readString()
    val stack = in.readString()
    val hasNested = in.readByte() != 0
    val cause = if (hasNested) readException(in) else null
    new IOException(
      s"clickhouse server exception code=$code $name: $message" +
        (if (stack.nonEmpty) s"\n$stack" else ""), cause)
  }
}
