package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, IOException}
import java.net.{InetAddress, ServerSocket, Socket}

import graft.sources.native.{ChType, ColumnCodec}
import graft.sources.native.NativeCodec.{Input, Output}
import graft.sources.remote.ChTcpProtocol

/**
 * A loopback ClickHouse native-TCP server that answers one known query
 * with a pre-encoded result: the hello handshake, then Data packets
 * (the rowless header block first, as real servers send it), then
 * EndOfStream. One thread, one connection at a time, uncompressed
 * blocks (the protocol's default). Any other query gets an Exception
 * packet, so a client that sends the wrong text fails its op.
 */
final class ReplayServer(query: String, response: Array[Byte]) extends AutoCloseable {
  private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  @volatile private var stopped = false

  private val thread = new Thread(() => {
    while (!stopped) {
      try {
        val sock = server.accept()
        try serve(sock) catch { case _: IOException => () } finally sock.close()
      } catch { case _: IOException => () }
    }
  }, "perfbench-replay")
  thread.setDaemon(true)
  thread.start()

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new Input(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val rawOut = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val out = new Output(rawOut)
    ReplayServer.readClientHello(in)
    ReplayServer.writeServerHello(out)
    out.flush()
    val (text, compressed) = ReplayServer.readQuery(in)
    if (text != query || compressed) {
      ReplayServer.writeException(out, s"replay server knows one query, got: $text")
    } else rawOut.write(response)
    out.flush()
    // wait for the client to hang up, so no unread bytes reset the stream
    sock.shutdownOutput()
    while (in.tryReadByte() >= 0) ()
  }

  override def close(): Unit = {
    stopped = true
    server.close()
    thread.join(5000)
  }
}

object ReplayServer {
  import ChTcpProtocol._

  val Revision: Long = ClientRevision

  def readClientHello(in: Input): Unit = {
    val code = in.readVarUInt()
    if (code != ClientPacket.Hello) throw new IOException(s"expected client Hello, got $code")
    in.readString(); in.readVarUInt(); in.readVarUInt(); in.readVarUInt()
    in.readString(); in.readString(); in.readString()
  }

  def writeServerHello(out: Output): Unit = {
    out.writeVarUInt(ServerPacket.Hello)
    out.writeString("perfbench-replay")
    out.writeVarUInt(24L); out.writeVarUInt(3L); out.writeVarUInt(Revision)
    out.writeString("UTC")
    out.writeString("replay")
    out.writeVarUInt(0L)
  }

  /** Parses a Query packet at [[Revision]] plus the empty external-tables block. */
  def readQuery(in: Input): (String, Boolean) = {
    val code = in.readVarUInt()
    if (code != ClientPacket.Query) throw new IOException(s"expected Query, got $code")
    in.readString() // query id
    in.readByte() // query kind
    in.readString(); in.readString(); in.readString() // initial user, query id, address
    in.readLongLE() // start time
    in.readByte() // interface
    in.readString(); in.readString(); in.readString() // os user, hostname, client name
    in.readVarUInt(); in.readVarUInt(); in.readVarUInt() // version, revision
    in.readString() // quota key
    in.readVarUInt(); in.readVarUInt() // distributed depth, version patch
    if (in.readByte() != 0) throw new IOException("trace context not supported")
    while (in.readString().nonEmpty) { in.readVarUInt(); in.readString() } // settings
    in.readString() // interserver secret
    in.readVarUInt() // stage
    val compressed = in.readVarUInt() != 0L
    val text = in.readString()
    if (in.readVarUInt() != ClientPacket.Data) throw new IOException("expected Data")
    in.readString()
    readBlockInfo(in, Revision)
    in.readVarUInt(); in.readVarUInt()
    (text, compressed)
  }

  def writeException(out: Output, msg: String): Unit = {
    out.writeVarUInt(ServerPacket.Exception)
    out.writeIntLE(1002); out.writeString("DB::Exception"); out.writeString(msg)
    out.writeString(""); out.writeByte(0)
  }

  /**
   * The byte stream a server sends for a result: one rowless header
   * block, one Data packet per element of `blocks` (its column value
   * arrays), then EndOfStream.
   */
  def encodeResult(names: Seq[String], types: Seq[String],
      blocks: Iterator[Array[Array[Any]]]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(1 << 20)
    val out = new Output(bytes)
    val chTypes = types.map(ChType.parse)
    def block(cols: Array[Array[Any]], rows: Int): Unit = {
      out.writeVarUInt(ServerPacket.Data)
      out.writeString("")
      writeBlockInfo(out, Revision)
      out.writeVarUInt(names.length.toLong)
      out.writeVarUInt(rows.toLong)
      names.indices.foreach { c =>
        out.writeString(names(c))
        out.writeString(types(c))
        ColumnCodec.encode(out, chTypes(c), cols(c))
      }
    }
    block(Array.fill(names.length)(Array.empty[Any]), 0)
    blocks.foreach(cols => block(cols, cols.head.length))
    out.writeVarUInt(ServerPacket.EndOfStream)
    out.flush()
    bytes.toByteArray
  }
}
