package graft.sources.remote

import java.io.{BufferedInputStream, BufferedOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}

import graft.sources.native.{ChType, ColumnarDecoder, NativeBlock}
import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.vectorized.ColumnarBatch

import ChTcpProtocol._

/**
 * One native-TCP connection to a ClickHouse server: dials, performs
 * the hello/revision handshake eagerly (so a bad address or refused
 * credential fails at connect, not at first read), then runs one
 * query as a [[RemoteBlockSource]].
 *
 * Connection-per-caller, exactly like the transport seam's other
 * implementations: the driver schema probe and every executor
 * partition dial their own socket — the shape a distributed scan
 * needs (there is no shared driver-side connection an executor could
 * reach). Reads and connects are timeout-bounded: a black-holed
 * server fails the task instead of hanging it.
 */
final class ChTcpClient private (sock: Socket, rawIn: java.io.InputStream,
    in: Input, out: Output, val hello: ServerHello) extends AutoCloseable {

  /**
   * Send one query; the returned source streams the server's Data
   * blocks (including the rowless schema header block), consuming
   * Progress / ProfileInfo / Log / Totals / Extremes packets in
   * passing, until EndOfStream. Exception packets raise with the
   * server's code and message. Owns the connection: closing the
   * source closes the socket (the protocol has no reset-for-reuse
   * short of Cancel + drain, and a scan partition is one query).
   *
   * With `compress`, block BODIES arrive as ClickHouse compressed
   * frames (CityHash128-checksummed LZ4/ZSTD — the same
   * [[graft.sources.native.NativeCompression]] layer the file format
   * uses). Each block is framed independently and ends on a frame
   * boundary, so a per-block [[graft.sources.native.FrameInputStream]]
   * over the socket consumes exactly the block's frames and leaves the
   * stream at the next packet code. Log blocks are always
   * uncompressed, per the protocol.
   */
  def execute(query: String, projection: Option[Set[String]],
      compress: Boolean = false): ResultStream = {
    writeQuery(out, query, hello.negotiated, compress)
    out.flush()
    new ResultStream(projection, compress)
  }

  /** The server packet stream of one query sent by [[execute]]. */
  final class ResultStream private[ChTcpClient] (projection: Option[Set[String]],
      compress: Boolean) extends RemoteBlockSource {
    private val negotiated = hello.negotiated
    private var done = false
    /** The block body of the packet just read: inside a per-block
      * frame window when compressed (NOT closed — that would close the
      * socket; the block decode drains it exactly). */
    private def body[T](decode: Input => T): T = {
      in.readString() // temporary-table name
      if (compress) decode(new Input(new graft.sources.native.FrameInputStream(rawIn)))
      else decode(in)
    }
    /** Packets up to the next Data block, decoded by `decode`. */
    private def nextData[T](decode: Input => T): Option[T] = {
      if (done) return None
      while (true) {
        in.readVarUInt() match {
          case ServerPacket.Data =>
            return Some(body(decode))
          case ServerPacket.Progress => readProgress(in, negotiated)
          case ServerPacket.ProfileInfo => readProfileInfo(in)
          case ServerPacket.Totals | ServerPacket.Extremes =>
            body(readBlockBody(_, negotiated, Some(Set.empty))) // consume, skip-decode
          case ServerPacket.Log =>
            readBlock(in, negotiated, Some(Set.empty)) // never compressed
          case ServerPacket.Exception => throw readException(in)
          case ServerPacket.EndOfStream =>
            done = true
            return None
          case other => throw new IOException(
            s"clickhouse tcp: unexpected server packet $other mid-query")
        }
      }
      None // unreachable
    }
    override def nextBlock(): Option[NativeBlock] =
      nextData(readBlockBody(_, negotiated, projection))
    override def nextBatch(decoder: ColumnarDecoder): ColumnarBatch =
      nextData(readBatchBody(_, negotiated, decoder)).orNull
    /** The next Data block's column (name, type) headers, its values
      * skipped, never decoded — the schema probe's read. */
    def nextHeader(): Option[Seq[(String, ChType)]] =
      nextData(readHeaderBody(_, negotiated))
    override def close(): Unit = {
      // Abandoning mid-stream (driver schema probe after the header
      // block, a pushed LIMIT, a killed task): tell the server to
      // stop computing instead of letting the query run until it
      // notices the dead socket. Best-effort — the socket may
      // already be broken, and close proceeds regardless.
      if (!done) {
        try {
          out.writeVarUInt(ClientPacket.Cancel)
          out.flush()
        } catch { case _: IOException => () }
      }
      ChTcpClient.this.close()
    }
  }

  override def close(): Unit = sock.close()
}

object ChTcpClient {
  /**
   * TLS configuration for [[connect]] — mirrors the reference's
   * `CLICKHOUSE_SECURE` switch (reference README.md:18-23; the secure
   * native port is conventionally 9440). Certificate trust comes from
   * either the JVM default trust store, an explicit PKCS12/JKS
   * truststore, or — for test rigs and self-signed lab servers, never
   * as a default — `insecureSkipVerify`.
   */
  final case class Tls(
      enabled: Boolean = false,
      truststorePath: String = "",
      truststorePassword: String = "",
      insecureSkipVerify: Boolean = false) extends Serializable

  private def sslContext(tls: Tls): javax.net.ssl.SSLContext = {
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    if (tls.insecureSkipVerify) {
      val trustAll: javax.net.ssl.TrustManager = new javax.net.ssl.X509TrustManager {
        override def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
      }
      ctx.init(null, Array(trustAll), new java.security.SecureRandom())
    } else if (tls.truststorePath.nonEmpty) {
      val ks = java.security.KeyStore.getInstance(
        if (tls.truststorePath.endsWith(".jks")) "JKS" else "PKCS12")
      val in = new java.io.FileInputStream(tls.truststorePath)
      try ks.load(in, tls.truststorePassword.toCharArray) finally in.close()
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      ctx.init(null, tmf.getTrustManagers, new java.security.SecureRandom())
    } else {
      ctx.init(null, null, new java.security.SecureRandom()) // JVM default trust
    }
    ctx
  }

  def connect(host: String, port: Int, user: String, password: String,
      database: String, timeoutMs: Int, tls: Tls = Tls()): ChTcpClient = {
    val plain = new Socket()
    var sock: Socket = plain
    try {
      plain.setTcpNoDelay(true)
      plain.setSoTimeout(timeoutMs)
      plain.connect(new InetSocketAddress(host, port), timeoutMs)
      if (tls.enabled) {
        // layer TLS over the already-connected socket so the connect
        // timeout applies; the handshake inherits the SO timeout
        val ssl = sslContext(tls).getSocketFactory
          .createSocket(plain, host, port, true).asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setSoTimeout(timeoutMs)
        if (!tls.insecureSkipVerify) {
          // hostname/endpoint verification: a bare SSLSocket does NOT
          // check that the certificate matches the host (Java enables
          // that only for HttpsURLConnection) — without this, ANY
          // CA-trusted certificate for ANY name passes and a MITM with
          // a valid cert of its own receives the credentials
          val params = ssl.getSSLParameters
          params.setEndpointIdentificationAlgorithm("HTTPS")
          ssl.setSSLParameters(params)
        }
        ssl.startHandshake()
        sock = ssl
      }
      val out = new Output(new BufferedOutputStream(sock.getOutputStream, 1 << 14))
      // ONE buffered stream shared by the packet reader and any
      // per-block frame reader — a second buffering layer would read
      // ahead past packet boundaries
      val rawIn = new BufferedInputStream(sock.getInputStream, 1 << 16)
      val in = new Input(rawIn)
      writeClientHello(out, database, user, password)
      out.flush()
      val hello = readServerHello(in)
      new ChTcpClient(sock, rawIn, in, out, hello)
    } catch { case e: Throwable => sock.close(); plain.close(); throw e }
  }
}
