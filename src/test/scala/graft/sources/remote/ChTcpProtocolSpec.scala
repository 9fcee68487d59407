package graft.sources.remote

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.ServerSocket

import graft.SparkTestBase
import graft.sources.native.NativeCodec.{Input, Output}

import org.scalatest.funsuite.AnyFunSuite

/**
 * Golden-vector + recorded-session tests for the native TCP protocol.
 *
 * The handshake and query bytes are HAND-DERIVED from the public
 * protocol layout (varints, length-prefixed strings, revision-gated
 * fields) — not generated by the code under test — so the client is
 * anchored to the documented wire format, the same way
 * CityHash102Spec anchors the checksum to published vectors. The
 * end-to-end test replays a scripted server session over a loopback
 * socket through the PUBLIC scan surface (spark.read.format(...)),
 * covering hello, revision negotiation, Data/Progress/ProfileInfo
 * framing, the rowless schema header block, and EndOfStream; a second
 * script exercises negotiation against an older-revision server and a
 * third the server Exception path.
 */
class ChTcpProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def hex(s: String): Array[Byte] =
    s.split("\\s+").filter(_.nonEmpty).map(b => Integer.parseInt(b, 16).toByte)

  private def str(s: String): String =
    f"${s.length}%02x " + s.getBytes("UTF-8").map(b => f"$b%02x").mkString(" ")

  // ---- golden vectors (hand-derived) ----------------------------------

  // varint(54449) = b1 a9 03; varint(54058) = aa a6 03
  private val clientHelloGolden = hex(
    s"00 ${str("graft-spark")} 01 00 b1 a9 03 ${str("default")} ${str("default")} 00")

  private val serverHelloModern = hex(
    s"00 ${str("ClickHouse")} 17 08 b1 a9 03 ${str("UTC")} ${str("golden")} 07")

  private val serverHelloOld = hex(
    s"00 ${str("ClickHouse")} 15 03 aa a6 03 ${str("UTC")}")

  private val blockInfo = "01 00 02 ff ff ff ff 00"

  /** Query packet at negotiated 54449 + the empty external-tables block. */
  private val queryGoldenModern = hex(
    "01 00" + // Query, empty query id
      " 01 00 00" + s" ${str("0.0.0.0:0")}" + // kind, initial user/id/address
      " 00 00 00 00 00 00 00 00" + // initial query start time (unset)
      " 01 00 00" + s" ${str("graft-spark")}" + // iface TCP, os user, hostname, name
      " 01 00 b1 a9 03" + // client version + revision
      " 00 00 00 00" + // quota key, distributed depth, patch, otel
      " 00 00" + // settings terminator, interserver secret
      " 02 00" + s" ${str("SELECT 1")}" + // stage Complete, no compression, query
      s" 02 00 $blockInfo 00 00") // empty Data block

  /** Same query at negotiated 54058: pre-quota-key, pre-secret layout. */
  private val queryGoldenOld = hex(
    "01 00" +
      " 01 00 00" + s" ${str("0.0.0.0:0")}" +
      " 01 00 00" + s" ${str("graft-spark")}" +
      " 01 00 b1 a9 03" +
      " 00" + // settings terminator only
      " 02 00" + s" ${str("SELECT 1")}" +
      s" 02 00 $blockInfo 00 00")

  /** Server Data: rowless header block (id Int64, name String). */
  private val headerBlock = hex(
    s"01 00 $blockInfo 02 00 ${str("id")} ${str("Int64")} ${str("name")} ${str("String")}")

  /** Server Data: 3 rows. */
  private val dataBlock = hex(
    s"01 00 $blockInfo 02 03 ${str("id")} ${str("Int64")}" +
      " 01 00 00 00 00 00 00 00 02 00 00 00 00 00 00 00 03 00 00 00 00 00 00 00" +
      s" ${str("name")} ${str("String")} ${str("aa")} ${str("bb")} ${str("cc")}")

  private val progressModern = hex("03 03 30 03 00 00") // rows/bytes/total/written r+b
  private val progressOld = hex("03 03 30 03") // pre-54372: no written info
  private val profileInfo = hex("06 03 01 30 00 00 00")
  private val emptyTailBlock = hex(s"01 00 $blockInfo 00 00")
  private val endOfStream = hex("05")

  private val exceptionPacket = hex(
    s"02 3c 00 00 00 ${str("DB::Exception")} ${str("no such table t")} 00 00")

  // ---- unit: byte-exact encode/decode ---------------------------------

  test("client hello bytes match the hand-derived golden vector") {
    val bos = new ByteArrayOutputStream()
    val out = new Output(bos)
    ChTcpProtocol.writeClientHello(out, "default", "default", "")
    out.flush()
    assert(bos.toByteArray === clientHelloGolden)
  }

  test("server hello decodes revision-gated fields; revision negotiates to min") {
    val h = ChTcpProtocol.readServerHello(
      new Input(new ByteArrayInputStream(serverHelloModern)))
    assert(h.name === "ClickHouse" && h.versionMajor === 23 && h.versionMinor === 8)
    assert(h.revision === 54449L && h.timezone === "UTC")
    assert(h.displayName === "golden" && h.versionPatch === 7L)
    assert(h.negotiated === 54449L)

    val old = ChTcpProtocol.readServerHello(
      new Input(new ByteArrayInputStream(serverHelloOld)))
    assert(old.revision === 54058L && old.timezone === "UTC")
    assert(old.displayName === "" && old.versionPatch === 0L)
    assert(old.negotiated === 54058L) // min(54449, 54058)
  }

  test("query packet bytes match the golden vectors at both revisions") {
    def enc(negotiated: Long): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new Output(bos)
      ChTcpProtocol.writeQuery(out, "SELECT 1", negotiated)
      out.flush()
      bos.toByteArray
    }
    assert(enc(54449L) === queryGoldenModern)
    assert(enc(54058L) === queryGoldenOld)
  }

  test("server exception packet raises with code and message") {
    val in = new Input(new ByteArrayInputStream(exceptionPacket.drop(1)))
    val e = ChTcpProtocol.readException(in)
    assert(e.getMessage.contains("code=60"))
    assert(e.getMessage.contains("DB::Exception"))
    assert(e.getMessage.contains("no such table t"))
  }

  // ---- end-to-end: scripted loopback server ---------------------------

  /** Self-signed localhost keystore for the TLS loopback rig (lazy:
    * generated once per test run via the JDK's own keytool). */
  private lazy val tlsKeystore: (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tls").toString
    val path = s"$dir/server.p12"
    val pw = "changeit"
    val keytool = s"${System.getProperty("java.home")}/bin/keytool"
    val cmd = Array(keytool, "-genkeypair", "-alias", "graft-test",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-dname", "CN=localhost", "-ext", "SAN=ip:127.0.0.1",
      "-keystore", path, "-storetype", "PKCS12",
      "-storepass", pw, "-keypass", pw)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val outTxt = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"keytool failed: $outTxt")
    (path, pw)
  }

  private def sslServerSocket(): ServerSocket = {
    val (path, pw) = tlsKeystore
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(path)
    try ks.load(in, pw.toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pw.toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, new java.security.SecureRandom())
    ctx.getServerSocketFactory.createServerSocket(
      0, 8, java.net.InetAddress.getLoopbackAddress)
  }

  /**
   * Serve connections until `body` returns; each reads the expected
   * client bytes (asserting byte equality) and replies with the
   * scripted packets. Mid-script client disconnects (the schema probe
   * closes after the header block) are expected and swallowed.
   * Returns the number of connections accepted.
   */
  private def withScriptedServer(expectHello: Array[Byte], sendHello: Array[Byte],
      expectQuery: Array[Byte], response: Array[Byte], tls: Boolean = false)(
      body: Int => Unit): Int = {
    val server =
      if (tls) sslServerSocket()
      else new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
    val mismatches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val accepts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var closed = false
    val acceptor = new Thread(() => {
      while (!closed) {
        try {
          val s = server.accept()
          accepts.incrementAndGet()
          try {
            s.setSoTimeout(20000)
            val in = s.getInputStream
            val out = s.getOutputStream
            def readExact(n: Int): Array[Byte] = {
              val buf = new Array[Byte](n)
              var off = 0
              while (off < n) {
                val r = in.read(buf, off, n - off)
                if (r < 0) throw new java.io.EOFException()
                off += r
              }
              buf
            }
            val gotHello = readExact(expectHello.length)
            if (!java.util.Arrays.equals(gotHello, expectHello))
              mismatches.add("hello bytes diverge from golden")
            out.write(sendHello); out.flush()
            val gotQuery = readExact(expectQuery.length)
            if (!java.util.Arrays.equals(gotQuery, expectQuery))
              mismatches.add("query bytes diverge from golden")
            out.write(response); out.flush()
          } catch {
            case _: java.io.IOException => // client hung up mid-script: fine
          } finally s.close()
        } catch {
          case _: java.io.IOException => // server socket closed: exit
        }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try body(server.getLocalPort)
    finally {
      closed = true
      server.close()
      assert(mismatches.isEmpty, mismatches.toString)
    }
    accepts.get()
  }

  test("transport=tcp end-to-end: handshake, framing, schema, rows") {
    val response = headerBlock ++ progressModern ++ dataBlock ++
      profileInfo ++ emptyTailBlock ++ endOfStream
    val accepted = withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, response) { port =>
      val df = spark.read.format("clickhouse_remote")
        .option("transport", "tcp")
        .option("url", s"tcp://127.0.0.1:$port")
        .option("query", "SELECT 1")
        .load()
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) ===
        Seq("id" -> "bigint", "name" -> "string"))
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows === Seq((1L, "aa"), (2L, "bb"), (3L, "cc")))
    }
    // the driver's schema probe and the executor's scan dial separately
    // (connection per partition); the golden query bytes pin the text
    assert(accepted >= 2, s"accepted $accepted connection(s)")
  }

  test("abandoning a tcp stream mid-query sends a Cancel packet") {
    // the schema-probe shape: read the header block, then close with
    // the server still mid-stream — the client must tell the server to
    // stop (ClientPacket.Cancel = 3) instead of silently dropping the
    // socket and leaving the query running
    val server = new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
    @volatile var afterClose = -2 // -2 = never read
    val done = new java.util.concurrent.CountDownLatch(1)
    val acceptor = new Thread(() => {
      try {
        val s = server.accept()
        try {
          s.setSoTimeout(20000)
          val in = s.getInputStream
          val out = s.getOutputStream
          def readExact(n: Int): Unit = {
            var off = 0
            val buf = new Array[Byte](n)
            while (off < n) {
              val r = in.read(buf, off, n - off)
              if (r < 0) throw new java.io.EOFException()
              off += r
            }
          }
          readExact(clientHelloGolden.length)
          out.write(serverHelloModern); out.flush()
          readExact(queryGoldenModern.length)
          out.write(headerBlock); out.flush() // rowless schema block only
          // ... server "keeps computing": next byte from the client is
          // either the Cancel code or EOF (plain close)
          afterClose = in.read()
        } finally s.close()
      } catch { case _: Throwable => () } finally done.countDown()
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val client = ChTcpClient.connect("127.0.0.1", server.getLocalPort,
        "default", "", "default", 20000)
      val src = client.execute("SELECT 1", None)
      assert(src.nextBlock().isDefined) // the header block arrived
      src.close() // mid-stream abandon
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(afterClose === ChTcpProtocol.ClientPacket.Cancel.toInt,
        s"expected Cancel (3) after mid-stream close, server saw $afterClose")
    } finally server.close()
  }

  test("transport=tcp negotiates down to an older server revision") {
    val response = headerBlock ++ progressOld ++ dataBlock ++ endOfStream
    withScriptedServer(clientHelloGolden, serverHelloOld,
      queryGoldenOld, response) { port =>
      val rows = spark.read.format("clickhouse_remote")
        .option("transport", "tcp")
        .option("url", s"tcp://127.0.0.1:$port")
        .option("query", "SELECT 1")
        .load()
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows === Seq((1L, "aa"), (2L, "bb"), (3L, "cc")))
    }
  }

  test("transport=tcp with negotiated compression: framed block bodies end-to-end") {
    // frame layer = the same CityHash128-checksummed LZ4 frames the
    // file format uses (anchored by CityHash vectors + roundtrip fuzz
    // in NativeCompressionSpec); here the composition with packet
    // framing is what's under test: packet code + table name stay
    // clear, each block body is its own frame window
    def frame(body: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val f = new graft.sources.native.FrameOutputStream(
        bos, graft.sources.native.NativeCompression.MethodLZ4)
      f.write(body)
      f.endFrame()
      bos.toByteArray
    }
    val headerBody = hex(
      s"$blockInfo 02 00 ${str("id")} ${str("Int64")} ${str("name")} ${str("String")}")
    val dataBody = hex(
      s"$blockInfo 02 03 ${str("id")} ${str("Int64")}" +
        " 01 00 00 00 00 00 00 00 02 00 00 00 00 00 00 00 03 00 00 00 00 00 00 00" +
        s" ${str("name")} ${str("String")} ${str("aa")} ${str("bb")} ${str("cc")}")
    val response = hex("01 00") ++ frame(headerBody) ++ progressModern ++
      hex("01 00") ++ frame(dataBody) ++ endOfStream
    // query golden: compression varint flips to 1 and the trailing
    // empty external-tables block body rides in a frame
    val queryCompressed = {
      val prefix = queryGoldenModern.dropRight(hex(s"02 00 $blockInfo 00 00").length)
      // compression byte sits before the 9-byte query string (len + "SELECT 1")
      prefix.updated(prefix.length - 10, 1.toByte) ++
        hex("02 00") ++ frame(hex(s"$blockInfo 00 00"))
    }
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryCompressed, response) { port =>
      val rows = spark.read.format("clickhouse_remote")
        .option("transport", "tcp")
        .option("url", s"tcp://127.0.0.1:$port")
        .option("compression", "true")
        .option("query", "SELECT 1")
        .load()
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows === Seq((1L, "aa"), (2L, "bb"), (3L, "cc")))
    }
  }

  test("transport=tcp over TLS: same protocol through an SSL session") {
    // the protocol is transport-layer-agnostic; what this pins is the
    // TLS plumbing — handshake over the layered socket, truststore
    // loading, and the secure/sslTruststore option surface (the
    // reference's CLICKHOUSE_SECURE). Server cert is a fresh
    // self-signed CN=localhost generated by the JDK's keytool; the
    // client trusts it via the sslTruststore option (the keystore
    // doubles as a truststore since it holds the cert) — NOT via
    // insecure-skip-verify, so the trust path is exercised too.
    val response = headerBlock ++ progressModern ++ dataBlock ++
      profileInfo ++ emptyTailBlock ++ endOfStream
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, response, tls = true) { port =>
      val (tsPath, tsPw) = tlsKeystore
      val rows = spark.read.format("clickhouse_remote")
        .option("transport", "tcp")
        .option("url", s"tcp://127.0.0.1:$port")
        .option("secure", "true")
        .option("sslTruststore", tsPath)
        .option("sslTruststorePassword", tsPw)
        .option("query", "SELECT 1")
        .load()
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows === Seq((1L, "aa"), (2L, "bb"), (3L, "cc")))
    }
  }

  test("transport=tcp TLS rejects an untrusted certificate by default") {
    val response = headerBlock ++ endOfStream
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, response, tls = true) { port =>
      val e = intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("transport", "tcp")
          .option("url", s"tcp://127.0.0.1:$port")
          .option("secure", "true") // JVM default trust: self-signed must fail
          .option("query", "SELECT 1")
          .load()
          .collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.isInstanceOf[javax.net.ssl.SSLHandshakeException] ||
          c.isInstanceOf[java.security.cert.CertificateException]), e.toString)
    }
  }

  test("corrupt or truncated server streams fail cleanly, never hang or OOM") {
    // truncated mid-block → EOF, not a hang
    val truncated = headerBlock.take(headerBlock.length / 2)
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, truncated) { port =>
      val e = intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("transport", "tcp").option("url", s"tcp://127.0.0.1:$port")
          .option("timeoutMs", "15000").option("query", "SELECT 1").load().collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.isInstanceOf[java.io.EOFException] ||
        c.isInstanceOf[java.io.IOException]), e.toString)
    }
    // unknown packet code → named protocol error
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, hex("63") ++ endOfStream) { port =>
      val e = intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("transport", "tcp").option("url", s"tcp://127.0.0.1:$port")
          .option("query", "SELECT 1").load().collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("unexpected server packet")), e.toString)
    }
    // implausible column count (varint 2^40) → clean error, no OOM
    val bogusBlock = hex(s"01 00 $blockInfo") ++
      hex("80 80 80 80 80 20") ++ hex("00") // nCols = 2^40, nRows = 0
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, bogusBlock ++ endOfStream) { port =>
      val e = intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("transport", "tcp").option("url", s"tcp://127.0.0.1:$port")
          .option("query", "SELECT 1").load().collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("implausible column count")), e.toString)
    }
  }

  test("the tcp schema probe sizes nothing from a hostile header row count") {
    // a first Data block declaring MaxBlockRows rows of two UInt64
    // columns, then the stream ends: decoding the first column would
    // size a 100M-slot array before reading any value
    val rows = new ByteArrayOutputStream()
    val out = new Output(rows)
    out.writeVarUInt(graft.sources.native.NativeBlockReader.MaxBlockRows)
    out.flush()
    val hostile = hex(s"01 00 $blockInfo 02") ++ rows.toByteArray ++
      hex(s"${str("a")} ${str("UInt64")}")
    spark // session start-up allocates on this thread: not the probe's
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, hostile) { port =>
      val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("transport", "tcp", "url", s"tcp://127.0.0.1:$port", "query", "SELECT 1"))
      val before = threads.getThreadAllocatedBytes(tid)
      val e = intercept[java.io.IOException](new ClickHouseRemoteDataSource().inferSchema(options))
      val allocated = threads.getThreadAllocatedBytes(tid) - before
      assert(allocated < (64L << 20), s"schema probe allocated $allocated bytes")
      assert(e.getMessage.contains(s"schema probe of tcp://127.0.0.1:$port failed"), e.getMessage)
    }
  }

  test("a column name declaring ~2 GiB fails naming the url, never allocating ahead of its bytes") {
    val len = new ByteArrayOutputStream()
    val out = new Output(len)
    out.writeVarUInt(Int.MaxValue.toLong - 8)
    out.flush()
    // a Data block of one column whose name claims ~2 GiB; 4 bytes, then the stream ends
    val hostile = hex(s"01 00 $blockInfo 01 00") ++ len.toByteArray ++ hex("61 62 63 64")
    spark // session start-up allocates on this thread: not the probe's
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, hostile) { port =>
      val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("transport", "tcp", "url", s"tcp://127.0.0.1:$port", "query", "SELECT 1"))
      val before = threads.getThreadAllocatedBytes(tid)
      val e = intercept[java.io.IOException](new ClickHouseRemoteDataSource().inferSchema(options))
      val allocated = threads.getThreadAllocatedBytes(tid) - before
      assert(allocated < (64L << 20), s"schema probe allocated $allocated bytes")
      assert(e.getMessage.contains(s"schema probe of tcp://127.0.0.1:$port failed"), e.getMessage)
    }
  }

  test("transport=tcp surfaces a server exception with code and message") {
    withScriptedServer(clientHelloGolden, serverHelloModern,
      queryGoldenModern, exceptionPacket) { port =>
      val e = intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("transport", "tcp")
          .option("url", s"tcp://127.0.0.1:$port")
          .option("query", "SELECT 1")
          .load()
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("code=60") && m.contains("no such table t")))
    }
  }
}
