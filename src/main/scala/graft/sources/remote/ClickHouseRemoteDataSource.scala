package graft.sources.remote

import java.io.InputStream
import java.util

import scala.jdk.CollectionConverters._

import graft.sources.native.{BatchPartitionReader, BatchRowReader, BatchSource, ChType, ColumnarDecoder,
  NativeBlockReader, NativeIO, SerializableHadoopConf}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * `clickhouse_remote` — the Spark re-expression of the reference's
 * `clickhouse_scan(query [, url, user, password])` table function
 * (reference src/clickhouse_scan.rs:47-260): ship a SQL string to a
 * ClickHouse server, stream the Native-block result back as a table.
 *
 *   spark.read.format("clickhouse_remote")
 *     .option("query", "SELECT ...")
 *     .option("url", "tcp://host:9000")       // or CLICKHOUSE_URL env
 *     .load()
 *
 * Pushdown is total by construction, exactly like the reference: the
 * query string executes verbatim on the server
 * (src/clickhouse_scan.rs:78,131); Spark-side operators apply on top.
 *
 * Two transports:
 *  - `transport=file` — a recorded-response double: reads the Native
 *    byte stream a server would have sent from `responsePath`. This is
 *    what the offline harness exercises (there is no server in CI —
 *    the reference's own remote test is commented out for the same
 *    reason, test/sql/chsql_native.test:22-27).
 *  - `transport=tcp` (the default) — the real ClickHouse native TCP
 *    protocol, `url` = `tcp://host:port` or bare `host:port`:
 *    hello handshake, protocol revision negotiation, Query packet
 *    with client info, and the server packet stream (Data / Progress /
 *    ProfileInfo / Log / Totals / Extremes / Exception / EndOfStream)
 *    — [[ChTcpProtocol]]. Validated against hand-derived golden byte
 *    vectors and a recorded loopback session (ChTcpProtocolSpec); a
 *    live-server run needs an environment with egress. TLS (the
 *    reference's `CLICKHOUSE_SECURE`, README.md:18-23) is supported:
 *    `secure=true` (or `CLICKHOUSE_SECURE`) enables it, with trust from
 *    the JVM default store, an explicit `sslTruststore`/
 *    `sslTruststorePassword` (PKCS12/JKS), or
 *    `sslInsecureSkipVerify=true` for self-signed lab rigs; endpoint
 *    identity is verified by default ([[ChTcpClient.Tls]]).
 * Any other transport, or a url scheme other than `tcp://`, fails
 * with an IllegalArgumentException naming it.
 *
 * Unlike the reference — which runs the remote query TWICE (bind and
 * init, src/clickhouse_scan.rs:78,126-131) and stringifies every cell
 * into Vec<Vec<String>> then re-parses ints with a silent `0` fallback
 * (:218-227) — schema inference here reads only the first block
 * header, and values decode binary → Catalyst exactly once.
 */
class ClickHouseRemoteDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "clickhouse_remote"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spec = TransportSpec.fromOptions(options)
    StructType(spec.header().map { case (name, t) =>
      StructField(name, t.sparkType, nullable = ChType.isNullable(t))
    })
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RemoteTable(schema, TransportSpec.fromOptions(new CaseInsensitiveStringMap(properties)))
}

/**
 * Serializable description of how to reach the "server" — shipped to
 * executors, which open their own stream (the analogue of the
 * reference's executor-side second fetch, made streaming).
 */
final case class TransportSpec(
    transport: String,
    query: String,
    url: String,
    responsePath: String,
    conf: SerializableHadoopConf,
    timeoutMs: Int = 30000,
    user: String = "default",
    password: String = "",
    database: String = "default",
    compression: Boolean = false,
    tls: ChTcpClient.Tls = ChTcpClient.Tls()) extends Serializable {

  /** host:port from the url (`tcp://` prefix optional; IPv6 literals
    * in brackets, e.g. tcp://[::1]:9000). Any other scheme is refused. */
  private def hostPort: (String, Int) = {
    val hp = url.stripPrefix("tcp://")
    if (hp.contains("://")) throw new IllegalArgumentException(
      s"clickhouse_remote: unsupported url scheme in '$url' — expected tcp://host:port")
    hp.lastIndexOf(':') match {
      case -1 => throw new IllegalArgumentException(
        s"clickhouse_remote transport=tcp: url must be host:port, got '$url'")
      case i =>
        val host = hp.substring(0, i).stripPrefix("[").stripSuffix("]")
        (host, hp.substring(i + 1).toInt)
    }
  }

  /**
   * The remote result as a stream of Native blocks, however carried.
   * A file is a raw block byte stream; tcp interleaves blocks with
   * protocol packets, so the seam is block-level.
   */
  def openSource(): RemoteBlockSource = transport match {
    case "tcp" => openTcp()
    case _ =>
      val reader = new NativeBlockReader(openResponse())
      new RemoteBlockSource {
        override def nextBlock(): Option[graft.sources.native.NativeBlock] =
          if (reader.hasNext) Some(reader.next()) else None
        override def nextBatch(decoder: ColumnarDecoder): ColumnarBatch = reader.nextBatch(decoder)
        override def close(): Unit = reader.close()
      }
  }

  private def openTcp(): ChTcpClient#ResultStream = {
    val (host, port) = hostPort
    ChTcpClient.connect(host, port, user, password, database, timeoutMs, tls)
      .execute(query, None, compress = compression)
  }

  /** Bind-time schema: first block's per-column (name, type) headers,
    * values skipped and never decoded, so a hostile row count sizes
    * nothing. On tcp the server sends the rowless header block before
    * result rows, so the probe reads one packet and then CANCELS the
    * query (the source's close sends ClientPacket.Cancel when
    * abandoning mid-stream) — the server stops computing instead of
    * running the probe to completion against a dead connection. */
  def header(): Seq[(String, ChType)] = transport match {
    case "tcp" =>
      val src = openTcp()
      try src.nextHeader().getOrElse(Seq.empty)
      catch {
        case e: java.io.IOException => throw new java.io.IOException(
          s"clickhouse_remote: schema probe of $url failed: ${e.getMessage}", e)
      } finally src.close()
    case _ =>
      val stream = openResponse()
      try NativeBlockReader.readHeader(stream) finally stream.close()
  }

  /** transport=file: the recorded response, decompressing if framed. */
  private def openResponse(): InputStream = {
    require(responsePath.nonEmpty,
      "clickhouse_remote with transport=file requires option responsePath")
    val p = new Path(responsePath)
    graft.sources.native.NativeCompression.maybeWrapRead(p.getFileSystem(conf.value).open(p), null)
  }
}

/**
 * One open stream of Native blocks from the remote, however carried:
 * boxed blocks through [[nextBlock]] (its projection), or typed
 * batches through [[nextBatch]] (the decoder's schema) — the path
 * Spark scans take. Use one or the other on a source.
 */
trait RemoteBlockSource extends BatchSource {
  /** The next block (zero-row header blocks included), or None at end. */
  def nextBlock(): Option[graft.sources.native.NativeBlock]
}

object TransportSpec {
  def fromOptions(options: CaseInsensitiveStringMap): TransportSpec = TransportSpec(
    transport = Option(options.get("transport")).getOrElse("tcp") match {
      case t @ ("tcp" | "file") => t
      case other => throw new IllegalArgumentException(
        s"clickhouse_remote: unknown transport '$other' — expected tcp or file")
    },
    query = Option(options.get("query")).getOrElse(
      throw new IllegalArgumentException("clickhouse_remote requires option 'query'")),
    // env fallbacks mirror the reference (src/clickhouse_scan.rs:59-71,
    // README.md:18-23: CLICKHOUSE_URL / CLICKHOUSE_USER / CLICKHOUSE_PASSWORD)
    url = Option(options.get("url"))
      .orElse(sys.env.get("CLICKHOUSE_URL")).getOrElse("tcp://localhost:9000"),
    responsePath = Option(options.get("responsePath")).getOrElse(""),
    conf = new SerializableHadoopConf(NativeIO.sessionHadoopConf()),
    timeoutMs = Option(options.get("timeoutMs")).map(_.toInt).getOrElse(30000),
    user = Option(options.get("user"))
      .orElse(sys.env.get("CLICKHOUSE_USER")).getOrElse("default"),
    password = Option(options.get("password"))
      .orElse(sys.env.get("CLICKHOUSE_PASSWORD")).getOrElse(""),
    database = Option(options.get("database"))
      .orElse(sys.env.get("CLICKHOUSE_DATABASE")).getOrElse("default"),
    // tcp only: negotiate ClickHouse compressed frames for block bodies
    compression = Option(options.get("compression")).exists(_.toBoolean),
    // tcp only: TLS (the reference's CLICKHOUSE_SECURE, README.md:18-23)
    tls = ChTcpClient.Tls(
      enabled = Option(options.get("secure"))
        .orElse(sys.env.get("CLICKHOUSE_SECURE")).exists(_.toBoolean),
      truststorePath = Option(options.get("sslTruststore")).getOrElse(""),
      truststorePassword = Option(options.get("sslTruststorePassword")).getOrElse(""),
      insecureSkipVerify =
        Option(options.get("sslInsecureSkipVerify")).exists(_.toBoolean)))
}

private[remote] class RemoteTable(tableSchema: StructType, spec: TransportSpec)
    extends Table with SupportsRead {
  override def name(): String = s"clickhouse_remote(${spec.query.take(80)})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new RemoteScan(required, spec)
    }
}

private[remote] class RemoteScan(required: StructType, spec: TransportSpec)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"clickhouse_remote query=[${spec.query.take(80)}]"

  // One remote result = one stream = one partition (same shape as the
  // reference's single init-state scan, src/clickhouse_scan.rs:122-188).
  override def planInputPartitions(): Array[InputPartition] =
    Array(RemotePartition(spec))

  override def createReaderFactory(): PartitionReaderFactory =
    new RemoteReaderFactory(required)
}

private[remote] class RemoteReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** Executor-side: open the transport, decode blocks into batches. */
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val spec = partition.asInstanceOf[RemotePartition].spec
    new BatchPartitionReader(required, -1, None)(spec.openSource())
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BatchRowReader(createColumnarReader(partition))
}

private[remote] case class RemotePartition(spec: TransportSpec) extends InputPartition
