package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.native.ChType._
import graft.sources.native.NativeCodec.Output
import graft.sources.remote.ChTcpProtocol

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * The typed decoder ([[ColumnarDecoder]]) against the boxed reference
 * ([[ColumnCodec.decode]]): the same bytes must give the same Catalyst
 * values for every type the property generators cover, plus the edge
 * cases — -0.0 and NaN, NUL and non-ASCII strings (the sanitize path),
 * DateTime64 beyond micros, Decimal32/64/128, nullable containers and
 * LowCardinality(Nullable(String)). First decoder against decoder,
 * then through Spark scans of plain and lz4 files (whole and split,
 * with and without a limit) and over `clickhouse_remote` tcp.
 */
class TypedDecodeSpec extends AnyFunSuite {
  import ChTypeGen._
  import TypedDecodeSpec._

  private lazy val spark = SparkTestBase.spark

  test("typed decode equals the boxed reference, block by block (400 cases, seeded)") {
    val rnd = new scala.util.Random(20261017)
    (1 to 400).foreach { caseNo =>
      val types = Array.fill(1 + rnd.nextInt(4))(anyType(rnd))
      val blocks = Seq.fill(1 + rnd.nextInt(3))(randomBlock(types, rnd.nextInt(50), rnd))
      checkDecoders(blocks, s"case $caseNo (${types.map(_.name).mkString(", ")})")
    }
  }

  test("one reused decoder: a column alternating LowCardinality and plain String") {
    val rnd = new scala.util.Random(3)
    val blocks = Seq(ChLowCardinality(ChString), ChString, ChLowCardinality(ChNullable(ChString)),
      ChString).map(t => randomBlock(Array(t, ChInt64), 1 + rnd.nextInt(30), rnd))
    checkDecoders(blocks, "alternating")
  }

  test("blocks above the initial vector capacity grow the vectors and still agree") {
    val rnd = new scala.util.Random(11)
    val types = Array[ChType](ChInt64, ChString, ChNullable(ChFloat64), ChArray(ChInt32),
      ChLowCardinality(ChNullable(ChString)), ChDecimal(38, 6))
    checkDecoders(Seq(randomBlock(types, 70000, rnd), randomBlock(types, 17, rnd)), "large")
  }

  test("Spark scans equal the boxed reference: plain and lz4, whole and split, limit, tcp") {
    val rnd = new scala.util.Random(5)
    (1 to 6).foreach { caseNo =>
      val types = Array.fill(2 + rnd.nextInt(3))(
        if (rnd.nextBoolean()) extraTypes(rnd.nextInt(extraTypes.length)) else randomType(rnd))
      val rows = 1 + rnd.nextInt(400)
      val cuts = (0 +: Seq.fill(rnd.nextInt(4))(rnd.nextInt(rows)) :+ rows).distinct.sorted
      val blocks = cuts.zip(cuts.tail).map { case (a, b) => randomBlock(types, b - a, rnd) }
      val dts = types.map(_.sparkType).toSeq
      val expected = reference(blocks)
      val k = 1 + rnd.nextInt(rows)
      val what = s"case $caseNo (${types.map(_.name).mkString(", ")})"
      Seq("none", "lz4").foreach { codec =>
        val dir = writeIndexed(blocks, codec)
        val df = spark.read.format("clickhouse_native").load(dir)
        assert(df.schema.map(_.dataType) === dts, what)
        assert(rendered(df) === expected, s"$what $codec whole file")
        assert(rendered(df.limit(k)) === expected.take(k), s"$what $codec limit $k")
        SparkTestBase.withSQLConf("spark.sql.files.maxPartitionBytes" -> "1") {
          val split = spark.read.format("clickhouse_native").load(dir)
          assert(split.rdd.getNumPartitions === blocks.length, s"$what $codec")
          assert(rendered(split) === expected, s"$what $codec split")
          assert(rendered(split.limit(k)) === expected.take(k), s"$what $codec split limit $k")
        }
      }
      withReplayServer(blocks) { port =>
        val remote = spark.read.format("clickhouse_remote").option("transport", "tcp")
          .option("url", s"tcp://127.0.0.1:$port").option("query", "SELECT *").load()
        assert(remote.schema.map(_.dataType) === dts, what)
        assert(rendered(remote) === expected, s"$what tcp")
        assert(rendered(remote.limit(k)) === expected.take(k), s"$what tcp limit $k")
      }
    }
  }

  /** Decode `blocks` with both decoders — one reused [[ColumnarDecoder]]
    * for all blocks — and compare every cell. */
  private def checkDecoders(blocks: Seq[Block], what: String): Unit = {
    val bytes = fileBytes(blocks)
    val boxed = new NativeBlockReader(new ByteArrayInputStream(bytes)).toVector
    val typed = new NativeBlockReader(new ByteArrayInputStream(bytes))
    val dts = blocks.head.cols.map(_.t.sparkType)
    val decoder = new ColumnarDecoder(schemaOf(blocks.head))
    assert(boxed.length === blocks.count(_.rows > 0), what)
    boxed.zipWithIndex.foreach { case (b, bi) =>
      val batch = typed.nextBatch(decoder)
      assert(batch.numRows === b.numRows, what)
      (0 until b.numRows).foreach { r =>
        val row = batch.getRow(r)
        dts.indices.foreach { c =>
          val got = if (row.isNullAt(c)) null else row.get(c, dts(c))
          assert(render(got, dts(c)) === render(b.columns(c).values(r), dts(c)),
            s"$what block $bi row $r col $c")
        }
      }
    }
    assert(typed.nextBatch(decoder) === null, what)
  }

  /** Rows of the boxed reference decode of `blocks`, rendered. */
  private def reference(blocks: Seq[Block]): Seq[String] = {
    val dts = blocks.head.cols.map(_.t.sparkType)
    new NativeBlockReader(new ByteArrayInputStream(fileBytes(blocks))).flatMap { b =>
      (0 until b.numRows).map(r => dts.indices.map(c => render(b.columns(c).values(r), dts(c)))
        .mkString("|"))
    }.toVector
  }

  /** Collected in partition order, as Catalyst rows. */
  private def rendered(df: DataFrame): Seq[String] = {
    val dts = df.schema.map(_.dataType)
    df.queryExecution.executedPlan.executeCollect().map { r =>
      dts.indices.map(c => render(if (r.isNullAt(c)) null else r.get(c, dts(c)), dts(c)))
        .mkString("|")
    }.toSeq
  }

  /** One indexed data file (writer offsets in a `.chidx` sidecar). */
  private def writeIndexed(blocks: Seq[Block], codec: String): String = {
    val dir = Files.createTempDirectory("graft-typed").toString
    val file = new java.io.File(dir, "part-00000.clickhouse")
    val w = new NativeBlockWriter(new java.io.FileOutputStream(file), codec)
    val entries = blocks.map { b =>
      val at = w.position
      w.writeBlock(NativeBlock(b.cols.zipWithIndex.map { case (c, i) =>
        NativeColumn(s"c$i", c.t, c.values) }.toArray, b.rows))
      NativeIndex.BlockEntry(at, b.rows.toLong)
    }
    w.close()
    val path = new Path(file.toURI)
    NativeIndex.write(path.getFileSystem(spark.sessionState.newHadoopConf()), path, entries,
      file.length(), Map("compression" -> codec))
    dir
  }
}

object TypedDecodeSpec {
  import ChTypeGen._

  final case class Col(t: ChType, values: Array[Any])
  final case class Block(cols: Array[Col], rows: Int)

  /** Read-side types beyond RoundtripPropertySpec's generators. */
  val extraTypes: Array[ChType] = Array(
    ChUInt32, ChDateTime(None), ChDateTime(Some("UTC")), ChDateTime64(9, None),
    ChDateTime64(3, Some("UTC")), ChUuid, ChIPv4, ChIPv6, ChDecimal(4, 4), ChDecimal(10, 10),
    ChNullable(ChFloat32), ChNullable(ChFloat64), ChNullable(ChDecimal(38, 6)),
    ChArray(ChNullable(ChInt64)), ChArray(ChNullable(ChString)), ChArray(ChArray(ChFloat32)),
    ChArray(ChLowCardinality(ChString)), ChLowCardinality(ChNullable(ChString)),
    ChLowCardinality(ChInt64), ChLowCardinality(ChNullable(ChFloat64)),
    ChMap(ChString, ChNullable(ChFloat64)), ChMap(ChString, ChArray(ChString)),
    ChTuple(Seq(Some("d") -> ChDecimal(38, 10), Some("t") -> ChDateTime64(9, None),
      None -> ChArray(ChNullable(ChInt8)))),
    ChArray(ChTuple(Seq(Some("a") -> ChString, Some("b") -> ChNullable(ChFloat32)))))

  /** Types the writer cannot encode: random raw bytes are valid values. */
  val rawTypes: Array[ChType] = Array("Int128", "UInt128", "Int256", "UInt256", "Decimal(50, 5)")
    .map(ChType.parse)

  def anyType(rnd: scala.util.Random): ChType = rnd.nextInt(4) match {
    case 0 | 1 => extraTypes(rnd.nextInt(extraTypes.length))
    case 2 => rawTypes(rnd.nextInt(rawTypes.length))
    case _ => randomType(rnd)
  }

  private val floats = Array(-0.0f, 0.0f, Float.NaN, Float.PositiveInfinity,
    Float.NegativeInfinity, Float.MinPositiveValue, Float.MaxValue)
  private val doubles = Array(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue)
  private val strings: Array[UTF8String] =
    Array("", "é", "日本語", "a\u0000b", "\u0000", "🙂x", "\uFFFDz", "tab\tnl\n")
      .map(UTF8String.fromString) ++
      Array(Array(0xff, 0xfe, 'a'), Array('x', 0xc3), Array(0xe6, 0x97, 0xa5, 0))
        .map(b => UTF8String.fromBytes(b.map(_.toByte)))

  /** Edge values mixed into the generators a third of the time. */
  private def edge(t: ChType, rnd: scala.util.Random): Option[Any] = t match {
    case ChFloat32 if rnd.nextInt(3) == 0 => Some(java.lang.Float.valueOf(floats(rnd.nextInt(floats.length))))
    case ChFloat64 if rnd.nextInt(3) == 0 => Some(java.lang.Double.valueOf(doubles(rnd.nextInt(doubles.length))))
    case ChString if rnd.nextInt(3) == 0 => Some(strings(rnd.nextInt(strings.length)))
    case ChFixedString(n) if n >= 3 && rnd.nextInt(3) == 0 => Some(UTF8String.fromString("é€"))
    case d: ChDecimal if rnd.nextInt(5) == 0 => // the extremes of the precision
      val max = java.math.BigInteger.TEN.pow(d.precision).subtract(java.math.BigInteger.ONE)
      val unscaled = if (rnd.nextBoolean()) max else max.negate()
      Some(org.apache.spark.sql.types.Decimal(
        BigDecimal(new java.math.BigDecimal(unscaled, d.scale)), d.precision, d.scale))
    case _ => None
  }

  def randomBlock(types: Array[ChType], rows: Int, rnd: scala.util.Random): Block =
    Block(types.map { t =>
      Col(t, Array.fill[Any](rows)(t match {
        case ChBigInt(_, w, _) => Array.fill(w)(rnd.nextInt(256).toByte)
        case ChWideDecimal(_, w, _) => Array.fill(w)(rnd.nextInt(256).toByte)
        case _ => randomValue(t, rnd, edge)
      }))
    }, rows)

  def schemaOf(b: Block): StructType = StructType(b.cols.zipWithIndex.map { case (c, i) =>
    StructField(s"c$i", c.t.sparkType, nullable = true)
  })

  /** A Native file of `blocks` (raw-typed columns as their bytes). */
  def fileBytes(blocks: Seq[Block]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new Output(bos)
    blocks.filter(_.rows > 0).foreach(b => writeBlockBody(out, b))
    out.flush()
    bos.toByteArray
  }

  private def writeBlockBody(out: Output, b: Block): Unit = {
    out.writeVarUInt(b.cols.length.toLong)
    out.writeVarUInt(b.rows.toLong)
    b.cols.zipWithIndex.foreach { case (c, i) =>
      out.writeString(s"c$i")
      out.writeString(c.t.name)
      c.t match {
        case _: ChBigInt | _: ChWideDecimal => c.values.foreach(v => out.writeBytes(v.asInstanceOf[Array[Byte]]))
        case t => ColumnCodec.encode(out, t, c.values)
      }
    }
  }

  /**
   * Catalyst value → comparable text, by type, for boxed values
   * (GenericArrayData, ArrayBasedMapData, GenericInternalRow) and
   * vector-backed ones (ColumnarArray, ColumnarMap, ColumnarRow) alike.
   * Floats compare by canonical bits: -0.0 differs from 0.0, NaN equals NaN.
   */
  def render(v: Any, dt: DataType): String = v match {
    case null => "∅"
    case a: ArrayData =>
      val et = dt.asInstanceOf[ArrayType].elementType
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) "∅" else render(a.get(i, et), et))
        .mkString("[", ",", "]")
    case m: MapData =>
      val mt = dt.asInstanceOf[MapType]
      render(m.keyArray(), ArrayType(mt.keyType)) + "→" + render(m.valueArray(), ArrayType(mt.valueType))
    case r: InternalRow =>
      val st = dt.asInstanceOf[StructType]
      st.fields.indices.map { i =>
        if (r.isNullAt(i)) "∅" else render(r.get(i, st(i).dataType), st(i).dataType)
      }.mkString("(", ",", ")")
    case f: java.lang.Float => "f" + java.lang.Float.floatToIntBits(f)
    case d: java.lang.Double => "d" + java.lang.Double.doubleToLongBits(d)
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal.toPlainString
    case u: UTF8String => u.getBytes.mkString("s[", ",", "]")
    case other => other.toString
  }

  /**
   * A loopback ClickHouse native-protocol server that answers every
   * connection with a rowless header block, then `blocks` as Data
   * packets, then EndOfStream — what the tcp transport reads.
   */
  def withReplayServer[A](blocks: Seq[Block])(body: Int => A): A = {
    import ChTcpProtocol._
    val bos = new ByteArrayOutputStream()
    val out = new Output(bos)
    out.writeVarUInt(ServerPacket.Hello)
    out.writeString("ClickHouse")
    out.writeVarUInt(23L); out.writeVarUInt(8L); out.writeVarUInt(ClientRevision)
    out.writeString("UTC"); out.writeString("replay"); out.writeVarUInt(1L)
    val header = Block(blocks.head.cols.map(c => Col(c.t, Array.empty[Any])), 0)
    (header +: blocks.filter(_.rows > 0)).foreach { b =>
      out.writeVarUInt(ServerPacket.Data)
      out.writeString("")
      writeBlockInfo(out, ClientRevision)
      writeBlockBody(out, b)
    }
    out.writeVarUInt(ServerPacket.EndOfStream)
    out.flush()
    val response = bos.toByteArray
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val acceptor = new Thread(() =>
      try while (true) {
        val s = server.accept()
        val t = new Thread(() =>
          try {
            s.getOutputStream.write(response)
            s.getOutputStream.flush()
            s.getInputStream.transferTo(java.io.OutputStream.nullOutputStream())
          } catch { case _: java.io.IOException => () }
          finally s.close())
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    try body(server.getLocalPort) finally server.close()
  }
}
