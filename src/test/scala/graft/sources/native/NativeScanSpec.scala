package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkTestBase
import graft.sources.native.ChType._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The single typed scan path end to end: Spark's own split sizing, a
 * reader that survives Spark closing it early, the limit counted in
 * rows, and hostile files failing with an `IOException` that names
 * the file — never an OOM, never wrong rows.
 */
class NativeScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-scan-$tag").toString + "/out"
  private def hadoopConf = spark.sessionState.newHadoopConf()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType), StructField("v", DoubleType)))

  /** One indexed part file of `rows` rows (id, name, v): 65536-row blocks. */
  private def writePart(tag: String, rows: Int, codec: String = "none"): (String, java.io.File) = {
    import spark.implicits._
    val dir = tmpDir(tag)
    (1 to rows).map(i => (i.toLong, s"name_$i", i * 0.5)).toDF("id", "name", "v").coalesce(1)
      .write.format("clickhouse_native").option("compression", codec).mode("overwrite").save(dir)
    (dir, new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse")).head)
  }

  private def sidecarOffsets(part: java.io.File): Seq[Long] = {
    val p = new Path(part.toURI)
    NativeIndex.read(p.getFileSystem(hadoopConf), p, part.length()).get.map(_.offset).toSeq
  }

  private def partitionsOf(df: DataFrame): Seq[NativeInputPartition] =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))
      .scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[NativeInputPartition])

  private def rows(df: DataFrame): Seq[(Long, String, Double)] =
    df.queryExecution.executedPlan.executeCollect().toSeq
      .map(r => (r.getLong(0), r.getUTF8String(1).toString, r.getDouble(2)))

  test("knnGraph over a native Array(Float32) scan (Spark ML zips the scan with itself)") {
    val rnd = new scala.util.Random(7)
    val data = new java.util.ArrayList[Row]()
    (0 until 1500).foreach { i =>
      val centre = i % 16
      data.add(Row(i.toLong, Seq.tabulate(32)(d =>
        ((centre * 31 + d) % 7 + 0.1 * rnd.nextGaussian()).toFloat)))
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val dir = tmpDir("knn")
    spark.createDataFrame(data, vecSchema).repartition(4)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val vecs = spark.read.format("clickhouse_native").load(dir)
    val edges = graft.operators.Similarity.knnGraph(vecs, 5, nlist = 16, nprobe = 2)
    // every vector is a query: a reader cut short would lose rows
    assert(edges.select("q_id").distinct().count() === 1500L)
  }

  test("a file above openCostInBytes splits at sidecar offsets and reads the same rows") {
    val (dir, part) = writePart("split", 200000)
    assert(part.length() > 4L * 1024 * 1024, "fixture must exceed the default openCostInBytes")
    val df = spark.read.format("clickhouse_native").load(dir)
    val parts = partitionsOf(df)
    assert(parts.length >= 2, s"default maxPartitionBytes at local[4] should split: $parts")
    val offsets = sidecarOffsets(part)
    assert(parts.map(_.start).forall(offsets.contains), s"$parts vs $offsets")
    assert(parts.map(_.blockCount).sum === offsets.length)
    val unsplit = SparkTestBase.withSQLConf("spark.sql.files.openCostInBytes" -> (1L << 30).toString) {
      val one = spark.read.format("clickhouse_native").load(dir)
      assert(partitionsOf(one).length === 1)
      rows(one)
    }
    assert(rows(df) === unsplit)
    assert(unsplit.length === 200000)
  }

  test("a file below openCostInBytes plans one partition without reading its sidecar") {
    val (dir, _) = writePart("small", 1000)
    val parts = partitionsOf(spark.read.format("clickhouse_native").load(dir))
    assert(parts.length === 1)
    // the sidecar path always yields a block range; -1 = whole file, sidecar unread
    assert(parts.head.blockCount === -1)
  }

  test("a scan lists its files once: statistics, layout, plan and the runtime re-plan share it") {
    import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
    import org.apache.spark.sql.sources.{Filter, GreaterThan}
    val (dir, part) = writePart("listonce", 1000)
    // the same part under two bucket tags: planning reads names and lengths only
    val bucketed = Files.createTempDirectory("graft-scan-listonce-b").toString
    Seq(0, 1).foreach(b => Files.copy(part.toPath,
      new java.io.File(bucketed, NativeBucket.filePrefix(b) + part.getName).toPath))
    val conf = hadoopConf
    conf.set("fs.countglob.impl", classOf[CountGlobFileSystem].getName)
    conf.setBoolean("fs.countglob.impl.disable.cache", true)
    /** globStatus calls made while `use` drives one fresh scan of `d`. */
    def listings(d: String, bucket: Option[(String, Int)])(use: NativeScan => Unit): Int = {
      CountGlobFileSystem.calls.set(0)
      use(new NativeScan(schema, schema, Seq(s"countglob://$d"), -1,
        new SerializableHadoopConf(conf), bucket = bucket))
      CountGlobFileSystem.calls.get
    }
    val plain = listings(dir, None) { scan =>
      assert(scan.estimateStatistics().sizeInBytes().getAsLong === part.length())
      assert(scan.planInputPartitions().length === 1)
      scan.filter(Array[Filter](GreaterThan("id", 500L)))
      assert(scan.planInputPartitions().length === 1)
    }
    assert(plain === 1)
    val keyed = listings(bucketed, Some(("id", 2))) { scan =>
      assert(scan.outputPartitioning().asInstanceOf[KeyGroupedPartitioning].numPartitions() === 2)
      assert(scan.estimateStatistics().sizeInBytes().getAsLong === 2 * part.length())
      def buckets =
        scan.planInputPartitions().map(_.asInstanceOf[NativeInputPartition].bucketId).toSeq
      assert(buckets === Seq(0, 1))
      scan.filter(Array[Filter](GreaterThan("id", 500L)))
      assert(buckets === Seq(0, 1))
    }
    assert(keyed === 1)
  }

  test("a scan reads each sidecar once: statistics, both plans and the runtime re-plan share it") {
    import org.apache.spark.sql.sources.{Filter, GreaterThan, LessThan}
    import spark.implicits._
    val dir = tmpDir("sidecaronce")
    (1 to 4000).map(i => (i.toLong, s"name_$i", i * 0.5)).toDF("id", "name", "v")
      .repartitionByRange(4, $"id").write.format("clickhouse_native").mode("overwrite").save(dir)
    val conf = hadoopConf
    conf.set("fs.countglob.impl", classOf[CountGlobFileSystem].getName)
    conf.setBoolean("fs.countglob.impl.disable.cache", true)
    CountGlobFileSystem.sidecarOpens.clear()
    val scan = new NativeScan(schema, schema, Seq(s"countglob://$dir"), -1,
      new SerializableHadoopConf(conf), zoneFilters = Array[Filter](LessThan("id", 2000L)))
    assert(scan.estimateStatistics().numRows().getAsLong === 4000L)
    def files = scan.planInputPartitions().map(_.asInstanceOf[NativeInputPartition].file).toSet
    val first = files
    assert(first.nonEmpty && files === first)
    scan.filter(Array[Filter](GreaterThan("id", 3000L))) // with id < 2000: nothing
    assert(files.isEmpty)
    val opens = CountGlobFileSystem.sidecarOpens
    assert(opens.size === 4, opens)
    assert(opens.values.stream.allMatch(_ == 1), opens)
  }

  /** An 8-part table written with `sortBy=id`, ids 1..8000 range-clustered. */
  private def sortedParts(tag: String): String = {
    import spark.implicits._
    val dir = tmpDir(tag)
    (1 to 8000).map(i => (i.toLong, s"name_$i", i * 0.5)).toDF("id", "name", "v")
      .repartitionByRange(8, $"id").write.format("clickhouse_native")
      .option("sortBy", "id").mode("overwrite").save(dir)
    dir
  }

  test("a clickhouse_native('<dir>') point query lists once and opens each sidecar at most once") {
    val dir = sortedParts("tvf-once")
    CountGlobFileSystem.counting {
      val got = spark.sql(s"SELECT id, name FROM clickhouse_native('countglob://$dir') WHERE id = 4321")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((4321L, "name_4321")))
      // the bind's listing serves the scan: no second glob, no second listing
      assert(CountGlobFileSystem.calls.get === 1)
      assert(CountGlobFileSystem.listings.get === 1)
      val opens = CountGlobFileSystem.sidecarOpens
      assert(opens.size === 8, opens)
      assert(opens.values.stream.allMatch(_ == 1), opens)
    }
  }

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    SparkTestBase.walkPlan(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }

  test("a clickhouse_native('<dir>') count(*) answers from the bind's parts on the driver") {
    val dir = sortedParts("tvf-count")
    CountGlobFileSystem.counting {
      val df = spark.sql(s"SELECT count(*) FROM clickhouse_native('countglob://$dir')")
      assert(df.collect().map(_.getLong(0)).toSeq === Seq(8000L))
      assert(batchScans(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(CountGlobFileSystem.calls.get === 1)
      assert(CountGlobFileSystem.listings.get === 1)
      val opens = CountGlobFileSystem.sidecarOpens
      assert(opens.size === 8, opens)
      assert(opens.values.stream.allMatch(_ == 1), opens)
      // the bind's header probe of the first part, and nothing else
      assert(CountGlobFileSystem.dataOpens.values.stream.mapToInt(_.intValue).sum === 1,
        CountGlobFileSystem.dataOpens)
    }
  }

  test("count(*) with one part's sidecar gone is exact and runs through the native scan") {
    val dir = sortedParts("tvf-count-unindexed")
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse"))
      .minBy(_.getName)
    assert(new java.io.File(dir, s".${part.getName}.chidx").delete())
    val df = spark.sql(s"SELECT count(*) FROM clickhouse_native('$dir')")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(8000L))
    assert(batchScans(df).map(_.scan.isInstanceOf[NativeScan]) === Seq(true),
      df.queryExecution.executedPlan.toString)
  }

  test("an explicit-schema read lists once") {
    val dir = sortedParts("schema-once")
    CountGlobFileSystem.counting {
      val df = spark.read.format("clickhouse_native").schema(schema).load(s"countglob://$dir")
      assert(df.filter("id < 10").count() === 9L)
      assert(CountGlobFileSystem.calls.get === 1)
      assert(CountGlobFileSystem.listings.get === 1)
    }
  }

  test("a bound DataFrame's first run reads its bind's parts, the next run lists again") {
    import spark.implicits._
    val (dir, _) = writePart("rerun", 1000)
    val df = spark.read.format("clickhouse_native").load(dir)
    (1001 to 1500).map(i => (i.toLong, s"name_$i", i * 0.5)).toDF("id", "name", "v").coalesce(1)
      .write.format("clickhouse_native").mode("append").save(dir)
    assert(df.count() === 1000L)
    assert(df.count() === 1500L)
    assert(df.agg(org.apache.spark.sql.functions.max("id")).head().getLong(0) === 1500L)
  }

  test("bucketed tables keep their bucketId on every split") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.splitns")
    spark.sql("DROP TABLE IF EXISTS graft.splitns.wide")
    spark.sql("""CREATE TABLE graft.splitns.wide (k BIGINT, payload STRING)
                 USING clickhouse_native PARTITIONED BY (bucket(2, k))""")
    (0L until 400000L).map(i => (i, f"payload-$i%08d-abcdefghijklmnopqrstuvwxyz"))
      .toDF("k", "payload").writeTo("graft.splitns.wide").append()
    val table = spark.table("graft.splitns.wide")
    val parts = partitionsOf(table)
    val byFile = parts.groupBy(_.file)
    assert(byFile.values.exists(_.length >= 2), s"no file split: $parts")
    parts.foreach { p =>
      assert(p.bucketId === NativeBucket.bucketOfFile(new Path(p.file).getName).get, p)
    }
    assert(table.count() === 400000L)
    spark.sql("DROP TABLE graft.splitns.wide")
  }

  test("a pushed limit is counted in rows by the reader") {
    val (_, part) = writePart("limit", 100000)
    val conf = new SerializableHadoopConf(hadoopConf)
    val factory = new NativeReaderFactory(schema, 1000, conf)
    val partition = NativeInputPartition(part.toURI.toString)
    val batches = factory.createColumnarReader(partition)
    var n = 0
    try while (batches.next()) n += batches.get().numRows finally batches.close()
    assert(n === 1000)
    val rowReader = factory.createReader(partition)
    var m = 0
    var last = 0L
    try while (rowReader.next()) { m += 1; last = rowReader.get().getLong(0) }
    finally rowReader.close()
    assert(m === 1000 && last === 1000L)
  }

  /** Every cause in the chain. */
  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Seq.empty else t +: causes(t.getCause)

  /** Reading `dir` (explicit schema: no header probe) must fail with the
    * IOException that names `file`. */
  private def failsNamingFile(dir: String, file: java.io.File, what: String): Unit = {
    val e = intercept[Exception] {
      spark.read.format("clickhouse_native").schema(schema).load(dir)
        .selectExpr("sum(id)", "sum(length(name))", "sum(v)").collect()
    }
    assert(causes(e).exists {
      case io: IOException => io.getMessage.contains("corrupt or truncated file") &&
        io.getMessage.contains(file.getName)
      case _ => false
    }, s"$what: $e")
  }

  /** A copy of `part` (and its now-stale sidecar) rewritten by `edit`. */
  private def corrupted(part: java.io.File, tag: String)(edit: Array[Byte] => Array[Byte])
      : (String, java.io.File) = {
    val dir = tmpDir(tag)
    new java.io.File(dir).mkdirs()
    val copy = new java.io.File(dir, part.getName)
    Files.write(copy.toPath, edit(Files.readAllBytes(part.toPath)))
    val sidecar = new java.io.File(part.getParent, s".${part.getName}.chidx")
    Files.copy(sidecar.toPath, new java.io.File(dir, sidecar.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    (dir, copy)
  }

  private def varint(v: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(v)
    out.flush()
    bos.toByteArray
  }

  test("truncated plain and lz4 files fail with an IOException naming the file") {
    Seq("none", "lz4").foreach { codec =>
      val (_, part) = writePart(s"trunc-$codec", 200000, codec)
      val len = part.length()
      val boundaries = sidecarOffsets(part).toSet + len
      // cuts at a block boundary leave a valid shorter file, so every
      // cut here lies strictly inside a block
      // (a compressed file cut inside its first frame header is too
      // short to sniff, so lz4 cuts start past it)
      val cuts = ((if (codec == "none") Seq(1L, 5L) else Nil) ++
        Seq(40L, len / 3, len / 2, len - 1)).filterNot(boundaries.contains)
      assert(cuts.length >= 4)
      cuts.foreach { cut =>
        val (dir, copy) = corrupted(part, s"cut-$codec-$cut")(_.take(cut.toInt))
        failsNamingFile(dir, copy, s"$codec cut at $cut of $len")
      }
    }
  }

  test("corrupted plain and lz4 files fail with an IOException naming the file, never OOM") {
    val (_, plain) = writePart("corrupt-plain", 200000)
    // block 0 header: n_columns = 3 (1 byte), n_rows = 65536 (3 bytes)
    val header = Files.readAllBytes(plain.toPath).take(4).toSeq
    assert(header === Seq[Byte](3, 0x80.toByte, 0x80.toByte, 4))
    def withRows(n: Long)(b: Array[Byte]) = b.take(1) ++ varint(n) ++ b.drop(4)
    // beyond the row cap: refused before anything is sized from it
    val (d1, f1) = corrupted(plain, "rows-huge")(withRows(1L << 40))
    failsNamingFile(d1, f1, "row count 2^40")
    // under the cap: vectors grow only as bytes arrive, so the ~6 MB of
    // data cannot become a 100M-row allocation before EOF
    val (d2, f2) = corrupted(plain, "rows-capped")(withRows(NativeBlockReader.MaxBlockRows - 1))
    failsNamingFile(d2, f2, "row count under the cap")
    // the first string length (after the id column) → 1.5 GB
    val bytes = Files.readAllBytes(plain.toPath)
    val bis = new ByteArrayInputStream(bytes)
    val in = new NativeCodec.Input(bis)
    in.readVarUInt()
    val n = in.readVarUInt().toInt
    in.readString()
    ColumnCodec.skip(in, ChType.parse(in.readString()), n)
    in.readString()
    if (ChType.parse(in.readString()).isInstanceOf[ChNullable]) in.skipFully(n.toLong)
    val firstName = bytes.length - bis.available()
    assert(bytes(firstName) === "name_1".length)
    val (d3, f3) = corrupted(plain, "strlen")(b =>
      b.take(firstName) ++ varint(1500000000L) ++ b.drop(firstName + 1))
    failsNamingFile(d3, f3, "string length 1.5 GB")
    // lz4: any flipped payload byte fails its frame checksum
    val (_, lz4) = writePart("corrupt-lz4", 200000, "lz4")
    val mid = (lz4.length() / 2).toInt
    val (d4, f4) = corrupted(lz4, "flip")(b => { b(mid) = (b(mid) ^ 0x5a).toByte; b })
    failsNamingFile(d4, f4, "lz4 byte flip")
  }

  test("count(*) over a truncated unindexed file fails naming the file") {
    val (_, part) = writePart("count-trunc", 200000)
    val cut = part.length() / 2
    assert(!sidecarOffsets(part).contains(cut))
    // a foreign-style copy: cut inside a block, no sidecar beside it
    val dir = tmpDir("count-trunc-copy")
    new java.io.File(dir).mkdirs()
    val copy = new java.io.File(dir, part.getName)
    Files.write(copy.toPath, Files.readAllBytes(part.toPath).take(cut.toInt))
    val df = spark.sql(s"SELECT count(*) FROM clickhouse_native('$dir')")
    assert(SparkTestBase.walkPlan(df.queryExecution.executedPlan).exists {
      case b: BatchScanExec => b.scan.isInstanceOf[NativeScan]
      case _ => false
    }, df.queryExecution.executedPlan.toString)
    val e = intercept[Exception](df.collect())
    assert(causes(e).exists {
      case io: IOException => io.getMessage.contains("corrupt or truncated file") &&
        io.getMessage.contains(copy.getPath)
      case _ => false
    }, e.toString)
  }

  test("a column name declaring ~2 GiB fails naming the file at bind and at scan, never OOM") {
    val dir = tmpDir("namelen")
    new java.io.File(dir).mkdirs()
    val file = new java.io.File(dir, "part-hostile.clickhouse")
    // one block (1 column, 1 row) whose column name claims ~2 GiB; 4 bytes follow
    Files.write(file.toPath, Array[Byte](1, 1) ++ varint(Int.MaxValue - 8L) ++ "abcd".getBytes)
    spark // session start-up allocates on this thread: not the probe's
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(tid)
    val e = intercept[IOException](new ClickHouseNativeDataSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of("path", dir))))
    val allocated = threads.getThreadAllocatedBytes(tid) - before
    assert(allocated < (64L << 20), s"header probe allocated $allocated bytes")
    assert(e.getMessage.contains("corrupt or truncated file") &&
      e.getMessage.contains(file.getName), e.getMessage)
    failsNamingFile(dir, file, "column name of ~2 GiB")
  }

  test("hostile block structure fails with an IOException in the typed decoder") {
    def block(cols: (String, String, NativeCodec.Output => Unit)*)(rows: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new NativeCodec.Output(bos)
      out.writeVarUInt(cols.length.toLong)
      out.writeVarUInt(rows.toLong)
      cols.foreach { case (n, t, body) => out.writeString(n); out.writeString(t); body(out) }
      out.flush()
      bos.toByteArray
    }
    def decodeFails(bytes: Array[Byte], dt: DataType, expect: String): Unit = {
      val reader = new NativeBlockReader(new ByteArrayInputStream(bytes))
      val e = intercept[IOException] {
        reader.nextBatch(new ColumnarDecoder(StructType(Seq(StructField("a", dt)))))
      }
      assert(e.getMessage.contains(expect), e.getMessage)
    }
    // array end offsets that go backwards
    decodeFails(block(("a", "Array(Int32)", out => {
      out.writeLongLE(5L); out.writeLongLE(3L); (0 until 5).foreach(out.writeIntLE)
    }))(2), ArrayType(IntegerType, containsNull = false), "corrupt array offsets")
    // LowCardinality index outside its dictionary
    val lcHeader = (out: NativeCodec.Output) => {
      out.writeLongLE(1L); out.writeLongLE(ColumnCodec.LcHasAdditionalKeys)
    }
    decodeFails(block(("a", "LowCardinality(String)", out => {
      lcHeader(out); out.writeLongLE(1L); out.writeString("x")
      out.writeLongLE(2L); out.writeByte(0); out.writeByte(7)
    }))(2), StringType, "outside a dictionary of 1")
    // dictionary size beyond any column
    decodeFails(block(("a", "LowCardinality(String)", out => {
      lcHeader(out); out.writeLongLE(1L << 40)
    }))(2), StringType, "implausible LowCardinality dictionary size")
    // a string length beyond 2 GiB
    decodeFails(block(("a", "String", out => out.writeVarUInt(1L << 33)))(1),
      StringType, "too large")
    // a schema that disagrees with the data
    decodeFails(block(("a", "Int32", out => out.writeIntLE(1)))(1), LongType,
      "in the read schema")
  }
}

/** Local file system (scheme `countglob`) that counts `globStatus`
  * and `listStatus` calls and the opens of each sidecar and each data
  * file (by file name). */
class CountGlobFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countglob:///")
  override def globStatus(pattern: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountGlobFileSystem.calls.incrementAndGet()
    super.globStatus(pattern)
  }
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountGlobFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val opens =
      if (f.getName.endsWith(".chidx")) CountGlobFileSystem.sidecarOpens
      else CountGlobFileSystem.dataOpens
    opens.merge(f.getName, 1, _ + _)
    super.open(f, bufferSize)
  }
}

object CountGlobFileSystem {
  /** `globStatus` calls. */
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  /** `listStatus` calls. */
  val listings = new java.util.concurrent.atomic.AtomicInteger(0)
  val sidecarOpens = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val dataOpens = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Run `body` with the scheme in the session's Hadoop conf (so
    * executor reads count too) and every counter reset first. */
  def counting[A](body: => A): A =
    SparkTestBase.withSQLConf("fs.countglob.impl" -> classOf[CountGlobFileSystem].getName,
      "fs.countglob.impl.disable.cache" -> "true") {
      calls.set(0); listings.set(0); sidecarOpens.clear(); dataOpens.clear()
      body
    }
}
