package graft.sources.native

import java.io.ByteArrayInputStream
import java.nio.file.Files

import scala.util.Random

import graft.SparkTestBase

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/**
 * ClickHouse compressed-frame support ([[NativeCompression]]): frame
 * codec roundtrips byte-exactly for all three methods, checksums catch
 * corruption, uncompressed files never misdetect, and the full DSv2
 * path (write option `compression`, sidecar splits, zone maps, count
 * pushdown) works identically on compressed data.
 */
class NativeCompressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def hadoopConf = spark.sessionState.newHadoopConf()
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-comp-$tag").toString + "/out"

  private def frameRoundtrip(method: String, data: Array[Byte],
      frameEvery: Int = -1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val fo = new FrameOutputStream(bos, NativeCompression.methodFor(method))
    var off = 0
    while (off < data.length) {
      val n = if (frameEvery > 0) math.min(frameEvery, data.length - off) else data.length
      fo.write(data, off, n)
      if (frameEvery > 0) fo.endFrame()
      off += n
    }
    fo.close()
    val in = new FrameInputStream(new ByteArrayInputStream(bos.toByteArray))
    val out = in.readAllBytes()
    in.close()
    out
  }

  test("frame codec roundtrips randomized payloads for lz4, zstd and none") {
    val rnd = new Random(42)
    for (method <- Seq("lz4", "zstd", "none"); size <- Seq(0, 1, 9, 1000, 3 << 20)) {
      // half-compressible data: runs + noise
      val data = new Array[Byte](size)
      var i = 0
      while (i < size) {
        val run = math.min(1 + rnd.nextInt(64), size - i)
        val b = if (rnd.nextBoolean()) 7.toByte else rnd.nextInt().toByte
        java.util.Arrays.fill(data, i, i + run, b)
        i += run
      }
      val back = frameRoundtrip(method, data)
      assert(back.sameElements(data), s"$method roundtrip failed at size $size")
      val backFramed = frameRoundtrip(method, data, frameEvery = 100000)
      assert(backFramed.sameElements(data), s"$method multi-frame roundtrip failed at $size")
    }
  }

  test("checksum verification catches a flipped payload bit") {
    val data = Array.tabulate[Byte](50000)(i => (i % 251).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val fo = new FrameOutputStream(bos, NativeCompression.MethodLZ4)
    fo.write(data)
    fo.close()
    val bytes = bos.toByteArray
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x40).toByte
    val in = new FrameInputStream(new ByteArrayInputStream(bytes))
    val e = intercept[java.io.IOException](in.readAllBytes())
    assert(e.getMessage.contains("checksum"), e.getMessage)
  }

  test("sniffing: uncompressed native files pass through untouched") {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new NativeBlockWriter(bos)
    w.writeBlock(NativeBlock(Array(
      NativeColumn("n", ChType.ChInt64, Array[Any](1L, 2L, 3L))), 3))
    w.close()
    val raw = bos.toByteArray
    val wrapped = NativeCompression.maybeWrapRead(new ByteArrayInputStream(raw), hadoopConf)
    assert(!wrapped.isInstanceOf[FrameInputStream])
    assert(wrapped.readAllBytes().sameElements(raw))
  }

  test("DSv2 roundtrip with compression=lz4 and =zstd equals the source data") {
    import spark.implicits._
    val df = (1 to 150000)
      .map(i => (i.toLong, s"name_${i % 997}", i * 0.25, if (i % 7 == 0) null else s"v$i"))
      .toDF("id", "tag", "v", "s")
    for (codec <- Seq("lz4", "zstd")) {
      val dir = tmpDir(codec)
      df.coalesce(1).write.format("clickhouse_native")
        .option("compression", codec).mode("overwrite").save(dir)
      val back = spark.read.format("clickhouse_native").load(dir)
      assert(back.count() === 150000)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty, s"$codec data diff")
    }
  }

  test("lz4 output is materially smaller than uncompressed on repetitive data") {
    import spark.implicits._
    val df = (1 to 100000).map(i => (i.toLong, "constant_payload_string", 1.0))
      .toDF("id", "tag", "v")
    val plain = tmpDir("plainsize")
    val lz4 = tmpDir("lz4size")
    df.coalesce(1).write.format("clickhouse_native")
      .option("dictionaryEncode", "off").mode("overwrite").save(plain)
    df.coalesce(1).write.format("clickhouse_native")
      .option("dictionaryEncode", "off").option("compression", "lz4")
      .mode("overwrite").save(lz4)
    def size(d: String): Long = {
      val fs = new Path(d).getFileSystem(hadoopConf)
      fs.listStatus(new Path(d)).filter(_.getPath.getName.endsWith(".clickhouse"))
        .map(_.getLen).sum
    }
    assert(size(lz4) < size(plain) / 3, s"lz4=${size(lz4)} plain=${size(plain)}")
  }

  test("sidecar block offsets on a compressed file are seekable frame boundaries") {
    import spark.implicits._
    val dir = tmpDir("seek")
    (1 to 200000).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
      .coalesce(1).write.format("clickhouse_native")
      .option("compression", "lz4").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val part = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".clickhouse"))(0).getPath
    val entries = NativeIndex.read(fs, part, fs.getFileStatus(part).getLen)
    assert(entries.isDefined && entries.get.length === 4) // ceil(200000/65536)
    // seek to the LAST block's offset and decode exactly its rows
    val last = entries.get.last
    val in = fs.open(part)
    in.seek(last.offset)
    val blocks = new NativeBlockReader(
      NativeCompression.maybeWrapRead(in, hadoopConf), None, blockLimit = 1)
    val b = blocks.next()
    assert(b.numRows === last.rows)
    blocks.close()

    // intra-file split partitions produce the complete table
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    try {
      val back = spark.read.format("clickhouse_native").load(dir)
      assert(back.rdd.getNumPartitions > 1, "expected intra-file splits")
      assert(back.count() === 200000)
      assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        === (1 to 200000).map(_.toLong).sum)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("count(*) pushdown and zone-map pruning work on compressed files") {
    import spark.implicits._
    val dir = tmpDir("pushdown")
    (1 to 100000).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .coalesce(1).write.format("clickhouse_native")
      .option("compression", "zstd").mode("overwrite").save(dir)
    val cnt = spark.read.format("clickhouse_native").load(dir)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).head.getLong(0)
    assert(cnt === 100000)
    // a point filter on sorted ids decodes one block (correctness here;
    // pruning plan shape is NativeIndexSpec's job)
    val one = spark.read.format("clickhouse_native").load(dir)
      .filter(org.apache.spark.sql.functions.col("id") === 99999L).collect()
    assert(one.length === 1 && one(0).getDouble(1) === 199998.0)
  }

  test("writer declares compression in the sidecar; an explicit read.compression overrides it") {
    val dir = tmpDir("declared")
    spark.range(0, 5000).selectExpr("id", "id * 2.0D AS v")
      .write.format("clickhouse_native").option("compression", "lz4")
      .mode("overwrite").save(dir)
    // the sidecar carries the writer-authored method
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val dataFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).head
    val meta = NativeIndex.readWithMeta(fs, new Path(dataFile.getPath),
      dataFile.length()).get._2
    assert(meta.get("compression") === Some("lz4"))
    def firstHeader(in: java.io.InputStream) =
      try NativeBlockReader.readHeader(in).map(_._1) finally in.close()
    // the declaration alone opens frames, no sniffing involved
    assert(firstHeader(NativeCompression.maybeWrapRead(new java.io.FileInputStream(dataFile),
      hadoopConf, declared = Some("lz4"))) === Seq("id", "v"))
    // an explicit conf declaration wins over the sidecar's: declaring
    // `none` hands back the file's own (framed) bytes untouched
    val raw = NativeCompression.maybeWrapRead(new java.io.FileInputStream(dataFile),
      confWith("graft.native.read.compression" -> "none"), declared = Some("lz4"))
    try assert(raw.readNBytes(64).sameElements(
      java.nio.file.Files.readAllBytes(dataFile.toPath).take(64)))
    finally raw.close()
    assert(firstHeader(NativeCompression.maybeWrapRead(new java.io.FileInputStream(dataFile),
      confWith("graft.native.read.compression" -> "lz4"))) === Seq("id", "v"))
    // and an unknown conf value is refused by name
    val bad = intercept[IllegalArgumentException](NativeCompression.maybeWrapRead(
      new java.io.FileInputStream(dataFile), confWith("graft.native.read.compression" -> "brotli")))
    assert(bad.getMessage.contains("brotli"), bad.getMessage)
  }

  private def confWith(kv: (String, String)*): org.apache.hadoop.conf.Configuration = {
    val c = hadoopConf
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }

  test("cityhash128 structural self-checks (length-path edges, determinism, avalanche)") {
    val rnd = new Random(7)
    // every length class: empty, <4, 4..7, 8..15, 16..127 (murmur), >=128 (long loop)
    for (len <- Seq(0, 1, 3, 4, 7, 8, 15, 16, 63, 127, 128, 129, 255, 1024, 100000)) {
      val a = new Array[Byte](len)
      rnd.nextBytes(a)
      val h1 = CityHash102.cityHash128(a, 0, len)
      val h2 = CityHash102.cityHash128(a, 0, len)
      assert(h1.sameElements(h2))
      if (len > 0) {
        val b = a.clone()
        b(len / 2) = (b(len / 2) ^ 1).toByte
        assert(!CityHash102.cityHash128(b, 0, len).sameElements(h1),
          s"single-bit flip not detected at len $len")
      }
    }
    // offset independence: hashing a slice equals hashing the copy
    val big = new Array[Byte](300)
    rnd.nextBytes(big)
    assert(CityHash102.cityHash128(big, 37, 200)
      .sameElements(CityHash102.cityHash128(java.util.Arrays.copyOfRange(big, 37, 237), 0, 200)))
  }
}
