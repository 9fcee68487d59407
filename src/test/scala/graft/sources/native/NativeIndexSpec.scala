package graft.sources.native

import java.nio.file.Files

import graft.SparkTestBase

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/**
 * Intra-file parallelism via the NativeIndex sidecar: the writer
 * records every block's (offset, rows); the scan planner splits
 * indexed files into maxPartitionBytes block ranges; readers seek.
 * Foreign files (no sidecar) and corrupt sidecars fall back to one
 * partition per file — never wrong results.
 */
class NativeIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-chidx-$tag").toString + "/out"

  private def hadoopConf = spark.sessionState.newHadoopConf()

  /** One indexed multi-block part file + its sidecar. */
  private def writeMultiBlock(tag: String, rows: Int): (String, Path) = {
    import spark.implicits._
    val dir = tmpDir(tag)
    // single output partition → single part file; several 65536-row blocks
    (1 to rows).map(i => (i.toLong, s"name_$i", i * 0.5)).toDF("id", "name", "v")
      .coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val parts = fs.listStatus(new Path(dir)).filter(_.getPath.getName.endsWith(".clickhouse"))
    assert(parts.length === 1)
    (dir, parts(0).getPath)
  }

  test("writer emits a valid sidecar whose offsets and row counts cover the file") {
    val (_, part) = writeMultiBlock("valid", 200000)
    val fs = part.getFileSystem(hadoopConf)
    val len = fs.getFileStatus(part).getLen
    val idx = NativeIndex.read(fs, part, len)
    assert(idx.isDefined, "sidecar missing or invalid")
    val entries = idx.get
    assert(entries.length === 4) // ceil(200000 / 65536) blocks
    assert(entries.head.offset === 0L)
    assert(entries.map(_.rows).sum === 200000L)
    assert(entries.map(_.offset).toSeq === entries.map(_.offset).toSeq.sorted)
    // seeking to a mid-file offset must land on a decodable block
    val in = fs.open(part)
    in.seek(entries(2).offset)
    val r = new NativeBlockReader(in, None, blockLimit = 1)
    val block = r.next()
    assert(block.numRows === entries(2).rows)
    r.close()
  }

  test("indexed file splits into multiple partitions and content matches exactly") {
    val (dir, part) = writeMultiBlock("split", 200000)
    val fs = part.getFileSystem(hadoopConf)
    val len = fs.getFileStatus(part).getLen
    // force splitting: target well below the file size
    spark.conf.set("spark.sql.files.maxPartitionBytes", (len / 3).toString)
    try {
      val df = spark.read.format("clickhouse_native").load(dir)
      assert(df.rdd.getNumPartitions > 1, "indexed large file should split")
      assert(df.count() === 200000L)
      val sums = df.selectExpr("sum(id)", "count(distinct name)", "sum(v)").collect()(0)
      assert(sums.getLong(0) === 200000L * 200001L / 2)
      assert(sums.getLong(1) === 200000L)
      assert(math.abs(sums.getDouble(2) - 0.5 * (200000.0 * 200001.0 / 2)) < 1e-6)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("corrupt or stale sidecar falls back to whole-file scan with correct results") {
    val (dir, part) = writeMultiBlock("corrupt", 150000)
    val fs = part.getFileSystem(hadoopConf)
    val sidecar = NativeIndex.sidecarPath(part)
    // truncate the sidecar: header promises more blocks than listed
    val out = fs.create(sidecar, true)
    out.write("CHIDX1 999999 7\n0 100\n".getBytes("UTF-8"))
    out.close()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val df = spark.read.format("clickhouse_native").load(dir)
      assert(df.rdd.getNumPartitions === 1, "invalid sidecar must not split")
      assert(df.count() === 150000L)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("count(*) and statistics come from the sidecar for indexed files") {
    val (dir, part) = writeMultiBlock("count", 100000)
    val fs = part.getFileSystem(hadoopConf)
    val df = spark.read.format("clickhouse_native").load(dir)
    assert(df.count() === 100000L)
    // estimateStatistics: exact row count via sidecars
    def scan = new NativeScan(df.schema, df.schema, Seq(dir), -1,
      new SerializableHadoopConf(hadoopConf))
    val stats = scan.estimateStatistics()
    assert(stats.numRows().isPresent && stats.numRows().getAsLong === 100000L)
    // delete the sidecar → a new scan's numRows is unknown (a scan keeps
    // the sidecars it has read), count still correct (header walk)
    fs.delete(NativeIndex.sidecarPath(part), false)
    val stats2 = scan.estimateStatistics()
    assert(!stats2.numRows().isPresent)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 100000L)
  }

  test("sidecar carries per-block zone maps for numeric and string columns") {
    val (_, part) = writeMultiBlock("stats", 200000)
    val fs = part.getFileSystem(hadoopConf)
    val entries = NativeIndex.read(fs, part, fs.getFileStatus(part).getLen).get
    // data was written in id order: block b covers ids (b*65536, ...]
    assert(entries(0).stats("id") === NativeIndex.ColStat('l', "1", "65536"))
    assert(entries(1).stats("id").min === "65537")
    assert(entries(0).stats("v").tag === 'd')
    assert(entries(0).stats("v").min === "0.5")
    assert(entries(0).stats("name").tag === 's') // strings zone-map too
  }

  test("filter on a sorted column plans only the matching blocks; disjoint range plans none") {
    val (dir, part) = writeMultiBlock("prune", 200000)
    val fs = part.getFileSystem(hadoopConf)
    val len = fs.getFileStatus(part).getLen
    spark.conf.set("spark.sql.files.maxPartitionBytes", (len / 5).toString)
    try {
      import org.apache.spark.sql.functions.col
      val df = spark.read.format("clickhouse_native").load(dir)
      val unfiltered = df.rdd.getNumPartitions
      assert(unfiltered >= 4)
      val point = df.filter(col("id") === 70000L)
      assert(point.rdd.getNumPartitions === 1, "point lookup should plan one block")
      assert(point.count() === 1L)
      val range = df.filter(col("id") > 150000L && col("id") <= 150010L)
      assert(range.rdd.getNumPartitions === 1)
      assert(range.count() === 10L)
      val none = df.filter(col("id") < 0L)
      assert(none.rdd.getNumPartitions === 0, "fully pruned file should plan no work")
      assert(none.count() === 0L)
      // residual evaluation still applies: un-prunable filter stays correct
      assert(df.filter(col("name") === "name_123").count() === 1L)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("pruning is conservative: overlapping ranges keep blocks, results stay exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("overlap")
    // shuffled ids → every block's [min,max] overlaps every filter
    val r = new scala.util.Random(7)
    r.shuffle((1 to 150000).toList).map(i => (i.toLong, i % 97))
      .toDF("id", "m").coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val df = spark.read.format("clickhouse_native").load(dir)
    assert(df.filter(col("id") <= 1000L).count() === 1000L)
    assert(df.filter(col("id") === 42L).count() === 1L)
  }

  test("zone-map evaluation: operators, conjunction, disjunction, unknowns") {
    import org.apache.spark.sql.sources._
    val stats = Map(
      "a" -> NativeIndex.ColStat('l', "10", "20"),
      "v" -> NativeIndex.ColStat('d', "0.5", "1.5"))
    def m(f: Filter) = NativeIndex.blockMayMatch(stats, Seq(f))
    assert(m(EqualTo("a", 15L)) && !m(EqualTo("a", 21L)) && !m(EqualTo("a", 9L)))
    assert(m(GreaterThan("a", 19L)) && !m(GreaterThan("a", 20L)))
    assert(m(GreaterThanOrEqual("a", 20L)) && !m(GreaterThanOrEqual("a", 21L)))
    assert(m(LessThan("a", 11L)) && !m(LessThan("a", 10L)))
    assert(m(LessThanOrEqual("a", 10L)) && !m(LessThanOrEqual("a", 9L)))
    assert(m(In("a", Array(1L, 2L, 12L))) && !m(In("a", Array(1L, 2L))))
    assert(m(EqualTo("v", 1.0)) && !m(EqualTo("v", 2.0)))
    assert(!m(And(EqualTo("a", 15L), EqualTo("v", 2.0))))
    assert(m(Or(EqualTo("a", 99L), EqualTo("v", 1.0))))
    assert(!m(Or(EqualTo("a", 99L), EqualTo("v", 9.0))))
    assert(m(EqualTo("missing", 5L)))            // no stats → keep
    assert(m(EqualTo("a", "not-a-number")))      // non-numeric literal → keep
    assert(m(IsNull("a")))                       // unknown shape → keep
    // date/timestamp literals translate to stored representations
    assert(NativeIndex.toDecimal(java.sql.Date.valueOf("1970-01-11")).get.longValueExact === 10L)
    assert(NativeIndex.toDecimal(java.time.LocalDate.ofEpochDay(25)).get.longValueExact === 25L)
    assert(NativeIndex.toDecimal(java.time.Instant.ofEpochSecond(3)).get.longValueExact === 3000000L)
  }

  test("pruning soundness fuzz: random filters over random layouts match the in-memory truth") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(20260812)
    (0 until 4).foreach { round =>
      val n = 50000 + rnd.nextInt(100000)
      val sorted = rnd.nextBoolean()
      val base = (0 until n).map { i =>
        val id = if (sorted) i.toLong else rnd.nextLong() % 1000000L
        (id, rnd.nextInt(1000), rnd.nextDouble() * 100.0 - 50.0)
      }
      val dir = tmpDir(s"fuzz$round")
      base.toDF("id", "grp", "v").coalesce(1 + rnd.nextInt(3))
        .write.format("clickhouse_native")
        .option("maxRowsPerFile", (16384 + rnd.nextInt(32768)).toString)
        .mode("overwrite").save(dir)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072") // force splits
      try {
        val df = spark.read.format("clickhouse_native").load(dir)
        (0 until 5).foreach { _ =>
          val lo = rnd.nextLong() % 200000L
          val hi = lo + rnd.nextInt(300000)
          val gEq = rnd.nextInt(1200) // sometimes out of range
          val expected = base.count { case (id, g, _) =>
            id >= lo && id <= hi && g != gEq
          }
          val got = df.filter(col("id") >= lo && col("id") <= hi && col("grp") =!= gEq).count()
          assert(got === expected, s"round=$round lo=$lo hi=$hi gEq=$gEq sorted=$sorted")
        }
        // double-typed range too
        val dExpected = base.count(_._3 > 25.0)
        assert(df.filter(col("v") > 25.0).count() === dExpected)
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("string zone maps prune equality and IN filters on clustered data") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("strprune")
    // sorted by lang → each block covers a narrow string range
    val langs = Seq("ar", "de", "en", "es", "fr", "it", "ja", "pt")
    (0 until 260000).map(i => (i.toLong, langs(i / 32500))).sortBy(_._2)
      .toDF("id", "lang").coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val part = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".clickhouse")).get
    val entries = NativeIndex.read(fs, part, fs.getFileStatus(part).getLen).get
    assert(entries.length === 4)
    assert(entries.forall(_.stats.contains("lang")))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val df = spark.read.format("clickhouse_native").load(dir)
      assert(df.rdd.getNumPartitions >= 4)
      val en = df.filter(col("lang") === "ar") // first block only
      assert(en.rdd.getNumPartitions === 1)
      assert(en.count() === 32500L)
      assert(df.filter(col("lang") === "zz").rdd.getNumPartitions === 0)
      assert(df.filter(col("lang") === "zz").count() === 0L)
      val in = df.filter(col("lang").isin("xx", "yy"))
      assert(in.rdd.getNumPartitions === 0)
      assert(df.filter(col("lang").isin("ja", "pt")).count() === 65000L)
      assert(df.filter(col("lang") > "pa").count() === 32500L) // range on strings
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("string stats: prefix truncation keeps bounds conservative; NUL voids the stat") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("strtrunc")
    val long = "x" * 100 // > 48-byte cap → Open max
    Seq((1L, "aaa"), (2L, long), (3L, "mmm")).toDF("id", "s").coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val part = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".clickhouse")).get
    val st = NativeIndex.read(fs, part, fs.getFileStatus(part).getLen).get.head.stats("s")
    assert(st.tag === 's' && st.max === NativeIndex.Open)
    // open max: equality above the min cannot be pruned
    import org.apache.spark.sql.sources.EqualTo
    assert(NativeIndex.blockMayMatch(Map("s" -> st), Seq(EqualTo("s", "zzz"))))
    assert(!NativeIndex.blockMayMatch(Map("s" -> st), Seq(EqualTo("s", "a")))) // below min
    assert(spark.read.format("clickhouse_native").load(dir)
      .filter(col("s") === long).count() === 1L)
    // a NUL-containing value voids the block's string stat entirely
    val dir2 = tmpDir("strnul")
    Seq((1L, "a\u0000b"), (2L, "c")).toDF("id", "s").coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir2)
    val part2 = fs.listStatus(new Path(dir2)).map(_.getPath)
      .find(_.getName.endsWith(".clickhouse")).get
    val e2 = NativeIndex.read(fs, part2, fs.getFileStatus(part2).getLen).get.head
    assert(!e2.stats.contains("s"))
    assert(e2.stats.contains("id"))
  }

  test("splitRanges packs contiguous blocks to the byte target") {
    val entries = Array(
      NativeIndex.BlockEntry(0, 10), NativeIndex.BlockEntry(100, 10),
      NativeIndex.BlockEntry(200, 10), NativeIndex.BlockEntry(300, 10))
    def splitRanges(dataLen: Long, targetBytes: Long) =
      NativeIndex.splitRangesKeeping(entries, dataLen, targetBytes, _ => true)
    val ranges = splitRanges(dataLen = 400, targetBytes = 200)
    assert(ranges === Seq((0L, 2, 20L), (200L, 2, 20L)))
    // target smaller than a block: one block per range, never zero
    val tiny = splitRanges(400, 10)
    assert(tiny === Seq((0L, 1, 10L), (100L, 1, 10L), (200L, 1, 10L), (300L, 1, 10L)))
    // huge target: single range
    assert(splitRanges(400, 1 << 20) === Seq((0L, 4, 40L)))
  }
}
