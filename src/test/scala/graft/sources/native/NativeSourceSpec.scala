package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import graft.SparkTestBase

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end DataSource V2 tests crossing the write→read boundary —
 * the layer the pure codec tests never exercised (which is how the
 * round-1 writer-aliasing and count(*)=0 bugs shipped).
 */
class NativeSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-native-$tag").toString + "/out"

  test("DSv2 roundtrip: nation (strings + ints) full-content equality") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
    val dir = tmpDir("nation")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    val a = src.collect().toSet
    val b = back.collect().toSet
    assert(b.size === a.size)
    assert(b === a)
    // the round-1 bug collapsed n_name to 2 distinct values on disk
    assert(back.select("n_name").distinct().count() === src.select("n_name").distinct().count())
  }

  test("DSv2 count(*) over native source (empty projection emits header rows)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/region.parquet")
    val dir = tmpDir("count")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.count() === src.count()) // round-1: returned 0
    assert(back.collect().length === src.count())
  }

  test("DSv2 roundtrip: doubles, timestamps, wider table (orders)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/orders.parquet")
    val dir = tmpDir("orders")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("DSv2 roundtrip: arrays of floats (embeddings)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val dir = tmpDir("emb")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    val a = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = back.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(b.keySet === a.keySet)
    assert(a.forall { case (k, v) => b(k) == v })
  }

  test("DSv2 roundtrip: decimals and pre-1970 dates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = Seq(
      (1L, BigDecimal("12345.67"), java.sql.Date.valueOf("1969-07-20")),
      (2L, BigDecimal("-0.01"), java.sql.Date.valueOf("2024-02-29")),
      (3L, BigDecimal("999999999.99"), java.sql.Date.valueOf("1900-01-01")))
      .toDF("id", "amount", "d")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))
    val dir = tmpDir("decimal")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.schema("amount").dataType.simpleString === "decimal(12,2)")
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("DSv2 roundtrip: nulls survive (Nullable wire layout)") {
    import spark.implicits._
    val src = Seq((1L, Some("x"), Some(1.5)), (2L, None, None), (3L, Some(""), Some(-0.0)))
      .toDF("id", "s", "d")
    val dir = tmpDir("nulls")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("the reference repo's own fixture decodes (foreign-file interop anchor)") {
    // /root/reference/numbers.clickhouse is the ONLY native-format file
    // in this sandbox not produced by our writer — emitted by real
    // `clickhouse-local ... FORMAT Native` (reference README.md:97-99):
    // 2 cols × 1 row, `version() String "24.12.1.1273"` + `number
    // UInt64 0` (SURVEY §1.1). Decoding it pins schema inference, the
    // String/UInt64 codecs and the foreign-file (no sidecar) read path
    // against independently produced bytes.
    val fx = "/root/reference/numbers.clickhouse"
    assume(new java.io.File(fx).canRead, s"$fx absent in this environment")
    val df = spark.read.format("clickhouse_native").load(fx)
    assert(df.schema.fieldNames.toSeq === Seq("version()", "number"))
    val row = df.head()
    assert(row.getString(0) === "24.12.1.1273")
    assert(row.getLong(1) === 0L)
    assert(df.count() === 1L)
    // and through the reference's exact SQL call surface
    val tvf = spark.sql(s"SELECT * FROM clickhouse_native('$fx')").collect()
    assert(tvf.length === 1 && tvf(0).getString(0) === "24.12.1.1273")
  }

  test("clickhouse_native TVF absent without the extension (negative registration)") {
    // Mirror of the reference's negative sqllogictest
    // (test/sql/chsql_native.test:6-9: before the extension loads,
    // `clickhouse_native(...)` is a catalog error): the TVF must come
    // from GraftExtensions' injectTableFunction, not from anything
    // engine-global — so Spark's BUILTIN table-function registry must
    // not know the name, while the extension session (previous test)
    // resolves it.
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry
    assert(!TableFunctionRegistry.builtin.functionExists(
      FunctionIdentifier("clickhouse_native")))
    assert(!TableFunctionRegistry.builtin.functionExists(
      FunctionIdentifier("clickhouse_scan")))
    // the extension session DOES resolve both names (positive half,
    // same registry surface the analyzer consults)
    assert(spark.sessionState.tableFunctionRegistry.functionExists(
      FunctionIdentifier("clickhouse_native")))
    assert(spark.sessionState.tableFunctionRegistry.functionExists(
      FunctionIdentifier("clickhouse_scan")))
  }

  test("multi-block multi-column interleaving (reference's bug class, SURVEY §1.1)") {
    // Hand-write 3 blocks × 2 columns with the block writer, read via DSv2.
    val dir = Files.createTempDirectory("graft-native-mb")
    val f = dir.resolve("mb.clickhouse")
    val os = java.nio.file.Files.newOutputStream(f)
    val w = new NativeBlockWriter(os)
    import org.apache.spark.unsafe.types.UTF8String
    (0 until 3).foreach { b =>
      val ids = Array.tabulate(4)(i => java.lang.Long.valueOf(b * 4L + i): Any)
      val names = Array.tabulate(4)(i => UTF8String.fromString(s"row-${b * 4 + i}"): Any)
      w.writeBlock(NativeBlock(Array(
        NativeColumn("id", ChType.ChInt64, ids),
        NativeColumn("name", ChType.ChString, names)), 4))
    }
    w.close()
    val back = spark.read.format("clickhouse_native").load(f.toString)
    assert(back.count() === 12)
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === (0 until 12).map(i => (i.toLong, s"row-$i")).toSet)
    // count(*) with pruned columns across multiple blocks
    assert(back.selectExpr("count(*)").head().getLong(0) === 12L)
  }

  test("DateTime64 precision > 6 block-level encode/decode roundtrip") {
    val t = ChType.ChDateTime64(9, None)
    val micros = Array[Any](java.lang.Long.valueOf(1700000000123456L), java.lang.Long.valueOf(0L))
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    ColumnCodec.encode(out, t, micros)
    out.flush()
    val in = new NativeCodec.Input(new ByteArrayInputStream(bos.toByteArray))
    val decoded = ColumnCodec.decode(in, t, 2)
    assert(decoded.toSeq === micros.toSeq)
  }

  test("flat-schema native scans execute columnar (ColumnarToRow in final plan)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/orders.parquet")
    val dir = tmpDir("colplan")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val agg = spark.read.format("clickhouse_native").load(dir)
      .groupBy("o_orderstatus").agg(org.apache.spark.sql.functions.sum("o_totalprice"))
    agg.collect() // AQE: final plan only materializes after execution
    assert(agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("array-schema native scans execute columnar and remain correct") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val dir = tmpDir("rowplan")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    back.collect()
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("DSv2 roundtrip: map and struct columns (Map/Tuple wire types)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet").select(
      col("n_nationkey"),
      map(lit("name"), col("n_name"), lit("rk"), col("n_regionkey").cast("string")).as("props"),
      struct(col("n_name").as("name"), col("n_regionkey").as("rk")).as("meta"))
    val dir = tmpDir("mapstruct")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.schema("props").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    assert(back.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    // compare via stable projections (Row equality over maps is fragile)
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      col("n_nationkey"),
      element_at(col("props"), "name").as("p_name"),
      element_at(col("props"), "rk").as("p_rk"),
      col("meta.name").as("m_name"), col("meta.rk").as("m_rk"))
      .collect().map(_.toSeq).toSet
    assert(proj(back) === proj(src))
    // header declares real Map/Tuple types, not sentinels
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header = {
      val in = new java.io.FileInputStream(part)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    val byName = header.toMap.map { case (k, v) => k -> v.name }
    assert(byName("props").startsWith("Map("), byName.toString)
    assert(byName("meta").startsWith("Tuple("), byName.toString)
  }

  test("adaptive dictionary encoding: low-cardinality strings write as LowCardinality") {
    // lineitem's flag/status columns repeat heavily; keys are unique
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        concat(lit("row-"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("uniq_tag"))
      .coalesce(1)
    val dir = tmpDir("dict")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header = {
      val in = new java.io.FileInputStream(part)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    val byName = header.toMap.map { case (k, v) => k -> v.name }
    assert(byName("l_returnflag").startsWith("LowCardinality("), byName.toString)
    assert(byName("l_linestatus").startsWith("LowCardinality("), byName.toString)
    assert(!byName("uniq_tag").startsWith("LowCardinality("), byName.toString) // near-unique text
    // content identical through the dictionary path
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
    // and the option disables it
    val dir2 = tmpDir("dict-off")
    src.write.format("clickhouse_native").option("dictionaryEncode", "off")
      .mode("overwrite").save(dir2)
    val part2 = new java.io.File(dir2).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header2 = {
      val in = new java.io.FileInputStream(part2)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    assert(header2.toMap.map { case (k, v) => k -> v.name }.values.forall(!_.startsWith("LowCardinality")))
  }

  test("writer abort removes all partial part files") {
    val dir = Files.createTempDirectory("graft-native-abort").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val writer = new NativeDataWriter(NativeWriteOptions(schema, dir, maxRowsPerFile = 4), 0, 1L, conf)
    writer.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    writer.abort()
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".clickhouse")) === 0)
  }

  test("writer rotates part files at maxRowsPerFile and reads back whole") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet").coalesce(1)
    val dir = tmpDir("rotate")
    src.write.format("clickhouse_native")
      .option("maxRowsPerFile", "10").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse"))
    assert(parts.length === 3) // 25 rows / 10 per file
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("SQL surface: CREATE TABLE USING clickhouse_native, INSERT INTO, SELECT") {
    val dir = tmpDir("sql")
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(
      s"""CREATE TABLE graft_sql_t (id BIGINT, name STRING, score DOUBLE)
          USING clickhouse_native OPTIONS (path '$dir')""")
    try {
      spark.sql("INSERT INTO graft_sql_t VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'c', 2.5)")
      val rows = spark.sql(
        "SELECT id, name, score FROM graft_sql_t WHERE id >= 2 ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
        Seq((2L, "b", 1.5), (3L, "c", 2.5)))
      spark.sql("INSERT INTO graft_sql_t VALUES (4, 'd', 3.5)") // append
      assert(spark.sql("SELECT count(*) AS c FROM graft_sql_t").head().getLong(0) === 4L)
      // the same files read back through the path-based API
      assert(spark.read.format("clickhouse_native").load(dir).count() === 4L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("null cells in container columns degrade to empty containers, not NPE") {
    // ClickHouse has no Nullable(Array/Map/Tuple): forSpark strips the
    // nullability, so a null container cell reaching the encoder maps to
    // the type's empty/default value — the documented degradation.
    val dir = java.nio.file.Files.createTempDirectory("graft-nullcont").toString + "/out"
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, array(1L, 2L), map('a', 1L), named_struct('x', 1L, 'y', 'p')),
        (2L, CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS MAP<STRING, BIGINT>),
             CAST(NULL AS STRUCT<x: BIGINT, y: STRING>))
        AS t(id, arr, m, st)""")
    df.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
      .orderBy("id").collect()
    assert(back(0).getSeq[Long](1) === Seq(1L, 2L))
    assert(back(1).getSeq[Long](1) === Seq.empty)         // null -> []
    assert(back(1).getMap[String, Long](2).isEmpty)        // null -> {}
    val st = back(1).getStruct(3)
    // null struct -> all-null fields (fields are themselves nullable)
    assert(st.isNullAt(0) && st.isNullAt(1))
  }

  test("mergeSchema fuzz: random column-subset parts union with null fill (20 cases, seeded)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
    val rnd = new scala.util.Random(42)
    val allCols = Seq("a" -> LongType, "b" -> StringType, "c" -> DoubleType, "d" -> IntegerType)
    (1 to 20).foreach { k =>
      val dir = tmpDir(s"evofuzz$k")
      val parts = (0 until 2 + rnd.nextInt(2)).map { _ =>
        val cols = allCols.filter(_ => rnd.nextBoolean()) match {
          case s if s.isEmpty => allCols.take(1)
          case s => s
        }
        val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
          Row.fromSeq(cols.map {
            case (_, LongType) => rnd.nextLong()
            case (_, StringType) => rnd.alphanumeric.take(5).mkString
            case (_, DoubleType) => rnd.nextDouble()
            case _ => rnd.nextInt()
          })
        }
        spark.createDataFrame(rows.asJava,
            StructType(cols.map { case (n, t) => StructField(n, t) }))
          .coalesce(1).write.format("clickhouse_native").mode("append").save(dir)
        (cols.map(_._1), rows)
      }
      val merged = spark.read.format("clickhouse_native")
        .option("mergeSchema", "true").load(dir)
      val mcols = merged.schema.fieldNames.toSeq
      def multiset(vs: Seq[Vector[Any]]) =
        vs.groupBy(identity).view.mapValues(_.size).toMap
      val expected = multiset(parts.flatMap { case (cols, rows) =>
        rows.map(r => mcols.map(c => cols.indexOf(c) match {
          case -1 => null
          case i => r.get(i)
        }).toVector)
      })
      val got = multiset(merged.collect().toSeq
        .map(r => mcols.indices.map(r.get).toVector))
      assert(got === expected, s"case $k (cols per part: ${parts.map(_._1)})")
    }
  }

  test("insertDedup: re-inserting an identical batch is a no-op, new data still appends") {
    import spark.implicits._
    val dir = tmpDir("insdedup")
    def batch(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    def parts() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).map(_.getName).toSet
    batch(0, 100).write.format("clickhouse_native").mode("append").save(dir)
    val afterFirst = parts()
    assert(afterFirst.size === 1)
    // the exact same batch again, dedup on → part dropped at commit
    batch(0, 100).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(parts() === afterFirst, "identical re-insert must be a no-op")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 100)
    // different content with dedup on → appends normally
    batch(100, 150).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(parts().size === 2)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
    // dedup OFF (default) keeps duplicate inserts — append semantics unchanged
    batch(0, 100).write.format("clickhouse_native").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 250)
    // overwrite ignores dedup (old parts are doomed — nothing to dedup against)
    batch(0, 10).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("overwrite").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 10)
  }

  test("insertDedupToken scopes the dedup identity (CH insert_deduplication_token)") {
    import spark.implicits._
    val dir = tmpDir("insdeduptok")
    def batch() = (0 until 50).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    def write(token: String) = batch().write.format("clickhouse_native")
      .option("insertDedup", "true").option("insertDedupToken", token)
      .mode("append").save(dir)
    write("epoch-1")
    // RETRY of the same epoch: same token, same content → no-op
    write("epoch-1")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 50)
    // a LATER epoch with legitimately identical content: different
    // token → NOT a replay, must land (unscoped content dedup would
    // silently drop it — data loss)
    write("epoch-2")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 100)
    // tokened part never dedups against a token-less pre-existing part
    // and vice versa — "" is its own scope
    batch().write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
    // ...but a token-less re-insert dedups against the token-less part
    batch().write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
  }

  test("insertDedup: a sidecar hash match alone never deletes (collision safety)") {
    // FNV-1a-64 is a 64-bit non-crypto hash: a collision between NEW
    // content and an old part must not silently drop the new data —
    // deletion requires hash AND length AND byte-equality. Simulate
    // the collision by TAMPERING the old part's sidecar contentHash to
    // equal the incoming batch's hash; the contents differ (same byte
    // length, different bytes), so the byte-compare must keep the part.
    import spark.implicits._
    def batch(tag: String) = (0 until 100).map(i => (i.toLong, s"$tag$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    val dir = tmpDir("insdedup-collide")
    batch("row").write.format("clickhouse_native").mode("append").save(dir)
    // learn the hash the colliding batch will carry via a scratch write
    val scratch = tmpDir("insdedup-scratch")
    batch("qow").write.format("clickhouse_native").mode("append").save(scratch)
    def sidecarOf(d: String): java.io.File = {
      val f = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".clickhouse")).head
      new java.io.File(new java.io.File(d), s".${f.getName}.chidx")
    }
    val hashRe = "contentHash=([^,\\n]*)".r
    val scratchTxt = new String(java.nio.file.Files.readAllBytes(
      sidecarOf(scratch).toPath), "UTF-8")
    val qowHash = hashRe.findFirstMatchIn(scratchTxt).get.group(1)
    val oldSide = sidecarOf(dir)
    val oldTxt = new String(java.nio.file.Files.readAllBytes(oldSide.toPath), "UTF-8")
    assert(hashRe.findFirstMatchIn(oldTxt).get.group(1) !== qowHash,
      "fixture: the two batches must hash differently")
    java.nio.file.Files.write(oldSide.toPath,
      hashRe.replaceFirstIn(oldTxt, s"contentHash=$qowHash").getBytes("UTF-8"))
    // the raw rewrite invalidates Hadoop LocalFileSystem's checksum
    // shadow — drop it so readers see the tampered bytes, not an error
    val crc = new java.io.File(oldSide.getParentFile, s".${oldSide.getName}.crc")
    if (crc.exists()) crc.delete()
    // the "colliding" insert must APPEND, not vanish
    batch("qow").write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".clickhouse")) === 2,
      "hash-colliding but byte-different part was wrongly deduplicated")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 200)
  }

  test("mergeSchema unions heterogeneous part schemas; first-header stays default") {
    import spark.implicits._
    val dir = tmpDir("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("clickhouse_native").mode("append").save(dir)
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "name", "score")
      .write.format("clickhouse_native").mode("append").save(dir)
    // default read keeps the single-header contract (whichever file's
    // header wins, the read works — no silent union)
    val plain = spark.read.format("clickhouse_native").load(dir)
    assert(Set(2, 3).contains(plain.schema.length))
    // merged read: union schema, old rows null-fill the evolved column
    val merged = spark.read.format("clickhouse_native")
      .option("mergeSchema", "true").load(dir)
    assert(merged.schema.fieldNames.toSeq === Seq("id", "name", "score"))
    assert(merged.schema("score").nullable, "column absent from a part must be nullable")
    val rows = merged.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L))))
    // nested-nullability differences (containsNull) are a legitimate
    // union — widened, not a conflict (a literal-built array part vs a
    // collect_list part differ exactly this way)
    val dirN = tmpDir("evolve-nested")
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val rows1 = java.util.Arrays.asList(Row(1L, Seq(10L, 11L)))
    val rows2 = java.util.Arrays.asList(Row(2L, Seq(20L, null)))
    spark.createDataFrame(rows1, StructType(Seq(StructField("id", LongType),
        StructField("xs", ArrayType(LongType, containsNull = false)))))
      .write.format("clickhouse_native").mode("append").save(dirN)
    spark.createDataFrame(rows2, StructType(Seq(StructField("id", LongType),
        StructField("xs", ArrayType(LongType, containsNull = true)))))
      .write.format("clickhouse_native").mode("append").save(dirN)
    val mergedN = spark.read.format("clickhouse_native")
      .option("mergeSchema", "true").load(dirN)
    assert(mergedN.schema("xs").dataType === ArrayType(LongType, containsNull = true))
    assert(mergedN.count() === 2)
    // same-name type conflict fails loudly, never coerces
    val dir2 = tmpDir("evolve-conflict")
    Seq((1L, 10L)).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir2)
    Seq((2L, "s")).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir2)
    val e = intercept[IllegalArgumentException](
      spark.read.format("clickhouse_native").option("mergeSchema", "true")
        .load(dir2).schema)
    assert(e.getMessage.contains("type conflict"), e.getMessage)
    // same-name-MODULO-CASE across parts is the same loud-failure
    // class: 'id' + 'ID' would otherwise merge into two columns that
    // are ambiguous under Spark's default case-insensitive resolution
    val dir3 = tmpDir("evolve-case")
    Seq((1L, 10L)).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir3)
    Seq((2L, 20L)).toDF("ID", "w")
      .write.format("clickhouse_native").mode("append").save(dir3)
    val ec = intercept[IllegalArgumentException](
      spark.read.format("clickhouse_native").option("mergeSchema", "true")
        .load(dir3).schema)
    assert(ec.getMessage.contains("case-collision"), ec.getMessage)
  }
}
