package graft.sources.native

import graft.SparkTestBase

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * The `graft` catalog (TableCatalog + FunctionCatalog over the native
 * format) and its flagship scale feature: storage-partitioned joins.
 * Two tables bucketed with `bucket(n, key)` at WRITE time join with
 * zero shuffle at READ time — the 100-TB fact-fact join pays its
 * exchange once at ingest, never per query.
 */
class NativeCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  private def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case s: ShuffleExchangeLike => s +: s.children.flatMap(shuffles)
    case other => other.children.flatMap(shuffles)
  }

  private def executedShuffles(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    shuffles(df.queryExecution.executedPlan)
  }

  test("bucket function: bound result matches the writer's routing hash") {
    val longBound = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", LongType))))
      .asInstanceOf[GraftBucketBound]
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](8, 42L))
    assert(longBound.produceResult(r) === NativeBucket.ofLong(42L, 8))

    val strBound = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", StringType))))
      .asInstanceOf[GraftBucketBound]
    val rs = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](8, UTF8String.fromString("hello")))
    assert(strBound.produceResult(rs) ===
      NativeBucket.ofLong(graft.functions.TextHash.fnv1a64("hello"), 8))

    // int and long keys with the same value land in the same bucket
    val intBound = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", IntegerType))))
      .asInstanceOf[GraftBucketBound]
    val ri = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](8, 42))
    assert(intBound.produceResult(ri) === longBound.produceResult(r))
  }

  test("create / insert / select / drop through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.t1ns")
    spark.sql("DROP TABLE IF EXISTS graft.t1ns.people")
    spark.sql("CREATE TABLE graft.t1ns.people (id BIGINT, name STRING) USING clickhouse_native")
    spark.sql("INSERT INTO graft.t1ns.people VALUES (1, 'ada'), (2, 'grace'), (3, 'edsger')")
    val rows = spark.table("graft.t1ns.people").orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ada"), (2L, "grace"), (3L, "edsger")))
    // overwrite keeps the table (meta survives truncate)
    spark.sql("INSERT OVERWRITE graft.t1ns.people VALUES (9, 'barbara')")
    assert(spark.table("graft.t1ns.people").collect().map(_.getLong(0)).toSeq === Seq(9L))
    assert(spark.sql("SHOW TABLES IN graft.t1ns").collect().map(_.getString(1)).contains("people"))
    spark.sql("DROP TABLE graft.t1ns.people")
    assert(!spark.sql("SHOW TABLES IN graft.t1ns").collect().map(_.getString(1)).contains("people"))
  }

  test("bucketed insert writes single-bucket tagged files that read back complete") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.t2ns")
    spark.sql("DROP TABLE IF EXISTS graft.t2ns.fact")
    spark.sql("""CREATE TABLE graft.t2ns.fact (k BIGINT, v STRING)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(3) // arbitrary input distribution
      .writeTo("graft.t2ns.fact").append()

    val back = spark.table("graft.t2ns.fact")
    assert(back.count() === 1000)
    assert(back.agg(sum("k")).head.getLong(0) === (0L until 1000L).sum)

    // clustered write distribution: every bucket lands in ONE task, so
    // the insert produced at most one file per bucket — 4 total — even
    // though the input arrived in 3 arbitrary partitions
    // (RequiresDistributionAndOrdering on the bucketed Write)

    // every data file carries a bucket tag, and the rows inside match it
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[NativeCatalog]
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.graft.warehouse"), "t2ns/fact")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".clickhouse"))
    assert(dataFiles.nonEmpty)
    assert(dataFiles.length <= 4,
      s"clustered bucketed insert should write <= numBuckets files, got ${dataFiles.length}")
    dataFiles.foreach { f =>
      val tag = NativeBucket.bucketOfFile(f.getName)
      assert(tag.isDefined, s"untagged data file ${f.getName}")
      val ks = spark.read.format("clickhouse_native").load(f.toString)
        .select("k").as[Long].collect()
      assert(ks.forall(k => NativeBucket.ofLong(k, 4) === tag.get),
        s"file ${f.getName} holds foreign-bucket rows")
    }
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spj")
    Seq("orders", "items").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.spj.$t"))
    spark.sql("""CREATE TABLE graft.spj.orders (k BIGINT, amt DOUBLE)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    spark.sql("""CREATE TABLE graft.spj.items (k BIGINT, qty INT)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    (0L until 500L).map(i => (i, i * 1.5)).toDF("k", "amt")
      .writeTo("graft.spj.orders").append()
    (0L until 500L).filter(_ % 2 == 0).map(i => (i, i.toInt)).toDF("k", "qty")
      .writeTo("graft.spj.items").append()

    val a = spark.table("graft.spj.orders")
    val b = spark.table("graft.spj.items")
    // no aggregate on top: a global agg adds its own (legitimate)
    // single-partition exchange; the claim under test is the JOIN
    val joined = a.join(b, "k").select($"k", ($"amt" * $"qty").as("rev"))

    // broadcast would trivially avoid the shuffle — force a real join
    val prior = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rows =
      try {
        val ex = executedShuffles(joined)
        assert(ex.isEmpty,
          s"expected zero Exchange in a co-bucketed join, found: ${ex.map(_.nodeName)}")
        joined.collect()
      } finally prior match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    val expectedKeys = (0L until 500L).filter(_ % 2 == 0)
    assert(rows.length === expectedKeys.length)
    val expected = expectedKeys.map(i => i * 1.5 * i).sum
    assert(math.abs(rows.map(_.getDouble(1)).sum - expected) < 1e-6)
  }

  test("SPJ stays correct when one side is missing buckets, and string keys co-locate") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spj2")
    Seq("all", "sparse").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.spj2.$t"))
    spark.sql("""CREATE TABLE graft.spj2.all (k STRING, v INT)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    spark.sql("""CREATE TABLE graft.spj2.sparse (k STRING, w INT)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    val keys = (0 until 200).map(i => s"key_$i")
    keys.map(k => (k, 1)).toDF("k", "v").writeTo("graft.spj2.all").append()
    // sparse side: ONE key only → most buckets have no file at all
    Seq(("key_7", 9)).toDF("k", "w").writeTo("graft.spj2.sparse").append()

    val prior = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft.spj2.all").join(spark.table("graft.spj2.sparse"), "k")
      val rows = j.collect()
      assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ===
        Seq(("key_7", 1, 9)))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("empty bucketed table claims no layout (vacuous forall guard)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.empty")
    spark.sql("DROP TABLE IF EXISTS graft.empty.t")
    spark.sql("""CREATE TABLE graft.empty.t (k BIGINT, v INT)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    val df = spark.table("graft.empty.t")
    assert(df.count() === 0)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("KeyGroupedPartitioning"))
  }

  test("null container cells through catalog SQL INSERT degrade per the encoder contract") {
    // same degradation NativeSourceSpec pins at the encoder unit level
    // (ClickHouse has no Nullable(Array/Map/Tuple) → null cells become
    // the type's empty/default), asserted here at the USER-facing
    // surface: INSERT INTO graft.ns.t ... SELECT with null containers
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ncns")
    spark.sql("DROP TABLE IF EXISTS graft.ncns.containers")
    spark.sql("""CREATE TABLE graft.ncns.containers
        (id BIGINT, arr ARRAY<BIGINT>, m MAP<STRING, BIGINT>,
         st STRUCT<x: BIGINT, y: STRING>) USING clickhouse_native""")
    try {
      spark.sql("""INSERT INTO graft.ncns.containers
        SELECT * FROM VALUES
          (1L, array(1L, 2L), map('a', 1L), named_struct('x', 1L, 'y', 'p')),
          (2L, CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS MAP<STRING, BIGINT>),
               CAST(NULL AS STRUCT<x: BIGINT, y: STRING>))""")
      val back = spark.table("graft.ncns.containers").orderBy("id").collect()
      assert(back(0).getSeq[Long](1) === Seq(1L, 2L))
      assert(back(0).getMap[String, Long](2) === Map("a" -> 1L))
      assert(back(1).getSeq[Long](1) === Seq.empty)      // null -> []
      assert(back(1).getMap[String, Long](2).isEmpty)    // null -> {}
      val st = back(1).getStruct(3)
      assert(st.isNullAt(0) && st.isNullAt(1))           // null -> all-null fields
    } finally spark.sql("DROP TABLE IF EXISTS graft.ncns.containers")
  }

  test("duplicate CREATE NAMESPACE throws per the SupportsNamespaces contract") {
    spark.sql("DROP NAMESPACE IF EXISTS graft.dupns")
    spark.sql("CREATE NAMESPACE graft.dupns")
    intercept[Exception](spark.sql("CREATE NAMESPACE graft.dupns"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dupns") // no error
  }

  test("stale bucket tags from a wider layout degrade to unknown, not wrong co-location") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stale")
    spark.sql("DROP TABLE IF EXISTS graft.stale.t")
    spark.sql("""CREATE TABLE graft.stale.t (k BIGINT, v INT)
                 USING clickhouse_native PARTITIONED BY (bucket(2, k))""")
    (0L until 100L).map(i => (i, 1)).toDF("k", "v").writeTo("graft.stale.t").append()
    // simulate files from an OLD wider layout: rename one part to bucket 7
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new org.apache.hadoop.fs.Path(wh, "stale/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".clickhouse")).head
    val renamed = new org.apache.hadoop.fs.Path(dir,
      part.getName.replaceFirst("b0000\\d-", "b00007-"))
    assert(fs.rename(part, renamed))
    val idx = NativeIndex.sidecarPath(part)
    if (fs.exists(idx)) fs.rename(idx, NativeIndex.sidecarPath(renamed))

    // table still reads completely; the scan must NOT claim key-grouped
    // layout (tag 7 >= numBuckets 2)
    val df = spark.table("graft.stale.t")
    assert(df.count() === 100)
    df.collect()
    val scanPartitioning = df.queryExecution.executedPlan.toString
    assert(!scanPartitioning.contains("KeyGroupedPartitioning"))
  }

  test("sortBy table property orders blocks so zone maps prune range scans") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sorted")
    spark.sql("DROP TABLE IF EXISTS graft.sorted.ev")
    spark.sql("""CREATE TABLE graft.sorted.ev (ts BIGINT, v STRING)
                 USING clickhouse_native TBLPROPERTIES ('sortBy'='ts')""")
    // one task, values arriving in pseudo-random order — requiredOrdering
    // must sort them before the writer sees a row
    spark.range(0, 400000)
      .select(pmod(col("id") * 2654435761L, lit(400000L)).as("ts"),
        concat(lit("v"), col("id")).as("v"))
      .coalesce(1)
      .writeTo("graft.sorted.ev").append()

    val hit = spark.table("graft.sorted.ev").filter(col("ts") === 123L)
    assert(hit.count() >= 1)
    // the scan behind the filter decodes ONE 65536-row block, not 400k
    val scan = spark.table("graft.sorted.ev").filter(col("ts") === 123L)
    scan.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    val b = scans(scan.queryExecution.executedPlan).head
    assert(b.metrics("numOutputRows").value <= 65536L,
      s"sorted table point query should decode one block, read ${b.metrics("numOutputRows").value}")
  }

  test("write plans: no exchange or sort when unbucketed, one local sort for sortBy, clustering when bucketed") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wplan")
    Seq("plain", "sorted", "bucketed").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.wplan.$t"))
    spark.sql("CREATE TABLE graft.wplan.plain (k BIGINT, v STRING) USING clickhouse_native")
    spark.sql("""CREATE TABLE graft.wplan.sorted (k BIGINT, v STRING)
                 USING clickhouse_native TBLPROPERTIES ('sortBy'='k')""")
    spark.sql("""CREATE TABLE graft.wplan.bucketed (k BIGINT, v STRING)
                 USING clickhouse_native PARTITIONED BY (bucket(4, k))""")
    // the physical plan of the write command, below the write node
    def writeInput(table: String): Seq[SparkPlan] = SparkTestBase.withAqeDisabled {
      val insert = spark.sql(
        // keys out of order, so a required sort cannot be elided as redundant
        s"INSERT INTO graft.wplan.$table SELECT (id * 37) % 100 AS k, CAST(id AS STRING) AS v " +
          "FROM range(100)")
      val plan = insert.queryExecution.executedPlan.collectFirst {
        case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      }.getOrElse(insert.queryExecution.executedPlan)
      val write = SparkTestBase.walkPlan(plan).collectFirst { case w: V2TableWriteExec => w }
        .getOrElse(fail(s"no V2 write node in:\n$plan"))
      SparkTestBase.walkPlan(write.query)
    }
    val plain = writeInput("plain")
    assert(!plain.exists(p => p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[SortExec]),
      plain.head.toString)
    val sorted = writeInput("sorted")
    val sorts = sorted.collect { case s: SortExec => s }
    assert(sorts.length === 1 && !sorts.head.global, sorted.head.toString)
    assert(!sorted.exists(_.isInstanceOf[ShuffleExchangeLike]), sorted.head.toString)
    val bucketed = writeInput("bucketed")
    assert(bucketed.exists(_.isInstanceOf[ShuffleExchangeLike]), bucketed.head.toString)
    assert(spark.table("graft.wplan.sorted").count() === 100)
    assert(spark.table("graft.wplan.bucketed").count() === 100)
  }

  test("unbucketed catalog tables still join correctly (no layout claims)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.plain")
    Seq("l", "r").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.plain.$t"))
    spark.sql("CREATE TABLE graft.plain.l (k BIGINT, x INT) USING clickhouse_native")
    spark.sql("CREATE TABLE graft.plain.r (k BIGINT, y INT) USING clickhouse_native")
    (0L until 100L).map(i => (i, i.toInt)).toDF("k", "x").writeTo("graft.plain.l").append()
    (0L until 100L).map(i => (i, -i.toInt)).toDF("k", "y").writeTo("graft.plain.r").append()
    val j = spark.table("graft.plain.l").join(spark.table("graft.plain.r"), "k")

    // negative control for the SPJ test's shuffle detector: the same
    // join WITHOUT bucket layout must show exchanges (broadcast off)
    val prior = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ex = executedShuffles(j)
      assert(ex.nonEmpty, "unbucketed join should shuffle — detector broken?")
      assert(j.count() === 100)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("a bucket file that lands after the scan listed is in neither its layout nor its partitions") {
    import org.apache.spark.sql.connector.read.{Scan, SupportsReportPartitioning,
      SupportsRuntimeFiltering}
    import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
    import org.apache.spark.sql.sources.{Filter, In}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    // tagged files whose content is never opened: layout and partition
    // planning only look at names and lengths
    def drop(name: String): Unit = {
      val out = new java.io.FileOutputStream(new java.io.File(dir, name))
      out.write(Array.fill[Byte](64)(1)); out.close()
    }
    drop(NativeBucket.filePrefix(0) + "part-00000-1-aaaa-000.clickhouse")
    val schema = StructType(Seq(StructField("k", LongType)))
    def newScan() = new NativeScanBuilder(schema, Seq(dir), bucket = Some(("k", 4))).build()
    def groups(scan: Scan): Int =
      scan.asInstanceOf[SupportsReportPartitioning].outputPartitioning() match {
        case k: KeyGroupedPartitioning => k.numPartitions()
        case other => fail(s"expected key-grouped layout, got $other")
      }
    def bucketsOf(scan: Scan): Seq[Int] =
      scan.toBatch.planInputPartitions().map(_.asInstanceOf[NativeInputPartition].bucketId).toSeq
    val scan = newScan()
    assert(groups(scan) === 1)
    // concurrent ingest lands a new bucket id and an untagged file
    drop(NativeBucket.filePrefix(2) + "part-00000-1-bbbb-000.clickhouse")
    drop("foreign.clickhouse")
    assert(bucketsOf(scan) === Seq(0))
    // the runtime-filter re-plan reads the same listing
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(Array[Filter](In("k", Array[Any](1L, 2L))))
    assert(bucketsOf(scan) === Seq(0))
    assert(groups(scan) === 1)
    // the next scan lists again: the untagged file degrades its layout
    assert(!newScan().asInstanceOf[SupportsReportPartitioning].outputPartitioning()
      .isInstanceOf[KeyGroupedPartitioning])
    assert(new java.io.File(dir, "foreign.clickhouse").delete())
    val next = newScan()
    assert(groups(next) === 2 && bucketsOf(next).sorted === Seq(0, 2))
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old parts read as null") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evons")
    spark.sql("DROP TABLE IF EXISTS graft.evons.docs")
    spark.sql("CREATE TABLE graft.evons.docs (id BIGINT, name STRING) USING clickhouse_native")
    spark.sql("INSERT INTO graft.evons.docs VALUES (1, 'ada'), (2, 'grace')")
    // count the parts BEFORE the alter — the alter must not touch them
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(s"$warehouse/evons/docs")
    def parts() = dir.listFiles().filter(_.getName.endsWith(".clickhouse"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = parts()
    spark.sql("ALTER TABLE graft.evons.docs ADD COLUMN score BIGINT")
    assert(parts() === before, "ADD COLUMN must be metadata-only (no part rewritten)")
    // old rows null-fill; new inserts carry the column
    spark.sql("INSERT INTO graft.evons.docs VALUES (3, 'edsger', 99)")
    val got = spark.sql("SELECT id, name, score FROM graft.evons.docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.toSeq === Seq((1L, "ada", None), (2L, "grace", None),
      (3L, "edsger", Some(99L))))
    // filters on the evolved column work across heterogeneous parts
    assert(spark.sql(
      "SELECT count(*) FROM graft.evons.docs WHERE score IS NULL").head().getLong(0) === 2)
    assert(spark.sql(
      "SELECT id FROM graft.evons.docs WHERE score = 99").head().getLong(0) === 3)
    // the meta rewrite is write-temp + rename (crash between truncate
    // and store must never leave a torn meta): no tmp residue remains
    // and the meta file parses with the evolved schema
    assert(!dir.listFiles().exists(_.getName.contains(".tmp-")),
      "alterTable left a temp meta file behind")
    val metaProps = new java.util.Properties()
    val in = new java.io.FileInputStream(new java.io.File(dir, "_graft_table.meta"))
    try metaProps.load(in) finally in.close()
    assert(org.apache.spark.sql.types.DataType.fromJson(metaProps.getProperty("schema"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("id", "name", "score"))
    // duplicate column and unsupported shapes fail loudly
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE graft.evons.docs ADD COLUMN score BIGINT"))
    assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)
    val drop = intercept[Exception](
      spark.sql("ALTER TABLE graft.evons.docs DROP COLUMN name"))
    assert(drop.getMessage.toLowerCase.contains("not supported"), drop.getMessage)
    spark.sql("DROP TABLE graft.evons.docs")
  }

  test("alterTable crash window: meta stranded at backup name recovers on load") {
    // simulate a crash between rename(meta, bak) and rename(tmp, meta):
    // the table dir has NO meta file, only the deterministic backup.
    // loadTable/tableExists must restore it rather than report NoSuchTable.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evons")
    spark.sql("DROP TABLE IF EXISTS graft.evons.crashy")
    spark.sql("CREATE TABLE graft.evons.crashy (id BIGINT, name STRING) USING clickhouse_native")
    spark.sql("INSERT INTO graft.evons.crashy VALUES (1, 'ada')")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(s"$warehouse/evons/crashy")
    val meta = new java.io.File(dir, "_graft_table.meta")
    val bak = new java.io.File(dir, "_graft_table.meta.bak")
    assert(meta.renameTo(bak) && !meta.exists())
    // recovery is transparent: the query plans and returns the row,
    // the meta file is back, the backup consumed
    assert(spark.sql("SELECT id, name FROM graft.evons.crashy").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "ada")))
    assert(meta.exists() && !bak.exists(), "recoverMeta must restore meta and consume the backup")
    // benign residue (completed swap, backup delete lost): live meta wins
    val stale = new java.io.FileOutputStream(bak)
    try stale.write("schema=GARBAGE".getBytes) finally stale.close()
    assert(spark.sql("SELECT count(*) FROM graft.evons.crashy").head().getLong(0) === 1L)
    spark.sql("DROP TABLE graft.evons.crashy")
  }

  test("crash-stranded table recovers at every catalog entry point (list/create/rename/drop)") {
    // recoverMeta must run from ALL public table paths, not just
    // load/exists: before this, a stranded table vanished from SHOW
    // TABLES, DROP returned false, RENAME threw NoSuchTable, and a
    // direct createTable would write a fresh meta OVER its data parts.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evons")
    spark.sql("DROP TABLE IF EXISTS graft.evons.strand")
    spark.sql("DROP TABLE IF EXISTS graft.evons.strand2")
    spark.sql("CREATE TABLE graft.evons.strand (id BIGINT) USING clickhouse_native")
    spark.sql("INSERT INTO graft.evons.strand VALUES (7)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val dir = new java.io.File(s"$warehouse/evons/strand")
    val meta = new java.io.File(dir, "_graft_table.meta")
    val bak = new java.io.File(dir, "_graft_table.meta.bak")
    def strand(): Unit = assert(meta.exists() && meta.renameTo(bak))

    // listTables: the stranded table is still listed (and repaired)
    strand()
    val listed = spark.sql("SHOW TABLES IN graft.evons").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("strand"), s"stranded table missing from $listed")
    assert(meta.exists() && !bak.exists())

    // createTable: a stranded table must collide, never get a fresh
    // meta written over its existing data parts
    strand()
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graft.evons.strand (x INT) USING clickhouse_native"))
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    assert(spark.sql("SELECT id FROM graft.evons.strand").head().getLong(0) === 7L,
      "original data must survive the rejected CREATE")

    // renameTable: finds and moves the stranded table. NOTE the target
    // is NOT catalog-qualified: Spark parses the RENAME TO name as a
    // multipart identifier WITHIN the source's catalog, so
    // "graft.evons.strand2" would mean namespace [graft, evons] — a
    // namespace that doesn't exist, which renameTable now rejects
    // (pinned below) instead of silently creating
    val badNs = intercept[Exception](spark.sql(
      "ALTER TABLE graft.evons.strand RENAME TO graft.evons.strand2"))
    assert(badNs.getMessage.toLowerCase.matches("(?s).*(schema|namespace).*not.*found.*"),
      badNs.getMessage)
    strand()
    spark.sql("ALTER TABLE graft.evons.strand RENAME TO evons.strand2")
    assert(spark.sql("SELECT id FROM graft.evons.strand2").head().getLong(0) === 7L)

    // dropTable: deletes the stranded table instead of returning false
    val dir2 = new java.io.File(s"$warehouse/evons/strand2")
    val meta2 = new java.io.File(dir2, "_graft_table.meta")
    assert(meta2.renameTo(new java.io.File(dir2, "_graft_table.meta.bak")))
    spark.sql("DROP TABLE graft.evons.strand2")
    assert(!dir2.exists(), "dropTable must remove the stranded table dir")
  }

  test("mutations preserve an evolved column across heterogeneous parts") {
    // the regression the mergeSchema loads in NativeTableOps prevent:
    // a DELETE whose rewrite set spans pre- and post-ALTER parts must
    // not silently drop the added column from the newer parts
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evons")
    spark.sql("DROP TABLE IF EXISTS graft.evons.mut")
    spark.sql("CREATE TABLE graft.evons.mut (id BIGINT, name STRING) USING clickhouse_native")
    spark.sql("INSERT INTO graft.evons.mut VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft.evons.mut ADD COLUMN score BIGINT")
    spark.sql("INSERT INTO graft.evons.mut VALUES (3, 'c', 30), (4, 'd', 40)")
    val warehouse = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val srcDir = s"$warehouse/evons/mut"
    val dstDir = java.nio.file.Files.createTempDirectory("graft-evo-mut").toString + "/out"
    NativeTableOps.mutateDelete(spark, srcDir, dstDir,
      org.apache.spark.sql.functions.col("id") === 2)
    val out = spark.read.format("clickhouse_native").option("mergeSchema", "true")
      .load(dstDir).orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(r.fieldIndex("score"))) None
        else Some(r.getLong(r.fieldIndex("score")))))
    assert(out.toSeq === Seq((1L, None), (3L, Some(30L)), (4L, Some(40L))))
    spark.sql("DROP TABLE graft.evons.mut")
  }
}
