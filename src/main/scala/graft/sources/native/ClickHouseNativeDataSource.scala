package graft.sources.native

import java.io.IOException
import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{aggregate, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * `clickhouse_native` DataSource V2 — the Spark-native re-expression of
 * the reference's `clickhouse_native(filepath)` DuckDB table function
 * (reference src/lib.rs:240-366).
 *
 *   spark.read.format("clickhouse_native").load(path)    // path|glob|dir
 *   df.write.format("clickhouse_native").mode("append"|"overwrite").save(path)
 *
 * Differences from the reference, by design (SURVEY §3.1/§4.2):
 *  - schema inference reads only the first block's headers, not the
 *    whole file twice (ref binds AND inits with full parses,
 *    src/lib.rs:251, :271-274), and the part snapshot it lists (each
 *    sidecar it parsed included) serves the bound table's first scan:
 *    one listing per query, as Spark's own file index lists once at
 *    bind;
 *  - data streams block-by-block in executors — nothing is ever
 *    materialized on the driver;
 *  - a directory/glob of native files scans in parallel across
 *    executors; files carrying a [[NativeIndex]] sidecar (everything
 *    our writer produces) additionally split INTRA-file into block
 *    ranges sized by Spark's file-split rule — foreign files without
 *    one fall back to a single partition (the raw format has no
 *    discoverable split points — "full-scans at this time", README.md:51);
 *  - blocks decode straight into ColumnarBatches ([[ColumnarDecoder]]);
 *    column pruning is pushed into the block decoder
 *    (SupportsPushDownRequiredColumns → skip-decode), limit pushdown
 *    stops block iteration early (SupportsPushDownLimit);
 *  - a writer exists (the reference only reads; files had to come from
 *    `clickhouse-local ... FORMAT Native`, README.md:43-47).
 */
class ClickHouseNativeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "clickhouse_native"

  override def supportsExternalMetadata(): Boolean = true

  /** The paths [[inferSchema]] bound and the part snapshot it listed,
    * until the [[getTable]] call of the same bind takes them. */
  @volatile private var bound: Option[(Seq[String], Seq[NativePart])] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = NativeIO.paths(options)
    val files = NativeIO.snapshot(paths, NativeIO.sessionHadoopConf())
    bound = Some(paths -> files)
    NativeIO.schemaOf(paths, files, options.getBoolean("mergeSchema", false))
  }

  /** The table of one bind. After [[inferSchema]] the table carries
    * that listing for its first scan; with a user-given schema its
    * scans list for themselves. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val paths = NativeIO.paths(new CaseInsensitiveStringMap(properties))
    val listed = bound.collect { case (p, parts) if p == paths => parts }
    bound = None
    new NativeTable(schema, paths, listed = listed)
  }
}

private[sources] object NativeIO {
  /**
   * Session Hadoop configuration (S3/GCS credentials, fs.* settings) —
   * driver-side capture; ship to executors via [[SerializableHadoopConf]].
   * Bare `new Configuration()` would silently drop all of it.
   */
  def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession.map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Extract load paths from options ("path" or JSON-array "paths"). */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { json =>
      // minimal JSON string-array parse: ["a","b"]
      json.trim.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /**
   * One listing of `paths` — dirs and globs expanded to their data
   * files, name-sorted — as a part snapshot: the only way native code
   * lists a table. Each part reads its sidecar and header on first
   * use, so everything planned from one snapshot probes a part once.
   */
  def snapshot(paths: Seq[String], conf: Configuration): Seq[NativePart] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        else Seq(st)
      }
    }.sortBy(_.getPath.toString).map(new NativePart(_, conf))

  /**
   * The schema of a part snapshot `files` of `paths`: the first
   * readable block header, or with `mergeSchema` the union of every
   * readable header. Reads each part's header at most once (a bind
   * probes its parts; a maintenance rewrite reuses the probes).
   */
  def schemaOf(paths: Seq[String], files: Seq[NativePart], mergeSchema: Boolean): StructType = {
    if (files.isEmpty)
      // A typo'd path must fail loudly, not scan as 0 rows.
      throw new IllegalArgumentException(
        s"clickhouse_native: no files found for path(s): ${paths.mkString(", ")}")
    if (mergeSchema) {
      // Schema evolution: the UNION of every readable file header, in
      // first-seen column order — the layout a long-lived table has
      // after `ALTER TABLE ADD COLUMN` (old parts simply lack the new
      // column; the scan's decoder already null-fills absent
      // columns per block, and zone-map pruning keeps blocks whose
      // stats lack the column, so the merged schema is sufficient).
      // A column missing from ANY readable file must be nullable —
      // its rows from old parts ARE null. Same-name type conflicts
      // fail loudly: silent coercion would decode garbage.
      // Cost: one driver-side header read per file (the first block
      // header only, not data) — O(files) at bind time, the same
      // contract parquet's mergeSchema accepts. The sidecars it parses
      // for their declared compression serve the first scan's plan.
      val headers = files.map(f => f.status.getPath -> f.header)
        .filter(_._2.nonEmpty)
      if (headers.isEmpty)
        throw new IllegalArgumentException(
          s"clickhouse_native: ${files.length} file(s) matched but none has a " +
            s"readable block header (all empty/truncated?): ${paths.mkString(", ")}")
      // Recursive merge that widens NULLABILITY at every nesting level
      // (containsNull / valueContainsNull / struct-field nullability —
      // e.g. a literal-built array<bigint> part vs a collect_list
      // array<nullable bigint> part is a legitimate union, the same
      // widening parquet's mergeSchema performs) but refuses any BASE
      // type difference — silent coercion would decode garbage.
      def mergeTypes(a: DataType, b: DataType, name: String, p: Path): DataType =
        (a, b) match {
          case (x, y) if x == y => x
          case (ArrayType(ea, na), ArrayType(eb, nb)) =>
            ArrayType(mergeTypes(ea, eb, name, p), na || nb)
          case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
            MapType(mergeTypes(ka, kb, name, p), mergeTypes(va, vb, name, p), na || nb)
          case (StructType(fa), StructType(fb))
              if fa.map(_.name).sameElements(fb.map(_.name)) =>
            StructType(fa.zip(fb).map { case (x, y) =>
              StructField(x.name, mergeTypes(x.dataType, y.dataType, name, p),
                x.nullable || y.nullable)
            })
          case _ =>
            throw new IllegalArgumentException(
              s"clickhouse_native: mergeSchema type conflict on column '$name': " +
                s"${a.simpleString} vs ${b.simpleString} (in $p)")
        }
      val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
      // exact-name keyed, but same-name-MODULO-CASE across parts is a
      // loud conflict too: 'id' in one part and 'ID' in another would
      // merge into two distinct columns that Spark's default
      // case-insensitive resolution then can't disambiguate — the same
      // garbage-read class as a type conflict, so the same failure
      // policy (the catalog's equalsIgnoreCase guard only protects
      // catalog-managed tables, not path reads).
      val byLower = scala.collection.mutable.HashMap[String, String]()
      headers.foreach { case (p, header) =>
        header.foreach { case (name, t) =>
          byLower.get(name.toLowerCase(java.util.Locale.ROOT)) match {
            case Some(prior) if prior != name =>
              throw new IllegalArgumentException(
                s"clickhouse_native: mergeSchema case-collision: column '$name' " +
                  s"(in $p) differs only by case from '$prior' in another part — " +
                  "ambiguous under Spark's case-insensitive resolution")
            case _ => byLower(name.toLowerCase(java.util.Locale.ROOT)) = name
          }
          val f = StructField(name, t.sparkType, nullable = ChType.isNullable(t))
          order.get(name) match {
            case None => order(name) = f
            case Some(prev) => order(name) = StructField(prev.name,
              mergeTypes(prev.dataType, f.dataType, name, p),
              prev.nullable || f.nullable)
          }
        }
      }
      val merged = order.values.toSeq
      val universal = headers.map(_._2.map(_._1).toSet).reduce(_ intersect _)
      StructType(merged.map(f =>
        if (universal(f.name)) f else f.copy(nullable = true)))
    } else {
      // First file with a readable header wins (tolerates empty files
      // from other writers; our own writer no longer produces them).
      val header = files.iterator.map(_.header)
        .find(_.nonEmpty).getOrElse(
          // all files headerless → fail loudly, same policy as no-files
          throw new IllegalArgumentException(
            s"clickhouse_native: ${files.length} file(s) matched but none has a " +
              s"readable block header (all empty/truncated?): ${paths.mkString(", ")}"))
      StructType(header.map { case (name, t) =>
        StructField(name, t.sparkType, nullable = ChType.isNullable(t))
      })
    }
  }

  /** (rows, blocks) of one data file from a walk over its block
    * headers — no value is decoded. A corrupt or truncated file fails
    * with an IOException naming it. */
  def walkRowCount(p: Path, conf: Configuration): (Long, Int) = namingFile(p.toString) {
    val blocks = new NativeBlockReader(
      NativeCompression.maybeWrapRead(p.getFileSystem(conf).open(p), conf), Some(Set.empty))
    var rows = 0L
    var n = 0
    try while (blocks.hasNext) { rows += blocks.next().numRows; n += 1 }
    finally blocks.close()
    (rows, n)
  }

  /** Run `body`, rethrowing its IOException with `file` named. */
  def namingFile[T](file: String)(body: => T): T =
    try body
    catch {
      case e: IOException =>
        throw new IOException(
          s"clickhouse_native: corrupt or truncated file $file: ${e.getMessage}", e)
    }
}

/**
 * A native table of one bind. `listed` is the part snapshot that bind
 * took (schema inference, or the parts a maintenance rewrite holds),
 * if any. The first scan of the table takes it instead of listing
 * again; every later scan lists for itself, so a query run after an
 * append sees the new part.
 */
private[native] class NativeTable(tableSchema: StructType, paths: Seq[String],
    bucket: Option[(String, Int)] = None, tableProps: Map[String, String] = Map.empty,
    displayName: Option[String] = None, private[native] val listed: Option[Seq[NativePart]] = None)
    extends Table with SupportsRead with SupportsWrite {
  private val unclaimed = new java.util.concurrent.atomic.AtomicReference(listed)

  override def name(): String =
    displayName.getOrElse(s"clickhouse_native(${paths.mkString(",")})")
  override def schema(): StructType = tableSchema

  /** Catalog tables may be hash-bucketed: layout metadata for Catalyst. */
  override def partitioning(): Array[Transform] =
    bucket.map { case (col, n) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)
    }.toArray
  // NOT ACCEPT_ANY_SCHEMA: with it, Spark skips resolving an INSERT's
  // input columns against the table schema, so `INSERT INTO t VALUES`
  // wrote files whose columns were named col1/col2/... — which the
  // by-name reader then resolved to all-null. Without it, Spark
  // reorders/renames/casts the input to this schema before the writer
  // ever sees a row.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NativeScanBuilder(tableSchema, paths, bucket, () => unclaimed.getAndSet(None))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new NativeWriteBuilder(NativeWriteOptions.parse(info.schema(),
      paths.headOption.getOrElse(
        throw new IllegalArgumentException("clickhouse_native write requires a path")),
      bucket,
      // write option with table-property fallback (catalog tables persist defaults)
      key => Option(info.options.get(key)).orElse(tableProps.get(key))))
}

private[native] class NativeScanBuilder(fullSchema: StructType, paths: Seq[String],
    bucket: Option[(String, Int)] = None, listed: () => Option[Seq[NativePart]] = () => None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var limit: Int = -1
  private var countStar = false
  private var prunableFilters: Array[Filter] = Array.empty
  private val conf = new SerializableHadoopConf(NativeIO.sessionHadoopConf())

  /** The query's one listing, taken on first use: the table's bind
    * snapshot when there is one, else this builder's own. Whichever
    * scan the builder builds reads it. */
  private lazy val parts: Seq[NativePart] =
    listed().getOrElse(NativeIO.snapshot(paths, conf.value))

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Catalyst hands us exactly the referenced columns; decode only those.
    required = requiredSchema
  }

  override def pushLimit(l: Int): Boolean = { limit = l; false /* keep host-side limit too */ }

  /**
   * Filters are used for ZONE-MAP pruning only (skip blocks/files whose
   * sidecar min/max can't satisfy them) — every filter is returned as
   * residual, so Spark still evaluates them row-by-row and semantics
   * never depend on sidecar correctness. `pushedFilters` reports just
   * the ones pruning can actually use, which is what EXPLAIN shows.
   */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    prunableFilters = filters.filter(NativeIndex.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = prunableFilters

  /**
   * `count(*)` answers on the driver from part metadata, as ClickHouse's
   * `optimize_trivial_count_query` does: when every part of the
   * snapshot carries a valid sidecar, the count is the sum of their
   * recorded row counts — a complete pushdown to a one-row local scan
   * that no executor reads a file for. Otherwise the pushdown is
   * declined and Spark counts through the ordinary scan with an empty
   * projection, which skips through each block without decoding a value.
   */
  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    limit < 0 && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[aggregate.CountStar] &&
      parts.forall(_.rowCount.isDefined)

  override def pushAggregation(agg: aggregate.Aggregation): Boolean = {
    countStar = supportCompletePushDown(agg)
    countStar
  }

  override def build(): Scan =
    if (countStar) new NativeCountScan(paths, parts.flatMap(_.rowCount).sum)
    else new NativeScan(fullSchema, required, paths, limit, conf, prunableFilters, bucket,
      () => Some(parts))
}

/**
 * Micro-batch streaming over a directory of Native part files — the
 * FileStreamSource pattern for our own format: each trigger picks up
 * part files that appeared since the last committed offset (files are
 * immutable once visible, the contract our rotating writer satisfies).
 *
 * The offset is an index into a DISCOVERY-ORDER file log persisted
 * under the checkpoint location. Slicing a name-sorted listing by
 * count would be wrong: a later batch's files can sort BEFORE earlier
 * ones (task ids interleave across partitions), which would re-read
 * old files and skip new ones. The log pins each file to a stable
 * index at discovery time and survives checkpoint restart.
 *
 * The log is APPEND-ONLY: a directory of immutable segment files, one
 * per discovery batch, each named by the index of its first file
 * (HDFSMetadataLog-style). Nothing existing is ever rewritten or
 * deleted, so a driver crash at any point leaves every previously
 * committed index mapping intact — the exactly-once guarantee rests on
 * that. If the checkpoint says files were discovered but the log can't
 * produce them, planning FAILS instead of silently re-listing (a fresh
 * listing can order files differently and misalign every offset).
 */
private[native] case class NativeFilesOffset(fileCount: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = fileCount.toString
}

private[native] class NativeMicroBatchStream(required: StructType, paths: Seq[String],
    conf: SerializableHadoopConf, checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val logDir = new Path(checkpointLocation, "graft-file-log")
  // discovery-order log: index -> file; loaded once, appended as files appear
  private val discovered = scala.collection.mutable.ArrayBuffer.empty[String]
  private val known = scala.collection.mutable.HashSet.empty[String]
  loadLog()

  /** Load every committed segment, in start-index order. */
  private def loadLog(): Unit = {
    val fs = logDir.getFileSystem(conf.value)
    if (fs.exists(logDir)) {
      val segments = fs.listStatus(logDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.forall(_.isDigit))
        .sortBy(_.getPath.getName.toLong)
      segments.foreach { st =>
        val start = st.getPath.getName.toLong
        if (start != discovered.length)
          throw new IllegalStateException(
            s"clickhouse_native streaming: discovery log corrupt at $logDir — " +
              s"segment ${st.getPath.getName} should start at index ${discovered.length}. " +
              "Offsets cannot be trusted; restore the checkpoint or start a new one.")
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(st.getPath), java.nio.charset.StandardCharsets.UTF_8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) { known += line; discovered += line }
            line = in.readLine()
          }
        } finally in.close()
      }
    }
  }

  private def refresh(): Unit = {
    val listed = NativeIO.snapshot(paths, conf.value).map(_.status.getPath.toString)
    val fresh = listed.filterNot(known.contains)
    if (fresh.nonEmpty) {
      // one new immutable segment per discovery batch, named by the
      // index of its first file; write to a dotted temp (invisible to
      // loadLog) and rename into place, CHECKING the result — a failed
      // rename must fail the batch, not silently drop the mapping
      val fs = logDir.getFileSystem(conf.value)
      fs.mkdirs(logDir)
      val seg = new Path(logDir, discovered.length.toString)
      if (fs.exists(seg))
        throw new IllegalStateException(
          s"clickhouse_native streaming: segment $seg already exists — " +
            "two drivers appear to share this checkpoint")
      val tmp = new Path(logDir, s".${discovered.length}.tmp")
      val out = fs.create(tmp, true)
      try out.write((fresh.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, seg))
        throw new java.io.IOException(
          s"clickhouse_native streaming: failed to commit discovery segment $seg")
      fresh.foreach { f => known += f; discovered += f }
    }
  }

  override def initialOffset(): Offset = NativeFilesOffset(0L)
  override def latestOffset(): Offset = { refresh(); NativeFilesOffset(discovered.length.toLong) }
  override def deserializeOffset(json: String): Offset = NativeFilesOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NativeFilesOffset].fileCount.toInt
    val e = end.asInstanceOf[NativeFilesOffset].fileCount.toInt
    if (e > discovered.length)
      // the checkpoint advanced past what the log can reproduce → the
      // log was lost; re-listing could assign different indices, which
      // silently skips or re-reads files. Refuse.
      throw new IllegalStateException(
        s"clickhouse_native streaming: offset $e exceeds the ${discovered.length} " +
          s"file(s) in the discovery log at $logDir — log lost or truncated; " +
          "cannot replay without risking duplicate or skipped files")
    discovered.slice(s, e).map(f => NativeInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NativeReaderFactory(required, -1, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The scan a pushed `count(*)` builds: one row, answered on the driver. */
private[native] class NativeCountScan(paths: Seq[String], count: Long) extends LocalScan {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count", LongType, nullable = false)))
  override def rows(): Array[InternalRow] = Array(new GenericInternalRow(Array[Any](count)))
  override def description(): String = s"clickhouse_native count(*) ${paths.mkString(",")}"
}

private[native] class NativeScan(fullSchema: StructType, required: StructType,
    paths: Seq[String], limit: Int, conf: SerializableHadoopConf,
    private[native] val zoneFilters: Array[Filter] = Array.empty,
    bucket: Option[(String, Int)] = None, listed: () => Option[Seq[NativePart]] = () => None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /**
   * The scan's one file listing, taken on first use — the snapshot
   * semantics of Spark's own file index. Layout, statistics and every
   * partition plan (including the re-plan after a runtime filter) read
   * it, so they always describe the same files; a file that lands after
   * the listing is seen by the next query, not half-seen by this one.
   * Each part parses its sidecar at most once, for all of them. The
   * snapshot `listed` hands over (the table's bind) replaces the listing.
   */
  private[native] lazy val parts: Seq[NativePart] =
    listed().getOrElse(NativeIO.snapshot(paths, conf.value))
  private def files: Seq[FileStatus] = parts.map(_.status)

  /**
   * Bucketed catalog tables report KeyGroupedPartitioning over
   * `bucket(n, col)` — the hook storage-partitioned joins hang off:
   * two native tables bucketed the same way on their join key plan
   * with ZERO Exchange (enable spark.sql.sources.v2.bucketing.enabled).
   * Guarded on every data file carrying a writer bucket tag, so a
   * table polluted with foreign files degrades to unknown layout, not
   * wrong co-location. At 100 TB this is THE fact-fact join strategy:
   * the shuffle happens once at ingest, never again per query.
   * Value: (column, bucket count, number of distinct bucket ids).
   */
  private lazy val bucketLayout: Option[(String, Int, Int)] =
    bucket.flatMap { case (col, n) =>
      val tags = files.map(st => NativeBucket.bucketOfFile(st.getPath.getName))
      // a tag >= n means the files were written under a DIFFERENT bucket
      // count (table recreated?) — claiming key-grouped layout then
      // would co-locate rows that do not share a key: degrade instead.
      // An EMPTY listing must also degrade: `forall` over nothing is
      // vacuously true.
      if (tags.nonEmpty && tags.forall(_.exists(_ < n))) Some((col, n, tags.flatten.distinct.size))
      else None
    }

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketLayout match {
      case Some((col, n, groups)) if required.fieldNames.contains(col) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)), groups)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /**
   * Runtime (dynamic-partition-pruning-style) filtering: after the
   * broadcast side of a join materializes, Spark hands this scan the
   * join-key values as an `In` filter and re-plans input partitions.
   * The values feed the SAME zone-map machinery as static pushdown, so
   * a fact-table scan joined to a filtered dimension reads only the
   * blocks whose sidecar [min,max] can hold a surviving key — on data
   * laid out by the join key, O(matching blocks) instead of a full
   * scan. Purely advisory: the join re-verifies every row, so a stale
   * sidecar can cost time, never correctness.
   */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // Only columns present in the PRUNED output: Spark resolves these
  // against the scan's readSchema, so a full-schema column that column
  // pruning removed would fail analysis ("Unable to resolve ...").
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] || f.dataType == StringType ||
        f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType || f.dataType == BooleanType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.filter(NativeIndex.prunable)
  }

  private def effectiveFilters: Array[Filter] = zoneFilters ++ runtimeFilters

  /**
   * Size statistics from file lengths (cheap driver-side metadata
   * call) so Catalyst's JoinSelection can broadcast a small native
   * table instead of shuffling both sides — without this every native
   * scan defaults to "unknown size" and joins pessimistically.
   */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val totalBytes: OptionalLong =
      if (files.isEmpty) OptionalLong.empty()
      else OptionalLong.of(files.map(_.getLen).sum)
    // Exact row count from the index sidecars — but only when EVERY
    // file has one (a partial sum would mislead the CBO low).
    private lazy val totalRows: OptionalLong =
      try {
        val counts = parts.map(_.rowCount)
        if (counts.nonEmpty && counts.forall(_.isDefined))
          OptionalLong.of(counts.flatten.sum)
        else OptionalLong.empty()
      } catch { case _: Exception => OptionalLong.empty() }
    override def sizeInBytes(): OptionalLong = totalBytes
    override def numRows(): OptionalLong = totalRows
  }
  override def description(): String =
    s"clickhouse_native ${paths.mkString(",")} cols=[${required.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (zoneFilters.nonEmpty) s" zonemap=[${zoneFilters.mkString(", ")}]" else "")

  /**
   * Split sizing is Spark's own file-scan rule
   * (`FilePartition.maxSplitBytes`): target = min(maxPartitionBytes,
   * max(openCostInBytes, totalBytes / minPartitionNum)), so a scan
   * fans out over the cores even when its files are far below
   * maxPartitionBytes. Files above the target that our writer indexed
   * ([[NativeIndex]] sidecar) split into block ranges of about that
   * size, cut at sidecar block offsets — the way Spark's parquet scan
   * splits on row groups; files at or below it plan one partition
   * without reading their sidecar, and foreign files without one
   * degrade to whole-file partitions.
   *
   * When filters were pushed, each block's sidecar zone maps are
   * tested first and blocks (or entire files) that cannot match plan
   * NO work — on data sorted by the filter column a point/range query
   * reads O(matching blocks). Pruning is advisory: every filter is
   * also a residual Spark re-evaluates per row. This is the one place
   * that decides which parts and blocks a predicate can touch: the
   * table-maintenance passes ([[NativeTableOps]]) ask it too.
   */
  override def planInputPartitions(): Array[InputPartition] = {
    val target = SparkSession.getActiveSession
      .map(FilePartition.maxSplitBytes(_, Seq(PartitionDirectory(InternalRow.empty, files.toArray))))
      .getOrElse(128L * 1024 * 1024)
    val pruning = effectiveFilters
    parts.flatMap { part =>
      val st = part.status
      val p = st.getPath
      // -1 when untagged; a bucketed layout is only claimed when every
      // listed file carries a tag, and partitions come from the same list
      val bucketId = NativeBucket.bucketOfFile(p.getName).getOrElse(-1)
      // small files skip the sidecar RPC unless filters could prune them
      if (st.getLen <= target && pruning.isEmpty)
        Seq(NativeInputPartition(p.toString, bucketId = bucketId))
      else part.index match {
        case Some((entries, meta)) =>
          // writer-declared compression rides the partition so executor
          // readers never sniff files this writer produced
          val declared = meta.get("compression")
          NativeIndex.splitRangesKeeping(entries, st.getLen, target,
            i => NativeIndex.blockMayMatch(entries(i).stats, pruning.toSeq)).map {
            case (offset, nBlocks, _) =>
              NativeInputPartition(p.toString, offset, nBlocks, bucketId, declared)
          }
        case None => Seq(NativeInputPartition(p.toString, bucketId = bucketId))
      }
    }.map(x => x: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NativeReaderFactory(required, limit, conf)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new NativeMicroBatchStream(required, paths, conf, checkpointLocation)
}

/**
 * One unit of scan work: a whole file (blockCount = -1), or — when the
 * file has a valid [[NativeIndex]] sidecar — a contiguous block range
 * starting at byte `start`, `blockCount` blocks long. `bucketId` >= 0
 * tags partitions of a bucketed table ([[HasPartitionKey]]) so Spark
 * can key-group them for storage-partitioned joins; -1 = unbucketed
 * (the key is only consulted when the scan reports key-grouped layout).
 */
private[native] case class NativeInputPartition(file: String, start: Long = 0L,
    blockCount: Int = -1, bucketId: Int = -1, compression: Option[String] = None)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** One listed data file of a snapshot ([[NativeIO.snapshot]]). Its
  * validated sidecar (block entries and writer meta, None when absent
  * or invalid) and its first block's (name, type) headers are each
  * read on first use and then kept. */
private[native] final class NativePart(val status: FileStatus, conf: Configuration) {
  private def fs = status.getPath.getFileSystem(conf)

  lazy val index: Option[(Array[NativeIndex.BlockEntry], Map[String, String])] =
    NativeIndex.readWithMeta(fs, status.getPath, status.getLen)

  /** The part's row count as its sidecar records it; None without a valid one. */
  def rowCount: Option[Long] = index.map(_._1.map(_.rows).sum)

  /** Read without touching data, with the compression the sidecar
    * declares — the authority the partition readers use — so files
    * this writer produced are never sniffed; an unreadable sidecar
    * means sniff. A corrupt header fails naming the file. */
  lazy val header: Seq[(String, ChType)] = NativeIO.namingFile(status.getPath.toString) {
    val declared = try index.flatMap(_._2.get("compression")) catch { case _: IOException => None }
    val in = NativeCompression.maybeWrapRead(fs.open(status.getPath), conf, declared)
    try NativeBlockReader.readHeader(in) finally in.close()
  }
}

private[native] class NativeReaderFactory(required: StructType, limit: Int,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  /**
   * Columnar for every schema: the wire format is already column-major
   * per block, so each block decodes straight into a ColumnarBatch
   * ([[ColumnarDecoder]]) — nested columns into child vectors — and
   * whole-stage codegen reads the vectors directly. A pushed limit is
   * counted in rows.
   */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = partition.asInstanceOf[NativeInputPartition]
    new BatchPartitionReader(required, limit, Some(part.file))(open(part, conf.value))
  }

  /** The row path over the same reader. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BatchRowReader(createColumnarReader(partition))

  /** One file's block range: seek to its first block (sidecar offsets
    * are frame boundaries), then read `blockCount` blocks. */
  private def open(part: NativeInputPartition, conf: Configuration): NativeBlockReader = {
    val path = new Path(part.file)
    val stream = path.getFileSystem(conf).open(path)
    try {
      if (part.start > 0) stream.seek(part.start)
      new NativeBlockReader(NativeCompression.maybeWrapRead(stream, conf, part.compression),
        None, part.blockCount)
    } catch { case e: Throwable => stream.close(); throw e }
  }
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

/**
 * Every write option, parsed and validated once at write-build time
 * ([[NativeTable.newWriteBuilder]]) and carried as one value from the
 * builder to each task writer. Field defaults are the option defaults.
 */
private[native] case class NativeWriteOptions(schema: StructType, path: String,
    maxRowsPerFile: Int = NativeWriteOptions.DefaultMaxRowsPerFile, dictEncode: Boolean = true,
    compression: String = "none", bucket: Option[(String, Int)] = None,
    sortBy: Seq[String] = Seq.empty, insertDedup: Boolean = false,
    dedupToken: String = "", typeOverrides: Map[String, String] = Map.empty)

private[native] object NativeWriteOptions {
  val DefaultMaxRowsPerFile: Int = 8 * 1024 * 1024

  /** Parse the write options `opt` yields (write option, else table property). */
  def parse(schema: StructType, path: String, bucket: Option[(String, Int)],
      opt: String => Option[String]): NativeWriteOptions = {
    // Validate at write-build time: 0/negative would rotate on every
    // row (one part file per input row at scale), and a non-numeric
    // value should name the option, not surface a bare
    // NumberFormatException from inside a task.
    val maxRows = opt("maxRowsPerFile").map { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"clickhouse_native write option maxRowsPerFile must be a positive integer, got '$v'"))
      if (n <= 0) throw new IllegalArgumentException(
        s"clickhouse_native write option maxRowsPerFile must be > 0, got $n")
      n
    }.getOrElse(DefaultMaxRowsPerFile)
    val dictEncode = opt("dictionaryEncode").getOrElse("auto") match {
      case "auto" => true
      case "off" => false
      case other => throw new IllegalArgumentException(
        s"clickhouse_native write option dictionaryEncode must be 'auto' or 'off', got '$other'")
    }
    val compression = opt("compression").getOrElse("none")
    NativeCompression.methodFor(compression) // validate at plan time
    // sortBy (option or table property): comma-separated columns the
    // incoming rows are sorted by per write task BEFORE the writer
    // runs — block zone maps over a sorted layout prune range/point
    // queries to O(matching blocks) instead of "all blocks overlap".
    val sortBy = opt("sortBy").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val insertDedup = opt("insertDedup").getOrElse("false") match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"clickhouse_native write option insertDedup must be 'true' or 'false', got '$other'")
    }
    // dedup-identity scope (CH's insert_deduplication_token): when set,
    // a new part only dedups against pre-existing parts carrying the
    // SAME token — so two epochs/jobs with legitimately identical
    // content both land, while a RETRY of one job (same token) stays a
    // no-op. Empty (default) = pure content identity, as before.
    val insertDedupToken = opt("insertDedupToken").getOrElse("")
    // columnTypes: declare columns as CH types the writer cannot infer
    // from Spark's type system — the CAST-at-insert ETL idiom. Uses:
    // STRING columns as UUID / IPv4 / IPv6 (16/4/16-byte binary on the
    // wire instead of var-length text), Enum8/Enum16 (1/2-byte codes),
    // or FixedString(n) (NUL-padded fixed slots; too-long values fail
    // the write like a CH INSERT); decode returns the same strings.
    // Entries split at
    // TOP-LEVEL commas only — an Enum declaration's own commas stay
    // inside it. Validated here so a typo is one clean plan-time error.
    val typeOverrides: Map[String, String] =
      opt("columnTypes").map(ChType.splitTopLevel(_).map(_.trim).filter(_.nonEmpty)
        .map { e =>
          val i = e.indexOf(':')
          if (i <= 0 || i == e.length - 1) throw new IllegalArgumentException(
            s"clickhouse_native write option columnTypes: expected 'col:Type', got '$e'")
          val (c, tn) = (e.substring(0, i).trim, e.substring(i + 1).trim)
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"clickhouse_native columnTypes: column '$c' not in write schema"))
          val parsed = ChType.parse(tn)
          // read-only types: wide ints / wide decimals decode to exact
          // strings but have no encoder (no Spark source type for them)
          if (parsed.isInstanceOf[ChType.ChUnsupported] ||
              parsed.isInstanceOf[ChType.ChBigInt] ||
              parsed.isInstanceOf[ChType.ChWideDecimal])
            throw new IllegalArgumentException(
              s"clickhouse_native columnTypes: type '$tn' is not writable")
          if (parsed.sparkType != f.dataType) throw new IllegalArgumentException(
            s"clickhouse_native columnTypes: column '$c' is ${f.dataType}, " +
              s"but CH type '$tn' decodes as ${parsed.sparkType}")
          c -> parsed.name
        }.toMap).getOrElse(Map.empty)
    NativeWriteOptions(schema, path, maxRows, dictEncode, compression, bucket, sortBy,
      insertDedup, insertDedupToken, typeOverrides)
  }
}

private[native] class NativeWriteBuilder(o: NativeWriteOptions)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  // Only a FULL overwrite is expressible in this format (no row-level
  // deletes): accept AlwaysTrue / empty, and fail loudly for any real
  // condition — silently truncating rows NOT matching the condition
  // (df.writeTo("graft.db.t").overwrite(cond)) would be data loss.
  override def overwrite(filters: Array[Filter]): WriteBuilder =
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) truncate()
    else throw new UnsupportedOperationException(
      "clickhouse_native supports only unconditional overwrite (truncate); " +
        s"conditional overwrite on [${filters.mkString(", ")}] would have to delete " +
        "matching rows in place, which the Native format cannot do. " +
        "Use overwritePartitions/truncate, or rewrite the full table.")

  /**
   * The one Write, batch and streaming. A bucketed write clusters the
   * incoming rows by bucket id BEFORE the writers run: each bucket then
   * lands in exactly ONE write task, so an insert produces N part files
   * total instead of up to tasks × N (at 100 TB ingest, the difference
   * between N and hundreds of thousands of small files). sortBy columns
   * additionally sort rows WITHIN each task, so every block's zone maps
   * cover a disjoint range and range scans prune to O(matching blocks).
   * Advisory, not strict — if the bucket function can't be resolved
   * Spark writes unclustered and the per-row routing still produces
   * correct (more numerous) single-bucket files. With neither bucket
   * nor sortBy the distribution is unspecified and the ordering empty,
   * and Spark leaves the input plan unchanged.
   */
  override def build(): Write = {
    // Validate the schema driver-side at planning, so an unsupported
    // type is one clean error, not a stage failure inside a task.
    o.schema.fields.foreach(f => ChType.forSpark(f.dataType, f.nullable))
    o.bucket.foreach { case (col, _) =>
      val f = o.schema.fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"clickhouse_native bucketed write: bucket column '$col' not in input schema"))
      if (!NativeBucket.supported(f.dataType))
        throw new IllegalArgumentException(
          s"clickhouse_native bucketed write: bucket column type ${f.dataType} unsupported")
    }
    o.sortBy.foreach { col =>
      if (!o.schema.fieldNames.contains(col))
        throw new IllegalArgumentException(
          s"clickhouse_native write: sortBy column '$col' not in input schema")
    }
    new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
      override def requiredDistribution(): Distribution = o.bucket match {
        case Some((col, n)) => Distributions.clustered(Array(Expressions.bucket(n, col)))
        case None => Distributions.unspecified()
      }
      override def distributionStrictlyRequired(): Boolean = false
      override def requiredOrdering(): Array[SortOrder] =
        o.sortBy.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
      override def toBatch: BatchWrite = new NativeBatchWrite(o, truncateFirst)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        // validated but not implemented for streaming epochs — fail
        // loudly rather than silently appending duplicate batches
        // the user asked to have deduplicated
        if (o.insertDedup) throw new UnsupportedOperationException(
          "clickhouse_native: insertDedup is not supported for streaming writes " +
            "(exactly-once replay protection comes from the epoch-scoped sink itself)")
        new NativeStreamingWrite(o)
      }
    }
  }
}

/**
 * Streaming sink: `df.writeStream.format("clickhouse_native")`. Every
 * micro-batch appends immutable part files named by (epoch, partition,
 * task attempt) — the same at-most-one-committed-attempt contract as
 * the batch writer (commit coordinator + abort cleanup), so a retried
 * epoch/task can't leave duplicate or truncated parts. Readers (and
 * our own micro-batch source) see only whole files, which is what the
 * streaming read's exactly-once file log relies on.
 */
private[native] class NativeStreamingWrite(o: NativeWriteOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val conf = new SerializableHadoopConf(NativeIO.sessionHadoopConf())

  // Epochs carry no dedup token: replay protection comes from the
  // epoch-scoped reconcile in commit.
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val dir = new Path(o.path)
    dir.getFileSystem(conf.value).mkdirs(dir)
    NativeWriterFactory(o.copy(dedupToken = ""), conf, NativeIndex.freshToken())
  }

  // Epoch commit is recorded by the streaming engine's own offset/commit
  // log; file visibility is atomic per part (create+close). What CAN
  // linger is an earlier ATTEMPT of this same epoch: a driver that died
  // after task commits but before the engine logged the epoch replays it
  // with a fresh write token, so the first attempt's parts would
  // double-count — and so would a part of a task attempt whose executor
  // died before its abort ran. The committing attempt keeps exactly the
  // parts its tasks reported; every other part carrying this epoch's
  // prefix goes, with its sidecar.
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(o.path)
    val prefix = NativeIndex.epochPrefix(epochId)
    NativeIndex.reconcile(dir.getFileSystem(conf.value), dir, _.startsWith(prefix),
      NativeCommitMessage.parts(messages), dropOthers = false)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[native] class NativeBatchWrite(o: NativeWriteOptions, truncateFirst: Boolean)
    extends BatchWrite {
  // Unique token embedded in every part name this write produces. Two
  // jobs must never collide on names: partitionId AND taskId both
  // restart from 0 in a fresh session, so the deterministic
  // part-<pid>-<tid>-<seq> scheme could silently CLOBBER an existing
  // part on append (fs.create(overwrite=true)). The token also lets an
  // overwrite distinguish its own output from pre-existing data.
  private val writeToken = NativeIndex.freshToken()
  private val conf = new SerializableHadoopConf(NativeIO.sessionHadoopConf())
  private val dir = new Path(o.path)
  private def fs = dir.getFileSystem(conf.value)
  private def mine(part: String): Boolean = NativeIndex.hasToken(part, writeToken)

  // Parts visible BEFORE this job's tasks run — the only parts
  // insert-dedup may compare against. Without the snapshot, two
  // concurrent identical inserts could each classify the OTHER's
  // task-committed parts as pre-existing and both delete their own
  // copy (net zero rows); with it, neither job sees the other's parts
  // (both started before either committed) and the duplicates survive
  // — the safe failure direction. Residual exposure: a writer that
  // task-committed parts before this job started and aborts after
  // this job's commit; like ClickHouse's own non-replicated dedup,
  // the feature assumes writes to one table are not racing.
  @volatile private var preexistingSnapshot: Set[String] = Set.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    fs.mkdirs(dir)
    if (o.insertDedup && !truncateFirst)
      preexistingSnapshot = fs.listStatus(dir).iterator.filter(_.isFile).map(_.getPath.getName)
        .filter(n => NativeIndex.partOf(n).contains(n)).toSet
    // NOTE: an overwrite does NOT clear the target here. Deleting
    // before the tasks run destroys the old data while a self-read
    // (INSERT OVERWRITE t SELECT ... FROM t — the natural compaction
    // command) is still scanning it: the job fails AND the table is
    // gone. The old files are removed at commit() instead, so readers
    // of this very write's input stay consistent and an aborted
    // overwrite leaves the previous data fully intact.
    NativeWriterFactory(o, conf, writeToken)
  }

  // Spark's default useCommitCoordinator() (true) guarantees at most one
  // committed attempt per partition, and an aborted attempt deletes its
  // own parts (NativeDataWriter.abort). A part of an attempt whose
  // executor died before abort could run is caught here: the job keeps
  // exactly the parts its tasks reported (one listing of the table
  // directory). An overwrite additionally drops every part not of this
  // write — the pre-existing data — together with its sidecar.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val remaining = NativeIndex.reconcile(fs, dir, mine,
      NativeCommitMessage.parts(messages), dropOthers = truncateFirst)
    // insert_deduplicate (the ClickHouse replicated-MergeTree INSERT
    // contract, at PART granularity): a committed part whose content
    // equals a PRE-EXISTING part's is a re-inserted block — drop it,
    // the insert is a no-op for that part. Candidate matching comes
    // from the sidecars (every part this writer produces records the
    // FNV-1a-64 of its file bytes), so the pass is driver-side
    // metadata work; but FNV-1a-64 is a 64-bit non-crypto hash, so a
    // hash match alone must NOT delete (a collision between genuinely
    // new data and an old part would silently drop the new data —
    // ClickHouse itself uses 128-bit block IDs here). Equality is
    // therefore hash AND file length AND a byte-compare of the two
    // files — the byte pass runs only on (hash, len) matches, i.e.
    // almost exclusively on true re-inserts, where it is one
    // sequential read of a part it is about to delete anyway.
    // CONTRACT for duplicates WITHIN one write: any part of this
    // write whose content matches a pre-existing part is dropped —
    // including surplus intra-batch copies of that content (the
    // CH-like verdict: the content is already in the table). When NO
    // pre-existing part matches, identical-content parts within the
    // write all survive as data — this pass never compares this
    // write's parts against each other. Never under overwrite: the
    // stale parts above are already gone or doomed, and deduping a
    // new part against a part this commit deletes would lose data.
    if (o.insertDedup && !truncateFirst) dropReinserted(remaining)
  }

  private def dropReinserted(dataParts: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
    val fs = this.fs
    // header-bounded 3-line sidecar read — the pass stays
    // O(parts) driver work, never O(total blocks). Identity =
    // (contentHash, dedupToken): parts written under different
    // tokens NEVER dedup against each other (distinct epochs/jobs
    // with legitimately identical content both land); absent
    // token = "" preserves the pure-content identity.
    def identityOf(p: Path): Option[(String, String)] = {
      val m = NativeIndex.readMeta(fs, p)
      m.get("contentHash").map(h => (h, m.getOrElse("dedupToken", "")))
    }
    def sameBytes(a: Path, b: Path): Boolean = {
      val ia = new java.io.BufferedInputStream(fs.open(a), 1 << 16)
      try {
        val ib = new java.io.BufferedInputStream(fs.open(b), 1 << 16)
        try {
          var x = 0; var y = 0
          do { x = ia.read(); y = ib.read() } while (x == y && x != -1)
          x == y
        } finally ib.close()
      } finally ia.close()
    }
    // ONLY parts from the start-of-job snapshot count as
    // pre-existing (see preexistingSnapshot); a part without a
    // hash (foreign writer / old sidecar) simply can't match —
    // dedup degrades to append. One representative per hash: if
    // two OLD parts ever collided on a hash, a new part is only
    // compared against one of them — a miss degrades to append,
    // never to data loss.
    val existing = dataParts.iterator
      .filter(st => preexistingSnapshot.contains(st.getPath.getName))
      .flatMap(st => identityOf(st.getPath).map(_ -> st)).toMap
    if (existing.nonEmpty) dataParts.filter(st => mine(st.getPath.getName)).foreach { st =>
      val prior = identityOf(st.getPath).flatMap(existing.get)
      if (prior.exists(p => p.getLen == st.getLen && sameBytes(st.getPath, p.getPath)))
        NativeIndex.deletePart(fs, st.getPath)
    }
  }

  // JOB abort: tasks that already committed are not rolled back by the
  // task-level abort path, so their token-tagged parts would linger —
  // as partial data after a failed append, or as DUPLICATES after a
  // failed overwrite (the old files were deliberately kept). Remove
  // every part of this write; old data is untouched.
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    NativeIndex.reconcile(fs, dir, mine, Set.empty, dropOthers = false)
}

/**
 * The one task-writer factory, batch and streaming; ships to
 * executors (a case class, so only serializable fields travel). Batch
 * parts carry no name prefix; a streaming epoch's parts carry
 * `epoch-<n>-`, which its commit reconciles by.
 */
private[native] case class NativeWriterFactory(o: NativeWriteOptions,
    conf: SerializableHadoopConf, writeToken: String)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, "")
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, NativeIndex.epochPrefix(epochId))
  private def writer(partitionId: Int, taskId: Long, prefix: String): DataWriter[InternalRow] =
    if (o.bucket.isDefined)
      new BucketedNativeDataWriter(o, partitionId, taskId, conf.value, prefix, writeToken)
    else new NativeDataWriter(o, partitionId, taskId, conf.value, prefix, writeToken)
}

/**
 * Bucketed task writer: routes every row to a per-bucket [[NativeDataWriter]]
 * by the shared [[NativeBucket]] hash, so each part file holds exactly one
 * bucket (the name carries the id — `b00003-part-...`). Input rows may
 * arrive in any distribution; a task simply keeps one open writer per
 * bucket it actually sees. Commit/abort fan out to every child so the
 * at-most-one-committed-attempt contract is unchanged.
 */
private[native] class BucketedNativeDataWriter(o: NativeWriteOptions, partitionId: Int,
    taskId: Long, conf: Configuration, filePrefix: String, writeToken: String)
    extends DataWriter[InternalRow] {
  private val (bucketCol, numBuckets) = o.bucket.get
  private val keyIdx = o.schema.fieldIndex(bucketCol)
  private val keyType = o.schema.fields(keyIdx).dataType
  private val writers = new Array[NativeDataWriter](numBuckets)

  private def writerFor(b: Int): NativeDataWriter = {
    var w = writers(b)
    if (w == null) {
      w = new NativeDataWriter(o, partitionId, taskId, conf,
        filePrefix + NativeBucket.filePrefix(b), writeToken)
      writers(b) = w
    }
    w
  }

  override def write(record: InternalRow): Unit =
    writerFor(NativeBucket.of(record, keyIdx, keyType, numBuckets)).write(record)

  override def commit(): WriterCommitMessage = {
    val files = writers.iterator.filter(_ != null).flatMap { w =>
      w.commit().asInstanceOf[NativeCommitMessage].files
    }.toSeq
    NativeCommitMessage(files)
  }

  /** Aborts every child even when one throws; the first failure is
    * rethrown with the others suppressed. */
  override def abort(): Unit = {
    var failure: Throwable = null
    writers.iterator.filter(_ != null).foreach { w =>
      try w.abort()
      catch {
        case t: Throwable =>
          if (failure == null) failure = t else failure.addSuppressed(t)
      }
    }
    if (failure != null) throw failure
  }
  override def close(): Unit = writers.iterator.filter(_ != null).foreach(_.close())
}

/**
 * Task-side writer: buffers rows and emits 64k-row Native blocks into
 * part files named by [[NativeIndex.partName]] (`filePrefix`, the
 * task, and the job's `writeToken`), each with its sidecar. Commit
 * reports the parts; abort deletes them.
 * (The reference has no write path at all; fixtures required a real
 * ClickHouse — README.md:43-47.)
 */
private[native] class NativeDataWriter(o: NativeWriteOptions, partitionId: Int,
    taskId: Long, conf: Configuration, filePrefix: String = "", writeToken: String = "w0")
    extends DataWriter[InternalRow] {
  import o.{compression, dedupToken, schema, typeOverrides}
  private val rowsPerFile = o.maxRowsPerFile

  private val rowsPerBlock = 65536
  // The format has no intra-file split points, so one giant part file
  // would serialize any later scan. Rotating parts (rowsPerFile =
  // write option maxRowsPerFile) keeps the writer's own output
  // parallelizable (scan side = one partition per file).
  private val chTypes: Array[ChType] =
    schema.fields.map { f =>
      typeOverrides.get(f.name) match {
        case Some(tn) =>
          // validated at plan time (newWriteBuilder): parseable,
          // writable, sparkType matches the column
          val base = ChType.parse(tn)
          if (f.nullable) ChType.ChNullable(base) else base
        case None => ChType.forSpark(f.dataType, f.nullable)
      }
    }
  // Adaptive dictionary encoding: decided ONCE per writer from the
  // first buffered block, so every block this task writes declares the
  // same column types (a reader infers schema from one header). A
  // string column whose first 64+ rows repeat values at >= 2x becomes
  // LowCardinality(T) — dictionary + narrow indices on the wire, which
  // is both smaller and lets the scan reuse one UTF8String per
  // distinct value (the parquet-dictionary advantage BENCH_NOTES
  // measured this format lacking).
  private var effectiveTypes: Array[ChType] = chTypes
  private var typesDecided = !o.dictEncode

  private def decideDictTypes(): Unit = {
    effectiveTypes = chTypes.zipWithIndex.map { case (t, i) =>
      val lcEligible = t match {
        case ChType.ChString | ChType.ChNullable(ChType.ChString) => true
        case _ => false
      }
      if (!lcEligible || buffered < 64) t
      else {
        val limit = math.min(65536, buffered / 2)
        val seen = new java.util.HashSet[Any]()
        var j = 0
        var distinct = 0
        while (j < buffered && distinct <= limit) {
          val v = buffer(i)(j)
          if (v != null && seen.add(v)) distinct += 1
          j += 1
        }
        if (distinct <= limit) ChType.ChLowCardinality(t) else t
      }
    }
    typesDecided = true
  }
  private val written = scala.collection.mutable.ArrayBuffer.empty[Path]
  private var fileSeq = -1
  private var rowsInFile = 0
  // Lazily opened on the first flush: an empty input partition must
  // commit NO file (a zero-byte part would poison schema inference for
  // the whole directory).
  private var writer: NativeBlockWriter = _
  private var currentFile: Path = _
  // block offsets of the current file, for the NativeIndex sidecar
  // that makes our own output intra-file splittable on read
  private val blockIndex = scala.collection.mutable.ArrayBuffer.empty[NativeIndex.BlockEntry]
  private val buffer = Array.fill(schema.length)(new scala.collection.mutable.ArrayBuffer[Any](rowsPerBlock))
  private var buffered = 0

  /**
   * Zone maps for the block about to flush: min/max per numeric/date/
   * timestamp column (nulls ignored; a NaN or infinite double voids
   * that column's stat — BigDecimal pruning can't represent them).
   * One compare per value, noise next to varint encoding.
   */
  private def blockStats(): Map[String, NativeIndex.ColStat] = {
    val out = Map.newBuilder[String, NativeIndex.ColStat]
    var i = 0
    while (i < schema.length) {
      val vals = buffer(i)
      def longStats(get: Any => Long): Unit = {
        var mn = Long.MaxValue; var mx = Long.MinValue; var seen = false
        var j = 0
        while (j < vals.length) {
          val v = vals(j)
          if (v != null) {
            val x = get(v)
            if (x < mn) mn = x
            if (x > mx) mx = x
            seen = true
          }
          j += 1
        }
        if (seen) out += schema.fields(i).name -> NativeIndex.ColStat('l', mn.toString, mx.toString)
      }
      schema.fields(i).dataType match {
        case IntegerType | DateType => longStats(_.asInstanceOf[Int].toLong)
        case LongType | TimestampType | TimestampNTZType => longStats(_.asInstanceOf[Long])
        case DoubleType | FloatType =>
          var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
          var seen = false; var clean = true
          var j = 0
          while (clean && j < vals.length) {
            val v = vals(j)
            if (v != null) {
              val x = v match {
                case d: java.lang.Double => d.doubleValue()
                case f: java.lang.Float => f.doubleValue()
              }
              if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) clean = false
              else {
                if (x < mn) mn = x
                if (x > mx) mx = x
                seen = true
              }
            }
            j += 1
          }
          if (seen && clean)
            out += schema.fields(i).name -> NativeIndex.ColStat('d', mn.toString, mx.toString)
        case StringType =>
          // byte-wise UTF-8 min/max (UTF8String.compareTo — the order
          // Spark compares strings in). A value containing NUL or
          // U+FFFD is sanitize-stripped at decode time, which can
          // reorder it → that block gets no string stat. min stores a
          // <=48-byte prefix (a prefix is a valid lower bound in
          // byte-lex order); an over-long max becomes the Open
          // sentinel (prefixes are NOT valid upper bounds).
          var mn: UTF8String = null
          var mx: UTF8String = null
          var clean = true
          var j = 0
          while (clean && j < vals.length) {
            val v = vals(j)
            if (v != null) {
              val u = v.asInstanceOf[UTF8String]
              val s = u.toString
              if (s.indexOf('\u0000') >= 0 || s.indexOf('\uFFFD') >= 0) clean = false
              else {
                if (mn == null || u.compareTo(mn) < 0) mn = u
                if (mx == null || u.compareTo(mx) > 0) mx = u
              }
            }
            j += 1
          }
          if (clean && mn != null) {
            val minEnc = NativeIndex.enc(NativeIndex.utf8Prefix(mn.toString, 48))
            val maxEnc =
              if (mx.numBytes <= 48) NativeIndex.enc(mx.toString) else NativeIndex.Open
            out += schema.fields(i).name -> NativeIndex.ColStat('s', minEnc, maxEnc)
          }
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  /** Close the open part and commit its sidecar (offsets + final length). */
  private def closeCurrentFile(): Unit = {
    if (writer != null) {
      val len = writer.position // flushes; equals final file length
      writer.close()
      writer = null
      NativeIndex.write(currentFile.getFileSystem(conf), currentFile, blockIndex.toSeq, len,
        // authoritative compression declaration: readers of files this
        // writer produced never have to sniff frame headers; the
        // content hash (+ optional dedup-scope token) is the part's
        // identity for insert-dedup
        meta = Map("compression" -> compression, "contentHash" -> hasher.hashHex) ++
          (if (dedupToken.nonEmpty) Map("dedupToken" -> dedupToken) else Map.empty))
      hasher = null
    }
    blockIndex.clear()
  }

  private var hasher: HashingOutputStream = _

  private def rotate(): Unit = {
    closeCurrentFile()
    fileSeq += 1
    rowsInFile = 0
    val p = new Path(new Path(o.path),
      NativeIndex.partName(filePrefix, partitionId, taskId, writeToken, fileSeq))
    written += p
    currentFile = p
    hasher = new HashingOutputStream(p.getFileSystem(conf).create(p, true))
    writer = new NativeBlockWriter(hasher, compression)
  }

  override def write(record: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      // Spark reuses the InternalRow (and the UTF8String/ArrayData/
      // MapData backing buffers) across rows — buffering a reference
      // without copying aliases later rows' bytes and corrupts the file.
      val v =
        if (record.isNullAt(i)) null
        else record.get(i, schema.fields(i).dataType) match {
          case s: UTF8String => s.clone()
          case a: ArrayData  => a.copy()
          case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
          case r: InternalRow => r.copy()
          case other         => other
        }
      buffer(i) += v
      i += 1
    }
    buffered += 1
    // blocks never straddle the file cap: flush at least every
    // min(block, file) rows so rotation boundaries stay exact
    if (buffered >= math.min(rowsPerBlock, rowsPerFile)) flush()
  }

  private def flush(): Unit = {
    if (buffered > 0) {
      if (!typesDecided) decideDictTypes()
      // lazy open + lazy rotation (before the next block, not after
      // the last one): no empty part on commit, ever. Rotate when this
      // block would push the file PAST the cap — checking only
      // rowsInFile >= cap lets files overshoot by up to a block when
      // the cap isn't a multiple of the block size.
      if (writer == null || (rowsInFile > 0 && rowsInFile + buffered > rowsPerFile)) rotate()
      val cols = schema.fields.indices.map { i =>
        NativeColumn(schema.fields(i).name, effectiveTypes(i), buffer(i).toArray)
      }.toArray
      blockIndex += NativeIndex.BlockEntry(writer.position, buffered.toLong, blockStats())
      writer.writeBlock(NativeBlock(cols, buffered))
      rowsInFile += buffered
      buffer.foreach(_.clear())
      buffered = 0
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    closeCurrentFile()
    NativeCommitMessage(written.map(_.toString).toSeq)
  }

  // Failed/speculative attempt: remove ALL part files this attempt
  // produced (and their index sidecars) so a retry (different taskId
  // → different names) can't leave truncated or duplicate data behind.
  // The delete runs even when closing fails — the close usually
  // re-raises the very IOException that failed the task.
  override def abort(): Unit =
    try if (writer != null) writer.close()
    finally written.foreach(p => NativeIndex.deletePart(p.getFileSystem(conf), p))
  override def close(): Unit = ()
}

private[native] case class NativeCommitMessage(files: Seq[String]) extends WriterCommitMessage

private[native] object NativeCommitMessage {
  /** Names of the parts the tasks behind `messages` reported. */
  def parts(messages: Array[WriterCommitMessage]): Set[String] =
    messages.iterator.flatMap {
      case NativeCommitMessage(files) => files.map(f => new Path(f).getName)
      case _ => Nil
    }.toSet
}

/** FNV-1a-64 over every byte written — the part content hash the
  * sidecar records for insert-dedup (and any external integrity use).
  * One multiply-xor per byte, noise next to varint encoding; the
  * seed/fold are [[graft.functions.TextHash]]'s single definition. */
private[native] final class HashingOutputStream(out: java.io.OutputStream)
    extends java.io.OutputStream {
  import graft.functions.TextHash
  private var h = TextHash.Fnv1a64Seed
  override def write(b: Int): Unit = {
    h = TextHash.fnv1a64Fold(h, b.toByte)
    out.write(b)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    val end = off + len
    while (i < end) { h = TextHash.fnv1a64Fold(h, b(i)); i += 1 }
    out.write(b, off, len)
  }
  override def flush(): Unit = out.flush()
  override def close(): Unit = out.close()
  def hashHex: String = java.lang.Long.toHexString(h)
}
