package graft.sources.native

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.TextHash

/**
 * Consistent hash-bucket assignment shared by the bucketed WRITER (routes
 * each row to a per-bucket part file) and the V2 `bucket` function the
 * catalog exposes (lets Catalyst reason about two tables' layouts being
 * compatible). The hash must be identical everywhere or storage-partitioned
 * joins would co-locate rows that do NOT share a key: integral keys go
 * through splitmix64, strings through fnv1a64 then splitmix64, and the
 * bucket id is the non-negative remainder mod bucket count.
 *
 * The reference stack has no layout-aware planning at all (every join
 * re-hashes both sides in the host engine); this is the Spark-first
 * answer to 100 TB fact-fact joins: both tables pre-bucketed on the join
 * key never shuffle again (SURVEY §2.3, BENCH_NOTES zero-Exchange demo).
 */
private[graft] object NativeBucket {
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
    case _ => false
  }

  def ofLong(v: Long, n: Int): Int = (((TextHash.splitmix64(v) % n) + n) % n).toInt

  /** Bucket of the key at `idx` in a row; nulls deterministically to 0. */
  def of(row: InternalRow, idx: Int, dt: DataType, n: Int): Int =
    if (row.isNullAt(idx)) 0
    else dt match {
      case LongType => ofLong(row.getLong(idx), n)
      case IntegerType | DateType => ofLong(row.getInt(idx).toLong, n)
      case ShortType => ofLong(row.getShort(idx).toLong, n)
      case ByteType => ofLong(row.getByte(idx).toLong, n)
      case StringType => ofLong(TextHash.fnv1a64(row.getUTF8String(idx).toString), n)
      case other => throw new IllegalArgumentException(
        s"clickhouse_native bucket column type not supported: $other")
    }

  /** File-name tag a bucketed writer inserts before "part-". */
  def filePrefix(b: Int): String = f"b$b%05d-"

  private val FileTag = """(?:^|.*-)b(\d{5})-part-.*""".r

  /** Parse the bucket id back out of a part file name, if present. */
  def bucketOfFile(name: String): Option[Int] = name match {
    case FileTag(d) => Some(d.toInt)
    case _ => None
  }
}

/** `bucket(n, key)` as a V2 catalog function (unbound form). */
private[native] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): graft consistent hash bucket id in [0, n)"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(
        s"bucket expects (numBuckets, key), got ${inputType.length} arguments")
    val nbType = inputType.fields(0).dataType
    val nbIntegral = nbType == ByteType || nbType == ShortType ||
      nbType == IntegerType || nbType == LongType
    if (!nbIntegral)
      throw new UnsupportedOperationException(
        s"bucket numBuckets must be integral, got $nbType")
    val keyType = inputType.fields(1).dataType
    if (!NativeBucket.supported(keyType))
      throw new UnsupportedOperationException(
        s"bucket key type not supported: $keyType")
    new GraftBucketBound(keyType)
  }
}

/**
 * Bound `bucket` function. `canonicalName` is the SAME for every key
 * type: the hash promotes all integral keys to long, so bucket(8, int 5)
 * == bucket(8, long 5) and cross-width joins co-locate correctly.
 */
private[native] final class GraftBucketBound(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    NativeBucket.of(input, 1, keyType, input.getInt(0))
}

/**
 * `graft` catalog: ClickHouse-Native-format tables under a warehouse
 * directory, with optional `bucket(n, col)` partitioning.
 *
 *   spark.sql.catalog.graft           = graft.sources.native.NativeCatalog
 *   spark.sql.catalog.graft.warehouse = /data/graft
 *
 *   CREATE TABLE graft.db.orders (o_orderkey BIGINT, ...)
 *     USING clickhouse_native PARTITIONED BY (bucket(32, o_orderkey))
 *
 * Table layout on disk: `<warehouse>/<ns...>/<table>/` holding the
 * Native part files (bucket-tagged when partitioned), their `.chidx`
 * sidecars, and a `_graft_table.meta` Properties file (schema JSON +
 * bucket spec + table properties; the "_" prefix keeps it invisible to
 * every data-file listing). As a FunctionCatalog it serves the `bucket`
 * function, which is what lets Spark resolve two bucketed tables'
 * KeyGroupedPartitioning and plan storage-partitioned joins with ZERO
 * Exchange (enable spark.sql.sources.v2.bucketing.enabled).
 *
 * The reference has no catalog surface at all — tables are path literals
 * in a table-function call (reference src/lib.rs:363-365); the host
 * engine owns naming. Here naming, schema, AND layout live with the
 * format, which is the piece layout-aware planning needs.
 */
class NativeCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: Path = _
  private var hconf: Configuration = _
  private def fs: FileSystem = warehouse.getFileSystem(hconf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"catalog '$name' requires spark.sql.catalog.$name.warehouse=<directory>"))
    hconf = NativeIO.sessionHadoopConf()
    warehouse = new Path(wh)
  }
  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, s) => new Path(p, s))
  private def tableDir(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)
  private def metaFile(dir: Path): Path = new Path(dir, NativeCatalog.MetaName)
  private def metaBackup(dir: Path): Path = new Path(dir, NativeCatalog.MetaBackupName)

  /**
   * Crash recovery for [[alterTable]]'s meta swap: if a crash landed
   * between `rename(meta, bak)` and `rename(tmp, meta)`, the table has
   * no meta file but the pre-ALTER schema survives under the
   * deterministic backup name — restore it. A backup alongside a live
   * meta is the other (benign) crash residue: the swap completed but
   * the backup delete didn't; leave it, the next ALTER clears it.
   *
   * Called from EVERY table-path entry point (exists/load/alter/list/
   * drop/rename/create), so a crash-stranded table is indistinguishable
   * from a healthy one at the public surface. SINGLE-WRITER assumption:
   * recovery renames from read paths too, so a reader racing an
   * in-flight alterTable swap on a non-overwriting filesystem (HDFS)
   * could rename the backup back mid-swap — this catalog, like the
   * MergeTree writer it fronts, assumes one metadata writer at a time
   * (concurrent READS of a quiescent table are fine: recovery is a
   * no-op whenever the meta file exists).
   */
  private def recoverMeta(dir: Path): Unit = {
    val meta = metaFile(dir)
    val bak = metaBackup(dir)
    if (!fs.exists(meta) && fs.exists(bak)) fs.rename(bak, meta)
  }

  // ---------------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory).map(st => Array(st.getPath.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    fs.listStatus(p).filter { st =>
      // a crash-stranded TABLE dir (meta at backup name) must not be
      // misreported as a child namespace
      recoverMeta(st.getPath)
      st.isDirectory && !fs.exists(metaFile(st.getPath))
    }.map(st => namespace :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty && !fs.exists(nsPath(namespace)))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    // mkdirs on an existing dir returns true — check first, or CREATE
    // NAMESPACE silently "succeeds" twice (SupportsNamespaces contract)
    if (fs.exists(nsPath(namespace)))
      throw new NamespaceAlreadyExistsException((catalogName +: namespace.toSeq).toArray)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    fs.listStatus(p).filter(_.isDirectory)
      .filter { st => recoverMeta(st.getPath); fs.exists(metaFile(st.getPath)) }
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    recoverMeta(dir)
    fs.exists(metaFile(dir))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    recoverMeta(dir)
    val meta = metaFile(dir)
    if (!fs.exists(meta)) throw new NoSuchTableException((ident.namespace.toSeq :+ ident.name))
    val props = new util.Properties()
    val in = fs.open(meta)
    try props.load(in) finally in.close()
    val schema = DataType.fromJson(props.getProperty("schema")).asInstanceOf[StructType]
    val bucket = Option(props.getProperty("bucketCol")).map { col =>
      (col, props.getProperty("numBuckets").toInt)
    }
    val tableProps = props.stringPropertyNames().asScala
      .filter(_.startsWith("prop.")).map(k => k.stripPrefix("prop.") -> props.getProperty(k))
      .toMap
    new NativeTable(schema, Seq(dir.toString), bucket, tableProps,
      Some(s"$catalogName.${(ident.namespace :+ ident.name).mkString(".")}"))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val bucket = partitions match {
      case Array() => None
      case Array(t) => parseBucket(t, schema)
      case _ => throw new UnsupportedOperationException(
        "graft catalog: only a single bucket(n, col) partition transform is supported")
    }
    val dir = tableDir(ident)
    val meta = metaFile(dir)
    // a crash-stranded table (meta at backup name) must collide here,
    // not get a fresh meta written over its existing data parts
    recoverMeta(dir)
    if (fs.exists(meta)) throw new TableAlreadyExistsException((ident.namespace.toSeq :+ ident.name))
    schema.fields.foreach(f => ChType.forSpark(f.dataType, f.nullable)) // fail fast
    fs.mkdirs(dir)
    val props = new util.Properties()
    props.setProperty("schema", schema.json)
    bucket.foreach { case (col, n) =>
      props.setProperty("bucketCol", col)
      props.setProperty("numBuckets", n.toString)
    }
    properties.asScala
      .filterNot { case (k, _) => NativeCatalog.ReservedProps(k) }
      .foreach { case (k, v) => props.setProperty(s"prop.$k", v) }
    // create (no overwrite): two racing CREATEs → second one fails
    val out = fs.create(meta, false)
    try props.store(out, null) finally out.close()
    new NativeTable(schema, Seq(dir.toString), bucket,
      properties.asScala.toMap, Some(s"$catalogName.${(ident.namespace :+ ident.name).mkString(".")}"))
  }

  private def parseBucket(t: Transform, schema: StructType): Option[(String, Int)] = {
    if (t.name != "bucket")
      throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform '${t.name}' — only bucket(n, col)")
    val (lits, refs) = t.arguments.partition(_.isInstanceOf[Literal[_]])
    (lits, refs) match {
      case (Array(lit: Literal[_]), Array(r: NamedReference))
          if lit.dataType == IntegerType && r.fieldNames.length == 1 =>
        val n = lit.value.asInstanceOf[Int]
        val col = r.fieldNames()(0)
        val field = schema.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(s"bucket column '$col' not in table schema"))
        if (!NativeBucket.supported(field.dataType))
          throw new IllegalArgumentException(
            s"bucket column '$col' has unsupported type ${field.dataType}")
        if (n <= 0) throw new IllegalArgumentException(s"bucket count must be > 0, got $n")
        Some((col, n))
      case _ => throw new UnsupportedOperationException(
        s"graft catalog: cannot parse bucket transform $t — expected bucket(n, col)")
    }
  }

  /**
   * `ALTER TABLE ... ADD COLUMN` — METADATA-ONLY schema evolution, the
   * MergeTree contract: no part is rewritten, the new column simply
   * does not exist in parts written before the ALTER and the scan's
   * decoder null-fills absent columns per block (which is why
   * the added column MUST be nullable — its value in every old row IS
   * null). Writes after the ALTER carry the column. At any table size
   * this is one Properties-file rewrite — O(1) data IO, exactly what
   * ADD COLUMN costs on a 100 TB MergeTree table. Other ALTER shapes
   * (drop/rename/retype) stay unsupported: each would either require a
   * part rewrite (which [[NativeTableOps.mutateUpdate]] covers as an
   * explicit mutation) or silently strand old parts' data.
   */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    recoverMeta(dir)
    val meta = metaFile(dir)
    if (!fs.exists(meta)) throw new NoSuchTableException((ident.namespace.toSeq :+ ident.name))
    val props = new util.Properties()
    val in = fs.open(meta)
    try props.load(in) finally in.close()
    var schema = DataType.fromJson(props.getProperty("schema")).asInstanceOf[StructType]
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "graft catalog: ADD COLUMN supports top-level columns only, " +
              s"got ${add.fieldNames.mkString(".")}")
        val name = add.fieldNames.head
        if (add.position() != null)
          throw new UnsupportedOperationException(
            "graft catalog: ADD COLUMN ... FIRST/AFTER is not supported — " +
              "metadata-only evolution always appends (placement would " +
              "imply reordering data no part actually stores)")
        if (schema.fieldNames.exists(_.equalsIgnoreCase(name)))
          throw new IllegalArgumentException(
            s"graft catalog: column '$name' already exists in ${ident.name}")
        if (!add.isNullable)
          throw new IllegalArgumentException(
            s"graft catalog: added column '$name' must be nullable — parts " +
              "written before the ALTER have no values for it (metadata-only " +
              "evolution never rewrites parts)")
        ChType.forSpark(add.dataType, nullable = true) // fail fast: encodable type
        schema = schema.add(StructField(name, add.dataType, nullable = true))
      // reserved keys get the same silent filter createTable applies —
      // the engine owns provider/location/owner/external/comment
      case p: TableChange.SetProperty if !NativeCatalog.ReservedProps(p.property) =>
        props.setProperty(s"prop.${p.property}", p.value)
      case _: TableChange.SetProperty => ()
      case p: TableChange.RemoveProperty =>
        props.remove(s"prop.${p.property}")
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: ALTER TABLE change not supported: $other")
    }
    props.setProperty("schema", schema.json)
    // write-temp + backup + rename, never create(meta, overwrite=true):
    // an in-place rewrite has a window between truncate and store where
    // a crash leaves an empty/torn meta file and the table schema is
    // gone. A bare delete+rename swap still has a window with NO meta
    // file at all; instead the old meta moves to a deterministic backup
    // name first, so every crash point leaves either the old meta, the
    // backup (recovered by [[recoverMeta]] on next load), or the new
    // meta. rename is the same primitive renameTable relies on.
    val tmp = new Path(meta.getParent,
      s".${NativeCatalog.MetaName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try props.store(out, null) finally out.close()
    val bak = metaBackup(dir)
    fs.delete(bak, false) // stale residue from a completed prior swap
    if (fs.exists(meta) && !fs.rename(meta, bak)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"alterTable: cannot back up $meta")
    }
    if (!fs.rename(tmp, meta)) {
      // restore the pre-ALTER meta so the table stays loadable; if the
      // restore itself fails (e.g. a concurrent reader's recoverMeta
      // already moved the backup back on a non-overwriting filesystem —
      // see the single-writer note on recoverMeta), say so: the table
      // may still be loadable via that racing recovery, but this writer
      // can no longer prove it
      val restored = fs.rename(bak, meta) || fs.exists(meta)
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"alterTable: rename $tmp -> $meta failed" +
          (if (restored) " (pre-ALTER meta restored)"
           else s" AND restore of $bak failed — table meta needs manual recovery"))
    }
    fs.delete(bak, false)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    recoverMeta(dir)
    if (!fs.exists(metaFile(dir))) false else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    recoverMeta(from)
    if (!fs.exists(metaFile(from))) throw new NoSuchTableException((oldIdent.namespace.toSeq :+ oldIdent.name))
    val to = tableDir(newIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException((newIdent.namespace.toSeq :+ newIdent.name))
    // cross-namespace renames are allowed, but only into a namespace
    // that EXISTS: silently mkdirs-ing the target would turn a typo'd
    // multipart name (e.g. a catalog-qualified RENAME TO, which Spark
    // parses as a namespace inside this catalog) into a table quietly
    // relocated under a ghost namespace
    if (!fs.exists(nsPath(newIdent.namespace)))
      throw new NoSuchNamespaceException(catalogName +: newIdent.namespace.toSeq)
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ---------------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

private[native] object NativeCatalog {
  val MetaName = "_graft_table.meta"
  val MetaBackupName = "_graft_table.meta.bak"
  /** Engine-managed table properties Spark passes through CREATE TABLE. */
  val ReservedProps: Set[String] = Set("provider", "location", "owner",
    "external", "comment")
}
