package graft.sources.native

import java.io.{FileNotFoundException, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}

/**
 * Optional block-offset sidecar for Native data files, enabling
 * INTRA-FILE parallel scans.
 *
 * The wire format itself has no split points — every block is
 * self-describing (per-block column headers, NativeBlockIO), but block
 * boundaries are not discoverable without sequentially decoding the
 * whole file, so a foreign reader must scan one file on one core
 * ("full-scans at this time", reference README.md:51). That makes a
 * single huge file the scan-parallelism bottleneck at 100 TB.
 *
 * Our writer already rotates part files (maxRowsPerFile) to bound the
 * damage; this sidecar removes the bottleneck entirely for files WE
 * wrote: alongside `part.clickhouse` it records every block's byte
 * offset and row count in a hidden `.part.clickhouse.chidx` text file,
 * and the scan planner packs contiguous block ranges into input
 * partitions of Spark's file-split size (`FilePartition.maxSplitBytes`)
 * — the same planning parquet gets from its row-group metadata. Readers seek
 * straight to their first block. Foreign files (clickhouse-local
 * output) have no sidecar and fall back to one partition per file,
 * unchanged.
 *
 * The sidecar is advisory and fail-safe: it names the data file's
 * exact byte length and block count, and a reader that finds ANY
 * mismatch (truncated sidecar, regenerated data file, non-monotonic
 * offsets) ignores it and scans the whole file sequentially. Row
 * counts and size statistics also read it: a `count(*)` over an
 * indexed directory is answered on the driver from the sidecars.
 *
 * Sidecars also carry per-block MIN/MAX for numeric/date/timestamp
 * columns — zone maps, the parquet row-group-statistics trick — which
 * the scan planner uses to skip whole blocks (and whole files) whose
 * range cannot satisfy a pushed filter. On data sorted or clustered by
 * the filter column, a point query reads O(matching blocks) instead of
 * the whole table.
 *
 * Format (line-oriented, UTF-8):
 *   CHIDX2 <dataFileByteLength> <blockCount>
 *   #cols <urlEncodedName>,<urlEncodedName>,...            // stats key
 *   <offset> <rows>[ <colIdx>:<l|d>:<min>:<max>]...        // per block
 * (CHIDX1, without the #cols line or stats, is still accepted.)
 */
private[native] object NativeIndex {

  /**
   * Per-column zone map: tag 'l' = long-valued (int/long/date/ts),
   * 'd' = double, 's' = string (min/max URL-encoded; [[Open]] as the
   * max means "unbounded above" — the true max was longer than the
   * stored prefix cap, so only the lower bound is usable).
   */
  final case class ColStat(tag: Char, min: String, max: String) {
    def minDec: java.math.BigDecimal = new java.math.BigDecimal(min)
    def maxDec: java.math.BigDecimal = new java.math.BigDecimal(max)
  }

  /** Sentinel for an absent string bound; URLEncoder output can never be a bare "%". */
  val Open = "%"

  final case class BlockEntry(offset: Long, rows: Long,
      stats: Map[String, ColStat] = Map.empty)

  // ------------------------------------------------------------------
  // Part-file layout: the one place that knows how parts and sidecars
  // are named, and so the one place that copies, deletes and
  // reconciles them. A part is `<prefix>part-<pid>-<tid>-<token>-<seq>
  // .clickhouse` (prefix = `epoch-<n>-` for streaming, then
  // `b<bucket>-` when bucketed); its sidecar is `.<part>.chidx`.
  // ------------------------------------------------------------------

  private val SidecarSuffix = ".chidx"

  def sidecarPath(dataFile: Path): Path =
    new Path(dataFile.getParent, s".${dataFile.getName}$SidecarSuffix")

  /** Name of one part file a task writes. `token` is unique per write
    * job, so two jobs never collide on a name. */
  def partName(prefix: String, partitionId: Int, taskId: Long, token: String,
      seq: Int): String =
    f"${prefix}part-$partitionId%05d-$taskId-$token-$seq%03d.clickhouse"

  /** A new write token: 8 hex characters. */
  def freshToken(): String = java.util.UUID.randomUUID().toString.substring(0, 8)

  /** Name prefix of every part a streaming epoch writes. */
  def epochPrefix(epochId: Long): String = f"epoch-$epochId%08d-"

  /** True when part `name` was written under write token `token`. */
  def hasToken(name: String, token: String): Boolean = name.contains(s"-$token-")

  /**
   * The part a directory-listing entry belongs to: a data file is its
   * own part, a sidecar belongs to the data file it indexes. None for
   * `_` control files and other dot-files, which no reconcile touches.
   */
  def partOf(name: String): Option[String] =
    if (name.startsWith(".")) {
      if (name.endsWith(SidecarSuffix) && name.length > 1 + SidecarSuffix.length)
        Some(name.substring(1, name.length - SidecarSuffix.length))
      else None
    } else if (name.startsWith("_")) None
    else Some(name)

  /** Delete a part together with its sidecar (either may be absent). */
  def deletePart(fs: FileSystem, dataFile: Path): Unit = {
    fs.delete(dataFile, false)
    fs.delete(sidecarPath(dataFile), false)
  }

  /** Copy a part and, when it has one, its sidecar into `dstDir`. */
  def copyPart(fs: FileSystem, dataFile: Path, dstFs: FileSystem, dstDir: Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    FileUtil.copy(fs, dataFile, dstFs, new Path(dstDir, dataFile.getName), false, conf)
    val sidecar = sidecarPath(dataFile)
    if (fs.exists(sidecar))
      FileUtil.copy(fs, sidecar, dstFs, new Path(dstDir, sidecar.getName), false, conf)
  }

  /**
   * Job-level reconcile of a write over ONE listing of `dir`: a job
   * keeps exactly the parts its tasks reported. Only files are parts:
   * subdirectories (`detached/`, `projections/`) are never touched.
   * Deleted, each with its sidecar:
   *  - parts of this write (`mine`) that are not in `kept` — left by a
   *    task attempt that died before its own abort ran, or, with
   *    `kept` empty (job abort), every part of this write;
   *  - with `dropOthers` (overwrite), every part not of this write.
   * Returns the data files that remain, for the insert-dedup pass.
   */
  def reconcile(fs: FileSystem, dir: Path, mine: String => Boolean, kept: Set[String],
      dropOthers: Boolean): Seq[FileStatus] = {
    val listing = try fs.listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    listing.filter { st =>
      val n = st.getPath.getName
      partOf(n) match {
        case Some(part) if st.isFile =>
          val doomed = if (mine(part)) !kept(part) else dropOthers
          if (doomed) fs.delete(st.getPath, false)
          !doomed && part == n
        case _ => false
      }
    }
  }

  private[native] def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private[native] def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Longest prefix of `s` whose UTF-8 encoding fits `maxBytes` (never
    * splits a code point — a byte-level cut could be invalid UTF-8). */
  private[native] def utf8Prefix(s: String, maxBytes: Int): String = {
    var bytes = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w = if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
      if (bytes + w > maxBytes) return s.substring(0, i)
      bytes += w
      i += Character.charCount(cp)
    }
    s
  }

  /** Write the sidecar for a just-closed data file of `dataLen` bytes.
    * `meta` carries writer facts authoritative for THIS file (currently
    * `compression=none|lz4|zstd`), so readers need not sniff. */
  def write(fs: FileSystem, dataFile: Path, entries: Seq[BlockEntry], dataLen: Long,
      meta: Map[String, String] = Map.empty): Unit = {
    // stats column universe, in first-seen order, indexed by the #cols line
    val cols = entries.flatMap(_.stats.keys).distinct
    val colIdx = cols.zipWithIndex.toMap
    val sb = new StringBuilder(s"CHIDX2 $dataLen ${entries.length}\n")
    sb.append("#cols ").append(cols.map(enc).mkString(",")).append('\n')
    if (meta.nonEmpty)
      sb.append("#meta ")
        .append(meta.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString(","))
        .append('\n')
    entries.foreach { e =>
      sb.append(e.offset).append(' ').append(e.rows)
      e.stats.foreach { case (name, st) =>
        sb.append(' ').append(colIdx(name)).append(':').append(st.tag)
          .append(':').append(st.min).append(':').append(st.max)
      }
      sb.append('\n')
    }
    val out: OutputStream = fs.create(sidecarPath(dataFile), true)
    try out.write(sb.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /**
   * Read and validate the sidecar for `dataFile` whose CURRENT length
   * is `dataLen`. None on any doubt — absence, stale length, truncated
   * entry list, or offsets that aren't strictly increasing from 0 —
   * because a wrong index silently drops or duplicates rows, while no
   * index merely costs parallelism.
   */
  def read(fs: FileSystem, dataFile: Path, dataLen: Long): Option[Array[BlockEntry]] =
    readWithMeta(fs, dataFile, dataLen).map(_._1)

  /** The `#meta` line alone — a bounded 3-line read, no block-entry
    * parse: the per-part identity probe insert-dedup runs at commit
    * stays O(parts), not O(total blocks). Parts and their sidecars
    * are written-once/immutable, so the hash needs no length
    * cross-check here; any unreadable/absent sidecar returns empty
    * (the part simply can't match). */
  def readMeta(fs: FileSystem, dataFile: Path): Map[String, String] = {
    val p = sidecarPath(dataFile)
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try {
        val l0 = in.readLine()
        if (l0 == null || !l0.startsWith("CHIDX2")) return Map.empty
        val l1 = in.readLine()
        if (l1 == null || !l1.startsWith("#cols ")) return Map.empty
        val l2 = in.readLine()
        if (l2 == null || !l2.startsWith("#meta ")) Map.empty else parseMeta(l2)
      } finally in.close()
    } catch { case _: java.io.IOException => Map.empty }
  }

  private def parseMeta(line: String): Map[String, String] =
    line.stripPrefix("#meta ").trim.split(',').filter(_.contains('=')).map { kv =>
      val i = kv.indexOf('=')
      dec(kv.substring(0, i)) -> dec(kv.substring(i + 1))
    }.toMap

  /** [[read]] plus the writer-authored `#meta` key/value line (empty for
    * pre-meta sidecars and CHIDX1). */
  def readWithMeta(fs: FileSystem, dataFile: Path,
      dataLen: Long): Option[(Array[BlockEntry], Map[String, String])] = {
    val p = sidecarPath(dataFile)
    val text =
      try {
        val in = fs.open(p)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          bytes.toString("UTF-8")
        } finally in.close()
      } catch { case _: FileNotFoundException => return None }
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header = lines(0).split(' ')
    if (header.length != 3 || (header(0) != "CHIDX1" && header(0) != "CHIDX2")) return None
    val v2 = header(0) == "CHIDX2"
    val (len, count) =
      try (header(1).toLong, header(2).toInt)
      catch { case _: NumberFormatException => return None }
    if (v2 && (lines.length < 2 || !lines(1).startsWith("#cols "))) return None
    val cols: Array[String] =
      if (!v2) Array.empty
      else {
        val names = lines(1).stripPrefix("#cols ").trim
        if (names.isEmpty) Array.empty else names.split(',').map(dec)
      }
    // optional writer-meta line (absent in pre-meta CHIDX2 sidecars)
    val hasMeta = v2 && lines.length > 2 && lines(2).startsWith("#meta ")
    val meta = if (hasMeta) parseMeta(lines(2)) else Map.empty[String, String]
    val firstBlockLine = (if (v2) 2 else 1) + (if (hasMeta) 1 else 0)
    if (len != dataLen || count != lines.length - firstBlockLine || count == 0) return None
    val entries = new Array[BlockEntry](count)
    var i = 0
    var prev = -1L
    while (i < count) {
      val parts = lines(i + firstBlockLine).split(' ')
      if (parts.length < 2) return None
      val e =
        try {
          val stats = parts.drop(2).map { tok =>
            val f = tok.split(':')
            if (f.length != 4 || f(1).length != 1) return None
            val idx = f(0).toInt
            if (idx < 0 || idx >= cols.length) return None
            cols(idx) -> ColStat(f(1).charAt(0), f(2), f(3))
          }.toMap
          BlockEntry(parts(0).toLong, parts(1).toLong, stats)
        } catch { case _: NumberFormatException => return None }
      if (e.offset <= prev || e.offset >= len || (i == 0 && e.offset != 0L)) return None
      prev = e.offset
      entries(i) = e
      i += 1
    }
    Some((entries, meta))
  }

  /**
   * Pack the blocks `keep` selects (zone-map pruning) of an indexed
   * file into contiguous ranges of ~`targetBytes` each (always >= 1
   * block per range) — returns (startOffset, blockCount, rowCount)
   * triples in file order. Skipped blocks break ranges, so every
   * emitted range is a contiguous run of kept blocks a reader can
   * stream without re-seeking. May return Nil — a fully pruned file
   * plans NO work.
   */
  def splitRangesKeeping(entries: Array[BlockEntry], dataLen: Long, targetBytes: Long,
      keep: Int => Boolean): Seq[(Long, Int, Long)] = {
    val out = Seq.newBuilder[(Long, Int, Long)]
    var startIdx = -1 // current run start, -1 = no open run
    var bytes = 0L
    var rows = 0L
    var i = 0
    def closeRun(endExclusive: Int): Unit = {
      if (startIdx >= 0) out += ((entries(startIdx).offset, endExclusive - startIdx, rows))
      startIdx = -1; bytes = 0L; rows = 0L
    }
    while (i < entries.length) {
      if (!keep(i)) closeRun(i)
      else {
        val end = if (i + 1 < entries.length) entries(i + 1).offset else dataLen
        val blockBytes = end - entries(i).offset
        if (startIdx >= 0 && bytes + blockBytes > targetBytes) closeRun(i)
        if (startIdx < 0) startIdx = i
        bytes += blockBytes
        rows += entries(i).rows
      }
      i += 1
    }
    closeRun(entries.length)
    out.result()
  }

  // ------------------------------------------------------------------
  // Zone-map filter evaluation (conservative: "might this block hold a
  // matching row?"). All comparisons run in BigDecimal — exact for
  // 64-bit longs, so float rounding can never prune a matching block.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.{sources => f}

  private def comparableLiteral(v: Any): Boolean =
    toDecimal(v).isDefined || v.isInstanceOf[String] ||
      v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]

  /** Can this filter ever contribute to block pruning? (for explain) */
  def prunable(filter: f.Filter): Boolean = filter match {
    case f.EqualTo(_, v) => comparableLiteral(v)
    case f.GreaterThan(_, v) => comparableLiteral(v)
    case f.GreaterThanOrEqual(_, v) => comparableLiteral(v)
    case f.LessThan(_, v) => comparableLiteral(v)
    case f.LessThanOrEqual(_, v) => comparableLiteral(v)
    case f.In(_, vs) => vs.nonEmpty && vs.forall(comparableLiteral)
    case f.And(l, r) => prunable(l) || prunable(r)
    case f.Or(l, r) => prunable(l) && prunable(r)
    case _ => false
  }

  /** True if a block with these zone maps could satisfy EVERY filter. */
  def blockMayMatch(stats: Map[String, ColStat], filters: Seq[f.Filter]): Boolean =
    filters.forall(mayMatch(stats, _))

  private def mayMatch(stats: Map[String, ColStat], filter: f.Filter): Boolean = filter match {
    // pred args: (cmp(literal, blockMin), cmp(literal, blockMax))
    case f.EqualTo(c, v) => rangeCheck(stats, c, v)((lo, hi) => lo >= 0 && hi <= 0)
    case f.GreaterThan(c, v) => rangeCheck(stats, c, v)((_, hi) => hi < 0)
    case f.GreaterThanOrEqual(c, v) => rangeCheck(stats, c, v)((_, hi) => hi <= 0)
    case f.LessThan(c, v) => rangeCheck(stats, c, v)((lo, _) => lo > 0)
    case f.LessThanOrEqual(c, v) => rangeCheck(stats, c, v)((lo, _) => lo >= 0)
    case f.In(c, vs) => vs.isEmpty || vs.exists(v =>
      rangeCheck(stats, c, v)((lo, hi) => lo >= 0 && hi <= 0))
    case f.And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
    case f.Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
    case _ => true // unknown predicate shapes never prune
  }

  private def rangeCheck(stats: Map[String, ColStat], col: String, value: Any)(
      pred: (Int, Int) => Boolean): Boolean =
    stats.get(col)
      .flatMap(st => try cmpBounds(st, value) catch { case _: Exception => None })
      .forall { case (lo, hi) => pred(lo, hi) }

  /**
   * Compare a filter literal against a block's bounds in the column's
   * own ordering: BigDecimal for numeric tags, byte-wise UTF-8 (the
   * order Spark compares strings in) for tag 's'. An [[Open]] string
   * max compares as "literal < max" always. None = incomparable (type
   * mismatch or corrupt stat) → block is kept.
   */
  private def cmpBounds(st: ColStat, value: Any): Option[(Int, Int)] = st.tag match {
    case 's' =>
      import org.apache.spark.unsafe.types.UTF8String
      val lit = value match {
        case s: String => UTF8String.fromString(s)
        case u: UTF8String => u
        case _ => return None
      }
      val lo = lit.compareTo(UTF8String.fromString(dec(st.min)))
      val hi = if (st.max == Open) -1 else lit.compareTo(UTF8String.fromString(dec(st.max)))
      Some((lo, hi))
    case _ =>
      toDecimal(value).map(d => (d.compareTo(st.minDec), d.compareTo(st.maxDec)))
  }

  /** Filter literal → BigDecimal in the column's stored representation
    * (dates as epoch days, timestamps as epoch micros). None = can't prune. */
  private[native] def toDecimal(value: Any): Option[java.math.BigDecimal] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    try value match {
      case null => None
      case i: java.lang.Integer => Some(java.math.BigDecimal.valueOf(i.longValue()))
      case l: java.lang.Long => Some(java.math.BigDecimal.valueOf(l))
      case s: java.lang.Short => Some(java.math.BigDecimal.valueOf(s.longValue()))
      case b: java.lang.Byte => Some(java.math.BigDecimal.valueOf(b.longValue()))
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) None else Some(java.math.BigDecimal.valueOf(d))
      case fl: java.lang.Float =>
        if (fl.isNaN || fl.isInfinite) None
        else Some(java.math.BigDecimal.valueOf(fl.doubleValue()))
      case bd: java.math.BigDecimal => Some(bd)
      case bd: scala.math.BigDecimal => Some(bd.bigDecimal)
      case dt: java.sql.Date => Some(java.math.BigDecimal.valueOf(DateTimeUtils.fromJavaDate(dt).toLong))
      case ld: java.time.LocalDate => Some(java.math.BigDecimal.valueOf(ld.toEpochDay))
      case ts: java.sql.Timestamp => Some(java.math.BigDecimal.valueOf(DateTimeUtils.fromJavaTimestamp(ts)))
      case in: java.time.Instant => Some(java.math.BigDecimal.valueOf(DateTimeUtils.instantToMicros(in)))
      case ldt: java.time.LocalDateTime => Some(java.math.BigDecimal.valueOf(DateTimeUtils.localDateTimeToMicros(ldt)))
      case _ => None
    } catch { case _: Exception => None }
  }
}

/** Byte-counting pass-through, so the block writer knows each block's offset. */
private[native] final class CountingOutputStream(underlying: OutputStream)
    extends OutputStream {
  private var counted = 0L
  def count: Long = counted
  override def write(b: Int): Unit = { underlying.write(b); counted += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    underlying.write(b, off, len); counted += len
  }
  override def flush(): Unit = underlying.flush()
  override def close(): Unit = underlying.close()
}
