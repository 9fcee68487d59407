package perfbench

import java.io.FileInputStream

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.native.{NativeBlock, NativeBlockReader, NativeBlockWriter}
import graft.sources.remote.ChTcpClient

/**
 * `scan`: full-column aggregates over one lineitem-shaped table. Each
 * op makes three passes over the same rows: a single uncompressed
 * native file (columnar read path), the same rows as one lz4 file
 * (frames and checksums, verified by default), and `clickhouse_remote`
 * over real `transport=tcp` from a loopback [[ReplayServer]].
 * Decode, decompression, split planning and the remote client do
 * nearly all the work.
 */
final class ScanWorkload(ctx: Ctx, rows: Int) extends Workload {
  import ScanWorkload._
  val name = "scan"
  private val spark = ctx.spark
  private val plainDir = ctx.dir("scan_plain")
  private val lz4Dir = ctx.dir("scan_lz4")
  private var expected: Gen.LineitemSums = _
  private var server: ReplayServer = _

  def setup(): Unit = {
    // generate in parallel once, then write both files from the cache
    val gen = Gen.Lineitem.frame(spark, ctx.seed, 0, rows, ctx.cores).cache()
    gen.count()
    val df = gen.coalesce(1)
    df.write.format("clickhouse_native").mode("overwrite").save(plainDir)
    df.write.format("clickhouse_native").mode("overwrite").option("compression", "lz4")
      .save(lz4Dir)
    gen.unpersist()
    expected = Gen.lineitemSums(ctx.seed, 0, rows)
    val names = Gen.Lineitem.fields.map(_.name)
    val blocks = (0 until rows by BlockRows).iterator.map { from =>
      val until = math.min(rows, from + BlockRows)
      val cols = Array.fill(names.length)(new Array[Any](until - from))
      (from until until).foreach { i =>
        val v = Gen.Lineitem.values(ctx.seed, i)
        names.indices.foreach(c => cols(c)(i - from) = v(c))
      }
      cols
    }
    server = new ReplayServer(Query, ReplayServer.encodeResult(names, Gen.Lineitem.chTypes, blocks))
  }

  private def remote: DataFrame = spark.read.format("clickhouse_remote")
    .option("transport", "tcp").option("url", s"tcp://127.0.0.1:${server.port}")
    .option("query", Query).load()

  private def pass(span: String, df: => DataFrame): Unit = ctx.tracer.span(span) {
    val r: Row = df.agg(Gen.Lineitem.aggregates.head, Gen.Lineitem.aggregates.tail: _*).collect()(0)
    expected.check(span, r)
  }

  def op(i: Int): OpResult = {
    pass("native_read.plain_pass", spark.read.format("clickhouse_native").load(plainDir))
    pass("native_read.lz4_pass", spark.read.format("clickhouse_native").load(lz4Dir))
    pass("remote.pass", remote)
    OpResult(3L * rows, "scan")
  }

  def bytesPerRow: Double =
    (Files.bytes(plainDir, Files.isTableFile) + Files.bytes(lz4Dir, Files.isTableFile)) /
      (2.0 * rows)

  private def dataFile(dir: String) =
    Files.list(new java.io.File(dir), Files.isData).head

  private def probes: Seq[(String, Metric)] = {
    // one-thread decode of the plain file, no Spark
    val file = dataFile(plainDir)
    var blocks = Vector.empty[NativeBlock]
    val decodeMs = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val r = new NativeBlockReader(new FileInputStream(file))
      try blocks = r.toVector finally r.close()
      (System.nanoTime() - t0) / 1e6
    })
    Check.equal("probe decode rows", blocks.map(_.numRows.toLong).sum, rows.toLong)
    // one-thread lz4 encode of the same blocks, into a counting sink
    val encodeMs = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val w = new NativeBlockWriter(java.io.OutputStream.nullOutputStream(), "lz4")
      try blocks.foreach(w.writeBlock) finally w.close()
      (System.nanoTime() - t0) / 1e6
    })
    // remote client alone: connect, then drain the result
    val connectMs = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val c = ChTcpClient.connect("127.0.0.1", server.port, "default", "", "default", 30000)
      val ms = (System.nanoTime() - t0) / 1e6
      c.close()
      ms
    })
    val drainMs = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val src = ChTcpClient.connect("127.0.0.1", server.port, "default", "", "default", 30000)
        .execute(Query, None)
      var n = 0L
      try {
        var b = src.nextBlock()
        while (b.isDefined) { n += b.get.numRows; b = src.nextBlock() }
      } finally src.close()
      Check.equal("probe remote rows", n, rows.toLong)
      (System.nanoTime() - t0) / 1e6
    })
    Seq(
      "native_read.decode_rows_per_s" -> Metric(rows / (decodeMs / 1e3), "1/s"),
      "native_write.encode_rows_per_s" -> Metric(rows / (encodeMs / 1e3), "1/s"),
      "remote.connect_ms" -> Metric(connectMs, "ms"),
      "remote.drain_rows_per_s" -> Metric(rows / (drainMs / 1e3), "1/s"))
  }

  def layerMetrics(t: Tracer): Seq[(String, Metric)] = {
    val plain = t.named(name, "native_read.plain_pass")
    val lz4 = t.named(name, "native_read.lz4_pass")
    val remotes = t.named(name, "remote.pass")
    val native = plain ++ lz4
    // GC is sparse over a few passes, so it is averaged over the warm-up passes too
    val allNative = t.spans.filter(s => s.workload == name &&
      (s.name == "native_read.plain_pass" || s.name == "native_read.lz4_pass")).toSeq
    val tasks = native.map(s => t.tasksOf(t.jobsOf(s)))
    // planning: pass start to its first job's start (schema inference,
    // analysis, optimization and input-partition planning); whole
    // milliseconds, so averaged rather than a median of ties
    def planMs(s: Tracer.Span) =
      t.jobsOf(s).headOption.map(j => (j.startMs - s.startEpochMs).toDouble).getOrElse(s.ms)
    // the scan stage of a pass is its first stage: the one with input records
    def scanTasks(s: Tracer.Span) = t.tasksOf(t.jobsOf(s)).filter(_.recordsRead > 0)
    probes ++ Seq(
      "native_read.plain_pass_ms" -> Metric(Stats.median(plain.map(_.ms)), "ms"),
      "native_read.lz4_pass_ms" -> Metric(Stats.median(lz4.map(_.ms)), "ms"),
      "native_read.task_cpu_ms" -> Metric(Stats.median(tasks.map(_.map(_.cpuMs).sum)), "ms"),
      "native_read.task_gc_ms" -> Metric(Stats.mean(allNative.map(s =>
        t.tasksOf(t.jobsOf(s)).map(_.gcMs.toDouble).sum)), "ms"),
      "native_read.bytes_read_per_row" -> Metric(
        Stats.median(native.map(s => scanTasks(s).map(_.bytesRead).sum.toDouble / rows)), "B"),
      "native_read.tasks" -> Metric(Stats.median(plain.map(s => scanTasks(s).size.toDouble)), "count"),
      "native_read.lz4_tasks" -> Metric(Stats.median(lz4.map(s => scanTasks(s).size.toDouble)), "count"),
      "native_read.plan_ms" -> Metric(Stats.mean(native.map(planMs)), "ms"),
      "remote.pass_ms" -> Metric(Stats.median(remotes.map(_.ms)), "ms"),
      "remote.plan_ms" -> Metric(Stats.mean(remotes.map(planMs)), "ms"))
  }

  override def close(): Unit = if (server != null) server.close()
}

object ScanWorkload {
  val Query = "SELECT * FROM perfbench.lineitem"
  val BlockRows = 65536
}
