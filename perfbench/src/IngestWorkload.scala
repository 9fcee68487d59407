package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/**
 * `ingest`: appends of fixed-size, pre-generated batches into a
 * growing table with `compression=lz4` and `sortBy`. The native layer
 * is used for writes, so a read-side gain that costs write time or
 * space shows here. Batch `i` holds generator rows
 * [i * batchRows, (i + 1) * batchRows) tagged with `batch_id = i`; at
 * the end the whole table is checked against per-batch checksums.
 */
final class IngestWorkload(ctx: Ctx, batchRows: Int) extends Workload {
  val name = "ingest"
  private val spark = ctx.spark
  private val dir = ctx.dir("ingest")
  private val BatchCol = StructField("batch_id", IntegerType, nullable = false)
  private var next: (Int, DataFrame) = (-1, null)
  private val appended = mutable.ArrayBuffer[Int]()
  private val filesAfter = mutable.Map[Int, Int]()

  def setup(): Unit = ()

  private def batch(i: Int): DataFrame =
    Gen.Lineitem.local(spark, ctx.seed, i.toLong * batchRows, (i + 1L) * batchRows,
      Some(BatchCol -> i))

  override def prepare(i: Int): Unit = {
    // file count after the previous append, outside the timed op
    if (ctx.tracer.on && appended.nonEmpty && !filesAfter.contains(appended.last))
      filesAfter(appended.last) = Files.list(new java.io.File(dir), Files.isData).size
    if (next._1 != i) next = (i, batch(i))
  }

  def op(i: Int): OpResult = {
    prepare(i)
    ctx.tracer.span("native_write.append") {
      next._2.write.format("clickhouse_native").mode("append")
        .option("compression", "lz4").option("sortBy", "l_orderkey").save(dir)
    }
    appended += i
    OpResult(batchRows, "append")
  }

  override def verify(): Unit = {
    val got = spark.read.format("clickhouse_native").load(dir)
      .groupBy("batch_id")
      .agg(count(lit(1)), sum("l_orderkey"), sum("l_quantity"), sum(length(col("l_comment"))))
      .collect().map(r => r.getInt(0) -> r).toMap
    Check.equal("batches in table", got.keySet, appended.toSet)
    appended.foreach { b =>
      val want = Gen.lineitemSums(ctx.seed, b.toLong * batchRows, (b + 1L) * batchRows)
      val r = got(b)
      Check.equal(s"batch $b rows", r.getLong(1), want.longs(0))
      Check.equal(s"batch $b sum(l_orderkey)", r.getLong(2), want.longs(1))
      Check.near(s"batch $b sum(l_quantity)", r.getDouble(3), want.doubles(0))
      Check.equal(s"batch $b sum(length(l_comment))", r.getLong(4), want.longs(12))
    }
  }

  private def tableRows: Long = appended.size.toLong * batchRows

  def bytesPerRow: Double = Files.bytes(dir, Files.isTableFile).toDouble / tableRows

  private def probes: Seq[(String, Metric)] = Seq(
    "native_write.data_bytes_per_row" -> Metric(
      Files.bytes(dir, Files.isData).toDouble / tableRows, "B"),
    "native_write.sidecar_bytes_per_row" -> Metric(
      Files.bytes(dir, Files.isSidecar).toDouble / tableRows, "B"))

  def layerMetrics(t: Tracer): Seq[(String, Metric)] = {
    val appends = t.named(name, "native_write.append")
    val jobs = appends.map(t.jobsOf)
    val tasks = jobs.map(t.tasksOf)
    // commit: from the write job's end to the append's end (the commit after the job)
    val commit = appends.zip(jobs).filter(_._2.nonEmpty).map { case (s, js) =>
      s.startEpochMs + s.ms - js.map(_.endMs).max
    }
    val ops = appends.map(_.op).sorted
    val files = ops.flatMap(o => filesAfter.get(o).map(f => o -> f)).toMap
    val filesPerOp = ops.drop(1).flatMap(o => for (a <- files.get(o); b <- files.get(o - 1)) yield
      (a - b).toDouble)
    probes ++ Seq(
      "native_write.append_ms" -> Metric(Stats.median(appends.map(_.ms)), "ms"),
      "native_write.task_ms" -> Metric(Stats.median(tasks.map(_.map(_.runMs.toDouble).sum)), "ms"),
      "native_write.commit_ms" -> Metric(Stats.mean(commit), "ms"),
      "native_write.tasks_per_op" -> Metric(Stats.median(tasks.map(_.size.toDouble)), "count"),
      "native_write.files_per_op" -> Metric(Stats.median(filesPerOp), "count"))
  }
}
