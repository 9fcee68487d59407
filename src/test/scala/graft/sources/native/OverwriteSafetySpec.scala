package graft.sources.native

import java.nio.file.Files

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Write-path safety: part names carry a per-write unique token (a new
 * session's deterministic part-<pid>-<tid>-<seq> names would otherwise
 * CLOBBER existing parts via create(overwrite=true)), and overwrite
 * defers old-file deletion to commit so a self-read — INSERT OVERWRITE
 * t SELECT ... FROM t, the natural compaction command — scans the old
 * data while writing the new.
 */
class OverwriteSafetySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("every write embeds a distinct token: same (pid, tid) never collides") {
    val dir = Files.createTempDirectory("graft-token").toString + "/out"
    val conf = spark.sessionState.newHadoopConf()
    // two writers with IDENTICAL partitionId/taskId — the cross-session
    // collision shape — but different write tokens
    Seq("aaaa1111", "bbbb2222").foreach { token =>
      val w = new NativeDataWriter(NativeWriteOptions(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.LongType))),
        dir, maxRowsPerFile = 1 << 20), 0, 0L, conf, writeToken = token)
      (1L to 10L).foreach(i => w.write(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](i))))
      w.commit()
    }
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.count() === 20, "second write must not clobber the first")
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".clickhouse"))
    assert(names.length === 2)
    assert(names.exists(_.contains("-aaaa1111-")) && names.exists(_.contains("-bbbb2222-")))
  }

  test("INSERT OVERWRITE from the table itself compacts instead of destroying") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
    spark.sql("DROP TABLE IF EXISTS graft.ow.t")
    spark.sql("CREATE TABLE graft.ow.t (k BIGINT) USING clickhouse_native")
    spark.range(0, 1000).selectExpr("id AS k").writeTo("graft.ow.t").append()
    spark.sql("INSERT OVERWRITE graft.ow.t SELECT * FROM graft.ow.t WHERE k < 500")
    val back = spark.table("graft.ow.t")
    assert(back.count() === 500)
    assert(back.agg(max("k")).head.getLong(0) === 499L)
  }

  test("overwrite commit removes the old parts' sidecars too") {
    val dir = Files.createTempDirectory("graft-ow-sc").toString + "/out"
    (1 to 100).map(_.toLong).toDF("x").write.format("clickhouse_native")
      .mode("overwrite").save(dir)
    (1 to 5).map(_.toLong).toDF("x").write.format("clickhouse_native")
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    val parts = files.filter(_.endsWith(".clickhouse"))
    val sidecars = files.filter(_.endsWith(".chidx"))
    // every surviving sidecar belongs to a surviving part — no orphans
    assert(sidecars.nonEmpty)
    sidecars.foreach { sc =>
      val dataName = sc.stripPrefix(".").stripSuffix(".chidx")
      assert(parts.contains(dataName), s"orphan sidecar $sc")
    }
  }

  test("job-level abort removes this write's parts, keeps pre-existing data") {
    val dir = Files.createTempDirectory("graft-ow-abort").toString + "/out"
    (1 to 50).map(_.toLong).toDF("x").write.format("clickhouse_native")
      .mode("overwrite").save(dir)

    // drive the V2 write protocol by hand: tasks commit, then the JOB
    // aborts (the shape a partially-failed INSERT OVERWRITE leaves)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val write = new NativeWriteBuilder(NativeWriteOptions(schema, dir, maxRowsPerFile = 1 << 20))
      .truncate().asInstanceOf[NativeWriteBuilder].build()
    val batch = write.toBatch
    val factory = batch.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 0L)
    (1L to 9L).foreach(i => w.write(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](i))))
    val msg = w.commit()
    batch.abort(Array(msg))

    // the aborted overwrite's parts are gone; the original 50 rows stand
    assert(spark.read.format("clickhouse_native").load(dir).count() === 50)
  }

  test("a commit keeps only the parts its tasks reported (batch and streaming input)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    def row(i: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](i))
    val epoch = 7L
    Seq("batch", "streaming").foreach { input =>
      val dir = Files.createTempDirectory(s"graft-reconcile-$input").toString + "/out"
      val write = new NativeWriteBuilder(NativeWriteOptions(schema, dir, maxRowsPerFile = 4))
        .build()
      // the two inputs differ only in how a writer is made and the job committed
      val (newWriter, commit) = input match {
        case "batch" =>
          val batch = write.toBatch
          val factory = batch.createBatchWriterFactory(null)
          ((tid: Long) => factory.createWriter(0, tid),
            (msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) =>
              batch.commit(msgs))
        case "streaming" =>
          val stream = write.toStreaming
          val factory = stream.createStreamingWriterFactory(null)
          ((tid: Long) => factory.createWriter(0, tid, epoch),
            (msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) =>
              stream.commit(epoch, msgs))
      }
      // attempt 0 loses its executor: never committed, never aborted,
      // it leaves one complete 4-row part (plus sidecar) behind
      val lost = newWriter(0L)
      (1L to 9L).foreach(i => lost.write(row(i)))
      val attempt0 = "part-00000-0-"
      assert(new java.io.File(dir).list().count(_.contains(attempt0)) >= 2, input)
      // attempt 1 commits, then the job commits its message
      val ok = newWriter(1L)
      (101L to 103L).foreach(i => ok.write(row(i)))
      commit(Array(ok.commit()))

      val back = spark.read.format("clickhouse_native").load(dir)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(back === Seq(101L, 102L, 103L), input)
      val left = new java.io.File(dir).list().filter(_.contains(attempt0))
      assert(left.isEmpty, s"$input: attempt-0 files remain: ${left.mkString(", ")}")
    }
  }

  test("task abort removes its parts even when the close re-raises the write failure") {
    val dir = Files.createTempDirectory("graft-abort-fail").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.failafter.impl", classOf[FailAfterFileSystem].getName)
    conf.setBoolean("fs.failafter.impl.disable.cache", true)
    conf.setLong(FailAfterFileSystem.LimitKey, 64L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    def row(i: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](i, org.apache.spark.unsafe.types.UTF8String.fromString(s"value-$i")))
    val plain = NativeWriteOptions(schema, s"failafter://$dir/plain", maxRowsPerFile = 4)
    val writers = Seq(
      "plain" -> new NativeDataWriter(plain, 0, 0L, conf),
      // every bucket child fails on its own stream; abort must reach all of them
      "bucketed" -> new BucketedNativeDataWriter(
        plain.copy(path = s"failafter://$dir/bucketed", bucket = Some(("x", 2))),
        0, 0L, conf, "", "w0"))
    writers.foreach { case (what, w) =>
      intercept[java.io.IOException] { (1L to 100L).foreach(i => w.write(row(i))) }
      try w.abort() catch { case _: java.io.IOException => }
      val left = Option(new java.io.File(dir, what).list()).toSeq.flatten
        .filter(n => n.endsWith(".clickhouse") || n.endsWith(".chidx"))
      assert(left.isEmpty, s"$what: abort left ${left.mkString(", ")}")
    }
  }

  test("dataframe overwrite of a path keeps old data until commit; result replaces it") {
    val dir = Files.createTempDirectory("graft-ow2").toString + "/out"
    (1 to 100).map(_.toLong).toDF("x").write.format("clickhouse_native")
      .mode("overwrite").save(dir)
    (1 to 7).map(_.toLong).toDF("x").write.format("clickhouse_native")
      .mode("overwrite").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 7)
    // overwrite-from-self through the path API too
    val self = spark.read.format("clickhouse_native").load(dir).filter($"x" <= 3)
    self.write.format("clickhouse_native").mode("overwrite").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("conditional overwrite fails loudly instead of truncating everything") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
    spark.sql("DROP TABLE IF EXISTS graft.ow.cond")
    spark.sql("CREATE TABLE graft.ow.cond (id BIGINT, v STRING) USING clickhouse_native")
    spark.sql("INSERT INTO graft.ow.cond VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // overwrite(cond) cannot be expressed as row-level deletes in this
    // format; silently truncating ALL rows (the old behavior) loses the
    // rows NOT matching the condition. Two layers refuse it: the
    // analyzer (no OVERWRITE_BY_FILTER capability) ...
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((9L, "z")).toDF("id", "v").writeTo("graft.ow.cond").overwrite($"id" > 2)
    }
    assert(e.getMessage.contains("overwrite by filter"), e.getMessage)
    // ... and, defense-in-depth, the write builder itself (in case the
    // capability is ever added or a planner path bypasses the check)
    val builder = new NativeWriteBuilder(NativeWriteOptions(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      "/tmp/never-used", maxRowsPerFile = 1 << 20, dictEncode = false))
    val e2 = intercept[UnsupportedOperationException] {
      builder.overwrite(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan("id", 2L)))
    }
    assert(e2.getMessage.contains("unconditional"), e2.getMessage)
    // AlwaysTrue (the df.overwrite(lit(true)) shape) is a plain truncate
    builder.overwrite(Array[org.apache.spark.sql.sources.Filter](
      new org.apache.spark.sql.sources.AlwaysTrue))
    // the data survived the refused overwrite
    assert(spark.table("graft.ow.cond").count() === 3)
    // unconditional overwrite (AlwaysTrue) still works
    Seq((9L, "z")).toDF("id", "v").writeTo("graft.ow.cond").overwrite(lit(true))
    assert(spark.table("graft.ow.cond").collect().map(_.getLong(0)).toSeq === Seq(9L))
    spark.sql("DROP TABLE graft.ow.cond")
  }
}

/**
 * A local file system under the `failafter:` scheme whose output
 * streams throw after `FailAfterFileSystem.LimitKey` bytes each — the
 * shape of a disk or network failure surfacing on a buffered flush.
 */
class FailAfterFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}

  override def getUri: java.net.URI = java.net.URI.create("failafter:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val limit = getConf.getLong(FailAfterFileSystem.LimitKey, Long.MaxValue)
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new java.io.OutputStream {
      private var written = 0L
      private def count(n: Int): Unit = {
        written += n
        if (written > limit) throw new java.io.IOException(s"injected write failure on $f")
      }
      override def write(b: Int): Unit = { count(1); out.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        count(len); out.write(b, off, len)
      }
      override def close(): Unit = out.close()
    }, null)
  }
}

object FailAfterFileSystem {
  val LimitKey = "failafter.bytes"
}
