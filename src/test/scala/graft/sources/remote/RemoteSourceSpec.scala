package graft.sources.remote

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RemoteSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def recordedResponse(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-remote").toString + "/resp"
    spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
      .coalesce(1).write.format("clickhouse_native").mode("overwrite").save(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).map(_.getPath).sorted.head
  }

  test("file transport streams a recorded Native response as a table") {
    val resp = recordedResponse()
    val df = spark.read.format("clickhouse_remote")
      .option("query", "SELECT * FROM nation")
      .option("transport", "file")
      .option("responsePath", resp)
      .load()
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
    assert(df.collect().toSet === src.collect().toSet)
    assert(df.count() === 25)
  }

  test("column pruning reaches the remote decode path") {
    val resp = recordedResponse()
    val df = spark.read.format("clickhouse_remote")
      .option("query", "SELECT * FROM nation")
      .option("transport", "file")
      .option("responsePath", resp)
      .load()
      .select("n_name")
    assert(df.collect().map(_.getString(0)).toSet ===
      spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
        .select("n_name").collect().map(_.getString(0)).toSet)
  }

  test("missing query option fails clearly") {
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("transport", "file").option("responsePath", "/tmp/x").load()
    }
    assert(e.getMessage.contains("query"))
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Seq.empty else t +: causes(t.getCause)

  test("tcp transport: bad url fails with a named error") {
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("query", "SELECT 1").option("transport", "tcp")
        .option("url", "nonsense").load()
    }
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("host:port")))
  }

  test("an unknown transport or url scheme fails with a named error") {
    val transport = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("query", "SELECT 1").option("transport", "socket")
        .option("url", "tcp://127.0.0.1:1").load()
    }
    assert(causes(transport).exists(c =>
      String.valueOf(c.getMessage).contains("unknown transport 'socket'")), transport.toString)
    // the tcp client refuses any url scheme but tcp:// before dialing;
    // the table function routes every non-file url to it
    val schemes = Seq(
      intercept[Exception] {
        spark.read.format("clickhouse_remote")
          .option("query", "SELECT 1").option("url", "socket://127.0.0.1:1").load()
      },
      intercept[Exception] {
        spark.sql("SELECT * FROM clickhouse_scan('SELECT 1', 'socket://127.0.0.1:1')").collect()
      })
    schemes.foreach(e => assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("unsupported url scheme")), e.toString))
  }

  test("tcp transport is the default and fails fast on an unreachable server") {
    // protocol-level behavior (handshake, framing, golden bytes) is
    // covered by ChTcpProtocolSpec; here: default transport = tcp, and
    // a dead endpoint errors at connect within the timeout instead of
    // hanging (port 1 on loopback is never listening)
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("query", "SELECT 1")
        .option("url", "tcp://127.0.0.1:1")
        .option("timeoutMs", "2000").load().collect()
    }
    assert(causes(e).exists(_.isInstanceOf[java.net.ConnectException]), e.toString)
  }
}
