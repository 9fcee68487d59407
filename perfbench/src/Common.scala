package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A result that differs from the generator's: the op counts as failed. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Check {
  def equal(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, expected $want")

  def near(what: String, got: Double, want: Double, rel: Double = 1e-9): Unit =
    if (!(math.abs(got - want) <= rel * math.max(1.0, math.abs(want))))
      throw new Mismatch(s"$what: got $got, expected $want")

  def that(what: String, ok: Boolean): Unit = if (!ok) throw new Mismatch(what)
}

/** JVM and host counters read around every op, to tell host weather from code. */
object Host {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Cumulative steal time of all CPUs (/proc/stat, field 8), in seconds. */
  def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
  } catch { case _: Exception => 0.0 }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0) finally src.close()
  } catch { case _: Exception => 0.0 }
}

object Stats {
  def sorted(xs: Iterable[Double]): Array[Double] = xs.toArray.sorted

  /** Linear-interpolated quantile of an ascending array, q in [0, 1]. */
  def quantile(s: Array[Double], q: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(sorted(xs), 0.5)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /**
   * The highest percentile with at least 10 samples beyond it:
   * (percentile, value). With n samples that is the (n - 10)th
   * smallest. Below 20 samples that percentile would fall under the
   * median, so the maximum is returned instead, as percentile 100.
   */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val s = sorted(xs)
    if (s.length < 20) (100.0, if (s.isEmpty) Double.NaN else s.last)
    else (100.0 * (s.length - 10) / s.length, s(s.length - 11))
  }
}

/** One metric value as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** One timed op: latency plus the noise counters of its window. */
final case class Sample(op: Int, kind: String, ms: Double, gcMs: Double, stealS: Double,
    rows: Long, error: String) {
  def ok: Boolean = error == null
  /** GC or steal big enough to explain a slow sample. Flagged, never dropped. */
  def noisy: Boolean = gcMs > 0.1 * ms || stealS * 1000.0 > 0.1 * ms
}

/** What one workload's op returns. */
final case class OpResult(rows: Long, kind: String)

/**
 * A closed-loop workload: one client, one op at a time. `setup`
 * builds the inputs from the seed (timed as set-up), `op` runs one
 * timed operation and throws [[Mismatch]] on a wrong result, `verify`
 * checks state the ops left behind, outside the timed window.
 */
trait Workload {
  def name: String
  def setup(): Unit
  /** Untimed per-op preparation (e.g. materializing the next batch). */
  def prepare(i: Int): Unit = ()
  def op(i: Int): OpResult
  /** End-of-run check; a failure fails every op of the run. */
  def verify(): Unit = ()
  /** On-disk bytes per row of the tables the ops read or write. */
  def bytesPerRow: Double
  /**
   * Per-layer numbers, in traced runs only: from the timed ops' spans
   * and Spark task metrics, and from direct probe calls into a layer.
   */
  def layerMetrics(t: Tracer): Seq[(String, Metric)]
  def close(): Unit = ()
}

final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Drains a DataFrame's rows in the tasks, without collecting them. */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition((it: Iterator[_]) => while (it.hasNext) it.next())
}

object Files {
  /** Regular files under `dir` (recursively) whose names satisfy `p`. */
  def list(dir: File, p: String => Boolean): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) list(f, p) else if (p(f.getName)) Seq(f) else Seq.empty
    }

  def bytes(dir: String, p: String => Boolean): Long =
    list(new File(dir), p).map(_.length).sum

  /** A native data file (not a checksum or other bookkeeping file). */
  def isData(n: String): Boolean = !n.startsWith(".") && n.endsWith(".clickhouse")

  /** A data file's `.chidx` sidecar (block offsets and zone maps). */
  def isSidecar(n: String): Boolean = n.endsWith(".clickhouse.chidx")

  def isTableFile(n: String): Boolean = isData(n) || isSidecar(n)
}

/** Closed-loop runner: untimed warm-up, then a timed window of ops. */
object Loop {
  final case class Result(samples: Seq[Sample], warmOps: Int, warmFailures: Int,
      firstOpEpochMs: Long, windowS: Double)

  /**
   * Warms up for `warmS` seconds and at least `minWarmOps` ops, on
   * `warmThreads` threads: the JIT needs invocations, not time, so
   * concurrent warm-up ops reach steady code sooner. Then runs one op
   * at a time for `seconds` of op time.
   */
  def run(w: Workload, t: Tracer, warmS: Double, minWarmOps: Int, warmThreads: Int,
      seconds: Double): Result = {
    val next = new AtomicInteger(0)
    val warmFailures = new AtomicInteger(0)
    val warmStart = System.nanoTime()
    def warmLoop(): Unit =
      while ((System.nanoTime() - warmStart) / 1e9 < warmS || next.get < minWarmOps) {
        val i = next.getAndIncrement()
        w.prepare(i)
        try w.op(i) catch { case e: Exception => warmFailures.incrementAndGet(); report(w, i, e) }
      }
    val threads = Seq.fill(warmThreads)(new Thread(() => warmLoop()))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val warmOps = next.get
    var i = warmOps
    val samples = ArrayBuffer[Sample]()
    val firstOpEpochMs = System.currentTimeMillis()
    val start = System.nanoTime()
    var prepNs = 0L
    while ((System.nanoTime() - start - prepNs) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      w.prepare(i)
      prepNs += System.nanoTime() - p0
      val gc0 = Host.gcMs
      val st0 = Host.stealS
      val t0 = System.nanoTime()
      val (res, err) = t.op(w.name, i) {
        try (w.op(i), null: String)
        catch { case e: Exception => report(w, i, e); (OpResult(0, "failed"), e.toString) }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      samples += Sample(i, res.kind, ms, (Host.gcMs - gc0).toDouble, Host.stealS - st0,
        res.rows, err)
      i += 1
    }
    Result(samples.toSeq, warmOps, warmFailures.get, firstOpEpochMs,
      (System.nanoTime() - start - prepNs) / 1e9)
  }

  private def report(w: Workload, i: Int, e: Exception): Unit =
    System.err.println(s"[perfbench] ${w.name} op $i failed: $e")
}
