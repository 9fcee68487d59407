package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in a fresh JVM:
 *
 *   perfbench.Main --workload scan|lookup|ingest|pipeline --seed N
 *     --seconds S --trace 0|1 --work DIR --out DIR --launch-ms EPOCH_MS
 *
 * Untraced (`--trace 0`): set up the named workload from the seed, warm
 * up untimed, run a closed loop of ops for S seconds, verify, and print
 * the end-to-end metrics. Traced (`--trace 1`): run every workload for
 * S/4 seconds with spans around each layer call and Spark's task
 * metrics attributed to the spans, then print the per-layer metrics.
 * The last stdout line is the result JSON either way.
 */
object Main {

  /**
   * Input sizes and warm-up per workload, the same for every seed.
   * Scan warms up on three threads (each pass is one task); lookup
   * gains nothing from more (its queries plan one at a time) and
   * ingest's ops append to one table.
   */
  final case class Plan(name: String, warmS: Double, minWarmOps: Int, warmThreads: Int,
      make: Ctx => Workload)

  val Plans: Seq[Plan] = Seq(
    Plan("scan", 10.0, 2, 3, c => new ScanWorkload(c, rows = 150000)),
    Plan("lookup", 16.0, 10, 1, c => new LookupWorkload(c, rows = 400000, files = 8)),
    Plan("ingest", 6.0, 3, 1, c => new IngestWorkload(c, batchRows = 25000)),
    Plan("pipeline", 0.0, 1, 1, c => new PipelineWorkload(c, docs = 1000, vectors = 1500)))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, launchMs: Long)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
    require(Plans.exists(_.name == a.workload),
      s"unknown workload '${a.workload}' (known: ${Plans.map(_.name).mkString(", ")})")
    a
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.ui.enabled", "false")
      // a forced full GC inside a timed window costs seconds of drain
      .config("spark.cleaner.periodicGC.interval", "1h")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    a.out.mkdirs()
    val spark = session(a.work)
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val ctx = new Ctx(spark, a.work, a.seed, tracer)
    val line = try { if (a.trace) traced(ctx, a) else untraced(ctx, a) }
    finally spark.stop()
    println(line)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) => s""""$k": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def table(title: String, rows: Seq[(String, Metric)]): Unit = {
    println(title)
    rows.foreach { case (k, m) => println(f"  $k%-42s ${fmt(m.value)}%18s ${m.unit}") }
  }

  /** Runs `w`'s ops; returns (samples, failed, error of verify or warm-up). */
  private def exercise(w: Workload, t: Tracer, p: Plan, seconds: Double)
      : (Loop.Result, Int, Option[String]) = {
    val res = Loop.run(w, t, p.warmS, p.minWarmOps, p.warmThreads, seconds)
    val verifyErr = try { w.verify(); None } catch { case e: Exception => Some(e.toString) }
    val err = verifyErr.orElse(
      if (res.warmFailures > 0) Some(s"${res.warmFailures} warm-up ops failed") else None)
    // a failed end-of-run check fails every op of the run
    val failed = if (err.isDefined) res.samples.size else res.samples.count(!_.ok)
    (res, failed, err)
  }

  private def untraced(ctx: Ctx, a: Args): String = {
    val p = Plans.find(_.name == a.workload).get
    val w = p.make(ctx)
    try {
      val sessionMs = System.currentTimeMillis()
      w.setup()
      val fixturesMs = System.currentTimeMillis()
      val (res, failed, err) = exercise(w, ctx.tracer, p, a.seconds)
      val ok = res.samples.filter(_.ok)
      val ms = ok.map(_.ms)
      val (tailPct, tailMs) = Stats.tail(ms)
      val metrics = Seq(
        "setup_s" -> Metric((res.firstOpEpochMs - a.launchMs) / 1e3, "s"),
        "op_ms_p50" -> Metric(Stats.median(ms), "ms"),
        "op_ms_tail" -> Metric(tailMs, "ms"),
        "rows_per_s" -> Metric(ok.map(_.rows).sum / res.windowS, "1/s"),
        "ops_per_s" -> Metric(res.samples.size / res.windowS, "1/s"),
        "bytes_per_row" -> Metric(w.bytesPerRow, "B"),
        "peak_rss_mb" -> Metric(Host.peakRssMb, "MiB"))
      val noisy = res.samples.filter(_.noisy)
      table(s"perfbench ${w.name} seed=${a.seed} ops=${res.samples.size} " +
        s"warm_ops=${res.warmOps} window_s=${fmt(res.windowS)}", metrics)
      println(f"  op_ms_tail is p$tailPct%.1f of n=${ms.size}")
      println(f"  setup: jvm+session ${(sessionMs - a.launchMs) / 1e3}%.2f s, inputs " +
        f"${(fixturesMs - sessionMs) / 1e3}%.2f s, warm-up ${(res.firstOpEpochMs - fixturesMs) / 1e3}%.2f s")
      println(s"  failed_ratio ${fmt(failed.toDouble / math.max(1, res.samples.size))}" +
        err.fold("")(e => s" ($e)"))
      println(f"  noise: ${noisy.size} of ${res.samples.size} samples flagged; in-window gc " +
        f"${res.samples.map(_.gcMs).sum}%.0f ms, host steal ${res.samples.map(_.stealS).sum}%.2f s")
      writeSamples(new File(a.out, s"${w.name}-seed${a.seed}-samples.json"), res.samples)
      resultJson(failed == 0, math.max(1, res.samples.size), failed, metrics)
    } finally w.close()
  }

  private def writeSamples(f: File, samples: Seq[Sample]): Unit = {
    val out = new PrintWriter(f, "UTF-8")
    try {
      out.println("[")
      out.println(samples.map { s =>
        f"""  {"op": ${s.op}, "kind": "${s.kind}", "ms": ${s.ms}%.3f, "gc_ms": ${s.gcMs}%.0f, """ +
          f""""steal_s": ${s.stealS}%.2f, "noisy": ${s.noisy}, "ok": ${s.ok}}"""
      }.mkString(",\n"))
      out.println("]")
    } finally out.close()
  }

  private def traced(ctx: Ctx, a: Args): String = {
    val t = ctx.tracer
    var attempted = 0
    var failed = 0
    val layer = Seq.newBuilder[(String, Metric)]
    val samples = Seq.newBuilder[Sample]
    Plans.foreach { p =>
      val w = p.make(ctx)
      t.workload = w.name
      try {
        w.setup()
        // spans are recorded from one thread: warm up on one, briefly
        val warm = p.copy(warmS = p.warmS / 4, minWarmOps = math.min(p.minWarmOps, 2),
          warmThreads = 1)
        val (res, f, err) = exercise(w, t, warm, a.seconds / Plans.size)
        err.foreach(e => System.err.println(s"[perfbench] ${w.name}: $e"))
        attempted += res.samples.size
        failed += f
        t.drain()
        layer ++= w.layerMetrics(t)
        samples ++= res.samples
        layer += s"trace.op_ms_p50.${w.name}" -> Metric(Stats.median(res.samples.map(_.ms)), "ms")
      } finally w.close()
    }
    // in-window GC over every traced op: one workload's window can hold no GC at all
    val all = samples.result()
    layer += "jvm.gc_ms_per_op" -> Metric(all.map(_.gcMs).sum / math.max(1, all.size), "ms")
    val metrics = layer.result()
    t.write(new File(a.out, s"trace-seed${a.seed}.json"))
    println("self time per span (ms): name, spans, total, self")
    t.spans.groupBy(s => (s.workload, s.name)).toSeq.sortBy(_._1).foreach { case ((wl, n), ss) =>
      println(f"  $wl%-9s $n%-28s ${ss.size}%5d ${ss.map(_.ms).sum}%10.1f ${ss.map(t.selfMs).sum}%10.1f")
    }
    table("per-layer metrics", metrics)
    resultJson(failed == 0, math.max(1, attempted), failed, metrics)
  }
}
