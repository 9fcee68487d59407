package perfbench

import org.apache.spark.sql.Row

/**
 * `lookup`: seeded point, narrow-range and unfiltered `count(*)`
 * queries in ClickHouse-dialect SQL against `clickhouse_native('<dir>')`,
 * over a multi-file table written with `sortBy` on the key. Zone maps
 * prune nearly every block, so parsing, planning, sidecar reads and job
 * scheduling dominate: the per-query floor is what this workload measures.
 */
final class LookupWorkload(ctx: Ctx, rows: Int, files: Int) extends Workload {
  val name = "lookup"
  private val spark = ctx.spark
  private val dir = ctx.dir("lookup")
  private val maxKey = Gen.Lineitem.orderkey(rows - 1L)
  private val RangeWidth = 50

  def setup(): Unit =
    Gen.Lineitem.frame(spark, ctx.seed, 0, rows, files).write.format("clickhouse_native").mode("overwrite")
      .option("sortBy", "l_orderkey").save(dir)

  /** Query kind by op index: a fixed mix, the same for every seed. */
  private def kind(i: Int): String = i % 5 match {
    case 0 | 2 => "point"
    case 1 | 3 => "range"
    case _ => "count"
  }

  private def key(i: Int): Long = 1 + Gen.h(ctx.seed, i, 40) % maxKey

  /** Key range [lo, hi] of op `i`. */
  private def bounds(i: Int): (Long, Long) = kind(i) match {
    case "point" => (key(i), key(i))
    case "range" => val lo = 1 + Gen.h(ctx.seed, i, 40) % (maxKey - RangeWidth); (lo, lo + RangeWidth)
    case _ => (1L, maxKey)
  }

  def sql(i: Int): String = {
    val (lo, hi) = bounds(i)
    val from = s"FROM clickhouse_native('$dir')"
    kind(i) match {
      case "point" => s"SELECT count(*), sum(l_quantity), countIf(l_discount >= 0.05) $from " +
        s"WHERE l_orderkey = $lo"
      case "range" => s"SELECT count(*), sum(l_quantity), countIf(l_discount >= 0.05) $from " +
        s"WHERE l_orderkey BETWEEN $lo AND $hi"
      case _ => s"SELECT count(*) $from"
    }
  }

  /** Rows of the table in the op's key range, by the generator. */
  private def matching(i: Int): Seq[Long] = {
    val (lo, hi) = bounds(i)
    (4 * (lo - 1)) until math.min(rows.toLong, 4 * hi)
  }

  def op(i: Int): OpResult = {
    val t = ctx.tracer
    val df = t.span("dialect.analyze")(spark.sql(sql(i)))
    t.span("floor.plan")(df.queryExecution.executedPlan)
    val r: Row = t.span("floor.exec")(df.collect())(0)
    val k = kind(i)
    if (k == "count") {
      Check.equal("count(*)", r.getLong(0), rows.toLong)
      OpResult(rows, k)
    } else {
      val m = matching(i)
      Check.equal(s"$k count", r.getLong(0), m.size.toLong)
      Check.near(s"$k sum(l_quantity)", r.getDouble(1), m.map(Gen.Lineitem.quantity(ctx.seed, _)).sum)
      Check.equal(s"$k countIf", r.getLong(2),
        m.count(Gen.Lineitem.discount(ctx.seed, _) >= 0.05).toLong)
      OpResult(m.size, k)
    }
  }

  def bytesPerRow: Double = Files.bytes(dir, Files.isTableFile).toDouble / rows

  private def probes: Seq[(String, Metric)] = {
    val noop = (0 until 30).map { _ =>
      val t0 = System.nanoTime()
      spark.sql("SELECT 1").collect()
      (System.nanoTime() - t0) / 1e6
    }
    Seq("floor.noop_ms" -> Metric(Stats.median(noop.drop(10)), "ms"))
  }

  def layerMetrics(t: Tracer): Seq[(String, Metric)] = {
    val ops = t.named(name, "lookup.op")
    def med(span: String) = Stats.median(t.named(name, span).map(_.ms))
    val jobs = ops.map(t.jobsOf)
    // rows decoded by the scan per row the predicate matches (point and range ops)
    val filtered = ops.filter(s => kind(s.op) != "count")
    val read = filtered.map(s => t.tasksOf(t.jobsOf(s)).map(_.recordsRead).sum).sum
    val matched = filtered.map(s => matching(s.op).size.toLong).sum
    probes ++ Seq(
      "dialect.analyze_ms" -> Metric(med("dialect.analyze"), "ms"),
      "floor.plan_ms" -> Metric(med("floor.plan"), "ms"),
      "floor.exec_ms" -> Metric(med("floor.exec"), "ms"),
      "floor.jobs_per_op" -> Metric(jobs.map(_.size).sum.toDouble / ops.size, "count"),
      "floor.tasks_per_op" -> Metric(jobs.map(j => t.tasksOf(j).size).sum.toDouble / ops.size,
        "count"),
      "native_read.rows_read" -> Metric(read.toDouble, "count"),
      "native_read.rows_matched" -> Metric(matched.toDouble, "count"),
      "native_read.rows_read_per_row_returned" -> Metric(read.toDouble / matched, "ratio"))
  }
}
