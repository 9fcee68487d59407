package graft.sources.native

import java.nio.file.Files

import graft.SparkTestBase

import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.{EqualTo, In}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Runtime (DPP-style) filtering on the native scan: after a join's
 * broadcast side materializes, Spark feeds the surviving join-key
 * values back into the scan as an `In` filter; the scan re-plans its
 * partitions through the zone-map sidecars and skips blocks that
 * cannot hold any surviving key. Correctness never depends on it —
 * the join re-checks every row — so these tests pin (a) the pruning
 * arithmetic, (b) the plan wiring that lets Spark use it.
 */
class RuntimeFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Sorted single-part native table: id 0..n-1 in block order. */
  private def writeSorted(tag: String, n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-rtf-$tag").toString + "/out"
    (0 until n).map(i => (i.toLong, s"d_$i")).toDF("id", "payload")
      .coalesce(1).write.format("clickhouse_native").mode("overwrite").save(dir)
    dir
  }

  /** All native BatchScanExec leaves, looking through AQE wrappers. */
  private def nativeScanExecs(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => nativeScanExecs(a.executedPlan)
    case q: QueryStageExec => nativeScanExecs(q.plan)
    case b: BatchScanExec if b.scan.isInstanceOf[NativeScan] => Seq(b)
    case other =>
      other.children.flatMap(nativeScanExecs) ++
        other.subqueries.flatMap(nativeScanExecs)
  }

  private def nativeScanOf(df: org.apache.spark.sql.DataFrame): NativeScan =
    nativeScanExecs(df.queryExecution.executedPlan).headOption
      .map(_.scan.asInstanceOf[NativeScan])
      .getOrElse(fail("no native BatchScanExec in plan"))

  test("scan declares filterable attributes and accepts runtime In filters") {
    val dir = writeSorted("attrs", 400000)
    val scan = nativeScanOf(spark.read.format("clickhouse_native").load(dir))
    val attrs = scan.filterAttributes().map(_.fieldNames().mkString(".")).toSet
    assert(attrs === Set("id", "payload"))

    // a file within the split target = one partition before any filter
    // arrives (minPartitionNum=1 lifts the target above this ~7 MB file;
    // at the default, Spark's split rule would fan it out over the cores)
    val before = SparkTestBase.withSQLConf("spark.sql.files.minPartitionNum" -> "1")(
      scan.planInputPartitions())
    assert(before.length === 1)
    assert(before(0).asInstanceOf[NativeInputPartition].blockCount === -1)

    // keys confined to the first block → the rescan covers ONE block,
    // not the whole file (400k rows = several 65536-row blocks)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("id", Array(3L, 5L, 11L))))
    val after = scan.planInputPartitions()
    assert(after.length === 1)
    assert(after(0).asInstanceOf[NativeInputPartition].blockCount === 1)
  }

  test("runtime filter with no surviving key plans zero partitions") {
    val dir = writeSorted("empty", 400000)
    val scan = nativeScanOf(spark.read.format("clickhouse_native").load(dir))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("id", -42L)))
    assert(scan.planInputPartitions().length === 0)
  }

  test("non-prunable runtime filters are ignored, static zone filters kept") {
    val dir = writeSorted("mixed", 400000)
    val df = spark.read.format("clickhouse_native").load(dir).filter("id < 70000")
    val scan = nativeScanOf(df)
    val static = scan.planInputPartitions().length
    // IsNotNull-shaped runtime filters can't prune; partition count is unchanged
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.IsNotNull("id")))
    assert(scan.planInputPartitions().length === static)
  }

  test("broadcast join injects runtime group filtering into the native scan (e2e)") {
    import spark.implicits._
    val dir = writeSorted("e2e", 400000)
    // PartitionPruning only fires when the pruning side carries its own
    // selective predicate (else there is nothing to prune WITH) — so the
    // dim is a filtered scan, not a bare local relation.
    val dimDir = Files.createTempDirectory("graft-rtf-dim").toString + "/dim"
    (0 until 50).map(i => (i.toLong * 100, s"k${i % 5}")).toDF("dim_id", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === "k1")
    val fact = spark.read.format("clickhouse_native").load(dir)
    val joined = fact.join(dim, fact("id") === dim("dim_id"))

    // collect() executes THIS queryExecution (count() would build its own)
    assert(joined.collect().length === 10)

    // the executed plan's native scan must carry an injected DPP filter,
    // and the post-filter rescan must shrink to the blocks holding the
    // surviving keys: all < 65536 → exactly ONE 65536-row block scanned
    // instead of all 400k rows. (`partitions` is the pre-filter lazy —
    // the executed, filtered partition set shows up in the row metric.)
    nativeScanExecs(joined.queryExecution.executedPlan) match {
      case Seq(b, _*) =>
        assert(b.scan.isInstanceOf[SupportsRuntimeFiltering])
        assert(b.runtimeFilters.nonEmpty,
          "optimizer did not inject a dynamic pruning filter into the native scan")
        assert(b.metrics("numOutputRows").value === 65536L)
      case _ => fail("no native BatchScanExec under the join")
    }
  }
}
