package graft.sources.native

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Mutations (ALTER TABLE DELETE/UPDATE) + system.parts introspection.
 * Correctness of the end-to-end mutation result is oracle-gated
 * (q_engine_mutate); these tests pin the EXECUTION model — the part
 * of the contract a 100-TB run depends on: parts the predicate
 * provably cannot touch are never rewritten (byte-identical
 * copy-through via zone maps), and UPDATE reads the pre-mutation row.
 */
class NativeTableOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete()
    d.getPath
  }

  /** A 4-part table with disjoint id ranges per part (range-clustered
    * via repartitionByRange so zone maps separate the parts). */
  private def makeTable(dir: String): Unit = {
    import spark.implicits._
    (0 until 1000).map(i => (i.toLong, s"name_$i", i % 7))
      .toDF("id", "name", "grp")
      .repartitionByRange(4, col("id"))
      .write.format("clickhouse_native").mode("overwrite").save(dir)
  }

  private def partFiles(dir: String) =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse"))
      .sortBy(_.getName)

  test("delete mutation rewrites only the parts the zone maps cannot clear") {
    val src = tmp("mut-src")
    val dst = tmp("mut-dst")
    makeTable(src)
    assert(partFiles(src).length === 4)

    // ids 0..199 live in the first range-part only
    val out = NativeTableOps.mutateDelete(spark, src, dst, col("id") < 200)
    assert(out.count() === 800)
    assert(out.filter(col("id") < 200).count() === 0)

    // untouched parts must be BYTE-IDENTICAL source files (copied, not
    // re-encoded): match by (name, length, content hash)
    val srcByName = partFiles(src).map(f => f.getName ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))).toMap
    val copied = partFiles(dst).filter(f => srcByName.get(f.getName)
      .contains(java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))))
    assert(copied.length === 3,
      s"expected 3 copied-through parts, got ${copied.length} of ${partFiles(dst).length}")
    // and each copied part kept its (dot-prefixed) sidecar
    copied.foreach { f =>
      val sidecar = NativeIndex.sidecarPath(
        new org.apache.hadoop.fs.Path(f.getPath)).getName
      assert(new java.io.File(dst, sidecar).exists(),
        s"sidecar $sidecar missing for copied part ${f.getName}")
    }
  }

  test("delete with an IN list of 20 literals (Spark's InSet) rewrites only the parts holding them") {
    import spark.implicits._
    val src = tmp("mut-inset-src")
    val dst = tmp("mut-inset-dst")
    (0 until 1000).map(i => (i.toLong, s"name_$i", i % 7)).toDF("id", "name", "grp")
      .repartitionByRange(8, col("id"))
      .write.format("clickhouse_native").option("sortBy", "id").mode("overwrite").save(src)
    assert(partFiles(src).length === 8)
    // more than 10 literals: the optimizer rewrites the IN list to InSet
    val ids = (0L until 10L) ++ (500L until 510L)
    val hit = col("id").isin(ids: _*)
    val out = NativeTableOps.mutateDelete(spark, src, dst, hit)
    assert(out.count() === 980)
    val (holders, others) = partFiles(src).partition(f =>
      spark.read.format("clickhouse_native").load(f.getPath).filter(hit).count() > 0)
    assert(holders.nonEmpty && holders.length <= 3, holders.map(_.getName).toSeq)
    holders.foreach(f => assert(!new java.io.File(dst, f.getName).exists(), s"${f.getName} copied"))
    others.foreach { f =>
      val copy = new java.io.File(dst, f.getName)
      assert(copy.exists(), s"untouched part ${f.getName} was rewritten")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(copy.toPath)), s"${f.getName} not byte-identical")
    }
  }

  test("update mutation: assignments and predicate see the ORIGINAL row") {
    val src = tmp("mut-upd-src")
    val dst = tmp("mut-upd-dst")
    makeTable(src)
    // swap-shaped update: name takes a value derived from grp, grp from id;
    // a sequential column-fold would corrupt the second assignment
    val out = NativeTableOps.mutateUpdate(spark, src, dst,
      col("grp") === 3,
      Map("name" -> concat(lit("g"), col("grp")), "grp" -> (col("id") % 2).cast("int")))
    val hit = out.filter(col("name") === "g3")
    assert(hit.count() === out.filter((col("id") % 7) === 3).count())
    // grp was reassigned from id AFTER name read the old grp
    hit.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) === (id % 2).toInt)
      assert(id % 7 === 3)
    }
    // non-matching rows fully unchanged
    val miss = out.filter((col("id") % 7) =!= 3)
    assert(miss.filter(col("name").startsWith("g")).count() === 0)
  }

  test("delete keeps rows where the predicate is NULL (SQL WHERE contract)") {
    import spark.implicits._
    val src = tmp("mut-null-src")
    val dst = tmp("mut-null-dst")
    Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v")
      .write.format("clickhouse_native").mode("overwrite").save(src)
    val out = NativeTableOps.mutateDelete(spark, src, dst, col("v") > 10)
    // row 3 deleted; row 2 (NULL predicate) SURVIVES
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("mutation refuses a non-empty target directory") {
    val src = tmp("mut-ref-src")
    val dst = tmp("mut-ref-dst")
    makeTable(src)
    makeTable(dst)
    val e = intercept[IllegalArgumentException] {
      NativeTableOps.mutateDelete(spark, src, dst, col("id") < 10)
    }
    assert(e.getMessage.contains("must be empty"))
  }

  /** Time-ordered table: 1000 rows, ts = epoch + i minutes, 4 range
    * parts so each part owns a contiguous quarter of the timeline. */
  private def makeTimeTable(dir: String): Unit = {
    import spark.implicits._
    (0 until 1000).map(i => (i.toLong, i % 7))
      .toDF("id", "grp")
      .select(col("id"),
        timestamp_micros(col("id") * 60L * 1000000L)
          .cast("timestamp_ntz").as("ts"),
        col("grp"))
      .repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts")
      .write.format("clickhouse_native").mode("overwrite").save(dir)
  }

  test("TTL drops expired parts by metadata, copies live parts byte-identical, rewrites only the boundary") {
    val src = tmp("ttl-src")
    val dst = tmp("ttl-dst")
    makeTimeTable(src)
    assert(partFiles(src).length === 4)

    // cutoff at minute 300: part0 [0,249] all-expired, part1 [250,499]
    // straddles, parts 2-3 all-live
    val cutoff = timestamp_micros(lit(300L * 60L * 1000000L))
      .cast("timestamp_ntz")
    val res = NativeTableOps.applyTtl(spark, src, dst, "ts", cutoff)
    assert(res.dropped.length === 1,
      s"expected 1 metadata-only drop, got $res")
    assert(res.copied.length === 2, s"expected 2 copy-throughs, got $res")
    assert(res.rewritten.length === 1, s"expected 1 boundary rewrite, got $res")

    val out = spark.read.format("clickhouse_native").load(dst)
    assert(out.count() === 700)
    assert(out.agg(min(col("id"))).head().getLong(0) === 300L)

    // the dropped part's file never appears in the target
    res.dropped.foreach(n => assert(!new java.io.File(dst, n).exists()))
    // copied parts are byte-identical source files with sidecars
    val srcByName = partFiles(src).map(f => f.getName ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))).toMap
    res.copied.foreach { n =>
      val f = new java.io.File(dst, n)
      assert(f.exists() && srcByName(n) ===
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)),
        s"copied part $n not byte-identical")
      val sidecar = NativeIndex.sidecarPath(
        new org.apache.hadoop.fs.Path(f.getPath)).getName
      assert(new java.io.File(dst, sidecar).exists(),
        s"sidecar $sidecar missing for copied part $n")
    }
  }

  test("TTL classifies its source from one listing, parsing each sidecar once") {
    import spark.implicits._
    val src = tmp("ttl-once-src")
    val dst = tmp("ttl-once-dst")
    // 8 time-ordered parts of ~1000 minutes each
    (0 until 8000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
      .select(col("id"),
        timestamp_micros(col("id") * 60L * 1000000L).cast("timestamp_ntz").as("ts"))
      .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
      .write.format("clickhouse_native").mode("overwrite").save(src)
    val cutoff = timestamp_micros(lit(4500L * 60L * 1000000L)).cast("timestamp_ntz")
    CountGlobFileSystem.counting {
      val res = NativeTableOps.applyTtl(spark, s"countglob://$src", dst, "ts", cutoff)
      assert((res.dropped.size, res.copied.size, res.rewritten.size) === ((4, 3, 1)), res)
      // the bind lists the source once; its snapshot plans, checks the
      // drop tier, picks the codec and serves the rewrite job's scan
      assert(CountGlobFileSystem.listings.get === 1)
      assert(CountGlobFileSystem.calls.get === 1)
      // one sidecar parse per part; copied parts are byte-copied with
      // their sidecar
      val extra = res.copied.toSet
      val expected = partFiles(src).map { f =>
        s".${f.getName}.chidx" -> (if (extra(f.getName)) 2 else 1)
      }.toMap
      assert(CountGlobFileSystem.sidecarOpens.asScala.toMap === expected)
      // a dropped part's data file is opened for its header only
      res.dropped.foreach(n => assert(CountGlobFileSystem.dataOpens.get(n) === 1, n))
    }
  }

  test("TTL keeps NULL timestamps and never metadata-drops a nullable column") {
    import spark.implicits._
    val src = tmp("ttl-null-src")
    val dst = tmp("ttl-null-dst")
    // all non-null values expired; the NULL row must survive, which
    // means NO part may be dropped on metadata alone (zone maps carry
    // no null counts)
    Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "tsv")
      .select(col("id"),
        timestamp_micros(col("tsv") * 1000000L).cast("timestamp_ntz").as("ts"))
      .coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(src)
    val cutoff = timestamp_micros(lit(1000L * 1000000L)).cast("timestamp_ntz")
    val res = NativeTableOps.applyTtl(spark, src, dst, "ts", cutoff)
    assert(res.dropped.isEmpty, s"nullable column must not metadata-drop: $res")
    val out = spark.read.format("clickhouse_native").load(dst)
    assert(out.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("TTL refuses a non-empty target directory") {
    val src = tmp("ttl-ref-src")
    val dst = tmp("ttl-ref-dst")
    makeTimeTable(src)
    makeTable(dst)
    val e = intercept[IllegalArgumentException] {
      NativeTableOps.applyTtl(spark, src, dst, "ts", current_timestamp())
    }
    assert(e.getMessage.contains("must be empty"))
  }

  test("TTL RECOMPRESS rewrites only provably-cold parts, to the new codec") {
    val src = tmp("ttlrc-src")
    val dst = tmp("ttlrc-dst")
    makeTimeTable(src)

    val cutoff = timestamp_micros(lit(500L * 60L * 1000000L))
      .cast("timestamp_ntz")
    val res = NativeTableOps.applyTtlRecompress(spark, src, dst, "ts", cutoff)
    assert(res.recompressed.length === 2, s"expected 2 cold parts, got $res")
    assert(res.copied.length === 2, s"expected 2 hot copies, got $res")

    // content identical, nothing dropped
    val out = spark.read.format("clickhouse_native").load(dst)
    assert(out.count() === 1000)
    assert(out.agg(sum(col("id"))).head().getLong(0) === (0L until 1000L).sum)

    // hot parts byte-identical; rewritten parts carry the zstd codec
    val srcByName = partFiles(src).map(f => f.getName ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath))).toMap
    res.copied.foreach { n =>
      val f = new java.io.File(dst, n)
      assert(f.exists() && srcByName(n) ===
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    val meta = NativeTableOps.partsMeta(spark, dst).collect()
      .map(r => r.getAs[String]("part") -> r.getAs[String]("compression")).toMap
    val rewritten = meta.keySet -- res.copied.toSet
    assert(rewritten.nonEmpty)
    rewritten.foreach(p => assert(meta(p) === "zstd", s"$p codec=${meta(p)}"))
    res.copied.foreach(p => assert(meta(p) === "none", s"$p codec=${meta(p)}"))
  }

  test("DETACH hides a part from scans; ATTACH restores it with its sidecar") {
    val dir = tmp("detach")
    makeTable(dir)
    val part = partFiles(dir).head.getName

    NativeTableOps.detachPart(spark, dir, part)
    val afterDetach = spark.read.format("clickhouse_native").load(dir)
    assert(afterDetach.count() < 1000)
    assert(new java.io.File(s"$dir/detached", part).exists())
    // sidecar traveled with the part
    val sidecarName = NativeIndex.sidecarPath(
      new org.apache.hadoop.fs.Path(part)).getName
    assert(new java.io.File(s"$dir/detached", sidecarName).exists())
    assert(!new java.io.File(dir, sidecarName).exists())

    NativeTableOps.attachPart(spark, dir, part)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 1000)
    assert(new java.io.File(dir, sidecarName).exists())

    val e = intercept[IllegalArgumentException] {
      NativeTableOps.detachPart(spark, dir, "no_such_part.clickhouse")
    }
    assert(e.getMessage.contains("not found"))
  }

  test("overwrite keeps detached/: a detached part survives and re-attaches") {
    import spark.implicits._
    val dir = tmp("detach-ow")
    makeTable(dir)
    val part = partFiles(dir).head.getName
    NativeTableOps.detachPart(spark, dir, part)
    val detachedRows = 1000 - spark.read.format("clickhouse_native").load(dir).count()
    assert(detachedRows > 0)

    (0 until 10).map(i => (i.toLong, s"new_$i", 0)).toDF("id", "name", "grp")
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val sidecarName = NativeIndex.sidecarPath(new org.apache.hadoop.fs.Path(part)).getName
    assert(new java.io.File(s"$dir/detached", part).exists(), "overwrite deleted the detached part")
    assert(new java.io.File(s"$dir/detached", sidecarName).exists(),
      "overwrite deleted the detached sidecar")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 10)

    NativeTableOps.attachPart(spark, dir, part)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 10 + detachedRows)
  }

  test("projections: reads route to the layout whose zone maps prune hardest") {
    val dir = tmp("proj")
    // base clustered by id → zone maps prune id, not grp
    makeTable(dir)
    NativeTableOps.addProjection(spark, dir, "by_grp", Seq("grp", "id"))

    // a grp predicate picks the projection...
    val (byGrp, chosenGrp) =
      NativeTableOps.readWithProjections(spark, dir, col("grp") === 3)
    assert(chosenGrp.contains("projections/by_grp"), chosenGrp)
    // ...an id predicate stays on the base layout
    val (byId, chosenId) =
      NativeTableOps.readWithProjections(spark, dir, col("id") < 100)
    assert(!chosenId.contains("projections"), chosenId)

    // either route returns exactly the plain filter's rows
    val base = spark.read.format("clickhouse_native").load(dir)
    assert(byGrp.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      base.filter(col("grp") === 3).select("id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(byId.count() === 100)

    // the projection subdirectory is invisible to plain scans
    assert(base.count() === 1000)

    // STALENESS: rows appended after the projection build make its
    // copy incomplete — the read must skip it (the manifest's part
    // set no longer matches) and return the appended rows too
    import spark.implicits._
    Seq((5000L, "late_row", 3)).toDF("id", "name", "grp")
      .write.format("clickhouse_native").mode("append").save(dir)
    val (afterAppend, chosenStale) =
      NativeTableOps.readWithProjections(spark, dir, col("grp") === 3)
    assert(!chosenStale.contains("projections"),
      s"stale projection must not be chosen: $chosenStale")
    assert(afterAppend.filter(col("id") === 5000L).count() === 1,
      "appended row must be visible")

    // rebuilding refreshes the manifest and re-enables routing
    NativeTableOps.addProjection(spark, dir, "by_grp", Seq("grp", "id"))
    val (_, chosenFresh) =
      NativeTableOps.readWithProjections(spark, dir, col("grp") === 3)
    assert(chosenFresh.contains("projections/by_grp"), chosenFresh)
  }

  test("TTL boundary rewrite preserves the table's compression codec") {
    import spark.implicits._
    val src = tmp("ttl-codec-src")
    val dst = tmp("ttl-codec-dst")
    (0 until 1000).map(i => (i.toLong, i % 7))
      .toDF("id", "grp")
      .select(col("id"),
        timestamp_micros(col("id") * 60L * 1000000L)
          .cast("timestamp_ntz").as("ts"), col("grp"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.format("clickhouse_native").option("compression", "zstd")
      .mode("overwrite").save(src)

    val cutoff = timestamp_micros(lit(300L * 60L * 1000000L))
      .cast("timestamp_ntz")
    val res = NativeTableOps.applyTtl(spark, src, dst, "ts", cutoff)
    assert(res.rewritten.nonEmpty)
    // every surviving part — copied AND rewritten — declares zstd
    val meta = NativeTableOps.partsMeta(spark, dst).collect()
      .map(r => r.getAs[String]("part") -> r.getAs[String]("compression"))
    assert(meta.nonEmpty)
    meta.foreach { case (p, c) => assert(c === "zstd", s"$p codec=$c") }
    assert(spark.read.format("clickhouse_native").load(dst).count() === 700)
  }

  test("partsMeta reports sidecar-derived rows/blocks without opening data files") {
    val src = tmp("parts-meta")
    makeTable(src)
    val meta = NativeTableOps.partsMeta(spark, src).collect()
    assert(meta.length === 4)
    assert(meta.map(_.getAs[Long]("rows")).sum === 1000L)
    assert(meta.forall(_.getAs[Boolean]("indexed")))
    assert(meta.forall(_.getAs[Int]("blocks") >= 1))
    assert(meta.forall(_.getAs[Long]("bytes") > 0))
  }
}
