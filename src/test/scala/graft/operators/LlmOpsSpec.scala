package graft.operators

import graft.SparkTestBase
import graft.functions.TextHash

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def docs = spark.read.parquet(s"${SparkTestBase.sfDir}/documents.parquet")
  private def emb = spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")

  test("minhash estimate tracks exact jaccard (property, seeded)") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("spark", "query", "table", "row", "scan", "join", "data",
      "fast", "merge", "sort", "hash", "key", "part", "batch", "group")
    (1 to 20).foreach { _ =>
      val base = Array.fill(60)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      // mutate ~10% of words
      val wordsArr = base.split(" ")
      val mutated = wordsArr.map(w =>
        if (rnd.nextDouble() < 0.1) vocab(rnd.nextInt(vocab.length)) else w).mkString(" ")
      val exact = TextHash.exactJaccard(base, mutated, 3)
      val est = TextHash.estJaccard(
        TextHash.minhashSignature(TextHash.shingleHashes(base, 3), 128),
        TextHash.minhashSignature(TextHash.shingleHashes(mutated, 3), 128))
      assert(math.abs(est - exact) < 0.2, s"est=$est exact=$exact")
    }
  }

  test("mergeable aggregator signature == per-row signature (distribution safety)") {
    val perRow = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAgg = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3,
      useAggregator = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(perRow === viaAgg)
    assert(perRow.nonEmpty) // sf0.001 documents contain seeded near-dups
  }

  test("minhash-LSH candidates achieve high recall vs brute-force jaccard >= 0.5") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val truth = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      j = TextHash.exactJaccard(ta, tb, 3) if j >= 0.5
    } yield (ia, ib)).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain true near-dups")
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall truth=${truth.size} found=${found.size}")
  }

  test("no crossJoin in the minhash plan (scale guard)") {
    val plan = Dedup.minhashPairs(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  test("simhash: near-identical texts land within small hamming distance") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val c = "completely unrelated words about databases and distributed query engines"
    assert(TextHash.hamming(TextHash.simhash64(a), TextHash.simhash64(b)) <= 12)
    assert(TextHash.hamming(TextHash.simhash64(a), TextHash.simhash64(c)) >
      TextHash.hamming(TextHash.simhash64(a), TextHash.simhash64(b)))
  }

  test("LSH cosine top-k recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    // multi-probe SRP at 8 planes, radius 2: moderate recall floor
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("hier router: model invariants, two-level argmin, exhaustive probe covers every cell") {
    import graft.functions.AnnRouter
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(11)
    val sample = Array.fill(400)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val nlist = 25
    val m = AnnRouter.train(sample, nlist, iters = 4, seed = 3L)
    assert(m.nlist === nlist)
    assert(m.supers.length === 5) // ceil(sqrt(25))
    // route = argmin super, then argmin among THAT super's leaves —
    // checked against an independent reference fold
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    (0 until 50).foreach { _ =>
      val v = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
      val p = m.supers.indices.minBy(p => (l2(v, m.supers(p)), p))
      val expect = (m.offsets(p) until m.offsets(p + 1))
        .minBy(c => (l2(v, m.leaves(c)), c))
      val got = AnnRouter.route(
        new GenericArrayData(v.map(_.toDouble)), isFloat = false, m)
      assert(got === expect)
      // exhaustive probe = every cell exactly once, ascending
      val all = AnnRouter.probe(new GenericArrayData(v.map(_.toDouble)),
        isFloat = false, m, superProbe = m.supers.length, nprobe = nlist)
      assert(all.toIntArray().toSeq === (0 until nlist))
    }
  }

  test("hier kNN graph: exact gate equals the flat exact gate (both = brute force)") {
    val flat = Similarity.knnGraph(emb, k = 3, nlist = 16, nprobe = 16,
      trainFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val hier = Similarity.knnGraphHier(emb, k = 3, nlist = 16, nprobe = 16,
      superProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(hier === flat)
  }

  test("hier kNN graph: approximate regime holds recall; no probe-ranking window in the plan") {
    val exact = Similarity.knnGraphHier(emb, k = 3, nlist = 16, nprobe = 16,
      superProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnGraphHier(emb, k = 3, nlist = 16, nprobe = 4,
      superProbe = 2)
    val got = approx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    // the quadratic the 100x cert caught was the flat corpus x nlist
    // probe RANKING window; the hier plan must carry exactly ONE
    // window — the final per-query top-k
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.length
    assert(windows(approx) === 1, "hier plan must have only the top-k window")
    // r14: the flat kNN-graph probe ranking is a per-row expression
    // (array_sort over the driver-resident centroid table) instead of
    // the crossJoin + rank window, so the flat plan now carries only
    // the final top-k window too — the N·nlist probe exchange is gone.
    assert(windows(Similarity.knnGraph(emb, k = 3, nlist = 16, nprobe = 4)) === 1,
      "flat kNN-graph plan must rank probes as an expression, not a window")
  }

  test("flat kNN probe expression == crossJoin+rank-window reference (r14)") {
    // The r14 optimization replaced probeCells' crossJoin + row_number
    // window with a per-row array_sort expression INSIDE
    // knnCellsAndProbes. This pin rebuilds the window form over the
    // same quantizer output and asserts the chosen (q_id, cell) probe
    // sets — hence the scored pair sets — are identical, tie-breaks
    // and all, in an approximate regime where cell choice is visible.
    import org.apache.spark.sql.expressions.Window
    val (cells, cents) = Similarity.buildIvfIndex(emb, nlist = 8,
      trainFraction = 0.5)
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("vec_dot", a, b)
    val refProbes = emb
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", -(dot(col("q_emb"), col("centroid")) /
        (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("centroid"), col("centroid"))))))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist"), col("cell"))))
      .filter(col("cell_rank") <= 2)
      .select(col("q_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // the production path's probe set, read off the candidate pairs'
    // plan seam: candidates = probes ⋈ cells, so project the probe
    // side back out of the (q_id, vec_id) pairs via the cell of vec_id
    val cellOf = cells.select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val gotProbes = Similarity.knnGraphCandidates(emb, nlist = 8, nprobe = 2,
      trainFraction = 0.5)
      .collect().map(r => (r.getLong(0), cellOf(r.getLong(1)))).toSet
    // refProbes restricted to pairs that have at least one candidate in
    // the cell (a probe of an empty-for-this-query cell emits no pair)
    assert(gotProbes.subsetOf(refProbes),
      s"expression probe chose a cell the window form would not")
    val refPairSet = refProbes.filter { case (q, c) =>
      cellOf.exists { case (v, vc) => vc == c && v != q } }
    assert(gotProbes === refPairSet,
      "expression probe and window probe disagree on the probed cells")
  }

  test("PQ encode argmin: array_min ordering == rank-window ordering (r14)") {
    // The r14 optimization computes the nearest-centroid encode as a
    // per-row array_min over struct(d, code) instead of a row_number
    // window over the N·m·ksub joined rows. This pin checks the
    // equivalence lemma directly on an adversarial fixture: duplicate
    // distances (ties broken by code), including exact-zero distances.
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      (i.toLong, rnd.nextInt(4), Array.fill(4)(
        // coarse grid => many exact distance ties across codes
        (rnd.nextInt(5) - 2).toFloat))
    }
    val subs = rows.toDF("vec_id", "s", "sub")
    val cb = (0 until 4).flatMap { s =>
      (1 to 8).map(c => (s, c, Array.fill(4)((rnd.nextInt(3) - 1).toFloat)))
    }.toDF("s", "code", "centroid")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("vec_dot", a, b)
    val dist = lit(-2.0) * dot(col("sub"), col("centroid")) +
      dot(col("centroid"), col("centroid"))
    val viaWindow = subs.join(cb, "s")
      .withColumn("rnk", row_number().over(Window.partitionBy("vec_id", "s")
        .orderBy(dist, col("code"))))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("s"), col("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val cents = cb
      .select(col("s"), struct(col("code"), col("centroid"),
        dot(col("centroid"), col("centroid")).as("c2")).as("e"))
      .groupBy("s").agg(collect_list(col("e")).as("cents"))
    val viaArrayMin = subs.join(broadcast(cents), "s")
      .select(col("vec_id"), col("s"),
        array_min(transform(col("cents"), e =>
          struct((lit(-2.0) * dot(col("sub"), e.getField("centroid"))
              + e.getField("c2")).as("d"),
            e.getField("code").as("code"))))
          .getField("code").as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(viaArrayMin === viaWindow)
    // and end-to-end: the sampled-codebook PQ path (the one that runs
    // the argmin encode) still beats a random ranking on recall — the
    // existing recall tests cover this; here we only pin determinism
    val a = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      m = 4, lossless = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      m = 4, lossless = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  test("hier routing through the IVF/IVF-PQ query paths keeps the exact gate") {
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // exact gate: nprobe = nlist scores every candidate once whatever
    // the cell layout — flat and hier must agree exactly
    assert(rows(Similarity.ivfTopK(emb, queries, k = 10, nlist = 16,
        nprobe = 16, hierRouting = true)) ===
      rows(Similarity.ivfTopK(emb, queries, k = 10, nlist = 16,
        nprobe = 16, trainFraction = 0.5)))
    assert(rows(Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16,
        nprobe = 16, m = 4, hierRouting = true)) ===
      rows(Similarity.ivfPqTopK(emb, queries, k = 10, nlist = 16,
        nprobe = 16, m = 4)))
  }

  test("hier IVF query paths route probes without the flat ranking window (large-batch shape)") {
    // round-9 verdict item 7: the r8 hier wiring covered the ENCODE
    // side only — a corpus-sized query batch through ivfTopK/ivfPqTopK
    // still paid the flat queries × nlist probe-ranking window (the
    // same quadratic class the 100× cert caught on the kNN shape).
    // Probes now route through the codegen'd IvfProbe expression, so
    // the approximate-regime hier plan must carry exactly ONE window
    // (the final per-query top-k) even when the query side IS the
    // corpus; the flat plan keeps two.
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.length
    val corpusBatch = emb // the worst case: every corpus vector queries
    assert(windows(Similarity.ivfTopK(emb, corpusBatch, k = 3, nlist = 16,
      nprobe = 4, hierRouting = true, superProbe = 2)) === 1,
      "hier ivfTopK must not rank probe cells in a window")
    assert(windows(Similarity.ivfTopK(emb, corpusBatch, k = 3, nlist = 16,
      nprobe = 4)) === 2,
      "flat ivfTopK carries the probe-ranking window the hier form removes")
    // exact gate on the corpus-sized batch: superProbe auto-widens to
    // all supers at nprobe = nlist, so the hier answer is brute force
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(pairs(Similarity.ivfTopK(emb, corpusBatch, k = 3, nlist = 16,
        nprobe = 16, hierRouting = true, superProbe = 1)) ===
      pairs(Similarity.bruteForceTopK(emb, corpusBatch, 3)))
  }

  test("hier-built index persists to native storage and serves the exact gate") {
    // build-once/serve-many with the two-level router: the (cells,
    // centroids) seam is identical to the flat builder's, so
    // serveIvfTopK answers from the persisted native tables with no
    // router, no KMeans, no corpus pass at serve time — and at
    // nprobe = nlist the result is provably brute force, which also
    // proves the cell assignments survived the native roundtrip.
    val dir = java.nio.file.Files.createTempDirectory("graft-hier-idx").toString
    val (cells, centroids, _) = Similarity.buildIvfIndexHier(emb, nlist = 16)
    cells.write.format("clickhouse_native").mode("overwrite").save(s"$dir/cells")
    centroids.write.format("clickhouse_native").mode("overwrite").save(s"$dir/cents")
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val served = rows(Similarity.serveIvfTopK(
      spark.read.format("clickhouse_native").load(s"$dir/cells"),
      spark.read.format("clickhouse_native").load(s"$dir/cents"),
      queries, k = 10, nprobe = 16))
    assert(served === rows(Similarity.bruteForceTopK(emb, queries, 10)))
  }

  test("cluster assignment matches driver-side union-find") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
    val pairList = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairList.nonEmpty)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairList.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> find(id)).toMap
    val got = DedupClusters.assign(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // keep list: exactly one keeper per cluster, non-pair docs keep themselves
    val keep = DedupClusters.keepList(docs, "doc_id", pairs)
    assert(keep.count() === docs.count())
    val keepers = keep.filter(col("keep")).count()
    val clusters = keep.select("cluster").distinct().count()
    assert(keepers === clusters)
  }

  test("connected-components rounds grow with diameter, NOT with disjoint copies") {
    import spark.implicits._
    // the 100x-cert linearity instrument (tools/scale100.scala `cc`):
    // C disjoint copies of an edge set have the 1x component diameters,
    // so label propagation must converge in the SAME number of rounds —
    // a round count that grew with copies would make total work
    // super-linear (rounds x edges) without any wall-clock measurement
    // noticing at small C
    def chain(ids: Seq[Long]) = ids.zip(ids.tail)
    val base = chain(1L to 6L) ++ Seq((10L, 11L)) // diameter-5 chain + an edge
    def copies(c: Int) = (0 until c).flatMap(i =>
      base.map { case (a, b) => (a + i * 1000L, b + i * 1000L) })
      .toDF("id_a", "id_b")
    val (l1, r1) = DedupClusters.assignWithRounds(copies(1))
    val (l8, r8) = DedupClusters.assignWithRounds(copies(8))
    assert(r8 === r1, "disjoint copies must not add propagation rounds")
    assert(l8.count() === 8 * l1.count())
    // and the contrast: rounds DO grow with diameter (pointer jumping
    // is O(log diameter), so a 24-node chain needs more rounds than a
    // 6-node one) — proving the counter measures convergence, not a
    // constant
    val (_, rLong) = DedupClusters.assignWithRounds(chain(1L to 24L).toDF("id_a", "id_b"))
    assert(rLong > r1, s"24-chain rounds $rLong should exceed 6-chain rounds $r1")
  }

  test("applyKeepList keeps min-id per component and every unpaired row") {
    import spark.implicits._
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "e"))
      .toDF("doc_id", "text")
    // chain 1-2-3 is one component; 4 pairs with nothing; 9 isolated
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DedupClusters.applyKeepList(corpus, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === Set((1L, "a"), (4L, "d"), (9L, "e")))
  }

  test("spanDedup: first occurrence survives, later spans removed, partial tail kept") {
    import spark.implicits._
    // doc 1: two segments "a b c d e" and "f g h" (partial tail).
    // doc 2 repeats doc 1's first segment then adds a fresh one —
    // its copy must be dropped. doc 3 is all-duplicate → empty text.
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e x y z w v"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((2L, 2L, "a b c d e f g h")))
    assert(out(2L) === ((2L, 1L, "x y z w v")))
    assert(out(3L) === ((1L, 0L, "")))
    // global invariant on the real corpus: every distinct segment
    // survives exactly once, so sum(n_kept) == count(distinct segment)
    val real = Dedup.spanDedup(docs, "doc_id", "text", w = 5)
    val keptTotal = real.agg(sum("n_kept")).head().getLong(0)
    val segTotal = real.agg(sum("n_seg")).head().getLong(0)
    assert(keptTotal > 0 && keptTotal < segTotal)
  }

  test("scalarQuantize: codes in range, reconstruction within one bucket width") {
    val quant = Similarity.scalarQuantize(emb, "vec_id", "embedding", levels = 256)
    val joined = emb.join(quant, "vec_id")
      .select(posexplode(arrays_zip(col("embedding"), col("codes"))))
      .select(col("pos"), col("col.embedding").as("x"), col("col.codes").as("code"))
    // every code is a valid bucket
    assert(joined.filter(col("code") < 0 || col("code") > 255).count() === 0L)
    // reconstruction error <= bucket width: recompute per-dim range and
    // check |x - (mn + (code + 0.5) * range / 255)| <= range / 255
    val stats = emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
    val bad = joined.join(stats, "pos")
      .withColumn("range", col("mx") - col("mn"))
      .filter(col("range") > 0)
      .withColumn("recon",
        col("mn") + (col("code").cast("double") + 0.5) * col("range") / 255.0)
      .filter(abs(col("x").cast("double") - col("recon")) > col("range") / 255.0 * 1.0001)
    assert(bad.count() === 0L)
  }

  test("hardNegatives: never returns a same-label or self pair, ranks by similarity") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.hardNegatives(emb, queries, k = 10)
    val labels = emb.select(col("vec_id"), col("label"))
    val qLabels = labels.toDF("q_id", "q_label")
    val joined = out.join(labels, "vec_id").join(qLabels, "q_id")
    assert(joined.filter(col("label") === col("q_label")).count() === 0L)
    assert(out.filter(col("q_id") === col("vec_id")).count() === 0L)
    // rn is dense 1..k per query and sim is non-increasing in rn
    val perQ = out.groupBy("q_id").agg(count(lit(1)).as("n"),
      max("rn").as("mx"), min("rn").as("mn")).collect()
    perQ.foreach { r =>
      assert(r.getLong(1) === r.getInt(2).toLong && r.getInt(3) === 1)
    }
    val inversions: Int = out.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).values.map { rows =>
        rows.sortBy(_._4).toSeq.sliding(2).count {
          case Seq(a, b) => a._3 < b._3
          case _ => false
        }
      }.sum
    assert(inversions === 0)
  }

  test("embedding near-dup: LSH pairs == exact all-pairs baseline (seeded copies)") {
    import org.apache.spark.sql.functions.col
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    val exact = Dedup.embeddingPairsExact(corpus, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairs(corpus, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "seeded identical copies must appear as pairs")
    assert(lsh === exact) // identical vectors collide in every table → recall 1.0
    // and no all-pairs join in the LSH plan
    val plan = Dedup.embeddingPairs(corpus, "vec_id", "embedding", 0.95)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  test("semDeDup: planted duplicates dropped, originals kept, KMeans path agrees") {
    import org.apache.spark.sql.functions.col
    val corpus = emb.select(col("vec_id"), col("label"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("label"),
          col("embedding")))
    val nOrig = emb.count()
    val byLabel = Dedup.semDeDup(corpus, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(byLabel.size === corpus.count().toInt) // one verdict per row
    // every planted copy (id >= 1000000) is a later-ranked exact dup → dropped
    val (copies, origs) = byLabel.partition(_._1 >= 1000000L)
    assert(copies.nonEmpty && copies.values.forall(_ == false))
    // originals survive: the copy ties on cent_sim but loses the id tie-break,
    // and background cosine never reaches 0.95
    assert(origs.values.forall(_ == true))
    assert(origs.size.toLong === nOrig)
    // the learned-quantizer path reaches the same verdicts: identical
    // vectors share a cell deterministically, so dup recall stays 1.0
    val km = Dedup.semDeDupKMeans(corpus, "vec_id", "embedding",
        nlist = 4, eps = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(km.view.filterKeys(_ >= 1000000L).values.forall(_ == false))
    assert(km.view.filterKeys(_ < 1000000L).values.forall(_ == true))
    // scale guard: no cartesian product anywhere in the prune plan
    val plan = Dedup.semDeDup(corpus, "vec_id", "embedding", "label", 0.95)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  test("incremental semDeDup: rep kills, novel survivors, index survives native storage") {
    import org.apache.spark.sql.functions.{col, transform}
    val (reps, cents) = Dedup.semDeDupIndex(emb, "vec_id", "embedding", "label", 0.95)
    // background similarity never reaches eps → every corpus row is a rep
    assert(reps.count() === emb.count())
    val tenth = emb.filter(col("vec_id") % 10 === 0)
    val batch = tenth.select((col("vec_id") + 1000000).as("vec_id"),
        col("label"), col("embedding"))
      .unionByName(tenth.select((col("vec_id") + 2000000).as("vec_id"),
        col("label"), transform(col("embedding"), x => -x).as("embedding")))
    val verdicts = Dedup.semDeDupSurvivors(reps, cents, batch,
        "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // exact re-crawls die on their kept representative; negated are novel
    assert(verdicts.view.filterKeys(_ < 2000000L).values.forall(_ == false))
    assert(verdicts.view.filterKeys(_ >= 2000000L).values.forall(_ == true))
    // the index is a persistable artifact: verdicts from native-stored
    // reps/cents are identical (serving job never touches the corpus)
    val base = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    reps.write.format("clickhouse_native").mode("overwrite").save(s"$base/reps")
    cents.write.format("clickhouse_native").mode("overwrite").save(s"$base/cents")
    val served = Dedup.semDeDupSurvivors(
        spark.read.format("clickhouse_native").load(s"$base/reps"),
        spark.read.format("clickhouse_native").load(s"$base/cents"),
        batch, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(served === verdicts)
    // scale guard: the serve path joins on the cluster key only — no
    // cartesian product anywhere
    val plan = Dedup.semDeDupSurvivors(reps, cents, batch,
        "vec_id", "embedding", "label", 0.95)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  test("verifiedPairs jaccard matches driver-side exactJaccard") {
    val cands = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.2)
    val verified = Dedup.verifiedPairs(docs, "doc_id", "text", cands, minJaccard = 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(verified.nonEmpty)
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    verified.foreach { case ((a, b), j) =>
      val expected = TextHash.exactJaccard(texts(a), texts(b), 3)
      assert(math.abs(j - expected) < 1e-9, s"pair ($a,$b): got $j want $expected")
    }
  }

  test("ngramPairsExact equals brute-force exact Jaccard (prefix recall 1.0)") {
    val theta = 0.2
    val got = Dedup.ngramPairsExact(docs, "doc_id", "text", theta)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    // brute force over every pair on the driver — the ground truth the
    // prefix-filter candidates must reach completely
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toSeq.sortBy(_._1)
    val expected = (for {
      i <- texts.indices
      j <- (i + 1) until texts.length
      jac = TextHash.exactJaccard(texts(i)._2, texts(j)._2, 3)
      if jac >= theta && TextHash.shingleHashes(texts(i)._2, 3).nonEmpty &&
        TextHash.shingleHashes(texts(j)._2, 3).nonEmpty
    } yield (texts(i)._1, texts(j)._1) -> jac).toMap
    assert(got.keySet === expected.keySet) // recall 1.0 AND no false positives
    got.foreach { case (k, j) =>
      assert(math.abs(j - expected(k)) < 1e-4, s"pair $k: got $j want ${expected(k)}")
    }
    // prefix join is an equi-join on shingle keys — never all-pairs
    val plan = Dedup.ngramPairsExact(docs, "doc_id", "text", theta)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  test("ngram prefix join survives a stop-shingle-heavy corpus (candidates stay O(matches))") {
    import spark.implicits._
    // adversarial corpus: EVERY document opens with the same hot
    // shingle ("z z z", df = N), then unique content. Under a plain
    // hash order the hot shingle lands inside most prefixes and the
    // prefix join degenerates to ~C(N,2) ≈ 11k candidate pairs; under
    // the df-ascending order it is every document's LAST shingle, out
    // of every prefix, and candidates come only from genuinely shared
    // rare shingles — the duplicate pairs.
    val n = 150
    val base = (0 until n).map { i =>
      (i.toLong, s"z z z z u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }
    val dups = (0 until 10).map(i => (1000L + i, base(i)._2)) // 10 true pairs
    val docs = (base ++ dups).toDF("doc_id", "text")
    val theta = 0.5
    val candidates = Dedup.ngramCandidates(docs, "doc_id", "text", theta).count()
    assert(candidates >= 10, s"must still cover the 10 true pairs, got $candidates")
    assert(candidates < 100,
      s"stop-shingle corpus produced $candidates candidates — O(N²) blowup " +
        "(df ordering should bound this at O(true matches))")
    // end-to-end output: exactly the duplicate pairs, at jaccard 1.0
    val pairs = Dedup.ngramPairsExact(docs, "doc_id", "text", theta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs === (0 until 10).map(i => (i.toLong, 1000L + i, 1.0)).toSet)
  }

  test("token chunks reassemble the document and overlap consistently") {
    val chunkSize = 64
    val overlap = 16
    val stride = chunkSize - overlap
    val chunks = TextPipeline.tokenChunks(docs, "doc_id", "text", chunkSize, overlap)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2) }
    assert(chunks.nonEmpty)
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    chunks.foreach { case (id, rs) =>
      val toks = texts(id).trim.split("\\s+").filter(_.nonEmpty).toSeq
      // chunk_idx is dense from 0 and count matches the stride math
      assert(rs.map(_._2).toSeq === (0 until rs.length))
      assert(rs.length === (toks.length + stride - 1) / stride)
      rs.foreach { case (_, idx, nTok, text) =>
        val ctoks = text.split(" ").toSeq
        assert(ctoks.length === nTok)
        assert(nTok === math.min(chunkSize, toks.length - idx * stride))
        // the window content is exactly the source tokens at its offsets
        assert(ctoks === toks.slice(idx * stride, idx * stride + chunkSize))
      }
      // concatenating each chunk's first `stride` tokens rebuilds the doc
      val rebuilt = rs.flatMap { case (_, idx, _, text) =>
        text.split(" ").take(stride)
      }.toSeq
      assert(rebuilt === toks)
    }
  }

  test("temperature sampling flattens stratum counts toward sqrt and is deterministic") {
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = before.values.min.toDouble
    val kept = TextPipeline.temperatureSample(docs, "doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val after = kept.groupBy(_._2).map { case (k, v) => k -> v.size }
    // every stratum is kept at ~sqrt(n_min/n): expected count
    // sqrt(n_min·n), within hash-sampling tolerance (buckets are
    // per-mille, docs per stratum are tens to hundreds)
    before.foreach { case (lang, n) =>
      val expected = math.sqrt(nMin * n)
      val got = after.getOrElse(lang, 0).toDouble
      assert(math.abs(got - expected) / expected < 0.25,
        s"$lang: kept $got expected ~$expected of $n")
    }
    // smallest stratum keeps everything (threshold 1000)
    val minLang = before.minBy(_._2)._1
    assert(after(minLang).toLong === before(minLang))
    // deterministic: a second run selects the identical document set
    val again = TextPipeline.temperatureSample(docs, "doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet === again.toSet)
  }

  test("sequence packing: bins match driver-side cumsum arithmetic, groups partition the corpus") {
    val capacity = 256
    val got = TextPipeline.packSequences(docs, "doc_id", "text", capacity, groups = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = docs.collect().count(r =>
      r.getAs[String]("text").trim.split("\\s+").count(_.nonEmpty) > 0)
    assert(got.length === nDocs) // every non-empty doc packed exactly once
    got.groupBy(_._3).foreach { case (grp, rows) =>
      val ordered = rows.sortBy(_._1)
      var cum = 0L
      ordered.foreach { case (id, n, g, bin) =>
        assert(g === grp)
        assert(bin === cum / capacity, s"doc $id in grp $grp: bin $bin, cumsum $cum")
        cum += n
      }
      // bins are contiguous from 0 within the group
      val bins = ordered.map(_._4).distinct.sorted
      assert(bins === (0L to bins.max).toVector, s"grp $grp bins: $bins")
    }
    // shard materialization: splitting each shard on the separator
    // recovers exactly that bin's documents in doc_id order
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val shards = TextPipeline.packShards(docs, "doc_id", "text", capacity, groups = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3)))).toMap
    val byBin = got.groupBy(r => (r._3, r._4))
    assert(shards.keySet === byBin.keySet)
    byBin.foreach { case (k, rows) =>
      val wantDocs = rows.sortBy(_._1).map(r => texts(r._1))
      val (nDocs, text) = shards(k)
      assert(nDocs === rows.length)
      assert(text.split(java.util.regex.Pattern.quote("<|eod|>"), -1).toSeq === wantDocs)
    }
  }

  test("text normalization strips control chars and collapses whitespace") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "clean text stays put"),
      (2L, "  leading   and\ttrailing\n runs  "),
      (3L, "ctrl\u0000chars\u0007are\u001fstripped\u007f")
    ).toDF("doc_id", "text")
    val got = TextPipeline.normalizeText(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(1L) === (("clean text stays put", 0)))
    assert(got(2L) === (("leading and trailing runs", 7)))
    assert(got(3L)._1 === "ctrl chars are stripped")
    // normalization makes formatting-variant duplicates exact-equal
    val a = TextPipeline.normalizeText(
      Seq((1L, "same   doc\twith formatting"), (2L, "same doc with formatting"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.getString(1)).distinct
    assert(a.length === 1)
  }

  test("repetition stats separate degenerate documents from healthy ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),            // one token loops
      (2L, "a b c a b c a b c a b c"),                            // copied trigram spans
      (3L, "each word here appears exactly once in this document") // healthy
    ).toDF("doc_id", "text")
    val got = TextPipeline.repetitionStats(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1: 8 tokens, 1 distinct, top token owns all mass, all 6
    // trigrams equal — 5/6 dup rounded to 4 decimals
    assert(got(1L) === ((8, 0.125, 1.0, 0.8333)))
    // doc 2: 12 tokens / 3 distinct; top count 4/12; 10 trigrams, 3 distinct
    assert(got(2L) === ((12, 0.25, 0.3333, 0.7)))
    // doc 3: fully distinct — no repetition on any signal
    assert(got(3L)._2 === 1.0 && got(3L)._4 === 0.0)
  }

  test("token chunk boundaries: empty, exact-fit and one-over documents") {
    import spark.implicits._
    val n = 8; val overlap = 2; val stride = n - overlap // chunkSize 8, stride 6
    val corpus = Seq(
      (1L, "   "),                          // whitespace only → no chunks
      (2L, (1 to n).map("t" + _).mkString(" ")),       // exactly chunkSize
      (3L, (1 to n + 1).map("t" + _).mkString(" ")),   // one over → 2 chunks
      (4L, "solo")                          // single token → 1 chunk of 1
    ).toDF("doc_id", "text")
    val got = TextPipeline.tokenChunks(corpus, "doc_id", "text", n, overlap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    assert(!got.contains(1L))
    // uniform ⌈n/stride⌉ rule: exact-fit docs get a pure-overlap tail
    // window (tokens 7..8 — already covered by chunk 0) so that the
    // first-stride-tokens reassembly rule needs no special last case
    assert(got(2L).sortBy(_._2).map(c => (c._2, c._3)).toSeq === Seq((0, n), (1, n - stride)))
    // second chunk starts at stride: covers tokens 7..9 (3 tokens)
    assert(got(3L).sortBy(_._2).map(c => (c._2, c._3, c._4)).toSeq === Seq(
      (0, n, (1 to n).map("t" + _).mkString(" ")),
      (1, n + 1 - stride, (stride + 1 to n + 1).map("t" + _).mkString(" "))))
    assert(got(4L).map(c => (c._2, c._3, c._4)).toSeq === Seq((0, 1, "solo")))
  }

  test("chunking invariants hold under seeded fuzz (random lengths × configs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(301) // 0..300 tokens
      (i.toLong, (1 to n).map(t => s"w${rnd.nextInt(50)}_$t").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val configs = Seq((1, 0), (7, 3), (64, 16), (50, 49), (300, 0))
    configs.foreach { case (cs, ov) =>
      val stride = cs - ov
      val got = TextPipeline.tokenChunks(df, "doc_id", "text", cs, ov)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.isEmpty) assert(!got.contains(id), s"cs=$cs ov=$ov id=$id")
        else {
          val chunks = got(id).sortBy(_._2)
          assert(chunks.length === (toks.length + stride - 1) / stride,
            s"cs=$cs ov=$ov id=$id n=${toks.length}")
          chunks.foreach { case (_, idx, nTok, ct) =>
            val want = toks.slice(idx * stride, idx * stride + cs)
            assert(ct.split(" ").toSeq === want && nTok === want.length,
              s"cs=$cs ov=$ov id=$id idx=$idx")
          }
          // lossless reassembly from first-stride tokens of each chunk
          assert(chunks.flatMap(c => c._4.split(" ").take(stride)).toSeq === toks,
            s"cs=$cs ov=$ov id=$id reassembly")
        }
      }
    }
  }

  test("quality filter rejects degenerate docs with the right reasons") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "short doc"),                                          // too_short
      (2L, ("spam " * 30).trim),                                  // every repetition rule
      (3L, (1 to 40).map("unique" + _).mkString(" "))             // healthy
    ).toDF("doc_id", "text")
    val got = TextPipeline.qualityFilter(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getSeq[String](2))).toMap
    // 2 tokens: top token owns half the mass, so dominance fires too
    assert(got(1L) === ((false, Seq("too_short", "token_dominance"))))
    assert(got(2L)._1 === false)
    assert(got(2L)._2.toSet ===
      Set("low_diversity", "token_dominance", "repeated_spans"))
    assert(got(3L) === ((true, Seq.empty[String])))
  }

  test("vocab build assigns dense frequency-ordered token ids") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha alpha alpha beta beta gamma"),
      (2L, "alpha beta delta")
    ).toDF("doc_id", "text")
    val v = TextPipeline.buildVocab(corpus, "text", 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // alpha×4, beta×3, then gamma/delta tie at 1 broken alphabetically
    assert(v.toSeq === Seq((0, "alpha", 4L), (1, "beta", 3L), (2, "delta", 1L)))
  }

  test("split assignment is deterministic, total, and hash-stable under append") {
    import spark.implicits._
    val ids = (0L until 1000L).toDF("doc_id")
    val a = TextPipeline.assignSplits(ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.size === 1000 && Set("train", "val", "test").subsetOf(a.values.toSet))
    // appending more documents must not move any existing assignment
    val b = TextPipeline.assignSplits((0L until 2000L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.forall { case (id, s) => b(id) == s })
    // hash split should land near 98/1/1 without being exactly it
    val train = a.values.count(_ == "train")
    assert(train > 940 && train < 1000, s"train=$train")
  }

  test("df stats flags exactly the majority words as stopwords") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat"), (2L, "the dog"), (3L, "the bird"), (4L, "a fish")
    ).toDF("doc_id", "text")
    val m = TextPipeline.dfStats(corpus, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m("the") === ((3L, true)))   // 3 of 4 docs: 6 > 4
    assert(m("cat") === ((1L, false)))
    // exactly half is NOT a majority (2*2 = 4, not > 4)
    val half = TextPipeline.dfStats(
      Seq((1L, "x y"), (2L, "x z"), (3L, "p"), (4L, "q")).toDF("doc_id", "text"),
      "doc_id", "text").filter(col("word") === "x").head()
    assert(half.getBoolean(2) === false)
  }

  test("tfidf ranks a document's unique term above shared boilerplate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common quark"),   // quark: 1/1 = 1.0 beats common 2/3
      (2L, "common gluon"),
      (3L, "common")
    ).toDF("doc_id", "text")
    val top = TextPipeline.tfidfTerms(corpus, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) === "quark" && top(2L) === "gluon" && top(3L) === "common")
    val ranks = TextPipeline.tfidfTerms(corpus, "doc_id", "text", k = 2)
      .groupBy("doc_id").agg(max("rank")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ranks(1L) === 2 && ranks(3L) === 1) // k bounds, short doc exhausts
  }

  test("bpe merges: greedy non-overlapping runs and early exhaustion") {
    import spark.implicits._
    // "aaaa" → pair (a,a) appears at 3 positions but merges greedily
    // into [aa, aa] (positions 1 and 3 of the run), then (aa,aa) → one
    // token, then NO pairs remain → only 2 of the 3 requested merges
    val got = TextPipeline.bpeMerges(Seq((1L, "aaaa")).toDF("doc_id", "text"),
      "doc_id", "text", numMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("bpe merges: frequency weighting and deterministic tie-break") {
    import spark.implicits._
    // "banana" twice: freq 2 → (a,n) and (n,a) both count 4; the tie
    // breaks lhs-ascending → (a,n). After merging: [b, an, an, a]
    val got = TextPipeline.bpeMerges(
      Seq((1L, "banana banana")).toDF("doc_id", "text"),
      "doc_id", "text", numMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got(0) === ((1, "a", "n", 4L)))
    // round 2 over [b, an, an, a]: all pairs count 2, lhs/rhs-asc → (an, a)
    assert(got(1) === ((2, "an", "a", 2L)))
  }

  test("BpeBatchEquivalence: batched training equals the sequential reference (fuzz)") {
    import spark.implicits._
    // bpeTrain batches several merge steps per distributed pair-count
    // pass behind a safe-prefix proof (see its scaladoc). This fuzz
    // pins the proof's implementation: random corpora over a TINY
    // alphabet (maximizing pair-count ties, token collisions between
    // merged strings and pre-existing tokens, and created pairs that
    // outrank stale candidates — every hazard the batch must stop
    // for), 12 merges deep, against a driver-side step-by-step
    // reference of the classic algorithm.
    def applyMerge(toks: Vector[String], l: String, r: String): Vector[String] =
      toks.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    def refBpe(words: Seq[(String, Long)], numMerges: Int): Seq[(Int, String, String, Long)] = {
      var segs: Seq[(Vector[String], Long)] =
        words.map { case (w, f) => w.map(_.toString).toVector -> f }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var step = 1
      var done = false
      while (step <= numMerges && !done) {
        val counts = collection.mutable.Map.empty[(String, String), Long]
        for ((toks, f) <- segs; i <- 0 until toks.length - 1)
          counts.updateWith((toks(i), toks(i + 1)))(v => Some(v.getOrElse(0L) + f))
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((step, l, r, c))
          segs = segs.map { case (toks, f) => applyMerge(toks, l, r) -> f }
          step += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(42)
    (1 to 4).foreach { trial =>
      val alphabet = "abc"
      val nWords = 25
      val words = (0 until nWords).map { _ =>
        val len = 2 + rnd.nextInt(6)
        (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      // repeat words to create a frequency distribution with many ties
      val reps = words.map(w => w -> (1L + rnd.nextInt(4)))
      val docs = reps.zipWithIndex.map { case ((w, f), i) =>
        (i.toLong, Seq.fill(f.toInt)(w).mkString(" "))
      }.toDF("doc_id", "text")
      val got = TextPipeline.bpeMerges(docs, "doc_id", "text", numMerges = 12)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      // the reference counts word frequency across the whole corpus
      // (duplicate word strings across docs merge)
      val freq = reps.groupBy(_._1).map { case (w, fs) => w -> fs.map(_._2).sum }.toSeq
      val want = refBpe(freq, 12)
      assert(got === want, s"trial $trial: batched=$got reference=$want")
    }
  }

  test("bpe batching: independent merges train in O(1) distributed passes") {
    import spark.implicits._
    // Twelve high-frequency pairs over DISJOINT letters with strictly
    // descending, tie-free counts: no candidate ever touches an
    // accepted merge's tokens and no created pair can outrank anything
    // (two-letter words create nothing), so the safe-prefix proof
    // admits the WHOLE list in the first pass — the mechanism that
    // makes the job count O(merges / batch) instead of the sequential
    // loop's one pass per merge (12 here). Pass 2 only discovers
    // exhaustion (every word is a single token).
    val pairs = Seq("ab", "cd", "ef", "gh", "ij", "kl",
      "mn", "op", "qr", "st", "uv", "wx")
    val docsDf = pairs.zipWithIndex.map { case (w, i) =>
      (i.toLong, Seq.fill(100 - 5 * i)(w).mkString(" "))
    }.toDF("doc_id", "text")
    val (merges, _, passes) = TextPipeline.bpeTrain(docsDf, "text", 12)
    assert(merges.map(m => (m._1, m._2 + m._3, m._4)) ===
      pairs.zipWithIndex.map { case (w, i) => (i + 1, w, (100 - 5 * i).toLong) })
    assert(passes <= 2, s"batching degenerated: $passes passes for 12 merges")
  }

  test("bpe encode: sequence lengths reflect the learned segmentation") {
    import spark.implicits._
    // rules over this corpus: (a,n) cnt 5, then (b,an) cnt 3 —
    // "banana" segments [ban, an, a], "ban" collapses to [ban]
    val got = TextPipeline.bpeEncode(
      Seq((1L, "banana banana"), (2L, "ban")).toDF("doc_id", "text"),
      "doc_id", "text", numMerges = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === ((2L, 6L)))
    assert(got(2L) === ((1L, 1L)))
  }

  test("curation report tallies rejects per source and rule") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "short doc", "feedA"),                               // too_short
      (2L, ("spam " * 30).trim, "feedA"),                       // 3 rules fire
      (3L, (1 to 40).map("w" + _).mkString(" "), "feedB")       // healthy
    ).toDF("doc_id", "text", "source")
    val m = TextPipeline.curationReport(corpus, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7))).toMap
    // feedA: 2 docs, 0 accepted, 1 too_short, 2 + 30 tokens
    assert(m("feedA") === ((2L, 0L, 1L, 32L)))
    assert(m("feedB") === ((1L, 1L, 0L, 40L)))
  }

  test("label centroids: exact fixed-point sums, partition-invariant") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f), 0),
      (2L, Array(0.5f, 0.75f), 0),
      (3L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(vecs, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // label 0 dim 0: two components of 0.5 → fp 524288 each
    assert(got((0, 0)) === ((2L, 1048576L, 0.5)))
    assert(got((0, 1)) === ((2L, (-262144L) + 786432L, 0.25)))
    assert(got((1, 0)) === ((1L, 1048576L, 1.0)))
    // the fixed-point claim: any partitioning yields the identical rows
    val a = Similarity.labelCentroids(emb, "embedding", "label")
      .collect().map(_.toSeq).toSet
    val b = Similarity.labelCentroids(emb.repartition(13), "embedding", "label")
      .collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  test("centroid classify assigns vectors to the nearest prototype") {
    import spark.implicits._
    // two tight clusters; a vector near the other cluster's prototype
    // must cross over
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.05f, 0.95f), 0)   // labeled 0 but sits in cluster 1
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidClassify(vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(1L) === 0 && got(2L) === 0)
    assert(got(3L) === 1 && got(4L) === 1)
    assert(got(5L) === 1) // nearer the (0,1)-side prototype despite its label
    // determinism across partitionings (the ordered-fold guarantee)
    val a = Similarity.centroidClassify(emb, "vec_id", "embedding", "label")
      .collect().map(_.toSeq).toSet
    val b = Similarity.centroidClassify(emb.repartition(17), "vec_id", "embedding", "label")
      .collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  test("decontamination flags exactly the documents containing benchmark grams") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      // contains the benchmark passage verbatim mid-document
      (3L, "x y z alpha beta gamma delta epsilon zeta eta theta end marker"),
      (4L, "totally unrelated words that never appear in any benchmark line")
    ).toDF("doc_id", "text")
    val bench = Seq(("b1", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("bench_id", "bench_text")
    val hits = TextPipeline.contaminatedDocs(corpus, "doc_id", "text",
        bench, "bench_text", gramN = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 3 contain the 8-token passage; 2 and 4 share nothing
    assert(hits.keySet === Set(1L, 3L))
    assert(hits(1L) === 1L && hits(3L) === 1L)
    // a disjoint benchmark flags nothing
    val clean = TextPipeline.contaminatedDocs(corpus, "doc_id", "text",
      Seq(("b2", "completely different benchmark text with eight tokens here"))
        .toDF("bench_id", "bench_text"), "bench_text", gramN = 8)
    assert(clean.count() === 0)
  }

  test("PQ: lossless codebook == brute force; compressing codebook keeps recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // lossless regime: zero quantization error ⇒ exact result through
    // the full encode → ADC → fold pipeline (the oracle-gate config)
    val lossless = Similarity.pqTopK(emb, queries, 10, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lossless === brute)
    // compressing regime: 128 sampled centroids per subspace (≈4×
    // fewer than distinct subvectors) — real quantization error, so
    // top-k is approximate; recall must stay far above the ~0.02
    // random floor
    val cb = Similarity.pqCodebookSampled(emb, m = 4,
      dim = emb.head().getAs[Seq[Float]]("embedding").size, ksub = 128)
    val pq = Similarity.pqTopK(emb, queries, 10, m = 4, codebook = cb, lossless = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("sampled PQ codebook: bounded aggregate == global rank, no window/distinct") {
    // pqCodebookSampled runs its seeded-hash top-ksub as one mergeable
    // bounded aggregate (MinKDistinctAgg): map-side partials keep at
    // most ksub distinct survivors per subspace, so no data-sized sort
    // or dedup exchange exists at any scale (the r5-flagged 100-TB
    // seam, tightened in r15 from the bucketed-window shape). Pins
    // (a) result equivalence with the single-window global-rank
    // spelling over distinct subvectors and (b) the plan shape.
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val m = 4; val ksub = 16; val seed = 42L
    val dim = emb.head().getAs[Seq[Float]]("embedding").size
    // (a) the unbounded reference spelling, over distinct subvectors
    def global(df: org.apache.spark.sql.DataFrame, dim: Int) = {
      val wdt = dim / m
      df.select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(m - 1)),
            s => slice(col("embedding"), s * wdt + 1, lit(wdt)))).as(Seq("s", "sub")))
        .select(col("s"), col("sub").as("centroid")).distinct()
        .withColumn("code", row_number().over(
          Window.partitionBy("s").orderBy(
            xxhash64(col("centroid").cast("string"), lit(seed)), col("centroid"))))
        .filter(col("code") <= ksub)
        .collect().map(r => (r.getInt(0), r.getInt(2),
          r.getSeq[Float](1).mkString(","))).toSet
    }
    def staged(df: org.apache.spark.sql.DataFrame, dim: Int) =
      Similarity.pqCodebookSampled(df, m, dim, ksub, seed)
        .collect().map(r => (r.getInt(0), r.getInt(2),
          r.getSeq[Float](1).mkString(","))).toSet
    assert(staged(emb, dim) === global(emb, dim))
    // -0.0 and 0.0 subvectors are one distinct value (Spark's float
    // grouping semantics): one centroid, not two
    val signedZeros = Seq(
      0L -> Seq(0.0f, 1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f),
      1L -> Seq(-0.0f, 1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, -0.0f),
      2L -> Seq(0.5f, -0.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 0.0f)).toDF("vec_id", "embedding")
    val zs = staged(signedZeros, 8)
    assert(zs === global(signedZeros, 8))
    assert(zs.toSeq.groupBy(_._1).map { case (s, c) => s -> c.size } ===
      Map(0 -> 2, 1 -> 1, 2 -> 1, 3 -> 2), zs)
    // (b) the codebook plan carries no window, no sort and no sort
    // aggregate on the subvector stream — just the bounded object
    // aggregate. AQE off: the static plan holds every exchange and sort
    // the planner inserts.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val plan = SparkTestBase.withAqeDisabled(
      Similarity.pqCodebookSampled(emb, m, dim, ksub, seed).queryExecution.executedPlan)
    val nodes = SparkTestBase.walkPlan(plan)
    assert(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]), s"expected object agg in:\n$plan")
    assert(!nodes.exists {
      case _: WindowExec | _: WindowGroupLimitExec | _: SortExec | _: SortAggregateExec |
          _: SortMergeJoinExec => true
      case _ => false
    }, s"unexpected window or sort in:\n$plan")
  }

  test("KMeans PQ codebook plugs into the codebook seam and holds recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val dim = emb.head().getAs[Seq[Float]]("embedding").size
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cb: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.pqTopK(emb, queries, 10, m = 4, codebook = cb,
          lossless = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(got.contains).toDouble / brute.size
    }
    val km = recallOf(Similarity.pqCodebookKMeans(emb, m = 4, dim = dim, ksub = 64))
    val sampled = recallOf(Similarity.pqCodebookSampled(emb, m = 4, dim = dim, ksub = 64))
    // a trained quantizer must at least hold its own against random
    // sampling at the same budget (slack for seed luck), and clear the
    // ~0.02 random floor by a wide margin
    assert(km >= 0.25, s"kmeans recall=$km")
    assert(km >= sampled - 0.15, s"kmeans recall=$km < sampled recall=$sampled - slack")
  }

  test("IVF-PQ: exhaustive+lossless == brute force; real config keeps recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // gate config: every cell probed + zero quantization error
    val exact = Similarity.ivfPqTopK(emb, queries, 10, nlist = 16, nprobe = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === brute)
    // realistic config: partial probing AND a compressing codebook —
    // two approximation sources stacked, recall still well above the
    // ~0.02 random floor
    val dim = emb.head().getAs[Seq[Float]]("embedding").size
    val cb = Similarity.pqCodebookSampled(emb, m = 4, dim = dim, ksub = 128)
    val real = Similarity.ivfPqTopK(emb, queries, 10, nlist = 16, nprobe = 8,
        m = 4, codebook = cb, lossless = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(real.contains).toDouble / brute.size
    assert(recall >= 0.25, s"recall=$recall")
  }

  test("IVF cosine top-k recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 10, nlist = 16, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("salted equi-join equals plain join on a skewed key") {
    import spark.implicits._
    // 90% of rows share one hot key
    val left = spark.range(2000).select(
      when(col("id") % 10 < 9, 1L).otherwise(col("id")).as("k"), col("id").as("v"))
    val right = Seq((1L, "hot"), (42L, "cold"), (77L, "cold2")).toDF("k", "name")
    val plain = left.join(right, "k").select("v", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedEquiJoin(left, right, "k", salts = 8)
      .select("v", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("multimodal typed pipeline: schema + deterministic stub features") {
    val out = Multimodal.pipeline(spark, docs)
    assert(out.schema.fieldNames.toSeq ===
      Seq("doc_id", "n_bytes", "width", "height", "feat"))
    val row = out.filter(col("doc_id") === 0).head()
    val nBytes = row.getAs[Int]("n_bytes")
    assert(row.getAs[Int]("width") === nBytes % 640)
    assert(row.getAs[Int]("height") === (nBytes * 7) % 480)
    assert(out.count() === docs.count())
  }

  test("image header dims: PNG/JPEG/GIF containers parse, junk rejects") {
    // PNG: synth-then-parse roundtrip at awkward sizes
    for ((w, h) <- Seq((1, 1), (640, 480), (65535, 3), (1 << 20, 7)))
      assert(Multimodal.imageDims(Multimodal.pngHeaderBytes(w, h)) === Some((w, h)))

    // JPEG: SOI + APP0 segment + SOF0 frame header (height then width)
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val app0 = Array(0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46) // len 4 + 2 payload
      val sof = Array(0xff, 0xc0, 0x00, 0x0b, 0x08,
        (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 0x01, 0x00)
      (Array(0xff, 0xd8) ++ app0 ++ sof).map(_.toByte)
    }
    assert(Multimodal.imageDims(jpeg(1024, 768)) === Some((1024, 768)))
    assert(Multimodal.imageDims(jpeg(33, 7)) === Some((33, 7)))

    // ISO 10918 fill bytes: extra 0xFF padding before a marker is legal
    val padded = {
      val base = jpeg(640, 360)
      // inject two fill bytes before the SOF marker (after APP0 segment)
      val sofStart = 2 + 6 // SOI + APP0
      base.take(sofStart) ++ Array(0xff.toByte, 0xff.toByte) ++ base.drop(sofStart)
    }
    assert(Multimodal.imageDims(padded) === Some((640, 360)))

    // GIF89a: little-endian logical screen size
    val gif = ("GIF89a".getBytes("ASCII") ++
      Array[Byte](0x21.toByte, 0x01.toByte, 0x0f.toByte, 0x00.toByte)).clone()
    gif(6) = 0x21; gif(7) = 0x01 // 0x0121 = 289
    gif(8) = 0x0f; gif(9) = 0x00 // 15
    assert(Multimodal.imageDims(gif) === Some((289, 15)))

    // junk, truncation, empty
    assert(Multimodal.imageDims(Array.empty[Byte]) === None)
    assert(Multimodal.imageDims("not an image at all".getBytes) === None)
    assert(Multimodal.imageDims(Multimodal.pngHeaderBytes(9, 9).take(12)) === None)
    assert(Multimodal.imageDims(Array(0xff, 0xd8, 0x00).map(_.toByte)) === None)
  }

  test("wav header info: chunk walk, interleaved chunks, padding, junk rejects") {
    // synth-then-parse roundtrip across rates/channels/bit depths
    for ((rate, ch, bits, n) <- Seq((8000, 1, 16, 1), (44100, 2, 16, 100000),
        (16000, 1, 8, 12345), (48000, 2, 24, 7)))
      assert(Multimodal.wavInfo(Multimodal.wavHeaderBytes(rate, ch, bits, n))
        === Some((rate, ch, bits, n.toLong)))

    // a LIST chunk (odd size → even padding) between fmt and data must
    // be skipped by the walk, not break it
    val base = Multimodal.wavHeaderBytes(22050, 1, 16, 500)
    val list = "LIST".getBytes("ASCII") ++
      Array[Byte](3, 0, 0, 0, 'I', 'N', 'F', 0) // size 3, padded to 4
    val interleaved = base.take(36) ++ list ++ base.drop(36)
    // RIFF size field is now stale — the walk must not depend on it
    assert(Multimodal.wavInfo(interleaved) === Some((22050, 1, 16, 500L)))

    // junk, truncation, zero-channel corruption
    assert(Multimodal.wavInfo(Array.empty[Byte]) === None)
    assert(Multimodal.wavInfo("RIFFxxxxNOPE".getBytes("ASCII")) === None)
    assert(Multimodal.wavInfo(base.take(11)) === None)
    val zeroCh = base.clone(); zeroCh(22) = 0; zeroCh(23) = 0
    assert(Multimodal.wavInfo(zeroCh) === None)
  }

  test("mp4 box walk: mvhd v0/v1, preceding boxes skipped, junk rejects") {
    // synth-then-parse roundtrip (v0 path)
    for ((ts, d) <- Seq((1000, 1L), (90000, 123456789L), (600, 0xffffffffL)))
      assert(Multimodal.mp4Info(Multimodal.mp4HeaderBytes(ts, d)) === Some((ts.toLong, d)))

    // a free box between ftyp and moov must be skipped by the walk
    val base = Multimodal.mp4HeaderBytes(1000, 42L)
    val free = Array[Byte](0, 0, 0, 12, 'f', 'r', 'e', 'e', 1, 2, 3, 4)
    val shifted = base.take(16) ++ free ++ base.drop(16)
    assert(Multimodal.mp4Info(shifted) === Some((1000L, 42L)))

    // version-1 mvhd: 64-bit ctime/mtime/duration layout
    val v1 = {
      val mvhdLen = 8 + 4 + 8 + 8 + 4 + 8 // hdr, ver, ctime64, mtime64, ts, dur64
      val out = new Array[Byte](16 + 8 + mvhdLen)
      def be32(i: Int, v: Long): Unit = { out(i) = (v >>> 24).toByte
        out(i+1) = (v >>> 16).toByte; out(i+2) = (v >>> 8).toByte; out(i+3) = v.toByte }
      def tag(i: Int, s: String): Unit = s.indices.foreach(j => out(i+j) = s.charAt(j).toByte)
      be32(0, 16); tag(4, "ftyp"); tag(8, "isom"); be32(12, 0)
      be32(16, 8 + mvhdLen); tag(20, "moov")
      be32(24, mvhdLen); tag(28, "mvhd")
      out(32) = 1 // version 1
      be32(52, 48000) // timescale at mvhd+28
      be32(56, 0); be32(60, 5000000L) // duration64 at mvhd+32
      out
    }
    assert(Multimodal.mp4Info(v1) === Some((48000L, 5000000L)))

    // junk, wrong magic, truncation
    assert(Multimodal.mp4Info(Array.empty[Byte]) === None)
    assert(Multimodal.mp4Info("not a video container".getBytes) === None)
    assert(Multimodal.mp4Info(base.take(20)) === None)
  }

  test("dims pipeline recovers synthesized dimensions from bytes alone") {
    val out = Multimodal.dimsPipeline(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val meta = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, w, h) =>
      assert(w === meta(id) % 640 + 1)
      assert(h === meta(id) % 480 + 1)
    }
  }

  test("rolling fingerprint is edit-tolerant-ish and deterministic") {
    val a = "a" * 50 + "the quick brown fox jumps over the lazy dog" + "b" * 50
    assert(TextHash.rollingFingerprint(a) === TextHash.rollingFingerprint(a))
    assert(TextHash.rollingFingerprint("short") === TextHash.rollingFingerprint("short"))
  }

  test("incremental dedup: index-only kill stages behave per class") {
    import org.apache.spark.sql.functions.translate
    val index = Dedup.dedupIndex(docs, "doc_id", "text")
    val verbatim = docs.select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val near = docs.select((col("doc_id") + 2000L).as("doc_id"),
      concat(col("text"), lit(" graft extra tail")).as("text"))
    val novel = docs.select((col("doc_id") + 3000L).as("doc_id"),
      translate(col("text"), "abcdefghij", "fghijabcde").as("text"))
    val n = docs.count()
    // verbatim re-crawls all die in the fp stage; near-dups all die in
    // the LSH stage; letter-rotated rewrites (shared shingles ~0) all
    // survive — and survivors keep their full row intact
    assert(Dedup.incrementalSurvivors(verbatim, index, "doc_id", "text").count() === 0L)
    assert(Dedup.incrementalSurvivors(near, index, "doc_id", "text").count() === 0L)
    val surv = Dedup.incrementalSurvivors(novel, index, "doc_id", "text")
    assert(surv.count() === n)
    assert(surv.columns.toSeq === Seq("doc_id", "text"))
    // a mixed batch kills exactly the two dup classes
    val mixed = verbatim.unionByName(near).unionByName(novel)
    val kept = Dedup.incrementalSurvivors(mixed, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === novel.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("lm perplexity: query equals brute-force bit-quantized reference; LM broadcasts") {
    val df = QueryRegistry.queries("q_lm_perplexity")(spark, SparkTestBase.sfDir)
    // the pruned LM side must reach the doc-bigram stream as a broadcast
    // (CCNet's ship-the-KenLM-to-workers shape), not a shuffle join
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "pruned-LM join should broadcast")
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap

    // brute-force reference, straight from the definition
    def toks(t: String) = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairs = texts.flatMap { case (id, t) =>
      val w = toks(t)
      if (w.length > 1) w.sliding(2).map(a => (id, a(0), a(1))).toSeq else Seq.empty
    }
    val uni = pairs.groupBy(_._2).map { case (w1, g) => w1 -> g.size.toLong }
    val big = pairs.groupBy(p => (p._2, p._3)).view
      .mapValues(_.size.toLong).filter(_._2 >= 5).toMap
    def bits(w1: String, w2: String): Long = big.get((w1, w2)) match {
      case Some(c) =>
        (java.lang.Long.toBinaryString(uni(w1)).length -
          java.lang.Long.toBinaryString(c).length).toLong
      case None => 20L
    }
    val expected = pairs.groupBy(_._1).map { case (id, g) =>
      val s = g.map(p => bits(p._2, p._3)).sum
      id -> ((g.size.toLong, s, s * 10 <= g.size.toLong * 46))
    }
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("containment pairs equal brute force (recall 1.0) and stay directed") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("spark", "query", "table", "row", "scan", "join", "data",
      "fast", "merge", "sort", "hash", "key", "part", "batch", "group")
    val base = (0L until 30L).map(i =>
      (i, Array.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    // prefix snippets of every 3rd doc: shingle-subset by construction
    val snips = base.filter(_._1 % 3 == 0).map { case (i, t) =>
      (i + 1000, t.split(" ").take(26).mkString(" ")) }
    val corpus = base ++ snips
    val got = Dedup.containmentPairsExact(
      corpus.toDF("doc_id", "text"), "doc_id", "text", theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force straight from the definition over the same shingle sets
    val sets = corpus.map { case (i, t) =>
      i -> graft.functions.TextHash.shingleHashes(t, 3).toSet }
    val truth = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia != ib && sa.nonEmpty &&
        sa.count(sb.contains).toDouble / sa.size >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "fixture should contain true containments")
    assert(got === truth)
    // every planted snippet is found as containee of its source...
    snips.foreach { case (sid, _) => assert(got.contains((sid, sid - 1000))) }
    // ...and the 26-of-40-token prefix is never reported as CONTAINING
    // its source (asymmetry: the long side's containment is ~0.63)
    snips.foreach { case (sid, _) => assert(!got.contains((sid - 1000, sid))) }
  }

  test("prefix-filter family equals brute force across random corpora and thetas") {
    // position-reconstruction fuzz for the df>1-only prefix aggregate:
    // vocab size varies per seed so the df distribution swings between
    // stop-shingle-heavy (small vocab — deep df>1 blocks) and
    // mostly-unique (large vocab — long df=1 prefixes, n1 ≈ n), the
    // two regimes whose boundary the n1 + j position arithmetic must
    // get exactly right for the recall-1.0 contract to hold.
    import spark.implicits._
    for (seed <- Seq(1, 2, 3); theta <- Seq(0.5, 0.7, 0.9)) {
      val rnd = new scala.util.Random(seed * 100 + (theta * 10).toInt)
      val vocabSize = 6 + rnd.nextInt(40)
      val vocab = Array.tabulate(vocabSize)(i => s"w$i")
      val corpus = (0L until 24L).map(i =>
        (i, Array.fill(6 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      val df = corpus.toDF("doc_id", "text")
      val sets = corpus.map { case (i, t) =>
        i -> graft.functions.TextHash.shingleHashes(t, 3).toSet }
        .filter(_._2.nonEmpty)
      val jaccTruth = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib
        inter = sa.count(sb.contains).toDouble
        if inter / (sa.size + sb.size - inter) >= theta
      } yield (ia, ib)).toSet
      val jaccGot = Dedup.ngramPairsExact(df, "doc_id", "text", theta)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(jaccGot === jaccTruth, s"ngram mismatch seed=$seed theta=$theta")
      // brute-force containment |A∩B|/|A|, rounded to 4dp the way the
      // production plan's round() does (HALF_UP on the double)
      val contTruth = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia != ib
        c = sa.count(sb.contains).toDouble / sa.size
        if c >= theta
      } yield (ia, ib, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      // collected ONCE with the containment value (ADVICE r13: a second
      // collect of the same expensive exact-containment plan per
      // seed/theta iteration doubled the adversarial loop's cost); both
      // the id pairs and the values are checked against the truth.
      val contProd = Dedup.containmentPairsExact(df, "doc_id", "text", theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(contProd.map { case (a, b, _) => (a, b) } ===
        contTruth.map { case (a, b, _) => (a, b) }, s"containment mismatch seed=$seed theta=$theta")
      assert(contProd === contTruth, s"containment values diverged seed=$seed theta=$theta")
    }
  }

  test("containment candidates stay near-linear on a stop-shingle corpus") {
    import spark.implicits._
    // adversarial corpus (the ngram spec's construction): every
    // document opens with the same hot shingle run, then unique
    // content, plus 10 verbatim duplicates (containment 1.0 both
    // directions). The one-sided prefix join only emits a candidate
    // when a CONTAINEE-PREFIX shingle matches; df-ascending ordering
    // sinks the hot shingles out of every prefix, so candidates come
    // only from genuinely shared rare shingles — the duplicates.
    val n = 150
    val base = (0 until n).map { i =>
      (i.toLong, s"z z z z u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }
    val dups = (0 until 10).map(i => (1000L + i, base(i)._2))
    val df = (base ++ dups).toDF("doc_id", "text")
    val candidates = Dedup.containmentCandidates(df, "doc_id", "text",
      theta = 0.8).count()
    assert(candidates >= 20, s"must cover the 10 directed dup pairs ×2, got $candidates")
    assert(candidates < 200,
      s"stop-shingle corpus produced $candidates candidates — O(N²) blowup " +
        "(df ordering should bound this at O(true matches))")
    // end-to-end: exactly the duplicate pairs, both directions, at 1.0
    val pairs = Dedup.containmentPairsExact(df, "doc_id", "text", theta = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (0 until 10).flatMap(i => Seq(
      (i.toLong, 1000L + i, 1.0), (1000L + i, i.toLong, 1.0))).toSet
    assert(pairs === want)
    // the prefix join is an equi-join on shingle keys — never all-pairs
    val plan = Dedup.containmentPairsExact(df, "doc_id", "text", theta = 0.8)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), plan.take(2000))
  }

  private def nBroadcasts(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("BroadcastExchange"))

  test("dedup plans never broadcast a corpus-derived side (size-misestimate guard)") {
    // Catalyst's default size estimate for aggregates that output
    // array columns (signatures, shingle arrays) is CONSTANT per row,
    // so corpus-scale tables look broadcastable and the planner was
    // choosing them as BroadcastHashJoin build sides — observed as a
    // driver OOM on the 10x bench corpus. Every dedup join is pinned
    // to shuffle-merge/shuffle-hash (Dedup.corpusSide / fetchSide);
    // the only broadcast allowed anywhere in these plans is SemDeDup's
    // deliberate bounded centroid table.
    //
    // The pins carry a provably-small bypass (Dedup.leavesKnownSmall):
    // when ALL leaf stats are real and the whole input fits the user's
    // own autoBroadcastJoinThreshold, the hints are skipped and the
    // planner may broadcast — which is true for this tiny test corpus
    // at the default 10 MB threshold (that positive branch is pinned
    // in the next test). So assert the PIN here under
    // autoBroadcastJoinThreshold=-1: the bypass requires a positive
    // threshold, so it is provably off and the pins must hold
    // unconditionally — and since -1 also disables planner-chosen
    // broadcasts, any BroadcastExchange that still appears can only be
    // an explicit broadcast() wrapping a corpus-derived side, the
    // exact bug class this guard exists for.
    graft.SparkTestBase.withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(nBroadcasts(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)) === 0)
      assert(nBroadcasts(Dedup.simhashPairs(docs, "doc_id", "text")) === 0)
      assert(nBroadcasts(Dedup.ngramPairsExact(docs, "doc_id", "text", 0.7)) === 0)
      assert(nBroadcasts(Dedup.containmentPairsExact(docs, "doc_id", "text", 0.9)) === 0)
      assert(nBroadcasts(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.95)) === 0)
      // semDeDup deliberately broadcasts its bounded (cluster →
      // centroid) table (explicit broadcast() — unaffected by the
      // threshold); the plan references that subtree several times
      // (withSim feeds both self-join sides), so the count is
      // plan-layout dependent — the invariant is that EVERY broadcast
      // subtree is the centroid aggregate (identified by its c_cluster
      // key), never a corpus-derived side.
      // inspect with AQE off: under AQE the exchanges are inserted
      // inside AdaptiveSparkPlanExec's preparation, invisible to a
      // tree walk of executedPlan before execution
      graft.SparkTestBase.withAqeDisabled {
        val sem = Dedup.semDeDup(
          emb.withColumnRenamed("label", "cluster"), "vec_id", "embedding", "cluster", 0.95)
        val bcasts = graft.SparkTestBase.walkPlan(sem.queryExecution.executedPlan)
          .filter(_.getClass.getSimpleName.startsWith("BroadcastExchange"))
        assert(bcasts.nonEmpty, "semDeDup must broadcast its centroid table")
        bcasts.foreach { b =>
          assert(b.toString.contains("c_cluster"),
            s"non-centroid broadcast in semDeDup plan:\n${b.toString.take(1500)}")
        }
        // incremental dedup: batch vs corpus-INDEX joins (array sig
        // column — the same misestimate) must never broadcast either
        val incr = Dedup.incrementalSurvivors(docs, Dedup.dedupIndex(
          docs.withColumn("doc_id", col("doc_id") + 5000), "doc_id", "text"),
          "doc_id", "text")
        assert(nBroadcasts(incr) === 0, "incrementalSurvivors must not broadcast")
      }
    }
  }

  test("leavesKnownSmall bypass engages on a provably-small corpus (broadcast allowed)") {
    // Positive branch of the pin bypass: the sf0.001 parquet corpus
    // has REAL leaf stats (file bytes) far under the default 10 MB
    // autoBroadcastJoinThreshold, so corpusSide/fetchSide skip their
    // hints and the planner is free to broadcast the verify fetches —
    // probing candidates in place instead of re-shuffling a wide
    // candidate×array intermediate. If this assertion fails, the
    // bypass stopped engaging and every small-corpus dedup pays
    // corpus-scale shuffle plans.
    graft.SparkTestBase.withAqeDisabled {
      // minhash joined ngram's unconditional-pin camp in r14: the
      // bypass was re-measured for it specifically
      // (OPTIMIZATION_r14.md §7 — bypass-on 1.67/3.11 s at 1×/10×
      // vs pinned 1.04/2.57; the broadcast plan streams the raw scan's
      // few input splits through the verify), so its small-SF plan now
      // keeps the same shuffle shape the at-scale plan has.
      assert(nBroadcasts(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)) === 0,
        "minhash must stay pinned (no broadcast) even on a known-small corpus")
      // containment joined the unconditional-pin camp in r15: the
      // interleaved same-session conf A/B
      // (OPTIMIZATION_r15.md §3, ngram as the conf-invariant
      // noise control) measured the bypass costing the 10x scale point
      // 12-19% (7.04-7.12 s vs 5.56-6.26 s pinned) for ~0.1 s at 1x —
      // the r14 minhash parallelism-collapse class; the r14 A/B that
      // kept containment's bypass had only measured the 1x key.
      assert(nBroadcasts(Dedup.containmentPairsExact(docs, "doc_id", "text", 0.9)) === 0,
        "containment must stay pinned (no broadcast) even on a known-small corpus")
      // the positive branch of leavesKnownSmall still engages where it
      // measured FASTER (embeddingPairs kept its bypass in the r14 A/B)
      assert(nBroadcasts(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.95)) > 0,
        "known-small corpus must leave the planner free to broadcast")
      // ngram deliberately has NO bypass (NgramStrategy pins are
      // unconditional): the round-8 bisect measured the bypass itself
      // as part of ngram's regression — the small-SF plan must keep
      // the same sort-merge shape the at-scale plan has.
      assert(nBroadcasts(Dedup.ngramPairsExact(docs, "doc_id", "text", 0.7)) === 0,
        "ngram must stay pinned (no broadcast) even on a known-small corpus")
    }
  }

  test("past the threshold, fetch joins pin to ShuffledHashJoin and candidate joins to SortMergeJoin") {
    // The round-7 strategy split (corpusSide=shuffle_merge for
    // skew-prone content-key joins, fetchSide=shuffle_hash for
    // unique-key verify fetches) has to survive Catalyst upgrades —
    // pin the physical strategies, not just "no broadcast". A 1-byte
    // threshold makes this corpus "past the threshold" (leaf bytes
    // > 1 ⇒ bypass off ⇒ hints active) while keeping auto-broadcast
    // nominally ON — proving the hints, not the threshold, force the
    // strategies.
    graft.SparkTestBase.withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "1") {
      graft.SparkTestBase.withAqeDisabled {
        def strategies(df: org.apache.spark.sql.DataFrame): Seq[String] =
          graft.SparkTestBase.walkPlan(df.queryExecution.executedPlan)
            .map(_.getClass.getSimpleName).filter(_.contains("Join"))
        val mh = strategies(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
        // two verify fetches by unique id → hash join without the
        // wide-row stream-side sort
        assert(mh.count(_ == "ShuffledHashJoinExec") === 2,
          s"minhash verify fetches must be ShuffledHashJoin, got $mh")
        // candidate join on content keys (band hashes — skewable) →
        // spill-safe sort-merge
        assert(mh.contains("SortMergeJoinExec"),
          s"minhash candidate join must be SortMergeJoin, got $mh")
        assert(!mh.exists(_.startsWith("Broadcast")), s"no broadcast allowed: $mh")
        // ngram runs the r6-optimal NgramStrategy (round-9 per-key
        // split, see Dedup.PrefixStrategy): EVERY join unconditionally
        // sort-merge — fetches included — and never hash or broadcast.
        val ng = strategies(Dedup.ngramPairsExact(docs, "doc_id", "text", 0.7))
        assert(ng.nonEmpty && ng.forall(_ == "SortMergeJoinExec"),
          s"ngram joins must all be SortMergeJoin under NgramStrategy, got $ng")
        // containment keeps the r8 shape: shuffle-hash verify fetches,
        // sort-merge candidate join.
        val ct = strategies(Dedup.containmentPairsExact(docs, "doc_id", "text", 0.9))
        assert(ct.count(_ == "ShuffledHashJoinExec") >= 2,
          s"containment verify fetches must be ShuffledHashJoin, got $ct")
        assert(ct.contains("SortMergeJoinExec"),
          s"containment candidate join must be SortMergeJoin, got $ct")
        assert(!ct.exists(_.startsWith("Broadcast")), s"no broadcast allowed: $ct")
      }
    }
  }

  test("containment candidates scale linearly on 10x dissimilar copies (scale shape)") {
    import spark.implicits._
    // The scale_containment bench shape (Bench.docsAt): ten mutually
    // DISSIMILAR copies of the 1x corpus, so true-pair structure at
    // 10x is exactly 10 × the 1x structure and any super-linear
    // candidate growth is the JOIN exploding, not the data. Copies
    // here share ONLY the hot stop-shingle run (whose df grows 10x —
    // the adversarial part: df-ascending prefix ordering must keep it
    // out of every prefix at every scale); all content shingles are
    // copy-tagged, so cross-copy candidates are impossible by
    // construction. The r5 verdict asked for this bound to keep the
    // heaviest bench key honest at 100x: candidates(10x) ≤
    // 10·candidates(1x), verified pairs exactly 10×.
    def corpusAt(copies: Int) = {
      val n = 100
      (0 until copies).flatMap { c =>
        val base = (0 until n).map { i =>
          (c * 100000L + i,
            s"z z z z k${c}u${i}a k${c}u${i}b k${c}u${i}c k${c}u${i}d " +
              s"k${c}u${i}e k${c}u${i}f k${c}u${i}g")
        }
        val dups = (0 until 10).map(i => (c * 100000L + 1000L + i, base(i)._2))
        base ++ dups
      }.toDF("doc_id", "text")
    }
    val c1 = Dedup.containmentCandidates(corpusAt(1), "doc_id", "text",
      theta = 0.8).count()
    val c10 = Dedup.containmentCandidates(corpusAt(10), "doc_id", "text",
      theta = 0.8).count()
    assert(c1 >= 20, s"1x corpus must produce the dup candidates, got $c1")
    assert(c10 <= 10L * c1,
      s"candidates grew super-linearly: 1x=$c1 10x=$c10 — the one-sided " +
        "prefix join's candidate set exploded")
    val p1 = Dedup.containmentPairsExact(corpusAt(1), "doc_id", "text",
      theta = 0.8).count()
    val p10 = Dedup.containmentPairsExact(corpusAt(10), "doc_id", "text",
      theta = 0.8).count()
    assert(p10 === 10L * p1,
      s"verified pairs must be exactly 10x the 1x structure: 1x=$p1 10x=$p10")
  }

  test("bm25: rare query term dominates; integer scores are deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, "needle alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha needle needle beta gamma delta epsilon zeta eta theta"),
      (4L, "alpha beta alpha beta alpha beta alpha beta alpha beta")
    ).toDF("doc_id", "text")
    val got = TextPipeline.bm25TopK(df, "doc_id", "text",
      Seq("needle", "alpha"), k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    val byRank = got.sortBy(_._3).map(_._1)
    // needle appears in docs 1 and 3 only (df=2 of 4) — idf 2000 vs
    // alpha's 1000; doc 3 has tf(needle)=2 so it outranks doc 1
    assert(byRank.take(2).toSeq === Seq(3L, 1L))
    // scores are positive longs, strictly ordered with the rank
    val scores = got.sortBy(_._3).map(_._2)
    assert(scores.forall(_ > 0L) && scores.sameElements(scores.sortBy(-_)))
    // determinism: identical plan → identical integers
    val again = TextPipeline.bm25TopK(df, "doc_id", "text",
      Seq("needle", "alpha"), k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(got.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("rrf fusion: both-list items beat single-list items; exact floor math") {
    import spark.implicits._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val sem = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val got = TextPipeline.rrfFuse(lex, sem, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getInt(4))).sortBy(_._3)
    // 20 is in both lists: 1000000/62 + 1000000/61 = 16129 + 16393
    assert(got.head._1 === 20L && got.head._2 === 16129L + 16393L)
    // singles score exactly their one reciprocal, floor division
    val scores = got.map(g => g._1 -> g._2).toMap
    assert(scores(10L) === 1000000L / 61)
    assert(scores(40L) === 1000000L / 62)
    assert(scores(30L) === 1000000L / 63)
    // fused order: the dual-listed item first, then by score desc
    assert(got.map(_._1).toSeq === Seq(20L, 10L, 40L, 30L))
  }

  test("containment recall survives the exact θ·n boundary (no ceil over-prune)") {
    import spark.implicits._
    // the adversarial boundary shape: containee A = 45 unique-region
    // shingles (df=1, rare-first ⇒ they fill A's prefix) + 55 shared,
    // container B = exactly those 55 shared shingles. Containment is
    // EXACTLY θ = 0.55 (55/100), and ceil(0.55·100) evaluates to 56 in
    // double arithmetic (0.55·100 → 55.000000000000007) while the
    // verify accepts overlap 55 — a ceil-based positional bound prunes
    // the only surviving candidate key (p_a=46, p_b=1 ⇒ bound 55 < 56)
    // and silently breaks the recall-1.0 contract. The raw-product
    // bound admits it.
    val u = (1 to 45).map(i => s"u$i")
    val r = (1 to 57).map(i => s"r$i")
    val docA = (u ++ r).mkString(" ") // 102 tokens → 100 shingles, 55 shared
    val docB = r.mkString(" ") // 57 tokens → 55 shingles, all shared
    val df = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val got = Dedup.containmentPairsExact(df, "doc_id", "text", theta = 0.55)
      .collect().map(re => (re.getLong(0), re.getLong(1), re.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 0.55), (2L, 1L, 1.0)))
  }

  test("bm25 served from the persisted index equals the direct query") {
    val direct = TextPipeline.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "merge", "window"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx").toString
    val (postings, dict, stats) = TextPipeline.buildTextIndex(docs, "doc_id", "text")
    postings.write.format("clickhouse_native").mode("overwrite").save(s"$tmp/p")
    dict.write.format("clickhouse_native").mode("overwrite").save(s"$tmp/d")
    stats.write.format("clickhouse_native").mode("overwrite").save(s"$tmp/s")
    val served = TextPipeline.serveBm25(
      spark.read.format("clickhouse_native").load(s"$tmp/p"),
      spark.read.format("clickhouse_native").load(s"$tmp/d"),
      spark.read.format("clickhouse_native").load(s"$tmp/s"),
      Seq("dup", "merge", "window"), k = 10)
    val got = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === direct)
    assert(got.nonEmpty)
    // the query-term predicate must reach the postings SCAN as a
    // zone-map filter (the posting-list seek), not post-scan only
    val leaves = served.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("zonemap=[In(term")),
      leaves.mkString("\n").take(800))
  }

  test("bm25 dict and stats derived from persisted postings equal the direct build") {
    // r15: q_bm25_index_persist derives dict/stats from the written
    // postings artifact (one corpus tokenize pass instead of three) —
    // pin exact artifact-content identity against the direct build.
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx2").toString
    val (postings, dict, stats) = TextPipeline.buildTextIndex(docs, "doc_id", "text")
    postings.write.format("clickhouse_native").mode("overwrite").save(s"$tmp/p")
    val posted = spark.read.format("clickhouse_native").load(s"$tmp/p")
    val dictDirect = dict.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val dictDerived = TextPipeline.dictFromPostings(posted).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dictDerived === dictDirect)
    assert(dictDerived.nonEmpty)
    val statsDirect = stats.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val statsDerived = TextPipeline.statsFromPostings(posted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(statsDerived === statsDirect)
  }

  test("boilerplate strip removes planted chrome and reassembles originals") {
    import spark.implicits._
    val header = "subscribe to our site now"
    val bodies = (0L until 8L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g"))
    // 6 of 8 docs carry the header (df·4 = 24 >= 8); doc 9 is ONLY chrome
    val corpus = bodies.map { case (i, b) =>
      (i, "srcA", if (i < 6) s"$header $b" else b) } :+ ((9L, "srcA", header))
    val got = TextPipeline.stripBoilerplate(
        corpus.toDF("doc_id", "source", "text"), "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    bodies.foreach { case (i, b) =>
      val (clean, nSeg, nDropped) = got(i)
      assert(clean === b, s"doc $i should reassemble its body")
      assert(nDropped === (if (i < 6) 1L else 0L))
      assert(nSeg === (if (i < 6) 3L else 2L)) // 7-token body = 2 segments
    }
    // the all-chrome doc survives as a row with empty clean text
    assert(got(9L) === (("", 1L, 1L)))
  }
}
