package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbour / similarity search over an embedding
 * column (SURVEY §2.12).
 *
 * Two tiers, per the brief:
 *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
 *    set against every vector, codegen'd higher-order-function dot
 *    products, per-query top-k via ranking window. Oracle-checkable.
 *  - [[lshTopK]] — the 100-TB path: sign-random-projection buckets;
 *    candidates shuffle once on bucket id and only bucket-local pairs
 *    are scored. Multi-probe (hamming<=r neighbouring buckets) trades
 *    compute for recall; recall is property-tested against brute force.
 */
object Similarity {

  /**
   * Elementwise dot product of two numeric-array columns, in double:
   * the codegen'd [[graft.functions.VecDot]] expression (registered as
   * `vec_dot` by [[graft.GraftExtensions]] — sessions must enable it
   * via spark.sql.extensions). Bit-identical to the higher-order
   * `aggregate(zip_with(...))` form it replaces (same element order,
   * same double arithmetic) but with no per-row intermediate array;
   * mismatched lengths throw instead of null-padding.
   */
  def dotD(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Cosine similarity dot/(|a|*|b|) — same formula the oracle uses. */
  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  /** The `k` best-scored (q_id, vec_id, sim, rn) rows per query: sim
    * descending, ties broken by vec_id, so the ranking is deterministic. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    scored.select(col("q_id"), col("vec_id"), col("sim"), row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
  }

  /**
   * Exact top-k neighbours for each query vector.
   * The query side MUST be small (it is broadcast to every executor);
   * the candidate side streams — no shuffle of the big table at all,
   * the ranking window shuffles only (q_id, candidate, sim) tuples.
   */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = candidates.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries.select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
    topKPerQuery(joined, k)
  }

  /** Deterministic pseudo-random hyperplane component (unit-free sign test). */
  private def planeComponent(plane: Int, dim: Int): Double = {
    val h = graft.functions.TextHash.splitmix64(plane.toLong * 131071L + dim)
    // map to (-1, 1) uniformly
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /**
   * Sign-random-projection bucket id (`planes`-bit code) for an
   * embedding column. `table` selects an independent plane family
   * (multi-table LSH); rows whose embedding length differs from `dim`
   * raise instead of silently hashing to a junk bucket (zip_with would
   * null-pad and every plane test would go null).
   */
  def srpBucket(emb: Column, planes: Int, dim: Int, table: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val planeArr = array((0 until dim).map(d => lit(planeComponent(table * planes + p, d))): _*)
      when(dotD(emb, planeArr) >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    when(size(emb) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"srpBucket: embedding dimension != $dim for this LSH family: found "),
        size(emb).cast("string"))).cast("long"))
  }

  /** Embedding width taken from the data (first row) when the caller doesn't pass one. */
  private[operators] def deriveDim(df: DataFrame, embCol: String): Int =
    df.select(size(col(embCol))).head().getInt(0)

  /**
   * IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
   * (trained once, deterministic seed) assigns every candidate to its
   * nearest centroid; a query scores only the candidates in its
   * `nprobe` closest cells. The big table shuffles once on the cell
   * id; the centroid table (nlist rows) broadcasts. This is the
   * classic IVF-Flat layout — at 100 TB the cells become partition
   * keys and each query touches nprobe/nlist of the data.
   */
  /** The IVF coarse quantizer: KMeans cell per candidate plus the
    * per-query nprobe nearest cells — shared by [[ivfTopK]] (flat
    * scoring) and [[ivfPqTopK]] (ADC scoring). */
  /**
   * Build the PERSISTABLE IVF index artifact: (cells, centroids).
   * `cells` = (vec_id, embedding, cell) — the corpus re-keyed by its
   * nearest-centroid cell; `centroids` = (cell, centroid) — the
   * nlist-row routing table. Both are plain DataFrames so a caller can
   * write them to native tables once and serve forever — at 100 TB the
   * KMeans fit happens once per index build, never per query (see
   * [[serveIvfTopK]] and the `q_sim_index_persist` key).
   */
  def buildIvfIndex(candidates: DataFrame, nlist: Int,
      trainFraction: Double = 1.0): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction=$trainFraction outside (0, 1]")
    val withVec = candidates.select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    // Random init, few iterations: the coarse quantizer only partitions
    // space into nlist cells — k-means|| init costs ~5 extra full passes
    // and buys nothing measurable for ANN recall at this granularity.
    // trainFraction < 1 fits the quantizer on a seeded sample — at
    // 100 TB the train pass must be bounded (a cell layout learned from
    // a few hundred vectors per cell is as good for ANN routing as one
    // learned from the full corpus); assignment still covers every row.
    val trainRows =
      if (trainFraction >= 1.0) withVec
      else withVec.sample(withReplacement = false, trainFraction, seed = 42L)
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setInitMode("random")
      .fit(trainRows.select("features"))
    val cand = model.transform(withVec)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }
    val centroidDf = candidates.sparkSession.createDataFrame(centroids.toSeq)
      .toDF("cell", "centroid")
    (cand, centroidDf)
  }

  /** nprobe nearest cells per query against a (cell, centroid) routing
    * table — broadcast-joined; nlist rows regardless of corpus size. */
  private def probeCells(queries: DataFrame, centroidDf: DataFrame,
      nprobe: Int): DataFrame = {
    // q_norm computed ONCE PER QUERY, before the nprobe-way fan-out —
    // probes carry it so scoring never recomputes it per cell or pair
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
    q.crossJoin(broadcast(centroidDf))
      .withColumn("dist", -cosine(col("q_emb"), col("centroid")))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist"), col("cell"))))
      .filter(col("cell_rank") <= nprobe)
      .select("q_id", "q_emb", "q_norm", "cell")
  }

  /** Shared cell-join scoring + per-query top-k ranking. Norms are
    * one column per VECTOR, computed before the pair join (sqrt is
    * deterministic per input, so `dot/(nₑ·n_q)` is bit-identical to
    * the inline cosine while cutting the per-pair flops from 3 dot
    * products to 1 — the pair count, not the vector count, is what
    * explodes with cells·probes). `broadcastProbes` distinguishes the
    * small-query-set path from the corpus-vs-corpus kNN-graph path. */
  private def scoreProbedCells(cand: DataFrame, probes: DataFrame, k: Int,
      broadcastProbes: Boolean): DataFrame =
    topKPerQuery(probedPairs(cand, probes, broadcastProbes), k)

  /** The scored candidate pairs the probed-cell join admits — the
    * pre-ranking stage of [[scoreProbedCells]], extracted so the
    * workload-count instruments ([[knnGraphCandidates]],
    * [[knnGraphHierCandidates]]) count EXACTLY the pair set the
    * measured pipeline ranks (the [[graft.operators.Dedup
    * .minhashCandidates]] discipline — the instrument cannot drift
    * from the plan). A count over just (q_id, vec_id) lets Catalyst
    * prune the sim arithmetic, so the instrument pays the join, not
    * the scoring. */
  private def probedPairs(cand: DataFrame, probes: DataFrame,
      broadcastProbes: Boolean): DataFrame = {
    val candN = cand.withColumn("e_norm",
      sqrt(dotD(col("embedding"), col("embedding"))))
    // Corpus-vs-corpus regime (broadcastProbes = false — the kNN-graph
    // shape): BOTH sides are corpus-scale, so the cell join is pinned
    // to a shuffled hash join. Without the pin, Catalyst's size
    // estimate at small inputs picks a BroadcastHashJoin whose
    // STREAMED side is the raw corpus scan — often a single input
    // split — so the entire per-cell pair scoring AND the top-k sort
    // run in one task (measured r14, sf0.1 exact gate: knnGraphHier
    // 7.5 s broadcast vs 1.6 s pinned, knnGraph 5.4 vs 2.5, identical
    // results). At 100 TB the pin is the documented design invariant
    // ("nothing corpus-sized broadcasts"): the probes equi-join the
    // cell assignments co-partitioned on the cell id. Shuffled HASH
    // (not merge) for the same reason as Dedup.fetchSide: the stream
    // side rows carry the wide q_emb/embedding payloads a sort-merge
    // would sort on both sides; per-task build memory is
    // |corpus|/shuffle.partitions under the standard
    // partitions-scale-with-input deployment assumption.
    val (candSide, probeSide) =
      if (broadcastProbes) (candN, broadcast(probes))
      else (candN.hint("shuffle_hash"), probes.hint("shuffle_hash"))
    candSide.join(probeSide, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dotD(col("embedding"), col("q_emb"))
          / (col("e_norm") * col("q_norm")), 4).as("sim"))
  }

  /** Flat (exact-cosine) scoring of probed cells → per-query top-k. */
  private def flatTopK(cand: DataFrame, probes: DataFrame, k: Int): DataFrame =
    scoreProbedCells(cand, probes, k, broadcastProbes = true)

  /**
   * Serve IVF top-k from a PERSISTED index: `cells` and `centroids`
   * are the two tables [[buildIvfIndex]] produced (typically read back
   * from native/parquet storage) — no KMeans, no corpus pass, at serve
   * time. Build once, serve many: the per-query cost is nprobe/nlist
   * of the corpus plus an nlist-row broadcast.
   */
  def serveIvfTopK(cells: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    flatTopK(cells, probeCells(queries, centroids, nprobe), k)

  private def ivfCells(candidates: DataFrame, queries: DataFrame,
      nlist: Int, nprobe: Int, trainFraction: Double,
      hierRouting: Boolean = false, superProbe: Int = 4): (DataFrame, DataFrame) = {
    // hierRouting swaps BOTH sides to the two-level router: encode is
    // O(√nlist) per corpus row instead of the flat O(nlist) argmin —
    // the corpus-side quadratic under nlist ∝ N (see
    // [[trainHierRouter]]) — and since round 9 the PROBE side routes
    // through the same codegen'd [[IvfProbe]] expression
    // (O(k1 + superProbe·k2) per query row instead of the flat
    // queries × nlist ranking window). The flat probe was safe only
    // while the query set stayed bounded; a corpus-sized query batch
    // through the serving API (the kNN-graph shape) re-created the
    // exact quadratic the router removed — round-9 verdict item 7.
    //
    // Exact gate preserved: nprobe >= nlist auto-widens superProbe to
    // ALL supers, so every cell is probed and (each corpus vector
    // living in exactly one cell) the result is provably brute force —
    // the same argument [[knnGraphHier]] pins. Approximate-regime cell
    // choice differs from the flat path (L2 router ranking vs cosine
    // centroid ranking) exactly as the encode side already does.
    if (hierRouting) {
      val (cand, _, model) = buildIvfIndexHier(candidates, nlist,
        trainCap = math.max(100000, nlist))
      val sp = if (nprobe >= nlist) model.supers.length else superProbe
      val probes = queries
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
        .withColumn("cell", explode(probeCol(col("q_emb"), model, sp, nprobe)))
        .select("q_id", "q_emb", "q_norm", "cell")
      (cand, probes)
    } else {
      val (cand, centroidDf) = buildIvfIndex(candidates, nlist, trainFraction)
      (cand, probeCells(queries, centroidDf, nprobe))
    }
  }

  /**
   * IVF top-k: route corpus and queries to learned cells, score only
   * probed cells. NOTE `hierRouting = true` SUPERSEDES `trainFraction`:
   * the two-level router always trains on its own bounded
   * `max(100000, nlist)`-row sample (the FAISS fixed-budget
   * discipline — a corpus-proportional train sample is exactly the
   * scaling hazard the router exists to remove), so the fraction knob
   * is inert on that path. Exact-gate results (nprobe = nlist) are
   * identical either way; only approximate-regime cell layouts differ.
   * `superProbe` (hier path only) is the probe router's level-1
   * fan-out; it auto-widens to all supers at the exact gate.
   */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, trainFraction: Double = 1.0,
      hierRouting: Boolean = false, superProbe: Int = 4): DataFrame = {
    val (cand, probes) = ivfCells(candidates, queries, nlist, nprobe,
      trainFraction, hierRouting, superProbe)
    flatTopK(cand, probes, k)
  }

  /**
   * kNN GRAPH build: every corpus vector's top-k nearest neighbours —
   * the precursor of SemDeDup clustering, graph-based label
   * propagation, and hard-negative mining at corpus scale. Unlike
   * [[ivfTopK]] the "query" side IS the corpus, so nothing here may
   * broadcast it: probes (corpus × nprobe thin rows) meet the cell
   * assignments in a plain equi-join co-partitioned on the cell id,
   * and candidate pairs are bounded by per-cell products — the
   * canonical IVF kNN-graph layout (each vector scores only its
   * nprobe cells' members, never the whole corpus).
   *
   * Exact gate: nprobe = nlist scores every (v, u) pair exactly once,
   * so the graph equals brute force regardless of the learned cell
   * layout — which is what lets the full machinery run under a SQL
   * oracle; the approximate nprobe < nlist regime is recall-tested in
   * LlmOpsSpec.
   */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, trainFraction: Double = 1.0): DataFrame = {
    val (cand, probes) = knnCellsAndProbes(corpus, nlist, nprobe, trainFraction)
    // both sides corpus-scale: shuffle on cell, no broadcast
    scoreProbedCells(cand, probes, k, broadcastProbes = false)
  }

  /** [[knnGraph]]'s (cell assignments, probes) — shared with
    * [[knnGraphCandidates]] so the count instrument measures exactly
    * the pipeline the scale point runs. */
  private def knnCellsAndProbes(corpus: DataFrame, nlist: Int,
      nprobe: Int, trainFraction: Double): (DataFrame, DataFrame) = {
    val (cand, centroidDf) = buildIvfIndex(corpus, nlist, trainFraction)
    // The queries here are the CORPUS, so probeCells' crossJoin +
    // rank-window form would push N·nlist rows — each carrying the
    // wide q_emb payload — through an exchange and two sorts just to
    // pick nprobe cells per row (at the 10× scale point: 3.2M rows,
    // ~1.2 s of a 6 s key — r14 decomposition). The centroid table is
    // nlist rows of driver-resident metadata (KMeans clusterCenters —
    // a LocalRelation; the collect below is driver-local, no job), so
    // the ranking runs instead as a per-row expression: sort the
    // nlist (dist, cell) structs, slice nprobe, explode. Equivalence
    // to the window's row_number (dist ASC NULLS FIRST, cell ASC):
    // array_sort uses the same lexicographic struct order with null
    // fields first, and the dist arithmetic is the identical
    // -(dot/(√·√)) expression — pinned in LlmOpsSpec. probeCells
    // stays for the query-bounded serving paths, where a broadcast
    // crossJoin over a handful of queries is already free.
    val centers = centroidDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val centsLit = array(centers.map { case (cellId, c) =>
      struct(lit(cellId).as("cell"), typedLit(c).as("centroid"))
    }: _*)
    val ranked = slice(array_sort(transform(centsLit, c =>
      struct((-(dotD(col("q_emb"), c.getField("centroid")) /
          (sqrt(dotD(col("q_emb"), col("q_emb")))
            * sqrt(dotD(c.getField("centroid"), c.getField("centroid"))))))
          .as("dist"),
        c.getField("cell").as("cell")))), 1, nprobe)
    val probes = corpus
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
      .withColumn("cell", explode(transform(ranked, x => x.getField("cell"))))
      .select("q_id", "q_emb", "q_norm", "cell")
    (cand, probes)
  }

  /**
   * The (q_id, vec_id) candidate pairs [[knnGraph]] scores — the kNN
   * workload-count instrument (Bench's `wl` gate). With the
   * production knob nlist ∝ N and fixed nprobe, per-cell size stays
   * ~constant so this cardinality grows ~linearly in the corpus; a
   * super-linear count flags a degenerate cell layout or a routing
   * regression REGARDLESS of wall time (counts are deterministic —
   * seeded KMeans on a seeded sample — where walls storm).
   */
  def knnGraphCandidates(corpus: DataFrame, nlist: Int = 16,
      nprobe: Int = 4, trainFraction: Double = 1.0): DataFrame = {
    val (cand, probes) = knnCellsAndProbes(corpus, nlist, nprobe, trainFraction)
    probedPairs(cand, probes, broadcastProbes = false)
      .select("q_id", "vec_id")
  }

  import graft.functions.{AnnRouter, IvfProbe, IvfRoute, IvfRouterModel}
  import org.apache.spark.sql.graft.Bridge

  private def routeCol(emb: Column, model: IvfRouterModel): Column =
    Bridge.column(IvfRoute(Bridge.expression(emb), model))
  private def probeCol(emb: Column, model: IvfRouterModel,
      superProbe: Int, nprobe: Int): Column =
    Bridge.column(IvfProbe(Bridge.expression(emb), model,
      superProbe, nprobe))

  /**
   * TWO-LEVEL (hierarchical) router training: driver-local
   * hierarchical Lloyd on a seeded, BOUNDED sample (`trainCap` rows —
   * the FAISS discipline: quantizers train on an in-memory sample, so
   * the train pass costs O(trainCap · nlist) regardless of corpus
   * size, plus one distributed count+sample pass over the corpus).
   *
   * Why this exists: with the production knob `nlist ∝ N` (constant
   * cell size ⇒ linear pair scoring), the FLAT quantizer's encode
   * argmin and probe ranking are each O(N · nlist) = O(N²) — the 100×
   * certification measured the flat kNN graph at a 152× wall ratio on
   * 100× data (BENCH_NOTES). The two-level router routes every row in
   * O(√nlist): supers first, then only that super's children.
   */
  def trainHierRouter(candidates: DataFrame, nlist: Int,
      trainCap: Int = 100000, iters: Int = 5, seed: Long = 42L): IvfRouterModel = {
    require(trainCap >= nlist, s"trainCap=$trainCap must be >= nlist=$nlist")
    val embOnly = candidates.select(col("embedding"))
    val n = embOnly.count()
    // DETERMINISTIC selection: rank every row by a seeded content hash
    // and take the trainCap smallest (TakeOrderedAndProject — a
    // per-partition bounded heap + one merge, never a full sort
    // shuffle). A Bernoulli sample().limit() here would pick rows
    // dependent on partition layout and task order, so the router
    // model — hence approximate-regime results — could differ across
    // runs with different parallelism (round-9 advice). Hash-ranking
    // is a uniform pseudo-random sample that is a pure function of
    // (data, seed).
    val sampled =
      if (n <= trainCap) embOnly
      else embOnly.orderBy(xxhash64(col("embedding"), lit(seed))).limit(trainCap)
    val rows = sampled.collect().map { r =>
      r.getSeq[Any](0).map {
        case f: Float => f
        case d: Double => d.toFloat
      }.toArray
    }
    // collect order depends on task scheduling — sort by content so
    // the model is a function of (data, seed), not of the run; the
    // full lexicographic key breaks hash-collision ties completely
    // (a head-element tiebreak left equal-hash equal-head pairs
    // order-unstable)
    import scala.math.Ordering.Implicits.seqOrdering
    val sample = rows.sortBy(a => (java.util.Arrays.hashCode(a), a.toIndexedSeq))
    AnnRouter.train(sample, nlist, iters, seed)
  }

  /** [[buildIvfIndex]] with the two-level router: same (cells,
    * centroids) output seam, plus the router model for probe-side
    * reuse. Encode is a codegen'd per-row expression — no ML transform
    * pass, no join, O(√nlist) per row. */
  def buildIvfIndexHier(candidates: DataFrame, nlist: Int,
      trainCap: Int = 100000, iters: Int = 5, seed: Long = 42L)
      : (DataFrame, DataFrame, IvfRouterModel) = {
    val model = trainHierRouter(candidates, nlist, trainCap, iters, seed)
    val cells = candidates.select(col("vec_id"), col("embedding"))
      .withColumn("cell", routeCol(col("embedding"), model))
    val centroids = candidates.sparkSession
      .createDataFrame(model.leaves.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
      .toDF("cell", "centroid")
    (cells, centroids, model)
  }

  /**
   * kNN graph via the two-level router — [[knnGraph]]'s 100-TB form:
   * encode AND probe are per-row codegen'd expressions
   * (O(k1 + superProbe·k2) each), so the only corpus-scale operations
   * left are one shuffle of the cell assignments, one shuffle of the
   * (corpus × nprobe) thin probe rows, and the per-cell pair scoring
   * the constant cell size keeps linear. The flat form's
   * corpus × nlist probe ranking window — the piece the 100×
   * certification caught growing quadratically — does not exist here.
   *
   * Exact gate (the oracle regime): superProbe >= k1 and nprobe >=
   * nlist probes every cell, and since each corpus vector lives in
   * exactly one cell, every ordered pair is scored exactly once ⇒ the
   * graph equals brute force regardless of the learned tree. The
   * approximate regime (small superProbe/nprobe) is recall-tested in
   * LlmOpsSpec.
   */
  def knnGraphHier(corpus: DataFrame, k: Int, nlist: Int,
      nprobe: Int = 4, superProbe: Int = 4, trainCap: Int = 100000,
      seed: Long = 42L): DataFrame = {
    val (cand, probes) = hierCellsAndProbes(corpus, nlist, nprobe,
      superProbe, trainCap, seed)
    scoreProbedCells(cand, probes, k, broadcastProbes = false)
  }

  /** [[knnGraphHier]]'s (cell assignments, probes) — shared with
    * [[knnGraphHierCandidates]] so the count instrument measures
    * exactly the pipeline the scale point runs. */
  private def hierCellsAndProbes(corpus: DataFrame, nlist: Int,
      nprobe: Int, superProbe: Int, trainCap: Int,
      seed: Long): (DataFrame, DataFrame) = {
    val (cand, _, model) = buildIvfIndexHier(corpus, nlist, trainCap, seed = seed)
    val probes = corpus.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_norm", sqrt(dotD(col("q_emb"), col("q_emb"))))
      .withColumn("cell", explode(probeCol(col("q_emb"), model, superProbe, nprobe)))
      .select("q_id", "q_emb", "q_norm", "cell")
    (cand, probes)
  }

  /** The (q_id, vec_id) candidate pairs [[knnGraphHier]] scores — the
    * two-level-router kNN workload-count instrument; fully
    * deterministic (hash-ranked train sample, seeded Lloyd) and
    * ~linear under nlist ∝ N with fixed nprobe (see
    * [[knnGraphCandidates]]). */
  def knnGraphHierCandidates(corpus: DataFrame, nlist: Int,
      nprobe: Int = 4, superProbe: Int = 4, trainCap: Int = 100000,
      seed: Long = 42L): DataFrame = {
    val (cand, probes) = hierCellsAndProbes(corpus, nlist, nprobe,
      superProbe, trainCap, seed)
    probedPairs(cand, probes, broadcastProbes = false)
      .select("q_id", "vec_id")
  }

  /**
   * Product-quantization codebooks as a DATAFRAME (s, code, centroid):
   * nothing is collected to the driver — codebooks are relations and
   * every PQ stage below is a join, which is what makes the layout
   * work when the codebook itself is large.
   *
   * Lossless variant: one centroid per DISTINCT subvector, so
   * quantization error is exactly zero and [[pqTopK]] degenerates to
   * the exact answer — the verification anchor (bounded corpus, like
   * [[Dedup.embeddingPairsExact]]), which is what lets the PQ
   * machinery run under a SQL oracle. Codes are dense ranks under the
   * subvector sort order — deterministic.
   */
  def pqCodebookLossless(candidates: DataFrame, m: Int, dim: Int): DataFrame =
    subVectors(candidates.select(col("vec_id"), col("embedding")), m, dim)
      .select(col("s"), col("sub").as("centroid")).distinct()
      .withColumn("code", row_number().over(
        Window.partitionBy("s").orderBy(col("centroid"))))

  /**
   * Sampled codebook: `ksub` centroids per subspace drawn
   * deterministically from the corpus' distinct subvectors (seeded
   * hash order). Sampling-as-quantizer is the bounded-train-pass
   * analogue of [[ivfTopK]]'s `trainFraction` — a KMeans-refined
   * codebook plugs into the same (s, code, centroid) seam.
   *
   * Scale shape (r15, guide §2 "shuffle fewer bytes"): the seeded-hash
   * top-ksub runs as ONE mergeable bounded aggregate
   * ([[graft.functions.MinKDistinctAgg]]) — each map partition keeps at
   * most ksub distinct survivors per subspace and only those cross the
   * shuffle (m·ksub rows per task), with dedup absorbed into the
   * buffer. This replaces the previous distinct() + bucketed-rank
   * windows (two data-sized exchanges + two sorts; a billion distinct
   * subvectors never hit a sort at all now). Selection is identical to
   * the single global rank by (hk, centroid) — `code` is the survivor's
   * position in that order — and LlmOpsSpec pins the equivalence.
   */
  def pqCodebookSampled(candidates: DataFrame, m: Int, dim: Int,
      ksub: Int = 256, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // `x + 0.0f` maps -0.0 to 0.0 (as distinct() and groupBy do), so equal
    // subvectors hash to one hk and the aggregate keeps one of them
    val hashed = subVectors(candidates.select(col("vec_id"), col("embedding")), m, dim)
      .select(col("s"), transform(col("sub"), x => x + lit(0.0f)).as("centroid"))
      .withColumn("hk", xxhash64(col("centroid").cast("string"), lit(seed)))
    hashed.groupBy("s")
      .agg(Bridge.column(graft.functions.MinKDistinctAgg(
          Bridge.expression(col("hk")),
          Bridge.expression(col("centroid")), ksub)
        .toAggregateExpression()).as("tops"))
      .select(col("s"), posexplode(col("tops")).as(Seq("pos", "centroid")))
      .select(col("s"), col("centroid"), (col("pos") + 1).as("code"))
  }

  /**
   * KMeans-trained codebook: the classic PQ quantizer — per subspace,
   * `ksub` centroids fit on a (seeded, bounded) sample of that
   * subspace's subvectors. Cluster centers are nlist-scale metadata
   * (ksub·m rows), the same bounded driver-side footprint as
   * [[ivfCells]]'s centroid table; the training pass is sampled
   * exactly like IVF's `trainFraction`. Plugs into the same
   * (s, code, centroid) seam as the other codebooks — recall
   * ordering vs the sampled codebook is pinned in LlmOpsSpec.
   */
  def pqCodebookKMeans(candidates: DataFrame, m: Int, dim: Int,
      ksub: Int = 256, trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction=$trainFraction outside (0, 1]")
    val subs = subVectors(candidates.select(col("vec_id"), col("embedding")), m, dim)
    val spark = candidates.sparkSession
    val perSub = (0 until m).map { s =>
      val rows = subs.filter(col("s") === s)
        .select(array_to_vector(col("sub")).as("features"))
      val train =
        if (trainFraction >= 1.0) rows
        else rows.sample(withReplacement = false, trainFraction, seed = 42L + s)
      val model = new KMeans().setK(ksub).setSeed(42L + s).setMaxIter(5)
        .setInitMode("random").fit(train)
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (s, i + 1, c.toArray.map(_.toFloat))
      }.toSeq
    }
    spark.createDataFrame(perSub.flatten).toDF("s", "code", "centroid")
  }

  /** (vec_id, s, sub): the m per-subspace slices of each embedding. */
  private def subVectors(df: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val w = dim / m
    df.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("embedding"), s * w + 1, lit(w)))).as(Seq("s", "sub")))
  }

  /**
   * IVF-PQ's PQ half: asymmetric-distance (ADC) top-k over
   * product-quantized candidates. Candidates are ENCODED once — m
   * small integers per vector instead of dim floats (the 100-TB
   * memory story: 64 floats → 4 codes) — and queries score candidates
   * through per-subspace dot-product TABLES against the codebook, not
   * against raw vectors.
   *
   * Every stage is relational: encode = join subvectors to the
   * codebook (equality in lossless mode, nearest-centroid argmin
   * otherwise); the distance tables are queries × codebook (broadcast
   * — ksub·m rows per query); scoring joins codes to tables on
   * (s, code) and folds the m partial dots PER CANDIDATE IN SUBSPACE
   * ORDER (sorted-struct fold), so the arithmetic is deterministic and
   * — in the lossless regime — bit-identical to a subspace-decomposed
   * exact cosine, which is exactly how the SQL oracle spells it.
   *
   * @return (q_id, vec_id, sim, rn) — per-query top-k by ADC cosine
   */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, codebook: DataFrame = null, lossless: Boolean = true,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else deriveDim(candidates, "embedding")
    adcTopK(candidates, queries, k, m, codebook, lossless, d, allowed = None)
  }

  /**
   * The shared PQ scoring pipeline (encode → ADC tables → fold →
   * top-k) behind [[pqTopK]] and [[ivfPqTopK]] — ONE implementation so
   * the two oracle-gated keys can never drift bit-wise apart.
   * `allowed` restricts scoring to an (q_id, vec_id) candidate set
   * (the IVF routing); None scores every pair.
   *
   * Encode discipline: the exact equality-join encode is used ONLY
   * for the internally-built lossless codebook, where every subvector
   * is present by construction. A caller-provided codebook always
   * goes through nearest-centroid assignment — identical codes for a
   * lossless codebook (the distance-0 match is unique) and the
   * correct semantics for a compressing one, where an equality join
   * would silently DROP every candidate whose subvector isn't a
   * centroid.
   */
  private def adcTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      m: Int, codebook: DataFrame, lossless: Boolean, d: Int,
      allowed: Option[DataFrame]): DataFrame = {
    val cb = Option(codebook).getOrElse {
      if (lossless) pqCodebookLossless(candidates, m, d)
      else pqCodebookSampled(candidates, m, d)
    }
    val equalityEncode = lossless && (codebook eq null)
    // r15 evaluated-and-REVERTED: materializing the (bounded, ksub·m
    // row) codebook driver-side once via collect + LocalRelation — so
    // the train pass would feed both consumers (encode cents, ADC
    // tables) from one materialization — measured WORSE at both bench
    // scale points (same-window isolated min-of-3, quiet host:
    // 1× 3.04 → 3.20 s, 10× 6.12 → 6.98 s) even though the static plan
    // shrank (86 → 46 parquet scans, 30 → 6 windows,
    // plans/r15/scale_ivfpq_10x_collect.txt). Cause: AQE's runtime
    // stage reuse already deduplicates the identical codebook exchange
    // across the two consumers, so the duplicate lineage was ~free,
    // while the eager collect added a serializing barrier job per
    // invocation that the old single-job plan overlapped with its
    // other stages. Keeping the codebook relational is the measured
    // optimum; see OPTIMIZATION_r15.md.
    val subs = subVectors(candidates.select(col("vec_id"), col("embedding")), m, d)
    // --- encode: (vec_id, s, code) ---------------------------------------
    val enc =
      if (equalityEncode)
        subs.join(cb, subs("s") === cb("s") && subs("sub") === cb("centroid"))
          .select(subs("vec_id"), subs("s"), cb("code"))
      else {
        // nearest centroid by L2: argmin over |sub|² − 2·sub·c + |c|²
        // (|sub|² constant per row — omitted); deterministic code
        // tie-break. The codebook is ksub·m rows of corpus-independent
        // metadata, so the argmin runs as a PER-ROW array_min over the
        // per-subspace centroid array (broadcast as m rows) instead of
        // the previous join-then-rank window — which materialized
        // N·m·ksub joined rows through a sort (r14 measurement at the
        // 10× scale point: 20M rows, ~3.0 s of the key's 7.0 s wall;
        // the array form computes the identical N·m·ksub distances as
        // one projection with nothing materialized or sorted).
        // Equivalence: array_min over struct(d, code) uses the same
        // lexicographic (dist ASC NULLS FIRST, code ASC) total order
        // as the replaced row_number window, and c·c is the same
        // arithmetic hoisted per codebook entry (bit-identical doubles,
        // so the chosen codes are identical — pinned in LlmOpsSpec).
        val cents = cb
          .select(col("s"), struct(col("code"), col("centroid"),
            dotD(col("centroid"), col("centroid")).as("c2")).as("e"))
          .groupBy("s").agg(collect_list(col("e")).as("cents"))
        subs.join(broadcast(cents), "s")
          .select(col("vec_id"), col("s"),
            array_min(transform(col("cents"), e =>
              struct((lit(-2.0) * dotD(col("sub"), e.getField("centroid"))
                  + e.getField("c2")).as("d"),
                e.getField("code").as("code"))))
              .getField("code").as("code"))
      }
    // --- ADC tables: (q_id, s, code, dot, c2) + per-query norm -----------
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qsubs = subVectors(q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), m, d)
      .select(col("vec_id").as("q_id"), col("s").as("qs"), col("sub").as("qsub"))
    val dtab = qsubs.join(cb, qsubs("qs") === cb("s"))
      .select(col("q_id"), col("s"), col("code"),
        dotD(col("qsub"), col("centroid")).as("dot"),
        dotD(col("centroid"), col("centroid")).as("c2"))
    val qnorm = qsubs
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("qs"), col("qsub")))).as("parts"))
      .select(col("q_id"), foldParts(col("parts"), p => dotSelf(p)).as("q2"))
    // --- score: fold the m partials in subspace order --------------------
    val paired = allowed match {
      case Some(a) => a.join(enc, "vec_id").join(broadcast(dtab), Seq("q_id", "s", "code"))
      case None => enc.join(broadcast(dtab), Seq("s", "code"))
        .filter(col("vec_id") =!= col("q_id"))
    }
    val scored = paired
      .groupBy("q_id", "vec_id")
      .agg(sort_array(collect_list(struct(col("s"), col("dot"), col("c2")))).as("parts"))
      .select(col("q_id"), col("vec_id"),
        foldParts(col("parts"), p => p.getField("dot")).as("vdot"),
        foldParts(col("parts"), p => p.getField("c2")).as("v2"))
      .join(broadcast(qnorm), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(col("vdot") / (sqrt(col("v2")) * sqrt(col("q2"))), 4).as("sim"))
    topKPerQuery(scored, k)
  }

  /**
   * IVF-PQ composed: the coarse quantizer routes each query to its
   * `nprobe` nearest cells, and only candidates in probed cells are
   * scored — through the PQ codes (ADC), never the raw vectors. The
   * 100-TB layout in full: cells partition the corpus, codes compress
   * it (m bytes-ish per vector in the scoring path), the per-query
   * work is nprobe/nlist of the data with table lookups instead of
   * dim-float dots.
   *
   * Exact gate (the oracle config): nprobe = nlist probes every cell
   * AND a lossless codebook has zero quantization error ⇒ the result
   * is exactly brute force, whatever the trained cell layout did.
   * Real configs (nprobe < nlist, sampled codebook) are recall-tested
   * in LlmOpsSpec.
   *
   * NOTE `trainFraction` here feeds only the COARSE quantizer, so
   * `hierRouting = true` makes it fully inert (see [[ivfTopK]]: the
   * two-level router trains on its own bounded sample); the PQ
   * codebook is supplied via `codebook`/`lossless`, not trained from
   * a fraction.
   */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
      codebook: DataFrame = null, lossless: Boolean = true,
      trainFraction: Double = 1.0, dim: Int = -1,
      hierRouting: Boolean = false, superProbe: Int = 4): DataFrame = {
    val d = if (dim > 0) dim else deriveDim(candidates, "embedding")
    val allowed = ivfPqCandidates(candidates, queries, nlist, nprobe,
      trainFraction, hierRouting, superProbe)
    adcTopK(candidates, queries, k, m, codebook, lossless, d, Some(allowed))
  }

  /**
   * The (q_id, vec_id) candidate set [[ivfPqTopK]] scores through the
   * PQ codes — probe×cell rows, the IVF-PQ workload-count instrument
   * (Bench's `wl` gate). With a FIXED query set, fixed nprobe and
   * nlist ∝ N, per-cell size stays ~constant so this cardinality
   * stays ~constant as the corpus grows — the per-query serving cost
   * a 100 TB deployment watches; a growing count flags a routing or
   * cell-layout regression regardless of wall time. Shared verbatim
   * with [[ivfPqTopK]] (the instrument cannot drift from the plan).
   *
   * The probe-side BROADCAST (and flatTopK's) is the one remaining
   * queries-bounded shape in the serving APIs: with hierRouting the
   * routing cost is per-row O(√nlist) on both sides, but a
   * corpus-sized query batch would still broadcast corpus × nprobe
   * thin rows here — that shape belongs to [[knnGraphHier]], which
   * shuffle-joins the probes instead.
   */
  def ivfPqCandidates(candidates: DataFrame, queries: DataFrame,
      nlist: Int = 16, nprobe: Int = 4, trainFraction: Double = 1.0,
      hierRouting: Boolean = false, superProbe: Int = 4): DataFrame = {
    val (cellOf, probes) = ivfCells(candidates, queries, nlist, nprobe,
      trainFraction, hierRouting, superProbe)
    cellOf.select(col("vec_id"), col("cell"))
      .join(broadcast(probes.select(col("q_id"), col("cell"))), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
  }

  /** Left-fold a sorted struct array: ((x0 + x1) + x2) + … — the fixed
    * association order that makes double sums deterministic and lets
    * the oracle reproduce them exactly. */
  private def foldParts(parts: Column, f: Column => Column): Column =
    aggregate(parts, lit(0.0), (acc, x) => acc + f(x))

  private def dotSelf(p: Column): Column =
    call_function("vec_dot", p.getField("qsub"), p.getField("qsub"))

  /**
   * LSH-bucketed approximate top-k: candidates hash to one bucket;
   * each query probes every bucket within hamming distance
   * `probeRadius` of its own code. The (query × bucket-code) expansion
   * is tiny (2^planes codes max) — the big table shuffles once.
   */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 8, probeRadius: Int = 3, dim: Int = -1): DataFrame = {
    // dim <= 0 → read the width off the data (one-row driver probe);
    // a mismatched row then fails fast inside srpBucket
    val d = if (dim > 0) dim else deriveDim(candidates, "embedding")
    val cand = candidates.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", srpBucket(col("embedding"), planes, d))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("q_bucket", srpBucket(col("q_emb"), planes, d))
    // distinct occupied buckets = at most 2^planes rows of metadata
    val buckets = cand.select(col("bucket")).distinct()
    val probes = q.crossJoin(broadcast(buckets))
      .filter(Dedup.hammingCol(col("q_bucket"), col("bucket")) <= probeRadius)
    val scored = cand.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
    topKPerQuery(scored, k)
  }

  /**
   * Per-label embedding centroids — the class-prototype builder behind
   * nearest-centroid classification, cluster summarization, and
   * per-domain embedding drift checks. Accumulation is FIXED-POINT:
   * each component is floored to 2^-20 resolution and summed as a
   * long, so the per-(label, dim) sum is exact integer arithmetic —
   * independent of row order, partitioning, and engine, where a naive
   * float sum is none of those. The mean divides once at the end
   * (IEEE-exact both engines). posexplode turns the corpus into thin
   * (label, dim, component) rows; one map-side-combined aggregate.
   *
   * Exactness bound: a float component in [-1, 1] scales to |fp| ≤
   * 2^20, so the long sum stays below 2^53 (double-exact for the
   * final division) up to ~2^33 vectors per label — beyond any
   * realistic per-label corpus; larger magnitudes shrink the bound
   * proportionally.
   *
   * @return (label, dim, n_vecs, sum_fp, mean) — dim 0-based
   */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast("double") * lit(1048576.0)).cast("long")).as("sum_fp"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_fp"),
        (col("sum_fp").cast("double") / (lit(1048576.0) * col("n_vecs"))).as("mean"))

  /**
   * Nearest-centroid classification: every vector assigned to the
   * [[labelCentroids]] prototype with the smallest squared Euclidean
   * distance (ties broken by label — total order). The distance is
   * engine-deterministic without any rounding: centroid components
   * divide once from the exact fixed-point sums, and the per-vector
   * distance folds the 64 squared differences IN DIMENSION ORDER
   * (left-associated), so every term and every partial sum is the
   * same IEEE double on any engine and any partitioning.
   *
   * Scale shape: the centroid table is `labels × dim` — broadcast by
   * construction; the corpus streams through one zip_with/fold
   * projection and a per-vector argmin window. No corpus shuffle
   * beyond the (label, dim) centroid aggregate.
   *
   * @return (vec_id, label, pred_label) — the true and predicted
   *         labels per vector
   */
  def centroidClassify(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = labelCentroids(df, vecCol, labelCol)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean))), x -> x.mean)")
        .as("c"))
    val dist = expr(
      """aggregate(
           zip_with(emb, c, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),
           0D, (acc, x) -> acc + x)""")
    val w = Window.partitionBy("vec_id").orderBy(col("dist").asc, col("c_label").asc)
    df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        col(vecCol).as("emb"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("pred_label"))
  }

  /**
   * Uniform scalar quantization of an embedding column to `levels`
   * integer codes per dimension (int8 compression at levels = 256 —
   * the standard 4× memory cut before a vector index is built).
   * Per-dimension min/max comes from the data in one thin
   * (dim, component) aggregate; the 2^levels-bucket assignment
   * `floor((x - mn) * (levels-1) / (mx - mn))` is core-IEEE-op
   * arithmetic only (subtract, multiply, divide, floor — each exactly
   * rounded, so bit-identical on any engine), clamped to levels-1 for
   * the x = mx edge and defined as 0 for constant dimensions (the
   * divide would otherwise be 0/0, which ANSI mode throws on).
   *
   * Scale shape: the stats aggregate map-side-combines to `dim` rows,
   * broadcasts as one array row; the corpus streams through a single
   * zip_with projection — no corpus shuffle at all.
   *
   * @return (vec_id-named idCol, codes) — codes int array, dimension
   *         order preserved
   */
  def scalarQuantize(df: DataFrame, idCol: String, embCol: String,
      levels: Int = 256): DataFrame = {
    require(levels >= 2, s"levels=$levels must be >= 2")
    val stats = df.select(posexplode(col(embCol)).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
    val statsArr = stats.agg(
      array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("st"))
    df.select(col(idCol), col(embCol)).crossJoin(broadcast(statsArr))
      .select(col(idCol), zip_with(col(embCol), col("st"), (x, s) => {
        val mn = s.getField("mn").cast("double")
        val mx = s.getField("mx").cast("double")
        when(mx === mn, lit(0)).otherwise(least(lit(levels - 1),
          floor((x.cast("double") - mn) * lit((levels - 1).toDouble) / (mx - mn))
            .cast("int")))
      }).as("codes"))
  }

  /**
   * Hard-negative mining for contrastive training: for every query
   * vector, the k most-cosine-similar candidates whose label DIFFERS
   * from the query's — the near-misses a trained encoder most needs to
   * push apart. Same scale shape as [[bruteForceTopK]] (small query
   * set broadcast, corpus streams, ranking window shuffles only thin
   * score rows); the label filter runs before scoring, so same-label
   * rows cost one comparison, not a dot product.
   *
   * @return (q_id, vec_id, sim, rn) — rn 1..k per query in
   *         (sim desc, vec_id) order, sim rounded to 4dp
   */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val scored = candidates.select(col("vec_id"), col("embedding"), col(labelCol))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col(labelCol).as("q_label"))))
      .filter(col("vec_id") =!= col("q_id") && col(labelCol) =!= col("q_label"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
    topKPerQuery(scored, k)
  }
}
