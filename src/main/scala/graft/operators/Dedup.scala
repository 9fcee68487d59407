package graft.operators

import graft.functions.TextHash

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed deduplication operators (SURVEY §2.12 north star).
 *
 * Scale design (the part that matters at 100 TB):
 *  - signatures are computed per-row (a document is one cell), so the
 *    signature stage is a map — NO shuffle;
 *  - the mergeable [[graft.functions.MinHashSketchAgg]] formulation
 *    exists for inputs where a document arrives as many rows
 *    (grouped/streaming) and distributes as partial+final aggregation;
 *  - candidate generation is an equi-join on (band, bandHash) — data
 *    shuffles once on the band hash; there is NO crossJoin anywhere;
 *  - a pair can collide in several bands → dropDuplicates before the
 *    verify step, so verification cost is per unique candidate pair;
 *  - nothing is persist()ed: the signature stage is recomputed once
 *    per join side (a cheap map with precomputed permutation
 *    constants) instead of pinning executor storage that a library
 *    callee has no safe point to release — in a long-lived session
 *    running many dedup queries, leaked cached partitions evict
 *    everything else (measured: tripled the runtime of unrelated
 *    queries later in the same Bench session).
 */
object Dedup {

  // Every per-row hash below is a codegen'd Catalyst expression
  // (functions/HashExpressions.scala, registered by GraftExtensions) —
  // no Scala UDF anywhere in the dedup hot path: the signature map runs
  // over every byte of the corpus and a UDF would force a
  // serialization boundary per row right where throughput matters most.

  /**
   * Pin a CORPUS-SCALE join input to sort-merge. Catalyst's default
   * size estimate for an aggregate that outputs array columns
   * (collect_list signatures, shingle arrays) uses the array type's
   * CONSTANT defaultSize per row, so a corpus-sized signature/array
   * table is systematically underestimated and gets chosen as a
   * BroadcastHashJoin build side — observed as a driver OOM on the
   * 10x bench corpus with a 1 GiB driver, and a guaranteed
   * scale-killer at 100 TB where "the corpus never broadcasts" is the
   * design invariant this module documents. The SHUFFLE_MERGE hint
   * keeps every such join a spill-safe shuffled sort-merge join
   * regardless of the bogus estimate (deliberate bounded broadcasts —
   * SemDeDup centroids, small dimension tables — stay explicit
   * `broadcast(...)` calls).
   */
  private def corpusSide(df: DataFrame): DataFrame =
    if (leavesKnownSmall(df)) df else df.hint("shuffle_merge")

  /**
   * True iff EVERY leaf of the relation's optimized plan reports a
   * real, small size — total leaf bytes within the session's own
   * `autoBroadcastJoinThreshold`. The derived tables these pins guard
   * (signature/shingle-array/embedding fetches) are O(input bytes) —
   * a shingle-hash array is ~8 B per input token against ~6 B of
   * source text — so when the WHOLE input provably fits the user's
   * broadcast bound, anything derived from it is within a small
   * constant factor of that bound and the planner can be left free to
   * broadcast (the verify stage then probes in place instead of
   * re-shuffling a wide candidate×array intermediate; measured at
   * sf0.1 as a containment win and an ngram loss — a documented
   * tradeoff, BENCH_NOTES round-8 variant matrix). The failure mode
   * the pins exist for — Catalyst's constant-defaultSize estimate
   * making a TB-scale aggregate LOOK broadcastable — is exactly the
   * case where leaf bytes are huge or unknown (streaming sources,
   * RDD-backed plans report the default/max size), so the pin stays.
   */
  private def leavesKnownSmall(df: DataFrame): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val thr = conf.autoBroadcastJoinThreshold
    // Leaf stats come from the ANALYZED plan: leaf-node sizeInBytes
    // (file footers / LocalRelation bytes) is identical before and
    // after optimization, and analysis is cheap where full
    // optimization of the sub-DataFrame per join side is not. The
    // threshold is read at PLAN-CONSTRUCTION time — a conf change
    // between building and executing the returned DataFrame keeps the
    // build-time decision (deliberate: the pins exist for safety, and
    // re-deciding at execution would make the plan shape
    // non-deterministic for tests and EXPLAIN).
    thr > 0 && {
      val leaves = df.queryExecution.analyzed.collectLeaves()
      leaves.nonEmpty && leaves.map(_.stats.sizeInBytes).sum <= BigInt(thr)
    }
  }

  /**
   * Pin a corpus-scale FETCH relation — one row per unique id (a
   * signature/shingle-array/embedding table) or per distinct key (the
   * df vocabulary) — to a shuffled HASH join build side. Same
   * broadcast-OOM protection as [[corpusSide]] (the relation still
   * never broadcasts, whatever Catalyst's array-defaultSize
   * misestimate says), but without sort-merge's sort of the STREAM
   * side: in the verify stage that stream is candidate pairs already
   * carrying one wide array payload that a sort-merge fetch would sort
   * on both fetches. (At sf0.1 the two strategies measure within noise
   * of each other — BENCH_NOTES round-8 variant matrix; the hash join
   * is kept for the asymptotic argument: the stream side's sort is
   * O(C log C) in candidate count where the hash build is O(corpus),
   * and candidates dominate corpus exactly when dedup is expensive.)
   * The build side is safe by construction:
   * keys are unique per row, so a partition's build size is
   * |corpus|/shuffle.partitions — with NO skew amplification (unlike
   * content keys such as shingle hashes, where one stop-shingle's
   * df-sized row group must stream, which is why candidate joins stay
   * [[corpusSide]]).
   *
   * Memory caveat — partitions must scale with the corpus: unlike
   * sort-merge, a ShuffledHashJoin BUILD side does not spill its hash
   * map; each task materializes its |corpus|/shuffle.partitions slice
   * on the heap. The operating assumption is the standard one for any
   * hash-build operator (HashAggregate has the same bound): the
   * deployment sizes `spark.sql.shuffle.partitions` proportionally to
   * input (AQE coalescing makes over-provisioning free), keeping the
   * per-task build a few hundred MB at any corpus size. A deployment
   * that pins partitions constant while growing the corpus unboundedly
   * would need [[corpusSide]] semantics here instead.
   */
  private def fetchSide(df: DataFrame): DataFrame =
    if (leavesKnownSmall(df)) df else df.hint("shuffle_hash")

  /**
   * Per-operator physical strategy for the prefix-filtered exact dedup
   * family ([[ngramPairsExact]] vs [[containmentPairsExact]]). The
   * round-8 five-variant bisect (BENCH_NOTES "isolated A/B" matrix)
   * proved the two operators want OPPOSITE plan shapes and that no
   * single global choice serves both: ngram is fast ONLY under the
   * exact r6 combination — every pin an UNCONDITIONAL shuffle-merge
   * (no small-corpus broadcast bypass) and the per-doc prefix
   * aggregate carrying n as a THIRD count() column (3.16 s vs
   * 4.16-4.61 s for every other combination at sf0.1) — while
   * containment is fastest with the bypass + shuffle-hash fetches +
   * the 2-column aggregate with n DERIVED (3.05 s, vs 3.38-4.38 s
   * under the r6 shape, and 21% faster at the 10× scale point, its
   * scale-critical regime). Round 8 shipped one global choice and ate
   * a documented +30% on ngram; this strategy object is the round-9
   * fix: each call site names its measured optimum instead of sharing
   * a compromise.
   *
   * Correctness is strategy-independent: both shapes compute the same
   * rare-first order, prefix length, df=1 pruning, and verify
   * arithmetic — only join physical strategies differ (both
   * oracle-checked per round). The round-8 layout half of the split
   * (n as a third count() vs derived) dissolved in round 10 when n
   * became an INPUT column carried through the explode (see
   * prefixOrdered) — both strategies now share the single thinnest
   * aggregate, and only the join pins remain per-operator.
   */
  private[operators] sealed trait PrefixStrategy {
    /** Pin for the corpus-scale verify/df fetch joins. */
    def fetch(df: DataFrame): DataFrame
    /** Pin for the prefix-key candidate self-join side. */
    def candidate(df: DataFrame): DataFrame
  }
  /** r6 shape — ngram's measured optimum: unconditional sort-merge
    * everywhere (skew-safe, spills; no bypass so the small-SF plan is
    * the same shape as the at-scale plan). */
  private[operators] case object NgramStrategy extends PrefixStrategy {
    def fetch(df: DataFrame): DataFrame = df.hint("shuffle_merge")
    def candidate(df: DataFrame): DataFrame = df.hint("shuffle_merge")
  }
  /** Containment's measured optimum (re-bisected r15): UNCONDITIONAL
    * shuffle-hash verify fetches (no stream-side sort of wide candidate
    * rows) + unconditional sort-merge candidates (content keys skew).
    * The r8 small-corpus broadcast bypass was re-measured with an
    * interleaved same-session conf A/B (OPTIMIZATION_r15.md §3,
    * ngram as the conf-invariant noise control): the bypass costs the
    * 10x scale point 12-19% (bypass 7.12/7.06/7.04 s vs pinned
    * 5.71/6.56/6.26 s across three interleaved rounds) for a ~0.1 s win
    * at 1x — the same parallelism-collapse class as r14's minhash
    * finding (the broadcast's STREAMED side is a near-single-split
    * scan), which the r14 containment A/B missed by measuring only the
    * 1x key. Unconditional pins also make the small-SF plan the same
    * shape as the at-scale plan, where leaf bytes exceed any broadcast
    * threshold and the pins were already active. */
  private[operators] case object ContainmentStrategy extends PrefixStrategy {
    def fetch(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    def candidate(df: DataFrame): DataFrame = df.hint("shuffle_merge")
  }

  /** Per-row MinHash signature of a text column (codegen'd). */
  def minhashSigCol(text: Column, k: Int, shingleN: Int): Column =
    call_function("minhash_sig", text, lit(k), lit(shingleN))

  /** Distinct word-n-gram shingle hashes as one array (codegen'd). */
  def shinglesCol(text: Column, n: Int): Column =
    call_function("shingle_array", text, lit(n))

  /** 64-bit SimHash fingerprint (codegen'd). */
  def simhashCol(text: Column): Column = call_function("simhash64", text)

  /** Winnowing rolling fingerprint (codegen'd). */
  def fingerprintCol(text: Column): Column =
    call_function("rolling_fingerprint", text)

  /** Fraction of agreeing signature slots — the Jaccard estimator. */
  def estJaccardCol(a: Column, b: Column): Column =
    call_function("sig_agree", a, b)

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingCol(a: Column, b: Column): Column =
    call_function("hamming64", a, b)

  /**
   * MinHash + LSH near-duplicate candidate pairs.
   *
   * @return (id_a, id_b, est_sim) with id_a < id_b, est_sim = fraction
   *         of agreeing signature slots, filtered to >= threshold.
   */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      useAggregator: Boolean = false): DataFrame = {
    val (sigs, cand) = minhashStages(df, idCol, textCol, k, bands, shingleN, useAggregator)

    // --- verify: fetch both signatures by id, estimate, threshold --------
    // UNCONDITIONAL shuffle-hash fetches (r14): the small-corpus
    // broadcast bypass was re-measured for this operator specifically
    // (OPTIMIZATION_r14.md §7, autoBroadcastJoinThreshold -1 == the
    // fully-pinned plan, same session): bypass-on 1.67/3.11 s at
    // 1×/10× vs pinned 1.04/2.57 — the broadcast plans stream the raw
    // scan's few input splits through the verify, the same parallelism
    // collapse Similarity.probedPairs documents. Containment keeps its
    // bypass (measured the other way, 1.62 vs 1.85 — the r8 finding
    // stands there).
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccardCol(col("sig_a"), col("sig_b")).as("est_sim"))
      .filter(col("est_sim") >= threshold)
  }

  /** Candidate (id_a, id_b) pairs for [[minhashPairs]] BEFORE signature
    * verification — the LSH banding join's output, i.e. the quantity
    * that explodes if banding/bucketing ever degenerates, and the
    * number an operator of a 100 TB dedup pipeline watches when tuning
    * (k, bands): candidate volume IS the pipeline's join cost.
    * Candidate COUNTS are deterministic run-to-run (deterministic
    * hashing), so super-linear growth across corpus scales flags a
    * plan/data explosion regardless of wall-clock noise — the bench's
    * count-based scale gate, the 100× certification tool and the
    * adversarial-corpus specs (mirroring [[ngramCandidates]]) all key
    * off this. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 128, bands: Int = 32, shingleN: Int = 3): DataFrame =
    minhashStages(df, idCol, textCol, k, bands, shingleN, useAggregator = false)._2

  /** (signatures, candidate pairs) — shared by [[minhashPairs]] and
    * [[minhashCandidates]] so the instrument can never drift from the
    * measured plan. */
  private def minhashStages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      shingleN: Int,
      useAggregator: Boolean): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rows = k / bands

    // --- signature stage -------------------------------------------------
    val sigs =
      if (useAggregator) {
        // grouped formulation: generate shingle rows (ShingleHashes
        // Generator — no intermediate array column), shuffle by id,
        // merge partial elementwise-min sketches (MinHashSketchAgg,
        // registered as minhash_agg by GraftExtensions —
        // ObjectHashAggregate keeps the k-wide buffer a raw array
        // between updates)
        df.select(col(idCol).as("id"),
            call_function("shingle_hashes", col(textCol), lit(shingleN)).as("sh"))
          .groupBy("id").agg(expr(s"minhash_agg(sh, $k)").as("sig"))
      } else {
        // per-row formulation: pure map, no shuffle
        df.select(col(idCol).as("id"), minhashSigCol(col(textCol), k, shingleN).as("sig"))
      }

    // --- banding stage: THIN candidate rows (band, band_hash, id) --------
    // The signature does not ride along. With b bands, an exploded row
    // carrying the k-wide signature would push ~b copies of every
    // signature through the candidate shuffle; keeping candidate rows
    // to three fixed-width columns and re-joining the signature table
    // by id afterwards ships each signature across the wire twice
    // (once per join side) REGARDLESS of b — b/2 = 16× less signature
    // traffic at the default b=32. (Also measured faster at sf0.1:
    // 1.3 s vs 1.9 s.) Spark ML's MinHashLSH approxSimilarityJoin
    // carries full rows through the explode-join, the shape avoided
    // here.
    val buckets = sigs.select(
      col("id"), posexplode(split_bands(col("sig"), bands, rows)).as(Seq("band", "band_hash")))

    // --- candidate join on (band, band_hash); collapse multi-band --------
    // collisions while rows are only (id_a, id_b): distinct() here is a
    // HashAggregate over two longs with map-side partials
    // unconditional shuffle-merge for the banding self-join (r14, same
    // measured A/B as the verify fetches above — the bypass let the
    // candidate join stream the raw scan single-split at small SFs;
    // merge not hash here because band_hash is a CONTENT key: one hot
    // bucket's row group must stream, corpusSide's standing argument)
    val cand = buckets.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(buckets.select(col("band").as("band_b"),
          col("band_hash").as("hash_b"), col("id").as("id_b"))
          .hint("shuffle_merge"),
        col("band") === col("band_b") && col("band_hash") === col("hash_b") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    (sigs, cand)
  }

  /**
   * The persisted dedup-index artifact for a corpus snapshot:
   * (id, fp, sig) — a 64-bit exact-content fingerprint plus the k-slot
   * MinHash signature per document. At 100 TB this table (tens of
   * bytes per kilobyte of corpus) is the ONLY thing later snapshots
   * ever touch: the corpus text itself is never re-read. The MinHash
   * analog of the `.chidx` sidecar.
   */
  def dedupIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 128, shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      call_function("fnv1a64", col(textCol)).as("fp"),
      minhashSigCol(col(textCol), k, shingleN).as("sig"))

  /**
   * Incremental (cross-snapshot) dedup: rows of `batch` that survive
   * against an accumulated corpus represented ONLY by its
   * [[dedupIndex]] — the production shape for a 100 TB crawl pipeline,
   * where snapshot N+1 must not re-process snapshots 1..N.
   *
   * Two kill stages, both index-only:
   *  1. exact — semi-join on the 64-bit content fingerprint (the
   *     deterministic fast path that catches verbatim re-crawls; a
   *     cross-text fp collision would kill a fresh doc, the standard
   *     2^-64 trade every content-addressed pipeline makes);
   *  2. near — LSH band join of batch signatures against index
   *     signatures (batch×corpus only: batch-internal duplicates are
   *     [[minhashPairs]]' job), signature-estimate verified at
   *     >= threshold.
   * Both stages are bucketed equi-joins on thin fixed-width rows; the
   * batch is anti-joined against the union of killed ids. Nothing
   * collects, nothing broadcasts corpus-sized state.
   */
  def incrementalSurvivors(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int = 128, bands: Int = 32,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rows = k / bands
    val bSig = batch.select(col(idCol).as("bid"),
      call_function("fnv1a64", col(textCol)).as("bfp"),
      minhashSigCol(col(textCol), k, shingleN).as("bsig"))
    // the index is CORPUS-SCALE and its sig column is an array —
    // exactly the constant-defaultSize misestimate corpusSide exists
    // for: every index-derived join side is pinned shuffle-merge
    val exactDup = bSig.join(corpusSide(index.select(col("fp").as("bfp"))),
      Seq("bfp"), "left_semi").select("bid")
    val bBuckets = bSig.select(col("bid"),
      posexplode(split_bands(col("bsig"), bands, rows)).as(Seq("band", "band_hash")))
    val cBuckets = index.select(col("id").as("cid"),
      posexplode(split_bands(col("sig"), bands, rows)).as(Seq("band", "band_hash")))
    val cand = bBuckets.join(corpusSide(cBuckets), Seq("band", "band_hash"))
      .select("bid", "cid").distinct()
    val nearDup = cand
      .join(fetchSide(bSig.select(col("bid"), col("bsig"))), "bid")
      .join(fetchSide(index.select(col("id").as("cid"), col("sig").as("csig"))), "cid")
      .filter(estJaccardCol(col("bsig"), col("csig")) >= threshold)
      .select("bid").distinct()
    // the kill list is BATCH-scale (every duplicate row id of a crawl
    // snapshot) — at 100 TB a batch is TB-sized, so this side is
    // pinned too
    batch.join(fetchSide(exactDup.union(nearDup).distinct()
        .withColumnRenamed("bid", idCol)),
      Seq(idCol), "left_anti")
  }

  /** Hash each band's slice of the signature → array<struct<band,hash>> input for posexplode. */
  private def split_bands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      // xxhash64 over (band index, the band's slots): one long per band
      xxhash64((slice(sig, b * rows + 1, lit(rows)) +: Seq(b)): _*))

  /**
   * Exact-Jaccard verification of candidate pairs (n-gram Jaccard
   * dedup): joins the candidates back to per-document DISTINCT
   * shingle-hash arrays (computed once per document, not re-tokenized
   * per pair) and evaluates |A∩B| / |A∪B| with codegen'd
   * array_intersect/size — the per-pair work is set intersection on
   * longs, no string processing. Joins are by id — broadcast-able when
   * the candidate set is small, shuffle-join otherwise. Semantics match
   * [[TextHash.exactJaccard]] including the both-empty → 1.0 case.
   */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, minJaccard: Double, shingleN: Int = 3): DataFrame = {
    val shingled = df.select(col(idCol), shinglesCol(col(textCol), shingleN).as("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    candidates
      .join(fetchSide(shingled.select(col(idCol).as("id_a"), col("sh").as("sh_a"))), "id_a")
      .join(fetchSide(shingled.select(col(idCol).as("id_b"), col("sh").as("sh_b"))), "id_b")
      .withColumn("jaccard", when(union === 0.0, 1.0).otherwise(inter / union))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_sim", "jaccard")
  }

  /**
   * EXACT n-gram-Jaccard near-duplicate pairs via prefix filtering
   * (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): under any global
   * total order over shingles, two sets with Jaccard >= θ MUST share
   * an element within their first |S| - ⌈θ·|S|⌉ + 1 ordered shingles —
   * so candidates generated by an equi-join on ONLY those prefix
   * shingles have recall exactly 1.0, provably, and the exact-Jaccard
   * verify makes the whole operator exact (which is why it can be
   * SQL-oracled, unlike the probabilistic-recall MinHash-LSH
   * candidates).
   *
   * Stop-shingle robustness: the global order is GLOBAL DOCUMENT
   * FREQUENCY ascending (ties by hash) — the canonical SSJoin ordering.
   * The prefix theorem holds for ANY total order, so recall stays 1.0;
   * choosing rare-first makes each document's prefix its RAREST
   * shingles, sinking corpus-wide stop-shingles into the suffix where
   * they generate no join keys. A corpus where every document shares a
   * hot shingle therefore yields O(true matches) candidates instead of
   * O(N²) (adversarial-corpus bound pinned in LlmOpsSpec). Two extra
   * thin shuffles pay for it: the (shingle → df) aggregate and the
   * per-doc reorder — both fixed-width rows, both map-side-combining.
   *
   * Candidates are additionally pruned by the PPJoin-style positional
   * bound: a common element at (1-based) rare-first positions p_a, p_b
   * caps the overlap at min(p_a,p_b) − 1 + 1 + min(n_a−p_a, n_b−p_b)
   * (everything strictly before the match on both sides, the match,
   * everything strictly after on the shorter remainder) — an upper
   * bound valid for ANY common element, so requiring it to reach the
   * equivalent-overlap threshold ⌈θ/(1+θ)·(n_a+n_b)⌉ never drops a
   * true pair.
   *
   * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= theta,
   *         over documents with a non-empty shingle set
   */
  def ngramPairsExact(df: DataFrame, idCol: String, textCol: String,
      theta: Double, shingleN: Int = 3): DataFrame = {
    val shingled = shingledOf(df, idCol, textCol, shingleN)
    val (cand, arrays) = ngramCandidatesAndArrays(shingled, theta)
    // verify against the df-ordered df>1 arrays, NOT a fresh
    // shingledOf: array_intersect is order-insensitive, df=1 elements
    // never intersect (see prefixOrdered), and `arrays` sits behind
    // the same per-doc aggregate exchange the candidate keys already
    // shuffled through, so Catalyst reuses that exchange instead of
    // re-tokenizing the corpus twice more for the two verify sides;
    // the true set sizes ride as the scalar n columns
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = (col("n_a") + col("n_b")).cast("double") - inter
    cand
      .join(NgramStrategy.fetch(arrays.select(col("id").as("id_a"),
        col("n").as("n_a"), col("sh").as("sh_a"))), "id_a")
      .join(NgramStrategy.fetch(arrays.select(col("id").as("id_b"),
        col("n").as("n_b"), col("sh").as("sh_b"))), "id_b")
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= theta)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** (id, sh): per-document distinct shingle-hash arrays, empties dropped. */
  private def shingledOf(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), shinglesCol(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Candidate (id_a, id_b) pairs for [[ngramPairsExact]] — exposed
    * package-private so the adversarial-corpus spec can assert the
    * candidate-count bound, not just end-to-end output. */
  private[operators] def ngramCandidates(df: DataFrame, idCol: String,
      textCol: String, theta: Double, shingleN: Int = 3): DataFrame =
    ngramCandidatesAndArrays(shingledOf(df, idCol, textCol, shingleN), theta)._1

  /** Candidates plus the df-ordered per-doc shingle arrays (id, sh) —
    * the arrays ride the same aggregate the prefix keys come from, so
    * a verify stage joining them reuses that exchange. */
  /**
   * Shared rare-first machinery for the prefix-filtered exact dedup
   * family ([[ngramPairsExact]], [[containmentPairsExact]]): per-doc
   * shingle structs in global-df-ascending order, the ulp-guarded
   * prefix length, and the (id, sh) verify arrays — one definition so
   * the ordering, the ceil guard, and the df=1 pruning can never
   * silently diverge between the two operators.
   */
  private final case class PrefixOrdered(ordered: DataFrame,
      prefixLen: Column, arrays: DataFrame) {
    /** Thin (id, n, p, g) join keys from the first `len` ordered
      * shingles (the FULL set when None — the containment B side).
      * df = 1 ⇒ the shingle exists in exactly ONE document corpus-wide
      * ⇒ its join bucket is a singleton and can never produce a pair:
      * dropping those keys loses NOTHING (any shared element has
      * df >= 2 by definition) and removes the bulk of the self-join
      * input — in a mostly-unique corpus the vast majority of prefix
      * shingles are df=1. Positions are reconstructed as n1 + j: the
      * df=1 elements sort FIRST under the (df, g) rare-first order, so
      * they occupy exactly positions 1..n1 and the j-th df>1 element
      * sits at n1 + j in the full order. */
    def keys(len: Option[Column]): DataFrame = {
      val base = ordered
        .select(col("id"), col("n"), col("n1"),
          posexplode(col("dg2")).as(Seq("j0", "dg")))
        .select(col("id"), col("n"),
          (col("n1") + col("j0") + 1).as("p"), col("dg.g").as("g"))
      len.map(l => base.filter(col("p") <= l)).getOrElse(base)
        .select("id", "n", "p", "g")
    }
  }

  private def prefixOrdered(shingled: DataFrame, theta: Double,
      strat: PrefixStrategy): PrefixOrdered = {
    require(theta > 0.0 && theta <= 1.0, s"theta=$theta outside (0, 1]")
    // global df per shingle, then each doc's shingles reordered
    // rare-first: sort_array over (df, g) structs — lexicographic on
    // field order, a deterministic TOTAL order (hash tie-break).
    // The true per-doc set size n is known BEFORE the explode
    // (size(sh) — shingle_array emits distinct hashes), so it rides
    // the exploded rows as one fixed-width long instead of being
    // re-counted downstream. That frees the df map to drop its df=1
    // entries AT THE SOURCE (round 10): a df=1 shingle exists in one
    // document corpus-wide — it can produce no candidate key and no
    // intersection element, and with n carried it no longer needs to
    // be counted per doc either. The inner join below then removes
    // the df=1 bulk (the vast majority in a mostly-unique corpus)
    // from the join OUTPUT and from the per-doc collect shuffle —
    // previously those rows rode the whole second shuffle just to be
    // counted into n1, which now derives as n − |dg2|. Measured
    // same-session A/B (BENCH_NOTES round-10): containment sf0.1
    // 1×/10× 1.73/8.41 → 1.37/6.38 s, ngram 1.47/7.86 → 1.29/4.15 s
    // (identical pair sets) — the 10× points, where the exploded
    // stream's heap debt lives (r9 driver recorded 0.66 s in-window
    // GC there), gain the most: −24% and −47%.
    // n rides as an INT (a doc's distinct-shingle count is far below
    // 2^31): the ngram probe side SORTS these rows for its
    // sort-merge join, so probe width is the one cost the n-carry
    // adds — 4 bytes beats 8. Widened back to long per-doc below.
    val ex = shingled.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    // Join/fetch physical pins stay STRATEGY-CHOSEN (see
    // PrefixStrategy); the aggregate itself collapsed to one
    // collect_list for both strategies once n stopped being an
    // aggregate output (the old 3-column vs derived-n layout split —
    // round-8 bisect — was about WHERE n was counted; n is now an
    // input column, so both branches share the thinnest possible
    // exchange, with max(n) a free rider on the per-doc aggregate).
    val grouped = ex.join(strat.fetch(dfreq), "g").groupBy("id")
    val ordered = grouped
      .agg(max(col("n")).cast("long").as("n"),
        sort_array(collect_list(struct(col("df"), col("g")))).as("dg2"))
      .withColumn("n1", col("n") - size(col("dg2")))
    // +1 beyond the theoretical |S| - ⌈θ|S|⌉ + 1: double ceil(θ·n) can
    // land one high when θ·n sits on an ulp boundary (0.2*5 →
    // 1.0000000000000002 → 2), which would SHORTEN the prefix and void
    // the recall guarantee; one extra key per document only adds
    // candidates, never loses any
    val prefixLen = (col("n")
      - ceil(lit(theta) * col("n")).cast("long") + 2L)
    // Verify arrays: the df>1 shingles plus the FULL set size as a
    // scalar — J = i/(n_a+n_b-i) and C = i/n_a come from the carried
    // counts, the intersection only ever touches df>1 elements.
    val arrays = ordered.select(col("id"), col("n"),
      transform(col("dg2"), x => x.getField("g")).as("sh"))
    PrefixOrdered(ordered, prefixLen, arrays)
  }

  private def ngramCandidatesAndArrays(shingled: DataFrame,
      theta: Double): (DataFrame, DataFrame) = {
    val po = prefixOrdered(shingled, theta, NgramStrategy)
    val keys = po.keys(Some(po.prefixLen))
    // equivalent-overlap threshold: J >= θ ⇔ |A∩B| >= θ/(1+θ)·(n_a+n_b)
    val alpha = lit(theta / (1.0 + theta)) * (col("n_a") + col("n_b"))
    val cand = keys.select(col("g"), col("id").as("id_a"), col("n").as("n_a"), col("p").as("p_a"))
      .join(NgramStrategy.candidate(keys.select(col("g").as("g_b"), col("id").as("id_b"),
          col("n").as("n_b"), col("p").as("p_b"))),
        col("g") === col("g_b") && col("id_a") < col("id_b") &&
          // length filter: J >= θ ⇒ min(|A|,|B|) >= θ·max(|A|,|B|).
          // -1e-6 slack: double θ·max can exceed the real product by an
          // ulp, which would prune a pair sitting exactly at J = θ; a
          // hair of extra admission only costs one verify
          least(col("n_a"), col("n_b")).cast("double") >=
            lit(theta) * greatest(col("n_a"), col("n_b")) - lit(1e-6) &&
          // positional filter (see scaladoc); same ulp slack
          (least(col("p_a"), col("p_b"))
            + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")))
            .cast("double") >= alpha - lit(1e-6))
      .select("id_a", "id_b").distinct()
    (cand, po.arrays)
  }

  /**
   * EXACT n-gram CONTAINMENT pairs via one-sided prefix filtering —
   * the asymmetric complement of [[ngramPairsExact]]: flags documents
   * whose shingle set is (near-)contained in another document's,
   * `C(A,B) = |A∩B| / |A| >= θ`, the screen for quotes, snippets and
   * boilerplate fragments that Jaccard misses when the containing
   * document is much longer (J = |A∩B|/|A∪B| shrinks with |B| while
   * containment does not).
   *
   * Candidate recall is provably 1.0: |A∩B| >= ⌈θ·|A|⌉ means at least
   * ⌈θ·|A|⌉ of A's elements match, so under ANY total order at least
   * one match sits within A's first |A| − ⌈θ·|A|⌉ + 1 elements — the
   * containee side joins only that prefix; the containER side must
   * offer its FULL set (any of B's elements can be the witness — the
   * asymmetry of the operator). The order is the same global-df
   * rare-first order ngramPairsExact uses, so corpus-wide stop
   * shingles sink out of containee prefixes and hot buckets pair a
   * near-empty prefix side against the full side — candidates stay
   * O(Σ_g prefixDf(g)·df(g)), not O(N²). The df=1 key drop and the
   * PPJoin positional bound (valid for any common element, demanded
   * against ⌈θ·n_a⌉) both carry over unchanged; the necessary size
   * condition min(n_a,n_b) >= θ·n_a prunes pairs whose container is
   * too small to hold the required overlap.
   *
   * @return (id_a, id_b, containment) — id_a's shingles θ-contained in
   *         id_b's, id_a != id_b (directed: both directions can hold),
   *         containment rounded to 4dp, over non-empty shingle sets
   */
  def containmentPairsExact(df: DataFrame, idCol: String, textCol: String,
      theta: Double, shingleN: Int = 3): DataFrame = {
    val po = prefixOrdered(shingledOf(df, idCol, textCol, shingleN), theta,
      ContainmentStrategy)
    val cand = containmentCandidatesFromPo(po, theta)
    val arrays = po.arrays
    // same df>1-restricted verify arrays as ngramPairsExact: inter is
    // exact, the containee's TRUE set size rides as n_a. Side B
    // re-checks the (already candidate-enforced, hence redundant)
    // container-size condition so that BOTH verify sides project the
    // identical (id, n, sh) shape — otherwise column pruning drops n_b,
    // the B-side aggregate diverges from the A-side's, and the arrays
    // subtree is computed twice instead of reused (same pruning trap
    // as prefixOrdered's derived n; the predicate costs two longs).
    //
    // This arrays shape was re-litigated in round 13 against the
    // inverted-index alternative the SSJoin literature suggests (and
    // the round-12 verdict asked about): counting the overlap via a
    // thin (id_b, g) key join instead of shipping sh_a per candidate
    // pair. Measured same-binary A/B at sf0.1 (BENCH_NOTES round 13,
    // identical pair sets asserted): the key join is 1.9× SLOWER (18.2 vs 9.5 s at
    // 10×) and ships 2.1× MORE shuffle bytes (1158 vs 542 MB) — the
    // per-pair containee keys explode to Σ_pairs n_a ≈ 50M 32-byte
    // rows, where this shape ships the same elements as ONE 8-byte-
    // packed array row per pair, and the container side never ships
    // per pair at all (it is the [[fetchSide]] hash build, corpus-sized
    // once). Decomposition (BENCH_NOTES round 13): the
    // whole verify stage is 0.7 s of the 5.9 s 10× pipeline — the cost
    // center is the candidate machinery, which BENCH_NOTES round 13
    // shows is spread evenly across its information-bearing stages.
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    cand
      .join(ContainmentStrategy.fetch(arrays.select(col("id").as("id_a"),
        col("n").as("n_a"), col("sh").as("sh_a"))), "id_a")
      .join(ContainmentStrategy.fetch(arrays.select(col("id").as("id_b"),
        col("n").as("n_b"), col("sh").as("sh_b"))), "id_b")
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(theta) * col("n_a") - lit(1e-6))
      .withColumn("containment", inter / col("n_a"))
      .filter(col("containment") >= theta)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
  }

  /** Candidate (id_a, id_b) pairs for [[containmentPairsExact]] —
    * public like the other candidate-set observability APIs
    * ([[minhashCandidates]], [[semDeDupCandidates]]) so a deployment
    * can gate on candidate cardinality; also consumed by the
    * adversarial-corpus spec and the bench's count-based scale gate. */
  def containmentCandidates(df: DataFrame, idCol: String,
      textCol: String, theta: Double, shingleN: Int = 3): DataFrame =
    containmentCandidatesFromPo(
      prefixOrdered(shingledOf(df, idCol, textCol, shingleN), theta,
        ContainmentStrategy), theta)

  private def containmentCandidatesFromPo(po: PrefixOrdered,
      theta: Double): DataFrame = {
    val aKeys = po.keys(Some(po.prefixLen))
    val bKeys = po.keys(None)
    // the verify accepts overlap/n_a >= θ, i.e. overlap >= θ·n_a as a
    // raw double product — the bound here must never exceed the
    // smallest overlap the verify accepts, so NO ceil (ceil(θ·n_a) can
    // land a full integer above θ·n_a when the product rounds up, e.g.
    // θ=0.55, n=100 → 56 > 55, and 1e-6 of slack cannot absorb an
    // integer jump; a true boundary pair would be pruned and the
    // recall-1.0 contract broken). Same raw-product + ulp-slack
    // discipline as the Jaccard form's alpha.
    val minOverlap = lit(theta) * col("n_a")
    val cand = aKeys.select(col("g"), col("id").as("id_a"),
        col("n").as("n_a"), col("p").as("p_a"))
      .join(ContainmentStrategy.candidate(bKeys.select(col("g").as("g_b"), col("id").as("id_b"),
          col("n").as("n_b"), col("p").as("p_b"))),
        col("g") === col("g_b") && col("id_a") =!= col("id_b") &&
          // container must be large enough to hold the overlap; same
          // ulp slack discipline as the Jaccard form
          least(col("n_a"), col("n_b")).cast("double") >=
            lit(theta) * col("n_a") - lit(1e-6) &&
          // positional overlap upper bound (valid for ANY common element)
          (least(col("p_a"), col("p_b"))
            + least(col("n_a") - col("p_a"), col("n_b") - col("p_b")))
            .cast("double") >= minOverlap - lit(1e-6))
      .select("id_a", "id_b").distinct()
    cand
  }

  /**
   * Embedding-cosine near-duplicate pairs, the 100-TB path: multi-table
   * sign-random-projection LSH generates candidates (equi-join on
   * (table, bucket) — the corpus shuffles once per table, never an
   * all-pairs join), then every candidate pair is verified with the
   * exact double-precision cosine. `tables` independent plane families
   * drive recall: a pair at cosine c agrees with one `planes`-bit code
   * with probability (1 - acos(c)/π)^planes, and is a candidate if ANY
   * of the `tables` codes match — identical vectors always collide, so
   * exact duplicates have recall 1.0 by construction.
   *
   * @return (id_a, id_b, cos) with id_a < id_b and cos >= minCosine
   */
  def embeddingPairs(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double, planes: Int = 8, tables: Int = 4, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Similarity.deriveDim(df, embCol)
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    val codes = (0 until tables).map(t =>
      struct(lit(t).as("tbl"), Similarity.srpBucket(col("emb"), planes, d, table = t).as("bkt")))
    // thin candidate rows (tbl, bkt, id) — embeddings are the widest
    // payload in the pipeline (dim×4 bytes); they re-join by id after
    // the candidate set is distinct, crossing the wire twice instead of
    // `tables`× (same shape as minhashPairs, see there)
    val bucketed = base.select(col("id"), explode(array(codes: _*)).as("c"))
      .select(col("id"), col("c.tbl").as("tbl"), col("c.bkt").as("bkt"))
    val cand = bucketed.select(col("tbl"), col("bkt"), col("id").as("id_a"))
      .join(corpusSide(bucketed.select(col("tbl").as("tbl_b"), col("bkt").as("bkt_b"),
          col("id").as("id_b"))),
        col("tbl") === col("tbl_b") && col("bkt") === col("bkt_b") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(fetchSide(base.select(col("id").as("id_a"), col("emb").as("emb_a"))), "id_a")
      .join(fetchSide(base.select(col("id").as("id_b"), col("emb").as("emb_b"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 4).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /**
   * Exact (all-pairs) embedding-cosine near-dup baseline — quadratic by
   * definition; exists to verify [[embeddingPairs]] and as the oracle
   * anchor, NOT for large corpora (use the LSH form at scale).
   */
  def embeddingPairsExact(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= minCosine)
      .select("id_a", "id_b", "cos")
  }

  /**
   * SimHash near-dup candidates: 64-bit fingerprints bucketed by
   * `maxHamming + 1` disjoint bit slices — the pigeonhole guarantee
   * that any pair within the requested hamming distance shares at
   * least one identical slice requires one MORE slice than the
   * distance, so the slice count adapts to `maxHamming`. Verified by
   * full hamming distance after the bucket join. Same join shape as
   * MinHash-LSH: shuffle on (slice index, slice key). Higher
   * maxHamming → narrower slices → coarser buckets → more candidates
   * to verify; capped at 15 (4-bit slices) before buckets degenerate.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming outside [0, 15]: the slice guarantee needs " +
        "maxHamming+1 slices of >= 4 bits each")
    val nSlices = maxHamming + 1
    val width = 64 / nSlices // last slice absorbs the remainder bits
    val fps = df.select(col(idCol).as("id"), simhashCol(col(textCol)).as("fp"))
    val slices = (0 until nSlices).map { i =>
      val bits = if (i == nSlices - 1) 64 - i * width else width
      val mask = if (bits >= 64) -1L else (1L << bits) - 1L
      struct(lit(i).as("slice"),
        shiftrightunsigned(col("fp"), i * width).bitwiseAND(lit(mask)).as("key"))
    }
    val sliced = fps.select(col("id"), col("fp"), explode(array(slices: _*)).as("s"))
      .select(col("id"), col("fp"), col("s.slice").as("slice"), col("s.key").as("key"))
    val l = sliced.select(col("slice"), col("key"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = sliced.select(col("slice").as("slice_b"), col("key").as("key_b"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    // hamming per collision, then hash-agg collapse (same pattern as
    // minhashPairs: tiny shuffle rows, map-side combine of multi-slice
    // collisions). Unconditional shuffle-merge (r14): same bypass A/B
    // as minhash — 0.55 s bypass-on vs 0.48 pinned at sf0.1, and the
    // pinned shape is the at-scale plan.
    l.join(r.hint("shuffle_merge"), col("slice") === col("slice_b") && col("key") === col("key_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingCol(col("fp_a"), col("fp_b")).as("pair_ham"))
      .groupBy("id_a", "id_b")
      .agg(min(col("pair_ham")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /**
   * EXACT duplicated-span removal (sub-document dedup, the Lee et al.
   * 2022 "Deduplicating Training Data Makes Language Models Better"
   * ExactSubstr stage re-expressed relationally): every document is
   * chunked into consecutive non-overlapping `w`-token segments, and a
   * segment occurrence survives iff it is the corpus-wide FIRST
   * occurrence of that token sequence (min (doc_id, seg_idx) order) —
   * so every span of text appears exactly once in the cleaned corpus,
   * while document-level dedup (minhashPairs et al.) would keep both
   * halves of two documents that share only a paragraph.
   *
   * Deterministic and integer/string-exact end to end (tokenize, chunk,
   * min-struct, reassemble), hence SQL-oracle-able with no float
   * regime. Scale shape: two thin shuffles — (segment → min occurrence)
   * is a partial-aggregating hash aggregate + equi-join on the segment
   * text (skew-robust: a mega-frequent span still map-side-combines to
   * one row per partition), then a (doc_id) aggregate to reassemble.
   * Nothing touches the driver.
   *
   * @param w segment width in tokens; the final partial segment
   *          (< w tokens) is kept as its own span
   * @return (doc_id, n_seg, n_kept, cleaned_text) — counts of total and
   *         surviving segments plus the reassembled text (surviving
   *         segments in original order, space-joined; "" when every
   *         segment of the document occurred earlier elsewhere).
   *         Documents with zero tokens are dropped (no spans to judge).
   */
  def spanDedup(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"segment width w=$w must be >= 1")
    val toks = df.select(col(idCol).as("doc_id"),
      filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "").as("ws"))
      .filter(size(col("ws")) > 0)
    // ceil(n/w) segments; slice() is 1-based. sequence() would descend
    // for an empty range, but size>0 guarantees >= 1 segment. `/` on
    // integral columns is DOUBLE division in Spark SQL — exact here
    // (counts << 2^53), floor makes it the integral ceil-divide.
    val nSeg = floor((size(col("ws")) + lit(w - 1)) / lit(w)).cast("int")
    val segs = toks
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nSeg - 1),
        i => array_join(slice(col("ws"), i * w + 1, lit(w)), " "))))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    // corpus-wide first occurrence per distinct segment text
    val firsts = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
    val kept = segs.join(fetchSide(firsts), "seg")
      .filter(col("doc_id") === col("first.doc_id") &&
        col("seg_idx") === col("first.seg_idx"))
    // n_seg straight off the token arrays (r14): the segment generator
    // emits exactly nSeg rows per document by construction, so counting
    // them back out of a THIRD tokenize+explode pass (the old
    // segs.groupBy(doc_id).count() over the exploded segment TEXT rows)
    // bought nothing — the per-doc count is the same nSeg expression
    // evaluated before any explode. The aggregate stays (it is what
    // merges a duplicate doc_id's rows, same as before) but now
    // map-side-combines thin (doc_id, int) rows instead of shuffling
    // per-segment text rows. Value-identical by construction
    // (oracle-checked; the wl spans instrument sums this column).
    val base = toks.select(col("doc_id"), nSeg.cast("long").as("ns"))
      .groupBy("doc_id").agg(sum(col("ns")).as("n_seg"))
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
        s => s.getField("seg")), " ").as("cleaned_text"))
    base.join(fetchSide(reassembled), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_seg"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
   * deduplication by cluster-then-prune. The corpus is partitioned by
   * a coarse quantizer; WITHIN each cluster, rows are ranked by
   * cosine-to-cluster-centroid ascending (the paper keeps the LEAST
   * prototypical member of a duplicate group — it carries the most
   * diversity into training), ties by id; a row is dropped iff ANY
   * earlier-ranked row of its cluster is >= eps cosine-similar (the
   * paper's upper-triangular max-similarity rule — the earlier row
   * need not itself survive).
   *
   * The clustering is the whole scale story: the quadratic compare is
   * bounded to O(Σ cᵢ²) instead of O(N²), and at 100 TB you pick
   * nlist so cᵢ ≈ N/nlist keeps each cluster's pair count tractable
   * (the paper runs 50k clusters over LAION-440M). Plan shape: one
   * broadcast of the (cluster → centroid) table, one shuffle of the
   * corpus on the cluster key for the self-join, hash-agg collapse of
   * dropped ids — no crossJoin, no driver collect.
   *
   * The quantizer is pluggable via `clusterCol`: a provided column
   * (deterministic — the oracle gate uses the harness label, mirroring
   * the paper's "pre-assigned clusters" ablation) or
   * [[semDeDupKMeans]] (the learned coarse quantizer, spec-tested —
   * cross-engine KMeans is not oracle-able). Per-cluster centroids use
   * the [[Similarity.labelCentroids]] fixed-point regime: exact
   * integer accumulation + one IEEE division, so cent_sim is engine-
   * and partitioning-independent before the 4dp output rounding.
   *
   * @return (id, cluster, cent_sim, kept) — one row per input row;
   *         kept=false means an earlier-ranked >= eps neighbour exists
   */
  def semDeDup(df: DataFrame, idCol: String, embCol: String,
      clusterCol: String, eps: Double): DataFrame = {
    require(eps > 0.0 && eps <= 1.0, s"eps=$eps outside (0, 1]")
    val withSim = semDeDupWithSim(df, idCol, embCol, clusterCol)
    val dropped = semDeDupRankPairs(withSim)
      .filter(round(Similarity.cosine(col("emb_a"), col("emb_b")), 4) >= eps)
      .select(col("id_a").as("id")).distinct()
    withSim.join(fetchSide(dropped.withColumn("hit", lit(true))), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_sim"),
        col("hit").isNull.as("kept"))
  }

  /** The within-cluster rank-ordered pairs [[semDeDup]] verifies with
    * an exact cosine — every (a, b) in one cluster with b ranked
    * strictly before a (4dp cent_sim rank, id tiebreak). Pre-eps-
    * filter: this join's cardinality IS the algorithm's by-design
    * O(Σ cᵢ²) work, extracted so the candidate-count instrument
    * shares the exact measured pipeline. */
  private def semDeDupRankPairs(withSim: DataFrame): DataFrame = {
    val l = withSim.select(col("cluster").as("cl_a"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("cent_sim").as("cs_a"))
    val r = withSim.select(col("cluster").as("cl_b"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("cent_sim").as("cs_b"))
    // BOTH sides pinned shuffle_hash (r14 — the same corpus-vs-corpus
    // discipline as Similarity.probedPairs): both sides ARE the corpus,
    // so under the old corpusSide small-leaf bypass Catalyst broadcast
    // one side and streamed the raw scan — collapsing the Σcᵢ² pair
    // scoring onto the scan's few input splits (measured same-session
    // at sf0.1: 1×/10× 1.24/3.23 s → 0.79/2.16 s pinned, identical
    // verdicts). Hash, not merge (2.37 s), for fetchSide's reason: the
    // stream side rows carry the wide emb payload a sort would move
    // twice. Build memory per task is |corpus|/shuffle.partitions and
    // per-cluster skew is bounded by the algorithm's own cᵢ bound
    // (nlist ∝ N keeps cluster sizes constant).
    l.hint("shuffle_hash").join(r.hint("shuffle_hash"),
      col("cl_a") === col("cl_b") &&
      (col("cs_b") < col("cs_a") ||
        (col("cs_b") === col("cs_a") && col("id_b") < col("id_a"))))
  }

  /**
   * The (id_a, id_b) candidate pairs [[semDeDup]] scores — the
   * SemDeDup workload-count instrument (Bench's `wl` gate). Drops are
   * the WRONG sweep instrument on the natural corpus (it has zero
   * ≥eps pairs at eps 0.85-0.95 — the 100× cert INJECTS duplicates to
   * count them; BENCH_NOTES round 9); the rank-join cardinality is
   * the quantity a degenerate clustering explodes, and it is nonzero
   * on any multi-row cluster. Deterministic (fixed-point centroids,
   * 4dp-rounded ranks) and exactly Σ cᵢ·(cᵢ−1)/2 over cluster sizes —
   * linear under the paper's own nlist ∝ N knob. Built from the same
   * stages as [[semDeDup]] so the instrument cannot drift from the
   * plan (the [[minhashCandidates]] discipline).
   */
  def semDeDupCandidates(df: DataFrame, idCol: String, embCol: String,
      clusterCol: String): DataFrame =
    semDeDupRankPairs(semDeDupWithSim(df, idCol, embCol, clusterCol))
      .select("id_a", "id_b")

  /** [[semDeDup]]'s ranked rows: (id, emb, cluster, cent_sim) with
    * the centroid similarity. 4dp rounding BEFORE the rank compare:
    * the rank must be a total order both engines agree on, and raw
    * last-ulp differences in the centroid dot product would make
    * "cs_b < cs_a" flip between engines; at 4dp the compare is exact
    * (same regime as every other embedding oracle here), ties broken
    * by id. Shared by [[semDeDup]] and [[semDeDupCandidates]]. */
  private def semDeDupWithSim(df: DataFrame, idCol: String, embCol: String,
      clusterCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      col(clusterCol).as("cluster"))
    val cents = Similarity.labelCentroids(base, "emb", "cluster")
      .groupBy(col("label").as("c_cluster"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean))), x -> x.mean)")
        .as("cent"))
    base.join(broadcast(cents), col("cluster") === col("c_cluster"))
      .withColumn("cent_sim",
        round(Similarity.cosine(col("emb"), col("cent")), 4))
      .select(col("id"), col("emb"), col("cluster"), col("cent_sim"))
  }

  /**
   * [[semDeDup]] with a learned coarse quantizer: cluster assignment
   * from [[Similarity.buildIvfIndex]]'s seeded KMeans (the same index
   * artifact the ANN path persists — one fit serves both dedup and
   * search), then the identical rank-and-prune. Exact duplicates
   * always land in the same cell (assignment is a deterministic
   * function of the vector), so duplicate recall is 1.0 regardless of
   * fit quality; only the cluster BOUNDARIES are fit-dependent, which
   * is why this variant is spec-tested rather than SQL-oracled.
   */
  def semDeDupKMeans(df: DataFrame, idCol: String, embCol: String,
      nlist: Int, eps: Double, trainFraction: Double = 1.0): DataFrame = {
    val (cells, _) = Similarity.buildIvfIndex(
      df.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      nlist, trainFraction)
    semDeDup(cells, "vec_id", "embedding", "cell", eps)
  }

  /**
   * Persistable SemDeDup index: the surviving representatives with
   * their cluster, centroid similarity and EMBEDDING, plus the
   * fixed-point centroid routing table — everything a later batch
   * needs to dedup against the accumulated corpus without re-reading
   * it (the semantic counterpart of [[dedupIndex]]; both are plain
   * DataFrames, so a pipeline writes them to native tables once per
   * snapshot and serves forever).
   *
   * @return (reps, cents): reps = (id, emb, cluster, cent_sim) of
   *         KEPT rows only; cents = (cluster, cent)
   */
  def semDeDupIndex(df: DataFrame, idCol: String, embCol: String,
      clusterCol: String, eps: Double): (DataFrame, DataFrame) = {
    val reps = semDeDup(df, idCol, embCol, clusterCol, eps)
      .filter(col("kept"))
      .join(fetchSide(df.select(col(idCol).as("id"), col(embCol).as("emb"))), "id")
      .select("id", "emb", "cluster", "cent_sim")
    val cents = Similarity.labelCentroids(
        df.select(col(idCol).as("id"), col(embCol).as("emb"),
          col(clusterCol).as("cluster")), "emb", "cluster")
      .groupBy(col("label").as("cluster"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean))), x -> x.mean)")
        .as("cent"))
    (reps, cents)
  }

  /**
   * Incremental SemDeDup: a NEW batch dedups against the accumulated
   * corpus through its persisted [[semDeDupIndex]] alone — the corpus
   * embeddings are never re-read beyond the kept representatives, and
   * the centroids are NOT refit (batch cent_sim is measured against
   * the index's routing table, so verdicts are stable as the corpus
   * grows). A batch row dies iff a kept representative of its cluster
   * is >= eps similar (every index row ranks before every batch row),
   * or an earlier-ranked batch row is ([[semDeDup]]'s within-set
   * rule). Versus a full recompute this is the standard incremental
   * approximation: rows the index build DROPPED can no longer kill —
   * only representatives do.
   *
   * Same scale shape as the batch form: centroids broadcast, one
   * shuffle of (batch ∪ reps) on the cluster key, verdicts as thin
   * id rows.
   *
   * @return (id, cluster, cent_sim, kept) — one row per batch row
   */
  def semDeDupSurvivors(reps: DataFrame, cents: DataFrame,
      batch: DataFrame, idCol: String, embCol: String,
      clusterCol: String, eps: Double): DataFrame = {
    require(eps > 0.0 && eps <= 1.0, s"eps=$eps outside (0, 1]")
    val withSim = batch
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        col(clusterCol).as("cluster"))
      .join(broadcast(cents), Seq("cluster"))
      .withColumn("cent_sim",
        round(Similarity.cosine(col("emb"), col("cent")), 4))
      .select(col("id"), col("emb"), col("cluster"), col("cent_sim"))
    // same shuffle_hash pins as [[semDeDupRankPairs]] (r14): both
    // sides of each cluster-key join are batch/reps-scale with wide
    // emb payloads — the small-leaf bypass let the pair scoring
    // collapse onto the raw scan's input splits
    val repHit = withSim.hint("shuffle_hash")
      .join(reps.select(col("cluster"), col("emb").as("emb_r"))
        .hint("shuffle_hash"), Seq("cluster"))
      .filter(round(Similarity.cosine(col("emb"), col("emb_r")), 4) >= eps)
      .select("id")
    val l = withSim.select(col("cluster").as("cl_a"), col("id").as("id_a"),
      col("emb").as("emb_a"), col("cent_sim").as("cs_a"))
    val r = withSim.select(col("cluster").as("cl_b"), col("id").as("id_b"),
      col("emb").as("emb_b"), col("cent_sim").as("cs_b"))
    val batchHit = l.hint("shuffle_hash").join(r.hint("shuffle_hash"),
        col("cl_a") === col("cl_b") &&
        (col("cs_b") < col("cs_a") ||
          (col("cs_b") === col("cs_a") && col("id_b") < col("id_a"))))
      .filter(round(Similarity.cosine(col("emb_a"), col("emb_b")), 4) >= eps)
      .select(col("id_a").as("id"))
    val dropped = repHit.union(batchHit).distinct().withColumn("hit", lit(true))
    withSim.join(fetchSide(dropped), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_sim"),
        col("hit").isNull.as("kept"))
  }
}
