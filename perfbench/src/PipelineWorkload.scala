package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupClusters, Similarity}

/**
 * `pipeline`: the LLM-data path over native files. Documents with
 * planted near-duplicate clusters go through `Dedup.minhashPairs` then
 * `DedupClusters.keepList`; clustered `Array(Float32)` embeddings go
 * through `Similarity.knnGraph`. Operators and the shuffle under them
 * dominate; the scan is a small share. Every planted pair must be
 * found, the kept count must be exact, and kNN recall on a fixed
 * sample must reach [[PipelineWorkload.RecallFloor]] against an exact
 * top-k the generator computes.
 */
final class PipelineWorkload(ctx: Ctx, docs: Int, vectors: Int) extends Workload {
  import PipelineWorkload._
  val name = "pipeline"
  private val spark = ctx.spark
  private val docsDir = ctx.dir("pipeline_docs")
  private val vecDir = ctx.dir("pipeline_vectors")
  private var corpus: Gen.Corpus = _
  private var truth: Map[Long, Set[Long]] = _
  private var knnEdges = 0

  def setup(): Unit = {
    corpus = Gen.corpus(ctx.seed, docs, docs / 20)
    Gen.corpusFrame(spark, corpus).repartition(ctx.cores).write.format("clickhouse_native").mode("overwrite")
      .save(docsDir)
    val vecs = Gen.embeddings(ctx.seed, vectors, Dim, Cells)
    Gen.embeddingFrame(spark, vecs).repartition(ctx.cores).write.format("clickhouse_native").mode("overwrite")
      .save(vecDir)
    truth = (0 until Sample).map { s =>
      val q = (Gen.h(ctx.seed, s, 50) % vectors).toInt
      q.toLong -> Gen.exactTopK(vecs, q, K).toSet
    }.toMap
  }

  private def readDocs: DataFrame = spark.read.format("clickhouse_native").load(docsDir)
  private def readVectors: DataFrame = spark.read.format("clickhouse_native").load(vecDir)

  /**
   * The vectors, read from the native files and materialized. Spark ML's
   * KMeans (inside `knnGraph`) fails when fed a `clickhouse_native` scan
   * directly ("Stream closed" in the row reader), so the scan is forced
   * into a local checkpoint first; the read stays inside the op.
   */
  private def vectors(): DataFrame = ctx.tracer.span("native_read.vectors")(
    readVectors.localCheckpoint())

  def op(i: Int): OpResult = {
    val t = ctx.tracer
    val d = readDocs
    val pairs = t.span("operators.minhash")(
      Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5).select("id_a", "id_b").cache())
    try {
      val found = t.span("operators.minhash")(pairs.collect())
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Check.equal("minhash pairs", found, corpus.plantedPairs)
      val kept = t.span("operators.keeplist")(
        DedupClusters.keepList(d, "doc_id", pairs).filter(col("keep")).count())
      Check.equal("kept documents", kept, corpus.expectedKept)
    } finally pairs.unpersist(blocking = false)
    val edges = t.span("operators.knn") {
      Similarity.knnGraph(vectors(), K, nlist = Cells, nprobe = Probes)
        .select("q_id", "vec_id").collect()
    }
    knnEdges = edges.length
    val got = edges.filter(r => truth.contains(r.getLong(0))).groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = truth.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size }.sum
    val recall = hits.toDouble / truth.values.map(_.size).sum
    Check.that(f"knn recall $recall%.3f below floor $RecallFloor", recall >= RecallFloor)
    OpResult(docs.toLong + vectors, "pipeline")
  }

  def bytesPerRow: Double =
    (Files.bytes(docsDir, Files.isTableFile) + Files.bytes(vecDir, Files.isTableFile)).toDouble /
      (docs + vectors)

  private def probes: Seq[(String, Metric)] = {
    def timed(f: => Unit): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
    val minhashCand = Dedup.minhashCandidates(readDocs, "doc_id", "text").count()
    val minhashPairs = corpus.plantedPairs.size.toLong
    val knnCand = Similarity.knnGraphCandidates(vectors(), nlist = Cells, nprobe = Probes).count()
    Seq(
      "native_read.docs_ms" -> Metric(timed(ctx.drain(readDocs)), "ms"),
      "native_read.vectors_ms" -> Metric(timed(ctx.drain(readVectors)), "ms"),
      "operators.minhash_candidates" -> Metric(minhashCand.toDouble, "count"),
      "operators.minhash_pairs" -> Metric(minhashPairs.toDouble, "count"),
      "operators.minhash_yield" -> Metric(minhashPairs.toDouble / minhashCand, "ratio"),
      "operators.knn_candidates" -> Metric(knnCand.toDouble, "count"),
      "operators.knn_edges" -> Metric(knnEdges.toDouble, "count"),
      "operators.knn_yield" -> Metric(knnEdges.toDouble / knnCand, "ratio"))
  }

  def layerMetrics(t: Tracer): Seq[(String, Metric)] = {
    val ops = t.named(name, "pipeline.op")
    def perOp(span: String) = ops.map(o => t.subtree(o).filter(_.name == span).map(_.ms).sum)
    val tasks = ops.map(o => t.tasksOf(t.jobsOf(o)))
    val stages = ops.map(o => t.jobsOf(o).flatMap(_.stages).distinct.size.toDouble)
    probes ++ Seq(
      "operators.minhash_ms" -> Metric(Stats.median(perOp("operators.minhash")), "ms"),
      "operators.keeplist_ms" -> Metric(Stats.median(perOp("operators.keeplist")), "ms"),
      "operators.knn_ms" -> Metric(Stats.median(perOp("operators.knn")), "ms"),
      "exchange.shuffle_bytes" -> Metric(Stats.median(tasks.map(_.map(_.shuffleBytes.toDouble).sum)), "B"),
      "exchange.shuffle_records" -> Metric(Stats.median(tasks.map(_.map(_.shuffleRecords.toDouble).sum)),
        "count"),
      "exchange.stages" -> Metric(Stats.median(stages), "count"),
      "exchange.tasks" -> Metric(Stats.median(tasks.map(_.size.toDouble)), "count"))
  }
}

object PipelineWorkload {
  val Dim = 32
  val Cells = 16
  val Probes = 2
  val K = 5
  val Sample = 20
  val RecallFloor = 0.9
}
