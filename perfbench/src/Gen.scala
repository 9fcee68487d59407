package perfbench

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded input generators. Every value is a pure function of
 * (seed, row index, column), so the expected results the workloads
 * check against are computed here, by plain Scala loops over the same
 * functions, never by the engine under test.
 */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Non-negative hash of (seed, index, column). */
  def h(seed: Long, i: Long, c: Int): Long = mix(mix(seed * 1000003L + c) + i) & Long.MaxValue

  // ------------------------------------------------------------------
  // lineitem-shaped rows (scan, lookup, ingest)
  // ------------------------------------------------------------------

  object Lineitem {
    private val Flags = Array("A", "N", "R")
    private val Status = Array("O", "F")
    private val Instr = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
    private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
    private val Words = Array("carefully", "final", "deposits", "sleep", "furiously", "quick",
      "ironic", "pending", "packages", "accounts", "blithely", "express", "regular",
      "requests", "bold", "theodolites")

    val fields: Seq[StructField] = Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_partkey", LongType, nullable = false),
      StructField("l_suppkey", LongType, nullable = false),
      StructField("l_linenumber", IntegerType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false),
      StructField("l_discount", DoubleType, nullable = false),
      StructField("l_tax", DoubleType, nullable = false),
      StructField("l_returnflag", StringType, nullable = false),
      StructField("l_linestatus", StringType, nullable = false),
      StructField("l_shipdate", DateType, nullable = false),
      StructField("l_commitdate", DateType, nullable = false),
      StructField("l_receiptdate", DateType, nullable = false),
      StructField("l_shipinstruct", StringType, nullable = false),
      StructField("l_shipmode", StringType, nullable = false),
      StructField("l_comment", StringType, nullable = false))
    val schema: StructType = StructType(fields)
    /** ClickHouse column types of [[fields]], as the remote server sends them. */
    val chTypes: Seq[String] = Seq("Int64", "Int64", "Int64", "Int32", "Float64", "Float64",
      "Float64", "Float64", "String", "String", "Date32", "Date32", "Date32", "String",
      "String", "String")

    def orderkey(i: Long): Long = i / 4 + 1
    def partkey(s: Long, i: Long): Long = 1 + h(s, i, 1) % 200000
    def suppkey(s: Long, i: Long): Long = 1 + h(s, i, 2) % 10000
    def linenumber(i: Long): Int = (i % 4).toInt + 1
    def quantity(s: Long, i: Long): Double = (1 + h(s, i, 4) % 50).toDouble
    def price(s: Long, i: Long): Double = (90000 + h(s, i, 5) % 10400000) / 100.0
    def discount(s: Long, i: Long): Double = (h(s, i, 6) % 11) / 100.0
    def tax(s: Long, i: Long): Double = (h(s, i, 7) % 9) / 100.0
    def flag(s: Long, i: Long): String = Flags((h(s, i, 8) % 3).toInt)
    def status(s: Long, i: Long): String = Status((h(s, i, 9) % 2).toInt)
    def shipdate(s: Long, i: Long): Int = 8035 + (h(s, i, 10) % 2526).toInt
    def commitdate(s: Long, i: Long): Int = shipdate(s, i) - 30 + (h(s, i, 11) % 61).toInt
    def receiptdate(s: Long, i: Long): Int = shipdate(s, i) + 1 + (h(s, i, 12) % 30).toInt
    def instruct(s: Long, i: Long): String = Instr((h(s, i, 13) % 4).toInt)
    def mode(s: Long, i: Long): String = Modes((h(s, i, 14) % 7).toInt)
    def comment(s: Long, i: Long): String = {
      val r = h(s, i, 15)
      val n = 2 + (r % 5).toInt
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(Words(((r >>> (4 + 4 * w)) & 15).toInt))
        w += 1
      }
      sb.toString
    }

    def values(s: Long, i: Long): Array[Any] = Array(
      orderkey(i), partkey(s, i), suppkey(s, i), linenumber(i), quantity(s, i), price(s, i),
      discount(s, i), tax(s, i), flag(s, i), status(s, i), shipdate(s, i), commitdate(s, i),
      receiptdate(s, i), instruct(s, i), mode(s, i), comment(s, i))

    def row(s: Long, i: Long): Row = {
      val v = values(s, i)
      var c = 10
      while (c <= 12) { v(c) = LocalDate.ofEpochDay(v(c).asInstanceOf[Int].toLong); c += 1 }
      Row.fromSeq(v.toSeq)
    }

    /** Rows [from, until) as a distributed DataFrame, one partition per `parts`. */
    def frame(spark: SparkSession, s: Long, from: Long, until: Long, parts: Int): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.range(from, until, 1, parts).map(i => row(s, i)), schema)

    /** The same rows as a local relation: writing it scans nothing. */
    def local(spark: SparkSession, s: Long, from: Long, until: Long,
        extra: Option[(StructField, Any)] = None): DataFrame = {
      val rows = new java.util.ArrayList[Row]((until - from).toInt)
      var i = from
      while (i < until) {
        val r = row(s, i)
        rows.add(extra.fold(r)(e => Row.fromSeq(r.toSeq :+ e._2)))
        i += 1
      }
      spark.createDataFrame(rows, extra.fold(schema)(e => schema.add(e._1)))
    }

    /** Full-column aggregates: every column is decoded to answer them. */
    val aggregates: Seq[Column] = Seq(
      count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
      sum("l_linenumber"), sum("l_quantity"), sum("l_extendedprice"), sum("l_discount"),
      sum("l_tax"), sum(length(col("l_returnflag"))), sum(length(col("l_linestatus"))),
      sum(unix_date(col("l_shipdate"))), sum(unix_date(col("l_commitdate"))),
      sum(unix_date(col("l_receiptdate"))), sum(length(col("l_shipinstruct"))),
      sum(length(col("l_shipmode"))), sum(length(col("l_comment"))))
  }

  /** Expected values of [[Lineitem.aggregates]], accumulated row by row. */
  final class LineitemSums {
    val longs = new Array[Long](13) // count, 3 keys, linenumber, 2 flag lens, 3 dates, 3 string lens
    val doubles = new Array[Double](4)

    def add(s: Long, i: Long): Unit = {
      import Lineitem._
      longs(0) += 1; longs(1) += orderkey(i); longs(2) += partkey(s, i)
      longs(3) += suppkey(s, i); longs(4) += linenumber(i)
      doubles(0) += quantity(s, i); doubles(1) += price(s, i)
      doubles(2) += discount(s, i); doubles(3) += tax(s, i)
      longs(5) += flag(s, i).length; longs(6) += status(s, i).length
      longs(7) += shipdate(s, i); longs(8) += commitdate(s, i); longs(9) += receiptdate(s, i)
      longs(10) += instruct(s, i).length; longs(11) += mode(s, i).length
      longs(12) += comment(s, i).length
    }

    /** Throws [[Mismatch]] unless `r` (the row of [[Lineitem.aggregates]]) matches. */
    def check(what: String, r: Row): Unit = {
      val longAt = Seq(0, 1, 2, 3, 4, 9, 10, 11, 12, 13, 14, 15, 16)
      longAt.zipWithIndex.foreach { case (c, k) =>
        Check.equal(s"$what col $c", r.getLong(c), longs(k))
      }
      (5 to 8).zipWithIndex.foreach { case (c, k) =>
        Check.near(s"$what col $c", r.getDouble(c), doubles(k))
      }
    }
  }

  def lineitemSums(s: Long, from: Long, until: Long): LineitemSums = {
    val sums = new LineitemSums
    var i = from
    while (i < until) { sums.add(s, i); i += 1 }
    sums
  }

  // ------------------------------------------------------------------
  // documents with planted near-duplicate clusters (pipeline)
  // ------------------------------------------------------------------

  final case class Corpus(texts: Array[String], clusters: Seq[Array[Long]]) {
    def size: Int = texts.length
    /** Every (a, b), a < b, inside one planted cluster. */
    lazy val plantedPairs: Set[(Long, Long)] = clusters.flatMap { c =>
      for (x <- c.toSeq; y <- c.toSeq if x < y) yield (x, y)
    }.toSet
    /** Documents a dedup keeps: all but one member of every cluster go. */
    def expectedKept: Long = size - clusters.map(_.length - 1).sum
  }

  /**
   * `n` documents of 40-60 words from a 50,000-word vocabulary, so two
   * unrelated documents share no word 3-gram. The first `clusters`
   * groups are near-duplicates: 2-4 copies of a base text, each with
   * one word replaced, so members share most 3-grams (Jaccard >= 0.7).
   */
  def corpus(s: Long, n: Int, clusters: Int): Corpus = {
    def text(id: Long): Array[String] = {
      val len = 40 + (h(s, id, 20) % 21).toInt
      Array.tabulate(len)(w => "w" + h(s, id * 64 + w, 21) % 50000)
    }
    val texts = new Array[String](n)
    val groups = ArrayBuffer[Array[Long]]()
    var id = 0
    var c = 0
    while (c < clusters) {
      val base = text(id)
      val size = 2 + (h(s, c, 22) % 3).toInt
      val members = Array.tabulate(size) { m =>
        val words = base.clone()
        if (m > 0) words((h(s, id + m, 23) % words.length).toInt) = "edit" + (id + m)
        texts(id + m) = words.mkString(" ")
        (id + m).toLong
      }
      groups += members
      id += size
      c += 1
    }
    while (id < n) { texts(id) = text(id).mkString(" "); id += 1 }
    Corpus(texts, groups.toSeq)
  }

  def corpusFrame(spark: SparkSession, c: Corpus): DataFrame = {
    val rows = new java.util.ArrayList[Row](c.size)
    c.texts.indices.foreach(i => rows.add(Row(i.toLong, c.texts(i))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))
  }

  // ------------------------------------------------------------------
  // clustered embeddings (pipeline)
  // ------------------------------------------------------------------

  /** `n` Float32 vectors of `dim` dims around `clusters` random centres. */
  def embeddings(s: Long, n: Int, dim: Int, clusters: Int): Array[Array[Float]] = {
    def gauss(i: Long, c: Int): Double = {
      // Irwin-Hall approximation: the sum of 4 uniforms, centred
      (0 until 4).map(k => (h(s, i * 4 + k, c) % 1000000) / 1e6).sum - 2.0
    }
    val centres = Array.tabulate(clusters, dim)((c, d) => gauss(c.toLong * dim + d, 30))
    Array.tabulate(n) { i =>
      val c = (h(s, i, 31) % clusters).toInt
      Array.tabulate(dim)(d => (centres(c)(d) + 0.25 * gauss(i.toLong * dim + d, 32)).toFloat)
    }
  }

  def embeddingFrame(spark: SparkSession, v: Array[Array[Float]]): DataFrame = {
    val rows = new java.util.ArrayList[Row](v.length)
    v.indices.foreach(i => rows.add(Row(i.toLong, v(i).toSeq)))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  /** Exact cosine top-k neighbours (excluding itself) of vector `q`, computed in double. */
  def exactTopK(v: Array[Array[Float]], q: Int, k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var d = 0
      while (d < a.length) { acc += a(d).toDouble * b(d).toDouble; d += 1 }
      acc
    }
    val nq = math.sqrt(dot(v(q), v(q)))
    v.indices.iterator.filter(_ != q)
      .map(j => (j.toLong, dot(v(q), v(j)) / (nq * math.sqrt(dot(v(j), v(j))))))
      .toSeq.sortBy(p => (-p._2, p._1)).take(k).map(_._1)
  }
}
