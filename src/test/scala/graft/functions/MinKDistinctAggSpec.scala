package graft.functions

import graft.SparkTestBase

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * `min_k_distinct` ([[MinKDistinctAgg]]) on float edge cases: the k
 * smallest distinct (hk, centroid) pairs it keeps are the ones the
 * window spelling (distinct, then row_number over (hk, centroid))
 * keeps, with -0.0 equal to 0.0 and NaN largest; a null centroid
 * element fails by name.
 */
class MinKDistinctAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def minK(hk: Column, centroid: Column, k: Int): Column =
    Bridge.column(MinKDistinctAgg(Bridge.expression(hk), Bridge.expression(centroid), k)
      .toAggregateExpression())

  private def corpus(rows: Seq[(Long, Seq[java.lang.Float])], containsNull: Boolean): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (h, c) => Row(h, c) }, 3),
      StructType(Seq(StructField("hk", LongType, nullable = false),
        StructField("centroid", ArrayType(FloatType, containsNull), nullable = false))))

  /** The selection as text with each zero unsigned: -0.0 and 0.0 are
    * one value to both spellings, which may keep either sign (and text
    * compares NaN equal to itself). */
  private def unsigned(sel: Seq[scala.collection.Seq[Float]]): Seq[String] =
    sel.map(_.map(x => (x + 0.0f).toString).mkString(","))

  private def aggregated(df: DataFrame, k: Int): Seq[String] =
    unsigned(df.agg(minK(col("hk"), col("centroid"), k)).head().getSeq[scala.collection.Seq[Float]](0))

  private def windowed(df: DataFrame, k: Int): Seq[String] =
    unsigned(df.distinct()
      .withColumn("rn", row_number().over(Window.orderBy(col("hk"), col("centroid"))))
      .filter(col("rn") <= k).orderBy("rn")
      .collect().map(_.getSeq[Float](1)).toSeq)

  private val nan = Float.NaN
  // one hash key: the centroid order alone decides the selection
  private val edges: Seq[(Long, Seq[java.lang.Float])] = Seq(
    Seq(0.0f, 1.0f), Seq(-0.0f, 1.0f), Seq(-0.0f, 0.5f), Seq(0.0f, 0.5f),
    Seq(nan, 0.0f), Seq(nan, -0.0f), Seq(-1.0f, nan), Seq(-1.0f, 2.0f),
    Seq(0.0f, nan), Seq(-0.0f, -0.0f), Seq(1.0f), Seq(nan)
  ).map(c => 7L -> c.map(Float.box))

  test("-0.0/0.0 and NaN centroids: the same selection as the window spelling") {
    val df = corpus(edges ++ edges.reverse, containsNull = false)
    (1 to 10).foreach { k =>
      assert(aggregated(df, k) === windowed(df, k), s"k=$k")
    }
    // -0.0 == 0.0 and NaN == NaN: 12 spellings, 9 distinct values
    assert(aggregated(df, 12).length === 9)
  }

  test("a null centroid element fails naming min_k_distinct; a nullable type without nulls works") {
    val declared = corpus(edges, containsNull = true)
    assert(aggregated(declared, 5) === aggregated(corpus(edges, containsNull = false), 5))
    val withNull = corpus(edges :+ (7L -> Seq[java.lang.Float](-5.0f, null)), containsNull = true)
    val e = intercept[Exception](withNull.agg(minK(col("hk"), col("centroid"), 5)).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("min_k_distinct")), e.toString)
  }
}
