package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded "k smallest DISTINCT (hk, centroid) pairs" aggregate for
 * [[graft.operators.Similarity.pqCodebookSampled]]'s seeded-hash
 * codebook draw.
 *
 * The selection it implements — order all distinct subvectors by
 * `(hk, centroid)` ascending, keep the first `k` — previously ran as
 * `distinct()` + two rank windows: a data-sized exchange to dedup,
 * another to bucket, and two sorts. As a mergeable bounded aggregate
 * the same selection needs NO data-sized shuffle at all: each map
 * partition keeps at most `k` survivors per subspace
 * (ObjectHashAggregate's partial/final split, like [[TopKAgg]] and
 * the MinHash sketch), only those cross the wire, and duplicates are
 * absorbed into the buffer instead of a global dedup pass. Keeping the
 * k smallest distinct elements is associative, commutative and
 * dedup-stable, so partial/merge order cannot change the result.
 *
 * Equivalence contract (pinned in LlmOpsSpec against the single
 * global-rank spelling, and in MinKDistinctAggSpec on -0.0/0.0/NaN
 * centroids): the comparator below replicates Spark's SQL
 * ordering and grouping semantics for `array<float>` — elementwise,
 * ties broken by length, with `-0.0 == 0.0` (primitive `==` short
 * circuit) and `NaN == NaN`, NaN largest (`Float.compare` fallback) —
 * so "distinct under groupBy" and "equal under this comparator"
 * coincide and the buffer's dedup is exactly `distinct()`'s.
 *
 * Output: `array<array<float>>` — the k survivors' centroids in
 * `(hk, centroid)` ascending order; the caller derives `code` from the
 * position (posexplode + 1), exactly row_number's assignment.
 */
case class MinKDistinctAgg(
    hk: Expression,
    centroid: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Long, Array[Float])]]
  with BinaryLike[Expression] {

  override def left: Expression = hk
  override def right: Expression = centroid

  override def prettyName: String = "min_k_distinct"

  override def dataType: DataType =
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (k <= 0 || k > 65536)
      TypeCheckResult.TypeCheckFailure(s"min_k_distinct k=$k outside (0, 65536]")
    else if (hk.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"min_k_distinct hash key must be bigint, got ${hk.dataType.simpleString}")
    else centroid.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"min_k_distinct value must be array<float>, got ${other.simpleString}")
    }

  private def ord = MinKDistinctAgg.Ord

  override def createAggregationBuffer(): java.util.TreeSet[(Long, Array[Float])] =
    new java.util.TreeSet[(Long, Array[Float])](ord)

  /** Insert with the bound: reject anything not strictly below the
    * current max once full (equal-to-max is a duplicate of it). */
  private def offer(set: java.util.TreeSet[(Long, Array[Float])],
      key: (Long, Array[Float])): Unit =
    if (set.size < k) { set.add(key); () }
    else if (ord.compare(key, set.last()) < 0) {
      if (set.add(key)) { set.pollLast(); () }
    }

  override def update(set: java.util.TreeSet[(Long, Array[Float])],
      input: InternalRow): java.util.TreeSet[(Long, Array[Float])] = {
    val h = hk.eval(input)
    val c = centroid.eval(input)
    if (h != null && c != null) {
      val arr = c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      // cheap pre-check before materializing the float array: once the
      // buffer is full, a hash key above the max's can never enter
      // (array comparison only breaks hk ties)
      val hv = h.asInstanceOf[java.lang.Long].longValue()
      if (set.size < k || hv <= set.last()._1)
        offer(set, (hv, floats(arr)))
    }
    set
  }

  @transient private lazy val elementsNullable =
    centroid.dataType.asInstanceOf[ArrayType].containsNull

  /** The centroid's elements. `toFloatArray` would read a null element
    * as 0.0, so a null fails by name instead — a type that only
    * declares nullable elements is fine. */
  private def floats(arr: org.apache.spark.sql.catalyst.util.ArrayData): Array[Float] = {
    if (elementsNullable) {
      var i = 0
      while (i < arr.numElements()) {
        if (arr.isNullAt(i)) throw new IllegalArgumentException(
          s"min_k_distinct: centroid element $i is null; centroids must hold no null element")
        i += 1
      }
    }
    arr.toFloatArray()
  }

  override def merge(a: java.util.TreeSet[(Long, Array[Float])],
      b: java.util.TreeSet[(Long, Array[Float])])
      : java.util.TreeSet[(Long, Array[Float])] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  override def eval(set: java.util.TreeSet[(Long, Array[Float])]): Any = {
    val out = new Array[Any](set.size)
    var i = 0
    val it = set.iterator()
    while (it.hasNext) { out(i) = new GenericArrayData(it.next()._2); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(set: java.util.TreeSet[(Long, Array[Float])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(set.size)
    val it = set.iterator()
    while (it.hasNext) {
      val (h, arr) = it.next()
      out.writeLong(h)
      out.writeInt(arr.length)
      var i = 0
      while (i < arr.length) { out.writeFloat(arr(i)); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Long, Array[Float])] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val set = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val h = in.readLong()
      val len = in.readInt()
      val arr = new Array[Float](len)
      var j = 0
      while (j < len) { arr(j) = in.readFloat(); j += 1 }
      set.add((h, arr))
      i += 1
    }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinctAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinKDistinctAgg =
    copy(hk = newLeft, centroid = newRight)
}

object MinKDistinctAgg {
  /** Spark SQL's (hk, array<float>) ordering — see the class doc for
    * the float semantics it replicates. Serializable: the expression
    * ships to executors inside the physical plan. */
  object Ord extends java.util.Comparator[(Long, Array[Float])] with Serializable {
    private def cmpFloat(a: Float, b: Float): Int =
      if (a == b) 0 else java.lang.Float.compare(a, b)
    override def compare(x: (Long, Array[Float]), y: (Long, Array[Float])): Int = {
      val byHk = java.lang.Long.compare(x._1, y._1)
      if (byHk != 0) return byHk
      val a = x._2; val b = y._2
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = cmpFloat(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
  }
}
