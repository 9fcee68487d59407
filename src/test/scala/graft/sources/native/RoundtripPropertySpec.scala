package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property-style randomized write→read roundtrips (SURVEY §5.2 #3):
 * random schemas over the supported type family × random row counts ×
 * random multi-block splits — the reference's multi-block multi-column
 * interleaving bug class (SURVEY §1.1) stays pinned under fuzz, not
 * just the one hand-built fixture.
 */
class RoundtripPropertySpec extends AnyFunSuite {

  import ChTypeGen._

  test("random schema × random block splits roundtrip exactly (300 cases, seeded)") {
    val rnd = new scala.util.Random(20260812)
    (1 to 300).foreach { case_i =>
      val nCols = 1 + rnd.nextInt(5)
      val types = Array.fill(nCols)(randomType(rnd))
      val nRows = rnd.nextInt(40)
      val data: Array[Array[Any]] =
        types.map(t => Array.fill[Any](nRows)(randomValue(t, rnd)))

      // random split into >= 1 blocks
      val splits = scala.collection.mutable.ArrayBuffer(0)
      var pos = 0
      while (pos < nRows) {
        pos += 1 + rnd.nextInt(math.max(1, nRows / 2))
        splits += math.min(pos, nRows)
      }

      // every 4th case wraps the stream in compressed frames (lz4/zstd
      // alternating) — the sniffing read path must be byte-equivalent
      val codec = case_i % 8 match {
        case 0 | 4 => if (case_i % 8 == 0) "lz4" else "zstd"
        case _ => "none"
      }
      val bos = new ByteArrayOutputStream()
      val w = new NativeBlockWriter(bos, codec)
      splits.toSeq.zip(splits.toSeq.tail).foreach { case (a, b) =>
        if (b > a) {
          val cols = types.zipWithIndex.map { case (t, ci) =>
            NativeColumn(s"c$ci", t, data(ci).slice(a, b))
          }
          w.writeBlock(NativeBlock(cols, b - a))
        }
      }
      w.close()

      val reader = new NativeBlockReader(NativeCompression.maybeWrapRead(
        new ByteArrayInputStream(bos.toByteArray), null))
      val got: Array[scala.collection.mutable.ArrayBuffer[Any]] =
        Array.fill(nCols)(scala.collection.mutable.ArrayBuffer.empty[Any])
      var totalRows = 0
      while (reader.hasNext) {
        val blk = reader.next()
        totalRows += blk.numRows
        blk.columns.zipWithIndex.foreach { case (c, ci) => got(ci) ++= c.values }
      }
      assert(totalRows === nRows, s"case $case_i rows (types=${types.map(_.name).mkString(",")})")
      types.indices.foreach { ci =>
        val exp = data(ci).map(render).toSeq
        val act = got(ci).map(render).toSeq
        assert(act === exp, s"case $case_i col $ci type=${types(ci).name}")
      }
    }
  }

  /** Stable comparison rendering (ArrayData has identity equality). */
  private def render(v: Any): String = v match {
    case null => "∅"
    case a: GenericArrayData => a.array.map(render).mkString("[", ",", "]")
    case m: org.apache.spark.sql.catalyst.util.ArrayBasedMapData =>
      m.keyArray.asInstanceOf[GenericArrayData].array.map(render)
        .zip(m.valueArray.asInstanceOf[GenericArrayData].array.map(render))
        .map { case (k, w) => s"$k→$w" }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
      r.values.map(render).mkString("(", ",", ")")
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f).toString
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d).toString
    case other => String.valueOf(other)
  }
}
