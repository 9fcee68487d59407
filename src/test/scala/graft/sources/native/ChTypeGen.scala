package graft.sources.native

import graft.sources.native.ChType._

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Seeded random ChTypes and Catalyst values for codec property specs. */
object ChTypeGen {

  val scalarTypes: Seq[ChType] = Seq(
    ChString, ChInt8, ChInt16, ChInt32, ChInt64, ChUInt8, ChUInt16,
    ChFloat32, ChFloat64, ChBool, ChDate, ChDateTime64(6, None),
    ChDate32, ChDecimal(9, 2), ChDecimal(18, 4),
    // round 10: the 16-byte Decimal128 tier, both enum widths, and
    // FixedString (now encodable — NUL-pad/strip roundtrip)
    ChDecimal(38, 6), ChDecimal(22, 0), ChFixedString(8),
    ChEnum8(Seq("a" -> 1.toByte, "b" -> 2.toByte, "neg" -> (-5).toByte)),
    ChEnum16(Seq("hot" -> 300.toShort, "cold" -> (-2).toShort, "zero" -> 0.toShort)))

  /**
   * A random Catalyst value of `t`. `leaf` may supply a value first
   * (edge cases); the default supplies none and draws nothing, so a
   * seed gives the same sequence it always has.
   */
  def randomValue(t: ChType, rnd: scala.util.Random,
      leaf: (ChType, scala.util.Random) => Option[Any] = (_, _) => None): Any =
    leaf(t, rnd).getOrElse(t match {
    case ChString => UTF8String.fromString(rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
    case ChFixedString(n) => // <= n bytes; decode strips the NUL padding
      UTF8String.fromString(rnd.alphanumeric.take(rnd.nextInt(n + 1)).mkString)
    case ChInt8 => Integer.valueOf(rnd.nextInt(256) - 128)
    case ChInt16 => Integer.valueOf(rnd.nextInt(65536) - 32768)
    case ChInt32 => Integer.valueOf(rnd.nextInt())
    case ChInt64 => java.lang.Long.valueOf(rnd.nextLong())
    case ChUInt8 => Integer.valueOf(rnd.nextInt(256))
    case ChUInt16 => Integer.valueOf(rnd.nextInt(65536))
    case ChFloat32 => java.lang.Float.valueOf(rnd.nextFloat())
    case ChFloat64 => java.lang.Double.valueOf(rnd.nextDouble())
    case ChBool => java.lang.Boolean.valueOf(rnd.nextBoolean())
    case ChDate => Integer.valueOf(rnd.nextInt(20000))
    // signed days: pre-1970 dates must survive (sign-extension bug class)
    case ChDate32 => Integer.valueOf(rnd.nextInt(40000) - 20000)
    case d: ChDecimal if d.precision > 18 =>
      // wide tier: random unscaled value of up to `precision` digits,
      // signed — exercises the full 16-byte two's-complement range
      val digits = (1 to d.precision).map(_ => rnd.nextInt(10)).mkString.dropWhile(_ == '0')
      val unscaled = new java.math.BigInteger(
        (if (rnd.nextBoolean()) "-" else "") + (if (digits.isEmpty) "0" else digits))
      org.apache.spark.sql.types.Decimal(
        BigDecimal(new java.math.BigDecimal(unscaled, d.scale)), d.precision, d.scale)
    case d: ChDecimal =>
      // negative unscaled values included; bound by the precision so the
      // value is representable in the declared (P, S)
      val bound = math.pow(10, d.precision).toLong
      val unscaled = (math.abs(rnd.nextLong()) % bound) * (if (rnd.nextBoolean()) 1 else -1)
      org.apache.spark.sql.types.Decimal(
        BigDecimal(java.math.BigDecimal.valueOf(unscaled, d.scale)), d.precision, d.scale)
    case e: ChEnum8 =>
      UTF8String.fromString(e.values(rnd.nextInt(e.values.length))._1)
    case e: ChEnum16 =>
      UTF8String.fromString(e.values(rnd.nextInt(e.values.length))._1)
    case ChDateTime64(_, _) => java.lang.Long.valueOf(math.abs(rnd.nextLong()) % 4102444800000000L)
    case ChNullable(inner) => if (rnd.nextInt(4) == 0) null else randomValue(inner, rnd, leaf)
    case ChLowCardinality(inner @ (ChString | ChNullable(ChString))) =>
      // small vocabulary → real dictionary repetition on the wire
      if (rnd.nextInt(4) == 0 && inner.isInstanceOf[ChNullable]) null
      else UTF8String.fromString("v" + rnd.nextInt(5))
    case ChLowCardinality(inner) => randomValue(inner, rnd, leaf)
    case ChMap(_, vt) =>
      val n = rnd.nextInt(4)
      // map keys are distinct by construction (k0, k1, …)
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(Array.tabulate[Any](n)(i => UTF8String.fromString(s"k$i")).asInstanceOf[Array[Any]]),
        new GenericArrayData(Array.fill[Any](n)(randomValue(vt, rnd, leaf))))
    case ChTuple(fields) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        fields.map(f => randomValue(f._2, rnd, leaf)).toArray)
    case ChArray(inner) =>
      new GenericArrayData(Array.fill(rnd.nextInt(4))(randomValue(inner, rnd, leaf).asInstanceOf[AnyRef]))
    case ChUInt32 => java.lang.Long.valueOf(rnd.nextInt() & 0xffffffffL)
    case ChDateTime(_) => java.lang.Long.valueOf((rnd.nextInt() & 0xffffffffL) * 1000000L)
    case ChUuid => UTF8String.fromString(new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString)
    case ChIPv4 => UTF8String.fromString(Seq.fill(4)(rnd.nextInt(256)).mkString("."))
    case ChIPv6 => UTF8String.fromString(Seq.fill(8)(Integer.toHexString(rnd.nextInt(65536))).mkString(":"))
    case other => throw new IllegalArgumentException(s"no generator for $other")
  })

  def randomType(rnd: scala.util.Random): ChType = {
    val base = scalarTypes(rnd.nextInt(scalarTypes.length))
    rnd.nextInt(8) match {
      case 0 => ChNullable(base)
      case 1 => ChArray(base)
      case 2 => ChLowCardinality(ChString)
      case 3 => ChLowCardinality(ChNullable(ChString))
      case 4 => ChMap(ChString, base)
      case 5 => ChTuple(Seq(Some("a") -> base, None -> ChNullable(ChString)))
      case _ => base
    }
  }
}
