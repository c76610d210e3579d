package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.sources.native.ChType._

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property-style randomized write→read roundtrips (SURVEY §5.2 #3):
 * random schemas over the supported type family × random row counts ×
 * random multi-block splits — the reference's multi-block multi-column
 * interleaving bug class (SURVEY §1.1) stays pinned under fuzz, not
 * just the one hand-built fixture. Each case also re-encodes the
 * decoded blocks and checks the bytes match what was written.
 */
class RoundtripPropertySpec extends AnyFunSuite {

  private val scalarTypes: Seq[ChType] = Seq(
    ChString, ChInt8, ChInt16, ChInt32, ChInt64, ChUInt8, ChUInt16,
    ChFloat32, ChFloat64, ChBool, ChDate, ChDateTime64(6, None),
    ChDate32, ChDecimal(9, 2), ChDecimal(18, 4),
    // round 10: the 16-byte Decimal128 tier, both enum widths, and
    // FixedString (now encodable — NUL-pad/strip roundtrip)
    ChDecimal(38, 6), ChDecimal(22, 0), ChFixedString(8),
    ChEnum8(Seq("a" -> 1.toByte, "b" -> 2.toByte, "neg" -> (-5).toByte)),
    ChEnum16(Seq("hot" -> 300.toShort, "cold" -> (-2).toShort, "zero" -> 0.toShort)))

  private def randomValue(t: ChType, rnd: scala.util.Random): Any = t match {
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
    case ChNullable(inner) => if (rnd.nextInt(4) == 0) null else randomValue(inner, rnd)
    case ChLowCardinality(inner) =>
      // small vocabulary → real dictionary repetition on the wire
      if (rnd.nextInt(4) == 0 && inner.isInstanceOf[ChNullable]) null
      else UTF8String.fromString("v" + rnd.nextInt(5))
    case ChMap(_, vt) =>
      val n = rnd.nextInt(4)
      // map keys are distinct by construction (k0, k1, …)
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(Array.tabulate[Any](n)(i => UTF8String.fromString(s"k$i")).asInstanceOf[Array[Any]]),
        new GenericArrayData(Array.fill[Any](n)(randomValue(vt, rnd))))
    case ChTuple(fields) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        fields.map(f => randomValue(f._2, rnd)).toArray)
    case ChArray(inner) =>
      new GenericArrayData(Array.fill(rnd.nextInt(4))(randomValue(inner, rnd).asInstanceOf[AnyRef]))
    case other => fail(s"no generator for $other")
  }

  private def randomType(rnd: scala.util.Random): ChType = {
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
      // decode → encode identity: the decoded blocks, re-encoded from
      // their vectors, reproduce the written bytes exactly
      val again = new ByteArrayOutputStream()
      val rw = new NativeBlockWriter(again, codec)
      while (reader.hasNext) {
        val blk = reader.next()
        totalRows += blk.numRows
        blk.columns.zipWithIndex.foreach { case (c, ci) =>
          got(ci) ++= DecodedValues(c.vector, blk.numRows)
        }
        rw.writeBlock(NativeBlock(blk.columns, blk.numRows))
      }
      rw.close()
      assert(totalRows === nRows, s"case $case_i rows (types=${types.map(_.name).mkString(",")})")
      assert(java.util.Arrays.equals(again.toByteArray, bos.toByteArray),
        s"case $case_i re-encoded bytes (types=${types.map(_.name).mkString(",")})")
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
