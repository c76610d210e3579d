package graft.sources.native

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._

/**
 * Reads decoded column vectors back as Catalyst values — null, boxed
 * primitives, UTF8String, Decimal, GenericArrayData, ArrayBasedMapData
 * and GenericInternalRow — so codec specs can compare plain values.
 */
object DecodedValues {

  /** Decode `rows` values of `t` from raw wire bytes. */
  def decode(t: ChType, rows: Int, bytes: Array[Byte]): Array[Any] =
    decode(new NativeCodec.Input(new ByteArrayInputStream(bytes)), t, rows)

  def decode(in: NativeCodec.Input, t: ChType, rows: Int): Array[Any] = {
    val v = new OnHeapColumnVector(rows, t.sparkType)
    try {
      ColumnCodec.decode(in, t, rows, v)
      apply(v, rows)
    } finally v.close()
  }

  /** The first `rows` values of a decoded vector. */
  def apply(v: WritableColumnVector, rows: Int): Array[Any] = Array.tabulate(rows)(valueAt(v, _))

  private def valueAt(v: WritableColumnVector, i: Int): Any =
    if (v.isNullAt(i)) null
    else v.dataType match {
      case BooleanType => v.getBoolean(i)
      case IntegerType | DateType => v.getInt(i)
      case LongType | TimestampType | TimestampNTZType => v.getLong(i)
      case FloatType => v.getFloat(i)
      case DoubleType => v.getDouble(i)
      case StringType => v.getUTF8String(i).clone()
      case d: DecimalType => v.getDecimal(i, d.precision, d.scale)
      case _: ArrayType =>
        new GenericArrayData(slice(v.arrayData(), v.getArrayOffset(i), v.getArrayLength(i)))
      case _: MapType =>
        val (off, len) = (v.getArrayOffset(i), v.getArrayLength(i))
        new ArrayBasedMapData(new GenericArrayData(slice(v.getChild(0), off, len)),
          new GenericArrayData(slice(v.getChild(1), off, len)))
      case st: StructType =>
        new GenericInternalRow(Array.tabulate[Any](st.length)(f => valueAt(v.getChild(f), i)))
      case other => throw new IllegalArgumentException(s"no reader for $other")
    }

  private def slice(v: WritableColumnVector, off: Int, len: Int): Array[Any] =
    Array.tabulate[Any](len)(j => valueAt(v, off + j))
}
