package graft.sources.native

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.native.ChType._
import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One column of a block to WRITE: `values` holds Catalyst values
 * (UTF8String, java.lang.Integer/Long/Boolean/Float/Double, Decimal,
 * ArrayData, MapData, InternalRow, or null) in row order.
 */
final case class NativeColumn(name: String, chType: ChType, values: Array[Any])

/** A block to write: its columns and row count (SURVEY §1.1). */
final case class NativeBlock(columns: Array[NativeColumn], numRows: Int)

/** One column of a READ block: wire name, wire type, and the Spark vector
  * (of `chType.sparkType`) its values were decoded into. */
final case class DecodedColumn(name: String, chType: ChType, vector: WritableColumnVector)

/**
 * A decoded Native block. `header` lists every column's (name, type)
 * in wire order, pruned ones included; `columns` holds the decoded
 * ones. `numRows` comes from the block header, NOT from the decoded
 * columns — a fully-pruned block (`count(*)`: Catalyst requires zero
 * columns) still knows how many rows it carries.
 */
final case class DecodedBlock(header: Seq[(String, ChType)], columns: Array[DecodedColumn],
    numRows: Int)

/**
 * Per-type column value codec. The reference's decode loop is
 * src/lib.rs:143-175 (String/UInt8/UInt64/Int32/Enum8, everything
 * else degraded to a sentinel string); ours covers the full §1.3
 * family and nests Nullable/Array/Map/Tuple.
 *
 * There is one decode path: wire bytes go straight into Spark column
 * vectors, column-at-a-time — the columnar layout the wire format
 * already has — rather than the reference's row-at-a-time boxed-enum
 * cells (src/lib.rs:28-35). Every Native scan and every remote read
 * hands those vectors to Spark as `ColumnarBatch`es, so no value is
 * boxed between the wire and the query.
 */
object ColumnCodec {

  /**
   * Decode `rows` values of `t` from `in` into positions [0, rows) of
   * `v`, a vector of `t.sparkType`: bulk little-endian puts for
   * fixed-width types, byte arrays for text, null masks for Nullable,
   * offsets plus child vectors for Array/Map, struct children for
   * Tuple, and a dictionary-backed vector for LowCardinality strings.
   */
  def decode(in: Input, t: ChType, rows: Int, v: WritableColumnVector): Unit = {
    v.reserve(rows)
    t match {
      case ChString =>
        var i = 0
        while (i < rows) { putText(in, v, i, narrow(in.readVarUInt())); i += 1 }
      case ChFixedString(n) =>
        // FixedString(n): n raw bytes per value, NUL-padded; the text
        // sanitize strips the padding (reference strips NUL everywhere,
        // src/lib.rs:73-74).
        var i = 0
        while (i < rows) { putText(in, v, i, n); i += 1 }
      case ChUInt8 => chunks(in, rows, 1) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putInt(first + j, b.get(j) & 0xff); j += 1 }
      }
      case ChInt8 => chunks(in, rows, 1) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putInt(first + j, b.get(j).toInt); j += 1 }
      }
      case ChBool => chunks(in, rows, 1) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putBoolean(first + j, b.get(j) != 0); j += 1 }
      }
      // Date: UInt16 days since epoch == Spark DateType's internal Int days.
      case ChUInt16 | ChDate => chunks(in, rows, 2) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putInt(first + j, b.getShort(2 * j) & 0xffff); j += 1 }
      }
      case ChInt16 => chunks(in, rows, 2) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putInt(first + j, b.getShort(2 * j).toInt); j += 1 }
      }
      case ChUInt32 => chunks(in, rows, 4) { (b, first, n) =>
        var j = 0
        while (j < n) { v.putLong(first + j, b.getInt(4 * j) & 0xffffffffL); j += 1 }
      }
      // Date32: Int32 signed days (pre-1970 roundtrips).
      case ChInt32 | ChDate32 =>
        chunks(in, rows, 4)((b, first, n) => v.putIntsLittleEndian(first, n, b.array, 0))
      case ChUInt64 | ChInt64 =>
        chunks(in, rows, 8)((b, first, n) => v.putLongsLittleEndian(first, n, b.array, 0))
      case ChFloat32 =>
        chunks(in, rows, 4)((b, first, n) => v.putFloatsLittleEndian(first, n, b.array, 0))
      case ChFloat64 =>
        chunks(in, rows, 8)((b, first, n) => v.putDoublesLittleEndian(first, n, b.array, 0))
      case d: ChDecimal =>
        // little-endian two's-complement scaled integer. The storage
        // tiers line up with Spark's: P<=9 is an Int vector, P<=18 a
        // Long vector, wider a big-endian two's-complement byte array.
        d.byteWidth match {
          case 4 => chunks(in, rows, 4)((b, first, n) => v.putIntsLittleEndian(first, n, b.array, 0))
          case 8 => chunks(in, rows, 8)((b, first, n) => v.putLongsLittleEndian(first, n, b.array, 0))
          case w =>
            val be = new Array[Byte](w)
            chunks(in, rows, w) { (b, first, n) =>
              var j = 0
              while (j < n) {
                var k = 0
                while (k < w) { be(k) = b.get(w * j + w - 1 - k); k += 1 }
                v.putByteArray(first + j, be, 0, w)
                j += 1
              }
            }
        }
      case ChDateTime(_) =>
        // UInt32 epoch seconds → Catalyst micros.
        chunks(in, rows, 4) { (b, first, n) =>
          var j = 0
          while (j < n) { v.putLong(first + j, (b.getInt(4 * j) & 0xffffffffL) * 1000000L); j += 1 }
        }
      case ChDateTime64(p, _) =>
        val scale = if (p <= 6) math.pow(10, 6 - p).toLong else 1L
        val div = if (p > 6) math.pow(10, p - 6).toLong else 1L
        chunks(in, rows, 8) { (b, first, n) =>
          var j = 0
          while (j < n) { v.putLong(first + j, b.getLong(8 * j) * scale / div); j += 1 }
        }
      case e @ ChEnum8(_) =>
        // Int8 code → declared label, or "Unknown(N)" (src/lib.rs:157-166).
        chunks(in, rows, 1) { (b, first, n) =>
          var j = 0
          while (j < n) {
            val code = b.get(j)
            putString(v, first + j, e.byCode.getOrElse(code, s"Unknown($code)"))
            j += 1
          }
        }
      case e @ ChEnum16(_) =>
        // Int16 LE code → declared label, same degradation as Enum8.
        chunks(in, rows, 2) { (b, first, n) =>
          var j = 0
          while (j < n) {
            val code = b.getShort(2 * j)
            putString(v, first + j, e.byCode.getOrElse(code, s"Unknown($code)"))
            j += 1
          }
        }
      case ChNullable(inner) =>
        // Wire layout: null-mask byte per row first, then inner values
        // (ClickHouse writes a default value in the slot of a null).
        val mask = in.readBytes(rows)
        decode(in, inner, rows, v)
        var i = 0
        while (i < rows) { if (mask(i) != 0) v.putNull(i); i += 1 }
      case ChArray(inner) =>
        // Wire layout: UInt64 cumulative end-offsets per row, then the
        // flattened element stream.
        decode(in, inner, offsets(in, rows, v), v.arrayData())
      case ChMap(kt, vt) =>
        // Array(Tuple(K,V)) layout: offsets, all keys flat, all values flat
        val total = offsets(in, rows, v)
        decode(in, kt, total, v.getChild(0))
        decode(in, vt, total, v.getChild(1))
      case ChTuple(fields) =>
        // element columns are contiguous: all of element 1, then element 2, …
        var f = 0
        while (f < fields.length) { decode(in, fields(f)._2, rows, v.getChild(f)); f += 1 }
      case ChUuid =>
        // LE(msb64) ++ LE(lsb64) → canonical lowercase string
        chunks(in, rows, 16) { (b, first, n) =>
          var j = 0
          while (j < n) {
            putString(v, first + j, new java.util.UUID(b.getLong(16 * j), b.getLong(16 * j + 8)).toString)
            j += 1
          }
        }
      case ChIPv4 => chunks(in, rows, 4) { (b, first, n) =>
        var j = 0
        while (j < n) {
          val a = b.getInt(4 * j)
          putString(v, first + j,
            s"${(a >>> 24) & 0xff}.${(a >>> 16) & 0xff}.${(a >>> 8) & 0xff}.${a & 0xff}")
          j += 1
        }
      }
      case ChIPv6 =>
        // 16 network-order bytes → expanded lowercase hex groups (pure
        // arithmetic; see ChIPv6 scaladoc for why not InetAddress)
        chunks(in, rows, 16) { (b, first, n) =>
          var j = 0
          while (j < n) {
            val sb = new java.lang.StringBuilder(39)
            var g = 0
            while (g < 8) {
              if (g > 0) sb.append(':')
              sb.append(java.lang.Integer.toHexString(
                ((b.get(16 * j + 2 * g) & 0xff) << 8) | (b.get(16 * j + 2 * g + 1) & 0xff)))
              g += 1
            }
            putString(v, first + j, sb.toString)
            j += 1
          }
        }
      case ChBigInt(_, width, signed) =>
        // LE bytes → BigInteger → exact decimal string (the reference
        // emits `<unsupported:T>` sentinels here, src/lib.rs:137)
        var i = 0
        while (i < rows) { putString(v, i, readWideInt(in, width, signed).toString); i += 1 }
      case ChWideDecimal(_, width, scale) =>
        var i = 0
        while (i < rows) {
          putString(v, i,
            new java.math.BigDecimal(readWideInt(in, width, signed = true), scale).toPlainString)
          i += 1
        }
      case lc: ChLowCardinality =>
        decodeLowCardinality(in, lc, rows, v)
      case _: ChUnsupported =>
        throw new UnsupportedColumnException(t.name)
    }
  }

  /**
   * Read `rows` values of `width` bytes in chunks through the input's
   * little-endian scratch window; `put(window, first, n)` stores rows
   * [first, first + n) from window positions [0, n * width).
   */
  private def chunks(in: Input, rows: Int, width: Int)(put: (ByteBuffer, Int, Int) => Unit): Unit = {
    val b = in.scratch
    val perChunk = b.capacity / width
    var first = 0
    while (first < rows) {
      val n = math.min(perChunk, rows - first)
      in.readFully(b.array, 0, n * width)
      put(b, first, n)
      first += n
    }
  }

  /** A wire length or count narrowed to Int, or an IOException. */
  private def narrow(n: Long): Int = {
    if (n < 0 || n > Int.MaxValue) throw new IOException(s"Native length $n out of range")
    n.toInt
  }

  /**
   * `len` bytes of text into row `i`. Pure-ASCII bytes without NUL —
   * by far the common case — pass through as they are; anything else
   * goes through the lossy UTF-8 decode with NUL and U+FFFD stripped
   * (parity with the reference's sanitize, src/lib.rs:68-76).
   */
  private def putText(in: Input, v: WritableColumnVector, i: Int, len: Int): Unit = {
    val b = if (len <= in.scratch.capacity) in.scratch.array else new Array[Byte](len)
    in.readFully(b, 0, len)
    var ascii = true
    var k = 0
    while (ascii && k < len) { if (b(k) <= 0) ascii = false; k += 1 }
    if (ascii) v.putByteArray(i, b, 0, len)
    else putString(v, i, NativeCodec.sanitize(new String(b, 0, len, UTF_8)))
  }

  private def putString(v: WritableColumnVector, i: Int, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    v.putByteArray(i, b, 0, b.length)
  }

  /** `rows` cumulative UInt64 end offsets into `v`'s (offset, length)
    * slots; returns the element count of the flattened child stream. */
  private def offsets(in: Input, rows: Int, v: WritableColumnVector): Int = {
    var start = 0L
    chunks(in, rows, 8) { (b, first, n) =>
      var j = 0
      while (j < n) {
        val end = b.getLong(8 * j)
        if (end < start || end > Int.MaxValue)
          throw new IOException(s"Native array offset $end out of range after $start")
        v.putArray(first + j, start.toInt, (end - start).toInt)
        start = end
        j += 1
      }
    }
    start.toInt
  }

  // LowCardinality serialization-type flags (ClickHouse wire format).
  private val LcHasAdditionalKeys = 0x200L
  private val LcIndexWidthMask = 0xffL

  /**
   * LowCardinality(T) dictionary wire layout:
   *
   *   UInt64 keys-serialization version (1 = shared-with-additional-keys)
   *   UInt64 serialization type: low byte = index width class
   *          (0→UInt8, 1→UInt16, 2→UInt32, 3→UInt64),
   *          bit 0x200 = dictionary ("additional keys") follows inline
   *   UInt64 dictionary size + dictionary values (plain inner type,
   *          non-nullable — for Nullable(T), slot 0 is the null default)
   *   UInt64 row count
   *   indices[rows] of the declared width
   *
   * The reference never decodes this — any LowCardinality column makes
   * it emit `<unsupported>` sentinels without consuming bytes,
   * corrupting every later column (src/lib.rs:168-170).
   *
   * String dictionaries become a dictionary-backed vector: one byte
   * array per DISTINCT value plus int ids, instead of copying every
   * row's bytes — the layout Spark's vectorized parquet reader uses for
   * dictionary pages. Other inner types are gathered into plain values.
   */
  private def decodeLowCardinality(in: Input, lc: ChLowCardinality, rows: Int,
      v: WritableColumnVector): Unit = {
    val version = in.readLongLE()
    if (version != 1L)
      throw new UnsupportedColumnException(s"${lc.name} (keys version $version)")
    val serType = in.readLongLE()
    if ((serType & LcHasAdditionalKeys) == 0)
      throw new UnsupportedColumnException(s"${lc.name} (global dictionary)")
    val (inner, nullable) = lc.inner match {
      case ChNullable(i) => (i, true)
      case i => (i, false)
    }
    val dictSize = narrow(in.readLongLE())
    val dict = new OnHeapColumnVector(dictSize, inner.sparkType)
    decode(in, inner, dictSize, dict)
    val n = in.readLongLE()
    if (n != rows) throw new IOException(s"LowCardinality row count $n != block rows $rows")
    val ids = new Array[Int](rows)
    val width = (serType & LcIndexWidthMask).toInt match {
      case 0 => 1; case 1 => 2; case 2 => 4; case _ => 8
    }
    chunks(in, rows, width) { (b, first, n) =>
      var j = 0
      while (j < n) {
        val id = width match {
          case 1 => b.get(j) & 0xff
          case 2 => b.getShort(2 * j) & 0xffff
          case 4 => b.getInt(4 * j)
          case _ => b.getLong(8 * j).toInt
        }
        if (id < 0 || id >= dictSize)
          throw new IOException(s"LowCardinality index $id outside dictionary of $dictSize")
        ids(first + j) = id
        j += 1
      }
    }
    if (inner.sparkType == StringType) {
      val bytes = Array.tabulate(dictSize)(dict.getBinary)
      v.setDictionary(new Dictionary {
        override def decodeToBinary(id: Int): Array[Byte] = bytes(id)
        override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
        override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
        override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
        override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
      })
      v.reserveDictionaryIds(rows).putInts(0, rows, ids, 0)
    } else {
      var i = 0
      while (i < rows) { copyValue(dict, ids(i), v, i); i += 1 }
    }
    // a Nullable inner's index 0 is NULL; its id still points at the
    // dictionary's default slot, which is never read
    if (nullable) {
      var i = 0
      while (i < rows) { if (ids(i) == 0) v.putNull(i); i += 1 }
    }
    dict.close()
  }

  /** Row `j` of scalar vector `src` into row `i` of `dst` (same type). */
  private def copyValue(src: WritableColumnVector, j: Int, dst: WritableColumnVector, i: Int): Unit =
    src.dataType match {
      case BooleanType => dst.putBoolean(i, src.getBoolean(j))
      case IntegerType | DateType => dst.putInt(i, src.getInt(j))
      case LongType | TimestampType | TimestampNTZType => dst.putLong(i, src.getLong(j))
      case FloatType => dst.putFloat(i, src.getFloat(j))
      case DoubleType => dst.putDouble(i, src.getDouble(j))
      case d: DecimalType => dst.putDecimal(i, src.getDecimal(j, d.precision, d.scale), d.precision)
      case other => throw new UnsupportedColumnException(s"LowCardinality(${other.simpleString})")
    }

  /** Byte width for fixed-width types (None = variable). Used for skip-decode. */
  def fixedWidth(t: ChType): Option[Int] = t match {
    case ChUInt8 | ChInt8 | ChBool | _: ChEnum8 => Some(1)
    case ChUInt16 | ChInt16 | ChDate | _: ChEnum16 => Some(2)
    case ChUInt32 | ChInt32 | ChFloat32 | ChDate32 | _: ChDateTime => Some(4)
    case ChUInt64 | ChInt64 | ChFloat64 | _: ChDateTime64 => Some(8)
    case d: ChDecimal => Some(d.byteWidth)
    case ChFixedString(n) => Some(n)
    case ChUuid | ChIPv6 => Some(16)
    case ChIPv4 => Some(4)
    case ChBigInt(_, w, _) => Some(w)
    case ChWideDecimal(_, w, _) => Some(w)
    case _ => None
  }

  /** `width` little-endian bytes → BigInteger (two's complement when
    * signed, non-negative magnitude otherwise). */
  private def readWideInt(in: Input, width: Int, signed: Boolean): java.math.BigInteger = {
    val le = in.readBytes(width)
    // reverse to big-endian; unsigned values get a 0x00 sign byte
    val be = new Array[Byte](if (signed) width else width + 1)
    val off = if (signed) 0 else 1
    var j = 0
    while (j < width) { be(off + j) = le(width - 1 - j); j += 1 }
    new java.math.BigInteger(be)
  }

  /**
   * Skip `rows` values of type `t` without materializing — column
   * pruning inside a block (SURVEY §4.2: strictly better than the
   * reference's decode-everything, src/lib.rs:251). Strings require
   * length-walking; fixed-width types are a single seek.
   */
  def skip(in: Input, t: ChType, rows: Int): Unit = t match {
    case _ if fixedWidth(t).isDefined =>
      in.skipFully(fixedWidth(t).get.toLong * rows)
    case ChString =>
      var i = 0
      while (i < rows) { in.skipFully(in.readVarUInt()); i += 1 }
    case ChNullable(inner) =>
      in.skipFully(rows.toLong)
      skip(in, inner, rows)
    case ChArray(inner) =>
      var last = 0L
      var i = 0
      while (i < rows) { last = in.readLongLE(); i += 1 }
      skip(in, inner, last.toInt)
    case ChMap(kt, vt) =>
      var last = 0L
      var i = 0
      while (i < rows) { last = in.readLongLE(); i += 1 }
      skip(in, kt, last.toInt)
      skip(in, vt, last.toInt)
    case ChTuple(fields) =>
      fields.foreach { case (_, ft) => skip(in, ft, rows) }
    case lc: ChLowCardinality =>
      // must parse the dictionary structure to find the column's end
      val version = in.readLongLE()
      if (version != 1L) throw new UnsupportedColumnException(lc.name)
      val serType = in.readLongLE()
      if ((serType & LcHasAdditionalKeys) == 0)
        throw new UnsupportedColumnException(lc.name)
      val inner = lc.inner match { case ChNullable(i) => i; case i => i }
      val dictSize = in.readLongLE().toInt
      skip(in, inner, dictSize)
      val n = in.readLongLE().toInt
      val width = (serType & LcIndexWidthMask).toInt match {
        case 0 => 1; case 1 => 2; case 2 => 4; case _ => 8
      }
      in.skipFully(width.toLong * n)
    case other => throw new UnsupportedColumnException(other.name)
  }

  /** Encode a column of Catalyst values (inverse of decode). */
  def encode(out: Output, t: ChType, values: Array[Any]): Unit = t match {
    case ChString =>
      var i = 0
      while (i < values.length) {
        values(i) match {
          case u: UTF8String => // UTF-8 bytes pass through, no String round trip
            val b = u.getBytes
            out.writeVarUInt(b.length.toLong)
            out.writeBytes(b)
          case other => out.writeString(String.valueOf(other))
        }
        i += 1
      }
    case ChFixedString(n) =>
      // CH INSERT semantics: shorter values NUL-pad to n bytes, longer
      // ones are an error (decode's sanitize strips the padding back).
      // Interior NULs are REJECTED here: decode's sanitize strips ALL
      // NUL bytes (reference parity — lib.rs sanitizes the whole
      // value, not just the tail), so a value containing one would
      // silently fail to round-trip. FixedString support is therefore
      // text-only; binary payloads belong in String columns.
      var i = 0
      while (i < values.length) {
        val b = values(i) match {
          case u: UTF8String => u.getBytes
          case other => String.valueOf(other).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        if (b.length > n) throw new IllegalArgumentException(
          s"clickhouse_native FixedString($n): value of ${b.length} bytes is too long")
        if (b.contains(0.toByte)) throw new IllegalArgumentException(
          s"clickhouse_native FixedString($n): interior NUL bytes do not " +
            "round-trip (decode sanitizes all NULs, matching the reference); " +
            "FixedString is text-only — use String for binary payloads")
        out.writeBytes(b)
        var p = b.length
        while (p < n) { out.writeByte(0); p += 1 }
        i += 1
      }
    case ChUInt8 | ChInt8 =>
      var i = 0
      while (i < values.length) { out.writeByte(values(i).asInstanceOf[Number].intValue() & 0xff); i += 1 }
    case ChBool =>
      var i = 0
      while (i < values.length) { out.writeByte(if (values(i).asInstanceOf[Boolean]) 1 else 0); i += 1 }
    case ChUInt16 | ChInt16 | ChDate =>
      var i = 0
      while (i < values.length) { out.writeShortLE(values(i).asInstanceOf[Number].shortValue()); i += 1 }
    case ChUInt32 | ChInt32 | ChDate32 =>
      var i = 0
      while (i < values.length) { out.writeIntLE(values(i).asInstanceOf[Number].intValue()); i += 1 }
    case d: ChDecimal =>
      var i = 0
      if (d.byteWidth <= 8) {
        while (i < values.length) {
          val unscaled = values(i).asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong
          if (d.byteWidth == 4) out.writeIntLE(unscaled.toInt) else out.writeLongLE(unscaled)
          i += 1
        }
      } else {
        // Decimal128 tier: unscaled BigInteger → 16 LE bytes,
        // sign-extended two's complement (inverse of decode)
        while (i < values.length) {
          val unscaled = values(i).asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal.setScale(d.scale).unscaledValue()
          val be = unscaled.toByteArray // big-endian, minimal length
          val fill = if (unscaled.signum() < 0) 0xff else 0x00
          var j = 0
          while (j < 16) {
            val k = be.length - 1 - j // byte index counted from the LSB
            out.writeByte(if (k >= 0) be(k) & 0xff else fill)
            j += 1
          }
          i += 1
        }
      }
    case ChUInt64 | ChInt64 =>
      var i = 0
      while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Number].longValue()); i += 1 }
    case e @ ChEnum8(_) =>
      // label → declared Int8 code; an undeclared label fails loudly
      // (ClickHouse likewise rejects unknown enum values at INSERT)
      var i = 0
      while (i < values.length) {
        val label = String.valueOf(values(i))
        out.writeByte(e.byLabel.getOrElse(label, throw new IllegalArgumentException(
          s"clickhouse_native ${e.name}: '$label' is not a declared enum value")).toInt & 0xff)
        i += 1
      }
    case e @ ChEnum16(_) =>
      var i = 0
      while (i < values.length) {
        val label = String.valueOf(values(i))
        out.writeShortLE(e.byLabel.getOrElse(label, throw new IllegalArgumentException(
          s"clickhouse_native ${e.name}: '$label' is not a declared enum value")))
        i += 1
      }
    case ChFloat32 =>
      var i = 0
      while (i < values.length) { out.writeFloatLE(values(i).asInstanceOf[Float]); i += 1 }
    case ChFloat64 =>
      var i = 0
      while (i < values.length) { out.writeDoubleLE(values(i).asInstanceOf[Double]); i += 1 }
    case ChDateTime(_) =>
      var i = 0
      while (i < values.length) { out.writeIntLE((values(i).asInstanceOf[Long] / 1000000L).toInt); i += 1 }
    case ChDateTime64(p, _) =>
      // Catalyst micros → 10^-p ticks; p > 6 needs a multiply (the
      // inverse of decode's divide), not 10^(6-p).toLong which is 0.
      var i = 0
      if (p <= 6) {
        val div = math.pow(10, 6 - p).toLong
        while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Long] / div); i += 1 }
      } else {
        val mul = math.pow(10, p - 6).toLong
        while (i < values.length) { out.writeLongLE(values(i).asInstanceOf[Long] * mul); i += 1 }
      }
    case ChNullable(inner) =>
      var i = 0
      while (i < values.length) { out.writeByte(if (values(i) == null) 1 else 0); i += 1 }
      val defaults = values.map(v => if (v == null) defaultValue(inner) else v)
      encode(out, inner, defaults)
    case at @ ChArray(inner) =>
      // ClickHouse has no Nullable(Array/Map/Tuple), so forSpark maps a
      // nullable Spark container column to a bare container type; a null
      // cell reaching here degrades to the empty container (same
      // null→default rule as the ChNullable inner-column encode above).
      val vs = nullsToDefault(at, values)
      var cum = 0L
      var i = 0
      while (i < vs.length) {
        cum += vs(i).asInstanceOf[ArrayData].numElements()
        out.writeLongLE(cum)
        i += 1
      }
      val flat = vs.flatMap(v => v.asInstanceOf[ArrayData].toObjectArray(inner.sparkType))
      encode(out, inner, flat.asInstanceOf[Array[Any]])
    case lc: ChLowCardinality =>
      encodeLowCardinality(out, lc, values)
    case mt @ ChMap(kt, vt) =>
      val vs = nullsToDefault(mt, values)
      var cum = 0L
      var i = 0
      while (i < vs.length) {
        cum += vs(i).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].numElements()
        out.writeLongLE(cum)
        i += 1
      }
      val flatK = vs.flatMap(v =>
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].keyArray().toObjectArray(kt.sparkType))
      val flatV = vs.flatMap(v =>
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].valueArray().toObjectArray(vt.sparkType))
      encode(out, kt, flatK.asInstanceOf[Array[Any]])
      encode(out, vt, flatV.asInstanceOf[Array[Any]])
    case tt @ ChTuple(fields) =>
      val values2 = nullsToDefault(tt, values)
      var f = 0
      while (f < fields.length) {
        val ft = fields(f)._2
        val col = new Array[Any](values2.length)
        var i = 0
        while (i < values2.length) {
          val r = values2(i).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          col(i) = if (r.isNullAt(f)) null else r.get(f, ft.sparkType)
          i += 1
        }
        encode(out, ft, col)
        f += 1
      }
    case ChUuid =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        val u = try java.util.UUID.fromString(s)
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"clickhouse_native UUID column: '$s' is not a UUID") }
        out.writeLongLE(u.getMostSignificantBits)
        out.writeLongLE(u.getLeastSignificantBits)
        i += 1
      }
    case ChIPv4 =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        val parts = s.split('.')
        def oct(p: String): Int = {
          val v = p.toIntOption.getOrElse(-1)
          if (v < 0 || v > 255) throw new IllegalArgumentException(
            s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
          v
        }
        if (parts.length != 4) throw new IllegalArgumentException(
          s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
        out.writeIntLE((oct(parts(0)) << 24) | (oct(parts(1)) << 16) |
          (oct(parts(2)) << 8) | oct(parts(3)))
        i += 1
      }
    case ChIPv6 =>
      var i = 0
      while (i < values.length) {
        val s = String.valueOf(values(i))
        // literal guard: ':' never appears in hostnames, so getByName
        // on a colon-containing string can never trigger a DNS lookup;
        // anything without a colon is rejected before the call
        if (s.indexOf(':') < 0 || !s.forall(c =>
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
            (c >= 'A' && c <= 'F') || c == ':' || c == '.'))
          throw new IllegalArgumentException(
            s"clickhouse_native IPv6 column: '$s' is not an IPv6 literal")
        val addr = try java.net.InetAddress.getByName(s)
          catch { case _: java.net.UnknownHostException =>
            throw new IllegalArgumentException(
              s"clickhouse_native IPv6 column: '$s' is not an IPv6 literal") }
        val bytes = addr.getAddress match {
          case b16 if b16.length == 16 => b16
          case b4 => // v4-mapped literal parsed as Inet4Address → re-embed
            val b = new Array[Byte](16)
            b(10) = -1; b(11) = -1
            System.arraycopy(b4, 0, b, 12, 4)
            b
        }
        out.writeBytes(bytes)
        i += 1
      }
    case other =>
      throw new UnsupportedColumnException(other.name)
  }

  /**
   * Inverse of [[decodeLowCardinality]]: per-block dictionary + indices
   * (keys version 1, shared-with-additional-keys). For
   * `LowCardinality(Nullable(T))`, dictionary slot 0 holds the inner
   * type's default and index 0 means null — the layout ClickHouse
   * itself writes and our reader expects. Index width is the smallest
   * class that addresses the dictionary.
   */
  private def encodeLowCardinality(out: Output, lc: ChLowCardinality, values: Array[Any]): Unit = {
    val (inner, nullable) = lc.inner match {
      case ChNullable(i) => (i, true)
      case i => (i, false)
    }
    val dict = new scala.collection.mutable.ArrayBuffer[Any]()
    val slot = new java.util.HashMap[Any, Integer]()
    if (nullable) dict += defaultValue(inner) // slot 0 = null stand-in
    val indices = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      indices(i) =
        if (nullable && v == null) 0
        else {
          var s = slot.get(v)
          if (s == null) { s = Integer.valueOf(dict.length); slot.put(v, s); dict += v }
          s.intValue()
        }
      i += 1
    }
    val widthClass =
      if (dict.length <= 0xff) 0
      else if (dict.length <= 0xffff) 1
      else 2 // a 64 KiB-row block cannot exceed UInt32 dictionary slots
    out.writeLongLE(1L) // keys serialization version
    out.writeLongLE(LcHasAdditionalKeys | widthClass.toLong)
    out.writeLongLE(dict.length.toLong)
    encode(out, inner, dict.toArray)
    out.writeLongLE(values.length.toLong)
    i = 0
    while (i < values.length) {
      widthClass match {
        case 0 => out.writeByte(indices(i))
        case 1 => out.writeShortLE(indices(i).toShort)
        case _ => out.writeIntLE(indices(i))
      }
      i += 1
    }
  }

  /** Replace null container cells with the type's empty/default value
    * (allocation-free when the column has no nulls — the common case). */
  private def nullsToDefault(t: ChType, values: Array[Any]): Array[Any] = {
    var i = 0
    var hasNull = false
    while (i < values.length && !hasNull) { hasNull = values(i) == null; i += 1 }
    if (!hasNull) values
    else values.map(v => if (v == null) defaultValue(t) else v)
  }

  private def defaultValue(t: ChType): Any = t match {
    // a nullable slot's default IS null — its own encode writes the
    // null mask and substitutes the inner default (only reachable from
    // container defaults, e.g. a tuple with nullable fields)
    case _: ChNullable => null
    // an enum's default must be an ENCODABLE label (the null-slot
    // stand-in under Nullable) — use the first declared value, which is
    // also ClickHouse's implicit enum default
    case e: ChEnum8 => UTF8String.fromString(e.values.head._1)
    case e: ChEnum16 => UTF8String.fromString(e.values.head._1)
    case ChString | _: ChFixedString => UTF8String.fromString("")
    // CH defaults for the decoded-string network types (null slots
    // under Nullable encode these placeholder bytes)
    case ChUuid => UTF8String.fromString("00000000-0000-0000-0000-000000000000")
    case ChIPv4 => UTF8String.fromString("0.0.0.0")
    case ChIPv6 => UTF8String.fromString("0:0:0:0:0:0:0:0")
    case ChBool => java.lang.Boolean.FALSE
    case ChUInt8 | ChInt8 | ChUInt16 | ChInt16 | ChInt32 | ChDate | ChDate32 => Integer.valueOf(0)
    case ChFloat32 => java.lang.Float.valueOf(0f)
    case ChFloat64 => java.lang.Double.valueOf(0d)
    case d: ChDecimal => org.apache.spark.sql.types.Decimal(0L, d.precision, d.scale)
    case _: ChArray => new GenericArrayData(Array.empty[Any])
    case _: ChMap => new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
    case ChTuple(fields) => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      fields.map(f => defaultValue(f._2)).toArray)
    case _ => java.lang.Long.valueOf(0L)
  }
}

final class UnsupportedColumnException(val typeName: String)
  extends RuntimeException(s"<unsupported:$typeName>")
