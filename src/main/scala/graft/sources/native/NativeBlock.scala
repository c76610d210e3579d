package graft.sources.native

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.native.ChType._
import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.execution.graft.RowToColumns
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarArray

/**
 * One column of a Native block: its wire name, its wire type and the
 * Spark vector that holds its values, in both directions. A read block
 * decodes into `vector` (of `chType.sparkType`); a block to write is
 * encoded from it ([[ColumnCodec.encode]], the inverse of decode). The
 * data writer appends rows into the vector with Spark's own
 * row-to-column converter, so a Spark byte or short column arrives as a
 * ByteType or ShortType vector under an Int8/Int16 wire type.
 */
final case class NativeColumn(name: String, chType: ChType, vector: WritableColumnVector)

object NativeColumn {
  /**
   * A column built from Catalyst values (UTF8String, boxed primitives,
   * Decimal, ArrayData, MapData, InternalRow or null, in row order),
   * appended into a vector by the same converter the data writer uses.
   * An input adapter for fixtures and hand-built files; it encodes
   * nothing itself.
   */
  def apply(name: String, chType: ChType, values: Array[Any]): NativeColumn = {
    val v = new OnHeapColumnVector(values.length, chType.sparkType)
    val append = RowToColumns(new StructType().add(name, chType.sparkType))
    val vs = Array[WritableColumnVector](v)
    values.foreach(x => append(new GenericInternalRow(Array[Any](x)), vs))
    NativeColumn(name, chType, v)
  }
}

/** A block to write: its columns, each vector holding `numRows` values,
  * and its row count (SURVEY §1.1). */
final case class NativeBlock(columns: Array[NativeColumn], numRows: Int)

/**
 * A decoded Native block. `header` lists every column's (name, type)
 * in wire order, pruned ones included; `columns` holds the decoded
 * ones. `numRows` comes from the block header, NOT from the decoded
 * columns — a fully-pruned block (`count(*)`: Catalyst requires zero
 * columns) still knows how many rows it carries.
 */
final case class DecodedBlock(header: Seq[(String, ChType)], columns: Array[NativeColumn],
    numRows: Int)

/**
 * Per-type column value codec. The reference's decode loop is
 * src/lib.rs:143-175 (String/UInt8/UInt64/Int32/Enum8, everything
 * else degraded to a sentinel string); ours covers the full §1.3
 * family and nests Nullable/Array/Map/Tuple.
 *
 * A Spark column vector is the one in-memory form of a column, in both
 * directions. There is one decode path: wire bytes go straight into
 * vectors, column-at-a-time — the columnar layout the wire format
 * already has — rather than the reference's row-at-a-time boxed-enum
 * cells (src/lib.rs:28-35). Every Native scan and every remote read
 * hands those vectors to Spark as `ColumnarBatch`es. And there is one
 * encode path, [[encode]], the exact inverse of [[decode]] over the
 * same vectors: re-encoding a decoded block reproduces its bytes. No
 * value is boxed between the wire and the query, either way.
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
   * (parity with the reference's sanitize, src/lib.rs:68-76). A value
   * longer than the scratch window is read as its bytes arrive
   * ([[Input.readBytes]]), never allocated at its claimed length.
   */
  private def putText(in: Input, v: WritableColumnVector, i: Int, len: Int): Unit = {
    val b =
      if (len > in.scratch.capacity) in.readBytes(len)
      else { in.readFully(in.scratch.array, 0, len); in.scratch.array }
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

  /** `rows` cumulative UInt64 end offsets, checked to rise and to fit an
    * Int, into `v`'s (offset, length) slots (none when `v` is null, for
    * skip); returns the element count of the flattened child stream. */
  private def offsets(in: Input, rows: Int, v: WritableColumnVector): Int = {
    var start = 0L
    chunks(in, rows, 8) { (b, first, n) =>
      var j = 0
      while (j < n) {
        val end = b.getLong(8 * j)
        if (end < start || end > Int.MaxValue)
          throw new IOException(s"Native array offset $end out of range after $start")
        if (v != null) v.putArray(first + j, start.toInt, (end - start).toInt)
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
    val width = lowCardinalityIndexWidth(in, lc)
    val (inner, nullable) = lowCardinalityInner(lc)
    val dictSize = narrow(in.readLongLE())
    val dict = new OnHeapColumnVector(dictSize, inner.sparkType)
    decode(in, inner, dictSize, dict)
    lowCardinalityRows(in, rows)
    val ids = new Array[Int](rows)
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

  /** The keys version and serialization type that open a LowCardinality
    * column; returns the byte width of its indices. */
  private def lowCardinalityIndexWidth(in: Input, lc: ChLowCardinality): Int = {
    val version = in.readLongLE()
    if (version != 1L)
      throw new UnsupportedColumnException(s"${lc.name} (keys version $version)")
    val serType = in.readLongLE()
    if ((serType & LcHasAdditionalKeys) == 0)
      throw new UnsupportedColumnException(s"${lc.name} (global dictionary)")
    (serType & LcIndexWidthMask).toInt match {
      case 0 => 1; case 1 => 2; case 2 => 4; case _ => 8
    }
  }

  /** The row count between a LowCardinality dictionary and its indices,
    * which must equal the block's. */
  private def lowCardinalityRows(in: Input, rows: Int): Unit = {
    val n = in.readLongLE()
    if (n != rows) throw new IOException(s"LowCardinality row count $n != block rows $rows")
  }

  /** The dictionary type of a LowCardinality column, and whether index 0 means null. */
  private def lowCardinalityInner(lc: ChLowCardinality): (ChType, Boolean) = lc.inner match {
    case ChNullable(i) => (i, true)
    case i => (i, false)
  }

  /** Row `j` of scalar vector `src` into row `i` of `dst` (same type). */
  private def copyValue(src: WritableColumnVector, j: Int, dst: WritableColumnVector, i: Int): Unit =
    if (src.isNullAt(j)) dst.putNull(i)
    else src.dataType match {
      case BooleanType => dst.putBoolean(i, src.getBoolean(j))
      case ByteType => dst.putByte(i, src.getByte(j))
      case ShortType => dst.putShort(i, src.getShort(j))
      case IntegerType | DateType => dst.putInt(i, src.getInt(j))
      case LongType | TimestampType | TimestampNTZType => dst.putLong(i, src.getLong(j))
      case FloatType => dst.putFloat(i, src.getFloat(j))
      case DoubleType => dst.putDouble(i, src.getDouble(j))
      case d: DecimalType => dst.putDecimal(i, src.getDecimal(j, d.precision, d.scale), d.precision)
      case StringType => val b = src.getBinary(j); dst.putByteArray(i, b, 0, b.length)
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
      while (i < rows) { in.skipFully(narrow(in.readVarUInt())); i += 1 }
    case ChNullable(inner) =>
      in.skipFully(rows.toLong)
      skip(in, inner, rows)
    case ChArray(inner) =>
      skip(in, inner, offsets(in, rows, null))
    case ChMap(kt, vt) =>
      val total = offsets(in, rows, null)
      skip(in, kt, total)
      skip(in, vt, total)
    case ChTuple(fields) =>
      fields.foreach { case (_, ft) => skip(in, ft, rows) }
    case lc: ChLowCardinality =>
      // must parse the dictionary structure to find the column's end
      val width = lowCardinalityIndexWidth(in, lc)
      skip(in, lowCardinalityInner(lc)._1, narrow(in.readLongLE()))
      lowCardinalityRows(in, rows)
      in.skipFully(width.toLong * rows)
    case other => throw new UnsupportedColumnException(other.name)
  }

  /**
   * Encode rows [0, rows) of `v` as `t` — the exact inverse of
   * [[decode]], over the same vectors: bulk little-endian writes for
   * fixed-width types through the output's scratch window, text
   * straight from UTF-8 bytes, null masks for Nullable, offsets then
   * child vectors for Array/Map (a child's values [0, total) in row
   * order, the layout both decode and the row converter build), struct
   * children for Tuple, and a per-block dictionary for LowCardinality.
   * Values are read by the vector's own type, so a LowCardinality
   * vector reads through its dictionary and a ByteType/ShortType
   * vector feeds an Int8/Int16 column. A null slot writes ClickHouse's
   * default for the type (zero, empty, the first enum label) — what a
   * Nullable column stores under its mask and what a null Array, Map or
   * Tuple cell degrades to (ClickHouse has no nullable containers).
   */
  def encode(out: Output, t: ChType, v: WritableColumnVector, rows: Int): Unit = t match {
    case ChString =>
      var i = 0
      while (i < rows) { out.writeText(v.getUTF8String(i)); i += 1 }
    case ChFixedString(n) =>
      // CH INSERT semantics: shorter values NUL-pad to n bytes, longer
      // ones are an error (decode's sanitize strips the padding back).
      // Interior NULs are REJECTED here: decode's sanitize strips ALL
      // NUL bytes (reference parity — lib.rs sanitizes the whole
      // value, not just the tail), so a value containing one would
      // silently fail to round-trip. FixedString support is therefore
      // text-only; binary payloads belong in String columns.
      var i = 0
      while (i < rows) {
        val b = if (v.isNullAt(i)) Array.emptyByteArray else v.getBinary(i)
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
    case ChUInt8 | ChInt8 => fill(out, rows, 1)((b, j, i) => b.put(j, intAt(v, i).toByte))
    case ChBool =>
      fill(out, rows, 1)((b, j, i) => b.put(j, (if (!v.isNullAt(i) && v.getBoolean(i)) 1 else 0).toByte))
    case ChUInt16 | ChInt16 | ChDate => fill(out, rows, 2)((b, j, i) => b.putShort(2 * j, intAt(v, i).toShort))
    case ChUInt32 => fill(out, rows, 4)((b, j, i) => b.putInt(4 * j, longAt(v, i).toInt))
    case ChInt32 | ChDate32 => fill(out, rows, 4)((b, j, i) => b.putInt(4 * j, intAt(v, i)))
    case ChUInt64 | ChInt64 => fill(out, rows, 8)((b, j, i) => b.putLong(8 * j, longAt(v, i)))
    case ChFloat32 => fill(out, rows, 4) { (b, j, i) =>
      b.putInt(4 * j, java.lang.Float.floatToIntBits(if (v.isNullAt(i)) 0f else v.getFloat(i)))
    }
    case ChFloat64 => fill(out, rows, 8) { (b, j, i) =>
      b.putLong(8 * j, java.lang.Double.doubleToLongBits(if (v.isNullAt(i)) 0d else v.getDouble(i)))
    }
    case d: ChDecimal =>
      // the unscaled integer of each Spark storage tier: Int, Long, or
      // big-endian two's-complement bytes sign-extended to 16 LE bytes
      d.byteWidth match {
        case 4 => fill(out, rows, 4)((b, j, i) => b.putInt(4 * j, intAt(v, i)))
        case 8 => fill(out, rows, 8)((b, j, i) => b.putLong(8 * j, longAt(v, i)))
        case w => fill(out, rows, w) { (b, j, i) =>
          val be = if (v.isNullAt(i)) Array[Byte](0) else v.getBinary(i)
          val sign: Byte = if (be(0) < 0) -1 else 0
          var k = 0
          while (k < w) { b.put(w * j + k, if (k < be.length) be(be.length - 1 - k) else sign); k += 1 }
        }
      }
    case ChDateTime(_) => fill(out, rows, 4)((b, j, i) => b.putInt(4 * j, (longAt(v, i) / 1000000L).toInt))
    case ChDateTime64(p, _) =>
      // Catalyst micros → 10^-p ticks; p > 6 needs a multiply (the
      // inverse of decode's divide), not 10^(6-p).toLong which is 0.
      if (p <= 6) {
        val div = math.pow(10, 6 - p).toLong
        fill(out, rows, 8)((b, j, i) => b.putLong(8 * j, longAt(v, i) / div))
      } else {
        val mul = math.pow(10, p - 6).toLong
        fill(out, rows, 8)((b, j, i) => b.putLong(8 * j, longAt(v, i) * mul))
      }
    // label → declared code; an undeclared label fails loudly (ClickHouse
    // likewise rejects unknown enum values at INSERT). The first declared
    // value is ClickHouse's implicit enum default.
    case e @ ChEnum8(_) => fill(out, rows, 1) { (b, j, i) =>
      b.put(j, if (v.isNullAt(i)) e.values.head._2 else enumCode(e.name, e.byLabel, v, i))
    }
    case e @ ChEnum16(_) => fill(out, rows, 2) { (b, j, i) =>
      b.putShort(2 * j, if (v.isNullAt(i)) e.values.head._2 else enumCode(e.name, e.byLabel, v, i))
    }
    case ChNullable(inner) =>
      fill(out, rows, 1)((b, j, i) => b.put(j, (if (v.isNullAt(i)) 1 else 0).toByte))
      encode(out, inner, v, rows)
    case ChArray(inner) =>
      encode(out, inner, v.arrayData(), writeOffsets(out, v, rows))
    case ChMap(kt, vt) =>
      val total = writeOffsets(out, v, rows)
      encode(out, kt, v.getChild(0), total)
      encode(out, vt, v.getChild(1), total)
    case ChTuple(fields) =>
      var f = 0
      while (f < fields.length) { encode(out, fields(f)._2, v.getChild(f), rows); f += 1 }
    case ChUuid => fill(out, rows, 16) { (b, j, i) =>
      if (v.isNullAt(i)) { b.putLong(16 * j, 0L); b.putLong(16 * j + 8, 0L) }
      else {
        val s = v.getUTF8String(i).toString
        val u = try java.util.UUID.fromString(s)
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"clickhouse_native UUID column: '$s' is not a UUID") }
        b.putLong(16 * j, u.getMostSignificantBits)
        b.putLong(16 * j + 8, u.getLeastSignificantBits)
      }
    }
    case ChIPv4 => fill(out, rows, 4) { (b, j, i) =>
      b.putInt(4 * j, if (v.isNullAt(i)) 0 else ipv4(v.getUTF8String(i).toString))
    }
    case ChIPv6 => fill(out, rows, 16) { (b, j, i) =>
      b.put(16 * j, if (v.isNullAt(i)) new Array[Byte](16) else ipv6(v.getUTF8String(i).toString))
    }
    case lc: ChLowCardinality =>
      encodeLowCardinality(out, lc, v, rows)
    case other =>
      throw new UnsupportedColumnException(other.name)
  }

  /**
   * Write `rows` values of `width` bytes in chunks through the output's
   * little-endian scratch window (the inverse of [[chunks]]);
   * `put(window, j, i)` stores row `i` at window slot `j`.
   */
  private def fill(out: Output, rows: Int, width: Int)(put: Put): Unit = {
    val b = out.scratch
    val perChunk = b.capacity / width
    var first = 0
    while (first < rows) {
      val n = math.min(perChunk, rows - first)
      var j = 0
      while (j < n) { put(b, j, first + j); j += 1 }
      out.writeBytes(b.array, 0, n * width)
      first += n
    }
  }

  /** One value store of [[fill]] (a trait, not a Function3, so rows stay unboxed). */
  private trait Put { def apply(b: ByteBuffer, j: Int, i: Int): Unit }

  /** Row `i` of an integer vector, 0 when null. */
  private def intAt(v: WritableColumnVector, i: Int): Int =
    if (v.isNullAt(i)) 0
    else v.dataType match {
      case ByteType => v.getByte(i)
      case ShortType => v.getShort(i)
      case _ => v.getInt(i)
    }

  private def longAt(v: WritableColumnVector, i: Int): Long = if (v.isNullAt(i)) 0L else v.getLong(i)

  private def enumCode[C](name: String, byLabel: Map[String, C], v: WritableColumnVector, i: Int): C = {
    val label = v.getUTF8String(i).toString
    byLabel.getOrElse(label, throw new IllegalArgumentException(
      s"clickhouse_native $name: '$label' is not a declared enum value"))
  }

  private def ipv4(s: String): Int = {
    val parts = s.split('.')
    def oct(p: String): Int = {
      val v = p.toIntOption.getOrElse(-1)
      if (v < 0 || v > 255) throw new IllegalArgumentException(
        s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
      v
    }
    if (parts.length != 4) throw new IllegalArgumentException(
      s"clickhouse_native IPv4 column: '$s' is not a dotted-quad address")
    (oct(parts(0)) << 24) | (oct(parts(1)) << 16) | (oct(parts(2)) << 8) | oct(parts(3))
  }

  private def ipv6(s: String): Array[Byte] = {
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
    addr.getAddress match {
      case b16 if b16.length == 16 => b16
      case b4 => // v4-mapped literal parsed as Inet4Address → re-embed
        val b = new Array[Byte](16)
        b(10) = -1; b(11) = -1
        System.arraycopy(b4, 0, b, 12, 4)
        b
    }
  }

  /** Cumulative UInt64 end offsets of `rows` Array/Map cells (a null cell
    * is empty); returns the element count of the flattened child stream. */
  private def writeOffsets(out: Output, v: WritableColumnVector, rows: Int): Int = {
    var end = 0L
    fill(out, rows, 8) { (b, j, i) =>
      if (!v.isNullAt(i)) {
        if (v.getArrayOffset(i) != end)
          throw new IllegalArgumentException(s"array cell $i does not start at element $end")
        end += v.getArrayLength(i)
      }
      b.putLong(8 * j, end)
    }
    end.toInt
  }

  /**
   * Inverse of [[decodeLowCardinality]]: per-block dictionary + indices
   * (keys version 1, shared-with-additional-keys). Dictionary entries
   * are the distinct values in first-seen order. For
   * `LowCardinality(Nullable(T))`, dictionary slot 0 holds the inner
   * type's default and index 0 means null — the layout ClickHouse
   * itself writes and our reader expects. Index width is the smallest
   * class that addresses the dictionary.
   */
  private def encodeLowCardinality(out: Output, lc: ChLowCardinality, v: WritableColumnVector,
      rows: Int): Unit = {
    val (inner, nullable) = lowCardinalityInner(lc)
    val cells = new ColumnarArray(v, 0, rows)
    val slot = new java.util.HashMap[Any, Integer]()
    val firstRow = new Array[Int](rows + 1) // dictionary slot → the row it came from
    var size = if (nullable) 1 else 0 // slot 0 = null stand-in
    val indices = new Array[Int](rows)
    var i = 0
    while (i < rows) {
      indices(i) =
        if (nullable && v.isNullAt(i)) 0
        else {
          val key = if (v.isNullAt(i)) null else cells.get(i, v.dataType)
          var s = slot.get(key)
          if (s == null) { s = Integer.valueOf(size); slot.put(key, s); firstRow(size) = i; size += 1 }
          s.intValue()
        }
      i += 1
    }
    val dict = new OnHeapColumnVector(size, v.dataType)
    if (nullable) dict.putNull(0) // encodes as the inner default
    var s = if (nullable) 1 else 0
    while (s < size) { copyValue(v, firstRow(s), dict, s); s += 1 }
    val widthClass =
      if (size <= 0xff) 0
      else if (size <= 0xffff) 1
      else 2 // a 64 KiB-row block cannot exceed UInt32 dictionary slots
    out.writeLongLE(1L) // keys serialization version
    out.writeLongLE(LcHasAdditionalKeys | widthClass.toLong)
    out.writeLongLE(size.toLong)
    encode(out, inner, dict, size)
    dict.close()
    out.writeLongLE(rows.toLong)
    widthClass match {
      case 0 => fill(out, rows, 1)((b, j, i) => b.put(j, indices(i).toByte))
      case 1 => fill(out, rows, 2)((b, j, i) => b.putShort(2 * j, indices(i).toShort))
      case _ => fill(out, rows, 4)((b, j, i) => b.putInt(4 * j, indices(i)))
    }
  }
}

final class UnsupportedColumnException(val typeName: String)
  extends RuntimeException(s"<unsupported:$typeName>")
