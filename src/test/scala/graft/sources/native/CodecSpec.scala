package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.scalatest.funsuite.AnyFunSuite

class CodecSpec extends AnyFunSuite {

  private def roundTripVarUInt(v: Long): Long = {
    val bos = new ByteArrayOutputStream()
    new NativeCodec.Output(bos).writeVarUInt(v)
    new NativeCodec.Input(new ByteArrayInputStream(bos.toByteArray)).readVarUInt()
  }

  test("VarUInt single-byte values") {
    for (v <- Seq(0L, 1L, 127L)) assert(roundTripVarUInt(v) === v)
  }

  test("VarUInt multi-byte boundaries") {
    for (v <- Seq(128L, 16383L, 16384L, Int.MaxValue.toLong, Long.MaxValue, -1L))
      assert(roundTripVarUInt(v) === v) // -1 = max u64
  }

  test("VarUInt property round-trip (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val v = rnd.nextLong() >>> rnd.nextInt(64)
      assert(roundTripVarUInt(v) === v)
    }
  }

  test("VarUInt rejects >10 bytes (reference src/lib.rs:190-193)") {
    val bytes = Array.fill[Byte](11)(0x80.toByte)
    intercept[java.io.IOException] {
      new NativeCodec.Input(new ByteArrayInputStream(bytes)).readVarUInt()
    }
  }

  test("string sanitize strips NUL and U+FFFD (reference src/lib.rs:73-74)") {
    assert(NativeCodec.sanitize("a\u0000b\uFFFDc") === "abc")
    assert(NativeCodec.sanitize("plain") === "plain")
  }

  test("type parser: scalars") {
    import ChType._
    assert(ChType.parse("String") === ChString)
    assert(ChType.parse("UInt8") === ChUInt8)
    assert(ChType.parse("UInt64") === ChUInt64)
    assert(ChType.parse("Int32") === ChInt32)
    assert(ChType.parse("Int") === ChInt32) // reference alias src/lib.rs:130
    assert(ChType.parse("Float64") === ChFloat64)
    assert(ChType.parse("Date") === ChDate)
    assert(ChType.parse("DateTime") === ChDateTime(None))
    assert(ChType.parse("DateTime('UTC')") === ChDateTime(Some("UTC")))
    assert(ChType.parse("DateTime64(3)") === ChDateTime64(3, None))
    assert(ChType.parse("FixedString(4)") === ChFixedString(4))
  }

  test("type parser: nested") {
    import ChType._
    assert(ChType.parse("Nullable(String)") === ChNullable(ChString))
    assert(ChType.parse("Array(Float32)") === ChArray(ChFloat32))
    assert(ChType.parse("Array(Nullable(Int64))") === ChArray(ChNullable(ChInt64)))
    assert(ChType.parse("LowCardinality(String)") === ChLowCardinality(ChString))
  }

  test("type parser: Enum8 params (reference src/lib.rs:78-104)") {
    import ChType._
    ChType.parse("Enum8('a' = 1, 'b' = 2)") match {
      case e: ChEnum8 =>
        assert(e.byCode(1.toByte) === "a")
        assert(e.byCode(2.toByte) === "b")
      case other => fail(s"expected ChEnum8, got $other")
    }
    // malformed pairs skipped, valid ones kept (src/lib.rs:87-97)
    ChType.parse("Enum8('a' = 1, garbage, 'c' = 3)") match {
      case e: ChEnum8 => assert(e.values.map(_._1) === Seq("a", "c"))
      case other => fail(s"$other")
    }
    // empty param list → unsupported (src/lib.rs:81-83)
    assert(ChType.parse("Enum8()").isInstanceOf[ChUnsupported])
  }

  test("type parser: wide ints and wide decimals decode as exact strings") {
    import ChType._
    // UUID graduated to a native decode in round 10 (NetworkTypesSpec)
    assert(ChType.parse("UUID") === ChUuid)
    assert(ChType.parse("IPv4") === ChIPv4)
    assert(ChType.parse("IPv6") === ChIPv6)
    // round 10: wide ints decode to exact decimal strings (previously
    // the opaque `<unsupported:T>` sentinel)
    assert(ChType.parse("Int128") === ChBigInt("Int128", 16, signed = true))
    assert(ChType.parse("UInt128") === ChBigInt("UInt128", 16, signed = false))
    assert(ChType.parse("Int256") === ChBigInt("Int256", 32, signed = true))
    assert(ChType.parse("UInt256") === ChBigInt("UInt256", 32, signed = false))
    // beyond Spark's 38-digit DecimalType cap → exact string form
    assert(ChType.parse("Decimal(39, 2)") === ChWideDecimal("Decimal(39, 2)", 32, 2))
    assert(ChType.parse("Decimal256(4)") === ChWideDecimal("Decimal256(4)", 32, 4))
    // SimpleAggregateFunction stores plain T — decodes as T
    assert(ChType.parse("SimpleAggregateFunction(sum, UInt64)") === ChUInt64)
    assert(ChType.parse("SimpleAggregateFunction(max, Nullable(String))") ===
      ChNullable(ChString))
    // AggregateFunction state bytes stay unsupported (opaque, variable width)
    assert(ChType.parse("AggregateFunction(sum, UInt64)").isInstanceOf[ChUnsupported])
  }

  test("type parser: geo aliases expand to their structural layouts") {
    import ChType._
    val point = ChTuple(Seq(None -> ChFloat64, None -> ChFloat64))
    assert(ChType.parse("Point") === point)
    assert(ChType.parse("Ring") === ChArray(point))
    assert(ChType.parse("Polygon") === ChArray(ChArray(point)))
    assert(ChType.parse("MultiPolygon") === ChArray(ChArray(ChArray(point))))
    // decode check on hand-built bytes: one Point = two LE Float64s
    val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(1.5); bb.putDouble(-2.25)
    val row = decodeBytes(point, 1, bb.array())(0)
      .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    assert(row.getDouble(0) === 1.5)
    assert(row.getDouble(1) === -2.25)
  }

  test("wide-int wire layout: LE two's complement / unsigned (hand-built bytes)") {
    import ChType._
    // Int128 = -1 → 16 0xFF bytes; UInt128 over the same bytes = 2^128-1
    val allFF = Array.fill[Byte](16)(0xff.toByte)
    assert(String.valueOf(decodeBytes(ChBigInt("Int128", 16, signed = true), 1, allFF)(0)) === "-1")
    assert(String.valueOf(decodeBytes(ChBigInt("UInt128", 16, signed = false), 1, allFF)(0)) ===
      java.math.BigInteger.TWO.pow(128).subtract(java.math.BigInteger.ONE).toString)
    // 2^64 as Int128: byte 8 (0-indexed) = 1 in LE
    val p64 = new Array[Byte](16); p64(8) = 1
    assert(String.valueOf(decodeBytes(ChBigInt("Int128", 16, signed = true), 1, p64)(0)) ===
      "18446744073709551616")
    // Int256 = -2 → two's complement FE FF ... FF in LE
    val neg2 = Array.fill[Byte](32)(0xff.toByte); neg2(0) = 0xfe.toByte
    assert(String.valueOf(decodeBytes(ChBigInt("Int256", 32, signed = true), 1, neg2)(0)) === "-2")
    // Decimal256 scale 4 over unscaled -2 → "-0.0002"
    assert(String.valueOf(decodeBytes(ChWideDecimal("Decimal256(4)", 32, 4), 1, neg2)(0)) ===
      "-0.0002")
    // a 40-digit unscaled value renders exactly (beyond any 128-bit type)
    val big = new java.math.BigInteger("9" * 40)
    val beB = big.toByteArray
    val le40 = new Array[Byte](32)
    for (j <- 0 until beB.length) le40(j) = beB(beB.length - 1 - j)
    assert(String.valueOf(decodeBytes(ChWideDecimal("Decimal(40, 2)", 32, 2), 1, le40)(0)) ===
      "9" * 38 + "." + "99")
  }

  test("type parser: Map and Tuple decode natively (incl. named elements)") {
    import ChType._
    assert(ChType.parse("Map(String, Int64)") === ChMap(ChString, ChInt64))
    assert(ChType.parse("Map(String, Nullable(String))") ===
      ChMap(ChString, ChNullable(ChString)))
    assert(ChType.parse("Tuple(String, Int64)") ===
      ChTuple(Seq(None -> ChString, None -> ChInt64)))
    assert(ChType.parse("Tuple(a String, b Decimal(18, 4))") ===
      ChTuple(Seq(Some("a") -> ChString, Some("b") -> ChDecimal(18, 4))))
    // sparkType mapping: unnamed elements become _1, _2
    val st = ChType.parse("Tuple(String, Int64)").sparkType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq === Seq("_1", "_2"))
  }

  test("type parser: decimals P<=38 and Date32 decode natively") {
    import ChType._
    assert(ChType.parse("Decimal(10, 2)") === ChDecimal(10, 2))
    assert(ChType.parse("Decimal32(4)") === ChDecimal(9, 4))
    assert(ChType.parse("Decimal64(6)") === ChDecimal(18, 6))
    // round 10: the Decimal128 tier maps losslessly onto Spark's
    // DecimalType (its precision cap is exactly 38)
    assert(ChType.parse("Decimal(22, 2)") === ChDecimal(22, 2))
    assert(ChType.parse("Decimal(38, 10)") === ChDecimal(38, 10))
    assert(ChType.parse("Decimal128(4)") === ChDecimal(38, 4))
    assert(ChType.parse("Date32") === ChDate32)
    assert(ChDecimal(9, 2).byteWidth === 4)
    assert(ChDecimal(18, 4).byteWidth === 8)
    assert(ChDecimal(19, 4).byteWidth === 16)
    assert(ChDecimal(38, 4).byteWidth === 16)
  }

  test("type parser: Enum16 params (2-byte code range)") {
    import ChType._
    ChType.parse("Enum16('hot' = 300, 'cold' = -2)") match {
      case e: ChEnum16 =>
        assert(e.byCode(300.toShort) === "hot")
        assert(e.byCode((-2).toShort) === "cold")
      case other => fail(s"expected ChEnum16, got $other")
    }
    // a code outside Int16 is a malformed pair → skipped; all pairs
    // malformed → unsupported (same degradation ladder as Enum8)
    assert(ChType.parse("Enum16('x' = 40000)").isInstanceOf[ChUnsupported])
    assert(ChType.parse("Enum16()").isInstanceOf[ChUnsupported])
  }

  /** Decode `rows` values of `t` from raw wire bytes. */
  private def decodeBytes(t: ChType, rows: Int, bytes: Array[Byte]): Array[Any] =
    DecodedValues.decode(t, rows, bytes)

  private def encodeBytes(t: ChType, values: Array[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    ColumnCodec.encode(out, t, NativeColumn("c", t, values).vector, values.length)
    out.flush()
    bos.toByteArray
  }

  private def utf8(ss: String*): Array[Any] =
    ss.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  test("Decimal128 wire layout: 16-byte LE two's complement (hand-built bytes)") {
    import ChType._
    val t = ChDecimal(38, 2)
    // -1.00 → unscaled -100 = 0x...FF9C (two's complement) → LE bytes
    // 9C FF FF ... FF; +1.00 → unscaled 100 → 64 00 ... 00
    val neg = Array.fill[Byte](16)(0xff.toByte); neg(0) = 0x9c.toByte
    val pos = new Array[Byte](16); pos(0) = 0x64.toByte
    val decoded = decodeBytes(t, 2, neg ++ pos)
    assert(decoded(0).asInstanceOf[org.apache.spark.sql.types.Decimal]
      .toJavaBigDecimal === new java.math.BigDecimal("-1.00"))
    assert(decoded(1).asInstanceOf[org.apache.spark.sql.types.Decimal]
      .toJavaBigDecimal === new java.math.BigDecimal("1.00"))
    // encode is the exact inverse on the same values
    assert(encodeBytes(t, decoded).toSeq === (neg ++ pos).toSeq)
  }

  test("Decimal128 round-trip at the 38-digit extremes") {
    import ChType._
    val t = ChDecimal(38, 6)
    val vals = Seq("99999999999999999999999999999999.999999",
      "-99999999999999999999999999999999.999999", "0.000000",
      "12345678901234567890.123456", "-0.000001").map(s =>
      org.apache.spark.sql.types.Decimal(BigDecimal(s), 38, 6): Any).toArray
    val decoded = decodeBytes(t, vals.length, encodeBytes(t, vals))
    decoded.zip(vals).foreach { case (d, v) =>
      assert(d.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal ===
        v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
    }
  }

  test("Enum16 wire layout: Int16 LE codes (hand-built bytes)") {
    import ChType._
    val t = ChEnum16(Seq("hot" -> 300.toShort, "cold" -> (-2).toShort))
    // 300 = 0x012C → LE 2C 01; -2 = 0xFFFE → LE FE FF; 7 undeclared
    val bytes = Array[Byte](0x2c, 0x01, 0xfe.toByte, 0xff.toByte, 0x07, 0x00)
    assert(decodeBytes(t, 3, bytes).map(String.valueOf(_)).toSeq ===
      Seq("hot", "cold", "Unknown(7)"))
    // encode: declared labels invert; an undeclared label fails loudly
    assert(encodeBytes(t, utf8("hot", "cold")).toSeq === bytes.take(4).toSeq)
    intercept[IllegalArgumentException] { encodeBytes(t, utf8("warm")) }
  }

  test("FixedString encode: NUL-pad short, reject too-long (CH INSERT semantics)") {
    import ChType._
    val t = ChFixedString(4)
    val bytes = encodeBytes(t, utf8("ab", "wxyz"))
    assert(bytes.toSeq === "ab".getBytes.toSeq ++ Seq[Byte](0, 0) ++ "wxyz".getBytes.toSeq)
    // decode strips the padding back (sanitize)
    assert(decodeBytes(t, 2, bytes).map(String.valueOf(_)).toSeq === Seq("ab", "wxyz"))
    intercept[IllegalArgumentException] { encodeBytes(t, utf8("toolong")) }
    // interior NULs don't round-trip (decode sanitizes ALL NULs,
    // reference parity) — reject at encode rather than corrupt silently
    intercept[IllegalArgumentException] {
      encodeBytes(t, utf8("a\u0000b"))
    }
  }

  test("Enum8 encode inverts decode; undeclared label fails loudly") {
    import ChType._
    val t = ChEnum8(Seq("a" -> 1.toByte, "b" -> (-3).toByte))
    val bytes = Array[Byte](1, -3)
    assert(decodeBytes(t, 2, bytes).map(String.valueOf(_)).toSeq === Seq("a", "b"))
    assert(encodeBytes(t, utf8("a", "b")).toSeq === bytes.toSeq)
    intercept[IllegalArgumentException] { encodeBytes(t, utf8("z")) }
  }
}
