package graft.sources.native

import graft.SparkTestBase
import graft.sources.native.ChType.{ChIPv4, ChIPv6, ChNullable, ChUuid}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * UUID / IPv4 / IPv6 native columns (round 10 — previously the
 * `<unsupported:T>` sentinel, the reference's floor for all three,
 * lib.rs:137).
 *
 * The wire layouts pinned here are the PUBLIC ones every ClickHouse
 * client implements (clickhouse-driver's UUIDColumn packs `<2Q` =
 * little-endian high half then little-endian low half; IPv4Column is
 * a UInt32 of the numeric address; IPv6Column is FixedString(16) of
 * the network-order bytes). The hand-built byte fixtures below are
 * INDEPENDENT of this repo's encoder, so a consistently-wrong
 * encode/decode pair cannot self-certify.
 */
class NetworkTypesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def decodeOne(t: ChType, bytes: Array[Byte], rows: Int): Seq[String] =
    DecodedValues.decode(t, rows, bytes).map(String.valueOf(_)).toSeq

  test("UUID wire layout: LE(msb) ++ LE(lsb) decodes to the canonical string") {
    // 00010203-0405-0607-0809-0a0b0c0d0e0f: msb = 0x0001020304050607,
    // lsb = 0x08090a0b0c0d0e0f — little-endian on the wire
    val bytes = Array[Byte](
      0x07, 0x06, 0x05, 0x04, 0x03, 0x02, 0x01, 0x00,
      0x0f, 0x0e, 0x0d, 0x0c, 0x0b, 0x0a, 0x09, 0x08)
    assert(decodeOne(ChUuid, bytes, 1) === Seq("00010203-0405-0607-0809-0a0b0c0d0e0f"))
  }

  test("IPv4 wire layout: numeric address as UInt32 LE") {
    // 1.2.3.4 = 0x01020304 → LE bytes 04 03 02 01
    val bytes = Array[Byte](0x04, 0x03, 0x02, 0x01)
    assert(decodeOne(ChIPv4, bytes, 1) === Seq("1.2.3.4"))
    // 255.255.255.255 exercises the unsigned read
    assert(decodeOne(ChIPv4, Array[Byte](-1, -1, -1, -1), 1) === Seq("255.255.255.255"))
  }

  test("IPv6 wire layout: 16 network-order bytes, expanded lowercase render") {
    // 2001:0db8:0000:0000:0000:0000:0000:0001
    val bytes = Array[Byte](0x20, 0x01, 0x0d, 0xb8.toByte,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1)
    assert(decodeOne(ChIPv6, bytes, 1) === Seq("2001:db8:0:0:0:0:0:1"))
  }

  test("encode ∘ decode is identity for canonical strings (incl. nullable)") {
    val uuids = Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString("123e4567-e89b-12d3-a456-426614174000"),
      org.apache.spark.unsafe.types.UTF8String.fromString("ffffffff-ffff-ffff-ffff-ffffffffffff"),
      null)
    val bos = new java.io.ByteArrayOutputStream()
    ColumnCodec.encode(new NativeCodec.Output(new java.io.DataOutputStream(bos)),
      ChNullable(ChUuid), NativeColumn("u", ChNullable(ChUuid), uuids).vector, uuids.length)
    val back = DecodedValues.decode(ChNullable(ChUuid), 3, bos.toByteArray)
    assert(String.valueOf(back(0)) === "123e4567-e89b-12d3-a456-426614174000")
    assert(String.valueOf(back(1)) === "ffffffff-ffff-ffff-ffff-ffffffffffff")
    assert(back(2) === null)
  }

  test("IPv6 encoder accepts compressed and v4-mapped literals") {
    def enc(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      ColumnCodec.encode(new NativeCodec.Output(new java.io.DataOutputStream(bos)),
        ChIPv6, NativeColumn("ip", ChIPv6,
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(s))).vector, 1)
      bos.toByteArray
    }
    // compressed form round-trips through the expanded renderer
    assert(decodeOne(ChIPv6, enc("2001:db8::1"), 1) === Seq("2001:db8:0:0:0:0:0:1"))
    // v4-mapped literal re-embeds as ::ffff:a.b.c.d bytes
    assert(decodeOne(ChIPv6, enc("::ffff:1.2.3.4"), 1) === Seq("0:0:0:0:0:ffff:102:304"))
    // malformed input fails loudly, never reaches a resolver
    intercept[IllegalArgumentException] { enc("not-an-address") }
    intercept[IllegalArgumentException] { enc("2001:db8:::1x") }
  }

  test("columnTypes write option: binary on disk, same strings back, zone maps prune") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nettypes").toString
    val df = (0 until 1000).map { i =>
      (i.toLong,
        f"00000000-0000-4000-8000-${i}%012x",
        s"10.0.${i / 256}.${i % 256}",
        f"2001:db8:0:0:0:0:0:${i}%x")
    }.toDF("id", "u", "ip4", "ip6")
    df.write.format("clickhouse_native")
      .option("columnTypes", "u:UUID,ip4:IPv4,ip6:IPv6")
      .mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    // declared CH types round-trip through the header
    assert(back.schema("u").dataType === org.apache.spark.sql.types.StringType)
    val diff = back.join(df.withColumnRenamed("u", "u0")
        .withColumnRenamed("ip4", "ip40").withColumnRenamed("ip6", "ip60"), "id")
      .filter(col("u") =!= col("u0") || col("ip4") =!= col("ip40") ||
        col("ip6") =!= col("ip60"))
    assert(diff.count() === 0, "roundtrip must be string-identical")
    // the binary layout is 16 B/UUID vs 37 B as a String column — the
    // file must actually shrink (proves the override reached the wire)
    val plain = java.nio.file.Files.createTempDirectory("graft-nettypes-plain").toString
    df.write.format("clickhouse_native").option("dictionaryEncode", "off")
      .mode("overwrite").save(plain)
    def bytesOf(d: String): Long = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).map(_.length()).sum
    assert(bytesOf(dir) < bytesOf(plain),
      s"typed layout (${bytesOf(dir)} B) should be smaller than text (${bytesOf(plain)} B)")
    // string zone maps still prune on the decoded values
    val pruned = back.filter(col("u") === "00000000-0000-4000-8000-0000000003e9")
    assert(pruned.count() === 0)
  }

  test("columnTypes validation fails at plan time with a clear message") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "u")
    val dir = java.nio.file.Files.createTempDirectory("graft-nettypes-bad").toString
    val e1 = intercept[Exception] {
      df.write.format("clickhouse_native")
        .option("columnTypes", "nope:UUID").mode("overwrite").save(dir)
    }
    assert(e1.getMessage.contains("not in write schema"))
    val e2 = intercept[Exception] {
      df.write.format("clickhouse_native")
        .option("columnTypes", "id:UUID").mode("overwrite").save(dir)
    }
    assert(e2.getMessage.contains("decodes as"))
  }
}
