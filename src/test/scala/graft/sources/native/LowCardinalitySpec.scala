package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import graft.SparkTestBase

import org.scalatest.funsuite.AnyFunSuite

/**
 * LowCardinality dictionary wire-format decode — the type real
 * `clickhouse-local` output uses routinely, which the reference cannot
 * read at all (it emits sentinels without consuming bytes,
 * src/lib.rs:168-170, corrupting subsequent columns).
 */
class LowCardinalitySpec extends AnyFunSuite {

  /** Hand-encode one LC column body (dict + indices). */
  private def lcBody(out: NativeCodec.Output, dict: Seq[String], indices: Seq[Int],
      indexWidth: Int): Unit = {
    out.writeLongLE(1L) // keys serialization version
    out.writeLongLE(0x200L | indexWidth) // has-additional-keys | width class
    out.writeLongLE(dict.length.toLong)
    dict.foreach(out.writeString)
    out.writeLongLE(indices.length.toLong)
    indices.foreach { i =>
      indexWidth match {
        case 0 => out.writeByte(i)
        case 1 => out.writeShortLE(i.toShort)
        case 2 => out.writeIntLE(i)
        case _ => out.writeLongLE(i.toLong)
      }
    }
  }

  private def buildFile(tpe: String, dict: Seq[String], indices: Seq[Int],
      indexWidth: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(2) // n_columns
    out.writeVarUInt(indices.length.toLong) // n_rows
    out.writeString("tag")
    out.writeString(tpe)
    lcBody(out, dict, indices, indexWidth)
    out.writeString("id")
    out.writeString("Int64")
    indices.indices.foreach(i => out.writeLongLE(i.toLong))
    out.flush()
    bos.toByteArray
  }

  test("LowCardinality(String) decodes via dictionary lookup (UInt8 indices)") {
    val bytes = buildFile("LowCardinality(String)",
      Seq("x", "y", "z"), Seq(0, 1, 2, 1, 0), indexWidth = 0)
    val blocks = new NativeBlockReader(new ByteArrayInputStream(bytes))
    val b = blocks.next()
    assert(b.numRows === 5)
    assert(DecodedValues(b.columns(0).vector, b.numRows).map(String.valueOf(_)).toSeq ===
      Seq("x", "y", "z", "y", "x"))
    assert(DecodedValues(b.columns(1).vector, b.numRows).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("LowCardinality(Nullable(String)): index 0 is NULL (UInt16 indices)") {
    val bytes = buildFile("LowCardinality(Nullable(String))",
      Seq("", "a", "b"), Seq(0, 1, 2, 0, 1), indexWidth = 1)
    val b = new NativeBlockReader(new ByteArrayInputStream(bytes)).next()
    assert(DecodedValues(b.columns(0).vector, b.numRows).toSeq
      .map(v => if (v == null) null else v.toString) === Seq(null, "a", "b", null, "a"))
  }

  test("pruned LowCardinality column skips correctly (later columns aligned)") {
    val bytes = buildFile("LowCardinality(String)",
      Seq("x", "y"), Seq(0, 1, 0), indexWidth = 0)
    val blocks = new NativeBlockReader(new ByteArrayInputStream(bytes), Some(Set("id")))
    val b = blocks.next()
    assert(b.numRows === 3)
    assert(b.columns.map(_.name).toSeq === Seq("id"))
    assert(DecodedValues(b.columns(0).vector, b.numRows).toSeq === Seq(0L, 1L, 2L))
  }

  test("DSv2 end-to-end: schema inference + scan over a LowCardinality file") {
    val spark = SparkTestBase.spark
    val dir = Files.createTempDirectory("graft-lc")
    val f = dir.resolve("lc.clickhouse")
    Files.write(f, buildFile("LowCardinality(String)",
      Seq("alpha", "beta"), Seq(0, 1, 1, 0), indexWidth = 0))
    val df = spark.read.format("clickhouse_native").load(f.toString)
    assert(df.schema.map(_.dataType.simpleString).toSeq === Seq("string", "bigint"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("alpha", 0L), ("beta", 1L), ("beta", 2L), ("alpha", 3L)))
    assert(df.count() === 4)
  }

  test("Enum8 decodes declared labels and Unknown(N) fallback (reference src/lib.rs:157-166)") {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(1); out.writeVarUInt(4)
    out.writeString("status")
    out.writeString("Enum8('ok' = 1, 'err' = 2)")
    Seq(1, 2, 1, 9).foreach(out.writeByte) // 9 is undeclared
    out.flush()
    val b = new NativeBlockReader(new ByteArrayInputStream(bos.toByteArray)).next()
    assert(DecodedValues(b.columns(0).vector, b.numRows).map(String.valueOf(_)).toSeq ===
      Seq("ok", "err", "ok", "Unknown(9)"))
  }

  test("DateTime (32-bit epoch seconds) decodes to Catalyst micros") {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(1); out.writeVarUInt(2)
    out.writeString("t"); out.writeString("DateTime('UTC')")
    out.writeIntLE(1700000000); out.writeIntLE(0)
    out.flush()
    val b = new NativeBlockReader(new ByteArrayInputStream(bos.toByteArray)).next()
    assert(DecodedValues(b.columns(0).vector, b.numRows).toSeq === Seq(1700000000000000L, 0L))
  }

  test("readHeader names the column when an unknown type blocks inference") {
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(2); out.writeVarUInt(1)
    out.writeString("weird"); out.writeString("AggregateFunction(sum, UInt64)")
    out.flush()
    val e = intercept[java.io.IOException] {
      NativeBlockReader.readHeader(new ByteArrayInputStream(bos.toByteArray))
    }
    assert(e.getMessage.contains("weird"))
    assert(e.getMessage.contains("AggregateFunction"))
  }
}
