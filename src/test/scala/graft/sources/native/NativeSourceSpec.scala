package graft.sources.native

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import graft.SparkTestBase

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end DataSource V2 tests crossing the write→read boundary —
 * the layer the pure codec tests never exercised (which is how the
 * round-1 writer-aliasing and count(*)=0 bugs shipped).
 */
class NativeSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-native-$tag").toString + "/out"

  test("DSv2 roundtrip: nation (strings + ints) full-content equality") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
    val dir = tmpDir("nation")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    val a = src.collect().toSet
    val b = back.collect().toSet
    assert(b.size === a.size)
    assert(b === a)
    // the round-1 bug collapsed n_name to 2 distinct values on disk
    assert(back.select("n_name").distinct().count() === src.select("n_name").distinct().count())
  }

  test("DSv2 count(*) over native source (empty projection emits header rows)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/region.parquet")
    val dir = tmpDir("count")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.count() === src.count()) // round-1: returned 0
    assert(back.collect().length === src.count())
  }

  test("DSv2 roundtrip: doubles, timestamps, wider table (orders)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/orders.parquet")
    val dir = tmpDir("orders")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("DSv2 roundtrip: arrays of floats (embeddings)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val dir = tmpDir("emb")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    val a = src.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = back.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(b.keySet === a.keySet)
    assert(a.forall { case (k, v) => b(k) == v })
  }

  test("DSv2 roundtrip: decimals and pre-1970 dates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = Seq(
      (1L, BigDecimal("12345.67"), java.sql.Date.valueOf("1969-07-20")),
      (2L, BigDecimal("-0.01"), java.sql.Date.valueOf("2024-02-29")),
      (3L, BigDecimal("999999999.99"), java.sql.Date.valueOf("1900-01-01")))
      .toDF("id", "amount", "d")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))
    val dir = tmpDir("decimal")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.schema("amount").dataType.simpleString === "decimal(12,2)")
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("DSv2 roundtrip: nulls survive (Nullable wire layout)") {
    import spark.implicits._
    val src = Seq((1L, Some("x"), Some(1.5)), (2L, None, None), (3L, Some(""), Some(-0.0)))
      .toDF("id", "s", "d")
    val dir = tmpDir("nulls")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("the reference repo's own fixture decodes (foreign-file interop anchor)") {
    // /root/reference/numbers.clickhouse is the ONLY native-format file
    // in this sandbox not produced by our writer — emitted by real
    // `clickhouse-local ... FORMAT Native` (reference README.md:97-99):
    // 2 cols × 1 row, `version() String "24.12.1.1273"` + `number
    // UInt64 0` (SURVEY §1.1). Decoding it pins schema inference, the
    // String/UInt64 codecs and the foreign-file (no sidecar) read path
    // against independently produced bytes.
    val fx = "/root/reference/numbers.clickhouse"
    assume(new java.io.File(fx).canRead, s"$fx absent in this environment")
    val df = spark.read.format("clickhouse_native").load(fx)
    assert(df.schema.fieldNames.toSeq === Seq("version()", "number"))
    val row = df.head()
    assert(row.getString(0) === "24.12.1.1273")
    assert(row.getLong(1) === 0L)
    assert(df.count() === 1L)
    // and through the reference's exact SQL call surface
    val tvf = spark.sql(s"SELECT * FROM clickhouse_native('$fx')").collect()
    assert(tvf.length === 1 && tvf(0).getString(0) === "24.12.1.1273")
  }

  test("clickhouse_native TVF absent without the extension (negative registration)") {
    // Mirror of the reference's negative sqllogictest
    // (test/sql/chsql_native.test:6-9: before the extension loads,
    // `clickhouse_native(...)` is a catalog error): the TVF must come
    // from GraftExtensions' injectTableFunction, not from anything
    // engine-global — so Spark's BUILTIN table-function registry must
    // not know the name, while the extension session (previous test)
    // resolves it.
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry
    assert(!TableFunctionRegistry.builtin.functionExists(
      FunctionIdentifier("clickhouse_native")))
    assert(!TableFunctionRegistry.builtin.functionExists(
      FunctionIdentifier("clickhouse_scan")))
    // the extension session DOES resolve both names (positive half,
    // same registry surface the analyzer consults)
    assert(spark.sessionState.tableFunctionRegistry.functionExists(
      FunctionIdentifier("clickhouse_native")))
    assert(spark.sessionState.tableFunctionRegistry.functionExists(
      FunctionIdentifier("clickhouse_scan")))
  }

  test("multi-block multi-column interleaving (reference's bug class, SURVEY §1.1)") {
    // Hand-write 3 blocks × 2 columns with the block writer, read via DSv2.
    val dir = Files.createTempDirectory("graft-native-mb")
    val f = dir.resolve("mb.clickhouse")
    val os = java.nio.file.Files.newOutputStream(f)
    val w = new NativeBlockWriter(os)
    import org.apache.spark.unsafe.types.UTF8String
    (0 until 3).foreach { b =>
      val ids = Array.tabulate(4)(i => java.lang.Long.valueOf(b * 4L + i): Any)
      val names = Array.tabulate(4)(i => UTF8String.fromString(s"row-${b * 4 + i}"): Any)
      w.writeBlock(NativeBlock(Array(
        NativeColumn("id", ChType.ChInt64, ids),
        NativeColumn("name", ChType.ChString, names)), 4))
    }
    w.close()
    val back = spark.read.format("clickhouse_native").load(f.toString)
    assert(back.count() === 12)
    val rows = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === (0 until 12).map(i => (i.toLong, s"row-$i")).toSet)
    // count(*) with pruned columns across multiple blocks
    assert(back.selectExpr("count(*)").head().getLong(0) === 12L)
  }

  test("DateTime64 precision > 6 block-level encode/decode roundtrip") {
    val t = ChType.ChDateTime64(9, None)
    val micros = Array[Any](java.lang.Long.valueOf(1700000000123456L), java.lang.Long.valueOf(0L))
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    ColumnCodec.encode(out, t, NativeColumn("t", t, micros).vector, micros.length)
    out.flush()
    val in = new NativeCodec.Input(new ByteArrayInputStream(bos.toByteArray))
    val decoded = DecodedValues.decode(in, t, 2)
    assert(decoded.toSeq === micros.toSeq)
  }

  test("flat-schema native scans execute columnar (ColumnarToRow in final plan)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/orders.parquet")
    val dir = tmpDir("colplan")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val agg = spark.read.format("clickhouse_native").load(dir)
      .groupBy("o_orderstatus").agg(org.apache.spark.sql.functions.sum("o_totalprice"))
    agg.collect() // AQE: final plan only materializes after execution
    assert(agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("array-schema native scans execute columnar and remain correct") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val dir = tmpDir("rowplan")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    back.collect()
    assert(back.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(back.count() === src.count())
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Seq.empty else t +: causes(t.getCause)

  /** The first IOException along `e`'s cause chain that mentions `path`. */
  private def ioNaming(e: Throwable, path: String): Option[java.io.IOException] =
    causes(e).collectFirst {
      case io: java.io.IOException if io.getMessage != null && io.getMessage.contains(path) => io
    }

  /** A one-block Native file whose header claims `rows` rows of one Int64
    * column, followed by six real values. */
  private def claimedRowsFile(tag: String, rows: Long): String = {
    val f = Files.createTempDirectory(s"graft-native-$tag").resolve("claimed.clickhouse")
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(1); out.writeVarUInt(rows)
    out.writeString("x"); out.writeString("Int64")
    (0 until 6).foreach(i => out.writeLongLE(i.toLong))
    out.flush()
    Files.write(f, bos.toByteArray)
    f.toString
  }

  test("block row count 2^32+5 fails naming the file (no Int wrap to 5 rows)") {
    val f = claimedRowsFile("wrap", (1L << 32) + 5)
    // schema inference and a scan under a user schema both reject it
    for (read <- Seq(spark.read, spark.read.schema("x BIGINT"))) {
      val e = intercept[Exception](read.format("clickhouse_native").load(f).collect())
      assert(ioNaming(e, f).exists(_.getMessage.contains("implausible row count 4294967301")),
        e.toString)
    }
  }

  test("block row count 2^31-1 fails naming the file (no allocation OOM)") {
    val f = claimedRowsFile("oom", Int.MaxValue.toLong)
    for (read <- Seq(spark.read, spark.read.schema("x BIGINT"))) {
      val e = intercept[Exception](read.format("clickhouse_native").load(f).collect())
      assert(ioNaming(e, f).exists(_.getMessage.contains("implausible row count 2147483647")),
        e.toString)
    }
  }

  /** A one-block, one-row Native file: a column `c` of wire type `t`
    * whose values `body` writes, then an Int64 column `id` = 7. */
  private def prunedColumnFile(tag: String, t: String)(body: NativeCodec.Output => Unit): String = {
    val f = Files.createTempDirectory(s"graft-native-$tag").resolve("pruned.clickhouse")
    val bos = new ByteArrayOutputStream()
    val out = new NativeCodec.Output(bos)
    out.writeVarUInt(2); out.writeVarUInt(1)
    out.writeString("c"); out.writeString(t)
    body(out)
    out.writeString("id"); out.writeString("Int64"); out.writeLongLE(7L)
    out.flush()
    Files.write(f, bos.toByteArray)
    f.toString
  }

  test("skipping a pruned column checks its counts before narrowing them") {
    val lowCard = "LowCardinality(String)"
    // each count is 2^32 + k: narrowed by .toInt it reads as k, which
    // is exactly what the bytes that follow hold
    val files = Seq(
      // Array(Int64) whose final offset is 2^32+5, then 5 elements
      "offset 4294967301 out of range" -> prunedColumnFile("skip-arr", "Array(Int64)") { out =>
        out.writeLongLE((1L << 32) + 5); (0 until 5).foreach(i => out.writeLongLE(i.toLong))
      },
      // LowCardinality dictionary size 2^32+1, then one entry
      "length 4294967297 out of range" -> prunedColumnFile("skip-lcdict", lowCard) { out =>
        out.writeLongLE(1L); out.writeLongLE(0x200L); out.writeLongLE((1L << 32) + 1)
        out.writeString("a"); out.writeLongLE(1L); out.writeByte(0)
      },
      // LowCardinality row count 2^32+1 in a one-row block
      "row count 4294967297 != block rows 1" -> prunedColumnFile("skip-lcrows", lowCard) { out =>
        out.writeLongLE(1L); out.writeLongLE(0x200L); out.writeLongLE(1L)
        out.writeString("a"); out.writeLongLE((1L << 32) + 1); out.writeByte(0)
      })
    for ((msg, f) <- files; read <- Seq(spark.read, spark.read.schema("id BIGINT"))) {
      val e = intercept[Exception](read.format("clickhouse_native").load(f).select("id").collect())
      assert(ioNaming(e, f).exists(_.getMessage.contains(msg)), e.toString)
    }
  }

  test("a lying String length fails naming the file, allocating only what arrives") {
    // a one-row String column whose value, or whose name, claims `len`
    // bytes and carries three
    def lyingFile(tag: String)(body: NativeCodec.Output => Unit): String = {
      val f = Files.createTempDirectory(s"graft-native-$tag").resolve("len.clickhouse")
      val bos = new ByteArrayOutputStream()
      val out = new NativeCodec.Output(bos)
      out.writeVarUInt(1); out.writeVarUInt(1)
      body(out)
      out.writeBytes("abc".getBytes("UTF-8"))
      out.flush()
      Files.write(f, bos.toByteArray)
      f.toString
    }
    for (len <- Seq(Int.MaxValue.toLong, 1L << 30)) {
      val value = lyingFile("strval") { out =>
        out.writeString("s"); out.writeString("String"); out.writeVarUInt(len)
      }
      val name = lyingFile("strname")(_.writeVarUInt(len))
      for (f <- Seq(value, name)) {
        val e = intercept[Exception](spark.read.format("clickhouse_native").load(f).collect())
        assert(ioNaming(e, f).exists(_.getMessage.contains("unexpected EOF")), s"$len: $e")
      }
    }
  }

  test("a flat-schema file truncated mid-block fails naming the file") {
    val f = Files.createTempDirectory("graft-native-trunc").resolve("trunc.clickhouse")
    val bos = new ByteArrayOutputStream()
    val w = new NativeBlockWriter(bos)
    import org.apache.spark.unsafe.types.UTF8String
    (0 until 4).foreach { b =>
      val ids = Array.tabulate[Any](1000)(i => java.lang.Long.valueOf(b * 1000L + i))
      val names = Array.tabulate[Any](1000)(i => UTF8String.fromString(s"row-${b * 1000 + i}"))
      w.writeBlock(NativeBlock(Array(
        NativeColumn("id", ChType.ChInt64, ids),
        NativeColumn("name", ChType.ChString, names)), 1000))
    }
    w.close()
    val bytes = bos.toByteArray
    Files.write(f, bytes.take(bytes.length * 5 / 8)) // inside the third block
    val truncated = spark.read.format("clickhouse_native").load(f.toString)
    // the scan and the count(*) block-header walk (no sidecar) both name it
    for (read <- Seq(() => truncated.collect(), () => truncated.count())) {
      val e = intercept[Exception](read())
      assert(ioNaming(e, f.toString).exists(_.getMessage.contains("unexpected EOF")), e.toString)
    }
  }

  test("a read schema that mistypes a column fails naming the file and column") {
    val dir = tmpDir("mistyped")
    spark.range(0, 10).toDF("id").write.format("clickhouse_native").mode("overwrite").save(dir)
    val e = intercept[Exception](
      spark.read.schema("id STRING").format("clickhouse_native").load(dir).collect())
    assert(!causes(e).exists(_.isInstanceOf[ClassCastException]), e.toString)
    assert(ioNaming(e, ".clickhouse").exists(io =>
      io.getMessage.contains("'id'") && io.getMessage.contains("Int64")), e.toString)
  }

  test("LIMIT over a multi-block file returns exactly n correct rows (flat and array)") {
    val dir = tmpDir("limit")
    // 200k rows in one file = four 65536-row blocks
    spark.range(0, 200000).selectExpr("id", "array(id, id + 1) as xs").coalesce(1)
      .write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    for (n <- Seq(1, 10, 70000)) { // 70000 crosses the first block boundary
      val flat = back.select("id").limit(n).collect().map(_.getLong(0))
      assert(flat.toSeq === (0L until n.toLong), s"flat limit $n")
      val arrays = back.limit(n).collect()
      assert(arrays.length === n, s"array limit $n")
      assert(arrays.forall(r => r.getSeq[Long](1) === Seq(r.getLong(0), r.getLong(0) + 1)))
      assert(arrays.map(_.getLong(0)).toSeq === (0L until n.toLong), s"array limit $n")
    }
  }

  test("DSv2 roundtrip: map and struct columns (Map/Tuple wire types)") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet").select(
      col("n_nationkey"),
      map(lit("name"), col("n_name"), lit("rk"), col("n_regionkey").cast("string")).as("props"),
      struct(col("n_name").as("name"), col("n_regionkey").as("rk")).as("meta"))
    val dir = tmpDir("mapstruct")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.schema("props").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    assert(back.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    // compare via stable projections (Row equality over maps is fragile)
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      col("n_nationkey"),
      element_at(col("props"), "name").as("p_name"),
      element_at(col("props"), "rk").as("p_rk"),
      col("meta.name").as("m_name"), col("meta.rk").as("m_rk"))
      .collect().map(_.toSeq).toSet
    assert(proj(back) === proj(src))
    // header declares real Map/Tuple types, not sentinels
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header = {
      val in = new java.io.FileInputStream(part)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    val byName = header.toMap.map { case (k, v) => k -> v.name }
    assert(byName("props").startsWith("Map("), byName.toString)
    assert(byName("meta").startsWith("Tuple("), byName.toString)
  }

  test("adaptive dictionary encoding: low-cardinality strings write as LowCardinality") {
    // lineitem's flag/status columns repeat heavily; keys are unique
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        concat(lit("row-"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("uniq_tag"))
      .coalesce(1)
    val dir = tmpDir("dict")
    src.write.format("clickhouse_native").mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header = {
      val in = new java.io.FileInputStream(part)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    val byName = header.toMap.map { case (k, v) => k -> v.name }
    assert(byName("l_returnflag").startsWith("LowCardinality("), byName.toString)
    assert(byName("l_linestatus").startsWith("LowCardinality("), byName.toString)
    assert(!byName("uniq_tag").startsWith("LowCardinality("), byName.toString) // near-unique text
    // content identical through the dictionary path
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
    // and the option disables it
    val dir2 = tmpDir("dict-off")
    src.write.format("clickhouse_native").option("dictionaryEncode", "off")
      .mode("overwrite").save(dir2)
    val part2 = new java.io.File(dir2).listFiles().filter(_.getName.endsWith(".clickhouse")).head
    val header2 = {
      val in = new java.io.FileInputStream(part2)
      try NativeBlockReader.readHeader(in) finally in.close()
    }
    assert(header2.toMap.map { case (k, v) => k -> v.name }.values.forall(!_.startsWith("LowCardinality")))
  }

  test("writer abort removes all partial part files") {
    val dir = Files.createTempDirectory("graft-native-abort").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val writer = new NativeDataWriter(schema, dir, 0, 1L, 4, conf)
    writer.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    writer.abort()
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".clickhouse")) === 0)
  }

  test("writer rotates part files at maxRowsPerFile and reads back whole") {
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet").coalesce(1)
    val dir = tmpDir("rotate")
    src.write.format("clickhouse_native")
      .option("maxRowsPerFile", "10").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse"))
    assert(parts.length === 3) // 25 rows / 10 per file
    val back = spark.read.format("clickhouse_native").load(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("golden writer bytes: every writable type, plain and lz4, hash as recorded") {
    // 300 rows in one task, two parts (200 + 100): every Spark type the
    // writer maps, nulls in Nullable scalars, null Array/Map/Struct
    // cells, nullable struct fields and map values, a LowCardinality
    // string pair, and every columnTypes wire type.
    val df = spark.range(0, 300, 1, 1).selectExpr(
      "cast(id % 100 - 50 as tinyint) as b",
      "cast(id * 7 - 1000 as smallint) as sh",
      "cast(id * 31 - 4000 as int) as i",
      "(id - 150) * 2654435761 as l",
      "cast(id / 3 as float) as f",
      "(id - 150) / 7.0d as d",
      "id % 3 = 0 as bo",
      "date_add(date'1965-01-01', cast(id * 40 as int)) as dt",
      "timestamp_seconds(1600000000 + id * 37) as ts",
      "cast(timestamp_seconds(1600000000 + id * 37) as timestamp_ntz) as ntz",
      "cast((id - 150) / 7 as decimal(9, 2)) as dec9",
      "cast((id - 150) * 1000003 / 13 as decimal(18, 4)) as dec18",
      "cast((id - 150) * 123456789012345 as decimal(30, 6)) as dec30",
      "concat('name-', cast(id as string)) as name",
      "case when id % 5 = 0 then null else concat('v', cast(id as string)) end as s_null",
      "coalesce(concat('tag', cast(id % 4 as string)), '') as tag",
      "case when id % 10 = 0 then null else concat('c', cast(id % 3 as string)) end as tag_null",
      "case when id % 6 = 0 then null else id end as l_null",
      "case when id % 7 = 0 then null else array(id, id + 1) end as arr",
      "array(case when id % 3 = 0 then null else cast(id as int) end) as arr_nulls",
      "case when id % 8 = 0 then null else map('k', id, 'n', case when id % 2 = 0 then null " +
        "else id end) end as m",
      "case when id % 9 = 0 then null else named_struct('x', id, 'y', case when id % 2 = 0 " +
        "then null else concat('y', cast(id as string)) end) end as st",
      "case when id % 11 = 0 then null else concat('123e4567-e89b-12d3-a456-', " +
        "lpad(cast(id as string), 12, '0')) end as u",
      "concat('10.0.', cast(id % 256 as string), '.', cast(id % 7 as string)) as ip4",
      "case when id % 13 = 0 then null else concat('2001:db8::', lower(hex(id))) end as ip6",
      "case when id % 5 = 0 then null when id % 2 = 0 then 'a' else 'b' end as e8",
      "case when id % 3 = 0 then 'cold' else 'hot' end as e16",
      "substr(concat('f', cast(id as string)), 1, 6) as fs",
      "cast(id % 256 as int) as u8",
      "cast(id * 200 % 65536 as int) as u16",
      "id * 14000000 % 4294967296 as u32",
      "date_add(date'1990-01-01', cast(id as int)) as d16",
      "timestamp_seconds(1600000000 + id) as ts32",
      "cast(timestamp_seconds(1600000000 + id) as timestamp_ntz) as ntz9")
    val columnTypes = "u:UUID, ip4:IPv4, ip6:IPv6, e8:Enum8('a' = 1, 'b' = 2), " +
      "e16:Enum16('hot' = 300, 'cold' = -2), fs:FixedString(6), u8:UInt8, u16:UInt16, " +
      "u32:UInt32, d16:Date, ts32:DateTime('UTC'), ntz9:DateTime64(9)"
    // FNV-1a-64 of each part's bytes: a change here changes stored
    // bytes and insert-dedup identity for every existing table
    val recorded = Map(
      "none" -> Seq("4715f13c204400fc", "ff38567b8916e587"),
      "lz4" -> Seq("1e0ff7af7c1091c2", "fad9e0a30d407d82"))
    val got = for ((compression, _) <- recorded) yield {
      val dir = tmpDir(s"golden-$compression")
      df.write.format("clickhouse_native").option("compression", compression)
        .option("maxRowsPerFile", "200").option("columnTypes", columnTypes)
        .mode("overwrite").save(dir)
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val parts = fs.listStatus(path).map(_.getPath)
        .filter(_.getName.endsWith(".clickhouse")).sortBy(_.getName)
      val header = NativeBlockReader.readHeader(
        NativeCompression.maybeWrapRead(fs.open(parts.head), null)).toMap
      assert(header("tag").name === "LowCardinality(String)")
      assert(header("tag_null").name === "LowCardinality(Nullable(String))")
      assert(spark.read.format("clickhouse_native").load(dir).count() === 300)
      compression -> parts.map(p => NativeIndex.readMeta(fs, p)("contentHash")).toSeq
    }
    assert(got === recorded)
  }

  test("SQL surface: CREATE TABLE USING clickhouse_native, INSERT INTO, SELECT") {
    val dir = tmpDir("sql")
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(
      s"""CREATE TABLE graft_sql_t (id BIGINT, name STRING, score DOUBLE)
          USING clickhouse_native OPTIONS (path '$dir')""")
    try {
      spark.sql("INSERT INTO graft_sql_t VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'c', 2.5)")
      val rows = spark.sql(
        "SELECT id, name, score FROM graft_sql_t WHERE id >= 2 ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
        Seq((2L, "b", 1.5), (3L, "c", 2.5)))
      spark.sql("INSERT INTO graft_sql_t VALUES (4, 'd', 3.5)") // append
      assert(spark.sql("SELECT count(*) AS c FROM graft_sql_t").head().getLong(0) === 4L)
      // the same files read back through the path-based API
      assert(spark.read.format("clickhouse_native").load(dir).count() === 4L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("null cells in container columns degrade to empty containers, not NPE") {
    // ClickHouse has no Nullable(Array/Map/Tuple): forSpark strips the
    // nullability, so a null container cell reaching the encoder maps to
    // the type's empty/default value — the documented degradation.
    val dir = java.nio.file.Files.createTempDirectory("graft-nullcont").toString + "/out"
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, array(1L, 2L), map('a', 1L), named_struct('x', 1L, 'y', 'p')),
        (2L, CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS MAP<STRING, BIGINT>),
             CAST(NULL AS STRUCT<x: BIGINT, y: STRING>))
        AS t(id, arr, m, st)""")
    df.write.format("clickhouse_native").mode("overwrite").save(dir)
    val back = spark.read.format("clickhouse_native").load(dir)
      .orderBy("id").collect()
    assert(back(0).getSeq[Long](1) === Seq(1L, 2L))
    assert(back(1).getSeq[Long](1) === Seq.empty)         // null -> []
    assert(back(1).getMap[String, Long](2).isEmpty)        // null -> {}
    val st = back(1).getStruct(3)
    // null struct -> all-null fields (fields are themselves nullable)
    assert(st.isNullAt(0) && st.isNullAt(1))
  }

  test("mergeSchema fuzz: random column-subset parts union with null fill (20 cases, seeded)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
    val rnd = new scala.util.Random(42)
    val allCols = Seq("a" -> LongType, "b" -> StringType, "c" -> DoubleType, "d" -> IntegerType)
    (1 to 20).foreach { k =>
      val dir = tmpDir(s"evofuzz$k")
      val parts = (0 until 2 + rnd.nextInt(2)).map { _ =>
        val cols = allCols.filter(_ => rnd.nextBoolean()) match {
          case s if s.isEmpty => allCols.take(1)
          case s => s
        }
        val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
          Row.fromSeq(cols.map {
            case (_, LongType) => rnd.nextLong()
            case (_, StringType) => rnd.alphanumeric.take(5).mkString
            case (_, DoubleType) => rnd.nextDouble()
            case _ => rnd.nextInt()
          })
        }
        spark.createDataFrame(rows.asJava,
            StructType(cols.map { case (n, t) => StructField(n, t) }))
          .coalesce(1).write.format("clickhouse_native").mode("append").save(dir)
        (cols.map(_._1), rows)
      }
      val merged = spark.read.format("clickhouse_native")
        .option("mergeSchema", "true").load(dir)
      val mcols = merged.schema.fieldNames.toSeq
      def multiset(vs: Seq[Vector[Any]]) =
        vs.groupBy(identity).view.mapValues(_.size).toMap
      val expected = multiset(parts.flatMap { case (cols, rows) =>
        rows.map(r => mcols.map(c => cols.indexOf(c) match {
          case -1 => null
          case i => r.get(i)
        }).toVector)
      })
      val got = multiset(merged.collect().toSeq
        .map(r => mcols.indices.map(r.get).toVector))
      assert(got === expected, s"case $k (cols per part: ${parts.map(_._1)})")
    }
  }

  test("insertDedup: re-inserting an identical batch is a no-op, new data still appends") {
    import spark.implicits._
    val dir = tmpDir("insdedup")
    def batch(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    def parts() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).map(_.getName).toSet
    batch(0, 100).write.format("clickhouse_native").mode("append").save(dir)
    val afterFirst = parts()
    assert(afterFirst.size === 1)
    // the exact same batch again, dedup on → part dropped at commit
    batch(0, 100).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(parts() === afterFirst, "identical re-insert must be a no-op")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 100)
    // different content with dedup on → appends normally
    batch(100, 150).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(parts().size === 2)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
    // dedup OFF (default) keeps duplicate inserts — append semantics unchanged
    batch(0, 100).write.format("clickhouse_native").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 250)
    // overwrite ignores dedup (old parts are doomed — nothing to dedup against)
    batch(0, 10).write.format("clickhouse_native")
      .option("insertDedup", "true").mode("overwrite").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 10)
  }

  test("insertDedupToken scopes the dedup identity (CH insert_deduplication_token)") {
    import spark.implicits._
    val dir = tmpDir("insdeduptok")
    def batch() = (0 until 50).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    def write(token: String) = batch().write.format("clickhouse_native")
      .option("insertDedup", "true").option("insertDedupToken", token)
      .mode("append").save(dir)
    write("epoch-1")
    // RETRY of the same epoch: same token, same content → no-op
    write("epoch-1")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 50)
    // a LATER epoch with legitimately identical content: different
    // token → NOT a replay, must land (unscoped content dedup would
    // silently drop it — data loss)
    write("epoch-2")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 100)
    // tokened part never dedups against a token-less pre-existing part
    // and vice versa — "" is its own scope
    batch().write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
    // ...but a token-less re-insert dedups against the token-less part
    batch().write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(spark.read.format("clickhouse_native").load(dir).count() === 150)
  }

  test("insertDedup: a sidecar hash match alone never deletes (collision safety)") {
    // FNV-1a-64 is a 64-bit non-crypto hash: a collision between NEW
    // content and an old part must not silently drop the new data —
    // deletion requires hash AND length AND byte-equality. Simulate
    // the collision by TAMPERING the old part's sidecar contentHash to
    // equal the incoming batch's hash; the contents differ (same byte
    // length, different bytes), so the byte-compare must keep the part.
    import spark.implicits._
    def batch(tag: String) = (0 until 100).map(i => (i.toLong, s"$tag$i"))
      .toDF("id", "s").coalesce(1).sortWithinPartitions("id")
    val dir = tmpDir("insdedup-collide")
    batch("row").write.format("clickhouse_native").mode("append").save(dir)
    // learn the hash the colliding batch will carry via a scratch write
    val scratch = tmpDir("insdedup-scratch")
    batch("qow").write.format("clickhouse_native").mode("append").save(scratch)
    def sidecarOf(d: String): java.io.File = {
      val f = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".clickhouse")).head
      new java.io.File(new java.io.File(d), s".${f.getName}.chidx")
    }
    val hashRe = "contentHash=([^,\\n]*)".r
    val scratchTxt = new String(java.nio.file.Files.readAllBytes(
      sidecarOf(scratch).toPath), "UTF-8")
    val qowHash = hashRe.findFirstMatchIn(scratchTxt).get.group(1)
    val oldSide = sidecarOf(dir)
    val oldTxt = new String(java.nio.file.Files.readAllBytes(oldSide.toPath), "UTF-8")
    assert(hashRe.findFirstMatchIn(oldTxt).get.group(1) !== qowHash,
      "fixture: the two batches must hash differently")
    java.nio.file.Files.write(oldSide.toPath,
      hashRe.replaceFirstIn(oldTxt, s"contentHash=$qowHash").getBytes("UTF-8"))
    // the raw rewrite invalidates Hadoop LocalFileSystem's checksum
    // shadow — drop it so readers see the tampered bytes, not an error
    val crc = new java.io.File(oldSide.getParentFile, s".${oldSide.getName}.crc")
    if (crc.exists()) crc.delete()
    // the "colliding" insert must APPEND, not vanish
    batch("qow").write.format("clickhouse_native")
      .option("insertDedup", "true").mode("append").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".clickhouse")) === 2,
      "hash-colliding but byte-different part was wrongly deduplicated")
    assert(spark.read.format("clickhouse_native").load(dir).count() === 200)
  }

  test("mergeSchema unions heterogeneous part schemas; first-header stays default") {
    import spark.implicits._
    val dir = tmpDir("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("clickhouse_native").mode("append").save(dir)
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "name", "score")
      .write.format("clickhouse_native").mode("append").save(dir)
    // default read keeps the single-header contract (whichever file's
    // header wins, the read works — no silent union)
    val plain = spark.read.format("clickhouse_native").load(dir)
    assert(Set(2, 3).contains(plain.schema.length))
    // merged read: union schema, old rows null-fill the evolved column
    val merged = spark.read.format("clickhouse_native")
      .option("mergeSchema", "true").load(dir)
    assert(merged.schema.fieldNames.toSeq === Seq("id", "name", "score"))
    assert(merged.schema("score").nullable, "column absent from a part must be nullable")
    val rows = merged.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L))))
    // nested-nullability differences (containsNull) are a legitimate
    // union — widened, not a conflict (a literal-built array part vs a
    // collect_list part differ exactly this way)
    val dirN = tmpDir("evolve-nested")
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val rows1 = java.util.Arrays.asList(Row(1L, Seq(10L, 11L)))
    val rows2 = java.util.Arrays.asList(Row(2L, Seq(20L, null)))
    spark.createDataFrame(rows1, StructType(Seq(StructField("id", LongType),
        StructField("xs", ArrayType(LongType, containsNull = false)))))
      .write.format("clickhouse_native").mode("append").save(dirN)
    spark.createDataFrame(rows2, StructType(Seq(StructField("id", LongType),
        StructField("xs", ArrayType(LongType, containsNull = true)))))
      .write.format("clickhouse_native").mode("append").save(dirN)
    val mergedN = spark.read.format("clickhouse_native")
      .option("mergeSchema", "true").load(dirN)
    assert(mergedN.schema("xs").dataType === ArrayType(LongType, containsNull = true))
    assert(mergedN.count() === 2)
    // same-name type conflict fails loudly, never coerces
    val dir2 = tmpDir("evolve-conflict")
    Seq((1L, 10L)).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir2)
    Seq((2L, "s")).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir2)
    val e = intercept[IllegalArgumentException](
      spark.read.format("clickhouse_native").option("mergeSchema", "true")
        .load(dir2).schema)
    assert(e.getMessage.contains("type conflict"), e.getMessage)
    // same-name-MODULO-CASE across parts is the same loud-failure
    // class: 'id' + 'ID' would otherwise merge into two columns that
    // are ambiguous under Spark's default case-insensitive resolution
    val dir3 = tmpDir("evolve-case")
    Seq((1L, 10L)).toDF("id", "v")
      .write.format("clickhouse_native").mode("append").save(dir3)
    Seq((2L, 20L)).toDF("ID", "w")
      .write.format("clickhouse_native").mode("append").save(dir3)
    val ec = intercept[IllegalArgumentException](
      spark.read.format("clickhouse_native").option("mergeSchema", "true")
        .load(dir3).schema)
    assert(ec.getMessage.contains("case-collision"), ec.getMessage)
  }
}
