package chbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.native.{ChType, NativeBlock, NativeBlockWriter, NativeColumn}

/**
 * Deterministic synthetic tables in the shape of the TPC-H-style test
 * data (lineitem, orders, embeddings, documents). Every value is a hash
 * of the row key, so the same sizes give the same bytes on every run and
 * every machine; the workload seed never changes them.
 */
object Data {
  private def h(c: Column, salt: Int): Column = xxhash64(c, lit(salt))
  private def pick(c: Column, salt: Int, n: Long): Column = pmod(h(c, salt), lit(n))
  private def oneOf(c: Column, salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(c, salt, xs.length.toLong) + 1).cast("int"))
  private def dayFrom1992(c: Column, salt: Int, span: Long): Column =
    date_add(lit("1992-01-01").cast("date"), pick(c, salt, span).cast("int")).cast("timestamp_ntz")

  def orders(spark: SparkSession, nOrders: Long): DataFrame = {
    val k = col("id")
    spark.range(nOrders).select(
      k.as("o_orderkey"),
      (pick(k, 1, 15000) + 1).as("o_custkey"),
      oneOf(k, 2, "O", "F", "P").as("o_orderstatus"),
      (pick(k, 3, 50000000) / 100.0 + 1000.0).as("o_totalprice"),
      dayFrom1992(k, 4, 2557).as("o_orderdate"),
      oneOf(k, 5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
  }

  /** 1 to 7 lines per order (4 on average), in ascending order key. */
  def lineitem(spark: SparkSession, nOrders: Long): DataFrame = {
    val lines = spark.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pick(col("id"), 7, 7) + 1).cast("int"))).as("l_linenumber"))
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val qty = (pick(k, 13, 50) + 1).cast("double")
    lines.select(
      col("l_orderkey"),
      (pick(k, 11, 20000) + 1).as("l_partkey"),
      (pick(k, 12, 1000) + 1).as("l_suppkey"),
      col("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (pick(k, 14, 100000) / 100.0 + 900.0), 2).as("l_extendedprice"),
      (pick(k, 15, 11) / 100.0).as("l_discount"),
      (pick(k, 16, 9) / 100.0).as("l_tax"),
      oneOf(k, 17, "R", "A", "N").as("l_returnflag"),
      oneOf(k, 18, "O", "F").as("l_linestatus"),
      dayFrom1992(k, 19, 2526).as("l_shipdate"))
  }

  val EmbeddingDim = 64

  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${EmbeddingDim - 1}), " +
        "i -> cast((pmod(xxhash64(id, i), 2001) - 1000) / 5000.0 as float))").as("embedding"),
      pick(col("id"), 21, 10).cast("int").as("label"))

  val Vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector", "customer",
    "the", "a")

  /**
   * Documents: 10 to 89 words from [[Vocab]]. Every tenth document is a
   * near-duplicate of the one five before it (one word changed), so
   * MinHash finds a fixed set of pairs; all others are unrelated.
   */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val src = when(pmod(id, lit(10)) === 9, id - 5).otherwise(id)
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    spark.range(n).select(id.as("doc_id"), src.as("src"))
      .select(col("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, cast(10 + pmod(xxhash64(src, 99), 80) as int)), " +
          s"j -> element_at($vocab, cast(pmod(xxhash64(src, j + if(j = 3 and src != doc_id, 1000, 0)), " +
          s"${Vocab.length}) + 1 as int))))").as("text"),
        oneOf(col("doc_id"), 31, "en", "en", "en", "de", "fr", "es", "zh").as("lang"),
        concat(lit("src"), pick(col("doc_id"), 32, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /**
   * `copies` copies of the documents; copy i maps the letters a..j
   * through a rotation chosen by the seed (copy 0 keeps the identity),
   * so copies of one source share almost no shingles and the pair count
   * grows linearly with copies.
   */
  def documentCopies(base: DataFrame, copies: Int, rotations: Seq[Int], idShift: Long): DataFrame = {
    val alpha = "abcdefghij"
    (0 until copies).map { i =>
      val r = rotations(i)
      val text = if (r == 0) col("text") else translate(col("text"), alpha, alpha.drop(r) + alpha.take(r))
      base.select((col("doc_id") + lit(i * idShift)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /**
   * A plain Native file of `rows` UInt64 values in 65536-row blocks and
   * no `.chidx` sidecar: the shape `clickhouse-local ... FORMAT Native`
   * produces and the reference's published count(*) reads.
   */
  def writeSidecarLessCount(file: File, rows: Int): Unit = {
    val w = new NativeBlockWriter(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    try {
      var start = 0
      while (start < rows) {
        val n = math.min(65536, rows - start)
        val vals = new Array[Any](n)
        var i = 0
        while (i < n) { vals(i) = java.lang.Long.valueOf((start + i).toLong); i += 1 }
        w.writeBlock(NativeBlock(Array(NativeColumn("number", ChType.ChUInt64, vals)), n))
        start += n
      }
    } finally w.close()
  }

  /** Bytes a table stores: its data files and their `.chidx` sidecars
   *  (not the local file system's `.crc` checksums or table metadata). */
  def storedBytes(dir: File): Long = dataFiles(dir).map(_.length).sum + sidecarBytes(dir)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Data files (not sidecars, not hidden or metadata files) under a table directory. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }.sortBy(_.getPath)

  /** Block count a file's `.chidx` sidecar declares (its header line). */
  def sidecarBlocks(data: File): Long = {
    val side = new File(data.getParentFile, "." + data.getName + ".chidx")
    if (!side.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(side, "UTF-8")
      try src.getLines().next().split(' ')(2).toLong finally src.close()
    }
  }

  def sidecarBytes(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.map { f =>
      if (f.isDirectory) sidecarBytes(f) else if (f.getName.endsWith(".chidx")) f.length() else 0L
    }.sum
}
