package chbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.native._
import graft.sources.native.ChType._
import graft.sources.remote.TransportSpec

/**
 * Per-layer measurements of a traced run, each timed from outside around
 * calls into a layer's public entry points, over inputs the suite builds
 * itself (so every workload reports the same layer figures), plus the
 * counts and operator totals the workload gathered.
 */
object Layers {
  val BlockRows = 65536

  /** Wire types measured by the codec micro-benchmarks, with value generators. */
  val wireTypes: Seq[(String, ChType, Int => Any)] = Seq(
    ("int64", ChInt64, i => java.lang.Long.valueOf(i * 2654435761L)),
    ("int32", ChInt32, i => Integer.valueOf(i * 31)),
    ("float64", ChFloat64, i => java.lang.Double.valueOf(i * 0.37)),
    ("string", ChString, i => UTF8String.fromString("value-" + (i * 7919 % 100000))),
    ("lowcard_string", ChLowCardinality(ChString), i => UTF8String.fromString("tag-" + (i % 50))),
    ("datetime64", ChDateTime64(6, None), i => java.lang.Long.valueOf(700000000000000L + i * 1000000L)),
    ("nullable_int64", ChNullable(ChInt64), i => if (i % 5 == 0) null else java.lang.Long.valueOf(i.toLong)),
    ("array_float32", ChArray(ChFloat32),
      i => UnsafeArrayData.fromPrimitiveArray(Array.tabulate(8)(j => (i + j) * 0.5f))),
    ("decimal64", ChDecimal(18, 2), i => Decimal(i * 12345L, 18, 2)))

  def block(cols: Seq[(String, ChType, Int => Any)]): NativeBlock =
    NativeBlock(cols.map { case (n, t, g) => NativeColumn(n, t, Array.tabulate(BlockRows)(g)) }.toArray, BlockRows)

  def encode(b: NativeBlock, compression: String = "none"): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val w = new NativeBlockWriter(bytes, compression)
    w.writeBlock(b)
    w.close()
    bytes.toByteArray
  }

  /** Median rate over five timed batches of ~30 ms each, after a warm-up, in units/s. */
  def rate(units: Double)(f: => Unit): Double = {
    f; f
    var reps = 1
    var t = time(f)
    while (t < 0.03 && reps < (1 << 16)) { reps *= 2; t = time((0 until reps).foreach(_ => f)) }
    Stats.median((0 until 5).map(_ => units * reps / time((0 until reps).foreach(_ => f))))
  }

  def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  def medianTime(reps: Int)(f: => Unit): Double = { f; Stats.median((0 until reps).map(_ => time(f))) }

  /** Columns stored as LowCardinality in the first block header of the first file. */
  def lowCardColumns(files: Seq[File]): Int = files.headOption.map { f =>
    TransportSpec(transport = "file", query = "", url = "", responsePath = f.getPath,
      conf = new SerializableHadoopConf(new Configuration())).header()
      .count(_._2.isInstanceOf[ChLowCardinality])
  }.getOrElse(0)

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val m = ctx.perLayer
    val bytesNote = mutable.ArrayBuffer.empty[String]

    // codec: single-threaded over in-memory block bytes
    for ((name, t, gen) <- wireTypes) {
      val b = block(Seq(("c", t, gen)))
      val bytes = encode(b)
      val mb = bytes.length / 1e6
      m(s"codec.decode_mb_s.$name") = (tr.span(s"decode.$name", "codec")(
        rate(mb)(new NativeBlockReader(new ByteArrayInputStream(bytes)).next())), "MB/s")
      m(s"codec.encode_mb_s.$name") = (tr.span(s"encode.$name", "codec")(rate(mb)(encode(b))), "MB/s")
      if (name == "string") m("codec.skip_mb_s.string") = (tr.span("skip.string", "codec")(
        rate(mb)(new NativeBlockReader(new ByteArrayInputStream(bytes), Some(Set.empty)).next())), "MB/s")
      bytesNote += s"$name=${bytes.length}"
    }
    ctx.notes += s"codec rates over one $BlockRows-row block per type, bytes: ${bytesNote.mkString(" ")}"

    // compression: the writer's compression argument against a `none` baseline
    val wide = block(wireTypes)
    val plain = encode(wide).length.toDouble
    for (c <- Seq("lz4", "zstd")) {
      m(s"compression.${c}_write_mb_s") =
        (tr.span(s"write.$c", "compression")(rate(plain / 1e6)(encode(wide, c))), "MB/s")
      m(s"compression.${c}_ratio") = (plain / encode(wide, c).length, "ratio")
      ctx.exactCount(s"compression.${c}_ratio", m(s"compression.${c}_ratio")._1)
    }
    ctx.notes += f"compression write rates and ratios over a ${plain / 1e6}%.3f MB all-types block"

    val spark = ctx.spark
    val dir = new File(ctx.work, "layers")
    Data.deleteRecursively(dir)
    dir.mkdirs()
    val src = Data.lineitem(spark, 50000L).cache()
    val rows = src.count()
    val plainDir = new File(dir, "plain").getPath
    val lz4Dir = new File(dir, "lz4").getPath
    src.write.format("clickhouse_native").mode("overwrite").save(plainDir)
    src.write.format("clickhouse_native").mode("overwrite").option("compression", "lz4").save(lz4Dir)
    val plainBytes = Data.dataFiles(new File(plainDir)).map(_.length).sum
    def drain(df: DataFrame): Long = df.queryExecution.toRdd.map(_ => 1L).fold(0L)(_ + _)
    def native(p: String) = spark.read.format("clickhouse_native").load(p)

    // compression, read side: LZ4 against plain, checksums verified against skipped
    val tLz4 = tr.span("read.lz4", "compression")(medianTime(5)(drain(native(lz4Dir))))
    spark.conf.set("graft.native.checksum", "skip")
    val tSkip = try tr.span("read.lz4.skip", "compression")(medianTime(5)(drain(native(lz4Dir))))
      finally spark.conf.unset("graft.native.checksum")
    m("compression.lz4_read_mb_s") = (plainBytes / 1e6 / tLz4, "MB/s")
    m("compression.checksum_s_per_gb") = ((tLz4 - tSkip) / (plainBytes / 1e9), "s/GB")
    ctx.notes += s"compression read rates over $rows rows, $plainBytes uncompressed bytes"

    // scan: drains through the DSv2 readers
    val countFile = new File(dir, "count_1m.clickhouse")
    Data.writeSidecarLessCount(countFile, 1000000)
    val emb = new File(dir, "embeddings").getPath
    Data.embeddings(spark, 20000L).write.format("clickhouse_native").mode("overwrite").save(emb)
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def taskAlloc(): Long = {
      val ids = Thread.getAllStackTraces.keySet().toArray(new Array[Thread](0))
        .filter(_.getName.startsWith("Executor task launch")).map(_.getId)
      threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
    }
    val a0 = taskAlloc()
    val tCol = tr.span("drain.columnar", "scan")(medianTime(5)(drain(native(plainDir))))
    val alloc = taskAlloc() - a0
    m("scan.drain_rows_s.columnar") = (rows / tCol, "rows/s")
    m("scan.alloc_bytes_per_row") = (alloc.toDouble / (rows * 6), "B/row")
    m("scan.drain_rows_s.row") = (20000 / tr.span("drain.row", "scan")(medianTime(5)(drain(native(emb)))), "rows/s")
    m("scan.drain_rows_s.count") = (1e6 / tr.span("drain.count", "scan")(
      medianTime(5)(native(countFile.getPath).count())), "rows/s")
    var parts = 0
    m("scan.plan_ms") = (1000 * tr.span("plan", "scan")(medianTime(5) {
      val df = native(plainDir)
      df.queryExecution.executedPlan
      parts = PlanFacts.partitions(df)
    }), "ms")
    m("scan.partitions") = (parts.toDouble, "count")

    // write: append from a cached in-memory batch into an LZ4 table sorted by key
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.layers")
    val appendS = (0 until 4).map { _ =>
      spark.sql("DROP TABLE IF EXISTS graft.layers.li")
      spark.sql(s"CREATE TABLE graft.layers.li (${src.schema.toDDL}) USING clickhouse_native " +
        "TBLPROPERTIES ('compression' = 'lz4', 'sortBy' = 'l_orderkey')")
      tr.span("append", "write")(time(src.writeTo("graft.layers.li").append()))
    }
    val tAppend = Stats.median(appendS.drop(1))
    m("write.append_rows_s") = (rows / tAppend, "rows/s")
    val liDir = new File(ctx.fixtures, "catalog/layers/li")
    m("write.bytes_per_row") = (Data.storedBytes(liDir).toDouble / rows, "B/row")

    // remote: bind probe and drain over the loopback socket
    val payload = Data.dataFiles(new File(plainDir)).map(f => Files.readAllBytes(f.toPath)).reduce(_ ++ _)
    val server = new Loopback(Map("all" -> (payload, rows)))
    try {
      def remote() = spark.read.format("clickhouse_remote").option("transport", "socket")
        .option("url", server.url).option("query", "all").load()
      m("remote.bind_ms") = (1000 * tr.span("bind", "remote")(medianTime(5)(remote())), "ms")
      val df = remote()
      val tDrain = tr.span("drain", "remote")(medianTime(5)(drain(df)))
      m("remote.drain_rows_s") = (rows / tDrain, "rows/s")
      m("remote.drain_mb_s") = (payload.length / 1e6 / tDrain, "MB/s")
    } finally server.close()
    ctx.notes += s"remote drain over $rows rows, ${payload.length} bytes"
    src.unpersist()

    DedupSuite.run(ctx)

    // counts gathered by the workload itself (0 where it does not touch the layer)
    m("remote.connections") = (ctx.exact.getOrElse("remote.connections", 0.0), "count")
    for (k <- Seq("scan.blocks_planned", "scan.rows_decoded", "write.files", "write.blocks",
        "write.lowcard_columns"))
      m(k) = (ctx.exact.getOrElse(k, 0.0), "count")
    m("write.sidecar_bytes") = (ctx.exact.getOrElse("write.sidecar_bytes", 0.0), "B")
    if (!m.contains("scan.useful_ratio")) m("scan.useful_ratio") = (0.0, "ratio")
  }
}
