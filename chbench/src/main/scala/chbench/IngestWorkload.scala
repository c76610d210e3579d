package chbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * `ingest`: writes beside reads. A loopback server streams lineitem
 * slices as Native blocks over `clickhouse_remote` `transport=socket`;
 * each round appends one slice to an LZ4 catalog table sorted by
 * `l_orderkey`, then runs point lookups and one narrow range aggregate
 * against the growing table. A pass appends every slice once, in an
 * order the seed picks, into a freshly created table; passes repeat
 * until the time is up, so every pass must store the same bytes.
 */
object IngestWorkload {
  val Orders = 36000L     // ~144k lineitem rows per pass
  val Slices = 6
  val PointLookups = 3
  val WarmupRounds = 4
  val RangeWidth = 40L
  val Table = "graft.bench.lineitem"

  final case class Lookup(lo: Long, hi: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val lineitem = spark.read.parquet(
      ctx.parquetSource(s"lineitem-$Orders")(Data.lineitem(spark, Orders).write.parquet(_)))
    val keysPerSlice = Orders / Slices
    def sliceOf(s: Int) = lineitem.filter(col("l_orderkey") >= s * keysPerSlice &&
      col("l_orderkey") < (s + 1) * keysPerSlice)

    val sliceRows = (0 until Slices).map(s => sliceOf(s).count())

    // Set-up: the remote payloads, one Native response per slice.
    var payloads = Map.empty[String, (Array[Byte], Long)]
    ctx.buildFixtures(3) { d =>
      payloads = (0 until Slices).map { s =>
        val out = new File(d, s"slice-$s")
        sliceOf(s).coalesce(1).write.format("clickhouse_native").mode("overwrite").save(out.getPath)
        s"slice $s" -> (Data.dataFiles(out).map(f => Files.readAllBytes(f.toPath)).reduce(_ ++ _), sliceRows(s))
      }.toMap
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    }
    val server = new Loopback(payloads)
    try runPasses(ctx, server, sliceRows, keysPerSlice, lineitem)
    finally server.close()
  }

  private def runPasses(ctx: Ctx, server: Loopback, sliceRows: Seq[Long], keysPerSlice: Long,
      lineitem: org.apache.spark.sql.DataFrame): Unit = {
    val spark = ctx.spark
    // The seed picks the slice order and every lookup; each pass replays them.
    val rng = new Random(ctx.seed)
    val order = rng.shuffle((0 until Slices).toVector)
    val lookups = order.indices.map { r =>
      val appended = order.take(r + 1)
      val points = (0 until PointLookups).map { _ =>
        val k = appended(rng.nextInt(appended.length)) * keysPerSlice + rng.nextLong(keysPerSlice)
        Lookup(k, k)
      }
      val s = appended(rng.nextInt(appended.length))
      val lo = s * keysPerSlice + rng.nextLong(keysPerSlice - RangeWidth)
      points :+ Lookup(lo, lo + RangeWidth - 1)
    }
    // Reference answers from the parquet copy of lineitem.
    val ranges = spark.createDataFrame(lookups.flatten.distinct.map(l => (l.lo, l.hi))).toDF("lo", "hi")
    val expected: Map[Lookup, (Long, Double)] = lineitem
      .join(broadcast(ranges), col("l_orderkey").between(col("lo"), col("hi")))
      .groupBy("lo", "hi").agg(count(lit(1)), sum("l_extendedprice")).collect()
      .map(r => Lookup(r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    def remote(schema: Option[StructType], slice: Int) = {
      val r = spark.read.format("clickhouse_remote").option("transport", "socket")
        .option("url", server.url).option("query", s"slice $slice")
      schema.fold(r)(r.schema).load()
    }

    val rounds = mutable.ArrayBuffer.empty[(Double, Double)]
    val tableDir = new File(ctx.fixtures, "catalog/bench/lineitem")
    var usefulRows = 0L
    var decodedRows = 0L
    var committed = 0L
    var passDecoded = 0L

    def lookup(l: Lookup): Unit = ctx.attempt("lookup") {
      val df = ctx.tracer.span("bind", "scan")(spark.table(Table)
        .filter(col("l_orderkey").between(l.lo, l.hi))
        .agg(count(lit(1)), sum("l_extendedprice")))
      ctx.tracer.span("plan", "query")(df.queryExecution.executedPlan)
      val row = ctx.tracer.span("execute", "operators")(df.collect()).head
      val (n, v) = expected(l)
      ctx.check(row.getLong(0) == n && math.abs(row.getDouble(1) - v) <= 1e-9 * math.abs(v),
        s"lookup [${l.lo}, ${l.hi}]: got $row, expected ($n, $v)")
      ctx.recordPlan("lookup", df)
      val decoded = PlanFacts.rowsDecoded(df)
      usefulRows += n
      decodedRows += decoded
      passDecoded += decoded
    }

    /** Append slice `order(r)` and run its lookups; returns the append's seconds. */
    def appendRound(r: Int, schema: StructType): Double = {
      val s = order(r)
      val t0 = System.nanoTime()
      val served0 = server.rowsServed.get()
      ctx.attempt("append") {
        val df = ctx.tracer.span("bind", "remote")(remote(Some(schema), s))
        ctx.tracer.span("append", "write")(df.writeTo(Table).append())
      }
      val appendS = (System.nanoTime() - t0) / 1e9
      val sent = server.rowsServed.get() - served0
      ctx.check(sent == sliceRows(s), s"append slice $s: server sent $sent rows, slice has ${sliceRows(s)}")
      committed += sent
      lookups(r).foreach(lookup)
      appendS
    }

    /** One pass of at most `maxRounds` appends into a fresh table, until `deadline`. */
    def pass(deadline: Long, maxRounds: Int, measured: Boolean): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $Table")
      spark.sql(s"CREATE TABLE $Table (${lineitem.schema.toDDL}) USING clickhouse_native " +
        "TBLPROPERTIES ('compression' = 'lz4', 'sortBy' = 'l_orderkey')")
      val accepts0 = server.accepts.get()
      committed = 0L
      passDecoded = 0L
      val schema = ctx.attempt("bind") {
        ctx.tracer.span("bind", "remote")(remote(None, order.head).schema)
      }.get
      var r = 0
      while (r < maxRounds && System.nanoTime() < deadline) {
        if (measured) {
          var appendS = 0.0
          ctx.round { appendS = appendRound(r, schema) }
          rounds += (sliceRows(order(r)).toDouble -> appendS)
        } else appendRound(r, schema)
        ctx.sampleHeap()
        r += 1
      }
      // the rows the server sent for the appends (the schema probe is not counted)
      val total = spark.table(Table).count()
      ctx.check(total == committed && total == order.take(r).map(sliceRows).sum,
        s"table holds $total rows, server sent $committed for slices ${order.take(r).mkString(",")}")
      if (r == order.length) {
        val files = Data.dataFiles(tableDir)
        val bytes = Data.storedBytes(tableDir)
        ctx.exactCount("stored_bytes", bytes.toDouble)
        ctx.exactCount("write.files", files.length.toDouble)
        ctx.exactCount("write.blocks", files.map(Data.sidecarBlocks).sum.toDouble)
        ctx.exactCount("write.sidecar_bytes", Data.sidecarBytes(tableDir).toDouble)
        ctx.exactCount("scan.blocks_planned", files.map(Data.sidecarBlocks).sum.toDouble)
        ctx.exactCount("scan.rows_decoded", passDecoded.toDouble)
        ctx.exactCount("remote.connections", (server.accepts.get() - accepts0).toDouble)
        ctx.exactCount("write.lowcard_columns", Layers.lowCardColumns(files).toDouble)
        ctx.endToEnd("stored_bytes_per_row") = (bytes.toDouble / total, "B/row")
      }
    }

    ctx.phase("reference answers")
    pass(Long.MaxValue, WarmupRounds, measured = false)
    ctx.phase("warm-up")
    ctx.sampleHeap(0)
    usefulRows = 0; decodedRows = 0
    val deadline = ctx.deadlineAfter(ctx.seconds)
    var passes = 0
    while (System.nanoTime() < deadline) { pass(deadline, order.length, measured = true); passes += 1 }
    // a run too short for one whole pass still reports the stored size
    if (!ctx.endToEnd.contains("stored_bytes_per_row")) pass(Long.MaxValue, order.length, measured = false)

    ctx.phase("measure")
    ctx.latencyMetrics(rounds.toSeq, anchor = "append")
    if (ctx.trace) ctx.perLayer("scan.useful_ratio") = (usefulRows.toDouble / math.max(1L, decodedRows), "ratio")
    ctx.notes += f"ingest_rows_per_s = ${ctx.endToEnd("rows_per_s")._1}%.1f rows/s over $passes passes; " +
      f"append_p50_ms = ${ctx.endToEnd("anchor_op_ms")._1}%.2f ms"
    ctx.notes += f"stored_bytes_per_row = ${ctx.endToEnd("stored_bytes_per_row")._1}%.4f B/row"
    ctx.notes += s"sizes: $Slices slices of ~${sliceRows.sum / Slices} rows, $PointLookups point lookups + 1 range of " +
      s"$RangeWidth keys per append; LZ4, sortBy=l_orderkey; local[${ctx.nproc}], 1 client, 1 connection at a time"
  }
}
