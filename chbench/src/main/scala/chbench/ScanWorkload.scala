package chbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * `scan`: a read-only query mix over plain Native tables, the reference's
 * own uncompressed format. Codec decode and the DSv2 scan do most of the
 * work; compression, write and remote do none. The mix covers the
 * columnar path (Q1, Q6, join), the row path (an Array column) and the
 * count path over a 1M-row file with no sidecar.
 */
object ScanWorkload {
  val Orders = 40000L      // lineitem: ~160k rows
  val Embeddings = 25000L
  val CountRows = 1000000
  val WarmupRounds = 3

  final case class Tables(lineitem: String, orders: String, embeddings: String, count: String)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pq = Tables(
      ctx.parquetSource(s"lineitem-$Orders")(Data.lineitem(spark, Orders).write.parquet(_)),
      ctx.parquetSource(s"orders-$Orders")(Data.orders(spark, Orders).write.parquet(_)),
      ctx.parquetSource(s"embeddings-$Embeddings")(Data.embeddings(spark, Embeddings).write.parquet(_)), "")

    val dir = ctx.buildFixtures(3) { d =>
      for ((t, p) <- Seq("lineitem" -> pq.lineitem, "orders" -> pq.orders, "embeddings" -> pq.embeddings))
        spark.read.parquet(p).write.format("clickhouse_native").mode("overwrite").save(new File(d, t).getPath)
      Data.writeSidecarLessCount(new File(d, "count_1m.clickhouse"), CountRows)
    }
    val nt = Tables(new File(dir, "lineitem").getPath, new File(dir, "orders").getPath,
      new File(dir, "embeddings").getPath, new File(dir, "count_1m.clickhouse").getPath)

    val lineRows = spark.read.parquet(pq.lineitem).count()
    val rowsPerRound = 3 * lineRows + Orders + Embeddings + CountRows
    val tables = Seq("lineitem", "orders", "embeddings").map(t => new File(dir, t))
    val stored = tables.map(Data.storedBytes).sum + new File(nt.count).length()
    ctx.endToEnd("stored_bytes_per_row") = (stored.toDouble / (lineRows + Orders + Embeddings + CountRows), "B/row")
    ctx.exactCount("stored_bytes", stored.toDouble)
    val files = tables.flatMap(Data.dataFiles)
    ctx.exactCount("scan.blocks_planned", files.map(Data.sidecarBlocks).sum.toDouble)
    ctx.exactCount("write.files", files.length.toDouble)
    ctx.exactCount("write.blocks", files.map(Data.sidecarBlocks).sum.toDouble)
    ctx.exactCount("write.sidecar_bytes", tables.map(Data.sidecarBytes).sum.toDouble)
    ctx.exactCount("write.lowcard_columns", Layers.lowCardColumns(Data.dataFiles(tables.head)).toDouble)

    // Reference answers from the parquet copies of the same tables; they
    // do not depend on the seed, so one run per checkout computes them.
    val expected: Map[String, Array[Row]] = ctx.cachedOnce("scan-reference") {
      new java.util.HashMap[String, Array[Row]](queries.map { case (cls, q) =>
        cls -> (if (cls == "count") Array(Row(CountRows.toLong)) else q(pq, "parquet").collect())
      }.toMap.asJava)
    }.asScala.toMap

    ctx.phase("reference answers")
    val rng = new Random(ctx.seed)
    def round(): Unit = {
      var decoded = 0L
      rng.shuffle(queries).foreach { case (cls, q) =>
        ctx.attempt(cls) {
          val df = ctx.tracer.span("bind", "scan")(q(nt, "clickhouse_native"))
          ctx.tracer.span("plan", "query")(df.queryExecution.executedPlan)
          val rows = ctx.tracer.span("execute", "operators")(df.collect())
          ctx.check(same(rows, expected(cls)), s"scan $cls: ${rows.mkString(";")} != ${expected(cls).mkString(";")}")
          decoded += PlanFacts.rowsDecoded(df)
          ctx.recordPlan(cls, df)
        }
      }
      ctx.exactCount("scan.rows_decoded", decoded.toDouble)
    }

    for (_ <- 0 until WarmupRounds) round()
    ctx.phase("warm-up")
    ctx.sampleHeap(0)
    val rounds = mutable.ArrayBuffer.empty[(Double, Double)]
    val deadline = ctx.deadlineAfter(ctx.seconds)
    while (System.nanoTime() < deadline) {
      rounds += (rowsPerRound.toDouble -> ctx.round(round()))
      ctx.sampleHeap()
    }
    ctx.phase("measure")
    ctx.latencyMetrics(rounds.toSeq, anchor = "count")
    ctx.notes += f"scan_rows_per_s = ${ctx.endToEnd("rows_per_s")._1}%.1f rows/s (round covers $rowsPerRound rows)"
    ctx.notes += f"count_1m_ms = ${ctx.endToEnd("anchor_op_ms")._1}%.2f ms; the reference's published figure, " +
      "0.095 s, is a cold CLI process over the same shape and is not comparable"
    ctx.notes += s"sizes: lineitem $lineRows rows, orders $Orders, embeddings $Embeddings x ${Data.EmbeddingDim} " +
      s"floats, count file $CountRows rows, all plain Native; local[${ctx.nproc}], 1 client"
  }

  private def load(path: String, format: String): DataFrame =
    if (format == "parquet") org.apache.spark.sql.SparkSession.active.read.parquet(path)
    else org.apache.spark.sql.SparkSession.active.read.format(format).load(path)

  /** The query mix: class name and query over a set of tables in a format. */
  val queries: Seq[(String, (Tables, String) => DataFrame)] = Seq(
    "q1" -> { (t, f) =>
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      load(t.lineitem, f).filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"), sum(disc), sum(disc * (lit(1) + col("l_tax"))),
          avg("l_quantity"), avg("l_discount"), count(lit(1)))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "q6" -> { (t, f) =>
      load(t.lineitem, f)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice") * col("l_discount")), count(lit(1)))
    },
    "join" -> { (t, f) =>
      load(t.lineitem, f).join(load(t.orders, f).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), count(lit(1)))
        .orderBy("o_orderpriority")
    },
    "array_agg" -> { (t, f) =>
      load(t.embeddings, f).groupBy("label")
        .agg(sum(aggregate(col("embedding"), lit(0.0), (a, x) => a + x)), max(size(col("embedding"))),
          count(lit(1)))
        .orderBy("label")
    },
    "count" -> { (t, f) => load(t.count, f).groupBy().agg(count(lit(1))) })

  /** Equal row by row: exact for integers and strings, 1e-9 relative for doubles. */
  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
          case (p, q) => p == q
        }
      }
    }
}
