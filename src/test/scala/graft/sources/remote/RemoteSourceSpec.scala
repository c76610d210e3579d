package graft.sources.remote

import graft.SparkTestBase

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RemoteSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def recordedResponse(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-remote").toString + "/resp"
    spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
      .coalesce(1).write.format("clickhouse_native").mode("overwrite").save(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".clickhouse")).map(_.getPath).sorted.head
  }

  test("file transport streams a recorded Native response as a table") {
    val resp = recordedResponse()
    val df = spark.read.format("clickhouse_remote")
      .option("query", "SELECT * FROM nation")
      .option("transport", "file")
      .option("responsePath", resp)
      .load()
    val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
    assert(df.collect().toSet === src.collect().toSet)
    assert(df.count() === 25)
  }

  test("column pruning reaches the remote decode path") {
    val resp = recordedResponse()
    val df = spark.read.format("clickhouse_remote")
      .option("query", "SELECT * FROM nation")
      .option("transport", "file")
      .option("responsePath", resp)
      .load()
      .select("n_name")
    assert(df.collect().map(_.getString(0)).toSet ===
      spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
        .select("n_name").collect().map(_.getString(0)).toSet)
  }

  test("file transport reads Array, Map, Nullable and LowCardinality columns") {
    import graft.sources.native.{ChType, NativeBlock, NativeBlockWriter, NativeColumn}
    import graft.sources.native.ChType._
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    def str(s: String): Any = UTF8String.fromString(s)
    val rows = (0 until 10).map { i =>
      (Seq.tabulate(i % 4)(j => i * 10L + j), Map("k" -> i.toLong, "sq" -> i.toLong * i),
        if (i % 3 == 0) null else s"n$i", s"tag${i % 2}")
    }
    val resp = java.nio.file.Files.createTempDirectory("graft-remote-nested")
      .resolve("resp.native")
    val w = new NativeBlockWriter(java.nio.file.Files.newOutputStream(resp))
    rows.grouped(4).foreach { block => // three blocks: 4 + 4 + 2 rows
      def col(name: String, t: ChType)(f: ((Seq[Long], Map[String, Long], String, String)) => Any) =
        NativeColumn(name, t, block.map(f).toArray)
      w.writeBlock(NativeBlock(Array(
        col("xs", ChArray(ChInt64))(r => new GenericArrayData(r._1.toArray[Any])),
        col("m", ChMap(ChString, ChInt64)) { r =>
          new ArrayBasedMapData(new GenericArrayData(r._2.keys.map(str).toArray),
            new GenericArrayData(r._2.values.toArray[Any]))
        },
        col("n", ChNullable(ChString))(r => Option(r._3).map(str).orNull),
        col("tag", ChLowCardinality(ChString))(r => str(r._4))), block.length))
    }
    w.close()
    val df = spark.read.format("clickhouse_remote")
      .option("query", "SELECT xs, m, n, tag FROM t")
      .option("transport", "file")
      .option("responsePath", resp.toString)
      .load()
    assert(df.schema.map(_.dataType.simpleString) ===
      Seq("array<bigint>", "map<string,bigint>", "string", "string"))
    val back = df.collect().map(r =>
      (r.getSeq[Long](0), r.getMap[String, Long](1).toMap, r.getString(2), r.getString(3)))
    assert(back.toSeq === rows)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("missing query option fails clearly") {
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("transport", "file").option("responsePath", "/tmp/x").load()
    }
    assert(e.getMessage.contains("query"))
  }

  test("socket transport: query ships over TCP, Native response streams back") {
    // In-process "server": accepts connections, reads the LEB128-length-
    // prefixed query string, streams the recorded Native response, closes.
    // Serves until closed — driver schema probe + executor partition both
    // dial their own connection (the connection-per-partition shape).
    val respBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(recordedResponse()))
    val server = new java.net.ServerSocket(0)
    val queriesSeen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val accepts = new java.util.concurrent.atomic.AtomicInteger(0)
    val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        accepts.incrementAndGet()
        new Thread(() => {
          try {
            val in = new java.io.DataInputStream(s.getInputStream)
            // LEB128 varuint length
            var len = 0L; var shift = 0; var more = true
            while (more) {
              val b = in.readByte() & 0xff
              len |= (b & 0x7fL) << shift; shift += 7; more = (b & 0x80) != 0
            }
            val q = new Array[Byte](len.toInt)
            in.readFully(q)
            queriesSeen.add(new String(q, "UTF-8"))
            s.getOutputStream.write(respBytes)
            s.getOutputStream.flush()
          } finally s.close()
        }).start()
      } catch { case _: java.net.SocketException => () /* closed */ }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val df = spark.read.format("clickhouse_remote")
        .option("query", "SELECT * FROM nation FORMAT Native")
        .option("transport", "socket")
        .option("url", s"tcp://localhost:${server.getLocalPort}")
        .load()
      val src = spark.read.parquet(s"${SparkTestBase.sfDir}/nation.parquet")
      assert(df.collect().toSet === src.collect().toSet)
      assert(accepts.get() >= 2, "schema probe and executor should dial separately")
      assert(queriesSeen.toArray.forall(_ == "SELECT * FROM nation FORMAT Native"))
    } finally server.close()
  }

  test("socket transport: bad url fails with a named error") {
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("query", "SELECT 1").option("transport", "socket")
        .option("url", "nonsense").load()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("host:port")))
  }

  test("tcp transport is the default and fails fast on an unreachable server") {
    // protocol-level behavior (handshake, framing, golden bytes) is
    // covered by ChTcpProtocolSpec; here: default transport = tcp, and
    // a dead endpoint errors at connect within the timeout instead of
    // hanging (port 1 on loopback is never listening)
    val e = intercept[Exception] {
      spark.read.format("clickhouse_remote")
        .option("query", "SELECT 1")
        .option("url", "tcp://127.0.0.1:1")
        .option("timeoutMs", "2000").load().collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[java.net.ConnectException]), e.toString)
  }
}
