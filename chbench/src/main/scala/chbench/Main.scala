package chbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Layer-by-layer benchmark of the engine: one closed-loop client thread
 * drives one workload in a `local[nproc]` session for a fixed time.
 *
 *   chbench.Main --workload scan|ingest --seed N --seconds S --trace 0|1 --work DIR
 *
 * With `--trace 0` the last stdout line carries the end-to-end metrics;
 * with `--trace 1` it carries the per-layer metrics, and the spans, layer
 * self times and counts are written to DIR/trace-<workload>-<seed>.json.
 * Exit code 1 when any output check or exact-repeat count fails.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    if (!Set("scan", "ingest").contains(workload)) {
      System.err.println(s"unknown workload '$workload'"); sys.exit(2)
    }
    val ctx = new Ctx(workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")).getAbsoluteFile, opts.getOrElse("source-hash", ""))
    val ok = try {
      workload match {
        case "scan" => ScanWorkload.run(ctx)
        case "ingest" => IngestWorkload.run(ctx)
      }
      if (ctx.trace) Layers.run(ctx)
      ctx.finish()
    } catch {
      case e: Throwable =>
        System.err.println(s"chbench: $workload failed: $e")
        e.printStackTrace()
        false
    } finally ctx.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** State shared by a run: session, tracer, listener, checks and results. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
    val work: File, sourceHash: String) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val fixtures = new File(work, "fixtures")
  Data.deleteRecursively(fixtures)
  fixtures.mkdirs()

  private val sessionStart = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"chbench-$workload")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.catalog.graft", "graft.sources.native.NativeCatalog")
    .config("spark.sql.catalog.graft.warehouse", new File(fixtures, "catalog").toURI.toString)
    .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").toURI.toString)
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionStartS: Double = (System.nanoTime() - sessionStart) / 1e9

  val tracer = new Tracer(trace)
  val listener: Option[OpListener] =
    if (trace) { val l = new OpListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** name -> (value, unit), in output order. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Counts that must repeat exactly for a fixed seed. */
  val exact = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Plan hashes seen per query class. */
  val planHashes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
  val phaseMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (errors.length < 50) errors += what }

  /** Record an exact count; a second sighting must equal the first. */
  def exactCount(name: String, v: Double): Unit = exact.get(name) match {
    case Some(prev) => check(prev == v, s"exact count $name changed within the run: $prev then $v")
    case None => exact(name) = v
  }

  val tracedOps = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  /** Latency of every operation run inside a measured round, by class. */
  val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var measuring = false

  /** Run `body` as one attempted operation of query class `cls`. */
  def attempt[T](cls: String)(body: => T): Option[T] = {
    attempted += 1
    val sc = spark.sparkContext
    if (tracer.on) {
      tracedOps(cls) += 1
      sc.setLocalProperty(OpListener.ClassKey, cls)
    }
    val t0 = System.nanoTime()
    try Some(tracer.op(cls)(body))
    catch {
      case e: Exception =>
        check(ok = false, s"$cls: $e")
        None
    } finally {
      sc.setLocalProperty(OpListener.ClassKey, null)
      if (measuring) opMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    }
  }

  /** Read back plan hash and planning phases of an executed query. */
  def recordPlan(cls: String, df: DataFrame): Unit = if (tracer.on) {
    planHashes.getOrElseUpdate(cls, mutable.LinkedHashSet.empty) += PlanFacts.planHash(df)
    PlanFacts.phasesMs(df).foreach { case (k, v) => phaseMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
  }

  private var roundNo = 0
  private val roundWalls = Map(true -> mutable.ArrayBuffer.empty[Double], false -> mutable.ArrayBuffer.empty[Double])

  /** Time one measured round. In a traced run every other round runs
   *  untraced, so the two medians give the tracing overhead. */
  def round(body: => Unit): Double = {
    val on = trace && roundNo % 2 == 1
    tracer.on = on
    measuring = true
    val t0 = System.nanoTime()
    try body finally { tracer.on = trace; measuring = false }
    val wall = (System.nanoTime() - t0) / 1e9
    roundWalls(on) += wall
    roundNo += 1
    wall
  }

  /**
   * End-to-end latency and throughput of the measured rounds: `rows_per_s`
   * from per-round (rows, seconds), the pooled latency of every operation,
   * and the median of the workload's anchor operation class.
   */
  def latencyMetrics(rounds: Seq[(Double, Double)], anchor: String): Unit = {
    val all = opMs.values.flatten.toSeq
    val (tail, pct, n) = Stats.tail(all)
    endToEnd("rows_per_s") = (Stats.median(rounds.map { case (rows, s) => rows / s }), "rows/s")
    endToEnd("op_p50_ms") = (Stats.median(all), "ms")
    endToEnd("op_tail_ms") = (tail, "ms")
    endToEnd("anchor_op_ms") = (Stats.median(opMs(anchor).toSeq), "ms")
    notes += f"ops: p50 ${Stats.median(all)}%.2f ms, p$pct $tail%.2f ms over $n ops in ${rounds.length} rounds"
    for ((cls, xs) <- opMs) {
      val (t, p, k) = Stats.tail(xs.toSeq)
      notes += f"${cls}_p50_ms = ${Stats.median(xs.toSeq)}%.2f ms; ${cls}_tail_ms = $t%.2f ms (p$p of $k)"
    }
    val walls = (roundWalls(true) ++ roundWalls(false)).toSeq
    val (rt, rp, rn) = Stats.tail(walls)
    notes += f"${workload}_round_p50_s = ${Stats.median(walls)}%.4f s; ${workload}_round_tail_s = $rt%.4f s " +
      f"(p$rp of $rn): " + walls.map(w => f"$w%.2f").mkString(" ")
  }

  /** A parquet source table made once per checkout and reused by later runs. */
  def parquetSource(name: String)(make: String => Unit): String = {
    val dir = new File(work, s"parquet-$name-$sourceHash")
    if (!new File(dir, "_SUCCESS").exists()) {
      Data.deleteRecursively(dir)
      make(dir.getPath)
    }
    dir.getPath
  }

  /** Note how far into the process a run phase ended. */
  def phase(name: String): Unit =
    notes += f"phase $name done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s"

  /** A seed-independent value computed once per checkout and reused by later runs. */
  def cachedOnce[T <: Serializable](name: String)(compute: => T): T = {
    val f = new File(work, s"cache-$name-$sourceHash.bin")
    if (f.exists()) {
      val in = new java.io.ObjectInputStream(new java.io.FileInputStream(f))
      try return in.readObject().asInstanceOf[T] finally in.close()
    }
    val v = compute
    val tmp = new File(work, f.getName + ".tmp")
    val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(tmp))
    try out.writeObject(v) finally out.close()
    tmp.renameTo(f)
    v
  }

  def deadlineAfter(s: Double): Long = System.nanoTime() + (s * 1e9).toLong

  // ---- heap: occupancy right after a full collection ----
  private var heapPeak = 0L
  private var lastHeapSample = 0L
  /** Collect and sample the live heap, at most every `minGapS` seconds. */
  def sampleHeap(minGapS: Double = 4.0): Unit = {
    val now = System.nanoTime()
    if (now - lastHeapSample < minGapS * 1e9) return
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    val live = pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    heapPeak = math.max(heapPeak, live)
    lastHeapSample = System.nanoTime()
  }

  /** Build fixtures `times` times into fresh directories and record
   *  `setup_s` as session start plus the median build; returns the last one. */
  def buildFixtures(times: Int)(build: File => Unit): File = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var dir: File = null
    for (i <- 0 until times) {
      if (dir != null) Data.deleteRecursively(dir)
      dir = new File(fixtures, s"build-$i")
      dir.mkdirs()
      val t = System.nanoTime()
      build(dir)
      secs += (System.nanoTime() - t) / 1e9
    }
    val med = Stats.median(secs.toSeq)
    endToEnd("setup_s") = (sessionStartS + med, "s")
    notes += f"setup: session start $sessionStartS%.3f s + median fixture build $med%.3f s " +
      s"over $times builds (${secs.map(x => f"$x%.3f").mkString(", ")})"
    phase("setup")
    dir
  }

  /** Add the operator and query layer metrics gathered by the listener. */
  private def operatorMetrics(): Unit = listener.foreach { l =>
    l.drain()
    for (cls <- Ctx.OperatorClasses) {
      val t = l.synchronized(l.byClass.getOrElse(cls, new StageTotals))
      val ops = math.max(1L, tracedOps(cls)).toDouble
      perLayer(s"operators.task_s.$cls") = (t.taskMs / 1000.0 / ops, "s")
      perLayer(s"operators.shuffle_read_mb.$cls") = (t.shuffleRead / 1e6 / ops, "MB")
      perLayer(s"operators.shuffle_write_mb.$cls") = (t.shuffleWrite / 1e6 / ops, "MB")
      perLayer(s"operators.spill_mb.$cls") = (t.spill / 1e6 / ops, "MB")
      perLayer(s"operators.gc_s.$cls") = (t.gcMs / 1000.0 / ops, "s")
      perLayer(s"operators.stages.$cls") = (t.stages / ops, "count")
      perLayer(s"operators.tasks.$cls") = (t.tasks / ops, "count")
    }
    for (p <- Seq("analysis", "optimization", "planning"))
      perLayer(s"query.${p}_ms") = (phaseMs.get(p).map(b => Stats.median(b.toSeq)).getOrElse(0.0), "ms")
    perLayer("query.plan_hash_flips") = (planHashes.values.map(_.size - 1).sum.toDouble, "count")
    planHashes.foreach { case (cls, hs) => notes += s"plan hashes $cls: ${hs.mkString(",")}" }
    val self = tracer.selfSeconds
    for (layer <- Ctx.Layers) perLayer(s"$layer.self_s") = (self.getOrElse(layer, 0.0), "s")
    val (traced, plain) = (roundWalls(true), roundWalls(false))
    perLayer("bench.tracing_overhead_pct") = (if (traced.isEmpty || plain.isEmpty) 0.0
      else 100 * (Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1), "%")
    notes += s"tracing overhead from ${traced.length} traced and ${plain.length} untraced rounds"
  }

  /** Compare exact counts with an earlier run of the same seed and sources. */
  private def crossRunRepeat(): Unit = if (sourceHash.nonEmpty && exact.nonEmpty) {
    val f = new File(work, s"exact-$workload-$seed-${if (trace) 1 else 0}-$sourceHash.txt")
    val now = exact.map { case (k, v) => s"$k=$v" }.mkString("\n")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val before = try src.mkString finally src.close()
      check(before == now, s"exact counts differ from an earlier run with seed $seed:\n$before\nvs\n$now")
    } else {
      val w = new PrintWriter(f, "UTF-8"); try w.write(now) finally w.close()
    }
  }

  /** Print the report and the result line; true when every check passed. */
  def finish(): Boolean = {
    sampleHeap(0)
    endToEnd("live_heap_peak_mb") = (heapPeak / 1e6, "MB")
    if (trace) operatorMetrics()
    crossRunRepeat()
    val errorRate = failed.toDouble / math.max(1L, attempted)
    notes.foreach(n => println(s"# $n"))
    exact.foreach { case (k, v) => println(s"# exact $k = $v") }
    println(f"# error_rate = $errorRate%.6f ratio ($failed of $attempted ops)")
    errors.foreach(e => println(s"# ERROR $e"))
    val metrics = if (trace) perLayer else endToEnd
    if (trace) writeTrace()
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, attempted)}, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    failed == 0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeTrace(): Unit = {
    val f = new File(work, s"trace-$workload-$seed.json")
    val self = tracer.selfSeconds.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    val counts = exact.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s"""{"self_s": {$self}, "counts": {$counts}, "spans": ${tracer.toJson}}""")
    finally w.close()
    println(s"# trace written to ${f.getPath}")
  }

  def stop(): Unit = spark.stop()
}

object Ctx {
  val OperatorClasses: Seq[String] = Seq("q1", "q6", "join", "array_agg", "minhash", "cc", "bm25")
  val Layers: Seq[String] = Seq("codec", "compression", "scan", "write", "remote", "operators", "query")
}
