package chbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
   *  (value, percentile, n). With ten samples or fewer no percentile
   *  qualifies, so the maximum is returned with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100, n)
    else (s(n - 11), math.floor(100.0 * (n - 10) / n).toInt, n)
  }
}

/**
 * Spans recorded by the benchmark around calls into the engine's layers.
 * Kept in memory and written once at exit; nothing inside the engine is
 * instrumented. When disabled every call is a plain pass-through.
 */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

final class Tracer(@volatile var on: Boolean) {

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var currentOp = 0L
  val t0: Long = System.nanoTime()

  /** Start a new operation: its spans share one op id. */
  def op[T](name: String)(body: => T): T = {
    if (on) currentOp = ids.incrementAndGet()
    span(name, "bench")(body)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val start = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, currentOp, name, layer, start, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Per layer: summed span time minus the part covered by child spans. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered).toDouble / 1e9
      }.sum
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Stage totals of one query class, summed from completed stages. */
final class StageTotals {
  var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var gcMs = 0L; var stages = 0L; var tasks = 0L
}

/**
 * Aggregates stage metrics per query class. The class is the local
 * property [[OpListener.ClassKey]] set by the benchmark thread before
 * it runs an operation; Spark copies local properties into each job.
 */
final class OpListener extends SparkListener {
  val byClass = mutable.HashMap.empty[String, StageTotals]
  private val stageClass = mutable.HashMap.empty[Int, String]
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val cls = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.ClassKey)))
    cls.foreach(c => e.stageIds.foreach(stageClass(_) = c))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageClass.remove(info.stageId).foreach { cls =>
      val t = byClass.getOrElseUpdate(cls, new StageTotals)
      val m = info.taskMetrics
      t.stages += 1
      t.tasks += info.numTasks
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
    }
  }

  /** Wait until every job seen has ended and no event arrived for 300 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = (-1L, -1L)
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val now = (jobsStarted, jobsEnded)
      if (now != last) { last = now; quietSince = System.nanoTime() }
      else if (now._1 == now._2 && System.nanoTime() - quietSince > 300L * 1000 * 1000) return
      Thread.sleep(20)
    }
  }
}

object OpListener {
  val ClassKey = "chbench.class"
}

/** Facts read back from an executed query: planning phases, the final
 *  adaptive plan's shape, and the scan's output row count. */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Hash of the final plan's operator names, in tree order. */
  def planHash(df: DataFrame): String = {
    val names = mutable.ArrayBuffer.empty[String]
    foreach(finalPlan(df))(p => names += p.nodeName)
    Integer.toHexString(names.mkString(">").hashCode)
  }

  /** Rows produced by every DSv2 batch scan in the final plan. */
  def rowsDecoded(df: DataFrame): Long =
    collect(finalPlan(df)) { case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum

  def partitions(df: DataFrame): Int =
    collect(finalPlan(df)) { case b: BatchScanExec => b.inputPartitions.length }.sum

  def phasesMs(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
}
