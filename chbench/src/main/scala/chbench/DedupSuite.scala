package chbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupClusters, TextPipeline}

/**
 * The text-dedup operators (MinHash pairs, connected components, BM25
 * top-k) measured once per traced run over documents stored as Native
 * with dictionary-encoded `lang`/`source`. A closed-loop dedup workload
 * needs about 5.5 s per round on a 4-vCPU sandbox, too long to give
 * steady medians within the benchmark's run budget, so these operators
 * report per-layer figures only, checked against the same pipeline over
 * the parquet copy of the documents.
 */
object DedupSuite {
  val BaseDocs = 1000L
  val Copies = 3
  val IdShift = 100000000L
  val TopK = 10

  final case class Result(pairs: Long, clusters: Long, rounds: Int, top: Seq[Long])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rng = new Random(ctx.seed)
    // copy 0 keeps the identity; the others get distinct seed-chosen rotations
    val rotations = 0 +: rng.shuffle((1 to 9).toVector).take(Copies - 1)
    val terms = rng.shuffle(Data.Vocab.filter(_.length > 3)).take(3)
    val src = ctx.parquetSource(s"documents-$BaseDocs-${rotations.mkString("_")}")(
      Data.documentCopies(Data.documents(spark, BaseDocs), Copies, rotations, IdShift).write.parquet(_))
    val docsPath = new File(ctx.work, "layers/documents").getPath
    spark.read.parquet(src).write.format("clickhouse_native").mode("overwrite").save(docsPath)
    val nDocs = spark.read.parquet(src).count()

    val expected = pipeline(ctx, spark.read.parquet(src), terms)
    val got = pipeline(ctx, spark.read.format("clickhouse_native").load(docsPath), terms)
    ctx.check(got == expected, s"dedup over Native $got != over parquet $expected")
    val cand = ctx.attempt("minhash") {
      Dedup.minhashCandidates(spark.read.format("clickhouse_native").load(docsPath), "doc_id", "text").count()
    }.getOrElse(0L)
    ctx.exactCount("operators.dedup_candidates", cand.toDouble)
    ctx.exactCount("operators.dedup_pairs", got.pairs.toDouble)
    ctx.exactCount("operators.cc_rounds", got.rounds.toDouble)
    ctx.perLayer("operators.dedup_candidates") = (cand.toDouble, "count")
    ctx.perLayer("operators.dedup_pairs") = (got.pairs.toDouble, "count")
    ctx.perLayer("operators.dedup_precision") = (if (cand == 0) 0.0 else got.pairs.toDouble / cand, "ratio")
    ctx.perLayer("operators.cc_rounds") = (got.rounds.toDouble, "count")
    ctx.notes += s"dedup suite: $nDocs documents ($Copies rotated copies of $BaseDocs, rotations " +
      s"${rotations.mkString(",")}), $cand candidates, ${got.pairs} pairs, ${got.clusters} clusters in " +
      s"${got.rounds} rounds, bm25 terms ${terms.mkString(",")}"
  }

  /** MinHash pairs -> connected components -> BM25 top-k over one read of `stored`. */
  private def pipeline(ctx: Ctx, stored: DataFrame, terms: Seq[String]): Result = {
    val docs = ctx.attempt("read") { ctx.tracer.span("read", "scan")(stored.localCheckpoint()) }.get
    val pairs = ctx.attempt("minhash") {
      val m = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).select(col("id_a"), col("id_b"))
      val p = m.localCheckpoint()
      ctx.recordPlan("minhash", m)
      p -> p.count()
    }
    val cc = pairs.flatMap { case (p, _) =>
      ctx.attempt("cc") {
        val (clusters, rounds) = DedupClusters.assignWithRounds(p)
        val distinct = clusters.agg(countDistinct("cluster"))
        val n = distinct.collect().head.getLong(0)
        ctx.recordPlan("cc", distinct)
        (n, rounds)
      }
    }
    val top = ctx.attempt("bm25") {
      val df = TextPipeline.bm25TopK(docs, "doc_id", "text", terms, k = TopK)
      val rows = df.collect()
      ctx.recordPlan("bm25", df)
      rows
    }
    Result(pairs.map(_._2).getOrElse(-1L), cc.map(_._1).getOrElse(-1L), cc.map(_._2).getOrElse(-1),
      top.map(_.toSeq.map(idOf)).getOrElse(Nil))
  }

  private def idOf(r: Row): Long = r.getAs[Long]("doc_id")
}
