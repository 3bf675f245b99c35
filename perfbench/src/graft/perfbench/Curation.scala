package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft._

/** curation_batch: one LLM data-curation pass per unit over a seeded
  * corpus with planted exact and near duplicates, plus exact top-k over
  * clustered embeddings. Ops.validateSchema → TextAnalysis.qualityScore
  * → Dedup.exact → Dedup.minhashLsh → Similarity.topK, then the curated
  * rows are committed to a fresh table once. Executor CPU in the
  * operators and their kernels does nearly all the work; there is one
  * commit and no history, so this is the control that a metadata change
  * must leave alone. */
final class Curation(ctx: Ctx) extends Workload {
  val Docs = 1500
  val DupShare = 0.1
  val NearShare = 0.1
  val InvalidShare = 0.02
  val Vectors = 4000
  val Dim = 64
  val Clusters = 24
  val Queries = 48
  val K = 10
  /** Near copies change one token in 60 (5-shingle Jaccard above 0.85);
    * LSH at 16 bands × 4 rows misses such a pair with probability below
    * 1e-5, so recall below this floor is a defect, not bad luck. */
  val RecallFloor = 0.95

  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var vecs: Gen.Vectors = _
  private var docsDf: DataFrame = _
  private var embDf: DataFrame = _
  private var queryDf: DataFrame = _
  private var warehouse: Path = _
  private var passes = 0
  private var committedRows = 0L
  private var lastTable: Option[(TableSink, Set[Long])] = None
  private var recall = 0.0
  private var removedRatio = 0.0
  private var okRows = 0L

  def unitName = "pass"

  def setup(wh: Path): Unit = {
    warehouse = wh
    corpus = Gen.corpus(ctx.seed, Docs, DupShare, NearShare, InvalidShare)
    vecs = Gen.vectors(ctx.seed, Vectors, Dim, Clusters, Queries)
    docsDf = Workload.frame(spark, corpus.docs.toSeq.map { case (id, t) => Row(id, t) },
      new StructType().add("doc_id", LongType).add("text", StringType))
    val vecSchema = new StructType().add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType, containsNull = false))
    embDf = Workload.frame(spark, vecs.corpus.toSeq.map { case (id, v) => Row(id, v.toSeq) },
      vecSchema)
    queryDf = Workload.frame(spark, vecs.queries.toSeq.map { case (id, v) => Row(id, v.toSeq) },
      vecSchema)
    passes = 0; committedRows = 0L; lastTable = None
    pass()
  }

  private def rowsOut(rows: Array[Row]): Array[Row] = {
    ctx.attr("rows_returned", rows.length)
    rows
  }

  private def pass(): Long = {
    passes += 1
    val valid = ctx.span("Ops") {
      Ops.validateSchema(docsDf,
        col("text").isNotNull && length(trim(col("text"))) > 0)
    }._1.oks

    val quality = ctx.op("quality") {
      ctx.span("TextAnalysis.quality") {
        val df = ctx.plan(TextAnalysis.qualityScore(valid))
        rowsOut(ctx.execute(df.collect()))
      }._1
    }.map(_.map(r => r.getLong(0) -> r.getDouble(1)).toMap)

    val keep = ctx.op("exact") {
      ctx.span("Dedup.exact") {
        val df = ctx.plan(Dedup.exact(valid))
        rowsOut(ctx.execute(df.select("keep_id", "n_dups").collect()))
      }._1
    }.map(_.map(_.getLong(0)).toSet)

    val pairs = ctx.op("minhash") {
      ctx.span("Dedup.minhash") {
        val df = ctx.plan(Dedup.minhashLsh(valid))
        rowsOut(ctx.execute(df.select("id_a", "id_b").collect()))
      }._1
    }.map(_.map(r => r.getLong(0) -> r.getLong(1)).toSet)

    val neighbours = ctx.op("topk") {
      ctx.span("Similarity.topk") {
        val df = ctx.plan(Similarity.topK(embDf, queryDf, K))
        rowsOut(ctx.execute(df.collect()))
      }._1
    }.map(_.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))

    for (q <- quality; k <- keep; p <- pairs; nb <- neighbours) {
      val survivors = k -- p.map(_._2)
      okRows = q.size.toLong
      removedRatio = 1.0 - k.size.toDouble / q.size
      recall = corpus.nearPairs.count(p.contains).toDouble / corpus.nearPairs.size
      // every original survives; the only other survivors are near copies
      // whose planted pair the LSH missed (bounded by the recall check)
      val missed = corpus.nearPairs.filterNot(p.contains).map(_._2)
      ctx.check("survivors are the planted originals plus missed near copies",
        survivors == corpus.originals ++ missed,
        s"${survivors.size} vs ${corpus.originals.size} + ${missed.size}")
      ctx.check(s"minhash recall >= $RecallFloor", recall >= RecallFloor, s"$recall")
      ctx.check("top-k: k neighbours per query, all in the query's cluster",
        nb.groupBy(_._1).forall { case (qid, xs) =>
          xs.map(_._3).sorted.toSeq == (1L to K) &&
            xs.forall(x => vecs.clusterOf(x._2) == vecs.clusterOf(qid))
        } && nb.map(_._1).distinct.length == Queries)

      val sink = new TableSink(SinkConfig(s"curated_${passes}", warehouse.toString,
        versioned = true))
      val chosen = Workload.frame(spark, survivors.toSeq.map(id => Row(id, q(id))),
        new StructType().add("doc_id", LongType).add("quality", DoubleType))
      ctx.op("commit") {
        ctx.span("TableSink.commit") {
          sink.appendStreamBatch(valid.join(broadcast(chosen), "doc_id"),
            "curation", 0L)
        }._1
      }.foreach { _ =>
        committedRows += survivors.size
        lastTable = Some(sink -> survivors)
      }
    }
    corpus.docs.length.toLong
  }

  def runUnit(i: Int): Long = pass()

  def verify(): Unit = lastTable match {
    case Some((sink, survivors)) =>
      val ids = sink.read(spark).select("doc_id", "text", "quality").collect()
      ctx.check("curated table holds exactly the survivors",
        ids.map(_.getLong(0)).toSet == survivors && ids.length == survivors.size &&
          ids.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    case None => ctx.check("a curated table was committed", ok = false)
  }

  def tableDirs: Seq[Path] = (1 to passes).map(p => warehouse.resolve(s"curated_$p"))
  def liveRows: Long = committedRows

  def traffic: Seq[(String, Double)] = Seq(
    "docs" -> corpus.docs.length.toDouble,
    "originals" -> corpus.originals.size.toDouble,
    "exact_dup_share" -> corpus.exactDups.toDouble / corpus.docs.length,
    "near_dup_share" -> corpus.nearPairs.size.toDouble / corpus.docs.length,
    "invalid_share" -> corpus.invalid.toDouble / corpus.docs.length,
    "vectors" -> Vectors.toDouble,
    "dim" -> Dim.toDouble,
    "clusters" -> Clusters.toDouble,
    "queries" -> Queries.toDouble,
    "k" -> K.toDouble)

  override def layerExtras: Seq[(String, Double)] = Seq(
    "Ops.ok_ratio" -> okRows.toDouble / corpus.docs.length,
    "Dedup.minhash.recall" -> recall,
    "Dedup.exact.removed_ratio" -> removedRatio)
}
