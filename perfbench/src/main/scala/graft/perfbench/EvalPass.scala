package graft.perfbench

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One retrieval-evaluation pass — the reference's
  * `retrieval_evaluation` over every retriever's batch plan: golden-set
  * hit rate / MRR for the exact, champion and refreshed keyword legs (a
  * seeded golden file in the `data/golden` schema), and label-match hit
  * rate / MRR for the exact, IVF and quantized vector legs, hybrid
  * fusion, the alpha and champion-depth sweeps (a seeded vector query
  * set), a MaxSim rerank and an nDCG tail. Runs over the corpus already
  * written to the run's data dir; a leg that throws counts as failed.
  */
final class EvalPass(c: Ctx, docs: IndexedSeq[Gen.Doc], embs: IndexedSeq[Gen.Emb]) {
  val NGolden = 500
  val NVecQueries = 200
  /** Span request id of evaluation work (requests use ids >= 0). */
  val Req = -2L

  private val qids: DataFrame = {
    val g = Gen.golden(c.seed, docs, NGolden)
    val w = new java.io.PrintWriter(s"${c.dataDir}/golden.jsonl", "UTF-8")
    try g.foreach(x => w.println(Json.render(scala.collection.immutable.ListMap(
      "query_id" -> x.queryId, "query" -> x.query, "answer" -> x.answer))))
    finally w.close()
    val r = new java.util.SplittableRandom(c.seed ^ 0xe7a1L)
    val s = c.spark
    import s.implicits._
    Gen.shuffle(r, embs.map(_.id)).take(NVecQueries).toDF("q").cache()
  }
  /** Build every standing artifact the legs — and the refreshed /
    * quantized `GraftClient` routes — read, so traced calls measure the
    * reads, not the builds.
    */
  def prepare(): Unit = {
    val (s, dir) = (c.spark, c.dataDir)
    KeywordSearch.cachedTermDict(s, dir); KeywordSearch.cachedCorpusStats(s, dir)
    ChampionIndex.cachedChampionsRanked(s, dir); IvfIndex.cachedCentroids(s, dir)
    IndexRefresh.refreshedArtifact(s, dir); VectorRefresh.refreshedArtifact(s, dir)
    VectorRefresh.quantizedArtifact(s, dir); Word2VecEmbedder.weightsFor(s, dir)
  }

  /** One pass, in an `eval.pass` span. */
  def run(): Unit = c.tracer.span("eval.pass", Req)(onePass(Req))

  private def selVec: DataFrame => DataFrame =
    _.join(broadcast(qids), col("vec_id") === col("q"), "left_semi")
  private def selDoc: DataFrame => DataFrame =
    _.join(broadcast(qids), col("doc_id") === col("q"), "left_semi")

  private def onePass(req: Long): Unit = {
    val s = c.spark
    val dir = c.dataDir
    val docs = Tables.documents(s, dir)
    val embs = Tables.embeddings(s, dir)
    // every leg must return metric rows with 0 <= MRR <= hit rate <= 1
    def leg(layer: String)(build: => DataFrame): Unit = c.tracer.span(layer, req) {
      c.attempt(layer) {
        val rows = c.frame(req)(build)
        c.check(rows.nonEmpty, s"$layer returned no rows")
        rows.filter(_.schema.fieldNames.contains("hit_rate")).foreach { r =>
          val (h, m) = (r.getAs[Double]("hit_rate"), r.getAs[Double]("mrr"))
          c.check(0 <= m && m <= h && h <= 1, s"$layer: hit_rate $h, mrr $m")
        }
      }
    }
    leg("KeywordSearch.exact")(GoldenEval.qGoldenEval(s, dir))
    leg("ChampionIndex.pruned")(GoldenEval.qGoldenEvalPruned(s, dir))
    leg("GoldenEval.refreshed")(GoldenEval.qGoldenEvalRefreshed(s, dir))
    leg("VectorSearch.exact")(RetrievalEval.labelPrecision(embs))
    leg("IvfIndex.ivf")(hitMrr(IvfIndex.batchSearchIvf(embs, selVec,
        k = KeywordSearch.BatchK, centroids = Some(IvfIndex.cachedCentroids(s, dir)))
      .withColumnRenamed("vec_id", "doc_id"), embs))
    leg("VectorRefresh.quantized")(hitMrr(VectorRefresh.batchSearchQuantized(s,
        VectorRefresh.quantizedArtifact(s, dir), selVec, k = KeywordSearch.BatchK)
      .withColumnRenamed("vec_id", "doc_id"), embs))
    leg("HybridSearch.fused")(hitMrr(HybridSearch.fusedBatchSel(docs, embs, selVec, selDoc,
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir))), embs))
    leg("HybridSearch.alpha_sweep")(hitMrr(HybridSearch.fusedBatchSweepSel(docs, embs,
      selVec, selDoc, RetrievalEval.SweepAlphas,
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir))), embs, Some("alpha")))
    leg("HybridSearch.depth_sweep")(hitMrr(HybridSearch.fusedBatchChampionDepthSweepSel(
      docs, embs, KeywordSearch.cachedBatchPostings(s, dir),
      ChampionIndex.cachedChampions(s, dir), selVec, selDoc, RetrievalEval.SweepMs,
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      topC = HybridSearch.servingTopC(s, dir),
      rankedChamps = Some(ChampionIndex.cachedChampionsRanked(s, dir))), embs, Some("m")))
    leg("MaxSimReranker.rerank")(MaxSimReranker.batchRerank(s, dir)
      .groupBy().agg(count(lit(1)).as("n"), round(sum(col("score")), 4).as("sum_score")))
    leg("RetrievalEval.metrics")(RetrievalEval.ndcg(embs))
  }

  /** Hit rate@k and MRR@k over a ranked list `(q_id, rn, doc_id)` with
    * label-match relevance (RetrievalEval's metric tail), optionally per
    * sweep point.
    */
  private def hitMrr(ranked: DataFrame, embs: DataFrame, by: Option[String] = None): DataFrame = {
    val keys = by.toSeq
    ranked.select((keys ++ Seq("q_id", "rn", "doc_id")).map(col): _*)
      .join(embs.select(col("vec_id").as("doc_id"), col("label")), "doc_id")
      .join(embs.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .groupBy((keys :+ "q_id").map(col): _*)
      .agg(max(when(col("label") === col("q_label"), 1).otherwise(0)).as("hit"),
        min(when(col("label") === col("q_label"), col("rn"))).as("first_rel"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("hit").cast("double")), 4).as("hit_rate"),
        round(avg(coalesce(lit(1.0) / col("first_rel"), lit(0.0))), 4).as("mrr"))
      .orderBy(keys.map(col): _*)
  }
}
