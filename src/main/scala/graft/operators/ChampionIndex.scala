package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.topKByScore
import KeywordSearch.{K1, B, BatchStride, BatchTerms, BatchK}

/** CHAMPION-LIST pruned batch keyword search — the keyword-leg analogue
  * of [[IvfIndex]]'s nprobe pruning, and the reason the batch fusion
  * family survives 100× while its exact form is ~N² by construction
  * (every query term matches ~1/|vocab| of ALL postings, and the query
  * set grows with the corpus; one forced exact run at 100× exceeds
  * 10 min — see SCALE.md's `cap` rows).
  *
  * The classic impact-ordered "champion list" / top-docs scheme
  * (Manning, Raghavan & Schütze, *Introduction to Information
  * Retrieval*, §7.1.3): for every term, the standing index keeps only
  * the top-[[M]] postings by BM25 IMPACT — the term's full,
  * query-independent score contribution `idf · tf(k1+1)/(tf +
  * k1(1−b+b·dl/avgdl))` — and query scoring sums champion impacts over
  * the query's terms. Per-query work is ≤ nTerms·[[M]] candidate rows
  * REGARDLESS of corpus size: the batch's total cost is
  * queries × nTerms × M, linear in the query count where the exact
  * form is queries × corpus/|vocab|.
  *
  * Approximation contract: a document outside all of the query's
  * champion lists cannot be retrieved, and a candidate's score counts
  * only the terms whose lists it made (document-at-a-time over
  * champions). With M ≥ the longest postings list the results are
  * EXACTLY the un-pruned batch ranking — spec-pinned, the
  * [[IvfIndex]] full-probe ≡ brute-force pattern.
  *
  * Determinism: impacts are rounded to [[ImpactDecimals]] at the INDEX
  * edge before the top-M cut (and before summing), so the frequent
  * exact ties at the cut boundary resolve by the doc_id tiebreak
  * identically in the JVM heap ([[graft.functions.VectorFunctions
  * .topKByScore]]: score desc, id asc) and the oracle's `row_number()
  * OVER (ORDER BY imp DESC, doc_id)`; without the rounding, a 1-ulp
  * avgdl difference between engines could flip list membership — a
  * miss the final round(4) cannot mask.
  *
  * Scale design: the index build is one shuffle of the postings keyed
  * by term with a bounded [[M]]-heap partial aggregate (map-side
  * combine keeps ≤M rows per term per partition); the artifact is
  * |vocab|×M rows. Serving joins the (small) query-term frame into the
  * champion artifact — broadcast at this benchmark's query counts; at
  * millions of concurrent queries the join flips to a shuffle join on
  * term with the SAME bounded candidate volume.
  */
object ChampionIndex {
  /** Champion list depth per term. */
  val M = 128
  /** Impact rounding at the index edge (see determinism note). */
  val ImpactDecimals = 6

  /** Per-term top-[[m]] postings by rounded BM25 impact:
    * `(term, doc_id, imp)`.
    */
  private[graft] def buildChampions(postings: DataFrame, m: Int = M): DataFrame = {
    val stats = postings.groupBy("doc_id").agg(first("dl").as("d"))
      .agg(count(lit(1)).as("n_docs"), avg("d").as("avgdl"))
    val dict = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val idf = log(lit(1.0) + (col("n_docs") - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5))
    val imp = round(idf * (tfD * (K1 + 1)) /
      (tfD + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))),
      ImpactDecimals)
    // dict is |vocab| rows — small here, and a plain shuffle join keyed
    // by term at real vocabulary sizes; the M-heap is the bounded agg
    postings
      .join(dict, Seq("term"))
      .join(broadcast(stats))
      .select(col("term"), col("doc_id"), imp.as("imp"))
      .groupBy("term")
      .agg(topKByScore(col("imp"), col("doc_id"), m).as("top"))
      .select(col("term"), explode(col("top")).as("t"))
      .select(col("term"), col("t.id").as("doc_id"), col("t.score").as("imp"))
  }

  /** The standing champion artifact for a source dir ([[IndexCache]]) —
    * built once from the standing postings, probed by every query.
    */
  private[graft] def cachedChampions(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "kw_champion_index", dir)(
      buildChampions(KeywordSearch.cachedBatchPostings(s, dir)))

  /** The champion artifact WITH each row's per-term impact rank — a
    * pure function of the artifact (the build heap's (imp desc, doc_id)
    * order, re-derived by one term-keyed window), materialized once per
    * dir so depth-sensitive consumers probe rank membership instead of
    * re-running the window per execution.
    */
  private[graft] def cachedChampionsRanked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    IndexCache.artifact(s, "kw_champion_ranked", dir)(
      cachedChampions(s, dir).withColumn("crn", row_number().over(
        Window.partitionBy("term").orderBy(desc("imp"), asc("doc_id")))))
  }

  /** The champion-scored sparse frame `(q_id, doc_id, raw_score)` —
    * shared by the pruned keyword ranking and the doubly-pruned batch
    * fusion ([[HybridSearch.fusedBatchChampionSel]]). Queries are
    * assembled EXACTLY like the exact twin's
    * ([[KeywordSearch.batchQueryTokens]] et al. — same rarest-token
    * selection, same stride), so pruned vs exact is apples-to-apples.
    */
  private[operators] def championScored(docs: DataFrame, postings: DataFrame,
                                        champs: DataFrame,
                                        selectDocQueries: DataFrame => DataFrame,
                                        nTerms: Int = BatchTerms,
                                        dict: Option[DataFrame] = None): DataFrame = {
    val qtoks = KeywordSearch.batchQueryTokens(postings, docs, selectDocQueries)
    // df for the rarest-token assembly: from the standing dictionary
    // artifact when provided (serving path — no per-batch postings
    // aggregation), else the inline postings aggregation (same values)
    val qdict = dict.map(KeywordSearch.batchQueryDictFrom(_, qtoks))
      .getOrElse(KeywordSearch.batchQueryDict(postings, qtoks))
    val qterms = KeywordSearch.batchQueryTermsFrom(qtoks, qdict, nTerms)
    champs.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("imp")).as("raw_score"))
  }

  /** [[championScored]] swept over MULTIPLE champion depths in ONE
    * pass — the candidate stage of the M-sensitivity eval
    * (`eval_champion_sweep`): each champion row's per-term impact RANK
    * is re-derived from the standing M=[[M]] artifact (the rows are
    * the top-M by (imp desc, doc_id) per term, so a term-keyed window
    * over the |vocab|·M artifact reproduces the build heap's order
    * exactly — artifact-sized, never corpus-sized), and each candidate
    * row joins the depth grid on `crn <= m` — so a depth-m score sums
    * exactly the impacts the top-m list would have kept. Candidate
    * volume is ≤ nTerms·Σm rows per query — bounded per query at any
    * corpus size. Output: `(m, q_id, doc_id, raw_score)`.
    */
  private[operators] def championScoredByDepth(docs: DataFrame, postings: DataFrame,
                                               champs: DataFrame,
                                               selectDocQueries: DataFrame => DataFrame,
                                               ms: Seq[Int],
                                               nTerms: Int = BatchTerms,
                                               dict: Option[DataFrame] = None,
                                               rankedChamps: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qtoks = KeywordSearch.batchQueryTokens(postings, docs, selectDocQueries)
    val qdict = dict.map(KeywordSearch.batchQueryDictFrom(_, qtoks))
      .getOrElse(KeywordSearch.batchQueryDict(postings, qtoks))
    val qterms = KeywordSearch.batchQueryTermsFrom(qtoks, qdict, nTerms)
    // r15: the per-term impact rank is a pure function of the artifact,
    // so the serving path probes the standing RANKED copy
    // ([[cachedChampionsRanked]]) instead of re-running a term-keyed
    // window over the artifact per execution (guide §2.4)
    val ranked = rankedChamps.getOrElse(
      champs.withColumn("crn", row_number().over(
        Window.partitionBy("term").orderBy(desc("imp"), asc("doc_id")))))
    ranked.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(msFrame(champs.sparkSession, ms)), col("crn") <= col("m"))
      .groupBy("m", "q_id", "doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("imp")).as("raw_score"))
  }

  /** The depth grid as a tiny broadcastable frame `(m)`. */
  private[operators] def msFrame(s: SparkSession, ms: Seq[Int]): DataFrame =
    s.createDataFrame(ms.map(Tuple1.apply)).toDF("m")

  /** Champion-pruned batch ranking over an arbitrary query selector —
    * the micro-batch serving entry
    * ([[graft.streaming.ServeStream.championServe]] passes the batch's
    * id frame as a broadcast semi-join).
    */
  private[graft] def bm25BatchPrunedSel(docs: DataFrame, postings: DataFrame,
                                        champs: DataFrame,
                                        selectDocQueries: DataFrame => DataFrame,
                                        nTerms: Int = BatchTerms,
                                        k: Int = BatchK,
                                        dict: Option[DataFrame] = None): DataFrame =
    KeywordSearch.rankKwScored(
      championScored(docs, postings, champs, selectDocQueries, nTerms, dict), k)

  /** Champion-pruned batch scoring over an explicit champion frame —
    * the core both the driver query and the equivalence spec share.
    */
  private[graft] def bm25BatchPruned(docs: DataFrame, postings: DataFrame,
                                     champs: DataFrame,
                                     stride: Int = BatchStride,
                                     nTerms: Int = BatchTerms,
                                     k: Int = BatchK): DataFrame =
    bm25BatchPrunedSel(docs, postings, champs,
      _.filter(col("doc_id") % stride === 0), nTerms, k)

  /** Driver query: the SERVING form — champion-pruned batch BM25 over
    * the standing artifacts (postings, champions, term dictionary).
    */
  def batchSearchPruned(s: SparkSession, dir: String): DataFrame = {
    val postings = KeywordSearch.cachedBatchPostings(s, dir)
    bm25BatchPrunedSel(Tables.documents(s, dir), postings, cachedChampions(s, dir),
      _.filter(col("doc_id") % BatchStride === 0),
      dict = Some(KeywordSearch.cachedTermDict(s, dir)))
  }

  /** The CTE chain producing the champion index `champs(term, doc_id,
    * imp)` re-derived from the raw corpus (the standing-index
    * convention) — the shared index half of every champion oracle.
    */
  private[operators] def championChampsSqlCtes(m: Int = M): String =
    s"""toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM documents),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |impact AS (
       |  SELECT postings.term, postings.doc_id,
       |    round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(dict.df AS DOUBLE) + 0.5) / (CAST(dict.df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * ${K1 + 1})
       |      / (CAST(tf AS DOUBLE) + $K1 * (1 - $B + $B * dl.dl / avgdl)), $ImpactDecimals) AS imp
       |  FROM postings
       |  JOIN dict USING (term)
       |  JOIN dl USING (doc_id), stats),
       |champs AS (
       |  SELECT term, doc_id, imp FROM (
       |    SELECT term, doc_id, imp,
       |      row_number() OVER (PARTITION BY term ORDER BY imp DESC, doc_id) AS crn
       |    FROM impact)
       |  WHERE crn <= $m)""".stripMargin

  /** The CTE chain producing champion-pruned `scored(q_id, doc_id,
    * raw_score)` — [[championChampsSqlCtes]] + the batch query CTEs
    * verbatim from the exact twin's oracle. Shared by
    * [[batchPrunedSql]] and the champion-fusion oracle.
    */
  private[operators] def championScoredSqlCtes(stride: Int = BatchStride,
                                               nTerms: Int = BatchTerms,
                                               m: Int = M): String =
    s"""${championChampsSqlCtes(m)},
       |qtoks AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(${TextAnalysis.sqlToks})) AS term
       |  FROM documents WHERE doc_id % $stride = 0),
       |qterms AS (
       |  SELECT q_id, substring(p, 12, 1000) AS term
       |  FROM (
       |    SELECT q_id, unnest(
       |      (list_sort(list(lpad(CAST(df AS VARCHAR), 10, '0') || '#' || term)))[1:$nTerms]) AS p
       |    FROM qtoks JOIN dict USING (term)
       |    GROUP BY q_id)),
       |scored AS (
       |  SELECT q_id, doc_id,
       |    ${KeywordSearch.fixedPointSum6Sql("imp")} AS raw_score
       |  FROM champs
       |  JOIN qterms USING (term)
       |  WHERE doc_id <> q_id
       |  GROUP BY q_id, doc_id)""".stripMargin

  /** SINGLE-query champion search over an explicit champion frame —
    * the pruned twin of the reference's primary `keyword_search` path
    * ([[KeywordSearch.bm25]]): sum the query terms' champion impacts
    * per doc, top-k. Per-query cost |terms|·m regardless of corpus
    * size (the exact form scans the whole corpus per query). Output
    * shape mirrors the exact twin (doc_id, source, lang, score).
    */
  private[graft] def bm25Champion(docs: DataFrame, champs: DataFrame,
                                  terms: Seq[String],
                                  topK: Int = KeywordSearch.TopK): DataFrame = {
    val topk = champs.filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(round(KeywordSearch.fixedPointSum6(col("imp")), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)
    topk.join(docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** Driver query: single-query champion search over the standing
    * artifact, the benchmark query terms.
    */
  def searchChampion(s: SparkSession, dir: String): DataFrame =
    bm25Champion(Tables.documents(s, dir), cachedChampions(s, dir),
      KeywordSearch.QueryTerms)

  /** [[bm25Champion]] with a metadata filter evaluated DURING the index
    * walk (the [[IvfIndex.searchFiltered]] convention): the predicate's
    * survivors join the ≤|terms|·M champion candidate rows before the
    * heap, so non-qualifying docs never rank. Documented divergences
    * from the exact filtered BM25 ([[KeywordSearch.bm25]] `docFilter`):
    * champion impacts are computed over the UNFILTERED corpus (index
    * stats are a property of the standing artifact, not of any one
    * query's filter — Weaviate behaves the same way), and a highly
    * selective filter can empty the champion lists (raise M, the same
    * recall knob as the IVF nprobe). Facade routing target
    * ([[graft.GraftClient.keywordSearch]] pruned mode); with the
    * always-true filter it reproduces [[bm25Champion]] row-for-row
    * (spec-pinned).
    */
  private[graft] def bm25ChampionFiltered(docs: DataFrame, champs: DataFrame,
                                          terms: Seq[String],
                                          topK: Int = KeywordSearch.TopK,
                                          docFilter: org.apache.spark.sql.Column =
                                            lit(true)): DataFrame =
    champs.filter(col("term").isin(terms: _*))
      .join(docs.filter(docFilter)
        .select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      .groupBy("doc_id", "source", "lang")
      .agg(round(KeywordSearch.fixedPointSum6(col("imp")), 4).as("score"))
      .select(col("doc_id"), col("source"), col("lang"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)

  def championSql(terms: Seq[String], topK: Int = KeywordSearch.TopK,
                  m: Int = M): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH ${championChampsSqlCtes(m)},
       |topk AS (
       |  SELECT doc_id, round(${KeywordSearch.fixedPointSum6Sql("imp")}, 4) AS score
       |  FROM champs WHERE term IN ($termList)
       |  GROUP BY doc_id
       |  ORDER BY score DESC, doc_id
       |  LIMIT $topK)
       |SELECT t.doc_id, d.source, d.lang, t.score
       |FROM topk t JOIN documents d USING (doc_id)
       |ORDER BY score DESC, doc_id""".stripMargin
  }

  val searchChampionOracle: String = championSql(KeywordSearch.QueryTerms)

  def batchPrunedSql(stride: Int = BatchStride, nTerms: Int = BatchTerms,
                     k: Int = BatchK, m: Int = M): String =
    s"""WITH ${championScoredSqlCtes(stride, nTerms, m)},
       |ranked AS (
       |  SELECT q_id, doc_id, raw_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, round(raw_score, 4) AS score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  val batchPrunedOracle: String = batchPrunedSql()
}
