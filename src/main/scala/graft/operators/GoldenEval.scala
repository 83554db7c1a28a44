package graft.operators

import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-DRIVEN golden-dataset evaluation — the reference's
  * `execute_evaluation` consumes a curated golden file the team ships
  * with the repo (`retrieval_evaluation.py:320-392` over
  * `data/golden_datasets/golden_256.json`: a list of query/answer
  * pairs); the engine's other eval legs derive goldens from embedding
  * labels, but real users BRING their own eval set. This operator is
  * that ingestion path: load an external golden file, run the
  * retriever for every golden query, score hit-rate@k + MRR@k.
  *
  * The in-repo analog (`data/golden/golden_queries.json`, JSON-lines
  * `{query_id, query, answer}`) is deterministic and CORPUS-INDEPENDENT:
  * relevance is "the retrieved document contains the answer phrase"
  * (the answer-in-context grading the reference's answer harness uses,
  * `llm_evaluation.py`'s containment checks) rather than a doc_id list —
  * the testdata regenerates different texts per scale factor, so id-keyed
  * gold would not survive an SF switch, while phrase-keyed gold grades
  * correctly against whichever corpus the evaluation runs on. Every
  * anchor phrase was validated present at sf0.001/sf0.01/sf0.1.
  *
  * Scale shape: the golden set is the SMALL side (hundreds of queries)
  * — query terms broadcast into the standing postings artifact exactly
  * like the batch BM25 probe ([[KeywordSearch.batchKwRawSel]]); the
  * ranked lists are k×|queries| rows; the answer-containment join
  * touches only those docs' texts (keyed join, never a corpus-wide
  * enrichment). Queries whose terms miss the corpus entirely retrieve
  * nothing and drop from the metric base, mirroring the reference's
  * skip of empty responses.
  */
object GoldenEval {
  /** The committed golden analog of the reference's golden_256.json.
    * Resolved ONCE to an absolute path — `-Dgraft.golden.path` wins,
    * else the repo-relative default under the working directory (sbt
    * runs from the repo root) — so the DuckDB oracle and the engine
    * read the SAME file on any checkout location, not just /root/repo.
    */
  val GoldenPath: String = sys.props.getOrElse("graft.golden.path",
    new java.io.File(sys.props.getOrElse("user.dir", "."),
      "data/golden/golden_queries.json").getAbsolutePath)
  val TopK = 10

  /** Load the golden file: explicit schema (a malformed file fails
    * loudly, not as nulls) over JSON-lines.
    */
  def loadGolden(s: SparkSession, path: String = GoldenPath): DataFrame =
    s.read.schema("query_id LONG, query STRING, answer STRING").json(path)

  /** BM25 ranked lists for EXTERNAL query strings over the standing
    * postings artifact — the [[KeywordSearch.batchKwRawSel]] scoring
    * join with the query-term frame tokenized from the golden file
    * instead of mined from corpus docs (and no self-exclusion: golden
    * queries are not corpus members). OOV query terms drop at the
    * postings join — BM25-over-index semantics, shared by the oracle.
    */
  private[graft] def goldenRanked(postings: DataFrame, golden: DataFrame,
                                  k: Int = TopK): DataFrame = {
    import KeywordSearch.{K1, B}
    val stats = postings.groupBy("doc_id").agg(first("dl").as("d"))
      .agg(count(lit(1)).as("n_docs"), avg("d").as("avgdl"))
    val qterms = golden.select(col("query_id").as("q_id"),
      explode(array_distinct(tokens(col("query")))).as("term"))
    val qdict = postings
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5))
    val tfD = col("tf").cast("double")
    val scored = postings.join(broadcast(qterms), Seq("term"))
      .join(broadcast(qdict), Seq("term"))
      .join(broadcast(stats))
      // 1e-6-quantized fixed-point sum — the exact-batch-BM25
      // determinism contract (see KeywordSearch.batchKwRawSel)
      .select(col("q_id"), col("doc_id"),
        (idf * (tfD * (K1 + 1)) /
          (tfD + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("q_id", "doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("s")).as("raw_score"))
    KeywordSearch.rankKwScored(scored, k)
  }

  /** Metric tail with answer-containment relevance: a retrieved doc is
    * relevant iff its text contains the golden answer phrase.
    */
  private[graft] def goldenMetrics(docs: DataFrame, ranked: DataFrame,
                                   golden: DataFrame): DataFrame =
    ranked
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .join(broadcast(golden.select(col("query_id").as("q_id"), col("answer"))),
        Seq("q_id"))
      .groupBy("q_id")
      .agg(max(when(col("text").contains(col("answer")), 1).otherwise(0)).as("hit"),
        min(when(col("text").contains(col("answer")), col("rn"))).as("first_rel"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("hit").cast("double")), 4).as("hit_rate"),
        round(avg(coalesce(lit(1.0) / col("first_rel"), lit(0.0))), 4).as("mrr"))

  /** Driver query: golden-file evaluation of the keyword retriever over
    * the standing postings artifact.
    */
  def qGoldenEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val golden = loadGolden(s)
    goldenMetrics(docs,
      goldenRanked(KeywordSearch.cachedBatchPostings(s, dir), golden), golden)
  }

  /** The PRUNED-retriever golden leg — the at-scale twin of
    * [[qGoldenEval]] (the reference's execute_evaluation loops search
    * types; the engine's label-derived eval already has its pruned leg,
    * op 23d): the same external golden file scored through the standing
    * CHAMPION artifact ([[ChampionIndex]]) instead of the full
    * postings, so per-query cost is |terms|·M at any corpus size — the
    * golden eval a practitioner can afford against the deployed index
    * (the exact leg's SCALE row grows with per-term postings volume,
    * r100 = 10.2). Same metric tail, same OOV-drop semantics.
    */
  def qGoldenEvalPruned(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val golden = loadGolden(s)
    val qterms = golden.select(col("query_id").as("q_id"),
      explode(array_distinct(tokens(col("query")))).as("term"))
    val scored = ChampionIndex.cachedChampions(s, dir)
      .join(broadcast(qterms), Seq("term"))
      .groupBy("q_id", "doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("imp")).as("raw_score"))
    goldenMetrics(docs, KeywordSearch.rankKwScored(scored, TopK), golden)
  }

  /** The REFRESHED-index golden leg: real users bring their own eval
    * sets AND refresh their corpus daily — this scores the same
    * external golden file through the refreshable layout's merged live
    * postings ([[IndexRefresh.livePostings]], the exact-BM25 semantics
    * of [[qGoldenEval]] over the current index state) with the metric
    * universe restricted to the current snapshot. Oracle replays the
    * exact golden chain on the current snapshot from scratch — a stale
    * or mis-merged index surfaces as a metric delta.
    */
  def qGoldenEvalRefreshed(s: SparkSession, dir: String): DataFrame = {
    val docs = CorpusOps.currSnapshot(Tables.documents(s, dir))
    val golden = loadGolden(s)
    val postings = IndexRefresh
      .livePostings(s, IndexRefresh.refreshedArtifact(s, dir))
      .select("doc_id", "dl", "term", "tf")
    goldenMetrics(docs, goldenRanked(postings, golden), golden)
  }

  /** The TIME-TRAVELED golden leg — retrieval-metric regression between
    * index commits as ONE pinned read: the same external golden file
    * scored through the refreshable layout pinned AS OF segment 0 (the
    * pre-refresh commit), with the metric universe restricted to the
    * matching previous corpus snapshot. The reference's
    * `execute_evaluation` loop (retrieval_evaluation.py:320-392) runs
    * against a LIVE index, so "did yesterday's refresh regress
    * hit-rate?" needs a restore there; here it is
    * [[qGoldenEvalRefreshed]] minus one `asOf` pin — bisecting an index
    * regression is a walk over pinned segment ids. Oracle replays the
    * full golden chain (tokenize → postings → BM25 → containment
    * metric) on the previous snapshot from scratch; as-of-0 ≡ the
    * pre-refresh metric by construction.
    */
  def qGoldenEvalAsOf(s: SparkSession, dir: String): DataFrame = {
    val docs = CorpusOps.prevSnapshot(Tables.documents(s, dir))
    val golden = loadGolden(s)
    val postings = IndexRefresh
      .livePostings(s, IndexRefresh.refreshedArtifact(s, dir), asOf = Some(0))
      .select("doc_id", "dl", "term", "tf")
    goldenMetrics(docs, goldenRanked(postings, golden), golden)
  }

  /** The PINNED-CHAMPION golden leg — the at-scale twin of
    * [[qGoldenEvalAsOf]]: bisecting an index regression at 100 TB means
    * replaying the golden metric at MANY pinned commits, and the exact
    * leg rescans the pinned corpus per replay (SCALE r100 = 15.7);
    * this leg scores the same external golden file from the PINNED
    * champion serving views instead ([[IndexRefresh.champsView]] with
    * the as-of segment filter — the time-travel read 13l serves BM25
    * from), so a pinned metric read costs |golden vocab|·M champion
    * rows at any corpus size, the same |terms|·M contract as the
    * unpinned pruned leg (r100 = 2.2). Bucket-pruned reads: the golden
    * vocabulary's term buckets (≤ [[IndexRefresh.NumBuckets]] values,
    * bounded collect) partition-prune every pinned dict/champion
    * segment file. Scoring = [[IndexRefresh.requestContribs]]'s
    * contract: 6dp-rounded BM25 contributions from the pinned exact
    * statistics, fixed-point sum, rounded-rank top-k; metric universe =
    * the matching previous corpus snapshot. Oracle replays the tf-cut
    * champion chain on the pinned snapshot from scratch — a full
    * rebuild, so pinned-artifact ≡ rebuild is checked at the METRIC
    * level (the refresh family's exactness gate extended to eval).
    */
  def qGoldenEvalAsOfPruned(s: SparkSession, dir: String): DataFrame = {
    import KeywordSearch.{K1, B}
    val docs = CorpusOps.prevSnapshot(Tables.documents(s, dir))
    val golden = loadGolden(s)
    val path = IndexRefresh.refreshedArtifact(s, dir)
    val asOf = Some(0)
    val qterms = golden.select(col("query_id").as("q_id"),
      explode(array_distinct(tokens(col("query")))).as("term"))
    val buckets = IndexRefresh.bucketsOf(qterms)
    val qdict = IndexRefresh.dictView(s, path, Some(buckets), asOf)
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .select(col("term"), col("df"))
    val tfD = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val contrib = round(idf * (tfD * (K1 + 1)) /
      (tfD + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))), 6)
    val scored = IndexRefresh.champsView(s, path, Some(buckets), asOf)
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(qdict), Seq("term"))
      .join(broadcast(IndexRefresh.statsView(s, path, asOf)))
      .select(col("q_id"), col("doc_id"), contrib.as("s"))
      .groupBy("q_id", "doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("s")).as("raw_score"))
    goldenMetrics(docs, KeywordSearch.rankKwScored(scored, TopK), golden)
  }

  /** Oracle for [[qGoldenEvalAsOfPruned]]: full rebuild of the tf-cut
    * champion index ([[IndexRefresh]]'s stats-free cut, NOT
    * [[ChampionIndex]]'s impact cut) on the PREVIOUS snapshot, golden
    * query terms probe it with the 6dp contribution round, containment
    * metric over the previous snapshot's texts.
    */
  def goldenEvalAsOfPrunedSql(k: Int = TopK, m: Int = IndexRefresh.M,
                              path: String = GoldenPath): String = {
    import KeywordSearch.{K1, B}
    val qToks =
      "list_filter(regexp_split_to_array(lower(query), '[^a-z0-9]+'), t -> t <> '')"
    s"""WITH ${IndexRefresh.prevCte},
       |golden AS (
       |  SELECT query_id, query, answer
       |  FROM read_json('$path',
       |    columns = {query_id: 'BIGINT', query: 'VARCHAR', answer: 'VARCHAR'})),
       |toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM curr),
       |postings AS (
       |  SELECT term, doc_id, count(*) AS tf FROM toked GROUP BY 1, 2),
       |docstats AS (
       |  SELECT doc_id, CAST(len(${TextAnalysis.sqlToks}) AS DOUBLE) AS dl
       |  FROM curr),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docstats),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |champs AS (
       |  SELECT term, doc_id, tf, dl FROM (
       |    SELECT p.term, p.doc_id, p.tf, d.dl,
       |      row_number() OVER (PARTITION BY p.term
       |        ORDER BY p.tf DESC, d.dl ASC, p.doc_id ASC) AS crn
       |    FROM postings p JOIN docstats d USING (doc_id))
       |  WHERE crn <= $m),
       |qterms AS (
       |  SELECT query_id AS q_id, unnest(list_distinct($qToks)) AS term
       |  FROM golden),
       |scored AS (
       |  SELECT q_id, c.doc_id,
       |    CAST(sum(CAST(floor(
       |      round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(dict.df AS DOUBLE) + 0.5) / (CAST(dict.df AS DOUBLE) + 0.5))
       |        * (CAST(tf AS DOUBLE) * ${K1 + 1})
       |        / (CAST(tf AS DOUBLE) + $K1 * (1 - $B + $B * dl / avgdl)), 6)
       |      * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS raw_score
       |  FROM champs c
       |  JOIN qterms USING (term)
       |  JOIN dict USING (term), stats
       |  GROUP BY q_id, c.doc_id),
       |ranked AS (
       |  SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k),
       |per_query AS (
       |  SELECT q_id,
       |    max(CASE WHEN contains(d.text, g.answer) THEN 1 ELSE 0 END) AS hit,
       |    min(CASE WHEN contains(d.text, g.answer) THEN rn END) AS first_rel
       |  FROM ranked
       |  JOIN curr d USING (doc_id)
       |  JOIN golden g ON ranked.q_id = g.query_id
       |  GROUP BY q_id)
       |SELECT count(*) AS n_queries,
       |  round(avg(CAST(hit AS DOUBLE)), 4) AS hit_rate,
       |  round(avg(coalesce(CAST(1.0 AS DOUBLE) / first_rel, CAST(0.0 AS DOUBLE))), 4) AS mrr
       |FROM per_query""".stripMargin
  }

  val goldenEvalAsOfPrunedOracle: String = goldenEvalAsOfPrunedSql()

  /** Oracle for the pruned leg: the champion CTE chain re-derives the
    * impact index from the raw corpus, golden query terms probe it, and
    * the containment metric tail replays verbatim.
    */
  def goldenEvalPrunedSql(k: Int = TopK, path: String = GoldenPath): String = {
    val qToks =
      "list_filter(regexp_split_to_array(lower(query), '[^a-z0-9]+'), t -> t <> '')"
    s"""WITH golden AS (
       |  SELECT query_id, query, answer
       |  FROM read_json('$path',
       |    columns = {query_id: 'BIGINT', query: 'VARCHAR', answer: 'VARCHAR'})),
       |${ChampionIndex.championChampsSqlCtes()},
       |qterms AS (
       |  SELECT query_id AS q_id, unnest(list_distinct($qToks)) AS term
       |  FROM golden),
       |scored AS (
       |  SELECT q_id, doc_id,
       |    ${KeywordSearch.fixedPointSum6Sql("imp")} AS raw_score
       |  FROM champs
       |  JOIN qterms USING (term)
       |  GROUP BY q_id, doc_id),
       |ranked AS (
       |  SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k),
       |per_query AS (
       |  SELECT q_id,
       |    max(CASE WHEN contains(d.text, g.answer) THEN 1 ELSE 0 END) AS hit,
       |    min(CASE WHEN contains(d.text, g.answer) THEN rn END) AS first_rel
       |  FROM ranked
       |  JOIN documents d USING (doc_id)
       |  JOIN golden g ON ranked.q_id = g.query_id
       |  GROUP BY q_id)
       |SELECT count(*) AS n_queries,
       |  round(avg(CAST(hit AS DOUBLE)), 4) AS hit_rate,
       |  round(avg(coalesce(CAST(1.0 AS DOUBLE) / first_rel, CAST(0.0 AS DOUBLE))), 4) AS mrr
       |FROM per_query""".stripMargin
  }

  val goldenEvalPrunedOracle: String = goldenEvalPrunedSql()

  /** Oracle: reads the SAME golden file (`read_json` with the explicit
    * shared schema), re-derives postings from the raw corpus, replays
    * the scoring join and the containment metric tail.
    */
  def goldenEvalSql(k: Int = TopK, path: String = GoldenPath,
                    currentSnapshot: Boolean = false,
                    prevSnapshot: Boolean = false): String = {
    import KeywordSearch.{K1, B}
    val qToks =
      "list_filter(regexp_split_to_array(lower(query), '[^a-z0-9]+'), t -> t <> '')"
    // currentSnapshot: the refreshed-index leg's universe — the corpus
    // state the refreshable artifacts serve. prevSnapshot: the as-of
    // leg's universe — the pre-refresh corpus state (the [[IndexRefresh
    // .prevCte]] definition every as-of oracle shares).
    val rel =
      if (currentSnapshot) "cdocs" else if (prevSnapshot) "curr" else "documents"
    val snapCte = if (currentSnapshot)
      s"""cdocs AS (
         |  SELECT * FROM documents
         |  WHERE doc_id % ${CorpusOps.DiffRemoveStride} <> 3),
         |""".stripMargin
    else if (prevSnapshot) IndexRefresh.prevCte + ",\n"
    else ""
    s"""WITH ${snapCte}golden AS (
       |  SELECT query_id, query, answer
       |  FROM read_json('$path',
       |    columns = {query_id: 'BIGINT', query: 'VARCHAR', answer: 'VARCHAR'})),
       |toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM $rel),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |qterms AS (
       |  SELECT query_id AS q_id, unnest(list_distinct($qToks)) AS term
       |  FROM golden),
       |scored AS (
       |  SELECT q_id, doc_id,
       |    CAST(sum(CAST(floor(
       |      ln(1 + (CAST(n_docs AS DOUBLE) - CAST(dict.df AS DOUBLE) + 0.5) / (CAST(dict.df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * ${K1 + 1})
       |      / (CAST(tf AS DOUBLE) + $K1 * (1 - $B + $B * dl.dl / avgdl))
       |      * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS raw_score
       |  FROM postings
       |  JOIN qterms USING (term)
       |  JOIN dict USING (term)
       |  JOIN dl USING (doc_id), stats
       |  GROUP BY q_id, doc_id),
       |ranked AS (
       |  SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k),
       |per_query AS (
       |  SELECT q_id,
       |    max(CASE WHEN contains(d.text, g.answer) THEN 1 ELSE 0 END) AS hit,
       |    min(CASE WHEN contains(d.text, g.answer) THEN rn END) AS first_rel
       |  FROM ranked
       |  JOIN $rel d USING (doc_id)
       |  JOIN golden g ON ranked.q_id = g.query_id
       |  GROUP BY q_id)
       |SELECT count(*) AS n_queries,
       |  round(avg(CAST(hit AS DOUBLE)), 4) AS hit_rate,
       |  round(avg(coalesce(CAST(1.0 AS DOUBLE) / first_rel, CAST(0.0 AS DOUBLE))), 4) AS mrr
       |FROM per_query""".stripMargin
  }

  val goldenEvalOracle: String = goldenEvalSql()
  /** Oracle for [[qGoldenEvalRefreshed]]: the exact golden chain
    * replayed on the current snapshot from scratch.
    */
  val goldenEvalRefreshedOracle: String = goldenEvalSql(currentSnapshot = true)

  /** Oracle for [[qGoldenEvalAsOf]]: the exact golden chain replayed on
    * the PREVIOUS snapshot from scratch.
    */
  val goldenEvalAsOfOracle: String = goldenEvalSql(prevSnapshot = true)
}
