package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-likelihood ranking with DIRICHLET smoothing — the second
  * classic keyword-scoring family beside BM25 (Zhai & Lafferty 2001;
  * Lucene's `LMDirichletSimilarity`), extending the reference's
  * `keyword_search` surface with the language-model ranker production
  * stacks expose as an alternative similarity:
  *
  *   score(d) = Σ_{t∈q} ln( (tf(t,d) + μ·P(t|C)) / (dl(d) + μ) )
  *
  * with P(t|C) = ctf(t)/|C| and μ = 2000 (the published default).
  * Unlike BM25 every document gets a score (absent terms contribute the
  * smoothed background mass, which still depends on dl) — the defined
  * LM semantics, so no tf>0 filter before the heap.
  *
  * Scale design — the BM25 plan shape exactly: per-doc (dl, tf_i) from
  * the shared one-pass [[KeywordSearch.termStats]]; collection stats
  * (|C|, per-query-term ctf) are ONE tiny aggregate broadcast back; the
  * score is a fixed-order map-side expression; top-k through
  * TakeOrderedAndProject. Collection frequencies are computed for query
  * terms only — the vocabulary is never materialized.
  *
  * Precondition (documented): query terms must exist in the corpus
  * (ctf > 0) or P(t|C) = 0 sends every document's score to -∞ — the
  * benchmark terms are corpus vocabulary, the same contract the BM25
  * benchmark query carries.
  */
object QueryLikelihood {
  val Mu = 2000.0
  val TopK = 10

  /** Fixed-evaluation-order QL sum over the conventional stat columns
    * (`tf_i`/`p_i`/`dl`) — the SQL twin renders the same chain with the
    * same mu.
    */
  private def qlScoreCol(terms: Seq[String], mu: Double): Column =
    terms.indices.map { i =>
      log((col(s"tf_$i").cast("double") + lit(mu) * col(s"p_$i")) /
        (col("dl").cast("double") + lit(mu)))
    }.reduce(_ + _)

  def search(docs: DataFrame, terms: Seq[String] = KeywordSearch.QueryTerms,
             k: Int = TopK, mu: Double = Mu): DataFrame = {
    val base = KeywordSearch.termStats(docs, terms)
    val aggCols = sum(col("dl")).as("c_total") +:
      terms.indices.map(i => sum(col(s"tf_$i")).as(s"ctf_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
      .select(terms.indices.map(i =>
        (col(s"ctf_$i").cast("double") / col("c_total").cast("double")).as(s"p_$i")): _*)
    base.join(broadcast(stats))
      .select(col("doc_id"), col("source"), col("lang"),
        round(qlScoreCol(terms, mu), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  def searchSql(terms: Seq[String] = KeywordSearch.QueryTerms,
                k: Int = TopK, mu: Double = Mu): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, t -> t = '$t')) AS tf_$i"
    }.mkString(",\n    ")
    val ctfs = terms.indices.map(i => s"sum(tf_$i) AS ctf_$i").mkString(", ")
    val ps = terms.indices.map(i =>
      s"CAST(ctf_$i AS DOUBLE) / CAST(c_total AS DOUBLE) AS p_$i").mkString(", ")
    val scores = terms.indices.map { i =>
      s"ln((CAST(tf_$i AS DOUBLE) + $mu * p_$i) / (dl + $mu))"
    }.mkString("\n    + ")
    s"""WITH toked AS (
       |  SELECT doc_id, source, lang,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, source, lang, CAST(len(toks) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toked WHERE len(toks) > 0),
       |raw_stats AS (
       |  SELECT sum(CAST(dl AS BIGINT)) AS c_total, $ctfs FROM base),
       |stats AS (SELECT $ps FROM raw_stats)
       |SELECT doc_id, source, lang,
       |  round($scores, 4) AS score
       |FROM base, stats
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  def qSearch(s: SparkSession, dir: String): DataFrame =
    search(Tables.documents(s, dir))

  val searchOracle: String = searchSql()

  // --- batch (multi-query) Dirichlet QL ------------------------------------

  /** BATCH Dirichlet-QL ranking — serving parity with batch BM25
    * ([[KeywordSearch.bm25Batch]], op 13c) for the LM scoring family,
    * over the same golden queries (rarest-token assembly off the
    * standing postings artifact, self-excluded). Unlike BM25 the LM
    * score is DENSE — every document scores against every query, absent
    * terms contributing the smoothed background mass — so a naive batch
    * form is |Q|×|corpus|. The plan uses the standard decomposition
    *
    *   score(q,d) = corr(q,d) + qconst(q) − |q|·ln(dl(d) + μ)
    *   corr(q,d)  = Σ_{t∈q: tf>0} [ln(tf + μP(t|C)) − ln(μP(t|C))] ≥ 0
    *   qconst(q)  = Σ_{t∈q} ln(μ·P(t|C))
    *
    * where corr is SPARSE (postings matches only) and the unmatched
    * part orders every query's non-matching docs identically
    * (ascending dl, doc_id tiebreak — exactly the heap's order, since
    * ln is strictly monotone). Hence each query's true top-k is
    * contained in {its postings matches} ∪ {the k+1 globally shortest
    * documents} (+1 covers self-exclusion) — the ranking is EXACT, no
    * approximation, and per-query cost is the batch-BM25 postings-probe
    * bound plus one tiny dl-heap shared by ALL queries. Collection
    * stats (|C|, per-query-term ctf) are one broadcast; the vocabulary
    * is never materialized.
    *
    * Determinism: corr and qconst accumulate in term order
    * (struct-sorted fold ≡ `sum(x ORDER BY term)`); the score is the
    * fixed chain `corr + qconst − nq·ln(dl+μ)`; rounding once at the
    * output edge, the [[KeywordSearch.rankKwScored]] tail.
    */
  private[graft] def qlBatch(docs: DataFrame, postings: DataFrame,
                             stride: Int = KeywordSearch.BatchStride,
                             nTerms: Int = KeywordSearch.BatchTerms,
                             k: Int = KeywordSearch.BatchK,
                             mu: Double = Mu,
                             dict: Option[DataFrame] = None,
                             shortest: Option[DataFrame] = None): DataFrame = {
    val sel: DataFrame => DataFrame = _.filter(col("doc_id") % stride === 0)
    val qtoks = KeywordSearch.batchQueryTokens(postings, docs, sel)
    val qdict = dict.map(KeywordSearch.batchQueryDictFrom(_, qtoks))
      .getOrElse(KeywordSearch.batchQueryDict(postings, qtoks))
    val qterms = KeywordSearch.batchQueryTermsFrom(qtoks, qdict, nTerms)
    // collection LM: P(t|C) = ctf(t)/|C|, computed for query terms only —
    // from the standing dictionary when provided (exact same integer
    // sums; no per-run postings aggregation)
    val totals = dict.map(_.agg(sum("ctf").as("c_total")))
      .getOrElse(postings.agg(sum("tf").as("c_total")))
    val ctf = dict.map(_.join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .select(col("term"), col("ctf")))
      .getOrElse(postings
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .groupBy("term").agg(sum("tf").as("ctf")))
    val qp = qterms.join(broadcast(ctf), Seq("term")).join(broadcast(totals))
      .select(col("q_id"), col("term"),
        (col("ctf").cast("double") / col("c_total").cast("double")).as("p"))
    val qconsts = qp
      .groupBy("q_id")
      .agg(collect_list(struct(col("term"),
        log(lit(mu) * col("p")).as("lp"))).as("ls"))
      .select(col("q_id"),
        aggregate(transform(array_sort(col("ls")), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x).as("qconst"),
        size(col("ls")).as("nq"))
    // sparse corrections over postings matches — the batch-BM25 probe
    // shape; dl rides along off the postings rows, so no corpus-wide
    // length join downstream (only the k+1 shortest need a lookup, and
    // they carry dl from their own tiny frame)
    val corr = postings.join(broadcast(qp), Seq("term"))
      .select(col("q_id"), col("doc_id"), col("dl"),
        struct(col("term"),
          (log(col("tf").cast("double") + lit(mu) * col("p")) -
            log(lit(mu) * col("p"))).as("c")).as("tc"))
      .groupBy("q_id", "doc_id")
      .agg(first("dl").as("dl"), collect_list(col("tc")).as("cs"))
      .select(col("q_id"), col("doc_id"), col("dl"),
        aggregate(transform(array_sort(col("cs")), x => x.getField("c")),
          lit(0.0), (a, x) => a + x).as("corr"))
    val shortestF = shortest.getOrElse(shortestDocs(docs, k))
    val cand = corr
      .unionByName(qconsts.select("q_id").crossJoin(broadcast(shortestF))
        .withColumn("corr", lit(0.0)))
      .groupBy("q_id", "doc_id")
      .agg(max("corr").as("corr"), first("dl").as("dl"))
    val scored = cand
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(qconsts), Seq("q_id"))
      .select(col("q_id"), col("doc_id"),
        (col("corr") + col("qconst") -
          col("nq").cast("double") * log(col("dl") + lit(mu))).as("raw_score"))
    KeywordSearch.rankKwScored(scored, k)
  }

  /** The k+1 globally shortest docs: the only docs that can enter a
    * top-k WITHOUT matching a query term. Derived from the DOCUMENTS
    * table, not the postings — a doc whose text tokenizes to nothing
    * has no postings row, yet its Dirichlet background score (dl = 0)
    * outranks every non-matching doc; deriving the closure from
    * postings would silently drop it from every ranking (the r8 ADVICE
    * finding). Cost: one zero-shuffle projection TakeOrdered-ed to k+1
    * rows; at a real deployment dl (including 0) is a column of the
    * standing doc-summary artifact ([[IndexRefresh]]'s docstats
    * convention), not a re-tokenize.
    */
  private def shortestDocs(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("double").as("dl"))
      .orderBy(asc("dl"), asc("doc_id")).limit(k + 1)

  /** Driver query: batch QL over the standing postings artifact (plus
    * the standing term dictionary and shortest closure).
    */
  def qBatchSearch(s: SparkSession, dir: String): DataFrame =
    qlBatch(Tables.documents(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir),
      dict = Some(KeywordSearch.cachedTermDict(s, dir)),
      shortest = Some(cachedShortest(s, dir)))

  def qlBatchSql(stride: Int = KeywordSearch.BatchStride,
                 nTerms: Int = KeywordSearch.BatchTerms,
                 k: Int = KeywordSearch.BatchK, mu: Double = Mu): String =
    s"""WITH toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM documents),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
       |dl AS (
       |  -- doc lengths from the DOCUMENTS table: token-free docs keep a
       |  -- dl = 0 row so the k+1-shortest closure can rank them (the
       |  -- engine-side shortestDocs contract)
       |  SELECT doc_id, CAST(len(${TextAnalysis.sqlToks}) AS DOUBLE) AS dl
       |  FROM documents),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
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
       |totals AS (SELECT sum(tf) AS c_total FROM postings),
       |ctf AS (
       |  SELECT term, sum(tf) AS ctf FROM postings
       |  WHERE term IN (SELECT DISTINCT term FROM qterms)
       |  GROUP BY term),
       |qp AS (
       |  SELECT q_id, qterms.term,
       |    CAST(ctf AS DOUBLE) / CAST(c_total AS DOUBLE) AS p
       |  FROM qterms JOIN ctf USING (term), totals),
       |qconsts AS (
       |  SELECT q_id, sum(ln($mu * p) ORDER BY term) AS qconst,
       |    count(*) AS nq
       |  FROM qp GROUP BY q_id),
       |corr AS (
       |  SELECT qp.q_id, po.doc_id,
       |    sum(ln(CAST(po.tf AS DOUBLE) + $mu * qp.p) - ln($mu * qp.p)
       |        ORDER BY qp.term) AS corr
       |  FROM postings po JOIN qp ON po.term = qp.term
       |  GROUP BY 1, 2),
       |shortest AS (SELECT doc_id FROM dl ORDER BY dl, doc_id LIMIT ${k + 1}),
       |cand AS (
       |  SELECT q_id, doc_id, max(corr) AS corr FROM (
       |    SELECT q_id, doc_id, corr FROM corr
       |    UNION ALL
       |    SELECT q.q_id, s.doc_id, 0.0 AS corr
       |    FROM (SELECT q_id FROM qconsts) q, shortest s)
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.q_id, c.doc_id,
       |    c.corr + qc.qconst - CAST(qc.nq AS DOUBLE) * ln(dl.dl + $mu) AS raw_score
       |  FROM cand c
       |  JOIN dl USING (doc_id)
       |  JOIN qconsts qc USING (q_id)
       |  WHERE c.doc_id <> c.q_id),
       |ranked AS (
       |  SELECT q_id, doc_id, raw_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, round(raw_score, 4) AS score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  val qBatchSearchOracle: String = qlBatchSql()

  // --- champion-pruned batch Dirichlet QL ----------------------------------

  /** The LM family's champion artifact: per-term top-[[ChampionIndex.M]]
    * postings by QL IMPACT. The sparse correction
    * `corr(t,d) = ln(tf + μ·P(t|C)) − ln(μ·P(t|C))` is query-INDEPENDENT
    * (it depends only on tf and the collection LM), exactly like the
    * BM25 impact — so the same impact-ordered top-M scheme (Manning IR
    * §7.1.3) applies. Each row carries the doc length (the dense term
    * −|q|·ln(dl+μ) needs it at scoring time), so serving never joins a
    * corpus-sized length table. Impacts rounded at the index edge
    * ([[ChampionIndex.ImpactDecimals]]) so cut-boundary ties resolve
    * identically in the JVM heap and the oracle's window — the champion
    * determinism contract.
    */
  private[graft] def buildQlChampions(postings: DataFrame,
                                      m: Int = ChampionIndex.M,
                                      mu: Double = Mu): DataFrame = {
    import graft.functions.VectorFunctions.topKByScore
    val totals = postings.agg(sum("tf").as("c_total"))
    // the index build touches the vocabulary once — the standing-
    // artifact cost, amortized over every query thereafter
    val ctf = postings.groupBy("term").agg(sum("tf").as("ctf"))
    val p = col("ctf").cast("double") / col("c_total").cast("double")
    val imp = round(
      log(col("tf").cast("double") + lit(mu) * col("p")) -
        log(lit(mu) * col("p")), ChampionIndex.ImpactDecimals)
    postings.join(ctf, Seq("term")).join(broadcast(totals))
      .withColumn("p", p)
      .select(col("term"), col("doc_id"), col("dl"), imp.as("imp"))
      .groupBy("term")
      // dl is an integral token count — the long payload round-trips it
      .agg(topKByScore(col("imp"), col("doc_id"), m,
        col("dl").cast("long")).as("top"))
      .select(col("term"), explode(col("top")).as("t"))
      .select(col("term"), col("t.id").as("doc_id"), col("t.score").as("imp"),
        col("t.payload").cast("double").as("dl"))
  }

  /** The standing QL champion artifact for a source dir. */
  private[graft] def cachedQlChampions(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "ql_champion_index", dir)(
      buildQlChampions(KeywordSearch.cachedBatchPostings(s, dir)))

  /** CHAMPION-PRUNED batch QL — [[qlBatch]]'s at-scale twin, completing
    * the LM family the way [[ChampionIndex]] completes BM25: the sparse
    * corrections come from the query terms' top-M impact lists instead
    * of the full postings, so per-query cost is nTerms·M + (k+1)
    * REGARDLESS of corpus size (the exact batch's postings probe grows
    * ~N²; SCALE.md caps it at 10×). The dense remainder and the
    * candidate closure are [[qlBatch]]'s: qconst(q) − |q|·ln(dl+μ) over
    * champion candidates ∪ the k+1 globally shortest docs. Approximation
    * contract: a doc outside all query terms' lists scores corr = 0
    * (its background-mass ranking is still exact via the closure), and
    * a candidate's corr counts only the lists it made; with M ≥ the
    * longest postings list the ranking is EXACTLY [[qlBatch]] up to the
    * index's 6dp impact rounding (spec-pinned).
    */
  private[graft] def qlBatchPruned(docs: DataFrame, postings: DataFrame,
                                   qchamps: DataFrame,
                                   stride: Int = KeywordSearch.BatchStride,
                                   nTerms: Int = KeywordSearch.BatchTerms,
                                   k: Int = KeywordSearch.BatchK,
                                   mu: Double = Mu,
                                   dict: Option[DataFrame] = None,
                                   shortest: Option[DataFrame] = None): DataFrame =
    qlBatchPrunedSel(docs, postings, qchamps,
      _.filter(col("doc_id") % stride === 0), nTerms, k, mu, dict, shortest)

  /** [[qlBatchPruned]] over an arbitrary query selector — the
    * micro-batch serving entry
    * ([[graft.streaming.ServeStream.qlChampionServe]] passes the
    * batch's id frame as a broadcast semi-join). Every score input is
    * a global index constant (champion impacts, collection LM, the
    * k+1-shortest closure), so a query's results are identical
    * whichever micro-batch it arrives in.
    */
  private[graft] def qlBatchPrunedSel(docs: DataFrame, postings: DataFrame,
                                      qchamps: DataFrame,
                                      selectDocQueries: DataFrame => DataFrame,
                                      nTerms: Int = KeywordSearch.BatchTerms,
                                      k: Int = KeywordSearch.BatchK,
                                      mu: Double = Mu,
                                      dict: Option[DataFrame] = None,
                                      shortest: Option[DataFrame] = None): DataFrame = {
    val sel = selectDocQueries
    val qtoks = KeywordSearch.batchQueryTokens(postings, docs, sel)
    // serving path: df / ctf / |C| / the shortest closure are global
    // index constants — probed from the standing artifacts when
    // provided, never re-aggregated per micro-batch (same values)
    val qdict = dict.map(KeywordSearch.batchQueryDictFrom(_, qtoks))
      .getOrElse(KeywordSearch.batchQueryDict(postings, qtoks))
    val qterms = KeywordSearch.batchQueryTermsFrom(qtoks, qdict, nTerms)
    val totals = dict.map(_.agg(sum("ctf").as("c_total")))
      .getOrElse(postings.agg(sum("tf").as("c_total")))
    val ctf = dict.map(_.join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .select(col("term"), col("ctf")))
      .getOrElse(postings
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .groupBy("term").agg(sum("tf").as("ctf")))
    val qp = qterms.join(broadcast(ctf), Seq("term")).join(broadcast(totals))
      .select(col("q_id"), col("term"),
        (col("ctf").cast("double") / col("c_total").cast("double")).as("p"))
    val qconsts = qp
      .groupBy("q_id")
      .agg(collect_list(struct(col("term"),
        log(lit(mu) * col("p")).as("lp"))).as("ls"))
      .select(col("q_id"),
        aggregate(transform(array_sort(col("ls")), x => x.getField("lp")),
          lit(0.0), (a, x) => a + x).as("qconst"),
        size(col("ls")).as("nq"))
    // pruned sparse corrections: the query terms' champion lists only
    val corr = qchamps.join(broadcast(qterms), Seq("term"))
      .select(col("q_id"), col("doc_id"), col("dl"),
        struct(col("term"), col("imp")).as("tc"))
      .groupBy("q_id", "doc_id")
      .agg(first("dl").as("dl"), collect_list(col("tc")).as("cs"))
      .select(col("q_id"), col("doc_id"), col("dl"),
        aggregate(transform(array_sort(col("cs")), x => x.getField("imp")),
          lit(0.0), (a, x) => a + x).as("corr"))
    val shortestF = shortest.getOrElse(shortestDocs(docs, k))
    val cand = corr
      .unionByName(qconsts.select("q_id").crossJoin(broadcast(shortestF))
        .withColumn("corr", lit(0.0)))
      .groupBy("q_id", "doc_id")
      .agg(max("corr").as("corr"), first("dl").as("dl"))
    val scored = cand
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(qconsts), Seq("q_id"))
      .select(col("q_id"), col("doc_id"),
        (col("corr") + col("qconst") -
          col("nq").cast("double") * log(col("dl") + lit(mu))).as("raw_score"))
    KeywordSearch.rankKwScored(scored, k)
  }

  /** The standing k+1-shortest closure for a source dir: the doc-summary
    * artifact the serving paths probe (k+1 rows — dl = 0 docs included,
    * the [[shortestDocs]] contract) instead of re-tokenizing the corpus
    * per micro-batch.
    */
  private[graft] def cachedShortest(s: SparkSession, dir: String,
                                    k: Int = KeywordSearch.BatchK): DataFrame =
    IndexCache.artifact(s, s"ql_shortest_$k", dir)(
      shortestDocs(Tables.documents(s, dir), k))

  /** Driver query: champion-pruned batch QL over the standing artifacts
    * (postings, QL champions, term dictionary, shortest closure).
    */
  def qBatchSearchPruned(s: SparkSession, dir: String): DataFrame =
    qlBatchPruned(Tables.documents(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir), cachedQlChampions(s, dir),
      dict = Some(KeywordSearch.cachedTermDict(s, dir)),
      shortest = Some(cachedShortest(s, dir)))

  /** Oracle: re-derives the QL champion index from the raw corpus (the
    * standing-index convention), then replays the pruned closure —
    * champion corr sums in term order, qconst from unrounded collection
    * stats, the k+1-shortest union, the fixed score chain.
    */
  def qlBatchPrunedSql(stride: Int = KeywordSearch.BatchStride,
                       nTerms: Int = KeywordSearch.BatchTerms,
                       k: Int = KeywordSearch.BatchK, mu: Double = Mu,
                       m: Int = ChampionIndex.M): String =
    s"""WITH toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM documents),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
       |dl AS (
       |  -- doc lengths from the DOCUMENTS table: token-free docs keep a
       |  -- dl = 0 row so the k+1-shortest closure can rank them (the
       |  -- engine-side shortestDocs contract)
       |  SELECT doc_id, CAST(len(${TextAnalysis.sqlToks}) AS DOUBLE) AS dl
       |  FROM documents),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |totals AS (SELECT sum(tf) AS c_total FROM postings),
       |ctf_all AS (SELECT term, sum(tf) AS ctf FROM postings GROUP BY term),
       |pt AS (
       |  SELECT term, CAST(ctf AS DOUBLE) / CAST(c_total AS DOUBLE) AS p
       |  FROM ctf_all, totals),
       |qimp AS (
       |  SELECT po.term, po.doc_id, dl.dl,
       |    round(ln(CAST(po.tf AS DOUBLE) + $mu * pt.p) - ln($mu * pt.p),
       |      ${ChampionIndex.ImpactDecimals}) AS imp
       |  FROM postings po JOIN pt USING (term) JOIN dl USING (doc_id)),
       |qchamps AS (
       |  SELECT term, doc_id, dl, imp FROM (
       |    SELECT term, doc_id, dl, imp,
       |      row_number() OVER (PARTITION BY term ORDER BY imp DESC, doc_id) AS crn
       |    FROM qimp)
       |  WHERE crn <= $m),
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
       |qp AS (
       |  SELECT q_id, qterms.term, pt.p
       |  FROM qterms JOIN pt USING (term)),
       |qconsts AS (
       |  SELECT q_id, sum(ln($mu * p) ORDER BY term) AS qconst,
       |    count(*) AS nq
       |  FROM qp GROUP BY q_id),
       |corr AS (
       |  SELECT qt.q_id, qc.doc_id, any_value(qc.dl) AS dl,
       |    sum(qc.imp ORDER BY qc.term) AS corr
       |  FROM qchamps qc JOIN qterms qt ON qc.term = qt.term
       |  GROUP BY 1, 2),
       |shortest AS (SELECT doc_id, dl FROM dl ORDER BY dl, doc_id LIMIT ${k + 1}),
       |cand AS (
       |  SELECT q_id, doc_id, max(corr) AS corr, any_value(dl) AS dl FROM (
       |    SELECT q_id, doc_id, corr, dl FROM corr
       |    UNION ALL
       |    SELECT q.q_id, s.doc_id, 0.0 AS corr, s.dl
       |    FROM (SELECT q_id FROM qconsts) q, shortest s)
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.q_id, c.doc_id,
       |    c.corr + qc.qconst - CAST(qc.nq AS DOUBLE) * ln(c.dl + $mu) AS raw_score
       |  FROM cand c
       |  JOIN qconsts qc USING (q_id)
       |  WHERE c.doc_id <> c.q_id),
       |ranked AS (
       |  SELECT q_id, doc_id, raw_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, round(raw_score, 4) AS score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  val qBatchSearchPrunedOracle: String = qlBatchPrunedSql()
}
