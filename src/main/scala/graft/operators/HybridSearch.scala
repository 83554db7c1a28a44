package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid (keyword + vector) search with relative-score fusion — the
  * Spark-native `hybrid_search` (reference
  * `src/database/weaviate_interface_v4.py:308-361`): BM25 and cosine
  * scores are min-max normalized over the corpus and combined as
  * `alpha * vector + (1 - alpha) * keyword` (alpha=0 pure BM25, alpha=1
  * pure vector — reference docstring L330-335).
  *
  * Scale design: one scan computes both signals (documents⋈embeddings is
  * a co-partitioned 1:1 key join); min/max normalization is a single-row
  * aggregate broadcast back — no window-over-everything. Top-k via heap.
  */
object HybridSearch {
  val Alpha = 0.5
  val TopK = 10

  def fused(docs: DataFrame, embs: DataFrame, terms: Seq[String],
            queryVecId: Long, alpha: Double = Alpha, k: Int = TopK,
            docFilter: Column = lit(true)): DataFrame =
    fusedWithQuery(docs, embs, terms,
      embs.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb")),
      alpha, k, docFilter)

  /** [[fused]] against an arbitrary 1-row query-vector frame `q(q_emb)`
    * — the entry the client facade uses with an embedded request string
    * ([[graft.GraftClient.hybridSearch]]).
    */
  def fusedWithQuery(docs: DataFrame, embs: DataFrame, terms: Seq[String],
                     q: DataFrame, alpha: Double = Alpha, k: Int = TopK,
                     docFilter: Column = lit(true)): DataFrame = {
    // single-pass term stats (see KeywordSearch.termStats) + vector score
    val base = KeywordSearch.termStats(docs, terms, docFilter)
      .join(embs.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .join(broadcast(q))
      .select(Seq(col("doc_id"), col("source"), col("dl"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore")) ++
        terms.indices.map(i => col(s"tf_$i")): _*)
    val aggCols = count(lit(1)).as("n_docs") +: avg("dl").as("avgdl") +:
      min("vscore").as("vmin") +: max("vscore").as("vmax") +:
      terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.join(broadcast(stats))
      .withColumn("kscore", KeywordSearch.bm25ScoreCol(terms))
    val kstats = scored.agg(min("kscore").as("kmin"), max("kscore").as("kmax"))
    scored.join(broadcast(kstats))
      .select(col("doc_id"), col("source"),
        round(
          lit(alpha) * (col("vscore") - col("vmin")) /
            when(col("vmax") === col("vmin"), 1.0).otherwise(col("vmax") - col("vmin")) +
            lit(1 - alpha) * (col("kscore") - col("kmin")) /
              when(col("kmax") === col("kmin"), 1.0).otherwise(col("kmax") - col("kmin")),
          4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  def fusedSql(terms: Seq[String], queryVecId: Long,
               alpha: Double = Alpha, k: Int = TopK, whereSql: String = ""): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, t -> t = '$t')) AS tf_$i"
    }.mkString(",\n    ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val kscore = KeywordSearch.bm25ScoreSql(terms)
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId),
       |base AS (
       |  SELECT doc_id, source, CAST(len(toks) AS DOUBLE) AS dl,
       |    ${VectorSearch.cosineSql("embedding", "q_emb")} AS vscore,
       |    $tfs
       |  FROM (SELECT doc_id, source,
       |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
       |          embedding
       |        FROM documents JOIN embeddings ON doc_id = vec_id $whereSql), q),
       |stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
       |    min(vscore) AS vmin, max(vscore) AS vmax, $dfs FROM base),
       |scored AS (
       |  SELECT doc_id, source, vscore, vmin, vmax,
       |    $kscore AS kscore
       |  FROM base, stats),
       |kstats AS (SELECT min(kscore) AS kmin, max(kscore) AS kmax FROM scored)
       |SELECT doc_id, source,
       |  round($alpha * (vscore - vmin) /
       |          (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |      + ${1 - alpha} * (kscore - kmin) /
       |          (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |FROM scored, kstats
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  // --- ranked (reciprocal-rank) fusion -------------------------------------

  /** RRF constant (Weaviate's rankedFusion / the Cormack-Clarke-Buettcher
    * default): contribution of a list position is `1 / (RrfK0 + rank)`.
    */
  val RrfK0 = 60
  /** Per-modality candidate-list length fed into the fusion. */
  val RrfLimit = 20

  /** Hybrid search with RANKED fusion — Weaviate's other `fusion_type`
    * (`HybridFusion.RANKED`; the reference's `hybrid_search` exposes the
    * default relative-score fusion, ranked fusion is the same API's
    * alternate mode). Each modality contributes its top-[[RrfLimit]] list;
    * a document scores the sum over lists of `1/(60 + rank)`, absent
    * lists contribute 0.
    *
    * Scale design: both candidate lists are heap top-L (no corpus sort),
    * so ranking/fusion/metadata-enrichment all run on ≤ 2L rows; the final
    * source lookup joins the fused k rows BROADCAST against the corpus —
    * the corpus is scanned exactly twice (once per modality signal), same
    * as relative-score fusion.
    */
  def fusedRrf(docs: DataFrame, embs: DataFrame, terms: Seq[String],
               queryVecId: Long, limit: Int = RrfLimit, k: Int = TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // candidate-list windows are over ≤ `limit` rows BY CONSTRUCTION —
    // single-partition is the right plan (cf. Reranker)
    val kwR = KeywordSearch.bm25(docs, terms, limit)
      .select(col("doc_id"), col("score").as("kscore"))
      .withColumn("rn_k",
        row_number().over(Window.orderBy(desc("kscore"), asc("doc_id"))))
      .select("doc_id", "rn_k")
    val vecR = VectorSearch.topK(embs, queryVecId, limit)
      .select(col("vec_id").as("doc_id"), col("score").as("vscore"))
      .withColumn("rn_v",
        row_number().over(Window.orderBy(desc("vscore"), asc("doc_id"))))
      .select("doc_id", "rn_v")
    val fusedTop = kwR.join(vecR, Seq("doc_id"), "full")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(RrfK0) + col("rn_k")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK0) + col("rn_v")), lit(0.0)),
          6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(fusedTop), Seq("doc_id"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  def fusedRrfSql(terms: Seq[String], queryVecId: Long,
                  limit: Int = RrfLimit, k: Int = TopK): String =
    s"""WITH kw AS (SELECT doc_id, score AS kscore FROM (
       |${KeywordSearch.bm25Sql(terms, limit)}) t),
       |kwr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY kscore DESC, doc_id) AS rn_k
       |  FROM kw),
       |vec AS (SELECT vec_id AS doc_id, score AS vscore FROM (
       |${VectorSearch.topKSql(queryVecId, limit)}) t),
       |vr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY vscore DESC, doc_id) AS rn_v
       |  FROM vec),
       |fused AS (
       |  SELECT coalesce(kwr.doc_id, vr.doc_id) AS doc_id,
       |    round(coalesce(CAST(1 AS DOUBLE) / ($RrfK0 + rn_k), 0)
       |        + coalesce(CAST(1 AS DOUBLE) / ($RrfK0 + rn_v), 0), 6) AS score
       |  FROM kwr FULL JOIN vr ON kwr.doc_id = vr.doc_id),
       |topk AS (
       |  SELECT doc_id, score FROM fused ORDER BY score DESC, doc_id LIMIT $k)
       |SELECT topk.doc_id, source, score
       |FROM topk JOIN documents ON topk.doc_id = documents.doc_id
       |ORDER BY score DESC, topk.doc_id""".stripMargin

  def searchRrf(s: SparkSession, dir: String): DataFrame =
    fusedRrf(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.QueryTerms, VectorSearch.QueryVecId)

  val searchRrfOracle: String =
    fusedRrfSql(KeywordSearch.QueryTerms, VectorSearch.QueryVecId)

  // --- batch serving pattern ----------------------------------------------

  val BatchK = 5

  /** The per-(query, leg) candidate bound for capped fusion paths (see
    * [[cappedChampionParts]]): C = 4·k keeps every plausible fused winner
    * (a doc outside BOTH legs' top-4k cannot reach the fused top-k at
    * any alpha unless ≥3k stronger candidates tie it out of both lists)
    * while making the normalize+fuse tail O(C·|Q|) instead of
    * O(nprobe·|cell|·|Q|) — the number that grows with the corpus.
    */
  def topCFor(k: Int): Int = 4 * k

  /** Corpus-size floor for the per-leg top-C serving cut: below this
    * many documents the cut is SKIPPED — it is a serving discipline
    * that bounds corpus-scale fan-outs (the r12 100× wins), and at toy
    * scale its per-leg heap stages and the dropped-winner recompute
    * cost more than the frame they bound (~1 s of the r12 local drift
    * on `eval_alpha_sweep_pruned` / `hybrid_search_refreshed_batch`).
    * The switch is safe because full-C ≡ uncapped is spec-pinned
    * (SearchSpec) AND the decision is replayed by every capped SQL
    * oracle from the same datum — the source `documents` table's row
    * count — so both regimes stay oracle-gated. 20k sits between the
    * local gate corpora (≤5k docs at sf0.1) and the smallest replica
    * scale (50k at 10×), keeping every SCALE row on the capped path.
    */
  val CutMinDocs = 20000L

  private val docCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The serving cut for a source dir: `Some(topCFor(k))` at corpus
    * scale, `None` below [[CutMinDocs]] (memoized count per dir — one
    * cheap metadata-ish count per JVM, never per query).
    */
  private[graft] def servingTopC(s: SparkSession, dir: String,
                                 k: Int = BatchK): Option[Int] = {
    val n = docCountMemo.computeIfAbsent(dir,
      d => java.lang.Long.valueOf(Tables.documents(s, d).count()))
    if (n >= CutMinDocs) Some(topCFor(k)) else None
  }

  /** The SQL rendering of the [[servingTopC]] decision — the effective
    * per-leg cut depth: the committed oracles replay the same
    * corpus-size rule, so the engine's regime switch can never drift
    * from the gate.
    */
  private def effectiveTopCSql(topC: Int): String =
    s"CASE WHEN (SELECT count(*) FROM documents) >= $CutMinDocs " +
      s"THEN $topC ELSE 2147483647 END"

  /** Multi-query hybrid search in one composition — completes the batch
    * triad (vector [[VectorSearch.batchTopK]], keyword
    * [[KeywordSearch.bm25Batch]], hybrid here). Per golden query (every
    * [[KeywordSearch.BatchStride]]-th doc: its embedding + its rarest
    * corpus tokens), both signals fan out once — the vector side over
    * the broadcast query batch, the keyword side through the shared
    * postings pass — LEFT-join on (q_id, doc_id) (docs matching no query
    * term carry kscore 0, exactly the single-query `base` semantics),
    * min-max normalize PER QUERY (one groupBy over the fan-out, Q-row
    * broadcast back), fuse with alpha, rank through the bounded heap.
    * Same documented normalization semantics as [[fused]], over the
    * self-excluded corpus.
    */
  def fusedBatch(docs: DataFrame, embs: DataFrame,
                 stride: Int = KeywordSearch.BatchStride,
                 nTerms: Int = KeywordSearch.BatchTerms,
                 alpha: Double = Alpha, k: Int = BatchK): DataFrame =
    fusedBatchFor(docs, embs, col("vec_id") % stride === 0,
      col("doc_id") % stride === 0, nTerms, alpha, k)

  /** [[fusedBatch]] over an arbitrary query-id predicate pair (vector
    * side keys on vec_id, keyword side on doc_id) — the micro-batch
    * serving entry ([[graft.streaming.ServeStream.hybridServe]]).
    * Normalization stats are per query and corpus stats global, so a
    * query's fused scores are batch-split invariant.
    */
  private[graft] def fusedBatchFor(docs: DataFrame, embs: DataFrame,
                                   vecPred: Column, docPred: Column,
                                   nTerms: Int = KeywordSearch.BatchTerms,
                                   alpha: Double = Alpha,
                                   k: Int = BatchK): DataFrame =
    fusedBatchSel(docs, embs, _.filter(vecPred), _.filter(docPred),
      nTerms, alpha, k)

  /** [[fusedBatchFor]] with selector functions for both query sides —
    * the serving path passes broadcast semi-joins of the micro-batch's
    * id frame (see [[KeywordSearch.batchKwRawSel]]).
    */
  private[graft] def fusedBatchSel(docs: DataFrame, embs: DataFrame,
                                   selectVecQueries: DataFrame => DataFrame,
                                   selectDocQueries: DataFrame => DataFrame,
                                   nTerms: Int = KeywordSearch.BatchTerms,
                                   alpha: Double = Alpha,
                                   k: Int = BatchK,
                                   kwIndex: Option[DataFrame] = None,
                                   kwDict: Option[DataFrame] = None,
                                   kwStats: Option[DataFrame] = None): DataFrame = {
    val (vparts, kparts) = batchParts(docs, embs, selectVecQueries,
      selectDocQueries, nTerms, kwIndex, kwDict, kwStats)
    fuseTail(vparts, kparts, alpha, k)
  }

  /** The brute-force batch fusion's two signal frames — shared by the
    * single-alpha entry ([[fusedBatchSel]]) and the alpha sweep
    * ([[fusedBatchSweepSel]]).
    */
  private def batchParts(docs: DataFrame, embs: DataFrame,
                         selectVecQueries: DataFrame => DataFrame,
                         selectDocQueries: DataFrame => DataFrame,
                         nTerms: Int,
                         kwIndex: Option[DataFrame],
                         kwDict: Option[DataFrame] = None,
                         kwStats: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val queries = selectVecQueries(embs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val vparts = Tables.parallel(embs)
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))
    // keyword scores restricted to the EMBEDDED universe up front: the
    // dense fan-out domain is `embeddings`, and the corpora are not
    // guaranteed 1:1 (sf0.1 testdata: 5000 documents, 2000 embeddings) —
    // an un-embedded document's keyword match must contribute to neither
    // the fusion nor the normalization stats (caught by the sf0.1 oracle
    // run: sparse stats over all documents skewed kmax and every fused
    // score with it)
    val kparts = KeywordSearch.batchKwRawSel(docs, selectDocQueries, nTerms,
        kwIndex, kwDict, kwStats)
      .join(embs.select(col("vec_id").as("doc_id")), Seq("doc_id"), "semi")
    (vparts, kparts)
  }

  /** [[fusedBatchSel]] swept over MULTIPLE alphas in ONE plan — the
    * hyperparameter-tuning form behind `eval_alpha_sweep`: the dense
    * fan-out, sparse keyword stats and per-query normalization (the
    * expensive part) compute once behind the same shared exchange; the
    * alpha dimension explodes MAP-SIDE on the fused frame, so only the
    * final fuse expression and the bounded per-(alpha, query) heap
    * multiply by |alphas| — no additional corpus work, no new
    * corpus-sized shuffle.
    */
  private[graft] def fusedBatchSweepSel(docs: DataFrame, embs: DataFrame,
                                        selectVecQueries: DataFrame => DataFrame,
                                        selectDocQueries: DataFrame => DataFrame,
                                        alphas: Seq[Double],
                                        nTerms: Int = KeywordSearch.BatchTerms,
                                        k: Int = BatchK,
                                        kwIndex: Option[DataFrame] = None,
                                        kwDict: Option[DataFrame] = None,
                                        kwStats: Option[DataFrame] = None): DataFrame = {
    val (vparts, kparts) = batchParts(docs, embs, selectVecQueries,
      selectDocQueries, nTerms, kwIndex, kwDict, kwStats)
    fuseTailSweep(vparts, kparts, alphas, k)
  }

  /** Index-accelerated batch hybrid fusion — the serving-path form: the
    * vector signal scans only each query's nprobe IVF cells
    * ([[IvfIndex.batchProbedCells]]) instead of fanning every query over
    * the whole corpus, and the keyword signal is restricted to the same
    * pruned candidate set (a search system normalizes over what it
    * retrieves). Fusion semantics are [[fusedBatchSel]]'s, with the
    * candidate domain = the probed cells' vectors.
    */
  private[graft] def fusedBatchIvf(docs: DataFrame, embs: DataFrame,
                                   stride: Int = KeywordSearch.BatchStride,
                                   nTerms: Int = KeywordSearch.BatchTerms,
                                   nprobe: Int = IvfIndex.NProbe,
                                   alpha: Double = Alpha,
                                   k: Int = BatchK,
                                   centroids: Option[DataFrame] = None,
                                   kwIndex: Option[DataFrame] = None): DataFrame =
    fusedBatchIvfSel(docs, embs, _.filter(col("vec_id") % stride === 0),
      _.filter(col("doc_id") % stride === 0), nTerms, nprobe, alpha, k,
      centroids, kwIndex)

  /** The IVF-pruned dense candidate frame `(q_id, doc_id, vscore)` —
    * each query's cosine fan-out over its nprobe probed cells only.
    * Shared by the IVF and champion fusion forms.
    */
  private def ivfVparts(embs: DataFrame,
                        selectVecQueries: DataFrame => DataFrame,
                        nprobe: Int, centroids: Option[DataFrame]): DataFrame =
    ivfVpartsFor(embs,
      selectVecQueries(embs)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      nprobe, centroids)

  /** [[ivfVparts]] over an arbitrary query frame `queries(q_id, q_emb)`
    * — the single-request pruned entry passes an embedded request (its
    * q_id chosen to collide with no corpus vec_id, or with the seed
    * object's own id for self-exclusion).
    */
  private def ivfVpartsFor(embs: DataFrame, queries: DataFrame,
                           nprobe: Int, centroids: Option[DataFrame]): DataFrame = {
    val probed = centroids
      .map(c => IvfIndex.batchProbedCellsFrom(c, queries, nprobe))
      .getOrElse(IvfIndex.batchProbedCells(embs, queries, nprobe))
    // query embeddings folded into the probe frame (|Q|·nprobe rows)
    // before the corpus fan-out — ONE broadcast hash probe on the
    // corpus stream instead of a cell probe plus a q_id probe (guide
    // §2.3/§3.1); identical rows, identical cosine inputs
    Tables.parallel(embs)
      .join(broadcast(probed.join(queries, Seq("q_id"))),
        col("label") === col("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))
  }

  /** SINGLE-query doubly-pruned hybrid search — [[fusedWithQuery]]'s
    * at-scale serving twin and the facade's pruned-index routing target
    * ([[graft.GraftClient]] `indexMode = "pruned"`): the vector signal
    * scans only the request's nprobe IVF cells off the standing
    * centroids, the keyword signal sums the query terms' champion
    * impacts restricted to those candidates, and the fusion tail is
    * [[fuseTail]]'s (sparse keyword stats + implicit-zero clamp) for a
    * one-query batch. Per-request cost nprobe·|cell| + |terms|·M
    * regardless of corpus size. `qId` both names the output rows and —
    * when it matches a corpus vec_id (the near-object form) — excludes
    * the seed object itself; embedded free-text requests pass a
    * non-colliding id (-1).
    */
  private[graft] def fusedPrunedWithQuery(embs: DataFrame, champs: DataFrame,
                                          terms: Seq[String], q: DataFrame,
                                          qId: Long,
                                          centroids: Option[DataFrame] = None,
                                          alpha: Double = Alpha, k: Int = TopK,
                                          nprobe: Int = IvfIndex.NProbe): DataFrame = {
    val queries = q.select(lit(qId).as("q_id"), col("q_emb"))
    val vparts = ivfVpartsFor(embs, queries, nprobe, centroids)
    val kparts = champs
      .filter(col("term").isin(terms.distinct.sorted: _*))
      .groupBy("doc_id")
      .agg(KeywordSearch.fixedPointSum6(col("imp")).as("raw_score"))
      .withColumn("q_id", lit(qId))
    fuseTail(vparts, kparts, alpha, k,
      restrictKwToCandidates = true, materializeCandidates = true)
      .select(col("rn"), col("doc_id"), col("score"))
  }

  /** Single-request doubly-pruned fusion over BOTH refreshable layouts
    * — the facade's refreshed `hybridSearch` route: vector candidates
    * from the refreshed IVF segments' merged centroids + live cells,
    * keyword scores from the refreshed champion views with probe-time
    * idf ([[IndexRefresh.requestScored]]), the one shared fusion tail.
    */
  private[graft] def fusedRefreshedWithQuery(s: SparkSession,
                                             kwPath: String, vecPath: String,
                                             terms: Seq[String], q: DataFrame,
                                             qId: Long,
                                             alpha: Double = Alpha, k: Int = TopK,
                                             nprobe: Int = IvfIndex.NProbe,
                                             asOf: Option[Int] = None,
                                             allowedDocs: Option[DataFrame] = None): DataFrame = {
    val queries = q.select(lit(qId).as("q_id"), col("q_emb"))
    val vparts0 = VectorRefresh.batchVparts(s, vecPath, queries, nprobe, asOf)
    // filter-during-pinned-walk (the IvfIndex filtered-search pattern
    // over refreshed views): the metadata predicate restricts the
    // candidate domain BEFORE the normalization stats — and because the
    // keyword leg is candidate-restricted below, one semi-join filters
    // both legs. `allowedDocs` carries doc_ids from the SAME corpus
    // state the pin serves (the caller's as-of universe).
    // no broadcast hint: a selective filter broadcasts via AQE, a weak
    // one must not be forced driver-side at corpus scale
    val vparts = allowedDocs.fold(vparts0)(a =>
      vparts0.join(a.select(col("doc_id")), Seq("doc_id"), "semi"))
    val kparts = IndexRefresh.requestScored(s, kwPath, terms.distinct.sorted, asOf)
      .withColumn("q_id", lit(qId))
    fuseTail(vparts, kparts, alpha, k,
      restrictKwToCandidates = true, materializeCandidates = true)
      .select(col("rn"), col("doc_id"), col("score"))
  }

  /** Single-request QUANTIZED hybrid — the facade's quantized route
    * ([[graft.GraftClient]] `indexMode = "quantized"`): the vector leg
    * is the single-query ADC fan-out over the quantized layout's
    * standing codes (vscore = −adc, the 15i convention), the keyword
    * leg is the refreshed champion probe ([[IndexRefresh
    * .requestScored]]), fused by the house tail. `allowedDocs` is the
    * filter-during-the-walk hook (the [[fusedRefreshedWithQuery]]
    * pattern — one semi-join restricts both legs); `asOf` pins codes,
    * centroids, and keyword views consistently.
    */
  private[graft] def fusedQuantizedWithQuery(s: SparkSession,
                                             kwPath: String, vecPath: String,
                                             terms: Seq[String], q: DataFrame,
                                             qId: Long,
                                             alpha: Double = Alpha, k: Int = TopK,
                                             nprobe: Int = IvfIndex.NProbe,
                                             asOf: Option[Int] = None,
                                             allowedDocs: Option[DataFrame] = None): DataFrame = {
    val queries = q.select(lit(qId).as("q_id"), col("q_emb"))
    val (adcs, _, _) = VectorRefresh.batchAdcParts(s, vecPath, queries, nprobe, asOf)
    val vparts0 = adcs.select(col("q_id"), col("vec_id").as("doc_id"),
      (-col("adc")).as("vscore"))
    val vparts = allowedDocs.fold(vparts0)(a =>
      vparts0.join(a.select(col("doc_id")), Seq("doc_id"), "semi"))
    val kparts = IndexRefresh.requestScored(s, kwPath, terms.distinct.sorted, asOf)
      .withColumn("q_id", lit(qId))
    fuseTail(vparts, kparts, alpha, k,
      restrictKwToCandidates = true, materializeCandidates = true)
      .select(col("rn"), col("doc_id"), col("score"))
  }

  /** Driver query: the single-query pruned hybrid, seeded like
    * [[search]] by the benchmark object's stored vector, over the
    * standing champion + centroid artifacts.
    */
  def searchPruned(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val q = embs.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    fusedPrunedWithQuery(embs, ChampionIndex.cachedChampions(s, dir),
      KeywordSearch.QueryTerms, q, VectorSearch.QueryVecId,
      centroids = Some(IvfIndex.cachedCentroids(s, dir)))
  }

  /** Oracle for [[searchPruned]]: champion index + probed cells
    * re-derived from the raw corpus, the one-query fusion replayed on
    * the coalesced joined frame (equivalent to the engine's
    * sparse-stats + clamp form, as in [[fusedBatchChampionSql]]).
    */
  def searchPrunedSql(terms: Seq[String] = KeywordSearch.QueryTerms,
                      qId: Long = VectorSearch.QueryVecId,
                      nprobe: Int = IvfIndex.NProbe,
                      m: Int = ChampionIndex.M,
                      alpha: Double = Alpha, k: Int = TopK): String = {
    val qList = terms.distinct.sorted.map(t => s"'$t'").mkString(", ")
    s"""WITH ${ChampionIndex.championChampsSqlCtes(m)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id = $qId", nprobe)},
       |kscored AS (
       |  SELECT CAST($qId AS BIGINT) AS q_id, doc_id,
       |    ${KeywordSearch.fixedPointSum6Sql("imp")} AS raw_score
       |  FROM champs WHERE term IN ($qList)
       |  GROUP BY doc_id),
       |vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM embeddings e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |joined AS (
       |  SELECT vparts.q_id, vparts.doc_id, vscore,
       |    coalesce(raw_score, 0.0) AS kscore
       |  FROM vparts LEFT JOIN kscored
       |    ON vparts.q_id = kscored.q_id AND vparts.doc_id = kscored.doc_id),
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id))
       |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
       |  doc_id, score
       |FROM fusedt
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  val searchPrunedOracle: String = searchPrunedSql()

  /** The IVF-fused batch over either the raw corpus (inline index build,
    * spec-gated ≡ the serving form) or — the serving form, the driver
    * query — the STANDING index artifacts: materialized centroids
    * ([[IvfIndex.writeCentroids]]) and batch postings
    * ([[KeywordSearch.cachedBatchPostings]]). Served, every prep frame
    * (cell ranking, query terms, df dictionary, corpus stats) is a
    * column-pruned scan of a compact parquet artifact — nothing
    * re-tokenizes or re-aggregates the corpus, so the plan is a shallow
    * diamond instead of the r3 101-exchange tower, and the per-batch
    * cost is the probe cost (the deployed shape: indexes are built once,
    * probed forever).
    */
  private[graft] def fusedBatchIvfSel(docs: DataFrame, embs: DataFrame,
                                      selectVecQueries: DataFrame => DataFrame,
                                      selectDocQueries: DataFrame => DataFrame,
                                      nTerms: Int = KeywordSearch.BatchTerms,
                                      nprobe: Int = IvfIndex.NProbe,
                                      alpha: Double = Alpha,
                                      k: Int = BatchK,
                                      centroids: Option[DataFrame] = None,
                                      kwIndex: Option[DataFrame] = None,
                                      kwDict: Option[DataFrame] = None,
                                      kwStats: Option[DataFrame] = None): DataFrame = {
    val vparts = ivfVparts(embs, selectVecQueries, nprobe, centroids)
    // keyword scores restricted to the PRUNED candidate pairs: a doc
    // outside a query's probed cells contributes to neither fusion nor
    // that query's normalization stats (the semi-join happens INSIDE
    // fuseTail against the post-exchange candidate frame, so it reuses
    // the one materialized fan-out instead of recomputing it)
    fuseTail(vparts,
      KeywordSearch.batchKwRawSel(docs, selectDocQueries, nTerms, kwIndex,
        kwDict, kwStats),
      alpha, k, restrictKwToCandidates = true,
      materializeCandidates = kwIndex.isDefined)
  }

  /** DOUBLY-PRUNED batch fusion — the at-scale serving form of the
    * hybrid family: the vector signal scans only each query's nprobe
    * IVF cells AND the keyword signal probes only the champion lists
    * ([[ChampionIndex]]) of the query's terms, so per-query cost is
    * bounded by nprobe·|cell| + nTerms·M REGARDLESS of corpus size —
    * the fusion form whose 100× SCALE row stays measurable while every
    * exact-keyword-leg fusion is `cap`ped (SCALE.md). Fusion semantics
    * are [[fusedBatchIvfSel]]'s: candidate domain = the probed cells'
    * vectors, keyword contributions restricted to those candidates,
    * sparse keyword stats + implicit-zero clamp.
    */
  private[graft] def fusedBatchChampionSel(docs: DataFrame, embs: DataFrame,
                                           postings: DataFrame, champs: DataFrame,
                                           selectVecQueries: DataFrame => DataFrame,
                                           selectDocQueries: DataFrame => DataFrame,
                                           nTerms: Int = KeywordSearch.BatchTerms,
                                           nprobe: Int = IvfIndex.NProbe,
                                           alpha: Double = Alpha,
                                           k: Int = BatchK,
                                           centroids: Option[DataFrame] = None,
                                           topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val kparts = ChampionIndex.championScored(docs, postings, champs,
      selectDocQueries, nTerms)
    topC match {
      case Some(c) =>
        val (vcand, kcut) = cappedChampionParts(embs, selectVecQueries,
          kparts, nprobe, centroids, c)
        fuseTail(vcand, kcut, alpha, k)
      case None =>
        fuseTail(ivfVparts(embs, selectVecQueries, nprobe, centroids),
          kparts, alpha, k,
          restrictKwToCandidates = true, materializeCandidates = true)
    }
  }

  /** The capped champion-fusion candidate prep — the 100 TB shape of
    * the per-(q_id, leg) top-C serving cut: the probed-cell cosine
    * fan-out is consumed by EXACTLY ONE streaming pass into bounded
    * map-side heaps (partial [[graft.functions.VectorFunctions
    * .topKByScore]] per q_id ahead of the q_id exchange, so the
    * shuffle carries ≤C rows per query per task), and it is NEVER
    * materialized, exchanged whole, or probed a second time — the r11
    * capped form checkpointed and semi-join-probed the full frame,
    * which re-introduced the corpus-fraction-checkpoint failure mode
    * the refreshed path had already shed (executor OOM at 100×). The
    * two other uses of the frame come from bounded artifacts instead:
    *   - the keyword leg's candidate-domain restriction is CELL
    *     membership — the corpus' (vec_id, label) projection joined to
    *     the broadcast (q_id, cell) probe pairs — a featherweight
    *     column-pruned pass, not a semi-join against the fan-out;
    *   - keyword winners the vector cut dropped recover their true
    *     vscore by recomputing the SAME cosine expression for the
    *     ≤C·|Q| missing (q_id, doc_id) pairs directly from the
    *     embeddings (bitwise identical — same expression, same rows).
    * Output feeds [[fuseTail]] uncapped: vcand is the ≤2C-per-query
    * union, kcut ⊆ vcand's keys, so stats/clamp/join semantics are
    * unchanged and the committed SQL oracle (vtop/ktop/cand CTEs)
    * replays it row-for-row.
    */
  private def cappedChampionParts(embs: DataFrame,
                                  selectVecQueries: DataFrame => DataFrame,
                                  kparts: DataFrame,
                                  nprobe: Int, centroids: Option[DataFrame],
                                  c: Int): (DataFrame, DataFrame) = {
    val queries = selectVecQueries(embs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = centroids
      .map(cs => IvfIndex.batchProbedCellsFrom(cs, queries, nprobe))
      .getOrElse(IvfIndex.batchProbedCells(embs, queries, nprobe))
    // queries folded into the probe frame pre-fan-out (r15, guide §2.3)
    val vparts = Tables.parallel(embs)
      .join(broadcast(probed.join(queries, Seq("q_id"))),
        col("label") === col("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))
    val kdom = kparts
      .join(embs.select(col("vec_id").as("doc_id"), col("label").as("cell")),
        Seq("doc_id"))
      .join(broadcast(probed), Seq("q_id", "cell"), "semi")
      .filter(col("doc_id") =!= col("q_id"))
      .drop("cell")
    cappedCut(vparts, kdom, extraKeys =>
      embs.select(col("vec_id").as("doc_id"), col("embedding"))
        .join(broadcast(extraKeys.join(queries, Seq("q_id"))), Seq("doc_id"))
        .select(col("q_id"), col("doc_id"),
          cosineSim(col("embedding"), col("q_emb")).as("vscore")), c)
  }

  /** The shared tail of every capped fusion prep: one streaming heap
    * pass per leg, the anti-join for keyword winners the vector cut
    * dropped, and the ≤2C-per-query union — `vscoreOf` recomputes the
    * true vscore for those ≤C·|Q| missing (q_id, doc_id) pairs from
    * the caller's corpus (bitwise the fan-out's cosine: same
    * expression, same rows).
    */
  private def cappedCut(vparts: DataFrame, kdom: DataFrame,
                        vscoreOf: DataFrame => DataFrame,
                        c: Int): (DataFrame, DataFrame) = {
    val vcut = vparts.groupBy("q_id")
      .agg(topKByScore(col("vscore"), col("doc_id"), c).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("doc_id"),
        col("t.score").as("vscore"))
    val kcut = kdom.groupBy("q_id")
      .agg(topKByScore(col("raw_score"), col("doc_id"), c).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("doc_id"),
        col("t.score").as("raw_score"))
    val extraKeys = kcut.join(vcut, Seq("q_id", "doc_id"), "anti")
      .select(col("q_id"), col("doc_id"))
    (vcut.unionByName(vscoreOf(extraKeys)), kcut)
  }

  /** [[cappedChampionParts]] for the REFRESHED layouts — the same
    * one-streaming-pass discipline over [[VectorRefresh.liveVectors]]'
    * merged live cells: the fan-out (live vectors of each query's
    * nprobe probed cells off the merged serving centroids) feeds the
    * per-leg heaps directly, the refreshed keyword scores restrict to
    * the candidate domain via live cell membership against the
    * broadcast probe pairs, and dropped keyword winners recover their
    * vscore from the live corpus. `asOf` pins centroids, live
    * vectors, and the keyword views consistently (the caller passes
    * kparts already pinned).
    */
  private def cappedRefreshedParts(s: SparkSession, vecPath: String,
                                   queries: DataFrame, kparts: DataFrame,
                                   nprobe: Int, asOf: Option[Int],
                                   c: Int): (DataFrame, DataFrame) = {
    val probed = IvfIndex.batchProbedCellsFrom(
      VectorRefresh.servingCentroidView(s, vecPath, asOf), queries, nprobe)
    val live = VectorRefresh.liveVectors(s, vecPath, asOf = asOf)
    // queries folded into the probe frame pre-fan-out (r15, guide §2.3)
    val vparts = live
      .join(broadcast(probed.join(queries, Seq("q_id"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))
    val kdom = kparts
      .join(live.select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
      .join(broadcast(probed), Seq("q_id", "cell"), "semi")
      .filter(col("doc_id") =!= col("q_id"))
      .drop("cell")
    cappedCut(vparts, kdom, extraKeys =>
      live.select(col("vec_id").as("doc_id"), col("embedding"))
        .join(broadcast(extraKeys.join(queries, Seq("q_id"))), Seq("doc_id"))
        .select(col("q_id"), col("doc_id"),
          cosineSim(col("embedding"), col("q_emb")).as("vscore")), c)
  }

  /** [[fusedBatchChampionSel]] swept over MULTIPLE alphas in ONE plan —
    * hyperparameter tuning over the retriever that stays runnable at
    * the scale the engine targets: candidate prep is the doubly-pruned
    * fusion's (nprobe IVF cells × champion lists, both bounded per
    * query, materialized once) and — as in [[fusedBatchSweepSel]] —
    * only the map-side fuse and the bounded per-(alpha, query) heap
    * multiply by |alphas|. The exact sweep ([[fusedBatchSweepSel]])
    * shares the exact-BM25 keyword leg and caps at 100×; this is the
    * sweep a practitioner runs against the deployed pruned index.
    */
  private[graft] def fusedBatchChampionSweepSel(docs: DataFrame, embs: DataFrame,
                                                postings: DataFrame, champs: DataFrame,
                                                selectVecQueries: DataFrame => DataFrame,
                                                selectDocQueries: DataFrame => DataFrame,
                                                alphas: Seq[Double],
                                                nTerms: Int = KeywordSearch.BatchTerms,
                                                nprobe: Int = IvfIndex.NProbe,
                                                k: Int = BatchK,
                                                centroids: Option[DataFrame] = None,
                                                topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val kparts = ChampionIndex.championScored(docs, postings, champs,
      selectDocQueries, nTerms)
    topC match {
      case Some(c) =>
        val (vcand, kcut) = cappedChampionParts(embs, selectVecQueries,
          kparts, nprobe, centroids, c)
        fuseTailSweep(vcand, kcut, alphas, k)
      case None =>
        fuseTailSweep(ivfVparts(embs, selectVecQueries, nprobe, centroids),
          kparts, alphas, k,
          restrictKwToCandidates = true, materializeCandidates = true)
    }
  }

  /** SQL replay of [[fusedBatchChampionSweepSel]]: the champion-fusion
    * CTE skeleton (including the per-leg top-C cut) with the alpha list
    * cross-joined into the fuse expression, ranking per (alpha, q_id).
    */
  def fusedBatchChampionSweepSql(alphas: Seq[Double],
                                 stride: Int = KeywordSearch.BatchStride,
                                 nTerms: Int = KeywordSearch.BatchTerms,
                                 nprobe: Int = IvfIndex.NProbe,
                                 m: Int = ChampionIndex.M,
                                 k: Int = BatchK): String =
    s"""WITH ${ChampionIndex.championScoredSqlCtes(stride, nTerms, m)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM embeddings e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |${cappedJoinedSqlCtes(topCFor(k))},
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |alphas AS (SELECT unnest([${alphaListSql(alphas)}]) AS alpha),
       |fusedt AS (
       |  SELECT alpha, q_id, doc_id,
       |    round(alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + (1.0 - alpha) * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id), alphas),
       |ranked AS (
       |  SELECT alpha, q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY alpha, q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT alpha, q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY alpha, q_id, rn""".stripMargin

  /** [[fusedBatchChampionSel]] swept over MULTIPLE champion DEPTHS in
    * ONE plan — the M knob's quality curve (`eval_champion_sweep`),
    * the tuning run a deployment needs before trusting 13e's pruning
    * at 100 TB, built the way 23e built alpha's: candidates come from
    * the standing M=max artifact ONCE
    * ([[ChampionIndex.championScoredByDepth]] — per-depth membership
    * by re-derived impact rank), the vector leg's probed-cell fan-out
    * and its top-C cut compute ONCE (depth-independent), and only the
    * per-(m, q_id) keyword cuts, stats, fuse and bounded heaps carry
    * the depth dimension — every per-m frame on the capped path is
    * ≤2C rows per query, so the ×|ms| factor multiplies bounded
    * frames, never the corpus fan-out. The m = [[ChampionIndex.M]]
    * slice is bitwise [[fusedBatchChampionSel]]'s ranking
    * (spec-pinned): same candidate domain, same cuts, same stats
    * clamp, same fused arithmetic.
    *
    * Uncapped regime (corpora below [[CutMinDocs]] — the local gates):
    * the candidate fan-out is materialized once and replicated per
    * depth for the join against the per-m keyword frames; bounded
    * there by the toy corpus, and never the shape that runs at scale
    * (the cut is on for every corpus the 100× rows measure).
    */
  private[graft] def fusedBatchChampionDepthSweepSel(docs: DataFrame, embs: DataFrame,
                                                     postings: DataFrame, champs: DataFrame,
                                                     selectVecQueries: DataFrame => DataFrame,
                                                     selectDocQueries: DataFrame => DataFrame,
                                                     ms: Seq[Int],
                                                     nTerms: Int = KeywordSearch.BatchTerms,
                                                     nprobe: Int = IvfIndex.NProbe,
                                                     alpha: Double = Alpha,
                                                     k: Int = BatchK,
                                                     centroids: Option[DataFrame] = None,
                                                     topC: Option[Int] = Some(topCFor(BatchK)),
                                                     rankedChamps: Option[DataFrame] = None): DataFrame = {
    val kpartsM = ChampionIndex.championScoredByDepth(docs, postings, champs,
      selectDocQueries, ms, nTerms, rankedChamps = rankedChamps)
    val msDf = ChampionIndex.msFrame(docs.sparkSession, ms)
    topC match {
      case Some(c) =>
        val queries = selectVecQueries(embs)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val probed = centroids
          .map(cs => IvfIndex.batchProbedCellsFrom(cs, queries, nprobe))
          .getOrElse(IvfIndex.batchProbedCells(embs, queries, nprobe))
        // the fan-out feeds its ONE streaming heap pass (the
        // cappedChampionParts discipline) — depth-independent; queries
        // folded into the probe frame pre-fan-out (r15, guide §2.3)
        val vparts = Tables.parallel(embs)
          .join(broadcast(probed.join(queries, Seq("q_id"))),
            col("label") === col("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("doc_id"),
            cosineSim(col("embedding"), col("q_emb")).as("vscore"))
        val vcut = vparts.groupBy("q_id")
          .agg(topKByScore(col("vscore"), col("doc_id"), c).as("top"))
          .select(col("q_id"), explode(col("top")).as("t"))
          .select(col("q_id"), col("t.id").as("doc_id"),
            col("t.score").as("vscore"))
        val kdomM = kpartsM
          .join(embs.select(col("vec_id").as("doc_id"), col("label").as("cell")),
            Seq("doc_id"))
          .join(broadcast(probed), Seq("q_id", "cell"), "semi")
          .filter(col("doc_id") =!= col("q_id"))
          .drop("cell")
        val kcutM = kdomM.groupBy("m", "q_id")
          .agg(topKByScore(col("raw_score"), col("doc_id"), c).as("top"))
          .select(col("m"), col("q_id"), explode(col("top")).as("t"))
          .select(col("m"), col("q_id"), col("t.id").as("doc_id"),
            col("t.score").as("raw_score"))
        val vcutM = vcut.join(broadcast(msDf))
        // keyword winners the vector cut dropped recover their true
        // vscore once per DISTINCT (q_id, doc_id) pair, then re-attach
        // their depths — ≤C·|Q| pairs regardless of |ms|
        val extraKeysM = kcutM.join(vcutM, Seq("m", "q_id", "doc_id"), "anti")
          .select(col("m"), col("q_id"), col("doc_id"))
        val extraV = embs.select(col("vec_id").as("doc_id"), col("embedding"))
          .join(broadcast(extraKeysM.select("q_id", "doc_id").distinct()
            .join(queries, Seq("q_id"))), Seq("doc_id"))
          .select(col("q_id"), col("doc_id"),
            cosineSim(col("embedding"), col("q_emb")).as("vscore"))
        val vcandM = vcutM.select("m", "q_id", "doc_id", "vscore")
          .unionByName(broadcast(extraKeysM).join(extraV, Seq("q_id", "doc_id"))
            .select("m", "q_id", "doc_id", "vscore"))
        fuseTailDepthSweep(vcandM, kcutM, alpha, k)
      case None =>
        val vparts1 = ivfVparts(embs, selectVecQueries, nprobe, centroids)
          .filter(col("q_id").isNotNull && col("doc_id").isNotNull)
          .repartition(col("q_id"), col("doc_id"))
        val vcand = Checkpoints.transient_(vparts1)
        val kM = Checkpoints.transient_(
          kpartsM.join(vcand.select(col("q_id"), col("doc_id")),
            Seq("q_id", "doc_id"), "semi"))
        val vcandM = vcand.join(broadcast(msDf))
          .select("m", "q_id", "doc_id", "vscore")
        fuseTailDepthSweep(vcandM, kM, alpha, k)
    }
  }

  /** [[fuseTail]] keyed by (m, q_id) — identical stats clamp, fused
    * arithmetic and heap ordering, with the depth dimension carried
    * through every stage. Bitwise [[fuseTail]] per m on equal inputs.
    */
  private def fuseTailDepthSweep(vcandM: DataFrame, kM: DataFrame,
                                 alpha: Double, k: Int): DataFrame = {
    val vstats = vcandM.groupBy("m", "q_id")
      .agg(min("vscore").as("vmin"), max("vscore").as("vmax"),
        count(col("doc_id")).as("n_cand"))
    val kagg = kM.groupBy("m", "q_id")
      .agg(min("raw_score").as("krmin"), max("raw_score").as("krmax"),
        count(col("doc_id")).as("n_matched"))
    val qstats = vstats.join(kagg, Seq("m", "q_id"), "left")
      .select(col("m"), col("q_id"), col("vmin"), col("vmax"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), least(col("krmin"), lit(0.0)))
          .otherwise(col("krmin")).as("kmin"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), greatest(col("krmax"), lit(0.0)))
          .otherwise(col("krmax")).as("kmax"))
    val joined = vcandM.join(kM, Seq("m", "q_id", "doc_id"), "left")
      .withColumn("kscore", coalesce(col("raw_score"), lit(0.0)))
    val fscore = round(
      lit(alpha) * (col("vscore") - col("vmin")) /
        when(col("vmax") === col("vmin"), 1.0).otherwise(col("vmax") - col("vmin")) +
        lit(1 - alpha) * (col("kscore") - col("kmin")) /
          when(col("kmax") === col("kmin"), 1.0).otherwise(col("kmax") - col("kmin")),
      4)
    joined.join(broadcast(qstats), Seq("m", "q_id"))
      .select(col("m"), col("q_id"), col("doc_id"), fscore.as("fs"))
      .groupBy("m", "q_id")
      .agg(graft.functions.VectorFunctions.topKByScore(col("fs"), col("doc_id"), k).as("top"))
      .select(col("m"), col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("m"), col("q_id"), (col("i") + 1).as("rn"),
        col("t.id").as("doc_id"), col("t.score").as("score"))
      .orderBy("m", "q_id", "rn")
  }

  /** Driver form: the champion-depth sweep over the standing artifacts
    * (postings + champions + IVF centroids), the
    * [[batchSearchChampion]] convention — so the m = max slice is the
    * doubly-pruned serving ranking itself.
    */
  def batchSearchChampionDepthSweep(s: SparkSession, dir: String,
                                    ms: Seq[Int]): DataFrame =
    fusedBatchChampionDepthSweepSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir),
      ChampionIndex.cachedChampions(s, dir),
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
      ms,
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      topC = servingTopC(s, dir),
      rankedChamps = Some(ChampionIndex.cachedChampionsRanked(s, dir)))

  /** The ONE copy of the per-query normalize + fuse + rank tail, over an
    * arbitrary candidate frame `vparts(q_id, doc_id, vscore)` and sparse
    * keyword frame `kparts(q_id, doc_id, raw_score)` (⊆ vparts domain).
    *
    * Plan shape: `vparts` goes behind ONE explicit q_id exchange that
    * every consumer reuses (stats aggregate, fusion join, and — on the
    * IVF path — the candidate semi-join), so the dense cosine fan-out is
    * computed and shuffled exactly once; q_id partitioning satisfies the
    * (q_id, doc_id) join clustering and the final per-query heap, so
    * nothing downstream re-exchanges. Stats aggregates reference the
    * full (q_id, doc_id, score) column set on both legs — diverging
    * column pruning would otherwise split the subtrees and defeat
    * ReusedExchange (the span-profile lesson).
    *
    * Normalization: vector min/max over the candidate set; keyword
    * min/max from the SPARSE matched rows, range clamped to include the
    * implicit 0 whenever a candidate matched no query term
    * (n_matched < n_cand), all-zeros when nothing matched.
    */
  private def fuseTail(vparts0: DataFrame, kparts0: DataFrame,
                       alpha: Double, k: Int,
                       restrictKwToCandidates: Boolean = false,
                       materializeCandidates: Boolean = false): DataFrame = {
    val (joined, qstats) =
      fusePrep(vparts0, kparts0, restrictKwToCandidates, materializeCandidates)
    val fscore = round(
      lit(alpha) * (col("vscore") - col("vmin")) /
        when(col("vmax") === col("vmin"), 1.0).otherwise(col("vmax") - col("vmin")) +
        lit(1 - alpha) * (col("kscore") - col("kmin")) /
          when(col("kmax") === col("kmin"), 1.0).otherwise(col("kmax") - col("kmin")),
      4)
    joined.join(broadcast(qstats), Seq("q_id"))
      .select(col("q_id"), col("doc_id"), fscore.as("fs"))
      .groupBy("q_id")
      .agg(graft.functions.VectorFunctions.topKByScore(col("fs"), col("doc_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), (col("i") + 1).as("rn"), col("t.id").as("doc_id"),
        col("t.score").as("score"))
      .orderBy("q_id", "rn")
  }

  /** [[fuseTail]]'s alpha-SWEEP twin: identical prep (ONE dense fan-out
    * + stats), then ONE pass over the candidate stream carrying
    * |alphas| bounded heaps side by side — each alpha's fused score is
    * its own aggregate column in a single `groupBy(q_id)`, so the
    * candidate frame is never replicated ×|alphas| (the r8 form
    * exploded the alpha dimension onto the fused frame before the heap;
    * at 100× the sweep's candidate volume already grows as
    * corpus × queries, and the ×|alphas| row replication multiplied the
    * whole map-side stream plus every per-row aggregate-hash probe).
    * Per-alpha arithmetic uses literal `alpha` / `1−alpha` factors —
    * bit-identical to [[fuseTail]]'s single-alpha form and to the
    * column-alpha oracle (the swept alphas are exact doubles). The
    * heaps unpivot to the same (alpha, q_id, rn, doc_id, score) output.
    */
  private def fuseTailSweep(vparts0: DataFrame, kparts0: DataFrame,
                            alphas: Seq[Double], k: Int,
                            restrictKwToCandidates: Boolean = false,
                            materializeCandidates: Boolean = false): DataFrame = {
    val (joined, qstats) = fusePrep(vparts0, kparts0,
      restrictKwToCandidates, materializeCandidates)
    def fscoreFor(a: Double) = round(
      lit(a) * (col("vscore") - col("vmin")) /
        when(col("vmax") === col("vmin"), 1.0).otherwise(col("vmax") - col("vmin")) +
        lit(1.0 - a) * (col("kscore") - col("kmin")) /
          when(col("kmax") === col("kmin"), 1.0).otherwise(col("kmax") - col("kmin")),
      4)
    val heaps = alphas.zipWithIndex.map { case (a, i) =>
      graft.functions.VectorFunctions
        .topKByScore(fscoreFor(a), col("doc_id"), k).as(s"top_$i")
    }
    joined.join(broadcast(qstats), Seq("q_id"))
      .groupBy("q_id")
      .agg(heaps.head, heaps.tail: _*)
      .select(col("q_id"), explode(array(alphas.zipWithIndex.map { case (a, i) =>
        struct(lit(a).as("alpha"), col(s"top_$i").as("top")) }: _*)).as("slice"))
      .select(col("q_id"), col("slice.alpha").as("alpha"),
        posexplode(col("slice.top")).as(Seq("i", "t")))
      .select(col("alpha"), col("q_id"), (col("i") + 1).as("rn"),
        col("t.id").as("doc_id"), col("t.score").as("score"))
      .orderBy("alpha", "q_id", "rn")
  }

  /** The shared normalize-and-join prefix of both fusion tails:
    * candidate frame behind its one exchange, sparse keyword
    * restriction, per-query stats with the implicit-zero clamp, and the
    * LEFT-joined (q_id, doc_id, vscore, kscore) frame. Capped fusion
    * paths pre-cut each leg in [[cappedChampionParts]] and arrive here
    * with the ≤2C-per-query union as `vparts0` — the stats/clamp/join
    * semantics are identical either way because the keyword frame is a
    * subset of the candidate keys in both shapes.
    */
  private def fusePrep(vparts0: DataFrame, kparts0: DataFrame,
                       restrictKwToCandidates: Boolean,
                       materializeCandidates: Boolean): (DataFrame, DataFrame) = {
    // (q_id, doc_id) — NOT q_id alone: the fan-out holds ~|corpus| rows
    // per query, so single-key partitioning would put a whole corpus
    // copy on one task. The explicit not-null filters keep every
    // consumer's subtree canonically identical (the join branch would
    // otherwise push IsNotNull below the exchange asymmetrically and
    // defeat ReusedExchange — the recorded lm-bigram failure mode).
    val vparts1 = vparts0
      .filter(col("q_id").isNotNull && col("doc_id").isNotNull)
      .repartition(col("q_id"), col("doc_id"))
    // On the PRUNED (IVF) path the candidate frame is bounded by
    // construction (Q · nprobe/nlist of the corpus), so it is
    // materialized ONCE (localCheckpoint preserves the (q_id, doc_id)
    // partitioning) and every fusion consumer — stats aggregate, fusion
    // join, keyword restriction — reads the materialized frame instead
    // of re-deriving the fan-out subtree. Eager vs lazy was A/B-measured
    // (r9): the two eager job barriers cost nothing detectable at
    // micro-batch scale (4.02 vs 4.01 s medians, same JVM), so the
    // eager form stays — it guarantees exactly-once computation of the
    // fan-out where the lazy persist races concurrent consumers. The
    // brute-force path keeps the declarative shared exchange
    // (ReusedExchange), because its fan-out is corpus×Q and a serving
    // system would not persist that.
    val vparts =
      if (materializeCandidates) Checkpoints.transient_(vparts1) else vparts1
    // candidate restriction (IVF path) probes the POST-exchange frame so
    // the semi-join is a third ReusedExchange consumer, not a recompute
    // of the pruned fan-out
    val kparts1 =
      if (restrictKwToCandidates)
        kparts0.join(vparts.select(col("q_id"), col("doc_id")),
          Seq("q_id", "doc_id"), "semi")
      else kparts0
    val kparts2 =
      if (materializeCandidates) Checkpoints.transient_(kparts1) else kparts1
    // the per-leg top-C serving cut does NOT live here: it must consume
    // the fan-out in ONE streaming map-side pass BEFORE any exchange or
    // checkpoint of the full frame (see [[cappedChampionParts]]) — an
    // in-prep cut over the materialized frame re-created the
    // corpus-fraction-checkpoint OOM at 100×
    val (vcand, kparts) = (vparts, kparts2)
    val vstats = vcand.groupBy("q_id")
      .agg(min("vscore").as("vmin"), max("vscore").as("vmax"),
        count(col("doc_id")).as("n_cand"))
    val kagg = kparts.groupBy("q_id")
      .agg(min("raw_score").as("krmin"), max("raw_score").as("krmax"),
        count(col("doc_id")).as("n_matched"))
    val qstats = vstats.join(kagg, Seq("q_id"), "left")
      .select(col("q_id"), col("vmin"), col("vmax"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), least(col("krmin"), lit(0.0)))
          .otherwise(col("krmin")).as("kmin"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), greatest(col("krmax"), lit(0.0)))
          .otherwise(col("krmax")).as("kmax"))
    val joined = vcand.join(kparts, Seq("q_id", "doc_id"), "left")
      .withColumn("kscore", coalesce(col("raw_score"), lit(0.0)))
    (joined, qstats)
  }

  /** The shared CTE chain of [[fusedBatchSql]] and
    * [[fusedBatchSweepSql]] — one copy of the normalize-and-join prefix
    * (the SQL twin of [[fusePrep]] over [[batchParts]]).
    */
  private def fusedBatchSqlCtes(stride: Int, nTerms: Int): String =
    s"""${KeywordSearch.batchKwRawSqlCtes(stride, nTerms)},
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id % $stride = 0),
       |vparts AS (
       |  SELECT q_id, vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("embedding", "q_emb")} AS vscore
       |  FROM embeddings JOIN queries ON vec_id <> q_id),
       |joined AS (
       |  SELECT vparts.q_id, vparts.doc_id, vscore,
       |    coalesce(raw_score, 0.0) AS kscore
       |  FROM vparts LEFT JOIN scored
       |    ON vparts.q_id = scored.q_id AND vparts.doc_id = scored.doc_id),
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1)""".stripMargin

  def fusedBatchSql(stride: Int = KeywordSearch.BatchStride,
                    nTerms: Int = KeywordSearch.BatchTerms,
                    alpha: Double = Alpha, k: Int = BatchK): String =
    s"""WITH ${fusedBatchSqlCtes(stride, nTerms)},
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)),
       |ranked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  /** Each alpha as a correctly-rounded DOUBLE literal: VARCHAR→DOUBLE
    * parse (IEEE round-to-nearest of the shortest round-trip repr) is
    * bitwise the Spark-side `typedLit` double for ANY alpha — a bare
    * list literal would type as DECIMAL, whose /10^scale conversion can
    * land a non-dyadic alpha (e.g. 1/3) one ulp off the Spark literal
    * and flip the 4dp fused-score rounding at a boundary.
    */
  private[operators] def alphaListSql(alphas: Seq[Double]): String =
    alphas.map(a => s"CAST('$a' AS DOUBLE)").mkString(", ")

  /** SQL replay of [[fusedBatchSweepSel]]: same prefix CTEs, the alpha
    * list cross-joined into the fuse expression, ranking per
    * (alpha, q_id).
    */
  def fusedBatchSweepSql(alphas: Seq[Double],
                         stride: Int = KeywordSearch.BatchStride,
                         nTerms: Int = KeywordSearch.BatchTerms,
                         k: Int = BatchK): String =
    s"""WITH ${fusedBatchSqlCtes(stride, nTerms)},
       |alphas AS (SELECT unnest([${alphaListSql(alphas)}]) AS alpha),
       |fusedt AS (
       |  SELECT alpha, q_id, doc_id,
       |    round(alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + (1.0 - alpha) * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id), alphas),
       |ranked AS (
       |  SELECT alpha, q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY alpha, q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT alpha, q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY alpha, q_id, rn""".stripMargin

  /** Driver query: the SERVING form — keyword signal from the standing
    * postings artifact (identical results to the inline [[fusedBatch]];
    * spec-pinned), vector signal the dense fan-out (the brute-force
    * baseline by design — [[fusedBatchIvf]] is the pruned form).
    */
  def batchSearch(s: SparkSession, dir: String): DataFrame =
    fusedBatchSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      // r15: df dictionary + corpus stats from the standing artifacts
      // too (the batchSearchIvf convention — value-identical summaries
      // of the same postings; guide §2.4: the per-run postings
      // re-aggregation was two corpus-sized exchanges per execution)
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir)))

  val batchSearchOracle: String = fusedBatchSql()

  /** Oracle for the IVF-pruned batch fusion: the keyword CTE chain and
    * the per-query probed-cell CTEs compose; the candidate domain is the
    * probed cells' vectors and — as in [[fusedBatchSql]] — the
    * normalization stats derive from the coalesced joined frame, which
    * is equivalent to the engine's sparse-stats + clamp formulation.
    */
  def fusedBatchIvfSql(stride: Int = KeywordSearch.BatchStride,
                       nTerms: Int = KeywordSearch.BatchTerms,
                       nprobe: Int = IvfIndex.NProbe,
                       alpha: Double = Alpha, k: Int = BatchK): String =
    s"""WITH ${KeywordSearch.batchKwRawSqlCtes(stride, nTerms)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM embeddings e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |joined AS (
       |  SELECT vparts.q_id, vparts.doc_id, vscore,
       |    coalesce(raw_score, 0.0) AS kscore
       |  FROM vparts LEFT JOIN scored
       |    ON vparts.q_id = scored.q_id AND vparts.doc_id = scored.doc_id),
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)),
       |ranked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  def batchSearchIvf(s: SparkSession, dir: String): DataFrame =
    fusedBatchIvfSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir)))

  val batchSearchIvfOracle: String = fusedBatchIvfSql()

  /** Driver query: the doubly-pruned serving form over the standing
    * artifacts (IVF centroids + batch postings + champion lists).
    */
  def batchSearchChampion(s: SparkSession, dir: String): DataFrame =
    fusedBatchChampionSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir),
      ChampionIndex.cachedChampions(s, dir),
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      topC = servingTopC(s, dir))

  /** SQL twin of [[fusePrep]]'s top-C cut: given a `vparts(q_id,
    * doc_id, vscore)` CTE and a keyword CTE `$kw(q_id, doc_id,
    * raw_score)`, emits the chain from the per-leg rank cuts through
    * the capped `joined` frame — the vector leg's top-C by (vscore
    * desc, doc_id), the keyword leg's top-C by (raw_score desc, doc_id)
    * over the candidate-restricted matches, their union as the fusion
    * domain. Uncapped oracles keep the plain LEFT-join `joined`.
    */
  private def cappedJoinedSqlCtes(topC: Int, kw: String = "scored"): String =
    s"""vtop AS (
       |  SELECT q_id, doc_id, vscore FROM (
       |    SELECT q_id, doc_id, vscore,
       |      row_number() OVER (PARTITION BY q_id ORDER BY vscore DESC, doc_id) AS vrn
       |    FROM vparts) vr
       |  WHERE vrn <= ${effectiveTopCSql(topC)}),
       |ktop AS (
       |  SELECT q_id, doc_id, raw_score FROM (
       |    SELECT s.q_id, s.doc_id, s.raw_score,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY s.raw_score DESC, s.doc_id) AS krn
       |    FROM $kw s
       |    WHERE EXISTS (SELECT 1 FROM vparts v
       |                  WHERE v.q_id = s.q_id AND v.doc_id = s.doc_id)) kr
       |  WHERE krn <= ${effectiveTopCSql(topC)}),
       |cand AS (
       |  SELECT q_id, doc_id, vscore FROM vtop
       |  UNION ALL
       |  SELECT v.q_id, v.doc_id, v.vscore
       |  FROM vparts v JOIN ktop t ON v.q_id = t.q_id AND v.doc_id = t.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM vtop w
       |                    WHERE w.q_id = v.q_id AND w.doc_id = v.doc_id)),
       |joined AS (
       |  SELECT cand.q_id, cand.doc_id, vscore,
       |    coalesce(t.raw_score, 0.0) AS kscore
       |  FROM cand LEFT JOIN ktop t
       |    ON cand.q_id = t.q_id AND cand.doc_id = t.doc_id)""".stripMargin

  /** Oracle for the doubly-pruned fusion: the champion keyword CTE
    * chain replaces the exact one inside the [[fusedBatchIvfSql]]
    * skeleton — same probed-cell candidate domain, with the per-leg
    * top-C cut ([[cappedJoinedSqlCtes]]) ahead of the coalesced
    * joined-frame normalization, replaying the engine's capped
    * [[fusePrep]].
    */
  def fusedBatchChampionSql(stride: Int = KeywordSearch.BatchStride,
                            nTerms: Int = KeywordSearch.BatchTerms,
                            nprobe: Int = IvfIndex.NProbe,
                            m: Int = ChampionIndex.M,
                            alpha: Double = Alpha, k: Int = BatchK): String =
    s"""WITH ${ChampionIndex.championScoredSqlCtes(stride, nTerms, m)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM embeddings e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |${cappedJoinedSqlCtes(topCFor(k))},
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)),
       |ranked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  val batchSearchChampionOracle: String = fusedBatchChampionSql()

  /** Doubly-pruned batch fusion over BOTH refreshable layouts — the
    * hybrid family completed on the refresh path: the vector leg probes
    * the refreshed IVF segments' merged centroids + live cells
    * ([[VectorRefresh.batchVparts]]), the keyword leg probes the
    * refreshed champion views with probe-time idf
    * ([[IndexRefresh.batchScoredSel]]), and the one shared fusion tail
    * normalizes and ranks — so a deployment that appends documents and
    * vectors daily serves its full hybrid workload with zero full
    * rebuilds and zero score staleness. Fusion semantics are
    * [[fusedBatchChampionSel]]'s (candidate domain = probed live cells,
    * keyword restricted to candidates, sparse stats + implicit-zero
    * clamp).
    */
  private[graft] def fusedBatchRefreshedPaths(s: SparkSession,
                                              kwPath: String, vecPath: String,
                                              currDocs: DataFrame,
                                              currEmbs: DataFrame,
                                              stride: Int = KeywordSearch.BatchStride,
                                              nTerms: Int = KeywordSearch.BatchTerms,
                                              nprobe: Int = IvfIndex.NProbe,
                                              alpha: Double = Alpha,
                                              k: Int = BatchK,
                                              asOf: Option[Int] = None,
                                              topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val queries = currEmbs.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val kparts = IndexRefresh.batchScoredSel(s, kwPath, currDocs,
      _.filter(col("doc_id") % stride === 0), nTerms, asOf)
    topC match {
      case Some(c) =>
        // r12: the same per-leg top-C serving cut as the champion
        // fusion — the live-cell fan-out feeds bounded map-side heaps
        // in ONE streaming pass and the normalize+fuse tail runs over
        // the ≤2C-per-query union instead of a corpus-fraction frame
        val (vcand, kcut) = cappedRefreshedParts(s, vecPath, queries,
          kparts, nprobe, asOf, c)
        fuseTail(vcand, kcut, alpha, k)
      case None =>
        // NOT materialized: the BATCH fan-out over the refreshed cells
        // is queries × corpus × nprobe/nlist rows — a constant FRACTION
        // of corpus × queries, i.e. the class a serving system never
        // persists (the fusePrep brute-force rule; the r11 48g OOM at
        // 100× was this frame's localCheckpoint). The declarative
        // shared exchange (ReusedExchange) carries the consumers.
        fuseTail(VectorRefresh.batchVparts(s, vecPath, queries, nprobe, asOf),
          kparts, alpha, k,
          restrictKwToCandidates = true, materializeCandidates = false)
    }
  }

  /** Driver query: the refreshed hybrid fusion over the standing
    * refreshed artifacts of a source dir.
    */
  def batchSearchRefreshed(s: SparkSession, dir: String): DataFrame =
    fusedBatchRefreshedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir),
      VectorRefresh.refreshedArtifact(s, dir),
      CorpusOps.currSnapshot(Tables.documents(s, dir)),
      VectorRefresh.currSnapshot(Tables.embeddings(s, dir)),
      topC = servingTopC(s, dir))

  /** DOUBLY-COMPRESSED batch fusion — the 100 TB serving form of the
    * hybrid family's VECTOR LEG completed: every prior fusion scores
    * its vector leg with full-precision cosine over the probed cells
    * (the exactness price `vector_search_batch_ivf` documents), while
    * the quantized serving tier (20e/20f) already serves pure-vector
    * pages from m-byte PQ codes. This form fuses the two compressed
    * artifacts directly: the vector leg is the batch ADC fan-out over
    * the refreshed quantized layout's STANDING code files
    * ([[VectorRefresh.batchAdcParts]] — IVF-probed cells via DPP, per-
    * query distance tables broadcast, no full-precision vector touched
    * past the query rows), the keyword leg is the refreshed champion
    * probe ([[IndexRefresh.batchScoredSel]]), and the fusion tail is
    * the house min-max normalize + alpha blend with vscore = −adc
    * (distance negated into a similarity; min-max normalization is the
    * same affine family either way, and the oracle replays the
    * negation literally). The per-leg top-C cut applies exactly as in
    * the champion fusion — heaps consume the ADC fan-out in one
    * streaming pass, dropped keyword winners recover their TRUE adc by
    * an ≤C·|Q| keyed re-lookup against the codes
    * ([[VectorRefresh.adcForKeys]]) — and is corpus-size-gated like
    * every capped path. Oracle: literal-codebook encode + ADC chain
    * composed with the full-rebuild champion chain and the capped
    * fusion tail, one statement.
    */
  private[graft] def fusedBatchQuantizedPaths(s: SparkSession,
                                              kwPath: String, vecPath: String,
                                              currDocs: DataFrame,
                                              stride: Int = KeywordSearch.BatchStride,
                                              nTerms: Int = KeywordSearch.BatchTerms,
                                              nprobe: Int = IvfIndex.NProbe,
                                              alpha: Double = Alpha,
                                              k: Int = BatchK,
                                              asOf: Option[Int] = None,
                                              topC: Option[Int] = Some(topCFor(BatchK))): DataFrame =
    fusedBatchQuantizedSel(s, kwPath, vecPath, currDocs,
      _.filter(col("vec_id") % stride === 0),
      _.filter(col("doc_id") % stride === 0),
      nTerms, nprobe, alpha, k, asOf, topC)

  /** [[fusedBatchQuantizedPaths]] over arbitrary query selectors — the
    * micro-batch serving entry: every score input is a standing
    * artifact (codes, codebook, merged centroids, champion views,
    * merged stats), so a query's fused page is identical whichever
    * micro-batch it arrives in (batch-split invariance).
    */
  private[graft] def fusedBatchQuantizedSel(s: SparkSession,
                                            kwPath: String, vecPath: String,
                                            currDocs: DataFrame,
                                            selectVecQueries: DataFrame => DataFrame,
                                            selectDocQueries: DataFrame => DataFrame,
                                            nTerms: Int = KeywordSearch.BatchTerms,
                                            nprobe: Int = IvfIndex.NProbe,
                                            alpha: Double = Alpha,
                                            k: Int = BatchK,
                                            asOf: Option[Int] = None,
                                            topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val queries = selectVecQueries(VectorRefresh.liveVectors(s, vecPath, asOf = asOf))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val kparts = IndexRefresh.batchScoredSel(s, kwPath, currDocs,
      selectDocQueries, nTerms, asOf)
    val (adcs, probed, tbls) =
      VectorRefresh.batchAdcParts(s, vecPath, queries, nprobe, asOf)
    val vparts = adcs.select(col("q_id"), col("vec_id").as("doc_id"),
      (-col("adc")).as("vscore"))
    topC match {
      case Some(c) =>
        val kdom = kparts
          .join(VectorRefresh.liveCodes(s, vecPath, None, asOf)
            .select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
          .join(broadcast(probed), Seq("q_id", "cell"), "semi")
          .filter(col("doc_id") =!= col("q_id"))
          .drop("cell")
        val (vcand, kcut) = cappedCut(vparts, kdom, extraKeys =>
          VectorRefresh.adcForKeys(s, vecPath, extraKeys, tbls, asOf)
            .select(col("q_id"), col("doc_id"), (-col("adc")).as("vscore")), c)
        fuseTail(vcand, kcut, alpha, k)
      case None =>
        fuseTail(vparts, kparts, alpha, k,
          restrictKwToCandidates = true, materializeCandidates = false)
    }
  }

  /** Driver query: the doubly-compressed fusion over the standing
    * refreshed artifacts (quantized vector layout + keyword views) of
    * a source dir.
    */
  def batchSearchQuantizedFused(s: SparkSession, dir: String): DataFrame = {
    val vecPath = VectorRefresh.quantizedArtifact(s, dir)
    VectorRefresh.captureQuantModel(s, vecPath)
    fusedBatchQuantizedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir), vecPath,
      CorpusOps.currSnapshot(Tables.documents(s, dir)),
      topC = servingTopC(s, dir))
  }

  /** Driver query: the doubly-compressed fusion TIME-TRAVELED — both
    * compressed layouts pinned AS OF segment 0 (pinned merged
    * centroids, pinned live codes, pinned champion views and stats;
    * the codebook is the standing artifact in every pinned state
    * because refresh never retrains, so ADC arithmetic time-travels
    * for free). Completes the as-of grid for the quantized fusion the
    * way 15h did for the full-precision one. Oracle replays the
    * literal-codebook ADC chain + champion chain + capped tail on the
    * PREVIOUS snapshots of both tables.
    */
  def batchSearchQuantizedFusedAsOf(s: SparkSession, dir: String): DataFrame = {
    val vecPath = VectorRefresh.quantizedArtifact(s, dir)
    VectorRefresh.captureQuantModel(s, vecPath)
    fusedBatchQuantizedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir), vecPath,
      CorpusOps.prevSnapshot(Tables.documents(s, dir)),
      asOf = Some(0),
      topC = servingTopC(s, dir))
  }

  /** Driver query: the hybrid fusion TIME-TRAVELED — both layouts
    * pinned AS OF segment 0, queries drawn from the pinned corpus
    * state ([[IndexRefresh.qSearchAsOf]]'s contract completed across
    * the whole search surface: keyword 13l, vector 20c, hybrid here).
    * Oracle replays the full two-leg fusion chain on the PREVIOUS
    * snapshots of both tables.
    */
  def batchSearchRefreshedAsOf(s: SparkSession, dir: String): DataFrame =
    fusedBatchRefreshedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir),
      VectorRefresh.refreshedArtifact(s, dir),
      CorpusOps.prevSnapshot(Tables.documents(s, dir)),
      VectorRefresh.prevSnapshot(Tables.embeddings(s, dir)),
      asOf = Some(0),
      topC = servingTopC(s, dir))

  /** Driver query: [[batchSearchRefreshed]] over COMPACTED artifacts —
    * the LSM read-amplification remedy measured: the multi-segment
    * serving views pay a per-view segment union + tombstone anti-join,
    * and compaction folds both layouts back to single-segment bases
    * (bitwise-equal views, spec-pinned), restoring single-read probe
    * cost. Registered under the SAME oracle as the refreshed fusion —
    * compaction must be invisible in every served result.
    */
  def batchSearchRefreshedCompacted(s: SparkSession, dir: String): DataFrame = {
    val kwC = IndexCache.getOrBuild("kw_refresh_compact", dir)(
      IndexRefresh.compact(s, IndexRefresh.refreshedArtifact(s, dir), _))
    val vecC = IndexCache.getOrBuild("ivf_refresh_compact", dir)(
      VectorRefresh.compact(s, VectorRefresh.refreshedArtifact(s, dir), _))
    fusedBatchRefreshedPaths(s, kwC, vecC,
      CorpusOps.currSnapshot(Tables.documents(s, dir)),
      VectorRefresh.currSnapshot(Tables.embeddings(s, dir)),
      topC = servingTopC(s, dir))
  }

  /** Oracle for the refreshed fusion: full rebuild of BOTH layouts over
    * the current snapshots — tf-cut champion keyword scoring with
    * probe-time idf (the [[IndexRefresh.refreshBatchSearchSql]] chain,
    * unrounded sum of 6dp contributions), label-cell IVF probing over
    * the current embeddings, the coalesced joined-frame normalization.
    */
  def fusedBatchRefreshedSql(stride: Int = KeywordSearch.BatchStride,
                             nTerms: Int = KeywordSearch.BatchTerms,
                             nprobe: Int = IvfIndex.NProbe,
                             m: Int = IndexRefresh.M,
                             alpha: Double = Alpha, k: Int = BatchK,
                             prevSnapshot: Boolean = false): String = {
    import KeywordSearch.{K1, B}
    // prevSnapshot: the as-of-0 oracle — both tables' PRE-refresh
    // states (the CorpusOps / VectorRefresh stride conventions)
    val snapCtes =
      if (prevSnapshot)
        s"""currd AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % ${CorpusOps.DiffChangeStride} = 4
           |      THEN text || ' rev1' ELSE text END AS text,
           |    source, lang
           |  FROM documents WHERE doc_id % ${CorpusOps.DiffAddStride} <> 5),
           |curre AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % ${CorpusOps.DiffChangeStride} = 4
           |      THEN list_transform(embedding, x -> -x) ELSE embedding END AS embedding,
           |    label
           |  FROM embeddings WHERE vec_id % ${CorpusOps.DiffAddStride} <> 5)""".stripMargin
      else
        s"""currd AS (
           |  SELECT * FROM documents WHERE doc_id % ${CorpusOps.DiffRemoveStride} <> 3),
           |curre AS (
           |  SELECT * FROM embeddings WHERE vec_id % ${CorpusOps.DiffRemoveStride} <> 3)""".stripMargin
    s"""WITH $snapCtes,
       |toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM currd),
       |postings AS (
       |  SELECT term, doc_id, count(*) AS tf FROM toked GROUP BY 1, 2),
       |docstats AS (
       |  SELECT doc_id, CAST(len(${TextAnalysis.sqlToks}) AS DOUBLE) AS dl
       |  FROM currd),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docstats),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |champs AS (
       |  SELECT term, doc_id, tf, dl FROM (
       |    SELECT p.term, p.doc_id, p.tf, d.dl,
       |      row_number() OVER (PARTITION BY p.term
       |        ORDER BY p.tf DESC, d.dl ASC, p.doc_id ASC) AS crn
       |    FROM postings p JOIN docstats d USING (doc_id))
       |  WHERE crn <= $m),
       |qtoks AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(${TextAnalysis.sqlToks})) AS term
       |  FROM currd WHERE doc_id % $stride = 0),
       |qterms AS (
       |  SELECT q_id, substring(p, 12, 1000) AS term
       |  FROM (
       |    SELECT q_id, unnest(
       |      (list_sort(list(lpad(CAST(df AS VARCHAR), 10, '0') || '#' || term)))[1:$nTerms]) AS p
       |    FROM qtoks JOIN dict USING (term)
       |    GROUP BY q_id)),
       |scored AS (
       |  SELECT q_id, c.doc_id,
       |    CAST(sum(CAST(floor(
       |      round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(dict.df AS DOUBLE) + 0.5) / (CAST(dict.df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * ${K1 + 1})
       |      / (CAST(tf AS DOUBLE) + $K1 * (1 - $B + $B * dl / avgdl)), 6)
       |      * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS raw_score
       |  FROM champs c
       |  JOIN qterms USING (term)
       |  JOIN dict USING (term), stats
       |  WHERE c.doc_id <> q_id
       |  GROUP BY q_id, c.doc_id),
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM curre WHERE vec_id % $stride = 0),
       |cexp AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS ev
       |  FROM curre),
       |cent AS (
       |  SELECT cell, list(cv ORDER BY dim) AS centroid
       |  FROM (SELECT cell, dim, avg(ev) AS cv FROM cexp GROUP BY 1, 2) t
       |  GROUP BY cell),
       |cscored AS (
       |  SELECT q_id, cell,
       |    round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) AS cscore
       |  FROM cent, queries),
       |probed AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q_id, cell,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, cell) AS crn
       |    FROM cscored) t
       |  WHERE crn <= $nprobe),
       |vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM curre e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |${cappedJoinedSqlCtes(topCFor(k))},
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)),
       |ranked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin
  }

  val batchSearchRefreshedOracle: String = fusedBatchRefreshedSql()

  /** Oracle for [[batchSearchQuantizedFused]]: the literal-codebook
    * encode + ADC chain ([[VectorRefresh.batchQuantizedAdcCtes]] over
    * the current embeddings snapshot), the full-rebuild tf-cut
    * champion keyword chain over the current documents snapshot,
    * vscore = −adc, and the capped fusion tail — ONE statement. A
    * `def` under the capture convention (the engine's codebook is
    * dumped after the queries run).
    */
  def batchSearchQuantizedFusedOracle: String =
    VectorRefresh.capturedQuantModel.fold(
      "SELECT pq_refresh_model_not_captured FROM embeddings")(
      fusedBatchQuantizedSql(_))

  /** Oracle for [[batchSearchQuantizedFusedAsOf]] (capture convention). */
  def batchSearchQuantizedFusedAsOfOracle: String =
    VectorRefresh.capturedQuantModel.fold(
      "SELECT pq_refresh_model_not_captured FROM embeddings")(
      fusedBatchQuantizedSql(_, prevSnapshot = true))

  private[graft] def fusedBatchQuantizedSql(
      model: ProductQuantizer.Model,
      stride: Int = KeywordSearch.BatchStride,
      nTerms: Int = KeywordSearch.BatchTerms,
      nprobe: Int = IvfIndex.NProbe,
      m: Int = IndexRefresh.M,
      alpha: Double = Alpha, k: Int = BatchK,
      prevSnapshot: Boolean = false): String = {
    import KeywordSearch.{K1, B}
    // prevSnapshot: the as-of-0 oracle — both tables' PRE-refresh
    // states (the fusedBatchRefreshedSql snapshot convention)
    val snapCtes =
      if (prevSnapshot)
        s"""currd AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % ${CorpusOps.DiffChangeStride} = 4
           |      THEN text || ' rev1' ELSE text END AS text,
           |    source, lang
           |  FROM documents WHERE doc_id % ${CorpusOps.DiffAddStride} <> 5),
           |curre AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % ${CorpusOps.DiffChangeStride} = 4
           |      THEN list_transform(embedding, x -> -x) ELSE embedding END AS embedding,
           |    label
           |  FROM embeddings WHERE vec_id % ${CorpusOps.DiffAddStride} <> 5)""".stripMargin
      else
        s"""currd AS (
           |  SELECT * FROM documents WHERE doc_id % ${CorpusOps.DiffRemoveStride} <> 3),
           |curre AS (
           |  SELECT * FROM embeddings WHERE vec_id % ${CorpusOps.DiffRemoveStride} <> 3)""".stripMargin
    s"""WITH $snapCtes,
       |toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM currd),
       |postings AS (
       |  SELECT term, doc_id, count(*) AS tf FROM toked GROUP BY 1, 2),
       |docstats AS (
       |  SELECT doc_id, CAST(len(${TextAnalysis.sqlToks}) AS DOUBLE) AS dl
       |  FROM currd),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docstats),
       |dict AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
       |champs AS (
       |  SELECT term, doc_id, tf, dl FROM (
       |    SELECT p.term, p.doc_id, p.tf, d.dl,
       |      row_number() OVER (PARTITION BY p.term
       |        ORDER BY p.tf DESC, d.dl ASC, p.doc_id ASC) AS crn
       |    FROM postings p JOIN docstats d USING (doc_id))
       |  WHERE crn <= $m),
       |qtoks AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(${TextAnalysis.sqlToks})) AS term
       |  FROM currd WHERE doc_id % $stride = 0),
       |qterms AS (
       |  SELECT q_id, substring(p, 12, 1000) AS term
       |  FROM (
       |    SELECT q_id, unnest(
       |      (list_sort(list(lpad(CAST(df AS VARCHAR), 10, '0') || '#' || term)))[1:$nTerms]) AS p
       |    FROM qtoks JOIN dict USING (term)
       |    GROUP BY q_id)),
       |scored AS (
       |  SELECT q_id, c.doc_id,
       |    CAST(sum(CAST(floor(
       |      round(ln(1 + (CAST(n_docs AS DOUBLE) - CAST(dict.df AS DOUBLE) + 0.5) / (CAST(dict.df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * ${K1 + 1})
       |      / (CAST(tf AS DOUBLE) + $K1 * (1 - $B + $B * dl / avgdl)), 6)
       |      * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS raw_score
       |  FROM champs c
       |  JOIN qterms USING (term)
       |  JOIN dict USING (term), stats
       |  WHERE c.doc_id <> q_id
       |  GROUP BY q_id, c.doc_id),
       |${VectorRefresh.batchQuantizedAdcCtes(model, stride, nprobe, "curre")},
       |vparts AS (
       |  SELECT q_id, vec_id AS doc_id, -adc AS vscore FROM adcs),
       |${cappedJoinedSqlCtes(topCFor(k))},
       |qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |fusedt AS (
       |  SELECT q_id, doc_id,
       |    round($alpha * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + ${1 - alpha} * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)),
       |ranked AS (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
       |  FROM fusedt
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin
  }
  /** Oracle for [[batchSearchRefreshedAsOf]]: the same two-leg fusion
    * chain on the PREVIOUS snapshots of both tables.
    */
  val batchSearchRefreshedAsOfOracle: String =
    fusedBatchRefreshedSql(prevSnapshot = true)

  def search(s: SparkSession, dir: String): DataFrame =
    fused(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.QueryTerms, VectorSearch.QueryVecId)

  val searchOracle: String =
    fusedSql(KeywordSearch.QueryTerms, VectorSearch.QueryVecId)

  /** Metadata-filtered hybrid search (reference `hybrid_search`
    * `filters=` arg, L433): the filter prunes the corpus before BOTH
    * signals; normalization stats are computed over the filtered corpus
    * (same documented divergence as the BM25 filters).
    */
  def searchFiltered(s: SparkSession, dir: String): DataFrame =
    fused(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.QueryTerms, VectorSearch.QueryVecId,
      docFilter = col("lang") === "en")

  val searchFilteredOracle: String =
    fusedSql(KeywordSearch.QueryTerms, VectorSearch.QueryVecId,
      whereSql = "WHERE lang = 'en'")
}
