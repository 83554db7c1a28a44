package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid (keyword + vector) search with relative-score fusion — the
  * Spark-native `hybrid_search` (reference
  * `src/database/weaviate_interface_v4.py:308-361`): BM25 and cosine
  * scores are min-max normalized and combined as
  * `alpha * vector + (1 - alpha) * keyword` (alpha=0 pure BM25, alpha=1
  * pure vector — reference docstring L330-335).
  *
  * Single-query exact forms ([[fused]], [[fusedRrf]]): one scan computes
  * both signals (documents⋈embeddings is a co-partitioned 1:1 key join);
  * min/max normalization is a single-row aggregate broadcast back.
  *
  * Batch forms are ONE vector leg ([[VecLeg]]) and one keyword leg
  * `(q_id, doc_id, raw_score)` fed to one prep ([[fusePrep]], capped by
  * the per-leg top-C cut or not) and one tail keyed by `q_id` (or `m,
  * q_id` for the depth sweep) over one alpha or an alpha list
  * ([[fuse]]). An alpha or depth sweep is one more key on the same
  * candidate set, not another copy of the tail. Request forms have one
  * query and a candidate set bounded by nprobe cells plus |terms|·M
  * champion rows, so their tail ([[fuseRequest]]) is one aggregation
  * over that set:
  *
  * | entry | vector leg | keyword leg | capped by `servingTopC`? | candidates materialized? |
  * |---|---|---|---|---|
  * | `fusedBatchSel`, `fusedBatchSweepSel` | brute fan-out | exact BM25 | no | no |
  * | `fusedBatchIvfSel` | probed cells | exact BM25 | no | with a standing postings index |
  * | `fusedBatchChampionSel`, `…SweepSel`, `…DepthSweepSel` | probed cells | champion lists | yes | yes, uncapped |
  * | `fusedBatchRefreshedPaths` | probed live cells | refreshed champions | yes | no |
  * | `fusedBatchQuantizedSel` | ADC over codes | refreshed champions | yes | no |
  * | `fusedPrunedWithQuery` | probed cells | champion impacts | no | no: read once by one aggregation |
  * | `fusedRefreshedWithQuery` | probed live cells | refreshed champions | no | no: read once by one aggregation |
  * | `fusedQuantizedWithQuery` | ADC over codes | refreshed champions | no | no: read once by one aggregation |
  *
  * Pruned legs restrict keyword parts to their candidates; the brute
  * leg to the embedded universe. The SQL oracles mirror the split:
  * prefix CTEs ending in `joined`, then one [[fuseTailSql]].
  */
object HybridSearch {
  val Alpha = 0.5
  val TopK = 10

  def fused(docs: DataFrame, embs: DataFrame, terms: Seq[String],
            queryVecId: Long, alpha: Double = Alpha, k: Int = TopK,
            docFilter: Column = lit(true)): DataFrame =
    fusedWithQuery(docs, embs, terms, QueryVec.Frame(
      embs.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))),
      alpha, k, docFilter)

  /** The fused score of a row carrying `vscore`, `kscore` and its
    * normalization range `vmin`, `vmax`, `kmin`, `kmax`: literal
    * `alpha` / `1−alpha` factors, a zero range divides by 1, 4dp. Every
    * fusion form ranks by this one expression.
    */
  private def fusedScore(a: Double, vscore: Column = col("vscore"),
                         kscore: Column = col("kscore")): Column = round(
    lit(a) * (vscore - col("vmin")) /
      when(col("vmax") === col("vmin"), 1.0).otherwise(col("vmax") - col("vmin")) +
      lit(1 - a) * (kscore - col("kmin")) /
        when(col("kmax") === col("kmin"), 1.0).otherwise(col("kmax") - col("kmin")),
    4)

  /** [[fused]] for one query vector — the entry the client facade uses
    * with an embedded request string ([[graft.GraftClient.hybridSearch]]).
    *
    * Three passes read one `base`: the corpus stats (n_docs, avgdl, df),
    * then the keyword and vector ranges over the BM25-scored rows, then
    * the top-k. The vector score is computed before tokenization and
    * kept as a grouping key of the per-document term counts, so every
    * pass needs the same columns of the same aggregation. Column
    * pruning therefore leaves the three subtrees identical, and the
    * term-count exchange and the stats broadcast are each computed
    * once and reused. Both global aggregates stay distributed (partial,
    * then one row per task).
    */
  private[graft] def fusedWithQuery(docs: DataFrame, embs: DataFrame,
                                    terms: Seq[String], q: QueryVec,
                                    alpha: Double = Alpha, k: Int = TopK,
                                    docFilter: Column = lit(true)): DataFrame = {
    val counts = KeywordSearch.termCounts(terms)
    val base = q.attach(docs.filter(docFilter)
        .join(embs.select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id")))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))
      .select(col("doc_id"), col("source"), col("lang"), col("vscore"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "source", "lang", "vscore")
      .agg(counts.head, counts.tail: _*)
    val aggCols = count(lit(1)).as("n_docs") +: avg("dl").as("avgdl") +:
      terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.join(broadcast(stats))
      .withColumn("kscore", KeywordSearch.bm25ScoreCol(terms))
    val ranges = scored.agg(min("kscore").as("kmin"), max("kscore").as("kmax"),
      min("vscore").as("vmin"), max("vscore").as("vmax"))
    scored.join(broadcast(ranges))
      .select(col("doc_id"), col("source"), fusedScore(alpha).as("score"))
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

  // --- batch and request fusion: vector legs + one keyed tail ------------

  val BatchK = 5

  /** The per-(query, leg) candidate bound for capped fusion paths (see
    * [[cappedCut]]): C = 4·k keeps every plausible fused winner (a doc
    * outside BOTH legs' top-4k cannot reach the fused top-k at any alpha
    * unless ≥3k stronger candidates tie it out of both lists) while
    * making the normalize+fuse tail O(C·|Q|) instead of
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

  /** The golden query set of the batch forms: every
    * [[KeywordSearch.BatchStride]]-th id (vector side keys on vec_id,
    * keyword side on doc_id).
    */
  private def everyStride(id: String): DataFrame => DataFrame =
    _.filter(col(id) % KeywordSearch.BatchStride === 0)

  private def queriesOf(embs: DataFrame): DataFrame =
    embs.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** One vector leg of the fusion:
    *   - `vparts` — the `(q_id, doc_id, vscore)` candidate fan-out;
    *   - `kwDomain` — keyword parts restricted to the leg's candidate
    *     domain without reading the fan-out (cell membership against
    *     the broadcast probe pairs; the brute leg's embedded universe);
    *   - `rescore` — the true vscore of `(q_id, doc_id)` keys the
    *     vector cut dropped (same expression over the same rows, so
    *     bitwise the fan-out's);
    *   - `pruned` — the uncapped prep restricts keyword parts by a
    *     semi-join on the post-exchange candidate frame (a third
    *     ReusedExchange consumer, not a recompute of the fan-out)
    *     instead of `kwDomain`;
    *   - `materialize` — the bounded candidate frame and the restricted
    *     keyword parts are materialized once (eager query-scoped
    *     checkpoints, drained by the batch harnesses between queries).
    *     Only batch fan-outs bounded per query earn it: a batch over
    *     refreshed cells is queries × corpus × nprobe/nlist rows — the
    *     class a serving system never persists (the r11 48g OOM at 100×
    *     was that frame's localCheckpoint). Request forms never
    *     materialize: [[fuseRequest]] reads its candidates once, so a
    *     checkpoint would only add two executions to the request's
    *     build and a frame that no serving process releases.
    */
  private final case class VecLeg(vparts: DataFrame,
                                  kwDomain: DataFrame => DataFrame,
                                  rescore: DataFrame => DataFrame,
                                  pruned: Boolean = true,
                                  materialize: Boolean = false)

  private def cosineRescore(corpus: DataFrame, queries: DataFrame)
                           (keys: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(keys.join(queries, Seq("q_id"))), Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        cosineSim(col("embedding"), col("q_emb")).as("vscore"))

  /** Keyword parts whose doc lies in one of its query's probed cells —
    * a featherweight column-pruned pass over `docCells(doc_id, cell)`,
    * not a semi-join against the fan-out.
    */
  private def inProbedCells(docCells: => DataFrame, probed: DataFrame)
                           (kparts: DataFrame): DataFrame =
    kparts.join(docCells, Seq("doc_id"))
      .join(broadcast(probed), Seq("q_id", "cell"), "semi")
      .filter(col("doc_id") =!= col("q_id"))
      .drop("cell")

  /** The brute-force leg: every query fans out over the whole embedded
    * corpus. Keyword scores are restricted to the EMBEDDED universe: the
    * corpora are not guaranteed 1:1 (sf0.1 testdata: 5000 documents,
    * 2000 embeddings), and an un-embedded document's keyword match must
    * contribute to neither the fusion nor the normalization stats
    * (caught by the sf0.1 oracle run: sparse stats over all documents
    * skewed kmax and every fused score with it).
    */
  private def bruteLeg(embs: DataFrame, queries: DataFrame): VecLeg =
    VecLeg(
      Tables.parallel(embs)
        .join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("doc_id"),
          cosineSim(col("embedding"), col("q_emb")).as("vscore")),
      _.join(embs.select(col("vec_id").as("doc_id")), Seq("doc_id"), "semi"),
      cosineRescore(embs, queries), pruned = false)

  /** The probed-cell leg over `corpus(vec_id, cell, embedding)`: each
    * query's cosine fan-out over its probed cells only. Query embeddings
    * are folded into the probe frame (|Q|·nprobe rows) before the
    * fan-out — ONE broadcast hash probe on the corpus stream instead of
    * a cell probe plus a q_id probe (guide §2.3/§3.1). `spread` re-slices
    * a standing table's scan ([[Tables.parallel]]).
    */
  private def cellLeg(corpus: DataFrame, probed: DataFrame, queries: DataFrame,
                      spread: Boolean, materialize: Boolean): VecLeg =
    VecLeg(
      (if (spread) Tables.parallel(corpus) else corpus)
        .join(broadcast(probed.join(queries, Seq("q_id"))), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("doc_id"),
          cosineSim(col("embedding"), col("q_emb")).as("vscore")),
      inProbedCells(corpus.select(col("vec_id").as("doc_id"), col("cell")), probed),
      cosineRescore(corpus, queries), materialize = materialize)

  /** Probed cells of the standing embeddings, off the standing centroids
    * when given ([[IvfIndex.batchProbedCellsFrom]]) or derived inline.
    */
  private def ivfLeg(embs: DataFrame, queries: DataFrame, nprobe: Int,
                     centroids: Option[DataFrame],
                     materialize: Boolean = true): VecLeg =
    cellLeg(embs.withColumnRenamed("label", "cell"),
      centroids.fold(IvfIndex.batchProbedCells(embs, queries, nprobe))(
        IvfIndex.batchProbedCellsFrom(_, queries, nprobe)),
      queries, spread = true, materialize)

  /** Probed LIVE cells of a refreshed vector layout: cells ranked against
    * the merged serving centroids, live vectors of those cells only;
    * `asOf` pins both.
    */
  private def liveLeg(s: SparkSession, vecPath: String, queries: DataFrame,
                      nprobe: Int, asOf: Option[Int]): VecLeg = {
    val probed = IvfIndex.batchProbedCellsFrom(
      VectorRefresh.servingCentroidView(s, vecPath, asOf), queries, nprobe)
    cellLeg(VectorRefresh.liveVectors(s, vecPath, asOf = asOf), probed,
      queries, spread = false, materialize = false)
  }

  /** The ADC leg over a quantized layout's standing codes
    * ([[VectorRefresh.batchAdcParts]]): vscore = −adc (distance negated
    * into a similarity; min-max normalization is the same affine family
    * either way, and the oracle replays the negation literally); dropped
    * keyword winners recover their TRUE adc by a keyed re-lookup
    * ([[VectorRefresh.adcForKeys]]); cell membership reads the live
    * codes' (vec_id, cell) projection.
    */
  private def adcLeg(s: SparkSession, vecPath: String, queries: DataFrame,
                     nprobe: Int, asOf: Option[Int]): VecLeg = {
    val (adcs, probed, tbls) =
      VectorRefresh.batchAdcParts(s, vecPath, queries, nprobe, asOf)
    VecLeg(adcs.select(col("q_id"), col("vec_id").as("doc_id"),
        (-col("adc")).as("vscore")),
      inProbedCells(VectorRefresh.liveCodes(s, vecPath, None, asOf)
        .select(col("vec_id").as("doc_id"), col("cell")), probed),
      keys => VectorRefresh.adcForKeys(s, vecPath, keys, tbls, asOf)
        .select(col("q_id"), col("doc_id"), (-col("adc")).as("vscore")))
  }

  /** Fuse a vector leg with sparse keyword parts `(q_id[, m], doc_id,
    * raw_score)` and rank: [[fusePrep]] then the tail — one bounded heap
    * per key at `alpha`, or, given `alphas`, |alphas| heaps side by side
    * in ONE `groupBy` (the candidate frame is never replicated
    * ×|alphas|), unpivoted to `(alpha, q_id, rn, doc_id, score)`. `ms`
    * (champion depths; the keyword parts carry `m`) adds the depth key:
    * `(m, q_id, rn, doc_id, score)`. Per-alpha arithmetic uses literal
    * `alpha` / `1−alpha` factors — bit-identical across the single and
    * swept forms and to the column-alpha oracle.
    */
  private def fuse(leg: VecLeg, kparts: DataFrame, topC: Option[Int],
                   alpha: Double, k: Int, alphas: Option[Seq[Double]] = None,
                   ms: Option[Seq[Int]] = None): DataFrame = {
    val keys = ms.fold(Seq("q_id"))(_ => Seq("m", "q_id"))
    val kc = keys.map(col)
    val (joined, qstats) = fusePrep(leg, kparts, topC,
      ms.map(ChampionIndex.msFrame(kparts.sparkSession, _)))
    // heaps unpivot to one row per (lead keys, rank)
    def ranked(heaps: DataFrame, lead: Seq[Column], top: Column, out: Seq[Column]) =
      heaps.select(lead :+ posexplode(top).as(Seq("i", "t")): _*)
        .select(out ++ Seq((col("i") + 1).as("rn"), col("t.id").as("doc_id"),
          col("t.score").as("score")): _*)
    val scored = joined.join(broadcast(qstats), keys)
    alphas match {
      case None =>
        ranked(scored.select(kc :+ col("doc_id") :+ fusedScore(alpha).as("fs"): _*)
          .groupBy(kc: _*)
          .agg(topKByScore(col("fs"), col("doc_id"), k).as("top")),
          kc, col("top"), kc)
          .orderBy(kc :+ col("rn"): _*)
      case Some(as) =>
        val heaps = as.zipWithIndex.map { case (a, i) =>
          topKByScore(fusedScore(a), col("doc_id"), k).as(s"top_$i") }
        ranked(scored.groupBy(kc: _*).agg(heaps.head, heaps.tail: _*)
          .select(kc :+ explode(array(as.zipWithIndex.map { case (a, i) =>
            struct(lit(a).as("alpha"), col(s"top_$i").as("top")) }: _*)).as("slice"): _*),
          kc :+ col("slice.alpha").as("alpha"), col("slice.top"), col("alpha") +: kc)
          .orderBy((col("alpha") +: kc) :+ col("rn"): _*)
    }
  }

  /** The ONE normalize-and-join prep of every batch and request fusion:
    * `(joined(keys, doc_id, vscore, kscore), qstats(keys, vmin, vmax,
    * kmin, kmax))`.
    *
    * Uncapped (`topC = None`): the candidate frame goes behind ONE
    * explicit (q_id, doc_id) exchange that every consumer reuses (stats
    * aggregate, fusion join, keyword restriction), so the fan-out is
    * computed and shuffled exactly once — (q_id, doc_id), NOT q_id
    * alone: a brute fan-out holds ~|corpus| rows per query. The
    * explicit not-null filters keep every consumer's subtree
    * canonically identical (the join branch would otherwise push
    * IsNotNull below the exchange asymmetrically and defeat
    * ReusedExchange — the recorded lm-bigram failure mode). A
    * `materialize` leg checkpoints the frame once instead (eager vs lazy
    * A/B-measured in r9: the two eager barriers cost nothing detectable
    * at micro-batch scale, and they guarantee exactly-once computation
    * where a lazy persist races concurrent consumers). With `ms` the
    * candidate frame is replicated per depth for the join against the
    * per-m keyword frames — bounded by the toy corpus that runs uncapped.
    *
    * Capped (`Some(c)`): [[cappedCut]] first, then the ≤2C-per-query
    * union behind the same exchange (per-depth frames skip it: they are
    * bounded and already keyed by (m, q_id)).
    *
    * Normalization: vector min/max over the candidate set; keyword
    * min/max from the SPARSE matched rows, range clamped to include the
    * implicit 0 whenever a candidate matched no query term
    * (n_matched < n_cand), all-zeros when nothing matched.
    */
  private def fusePrep(leg: VecLeg, kparts: DataFrame, topC: Option[Int],
                       ms: Option[DataFrame]): (DataFrame, DataFrame) = {
    val keys = ms.fold(Seq("q_id"))(_ => Seq("m", "q_id"))
    def exchanged(vparts: DataFrame, materialize: Boolean) = {
      val v = vparts.filter(col("q_id").isNotNull && col("doc_id").isNotNull)
        .repartition(col("q_id"), col("doc_id"))
      if (materialize) Checkpoints.transient_(v) else v
    }
    val (vcand, kcand) = topC match {
      case Some(c) =>
        val (v, kcut) = cappedCut(leg, kparts, c, ms)
        (if (ms.isDefined) v else exchanged(v, materialize = false), kcut)
      case None =>
        val v = exchanged(leg.vparts, leg.materialize)
        val k =
          if (leg.pruned)
            kparts.join(v.select(col("q_id"), col("doc_id")),
              Seq("q_id", "doc_id"), "semi")
          else leg.kwDomain(kparts)
        (ms.fold(v)(m => v.join(broadcast(m)).select("m", "q_id", "doc_id", "vscore")),
          if (leg.materialize) Checkpoints.transient_(k) else k)
    }
    val vstats = vcand.groupBy(keys.head, keys.tail: _*)
      .agg(min("vscore").as("vmin"), max("vscore").as("vmax"),
        count(col("doc_id")).as("n_cand"))
    val kagg = kcand.groupBy(keys.head, keys.tail: _*)
      .agg(min("raw_score").as("krmin"), max("raw_score").as("krmax"),
        count(col("doc_id")).as("n_matched"))
    val qstats = vstats.join(kagg, keys, "left")
      .select(keys.map(col) ++ Seq(col("vmin"), col("vmax"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), least(col("krmin"), lit(0.0)))
          .otherwise(col("krmin")).as("kmin"),
        when(col("n_matched").isNull, lit(0.0))
          .when(col("n_matched") < col("n_cand"), greatest(col("krmax"), lit(0.0)))
          .otherwise(col("krmax")).as("kmax")): _*)
    val joined = vcand.join(kcand, keys :+ "doc_id", "left")
      .withColumn("kscore", coalesce(col("raw_score"), lit(0.0)))
    (joined, qstats)
  }

  /** The per-(q_id, leg) top-C serving cut — the 100 TB shape: the
    * vector fan-out is consumed by EXACTLY ONE streaming pass into
    * bounded map-side heaps (partial [[graft.functions.VectorFunctions
    * .topKByScore]] per q_id ahead of the q_id exchange, so the shuffle
    * carries ≤C rows per query per task), and it is NEVER materialized,
    * exchanged whole, or probed a second time — the r11 capped form
    * checkpointed and semi-join-probed the full frame, which
    * re-introduced the corpus-fraction-checkpoint failure mode (executor
    * OOM at 100×). The two other uses of the frame come from the leg's
    * bounded artifacts instead: the keyword candidate restriction is
    * `kwDomain` (cell membership), and keyword winners the vector cut
    * dropped recover their vscore through `rescore` for the ≤C·|Q|
    * missing pairs. Output: the ≤2C-per-query vector union and the
    * keyword cut (⊆ its keys), so the prep's stats/clamp/join semantics
    * are unchanged and the SQL oracle ([[cappedJoinedSqlCtes]]) replays
    * it row-for-row. With `ms` the vector cut is depth-independent and
    * computed once; keyword cuts are per (m, q_id), and dropped winners
    * are re-scored once per DISTINCT (q_id, doc_id) pair, then
    * re-attached to their depths — ≤C·|Q| pairs regardless of |ms|.
    */
  private def cappedCut(leg: VecLeg, kparts: DataFrame, c: Int,
                        ms: Option[DataFrame]): (DataFrame, DataFrame) = {
    def heap(df: DataFrame, keys: Seq[String], score: String) =
      df.groupBy(keys.head, keys.tail: _*)
        .agg(topKByScore(col(score), col("doc_id"), c).as("top"))
        .select(keys.map(col) :+ explode(col("top")).as("t"): _*)
        .select(keys.map(col) ++ Seq(col("t.id").as("doc_id"),
          col("t.score").as(score)): _*)
    val keys = ms.fold(Seq("q_id"))(_ => Seq("m", "q_id"))
    val on = keys :+ "doc_id"
    val vcut = heap(leg.vparts, Seq("q_id"), "vscore")
    val kcut = heap(leg.kwDomain(kparts), keys, "raw_score")
    val vcutK = ms.fold(vcut)(m => vcut.join(broadcast(m)))
    val extraKeys = kcut.join(vcutK, on, "anti").select(on.map(col): _*)
    val vcand = ms match {
      case None => vcut.unionByName(leg.rescore(extraKeys))
      case Some(_) =>
        val extraV = leg.rescore(extraKeys.select("q_id", "doc_id").distinct())
        vcutK.select("m", "q_id", "doc_id", "vscore")
          .unionByName(broadcast(extraKeys).join(extraV, Seq("q_id", "doc_id"))
            .select("m", "q_id", "doc_id", "vscore"))
    }
    (vcand, kcut)
  }

  // --- batch entries ---

  /** Multi-query hybrid search in one composition — completes the batch
    * triad (vector [[VectorSearch.batchTopK]], keyword
    * [[KeywordSearch.bm25Batch]], hybrid here). Per golden query (its
    * embedding + its rarest corpus tokens), both signals fan out once —
    * the brute vector leg over the broadcast query batch, the keyword
    * side through the shared postings pass — LEFT-join on (q_id,
    * doc_id) (docs matching no query term carry kscore 0, exactly the
    * single-query `base` semantics), min-max normalize PER QUERY, fuse
    * with alpha, rank through the bounded heap. Same normalization
    * semantics as [[fused]], over the self-excluded corpus. The
    * selectors pick the queries (the micro-batch serving path passes
    * broadcast semi-joins of its id frame — [[KeywordSearch
    * .batchKwRawSel]]); normalization stats are per query and corpus
    * stats global, so a query's fused scores are batch-split invariant.
    */
  private[graft] def fusedBatchSel(docs: DataFrame, embs: DataFrame,
                                   selectVecQueries: DataFrame => DataFrame = everyStride("vec_id"),
                                   selectDocQueries: DataFrame => DataFrame = everyStride("doc_id"),
                                   nTerms: Int = KeywordSearch.BatchTerms,
                                   alpha: Double = Alpha,
                                   k: Int = BatchK,
                                   kwIndex: Option[DataFrame] = None,
                                   kwDict: Option[DataFrame] = None,
                                   kwStats: Option[DataFrame] = None): DataFrame =
    fuse(bruteLeg(embs, queriesOf(selectVecQueries(embs))),
      KeywordSearch.batchKwRawSel(docs, selectDocQueries, nTerms, kwIndex,
        kwDict, kwStats), None, alpha, k)

  /** [[fusedBatchSel]] swept over MULTIPLE alphas in ONE plan — the
    * hyperparameter-tuning form behind `eval_alpha_sweep`: the dense
    * fan-out, sparse keyword stats and per-query normalization compute
    * once; only the fuse expression and the bounded per-(alpha, query)
    * heaps multiply by |alphas|.
    */
  private[graft] def fusedBatchSweepSel(docs: DataFrame, embs: DataFrame,
                                        selectVecQueries: DataFrame => DataFrame,
                                        selectDocQueries: DataFrame => DataFrame,
                                        alphas: Seq[Double],
                                        nTerms: Int = KeywordSearch.BatchTerms,
                                        k: Int = BatchK,
                                        kwIndex: Option[DataFrame] = None,
                                        kwDict: Option[DataFrame] = None,
                                        kwStats: Option[DataFrame] = None): DataFrame =
    fuse(bruteLeg(embs, queriesOf(selectVecQueries(embs))),
      KeywordSearch.batchKwRawSel(docs, selectDocQueries, nTerms, kwIndex,
        kwDict, kwStats), None, Alpha, k, alphas = Some(alphas))

  /** Index-accelerated batch fusion: the vector leg scans only each
    * query's nprobe IVF cells ([[IvfIndex.batchProbedCells]]) and the
    * exact keyword leg is restricted to the same candidates (a search
    * system normalizes over what it retrieves). Served off the STANDING
    * artifacts (centroids, batch postings, df dictionary, corpus
    * stats), every prep frame is a column-pruned scan of a compact
    * artifact, so the plan is a shallow diamond instead of the r3
    * 101-exchange tower; the inline form (no postings index) is
    * spec-gated ≡ the served one and keeps its candidates lazy.
    */
  private[graft] def fusedBatchIvfSel(docs: DataFrame, embs: DataFrame,
                                      selectVecQueries: DataFrame => DataFrame = everyStride("vec_id"),
                                      selectDocQueries: DataFrame => DataFrame = everyStride("doc_id"),
                                      nTerms: Int = KeywordSearch.BatchTerms,
                                      nprobe: Int = IvfIndex.NProbe,
                                      alpha: Double = Alpha,
                                      k: Int = BatchK,
                                      centroids: Option[DataFrame] = None,
                                      kwIndex: Option[DataFrame] = None,
                                      kwDict: Option[DataFrame] = None,
                                      kwStats: Option[DataFrame] = None): DataFrame =
    fuse(ivfLeg(embs, queriesOf(selectVecQueries(embs)), nprobe, centroids,
        materialize = kwIndex.isDefined),
      KeywordSearch.batchKwRawSel(docs, selectDocQueries, nTerms, kwIndex,
        kwDict, kwStats), None, alpha, k)

  /** DOUBLY-PRUNED batch fusion — the at-scale serving form: the vector
    * leg scans each query's nprobe IVF cells AND the keyword leg probes
    * only the champion lists ([[ChampionIndex]]) of the query's terms,
    * so per-query cost is bounded by nprobe·|cell| + nTerms·M
    * REGARDLESS of corpus size — the fusion form whose 100× SCALE row
    * stays measurable while every exact-keyword-leg fusion is `cap`ped
    * (SCALE.md).
    */
  private[graft] def fusedBatchChampionSel(docs: DataFrame, embs: DataFrame,
                                           postings: DataFrame, champs: DataFrame,
                                           selectVecQueries: DataFrame => DataFrame = everyStride("vec_id"),
                                           selectDocQueries: DataFrame => DataFrame = everyStride("doc_id"),
                                           nTerms: Int = KeywordSearch.BatchTerms,
                                           nprobe: Int = IvfIndex.NProbe,
                                           alpha: Double = Alpha,
                                           k: Int = BatchK,
                                           centroids: Option[DataFrame] = None,
                                           topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val kparts = ChampionIndex.championScored(docs, postings, champs,
      selectDocQueries, nTerms)
    fuse(ivfLeg(embs, queriesOf(selectVecQueries(embs)), nprobe, centroids),
      kparts, topC, alpha, k)
  }

  /** [[fusedBatchChampionSel]] swept over MULTIPLE alphas in ONE plan —
    * the tuning run a practitioner can afford against the deployed
    * pruned index at any corpus size (the exact sweep,
    * [[fusedBatchSweepSel]], shares the exact-BM25 keyword leg and caps
    * at 100×).
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
    fuse(ivfLeg(embs, queriesOf(selectVecQueries(embs)), nprobe, centroids),
      kparts, topC, Alpha, k, alphas = Some(alphas))
  }

  /** [[fusedBatchChampionSel]] swept over MULTIPLE champion DEPTHS in
    * ONE plan — the M knob's quality curve (`eval_champion_sweep`):
    * keyword candidates come from the standing M=max artifact ONCE
    * ([[ChampionIndex.championScoredByDepth]] — per-depth membership by
    * re-derived impact rank), the vector leg and its top-C cut compute
    * ONCE (depth-independent), and only the per-(m, q_id) keyword cuts,
    * stats, fuse and heaps carry the depth key. The m =
    * [[ChampionIndex.M]] slice is bitwise [[fusedBatchChampionSel]]'s
    * ranking (spec-pinned, capped and uncapped).
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
    fuse(ivfLeg(embs, queriesOf(selectVecQueries(embs)), nprobe, centroids),
      kpartsM, topC, alpha, k, ms = Some(ms))
  }

  /** Doubly-pruned batch fusion over BOTH refreshable layouts: probed
    * live cells of the refreshed IVF segments and the refreshed
    * champion views with probe-time idf ([[IndexRefresh.batchScoredSel]])
    * — a deployment that appends documents and vectors daily serves
    * its hybrid workload with zero full rebuilds and zero score
    * staleness. `asOf` pins centroids, live vectors and keyword views
    * consistently; queries come from the caller's snapshot.
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
    val queries = queriesOf(currEmbs.filter(col("vec_id") % stride === 0))
    val kparts = IndexRefresh.batchScoredSel(s, kwPath, currDocs,
      _.filter(col("doc_id") % stride === 0), nTerms, asOf)
    fuse(liveLeg(s, vecPath, queries, nprobe, asOf), kparts, topC, alpha, k)
  }

  /** DOUBLY-COMPRESSED batch fusion — the 100 TB serving form: the ADC
    * leg over the refreshed quantized layout's STANDING codes (IVF-probed
    * cells via DPP, per-query distance tables broadcast, no
    * full-precision vector touched past the query rows) fused with the
    * refreshed champion probe. Every score input is a standing artifact,
    * so a query's fused page is identical whichever micro-batch it
    * arrives in (batch-split invariance). Oracle: literal-codebook
    * encode + ADC chain composed with the full-rebuild champion chain
    * and the capped fusion tail, one statement.
    */
  private[graft] def fusedBatchQuantizedSel(s: SparkSession,
                                            kwPath: String, vecPath: String,
                                            currDocs: DataFrame,
                                            selectVecQueries: DataFrame => DataFrame = everyStride("vec_id"),
                                            selectDocQueries: DataFrame => DataFrame = everyStride("doc_id"),
                                            nTerms: Int = KeywordSearch.BatchTerms,
                                            nprobe: Int = IvfIndex.NProbe,
                                            alpha: Double = Alpha,
                                            k: Int = BatchK,
                                            asOf: Option[Int] = None,
                                            topC: Option[Int] = Some(topCFor(BatchK))): DataFrame = {
    val queries = queriesOf(
      selectVecQueries(VectorRefresh.liveVectors(s, vecPath, asOf = asOf)))
    val kparts = IndexRefresh.batchScoredSel(s, kwPath, currDocs,
      selectDocQueries, nTerms, asOf)
    fuse(adcLeg(s, vecPath, queries, nprobe, asOf), kparts, topC, alpha, k)
  }

  // --- single-request entries ---

  /** One request's fusion over its bounded candidate set: the vector
    * candidates `(doc_id, vscore)` of its nprobe cells (restricted to
    * `allowedDocs` when given — the filter-during-the-walk hook) and the
    * keyword parts `(doc_id, raw_score)` of its terms' champion rows,
    * |terms|·M rows at most. ONE aggregation collects both lists; the
    * rest is expressions on its one row: the keyword left join (a map
    * lookup per vector candidate, so keyword rows outside the
    * candidates drop out, as in [[fusePrep]]'s semi-join), the vector
    * range, the keyword range clamped to include the implicit 0 of an
    * unmatched candidate, and the bounded heap. Nothing is materialized
    * and each input is read once. Output `(rn, doc_id, score)`, bitwise
    * [[fuse]]'s.
    */
  private def fuseRequest(vparts: DataFrame, kparts: DataFrame,
                          alpha: Double, k: Int,
                          allowedDocs: Option[DataFrame] = None): DataFrame = {
    // no broadcast hint: a selective filter broadcasts via AQE, a weak
    // one must not be forced driver-side at corpus scale
    val v = allowedDocs.fold(vparts)(a =>
      vparts.join(a.select(col("doc_id")), Seq("doc_id"), "semi"))
    val none = lit(null).cast("double")
    val joined = transform(col("v"), x => struct(x("doc_id").as("doc_id"),
      x("vscore").as("vscore"), col("kw")(x("doc_id")).as("raw_score")))
    val matched = filter(col("j"), _("raw_score").isNotNull)
    val nCand = size(col("j"))
    val nMatched = size(matched)
    def clamped(bound: Column, toZero: (Column, Column) => Column) =
      when(nMatched === 0, lit(0.0))
        .when(nMatched < nCand, toZero(bound, lit(0.0)))
        .otherwise(bound)
    val raws = transform(matched, _("raw_score"))
    v.select(col("doc_id"), col("vscore"), none.as("raw_score"))
      .unionByName(kparts.select(col("doc_id"), none.as("vscore"), col("raw_score")))
      .agg(collect_list(when(col("vscore").isNotNull,
          struct(col("doc_id"), col("vscore")))).as("v"),
        map_from_entries(collect_list(when(col("raw_score").isNotNull,
          struct(col("doc_id"), col("raw_score"))))).as("kw"))
      .select(joined.as("j"))
      .select(col("j"),
        array_min(transform(col("j"), _("vscore"))).as("vmin"),
        array_max(transform(col("j"), _("vscore"))).as("vmax"),
        clamped(array_min(raws), least(_, _)).as("kmin"),
        clamped(array_max(raws), greatest(_, _)).as("kmax"))
      .select(explode(col("j")).as("x"), col("vmin"), col("vmax"),
        col("kmin"), col("kmax"))
      .agg(topKByScore(fusedScore(alpha, col("x.vscore"),
        coalesce(col("x.raw_score"), lit(0.0))), col("x.doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "t")))
      .select((col("i") + 1).as("rn"), col("t.id").as("doc_id"),
        col("t.score").as("score"))
      .orderBy("rn")
  }

  /** One request's probed rows: the rows of `corpus(vec_id, cell, …)` in
    * its nprobe best cells of `cents`, without the seed object `qId`
    * (embedded requests pass -1).
    */
  private def probedRows(corpus: DataFrame, cents: DataFrame, q: QueryVec,
                         qId: Long, nprobe: Int): DataFrame =
    corpus.join(broadcast(IvfIndex.probedCells(cents, q, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= qId)

  /** Cosine vector candidates `(doc_id, vscore)` of probed rows. */
  private def cosineParts(rows: DataFrame, q: QueryVec): DataFrame =
    q.attach(rows).select(col("vec_id").as("doc_id"),
      cosineSim(col("embedding"), col("q_emb")).as("vscore"))

  /** SINGLE-request doubly-pruned hybrid — [[fusedWithQuery]]'s
    * at-scale twin and the facade's pruned routing target
    * ([[graft.GraftClient]] `indexMode = "pruned"`): the request's
    * nprobe IVF cells off the standing centroids (derived inline when
    * absent), the query terms' champion impacts. Per-request cost
    * nprobe·|cell| + |terms|·M regardless of corpus size.
    */
  private[graft] def fusedPrunedWithQuery(embs: DataFrame, champs: DataFrame,
                                          terms: Seq[String], q: QueryVec,
                                          qId: Long,
                                          centroids: Option[DataFrame] = None,
                                          alpha: Double = Alpha, k: Int = TopK,
                                          nprobe: Int = IvfIndex.NProbe): DataFrame =
    fuseRequest(
      cosineParts(probedRows(embs.withColumnRenamed("label", "cell"),
        centroids.getOrElse(IvfIndex.centroidArrays(embs)), q, qId, nprobe), q),
      champs.filter(col("term").isin(terms.distinct.sorted: _*))
        .groupBy("doc_id")
        .agg(KeywordSearch.fixedPointSum6(col("imp")).as("raw_score")),
      alpha, k)

  /** Single-request fusion over BOTH refreshable layouts — the facade's
    * refreshed route: probed live cells, refreshed champion views with
    * probe-time idf ([[IndexRefresh.requestScored]]). `asOf` pins both;
    * `allowedDocs` carries doc_ids from the SAME corpus state the pin
    * serves (the caller's as-of universe).
    */
  private[graft] def fusedRefreshedWithQuery(s: SparkSession,
                                             kwPath: String, vecPath: String,
                                             terms: Seq[String], q: QueryVec,
                                             qId: Long,
                                             alpha: Double = Alpha, k: Int = TopK,
                                             nprobe: Int = IvfIndex.NProbe,
                                             asOf: Option[Int] = None,
                                             allowedDocs: Option[DataFrame] = None): DataFrame =
    fuseRequest(
      cosineParts(probedRows(VectorRefresh.liveVectors(s, vecPath, asOf = asOf),
        VectorRefresh.servingCentroidView(s, vecPath, asOf), q, qId, nprobe), q),
      IndexRefresh.requestScored(s, kwPath, terms.distinct.sorted, asOf),
      alpha, k, allowedDocs)

  /** [[fusedRefreshedWithQuery]] with ADC candidates over the quantized
    * layout's standing codes — the facade's quantized route: the
    * request's distance table is built on the driver from the standing
    * codebook ([[VectorRefresh.requestScoredQuantized]]'s scoring),
    * vscore = −adc as in [[adcLeg]].
    */
  private[graft] def fusedQuantizedWithQuery(s: SparkSession,
                                             kwPath: String, vecPath: String,
                                             terms: Seq[String], q: QueryVec,
                                             qId: Long,
                                             alpha: Double = Alpha, k: Int = TopK,
                                             nprobe: Int = IvfIndex.NProbe,
                                             asOf: Option[Int] = None,
                                             allowedDocs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{PqAdcScore, Shims}
    val table = ProductQuantizer.adcTable(VectorRefresh.readCodebook(s, vecPath), q.values)
    fuseRequest(
      probedRows(VectorRefresh.liveCodes(s, vecPath, None, asOf),
          VectorRefresh.servingCentroidView(s, vecPath, asOf), q, qId, nprobe)
        .select(col("vec_id").as("doc_id"), (-round(Shims.column(
          PqAdcScore(Shims.expression(col("codes")), table)), 6)).as("vscore")),
      IndexRefresh.requestScored(s, kwPath, terms.distinct.sorted, asOf),
      alpha, k, allowedDocs)
  }

  // --- SQL oracles: prefix CTEs ending in `joined`, one fusion tail ---

  /** Each alpha as a correctly-rounded DOUBLE literal: VARCHAR→DOUBLE
    * parse (IEEE round-to-nearest of the shortest round-trip repr) is
    * bitwise the Spark-side `typedLit` double for ANY alpha — a bare
    * list literal would type as DECIMAL, whose /10^scale conversion can
    * land a non-dyadic alpha (e.g. 1/3) one ulp off the Spark literal
    * and flip the 4dp fused-score rounding at a boundary.
    */
  private[operators] def alphaListSql(alphas: Seq[Double]): String =
    alphas.map(a => s"CAST('$a' AS DOUBLE)").mkString(", ")

  /** SQL twin of [[fuse]]'s stats and tail over a `joined(q_id, doc_id,
    * vscore, kscore)` CTE. The stats derive from the coalesced joined
    * frame, which is equivalent to the engine's sparse-stats + clamp
    * form. Ranks per q_id (per (alpha, q_id) given `alphas`, the alpha
    * list cross-joined into the fuse expression), or — `page` — one
    * request's top-k page `(rn, doc_id, score)`.
    */
  private def fuseTailSql(alpha: Double, k: Int,
                          alphas: Option[Seq[Double]] = None,
                          page: Boolean = false): String = {
    val (sweepCte, by, wv, wk, from) = alphas.fold(
      ("", "", s"$alpha", s"${1 - alpha}", ""))(as =>
      (s"alphas AS (SELECT unnest([${alphaListSql(as)}]) AS alpha),\n",
        "alpha, ", "alpha", "(1.0 - alpha)", ", alphas"))
    val ranked =
      if (page)
        s"""
           |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
           |  doc_id, score
           |FROM fusedt
           |ORDER BY score DESC, doc_id
           |LIMIT $k""".stripMargin
      else
        s""",
           |ranked AS (
           |  SELECT ${by}q_id, doc_id, score,
           |    row_number() OVER (PARTITION BY ${by}q_id ORDER BY score DESC, doc_id) AS rn
           |  FROM fusedt
           |  QUALIFY rn <= $k)
           |SELECT ${by}q_id, rn, doc_id, score
           |FROM ranked
           |ORDER BY ${by}q_id, rn""".stripMargin
    s"""qstats AS (
       |  SELECT q_id, min(vscore) AS vmin, max(vscore) AS vmax,
       |    min(kscore) AS kmin, max(kscore) AS kmax
       |  FROM joined GROUP BY 1),
       |${sweepCte}fusedt AS (
       |  SELECT ${by}q_id, doc_id,
       |    round($wv * (vscore - vmin) /
       |            (CASE WHEN vmax = vmin THEN 1.0 ELSE vmax - vmin END)
       |        + $wk * (kscore - kmin) /
       |            (CASE WHEN kmax = kmin THEN 1.0 ELSE kmax - kmin END), 4) AS score
       |  FROM joined JOIN qstats USING (q_id)$from)""".stripMargin + ranked
  }

  /** The probed-cell `vparts` CTE over `$embs` (with the `probed` and
    * `queries` CTEs of [[IvfIndex.batchProbedSqlCtes]]).
    */
  private def probedVpartsSqlCte(embs: String = "embeddings"): String =
    s"""vparts AS (
       |  SELECT p.q_id, e.vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS vscore
       |  FROM $embs e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id)""".stripMargin

  /** The uncapped `joined` CTE: every candidate, LEFT-joined to the
    * keyword CTE `$kw(q_id, doc_id, raw_score)`.
    */
  private def joinedSqlCte(kw: String = "scored"): String =
    s"""joined AS (
       |  SELECT vparts.q_id, vparts.doc_id, vscore,
       |    coalesce(raw_score, 0.0) AS kscore
       |  FROM vparts LEFT JOIN $kw
       |    ON vparts.q_id = $kw.q_id AND vparts.doc_id = $kw.doc_id)""".stripMargin

  /** SQL twin of [[cappedCut]]: given a `vparts(q_id, doc_id, vscore)`
    * CTE and a keyword CTE `scored(q_id, doc_id, raw_score)`, emits the
    * chain from the per-leg rank cuts through the capped `joined` frame
    * — the vector leg's top-C by (vscore desc, doc_id), the keyword
    * leg's top-C by (raw_score desc, doc_id) over the
    * candidate-restricted matches, their union as the fusion domain.
    * The cut depth replays [[servingTopC]] ([[effectiveTopCSql]]).
    */
  private def cappedJoinedSqlCtes(topC: Int): String =
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
       |    FROM scored s
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

  /** Brute-force prefix of [[fusedBatchSql]] / [[fusedBatchSweepSql]]. */
  private def bruteSqlCtes(stride: Int, nTerms: Int): String =
    s"""${KeywordSearch.batchKwRawSqlCtes(stride, nTerms)},
       |queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id % $stride = 0),
       |vparts AS (
       |  SELECT q_id, vec_id AS doc_id,
       |    ${VectorSearch.cosineSql("embedding", "q_emb")} AS vscore
       |  FROM embeddings JOIN queries ON vec_id <> q_id),
       |${joinedSqlCte()}""".stripMargin

  def fusedBatchSql(stride: Int = KeywordSearch.BatchStride,
                    nTerms: Int = KeywordSearch.BatchTerms,
                    alpha: Double = Alpha, k: Int = BatchK): String =
    s"WITH ${bruteSqlCtes(stride, nTerms)},\n${fuseTailSql(alpha, k)}"

  def fusedBatchSweepSql(alphas: Seq[Double],
                         stride: Int = KeywordSearch.BatchStride,
                         nTerms: Int = KeywordSearch.BatchTerms,
                         k: Int = BatchK): String =
    s"WITH ${bruteSqlCtes(stride, nTerms)},\n${fuseTailSql(Alpha, k, Some(alphas))}"

  /** Oracle for the IVF-pruned batch fusion: the keyword CTE chain and
    * the per-query probed-cell CTEs compose; the candidate domain is the
    * probed cells' vectors.
    */
  def fusedBatchIvfSql(stride: Int = KeywordSearch.BatchStride,
                       nTerms: Int = KeywordSearch.BatchTerms,
                       nprobe: Int = IvfIndex.NProbe,
                       alpha: Double = Alpha, k: Int = BatchK): String =
    s"""WITH ${KeywordSearch.batchKwRawSqlCtes(stride, nTerms)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |${probedVpartsSqlCte()},
       |${joinedSqlCte()},
       |${fuseTailSql(alpha, k)}""".stripMargin

  /** Champion prefix of [[fusedBatchChampionSql]] /
    * [[fusedBatchChampionSweepSql]]: the champion keyword CTE chain,
    * the probed-cell candidates, the per-leg top-C cut.
    */
  private def championSqlCtes(stride: Int, nTerms: Int, nprobe: Int,
                              m: Int, k: Int): String =
    s"""${ChampionIndex.championScoredSqlCtes(stride, nTerms, m)},
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |${probedVpartsSqlCte()},
       |${cappedJoinedSqlCtes(topCFor(k))}""".stripMargin

  def fusedBatchChampionSql(stride: Int = KeywordSearch.BatchStride,
                            nTerms: Int = KeywordSearch.BatchTerms,
                            nprobe: Int = IvfIndex.NProbe,
                            m: Int = ChampionIndex.M,
                            alpha: Double = Alpha, k: Int = BatchK): String =
    s"WITH ${championSqlCtes(stride, nTerms, nprobe, m, k)},\n${fuseTailSql(alpha, k)}"

  def fusedBatchChampionSweepSql(alphas: Seq[Double],
                                 stride: Int = KeywordSearch.BatchStride,
                                 nTerms: Int = KeywordSearch.BatchTerms,
                                 nprobe: Int = IvfIndex.NProbe,
                                 m: Int = ChampionIndex.M,
                                 k: Int = BatchK): String =
    s"WITH ${championSqlCtes(stride, nTerms, nprobe, m, k)},\n" +
      fuseTailSql(Alpha, k, Some(alphas))

  /** Oracle for [[searchPruned]]: champion index + probed cells
    * re-derived from the raw corpus, the one-query fusion replayed as a
    * top-k page.
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
       |${probedVpartsSqlCte()},
       |${joinedSqlCte("kscored")},
       |${fuseTailSql(alpha, k, page = true)}""".stripMargin
  }

  /** The refreshed fusion oracles' shared prefix: BOTH tables' snapshot
    * (`currd`/`curre`: current, or — `prevSnapshot`, the as-of-0
    * oracle — the PRE-refresh states, the CorpusOps / VectorRefresh
    * stride conventions), the full-rebuild tf-cut champion keyword chain
    * with probe-time idf (the [[IndexRefresh.refreshBatchSearchSql]]
    * chain, unrounded sum of 6dp contributions) as `scored`, then
    * `vecCtes` (ending in `vparts`) and the capped tail.
    */
  private def refreshedFusionSql(vecCtes: String, stride: Int, nTerms: Int,
                                 m: Int, alpha: Double, k: Int,
                                 prevSnapshot: Boolean): String = {
    import KeywordSearch.{K1, B}
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
       |$vecCtes,
       |${cappedJoinedSqlCtes(topCFor(k))},
       |${fuseTailSql(alpha, k)}""".stripMargin
  }

  /** Oracle for the refreshed fusion: label-cell IVF probing over the
    * snapshot's embeddings beside the full-rebuild keyword chain.
    */
  def fusedBatchRefreshedSql(stride: Int = KeywordSearch.BatchStride,
                             nTerms: Int = KeywordSearch.BatchTerms,
                             nprobe: Int = IvfIndex.NProbe,
                             m: Int = IndexRefresh.M,
                             alpha: Double = Alpha, k: Int = BatchK,
                             prevSnapshot: Boolean = false): String =
    refreshedFusionSql(
      s"${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe, "curre")},\n" +
        probedVpartsSqlCte("curre"),
      stride, nTerms, m, alpha, k, prevSnapshot)

  /** Oracle for the quantized fusion: the literal-codebook encode + ADC
    * chain ([[VectorRefresh.batchQuantizedAdcCtes]] over the snapshot's
    * embeddings), vscore = −adc, beside the full-rebuild keyword chain.
    */
  private[graft] def fusedBatchQuantizedSql(
      model: ProductQuantizer.Model,
      stride: Int = KeywordSearch.BatchStride,
      nTerms: Int = KeywordSearch.BatchTerms,
      nprobe: Int = IvfIndex.NProbe,
      m: Int = IndexRefresh.M,
      alpha: Double = Alpha, k: Int = BatchK,
      prevSnapshot: Boolean = false): String =
    refreshedFusionSql(
      s"""${VectorRefresh.batchQuantizedAdcCtes(model, stride, nprobe, "curre")},
         |vparts AS (
         |  SELECT q_id, vec_id AS doc_id, -adc AS vscore FROM adcs)""".stripMargin,
      stride, nTerms, m, alpha, k, prevSnapshot)

  // --- driver queries ---

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

  /** The single-request pruned hybrid, seeded like [[search]] by the
    * benchmark object's stored vector, over the standing champion +
    * centroid artifacts.
    */
  def searchPruned(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir)
    val q = embs.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    fusedPrunedWithQuery(embs, ChampionIndex.cachedChampions(s, dir),
      KeywordSearch.QueryTerms, QueryVec.Frame(q), VectorSearch.QueryVecId,
      centroids = Some(IvfIndex.cachedCentroids(s, dir)))
  }

  val searchPrunedOracle: String = searchPrunedSql()

  /** The brute-force batch fusion, keyword signal from the standing
    * postings, df dictionary and corpus stats (value-identical to the
    * inline form; spec-pinned).
    */
  def batchSearch(s: SparkSession, dir: String): DataFrame =
    fusedBatchSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir)))

  val batchSearchOracle: String = fusedBatchSql()

  def batchSearchIvf(s: SparkSession, dir: String): DataFrame =
    fusedBatchIvfSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      kwIndex = Some(KeywordSearch.cachedBatchPostings(s, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(s, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(s, dir)))

  val batchSearchIvfOracle: String = fusedBatchIvfSql()

  /** The doubly-pruned fusion over the standing artifacts (IVF
    * centroids + batch postings + champion lists).
    */
  def batchSearchChampion(s: SparkSession, dir: String): DataFrame =
    fusedBatchChampionSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir),
      ChampionIndex.cachedChampions(s, dir),
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      topC = servingTopC(s, dir))

  val batchSearchChampionOracle: String = fusedBatchChampionSql()

  /** The champion-depth sweep over the standing artifacts, so the
    * m = max slice is the doubly-pruned serving ranking itself.
    */
  def batchSearchChampionDepthSweep(s: SparkSession, dir: String,
                                    ms: Seq[Int]): DataFrame =
    fusedBatchChampionDepthSweepSel(Tables.documents(s, dir), Tables.embeddings(s, dir),
      KeywordSearch.cachedBatchPostings(s, dir),
      ChampionIndex.cachedChampions(s, dir),
      everyStride("vec_id"), everyStride("doc_id"), ms,
      centroids = Some(IvfIndex.cachedCentroids(s, dir)),
      topC = servingTopC(s, dir),
      rankedChamps = Some(ChampionIndex.cachedChampionsRanked(s, dir)))

  /** The refreshed fusion over the standing refreshed artifacts. */
  def batchSearchRefreshed(s: SparkSession, dir: String): DataFrame =
    fusedBatchRefreshedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir),
      VectorRefresh.refreshedArtifact(s, dir),
      CorpusOps.currSnapshot(Tables.documents(s, dir)),
      VectorRefresh.currSnapshot(Tables.embeddings(s, dir)),
      topC = servingTopC(s, dir))

  val batchSearchRefreshedOracle: String = fusedBatchRefreshedSql()

  /** The hybrid fusion TIME-TRAVELED — both layouts pinned AS OF
    * segment 0, queries drawn from the pinned corpus state
    * ([[IndexRefresh.qSearchAsOf]]'s contract completed across the
    * search surface: keyword 13l, vector 20c, hybrid here). Oracle
    * replays the two-leg chain on the PREVIOUS snapshots.
    */
  def batchSearchRefreshedAsOf(s: SparkSession, dir: String): DataFrame =
    fusedBatchRefreshedPaths(s,
      IndexRefresh.refreshedArtifact(s, dir),
      VectorRefresh.refreshedArtifact(s, dir),
      CorpusOps.prevSnapshot(Tables.documents(s, dir)),
      VectorRefresh.prevSnapshot(Tables.embeddings(s, dir)),
      asOf = Some(0),
      topC = servingTopC(s, dir))

  val batchSearchRefreshedAsOfOracle: String =
    fusedBatchRefreshedSql(prevSnapshot = true)

  /** [[batchSearchRefreshed]] over COMPACTED artifacts — the LSM
    * read-amplification remedy measured: compaction folds both layouts
    * back to single-segment bases (bitwise-equal views, spec-pinned).
    * Registered under the SAME oracle as the refreshed fusion —
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

  /** The doubly-compressed fusion over the standing refreshed artifacts
    * (quantized vector layout + keyword views); `asOf = Some(0)` pins
    * both compressed layouts (the codebook is the standing artifact in
    * every pinned state because refresh never retrains, so ADC
    * arithmetic time-travels for free).
    */
  private def quantizedFusedAt(s: SparkSession, dir: String,
                               asOf: Option[Int]): DataFrame = {
    val vecPath = VectorRefresh.quantizedArtifact(s, dir)
    VectorRefresh.captureQuantModel(s, vecPath)
    val docs = Tables.documents(s, dir)
    fusedBatchQuantizedSel(s, IndexRefresh.refreshedArtifact(s, dir), vecPath,
      if (asOf.isEmpty) CorpusOps.currSnapshot(docs) else CorpusOps.prevSnapshot(docs),
      asOf = asOf, topC = servingTopC(s, dir))
  }

  def batchSearchQuantizedFused(s: SparkSession, dir: String): DataFrame =
    quantizedFusedAt(s, dir, None)

  def batchSearchQuantizedFusedAsOf(s: SparkSession, dir: String): DataFrame =
    quantizedFusedAt(s, dir, Some(0))

  /** Oracles for the quantized fusion (capture convention: a `def`, the
    * engine's codebook is dumped after the queries run).
    */
  def batchSearchQuantizedFusedOracle: String =
    VectorRefresh.capturedQuantModel.fold(
      "SELECT pq_refresh_model_not_captured FROM embeddings")(
      fusedBatchQuantizedSql(_))

  def batchSearchQuantizedFusedAsOfOracle: String =
    VectorRefresh.capturedQuantModel.fold(
      "SELECT pq_refresh_model_not_captured FROM embeddings")(
      fusedBatchQuantizedSql(_, prevSnapshot = true))
}
