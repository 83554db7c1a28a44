package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.topKByScore
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full BM25 keyword search over the document corpus — the Spark-native
  * re-derivation of `keyword_search` (reference
  * `src/database/weaviate_interface_v4.py:201-244`, Weaviate's bm25
  * operator) including metadata filters (`SearchFilter.exact_match` /
  * `fuzzy_match`, reference L495-515) and return-properties projection.
  *
  * Scale design (100 TB): per-document term frequencies are map-side
  * column expressions over the token array (no explode, no shuffle of
  * token rows). Corpus statistics (N, avgdl, per-query-term df) reduce to
  * ONE row via a single partial-aggregated pass, then re-join the corpus
  * as a broadcast — so the whole search is two scans + a broadcast, and
  * the global top-k is a TakeOrderedAndProject (per-partition heap, k
  * rows to the driver, no sort). Only query terms (a handful) ever get
  * counted — df of the full vocabulary is never materialized.
  *
  * Scoring: Robertson/Lucene BM25,
  *   idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   s(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  * with k1=1.2, b=0.75. Scores rounded to 4dp at the output edge; ties
  * broken by doc_id (deterministic for the oracle).
  */
object KeywordSearch {
  val K1 = 1.2
  val B = 0.75

  /** The fixed benchmark query (tokens present in the corpus vocabulary). */
  val QueryTerms: Seq[String] = Seq("spark", "hash", "join", "fast")
  val TopK = 10

  def tfCol(t: String): Column = size(filter(col("toks"), x => x === t))

  /** Order-pinned float sum for score accumulations: collect the
    * group's (key, value) pairs, sort by key, left-fold the values —
    * the same IEEE addition sequence as DuckDB's ordered aggregate
    * `sum(value ORDER BY key)`. An unordered `sum` is reassociated by
    * whatever partitioning the plan happens to pick, and when the
    * inputs are fixed-point-rounded contributions (the 6dp edge) the
    * total lands ON a 4dp half-way boundary with ~1% probability per
    * near-tie — r10's `kw_search_asof` flip. Every scorer whose sum
    * feeds a rounded output or a rank uses this. Keys must be unique
    * per group (term per (query, doc); a repeated key must carry an
    * equal value, which keeps the sorted value sequence unique).
    */
  private[graft] def pinnedSum(key: Column, value: Column): Column =
    aggregate(
      transform(array_sort(collect_list(struct(key.as("k"), value.as("v")))),
        x => x.getField("v")),
      lit(0.0), (a, x) => a + x)

  /** [[pinnedSum]] keyed by the value itself (multiset-sorted fold,
    * ≡ DuckDB `sum(x ORDER BY x)`) — for sums with no natural unique
    * key per group.
    */
  private[graft] def pinnedSumValues(value: Column): Column =
    aggregate(array_sort(collect_list(value)), lit(0.0), (a, x) => a + x)

  /** EXACT fixed-point sum of 6dp-rounded contributions — the HOT-path
    * determinism form: each input is (the nearest double to) k/1e6, so
    * summing the integer k's is associative and exact — order-free
    * determinism that KEEPS map-side partial aggregation and codegen,
    * where [[pinnedSum]]'s collect_list fold pays an ObjectHashAggregate
    * with a per-group array buffer (measured: the 100x refreshed-fusion
    * kw leg OOM'd a 48g heap on the fold that a plain sum served in
    * 52s). Long sums cannot overflow here (|contrib| < 64, so
    * |k| < 6.4e7, and group cardinality is the query's term count).
    * The numerator is `floor(x·1e6 + 0.5)` — round-half-up for the
    * POSITIVE score domain as pure double arithmetic (Spark's Round on
    * doubles allocates a BigDecimal per row; on the exact batch chain's
    * matched-posting volume that cost +30% wall at 10×). An input
    * already rounded at 6dp (= the nearest double to k/1e6) recovers k
    * exactly; a raw input is quantized at 1e-6, which IS the chain's
    * contribution contract. This form is for NONNEGATIVE score domains
    * only (BM25 term scores, champion/RM3 impacts, fusion scores — all
    * of today's callers): plain `floor(x·1e6 + 0.5)` is round-half-up
    * there and costs two fewer per-row ops than the sign-aware form. An
    * r12 revision made THIS helper sign-aware (`sign(x)·floor(|x|·1e6 +
    * 0.5)`) so a future signed chain couldn't inherit a half-toward-+∞
    * divergence; the r13 bisect measured that generality at ~2× wall on
    * the exact BM25 chain (`kw_search_bm25` 0.97 → 1.93 s at sf0.1, the
    * signum+abs pair on every matched posting row — same box, r11 code
    * vs r12 code), so the split is now explicit: nonnegative chains use
    * this form, a signed chain uses [[fixedPointSum6Signed]] (and must
    * carry a `// signed domain:` justification — ScoreChainLintSpec
    * polices it). Oracle twin: [[fixedPointSum6Sql]].
    */
  private[graft] def fixedPointSum6(value: Column): Column =
    sum(floor(value * lit(1000000.0) + lit(0.5)))
      .cast("double") / 1000000.0

  /** The sign-aware fixed-point sum — round-half-AWAY-FROM-ZERO (HALF_UP
    * for both signs): the correct form for a chain whose 6dp-rounded
    * contributions can go NEGATIVE (e.g. signed log-ratio scores), where
    * [[fixedPointSum6]]'s plain floor would round negative halves toward
    * +∞ and diverge from the oracle's HALF_UP at the 1e-6 boundary.
    * Bit-identical to [[fixedPointSum6]] on nonnegative inputs — but
    * costs a signum and an abs per row, which is ~2× wall on a
    * posting-volume chain, so hot nonnegative chains must NOT use it.
    * Oracle twin: [[fixedPointSum6SignedSql]].
    */
  private[graft] def fixedPointSum6Signed(value: Column): Column =
    sum(signum(value) * floor(abs(value) * lit(1000000.0) + lit(0.5)))
      .cast("double") / 1000000.0

  /** The oracle-side rendering of [[fixedPointSum6]]. */
  private[graft] def fixedPointSum6Sql(expr: String): String =
    s"CAST(sum(CAST(floor($expr * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0"

  /** The oracle-side rendering of [[fixedPointSum6Signed]]. */
  private[graft] def fixedPointSum6SignedSql(expr: String): String =
    s"CAST(sum(CAST(sign($expr) * floor(abs($expr) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0"

  /** Σ over terms of the Robertson BM25 term score, as a column over the
    * conventional stat columns `tf_i`/`df_i`/`dl`/`avgdl`/`n_docs` — the
    * ONE copy of the scoring formula every scorer (plain, multi-field,
    * hybrid) composes.
    */
  private[operators] def bm25ScoreCol(terms: Seq[String]): Column =
    terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))
      when(tf > 0,
        idf * (tf * (K1 + 1)) /
          (tf + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
        .otherwise(0.0)
    }.reduce(_ + _)

  /** The SQL rendering of [[bm25ScoreCol]] (same stat column names). */
  private[operators] def bm25ScoreSql(terms: Seq[String]): String =
    terms.indices.map { i =>
      s"""(CASE WHEN tf_$i > 0 THEN
         |      ln(1 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
         |      * (CAST(tf_$i AS DOUBLE) * ${K1 + 1}) / (CAST(tf_$i AS DOUBLE) + $K1 * (1 - $B + $B * dl / avgdl))
         |    ELSE 0.0 END)""".stripMargin
    }.mkString("\n    + ")

  /** Per-doc length + query-term frequencies in ONE tokenization pass:
    * explode tokens, partial-aggregated groupBy keyed by the doc. The
    * naive column-per-tf form gets its `tokens()` alias inlined by
    * projection collapse into every consumer (14 `split` evaluations in
    * the executed plan); this form tokenizes once, map-side combines to
    * one row per doc per partition, and — because source/lang ride along
    * as grouping keys — BOTH BM25 consumers (corpus-stats aggregate and
    * scoring join) canonicalize to the same subtree, so the aggregation
    * Exchange is computed once and reused (verified: ReusedExchange in
    * the executed plan).
    *
    * The measured alternative [[termStatsZeroShuffle]] trades this one
    * compact shuffle for a second corpus scan; see its doc for when that
    * wins. Documents with zero tokens vanish at the explode and are thus
    * excluded from corpus statistics (n_docs, avgdl) — the defined
    * semantics, mirrored in [[bm25Sql]].
    */
  def termStats(docs: DataFrame, terms: Seq[String],
                docFilter: Column = lit(true)): DataFrame = {
    val toked = docs.filter(docFilter)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
    val aggs = termCounts(terms)
    toked.groupBy("doc_id", "source", "lang").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document length `dl` and query-term counts `tf_i` over a
    * `tok` column — [[termStats]]'s aggregate.
    */
  private[operators] def termCounts(terms: Seq[String]): Seq[Column] =
    count(lit(1)).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("tok") === t, 1).otherwise(0)).as(s"tf_$i")
      }

  /** ZERO-shuffle formulation of [[termStats]]: the native
    * [[graft.functions.TextFunctions.termFrequencies]] expression emits
    * `[dl, tf_0, ..]` in one tight loop per row, so per-document
    * statistics are a pure map with no explode and no doc-keyed
    * exchange. The cost: the stats and scoring subtrees column-prune
    * differently, defeating exchange reuse, so the corpus is scanned
    * (and term-counted) twice. Pick per deployment: shuffle-constrained
    * clusters or single-consumer pipelines (e.g. feeding the index
    * builder) want this; the shared-subtree default wants [[termStats]].
    * Cross-checked equal row-for-row in the spec.
    *
    * The `explode(array(..))` is a deliberate Generate barrier:
    * CollapseProject would otherwise inline the expression into every
    * element_at consumer (measured: re-tokenization per column, 2x
    * slower); a generator output is an attribute, computed once per row.
    */
  def termStatsZeroShuffle(docs: DataFrame, terms: Seq[String],
                           docFilter: Column = lit(true)): DataFrame =
    docs.filter(docFilter)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(array(termFrequencies(tokens(col("text")), terms))).as("tfs"))
      .filter(element_at(col("tfs"), 1) > 0)
      .select(Seq(col("doc_id"), col("source"), col("lang"),
        element_at(col("tfs"), 1).as("dl")) ++
        terms.indices.map(i => element_at(col("tfs"), i + 2).as(s"tf_$i")): _*)

  /** Score documents for `terms`; `docFilter` is the metadata pre-filter
    * (Weaviate `filters=` semantics — stats computed over the filtered
    * corpus, documented divergence: Weaviate computes df on the full index).
    */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int = TopK,
           docFilter: Column = lit(true)): DataFrame = {
    val base = termStats(docs, terms, docFilter)
    val aggCols = count(lit(1)).as("n_docs") +: avg("dl").as("avgdl") +:
      terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    base.join(broadcast(stats))
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc_id"), col("source"), col("lang"),
        round(bm25ScoreCol(terms), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)
  }

  /** DuckDB oracle for [[bm25]], generated from the same constants. */
  def bm25Sql(terms: Seq[String], topK: Int = TopK, whereSql: String = ""): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, t -> t = '$t')) AS tf_$i"
    }.mkString(",\n    ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val scores = bm25ScoreSql(terms)
    val anyTf = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH toked AS (
       |  SELECT doc_id, source, lang,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
       |  FROM documents $whereSql),
       |base AS (
       |  -- token-less docs carry no signal and are excluded from corpus
       |  -- stats (matches the engine's explode-based termStats)
       |  SELECT doc_id, source, lang, CAST(len(toks) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toked WHERE len(toks) > 0),
       |stats AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfs FROM base)
       |SELECT doc_id, source, lang,
       |  round($scores, 4) AS score
       |FROM base, stats
       |WHERE $anyTf
       |ORDER BY score DESC, doc_id
       |LIMIT $topK""".stripMargin
  }

  // --- multi-property (BM25F-style) search ---------------------------------

  /** `query_properties` benchmark instance: content-like `text` at weight
    * 1 and the short `source` field boosted 2x — the Weaviate
    * `['content', 'title^2']` shape on the graft schema.
    */
  val MultiFields: Seq[(String, Double)] = Seq("text" -> 1.0, "source" -> 2.0)
  val MultiFieldTerms: Seq[String] = Seq("spark", "hash", "src3")

  /** Multi-property BM25 — the reference's `query_properties=[...]`
    * argument (weaviate_interface_v4.py:201/319: BM25 across several
    * properties, Lucene `field^boost` weighting). Each field is scored as
    * an independent BM25 corpus (its own dl/avgdl/df — the BM25F
    * per-field-normalization family) and a document's score is the
    * weighted sum over fields where it matches.
    *
    * Scale design: one [[termStats]] pass per field (tiny fields like
    * `source`/title cost a map-side projection), each pass broadcast-joins
    * its own 1-row stats; the per-field score rows UNION (no outer join
    * fan-out) into a single doc-keyed partial-agg sum, and the global
    * top-k is the usual heap. Metadata enrichment joins the k winners
    * broadcast against the corpus.
    */
  def bm25MultiField(docs: DataFrame, terms: Seq[String] = MultiFieldTerms,
                     fields: Seq[(String, Double)] = MultiFields,
                     topK: Int = TopK): DataFrame = {
    val perField = fields.zipWithIndex.map { case ((field, weight), fi) =>
      val base = termStats(docs.withColumn("text", col(field)), terms)
      val aggCols = count(lit(1)).as("n_docs") +: avg("dl").as("avgdl") +:
        terms.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).as(s"df_$i"))
      val stats = base.agg(aggCols.head, aggCols.tail: _*)
      base.join(broadcast(stats))
        .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
        .select(col("doc_id"), lit(fi).as("fi"),
          (bm25ScoreCol(terms) * weight).as("ws"))
    }
    val top = perField.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(round(pinnedSum(col("fi"), col("ws")), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)
    docs.select(col("doc_id"), col("source"), col("lang"))
      .join(broadcast(top), Seq("doc_id"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  def bm25MultiFieldSql(terms: Seq[String] = MultiFieldTerms,
                        fields: Seq[(String, Double)] = MultiFields,
                        topK: Int = TopK): String = {
    val fieldCtes = fields.zipWithIndex.map { case ((field, weight), fi) =>
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(toks, t -> t = '$t')) AS tf_$i"
      }.mkString(",\n      ")
      val dfs = terms.indices.map(i =>
        s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
      val scores = bm25ScoreSql(terms)
      val anyTf = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
      s"""base_$fi AS (
         |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         |      $tfs
         |  FROM (SELECT doc_id,
         |          list_filter(regexp_split_to_array(lower($field), '[^a-z0-9]+'), t -> t <> '') AS toks
         |        FROM documents)
         |  WHERE len(toks) > 0),
         |stats_$fi AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfs FROM base_$fi),
         |scored_$fi AS (
         |  SELECT doc_id, $fi AS fi,
         |    ($scores) * $weight AS ws
         |  FROM base_$fi, stats_$fi
         |  WHERE $anyTf)""".stripMargin
    }
    val unioned = fields.indices.map(fi => s"SELECT * FROM scored_$fi")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${fieldCtes.mkString(",\n")},
       |unioned AS (
       |  $unioned),
       |topk AS (
       |  SELECT doc_id, round(CAST(sum(ws ORDER BY fi) AS DOUBLE), 4) AS score
       |  FROM unioned GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT $topK)
       |SELECT topk.doc_id, source, lang, score
       |FROM topk JOIN documents ON topk.doc_id = documents.doc_id
       |ORDER BY score DESC, topk.doc_id""".stripMargin
  }

  def searchMultiField(s: SparkSession, dir: String): DataFrame =
    bm25MultiField(Tables.documents(s, dir))

  val searchMultiFieldOracle: String = bm25MultiFieldSql()

  // --- batch serving pattern ----------------------------------------------

  val BatchStride = 100
  val BatchTerms = 3
  val BatchK = 5

  /** Multi-query BM25 in ONE postings pass — the keyword twin of
    * [[VectorSearch.batchTopK]] and the shape a million-query eval or
    * backfill takes at 100 TB. The fixed-terms column formulation of
    * [[bm25]] can't serve per-query term sets, so this is the
    * postings-join form:
    *   - postings (doc_id, term, tf) + per-doc length build once (the
    *     [[KeywordIndex]] batch_index_data layout, transient here);
    *   - the query-term table (a few rows per query) BROADCASTS into
    *     the postings join — the corpus never reshuffles per query;
    *   - df is computed only for the distinct query terms, matched rows
    *     reduce per (q_id, doc_id), and per-query top-k runs through
    *     the bounded heap — no window over scored rows.
    * Golden queries: every [[BatchStride]]-th doc, its [[BatchTerms]]
    * rarest corpus tokens as the query string (rarity = df asc, the
    * [[FinetuneData]] probe pattern — portable, deterministic), the
    * query's own doc excluded from its results.
    */
  def bm25Batch(docs: DataFrame, stride: Int = BatchStride,
                nTerms: Int = BatchTerms, k: Int = BatchK): DataFrame =
    rankKwScored(batchKwRaw(docs, stride, nTerms), k)

  /** [[bm25Batch]] over an arbitrary query-doc predicate (micro-batch
    * serving entry — global corpus stats, see [[batchKwRawFor]]).
    */
  private[graft] def bm25BatchFor(docs: DataFrame, queryPred: Column,
                                  nTerms: Int = BatchTerms,
                                  k: Int = BatchK,
                                  index: Option[DataFrame] = None,
                                  dict: Option[DataFrame] = None,
                                  corpusStats: Option[DataFrame] = None): DataFrame =
    rankKwScored(batchKwRawFor(docs, queryPred, nTerms, index, dict, corpusStats), k)

  /** [[bm25BatchFor]] over a selector (see [[batchKwRawSel]]). */
  private[graft] def bm25BatchSel(docs: DataFrame,
                                  selectQueries: DataFrame => DataFrame,
                                  nTerms: Int = BatchTerms,
                                  k: Int = BatchK,
                                  index: Option[DataFrame] = None,
                                  dict: Option[DataFrame] = None,
                                  corpusStats: Option[DataFrame] = None): DataFrame =
    rankKwScored(batchKwRawSel(docs, selectQueries, nTerms, index, dict, corpusStats), k)

  /** Rank on the ROUNDED score (the output contract's 4dp), doc_id
    * tiebreak — NOT the raw double: raw BM25 sums reassociate under
    * plan changes (join order, artifact vs inline inputs), so two docs
    * equal at 4dp could swap ranks on ulp noise while the oracle's own
    * summation order picked the other — the r9 sf0.1 tie regression.
    * Rounding before the heap makes ties resolve by doc_id identically
    * in both engines, the champion-impact determinism contract.
    */
  private[operators] def rankKwScored(scored: DataFrame, k: Int): DataFrame = {
    scored.groupBy("q_id")
      .agg(topKByScore(round(col("raw_score"), 4), col("doc_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), (col("i") + 1).as("rn"), col("t.id").as("doc_id"),
        round(col("t.score"), 4).as("score"))
      .orderBy("q_id", "rn")
  }

  /** The pre-ranking stage of [[bm25Batch]]: BM25 scores for every
    * (query, matching doc) pair. Shared with the batch hybrid fusion.
    */
  private[operators] def batchKwRaw(docs: DataFrame, stride: Int = BatchStride,
                                    nTerms: Int = BatchTerms): DataFrame =
    batchKwRawFor(docs, col("doc_id") % stride === 0, nTerms)

  /** [[batchKwRaw]] for an arbitrary query-doc predicate — the micro-batch
    * serving entry ([[graft.streaming.ServeStream.bm25Serve]] passes the
    * batch's query ids). Corpus statistics stay GLOBAL (computed over all
    * docs, not the query set), so any query's score is identical whichever
    * batch it arrives in.
    */
  private[graft] def batchKwRawFor(docs: DataFrame, queryPred: Column,
                                   nTerms: Int = BatchTerms,
                                   index: Option[DataFrame] = None,
                                   dict: Option[DataFrame] = None,
                                   corpusStats: Option[DataFrame] = None): DataFrame =
    batchKwRawSel(docs, _.filter(queryPred), nTerms, index, dict, corpusStats)

  /** [[batchKwRawFor]] with the query-doc set chosen by an arbitrary
    * selector — the serving path passes a broadcast SEMI-JOIN of the
    * micro-batch's id frame, so the id set never collects to the driver
    * or inflates into a literal predicate.
    */
  /** The batch-serving postings layout: one row per (doc, term) with the
    * per-doc token length riding along as a column (dl is functionally
    * dependent on doc_id, so the grouping key space is unchanged) — the
    * corpus is tokenized exactly ONCE for everything the batch scorer
    * needs. The inner explode(array(..)) is the Generate barrier that
    * keeps CollapseProject from inlining the tokenizer into both the
    * length and the term projections (the [[termStatsZeroShuffle]]
    * lesson). Materialized per source dir by the serving queries
    * ([[IndexCache]]), transient (localCheckpoint) in the inline forms.
    */
  private[graft] def buildBatchPostings(docs: DataFrame): DataFrame =
    graft.sources.Tables.parallel(docs)
      .select(col("doc_id"), explode(array(tokens(col("text")))).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("double").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** The standing batch-postings table for a source dir ([[IndexCache]])
    * — built once, served by every batch/serving query thereafter.
    */
  private[graft] def cachedBatchPostings(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "kw_batch_postings", dir)(
      buildBatchPostings(Tables.documents(s, dir)))

  /** Standing per-term dictionary `(term, df, ctf)` for a source dir —
    * the vocabulary-sized summary the PRUNED serving paths probe for
    * document frequency (rarest-token query assembly) and collection
    * frequency (the QL collection LM) instead of re-aggregating the
    * full postings artifact once per micro-batch. Derived from (and
    * value-identical to) the postings aggregation the inline forms
    * compute, so oracles are unchanged; at 100 TB this is the term
    * dictionary every inverted index keeps beside its postings
    * ([[IndexRefresh]]'s `dict` file is its refresh-maintained form).
    */
  private[graft] def cachedTermDict(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "kw_term_dict", dir)(
      cachedBatchPostings(s, dir).groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("ctf")))

  /** Standing 1-row corpus stats (n_docs, avgdl over docs with
    * postings) — the other per-batch-invariant the serving paths probe.
    * avg over integral dl doubles is an exact sum/count, so the value
    * is bit-identical to the inline aggregation.
    */
  private[graft] def cachedCorpusStats(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "kw_corpus_stats", dir)(
      cachedBatchPostings(s, dir).groupBy("doc_id").agg(first("dl").as("d"))
        .agg(count(lit(1)).as("n_docs"), avg("d").as("avgdl")))

  /** [[batchQueryDict]] served from the standing dictionary artifact —
    * a |query vocabulary| probe of a |vocab|-row table, no postings
    * pass.
    */
  private[operators] def batchQueryDictFrom(dict: DataFrame,
                                            qtoks: DataFrame): DataFrame =
    dict.join(broadcast(qtoks.select("term").distinct()), Seq("term"))
      .select(col("term"), col("df"))

  /** Query docs' terms from the materialized postings (rows are already
    * distinct (doc, term) pairs); the selector only has to produce ids.
    * Shared by the exact batch scorer and [[ChampionIndex]] so both
    * serve the SAME benchmark queries.
    */
  private[operators] def batchQueryTokens(postings: DataFrame, docs: DataFrame,
                                          selectQueries: DataFrame => DataFrame): DataFrame = {
    val qdocs = selectQueries(docs).select(col("doc_id").as("q_id"))
    postings.join(broadcast(qdocs), col("doc_id") === col("q_id"))
      .select(col("q_id"), col("term"))
  }

  /** df restricted to the query terms — the full vocabulary is never
    * distinct'd or counted in the batch query assembly.
    */
  private[operators] def batchQueryDict(postings: DataFrame, qtoks: DataFrame): DataFrame =
    postings
      .join(broadcast(qtoks.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Rarest-token query assembly on the query sample only: the
    * `nTerms` lowest-df tokens per query doc (df-padded string sort —
    * deterministic, replayed verbatim by the SQL oracles).
    */
  private[operators] def batchQueryTermsFrom(qtoks: DataFrame, qdict: DataFrame,
                                             nTerms: Int): DataFrame =
    qtoks.join(broadcast(qdict), "term")
      .groupBy("q_id")
      .agg(slice(array_sort(collect_list(
        concat(lpad(col("df").cast("string"), 10, "0"), lit("#"), col("term")))),
        1, nTerms).as("padded"))
      .select(col("q_id"), explode(col("padded")).as("p"))
      .select(col("q_id"), substring(col("p"), 12, 1000).as("term"))

  private[graft] def batchKwRawSel(docs: DataFrame,
                                   selectQueries: DataFrame => DataFrame,
                                   nTerms: Int = BatchTerms,
                                   index: Option[DataFrame] = None,
                                   dict: Option[DataFrame] = None,
                                   corpusStats: Option[DataFrame] = None): DataFrame = {
    // Every frame below (stats, query tokens, df dictionary, rarest-term
    // queries, the scoring join itself) derives from ONE materialized
    // postings table — either the standing on-disk index (serving form:
    // compact column-pruned parquet scans, nothing ever re-tokenizes)
    // or a per-call localCheckpoint (inline form: one tokenize pass
    // total). Left fully declarative instead, every consumer re-derived
    // its own corpus pass and the executed plan became the serialized
    // stage tower the r3 bench flagged.
    val postings = index.getOrElse(
      Checkpoints.transient_(buildBatchPostings(docs))) // query-scoped
    // serving path: n_docs/avgdl and per-term df are global index
    // constants — probed from the standing artifacts when provided
    // (same values; no per-batch postings aggregation). Callers may
    // pass them ONLY when `index` is the artifact they summarize.
    val stats = corpusStats.getOrElse(
      postings.groupBy("doc_id").agg(first("dl").as("d"))
        .agg(count(lit(1)).as("n_docs"), avg("d").as("avgdl")))
    val qtoks = batchQueryTokens(postings, docs, selectQueries)
    val qdict = dict.map(batchQueryDictFrom(_, qtoks))
      .getOrElse(batchQueryDict(postings, qtoks))
    val qterms = batchQueryTermsFrom(qtoks, qdict, nTerms)
    val idf = log(lit(1.0) + (col("n_docs") - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5))
    // Fold the per-term idf and the 1-row corpus stats into the tiny
    // (q_id, term) frame BEFORE the postings probe (guide §2.3 "attach
    // small dimensions, then move the big rows once" / §3.1): the
    // matched posting stream then pays ONE broadcast hash probe instead
    // of two term-keyed probes plus a 1-row nested-loop join — measured
    // r15: this span was the largest WSCG in every exact batch/fusion
    // plan. idf/avgdl are the same expressions over the same values
    // (just evaluated per (q_id, term) instead of per matched posting),
    // so every contribution double is bit-identical.
    val qpre = qterms.join(broadcast(qdict), Seq("term"))
      .join(broadcast(stats))
      .select(col("q_id"), col("term"), idf.as("idf"), col("avgdl"))
    val tfD = col("tf").cast("double")
    val scored = postings.join(broadcast(qpre), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      // contributions quantized at 1e-6 inside the fixed-point sum (the
      // champion family's 6dp contribution contract adopted by the
      // exact form, at zero per-row rounding cost) — the per-doc sum is
      // associative: order-free determinism WITH map-side combine (the
      // r11 key-sorted fold doubled this chain's 10x wall time) and
      // exact-vs-pruned comparisons share one contribution definition
      .select(col("q_id"), col("doc_id"),
        (col("idf") * (tfD * (K1 + 1)) /
          (tfD + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("q_id", "doc_id")
      .agg(fixedPointSum6(col("s")).as("raw_score"))
    scored
  }

  /** The CTE chain producing `scored(q_id, doc_id, raw_score)` — shared
    * by [[bm25BatchSql]] and the batch-hybrid oracle.
    */
  private[operators] def batchKwRawSqlCtes(stride: Int, nTerms: Int,
                                           src: String = "documents"): String =
    s"""toked AS (
       |  SELECT doc_id, unnest(${TextAnalysis.sqlToks}) AS term FROM $src),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM postings GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |dict AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toked) GROUP BY 1),
       |qtoks AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(${TextAnalysis.sqlToks})) AS term
       |  FROM $src WHERE doc_id % $stride = 0),
       |qterms AS (
       |  SELECT q_id, substring(p, 12, 1000) AS term
       |  FROM (
       |    SELECT q_id, unnest(
       |      (list_sort(list(lpad(CAST(df AS VARCHAR), 10, '0') || '#' || term)))[1:$nTerms]) AS p
       |    FROM qtoks JOIN dict USING (term)
       |    GROUP BY q_id)),
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
       |  WHERE doc_id <> q_id
       |  GROUP BY q_id, doc_id)""".stripMargin

  def bm25BatchSql(stride: Int = BatchStride, nTerms: Int = BatchTerms,
                   k: Int = BatchK): String =
    s"""WITH ${batchKwRawSqlCtes(stride, nTerms)},
       |ranked AS (
       |  SELECT q_id, doc_id, raw_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY round(raw_score, 4) DESC, doc_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, doc_id, round(raw_score, 4) AS score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  /** Driver query: the SERVING form — batch BM25 over the standing
    * postings artifact (stats domain = full corpus, so results are
    * identical to the inline build; spec-pinned). The oracle re-derives
    * from the raw corpus.
    */
  def batchSearch(s: SparkSession, dir: String): DataFrame =
    bm25BatchFor(Tables.documents(s, dir), col("doc_id") % BatchStride === 0,
      index = Some(cachedBatchPostings(s, dir)),
      dict = Some(cachedTermDict(s, dir)),
      corpusStats = Some(cachedCorpusStats(s, dir)))

  val batchSearchOracle: String = bm25BatchSql()

  // --- wired queries -------------------------------------------------------

  def search(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir), QueryTerms)

  val searchOracle: String = bm25Sql(QueryTerms)

  /** Exact-match metadata filter (SearchFilter.exact_match, ref L511). */
  def searchFilterExact(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir), QueryTerms, docFilter = col("lang") === "en")

  val searchFilterExactOracle: String =
    bm25Sql(QueryTerms, whereSql = "WHERE lang = 'en'")

  /** Fuzzy LIKE filter (SearchFilter.fuzzy_match, ref L514). */
  def searchFilterFuzzy(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir), QueryTerms, docFilter = col("source").like("%1%"))

  val searchFilterFuzzyOracle: String =
    bm25Sql(QueryTerms, whereSql = "WHERE source LIKE '%1%'")

  /** Compound boolean metadata filter — the v4 client's
    * `Filter.all_of` / `Filter.any_of` combinators (same filter surface
    * the reference builds its `SearchFilter` on, ref L495-515): here
    * lang = 'en' AND (source LIKE '%1%' OR n_chars > 300). The whole
    * predicate tree is one Catalyst filter pushed below tokenization —
    * only surviving docs pay the explode, and at the parquet scan the
    * conjunct legs prune row groups via min/max stats.
    */
  def searchFilterCompound(s: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(s, dir), QueryTerms,
      docFilter = col("lang") === "en" &&
        (col("source").like("%1%") || col("n_chars") > 300))

  val searchFilterCompoundOracle: String =
    bm25Sql(QueryTerms,
      whereSql = "WHERE lang = 'en' AND (source LIKE '%1%' OR n_chars > 300)")

  /** Collection doc count (`get_doc_count`, ref L170). */
  def docCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))

  val docCountOracle: String = "SELECT count(*) AS n_docs FROM documents"
}
