package graft.operators

import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch IVF (inverted-file) index build + search — the Spark-native
  * re-derivation of the reference's batch indexing job
  * (`WeaviateIndexer.batch_index_data`, reference
  * `src/database/weaviate_interface_v4.py:409-492`: the Python loop that
  * pushes vectors into the vector DB's ANN index). In Spark the index IS
  * a DataFrame: cell assignments + cell centroids, writable as
  * cell-partitioned parquet so a search only scans probed cells
  * (partition pruning).
  *
  * Cells here are the corpus `label` (the pre-assigned coarse quantizer);
  * a learned quantizer (k-means) would slot in as the assignment step
  * without changing the search plan.
  *
  * Search = (1) score nlist centroids against the query (tiny), (2) take
  * nprobe cells, (3) exact cosine over only those cells' vectors. At 100
  * TB with nlist=4096, nprobe=64 this scans 1.5% of the data, pruned at
  * the parquet-partition level.
  */
object IvfIndex {
  val NProbe = 3
  val TopK = 10

  /** Centroid build: one partial-aggregated shuffle keyed by (cell, dim).
    * Emitted long-form (cell, dim, value) — scalar rows hash-compare
    * robustly and re-assemble cheaply.
    */
  def buildCentroids(embs: DataFrame): DataFrame =
    embs.select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy("cell", "dim")
      .agg(round(avg(col("e").cast("double")), 4).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .orderBy("cell", "dim")

  val buildCentroidsOracle: String =
    """WITH exploded AS (
      |  SELECT label AS cell, generate_subscripts(embedding, 1) - 1 AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS e
      |  FROM embeddings)
      |SELECT cell, dim, round(avg(e), 4) AS centroid, count(*) AS n_vecs
      |FROM exploded
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Centroids as arrays (unrounded) for the search path (also reused by
    * the IVF-PQ composition in [[ProductQuantizer.searchIvfAdc]]).
    */
  def centroidArrays(embs: DataFrame): DataFrame =
    embs
      .select(col("label").as("cell"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy("cell", "dim")
      .agg(avg(col("e").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))

  def search(embs: DataFrame, queryVecId: Long, nprobe: Int = NProbe,
             k: Int = TopK): DataFrame =
    searchFrom(embs, centroidArrays(embs), queryVecId, nprobe, k)

  /** [[search]] probing an EXPLICIT standing centroid table instead of
    * re-deriving centroids inline — the facade's pruned `nearObject`
    * route ([[graft.GraftClient]]): cell ranking is a scan of nlist
    * compact rows against the cached artifact.
    */
  def searchFrom(embs: DataFrame, centroids: DataFrame, queryVecId: Long,
                 nprobe: Int = NProbe, k: Int = TopK): DataFrame = {
    val q = embs.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))
    val probed = centroids
      .join(broadcast(q))
      .select(col("cell"), round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell"))
      .limit(nprobe)
      .select("cell")
    embs.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probed), col("label") === col("cell"))
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  def searchSql(queryVecId: Long, nprobe: Int = NProbe, k: Int = TopK): String =
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId),
       |exploded AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS e
       |  FROM embeddings),
       |cent_long AS (
       |  SELECT cell, dim, avg(e) AS c FROM exploded GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(c ORDER BY dim) AS centroid FROM cent_long GROUP BY cell),
       |probed AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) DESC, cell
       |  LIMIT $nprobe)
       |SELECT vec_id, label,
       |  round(${VectorSearch.cosineSql("embedding", "q_emb")}, 4) AS score
       |FROM embeddings JOIN probed ON label = cell, q
       |WHERE vec_id <> $queryVecId
       |ORDER BY score DESC, vec_id
       |LIMIT $k""".stripMargin

  /** Metadata-FILTERED IVF search — [[VectorSearch.topKFiltered]]'s
    * index-accelerated form (reference `vector_search` `filters=`,
    * `src/database/weaviate_interface_v4.py:250`, combined with the ANN
    * index the way a vector DB evaluates filters DURING the index walk
    * rather than post-hoc over a brute-force scan): centroid ranking
    * stays UNFILTERED (cell geometry is a property of the corpus, not
    * of any one query's filter), the fine scan joins the filter's
    * surviving doc metadata BEFORE the cosine — on the cell-partitioned
    * layout ([[writeIndex]]) the probed cells prune at the file level
    * and only filter survivors pay the arithmetic. Standard recall
    * caveat: a highly selective filter can empty probed cells (the fix
    * is raising nprobe; cutting k post-hoc would UNDER-FILL, not
    * mis-rank). The spec pins full-probe ≡ the brute-force filtered
    * search, the established IVF equivalence pattern.
    */
  def searchFiltered(embs: DataFrame, docs: DataFrame, queryVecId: Long,
                     lang: String = "en", nprobe: Int = NProbe,
                     k: Int = TopK): DataFrame = {
    val q = embs.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))
    val probed = centroidArrays(embs)
      .join(broadcast(q))
      .select(col("cell"), round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell"))
      .limit(nprobe)
      .select("cell")
    embs
      .join(docs.filter(col("lang") === lang).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probed), col("label") === col("cell"))
      .join(broadcast(q))
      .select(col("vec_id"), col("lang"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  def searchFilteredSql(queryVecId: Long, lang: String = "en",
                        nprobe: Int = NProbe, k: Int = TopK): String =
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId),
       |exploded AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS e
       |  FROM embeddings),
       |cent_long AS (
       |  SELECT cell, dim, avg(e) AS c FROM exploded GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(c ORDER BY dim) AS centroid FROM cent_long GROUP BY cell),
       |probed AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) DESC, cell
       |  LIMIT $nprobe)
       |SELECT vec_id, lang,
       |  round(${VectorSearch.cosineSql("embedding", "q_emb")}, 4) AS score
       |FROM embeddings JOIN probed ON label = cell
       |  JOIN documents ON vec_id = doc_id, q
       |WHERE lang = '$lang' AND vec_id <> $queryVecId
       |ORDER BY score DESC, vec_id
       |LIMIT $k""".stripMargin

  def qSearchFiltered(s: SparkSession, dir: String): DataFrame =
    searchFiltered(Tables.embeddings(s, dir), Tables.documents(s, dir),
      VectorSearch.QueryVecId)

  val qSearchFilteredOracle: String = searchFilteredSql(VectorSearch.QueryVecId)

  /** Filtered search over the MATERIALIZED cell-partitioned index: the
    * nprobe cell predicate prunes the parquet scan at the partition
    * level (spec asserts PartitionFilters on the executed scan), then
    * only the probed cells' rows join the metadata filter's survivors
    * and pay the cosine — the filtered-ANN serving read path a deployed
    * vector DB runs most. Output shape = [[searchFiltered]].
    */
  def searchIndexFiltered(spark: SparkSession, path: String, docs: DataFrame,
                          qEmb: DataFrame, cells: Seq[Int],
                          lang: String = "en", k: Int = TopK,
                          excludeVecId: Option[Long] = None): DataFrame =
    spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
      .filter(excludeVecId.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .join(docs.filter(col("lang") === lang).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .join(broadcast(qEmb))
      .select(col("vec_id"), col("lang"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)

  /** Driver query: the materialized FILTERED IVF search — cell ranking
    * probes the standing centroid artifact ([[cachedCentroids]]), the
    * fine scan reads only the nprobe pruned partitions of the standing
    * cell layout ([[writeIndex]]). The registered oracle IS the inline
    * filtered SQL ([[qSearchFilteredOracle]]): the partition-pruned
    * on-disk path must reproduce the in-memory filtered search exactly.
    */
  def qSearchFilteredMaterialized(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val path = IndexCache.getOrBuild("ivf_idx", dir)(writeIndex(e, _))
    val q = e.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val cells = cachedCentroids(s, dir).join(broadcast(q))
      .select(col("cell"),
        round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell")).limit(NProbe)
      .collect().map(_.getInt(0))
    searchIndexFiltered(s, path, Tables.documents(s, dir), q, cells.toSeq,
      excludeVecId = Some(VectorSearch.QueryVecId))
  }

  /** Single-request IVF search over an arbitrary 1-row query frame
    * `q(q_emb)` — the facade's pruned `vectorSearch` route
    * ([[graft.GraftClient]] `indexMode = "pruned"`): centroid ranking
    * against the standing centroid table, nprobe cells, exact cosine
    * over the probed cells' vectors only, with the metadata filter
    * evaluated DURING the walk (the [[searchFiltered]] convention —
    * same recall caveat: a selective filter empties probed cells,
    * raise nprobe). Output shape matches the facade's exact route
    * (doc_id, source, lang, score).
    */
  private[graft] def searchPrunedWithQuery(embs: DataFrame, docs: DataFrame,
                                           q: DataFrame, centroids: DataFrame,
                                           nprobe: Int = NProbe, k: Int = TopK,
                                           docFilter: org.apache.spark.sql.Column =
                                             lit(true)): DataFrame =
    prunedScoredWithQuery(embs, docs, q, centroids, nprobe, docFilter)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** The pre-ranking stage of [[searchPrunedWithQuery]] — the probed
    * cells' scored-candidate stream `(doc_id, source, lang, score)`,
    * exposed so grouped/autocut pages consume the IVF walk's candidates
    * instead of re-scanning the corpus (the r13 "grouped search only on
    * the brute-force path" gap).
    */
  private[graft] def prunedScoredWithQuery(embs: DataFrame, docs: DataFrame,
                                           q: DataFrame, centroids: DataFrame,
                                           nprobe: Int = NProbe,
                                           docFilter: org.apache.spark.sql.Column =
                                             lit(true)): DataFrame = {
    val probed = centroids.join(broadcast(q))
      .select(col("cell"),
        round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell"))
      .limit(nprobe)
      .select("cell")
    embs.join(broadcast(probed), col("label") === col("cell"))
      .join(docs.filter(docFilter).select(col("doc_id"), col("source"), col("lang")),
        col("vec_id") === col("doc_id"))
      .join(broadcast(q))
      .select(col("doc_id"), col("source"), col("lang"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
  }

  // --- grouped search / autocut through the IVF walk (r13 task #5) -----------

  /** GroupBy riding the IVF candidate stream — the index-mode form of
    * [[VectorSearch.topKGrouped]]: nprobe probed cells' vectors are the
    * ONLY candidates (the corpus never pays a full scan), the per-group
    * bounded heap and group ranking run over that stream. At 100 TB
    * this is how a deployed vector DB serves `GroupBy` — through its
    * ANN index.
    */
  def searchGroupedPruned(embs: DataFrame, docs: DataFrame,
                          queryVecId: Long = VectorSearch.QueryVecId,
                          groups: Int = VectorSearch.GroupsLimit,
                          perGroup: Int = VectorSearch.ObjectsPerGroup,
                          nprobe: Int = NProbe,
                          centroids: Option[DataFrame] = None): DataFrame = {
    val q = embs.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val scored = prunedScoredWithQuery(
        embs.filter(col("vec_id") =!= queryVecId), docs, q,
        centroids.getOrElse(centroidArrays(embs)), nprobe)
      .select(col("source"), col("doc_id").as("vec_id"), col("score"))
    VectorSearch.groupedFromScored(scored, groups, perGroup)
  }

  /** Autocut windowing over the IVF walk's top-C page — the index-mode
    * form of [[VectorSearch.topKAutocut]]: candidates come from the
    * probed cells only, the gap/jump cut runs over that bounded page.
    */
  def searchAutocutPruned(embs: DataFrame,
                          queryVecId: Long = VectorSearch.QueryVecId,
                          candidates: Int = VectorSearch.AutocutCandidates,
                          jumps: Int = VectorSearch.AutocutJumps,
                          nprobe: Int = NProbe,
                          centroids: Option[DataFrame] = None): DataFrame =
    VectorSearch.autocutFromCand(
      searchFrom(embs, centroids.getOrElse(centroidArrays(embs)),
        queryVecId, nprobe, candidates),
      jumps)

  /** Driver query: grouped search through the IVF walk. Oracle replays
    * the cell probe (label-mean centroids, 6dp cscore, cell tiebreak)
    * and the group-by over the probed candidate set only.
    */
  def qSearchGroupedPruned(s: SparkSession, dir: String): DataFrame =
    searchGroupedPruned(Tables.embeddings(s, dir), Tables.documents(s, dir))

  val qSearchGroupedPrunedOracle: String = {
    val qv = VectorSearch.QueryVecId
    val scoredSql =
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $qv),
         |exploded AS (
         |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS e
         |  FROM embeddings),
         |cent_long AS (
         |  SELECT cell, dim, avg(e) AS c FROM exploded GROUP BY 1, 2),
         |cent AS (
         |  SELECT cell, list(c ORDER BY dim) AS centroid FROM cent_long GROUP BY cell),
         |probed AS (
         |  SELECT cell FROM cent, q
         |  ORDER BY round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) DESC, cell
         |  LIMIT $NProbe)
         |SELECT source, vec_id,
         |  round(${VectorSearch.cosineSql("embedding", "q_emb")}, 4) AS score
         |FROM embeddings JOIN probed ON label = cell
         |  JOIN documents ON vec_id = doc_id, q
         |WHERE vec_id <> $qv""".stripMargin
    VectorSearch.groupedSqlOver(scoredSql,
      VectorSearch.GroupsLimit, VectorSearch.ObjectsPerGroup)
  }

  /** Driver query: autocut through the IVF walk. Oracle replays the
    * probe-limited top-C page, then the gap/jump windowing over it.
    */
  def qSearchAutocutPruned(s: SparkSession, dir: String): DataFrame =
    searchAutocutPruned(Tables.embeddings(s, dir))

  val qSearchAutocutPrunedOracle: String =
    VectorSearch.autocutSqlOver(
      searchSql(VectorSearch.QueryVecId, NProbe, VectorSearch.AutocutCandidates),
      Seq("vec_id", "label", "score"), VectorSearch.AutocutJumps)

  // --- grouped search / autocut BATCH serving forms (r14 task #4) -----------

  /** The batch IVF walk's scored candidate stream carrying the group
    * property: `(q_id, source, vec_id, score)` over each query's
    * nprobe probed cells only — the shared first stage of the batch
    * grouped form and its micro-batch serving twin. Scores are rounded
    * at the stream edge (the [[VectorSearch.topKGrouped]] convention)
    * so heap and oracle tie orders agree.
    */
  private[graft] def batchScoredWithSource(embs: DataFrame, docs: DataFrame,
                                           selectQueries: DataFrame => DataFrame,
                                           nprobe: Int = NProbe,
                                           centroids: Option[DataFrame] = None): DataFrame = {
    val queries = selectQueries(embs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = centroids
      .map(c => batchProbedCellsFrom(c, queries, nprobe))
      .getOrElse(batchProbedCells(embs, queries, nprobe))
    // queries folded into the probe frame pre-fan-out (r15, guide §2.3)
    embs.join(broadcast(probed.join(queries, Seq("q_id"))),
        col("label") === col("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(docs.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("q_id"), col("source"), col("vec_id"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
  }

  /** BATCH grouped search through the IVF walk — 17g's batch twin
    * (the single → batch → stream closure every other search family
    * has): each query's probed-cell candidates flow through the
    * per-(q_id, source) bounded heaps and per-query group ranking of
    * [[VectorSearch.batchGroupedFromScored]].
    */
  def batchSearchGrouped(embs: DataFrame, docs: DataFrame,
                         selectQueries: DataFrame => DataFrame,
                         groups: Int = VectorSearch.GroupsLimit,
                         perGroup: Int = VectorSearch.ObjectsPerGroup,
                         nprobe: Int = NProbe,
                         centroids: Option[DataFrame] = None): DataFrame =
    VectorSearch.batchGroupedFromScored(
      batchScoredWithSource(embs, docs, selectQueries, nprobe, centroids),
      groups, perGroup)

  /** BATCH autocut through the IVF walk — per-query gap/jump windowing
    * over each query's probe-limited top-C page
    * ([[VectorSearch.batchAutocutFromCand]]).
    */
  def batchSearchAutocut(embs: DataFrame,
                         selectQueries: DataFrame => DataFrame,
                         candidates: Int = VectorSearch.AutocutCandidates,
                         jumps: Int = VectorSearch.AutocutJumps,
                         nprobe: Int = NProbe,
                         centroids: Option[DataFrame] = None): DataFrame =
    VectorSearch.batchAutocutFromCand(
      batchSearchIvf(embs, selectQueries, nprobe, candidates, centroids)
        .select(col("q_id"), col("vec_id"), col("score")),
      jumps)

  /** Driver query: batch grouped search over the standing centroid
    * artifact. Oracle replays the per-query cell probe and the grouped
    * post-stage over the probed candidate stream.
    */
  def qBatchSearchGrouped(s: SparkSession, dir: String): DataFrame =
    batchSearchGrouped(Tables.embeddings(s, dir), Tables.documents(s, dir),
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0),
      centroids = Some(cachedCentroids(s, dir)))

  /** The batch probed-cell scored-candidate SQL (with source) the
    * grouped oracle and the serving gate's oracle share.
    */
  private[graft] def batchScoredWithSourceSql(queriesWhere: String,
                                              nprobe: Int = NProbe): String =
    s"""WITH ${batchProbedSqlCtes(queriesWhere, nprobe)}
       |SELECT p.q_id, d.source, e.vec_id,
       |  round(${VectorSearch.cosineSql("e.embedding", "q.q_emb")}, 4) AS score
       |FROM embeddings e
       |JOIN probed p ON e.label = p.cell
       |JOIN queries q ON q.q_id = p.q_id
       |JOIN documents d ON e.vec_id = d.doc_id
       |WHERE e.vec_id <> p.q_id""".stripMargin

  val qBatchSearchGroupedOracle: String =
    VectorSearch.batchGroupedSqlOver(
      batchScoredWithSourceSql(s"vec_id % ${VectorSearch.BatchStride} = 0"),
      VectorSearch.GroupsLimit, VectorSearch.ObjectsPerGroup)

  /** Driver query: batch autocut over the standing centroid artifact.
    * Oracle replays each query's probe-limited top-C page, then the
    * per-query gap/jump windowing.
    */
  def qBatchSearchAutocut(s: SparkSession, dir: String): DataFrame =
    batchSearchAutocut(Tables.embeddings(s, dir),
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0),
      centroids = Some(cachedCentroids(s, dir)))

  val qBatchSearchAutocutOracle: String =
    VectorSearch.batchAutocutSqlOver(
      s"""SELECT q_id, vec_id, score FROM (
         |${batchSearchIvfSql(VectorSearch.BatchStride, NProbe, VectorSearch.AutocutCandidates)}
         |) p""".stripMargin,
      Seq("vec_id", "score"), VectorSearch.AutocutJumps)

  /** Learned coarse quantizer: k-means cell assignment (the drop-in
    * replacement for the pre-assigned `label` cells — same search plan,
    * cells now data-driven). Seeded for reproducibility; training is one
    * MLlib job over a sample, assignment is a model broadcast + map.
    */
  def assignKmeansCells(embs: DataFrame, nlist: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = embs.withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell").fit(feat)
    model.transform(feat)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** IVF search over k-means cells: centroid ranking → nprobe cells →
    * exact cosine, identical plan shape to [[search]].
    */
  def searchKmeans(embs: DataFrame, queryVecId: Long, nlist: Int,
                   nprobe: Int, k: Int = TopK, seed: Long = 42L): DataFrame = {
    val assigned = assignKmeansCells(embs, nlist, seed)
    val q = embs.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))
    val cents = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy("cell", "dim").agg(avg(col("e").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))
    val probed = cents.join(broadcast(q))
      .select(col("cell"), round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell"))
      .limit(nprobe)
      .select("cell")
    assigned.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(probed), Seq("cell"))
      .join(broadcast(q))
      .select(col("vec_id"), col("cell"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  // --- batch (multi-query) IVF search --------------------------------------

  /** Per-query probed cells: (q_id, cell). The centroid table is nlist
    * rows, so the ranking join is nlist × |queries| rows — tiny at any
    * corpus scale (nlist=4096, 1k queries → 4M cheap rows); top-nprobe
    * per query runs through the bounded heap.
    */
  def batchProbedCells(embs: DataFrame, queries: DataFrame,
                       nprobe: Int = NProbe): DataFrame =
    batchProbedCellsFrom(centroidArrays(embs), queries, nprobe)

  /** [[batchProbedCells]] over an explicit centroid table — the serving
    * form probes the standing materialized centroids
    * ([[writeCentroids]]) so cell ranking is a scan of nlist compact
    * rows, never a corpus-wide re-derivation.
    */
  def batchProbedCellsFrom(cents: DataFrame, queries: DataFrame,
                           nprobe: Int = NProbe): DataFrame =
    cents.join(broadcast(queries))
      .select(col("q_id"),
        round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"),
        col("cell"))
      .groupBy("q_id")
      .agg(topKByScore(col("cscore"), col("cell").cast("long"), nprobe).as("cells"))
      .select(col("q_id"), explode(col("cells")).as("t"))
      .select(col("q_id"), col("t.id").cast("int").as("cell"))

  /** Materialize the coarse-quantizer centroids (nlist rows) — the tiny
    * standing artifact every serving-path cell ranking probes.
    */
  def writeCentroids(embs: DataFrame, path: String): Unit =
    centroidArrays(embs).write.mode("overwrite").parquet(path)

  /** The standing centroid table for a source dir ([[IndexCache]]). */
  private[graft] def cachedCentroids(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "ivf_centroids", dir)(
      centroidArrays(Tables.embeddings(s, dir)))

  /** Multi-query IVF search — the INDEX-ACCELERATED serving/backfill
    * path ([[VectorSearch.batchTopK]] is the brute-force form: every
    * query scans the whole corpus; the continuously-running serving path
    * must not). Each query is assigned its nprobe cells, the corpus
    * joins the broadcast (q_id, cell) pairs on the cell key — scanning
    * only nprobe/nlist of the data per query (and partition-pruning on
    * disk when the corpus is the cell-partitioned materialized index) —
    * then the existing per-query bounded heap ranks. Same output shape
    * as [[VectorSearch.batchTopK]].
    */
  def batchSearchIvf(embs: DataFrame,
                     selectQueries: DataFrame => DataFrame,
                     nprobe: Int = NProbe,
                     k: Int = VectorSearch.BatchK,
                     centroids: Option[DataFrame] = None): DataFrame = {
    val queries = selectQueries(embs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = centroids
      .map(c => batchProbedCellsFrom(c, queries, nprobe))
      .getOrElse(batchProbedCells(embs, queries, nprobe))
    // queries folded into the probe frame pre-fan-out (r15, guide §2.3)
    embs.join(broadcast(probed.join(queries, Seq("q_id"))),
        col("label") === col("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("embedding"), col("q_emb")).as("raw_score"))
      .groupBy("q_id")
      .agg(topKByScore(col("raw_score"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), (col("i") + 1).as("rn"), col("t.id").as("vec_id"),
        round(col("t.score"), 4).as("score"))
      .orderBy("q_id", "rn")
  }

  /** Shared oracle CTEs for the per-query cell ranking (replays
    * [[batchProbedCells]]: same centroid math, same 6dp rounding, same
    * (cscore DESC, cell) tie order as the heap).
    */
  private[operators] def batchProbedSqlCtes(queriesWhere: String,
                                            nprobe: Int,
                                            embs: String = "embeddings"): String =
    s"""queries AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM $embs WHERE $queriesWhere),
       |cexp AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS ev
       |  FROM $embs),
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
       |  WHERE crn <= $nprobe)""".stripMargin

  def batchSearchIvfSql(stride: Int = VectorSearch.BatchStride,
                        nprobe: Int = NProbe,
                        k: Int = VectorSearch.BatchK): String =
    s"""WITH ${batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe)},
       |scored AS (
       |  SELECT p.q_id, e.vec_id,
       |    ${VectorSearch.cosineSql("e.embedding", "q.q_emb")} AS raw_score
       |  FROM embeddings e
       |  JOIN probed p ON e.label = p.cell
       |  JOIN queries q ON q.q_id = p.q_id
       |  WHERE e.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, raw_score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY raw_score DESC, vec_id) AS rn
       |  FROM scored
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, vec_id, round(raw_score, 4) AS score
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  def qBatchSearch(s: SparkSession, dir: String): DataFrame =
    batchSearchIvf(Tables.embeddings(s, dir),
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0))

  val qBatchSearchOracle: String = batchSearchIvfSql()

  /** Batch IVF search over the MATERIALIZED cell-partitioned index: the
    * broadcast (q_id, cell) probe pairs join the on-disk layout on its
    * PARTITION column, so DYNAMIC partition pruning restricts the file
    * scan to the probed cells — the fully-distributed 100 TB serving
    * read path (no driver-side cell collect anywhere; contrast the
    * single-query [[qSearchMaterialized]], which materializes its one
    * probe list on the driver). Spec asserts the dynamic-pruning
    * predicate on the executed scan and bitwise equality with the
    * in-memory [[batchSearchIvf]].
    */
  def batchSearchIndex(spark: SparkSession, path: String, embs: DataFrame,
                       selectQueries: DataFrame => DataFrame,
                       nprobe: Int = NProbe,
                       k: Int = VectorSearch.BatchK): DataFrame = {
    val queries = selectQueries(embs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = batchProbedCells(embs, queries, nprobe)
    // queries folded into the probe frame pre-fan-out (r15, guide §2.3)
    spark.read.parquet(path)
      .join(broadcast(probed.join(queries, Seq("q_id"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("embedding"), col("q_emb")).as("raw_score"))
      .groupBy("q_id")
      .agg(topKByScore(col("raw_score"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), (col("i") + 1).as("rn"), col("t.id").as("vec_id"),
        round(col("t.score"), 4).as("score"))
      .orderBy("q_id", "rn")
  }

  /** Driver query: the materialized batch-IVF search; the registered
    * oracle IS the inline batch-IVF SQL — the dynamically-pruned
    * on-disk path must reproduce it exactly.
    */
  def qBatchSearchMaterialized(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val path = IndexCache.getOrBuild("ivf_idx", dir)(writeIndex(e, _))
    batchSearchIndex(s, path, e,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0))
  }

  /** Materialize the IVF index as CELL-PARTITIONED parquet: searches that
    * probe nprobe cells read only those directories (partition pruning at
    * the file-listing level — the 100 TB point of an IVF layout).
    */
  def writeIndex(embs: DataFrame, path: String): Unit =
    embs.select(col("vec_id"), col("embedding"), col("label").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Search the materialized index: cell filter prunes partitions. */
  def searchIndex(spark: SparkSession, path: String, qEmb: DataFrame,
                  cells: Seq[Int], k: Int = TopK,
                  excludeVecId: Option[Long] = None): DataFrame =
    spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
      .filter(excludeVecId.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .join(broadcast(qEmb))
      .select(col("vec_id"), col("cell"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)

  def qBuild(s: SparkSession, dir: String): DataFrame = buildCentroids(Tables.embeddings(s, dir))
  def qSearch(s: SparkSession, dir: String): DataFrame =
    search(Tables.embeddings(s, dir), VectorSearch.QueryVecId)
  val qSearchOracle: String = searchSql(VectorSearch.QueryVecId)

  /** The materialized-index search is the SAME query over the cell
    * layout (cell == label by construction), so its oracle is
    * [[searchSql]] with the column renamed — the correctness gate
    * proves the on-disk pruned path reproduces the inline search.
    */
  val qSearchMaterializedOracle: String =
    searchSql(VectorSearch.QueryVecId)
      .replace("SELECT vec_id, label,", "SELECT vec_id, label AS cell,")

  /** Rows-only driver query: materialize the cell-partitioned index,
    * rank centroids, then search ONLY the nprobe pruned partitions on
    * disk (the spec asserts PartitionFilters; the driver sees the same
    * top-k the in-memory `ivf_search` oracle checks).
    */
  def qSearchMaterialized(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val path = IndexCache.getOrBuild("ivf_idx", dir)(writeIndex(e, _))
    val q = e.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val cells = centroidArrays(e).join(broadcast(q))
      .select(col("cell"),
        round(cosineSim(col("centroid"), col("q_emb")), 6).as("cscore"))
      .orderBy(desc("cscore"), asc("cell")).limit(NProbe)
      .collect().map(_.getInt(0))
    searchIndex(s, path, q, cells.toSeq,
      excludeVecId = Some(VectorSearch.QueryVecId))
  }
}
