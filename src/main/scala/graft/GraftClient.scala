package graft

import graft.functions.VectorFunctions._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-shaped client facade — the method-for-method counterpart of
  * the reference's `WeaviateWCS` client
  * (`src/database/weaviate_interface_v4.py`): a user of the reference
  * switches by replacing the Weaviate client object with this one and
  * keeping their call sites (`keyword_search` → [[keywordSearch]],
  * `vector_search` → [[vectorSearch]], `hybrid_search` →
  * [[hybridSearch]], `get_doc_count` → [[getDocCount]],
  * `show_all_collections` → [[showAllCollections]]); `filter=` maps to a
  * Catalyst predicate `Column`, `return_properties` to `.select`.
  *
  * The query-embedding slot (`_create_query_vector`, ref L289) is the
  * deterministic hashing featurizer ([[operators.Embedder.embed]])
  * standing in for the SentenceTransformer call — with a served model
  * the produced column has the same shape and everything downstream is
  * unchanged.
  *
  * `indexMode` mirrors the collection's index settings the reference
  * surfaces through `show_collection_config` ([[operators.Catalog
  * .collectionConfig]]'s `vector_index`/`inverted_index` rows): with
  * [[GraftClient.IndexExact]] (default) every search scans the corpus
  * exactly; with [[GraftClient.IndexPruned]] `keywordSearch` routes to
  * the champion-list artifact ([[operators.ChampionIndex]]) and
  * `hybridSearch` to the doubly-pruned IVF×champion fusion
  * ([[operators.HybridSearch.fusedPrunedWithQuery]]) — per-request cost
  * independent of corpus size, the deployed-index behavior a Weaviate
  * collection config selects. With [[GraftClient.IndexRefreshed]] every
  * search serves from the INCREMENTALLY-REFRESHED artifacts
  * ([[operators.IndexRefresh]] / [[operators.VectorRefresh]] — the LSM
  * segment layouts a deployment that appends daily maintains): keyword
  * probes the refreshed champion views with probe-time idf, vector
  * probes the merged serving centroids + live cells, hybrid fuses both
  * refreshed legs. The refreshed mode's corpus state is the artifact's
  * (the current snapshot of the diff convention — in a deployment, the
  * table and the artifact describe the same state). Spec-pinned: each
  * routing reproduces its oracle-gated operator.
  *
  * A client serves one collection as it stands: the schemas of
  * `documents` and `embeddings` are resolved once and fixed for the
  * client's lifetime, like [[corpusDim]] and the standing artifacts
  * keyed on `dir`, so a request lists the table files but launches no
  * schema-inference job.
  */
class GraftClient(spark: SparkSession, dir: String, embedDim: Int = 64,
                  indexMode: String = GraftClient.IndexExact) {
  require(GraftClient.IndexModes.contains(indexMode),
    s"unknown indexMode '$indexMode' — one of ${GraftClient.IndexModes.mkString(", ")}")

  private lazy val schemas = Seq("documents", "embeddings")
    .map(n => n -> Tables(spark, dir, n).schema).toMap
  private def table(name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
  private def docs: DataFrame = table("documents")
  private def embs: DataFrame = table("embeddings")
  private def pruned: Boolean = indexMode == GraftClient.IndexPruned
  private def refreshed: Boolean = indexMode == GraftClient.IndexRefreshed
  private def quantized: Boolean = indexMode == GraftClient.IndexQuantized
  /** Quantized mode IS a refreshed-layout mode for everything but the
    * vector read: the quantized artifact is the refreshable LSM layout
    * with a codebook at its root, and the keyword side has no
    * byte-code analog — so the keyword routes, the serving universe,
    * and the as-of pin semantics are the refreshed family's, while
    * vector/hybrid reads serve from PQ codes.
    */
  private def refreshedFamily: Boolean = refreshed || quantized
  /** The refreshed mode's serving universe: the refreshable artifacts'
    * corpus state (the diff convention's current snapshot). EVERY
    * refreshed-mode path — including the exact fallbacks a filter or a
    * multi-property request takes — must serve this universe, or a
    * filtered request could return documents the index has deleted.
    */
  private def currDocs: DataFrame = CorpusOps.currSnapshot(docs)
  private def currEmbs: DataFrame = VectorRefresh.currSnapshot(embs)
  /** The corpus universe of the collection's index mode. */
  private def modeDocs: DataFrame = if (refreshedFamily) currDocs else docs
  private def modeEmbs: DataFrame = if (refreshedFamily) currEmbs else embs

  /** An as-of pin is a REFRESHED-mode read of the layout at a past
    * commit ([[operators.IndexRefresh]]'s time-travel contract:
    * segments and tombstone batches at or below the pinned id) — the
    * reproducible-serving / incident-replay read the r10 operator
    * surface exposed (13l/20c/15h), now reachable from the facade a
    * user actually holds. Rejected outside refreshed mode: the exact
    * and champion paths have no commit log to pin.
    */
  private def requireAsOfMode(asOf: Option[Int]): Unit =
    require(asOf.isEmpty || refreshedFamily,
      s"asOf pins require indexMode='${GraftClient.IndexRefreshed}' — " +
        s"mode '$indexMode' has no commit log to pin")

  /** The document universe a pinned read serves: metadata joins must
    * come from the SAME corpus state the pinned segments index, or a
    * time-traveled result would carry post-pin properties (or lose
    * rows). The facade's refreshable artifacts follow the snapshot-diff
    * build (segment 0 = previous snapshot, segment 1 = the refresh), so
    * a pin below the refresh maps to the previous snapshot; in a
    * deployment the caller supplies the table version paired with the
    * commit (Delta/Iceberg table time travel next to the index pin).
    */
  private def asOfDocs(asOf: Option[Int], artifact: => String): DataFrame = {
    // the <1 split is correct ONLY for the facade's fixed two-segment
    // artifact (seg 0 = previous snapshot, seg 1 = the one refresh); on
    // a layout with more refresh segments an INTERMEDIATE pin would
    // time-travel the index legs correctly while this joined the wrong
    // (current) document universe — refuse loudly instead of serving a
    // silently-mixed read (a deployment pairs each intermediate commit
    // with its own table version; the facade has only the two).
    // `artifact` is the layout the request actually READS (by-name: an
    // unpinned call never lists it) — an earlier form validated every
    // pin against the keyword artifact, so a vector-only pinned read
    // paid a keyword refreshed-artifact build just to check the pin.
    asOf.foreach { a =>
      val maxSeg = maxSegOf(artifact)
      require(a <= 0 || a >= maxSeg,
        s"asOf=$a pins between the facade's two corpus snapshots " +
          s"(segments 0..$maxSeg) — only a <= 0 (previous snapshot) or " +
          s">= $maxSeg (current) pin has a matching document universe")
    }
    if (asOf.exists(_ < 1)) CorpusOps.prevSnapshot(docs) else currDocs
  }

  /** Highest committed segment id per artifact path, memoized for the
    * client's lifetime (the facade's artifacts are built once per dir —
    * repeated pinned calls must not re-list segment dirs per request).
    * An empty layout is refused with a clear message instead of the
    * opaque `UnsupportedOperationException` a bare `.max` throws.
    */
  private val maxSegMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def maxSegOf(path: String): Int =
    maxSegMemo.computeIfAbsent(path, p => {
      val segs = IndexRefresh.segmentIds(p)
      require(segs.nonEmpty,
        s"asOf pin rejected: refreshed layout at '$p' has no committed " +
          "segments to pin")
      Integer.valueOf(segs.max)
    }).intValue

  /** The reference tokenizes the request server-side; same split as the
    * corpus tokenizer, duplicates collapsed.
    */
  private def requestTerms(request: String): Seq[String] =
    request.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq

  /** Corpus vector dimension, checked once — a query embedded at the
    * wrong width would otherwise score over the truncated common prefix
    * silently (CosineSimilarity sums min(len) elements).
    */
  private lazy val corpusDim: Int =
    embs.select(size(col("embedding"))).head().getInt(0)

  private def requestVector(request: String): DataFrame = {
    require(embedDim == corpusDim,
      s"embedDim=$embedDim does not match the corpus dimension $corpusDim")
    spark.range(1).select(
      Embedder.embed(lit(request), embedDim).cast("array<float>").as("q_emb"))
  }

  /** `keyword_search(request, query_properties, limit, filter)` — BM25
    * over the corpus. `queryProperties` accepts the reference's
    * `field^boost` syntax (ref L213: `['content','title^2']`); multiple
    * or boosted fields route to the BM25F scorer.
    */
  def keywordSearch(request: String, limit: Int = 10,
                    filter: Column = lit(true),
                    queryProperties: Seq[String] = Seq("text"),
                    asOf: Option[Int] = None): DataFrame = {
    requireAsOfMode(asOf)
    val fields = queryProperties.map { p =>
      p.split("\\^") match {
        case Array(f, b) if scala.util.Try(b.toDouble).isSuccess => f -> b.toDouble
        case Array(f) => f -> 1.0
        case _ => throw new IllegalArgumentException(
          s"malformed query property '$p' — expected 'field' or 'field^boost'")
      }
    }
    if (fields == Seq("text" -> 1.0)) {
      // quantized mode serves keyword requests from the SAME refreshed
      // keyword artifact (PQ is a vector-tier setting)
      if (refreshedFamily) {
        val path = IndexRefresh.refreshedArtifact(spark, dir)
        IndexRefresh.search(spark, path,
          asOfDocs(asOf, path), requestTerms(request), limit,
          docFilter = filter, asOf = asOf)
      }
      else if (pruned)
        ChampionIndex.bm25ChampionFiltered(docs,
          ChampionIndex.cachedChampions(spark, dir),
          requestTerms(request), limit, filter)
      else KeywordSearch.bm25(docs, requestTerms(request), limit, filter)
    } else
      // the champion artifact indexes the content field only; boosted
      // multi-property requests take the exact BM25F path in every mode
      // — over the MODE's corpus universe, so the refreshed fallback
      // never surfaces rows the refreshed index has deleted. A PINNED
      // request is servable here too: BM25F is a corpus scan, not an
      // index-artifact read, so "as of commit r" is exactly the scan
      // over the pin's document universe (asOfDocs guards the pin
      // against the intermediate-segment universe mismatch) — the
      // multi-property twin of the filtered pinned hybrid walk.
      KeywordSearch.bm25MultiField(
        (if (asOf.nonEmpty)
          // the corpus-scan path has no artifact read of its own; the
          // pin validates against the facade's keyword commit log
          asOfDocs(asOf, IndexRefresh.refreshedArtifact(spark, dir))
        else modeDocs).filter(filter),
        requestTerms(request), fields, limit)
  }

  /** `return_properties` — project a search result to the requested
    * properties (score always rides along, as the reference's metadata
    * does).
    */
  def withProperties(result: DataFrame, properties: Seq[String]): DataFrame =
    result.select((properties.filterNot(_ == "score") :+ "score").map(col): _*)

  /** `vector_search(request, limit, filter)` — near-vector over the
    * embedded request; the metadata filter prunes before scoring.
    * Pruned mode routes through the standing IVF centroids: nprobe
    * cells ranked against the request, only those cells' vectors pay
    * the cosine, the filter evaluated during the walk (the deployed
    * ANN read path; recall knob = nprobe, as in Weaviate's index
    * config).
    */
  def vectorSearch(request: String, limit: Int = 10,
                   filter: Column = lit(true),
                   asOf: Option[Int] = None): DataFrame = {
    requireAsOfMode(asOf)
    if (quantized) {
      // the byte-code read: nprobe cells of the quantized layout's
      // merged centroids, m-byte code scan, filter survivors join
      // BEFORE the ADC table-lookup sum (20g's discipline, any
      // predicate); page presents as similarity = -adc
      val path = VectorRefresh.quantizedArtifact(spark, dir)
      VectorRefresh.requestSearchQuantized(spark, path, asOfDocs(asOf, path),
        requestVector(request), k = limit, docFilter = filter, asOf = asOf)
    }
    else if (refreshed) {
      val path = VectorRefresh.refreshedArtifact(spark, dir)
      VectorRefresh.requestSearch(spark, path, asOfDocs(asOf, path),
        requestVector(request), k = limit, docFilter = filter, asOf = asOf)
    }
    else if (pruned)
      IvfIndex.searchPrunedWithQuery(embs, docs, requestVector(request),
        IvfIndex.cachedCentroids(spark, dir), k = limit, docFilter = filter)
    else
      embs
        .join(docs.filter(filter).select(col("doc_id"), col("source"), col("lang")),
          col("vec_id") === col("doc_id"))
        .join(broadcast(requestVector(request)))
        .select(col("doc_id"), col("source"), col("lang"),
          round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(limit)
  }

  /** `vector_search(..., group_by=GroupBy(prop, n_groups, per_group))`
    * — near-vector with result grouping THROUGH the collection's index
    * mode (r13 verdict "What's missing" #1: GroupBy previously existed
    * only on the exact brute-force path, so a grouped page in an index
    * mode would have re-scanned the corpus). Candidate stream per
    * mode: exact = the full filtered corpus scan; pruned = the IVF
    * walk's probed cells against the standing centroid artifact;
    * refreshed = the merged-centroid walk over live vectors; quantized
    * = the ADC byte-code walk (score = −adc, no full-precision vector
    * touched). The group property is the collection's `source` (the
    * reference's GroupBy prop); the per-group bounded heap + best-hit
    * group ranking are the SAME post-stage in every mode
    * ([[operators.VectorSearch.groupedFromScored]], spec-pinned per
    * mode). Filters prune the candidate stream during the mode's walk;
    * as-of pins follow [[vectorSearch]]'s refreshed-family semantics.
    */
  def vectorSearchGrouped(request: String,
                          groups: Int = VectorSearch.GroupsLimit,
                          perGroup: Int = VectorSearch.ObjectsPerGroup,
                          filter: Column = lit(true),
                          asOf: Option[Int] = None): DataFrame = {
    requireAsOfMode(asOf)
    val scored =
      if (quantized) {
        val path = VectorRefresh.quantizedArtifact(spark, dir)
        VectorRefresh.requestScoredQuantized(spark, path, asOfDocs(asOf, path),
          requestVector(request), docFilter = filter, asOf = asOf)
      } else if (refreshed) {
        val path = VectorRefresh.refreshedArtifact(spark, dir)
        VectorRefresh.requestScored(spark, path, asOfDocs(asOf, path),
          requestVector(request), docFilter = filter, asOf = asOf)
      } else if (pruned)
        IvfIndex.prunedScoredWithQuery(embs, docs, requestVector(request),
          IvfIndex.cachedCentroids(spark, dir), docFilter = filter)
      else
        embs
          .join(docs.filter(filter).select(col("doc_id"), col("source")),
            col("vec_id") === col("doc_id"))
          .join(broadcast(requestVector(request)))
          .select(col("doc_id"), col("source"),
            round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
    VectorSearch.groupedFromScored(
      scored.select(col("source"), col("doc_id"), col("score")),
      groups, perGroup, idCol = "doc_id")
  }

  /** `vector_search(..., auto_limit=jumps)` — autocut THROUGH the
    * collection's index mode (the other half of the r13 gap): the
    * mode's OWN top-C page ([[vectorSearch]] at C = `candidates`) is
    * windowed by the gap/jump cut
    * ([[operators.VectorSearch.autocutFromCand]]) — the corpus pays
    * only the mode's pruned probe, and the cut composes with filters
    * and as-of pins exactly as [[vectorSearch]] does (the page is cut
    * AFTER the mode's filter/pin semantics). Spec-pinned per mode.
    */
  def vectorSearchAutocut(request: String,
                          autoLimit: Int = VectorSearch.AutocutJumps,
                          candidates: Int = VectorSearch.AutocutCandidates,
                          filter: Column = lit(true),
                          asOf: Option[Int] = None): DataFrame =
    VectorSearch.autocutFromCand(
      vectorSearch(request, candidates, filter, asOf),
      autoLimit, idCol = "doc_id")

  /** `hybrid_search(request, alpha, limit, filter)` — relative-score
    * fusion of the two signals for one request. Pruned mode routes the
    * unfiltered request through the doubly-pruned IVF×champion fusion
    * (per-request cost independent of corpus size); an UNPINNED
    * metadata filter keeps the exact path in every mode (the pruned
    * artifacts are filter-agnostic index structures — the documented
    * Weaviate-config trade, same as [[keywordSearch]]'s multi-property
    * fallback), while a PINNED filter (refreshed mode) applies during
    * the pinned walk — see the routing comment below. "No filter" is
    * the explicit `None`, not a sentinel expression — routing must
    * never depend on how a caller happened to spell an always-true
    * predicate.
    */
  def hybridSearch(request: String, alpha: Double = HybridSearch.Alpha,
                   limit: Int = 10, filter: Option[Column] = None,
                   asOf: Option[Int] = None): DataFrame = {
    requireAsOfMode(asOf)
    // the routed forms: the fused page and the universe its doc_ids
    // resolve in
    val routed: Option[(DataFrame, DataFrame)] =
      if ((quantized || refreshed) && (filter.isEmpty || asOf.nonEmpty)) {
        // a PINNED request routes through the refreshed walk even when
        // filtered: the filter applies DURING the pinned walk (the
        // IvfIndex filtered-search pattern over pinned views) against
        // the pin's own document universe — the incident-replay read
        // "what would this filtered page have been at commit r". An
        // UNPINNED filtered request keeps the exact path below (the
        // documented Weaviate-config trade: the pruned/champion
        // artifacts are filter-agnostic, and with no pin there is no
        // universe mismatch to protect). The quantized route swaps the
        // vector leg for the ADC fan-out over the standing codes.
        val kwPath = IndexRefresh.refreshedArtifact(spark, dir)
        // ONE universe resolution for both the walk filter and the
        // metadata join (the pin validates once, against the keyword
        // artifact — the vector artifact shares the facade's two-segment
        // commit convention by construction)
        val universe = asOfDocs(asOf, kwPath)
        val (fuse, vecPath) =
          if (quantized) (HybridSearch.fusedQuantizedWithQuery _,
            VectorRefresh.quantizedArtifact(spark, dir))
          else (HybridSearch.fusedRefreshedWithQuery _,
            VectorRefresh.refreshedArtifact(spark, dir))
        Some(fuse(spark, kwPath, vecPath, requestTerms(request),
          requestVector(request), -1L, alpha, limit, IvfIndex.NProbe, asOf,
          filter.map(f => universe.filter(f))) -> universe)
      } else if (pruned && filter.isEmpty)
        Some(HybridSearch.fusedPrunedWithQuery(embs,
          ChampionIndex.cachedChampions(spark, dir),
          requestTerms(request), requestVector(request), qId = -1L,
          centroids = Some(IvfIndex.cachedCentroids(spark, dir)),
          alpha = alpha, k = limit) -> docs)
      else None
    routed.fold(
      // exact fallback over the MODE's corpus universe: in refreshed
      // mode a filtered fusion scores the current snapshot — the same
      // corpus state the unfiltered refreshed route serves
      HybridSearch.fusedWithQuery(modeDocs, modeEmbs, requestTerms(request),
        requestVector(request), alpha, limit, filter.getOrElse(lit(true)))) {
      case (page, universe) =>
        page.join(universe.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("score"))
          .orderBy(desc("score"), asc("doc_id"))
    }
  }

  /** v4 `near_object(uuid)` — seed the vector search with an EXISTING
    * object's stored vector instead of embedding a request (the
    * benchmark query `vector_search_topk` is exactly this shape).
    * Honors the collection's index mode like every other search call
    * site: pruned walks the standing IVF cells, refreshed walks the
    * refreshed layout's merged centroids + live cells (seed vector
    * from the layout itself — the object's CURRENT stored version).
    */
  def nearObject(vecId: Long, limit: Int = 10): DataFrame =
    if (quantized) {
      // byte-code near-object: the stored seed vector (live layout
      // state) probes the standing codes; page = searchQuantized's
      // (−adc DESC ≡ adc ASC), presented in the facade's shape
      val path = VectorRefresh.quantizedArtifact(spark, dir)
      val q = VectorRefresh.liveVectors(spark, path)
        .filter(col("vec_id") === vecId)
        .select(col("embedding").as("q_emb"))
      VectorRefresh.searchQuantized(spark, path, q, excludeVecId = vecId,
          k = limit)
        .select(col("vec_id"), col("cell").as("label"),
          (-col("adc")).as("score"))
    } else if (refreshed) {
      val path = VectorRefresh.refreshedArtifact(spark, dir)
      val q = VectorRefresh.liveVectors(spark, path)
        .filter(col("vec_id") === vecId)
        .select(col("embedding").as("q_emb"))
      VectorRefresh.search(spark, path, q, excludeVecId = vecId, k = limit)
        .select(col("vec_id"), col("cell").as("label"), col("score"))
    } else if (pruned)
      IvfIndex.searchFrom(embs, IvfIndex.cachedCentroids(spark, dir),
        vecId, k = limit)
    else VectorSearch.topK(embs, vecId, limit)

  /** `create_collection(name)` — register a frame as a queryable
    * collection (temp view; the reference's schema config maps to the
    * frame's own schema).
    */
  def createCollection(name: String, data: DataFrame): Unit =
    data.createOrReplaceTempView(name)

  /** `create_collection(name, properties, description)` (ref L77/L383) —
    * declare an EMPTY collection from a property list; false when it
    * already exists.
    */
  def createCollection(name: String, properties: Seq[Catalog.Property],
                       description: String = ""): Boolean =
    Catalog.createCollection(spark, name, properties, description)

  /** `batch_index_data(data, collection_name, ...)` (ref L409) — land a
    * batch into a collection, creating it from `properties` when absent;
    * returns the error report (num_errors / doc_ids / abort flag).
    */
  def batchIndexData(name: String, data: DataFrame,
                     errorThreshold: Double = 0.01,
                     uniqueIdField: String = "doc_id",
                     properties: Seq[Catalog.Property] = Nil): Catalog.BatchReport =
    Catalog.batchIndexData(spark, name, data, errorThreshold, uniqueIdField,
      properties)

  /** `get_doc_count(collection)` — the collection's LIVE object count:
    * the mode's corpus universe (in refreshed mode, deleted documents
    * are not counted — the same state every search serves).
    */
  def getDocCount(): Long = modeDocs.count()

  /** `show_all_collections()` */
  def showAllCollections(): Seq[String] = Catalog.listCollections(spark)

  /** `show_collection_properties(collection)` */
  def showCollectionProperties(name: String): DataFrame =
    Catalog.collectionProperties(spark, name)

  /** `show_collection_config(collection)` (ref L131) — schema plus the
    * engine's vectorizer/index settings for the collection.
    */
  def showCollectionConfig(name: String): DataFrame =
    Catalog.collectionConfig(spark, name)

  /** `chat_completion(system, user, ...)` (llm_interface.py:68) — the
    * generation slot: retrieve-then-generate over the request, with the
    * deterministic extractive generator occupying the LLM position
    * ([[operators.Generation]]; a served model swaps into the slot via
    * the [[operators.Inference]] seam without touching this call site).
    */
  def chatCompletion(request: String): DataFrame =
    // over the MODE's corpus universe: refreshed-mode generation never
    // quotes a document the index has deleted
    Generation.extractiveAnswer(modeDocs, requestTerms(request))
}

object GraftClient {
  /** Exact index mode: every search scans the corpus (the default). */
  val IndexExact = "exact"
  /** Pruned index mode: keyword → champion lists, hybrid →
    * IVF×champion — the deployed-index collection config.
    */
  val IndexPruned = "pruned"
  /** Refreshed index mode: every search serves from the incrementally-
    * refreshed LSM artifacts (zero full rebuilds, zero score
    * staleness).
    */
  val IndexRefreshed = "refreshed"
  /** The quantized-vector-tier mode: keyword requests serve from the
    * refreshed keyword artifact (PQ is a vector setting), vector and
    * hybrid requests serve from the quantized layout's m-byte codes
    * (single-request ADC walk / the 15i fusion) — the facade analog of
    * flipping a Weaviate collection's vector-index quantizer config.
    */
  val IndexQuantized = "quantized"
  val IndexModes: Set[String] =
    Set(IndexExact, IndexPruned, IndexRefreshed, IndexQuantized)
}
