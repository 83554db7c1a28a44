package graft

import graft.operators.{KeywordSearch, QueryVec}
import org.apache.spark.sql.functions._

class GraftClientSpec extends SparkSpec {

  private val client = new GraftClient(TestSpark.spark, TestSpark.Sf0001)

  test("keywordSearch on the benchmark request equals the oracle-gated bm25 query") {
    val viaClient = client.keywordSearch(KeywordSearch.QueryTerms.mkString(" "))
      .collect().toSeq
    val direct = KeywordSearch.search(spark, TestSpark.Sf0001).collect().toSeq
    assert(viaClient == direct)
  }

  test("query_properties boost syntax routes to the multifield scorer") {
    import graft.operators.KeywordSearch
    val req = KeywordSearch.MultiFieldTerms.mkString(" ")
    val viaClient = client.keywordSearch(req,
      queryProperties = Seq("text", "source^2.0")).collect().toSeq
    val direct = KeywordSearch.bm25MultiField(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001),
      KeywordSearch.MultiFieldTerms, Seq("text" -> 1.0, "source" -> 2.0), 10)
      .collect().toSeq
    assert(viaClient == direct && viaClient.nonEmpty)
  }

  test("return_properties projects the result page") {
    val page = client.withProperties(
      client.keywordSearch("spark hash join fast"), Seq("doc_id", "source"))
    assert(page.columns.toSeq == Seq("doc_id", "source", "score"))
    assert(page.count() > 0)
  }

  test("vectorSearch embeds the request and returns a deterministic ranked page") {
    val a = client.vectorSearch("spark hash join fast", limit = 7).collect()
    val b = client.vectorSearch("spark hash join fast", limit = 7).collect()
    assert(a.toSeq == b.toSeq && a.length == 7)
    val scores = a.map(_.getDouble(3))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
    // the metadata filter prunes results
    val filtered = client.vectorSearch("spark hash join fast", limit = 7,
      filter = col("lang") === "en").collect()
    assert(filtered.forall(_.getString(2) == "en"))
  }

  test("hybridSearch at alpha=1 ranks exactly like vectorSearch") {
    val req = "spark hash join fast"
    val hybridIds = client.hybridSearch(req, alpha = 1.0, limit = 10)
      .collect().map(_.getLong(0)).toSeq
    val vectorIds = client.vectorSearch(req, limit = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(hybridIds == vectorIds)
  }

  test("nearObject seeds the search with the stored vector of an existing id") {
    import graft.operators.VectorSearch
    val viaClient = client.nearObject(VectorSearch.QueryVecId).collect().toSeq
    val direct = VectorSearch.search(spark, TestSpark.Sf0001).collect().toSeq
    assert(viaClient == direct && viaClient.nonEmpty)
  }

  test("pruned index mode routes keywordSearch to the champion artifact") {
    val prunedClient = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexPruned)
    val viaClient = prunedClient
      .keywordSearch(KeywordSearch.QueryTerms.mkString(" ")).collect().toSeq
    val direct = graft.operators.ChampionIndex
      .searchChampion(spark, TestSpark.Sf0001).collect().toSeq
    assert(viaClient == direct && viaClient.nonEmpty)
    // exact mode still routes to the exact scan — and they disagree only
    // within the champion approximation (same schema, both ranked)
    assert(viaClient.map(_.schema.fieldNames.toSeq).head ==
      client.keywordSearch(KeywordSearch.QueryTerms.mkString(" "))
        .schema.fieldNames.toSeq)
    // boosted multi-property requests fall back to the exact BM25F path
    val mf = prunedClient.keywordSearch(
      KeywordSearch.MultiFieldTerms.mkString(" "),
      queryProperties = Seq("text", "source^2.0")).collect().toSeq
    assert(mf.nonEmpty)
    intercept[IllegalArgumentException](
      new GraftClient(TestSpark.spark, TestSpark.Sf0001, indexMode = "hnsw"))
  }

  test("pruned index mode routes vectorSearch through the IVF cells") {
    import graft.operators.IvfIndex
    import spark.implicits._
    val prunedClient = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexPruned)
    val req = "spark hash join fast"
    val res = prunedClient.vectorSearch(req, limit = 7).collect()
    assert(res.nonEmpty && res.length <= 7)
    // hits come only from the request's probed cells
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val q = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val probed = IvfIndex.centroidArrays(embs).join(broadcast(q))
      .select(col("cell"),
        round(graft.functions.VectorFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("cs"))
      .orderBy(desc("cs"), asc("cell")).limit(IvfIndex.NProbe)
      .select("cell").as[Int].collect().toSet
    val hitCells = embs.filter(col("vec_id").isin(res.map(_.getLong(0)).toSeq: _*))
      .select("label").as[Int].collect().toSet
    assert(hitCells.subsetOf(probed))
    // full-probe pruned route equals the exact route (no cut)
    val full = IvfIndex.searchPrunedWithQuery(embs,
      graft.sources.Tables.documents(spark, TestSpark.Sf0001), QueryVec.Frame(q),
      IvfIndex.centroidArrays(embs), nprobe = 10, k = 7).collect().toSeq
    assert(full == client.vectorSearch(req, limit = 7).collect().toSeq)
  }

  test("pruned index mode routes hybridSearch to the IVF x champion fusion") {
    val prunedClient = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexPruned)
    val res = prunedClient.hybridSearch("spark hash join fast", limit = 5).collect()
    assert(res.nonEmpty && res.length <= 5)
    assert(res.map(_.schema.fieldNames.toSeq).head == Seq("doc_id", "source", "score"))
    val scores = res.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    // a metadata filter keeps the exact path in every mode: identical rows
    val f = col("lang") === "en"
    assert(prunedClient.hybridSearch("spark hash join", filter = Some(f)).collect().toSeq ==
      client.hybridSearch("spark hash join", filter = Some(f)).collect().toSeq)
  }

  test("quantized index mode routes vector reads to the byte-code artifacts") {
    import graft.operators.{CorpusOps, HybridSearch, IndexRefresh, VectorRefresh}
    val qc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexQuantized)
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val currD = CorpusOps.currSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val kwPath = IndexRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val vecPath = VectorRefresh.quantizedArtifact(spark, TestSpark.Sf0001)
    val req = "spark hash join fast"
    val q = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    // keyword: PQ is a vector setting — identical to the refreshed route
    val kwReq = KeywordSearch.QueryTerms.mkString(" ")
    assert(qc.keywordSearch(kwReq).collect().toSeq ==
      rc.keywordSearch(kwReq).collect().toSeq)
    // vector: client routing ≡ the single-request ADC walk (filter
    // survivors join before the table-lookup sum; similarity = -adc)
    val viaVec = qc.vectorSearch(req, limit = 7).collect().toSeq
    val directVec = VectorRefresh.requestSearchQuantized(spark, vecPath,
      currD, QueryVec.Frame(q), k = 7).collect().toSeq
    assert(viaVec == directVec && viaVec.nonEmpty)
    // ... and the filtered walk stays on the codes
    val f = col("lang") === "en"
    val viaVecF = qc.vectorSearch(req, limit = 7, filter = f).collect().toSeq
    assert(viaVecF == VectorRefresh.requestSearchQuantized(spark, vecPath,
      currD, QueryVec.Frame(q), k = 7, docFilter = f).collect().toSeq)
    assert(viaVecF.forall(_.getString(2) == "en"))
    // hybrid: client routing ≡ the single-request quantized fusion
    val terms = req.split(" ").toSeq
    val viaHy = qc.hybridSearch(req, limit = 5).collect().toSeq
    val directHy = HybridSearch.fusedQuantizedWithQuery(spark, kwPath, vecPath,
        terms, QueryVec.Frame(q), qId = -1L, k = 5)
      .join(currD.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .collect().toSeq
    assert(viaHy == directHy && viaHy.nonEmpty)
    // near_object: the stored-seed ADC page under the -adc identity
    val viaNear = qc.nearObject(7L, limit = 5).collect()
      .map(r => (r.getLong(0), -r.getDouble(2))).toSeq
    val directNear = VectorRefresh.searchQuantized(spark, vecPath,
        VectorRefresh.liveVectors(spark, vecPath)
          .filter(col("vec_id") === 7L).select(col("embedding").as("q_emb")),
        excludeVecId = 7L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(viaNear == directNear && viaNear.nonEmpty)
    // as-of pins are accepted (the quantized layout IS a commit log):
    // the pinned vector page equals the pinned direct walk
    val prevD = CorpusOps.prevSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val viaPinned = qc.vectorSearch(req, limit = 5, asOf = Some(0)).collect().toSeq
    assert(viaPinned == VectorRefresh.requestSearchQuantized(spark, vecPath,
      prevD, QueryVec.Frame(q), k = 5, asOf = Some(0)).collect().toSeq)
  }

  test("refreshed index mode routes every search to the refreshable LSM artifacts") {
    import graft.operators.{CorpusOps, HybridSearch, IndexRefresh, VectorRefresh}
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val currD = CorpusOps.currSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val kwPath = IndexRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val vecPath = VectorRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    // keyword: client routing ≡ the oracle-gated refreshed probe
    val viaKw = rc.keywordSearch(KeywordSearch.QueryTerms.mkString(" ")).collect().toSeq
    val directKw = IndexRefresh.search(spark, kwPath, currD,
      KeywordSearch.QueryTerms).collect().toSeq
    assert(viaKw == directKw && viaKw.nonEmpty)
    // vector: client routing ≡ the refreshed cell walk with the same
    // embedded request
    val req = "spark hash join fast"
    val q = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val viaVec = rc.vectorSearch(req, limit = 7).collect().toSeq
    val directVec = VectorRefresh.requestSearch(spark, vecPath, currD, QueryVec.Frame(q), k = 7)
      .collect().toSeq
    assert(viaVec == directVec && viaVec.nonEmpty)
    // hybrid: client routing ≡ the refreshed two-leg fusion
    val terms = req.split(" ").toSeq
    val viaHy = rc.hybridSearch(req, limit = 5).collect().toSeq
    val directHy = HybridSearch.fusedRefreshedWithQuery(spark, kwPath, vecPath,
        terms, QueryVec.Frame(q), qId = -1L, k = 5)
      .join(currD.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .collect().toSeq
    assert(viaHy == directHy && viaHy.nonEmpty)
    // a metadata filter keeps the exact path for hybrid in every mode,
    // but over the MODE's corpus universe: the refreshed client scores
    // the current snapshot — the corpus state its unfiltered routes
    // serve — never the raw table's removed-snapshot rows
    val f = col("lang") === "en"
    val currE = VectorRefresh.currSnapshot(
      graft.sources.Tables.embeddings(spark, TestSpark.Sf0001))
    assert(rc.hybridSearch("spark hash join", filter = Some(f)).collect().toSeq ==
      HybridSearch.fusedWithQuery(currD, currE, Seq("spark", "hash", "join"),
          QueryVec.Frame(spark.range(1).select(graft.operators.Embedder
            .embed(lit("spark hash join"), 64).cast("array<float>").as("q_emb"))),
          HybridSearch.Alpha, 10, f)
        .collect().toSeq)
    // ... and the multi-property fallback serves the same universe
    val mpDocs = rc.keywordSearch("spark hash join", filter = f,
        queryProperties = Seq("text", "source^2"))
      .collect().map(_.getLong(0)).toSet
    val removedIds = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .exceptAll(currD).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mpDocs.intersect(removedIds).isEmpty)
    // ... as do the doc count and the generation slot
    assert(rc.getDocCount() == currD.count())
    assert(rc.chatCompletion("spark hash join").collect().toSeq ==
      graft.operators.Generation.extractiveAnswer(currD,
        Seq("spark", "hash", "join")).collect().toSeq)
    // keyword/vector filters stay on the refreshed path, evaluated
    // during the walk — pages are subsets of the unfiltered pages' docs
    val kwF = rc.keywordSearch(KeywordSearch.QueryTerms.mkString(" "), filter = f)
      .collect().map(_.getLong(0)).toSet
    assert(kwF.subsetOf(
      IndexRefresh.search(spark, kwPath, currD, KeywordSearch.QueryTerms,
        topK = Int.MaxValue).collect().map(_.getLong(0)).toSet))
  }

  test("asOf pins route every refreshed search to the time-traveled read") {
    import graft.operators.{CorpusOps, HybridSearch, IndexRefresh, VectorRefresh}
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val prevD = CorpusOps.prevSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val kwPath = IndexRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val vecPath = VectorRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val pin = Some(0)
    // keyword: the facade pin ≡ the oracle-gated as-of operator
    // (kw_search_asof — same terms, same k, same pinned universe)
    val viaKw = rc.keywordSearch(KeywordSearch.QueryTerms.mkString(" "),
      asOf = pin).collect().toSeq
    val directKw = IndexRefresh.search(spark, kwPath, prevD,
      KeywordSearch.QueryTerms, asOf = pin).collect().toSeq
    assert(viaKw == directKw && viaKw.nonEmpty)
    // the pin must CHANGE the result (the artifact has moved on)
    assert(viaKw != rc.keywordSearch(
      KeywordSearch.QueryTerms.mkString(" ")).collect().toSeq)
    // vector: pinned cell walk with the same embedded request
    val req = "spark hash join fast"
    val q = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val viaVec = rc.vectorSearch(req, limit = 7, asOf = pin).collect().toSeq
    val directVec = VectorRefresh.requestSearch(spark, vecPath, prevD, QueryVec.Frame(q), k = 7,
      asOf = pin).collect().toSeq
    assert(viaVec == directVec && viaVec.nonEmpty)
    // hybrid: pinned two-leg fusion, metadata from the pinned universe
    val viaHy = rc.hybridSearch(req, limit = 5, asOf = pin).collect().toSeq
    val directHy = HybridSearch.fusedRefreshedWithQuery(spark, kwPath, vecPath,
        req.split(" ").toSeq, QueryVec.Frame(q), qId = -1L, k = 5, asOf = pin)
      .join(prevD.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .collect().toSeq
    assert(viaHy == directHy && viaHy.nonEmpty)
    // pins are refused outside refreshed mode (no commit log to pin)
    intercept[IllegalArgumentException] {
      client.keywordSearch("spark", asOf = pin)
    }
  }

  test("filtered asOf hybrid applies the filter during the pinned walk") {
    import graft.operators.{CorpusOps, HybridSearch, IndexRefresh, VectorRefresh}
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val prevD = CorpusOps.prevSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val kwPath = IndexRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val vecPath = VectorRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val pin = Some(0)
    val req = "spark hash join fast"
    val q = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val keep = (0 until 10).map(i => s"src$i")
    val pred = col("source").isin(keep: _*)
    // facade routing pin: filtered + pinned ≡ the operator-level pinned
    // walk with the filter's doc_ids (from the PIN's universe) cutting
    // the candidate domain before the fusion stats
    val via = rc.hybridSearch(req, limit = 5, filter = Some(pred),
      asOf = pin).collect().toSeq
    val direct = HybridSearch.fusedRefreshedWithQuery(spark, kwPath, vecPath,
        req.split(" ").toSeq, QueryVec.Frame(q), qId = -1L, k = 5, asOf = pin,
        allowedDocs = Some(prevD.filter(pred)))
      .join(prevD.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .collect().toSeq
    assert(via == direct && via.nonEmpty)
    // every served row satisfies the predicate, and the filter CHANGED
    // the page (the pinned corpus has non-web sources in the top-5)
    assert(via.forall(r => keep.contains(r.getString(1))))
    val unfiltered = rc.hybridSearch(req, limit = 5, asOf = pin).collect().toSeq
    assert(via != unfiltered)
    // an UNPINNED filtered request still takes the exact path over the
    // mode's universe (the documented filter-agnostic-artifact trade)
    val unpinned = rc.hybridSearch(req, limit = 5, filter = Some(pred))
      .collect().toSeq
    assert(unpinned.nonEmpty && unpinned.forall(r => keep.contains(r.getString(1))))
  }

  test("multi-property asOf keyword serves BM25F over the pinned universe") {
    import graft.operators.{CorpusOps, KeywordSearch}
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val prevD = CorpusOps.prevSnapshot(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    val req = "spark hash src3"
    // pinned multi-property == the exact BM25F scan over the PIN's
    // document universe (BM25F is a corpus scan — "as of commit r" is
    // the scan over that commit's snapshot, the doc twin of the
    // filtered pinned hybrid walk)
    val via = rc.keywordSearch(req, limit = 5,
      queryProperties = Seq("text", "source^2"), asOf = Some(0))
      .collect().toSeq
    val direct = KeywordSearch.bm25MultiField(prevD,
      req.split(" ").toSeq, Seq("text" -> 1.0, "source" -> 2.0), 5)
      .collect().toSeq
    assert(via == direct && via.nonEmpty)
    // and the pin CHANGED the page vs the unpinned multi-property read
    val unpinned = rc.keywordSearch(req, limit = 5,
      queryProperties = Seq("text", "source^2")).collect().toSeq
    assert(via != unpinned)
  }

  test("nearObject honors the collection's index mode") {
    import graft.operators.{IvfIndex, VectorRefresh, VectorSearch}
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val pc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexPruned)
    val viaPruned = pc.nearObject(VectorSearch.QueryVecId).collect().toSeq
    val directPruned = IvfIndex.searchFrom(embs,
      IvfIndex.cachedCentroids(spark, TestSpark.Sf0001),
      VectorSearch.QueryVecId).collect().toSeq
    assert(viaPruned == directPruned && viaPruned.nonEmpty)
    val rc = new GraftClient(TestSpark.spark, TestSpark.Sf0001,
      indexMode = GraftClient.IndexRefreshed)
    val viaRefreshed = rc.nearObject(VectorSearch.QueryVecId).collect().toSeq
    val path = VectorRefresh.refreshedArtifact(spark, TestSpark.Sf0001)
    val q = VectorRefresh.liveVectors(spark, path)
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val directRefreshed = VectorRefresh.search(spark, path, q,
        VectorSearch.QueryVecId)
      .select(col("vec_id"), col("cell").as("label"), col("score"))
      .collect().toSeq
    assert(viaRefreshed == directRefreshed && viaRefreshed.nonEmpty)
    // exact mode unchanged, same output shape on all three routes
    val exact = client.nearObject(VectorSearch.QueryVecId)
    assert(exact.collect().toSeq ==
      VectorSearch.topK(embs, VectorSearch.QueryVecId).collect().toSeq)
    assert(exact.columns.toSeq == Seq("vec_id", "label", "score"))
    assert(viaPruned.head.schema.fieldNames.toSeq == Seq("vec_id", "label", "score"))
    assert(viaRefreshed.head.schema.fieldNames.toSeq == Seq("vec_id", "label", "score"))
  }

  test("createCollection registers a queryable view") {
    client.createCollection("scratch_docs",
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    assert(spark.table("scratch_docs").count() == client.getDocCount())
    assert(client.showAllCollections().contains("scratch_docs"))
    graft.operators.Catalog.deleteCollection(spark, "scratch_docs")
  }

  test("collection surface: doc count and catalog passthroughs") {
    assert(client.getDocCount() ==
      graft.sources.Tables.documents(spark, TestSpark.Sf0001).count())
    graft.sources.Tables.registerAll(spark, TestSpark.Sf0001)
    assert(client.showAllCollections().contains("documents"))
    val props = client.showCollectionProperties("documents").collect()
      .map(_.getAs[String]("name"))
    assert(props.contains("text"))
  }

  /** One client per index mode over the test corpus. */
  private lazy val modeClients: Map[String, GraftClient] =
    GraftClient.IndexModes.map(m =>
      m -> new GraftClient(TestSpark.spark, TestSpark.Sf0001, indexMode = m)).toMap

  /** Every request route: keyword, vector and hybrid in each index mode,
    * a filtered request of each kind, and the refreshed as-of pins
    * (filtered and unfiltered hybrid).
    */
  private lazy val allRoutes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    val req = "spark hash join fast"
    val f = col("lang") === "en"
    val rc = modeClients(GraftClient.IndexRefreshed)
    val pin = Some(0)
    Seq(GraftClient.IndexExact, GraftClient.IndexPruned, GraftClient.IndexRefreshed,
        GraftClient.IndexQuantized).flatMap { m =>
      val c = modeClients(m)
      Seq(s"keyword.$m" -> (() => c.keywordSearch(req)),
        s"vector.$m" -> (() => c.vectorSearch(req)),
        s"hybrid.$m" -> (() => c.hybridSearch(req)))
    } ++ Seq(
      "filtered.keyword" -> (() => modeClients(GraftClient.IndexPruned).keywordSearch(req, filter = f)),
      "filtered.vector" -> (() => modeClients(GraftClient.IndexPruned).vectorSearch(req, filter = f)),
      "filtered.hybrid" -> (() => modeClients(GraftClient.IndexPruned).hybridSearch(req, filter = Some(f))),
      "asof.keyword" -> (() => rc.keywordSearch(req, asOf = pin)),
      "asof.vector" -> (() => rc.vectorSearch(req, asOf = pin)),
      "asof.hybrid" -> (() => rc.hybridSearch(req, asOf = pin)),
      "asof.hybrid.filtered" -> (() => rc.hybridSearch(req, filter = Some(f), asOf = pin)))
  }

  test("building a warm request launches no Spark job") {
    import org.apache.spark.SpecJobs
    val req = "spark hash join fast"
    val pruned = modeClients(GraftClient.IndexPruned)
    val routes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "keyword.exact" -> (() => client.keywordSearch(req)),
      "vector.exact" -> (() => client.vectorSearch(req)),
      "hybrid.exact" -> (() => client.hybridSearch(req)),
      "keyword.pruned" -> (() => pruned.keywordSearch(req)),
      "vector.pruned" -> (() => pruned.vectorSearch(req)),
      "vector.pruned.filtered" ->
        (() => pruned.vectorSearch(req, filter = col("lang") === "en")),
      "hybrid.pruned" -> (() => pruned.hybridSearch(req)))
    // segment-layout routes list and read their segment payloads while
    // built; each read infers its schema in a job outside any SQL
    // execution. None may run an execution.
    val layoutRoutes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "hybrid.refreshed" -> (() => modeClients(GraftClient.IndexRefreshed).hybridSearch(req)),
      "hybrid.quantized" -> (() => modeClients(GraftClient.IndexQuantized).hybridSearch(req)))
    // one warm call per route builds its artifacts and the corpus dim
    (routes ++ layoutRoutes).foreach { case (_, route) => route().collect() }
    val jobs = routes.map { case (name, route) =>
      name -> SpecJobs.count(spark.sparkContext)(route()) }
    assert(jobs.forall(_._2 == 0), jobs)
    val execs = layoutRoutes.map { case (name, route) =>
      name -> SpecJobs.executions(spark.sparkContext)(route()) }
    assert(execs.forall(_._2.forall(_ == null)), execs)
  }

  test("warm requests run a bounded number of Spark jobs per route") {
    import org.apache.spark.SpecJobs
    // jobs per warm route when every request broadcast a one-row query
    // frame and request fusion checkpointed its candidates eagerly: no
    // route may run more, the hybrid and vector routes fewer
    val before = Map(
      "keyword.exact" -> 4, "vector.exact" -> 3, "hybrid.exact" -> 12,
      "keyword.pruned" -> 3, "vector.pruned" -> 4, "hybrid.pruned" -> 20,
      "keyword.refreshed" -> 8, "vector.refreshed" -> 10, "hybrid.refreshed" -> 28,
      "keyword.quantized" -> 8, "vector.quantized" -> 10, "hybrid.quantized" -> 33,
      "filtered.keyword" -> 3, "filtered.vector" -> 4, "filtered.hybrid" -> 12,
      "asof.keyword" -> 8, "asof.vector" -> 8, "asof.hybrid" -> 26,
      "asof.hybrid.filtered" -> 27)
    val bound = before ++ Map("hybrid.exact" -> 8, "hybrid.pruned" -> 10,
      "vector.exact" -> (before("vector.exact") - 1),
      "vector.pruned" -> (before("vector.pruned") - 1))
    allRoutes.foreach { case (_, route) => route().collect() }
    val jobs = allRoutes.map { case (name, route) =>
      name -> SpecJobs.count(spark.sparkContext)(route().collect()) }
    info(jobs.map { case (n, j) => s"$n=$j" }.mkString(" "))
    val over = jobs.filter { case (n, j) => j > bound(n) }
    assert(over.isEmpty, s"over bound: $over (bounds $bound)")
  }

  test("serving requests leave no persisted frame behind") {
    val sc = spark.sparkContext
    allRoutes.foreach { case (_, route) => route().collect() }
    val before = sc.getPersistentRDDs.keySet
    allRoutes.foreach { case (_, route) => (1 to 5).foreach(_ => route().collect()) }
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"${added.size} RDDs stayed persisted")
    assert(sc.getPersistentRDDs.size <= before.size)
  }
}
