package graft

import graft.operators.{IvfIndex, QueryVec, VectorRefresh, VectorSearch}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** GroupBy + autocut THROUGH the index modes (r13 verdict task #5): the
  * reference serves `GroupBy` and `auto_limit` through its vector
  * index, so every facade index mode must carry them over ITS candidate
  * stream — the exact brute-force forms are the full-probe baselines.
  */
class GroupedIndexModesSpec extends SparkSpec {

  private val dir = TestSpark.Sf0001
  private def embs = Tables.embeddings(spark, dir)
  private def docs = Tables.documents(spark, dir)
  private val req = "spark hash join fast"

  test("pruned grouped search with a full probe equals the brute-force grouped page") {
    // nprobe >= nlist probes every cell — the established IVF
    // equivalence pattern: pruning is the ONLY approximation
    val nlist = embs.select(countDistinct("label")).head().getLong(0).toInt
    val full = IvfIndex.searchGroupedPruned(embs, docs, nprobe = nlist)
      .collect().toSeq
    val brute = VectorSearch.topKGrouped(embs, docs).collect().toSeq
    assert(full == brute && full.nonEmpty)
  }

  test("pruned autocut with a full probe equals the brute-force autocut page") {
    val nlist = embs.select(countDistinct("label")).head().getLong(0).toInt
    val full = IvfIndex.searchAutocutPruned(embs, nprobe = nlist)
      .collect().toSeq
    val brute = VectorSearch.topKAutocut(embs).collect().toSeq
    assert(full == brute && full.nonEmpty)
  }

  test("pruned grouped candidates come from the probed cells only") {
    val page = IvfIndex.qSearchGroupedPruned(spark, dir)
    assert(page.columns.toSeq ==
      Seq("source", "best_score", "rn", "vec_id", "score"))
    val rows = page.collect()
    assert(rows.nonEmpty)
    // bounds: <= groups distinct sources, <= perGroup rows each
    val bySrc = rows.groupBy(_.getString(0))
    assert(bySrc.size <= VectorSearch.GroupsLimit)
    assert(bySrc.values.forall(_.length <= VectorSearch.ObjectsPerGroup))
    // membership: every hit's vector lives in a probed cell
    val q = embs.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val probed = IvfIndex.centroidArrays(embs).join(broadcast(q))
      .select(col("cell"),
        round(graft.functions.VectorFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("cs"))
      .orderBy(desc("cs"), asc("cell")).limit(IvfIndex.NProbe)
      .collect().map(_.getInt(0)).toSet
    val cellOf = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => probed.contains(cellOf(r.getLong(3)))),
      "a grouped hit outside the probed cells means the page re-scanned the corpus")
  }

  test("facade grouped routing per index mode composes the mode's candidate stream") {
    // exact mode: grouped == the post-stage over the exact scored scan
    val exact = new GraftClient(TestSpark.spark, dir)
    val exactPage = exact.vectorSearchGrouped(req).collect().toSeq
    assert(exactPage.nonEmpty)
    // pruned mode: hits must live in the request's probed cells (the
    // routing proof — an exact-path fallback would surface other cells)
    val pruned = new GraftClient(TestSpark.spark, dir,
      indexMode = GraftClient.IndexPruned)
    val prunedPage = pruned.vectorSearchGrouped(req).collect()
    assert(prunedPage.nonEmpty)
    val qv = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val probed = IvfIndex.cachedCentroids(spark, dir).join(broadcast(qv))
      .select(col("cell"),
        round(graft.functions.VectorFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("cs"))
      .orderBy(desc("cs"), asc("cell")).limit(IvfIndex.NProbe)
      .collect().map(_.getInt(0)).toSet
    val cellOf = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(prunedPage.forall(r => probed.contains(cellOf(r.getLong(3)))))
    // exact and pruned genuinely differ on this corpus only in
    // candidate universe; schemas agree
    assert(prunedPage.head.schema.fieldNames.toSeq ==
      exactPage.head.schema.fieldNames.toSeq)
  }

  test("facade grouped in quantized mode rides the ADC walk (scores are -adc)") {
    val qc = new GraftClient(TestSpark.spark, dir,
      indexMode = GraftClient.IndexQuantized)
    val page = qc.vectorSearchGrouped(req).collect()
    assert(page.nonEmpty)
    // the ADC page's scores are negative distances (cosine scores of the
    // exact path are bounded by 1; -adc values here are <= 0)
    assert(page.forall(_.getDouble(4) <= 0.0),
      "quantized grouped page must carry -adc scores — a positive cosine " +
        "means the exact path served it")
    // expected: the SAME post-stage over the ADC scored stream
    val path = VectorRefresh.quantizedArtifact(spark, dir)
    val qv = spark.range(1).select(
      graft.operators.Embedder.embed(lit(req), 64).cast("array<float>").as("q_emb"))
    val expected = VectorSearch.groupedFromScored(
      VectorRefresh.requestScoredQuantized(spark, path,
          graft.operators.CorpusOps.currSnapshot(docs), QueryVec.Frame(qv))
        .select(col("source"), col("doc_id"), col("score")),
      VectorSearch.GroupsLimit, VectorSearch.ObjectsPerGroup, idCol = "doc_id")
      .collect().toSeq
    assert(page.toSeq == expected)
  }

  test("grouped + autocut serving twins are batch-split invariant and equal the batch forms") {
    // the r14 task-#4 closure: single → batch → stream for GroupBy and
    // auto_limit. Per-query scores, cell assignment, group membership
    // and the gap cut depend only on (query, standing centroids,
    // corpus) — so splitting the id set across micro-batches must
    // reproduce the one-shot batch result row-for-row.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents = Some(IvfIndex.cachedCentroids(spark, dir))
    val allIds = Seq(0L, 7L, 23L, 42L)
    // grouped
    val gbuf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val ginput = MemoryStream[Long]
    val gq = graft.streaming.ServeStream.groupedServe(
      ginput.toDS().toDF("q_id"), embs, docs, centroids = cents) { (ranked, _) =>
      gbuf ++= ranked.collect().map(_.toSeq)
    }
    ginput.addData(allIds.take(2): _*); gq.processAllAvailable()
    ginput.addData(allIds.drop(2): _*); gq.processAllAvailable()
    gq.stop()
    val gwant = IvfIndex.batchSearchGrouped(embs, docs,
      _.filter(col("vec_id").isin(allIds: _*)), centroids = cents)
      .collect().map(_.toSeq)
    assert(gbuf.nonEmpty)
    assert(gbuf.sortBy(_.mkString("|")).toSeq ==
      gwant.sortBy(_.mkString("|")).toSeq)
    // autocut
    val abuf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val ainput = MemoryStream[Long]
    val aq = graft.streaming.ServeStream.autocutServe(
      ainput.toDS().toDF("q_id"), embs, centroids = cents) { (ranked, _) =>
      abuf ++= ranked.collect().map(_.toSeq)
    }
    ainput.addData(allIds.take(1): _*); aq.processAllAvailable()
    ainput.addData(allIds.drop(1): _*); aq.processAllAvailable()
    aq.stop()
    val awant = IvfIndex.batchSearchAutocut(embs,
      _.filter(col("vec_id").isin(allIds: _*)), centroids = cents)
      .collect().map(_.toSeq)
    assert(abuf.nonEmpty)
    assert(abuf.sortBy(_.mkString("|")).toSeq ==
      awant.sortBy(_.mkString("|")).toSeq)
  }

  test("batch grouped M=single-query slice matches the single grouped page for the benchmark query") {
    // the batch form restricted to ONE query must reproduce the
    // single-query pruned grouped page's content (same candidate
    // universe, same post-stage)
    val single = IvfIndex.searchGroupedPruned(embs, docs,
        centroids = Some(IvfIndex.cachedCentroids(spark, dir)))
      .select(col("source"), col("best_score"), col("rn"), col("vec_id"), col("score"))
      .collect().toSeq
    val batch = IvfIndex.batchSearchGrouped(embs, docs,
        _.filter(col("vec_id") === VectorSearch.QueryVecId),
        centroids = Some(IvfIndex.cachedCentroids(spark, dir)))
      .select(col("source"), col("best_score"), col("rn"), col("vec_id"), col("score"))
      .collect().toSeq
    assert(single.nonEmpty && batch == single)
  }

  test("facade autocut windows the mode's own page in every index mode") {
    for (mode <- GraftClient.IndexModes) {
      val c = new GraftClient(TestSpark.spark, dir, indexMode = mode)
      val cut = c.vectorSearchAutocut(req).collect().toSeq
      val page = c.vectorSearch(req, limit = VectorSearch.AutocutCandidates)
      val expected = VectorSearch.autocutFromCand(page,
        VectorSearch.AutocutJumps, idCol = "doc_id").collect().toSeq
      assert(cut == expected, s"mode=$mode")
      assert(cut.nonEmpty, s"mode=$mode returned an empty autocut page")
      // the cut is a prefix of the mode's ranked page
      val pageIds = c.vectorSearch(req, limit = VectorSearch.AutocutCandidates)
        .collect().map(_.getLong(0)).toSeq
      assert(cut.map(_.getLong(1)) == pageIds.take(cut.length), s"mode=$mode")
    }
  }
}
