package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val miniDocs = Seq(
    (0L, "spark joins data fast", "s0", "en"),
    (1L, "hash join hash join hash", "s0", "en"),
    (2L, "slow scans of cold data", "s1", "fr"),
    (3L, "fast spark fast spark fast", "s1", "en")
  ).toDF("doc_id", "text", "source", "lang")

  test("termStats: zero-shuffle expression form equals exploded groupBy form") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val terms = KeywordSearch.QueryTerms
    val a = KeywordSearch.termStatsZeroShuffle(docs, terms)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val b = KeywordSearch.termStats(docs, terms)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a == b)
    // the expression form's plan carries no exchange at all (pure map)
    val plan = KeywordSearch.termStatsZeroShuffle(docs, terms)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan, got:\n$plan")
    // the default form's aggregation exchange is shared by both bm25
    // consumers: the executed search plan reuses it instead of re-scanning
    val search = KeywordSearch.bm25(docs, terms)
    search.collect()
    val searchPlan = search.queryExecution.executedPlan.toString
    assert(searchPlan.contains("ReusedExchange"),
      s"expected ReusedExchange in bm25 plan, got:\n$searchPlan")
  }

  test("bm25: docs containing more query terms with higher tf rank higher") {
    val out = KeywordSearch.bm25(miniDocs, Seq("spark", "fast"), 4).collect()
    assert(out.head.getAs[Long]("doc_id") == 3L) // highest tf for both terms
    assert(!out.map(_.getAs[Long]("doc_id")).contains(2L)) // no query terms
  }

  test("bm25: rarer terms contribute more (idf)") {
    // 'hash' appears in 1 doc, 'data' in 2 → doc 1 (hash-only) outscores doc 2-ish matches
    val out = KeywordSearch.bm25(miniDocs, Seq("hash", "data"), 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out(1L) > out(0L))
  }

  test("bm25 filter: stats computed over filtered corpus only") {
    val filtered = KeywordSearch.bm25(miniDocs, Seq("spark"), 4,
      docFilter = col("lang") === "en")
    assert(!filtered.collect().map(_.getAs[Long]("doc_id")).contains(2L))
  }

  test("compound filter: AND/OR predicate equals bm25 over the pre-filtered corpus") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val pred = col("lang") === "en" &&
      (col("source").like("%1%") || col("n_chars") > 300)
    val viaFilterArg = KeywordSearch.bm25(docs, KeywordSearch.QueryTerms,
      docFilter = pred).collect().toSeq
    val viaPrefiltered = KeywordSearch.bm25(docs.filter(pred),
      KeywordSearch.QueryTerms).collect().toSeq
    assert(viaFilterArg == viaPrefiltered)
    assert(viaFilterArg.nonEmpty)
  }

  test("vector search: self-similar vector ranks first") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorSearch.topK(embs, queryVecId = 0L, k = 3).collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("score") > 0.99)
  }

  test("sq8 quantization: codes bounded to ±127, high top-k agreement with exact") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val quant = VectorSearch.quantize(embs)
    val maxCode = quant
      .select(array_max(transform(col("qv"), x => abs(x))).as("m"))
      .agg(max("m")).as[Int].collect().head
    assert(maxCode <= 127)
    assert(quant.count() == embs.count())
    val exact = VectorSearch.topK(embs, 7L, 10)
      .select("vec_id").as[Long].collect().toSet
    val quantized = VectorSearch.topKQuantized(embs, 7L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(quantized).size >= 8,
      s"sq8 recall too low: ${exact.intersect(quantized).size}/10")
  }

  test("materialized byte-code SQ8 equals the inline int-code search, 4x smaller") {
    import graft.operators.VectorSearch
    val dir0 = TestSpark.Sf0001
    val viaDisk = VectorSearch.searchQuantizedMaterialized(spark, dir0).collect().toSeq
    val inline = VectorSearch.searchQuantized(spark, dir0).collect().toSeq
    assert(viaDisk == inline && viaDisk.nonEmpty)
    // byte-array cosine is bitwise the int-array cosine on the same codes
    val embs = graft.sources.Tables.embeddings(spark, dir0)
    val quant = VectorSearch.quantize(embs)
      .select(col("vec_id"), col("qv"),
        col("qv").cast("array<byte>").as("qb"))
    val diff = quant.select(
      graft.functions.VectorFunctions.cosineSim(col("qv"), col("qv")).as("ii"),
      graft.functions.VectorFunctions.cosineSim(col("qb"), col("qb")).as("bb"))
      .filter(col("ii") =!= col("bb")).count()
    assert(diff == 0)
  }

  test("codegen sq8 quantization equals the interpreted transform form") {
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val native = VectorSearch.quantize(embs).orderBy("vec_id").collect()
    val hof = VectorSearch.quantizeHof(embs).orderBy("vec_id").collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(n.getAs[Double]("scale") == h.getAs[Double]("scale"))
      assert(n.getSeq[Int](n.fieldIndex("qv")).toList ==
        h.getSeq[Int](h.fieldIndex("qv")).toList)
    }
  }

  test("ivf search with nprobe covering all cells equals brute force") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val brute = VectorSearch.topK(embs, 7L, 10).select("vec_id").as[Long].collect().toSeq
    val ivf = IvfIndex.search(embs, 7L, nprobe = 10, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == brute)
  }

  test("filtered ivf at full probe equals the brute-force filtered search") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val brute = VectorSearch.topKFiltered(embs, docs, VectorSearch.QueryVecId)
      .collect().toSeq
    val full = IvfIndex.searchFiltered(embs, docs, VectorSearch.QueryVecId,
      nprobe = 10, k = 10).collect().toSeq
    assert(full == brute)
  }

  test("filtered ivf at nprobe<nlist: hits pass the filter and come only from probed cells") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val q = embs.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val probed = IvfIndex.centroidArrays(embs).join(broadcast(q))
      .select(col("cell"),
        round(graft.functions.VectorFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("cs"))
      .orderBy(desc("cs"), asc("cell")).limit(IvfIndex.NProbe)
      .select("cell").as[Int].collect().toSet
    val res = IvfIndex.searchFiltered(embs, docs, VectorSearch.QueryVecId)
    assert(res.select("lang").as[String].collect().forall(_ == "en"))
    val cells = res.join(embs.select(col("vec_id"), col("label")), "vec_id")
      .select("label").as[Int].collect().toSet
    assert(cells.subsetOf(probed))
  }

  test("ivf centroids: one row per (cell, dim), counts match cell sizes") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val cents = IvfIndex.buildCentroids(embs)
    val dims = cents.groupBy("cell").count().select("count").as[Long].collect()
    assert(dims.forall(_ == 64))
  }

  test("ivf with learned k-means quantizer: full-probe equals brute force") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val cells = IvfIndex.assignKmeansCells(embs, nlist = 4)
    assert(cells.count() == embs.count())
    assert(cells.select("cell").distinct().count() <= 4)
    val full = IvfIndex.searchKmeans(embs, 7L, nlist = 4, nprobe = 4, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    val brute = VectorSearch.topK(embs, 7L, 10).select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
  }

  test("ivf materialized index: search reads only probed cell partitions") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    IvfIndex.writeIndex(embs, path)
    // cell dirs exist
    val cellDirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == 10)
    val q = embs.filter(col("vec_id") === 7L).select(col("embedding").as("q_emb"))
    val res = IvfIndex.searchIndex(spark, path, q, Seq(1, 3, 5), k = 5)
    // partition pruning visible in the scan
    val scan = res.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
    val rows = res.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => Seq(1, 3, 5).contains(r.getAs[Int]("cell"))))
  }

  test("filtered ivf materialized: partition-pruned scan equals the in-memory filtered search") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx_f").toString + "/idx"
    IvfIndex.writeIndex(embs, path)
    val q = embs.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val cells = IvfIndex.centroidArrays(embs).join(broadcast(q))
      .select(col("cell"),
        round(graft.functions.VectorFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("cs"))
      .orderBy(desc("cs"), asc("cell")).limit(IvfIndex.NProbe)
      .select("cell").as[Int].collect().toSeq
    val res = IvfIndex.searchIndexFiltered(spark, path, docs, q, cells,
      excludeVecId = Some(VectorSearch.QueryVecId))
    // the cell predicate prunes the file scan at the partition level
    val scan = res.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
    val inMem = IvfIndex.searchFiltered(embs, docs, VectorSearch.QueryVecId)
      .collect().toSeq
    assert(res.collect().toSeq == inMem && inMem.nonEmpty)
  }

  test("champion alpha-sweep: the default-alpha slice equals the doubly-pruned champion fusion") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val postings = KeywordSearch.cachedBatchPostings(spark, TestSpark.Sf001)
    val champs = ChampionIndex.cachedChampions(spark, TestSpark.Sf001)
    val selV: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0)
    val selD: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0)
    val single = HybridSearch.fusedBatchChampionSel(docs, embs, postings,
      champs, selV, selD).collect().toSeq
    val sweep = HybridSearch.fusedBatchChampionSweepSel(docs, embs, postings,
        champs, selV, selD, Seq(0.25, HybridSearch.Alpha, 1.0))
      .filter(col("alpha") === HybridSearch.Alpha).drop("alpha")
      .collect().toSeq
    assert(sweep.nonEmpty && sweep == single)
  }

  test("fusion top-C cut at full depth is bitwise the uncapped fusion") {
    // the capped-fusion contract (fusePrep topC): C >= the per-query
    // candidate count makes both per-leg cuts no-ops — capped == uncapped
    // exactly, the full-probe == brute-force analogy for the fusion tail
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val postings = KeywordSearch.cachedBatchPostings(spark, TestSpark.Sf001)
    val champs = ChampionIndex.cachedChampions(spark, TestSpark.Sf001)
    val selV: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0)
    val selD: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0)
    val fullC = HybridSearch.fusedBatchChampionSel(docs, embs, postings,
      champs, selV, selD, topC = Some(1 << 24)).collect().toSeq
    val uncapped = HybridSearch.fusedBatchChampionSel(docs, embs, postings,
      champs, selV, selD, topC = None).collect().toSeq
    assert(fullC.nonEmpty && fullC == uncapped)
    // and the DEFAULT cap (4k) changes the frame the tail sees (the
    // sf0.01 probe sets are hundreds of rows), yet stays oracle-green
    // (CORRECTNESS gate) — assert it at least returns the same shape
    val capped = HybridSearch.fusedBatchChampionSel(docs, embs, postings,
      champs, selV, selD).collect().toSeq
    assert(capped.size == uncapped.size)
  }

  test("champion depth-sweep top-C cut at full depth is bitwise the uncapped sweep") {
    // the capped depth sweep (one vector cut shared by every depth,
    // per-(m, q_id) keyword cuts, dropped winners re-scored once per
    // pair): C >= every candidate count makes the cuts no-ops at EVERY
    // swept depth, and at the default C the m = M slice is the capped
    // doubly-pruned fusion's ranking
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val postings = KeywordSearch.cachedBatchPostings(spark, TestSpark.Sf001)
    val champs = ChampionIndex.cachedChampions(spark, TestSpark.Sf001)
    val selV: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0)
    val selD: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0)
    def sweep(topC: Option[Int]) =
      HybridSearch.fusedBatchChampionDepthSweepSel(docs, embs, postings, champs,
        selV, selD, RetrievalEval.SweepMs, topC = topC)
    val fullC = sweep(Some(1 << 24)).collect().toSeq
    val uncapped = sweep(None).collect().toSeq
    RetrievalEval.SweepMs.foreach { m =>
      val (f, u) = (fullC.filter(_.getInt(0) == m), uncapped.filter(_.getInt(0) == m))
      assert(f.nonEmpty && f == u, s"m = $m")
    }
    val defaultC = HybridSearch.topCFor(HybridSearch.BatchK)
    val cappedM = sweep(Some(defaultC)).filter(col("m") === ChampionIndex.M)
      .drop("m").collect().toSeq
    val single = HybridSearch.fusedBatchChampionSel(docs, embs, postings,
      champs, selV, selD, topC = Some(defaultC)).collect().toSeq
    assert(cappedM.nonEmpty && cappedM == single)
  }

  test("the serving cut engages by corpus size, oracle-replayably") {
    // the r13 regime switch: below CutMinDocs the per-leg top-C cut is
    // skipped (its heap stages cost more than the frame they bound at
    // toy scale), at or above it the cut engages — and the SQL oracles
    // replay the SAME decision from the same datum (the documents
    // table's row count), so both regimes stay oracle-gated
    assert(HybridSearch.servingTopC(spark, TestSpark.Sf0001).isEmpty)
    assert(HybridSearch.servingTopC(spark, TestSpark.Sf001).isEmpty)
    // a synthetic dir at exactly the threshold engages the cut
    val d = java.nio.file.Files.createTempDirectory("cut_thresh").toFile
    d.deleteOnExit()
    spark.range(HybridSearch.CutMinDocs)
      .selectExpr("id AS doc_id", "'t' AS text", "'s' AS source",
        "'en' AS lang")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/documents.parquet")
    assert(HybridSearch.servingTopC(spark, d.getAbsolutePath)
      .contains(HybridSearch.topCFor(HybridSearch.BatchK)))
  }

  test("quantized fusion top-C cut at full depth is bitwise the uncapped fusion") {
    // the QUANTIZED-leg twin of the champion/refreshed pins: the ADC
    // fan-out's per-leg heaps at C >= candidate count are no-ops, the
    // keyword cell-membership restriction equals the uncapped
    // candidate semi-join, and dropped-winner ADC recovery recomputes
    // the same table lookups — capped == uncapped bitwise
    import graft.operators.{CorpusOps, IndexRefresh, VectorRefresh}
    val dir = TestSpark.Sf0001
    val kwPath = IndexRefresh.refreshedArtifact(spark, dir)
    val vecPath = VectorRefresh.quantizedArtifact(spark, dir)
    val currD = CorpusOps.currSnapshot(Tables.documents(spark, dir))
    val fullC = HybridSearch.fusedBatchQuantizedSel(spark, kwPath, vecPath,
      currD, topC = Some(1 << 24)).collect().toSeq
    val uncapped = HybridSearch.fusedBatchQuantizedSel(spark, kwPath, vecPath,
      currD, topC = None).collect().toSeq
    assert(fullC.nonEmpty && fullC == uncapped)
  }

  test("refreshed fusion top-C cut at full depth is bitwise the uncapped fusion") {
    // the REFRESHED-layout twin of the champion pin: C >= the
    // per-query live-cell candidate count makes both per-leg cuts
    // no-ops, so the capped prep (one streaming heap pass + cell-
    // membership keyword restriction + recomputed extra vscores) must
    // reproduce the uncapped ReusedExchange form bitwise — including
    // through an asOf pin (pinned centroids/live-cells/keyword views)
    import graft.operators.{CorpusOps, IndexRefresh, VectorRefresh}
    val dir = TestSpark.Sf0001
    val kwPath = IndexRefresh.refreshedArtifact(spark, dir)
    val vecPath = VectorRefresh.refreshedArtifact(spark, dir)
    val currD = CorpusOps.currSnapshot(Tables.documents(spark, dir))
    val currE = VectorRefresh.currSnapshot(Tables.embeddings(spark, dir))
    val fullC = HybridSearch.fusedBatchRefreshedPaths(spark, kwPath, vecPath,
      currD, currE, topC = Some(1 << 24)).collect().toSeq
    val uncapped = HybridSearch.fusedBatchRefreshedPaths(spark, kwPath, vecPath,
      currD, currE, topC = None).collect().toSeq
    assert(fullC.nonEmpty && fullC == uncapped)
    val prevD = CorpusOps.prevSnapshot(Tables.documents(spark, dir))
    val prevE = VectorRefresh.prevSnapshot(Tables.embeddings(spark, dir))
    val fullCAsOf = HybridSearch.fusedBatchRefreshedPaths(spark, kwPath, vecPath,
      prevD, prevE, asOf = Some(0), topC = Some(1 << 24)).collect().toSeq
    val uncappedAsOf = HybridSearch.fusedBatchRefreshedPaths(spark, kwPath, vecPath,
      prevD, prevE, asOf = Some(0), topC = None).collect().toSeq
    assert(fullCAsOf.nonEmpty && fullCAsOf == uncappedAsOf)
  }

  test("rm3 pruned at full champion depth reproduces the exact rm3 ranking") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val postings = KeywordSearch.cachedBatchPostings(spark, TestSpark.Sf0001)
    val fullChamps = ChampionIndex.buildChampions(postings,
      m = docs.count().toInt + 1)
    val pruned = Rm3Expansion.expandedSearchPruned(docs, fullChamps)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Rm3Expansion.expandedSearch(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.length == exact.length && pruned.nonEmpty)
    // nothing is pruned at full depth: both rounds differ only by the
    // champion index's 6dp impact rounding (feedback scores to 1e-4,
    // second-round contributions to ~1e-6 each)
    pruned.zip(exact).foreach { case ((pd, ps), (ed, es)) =>
      assert(pd == ed, s"ranking diverged: $pd vs $ed")
      assert(math.abs(ps - es) <= 2e-3, s"score diverged: $ps vs $es")
    }
  }

  test("batch dirichlet ql is EXACT dense LM ranking: candidate closure equals a full JVM replay") {
    val dir = TestSpark.Sf0001
    val docs = Tables.documents(spark, dir)
    val postings = KeywordSearch.cachedBatchPostings(spark, dir)
    val got = QueryLikelihood.qlBatch(docs, postings)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // dense replay: score EVERY (query, doc) pair — absent terms included
    def toks(t: String) = t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).filter(_._2.nonEmpty).toMap
    val df = corpus.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val ctf = corpus.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = corpus.values.map(_.size.toLong).sum.toDouble
    val mu = QueryLikelihood.Mu
    val k = KeywordSearch.BatchK
    val expected = corpus.keys.toSeq.sorted
      .filter(_ % KeywordSearch.BatchStride == 0).flatMap { qid =>
        val qterms = corpus(qid).distinct
          .map(t => f"${df(t)}%010d#$t").sorted.take(KeywordSearch.BatchTerms)
          .map(_.split("#", 2)(1)).sorted
        val ps = qterms.map(t => t -> ctf(t) / total).toMap
        val qconst = qterms.map(t => math.log(mu * ps(t))).sum
        val scored = corpus.toSeq.filter(_._1 != qid).map { case (d, dtoks) =>
          val dl = dtoks.size.toDouble
          val corr = qterms.map { t =>
            val tf = dtoks.count(_ == t).toDouble
            if (tf > 0) math.log(tf + mu * ps(t)) - math.log(mu * ps(t)) else 0.0
          }.sum
          (d, corr + qconst - qterms.size * math.log(dl + mu))
        }
        scored.sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex.map {
          case ((d, s), i) => (qid, i + 1, d,
            BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
    assert(got.map(r => (r._1, r._2, r._3)) == expected.map(r => (r._1, r._2, r._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) <= 1e-9, s"score diverged: $g vs $e")
    }
  }

  test("full-depth QL champions reproduce the exact batch dirichlet ranking") {
    val dir = TestSpark.Sf0001
    val docs = Tables.documents(spark, dir)
    val postings = KeywordSearch.cachedBatchPostings(spark, dir)
    val fullChamps = QueryLikelihood.buildQlChampions(postings,
      m = docs.count().toInt + 1)
    val pruned = QueryLikelihood.qlBatchPruned(docs, postings, fullChamps)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val exact = QueryLikelihood.qlBatch(docs, postings)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(pruned.length == exact.length && pruned.nonEmpty)
    // nothing pruned at full depth: corr differs only by the index's
    // 6dp impact rounding (<= nTerms * 5e-7 per doc)
    pruned.zip(exact).foreach { case ((pq, prn, pd, ps), (eq, ern, ed, es)) =>
      assert(pq == eq && prn == ern && pd == ed,
        s"ranking diverged: pruned=($pq,$prn,$pd) exact=($eq,$ern,$ed)")
      assert(math.abs(ps - es) <= 1.1e-4, s"score diverged: $ps vs $es")
    }
  }

  test("default-M QL champion pruning keeps high overlap with the exact batch ranking") {
    val dir = TestSpark.Sf0001
    val docs = Tables.documents(spark, dir)
    val postings = KeywordSearch.cachedBatchPostings(spark, dir)
    val champs = QueryLikelihood.cachedQlChampions(spark, dir)
    val pruned = QueryLikelihood.qlBatchPruned(docs, postings, champs)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = QueryLikelihood.qlBatch(docs, postings)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val overlaps = exact.map { case (q, ex) =>
      pruned.get(q).fold(0.0)(pr => (pr & ex).size.toDouble / ex.size)
    }
    val mean = overlaps.sum / overlaps.size
    info(f"mean top-${KeywordSearch.BatchK} QL overlap pruned-vs-exact at M=${graft.operators.ChampionIndex.M}: $mean%.3f over ${overlaps.size} queries")
    assert(mean >= 0.5, s"QL champion pruning recall collapsed: $mean")
  }

  test("hybrid: alpha=1 reproduces vector ranking, alpha=0 keyword ranking") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val vOnly = HybridSearch.fused(docs, embs, KeywordSearch.QueryTerms, 7L,
      alpha = 1.0, k = 5).select("doc_id").as[Long].collect().toSeq
    val vBrute = VectorSearch.topK(embs, 7L, 5).select("vec_id").as[Long].collect().toSeq
    // same set modulo the excluded self-match in topK
    assert(vOnly.toSet.subsetOf(vBrute.toSet + 7L))
    val kOnly = HybridSearch.fused(docs, embs, KeywordSearch.QueryTerms, 7L,
      alpha = 0.0, k = 5).select("doc_id").as[Long].collect().toSeq
    val kBrute = KeywordSearch.bm25(docs, KeywordSearch.QueryTerms, 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(kOnly == kBrute)
  }

  test("rerank: fallback to top_k when nothing clears the threshold") {
    val cands = Seq(
      (0L, 5.0, Seq("alpha", "beta")),
      (1L, 4.0, Seq("gamma", "delta")),
      (2L, 3.0, Seq("epsilon", "zeta"))
    ).toDF("doc_id", "score", "tok_set")
    val out = Reranker.rerank(cands, Seq("spark"), topK = 2, threshold = 0.5)
    assert(out.count() == 2) // nothing matches 'spark' → top_k branch
  }

  test("rerank: returns ALL hits above threshold when any clears it") {
    val cands = Seq(
      (0L, 5.0, Seq("spark", "x")),
      (1L, 4.0, Seq("spark", "y")),
      (2L, 3.0, Seq("spark", "z")),
      (3L, 2.0, Seq("nope"))
    ).toDF("doc_id", "score", "tok_set")
    val out = Reranker.rerank(cands, Seq("spark"), topK = 2, threshold = 0.3)
    assert(out.count() == 3) // all three above threshold, ignoring top_k=2
  }

  test("context pruning keeps maximal prefix within budget") {
    val ranked = Seq(
      (0L, 9.0, 100), (1L, 8.0, 200), (2L, 7.0, 150), (3L, 6.0, 50)
    ).toDF("doc_id", "score", "n_tokens")
    val kept = ContextPruner.prune(ranked, budget = 320)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(0L, 1L)) // 100+200 fits; +150 would not
  }

  test("batch vector search: per-query top-k, no self matches") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val out = VectorSearch.batchTopK(embs, stride = 25, k = 3).collect()
    val perQuery = out.groupBy(_.getAs[Long]("q_id"))
    assert(perQuery.nonEmpty)
    assert(perQuery.values.forall(_.length == 3))
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("vec_id")))
    // batch result for a query equals the single-query path
    val q0 = perQuery.keys.min
    val single = VectorSearch.topK(embs, q0, 3).select("vec_id").as[Long].collect().toSeq
    val batch0 = out.filter(_.getAs[Long]("q_id") == q0).sortBy(_.getAs[Int]("rn"))
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(batch0 == single)
    // heap-aggregate formulation equals the window-ranking reference form
    val win = VectorSearch.batchTopKWindow(embs, stride = 25, k = 3)
      .collect().map(_.toString).toSeq
    assert(out.map(_.toString).toSeq == win)
  }

  test("e2e chunk->embed->search returns a deterministic non-empty top-k") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val a = graft.operators.Embedder.chunkEmbedSearch(docs).collect()
    val b = graft.operators.Embedder.chunkEmbedSearch(docs).collect()
    assert(a.length == 10 && a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.forall(r => r.getAs[Double]("score") >= -1.0 && r.getAs[Double]("score") <= 1.0))
  }

  test("parent retrieval: parents rank by their best chunk, pooling is exact") {
    import graft.operators.Embedder
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val out = Embedder.parentSearch(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse)
    // recompute the pooling from ALL chunk scores
    val all = Embedder.chunkEmbedSearch(docs, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val expect = all.groupBy(_._1).map { case (d, cs) =>
      val best = cs.minBy(c => (-c._3, c._2))
      (d, best._2, best._3, cs.length.toLong)
    }.toSeq.sortBy(t => (-t._3, t._1)).take(Embedder.ParentK)
    assert(out.toSeq == expect)
  }

  test("extractive generation: cited spans come from retrieved docs and carry query terms") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val row = Generation.extractiveAnswer(docs, KeywordSearch.QueryTerms).head()
    val n = row.getLong(0)
    val answer = row.getString(1)
    assert(n >= 1 && n <= Generation.TopSpans)
    // citations are [rank] markers within the retrieved top-k
    val cites = "\\[(\\d+)\\]".r.findAllMatchIn(answer).map(_.group(1).toInt).toSeq
    assert(cites.nonEmpty && cites.forall(r => r >= 1 && r <= Generation.ContextK))
    // the best span must actually contain a query term (it was selected
    // by overlap over docs BM25 already matched)
    assert(KeywordSearch.QueryTerms.exists(answer.contains))
    // deterministic across runs
    val again = Generation.extractiveAnswer(docs, KeywordSearch.QueryTerms).head()
    assert(again.getString(1) == answer)
    // the client facade exposes the same slot
    val viaClient = new GraftClient(spark, TestSpark.Sf0001)
      .chatCompletion(KeywordSearch.QueryTerms.mkString(" ")).head()
    assert(viaClient.getString(1) == answer)
  }

  test("search render: hms pads and wraps, url is synthesized") {
    val r = Seq((3725L, "abc", "PL9")).toDF("secs", "vid", "pl")
      .select(SearchRender.hms(col("secs")).as("t"),
        SearchRender.watchUrl(col("vid"), col("pl")).as("u"))
      .collect().head
    assert(r.getString(0) == "01:02:05")
    assert(r.getString(1) == "https://www.youtube.com/watch?v=abc&list=PL9")
    val zero = Seq(Tuple1(0L)).toDF("secs")
      .select(SearchRender.hms(col("secs"))).collect().head.getString(0)
    assert(zero == "00:00:00")
  }

  test("prompt assembly numbers contexts in rank order") {
    val ranked = Seq((1, "first snippet"), (2, "second snippet")).toDF("rk", "snippet")
    val row = graft.operators.PromptAssembly.assemble(ranked).collect().head
    assert(row.getAs[Long]("n_contexts") == 2)
    assert(row.getAs[String]("prompt") == "1. first snippet\n2. second snippet")
  }

  test("batch bm25 per-query results equal the single-query search") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val batch = KeywordSearch.bm25Batch(docs).collect()
    assert(batch.nonEmpty)
    val qid = batch.head.getAs[Long]("q_id")
    // reconstruct the query's rarest-token terms exactly as the batch does
    val dict = docs.select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val terms = docs.filter(col("doc_id") === qid)
      .select(explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .join(dict, "term")
      .orderBy(asc("df"), asc("term"))
      .limit(KeywordSearch.BatchTerms)
      .select("term").as[String].collect().toSeq.sorted
    // single-query bm25 with self excluded, cut to the batch k
    val single = KeywordSearch.bm25(docs, terms, topK = KeywordSearch.BatchK + 1)
      .filter(col("doc_id") =!= qid)
      .limit(KeywordSearch.BatchK)
      .select("doc_id", "score").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val fromBatch = batch.filter(_.getAs[Long]("q_id") == qid)
      .sortBy(_.getAs[Int]("rn"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(fromBatch == single)
  }

  test("batch hybrid at alpha=1 ranks exactly like the batch vector search") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    // min-max normalization is monotonic, so pure-vector fusion must
    // reproduce the vector heap ranking (same k, same tie-breaks)
    val hybrid = HybridSearch.fusedBatchSel(docs, embs, alpha = 1.0)
      .select("q_id", "rn", "doc_id").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"))).toSeq
    val vector = VectorSearch.batchTopK(embs)
      .select(col("q_id"), col("rn"), col("vec_id").as("doc_id")).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"))).toSeq
    assert(hybrid.nonEmpty && hybrid == vector)
  }

  test("batch hybrid scores stay in [0,1] and rank descending per query") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val rows = HybridSearch.fusedBatchSel(docs, embs).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getAs[Double]("score"); s >= 0.0 && s <= 1.0
    })
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val byRn = g.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("score")).toSeq
      assert(byRn == byRn.sorted.reverse)
    }
  }

  test("dirichlet ql: equal-length docs rank by query-term mass, absent terms still score") {
    val docs = Seq(
      (0L, "spark hash join fast", "s0", "en"),      // all four query terms
      (1L, "spark hash cold cold", "s0", "en"),      // two query terms, same dl
      (2L, "cold cold cold cold", "s1", "en")        // no query term, same dl
    ).toDF("doc_id", "text", "source", "lang")
    val r = QueryLikelihood.search(docs, KeywordSearch.QueryTerms, k = 3)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // every doc is scored (LM semantics: smoothing covers absent terms)
    assert(r.size == 3)
    assert(r(0L) > r(1L) && r(1L) > r(2L))
  }

  test("dirichlet ql benchmark: deterministic top-k, scores strictly ordered by (score, doc_id)") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val a = QueryLikelihood.qSearch(spark, TestSpark.Sf001).collect().toSeq
    val b = QueryLikelihood.search(docs).collect().toSeq
    assert(a == b && a.nonEmpty)
    val scores = a.map(_.getAs[Double]("score"))
    assert(scores == scores.sorted.reverse)
  }

  test("rm3: lambda=1 (no expansion mass) reduces to the plain bm25 ranking") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val plain = KeywordSearch.bm25(docs, KeywordSearch.QueryTerms, 10)
      .select("doc_id").as[Long].collect().toSet
    val rm3 = Rm3Expansion.expandedSearch(docs, lambda = 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(rm3 == plain)
  }

  test("rm3 expansion weights: |q|+E terms, originals at lambda/|q|, expansions share 1-lambda") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val w = Rm3Expansion.expansionWeights(docs).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Double]("weight")))
    val qset = KeywordSearch.QueryTerms.distinct.toSet
    assert(w.length == qset.size + Rm3Expansion.ExpandE)
    val (orig, expd) = w.partition { case (t, _) => qset.contains(t) }
    assert(orig.length == qset.size &&
      orig.forall(_._2 == Rm3Expansion.Lambda / qset.size))
    assert(expd.forall { case (t, wt) => !qset.contains(t) && wt > 0.0 })
    assert(math.abs(expd.map(_._2).sum - (1 - Rm3Expansion.Lambda)) < 1e-9)
  }

  test("rm3 second round scores every weighted term, not just the originals") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    // a doc matching ONLY expansion terms can enter the expanded ranking:
    // the score of every returned doc must be reproducible from the
    // weighted term set, and at least one expansion term must carry
    // nonzero weight into the final scores (guard: expansion actually
    // reaches round 2 — scores at lambda=0.6 differ from lambda=1 scaled)
    val at6 = Rm3Expansion.expandedSearch(docs).select("doc_id", "score")
      .as[(Long, Double)].collect().toMap
    val at1 = Rm3Expansion.expandedSearch(docs, lambda = 1.0)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val common = at6.keySet.intersect(at1.keySet)
    assert(common.nonEmpty)
    // if expansion contributed nothing, at6 = 0.6 * at1 (both are
    // lambda-scaled copies of the same per-term sums)
    assert(common.exists { id => math.abs(at6(id) - 0.6 * at1(id)) > 1e-3 })
  }

  test("alpha-sweep fusion: the default-alpha slice equals the single-alpha batch fusion") {
    val docs = Tables.documents(spark, TestSpark.Sf001)
    val embs = Tables.embeddings(spark, TestSpark.Sf001)
    val single = HybridSearch.fusedBatchSel(docs, embs).collect().toSeq
    val sweep = HybridSearch.fusedBatchSweepSel(docs, embs,
        _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
        _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
        Seq(0.25, HybridSearch.Alpha, 1.0))
      .filter(col("alpha") === HybridSearch.Alpha).drop("alpha")
      .collect().toSeq
    assert(sweep.nonEmpty && sweep == single)
  }

  test("alpha-sweep eval: one metric row per alpha over the same query base") {
    val m = RetrievalEval.queryAlphaSweep(spark, TestSpark.Sf001).collect()
    assert(m.map(_.getAs[Double]("alpha")).toSeq ==
      RetrievalEval.SweepAlphas)
    assert(m.map(_.getAs[Long]("n_queries")).distinct.length == 1)
    assert(m.forall { r =>
      val h = r.getAs[Double]("hit_rate"); val mrr = r.getAs[Double]("mrr")
      h >= 0.0 && h <= 1.0 && mrr >= 0.0 && mrr <= h
    })
  }

  test("eval: perfect and impossible retrieval bound the metrics") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (10L, Array(0.99f, 0.01f), 0),
      (20L, Array(0.0f, 1.0f), 1), (21L, Array(0.01f, 0.99f), 1)
    ).toDF("vec_id", "embedding", "label")
    val m = RetrievalEval.labelPrecision(embs, stride = 10, k = 2).collect().head
    assert(m.getAs[Long]("n_queries") == 3) // 0, 10, 20 — not 21
    assert(m.getAs[Double]("hit_rate") == 1.0) // nearest neighbor shares label
    assert(m.getAs[Double]("mrr") == 1.0)
  }

  test("keyword retrieval eval: metrics bounded, mrr never exceeds hit rate") {
    import graft.operators.RetrievalEval
    val r = RetrievalEval.labelPrecisionKw(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001),
      graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)).head()
    val (n, hr, mrr) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(n > 0)
    assert(hr >= 0.0 && hr <= 1.0)
    // every hit contributes at most 1 to MRR and exactly 1 to hit rate
    assert(mrr <= hr + 1e-9)
    // the hybrid leg evaluates the same query set with the same bounds
    val h = RetrievalEval.labelPrecisionHybrid(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001),
      graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)).head()
    assert(h.getLong(0) > 0)
    assert(h.getDouble(2) <= h.getDouble(1) + 1e-9)
  }

  test("ndcg: relevant doc at rank 2 with one relevant total scores 1/log2(3)") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 0),  // the only query (stride 10)
      (1L, Array(0.9f, 0.1f), 1),  // rank 1, irrelevant
      (2L, Array(0.5f, 0.5f), 0),  // rank 2, the one relevant doc
      (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val m = RetrievalEval.ndcg(embs, stride = 10, k = 2).collect().head
    assert(m.getAs[Long]("n_queries") == 1)
    // dcg = 1/log2(3), idcg = 1/log2(2) = 1 (ideal_k = min(k, n_label-1) = 1)
    assert(m.getAs[Double]("mean_ndcg") == math.rint(1.0 / (math.log(3.0) / math.log(2.0)) * 1e4) / 1e4)
  }

  test("ndcg: perfect front-loaded ranking scores 1.0") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val m = RetrievalEval.ndcg(embs, stride = 10, k = 2).collect().head
    assert(m.getAs[Double]("mean_ndcg") == 1.0)
  }

  test("rrf fusion: scores are exactly the reciprocal-rank sums of the two lists") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val terms = KeywordSearch.QueryTerms
    val L = HybridSearch.RrfLimit
    val kwRank = KeywordSearch.bm25(docs, terms, L).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val vecRank = VectorSearch.topK(embs, VectorSearch.QueryVecId, L).collect()
      .map(_.getAs[Long]("vec_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val out = HybridSearch.fusedRrf(docs, embs, terms, VectorSearch.QueryVecId)
      .collect()
    assert(out.length == HybridSearch.TopK)
    out.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val expected =
        kwRank.get(d).map(rk => 1.0 / (HybridSearch.RrfK0 + rk)).getOrElse(0.0) +
          vecRank.get(d).map(rv => 1.0 / (HybridSearch.RrfK0 + rv)).getOrElse(0.0)
      assert(r.getAs[Double]("score") == math.rint(expected * 1e6) / 1e6,
        s"doc $d")
    }
    // fusion is over list positions, not raw scores: the top fused doc
    // must appear in at least one modality list
    assert(out.map(_.getAs[Long]("doc_id"))
      .forall(d => kwRank.contains(d) || vecRank.contains(d)))
  }

  test("grouped search: per-group caps and group ordering by best hit") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val out = VectorSearch.topKGrouped(embs, docs).collect()
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource.size <= VectorSearch.GroupsLimit)
    bySource.values.foreach { rows =>
      assert(rows.length <= VectorSearch.ObjectsPerGroup)
      // within-group ranks are dense from 1 and ordered by score
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rows.length))
    }
    // group order: non-increasing best_score
    val bests = out.filter(_.getAs[Int]("rn") == 1).map(_.getAs[Double]("best_score"))
    assert(bests.sameElements(bests.sortBy(-_)))
  }

  test("autocut: keeps a prefix and stops before the configured jump") {
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val full = VectorSearch.topK(embs, VectorSearch.QueryVecId,
      VectorSearch.AutocutCandidates).collect().map(_.getAs[Long]("vec_id"))
    val cut = VectorSearch.topKAutocut(embs).collect()
    assert(cut.nonEmpty && cut.length <= full.length)
    // the cut list is exactly a PREFIX of the full ranking
    assert(cut.map(_.getAs[Long]("vec_id")).toSeq == full.take(cut.length).toSeq)
    // ranks are dense
    assert(cut.map(_.getAs[Int]("rn")).toSeq == (1 to cut.length))
  }

  test("pair stats: counts adjacent occurrences, not co-occurrence") {
    val d = Seq((0L, "a b a b c", "s0"), (1L, "b a x", "s0"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val out = TextAnalysis.pairStats(d).collect()
      .map(r => r.getAs[String]("pair") -> (r.getAs[Long]("tf"), r.getAs[Long]("df"))).toMap
    assert(out("a b") == (2L, 1L)) // twice in doc 0 only
    assert(out("b a") == (2L, 2L)) // once per doc
    assert(out("b c") == (1L, 1L))
    assert(out("a x") == (1L, 1L))
  }

  test("mmr rerank: near-duplicate of the top hit is demoted below a diverse hit") {
    // query 0; docs 1,2 nearly identical (sim ≈ 1) and most relevant;
    // doc 3 less relevant but on the OTHER side of the query (negative
    // sim to doc 1). Plain ranking: 1,2,3. MMR at λ=0.7 pays doc 2's
    // redundancy penalty (≈0.3) while doc 3 gains from its negative
    // similarity: 1,3,2.
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.70f, 0.70f, 0.00f), 0),
      (2L, Array(0.70f, 0.71f, 0.00f), 0),
      (3L, Array(0.50f, -0.87f, 0.00f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Reranker.mmrRerank(embs, queryVecId = 0L, c = 3, k = 3)
      .collect().map(r => r.getAs[Int]("rn") -> r.getAs[Long]("doc_id"))
    assert(out.toSeq == Seq(1 -> 1L, 2 -> 3L, 3 -> 2L))
  }

  test("mmr rerank: rank 1 is the pure-relevance winner with score λ·rel") {
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val top = VectorSearch.topK(embs, VectorSearch.QueryVecId, 1).collect().head
    val first = Reranker.mmrRerank(embs).collect().head
    assert(first.getAs[Long]("doc_id") == top.getAs[Long]("vec_id"))
    assert(first.getAs[Double]("mmr_score") ==
      math.rint(Reranker.MmrLambda * top.getAs[Double]("score") * 1e4) / 1e4)
  }

  test("batch ivf at full probe equals the brute-force batch vector search") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val nlist = embs.select("label").distinct().count().toInt
    val ivf = IvfIndex.batchSearchIvf(embs,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0), nprobe = nlist)
      .collect().map(_.toSeq)
    val brute = VectorSearch.batchTopK(embs).collect().map(_.toSeq)
    assert(ivf.toSeq == brute.toSeq) // probing every cell = no pruning
  }

  test("batch ivf at nprobe<nlist: results come only from probed cells, recall holds") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val queries = embs.filter(col("vec_id") % VectorSearch.BatchStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = IvfIndex.batchProbedCells(embs, queries, IvfIndex.NProbe)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(probed.values.forall(_.size <= IvfIndex.NProbe))
    val labels = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = IvfIndex.batchSearchIvf(embs,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(ivf.forall { case (q, v) => probed(q).contains(labels(v)) })
    // recall vs brute force — pruned search still finds most true neighbors
    val brute = VectorSearch.batchTopK(embs)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // synthetic sf0.001 labels are uncorrelated with cosine geometry, so
    // expected recall is only ≈ nprobe/nlist (0.3) — the floor guards
    // against a broken probe (≈0), not against the data's cell quality
    val recall = ivf.count(brute.contains).toDouble / brute.size
    info(f"batch ivf recall@${VectorSearch.BatchK} = $recall%.2f")
    assert(recall >= 0.1, f"batch ivf recall collapsed: $recall%.2f")
  }

  test("materialized batch ivf: dynamic partition pruning, equals the in-memory path") {
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val path = java.nio.file.Files.createTempDirectory("ivf_dpp").toString
    IvfIndex.writeIndex(embs, path)
    val sel: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0)
    val mat = IvfIndex.batchSearchIndex(spark, path, embs, sel)
    mat.collect()
    val plan = mat.queryExecution.executedPlan.toString
    // the probed-cell join key is the partition column: the scan must
    // carry a dynamic-pruning partition filter, not read every cell
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the cell scan:\n$plan")
    val inMem = IvfIndex.batchSearchIvf(embs, sel).collect().map(_.toSeq)
    assert(mat.collect().map(_.toSeq).toSeq == inMem.toSeq)
  }

  test("batch hybrid ivf at full probe equals the brute-force batch hybrid") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val nlist = embs.select("label").distinct().count().toInt
    val ivf = HybridSearch.fusedBatchIvfSel(docs, embs, nprobe = nlist)
      .collect().map(_.toSeq)
    val brute = HybridSearch.fusedBatchSel(docs, embs).collect().map(_.toSeq)
    assert(ivf.toSeq == brute.toSeq)
  }

  test("batch hybrid ivf: standing-artifact serving form equals the inline build") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val cdir = java.nio.file.Files.createTempDirectory("cents").toString
    val pdir = java.nio.file.Files.createTempDirectory("posts").toString
    IvfIndex.writeCentroids(embs, cdir)
    KeywordSearch.buildBatchPostings(docs).write.mode("overwrite").parquet(pdir)
    val served = HybridSearch.fusedBatchIvfSel(docs, embs,
      centroids = Some(spark.read.parquet(cdir)),
      kwIndex = Some(spark.read.parquet(pdir))).collect().map(_.toSeq)
    val inline = HybridSearch.fusedBatchIvfSel(docs, embs).collect().map(_.toSeq)
    assert(served.toSeq == inline.toSeq)
  }

  test("batch kw + batch hybrid: standing-postings serving equals inline") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val pdir = java.nio.file.Files.createTempDirectory("posts2").toString
    KeywordSearch.buildBatchPostings(docs).write.mode("overwrite").parquet(pdir)
    val idx = spark.read.parquet(pdir)
    val stride = KeywordSearch.BatchStride
    val kwServed = KeywordSearch.bm25BatchFor(docs,
      col("doc_id") % stride === 0, index = Some(idx)).collect().map(_.toSeq)
    val kwInline = KeywordSearch.bm25Batch(docs).collect().map(_.toSeq)
    assert(kwServed.toSeq == kwInline.toSeq)
    val hyServed = HybridSearch.fusedBatchSel(docs, embs,
      _.filter(col("vec_id") % stride === 0),
      _.filter(col("doc_id") % stride === 0),
      kwIndex = Some(idx)).collect().map(_.toSeq)
    val hyInline = HybridSearch.fusedBatchSel(docs, embs).collect().map(_.toSeq)
    assert(hyServed.toSeq == hyInline.toSeq)
  }

  test("multifield bm25: single text field at weight 1 reduces to plain bm25") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val terms = KeywordSearch.QueryTerms
    val multi = KeywordSearch.bm25MultiField(docs, terms, Seq("text" -> 1.0))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val plain = KeywordSearch.bm25(docs, terms).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(multi.toSeq == plain.toSeq)
  }

  test("multifield bm25: boosted source field lifts its docs") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    // src3 matches only via the boosted source field; with the boost the
    // top-k must contain src3 docs that plain text bm25 would not return
    val out = KeywordSearch.bm25MultiField(docs).collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getAs[String]("source") == "src3"),
      "expected source-field matches to surface")
  }
}
