package graft

import graft.operators.{ChampionIndex, KeywordSearch}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class ChampionIndexSpec extends SparkSpec {

  private def docs = Tables.documents(spark, TestSpark.Sf0001)
  private lazy val postings =
    KeywordSearch.cachedBatchPostings(spark, TestSpark.Sf0001)

  test("champion lists are bounded by M and keep the impact-max posting") {
    val champs = ChampionIndex.buildChampions(postings)
    val sizes = champs.groupBy("term").count().agg(max("count")).head.getLong(0)
    assert(sizes <= ChampionIndex.M)
    // every term's best-impact posting must be in its list: the list is
    // a PREFIX of the impact ordering, so max(list imp) == max(term imp)
    val full = ChampionIndex.buildChampions(postings, m = Int.MaxValue)
      .groupBy("term").agg(max("imp").as("best"))
    val kept = champs.groupBy("term").agg(max("imp").as("kept"))
    assert(full.join(kept, "term").filter(col("best") =!= col("kept")).isEmpty)
  }

  test("full-depth champions reproduce the exact batch ranking (the full-probe == brute-force pattern)") {
    // m >= the longest postings list => nothing is pruned; rankings must
    // match the un-pruned batch scorer exactly (scores agree to 1e-4:
    // the pruned path sums index-edge-rounded impacts)
    val nDocs = docs.count().toInt
    val pruned = ChampionIndex.bm25BatchPruned(docs, postings,
      ChampionIndex.buildChampions(postings, m = nDocs + 1))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val exact = KeywordSearch.bm25BatchFor(docs,
      col("doc_id") % KeywordSearch.BatchStride === 0, index = Some(postings))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(pruned.length == exact.length && pruned.nonEmpty)
    pruned.zip(exact).foreach { case ((pq, prn, pd, ps), (eq, ern, ed, es)) =>
      assert(pq == eq && prn == ern && pd == ed,
        s"ranking diverged: pruned=($pq,$prn,$pd) exact=($eq,$ern,$ed)")
      assert(math.abs(ps - es) <= 1.1e-4, s"score diverged: $ps vs $es")
    }
  }

  test("default-M pruning keeps high overlap with the exact ranking while bounding candidates") {
    val champs = ChampionIndex.cachedChampions(spark, TestSpark.Sf0001)
    val pruned = ChampionIndex.bm25BatchPruned(docs, postings, champs)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = KeywordSearch.bm25BatchFor(docs,
      col("doc_id") % KeywordSearch.BatchStride === 0, index = Some(postings))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val overlaps = exact.map { case (q, ex) =>
      pruned.get(q).fold(0.0)(pr => (pr & ex).size.toDouble / ex.size)
    }
    val mean = overlaps.sum / overlaps.size
    info(f"mean top-${KeywordSearch.BatchK} overlap pruned-vs-exact at M=${ChampionIndex.M}: $mean%.3f over ${overlaps.size} queries")
    assert(mean >= 0.5, s"champion pruning recall collapsed: $mean")
    // the spec only means something if the cut is real at this corpus
    // size (candidate bound nTerms*M below the corpus doc count)
    assert(ChampionIndex.M * KeywordSearch.BatchTerms < docs.count(),
      "spec precondition: pruning must be real at this corpus size")
  }

  test("recall against the exact ranking is monotone in the depth knob M") {
    val exact = KeywordSearch.bm25BatchFor(docs,
      col("doc_id") % KeywordSearch.BatchStride === 0, index = Some(postings))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recallAt(m: Int): Double = {
      val pruned = ChampionIndex.bm25BatchPruned(docs, postings,
        ChampionIndex.buildChampions(postings, m))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      val o = exact.map { case (q, ex) =>
        pruned.get(q).fold(0.0)(pr => (pr & ex).size.toDouble / ex.size)
      }
      o.sum / o.size
    }
    val r32 = recallAt(32); val r128 = recallAt(128); val r512 = recallAt(512)
    info(f"mean top-${KeywordSearch.BatchK} recall vs exact: M=32 $r32%.3f  M=128 $r128%.3f  M=512 $r512%.3f")
    assert(r32 <= r128 && r128 <= r512, s"recall not monotone in M: $r32 $r128 $r512")
    // at M >= corpus the cut is gone (corpus is 500 docs)
    assert(r512 == 1.0, s"uncut recall must be 1.0, was $r512")
  }

  test("full-depth single-query champion search reproduces exact bm25") {
    val fullChamps = ChampionIndex.buildChampions(postings, m = docs.count().toInt + 1)
    val pruned = ChampionIndex.bm25Champion(docs, fullChamps, KeywordSearch.QueryTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val exact = KeywordSearch.bm25(docs, KeywordSearch.QueryTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(pruned.length == exact.length && pruned.nonEmpty)
    pruned.zip(exact).foreach { case ((pd, ps), (ed, es)) =>
      assert(pd == ed, s"ranking diverged: $pd vs $ed")
      assert(math.abs(ps - es) <= 1.1e-4, s"score diverged: $ps vs $es")
    }
  }

  test("champion serving is batch-split invariant: a query's rows are identical whichever batch it arrives in") {
    val champs = ChampionIndex.cachedChampions(spark, TestSpark.Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val all = rows(ChampionIndex.bm25BatchPruned(docs, postings, champs))
    val q0 = all.map(_._1).min
    // impacts are global index constants, so a singleton "micro-batch"
    // must reproduce the full-batch rows for that query exactly — the
    // contract stream_kw_champion_serve's oracle hash-match rests on
    val solo = rows(ChampionIndex.bm25BatchPrunedSel(docs, postings, champs,
      _.filter(col("doc_id") === q0)))
    assert(solo.nonEmpty && solo == all.filter(_._1 == q0))
  }

  test("full-depth champion fusion reproduces the IVF batch fusion") {
    import graft.operators.{HybridSearch, IvfIndex}
    val embs = Tables.embeddings(spark, TestSpark.Sf0001)
    val fullChamps = ChampionIndex.buildChampions(postings, m = docs.count().toInt + 1)
    val champion = HybridSearch.fusedBatchChampionSel(docs, embs,
      postings, fullChamps,
      _.filter(col("vec_id") % KeywordSearch.BatchStride === 0),
      _.filter(col("doc_id") % KeywordSearch.BatchStride === 0),
      // this pin isolates champion-list COVERAGE (full depth ==
      // every posting is a champion), so the per-leg top-C serving
      // cut is off — capped == uncapped has its own bitwise pin in
      // SearchSpec, and the IVF twin below runs uncapped
      topC = None)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val ivf = HybridSearch.fusedBatchIvfSel(docs, embs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(champion.length == ivf.length && champion.nonEmpty)
    // same candidate domain (probed cells), keyword leg differs only by
    // the index-edge impact rounding — fused round(4) scores must agree
    // to one rounding step, rankings pair-for-pair
    champion.zip(ivf).foreach { case ((cq, crn, cd, cs), (iq, irn, id, is)) =>
      assert(cq == iq && crn == irn, s"frame diverged: ($cq,$crn) vs ($iq,$irn)")
      assert(cd == id || math.abs(cs - is) <= 2e-4,
        s"rank diverged beyond rounding: ($cq,$crn,$cd,$cs) vs ($iq,$irn,$id,$is)")
    }
  }

  test("depth sweep: M=max slice is bitwise the doubly-pruned fusion ranking; shallower depths stay bounded") {
    import graft.operators.{HybridSearch, RetrievalEval}
    val dir = TestSpark.Sf0001
    val sweep = HybridSearch.batchSearchChampionDepthSweep(
      spark, dir, RetrievalEval.SweepMs).collect()
    assert(sweep.nonEmpty)
    // the anchor: at the standing artifact's own depth, membership by
    // impact rank keeps every champion row, so the sweep's slice must
    // BE the serving ranking — same rows, same rn, same fused scores
    val maxSlice = sweep.filter(_.getInt(0) == ChampionIndex.M)
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    val serving = HybridSearch.batchSearchChampion(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(maxSlice.nonEmpty && maxSlice.sameElements(serving),
      "the M=max sweep slice diverged from the doubly-pruned serving ranking")
    // every swept depth produces a full result family (per-query pages
    // exist at each m — the sweep never silently drops a depth)
    val depths = sweep.map(_.getInt(0)).distinct.sorted
    assert(depths.toSeq == RetrievalEval.SweepMs.sorted)
  }

  test("driver query serves the standing artifact and matches its oracle shape") {
    val df = ChampionIndex.batchSearchPruned(spark, TestSpark.Sf0001)
    assert(df.columns.toSeq == Seq("q_id", "rn", "doc_id", "score"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per query: rn contiguous from 1, scores non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRn = rs.sortBy(_.getInt(1))
      assert(byRn.head.getInt(1) == 1)
      assert(byRn.map(_.getInt(1)).toSeq == (1 to byRn.length))
      val scores = byRn.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    assert(ChampionIndex.batchPrunedOracle.contains("champs"))
  }
}
