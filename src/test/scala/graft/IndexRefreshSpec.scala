package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IndexRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("source", concat(lit("s"), col("doc_id") % 3))
      .withColumn("lang", lit("en"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_refresh_spec").toString

  private val base = docsDF(
    0L -> "spark joins data fast",
    1L -> "hash join hash join hash",
    2L -> "slow scans of cold data",
    3L -> "fast spark fast spark fast",
    4L -> "window agg over data stream")

  // refresh batch: doc 5 added, doc 1 changed, doc 2 removed
  private val curr = docsDF(
    0L -> "spark joins data fast",
    1L -> "hash join merged anew",
    3L -> "fast spark fast spark fast",
    4L -> "window agg over data stream",
    5L -> "brand new vector search doc")

  private def buildRefreshed(): String = {
    val path = tmp()
    IndexRefresh.buildBase(base, path)
    val deltaDocs = curr.filter(col("doc_id").isin(1L, 5L))
    val removedDocs = base.filter(col("doc_id").isin(1L, 2L))
    IndexRefresh.refresh(spark, path, deltaDocs, removedDocs)
    path
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("delta refresh is bitwise the full rebuild: postings, dict, champions, stats") {
    val refreshed = buildRefreshed()
    val full = tmp()
    IndexRefresh.buildBase(curr, full)
    assert(sortedRows(IndexRefresh.livePostings(spark, refreshed).drop("seg")) ==
      sortedRows(IndexRefresh.livePostings(spark, full).drop("seg")))
    assert(sortedRows(IndexRefresh.dictView(spark, refreshed)) ==
      sortedRows(IndexRefresh.dictView(spark, full)))
    assert(sortedRows(IndexRefresh.champsView(spark, refreshed)) ==
      sortedRows(IndexRefresh.champsView(spark, full)))
    assert(sortedRows(IndexRefresh.statsView(spark, refreshed)) ==
      sortedRows(IndexRefresh.statsView(spark, full)))
    // and at the search level, for terms spanning touched + untouched
    for (terms <- Seq(Seq("spark", "fast"), Seq("hash", "join"),
                      Seq("vector", "search"), Seq("data", "stream", "window"))) {
      assert(sortedRows(IndexRefresh.search(spark, refreshed, curr, terms)) ==
        sortedRows(IndexRefresh.search(spark, full, curr, terms)), s"terms=$terms")
    }
  }

  test("refresh touches only the delta: recut covers exactly the touched terms, base files unchanged") {
    val path = tmp()
    IndexRefresh.buildBase(base, path)
    def baseFiles(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(path, "seg=0")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val before = baseFiles()
    val deltaDocs = curr.filter(col("doc_id").isin(1L, 5L))
    val removedDocs = base.filter(col("doc_id").isin(1L, 2L))
    IndexRefresh.refresh(spark, path, deltaDocs, removedDocs)
    assert(baseFiles() == before, "refresh must never rewrite the base segment")
    // the delta segment's recut terms = tokens of added/changed/removed
    // versions, nothing else
    val expected = (deltaDocs.select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .union(removedDocs.select(explode(graft.functions.TextFunctions.tokens(col("text")))))
      ).distinct().as[String].collect().toSet
    val recut = spark.read.parquet(s"$path/seg=1/dict")
      .select("term").as[String].collect().toSet
    assert(recut == expected)
    // no live champion row references a dead doc version (doc 2 removed;
    // doc 1's old terms recut)
    val champs = IndexRefresh.champsView(spark, path)
    assert(champs.filter(col("doc_id") === 2L).count() == 0)
  }

  test("batch serving over the refreshed artifact equals the full rebuild") {
    val refreshed = buildRefreshed()
    val full = tmp()
    IndexRefresh.buildBase(curr, full)
    // stride 1: every current doc is a query — covers added, changed and
    // untouched query docs against both layouts
    assert(sortedRows(IndexRefresh.batchSearch(spark, refreshed, curr, stride = 1)) ==
      sortedRows(IndexRefresh.batchSearch(spark, full, curr, stride = 1)))
  }

  test("batch QL serving over the refreshed artifact equals the full rebuild") {
    val refreshed = buildRefreshed()
    val full = tmp()
    IndexRefresh.buildBase(curr, full)
    assert(sortedRows(IndexRefresh.qlBatchSearch(spark, refreshed, curr, stride = 1)) ==
      sortedRows(IndexRefresh.qlBatchSearch(spark, full, curr, stride = 1)))
  }

  test("exactly-once: replaying a refresh at the same segment id is idempotent") {
    val deltaDocs = curr.filter(col("doc_id").isin(1L, 5L))
    val removedDocs = base.filter(col("doc_id").isin(1L, 2L))
    def views(p: String) = Seq(
      sortedRows(IndexRefresh.livePostings(spark, p).drop("seg")),
      sortedRows(IndexRefresh.dictView(spark, p)),
      sortedRows(IndexRefresh.champsView(spark, p)),
      sortedRows(IndexRefresh.statsView(spark, p)))
    val once = tmp()
    IndexRefresh.buildBase(base, once)
    IndexRefresh.refreshAt(spark, once, 1, deltaDocs, removedDocs)
    // full replay (a retry AFTER a completed attempt): same id, same
    // content, every write overwrites itself — views unchanged
    val replay = tmp()
    IndexRefresh.buildBase(base, replay)
    IndexRefresh.refreshAt(spark, replay, 1, deltaDocs, removedDocs)
    IndexRefresh.refreshAt(spark, replay, 1, deltaDocs, removedDocs)
    assert(views(replay) == views(once))
    // partial-failure replay: the failed attempt left only some of the
    // segment's files; the recut must not read the partial segment
    val partial = tmp()
    IndexRefresh.buildBase(base, partial)
    IndexRefresh.refreshAt(spark, partial, 1, deltaDocs, removedDocs)
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Seq("dict", "champions", "stats", IndexRefresh.CommitMarker).foreach(f =>
      rmrf(java.nio.file.Paths.get(partial, "seg=1", f)))
    // fail-fast: building on (or serving from) the partial segment
    // throws — a failed attempt's tombstones have killed docs whose
    // replacement delta never landed
    assert(intercept[IllegalArgumentException] {
      IndexRefresh.refresh(spark, partial, deltaDocs, removedDocs)
    }.getMessage.contains("partially-written"))
    assert(intercept[IllegalArgumentException] {
      views(partial)
    }.getMessage.contains("partially-written"))
    IndexRefresh.refreshAt(spark, partial, 1, deltaDocs, removedDocs)
    assert(views(partial) == views(once))
    // a failed FIRST attempt that died right after its tombstone write
    // (no segment dir at all) is caught by the orphan-tombstone check
    val orphan = tmp()
    IndexRefresh.buildBase(base, orphan)
    IndexRefresh.refreshAt(spark, orphan, 1, deltaDocs, removedDocs)
    rmrf(java.nio.file.Paths.get(orphan, "seg=1"))
    assert(intercept[IllegalArgumentException] {
      IndexRefresh.refresh(spark, orphan, deltaDocs, removedDocs)
    }.getMessage.contains("orphan tombstone"))
    IndexRefresh.refreshAt(spark, orphan, 1, deltaDocs, removedDocs)
    assert(views(orphan) == views(once))
    // batchId-derived ids may leave gaps — the merge only orders by id
    val gap = tmp()
    IndexRefresh.buildBase(base, gap)
    IndexRefresh.refreshAt(spark, gap, 7, deltaDocs, removedDocs)
    assert(views(gap) == views(once))
    // a fold that died mid-write: the output seg=0 has files but no
    // marker — readers refuse it, and re-running the fold heals it to
    // exactly the uncrashed fold
    val folded = tmp()
    IndexRefresh.compact(spark, once, folded)
    val crashed = tmp()
    IndexRefresh.compact(spark, once, crashed)
    Seq("champions", "stats", IndexRefresh.CommitMarker).foreach(f =>
      rmrf(java.nio.file.Paths.get(crashed, "seg=0", f)))
    assert(intercept[IllegalArgumentException] {
      views(crashed)
    }.getMessage.contains("partially-written"))
    IndexRefresh.compact(spark, once, crashed)
    assert(views(crashed) == views(folded))
  }

  test("as-of reads reproduce every past commit from the standing layout") {
    val p = tmp()
    IndexRefresh.buildBase(base, p)
    IndexRefresh.refresh(spark, p,
      curr.filter(col("doc_id").isin(1L, 5L)),
      base.filter(col("doc_id").isin(1L, 2L)))
    // second refresh: doc 6 added, doc 3 removed
    val delta2 = docsDF(6L -> "spark reads past commits of data")
    IndexRefresh.refresh(spark, p, delta2,
      curr.filter(col("doc_id") === 3L))
    val state2 = curr.filter(col("doc_id") =!= 3L).unionByName(delta2)
    // every pinned id serves exactly what a from-scratch build on that
    // commit's corpus snapshot serves — while the layout has moved on
    def rebuilt(docs: DataFrame): String = {
      val t = tmp(); IndexRefresh.buildBase(docs, t); t
    }
    val terms = Seq("spark", "hash", "join", "data")
    def page(path: String, docs: DataFrame, asOf: Option[Int] = None) =
      sortedRows(IndexRefresh.search(spark, path, docs, terms, asOf = asOf))
    assert(page(p, base, asOf = Some(0)) == page(rebuilt(base), base))
    assert(page(p, curr, asOf = Some(1)) == page(rebuilt(curr), curr))
    assert(page(p, state2) == page(rebuilt(state2), state2))
    // the merged dictionary time-travels too
    assert(sortedRows(IndexRefresh.dictView(spark, p, asOf = Some(1))) ==
      sortedRows(IndexRefresh.dictView(spark, rebuilt(curr))))
    assert(sortedRows(IndexRefresh.statsView(spark, p, asOf = Some(0))) ==
      sortedRows(IndexRefresh.statsView(spark, rebuilt(base))))
    // ... and the QL batch workload time-travels with the same pin
    assert(sortedRows(IndexRefresh.qlBatchSearch(spark, p, base,
        stride = 1, asOf = Some(0))) ==
      sortedRows(IndexRefresh.qlBatchSearch(spark, rebuilt(base), base,
        stride = 1)))
  }

  test("index health report counts each segment's and tombstone batch's volumes") {
    import graft.functions.TextFunctions.tokens
    val refreshed = buildRefreshed()
    val rows = IndexRefresh.indexStats(spark, refreshed).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1))
    def dlSum(docs: DataFrame): Long =
      docs.select(sum(size(tokens(col("text"))).cast("long"))).head().getLong(0)
    // seg 0 = the 5 base docs, no kills; seg 1 = delta {1,5}, kills {1,2}
    assert(rows(0).getLong(1) == 5 && rows(0).getLong(2) == dlSum(base))
    assert(rows(0).getLong(3) == 0 && rows(0).getLong(4) == 0)
    assert(rows(1).getLong(1) == 2)
    assert(rows(1).getLong(2) == dlSum(curr.filter(col("doc_id").isin(1L, 5L))))
    assert(rows(1).getLong(3) == 2)
    assert(rows(1).getLong(4) == dlSum(base.filter(col("doc_id").isin(1L, 2L))))
  }

  test("compaction plan trips on dead fraction or depth and resets after a fold") {
    // dead-fraction trigger: 2 kills / 7 written versions = 0.2857
    val refreshed = buildRefreshed()
    val plan = IndexRefresh.compactionPlan(spark, refreshed).head()
    assert(plan.getInt(0) == 2 && plan.getLong(1) == 7 && plan.getLong(2) == 2)
    assert(plan.getBoolean(4))
    // a fold resets both triggers
    val c = tmp()
    IndexRefresh.compact(spark, refreshed, c)
    val after = IndexRefresh.compactionPlan(spark, c).head()
    assert(after.getInt(0) == 1 && after.getLong(2) == 0 && !after.getBoolean(4))
    // depth trigger: a pure-append chain never tombstones, but five
    // live segments exceed MaxSegments
    val p = tmp()
    IndexRefresh.buildBase(base, p)
    (1 to 4).foreach { i =>
      IndexRefresh.refresh(spark, p,
        docsDF((100L + i) -> "fresh depth doc"), docsDF())
    }
    val deep = IndexRefresh.compactionPlan(spark, p).head()
    assert(deep.getInt(0) == 5 && deep.getLong(2) == 0 && deep.getBoolean(4))
  }

  test("epoch-cached serving views: reused within an epoch, rebuilt on refresh") {
    val p = tmp()
    IndexRefresh.buildBase(base, p)
    val d1 = IndexRefresh.cachedDictView(spark, p)
    // the warm reader: the SAME merged frame until the layout changes
    assert(d1 eq IndexRefresh.cachedDictView(spark, p))
    assert(sortedRows(d1) == sortedRows(IndexRefresh.dictView(spark, p)))
    val deltaDocs = curr.filter(col("doc_id").isin(1L, 5L))
    val removedDocs = base.filter(col("doc_id").isin(1L, 2L))
    IndexRefresh.refresh(spark, p, deltaDocs, removedDocs)
    // a landed refresh changes the epoch: next probe rebuilds, and every
    // cached view equals its freshly-merged twin — no stale serving
    val d2 = IndexRefresh.cachedDictView(spark, p)
    assert(!(d2 eq d1))
    assert(sortedRows(d2) == sortedRows(IndexRefresh.dictView(spark, p)))
    assert(sortedRows(IndexRefresh.cachedChampsView(spark, p)) ==
      sortedRows(IndexRefresh.champsView(spark, p)))
    assert(sortedRows(IndexRefresh.cachedStatsView(spark, p)) ==
      sortedRows(IndexRefresh.statsView(spark, p)))
  }

  test("cached and uncached refreshed serving produce identical pages") {
    val refreshed = buildRefreshed()
    def run() = Seq(
      sortedRows(IndexRefresh.batchSearch(spark, refreshed, curr, stride = 1)),
      sortedRows(IndexRefresh.qlBatchSearch(spark, refreshed, curr, stride = 1)))
    val cached = run()
    sys.props("graft.refresh.nocache") = "1"
    try assert(run() == cached)
    finally sys.props -= "graft.refresh.nocache"
  }

  test("as-of serving: pinned-view cache equals the uncached pinned read") {
    // r15: as-of probes serve from epoch-cached PINNED views (immutable
    // per (path, asOf)); pin the cached pages bitwise to the
    // cache-disabled pinned read, across a further refresh (the cache
    // key must not leak the newer segments into the pinned state)
    val refreshed = buildRefreshed()
    def run() = Seq(
      sortedRows(IndexRefresh.batchSearch(spark, refreshed, base,
        stride = 1, asOf = Some(0))),
      sortedRows(IndexRefresh.qlBatchSearch(spark, refreshed, base,
        stride = 1, asOf = Some(0))))
    val cachedPinned = run()
    sys.props("graft.refresh.nocache") = "1"
    try assert(run() == cachedPinned)
    finally sys.props -= "graft.refresh.nocache"
    // a further refresh must not change what asOf=0 serves
    IndexRefresh.refresh(spark, refreshed,
      docsDF(9001L -> "fresh spark segment doc"), docsDF())
    assert(run() == cachedPinned)
  }

  test("property: random multi-refresh chains stay bitwise the full rebuild") {
    // seeded randomized edit scripts — the manual tests pin named edge
    // cases; this sweeps arbitrary add/change/remove interleavings,
    // including empty batches, immediate re-removal, and vocabulary
    // churn, through chains of up to 4 refreshes
    val rnd = new scala.util.Random(7)
    val words = Vector("spark", "join", "hash", "scan", "data", "fast",
      "slow", "agg", "window", "stream", "vector", "search", "index")
    def randText(): String =
      Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")
    (1 to 3).foreach { trial =>
      var corpus: Map[Long, String] =
        (0L until (3 + rnd.nextInt(4))).map(_ -> randText()).toMap
      var path = tmp()
      IndexRefresh.buildBase(docsDF(corpus.toSeq: _*), path)
      var nextId = corpus.keys.max + 1
      (1 to (2 + rnd.nextInt(3))).foreach { _ =>
        val removedIds = corpus.keys.filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val changedIds = (corpus.keySet -- removedIds)
          .filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val addedIds = Seq.fill(rnd.nextInt(3)) { val i = nextId; nextId += 1; i }
        val removedDocs = docsDF((removedIds ++ changedIds).map(i => i -> corpus(i)): _*)
        corpus = corpus -- removedIds
        (changedIds ++ addedIds).foreach(i => corpus += i -> randText())
        val deltaDocs = docsDF((changedIds ++ addedIds).map(i => i -> corpus(i)): _*)
        IndexRefresh.refresh(spark, path, deltaDocs, removedDocs)
        // probe the epoch-cached views after EVERY refresh — the churn
        // stressor for cache invalidation: any stale merge surfaces as
        // an inequality right here, mid-chain
        assert(sortedRows(IndexRefresh.cachedDictView(spark, path)) ==
          sortedRows(IndexRefresh.dictView(spark, path)), "cached dict mid-chain")
        assert(sortedRows(IndexRefresh.cachedStatsView(spark, path)) ==
          sortedRows(IndexRefresh.statsView(spark, path)), "cached stats mid-chain")
        // occasionally compact mid-chain and keep refreshing on the
        // compacted artifact — the background-task interleaving a
        // deployment actually runs
        if (rnd.nextInt(3) == 0) {
          val c = tmp(); IndexRefresh.compact(spark, path, c); path = c
        }
      }
      val full = tmp()
      IndexRefresh.buildBase(docsDF(corpus.toSeq: _*), full)
      assert(sortedRows(IndexRefresh.livePostings(spark, path).drop("seg")) ==
        sortedRows(IndexRefresh.livePostings(spark, full).drop("seg")), s"trial=$trial postings")
      assert(sortedRows(IndexRefresh.dictView(spark, path)) ==
        sortedRows(IndexRefresh.dictView(spark, full)), s"trial=$trial dict")
      assert(sortedRows(IndexRefresh.champsView(spark, path)) ==
        sortedRows(IndexRefresh.champsView(spark, full)), s"trial=$trial champs")
      assert(sortedRows(IndexRefresh.statsView(spark, path)) ==
        sortedRows(IndexRefresh.statsView(spark, full)), s"trial=$trial stats")
    }
  }

  test("property: as-of reads reproduce every intermediate commit in random chains") {
    // the r9 sweep pattern pointed at TIME: after a random edit chain,
    // every recorded commit must still be readable as-of its segment id
    // and equal a from-scratch build on that commit's corpus snapshot
    // (no compaction interleaving — compaction truncates history by
    // design; a compacted artifact's history starts at its new base)
    val rnd = new scala.util.Random(13)
    val words = Vector("spark", "join", "hash", "scan", "data", "fast",
      "slow", "agg", "window", "stream")
    def randText(): String =
      Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")
    val terms = Seq("spark", "hash", "data")
    (1 to 2).foreach { trial =>
      var corpus: Map[Long, String] =
        (0L until (3 + rnd.nextInt(4))).map(_ -> randText()).toMap
      val path = tmp()
      IndexRefresh.buildBase(docsDF(corpus.toSeq: _*), path)
      var commits = Vector(0 -> corpus)
      var nextId = corpus.keys.max + 1
      (1 to 3).foreach { _ =>
        val removedIds = corpus.keys.filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val changedIds = (corpus.keySet -- removedIds)
          .filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val addedIds = Seq.fill(rnd.nextInt(3)) { val i = nextId; nextId += 1; i }
        val removedDocs = docsDF((removedIds ++ changedIds).map(i => i -> corpus(i)): _*)
        corpus = corpus -- removedIds
        (changedIds ++ addedIds).foreach(i => corpus += i -> randText())
        val deltaDocs = docsDF((changedIds ++ addedIds).map(i => i -> corpus(i)): _*)
        IndexRefresh.refresh(spark, path, deltaDocs, removedDocs)
        commits :+= IndexRefresh.segmentIds(path).max -> corpus
      }
      commits.foreach { case (seg, snap) =>
        val snapDF = docsDF(snap.toSeq: _*)
        val full = tmp()
        IndexRefresh.buildBase(snapDF, full)
        assert(sortedRows(IndexRefresh.search(spark, path, snapDF, terms,
            asOf = Some(seg))) ==
          sortedRows(IndexRefresh.search(spark, full, snapDF, terms)),
          s"trial=$trial seg=$seg search")
        assert(sortedRows(IndexRefresh.dictView(spark, path, asOf = Some(seg))) ==
          sortedRows(IndexRefresh.dictView(spark, full)),
          s"trial=$trial seg=$seg dict")
      }
    }
  }

  test("refreshed RM3 equals RM3 over the full rebuild") {
    val refreshed = buildRefreshed()
    val full = tmp()
    IndexRefresh.buildBase(curr, full)
    for (terms <- Seq(Seq("spark", "fast"), Seq("hash", "join"))) {
      assert(sortedRows(Rm3Expansion.expandedSearchRefreshed(
          spark, refreshed, curr, terms, fbK = 3, e = 2)) ==
        sortedRows(Rm3Expansion.expandedSearchRefreshed(
          spark, full, curr, terms, fbK = 3, e = 2)), s"terms=$terms")
    }
  }

  test("refreshed hybrid fusion equals the fusion over full rebuilds of both layouts") {
    val dir = TestSpark.Sf0001
    val docs = graft.sources.Tables.documents(spark, dir)
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val currD = CorpusOps.currSnapshot(docs)
    val prevD = CorpusOps.prevSnapshot(docs)
    val currE = VectorRefresh.currSnapshot(embs)
    val prevE = VectorRefresh.prevSnapshot(embs)
    // refreshed layouts: base on the previous snapshots + one refresh
    val kwR = tmp()
    IndexRefresh.buildBase(prevD, kwR)
    val diff = CorpusOps.snapshotDiff(currD, prevD)
    IndexRefresh.refresh(spark, kwR,
      currD.join(diff.filter(col("status").isin("added", "changed"))
        .select("doc_id"), Seq("doc_id"), "semi"),
      prevD.join(diff.filter(col("status").isin("removed", "changed"))
        .select("doc_id"), Seq("doc_id"), "semi"))
    val vecR = tmp()
    VectorRefresh.buildBase(prevE, vecR)
    VectorRefresh.refresh(spark, vecR,
      VectorRefresh.deltaEmbs(currE, prevE), VectorRefresh.removedEmbs(currE, prevE))
    // full rebuilds on the current snapshots
    val kwF = tmp(); IndexRefresh.buildBase(currD, kwF)
    val vecF = tmp(); VectorRefresh.buildBase(currE, vecF)
    assert(sortedRows(HybridSearch.fusedBatchRefreshedPaths(
        spark, kwR, vecR, currD, currE, stride = 10)) ==
      sortedRows(HybridSearch.fusedBatchRefreshedPaths(
        spark, kwF, vecF, currD, currE, stride = 10)))
    // as-of 0: the SAME moved-on layouts must serve the PRE-refresh
    // fusion — equal to fresh bases on the previous snapshots
    val kwP = tmp(); IndexRefresh.buildBase(prevD, kwP)
    val vecP = tmp(); VectorRefresh.buildBase(prevE, vecP)
    assert(sortedRows(HybridSearch.fusedBatchRefreshedPaths(
        spark, kwR, vecR, prevD, prevE, stride = 10, asOf = Some(0))) ==
      sortedRows(HybridSearch.fusedBatchRefreshedPaths(
        spark, kwP, vecP, prevD, prevE, stride = 10)))
  }

  test("a term vanishing with its last doc is masked, not resurfaced") {
    val path = tmp()
    IndexRefresh.buildBase(base, path)
    // doc 2 is the only holder of "scans"/"cold"; remove it with no delta
    IndexRefresh.refresh(spark, path,
      base.filter(lit(false)), base.filter(col("doc_id") === 2L))
    val dict = IndexRefresh.dictView(spark, path)
    assert(dict.filter(col("term") === "scans").count() == 0)
    assert(IndexRefresh.champsView(spark, path)
      .filter(col("term") === "scans").count() == 0)
    val res = IndexRefresh.search(spark, path,
      base.filter(col("doc_id") =!= 2L), Seq("scans", "cold"))
    assert(res.count() == 0)
  }

  test("two sequential refreshes still equal the full rebuild") {
    val path = tmp()
    IndexRefresh.buildBase(base, path)
    // refresh 1: change doc 1, remove doc 2
    IndexRefresh.refresh(spark, path,
      curr.filter(col("doc_id") === 1L), base.filter(col("doc_id").isin(1L, 2L)))
    // refresh 2: add doc 5, change doc 1 AGAIN (back-to-back versions)
    val v2 = docsDF(1L -> "join again changed twice", 5L -> "brand new vector search doc")
    IndexRefresh.refresh(spark, path,
      v2, curr.filter(col("doc_id") === 1L))
    val finalCorpus = docsDF(
      0L -> "spark joins data fast",
      1L -> "join again changed twice",
      3L -> "fast spark fast spark fast",
      4L -> "window agg over data stream",
      5L -> "brand new vector search doc")
    val full = tmp()
    IndexRefresh.buildBase(finalCorpus, full)
    assert(sortedRows(IndexRefresh.livePostings(spark, path).drop("seg")) ==
      sortedRows(IndexRefresh.livePostings(spark, full).drop("seg")))
    assert(sortedRows(IndexRefresh.dictView(spark, path)) ==
      sortedRows(IndexRefresh.dictView(spark, full)))
    assert(sortedRows(IndexRefresh.champsView(spark, path)) ==
      sortedRows(IndexRefresh.champsView(spark, full)))
    assert(sortedRows(IndexRefresh.search(spark, path, finalCorpus, Seq("join", "spark"))) ==
      sortedRows(IndexRefresh.search(spark, full, finalCorpus, Seq("join", "spark"))))
  }

  test("compaction folds segments + tombstones into an equivalent single-segment base") {
    val path = buildRefreshed()
    val out = tmp()
    IndexRefresh.compact(spark, path, out)
    assert(IndexRefresh.segmentIds(out) == Seq(0))
    assert(sortedRows(IndexRefresh.livePostings(spark, out).drop("seg")) ==
      sortedRows(IndexRefresh.livePostings(spark, path).drop("seg")))
    assert(sortedRows(IndexRefresh.dictView(spark, out)) ==
      sortedRows(IndexRefresh.dictView(spark, path)))
    assert(sortedRows(IndexRefresh.champsView(spark, out)) ==
      sortedRows(IndexRefresh.champsView(spark, path)))
    assert(sortedRows(IndexRefresh.statsView(spark, out)) ==
      sortedRows(IndexRefresh.statsView(spark, path)))
    assert(sortedRows(IndexRefresh.search(spark, out, curr, Seq("spark", "join"))) ==
      sortedRows(IndexRefresh.search(spark, path, curr, Seq("spark", "join"))))
    // and a compacted artifact keeps refreshing: remove doc 5 again
    IndexRefresh.refresh(spark, out,
      curr.filter(lit(false)), curr.filter(col("doc_id") === 5L))
    assert(IndexRefresh.dictView(spark, out)
      .filter(col("term") === "brand").count() == 0)
  }

  test("probe reads are partition-pruned to the query terms' buckets") {
    val path = buildRefreshed()
    // r15: warm serving probes the epoch-cached RAM-resident merged
    // views (the bounded index-artifact class), so the disk-read
    // convention — term-bucket partition pruning — is pinned on the
    // cache-DISABLED path, the shape every cold/one-shot reader takes;
    // cached ≡ uncached pages are pinned by the two serving-equality
    // tests above
    sys.props("graft.refresh.nocache") = "1"
    try {
      val plan = IndexRefresh.search(spark, path, curr, Seq("spark"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(term_bucket"),
        s"expected term_bucket PartitionFilters in:\n$plan")
    } finally sys.props -= "graft.refresh.nocache"
  }

  test("champion cut is the textbook tf-order: tf desc, dl asc, doc_id asc") {
    // 4 docs share term "x" with tfs 3,3,1,2 and lengths 5,3,9,9
    val docs = docsDF(
      0L -> "x x x a a",      // tf 3, dl 5
      1L -> "x x x",          // tf 3, dl 3
      2L -> "x b b c c d d e e", // tf 1, dl 9
      3L -> "x x f f g g h h i") // tf 2, dl 9
    val path = tmp()
    IndexRefresh.buildBase(docs, path)
    val cut = IndexRefresh.champsView(spark, path)
      .filter(col("term") === "x").orderBy(desc("tf"), asc("dl"), asc("doc_id"))
      .select("doc_id").as[Long].collect().toSeq
    assert(cut == Seq(1L, 0L, 3L, 2L))
  }
}
