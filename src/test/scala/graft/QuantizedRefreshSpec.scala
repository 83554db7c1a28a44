package graft

import graft.operators.{CorpusOps, IndexRefresh, ProductQuantizer, VectorRefresh, VectorSearch}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The quantized serving tier on the refreshable vector layout: a
  * codebook artifact at the layout root switches every segment write
  * into also landing PQ codes, the ADC probe reads ONLY the m-byte
  * codes of the probed cells, and the fold retrains the codebook.
  */
class QuantizedRefreshSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, TestSpark.Sf0001)
  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit(); d.getAbsolutePath
  }
  private def qOf(path: String, vecId: Long) =
    VectorRefresh.liveVectors(spark, path)
      .filter(col("vec_id") === vecId)
      .select(col("embedding").as("q_emb"))

  test("refresh == rebuild: base+delta codes serve the same ADC page as a one-shot encode") {
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    // incremental: quantized base on prev, one refresh batch
    val inc = tmp("pq_inc")
    VectorRefresh.buildBaseQuantized(prev, inc)
    VectorRefresh.refresh(spark, inc,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    // rebuild: the SAME standing codebook, one-shot base on the current
    // snapshot (a refresh never retrains — the codebook is the prev-
    // trained artifact in both layouts)
    val reb = tmp("pq_reb")
    VectorRefresh.writeCodebook(spark, reb, VectorRefresh.readCodebook(spark, inc))
    VectorRefresh.buildBase(curr, reb)
    val a = VectorRefresh.searchQuantized(spark, inc,
      qOf(inc, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect().toSeq
    val b = VectorRefresh.searchQuantized(spark, reb,
      qOf(reb, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect().toSeq
    assert(a == b && a.nonEmpty)
    // tombstone masking: a REMOVED vec (killed, no replacement in the
    // delta) never serves from the codes; a CHANGED vec's kill applies
    // to its old segment only — its delta re-encode stays live
    val deltaIds = VectorRefresh.deltaEmbs(curr, prev)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val removedOnly = VectorRefresh.removedEmbs(curr, prev)
      .select("vec_id").collect().map(_.getLong(0)).toSet -- deltaIds
    val served = VectorRefresh.liveCodes(spark, inc)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(removedOnly).isEmpty)
    assert(deltaIds.subsetOf(served))
    // codes ride EVERY segment
    for (s <- IndexRefresh.segmentIds(inc))
      assert(new java.io.File(s"$inc/seg=$s/codes").exists(), s"seg $s has no codes")
  }

  test("as-of pin serves the pre-refresh quantized page") {
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val inc = tmp("pq_asof_inc")
    VectorRefresh.buildBaseQuantized(prev, inc)
    VectorRefresh.refresh(spark, inc,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    // rebuild of the PINNED state: same codebook, base on prev only
    val reb = tmp("pq_asof_reb")
    VectorRefresh.writeCodebook(spark, reb, VectorRefresh.readCodebook(spark, inc))
    VectorRefresh.buildBase(prev, reb)
    val qPinned = VectorRefresh.liveVectors(spark, inc, asOf = Some(0))
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val pinned = VectorRefresh.searchQuantized(spark, inc, qPinned,
      VectorSearch.QueryVecId, asOf = Some(0)).collect().toSeq
    val replay = VectorRefresh.searchQuantized(spark, reb,
      qOf(reb, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect().toSeq
    assert(pinned == replay && pinned.nonEmpty)
  }

  test("plain compact folds the quantized layout without changing the served page") {
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val inc = tmp("pq_cmp_inc")
    VectorRefresh.buildBaseQuantized(prev, inc)
    VectorRefresh.refresh(spark, inc,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    val before = VectorRefresh.searchQuantized(spark, inc,
      qOf(inc, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect().toSeq
    val folded = tmp("pq_cmp_out")
    VectorRefresh.compact(spark, inc, folded)
    val after = VectorRefresh.searchQuantized(spark, folded,
      qOf(folded, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect().toSeq
    assert(before == after && after.nonEmpty)
    assert(IndexRefresh.segmentIds(folded) == Seq(0))
  }

  test("compactRetrain refits the codebook on the live distribution and keeps serving") {
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val inc = tmp("pq_rt_inc")
    VectorRefresh.buildBaseQuantized(prev, inc)
    VectorRefresh.refresh(spark, inc,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    val oldModel = VectorRefresh.readCodebook(spark, inc)
    val out = tmp("pq_rt_out")
    VectorRefresh.compactRetrain(spark, inc, out, nlist = 8)
    val newModel = VectorRefresh.readCodebook(spark, out)
    assert(newModel.codebooks != oldModel.codebooks,
      "retrain produced the identical codebook — it did not refit")
    // the retrained layout still serves a full page, all ids live
    val page = VectorRefresh.searchQuantized(spark, out,
      qOf(out, VectorSearch.QueryVecId), VectorSearch.QueryVecId).collect()
    assert(page.length == graft.operators.IvfIndex.TopK)
    val live = VectorRefresh.liveVectors(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(page.map(_.getLong(0)).forall(live.contains))
    // and a subsequent refresh keeps encoding with the NEW codebook
    // (exercise one no-op-sized batch through the retrained layout)
    val one = curr.limit(1)
    VectorRefresh.refresh(spark, out, one, one)
    assert(new java.io.File(s"$out/seg=1/codes").exists())
  }

  test("exactly-once: a crashed quantized refresh or fold replays to the uncrashed layout") {
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
    val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def views(p: String) = Seq(
      rows(VectorRefresh.liveCodes(spark, p)),
      rows(VectorRefresh.liveVectors(spark, p)),
      rows(VectorRefresh.centroidView(spark, p)),
      rows(VectorRefresh.searchQuantized(spark, p,
        qOf(p, VectorSearch.QueryVecId), VectorSearch.QueryVecId)))
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    val once = tmp("pq_once")
    VectorRefresh.buildBaseQuantized(prev, once)
    VectorRefresh.refreshAt(spark, once, 1, delta, removed)
    // a refresh that died after its codes write, before the marker:
    // readers refuse it; replaying at the same id equals the uncrashed
    // refresh
    val crashed = tmp("pq_crashed")
    VectorRefresh.writeCodebook(spark, crashed, VectorRefresh.readCodebook(spark, once))
    VectorRefresh.buildBase(prev, crashed)
    VectorRefresh.refreshAt(spark, crashed, 1, delta, removed)
    assert(new java.io.File(s"$crashed/seg=1/codes").exists())
    rmrf(java.nio.file.Paths.get(crashed, "seg=1", VectorRefresh.CommitMarker))
    assert(intercept[IllegalArgumentException] {
      VectorRefresh.liveCodes(spark, crashed)
    }.getMessage.contains("partially-written"))
    VectorRefresh.refreshAt(spark, crashed, 1, delta, removed)
    assert(views(crashed) == views(once))
    // a fold that died mid-write: the output seg=0 has codes but no
    // marker — readers refuse it; re-running the fold equals the
    // uncrashed fold
    val folded = tmp("pq_folded")
    VectorRefresh.compact(spark, once, folded)
    val crashedFold = tmp("pq_crashed_fold")
    VectorRefresh.compact(spark, once, crashedFold)
    Seq("centparts", VectorRefresh.CommitMarker).foreach(f =>
      rmrf(java.nio.file.Paths.get(crashedFold, "seg=0", f)))
    assert(intercept[IllegalArgumentException] {
      VectorRefresh.liveCodes(spark, crashedFold)
    }.getMessage.contains("partially-written"))
    VectorRefresh.compact(spark, once, crashedFold)
    assert(views(crashedFold) == views(folded))
  }

  test("batch quantized serving matches the single-query ADC contract per query") {
    val dir = TestSpark.Sf0001
    val path = VectorRefresh.quantizedArtifact(spark, dir)
    val qid = VectorSearch.QueryVecId
    // the batch form restricted to ONE query is bitwise the single form
    // (same probe, same codes, same j-ordered ADC arithmetic)
    val single = VectorRefresh.searchQuantized(spark, path, qOf(path, qid), qid)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val batch = VectorRefresh.batchSearchQuantized(spark, path,
        _.filter(col("vec_id") === qid))
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(batch == single && batch.nonEmpty)
    // the stride batch serves a dense rank page per query, and as-of
    // composes: pinned batch == batch over a rebuild of the pinned state
    val stride = VectorRefresh.batchSearchQuantized(spark, path,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0))
    val perQ = stride.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == graft.operators.IvfIndex.TopK))
    val prev = VectorRefresh.prevSnapshot(embs)
    val reb = tmp("pq_batch_asof_reb")
    VectorRefresh.writeCodebook(spark, reb, VectorRefresh.readCodebook(spark, path))
    VectorRefresh.buildBase(prev, reb)
    val pinned = VectorRefresh.batchSearchQuantized(spark, path,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0),
      asOf = Some(0)).collect().toSeq
    val replay = VectorRefresh.batchSearchQuantized(spark, reb,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0)).collect().toSeq
    assert(pinned == replay && pinned.nonEmpty)
  }

  test("filtered quantized walk: full probe == brute-force filtered ADC") {
    val dir = TestSpark.Sf0001
    val path = VectorRefresh.quantizedArtifact(spark, dir)
    val docs = Tables.documents(spark, dir)
    val qid = VectorSearch.QueryVecId
    // every cell probed → the filter-during-the-walk page IS the
    // brute-force ADC ranking over the filter's survivors (the 20a
    // full-probe pin carried onto the quantized tier)
    val nCells = VectorRefresh.liveCodes(spark, path)
      .select("cell").distinct().count().toInt
    val full = VectorRefresh.searchQuantizedFiltered(spark, path, docs,
        qOf(path, qid), qid, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val model = VectorRefresh.readCodebook(spark, path)
    val q = qOf(path, qid).head().getSeq[Float](0).map(_.toDouble)
    val table = ProductQuantizer.adcTable(model, q)
    import org.apache.spark.sql.graftshim.{PqAdcScore, Shims}
    val brute = VectorRefresh.liveCodes(spark, path)
      .filter(col("vec_id") =!= qid)
      .join(docs.filter(col("lang") === "en").select(col("doc_id")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"),
        round(Shims.column(PqAdcScore(Shims.expression(col("codes")), table)), 6)
          .as("adc"))
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(graft.operators.IvfIndex.TopK)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute && full.nonEmpty)
    // every served row satisfies the filter
    val langs = docs.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val page = VectorRefresh.searchQuantizedFiltered(spark, path, docs,
      qOf(path, qid), qid).collect()
    assert(page.forall(r => langs.contains(r.getLong(0))))
    assert(page.forall(_.getString(1) == "en"))
  }

  test("the ADC page tracks the exact refreshed search (recall sanity)") {
    val dir = TestSpark.Sf0001
    val path = VectorRefresh.quantizedArtifact(spark, dir)
    val exact = VectorRefresh.search(spark, path,
        qOf(path, VectorSearch.QueryVecId), VectorSearch.QueryVecId)
      .collect().map(_.getLong(0)).toSet
    val adc = VectorRefresh.searchQuantized(spark, path,
        qOf(path, VectorSearch.QueryVecId), VectorSearch.QueryVecId)
      .collect().map(_.getLong(0)).toSet
    // PQ at m=8/k=16 on 64-dim synthetic vectors is lossy — the house
    // bound is the PqSpec collapse guard (overlap >= 2/10), not
    // parity; the exact refreshed search stays available on the same
    // layout for full-precision serving
    val overlap = adc.intersect(exact).size
    info(s"refreshed ADC recall@10 = $overlap/10")
    assert(overlap >= 2, s"ADC recall collapsed: $adc vs $exact")
  }
}
