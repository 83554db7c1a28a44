package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two payload shapes of the [[Segments]] layout, pinned on both
  * refreshable indexes: a delta segment lands each bucket- or
  * cell-keyed payload as a few sorted files (no per-key directories), a
  * base or fold segment stays directory-partitioned with one data file
  * per key directory; an all-tombstoned fold still lands a readable
  * `seg=0`; and a replay at an already-committed id over the new delta
  * shape equals the uncrashed layout.
  */
class SegmentsSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def entries(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    entries(dir).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** `<key>=` directories of a payload. */
  private def keyDirs(dir: String, key: String): Seq[java.io.File] =
    entries(new java.io.File(dir)).filter(f => f.isDirectory && f.getName.startsWith(s"$key="))

  /** Delta shape: no key directory, only top-level data files. */
  private def assertDeltaShape(dir: String, key: String): Unit = {
    assert(new java.io.File(dir).isDirectory, s"$dir missing")
    assert(keyDirs(dir, key).isEmpty,
      s"$dir has ${keyDirs(dir, key).size} $key= directories")
    assert(dataFiles(new java.io.File(dir)).nonEmpty, s"$dir has no data file")
  }

  /** Base/fold shape: key directories, at most one data file each. */
  private def assertFoldShape(dir: String, key: String): Unit = {
    val dirs = keyDirs(dir, key)
    assert(dirs.nonEmpty, s"$dir has no $key= directory")
    val crowded = dirs.map(d => d.getName -> dataFiles(d).size).filter(_._2 > 1)
    assert(crowded.isEmpty, s"$dir: key directories with > 1 data file: $crowded")
  }

  // keyword layout over the sf0.001 snapshot pair
  private lazy val docs = Tables.documents(spark, TestSpark.Sf0001)
  private lazy val currDocs = CorpusOps.currSnapshot(docs)
  private lazy val prevDocs = CorpusOps.prevSnapshot(docs)

  /** (added ∪ changed at curr, removed ∪ changed at prev). */
  private lazy val docBatch: (DataFrame, DataFrame) = {
    val diff = CorpusOps.snapshotDiff(currDocs, prevDocs)
    def side(snap: DataFrame, statuses: String*) =
      snap.join(diff.filter(col("status").isin(statuses: _*)).select("doc_id"),
        Seq("doc_id"), "semi")
    (side(currDocs, "added", "changed").localCheckpoint(),
      side(prevDocs, "removed", "changed").localCheckpoint())
  }

  // vector layout over the sf0.001 snapshot pair
  private lazy val embs = Tables.embeddings(spark, TestSpark.Sf0001)
  private lazy val currEmbs = VectorRefresh.currSnapshot(embs)
  private lazy val prevEmbs = VectorRefresh.prevSnapshot(embs)
  private lazy val deltaEmbs =
    VectorRefresh.deltaEmbs(currEmbs, prevEmbs).localCheckpoint()
  private lazy val removedEmbs =
    VectorRefresh.removedEmbs(currEmbs, prevEmbs).localCheckpoint()

  private def kwViews(p: String) = Seq(
    sortedRows(IndexRefresh.livePostings(spark, p).drop("seg")),
    sortedRows(IndexRefresh.dictView(spark, p)),
    sortedRows(IndexRefresh.champsView(spark, p)),
    sortedRows(IndexRefresh.statsView(spark, p)))

  private def qOf(path: String, vecId: Long) =
    VectorRefresh.liveVectors(spark, path)
      .filter(col("vec_id") === vecId)
      .select(col("embedding").as("q_emb"))

  test("write amplification: delta payloads land unpartitioned, fold payloads one file per key") {
    val (deltaDocs, removedDocs) = docBatch
    val kw = tmp("seg_wa_kw")
    IndexRefresh.buildBase(prevDocs, kw)
    IndexRefresh.refresh(spark, kw, deltaDocs, removedDocs)
    for (f <- Seq("postings", "dict", "champions"))
      assertDeltaShape(s"$kw/seg=1/$f", "term_bucket")
    val kwFold = tmp("seg_wa_kw_fold")
    IndexRefresh.compact(spark, kw, kwFold)
    for (f <- Seq("postings", "dict", "champions"))
      assertFoldShape(s"$kwFold/seg=0/$f", "term_bucket")
    // the fold serves what the refreshed layout served
    assert(kwViews(kwFold) == kwViews(kw))

    val vec = tmp("seg_wa_vec")
    VectorRefresh.buildBaseQuantized(prevEmbs, vec)
    VectorRefresh.refresh(spark, vec, deltaEmbs, removedEmbs)
    for (f <- Seq("vectors", "codes"))
      assertDeltaShape(s"$vec/seg=1/$f", "cell")
    val vecFold = tmp("seg_wa_vec_fold")
    VectorRefresh.compact(spark, vec, vecFold)
    for (f <- Seq("vectors", "codes"))
      assertFoldShape(s"$vecFold/seg=0/$f", "cell")
    assert(sortedRows(VectorRefresh.liveCodes(spark, vecFold)) ==
      sortedRows(VectorRefresh.liveCodes(spark, vec)))
  }

  test("a fold of an all-tombstoned layout lands a readable, empty seg=0") {
    val kw = tmp("seg_empty_kw")
    IndexRefresh.buildBase(prevDocs, kw)
    IndexRefresh.refresh(spark, kw, prevDocs.limit(0), prevDocs)
    val kwFold = tmp("seg_empty_kw_fold")
    IndexRefresh.compact(spark, kw, kwFold)
    assert(IndexRefresh.segmentIds(kwFold) == Seq(0))
    assert(IndexRefresh.livePostings(spark, kwFold).count() == 0)
    assert(IndexRefresh.dictView(spark, kwFold).count() == 0)
    assert(IndexRefresh.champsView(spark, kwFold).count() == 0)
    assert(IndexRefresh.search(spark, kwFold, prevDocs,
      KeywordSearch.QueryTerms).count() == 0)

    val vec = tmp("seg_empty_vec")
    VectorRefresh.buildBaseQuantized(prevEmbs, vec)
    val q = qOf(vec, VectorSearch.QueryVecId).localCheckpoint()
    VectorRefresh.refresh(spark, vec, prevEmbs.limit(0), prevEmbs)
    val vecFold = tmp("seg_empty_vec_fold")
    VectorRefresh.compact(spark, vec, vecFold)
    assert(IndexRefresh.segmentIds(vecFold) == Seq(0))
    assert(VectorRefresh.liveVectors(spark, vecFold).count() == 0)
    assert(VectorRefresh.liveCodes(spark, vecFold).count() == 0)
    assert(VectorRefresh.centroidView(spark, vecFold).count() == 0)
    assert(VectorRefresh.search(spark, vecFold, q, VectorSearch.QueryVecId).count() == 0)
    assert(VectorRefresh.searchQuantized(spark, vecFold, q,
      VectorSearch.QueryVecId).count() == 0)
  }

  test("after-marker crash: replaying a committed keyword refresh equals the uncrashed layout") {
    val (deltaDocs, removedDocs) = docBatch
    // two batches by doc_id parity: the replayed id is a delta over a delta
    def half(df: DataFrame, par: Int) = df.filter(col("doc_id") % 2 === par)
    def build(p: String): Unit = {
      IndexRefresh.buildBase(prevDocs, p)
      IndexRefresh.refreshAt(spark, p, 1, half(deltaDocs, 0), half(removedDocs, 0))
      IndexRefresh.refreshAt(spark, p, 2, half(deltaDocs, 1), half(removedDocs, 1))
    }
    val once = tmp("seg_replay_kw_once")
    build(once)
    // the attempt at 2 committed (marker written), then the driver died
    // before recording the batch: the retry replays 2
    val replay = tmp("seg_replay_kw")
    build(replay)
    assert(new java.io.File(s"$replay/seg=2", IndexRefresh.CommitMarker).exists())
    IndexRefresh.refreshAt(spark, replay, 2, half(deltaDocs, 1), half(removedDocs, 1))
    assert(kwViews(replay) == kwViews(once))
    for (f <- Seq("postings", "dict", "champions")) {
      assertDeltaShape(s"$replay/seg=2/$f", "term_bucket")
      assert(dataFiles(new java.io.File(s"$replay/seg=2/$f")).size ==
        dataFiles(new java.io.File(s"$once/seg=2/$f")).size, s"$f: replay kept old files")
    }
  }

  test("after-marker crash: replaying a committed vector refresh equals the uncrashed layout") {
    def half(df: DataFrame, par: Int) = df.filter(col("vec_id") % 2 === par)
    def build(p: String): Unit = {
      VectorRefresh.buildBase(prevEmbs, p)
      VectorRefresh.refreshAt(spark, p, 1, half(deltaEmbs, 0), half(removedEmbs, 0))
      VectorRefresh.refreshAt(spark, p, 2, half(deltaEmbs, 1), half(removedEmbs, 1))
    }
    def views(p: String) = Seq(
      sortedRows(VectorRefresh.liveVectors(spark, p)),
      sortedRows(VectorRefresh.centroidView(spark, p)))
    val once = tmp("seg_replay_vec_once")
    build(once)
    val replay = tmp("seg_replay_vec")
    build(replay)
    assert(new java.io.File(s"$replay/seg=2", IndexRefresh.CommitMarker).exists())
    VectorRefresh.refreshAt(spark, replay, 2, half(deltaEmbs, 1), half(removedEmbs, 1))
    assert(views(replay) == views(once))
    assertDeltaShape(s"$replay/seg=2/vectors", "cell")
    assert(dataFiles(new java.io.File(s"$replay/seg=2/vectors")).size ==
      dataFiles(new java.io.File(s"$once/seg=2/vectors")).size)
  }

  test("after-marker crash: replaying a committed quantized refresh equals the uncrashed layout") {
    def half(df: DataFrame, par: Int) = df.filter(col("vec_id") % 2 === par)
    // both layouts encode with ONE standing codebook
    def build(p: String, codebookOf: Option[String]): Unit = {
      codebookOf match {
        case None => VectorRefresh.buildBaseQuantized(prevEmbs, p)
        case Some(src) =>
          VectorRefresh.writeCodebook(spark, p, VectorRefresh.readCodebook(spark, src))
          VectorRefresh.buildBase(prevEmbs, p)
      }
      VectorRefresh.refreshAt(spark, p, 1, half(deltaEmbs, 0), half(removedEmbs, 0))
      VectorRefresh.refreshAt(spark, p, 2, half(deltaEmbs, 1), half(removedEmbs, 1))
    }
    def views(p: String) = Seq(
      sortedRows(VectorRefresh.liveCodes(spark, p)),
      sortedRows(VectorRefresh.liveVectors(spark, p)),
      sortedRows(VectorRefresh.centroidView(spark, p)),
      sortedRows(VectorRefresh.searchQuantized(spark, p,
        qOf(p, VectorSearch.QueryVecId), VectorSearch.QueryVecId)))
    val once = tmp("seg_replay_pq_once")
    build(once, None)
    val replay = tmp("seg_replay_pq")
    build(replay, Some(once))
    assert(new java.io.File(s"$replay/seg=2", IndexRefresh.CommitMarker).exists())
    VectorRefresh.refreshAt(spark, replay, 2, half(deltaEmbs, 1), half(removedEmbs, 1))
    assert(views(replay) == views(once))
    for (f <- Seq("vectors", "codes")) {
      assertDeltaShape(s"$replay/seg=2/$f", "cell")
      assert(dataFiles(new java.io.File(s"$replay/seg=2/$f")).size ==
        dataFiles(new java.io.File(s"$once/seg=2/$f")).size, s"$f: replay kept old files")
    }
  }
}
