package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class VectorRefreshSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_vrefresh_spec").toString

  private lazy val embs = Tables.embeddings(spark, TestSpark.Sf0001)
  private lazy val curr = VectorRefresh.currSnapshot(embs)
  private lazy val prev = VectorRefresh.prevSnapshot(embs)

  private def buildRefreshed(): String = {
    val path = tmp()
    VectorRefresh.buildBase(prev, path)
    VectorRefresh.refresh(spark, path,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    path
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("cell append + centroid maintenance equals the full rebuild") {
    val refreshed = buildRefreshed()
    val full = tmp()
    VectorRefresh.buildBase(curr, full)
    assert(sortedRows(VectorRefresh.liveVectors(spark, refreshed)) ==
      sortedRows(VectorRefresh.liveVectors(spark, full)))
    // centroids: merged partials vs monolithic partials — equal to 1e-9
    // (double reassociation only; values are O(1))
    val a = VectorRefresh.centroidView(spark, refreshed)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    val b = VectorRefresh.centroidView(spark, full)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    val q = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    assert(sortedRows(VectorRefresh.search(spark, refreshed, q, VectorSearch.QueryVecId)) ==
      sortedRows(VectorRefresh.search(spark, full, q, VectorSearch.QueryVecId)))
  }

  test("refresh appends: the base segment's files are never rewritten") {
    val path = tmp()
    VectorRefresh.buildBase(prev, path)
    def baseFiles(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path, "seg=0"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val before = baseFiles()
    VectorRefresh.refresh(spark, path,
      curr.limit(5), prev.limit(3))
    assert(baseFiles() == before)
  }

  test("compaction re-lands live vectors as one segment with equivalent centroids") {
    val path = buildRefreshed()
    val out = tmp()
    VectorRefresh.compact(spark, path, out)
    assert(IndexRefresh.segmentIds(out) == Seq(0))
    assert(sortedRows(VectorRefresh.liveVectors(spark, out)) ==
      sortedRows(VectorRefresh.liveVectors(spark, path)))
    val a = VectorRefresh.centroidView(spark, out)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    val b = VectorRefresh.centroidView(spark, path)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
  }

  test("two sequential refreshes (the streaming twin's split) equal the one-batch refresh") {
    // the parity split qStreamVectorRefresh feeds through foreachBatch:
    // each half carries its own delta + tombstone sides keyed on the
    // same ids, so every intermediate segment is self-consistent
    val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
    val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
    val split = tmp()
    VectorRefresh.buildBase(prev, split)
    Seq(0, 1).foreach { par =>
      VectorRefresh.refresh(spark, split,
        delta.filter(col("vec_id") % 2 === par),
        removed.filter(col("vec_id") % 2 === par))
    }
    val one = buildRefreshed()
    assert(sortedRows(VectorRefresh.liveVectors(spark, split)) ==
      sortedRows(VectorRefresh.liveVectors(spark, one)))
    val a = VectorRefresh.centroidView(spark, split)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    val b = VectorRefresh.centroidView(spark, one)
      .select(col("cell"), explode(col("centroid")).as("c"))
      .orderBy("cell").collect().map(_.getDouble(1))
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    val q = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    assert(sortedRows(VectorRefresh.search(spark, split, q, VectorSearch.QueryVecId)) ==
      sortedRows(VectorRefresh.search(spark, one, q, VectorSearch.QueryVecId)))
  }

  test("compaction-time quantizer retrain re-clusters the live set and keeps refreshing") {
    val path = buildRefreshed()
    val out = tmp()
    val nlist = 4
    VectorRefresh.compactRetrain(spark, path, out, nlist)
    assert(IndexRefresh.segmentIds(out) == Seq(0))
    // the live set survives the retrain bitwise; only cells change
    def liveSet(p: String) = VectorRefresh.liveVectors(spark, p)
      .select("vec_id", "embedding").collect().map(_.toString).sorted.toSeq
    assert(liveSet(out) == liveSet(path))
    assert(VectorRefresh.liveVectors(spark, out)
      .select("cell").distinct().count() <= nlist)
    // full probe over the retrained layout ≡ brute force (recall 1.0
    // whatever the quantizer)
    val q = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    assert(VectorRefresh.search(spark, out, q, VectorSearch.QueryVecId, nprobe = nlist)
        .select("vec_id", "score").collect().map(_.toString).toSeq ==
      VectorSearch.topK(curr, VectorSearch.QueryVecId)
        .select("vec_id", "score").collect().map(_.toString).toSeq)
    // the retrained artifact keeps refreshing: deltas are assigned by
    // the RETRAINED quantizer (nearest merged centroid), prior versions
    // tombstoned with their layout cells
    val v = curr.filter(col("vec_id") =!= VectorSearch.QueryVecId)
      .agg(max("vec_id")).head().getLong(0)
    val newVal = curr.filter(col("vec_id") === v)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    val removed = VectorRefresh.liveVectors(spark, out)
      .filter(col("vec_id") === v)
      .select(col("vec_id"), col("embedding"), col("cell").as("label"))
    VectorRefresh.refresh(spark, out,
      VectorRefresh.assignToNearest(spark, out, newVal), removed)
    val updated = curr.withColumn("embedding",
      when(col("vec_id") === v, transform(col("embedding"), x => -x))
        .otherwise(col("embedding")))
    assert(VectorRefresh.liveVectors(spark, out).count() == curr.count())
    assert(VectorRefresh.search(spark, out, q, VectorSearch.QueryVecId, nprobe = nlist)
        .select("vec_id", "score").collect().map(_.toString).toSeq ==
      VectorSearch.topK(updated, VectorSearch.QueryVecId)
        .select("vec_id", "score").collect().map(_.toString).toSeq)
  }

  test("exactly-once: vector refresh replay at the same segment id is idempotent") {
    val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
    val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
    val once = tmp()
    VectorRefresh.buildBase(prev, once)
    VectorRefresh.refreshAt(spark, once, 1, delta, removed)
    val replay = tmp()
    VectorRefresh.buildBase(prev, replay)
    VectorRefresh.refreshAt(spark, replay, 1, delta, removed)
    VectorRefresh.refreshAt(spark, replay, 1, delta, removed)
    assert(sortedRows(VectorRefresh.liveVectors(spark, replay)) ==
      sortedRows(VectorRefresh.liveVectors(spark, once)))
    assert(sortedRows(VectorRefresh.centroidView(spark, replay)) ==
      sortedRows(VectorRefresh.centroidView(spark, once)))
    // fail-fast on a failed attempt's leftovers (the IndexRefresh
    // commit-marker contract): a partial segment or an orphan tombstone
    // batch throws instead of silently killing vectors whose
    // replacement never landed; replaying at the same id heals
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    val broken = tmp()
    VectorRefresh.buildBase(prev, broken)
    VectorRefresh.refreshAt(spark, broken, 1, delta, removed)
    rmrf(java.nio.file.Paths.get(broken, "seg=1", "centparts"))
    rmrf(java.nio.file.Paths.get(broken, "seg=1", IndexRefresh.CommitMarker))
    assert(intercept[IllegalArgumentException] {
      VectorRefresh.refresh(spark, broken, delta, removed)
    }.getMessage.contains("partially-written"))
    rmrf(java.nio.file.Paths.get(broken, "seg=1"))
    assert(intercept[IllegalArgumentException] {
      VectorRefresh.liveVectors(spark, broken).collect()
    }.getMessage.contains("orphan tombstone"))
    VectorRefresh.refreshAt(spark, broken, 1, delta, removed)
    assert(sortedRows(VectorRefresh.liveVectors(spark, broken)) ==
      sortedRows(VectorRefresh.liveVectors(spark, once)))
    // a fold that died mid-write: the output seg=0 has files but no
    // marker — readers refuse it, and re-running the fold heals it to
    // exactly the uncrashed fold
    def views(p: String) = Seq(
      sortedRows(VectorRefresh.liveVectors(spark, p)),
      sortedRows(VectorRefresh.centroidView(spark, p)))
    val folded = tmp()
    VectorRefresh.compact(spark, once, folded)
    val crashed = tmp()
    VectorRefresh.compact(spark, once, crashed)
    Seq("centparts", VectorRefresh.CommitMarker).foreach(f =>
      rmrf(java.nio.file.Paths.get(crashed, "seg=0", f)))
    assert(intercept[IllegalArgumentException] {
      views(crashed)
    }.getMessage.contains("partially-written"))
    VectorRefresh.compact(spark, once, crashed)
    assert(views(crashed) == views(folded))
  }

  test("as-of reads serve the pinned commit's vectors and centroids") {
    val p = tmp()
    VectorRefresh.buildBase(prev, p)
    VectorRefresh.refresh(spark, p,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    // as-of 0 == a from-scratch base on the previous snapshot, read
    // from the standing layout that has already refreshed past it
    val base0 = tmp()
    VectorRefresh.buildBase(prev, base0)
    assert(sortedRows(VectorRefresh.liveVectors(spark, p, asOf = Some(0))) ==
      sortedRows(VectorRefresh.liveVectors(spark, base0)))
    assert(sortedRows(VectorRefresh.centroidView(spark, p, asOf = Some(0))) ==
      sortedRows(VectorRefresh.centroidView(spark, base0)))
    val q = VectorRefresh.liveVectors(spark, p, asOf = Some(0))
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    assert(sortedRows(VectorRefresh.search(spark, p, q,
        VectorSearch.QueryVecId, asOf = Some(0))) ==
      sortedRows(VectorRefresh.search(spark, base0, q, VectorSearch.QueryVecId)))
    // the unpinned read still serves the refreshed (current) live set
    assert(VectorRefresh.liveVectors(spark, p).select("vec_id")
      .exceptAll(curr.select("vec_id")).isEmpty)
    assert(VectorRefresh.liveVectors(spark, p).count() == curr.count())
  }

  test("vector health report counts each segment from the bounded partials") {
    val p = tmp()
    VectorRefresh.buildBase(prev, p)
    VectorRefresh.refresh(spark, p,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    val rows = VectorRefresh.indexStats(spark, p).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(rows(0).getLong(1) == prev.count() && rows(0).getLong(2) == 0)
    assert(rows(1).getLong(1) ==
      VectorRefresh.deltaEmbs(curr, prev).count())
    assert(rows(1).getLong(2) ==
      VectorRefresh.removedEmbs(curr, prev).count())
  }

  test("epoch-cached vector views: reused within an epoch, rebuilt on refresh") {
    val p = tmp()
    VectorRefresh.buildBase(prev, p)
    val c1 = VectorRefresh.cachedCentroidView(spark, p)
    assert(c1 eq VectorRefresh.cachedCentroidView(spark, p))
    assert(sortedRows(c1) == sortedRows(VectorRefresh.centroidView(spark, p)))
    VectorRefresh.refresh(spark, p,
      VectorRefresh.deltaEmbs(curr, prev), VectorRefresh.removedEmbs(curr, prev))
    val c2 = VectorRefresh.cachedCentroidView(spark, p)
    assert(!(c2 eq c1))
    assert(sortedRows(c2) == sortedRows(VectorRefresh.centroidView(spark, p)))
  }

  test("property: random vector edit chains keep the live set and exact centroids") {
    // the vector twin of the keyword multi-refresh property sweep:
    // random add/change/remove interleavings through chains of up to 4
    // refreshes, checked against a from-scratch base on the final state
    val rnd = new scala.util.Random(11)
    def randEmb(): Array[Float] = Array.fill(4)(rnd.nextInt(9) / 4.0f - 1.0f)
    import spark.implicits._
    def embDF(m: Map[Long, Array[Float]]) =
      m.toSeq.toDF("vec_id", "embedding")
        .withColumn("label", (col("vec_id") % 3).cast("int"))
    (1 to 3).foreach { trial =>
      var corpus: Map[Long, Array[Float]] =
        (0L until (4 + rnd.nextInt(4))).map(_ -> randEmb()).toMap
      var path = tmp()
      VectorRefresh.buildBase(embDF(corpus), path)
      var nextId = corpus.keys.max + 1
      (1 to (2 + rnd.nextInt(3))).foreach { _ =>
        val removedIds = corpus.keys.filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val changedIds = (corpus.keySet -- removedIds)
          .filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).toSeq
        val addedIds = Seq.fill(rnd.nextInt(3)) { val i = nextId; nextId += 1; i }
        val removed = embDF((removedIds ++ changedIds).map(i => i -> corpus(i)).toMap)
        corpus = corpus -- removedIds
        (changedIds ++ addedIds).foreach(i => corpus += i -> randEmb())
        val delta = embDF((changedIds ++ addedIds).map(i => i -> corpus(i)).toMap)
        VectorRefresh.refresh(spark, path, delta, removed)
        // occasionally compact mid-chain and keep refreshing on it
        if (rnd.nextInt(3) == 0) {
          val c = tmp(); VectorRefresh.compact(spark, path, c); path = c
        }
      }
      val full = tmp()
      VectorRefresh.buildBase(embDF(corpus), full)
      assert(sortedRows(VectorRefresh.liveVectors(spark, path)) ==
        sortedRows(VectorRefresh.liveVectors(spark, full)), s"trial=$trial vectors")
      val a = VectorRefresh.centroidView(spark, path)
        .select(col("cell"), posexplode(col("centroid")).as(Seq("dim", "c")))
        .orderBy("cell", "dim").collect().map(_.getDouble(2))
      val b = VectorRefresh.centroidView(spark, full)
        .select(col("cell"), posexplode(col("centroid")).as(Seq("dim", "c")))
        .orderBy("cell", "dim").collect().map(_.getDouble(2))
      assert(a.length == b.length, s"trial=$trial centroid count")
      assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 }, s"trial=$trial centroids")
    }
  }

  test("full probe over the refreshed layout equals brute force on the current snapshot") {
    val refreshed = buildRefreshed()
    val q = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    val nlist = curr.select("label").distinct().count().toInt
    val viaIndex = VectorRefresh.search(spark, refreshed, q,
        VectorSearch.QueryVecId, nprobe = nlist)
      .select("vec_id", "score").collect().map(_.toString).toSeq
    val brute = VectorSearch.topK(curr, VectorSearch.QueryVecId)
      .select("vec_id", "score").collect().map(_.toString).toSeq
    assert(viaIndex == brute)
  }
}
