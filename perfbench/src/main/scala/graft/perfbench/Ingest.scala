package graft.perfbench

import scala.collection.mutable

import graft.functions.TextFunctions.portableHash
import graft.operators._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `ingest`: seeded corpus-change batches (100 records: ≈60 % added —
  * some near-duplicates, benchmark copies or too short — 25 % changed,
  * 15 % removed) flow through ONE standing Structured Streaming
  * `foreachBatch` query over a 1000-doc base. Each micro-batch runs the
  * cleaning gates (`TextAnalysis.quality`, `Dedup.incremental`,
  * `Dedup.decontaminateBloom`, chunk + embed), then
  * `IndexRefresh.refreshAt` / `VectorRefresh.refreshAt` at a
  * batchId-derived segment id, and folds each layout into a new
  * generation whenever its compaction plan trips (every batch, by
  * depth). After each commit a keyword and a vector probe read the new
  * state (freshness), then repeat warm. The timed phase runs whole
  * compaction cycles from the freshly built base, so every run — and
  * its first batch, which also pays the JIT — has the same shape. After
  * it, untimed, both layouts must answer the probe queries exactly as a
  * from-scratch `buildBase` of the final corpus does.
  */
final class Ingest extends Workload {
  val NBase = 1000
  val BatchSize = 100
  val EmbDim = 16
  val NumCells = 8
  val WarmReads = 1
  /** Fold once a layout holds more than this many segments, i.e. after
    * every batch: a cycle of refresh + fold per batch keeps one run —
    * set-up, a cycle, the rebuild check — inside the benchmark's time
    * budget, and every run the same shape.
    */
  val MaxSegments = 1

  private val live = mutable.LinkedHashMap.empty[Long, Gen.Doc]
  private val vecs = mutable.HashMap.empty[Long, (Array[Float], Int)]
  private var changes: IndexedSeq[Gen.Change] = IndexedSeq.empty
  private var bench: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var kwCur = ""; private var vecCur = ""; private var gen = 0
  private var query: StreamingQuery = _
  private var input: MemoryStream[Long] = _
  private var submitted = 0
  private var digest = ""

  // timed-phase samples
  private val fresh = mutable.ArrayBuffer.empty[Double]
  private var workDocs = 0.0; private var workSec = 0.0
  private var kept = 0L; private var offered = 0L
  private var bytesWritten = 0L; private var compactions = 0
  private val segDepth = mutable.ArrayBuffer.empty[Double]

  private def bandPath(c: Ctx) = s"${c.root}/bands"

  def setup(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    val base = Gen.corpus(c.seed, NBase, 0)._1
    val r = new java.util.SplittableRandom(c.seed ^ 0xbe7c4L)
    bench = (0 until 40).map(i => Gen.doc(r, i.toLong))
    changes = Gen.changes(c.seed, base, bench, NBase.toLong, 64, BatchSize)
    base.foreach(d => live(d.id) = d)
    val baseDf = Data.df(c, base)
    kwCur = s"${c.root}/kw/gen0"; vecCur = s"${c.root}/vec/gen0"
    IndexRefresh.buildBase(baseDf, kwCur)
    embed(c, baseDf).foreach { case (id, v, cell) => vecs(id) = (v, cell) }
    VectorRefresh.buildBase(vecFrame(c, live.keys.toSeq), vecCur)
    Dedup.writeBandIndex(gateIds(baseDf, 5, 0), bandPath(c))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    input = MemoryStream[Long]
    query = input.toDF().writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.collect().foreach { x =>
          c.attempt(s"ingest apply ${x.getLong(0)}")(applyChange(c, x.getLong(0).toInt, batchId))
        }
      }.start()
  }

  def resetSamples(): Unit = {
    fresh.clear(); workDocs = 0; workSec = 0; kept = 0; offered = 0
    bytesWritten = 0; compactions = 0; segDepth.clear()
  }

  def run(c: Ctx, deadlineNs: Long): Unit = {
    var n = 0
    while ((System.nanoTime() < deadlineNs || n % MaxSegments != 0) && submitted < changes.size) {
      oneBatch(c); n += 1
    }
  }

  /** Submit the next change batch, wait for its commit, then read. */
  private def oneBatch(c: Ctx): Unit = {
    val idx = submitted; submitted += 1
    val ch = changes(idx)
    val req = idx.toLong
    val t0 = System.nanoTime()
    c.attempt(s"ingest batch $idx") {
      input.addData(idx.toLong)
      query.processAllAvailable()
    }
    val t1 = System.nanoTime()
    // read-your-writes probes: a keyword probe on the batch's new text
    // and a vector probe with one of its vectors
    val probeDoc = (ch.added ++ ch.changed).find(d => live.get(d.id).contains(d))
    val terms = probeDoc.map(_.text.split(" ").filter(_.length > 3).distinct.take(3).toSeq)
      .getOrElse(Seq(Gen.Vocab(idx % 50)))
    val qvec = probeDoc.flatMap(d => vecs.get(d.id)).map(_._1)
      .getOrElse(vecs.head._2._1)
    c.attempt("ingest cold read") {
      c.tracer.span("IndexRefresh.cold_read", req)(kwProbe(c, req, terms))
      c.tracer.span("VectorRefresh.cold_read", req)(vecProbe(c, req, qvec, IvfIndex.NProbe))
    }
    val t2 = System.nanoTime()
    (0 until WarmReads).foreach { _ =>
      c.attempt("ingest warm read") {
        c.tracer.span("IndexRefresh.warm_read", req)(kwProbe(c, req, terms))
        c.tracer.span("VectorRefresh.warm_read", req)(vecProbe(c, req, qvec, IvfIndex.NProbe))
      }
    }
    fresh += (t2 - t0) / 1e6
    workDocs += ch.added.size + ch.changed.size + ch.removed.size
    workSec += (t1 - t0) / 1e9
    segDepth += IndexRefresh.segmentIds(kwCur).size
  }

  /** The micro-batch body: gates, refresh both layouts, maybe fold. */
  private def applyChange(c: Ctx, idx: Int, batchId: Long): Unit = {
    val ch = changes(idx)
    val req = idx.toLong
    val seg = 1 + batchId.toInt
    val cand = ch.added ++ ch.changed
    val candDf = Data.df(c, cand)
    offered += cand.size
    val quality = c.tracer.span("TextAnalysis.quality", req) {
      c.frame(req)(TextAnalysis.quality(candDf).select("doc_id", "passes_filter"))
        .filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    }
    val addedIds = ch.added.map(_.id).toSet
    // near-dup probe of the batch's new docs against the live corpus's
    // band index: corpus ids map to 5·id, new ids to 5·id + 4 (the
    // operator's "new batch" residue)
    val newOk = ch.added.filter(d => quality(d.id))
    val dups = c.tracer.span("Dedup.incremental", req) {
      val docs = gateIds(Data.df(c, live.values.toSeq), 5, 0)
        .unionByName(gateIds(Data.df(c, newOk), 5, 4))
      c.frame(req)(Dedup.incremental(docs, c.spark.read.parquet(bandPath(c)))
        .select("new_id").distinct()).map(x => (x.getLong(0) - 4) / 5).toSet
    }
    val gated = cand.filter(d => quality(d.id) && !(addedIds(d.id) && dups(d.id)))
    // decontamination against the benchmark set: benchmark docs take ids
    // 50·j (the operator's benchmark residue), candidates 50·i + 1
    val contaminated = c.tracer.span("Dedup.decontaminate", req) {
      val docs = Data.df(c, bench.map(b => b.copy(id = 50L * b.id)) ++
        gated.zipWithIndex.map { case (d, i) => d.copy(id = 50L * i + 1) })
      c.frame(req)(Dedup.decontaminateBloom(docs).select("doc_id").distinct())
        .map(x => gated(((x.getLong(0) - 1) / 50).toInt).id).toSet
    }
    val keep = gated.filterNot(d => contaminated(d.id))
    kept += keep.size
    val keepDf = Data.df(c, keep)
    val newVecs = c.tracer.span("Chunker.chunk_embed", req)(embed(c, keepDf))

    // prior versions leave the index: removed ids and every changed id
    // that is live (a rejected new version still retires the old one)
    val retired = (ch.removed ++ ch.changed.map(_.id)).filter(live.contains).distinct
    val retiredDocs = retired.map(live)
    val before = layoutBytes
    c.tracer.span("IndexRefresh.refresh", req) {
      IndexRefresh.refreshAt(c.spark, kwCur, seg, keepDf, Data.df(c, retiredDocs))
    }
    val retiredVecs = retired.filter(vecs.contains)
    c.tracer.span("VectorRefresh.refresh", req) {
      VectorRefresh.refreshAt(c.spark, vecCur, seg,
        vecFrameOf(c, newVecs.map { case (id, v, cell) => (id, v, cell) }),
        vecFrameOf(c, retiredVecs.map(id => (id, vecs(id)._1, vecs(id)._2))))
    }
    retired.foreach { id => live.remove(id); vecs.remove(id) }
    keep.foreach(d => live(d.id) = d)
    newVecs.foreach { case (id, v, cell) => vecs(id) = (v, cell) }
    val newBands = Dedup.bandSignatures(gateIds(Data.df(c, keep.filter(d => addedIds(d.id))), 5, 0))
    newBands.write.mode("append").partitionBy("band_id").parquet(bandPath(c))
    bytesWritten += layoutBytes - before
    val kwFold = IndexRefresh.compactionPlan(c.spark, kwCur, MaxSegments).head().getBoolean(4)
    val vecFold = VectorRefresh.compactionPlan(c.spark, vecCur, MaxSegments).head().getBoolean(4)
    if (kwFold || vecFold) rollGeneration(c)
  }

  /** Fold both layouts into generation `gen + 1` and serve from it. */
  private def rollGeneration(c: Ctx): Unit = {
    val req = -1L
    val nk = s"${c.root}/kw/gen${gen + 1}"; val nv = s"${c.root}/vec/gen${gen + 1}"
    c.tracer.span("IndexRefresh.compact", req)(IndexRefresh.compact(c.spark, kwCur, nk))
    c.tracer.span("VectorRefresh.compact", req)(VectorRefresh.compact(c.spark, vecCur, nv))
    kwCur = nk; vecCur = nv; gen += 1
    compactions += 1; bytesWritten += layoutBytes
  }

  private def layoutBytes: Long = Ctx.bytes(kwCur) + Ctx.bytes(vecCur)

  private def kwProbe(c: Ctx, req: Long, terms: Seq[String]): Array[Row] = {
    val rows = c.frame(req)(IndexRefresh.search(c.spark, kwCur, Data.df(c, live.values.toSeq),
      terms, topK = 10))
    checkRows(c, rows, "doc_id", 10)
    rows
  }

  private def vecProbe(c: Ctx, req: Long, q: Array[Float], nprobe: Int): Array[Row] = {
    val s = c.spark
    import s.implicits._
    val rows = c.frame(req)(VectorRefresh.search(c.spark, vecCur,
      Seq(q).toDF("q_emb"), excludeVecId = -1L, nprobe = nprobe, k = 10))
    checkRows(c, rows, "vec_id", 10)
    rows
  }

  /** A read after a commit must see the commit: no retired id may come
    * back, at most k rows, scores descending.
    */
  private def checkRows(c: Ctx, rows: Array[Row], idCol: String, k: Int): Unit = {
    c.check(rows.length <= k, s"probe returned ${rows.length} rows")
    val ids = rows.map(_.getAs[Long](idCol))
    ids.foreach(id => c.check(live.contains(id), s"probe returned retired doc $id"))
    val sc = rows.map(_.getAs[Any]("score").toString.toDouble)
    c.check(sc.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), "probe scores not descending")
  }

  /** chunk → embed → per-doc mean vector and a content-hash cell. */
  private def embed(c: Ctx, docs: DataFrame): Seq[(Long, Array[Float], Int)] = {
    val chunks = Chunker.chunkUnsorted(docs.select("doc_id", "text"))
      .select(col("doc_id"), Embedder.embed(col("chunk_hash"), EmbDim).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), collect_list(col("e")).as("es"))
      .select(col("doc_id"), expr(s"transform(aggregate(es, array_repeat(0D, $EmbDim), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b)), v -> CAST(v / n AS FLOAT))").as("embedding"))
      .join(docs.select(col("doc_id"), pmod(portableHash(col("text")), lit(NumCells)).cast("int")
        .as("label")), "doc_id")
    c.frame(-1L)(chunks).map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
  }

  private def vecFrame(c: Ctx, ids: Seq[Long]): DataFrame =
    vecFrameOf(c, ids.map(id => (id, vecs(id)._1, vecs(id)._2)))

  private def vecFrameOf(c: Ctx, rows: Seq[(Long, Array[Float], Int)]): DataFrame = {
    val s = c.spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  private def gateIds(docs: DataFrame, mul: Int, add: Int): DataFrame =
    docs.withColumn("doc_id", col("doc_id") * mul + add)

  /** Probe queries for the refresh ≡ rebuild check. */
  private def checkProbes(c: Ctx): (Seq[Seq[String]], Seq[Array[Float]]) = {
    val r = new java.util.SplittableRandom(c.seed ^ 0xc0ffeeL)
    (Seq.fill(2)(Seq.fill(2)(Gen.zipfWord(r))),
      Gen.shuffle(r, vecs.keys.toIndexedSeq.sorted).take(2).map(vecs(_)._1))
  }

  override def finish(c: Ctx): Unit = {
    query.stop()
    c.attempt("ingest refresh == rebuild") {
      val (kq, vq) = checkProbes(c)
      val fk = s"${c.root}/fresh/kw"; val fv = s"${c.root}/fresh/vec"
      IndexRefresh.buildBase(Data.df(c, live.values.toSeq), fk)
      VectorRefresh.buildBase(vecFrame(c, live.keys.toSeq), fv)
      val docs = Data.df(c, live.values.toSeq)
      val s = c.spark
      import s.implicits._
      def answers(kw: String, vec: String): Seq[String] =
        kq.map(t => c.render(IndexRefresh.search(s, kw, docs, t, topK = 10).collect())) ++
          vq.map(q => c.render(VectorRefresh.search(s, vec, Seq(q).toDF("q_emb"),
            excludeVecId = -1L, nprobe = NumCells, k = 10).collect()))
      val refreshed = answers(kwCur, vecCur)
      val rebuilt = answers(fk, fv)
      refreshed.zip(rebuilt).zipWithIndex.foreach { case ((a, b), i) =>
        c.check(a == b, s"probe $i: refreshed layout answers differ from a rebuild")
      }
      digest = Gen.sha256(refreshed.mkString("\n#\n").getBytes("UTF-8"))
    }
  }

  def outcome(c: Ctx): Outcome =
    Outcome(fresh.toSeq, workDocs, workSec, layoutBytes, live.size.toLong,
      Seq(("IndexRefresh.segments", Trace.median(segDepth.toSeq), "count"),
        ("lsm.bytes_written_per_doc", bytesWritten / math.max(1.0, workDocs), "B"),
        ("lsm.compactions", compactions / math.max(1.0, fresh.size), "count"),
        ("ingest.kept_frac", kept / math.max(1.0, offered.toDouble), "ratio")),
      digest)
}
