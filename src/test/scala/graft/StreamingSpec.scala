package graft

import graft.operators.Events
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly agg equals the oracle-checked batch result") {
    val streamed = EventsStream.hourly(
      EventsStream.readEvents(spark, TestSpark.Sf0001))
    val q = streamed.writeStream
      .format("memory").queryName("hourly_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hourly_stream")
      .orderBy("hour", "event_type")
      .collect().map(_.toString)
    val want = Events.hourly(spark, TestSpark.Sf0001).collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("streaming sliding agg equals the oracle-checked batch result") {
    val streamed = EventsStream.sliding(
      EventsStream.readEvents(spark, TestSpark.Sf0001))
    val q = streamed.writeStream
      .format("memory").queryName("sliding_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sliding_stream")
      .orderBy("win_start", "event_type")
      .collect().map(_.toString)
    val want = Events.sliding(spark, TestSpark.Sf0001).collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("streaming latest compaction equals the oracle-checked batch result") {
    val streamed = EventsStream.latest(
      EventsStream.readEvents(spark, TestSpark.Sf0001))
    val q = streamed.writeStream
      .format("memory").queryName("latest_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("latest_stream")
      .orderBy("user_id", "event_type")
      .collect().map(_.toString)
    val want = Events.latest(spark, TestSpark.Sf0001).collect().map(_.toString)
    assert(got.sameElements(want))
  }

  test("streaming dedup drops replayed events within the watermark") {
    val streamed = EventsStream.dedupedEvents(
      EventsStream.readEvents(spark, TestSpark.Sf0001))
    val q = streamed.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream").count()
    val want = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .select("event_id").distinct().count()
    assert(got == want)
  }

  test("stateful sessionization closes sessions on gap and keeps state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventsStream.Ev]
    val sessions = EventsStream.sessionize(input.toDS())
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()

    // batch 1: user 1 has two events 10s apart (one open session)
    input.addData(EventsStream.Ev(1L, 1000L), EventsStream.Ev(1L, 1010L))
    q.processAllAvailable()
    assert(spark.table("sess_stream").count() == 0) // still open

    // batch 2: a 2h jump closes the first session
    input.addData(EventsStream.Ev(1L, 8200L))
    q.processAllAvailable()
    val closed = spark.table("sess_stream").as[EventsStream.SessionOut].collect()
    assert(closed.length == 1)
    assert(closed.head == EventsStream.SessionOut(1L, 1L, 2L, 10L))

    // batch 3: another user is independent state
    input.addData(EventsStream.Ev(2L, 500L), EventsStream.Ev(2L, 9000L))
    q.processAllAvailable()
    val all = spark.table("sess_stream").as[EventsStream.SessionOut].collect()
    assert(all.exists(s => s.user_id == 2L && s.n_events == 1L))
    q.stop()
  }

  test("streaming as-of matches the batch point-in-time join") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.Sf0001
    val evs = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000000000").as("ts_s"),
        (col("event_type") === "purchase").as("is_purchase"))
      .as[EventsStream.AsofEv].collect().sortBy(e => (e.ts_s, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val input = MemoryStream[EventsStream.AsofEv]
    val q = EventsStream.asofLastPurchase(input.toDS()).writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("asof_stream").as[EventsStream.AsofOut].collect()
      .map(o => (o.event_id, o.user_id, o.ts_s, o.last_purchase_ts,
        o.secs_since_purchase)).sortBy(_._1).toSeq
    val want = Events.asofLastPurchase(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got == want)
    q.stop()
  }

  test("streaming sequence packing matches the oracle-checked batch bins") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.Sf0001
    val batch = graft.operators.Chunker.qPack(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("n_tokens").toLong, r.getAs[Long]("bin_id")))
      .sortBy(t => (t._2, t._1)).toSeq
    val docs = batch.map { case (id, src, n, _) =>
      graft.streaming.CorpusStream.Doc(id, src, n) }
      .sortBy(d => (d.source, d.doc_id))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[graft.streaming.CorpusStream.Doc]
    val q = graft.streaming.CorpusStream
      .pack(input.toDS(), graft.operators.Chunker.PackBudget)
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.table("pack_stream")
      .as[graft.streaming.CorpusStream.PackedDoc].collect()
      .map(p => (p.doc_id, p.source, p.n_tokens, p.bin_id))
      .sortBy(t => (t._2, t._1)).toSeq
    assert(got == batch)
    q.stop()
  }

  test("streaming clean-corpus ingest equals batch quality+probe+pack") {
    import graft.operators.{Chunker, Dedup, TextAnalysis}
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(Dedup.NewMod)) =!= Dedup.NewMod - 1)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(Dedup.NewMod)) === Dedup.NewMod - 1)
    val tmp = java.nio.file.Files.createTempDirectory("clean_stream").toString
    Dedup.writeBandIndex(oldDocs, s"$tmp/bands")
    val bandIndex = spark.read.parquet(s"$tmp/bands")
    // batch expected: same quality rules, same index probe, same packing
    val qual = TextAnalysis.quality(newDocs)
      .filter(col("passes_filter")).select("doc_id")
    val colliding = Dedup.bandSignatures(newDocs).as("n")
      .join(bandIndex.as("o"),
        col("n.band_id") === col("o.band_id") &&
          col("n.band_sig") === col("o.band_sig"))
      .select(col("n.doc_id")).distinct()
    val cleanBatch = newDocs.join(qual, "doc_id")
      .join(colliding, Seq("doc_id"), "left_anti")
    val want = Chunker.pack(cleanBatch).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Int]("n_tokens").toLong, r.getAs[Long]("bin_id")))
      .sortBy(t => (t._2, t._1)).toSeq
    assert(want.nonEmpty)
    // stream the new batch in two halves, (source, doc_id)-ordered
    val inDocs = newDocs.select("doc_id", "source", "text")
      .as[CorpusStream.CleanDoc].collect()
      .sortBy(d => (d.source, d.doc_id)).toSeq
    val (b1, b2) = inDocs.splitAt(inDocs.length / 2)
    val input = MemoryStream[CorpusStream.CleanDoc]
    val q = CorpusStream.cleanPack(input.toDS(), bandIndex, Chunker.PackBudget)
      .writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.table("clean_stream")
      .as[CorpusStream.PackedDoc].collect()
      .map(p => (p.doc_id, p.source, p.n_tokens, p.bin_id))
      .sortBy(t => (t._2, t._1)).toSeq
    assert(got == want)
    q.stop()
  }

  test("streaming query serving matches the batch multi-query search") {
    import graft.streaming.ServeStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val qIds = Seq(0L, 100L, 200L)
    val qVecs = corpus.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .as[(Long, Array[Float])].collect()

    val input = MemoryStream[(Long, Array[Float])]
    val served = ServeStream.topKPerQuery(
      input.toDS().toDF("q_id", "q_emb"), corpus, k = 5)
    val q = served.writeStream.format("memory").queryName("serve_stream")
      .outputMode("complete").start()
    // two micro-batches: queries arrive incrementally
    input.addData(qVecs.head)
    q.processAllAvailable()
    input.addData(qVecs.tail: _*)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("serve_stream")
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("vec_id"))
      .as[(Long, Long)].collect().toSet
    val want = graft.operators.VectorSearch
      .batchTopK(corpus, stride = 100, k = 5)
      .filter(col("q_id").isin(qIds: _*))
      .select(col("q_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("micro-batch bm25 serving equals the batch run regardless of batch split") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val allIds = Seq(0L, 7L, 23L, 31L, 42L)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val input = MemoryStream[Long]
    val q = graft.streaming.ServeStream.bm25Serve(
      input.toDS().toDF("q_id"), docs, 5) { (ranked, _) =>
      buf ++= ranked.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    input.addData(allIds.take(2): _*); q.processAllAvailable()
    input.addData(allIds.drop(2): _*); q.processAllAvailable()
    q.stop()
    val want = graft.operators.KeywordSearch.bm25BatchFor(
      docs, col("doc_id").isin(allIds: _*), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(buf.sortBy(t => (t._1, t._2)).toSeq == want.sortBy(t => (t._1, t._2)).toSeq)
    assert(buf.nonEmpty)
  }

  test("micro-batch ql champion serving equals the pruned batch across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.Sf0001
    val docs = graft.sources.Tables.documents(spark, dir)
    val postings = graft.operators.KeywordSearch.cachedBatchPostings(spark, dir)
    val champs = graft.operators.QueryLikelihood.cachedQlChampions(spark, dir)
    val allIds = Seq(0L, 7L, 23L, 31L, 42L)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val input = MemoryStream[Long]
    val q = graft.streaming.ServeStream.qlChampionServe(
      input.toDS().toDF("q_id"), docs, 5, postings, champs) { (ranked, _) =>
      buf ++= ranked.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    input.addData(allIds.take(2): _*); q.processAllAvailable()
    input.addData(allIds.drop(2): _*); q.processAllAvailable()
    q.stop()
    val want = graft.operators.QueryLikelihood.qlBatchPrunedSel(
      docs, postings, champs,
      _.filter(col("doc_id").isin(allIds: _*)), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(buf.sortBy(t => (t._1, t._2)).toSeq == want.sortBy(t => (t._1, t._2)).toSeq)
    assert(buf.nonEmpty)
  }

  test("micro-batch refreshed-index serving equals the batch run across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.Sf0001
    val curr = graft.operators.CorpusOps.currSnapshot(
      graft.sources.Tables.documents(spark, dir))
    val path = graft.operators.IndexRefresh.refreshedArtifact(spark, dir)
    // current-snapshot ids only (doc_id % 29 != 3): a removed doc can't query
    val allIds = Seq(0L, 7L, 23L, 42L)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val input = MemoryStream[Long]
    val q = graft.streaming.ServeStream.refreshServe(
      input.toDS().toDF("q_id"), spark, path, curr) { (ranked, _) =>
      buf ++= ranked.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    input.addData(allIds.take(2): _*); q.processAllAvailable()
    input.addData(allIds.drop(2): _*); q.processAllAvailable()
    q.stop()
    val want = graft.operators.IndexRefresh.batchSearchSel(
      spark, path, curr, _.filter(col("doc_id").isin(allIds: _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(buf.sortBy(t => (t._1, t._2)).toSeq == want.sortBy(t => (t._1, t._2)).toSeq)
    assert(buf.nonEmpty)
  }

  test("micro-batch hybrid serving equals the batch fusion across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val embs = graft.sources.Tables.embeddings(spark, TestSpark.Sf0001)
    val allIds = Seq(0L, 7L, 23L, 42L)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val input = MemoryStream[Long]
    val q = graft.streaming.ServeStream.hybridServe(
      input.toDS().toDF("q_id"), docs, embs, 5) { (ranked, _) =>
      buf ++= ranked.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    input.addData(allIds.take(1): _*); q.processAllAvailable()
    input.addData(allIds.drop(1): _*); q.processAllAvailable()
    q.stop()
    val want = graft.operators.HybridSearch.fusedBatchSel(
      docs, embs, _.filter(col("vec_id").isin(allIds: _*)),
      _.filter(col("doc_id").isin(allIds: _*)), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(buf.sortBy(t => (t._1, t._2)).toSeq == want.sortBy(t => (t._1, t._2)).toSeq)
    assert(buf.nonEmpty)
  }

  test("driver-gated sessionize flush-union emits exactly the batch sessions") {
    // the flush rows close every real session but their own sessions
    // must never surface — equality with the batch window form is the
    // whole contract of the driver gate
    val got = EventsStream.qStreamSessionize(spark, TestSpark.Sf0001)
    val want = Events.sessionize(spark, TestSpark.Sf0001)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("driver-gated dedup drops the replayed copy, not distinct events") {
    val got = EventsStream.qStreamDedup(spark, TestSpark.Sf0001)
    val base = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    assert(got.count() == base.count()) // 2x input collapses to 1x
    assert(got.select("event_id").distinct().count() == base.count())
  }

  test("json-mode streaming chat wraps the streamed spans as the batch JSON object") {
    import graft.streaming.GenerateStream
    val got = GenerateStream.qStreamJsonChat(spark, TestSpark.Sf0001).collect()
    assert(got.length == 1)
    val json = got.head.getAs[String]("json_chat")
    // the streamed object IS the batch json-mode assembly, bitwise
    val batch = graft.operators.Generation.assembleJson(
      graft.operators.Generation.answerSpans(
        graft.sources.Tables.documents(spark, TestSpark.Sf0001),
        graft.operators.KeywordSearch.QueryTerms)).collect()
    assert(json == batch.head.getAs[String]("json_chat"))
    // well-formed json_object response with the declared fields
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val parsed = Seq(json).toDF("j")
      .select(from_json(col("j"), org.apache.spark.sql.types.StructType.fromDDL(
        "answer STRING, n_spans BIGINT")).as("o"))
      .select(col("o.answer"), col("o.n_spans")).head()
    assert(parsed.getLong(1) == graft.operators.Generation.TopSpans.toLong)
    assert(parsed.getString(0).startsWith("["))
  }

  test("streaming index ingest lands the batch pipeline's rows cell-partitioned") {
    import graft.streaming.IndexStream
    val tmp = java.nio.file.Files.createTempDirectory("idx_stream").toString
    val q = IndexStream.appendToIndex(
      IndexStream.chunkEmbedAssign(
        IndexStream.readDocuments(spark, TestSpark.Sf0001)),
      s"$tmp/index", s"$tmp/ckpt")
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$tmp/index")
    val batch = IndexStream.chunkEmbedAssign(
      graft.sources.Tables.documents(spark, TestSpark.Sf0001))
    // same rows as the batch pipeline (content equality, order-free)
    assert(streamed.count() == batch.count())
    assert(streamed.select("doc_id", "chunk_id", "chunk_hash", "cell")
      .exceptAll(batch.select("doc_id", "chunk_id", "chunk_hash", "cell")).count() == 0)
    // physically cell-partitioned on disk
    val cellDirs = new java.io.File(s"$tmp/index").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d")))
    // a cell-filtered read prunes partitions (filter lands on the partition col)
    val pruned = streamed.filter(col("cell") === 3)
    assert(pruned.count() ==
      batch.filter(col("cell") === 3).count())
  }
}
