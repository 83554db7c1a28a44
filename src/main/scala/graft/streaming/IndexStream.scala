package graft.streaming

import graft.functions.TextFunctions._
import graft.operators.{Chunker, Embedder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming index ingest — the continuous twin of the reference's batch
  * index build (`WeaviateIndexer.batch_index_data`, reference
  * `src/database/weaviate_interface_v4.py:409-492`). Documents arrive as
  * a file stream, are chunked and embedded with the same declarative
  * pipeline as the batch job ([[graft.operators.Chunker]] /
  * [[graft.operators.Embedder]] — every transform narrow/stateless), and
  * append to the SAME cell-partitioned parquet layout the batch
  * [[graft.operators.IvfIndex.writeIndex]] produces — so one search path
  * serves both ingest modes, and a restart resumes exactly-once from the
  * checkpoint.
  *
  * At 100 TB scale this is the continuous-ingest story: new corpus
  * partitions land as files, each micro-batch is a narrow
  * chunk→embed→assign map, and the only fan-in is the partitioned sink
  * append. No state store is needed (dedup-by-key ingest is
  * [[EventsStream.dedupedEvents]]'s pattern and composes in front).
  */
object IndexStream {
  val NumCells = 8

  /** Fold retry-safety marker: a generation directory produced by a
    * compaction fold records the HIGHEST micro-batch id it absorbed.
    * A streaming retry re-invokes `foreachBatch` with the same batchId;
    * if the prior attempt refreshed AND folded, the retried delta is
    * already inside the new generation's compacted base, and re-applying
    * [[graft.operators.IndexRefresh.refreshAt]] there would double its
    * postings — so the loop skips any batchId ≤ the generation's
    * absorbed-through id. (refreshAt alone is idempotent by overwrite;
    * it's the refresh-then-fold pair that needs this.)
    */
  private val AbsorbedMarker = "_graft_absorbed_through"

  private[graft] def absorbedThrough(genDir: String): Long = {
    val f = new java.io.File(genDir, AbsorbedMarker)
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.mkString.trim.toLong finally src.close()
    } else -1L
  }

  private[graft] def recordAbsorbedThrough(genDir: String, batchId: Long): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(genDir, AbsorbedMarker))
    try w.print(batchId) finally w.close()
  }

  /** Parquet file-stream of the documents table. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }

  /** chunk → embed → coarse-cell assignment, all narrow (no shuffle, no
    * state): the exact transform a 1000-executor continuous job would
    * run. Cell = portable hash of the chunk content modulo [[NumCells]]
    * (a deterministic stand-in for the nearest-centroid assignment, same
    * plan shape).
    */
  def chunkEmbedAssign(docs: DataFrame): DataFrame =
    Chunker.chunkUnsorted(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"),
        Embedder.embed(col("chunk_hash")).as("embedding"),
        pmod(portableHash(col("chunk_hash")), lit(NumCells)).as("cell"))

  /** Driver query: streaming index ingest (40) under the oracle gate —
    * run the continuous chunk→embed→assign append to completion into the
    * cell-partitioned layout (once per source dir, standing-artifact
    * semantics), read the landed index back, and hash-match the chunk
    * and cell-assignment arithmetic re-derived in DuckDB
    * ([[indexIngestOracle]]). The embedding column is spec-covered
    * (embed ≡ column expression); the gate pins the rows the sink lands
    * and the partition value they land under.
    */
  def qStreamIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.IndexCache.getOrBuild("stream_index", dir) { p =>
      appendToIndex(chunkEmbedAssign(readDocuments(spark, dir)),
        s"$p/index", s"$p/ckpt").awaitTermination()
    }
    spark.read.parquet(s"$base/index")
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"),
        col("cell").cast("long").as("cell"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Oracle for [[qStreamIndexIngest]]: the chunk SQL twin
    * ([[graft.operators.Chunker.chunkSql]]) plus the portable-hash cell
    * assignment (same md5-prefix arithmetic as the corpus-sample
    * oracle).
    */
  val indexIngestOracle: String =
    s"""SELECT doc_id, chunk_id, chunk_hash,
       |  CAST('0x' || substring(md5(chunk_hash), 1, 15) AS BIGINT) % $NumCells AS cell
       |FROM (${graft.operators.Chunker.chunkSql()})
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Continuous append into the cell-partitioned index layout. */
  def appendToIndex(chunks: DataFrame, path: String,
                    checkpoint: String): StreamingQuery =
    chunks.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cell")
      .trigger(Trigger.AvailableNow())
      .start()

  // --- streaming incremental refresh (40-series twin of IndexRefresh) ------

  /** Driver query: STREAMING incremental index refresh — corpus-change
    * batches arrive as a stream and each micro-batch applies
    * [[graft.operators.IndexRefresh.refresh]] through `foreachBatch`
    * (refresh is a multi-stage batch job, the [[ServeStream.bm25Serve]]
    * idiom). The benchmark delta (the [[graft.operators.CorpusOps
    * .snapshotDiff]] added/changed/removed set) is deliberately split
    * into TWO micro-batches, so the gate also exercises the
    * multi-refresh chain (each batch is self-consistent: a changed
    * doc's new version and tombstone travel together). The artifact
    * builds once per source dir (standing-artifact semantics, the
    * [[qStreamIndexIngest]] convention); the registered oracle is the
    * SAME full-rebuild replay as `kw_index_refresh` — however the
    * batches arrive, the refreshed index must be indistinguishable
    * from a from-scratch build of the final corpus.
    */
  def qStreamIndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CorpusOps, IndexCache, IndexRefresh, KeywordSearch}
    val docs = graft.sources.Tables.documents(spark, dir)
    val curr = CorpusOps.currSnapshot(docs)
    val prev = CorpusOps.prevSnapshot(docs)
    val path = IndexCache.getOrBuild("kw_refresh_stream", dir) { p =>
      IndexRefresh.buildBase(prev, p)
      val diff = CorpusOps.snapshotDiff(curr, prev)
        .filter(col("status") =!= "unchanged")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().select(col("value").as("doc_id")).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val ids = batch.select("doc_id").distinct()
          if (!batch.isEmpty) {
            val d = diff.join(ids, Seq("doc_id"), "semi")
            // segment id derived from batchId (exactly-once: a retried
            // micro-batch replays at the SAME id — idempotent by
            // overwrite, IndexRefresh.refreshAt); base is seg 0
            IndexRefresh.refreshAt(spark, p, 1 + batchId.toInt,
              curr.join(d.filter(col("status").isin("added", "changed"))
                .select("doc_id"), Seq("doc_id"), "semi"),
              prev.join(d.filter(col("status").isin("removed", "changed"))
                .select("doc_id"), Seq("doc_id"), "semi"))
          }
        }
        .start()
      val affected = diff.select("doc_id").as[Long].collect().sorted.toSeq
      val (b1, b2) = affected.partition(_ % 2 == 0)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      q.stop()
    }
    IndexRefresh.search(spark, path, curr, KeywordSearch.QueryTerms)
  }

  /** Same oracle as `kw_index_refresh`: the stream's arrival pattern
    * must be invisible in the served index.
    */
  val streamIndexRefreshOracle: String =
    graft.operators.IndexRefresh.refreshSearchOracle

  /** Driver query: the FULL operational loop in one gate — per
    * micro-batch refresh, the compaction POLICY checked after each
    * batch, and an actual fold (generation roll) whenever it trips,
    * with serving continuing on whatever generation the loop ends on.
    * The benchmark delta splits into THREE micro-batches so the chain
    * is deep enough that the depth trigger (maxSegments = 2 here)
    * fires at least once — the build REQUIRES it, so the gate always
    * exercises refresh → monitor → fold → keep refreshing, not just
    * refresh. Generations are subdirectories (gen0, gen1, …); the fold
    * commits by directory roll, so a failed fold leaves the prior
    * generation serving — the background-compaction failure semantics
    * a deployment wants. Oracle: the SAME full-rebuild replay as
    * `kw_index_refresh` — refresh timing AND compaction timing must
    * both be invisible in every served result.
    */
  def qStreamRefreshCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CorpusOps, IndexCache, IndexRefresh, KeywordSearch}
    val docs = graft.sources.Tables.documents(spark, dir)
    val curr = CorpusOps.currSnapshot(docs)
    val prev = CorpusOps.prevSnapshot(docs)
    val root = IndexCache.getOrBuild("kw_refresh_compact_stream", dir) { p =>
      var cur = s"$p/gen0"
      var gen = 0
      IndexRefresh.buildBase(prev, cur)
      val diff = CorpusOps.snapshotDiff(curr, prev)
        .filter(col("status") =!= "unchanged")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().select(col("value").as("doc_id")).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val ids = batch.select("doc_id").distinct()
          // skip batches already absorbed by a fold (see AbsorbedMarker)
          if (!batch.isEmpty && batchId > absorbedThrough(cur)) {
            val d = diff.join(ids, Seq("doc_id"), "semi")
            IndexRefresh.refreshAt(spark, cur, 1 + batchId.toInt,
              curr.join(d.filter(col("status").isin("added", "changed"))
                .select("doc_id"), Seq("doc_id"), "semi"),
              prev.join(d.filter(col("status").isin("removed", "changed"))
                .select("doc_id"), Seq("doc_id"), "semi"))
            if (IndexRefresh.compactionPlan(spark, cur, maxSegments = 2)
                .head().getBoolean(4)) {
              // advance the driver-local counter ONLY after the fold
              // fully committed: a foreachBatch retry around a failed
              // compact/marker write replays with gen unchanged and
              // re-lands the SAME generation path (deterministic
              // overwrite), instead of skipping a number and orphaning
              // the half-written directory
              val next = s"$p/gen${gen + 1}"
              IndexRefresh.compact(spark, cur, next)
              recordAbsorbedThrough(next, batchId)
              cur = next
              gen += 1
            }
          }
        }
        .start()
      val affected = diff.select("doc_id").as[Long].collect().sorted.toSeq
      (0 until 3).foreach { b =>
        input.addData(affected.filter(_ % 3 == b): _*)
        q.processAllAvailable()
      }
      q.stop()
      require(gen >= 1, "the compaction policy never tripped — the gate " +
        "must exercise the fold, not just the refresh chain")
    }
    val gens = Option(new java.io.File(root).list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith("gen")).map(_.stripPrefix("gen").toInt)
    IndexRefresh.search(spark, s"$root/gen${gens.max}", curr,
      KeywordSearch.QueryTerms)
  }

  /** Same full-rebuild oracle — compaction timing is invisible. */
  val streamRefreshCompactOracle: String =
    graft.operators.IndexRefresh.refreshSearchOracle

  /** Driver query: STREAMING incremental IVF refresh — the vector-side
    * twin of [[qStreamIndexRefresh]]: vector-change batches arrive as a
    * stream, each micro-batch applying
    * [[graft.operators.VectorRefresh.refresh]] through `foreachBatch`.
    * The benchmark delta splits into TWO micro-batches by vec_id
    * parity; each batch is self-consistent because delta and tombstone
    * sides are semi-joined on the SAME id set — a changed vector's new
    * version and its kill travel together, so centroid maintenance
    * stays exact at every intermediate segment. Oracle = the same
    * full-rebuild replay as `ivf_index_refresh` (arrival pattern must
    * be invisible in the served layout).
    */
  def qStreamVectorRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexCache, IvfIndex, VectorRefresh, VectorSearch}
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val path = IndexCache.getOrBuild("ivf_refresh_stream", dir) { p =>
      VectorRefresh.buildBase(prev, p)
      val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
      val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().select(col("value").as("vec_id")).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val ids = batch.select("vec_id").distinct()
          if (!batch.isEmpty) {
            // batchId-derived segment id — exactly-once under retries
            // (VectorRefresh.refreshAt: idempotent by overwrite)
            VectorRefresh.refreshAt(spark, p, 1 + batchId.toInt,
              delta.join(ids, Seq("vec_id"), "semi"),
              removed.join(ids, Seq("vec_id"), "semi"))
          }
        }
        .start()
      val affected = delta.select("vec_id").unionByName(removed.select("vec_id"))
        .distinct().as[Long].collect().sorted.toSeq
      val (b1, b2) = affected.partition(_ % 2 == 0)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      q.stop()
      // the build lambda's batch-scoped checkpoints are fully consumed
      graft.operators.Checkpoints.release(delta)
      graft.operators.Checkpoints.release(removed)
    }
    val qEmb = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    VectorRefresh.search(spark, path, qEmb, VectorSearch.QueryVecId)
  }

  /** Same oracle as `ivf_index_refresh`. */
  val streamVectorRefreshOracle: String =
    graft.operators.VectorRefresh.refreshSearchOracle

  /** Driver query: STREAMING refresh of the QUANTIZED vector layout —
    * the 20e tier's continuous-ingest gate: vector-change batches
    * arrive as a stream, each micro-batch refreshing a layout whose
    * codebook artifact makes every segment write ALSO land PQ codes
    * (encoded against the standing codebook — the streaming path and
    * the batch path share one writer), and serving is the ADC probe
    * over the live code files. Oracle = the same literal-codebook
    * encode+ADC replay as `vector_search_refreshed_quantized`: arrival
    * pattern must be invisible in the served quantized page.
    */
  def qStreamQuantizedRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexCache, VectorRefresh, VectorSearch}
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val path = IndexCache.getOrBuild("ivf_pq_refresh_stream", dir) { p =>
      VectorRefresh.buildBaseQuantized(prev, p)
      val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
      val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().select(col("value").as("vec_id")).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val ids = batch.select("vec_id").distinct()
          if (!batch.isEmpty) {
            // batchId-derived segment id (exactly-once by overwrite);
            // the codes file rides landSegment's layout-mode hook
            VectorRefresh.refreshAt(spark, p, 1 + batchId.toInt,
              delta.join(ids, Seq("vec_id"), "semi"),
              removed.join(ids, Seq("vec_id"), "semi"))
          }
        }
        .start()
      val affected = delta.select("vec_id").unionByName(removed.select("vec_id"))
        .distinct().as[Long].collect().sorted.toSeq
      val (b1, b2) = affected.partition(_ % 2 == 0)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      q.stop()
      // the build lambda's batch-scoped checkpoints are fully consumed
      graft.operators.Checkpoints.release(delta)
      graft.operators.Checkpoints.release(removed)
    }
    VectorRefresh.captureQuantModel(spark, path)
    val qEmb = VectorRefresh.liveVectors(spark, path)
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    VectorRefresh.searchQuantized(spark, path, qEmb, VectorSearch.QueryVecId)
  }

  /** Driver query: the VECTOR side's full operational loop — the
    * [[qStreamRefreshCompact]] twin: per-micro-batch vector refresh,
    * the [[graft.operators.VectorRefresh.compactionPlan]] policy
    * checked after each batch, a generation-roll fold whenever it
    * trips (REQUIRED at least once — maxSegments = 2 over three
    * batches guarantees it), refreshing continues on the folded
    * layout. Oracle: the same full-rebuild IVF replay as
    * `ivf_index_refresh` — refresh and compaction timing both
    * invisible in the served page.
    */
  def qStreamVectorRefreshCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IndexCache, VectorRefresh, VectorSearch}
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val curr = VectorRefresh.currSnapshot(embs)
    val prev = VectorRefresh.prevSnapshot(embs)
    val root = IndexCache.getOrBuild("ivf_refresh_compact_stream", dir) { p =>
      var cur = s"$p/gen0"
      var gen = 0
      VectorRefresh.buildBase(prev, cur)
      val delta = VectorRefresh.deltaEmbs(curr, prev).localCheckpoint()
      val removed = VectorRefresh.removedEmbs(curr, prev).localCheckpoint()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().select(col("value").as("vec_id")).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val ids = batch.select("vec_id").distinct()
          // skip batches already absorbed by a fold (see AbsorbedMarker)
          if (!batch.isEmpty && batchId > absorbedThrough(cur)) {
            VectorRefresh.refreshAt(spark, cur, 1 + batchId.toInt,
              delta.join(ids, Seq("vec_id"), "semi"),
              removed.join(ids, Seq("vec_id"), "semi"))
            if (VectorRefresh.compactionPlan(spark, cur, maxSegments = 2)
                .head().getBoolean(4)) {
              // counter advances only after the committed fold (see the
              // keyword loop's retry note)
              val next = s"$p/gen${gen + 1}"
              VectorRefresh.compact(spark, cur, next)
              recordAbsorbedThrough(next, batchId)
              cur = next
              gen += 1
            }
          }
        }
        .start()
      val affected = delta.select("vec_id").unionByName(removed.select("vec_id"))
        .distinct().as[Long].collect().sorted.toSeq
      (0 until 3).foreach { b =>
        input.addData(affected.filter(_ % 3 == b): _*)
        q.processAllAvailable()
      }
      q.stop()
      // the build lambda's batch-scoped checkpoints are fully consumed
      graft.operators.Checkpoints.release(delta)
      graft.operators.Checkpoints.release(removed)
      require(gen >= 1, "the vector compaction policy never tripped — the " +
        "gate must exercise the fold, not just the refresh chain")
    }
    val gens = Option(new java.io.File(root).list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith("gen")).map(_.stripPrefix("gen").toInt)
    val qEmb = curr.filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    VectorRefresh.search(spark, s"$root/gen${gens.max}", qEmb,
      VectorSearch.QueryVecId)
  }

  /** Same full-rebuild oracle — compaction timing is invisible. */
  val streamVectorRefreshCompactOracle: String =
    graft.operators.VectorRefresh.refreshSearchOracle
}
