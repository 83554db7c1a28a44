package graft.operators

import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY-REFRESHABLE IVF layout — the vector-side twin of
  * [[IndexRefresh]] on the same [[Segments]] layout (segment files,
  * commit marker, exactly-once replay, liveness, time travel,
  * epoch-cached serving views, health report): a refresh batch writes
  * ONLY its own cell-keyed vectors plus a bounded per-(cell, dim)
  * centroid-partial update, with tombstones killing replaced vector
  * versions — per-batch cost proportional to the batch, never the
  * corpus. Payload files of each segment:
  *
  *   vectors      cell-keyed (vec_id, embedding, cell)
  *   centparts    (cell, dim, sum_e, n) partial sums
  *   codes        cell-keyed (vec_id, codes, cell) — quantized mode
  *
  * (cell-keyed: cell-partitioned in `seg=0`, cell-sorted files in a
  * delta — [[Segments.writePayload]])
  *
  * and tombstones carry the killed versions WITH their embeddings.
  *
  * Cell assignment is the corpus coarse quantizer (`label`; a learned
  * k-means quantizer slots in via [[IvfIndex.assignKmeansCells]]
  * without changing the layout) — assignment is a pure per-vector
  * function, so appended cells are exactly the cells a full rebuild
  * assigns. CENTROID-STALENESS POLICY, documented: cell means are
  * maintained EXACTLY from the per-segment partials (merged mean =
  * (Σ sums − Σ killed) / (Σ n − kills), so the serving centroids track
  * every refresh), but the quantizer itself (which cell a vector maps
  * to) is never retrained incrementally — re-clustering is the
  * compaction-time task, as in FAISS/Milvus practice, and until then
  * recall for drifting data is governed by the nprobe knob. With the
  * pre-assigned quantizer this makes refresh ≡ full rebuild exact (the
  * spec pins it; the oracle re-derives everything from the current
  * snapshot corpus from scratch).
  *
  * Floating-point note: partial sums reassociate double additions, so
  * merged centroids can differ from a monolithic average in final-ulp
  * positions — the same reassociation any distributed `avg` already
  * performs across partitions; the 6-decimal cell-ranking round
  * absorbs it (oracle-gated at two SFs).
  */
object VectorRefresh extends Segments {
  import CorpusOps.{DiffAddStride, DiffChangeStride, DiffRemoveStride}

  protected def idCol = "vec_id"
  protected def emptyTombPayload = Seq(col("id").cast("int").as("cell"),
    lit(Array.empty[Float]).as("embedding"))
  protected def volume = "vectors"

  /** Current embeddings snapshot ([[CorpusOps]] stride convention on
    * vec_id — removed-stride rows absent).
    */
  private[graft] def currSnapshot(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") % DiffRemoveStride =!= 3)

  /** Previous snapshot: added-stride rows absent, changed-stride rows
    * carry a perturbed (negated) prior vector.
    */
  private[graft] def prevSnapshot(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") % DiffAddStride =!= 5)
      .withColumn("embedding",
        when(col("vec_id") % DiffChangeStride === 4,
          transform(col("embedding"), x => -x)).otherwise(col("embedding")))

  /** Land segment `r` of `embs` (`vec_id`, `embedding`, `label` = its
    * cell): the cell-keyed `vectors` and `codes` payloads in the level's
    * shape ([[Segments.writePayload]] — cell-partitioned in `seg=0`,
    * cell-sorted files in a delta, where cell pruning works through
    * page min/max), plus the bounded centroid partials.
    */
  private def landSegment(path: String, r: Int, embs: DataFrame): Unit =
    writeSegment(path, r) { dir =>
      writePayload(
        embs.select(col("vec_id"), col("embedding"), col("label").as("cell")),
        r, s"$dir/vectors", "cell")
      embs.select(col("label").as("cell"),
          posexplode(col("embedding")).as(Seq("dim", "e")))
        .groupBy("cell", "dim")
        .agg(sum(col("e").cast("double")).as("sum_e"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$dir/centparts")
      // QUANTIZED layout mode: a layout carrying a codebook artifact also
      // lands the segment's m-byte PQ codes, encoded against the STANDING
      // codebook — refresh batches never retrain (FAISS IVFPQ add()
      // encodes with the trained PQ; retrain is [[compactRetrain]]'s job)
      if (hasCodebook(path))
        writePayload(
          ProductQuantizer.encode(embs, readCodebook(embs.sparkSession, path))
            .select(col("vec_id"), col("codes"), col("label").as("cell")),
          r, s"$dir/codes", "cell")
    }

  /** Base build (segment 0). */
  def buildBase(embs: DataFrame, path: String): Unit = landSegment(path, 0, embs)

  /** One refresh batch at segment `r` ([[Segments.refreshAt]]'s
    * exactly-once contract): `deltaEmbs` = added ∪ changed vectors
    * (current values), `removedEmbs` = removed ∪ changed PRIOR versions
    * (their values feed the exact centroid correction). Work: one pass
    * over the batch — cell-partitioned append + a ≤ nlist×dim partials
    * frame + the tombstone write.
    */
  def refreshAt(spark: SparkSession, path: String, r: Int,
                deltaEmbs: DataFrame, removedEmbs: DataFrame): Unit = {
    openRefresh(path, r,
      removedEmbs.select(col("vec_id"), col("label").as("cell"), col("embedding")))
    landSegment(path, r, deltaEmbs)
  }

  /** Compaction — fold segments + tombstones into a fresh base at
    * `outPath` (the [[IndexRefresh.compact]] convention): live vectors
    * re-land as segment 0 with centroid partials recomputed from them,
    * and this is the documented point where the coarse quantizer would
    * RETRAIN (re-cluster + re-assign) — with the pre-assigned cells the
    * compacted views are bitwise the merged views up to double
    * reassociation in the centroid means (spec allows 1e-9).
    */
  def compact(spark: SparkSession, path: String, outPath: String): Unit = {
    val live = liveVectors(spark, path)
      .select(col("vec_id"), col("embedding"), col("cell").as("label"))
      .localCheckpoint()
    // a quantized layout keeps its STANDING codebook across a plain
    // fold (same codebook → identical codes for identical vectors)
    if (hasCodebook(path)) writeCodebook(spark, outPath, readCodebook(spark, path))
    landSegment(outPath, 0, live)
    Checkpoints.release(live) // fully consumed by the fold's writes
    // release the retired generation's cached serving views
    evictViews(path)
  }

  /** Compaction WITH quantizer retrain — the documented compaction-time
    * policy made real: the live vectors re-cluster through the learned
    * k-means coarse quantizer ([[IvfIndex.assignKmeansCells]], seeded)
    * and re-land as segment 0 under their NEW cells, partials
    * recomputed from the retrained assignment. This is the reset point
    * after drift has degraded the original cells' recall — FAISS/Milvus
    * re-cluster on rebuild the same way. The retrained layout serves
    * through the same views/search, and keeps refreshing: subsequent
    * deltas are assigned by the retrained quantizer via
    * [[assignToNearest]] (nearest merged centroid — the serving-side
    * application of a trained coarse quantizer). Spec-gated (recall
    * and live-set contracts); k-means has no DuckDB analog — the 19a
    * convention.
    */
  def compactRetrain(spark: SparkSession, path: String, outPath: String,
                     nlist: Int, seed: Long = 42L): Unit = {
    val live = liveVectors(spark, path).select(col("vec_id"), col("embedding"))
    val assigned = IvfIndex.assignKmeansCells(live, nlist, seed)
      .select(col("vec_id"), col("embedding"), col("cell").as("label"))
      .localCheckpoint()
    // compaction-time PQ retrain — the quantized tier's codebook refits
    // the CURRENT live distribution (stride sample, the training-reads-
    // a-sliver convention) and the fold re-encodes every live vector
    // against it; until the next fold, refresh batches keep encoding
    // with this codebook
    if (hasCodebook(path))
      writeCodebook(spark, outPath, ProductQuantizer.train(
        assigned.filter(col("vec_id") % QuantSampleStride === 0)))
    landSegment(outPath, 0, assigned)
    Checkpoints.release(assigned) // fully consumed by the fold's writes
    // release the retired generation's cached serving views
    evictViews(path)
  }

  /** Assign vectors to their nearest merged centroid — how a refresh
    * batch gets its cells AFTER a quantizer retrain (the layout's
    * centroids, not the source table's pre-assigned labels, are then
    * the quantizer). Deterministic: 6dp-rounded cosine, lowest cell on
    * ties; the centroid table is nlist rows, broadcast.
    */
  private[graft] def assignToNearest(spark: SparkSession, path: String,
                                     embs: DataFrame): DataFrame =
    embs.join(broadcast(centroidView(spark, path)))
      .select(col("vec_id"),
        struct(round(cosineSim(col("centroid"), col("embedding")), 6).as("cs"),
          (lit(0) - col("cell")).as("negcell"), col("cell").as("cell"),
          col("embedding").as("embedding")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
        col("b.cell").as("label"))

  /** Merged serving centroids: per-segment partials summed, killed
    * versions' contributions subtracted, emptied cells dropped.
    * `asOf` pins the time-travel read.
    */
  private[graft] def centroidView(spark: SparkSession, path: String,
                                  asOf: Option[Int] = None): DataFrame = {
    val parts = segmentUnion(spark, path, "centparts", asOf = asOf)
      .groupBy("cell", "dim").agg(sum("sum_e").as("s"), sum("n").as("n"))
    val tombParts = tombstones(spark, path, asOf)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy("cell", "dim")
      .agg(sum(col("e").cast("double")).as("ts"), count(lit(1)).as("tn"))
    parts.join(tombParts, Seq("cell", "dim"), "left")
      .select(col("cell"), col("dim"),
        (col("s") - coalesce(col("ts"), lit(0.0))).as("s"),
        (col("n") - coalesce(col("tn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .select(col("cell"), col("dim"), (col("s") / col("n").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("centroid"))
  }

  /** Live rows of a cell-partitioned payload file (`vectors`/`codes`)
    * under the [[Segments.liveRows]] rule, optionally cell-pruned.
    */
  private def liveCells(spark: SparkSession, path: String, file: String,
                        cellFilter: Option[Seq[Int]],
                        asOf: Option[Int]): DataFrame =
    liveRows(spark, path, file,
      df => cellFilter.fold(df)(cs => df.filter(col("cell").isin(cs: _*))),
      asOf = asOf).drop("seg")

  /** Live vectors across segments. */
  private[graft] def liveVectors(spark: SparkSession, path: String,
                                 cellFilter: Option[Seq[Int]] = None,
                                 asOf: Option[Int] = None): DataFrame =
    liveCells(spark, path, "vectors", cellFilter, asOf)

  /** nprobe cells for ONE query off the serving centroids, collected
    * to the bounded literal the segment scans partition-prune on —
    * from the EPOCH-CACHED view unless pinned or disabled (r15: every
    * single-request path re-derived the per-cell centroid aggregation
    * chain per run; the cached view is bitwise-equal by the cachedView
    * contract — guide §2.4).
    */
  private def probedCellsLiteral(spark: SparkSession, path: String,
                                 q: QueryVec, nprobe: Int,
                                 asOf: Option[Int]): Seq[Int] =
    IvfIndex.probedCells(servingCentroidView(spark, path, asOf), q, nprobe)
      .collect().map(_.getInt(0)).toSeq

  /** IVF search over the refreshed layout: rank merged centroids, probe
    * nprobe cells (collected to a literal predicate so every segment's
    * scan partition-prunes, the [[IvfIndex.qSearchMaterialized]]
    * convention), exact cosine over live probed vectors.
    */
  def search(spark: SparkSession, path: String, qEmb: DataFrame,
             excludeVecId: Long, nprobe: Int = IvfIndex.NProbe,
             k: Int = IvfIndex.TopK, asOf: Option[Int] = None): DataFrame = {
    val cells = probedCellsLiteral(spark, path, QueryVec.Frame(qEmb), nprobe, asOf)
    liveVectors(spark, path, Some(cells), asOf)
      .filter(col("vec_id") =!= excludeVecId)
      .join(broadcast(qEmb))
      .select(col("vec_id"), col("cell"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(k)
  }

  /** Per-segment health report for the VECTOR layout
    * ([[Segments.healthReport]]), derived WITHOUT a corpus scan: each
    * segment's vector count comes from its centroid-partials artifact
    * (`n` at dim 0 is the cell's vector count — the partials are
    * ≤ nlist·dim rows), the kill volume from its tombstone batch.
    */
  def indexStats(spark: SparkSession, path: String): DataFrame =
    healthReport(spark, path, "centparts",
      _.filter(col("dim") === 0).agg(coalesce(sum("n"), lit(0L)).as("n_vectors")),
      Seq(count(lit(1)).as("t")),
      Seq(col("n_vectors").cast("long").as("n_vectors"),
        coalesce(col("t"), lit(0L)).cast("long").as("tomb_vectors")))

  /** Driver query: the standing refreshed vector layout's health
    * report — oracle re-derives each segment's volumes from the
    * snapshot-diff stride convention on the embeddings table.
    */
  def qIndexStats(s: SparkSession, dir: String): DataFrame =
    indexStats(s, refreshedArtifact(s, dir))

  /** Oracle for [[qIndexStats]]: segment 0 = the previous snapshot,
    * segment 1 = the added∪changed delta, its tombstone batch = the
    * removed∪changed prior versions.
    */
  val indexStatsOracle: String =
    s"""WITH prev AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $DiffAddStride <> 5),
       |currs AS (
       |  SELECT vec_id FROM embeddings WHERE vec_id % $DiffRemoveStride <> 3),
       |delta AS (
       |  SELECT vec_id FROM currs
       |  WHERE vec_id NOT IN (SELECT vec_id FROM prev)
       |     OR vec_id % $DiffChangeStride = 4),
       |removed AS (
       |  SELECT vec_id FROM prev
       |  WHERE vec_id NOT IN (SELECT vec_id FROM currs)
       |     OR vec_id % $DiffChangeStride = 4)
       |SELECT CAST(0 AS INTEGER) AS seg, count(*) AS n_vectors,
       |  CAST(0 AS BIGINT) AS tomb_vectors
       |FROM prev
       |UNION ALL
       |SELECT CAST(1 AS INTEGER), (SELECT count(*) FROM delta),
       |  (SELECT count(*) FROM removed)
       |ORDER BY seg""".stripMargin

  /** added ∪ changed vectors with their CURRENT values — the refresh
    * batch's delta side (shared by the one-shot driver artifact and the
    * streaming twin, which semi-joins it per micro-batch).
    */
  private[graft] def deltaEmbs(curr: DataFrame, prev: DataFrame): DataFrame =
    curr.join(prev.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(curr.filter(col("vec_id") % DiffChangeStride === 4)
        .join(prev.select(col("vec_id")), Seq("vec_id"), "semi"))

  /** removed ∪ changed PRIOR versions — the tombstone side (their
    * embeddings feed the exact centroid correction).
    */
  private[graft] def removedEmbs(curr: DataFrame, prev: DataFrame): DataFrame =
    prev.join(curr.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(prev.filter(col("vec_id") % DiffChangeStride === 4)
        .join(curr.select(col("vec_id")), Seq("vec_id"), "semi"))

  /** Single-request ANN over the refreshed layout — the facade's
    * refreshed `vectorSearch` route: nprobe cells ranked against the
    * merged serving centroids (collected to a literal predicate so
    * every segment's scan partition-prunes), exact cosine over the
    * probed LIVE vectors, metadata filter evaluated during the walk
    * (the [[IvfIndex.searchPrunedWithQuery]] convention). Output shape
    * matches the facade's exact route (doc_id, source, lang, score).
    */
  private[graft] def requestSearch(spark: SparkSession, path: String,
                                   docs: DataFrame, q: QueryVec,
                                   nprobe: Int = IvfIndex.NProbe,
                                   k: Int = IvfIndex.TopK,
                                   docFilter: org.apache.spark.sql.Column =
                                     org.apache.spark.sql.functions.lit(true),
                                   asOf: Option[Int] = None): DataFrame =
    requestScored(spark, path, docs, q, nprobe, docFilter, asOf)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** The pre-ranking stage of [[requestSearch]] — the refreshed walk's
    * scored-candidate stream `(doc_id, source, lang, score)`, exposed
    * so grouped pages consume the probed cells' candidates (the r13
    * grouped-through-index-modes task).
    */
  private[graft] def requestScored(spark: SparkSession, path: String,
                                   docs: DataFrame, q: QueryVec,
                                   nprobe: Int = IvfIndex.NProbe,
                                   docFilter: org.apache.spark.sql.Column =
                                     org.apache.spark.sql.functions.lit(true),
                                   asOf: Option[Int] = None): DataFrame = {
    val cells = probedCellsLiteral(spark, path, q, nprobe, asOf)
    q.attach(liveVectors(spark, path, Some(cells), asOf)
      .join(docs.filter(docFilter).select(col("doc_id"), col("source"), col("lang")),
        col("vec_id") === col("doc_id")))
      .select(col("doc_id"), col("source"), col("lang"),
        round(cosineSim(col("embedding"), col("q_emb")), 4).as("score"))
  }

  /** Epoch-cached merged centroids (the [[Segments.cachedView]]
    * warm-reader contract): the nlist·dim centroid rollup is paid once
    * per refresh epoch, not per micro-batch. The live-vector merge stays
    * a per-probe scan — it is corpus-sized and is never pinned in the
    * JVM.
    */
  private[graft] def cachedCentroidView(spark: SparkSession, path: String): DataFrame =
    cachedView("vec_centroids", path)(centroidView(spark, path))

  /** Serving centroid view through the [[Segments.servingView]] switch. */
  private[graft] def servingCentroidView(spark: SparkSession, path: String,
                                         asOf: Option[Int]): DataFrame =
    servingView("vec_centroids", path, asOf)((a, _) => centroidView(spark, path, a))

  /** The refreshed standing layout for a source dir: base on the
    * previous snapshot, one refresh applying the added/changed/removed
    * batch — the [[IndexRefresh.qRefreshSearch]] convention on the
    * embeddings table.
    */
  private[graft] def refreshedArtifact(s: SparkSession, dir: String): String =
    IndexCache.getOrBuild("ivf_refresh", dir) { p =>
      val embs = Tables.embeddings(s, dir)
      val curr = currSnapshot(embs)
      val prev = prevSnapshot(embs)
      buildBase(prev, p)
      refresh(s, p, deltaEmbs(curr, prev), removedEmbs(curr, prev))
    }

  /** Driver query: IVF search over the refreshed layout — the oracle
    * replays the INLINE IVF search over the current snapshot from
    * scratch, so cell append + centroid maintenance ≡ full rebuild is
    * checked at the search-result level.
    */
  def qRefreshSearch(s: SparkSession, dir: String): DataFrame = {
    val path = refreshedArtifact(s, dir)
    val q = currSnapshot(Tables.embeddings(s, dir))
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    search(s, path, q, VectorSearch.QueryVecId)
  }

  /** Oracle: [[IvfIndex.searchSql]] restricted to the current snapshot
    * (the engine-side prev/delta construction never appears — base +
    * delta must be indistinguishable from the snapshot itself).
    */
  def refreshSearchSql(queryVecId: Long = VectorSearch.QueryVecId,
                       nprobe: Int = IvfIndex.NProbe,
                       k: Int = IvfIndex.TopK,
                       prevSnapshot: Boolean = false): String = {
    // prevSnapshot: the as-of-0 oracle — the pre-refresh corpus state
    // (added-stride rows absent, changed-stride rows carry the negated
    // prior vector), replayed through the same cell/probe/score chain
    val snapCte =
      if (prevSnapshot)
        s"""curr AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % $DiffChangeStride = 4
           |      THEN list_transform(embedding, x -> -x) ELSE embedding END AS embedding,
           |    label
           |  FROM embeddings WHERE vec_id % $DiffAddStride <> 5)""".stripMargin
      else
        s"""curr AS (
           |  SELECT * FROM embeddings WHERE vec_id % $DiffRemoveStride <> 3)""".stripMargin
    s"""WITH $snapCte,
       |q AS (SELECT embedding AS q_emb FROM curr WHERE vec_id = $queryVecId),
       |exploded AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS e
       |  FROM curr),
       |cent_long AS (
       |  SELECT cell, dim, avg(e) AS c FROM exploded GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(c ORDER BY dim) AS centroid FROM cent_long GROUP BY cell),
       |probed AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) DESC, cell
       |  LIMIT $nprobe)
       |SELECT vec_id, label AS cell,
       |  round(${VectorSearch.cosineSql("embedding", "q_emb")}, 4) AS score
       |FROM curr JOIN probed ON label = cell, q
       |WHERE vec_id <> $queryVecId
       |ORDER BY score DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  // --- quantized serving tier (PQ codes as a LAYOUT MODE) --------------------

  /** Stride of the PQ training sample ([[ProductQuantizer.modelFor]]'s
    * 10% convention — training reads a sliver, encoding streams).
    */
  val QuantSampleStride = 10

  private[graft] def codebookDir(path: String): String = s"$path/codebook"

  private[graft] def hasCodebook(path: String): Boolean =
    new java.io.File(codebookDir(path)).exists()

  /** The codebook artifact: (j, c, cent double[]) — m·k rows, one tiny
    * file; the layout's self-describing switch into quantized mode
    * (every subsequent segment write also lands codes).
    */
  private[graft] def writeCodebook(spark: SparkSession, path: String,
                                   model: ProductQuantizer.Model): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent) }
    }.toDF("j", "c", "cent")
      .coalesce(1).write.mode("overwrite").parquet(codebookDir(path))
  }

  /** Read-back with a content-fingerprint memo: the artifact is m·k
    * rows (bounded — the cache rule's index-artifact class), re-read
    * only when a retrain rewrites it. The memo key is the sorted file
    * LISTING (the [[Segments.epochOf]] convention), not
    * lastModified: every parquet overwrite lands fresh
    * `part-<task>-<uuid>` names, so an in-place [[writeCodebook]]
    * within one second-granularity mtime tick still rolls the key —
    * an mtime memo would serve the stale model there.
    */
  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, ProductQuantizer.Model)]()

  private[graft] def readCodebook(spark: SparkSession,
                                  path: String): ProductQuantizer.Model = {
    // ONE entry per path, replaced when the fingerprint rolls (the
    // viewCache compute pattern) — a composite path@listing key would
    // pin every retired generation's Model (and any entry keyed off a
    // mid-write partial listing) for the JVM lifetime
    val fp = Option(new java.io.File(codebookDir(path)).list())
      .getOrElse(Array.empty[String]).sorted.mkString(",")
    codebookCache.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else {
        val rows = spark.read.parquet(codebookDir(path))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        val m = rows.map(_._1).max + 1
        (fp, ProductQuantizer.Model(m, ProductQuantizer.Dim,
          (0 until m).map(j =>
            rows.filter(_._1 == j).sortBy(_._2).map(_._3.toSeq).toSeq)))
      })._2
  }

  /** Base build in QUANTIZED mode: train the codebook on a stride
    * sample of the base snapshot, then land segment 0 — codes included
    * (the [[landSegment]] layout-mode hook).
    */
  def buildBaseQuantized(embs: DataFrame, path: String): Unit = {
    writeCodebook(embs.sparkSession, path,
      ProductQuantizer.train(embs.filter(col("vec_id") % QuantSampleStride === 0)))
    buildBase(embs, path)
  }

  /** Live PQ codes across segments — the [[liveVectors]] tombstone rule
    * on the m-byte code files: the quantized probe's scan never touches
    * a full-precision vector.
    */
  private[graft] def liveCodes(spark: SparkSession, path: String,
                               cellFilter: Option[Seq[Int]] = None,
                               asOf: Option[Int] = None): DataFrame =
    liveCells(spark, path, "codes", cellFilter, asOf)

  /** ADC search over the refreshed QUANTIZED layout — at 100 TB this IS
    * the vector serving path: IVF prunes WHICH cells are scanned
    * (merged serving centroids, exact maintenance, nprobe knob), PQ
    * shrinks WHAT each scanned row costs (m table lookups over m-byte
    * codes — the probe reads `codes` files only, 1/16th the bytes of
    * the full-precision scan at m=8/d=64·4B), and the refresh path
    * keeps both current per batch. Scoring is [[ProductQuantizer]]'s
    * ADC contract exactly: driver-built distance table from the
    * STANDING codebook, j-ordered lookup sum, 6dp round, vec_id
    * tiebreak — so the literal-codebook oracle replays it bitwise.
    */
  def searchQuantized(spark: SparkSession, path: String, qEmb: DataFrame,
                      excludeVecId: Long, nprobe: Int = IvfIndex.NProbe,
                      k: Int = IvfIndex.TopK,
                      asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{PqAdcScore, Shims}
    val model = readCodebook(spark, path)
    val qv = QueryVec.Frame(qEmb)
    val cells = probedCellsLiteral(spark, path, qv, nprobe, asOf)
    val table = ProductQuantizer.adcTable(model, qv.values)
    liveCodes(spark, path, Some(cells), asOf)
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), col("cell"),
        round(Shims.column(PqAdcScore(Shims.expression(col("codes")), table)), 6)
          .as("adc"))
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(k)
  }

  /** FILTERED ADC search over the refreshed QUANTIZED layout — the
    * quantized tier of the filtered walk ([[IvfIndex.searchFiltered]]'s
    * filter-during-the-walk convention carried onto PQ codes): at
    * 100 TB a filtered vector page must neither lose the PQ bandwidth
    * win (fall back to full-precision vectors) nor post-hoc-filter a
    * served page (k shrinks unpredictably). Here the metadata filter's
    * survivors join the probed cells' m-byte code scan BEFORE the ADC
    * table-lookup sum — only surviving candidates pay the m lookups,
    * the scan still reads codes files only, and the served page is k
    * survivors. Same recall caveat as the full-precision filtered walk
    * (20a): a selective filter empties probed cells; nprobe is the
    * knob. Scoring is bitwise the [[searchQuantized]] ADC contract, so
    * the literal-codebook oracle replays it; the spec pins full-probe ≡
    * brute-force filtered ADC.
    */
  def searchQuantizedFiltered(spark: SparkSession, path: String,
                              docs: DataFrame, qEmb: DataFrame,
                              excludeVecId: Long, lang: String = "en",
                              nprobe: Int = IvfIndex.NProbe,
                              k: Int = IvfIndex.TopK,
                              asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{PqAdcScore, Shims}
    val model = readCodebook(spark, path)
    val qv = QueryVec.Frame(qEmb)
    val cells = probedCellsLiteral(spark, path, qv, nprobe, asOf)
    val table = ProductQuantizer.adcTable(model, qv.values)
    liveCodes(spark, path, Some(cells), asOf)
      .filter(col("vec_id") =!= excludeVecId)
      // filter survivors BEFORE the table-lookup sum: the keyed
      // metadata join prunes the candidate set, then only survivors
      // pay the m lookups
      .join(docs.filter(col("lang") === lang)
        .select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"),
        round(Shims.column(PqAdcScore(Shims.expression(col("codes")), table)), 6)
          .as("adc"))
      .orderBy(asc("adc"), asc("vec_id"))
      .limit(k)
  }

  /** Single-request ADC search with facade output shape — the
    * [[graft.GraftClient]] quantized route's vector read: the
    * [[searchQuantized]] walk (nprobe cells off the merged serving
    * centroids, m-byte code scan, driver-built ADC table) with an
    * arbitrary metadata filter's survivors joined BEFORE the
    * table-lookup sum (the [[searchQuantizedFiltered]] discipline,
    * generalized to any predicate) and metadata columns riding the
    * page. Scores present as similarity = −adc (descending), so the
    * facade's ordering convention holds across every mode; the page IS
    * [[searchQuantized]]'s under the identity −adc DESC ≡ adc ASC.
    */
  private[graft] def requestSearchQuantized(spark: SparkSession, path: String,
                                            docs: DataFrame, qEmb: QueryVec,
                                            k: Int = IvfIndex.TopK,
                                            nprobe: Int = IvfIndex.NProbe,
                                            docFilter: Column = lit(true),
                                            asOf: Option[Int] = None): DataFrame =
    requestScoredQuantized(spark, path, docs, qEmb, nprobe, docFilter, asOf)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** The pre-ranking stage of [[requestSearchQuantized]] — the ADC
    * walk's scored-candidate stream `(doc_id, source, lang, score)`
    * (score = −adc), exposed so grouped pages consume the probed
    * cells' byte-code candidates (the r13 grouped-through-index-modes
    * task: a grouped page in quantized mode costs the ADC walk, never
    * a full-precision corpus scan).
    */
  private[graft] def requestScoredQuantized(spark: SparkSession, path: String,
                                            docs: DataFrame, qEmb: QueryVec,
                                            nprobe: Int = IvfIndex.NProbe,
                                            docFilter: Column = lit(true),
                                            asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftshim.{PqAdcScore, Shims}
    val model = readCodebook(spark, path)
    val cells = probedCellsLiteral(spark, path, qEmb, nprobe, asOf)
    val table = ProductQuantizer.adcTable(model, qEmb.values)
    liveCodes(spark, path, Some(cells), asOf)
      .join(docs.filter(docFilter)
        .select(col("doc_id"), col("source"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"),
        (-round(Shims.column(
          PqAdcScore(Shims.expression(col("codes")), table)), 6)).as("score"))
  }

  /** BATCH ADC search over the refreshed QUANTIZED layout — the
    * headline batch serving form at 100 TB: the query BATCH amortizes
    * one pass ([[ProductQuantizer.batchSearchIvfAdc]]'s composition),
    * IVF prunes WHICH cells each query scans (merged serving centroids
    * via [[IvfIndex.batchProbedCellsFrom]]), and PQ shrinks WHAT each
    * candidate costs — and unlike the inline batch IVF-PQ form, the
    * codes are STANDING artifacts: the probe never encodes a vector,
    * it reads the probed cells' m-byte code files and pays only the m
    * table lookups per candidate. Per-query ADC tables are a tiny
    * (|queries|·m·k)-row frame built declaratively from the standing
    * codebook and broadcast into the code scan; the j-ordered
    * table-lookup sum and 6dp round keep the arithmetic bitwise the
    * single-query [[searchQuantized]] contract so the literal-codebook
    * oracle replays it. Refresh keeps codes current per batch; `asOf`
    * pins the read (segments + tombstones + codebook are all
    * time-travel-consistent because refresh never retrains).
    */
  def batchSearchQuantized(spark: SparkSession, path: String,
                           selectQueries: DataFrame => DataFrame,
                           nprobe: Int = IvfIndex.NProbe,
                           k: Int = IvfIndex.TopK,
                           asOf: Option[Int] = None): DataFrame = {
    val queries = selectQueries(liveVectors(spark, path, asOf = asOf))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val (adcs, _, _) = batchAdcParts(spark, path, queries, nprobe, asOf)
    adcs
      .groupBy("q_id")
      .agg(graft.functions.VectorFunctions
        .topKByScore(-col("adc"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("q_id"), (col("i") + 1).as("rn"), col("t.id").as("vec_id"),
        (-col("t.score")).as("adc"))
      .orderBy("q_id", "rn")
  }

  /** The pre-ranking stage of [[batchSearchQuantized]] — the batch ADC
    * fan-out plus the bounded probe artifacts it was built from,
    * exposed for composition (the quantized-leg hybrid fusion consumes
    * the fan-out, restricts its keyword leg by the probed (q_id, cell)
    * pairs, and recomputes dropped winners' ADC from the per-query
    * tables): returns (adcs(q_id, vec_id, adc), probed(q_id, cell),
    * tbls(q_id, tbl) — the j-major flattened per-query distance
    * tables, broadcast-sized).
    */
  private[graft] def batchAdcParts(spark: SparkSession, path: String,
                                   queries: DataFrame,
                                   nprobe: Int = IvfIndex.NProbe,
                                   asOf: Option[Int] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val model = readCodebook(spark, path)
    // the query frame is bounded by contract (a stride sample or a
    // micro-batch's id set), but its SUBTREE is a corpus-wide live-
    // vector scan — materialize it once (query-scoped release) so the
    // probe, the ADC tables, and the fan-out don't each re-run the scan
    val q = Checkpoints.transient_(queries)
    // r15 (measured): the probed frame has 2-3 consumers here (the ADC
    // table attach, the fan-out, and the caller's keyword-candidate
    // semi-join), and each re-derived the centroid-view subtree — the
    // per-cell collect_list build ran 2-3× per execution (4+ exchanges
    // each). Probe the EPOCH-CACHED serving view (bitwise-equal by the
    // cachedView contract) and materialize the bounded |Q|·nprobe
    // probe frame once, query-scoped (guide §2.4: remove repeated
    // subtree jobs).
    val probed = Checkpoints.transient_(IvfIndex.batchProbedCellsFrom(
      servingCentroidView(spark, path, asOf), q, nprobe))
    // per-query ADC tables in ONE map-side expression over the standing
    // codebook as a reference object ([[org.apache.spark.sql.graftshim
    // .PqAdcTable]] — flat j-major, bitwise the old declarative
    // cross-join + fold chain): no exchange at any |Q|, and the fused
    // serve stops paying the two collect_list shuffles per micro-batch.
    //
    // candidate (q_id, vec_id, codes): the probed (q_id, cell) pairs —
    // each carrying its query's flat m×k table — broadcast into the
    // standing code scan; cell is the partition column of the base's
    // codes write, so the isin-free join still reads only probed cells'
    // base files at scale via DPP (a delta's batch-bounded codes are
    // read whole), no full-precision vector is
    // touched past the query rows themselves, and each candidate row
    // pays exactly m in-register j-ordered lookups inside whole-stage
    // codegen ([[org.apache.spark.sql.graftshim.PqAdcScoreDyn]] —
    // bitwise the single-query PqAdcScore sum; an explode-to-m-rows +
    // collect_list re-aggregate here would sort-spill at 100×)
    val tbls = q.select(col("q_id"),
      org.apache.spark.sql.graftshim.Shims.column(
        org.apache.spark.sql.graftshim.PqAdcTable(
          org.apache.spark.sql.graftshim.Shims.expression(col("q_emb")),
          model.codebooks)).as("tbl"))
    val probeTbl = probed.join(tbls, Seq("q_id"))
    // Tables.parallel: the probe stage's parallelism is the code scan's
    // file count (broadcast joins add no exchange); the rows are m-byte
    // codes, so the spreading exchange is trivial next to the fan-out
    val adcs = Tables.parallel(liveCodes(spark, path, None, asOf))
      .join(broadcast(probeTbl), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(org.apache.spark.sql.graftshim.Shims.column(
          org.apache.spark.sql.graftshim.PqAdcScoreDyn(
            org.apache.spark.sql.graftshim.Shims.expression(col("codes")),
            org.apache.spark.sql.graftshim.Shims.expression(col("tbl")))),
          6).as("adc"))
    (adcs, probed, tbls)
  }

  /** ADC for an explicit (q_id, doc_id) key set against the standing
    * codes — the quantized fusion's dropped-winner recovery: keyword
    * winners the vector cut dropped recompute their TRUE ADC (bitwise
    * the fan-out's: same codes, same per-query table, same j-ordered
    * sum) via a keyed join of ≤C·|Q| pairs, never a second fan-out.
    */
  private[graft] def adcForKeys(spark: SparkSession, path: String,
                                keys: DataFrame, tbls: DataFrame,
                                asOf: Option[Int] = None): DataFrame =
    liveCodes(spark, path, None, asOf)
      .select(col("vec_id").as("doc_id"), col("codes"))
      .join(broadcast(keys), Seq("doc_id"))
      .join(broadcast(tbls), Seq("q_id"))
      .select(col("q_id"), col("doc_id"),
        round(org.apache.spark.sql.graftshim.Shims.column(
          org.apache.spark.sql.graftshim.PqAdcScoreDyn(
            org.apache.spark.sql.graftshim.Shims.expression(col("codes")),
            org.apache.spark.sql.graftshim.Shims.expression(col("tbl")))),
          6).as("adc"))

  /** The quantized refreshed layout for a source dir: quantized base on
    * the previous snapshot (codebook trained there — the standing-model
    * convention), one refresh encoding the delta against it.
    */
  private[graft] def quantizedArtifact(s: SparkSession, dir: String): String =
    IndexCache.getOrBuild("ivf_pq_refresh", dir) { p =>
      val embs = Tables.embeddings(s, dir)
      val curr = currSnapshot(embs)
      val prev = prevSnapshot(embs)
      buildBaseQuantized(prev, p)
      refresh(s, p, deltaEmbs(curr, prev), removedEmbs(curr, prev))
    }

  @volatile private var lastQuantModel: Option[ProductQuantizer.Model] = None

  /** Record the codebook a quantized driver query served with, for the
    * literal-codebook oracle dump (the [[ProductQuantizer.modelFor]]
    * capture convention — Verify is one dir per process; the batch and
    * streaming artifacts train on the SAME prev-snapshot sample, so
    * their codebooks are identical by [[ProductQuantizer.train]]'s
    * determinism).
    */
  private[graft] def captureQuantModel(s: SparkSession, path: String): Unit =
    lastQuantModel = Some(readCodebook(s, path))

  /** Driver query: ADC search over the refreshed quantized layout —
    * the oracle replays encode + ADC on the current snapshot with the
    * ENGINE's codebook as literals, so base+delta codes ∪ tombstones ≡
    * a full re-encode is checked at the search-result level.
    */
  def qSearchRefreshedQuantized(s: SparkSession, dir: String): DataFrame = {
    val path = quantizedArtifact(s, dir)
    captureQuantModel(s, path)
    val q = liveVectors(s, path)
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    searchQuantized(s, path, q, VectorSearch.QueryVecId)
  }

  /** Driver query: BATCH ADC serving over the refreshed quantized
    * layout — the batch twin of [[qSearchRefreshedQuantized]], the
    * stride query set probing standing codes. Oracle replays probe +
    * encode + ADC per query on the current snapshot with the ENGINE's
    * codebook as literals.
    */
  def qBatchSearchRefreshedQuantized(s: SparkSession, dir: String): DataFrame = {
    val path = quantizedArtifact(s, dir)
    captureQuantModel(s, path)
    batchSearchQuantized(s, path,
      _.filter(col("vec_id") % VectorSearch.BatchStride === 0))
  }

  /** Driver query: FILTERED ADC search over the refreshed quantized
    * layout — the filtered twin of [[qSearchRefreshedQuantized]]; the
    * oracle replays encode + ADC over the filter's survivors with the
    * ENGINE's codebook as literals.
    */
  def qSearchRefreshedQuantizedFiltered(s: SparkSession, dir: String): DataFrame = {
    val path = quantizedArtifact(s, dir)
    captureQuantModel(s, path)
    val q = liveVectors(s, path)
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    searchQuantizedFiltered(s, path, Tables.documents(s, dir), q,
      VectorSearch.QueryVecId)
  }

  /** Driver query: the vector layout's TIME-TRAVEL read — the same
    * search pinned AS OF segment 0 (the [[Segments]] as-of
    * contract on the vector family): centroids merged from segment-0
    * partials only, live set = segment-0 vectors, the seed vector read
    * from the pinned state itself. Oracle replays the IVF chain on the
    * PREVIOUS embeddings snapshot while the probed artifact has moved
    * on.
    */
  def qSearchAsOf(s: SparkSession, dir: String): DataFrame = {
    val path = refreshedArtifact(s, dir)
    val q = liveVectors(s, path, asOf = Some(0))
      .filter(col("vec_id") === VectorSearch.QueryVecId)
      .select(col("embedding").as("q_emb"))
    search(s, path, q, VectorSearch.QueryVecId, asOf = Some(0))
  }

  val refreshSearchOracle: String = refreshSearchSql()
  val searchAsOfOracle: String = refreshSearchSql(prevSnapshot = true)

  /** Oracle for [[qSearchRefreshedQuantized]]: the ENGINE's codebook as
    * a literal VALUES table (the [[ProductQuantizer]] oracle
    * convention — training isn't SQL-expressible; given the codebook,
    * encode + ADC are pure arithmetic), the IVF probe re-derived from
    * the current snapshot's exact centroids, candidates re-encoded and
    * ADC-scored with the same j-ordered sums and 6dp round. A `def` —
    * [[graft.Verify]] dumps oracles after the queries run, so the
    * model captured by the driver query is present.
    */
  def searchRefreshedQuantizedOracle: String = lastQuantModel.fold(
    // loud failure instead of a plausible empty compare (PQ convention)
    "SELECT pq_refresh_model_not_captured FROM embeddings")(
    singleQuantizedRankedSql(_, langFilter = None))

  /** Oracle for [[qSearchRefreshedQuantizedFiltered]]: the same
    * literal-codebook replay with the candidate set cut to the
    * metadata filter's survivors before the ADC sum.
    */
  def searchRefreshedQuantizedFilteredOracle: String = lastQuantModel.fold(
    "SELECT pq_refresh_model_not_captured FROM embeddings")(
    singleQuantizedRankedSql(_, langFilter = Some("en")))

  /** The single-query quantized ranked list (shared by the plain and
    * filtered oracles): IVF probe over the current snapshot's exact
    * centroids, candidates re-encoded against the literal codebook,
    * j-ordered ADC sums, 6dp round, (adc asc, vec_id) cut at k. With
    * `langFilter`, candidates join the documents metadata and only
    * survivors are scored — the filter-during-the-walk twin.
    */
  private def singleQuantizedRankedSql(model: ProductQuantizer.Model,
                                       langFilter: Option[String]): String = {
    val sub = model.dim / model.m
    val qid = VectorSearch.QueryVecId
    val nprobe = IvfIndex.NProbe
    val candJoin = langFilter.fold("")(l =>
      s"JOIN documents d ON n.vec_id = d.doc_id AND d.lang = '$l' ")
    // `meta` rides the candidate rows: the probed cell in the plain
    // form, the filter's lang in the filtered form
    val candMeta = langFilter.fold("n.label")(_ => "d.lang")
    val outCol = langFilter.fold("cell")(_ => "lang")
    s"""WITH curr AS (
       |  SELECT * FROM embeddings WHERE vec_id % $DiffRemoveStride <> 3),
       |cb AS (SELECT * FROM (VALUES
       |    ${ProductQuantizer.codebookValues(model)}) AS t(j, c, cent)),
       |q AS (SELECT embedding AS q_emb FROM curr WHERE vec_id = $qid),
       |exploded AS (
       |  SELECT label AS cell, generate_subscripts(embedding, 1) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS e
       |  FROM curr),
       |cent_long AS (
       |  SELECT cell, dim, avg(e) AS cv FROM exploded GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(cv ORDER BY dim) AS centroid FROM cent_long GROUP BY cell),
       |probed AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY round(${VectorSearch.cosineSql("centroid", "q_emb")}, 6) DESC, cell
       |  LIMIT $nprobe),
       |norm AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS e
       |  FROM curr),
       |qn AS (SELECT e AS qe FROM norm WHERE vec_id = $qid),
       |cands AS (
       |  SELECT n.vec_id, $candMeta AS meta, n.e
       |  FROM norm n JOIN probed p ON n.label = p.cell
       |  $candJoin
       |  WHERE n.vec_id <> $qid),
       |dists AS (
       |  SELECT vec_id, meta, j, c,
       |    list_sum(list_transform(range(1, ${sub + 1}), t ->
       |      (e[j * $sub + t] - cent[t]) * (e[j * $sub + t] - cent[t]))) AS d2
       |  FROM cands, cb),
       |enc AS (
       |  SELECT vec_id, meta, j, c,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC) AS rn
       |  FROM dists),
       |tbl AS (
       |  SELECT j, c,
       |    list_sum(list_transform(range(1, ${sub + 1}), t ->
       |      (qe[j * $sub + t] - cent[t]) * (qe[j * $sub + t] - cent[t]))) AS d2
       |  FROM qn, cb),
       |adcs AS (
       |  SELECT enc.vec_id, enc.meta AS $outCol,
       |    round(list_sum(list(tbl.d2 ORDER BY enc.j)), 6) AS adc
       |  FROM enc JOIN tbl ON enc.j = tbl.j AND enc.c = tbl.c
       |  WHERE rn = 1
       |  GROUP BY 1, 2)
       |SELECT vec_id, $outCol, adc
       |FROM adcs
       |ORDER BY adc ASC, vec_id
       |LIMIT ${IvfIndex.TopK}""".stripMargin
  }

  /** The BATCH quantized ranked list as one SQL statement (nested-WITH
    * convention) — shared by [[batchSearchRefreshedQuantizedOracle]]
    * and the quantized eval leg's metric-tail oracle: per-query probe
    * over the current snapshot's exact centroids, candidates re-encoded
    * against the literal codebook, per-query ADC tables, j-ordered
    * sums, 6dp round, (adc asc, vec_id) ranking cut at k.
    */
  private[graft] def batchQuantizedRankedSql(
      model: ProductQuantizer.Model,
      stride: Int = VectorSearch.BatchStride,
      nprobe: Int = IvfIndex.NProbe,
      k: Int = IvfIndex.TopK): String =
    s"""WITH curr AS (
       |  SELECT * FROM embeddings WHERE vec_id % $DiffRemoveStride <> 3),
       |${batchQuantizedAdcCtes(model, stride, nprobe)},
       |ranked AS (
       |  SELECT q_id, vec_id, adc,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rn
       |  FROM adcs
       |  QUALIFY rn <= $k)
       |SELECT q_id, rn, vec_id, adc
       |FROM ranked
       |ORDER BY q_id, rn""".stripMargin

  /** The batch ADC pre-ranking CTE chain (cb → adcs) over an arbitrary
    * embeddings relation `$embRel` — shared by the batch quantized
    * oracle and the quantized fusion oracle (which composes it beside
    * the keyword chain under a different corpus CTE name).
    */
  private[graft] def batchQuantizedAdcCtes(
      model: ProductQuantizer.Model,
      stride: Int = VectorSearch.BatchStride,
      nprobe: Int = IvfIndex.NProbe,
      embRel: String = "curr"): String = {
    val sub = model.dim / model.m
    s"""cb AS (SELECT * FROM (VALUES
       |    ${ProductQuantizer.codebookValues(model)}) AS t(j, c, cent)),
       |${IvfIndex.batchProbedSqlCtes(s"vec_id % $stride = 0", nprobe, embRel)},
       |norm AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS e
       |  FROM $embRel),
       |qn AS (
       |  SELECT q.q_id, n.e AS qnv FROM queries q JOIN norm n ON n.vec_id = q.q_id),
       |tbls AS (
       |  SELECT q_id, j, c,
       |    list_sum(list_transform(range(1, ${sub + 1}), t ->
       |      (qnv[j * $sub + t] - cent[t]) * (qnv[j * $sub + t] - cent[t]))) AS d2
       |  FROM qn, cb),
       |cands AS (
       |  SELECT p.q_id, n.vec_id
       |  FROM norm n JOIN probed p ON n.label = p.cell
       |  WHERE n.vec_id <> p.q_id),
       |dists AS (
       |  SELECT vec_id, j, c,
       |    list_sum(list_transform(range(1, ${sub + 1}), t ->
       |      (e[j * $sub + t] - cent[t]) * (e[j * $sub + t] - cent[t]))) AS d2e
       |  FROM norm, cb
       |  WHERE vec_id IN (SELECT vec_id FROM cands)),
       |enc AS (
       |  SELECT vec_id, j, c,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2e ASC, c ASC) AS ern
       |  FROM dists),
       |adcs AS (
       |  SELECT cands.q_id, cands.vec_id,
       |    round(list_sum(list(tbls.d2 ORDER BY enc.j)), 6) AS adc
       |  FROM cands
       |  JOIN enc ON enc.vec_id = cands.vec_id AND enc.ern = 1
       |  JOIN tbls ON tbls.q_id = cands.q_id AND tbls.j = enc.j AND tbls.c = enc.c
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Oracle for [[qBatchSearchRefreshedQuantized]] (the
    * [[searchRefreshedQuantizedOracle]] capture convention — a def,
    * dumped after the queries run).
    */
  def batchSearchRefreshedQuantizedOracle: String = lastQuantModel.fold(
    "SELECT pq_refresh_model_not_captured FROM embeddings")(
    batchQuantizedRankedSql(_))

  /** The captured model for oracles composed OUTSIDE this object (the
    * quantized eval leg) — None until a quantized driver query ran.
    */
  private[graft] def capturedQuantModel: Option[ProductQuantizer.Model] =
    lastQuantModel
}
