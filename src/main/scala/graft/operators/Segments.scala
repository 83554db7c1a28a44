package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The log-structured segment lifecycle under both refreshable indexes
  * ([[IndexRefresh]] keyword, [[VectorRefresh]] IVF/PQ): the layout a
  * deployed index needs to merge every ingest batch into a live index
  * without a rebuild (the reference's `batch_index_data`,
  * `src/database/weaviate_interface_v4.py:409-492`; Lucene segments +
  * deletes; LSM trees). Each index supplies only its payload files and
  * its scoring; every policy below is known here once.
  *
  *   path/seg=0/<payload>      base build
  *   path/seg=r/<payload>      refresh r
  *   path/tombstones/seg=r     kills of refresh r: (id, payload…, asof_seg)
  *
  * A payload keyed by term bucket or IVF cell lands in one of two
  * shapes, picked by the segment level ([[writePayload]]):
  *
  *   seg=0/<payload>/<key>=k/…  base and fold: directory-partitioned, so
  *                              reads partition-prune at any corpus size
  *   seg=r/<payload>/part-…     delta (r ≥ 1): a few files sorted by
  *                              (key, …), pruned by page min/max — a
  *                              batch-bounded delta's file count scales
  *                              with its payloads, not keys × tasks
  *
  * - COMMIT: a segment writer clears `seg=r/`[[CommitMarker]] FIRST and
  *   writes it LAST ([[writeSegment]]). A directory without it is a
  *   failed attempt's partial write; [[segmentIds]] refuses to build on
  *   it, or on a tombstone batch whose segment never committed.
  * - EXACTLY-ONCE: [[refreshAt]] lands every file at a deterministic
  *   overwrite path, so replaying a batch at the SAME id is idempotent;
  *   [[refresh]] is the auto-incrementing form. Ids may leave gaps.
  * - LIVENESS: a row of segment s is live iff no tombstone for its
  *   [[idCol]] has `asof_seg > s` ([[liveRows]]) — the merged live set
  *   is bitwise a full rebuild's.
  * - TIME TRAVEL: `asOf = Some(a)` reads only segments and tombstone
  *   batches at or below `a` — every past commit stays readable.
  * - SERVING: bounded merged views are cached per layout EPOCH
  *   (committed ids + tombstone batch ids) — [[cachedView]],
  *   [[servingView]]; `-Dgraft.refresh.nocache` disables the cache.
  * - HEALTH: per-segment written/killed volumes ([[healthReport]]) and
  *   the compaction trigger over them ([[compactionPlan]]); compaction
  *   itself (fold the live set into a fresh `seg=0`) is per layout.
  *
  * Scale note: the liveness join broadcasts the tombstone set, bounded
  * by the delta volume between compactions — the documented LSM trade.
  */
private[graft] trait Segments {

  /** The layout's row key — what a tombstone kills (`doc_id`/`vec_id`). */
  protected def idCol: String

  /** Tombstone payload columns after the key, projected over
    * `spark.range(0)`'s `id`: the schema a layout with no tombstone
    * batch yet reads as.
    */
  protected def emptyTombPayload: Seq[Column]

  /** The health report's volume noun (`docs`/`vectors`): [[indexStats]]
    * carries `n_<noun>`/`tomb_<noun>`, [[compactionPlan]] `written_<noun>`.
    */
  protected def volume: String

  /** [[refresh]] at an EXPLICIT segment id — the exactly-once form for
    * micro-batch drivers: a Structured Streaming retry re-invokes
    * `foreachBatch` with the SAME batchId, and the replay overwrites
    * itself where the auto-incrementing form would land the delta in a
    * SECOND live segment. `r` must be above every COMMITTED segment.
    */
  def refreshAt(spark: SparkSession, path: String, r: Int,
                delta: DataFrame, removed: DataFrame): Unit

  /** Per-segment health report (one row per committed segment). */
  def indexStats(spark: SparkSession, path: String): DataFrame

  /** Apply one refresh batch at the next segment id: `delta` = added ∪
    * changed rows at their CURRENT version, `removed` = removed ∪
    * changed rows at the version being replaced (the
    * [[CorpusOps.snapshotDiff]] consumption contract).
    */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
              removed: DataFrame): Unit =
    refreshAt(spark, path, segmentIds(path).max + 1, delta, removed)

  // --- commit protocol --------------------------------------------------------

  private[graft] val CommitMarker = "_graft_committed"

  private def segDir(path: String, r: Int): String = s"$path/seg=$r"

  private def commitSegment(dir: String): Unit =
    new java.io.File(dir, CommitMarker).createNewFile()

  private def uncommitSegment(dir: String): Unit =
    new java.io.File(dir, CommitMarker).delete()

  /** Open an exactly-once attempt at `r`: clear r's marker FIRST (a
    * replay over a completed attempt that dies mid-way must leave the
    * segment visibly uncommitted), then land the batch's kills — before
    * anything that must see them.
    */
  protected def openRefresh(path: String, r: Int, kills: DataFrame): Unit = {
    uncommitSegment(segDir(path, r))
    kills.withColumn("asof_seg", lit(r))
      .write.mode("overwrite").parquet(s"$path/tombstones/seg=$r")
  }

  /** Land segment `r`'s payload files under the commit protocol — for
    * EVERY writer (base build, refresh, compaction): a replay over an
    * already-committed directory must not keep the old marker through
    * its overwrites, or a crash mid-replay would leave a
    * committed-looking segment with mixed old/new files.
    */
  protected def writeSegment(path: String, r: Int)(files: String => Unit): Unit = {
    val dir = segDir(path, r)
    uncommitSegment(dir)
    files(dir)
    commitSegment(dir)
  }

  /** Land one bucket- or cell-keyed payload file of segment `r`; the
    * shape follows the segment level:
    * - DELTA (`r ≥ 1`): plain parquet, sorted within each write task by
    *   (`partCol`, `clusterBy`…). A delta is bounded by its batch, so a
    *   directory fan-out would only multiply its files — up to one per
    *   bucket per write task, each a local-FS create + chmod — while the
    *   sort keeps bucket/cell prunes effective through Parquet row-group
    *   and page min/max. An empty delta lands as one schema-bearing file.
    * - BASE / FOLD (`r = 0`): directory-partitioned by `partCol`, so
    *   reads partition-prune at any corpus size; a rebalance on
    *   `partCol` first sends each bucket to one task range (AQE
    *   coalesces small buckets and splits skewed ones). An empty frame
    *   lands no `partCol=` directory and its read-back would fail
    *   schema inference, so it then lands ONE empty file carrying
    *   `partCol` as a data column (same merged schema after the
    *   union's type widening).
    */
  protected def writePayload(df: DataFrame, r: Int, path: String,
                             partCol: String, clusterBy: String*): Unit = {
    val sortCols = (partCol +: clusterBy).map(col)
    if (r > 0) df.sortWithinPartitions(sortCols: _*).write.mode("overwrite").parquet(path)
    else {
      df.hint("rebalance", col(partCol)).sortWithinPartitions(sortCols: _*)
        .write.mode("overwrite").partitionBy(partCol).parquet(path)
      val landed = Option(new java.io.File(path).list())
        .exists(_.exists(_.startsWith(s"$partCol=")))
      if (!landed) df.limit(0).write.mode("overwrite").parquet(path)
    }
  }

  /** Committed segment ids under `path`, FAIL-FAST on corruption: a seg
    * dir without its [[CommitMarker]] is a failed attempt's partial
    * write, and a tombstone batch whose segment never committed has
    * killed rows whose replacement never landed — building on either
    * silently loses data, so both throw with the remedy (replay at the
    * SAME id). `inFlight` is the id the CURRENT [[refreshAt]] call is
    * writing — its (by-design) uncommitted state is exempt.
    */
  private[graft] def segmentIds(path: String,
                                inFlight: Option[Int] = None): Seq[Int] = {
    def ids(dir: java.io.File): Array[Int] =
      Option(dir.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("seg=")).map(_.stripPrefix("seg=").toInt)
    val (committed, partial) = ids(new java.io.File(path)).partition(s =>
      new java.io.File(segDir(path, s), CommitMarker).exists())
    val badSegs = partial.filterNot(inFlight.contains).sorted
    require(badSegs.isEmpty,
      s"partially-written segment(s) ${badSegs.mkString(", ")} under $path " +
        "(no commit marker — a failed refresh attempt); replay the batch " +
        "with refreshAt at the same segment id, or compact from a " +
        "known-good snapshot, before building further")
    val orphanTombs = ids(new java.io.File(s"$path/tombstones"))
      .filterNot(t => committed.contains(t) || inFlight.contains(t)).sorted
    require(orphanTombs.isEmpty,
      s"orphan tombstone batch(es) ${orphanTombs.mkString(", ")} under " +
        s"$path — kills whose replacement segment never committed; replay " +
        "each batch with refreshAt at the same segment id")
    require(committed.nonEmpty, s"no segments under $path — buildBase first")
    committed.sorted.toSeq
  }

  // --- merged reads -----------------------------------------------------------

  /** Every tombstone batch (at or below `asOf`). */
  protected def tombstones(spark: SparkSession, path: String,
                           asOf: Option[Int] = None): DataFrame = {
    val segs = Option(new java.io.File(s"$path/tombstones").list())
      .getOrElse(Array.empty[String])
    val all =
      if (segs.isEmpty)
        spark.range(0).select(
          (col("id").as(idCol) +: emptyTombPayload) :+ lit(0).as("asof_seg"): _*)
      else spark.read.parquet(segs.map(s => s"$path/tombstones/$s").toSeq: _*)
    asOf.fold(all)(a => all.filter(col("asof_seg") <= a))
  }

  /** One payload file across segments, each row tagged with its `seg`.
    * `prune` runs per segment before the tag (a partition filter, or a
    * bounded per-segment rollup). `belowSeg`: the exactly-once recut
    * reads only segments below the id being replayed — a failed
    * attempt's partial directory there is skipped and exempted from
    * the completeness check (it IS the in-flight write). `asOf`: the
    * time-travel read (nothing exempted). `pending`: the in-flight
    * segment's not-yet-written frame, merged like a stored one.
    */
  protected def segmentUnion(spark: SparkSession, path: String, file: String,
                             prune: DataFrame => DataFrame = identity,
                             belowSeg: Option[Int] = None,
                             asOf: Option[Int] = None,
                             pending: Option[(Int, DataFrame)] = None): DataFrame = {
    val stored = segmentIds(path, inFlight = belowSeg)
      .filter(s => belowSeg.forall(s < _))
      .filter(s => asOf.forall(s <= _))
      .map(s => s -> spark.read.parquet(s"${segDir(path, s)}/$file"))
    (stored ++ pending).map { case (s, df) => prune(df).withColumn("seg", lit(s)) }
      .reduce(_.unionByName(_))
  }

  /** [[segmentUnion]] under the liveness rule: tombstones kill every row
    * of a replaced version (segments older than the kill); current-
    * version rows survive. Keeps the `seg` tag.
    */
  protected def liveRows(spark: SparkSession, path: String, file: String,
                         prune: DataFrame => DataFrame = identity,
                         belowSeg: Option[Int] = None,
                         asOf: Option[Int] = None,
                         pending: Option[(Int, DataFrame)] = None): DataFrame = {
    val all = segmentUnion(spark, path, file, prune, belowSeg, asOf, pending)
    val kills = tombstones(spark, path, asOf).groupBy(idCol)
      .agg(max("asof_seg").as("dead_after"))
    all.join(broadcast(kills), Seq(idCol), "left")
      .filter(col("dead_after").isNull || col("seg") >= col("dead_after"))
      .drop("dead_after")
  }

  // --- epoch-cached serving views ---------------------------------------------

  /** The layout's serving epoch: every state change lands a new
    * `seg=`/tombstone directory, so the id lists identify the merge.
    */
  private def epochOf(path: String): String = {
    def list(d: String) = Option(new java.io.File(d).list())
      .getOrElse(Array.empty[String]).sorted.mkString(",")
    s"${segmentIds(path).mkString(",")}|${list(s"$path/tombstones")}"
  }

  /** The merged view `kind` of `path`, materialized once per epoch
    * (localCheckpoint) — the warm segment reader: Lucene reopens its
    * IndexReader only when a new segment commits. A refresh landing a
    * segment or tombstone batch rolls the epoch, so the NEXT probe
    * rebuilds and serving never reads a stale merge.
    */
  protected def cachedView(kind: String, path: String)
                          (build: => DataFrame): DataFrame = {
    import Segments.{retire, viewCache}
    val key = s"$kind:$path"
    val ep = epochOf(path)
    val hit = viewCache.get(key)
    if (hit != null && hit._1 == ep) hit._2
    else {
      // build OUTSIDE the map's bucket lock — localCheckpoint runs an
      // eager Spark job, and compute() would block every concurrent
      // caller colliding on the bucket for its whole duration. The
      // check-then-swap below keeps the first finished builder; a
      // racing loser's checkpoint and any epoch-rolled predecessor are
      // released EXPLICITLY ([[Checkpoints.release]]) — dropping the
      // strong reference alone leaves their blocks pinned until the
      // ContextCleaner's next GC-driven pass, which in a long-lived
      // serving JVM is unboundedly far away
      val fresh = build.localCheckpoint()
      var rolled: DataFrame = null
      val out = viewCache.compute(key, (_, cur) =>
        if (cur != null && cur._1 == ep) cur
        else if (cur != null && cur._1 == epochOf(path)) cur
        // ^ a builder that read the epoch BEFORE a concurrent refresh
        // rolled it must not overwrite the newer entry a post-roll
        // builder installed — re-check cur against the LIVE epoch (two
        // dir listings under the bucket lock) and keep it when current;
        // install (ep, fresh) only when neither entry matches
        else { rolled = if (cur != null) cur._2 else null; (ep, fresh) })._2
      // the losing racer's copy was never visible to any reader —
      // immediate release is safe; a ROLLED epoch's frame may still
      // back a pre-roll reader's in-flight plan, so it parks in the
      // retired map and is released on the NEXT roll instead
      if (out ne fresh) Checkpoints.release(fresh)
      else if (rolled != null) retire(key, rolled)
      out
    }
  }

  /** Drop a RETIRED layout's cached views — a fold's old generation
    * (compaction calls this on its source), a test's tmp artifact. The
    * checkpoint blocks are unpersisted EXPLICITLY: a dead path would
    * otherwise pin its last merged views until the next full GC.
    */
  private[graft] def evictViews(path: String): Unit = {
    def evict[V](m: java.util.concurrent.ConcurrentHashMap[String, V])
                (frame: V => DataFrame): Unit = {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.endsWith(s":$path")) {
          Checkpoints.release(frame(e.getValue))
          it.remove()
        }
      }
    }
    evict(Segments.viewCache)(_._2)
    evict(Segments.retiredViews)(identity)
  }

  /** Drop EVERY cached view, of every layout — the session-recreation
    * path: a harness that replaces a dead SparkContext (ScaleBench's
    * OOM-recovery loop) must not serve checkpoint frames bound to the
    * old one. [[Checkpoints.release]] no-ops on a stopped context.
    */
  def clearViewCache(): Unit = {
    Segments.viewCache.values().forEach(v => Checkpoints.release(v._2))
    Segments.viewCache.clear()
    Segments.retiredViews.values().forEach(Checkpoints.release)
    Segments.retiredViews.clear()
  }

  private def servingCacheDisabled: Boolean =
    sys.props.contains("graft.refresh.nocache")

  /** The one serving-view switch: the epoch-cached latest merge
    * (`asOf = None`), the epoch-cached PINNED merge keyed by the pinned
    * id (an immutable function of (path, asOf), rolling with the epoch
    * like the latest view), or — cache disabled — a per-request merge.
    * `merge(asOf, perRequest)` builds the view; only a per-request
    * merge may prune to the request (a cached view serves them all).
    * ONLY bounded, index-artifact-sized views go through here
    * (dictionary, champions, stats, the shortest closure, centroids):
    * corpus-sized frames are never pinned in the JVM — pinning one was
    * measured to poison every later query's memory budget at 100×.
    */
  protected def servingView(kind: String, path: String, asOf: Option[Int])
                           (merge: (Option[Int], Boolean) => DataFrame): DataFrame =
    if (servingCacheDisabled) merge(asOf, true)
    else cachedView(asOf.fold(kind)(a => s"$kind@$a"), path)(merge(asOf, false))

  // --- health and compaction policy -------------------------------------------

  /** The health-report frame — the monitoring surface a deployed LSM
    * index exposes (Lucene's segment infos): one row per committed
    * segment from `volumes` (a bounded per-segment read of `file`,
    * never a corpus scan), left-joined with the tombstone rollup `kills`
    * grouped by batch id, projected by `out` after the `seg` column.
    */
  protected def healthReport(spark: SparkSession, path: String, file: String,
                             volumes: DataFrame => DataFrame,
                             kills: Seq[Column], out: Seq[Column]): DataFrame = {
    val tombs = tombstones(spark, path)
      .groupBy(col("asof_seg").as("seg")).agg(kills.head, kills.tail: _*)
    segmentUnion(spark, path, file, volumes)
      .join(tombs, Seq("seg"), "left")
      .select(col("seg").cast("int").as("seg") +: out: _*)
      .orderBy("seg")
  }

  /** Compaction depth threshold: more live segments than this and the
    * read-amplification (one union arm per segment, per probe) is worth
    * folding away.
    */
  val MaxSegments = 4
  /** Dead-fraction threshold: tombstoned / written versions — past this,
    * probes and the tombstone broadcast carry more dead weight than a
    * fold costs (Lucene's deletes-pct trigger; RocksDB's space-amp).
    */
  val MaxDeadFrac = 0.2

  /** The compaction DECISION, derived arithmetic over [[indexStats]]
    * (bounded rows): fold when the layout exceeds `maxSegments` live
    * segments OR its dead fraction passes `maxDeadFrac`. One row:
    * segment count, written/tombstoned versions, the fraction, and the
    * decision.
    */
  def compactionPlan(spark: SparkSession, path: String,
                     maxSegments: Int = MaxSegments,
                     maxDeadFrac: Double = MaxDeadFrac): DataFrame = {
    val (written, tomb) = (s"written_$volume", s"tomb_$volume")
    val deadFrac = col(tomb).cast("double") / col(written)
    indexStats(spark, path)
      .agg(count(lit(1)).cast("int").as("n_segments"),
        sum(s"n_$volume").as(written), sum(tomb).as(tomb))
      .select(col("n_segments"), col(written), col(tomb),
        round(deadFrac, 4).as("dead_frac"),
        (col("n_segments") > maxSegments || deadFrac >= maxDeadFrac).as("compact"))
  }
}

/** Process-wide state of every [[Segments]] layout's serving cache. */
private[graft] object Segments {

  /** Merged serving views keyed `kind:path`, each with the epoch it was
    * built at ([[Segments.cachedView]]).
    */
  private val viewCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()

  /** The one RETIRED frame per view key — release of a rolled epoch's
    * view is DEFERRED by one roll: a concurrent reader that fetched the
    * old frame just before a refresh committed may still be executing
    * its plan, and an eager unpersist of a localCheckpoint is
    * unrecoverable (checkpoint-block-not-found). One epoch of grace is
    * the serving contract: a fetched view stays readable until the NEXT
    * refresh/compact commits (readers that could span two commits must
    * refetch per probe — the CheckpointsSpec rule). Bounded residency:
    * ≤1 retired frame per key.
    */
  private val retiredViews =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Park a rolled frame for one epoch; release the one it displaces. */
  private def retire(key: String, rolled: DataFrame): Unit = {
    val prev = retiredViews.put(key, rolled)
    if (prev != null) Checkpoints.release(prev)
  }
}
