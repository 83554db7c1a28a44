package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` block storage.
  *
  * Every eager localCheckpoint pins its partitions in the block manager
  * (MEMORY_AND_DISK). Spark reclaims them only via the ContextCleaner,
  * which acts when a GC enqueues the RDD's weak reference — and the
  * default periodic-GC interval is 30 minutes, longer than an entire
  * benchmark suite. In a long-lived JVM the result is monotonic block
  * residency growth: consumed one-shot checkpoints (refresh deltas,
  * fusion candidate frames, CC frontiers) stay pinned on-heap until a
  * full GC happens to run, and once the storage pool fills, every NEW
  * checkpoint additionally pays LRU eviction writes of the garbage to
  * disk — the r13 verdict's "query latency depends on what ran before
  * it" mechanism. This helper makes release explicit instead of
  * GC-driven.
  *
  * Two release scopes:
  *   - [[release]]: immediate — for build-scoped checkpoints that are
  *     fully consumed before their function returns (a refresh batch's
  *     delta postings after the segment write, a compaction's folded
  *     live view after the fold commits).
  *   - [[transient_]] + [[releaseTransients]]: query-scoped — a
  *     checkpoint consumed by the RETURNED plan of a query (candidate
  *     frames, inline postings) must outlive the call that created it,
  *     so it registers here and the harness (Bench / Verify / Profile)
  *     drains the registry between queries.
  *   - [[withRequestScope]] / [[newScope]]: REQUEST-scoped — the
  *     serving-process form of the same boundary. A body run inside a
  *     scope has its `transient_`/`register` calls routed to THAT
  *     scope (thread-local), and the scope drains exactly the frames
  *     its own request registered when the body completes — so two
  *     interleaved requests can never release each other's live
  *     frames (the global registry's documented sequential-only
  *     hazard). The streaming serve twins wrap every `foreachBatch`
  *     body in a scope: each micro-batch's bounded query frame is
  *     fully consumed when its sink returns, and draining there keeps
  *     a long-lived serving stream's block residency flat per batch
  *     instead of accumulating one frame per micro-batch until the
  *     stream stops (the r14 verdict's deployment-shape residual).
  *
  * Unpersisting a localCheckpoint'd RDD makes it unrecoverable (the
  * lineage was truncated), so both paths are only for frames whose
  * every consumer has already run — standing serving views go through
  * [[Segments.cachedView]]'s epoch roll instead, which calls
  * [[release]] on the frame it REPLACES, never on the live one.
  */
object Checkpoints {

  /** The checkpoint RDD backing an eagerly-checkpointed frame (the
    * plan is a bare [[LogicalRDD]] leaf after `localCheckpoint()`).
    */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }

  /** Drop a consumed checkpoint's blocks NOW (async — the unpersist
    * message is fire-and-forget). No-op on a non-checkpoint frame or a
    * stopped context (ScaleBench's session-replacement loop clears
    * caches after the old context died).
    */
  def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach { r =>
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
    }

  // --- query-scoped transients ------------------------------------------------

  /** One request's private transient registry — the scope token. A
    * frame registered while this scope is current ([[withScope]]) can
    * be released ONLY by this scope's [[drain]]: a concurrent
    * request's drain cannot touch it.
    */
  final class RequestScope private[Checkpoints] () {
    private[Checkpoints] val frames =
      new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

    /** Release every frame THIS scope registered. `blocking = true`
      * waits for the block-manager removal (spec determinism); the
      * serving path keeps the fire-and-forget default.
      */
    def drain(blocking: Boolean = false): Unit = {
      var r = frames.poll()
      while (r != null) {
        try r.unpersist(blocking) catch { case _: Throwable => () }
        r = frames.poll()
      }
    }
  }

  /** The process-wide default registry (sequential harnesses: Bench /
    * Verify / Profile / ScaleBench drain it between queries).
    */
  private val global = new RequestScope()

  /** The current thread's active scope, if a [[withScope]] body is
    * running on it. Plan CONSTRUCTION (where `transient_` fires) is
    * single-threaded per request, so thread-locality is the right
    * routing key; the Spark jobs a plan later runs on other threads
    * never register anything.
    */
  private val current = new ThreadLocal[RequestScope]()

  def newScope(): RequestScope = new RequestScope()

  /** Run `body` with `scope` as the current thread's registry (restores
    * the previous scope after — scopes nest). Does NOT drain: the
    * caller owns the token and drains when the request's frames are
    * fully consumed.
    */
  def withScope[T](scope: RequestScope)(body: => T): T = {
    val prev = current.get()
    current.set(scope)
    try body finally current.set(prev)
  }

  /** The request-boundary form: run `body` in a fresh scope and drain
    * it on completion — the serving streams wrap each `foreachBatch`
    * body here, so every micro-batch's transient frames (consumed when
    * its sink returns) are released at the batch boundary instead of
    * accumulating until the stream stops.
    */
  def withRequestScope[T](body: => T): T = {
    val scope = newScope()
    try withScope(scope)(body) finally scope.drain()
  }

  /** `df.localCheckpoint()` + registration for boundary release — to
    * the current request scope when one is active, else the global
    * registry.
    */
  def transient_(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    checkpointRdd(out).foreach(scopeFor().frames.add)
    out
  }

  /** Register an ALREADY-checkpointed frame for boundary release — the
    * iterative-loop pattern (DedupClusters): intermediate rounds are
    * released in-loop, but the final round's frame backs the returned
    * plan and must live until the query boundary.
    */
  def register(df: DataFrame): Unit =
    checkpointRdd(df).foreach(scopeFor().frames.add)

  private def scopeFor(): RequestScope =
    Option(current.get()).getOrElse(global)

  /** Drain the GLOBAL registry — called BETWEEN queries by the
    * sequential harnesses (never mid-query: a registered frame may
    * still back the previous query's plan until its last forced run
    * completes). Frames registered under a request scope are not here;
    * their scope's [[RequestScope.drain]] owns them.
    */
  def releaseTransients(): Unit = global.drain()
}
