package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

/** Process-local registry of materialized index paths — standing-index
  * semantics for the driver-facing queries: an index is built once per
  * (kind, source-dir) and every subsequent search reuses it, exactly as
  * a deployed system probes a standing index rather than rebuilding it
  * per query. (Bench medians therefore measure the PROBE cost; the
  * one-off build cost is the first run.)
  */
private[graft] object IndexCache {
  private val paths = new ConcurrentHashMap[String, FutureTask[String]]()

  /** The path of (kind, dir), built on first use. The first caller
    * installs a per-key task with `putIfAbsent` and runs it OUTSIDE the
    * map's bin lock, so a build may itself call `getOrBuild` for other
    * keys (a nested `computeIfAbsent` throws "Recursive update" whenever
    * the two keys share a bin); concurrent callers of the same key wait
    * for that one build. A failed build is removed, so the next call
    * retries it.
    */
  def getOrBuild(kind: String, dir: String)(build: String => Unit): String = {
    val key = s"$kind:$dir"
    val mine = new FutureTask[String](() => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      build(p)
      p
    })
    val task = Option(paths.putIfAbsent(key, mine)).getOrElse { mine.run(); mine }
    try task.get()
    catch {
      case e: ExecutionException =>
        paths.remove(key, task)
        throw e.getCause
    }
  }
}
