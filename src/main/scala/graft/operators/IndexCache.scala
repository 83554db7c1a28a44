package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Process-local registry of materialized index paths — standing-index
  * semantics for the driver-facing queries: an index is built once per
  * (kind, source-dir) and every subsequent search reuses it, exactly as
  * a deployed system probes a standing index rather than rebuilding it
  * per query. (Bench medians therefore measure the PROBE cost; the
  * one-off build cost is the first run.)
  *
  * Artifacts are write-once: each lives in a fresh temp dir written by
  * its one build, so its schema can never change. A whole-frame
  * artifact ([[artifact]]) carries the schema recorded at build time,
  * and every read passes it to the reader — a bare
  * `spark.read.parquet` would launch one schema-inference job per read.
  */
private[graft] object IndexCache {
  /** A built artifact; `schema` is null for [[getOrBuild]]'s
    * own-writer artifacts, which record none.
    */
  private final case class Built(path: String, schema: StructType)
  private val built = new ConcurrentHashMap[String, FutureTask[Built]]()

  /** The artifact of (kind, dir), built on first use. The first caller
    * installs a per-key task with `putIfAbsent` and runs it OUTSIDE the
    * map's bin lock, so a build may itself build other keys (a nested
    * `computeIfAbsent` throws "Recursive update" whenever the two keys
    * share a bin); concurrent callers of the same key wait for that one
    * build. A failed build is removed, so the next call retries it.
    */
  private def once(kind: String, dir: String)(build: String => StructType): Built = {
    val key = s"$kind:$dir"
    val mine = new FutureTask[Built](() => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      Built(p, build(p))
    })
    val task = Option(built.putIfAbsent(key, mine)).getOrElse { mine.run(); mine }
    try task.get()
    catch {
      case e: ExecutionException =>
        built.remove(key, task)
        throw e.getCause
    }
  }

  /** The path of (kind, dir) for artifacts with their own writer or
    * sub-path layout; `build` writes under the given path.
    */
  def getOrBuild(kind: String, dir: String)(build: String => Unit): String =
    once(kind, dir) { p => build(p); null }.path

  /** The whole-frame artifact of (kind, dir): `frame` is written once,
    * then read back once inside the same build to record its schema
    * (the relation today's inferred read produces). Every call returns
    * `s.read.schema(recorded).parquet(path)` — a fresh file listing and
    * no Spark job.
    */
  def artifact(s: SparkSession, kind: String, dir: String)(frame: => DataFrame): DataFrame = {
    val b = once(kind, dir) { p =>
      frame.write.mode("overwrite").parquet(p)
      s.read.parquet(p).schema
    }
    s.read.schema(b.schema).parquet(b.path)
  }
}
