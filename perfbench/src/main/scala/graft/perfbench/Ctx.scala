package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a workload reports: its end-to-end samples and its own
  * per-layer figures. `opLatMs` are the latencies of the workload's unit
  * of work (serve: one request; ingest: one batch, submission until the
  * first read that includes it returns), `work` the units absorbed in
  * `workSec` seconds (requests, change records), `layoutBytes` /
  * `liveDocs` the space of its indexes.
  */
final case class Outcome(opLatMs: Seq[Double], work: Double, workSec: Double,
                         layoutBytes: Long, liveDocs: Long,
                         layers: Seq[(String, Double, String)], digest: String)

trait Workload {
  /** Inputs, standing artifacts and warm-up: everything before timing. */
  def setup(c: Ctx): Unit
  /** The timed phase: run until `deadlineNs`, recording into `c`. */
  def run(c: Ctx, deadlineNs: Long): Unit
  /** Untimed checks after the timed phase (failures count). */
  def finish(c: Ctx): Unit = ()
  /** Extra traced work after a traced timed phase (engine listeners off). */
  def traceExtra(c: Ctx): Unit = ()
  def outcome(c: Ctx): Outcome
  /** Reset the timed-phase samples (the traced run measures twice). */
  def resetSamples(): Unit
}

/** Run-wide state: session, tracer, census and the op counters. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long) {
  var tracer = new Tracer(false)
  val census = new Census
  @volatile var censusOn = true
  val attempted, failed = new AtomicLong
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The generated inputs, relative to the run's working directory (the
    * run root). Relative so that every run hands the library the same
    * source-dir string: its artifact cache keys on it, and a key that
    * varies per run (an absolute run-root path) made the cache's nested
    * `computeIfAbsent` fail with "Recursive update" in some runs and not
    * others (see the benchmark README).
    */
  def dataDir: String = "data"

  /** One forced frame, split into its three phases when traced: build
    * (the library call returning the DataFrame), plan (Catalyst through
    * the physical plan) and exec (running it and collecting its rows,
    * which the workloads check). Untraced, only build and collect run.
    */
  def frame(req: Long)(build: => DataFrame): Array[Row] =
    if (!tracer.enabled) build.collect()
    else {
      val df = tracer.span("phase.build", req)(build)
      tracer.span("phase.plan", req)(df.queryExecution.executedPlan)
      val rows = tracer.span("phase.exec", req)(df.collect())
      if (censusOn) census.add(df.queryExecution.executedPlan)
      rows
    }

  /** Count one attempted operation; a throw or a failed check fails it. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = { failed.incrementAndGet(); failures.add(msg) }

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(s"output check failed: $msg")

  /** Rows rendered canonically (for digests and comparisons). */
  def render(rows: Array[Row]): String = rows.map(_.toSeq.map {
    case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")).mkString("\n")
}

object Ctx {
  /** Total size of the files under `path`. */
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => bytes(x.getPath)).sum).getOrElse(0L)
  }
}
