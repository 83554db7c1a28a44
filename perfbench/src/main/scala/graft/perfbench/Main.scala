package graft.perfbench

import java.lang.management.ManagementFactory

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one run of one workload.
  *
  * {{{
  * Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *      --root <scratch dir> --cores C
  * }}}
  *
  * Prints a stamp line (commit, cpus, seed, versions, op count, tail,
  * result digest) and, last, the result line `{"correct", "attempted",
  * "failed", "metrics"}`: the end-to-end metrics untraced, the per-layer
  * metrics traced. A traced run first measures `seconds / 4` untraced,
  * then `seconds` traced, then the workload's traced extras; the
  * median-latency ratio of the two timed stretches is the tracing
  * overhead. Spans are written to `--spans` when given.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly: a stream or client thread left behind by a failed
    // run must not keep the JVM alive
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = a("root")
    val cores = a.get("cores").map(_.toInt).getOrElse(4)
    // the golden-set path is read once, when GoldenEval initializes —
    // point it at the seeded golden file before anything touches it
    System.setProperty("graft.golden.path", s"$root/data/golden.jsonl")

    val w: Workload = workload match {
      case "serve" => new Serve
      case "ingest" => new Ingest
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("graft-perfbench")
        .config("spark.local.dir", s"$root/local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new EngineListener
    val streams = new StreamListener
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
    val c = new Ctx(spark, root, seed)

    try {
      w.setup(c)
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val secNs = (seconds * 1e9).toLong

      val untracedP50 = if (trace) {
        w.run(c, System.nanoTime() + secNs / 4)
        val p = Trace.median(w.outcome(c).opLatMs)
        w.resetSamples()
        c.tracer = new Tracer(true)
        engine.on = true; streams.on = true
        Some(p)
      } else None
      w.run(c, System.nanoTime() + secNs)
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      engine.on = false; streams.on = false
      if (trace) { c.censusOn = false; w.traceExtra(c) }
      val heapMb = liveHeapMb()
      val tf = System.nanoTime()
      w.finish(c)
      val o = w.outcome(c)
      System.err.println(f"perfbench: setup ${setupS}%.1fs, finish ${(System.nanoTime() - tf) / 1e9}%.1fs")

      val attempted = c.attempted.get
      val failed = c.failed.get
      val finite = o.opLatMs.filter(x => !x.isInfinite)
      val p50Ms = Trace.median(o.opLatMs)
      val rate = if (o.workSec > 0) o.work / o.workSec else 0.0
      val metrics =
        if (!trace)
          Seq(("setup_s", setupS, "s"),
            ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"),
            ("heap_live_mb", heapMb, "MB"),
            ("p50_ms", p50Ms, "ms"),
            ("work_per_s", rate, "1/s"),
            ("bytes_per_doc", o.layoutBytes.toDouble / o.liveDocs, "B"))
        else Layers.derive(c, w, o, engine, streams, untracedP50.get)
      a.get("spans").foreach(p => writeSpans(p, c.tracer.spans))
      c.failures.toArray.take(20).foreach(f => System.err.println(s"FAILED $f"))
      println(Json.render(scala.collection.immutable.ListMap(
        "stamp" -> scala.collection.immutable.ListMap(
          "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
          "dirty" -> sys.props.getOrElse("perfbench.dirty", "unknown"),
          "cpus" -> cores, "host_cpus" -> Runtime.getRuntime.availableProcessors(),
          "seed" -> seed, "workload" -> workload, "traced" -> trace,
          "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
          "ops" -> o.opLatMs.size, "ops_finite" -> finite.size,
          "tail_pct" -> Trace.tail(o.opLatMs)._1,
          "tail_ms" -> Some(Trace.tail(o.opLatMs)._2).filterNot(_.isInfinite).getOrElse("inf"),
          "result_digest" -> o.digest))))
      println(Result(failed == 0, attempted, failed, metrics).line)
    } finally spark.stop()
  }

  /** Heap still reachable after a full collection — so caching that
    * trades memory for speed shows.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val self = Trace.selfTimes(spans)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(Json.render(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id))))
    } finally w.close()
  }
}
