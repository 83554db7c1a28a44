package graft.perfbench

import graft.GraftClient
import graft.operators.CorpusOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `serve`: two closed-loop clients issue seeded `GraftClient` requests
  * (40 % keyword, 30 % vector, 30 % hybrid, spread over the `exact` and
  * `pruned` index modes; 15 % filtered) against a 2000-doc / 1000-vector
  * corpus whose standing artifacts are warm. Every response is checked:
  * at most `limit` rows, scores descending, filter honoured, ids inside
  * the mode's (or the pin's) corpus universe.
  *
  * The `refreshed` / `quantized` modes and as-of pins cost ~30 s of
  * artifact builds per process, more than a timed run can carry, so a
  * traced run covers them after its timed phase, over prebuilt
  * artifacts: one request per route over all four modes, then one
  * retrieval-evaluation pass ([[EvalPass]]).
  */
final class Serve extends Workload {
  val NDocs = 2000
  val NEmb = 1000
  val Clients = 2
  val TimedModes: Seq[String] = Seq("exact", "pruned")
  /** Untimed closed-loop requests before timing (a count, not a
    * duration, so set-up time scales with machine speed).
    */
  val WarmRequests = 40

  private var docs: Map[Long, Gen.Doc] = Map.empty
  private var clients: Map[String, GraftClient] = Map.empty
  private var stream: IndexedSeq[Gen.Request] = IndexedSeq.empty
  private var digest = ""
  private var corpus: (IndexedSeq[Gen.Doc], IndexedSeq[Gen.Emb]) = _
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val next = new java.util.concurrent.atomic.AtomicInteger(0)
  private var completed = 0
  private var lastEnd = 0L
  private var windowSec = 0.0

  def setup(c: Ctx): Unit = {
    val (ds, es) = Gen.corpus(c.seed, NDocs, NEmb)
    docs = ds.map(d => d.id -> d).toMap
    Data.writeCorpus(c, ds, es)
    clients = Gen.Modes.map(m =>
      m -> new GraftClient(c.spark, c.dataDir, embedDim = Gen.EmbDim, indexMode = m)).toMap
    // one request per timed route builds the standing artifacts; their
    // responses are the run's result digest. Then the clients run
    // untimed until the JIT has settled: without this, request latency
    // still falls by a fifth across the timed window.
    stream = Gen.requests(c.seed, 100, TimedModes)
    digest = Gen.sha256(onePerRoute(stream).map(r =>
      c.attempt(s"warm $r")(serveOne(c, r, -1L)).map(c.render).getOrElse(""))
      .mkString("\n#\n").getBytes("UTF-8"))
    run(c, Long.MaxValue, WarmRequests)
    resetSamples()
    corpus = (ds, es)
  }

  private def onePerRoute(rs: Seq[Gen.Request]): Seq[Gen.Request] =
    rs.groupBy(route).values.map(_.head).toSeq.sortBy(route)

  override def traceExtra(c: Ctx): Unit = {
    val traced = c.tracer
    c.tracer = new Tracer(false)
    val evalPass = new EvalPass(c, corpus._1, corpus._2)
    evalPass.prepare()
    c.tracer = traced
    onePerRoute(Gen.requests(c.seed, 1)).zipWithIndex.foreach { case (r, i) =>
      c.attempt(s"route $r")(serveOne(c, r, 1000000L + i))
    }
    evalPass.run()
  }

  def resetSamples(): Unit = samples.synchronized {
    samples.clear(); completed = 0; windowSec = 0.0
  }

  def run(c: Ctx, deadlineNs: Long): Unit = run(c, deadlineNs, Int.MaxValue)

  private def run(c: Ctx, deadlineNs: Long, requests: Int): Unit = {
    val t0 = System.nanoTime()
    lastEnd = t0
    val stop = next.get + requests.toLong
    val threads = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadlineNs && next.get < stop) {
          val i = next.getAndIncrement()
          val r = stream(i % stream.size)
          val s = System.nanoTime()
          val ok = c.attempt(s"serve $r")(serveOne(c, r, i.toLong)).isDefined
          val end = System.nanoTime()
          // a failed request counts as missing every latency limit
          val ms = if (ok) (end - s) / 1e6 else Double.PositiveInfinity
          samples.synchronized {
            samples += ms
            if (ok && end <= deadlineNs) { completed += 1; lastEnd = math.max(lastEnd, end) }
          }
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    // throughput: requests completed inside the window over the time to
    // the last of them — in-flight requests at the deadline neither
    // stretch the window nor round the rate to whole requests
    windowSec += (lastEnd - t0) / 1e9
  }

  /** Layer span name of a request: its (kind, mode) route, or the pinned
    * / filtered buckets.
    */
  private def route(r: Gen.Request): String =
    if (r.asOf.nonEmpty) "GraftClient.asof"
    else if (r.filterLang.nonEmpty) "GraftClient.filtered"
    else s"GraftClient.${r.kind}.${r.mode}"

  private def serveOne(c: Ctx, r: Gen.Request, req: Long): Array[Row] =
    c.tracer.span(route(r), req) {
      val cl = clients(r.mode)
      val filter = r.filterLang.map(l => col("lang") === l)
      val rows = c.frame(req) {
        r.kind match {
          case "keyword" => cl.keywordSearch(r.text, r.limit,
            filter = filter.getOrElse(org.apache.spark.sql.functions.lit(true)), asOf = r.asOf)
          case "vector" => cl.vectorSearch(r.text, r.limit,
            filter = filter.getOrElse(org.apache.spark.sql.functions.lit(true)), asOf = r.asOf)
          case "hybrid" => cl.hybridSearch(r.text, limit = r.limit, filter = filter, asOf = r.asOf)
        }
      }
      checkResponse(c, r, rows)
      rows
    }

  private def checkResponse(c: Ctx, r: Gen.Request, rows: Array[Row]): Unit = {
    c.check(rows.length <= r.limit, s"$r returned ${rows.length} rows")
    if (rows.nonEmpty) {
      val names = rows.head.schema.fieldNames
      val idCol = Seq("doc_id", "vec_id").find(names.contains)
        .getOrElse(throw new IllegalStateException(s"no id column in ${names.mkString(",")}"))
      val scores = rows.map(x => x.getAs[Any]("score").toString.toDouble)
      c.check(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), s"$r scores not descending")
      val ids = rows.map(x => x.getAs[Long](idCol))
      val universe: Long => Boolean =
        if (r.asOf.nonEmpty) id => id % CorpusOps.DiffAddStride != 5 // the pinned base snapshot
        else if (Set("refreshed", "quantized")(r.mode)) id => id % CorpusOps.DiffRemoveStride != 3
        else id => docs.contains(id)
      ids.foreach { id =>
        c.check(docs.contains(id) && universe(id), s"$r returned doc $id outside its universe")
        r.filterLang.foreach(l => c.check(docs(id).lang == l, s"$r returned doc $id violating lang=$l"))
      }
    }
  }

  def outcome(c: Ctx): Outcome = {
    val lat = samples.synchronized(samples.toList)
    Outcome(lat, completed.toDouble, windowSec,
      Data.graftArtifactBytes(c), NDocs.toLong, Nil, digest)
  }
}

/** Input files shared by the workloads. */
object Data {
  def writeCorpus(c: Ctx, docs: Seq[Gen.Doc], embs: Seq[Gen.Emb]): Unit = {
    val s = c.spark
    import s.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"${c.dataDir}/documents.parquet")
    embs.map(e => (e.id, e.vec, e.label)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"${c.dataDir}/embeddings.parquet")
  }

  /** Bytes of every standing artifact the library built in this run
    * (its artifact cache lives under the run's own `java.io.tmpdir`).
    */
  def graftArtifactBytes(c: Ctx): Long =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles)
      .getOrElse(Array.empty).filter(_.getName.startsWith("graft_"))
      .map(f => Ctx.bytes(f.getPath)).sum

  def df(c: Ctx, docs: Seq[Gen.Doc]): DataFrame = {
    val s = c.spark
    import s.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
  }
}
