package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generation. Everything the library receives is drawn
  * here from the `--seed` alone, with a plain seeded RNG (no Spark, no
  * clock), so the same seed yields byte-identical inputs:
  * [[Gen.canonical]] renders them to the bytes the spec compares.
  */
object Gen {
  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Emb(id: Long, vec: Array[Float], label: Int)
  /** One `GraftClient` request. `filterLang` is the metadata filter
    * (`lang = …`), `asOf` a pin on the refreshed layout's base commit.
    */
  final case class Request(kind: String, mode: String, text: String,
                           limit: Int, filterLang: Option[String],
                           asOf: Option[Int])
  final case class Golden(queryId: Long, query: String, answer: String)
  /** One corpus-change batch: new docs, new versions of live docs, and
    * ids of live docs to delete.
    */
  final case class Change(added: Seq[Doc], changed: Seq[Doc], removed: Seq[Long])

  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  val Sources: Int = 20
  val Labels: Int = 10
  val EmbDim: Int = 64
  val Modes: IndexedSeq[String] = IndexedSeq("exact", "pruned", "refreshed", "quantized")
  /** English function words (the quality gate's stop list) mixed into
    * every text so well-formed docs pass it.
    */
  private val Stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is")

  /** Fixed 400-word vocabulary (two syllables each), Zipf-ranked by
    * position: the seed picks draws, never the vocabulary itself.
    */
  val Vocab: IndexedSeq[String] = {
    val c = "bdfgklmnprstvz"; val v = "aeiou"
    val syl = for (x <- c; y <- v) yield s"$x$y"
    (for (i <- 0 until 400) yield syl(i % syl.size) + syl((i * 7 + i / syl.size) % syl.size) +
      (if (i >= syl.size) (i / syl.size).toString else "")).distinct
  }

  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.05))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    Vocab(math.min(Vocab.size - 1, if (i >= 0) i else -i - 1))
  }

  def text(r: SplittableRandom, minTok: Int, maxTok: Int): String =
    Seq.fill(minTok + r.nextInt(maxTok - minTok + 1)) {
      if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.size)) else zipfWord(r)
    }.mkString(" ")

  def doc(r: SplittableRandom, id: Long): Doc =
    Doc(id, text(r, 12, 60), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(Sources)}")

  /** Corpus: `nDocs` documents with ids 0 until nDocs, and embeddings
    * for the first `nEmb` of them, clustered around one fixed center per
    * label (so label-match relevance is meaningful).
    */
  def corpus(seed: Long, nDocs: Int, nEmb: Int): (IndexedSeq[Doc], IndexedSeq[Emb]) = {
    val r = new SplittableRandom(seed)
    val docs = (0 until nDocs).map(i => doc(r, i.toLong))
    val centers = Array.fill(Labels, EmbDim)(r.nextDouble() * 2 - 1)
    val embs = (0 until nEmb).map { i =>
      val l = r.nextInt(Labels)
      val v = Array.tabulate(EmbDim)(d => centers(l)(d) + 0.9 * (r.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Emb(i.toLong, v.map(x => (x / n).toFloat), l)
    }
    (docs, embs)
  }

  /** The serving request stream over `modes`: blocks of 40 with a fixed
    * composition — 16 keyword, 12 vector, 12 hybrid, spread evenly over
    * the modes; 6 filtered; and, when a refreshed-family mode is present,
    * 2 of its unfiltered requests pinned — shuffled by the seed. A fixed
    * composition per block keeps the mix, and so the latency
    * distribution, the same for every seed; the seed moves terms,
    * filters, pins and order.
    */
  def requests(seed: Long, blocks: Int, modes: Seq[String] = Modes): IndexedSeq[Request] = {
    val r = new SplittableRandom(seed ^ 0x5e7e5e7eL)
    val perMode = Seq("keyword" -> 16, "vector" -> 12, "hybrid" -> 12)
    require(perMode.forall(_._2 % modes.size == 0), s"40-request blocks cannot spread over $modes")
    (0 until blocks).flatMap { _ =>
      val base = perMode.flatMap { case (k, n) => (0 until n).map(i => (k, modes(i % modes.size))) }
      val shuffled = shuffle(r, base.toIndexedSeq)
      val pinnable = shuffled.indices.filter(i => Set("refreshed", "quantized")(shuffled(i)._2))
      val pinned = shuffle(r, pinnable).take(2).toSet
      val filtered = shuffle(r, shuffled.indices.filterNot(pinned)).take(6).toSet
      shuffled.indices.map { i =>
        val (k, m) = shuffled(i)
        val terms = Seq.fill(2 + r.nextInt(2))(zipfWord(r)).mkString(" ")
        Request(k, m, terms, 5 + 5 * r.nextInt(2),
          if (filtered(i)) Some(Langs(r.nextInt(Langs.size))) else None,
          if (pinned(i)) Some(0) else None)
      }
    }
  }

  /** Golden set in the `data/golden` JSON-lines schema: each answer is a
    * two-word phrase taken from a random document, the query that
    * phrase plus one more word of the same document.
    */
  def golden(seed: Long, docs: IndexedSeq[Doc], n: Int): IndexedSeq[Golden] = {
    val r = new SplittableRandom(seed ^ 0x901de17L)
    (0 until n).map { i =>
      val toks = docs(r.nextInt(docs.size)).text.split(" ")
      val p = r.nextInt(toks.length - 1)
      val answer = s"${toks(p)} ${toks(p + 1)}"
      Golden(1000L + i, s"$answer ${toks(r.nextInt(toks.length))}", answer)
    }
  }

  /** Corpus-change batches over a live id set: ≈60 % added (10 % of
    * those near-duplicates of a live doc, 3 % copies of a benchmark
    * text, 5 % too short to pass the quality gate), 25 % changed, 15 %
    * removed. Added ids continue from `nextId`.
    */
  def changes(seed: Long, live: IndexedSeq[Doc], bench: IndexedSeq[Doc],
              nextId: Long, batches: Int, size: Int): IndexedSeq[Change] = {
    val r = new SplittableRandom(seed ^ 0xc4a46e5L)
    val state = scala.collection.mutable.LinkedHashMap(live.map(d => d.id -> d): _*)
    var next = nextId
    (0 until batches).map { _ =>
      val nAdd = size * 60 / 100; val nChg = size * 25 / 100; val nRem = size - nAdd - nChg
      val ids = shuffle(r, state.keys.toIndexedSeq)
      val removed = ids.take(nRem)
      val changed = ids.slice(nRem, nRem + nChg).map(id => doc(r, id).copy(id = id))
      val added = (0 until nAdd).map { j =>
        val id = next; next += 1
        val u = r.nextInt(100)
        if (u < 10) {
          // near-duplicate: a live doc's text with its last word swapped
          val src = state(ids(nRem + nChg + j)).text.split(" ")
          src(src.length - 1) = zipfWord(r)
          Doc(id, src.mkString(" "), Langs(r.nextInt(Langs.size)), s"src${r.nextInt(Sources)}")
        } else if (u < 13) bench(r.nextInt(bench.size)).copy(id = id)
        else if (u < 18) Doc(id, text(r, 2, 5), "en", s"src${r.nextInt(Sources)}")
        else doc(r, id)
      }
      removed.foreach(state.remove)
      (changed ++ added).foreach(d => state(d.id) = d)
      Change(added, changed, removed)
    }
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Canonical byte rendering of generated inputs (for the determinism
    * spec and the per-seed input digest).
    */
  def canonical(xs: Iterable[Any]): Array[Byte] = xs.iterator.map {
    case e: Emb => s"E${e.id}|${e.label}|${e.vec.map(java.lang.Float.floatToIntBits).mkString(",")}"
    case other => other.toString
  }.mkString("\n").getBytes("UTF-8")

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
}
