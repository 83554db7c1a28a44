/** Suite-order-invariance check (r13 verdict task #1's done criterion):
  * `runMain OrderCheck [query...]` — reads the committed
  * `BENCH_full.json`, re-times the named queries (default: the 8
  * slowest rows — the suite tail where state inflation showed) in THIS
  * fresh JVM (warm-up + median of 3, the graft.Profile convention, transients
  * drained between queries), and prints per-row
  * `in-suite median / fresh median`. PASS = every ratio ≤ 1.3: a row
  * that is >1.3× slower inside the 195-query suite than in a fresh JVM
  * means session state, not plan cost, set its benched number.
  *
  * Guards + artifacts (r15): the artifact's recorded `sf` dir must
  * match `SPARK_GRAFT_SF_DIR` — re-timing against a different corpus
  * silently compares timings across datasets and can falsely PASS or
  * FAIL the gate, so a mismatch aborts. On completion the verdict is
  * written to `ORDERCHECK.json` (status, per-row ratios, and the
  * validated artifact's total so a reader can tell WHICH bench run the
  * check covered), and the validated `BENCH_full.json` is stamped in
  * place with an `"ordercheck"` field — the bench ritual's record that
  * the committed numbers passed the invariance gate.
  */
object OrderCheck {
  private val Threshold = 1.3

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artifactPath = java.nio.file.Paths.get("BENCH_full.json")
    val raw = java.nio.file.Files.readString(artifactPath)
    // the artifact's corpus must be the one being re-timed
    val artifactSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(raw)
      .map(_.group(1)).getOrElse(sys.error("no sf field in BENCH_full.json"))
    if (artifactSf != dir)
      sys.error(s"BENCH_full.json was recorded at sf=$artifactSf but " +
        s"SPARK_GRAFT_SF_DIR=$dir — refusing to compare timings across corpora")
    val artifactTotal = """"metric":"total","value":(-?[0-9.]+)""".r
      .findFirstMatchIn(raw).map(_.group(1)).getOrElse("-1")
    // minimal extraction of the "queries" map (flat {"name":sec,...})
    val qmap = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(raw)
      .map(_.group(1)).getOrElse(sys.error("no queries map in BENCH_full.json"))
    val suite: Map[String, Double] =
      """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(qmap)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val names =
      if (args.nonEmpty) args.toSeq
      else suite.filter(_._2 > 0).toSeq.sortBy(-_._2).take(8).map(_._1)
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    var fail = 0
    val rows = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      graft.BenchForce.force(fn(spark, dir))
      val fresh = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.BenchForce.force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
      graft.operators.Checkpoints.releaseTransients()
      val rec = suite.getOrElse(n, -1.0)
      val ratio = rec / math.max(fresh, 1e-3)
      val ok = ratio <= Threshold
      if (!ok) fail += 1
      println(f"ORDERCHECK $n suite=$rec%.2f fresh=$fresh%.2f ratio=$ratio%.2f ${if (ok) "OK" else "INFLATED"}")
      (n, rec, fresh, ratio)
    }
    val status = if (fail == 0) "PASS" else "FAIL"
    println(if (fail == 0) s"ORDERCHECK PASS (${names.size} rows, all <= ${Threshold}x)"
            else s"ORDERCHECK FAIL ($fail of ${names.size} rows inflated)")
    def f2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val rowJson = rows.map { case (n, rec, fresh, ratio) =>
      s"""{"q":"$n","suite":${f2(rec)},"fresh":${f2(fresh)},"ratio":${f2(ratio)}}"""
    }.mkString("[", ",", "]")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("ORDERCHECK.json"),
        s"""{"status":"$status","threshold":$Threshold,"sf":"$dir","validated_total":$artifactTotal,"rows":$rowJson}""" + "\n")
      // stamp the artifact this run validated (idempotent: replace an
      // existing stamp, else insert ahead of the errors map)
      val cur = java.nio.file.Files.readString(artifactPath)
      val stamped =
        if (cur.contains("\"ordercheck\":"))
          cur.replaceAll(""""ordercheck":"[A-Z_]*"""", s""""ordercheck":"$status"""")
        else cur.replaceFirst(""""errors":""", s""""ordercheck":"$status","errors":""")
      java.nio.file.Files.writeString(artifactPath, stamped)
    } catch { case e: Throwable =>
      System.err.println(s"[ordercheck] could not write artifacts: $e")
    }
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
