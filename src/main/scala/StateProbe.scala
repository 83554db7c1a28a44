/** Dev tool: session-state accumulation probe — `runMain StateProbe
  * <sfDir> <query>...`. Runs the named SparkEntry queries IN ORDER in
  * one JVM (warm-up + median of 3 each, the graft.Profile convention) and
  * after each prints block-manager residency (persistent-RDD count,
  * block-manager used memory, heap in use) so latency growth can be
  * correlated with pinned state. `-Dgraft.probe.norelease` disables
  * the per-query-boundary [[graft.operators.Checkpoints]] drain (the
  * r13-era behavior) for A/B runs. The r13 verdict's reproduction
  * protocol for "query latency depends on what ran before it".
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val release = !sys.props.contains("graft.probe.norelease")
    val spark = graft.GraftSession.local(32)
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    def residency(): String = {
      val n = sc.getPersistentRDDs.size
      val mem = org.apache.spark.SparkEnv.get.blockManager.master.getMemoryStatus
        .values.map { case (max, rem) => max - rem }.sum / (1 << 20)
      val rt = Runtime.getRuntime
      val heap = (rt.totalMemory - rt.freeMemory) / (1 << 20)
      f"rdds=$n%d bmUsedMB=$mem%d heapMB=$heap%d"
    }
    println(s"STATEPROBE start release=$release ${residency()}")
    args.drop(1).foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      graft.BenchForce.force(fn(spark, dir))
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.BenchForce.force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      if (release) graft.operators.Checkpoints.releaseTransients()
      println(f"STATEPROBE $n median=${ts(1)}%.2f min=${ts(0)}%.2f ${residency()}")
    }
    spark.stop()
  }
}
