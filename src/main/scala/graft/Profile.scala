package graft

/** Dev tool: profile named [[SparkEntry]] queries at an SF dir —
  * `runMain graft.Profile <sfDir> <query>...`. Per query: one warm-up,
  * then the median and min of 3 [[BenchForce.force]] runs, printed on
  * one line with the operator census of the AQE-final plan; the
  * formatted plan plus the AQE-final plan land in
  * `plans/profile/<query>.txt`. The quick before/after harness for
  * serving-latency and plan work; not part of the library API.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <query>...")
    val dir = args(0)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => } // JVM warm-up
    args.drop(1).foreach { q =>
      val fn = SparkEntry.queries(q)
      BenchForce.force(fn(spark, dir))
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        BenchForce.force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val df = fn(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      BenchForce.force(df) // finalize AQE on this queryExecution
      val full = df.queryExecution.executedPlan.toString
      // the census counts the AQE FINAL plan only (the PlanAudit rule)
      val ini = full.indexOf("== Initial Plan ==")
      val fin = if (ini >= 0) full.substring(0, ini) else full
      def c(pat: String) = fin.linesIterator.count(_.contains(pat))
      println(f"PROFILE $q median=${ts(1)}%.2f min=${ts(0)}%.2f " +
        s"ex=${c("Exchange")} reused=${c("ReusedExchange")} " +
        s"bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
        s"bnlj=${c("BroadcastNestedLoopJoin")} scans=${c("Scan ")}")
      val out = java.nio.file.Paths.get(s"plans/profile/$q.txt")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out,
        formatted + "\n\n== AQE FINAL EXECUTED PLAN ==\n\n" + full)
      operators.Checkpoints.releaseTransients() // query boundary
    }
    spark.stop()
  }
}
