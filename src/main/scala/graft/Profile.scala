package graft

/** Dev tool: profile named [[SparkEntry]] queries at an SF dir —
  * `runMain graft.Profile <sfDir> <query>...`. Per query: one warm-up,
  * then the median and min of 3 [[BenchForce.force]] runs, printed on
  * one line with the operator census of the AQE-final plan; the
  * formatted plan plus the AQE-final plan land in
  * `plans/profile/<query>.txt`, and the query's oracle SQL, if it has
  * one, in `plans/profile/<query>.oracle.sql` for local DuckDB diffing. The
  * quick before/after harness for serving-latency and plan work; not
  * part of the library API.
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
      def c(pat: String) = finalPlan(full).linesIterator.count(_.contains(pat))
      println(f"PROFILE $q median=${ts(1)}%.2f min=${ts(0)}%.2f " +
        s"ex=${c("Exchange")} reused=${c("ReusedExchange")} " +
        s"bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
        s"bnlj=${c("BroadcastNestedLoopJoin")} scans=${c("Scan ")}")
      val out = java.nio.file.Paths.get(s"plans/profile/$q.txt")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out,
        formatted + "\n\n== AQE FINAL EXECUTED PLAN ==\n\n" + full)
      SparkEntry.oracleSql.get(q).foreach(sql =>
        java.nio.file.Files.writeString(out.resolveSibling(s"$q.oracle.sql"), sql))
      operators.Checkpoints.releaseTransients() // query boundary
    }
    spark.stop()
  }

  /** The plan census's view of an executed plan's string (shared with
    * `PlanAudit`): the outer AQE-final plan, every `== Initial Plan ==`
    * section dropped. A section runs from its header to the next line
    * indented less than the header's text, so an adaptive subquery's
    * initial plan nested inside the final plan is dropped too, and the
    * outer final plan's lines after it are kept.
    */
  def finalPlan(executedPlan: String): String = {
    var cut = Int.MaxValue // text column of the section being dropped
    executedPlan.linesIterator.filter { l =>
      val at = l.indexWhere(ch => !" :+-".contains(ch))
      if (at < 0 || at >= cut) false
      else {
        cut = if (l.startsWith("== Initial Plan ==", at)) at else Int.MaxValue
        cut == Int.MaxValue
      }
    }.mkString("\n")
  }
}
