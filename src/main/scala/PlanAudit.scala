/** Dev tool: dump per-query physical-plan characteristics to PLANS.md. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (sf0.01, post-AQE final plans)\n\n")
    sb.append("Generated by `PlanAudit` after executing every `SparkEntry.queries` entry.\n")
    sb.append("BHJ=BroadcastHashJoin SMJ=SortMergeJoin BNLJ=BroadcastNestedLoopJoin\n")
    sb.append("TOP=TakeOrderedAndProject EX=Exchange WSCG=WholeStageCodegen stages PF=pushed filters\n")
    sb.append("Counts are over the outer AQE FINAL plan only (every `== Initial Plan ==`\n")
    sb.append("section dropped, adaptive subqueries' included); EXfull is the legacy whole-dump count\n")
    sb.append("(final + AQE initial plan, what r1-r3 PLANS.md reported as EX).\n\n")
    sb.append("| query | BHJ | SMJ | BNLJ | TOP | EX | WSCG | PF | EXfull |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.collect()
        val full = df.queryExecution.executedPlan.toString
        val p = graft.Profile.finalPlan(full)
        def c(pat: String) = p.linesIterator.count(_.contains(pat))
        def cFull(pat: String) = full.linesIterator.count(_.contains(pat))
        val wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1).toInt).toSet.size
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(p).length
        sb.append(s"| $name | ${c("BroadcastHashJoin")} | ${c("SortMergeJoin")} | ${c("BroadcastNestedLoopJoin")} | ${c("TakeOrderedAndProject")} | ${c("Exchange")} | $wscg | $pushed | ${cFull("Exchange")} |\n")
      } catch { case e: Throwable =>
        sb.append(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | | | |\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("WROTE PLANS.md")
    spark.stop()
  }
}
