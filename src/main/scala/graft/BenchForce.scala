package graft

/** The ONLY sanctioned way to force a DataFrame for timing.
  *
  * `df.count()` lets Catalyst prune every output column and eliminate the
  * final sort — a projection-only query then measures a zero-column
  * footer scan that is flat at any scale (measured: `text_repetition`
  * reads 0.25 s under count() vs its real 2.8 s). `toRdd.count()` keeps
  * the query's own plan intact — every output column and the final
  * ordering are actually computed — without collecting to the driver.
  *
  * Shared by Bench, ScaleBench, and the dev harnesses (Profile,
  * OrderCheck, StateProbe) so no timing path can quietly measure a
  * pruned plan again.
  */
object BenchForce {
  def force(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }
}
