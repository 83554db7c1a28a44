package graft

import graft.operators.IndexCache
import org.apache.spark.SpecJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IndexCacheSpec extends SparkSpec {

  private def rmdirs(paths: Iterable[String]): Unit =
    paths.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  test("a build may nest getOrBuild for other keys; each key builds exactly once") {
    // one chain of 300 nested builds: every key's build runs inside its
    // parent's. With the builds under the map's bin locks, any two keys
    // of the chain sharing a bin threw "Recursive update".
    val n = 300
    val builds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def chain(i: Int): String =
      IndexCache.getOrBuild("spec_nested", s"dir$i") { _ =>
        builds.merge(s"dir$i", 1, (a: Integer, b: Integer) => a + b)
        if (i + 1 < n) chain(i + 1)
      }
    val first = (0 until n).map(i => chain(i))
    assert(builds.size == n)
    assert((0 until n).forall(i => builds.get(s"dir$i") == 1))
    // every later call is a hit on the same path
    assert((0 until n).map(i => chain(i)) == first)
    assert((0 until n).forall(i => builds.get(s"dir$i") == 1))
    rmdirs(first)
  }

  test("a failed build is not cached: the next call builds again") {
    var attempts = 0
    val boom = intercept[IllegalStateException] {
      IndexCache.getOrBuild("spec_failing", "dir") { _ =>
        attempts += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    val p = IndexCache.getOrBuild("spec_failing", "dir")(_ => attempts += 1)
    assert(attempts == 2)
    assert(IndexCache.getOrBuild("spec_failing", "dir")(_ => attempts += 1) == p)
    assert(attempts == 2)
    rmdirs(Seq(p))
  }

  /** The directory an artifact frame reads. */
  private def dirOf(df: DataFrame): String =
    new java.io.File(df.inputFiles.head).getParent

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  test("an artifact has exactly the schema and rows of the inferred read of its files") {
    // non-nullable, nested and array columns: the inferred read widens
    // nullability, and the recorded schema must be that widened one
    val frame = spark.range(6).select(col("id"), (col("id") % 2 === 0).as("even"),
      array(col("id").cast("float"), lit(1.5f)).as("v"),
      struct(col("id").cast("string").as("s"), lit(2).as("i")).as("st"),
      when(col("id") > 3, lit("big")).as("maybe"))
    val a = IndexCache.artifact(spark, "spec_schema", "dir")(frame)
    val inferred = spark.read.parquet(dirOf(a))
    assert(a.schema == inferred.schema)
    assert(a.schema != frame.schema) // the read-back schema, not the frame's
    assert(rows(a) == rows(inferred) && rows(a) == rows(frame))
    assert(a.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "") ==
      inferred.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", ""))
    rmdirs(Seq(dirOf(a)))
  }

  test("a second read of an artifact launches no Spark job") {
    val frame = spark.range(4).select(col("id"), lit("x").as("s"))
    val first = SpecJobs.count(spark.sparkContext)(
      IndexCache.artifact(spark, "spec_jobs", "dir")(frame))
    assert(first > 0) // the write and the one read-back
    var again: DataFrame = null
    assert(SpecJobs.count(spark.sparkContext) {
      again = IndexCache.artifact(spark, "spec_jobs", "dir")(
        throw new IllegalStateException("built twice"))
    } == 0)
    assert(rows(again) == rows(frame))
    rmdirs(Seq(dirOf(again)))
  }

  test("a failed artifact build caches neither its path nor its schema") {
    val failing = spark.range(3).select(col("id"),
      raise_error(lit("build failed")).cast("string").as("boom"))
    intercept[Exception](IndexCache.artifact(spark, "spec_failing_frame", "dir")(failing))
    // the retry builds a frame of another schema: nothing of the failed
    // attempt may survive into the served relation
    val frame = spark.range(3).select(col("id").cast("int").as("n"))
    val a = IndexCache.artifact(spark, "spec_failing_frame", "dir")(frame)
    assert(a.schema == spark.read.parquet(dirOf(a)).schema)
    assert(a.columns.toSeq == Seq("n") && rows(a) == rows(frame))
    rmdirs(Seq(dirOf(a)))
  }

  test("an artifact build that nests another artifact's build builds each key once") {
    val builds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def built(k: String): Unit = builds.merge(k, 1, (a: Integer, b: Integer) => a + b)
    def inner() = IndexCache.artifact(spark, "spec_inner", "dir") {
      built("inner"); spark.range(5).select(col("id"))
    }
    def outer() = IndexCache.artifact(spark, "spec_outer", "dir") {
      built("outer"); inner().select((col("id") * 10).as("id10"))
    }
    val o = outer()
    assert(rows(outer()) == rows(o) && rows(inner()).length == 5)
    assert(rows(o) == (0L until 5L).map(i => Seq(i * 10)))
    assert(builds.get("outer") == 1 && builds.get("inner") == 1)
    rmdirs(Seq(dirOf(o), dirOf(inner())))
  }
}
