package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Typed access to the graft corpus tables (one parquet file/dir each).
  *
  * Reads stay fully declarative (`spark.read.parquet`) so Catalyst keeps
  * predicate pushdown, column pruning and partition pruning; never collect
  * or pre-materialize here. A bare per-call `spark.read.parquet` costs
  * one schema-inference job, so long-lived serving callers
  * ([[graft.GraftClient]], the standing artifacts of
  * [[graft.operators.IndexCache]]) hold the schema and read with it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Nanos-long view of an events `ts` column, whatever physical type the
    * parquet ships: NANOS read as long (the `nanosAsLong` legacy flag in
    * [[graft.GraftSession]]) passes through untouched; µs-precision
    * TIMESTAMP / TIMESTAMP_NTZ widens to nanos via `unix_micros * 1000`
    * (exact integer arithmetic, no overflow before year 2262). The NTZ
    * branch casts through TIMESTAMP first — a no-op on the stored micros
    * under the engine's UTC session timezone. This one seam keeps the
    * engine's long-nanos `ts` contract stable across testdata
    * regenerations with either physical encoding.
    */
  def tsAsNanos(dt: DataType, c: Column): Column = dt match {
    case LongType         => c
    case TimestampType    => unix_micros(c) * 1000L
    case TimestampNTZType => unix_micros(c.cast(TimestampType)) * 1000L
    case other => throw new IllegalArgumentException(
      s"events.ts has unsupported physical type $other (expected long nanos or timestamp)")
  }

  /** Apply [[tsAsNanos]] in place when the frame carries a non-long `ts`
    * column (works on both batch and streaming frames; column position
    * preserved).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType != LongType =>
        df.withColumn("ts", tsAsNanos(f.dataType, col("ts")))
      case _ => df
    }

  /** Register every table as a temp view (Text2SQL / spark.sql surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Re-slice a scan for CPU-dense per-row work (tokenization, cosine
    * fan-out). A small corpus file is one row group = ONE scan task, so
    * the expensive per-row compute serializes onto a single core — the
    * local stand-in for a cluster's thousands of scan splits. Identity
    * whenever the plan already carries at least default parallelism
    * (i.e. at any real scale), so the extra narrow shuffle is paid only
    * when it buys all the cores.
    */
  def parallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
