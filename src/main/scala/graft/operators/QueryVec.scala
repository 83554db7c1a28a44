package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, typedLit}

/** One request's query vector, as the single-request search forms take
  * it:
  *   - [[QueryVec.Frame]]: a one-row frame `q(q_emb)`, broadcast-joined
  *     where the vector is needed. This is a stored object's vector; the
  *     oracle-gated query forms read it from the corpus.
  *   - [[QueryVec.Literal]]: the vector computed on the driver (an
  *     embedded request string). It enters the plan as an `array<float>`
  *     literal, so the request has no one-row frame to broadcast, and
  *     launches no job for it.
  * Both attach the same floats, so every score is bitwise the same.
  */
private[graft] sealed trait QueryVec {
  /** `df` with the query vector as column `q_emb` on every row. */
  def attach(df: DataFrame): DataFrame
  /** The vector on the driver (the ADC distance-table build). */
  def values: Seq[Double]
}

private[graft] object QueryVec {
  final case class Frame(q: DataFrame) extends QueryVec {
    def attach(df: DataFrame): DataFrame = df.join(broadcast(q))
    def values: Seq[Double] = q.head().getSeq[Float](0).map(_.toDouble)
  }

  final case class Literal(v: Array[Float]) extends QueryVec {
    def attach(df: DataFrame): DataFrame = df.withColumn("q_emb", typedLit(v))
    def values: Seq[Double] = v.toSeq.map(_.toDouble)
  }
}
