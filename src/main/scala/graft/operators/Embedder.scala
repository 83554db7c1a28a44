package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Batch embedding job — the Spark-native analog of the reference's
  * SentenceTransformer encode step (`WeaviateWCS._create_query_vector`,
  * reference `src/database/weaviate_interface_v4.py:289-296`, and the
  * bulk embedding notebooks).
  *
  * Model inference is out of engine scope (at scale it's a batched
  * `mapPartitions` against a served model, same shape as
  * [[Multimodal.extractFeatures]]); what the ENGINE owns is a
  * deterministic text→vector featurizer and the pipeline around it. The
  * stand-in here is a real featurizer (hashed bag-of-words — the classic
  * hashing trick): dim j = portable_hash(normalized_text # j) scaled to
  * [-0.5, 0.5). Fully expression-based, fully oracle-replayable.
  */
object Embedder {
  val Dim = 8

  /** Deterministic pseudo-embedding of a text column. */
  def embed(text: Column, dim: Int = Dim): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      (portableHash(concat(md5(text), lit("#"), j)) % 1000000L).cast("double") / 1000000.0 - 0.5)

  /** [[embed]] of one driver-side string as `array<float>`, evaluated
    * on the driver. It runs the column expression's own code, so the
    * floats are bitwise the column's, and no Spark job runs.
    */
  def embedValues(spark: SparkSession, text: String, dim: Int = Dim): Array[Float] =
    spark.range(1).select(embed(lit(text), dim).cast("array<float>"))
      .queryExecution.analyzed match {
      case Project(Seq(e), _) => e.eval(InternalRow.empty).asInstanceOf[ArrayData].toFloatArray()
      case p => throw new IllegalStateException(s"unexpected embedding plan: $p")
    }

  /** SQL replay of [[embed]] over a text expression. */
  def embedSql(textExpr: String, dim: Int = Dim): String =
    s"""list_transform(range(0, $dim), j ->
       |  CAST(CAST('0x' || substring(md5(md5($textExpr) || '#' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0 - 0.5)""".stripMargin

  /** End-to-end reference pipeline as ONE declarative plan:
    * chunk documents → embed each chunk → cosine-score against an
    * embedded query string → global top-k. Chunking, embedding, scoring
    * and the top-k heap all fuse into Catalyst stages — no materialized
    * intermediate corpus.
    */
  val QueryText = "spark hash join fast"
  val TopK = 10

  def chunkEmbedSearch(docs: DataFrame, k: Int = TopK): DataFrame = {
    val chunks = Chunker.chunk(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
    // re-derive chunk text deterministically? chunk_hash IS the content id;
    // embed the hash-identified chunk via its hash string (stable content key).
    chunks
      .withColumn("emb", embed(col("chunk_hash")))
      .withColumn("q_emb", embed(lit(QueryText)))
      .select(col("doc_id"), col("chunk_id"),
        round(cosineSim(col("emb"), col("q_emb")), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"), asc("chunk_id"))
      .limit(k)
  }

  val chunkEmbedSearchOracle: String = {
    s"""WITH chunks AS (${Chunker.chunkSql()}),
       |scored AS (
       |  SELECT doc_id, chunk_id,
       |    ${embedSql("chunk_hash")} AS emb,
       |    ${embedSql(s"'$QueryText'")} AS q_emb
       |  FROM chunks)
       |SELECT doc_id, chunk_id,
       |  round(${VectorSearch.cosineSql("emb", "q_emb", Dim)}, 4) AS score
       |FROM scored
       |ORDER BY score DESC, doc_id, chunk_id
       |LIMIT $TopK""".stripMargin
  }

  def query(s: SparkSession, dir: String): DataFrame =
    chunkEmbedSearch(Tables.documents(s, dir))

  // --- parent-document retrieval -------------------------------------------

  val ParentK = 5

  /** Parent-document retrieval — the retrieval half of the reference's
    * small-to-big pattern (`small_to_big`, data_models.py:49: search the
    * fine-grained chunks, return the parent context): chunks are scored
    * against the query, each parent document ranks by its BEST chunk
    * (max-pooling late aggregation), ties broken toward the earliest
    * chunk; the chunk count rides along for context-assembly budgeting.
    *
    * Scale design: chunk scoring is the same fused map as
    * [[chunkEmbedSearch]]; the per-parent pooling is an ordinary
    * partial-aggregable `max(struct)` (ONE candidate per parent per map
    * task crosses the wire — never all chunks), and the parent ranking
    * is the top-k heap. Oracle is an independent window formulation.
    */
  def parentSearch(docs: DataFrame, k: Int = ParentK): DataFrame = {
    val chunks = Chunker.chunk(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
    chunks
      .withColumn("emb", embed(col("chunk_hash")))
      .withColumn("q_emb", embed(lit(QueryText)))
      .select(col("doc_id"), col("chunk_id"),
        round(cosineSim(col("emb"), col("q_emb")), 4).as("score"))
      .groupBy("doc_id")
      .agg(max(struct(col("score"), (-col("chunk_id")).as("neg_cid"),
          col("chunk_id"))).as("m"),
        count(lit(1)).as("n_chunks"))
      .select(col("doc_id"), col("m.chunk_id").as("best_chunk"),
        col("m.score").as("best_score"), col("n_chunks"))
      .orderBy(desc("best_score"), asc("doc_id"))
      .limit(k)
  }

  val parentSearchOracle: String =
    s"""WITH chunks AS (${Chunker.chunkSql()}),
       |scored AS (
       |  SELECT doc_id, chunk_id,
       |    round(${VectorSearch.cosineSql("emb", "q_emb", Dim)}, 4) AS score
       |  FROM (
       |    SELECT doc_id, chunk_id,
       |      ${embedSql("chunk_hash")} AS emb,
       |      ${embedSql(s"'$QueryText'")} AS q_emb
       |    FROM chunks) t),
       |ranked AS (
       |  SELECT doc_id, chunk_id, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, chunk_id) AS rn
       |  FROM scored),
       |agg AS (SELECT doc_id, count(*) AS n_chunks FROM scored GROUP BY doc_id)
       |SELECT ranked.doc_id, chunk_id AS best_chunk, score AS best_score, n_chunks
       |FROM ranked JOIN agg ON ranked.doc_id = agg.doc_id
       |WHERE rn = 1
       |ORDER BY best_score DESC, ranked.doc_id
       |LIMIT $ParentK""".stripMargin

  def queryParent(s: SparkSession, dir: String): DataFrame =
    parentSearch(Tables.documents(s, dir))
}
