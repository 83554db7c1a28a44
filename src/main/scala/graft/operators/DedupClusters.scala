package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution — the last stage of a real dedup
  * pipeline. Near-dup detectors ([[Dedup.minhashLsh]] etc.) emit PAIRS;
  * the corpus decision needs CLUSTERS: connected components over the
  * pair graph, one canonical survivor per component (the min doc_id),
  * everything else dropped. (The reference app dedups implicitly via
  * doc_id upsert on index — `weaviate_interface_v4.py:409` — which only
  * catches exact id collisions; content-level dedup needs this graph
  * closure.)
  *
  * Spark formulation: iterated min-label propagation with pointer
  * jumping (label ← label(label)) — the classic O(log n)-round
  * Hash-to-Min / two-phase CC construction (Rastogi et al., "Finding
  * Connected Components in MapReduce"). Each round is two narrow
  * equi-joins on (id, label) tables:
  *   1. propagate: label(v) ← min(label(v), min label over neighbors)
  *   2. compress:  label(v) ← label(label(v))
  * and the frontier is localCheckpoint'ed so the plan doesn't grow with
  * the iteration count (iterative lineage otherwise compounds
  * exponentially in Catalyst).
  *
  * At 100 TB: edges (near-dup pairs) are a tiny fraction of the corpus;
  * labels are 2 longs per doc. Rounds = O(log max-cluster-diameter) —
  * near-dup clusters are shallow in practice (dups of a common source),
  * so 2-4 rounds. Each round shuffles only the label table on doc_id;
  * the edge table is cached pre-partitioned on `src` so its shuffle is
  * paid once. The driver-side loop is control flow only (one Long per
  * round crosses the driver), never data.
  */
object DedupClusters {

  /** Connected components over undirected `pairs(d1, d2)`, labeled with
    * the component-min doc_id, over the full `docs` universe (docs in no
    * pair are their own singleton cluster).
    */
  def clusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // materialize the pair detector's output ONCE — the undirected edge
    // union otherwise evaluates the whole upstream pipeline (MinHash,
    // shingling, the LSH self-join) twice, once per union branch
    val p = pairs.select(col("d1"), col("d2")).localCheckpoint()
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .union(p.select(col("d2").as("src"), col("d1").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over nodes that appear in some pair: a doc in no pair
    // can never change label, and pair-nodes are a tiny fraction of the
    // corpus (the whole point of dedup) — this keeps every per-round
    // table at |V(pairs)|, not |corpus|; singletons rejoin at the end
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    // Fused round: propagate AND two pointer-jump levels in ONE plan,
    // every join reading only the PREVIOUS round's materialized label
    // table — so each round is exactly one checkpoint job (plus a cheap
    // count over the already-materialized result) instead of the three
    // serialized jobs of the propagate / count / jump formulation.
    // Simultaneous update stays correct: labels are monotone
    // non-increasing and only ever take doc_id values from the same
    // component, so the fixed point (label(v) ≤ neighbors' labels and
    // label(v) ≤ label(label(v))) forces a constant label per component,
    // which monotonicity pins to the component min. Two jump levels per
    // round give 4× path compression per shuffle-free broadcast join,
    // trimming the serialized round count further.
    var changed = 1L
    // the round's raw checkpoint frame (labels itself is a projection
    // over it after round 1 — release must target the LogicalRDD frame)
    var labelsCkpt = labels
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("dst_label").as("nbr_label"))
      val jump = labels.select(col("doc_id").as("j_key"), col("label").as("j_lbl"))
      val jump2 = labels.select(col("doc_id").as("j2_key"), col("label").as("j2_lbl"))
      val next = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(jump, col("label") === col("j_key"), "left")
        .withColumn("l1",
          least(coalesce(col("nbr_label"), col("label")),
            coalesce(col("j_lbl"), col("label"))))
        .join(jump2, col("l1") === col("j2_key"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("l1"), coalesce(col("j2_lbl"), col("l1"))).as("label"))
        .localCheckpoint()
      // count over a localCheckpoint'd frame scans materialized
      // partitions only — control flow, not a recompute
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.drop("old_label")
      // the superseded round's label table is fully consumed once
      // `next` materialized — release its blocks in-loop instead of
      // letting every round's frontier accumulate until a GC
      Checkpoints.release(labelsCkpt)
      labelsCkpt = next
    }
    edges.unpersist()
    // the pair checkpoint fed only the (now-materialized, now-released)
    // edge/label chain; the returned plan reads `labels` + `docs`
    Checkpoints.release(p)
    // the FINAL label table backs the returned plan — query-scoped
    Checkpoints.register(labelsCkpt)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("label", "pair_label"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pair_label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Oracle: transitive closure by recursive CTE — enumerate every label
    * reachable from each node through the pair graph, keep the min.
    * Exponentially more work than the Spark pointer-jumping form (it
    * materializes all reachable pairs), which is exactly why it's the
    * oracle and not the engine.
    */
  def clustersOracle(pairsSql: String): String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT d1, d2 FROM ($pairsSql)),
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL
       |  SELECT d2 AS src, d1 AS dst FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS doc_id, r.label
       |  FROM reach r JOIN edges e ON r.doc_id = e.src)
       |SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id,
       |  doc_id = min(label) AS is_canonical
       |FROM reach
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Driver query: clusters over the corpus's standing near-dup pair
    * set. The verified pairs are materialized once per source dir
    * ([[IndexCache]]) — the deployment shape: pair detection ran when
    * the corpus landed ([[Dedup.minhashLsh]], itself oracle-gated as
    * `dedup_minhash_lsh`); cluster resolution consumes its output.
    */
  def query(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(s, dir)
    clusters(docs, IndexCache.artifact(s, "minhash_pairs", dir)(
      Dedup.minhashLsh(docs)))
  }

  val oracle: String = clustersOracle(Dedup.minhashLshOracle)
}
