package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.DslQueries
import graft.plans.QueryDsl.Env
import graft.sources.Artifacts.cutLineage

/** Incremental SEARCH SERVING through the Query-DSL compiler: document
  * batches accumulate in a raw-row store, and [[servedEnv]] exposes
  * the merged store as the compiler's `docs-*` index — so a compiled
  * `SearchRequest` (filter context, scored match, bool scoring,
  * rescore, highlight, aggs trees) serves from the STREAM's
  * accumulated state bit-equal to the batch compile over the ingested
  * union. The equality is structural, not coincidental: the Env is
  * the compiler's only data seam (every index relation — tf, doc
  * lengths, group keys — derives from the env frame inside the
  * compiler), the mapping is [[DslQueries.DocMapping]] (the single
  * shared definition), and the store merge is the identity union over
  * disjoint batch slices. StreamingDslSpec proves drain ≡ batch for a
  * scored read, a filter-context read, and a compound scored bool,
  * under an uneven batch split.
  *
  * Merge algebra: batch slices are DISJOINT (a doc lives in exactly
  * one batch), so this is a COUNTER-family store —
  * overwrite-own-batchId is load-bearing. A same-id replay (crash
  * before checkpoint commit) rewrites identical rows and nothing
  * changes; a replayed batch under a FRESH id double-counts its docs,
  * which does not merely duplicate hits — it shifts every BM25
  * df/idf and so corrupts SCORES corpus-wide (the spec proves both
  * directions; the second is why the discipline matters more for a
  * search store than for a plain counter).
  *
  * Scale: the store grows by one columnar slice per batch and reads
  * as one partitioned parquet scan; no query-time state lives on the
  * driver. A production deployment compacts slices on a cadence
  * (StreamingRetrieval's compaction move) — the serving plans are
  * partition-count-insensitive beyond scan parallelism.
  */
object StreamingDsl {

  /** Per-batch sink write, idempotent on `batchId` (overwrite-own-
    * partition — the Structured Streaming sink contract without a
    * transactional table format).
    */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
      storePath: String): Unit =
    batch.write.mode("overwrite").parquet(s"$storePath/docs/batch_id=$batchId")

  /** Drain a documents directory into the serving store (AvailableNow —
    * the restartable incremental unit).
    */
  def startDocIngest(spark: SparkSession, docsPath: String,
      storePath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingCorpus.docStream(spark, docsPath)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, storePath)
      }
      .start()

  /** The compiler Env over the accumulated store: the merged slices
    * ARE the `docs-*` index, under the shared document mapping.
    */
  def servedEnv(spark: SparkSession, storePath: String): Env = Env(
    indices = Map("docs-*" -> spark.read.parquet(s"$storePath/docs")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))),
    mapping = DslQueries.DocMapping)

  /** Embeddings-slice sink write — the SAME overwrite-own-batchId
    * discipline as the doc slice (disjoint batch slices, identity
    * union): the vector side of a hybrid request is as replay-
    * sensitive as the BM25 side (a fresh-id replay duplicates
    * candidate rows and shifts kNN ranks).
    */
  private[graft] def writeEmbBatch(batch: DataFrame, batchId: Long,
      storePath: String): Unit =
    batch.write.mode("overwrite").parquet(s"$storePath/embs/batch_id=$batchId")

  /** Drain an embeddings directory into the serving store. */
  def startEmbIngest(spark: SparkSession, embsPath: String,
      storePath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamingVectors.embeddingStream(spark, embsPath)
      .select(col("vec_id"), col("embedding"), col("label"))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeEmbBatch(batch, batchId, storePath)
      }
      .start()

  /** The compiler Env for HYBRID requests over the accumulated store:
    * the merged doc slices joined to the merged embedding slices on
    * the shared id — the [[DslQueries.hybridEnv]] index shape under
    * the SAME [[DslQueries.HybridMapping]], so a compiled
    * `knn`+`query`+`rank:{rrf}` request serves from stream state
    * bit-equal to the batch compile (StreamingDslSpec proves it).
    */
  def servedHybridEnv(spark: SparkSession, storePath: String): Env = {
    val docs = spark.read.parquet(s"$storePath/docs")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val vecs = spark.read.parquet(s"$storePath/embs")
      .select(col("vec_id"), col("label"), col("embedding"))
    val embs = vecs.select(col("vec_id").as("doc_id"), col("embedding"))
    // the AUTO-SIZED ANN index trained from the DRAINED store —
    // decimal-exact means are accumulation-order-independent and
    // assignBatch shares ivfAssign's math, so the served index equals
    // the batch-trained one (VectorOps.centroidVectorsAuto's recipe,
    // dials from the drained count) row for row and a
    // `num_candidates` hybrid request serves bit-equal to the batch
    // compile (StreamingDslSpec pins it); the refresh cadence at
    // scale is StreamingVectors' codebook-version protocol
    val n = vecs.count()
    val codebook = cutLineage(graft.operators.VectorOps.centroidVectorsAutoFrom(vecs, n))
    val assignments = StreamingVectors.assignBatch(vecs, codebook)
      .select(col("vec_id"), col("assigned_label"))
    Env(
      indices = Map("hybrid-*" -> docs.join(embs, Seq("doc_id"))),
      mapping = DslQueries.HybridMapping,
      ann = Some(graft.plans.QueryDsl.AnnIndex(
        assignments = assignments,
        centroids = codebook,
        nlist = graft.operators.VectorOps.autoDials(n)._1)))
  }
}
