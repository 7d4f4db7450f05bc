package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.VectorOps

/** Incremental vector-index maintenance under streaming ingest — the
  * embedding-side analog of [[StreamingCorpus]]: new vectors arrive as
  * micro-batches and must land in the right IVF bucket without
  * retraining or rescanning the corpus.
  *
  * Design (the shape a 100 TB vector store runs):
  *   - the coarse codebook is a FROZEN artifact (trained offline —
  *     here [[VectorOps.centroidVectors]]'s decimal-exact means),
  *     broadcast to every batch; ingest never mutates it;
  *   - each micro-batch computes nearest-centroid assignments for its
  *     vectors only (batch × broadcast codebook — no shuffle of
  *     anything but the batch), and lands in a store PARTITIONED BY
  *     (ingest batch, assigned bucket), so searches prune to probed
  *     buckets at the file-listing level;
  *   - `foreachBatch` is only AT-LEAST-ONCE: if the process dies after
  *     the sink write but before the checkpoint commits the offsets,
  *     the restarted query re-delivers the same batch. The write is
  *     therefore made IDEMPOTENT ON batchId — each batch OVERWRITES its
  *     own `ingest_batch=<id>` directory, and since the assignment is
  *     deterministic (frozen codebook, fixed tiebreak) the replay
  *     rewrites identical rows instead of appending duplicates
  *     (spec-asserted via a direct double-delivery of one batchId).
  */
object StreamingVectors {

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embeddingStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(embeddingsSchema).parquet(path)

  /** Nearest-centroid assignment of ONE batch against the broadcast
    * codebook — identical math and tiebreak to [[VectorOps.ivfAssign]]
    * (cosine argmax, label-ascending tiebreak), so batch and streaming
    * paths agree row-for-row.
    */
  def assignBatch(batch: DataFrame, codebook: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_label").asc)
    batch
      .withColumn("nrm", expr(VectorOps.dot("embedding", "embedding")))
      .crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("label"), col("embedding"), col("c_label"),
        (expr(VectorOps.dot("embedding", "centroid")) /
          (sqrt(col("nrm")) * sqrt(col("cnrm")))).as("sim"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"),
        col("c_label").as("assigned_label"), col("sim"))
  }

  /** The per-batch sink write, idempotent on `batchId`: the batch
    * OVERWRITES its own `ingest_batch=<id>` partition directory, so an
    * at-least-once re-delivery (crash between sink write and offset
    * commit) replaces the directory with the identical deterministic
    * rows — the store never holds duplicates. Readers see the standard
    * two-level partition layout (ingest_batch, then assigned_label).
    */
  def writeBatch(batch: DataFrame, codebook: DataFrame,
      storePath: String, batchId: Long): Unit =
    assignBatch(batch, codebook)
      .write.mode("overwrite")
      .partitionBy("assigned_label")
      .parquet(s"$storePath/ingest_batch=$batchId")

  /** Drain the source directory into the bucket-partitioned store.
    * AvailableNow: processes exactly the files not yet committed to the
    * checkpoint, then stops — the restartable incremental-ingest unit.
    */
  def startIvfIngest(spark: SparkSession, srcPath: String,
      codebook: DataFrame, storePath: String, checkpoint: String): StreamingQuery =
    embeddingStream(spark, srcPath).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, codebook, storePath, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ---------------------------------------------------------------------
  // Codebook REFRESH (r11): the frozen-codebook store above is the
  // t0-snapshot design; under distribution drift a real deployment
  // periodically RE-TRAINS the coarse quantizer and RE-ASSIGNS the
  // inverted lists. Layout of the refreshing store:
  //
  //   vectors/ingest_batch=<id>/   raw batch vectors (overwrite-own-id)
  //   codebook/version=<id>/       retrained codebook, version = the
  //                                refreshing batchId (overwrite-own-id)
  //   assign/version=<id>/         FULL re-assignment of everything
  //                                ingested through <id> under that
  //                                codebook (overwrite-own-id)
  //   delta/ingest_batch=<id>/     between refreshes: the batch's own
  //                                assignment under the newest codebook
  //                                version STRICTLY BELOW its id
  //
  // Refresh fires on batch b when (b + 1) % RefreshEvery == 0, so a
  // RefreshEvery-aligned drain ends on a refresh and the read side
  // equals batch ivfAssign over the whole ingested union (spec-proven).
  // Every write is idempotent on batchId: a replayed refresh batch
  // rewrites its vectors dir first, re-trains on the identical union
  // (later batches cannot exist during a replay), and overwrites its
  // own codebook/assign versions with identical deterministic rows; a
  // replayed delta batch pins the same strictly-older codebook version
  // it saw first. Readers pin to the NEWEST assign version v and union
  // the delta batches with id > v — never a half-written mix of two
  // codebook generations.
  // ---------------------------------------------------------------------

  /** Batches between codebook re-trains. */
  val RefreshEvery = 2L

  private def listIds(spark: SparkSession, path: String, prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix + "="))
      .map(_.stripPrefix(prefix + "=").toLong).sorted
  }

  /** All raw vectors ingested so far (union of the per-batch dirs). */
  private def readVectors(spark: SparkSession, storePath: String): DataFrame = {
    val ids = listIds(spark, s"$storePath/vectors", "ingest_batch")
    ids.map(id => spark.read.parquet(s"$storePath/vectors/ingest_batch=$id"))
      .reduce(_.unionAll(_))
  }

  /** The read side of the refreshing index: the newest full
    * re-assignment version v, plus the delta batches that arrived
    * after it (each assigned under codebook v — the newest below
    * their id). Immediately after a refresh this IS batch
    * `ivfAssign` over everything ingested.
    */
  def readAssignments(spark: SparkSession, storePath: String): DataFrame = {
    val v = listIds(spark, s"$storePath/assign", "version").max
    val full = spark.read.parquet(s"$storePath/assign/version=$v")
    listIds(spark, s"$storePath/delta", "ingest_batch").filter(_ > v)
      .foldLeft(full)((acc, id) =>
        acc.unionAll(spark.read.parquet(s"$storePath/delta/ingest_batch=$id")))
  }

  private def assignCols(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"), col("assigned_label"), col("sim"))

  /** One batch of the refreshing ingest — exposed (like [[writeBatch]])
    * so the spec can re-deliver a batchId directly into the crash
    * window. See the layout comment above for the full protocol.
    */
  def writeRefreshingBatch(spark: SparkSession, batch: DataFrame,
      storePath: String, batchId: Long,
      nlist: Int = VectorOps.NList, refreshEvery: Long = RefreshEvery): Unit = {
    batch.select(col("vec_id"), col("embedding"), col("label"))
      .write.mode("overwrite")
      .parquet(s"$storePath/vectors/ingest_batch=$batchId")
    if ((batchId + 1) % refreshEvery == 0) {
      val all = readVectors(spark, storePath)
      val codebook = VectorOps.codebookFromMeans(VectorOps.trainMeans(all, nlist))
        .localCheckpoint()
      codebook.write.mode("overwrite")
        .parquet(s"$storePath/codebook/version=$batchId")
      assignCols(assignBatch(all, codebook))
        .write.mode("overwrite")
        .parquet(s"$storePath/assign/version=$batchId")
    } else {
      // newest version STRICTLY below this id: a replay after its own
      // refresh (or a successor's) must pin the codebook it saw first
      val vs = listIds(spark, s"$storePath/codebook", "version").filter(_ < batchId)
      if (vs.nonEmpty) {
        val codebook = spark.read.parquet(s"$storePath/codebook/version=${vs.max}")
        assignCols(assignBatch(batch, codebook))
          .write.mode("overwrite")
          .parquet(s"$storePath/delta/ingest_batch=$batchId")
      }
      // no codebook yet (cold start before the first refresh): the raw
      // vectors are stored and will be covered by the first re-train
    }
  }

  /** Drain with periodic codebook refresh — the drift-following twin
    * of [[startIvfIngest]].
    */
  def startRefreshingIngest(spark: SparkSession, srcPath: String,
      storePath: String, checkpoint: String,
      nlist: Int = VectorOps.NList, refreshEvery: Long = RefreshEvery): StreamingQuery =
    embeddingStream(spark, srcPath).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeRefreshingBatch(spark, batch, storePath, batchId, nlist, refreshEvery)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
