package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types._

/** WRITE side of the [[EsShapedSource]] connector — the reference's
  * OTHER process boundary: every run ends in one `esClient.bulk` POST
  * of EAN-keyed documents (`lib/es_client.ts:29-31`, intended call
  * site `run.ts:12-16`), against an index whose template was installed
  * at CLIENT CONSTRUCTION (`es_client.ts:48`). This file reproduces
  * that contract against the harness's parquet fixtures:
  *
  *   - '''Template bootstrap at writer construction''': building the
  *     batch write materializes `_template.json`
  *     ([[AssetSink.indexTemplateJson]] — the exact request body the
  *     reference PUTs) into the index directory if absent, before any
  *     document lands — the `putIndexTemplate`-then-`bulk` ordering.
  *   - '''Generation snapshots with an atomic pointer''': each commit
  *     publishes a new `gen-N/` directory of executor-written parquet
  *     part files and then swaps the `_latest` pointer — readers never
  *     see a half-written bulk (ES's refresh/visibility contract).
  *     Aborted generations are unreferenced files, invisible by
  *     construction.
  *   - '''EAN-keyed idempotent upsert''' ([[EsShapedSink.upsertInto]]):
  *     the ES `index` bulk action replaces the stored document with
  *     the same `_id`; here the bulk is an LSM APPEND — the batch
  *     lands as a new DELTA generation (O(batch) bytes, never a state
  *     rewrite), the pointer chain grows by one slice, and
  *     [[EsShapedSink.read]] collapses the chain latest-slice-wins
  *     per id (exactly how ES serves a search over un-merged
  *     segments: newest doc version wins via the per-segment liveDocs
  *     mask). Replaying a batch reproduces the identical READ state,
  *     the StreamingDsl replay discipline applied at the writer
  *     (spec-proven, incl. through `foreachBatch`).
  *   - '''Compaction''' ([[EsShapedSink.compact]]): once the chain
  *     exceeds [[EsShapedSink.MaxDeltaSlices]] slices, the collapsed
  *     state republishes as a fresh base snapshot and unreferenced
  *     generations are vacuumed — ES's background segment merge,
  *     amortizing the O(state) rewrite over the slice budget instead
  *     of paying it per bulk.
  *
  * Scale shape: a micro-batch upsert costs O(batch) write I/O plus a
  * pointer swap; the O(state) rewrite happens once per
  * [[EsShapedSink.MaxDeltaSlices]] batches inside compaction — the
  * write amplification of a 100 TB streaming upsert is the LSM
  * amortized one, not per-bulk. Reads over an uncompacted chain pay
  * one hash shuffle on the id (the LSM read tax, bounded by the slice
  * budget). Single-writer by contract, like the reference's one ETL
  * run per schedule; vacuum runs at retention zero, so a reader
  * racing a compaction may need the standard lakehouse retry.
  */
object EsShapedSink {

  /** Directory-layout names shared by the read and write sides. */
  val LatestPointer = "_latest"
  val TemplateFile = "_template.json"
  private[sources] def genDirName(n: Int): String = s"gen-$n"

  /** Write option marking a batch as an upsert DELTA slice (value =
    * the id column); plain appends stay fail-fast.
    */
  private[sources] val DeltaIdOption = "graft.delta.id"

  /** Max delta slices the chain may carry before [[upsertInto]]
    * triggers [[compact]] — the LSM level-0 budget: bounds both the
    * read-side collapse fan-in and the amortized rewrite frequency.
    */
  val MaxDeltaSlices = 4

  /** Publish `df` as the index's NEW live state (the force-merged
    * snapshot): a fresh generation + pointer swap, template bootstrap
    * included. Overwrite-shaped on purpose — the append-shaped entry
    * point is [[upsertInto]], which composes the id-keyed merge.
    */
  def publish(df: DataFrame, path: String): Unit =
    df.write.format(classOf[EsShapedSource].getName)
      .mode("overwrite").save(path)

  /** The ES `_bulk` upsert through the connector: every stored doc
    * whose `idCol` appears in `batch` is replaced by the batch row,
    * new ids are added, untouched ids carry over — observable through
    * [[read]]. The batch must be id-unique (a DataFrame is unordered,
    * so ES's last-action-wins within one bulk has no deterministic
    * analog — fail fast instead) and id-non-null (an ES bulk action
    * needs a `_id`; a null key would silently duplicate instead of
    * replace under any join-based collapse). Idempotent: re-running
    * the same batch reproduces the identical read state bit for bit.
    *
    * Cost: O(batch) — the batch lands as one DELTA generation and the
    * pointer chain grows by a slice; no state rewrite. The chain is
    * compacted back to a single base snapshot every
    * [[MaxDeltaSlices]] upserts.
    */
  def upsertInto(df: DataFrame, path: String, idCol: String): Unit = {
    val spark = df.sparkSession
    val bad = df.groupBy(col(idCol)).count()
      .where(col("count") > 1 || col(idCol).isNull).limit(1).collect()
    bad.headOption.foreach { r =>
      require(!r.isNullAt(0),
        s"upsert batch carries a null $idCol — an ES bulk action needs " +
          "a non-null _id, and a null key never matches on replace")
      require(false,
        s"upsert batch carries duplicate $idCol '${r.get(0)}' — an " +
          "unordered frame has no last-wins order")
    }
    val conf = EsShaped.sessionConf()
    val (gens, storedId) = EsShaped.liveGenerations(path, conf)
    if (gens.isEmpty) publish(df, path)
    else {
      storedId.foreach(s => require(s == idCol,
        s"index upserts are keyed on '$s', got '$idCol'"))
      // conform to the stored column ORDER (schema inference reads the
      // chain's first file) so every slice shares one parquet layout
      val stored = spark.read.format(classOf[EsShapedSource].getName)
        .load(path).columns
      df.select(stored.map(col).toSeq: _*)
        .write.format(classOf[EsShapedSource].getName)
        .option(DeltaIdOption, idCol)
        .mode("append").save(path)
      if (EsShaped.liveGenerations(path, conf)._1.size - 1 > MaxDeltaSlices)
        compact(spark, path)
    }
  }

  /** Read the live index state back — the SEARCH view: a single-
    * snapshot chain is the raw scan; an upserted chain collapses
    * latest-slice-wins per id (ES serving a query over un-merged
    * segments). One hash shuffle on the id, fan-in bounded by
    * [[MaxDeltaSlices]].
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = EsShaped.sessionConf()
    val (gens, idOpt) = EsShaped.liveGenerations(path, conf)
    val raw = spark.read.format(classOf[EsShapedSource].getName).load(path)
    if (gens.size <= 1) raw
    else {
      val id = idOpt.getOrElse(throw new IllegalStateException(
        s"multi-generation chain at $path carries no id column"))
      val slices = gens.zipWithIndex.map { case (g, i) =>
        spark.read.format(classOf[EsShapedSource].getName)
          .load(s"$path/${genDirName(g)}")
          .withColumn("__slice", lit(i))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(id)).orderBy(col("__slice").desc)
      slices.reduce(_.unionByName(_))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(raw.columns.map(col).toSeq: _*)
    }
  }

  /** Fold the delta chain back into one base snapshot (ES's segment
    * merge): publish the collapsed read as a fresh generation, then
    * vacuum every generation the new pointer no longer references.
    * O(state) — run once per [[MaxDeltaSlices]] upserts by
    * [[upsertInto]], or on demand.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val conf = EsShaped.sessionConf()
    if (EsShaped.liveGenerations(path, conf)._1.size > 1) {
      // materialize BEFORE the overwrite plans: the collapse reads the
      // very generations the publish replaces (read-your-own-table)
      publish(Artifacts.cutLineage(read(spark, path)), path)
      vacuum(path, conf)
    }
  }

  /** Delete generation directories the pointer no longer references
    * (aborted stages, compacted-away slices). Retention zero: safe
    * under the single-writer contract; a reader racing this does the
    * standard lakehouse retry.
    */
  def vacuum(path: String, conf: Configuration): Unit = {
    val (live, _) = EsShaped.liveGenerations(path, conf)
    val keep = live.map(genDirName).toSet
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-") &&
          !keep.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
  }
}

private[sources] final class EsShapedWriteBuilder(paths: Seq[String],
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var isTruncate = false

  override def truncate(): WriteBuilder = { isTruncate = true; this }

  override def build(): Write = new Write {
    require(paths.size == 1,
      s"es-shaped write needs exactly one path, got $paths")
    override def toBatch: BatchWrite =
      new EsShapedBatchWrite(paths.head, info.schema(), isTruncate,
        Option(info.options.get(EsShapedSink.DeltaIdOption)))
  }
}

private final case class EsShapedCommit(file: String, rows: Long)
    extends WriterCommitMessage

/** One batch write = one staged generation — a fresh base snapshot
  * (overwrite) or an upsert DELTA slice appended to the pointer chain
  * (the [[EsShapedSink.DeltaIdOption]] route). Constructing the write
  * bootstraps the index (directory + template), mirroring the
  * reference's template-install-at-client-construction.
  */
private final class EsShapedBatchWrite(path: String, schema: StructType,
    truncate: Boolean, deltaId: Option[String]) extends BatchWrite {

  private val conf = EsShaped.sessionConf()
  EsShaped.bootstrapIndex(path, conf)
  require(truncate || deltaId.isDefined ||
    EsShaped.liveGeneration(path, conf).isEmpty,
    "es-shaped append into a non-empty index would shadow the live " +
      "documents: use SaveMode.Overwrite (snapshot publish) or " +
      "EsShapedSink.upsertInto (the EAN-keyed bulk merge)")
  private val gen = EsShaped.nextGeneration(path, conf)
  private val ship = new EsShaped.SerializableConf(conf)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new EsShapedWriterFactory(path, gen, schema, ship)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // keep ONLY the files the committed task attempts name: a task
    // attempt that died without abort() (executor crash, retry under a
    // new taskId) leaves an orphan part file in the staged directory,
    // and publishing it would hand readers duplicate or truncated rows
    EsShaped.pruneStage(new Path(path, EsShapedSink.genDirName(gen)),
      messages.collect { case EsShapedCommit(f, _) => new Path(f).getName }
        .toSet, conf)
    val chain = deltaId match {
      case Some(id) =>
        val (gens, storedId) = EsShaped.liveGenerations(path, conf)
        storedId.foreach(s => require(s == id,
          s"index upserts are keyed on '$s', got '$id'"))
        (gens :+ gen, Some(id))
      case None => (Seq(gen), None)
    }
    EsShaped.publishPointer(path, chain._1, chain._2, conf)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // unreferenced (the pointer never moved); remove the stage
    val p = new Path(path, EsShapedSink.genDirName(gen))
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

private final class EsShapedWriterFactory(path: String, gen: Int,
    schema: StructType, conf: EsShaped.SerializableConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new EsShapedDataWriter(path, gen, schema, conf.value, partitionId, taskId)
}

/** Executor-side parquet writer for one task's rows (hand-built on
  * parquet-mr like the read side — the connector never routes through
  * Spark's own parquet source).
  */
private final class EsShapedDataWriter(path: String, gen: Int,
    schema: StructType, conf: Configuration, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val message: MessageType = EsShaped.parquetSchema(schema)
  private val file = new Path(new Path(path, EsShapedSink.genDirName(gen)),
    f"part-$partitionId%05d-$taskId.parquet")
  private val writer = ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
    .withConf(conf)
    .withType(message)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .build()
  private val factory = new SimpleGroupFactory(message)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema(i).name
        schema(i).dataType match {
          case LongType => g.add(name, row.getLong(i))
          case IntegerType => g.add(name, row.getInt(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case FloatType => g.add(name, row.getFloat(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType => g.add(name,
            Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
          case TimestampType | TimestampNTZType =>
            g.add(name, row.getLong(i)) // micros, the schema's annotation
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            val listGroup = g.addGroup(name)
            var j = 0
            while (j < arr.numElements()) {
              val wrapper = listGroup.addGroup("list")
              if (!arr.isNullAt(j)) et match {
                case LongType => wrapper.add("element", arr.getLong(j))
                case IntegerType => wrapper.add("element", arr.getInt(j))
                case DoubleType => wrapper.add("element", arr.getDouble(j))
                case FloatType => wrapper.add("element", arr.getFloat(j))
                case BooleanType => wrapper.add("element", arr.getBoolean(j))
                case StringType => wrapper.add("element",
                  Binary.fromConstantByteArray(arr.getUTF8String(j).getBytes))
                case other => throw new UnsupportedOperationException(
                  s"es-shaped write: list element $other")
              }
              j += 1
            }
          case other => throw new UnsupportedOperationException(
            s"es-shaped write: column type $other")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    EsShapedCommit(file.toString, rows)
  }

  override def abort(): Unit = {
    writer.close()
    val fs = file.getFileSystem(conf)
    if (fs.exists(file)) { fs.delete(file, false); () }
  }

  override def close(): Unit = ()
}
