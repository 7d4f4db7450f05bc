package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.operators.{Assets, DslQueries, TextOps}
import graft.plans.QueryDsl
import graft.sources.{AssetSink, DebugSink, SourceRegistry, Tables}

/** What one op returns for its correctness check: either the collected
  * page (`rows`, fingerprinted) or the sink directory it wrote, which
  * the Python side compares against the DuckDB mirror.
  */
final case class OpOut(rows: Array[Row], schema: StructType,
    sinkDir: String = null, written: Long = -1L) {
  lazy val fingerprint: String = if (rows == null) "" else Workload.fingerprint(rows)
}

/** One benchmark workload: the op kinds its warm-up runs once each, the
  * kind each client's i-th op runs, and the op itself. Every call into
  * the engine goes through a public function of `Tables`,
  * `SourceRegistry`, `Assets`, `DslQueries`/`QueryDsl`, `TextOps` or
  * `AssetSink`, wrapped in a span named after its layer.
  */
abstract class Workload(val spark: SparkSession, val dir: String) {
  def clients: Int = 1
  def warmupKinds: Seq[String]
  def kindOf(client: Int, i: Int): String
  def run(tr: Tracer, kind: String, opId: Long): OpOut
  /** Registered query whose DuckDB mirror checks `kind`'s output. */
  def oracleName(kind: String): String = kind

  /** Plan and execute a frame the way every read path ends: force the
    * physical plan, then collect the page.
    */
  protected def planAndCollect(tr: Tracer, df: DataFrame): OpOut = {
    tr.span("plan") { df.queryExecution.executedPlan }
    OpOut(tr.span("exec") { df.collect() }, df.schema)
  }
}

/** Signals → assets → sink: exactly the calls `graft.Run.run` makes for
  * `--read signals_all --write <dir>`, with its stdout captured. Every
  * op writes into a fresh directory.
  */
final class AssetEtl(spark: SparkSession, dir: String, work: String)
    extends Workload(spark, dir) {
  def warmupKinds: Seq[String] = Seq("asset_etl")
  def kindOf(client: Int, i: Int): String = "asset_etl"
  override def oracleName(kind: String): String = "assets_all"

  def run(tr: Tracer, kind: String, opId: Long): OpOut = {
    val out = s"$work/sink-$opId"
    val sig = tr.span("sources.build") {
      val registry = SourceRegistry.layout("local", dir, null)
      registry.resolve("signals_all")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.signalsFrom(Tables.eventsFrom(registry.read(spark, "signals_all")))
    }
    val assets = tr.span("assets.build") {
      Assets.assetsAllFrom(sig).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val captured = new ByteArrayOutputStream()
    try Console.withOut(new PrintStream(captured, true, "UTF-8")) {
      tr.span("plan") { println(DebugSink.dumpPlan(assets)) }
      val written = tr.span("exec") {
        println(DebugSink.dumpRows(assets, 5))
        assets.count()
      }
      tr.span("sink.write") { AssetSink.write(assets, out) }
      println(s"""{"written": $written, "path": "$out"}""")
      OpOut(null, null, out, written)
    } finally assets.unpersist(blocking = false)
  }
}

/** Query-DSL serving: each request builds its registered query's env,
  * compiles the registered body with the same `search`/`drain` call,
  * and collects the page. Nothing is written.
  */
final class DslServing(spark: SparkSession, dir: String,
    requests: IndexedSeq[IndexedSeq[String]]) extends Workload(spark, dir) {
  import DslServing._

  override def clients: Int = requests.size
  def warmupKinds: Seq[String] = Bodies.keys.toSeq.sorted
  def kindOf(client: Int, i: Int): String = requests(client)(i % requests(client).size)

  def run(tr: Tracer, kind: String, opId: Long): OpOut = {
    val (env, drain, body) = Bodies(kind)
    val e = tr.span("dsl.env") {
      env match {
        case Signal => DslQueries.signalEnv(spark, dir)
        case Docs => DslQueries.docEnv(spark, dir)
        case Emb => DslQueries.embEnv(spark, dir)
      }
    }
    val df = tr.span("dsl.compile") {
      if (drain) QueryDsl.drain(e, body) else QueryDsl.search(e, body)
    }
    planAndCollect(tr, df)
  }
}

object DslServing {
  sealed trait EnvKind
  case object Signal extends EnvKind
  case object Docs extends EnvKind
  case object Emb extends EnvKind

  /** Registered name → (env, drain?, body), as each registered
    * `DslQueries.dsl*` function composes them.
    */
  val Bodies: Map[String, (EnvKind, Boolean, String)] = Map(
    "dsl_search" -> ((Signal, false, DslQueries.SearchBody)),
    "dsl_collapse" -> ((Signal, true, DslQueries.CollapseBody)),
    "dsl_collapse_inner" -> ((Signal, true, DslQueries.CollapseInnerBody)),
    "dsl_aggs" -> ((Signal, false, DslQueries.AggsBody)),
    "dsl_match" -> ((Docs, true, DslQueries.MatchBody)),
    "dsl_multi_match" -> ((Docs, false, DslQueries.MultiMatchBody)),
    "dsl_knn_approx" -> ((Emb, false, DslQueries.KnnApproxBody)))
}

/** The training-corpus export: `TextOps.corpusExportFrom` over the
  * documents table, collecting the shard manifest. It has no memo, so
  * every artifact it needs is built inside every op.
  */
final class CorpusExport(spark: SparkSession, dir: String)
    extends Workload(spark, dir) {
  def warmupKinds: Seq[String] = Seq("corpus_export")
  def kindOf(client: Int, i: Int): String = "corpus_export"

  def run(tr: Tracer, kind: String, opId: Long): OpOut = {
    val docs = tr.span("sources.build") { Tables.documents(spark, dir) }
    val df = tr.span("text.build") { TextOps.corpusExportFrom(docs) }
    planAndCollect(tr, df)
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String, work: String,
      requests: IndexedSeq[IndexedSeq[String]]): Workload = name match {
    case "asset_etl" => new AssetEtl(spark, dir, work)
    case "dsl_serving" => new DslServing(spark, dir, requests)
    case "corpus_export" => new CorpusExport(spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-insensitive content hash of a result page: each row's values
    * rendered (doubles round-trip exactly), rows sorted, SHA-256 over the
    * lot. Registered outputs hold scalar columns only.
    */
  def fingerprint(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
      .mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
