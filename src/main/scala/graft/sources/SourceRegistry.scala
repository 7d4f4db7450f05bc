package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named source registry — the Spark analog of the reference's
  * dual-cluster client plus config-driven cluster map
  * (reference lib/es_client.ts:12-32; run.ts:28-39 validates `--read`/
  * `--write` names against `config.clusters`). A [[SourceRef]] names one
  * or MORE paths: multi-path refs are the reference's comma-separated
  * index patterns (`constants.ts:1-5`), e.g. `collectPods` reading the
  * union of logs and APM indices (`lib/collectPods.ts:13`).
  *
  * Scale note: a multi-path read is a single partitioned scan over the
  * union of the files — Spark lists all paths into one FileScan, so
  * filters/pruning push into every path; no per-path driver loop.
  */
final case class SourceRef(
    name: String,
    paths: Seq[String],
    /** DataSource V1/V2 short name or provider class — the connector
      * seam. The reference's whole source layer is an Elasticsearch
      * client (es_client.ts:12-50); an ES-backed ref here is a CONFIG
      * entry, `SourceRef("signals_es", Seq("assets-*"),
      * format = "org.elasticsearch.spark.sql", options = Map("es.nodes"
      * -> ...))` — same pushdown contract (the es-hadoop connector
      * translates Catalyst filters to Query DSL), zero code change.
      * The harness ships no ES, so tests exercise the seam with the
      * built-in csv/json providers instead.
      */
    format: String = "parquet",
    options: Map[String, String] = Map.empty) {
  require(paths.nonEmpty, s"source '$name' has no paths")

  def read(spark: SparkSession): DataFrame =
    spark.read.format(format).options(options).load(paths: _*)
}

final class SourceRegistry(sources: Map[String, SourceRef]) {

  /** Resolve by name; unknown names fail fast listing valid ones,
    * mirroring run.ts:28-34.
    */
  def resolve(name: String): SourceRef =
    sources.getOrElse(name, throw new IllegalArgumentException(
      s"unknown source '$name'; valid sources: ${sources.keys.toSeq.sorted.mkString(", ")}"))

  def read(spark: SparkSession, name: String): DataFrame = resolve(name).read(spark)

  def names: Seq[String] = sources.keys.toSeq.sorted
}

object SourceRegistry {

  def apply(refs: SourceRef*): SourceRegistry =
    new SourceRegistry(refs.map(r => r.name -> r).toMap)

  /** Default layout over a scale-factor dir. `signals_apm` and
    * `signals_logs` both resolve to the fixture's single physical
    * signal stream (the harness ships one events table), exactly as
    * the reference's `apm*` and `logs-*` patterns address overlapping
    * document streams; `signals_all` is their union — the
    * `collectPods` read shape.
    */
  def forDir(dir: String): SourceRegistry = SourceRegistry(
    SourceRef("signals_apm", Seq(s"$dir/events.parquet")),
    SourceRef("signals_logs", Seq(s"$dir/events.parquet")),
    SourceRef("signals_all", Seq(s"$dir/events.parquet", s"$dir/events.parquet")),
    SourceRef("documents", Seq(s"$dir/documents.parquet")),
    SourceRef("embeddings", Seq(s"$dir/embeddings.parquet"))
  )

  /** [[forDir]] with the signal and document refs routed through the
    * [[EsShapedSource]] DataSourceV2 connector — the config-only swap
    * the `format` seam exists for (an ES-backed deployment changes
    * exactly this map entry, nothing in any pipeline). `embeddings`
    * stays a native parquet ref: its array column is outside the
    * connector's scalar hit-envelope surface.
    */
  def forDirEs(dir: String): SourceRegistry = {
    val fmt = classOf[EsShapedSource].getName
    SourceRegistry(
      SourceRef("signals_apm", Seq(s"$dir/events.parquet"), format = fmt),
      SourceRef("signals_logs", Seq(s"$dir/events.parquet"), format = fmt),
      SourceRef("signals_all",
        Seq(s"$dir/events.parquet", s"$dir/events.parquet"), format = fmt),
      SourceRef("documents", Seq(s"$dir/documents.parquet"), format = fmt),
      SourceRef("embeddings", Seq(s"$dir/embeddings.parquet"))
    )
  }

  /** Config-driven layout selection — the `ES_IS_CCS` analog
    * (reference constants.ts:7-21): one env/config switch flips every
    * source name between the local pattern set and the cross-cluster
    * one, without touching pipeline code. `local` is [[forDir]];
    * `ccs` fans each signal name out across TWO genuinely distinct
    * directories (local + remote cluster), the
    * `remote_cluster:logs-*,logs-*` shape.
    */
  def layout(name: String, dir: String, remoteDir: String = null): SourceRegistry =
    name match {
      case "local" => forDir(dir)
      case "ccs" =>
        val r = Option(remoteDir).getOrElse(
          throw new IllegalArgumentException("ccs layout needs a remote dir"))
        // signals_all preserves its local-layout contract (apm ∪ logs,
        // an overlapping doubled stream) across BOTH clusters — 4 paths,
        // not a 2-path alias of signals_apm
        SourceRegistry(
          SourceRef("signals_apm", Seq(s"$dir/events.parquet", s"$r/events.parquet")),
          SourceRef("signals_logs", Seq(s"$dir/events.parquet", s"$r/events.parquet")),
          SourceRef("signals_all", Seq(s"$dir/events.parquet", s"$r/events.parquet",
            s"$dir/events.parquet", s"$r/events.parquet")),
          SourceRef("documents", Seq(s"$dir/documents.parquet", s"$r/documents.parquet")),
          SourceRef("embeddings", Seq(s"$dir/embeddings.parquet", s"$r/embeddings.parquet"))
        )
      case other => throw new IllegalArgumentException(
        s"unknown layout '$other'; valid layouts: ccs, local")
    }
}
