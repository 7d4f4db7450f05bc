package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{AssetSchema, SourceRegistry, Tables}

/** Reference-parity asset-derivation pipelines, Spark-first.
  *
  * The reference (jasonrhodes/elastic-asset-etl-poc) derives asset
  * documents (services, containers, k8s pods/nodes) from observability
  * signals. Three pipelines exist (SURVEY.md §3):
  *   - collectServicesFromSummaries (reference
  *     lib/collectServicesFromSummaries.ts:321-325) — the wired, two-phase
  *     flagship;
  *   - collectServices (lib/collectServices.ts:10-174) — collapse +
  *     container graph accumulation;
  *   - collectPods (lib/collectPods.ts:10-118) — pod/node/cluster graph.
  *
  * Design stance (SURVEY.md §7.1): each pipeline is one lazy DataFrame
  * plan. The reference's paged HTTP drain disappears into a partitioned
  * scan; its O(n²) client-side folds become hash aggregations; its
  * data-dependent phase-2 `terms` query becomes a broadcast semi-join.
  * Nothing here collects to the driver, so every pipeline scales with
  * executors × partitions.
  *
  * Several outputs over one source are derived inside ONE plan, not as
  * a union of per-output plans: [[assetsAllFrom]] scans the signals
  * once, tags each row with the collapse keys it feeds, collapses all
  * keys in one window and aggregates every asset in one `groupBy`. A
  * union of branches does not share its scan — Catalyst prunes columns
  * and pushes filters into each branch separately, so the branches'
  * scans and exchanges differ and `ReuseExchange` never merges them.
  */
object Assets {

  /** Fixed batch timestamp for emitted assets. The reference stamps
    * `new Date()` per emitted asset (lib/collectServices.ts:99,
    * lib/collectPods.ts:73; types.ts:2); one-constant-per-batch is the
    * Spark-native equivalent (SURVEY.md P6) and keeps the DuckDB oracle
    * deterministic.
    */
  val BatchTs = "2024-02-01 00:00:00"

  def batchTs: Column = lit(BatchTs).cast("timestamp")

  /** EAN (entity canonical name) construction: `"{type}:{id}"` —
    * reference lib/collectServices.ts:94-97, lib/collectPods.ts:76,103.
    */
  def ean(assetType: String, id: Column): Column =
    concat(lit(assetType), lit(":"), id)

  /** Hard cap on emitted edges per asset. `collect_set` children lists
    * are otherwise unbounded at 100 TB (a hot container observed with
    * millions of services would OOM the aggregation buffer —
    * SURVEY.md §7.4 risk 4); the cap keeps the smallest N EANs in sort
    * order, so which edges survive is deterministic, not
    * arrival-order-dependent. Fixture cardinalities sit far below the
    * cap, so oracle outputs are unaffected.
    */
  val MaxEdges = 128

  /** Deterministic scalar encoding of a graph-edge list: sorted,
    * '|'-joined, capped at [[MaxEdges]]. Edges are SETS of EANs
    * (types.ts:7-9); the pipe-joined sorted form is a canonical,
    * order-independent serialization that both engines (and the
    * driver's hash compare) handle as a plain string. Arrays stay
    * internal to the aggregation; only the scalar leaves the operator.
    * Empty set → ''.
    */
  def edgeList(edges: Column): Column =
    concat_ws("|", slice(sort_array(edges), 1, MaxEdges))

  /** `findParent` (reference lib/collectServicesFromSummaries.ts:121-154):
    * prioritized coalesce over parent candidates, keeping WHICH branch
    * won — container > k8s.pod > host.name > host.hostname, fallback
    * `('unknown','')`. A plain `coalesce` loses the winning branch, so
    * this is a `when` chain (SURVEY.md P4). Pure projection: codegen'd,
    * zero shuffle.
    */
  def parentType: Column =
    when(col("container_id").isNotNull, lit("container"))
      .when(col("kubernetes_pod_uid").isNotNull, lit("k8s.pod"))
      .when(col("host_name").isNotNull, lit("host.name"))
      .when(col("host_hostname").isNotNull, lit("host.hostname"))
      .otherwise(lit("unknown"))

  def parentId: Column =
    coalesce(col("container_id"), col("kubernetes_pod_uid"),
      col("host_name"), col("host_hostname"), lit(""))

  /** At-least-one-parent-candidate disjunction — the reference's
    * `should` + `minimum_should_match: 1` over four `exists` clauses
    * (lib/collectServicesFromSummaries.ts:216-239; SURVEY.md F5).
    */
  def hasParentCandidate: Column =
    col("container_id").isNotNull || col("kubernetes_pod_uid").isNotNull ||
      col("host_name").isNotNull || col("host_hostname").isNotNull

  // ---------------------------------------------------------------------
  // Flagship: collectServicesFromSummaries (two-phase, SURVEY.md §3.1)
  // ---------------------------------------------------------------------

  /** Phase 1 (reference lib/collectServicesFromSummaries.ts:11-112):
    * summary signals in a trailing window, deduped to the latest
    * observation per (service_name, service_environment). The reference's
    * asc-sort + last-write-wins fold (:86-94, O(n²)) is exactly
    * `max(ts)` per key — a partial+final hash aggregate, one shuffle on
    * the (low-cardinality) service key.
    */
  def serviceSummaries(spark: SparkSession, dir: String): DataFrame =
    serviceSummariesFrom(Tables.signals(spark, dir))

  /** Phase 1 over ANY signal-shaped frame — the connector seam: the
    * same pipeline runs over a native parquet scan or over the
    * [[graft.sources.EsShapedSource]] V2 read (`svc_latest_es`), and
    * the window/term filters push into whichever source implements the
    * pushdown contract.
    */
  def serviceSummariesFrom(sig: DataFrame): DataFrame =
    Tables.trailing(sig, "ts", "7 DAY")
      .where(col("event_type") === "purchase") // ≈ metricset.name = 'service_summary' (F2)
      .groupBy(col("service_name"), col("service_environment"))
      .agg(max(col("ts")).as("latest_ts"))

  /** Phase 2 + full flagship pipeline
    * (reference lib/collectServicesFromSummaries.ts:177-319,321-325):
    * re-scan raw signals in a wider window, restricted to phase-1
    * service names — the reference builds a `terms` filter from phase-1
    * results (:209-215); here that semi-join is a broadcast hash join
    * (phase-1 output is ≤ distinct services, always tiny relative to the
    * scan), so the big side never shuffles. Then `findParent` projection
    * and asset shaping. Output is per-hit (the reference deliberately
    * does not dedup phase 2 — :292-300).
    *
    * Scan discipline: the trailing-window bound `max(ts)` is fetched
    * ONCE as a driver-side scalar and shared by both phases as a
    * LITERAL — one ts-only bound scan plus one pushdown-pruned scan per
    * phase. Re-deriving the bound per phase (or joining it in as a
    * broadcast, which defeats parquet filter pushdown and is not
    * exchange-deduplicated across phases) would pay 4 full scans of
    * the signal source per run — a scale-killer at 100 TB.
    */
  def servicesFromSummaries(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.signals(spark, dir)
    val bound = sig.agg(max(col("ts"))).head().getTimestamp(0)
    def cut(days: Int): Column =
      if (bound == null) lit(null).cast("timestamp")
      else lit(java.sql.Timestamp.from(
        bound.toInstant.minus(java.time.Duration.ofDays(days))))
    def cutRaw(days: Int): Column =
      if (bound == null) lit(true) // ts >= cut(null) already drops all rows
      else Tables.rawTsAtLeast(sig,
        bound.toInstant.minus(java.time.Duration.ofDays(days)))
    // redundant raw-twin bound → parquet row-group pruning (see
    // Tables.trailing)
    val sig14 = sig.where(col("ts") >= cut(14) && cutRaw(14))
    val phase1 = sig14
      .where(col("ts") >= cut(7) && col("event_type") === "purchase")
      .select(col("service_name")).distinct()
    val raw = sig14.where(hasParentCandidate)
    raw
      .join(broadcast(phase1), Seq("service_name"), "left_semi")
      .select(
        col("event_id"),
        col("ts"),
        ean("service", col("service_name")).as("asset_ean"),
        lit("service").as("asset_type"),
        col("service_name").as("asset_id"),
        col("service_name").as("asset_name"),
        col("service_environment"),
        parentType.as("parent_type"),
        parentId.as("parent_id"),
        concat(parentType, lit(":"), parentId).as("parent_ean")
      )
  }

  // ---------------------------------------------------------------------
  // collectServices: collapse + container graph (SURVEY.md §3.2)
  // ---------------------------------------------------------------------

  /** ES `collapse` ≡ top-1-per-key by newest timestamp (SURVEY.md A2):
    * window `row_number` with an explicit total order — ts desc plus
    * event_id desc as the deterministic tiebreaker the reference lacks
    * (SURVEY.md §7.4 risk 2). One shuffle on the collapse key.
    *
    * Scale note (measured, round 6): this declarative form is already
    * the scale-safe plan — Catalyst's InferWindowGroupLimit inserts a
    * PARTIAL WindowGroupLimit before the exchange, so each map task
    * forwards ~1 row per key and the shuffle never carries the full
    * signal scan (plan-asserted in PlanAuditSpec). A hand-built
    * `max_by(struct(all), struct(ts, event_id))` alternative has the
    * same shuffle volume but measured 10-25% SLOWER across the asset
    * pipelines (per-row struct boxing in the aggregate buffer) —
    * declaring the window and letting the optimizer place the cut
    * beats hand-scheduling it.
    */
  def collapseLatest(df: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Collapsed signal rows feeding both the service assets and the
    * container graph — reference lib/collectServices.ts:12-84: 1-hour
    * window (scaled to the fixture's 30-day span), `service.name` must
    * exist (F4), at least one parent candidate present (the body's
    * `should` + `minimum_should_match: 1` over four `exists` clauses,
    * :56-78 — binding in ES once msm is set; SURVEY.md F5 cites this
    * body explicitly, and the round-13 Query-DSL replay of the
    * verbatim request surfaced that this filter was missing here),
    * collapse on `service.name` (A2). The reference reads only the
    * first 1000 hits (a completeness bug, SURVEY.md O3) — the full
    * scan here fixes that by construction.
    */
  def collapsedServiceSignalsFrom(sig: DataFrame, interval: String): DataFrame =
    collapsedServiceSignalsFrom(sig, interval, Tables.maxBound(sig, "ts"))

  /** Bound-threaded variant: callers composing several windowed
    * pipelines over one source fetch `Tables.maxBound` once and share
    * it (see that Scaladoc).
    */
  def collapsedServiceSignalsFrom(sig: DataFrame, interval: String,
      bound: Any): DataFrame =
    collapseLatest(
      Tables.trailingWithBound(sig, "ts", interval, bound)
        .where(col("service_name").isNotNull && hasParentCandidate),
      "service_name")

  def collapsedServiceSignals(spark: SparkSession, dir: String): DataFrame =
    collapsedServiceSignalsFrom(Tables.signals(spark, dir), "21 DAY")

  /** Service-asset projection over collapsed signal rows — reference
    * lib/collectServices.ts:86-123: one asset per collapsed service row;
    * conditional enrichment columns stay null when absent (P7);
    * `asset.parents` = container EAN when the service ran in a
    * container (J2 forward edge).
    */
  def serviceAssetProjection(collapsed: DataFrame, ts: Column): DataFrame =
    collapsed.select(ts.as("asset_ts") +: named(serviceFields): _*)

  private def serviceFields: Seq[(String, Column)] = Seq(
    "asset_ean" -> serviceEan,
    "asset_type" -> lit("service"),
    "asset_id" -> col("service_name"),
    "asset_name" -> col("service_name"),
    "service_environment" -> col("service_environment"),
    "cloud_provider" -> col("cloud_provider"),
    "orchestrator_cluster_name" -> col("orchestrator_cluster_name"),
    "asset_parents" -> containerEdge)

  private def named(fields: Seq[(String, Column)]): Seq[Column] =
    fields.map { case (n, c) => c.as(n) }

  // Edge EANs shared by the per-kind pipelines and [[assetsAllFrom]];
  // the conditional ones are NULL when the referenced field is absent
  private def serviceEan: Column = ean("service", col("service_name"))
  private def podEan: Column = ean("k8s.pod", col("kubernetes_pod_uid"))
  private def containerEdge: Column =
    when(col("container_id").isNotNull, ean("container", col("container_id")))
  private def podEdge: Column = when(col("kubernetes_pod_uid").isNotNull, podEan)
  private def clusterEdge: Column =
    when(col("orchestrator_cluster_name").isNotNull,
      ean("k8s.cluster", col("orchestrator_cluster_name")))

  def servicesCollapse(spark: SparkSession, dir: String): DataFrame =
    serviceAssetProjection(collapsedServiceSignals(spark, dir), batchTs)

  /** Container assets with bidirectional graph edges — reference
    * lib/collectServices.ts:125-168: find-or-create per container,
    * appending each service EAN to `asset.children` and pod EAN to
    * `asset.references`. The reference's sequential find-or-create fold
    * is order-dependent and keeps duplicate children (`push`, :133 — a
    * bug per SURVEY.md §7.5); here it is a hash aggregation with
    * `collect_set` + `sort_array` for set semantics and deterministic
    * output. Children lists are bounded by services-per-container; at
    * 100 TB the collapse step has already reduced cardinality to
    * distinct services, so the agg input is tiny.
    */
  def containerAssets(collapsed: DataFrame, ts: Column): DataFrame =
    collapsed
      .where(col("container_id").isNotNull)
      .groupBy(col("container_id"))
      .agg(
        edgeList(collect_set(serviceEan)).as("asset_children"),
        edgeList(collect_set(podEdge)).as("asset_references")
      )
      .select(
        ts.as("asset_ts"),
        ean("container", col("container_id")).as("asset_ean"),
        lit("container").as("asset_type"),
        col("container_id").as("asset_id"),
        col("asset_children"),
        col("asset_references")
      )

  def containerGraph(spark: SparkSession, dir: String): DataFrame =
    containerAssets(collapsedServiceSignals(spark, dir), batchTs)

  // ---------------------------------------------------------------------
  // collectPods: pod/node/cluster graph (SURVEY.md §3.3)
  // ---------------------------------------------------------------------

  /** Collapsed pod signals — reference lib/collectPods.ts:12-63: both
    * pod uid AND node name must exist (F4 conjunction, :46-57), collapse
    * on pod uid (A2). Takes the signal view as input so the same
    * pipeline runs over single- or multi-path sources.
    */
  def collapsedPodSignalsFrom(sig: DataFrame): DataFrame =
    collapsedPodSignalsFrom(sig, Tables.maxBound(sig, "ts"))

  def collapsedPodSignalsFrom(sig: DataFrame, bound: Any): DataFrame =
    collapseLatest(
      Tables.trailingWithBound(sig, "ts", "21 DAY", bound)
        .where(col("kubernetes_pod_uid").isNotNull &&
          col("kubernetes_node_name").isNotNull),
      "kubernetes_pod_uid")

  def collapsedPodSignals(spark: SparkSession, dir: String): DataFrame =
    collapsedPodSignalsFrom(Tables.signals(spark, dir))

  /** Pod-asset projection shared by the single- and multi-source reads
    * (and by QueryDslSpec's verbatim-body replay).
    */
  private[graft] def podAssets(collapsed: DataFrame): DataFrame =
    collapsed.select(batchTs.as("asset_ts") +: named(podFields): _*)

  private def podFields: Seq[(String, Column)] = Seq(
    "asset_ean" -> podEan,
    "asset_type" -> lit("k8s.pod"),
    "asset_id" -> col("kubernetes_pod_uid"),
    "asset_parents" -> ean("k8s.node", col("kubernetes_node_name")),
    "asset_references" -> clusterEdge,
    "cloud_provider" -> col("cloud_provider"))

  /** Pod assets — reference lib/collectPods.ts:72-88: parent = node EAN,
    * reference edge to the orchestrator cluster when present (:80-86).
    */
  def podsCollapse(spark: SparkSession, dir: String): DataFrame =
    podAssets(collapsedPodSignals(spark, dir))

  /** Pod assets over the MULTI-PATH source union — the reference's
    * `collectPods` reads logs+APM index patterns as one search
    * (lib/collectPods.ts:13, constants.ts:1-21); here the named
    * registry resolves `signals_all` to multiple parquet paths read as
    * ONE partitioned scan (SURVEY.md S3/S6). The collapse dedup makes
    * the overlapping-source union idempotent: duplicate observations of
    * the same event collapse to one asset row, so this returns exactly
    * [[podsCollapse]]'s rows even though the input is doubled.
    */
  def podsMultiSource(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = SourceRegistry.forDir(dir).read(spark, "signals_all")
    podAssets(collapsedPodSignalsFrom(Tables.signalsFrom(Tables.eventsFrom(raw))))
  }

  /** Multi-valued field unwrap feeding an asset projection — ES
    * `fields` responses return every scalar as an array; `singleItem`
    * takes the first element or undefined
    * (lib/collectServicesFromSummaries.ts:114-119; SURVEY.md P3).
    * `try_element_at` is the null-safe Spark form (empty array → null,
    * matching `undefined`).
    */
  def svcMultivalued(spark: SparkSession, dir: String): DataFrame =
    Tables.signals(spark, dir).select(
      col("event_id"),
      ean("service", col("service_name")).as("asset_ean"),
      expr("try_element_at(service_tags, 1)").as("primary_tag"),
      size(col("service_tags")).cast("long").as("n_tags")
    )

  /** Wildcard field-family projection as a registered operator — the
    * reference's `host.*` read (lib/collectServicesFromSummaries.ts:196,
    * SURVEY.md P1) over the signal view: the caller names the family
    * prefix, [[Tables.selectFamily]] resolves the concrete columns, and
    * Catalyst prunes the scan to exactly those.
    */
  def hostFamily(spark: SparkSession, dir: String): DataFrame = {
    val fam = Tables.selectFamily(Tables.signals(spark, dir), "event_id", "host_")
    // the family picks up whatever columns the view grows (exactly the
    // ES `host.*` contract) — multi-valued members are serialized at
    // the OUTPUT boundary only (array outputs crash the driver's
    // compare; same move as Assets.edgeList), preserving NULL (absent
    // field) vs '' (empty array)
    fam.select(fam.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) =>
          when(col(f.name).isNull, lit(null).cast("string"))
            .otherwise(concat_ws("|", col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }

  /** Second multi-valued family unwrap (P3, SURVEY.md): host_aliases
    * models the ES `fields` cases service_tags doesn't — the ABSENT
    * field (NULL, vs empty array) and variable length — and the
    * normalized form dedups + sorts before serializing.
    */
  def hostMultivalued(spark: SparkSession, dir: String): DataFrame =
    Tables.signals(spark, dir).select(
      col("event_id"),
      when(col("host_name").isNotNull,
        ean("host", col("host_name"))).as("asset_ean"),
      expr("try_element_at(host_aliases, 1)").as("primary_alias"),
      size(col("host_aliases")).cast("long").as("n_aliases"),
      when(col("host_aliases").isNull, lit(null).cast("string"))
        .otherwise(concat_ws("|", array_sort(array_distinct(col("host_aliases")))))
        .as("aliases_norm")
    )

  /** Every asset pipeline, conformed to the fixed output schema
    * (SURVEY.md S4/S5) — the "one assets index" view a reference user
    * reads after a full collection run.
    */
  def assetsAll(spark: SparkSession, dir: String): DataFrame =
    assetsAllFrom(Tables.signals(spark, dir))

  /** [[assetsAll]] over ANY signal view — the seam [[graft.Run]] uses
    * to honor `--read`: the registry-resolved source (single- or
    * multi-path, any connector format) feeds one plan that returns
    * exactly the rows of the four per-kind pipelines
    * ([[serviceAssetProjection]], [[containerAssets]], [[podAssets]],
    * [[nodeAssets]]) unioned:
    *   1. ONE eager bound fetch ([[Tables.maxBound]]), applied as a
    *      literal 21-day window (the [[servicesFromSummaries]]
    *      discipline);
    *   1. ONE pruned, windowed scan, whose rows are tagged by an
    *      `explode` with up to two collapse keys: `("svc",
    *      service_name)` for service candidates and `("pod",
    *      kubernetes_pod_uid)` for pod candidates;
    *   1. ONE [[collapseLatest]] window on `(kind, key)`, so the
    *      partial `WindowGroupLimit` still cuts each map task to one
    *      row per key before the exchange;
    *   1. ONE `explode` of per-asset contributions — each collapsed
    *      service (pod) row is its own asset plus one edge of its
    *      container (node) — and ONE `groupBy(asset_ean)` that
    *      collects the edge sets of the graph kinds with [[edgeList]].
    *
    * A union of the four per-kind pipelines would not share its scan:
    * Catalyst prunes columns and pushes filters into each branch
    * separately, so the branch scans differ and `ReuseExchange` never
    * merges them. Every branch would re-read the whole source, re-parse
    * `props` and re-sort it for its own window.
    */
  def assetsAllFrom(sig: DataFrame): DataFrame = {
    val bound = Tables.maxBound(sig, "ts")
    val svcCandidate = col("service_name").isNotNull && hasParentCandidate
    val podCandidate =
      col("kubernetes_pod_uid").isNotNull && col("kubernetes_node_name").isNotNull
    val tagged = Tables.trailingWithBound(sig, "ts", "21 DAY", bound)
      .where(svcCandidate || podCandidate)
      .withColumn("__tag", explode(array(
        when(svcCandidate, struct(lit("svc").as("kind"), col("service_name").as("key"))),
        when(podCandidate,
          struct(lit("pod").as("kind"), col("kubernetes_pod_uid").as("key"))))))
      .where(col("__tag").isNotNull)
      .withColumn("__kind", col("__tag.kind"))
      .withColumn("__key", col("__tag.key"))
    val contributions = collapseLatest(tagged, "__kind", "__key")
      .select(explode(
        when(col("__kind") === "svc", array(
          contribution(serviceFields),
          when(col("container_id").isNotNull, contribution(Seq(
            "asset_ean" -> ean("container", col("container_id")),
            "asset_type" -> lit("container"),
            "asset_id" -> col("container_id"),
            "asset_children" -> serviceEan,
            "asset_references" -> podEdge)))))
        .otherwise(array(
          contribution(podFields),
          contribution(Seq(
            "asset_ean" -> ean("k8s.node", col("kubernetes_node_name")),
            "asset_type" -> lit("k8s.node"),
            "asset_id" -> col("kubernetes_node_name"),
            "asset_children" -> podEan,
            "asset_references" -> clusterEdge))))).as("__a"))
      .where(col("__a").isNotNull)
      .select("__a.*")
    // service and pod assets have exactly one contribution, so `max`
    // returns it; container and node assets are sets of edges
    val scalars = ContributionFields.filterNot(f => f == "asset_ean" || EdgeFields.contains(f))
    val aggs = scalars.map(f => max(col(f)).as(f)) ++ EdgeFields.flatMap(f =>
      Seq(max(col(f)).as(f), collect_set(col(f)).as(s"__$f")))
    val graphKind = col("asset_type").isin("container", "k8s.node")
    AssetSchema.conform(contributions
      .groupBy(col("asset_ean"))
      .agg(aggs.head, aggs.tail: _*)
      .select(batchTs.as("asset_ts") +: col("asset_ean") +: scalars.map(col) ++:
        EdgeFields.map(f =>
          when(graphKind, edgeList(col(s"__$f"))).otherwise(col(f)).as(f)): _*))
  }

  private val EdgeFields = Seq("asset_children", "asset_references")

  /** Every conformed asset column except `asset_ts`: the fields one
    * [[assetsAllFrom]] contribution carries. */
  private val ContributionFields =
    AssetSchema.schema.fieldNames.toSeq.filterNot(_ == "asset_ts")

  /** One asset's share of a collapsed row as a struct over
    * [[ContributionFields]]; fields the kind lacks are typed NULLs, so
    * every kind's struct has the one type an `explode` array needs.
    */
  private def contribution(fields: Seq[(String, Column)]): Column = {
    val m = fields.toMap
    struct(ContributionFields.map(f =>
      m.getOrElse(f, lit(null).cast("string")).as(f)): _*)
  }

  /** Node assets — reference lib/collectPods.ts:90-112: find-or-create
    * per node accumulating child pod EANs (:93-97,104) plus a cluster
    * reference edge (:107-109). Same collect_set aggregation shape as
    * [[containerGraph]].
    */
  def nodeGraph(spark: SparkSession, dir: String): DataFrame =
    nodeAssets(collapsedPodSignals(spark, dir))

  def nodeAssets(collapsed: DataFrame): DataFrame =
    collapsed
      .groupBy(col("kubernetes_node_name"))
      .agg(
        edgeList(collect_set(podEan)).as("asset_children"),
        edgeList(collect_set(clusterEdge)).as("asset_references")
      )
      .select(
        batchTs.as("asset_ts"),
        ean("k8s.node", col("kubernetes_node_name")).as("asset_ean"),
        lit("k8s.node").as("asset_type"),
        col("kubernetes_node_name").as("asset_id"),
        col("asset_children"),
        col("asset_references")
      )

  /** Latest-per-service dedup as its own named operator (SURVEY.md A1):
    * the phase-1 fold of the flagship, exposed directly.
    */
  def servicesLatest(spark: SparkSession, dir: String): DataFrame =
    serviceSummaries(spark, dir)

  /** [[servicesLatest]] over the [[graft.sources.EsShapedSource]]
    * DataSourceV2 read — same pipeline, same oracle; the trailing-
    * window bound and the term filter push into the connector
    * (`PushedFilters`, plan-asserted) instead of the parquet footer
    * machinery.
    */
  def servicesLatestEs(spark: SparkSession, dir: String): DataFrame =
    serviceSummariesFrom(Tables.signalsFrom(Tables.eventsFrom(
      SourceRegistry.forDirEs(dir).read(spark, "signals_apm"))))

  // ---------------------------------------------------------------------
  // Incremental upsert (SURVEY.md §2.8 / S4)
  // ---------------------------------------------------------------------

  /** Second batch timestamp for the upsert fixture (a later run). */
  val BatchTs2 = "2024-02-02 00:00:00"

  /** EAN-keyed merge-upsert — the reference's intended idempotency
    * contract: re-runs over overlapping windows upsert into the assets
    * index keyed by `asset.ean` (SURVEY.md §2.8; sink es_client.ts:29-31).
    * Newest `asset_ts` wins; on equal timestamps the BATCH side wins
    * (standard upsert precedence), giving a deterministic total order.
    * One shuffle on asset_ean; state never rewrites more than the keys
    * present, so at scale this is a per-key window over state ∪ batch.
    */
  def upsertAssets(state: DataFrame, batch: DataFrame): DataFrame = {
    val s = AssetSchema.conform(state).withColumn("__src", lit(0))
    val b = AssetSchema.conform(batch).withColumn("__src", lit(1))
    // deterministic TOTAL order (SURVEY §7.4 risk 2, same discipline as
    // collapseLatest): if one side carries duplicate eans with equal
    // timestamps, (ts, src) alone leaves the winner to partition order;
    // the remaining scalar columns break the tie identically on both
    // engines (nulls-first matches DuckDB's explicit NULLS FIRST)
    val tieBreak = AssetSchema.schema.fieldNames.toSeq
      .filterNot(Set("asset_ean", "asset_ts").contains)
      .map(c => col(c).asc_nulls_first)
    val w = Window.partitionBy(col("asset_ean"))
      .orderBy(col("asset_ts").desc +: col("__src").desc +: tieBreak: _*)
    s.unionAll(b)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Upsert exercised as a registered operator: yesterday's full
    * service state (21-day window, batch ts T1) merged with a fresh
    * 7-day collection stamped T2 — recently-seen services take the new
    * row, stale ones keep the old.
    */
  def assetUpsert(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.signals(spark, dir)
    val bound = Tables.maxBound(sig, "ts")
    val state = serviceAssetProjection(
      collapsedServiceSignalsFrom(sig, "21 DAY", bound), batchTs)
    val batch = serviceAssetProjection(
      collapsedServiceSignalsFrom(sig, "7 DAY", bound),
      lit(BatchTs2).cast("timestamp"))
    upsertAssets(state, batch)
  }

  /** [[assetUpsert]] THROUGH THE CONNECTOR WRITE PATH — the
    * registered twin proving the ES-shaped sink end to end: the state
    * bulk publishes a fresh index
    * ([[graft.sources.EsShapedSink.publish]], template bootstrapped at
    * writer construction), the batch bulk upserts EAN-keyed
    * ([[graft.sources.EsShapedSink.upsertInto]] — the `es_client.ts:
    * 29-31` boundary), and the returned frame is the index read BACK
    * through the connector. Hash-checked against the same DuckDB
    * oracle as [[assetUpsert]]: the write/read round trip must be
    * invisible.
    */
  def assetUpsertEs(spark: SparkSession, dir: String): DataFrame = {
    // the written index is memoized per fixture dir like every trained
    // artifact (repeated registry runs would otherwise each leak one
    // written index), and the temp trees are removed at JVM exit
    val path = esUpsertIndexCache.computeIfAbsent(dir, _ => {
      val sig = Tables.signals(spark, dir)
      val bound = Tables.maxBound(sig, "ts")
      val state = AssetSchema.conform(serviceAssetProjection(
        collapsedServiceSignalsFrom(sig, "21 DAY", bound), batchTs))
      val batch = AssetSchema.conform(serviceAssetProjection(
        collapsedServiceSignalsFrom(sig, "7 DAY", bound),
        lit(BatchTs2).cast("timestamp")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-es-upsert")
      val p = tmp.toString + "/index"
      graft.sources.EsShapedSink.publish(state, p)
      graft.sources.EsShapedSink.upsertInto(batch, p, "asset_ean")
      p
    })
    graft.sources.EsShapedSink.read(spark, path)
  }

  private val esUpsertIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    esUpsertIndexCache.values().forEach { p =>
      val root = new java.io.File(p).getParentFile
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(root)
    }))

  /** Union of two serialized edge sets (null/'' = empty), re-canonical-
    * ized: sorted, deduped, capped. The merge form of [[edgeList]].
    */
  def mergeEdgeLists(a: Column, b: Column): Column = {
    def arr(c: Column): Column =
      when(c.isNull || c === "", expr("CAST(array() AS array<string>)"))
        .otherwise(split(c, "\\|"))
    concat_ws("|",
      slice(sort_array(array_distinct(concat(arr(a), arr(b)))), 1, MaxEdges))
  }

  /** Edge-MERGING upsert: the reference's cross-run contract is that
    * graph assets accumulate — `asset.children` of a container grows as
    * later runs observe new services (find-or-create + push,
    * lib/collectServices.ts:125-168 across runs). A replace-upsert
    * ([[upsertAssets]]) would forget edges the new window didn't see;
    * this merge takes the newest run's scalars but UNIONS the edge
    * sets. One full-outer shuffle on asset_ean.
    */
  def upsertAssetsMergeEdges(state: DataFrame, batch: DataFrame): DataFrame = {
    val scalarCols = AssetSchema.schema.fieldNames.toSeq
      .filterNot(EdgeFields.contains).filterNot(_ == "asset_ean")
    val s = AssetSchema.conform(state).columns.foldLeft(AssetSchema.conform(state)) {
      (df, c) => if (c == "asset_ean") df else df.withColumnRenamed(c, s"s_$c")
    }
    val b = AssetSchema.conform(batch).columns.foldLeft(AssetSchema.conform(batch)) {
      (df, c) => if (c == "asset_ean") df else df.withColumnRenamed(c, s"b_$c")
    }
    val batchWins = col("b_asset_ts").isNotNull &&
      (col("s_asset_ts").isNull || col("b_asset_ts") >= col("s_asset_ts"))
    val merged = s.join(b, Seq("asset_ean"), "full_outer").select(
      Seq(col("asset_ean")) ++
        scalarCols.map(c =>
          when(batchWins, col(s"b_$c")).otherwise(col(s"s_$c")).as(c)) ++
        EdgeFields.map(c =>
          when(col(s"s_$c").isNull && col(s"b_$c").isNull, lit(null).cast("string"))
            .otherwise(mergeEdgeLists(col(s"s_$c"), col(s"b_$c"))).as(c)): _*)
    AssetSchema.conform(merged)
  }

  /** Merge-upsert exercised on the container graph: 21-day state at T1
    * merged with a 7-day batch at T2 — children/reference edge sets
    * union across the runs, scalars follow the newest run.
    */
  def assetUpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.signals(spark, dir)
    val bound = Tables.maxBound(sig, "ts")
    val state = containerAssets(
      collapsedServiceSignalsFrom(sig, "21 DAY", bound), batchTs)
    val batch = containerAssets(
      collapsedServiceSignalsFrom(sig, "7 DAY", bound),
      lit(BatchTs2).cast("timestamp"))
    upsertAssetsMergeEdges(state, batch)
  }
}
