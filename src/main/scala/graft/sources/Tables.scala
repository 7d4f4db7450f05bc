package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source layer: named parquet tables + the "signal document" view.
  *
  * Mirrors the reference's source layer (SURVEY.md §2.1): the ES search
  * source with pushed-down projection (`_source:false` + `fields`,
  * reference lib/collectServicesFromSummaries.ts:23-28) becomes a plain
  * parquet scan — Catalyst's ColumnPruning + parquet predicate pushdown
  * subsume the hand-written pushdown. Multi-index selection
  * (reference constants.ts:1-21) becomes multi-path `spark.read.parquet`.
  *
  * Scale note: each loader is a bare scan — no caching, no collect — so
  * at 100 TB the only thing that matters is that filters/projections
  * stay above these scans in the plan and get pushed down (verified via
  * .explain in the test suite).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  /** Normalizes an events-shaped scan to the engine's public schema —
    * `ts` as session-zoned TIMESTAMP — regardless of how the parquet
    * encodes the column. Two encodings exist in the wild (the driver's
    * generator has shipped both across rounds):
    *
    *   - '''TIMESTAMP(NANOS)''': Spark's vectorized reader rejects it,
    *     so the session reads it as a raw nanos long (legacy conf) and
    *     this projection converts ns→µs — matching DuckDB's own
    *     truncation, so the oracle sees identical values. The raw long
    *     survives as `__ts_nanos`.
    *   - '''TIMESTAMP(MICROS, isAdjustedToUTC=false)''': loads as
    *     TIMESTAMP_NTZ; cast to the session-zoned type (UTC session →
    *     same microsecond instants as the nanos path produced). The
    *     raw NTZ column survives as `__ts_raw`.
    *
    * Either raw twin exists for one reason: filters on the DERIVED ts
    * cannot reach the parquet scan, so [[trailing]] restates its bound
    * on the raw column ([[rawTsAtLeast]]) to get row-group pruning.
    * Explicit projections never leak the twin outward.
    */
  def eventsFrom(raw: DataFrame): DataFrame =
    raw.schema(raw.schema.fieldIndex("ts")).dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("__ts_nanos", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("__ts_raw", col("ts"))
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already session-zoned TIMESTAMP: scan column IS ts
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsFrom(table(spark, dir, "events"))
  }

  /** `ts >= bound` restated on whichever raw scan twin the frame
    * carries (see [[eventsFrom]]) — the redundant, PUSHABLE form of a
    * trailing-window bound. `lit(true)` when there is no twin: the
    * predicate is a pruning hint, never the filter of record.
    */
  def rawTsAtLeast(df: DataFrame, bound: java.time.Instant): org.apache.spark.sql.Column =
    if (df.columns.contains("__ts_nanos"))
      col("__ts_nanos") >= lit(bound.getEpochSecond * 1000000000L + bound.getNano)
    else if (df.columns.contains("__ts_raw"))
      // NTZ bound from the Instant's UTC wall-clock fields directly: a
      // LocalDateTime literal is TIMESTAMP_NTZ natively, so the bound
      // is session-timezone independent. (The previous session-zoned
      // literal → NTZ cast was only correct under the harness's pinned
      // UTC session: TZ↔NTZ is not bijective across DST transitions,
      // and this conjoined predicate is a real filter, not just a
      // pruning hint.)
      col("__ts_raw") >= lit(
        java.time.LocalDateTime.ofInstant(bound, java.time.ZoneOffset.UTC))
    else lit(true)
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** ECS-like signal view over the `events` table.
    *
    * The reference consumes observability signal documents with fields
    * `service.name`, `service.environment`, `container.id`,
    * `kubernetes.pod.uid`, `host.name`, `host.hostname`,
    * `kubernetes.node.name`, `cloud.provider`,
    * `orchestrator.cluster.name` (reference
    * lib/collectServicesFromSummaries.ts:186-197, lib/collectPods.ts:23-34).
    * The harness has no such table, so we derive those columns
    * deterministically from `events` (FIXTURES.md §3 mapping guidance:
    * event_type ≈ metricset.name, user_id ≈ entity key, props JSON for
    * parent fields). The same derivation is written in ANSI SQL at
    * [[graft.OracleAssets.signalsCte]] so DuckDB sees identical data.
    *
    * All derivations are pure per-row projections — no shuffle, fully
    * codegen'd, and cost nothing at 100 TB beyond the scan itself.
    */
  def signals(spark: SparkSession, dir: String): DataFrame =
    signalsFrom(events(spark, dir))

  /** Signal view over any events-shaped DataFrame (single- or
    * multi-path). The `service_tags` array mirrors the ES `fields` API
    * semantic that every field may arrive multi-valued (SURVEY.md P3,
    * reference lib/collectServicesFromSummaries.ts:114-119) — including
    * the empty-array case (k % 11).
    */
  def signalsFrom(e: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    val nanos =
      Seq("__ts_nanos", "__ts_raw").filter(e.columns.contains).map(col)
    e.select(Seq(
      col("event_id"),
      col("ts"),
      col("user_id"),
      col("event_type"),
      col("value"),
      k.as("k"),
      concat(lit("svc-"), (col("user_id") % 20).cast("string")).as("service_name"),
      when(col("user_id") % 2 === 0, lit("prod")).otherwise(lit("dev"))
        .as("service_environment"),
      when(k % 3 === 0, concat(lit("c-"), (k % 7).cast("string"))).as("container_id"),
      when(k % 2 === 1, concat(lit("p-"), (k % 5).cast("string")))
        .as("kubernetes_pod_uid"),
      when(k % 4 === 0, concat(lit("h-"), (k % 6).cast("string"))).as("host_name"),
      when(k % 9 =!= 8, concat(lit("hh-"), (k % 9).cast("string"))).as("host_hostname"),
      // second multi-valued family (P3): unlike service_tags (which
      // covers the empty-array case), host_aliases covers the ABSENT
      // field (ES `fields` omits it → NULL, distinct from []) and
      // variable length (1-3 aliases)
      when(k % 13 === 0, lit(null).cast("array<string>"))
        .otherwise(when(k % 6 === 0, expr("CAST(array() AS array<string>)"))
          .otherwise(slice(array(
              concat(lit("a-"), (k % 4).cast("string")),
              concat(lit("a-"), (k % 5).cast("string")),
              concat(lit("a-"), (k % 6).cast("string"))),
            lit(1), (lit(1) + k % 3).cast("int"))))
        .as("host_aliases"),
      when(k % 5 =!= 2, concat(lit("n-"), (k % 4).cast("string")))
        .as("kubernetes_node_name"),
      when(k % 5 === 0, lit("aws")).as("cloud_provider"),
      when(k % 7 === 0, concat(lit("cl-"), (k % 2).cast("string")))
        .as("orchestrator_cluster_name"),
      when(k % 11 === 0, expr("CAST(array() AS array<string>)"))
        .otherwise(array(
          concat(lit("t-"), (k % 3).cast("string")),
          concat(lit("t-"), (k % 5).cast("string"))))
        .as("service_tags")
    ) ++ nanos: _*)
  }

  /** Wildcard field-family projection — the reference projects field
    * FAMILIES, not enumerated columns: `container.*`
    * (lib/collectServices.ts:27), `host.*`
    * (lib/collectServicesFromSummaries.ts:196). ES dotted prefixes map
    * to snake_case column prefixes here, so `selectFamily(sig, "host_")`
    * is the `host.*` read. Multiple selectors compose; a selector with
    * no `_` suffix match also takes the exact column (so "event_id"
    * selects itself). Purely a projection: Catalyst prunes the scan to
    * exactly the surviving columns.
    */
  def selectFamily(df: DataFrame, selectors: String*): DataFrame = {
    val cols = df.columns.filter(c =>
      selectors.exists(s => c == s || c.startsWith(s)))
    require(cols.nonEmpty,
      s"no columns match selectors ${selectors.mkString(", ")}")
    df.select(cols.map(col): _*)
  }

  /** Time-range filter relative to the dataset's own max timestamp — the
    * Spark form of the reference's ES date math `now-10m`/`now-1h`
    * (reference lib/collectServicesFromSummaries.ts:35,204;
    * lib/collectPods.ts:41). `now` is pinned to `max(ts)` so the query is
    * deterministic for the DuckDB oracle.
    *
    * The bound is fetched EAGERLY as a one-row scalar (the analog of
    * resolving ES date math once per request) rather than joined in as
    * a broadcast: a literal bound constant-folds into
    * `ts >= TIMESTAMP '...'`, which pushes into the parquet scan as a
    * row-group-pruning filter — at 100 TB the difference between
    * skipping cold partitions entirely and scanning them. The bound
    * computation itself is a column-pruned ts-only scan with a
    * partial→final max, and runs once per pipeline (a broadcast-join
    * form is NOT deduplicated across phases — measured 2× bound scans
    * via un-reused exchanges).
    */
  def trailing(df: DataFrame, tsCol: String, interval: String): DataFrame =
    trailingWithBound(df, tsCol, interval, maxBound(df, tsCol))

  /** The dataset's max timestamp, fetched eagerly — the date-math
    * resolution step. Callers composing SEVERAL windowed pipelines over
    * one source (e.g. [[graft.operators.Assets.assetUpsert]]) must
    * fetch this ONCE and thread it through [[trailingWithBound]]: each
    * fetch is a full (column-pruned) scan job that runs before the real
    * action. [[graft.operators.Assets.assetsAll]] fetches it once for
    * its one windowed scan.
    */
  def maxBound(df: DataFrame, tsCol: String): Any =
    df.agg(max(col(tsCol))).head().get(0)

  private val SimpleDays = """(\d+)\s+DAYS?""".r

  def trailingWithBound(df: DataFrame, tsCol: String, interval: String,
      bound: Any): DataFrame = {
    // empty input (e.g. an empty first micro-batch): no bound, no rows
    if (bound == null) return df.where(lit(false))
    // Day intervals subtract a fixed duration in the UTC session, so
    // the arithmetic runs on the driver JVM with no Spark job; other
    // interval shapes (months etc.) fall back to a 1-row evaluation
    // job for engine-exact semantics.
    val threshold = (interval, bound) match {
      case (SimpleDays(d), t: java.sql.Timestamp) =>
        java.sql.Timestamp.from(
          t.toInstant.minus(java.time.Duration.ofDays(d.toLong)))
      case _ => df.sparkSession.range(1)
        .select((lit(bound) - expr(s"INTERVAL $interval")).cast("timestamp"))
        .head().getTimestamp(0)
    }
    val filtered = df.where(col(tsCol) >= lit(threshold))
    // Redundant predicate on the RAW scan twin (when the source carries
    // one): the derived-ts comparison can't reach the parquet scan, the
    // raw one pushes down to row-group stats — at 100 TB this is what
    // prunes cold time partitions instead of scanning them.
    if (threshold != null) filtered.where(rawTsAtLeast(df, threshold.toInstant))
    else filtered
  }
}
