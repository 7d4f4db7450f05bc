package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Artifacts.memoized

/** Storage-layout operators: the WRITE-time levers that remove
  * query-time cost at 100 TB.
  *
  * Two layouts, each with a registered query proving the read-side
  * plan shape AND (via the DuckDB oracle) that layout never changes
  * results:
  *
  *   - '''Bucketed co-located join''' ([[bucketedOrdersLineitem]] +
  *     [[q45BucketedJoin]]): both fact tables are written
  *     `bucketBy(n, joinKey)`, so a later equi-join reads matching
  *     buckets directly — zero join-side exchanges, the layout the
  *     reference's per-entity upsert stream would want for its
  *     repeatedly re-joined asset tables. Bucket count is the scale
  *     dial: 8 here; at 100 TB size it so one bucket ≈ one task's
  *     memory (e.g. 4096), and co-bucket every table sharing the key.
  *   - '''Partition-pruned scan''' ([[partitionedEventsPath]] +
  *     [[evtPartitionPruned]]): the events table written
  *     `partitionBy(event_date)`, so a date-window query reads only
  *     matching directories — `PartitionFilters` in the scan, 7 of 30
  *     partitions touched (plan-asserted in LayoutSpec). This is the
  *     time-series layout for the reference's `@timestamp`-windowed
  *     signal reads (lib/collectServicesFromSummaries.ts:23-28): at
  *     100 TB a trailing-window query prices as the window's bytes,
  *     not the table's.
  *
  * Writes are per-JVM memoized (the build-once policy of
  * [[Artifacts.memoized]] artifacts) and land under java.io.tmpdir keyed by
  * the source dir, so every scale factor gets its own layout copy.
  */
object Layout {

  private val written = scala.collection.concurrent.TrieMap.empty[String, Unit]

  private def tag(dir: String): String =
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))

  // per-JVM unique root: a second JVM overwriting a previous run's
  // layout copy would leave THIS JVM's FileStatusCache holding the old
  // listing (planning then reads deleted part files — FILE_NOT_EXIST);
  // fresh paths make every listing self-consistent by construction
  private val base: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_layout/${java.util.UUID.randomUUID().toString.take(8)}"

  /** Write orders + lineitem bucketed by order key (8 buckets, one
    * file per bucket via the pre-repartition) and register them as
    * external tables in the session catalog. Idempotent per JVM; the
    * catalog check covers a sibling session reusing the files.
    */
  def bucketedOrdersLineitem(spark: SparkSession, dir: String): (String, String) =
    synchronized {
      val t = tag(dir)
      val oT = s"graft_bkt_orders_$t"
      val lT = s"graft_bkt_lineitem_$t"
      def build(name: String, df: DataFrame, key: String): Unit =
        if (!spark.catalog.tableExists(name) || !written.contains(name)) {
          // repartition on the bucket key first: each bucket then gets
          // exactly one file, so the sortBy order survives and the read
          // side can skip its own sort when one is required
          df.repartition(8, col(key))
            .write.format("parquet")
            .bucketBy(8, key).sortBy(key)
            .option("path", s"$base/$t/$name")
            .mode("overwrite").saveAsTable(name)
          written.put(name, ())
        }
      build(oT, Tables.orders(spark, dir), "o_orderkey")
      build(lT, Tables.lineitem(spark, dir), "l_orderkey")
      (oT, lT)
    }

  /** Orders ⋈ lineitem on the co-bucketed key, aggregated per order
    * priority. `hint("merge")` pins the sort-merge path so the bucket
    * layout — not a broadcast — is what eliminates the join-side
    * exchanges (LayoutSpec asserts the only exchange left is the final
    * groupBy's). Money follows the decimal-accumulation rule
    * (OracleRelational Scaladoc) so the double is order-independent.
    */
  def q45BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = bucketedOrdersLineitem(spark, dir)
    val o = spark.table(oT)
    val l = spark.table(lT)
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("lines"))
  }

  /** Events re-laid-out as one directory per calendar day. Returns the
    * path and the laid-out schema: a zero-row partitioned write (first
    * micro-batch, fresh cluster) produces no files to infer from, so
    * the read side must carry the schema explicitly.
    */
  def partitionedEvents(spark: SparkSession, dir: String):
      (String, org.apache.spark.sql.types.StructType) =
    synchronized {
      val path = s"$base/${tag(dir)}/events_by_date"
      val laid = Tables.events(spark, dir)
        .drop("__ts_nanos", "__ts_raw")
        .withColumn("event_date", to_date(col("ts")))
      if (!written.contains(path)) {
        laid.write.partitionBy("event_date")
          .mode("overwrite").parquet(path)
        written.put(path, ())
      }
      (path, laid.schema)
    }

  /** One trailing week of events by type, over the date-partitioned
    * layout: the filter binds to the partition column, so the scan
    * lists 7 of 30 directories and never opens the rest (PartitionCount
    * plan-asserted in LayoutSpec). The oracle runs the same window as a
    * plain ts predicate over the unpartitioned table — identical rows
    * is the proof that re-layout preserved semantics.
    */
  def evtPartitionPruned(spark: SparkSession, dir: String): DataFrame = {
    val (path, schema) = partitionedEvents(spark, dir)
    spark.read.schema(schema).parquet(path)
      .where(col("event_date").between(
        lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** Bits per z-curve dimension (fixture domains: user_id < 2048 at
    * every SF, day index < 32; at scale size to the dims' true bit
    * widths — an under-sized width silently aliases high keys onto the
    * low curve, which only loosens locality, never correctness).
    */
  private val ZBits = 11

  /** Bit-interleaved z-curve key over two non-negative integral
    * columns — dim a's bit i lands at position 2i+1, dim b's at 2i.
    * Pure shift/mask arithmetic: codegen'd, no UDF.
    */
  private def zkeyExpr(a: String, b: String): String =
    (0 until ZBits).map(i =>
      s"(shiftleft(shiftright($a, $i) & 1, ${2 * i + 1}) + " +
        s"shiftleft(shiftright($b, $i) & 1, ${2 * i}))")
      .mkString("(", " + ", ")")

  /** Events re-written in z-order over (user_id, day index) — the
    * MULTI-dimensional layout lever: directory partitioning prunes on
    * ONE column chain and bucketing co-locates ONE key, while a
    * z-curve sort gives every file/row-group a tight bounding box in
    * BOTH dimensions, so parquet min/max stats prune 2-D box queries
    * (entity × time window — the reference's collapse-by-entity over a
    * trailing window is exactly this shape). `repartitionByRange` on
    * the interleaved key splits the curve into contiguous runs (one
    * per output file), `sortWithinPartitions` orders inside; the key
    * itself is dropped from the files — the layout is pure physical
    * placement, which is what the identical-result oracle proves.
    * LayoutSpec asserts the footer-stats property directly: only a
    * strict subset of files' bounding boxes intersect the query box.
    */
  def zorderedEvents(spark: SparkSession, dir: String):
      (String, org.apache.spark.sql.types.StructType) =
    synchronized {
      val path = s"$base/${tag(dir)}/events_zorder"
      val laid = Tables.events(spark, dir)
        .drop("__ts_nanos", "__ts_raw")
        .withColumn("day_idx",
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long"))
      if (!written.contains(path)) {
        laid
          .withColumn("zkey", expr(zkeyExpr("user_id", "day_idx")))
          .repartitionByRange(8, col("zkey"))
          .sortWithinPartitions(col("zkey"))
          .drop("zkey")
          .write.mode("overwrite").parquet(path)
        written.put(path, ())
      }
      (path, laid.schema)
    }

  /** A 2-D box query — one user band × one trailing week — over the
    * z-ordered layout. Both predicates bind to plain scan columns, so
    * they push into the parquet reader where the z-layout's tight
    * per-file stats turn them into row-group skips. The oracle runs
    * the same box over the original unordered table — identical rows
    * is the proof the curve is a pure physical property.
    */
  def evtZorderBox(spark: SparkSession, dir: String): DataFrame = {
    val (path, schema) = zorderedEvents(spark, dir)
    spark.read.schema(schema).parquet(path)
      .where(col("user_id").between(4, 7) && col("day_idx").between(7, 13))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** File count of the bloom-indexed layout. */
  val BloomFiles = 16

  /** Fixed point-lookup probe set — ids that exist at every test SF
    * (event_id is 0-based dense; sf0.001 already has 1000 events).
    */
  val BloomProbeIds: Seq[Long] = Seq(11L, 257L, 421L, 602L, 877L)

  /** Events re-written clustered by USER (range partitioning on
    * user_id, [[BloomFiles]] files) — deliberately uncorrelated with
    * `event_id`, the third storage-index case: directory partitioning
    * prunes a partition COLUMN, z-order min/max prunes SORTED dims,
    * and neither helps a point lookup on a high-cardinality key the
    * layout doesn't cluster — every file's (min, max) event_id box
    * spans nearly the whole domain (LayoutSpec measures it), so
    * footer stats keep everything. A per-file BLOOM index is the
    * standard lakehouse answer (Delta/Iceberg bloom filter indexes,
    * Parquet bloom pages): no false negatives ⇒ pruning is
    * correctness-free, false positives only read extra files.
    */
  def bloomClusteredEvents(spark: SparkSession, dir: String):
      (String, org.apache.spark.sql.types.StructType) =
    synchronized {
      val path = s"$base/${tag(dir)}/events_bloom"
      val laid = Tables.events(spark, dir)
        .drop("__ts_nanos", "__ts_raw")
      if (!written.contains(path)) {
        laid.repartitionByRange(BloomFiles, col("user_id"))
          .write.mode("overwrite").parquet(path)
        written.put(path, ())
      }
      (path, laid.schema)
    }

  /** The file-level skipping index: one row per data file carrying its
    * event_id Bloom filter (Spark's native BloomFilterAggregate via
    * `graft_bloom_agg` — event_id is already LONG, so it feeds the
    * sketch directly) plus the min/max the spec uses to show footer
    * stats CANNOT prune this layout. Memoized — at scale this table
    * is written once by the ingest job (it IS the Delta/Iceberg index
    * file), ~16 KB per data file at 1% fpp.
    */
  private[graft] def bloomFileIndex(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val (path, schema) = bloomClusteredEvents(spark, dir)
    memoized(spark, dir, "bloom_file_index") {
      val src = spark.read.schema(schema).parquet(path)
      // size each file's filter from the ACTUAL per-file row estimate
      // (total rows / files, +25% range-partition skew headroom) at a
      // fixed 16 bits/item (~0.04% fpp) — a fixed capacity undersizes
      // as SF grows and skipping silently degrades to keep-everything.
      // The count is one columnless scan, paid once per memoized build
      // (at scale the ingest job knows its row counts for free).
      val perFile = math.max(1024L, src.count() * 5 / 4 / BloomFiles)
      src
        .groupBy(input_file_name().as("file"))
        .agg(expr(s"graft_bloom_agg(event_id, ${perFile}L, ${perFile * 16}L)")
          .as("bloom"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
    }
  }

  /** Files whose bloom MIGHT contain any of `ids` — the planning-time
    * skipping decision of every lakehouse format, but evaluated
    * EXECUTOR-SIDE: the probe ids ride the task closure, each
    * partition of the |files|-row index deserializes its own sketches,
    * and only matching file PATHS (strings) return to the driver.
    * Collecting the sketches themselves would be ~16 KB × |files| of
    * driver heap — at 100 TB (~800k files) that is ~13 GB for a
    * decision the executors can make locally. (`might_contain` the
    * expression deliberately accepts only constant/scalar-subquery
    * sketches, so a per-file bloom COLUMN is not probeable in a plain
    * distributed filter — hence the typed mapPartitions.) No false
    * negatives ⇒ skipping is correctness-free.
    */
  private[graft] def bloomKeptFiles(spark: SparkSession, dir: String,
      ids: Seq[Long]): Array[String] = {
    import spark.implicits._
    val probe = ids.toArray
    bloomFileIndex(spark, dir)
      .select(col("file"), col("bloom")).as[(String, Array[Byte])]
      .mapPartitions(_.collect { case (file, bytes)
          if {
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
            probe.exists(bf.mightContainLong)
          } => file
        })
      .collect()
  }

  /** Point lookups through the Bloom skipping index: consult the index
    * for files that might contain any probe id, read ONLY those, then
    * apply the exact predicate (false positives die here). The
    * registered result is layout-independent by construction, so the
    * plain-IN oracle over the unindexed table is the proof; LayoutSpec
    * asserts the skipping itself — bloom keeps ≤ |probes| (+rare fps)
    * files where every file's (min, max) event_id box spans every
    * probe (the layout clusters USERS, so footer stats keep all
    * files — the case bloom indexes exist for).
    */
  def evtBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val (path, schema) = bloomClusteredEvents(spark, dir)
    val kept = bloomKeptFiles(spark, dir, BloomProbeIds)
    val src =
      if (kept.isEmpty) spark.read.schema(schema).parquet(path).where(lit(false))
      else spark.read.schema(schema).parquet(kept.toIndexedSeq: _*)
    src.where(col("event_id").isin(BloomProbeIds: _*))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }
}
