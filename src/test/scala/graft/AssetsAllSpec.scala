package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

import graft.operators.Assets
import graft.sources.{AssetSchema, SourceRegistry, Tables}

/** Differential tests for the one-scan [[Assets.assetsAllFrom]] plan:
  * it must return exactly the rows of the four per-kind pipelines
  * unioned, row for row, on the fixtures and on hand-built edge cases.
  */
class AssetsAllSpec extends SparkSpec {

  /** The four per-kind pipelines over one shared bound, unioned. */
  private def reference(sig: DataFrame): DataFrame = {
    val bound = Tables.maxBound(sig, "ts")
    val svc = Assets.collapsedServiceSignalsFrom(sig, "21 DAY", bound)
    val pod = Assets.collapsedPodSignalsFrom(sig, bound)
    Seq(
      Assets.serviceAssetProjection(svc, Assets.batchTs),
      Assets.containerAssets(svc, Assets.batchTs),
      Assets.podAssets(pod),
      Assets.nodeAssets(pod)).map(AssetSchema.conform).reduce(_.unionAll(_))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def assertSameRows(sig: DataFrame): Seq[Row] = {
    val got = sorted(Assets.assetsAllFrom(sig))
    val want = sorted(reference(sig))
    assert(got === want)
    got
  }

  private def doubledSignals(dir: String): DataFrame =
    Tables.signalsFrom(Tables.eventsFrom(
      SourceRegistry.forDir(dir).read(spark, "signals_all")))

  test("same rows as the four-pipeline union on sf0.001 and sf0.01 (doubled signals_all)") {
    for (dir <- Seq(sfDir, sfDir.replace("sf0.001", "sf0.01"))) {
      val got = assertSameRows(doubledSignals(dir))
      assert(got.map(_.getAs[String]("asset_type")).toSet ===
        Set("service", "container", "k8s.pod", "k8s.node"), dir)
      // the doubled input collapses: every EAN appears once
      assert(got.map(_.getAs[String]("asset_ean")).distinct.size === got.size, dir)
    }
  }

  test("an empty events table gives no assets") {
    val empty = tempTableDir("events",
      spark.read.parquet(s"$sfDir/events.parquet").limit(0))
    assert(assertSameRows(Tables.signals(spark, empty)).isEmpty)
  }

  test("hand-built edge cases: missing edges, NULL cluster, dual-kind rows, ts ties") {
    val s = spark; import s.implicits._
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // (event_id, ts, service, env, container, pod, host, node, cloud, cluster)
    val rows = Seq(
      (1L, t(20), "svc-a", "prod", null, null, "h-1", null, "aws", null), // service, no container
      (2L, t(20), "svc-b", "dev", "c-1", null, null, null, null, null),  // container, no pod
      (3L, t(20), null, null, null, "p-1", null, "n-1", null, null),     // pod, NULL cluster
      (4L, t(21), "svc-d", "prod", "c-2", "p-2", null, "n-2", "aws", "cl-1"), // both kinds
      // ts ties, the lower event_id first: the higher id must win
      (5L, t(22), "svc-e", "dev", "c-5", null, null, null, null, null),
      (6L, t(22), "svc-e", "dev", "c-6", null, null, null, null, null),
      (7L, t(22), null, null, null, "p-3", null, "n-3a", null, null),
      (8L, t(22), null, null, null, "p-3", null, "n-3b", null, null),
      // outside the 21-day window
      (9L, Timestamp.valueOf("2023-12-20 00:00:00"), "svc-old", "dev", "c-9", "p-9",
        null, "n-9", null, null),
      (10L, t(22), "svc-x", "dev", null, null, null, null, null, null)   // no parent candidate
    ).toDF("event_id", "ts", "service_name", "service_environment", "container_id",
      "kubernetes_pod_uid", "host_name", "kubernetes_node_name", "cloud_provider",
      "orchestrator_cluster_name")
      .withColumn("host_hostname", lit(null).cast("string"))
    val got = assertSameRows(rows)
      .map(r => r.getAs[String]("asset_ean") -> r).toMap
    def field(ean: String, f: String): String = got(ean).getAs[String](f)
    assert(got.keySet === Set("service:svc-a", "service:svc-b", "service:svc-d",
      "service:svc-e", "container:c-1", "container:c-2", "container:c-6",
      "k8s.pod:p-1", "k8s.pod:p-2", "k8s.pod:p-3",
      "k8s.node:n-1", "k8s.node:n-2", "k8s.node:n-3b"))
    assert(field("service:svc-a", "asset_parents") === null)
    assert(field("service:svc-a", "asset_children") === null)
    assert(field("container:c-1", "asset_references") === "")
    assert(field("container:c-2", "asset_references") === "k8s.pod:p-2")
    assert(field("k8s.pod:p-1", "asset_references") === null)
    assert(field("k8s.node:n-1", "asset_references") === "")
    assert(field("k8s.pod:p-2", "asset_references") === "k8s.cluster:cl-1")
    assert(field("service:svc-e", "asset_parents") === "container:c-6")
    assert(field("container:c-6", "asset_children") === "service:svc-e")
    assert(field("k8s.pod:p-3", "asset_parents") === "k8s.node:n-3b")
    assert(field("k8s.node:n-3b", "asset_children") === "k8s.pod:p-3")
  }
}
