package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Assets, DslQueries}
import graft.plans.QueryDsl

/** The Query-DSL compiler replayed against the reference's OWN request
  * bodies: each JSON below is the verbatim `SearchRequest` the
  * reference builds (windows and values translated declaratively by
  * the env's Mapping — dateMath 10m→7d/15m→14d/1h→21d and
  * `service_summary`→`purchase`, the same fixture scaling the
  * hand-written pipelines use), compiled to a DataFrame, post-processed
  * with the reference's client-side fold, and asserted BIT-EQUAL to the
  * flagship pipelines built by hand in Assets.scala. Plus unit replays
  * for the clauses the four bodies don't reach (search_after keyset,
  * terms lookup, minimum_should_match > 1, match_bool_prefix,
  * null-safe must_not).
  */
class QueryDslSpec extends SparkSpec {

  private lazy val env = DslQueries.signalEnv(spark, sfDir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** lib/collectServicesFromSummaries.ts:12-49 — phase 1: summary
    * signals in the trailing window, asc-sorted, fields-projected.
    */
  private val summariesPhase1 = s"""{
    "index": ["${DslQueries.ApmPattern}"],
    "size": 1000,
    "sort": [{"@timestamp": "asc"}],
    "_source": false,
    "fields": ["@timestamp", "service.name", "service.environment"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-10m"}}}],
        "must": [{"term": {"metricset.name": "service_summary"}}]
      }
    }
  }"""

  /** lib/collectServicesFromSummaries.ts:178-241 — phase 2, with the
    * data-dependent `terms` built from phase-1 results (:209-215)
    * spliced in by the caller exactly as the reference splices
    * `services.map(s => s.name)`.
    */
  private def summariesPhase2(termsJson: String) = s"""{
    "index": ["${DslQueries.ApmPattern}"],
    "size": 1000,
    "sort": [{"@timestamp": "asc"}],
    "_source": false,
    "fields": ["@timestamp", "data_stream.dataset", "event.dataset",
               "service.name", "service.environment", "container.id",
               "kubernetes.pod.uid", "kubernetes.pod.name", "host.*"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-15m"}}}],
        "must": [{"terms": {"service.name": $termsJson}}],
        "should": [
          {"exists": {"field": "container.id"}},
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "host.name"}},
          {"exists": {"field": "host.hostname"}}
        ],
        "minimum_should_match": 1
      }
    }
  }"""

  test("replay: two-phase collectServicesFromSummaries bodies == svc_summaries (and phase-1 fold == svc_latest)") {
    // phase 1 drain + the reference's client fold (:86-94 — last write
    // wins per (name, env) ≡ max(ts)) equals the svc_latest operator
    val p1 = QueryDsl.drain(env, summariesPhase1)
    val latest = p1.groupBy(col("service_name"), col("service_environment"))
      .agg(max(col("ts")).as("latest_ts"))
    assert(rows(latest) === rows(Assets.servicesLatest(spark, sfDir)))

    // the reference materializes phase-1 hits client-side and injects
    // the names as a literal terms array (:209-215)
    val names = p1.select(col("service_name")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(names.nonEmpty)
    val termsJson = names.map(n => "\"" + n + "\"").mkString("[", ", ", "]")
    val hits = QueryDsl.drain(env, summariesPhase2(termsJson))
    // client-side shaping (:250-276): findParent + EAN projection —
    // the same projection devices the hand pipeline uses
    val replayed = hits.select(
      col("event_id"), col("ts"),
      Assets.ean("service", col("service_name")).as("asset_ean"),
      lit("service").as("asset_type"),
      col("service_name").as("asset_id"),
      col("service_name").as("asset_name"),
      col("service_environment"),
      Assets.parentType.as("parent_type"),
      Assets.parentId.as("parent_id"),
      concat(Assets.parentType, lit(":"), Assets.parentId).as("parent_ean"))
    assert(rows(replayed) === rows(Assets.servicesFromSummaries(spark, sfDir)))
  }

  /** lib/collectServices.ts:12-81 — collapse on service.name, newest
    * first, exists-must + parent-candidate should (msm 1), including
    * the reference's typo'd `kubneretes.pod.name` and fields absent
    * from the fixture mapping (node.id, namespace) which project to
    * nothing, exactly as ES returns no entry for unmapped fields.
    */
  private val servicesBody = s"""{
    "index": ["${DslQueries.ApmPattern}"],
    "size": 1000,
    "collapse": {"field": "service.name"},
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["service.name", "service.environment", "container.*",
               "kubernetes.pod.uid", "kubneretes.pod.name",
               "kubernetes.node.id", "kubernetes.node.name",
               "kubernetes.namespace", "cloud.provider",
               "orchestrator.cluster.name", "host.name", "host.hostname"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-1h"}}}],
        "must": [{"exists": {"field": "service.name"}}],
        "should": [
          {"exists": {"field": "container.id"}},
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "host.name"}},
          {"exists": {"field": "host.hostname"}}
        ],
        "minimum_should_match": 1
      }
    }
  }"""

  test("replay: collectServices body == svc_collapse") {
    val hits = QueryDsl.drain(env, servicesBody)
    val replayed = Assets.serviceAssetProjection(hits, Assets.batchTs)
    assert(rows(replayed) === rows(Assets.servicesCollapse(spark, sfDir)))
  }

  /** lib/collectPods.ts:12-60 — the logs∪apm multi-index read
    * (:13 — `[getLogsIndices(), getApmIndices()]`), pod+node exists
    * conjunction, collapse on pod uid.
    */
  private val podsBody = s"""{
    "index": ["${DslQueries.LogsPattern}", "${DslQueries.ApmPattern}"],
    "size": 1000,
    "collapse": {"field": "kubernetes.pod.uid"},
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["kubernetes.pod.uid", "kubneretes.pod.name",
               "kubernetes.node.id", "kubernetes.node.name",
               "kubernetes.namespace", "cloud.provider",
               "orchestrator.cluster.name", "host.name", "host.hostname"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-1h"}}}],
        "must": [
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "kubernetes.node.name"}}
        ]
      }
    }
  }"""

  test("replay: collectPods body (multi-index) == pods_collapse") {
    val hits = QueryDsl.drain(env, podsBody)
    val replayed = Assets.podAssets(hits)
    assert(rows(replayed) === rows(Assets.podsCollapse(spark, sfDir)))
  }

  // -----------------------------------------------------------------
  // Clause-level replays
  // -----------------------------------------------------------------

  test("search_after compiles to the strictly-after keyset predicate") {
    val base = s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "sort": [{"@timestamp": "asc"}],
      "fields": ["@timestamp", "service.name"],
      "query": {"bool": {"filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}]}}
    }"""
    val all = QueryDsl.drain(env, base).collect()
    assert(all.length > 10)
    // page boundary: a mid-range timestamp from the data itself
    val cut = all.map(_.getTimestamp(1)).sorted(
      Ordering.by((t: java.sql.Timestamp) => t.getTime)).apply(all.length / 2)
    val after = s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "sort": [{"@timestamp": "asc"}],
      "search_after": ["${cut.toInstant}"],
      "fields": ["@timestamp", "service.name"],
      "query": {"bool": {"filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}]}}
    }"""
    val page2 = QueryDsl.drain(env, after).collect()
    val expected = all.filter(_.getTimestamp(1).after(cut))
    assert(page2.map(_.toString).sorted.toSeq ===
      expected.map(_.toString).sorted.toSeq)
    // and the size cut is the sorted prefix
    val page1 = QueryDsl.search(env,
      base.replaceFirst("\\{", """{"size": 7,"""))
    assert(page1.count() === 7)
  }

  test("terms lookup compiles to a broadcast semi-join equal to the literal list") {
    import spark.implicits._
    val wanted = Seq("svc-1", "svc-7", "svc-13")
    val lookupEnv = env.copy(lookups =
      Map("selected_services" -> wanted.toDF("service_name")))
    val viaLookup = QueryDsl.drain(lookupEnv, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["@timestamp", "service.name"],
      "query": {"bool": {"must": [{"terms": {"service.name":
        {"index": "selected_services", "path": "service.name"}}}]}}
    }""")
    val viaList = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["@timestamp", "service.name"],
      "query": {"bool": {"must": [{"terms": {"service.name":
        ["svc-1", "svc-7", "svc-13"]}}]}}
    }""")
    assert(rows(viaLookup) === rows(viaList))
    assert(viaLookup.count() > 0)
    // and the lookup executes as a BROADCAST left-semi join — the
    // data-dependent terms never shuffle the big side
    val p = viaLookup.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1000))
  }

  test("must_not is null-safe (absent field MATCHES the negation) and msm>1 counts") {
    val notAws = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["cloud.provider"],
      "query": {"bool": {"must_not": [{"term": {"cloud.provider": "aws"}}]}}
    }""")
    val sig = graft.sources.Tables.signals(spark, sfDir)
    assert(notAws.count() ===
      sig.where(col("cloud_provider").isNull || col("cloud_provider") =!= "aws").count())
    assert(notAws.where(col("cloud_provider").isNull).count() > 0)

    val twoOfThree = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["container.id", "kubernetes.pod.uid", "host.name"],
      "query": {"bool": {"should": [
        {"exists": {"field": "container.id"}},
        {"exists": {"field": "kubernetes.pod.uid"}},
        {"exists": {"field": "host.name"}}
      ], "minimum_should_match": 2}}
    }""")
    val manual = sig.where(
      (when(col("container_id").isNotNull, 1).otherwise(0) +
        when(col("kubernetes_pod_uid").isNotNull, 1).otherwise(0) +
        when(col("host_name").isNotNull, 1).otherwise(0)) >= 2)
    assert(twoOfThree.count() === manual.count())
    assert(twoOfThree.count() > 0)
  }

  test("match_bool_prefix: full-term members plus prefix-expanded tail") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val hits = QueryDsl.drain(denv, """{
      "index": ["docs-*"],
      "fields": ["n_chars"],
      "query": {"match_bool_prefix": {"text": "merge slo"}}
    }""")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val brute = docs.where(
      array_contains(split(col("text"), " "), "merge") &&
        exists(split(col("text"), " "), w => w.startsWith("slo")))
    assert(hits.count() === brute.count())
    assert(hits.count() > 0)
  }

  test("aggs: nested date_histogram x terms with metrics replays the manual plan") {
    val got = QueryDsl.search(env, DslQueries.AggsBody).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))))
      .toMap
    val sig = graft.sources.Tables.signals(spark, sfDir)
    val bound = graft.sources.Tables.maxBound(sig, "ts")
    val manual = graft.sources.Tables
      .trailingWithBound(sig, "ts", "21 DAY", bound)
      .groupBy(to_date(col("ts")).as("per_day"), col("event_type").as("by_type"))
      .agg(count(lit(1)).as("doc_count"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"),
        (sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(col("value")).cast("double")).as("value_avg"),
        max(col("value")).as("value_max"),
        countDistinct(col("user_id")).as("n_users"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))))
    // per-day terms cut: top 3 types by (doc_count desc, type asc)
    val want = manual.groupBy(_._1._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case ((_, t), (dc, _, _, _, _)) => (-dc, t) }.take(3)
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // metrics-only request (no buckets): one global row
    val totals = QueryDsl.search(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "size": 0,
      "aggs": {"vsum": {"sum": {"field": "value"}},
               "vcnt": {"value_count": {"field": "value"}}}
    }""").collect()
    assert(totals.length === 1)
    assert(totals.head.getAs[Long]("doc_count") === sig.count())
  }

  test("has_child / has_parent: join-field queries replay from the doc set") {
    import graft.operators.GraphOps
    val docs = graft.operators.Assets.assetsAll(spark, sfDir).collect()
    val byEan = docs.map(r => r.getAs[String]("asset_ean") -> r).toMap
    def edgesOf(r: org.apache.spark.sql.Row, c: String): Seq[String] =
      Option(r.getAs[String](c)).filter(_.nonEmpty).toSeq
        .flatMap(_.split("\\|").toSeq)
    // (child, parent) relation: parents lists + inverted children lists
    val pc = docs.flatMap(r =>
      edgesOf(r, "asset_parents").map(p => (r.getAs[String]("asset_ean"), p)) ++
        edgesOf(r, "asset_children").map(c => (c, r.getAs[String]("asset_ean"))))
      .distinct
    val prodSvc = docs.filter(r => r.getAs[String]("asset_type") == "service" &&
      r.getAs[String]("service_environment") == "prod")
      .map(_.getAs[String]("asset_ean")).toSet
    val wantParents = pc.filter(e => prodSvc(e._1)).groupBy(_._2)
      .view.mapValues(_.map(_._1).distinct.length.toLong).toMap
      .filter { case (p, _) => byEan.contains(p) }
    val gotChild = GraphOps.assetHasChild(spark, sfDir).collect()
      .map(r => r.getAs[String]("asset_ean") -> r.getAs[Long]("n_matching_children"))
      .toMap
    assert(gotChild === wantParents)
    assert(gotChild.nonEmpty)
    // the has_child hits are PARENT docs (containers/hosts) — none of
    // them satisfies the child predicate itself: matched only through
    // the join field
    gotChild.keys.foreach { ean =>
      assert(!prodSvc(ean), s"$ean matched through itself, not its child")
    }

    val clusteredNodes = docs.filter(r => r.getAs[String]("asset_type") == "k8s.node" &&
      Option(r.getAs[String]("asset_references")).exists(_.nonEmpty))
      .map(_.getAs[String]("asset_ean")).toSet
    val wantChildren = pc.filter(e => clusteredNodes(e._2)).groupBy(_._1)
      .view.mapValues(_.map(_._2).distinct.length.toLong).toMap
      .filter { case (c, _) => byEan.contains(c) }
    val gotParent = GraphOps.assetHasParent(spark, sfDir).collect()
      .map(r => r.getAs[String]("asset_ean") -> r.getAs[Long]("n_matching_parents"))
      .toMap
    assert(gotParent === wantChildren)
    assert(gotParent.nonEmpty)
    gotParent.keys.foreach { ean =>
      assert(!clusteredNodes(ean), s"$ean matched through itself, not its parent")
    }
  }

  test("scored match (_score sort): compiled hits equal the bm25 operator's ranking") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.ScoreBody).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("rank"), r.getAs[Long]("score"), r.getAs[Long]("n_matched"))))
      .toMap
    // the same query through the stored-index bm25 operator: identical
    // grid scores, identical ranking (the compiler builds its index
    // relations from the frame; the operator reads the memoized store)
    val want = graft.operators.TextOps.bm25(spark, sfDir,
      Seq(0L -> Seq("spark", "join", "window"))).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("rank"), r.getAs[Long]("score"), r.getAs[Long]("n_matched"))))
      .toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("filters agg: overlapping named buckets from one conditional pass") {
    val got = QueryDsl.search(env, DslQueries.FiltersBody).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.get(3), r.getLong(4)))).toMap
    assert(got.keySet === Set("views", "big_errors", "tagged_aws"))
    val sig = graft.sources.Tables.signals(spark, sfDir)
    def expect(pred: org.apache.spark.sql.Column) = {
      val r = sig.agg(
        sum(when(pred, 1L).otherwise(0L)),
        coalesce(sum(when(pred, col("value").cast("decimal(18,2)"))).cast("double"), lit(0.0d)),
        max(when(pred, col("value"))),
        countDistinct(when(pred, col("user_id")))).head()
      (r.getLong(0), r.getDouble(1), r.get(2), r.getLong(3))
    }
    assert(got("views") === expect(col("event_type") === "view"))
    assert(got("big_errors") ===
      expect(col("event_type") === "error" && col("value") >= 100))
    assert(got("tagged_aws") === expect(
      coalesce(col("cloud_provider") === "aws", lit(false)) &&
        col("container_id").isNotNull))
    // the buckets overlap with the corpus: totals exceed no constraint,
    // and every bucket here is non-empty
    got.values.foreach { case (dc, _, _, _) => assert(dc > 0L) }
  }

  test("wildcard and fuzzy compile to filter-context predicates") {
    val sig = graft.sources.Tables.signals(spark, sfDir)
    val wc = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["service.name"],
      "query": {"wildcard": {"service.name": {"value": "svc-1?"}}}
    }""")
    assert(wc.count() ===
      sig.where(col("service_name").rlike("^svc-1.$")).count())
    assert(wc.count() > 0)
    val fz = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["cloud.provider"],
      "query": {"fuzzy": {"cloud.provider": {"value": "avs", "fuzziness": 1}}}
    }""")
    assert(fz.count() ===
      sig.where(levenshtein(col("cloud_provider"), lit("avs")) <= 1).count())
    assert(fz.count() > 0)
  }

  test("prefix, ids, constant_score compile to the obvious predicates") {
    val sig = graft.sources.Tables.signals(spark, sfDir)
    val pre = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["service.name"],
      "query": {"prefix": {"service.name": {"value": "svc-1"}}}
    }""")
    assert(pre.count() ===
      sig.where(col("service_name").startsWith("svc-1")).count())
    assert(pre.count() > 0)

    val byIds = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["@timestamp"],
      "query": {"constant_score": {"filter": {"ids": {"values": [3, 11, 42]}}}}
    }""").collect()
    assert(byIds.map(_.getLong(0)).sorted.toSeq === Seq(3L, 11L, 42L))
  }

  test("multi_match best_fields == the equivalent dis_max (ES's documented desugar)") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val viaMulti = QueryDsl.search(denv, DslQueries.MultiMatchBody).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("rank"), r.getAs[Double]("score")))).toMap
    val viaDisMax = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 12, "sort": ["_score"], "_source": false,
      "fields": ["lang", "source"],
      "query": {"dis_max": {"tie_breaker": 0.5, "queries": [
        {"match": {"text": "src7 spark stream"}},
        {"match": {"source": {"query": "src7 spark stream", "boost": 2}}}
      ]}}
    }""").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("rank"), r.getAs[Double]("score")))).toMap
    assert(viaMulti === viaDisMax)
    assert(viaMulti.nonEmpty)
  }

  test("multi_match most_fields sums per-field scores (tie_breaker-1.0 arithmetic)") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 8, "sort": ["_score"], "_source": false,
      "fields": ["source"],
      "query": {"multi_match": {"query": "src7 spark",
        "fields": ["text", "source"], "type": "most_fields"}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // brute-force: per-field single-match scored reads, summed
    def fieldScores(body: String): Map[Long, Double] =
      QueryDsl.search(denv, body).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val all = """{"index": ["docs-*"], "size": 1000000, "sort": ["_score"],
      "fields": [], "query": {"bool": {"should": [%s]}}}"""
    val text = fieldScores(all.format("""{"match": {"text": "src7 spark"}}"""))
    val src = fieldScores(all.format("""{"match": {"source": "src7 spark"}}"""))
    got.foreach { case (id, s) =>
      val want = text.getOrElse(id, 0.0) + src.getOrElse(id, 0.0)
      assert(s === want, s"doc $id")
    }
    assert(got.nonEmpty)
  }

  test("scored bool: msm gates shoulds, constant_score lands on the grid, term == single-token match") {
    val denv = DslQueries.docEnv(spark, sfDir)
    // only-shoulds bool with msm=2: every hit matched BOTH clauses
    val msm2 = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 500, "sort": ["_score"], "fields": [],
      "query": {"bool": {"minimum_should_match": 2, "should": [
        {"match": {"text": "spark"}}, {"match": {"text": "stream"}}
      ]}}
    }""").collect().map(_.getAs[Long]("doc_id")).toSet
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val both = docs.where(array_contains(split(col("text"), " "), "spark") &&
      array_contains(split(col("text"), " "), "stream"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(msm2.subsetOf(both) && msm2.size === math.min(both.size, 500))
    // constant_score: every hit scores boost * 2^40 exactly
    val cs = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 5, "sort": ["_score"], "fields": [],
      "query": {"constant_score": {"filter": {"term": {"lang": "de"}}, "boost": 3}}
    }""").collect()
    assert(cs.nonEmpty)
    cs.foreach(r => assert(r.getAs[Double]("score") === 3.0 * 1099511627776.0))
    // scored term == the single-token match through the same engine
    val viaTerm = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 9, "sort": ["_score"], "fields": [],
      "query": {"term": {"source": "src3"}}
    }""").collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    val viaMatch = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 9, "sort": ["_score"], "fields": [],
      "query": {"match": {"source": {"query": "src3", "boost": 1}}}
    }""").collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    assert(viaTerm === viaMatch)
    assert(viaTerm.nonEmpty)
  }

  test("hybrid rank.rrf fuses knn and query ranks on the integer grid") {
    val henv = DslQueries.hybridEnv(spark, sfDir)
    val got = QueryDsl.search(henv, DslQueries.HybridBody).collect()
    assert(got.length === 10)
    // every hit came from ≥1 side, and the fused score IS the
    // reciprocal-rank formula of its recorded ranks
    got.foreach { r =>
      val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
      val vec = Option(r.getAs[java.lang.Long]("vec_rank")).map(_.toLong)
      assert(lex.isDefined || vec.isDefined)
      val want = lex.map(x => 1099511627776L / (60L + x)).getOrElse(0L) +
        vec.map(x => 1099511627776L / (60L + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_score") === want)
    }
    // the lexical ranks agree with the standalone scored read of the
    // same match over the same index
    val lexRanks = QueryDsl.search(henv, """{
      "index": ["hybrid-*"], "size": 20, "sort": ["_score"], "fields": [],
      "query": {"match": {"text": "spark join window"}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    got.foreach { r =>
      Option(r.getAs[java.lang.Long]("lex_rank")).foreach { lr =>
        assert(lexRanks(r.getAs[Long]("doc_id")) === lr.toLong)
      }
    }
  }

  test("aggs stats/percentiles/percentile_ranks flatten and missing fills the null bucket") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.AggsStatsBody).collect()
      .map(r => r.getAs[String]("by_lang") -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val want = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n"), min(col("n_chars")).as("mn"),
      max(col("n_chars")).as("mx"), sum(col("n_chars")).as("sm"),
      expr("percentile(n_chars, 0.5)").as("p50"))
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (lang, r) =>
      val w = want(lang)
      assert(r.getAs[Long]("len_count") === w.getAs[Long]("n"))
      assert(r.getAs[Long]("len_min") === w.getAs[Long]("mn"))
      assert(r.getAs[Long]("len_max") === w.getAs[Long]("mx"))
      assert(r.getAs[Long]("len_sum") === w.getAs[Long]("sm"))
      assert(r.getAs[Double]("lenq_p50") === w.getAs[Double]("p50"))
      val pr300 = r.getAs[Double]("lenr_pr_300")
      assert(pr300 >= 0.0 && pr300 <= r.getAs[Double]("lenr_pr_600"))
    }
    // missing: the null-provider docs land in the named bucket, so the
    // bucket counts sum to the full stream
    val buckets = QueryDsl.search(env, DslQueries.AggsMissingBody).collect()
      .map(r => r.getAs[String]("by_provider") -> r.getAs[Long]("doc_count")).toMap
    val sig = graft.sources.Tables.signals(spark, sfDir)
    assert(buckets.getOrElse("none", 0L) ===
      sig.where(col("cloud_provider").isNull).count())
    assert(buckets.values.sum === sig.count())
  }

  test("highlight: fragment wraps the query terms around the first occurrence") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val hits = QueryDsl.search(denv, DslQueries.HighlightBody).collect()
    assert(hits.length === 5)
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val qterms = Set("merge", "vector")
    hits.foreach { r =>
      val words = texts(r.getAs[Long]("doc_id")).split(" ")
      val firstPos = words.indexWhere(qterms.contains) + 1 // 1-based
      assert(r.getAs[Long]("first_pos") === firstPos.toLong)
      val fragment = r.getAs[String]("fragment")
      assert(qterms.exists(t => fragment.contains(s"<em>$t</em>")))
      // the fragment is the plain slice with only query terms wrapped
      val start = r.getAs[Long]("frag_start").toInt - 1
      val end = math.min(words.length, firstPos + graft.operators.TextOps.HlWindow)
      val want = words.slice(start, end)
        .map(w => if (qterms(w)) s"<em>$w</em>" else w).mkString(" ")
      assert(fragment === want)
    }
  }

  test("geo_bounding_box and geo_distance compile to integer microdegree predicates") {
    val genv = DslQueries.geoEnv(spark, sfDir)
    val got = QueryDsl.drain(genv, DslQueries.GeoBody).collect()
      .map(_.getAs[Long]("event_id")).toSet
    val coords = graft.operators.GeoOps.attachCoords(
      graft.sources.Tables.events(spark, sfDir))
    val want = coords.where(
      col("lat_micro") >= 90000000L && col("lat_micro") <= 150000000L &&
        col("lon_micro") >= 135000000L && col("lon_micro") <= 225000000L &&
        ((col("lon_micro") - 180000000L) * (col("lon_micro") - 180000000L) +
          (col("lat_micro") - 90000000L) * (col("lat_micro") - 90000000L))
          < lit(40000000L * 40000000L))
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === want)
    assert(got.nonEmpty)
    assert(got.size < coords.count(), "the ring must genuinely filter")
  }

  test("rescore: the phrase-boost window re-ranks the primary top") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.RescoreBody).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    // boost 1 forces the general scorer (double scores, full window)
    val primary = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 30, "sort": ["_score"], "fields": [],
      "query": {"match": {"text": {"query": "spark join", "boost": 1}}}
    }""").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    got.foreach { case (id, s) =>
      val bonus =
        if ((" " + texts(id) + " ").contains(" spark join ")) 2.0 * 1099511627776.0
        else 0.0
      assert(s === 1.0 * primary(id) + 1.0 * bonus, s"doc $id")
    }
    assert(got.nonEmpty)
  }

  test("aggs top_hits: per-bucket window top-N rows with the id tiebreak") {
    val got = QueryDsl.search(env, DslQueries.TopHitsBody).collect()
      .map(r => (r.getAs[String]("by_type"), r.getAs[Long]("hit_rank")) ->
        r.getAs[Long]("event_id")).toMap
    val sig = graft.sources.Tables.signals(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = sig.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("rn").toLong) ->
        r.getAs[Long]("event_id")).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("significant_terms: JLH over fg/bg counts, positive correlation only") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.SigTermsBody).collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("lang"), col("source")).collect()
    val fgTotal = docs.count(_.getString(0) == "en").toDouble
    val bgTotal = docs.length.toDouble
    got.foreach { r =>
      val src = r.getAs[String]("sig_sources")
      val fg = docs.count(x => x.getString(0) == "en" && x.getString(1) == src)
      val bg = docs.count(_.getString(1) == src)
      assert(r.getAs[Long]("doc_count") === fg.toLong)
      assert(r.getAs[Long]("bg_count") === bg.toLong)
      val (fgp, bgp) = (fg / fgTotal, bg / bgTotal)
      assert(fgp > bgp, s"only positively-correlated terms may surface ($src)")
      assert(r.getAs[Double]("score") === (fgp - bgp) * (fgp / bgp))
    }
  }

  test("composite: after pages on disjointly and in key order") {
    val page1 = QueryDsl.search(env, DslQueries.CompositeBody).collect()
    assert(page1.length === 8)
    val last = page1.last
    val afterBody = DslQueries.CompositeBody.replace(
      "\"size\": 8,",
      s""""size": 8,
         |"after": {"day": "${last.getAs[java.sql.Date]("day")}",
         |          "type": "${last.getAs[String]("type")}"},""".stripMargin)
    val page2 = QueryDsl.search(env, afterBody).collect()
    assert(page2.nonEmpty)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[java.sql.Date]("day").toString, r.getAs[String]("type"))
    assert(page1.map(key).toSet.intersect(page2.map(key).toSet).isEmpty)
    // page2 picks up exactly where page1 stopped: the manual full
    // grouped frame's next |page2| keys
    val sig = graft.sources.Tables.signals(spark, sfDir)
    val full = sig.groupBy(to_date(col("ts")).as("day"),
        col("event_type").as("type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day").asc, col("type").asc).collect().map(key)
    val expected = full.drop(8).take(page2.length)
    assert(page2.map(key).toSeq === expected.toSeq)
  }

  test("function_score: weight functions multiply onto the base score") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.FunctionScoreBody).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("score"), r.getAs[String]("lang"),
          r.getAs[String]("source"))).toMap
    assert(got.nonEmpty)
    // base scores from the plain scored read over the same match
    val base = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"match": {"text": {"query": "spark join window", "boost": 1}}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    got.foreach { case (id, (s, lang, source)) =>
      val w = (if (Set("src1", "src3", "src5")(source)) 3.0 else 1.0) *
        (if (lang == "en") 2.0 else 1.0)
      assert(s === base(id) * w, s"doc $id")
    }
  }

  test("suggest envelope == the term-suggester operator over the same inputs") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val body = s"""{
      "index": ["docs-*"], "size": 0,
      "suggest": {"s": {"text": "${graft.operators.TextOps.SuggestInputs.mkString(" ")}",
        "term": {"field": "text", "size": ${graft.operators.TextOps.SuggestTopK}}}}
    }"""
    val got = rows(QueryDsl.search(denv, body))
    // same docs, same Σtf vocabulary, same blocking: identical output
    val want = rows(graft.operators.TextOps.suggest(spark, sfDir))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("phrase suggest envelope == the phrase-suggester operator on the shared pair") {
    val got = rows(QueryDsl.search(DslQueries.docEnv(spark, sfDir),
      DslQueries.SuggestPhraseBody))
    // operator workload pair 0 IS the body's text ("ordr scann"); the
    // envelope response drops query_id (single request) — same
    // vocabulary, same candidates, same bigram LM: identical rows
    val want = rows(graft.operators.TextOps.suggestPhrase(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("query_id") === 0L)
      .drop("query_id"))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("completion suggest envelope == the completion operator on the shared prefix") {
    val got = rows(QueryDsl.search(DslQueries.docEnv(spark, sfDir),
      DslQueries.SuggestCompletionBody))
    val want = rows(graft.operators.TextOps.suggestCompletion(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("input_prefix") === "cust"))
    assert(got === want)
    assert(got.nonEmpty)
    // a three-token phrase text fails fast (two-slot scope, no silent cut)
    val e = intercept[IllegalArgumentException] {
      QueryDsl.search(DslQueries.docEnv(spark, sfDir), """{
        "index": ["docs-*"], "size": 0,
        "suggest": {"p": {"text": "a b c", "phrase": {"field": "text"}}}
      }""")
    }
    assert(e.getMessage.contains("two-slot"), e.getMessage)
  }

  test("more_like_this: seeds excluded, every hit shares seed vocabulary") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, DslQueries.MltBody).collect()
    assert(got.length === 10)
    val ids = got.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(3L) && !ids.contains(11L),
      "like docs must be excluded (ES include:false default)")
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val seedTerms = (texts(3L) + " " + texts(11L)).split(" ").toSet
    got.foreach { r =>
      val hit = texts(r.getAs[Long]("doc_id")).split(" ").toSet
      assert(hit.intersect(seedTerms).nonEmpty,
        s"hit ${r.getAs[Long]("doc_id")} shares no seed vocabulary")
      assert(r.getAs[Double]("score") > 0.0)
    }
  }

  test("linear decay with a power-of-two scale IS the integer-numerator device") {
    // scale 128 + decay 0.5 → the curve (256 − d)/256: every quantized
    // factor is (256 − d)·2^32 on the 2^40 grid EXACTLY (floor is a
    // no-op), i.e. the compiled decay reproduces TextOps.functionScore's
    // `max(0, scale − |x − origin|)` integer-numerator device — score
    // equality, not just rank equality
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"function_score": {
        "query": {"match": {"text": "spark join window"}},
        "functions": [
          {"linear": {"n_chars": {"origin": 300, "scale": 128, "decay": 0.5}}}
        ]}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val base = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"match": {"text": {"query": "spark join window", "boost": 1}}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val chars = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, s) =>
      val num = math.max(0L, 256L - math.abs(chars(id) - 300L))
      val factor = (num.toDouble * 4294967296.0) / 1099511627776.0
      assert(s === base(id) * factor, s"doc $id")
    }
  }

  test("gauss/exp quantized curves: 1.0 at origin, decay at scale, monotone") {
    for (kind <- Seq("gauss", "exp", "linear")) {
      val (cw, nums) = QueryDsl.decayNumerators(kind, 256L, 0.5)
      assert(cw === 1L, kind)
      assert(nums.head === 1099511627776L, s"$kind at origin") // exactly 1.0
      assert(nums === nums.sorted.reverse, s"$kind must be non-increasing")
      // curve value at d = scale is exactly `decay` for all three kinds
      assert(math.abs(nums(256).toDouble / 1099511627776.0 - 0.5) < 1e-9, kind)
    }
    // linear support ends at scale/(1−decay); gauss/exp never reach 0
    val (_, lin) = QueryDsl.decayNumerators("linear", 128L, 0.5)
    assert(lin(256) === 0L && lin(255) > 0L)
  }

  test("suggest refuses co-present query/knn/aggs sections (no silent discard)") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      QueryDsl.search(denv, """{
        "index": ["docs-*"], "size": 0,
        "query": {"match": {"text": "spark"}},
        "suggest": {"s": {"text": "ordr", "term": {"field": "text", "size": 3}}}
      }""")
    }
    assert(e.getMessage.contains("suggest combined with 'query'"), e.getMessage)
  }

  test("collapse.inner_hits with a top-level size cuts GROUPS, not rows") {
    val sigEnv = DslQueries.signalEnv(spark, sfDir)
    val sized = QueryDsl.search(sigEnv, DslQueries.CollapseInnerSizeBody)
    val all = QueryDsl.drain(sigEnv, DslQueries.CollapseInnerBody)
    // ES semantics: size counts collapsed (rank-1) hits; each surviving
    // group keeps its full inner_hits page — never a mid-group cut
    val keyCol = "kubernetes_pod_uid"
    assert(sized.select(keyCol).distinct().count() === 3L)
    assert(sized.where(col("hit_rank") === 1).count() === 3L)
    val perGroup = sized.groupBy(col(keyCol))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.max(col("hit_rank")).as("mx"))
      .collect()
    perGroup.foreach(r => assert(r.getAs[Long]("n") === r.getAs[Long]("mx"),
      "a sized collapse must keep every inner row of a surviving group"))
    // the surviving groups are the request-sort top-3 of the unsized
    // result's rank-1 hits (same window, same tiebreak)
    val expectKeys = all.where(col("hit_rank") === 1)
      .orderBy(col("ts").desc, col("event_id").desc).limit(3)
      .select(keyCol).collect().map(_.getString(0)).toSet
    assert(sized.select(keyCol).distinct().collect()
      .map(_.getString(0)).toSet === expectKeys)
  }

  test("minimum_should_match percent/negative string forms fail fast") {
    for (bad <- Seq("\"75%\"", "\"-1\"")) {
      val e = intercept[IllegalArgumentException] {
        QueryDsl.drain(env, s"""{
          "index": ["${DslQueries.ApmPattern}"],
          "query": {"bool": {
            "should": [{"exists": {"field": "container.id"}},
                       {"exists": {"field": "host.name"}}],
            "minimum_should_match": $bad}}
        }""")
      }
      assert(e.getMessage.contains("minimum_should_match form"), e.getMessage)
    }
  }

  test("scored bool: filter-only docs are hits with score 0 when msm is 0 (ES default)") {
    // should + filter, no must, msm unset → ES keeps every filter match
    // and shoulds only ADD score (the r13 divergence dropped them)
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"bool": {
        "filter": [{"range": {"n_chars": {"gte": 200}}}],
        "should": [{"match": {"text": "spark join window"}}]}}
    }""").collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val filterCount = docs.where(col("n_chars") >= 200).count()
    assert(got.length === filterCount,
      "every filter-matching doc must be a hit under msm 0")
    assert(got.exists(_.getAs[Double]("score") === 0.0),
      "filter-only docs carry score 0")
    assert(got.exists(_.getAs[Double]("score") > 0.0))
  }

  test("scored bool: a filter-shaped must scores a constant 1.0 per clause") {
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"bool": {
        "must": [{"match": {"text": "spark join window"}},
                 {"range": {"n_chars": {"gte": 200}}}]}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val base = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 1000000, "sort": ["_score"], "fields": [],
      "query": {"match": {"text": {"query": "spark join window", "boost": 1}}}
    }""").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val chars = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, s) =>
      assert(chars(id) >= 200L, s"must clause still gates: doc $id")
      assert(s === base(id) + 1.0, s"doc $id: constant 1.0 per filter-must")
    }
  }

  test("aggs top_hits honors the enclosing bucket size cut") {
    // bucket on lang with size 2: only the two biggest languages keep
    // their hits (count DESC, key ASC tiebreak) — previously every
    // bucket survived
    val denv = DslQueries.docEnv(spark, sfDir)
    val got = QueryDsl.search(denv, """{
      "index": ["docs-*"], "size": 0,
      "aggs": {"by_lang": {"terms": {"field": "lang", "size": 2},
        "aggs": {"top": {"top_hits": {"size": 1, "sort": [{"n_chars": "desc"}]}}}}}
    }""").collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val top2 = docs.where(col("lang").isNotNull).groupBy(col("lang"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("lang").asc).limit(2)
      .collect().map(_.getAs[String]("lang")).toSet
    val gotLangs = got.map(_.getAs[String]("by_lang")).toSet
    assert(gotLangs === top2)
  }

  test("approximate knn (num_candidates): recall gauge and k-row response") {
    val resp = DslQueries.dslKnnApprox(spark, sfDir).collect()
    assert(resp.length === 10)
    val gauge = DslQueries.dslKnnApproxRecall(spark, sfDir).head()
    assert(gauge.getAs[Long]("n_exact") === 10L)
    val r = gauge.getAs[Double]("recall_at_k")
    assert(r > 0.0 && r <= 1.0, s"recall $r")
  }

  test("filtered approximate knn: the filter gates candidates, scores match the exact twin") {
    // ES filtered-ANN semantics on the approximate path: the filter
    // restricts the candidate stream BEFORE scoring, so every hit
    // satisfies it, and each returned (id, score) equals the exact
    // filtered search's score for that id (same cosine arithmetic)
    val env = DslQueries.embEnv(spark, sfDir)
    def body(nc: String) = s"""{
      "index": ["emb-*"],
      "knn": {
        "field": "embedding",
        "query_vector": [${DslQueries.KnnVector.mkString(", ")}],
        "k": 10$nc,
        "filter": {"term": {"label": ${DslQueries.KnnLabel}}}
      }
    }"""
    val approx = QueryDsl.search(env, body(""", "num_candidates": 600""")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    assert(approx.nonEmpty)
    val labels = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    approx.keys.foreach(id =>
      assert(labels(id) === DslQueries.KnnLabel, s"unfiltered hit $id"))
    val exact = QueryDsl.search(env, body("")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    approx.foreach { case (id, s) =>
      assert(exact.get(id).forall(_ === s), s"score drift for $id")
    }
  }

  test("empty-array exists semantics: ES indexes no value for []") {
    // service_tags is [] when k % 11 == 0 — exists must reject those
    val tagged = QueryDsl.drain(env, s"""{
      "index": ["${DslQueries.ApmPattern}"],
      "fields": ["service.tags"],
      "query": {"bool": {"must": [{"exists": {"field": "service.tags"}}]}}
    }""")
    val sig = graft.sources.Tables.signals(spark, sfDir)
    assert(tagged.count() === sig.where(size(col("service_tags")) > 0).count())
    assert(tagged.count() < sig.count(), "the empty-array rows must be excluded")
  }

  /** The fixture's events, normalized, with `ts` shifted by `days`. */
  private def eventsShifted(days: Int) =
    graft.sources.Tables.events(spark, sfDir).drop("__ts_nanos", "__ts_raw")
      .withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))

  test("env sources resolve once per file generation: a second build starts no job") {
    Seq[() => QueryDsl.Env](() => DslQueries.signalEnv(spark, sfDir),
        () => DslQueries.docEnv(spark, sfDir), () => DslQueries.embEnv(spark, sfDir))
      .foreach { build =>
        build()
        assert(jobsOf(build()) === 0)
      }
  }

  test("rewriting a source's files is a new generation: now and the page move") {
    val dir = tempTableDir("events", eventsShifted(0))
    val now0 = DslQueries.signalEnv(spark, dir).now
    val page0 = rows(DslQueries.dslSearch(spark, dir))
    eventsShifted(3).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val now1 = DslQueries.signalEnv(spark, dir).now
    assert(now1.toInstant === now0.toInstant.plus(java.time.Duration.ofDays(3)))
    val page1 = rows(DslQueries.dslSearch(spark, dir))
    assert(page1.nonEmpty && page1 != page0)
  }

  test("TextOps.release drops the resolved sources: the next build resolves again") {
    DslQueries.signalEnv(spark, sfDir)
    assert(jobsOf(DslQueries.signalEnv(spark, sfDir)) === 0)
    graft.operators.TextOps.release(spark)
    assert(jobsOf(DslQueries.signalEnv(spark, sfDir)) > 0)
  }

  test("concurrent first builds of one env resolve it once") {
    val events = eventsShifted(0)
    val (one, dir) = (tempTableDir("events", events), tempTableDir("events", events))
    val single = jobsOf(DslQueries.signalEnv(spark, one))
    assert(single > 0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val nows = new java.util.concurrent.ConcurrentLinkedQueue[java.sql.Timestamp]()
    val concurrent = jobsOf {
      val threads = (1 to 4).map(_ => new Thread(() => {
        start.await()
        nows.add(DslQueries.signalEnv(spark, dir).now)
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
    }
    assert(nows.size === 4)
    assert(nows.toArray.distinct.length === 1)
    assert(concurrent === single)
  }
}
