package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.QueryDsl
import graft.plans.QueryDsl.{Env, Mapping}
import graft.sources.{SourceCache, SourceRegistry, Tables}

/** Registered queries that run END-TO-END through the
  * [[graft.plans.QueryDsl]] compiler — the engine consumed the way the
  * reference consumes Elasticsearch: a JSON `SearchRequest` body in,
  * a result frame out. QueryDslSpec additionally replays the
  * reference's four verbatim request bodies
  * (lib/collectServicesFromSummaries.ts:12-49,178-246;
  * lib/collectServices.ts:12-84; lib/collectPods.ts:12-63) through the
  * same compiler and asserts bit-equality with the hand-written
  * flagship pipelines.
  */
object DslQueries {

  /** The reference's index patterns, verbatim (constants.ts:1-2) —
    * request bodies name these and the env resolves them to sources,
    * exactly as `getApmIndices()`/`getLogsIndices()` resolve against
    * the cluster.
    */
  val ApmPattern = "traces-*,apm*,metrics-apm*"
  val LogsPattern = "logs-*,filebeat-*"

  /** ECS field ↔ signal-view column mapping plus the fixture's value
    * and window translations (FIXTURES.md §3: `metricset.name:
    * service_summary` ≈ `event_type: purchase`; the reference's
    * minute/hour windows scale to the fixture's 30-day span exactly as
    * the hand-written pipelines scaled them — 10m→7d, 15m→14d, 1h→21d,
    * see Assets.serviceSummaries / servicesFromSummaries /
    * collapsedServiceSignals).
    */
  val SignalMapping: Mapping = Mapping(
    fields = Map(
      "@timestamp" -> "ts",
      "metricset.name" -> "event_type",
      "service.name" -> "service_name",
      "service.environment" -> "service_environment",
      "container.id" -> "container_id",
      "kubernetes.pod.uid" -> "kubernetes_pod_uid",
      "kubernetes.node.name" -> "kubernetes_node_name",
      "cloud.provider" -> "cloud_provider",
      "orchestrator.cluster.name" -> "orchestrator_cluster_name",
      "host.name" -> "host_name",
      "host.hostname" -> "host_hostname",
      "service.tags" -> "service_tags",
      "value" -> "value",
      "user.id" -> "user_id"),
    idColumn = "event_id",
    families = Map("host.*" -> "host_", "container.*" -> "container_"),
    termValues = Map("metricset.name" -> Map("service_summary" -> "purchase")),
    dateMath = Map("now-10m" -> "now-7d", "now-15m" -> "now-14d",
      "now-1h" -> "now-21d"))

  /** Signal-source env: APM and logs patterns resolve to the fixture's
    * signal streams (SURVEY.md S3/S6 — overlapping document streams,
    * like the reference's `apm*` vs `logs-*` over one physical
    * cluster); `now` pins to the dataset's max timestamp
    * ([[Tables.maxBound]]'s date-math determinism device).
    *
    * The scans and `now` resolve once per FILE GENERATION
    * ([[SourceCache]]), as this file's other envs' scans do: requests
    * between two writes share one resolution (the reference searches
    * an index whose mapping is already resolved), and the first
    * request after any file under a source changes resolves again and
    * sees the new data.
    */
  def signalEnv(spark: SparkSession, dir: String): Env = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    signalEnvOf(spark, SourceRegistry.forDir(dir))
  }

  /** Both patterns read through the registry's `signals_apm` /
    * `signals_logs` refs; `now` is the APM source's bound.
    */
  private def signalEnvOf(spark: SparkSession, reg: SourceRegistry): Env = {
    val apm = SourceCache.resolve(spark, reg.resolve("signals_apm"))
    val logs = SourceCache.resolve(spark, reg.resolve("signals_logs"))
    Env(
      indices = Map(ApmPattern -> apm.signals, LogsPattern -> logs.signals),
      mapping = SignalMapping,
      now = apm.maxTs)
  }

  /** THE documents-index mapping — one definition, shared by the batch
    * env and the streaming-served env
    * ([[graft.streaming.StreamingDsl.servedEnv]]), so a served read
    * can never drift from the batch compile by mapping skew.
    */
  val DocMapping: Mapping = Mapping(
    fields = Map("text" -> "text", "lang" -> "lang",
      "source" -> "source", "n_chars" -> "n_chars"),
    idColumn = "doc_id",
    tsFields = Set.empty)

  /** Documents-source env (the text-search surface). */
  def docEnv(spark: SparkSession, dir: String): Env = Env(
    indices = Map("docs-*" -> SourceCache.table(spark, dir, "documents")),
    mapping = DocMapping)

  /** Embeddings-source env (the knn surface). Carries the AUTO-SIZED
    * trained IVF artifacts ([[VectorOps.ivfAssignAuto]] inverted
    * lists + [[VectorOps.centroidVectorsAuto]] codebook, both
    * memoized) so a body with `num_candidates` serves the APPROXIMATE
    * path off an index whose nlist grows as √N — the env analog of ES
    * building the ANN structure at index time, and the dial that
    * keeps a probe's candidate stream ~√N instead of N/nlist.
    */
  def embEnv(spark: SparkSession, dir: String): Env = Env(
    indices = Map("emb-*" -> SourceCache.table(spark, dir, "embeddings")),
    mapping = Mapping(
      fields = Map("embedding" -> "embedding", "label" -> "label"),
      idColumn = "vec_id",
      tsFields = Set.empty),
    ann = Some(QueryDsl.AnnIndex(
      assignments = VectorOps.ivfAssignAuto(spark, dir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("assigned_label")),
      centroids = VectorOps.centroidVectorsAuto(spark, dir),
      nlist = VectorOps.autoNList(spark, dir))))

  // ---------------------------------------------------------------------
  // Registered bodies
  // ---------------------------------------------------------------------

  /** Full filter-context coverage in one body: bool with filter range
    * (date math), must terms (with the fixture value translation),
    * must_not term (null-safe negation), should exists + msm, sorted
    * size cut, fields projection.
    */
  val SearchBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 500,
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["@timestamp", "service.name", "service.environment",
               "container.id", "kubernetes.pod.uid", "cloud.provider"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-14d"}}}],
        "must": [{"terms": {"metricset.name": ["service_summary", "view"]}}],
        "must_not": [{"term": {"cloud.provider": "aws"}}],
        "should": [
          {"exists": {"field": "container.id"}},
          {"exists": {"field": "kubernetes.pod.uid"}}
        ],
        "minimum_should_match": 1
      }
    }
  }"""

  def dslSearch(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), SearchBody)

  /** [[signalEnv]] with every signal read routed through the
    * [[graft.sources.EsShapedSource]] DataSourceV2 connector instead of
    * the native parquet source — the compiled term/range filters cross
    * the connector boundary as pushed V1 filters (`PushedFilters` on
    * the BatchScan, plan-asserted in PlanAuditSpec), the way the
    * reference's search POST carries its query to Elasticsearch.
    */
  def signalEnvEs(spark: SparkSession, dir: String): Env =
    signalEnvOf(spark, SourceRegistry.forDirEs(dir))

  /** [[SearchBody]] compiled against the connector-backed env —
    * registered as `dsl_search_es` with the SAME oracle as
    * `dsl_search`: identical results through a different source
    * implementation is the connector-seam contract.
    */
  def dslSearchEs(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnvEs(spark, dir), SearchBody)

  /** The collectPods shape through the compiler: multi-index union
    * (logs ∪ apm), conjunction of exists clauses, collapse on pod uid
    * under ts desc — drained (the full-read form of the reference's
    * paged loop).
    */
  val CollapseBody: String = s"""{
    "index": ["$LogsPattern", "$ApmPattern"],
    "collapse": {"field": "kubernetes.pod.uid"},
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["@timestamp", "kubernetes.pod.uid", "kubernetes.node.name",
               "orchestrator.cluster.name", "cloud.provider"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}],
        "must": [
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "kubernetes.node.name"}}
        ]
      }
    }
  }"""

  def dslCollapse(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.drain(signalEnv(spark, dir), CollapseBody)

  /** [[CollapseBody]] with `inner_hits`: ES returns the top-2 rows per
    * collapsed pod alongside each collapsed hit — the relational form
    * keeps the per-group rank as `hit_rank` (QueryDsl.collapseInner,
    * the q75_top_hits partial-WindowGroupLimit device).
    */
  val CollapseInnerBody: String = s"""{
    "index": ["$LogsPattern", "$ApmPattern"],
    "collapse": {
      "field": "kubernetes.pod.uid",
      "inner_hits": {"name": "recent", "size": 2}
    },
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["@timestamp", "kubernetes.pod.uid", "kubernetes.node.name",
               "orchestrator.cluster.name", "cloud.provider"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}],
        "must": [
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "kubernetes.node.name"}}
        ]
      }
    }
  }"""

  def dslCollapseInner(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.drain(signalEnv(spark, dir), CollapseInnerBody)

  /** [[CollapseInnerBody]] with a TOP-LEVEL `size`: ES counts size in
    * COLLAPSED hits — the 3 newest pods survive (request sort over the
    * rank-1 hits) and each brings its top-2 inner rows along
    * (QueryDsl's grouped cut: rank-1 TakeOrdered + broadcast semi-join
    * of the inner rows).
    */
  val CollapseInnerSizeBody: String = s"""{
    "index": ["$LogsPattern", "$ApmPattern"],
    "size": 3,
    "collapse": {
      "field": "kubernetes.pod.uid",
      "inner_hits": {"name": "recent", "size": 2}
    },
    "sort": [{"@timestamp": "desc"}],
    "_source": false,
    "fields": ["@timestamp", "kubernetes.pod.uid", "kubernetes.node.name",
               "orchestrator.cluster.name", "cloud.provider"],
    "query": {
      "bool": {
        "filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}],
        "must": [
          {"exists": {"field": "kubernetes.pod.uid"}},
          {"exists": {"field": "kubernetes.node.name"}}
        ]
      }
    }
  }"""

  def dslCollapseInnerSize(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), CollapseInnerSizeBody)

  /** Analyzed-text clauses over the documents table: `match` (OR of
    * token membership) + `match_phrase` (token adjacency) in one bool.
    */
  val MatchBody: String = """{
    "index": ["docs-*"],
    "_source": false,
    "fields": ["lang", "source", "n_chars"],
    "query": {
      "bool": {
        "must": [{"match": {"text": {"query": "vector hash", "operator": "or"}}}],
        "filter": [{"match_phrase": {"text": "merge slow"}}]
      }
    }
  }"""

  def dslMatch(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.drain(docEnv(spark, dir), MatchBody)

  /** The ES aggregation-request shape (`size: 0`): nested
    * date_histogram × terms buckets with the full metric family at the
    * leaf — compiled to ONE grouped plan with the terms size cut as a
    * response-sized window (QueryDsl.runAggs).
    */
  val AggsBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 0,
    "query": {
      "bool": {"filter": [{"range": {"@timestamp": {"gte": "now-21d"}}}]}
    },
    "aggs": {
      "per_day": {
        "date_histogram": {"field": "@timestamp", "calendar_interval": "day"},
        "aggs": {
          "by_type": {
            "terms": {"field": "metricset.name", "size": 3},
            "aggs": {
              "value_sum": {"sum": {"field": "value"}},
              "value_avg": {"avg": {"field": "value"}},
              "value_max": {"max": {"field": "value"}},
              "n_users": {"cardinality": {"field": "user.id"}}
            }
          }
        }
      }
    }
  }"""

  def dslAggs(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), AggsBody)

  /** The `filters` aggregation shape: three OVERLAPPING named buckets
    * from arbitrary sub-queries, metrics per bucket — compiled to one
    * conditional-aggregate pass + stack (QueryDsl.runFiltersAgg).
    */
  val FiltersBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 0,
    "aggs": {
      "groups": {
        "filters": {
          "filters": {
            "views": {"term": {"metricset.name": "view"}},
            "big_errors": {"bool": {"must": [
              {"term": {"metricset.name": "error"}},
              {"range": {"value": {"gte": 100}}}
            ]}},
            "tagged_aws": {"bool": {"must": [
              {"term": {"cloud.provider": "aws"}},
              {"exists": {"field": "container.id"}}
            ]}}
          }
        },
        "aggs": {
          "value_sum": {"sum": {"field": "value"}},
          "value_max": {"max": {"field": "value"}},
          "n_users": {"cardinality": {"field": "user.id"}}
        }
      }
    }
  }"""

  def dslFilters(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), FiltersBody)

  /** QUERY context: a relevance-ranked match (`sort: ["_score"]`) —
    * the BM25 envelope (score/rank/n_matched) next to the projected
    * fields (QueryDsl.runScored).
    */
  val ScoreBody: String = """{
    "index": ["docs-*"],
    "size": 10,
    "sort": ["_score"],
    "_source": false,
    "fields": ["lang", "source"],
    "query": {"match": {"text": "spark join window"}}
  }"""

  def dslScore(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), ScoreBody)

  /** Full ES scoring model in one body (`sort: ["_score"]` with a
    * compound tree — QueryDsl.runScoredTree): the must match scores,
    * the matched should clauses add on top (one boosted match, one
    * scored `term` — the single-token BM25 ES itself uses for term
    * queries), and filter/must_not gate without scoring.
    */
  val BoolScoredBody: String = """{
    "index": ["docs-*"],
    "size": 15,
    "sort": ["_score"],
    "_source": false,
    "fields": ["lang", "source", "n_chars"],
    "query": {
      "bool": {
        "must": [{"match": {"text": "spark join window"}}],
        "should": [
          {"match": {"text": {"query": "fast merge", "boost": 2}}},
          {"term": {"source": "src3"}}
        ],
        "filter": [{"range": {"n_chars": {"gte": 200}}}],
        "must_not": [{"term": {"lang": "de"}}]
      }
    }
  }"""

  def dslBoolScored(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), BoolScoredBody)

  /** Cross-field relevance: `multi_match` best_fields (≡ dis_max over
    * per-field matches, QueryDslSpec proves the equivalence) across the
    * analyzed text and the keyword source field with a `^2` field boost
    * and tie_breaker 0.5 — "src7" only ever matches via source, the
    * other tokens only via text, so the dis_max arithmetic is exercised
    * on genuinely disjoint AND overlapping hit sets.
    */
  val MultiMatchBody: String = """{
    "index": ["docs-*"],
    "size": 12,
    "sort": ["_score"],
    "_source": false,
    "fields": ["lang", "source"],
    "query": {
      "multi_match": {
        "query": "src7 spark stream",
        "fields": ["text", "source^2"],
        "type": "best_fields",
        "tie_breaker": 0.5
      }
    }
  }"""

  def dslMultiMatch(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), MultiMatchBody)

  /** Multi-valued metrics under a terms bucket: ES `stats` (flattened
    * to count/min/max/sum/avg columns), exact interpolated
    * `percentiles` at binary-fraction percents (the q32 device —
    * hash-exact on the whole-valued n_chars), and `percentile_ranks`
    * (exact conditional counts, one IEEE division — the q51 device).
    */
  val AggsStatsBody: String = """{
    "index": ["docs-*"],
    "size": 0,
    "aggs": {
      "by_lang": {
        "terms": {"field": "lang", "size": 10},
        "aggs": {
          "len": {"stats": {"field": "n_chars"}},
          "lenq": {"percentiles": {"field": "n_chars", "percents": [25, 50, 75]}},
          "lenr": {"percentile_ranks": {"field": "n_chars", "values": [300, 600]}}
        }
      }
    }
  }"""

  def dslAggsStats(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), AggsStatsBody)

  /** The terms `missing` parameter: null-provider docs land in a named
    * bucket instead of dropping out — on the signal stream where
    * cloud.provider is genuinely sparse.
    */
  val AggsMissingBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 0,
    "aggs": {
      "by_provider": {
        "terms": {"field": "cloud.provider", "size": 10, "missing": "none"},
        "aggs": {"value_sum": {"sum": {"field": "value"}}}
      }
    }
  }"""

  def dslAggsMissing(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), AggsMissingBody)

  /** ES highlighting in the DSL envelope: a scored match with
    * `highlight.fields.text` — each hit carries the `<em>`-wrapped
    * ±window fragment around its first query-term occurrence
    * (QueryDsl.attachHighlight, TextOps.highlight's expressions).
    */
  val HighlightBody: String = """{
    "index": ["docs-*"],
    "size": 5,
    "sort": ["_score"],
    "_source": false,
    "fields": ["source"],
    "query": {"match": {"text": "vector merge"}},
    "highlight": {"fields": {"text": {}}}
  }"""

  def dslHighlight(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), HighlightBody)

  /** ES `rescore` — the phrase-boost pattern: a term-level match
    * retrieves, then the top window_size hits get a constant_score
    * match_phrase bonus where the terms occur ADJACENT (QueryDsl
    * .applyRescore).
    */
  val RescoreBody: String = """{
    "index": ["docs-*"],
    "size": 10,
    "sort": ["_score"],
    "_source": false,
    "fields": ["source"],
    "query": {"match": {"text": "spark join"}},
    "rescore": {
      "window_size": 30,
      "query": {
        "rescore_query": {"constant_score": {
          "filter": {"match_phrase": {"text": "spark join"}}, "boost": 2}},
        "query_weight": 1,
        "rescore_query_weight": 1
      }
    }
  }"""

  def dslRescore(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), RescoreBody)

  /** `top_hits` under a terms bucket: per event type, the 2 latest
    * rows with their projected fields — per-bucket hit rows through
    * the aggs compiler's window-top-N path (partial WindowGroupLimit
    * before the exchange).
    */
  val TopHitsBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 0,
    "aggs": {
      "by_type": {
        "terms": {"field": "metricset.name", "size": 10},
        "aggs": {
          "latest": {"top_hits": {
            "sort": [{"@timestamp": "desc"}],
            "size": 2,
            "fields": ["service.name", "value"]
          }}
        }
      }
    }
  }"""

  def dslTopHits(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), TopHitsBody)

  /** `significant_terms`: which sources are OVERREPRESENTED among
    * English documents — foreground (the term query) vs background
    * (the index), JLH-scored, positively-correlated terms only
    * (QueryDsl.runSigTerms).
    */
  val SigTermsBody: String = """{
    "index": ["docs-*"],
    "size": 0,
    "query": {"term": {"lang": "en"}},
    "aggs": {
      "sig_sources": {
        "significant_terms": {"field": "source", "size": 5}
      }
    }
  }"""

  def dslSigTerms(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), SigTermsBody)

  /** `composite` aggregation, first page: (day × type) buckets in key
    * order with a decimal-device metric — the export-pagination
    * workhorse; QueryDslSpec pages on with `after` (the keyset
    * device) and proves page disjointness + continuation.
    */
  val CompositeBody: String = s"""{
    "index": ["$ApmPattern"],
    "size": 0,
    "aggs": {
      "comp": {
        "composite": {
          "size": 8,
          "sources": [
            {"day": {"date_histogram": {"field": "@timestamp", "calendar_interval": "day"}}},
            {"type": {"terms": {"field": "metricset.name"}}}
          ]
        },
        "aggs": {"value_sum": {"sum": {"field": "value"}}}
      }
    }
  }"""

  def dslComposite(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(signalEnv(spark, dir), CompositeBody)

  /** `function_score` with weight functions: source and language
    * boosts multiplied onto the match score (score_mode/boost_mode
    * multiply — the operator form's filter-weight half through the
    * compiler; decay tiers stay with TextOps.functionScore).
    */
  val FunctionScoreBody: String = """{
    "index": ["docs-*"],
    "size": 10,
    "sort": ["_score"],
    "_source": false,
    "fields": ["lang", "source"],
    "query": {
      "function_score": {
        "query": {"match": {"text": "spark join window"}},
        "functions": [
          {"filter": {"terms": {"source": ["src1", "src3", "src5"]}}, "weight": 3},
          {"filter": {"term": {"lang": "en"}}, "weight": 2}
        ],
        "score_mode": "multiply",
        "boost_mode": "multiply"
      }
    }
  }"""

  def dslFunctionScore(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), FunctionScoreBody)

  /** `function_score` decay functions (`gauss` + `linear`) composed
    * with a weight function — the proximity-boost request shape. Both
    * curves are plan-time-quantized onto the 2^40 grid
    * (QueryDsl.decayNumerators: driver-side transcendentals, exact
    * dyadic factors). The linear scale is a power of two, so its
    * quantization is EXACT (the operator form's integer-numerator
    * device, TextOps.functionScore).
    */
  val DecayBody: String = """{
    "index": ["docs-*"],
    "size": 10,
    "sort": ["_score"],
    "_source": false,
    "fields": ["lang", "n_chars"],
    "query": {
      "function_score": {
        "query": {"match": {"text": "spark join window"}},
        "functions": [
          {"filter": {"term": {"lang": "en"}}, "weight": 2},
          {"gauss": {"n_chars": {"origin": 300, "scale": 256, "decay": 0.5}}},
          {"linear": {"n_chars": {"origin": 300, "scale": 128, "decay": 0.5}}}
        ],
        "score_mode": "multiply",
        "boost_mode": "multiply"
      }
    }
  }"""

  def dslDecay(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), DecayBody)

  /** The `suggest` envelope: the term suggester over the documents
    * vocabulary — two true misspellings, one exact term (distance-0),
    * one out-of-vocabulary negative (QueryDsl.runTermSuggest via the
    * shared SymSpell deletion-1 seam).
    */
  val SuggestBody: String = """{
    "index": ["docs-*"],
    "size": 0,
    "suggest": {
      "fix_terms": {
        "text": "ordr scann vektor key zebra",
        "term": {"field": "text", "size": 3}
      }
    }
  }"""

  def dslSuggest(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), SuggestBody)

  /** Phrase suggester through the envelope: the txt_suggest_phrase
    * operator's first workload pair ("ordr scann") as a real ES
    * request — per-slot deletion-1 candidates rescored by the field's
    * bigram LM (QueryDsl.runPhraseSuggest).
    */
  val SuggestPhraseBody: String = """{
    "index": ["docs-*"],
    "size": 0,
    "suggest": {
      "fix_phrase": {
        "text": "ordr scann",
        "phrase": {"field": "text", "size": 3}
      }
    }
  }"""

  def dslSuggestPhrase(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), SuggestPhraseBody)

  /** Completion suggester through the envelope (search-as-you-type):
    * a 4-char prefix against the field-derived vocabulary, frequency-
    * ranked (QueryDsl.runCompletionSuggest).
    */
  val SuggestCompletionBody: String = """{
    "index": ["docs-*"],
    "size": 0,
    "suggest": {
      "complete": {
        "prefix": "cust",
        "completion": {"field": "text", "size": 3}
      }
    }
  }"""

  def dslSuggestCompletion(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), SuggestCompletionBody)

  /** `more_like_this` through the compiler: seeds 3 and 11 (the MLT
    * operator's own fixture docs), the tf·idf-ratio term selection,
    * then BM25 over the chosen terms with the seeds excluded
    * (QueryDsl.scoreMoreLikeThis).
    */
  val MltBody: String = """{
    "index": ["docs-*"],
    "size": 10,
    "sort": ["_score"],
    "_source": false,
    "fields": ["source"],
    "query": {
      "more_like_this": {
        "fields": ["text"],
        "like": [{"_id": 3}, {"_id": 11}],
        "max_query_terms": 8,
        "min_doc_freq": 2
      }
    }
  }"""

  def dslMlt(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(docEnv(spark, dir), MltBody)

  /** Geo-index env: events with the integer-microdegree coordinates
    * attached (GeoOps.attachCoords — THE single coordinate
    * derivation), `location` mapped to the stored (lat, lon) integer
    * pair exactly as a real deployment indexes a geo_point.
    */
  def geoEnv(spark: SparkSession, dir: String): Env = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Env(
      indices = Map("geo-*" -> GeoOps.attachCoords(
        Tables.eventsFrom(SourceCache.table(spark, dir, "events")))),
      mapping = Mapping(
        fields = Map("event.type" -> "event_type", "value" -> "value"),
        idColumn = "event_id",
        tsFields = Set.empty,
        geoFields = Map("location" -> (("lat_micro", "lon_micro")))))
  }

  /** Geo filter clauses: the GeoOps bbox as a `geo_bounding_box` (four
    * inclusive integer compares) intersected with a `geo_distance`
    * ring (flat-space squared-Euclid in micro units — the geoRings
    * convention).
    */
  val GeoBody: String = """{
    "index": ["geo-*"],
    "_source": false,
    "fields": ["event.type", "value"],
    "query": {
      "bool": {
        "filter": [
          {"geo_bounding_box": {"location": {
            "top_left": {"lat": 60, "lon": -45},
            "bottom_right": {"lat": 0, "lon": 45}}}},
          {"geo_distance": {"distance": "40000000micro",
            "location": {"lat": 0, "lon": 0}}}
        ]
      }
    }
  }"""

  def dslGeo(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.drain(geoEnv(spark, dir), GeoBody)

  /** The Kibana-map request: `geo_bounding_box` query +
    * `geotile_grid` bucket agg with a nested value-mass metric —
    * the shape a map tile layer actually POSTs.
    */
  val GeoGridBody: String = """{
    "index": ["geo-*"],
    "size": 0,
    "query": {
      "geo_bounding_box": {"location": {
        "top_left": {"lat": 60, "lon": -45},
        "bottom_right": {"lat": 0, "lon": 45}}}
    },
    "aggs": {
      "tiles": {
        "geotile_grid": {"field": "location", "precision": 3, "size": 12},
        "aggs": {"vmass": {"sum": {"field": "value"}}}
      }
    }
  }"""

  def dslGeoGrid(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(geoEnv(spark, dir), GeoGridBody)

  /** `geohash_grid` bucket agg over the whole index (no query) —
    * the coarse heat-map read.
    */
  val GeohashGridBody: String = """{
    "index": ["geo-*"],
    "size": 0,
    "aggs": {
      "cells": {"geohash_grid": {"field": "location", "precision": 2, "size": 15}}
    }
  }"""

  def dslGeohashGrid(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(geoEnv(spark, dir), GeohashGridBody)

  /** THE hybrid-index mapping — one definition shared by the batch env
    * and the streaming-served env
    * ([[graft.streaming.StreamingDsl.servedHybridEnv]]), the same
    * no-drift discipline as [[DocMapping]].
    */
  val HybridMapping: Mapping = Mapping(
    fields = Map("text" -> "text", "lang" -> "lang",
      "source" -> "source", "embedding" -> "embedding"),
    idColumn = "doc_id",
    tsFields = Set.empty)

  /** Multimodal-index env: one index carrying BOTH the analyzed text
    * and the embedding (documents ⋈ embeddings on the shared 0..N id
    * space) — the shape a real ES hybrid-search index has, and the
    * source the `rank: {rrf}` request reads.
    */
  def hybridEnv(spark: SparkSession, dir: String): Env = {
    val docs = SourceCache.table(spark, dir, "documents")
    val embs = SourceCache.table(spark, dir, "embeddings")
      .withColumnRenamed("vec_id", "doc_id")
    Env(
      indices = Map("hybrid-*" -> docs.join(embs, Seq("doc_id"))),
      mapping = HybridMapping,
      // the AUTO-SIZED trained IVF artifacts (the embEnv discipline):
      // a hybrid body whose knn clause carries `num_candidates` serves
      // the APPROXIMATE path — the vec_id/doc_id spaces are aligned,
      // so the embeddings-trained index prunes the hybrid index
      // directly, and the √N nlist keeps the walk's candidate stream
      // corpus-sublinear
      ann = Some(QueryDsl.AnnIndex(
        assignments = VectorOps.ivfAssignAuto(spark, dir)
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("assigned_label")),
        centroids = VectorOps.centroidVectorsAuto(spark, dir),
        nlist = VectorOps.autoNList(spark, dir))))
  }

  /** The modern ES hybrid-search request: `knn` + `query` fused by
    * `rank: {rrf}` — exact-cosine ranks and BM25 ranks combined by
    * reciprocal rank on the integer grid (QueryDsl.runHybrid).
    */
  val HybridBody: String = s"""{
    "index": ["hybrid-*"],
    "size": 10,
    "_source": false,
    "fields": ["lang", "source"],
    "knn": {
      "field": "embedding",
      "query_vector": [${(0 until VectorOps.Dim).map(i => ((i % 7) - 3) / 4.0).mkString(", ")}],
      "k": 20
    },
    "query": {"match": {"text": "spark join window"}},
    "rank": {"rrf": {"rank_window_size": 20, "rank_constant": 60}}
  }"""

  def dslHybrid(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(hybridEnv(spark, dir), HybridBody)

  /** Candidate budget for the approximate bodies — ≈3 of the 10 IVF
    * cells at sf0.01, still a 3× candidate cut vs the exact scan.
    * Measured recall@10 for this query vector: 0.2 at one cell
    * (nc=64), 1.0 at three (nc=600) — the num_candidates dial
    * behaving exactly as ES's (recall bought with candidate width).
    * Defined BEFORE the first body that interpolates it (object val
    * initialization is textual).
    */
  val KnnNumCandidates = 600

  /** [[HybridBody]] with `num_candidates` on the knn clause — the
    * PRODUCTION hybrid request (ES serves the kNN half of `rank: rrf`
    * through its ANN index): the compiler routes the vector side
    * through the env's trained-IVF candidate walk
    * (QueryDsl.knnCandidates), so the exact re-rank touches
    * ≈num_candidates rows instead of the corpus. Same fusion, same
    * fields; [[dslHybrid]] stays as the exact twin.
    */
  val HybridApproxBody: String = s"""{
    "index": ["hybrid-*"],
    "size": 10,
    "_source": false,
    "fields": ["lang", "source"],
    "knn": {
      "field": "embedding",
      "query_vector": [${(0 until VectorOps.Dim).map(i => ((i % 7) - 3) / 4.0).mkString(", ")}],
      "k": 20,
      "num_candidates": $KnnNumCandidates
    },
    "query": {"match": {"text": "spark join window"}},
    "rank": {"rrf": {"rank_window_size": 20, "rank_constant": 60}}
  }"""

  def dslHybridApprox(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(hybridEnv(spark, dir), HybridApproxBody)

  /** Deterministic literal query vector — exact binary fractions
    * (quarters), so the JSON text, the Spark literal, and the DuckDB
    * mirror all denote identical doubles.
    */
  val KnnVector: Seq[Double] =
    (0 until VectorOps.Dim).map(i => ((i % 7) - 3) / 4.0)

  val KnnLabel = 3

  /** Filtered kNN through the compiler: the `filter` gates candidates
    * BEFORE scoring (ES filtered-kNN semantics — VectorOps.knnFiltered's
    * rationale), exact cosine, k=10.
    */
  val KnnBody: String = s"""{
    "index": ["emb-*"],
    "knn": {
      "field": "embedding",
      "query_vector": [${KnnVector.mkString(", ")}],
      "k": 10,
      "filter": {"term": {"label": $KnnLabel}}
    }
  }"""

  def dslKnn(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(embEnv(spark, dir), KnnBody)

  /** Real ES `knn` with `num_candidates` — the APPROXIMATE search
    * (ES's HNSW dial; here the env's IVF index serves it via the
    * similarity-ordered cell walk, QueryDsl.knnCandidates). Unfiltered
    * on purpose: the recall gauge below compares like-for-like against
    * the exact form of the same request.
    */
  val KnnApproxBody: String = s"""{
    "index": ["emb-*"],
    "knn": {
      "field": "embedding",
      "query_vector": [${KnnVector.mkString(", ")}],
      "k": 10,
      "num_candidates": $KnnNumCandidates
    }
  }"""

  /** [[KnnApproxBody]] minus `num_candidates` — the exact twin the
    * recall gauge measures against (never registered on its own; the
    * registered exact surface is [[KnnBody]]).
    */
  val KnnExactBody: String = s"""{
    "index": ["emb-*"],
    "knn": {
      "field": "embedding",
      "query_vector": [${KnnVector.mkString(", ")}],
      "k": 10
    }
  }"""

  def dslKnnApprox(spark: SparkSession, dir: String): DataFrame =
    QueryDsl.search(embEnv(spark, dir), KnnApproxBody)

  /** Recall@k of the compiled approximate search against the compiled
    * exact search — the ANN-deployment gauge (VectorOps.ivfRecall's
    * convention) on the DSL surface: one row, `recall_at_k` +
    * `n_exact`, both engines computing both sides.
    */
  def dslKnnApproxRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val env = embEnv(spark, dir)
    val exact = QueryDsl.search(env, KnnExactBody).select(col("vec_id"))
    val approx = QueryDsl.search(env, KnnApproxBody)
      .select(col("vec_id"), lit(1).as("hit"))
    exact.join(approx, Seq("vec_id"), "left")
      .agg((count(col("hit")).cast("double") / 10.0).as("recall_at_k"),
        count(lit(1)).as("n_exact"))
  }
}
