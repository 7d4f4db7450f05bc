package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Artifacts, Tables}
import graft.sources.Artifacts.{cutLineage, memoized}

/** Graph analytics over relationally-derived edge lists.
  *
  * The reference's asset documents carry a property graph as per-row
  * adjacency lists (`asset.parents`/`children`/`references`,
  * reference types.ts:7-9) — [[Assets.containerGraph]]/[[Assets.nodeGraph]]
  * build those edges. This module is the generalization layer on top:
  * the whole-graph analytics a user runs once edges exist. Edges here
  * derive from the TPC-H star (who buys from whom, nation to nation)
  * so the operators are driver-verifiable against the DuckDB oracle.
  *
  * Scale shape: an edge list is just a DataFrame keyed by (src, dst);
  * every iteration is one keyed join + one partial-aggregated groupBy —
  * the same two-shuffle round as [[TextOps.propagateBounded]].
  *
  * Checkpoint discipline: every loop here cuts lineage each round. A
  * loop whose state is one frame (pagerank, k-core, star contraction,
  * HITS) runs through [[graft.sources.Artifacts.iterate]]; the closure
  * loops carry several frames and cut each themselves. Every cut goes
  * through [[graft.sources.Artifacts.cutLineage]] — executor-local checkpoints when no
  * checkpoint dir is set (local/test), upgrading to reliable
  * `checkpoint(true)` when `sc.setCheckpointDir` is configured (the
  * cluster deployment signal), so an executor loss mid-loop replays
  * from durable storage instead of failing the job.
  *
  * Cross-engine determinism: PageRank mass lives on an integer grid
  * (scaled to 10^9, floor division per edge) — integer sums commute
  * exactly under any partitioning, where a double Σ(pr/deg) would be
  * summation-order dependent (the same device as TextOps.mixWeights'
  * 2^40 grid). Production variants run doubles; the grid costs ~1e-9
  * relative precision per term and buys bit-identical results on both
  * engines and under any shuffle.
  */
object GraphOps {

  /** Row cap for [[incrementalClosure]]'s broadcast hints. The normal
    * arrival path keeps every hinted frame delta-sized (thousands of
    * pairs), but the degenerate empty-previous-closure path grows them
    * to the full closure — an unconditional hint there is a driver OOM
    * at scale. ~2M pairs ≈ low hundreds of MB of EAN strings, the
    * upper edge of what a driver comfortably serializes.
    */
  val BroadcastRowCap: Long = 2L * 1024 * 1024

  private def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRowCap) broadcast(df) else df

  /** PageRank iterations (unrolled identically in the oracle). */
  val PrRounds = 5

  /** Integer mass grid: initial rank per node. */
  val PrScale = 1000000000L

  /** Damping 0.85 as an exact integer ratio. */
  val PrDampNum = 85L
  val PrDampDen = 100L

  /** Nation-to-nation trade edges: customer nation → supplier nation,
    * weighted by lineitem count. Dimension joins broadcast; the one
    * big-side shuffle is the (src, dst) aggregation.
    */
  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")), // fact-to-fact: keyed shuffle join, AQE sizes it
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Weighted degree centrality: per nation the out/in edge and weight
    * totals over the trade graph — the one-shuffle warm-up graph stat.
    */
  def degreeCentrality(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum(col("w")).as("out_w"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"), sum(col("w")).as("in_w"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  /** Bounded upward reachability over the ASSET graph — the traversal a
    * user of the reference runs on its own data model: every asset's
    * parents/children/references EAN edge lists
    * (reference types.ts:7-9) flattened to (src, dst) pairs pointing up
    * the hierarchy (children inverted), then joined out to
    * [[ReachDepth]] hops with the MINIMUM depth kept. On the fixture
    * this surfaces service → container → pod → node/cluster chains that
    * exist in no single asset document. Each hop is one keyed
    * equi-join; the edge set is derived once from
    * [[Assets.assetsAll]]'s canonical '|'-joined edge scalars.
    */
  val ReachDepth = 3

  /** The asset graph's upward edge set — every asset's
    * parents/children/references EAN edge lists (reference types.ts:7-9)
    * flattened to (src, dst) pairs pointing up the hierarchy (children
    * inverted). Memoized: the edge set re-derives the whole 4-pipeline
    * assets_all view, which every traversal round would otherwise
    * recompute — the same build-once-per-session policy as the
    * dedup/IVF/PQ artifacts. Shared by [[assetReachability]] and
    * [[assetClosure]] (one builder, so neither can observe a missing
    * memo entry regardless of call order or a release between them).
    */
  private[graft] def upwardEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "asset_up_edges") {
      val aa = Assets.assetsAll(spark, dir)
        .select(col("asset_ean"), col("asset_parents"),
          col("asset_children"), col("asset_references"))
      def nonEmpty(c: String) = col(c).isNotNull && col(c) =!= ""
      aa.where(nonEmpty("asset_parents"))
        .select(col("asset_ean").as("src"),
          explode(split(col("asset_parents"), "\\|")).as("dst"))
        .union(aa.where(nonEmpty("asset_children"))
          .select(explode(split(col("asset_children"), "\\|")).as("src"),
            col("asset_ean").as("dst")))
        .union(aa.where(nonEmpty("asset_references"))
          .select(col("asset_ean").as("src"),
            explode(split(col("asset_references"), "\\|")).as("dst")))
        .distinct()
    }

  /** The conformed asset-document view, memoized — the "assets index"
    * the join-field queries search (build-once like the edge set; the
    * 4-pipeline derivation is the expensive part).
    */
  private[graft] def assetDocs(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "asset_docs") {
      Assets.assetsAll(spark, dir)
    }

  /** The PARENT/CHILD join-field relation (reference types.ts:7-8):
    * (child, parent) EAN pairs from `asset.parents` plus the inverted
    * `asset.children` lists. `asset.references` (types.ts:9) is NOT
    * part of the relation — ES's join field models exactly one
    * parent/child tree, and the reference keeps references as loose
    * pointers. Memoized alongside [[upwardEdges]].
    */
  private[graft] def parentChildEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "asset_pc_edges") {
      val aa = assetDocs(spark, dir)
        .select(col("asset_ean"), col("asset_parents"), col("asset_children"))
      def nonEmpty(c: String) = col(c).isNotNull && col(c) =!= ""
      aa.where(nonEmpty("asset_parents"))
        .select(col("asset_ean").as("child"),
          explode(split(col("asset_parents"), "\\|")).as("parent"))
        .union(aa.where(nonEmpty("asset_children"))
          .select(explode(split(col("asset_children"), "\\|")).as("child"),
            col("asset_ean").as("parent")))
        .distinct()
    }

  /** ES `has_child` query over the asset join field: PARENT documents
    * with at least one child matching the child-side predicate (here:
    * prod-environment services — the "which containers run production
    * services" question), plus the matching-children count (ES
    * `min_children`/inner-hits' cardinality readout). Two broadcast
    * hops over the memoized edge set — the matching-children frame is
    * distinct-asset-sized, never corpus-sized, which is exactly why ES
    * executes this join field in memory per shard.
    */
  def assetHasChild(spark: SparkSession, dir: String): DataFrame = {
    val docs = assetDocs(spark, dir)
    val matching = docs
      .where(col("asset_type") === "service" &&
        col("service_environment") === "prod")
      .select(col("asset_ean").as("child"))
    val parents = parentChildEdges(spark, dir)
      .join(broadcast(matching), Seq("child"))
      .groupBy(col("parent"))
      .agg(countDistinct(col("child")).as("n_matching_children"))
    docs.join(broadcast(parents), col("asset_ean") === col("parent"))
      .drop("parent")
  }

  /** ES `has_parent` query (the inverse): CHILD documents whose parent
    * matches the parent-side predicate (here: k8s nodes carrying a
    * cluster reference — "pods scheduled on clustered nodes"), plus
    * the matching-parents count.
    */
  def assetHasParent(spark: SparkSession, dir: String): DataFrame = {
    val docs = assetDocs(spark, dir)
    val matching = docs
      .where(col("asset_type") === "k8s.node" &&
        col("asset_references").isNotNull && col("asset_references") =!= "")
      .select(col("asset_ean").as("parent"))
    val children = parentChildEdges(spark, dir)
      .join(broadcast(matching), Seq("parent"))
      .groupBy(col("child"))
      .agg(countDistinct(col("parent")).as("n_matching_parents"))
    docs.join(broadcast(children), col("asset_ean") === col("child"))
      .drop("child")
  }

  def assetReachability(spark: SparkSession, dir: String): DataFrame = {
    val up = upwardEdges(spark, dir)
    val hops = Iterator.iterate(up.withColumn("depth", lit(1L))) { prev =>
      prev.alias("a").join(up.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"),
          (col("a.depth") + 1L).as("depth"))
    }.take(ReachDepth).toSeq
    hops.reduce(_ unionAll _)
      .groupBy(col("src"), col("dst"))
      .agg(min(col("depth")).as("depth"))
      .select(col("src").as("asset_ean"), col("dst").as("reached_ean"),
        col("depth"))
  }

  /** Depth cap shared with the DuckDB oracle's recursive CTE. The
    * oracle NEEDS it (path-enumerating `UNION ALL` recursion would loop
    * forever on a cycle); the Spark BFS below terminates on its own
    * (the anti-join admits each (src, dst) pair at most once, so the
    * frontier provably empties within |pairs| rounds, cycles included)
    * and carries the cap only so both sides truncate identically on a
    * hypothetical graph deeper than it.
    */
  val ClosureMaxDepth = 10

  /** Full transitive closure of the asset graph with minimum depths —
    * the unbounded-depth complement to [[assetReachability]]'s fixed
    * hop unrolling: frontier-deduped BFS over the memoized edge set.
    * Each round expands the frontier by one hop, anti-joins away pairs
    * already reached (so work per round is O(new pairs) — never the
    * path enumeration a `UNION ALL` recursion does, which multiplies
    * per-level rows on any graph with diamonds), and stops as soon as
    * the frontier is empty. BFS level order IS min-depth order, so no
    * final min() collapse is needed. The edge set and each round's
    * delta are checkpointed ([[graft.sources.Artifacts.cutLineage]] — reliable when a
    * checkpoint dir is set): rounds scan a materialized table
    * instead of re-planning the whole assets_all lineage, and the loop
    * stays O(1) planning per round. The loop carries two frames (the
    * reached set and the frontier), so it cuts each itself rather than
    * through [[graft.sources.Artifacts.iterate]].
    * A `WITH RECURSIVE` mirror remains the DuckDB oracle — the driver's
    * differential check proves the two formulations agree.
    */
  def assetClosure(spark: SparkSession, dir: String): DataFrame =
    closureOf(cutLineage(upwardEdges(spark, dir))) // rounds join a materialized edge table, not the assets_all plan

  /** The frontier-dedup BFS itself, over any (src, dst) edge frame —
    * [[assetClosure]] binds it to the asset graph; the incremental
    * maintenance spec runs it on arbitrary graphs as the batch
    * reference.
    */
  private[graft] def closureOf(up: DataFrame): DataFrame = {
    var reached = cutLineage(up.select(col("src"), col("dst"))
      .withColumn("depth", lit(1L)))
    var frontier = reached
    var depth = 1L
    while (depth < ClosureMaxDepth && !frontier.isEmpty) {
      depth += 1
      val fresh = cutLineage(frontier.alias("a")
        .join(up.alias("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .distinct()
        .join(reached, Seq("src", "dst"), "left_anti")
        .withColumn("depth", lit(depth)))
      reached = cutLineage(reached.unionAll(fresh))
      frontier = fresh
    }
    reached.select(col("src").as("asset_ean"), col("dst").as("reached_ean"),
      col("depth"))
  }

  /** Incremental transitive-closure maintenance: extend a previously
    * computed min-depth closure with a batch of NEW edges, touching
    * only pairs whose best path crosses a new edge — the maintenance
    * shape a streaming graph store needs, where recomputing the full
    * closure per batch is the naive alternative.
    *
    * One relaxation round proposes every path that uses a new edge as
    * its only new segment: the edge itself, prefix paths from the
    * closure into its source, suffix paths out of its target, and
    * prefix+suffix around it. Proposals that beat (or newly create) a
    * pair's depth merge in, and the loop repeats — paths through TWO
    * OR MORE new edges surface in later rounds once the first segment
    * has merged — until a round improves nothing. Each round's joins
    * are keyed on the new edges' endpoints, so work scales with the
    * affected neighborhood, not the graph; depths decrease
    * monotonically over a finite pair set, so the fixpoint is reached
    * and (spec-asserted on seeded random graphs, cycles included) it
    * equals [[assetClosure]]'s BFS over the union edge set.
    *
    * Depth cap: the output applies the same [[ClosureMaxDepth]] cut as
    * [[closureOf]] and the DuckDB oracle's recursive CTE, so the two
    * formulations truncate identically on graphs deeper than the cap.
    * The cut composes with a CAPPED previous closure exactly: a pair
    * whose true min depth is ≤ cap decomposes as prefix + new edge +
    * suffix with d1 + d2 + 1 ≤ cap, so both segments (d1, d2 ≤ cap−1)
    * are present in the capped input — nothing below the cap is ever
    * lost, and everything above it is cut on both sides. (The
    * relaxation itself runs uncapped and terminates on its own: depths
    * decrease monotonically over a finite pair set.) Starting from an
    * EMPTY closure degenerates to a full (doubling-style) closure
    * build — also spec-asserted.
    *
    * Merge shape — the O(delta) contract made literal: the accumulated
    * closure (`base`) is IMMUTABLE for the whole relaxation; rounds
    * accumulate improved rows in a small side frame (`delta`, the
    * affected neighborhood) and the two are reconciled ONCE at the
    * end via a broadcast anti-join. The earlier formulations failed
    * the probe for per-round O(closure) reasons — a groupBy(min) over
    * every pair (round-6 verdict), then a rewrite that still probed
    * candidate depths through a left join whose big side was the
    * closure (sort-merge: shuffle + sort of every pair, every round)
    * and re-checkpointed the merged closure each round (full-table
    * write, every round). Now every per-round touch of `base` is a
    * broadcast-keyed SCAN (candidate keys and new-edge endpoints are
    * the broadcast side), so a round costs a few in-memory scans of
    * the pinned closure plus small-frame work — the sf0.1 probe reads
    * 1% delta ≈ 2 s vs 9 s full rebuild (README table), where the
    * round-6 shape cost 2× the rebuild.
    */
  def incrementalClosure(prevClosure: DataFrame, newEdges: DataFrame): DataFrame = {
    val fresh = cutLineage(newEdges.select(col("src"), col("dst")).distinct())
    val base = cutLineage(prevClosure
      .select(col("asset_ean").as("src"), col("reached_ean").as("dst"), col("depth")))
    // Broadcast hints below are GATED on a row cap: the normal arrival
    // path keeps every hinted frame delta-sized, but the documented
    // degenerate case (empty prevClosure → full closure build) grows
    // delta/cand to the whole closure, where an unconditional hint
    // would OOM the driver — over the cap the planner (AQE) chooses.
    // Counts are scans of already-checkpointed blocks, so each gate
    // costs one cheap job on materialized data.
    val freshRows = fresh.count()
    val viaNew = fresh.select(col("src").as("s"), col("dst").as("t"))
    val newSrcs = maybeBroadcast(viaNew.select(col("s")).distinct(), freshRows)
    val newDsts = maybeBroadcast(viaNew.select(col("t")).distinct(), freshRows)
    // The base closure is IMMUTABLE for the whole maintenance pass, so
    // everything a round needs from it is sliced out ONCE — three scans
    // total, each broadcast-keyed on the new edges' endpoints, each
    // yielding a frame bounded by the affected neighborhood:
    //   preBase  — prefix paths INTO a new-edge source,
    //   postBase — suffix paths OUT OF a new-edge target,
    //   baseRelevant — base depths of every pair a proposal can name.
    // The third slice is sound by induction: a candidate's src is
    // always a new-edge source or the src of a prefix path (delta rows
    // are past candidates, so their srcs were already in that set), and
    // symmetrically for dsts — so current-depth probes never need base
    // rows outside A × B.
    val preBase = cutLineage(base.join(newSrcs, base("dst") === newSrcs("s"))
      .select(col("src").as("a"), col("s"), col("depth").as("d1")))
    val postBase = cutLineage(base.join(newDsts, base("src") === newDsts("t"))
      .select(col("t"), col("dst").as("b"), col("depth").as("d2")))
    val preRows = preBase.count()
    val postRows = postBase.count()
    val aSet = preBase.select(col("a").as("src"))
      .unionAll(viaNew.select(col("s").as("src"))).distinct()
    val bSet = postBase.select(col("b").as("dst"))
      .unionAll(viaNew.select(col("t").as("dst"))).distinct()
    val baseRelevant = cutLineage(base
      .join(maybeBroadcast(aSet, preRows + freshRows), Seq("src"), "left_semi")
      .join(maybeBroadcast(bSet, postRows + freshRows), Seq("dst"), "left_semi"))
    // improved pairs found so far, deduped to best depth per (src, dst);
    // empty to start, stays O(affected neighborhood). From here on no
    // round touches `base` — every per-round frame is delta-sized.
    var delta = cutLineage(base.limit(0))
    var deltaRows = 0L
    var improved = true
    while (improved) {
      val vb = maybeBroadcast(viaNew, freshRows)
      val pre = preBase.unionAll(
        delta.select(col("src").as("a"), col("dst").as("s"), col("depth").as("d1"))
          .join(newSrcs, Seq("s")).select(col("a"), col("s"), col("d1")))
      val post = postBase.unionAll(
        delta.select(col("src").as("t"), col("dst").as("b"), col("depth").as("d2"))
          .join(newDsts, Seq("t")).select(col("t"), col("b"), col("d2")))
      val cand = viaNew.select(col("s").as("src"), col("t").as("dst"),
          lit(1L).as("depth"))
        .unionAll(pre.join(vb, Seq("s"))
          .select(col("a").as("src"), col("t").as("dst"),
            (col("d1") + 1L).as("depth")))
        .unionAll(vb.join(post, Seq("t"))
          .select(col("s").as("src"), col("b").as("dst"),
            (col("d2") + 1L).as("depth")))
        .unionAll(pre.join(vb, Seq("s")).join(post, Seq("t"))
          .select(col("a").as("src"), col("b").as("dst"),
            // d1 edges into the new edge + the edge itself + d2 out
            (col("d1") + col("d2") + 1L).as("depth")))
        .groupBy(col("src"), col("dst"))
        .agg(min(col("depth")).as("depth"))
      // consumed twice below (keys + probe)
      // (A tempting fusion — probing one unioned relevant-best
      // aggregate through a broadcast left join, saving a job — sends
      // Catalyst's sizeInBytes estimation into minutes of BigInt
      // arithmetic on the nested join tree; keep the checkpointed-cand
      // + semi shape.)
      val candCut = cutLineage(cand)
      val candRows = candCut.count()
      val candKeys = maybeBroadcast(candCut.select(col("src"), col("dst")), candRows)
      val current = baseRelevant.join(candKeys, Seq("src", "dst"), "left_semi")
        .unionAll(delta.join(candKeys, Seq("src", "dst"), "left_semi"))
        .groupBy(col("src"), col("dst"))
        .agg(min(col("depth")).as("depth"))
      val better = cutLineage(candCut.alias("c")
        .join(current.alias("m"), Seq("src", "dst"), "left")
        .where(col("m.depth").isNull || col("c.depth") < col("m.depth"))
        .select(col("src"), col("dst"), col("c.depth").as("depth")))
      improved = !better.isEmpty
      if (improved) {
        // both sides small: replace re-improved pairs, append the rest
        delta = cutLineage(delta.join(better, Seq("src", "dst"), "left_anti")
          .unionAll(better))
        deltaRows = delta.count()
      }
    }
    // the single full-closure reconciliation of the whole maintenance
    // pass: one broadcast anti-join scan of the pinned base
    base.join(maybeBroadcast(delta.select(col("src"), col("dst")), deltaRows),
        Seq("src", "dst"), "left_anti")
      .unionAll(delta)
      .where(col("depth") <= ClosureMaxDepth)
      .select(col("src").as("asset_ean"), col("dst").as("reached_ean"),
        col("depth"))
  }

  /** Registry surface for [[incrementalClosure]]: split the asset
    * graph's edges deterministically (hash mod) into an initial ~95%
    * and an arriving ~5% (a small delta is the streaming arrival
    * shape — the relaxation's round count tracks how many new-edge
    * segments an optimal path alternates through, so a small batch
    * converges in 1-2 rounds; the GraphOpsSpec property tests exercise
    * heavier 30-40% splits), build the closure of the initial set,
    * then maintain it incrementally with the delta. The result must
    * equal the batch closure of ALL edges — so the DuckDB oracle is
    * [[assetClosure]]'s own recursive CTE, making every driver run a
    * differential proof of the maintenance algebra.
    */
  def assetClosureIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = cutLineage(upwardEdges(spark, dir))
    val split = abs(hash(col("src"), col("dst"))) % 20
    incrementalClosure(
      closureOf(all.where(split < 19)),
      all.where(split >= 19))
  }

  /** Weighted PageRank over the trade graph, [[PrRounds]] fixed
    * iterations on the integer grid:
    * `pr'(v) = 0.15·S + Σ_{u→v} ⌊pr(u)·85·w(u,v) / (100·wout(u))⌋`.
    * Every iteration is a broadcast join of ranks onto edges plus one
    * partial-aggregated groupBy(dst) — at scale ranks are the small
    * side only when nodes ≪ edges (true for nation graphs; a web-scale
    * graph would make the rank join a keyed shuffle instead, same
    * plan shape minus the broadcast hint).
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    // the rank table is memoized like the library's other trained
    // artifacts (codebooks, cc_labels, merge tables): a pagerank
    // deployment WRITES its ranks once per refresh and every consumer
    // reads the table — in-session, the 5-round build lands in the
    // warmup and steady-state queries read the cache
    memoized(spark, dir, "pagerank_ranks") { pagerankBuild(spark, dir, lit(true)) }

  /** [[tradeEdges]] with each source's total out-weight `wout`: the
    * iteration-invariant edge set of the rank loops, memoized under one
    * key so [[pagerank]], [[personalizedPagerank]] and [[hits]] share
    * one derivation.
    */
  private def weightedTradeEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "trade_edges") {
      val e = tradeEdges(spark, dir)
      val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      e.join(wout, Seq("src"))
    }

  /** The (node, pr) rank rounds with the teleport mass on the nodes
    * `isSeed` selects: seeds start at [[PrScale]] and re-receive the
    * (1−d) base each round, every other node starts at (and teleports)
    * zero — `lit(true)` is plain PageRank. Without the per-round cut
    * round R replans an R-deep join stack (measured 5.0 s); the data
    * work itself is one tiny join+agg per round.
    */
  private def pagerankBuild(spark: SparkSession, dir: String, isSeed: Column): DataFrame = {
    val edges = weightedTradeEdges(spark, dir)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val base = PrScale * (PrDampDen - PrDampNum) / PrDampDen
    val init = nodes.withColumn("pr", when(isSeed, lit(PrScale)).otherwise(lit(0L)))
    Artifacts.iterate(init, PrRounds) { pr =>
      val contrib = edges
        .join(broadcast(pr), col("src") === col("node"))
        .select(col("dst"),
          expr(s"(pr * $PrDampNum * w) div ($PrDampDen * wout)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            coalesce(col("contrib"), lit(0L))).as("pr"))
    }._1
  }

  /** Per-node triangle counts over the undirected trade graph — the
    * clustering/community primitive (a node's triangle count is the
    * numerator of its local clustering coefficient).
    *
    * Algorithm: degree-ordered edge orientation (Ortmann & Brandes'
    * standard formulation of the classic compact-forward counting).
    * Every undirected edge is oriented from its lower- to its
    * higher-(degree, id) endpoint; wedges u→v, u→w with v ≺ w are
    * generated per source u, and a wedge closes iff the edge v→w
    * exists (v ≺ w makes that ONE oriented probe, and each triangle
    * closes exactly once, from its ≺-minimal vertex). The ordering is
    * compared as a (degree, node) STRUCT — no rank window, no extra
    * shuffle — and makes per-source out-degree O(√m) on any graph, so
    * wedge generation is O(m^1.5) worst-case instead of the Σdeg²
    * a skew-blind orientation hits (the reason this survives a
    * power-law graph at 100 TB where the naive 3-way self-join dies
    * on the hub nodes).
    *
    * Shape: the wedge self-join and the closing semi-join are keyed
    * shuffles of the (8+8)-byte oriented edge list only; per-node
    * counts are one partial-aggregated explode of the closed wedges;
    * nodes in no triangle emit 0 via the left join onto the node set.
    * The 25-node fixture keeps the oracle (a plain a<b<c SQL 3-way
    * join — orientation-independent by construction) exact.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // the oriented edge list is memoized: it feeds THREE consumers
    // (both wedge-join sides and the closing semi-join probe) and each
    // would otherwise recompute the lineitem-scale edge derivation —
    // the minhashSignatures rationale (self-join sides defeat
    // plan-level exchange reuse); at cluster scale the oriented list
    // is the artifact a graph job materializes once
    val oriented = memoized(spark, dir, "triangle_oriented") {
      val und = tradeEdges(spark, dir)
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      // orient by (deg, node) lexicographic order: lo = smaller endpoint
      val keyed = und
        .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      def k(d: String, n: String) = struct(col(d).as("d"), col(n).as("n"))
      val aFirst = k("da", "a") < k("db", "b")
      keyed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("lo"),
        when(aFirst, col("b")).otherwise(col("a")).as("hi"),
        when(aFirst, k("db", "b")).otherwise(k("da", "a")).as("hi_key"))
    }
    val wedges = oriented.select(col("lo").as("u"), col("hi").as("v"), col("hi_key").as("vk"))
      .join(oriented.select(col("lo").as("u"), col("hi").as("w"), col("hi_key").as("wk")), Seq("u"))
      .where(col("vk") < col("wk"))
    val closed = wedges.join(
      oriented.select(col("lo").as("v"), col("hi").as("w")),
      Seq("v", "w"), "left_semi")
    val perNode = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    val nodes = oriented.select(col("lo").as("node"))
      .union(oriented.select(col("hi").as("node"))).distinct()
    nodes
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** k and unrolled round count for [[kCore]] (rounds shared with the
    * oracle's CTE unroll — the CcRounds/PrRounds device; the spec
    * proves the fixture reaches its fixpoint within the bound).
    */
  val KCoreK = 5
  val KCoreRounds = 8

  /** One peeling round: drop every node with degree < k, then every
    * edge missing an endpoint. */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k).select(col("node"))
    e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
  }

  /** Bounded-round k-core peeling over an undirected (a, b) edge set —
    * exposed for the spec's synthetic graphs. Each round is one
    * partial-agg degree count + two semi-joins (nothing wider than a
    * node id); lineage is cut per round (the degree count and both
    * semi-joins re-read the round's edge set — uncut, the plan tree
    * would triple per round; the rounds run through
    * [[graft.sources.Artifacts.iterate]]). Returns surviving nodes with
    * their core-subgraph degree.
    */
  private[graft] def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val (e, _) = Artifacts.iterate(edges, rounds)(peelOnce(_, k))
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Edge-sample size for [[kCore]]'s threshold (the q50 sketch's k). */
  val KCoreSampleK = 256

  /** p75 strength threshold from a deterministic bottom-k-by-hash EDGE
    * SAMPLE — the scale-safe replacement for a whole-edge-list exact
    * `percentile`. Spark's `Percentile` is a TypedImperativeAggregate
    * that buffers every distinct value with its count in ONE
    * aggregation buffer; at 100 TB the distinct edge-weight set is
    * effectively |E| and that buffer is unbounded. Here instead: keep
    * the [[KCoreSampleK]] edges whose 60-bit md5(a:b) hashes are
    * smallest (a TakeOrdered — mergeable per-partition bottom-k, each
    * map task ships ≤ k rows, driver holds exactly k), then read the
    * sample p75 off the sorted k values at index floor(3(m−1)/4) —
    * the identical device as [[Relational.q50SampleQuantiles]], at the
    * same √k error price, and exact (value copied, integer compare)
    * where the old interpolated quantile compared doubles. Exposed for
    * the spec's sample≥population equivalence proof.
    */
  private[graft] def sampleStrengthP75(und: DataFrame): DataFrame =
    und
      .select(col("a"), col("b"), col("w"),
        TextOps.rotLong("md5(concat_ws(':', a, b))", 0).as("h"))
      .orderBy(col("h").asc, col("a").asc, col("b").asc)
      .limit(KCoreSampleK)
      .agg(count(lit(1)).as("m"), sort_array(collect_list(col("w"))).as("vs"))
      .select(expr("element_at(vs, CAST(3 * (m - 1) DIV 4 AS INT) + 1)").as("t"))

  /** k-core decomposition (bounded unroll) of the STRONG trade graph:
    * undirected nation-trade edges kept when their combined weight
    * reaches the corpus's own (sampled) 75th percentile — a relative
    * cut, scale-free where an absolute threshold would saturate as SF
    * grows — then [[KCoreRounds]] peeling rounds at k = [[KCoreK]].
    * The k-core is the standard cohesive-subgraph readout (who is in
    * the densely interconnected trading bloc, after the cascade of
    * marginal members leaving destabilizes their neighbors — exactly
    * what degree filtering alone misses). The threshold comes from
    * [[sampleStrengthP75]]'s bounded bottom-k-by-hash sample (never an
    * exact whole-edge-list percentile — see there for the buffer-bound
    * argument). Oracle unrolls the same rounds as CTEs and re-takes
    * the same sample; GraphOpsSpec proves the cascade semantics on
    * synthetic graphs, fixpoint-within-bound on the fixture, and
    * sample≡exact when k covers the population.
    */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    // memoized peel result (the pagerank_ranks rationale)
    memoized(spark, dir, "kcore_result") {
      kCorePeel(strongEdges(spark, dir), KCoreK, KCoreRounds)
    }

  /** The STRONG undirected trade graph (w ≥ sampled p75 — [[kCore]]'s
    * edge set), factored out because two analytics ([[kCore]],
    * [[linkPredict]]) read it. NOT memoized: each consumer's one
    * derivation is a lineitem-scale scan it already budgets for.
    */
  private[graft] def strongEdges(spark: SparkSession, dir: String): DataFrame = {
    val d = tradeEdges(spark, dir).where(col("src") =!= col("dst"))
    val und = d.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    und.crossJoin(broadcast(sampleStrengthP75(und)))
      .where(col("w") >= col("t"))
      .select(col("a"), col("b"))
  }

  /** Predicted pairs kept (total-ordered TakeOrdered cut). */
  val LpTopN = 20

  /** Link prediction over the strong trade graph — which ABSENT edge
    * is likeliest to appear: common-neighbor count, Adamic–Adar, and
    * resource-allocation scores for every distance-2 non-adjacent
    * pair (Liben-Nowell & Kleinberg 2003). The candidate generator is
    * the friends-of-friends wedge join (adjacency ⨝ adjacency on the
    * shared middle node) — candidates are Σ deg(z)² over MIDDLE
    * nodes, never the |V|² all-pairs; at web scale the hub dial is a
    * per-node neighbor cap, the same df-cap device as
    * `dedupContainment`'s blocking index (the strong-graph w≥p75 cut
    * already prunes the weight-1 noise hubs here). Scores stay
    * exact-integer: AA's 1/log(deg z) lands on the 2^40 grid via the
    * integer-log2 `length(bin(deg))` (the surprisal/DSIR device —
    * deg ≥ 2 for any shared neighbor, so the denominator is never 0),
    * RA's 1/deg likewise; grid sums are order-free BIGINT adds. Both
    * wedge sides and the degree attach share the one middle-node-keyed
    * exchange; existing edges leave via a left-anti join on the same
    * (u, v) key the grouping just produced.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    // Materialized (cutLineage, computed inside the query): the
    // strong edge set is referenced FIVE times in this plan (both
    // wedge sides through adjD, the degree attach, and the anti-join),
    // and each reference re-derived it from scratch — tradeEdges'
    // lineitem⋈orders fact join ran 5× per call (measured: 104
    // Exchanges / 72 parquet scans in the executed plan). The edge
    // list is ≤ |nations|² rows; cutting it makes every downstream
    // step small-data (guide §3.3's duplicate-subtree case).
    val strong = cutLineage(strongEdges(spark, dir))
    val adj = strong.select(col("a").as("z"), col("b").as("n"))
      .unionAll(strong.select(col("b").as("z"), col("a").as("n")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val adjD = adj.join(deg, Seq("z"))
      .select(col("z"), col("n"),
        expr("1099511627776L div length(bin(deg))").as("aa_c"),
        expr("1099511627776L div deg").as("ra_c"))
    val wedges = adjD.alias("x").join(adjD.alias("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"),
        col("x.aa_c").as("aa_c"), col("x.ra_c").as("ra_c"))
    val cand = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(col("aa_c")).as("aa_grid"), sum(col("ra_c")).as("ra_grid"))
    cand.join(strong.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_grid").desc, col("u").asc, col("v").asc)
      .limit(LpTopN)
  }

  /** Personalization seed set (the "random walk restarts HERE" nodes
    * of a recommendation query) — literal on both engines.
    */
  val PprSeeds: Seq[Long] = Seq(0L, 7L)

  /** Personalized PageRank — [[pagerank]] with the teleport mass
    * restricted to [[PprSeeds]] (random walk with restart; the
    * recommendation/affinity readout "how close is every node to THIS
    * query set"). Identical integer-mass-grid rounds and per-round
    * lineage cuts; the ONLY change is where the (1−d) teleport lands:
    * seeds start with the full [[PrScale]] mass and re-receive the
    * base term each round, every other node starts at (and teleports)
    * zero. One round body with [[pagerank]] (`pagerankBuild`), over
    * the same memoized trade-edge artifact.
    */
  def personalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    // memoized rank artifact (the pagerank_ranks rationale)
    memoized(spark, dir, "ppr_ranks") {
      pagerankBuild(spark, dir, col("node").isin(PprSeeds: _*))
        .withColumnRenamed("pr", "ppr")
    }

  /** Runaway guard for [[starContract]] — far above the O(log² n)
    * rounds the algorithm needs on any real graph (log²(10^12) ≈ 40²
    * bit-ops collapse to ~2·log₂ rounds in practice; the 2000-node
    * path-graph spec case converges in single digits).
    */
  val StarMaxRounds = 30

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi &
    * Vassilvitskii, "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the scale path for component labeling at 100 TB.
    *
    * The library's one FIXPOINT labeler. Min-label propagation
    * ([[TextOps.propagateBounded]], kept at a fixed round count because
    * the oracle unrolls it) advances one HOP per round, so run to
    * fixpoint its round count is the graph diameter — and a near-dup
    * graph over a web-scale corpus reliably contains one pathological
    * chain (mirrored boilerplate, serial-numbered templates) thousands
    * of docs long, turning "a few rounds" into thousands of
    * full-edge-set shuffles. Star contraction instead REWIRES: each
    * round every node re-attaches to the minimum of its neighborhood,
    * so component height roughly halves per double-round and
    * convergence is O(log² n) independent of diameter. The labeling is
    * the component minimum, which the spec checks against a
    * driver-side union-find.
    *
    * Round shape (all scalable primitives, nothing wider than a node
    * id): large-star symmetrizes the edge list, takes the per-node
    * neighborhood min including self (one partial-aggregated
    * hash-agg), and re-points every LARGER neighbor at that min;
    * small-star orients edges (larger, smaller) and re-points the node
    * plus every non-min neighbor at the neighborhood min. Each phase
    * is one groupBy + one |V|-row equi-join + one distinct. The rounds
    * run through [[graft.sources.Artifacts.iterate]], which cuts each
    * (reliable checkpoints on a cluster). Convergence = a full round
    * leaves the edge set unchanged (symmetric difference empty — two
    * anti-joins); the fixed points of the pair of operations are
    * exactly per-component stars centered on the component minimum,
    * so the final edge set IS the label table.
    *
    * Input: symmetric (doc_a, doc_b) pairs (the [[TextOps]] lsh_edges
    * artifact shape). Returns (node, label) plus the round count (the
    * spec asserts rounds ≪ diameter on a path graph).
    */
  def starContract(edgesIn: DataFrame): (DataFrame, Int) = {
    val init = cutLineage(edgesIn
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .where(col("u") =!= col("v")).distinct())
    def unchanged(prev: DataFrame, next: DataFrame): Boolean =
      next.except(prev).unionAll(prev.except(next)).isEmpty
    val (stars, rounds) = Artifacts.iterate(init, StarMaxRounds, unchanged) { e =>
      // large-star: m(u) = min(N(u) ∪ {u}); every neighbor v > u
      // re-points at m(u). m < v always (m ≤ u < v), so no self-loops.
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over (larger, smaller)-oriented edges: m(u) = min
      // neighbor (all neighbors < u here); u and every non-min
      // neighbor re-point at m.
      val pairs = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val wm = pairs.join(
        pairs.groupBy(col("u")).agg(min(col("v")).as("m")), Seq("u"))
      wm.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(wm.select(col("u"), col("m").as("v")))
        .distinct()
    }
    val labels = stars.select(col("u").as("node"), col("v").as("label"))
      .unionByName(stars.select(col("v").as("node"), col("v").as("label")))
      .distinct()
    (labels, rounds)
  }

  /** HITS iteration count (fixed bounded unroll, the pagerank device). */
  val HitsRounds = 5

  /** HITS score grid: scores live on ⟦0, HitsScale⟧ integers. */
  val HitsScale = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999) over the directed trade
    * graph, [[HitsRounds]] fixed iterations on the integer grid:
    *   a'(v) = Σ_{u→v} h(u),  then max-normalized to the grid:
    *   a(v) = ⌊a'(v)·S / max_w a'(w)⌋  (h symmetric over out-edges).
    * Max normalization replaces the classic L2 norm — same fixpoint
    * ranking, but every value stays an exact integer (an L2 sqrt per
    * round would be cross-engine hash-dirty), the same reason pagerank
    * runs on its damping grid. The per-round max is a one-row
    * broadcast, never a driver collect.
    *
    * Shape at 100 TB: each round is two (broadcast-rank join onto
    * edges + partial-aggregated groupBy) passes plus a 1-row max
    * aggregate; ranks are node-sized. A round carries one
    * (node, h, a) frame through [[graft.sources.Artifacts.iterate]],
    * whose per-round cut keeps planning linear in rounds.
    */
  def hits(spark: SparkSession, dir: String): DataFrame =
    // memoized rank artifact (the pagerank_ranks rationale)
    memoized(spark, dir, "hits_ranks") { hitsBuild(spark, dir) }

  private def hitsBuild(spark: SparkSession, dir: String): DataFrame = {
    val edges = weightedTradeEdges(spark, dir).select(col("src"), col("dst"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // per-round max via ONE unpartitioned window pass over the
    // node-sized rank table (the rank table is nations here and stays
    // ≪ edges on any trade-style graph; a web-scale node table would
    // swap this for the agg + broadcast form — same values, the
    // window's single partition is the only thing that changes).
    // First cut of this loop used agg + broadcast(crossJoin): the
    // broadcast subtree re-evaluated the whole round tree once more
    // per round (measured 7.7 s); the window reads it once.
    def gridNorm(raw: DataFrame, c: String): DataFrame = {
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      raw.select(col("node"), col(c), max(col(c)).over(all).as("mx"))
        .select(col("node"), expr(s"($c * $HitsScale) div mx").as(c))
    }
    val init = nodes.withColumn("h", lit(HitsScale)).withColumn("a", lit(HitsScale))
    val (ranks, _) = Artifacts.iterate(init, HitsRounds) { prev =>
      val hub = prev.select(col("node"), col("h"))
      val araw = nodes.join(
          edges.join(broadcast(hub), col("src") === col("node"))
            .groupBy(col("dst")).agg(sum(col("h")).as("a")),
          col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
      val auth = gridNorm(araw, "a")
      val hraw = nodes.join(
          edges.join(broadcast(auth), col("dst") === col("node"))
            .groupBy(col("src")).agg(sum(col("a")).as("h"))
            .select(col("src"), col("h")),
          col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
      // ONE lineage cut per round. Measured variants at sf0.1 (before
      // the seam): agg+broadcast norm with 2 cuts 4.0 s, window norm +
      // eager cut 4.2 s, lazy cut 4.7 s, no cut 15 s (the 5-round
      // monolith replans every window/join). The data work is
      // node-sized throughout.
      gridNorm(hraw, "h").join(auth, Seq("node"))
    }
    ranks.select(col("node"), col("h").as("hub_grid"), col("a").as("auth_grid"),
        (col("h").cast("double") / lit(HitsScale.toDouble)).as("hub"),
        (col("a").cast("double") / lit(HitsScale.toDouble)).as("authority"))
  }
}
