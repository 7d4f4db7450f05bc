package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, TextOps, VectorOps}

/** Graph analytics semantics on the sf0.001 fixture. */
class GraphOpsSpec extends SparkSpec {

  test("degree centrality conserves edge and weight totals across directions") {
    val edges = GraphOps.tradeEdges(spark, sfDir)
    val nEdges = edges.count()
    val totalW = edges.agg(sum("w")).head().getLong(0)
    val deg = GraphOps.degreeCentrality(spark, sfDir).collect()
    assert(deg.map(_.getAs[Long]("out_deg")).sum === nEdges)
    assert(deg.map(_.getAs[Long]("in_deg")).sum === nEdges)
    assert(deg.map(_.getAs[Long]("out_w")).sum === totalW)
    assert(deg.map(_.getAs[Long]("in_w")).sum === totalW)
    // every lineitem contributes exactly one unit of weight
    val lineitems = graft.sources.Tables.lineitem(spark, sfDir).count()
    assert(totalW === lineitems)
  }

  test("pagerank: near-conserved integer mass, every node above the teleport base") {
    val pr = GraphOps.pagerank(spark, sfDir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    val n = pr.size
    val base = GraphOps.PrScale *
      (GraphOps.PrDampDen - GraphOps.PrDampNum) / GraphOps.PrDampDen
    // teleport base is a floor for every node
    assert(pr.values.forall(_ >= base))
    // integer mass: at most the initial total (floor division only loses
    // mass), and within damping drift of it — every unit of lost mass is
    // a floor remainder, ≤ (85/100)·#in-edges per round
    val total = pr.values.sum
    assert(total <= GraphOps.PrScale * n)
    assert(total > GraphOps.PrScale * n * 80 / 100,
      s"mass drained too far: $total of ${GraphOps.PrScale * n}")
    // determinism: a fresh run is bit-identical
    val again = GraphOps.pagerank(spark, sfDir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    assert(again === pr)
  }

  test("asset reachability surfaces multi-hop chains with minimum depth") {
    val out = GraphOps.assetReachability(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.nonEmpty)
    // (src, dst) pairs are unique (min-depth collapse) and depths bounded
    assert(out.values.forall(d => d >= 1L && d <= GraphOps.ReachDepth))
    // triangle property: a depth-d reach implies SOME edge chain, so for
    // every depth-2+ pair there is a depth-1 hop from src whose endpoint
    // reaches dst one level shallower
    val byDepth = out.groupBy(_._2)
    val d1 = byDepth.getOrElse(1L, Map.empty).keySet
    out.foreach { case ((src, dst), d) =>
      if (d > 1L) {
        val mid = d1.collect { case (s, m) if s == src => m }
        assert(mid.exists(m => out.get((m, dst)).exists(_ == d - 1L)),
          s"no $src -> ? -> $dst chain at depth $d")
      }
    }
    // every service with a container parent reaches that container
    val aa = graft.operators.Assets.assetsAll(spark, sfDir)
      .select(col("asset_ean"), col("asset_parents")).collect()
    aa.filter(r => r.getString(1) != null && r.getString(1).nonEmpty)
      .foreach { r =>
        r.getString(1).split("\\|").foreach { p =>
          assert(out.get((r.getString(0), p)).contains(1L),
            s"missing direct edge ${r.getString(0)} -> $p")
        }
      }
  }

  test("recursive closure equals bounded reachability on a shallow graph") {
    // the fixture hierarchy's diameter is <= ReachDepth, so the
    // WITH RECURSIVE closure and the unrolled hop join must agree
    // row-for-row — differential evidence for both implementations
    val cl = GraphOps.assetClosure(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val re = GraphOps.assetReachability(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(cl === re)
    assert(cl.nonEmpty)
  }

  test("incremental closure equals batch BFS when edges arrive in batches") {
    val s = spark; import s.implicits._
    def closureSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the asset fixture's own edges, split deterministically
    val all = GraphOps.upwardEdges(spark, sfDir).localCheckpoint()
    val init = all.where(abs(hash(col("src"), col("dst"))) % 10 < 7)
    val delta = all.where(abs(hash(col("src"), col("dst"))) % 10 >= 7)
    assert(delta.count() > 0 && init.count() > 0)
    val incr = GraphOps.incrementalClosure(GraphOps.closureOf(init), delta)
    assert(closureSet(incr) === closureSet(GraphOps.closureOf(all)))
  }

  test("incremental closure relaxes depths through new shortcut edges and handles cycles") {
    val s = spark; import s.implicits._
    // chain a->b->c->d, then a shortcut a->c arrives: a->d must improve
    // from depth 3 to 2, a->c appear at 1
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val shortcut = Seq(("a", "c")).toDF("src", "dst")
    val out = GraphOps.incrementalClosure(GraphOps.closureOf(chain), shortcut)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("a", "c")) === 1L)
    assert(out(("a", "d")) === 2L)
    assert(out(("a", "b")) === 1L)
    // seeded random digraph WITH cycles, arriving in two batches, must
    // equal the batch BFS over the union; and building from an EMPTY
    // closure must equal the batch BFS too
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((s"n${rnd.nextInt(18)}", s"n${rnd.nextInt(18)}"))
      .distinct.filter(e => e._1 != e._2)
    val (e1, e2) = edges.splitAt(edges.size * 2 / 3)
    val all = edges.toDF("src", "dst")
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = cset(GraphOps.closureOf(all))
    assert(cset(GraphOps.incrementalClosure(
      GraphOps.closureOf(e1.toDF("src", "dst")), e2.toDF("src", "dst"))) === batch)
    val empty = Seq.empty[(String, String, Long)]
      .toDF("asset_ean", "reached_ean", "depth")
    assert(cset(GraphOps.incrementalClosure(empty, all)) === batch)
  }

  test("closure depth cap truncates identically in batch and incremental paths") {
    val s = spark; import s.implicits._
    // a 17-node chain is deeper than ClosureMaxDepth=10: pairs at depth
    // d exist for d = 1..15, so the cap is actually load-bearing here —
    // the r6 fixture (diameter 4) never exercised it. Batch BFS stops
    // at the cap; the incremental path computes TRUE min depths and
    // cuts at the same cap on output, and the two must truncate to the
    // same set even when the previous closure handed to the maintenance
    // step is itself already capped (prefix+suffix segments of any
    // within-cap pair are within the cap, so nothing below it is lost).
    val n = 16
    val chain = (0 until n).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("src", "dst")
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = cset(GraphOps.closureOf(chain))
    assert(batch.forall(_._3 <= GraphOps.ClosureMaxDepth))
    // depth d pairs on a 17-node chain: 16 - d + 1 sources... precisely
    // (n + 1 - d) pairs for d = 1..cap → Σ = 10·16 − (1+...+9) = 115
    assert(batch.size ===
      (1 to GraphOps.ClosureMaxDepth).map(d => n + 1 - d).sum)
    val init = chain.where(col("src") =!= "c07")
    val delta = chain.where(col("src") === "c07")
    assert(delta.count() === 1)
    assert(cset(GraphOps.incrementalClosure(GraphOps.closureOf(init), delta))
      === batch)
  }

  test("closure loops upgrade to reliable checkpoints when a checkpoint dir is set") {
    val s = spark; import s.implicits._
    // with sc.setCheckpointDir set (the cluster deployment signal) every
    // lineage cut must write driver-recoverable checkpoint data AND the
    // loop must produce the same rows
    val ckpt = java.nio.file.Files.createTempDirectory("graft-graph-ckpt").toString
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val shortcut = Seq(("a", "c")).toDF("src", "dst")
    def rows(df: DataFrame): Set[Row] = df.collect().toSet
    // a memoized artifact builds once per session, so each run of one
    // gets its own session
    def fresh(build: SparkSession => DataFrame): Set[Row] = {
      val s = spark.newSession()
      try rows(build(s)) finally TextOps.release(s)
    }
    // the BFS and incremental-maintenance loops; the same seam cuts a
    // memoized artifact's plan (the auto-sized IVF lists), an in-query
    // duplicate subtree (linkPredict's edges) and every round loop of
    // Artifacts.iterate
    val loops: Seq[(String, () => Set[Row])] = Seq(
      "closureOf" -> (() => rows(GraphOps.closureOf(chain.unionAll(shortcut)))),
      "incrementalClosure" -> (() =>
        rows(GraphOps.incrementalClosure(GraphOps.closureOf(chain), shortcut))),
      "ivfAssignAuto" -> (() => fresh(VectorOps.ivfAssignAuto(_, sfDir))),
      "linkPredict" -> (() => rows(GraphOps.linkPredict(spark, sfDir))),
      "propagateBounded" -> (() =>
        rows(TextOps.propagateBounded(symEdges(Seq((0L, 1L), (1L, 2L), (5L, 6L)))))),
      "kCorePeel" -> (() => rows(GraphOps.kCorePeel(
        undEdges(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
          (4L, 5L), (5L, 6L))), 3, 3))),
      "pagerank" -> (() => fresh(GraphOps.pagerank(_, sfDir))),
      "unigramTrainFromDict" -> (() => rows(TextOps.unigramTrainFromDict(
        Seq(("lower", 5L), ("lowest", 2L), ("newer", 6L), ("wider", 3L), ("new", 2L))
          .toDF("w", "f")))))
    val plain = loops.map(_._2())
    def landed() = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    spark.sparkContext.setCheckpointDir(ckpt)
    try loops.zip(plain).foreach { case ((name, run), expected) =>
      val before = landed()
      assert(run() === expected, s"$name rows differ under a checkpoint dir")
      assert(landed() > before, s"no reliable checkpoint files written by $name")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("pagerank ranks a heavily-bought-from nation above a lightly-bought-from one") {
    val inW = GraphOps.degreeCentrality(spark, sfDir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("in_w")).toMap
    val pr = GraphOps.pagerank(spark, sfDir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    val top = inW.maxBy(_._2)._1
    val bottom = inW.minBy(_._2)._1
    assert(pr(top) > pr(bottom),
      s"in-weight max node $top should out-rank min node $bottom")
  }

  test("triangles: degree-ordered counts equal a brute-force triple enumeration") {
    val und = GraphOps.tradeEdges(spark, sfDir)
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = und.flatMap(e => Set(e._1, e._2))
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(a, b, c) <- nodes.toSeq.sorted.combinations(3)
      if und((a, b)) && und((b, c)) && und((a, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    val out = GraphOps.triangles(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === nodes)
    nodes.foreach(n => assert(out(n) === counts(n), s"node $n"))
    // the nation trade graph is dense enough that triangles exist —
    // the zero-coalesce path is NOT the only path exercised
    assert(out.values.sum > 0L)
  }

  private def symEdges(pairs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    val e = pairs.toDF("doc_a", "doc_b")
    e.unionAll(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
  }

  private def undEdges(pairs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    pairs.toDF("a", "b")
  }

  test("kCorePeel: the 5-core of a clique-plus-pendant-path is exactly the clique") {
    // K6 on nodes 0..5 (every node degree 5) with a path 5-10-11-12
    // hanging off it: the path peels away (cascade: 12 first, then 11,
    // then 10), the clique survives with in-core degree 5
    val clique = for { i <- 0L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val path = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val got = GraphOps.kCorePeel(undEdges(clique ++ path), 5, 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 5L).map(_ -> 5L).toMap)
  }

  test("kCorePeel: degree filtering alone is NOT the k-core (the cascade matters)") {
    // path 0-1-2-3-4 at k=2: interior nodes start at degree 2, but
    // removing the endpoints cascades until nothing is left — while a
    // 5-cycle at k=2 survives whole
    val path = (0L to 3L).map(i => (i, i + 1))
    assert(GraphOps.kCorePeel(undEdges(path), 2, 6).collect().isEmpty)
    val cycle = (0L to 3L).map(i => (i, i + 1)) :+ (4L, 0L)
    val got = GraphOps.kCorePeel(undEdges(cycle), 2, 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 4L).map(_ -> 2L).toMap)
  }

  test("kCore reaches its fixpoint within the unrolled round bound on the fixture") {
    val bounded = GraphOps.kCore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // re-peel the fixture graph with extra rounds: no further change
    val d = GraphOps.tradeEdges(spark, sfDir).where(col("src") =!= col("dst"))
    val und = d.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val strong = und.crossJoin(broadcast(GraphOps.sampleStrengthP75(und)))
      .where(col("w") >= col("t"))
      .select(col("a"), col("b"))
    val more = GraphOps.kCorePeel(strong, GraphOps.KCoreK,
        GraphOps.KCoreRounds + 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === more, "fixture did not reach its k-core fixpoint in the bound")
  }

  test("kCore threshold: sampled p75 equals the exact order statistic when k covers the population") {
    // a synthetic weighted edge set smaller than KCoreSampleK: the
    // bottom-k-by-hash sample IS the population, so the sampled
    // threshold must equal sorted(w)[floor(3(m-1)/4)] exactly
    val rnd = new scala.util.Random(7)
    val ws = (0 until 100).map(i => (i.toLong, (i + 500).toLong, rnd.nextInt(1000).toLong + 1))
    assert(ws.size < GraphOps.KCoreSampleK)
    val und = spark.createDataFrame(ws).toDF("a", "b", "w")
    val got = GraphOps.sampleStrengthP75(und).head().getLong(0)
    val sorted = ws.map(_._3).sorted
    val expected = sorted(3 * (sorted.size - 1) / 4)
    assert(got === expected)
  }

  test("kCore threshold: truncated sample keeps exactly the 256 smallest-hash edges") {
    // population > KCoreSampleK so the bottom-k LIMIT path actually
    // truncates; the expected threshold is recomputed independently:
    // md5("a:b") first-15-hex as a 60-bit long, keep the 256 edges with
    // the smallest (h, a, b), then the p75 order statistic of their w
    val rnd = new scala.util.Random(11)
    val ws = (0 until 400).map(i =>
      (i.toLong, (i + 1000).toLong, rnd.nextInt(100000).toLong + 1))
    assert(ws.size > GraphOps.KCoreSampleK)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(a: Long, b: Long): Long = {
      val hex = md.digest(s"$a:$b".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val sampled = ws.sortBy { case (a, b, _) => (h60(a, b), a, b) }
      .take(GraphOps.KCoreSampleK).map(_._3).sorted
    val expected = sampled(3 * (sampled.size - 1) / 4)
    val und = spark.createDataFrame(ws).toDF("a", "b", "w")
    assert(GraphOps.sampleStrengthP75(und).head().getLong(0) === expected)
  }

  test("starContract labels a seeded random graph identically to min-label propagation") {
    val rnd = new scala.util.Random(42)
    // ~60 nodes, ~70 random edges → a mix of components, chains, cycles
    val pairs = (0 until 70).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.filter(p => p._1 != p._2)
    val edges = symEdges(pairs)
    val (starLabels, _) = GraphOps.starContract(edges)
    val star = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side reference: min-label propagation over the collected
    // edges — every node starts as its own label and takes the smaller
    // neighbour label each sweep until no label moves
    val adj = edges.collect().map(r => r.getLong(0) -> r.getLong(1))
    var prop = adj.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
    var moved = true
    while (moved) {
      val next = adj.foldLeft(prop) { case (m, (a, b)) =>
        if (m(b) < m(a)) m.updated(a, m(b)) else m
      }
      moved = next != prop
      prop = next
    }
    assert(star === prop, "different algorithms, same fixed point: component minimum")
  }

  test("starContract converges on a path graph in rounds ≪ diameter") {
    // 2000-node path: diameter 1999. Min-label propagation advances one
    // hop per round, so it would need 1999 rounds; star contraction
    // must land every node on label 0 in O(log² n) rounds.
    val n = 2000
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val (labels, rounds) = GraphOps.starContract(symEdges(pairs))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n)
    assert(got.values.toSet === Set(0L), "path not fully contracted")
    assert(rounds <= 15, s"took $rounds rounds — not diameter-independent")
  }

  test("starContract handles multiple components and preserves component boundaries") {
    // two components: a triangle {10,11,12} and a 4-chain {20..23}
    val pairs = Seq((10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L), (22L, 23L))
    val (labels, _) = GraphOps.starContract(symEdges(pairs))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("linkPredict: full driver replay from the strong edge set") {
    val strong = GraphOps.strongEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // friends-of-friends replay with integer-grid AA/RA contributions
    val adj = strong.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = adj.groupBy(_._1).map { case (z, ps) => z -> ps.map(_._2).toSet }
    def bits(n: Long): Long = java.lang.Long.toBinaryString(n).length.toLong
    val grid = 1099511627776L
    val cand = nbrs.toSeq.flatMap { case (z, ns0) =>
      val ns = ns0.toSeq.sorted
      for (u <- ns; v <- ns if u < v) yield ((u, v), z)
    }.groupBy(_._1).map { case ((u, v), zs) =>
      val mid = zs.map(_._2)
      val deg = mid.map(z => nbrs(z).size.toLong)
      (u, v, mid.size.toLong,
        deg.map(d => grid / bits(d)).sum, deg.map(d => grid / d).sum)
    }.filterNot { case (u, v, _, _, _) => strong((u, v)) }
      .toSeq.sortBy { case (u, v, _, aa, _) => (-aa, u, v) }
      .take(GraphOps.LpTopN)
    val got = GraphOps.linkPredict(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty, "fixture produced no non-edge candidates")
    assert(got.toSeq === cand)
    // every emitted pair is genuinely absent from the graph
    got.foreach { case (u, v, cn, _, _) =>
      assert(!strong((u, v)) && !strong((v, u)), s"($u,$v) is an edge")
      assert(cn >= 1L)
    }
  }

  test("personalizedPagerank: exact integer replay; teleport mass only at seeds") {
    val edges = GraphOps.tradeEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val base = GraphOps.PrScale *
      (GraphOps.PrDampDen - GraphOps.PrDampNum) / GraphOps.PrDampDen
    val seeds = GraphOps.PprSeeds.toSet
    var pr = nodes.map(n =>
      n -> (if (seeds(n)) GraphOps.PrScale else 0L)).toMap
    for (_ <- 1 to GraphOps.PrRounds) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) =>
          (pr(src) * GraphOps.PrDampNum * w) /
            (GraphOps.PrDampDen * wout(src))
        }.sum
      }
      pr = nodes.map(n =>
        n -> ((if (seeds(n)) base else 0L) + contrib.getOrElse(n, 0L))).toMap
    }
    val got = GraphOps.personalizedPagerank(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === pr)
    // personalization is real: seeds hold strictly more mass than the
    // non-seed median (close-to-seed nodes outrank far ones)
    val nonSeed = got.filterNot(kv => seeds(kv._1)).values.toSeq.sorted
    assert(seeds.forall(s => got(s) > nonSeed(nonSeed.size / 2)))
  }

  test("hits: integer-grid replay equals the operator, top ranks pin to the grid") {
    val edges = GraphOps.tradeEdges(spark, sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var h = nodes.map(_ -> GraphOps.HitsScale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to GraphOps.HitsRounds) {
      val araw = nodes.map(n =>
        n -> edges.filter(_._2 == n).map(e => h(e._1)).sum).toMap
      val amax = araw.values.max
      a = araw.map { case (n, v) => n -> v * GraphOps.HitsScale / amax }
      val hraw = nodes.map(n =>
        n -> edges.filter(_._1 == n).map(e => a(e._2)).sum).toMap
      val hmax = hraw.values.max
      h = hraw.map { case (n, v) => n -> v * GraphOps.HitsScale / hmax }
    }
    val got = GraphOps.hits(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === nodes.toSet)
    nodes.foreach(n => assert(got(n) === ((h(n), a(n))), s"node $n"))
    // max normalization pins the top of each ranking to the full grid
    assert(got.values.map(_._1).max === GraphOps.HitsScale)
    assert(got.values.map(_._2).max === GraphOps.HitsScale)
    // the double scores are the single-division views of the grid
    GraphOps.hits(spark, sfDir).collect().foreach { r =>
      assert(r.getDouble(3) ===
        r.getLong(1).toDouble / GraphOps.HitsScale.toDouble)
      assert(r.getDouble(4) ===
        r.getLong(2).toDouble / GraphOps.HitsScale.toDouble)
    }
  }
}
