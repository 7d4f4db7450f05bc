package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, least, lit}
import org.apache.spark.storage.StorageLevel

import graft.operators.{TextOps, VectorOps}
import graft.sources.Artifacts

/** The artifact store notices when its input files change: a rewritten
  * source is a new generation of every value derived from it — source
  * scans, persisted sidecars and driver-side scalars alike — and the
  * old generation's blocks are released unless a sibling session still
  * holds them.
  */
class ArtifactsSpec extends SparkSpec {

  private def docs(texts: String*): DataFrame = {
    val s = spark; import s.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Replace `dir/name.parquet` the way another job would: written
    * elsewhere, then moved into place. A write through this session to
    * the path itself would also refresh the CacheManager's entries over
    * it (`recacheByPath`), which a file changed from outside never does.
    */
  private def rewrite(dir: String, name: String, df: DataFrame): Unit = {
    val staged = Files.createTempDirectory("graft-staged").resolve(name)
    df.coalesce(1).write.parquet(staged.toString)
    val target = Paths.get(dir, s"$name.parquet")
    Files.walk(target).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    Files.move(staged, target)
  }

  private def termStats(s: SparkSession, dir: String): Map[String, (Long, Long)] =
    TextOps.termStats(s, dir).collect()
      .map(r => r.getAs[String]("term") -> (r.getAs[Long]("df"), r.getAs[Long]("freq"))).toMap

  /** The RDD holding the blocks `df` was cached into when it first ran.
    * `df.storageLevel` cannot tell generations apart: it looks the plan
    * up in the CacheManager, and a rebuilt generation's plan equals the
    * old one.
    */
  private def cacheRdd(df: DataFrame): Option[Int] =
    df.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedColumnBuffers.id
    }

  private val before = Seq("a b c", "a b")
  private val after = Seq("a b c d", "d d", "e")
  private val afterStats = Map("a" -> (1L, 1L), "b" -> (1L, 1L), "c" -> (1L, 1L),
    "d" -> (2L, 3L), "e" -> (1L, 1L))

  test("a rewritten embeddings.parquet moves the IVF dials, in this session and a new one") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = tempTableDir("embeddings", vecs.limit(40))
    def nVectors(s: SparkSession): Long =
      VectorOps.ivfAutoDial(s, dir).head().getAs[Long]("n_vectors")
    assert(nVectors(spark) === 40L)
    rewrite(dir, "embeddings", vecs.limit(60))
    assert(nVectors(spark) === 60L)
    val fresh = spark.newSession()
    try assert(nVectors(fresh) === 60L)
    finally TextOps.release(fresh)
    TextOps.release(spark)
  }

  test("a rewritten corpus rebuilds its BM25 stats and sidecars and unpersists the old ones") {
    val dir = tempTableDir("documents", docs(before: _*))
    assert(TextOps.bm25Stats(spark, dir) === ((2L, 5L)))
    val old = TextOps.termStats(spark, dir)
    assert(termStats(spark, dir) ===
      Map("a" -> (2L, 2L), "b" -> (2L, 2L), "c" -> (1L, 1L)))
    val oldRdd = cacheRdd(old).get
    assert(spark.sparkContext.getPersistentRDDs.contains(oldRdd))
    rewrite(dir, "documents", docs(after: _*))
    assert(TextOps.bm25Stats(spark, dir) === ((3L, 7L)))
    assert(termStats(spark, dir) === afterStats)
    assert(!spark.sparkContext.getPersistentRDDs.contains(oldRdd),
      "the old generation's blocks must be unpersisted")
    assert(cacheRdd(TextOps.termStats(spark, dir)).exists(_ != oldRdd),
      "the new generation must be cached in blocks of its own")
    TextOps.release(spark)
  }

  test("a sibling session's old generation stays pinned until the sibling releases it") {
    val dir = tempTableDir("documents", docs(before: _*))
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val old1 = TextOps.termStats(s1, dir)
    val old2 = TextOps.termStats(s2, dir)
    old1.count(); old2.count()
    val oldRdd = cacheRdd(old2).get
    rewrite(dir, "documents", docs(after: _*))
    val new1 = TextOps.termStats(s1, dir)
    assert(!(new1 eq old1), "a rewritten corpus must build a new generation")
    assert(spark.sparkContext.getPersistentRDDs.contains(oldRdd),
      "a generation a sibling still holds must stay pinned")
    TextOps.release(s2)
    assert(!spark.sparkContext.getPersistentRDDs.contains(oldRdd))
    assert(old2.storageLevel === StorageLevel.NONE)
    // the last holder let go: s1's new generation reads the new files
    assert(termStats(s1, dir) === afterStats)
    TextOps.release(s1)
  }

  test("unchanged files give back the same generation and a lookup starts no job") {
    val dir = tempTableDir("documents", docs(before: _*))
    val old = TextOps.termStats(spark, dir)
    rewrite(dir, "documents", docs(after: _*))
    val cur = TextOps.termStats(spark, dir)
    assert(!(cur eq old))
    cur.count()
    assert(TextOps.termStats(spark, dir) eq cur)
    TextOps.bm25Stats(spark, dir)
    assert(jobsOf {
      TextOps.termStats(spark, dir)
      assert(TextOps.bm25Stats(spark, dir) === ((3L, 7L)))
    } === 0)
    TextOps.release(spark)
  }

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  test("iterate stops when converged holds, judging the two cut frames, and counts the rounds") {
    val s = spark; import s.implicits._
    // x -> min(x + 1, 3) from 0: rounds 1-3 move x, round 4 leaves it
    var judgedUncut = false
    val (last, rounds) = Artifacts.iterate(Seq(0L).toDF("x"), 10, (prev, next) => {
      judgedUncut ||= !isCut(next)
      prev.head().getLong(0) == next.head().getLong(0)
    })(_.select(least(col("x") + 1L, lit(3L)).as("x")))
    assert(rounds === 4)
    assert(last.head().getLong(0) === 3L)
    assert(isCut(last))
    assert(!judgedUncut, "converged saw a round that was not cut")
  }

  test("iterate stops at maxRounds when nothing converges") {
    val s = spark; import s.implicits._
    val (last, rounds) = Artifacts.iterate(Seq(0L).toDF("x"), 5)(_.select((col("x") + 1L).as("x")))
    assert(rounds === 5)
    assert(last.head().getLong(0) === 5L)
    assert(isCut(last))
  }

  test("propagateBounded's labels plan as one cut leaf, not a join tree per round") {
    val s = spark; import s.implicits._
    // path 0-1-2-3: diameter 3 = CcRounds, so the bounded rounds finish it
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val labels = TextOps.propagateBounded(
      e.unionAll(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    assert(isCut(labels), labels.queryExecution.analyzed.treeString)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }
}
