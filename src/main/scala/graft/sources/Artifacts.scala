package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one session artifact store: everything the library derives once
  * and reuses across queries lives here, under one key, one staleness
  * check and one lifecycle.
  *
  * Clients:
  *   - resolved source scans ([[resolve]], [[table]]): `spark.read…load`
  *     is eager (a listing and a parquet footer job) and the signal
  *     env's date-math `now` is a further two-job [[Tables.maxBound]]
  *     scan, so serving resolves both once per file generation;
  *   - persisted artifacts ([[memoized]]): minhash signatures, LSH edge
  *     sets, postings and term-stats sidecars, IVF/PQ codebooks, graph
  *     ranks — built once, persisted `MEMORY_AND_DISK`, shared by every
  *     query of the session that reads them;
  *   - driver-side scalars ([[scalar]]): the BM25 index statistics and
  *     the corpus count behind the auto-sized IVF dials.
  *
  * '''Slots and generations.''' A slot is keyed by (session reference,
  * name, paths) and holds one generation: the value plus the stamp of
  * the files it was built from — (path, size, mtime) of every file
  * under the paths, from a Hadoop listing in the calling JVM that starts
  * no Spark job. Every lookup lists the paths again; a changed stamp (a
  * file added, removed or rewritten) builds a new generation, so a
  * stale value is never served. A generation builds once under its
  * slot's monitor: Bench's warmup drives entries from a thread pool,
  * and a bare `getOrElseUpdate` could build one key twice and leak the
  * loser's persisted frame. Different slots build concurrently.
  *
  * '''Replacement order.''' The old generation is unpersisted BEFORE
  * the new one is built. The CacheManager matches cached data by plan,
  * and a rewritten file under the same path yields a plan equal to the
  * old one: persisted first, the new frame would find the old entry
  * "already cached" and register none of its own, so it would read the
  * old blocks, and once those are dropped it would not be cached at all.
  *
  * '''Sibling sessions.''' The CacheManager lives in SharedState, so
  * two sessions of one SparkContext that build the same (name, paths)
  * share ONE cache entry. A generation is therefore unpersisted only
  * when no other session's slot holds the same generation; its blocks
  * stay pinned until the last holder lets go. While a sibling pins an
  * old generation, a plan equal to it reads those blocks.
  *
  * '''Lifecycle.''' [[release]] (called through
  * [[graft.operators.TextOps.release]] by the drivers before session
  * stop) unpersists and forgets a session's slots; every lookup also
  * drops slots whose SparkContext has stopped, whose blocks are gone
  * already. A weak-keyed map would not work: a persisted DataFrame
  * strongly references its session, so the key never becomes weakly
  * reachable.
  */
object Artifacts {

  /** One resolved generation of a source. The signal members apply to
    * events-shaped sources only and are built on first use, once.
    */
  final class Resolved private[Artifacts] (val scan: DataFrame) {
    /** [[Tables.signalsFrom]] over [[Tables.eventsFrom]] of the scan.
      * Analyzing this wide projection costs tens of ms, so requests
      * share one analyzed view.
      */
    lazy val signals: DataFrame = Tables.signalsFrom(Tables.eventsFrom(scan))

    /** The max `ts` of [[signals]] — the date-math `now`; null when the
      * source is empty.
      */
    lazy val maxTs: java.sql.Timestamp = Tables.maxBound(signals, "ts") match {
      case t: java.sql.Timestamp => t
      case _ => null
    }
  }

  private type Stamp = Seq[(String, Long, Long)]
  private final class Generation(val stamp: Stamp, val value: Any)
  private final class Slot { @volatile var current: Generation = _ }
  private type Key = (SparkSession, String, Seq[String])
  private val slots = TrieMap.empty[Key, Slot]

  private def sweepStopped(): Unit =
    slots.filterInPlace { case (k, _) => !k._1.sparkContext.isStopped }

  /** The value of slot (spark, name, paths) for the files `stamp` lists,
    * built by `build` when the slot holds no generation of them.
    */
  private def generation[T](spark: SparkSession, name: String, paths: Seq[String],
      stamp: Stamp)(build: => T): T = {
    sweepStopped()
    val key = (spark, name, paths)
    val slot = slots.getOrElseUpdate(key, new Slot)
    def fresh = Option(slot.current).filter(_.stamp == stamp)
    fresh.getOrElse(slot.synchronized {
      fresh.getOrElse {
        Option(slot.current).foreach(drop(key, _))
        val g = new Generation(stamp, build)
        slot.current = g
        g
      }
    }).value.asInstanceOf[T]
  }

  /** Unpersist `g`, held by `key`'s session, unless another session's
    * slot holds the same generation (see the sibling rule above).
    */
  private def drop(key: Key, g: Generation): Unit = g.value match {
    case df: DataFrame @unchecked if !slots.exists { case (k, s) =>
        (k._1 ne key._1) && k._2 == key._2 && k._3 == key._3 &&
          Option(s.current).exists(_.stamp == g.stamp) } =>
      df.unpersist(blocking = false)
    case _ =>
  }

  /** `ref`'s scan for the files under its paths now. Paths that match
    * no file are not stored: the read reports its own error.
    */
  def resolve(spark: SparkSession, ref: SourceRef): Resolved =
    fingerprint(spark, ref.paths) match {
      case None => new Resolved(ref.read(spark))
      case Some(fp) =>
        val name = ref.format + ref.options.toSeq.sorted.mkString("(", ",", ")")
        generation(spark, name, ref.paths, fp)(new Resolved(ref.read(spark)))
    }

  /** [[Tables.table]] through the store: `dir/name.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolve(spark, SourceRef(name, Seq(s"$dir/$name.parquet"))).scan

  /** The artifact `key` of the files under `dir`, persisted
    * `MEMORY_AND_DISK`. A dir that lists no file has an empty stamp, so
    * its artifacts still build once per session.
    */
  private[graft] def memoized(spark: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    generation(spark, key, Seq(dir), fingerprint(spark, Seq(dir)).getOrElse(Nil)) {
      build.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** A driver-side value `name` computed from the files under `dir` —
    * the index statistics a deployment stores beside its index rather
    * than re-aggregating per query.
    */
  private[graft] def scalar[T](spark: SparkSession, dir: String, name: String)
      (compute: => T): T =
    generation(spark, name, Seq(dir), fingerprint(spark, Seq(dir)).getOrElse(Nil))(compute)

  /** Cut `df`'s lineage: the library's one materialization seam.
    *
    * `localCheckpoint` blocks live UNREPLICATED on executors, so on a
    * real cluster any executor loss (or dynamic-allocation
    * decommission) makes a cut unrecoverable and fails the job. The
    * cut therefore upgrades to reliable `Dataset.checkpoint` whenever
    * the caller has set `sc.setCheckpointDir` (the cluster deployment
    * signal); runs without a checkpoint dir keep the cheaper
    * executor-local variant. Iterative rounds ([[iterate]]), duplicate-subtree cuts
    * and the plan-size cuts under memoized artifacts all go through
    * here, so the upgrade applies uniformly.
    */
  private[graft] def cutLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** The library's one round seam: run `step` from `init` until
    * `converged` or `maxRounds`, cutting every round's frame through
    * [[cutLineage]]. A round's state usually feeds the next round more
    * than once (a join AND an update), so an uncut loop's plan doubles
    * per round; here no loop can forget the cut. `converged(prev, next)`
    * sees only the two cut frames, so a check never recomputes a round.
    * Returns the last frame and the number of rounds run.
    */
  private[graft] def iterate(init: DataFrame, maxRounds: Int,
      converged: (DataFrame, DataFrame) => Boolean = (_, _) => false)
      (step: DataFrame => DataFrame): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(prev: DataFrame, rounds: Int): (DataFrame, Int) =
      if (rounds >= maxRounds) (prev, rounds)
      else {
        val next = cutLineage(step(prev))
        if (converged(prev, next)) (next, rounds + 1) else loop(next, rounds + 1)
      }
    loop(init, 0)
  }

  /** Unpersist and forget every slot of `spark`. */
  def release(spark: SparkSession): Unit =
    slots.keys.filter(_._1 eq spark).foreach { k =>
      slots.remove(k).foreach(s => Option(s.current).foreach(drop(k, _)))
    }

  /** Every live persisted artifact, by its slot key. */
  private def memoArtifacts: Seq[(Key, DataFrame)] = {
    sweepStopped()
    slots.readOnlySnapshot().toSeq.flatMap { case (k, s) =>
      Option(s.current).map(_.value).collect { case df: DataFrame @unchecked => k -> df }
    }
  }

  /** Persistent-RDD ids this session's memoized artifacts DEPEND on:
    * the checkpoint RDDs their plans scan (LogicalRDD leaves — the
    * plan-size cut under the memo persist). A checkpoint block is the
    * ONLY copy of its partition, so the inter-query block sweep
    * ([[graft.Bench.sweepCheckpoints]]) must never unpersist one of
    * these: a memo cache partition that later recomputes (eviction,
    * multi-session sharing) would fail with a missing-block error
    * instead of rebuilding. Every other cut in this library is
    * per-query transient and safe to drop once the query's action has
    * returned.
    */
  private[graft] def pinnedRddIds(spark: SparkSession): Set[Int] =
    memoArtifacts.collect { case ((s, _, _), df) if s eq spark => df }
      .flatMap(_.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id })
      .toSet

  /** Test views of the persisted artifacts (not sources or scalars):
    * count for one session, their keys (WarmupSpec asserts the bench
    * warmup list touches every one; a key registers at plan
    * construction inside [[memoized]], so no query has to run), and
    * the count over all sessions.
    */
  private[graft] def memoEntriesFor(spark: SparkSession): Int =
    memoArtifacts.count(_._1._1 eq spark)
  private[graft] def memoKeysFor(spark: SparkSession): Set[String] =
    memoArtifacts.collect { case ((s, k, _), _) if s eq spark => k }.toSet
  private[graft] def memoEntriesTotal: Int = memoArtifacts.size

  private def fingerprint(spark: SparkSession, paths: Seq[String]): Option[Stamp] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def files(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files(fs, _))
      else Seq(st)
    try {
      val perPath = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).toSeq.flatten.flatMap(files(fs, _))
          .sortBy(_.getPath.toString)
      }
      if (perPath.exists(_.isEmpty)) None
      else Some(perPath.flatten.map(s =>
        (s.getPath.toString, s.getLen, s.getModificationTime)))
    } catch { case _: java.io.IOException => None }
  }
}
