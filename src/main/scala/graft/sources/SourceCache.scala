package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source scans resolved once per FILE GENERATION — the serving-side
  * analog of an ES index whose mapping is already resolved.
  *
  * `spark.read…load` is eager: it lists the paths and infers the schema
  * (a parquet footer job), and the signal env's date-math `now` is a
  * further two-job [[Tables.maxBound]] scan. A serving path that
  * re-derives both per request pays those jobs on every request. This
  * store keeps the resolved scan, its signal view and `now`, per
  * (session, format, options, paths), tagged with a fingerprint of
  * every file under the paths: path, size and mtime, from a Hadoop
  * file listing in the calling JVM that starts no Spark job. A lookup
  * whose fingerprint differs (a file added, removed or rewritten)
  * resolves again and replaces the entry, so a stale generation is
  * never served, and at most one generation per source is held.
  *
  * Lifecycle follows [[graft.operators.TextOps]]'s memo: entries are
  * per session, `TextOps.release` drops a session's entries
  * ([[release]]), and every access sweeps entries whose SparkContext
  * has stopped. Nothing is persisted: an entry is analyzed plans plus a
  * scalar, so dropping it frees heap only.
  */
object SourceCache {

  /** One resolved generation of a source. The signal members apply to
    * events-shaped sources only and are built on first use, once.
    */
  final class Resolved private[SourceCache] (
      private[SourceCache] val fingerprint: Seq[(String, Long, Long)],
      val scan: DataFrame) {
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

  /** A source's current generation; its monitor serializes resolution,
    * so concurrent first requests resolve once.
    */
  private final class Slot { @volatile var current: Resolved = _ }

  private type Key = (SparkSession, String, Map[String, String], Seq[String])
  private val slots = TrieMap.empty[Key, Slot]

  /** `ref`'s scan for the files under its paths now. Paths that match
    * no file are not cached: the read reports its own error.
    */
  def resolve(spark: SparkSession, ref: SourceRef): Resolved = {
    slots.filterInPlace { case (k, _) => !k._1.sparkContext.isStopped }
    fingerprint(spark, ref.paths) match {
      case None => new Resolved(Nil, ref.read(spark))
      case Some(fp) =>
        val slot = slots.getOrElseUpdate((spark, ref.format, ref.options, ref.paths), new Slot)
        def fresh = Option(slot.current).filter(_.fingerprint == fp)
        fresh.getOrElse(slot.synchronized {
          fresh.getOrElse {
            val r = new Resolved(fp, ref.read(spark))
            slot.current = r
            r
          }
        })
    }
  }

  /** [[Tables.table]] through the store: `dir/name.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolve(spark, SourceRef(name, Seq(s"$dir/$name.parquet"))).scan

  /** Forget every entry of `spark`. */
  def release(spark: SparkSession): Unit =
    slots.filterInPlace { case (k, _) => k._1 ne spark }

  private def fingerprint(spark: SparkSession, paths: Seq[String]): Option[Seq[(String, Long, Long)]] = {
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
