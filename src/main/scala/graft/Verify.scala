package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Write one query's result; on failure print the query name AND its
    * formatted physical plan to stderr — the engine-side analog of the
    * reference's searchAndPrintQueryOnError
    * (lib/collectServicesFromSummaries.ts:327-335), so the failing
    * operator is identifiable from the driver's captured log alone.
    * Returns whether the write succeeded.
    */
  def dumpQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Boolean = {
    var df: org.apache.spark.sql.DataFrame = null
    try {
      df = fn(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      // same inter-query block hygiene as the bench loop: drop the
      // query's transient checkpoint blocks before the next dump
      Bench.sweepCheckpoints(spark)
      true
    } catch { case e: Throwable =>
      Console.err.println(s"[verify] $name failed: ${e.getMessage}")
      if (df != null)
        try Console.err.println(
          s"[verify] $name plan:\n" + graft.sources.DebugSink.dumpPlan(df))
        catch { case _: Throwable => () }
      false
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — builder-side
    // fast path for single-operator iteration (driver passes two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) dumpQuery(spark, name, fn, sfDir, outDir)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Filtered runs must not clobber a prior FULL run's oracle_sql.json
    // in the same outDir: a comparator iterating the shrunken key set
    // would skip queries whose stale dumps still exist, making a
    // partial run look complete. Full runs keep the driver contract.
    val jsonName =
      if (only.isEmpty) "oracle_sql.json" else "oracle_sql.partial.json"
    Files.writeString(Paths.get(s"$outDir/$jsonName"), json)
    graft.operators.TextOps.release(spark)
    spark.stop()
  }
}
