package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Assets
import graft.sources.{AssetSink, DebugSink, SourceRegistry, Tables}

/** CLI orchestration — the engine's `run.ts` (reference run.ts:8-44):
  * `--read` names the signal source (resolved against the registry the
  * way run.ts:28-34 validates cluster names — and actually READ: the
  * resolved ref feeds every asset pipeline), `--write` is the asset
  * sink path, `--data` the table directory. `--sources` selects the
  * registry layout (`local` | `ccs`, the ES_IS_CCS analog,
  * constants.ts:7-21; `ccs` needs `--remote DIR` for the second
  * cluster's paths). Unlike the reference, the bulk-write step is
  * implemented, not `// TBA` (run.ts:12-15): every asset pipeline
  * runs, conforms to the fixed schema, and lands asset_type-partitioned
  * via [[AssetSink]].
  *
  * Usage: graft.Run --read signals_all --write /tmp/assets
  *        [--data DIR] [--sources local|ccs] [--remote DIR]
  *   or:  graft.Run --dsl request.json --write /tmp/result [--data DIR]
  *        (compile and run a raw ES SearchRequest body — the
  *        reference's own request JSON works verbatim)
  */
object Run {

  def parseArgs(args: Array[String]): Map[String, String] = {
    // fail fast on malformed pairs: silent sliding(2,2) misparses an
    // odd-length list ("--read --write /p" reads a source named
    // "--write" and drops the write flag with a misleading error)
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
      case Array(k, v) => throw new IllegalArgumentException(
        s"malformed argument pair '$k $v' (expected --flag value)")
    }.toMap
  }

  /** The collection run against an existing session — `main` minus
    * session lifecycle, so tests (and embedding callers) drive it
    * without owning SparkSession shutdown. Returns the written count.
    */
  def run(spark: SparkSession, opts: Map[String, String]): Long = {
    // `--dsl <file>`: run a raw ES SearchRequest JSON body through the
    // Query-DSL compiler against the signal env — the engine consumed
    // exactly the way the reference consumes Elasticsearch (a user can
    // paste the reference's own request bodies here)
    opts.get("dsl").foreach { bodyPath =>
      val write = opts.getOrElse("write",
        throw new IllegalArgumentException("--write <path> is required"))
      val dir = opts.getOrElse("data", "/root/testdata/sf0.001")
      val body = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(bodyPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      val result = graft.plans.QueryDsl.search(
        graft.operators.DslQueries.signalEnv(spark, dir), body)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        println(DebugSink.dumpPlan(result))
        println(DebugSink.dumpRows(result, 5))
        val written = result.count()
        result.write.mode("overwrite").parquet(write)
        println(s"""{"written": $written, "path": "$write"}""")
        return written
      } finally result.unpersist(blocking = false)
    }
    val read = opts.getOrElse("read",
      throw new IllegalArgumentException("--read <source> is required"))
    val write = opts.getOrElse("write",
      throw new IllegalArgumentException("--write <path> is required"))
    val dir = opts.getOrElse("data", "/root/testdata/sf0.001")

    // fail fast on unknown layout/source names, like run.ts:28-34
    val registry = SourceRegistry.layout(
      opts.getOrElse("sources", "local"), dir, opts.get("remote").orNull)
    registry.resolve(read)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sig = Tables.signalsFrom(Tables.eventsFrom(registry.read(spark, read)))
    // the sink appends, so "written" must be THIS run's delta — counted
    // on the batch itself (persisted: one compute shared by the count
    // and the write), never by re-scanning the accumulated sink
    // directory, which grows with history and double-counts a
    // concurrent writer's rows
    val assets = Assets.assetsAllFrom(sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the reference logs results + queries (run.ts:18-19) — dump the
      // plan and a sample, then bulk-write
      println(DebugSink.dumpPlan(assets))
      println(DebugSink.dumpRows(assets, 5))
      val written = assets.count()
      AssetSink.write(assets, write)
      println(s"""{"written": $written, "path": "$write"}""")
      written
    } finally assets.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    try run(spark, parseArgs(args))
    finally spark.stop()
  }
}
