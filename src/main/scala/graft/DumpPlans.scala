package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dumper: `runMain graft.DumpPlans <tag> q1 q2 ...`
  * writes each named registry query's `explain("formatted")` output to
  * `plans/<tag>/<query>.txt` — the committed before/after artifact the
  * optimization rounds' judge checks plan claims against (guide §7.2).
  * Reads `SPARK_GRAFT_SF_DIR` and opens [[Bench.session]] so the
  * dumped plan is the benched plan.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <outDir> <query> [query ...]")
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
      System.err.println(s"[plans] wrote $outDir/$name.txt (${txt.length} chars)")
      Bench.sweepCheckpoints(spark)
    }
    graft.operators.TextOps.release(spark)
    spark.stop()
  }
}
