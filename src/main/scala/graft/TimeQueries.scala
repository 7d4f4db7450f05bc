package graft

/** Ad-hoc per-query timing harness: `runMain graft.TimeQueries q1 q2 ...`
  * times just the named registry queries (twice each, min reported — the
  * same session, sink, sweep and steady-state sampling as [[Bench]]'s
  * timed loop) against `SPARK_GRAFT_SF_DIR` (default sf0.1). The full
  * [[Bench]] run takes ~80s across the whole registry; this is the
  * tight loop for iterating on ONE operator's plan without paying for
  * the other 113.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_pricing_summary")
    names.foreach { name =>
      val (samples, err) = Bench.timeRuns(2)(Bench.drive(spark, sfDir, name))
      err.foreach(e => println(s"[time] $name FAILED: ${e.getMessage}"))
      if (samples.nonEmpty)
        println(f"[time] $name%-22s min ${samples.min}%8.3f s  (runs: ${samples.map(s => f"$s%.3f").mkString("/")})")
    }
    graft.operators.TextOps.release(spark)
    spark.stop()
  }
}
