package graft

import org.apache.spark.sql.functions.expr

/** Bench failure accounting: a run that throws is never timed as a
  * success, and an all-failing query leaves only its error behind.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query gives no samples and keeps its error") {
    val boom = spark.range(3).select(expr("raise_error('boom')"))
    val (samples, err) = Bench.timeRuns(2)(boom.collect())
    assert(samples.isEmpty)
    assert(err.exists(_.getMessage.contains("boom")), err)
  }

  test("only the failed run of a flaky query is dropped") {
    var runs = 0
    val (samples, err) = Bench.timeRuns(2) {
      runs += 1
      if (runs == 1) throw new IllegalStateException("first run fails")
    }
    assert(runs === 2 && samples.size === 1)
    assert(err.map(_.getMessage) === Some("first run fails"))
    val (clean, none) = Bench.timeRuns(2)(spark.range(3).collect())
    assert(clean.size === 2 && none.isEmpty)
  }

  test("error messages become valid JSON string literals") {
    assert(Bench.jsonString("a \"quoted\"\nline\\") === "\"a \\\"quoted\\\"\\nline\\\\\"")
  }
}
