package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench records a query that throws as a failure, never as a
  * timing, and the total covers only the queries that ran clean. */
class BenchSpec extends SparkSpec {

  test("a failing query is a failure, not a timing, and stays out of the total") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(100).toDF("id")
    // fails mid-execution, after the clock started and tasks ran
    val crash: (SparkSession, String) => DataFrame =
      (s, _) => s.range(100).selectExpr("assert_true(id < 50) AS a")
    // fails while the plan is built
    val unbuilt: (SparkSession, String) => DataFrame = (_, _) => sys.error("no plan")
    // succeeds once, then fails: its earlier timing must go too
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = (s, _) => {
      calls += 1
      if (calls > 1) sys.error("second run broke") else s.range(10).toDF("id")
    }
    val tally = new Bench.Tally
    for (_ <- 1 to 2; (name, fn) <- Seq("ok" -> ok, "crash" -> crash, "unbuilt" -> unbuilt,
                                         "flaky" -> flaky))
      tally.record(name, Bench.timeRun(spark, sfDir, fn))
    assert(tally.failed.keySet == Set("crash", "unbuilt", "flaky"))
    assert(tally.failed("unbuilt").contains("no plan"))
    assert(tally.mins.map(_._1) == Seq("ok"))
    assert(tally.runs("ok").size == 2)
    assert(tally.total == tally.runs("ok").min)
    // a later successful run cannot put a failed query back in the total
    tally.record("crash", Right(0.001))
    assert(!tally.runs.contains("crash"))
    assert(tally.total == tally.runs("ok").min)
  }
}
