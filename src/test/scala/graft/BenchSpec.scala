package graft

import org.apache.spark.sql.functions.{assert_true, col, lit}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with SparkSpec {

  test("a query that throws lands in failed, never in the timed rows") {
    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)
    try {
      // fails at execution, inside the timed write, like a real crash
      val boom: Bench.Query = (s, _) =>
        s.range(1).select(assert_true(lit(false), lit("boom")))
      val ok: Bench.Query = (s, _) =>
        s.range(0, 1000).repartition(4, col("id")).toDF()
      val run = Seq("boom" -> boom, "ok" -> ok).map { case (n, q) =>
        n -> Bench.runOne(spark, sf, totals, n, q)
      }
      assert(run.toMap.apply("boom").isLeft)
      assert(run.toMap.apply("ok").exists { case (t, mb) => t > 0 && mb > 0 },
        "a successful run carries its wall time and its own shuffle MB")
      val (okRuns, failed) = Bench.splitFailed(Seq(run))
      assert(failed == Seq("boom"))
      assert(okRuns.map(_.map(_._1)) == Seq(Seq("ok")))
      // a query that fails in ANY run is dropped from every run, so a
      // crash cannot be picked as some run's minimum time
      val clean: Bench.Run = Seq("boom" -> Right((0.1, 0.0)), "ok" -> Right((1.0, 0.0)))
      val (okRuns2, failed2) = Bench.splitFailed(Seq(clean, run))
      assert(failed2 == Seq("boom"))
      assert(okRuns2.forall(_.map(_._1) == Seq("ok")))
    } finally spark.sparkContext.removeSparkListener(totals)
  }
}
