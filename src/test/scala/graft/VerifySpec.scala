package graft

import org.apache.spark.sql.functions.{assert_true, lit}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class VerifySpec extends AnyFunSuite with SparkSpec {

  test("a query that throws lands in failed.json and leaves no stale result") {
    val out = Files.createTempDirectory("graft-verify").toString
    // an earlier run's result for the query that now fails before its write
    spark.range(5).write.parquet(s"$out/early")
    val early: Bench.Query = (_, _) => throw new IllegalStateException("early\n\"detail\"")
    // fails at execution, inside the write
    val late: Bench.Query = (s, _) => s.range(1).select(assert_true(lit(false), lit("late")))
    val ok: Bench.Query = (s, _) => s.range(3).toDF()
    val failed = Verify.dump(spark, sf, out, Seq("early" -> early, "late" -> late, "ok" -> ok))
    assert(failed.keySet == Set("early", "late"))
    assert(failed("early") == "early\n\"detail\"")
    assert(failed("late").contains("late"))
    assert(!Files.exists(Paths.get(out, "early")))
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    val manifest = Files.readString(Paths.get(out, "failed.json"))
    assert(manifest.startsWith("""{"early": "early\n\"detail\"","late": """), manifest)
  }
}
