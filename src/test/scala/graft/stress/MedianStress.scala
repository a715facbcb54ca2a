package graft.stress

import org.apache.spark.sql.functions._

/** Stress for the exact-median family's cardinality escape hatch
  * (`sbt "Test/runMain graft.stress.MedianStress"`): ONE group × 10⁷ DISTINCT
  * continuous values — the shape that degenerates the q9/q17/q20
  * window-over-distincts technique into a one-task sort of the whole
  * group no matter how many executors exist (VERDICT r13 "What's
  * missing" #2). [[graft.operators.Quantiles.rankCuts]] routes this
  * past `graft.median.distinctBound` through exactQuantiles range
  * refinement: count-only shuffles, ≤ 6 scans, ZERO row sorts.
  *
  * Reports: both routes' wall time, result parity (bit-exact), and
  * the plan shapes (the window route's single 10⁷-row sort task vs
  * the refinement route's bounded histograms). Locally a single
  * 10⁷-row sort is cheap — the point is the SHAPE: the sort task
  * grows linearly with group cardinality and lives on one core, the
  * refinement's per-pass shuffle stays at 2^bits counts per range at
  * ANY cardinality. Numbers land in SCALE.md. */
object MedianStress {
  def main(args: Array[String]): Unit = {
    val spark = Stress.session()
    import graft.operators.Quantiles

    val n = sys.env.getOrElse("SPARK_GRAFT_MEDIAN_N", "10000000").toLong
    // one group, n distinct continuous values (golden-ratio lattice —
    // provably distinct doubles), weights 1..3 so ranks are weighted
    val byVal = spark.range(n)
      .select(lit("g").as("grp"),
        (col("id").cast("double") * 0.6180339887498949d + 0.25d).as("v"),
        (col("id") % 3L + 1L).as("cnt"))
      .localCheckpoint()
    println(s"rows: ${byVal.count()} (all distinct, one group)")
    val cuts = Seq(("p05", 1, 20), ("p50", 1, 2), ("p95", 19, 20))
    // window route (force by setting the bound above n): the plan a
    // pre-hatch q20 would run — the whole group's distinct set sorts
    // in ONE task
    spark.conf.set("graft.median.distinctBound", (n + 1).toString)
    val (w, tw) = Stress.timed(Quantiles.rankCuts(byVal, "grp", "v", "cnt", cuts)
      .collect().toSeq)
    // refinement route (force with bound 0): count-only shuffles
    spark.conf.set("graft.median.distinctBound", "0")
    val (r, tr) = Stress.timed(Quantiles.rankCuts(byVal, "grp", "v", "cnt", cuts)
      .collect().toSeq)
    spark.conf.unset("graft.median.distinctBound")
    println(f"window-over-distincts (ONE-task sort of $n%,d): $tw%6.2f s")
    println(f"range refinement (count-only shuffles):        $tr%6.2f s")
    println(s"parity: ${if (w == r) "EXACT" else s"MISMATCH $w vs $r"}")
    require(w == r, "routes disagree")
    spark.stop()
  }
}
