package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.scalatest.funsuite.AnyFunSuite

/** Global plan audit across EVERY SparkEntry query: the two plan shapes
  * that are always wrong at 100 TB — a cartesian product and a
  * broadcast nested-loop join — must appear in none of them. Individual
  * specs pin finer properties (exchange reuse, pushdown, heap top-k);
  * this is the fleet-wide regression net: a refactor that degrades ANY
  * query to an O(n²) or unbounded-broadcast join fails here by name. */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  /** Queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast by
    * construction — the only legitimate uses:
    *  - c2/d1/v_rowlevel/tx_curation_funnel: 1-row aggregate frames
    *    (scalar subquery cross-join) — the broadcast side is a single
    *    row at any scale;
    *  - sim_topk_brute / sim_range_search / sim_recall_eval /
    *    sim_contrastive_pairs: the QUERY/ANCHOR set broadcast against
    *    the corpus scan is the definition of brute-force retrieval
    *    (recall_eval embeds the brute ground-truth side; contrastive
    *    mining scores every anchor against the corpus once); the
    *    corpus side streams, the broadcast side is the user's bounded
    *    batch;
    *  - tx_kmv_overlap: the pairwise sketch join — ONE ≤(k longs)-row
    *    per SOURCE on each side (a config-sized dimension, not data-
    *    sized); pairwise overlap is inherently quadratic in source
    *    count and the sketches exist precisely so that quadratic factor
    *    multiplies k longs instead of corpus rows.
    * Anything NOT in this list planning a BNLJ is a regression. */
  private val boundedBnlj = Set(
    "c2_dedup_events", "d1_exact_dedup", "v_rowlevel_events",
    "sim_topk_brute", "tx_curation_funnel", "tx_funnel_model",
    "tx_html_funnel", "sft_funnel", "tx_pretrain_pipeline",
    "tx_kmv_overlap", "sim_range_search", "sim_recall_eval",
    "sim_contrastive_pairs",
    // pairwise sketch-vs-sketch KS: both BNLJ sides are the per-type
    // aggregate output — TYPE-count-sized at any corpus size, the
    // tx_kmv_overlap argument with sketches instead of hash lists
    "v_kll_ks")

  test("no query plans a CartesianProduct; BNLJ only where provably bounded") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val cart =
          if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct")
          else Seq.empty
        val bnlj =
          if (plan.contains("BroadcastNestedLoopJoin") && !boundedBnlj(name))
            Seq(s"$name: BroadcastNestedLoopJoin")
          else Seq.empty
        cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Third always-wrong-at-scale shape: a WindowExec with an EMPTY
    * partition spec moves every row to a single partition ("No Partition
    * Defined for Window" in the logs) — a one-task sort no matter how
    * many executors exist. `Keys.globalRank` deliberately keeps a
    * single-window fast path for provably small inputs; setting
    * `graft.rank.smallBytes=0` here forces every query to build its
    * AT-SCALE plan, so the audit sees what a 100 TB run would see. */
  /** Recursive sweep: `collect` alone skips subquery plans and nested
    * AdaptiveSparkPlanExec roots — an unpartitioned window inside a
    * scalar subquery would otherwise pass the audit. */
  private def unpartitionedWindows(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.executedPlan)
    case plan =>
      val here = plan.collectWithSubqueries {
        case w: WindowExecBase if w.partitionSpec.isEmpty =>
          s"unpartitioned ${w.nodeName}"
      }
      val nested = plan.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => a
      }.flatMap(a => unpartitionedWindows(a.executedPlan))
      here ++ nested
  }

  /** Fourth always-wrong-at-scale shape: an interpreted
    * (CodegenFallback) expression on a corpus-linear stage — the
    * 3–15× per-row tax the native-expression sweep exists to keep off
    * scan paths (measured same-JVM: gopher struct 14.7×, abtt
    * correction 6.4×, int8 encode 12×). These classes carry no such
    * tax to retire — allowed ANYWHERE: */
  private val allowedFallbackClasses = Set(
    // imperative aggregates: evaluated through the aggregation
    // iterator's buffer machinery, not per-row projection codegen —
    // Spark has no codegen path for them (builtin or typed)
    "CollectList", "CollectSet", "PivotFirst", "Percentile",
    "HeavyHittersAgg", "KmvMinHashesAgg", "KllSketchAgg",
    // Spark's JSON parser: no codegen exists; the SFT corpus stores
    // conversations as JSON text by contract
    "JsonToStructs",
    // lambda plumbing nodes: appear only as CHILDREN of a HOF — the
    // HOF class itself is the gated signal
    "LambdaFunction", "NamedLambdaVariable")

  /** Higher-order functions ARE the gated tax class — allowed only
    * where the array is provably NOT corpus-row-sized data: a
    * post-shuffle per-GROUP re-pack of collect_list output (the array
    * exists only after aggregation, its cost is the group count, not
    * the corpus), or a config/sketch-sized side. Every entry names its
    * justification; a query growing ANY other fallback — or a NEW
    * query growing one — fails by name. */
  private val justifiedHofs: Map[String, Set[String]] = Map(
    // (round 15) d10_line_dedup / tx_dup_span_removal(_runs) left this
    // list: their per-doc re-packs — the two corpus-proportional
    // entries, flagged by the r14 verdict — are now the compiled
    // SortedStructConcatExpr (A/B in SCALE.md: interpreted spelling
    // 1.6–1.7× slower warm at 40× volume / 10.8M elements;
    // SortedStructConcatSpec pins byte parity). q11_status_listagg and
    // w_pattern_match followed in the same round once the expression
    // learned multi-key sorts — their re-packs ran once per ORDER /
    // EVENT of the corpus, the same tax class. Every remaining entry
    // is group- or config-bounded, never corpus-row-proportional:
    // per-conversation turn re-pack of collect_list output (the
    // transform applies md5 per turn — a VALUE map, not the
    // SortedStructConcat extract shape; turns-per-conversation ≈ 5)
    "sft_dedup" -> Set("ArrayTransform"),
    "sft_funnel" -> Set("ArrayTransform"),
    // label-sum table re-pack (labels × dims → one array per label;
    // label-count-sized, the broadcast side of centroidCosine)
    "sim_cluster_sample" -> Set("ArrayTransform", "ArraySort"),
    "sim_semdedup" -> Set("ArrayTransform", "ArraySort"),
    // k-sized KMV sketch arrays, one per SOURCE (config-sized side)
    "tx_kmv_overlap" -> Set("ArraySort"),
    // per-group grid-bound arrays (bucket-count-sized)
    "v_equidepth_hist" -> Set("ArrayFilter"))

  test("no query evaluates a CodegenFallback expression outside the " +
      "justified group-re-pack/sketch set (COVERAGE round-13 claim, " +
      "now a CI invariant)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val fb = graft.PlanProbe.codegenFallbacks(fn(spark, sf))
          .filterNot(allowedFallbackClasses)
          .filterNot(justifiedHofs.getOrElse(name, Set.empty))
        if (fb.isEmpty) Nil else Seq(s"$name: ${fb.mkString(", ")}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no query plans an unpartitioned WindowExec at scale") {
    spark.conf.set("graft.rank.smallBytes", "0")
    // force the exact-median family through its continuous-domain
    // route too (rankCuts escape hatch): the audit must see the plan
    // a 100 TB run of EVERY technique would execute
    spark.conf.set("graft.median.distinctBound", "0")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          unpartitionedWindows(fn(spark, sf).queryExecution.executedPlan)
            .map(o => s"$name: $o")
      }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    } finally {
      spark.conf.unset("graft.rank.smallBytes")
      spark.conf.unset("graft.median.distinctBound")
    }
  }
}
