package graft.stress

import org.apache.spark.sql.functions._

import Stress.timed

/** Skew stress harness (dev/bench main, not part of a pipeline): pins
  * that the two de-skewed operators hold at HUB scale, not just on the
  * unit-test graphs — the failure mode both were rewritten to avoid is
  * one task buffering a hub's entire neighborhood/occurrence list.
  *
  *  1. `connectedComponents`, FORCED distributed (union-find gate off),
  *     on a star graph: one hub with `spokes` neighbors (default 10⁶)
  *     plus a long chain and 10k small components, so the run exercises
  *     both the hub (groupBy-min partial aggregation) and multi-round
  *     convergence.
  *  2. `dedupLinesGlobal` on a popular-line corpus: every one of `docs`
  *     documents (default 10⁶) shares one boilerplate line (a 10⁶-way
  *     hot line group) plus unique lines.
  *
  * Both assert exact expected output, print per-stage seconds and peak
  * JVM heap, and run under a deliberately modest `-Xmx` (the driver
  * invokes this with 8g) — an operator that buffers the hub would OOM
  * here long before 100 TB. Numbers are recorded in SCALE.md.
  *
  * Sizing knobs: SPARK_GRAFT_STRESS_SPOKES, SPARK_GRAFT_STRESS_DOCS.
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val spokes = sys.env.getOrElse("SPARK_GRAFT_STRESS_SPOKES", "1000000").toLong
    val docs = sys.env.getOrElse("SPARK_GRAFT_STRESS_DOCS", "1000000").toLong
    val spark = Stress.session()

    // ——— 1. forced-distributed connected components on a hub graph ———
    // hub 0 ↔ spokes 1..S; chain S+1..S+1000 (forces multi-round
    // propagation); 10k disjoint 2-node components above that
    val s = spokes
    val star = spark.range(1, s + 1)
      .select(col("id").as("id_a"), lit(0L).as("id_b"))
    // anchored at spoke s, so star+chain are ONE component
    val chain = spark.range(s, s + 1000)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val pairs2 = spark.range(0, 10000)
      .select((col("id") * 2 + s + 2000).as("id_a"),
        (col("id") * 2 + s + 2001).as("id_b"))
    val edges = star.unionByName(chain).unionByName(pairs2)
    val (ccCounts, ccSec) = timed {
      graft.dedup.Dedup.connectedComponents(edges, "doc_id",
          smallEdgeThreshold = 0L) // gate OFF: the distributed path or bust
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("components"),
          max(col("n")).as("largest"), sum(col("n")).as("nodes"))
        .head()
    }
    val (components, largest, nodes) =
      (ccCounts.getLong(0), ccCounts.getLong(1), ccCounts.getLong(2))
    // star+chain collapse into ONE component of s+1001 nodes, plus 10k pairs
    require(components == 10001L && largest == s + 1001 &&
        nodes == s + 1001 + 20000,
      s"unexpected CC result: components=$components largest=$largest nodes=$nodes")

    // ——— 2. global line dedup on a popular-line corpus ———
    // every doc: the SAME boilerplate line + 3 unique lines
    val corpus = spark.range(0, docs).select(col("id").as("doc_id"),
      concat_ws("\n", lit("SHARED BOILERPLATE NAVIGATION LINE"),
        concat(lit("unique line a for doc "), col("id")),
        concat(lit("unique line b for doc "), col("id")),
        concat(lit("unique line c for doc "), col("id"))).as("text"))
    val (lineAgg, lineSec) = timed {
      graft.dedup.Dedup.dedupLinesGlobal(corpus, "doc_id", "text")
        .agg(sum(when(col("text").contains("SHARED BOILERPLATE"), 1L)
            .otherwise(0L)).as("docs_with_shared"),
          count(lit(1)).as("n_docs")).head()
    }
    // first occurrence (doc 0) keeps the hot line; every other doc loses it
    require(lineAgg.getLong(0) == 1L && lineAgg.getLong(1) == docs,
      s"unexpected line-dedup result: $lineAgg")

    Stress.report("skew_stress", "cc_forced_distributed_sec" -> ccSec,
      "cc_spokes" -> s, "line_dedup_sec" -> lineSec, "line_docs" -> docs)
    spark.stop()
  }
}
