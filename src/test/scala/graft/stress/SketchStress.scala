package graft.stress

import org.apache.spark.sql.functions._

import Stress.timed
import org.apache.spark.sql.types.LongType

/** Stress harness for the round-7 sketch/graph additions (the
  * [[SkewStress]] pattern — deterministic synthetic volume, exact
  * invariants asserted so a scale regression fails loudly):
  *
  *  1. KMV distinct sketch ([[graft.functions.KmvMinHashesAgg]]) over
  *     5M rows / 250k distinct values across 20 keys — the regime the
  *     sketch exists for (distinct count ≫ k): state stays k longs per
  *     key while COUNT(DISTINCT) would shuffle 250k rows; estimates
  *     asserted within 4σ of truth per key.
  *  2. Fixed-point PageRank ([[graft.operators.Graphs]]) on a 1M-edge
  *     hub-and-spokes graph over 100k nodes, 3 iterations — mass
  *     conservation and hub dominance asserted, per-iteration cost is
  *     one join+shuffle over the edge list.
  *  3. ROUGE-2 near-dup dedup ([[graft.text.Sft.rouge2Dedup]]) over
  *     100k synthetic responses with 10k planted tail-swap near-dups —
  *     prefix blocking keeps candidate pairs ∝ block sizes, and every
  *     planted dup (and nothing else) must be removed.
  *
  * Prints one JSON line; numbers recorded in SCALE.md.
  */
object SketchStress {
  def main(args: Array[String]): Unit = {
    val spark = Stress.session()

    // ——— 1. KMV sketch: 5M rows, 12,500 distinct per key × 20 keys ———
    val k = 256
    val rows = 5000000L
    val distinctPerKey = 12500L
    val kmvIn = spark.range(0, rows).select(
      concat(lit("key"), (col("id") % 20).cast("string")).as("key"),
      // 20 interleaved value streams, each cycling its own 12.5k values;
      // md5-hash for uniformity (the house 60-bit convention)
      conv(substring(md5(concat(
        (col("id") % 20).cast("string"), lit(":"),
        expr(s"(id DIV 20) % $distinctPerKey").cast("string"))), 1, 15), 16, 10)
        .cast(LongType).as("h"))
    val (kmvRes, kmvSec) = timed {
      kmvIn.groupBy(col("key"))
        .agg(graft.functions.NativeAgg.kmvMinHashes(col("h"), k).as("kmv"))
        .select(col("key"),
          (lit((k - 1).toDouble * 1152921504606846976.0) /
            element_at(col("kmv"), -1).cast("double")).as("est"))
        .collect()
    }
    // stderr ≈ D/√(k−2) ≈ 6.3% of D; assert within 4σ = 25%
    kmvRes.foreach { r =>
      val est = r.getDouble(1)
      require(math.abs(est - distinctPerKey) / distinctPerKey < 0.25,
        s"KMV estimate off: ${r.getString(0)} est=$est true=$distinctPerKey")
    }

    // ——— 2. PageRank: 1M nodes, ~11M edges, hub-and-spokes ———
    // every node i links to the hub (n0) and to 10 pseudo-random peers;
    // the run exercises the L1 convergence stop at volume (tolFp set,
    // generous cap — each avoided iteration is a full 11M-edge
    // join+shuffle, which is exactly what the stop exists to save)
    val nNodes = 1000000L
    val spokes = spark.range(1, nNodes).select(
      concat(lit("n"), col("id").cast("string")).as("src"),
      lit("n0").as("dst"), lit(1L).as("w"))
    val peers = spark.range(0, nNodes * 10).select(
      concat(lit("n"), (col("id") % nNodes).cast("string")).as("src"),
      concat(lit("n"), ((col("id") * 2654435761L + 17L) % nNodes)
        .cast("string")).as("dst"),
      lit(1L).as("w"))
    val edges = spokes.unionByName(peers)
      .filter(col("src") =!= col("dst"))
    val (pr, prSec) = timed {
      // the returned frame is localCheckpointed — both follow-up
      // actions read materialized state, the iterations run once
      graft.operators.Graphs.pageRankFixedPoint(edges, "src", "dst", "w",
        iters = 6, tolFp = 5000000000L, checkEvery = 2)
    }
    val top = pr.orderBy(col("rank_fp").desc).limit(1).head()
    val mass = pr.agg(sum(col("rank_fp"))).head().getLong(0)
    require(top.getString(0) == "n0", s"hub not top-ranked: $top")
    // integer-truncation dust budget: each source loses < outdeg units
    // per iteration (rank DIV outdeg) and each node < dd units on the
    // damped in-flow — ≤ ~(edges + n) ≈ 1.2e7 units/iteration, ≤ 8e7
    // over the 6-iteration cap on 10^12 total mass (0.008%)
    require(mass > 999900000000L && mass <= 1000000000000L,
      s"rank mass not conserved: $mass")

    // ——— 2b. Incremental components: 2M-edge closure vs 3.3k-link fold ———
    // the mergeComponents scale claim measured: a full distributed
    // closure over the history vs folding a small delta into the
    // persisted assignment. Graph: 1M chains of 3 ({3k, 3k+1, 3k+2}),
    // delta bridges every 300th chain to its successor — merges of
    // EXISTING components plus the remap of a 3M-row assignment.
    val nChains = 1000000L
    val base = spark.range(0, 3 * nChains)
      .filter(col("id") % 3 =!= 2)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (full, closureSec) = timed {
      graft.dedup.Dedup.connectedComponents(base, "node",
        smallEdgeThreshold = 0L).localCheckpoint()
    }
    require(full.count() == 3 * nChains, "closure must cover every node")
    val delta = spark.range(0, nChains, 300)
      .select((col("id") * 3 + 2).as("id_a"), ((col("id") + 1) * 3).as("id_b"))
      .filter(col("id_b") < 3 * nChains)
    val (inc, foldSec) = timed {
      graft.dedup.Dedup.mergeComponents(full, delta, "node").localCheckpoint()
    }
    val (fullU, reclosureSec) = timed {
      graft.dedup.Dedup.connectedComponents(base.unionByName(delta), "node",
        smallEdgeThreshold = 0L).localCheckpoint()
    }
    require(inc.exceptAll(fullU).isEmpty && fullU.exceptAll(inc).isEmpty,
      "incremental fold must equal the re-closure over the union")

    // ——— 3. ROUGE-2 dedup: 100k responses, 10k planted near-dups ———
    // base responses are 8 "words" derived from the id; the multiplier
    // modulus 999983 (prime > nResp) keeps every token UNIQUE per id,
    // so the only ≥0.6 pairs are the planted ones: ids ≡ 3 mod 10
    // carry id−3's response with the tail swapped (6 of 7 bigrams
    // shared → rouge2 ≈ 0.857)
    val nResp = 100000L
    def tok(e: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column =
      concat(lit("w"), ((e * m) % 999983L).cast("string"))
    val baseResp = spark.range(0, nResp).select(col("id"),
      concat_ws(" ", tok(col("id"), 3), tok(col("id"), 5), tok(col("id"), 7),
        tok(col("id"), 11), tok(col("id"), 13), tok(col("id"), 17),
        tok(col("id"), 19), tok(col("id"), 23)).as("response"))
    val donor = baseResp.select((col("id") + 3).as("id"),
      concat(substring_index(col("response"), " ", 7), lit(" altered"))
        .as("alt"))
    val resp = baseResp.join(donor, Seq("id"), "left")
      .select(col("id"),
        when(col("id") % 10 === 3 && col("alt").isNotNull, col("alt"))
          .otherwise(col("response")).as("response"))
    val (kept, rougeSec) = timed {
      graft.text.Sft.rouge2Dedup(resp, "id", "response",
        blockTokens = 2, threshold = 0.6).count()
    }
    // every id ≡ 3 mod 10 (except id=3's donor id=0 relation — id 3
    // itself IS planted) loses to its donor; nothing else pairs at 0.6
    val planted = resp.filter(col("id") % 10 === 3).count()
    require(kept == nResp - planted,
      s"rouge dedup kept $kept, expected ${nResp - planted}")

    // ——— 5. KLL sketch (round-14): 20M values across 200 keys ———
    // the drift-state regime: 100k values per key vs k=1024 sketch
    // entries, deep compaction. Asserted invariants per key: every
    // returned quantile's rank error ≤ the deterministic-compactor
    // bound, and the PARTITIONING-INDEPENDENT bound holds on a second
    // layout (the merge-tree changes, the guarantee must not).
    val kllN = 20000000L
    val kllKeys = 200
    val kllK = 1024
    val perKey = kllN / kllKeys
    val step = 1000000L / perKey
    require(perKey * step == 1000000L, "lattice step must be integral")
    val kllBase = spark.range(kllN)
      .select((col("id") % kllKeys).as("g"),
        // per-key integer lattice (distinct, uniform on [0, 1M)): the
        // rank of value v within a key is v/step + 1 in CLOSED FORM —
        // no 20M-row sort needed to check every returned rank
        expr(s"CAST((id DIV $kllKeys) * $step AS DOUBLE)").as("v"))
    val kllQs = Seq(0.05, 0.5, 0.95)
    val kllBound =
      ((math.log(perKey.toDouble / kllK) / math.log(2)).ceil + 2) *
        perKey / kllK
    def kllRun(parts: Int): Double = {
      val (rows, sec) = timed {
        spark.sparkContext.setJobGroup("kll", s"kll-$parts")
        val got = kllBase.repartition(parts, col("g"))
          .groupBy(col("g"))
          .agg(graft.functions.NativeAgg.kllQuantiles(col("v"), kllK, kllQs)
            .as("vals"))
          .collect()
        require(got.length == kllKeys)
        got.foreach { r =>
          val vs = r.getSeq[Double](1)
          kllQs.zip(vs).foreach { case (q, v) =>
            val target = math.max(1L, math.ceil(q * perKey).toLong)
            val rank = (v / step).toLong + 1 // closed-form lattice rank
            require(math.abs(rank - target) <= kllBound,
              s"key ${r.get(0)} q=$q rank err ${math.abs(rank - target)}")
          }
        }
        got.length
      }
      sec
    }
    val kllSec32 = kllRun(32)
    val kllSec7 = kllRun(7)

    Stress.report("sketch_stress", "kmv_rows" -> rows, "kmv_sec" -> kmvSec,
      "pagerank_edges" -> 11000000, "pagerank_sec" -> prSec,
      "cc_closure_sec" -> closureSec, "cc_fold_sec" -> foldSec,
      "cc_reclosure_sec" -> reclosureSec, "rouge_docs" -> nResp,
      "rouge_sec" -> rougeSec, "kll_rows" -> kllN,
      "kll_sec_32p" -> kllSec32, "kll_sec_7p" -> kllSec7)
    spark.stop()
  }
}
