package graft.stress

import org.apache.spark.sql.functions._

import Stress.timed

/** sf1.0-scale stress harness for the heavy text operators (dev/bench
  * main, the [[SkewStress]] pattern): the driver testdata stops at
  * sf0.1 (5k documents), so this synthesizes a deterministic
  * 50k-document corpus — sf1.0's documents volume — and runs the
  * suite's heaviest text compositions end to end under a modest heap,
  * asserting exact invariants so a scale regression fails loudly
  * rather than just slowly:
  *
  *  1. exact-substring RUN removal ([[graft.text.Boilerplate
  *     .removeDupRuns]]) on a corpus where 1-in-7 documents carries a
  *     shared 60-token boilerplate prefix — a ~7k-document hot span
  *     family (every later occurrence must go; every document's unique
  *     tail must survive);
  *  2. the model-gated curation funnel (Gopher flags → C4 cleaning →
  *     committed-classifier scoring → exact dedup) — the
  *     tx_funnel_model composition at 10× its bench volume;
  *  3. SFT preparation (parse → BPE-exact conversationStats →
  *     response-level dedup) — tokenizer-exact accounting for 50k
  *     conversations (150k turns).
  *
  * Prints per-stage seconds + peak JVM heap as one JSON line; numbers
  * are recorded in SCALE.md. Sizing knob: SPARK_GRAFT_STRESS_TEXT_DOCS.
  */
object TextStress {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_STRESS_TEXT_DOCS", "50000").toLong
    val spark = Stress.session()

    val (docs, boiler) = Stress.textCorpus(spark, nDocs)

    // ——— 1. variable-length exact-substring dedup at a 7k-doc hot span ———
    val (runAgg, runSec) = timed {
      graft.text.Boilerplate.removeDupRuns(docs, "doc_id", "text",
          n = 5, minRun = 50)
        .agg(
          sum(col("text").contains(boiler).cast("long")).as("with_boiler"),
          sum(col("text").endsWith(concat(lit("endmark"),
            col("doc_id").cast("string"))).cast("long")).as("markers"),
          count(lit(1)).as("n")).head()
    }
    require(runAgg.getLong(0) == 1L,
      s"boilerplate must survive exactly once, got ${runAgg.getLong(0)}")
    require(runAgg.getLong(1) == nDocs && runAgg.getLong(2) == nDocs,
      s"every doc must keep its unique tail: $runAgg")

    // ——— 2. model-gated curation funnel at 10× bench volume ———
    import graft.text.{Curation, QualityClassifier, QualityModelFixture}
    val (funnel, funnelSec) = timed {
      val flagged = docs
        .withColumn("__s1", Curation.gopherGate(col("text"),
          minTokens = 50, minStopWords = 1))
        .withColumn("clean", Curation.c4CleanedText(
          concat(col("text"), lit(".")), minWords = 3))
        .withColumn("__s2", col("__s1") && col("clean") =!= "")
      val survivors = flagged.filter(col("__s2"))
        .select(col("doc_id"), col("clean"))
      val kept = survivors.join(
        QualityClassifier.scoreQuantized(survivors, "doc_id", "clean",
            QualityModelFixture.weightsQ, QualityModelFixture.biasQ,
            QualityModelFixture.buckets)
          .filter(col("clf_pass") === 1).select(col("doc_id")),
        Seq("doc_id"))
      val deduped = graft.dedup.Dedup.exactByContent(kept, "doc_id", "clean")
      (flagged.agg(count(lit(1)), sum(col("__s2").cast("long"))).head(),
        deduped.count())
    }
    require(funnel._1.getLong(0) == nDocs, "funnel must see every doc")
    require(funnel._2 > 0L && funnel._2 <= funnel._1.getLong(1),
      s"dedup count out of range: $funnel")

    // ——— 2b. the FLAGSHIP pipeline at sf1.0 volume ———
    // the tx_pretrain_pipeline composition (blocklist → Gopher → C4 →
    // model gate → exact dedup → MinHash near-dedup → 50% sample →
    // BPE packing; decontamination skipped — the synthetic corpus has
    // no eval split) over the same 50k docs
    val (pipe, pipeSec) = timed {
      import graft.operators.Sampling
      import graft.text.TextFunctions
      val flagged = docs
        .withColumn("__s1",
          Curation.blocklistPassed(col("text"), Seq("slow"), maxHits = 8L))
        .withColumn("__s2", col("__s1") && Curation.gopherGate(
          col("text"), minTokens = 50, minStopWords = 1))
        .withColumn("clean", Curation.c4CleanedText(
          concat(col("text"), lit(".")), minWords = 3))
        .withColumn("__s3", col("__s2") && col("clean") =!= "")
      val survivors = flagged.filter(col("__s3"))
        .select(col("doc_id"), col("clean")).localCheckpoint()
      val modelKept = survivors.join(
        QualityClassifier.scoreQuantized(survivors, "doc_id", "clean",
            QualityModelFixture.weightsQ, QualityModelFixture.biasQ,
            QualityModelFixture.buckets)
          .filter(col("clf_pass") === 1).select(col("doc_id")),
        Seq("doc_id"))
      val exact = graft.dedup.Dedup.exactByContent(modelKept, "doc_id", "clean")
        .localCheckpoint()
      val pairs = graft.dedup.Dedup.minhashNearDuplicates(exact, "doc_id",
        "clean", shingleSize = 5, threshold = 0.8)
      val near = graft.dedup.Dedup.removeNearDuplicatesTransitive(
        exact, pairs, "doc_id").localCheckpoint()
      val sampled = Sampling.deterministicSample(near, "doc_id", 0.5)
        .withColumn("source", lit("s"))
      val batches = Sampling.packSequences(sampled, "source", "doc_id",
          TextFunctions.bpeTokenCount(col("clean")), 2048L)
        .select(col("source"), col("batch_id")).distinct().count()
      (flagged.count(), near.count(), batches)
    }
    require(pipe._1 == nDocs && pipe._2 > 0L && pipe._2 <= nDocs,
      s"pipeline counts out of range: $pipe")
    require(pipe._3 > 0L, s"no batches packed: $pipe")

    // ——— 3. SFT prep with tokenizer-exact accounting, 150k turns ———
    val toks = split(col("text"), "\\s+")
    val conv = concat(
      lit("""[{"role":"user","content":""""),
      concat_ws(" ", slice(toks, 1, 8)),
      lit(""""},{"role":"assistant","content":""""),
      concat_ws(" ", slice(toks, 9, 8)),
      lit(""""},{"role":"user","content":"again """),
      col("doc_id").cast("string"), lit(""""}]"""))
    val (sft, sftSec) = timed {
      val turns = graft.text.Sft.parseTurns(
        docs.withColumn("conv", conv), "doc_id", "conv")
      val stats = graft.text.Sft.conversationStats(turns)
      val dd = graft.text.Sft.dedupByAssistant(turns)
      (stats.agg(count(lit(1)),
          sum(col("assistant_tokens")).cast("long")).head(),
        dd.count())
    }
    require(sft._1.getLong(0) == nDocs, "stats must cover every conversation")
    require(sft._1.getLong(1) > 0L, "assistant tokens must be counted")
    require(sft._2 > 0L && sft._2 <= nDocs, s"sft dedup out of range: $sft")

    // ——— 4. Distributed BPE training: 2M-word vocabulary ———
    // the regime trainDistributed exists for: a distinct-word table in
    // the MILLIONS (URL-/ID-riddled web text) where the driver-side
    // merge loop would have to hold the whole dictionary. Two shared
    // words ("alpha beta") dominate the counts, so the first merge is
    // hand-computable: (a, </w>) occurs at the end of BOTH shared
    // words = 2 × nVocab; the per-round pair space stays small (chars
    // + digits) so map-side partial aggregation collapses each round's
    // shuffle to a few hundred rows regardless of dictionary size.
    val nVocab = sys.env.getOrElse("SPARK_GRAFT_STRESS_BPE_VOCAB",
      "2000000").toLong
    val bpeDocs = spark.range(0, nVocab).select(
      concat(lit("alpha beta u"), col("id").cast("string"), lit("x"))
        .as("text"))
    val (bpeRes, bpeSec) = timed {
      graft.text.BpeTrain.trainDistributedStats(bpeDocs, "text", nMerges = 10)
    }
    val (bpeMerges, bpeVocab) = (bpeRes.merges, bpeRes.vocab)
    require(bpeMerges.length == 10, s"expected 10 merges: $bpeMerges")
    require(bpeRes.rounds < 10,
      s"multi-merge batching should need < 10 rounds, got ${bpeRes.rounds}")
    require(bpeMerges.head == (("a", "</w>", 2 * nVocab)),
      s"first merge must be (a, </w>) x ${2 * nVocab}: ${bpeMerges.head}")
    // base alphabet: a l p h b e t u x + 10 digits = 19; + </w> + 10 merges
    require(bpeVocab.length == 30, s"vocab size ${bpeVocab.length} != 30")

    Stress.report("text_stress", "docs" -> nDocs, "dup_runs_sec" -> runSec,
      "funnel_model_sec" -> funnelSec, "pretrain_pipeline_sec" -> pipeSec,
      "sft_sec" -> sftSec, "bpe_vocab" -> (nVocab + 2),
      "bpe_train_sec" -> bpeSec, "bpe_rounds" -> bpeRes.rounds)
    spark.stop()
  }
}
