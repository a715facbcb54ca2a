package graft.streaming

import graft.core.{AtomicSwap, LoadResult}
import graft.dedup.Dedup
import graft.operators.Merge
import graft.text.Curation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Structured Streaming layer (SURVEY §2.3 C1–C7, §3.2).
  *
  * The reference's poke-loop + thread-pool + file-watermark machinery
  * (`change_detection.py`, `sensors.py`) IS a micro-batch pipeline:
  * `readStream → withWatermark → dropDuplicatesWithinWatermark →
  * foreachBatch`, with checkpoints replacing `MetadataStore` and triggers
  * replacing poll intervals. These builders keep every step declarative
  * so the same transformations run batch or streaming.
  *
  * Sink state contract. A checkpointed stream may re-run a micro-batch
  * after a crash (its writes landed, its checkpoint commit did not), so
  * every sink's write for a batch id is idempotent: a replay changes
  * nothing. The accumulate-by-batch sinks keep their state as one
  * `batch=<id>` directory per micro-batch ([[BatchDirs]]):
  *  - committed probe: a batch directory counts as state once its write
  *    published `_SUCCESS`; `_temporary` debris does not;
  *  - restart guard: batch ids restart at 0 when the checkpoint is lost,
  *    so batch 0 fails loudly while a committed batch with a larger id
  *    exists, instead of overwriting the oldest data;
  *  - own-batch exclusion: state reads leave out the batch's own earlier
  *    attempt, so a replay equals a fresh run;
  *  - idempotent write: each batch overwrites its own `batch=<id>`.
  * Whole-table state (the merge and fold sinks) is replaced through
  * [[graft.core.AtomicSwap.replace]], with the last applied batch id as
  * a marker inside the table, so a replayed fold is skipped.
  *
  * Curation rules. A micro-batch is the incrementalised batch plan, so
  * the curation sinks ([[nearDupDedupSink]], [[phashDedupSink]],
  * [[curationFunnelSink]], [[multilingualCurationSink]],
  * [[sftPrepSink]], [[pretrainPipelineSink]]) share each decision's one
  * spelling with the batch funnels:
  *  - one read: a sink materializes its micro-batch once (a local
  *    checkpoint of the batch, or of its gate flags). foreachBatch hands
  *    over an uncached frame, so every further action would re-run the
  *    source and any stateful step upstream;
  *  - gates: [[graft.text.Curation.gateFlags]] (optional HTML
  *    extraction, blocklist and language, then Gopher, then C4) as
  *    cumulative pass flags, all counted in one aggregate; the model
  *    gate is [[graft.text.Curation.modelGate]];
  *  - stage counts: the post-gate survivor counts are one aggregate over
  *    the stage frames ([[graft.text.Curation.survivorCounts]]);
  *  - exact dedup: first-wins (lowest id) within the batch on the md5 of
  *    the text, then an anti-join against the persisted fingerprint
  *    index;
  *  - near dedup: greedy and old-wins. Within the batch the lowest id
  *    survives, and an indexed doc always survives, so ids must be
  *    unique over the stream's lifetime;
  *  - a verification read of the accumulated corpus pushes the
  *    candidate ids into the scan as an In filter (capped at 100,000
  *    ids, beyond which it scans), so its I/O tracks the candidates.
  * Each sink reports its drops in its LoadResult's errorMessage, in the
  * format its own doc gives.
  */
object Streams {

  /** C2: drop exact re-deliveries within the dedup window. The key
    * deliberately INCLUDES the event timestamp
    * (`change_detection.py:102-104`; SURVEY §7.5 risk 2): logical
    * duplicates with fresh timestamps pass through. State for a key is
    * dropped once the watermark passes it — the reference's lazy
    * eviction of expired keys, handled by the state store. */
  def dedupExactRedeliveries(events: DataFrame, tsCol: String,
      keyCols: Seq[String], window: String = "60 minutes"): DataFrame =
    events
      .withWatermark(tsCol, window)
      .dropDuplicatesWithinWatermark((keyCols :+ tsCol).toSeq)

  /** Streaming sessionization: `session_window` with watermark-driven
    * state eviction — the streaming twin of the batch gap-sessionization
    * query (w_session_user). Windows that overlap within `gap` merge as
    * events arrive; a session closes (and, in append mode, emits) once
    * the watermark passes its end. State is one row per OPEN session per
    * key — bounded by active users, not by history, which is what lets
    * this run forever over a 100 TB/day event firehose. */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("events"))

  /** Watermarked stream-stream inner join: right rows match left rows on
    * `key` within ±`tolerance` of the left timestamp. The time-range
    * bound in the join condition is what lets Spark evict both sides'
    * state (watermark + tolerance), so state stays proportional to the
    * in-flight window — without it a stream-stream join buffers forever.
    * Output carries the left row plus `rightCols` from the match. */
  def streamJoinWithin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, tolerance: String,
      watermarkDelay: String, rightCols: Seq[String]): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).as("l")
    val r = right.withWatermark(rightTs, watermarkDelay).as("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"interval $tolerance") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"interval $tolerance"))
      .select(left.columns.toIndexedSeq.map(c => col(s"l.$c")) ++
        rightCols.map(c => col(s"r.$c")): _*)
  }

  /** Streaming corpus curation: each micro-batch of documents is
    * near-dup-checked against the ACCUMULATED corpus
    * ([[graft.dedup.Dedup.incrementalNearDuplicates]]' streaming form)
    * under the curation rules (see [[Streams]]). Survivors append to
    * `corpusPath`, their signatures to `indexPath`; a doc
    * near-duplicating anything already indexed is dropped, and in-batch
    * duplicates collapse greedily (the batch d5 query's rule).
    *
    * The dedup state is the PARQUET signature index, not the state
    * store: k longs per doc, readable by any engine, rebuildable. The
    * DATA survives checkpoint loss; RESUMING ingestion after losing the
    * checkpoint requires restoring it or starting a fresh output path —
    * the sink detects the batchId collision and fails loudly rather
    * than silently overwriting the oldest batch. Per-batch cost: the increment's
    * signatures (map-only), one band join against the index, and a
    * verification read of the corpus pruned to the candidate ids. Docs
    * too short to sign (< shingle tokens) pass through unchecked, by
    * construction of minhash. Drops ride the LoadResult as
    * `deduped: <n>`.
    * At 100 TB, write the index bucketed on the id
    * ([[graft.sources.Warehouse.writeBucketed]]) so the
    * old-side membership joins below are co-located.
    *
    * Dedup here is by CONTENT across distinct ids; an exact re-delivery
    * of the same id is upstream's concern — chain
    * [[dedupExactRedeliveries]] before this sink. */
  def nearDupDedupSink(stream: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String, textCol: String,
      shingleSize: Int = 5, threshold: Double = 0.8, bands: Int = 16,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        BatchDirs.guardRestart(batch.sparkSession, "nearDupDedupSink",
          indexPath, batchId)
        val src = batch.localCheckpoint() // the one read of the micro-batch
        val (newSigs, drops) = nearDupDrops(src, idCol, textCol, indexPath,
          corpusPath, batchId, shingleSize, threshold, bands)
        val kept = src.join(broadcast(drops), Seq(idCol), "left_anti")
        val n = Curation.survivorCounts(Seq("total" -> src, "kept" -> kept)).head()
        val (total, keptN) = (n.getLong(0), n.getLong(1))
        BatchDirs.write(kept, corpusPath, batchId)
        BatchDirs.write(newSigs.join(broadcast(drops), Seq(idCol), "left_anti"),
          indexPath, batchId)
        onLoad(LoadResult.since(t0, corpusPath, keptN, errorMessage =
          if (keptN < total) Some(s"deduped: ${total - keptN}") else None))
      }

  /** Streaming SFT preparation — the streaming twin of the batch
    * `sft_funnel` composition: each micro-batch of serialized
    * conversations parses to turns ([[graft.text.Sft.parseTurns]]),
    * the protocol-validity gate drops malformed transcripts
    * (user-first, alternating, known roles — BPE-exact token
    * accounting rides along), and RESPONSE-LEVEL dedup
    * ([[graft.text.Sft.dedupByAssistant]]'s key) drops transcripts
    * whose ordered assistant content already landed — first within the
    * batch (lowest id), then against the persisted key index. Kept
    * conversations (with their assistant-token counts) land
    * `corpusPath/batch=<id>`; their keys append `indexPath/batch=<id>`.
    * Follows the sink state contract and the curation rules (see
    * [[Streams]]) and is compactable by [[compactBatchOutput]];
    * per-stage drops ride the LoadResult as `invalid=<n>;dup=<n>`. */
  def sftPrepSink(stream: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String, convCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        import graft.text.Sft
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        BatchDirs.guardRestart(spark, "sftPrepSink", indexPath, batchId)
        val src = batch.localCheckpoint() // the one read of the micro-batch
        val total = src.count()
        if (total > 0) {
          val turns = Sft.parseTurns(src.select(col(idCol), col(convCol)),
            idCol, convCol).localCheckpoint()
          val stats = Sft.conversationStats(turns)
          val valid = stats.filter(col("valid") === 1)
            .select(col("doc_id"), col("assistant_tokens"))
            .localCheckpoint()
          val validTurns = turns.join(valid.select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          // response keys of the batch's VALID transcripts; in-batch
          // first-wins, then anti-join the persisted key index
          val keys = Sft.dedupByAssistant(validTurns)
            .select(col("doc_id"), col("assistant_md5"))
          val indexed = BatchDirs.read(spark, indexPath, batchId)
            .getOrElse(keys.limit(0)).select(col("assistant_md5"))
          val kept = keys.join(indexed, Seq("assistant_md5"), "left_anti")
            .join(valid, Seq("doc_id"))
            .join(src.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"))
            .localCheckpoint()
          val n = Curation.survivorCounts(Seq("valid" -> valid, "kept" -> kept))
            .head()
          val (vN, keptN) = (n.getLong(0), n.getLong(1))
          BatchDirs.write(kept.drop("assistant_md5"), corpusPath, batchId)
          BatchDirs.write(kept.select(col("doc_id"), col("assistant_md5")),
            indexPath, batchId)
          onLoad(LoadResult.since(t0, corpusPath, keptN,
            errorMessage =
              if (keptN < total)
                Some(s"invalid=${total - vN};dup=${vN - keptN}")
              else None))
        } else {
          onLoad(LoadResult.since(t0, corpusPath, 0L))
        }
      }

  /** Streaming perceptual-hash dedup — the MEDIA twin of
    * [[nearDupDedupSink]]: each micro-batch's records hash to their
    * dHash ([[graft.multimodal.DecodeStub.perceptualHash]] — real
    * rasters through ImageIO, other payloads the deterministic
    * byte-tap fallback), then near-duplicates at hamming ≤ `maxHamming`
    * drop, both within the batch and against the PERSISTED hash index,
    * by the curation rules' greedy old-wins rule (see [[Streams]]). Pair
    * generation is the 4×16-bit pigeonhole chunk join over new ∪
    * indexed hashes — the indexed side is the 16-byte-per-record hash
    * table, never the media bytes, the same slim-index contract as the
    * text sink's signature index. Kept records land
    * `corpusPath/batch=<id>`, their hashes append
    * `indexPath/batch=<id>` under the sink state contract (see
    * [[Streams]]), compactable by [[compactBatchOutput]]. Drops ride the
    * LoadResult as `deduped: <n>`. */
  def phashDedupSink(stream: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String,
      payloadCol: String, maxHamming: Int = 3,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        import graft.multimodal.{MediaRecord, Multimodal}
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        import spark.implicits._
        BatchDirs.guardRestart(spark, "phashDedupSink", indexPath, batchId)
        val src = batch.localCheckpoint() // the one read of the micro-batch
        val media = src.select(col(idCol).cast("long").as("doc_id"),
            col(payloadCol).as("payload"),
            lit("media").as("modality"), lit("bin").as("format"))
          .as[MediaRecord]
        val newHashes = Multimodal.perceptualHashes(media).toDF()
          .select(col("doc_id").as(idCol), col("dhash"))
          .localCheckpoint()
        // own-attempt exclusion matters more here than for the text
        // sink's minhash: the perceptual hash can drift across
        // JVM/ImageIO versions between attempts, and a prior-attempt hash
        // treated as a FOREIGN indexed record would make the replay drop
        // the wrong side of a pair
        val indexHashes = BatchDirs.read(spark, indexPath, batchId)
          .map(_.select(col(idCol), col("dhash")))
          .getOrElse(newHashes.limit(0))
        // pairs over new ∪ indexed hashes also pair two indexed records
        // (survivors of different clusters can sit within maxHamming of
        // each other); the drop rule then names an indexed id, which is
        // no row of this batch, so those pairs drop nothing
        val pairs = Multimodal.imageNearDuplicates(
          newHashes.unionByName(indexHashes), idCol, "dhash", maxHamming)
        val drops = greedyDrops(pairs, indexHashes.select(col(idCol)), idCol)
          .localCheckpoint()
        val kept = src.join(broadcast(drops), Seq(idCol), "left_anti")
        val n = Curation.survivorCounts(Seq("total" -> src, "kept" -> kept)).head()
        val (total, keptN) = (n.getLong(0), n.getLong(1))
        BatchDirs.write(kept, corpusPath, batchId)
        BatchDirs.write(newHashes.join(broadcast(drops), Seq(idCol), "left_anti"),
          indexPath, batchId)
        onLoad(LoadResult.since(t0, corpusPath, keptN, errorMessage =
          if (keptN < total) Some(s"deduped: ${total - keptN}") else None))
      }

  /** Streaming curation funnel — the streaming twin of the batch
    * `tx_curation_funnel` composition (and, with the options,
    * `tx_html_funnel` and `tx_funnel_model`), under the curation rules
    * (see [[Streams]]): optional HTML extraction, the Gopher and C4
    * gates ([[graft.text.Curation.gateFlags]]), the optional model gate
    * on the cleaned text, then exact dedup ON THE CLEANED TEXT against
    * the persisted fingerprint index (one md5 per survivor — the
    * incremental state design of [[nearDupDedupSink]], minus
    * signatures).
    *
    * Survivors land in `corpusPath/batch=<id>` with their cleaned
    * text; their fingerprints append to `indexPath/batch=<id>`. Both
    * follow the sink state contract (see [[Streams]]) and are
    * compactable by [[compactBatchOutput]]. Empty micro-batches skip
    * the write (no directory mint).
    *
    * Per-stage drop counts ride the LoadResult errorMessage as
    * `[html=<n>;]gopher=<n>;c4=<n>[;model=<n>];dup=<n>`: two
    * micro-batch-sized aggregates, never history-sized. */
  def curationFunnelSink(stream: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String, textCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minStopWords: Long = 2L, minWords: Int = 3,
      modelGate: Option[(Seq[(Int, Long)], Long, Int)] = None,
      htmlExtract: Boolean = false,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        BatchDirs.guardRestart(batch.sparkSession, "curationFunnelSink",
          indexPath, batchId)
        // the one read of the micro-batch: its columns, the gate flags,
        // and the cleaned text of the c4 survivors in place of the text
        val flagged = Curation.gateFlags(batch, textCol, minTokens,
            minStopWords, maxTokens, html = htmlExtract, minWords = minWords)
          .withColumn(textCol, col("clean")).drop("clean")
          .localCheckpoint()
        val gates = Curation.gateCounts(flagged).head()
        val total = gates.getAs[Long]("total")
        if (total > 0) {
          val cleaned = flagged.filter(col(Curation.gateFlag("c4")))
            .select(batch.columns.toIndexedSeq.map(col): _*)
          val gated = modelGate.fold(cleaned) { case (wq, biasQ, buckets) =>
            Curation.modelGate(cleaned, idCol, textCol, wq, biasQ, buckets)
              .localCheckpoint()
          }
          val kept = exactDedupVsIndex(gated, idCol, textCol, indexPath, batchId)
            .localCheckpoint()
          val n = Curation.survivorCounts(
            Seq("model" -> gated).filter(_ => modelGate.isDefined) :+
              ("kept" -> kept)).head()
          val keptN = n.getAs[Long]("kept")
          val hN = if (htmlExtract) gates.getAs[Long]("html") else total
          val gN = gates.getAs[Long]("gopher")
          val cN = gates.getAs[Long]("c4")
          val mN = if (modelGate.isDefined) n.getAs[Long]("model") else cN
          BatchDirs.write(kept.drop("__fp"), corpusPath, batchId)
          BatchDirs.write(kept.select(col(idCol), col("__fp").as("fp")),
            indexPath, batchId)
          onLoad(LoadResult.since(t0, corpusPath, keptN,
            errorMessage =
              if (keptN < total)
                Some((if (htmlExtract) s"html=${total - hN};" else "") +
                  s"gopher=${hN - gN};c4=${gN - cN}" +
                  (if (modelGate.isDefined) s";model=${cN - mN}" else "") +
                  s";dup=${mN - keptN}")
              else None))
        } else {
          onLoad(LoadResult.since(t0, corpusPath, 0L))
        }
      }

  /** THE streaming flagship — the end-to-end streaming form of the
    * batch `tx_pretrain_pipeline` composition
    * ([[graft.queries.TextQueries.txPretrainPipeline]]), every stage
    * the same library operator with the same parameters, run
    * incrementally per micro-batch under ONE checkpoint and the
    * curation rules (see [[Streams]]):
    *
    *  1. optional HTML→text extraction ([[graft.text.Html.extractText]]);
    *  2. blocklist gate (frequency-threshold,
    *     [[graft.text.Curation.blocklistPassed]]);
    *  3. language gate (stopword vote == `lang`);
    *  4. Gopher quality gate; 5. C4 segmentation + line cleaning;
    *  6. committed-model quality gate (quantized classifier);
    *  7. EXACT dedup on cleaned text against the persisted fingerprint
    *     index (`fpIndex/`);
    *  8. MinHash NEAR-dedup — in-batch pairs plus incremental
    *     candidates against the persisted signature index (`sigIndex/`),
    *     Jaccard-verified against the near-stage survivor corpus
    *     (`dedupCorpus/`), greedy old-wins drops (equal to the batch
    *     transitive closure whenever pairs don't chain across
    *     survivors, and in particular on any corpus where C4 cleaning
    *     collapses near-dups into exact dups first);
    *  9. decontamination against the static `evalDocs` set — exact
    *     whole-doc fingerprints, then near-match shared-`deconN`-grams
    *     ([[graft.text.Boilerplate.ngramDecontaminate]]);
    *  10. deterministic hash sample;
    *  11. BPE-exact sequence packing with CARRIED per-source token
    *     offsets (`offsets/`): pack ids continue across micro-batches,
    *     so batches fed in key order produce the identical (source,
    *     pack_batch) layout as one batch run — StreamsSpec pins
    *     streamed-in-3 == batch flagship on the same fixture, and the
    *     tx_pretrain_stream oracle row replays the full composition.
    *
    * State is ALL parquet under `workDir` (fingerprints, signatures,
    * survivor texts, per-source offsets, per-batch stage counts), one
    * `batch=<id>` overwrite-partition per micro-batch under the sink
    * state contract (see [[Streams]]). Per-batch cost ∝ the increment
    * (plus the candidate-pruned corpus read the near stage shares with
    * [[nearDupDedupSink]]); nothing history-sized is ever recomputed.
    * Drops ride the LoadResult as
    * `[html=<n>;]gates=<n>;dup=<n>;decon=<n>;sample=<n>`. */
  def pretrainPipelineSink(stream: DataFrame, workDir: String,
      checkpoint: String, idCol: String, sourceCol: String, textCol: String,
      evalDocs: DataFrame, evalTextCol: String,
      blocklistTerms: Seq[String], maxHits: Long = 2L,
      lang: String = "en", minTokens: Long = 50L, minStopWords: Long = 1L,
      minWords: Int = 3,
      modelWeights: Seq[(Int, Long)] = graft.text.QualityModelFixture.weightsQ,
      modelBias: Long = graft.text.QualityModelFixture.biasQ,
      modelBuckets: Int = graft.text.QualityModelFixture.buckets,
      segment: Column => Column = identity,
      shingleSize: Int = 5, threshold: Double = 0.8, bands: Int = 16,
      deconN: Int = 8, sampleFraction: Double = 0.5, packBudget: Long = 2048L,
      htmlExtract: Boolean = false,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        import graft.text.{Boilerplate, TextFunctions}
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        val fpPath = s"$workDir/fpIndex"
        val sigPath = s"$workDir/sigIndex"
        val dcPath = s"$workDir/dedupCorpus"
        val offPath = s"$workDir/offsets"
        BatchDirs.guardRestart(spark, "pretrainPipelineSink", fpPath, batchId)
        // ——— map-side gates (stages 1–5): the one read of the micro-batch
        val gatedAll = Curation.gateFlags(batch, textCol, minTokens,
          minStopWords, html = htmlExtract,
          blocklist = Some((blocklistTerms, maxHits)), lang = Some(lang),
          segment = segment, minWords = minWords)
        val flagged = gatedAll.select((Seq(idCol, sourceCol) ++
            Curation.gatesOf(gatedAll).map(Curation.gateFlag) :+ "clean")
            .map(col): _*)
          .localCheckpoint()
        val gates = Curation.gateCounts(flagged).head()
        val total = gates.getAs[Long]("total")
        if (total > 0) {
          // ——— 6. model gate
          val modelKept = Curation.modelGate(
              flagged.filter(col(Curation.gateFlag("c4")))
                .select(col(idCol), col(sourceCol), col("clean")),
              idCol, "clean", modelWeights, modelBias, modelBuckets)
            .localCheckpoint()
          // ——— 7. exact dedup: in-batch first-wins, then the fp index
          val exactKept = exactDedupVsIndex(modelKept, idCol, "clean", fpPath,
            batchId).localCheckpoint()
          // ——— 8. near-dedup vs the persisted signature index
          val (newSigs, drops) = nearDupDrops(exactKept, idCol, "clean",
            sigPath, dcPath, batchId, shingleSize, threshold, bands)
          val nearKept = exactKept.join(broadcast(drops), Seq(idCol), "left_anti")
            .localCheckpoint()
          // ——— 9. decontamination: exact fingerprints, then near n-grams
          val evalFps = evalDocs
            .select(TextFunctions.minShingleFingerprint(col(evalTextCol),
              shingleSize).as("__efp"))
            .filter(col("__efp").isNotNull).distinct()
          val decon = nearKept
            .withColumn("__dfp",
              TextFunctions.minShingleFingerprint(col("clean"), shingleSize))
            .join(broadcast(evalFps.withColumnRenamed("__efp", "__dfp")),
              Seq("__dfp"), "left_anti")
            .drop("__dfp")
          val deconNear = Boilerplate.ngramDecontaminate(decon, idCol, "clean",
            evalDocs, evalTextCol, deconN).localCheckpoint()
          // ——— 10. deterministic sample; 11. packing with carried offsets
          val sampled = graft.operators.Sampling.deterministicSample(
            deconNear, idCol, sampleFraction)
          // every post-gate survivor count in one aggregate
          val tail = Curation.survivorCounts(Seq("model" -> modelKept,
            "exact_dedup" -> exactKept, "near_dedup" -> nearKept,
            "decontaminated" -> decon, "decon_near" -> deconNear,
            "sampled" -> sampled)).head()
          val n = Seq(gates, tail)
            .flatMap(r => r.getValuesMap[Long](r.schema.fieldNames.toIndexedSeq)).toMap
          val withTok = sampled.withColumn("n_tokens",
            TextFunctions.bpeTokenCount(col("clean")))
          val baseOffsets = BatchDirs.read(spark, offPath, batchId)
            .map(_.groupBy(col(sourceCol)).agg(sum(col("tokens")).as("__base")))
            .getOrElse(withTok.select(col(sourceCol), lit(0L).as("__base")).limit(0))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(sourceCol)).orderBy(col(idCol))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)
          val packed = withTok
            .join(broadcast(baseOffsets), Seq(sourceCol), "left")
            .withColumn("__base", coalesce(col("__base"), lit(0L)))
            .withColumn("__cum", sum(col("n_tokens")).over(w))
            .withColumn("pack_batch",
              expr(s"(__base + __cum - n_tokens) div ${packBudget}L"))
            .select(col(idCol), col(sourceCol), col("clean"), col("n_tokens"),
              col("pack_batch"))
            .localCheckpoint()
          // ——— state + output writes; fpIndex LAST (the state probe key):
          // its presence implies every earlier directory's batch committed,
          // but each read still tolerates an absent sibling (first batch,
          // or a crash mid-write)
          BatchDirs.write(packed, s"$workDir/corpus", batchId)
          BatchDirs.write(
            packed.groupBy(col(sourceCol)).agg(sum(col("n_tokens")).as("tokens")),
            offPath, batchId)
          BatchDirs.write(nearKept.select(col(idCol), col("clean")), dcPath, batchId)
          BatchDirs.write(newSigs.join(broadcast(drops), Seq(idCol), "left_anti")
            .select(col(idCol), col("sig")), sigPath, batchId)
          val batchStages = PretrainStages.init
          BatchDirs.write(Curation.stageTable(spark.range(0, 1, 1, 1)
              .select(batchStages.map(st => lit(n(st)).as(st)): _*), batchStages),
            s"$workDir/stats", batchId)
          BatchDirs.write(exactKept.select(col("__fp").as("fp")), fpPath, batchId)
          val (hN, mN, nN, dnN, sN) = (if (htmlExtract) n("html") else total,
            n("model"), n("near_dedup"), n("decon_near"), n("sampled"))
          onLoad(LoadResult.since(t0, s"$workDir/corpus", sN,
            errorMessage = if (sN < total)
              Some((if (htmlExtract) s"html=${total - hN};" else "") +
                s"gates=${hN - mN};dup=${mN - nN};decon=${nN - dnN};" +
                s"sample=${dnN - sN}")
            else None))
        } else {
          // no directory mint for empty micro-batches (the sibling-sink
          // convention) — sums and carried offsets are unaffected
          onLoad(LoadResult.since(t0, s"$workDir/corpus", 0L))
        }
      }

  /** The 12 stages of the pretraining flagship's stage-count table, in
    * order: the batch query's rows, and the streaming sink's per-batch
    * counts plus the final `batches`. */
  private[graft] val PretrainStages: Seq[String] = Seq("total", "blocklist",
    "lang", "gopher", "c4", "model", "exact_dedup", "near_dedup",
    "decontaminated", "decon_near", "sampled", "batches")

  /** The finished-run view of a [[pretrainPipelineSink]] work
    * directory: per-batch stage counts summed across micro-batches,
    * plus the final `batches` stage (distinct (source, pack_batch) —
    * computed here, not per batch, because carried offsets let one
    * pack batch span micro-batches). Same 12-stage layout as the batch
    * flagship, so streamed == batch is one DataFrame comparison. */
  def pretrainPipelineStages(spark: SparkSession, workDir: String,
      sourceCol: String = "source"): DataFrame = {
    val perStage = PretrainStages.init.map(st =>
      sum(when(col("stage") === st, col("n_docs"))).as(st))
    val sums = spark.read.parquet(s"$workDir/stats")
      .agg(perStage.head, perStage.tail: _*)
    val batches = spark.read.parquet(s"$workDir/corpus")
      .select(col(sourceCol), col("pack_batch"))
      .distinct()
      .agg(count(lit(1)).as("batches"))
    Curation.stageTable(sums.crossJoin(batches), PretrainStages)
  }

  /** Streaming multilingual routed curation — the streaming twin of
    * the tx_multilingual_pipeline composition: each micro-batch is
    * language-identified by the ZERO-shuffle profile expression
    * ([[graft.functions.NativeLang.langIdProfile]]), routed through
    * its language's rule table
    * ([[graft.text.Curation.routedCurationFlags]] — one codegen'd CASE
    * chain, map-side), and the gate survivors exact-dedup on content,
    * under the sink state contract and the curation rules (see
    * [[Streams]]; compactable). Survivors land
    * `corpusPath/batch=<id>` with their `route_lang`; fingerprints
    * append `indexPath/batch=<id>`.
    * Per-stage drops ride the LoadResult as
    * `unrouted=<n>;gated=<n>;dup=<n>`. Docs whose detected language
    * has no committed route drop at routing (a production deployment
    * adds routes rather than silently passing unknown scripts). */
  def multilingualCurationSink(stream: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String, idCol: String, textCol: String,
      routes: Seq[graft.text.Curation.LangRoute],
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        BatchDirs.guardRestart(spark, "multilingualCurationSink", indexPath, batchId)
        // the one read of the micro-batch, with its detected language
        val detected = batch.withColumn("__lang",
            coalesce(graft.functions.NativeLang.langIdProfile(col(textCol))
              .getField("predicted_lang"), lit("unknown")))
          .localCheckpoint()
        val flags = Curation.routedCurationFlags(detected, idCol, textCol,
            "__lang", routes)
          .withColumn("__gated", col("blocklist_pass") && col("quality_pass") &&
            col("route_lang") =!= "other")
        val head = flags.agg(count(lit(1)),
          coalesce(sum((col("route_lang") =!= "other").cast("long")), lit(0L)),
          coalesce(sum(col("__gated").cast("long")), lit(0L))).head()
        val (total, routedN, gN) = (head.getLong(0), head.getLong(1), head.getLong(2))
        if (total > 0) {
          val gated = flags.filter(col("__gated"))
            .select(col("doc_id").as(idCol), col("route_lang"))
            .join(detected.drop("__lang"), Seq(idCol))
          val kept = exactDedupVsIndex(gated, idCol, textCol, indexPath, batchId)
            .localCheckpoint()
          val keptN = kept.count()
          BatchDirs.write(kept.drop("__fp"), corpusPath, batchId)
          BatchDirs.write(kept.select(col(idCol), col("__fp").as("fp")),
            indexPath, batchId)
          onLoad(LoadResult.since(t0, corpusPath, keptN,
            errorMessage =
              if (keptN < total)
                Some(s"unrouted=${total - routedN};gated=${routedN - gN};" +
                  s"dup=${gN - keptN}")
              else None))
        } else {
          onLoad(LoadResult.since(t0, corpusPath, 0L))
        }
      }

  /** Streaming preference-pair state — DPO/RLHF reward-data prep over
    * a candidate-response stream. The state design exploits that
    * argmax/argmin are SEMILATTICES: the global best (worst) response
    * of a prompt is necessarily some micro-batch's best (worst), so
    * retaining only each batch's per-prompt extremes — two bounded-heap
    * top-1 passes over the batch, [[graft.text.Sft.preferencePairs]]'
    * ordering — is lossless for the final pairing. Ingest therefore
    * NEVER reads state (write-only, per-batch cost ∝ the increment,
    * no index join at all), replay is idempotent by value (a replayed
    * batch recomputes the identical extremes; the overwrite changes
    * nothing), and stale extremes superseded by later batches are
    * absorbed by the read-time reduce, so no own-batch exclusion is
    * even needed. [[preferencePairsOf]] folds the accumulated extremes
    * through the SAME operator (the orderings are shared constants —
    * [[graft.text.Sft.chosenOrder]]/[[graft.text.Sft.rejectedOrder]] —
    * so the losslessness invariant cannot drift) to produce the
    * current pairs; [[compactBatchOutput]] applies (compaction =
    * re-extremes). Reader contract, shared with every batch=<id> sink
    * here: a read that races a crash-REPLAY's overwrite window can
    * observe the replayed batch's directory mid-rewrite — read from a
    * quiesced state (or a compacted copy) for point-in-time exactness,
    * the same bound [[compactBatchOutput]] documents. */
  def preferencePairSink(stream: DataFrame, statePath: String,
      checkpoint: String, promptCol: String, responseCol: String,
      scoreCol: String, trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        BatchDirs.guardRestart(batch.sparkSession, "preferencePairSink",
          statePath, batchId)
        // ONE scan of the micro-batch source: the extremes pass reads
        // the cached frame, and the empty gate falls out of its count
        val cand = batch.select(col(promptCol), col(responseCol),
          col(scoreCol)).localCheckpoint()
        val ext = graft.text.Sft.promptExtremes(cand, promptCol,
          responseCol, scoreCol).localCheckpoint()
        val n = ext.count()
        // write even when EMPTY: the first committed directory is what
        // lets preferencePairsOf infer a schema before any data arrives
        // (the trendingTopKSink convention)
        BatchDirs.write(ext, statePath, batchId)
        onLoad(LoadResult.since(t0, statePath, n))
      }

  /** The current preference pairs of a [[preferencePairSink]] state
    * directory: the accumulated per-batch extremes folded through the
    * SAME pairing operator — extremes-of-extremes are the global
    * extremes, so this equals [[graft.text.Sft.preferencePairs]] over
    * every candidate ever streamed. */
  def preferencePairsOf(spark: SparkSession, statePath: String,
      promptCol: String, responseCol: String,
      scoreCol: String): DataFrame =
    graft.text.Sft.preferencePairs(
      spark.read.parquet(statePath)
        .select(col(promptCol), col(responseCol), col(scoreCol)),
      promptCol, responseCol, scoreCol)

  /** C5: poll-interval suppression → micro-batch trigger. */
  def trigger(checkIntervalSeconds: Long): Trigger =
    Trigger.ProcessingTime(checkIntervalSeconds * 1000)

  /** C7/"skip unnecessary processing": drain whatever is available, then
    * stop — the reference's requirement 1.5 early-exit. */
  def availableNow: Trigger = Trigger.AvailableNow()

  /** T3/S8: incremental MERGE of one batch into a whole parquet table
    * ([[graft.operators.Merge.upsert]]): latest-wins, then an atomic
    * directory swap; an empty batch leaves the table untouched. Plain
    * parquet has no ACID MERGE (SURVEY §7.5 risk 1) — write-new + rename
    * is the single-writer equivalent; a 100 TB deployment partitions the
    * base table and rewrites only touched partitions. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keys: Seq[String], versionCol: String): LoadResult =
    Merge.upsert(spark, path, batch, keys, col(versionCol), None)

  /** Incremental aggregate maintenance (materialized-view style): a
    * persistent per-key aggregate table — row count + exact decimal sum
    * per measure — kept current by folding each micro-batch's PARTIAL
    * aggregate into the stored totals. Counts and decimal sums are
    * associative, so delta-merging is EXACT: the result equals a full
    * recompute over all data ever seen, but per-batch cost is
    * (batch keys + stored keys), never the raw history. This is the
    * streaming twin of the corpus-stats queries (tx_corpus_stats): at
    * 100 TB/day the full recompute is off the table, the merge isn't.
    * Non-associative stats (distinct, percentiles) deliberately aren't
    * here — those need sketches (see `Validator.profileFrame(approx)`).
    */
  private val AggBatchMarker = "_graft_lastbatch"

  /** `batchId` makes replays idempotent: pass the foreachBatch batch id
    * (or -1 to always apply, for direct batch use). The id of the last
    * FOLDED batch rides inside the table directory itself — same atomic
    * swap as the data — so "was this batch already applied" survives a
    * crash between the parquet swap and Spark's checkpoint commit,
    * which would otherwise double-count the replayed partials into
    * totals that already contain them. The swap is rename-rename (old →
    * backup, new → target), never delete-then-rename: a crash between
    * the two renames leaves the backup, healed on the next call —
    * delete-first would vaporize the accumulated history. */
  def aggMergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], measureCol: String,
      batchId: Long = -1L): LoadResult =
    foldBatch(spark, path, keyCols, batchId) {
      batch.groupBy(keyCols.map(col): _*).agg(
        count(lit(1)).as("n_rows"),
        sum(col(measureCol).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .as("sum_measure"))
    }

  /** Running-moments twin of [[aggMergeBatch]]: maintains (n, Σx, Σx²)
    * per key — count and both moment sums are associative (decimal, so
    * exact), which is what makes streaming mean/std/z-score possible
    * without rescanning history. Read the table and derive
    * `mean = Σx/n`, `var = (Σx² − (Σx)²/n)/(n−1)` — the same formula
    * the batch `v_stats_events` oracle-pins. */
  def statsMergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], measureCol: String,
      batchId: Long = -1L): LoadResult =
    foldBatch(spark, path, keyCols, batchId) {
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val x = col(measureCol)
      batch.filter(x.isNotNull).groupBy(keyCols.map(col): _*).agg(
        count(lit(1)).as("n_rows"),
        sum(x.cast(dec)).as("sum_x"),
        sum((x.cast(dec) * x.cast(dec))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("sum_x2"))
    }

  /** Streaming drift monitor, fold half: accumulate per-(key, bucket)
    * observation counts across micro-batches — plain [[aggMergeSink]]
    * semantics (associative count sums on the atomic swap, replay-
    * idempotent), keyed by (key, bucket). Pair with [[chi2Against]] to
    * score the accumulated distribution at any time. */
  def driftCountsSink(stream: DataFrame, path: String, checkpoint: String,
      keyCol: String, bucketCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    aggMergeSink(stream.withColumn("__one", lit(1.0)), path, checkpoint,
      Seq(keyCol, bucketCol), "__one", trig, onLoad)

  /** Streaming drift monitor, scoring half: one-sample chi-square of
    * the ACCUMULATED bucket counts at `path` against a reference
    * distribution (`ref`: key, bucket, p_ref summing to 1 per key) —
    * the continuous twin of the batch `v_drift_chi2`. Buckets the
    * reference declares but the stream never produced contribute
    * their full expected mass ((0−e)²/e — a vanished bucket is drift,
    * not absence of evidence), via the ref-side left join; buckets
    * observed but ABSENT from the reference have no expected mass and
    * fail loudly rather than divide by zero. Pure count arithmetic
    * (the libm-free discipline of the batch query); state read is
    * keys × buckets rows. */
  def chi2Against(spark: SparkSession, path: String, ref: DataFrame,
      keyCol: String, bucketCol: String, pRefCol: String): DataFrame = {
    val obs = spark.read.parquet(path)
      .select(col(keyCol), col(bucketCol), col("n_rows").as("o"))
    val unknown = obs.join(ref.select(col(keyCol), col(bucketCol)),
      Seq(keyCol, bucketCol), "left_anti")
    require(unknown.isEmpty,
      "observed buckets absent from the reference distribution: " +
        unknown.limit(5).collect().mkString(", "))
    val n = obs.groupBy(col(keyCol)).agg(sum(col("o")).as("n"))
    ref.join(obs, Seq(keyCol, bucketCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .join(n, Seq(keyCol))
      .withColumn("e", col("n").cast("double") * col(pRefCol))
      .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n_obs"),
        (count(lit(1)) - 1).as("dof"),
        sum(col("term").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("chi2"))
  }

  /** Streaming training-shard export with an incrementally-maintained
    * INTEGRITY MANIFEST ([[graft.operators.Export]]'s streaming half).
    * Per micro-batch: the rows land idempotently under
    * `path/data/batch=<id>` partitioned by the shard column (the
    * ivfIngestSink layout — uniform directory depth, replays replace
    * their own output), and the batch's manifest FOLDS into the
    * stored one at `path/_manifest`: row counts and fingerprint sums
    * ADD, fingerprint xors XOR — both associative, so the folded
    * manifest is BIT-IDENTICAL to a one-shot
    * [[graft.operators.Export.manifest]] over everything ever
    * streamed (spec-pinned), and
    * [[graft.operators.Export.verifyManifest]] works unchanged on the
    * grown export. The fold carries the batch marker (replays skip)
    * behind the shared atomic swap. */
  def exportManifestSink(stream: DataFrame, path: String,
      checkpoint: String, shardCol: String, cols: Seq[String],
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(manifestMergeBatch(batch.sparkSession, batch, path, shardCol, cols,
        batchId))
    }

  /** One [[exportManifestSink]] micro-batch: idempotent data write +
    * marker-guarded manifest fold. Callable directly with batchId = -1
    * for BATCH-MODE appends — that path APPENDS into `data/batch=-1`
    * (streaming batches overwrite their own directory; batch-mode calls
    * have no batch identity, so overwrite would silently destroy the
    * previous append's rows while their fingerprints stayed folded into
    * the manifest). Batch-mode appends carry no replay marker: rerunning
    * one adds its rows twice — by design, like any batch append — and a
    * crash between the data append and the manifest fold leaves the
    * mismatch [[graft.operators.Export.verifyManifest]] exists to
    * catch. */
  def manifestMergeBatch(spark: SparkSession, batch: DataFrame,
      path: String, shardCol: String, cols: Seq[String],
      batchId: Long): LoadResult = {
    import graft.operators.Export
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val mode = if (batchId >= 0) "overwrite" else "append"
      pinned.write.mode(mode).partitionBy(shardCol)
        .parquet(s"$path/data/batch=$batchId")
      foldBatchWith(spark, s"$path/_manifest", Seq(shardCol), batchId)(
        Export.manifest(pinned, shardCol, cols)) { (all, _) =>
        all.groupBy(col(shardCol)).agg(
          sum(col("n_rows")).as("n_rows"),
          // same decimal-widened, mod-2^32-reduced sum as the batch
          // manifest: residues add then reduce, so the fold stays
          // bit-identical to a one-shot manifest at any batch count
          pmod(sum(col("fp_sum")
              .cast(org.apache.spark.sql.types.DecimalType(20, 0))),
            lit(1L << 32)).cast("long").as("fp_sum"),
          coalesce(expr("bit_xor(fp_xor)"), lit(0L)).as("fp_xor"))
      }
    } finally pinned.unpersist()
  }

  /** Streaming drift monitor, NUMERIC half: grid-KS of the ACCUMULATED
    * bucket counts at `path` against a reference CDF — the streaming
    * twin of the batch exact-KS ([[graft.validation.Drift
    * .ksStatistic]]). An exact KS needs per-distinct-value state
    * (unbounded on a stream); the standard streaming trade is the
    * FIXED BUCKET GRID already maintained by [[driftCountsSink]]:
    * KS restricted to the grid's cut points, a LOWER bound on the
    * exact statistic that converges to it as the grid refines.
    *
    * The approximation error is BOUNDED, not just "small": for any cut
    * point x inside bucket b (edges l < x ≤ r), the CDF gap satisfies
    * both `D(x) ≤ D(l) + obsMass(b)` and `D(x) ≤ D(r) + refMass(b)`
    * (CDFs are monotone within the bucket), and symmetrically for
    * −D(x) — so
    *   gridKS ≤ exactKS ≤ gridKS + max_b min(obsMass_b, refMass_b),
    * the worst case being drift hiding entirely INSIDE one bucket
    * (bucket counts equal, values shifted within). DriftSpec asserts
    * the two-sided bound against [[graft.validation.Drift.ksStatistic]]
    * on exactly that adversarial fixture. Size the grid so the largest
    * bucket's mass is below the drift threshold you act on.
    *
    * Same integer discipline as the batch side: `ref` carries integer
    * reference counts (`cRefCol`), and `ks_num = max |cumObs·nRef −
    * cumRef·nObs|` is pure count arithmetic — the one division is
    * final. Buckets observed but absent from the reference fail
    * loudly (the [[chi2Against]] contract), and the bucket column must
    * be NUMERIC (or date/timestamp): the cumulative window orders by
    * it, and string labels would order "b10" < "b2" and silently
    * compute a wrong statistic. Ordered cumulative sums run per key
    * over grid-sized rows. */
  def ksAgainst(spark: SparkSession, path: String, ref: DataFrame,
      keyCol: String, bucketCol: String, cRefCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = spark.read.parquet(path)
      .select(col(keyCol), col(bucketCol), col("n_rows").as("o"))
    (obs.schema(bucketCol).dataType, ref.schema(bucketCol).dataType) match {
      case (a: org.apache.spark.sql.types.NumericType,
            b: org.apache.spark.sql.types.NumericType) => (a, b)
      case (org.apache.spark.sql.types.DateType,
            org.apache.spark.sql.types.DateType) => ()
      case (org.apache.spark.sql.types.TimestampType,
            org.apache.spark.sql.types.TimestampType) => ()
      case (a, b) => throw new IllegalArgumentException(
        s"ksAgainst orders the CDF by '$bucketCol' and needs a numeric/" +
          s"date/timestamp bucket column on both sides, got ${a.sql} / " +
          s"${b.sql} — string grids sort lexically ('b10' < 'b2') and " +
          "would produce a silently wrong KS statistic")
    }
    val unknown = obs.join(ref.select(col(keyCol), col(bucketCol)),
      Seq(keyCol, bucketCol), "left_anti")
    require(unknown.isEmpty,
      "observed buckets absent from the reference distribution: " +
        unknown.limit(5).collect().mkString(", "))
    val joined = ref
      .select(col(keyCol), col(bucketCol), col(cRefCol).cast("long").as("r"))
      .join(obs, Seq(keyCol, bucketCol), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val wCum = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(keyCol))
    joined
      .withColumn("cum_r", sum(col("r")).over(wCum))
      .withColumn("cum_o", sum(col("o")).over(wCum))
      .withColumn("n_r", sum(col("r")).over(wAll))
      .withColumn("n_o", sum(col("o")).over(wAll))
      .groupBy(col(keyCol))
      .agg(max(col("n_r")).as("n_ref"), max(col("n_o")).as("n_obs"),
        max(abs(col("cum_o") * col("n_r") - col("cum_r") * col("n_o")))
          .as("ks_num"))
      .withColumn("ks",
        col("ks_num").cast("double") /
          (col("n_ref") * col("n_obs")).cast("double"))
  }

  /** KMV-profile fold: maintains, per key, the k-minimum-values
    * distinct sketch ([[graft.functions.KmvMinHashesAgg]]) and the row
    * count. Sketch merge is k-smallest-of-union — associative and
    * commutative, so any micro-batch slicing (and any crash-replay,
    * via the shared batch marker) converges to the one-shot batch
    * sketch EXACTLY, not approximately: the streaming cardinality
    * profile is bit-identical to the batch one, which the spec pins.
    * State is keys × (k longs + 1 count) — bounded regardless of how
    * many distinct values the stream has carried. */
  def kmvMergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], hashCol: String, k: Int,
      batchId: Long = -1L): LoadResult =
    foldBatchWith(spark, path, keyCols, batchId)(
      batch.groupBy(keyCols.map(col): _*).agg(
        graft.functions.NativeAgg.kmvMinHashes(col(hashCol), k).as("kmv"),
        count(lit(1)).as("n_rows"))
    ) { (all, _) =>
      // merge = k smallest of the union of stored + incoming sketches;
      // collect_list order is nondeterministic but sort+distinct makes
      // the result deterministic
      all.groupBy(keyCols.map(col): _*).agg(
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, k).as("kmv"),
        sum(col("n_rows")).as("n_rows"))
    }

  /** Streaming embedding-geometry state: fold each micro-batch's exact
    * Gram/scatter statistics ([[graft.functions.GramMatrixAgg]]) into a
    * stored per-key total. n, component sums, and the upper-triangle
    * Gram entries are associative INTEGER sums, so the folded state is
    * bit-identical to a one-shot aggregate over all data ever seen —
    * which makes [[pc1State]] (fixed-point power iteration over the
    * stored state) an exact streaming PCA: per-batch cost is the
    * increment's one-pass aggregate plus a (keys × d²)-sized merge,
    * never a history rescan. Replay-idempotent via the fold marker. */
  def gramMergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], vecCol: String,
      batchId: Long = -1L): LoadResult = {
    import graft.functions.NativeAgg
    import graft.similarity.Similarity
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(NativeAgg.gramMatrix(Similarity.quantize(col(vecCol))).as("gm"))
      .select(keyCols.map(col) ++ Seq(col("gm.n").as("n"),
        col("gm.s").as("s"), col("gm.g").as("g")): _*)
    foldBatchWith(spark, path, keyCols, batchId)(partial) { (all, _) =>
      // element-wise integer array sums via explode + re-pack (the
      // centroidCosine re-pack pattern): rows per key = stored 1 +
      // incoming 1, so the explode is (keys × d²) cells, not data
      def packed(c: String) = all
        .select(keyCols.map(col) :+
          posexplode(col(c)).as(Seq("__pos", "__v")): _*)
        .groupBy(keyCols.map(col) :+ col("__pos"): _*)
        .agg(sum(col("__v")).as("__sv"))
        .groupBy(keyCols.map(col): _*)
        .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__sv")))),
          x => x("__sv")).as(c))
      // GramMatrixAgg enforces one dimension within a single aggregate
      // only — a stream whose embedding dimension CHANGES between
      // batches would otherwise silently sum misaligned cells through
      // the re-pack. Fail the batch loudly instead: min/max(size) ride
      // the EXISTING per-key aggregate (no extra shuffle), and
      // assert_true rides the written plan, so the error fires before
      // the swap commits.
      all.groupBy(keyCols.map(col): _*)
        .agg(sum(col("n")).as("n"),
          min(size(col("s"))).as("__dmin"),
          max(size(col("s"))).as("__dmax"))
        .join(packed("s"), keyCols)
        .join(packed("g"), keyCols)
        .withColumn("__dimchk", assert_true(col("__dmin") === col("__dmax"),
          lit("gramMergeBatch: embedding dimension changed across batches " +
            "— stored and incoming Gram states are incompatible")))
        .filter(col("__dimchk").isNull)
        .drop("__dmin", "__dmax", "__dimchk")
    }
  }

  /** writeStream wiring for [[gramMergeBatch]] (checkpointed). */
  def gramMergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], vecCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(gramMergeBatch(batch.sparkSession, batch, path, keyCols, vecCol,
        batchId))
    }

  /** First principal component of ONE key's accumulated Gram state —
    * exact streaming PCA (see [[gramMergeBatch]]); output contract of
    * [[graft.similarity.Similarity.powerIterationPc1]]. */
  def pc1State(spark: SparkSession, path: String, keyCols: Seq[String],
      keyValues: Seq[Any], iters: Int = 8): DataFrame = {
    val pred = keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }
      .reduce(_ && _)
    val row = spark.read.parquet(path).filter(pred).head()
    graft.similarity.Similarity.pc1FromStats(spark,
      row.getAs[Long]("n"),
      row.getAs[scala.collection.Seq[Long]]("s").toSeq,
      row.getAs[scala.collection.Seq[Long]]("g").toSeq, iters)
  }

  /** CDC from FULL extractions: each micro-batch is a complete new
    * SNAPSHOT of the source table (the reference's FULL mode ships no
    * delta log — diffing successive snapshots IS its change stream).
    * The batch diffs against the persisted previous snapshot
    * ([[graft.operators.ChangeDetection.snapshotDiff]] — output ∝
    * change volume), the added/removed/changed rows land in
    * `changelogPath/batch=<id>`, and the batch replaces the stored
    * snapshot via the atomic swap.
    *
    * Replay safety is ORDER + MARKER: the changelog writes BEFORE the
    * snapshot swap, and the swap carries the batch marker — so a
    * replay either redoes both (marker behind: state is still the old
    * snapshot, the diff recomputes identically) or skips both (marker
    * current: the changelog for this id was necessarily written before
    * the swap that advanced the marker). Without the marker, a replay
    * after the swap would diff the snapshot against ITSELF and
    * overwrite the real changelog with an empty one.
    *
    * Batch-mode calls (batchId = -1) advance the snapshot but keep only
    * the LATEST diff (each overwrites `changelog/batch=-1`) and never
    * move the replay marker; pass explicit increasing batchIds to
    * retain diff history across batch runs. */
  def snapshotDiffBatch(spark: SparkSession, batch: DataFrame,
      statePath: String, changelogPath: String, pk: Seq[String],
      compareCols: Seq[String] = Nil, batchId: Long = -1L): LoadResult = {
    val t0 = System.nanoTime()
    val target = new Path(statePath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastApplied = AtomicSwap.marker(fs, target, AggBatchMarker)
    if (batchId >= 0 && lastApplied.exists(batchId <= _))
      return LoadResult.since(t0, changelogPath, 0L)
    // batch-mode diffs (batchId < 0) must not REGRESS the marker — a
    // later streaming replay would re-diff against the advanced
    // snapshot and overwrite its changelog entry with an empty diff
    val markerValue = if (batchId >= 0) batchId else lastApplied.getOrElse(-1L)
    val prev =
      if (fs.exists(target))
        spark.read.parquet(statePath).select(batch.columns.map(col): _*)
      else batch.limit(0)
    val diff = graft.operators.ChangeDetection
      .snapshotDiff(prev, batch, pk, compareCols)
      .localCheckpoint() // materialize before the swap replaces prev's files
    val changes = diff.count()
    BatchDirs.write(diff, changelogPath, batchId)
    AtomicSwap.replace(fs, target, Seq(AggBatchMarker -> markerValue)) { side =>
      batch.write.mode("overwrite").parquet(side.toString)
    }
    LoadResult.since(t0, changelogPath, changes)
  }

  /** writeStream wiring for [[snapshotDiffBatch]] (checkpointed). */
  def snapshotDiffSink(stream: DataFrame, statePath: String,
      changelogPath: String, checkpoint: String, pk: Seq[String],
      compareCols: Seq[String] = Nil,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(snapshotDiffBatch(batch.sparkSession, batch, statePath,
        changelogPath, pk, compareCols, batchId))
    }

  /** writeStream wiring for [[kmvMergeBatch]] (checkpointed). */
  def kmvMergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], hashCol: String, k: Int,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(kmvMergeBatch(batch.sparkSession, batch, path, keyCols, hashCol, k,
        batchId))
    }

  /** Streaming GRID-FREE quantile state: fold each micro-batch's
    * per-key KLL sketch ([[graft.functions.KllSketchAgg]]) into the
    * stored serialized state — the percentile half the drift monitor
    * lacked: [[driftCountsSink]]/[[graft.operators.Quantiles.gridQuantiles]]
    * need bucket bounds DECLARED before the stream starts, so a
    * distribution that walks out of the declared grid saturates the
    * edge buckets; the sketch needs no grid at all. Merge is the
    * sketch union ([[graft.functions.KllMergeAgg]]) — deterministic
    * (no randomness in compaction), so replays converge bit-for-bit
    * via the fold marker, and state per key is O(k·log(n/k)) doubles
    * at ANY stream length. While a key has seen ≤ k values the stored
    * state is EXACT (the KllSpec-pinned regime); beyond, the
    * deterministic-compactor rank bound applies. Read quantiles at
    * any time with [[kllQuantilesState]]. */
  def kllMergeBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String], valueCol: String, k: Int,
      batchId: Long = -1L): LoadResult =
    foldBatchWith(spark, path, keyCols, batchId)(
      batch.groupBy(keyCols.map(col): _*).agg(
        graft.functions.NativeAgg.kllSketch(
          col(valueCol).cast("double"), k).as("kll"),
        // count what the sketch holds: null AND NaN are excluded
        count(when(col(valueCol).cast("double").isNotNull &&
          !isnan(col(valueCol).cast("double")), 1)).as("n_rows"))
    ) { (all, _) =>
      all.groupBy(keyCols.map(col): _*).agg(
        graft.functions.NativeAgg.kllMerge(col("kll"), k).as("kll"),
        sum(col("n_rows")).as("n_rows"))
    }

  /** writeStream wiring for [[kllMergeBatch]] (checkpointed). */
  def kllMergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], valueCol: String, k: Int,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(kllMergeBatch(batch.sparkSession, batch, path, keyCols, valueCol, k,
        batchId))
    }

  /** Grid-free drift SCORE over the [[kllMergeBatch]] state: two-sample
    * KS distance of each key's accumulated sketch against a reference
    * sketch frame (`ref`: keyCols + a `kll` binary column — typically a
    * training-corpus baseline built with the same aggregate). Runs over
    * the keys-sized state, no data rescan; exact while both sides are
    * exact-regime, rank-bounded beyond. The grid twin ([[ksAgainst]])
    * stays for pre-declared-bucket deployments. */
  def kllKsState(spark: SparkSession, path: String,
      keyCols: Seq[String], ref: DataFrame): DataFrame =
    spark.read.parquet(path)
      .select(keyCols.map(col) :+ col("kll"): _*)
      .join(ref.select(keyCols.map(col) :+ col("kll").as("__ref"): _*),
        keyCols)
      .select(keyCols.map(col) :+
        graft.functions.NativeAgg.kllKs(col("kll"), col("__ref"))
          .as("ks"): _*)

  /** Scoring half of [[kllMergeBatch]]: the accumulated per-key
    * quantiles at `qs` — (keys…, q, value) long form, read from the
    * keys-sized stored state, no data rescan. */
  def kllQuantilesState(spark: SparkSession, path: String,
      keyCols: Seq[String], qs: Seq[Double]): DataFrame = {
    val qArr = array(qs.map(lit): _*)
    spark.read.parquet(path)
      .select(keyCols.map(col) :+ posexplode(
        graft.functions.NativeAgg.kllStateQuantiles(col("kll"), qs))
        .as(Seq("__qi", "value")): _*)
      .select(keyCols.map(col) :+
        element_at(qArr, col("__qi") + 1).as("q") :+ col("value"): _*)
  }

  /** Streaming deletion-request sink: each micro-batch of keys (a
    * right-to-be-forgotten queue, a takedown feed) is applied to the
    * partitioned target via [[graft.operators.Merge.forgetKeys]] —
    * per-batch cost ∝ partitions containing matches — and every
    * batch's per-partition audit is APPENDED to `auditPath` with its
    * batchId (idempotent: a replayed batch overwrites its own
    * batch=<id> audit rows, and re-deleting already-deleted keys is a
    * no-op on the data). The audit table is the compliance ledger:
    * when was which partition scrubbed, how many rows went. */
  def forgetKeysSink(requests: DataFrame, tablePath: String,
      auditPath: String, checkpoint: String, keyCol: String,
      partitionCol: String,
      trig: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(requests, checkpoint, trig) { (batch, batchId) =>
        val audit = graft.operators.Merge.forgetKeys(batch.sparkSession,
          tablePath, batch, keyCol, partitionCol)
        audit.withColumn("batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch").parquet(auditPath)
      }

  /** Shared atomic fold: merge `partial` (keys + associative numeric
    * columns) into the stored totals at `path`, summing every non-key
    * column by name. Replay-idempotent via the batch marker; crash-safe
    * via the rename-rename swap (see [[aggMergeBatch]]'s doc).
    *
    * Exactness bound: totals accumulate in DecimalType(38,6), i.e.
    * |total| < 10^32 — unreachable for realistic revenue/count streams.
    * The merge requires ANSI mode (Spark 4's default) so that a sum
    * OVERFLOW fails the batch loudly; under legacy non-ANSI mode the
    * sum would silently return NULL and persist corrupt totals, which
    * is why the mode is asserted instead of worked around. */
  private def foldBatch(spark: SparkSession, path: String,
      keyCols: Seq[String], batchId: Long)(partial: DataFrame): LoadResult =
    foldBatchWith(spark, path, keyCols, batchId)(partial) { (all, sumCols) =>
      all.groupBy(keyCols.map(col): _*)
        .agg(sum(col(sumCols.head)).as(sumCols.head),
          sumCols.tail.map(c => sum(col(c)).as(c)): _*)
    }

  /** [[foldBatch]] with a caller-supplied merge aggregation for state
    * that folds by something other than a SUM (e.g. the KMV sketch's
    * k-smallest-of-union). `mergeAgg` receives base ∪ partial rows and
    * the non-key column names, and must return one row per key with
    * the same schema as the partial — associativity/commutativity of
    * the merge is the CALLER's contract (it is what makes replays and
    * arbitrary batch boundaries converge to the one-shot result). */
  private def foldBatchWith(spark: SparkSession, path: String,
      keyCols: Seq[String], batchId: Long)(partial: DataFrame)(
      mergeAgg: (DataFrame, Seq[String]) => DataFrame): LoadResult = {
    require(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean,
      "fold sinks require spark.sql.ansi.enabled=true: non-ANSI decimal " +
      "sum overflow yields NULL and would silently corrupt stored totals")
    val t0 = System.nanoTime()
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastApplied = AtomicSwap.marker(fs, target, AggBatchMarker)
    if (batchId >= 0 && lastApplied.exists(batchId <= _))
      return LoadResult.since(t0, path, 0L)
    // batch-mode folds (batchId < 0) must not REGRESS the marker: a
    // later streaming replay would otherwise re-fold and corrupt totals
    val markerValue = if (batchId >= 0) batchId else lastApplied.getOrElse(-1L)
    val sumCols = partial.columns.filterNot(keyCols.contains)
    val outRows = AtomicSwap.replace(fs, target,
        Seq(AggBatchMarker -> markerValue)) { side =>
      // by part files: the export manifest folds into `_manifest`
      val base =
        if (fs.exists(target)) graft.operators.Export.readFlat(spark, path)
        else partial.limit(0)
      // by-name union: if a caller reuses an existing table path with a
      // different column order (or a renamed measure), a positional union
      // would silently sum values into the wrong columns — unionByName
      // instead aligns matching names and FAILS on a schema mismatch
      mergeAgg(base.unionByName(partial), sumCols.toIndexedSeq)
        .write.mode("overwrite").parquet(side.toString)
      // count the WRITTEN files (footer metadata) before the swap — the
      // merged plan still references the old base directory and cannot
      // be re-executed once the rename replaces it
      graft.operators.Export.readFlat(spark, side.toString).count()
    }
    LoadResult.since(t0, path, outRows)
  }

  /** Streaming trending top-k: tumbling-window counts per item with
    * watermark eviction, and — per micro-batch — the CLOSED windows'
    * top-k items appended to `path`. Append output mode is what makes
    * the top-k correct: a window's counts are emitted exactly once,
    * all together, when the watermark passes its end, so the per-window
    * ranking never sees a partial window. Ranking goes through the
    * bounded-heap operator (k of potentially millions of items per
    * window, no sort); state is bounded by open windows × active items.
    */
  def trendingTopKSink(events: DataFrame, tsCol: String, itemCol: String,
      windowLen: String, watermarkDelay: String, k: Int, path: String,
      checkpoint: String,
      trig: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(!Set("window_start", "n_events", "rank").contains(itemCol),
      s"itemCol '$itemCol' collides with a sink output column")
    val counts = events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(itemCol))
      .agg(count(lit(1)).as("n_events"))
    foldSink(counts, checkpoint, trig) { (batch, batchId) =>
        // per-batch OVERWRITE into batch=<id> (the sink state
        // contract): a foreachBatch replay REPLACES its own output
        // instead of appending duplicate top-k rows. The ranked result
        // is persisted so the batch plan runs ONCE, then the emptiness
        // probe decides whether to write at all — watermark-only
        // batches that close no window would otherwise accumulate
        // unbounded empty batch=* directories under a continuous
        // trigger (compact old non-empty batches periodically with
        // [[compactBatchOutput]] on long-running queries).
        val flat = batch.select(
          col("window.start").as("window_start"), col(itemCol),
          col("n_events"))
        val ranked = graft.plans.TopK.perKey(flat, Seq("window_start"),
            Seq(graft.plans.TopK.desc("n_events"),
              graft.plans.TopK.asc(itemCol)), k)
          .persist()
        try {
          // empty batches skip the write once a COMMITTED batch dir
          // exists (debris without _SUCCESS must not count, or a replay
          // would skip the schema-establishing write and leave the path
          // unreadable); the first batch always writes (even empty) so
          // consumers can read the sink path with its schema instead
          // of hitting PATH_NOT_FOUND when no window has closed yet
          if (ranked.limit(1).count() > 0 ||
              BatchDirs.committed(batch.sparkSession, path).isEmpty)
            BatchDirs.write(ranked, path, batchId)
        } finally ranked.unpersist()
      }.outputMode("append")
  }

  /** Compact a per-batch-directory sink output ([[trendingTopKSink]],
    * [[nearDupDedupSink]]'s corpus/index): merge every committed
    * `batch=<id>` directory EXCEPT the newest into one directory
    * (named for the largest merged id), so a long-running continuously
    * triggered query does not accumulate unbounded small directories.
    * Merged dirs keep the `batch=<numeric id>` naming, so wholesale
    * reads, the partition-column dtype, and the sinks' restart guard
    * all see the layout they expect.
    *
    * Replay-safe by construction: Structured Streaming can only re-run
    * the batch at/after the newest committed one, and neither the
    * newest committed directory nor an uncommitted one is ever
    * touched — merged ids are strictly older, hence final. Crash-safe
    * via a manifest + rename protocol: the consolidated data is
    * written to a side directory, then a
    * `_compact_pending` manifest (target + source dir names) is
    * PUBLISHED into the root by atomic rename — only after that are any
    * source directories touched. Re-running compact() heals an
    * interrupted swap from the manifest; manifest presence alone proves
    * the merged copy was complete (no `_SUCCESS` gate — a committer
    * configured without success markers must not turn recovery into
    * discard). Run it from a maintenance task between micro-batches
    * (new directories appearing concurrently have larger ids and are
    * ignored). Returns the number of directories merged (0 = nothing
    * worth compacting). */
  def compactBatchOutput(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // suffix deliberately distinct from Warehouse.compact's "__compact":
    // running the small-files tool on the same path must never clobber
    // a crashed pending swap awaiting heal (or vice versa)
    val tmp = new Path(path + "__compactbatches")
    val manifest = new Path(root, "_compact_pending")
    // Swap the merged directory in. Ordering bounds what a reader racing
    // the maintenance window can observe: only the target-named source
    // is ever absent (one delete + one rename); the other sources stay
    // readable until the merged copy CONTAINING their rows is in place,
    // after which they are transiently duplicated, never missing. The
    // manifest outlives the rename, so a crash at any point here resumes
    // on the next call (every step is a no-op once its effect exists).
    def swapIn(target: String, sources: Seq[String]): Unit = {
      val targetPath = new Path(root, target)
      if (fs.exists(tmp)) {
        if (fs.exists(targetPath))
          AtomicSwap.checked(fs.delete(targetPath, true), "delete source", targetPath)
        AtomicSwap.checked(fs.rename(tmp, targetPath), "rename merged dir", targetPath)
      }
      sources.filter(_ != target).foreach { d =>
        val p = new Path(root, d)
        if (fs.exists(p)) AtomicSwap.checked(fs.delete(p, true), "delete source", p)
      }
      AtomicSwap.checked(fs.delete(manifest, false), "retire manifest", manifest)
    }
    if (fs.exists(manifest)) {
      // interrupted swap — finish it (the manifest is only published
      // after the merged write completed, by atomic rename, so it can
      // never be half-written or name an incomplete side dir)
      val in = fs.open(manifest)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      require(lines.size >= 2, s"corrupt compaction manifest $manifest: $lines")
      swapIn(lines.head, lines.tail)
    } else if (fs.exists(tmp)) {
      // merged write that never published a manifest: no source was
      // touched, the side copy is unaccounted — discard and restart
      AtomicSwap.checked(fs.delete(tmp, true), "discard unpublished side dir", tmp)
    }
    val ids = BatchDirs.committed(spark, path)
    val sources = ids.dropRight(1) // newest dir is never touched
    if (sources.size < 2) return 0
    val targetDir = s"batch=${sources.last}"
    // explicit leaf paths: no partition discovery, so the consolidated
    // files carry the same columns as every other batch dir
    val union = spark.read.parquet(
      sources.map(i => s"$path/batch=$i"): _*)
    union.write.mode("overwrite").parquet(tmp.toString)
    // publish the manifest atomically: write under a side name, close,
    // rename — a crash mid-write leaves only the .inprogress file
    // (underscore-prefixed, ignored by readers, overwritten next run)
    val pending = new Path(root, "_compact_pending.inprogress")
    val out = fs.create(pending, true)
    try out.write(
      (targetDir +: sources.map(i => s"batch=$i"))
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    AtomicSwap.checked(fs.rename(pending, manifest), "publish manifest", manifest)
    swapIn(targetDir, sources.map(i => s"batch=$i"))
    sources.size
  }

  /** Exact dedup of `docs` on md5(`textCol`) against the persisted
    * fingerprint index at `indexPath` (column `fp`): first-wins (lowest
    * id) within the batch, then an anti-join against every other
    * committed batch's fingerprints. Kept rows carry theirs as `__fp`. */
  private def exactDedupVsIndex(docs: DataFrame, idCol: String,
      textCol: String, indexPath: String, batchId: Long): DataFrame = {
    val fp = docs.withColumn("__fp", md5(col(textCol)))
    val firsts = fp.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    val inBatch = fp.join(firsts, Seq("__fp", idCol), "left_semi")
    BatchDirs.read(docs.sparkSession, indexPath, batchId).fold(inBatch) { idx =>
      inBatch.join(idx.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    }
  }

  /** The incremental MinHash near-dedup stage: the increment's
    * signatures, LSH candidates among them and against the persisted
    * signature index at `sigPath`, Jaccard verification of the
    * candidates, and the [[greedyDrops]] rule. Returns the increment's
    * signatures and the ids to drop, both checkpointed. The signatures
    * are deterministic, so leaving out this batch's own prior attempt
    * only changes which greedy direction a replay takes, never the set.
    *
    * Candidate ids are batch-bounded (the LSH collisions of ONE
    * increment), so they are collected once: no candidates means
    * nothing to verify, and otherwise they are pushed into the read of
    * the survivor corpus at `corpusPath` as an In filter, so parquet
    * row-group stats skip everything else and verification I/O tracks
    * the candidate set, not the accumulated corpus. The literal list is
    * capped; a collision storm falls back to the plain scan
    * (verifyJaccard still semi-join-narrows the shingling either way). */
  private def nearDupDrops(docs: DataFrame, idCol: String, textCol: String,
      sigPath: String, corpusPath: String, batchId: Long, shingleSize: Int,
      threshold: Double, bands: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val texts = docs.select(col(idCol), col(textCol))
    val newSigs = Dedup.minhashSignatures(texts, idCol, textCol, shingleSize)
      .localCheckpoint()
    val indexSigs = BatchDirs.read(spark, sigPath, batchId)
      .map(_.select(col(idCol), col("sig")))
    val cands = Dedup.incrementalCandidatePairs(newSigs,
      indexSigs.getOrElse(newSigs.limit(0)), idCol, bands).localCheckpoint()
    val ids = cands.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct().limit(100001).collect().map(_.get(0))
    val drops =
      if (ids.isEmpty) newSigs.select(col(idCol)).limit(0)
      else {
        val verify = indexSigs.flatMap(_ => BatchDirs.read(spark, corpusPath, batchId))
          .fold(texts) { old =>
            val rows = old.select(col(idCol), col(textCol))
            texts.unionByName(
              if (ids.length <= 100000) rows.filter(col(idCol).isInCollection(ids.toSeq))
              else rows)
          }
        val pairs = Dedup.verifyJaccard(verify, cands, idCol, textCol,
          shingleSize, threshold)
        greedyDrops(pairs, indexSigs.getOrElse(newSigs.limit(0)).select(col(idCol)),
          idCol).localCheckpoint()
      }
    (newSigs, drops)
  }

  /** The greedy old-wins near-dup drop rule. `pairs` are canonical
    * (id_a < id_b) and each involves at least one doc of the increment:
    * if id_b is indexed (old), id_a is the new doc and drops; otherwise
    * id_b is new and drops. So an indexed doc always survives, and
    * within the batch the lowest id does. */
  private def greedyDrops(pairs: DataFrame, oldIds: DataFrame,
      idCol: String): DataFrame =
    pairs
      .join(oldIds.select(col(idCol).as("id_b"), lit(true).as("__indexed")),
        Seq("id_b"), "left")
      .select(when(col("__indexed"), col("id_a")).otherwise(col("id_b")).as(idCol))
      .distinct()

  /** The one writeStream wiring of every sink here: the checkpoint, the
    * trigger, and `batchFn` run on each micro-batch with its id. */
  private def foldSink(stream: DataFrame, checkpoint: String, trig: Trigger)(
      batchFn: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trig)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batchFn(batch, batchId)
      }

  /** Streaming EXACT-n GLOBAL SAMPLE: maintain, across every
    * micro-batch ever folded, the `n` hash-smallest rows by
    * [[graft.operators.Sampling.hash60]] of `keyCol` — exactly the
    * rows [[graft.operators.Sampling.exactSample]] would pick from the
    * full history in one shot (spec-pinned bit-identical), because
    * "n smallest of the union" is an associative, commutative,
    * idempotent fold (the KMV-sketch argument applied to whole rows).
    * Every property of the batch sampler carries over: deterministic
    * on any arrival order, nested samples (the fold at n' < n is a
    * prefix), leak-free key-hash membership. State is n FULL rows
    * regardless of stream volume — the eval-set / human-review-queue
    * sampler a 100 TB ingest needs (a rate-based sampler's output
    * grows with the stream; a naive reservoir is arrival-order-
    * dependent and irreproducible). Keys must be unique per entity
    * (re-deliveries of a key with CHANGED payload tie arbitrarily —
    * dedup upstream, as for exactSample itself). Replay-idempotent
    * via the shared fold marker + atomic swap. */
  def sampleMergeBatch(spark: SparkSession, batch: DataFrame,
      path: String, keyCol: String, n: Int,
      batchId: Long = -1L): LoadResult = {
    import graft.operators.Sampling
    foldBatchWith(spark, path, Seq(keyCol), batchId)(
      Sampling.exactSample(batch, keyCol, n)) { (all, _) =>
      Sampling.exactSample(all, keyCol, n)
    }
  }

  /** writeStream wiring for [[sampleMergeBatch]] (checkpointed). */
  def exactSampleSink(stream: DataFrame, path: String, checkpoint: String,
      keyCol: String, n: Int,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(sampleMergeBatch(batch.sparkSession, batch, path, keyCol, n, batchId))
    }

  /** writeStream wiring for [[aggMergeBatch]] (checkpointed). */
  def aggMergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], measureCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(aggMergeBatch(batch.sparkSession, batch, path, keyCols, measureCol,
        batchId))
    }

  /** writeStream wiring for [[statsMergeBatch]] (checkpointed). */
  def statsMergeSink(stream: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], measureCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(statsMergeBatch(batch.sparkSession, batch, path, keyCols, measureCol,
        batchId))
    }

  /** writeStream wiring for the merge sink (checkpointed — C1). Each
    * micro-batch's [[graft.core.LoadResult]] is delivered to `onLoad`
    * (S8 load reporting, reference `base.py:62-69`).
    *
    * NOTE: this whole-table form is the SMALL-table sink (dims, control
    * tables). The documented default for fact-sized tables is
    * [[partitionedMergeSink]], whose per-batch cost tracks the delta. */
  def mergeSink(stream: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], versionCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    upsertSink(stream, path, checkpoint, keys, versionCol, None, trig, onLoad)

  /** EXACTLY-ONCE streaming warehouse load over JDBC (the S8 streaming
    * half; reference `operators.py:336-378` loads fire-and-forget):
    * each micro-batch lands via
    * [[graft.sources.JdbcSource.writeExactlyOnce]] — executor-parallel
    * stage write, then one driver transaction committing the rows AND
    * the `(batch_id, rows)` ledger row together. Micro-batch replays
    * (crash between the DB commit and Spark's checkpoint commit) hit
    * the ledger and skip, so the warehouse table is byte-identical
    * under any replay schedule. With `mergeKeys` the load is a keyed
    * UPSERT (delete-then-insert inside the same ledger transaction —
    * the reference's declared warehouse upsert, `design.md:171-181`);
    * each micro-batch must then carry one row per key, so re-delivered
    * source events are collapsed to the latest per key first. */
  def jdbcExactlyOnceSink(stream: DataFrame,
      cfg: graft.sources.JdbcSourceConfig, checkpoint: String,
      trig: Trigger = Trigger.AvailableNow(),
      mergeKeys: Seq[String] = Nil,
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
      onLoad(graft.sources.JdbcSource.writeExactlyOnce(batch, cfg, batchId,
        mergeKeys))
    }

  /** Streaming twin of [[graft.operators.Merge.mergeIntoPartitioned]]:
    * each micro-batch rewrites only the partitions it touches. This is
    * the sink a 100 TB fact table actually runs — per-batch cost scales
    * with the delta, not the table. */
  def partitionedMergeSink(stream: DataFrame, path: String,
      checkpoint: String, keys: Seq[String], versionCol: String,
      partitionCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    upsertSink(stream, path, checkpoint, keys, versionCol, Some(partitionCol),
      trig, onLoad)

  /** The one body of both merge sinks. The micro-batch is persisted
    * once: foreachBatch hands over an uncached frame, and the core's
    * planning aggregate and its write would each re-run the batch's
    * source scan and any stateful step upstream (dedup state store).
    * The aggregate materializes it, the write reads it back. */
  private def upsertSink(stream: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], versionCol: String, partitionCol: Option[String],
      trig: Trigger,
      onLoad: LoadResult => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, _) =>
      val cached = batch.persist()
      try onLoad(Merge.upsert(batch.sparkSession, path, cached, keys,
        col(versionCol), partitionCol))
      finally cached.unpersist()
    }

  /** Validated sink (Q7 at stream time): each micro-batch splits into
    * valid rows → the target table and rejects (with reason tags) → the
    * quarantine table, in ONE pass over the batch
    * ([[graft.validation.Rules.quarantineSplit]]). Mirrors design.md's
    * quarantine declaration; the reference only drops invalid rows. */
  def validatedSink(stream: DataFrame, targetPath: String,
      quarantinePath: String, checkpoint: String,
      rules: Seq[graft.validation.Rules.Rule],
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, _) =>
        val t0 = System.nanoTime()
        // persist once: the split + two writes + two accounting counts
        // would otherwise re-evaluate the batch (and every rule
        // predicate) up to four times
        val cached = batch.persist()
        try {
          val (valid, rejects) =
            graft.validation.Rules.quarantineSplit(cached, rules)
          valid.write.mode("append").parquet(targetPath)
          rejects.write.mode("append").parquet(quarantinePath)
          // rowsLoaded = THIS batch's rows that reached the target; the
          // quarantine tally rides in errorMessage so one LoadResult
          // reports the whole split (both counts are micro-batch-sized)
          val loaded = valid.count()
          val rejected = rejects.count()
          onLoad(LoadResult.since(t0, targetPath, loaded,
            errorMessage =
              if (rejected > 0) Some(s"quarantined: $rejected") else None))
        } finally cached.unpersist()
      }

  /** Streaming twin of the ingest quality gate
    * ([[graft.validation.QualityGate]], reference `validators.py:80-84` +
    * `extractors.py:111-117`): each micro-batch is validated with ONE
    * fused aggregation; a batch that breaches the thresholds is diverted
    * WHOLE to the reject path (the reference raises NonRetryableError —
    * here the stream keeps running and the bad batch is preserved for
    * replay instead of lost). Per-batch verdicts stream to `onGate`. */
  def qualityGatedSink(stream: DataFrame, targetPath: String,
      rejectPath: String, checkpoint: String,
      schema: graft.core.TableSchema,
      thresholds: graft.validation.QualityThresholds,
      trig: Trigger = Trigger.AvailableNow(),
      onGate: (Long, Seq[String]) => Unit = (_, _) => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        // persist once: emptiness probe + fused validation + the write
        // are three consumers of the same micro-batch
        val cached = batch.persist()
        try {
          if (!cached.isEmpty) {
            val (_, breaches) = graft.validation.QualityGate
              .evaluate(cached, schema, Seq.empty, thresholds)
            onGate(batchId, breaches)
            if (breaches.nonEmpty && thresholds.failOnBreach)
              cached.write.mode("append").parquet(rejectPath)
            else
              cached.write.mode("append").parquet(targetPath)
          }
        } finally cached.unpersist()
      }

  // Sink-epoch guard shared by the accumulate-by-batch index sinks: a
  // tiny `_sink_epoch` marker beside the corpus records WHICH
  // checkpoint feeds it. The batch-directory guard (batchId == 0 but
  // committed batches exist) has a blind window — checkpoint lost
  // after exactly ONE ingested batch=0 — where a restarted stream's
  // own batch 0 silently overwrites the original ingest; the marker
  // catches it on every batch, not just id 0. Underscore-prefixed so
  // parquet readers never see it; written via scratch+rename so a
  // reader never observes a torn marker; NOT copied by
  // compaction/retrain (both publish a fresh corpus), so a deliberate
  // fresh checkpoint after either is allowed. Split into a validate
  // half (batch start) and a commit half (after the batch's data
  // lands) — see each method's contract.

  /** Canonical form of a checkpoint location for epoch comparison:
    * fs-qualified URI via the path's OWN filesystem (the checkpoint may
    * live on a different scheme than the corpus). The same logical
    * checkpoint spelled differently across restarts — trailing slash,
    * `file://` scheme vs bare path, relative vs absolute — must not
    * falsely trip the guard and permanently block a healthy stream.
    * Applied to BOTH sides of the comparison, so markers persisted by
    * older builds (raw spelling) still compare correctly. */
  private def canonicalEpoch(fs: org.apache.hadoop.fs.FileSystem,
      checkpoint: String): String = {
    val p = new Path(checkpoint)
    p.getFileSystem(fs.getConf).makeQualified(p).toUri.toString
  }

  private def readEpochMarker(fs: org.apache.hadoop.fs.FileSystem,
      marker: Path): String = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def epochMismatch(sinkName: String, corpusDir: Path,
      rec: String, checkpoint: String): IllegalStateException =
    new IllegalStateException(
      s"$sinkName: $corpusDir was fed by checkpoint '$rec' but this " +
        s"stream runs from '$checkpoint' — the checkpoint was lost " +
        "or replaced. Restore it, or compact/rebuild the index and " +
        "start a fresh checkpoint.")

  /** Validate-only half of the epoch guard — runs at BATCH START,
    * before anything is overwritten. Throws when the corpus was fed by
    * a different checkpoint; silently passes when no marker exists yet
    * (the first successful batch commits it — [[sinkEpochCommit]]). */
  private def sinkEpochCheck(fs: org.apache.hadoop.fs.FileSystem,
      corpusDir: Path, checkpoint: String, sinkName: String): Unit = {
    val marker = new Path(corpusDir, "_sink_epoch")
    if (fs.exists(marker)) {
      val rec = readEpochMarker(fs, marker)
      if (canonicalEpoch(fs, rec) != canonicalEpoch(fs, checkpoint))
        throw epochMismatch(sinkName, corpusDir, rec, checkpoint)
    }
  }

  /** Create-if-absent half — runs AFTER the batch's data landed, so a
    * stream that dies on its very first batch before writing anything
    * leaves no marker and a deliberate fresh-checkpoint restart is not
    * poisoned with a misleading 'checkpoint was lost'. A failed rename
    * is never swallowed: the marker is re-read and validated (another
    * writer's identical marker is fine), and if it cannot be
    * established at all the batch fails loudly — a silently inactive
    * guard is the bug this method exists to prevent. */
  private def sinkEpochCommit(fs: org.apache.hadoop.fs.FileSystem,
      corpusDir: Path, checkpoint: String, sinkName: String): Unit = {
    val marker = new Path(corpusDir, "_sink_epoch")
    if (!fs.exists(marker)) {
      val canon = canonicalEpoch(fs, checkpoint)
      val tmp = new Path(corpusDir, "_sink_epoch__tmp")
      val out = fs.create(tmp, true)
      try out.write(canon.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, marker)) {
        fs.delete(tmp, true)
        if (!fs.exists(marker))
          throw new IllegalStateException(
            s"$sinkName: could not persist the _sink_epoch marker at " +
              s"$marker — the checkpoint-loss guard would be silently " +
              "inactive for this corpus")
        val rec = readEpochMarker(fs, marker)
        if (canonicalEpoch(fs, rec) != canon)
          throw epochMismatch(sinkName, corpusDir, rec, checkpoint)
      }
    }
  }

  /** Streaming IVF index ingest: append new embedding vectors to a
    * persisted [[graft.similarity.Similarity.saveIndex]] index as they
    * arrive. The expensive global step (KMeans training) ran once at
    * index build; each micro-batch only ASSIGNS its vectors to the
    * frozen centroids — a map-only projection against the
    * driver-small centroid list — and appends them under
    * `corpus/batch=<id>/cluster=<c>/`, so a replayed batch overwrites
    * exactly its own directory (the repo-wide idempotent batch=id
    * layout) and [[graft.similarity.Similarity.loadIndex]] keeps
    * reading the union. Per-batch cost ∝ batch size; the existing
    * corpus is never rescanned or rewritten. Centroid drift is handled
    * the way production ANN systems do: serve on frozen centroids,
    * rebuild the index out of band when recall decays. */
  def ivfIngestSink(stream: DataFrame, indexPath: String,
      checkpoint: String, idCol: String, vecCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = stream.sparkSession
    val (base, centroids) =
      graft.similarity.Similarity.loadIndex(spark, indexPath)
    // a SPILL index ([[graft.similarity.Similarity.kmeansIndex]] with
    // nAssign > 1) carries a `cells` column; ingested batches must
    // match its assignment multiplicity or search would silently
    // null-fill their cells and the dedup predicate would drop them.
    // Probe defensively: the corpus may be empty (fresh index) or mix
    // in single-assignment batches with NULL cells (the tolerated
    // mixed-index shape) — take the max over non-null rows, default 1
    val nAssign =
      if (base.columns.contains("cells"))
        base.filter(col("cells").isNotNull)
          .agg(max(size(col("cells")))).head() match {
          case r if r.isNullAt(0) => 1
          case r => math.max(1, r.getInt(0))
        }
      else 1
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        val corpus = s"$indexPath/corpus"
        BatchDirs.guardRestart(batch.sparkSession, "ivfIngestSink", corpus, batchId)
        val fs = new Path(corpus).getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        sinkEpochCheck(fs, new Path(corpus), checkpoint, "ivfIngestSink")
        // ONE read of the micro-batch source: the assignment projection
        // and the reported row count both come off this checkpoint — a
        // trailing batch.count() would re-read the source and could
        // disagree with what was actually written
        val b = batch.localCheckpoint()
        try {
          val assigned =
            if (nAssign == 1)
              b.select(col(idCol), col(vecCol),
                element_at(graft.similarity.Similarity.nearestCentroids(
                  col(vecCol), centroids, 1), 1).as("cluster"))
            else
              b.select(col(idCol), col(vecCol),
                  graft.similarity.Similarity.nearestCentroids(
                    col(vecCol), centroids, nAssign).as("cells"))
                .withColumn("cluster", explode(col("cells")))
          BatchDirs.write(assigned, corpus, batchId, "cluster")
          sinkEpochCommit(fs, new Path(corpus), checkpoint, "ivfIngestSink")
          onLoad(LoadResult.since(t0, corpus, b.count()))
        } finally org.apache.spark.sql.GraftShims.unpersistCheckpoint(b)
      }
  }

  /** Streaming PQ-index ingest — the IVFADC twin of [[ivfIngestSink]]:
    * each micro-batch of embedding vectors is assigned + PQ-encoded
    * with the LIVE [[graft.similarity.PqIndex]] artifacts (one
    * map-only projection — the quantizers are driver-small integer
    * literals) and landed under `corpus/batch=<id>/cluster=<c>/` via
    * [[graft.similarity.PqIndex.append]]. Per-batch cost ∝ batch size;
    * the existing codes are never rescanned or rewritten; a replayed
    * batch overwrites exactly its own directory. Artifact drift is the
    * watchdog's job: schedule [[graft.similarity.PqIndex.maintain]]
    * beside this sink — its retrain re-encodes the full corpus into a
    * fresh generation and the atomic swap retires the batch
    * directories (so the sink re-reads `meta/` EVERY batch rather than
    * closing over stale artifacts). */
  def pqIndexIngestSink(stream: DataFrame, indexPath: String,
      checkpoint: String, idCol: String, vecCol: String,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        val corpus = s"$indexPath/corpus"
        BatchDirs.guardRestart(spark, "pqIndexIngestSink", corpus, batchId)
        // sink-epoch marker: closes the residual one-batch window the
        // batch-directory guard above cannot see (checkpoint lost after
        // exactly one ingested batch=0 → the restarted stream's batch 0
        // would silently overwrite it). The marker records which
        // checkpoint feeds this corpus; retrain/compaction publish a
        // fresh generation without it, so a deliberate fresh checkpoint
        // after either is allowed.
        val fs = new Path(corpus).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        sinkEpochCheck(fs, new Path(corpus), checkpoint, "pqIndexIngestSink")
        // append returns the count actually written (footer read-back):
        // a second batch.count() here would re-read the micro-batch
        // source and could disagree with what was encoded
        val n = graft.similarity.PqIndex.append(spark, indexPath, batch,
          idCol, vecCol, batchId)
        sinkEpochCommit(fs, new Path(corpus), checkpoint, "pqIndexIngestSink")
        onLoad(LoadResult.since(t0, corpus, n))
      }

  /** Streaming entity resolution — incremental record linkage against
    * the accumulated feed (the MDM twin of [[nearDupDedupSink]]'s
    * content dedup).
    *
    * Per micro-batch: a slim projection of the new records (id + the
    * match fields only — the 16-bytes-per-record contract the sibling
    * sinks' indexes follow) joins the ACCUMULATED slim store through
    * [[graft.er.EntityResolution.incrementalCandidatePairs]] (the
    * increment is always the small join side, so per-batch cost ∝
    * increment × block width, never old×old), candidates score with
    * the integer agreement weights, and links at/above threshold land
    * in `linksPath/batch=<id>`; the slim records land in
    * `recordsPath/batch=<id>`. Both writes are idempotent per batchId
    * and both reads exclude the batch's own prior attempt, so a
    * crash-replay equals a fresh run.
    *
    * Entity FINALIZATION is read-side — [[erGoldenState]] runs
    * connectedComponents + survivorship over the accumulated links +
    * records. That is deliberate: a new record can BRIDGE two
    * previously-distinct entities, so any eagerly-materialized
    * entity_id column would need retroactive rewrites of prior batch
    * files (breaking the idempotent batch=id ownership). Links are
    * append-only facts; entities are a view. This is the
    * log-structured-MDM contract, and it makes streamed == batch
    * equivalence exact: the union of per-batch incremental links IS
    * the batch link set (every pair is emitted exactly once, when its
    * LATER record arrives).
    *
    * `maxBlockSize` caveat — the cap is evaluated AT ARRIVAL TIME:
    * each batch measures block sizes over the store as of that batch,
    * so a pair emitted while its block was under the cap remains a
    * persisted fact even if the block later grows past it, whereas a
    * one-shot batch run over the final feed would skip the oversized
    * block entirely. The streamed==batch equivalence is therefore
    * exact only for feeds whose blocks never cross the cap mid-stream
    * (the cap is a degenerate-blocking-key safety valve, not a
    * semantic filter — a block that big means the blocking key needs
    * fixing, see `EntityResolution.blockProfile`). */
  def erLinkSink(stream: DataFrame, recordsPath: String, linksPath: String,
      checkpoint: String, idCol: String, nameCol: String, segCol: String,
      balCol: String, hardBlock: Seq[String],
      passes: Seq[graft.er.EntityResolution.BlockingPass],
      scoring: graft.er.EntityResolution.ErScoring =
        graft.er.EntityResolution.ErScoring(),
      maxBlockSize: Int = 10000,
      trig: Trigger = Trigger.AvailableNow(),
      onLoad: LoadResult => Unit = _ => ()): DataStreamWriter[org.apache.spark.sql.Row] =
    foldSink(stream, checkpoint, trig) { (batch, batchId) =>
        import graft.er.EntityResolution
        val t0 = System.nanoTime()
        val spark = batch.sparkSession
        val slimCols = (Seq(idCol, nameCol, segCol, balCol) ++ hardBlock)
          .distinct
        BatchDirs.guardRestart(spark, "erLinkSink", recordsPath, batchId)
        val newSlim = batch.select(slimCols.map(col): _*).localCheckpoint()
        val oldSlim = BatchDirs.read(spark, recordsPath, batchId)
          .map(_.select(slimCols.map(col): _*)).getOrElse(newSlim.limit(0))
        val all = newSlim.unionByName(oldSlim)
        val cands = EntityResolution.incrementalCandidatePairs(
          all, newSlim, idCol, hardBlock, passes, maxBlockSize)
        val links = EntityResolution.matchLinks(
          EntityResolution.scorePairs(cands, all, idCol, nameCol, segCol,
            balCol, scoring), scoring)
        // a replay re-derives in-batch links; new-old links of PRIOR
        // batches already sit in their own batch dirs and are excluded
        // from neither side here (pairs need >=1 new id) — emit-once
        // holds because old-old pairs are never generated
        BatchDirs.write(links, linksPath, batchId)
        BatchDirs.write(newSlim, recordsPath, batchId)
        onLoad(LoadResult.since(t0, recordsPath, newSlim.count()))
      }

  /** Incrementally-maintained component assignment over
    * [[erLinkSink]]'s append-only link batches: the persisted
    * (id, cluster_id) table at `componentsPath` is brought current by
    * folding ONLY the link batches newer than its marker through
    * [[graft.dedup.Dedup.mergeComponents]] — per-refresh closure cost
    * ∝ links since the last fold (root-graph of the delta), never the
    * full link history. The fold is crash-safe (rename-rename atomic
    * swap; the marker rides inside the new directory) and replay-safe
    * (batch ids at/below the marker are partition-pruned out). A
    * from-scratch [[graft.dedup.Dedup.connectedComponents]] over all
    * links remains the bootstrap (first fold) and repair path. Returns
    * the current assignment. */
  def erComponentsRefresh(spark: SparkSession, linksPath: String,
      componentsPath: String, idCol: String): DataFrame = {
    import graft.dedup.Dedup
    val target = new Path(componentsPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastApplied = AtomicSwap.marker(fs, target, AggBatchMarker).getOrElse(-1L)
    val pending = BatchDirs.committed(spark, linksPath).filter(_ > lastApplied)
    val hasState = fs.exists(target)
    if (pending.isEmpty) {
      // the _-prefixed marker file is invisible to the parquet reader
      if (hasState) return spark.read.parquet(componentsPath)
      // no state AND no committed batches: derive an empty assignment
      // with the LINKS' id type (a fabricated LongType frame would
      // break callers with non-long ids); unreadable linksPath fails
      // loudly here, which is the right answer for this state
      else return spark.read.parquet(linksPath)
        .select(col("id_a").as(idCol), col("id_a").as("cluster_id"))
        .limit(0)
    }
    // partition-pruned AND commit-gated: read exactly the _SUCCESS-
    // committed batch ids — `batch > lastApplied` alone would scan an
    // in-flight batch directory the sink is still writing
    val newLinks = spark.read.parquet(linksPath)
      .filter(col("batch").isin(pending.map(Long.box): _*))
      .select(col("id_a"), col("id_b"))
    // carry the full-closure watermark ([[erComponentsCompact]]) across
    // the swap, or every incremental refresh would reset the
    // links-since-compaction clock to "never compacted"
    val closureMark = AtomicSwap.marker(fs, target, ClosureLinksMarker)
      .map(ClosureLinksMarker -> _)
    AtomicSwap.replace(fs, target,
        (AggBatchMarker -> pending.max) +: closureMark.toSeq) { side =>
      val merged =
        if (hasState)
          Dedup.mergeComponents(
            spark.read.parquet(componentsPath), newLinks, idCol)
        else Dedup.connectedComponents(newLinks, idCol)
      merged.write.mode("overwrite").parquet(side.toString)
    }
    spark.read.parquet(componentsPath)
  }

  private val ClosureLinksMarker = "_closure_links"

  /** Periodic FULL-CLOSURE compaction for the incrementally-maintained
    * ER component view — the maintenance half of
    * [[erComponentsRefresh]], mirroring [[compactBatchOutput]]'s
    * run-between-micro-batches protocol. The incremental fold is exact,
    * but a view that only ever folds deltas (a) re-baselines never —
    * its worst-case repair path after any doubt is a manual rebuild —
    * and (b) leaves the links directory growing one `batch=<id>`
    * directory per micro-batch forever (listing cost at 100 TB scale).
    * This call, when at least `minNewLinks` link rows have arrived
    * since the last full closure (parquet metadata count — no scan):
    *  1. recomputes the assignment from scratch over ALL committed link
    *     batches ([[graft.dedup.Dedup.connectedComponents]], the
    *     documented bootstrap/repair path) and atomically swaps it in,
    *     carrying the batch marker forward plus a `_closure_links`
    *     watermark of the link count it covered;
    *  2. merges the closed link batch directories via
    *     [[compactBatchOutput]] — safe exactly HERE because the fresh
    *     closure's marker equals the newest committed id, so no merged
    *     directory can ever be re-read by a later refresh.
    * Both assignments are canonical (cluster_id = min member id), so
    * the view is IDENTICAL before and after (spec-pinned); only the
    * storage layout and the trust baseline change. Threshold rationale:
    * full closure costs one pass over all links, the incremental fold
    * costs ∝ delta — amortize by compacting every ~table-sized batch
    * of new links, the same log-vs-base trade as
    * [[graft.operators.Merge.compactVersions]]. Returns true when
    * compaction ran, false when below threshold / nothing committed. */
  def erComponentsCompact(spark: SparkSession, linksPath: String,
      componentsPath: String, idCol: String,
      minNewLinks: Long = 10000000L): Boolean = {
    import graft.dedup.Dedup
    val target = new Path(componentsPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchIds = BatchDirs.committed(spark, linksPath)
    if (batchIds.isEmpty) return false
    val allLinks = spark.read.parquet(linksPath)
      .filter(col("batch").isin(batchIds.map(Long.box): _*))
      .select(col("id_a"), col("id_b"))
    // count over the committed partitions only — row-group-metadata
    // cheap, and the same frame feeds the closure below if we proceed
    val totalLinks = allLinks.count()
    val lastClosure = AtomicSwap.marker(fs, target, ClosureLinksMarker)
      .getOrElse(0L)
    if (fs.exists(target) && totalLinks - lastClosure < minNewLinks)
      return false
    AtomicSwap.replace(fs, target, Seq(AggBatchMarker -> batchIds.max,
        ClosureLinksMarker -> totalLinks)) { side =>
      Dedup.connectedComponents(allLinks, idCol)
        .write.mode("overwrite").parquet(side.toString)
    }
    // directory hygiene AFTER the closure is live: every link batch is
    // now at/below the marker, so merging them can never be re-read
    compactBatchOutput(spark, linksPath)
    true
  }

  /** Golden-record view over [[erLinkSink]]'s accumulated state:
    * component assignment over the persisted links (edge count ∝
    * matches, not corpus) + survivorship over the slim records.
    * Identical output to batch [[graft.er.EntityResolution.run]] on
    * the same feed.
    *
    * With `componentsPath` set, the assignment is MAINTAINED
    * incrementally ([[erComponentsRefresh]]): each view refresh pays
    * closure cost ∝ links since the previous refresh instead of a
    * full connectedComponents over all links ever — the difference
    * between a view and a recompute at 10⁹-record MDM scale. Without
    * it, the full closure runs per read (correct, stateless). */
  def erGoldenState(spark: SparkSession, recordsPath: String,
      linksPath: String, idCol: String, nameCol: String, segCol: String,
      balCol: String, componentsPath: Option[String] = None): DataFrame = {
    import graft.er.EntityResolution
    val records = spark.read.parquet(recordsPath).drop("batch")
    val hasLinks = BatchDirs.committed(spark, linksPath).nonEmpty
    val assigned = componentsPath match {
      case Some(cp) if hasLinks =>
        val comp = erComponentsRefresh(spark, linksPath, cp, idCol)
        records.join(
            comp.withColumnRenamed("cluster_id", "entity_id"),
            Seq(idCol), "left")
          .withColumn("entity_id", coalesce(col("entity_id"), col(idCol)))
      case _ =>
        val links =
          if (hasLinks) spark.read.parquet(linksPath).drop("batch")
          else records.limit(0)
            .select(col(idCol).as("id_a"), col(idCol).as("id_b"))
        EntityResolution.resolve(records, links, idCol)
    }
    EntityResolution.goldenRecords(assigned, idCol, nameCol, segCol, balCol)
  }

  /** E6: per-query input-row metrics via a listener (the reference's
    * extraction stats under lock, `extractors.py:318-336`). */
  class MetricsListener extends StreamingQueryListener {
    private val rows =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()
    private val batches =
      new java.util.concurrent.ConcurrentHashMap[String, Long]()

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
      rows.merge(name, e.progress.numInputRows, (a, b) => a + b)
      batches.merge(name, 1L, (a, b) => a + b)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    def inputRows(name: String): Long = rows.getOrDefault(name, 0L)
    def batchCount(name: String): Long = batches.getOrDefault(name, 0L)
  }
}
