package graft.queries

import graft.text.{Bm25, Curation, Dsir, LmScore, QualityClassifier, QualityModelFixture, TextFunctions, UrlOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over `documents`: language ID, quality
  * features/scoring, token statistics, document fingerprinting — all
  * expression-only so a 100 TB corpus pass stays inside whole-stage
  * codegen with no UDF boundary. */
object TextQueries extends QueryPack {

  /** Language ID by stopword voting, compared against the declared lang
    * column (agreement flag included — the synthetic corpus is
    * English-vocabulary regardless of its label, which the heuristic
    * honestly reports). */
  def txLangId(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("declared_lang"),
        TextFunctions.langId(col("text")).as("predicted_lang"))
      .withColumn("agrees", col("declared_lang") === col("predicted_lang"))
      .orderBy(col("doc_id"))

  /** Per-doc quality features + a composite score: token-length band
    * weight × distinct-token ratio (C4/Gopher-style filters). */
  def txQuality(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.qualityFeatures(col("text")).as("f"))
      .select(col("doc_id"),
        col("f.n_chars").as("n_chars"),
        col("f.n_tokens").as("n_tokens"),
        col("f.chars_per_token").as("chars_per_token"),
        col("f.distinct_token_ratio").as("distinct_token_ratio"),
        col("f.n_punct").as("n_punct"))
      .withColumn("quality_score",
        when(col("n_tokens").between(20, 80), lit(1.0)).otherwise(lit(0.5))
          * col("distinct_token_ratio"))
      .orderBy(col("doc_id"))

  /** Per-doc repetition profile: total vs distinct 3-grams and the
    * duplicated-occurrence fraction ([[TextFunctions.repetitionScore]])
    * — the Gopher repetition filter as a one-projection scan. */
  def txRepetition(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        greatest(TextFunctions.tokenCount(col("text")) - 2, lit(0))
          .as("n_ngrams"),
        size(TextFunctions.tokenShingles(col("text"), 3)).as("n_distinct"),
        TextFunctions.repetitionScore(col("text"), 3).as("repetition"))
      .orderBy(col("doc_id"))

  /** Corpus token statistics: frequency + doc-frequency of the 20 most
    * common tokens (explode → two-level aggregate). */
  def txTokenStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      // (token, doc) pre-aggregate first: `countDistinct(doc_id)` on the
      // exploded stream triggers the Expand rewrite, which DOUBLES every
      // exploded row before the shuffle — on a 100 TB corpus that is the
      // dominant cost. Two cascaded exact aggregates move strictly less:
      // the first combines map-side, the second sees one row per
      // (token, doc). Same exact answer.
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("token"))
      .agg(sum(col("__n")).as("freq"), count(lit(1)).as("doc_freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)

  /** Per-doc token counting: whitespace tokens + BPE-ish subword units.
    * tokens_per_100_chars is an exact int/int ratio → deterministic. */
  def txTokenCount(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        (TextFunctions.tokenCount(col("text")).cast(DoubleType) * 100.0 /
          length(col("text")).cast(DoubleType)).as("tokens_per_100_chars"))
      .orderBy(col("doc_id"))

  /** Tokenizer-EXACT token accounting ([[graft.functions.Bpe]]): per
    * doc, the committed BPE artifact's token count AND an md5 pin of
    * the full token sequence — the oracle replays the merge loop
    * independently in a recursive CTE ([[BpeOracleSql]]), so a single
    * mis-merged word anywhere in the corpus fails the row. */
  def txBpeTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).as("n_tokens"),
        md5(concat_ws(" ", TextFunctions.bpeTokens(col("text"))))
          .as("toks_md5"))
      .orderBy(col("doc_id"))

  /** Distributed BPE TRAINING end-to-end
    * ([[graft.text.BpeTrain.trainDistributed]]): 12 merge rounds where
    * each round's pair count is one Spark aggregate over the
    * distributed (symbols, freq) dictionary — the driver holds only
    * the 12 winning pairs and the alphabet. Result rows pin the FULL
    * training trajectory (each merge's pair + its corpus frequency at
    * selection time) and the final vocab layout; the oracle replays
    * the same rounds unrolled as materialized DuckDB CTEs. */
  def txBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, vocab) = graft.text.BpeTrain.trainDistributed(
      table(s, dir, "documents"), "text", nMerges = 12)
    val mergeRows = merges.zipWithIndex.map { case ((l, r, f), i) =>
      ("merge", i, l, r, l + r, f)
    }
    val vocabRows = vocab.zipWithIndex.map { case (sym, i) =>
      ("vocab", i, "", "", sym, 0L)
    }
    (mergeRows ++ vocabRows)
      .toDF("kind", "rank", "lhs", "rhs", "sym", "freq")
  }

  /** Document fingerprint: minimum MD5 over 5-token shingles
    * (winnowing-lite, engine-portable because MD5 is standard). */
  def txFingerprint(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.minShingleFingerprint(col("text"), 5).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: docs outside the reference slice
    * (source src0 stands in for "the eval set") whose content
    * fingerprint collides with it. The reference-side fingerprint set is
    * distinct-projected and BROADCAST (eval sets are small by nature);
    * the corpus streams through a left-semi join — no shuffle of corpus
    * rows, the standard shape for train/test-overlap sweeps. */
  def txContamination(s: SparkSession, dir: String): DataFrame = {
    val fp = table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.minShingleFingerprint(col("text"), 5).as("fp"))
    val reference = fp.filter(col("source") === "src0")
      .select(col("fp")).distinct()
    fp.filter(col("source") =!= "src0")
      .join(broadcast(reference), Seq("fp"), "left_semi")
      .select(col("doc_id"), col("source"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** N-gram decontamination ([[graft.text.Boilerplate.ngramContamination]]):
    * corpus docs (sources != src0) counted by how many of their distinct
    * 5-gram spans also occur in the src0 "eval set" — catches the copied
    * paragraph the whole-document fingerprint (tx_contamination) misses. */
  def txNgramContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.text.Boilerplate.ngramContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  /** Near-match decontamination APPLIED
    * ([[graft.text.Boilerplate.ngramDecontaminate]], the GPT-3 8-gram
    * convention): every corpus doc (sources != src0) with its keep
    * verdict against the src0 "eval set" — kept = 1 iff the doc shares
    * NO verbatim 8-gram with src0. The stricter sibling of
    * tx_contamination (whole-doc fingerprints) and tx_ngram_contamination
    * (overlap counts, detect-only): this is the drop rule a flagship
    * pipeline actually applies. */
  def txDecontaminateNear(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val kept = graft.text.Boilerplate.ngramDecontaminate(
        corpus, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", n = 8)
      .select(col("doc_id"), lit(1).as("kept"))
    corpus.select(col("doc_id"), col("source"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("kept"), lit(0)).cast(IntegerType).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Contamination REPORT
    * ([[graft.text.Boilerplate.contaminationReport]]): the eval-set
    * owner's audit — for each src0 doc that leaked into the corpus
    * (sources != src0), the number of corpus docs sharing a 5-gram
    * with it and the number of its distinct 5-grams exposed. The
    * detect/drop siblings answer "is my corpus clean"; this answers
    * "which of MY benchmark documents are compromised, and how much of
    * each" — n = 5 to match tx_ngram_contamination's sensitivity. */
  def txContaminationReport(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.text.Boilerplate.contaminationReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
      .withColumnRenamed("eval_id", "eval_doc_id")
      .orderBy(col("eval_doc_id"))
  }

  /** Term-blocklist gate ([[graft.text.Curation.blocklistHits]], the
    * C4 "bad words" step): whole-token case-insensitive hits against a
    * config-sized list, pass = zero hits. The oracle replays the token
    * filter; CurationSpec pins the literal spelling == the broadcast
    * join spelling for large lists. */
  def txBlocklist(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    val terms = Seq("slow", "Lorem", "ipsum")
    table(s, dir, "documents")
      .select(col("doc_id"),
        Curation.blocklistHits(col("text"), terms).as("n_hits"),
        Curation.blocklistPassed(col("text"), terms).cast(IntegerType)
          .as("passed"))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus report: the mixture dashboard a curation run
    * ends with — doc counts, token totals, mean doc length, distinct
    * content ratio. One scan, one tiny aggregate. */
  def txCorpusStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
        (sum(TextFunctions.tokenCount(col("text")).cast("long")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mean_tokens"))
      .orderBy(col("source"))

  /** TF-IDF-lite top terms per document: score = tf·N/df with the log
    * dropped, so the score is ONE IEEE division of exact integers —
    * bit-identical across engines (ln() is libm-dependent and would
    * break hash comparison on near-ties). vocabulary-side (df) is tiny
    * → broadcast; the only big shuffle is the (doc, term) aggregate. */
  def txTfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.TopK
    val docs = table(s, dir, "documents")
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("score",
        (col("tf") * lit(n)).cast(DoubleType) / col("df").cast(DoubleType))
    // per-doc top-3 through the heap operator (no per-doc sort)
    TopK.perKey(scored, Seq("doc_id"),
        Seq(TopK.desc("score"), TopK.asc("term")), k = 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The deterministic dirty-text synthesis both redaction queries
    * share (the raw corpus has no PII): one planted instance of every
    * scrub shape per doc. */
  private def redactDirtyCol: Column = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@example.com or "),
    lit("https://example.org/doc/"), col("doc_id"),
    lit(" call +1 (555) 123-4567 or 555-867-5309 from 192.168.1."),
    (col("doc_id") % 250).cast("string"),
    lit(" v6 fe80:0db8:85a3:0001:0000:8a2e:0370:7334 ssn 078-05-1120"))

  /** PII scrubbing over a synthetic-augmented corpus: emails/URLs are
    * planted deterministically (the raw corpus has none), then redacted;
    * output proves the redaction and the md5 of the scrubbed text. */
  def txRedact(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("dirty", redactDirtyCol)
      .select(col("doc_id"),
        TextFunctions.redact(col("dirty")).as("clean"))
      .withColumn("clean_md5", md5(col("clean")))
      .withColumn("has_email", col("clean").rlike("@"))
      .withColumn("fully_scrubbed",
        !col("clean").rlike("@|://|[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}|" +
          "([0-9]{1,3}\\.){3}[0-9]{1,3}|([0-9A-Fa-f]{1,4}:){3}|" +
          "[0-9]{3}-[0-9]{2}-[0-9]{4}"))
      .orderBy(col("doc_id"))

  /** Redaction AUDIT — the release report a scrubbing pass owes its
    * operator: per placeholder type, how many redactions were made
    * corpus-wide and how many documents carried at least one.
    * Counting is placeholder-occurrence arithmetic over the SCRUBBED
    * text (length difference div token length — no second regex pass),
    * one aggregate over one projection. */
  def txRedactAudit(s: SparkSession, dir: String): DataFrame = {
    val types = TextFunctions.RedactionTokens
    val cleaned = table(s, dir, "documents")
      .withColumn("dirty", redactDirtyCol)
      .select(TextFunctions.redact(col("dirty")).as("clean"))
    val aggCols = types.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(expr(s"(length(clean) - length(replace(clean, '$t', ''))) " +
          s"div ${t.length}")).as(s"__c$i"),
        sum(col("clean").contains(t).cast(LongType)).as(s"__d$i"))
    }
    cleaned.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(types.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("pii_type"), col(s"__c$i").as("n_redactions"),
          col(s"__d$i").as("n_docs"))
      }: _*)).as("s"))
      .select(col("s.pii_type").as("pii_type"),
        col("s.n_redactions").as("n_redactions"),
        col("s.n_docs").as("n_docs"))
      .orderBy(col("pii_type"))
  }

  /** Dedup-grade normalization ([[TextFunctions.normalizeText]]):
    * lowercase → strip punctuation → collapse whitespace, plus the
    * md5 of the normalized form (what exact dedup would key on) and
    * how many raw docs collapse per normalized form. */
  def txNormalize(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("dirty", concat(lit("  "), col("text"),
        lit("!!  Extra,  SPACES. "), col("doc_id")))
      .select(col("doc_id"),
        TextFunctions.normalizeText(col("dirty")).as("norm"))
      .withColumn("norm_md5", md5(col("norm")))
      .select(col("doc_id"), col("norm_md5"),
        length(col("norm")).as("norm_len"))
      .orderBy(col("doc_id"))

  /** Corpus-frequent 5-gram spans (boilerplate candidates): every span
    * shared by ≥3 documents with its document frequency. One shuffle on
    * the span; within-doc dedup happens map-side (`array_distinct`
    * before the explode), so plain `count` IS document frequency. */
  def txBoilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    graft.text.Boilerplate
      .frequentSpans(table(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 3L)
      .orderBy(col("doc_freq").desc, col("span"))

  /** Per-document boilerplate contamination: fraction of a doc's
    * distinct spans that are corpus-frequent. The frequency aggregate
    * and the span join share one hash-partitioning on `span`. */
  def txBoilerplateRatio(s: SparkSession, dir: String): DataFrame =
    graft.text.Boilerplate
      .boilerplateRatio(table(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 3L)
      .orderBy(col("doc_id"))

  /** Gopher repetition metrics ([[graft.text.Curation.repetitionFeatures]],
    * App. A1.2 line/paragraph half) + pass flag. The fixture is
    * single-line, so the text is re-segmented deterministically and
    * each doc's FIRST line is appended once more — every doc then
    * carries a real within-doc duplicate line for the metrics to
    * measure. Map-side projection; integer counts, final divides. */
  def txGopherRepetition(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    val seg = segmentLines(col("text"))
    val t2 = concat(seg, lit("\n"), substring_index(seg, "\n", 1))
    table(s, dir, "documents")
      .select(col("doc_id"), Curation.repetitionFeatures(t2).as("f"))
      .select(col("doc_id"),
        col("f.dup_line_frac").as("dup_line_frac"),
        col("f.dup_line_char_frac").as("dup_line_char_frac"),
        col("f.dup_para_frac").as("dup_para_frac"),
        col("f.dup_para_char_frac").as("dup_para_char_frac"),
        Curation.repetitionPassed(col("f")).as("rep_passed"))
      .orderBy(col("doc_id"))
  }

  /** Top n-gram character fraction
    * ([[graft.text.Curation.topNgramCharFrac]], the n-gram half of
    * Gopher A1.2): per (doc, n ∈ {2,3,4}) the most frequent gram and
    * the character share of its occurrences — deterministic tie-break
    * pinned by the oracle's identical ORDER BY. */
  def txTopNgram(s: SparkSession, dir: String): DataFrame =
    graft.text.Curation
      .topNgramCharFrac(table(s, dir, "documents"), "doc_id", "text",
        ns = Seq(2, 3, 4))
      .orderBy(col("doc_id"), col("n"))

  /** Duplicated-span coverage ([[graft.text.Boilerplate.dupSpanCoverage]]):
    * per document, how many token positions sit inside a 5-gram that
    * also occurs in another document — the Lee et al. 2021
    * exact-substring-dedup signal. Integer counts, one final divide. */
  def txDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.text.Boilerplate
      .dupSpanCoverage(table(s, dir, "documents"), "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))

  /** Exact-substring span removal ([[graft.text.Boilerplate.removeDupSpans]]):
    * the rewrite that [[txDupSpans]] only measures — every cross-doc
    * 5-gram keeps its corpus-first occurrence, later occurrences'
    * token positions are deleted, docs reassembled space-joined. The
    * full rewritten text is md5-pinned per document. */
  def txDupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.text.Boilerplate.removeDupSpans(docs, "doc_id", "text", n = 5)
      .select(col("doc_id"), md5(col("text")).as("clean_md5"),
        graft.text.TextFunctions.tokenCount(
          when(col("text") === "", lit(null))
            .otherwise(col("text"))).cast("long").as("kept_tokens"))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Variable-length exact-substring dedup
    * ([[graft.text.Boilerplate.removeDupRuns]], Lee et al. 2021 §4):
    * adjacent duplicated 5-gram positions merge into maximal runs and
    * only runs of ≥ 8 tokens are deleted — the incidental shared
    * 5-gram survives, the copied passage goes. Same md5-pinned
    * reporting as [[txDupSpanRemoval]]; the oracle replays the run
    * merge with the identical lag + running-sum window. */
  def txDupRunRemoval(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.text.Boilerplate.removeDupRuns(docs, "doc_id", "text",
        n = 5, minRun = 8)
      .select(col("doc_id"), md5(col("text")).as("clean_md5"),
        graft.text.TextFunctions.tokenCount(
          when(col("text") === "", lit(null))
            .otherwise(col("text"))).cast("long").as("kept_tokens"))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking: 32-token windows stepping by 24 (8-token
    * overlap) — the training-data chunker. Chunks are reported as
    * (doc, idx, md5, token count) so the result stays scalar-typed;
    * chunking itself is map-side, the only shuffle is the final sort. */
  def txChunkWindows(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("__n"),
        posexplode(TextFunctions.chunkTokens(col("text"), 32, 24))
          .as(Seq("chunk_idx", "chunk")))
      // chunk length from the window arithmetic — re-tokenizing each
      // chunk would run a second regex pass over ~size/stride × the text
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("chunk_md5"),
        least(lit(32), col("__n") - col("chunk_idx") * 24).cast("int")
          .as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Cross-source overlap matrix ([[graft.dedup.Dedup.sourceOverlapMatrix]]):
    * distinct content fingerprints shared per source pair, with each
    * side's total and the Jaccard overlap — how much of any two crawls
    * is the same content before they're mixed into a training set. */
  def txSourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.sourceOverlapMatrix(
        table(s, dir, "documents").withColumn("fp",
          TextFunctions.minShingleFingerprint(col("text"), 5)),
        "source", "fp")
      .orderBy(col("source_a"), col("source_b"))

  /** Gopher document-quality filter ([[graft.text.Curation]], Rae et
    * al. 2021 App. A1.1): every heuristic emitted as a column (the
    * metric VALUES are oracle-pinned, not just the verdict) plus the
    * composite pass flag. Fixture calibration: the paper's 50-token
    * minimum splits this corpus near its median; the stop-word minimum
    * drops to 1 (the synthetic vocabulary carries only "the"). */
  def txGopherFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    table(s, dir, "documents")
      .select(col("doc_id"), Curation.gopherFeatures(col("text")).as("f"))
      .select(col("doc_id"), col("f.n_tokens"), col("f.mean_word_len"),
        col("f.symbol_ratio"), col("f.alpha_word_ratio"),
        col("f.n_stop_words"), col("f.bullet_ratio"), col("f.ellipsis_ratio"),
        Curation.gopherPassed(col("f"), minTokens = 50, minStopWords = 1)
          .cast("int").as("passed"))
      .orderBy(col("doc_id"))
  }

  /** C4 line-level cleaning ([[graft.text.Curation]], Raffel et al.
    * 2020 §2.2). The fixture is single-line punctuation-free word
    * salad, so the query first segments each doc deterministically —
    * a sentence break after every "table" token — giving the line
    * rules real structure; the cleaned text is md5-pinned. */
  def txC4Clean(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Curation
    val docs = table(s, dir, "documents")
      .withColumn("t2", segmentLines(col("text")))
    docs.filter(!Curation.c4DocDrop(col("t2")))
      .select(col("doc_id"),
        size(split(col("t2"), "\n", -1)).cast("long").as("n_lines"),
        Curation.c4CleanedText(col("t2"), minWords = 3).as("clean"))
      .filter(col("clean") =!= "")
      .select(col("doc_id"), col("n_lines"),
        size(split(col("clean"), "\n", -1)).cast("long").as("n_lines_kept"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end curation funnel — the composed pipeline a training
    * corpus actually runs, with per-stage survivor counts: Gopher
    * quality gate → C4 line cleaning → exact dedup on the CLEANED text
    * → deterministic 50% sample. Each stage is the library operator
    * (same parameters as its standalone query); the oracle recomputes
    * the whole funnel independently, pinning the composition, not just
    * the parts. Every stage is a filter/map over the previous (filters
    * first — cheapest volume reduction ahead of the dedup shuffle). */
  def txCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    // stage-survival FLAGS, map-side, instead of one filtered frame per
    // stage: a per-stage `df.agg(count)` union re-scans the source once
    // per stage (5× read amplification at corpus scale). Here the
    // total/gopher/c4 counts are one conditional-sum aggregate over a
    // single scan; the dedup branch filters to c4 survivors FIRST (its
    // shuffle sees minimum volume) and yields dedup+sample counts in
    // one aggregate. The five rows explode from the joined 1×1 results.
    val flagged = Curation.gateFlags(table(s, dir, "documents"), "text",
      minTokens = 50, minStopWords = 1, segment = segmentLines)
    Curation.stageTable(Curation.gateCounts(flagged)
        .crossJoin(dedupSampleCounts(flagged)),
      Seq("total", "gopher", "c4", "exact_dedup", "sampled"))
  }

  /** The funnels' shared tail over the c4 survivors of a
    * [[graft.text.Curation.gateFlags]] frame: exact dedup on the cleaned
    * text, then the deterministic 50% sample, counted in one aggregate.
    * The dedup window partitions by md5(clean) over survivors only, so
    * the failed rows' empty-clean hub never reaches the exchange. */
  private def dedupSampleCounts(flagged: DataFrame): DataFrame = {
    import graft.operators.Sampling
    graft.dedup.Dedup.exactByContent(
        flagged.filter(col(Curation.gateFlag("c4"))),
        "doc_id", "clean")
      .agg(count(lit(1)).as("exact_dedup"),
        // same predicate as Sampling.deterministicSample(_, "doc_id", 0.5)
        sum((Sampling.hashBucket(col("doc_id")) <
          (0.5 * Sampling.Buckets).toLong).cast("long")).as("sampled"))
  }

  /** Model-gated curation funnel: the DCLM-style composition — Gopher
    * rule gate → C4 line cleaning → the COMMITTED quality model scoring
    * the CLEANED text → exact dedup on surviving cleaned text. Same
    * one-scan flag discipline as [[txCurationFunnel]] for the map-side
    * stages; the model stage is the classifier's one bounded-broadcast
    * scoring pass over c4 survivors only (filters first — the scoring
    * shuffle sees minimum volume). Cleaned docs with fewer than two
    * tokens have no features and fail the gate (absent from scoring —
    * the shared convention, replayed by the oracle). */
  def txFunnelModel(s: SparkSession, dir: String): DataFrame = {
    val flagged = Curation.gateFlags(table(s, dir, "documents"), "text",
      minTokens = 50, minStopWords = 1, segment = segmentLines)
    val kept = Curation.modelGate(
      flagged.filter(col(Curation.gateFlag("c4")))
        .select(col("doc_id"), col("clean")),
      "doc_id", "clean", QualityModelFixture.weightsQ,
      QualityModelFixture.biasQ, QualityModelFixture.buckets)
    val exact = graft.dedup.Dedup.exactByContent(kept, "doc_id", "clean")
    Curation.stageTable(Curation.gateCounts(flagged).crossJoin(
        Curation.survivorCounts(Seq("model" -> kept, "exact_dedup" -> exact))),
      Seq("total", "gopher", "c4", "model", "exact_dedup"))
  }

  /** Deterministic HTML synthesis over `documents` (both engines build
    * the IDENTICAL markup by concatenation — the word-salad corpus has
    * no HTML metachars, so no escaping divergence): title + style +
    * script (with embedded `<`, `{`, quotes — the traps naive
    * stripping falls into), a comment, h1/p/div blocks from token
    * slices, an entity, an inline span. */
  private def synthHtmlCol = {
    val toks = split(col("text"), "\\s+")
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style type=\"text/css\">p { color: #333; }</style>" +
        "<script>if (1 < 2) { x = \"y\"; }</script></head><body><!-- id "),
      id,
      lit(" --><h1>"), concat_ws(" ", slice(toks, 1, 4)),
      lit("</h1><p>"), concat_ws(" ", slice(toks, 5, 8)),
      lit(" &amp; more.</p><div class=\"x\">"),
      concat_ws(" ", slice(toks, 13, 8)),
      lit("</div><br/><span>tail "), id,
      lit("</span></body></html>"))
  }

  /** HTML → text extraction ([[graft.text.Html.extractText]]): the
    * pre-curation step raw crawls need — comments/script/style dropped
    * (including embedded `<` and `{` inside code), block tags →
    * newlines, inline tags → spaces, entities decoded, lines
    * whitespace-normalized. The full extracted text is md5-pinned; the
    * oracle replays the identical regex chain in DuckDB. */
  def txHtmlExtract(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("html", synthHtmlCol)
      .withColumn("__x", graft.text.Html.extractText(col("html")))
      .select(col("doc_id"), md5(col("__x")).as("clean_md5"),
        size(split(col("__x"), "\n", -1)).cast("long").as("n_lines"),
        length(col("__x")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** The HTML-first curation funnel — raw markup through extraction
    * into the standard pipeline, with per-stage survivor counts:
    * extract → Gopher gate (short-doc thresholds for the ~26-token
    * extracted pages) → C4 line cleaning on the extracted lines →
    * exact dedup on cleaned text → deterministic 50% sample. Same
    * one-scan flag discipline as [[txCurationFunnel]]; the oracle
    * recomputes every stage including the extraction itself. */
  def txHtmlFunnel(s: SparkSession, dir: String): DataFrame = {
    // the html flag is not a stage here: a page extracting to nothing
    // fails the Gopher gate anyway, so `gopher` counts the same docs
    val flagged = Curation.gateFlags(
      table(s, dir, "documents").withColumn("html", synthHtmlCol), "html",
      minTokens = 20, minStopWords = 1, html = true)
    Curation.stageTable(Curation.gateCounts(flagged)
        .crossJoin(dedupSampleCounts(flagged)),
      Seq("total", "gopher", "c4", "exact_dedup", "sampled"))
  }

  /** The COMPLETE pretraining-data pipeline, end to end, with
    * per-stage survivor counts — the flagship composition a corpus
    * team would actually run, every stage the library operator with
    * its standalone query's parameters:
    *
    * blocklist gate → language gate (stopword vote == en) → Gopher
    * quality gate → C4 line cleaning →
    * committed-model quality gate → exact dedup on cleaned text →
    * MinHash near-dedup (5-gram Jaccard ≥ 0.8, transitive, lowest id
    * survives) → decontamination against the src0 "eval set"
    * (whole-document fingerprints) → NEAR-MATCH decontamination
    * (any shared 8-gram with the eval set, the GPT-3 convention —
    * [[graft.text.Boilerplate.ngramDecontaminate]]) → deterministic
    * 50% sample → BPE-exact 2048-token sequence packing.
    *
    * Filters run cheapest-first so every shuffle (scoring, dedup
    * pairs, packing) sees minimum volume; the oracle recomputes ALL
    * stages independently — including the MinHash pair closure
    * and the BPE merge loop over the surviving cleaned text — pinning
    * the full composition. The near-dedup stage drops ZERO docs on
    * this fixture and the oracle agrees exactly: C4 cleaning collapses
    * the fixture's near-duplicates into byte-identical cleaned text,
    * so the exact stage catches them first — the stage here pins the
    * no-false-positive side; the positive regime is d2/d5's. */
  private case class PretrainChain(flagged: DataFrame, modelKept: DataFrame,
      exact: DataFrame, near: DataFrame, decon: DataFrame,
      deconNear: DataFrame, sampled: DataFrame)

  /** The batch flagship's stage chain — ONE spelling shared by the
    * stage-count query (tx_pretrain_pipeline) and the per-document
    * provenance ledger (tx_pretrain_ledger), so the two can never
    * drift. Frames come back with the measured stage-boundary
    * `localCheckpoint`s in place (Catalyst would otherwise re-derive
    * the whole gopher/c4/score/dedup chain once per downstream
    * aggregate — measured 6.9 s → ~2 s at sf0.1). The first boundary
    * materializes the corpus-wide FLAGS frame (round 16): `flagged` is
    * itself read again by both query tails, so checkpointing below it
    * (survivors only) re-ran the gates scan once per query. */
  private def pretrainChain(s: SparkSession, dir: String): PretrainChain = {
    val docs = table(s, dir, "documents")
    // frequency-threshold spelling of the gate (maxHits = 2 over a
    // multi-term list) so the blocklist stage actually gates the
    // fixture WITHOUT re-removing the planted duplicates — the
    // whole-token rare-term spelling ("dup") took out exactly the
    // duplicate family and left the dedup stages nothing to do. The
    // list matches tx_blocklist's production-shaped terms: hit counts
    // ACCUMULATE across terms, exercising the maxHits path for real
    // (lorem/ipsum docs spend their 2-hit allowance on one phrase).
    val terms = Seq("slow", "Lorem", "ipsum")
    // The checkpoint sits on the slim FLAGS frame, not on the survivors
    // projection: both queries read the stage flags again downstream
    // (the pipeline's head aggregate, the ledger's outcome projection),
    // and a survivors-only checkpoint forced that read to re-run the
    // whole gates scan — blocklist, langId, gopher, segment, c4Clean
    // over every document, the chain's single most expensive pass
    // (probe: 1.3 s warm at sf0.1, paid TWICE per query). Payload stays
    // survivors-sized where it matters: `clean` is masked to NULL for
    // dropped docs (never read for them — the only consumers of clean
    // are survivor frames), so the extra cost over the old checkpoint
    // is four booleans per corpus row (guide §1.2 step 1 / §2.4).
    val gated = Curation.gateFlags(docs, "text", minTokens = 50,
      minStopWords = 1, blocklist = Some((terms, 2L)), lang = Some("en"),
      segment = segmentLines)
    val flagged = gated.select((Seq("doc_id", "source") ++
        Curation.gatesOf(gated).map(Curation.gateFlag) :+ "clean").map(col): _*)
      .localCheckpoint()
    val modelKept = Curation.modelGate(
      flagged.filter(col(Curation.gateFlag("c4")))
        .select(col("doc_id"), col("source"), col("clean")),
      "doc_id", "clean", QualityModelFixture.weightsQ,
      QualityModelFixture.biasQ, QualityModelFixture.buckets)
    val exact = graft.dedup.Dedup.exactByContent(modelKept, "doc_id", "clean")
      .localCheckpoint()
    val pairs = graft.dedup.Dedup.minhashNearDuplicates(exact, "doc_id",
      "clean", shingleSize = 5, threshold = 0.8)
    val near = graft.dedup.Dedup.removeNearDuplicatesTransitive(
      exact, pairs, "doc_id").localCheckpoint()
    val evalFps = docs.filter(col("source") === "src0")
      .select(TextFunctions.minShingleFingerprint(col("text"), 5).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    val decon = near
      .withColumn("__fp", TextFunctions.minShingleFingerprint(col("clean"), 5))
      .join(broadcast(evalFps), Seq("__fp"), "left_anti")
      .drop("__fp")
    // near-match pass AFTER the exact-fingerprint one: the exact stage
    // is a 16-byte-per-doc broadcast anti-join (cheap, catches verbatim
    // copies); only its survivors pay the 8-gram shingle explode
    val deconNear = graft.text.Boilerplate.ngramDecontaminate(
        decon, "doc_id", "clean",
        docs.filter(col("source") === "src0"), "text", n = 8)
      .localCheckpoint()
    val sampled = graft.operators.Sampling.deterministicSample(
      deconNear, "doc_id", 0.5)
    PretrainChain(flagged, modelKept, exact, near, decon, deconNear, sampled)
  }

  def txPretrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val c = pretrainChain(s, dir)
    // the six post-gate survivor counts are ONE aggregate over a union
    // of stage-tagged rows (the ledger's round-15 reach pattern, guide
    // §2.4), not six count subtrees with a crossJoin arm each
    val tail = Curation.survivorCounts(Seq("model" -> c.modelKept,
      "exact_dedup" -> c.exact, "near_dedup" -> c.near,
      "decontaminated" -> c.decon, "decon_near" -> c.deconNear,
      "sampled" -> c.sampled))
    val bCount = graft.operators.Sampling.packSequences(c.sampled, "source",
        "doc_id", TextFunctions.bpeTokenCount(col("clean")), 2048L)
      .select(col("source"), col("batch_id")).distinct()
      .agg(count(lit(1)).as("batches"))
    Curation.stageTable(
      Curation.gateCounts(c.flagged).crossJoin(tail).crossJoin(bCount),
      graft.streaming.Streams.PretrainStages)
  }

  /** Per-document curation PROVENANCE — the "why was this document
    * dropped" ledger a production curation pipeline owes its users
    * (data audits, filter debugging, takedown verification): each
    * document's FIRST failed flagship stage, or `kept`. Built from the
    * SAME [[pretrainChain]] frames as the stage-count query, so ledger
    * and counts cannot disagree; the oracle pins every individual
    * routing decision (500 per-doc verdicts), not just the totals.
    * Scale: one flags scan plus id-projection joins that shrink down
    * the chain — the ledger costs one extra join pass over 8-byte doc
    * ids per stage, never a recompute of the stages themselves. */
  def txPretrainLedger(s: SparkSession, dir: String): DataFrame = {
    val c = pretrainChain(s, dir)
    // The chain frames are NESTED SUBSETS by construction — each stage
    // filters its predecessor (exact ⊆ modelKept, near ⊆ exact,
    // decon ⊆ near, deconNear ⊆ decon, sampled ⊆ deconNear) — so
    // "first failed stage" ≡ "deepest stage reached", and ONE
    // union + max aggregate + ONE membership join replaces the six
    // per-stage doc_id joins the ledger used to pay (round 15, guide
    // §2.4: the same small-side shuffle repeated six times is five
    // removable exchanges; SCALE.md prices the tail).
    val reached = Seq(c.modelKept, c.exact, c.near, c.decon,
        c.deconNear, c.sampled)
      .zipWithIndex.map { case (df, i) =>
        df.select(col("doc_id"), lit(i + 1).as("__st"))
      }.reduce(_.union(_))
      .groupBy(col("doc_id")).agg(max(col("__st")).as("__reach"))
    def failed(gate: String) = !col(Curation.gateFlag(gate))
    c.flagged.drop("source", "clean")
      .join(reached, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(failed("blocklist"), "blocklist")
          .when(failed("lang"), "lang")
          .when(failed("gopher"), "gopher")
          .when(failed("c4"), "c4")
          .when(col("__reach").isNull, "model")
          .when(col("__reach") === 1, "exact_dedup")
          .when(col("__reach") === 2, "near_dedup")
          .when(col("__reach") === 3, "decontaminated")
          .when(col("__reach") === 4, "decon_near")
          .when(col("__reach") === 5, "sampled")
          .otherwise("kept").as("outcome"))
      .orderBy(col("doc_id"))
  }

  /** THE STREAMING FLAGSHIP as an oracle row
    * ([[graft.streaming.Streams.pretrainPipelineSink]]): the fixture
    * splits into THREE doc_id-ordered micro-batches, streams through
    * the real checkpointed composition — every gate, both dedup stages
    * against their persisted indexes, both decontamination passes, the
    * sample, and offset-carried packing — and the accumulated stage
    * counts are read back. The oracle is VERBATIM the batch flagship's
    * (`tx_pretrain_pipeline`): pinning both queries to one independent
    * recomputation IS the streamed == batch equivalence claim. The
    * driver-side split materialization is batch-fixture plumbing (the
    * MemoryStream feed), not an operator pattern — the sink itself
    * only ever sees micro-batches. */
  def txPretrainStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // fixture plumbing (the MemoryStream feed, adjudicated r13): ONE
    // ordered collect split at the same id boundaries driver-side —
    // the old spelling paid four corpus jobs (max agg + three
    // filter+sort+collect passes) for byte-identical micro-batches
    val all = docs.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val maxId = if (all.isEmpty) 0L else all.last._1
    val splits = Seq(
      all.filter(_._1 <= maxId / 3),
      all.filter(t => t._1 > maxId / 3 && t._1 <= 2 * maxId / 3),
      all.filter(_._1 > 2 * maxId / 3))
    val work = java.nio.file.Files
      .createTempDirectory("graft_stream_flagship").toString
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.Streams.pretrainPipelineSink(
        input.toDF().toDF("doc_id", "source", "text"),
        s"$work/state", s"$work/cp", "doc_id", "source", "text",
        evalDocs = docs.filter(col("source") === "src0"),
        evalTextCol = "text",
        blocklistTerms = Seq("slow", "Lorem", "ipsum"),
        segment = segmentLines,
        trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    // materialize the 12 stage rows (a local checkpoint outlives the
    // files it was read from), then DELETE the temp state — this query
    // runs repeatedly (bench attempts + oracle gate) and leaking a
    // corpus+checkpoint per invocation would accumulate in /tmp. The
    // cleanup sits in `finally` blocks so a failed streaming run or
    // stats read cannot leak the tree either.
    try {
      try splits.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      graft.streaming.Streams
        .pretrainPipelineStages(s, s"$work/state").localCheckpoint()
    } finally graft.core.AtomicSwap.deleteRecursively(new java.io.File(work))
  }

  /** Preference-pair construction ([[graft.text.Sft.preferencePairs]],
    * DPO/RLHF reward-data prep): deterministic candidate synthesis —
    * prompt_id = doc_id % 100 (≈5 candidate responses per prompt),
    * response = tokens 9..16, score = response character length (a
    * deterministic quality proxy; production plugs in the model or LM
    * scorers) — then argmax/argmin pairing with tie-breaks pinned and
    * zero-margin prompts dropped. The oracle replays the synthesis and
    * both rankings. */
  def txSftPrefPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val cand = table(s, dir, "documents")
      .select((col("doc_id") % 100).as("prompt_id"),
        concat_ws(" ", slice(toks, 9, 8)).as("response"))
      .withColumn("score", length(col("response")).cast(LongType))
    graft.text.Sft.preferencePairs(cand, "prompt_id", "response", "score")
      .select(col("prompt_id"),
        md5(col("chosen")).as("chosen_md5"),
        md5(col("rejected")).as("rejected_md5"),
        col("chosen_score"), col("rejected_score"), col("margin"))
      .orderBy(col("prompt_id"))
  }

  /** Self-Instruct-style ROUGE-2 near-dup removal over synthesized
    * instruction responses ([[graft.text.Sft.rouge2Dedup]]):
    * response = tokens 9..16 of each doc, and every id ≡ 3 mod 10 doc
    * instead carries the response of doc id−3 with the tail token
    * swapped for "altered" — a planted near-duplicate (6 of 7 bigrams
    * shared, ROUGE-2 ≈ 0.86) the word-salad corpus would never
    * produce naturally. Prefix-block candidates, distinct-bigram
    * max-recall ≥ 0.6, transitive min-id survivor. */
  def txSftRougeDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.Sft.rouge2Dedup(sftResponseFixture(s, dir), "doc_id",
        "response", blockTokens = 2, threshold = 0.6)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** The shared planted-near-dup response corpus both ROUGE oracles
    * run on (see [[txSftRougeDedup]] for the construction). */
  private def sftResponseFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val toks = split(col("text"), "\\s+")
    val base = docs.select(col("doc_id"),
      concat_ws(" ", slice(toks, 9, 8)).as("response"))
    val donors = docs.select((col("doc_id") + 3).as("doc_id"),
      concat(concat_ws(" ", slice(toks, 9, 7)), lit(" altered")).as("__alt"))
    base.join(donors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3 && col("__alt").isNotNull, col("__alt"))
          .otherwise(col("response")).as("response"))
  }

  /** ROUGE-L (LCS) rescoring of the prefix-blocked candidate pairs
    * ([[graft.text.Sft.rougeLPairs]]) over the same planted corpus:
    * each planted pair shares a 7-token prefix of 8 (LCS = 7,
    * rouge_l = 0.875); word-salad co-blocked pairs share only the
    * 2-token block prefix and land near 0.25. The native LCS
    * expression is oracle-gated here — DuckDB replays the two-row DP
    * with nested list_reduce lambdas, cell for cell. */
  def txSftRougeL(s: SparkSession, dir: String): DataFrame =
    graft.text.Sft.rougeLPairs(sftResponseFixture(s, dir), "doc_id",
        "response", blockTokens = 2, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b"))

  /** Deterministic conversation synthesis over `documents` (both
    * engines build the IDENTICAL JSON string by concatenation — the
    * word-salad corpus contains no JSON metachars, so no escaping
    * divergence is possible): turns = user(first 8 tokens) /
    * assistant(next 8) / user("again <id>"); every 7th doc breaks
    * alternation (its middle turn is also `user`) so the validator has
    * real negatives. */
  private def synthConvCol = {
    val toks = split(col("text"), "\\s+")
    concat(
      lit("""[{"role":"user","content":""""),
      concat_ws(" ", slice(toks, 1, 8)),
      lit(""""},{"role":""""),
      when(col("doc_id") % 7 === 0, lit("user")).otherwise(lit("assistant")),
      lit("""","content":""""),
      concat_ws(" ", slice(toks, 9, 8)),
      lit(""""},{"role":"user","content":"again """),
      col("doc_id").cast("string"),
      lit(""""}]"""))
  }

  /** Conversation parsing ([[graft.text.Sft.parseTurns]]): serialized
    * chat JSON → typed turn rows through `from_json` + `posexplode` —
    * map-only, no UDF; the oracle re-parses the same synthesized JSON
    * with DuckDB's JSON functions, pinning the parse itself. */
  def txSftTurns(s: SparkSession, dir: String): DataFrame =
    graft.text.Sft.parseTurns(
        table(s, dir, "documents").withColumn("conv", synthConvCol),
        "doc_id", "conv")
      .select(col("doc_id"), col("turn_idx"), col("role"),
        md5(col("content")).as("content_md5"),
        size(split(col("content"), "\\s+")).cast(LongType).as("n_tokens"))
      .orderBy(col("doc_id"), col("turn_idx"))

  /** Per-conversation protocol validation + per-role token accounting
    * ([[graft.text.Sft.conversationStats]]): alternation/role checks
    * and the assistant-token counts SFT budgets run on. */
  def txSftStats(s: SparkSession, dir: String): DataFrame =
    graft.text.Sft.conversationStats(graft.text.Sft.parseTurns(
        table(s, dir, "documents").withColumn("conv", synthConvCol),
        "doc_id", "conv"))
      .orderBy(col("doc_id"))

  /** Tokenizer-exact SFT budget packing: per-conversation assistant
    * BPE tokens ([[graft.text.Sft.conversationStats]]'s default
    * accounting) feed [[graft.operators.Sampling.packSequences]] —
    * contiguous ≈256-assistant-token batches per source, the layout an
    * SFT trainer consumes. The oracle replays the BPE merge loop over
    * TURN CONTENTS (not raw documents) in a recursive CTE and re-packs
    * with the same cumulative window — tokenizer-exact counts flowing
    * through a budget consumer, pinned end to end. */
  def txSftPackBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").withColumn("conv", synthConvCol)
    val stats = graft.text.Sft.conversationStats(
      graft.text.Sft.parseTurns(docs, "doc_id", "conv"))
    val withSrc = stats.select(col("doc_id"), col("assistant_tokens"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    graft.operators.Sampling.packSequences(withSrc, "source", "doc_id",
        col("assistant_tokens"), 256L)
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_convs"),
        sum(col("n_tokens")).as("batch_tokens"))
      .orderBy(col("source"), col("batch_id"))
  }

  /** The end-to-end SFT preparation funnel with per-stage survivor
    * counts: parse → protocol-validity gate (user-first, alternating,
    * known roles — [[graft.text.Sft.conversationStats]]) →
    * response-level dedup on VALID conversations → packing the
    * survivors into ≈256-assistant-BPE-token batches per source. Each
    * stage is the library operator with its standalone query's
    * parameters; the oracle recomputes the whole funnel — validity,
    * dedup keys, BPE counts, batch arithmetic — pinning the
    * composition, not just the parts. */
  def txSftFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Sft
    val docs = table(s, dir, "documents").withColumn("conv", synthConvCol)
    val turns = Sft.parseTurns(docs, "doc_id", "conv")
    val stats = Sft.conversationStats(turns)
    val valid = stats.filter(col("valid") === 1)
      .select(col("doc_id"), col("assistant_tokens"))
    val validTurns = turns.join(valid.select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val survivors = Sft.dedupByAssistant(validTurns).select(col("doc_id"))
    val packed = graft.operators.Sampling.packSequences(
      survivors.join(valid, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
      "source", "doc_id", col("assistant_tokens"), 256L)
    val head = docs.agg(count(lit(1)).as("total"))
    val vCount = valid.agg(count(lit(1)).as("valid"))
    val dCount = survivors.agg(count(lit(1)).as("response_dedup"))
    val bCount = packed.select(col("source"), col("batch_id")).distinct()
      .agg(count(lit(1)).as("batches"))
    Curation.stageTable(head.crossJoin(vCount).crossJoin(dCount).crossJoin(bCount),
      Seq("total", "valid", "response_dedup", "batches"))
  }

  /** Response-level conversation dedup ([[graft.text.Sft
    * .dedupByAssistant]]): survivors keyed by the md5 of the ordered
    * assistant-turn concatenation — transcripts eliciting identical
    * responses are training duplicates regardless of user phrasing. */
  def txSftDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.Sft.dedupByAssistant(graft.text.Sft.parseTurns(
        table(s, dir, "documents").withColumn("conv", synthConvCol),
        "doc_id", "conv"))
      .orderBy(col("doc_id"))

  /** DSIR importance weights (integer-exact rendering — see
    * [[graft.text.Dsir]]): target distribution = the `lang = 'en'`
    * subset, raw = the whole corpus; 4096 hashed bigram buckets. The
    * oracle replays hashing, smoothing, fixed-point division and sums
    * exactly, pinning the full selection pipeline. */
  def txDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dsir.quantizedWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096)
      .orderBy(col("doc_id"))
  }

  /** Importance RESAMPLING step: the 25 most target-like documents by
    * quantized DSIR score (doc id breaks ties), as a global
    * TakeOrdered — no full sort. */
  def txDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dsir.selectTop(
        Dsir.quantizedWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 4096), 25)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style LM quality scoring + head/middle/tail band split
    * (integer-exact rendering — see [[graft.text.LmScore]]): reference
    * model = hashed bigram LM trained on the `lang = 'en'` subset,
    * scored over the whole corpus, banded by exact NTILE(3) through
    * the distributed rank. */
  def txLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    LmScore.withQualityBands(
        LmScore.quantizedScores(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 1024))
      .orderBy(col("doc_id"))
  }

  /** DoReMi-flavored quality-proportional mixture reweighting
    * (Xie et al. 2023, arXiv:2305.10429, use per-domain proxy-model
    * losses to reweight the training mixture; here the committed LM
    * quality signal plays the proxy): per-source mean bigram
    * probability in exact fixed point (Σ lm_score ÷ Σ n_bigrams,
    * integer division) is the domain gain, and THREE multiplicative-
    * weights rounds from the uniform mixture — w′ = w·g/10⁶ then
    * renormalize to Σ = 10⁶, every step a truncating integer divide —
    * produce the reweighted mixture plus a 100k-token budget
    * allocation. All arithmetic replays bit-for-bit in the oracle (the
    * sources here differ mildly in reference-likeness, so the rounds
    * visibly tilt the mix without collapsing it).
    *
    * Scale: one LM-scoring pass over the corpus (the tx_lm_score
    * plan), one per-source aggregate; the MW rounds run on the driver
    * over source-count-many rows — config-sized, like every mixture
    * computation in the mix_* family. */
  def mixQualityReweight(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = table(s, dir, "documents")
    val scored = LmScore.quantizedScores(docs,
      docs.filter(col("lang") === "en"), "doc_id", "text", buckets = 1024)
    val perSrc = scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lm_score")).as("sq"),
        sum(col("n_bigrams")).as("nb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        // a source whose docs yield no scoreable bigrams gets gain 0
        // (same guard as pack_curriculum) instead of an /0 crash
        if (r.getLong(3) > 0) r.getLong(2) / r.getLong(3) else 0L))
      .sortBy(_._1)
    val scale = 1000000L
    def round(w: Seq[Long]): Seq[Long] = {
      val u = w.zip(perSrc).map { case (wi, (_, _, g)) => wi * g / scale }
      val tot = u.sum
      require(tot > 0, "mixQualityReweight: every source has zero gain " +
        "(no scoreable bigrams anywhere) — the mixture is undefined")
      u.map(_ * scale / tot)
    }
    val w1 = round(Seq.fill(perSrc.length)(scale))
    val w2 = round(w1)
    val w3 = round(w2)
    val w3tot = w3.sum
    require(w3tot > 0, "mixQualityReweight: reweighted mixture collapsed " +
      "to zero mass — gains too skewed for the fixed-point scale")
    val rows = perSrc.zipWithIndex.map { case ((src, n, g), i) =>
      Row(src, n, g, w1(i), w2(i), w3(i), 100000L * w3(i) / w3tot)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("source", StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("gain_fp", LongType, nullable = false),
        StructField("w1", LongType, nullable = false),
        StructField("w2", LongType, nullable = false),
        StructField("w3", LongType, nullable = false),
        StructField("budget_tokens", LongType, nullable = false))))
      .orderBy(col("source"))
  }

  /** Order-5 stupid-backoff LM scoring
    * ([[graft.text.LmScore.quantizedScores5]] — CCNet's actual filter
    * is a 5-gram LM; the bigram tx_lm_score is the broadcast-bounded
    * floor): same reference corpus (lang = 'en'), same integer-exact
    * fixed point, backoff chain pinned by the oracle through all five
    * orders including the 0.4^d multipliers. */
  def txLmScore5(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    LmScore.withQualityBands(
        LmScore.quantizedScores5(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 1024))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney order-5 LM scoring
    * ([[graft.text.LmScore.quantizedScoresKN]] — the discounted,
    * continuation-count model CCNet's KenLM filter actually is; the
    * stupid-backoff tx_lm_score5 is the count-ratio approximation):
    * same lang = 'en' reference, same fixed point, the whole
    * interpolation chain (discount 3/4, continuation counts, pure
    * backoff on unseen contexts) pinned by the oracle. */
  def txLmScoreKn(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    LmScore.withQualityBands(
        LmScore.quantizedScoresKN(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 1024))
      .orderBy(col("doc_id"))
  }

  /** Committed BM25 query-term list: one rare term (dup, df ≈ N/20 —
    * IDF-dominant), two mid-frequency, two near-ubiquitous (batch,
    * spark — IDF floor) so the fixture exercises the whole IDF range
    * plus tf saturation and length normalization. */
  val Bm25Terms: Seq[String] = Seq("dup", "vector", "merge", "spark", "batch")

  /** BM25 top-25 lexical retrieval ([[graft.text.Bm25.quantizedTopK]]
    * — integer-exact rendering; the log-IDF double surface is the
    * library path): ranked (score desc, doc_id) over the documents
    * corpus for the committed term list. */
  def txBm25TopK(s: SparkSession, dir: String): DataFrame =
    Bm25.quantizedTopK(table(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, 25)

  /** Deterministic dirty-URL synthesis over the documents fixture (the
    * corpus has no URL column): exercises every normalization branch —
    * mixed-case scheme/host, trailing path slash, query-final slash
    * (preserved), #fragment — keyed by doc_id so the oracle rebuilds
    * it bit-for-bit. */
  private def dirtyUrl: Column =
    concat(
      when(col("doc_id") % 2 === 0, lit("HtTpS")).otherwise(lit("http")),
      lit("://"),
      when(col("doc_id") % 3 === 0, upper(col("source")))
        .otherwise(col("source")),
      lit(".Example.COM/"), col("lang"), lit("/Item/"),
      (col("doc_id") % 7).cast(StringType),
      when(col("doc_id") % 3 === 1, lit("/"))
        .otherwise(lit("")),
      // query-final '/' must SURVIVE normalization ('?next=/' is a
      // distinct URL from '?next=') — only path slashes strip
      when(col("doc_id") % 5 === 4, lit("?next=/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 2,
        concat(lit("#sec"), col("doc_id").cast(StringType)))
        .otherwise(lit("")))

  /** URL canonicalization + domain extraction ([[graft.text.UrlOps]]):
    * lowercased scheme/host, case-preserved path, fragment and
    * trailing slashes stripped. */
  def txUrlNormalize(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("url", dirtyUrl)
      .select(col("doc_id"),
        UrlOps.normalizeUrl(col("url")).as("url_norm"),
        UrlOps.domainOf(col("url")).as("domain"))
      .orderBy(col("doc_id"))

  /** Exact-URL dedup, first-crawled (min doc id) survivor — through
    * the bounded-heap top-k, not a per-URL sort. */
  def txUrlDedup(s: SparkSession, dir: String): DataFrame =
    UrlOps.dedupByUrl(
        table(s, dir, "documents").withColumn("url", dirtyUrl)
          .select(col("doc_id"), col("url")),
        "doc_id", "url")
      .select(col("url_norm"), col("doc_id"))
      .orderBy(col("url_norm"))

  /** Domain-authority PageRank over a synthesized inter-domain link
    * graph ([[graft.operators.Graphs.pageRankFixedPoint]], 3
    * iterations, damping 17/20, fixed-point scale 10¹²): each document
    * links its own domain to a deterministic target — a hub (src0)
    * for doc_id ≡ 0 mod 3, else src[(doc_id·7+3) mod 20] — so the hub
    * accumulates ~⅓ of the link mass and the rank ORDER is a real
    * signal, not uniform dust. Every arithmetic step is integer
    * (DIV/Σ), so the oracle unrolls the same three iterations and
    * matches rank_fp exactly. */
  def txDomainPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val edges = docs.select(
        concat(col("source"), lit(".example.com")).as("src"),
        concat(lit("src"),
          when(col("doc_id") % 3 === 0, lit(0L))
            .otherwise((col("doc_id") * 7 + 3) % 20).cast(StringType),
          lit(".example.com")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    graft.operators.Graphs.pageRankFixedPoint(edges, "src", "dst", "w",
        iters = 3)
      .withColumn("rank", col("rank_fp").cast(DoubleType) / 1.0e12)
      .orderBy(col("rank_fp").desc, col("node"))
  }

  /** Per-domain cap (RefinedWeb §3.1): at most 5 documents per domain,
    * smallest ids surviving, rank included. */
  def txDomainCaps(s: SparkSession, dir: String): DataFrame =
    UrlOps.capPerDomain(
        table(s, dir, "documents").withColumn("url", dirtyUrl)
          .select(col("doc_id"), col("url")),
        "doc_id", "url", cap = 5)
      .select(col("domain"), col("domain_rank"), col("doc_id"))
      .orderBy(col("domain"), col("domain_rank"))

  /** Model-based quality scoring ([[graft.text.QualityClassifier]],
    * the DCLM/fastText-style gate) over the COMMITTED quantized model
    * ([[graft.text.QualityModelFixture]]): per doc, integer feature
    * score, margin, and pass flag — the corpus-scale pass (one shingle
    * scan, broadcast weight join, one (doc, score) shuffle), exact
    * integer arithmetic end to end so the whole pipeline is
    * oracle-pinned. Float training remains the library path
    * (QualityClassifierSpec). */
  def txClfScore(s: SparkSession, dir: String): DataFrame =
    QualityClassifier.scoreQuantized(table(s, dir, "documents"),
        "doc_id", "text", QualityModelFixture.weightsQ,
        QualityModelFixture.biasQ, QualityModelFixture.buckets)
      .orderBy(col("doc_id"))

  /** Classifier-vs-rule confusion matrix: the committed model's pass
    * flag against the stopword lang-id label it was distilled from —
    * the fidelity diagnostic a curation pipeline runs before swapping
    * a rule gate for a model gate. One corpus pass plus a 4-cell
    * conditional aggregate; accuracy is one integer/integer IEEE
    * division. */
  def txClfEval(s: SparkSession, dir: String): DataFrame = {
    val scored = QualityClassifier.scoreQuantized(
      table(s, dir, "documents"), "doc_id", "text",
      QualityModelFixture.weightsQ, QualityModelFixture.biasQ,
      QualityModelFixture.buckets)
    val labels = table(s, dir, "documents").select(col("doc_id"),
      (TextFunctions.langId(col("text")) === "en").cast("int").as("label"))
    scored.join(labels, Seq("doc_id"))
      .agg(
        sum(col("clf_pass") * col("label")).cast(LongType).as("tp"),
        sum(col("clf_pass") * (lit(1) - col("label"))).cast(LongType).as("fp"),
        sum((lit(1) - col("clf_pass")) * col("label")).cast(LongType).as("fn"),
        sum((lit(1) - col("clf_pass")) * (lit(1) - col("label")))
          .cast(LongType).as("tn"))
      .withColumn("n_docs", col("tp") + col("fp") + col("fn") + col("tn"))
      .withColumn("accuracy",
        (col("tp") + col("tn")).cast(DoubleType) /
          col("n_docs").cast(DoubleType))
  }

  /** N-gram-profile language ID ([[graft.text.LangProfile]], Cavnar &
    * Trenkle 1994) against committed UDHR-derived trigram profiles —
    * the character-level upgrade of the stopword vote: per-doc top-K
    * trigram ranking on the bounded-heap operator, out-of-place
    * distance to each profile, deterministic arg-min. */
  def txLangProfile(s: SparkSession, dir: String): DataFrame =
    graft.text.LangProfile.langIdProfile(
        table(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Multilingual pipeline composition — routing as a PIPELINE, not
    * just a funnel: detect (zero-shuffle profile expression) → route
    * to per-language rule tables → gate → EXACT dedup on content
    * (first-wins; the synthesized windows collide across docs, so the
    * stage does real work) → per-language sequence packing on a
    * CHARACTER budget (the cross-script-safe unit when no multilingual
    * tokenizer is committed — whitespace tokens are meaningless for ja
    * and BPE here is en-trained). Output: per-language
    * (routed, blocklist, quality, unique, batches). Scale: detection +
    * gates map-side, one content-hash shuffle for dedup, one
    * per-language window for packing. */
  def txMultilingualPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = table(s, dir, "documents").withColumn("synth", synthMultilingual)
    val detected = docs.select(col("doc_id"), col("synth"),
        coalesce(graft.functions.NativeLang.langIdProfile(col("synth"))
          .getField("predicted_lang"), lit("unknown")).as("lang_pred"))
      .localCheckpoint() // detection reused by flags, kept join, counts
    val flags = Curation.routedCurationFlags(detected, "doc_id", "synth",
      "lang_pred", multilingualRoutes)
    val kept = flags.filter(col("blocklist_pass") && col("quality_pass") &&
        col("route_lang") =!= "other")
      .join(detected.select(col("doc_id"), col("synth")), Seq("doc_id"))
    val unique = graft.dedup.Dedup.exactByContent(kept, "doc_id", "synth")
      .localCheckpoint()
    val packed = Sampling.packSequences(unique, "route_lang", "doc_id",
      length(col("synth")).cast(LongType), 160L)
    val funnel = flags.groupBy(col("route_lang")).agg(
      count(lit(1)).as("n_routed"),
      sum(col("blocklist_pass").cast(LongType)).as("n_blocklist"),
      sum((col("blocklist_pass") && col("quality_pass")).cast(LongType))
        .as("n_quality"))
    val uniqC = unique.groupBy(col("route_lang"))
      .agg(count(lit(1)).as("n_unique"))
    val packC = packed.select(col("route_lang"), col("batch_id")).distinct()
      .groupBy(col("route_lang")).agg(count(lit(1)).as("n_batches"))
    funnel.filter(col("route_lang") =!= "other")
      .join(uniqC, Seq("route_lang"), "left")
      .join(packC, Seq("route_lang"), "left")
      .select(col("route_lang"), col("n_routed"), col("n_blocklist"),
        col("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("n_batches"), lit(0L)).as("n_batches"))
      .orderBy(col("route_lang"))
  }

  /** Tokenizer FERTILITY by language — the budget-inflation audit a
    * multilingual pipeline runs before trusting en-trained BPE budgets:
    * characters per BPE token over the synthesized multilingual corpus,
    * grouped by the synthesis TARGET language. Latin-script text merges
    * toward word-level tokens; Cyrillic and CJK fall back toward
    * character granularity, inflating any token budget computed with
    * this tokenizer — exactly the correction factor a packing or
    * mixing stage needs per language. The oracle replays the committed
    * BPE merge loop over every synthesized window. */
  def txBpeFertility(s: SparkSession, dir: String): DataFrame = {
    val langs = multilingualRoutes.map(_.lang)
    val target = langs.zipWithIndex.foldRight(lit("")) { case ((l, i), acc) =>
      when((col("doc_id") % langs.size).cast(IntegerType) === i, lit(l))
        .otherwise(acc)
    }
    table(s, dir, "documents").withColumn("synth", synthMultilingual)
      .withColumn("lang", target)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("synth")).cast(LongType)).as("total_chars"),
        sum(TextFunctions.bpeTokenCount(col("synth"))).as("total_tokens"))
      .withColumn("chars_per_token",
        col("total_chars").cast(DoubleType) / col("total_tokens"))
      .orderBy(col("lang"))
  }

  /** The committed multilingual route table — 6 of the 28 profile
    * languages spanning Latin, Cyrillic, and unspaced CJK, each with
    * its own stopword/blocklist rules (terms drawn from the committed
    * profile samples so the fixture exercises every gate both ways).
    * The ja route is the per-script case whole-token machinery can't
    * serve: minTokens drops to 1 (no whitespace) and the substring
    * matching rule carries the gates. */
  private val multilingualRoutes = Seq(
    Curation.LangRoute("en", Seq("and", "equal"), Seq("free"),
      minTokens = 5, minStopWords = 2),
    Curation.LangRoute("de", Seq("und", "gleich"), Seq("frei"),
      minTokens = 5, minStopWords = 2),
    Curation.LangRoute("fr", Seq("et", "conscience"), Seq("libres"),
      minTokens = 5, minStopWords = 2),
    Curation.LangRoute("es", Seq("como", "conciencia"), Seq("libres"),
      minTokens = 5, minStopWords = 2),
    Curation.LangRoute("ru", Seq("и", "должны"), Seq("свободными"),
      minTokens = 5, minStopWords = 2),
    Curation.LangRoute("ja", Seq("の", "尊厳"), Seq("自由"),
      minTokens = 1, minStopWords = 2))

  /** Deterministic multilingual synthesis: doc_id % 6 picks the target
    * language, and the text is an 80-char sliding window (start =
    * doc_id % 40) of that language's committed profile sample — both
    * engines rebuild the identical string from the same constants, and
    * the windows are genuinely language-typical text, so the profile
    * detector has a real signal. */
  private def synthMultilingual: Column = {
    val langs = multilingualRoutes.map(_.lang)
    val samples = graft.text.LangProfile.samples.toMap
    val idx = (col("doc_id") % langs.size).cast(IntegerType)
    val start = (col("doc_id") % 40 + 1).cast(IntegerType)
    langs.zipWithIndex.foldRight(lit("")) { case ((l, i), acc) =>
      when(idx === i, lit(samples(l)).substr(start, lit(80))).otherwise(acc)
    }
  }

  /** Per-language curation routing
    * ([[graft.text.Curation.multilingualFunnel]]): synthesized
    * multilingual docs are language-identified by the ZERO-SHUFFLE
    * profile expression and routed to their language's rule table —
    * the multilingual form of the flagship's en-only lang gate (which
    * DROPS non-en; this keeps and gates them). Output: per-language
    * funnel counts (routed → blocklist pass → quality pass). The
    * oracle replays the synthesis, the 28-language trigram detection,
    * and every per-route CASE from the same committed constants. */
  def txMultilingualFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").withColumn("synth", synthMultilingual)
    val detected = docs.select(col("doc_id"), col("synth"),
      coalesce(graft.functions.NativeLang.langIdProfile(col("synth"))
        .getField("predicted_lang"), lit("unknown")).as("lang_pred"))
    Curation.multilingualFunnel(detected, "doc_id", "synth", "lang_pred",
        multilingualRoutes)
      .orderBy(col("route_lang"))
  }

  /** Corpus token heavy hitters through the Misra-Gries sketch
    * aggregate ([[graft.functions.HeavyHittersAgg]]): bounded k-entry
    * state map-side, k-entry partials on the shuffle — the one-pass
    * answer where exact GROUP BY would shuffle a row per distinct
    * item. k=64 exceeds this corpus' 31-token vocabulary, so no
    * counter ever evicts and the sketch is provably exact — the
    * regime the DuckDB GROUP-BY oracle pins end to end; the
    * approximate regime is guarantee-tested in NativeAggSpec. */
  def txHeavyTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+", -1)).as("token"))
      .agg(graft.functions.NativeAgg.heavyHitters(col("token"), 64).as("hh"))
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.item").as("token"), col("e.cnt").as("cnt"))
      .orderBy(col("rank"))

  /** KMV distinct-count sketch vs exact, per source
    * ([[graft.functions.KmvMinHashesAgg]]): distinct 3-token shingles
    * per source estimated from the k=256 smallest 60-bit hashes
    * (D̂ = (k−1)·2⁶⁰ / h₍ₖ₎, Beyer et al. 2007 unbiased KMV), next to
    * the exact distinct-hash count the sketch approximates. The corpus
    * has ~1.3k distinct shingles per source, so the approximate regime
    * (nd > k) is what the oracle pins — sketch contents, k-th hash,
    * estimate, and relative error all replay exactly in DuckDB
    * because the sketch is deterministic given the md5-derived hash.
    * At 100 TB the exact column is the thing you could NOT afford
    * (one shuffled row per distinct value); the sketch ships 256
    * longs per (partition, source). */
  /** (source, 60-bit shingle hash) frame both KMV oracles aggregate. */
  private def kmvHashFrame(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("source"),
        explode(graft.text.TextFunctions.tokenShingles(col("text"), 3))
          .as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast(LongType).as("h"))

  def txKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val h = kmvHashFrame(s, dir)
    h.groupBy(col("source"))
      .agg(graft.functions.NativeAgg.kmvMinHashes(col("h"), k).as("kmv"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(col("source"), col("exact_distinct"),
        size(col("kmv")).cast(LongType).as("n_kept"),
        element_at(col("kmv"), -1).as("kth_hash"),
        when(size(col("kmv")) < k, size(col("kmv")).cast(DoubleType))
          .otherwise(lit((k - 1).toDouble * 1152921504606846976.0) /
            element_at(col("kmv"), -1).cast(DoubleType))
          .as("est_distinct"))
      .withColumn("rel_err",
        abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"))
      .orderBy(col("source"))
  }

  /** Pairwise source overlap estimated from KMV sketches ALONE
    * (Beyer et al. 2007 §5: K = k smallest of the sketch union;
    * ρ̂ = |K ∩ S_A ∩ S_B| / |K| estimates Jaccard(A,B)) — the
    * set-operation capability HLL does not have, and the reason the
    * deterministic KMV earns its place next to
    * `approx_count_distinct`. At 100 TB the exact column requires a
    * full shingle-level self-join across source pairs; the sketch
    * path joins 20 rows of 256 longs. Pair count is quadratic in the
    * SOURCE count (20 → 190 rows), not the data size; the exact twin
    * is computed here only to pin the estimator's error. */
  def txKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    // the hash frame feeds the sketch aggregate AND (twice) the exact
    // intersection join — checkpoint so the corpus shingles+hashes once
    val h = kmvHashFrame(s, dir).localCheckpoint()
    val sk = h.groupBy(col("source"))
      .agg(graft.functions.NativeAgg.kmvMinHashes(col("h"), k).as("kmv"),
        countDistinct(col("h")).as("nd"))
      .localCheckpoint() // joined three ways below; don't re-derive
    val pairs = sk.select(col("source").as("source_a"),
        col("kmv").as("kmv_a"), col("nd").as("nd_a"))
      .join(sk.select(col("source").as("source_b"),
        col("kmv").as("kmv_b"), col("nd").as("nd_b")),
        col("source_a") < col("source_b"))
    // exact twin via ONE exchange on the hash: collect_set dedups the
    // (source, h) pairs inside the aggregate and source pairs explode
    // map-side from each hash's source set — the q7_basket_pairs
    // rewrite (round 15, guide §2.4); the old spelling paid a distinct
    // exchange on (source, h) PLUS a re-key to h for a self-join
    val inter = h.groupBy(col("h"))
      .agg(collect_set(col("source")).as("__s"))
      .select(explode(col("__s")).as("source_a"), col("__s"))
      .select(col("source_a"), explode(col("__s")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter_exact"))
    pairs
      .withColumn("bigk",
        slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
      .withColumn("matched", size(array_intersect(col("bigk"),
        array_intersect(col("kmv_a"), col("kmv_b")))).cast(LongType))
      .withColumn("k_used", size(col("bigk")).cast(LongType))
      .withColumn("j_est",
        col("matched").cast(DoubleType) / col("k_used"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("inter_exact",
        coalesce(col("inter_exact"), lit(0L)))
      .withColumn("j_exact", col("inter_exact").cast(DoubleType) /
        (col("nd_a") + col("nd_b") - col("inter_exact")))
      .select(col("source_a"), col("source_b"), col("matched"),
        col("k_used"), col("j_est"), col("inter_exact"), col("j_exact"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Unicode-normalization-aware exact dedup
    * ([[graft.functions.NfcNormalizeExpr]]): docs ≡ 6 mod 10 carry a
    * DECOMPOSED suffix (e + U+0301, A + U+030A) while docs ≡ 7 carry
    * their predecessor's text with the COMPOSED spelling (é, Å) — raw
    * bytes differ, NFC forms collide, so byte-exact dedup misses what
    * normalization-aware dedup catches; docs ≡ 2 get the U+212B
    * ANGSTROM singleton (changed by NFC, no dup partner). One
    * aggregate pins changed counts and the distinct-raw vs
    * distinct-NFC collapse. JDK Normalizer and DuckDB nfc_normalize
    * implement the same UAX #15, which is what makes this
    * cross-engine-replayable. */
  def txNfcDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val prev = docs.select((col("doc_id") + 1).as("doc_id"),
      col("text").as("__prev"))
    val dirty = docs.join(prev, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 6,
            concat(col("text"), lit(" cafe\u0301 A\u030A")))
          .when(col("doc_id") % 10 === 7 && col("__prev").isNotNull,
            concat(col("__prev"), lit(" caf\u00e9 \u00c5")))
          .when(col("doc_id") % 10 === 2,
            concat(col("text"), lit(" \u212B")))
          .otherwise(col("text")).as("raw"))
    val nfc = graft.functions.NativeText.nfcNormalize(col("raw"))
    dirty.agg(
        count(lit(1)).as("n_docs"),
        sum(when(nfc =!= col("raw"), 1L).otherwise(0L)).as("n_changed"),
        countDistinct(col("raw")).as("distinct_raw"),
        countDistinct(nfc).as("distinct_nfc"))
      .withColumn("collapsed", col("distinct_raw") - col("distinct_nfc"))
  }

  val queries: Map[String, QueryFn] = Map(
    "sft_turns" -> (txSftTurns _),
    "sft_stats" -> (txSftStats _),
    "sft_dedup" -> (txSftDedup _),
    "sft_pack_bpe" -> (txSftPackBpe _),
    "sft_funnel" -> (txSftFunnel _),
    "tx_html_extract" -> (txHtmlExtract _),
    "tx_html_funnel" -> (txHtmlFunnel _),
    "tx_blocklist" -> (txBlocklist _),
    "tx_pretrain_pipeline" -> (txPretrainPipeline _),
    "tx_pretrain_stream" -> (txPretrainStream _),
    "tx_pretrain_ledger" -> (txPretrainLedger _),
    "sft_pref_pairs" -> (txSftPrefPairs _),
    "tx_funnel_model" -> (txFunnelModel _),
    "tx_heavy_tokens" -> (txHeavyTokens _),
    "tx_kmv_distinct" -> (txKmvDistinct _),
    "tx_kmv_overlap" -> (txKmvOverlap _),
    "tx_nfc_dedup" -> (txNfcDedup _),
    "tx_lang_profile" -> (txLangProfile _),
    "tx_multilingual_funnel" -> (txMultilingualFunnel _),
    "tx_multilingual_pipeline" -> (txMultilingualPipeline _),
    "tx_bpe_fertility" -> (txBpeFertility _),
    "tx_clf_score" -> (txClfScore _),
    "tx_clf_eval" -> (txClfEval _),
    "tx_bpe_tokens" -> (txBpeTokens _),
    "tx_bpe_train" -> (txBpeTrain _),
    "tx_url_normalize" -> (txUrlNormalize _),
    "tx_url_dedup" -> (txUrlDedup _),
    "tx_domain_caps" -> (txDomainCaps _),
    "tx_domain_pagerank" -> (txDomainPagerank _),
    "tx_lm_score" -> (txLmScore _),
    "mix_quality_reweight" -> (mixQualityReweight _),
    "tx_lm_score5" -> (txLmScore5 _),
    "tx_lm_score_kn" -> (txLmScoreKn _),
    "tx_bm25_topk" -> (txBm25TopK _),
    "sft_rouge_dedup" -> (txSftRougeDedup _),
    "sft_rouge_l" -> (txSftRougeL _),
    "tx_dsir_weights" -> (txDsirWeights _),
    "tx_dsir_select" -> (txDsirSelect _),
    "tx_curation_funnel" -> (txCurationFunnel _),
    "tx_gopher_filter" -> (txGopherFilter _),
    "tx_c4_clean" -> (txC4Clean _),
    "tx_source_overlap" -> (txSourceOverlap _),
    "tx_chunk_windows" -> (txChunkWindows _),
    "tx_dup_spans" -> (txDupSpans _),
    "tx_dup_span_removal" -> (txDupSpanRemoval _),
    "tx_dup_span_removal_runs" -> (txDupRunRemoval _),
    "tx_gopher_repetition" -> (txGopherRepetition _),
    "tx_top_ngram" -> (txTopNgram _),
    "tx_boilerplate_ngrams" -> (txBoilerplateNgrams _),
    "tx_boilerplate_ratio" -> (txBoilerplateRatio _),
    "tx_normalize" -> (txNormalize _),
    "tx_redact" -> (txRedact _),
    "tx_redact_audit" -> (txRedactAudit _),
    "tx_lang_id" -> (txLangId _),
    "tx_quality" -> (txQuality _),
    "tx_token_stats" -> (txTokenStats _),
    "tx_repetition" -> (txRepetition _),
    "tx_token_count" -> (txTokenCount _),
    "tx_fingerprint" -> (txFingerprint _),
    "tx_contamination" -> (txContamination _),
    "tx_ngram_contamination" -> (txNgramContamination _),
    "tx_decontaminate_near" -> (txDecontaminateNear _),
    "tx_contamination_report" -> (txContaminationReport _),
    "tx_corpus_stats" -> (txCorpusStats _),
    "tx_tfidf_top_terms" -> (txTfidfTopTerms _))

  private val langCase = {
    val sets = TextFunctions.langStopwords
    val scoreExprs = sets.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect(toks, $arr)) AS score_$lang"
    }.mkString(",\n               ")
    // argmax with earlier-listed language winning ties (strict >)
    val best = sets.map(_._1).tail.foldLeft(
      (s"'${sets.head._1}'", s"score_${sets.head._1}")) {
      case ((bl, bs), l) =>
        (s"CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END",
         s"CASE WHEN score_$l > $bs THEN score_$l ELSE $bs END")
    }
    (scoreExprs, best._1, best._2)
  }

  // doc → distinct 5-gram spans, the DuckDB twin of Boilerplate.docSpans
  // (same \s+ tokenizer and 5-token windows as TokenShinglesExpr)
  private val docSpansSql = """
    SELECT doc_id,
           unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                                 FOR i IN range(1, len(toks) - 3)])) AS span
    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
    WHERE len(toks) >= 5"""

  /** SQL twin of `TextFunctions.minShingleFingerprint(text, 5)` over a
    * `toks` column — ONE definition for every fingerprint-based oracle
    * (tx_fingerprint / tx_contamination / tx_source_overlap), so the
    * contract pinning the Spark fingerprint can't silently diverge
    * between them. */
  private val fpSql = """list_min([md5(array_to_string(toks[i:i+4], ' '))
                         FOR i IN range(1, len(toks) - 3)])"""

  // Gopher-filter oracle fragments, shared by tx_gopher_filter and the
  // curation funnel (plain strings so '\s' survives; injected into
  // s-interpolated oracles as arguments, which are never escape-processed)
  private val gopherPrepSql = """
        SELECT doc_id,
               string_split_regex(text, '\s+') AS toks,
               len(regexp_replace(text, '\s+', '', 'g')) AS nonws,
               string_split(text, chr(10)) AS lines,
               len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym
        FROM documents"""
  private val gopherMetricsSql = """
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN
                 CAST(nonws AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(toks) > 0 THEN
                 CAST(n_sym AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(toks) > 0 THEN
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                      AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS alpha_word_ratio,
               CAST(len(list_intersect(list_distinct(toks),
                 ['the','be','to','of','and','that','have','with']))
                 AS BIGINT) AS n_stop_words,
               CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, x ->
                   starts_with(trim(x), '-') OR starts_with(trim(x), '*')))
                      AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                 ELSE 0.0 END AS bullet_ratio,
               CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, x -> ends_with(trim(x), '...')))
                      AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                 ELSE 0.0 END AS ellipsis_ratio
        FROM t"""
  private val gopherPassSql = """n_tokens BETWEEN 50 AND 100000
                        AND mean_word_len >= 3 AND mean_word_len <= 10
                        AND symbol_ratio < 0.1
                        AND bullet_ratio < 0.9 AND ellipsis_ratio < 0.3
                        AND alpha_word_ratio > 0.8
                        AND n_stop_words >= 1"""

  // C4 kept-lines fragment over a `lines` column — shared by
  // tx_c4_clean and the curation funnel
  private val c4KeptSql = """list_filter(lines, x ->
                 (ends_with(trim(x), '.') OR ends_with(trim(x), '!') OR
                  ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
                 AND len(string_split_regex(trim(x), '\s+')) >= 3
                 AND NOT contains(lower(trim(x)), 'javascript'))"""

  // DSIR twin: hashed bigram buckets (the repo-wide md5 bucket scheme),
  // Laplace-smoothed target/raw counts, fixed-point integer weights —
  // every step integer-exact so DuckDB replays it bit-for-bit
  private val dsirScoreSql: String = {
    val buckets = """
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 4096
               AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest([array_to_string(toks[i:i+1], ' ')
                       FOR i IN range(1, len(toks))]) AS gram
        FROM (SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 2)"""
    s"""
      WITH b AS ($buckets),
      nt AS (SELECT bucket, COUNT(*) AS nt FROM b
             WHERE lang = 'en' GROUP BY bucket),
      nr AS (SELECT bucket, COUNT(*) AS nr FROM b GROUP BY bucket),
      w AS (
        SELECT b.doc_id,
               (1000000 * (COALESCE(nt.nt, 0) + 1)) // (nr.nr + 1) AS w
        FROM b LEFT JOIN nt USING (bucket) JOIN nr USING (bucket)),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(w) AS BIGINT) AS dsir_score,
               CAST(SUM(w) AS DOUBLE) / COUNT(*) AS mean_score
        FROM w GROUP BY doc_id)"""
  }

  // LmScore twin: hashed bigram LM with add-one smoothing trained on
  // the lang='en' subset; fixed-point token probabilities summed per
  // doc; NTILE(3) bands (DuckDB's NTILE fill matches Keys.ntileExpr —
  // the same contract w_ntile_spend pins)
  private val lmScoreSql: String = """
      WITH bg AS (
        SELECT doc_id, lang,
               unnest([{
                 'bu': CAST(concat('0x', substr(md5(toks[i]), 1, 15))
                         AS BIGINT) % 1024,
                 'bv': CAST(concat('0x', substr(md5(toks[i+1]), 1, 15))
                         AS BIGINT) % 1024}
                 FOR i IN range(1, len(toks))], recursive := true)
        FROM (SELECT doc_id, lang, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 2),
      c2 AS (SELECT bu, bv, COUNT(*) AS c2 FROM bg
             WHERE lang = 'en' GROUP BY bu, bv),
      c1 AS (SELECT bu, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY bu),
      w AS (
        SELECT bg.doc_id,
               (1000000 * (COALESCE(c2.c2, 0) + 1))
                 // (COALESCE(c1.c1, 0) + 1024) AS w
        FROM bg LEFT JOIN c2 USING (bu, bv) LEFT JOIN c1 USING (bu)),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(w) AS BIGINT) AS lm_score,
               CAST(SUM(w) AS DOUBLE) / COUNT(*) AS mean_prob_q
        FROM w GROUP BY doc_id)
      SELECT doc_id, n_bigrams, lm_score, mean_prob_q,
             CASE NTILE(3) OVER (ORDER BY mean_prob_q DESC, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS quality_band
      FROM sc ORDER BY doc_id"""

  // the multilingual synthesis as a self-contained SELECT — ONE
  // generator shared by the funnel/pipeline CTE pack and the
  // BPE-fertility oracle, so a synthesis change cannot desynchronize
  // one oracle from the others
  private lazy val multilingualSynthSql: String = {
    def esc(s: String) = s.replace("'", "''")
    val langs = multilingualRoutes.map(_.lang)
    val samples = graft.text.LangProfile.samples.toMap
    val synthCase = langs.zipWithIndex.map { case (l, i) =>
      s"WHEN $i THEN substr('${esc(samples(l))}', CAST(doc_id % 40 + 1 AS INT), 80)"
    }.mkString("\n           ")
    s"""SELECT doc_id,
         CASE CAST(doc_id % ${langs.size} AS INT)
           $synthCase
           ELSE '' END AS synth
        FROM documents"""
  }

  // the per-doc TARGET language of the synthesis (doc_id % 6 in route
  // order) as a SQL CASE — for oracles that group by the synthesized
  // language rather than the detected one
  private lazy val multilingualTargetLangSql: String =
    multilingualRoutes.map(_.lang).zipWithIndex
      .map { case (l, i) => s"WHEN $i THEN '$l'" }
      .mkString(s"CASE CAST(doc_id % ${multilingualRoutes.size} AS INT) ",
        " ", " END")

  // Curation.multilingualFunnel twin, generated from the SAME committed
  // constants: synthesis (multilingualSynthSql), the 28-language
  // trigram detection (the tx_lang_profile machinery over the synth
  // relation), and the per-route CASE chains. The CTE pack (through
  // `fl`) is shared by the funnel and pipeline oracles.
  private lazy val multilingualCtes: String = {
    def esc(s: String) = s.replace("'", "''")
    def termList(ts: Seq[String]) =
      ts.map(t => s"'${esc(t)}'").mkString("[", ", ", "]")
    def hits(ts: Seq[String]) =
      s"len(list_filter(${termList(ts)}, t2 -> contains(synth, t2)))"
    val routeCase = multilingualRoutes.map(r =>
      s"WHEN '${r.lang}' THEN '${r.lang}'").mkString(" ")
    val blCase = multilingualRoutes.map { r =>
      s"WHEN '${r.lang}' THEN CASE WHEN ${hits(r.blocklist)} <= ${r.maxHits} THEN 1 ELSE 0 END"
    }.mkString("\n             ")
    val qCase = multilingualRoutes.map { r =>
      s"WHEN '${r.lang}' THEN CASE WHEN " +
        s"len(string_split_regex(synth, '\\s+')) >= ${r.minTokens} AND " +
        s"${hits(r.stopWords)} >= ${r.minStopWords} THEN 1 ELSE 0 END"
    }.mkString("\n             ")
    s"""
      WITH synth AS ($multilingualSynthSql),
      t AS (
        SELECT doc_id, synth,
               regexp_replace(lower(synth), '\\s+', '_', 'g') AS t
        FROM synth),
      g AS (
        SELECT doc_id, unnest([substr(t, CAST(i AS INT), 3)
                               FOR i IN range(1, length(t) - 1)]) AS gram
        FROM t WHERE length(t) >= 3),
      c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      top AS (
        SELECT doc_id, gram,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY c DESC, gram) AS BIGINT) AS rank
        FROM c
        QUALIFY rank <= ${graft.text.LangProfile.topK}),
      prof AS (SELECT * FROM (VALUES $langProfValuesSql)
               AS p(lang, gram, prank)),
      langs AS (SELECT DISTINCT lang FROM prof),
      d AS (
        SELECT top.doc_id, l.lang,
               CAST(SUM(COALESCE(ABS(top.rank - CAST(p.prank AS BIGINT)),
                 ${graft.text.LangProfile.missingPenalty})) AS BIGINT)
                 AS oop_distance,
               COUNT(*) AS n
        FROM top CROSS JOIN langs l
        LEFT JOIN prof p ON p.lang = l.lang AND p.gram = top.gram
        GROUP BY 1, 2),
      det AS (
        SELECT doc_id,
               CASE WHEN oop_distance =
                   n * ${graft.text.LangProfile.missingPenalty}
                 THEN 'unknown' ELSE lang END AS plang
        FROM d
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY oop_distance, lang) = 1),
      rt AS (
        SELECT s.doc_id, s.synth, COALESCE(det.plang, 'unknown') AS lang
        FROM synth s LEFT JOIN det USING (doc_id)),
      fl AS (
        SELECT doc_id,
          CASE lang $routeCase ELSE 'other' END AS route_lang,
          CASE lang
             $blCase
             ELSE 0 END AS bl,
          CASE lang
             $qCase
             ELSE 0 END AS q
        FROM rt)"""
  }

  private lazy val multilingualFunnelSql: String = s"""
      $multilingualCtes
      SELECT route_lang,
             CAST(COUNT(*) AS BIGINT) AS n_routed,
             CAST(SUM(bl) AS BIGINT) AS n_blocklist,
             CAST(SUM(bl * q) AS BIGINT) AS n_quality
      FROM fl GROUP BY route_lang ORDER BY route_lang"""

  // the PIPELINE tail over the same CTE pack: gate survivors → exact
  // dedup (first-wins by content) → per-language character-budget
  // packing (length() is characters in both engines; the window SUM is
  // HUGEINT in DuckDB, hence the CASTs)
  private lazy val multilingualPipelineSql: String = s"""
      $multilingualCtes,
      kept AS (
        SELECT f.doc_id, f.route_lang, r.synth
        FROM fl f JOIN rt r ON f.doc_id = r.doc_id
        WHERE f.bl = 1 AND f.q = 1 AND f.route_lang <> 'other'),
      uniq AS (
        SELECT doc_id, route_lang, synth FROM (
          SELECT doc_id, route_lang, synth,
                 ROW_NUMBER() OVER (PARTITION BY synth ORDER BY doc_id) AS rn
          FROM kept) WHERE rn = 1),
      pk AS (
        SELECT route_lang, doc_id, length(synth) AS w,
               SUM(length(synth)) OVER (PARTITION BY route_lang
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM uniq),
      pb AS (
        SELECT DISTINCT route_lang,
               CAST((cum - w) // 160 AS BIGINT) AS bid
        FROM pk),
      agg1 AS (
        SELECT route_lang,
               CAST(COUNT(*) AS BIGINT) AS n_routed,
               CAST(SUM(bl) AS BIGINT) AS n_blocklist,
               CAST(SUM(bl * q) AS BIGINT) AS n_quality
        FROM fl WHERE route_lang <> 'other' GROUP BY route_lang),
      agg2 AS (
        SELECT route_lang, CAST(COUNT(*) AS BIGINT) AS n_unique
        FROM uniq GROUP BY route_lang),
      agg3 AS (
        SELECT route_lang, CAST(COUNT(*) AS BIGINT) AS n_batches
        FROM pb GROUP BY route_lang)
      SELECT a1.route_lang, a1.n_routed, a1.n_blocklist, a1.n_quality,
             COALESCE(a2.n_unique, 0) AS n_unique,
             COALESCE(a3.n_batches, 0) AS n_batches
      FROM agg1 a1
      LEFT JOIN agg2 a2 ON a1.route_lang = a2.route_lang
      LEFT JOIN agg3 a3 ON a1.route_lang = a3.route_lang
      ORDER BY a1.route_lang"""

  // LmScore.quantizedScores5 twin: per-order 1..5 raw window counts
  // from the lang='en' reference, then the stupid-backoff CASE chain
  // with the exact integer multipliers 10^6·0.4^d (1000000, 400000,
  // 160000, 64000, 25600) and integer division at every level
  // order-k window struct over the bucketed token list — shared by the
  // stupid-backoff and Kneser-Ney oracles (one spelling, no drift)
  private def lmWin(k: Int): String = {
    val fields = (1 to k)
      .map(j => s"'b$j': bs[i${if (j > 1) s"+${j - 1}" else ""}]")
      .mkString(", ")
    s"unnest([{$fields} FOR i IN range(1, len(bs) - ${k - 2})], recursive := true)"
  }

  // order-k training count CTE over the lang='en' reference
  private def lmCnt(k: Int): String = {
    val cols = (1 to k).map(j => s"b$j").mkString(", ")
    s"""c$k AS (
        SELECT $cols, COUNT(*) AS c FROM (
          SELECT ${lmWin(k)}
          FROM bt WHERE lang = 'en' AND len(bs) >= $k)
        GROUP BY $cols)"""
  }

  private val lmScore5Sql: String = {
    def win(k: Int) = lmWin(k)
    def cnt(k: Int) = lmCnt(k)
    s"""
      WITH bt AS (
        SELECT doc_id, lang,
               [CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1024
                FOR t IN string_split_regex(text, '\\s+')] AS bs
        FROM documents),
      g5 AS (
        SELECT doc_id, ${win(5)}
        FROM bt WHERE len(bs) >= 5),
      ${cnt(5)}, ${cnt(4)}, ${cnt(3)}, ${cnt(2)}, ${cnt(1)},
      t1 AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t FROM c1),
      w AS (
        SELECT g.doc_id,
               CASE WHEN COALESCE(x5.c, 0) > 0 THEN (1000000 * x5.c) // k4.c
                    WHEN COALESCE(n4.c, 0) > 0 THEN (400000 * n4.c) // k3.c
                    WHEN COALESCE(n3.c, 0) > 0 THEN (160000 * n3.c) // k2.c
                    WHEN COALESCE(n2.c, 0) > 0 THEN (64000 * n2.c) // k1.c
                    ELSE (25600 * (COALESCE(n1.c, 0) + 1))
                         // ((SELECT t FROM t1) + 1024)
               END AS w
        FROM g5 g
        LEFT JOIN c5 x5 ON g.b1 = x5.b1 AND g.b2 = x5.b2 AND g.b3 = x5.b3
                       AND g.b4 = x5.b4 AND g.b5 = x5.b5
        LEFT JOIN c4 k4 ON g.b1 = k4.b1 AND g.b2 = k4.b2 AND g.b3 = k4.b3
                       AND g.b4 = k4.b4
        LEFT JOIN c4 n4 ON g.b2 = n4.b1 AND g.b3 = n4.b2 AND g.b4 = n4.b3
                       AND g.b5 = n4.b4
        LEFT JOIN c3 k3 ON g.b2 = k3.b1 AND g.b3 = k3.b2 AND g.b4 = k3.b3
        LEFT JOIN c3 n3 ON g.b3 = n3.b1 AND g.b4 = n3.b2 AND g.b5 = n3.b3
        LEFT JOIN c2 k2 ON g.b3 = k2.b1 AND g.b4 = k2.b2
        LEFT JOIN c2 n2 ON g.b4 = n2.b1 AND g.b5 = n2.b2
        LEFT JOIN c1 k1 ON g.b4 = k1.b1
        LEFT JOIN c1 n1 ON g.b5 = n1.b1),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
               CAST(SUM(w) AS BIGINT) AS lm_score,
               CAST(SUM(w) AS DOUBLE) / COUNT(*) AS mean_prob_q
        FROM w GROUP BY doc_id)
      SELECT doc_id, n_ngrams, lm_score, mean_prob_q,
             CASE NTILE(3) OVER (ORDER BY mean_prob_q DESC, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS quality_band
      FROM sc ORDER BY doc_id"""
  }

  // LmScore.quantizedScoresKN twin: interpolated Kneser-Ney, order 5.
  // Continuation/type frames are COUNT(*) over the raw count CTEs'
  // rows; the interpolation chain is fixed point (Q=10^6, D=3/4 so
  // 4·c−3 and 3·typ stay integer) with one integer division (//) per
  // level — the same arithmetic the Spark side renders with `div`, so
  // the scores replay bit-for-bit. Levels with an unseen context back
  // off purely (p_k = p_{k-1}).
  private val lmScoreKnSql: String = {
    val p0 = 1000000L / 1024
    s"""
      WITH bt AS (
        SELECT doc_id, lang,
               [CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1024
                FOR t IN string_split_regex(text, '\\s+')] AS bs
        FROM documents),
      g5 AS (
        SELECT doc_id, ${lmWin(5)}
        FROM bt WHERE len(bs) >= 5),
      ${lmCnt(5)}, ${lmCnt(4)}, ${lmCnt(3)}, ${lmCnt(2)}, ${lmCnt(1)},
      t5 AS (SELECT b1, b2, b3, b4, COUNT(*) AS typ FROM c5 GROUP BY 1,2,3,4),
      q4 AS (SELECT b2, b3, b4, b5, COUNT(*) AS c FROM c5 GROUP BY 1,2,3,4),
      m4 AS (SELECT b2, b3, b4, COUNT(*) AS c FROM c5 GROUP BY 1,2,3),
      t4 AS (SELECT b1, b2, b3, COUNT(*) AS typ FROM c4 GROUP BY 1,2,3),
      q3 AS (SELECT b2, b3, b4, COUNT(*) AS c FROM c4 GROUP BY 1,2,3),
      m3 AS (SELECT b2, b3, COUNT(*) AS c FROM c4 GROUP BY 1,2),
      t3 AS (SELECT b1, b2, COUNT(*) AS typ FROM c3 GROUP BY 1,2),
      q2 AS (SELECT b2, b3, COUNT(*) AS c FROM c3 GROUP BY 1,2),
      m2 AS (SELECT b2, COUNT(*) AS c FROM c3 GROUP BY 1),
      t2 AS (SELECT b1, COUNT(*) AS typ FROM c2 GROUP BY 1),
      q1 AS (SELECT b2, COUNT(*) AS c FROM c2 GROUP BY 1),
      sCC AS (SELECT COUNT(*) AS v FROM c2),
      sU AS (SELECT COUNT(*) AS v FROM q1),
      w0 AS (
        SELECT g.doc_id,
               x5.c AS c5n, k4.c AS ctx5, ty5.typ AS typ5,
               q4.c AS cc4, m4.c AS mid4, t4.typ AS typ4,
               q3.c AS cc3, m3.c AS mid3, t3.typ AS typ3,
               q2.c AS cc2, m2.c AS mid2, t2.typ AS typ2,
               q1.c AS cc1
        FROM g5 g
        LEFT JOIN c5 x5 ON g.b1 = x5.b1 AND g.b2 = x5.b2 AND g.b3 = x5.b3
                       AND g.b4 = x5.b4 AND g.b5 = x5.b5
        LEFT JOIN c4 k4 ON g.b1 = k4.b1 AND g.b2 = k4.b2 AND g.b3 = k4.b3
                       AND g.b4 = k4.b4
        LEFT JOIN t5 ty5 ON g.b1 = ty5.b1 AND g.b2 = ty5.b2
                        AND g.b3 = ty5.b3 AND g.b4 = ty5.b4
        LEFT JOIN q4 ON g.b2 = q4.b2 AND g.b3 = q4.b3 AND g.b4 = q4.b4
                    AND g.b5 = q4.b5
        LEFT JOIN m4 ON g.b2 = m4.b2 AND g.b3 = m4.b3 AND g.b4 = m4.b4
        LEFT JOIN t4 ON g.b2 = t4.b1 AND g.b3 = t4.b2 AND g.b4 = t4.b3
        LEFT JOIN q3 ON g.b3 = q3.b2 AND g.b4 = q3.b3 AND g.b5 = q3.b4
        LEFT JOIN m3 ON g.b3 = m3.b2 AND g.b4 = m3.b3
        LEFT JOIN t3 ON g.b3 = t3.b1 AND g.b4 = t3.b2
        LEFT JOIN q2 ON g.b4 = q2.b2 AND g.b5 = q2.b3
        LEFT JOIN m2 ON g.b4 = m2.b2
        LEFT JOIN t2 ON g.b4 = t2.b1
        LEFT JOIN q1 ON g.b5 = q1.b2),
      w1 AS (
        SELECT *, CASE WHEN (SELECT v FROM sCC) > 0 THEN
            ((CASE WHEN COALESCE(cc1, 0) > 0
                   THEN (4 * cc1 - 3) * 1000000 ELSE 0 END)
             + 3 * (SELECT v FROM sU) * $p0) // (4 * (SELECT v FROM sCC))
          ELSE $p0 END AS p1
        FROM w0),
      w2 AS (
        SELECT *, CASE WHEN COALESCE(mid2, 0) > 0 THEN
            ((CASE WHEN COALESCE(cc2, 0) > 0
                   THEN (4 * cc2 - 3) * 1000000 ELSE 0 END)
             + 3 * COALESCE(typ2, 0) * p1) // (4 * mid2)
          ELSE p1 END AS p2
        FROM w1),
      w3 AS (
        SELECT *, CASE WHEN COALESCE(mid3, 0) > 0 THEN
            ((CASE WHEN COALESCE(cc3, 0) > 0
                   THEN (4 * cc3 - 3) * 1000000 ELSE 0 END)
             + 3 * COALESCE(typ3, 0) * p2) // (4 * mid3)
          ELSE p2 END AS p3
        FROM w2),
      w4 AS (
        SELECT *, CASE WHEN COALESCE(mid4, 0) > 0 THEN
            ((CASE WHEN COALESCE(cc4, 0) > 0
                   THEN (4 * cc4 - 3) * 1000000 ELSE 0 END)
             + 3 * COALESCE(typ4, 0) * p3) // (4 * mid4)
          ELSE p3 END AS p4
        FROM w3),
      w5 AS (
        SELECT doc_id, CASE WHEN COALESCE(ctx5, 0) > 0 THEN
            ((CASE WHEN COALESCE(c5n, 0) > 0
                   THEN (4 * c5n - 3) * 1000000 ELSE 0 END)
             + 3 * COALESCE(typ5, 0) * p4) // (4 * ctx5)
          ELSE p4 END AS w
        FROM w4),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
               CAST(SUM(w) AS BIGINT) AS lm_score,
               CAST(SUM(w) AS DOUBLE) / COUNT(*) AS mean_prob_q
        FROM w5 GROUP BY doc_id)
      SELECT doc_id, n_ngrams, lm_score, mean_prob_q,
             CASE NTILE(3) OVER (ORDER BY mean_prob_q DESC, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS quality_band
      FROM sc ORDER BY doc_id"""
  }

  // Bm25.quantizedTopK twin: same tokenizer (lowercased whitespace
  // split), same fixed point — idf₃ at scale 10³ (un-logged odds
  // ratio), tf_q at scale 10⁶ with floored integer avgdl, W =
  // (idf₃·tf_q) // 10³, top 25 by (score DESC, doc_id)
  private lazy val bm25Sql: String = {
    val termIn = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
      WITH dl AS (
        SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS dl,
               string_split_regex(lower(text), '\\s+') AS t
        FROM documents),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS l,
               GREATEST(1, CAST(COALESCE(SUM(dl), 0) AS BIGINT)
                 // CAST(COUNT(*) AS BIGINT)) AS avgq
        FROM dl),
      tf AS (
        SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS tok FROM dl)
        WHERE tok IN ($termIn)
        GROUP BY 1, 2, 3),
      dfq AS (
        SELECT tok, (1000 * (2 * (SELECT n FROM s) - 2 * CAST(COUNT(*) AS BIGINT) + 1))
                 // (2 * CAST(COUNT(*) AS BIGINT) + 1) AS idf3
        FROM tf GROUP BY tok),
      w AS (
        SELECT tf.doc_id,
               (dfq.idf3 * ((1000000 * 22 * tf.tf * (SELECT avgq FROM s))
                  // (10 * tf.tf * (SELECT avgq FROM s)
                      + 3 * (SELECT avgq FROM s) + 9 * tf.dl))) // 1000 AS w
        FROM tf JOIN dfq ON tf.tok = dfq.tok)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(w) AS BIGINT) AS bm25_q
      FROM w GROUP BY doc_id
      ORDER BY bm25_q DESC, doc_id LIMIT 25"""
  }

  // Sft.rouge2Dedup twin: same response synthesis (planted id≡3 mod 10
  // near-dups), same prefix-2 blocking, distinct-bigram max-recall,
  // transitive closure via the d6 recursive-reachability pattern
  private val sftRougeDedupSql: String = """
      WITH RECURSIVE base AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS toks
        FROM documents),
      resp AS (
        SELECT b.doc_id,
               CASE WHEN b.doc_id % 10 = 3 AND d.doc_id IS NOT NULL
                 THEN concat(array_to_string(d.toks[9:15], ' '), ' altered')
                 ELSE array_to_string(b.toks[9:16], ' ') END AS response
        FROM base b LEFT JOIN base d ON d.doc_id = b.doc_id - 3),
      rt AS (
        SELECT doc_id, string_split_regex(response, '\s+') AS rtoks
        FROM resp),
      sets AS (
        SELECT doc_id,
               array_to_string(rtoks[1:2], ' ') AS blk,
               list_distinct([array_to_string(rtoks[i:i+1], ' ')
                 FOR i IN range(1, len(rtoks))]) AS bg
        FROM rt
        WHERE len(rtoks) >= 2),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sets a JOIN sets b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE GREATEST(
                CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(a.bg),
                CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(b.bg))
              >= 0.6),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src)
      SELECT doc_id FROM resp
      WHERE doc_id NOT IN
        (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
      ORDER BY doc_id"""

  // Sft.rougeLPairs twin: same response synthesis and prefix-2
  // blocking as sftRougeDedupSql; the LCS itself is replayed cell for
  // cell with DuckDB nested list_reduce lambdas — the accumulator is
  // the DP row (list_prepend carries the init row; the fold index
  // rides as a 1-element list so accumulator and element types match)
  private val sftRougeLSql: String = """
      WITH base AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS toks
        FROM documents),
      resp AS (
        SELECT b.doc_id,
               CASE WHEN b.doc_id % 10 = 3 AND d.doc_id IS NOT NULL
                 THEN concat(array_to_string(d.toks[9:15], ' '), ' altered')
                 ELSE array_to_string(b.toks[9:16], ' ') END AS response
        FROM base b LEFT JOIN base d ON d.doc_id = b.doc_id - 3),
      rt AS (
        SELECT doc_id, string_split_regex(response, '\s+') AS t
        FROM resp),
      sets AS (
        SELECT doc_id, array_to_string(t[1:2], ' ') AS blk, t
        FROM rt WHERE len(t) >= 2),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.t AS ta, b.t AS tb
        FROM sets a JOIN sets b ON a.blk = b.blk AND a.doc_id < b.doc_id),
      scored AS (
        SELECT id_a, id_b, len(ta) AS la, len(tb) AS lb,
          list_reduce(
            list_prepend(list_transform(range(0, len(tb)+1), x -> 0),
                         list_transform(range(1, len(ta)+1), i -> [i])),
            (prev, il) -> list_reduce(
                list_prepend([0], list_transform(range(1, len(tb)+1), j -> [j])),
                (cur, jl) -> list_append(cur, greatest(
                    prev[jl[1]+1],
                    cur[len(cur)],
                    prev[jl[1]] +
                      CASE WHEN tb[jl[1]] = ta[il[1]] THEN 1 ELSE 0 END)))
          )[len(tb)+1] AS lcs
        FROM cand)
      SELECT id_a, id_b, CAST(lcs AS BIGINT) AS lcs,
             GREATEST(lcs / la, lcs / lb) AS rouge_l
      FROM scored
      WHERE GREATEST(lcs / la, lcs / lb) >= 0.7
      ORDER BY id_a, id_b"""

  // TextFunctions.redact twin over the shared dirty synthesis — the
  // CTE pack (dirty → clean) both redaction oracles splice, one
  // spelling so the scrub chain cannot drift between them (raw string:
  // the regex backslashes must survive)
  private val redactCleanCtes: String = """dirty AS (
        SELECT doc_id,
               concat(text, ' contact user', doc_id, '@example.com or ',
                      'https://example.org/doc/', doc_id,
                      ' call +1 (555) 123-4567 or 555-867-5309 from 192.168.1.',
                      CAST(doc_id % 250 AS VARCHAR),
                      ' v6 fe80:0db8:85a3:0001:0000:8a2e:0370:7334 ssn 078-05-1120') AS dirty
        FROM documents),
      clean AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(dirty,
                             'https?://[^\s/$.?#][^\s]*', '<URL>', 'g'),
                           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                         '\b([0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}\b', '<IP>', 'g'),
                       '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
                   '(\+[0-9]{1,3}[\s-])?\([0-9]{3}\)[\s-]?[0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
                 '(\+[0-9]{1,3}[\s-])?\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS clean
        FROM dirty)"""

  // per-type redaction accounting over the same clean relation,
  // generated from TextFunctions.RedactionTokens
  private lazy val redactAuditSql: String = {
    val rows = graft.text.TextFunctions.RedactionTokens.map { t =>
      s"""SELECT '$t' AS pii_type,
             CAST(SUM((length(clean) - length(replace(clean, '$t', '')))
               // ${t.length}) AS BIGINT) AS n_redactions,
             CAST(SUM(CASE WHEN contains(clean, '$t') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs
      FROM clean"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH $redactCleanCtes
      $rows
      ORDER BY pii_type"""
  }

  // UrlOps twin: the same dirty-URL synthesis and the normalization
  // contract (lower scheme+host, keep path case, strip #fragment and
  // trailing '/' runs) in DuckDB's RE2 — patterns restricted to the
  // Java/RE2 common subset
  private val urlSynthSql = """
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HtTpS' ELSE 'http' END
              || '://'
              || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
              || '.Example.COM/' || lang || '/Item/'
              || CAST(doc_id % 7 AS VARCHAR)
              || CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
              || CASE WHEN doc_id % 5 = 4 THEN '?next=/' ELSE '' END
              || CASE WHEN doc_id % 3 = 2 THEN '#sec' || CAST(doc_id AS VARCHAR)
                      ELSE '' END) AS url
      FROM documents"""

  private val urlNormSql = """
      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        || '://'
        || lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
        || rtrim(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/')
        || regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*(\?[^#]*)', 1)"""

  // domainOf twin: authority minus userinfo/port/trailing dots
  private val urlDomainSql = """
      lower(rtrim(regexp_replace(regexp_replace(
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        '^.*@', ''), ':[0-9]*$', ''), '.'))"""

  // Quality-classifier twin: hashed bigram buckets (the repo-wide md5
  // scheme, same CTE shape as the DSIR twin), committed quantized
  // weights rendered as VALUES from the SAME QualityModelFixture
  // constants the Spark query reads — the two sides cannot drift.
  private val clfValuesSql = QualityModelFixture.weightsQ
    .map { case (b, w) => s"($b, $w)" }.mkString(", ")
  private val clfScoreSql = s"""
      WITH b AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                 % ${QualityModelFixture.buckets} AS bucket
        FROM (
          SELECT doc_id,
                 unnest([array_to_string(toks[i:i+1], ' ')
                         FOR i IN range(1, len(toks))]) AS gram
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents)
          WHERE len(toks) >= 2)),
      c AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
      w AS (SELECT * FROM (VALUES $clfValuesSql) AS t(bucket, wq)),
      sc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(c * COALESCE(w.wq, 0)) AS BIGINT) AS clf_score
        FROM c LEFT JOIN w USING (bucket) GROUP BY doc_id),
      clf AS (
        SELECT doc_id, n_bigrams, clf_score,
               CAST(clf_score + ${QualityModelFixture.biasQ} * n_bigrams
                 AS BIGINT) AS clf_margin,
               CAST(CASE WHEN clf_score
                     + ${QualityModelFixture.biasQ} * n_bigrams >= 0
                    THEN 1 ELSE 0 END AS INT) AS clf_pass
        FROM sc)"""

  // Cavnar-Trenkle twin: the committed (lang, gram, rank) profiles
  // render as VALUES from the same LangProfile constants the Spark
  // query reads; ranking tie-breaks (count desc, gram asc; distance
  // asc, lang asc) are pinned on both sides.
  private val langProfValuesSql = graft.text.LangProfile.profiles
    .map { case (l, g, r) => s"('$l', '${g.replace("'", "''")}', $r)" }
    .mkString(", ")

  // the SAME HTML-synthesis template as synthHtmlCol, by string
  // concatenation over the same token slices (plain string — '\s'
  // must survive; spliced as an interpolation ARGUMENT, never
  // escape-processed)
  private val htmlSynthSql = """
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style type="text/css">p { color: #333; }</style>' ||
             '<script>if (1 < 2) { x = "y"; }</script></head><body><!-- id ' ||
             CAST(doc_id AS VARCHAR) || ' --><h1>' ||
             COALESCE(array_to_string(toks[1:4], ' '), '') || '</h1><p>' ||
             COALESCE(array_to_string(toks[5:12], ' '), '') ||
             ' &amp; more.</p><div class="x">' ||
             COALESCE(array_to_string(toks[13:20], ' '), '') ||
             '</div><br/><span>tail ' || CAST(doc_id AS VARCHAR) ||
             '</span></body></html>' AS html
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
            FROM documents)"""

  // Html.extractText's regex chain verbatim over a `html` column
  // (DuckDB regexp_replace needs the explicit 'g' — Spark's is global
  // by default); block-tag list must match Html.BlockTags and the
  // entity chain is GENERATED from Html.Entities so the two engines
  // cannot drift
  private val htmlExtractSql: String = {
    val tagStripped = """
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
                        '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                      '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                    '(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|hr|section|article|header|footer|blockquote|title|head|body|html)\b[^>]*>',
                    chr(10), 'g'),
                  '<[^>]*>', ' ', 'g')"""
    def sq(s: String) = s.replace("'", "''")
    val decoded = graft.text.Html.Entities.foldLeft(tagStripped) {
      case (inner, (from, to)) =>
        s"replace($inner, '${sq(from)}', '${sq(to)}')"
    }
    s"""
      array_to_string(
        list_filter(
          list_transform(
            string_split($decoded,
              chr(10)),
            l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))),
          x -> x <> ''),
        chr(10))"""
  }

  // the SAME conversation-synthesis template as synthConvCol, by
  // string concatenation over the same token slices
  private val sftConvSql = """
      SELECT doc_id,
             '[{"role":"user","content":"' || array_to_string(toks[1:8], ' ')
             || '"},{"role":"'
             || CASE WHEN doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END
             || '","content":"' || array_to_string(toks[9:16], ' ')
             || '"},{"role":"user","content":"again '
             || CAST(doc_id AS VARCHAR) || '"}]' AS conv
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
            FROM documents)"""
  private val sftTurnsSql = """
      SELECT doc_id, CAST(i AS INT) AS turn_idx,
             json_extract_string(conv, '$[' || i || '].role') AS role,
             json_extract_string(conv, '$[' || i || '].content') AS content
      FROM conv, (SELECT unnest([0, 1, 2]) AS i)"""

  // self-contained (doc_id, text) relation of the synthesized TURN
  // CONTENTS, keyed doc_id*4+turn_idx (unique: turn_idx < 3) — feeds
  // BpeOracleSql.preludeFor so the oracle's recursive merge loop runs
  // over the words conversations actually contain
  private val sftTurnRelSql = s"""(
      WITH conv AS ($sftConvSql),
      turns AS ($sftTurnsSql)
      SELECT doc_id * 4 + turn_idx AS doc_id, content AS text FROM turns)"""

  // the FULL pretraining pipeline as one reusable CTE pack ending at
  // samp2(doc_id, source, clean) — spliced twice into the flagship
  // oracle: once at top level for the stage counts, once inside the
  // self-contained relation the BPE prelude tokenizes (the dict CTEs
  // must see exactly the sampled survivors' cleaned text)
  private lazy val pretrainCtes: String = s"""
      bl AS (
        SELECT doc_id FROM documents
        WHERE len(list_filter(string_split_regex(text, '\\s+'),
          x2 -> list_contains(['slow', 'lorem', 'ipsum'], lower(x2)))) <= 2),
      lsc AS (
        SELECT doc_id, ${langCase._1}
        FROM (SELECT doc_id,
                     list_distinct(string_split_regex(text, '\\s+')) AS toks
              FROM documents)),
      lng AS (
        SELECT lsc.doc_id FROM lsc JOIN bl ON lsc.doc_id = bl.doc_id
        WHERE ${langCase._3} > 0 AND ${langCase._2} = 'en'),
      t AS ($gopherPrepSql),
      m AS ($gopherMetricsSql),
      g AS (SELECT m.doc_id FROM m JOIN lng ON m.doc_id = lng.doc_id
            WHERE $gopherPassSql),
      seg AS (
        SELECT d.doc_id, d.source, $segmentLinesSql AS t2
        FROM documents d JOIN g ON d.doc_id = g.doc_id),
      f AS (
        SELECT doc_id, source, string_split(t2, chr(10)) AS lines FROM seg
        WHERE NOT (contains(lower(t2), 'lorem ipsum') OR contains(t2, '{'))),
      c AS (
        SELECT doc_id, source, array_to_string($c4KeptSql, chr(10)) AS clean
        FROM f),
      c2 AS (SELECT doc_id, source, clean FROM c WHERE clean <> ''),
      bkt AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                 % ${graft.text.QualityModelFixture.buckets} AS bucket
        FROM (
          SELECT doc_id,
                 unnest([array_to_string(toks2[i:i+1], ' ')
                         FOR i IN range(1, len(toks2))]) AS gram
          FROM (SELECT doc_id, string_split_regex(clean, '\\s+') AS toks2
                FROM c2)
          WHERE len(toks2) >= 2)),
      cc2 AS (SELECT doc_id, bucket, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
      w AS (SELECT * FROM (VALUES $clfValuesSql) AS t(bucket, wq)),
      sc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(c * COALESCE(w.wq, 0)) AS BIGINT) AS clf_score
        FROM cc2 LEFT JOIN w USING (bucket) GROUP BY doc_id),
      mk AS (
        SELECT c2.doc_id, c2.source, c2.clean
        FROM c2 JOIN sc ON c2.doc_id = sc.doc_id
        WHERE sc.clf_score
          + ${graft.text.QualityModelFixture.biasQ} * sc.n_bigrams >= 0),
      ex AS (
        SELECT doc_id, source, clean FROM (
          SELECT doc_id, source, clean,
                 ROW_NUMBER() OVER (PARTITION BY clean ORDER BY doc_id) AS rn
          FROM mk) WHERE rn = 1),
      sets AS (
        SELECT doc_id,
               list_distinct([array_to_string(ctoks[i:i+4], ' ')
                              FOR i IN range(1, len(ctoks) - 3)]) AS sh
        FROM (SELECT doc_id, string_split_regex(clean, '\\s+') AS ctoks
              FROM ex)
        WHERE len(ctoks) >= 5),
      prs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                >= 0.8),
      edg AS (
        SELECT id_a AS esrc, id_b AS edst FROM prs
        UNION SELECT id_b, id_a FROM prs),
      rch(rsrc, rdst) AS (
        SELECT DISTINCT esrc, esrc FROM edg
        UNION
        SELECT r.rsrc, e2.edst FROM rch r JOIN edg e2 ON r.rdst = e2.esrc),
      cmp AS (SELECT rsrc AS doc_id, MIN(rdst) AS cluster_id
              FROM rch GROUP BY rsrc),
      nd AS (
        SELECT ex.doc_id, ex.source, ex.clean FROM ex
        WHERE ex.doc_id NOT IN
          (SELECT doc_id FROM cmp WHERE doc_id <> cluster_id)),
      efp AS (
        SELECT DISTINCT fp FROM (
          SELECT $fpSql AS fp
          FROM (SELECT string_split_regex(text, '\\s+') AS toks
                FROM documents WHERE source = 'src0'))
        WHERE fp IS NOT NULL),
      ndf AS (
        SELECT doc_id, source, clean, $fpSql AS fp
        FROM (SELECT doc_id, source, clean,
                     string_split_regex(clean, '\\s+') AS toks FROM nd)),
      dec AS (
        SELECT doc_id, source, clean FROM ndf
        WHERE fp IS NULL OR fp NOT IN (SELECT fp FROM efp)),
      esp AS (
        SELECT DISTINCT span FROM (
          SELECT unnest(list_distinct([array_to_string(etoks[i:i+7], ' ')
                                       FOR i IN range(1, len(etoks) - 6)])) AS span
          FROM (SELECT string_split_regex(text, '\\s+') AS etoks
                FROM documents WHERE source = 'src0')
          WHERE len(etoks) >= 8)),
      dn AS (
        SELECT doc_id, source, clean FROM dec
        WHERE doc_id NOT IN (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id,
                   unnest(list_distinct([array_to_string(dtoks[i:i+7], ' ')
                                         FOR i IN range(1, len(dtoks) - 6)]))
                     AS span
            FROM (SELECT doc_id, string_split_regex(clean, '\\s+') AS dtoks
                  FROM dec)
            WHERE len(dtoks) >= 8)
          WHERE span IN (SELECT span FROM esp))),
      samp2 AS (
        SELECT doc_id, source, clean FROM dn
        WHERE $bucketSql < 500000)"""

  // the full-flagship stage recomputation — shared verbatim by the
  // batch query (tx_pretrain_pipeline) and the STREAMING composition
  // (tx_pretrain_stream): one oracle string for both IS the
  // streamed == batch equivalence claim, independently recomputed
  private lazy val pretrainOracleSql: String = {
      val rel =
        s"(WITH RECURSIVE $pretrainCtes SELECT doc_id, clean AS text FROM samp2)"
      s"""
      WITH RECURSIVE ${BpeOracleSql.dictCtesFor(rel)},
      ${BpeOracleSql.docCtesFor(rel)},
      $pretrainCtes,
      pk AS (
        SELECT s2.source, s2.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens
        FROM samp2 s2 JOIN bpe_docs b ON s2.doc_id = b.doc_id),
      pc AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM pk),
      b2 AS (
        SELECT DISTINCT source, CAST((c - n_tokens) // 2048 AS BIGINT) AS bid
        FROM pc)
      SELECT CAST(0 AS INT) AS stage_idx, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'blocklist', CAST((SELECT COUNT(*) FROM bl) AS BIGINT)
      UNION ALL SELECT 2, 'lang', CAST((SELECT COUNT(*) FROM lng) AS BIGINT)
      UNION ALL SELECT 3, 'gopher', CAST((SELECT COUNT(*) FROM g) AS BIGINT)
      UNION ALL SELECT 4, 'c4', CAST((SELECT COUNT(*) FROM c2) AS BIGINT)
      UNION ALL SELECT 5, 'model', CAST((SELECT COUNT(*) FROM mk) AS BIGINT)
      UNION ALL SELECT 6, 'exact_dedup',
                CAST((SELECT COUNT(*) FROM ex) AS BIGINT)
      UNION ALL SELECT 7, 'near_dedup',
                CAST((SELECT COUNT(*) FROM nd) AS BIGINT)
      UNION ALL SELECT 8, 'decontaminated',
                CAST((SELECT COUNT(*) FROM dec) AS BIGINT)
      UNION ALL SELECT 9, 'decon_near',
                CAST((SELECT COUNT(*) FROM dn) AS BIGINT)
      UNION ALL SELECT 10, 'sampled',
                CAST((SELECT COUNT(*) FROM samp2) AS BIGINT)
      UNION ALL SELECT 11, 'batches', CAST((SELECT COUNT(*) FROM b2) AS BIGINT)
      ORDER BY stage_idx"""
  }

  /** DuckDB replay of the DISTRIBUTED BPE training loop
    * ([[graft.text.BpeTrain.trainDistributed]]): `n` merge rounds
    * UNROLLED as materialized CTE pairs (b_k = winning pair by
    * freq DESC then pair ASC — DuckDB's binary collation == Spark's
    * UTF8 binary == codepoint order; s_k = the merge applied
    * left-to-right non-overlapping via a list_reduce fold with the
    * list-prepend init trick). Materialization is load-bearing: DuckDB
    * inlines plain CTEs per reference, which would make the round
    * chain exponential. */
  private def bpeTrainOracleSql(n: Int): String = {
    val rounds = (1 to n).map { k =>
      s"""
    b$k AS MATERIALIZED (
      SELECT l, r, CAST(SUM(freq) AS BIGINT) AS f
      FROM (SELECT unnest([{'l': syms[i], 'r': syms[i+1]}
                           FOR i IN range(1, len(syms))],
                          recursive := true), freq FROM s${k - 1})
      GROUP BY l, r ORDER BY f DESC, l, r LIMIT 1),
    s$k AS MATERIALIZED (
      SELECT list_reduce(
               list_prepend([]::VARCHAR[], [[x] FOR x IN syms]),
               (acc, e) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l
                                 AND e[1] = b.r
                           THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                            b.l || b.r)
                           ELSE list_append(acc, e[1]) END) AS syms,
             freq
      FROM s${k - 1}, b$k b)"""
    }.mkString(",")
    val mrows = (1 to n).map(k =>
      s"SELECT ${k - 1} AS rank, l, r, f FROM b$k").mkString("\nUNION ALL ")
    s"""
    WITH
    wc AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT list_append(string_split(w, ''), '</w>') AS syms, freq FROM wc),
    base AS (SELECT DISTINCT unnest(string_split(w, '')) AS c FROM wc),
    $rounds,
    mrows AS ($mrows),
    vrows AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY grp, ord, sym) - 1 AS INT)
               AS rank, sym
      FROM (SELECT 0 AS grp, 0 AS ord, c AS sym FROM base
            UNION ALL SELECT 1, 0, '</w>'
            UNION ALL SELECT 2, rank + 1, l || r FROM mrows))
    SELECT 'merge' AS kind, CAST(rank AS INT) AS rank, l AS lhs, r AS rhs,
           l || r AS sym, f AS freq FROM mrows
    UNION ALL
    SELECT 'vocab', rank, '', '', sym, CAST(0 AS BIGINT) FROM vrows"""
  }

  val oracles: Map[String, String] = Map(
    "tx_bpe_train" -> bpeTrainOracleSql(12),
    "tx_pretrain_pipeline" -> pretrainOracleSql,
    "tx_pretrain_stream" -> pretrainOracleSql,
    // the ledger is the same CTE pack read per-document: first stage a
    // doc is ABSENT from is its outcome
    "tx_pretrain_ledger" -> s"""
      WITH RECURSIVE $pretrainCtes
      SELECT d.doc_id,
             CASE
               WHEN d.doc_id NOT IN (SELECT doc_id FROM bl) THEN 'blocklist'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM lng) THEN 'lang'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM g) THEN 'gopher'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM c2) THEN 'c4'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM mk) THEN 'model'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM ex) THEN 'exact_dedup'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM nd) THEN 'near_dedup'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM dec)
                 THEN 'decontaminated'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM dn) THEN 'decon_near'
               WHEN d.doc_id NOT IN (SELECT doc_id FROM samp2) THEN 'sampled'
               ELSE 'kept' END AS outcome
      FROM documents d ORDER BY d.doc_id""",
    "sft_pref_pairs" -> """
      WITH cand AS (
        SELECT doc_id % 100 AS prompt_id,
               COALESCE(array_to_string(toks[9:16], ' '), '') AS response
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
              FROM documents)),
      sc AS (
        SELECT prompt_id, response,
               CAST(length(response) AS BIGINT) AS score
        FROM cand),
      ch AS (
        SELECT prompt_id, response AS chosen, score AS cs FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY prompt_id
            ORDER BY score DESC, response) AS rn FROM sc) WHERE rn = 1),
      rj AS (
        SELECT prompt_id, response AS rejected, score AS rs FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY prompt_id
            ORDER BY score ASC, response) AS rn FROM sc) WHERE rn = 1)
      SELECT ch.prompt_id,
             md5(chosen) AS chosen_md5, md5(rejected) AS rejected_md5,
             cs AS chosen_score, rs AS rejected_score,
             CAST(cs - rs AS BIGINT) AS margin
      FROM ch JOIN rj ON ch.prompt_id = rj.prompt_id
      WHERE cs > rs ORDER BY ch.prompt_id""",
    "sft_dedup" -> s"""
      WITH conv AS ($sftConvSql),
      turns AS ($sftTurnsSql),
      a AS (
        SELECT doc_id,
               md5(COALESCE(string_agg(md5(content), '' ORDER BY turn_idx)
                 FILTER (WHERE role = 'assistant'), '')) AS assistant_md5
        FROM turns GROUP BY doc_id)
      SELECT assistant_md5, MIN(doc_id) AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_convs
      FROM a GROUP BY assistant_md5 ORDER BY doc_id""",
    "sft_turns" -> s"""
      WITH conv AS ($sftConvSql),
      turns AS ($sftTurnsSql)
      SELECT doc_id, turn_idx, role, md5(content) AS content_md5,
             CAST(len(string_split_regex(content, '\\s+')) AS BIGINT)
               AS n_tokens
      FROM turns ORDER BY doc_id, turn_idx""",
    "sft_stats" -> s"""
      ${BpeOracleSql.preludeFor(sftTurnRelSql)},
      conv AS ($sftConvSql),
      turns AS ($sftTurnsSql),
      t AS (
        SELECT tu.doc_id, tu.turn_idx, tu.role,
               CAST(b.n_tokens AS BIGINT) AS tk,
               LAG(tu.role) OVER (PARTITION BY tu.doc_id
                 ORDER BY tu.turn_idx) AS prev
        FROM turns tu
        JOIN bpe_docs b ON tu.doc_id * 4 + tu.turn_idx = b.doc_id)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_user,
             CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_assistant,
             CAST(SUM(tk) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN role = 'assistant' THEN tk ELSE 0 END)
               AS BIGINT) AS assistant_tokens,
             CAST(CASE WHEN
                 MIN(CASE WHEN turn_idx = 0 THEN role END) = 'user'
                 AND SUM(CASE WHEN role = prev THEN 1 ELSE 0 END) = 0
                 AND SUM(CASE WHEN role IN ('user', 'assistant')
                         THEN 1 ELSE 0 END) = COUNT(*)
               THEN 1 ELSE 0 END AS INT) AS valid
      FROM t GROUP BY doc_id ORDER BY doc_id""",
    "sft_pack_bpe" -> s"""
      ${BpeOracleSql.preludeFor(sftTurnRelSql)},
      conv AS ($sftConvSql),
      turns AS ($sftTurnsSql),
      at AS (
        SELECT tu.doc_id,
               CAST(SUM(CASE WHEN tu.role = 'assistant'
                 THEN b.n_tokens ELSE 0 END) AS BIGINT) AS atoks
        FROM turns tu
        JOIN bpe_docs b ON tu.doc_id * 4 + tu.turn_idx = b.doc_id
        GROUP BY tu.doc_id),
      j AS (
        SELECT d.source, a.doc_id, a.atoks
        FROM at a JOIN documents d ON a.doc_id = d.doc_id),
      cum AS (
        SELECT source, doc_id, atoks,
               SUM(atoks) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM j)
      SELECT source, CAST((c - atoks) // 256 AS BIGINT) AS batch_id,
             COUNT(*) AS n_convs,
             CAST(SUM(atoks) AS BIGINT) AS batch_tokens
      FROM cum
      GROUP BY source, CAST((c - atoks) // 256 AS BIGINT)
      ORDER BY source, batch_id""",
    "sft_funnel" -> s"""
      ${BpeOracleSql.preludeFor(sftTurnRelSql)},
      conv AS ($sftConvSql),
      turns AS ($sftTurnsSql),
      v AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 MIN(CASE WHEN turn_idx = 0 THEN role END) AS fst,
                 SUM(CASE WHEN role = prev THEN 1 ELSE 0 END) AS dups,
                 SUM(CASE WHEN role IN ('user', 'assistant')
                     THEN 1 ELSE 0 END) AS okroles,
                 COUNT(*) AS n
          FROM (SELECT doc_id, turn_idx, role,
                       LAG(role) OVER (PARTITION BY doc_id
                         ORDER BY turn_idx) AS prev
                FROM turns)
          GROUP BY doc_id)
        WHERE fst = 'user' AND dups = 0 AND okroles = n),
      a AS (
        SELECT doc_id,
               md5(COALESCE(string_agg(md5(content), '' ORDER BY turn_idx)
                 FILTER (WHERE role = 'assistant'), '')) AS k
        FROM turns WHERE doc_id IN (SELECT doc_id FROM v)
        GROUP BY doc_id),
      surv AS (SELECT MIN(doc_id) AS doc_id FROM a GROUP BY k),
      at AS (
        SELECT tu.doc_id,
               CAST(SUM(CASE WHEN tu.role = 'assistant'
                 THEN b.n_tokens ELSE 0 END) AS BIGINT) AS atoks
        FROM turns tu
        JOIN bpe_docs b ON tu.doc_id * 4 + tu.turn_idx = b.doc_id
        WHERE tu.doc_id IN (SELECT doc_id FROM surv)
        GROUP BY tu.doc_id),
      j AS (
        SELECT d.source, a2.doc_id, a2.atoks
        FROM at a2 JOIN documents d ON a2.doc_id = d.doc_id),
      cum AS (
        SELECT source, doc_id, atoks,
               SUM(atoks) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM j),
      b2 AS (
        SELECT DISTINCT source, CAST((c - atoks) // 256 AS BIGINT) AS bid
        FROM cum)
      SELECT CAST(0 AS INT) AS stage_idx, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'valid', CAST((SELECT COUNT(*) FROM v) AS BIGINT)
      UNION ALL SELECT 2, 'response_dedup',
                CAST((SELECT COUNT(*) FROM surv) AS BIGINT)
      UNION ALL SELECT 3, 'batches', CAST((SELECT COUNT(*) FROM b2) AS BIGINT)
      ORDER BY stage_idx""",
    "tx_blocklist" -> """
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               t -> list_contains(['slow', 'lorem', 'ipsum'], lower(t))))
               AS BIGINT) AS n_hits,
             CAST(CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
               t -> list_contains(['slow', 'lorem', 'ipsum'], lower(t)))) = 0
               THEN 1 ELSE 0 END AS INT) AS passed
      FROM documents ORDER BY doc_id""",
    "tx_html_extract" -> s"""
      WITH h AS ($htmlSynthSql),
      xr AS (SELECT doc_id, $htmlExtractSql AS xt FROM h)
      SELECT doc_id, md5(xt) AS clean_md5,
             CAST(len(string_split(xt, chr(10))) AS BIGINT) AS n_lines,
             CAST(length(xt) AS BIGINT) AS n_chars
      FROM xr ORDER BY doc_id""",
    "tx_html_funnel" -> s"""
      WITH h AS ($htmlSynthSql),
      xr AS (SELECT doc_id, $htmlExtractSql AS xt FROM h),
      t AS (
        SELECT doc_id, xt,
               string_split_regex(xt, '\\s+') AS toks,
               len(regexp_replace(xt, '\\s+', '', 'g')) AS nonws,
               string_split(xt, chr(10)) AS lines,
               len(regexp_extract_all(xt, '#|\\.\\.\\.')) AS n_sym
        FROM xr),
      m AS (
        SELECT doc_id, xt, lines,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN
                 CAST(nonws AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(toks) > 0 THEN
                 CAST(n_sym AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(toks) > 0 THEN
                 CAST(len(list_filter(toks, x2 -> regexp_matches(x2, '[A-Za-z]')))
                      AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS alpha_word_ratio,
               CAST(len(list_intersect(list_distinct(toks),
                 ['the','be','to','of','and','that','have','with']))
                 AS BIGINT) AS n_stop_words,
               CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, x2 ->
                   starts_with(trim(x2), '-') OR starts_with(trim(x2), '*')))
                      AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                 ELSE 0.0 END AS bullet_ratio,
               CASE WHEN len(lines) > 0 THEN
                 CAST(len(list_filter(lines, x2 -> ends_with(trim(x2), '...')))
                      AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                 ELSE 0.0 END AS ellipsis_ratio
        FROM t),
      g AS (
        SELECT doc_id, xt, lines FROM m
        WHERE n_tokens BETWEEN 20 AND 100000
          AND mean_word_len >= 3 AND mean_word_len <= 10
          AND symbol_ratio < 0.1
          AND bullet_ratio < 0.9 AND ellipsis_ratio < 0.3
          AND alpha_word_ratio > 0.8
          AND n_stop_words >= 1),
      c AS (
        SELECT doc_id, array_to_string($c4KeptSql, chr(10)) AS clean
        FROM g
        WHERE NOT (contains(lower(xt), 'lorem ipsum') OR contains(xt, '{'))),
      c2 AS (SELECT doc_id, clean FROM c WHERE clean <> ''),
      ded AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY clean ORDER BY doc_id) AS rn
          FROM c2) WHERE rn = 1),
      samp AS (
        SELECT doc_id FROM ded
        WHERE $bucketSql < 500000)
      SELECT CAST(0 AS INT) AS stage_idx, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'gopher', CAST((SELECT COUNT(*) FROM g) AS BIGINT)
      UNION ALL SELECT 2, 'c4', CAST((SELECT COUNT(*) FROM c2) AS BIGINT)
      UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT COUNT(*) FROM ded) AS BIGINT)
      UNION ALL SELECT 4, 'sampled', CAST((SELECT COUNT(*) FROM samp) AS BIGINT)
      ORDER BY stage_idx""",
    "tx_funnel_model" -> s"""
      WITH t AS ($gopherPrepSql),
      m AS ($gopherMetricsSql),
      g AS (SELECT doc_id FROM m WHERE $gopherPassSql),
      seg AS (
        SELECT d.doc_id, $segmentLinesSql AS t2
        FROM documents d JOIN g ON d.doc_id = g.doc_id),
      f AS (
        SELECT doc_id, string_split(t2, chr(10)) AS lines FROM seg
        WHERE NOT (contains(lower(t2), 'lorem ipsum') OR contains(t2, '{'))),
      c AS (
        SELECT doc_id, array_to_string($c4KeptSql, chr(10)) AS clean
        FROM f),
      c2 AS (SELECT doc_id, clean FROM c WHERE clean <> ''),
      b AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                 % ${QualityModelFixture.buckets} AS bucket
        FROM (
          SELECT doc_id,
                 unnest([array_to_string(toks[i:i+1], ' ')
                         FOR i IN range(1, len(toks))]) AS gram
          FROM (SELECT doc_id, string_split_regex(clean, '\\s+') AS toks
                FROM c2)
          WHERE len(toks) >= 2)),
      cc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
      w AS (SELECT * FROM (VALUES $clfValuesSql) AS t(bucket, wq)),
      sc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * COALESCE(w.wq, 0)) AS BIGINT) AS s
        FROM cc LEFT JOIN w USING (bucket) GROUP BY doc_id),
      keep AS (SELECT doc_id FROM sc
               WHERE s + ${QualityModelFixture.biasQ} * n >= 0),
      ded AS (
        SELECT doc_id FROM (
          SELECT c2.doc_id,
                 ROW_NUMBER() OVER (PARTITION BY clean
                                    ORDER BY c2.doc_id) AS rn
          FROM c2 JOIN keep ON c2.doc_id = keep.doc_id) WHERE rn = 1)
      SELECT CAST(0 AS INT) AS stage_idx, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'gopher', CAST((SELECT COUNT(*) FROM g) AS BIGINT)
      UNION ALL SELECT 2, 'c4', CAST((SELECT COUNT(*) FROM c2) AS BIGINT)
      UNION ALL SELECT 3, 'model', CAST((SELECT COUNT(*) FROM keep) AS BIGINT)
      UNION ALL SELECT 4, 'exact_dedup',
        CAST((SELECT COUNT(*) FROM ded) AS BIGINT)
      ORDER BY stage_idx""",
    "tx_heavy_tokens" -> """
      WITH t AS (
        SELECT unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM t GROUP BY token)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT)
               AS rank, token, cnt
      FROM c
      QUALIFY rank <= 64
      ORDER BY rank""",
    // KmvMinHashesAgg twin: the k smallest distinct 60-bit hashes per
    // source replay exactly (deterministic hash), so the k-th hash,
    // the Beyer et al. estimate, and the relative error are all
    // value-pinned, not tolerance-checked
    "tx_kmv_distinct" -> """
      WITH s AS (
        SELECT source, string_split_regex(text, '\s+') AS toks
        FROM documents),
      g AS (
        SELECT source, unnest([array_to_string(toks[i:i+2], ' ')
                               FOR i IN range(1, len(toks) - 1)]) AS g
        FROM s),
      h AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM g),
      r AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS nd
        FROM h),
      agg AS (
        SELECT source,
               CAST(MAX(nd) AS BIGINT) AS exact_distinct,
               CAST(LEAST(MAX(nd), 256) AS BIGINT) AS n_kept,
               MAX(CASE WHEN rn = LEAST(nd, 256) THEN h END) AS kth_hash
        FROM r GROUP BY source)
      SELECT source, exact_distinct, n_kept, kth_hash,
             CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
                  ELSE 255.0 * 1152921504606846976 / kth_hash END
               AS est_distinct,
             abs((CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
                       ELSE 255.0 * 1152921504606846976 / kth_hash END)
                 - exact_distinct) / exact_distinct AS rel_err
      FROM agg
      ORDER BY source""",
    // NfcNormalizeExpr twin: DuckDB nfc_normalize implements the same
    // UAX #15 as the JDK Normalizer; chr() builds the decomposed /
    // composed / singleton suffixes so no editor can re-normalize them
    "tx_nfc_dedup" -> """
      WITH prev AS (
        SELECT doc_id + 1 AS doc_id, text AS prev_text FROM documents),
      dirty AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 10 = 6
                      THEN d.text || ' cafe' || chr(769) || ' A' || chr(778)
                    WHEN d.doc_id % 10 = 7 AND p.prev_text IS NOT NULL
                      THEN p.prev_text || ' caf' || chr(233) || ' ' || chr(197)
                    WHEN d.doc_id % 10 = 2
                      THEN d.text || ' ' || chr(8491)
                    ELSE d.text END AS raw
        FROM documents d LEFT JOIN prev p ON d.doc_id = p.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN nfc_normalize(raw) <> raw
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             CAST(COUNT(DISTINCT raw) AS BIGINT) AS distinct_raw,
             CAST(COUNT(DISTINCT nfc_normalize(raw)) AS BIGINT)
               AS distinct_nfc,
             CAST(COUNT(DISTINCT raw) - COUNT(DISTINCT nfc_normalize(raw))
                  AS BIGINT) AS collapsed
      FROM dirty""",
    // txKmvOverlap twin: sketches replayed as the 256 smallest distinct
    // hashes per source, then the Beyer et al. union-resample estimate
    // with list functions; the exact pairwise intersection pins j_exact
    "tx_kmv_overlap" -> """
      WITH s AS (
        SELECT source, string_split_regex(text, '\s+') AS toks
        FROM documents),
      g AS (
        SELECT source, unnest([array_to_string(toks[i:i+2], ' ')
                               FOR i IN range(1, len(toks) - 1)]) AS g
        FROM s),
      h AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        FROM g),
      r AS (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS nd
        FROM h),
      sk AS (SELECT source, list(h ORDER BY h) AS kmv
             FROM r WHERE rn <= 256 GROUP BY source),
      nds AS (SELECT source, CAST(MAX(nd) AS BIGINT) AS nd
              FROM r GROUP BY source),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
                   a.kmv AS ka, b.kmv AS kb
            FROM sk a JOIN sk b ON a.source < b.source),
      calc AS (SELECT source_a, source_b,
                      list_sort(list_distinct(list_concat(ka, kb)))[1:256]
                        AS bigk,
                      list_intersect(ka, kb) AS inboth
               FROM p),
      est AS (SELECT source_a, source_b,
                     CAST(len(list_intersect(bigk, inboth)) AS BIGINT)
                       AS matched,
                     CAST(len(bigk) AS BIGINT) AS k_used
              FROM calc),
      ie AS (SELECT x.source AS source_a, y.source AS source_b,
                    CAST(COUNT(*) AS BIGINT) AS inter_exact
             FROM h x JOIN h y ON x.h = y.h AND x.source < y.source
             GROUP BY 1, 2)
      SELECT e.source_a, e.source_b, e.matched, e.k_used,
             CAST(e.matched AS DOUBLE) / e.k_used AS j_est,
             CAST(COALESCE(i.inter_exact, 0) AS BIGINT) AS inter_exact,
             CAST(COALESCE(i.inter_exact, 0) AS DOUBLE) /
               (na.nd + nb.nd - COALESCE(i.inter_exact, 0)) AS j_exact
      FROM est e
      LEFT JOIN ie i ON i.source_a = e.source_a AND i.source_b = e.source_b
      JOIN nds na ON na.source = e.source_a
      JOIN nds nb ON nb.source = e.source_b
      ORDER BY e.source_a, e.source_b""",
    "tx_lang_profile" -> s"""
      WITH t AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', '_', 'g') AS t
        FROM documents),
      g AS (
        SELECT doc_id, unnest([substr(t, CAST(i AS INT), 3)
                               FOR i IN range(1, length(t) - 1)]) AS gram
        FROM t WHERE length(t) >= 3),
      c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      top AS (
        SELECT doc_id, gram,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY c DESC, gram) AS BIGINT) AS rank
        FROM c
        QUALIFY rank <= ${graft.text.LangProfile.topK}),
      prof AS (SELECT * FROM (VALUES $langProfValuesSql)
               AS p(lang, gram, prank)),
      langs AS (SELECT DISTINCT lang FROM prof),
      d AS (
        SELECT top.doc_id, l.lang,
               CAST(SUM(COALESCE(ABS(top.rank - CAST(p.prank AS BIGINT)),
                 ${graft.text.LangProfile.missingPenalty})) AS BIGINT)
                 AS oop_distance,
               COUNT(*) AS n
        FROM top CROSS JOIN langs l
        LEFT JOIN prof p ON p.lang = l.lang AND p.gram = top.gram
        GROUP BY 1, 2)
      SELECT doc_id,
             CASE WHEN oop_distance =
                 n * ${graft.text.LangProfile.missingPenalty}
               THEN 'unknown' ELSE lang END AS predicted_lang,
             oop_distance
      FROM d
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY oop_distance, lang) = 1
      ORDER BY doc_id""",
    "tx_clf_score" -> s"""$clfScoreSql
      SELECT * FROM clf ORDER BY doc_id""",
    "tx_clf_eval" -> s"""$clfScoreSql,
      lang AS (
        SELECT doc_id, ${langCase._1}
        FROM (SELECT doc_id, list_distinct(string_split_regex(text, '\\s+'))
                AS toks FROM documents)),
      lab AS (
        SELECT doc_id,
               CASE WHEN ${langCase._3} > 0
                     AND (${langCase._2}) = 'en' THEN 1 ELSE 0 END AS label
        FROM lang),
      j AS (SELECT clf.clf_pass AS p, lab.label AS y
            FROM clf JOIN lab USING (doc_id))
      SELECT CAST(SUM(p * y) AS BIGINT) AS tp,
             CAST(SUM(p * (1 - y)) AS BIGINT) AS fp,
             CAST(SUM((1 - p) * y) AS BIGINT) AS fn,
             CAST(SUM((1 - p) * (1 - y)) AS BIGINT) AS tn,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p * y) + SUM((1 - p) * (1 - y)) AS DOUBLE)
               / COUNT(*) AS accuracy
      FROM j""",
    "tx_bpe_tokens" -> s"""
      ${BpeOracleSql.prelude}
      SELECT doc_id, n_tokens, md5(seq) AS toks_md5
      FROM bpe_docs ORDER BY doc_id""",
    "tx_url_normalize" -> s"""
      WITH u AS ($urlSynthSql)
      SELECT doc_id, $urlNormSql AS url_norm, $urlDomainSql AS domain
      FROM u ORDER BY doc_id""",
    // Graphs.pageRankFixedPoint twin: the same three power iterations
    // unrolled as CTE pairs (contrib -> rank), all-integer arithmetic
    // (// is DuckDB floor division = Spark DIV on non-negatives);
    // SUM/HUGEINT products CAST back to BIGINT per the house rule
    "tx_domain_pagerank" -> """
      WITH e0 AS (
        SELECT concat(source, '.example.com') AS src,
               concat('src', CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                                  ELSE (doc_id * 7 + 3) % 20 END
                             AS VARCHAR), '.example.com') AS dst
        FROM documents),
      e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM e0 WHERE src <> dst GROUP BY 1, 2),
      nodes AS (SELECT DISTINCT src AS node FROM e
                UNION SELECT DISTINCT dst FROM e),
      pars AS (SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS r_init,
                      CAST(((1000000000000 * 3) // 20) // COUNT(*)
                           AS BIGINT) AS base
               FROM nodes),
      od AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT node, (SELECT r_init FROM pars) AS rank_fp FROM nodes),
      c1 AS (SELECT e.dst AS node,
                    CAST(SUM(e.w * (r.rank_fp // o.outdeg)) AS BIGINT) AS inr
             FROM e JOIN r0 r ON e.src = r.node JOIN od o ON e.src = o.src
             GROUP BY e.dst),
      r1 AS (SELECT n.node, CAST((SELECT base FROM pars)
                    + (17 * COALESCE(c.inr, 0)) // 20 AS BIGINT) AS rank_fp
             FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
      c2 AS (SELECT e.dst AS node,
                    CAST(SUM(e.w * (r.rank_fp // o.outdeg)) AS BIGINT) AS inr
             FROM e JOIN r1 r ON e.src = r.node JOIN od o ON e.src = o.src
             GROUP BY e.dst),
      r2 AS (SELECT n.node, CAST((SELECT base FROM pars)
                    + (17 * COALESCE(c.inr, 0)) // 20 AS BIGINT) AS rank_fp
             FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
      c3 AS (SELECT e.dst AS node,
                    CAST(SUM(e.w * (r.rank_fp // o.outdeg)) AS BIGINT) AS inr
             FROM e JOIN r2 r ON e.src = r.node JOIN od o ON e.src = o.src
             GROUP BY e.dst),
      r3 AS (SELECT n.node, CAST((SELECT base FROM pars)
                    + (17 * COALESCE(c.inr, 0)) // 20 AS BIGINT) AS rank_fp
             FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
      SELECT node, rank_fp, CAST(rank_fp AS DOUBLE) / 1e12 AS rank
      FROM r3 ORDER BY rank_fp DESC, node""",
    "tx_url_dedup" -> s"""
      WITH u AS ($urlSynthSql),
      n AS (SELECT doc_id, $urlNormSql AS url_norm FROM u)
      SELECT url_norm, doc_id FROM n
      QUALIFY ROW_NUMBER() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1
      ORDER BY url_norm""",
    "tx_domain_caps" -> s"""
      WITH u AS ($urlSynthSql),
      d AS (SELECT doc_id, $urlDomainSql AS domain FROM u),
      r AS (SELECT domain, doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id)
                AS INT) AS domain_rank
            FROM d)
      SELECT domain, domain_rank, doc_id FROM r
      WHERE domain_rank <= 5
      ORDER BY domain, domain_rank""",
    "tx_lm_score" -> lmScoreSql,
    // pack_curriculum twin (query registered in DedupQueries): the
    // pack_sequences batch derivation + the lm quality chain, NTILE(3)
    // over (quality desc, source, batch) — SQL-standard fill == the
    // engine's closed-form ntileExpr
    "pack_curriculum" -> s"""
      ${BpeOracleSql.prelude},
      ptoks AS (
        SELECT d.source, d.doc_id,
               CAST(b.n_tokens AS BIGINT) AS n_tokens
        FROM documents d JOIN bpe_docs b ON d.doc_id = b.doc_id),
      pcum AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM ptoks),
      pb AS (
        SELECT source, CAST((c - n_tokens) // 2048 AS BIGINT) AS batch_id,
               doc_id, n_tokens
        FROM pcum),
      lmbase AS MATERIALIZED ($lmScoreSql),
      pagg AS (
        SELECT p.source, p.batch_id, COUNT(*) AS n_docs,
               CAST(SUM(p.n_tokens) AS BIGINT) AS batch_tokens,
               CAST(COALESCE(SUM(l.lm_score), 0) AS BIGINT) AS sq,
               CAST(COALESCE(SUM(l.n_bigrams), 0) AS BIGINT) AS nb
        FROM pb p LEFT JOIN lmbase l ON p.doc_id = l.doc_id
        GROUP BY 1, 2),
      pq AS (
        SELECT source, batch_id, n_docs, batch_tokens,
               CASE WHEN nb > 0 THEN CAST(sq // nb AS BIGINT)
                    ELSE 0 END AS quality_fp
        FROM pagg),
      pr AS (
        SELECT *, CAST(NTILE(3) OVER (
            ORDER BY quality_fp DESC, source, batch_id) AS INT)
            AS phase_id
        FROM pq)
      SELECT source, batch_id, n_docs, batch_tokens, quality_fp,
             phase_id,
             CASE phase_id WHEN 1 THEN 'warmup' WHEN 2 THEN 'main'
                  ELSE 'anneal' END AS phase
      FROM pr ORDER BY source, batch_id""",
    // MW rounds: u_t = w_{t-1}·g // 10⁶, w_t = u_t·10⁶ // Σu_t — every
    // divide truncating, matching the driver's Long arithmetic
    "mix_quality_reweight" -> s"""
      WITH base AS MATERIALIZED ($lmScoreSql),
      g AS MATERIALIZED (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(CASE WHEN SUM(b.n_bigrams) > 0
                    THEN SUM(b.lm_score) // SUM(b.n_bigrams)
                    ELSE 0 END AS BIGINT) AS gain
        FROM base b JOIN documents d USING (doc_id)
        GROUP BY d.source),
      r1 AS MATERIALIZED (
        SELECT source, n_docs, gain,
               (gain * 1000000) // (SUM(gain) OVER ()) AS w
        FROM g),
      u2 AS (SELECT source, n_docs, gain, (w * gain) // 1000000 AS u,
                    w AS w1 FROM r1),
      r2 AS MATERIALIZED (
        SELECT source, n_docs, gain, w1,
               (u * 1000000) // (SUM(u) OVER ()) AS w
        FROM u2),
      u3 AS (SELECT source, n_docs, gain, w1, w AS w2,
                    (w * gain) // 1000000 AS u FROM r2),
      r3 AS MATERIALIZED (
        SELECT source, n_docs, gain, w1, w2,
               (u * 1000000) // (SUM(u) OVER ()) AS w3
        FROM u3)
      SELECT source, n_docs, CAST(gain AS BIGINT) AS gain_fp,
             CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
             CAST(w3 AS BIGINT) AS w3,
             CAST((100000 * w3) // (SUM(w3) OVER ()) AS BIGINT)
               AS budget_tokens
      FROM r3 ORDER BY source""",
    "tx_lm_score5" -> lmScore5Sql,
    "tx_lm_score_kn" -> lmScoreKnSql,
    "tx_bm25_topk" -> bm25Sql,
    "sft_rouge_dedup" -> sftRougeDedupSql,
    "sft_rouge_l" -> sftRougeLSql,
    "tx_multilingual_funnel" -> multilingualFunnelSql,
    "tx_multilingual_pipeline" -> multilingualPipelineSql,
    "tx_bpe_fertility" -> {
      val rel = s"(SELECT doc_id, synth AS text FROM ($multilingualSynthSql))"
      s"""
      ${BpeOracleSql.preludeFor(rel)},
      sl AS ($multilingualSynthSql),
      l AS (
        SELECT doc_id, synth, $multilingualTargetLangSql AS lang
        FROM sl)
      SELECT l.lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(l.synth)) AS BIGINT) AS total_chars,
             CAST(SUM(b.n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(length(l.synth)) AS DOUBLE) /
               CAST(SUM(b.n_tokens) AS DOUBLE) AS chars_per_token
      FROM l JOIN bpe_docs b ON l.doc_id = b.doc_id
      GROUP BY l.lang ORDER BY l.lang"""
    },
    "tx_dsir_weights" -> s"""$dsirScoreSql
      SELECT * FROM sc ORDER BY doc_id""",
    "tx_dsir_select" -> s"""$dsirScoreSql
      SELECT * FROM
        (SELECT * FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 25)
      ORDER BY doc_id""",
    "tx_chunk_windows" -> """
      WITH chunks AS (
        SELECT doc_id, len(toks) AS n,
               unnest([{'idx': i,
                        'chunk': array_to_string(toks[i*24+1 : i*24+32], ' ')}
                       FOR i IN range(0, (len(toks) - 1) // 24 + 1)],
                      recursive := true)
        FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(trim(text)) > 0)
      SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
             md5(chunk) AS chunk_md5,
             CAST(LEAST(32, n - idx * 24) AS INT) AS chunk_tokens
      FROM chunks
      ORDER BY doc_id, chunk_idx""",
    "tx_gopher_repetition" -> s"""
      WITH d AS (
        SELECT doc_id, $segmentLinesSql AS seg FROM documents),
      t AS (
        SELECT doc_id,
               seg || chr(10) || split_part(seg, chr(10), 1) AS t2
        FROM d),
      lc AS (
        SELECT doc_id, line, COUNT(*) AS c, len(line) AS ln
        FROM (SELECT doc_id, unnest(string_split(t2, chr(10))) AS line FROM t)
        GROUP BY doc_id, line),
      ls AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_units,
               CAST(SUM(c - 1) AS BIGINT) AS n_dup,
               CAST(SUM(c * ln) AS BIGINT) AS chars,
               CAST(SUM((c - 1) * ln) AS BIGINT) AS dup_chars
        FROM lc GROUP BY doc_id),
      pc AS (
        SELECT doc_id, para, COUNT(*) AS c, len(para) AS ln
        FROM (SELECT doc_id,
                     unnest(string_split(t2, chr(10) || chr(10))) AS para
              FROM t)
        GROUP BY doc_id, para),
      ps AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_units,
               CAST(SUM(c - 1) AS BIGINT) AS n_dup,
               CAST(SUM(c * ln) AS BIGINT) AS chars,
               CAST(SUM((c - 1) * ln) AS BIGINT) AS dup_chars
        FROM pc GROUP BY doc_id),
      m AS (
        SELECT ls.doc_id,
               CASE WHEN ls.n_units > 0
                    THEN CAST(ls.n_dup AS DOUBLE) / ls.n_units
                    ELSE 0.0 END AS dup_line_frac,
               CASE WHEN ls.chars > 0
                    THEN CAST(ls.dup_chars AS DOUBLE) / ls.chars
                    ELSE 0.0 END AS dup_line_char_frac,
               CASE WHEN ps.n_units > 0
                    THEN CAST(ps.n_dup AS DOUBLE) / ps.n_units
                    ELSE 0.0 END AS dup_para_frac,
               CASE WHEN ps.chars > 0
                    THEN CAST(ps.dup_chars AS DOUBLE) / ps.chars
                    ELSE 0.0 END AS dup_para_char_frac
        FROM ls JOIN ps ON ls.doc_id = ps.doc_id)
      SELECT doc_id, dup_line_frac, dup_line_char_frac,
             dup_para_frac, dup_para_char_frac,
             (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30 AND
              dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20)
               AS rep_passed
      FROM m ORDER BY doc_id""",
    "tx_top_ngram" -> s"""
      WITH toks AS (
        SELECT doc_id, text, string_split_regex(text, '\\s+') AS tk
        FROM documents),
      g AS (
        SELECT doc_id, len(text) AS chars, 2 AS n,
               unnest([array_to_string(tk[i:i+1], ' ')
                       FOR i IN range(1, len(tk))]) AS gram
        FROM toks WHERE len(tk) >= 2
        UNION ALL
        SELECT doc_id, len(text), 3,
               unnest([array_to_string(tk[i:i+2], ' ')
                       FOR i IN range(1, len(tk) - 1)])
        FROM toks WHERE len(tk) >= 3
        UNION ALL
        SELECT doc_id, len(text), 4,
               unnest([array_to_string(tk[i:i+3], ' ')
                       FOR i IN range(1, len(tk) - 2)])
        FROM toks WHERE len(tk) >= 4),
      c AS (
        SELECT doc_id, chars, n, gram, COUNT(*) AS occurrences
        FROM g GROUP BY ALL),
      t AS (
        SELECT * FROM c
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, n
          ORDER BY occurrences DESC, len(gram) DESC, gram ASC) = 1)
      SELECT doc_id, n, gram AS top_gram,
             CAST(occurrences AS BIGINT) AS occurrences,
             CAST(occurrences * len(gram) AS DOUBLE) / chars AS char_frac
      FROM t ORDER BY doc_id, n""",
    "tx_dup_spans" -> s"""
      WITH pos AS (
        SELECT doc_id,
               unnest([{'pos': i - 1,
                        'span': array_to_string(toks[i:i+4], ' ')}
                       FOR i IN range(1, len(toks) - 3)],
                      recursive := true)
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 5),
      dup AS (
        SELECT span FROM pos
        GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
      dp AS (
        SELECT doc_id, pos,
               LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM pos WHERE span IN (SELECT span FROM dup)),
      cov AS (
        SELECT doc_id,
               SUM(LEAST(5, COALESCE(nxt - pos, 5))) AS covered
        FROM dp GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tokens,
             CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
             CASE WHEN len(string_split_regex(d.text, '\\s+')) > 0
                  THEN CAST(COALESCE(c.covered, 0) AS DOUBLE) /
                       len(string_split_regex(d.text, '\\s+'))
                  ELSE 0.0 END AS dup_span_ratio
      FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id""",
    "tx_dup_span_removal" -> s"""
      WITH tk AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS toks
        FROM documents),
      pos AS (
        SELECT doc_id,
               unnest([{'pos': i - 1,
                        'span': array_to_string(toks[i:i+4], ' ')}
                       FOR i IN range(1, len(toks) - 3)],
                      recursive := true)
        FROM tk WHERE len(toks) >= 5),
      occ AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY span
                                  ORDER BY doc_id, pos) AS rn
        FROM pos
        WHERE span IN (SELECT span FROM pos
                       GROUP BY span HAVING MIN(doc_id) <> MAX(doc_id))),
      rem AS (SELECT doc_id, pos, pos + 4 AS e FROM occ WHERE rn > 1),
      tok AS (
        SELECT doc_id,
               unnest([{'pos': i - 1, 'tok': toks[i]}
                       FOR i IN range(1, len(toks) + 1)],
                      recursive := true)
        FROM tk),
      u AS (
        SELECT doc_id, pos, CAST(NULL AS VARCHAR) AS tok, e, 0 AS k FROM rem
        UNION ALL
        SELECT doc_id, pos, tok, CAST(NULL AS BIGINT) AS e, 1 AS k FROM tok),
      r AS (
        SELECT doc_id, pos, tok, k,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos, k
                            ROWS UNBOUNDED PRECEDING) AS cov
        FROM u),
      reb AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
        FROM r WHERE k = 1 AND (cov IS NULL OR cov < pos)
        GROUP BY doc_id)
      SELECT d.doc_id, md5(COALESCE(reb.clean, '')) AS clean_md5,
             CAST(CASE WHEN COALESCE(reb.clean, '') = '' THEN 0
                       ELSE len(string_split_regex(reb.clean, '\\s+'))
                  END AS BIGINT) AS kept_tokens
      FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
      ORDER BY d.doc_id""",
    "tx_dup_span_removal_runs" -> s"""
      WITH tk AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS toks
        FROM documents),
      pos AS (
        SELECT doc_id,
               unnest([{'pos': i - 1,
                        'span': array_to_string(toks[i:i+4], ' ')}
                       FOR i IN range(1, len(toks) - 3)],
                      recursive := true)
        FROM tk WHERE len(toks) >= 5),
      occ AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY span
                                  ORDER BY doc_id, pos) AS rn
        FROM pos
        WHERE span IN (SELECT span FROM pos
                       GROUP BY span HAVING MIN(doc_id) <> MAX(doc_id))),
      mk AS (SELECT doc_id, pos FROM occ WHERE rn > 1),
      g AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                      ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS nw
        FROM mk),
      r2 AS (
        SELECT doc_id, pos,
               SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS run
        FROM g),
      rem AS (
        SELECT doc_id, MIN(pos) AS pos, MAX(pos) + 4 AS e
        FROM r2 GROUP BY doc_id, run
        HAVING MAX(pos) + 4 - MIN(pos) + 1 >= 8),
      tok AS (
        SELECT doc_id,
               unnest([{'pos': i - 1, 'tok': toks[i]}
                       FOR i IN range(1, len(toks) + 1)],
                      recursive := true)
        FROM tk),
      u AS (
        SELECT doc_id, pos, CAST(NULL AS VARCHAR) AS tok, e, 0 AS k FROM rem
        UNION ALL
        SELECT doc_id, pos, tok, CAST(NULL AS BIGINT) AS e, 1 AS k FROM tok),
      r AS (
        SELECT doc_id, pos, tok, k,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos, k
                            ROWS UNBOUNDED PRECEDING) AS cov
        FROM u),
      reb AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
        FROM r WHERE k = 1 AND (cov IS NULL OR cov < pos)
        GROUP BY doc_id)
      SELECT d.doc_id, md5(COALESCE(reb.clean, '')) AS clean_md5,
             CAST(CASE WHEN COALESCE(reb.clean, '') = '' THEN 0
                       ELSE len(string_split_regex(reb.clean, '\\s+'))
                  END AS BIGINT) AS kept_tokens
      FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
      ORDER BY d.doc_id""",
    "tx_boilerplate_ngrams" -> s"""
      WITH sp AS ($docSpansSql)
      SELECT span, COUNT(*) AS doc_freq
      FROM sp GROUP BY span HAVING COUNT(*) >= 3
      ORDER BY doc_freq DESC, span""",
    "tx_boilerplate_ratio" -> s"""
      WITH sp AS ($docSpansSql),
      freq AS (
        SELECT span, COUNT(*) AS doc_freq
        FROM sp GROUP BY span HAVING COUNT(*) >= 3)
      SELECT s.doc_id, COUNT(*) AS n_spans, COUNT(f.doc_freq) AS n_frequent,
             CAST(COUNT(f.doc_freq) AS DOUBLE) / COUNT(*) AS boilerplate_ratio
      FROM sp s LEFT JOIN freq f ON s.span = f.span
      GROUP BY s.doc_id ORDER BY s.doc_id""",
    "tx_normalize" -> """
      WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(
                   lower(concat('  ', text, '!!  Extra,  SPACES. ', doc_id)),
                   '[^a-z0-9\s]', ' ', 'g'),
                 '\s+', ' ', 'g')) AS n
        FROM documents)
      SELECT doc_id, md5(n) AS norm_md5,
             CAST(len(n) AS INT) AS norm_len
      FROM norm ORDER BY doc_id""",
    "tx_redact" -> s"""
      WITH $redactCleanCtes
      SELECT doc_id, clean, md5(clean) AS clean_md5,
             regexp_matches(clean, '@') AS has_email,
             NOT regexp_matches(clean,
               '@|://|[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}|([0-9]{1,3}\\.){3}[0-9]{1,3}|([0-9A-Fa-f]{1,4}:){3}|[0-9]{3}-[0-9]{2}-[0-9]{4}')
               AS fully_scrubbed
      FROM clean ORDER BY doc_id""",
    "tx_redact_audit" -> redactAuditSql,
    "tx_lang_id" -> s"""
      WITH scored AS (
        SELECT doc_id, lang AS declared_lang,
               ${langCase._1}
        FROM (SELECT doc_id, lang, list_distinct(string_split_regex(text, '\\s+')) AS toks
              FROM documents)),
      best AS (
        SELECT doc_id, declared_lang,
               CASE WHEN ${langCase._3} > 0 THEN ${langCase._2}
                    ELSE 'unknown' END AS predicted_lang
        FROM scored)
      SELECT doc_id, declared_lang, predicted_lang,
             declared_lang = predicted_lang AS agrees
      FROM best ORDER BY doc_id""",
    "tx_quality" -> """
      SELECT doc_id, n_chars, n_tokens, chars_per_token, distinct_token_ratio,
             n_punct,
             (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1.0 ELSE 0.5 END)
               * distinct_token_ratio AS quality_score
      FROM (
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_tokens,
               CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS chars_per_token,
               CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_token_ratio,
               len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
              FROM documents))
      ORDER BY doc_id""",
    "tx_token_stats" -> """
      SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
            FROM documents)
      GROUP BY token ORDER BY freq DESC, token LIMIT 20""",
    "tx_repetition" -> """
      SELECT doc_id,
             GREATEST(len(toks) - 2, 0) AS n_ngrams,
             len(list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, len(toks) - 1)])) AS n_distinct,
             CASE WHEN len(toks) - 2 > 0
                  THEN 1.0 - CAST(len(list_distinct([array_to_string(toks[i:i+2], ' ')
                                                     FOR i IN range(1, len(toks) - 1)])) AS DOUBLE)
                           / CAST(len(toks) - 2 AS DOUBLE)
                  ELSE 0.0 END AS repetition
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)
      ORDER BY doc_id""",
    "tx_token_count" -> """
      SELECT doc_id,
             len(string_split_regex(text, '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords,
             CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) * 100.0
               / CAST(length(text) AS DOUBLE) AS tokens_per_100_chars
      FROM documents ORDER BY doc_id""",
    "tx_gopher_filter" -> s"""
      WITH t AS ($gopherPrepSql),
      m AS ($gopherMetricsSql)
      SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, alpha_word_ratio,
             n_stop_words, bullet_ratio, ellipsis_ratio,
             CAST(CASE WHEN $gopherPassSql
                   THEN 1 ELSE 0 END AS INT) AS passed
      FROM m ORDER BY doc_id""",
    "tx_curation_funnel" -> s"""
      WITH t AS ($gopherPrepSql),
      m AS ($gopherMetricsSql),
      g AS (SELECT doc_id FROM m WHERE $gopherPassSql),
      seg AS (
        SELECT d.doc_id, $segmentLinesSql AS t2
        FROM documents d JOIN g ON d.doc_id = g.doc_id),
      f AS (
        SELECT doc_id, string_split(t2, chr(10)) AS lines FROM seg
        WHERE NOT (contains(lower(t2), 'lorem ipsum') OR contains(t2, '{'))),
      c AS (
        SELECT doc_id, array_to_string($c4KeptSql, chr(10)) AS clean
        FROM f),
      c2 AS (SELECT doc_id, clean FROM c WHERE clean <> ''),
      ded AS (
        SELECT doc_id FROM (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY clean ORDER BY doc_id) AS rn
          FROM c2) WHERE rn = 1),
      samp AS (
        SELECT doc_id FROM ded
        WHERE $bucketSql < 500000)
      SELECT CAST(0 AS INT) AS stage_idx, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
      UNION ALL SELECT 1, 'gopher', CAST((SELECT COUNT(*) FROM g) AS BIGINT)
      UNION ALL SELECT 2, 'c4', CAST((SELECT COUNT(*) FROM c2) AS BIGINT)
      UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT COUNT(*) FROM ded) AS BIGINT)
      UNION ALL SELECT 4, 'sampled', CAST((SELECT COUNT(*) FROM samp) AS BIGINT)
      ORDER BY stage_idx""",
    "tx_c4_clean" -> s"""
      WITH d AS (
        SELECT doc_id, $segmentLinesSql AS t2
        FROM documents),
      f AS (
        SELECT doc_id, string_split(t2, chr(10)) AS lines FROM d
        WHERE NOT (contains(lower(t2), 'lorem ipsum') OR contains(t2, '{'))),
      k AS (
        SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
               $c4KeptSql AS kept
        FROM f)
      SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_lines_kept,
             md5(array_to_string(kept, chr(10))) AS clean_md5
      FROM k WHERE len(kept) > 0 ORDER BY doc_id""",
    "tx_source_overlap" -> s"""
      WITH f AS (
        SELECT DISTINCT source, $fpSql AS fp
        FROM (SELECT source, string_split_regex(text, '\\s+') AS toks
              FROM documents)),
      fp AS (SELECT source, fp FROM f WHERE fp IS NOT NULL),
      counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM fp GROUP BY source),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2)
      SELECT s.source_a, s.source_b, s.n_shared, ca.n AS n_a, cb.n AS n_b,
             CAST(s.n_shared AS DOUBLE)
               / CAST(ca.n + cb.n - s.n_shared AS DOUBLE) AS jaccard
      FROM shared s
      JOIN counts ca ON ca.source = s.source_a
      JOIN counts cb ON cb.source = s.source_b
      ORDER BY source_a, source_b""",
    "tx_fingerprint" -> s"""
      SELECT doc_id, $fpSql AS fingerprint
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
      ORDER BY doc_id""",
    "tx_contamination" -> s"""
      WITH fp AS (
        SELECT doc_id, source, $fpSql AS fp
        FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks
              FROM documents))
      SELECT doc_id, source, fp FROM fp
      WHERE source <> 'src0'
        AND fp IN (SELECT fp FROM fp WHERE source = 'src0')
      ORDER BY doc_id""",
    "tx_ngram_contamination" -> """
      WITH sp AS (
        SELECT doc_id, source,
               unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                                     FOR i IN range(1, len(toks) - 3)])) AS span
        FROM (SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 5)
      SELECT doc_id, COUNT(*) AS n_overlapping_ngrams
      FROM sp
      WHERE source <> 'src0'
        AND span IN (SELECT span FROM sp WHERE source = 'src0')
      GROUP BY doc_id
      ORDER BY doc_id""",
    "tx_decontaminate_near" -> """
      WITH sp AS (
        SELECT doc_id, source,
               unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
                                     FOR i IN range(1, len(toks) - 6)])) AS span
        FROM (SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      leaked AS (
        SELECT DISTINCT doc_id FROM sp
        WHERE source <> 'src0'
          AND span IN (SELECT span FROM sp WHERE source = 'src0'))
      SELECT d.doc_id, d.source,
             CAST(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
      FROM documents d LEFT JOIN leaked l ON d.doc_id = l.doc_id
      WHERE d.source <> 'src0'
      ORDER BY d.doc_id""",
    "tx_contamination_report" -> """
      WITH sp AS (
        SELECT doc_id, source,
               unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
                                     FOR i IN range(1, len(toks) - 3)])) AS span
        FROM (SELECT doc_id, source, string_split_regex(text, '\s+') AS toks
              FROM documents)
        WHERE len(toks) >= 5)
      SELECT e.doc_id AS eval_doc_id,
             CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs,
             CAST(COUNT(DISTINCT e.span) AS BIGINT) AS n_exposed_ngrams
      FROM sp e JOIN sp c ON e.span = c.span
      WHERE e.source = 'src0' AND c.source <> 'src0'
      GROUP BY e.doc_id ORDER BY eval_doc_id""",
    "tx_corpus_stats" -> """
      SELECT source,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT text) AS n_distinct_texts,
             CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
             CAST(SUM(len(string_split_regex(text, '\s+'))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
      FROM documents
      GROUP BY source ORDER BY source""",
    "tx_tfidf_top_terms" -> """
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
              FROM documents)
        GROUP BY doc_id, term),
      dfreq AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf * n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      SELECT doc_id, rank, term, tf, df, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS rank
        FROM scored)
      WHERE rank <= 3
      ORDER BY doc_id, rank""")
}
