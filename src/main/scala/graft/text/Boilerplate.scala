package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level boilerplate detection: token n-gram spans that recur
  * across many documents (navigation chrome, license headers, templated
  * fragments) and the per-document contamination ratio — the
  * C4/RefinedWeb-style cleaning step between exact dedup (d1) and
  * near-dup removal (d2). The reference pipeline has no corpus-level
  * text analysis (its unit of validation is one batch —
  * `src/ingestion/validators.py:118-152`); this is part of the
  * training-data extension surface.
  *
  * Scale design:
  *  - spans come from the native [[TextFunctions.tokenShingles]]
  *    expression (map-only, codegen) with `array_distinct` applied
  *    per-document BEFORE the explode — so a span repeated inside one
  *    doc costs one exploded row, and the span count IS the document
  *    frequency (no countDistinct/Expand rewrite);
  *  - one shuffle on the span for the frequency aggregate; the ratio
  *    join re-uses the same span partitioning (both sides of the join
  *    hash-partition on `span`, and the aggregate side is tiny after
  *    the `minDocs` filter);
  *  - per-document totals ride along in the same aggregate — the
  *    corpus is scanned once.
  */
object Boilerplate {

  /** One row per (document, distinct span). The building block both
    * public operators share. */
  def docSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.tokenShingles(col(textCol), n)))
        .as("span"))

  /** N-gram decontamination: for each corpus document, the number of
    * its distinct n-gram spans that occur anywhere in `evalSet` — the
    * partial-overlap form of train/eval leakage detection (a
    * whole-document fingerprint misses one copied paragraph; shared
    * n-grams don't). Eval sets are small by nature: their distinct
    * span set broadcasts, the corpus shingles ONCE and streams through
    * a left-semi join — corpus rows never shuffle. Documents with zero
    * overlap are absent from the output (the common use is "flag and
    * drop"; anti-join the ids against the corpus to apply). */
  def ngramContamination(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val evalSpans = docSpans(evalSet, idCol, textCol, n)
      .select(col("span")).distinct()
    docSpans(corpus, idCol, textCol, n)
      .join(broadcast(evalSpans), Seq("span"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlapping_ngrams"))
  }

  /** Near-match decontamination — the APPLY form of
    * [[ngramContamination]], at the GPT-3 convention (Brown et al.
    * 2020, arXiv:2005.14165 App. C: a training document is
    * contaminated if it shares ANY verbatim n-gram with the eval set;
    * n = 8 there for typical eval lengths — 13 in later work): drop
    * every corpus document with at least one n-gram in common with
    * `evalSet`. This catches the near-verbatim leak a whole-document
    * fingerprint misses — one edited token breaks the doc-level
    * fingerprint with probability ~n/len (whenever it lands inside the
    * minimal shingle) while the other shared 8-grams survive intact.
    *
    * Scale: the eval side reduces to its DISTINCT span set and
    * broadcasts (eval sets are benchmark-sized by nature); the corpus
    * shingles once map-side, streams through the broadcast semi-join,
    * and only the matched doc ids — a contamination-sized set —
    * shuffle for the distinct before the final broadcast anti-join.
    * Corpus rows never shuffle. Documents with fewer than `n` tokens
    * have no n-gram and are kept (both engines agree: no span, no
    * collision). */
  def ngramDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int = 8): DataFrame = {
    val evalSpans = evalSet
      .select(explode(array_distinct(
        TextFunctions.tokenShingles(col(evalTextCol), n))).as("span"))
      .distinct()
    val leaked = docSpans(corpus, idCol, textCol, n)
      .join(broadcast(evalSpans), Seq("span"), "left_semi")
      .select(col("doc_id").as(idCol)).distinct()
    corpus.join(broadcast(leaked), Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — the eval-set owner's view of
    * [[ngramContamination]]: for each EVAL document that leaked, how
    * many corpus documents share at least one n-gram with it and how
    * many of its distinct n-grams are exposed. This is the audit a
    * benchmark maintainer (or a takedown verifier) runs: "which of MY
    * documents are in the training corpus, and how much of each".
    * Eval docs with zero overlap are absent.
    *
    * Scale: the eval span set broadcasts (benchmark-sized); corpus
    * spans stream map-side through the broadcast join and only the
    * MATCHED rows — a leak-sized set — shuffle into the per-eval-doc
    * aggregate. The two countDistincts expand a leak-sized frame,
    * never the corpus. */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val evalSpans = docSpans(evalSet, idCol, textCol, n)
      .withColumnRenamed("doc_id", "eval_id")
    docSpans(corpus, idCol, textCol, n)
      .join(broadcast(evalSpans), Seq("span"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_corpus_docs"),
        countDistinct(col("span")).as("n_exposed_ngrams"))
  }

  /** Spans appearing in at least `minDocs` distinct documents, with
    * their document frequency. Plain `count` is exact document
    * frequency because [[docSpans]] already de-duplicated spans within
    * each document. */
  def frequentSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 3L): DataFrame =
    docSpans(docs, idCol, textCol, n)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)

  /** One row per (document, shingle START POSITION): `(doc_id, pos,
    * span)` — the NON-distinct positional twin of [[docSpans]], for
    * operators that need to know WHERE a span sits, not just that it
    * occurs. `pos` is the 0-based token index of the span's first
    * token. Map-only. */
  def positionedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokenShinglesAll(col(textCol), n))
        .as(Seq("pos", "span")))

  /** Duplicated-span coverage (the exact-substring-dedup signal of Lee
    * et al. 2021, arXiv:2107.06499 — there computed over a suffix
    * array; here over fixed n-token shingles, which blocked/banded
    * systems can actually run at corpus scale): for every document, the
    * number of token positions covered by at least one n-gram that also
    * occurs in ANOTHER document, and that count as a fraction of the
    * document's tokens. High-coverage docs are near-copies that
    * doc-level fingerprints miss when a few tokens differ.
    *
    * Semantics: a span at token position p covers positions
    * [p, p+n-1]; covered = |union of intervals of cross-doc-duplicated
    * spans|. The union is one ordered per-document window pass:
    * consecutive duplicated positions p, p' overlap iff p' − p < n, so
    * each contributes min(n, p' − p) and the last contributes n —
    * interval union without exploding n rows per span.
    *
    * Scale design — two span shuffles, ZERO hub buffering:
    *  - the duplicated-span set comes from [[docSpans]] (within-doc
    *    `array_distinct` map-side) via `groupBy(span)` — partial
    *    aggregation streams, so a 10⁷-doc boilerplate span reaches the
    *    reducer as one row per upstream partition, never one task's
    *    buffer (the de-skew rule connectedComponents follows; a
    *    `Window.partitionBy(span)` single-shuffle spelling would
    *    materialize every hub occurrence in one task);
    *  - the positional side semi-joins that set on `span` (AQE splits
    *    popular-span skew); the interval-union window partitions by
    *    doc — bounded by document length;
    *  - the final left join on the doc key restores zero-duplication
    *    documents (covered = 0). Integer counts end-to-end; the ratio
    *    is one bigint/bigint IEEE divide, engine-exact for the oracle.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spans occurring in ≥ 2 distinct documents; docSpans is already
    // distinct within a doc, so min≠max over doc_id means cross-doc
    val dupSpans = docSpans(docs, idCol, textCol, n)
      .groupBy(col("span"))
      .agg(min(col("doc_id")).as("__lo"), max(col("doc_id")).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select(col("span"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = positionedSpans(docs, idCol, textCol, n)
      .join(dupSpans, Seq("span"), "left_semi")
      .withColumn("__nxt", lead(col("pos"), 1).over(wDoc))
      .withColumn("__cov",
        when(col("__nxt").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), col("__nxt") - col("pos"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("__cov")).as("covered_tokens"))
    val nTok = TextFunctions.tokenCount(col(textCol)).cast("long")
    docs.select(col(idCol).as("doc_id"), nTok.as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("covered_tokens", coalesce(col("covered_tokens"), lit(0L)))
      .withColumn("dup_span_ratio",
        when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Exact-substring span REMOVAL — the rewrite companion to
    * [[dupSpanCoverage]] (Lee et al. 2021, arXiv:2107.06499 §4: keep
    * one occurrence of every corpus-duplicated substring, delete the
    * rest). Granularity is the same fixed n-token shingle as the
    * coverage measure: for every span occurring in ≥ 2 distinct
    * documents, the corpus-FIRST occurrence (lowest (doc id, token
    * position)) survives; every token position covered by any LATER
    * occurrence is deleted, and each document is reassembled from its
    * surviving tokens joined by single spaces (the same
    * whitespace-normalizing rewrite contract as
    * [[graft.dedup.Dedup.dedupLinesGlobal]], which is this operator at
    * line granularity). Within-doc-only repetition is untouched — that
    * signal belongs to the Gopher repetition filters.
    *
    * Scale design — no range join, no hub buffering:
    *  - span duplication + the corpus-first occurrence come from ONE
    *    `groupBy(span)` over positioned spans (min/max doc id and a
    *    min(struct(doc, pos)) are all partial aggregates — a 10⁷-doc
    *    boilerplate span streams map-side, never one task's buffer);
    *  - later occurrences re-join that (filtered, small) aggregate on
    *    `span` (AQE splits popular-span skew);
    *  - "is token t inside a deleted interval [p, p+n−1]?" is NOT a
    *    range join: deletion starts and tokens interleave in one
    *    per-document window ordered by position (spans first at a tie),
    *    where a running max of interval ends marks coverage — bounded
    *    by document length, the [[dupSpanCoverage]] argument;
    *  - reassembly is one shuffle on the doc id, output bounded by the
    *    original row size. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val removals = laterOccurrences(docs, idCol, textCol, n)
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(n - 1)).as("__end"))
    deleteIntervals(docs, idCol, textCol, removals)
  }

  /** Every (doc, pos) whose n-gram occurs in ≥ 2 distinct documents and
    * is NOT the span's corpus-first occurrence (lowest (doc id, pos)) —
    * the positions exact-substring dedup deletes. One `groupBy(span)`
    * (all partial aggregates; a 10⁷-doc boilerplate span streams
    * map-side) re-joined by the positional side on `span`. */
  private def laterOccurrences(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val pos = positionedSpans(docs, idCol, textCol, n)
    // cross-doc-duplicated spans with their corpus-first occurrence;
    // min/max over NON-distinct occurrences still detect ≥2 docs
    val spanAgg = pos.groupBy(col("span"))
      .agg(min(col("doc_id")).as("__lo"), max(col("doc_id")).as("__hi"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
      .filter(col("__lo") =!= col("__hi"))
      .select(col("span"), col("__first"))
    pos.join(spanAgg, Seq("span"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("__first"))
      .select(col("doc_id"), col("pos"))
  }

  /** Delete the token intervals `removals` (`doc_id, pos, __end` —
    * inclusive token-position ranges) from each document and reassemble
    * the survivors space-joined. The coverage test is NOT a range join:
    * interval starts and tokens interleave in one per-document window
    * ordered by position (intervals first at a tie) where a running max
    * of interval ends marks covered tokens — bounded by document
    * length. Reassembly is one shuffle on the doc id. */
  private def deleteIntervals(docs: DataFrame, idCol: String,
      textCol: String, removals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val outCols = docs.columns.toSeq
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    // interleave deletion starts (k=0, carrying their interval end)
    // with tokens (k=1); a token survives iff no preceding interval
    // in its doc reaches it
    val spanRows = removals.select(col("doc_id"), col("pos"),
      lit(null).cast("string").as("tok"), col("__end"), lit(0).as("__k"))
    val tokRows = toks.select(col("doc_id"), col("pos"), col("tok"),
      lit(null).cast("integer").as("__end"), lit(1).as("__k"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"), col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = spanRows.union(tokRows)
      .withColumn("__cov", max(col("__end")).over(w))
      .filter(col("__k") === 1 &&
        (col("__cov").isNull || col("__cov") < col("pos")))
    // compiled re-pack (same justification and parity pin as
    // dedupLinesGlobal: the interpreted spelling cost a struct-compare
    // + lambda per surviving TOKEN; measured A/B in SCALE.md)
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(graft.functions.NativeText.sortedStructConcat(
        collect_list(struct(col("pos"), col("tok"))), " ").as("__clean"))
      .select(col("doc_id").as("__rid"), col("__clean"))
    docs.join(rebuilt, col(idCol) === col("__rid"), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .select(outCols.map(col): _*)
  }

  /** Variable-length exact-substring dedup — the Lee et al. 2021 §4
    * semantics proper: only duplicated RUNS of at least `minRun` tokens
    * are removed (the paper uses 50), short incidental n-gram matches
    * survive. [[removeDupSpans]] deletes every later-occurrence shingle
    * regardless of length; here adjacent marked shingles first MERGE
    * into maximal intervals — consecutive positions p, p' belong to one
    * run iff p' − p ≤ n (their [p, p+n−1] intervals overlap or touch,
    * i.e. the deleted text is contiguous) — and only merged intervals
    * spanning ≥ `minRun` tokens are deleted. A duplicated substring of
    * ℓ ≥ n tokens marks exactly its ℓ−n+1 consecutive shingle starts,
    * so the merged interval length IS ℓ: the shingle approximation
    * recovers exact run lengths for runs ≥ n. Two duplicated substrings
    * whose regions touch merge into one run and threshold jointly —
    * the union region is all duplicated content.
    *
    * Scale: [[removeDupSpans]]'s plan plus one per-document window
    * (lag + running sum) and a (doc, run) partial aggregate over the
    * MARKED positions only — bounded by document length, no new
    * corpus-scale shuffle. */
  def removeDupRuns(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minRun: Int = 50): DataFrame = {
    require(minRun >= n,
      s"minRun ($minRun) must be >= the shingle size ($n)")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val removals = laterOccurrences(docs, idCol, textCol, n)
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(wOrd) <= n, lit(0L))
          .otherwise(lit(1L))) // first row: NULL comparison → new run
      .withColumn("__run", sum(col("__new")).over(wCum))
      .groupBy(col("doc_id"), col("__run"))
      .agg(min(col("pos")).as("__s"),
        (max(col("pos")) + lit(n - 1)).as("__e"))
      .filter(col("__e") - col("__s") + lit(1) >= minRun)
      .select(col("doc_id"), col("__s").as("pos"), col("__e").as("__end"))
    deleteIntervals(docs, idCol, textCol, removals)
  }

  /** Per-document boilerplate ratio: the fraction of a document's
    * distinct spans that are corpus-frequent. Documents shorter than
    * the shingle size have no spans and are absent from the output
    * (nothing to measure). The ratio is bigint/bigint → one IEEE
    * division, engine-exact.
    *
    * Span frequency is a COUNT-over-window on the span partitioning,
    * not a groupBy + self-join: the aggregate-then-join spelling plans
    * two full scans of the corpus (partial aggregation below the
    * frequency shuffle makes the exchanges non-reusable), and at 100 TB
    * re-scanning + re-shingling every document dwarfs the window's
    * in-partition sort of the exploded spans. This shape shingles
    * once: Generate → Exchange(span) → Window → Exchange(doc_id). */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 3L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSpan = Window.partitionBy(col("span"))
    docSpans(docs, idCol, textCol, n)
      .withColumn("doc_freq", count(lit(1)).over(wSpan))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("doc_freq") >= minDocs, lit(1))).as("n_frequent"))
      .withColumn("boilerplate_ratio",
        col("n_frequent").cast("double") / col("n_spans"))
  }
}
