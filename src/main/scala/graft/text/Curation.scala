package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Corpus-curation quality filters from the public training-data
  * literature, as pure `Column` expressions (no UDFs — everything stays
  * in whole-stage codegen, and every metric is engine-portable so the
  * DuckDB oracle pins the exact values, not just row counts):
  *
  *  - [[gopherFeatures]]/[[gopherPassed]] — the Gopher repetition-free
  *    document heuristics (Rae et al. 2021, arXiv:2112.11446 App. A1.1):
  *    token-count bounds, mean word length in [3,10], symbol-to-word
  *    ratio, bullet/ellipsis line ratios, alphabetic-word ratio,
  *    stop-word presence.
  *  - [[c4CleanedText]]/[[c4DocDrop]] — C4's line-level cleaning
  *    (Raffel et al. 2020, arXiv:1910.10683 §2.2): keep lines that end
  *    in terminal punctuation, have ≥ `minWords` words, and don't
  *    mention javascript; drop documents with "lorem ipsum" or code
  *    braces wholesale.
  *
  * All ratios are one int/int IEEE divide over exact integer counts —
  * bit-identical in any engine. ASCII character classes on purpose
  * (unicode classes differ between regex engines).
  *
  * Scale: map-side only — no shuffle, no state; filters compose with
  * the samplers and dedup (filter first: it's the cheapest volume
  * reducer in the pipeline).
  */
object Curation {

  /** Gopher stop-word set (the paper's 8-word "contains at least two"
    * rule). */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document Gopher quality metrics as one struct projection:
    * n_tokens, mean_word_len (non-whitespace chars / tokens — exactly
    * the mean token length, computed without a per-token pass),
    * symbol_ratio ('#' or '…'-as-"..." occurrences per token),
    * alpha_word_ratio (tokens containing a letter), n_stop_words
    * (distinct members of [[gopherStopWords]] present), bullet_ratio /
    * ellipsis_ratio (of lines). */
  def gopherFeatures(text: Column): Column =
    // the WHOLE feature struct as compiled byte passes
    // ([[graft.functions.GopherStatsExpr]]) — the Column composition
    // (kept in [[gopherFeaturesReference]] as the parity pin) ran two
    // regex walks, two splits, an array_distinct + array_intersect
    // and two interpreted ArrayFilter walks per document on the
    // corpus-linear pretrain gate.
    //
    // USAGE CONTRACT: project this struct into a COLUMN before fanning
    // out field references. The native struct is opaque to Catalyst's
    // field pruning (unlike CreateNamedStruct, whose `.field` accesses
    // simplify to the field's sub-expression), so an inline
    // `gopherPassed(gopherFeatures(text))` would re-evaluate the whole
    // scorer once per field reference — gate-only callers use
    // [[gopherGate]], which computes the boolean off ONE pass.
    graft.functions.NativeCuration.gopherStats(text, gopherStopWords)

  /** The Gopher pass rule STRAIGHT off the text — one compiled pass
    * ([[graft.functions.GopherPassedExpr]]), for callers that gate
    * without consuming the features (see [[gopherFeatures]]'s usage
    * contract). Identical rule to [[gopherPassed]] over
    * [[gopherFeatures]], NULL text fails. */
  def gopherGate(text: Column, minTokens: Long = 50L,
      maxTokens: Long = 100000L, minStopWords: Long = 2L): Column =
    graft.functions.NativeCuration.gopherPassed(text, gopherStopWords,
      minTokens, maxTokens, minStopWords)

  /** The HOF reference spelling of [[gopherFeatures]] (parity tests
    * only — ArrayFilter walks, interpreted). */
  private[graft] def gopherFeaturesReference(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val nTok = size(toks)
    val nonWs = length(regexp_replace(text, "\\s+", ""))
    val nSym = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val nStop = size(array_intersect(array_distinct(toks),
      array(gopherStopWords.map(lit): _*)))
    val lines = split(text, "\n", -1)
    val nLines = size(lines)
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*")))
    val nEllipsis = size(filter(lines, l => trim(l).endsWith("...")))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast(DoubleType) / den.cast(DoubleType))
        .otherwise(lit(0.0))
    struct(
      nTok.cast(LongType).as("n_tokens"),
      ratio(nonWs, nTok).as("mean_word_len"),
      ratio(nSym, nTok).as("symbol_ratio"),
      ratio(nAlpha, nTok).as("alpha_word_ratio"),
      nStop.cast(LongType).as("n_stop_words"),
      ratio(nBullet, nLines).as("bullet_ratio"),
      ratio(nEllipsis, nLines).as("ellipsis_ratio"))
  }

  /** The Gopher document-level pass rule over [[gopherFeatures]]
    * (`f` = that struct column). Bounds are the paper's, with the
    * token-count window and stop-word minimum parameterized (the paper
    * uses [50, 100k] and ≥ 2; short-doc or domain corpora tune them). */
  def gopherPassed(f: Column, minTokens: Long = 50L,
      maxTokens: Long = 100000L, minStopWords: Long = 2L): Column =
    // coalesce: NULL text must FAIL the filter (and match the oracle's
    // CASE ... ELSE 0), not propagate NULL through the conjunction
    coalesce(
      f("n_tokens").between(minTokens, maxTokens) &&
        f("mean_word_len") >= 3.0 && f("mean_word_len") <= 10.0 &&
        f("symbol_ratio") < 0.1 &&
        f("bullet_ratio") < 0.9 && f("ellipsis_ratio") < 0.3 &&
        f("alpha_word_ratio") > 0.8 &&
        f("n_stop_words") >= minStopWords,
      lit(false))

  /** Duplication stats over an array of text units (lines or
    * paragraphs): `(n_units, n_dup_units, unit_chars, dup_unit_chars)`
    * where a "duplicate" is every occurrence AFTER the first of a
    * repeated value — the counting rule of the public Gopher
    * reproductions, which makes the whole computation set-algebra:
    * duplicates = all occurrences − distinct values, duplicate chars =
    * all chars − first-occurrence chars. One `array_distinct` and two
    * length sums per document — O(L), map-side, no sort, no shuffle,
    * and nothing re-evaluated inside a HOF lambda. */
  def dupUnitStats(units: Column): Column = {
    val firsts = array_distinct(units)
    def sumLens(arr: Column): Column =
      aggregate(transform(arr, u => length(u)), lit(0), (acc, e) => acc + e)
    struct(
      size(units).cast(LongType).as("n_units"),
      (size(units) - size(firsts)).cast(LongType).as("n_dup_units"),
      sumLens(units).cast(LongType).as("unit_chars"),
      (sumLens(units) - sumLens(firsts)).cast(LongType)
        .as("dup_unit_chars"))
  }

  /** The Gopher repetition metrics (Rae et al. 2021 App. A1.2, first
    * half): duplicate line / paragraph fraction, and the fraction of
    * CHARACTERS sitting in duplicated lines / paragraphs — "duplicate"
    * counted as occurrences after the first ([[dupUnitStats]]). Lines
    * split on `\n`, paragraphs on `\n\n` (the paper's units). All four
    * ratios are one bigint/bigint IEEE divide over exact counts —
    * engine-portable, zero-guarded. One projection, map-side; the
    * n-gram half of A1.2 is [[topNgramCharFrac]] (it needs a
    * corpus-side aggregate) and the existing per-doc
    * `TextFunctions.repetitionScore`. */
  def repetitionFeatures(text: Column): Column = {
    // compiled one-pass duplication stats
    // ([[graft.functions.DupUnitStatsExpr]]): the Column spelling
    // ([[dupUnitStats]], kept as the parity reference inside
    // [[repetitionFeaturesReference]]) pays two interpreted
    // aggregate(transform(...)) folds per document
    val lines = graft.functions.NativeCuration.dupUnitStats(text, "\n")
    val paras = graft.functions.NativeCuration.dupUnitStats(text, "\n\n")
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast(DoubleType) / den.cast(DoubleType))
        .otherwise(lit(0.0))
    struct(
      ratio(lines("n_dup_units"), lines("n_units")).as("dup_line_frac"),
      ratio(lines("dup_unit_chars"), lines("unit_chars"))
        .as("dup_line_char_frac"),
      ratio(paras("n_dup_units"), paras("n_units")).as("dup_para_frac"),
      ratio(paras("dup_unit_chars"), paras("unit_chars"))
        .as("dup_para_char_frac"))
  }

  /** The HOF reference spelling of [[repetitionFeatures]] (parity
    * tests only — interpreted). */
  private[graft] def repetitionFeaturesReference(text: Column): Column = {
    val lines = dupUnitStats(split(text, "\n", -1))
    val paras = dupUnitStats(split(text, "\n\n", -1))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, num.cast(DoubleType) / den.cast(DoubleType))
        .otherwise(lit(0.0))
    struct(
      ratio(lines("n_dup_units"), lines("n_units")).as("dup_line_frac"),
      ratio(lines("dup_unit_chars"), lines("unit_chars"))
        .as("dup_line_char_frac"),
      ratio(paras("n_dup_units"), paras("n_units")).as("dup_para_frac"),
      ratio(paras("dup_unit_chars"), paras("unit_chars"))
        .as("dup_para_char_frac"))
  }

  /** The document-level pass rule over [[repetitionFeatures]] (`f` =
    * that struct): the paper drops documents whose duplicate
    * line/paragraph fraction exceeds 0.30 or whose duplicate
    * line/paragraph CHARACTER fraction exceeds 0.20. */
  def repetitionPassed(f: Column,
      maxDupFrac: Double = 0.30, maxDupCharFrac: Double = 0.20): Column =
    coalesce(
      f("dup_line_frac") <= maxDupFrac &&
        f("dup_para_frac") <= maxDupFrac &&
        f("dup_line_char_frac") <= maxDupCharFrac &&
        f("dup_para_char_frac") <= maxDupCharFrac,
      lit(false))

  /** Term-blocklist hit count — the C4 "bad words" gate (Raffel et al.
    * 2020 §2.2 removed any page containing a listed word): TOKEN
    * occurrences whose lowercase form is in `terms`. Whole-token
    * matching on purpose — substring matching is the classic
    * false-positive factory ("class", "assassin"). One codegen'd
    * filter over the token array against the literal term list; fine
    * for config-sized lists (C4's is ~400 terms), use
    * [[blocklistHitsJoin]] when the list outgrows a plan literal.
    *
    * Term contract (ADVICE r13): terms must be NON-EMPTY strings —
    * enforced at plan build (the native TokenSetHitsExpr requires it,
    * and [[blocklistHitsReference]] mirrors the require so both
    * spellings share one contract). An earlier HOF spelling silently
    * accepted "" and counted boundary-empty tokens as hits — a
    * nonsense blocklist entry that only ever inflated counts; failing
    * fast is the deliberate, documented behavior change. */
  def blocklistHits(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "empty blocklist")
    require(terms.forall(_.nonEmpty),
      "blocklist terms must be non-empty strings")
    // one compiled pass ([[graft.functions.TokenSetHitsExpr]] — the
    // ArrayFilter spelling in [[blocklistHitsReference]] interprets a
    // closure per token): the text side is lowered ONCE with Spark's
    // own `lower` (lowercasing never creates or removes the ASCII
    // whitespace that bounds tokens, and the final-sigma rule sees the
    // same word boundaries, so lower-then-tokenize ≡ tokenize-then-
    // lower — pinned by the parity spec's unicode fixtures), then each
    // token is one hash-set probe against the ROOT-lowercased terms
    graft.functions.NativeCuration.tokenSetHits(lower(text),
      terms.map(_.toLowerCase(java.util.Locale.ROOT)))
  }

  /** The HOF reference spelling of [[blocklistHits]] (parity tests
    * only — interpreted). */
  private[graft] def blocklistHitsReference(text: Column,
      terms: Seq[String]): Column = {
    require(terms.nonEmpty, "empty blocklist")
    require(terms.forall(_.nonEmpty),
      "blocklist terms must be non-empty strings") // mirror blocklistHits
    val lowered = array(terms.map(t => lit(t.toLowerCase(
      java.util.Locale.ROOT))): _*)
    size(filter(TextFunctions.tokens(text),
      t => array_contains(lowered, lower(t)))).cast(LongType)
  }

  /** Blocklist pass rule: at most `maxHits` listed tokens (C4's rule
    * is 0 — any hit drops the page). */
  def blocklistPassed(text: Column, terms: Seq[String],
      maxHits: Long = 0L): Column =
    blocklistHits(text, terms) <= maxHits

  /** One language's curation rule table: the per-language analog of
    * the Gopher stopword minimum and the C4 blocklist, with the term
    * matching rule changed to SUBSTRING containment — whole-token
    * matching is meaningless for unspaced scripts (ja/th/zh tokenize
    * to one giant "token" under \\s+), and a routed pipeline must gate
    * every script with the same machinery. `minTokens` is the one
    * whitespace-based bound, so unspaced routes set it to 1. */
  case class LangRoute(lang: String, stopWords: Seq[String],
      blocklist: Seq[String], maxHits: Long = 0L, minTokens: Long = 1L,
      minStopWords: Long = 1L)

  /** Number of `terms` CONTAINED in the text (substring, case-exact —
    * the cross-script matching rule of [[LangRoute]]). An EMPTY term
    * list counts zero — a route with no blocklist yet (a newly added
    * language) is a legitimate pass-all state, unlike the C4
    * [[blocklistHits]] whose callers always gate on a committed list.
    * Codegen'd literal-array filter, map-only. */
  def containsCount(text: Column, terms: Seq[String]): Column =
    if (terms.isEmpty) lit(0L)
    // compiled term loop ([[graft.functions.ContainsCountExpr]], binary
    // UTF8String.contains per term — the ArrayFilter spelling in
    // [[containsCountReference]] interprets a closure per term per row)
    else graft.functions.NativeCuration.containsCount(text, terms)

  /** The HOF reference spelling of [[containsCount]] (parity tests
    * only — interpreted). */
  private[graft] def containsCountReference(text: Column,
      terms: Seq[String]): Column =
    if (terms.isEmpty) lit(0L)
    else size(filter(array(terms.map(lit): _*), t => text.contains(t)))
      .cast(LongType)

  /** Per-language routed curation — what the English-only lang GATE
    * becomes in a multilingual pipeline: instead of dropping non-en
    * documents, each document is routed by `langCol` (typically the
    * zero-shuffle profile detector's prediction,
    * [[graft.functions.NativeLang.langIdProfile]]) to ITS language's
    * rule table and gated there. Returns one row per document:
    * `(doc_id, route_lang, blocklist_pass, quality_pass)` where
    * route_lang is the matched route's language or `"other"`
    * (no committed rules — such docs fail both gates; a production
    * deployment adds routes rather than silently passing unknown
    * scripts). Pure projection: the per-route rule dispatch is one
    * codegen'd CASE chain over `langCol` — the fan-out stays map-side,
    * no shuffle, no per-language job. */
  def routedCurationFlags(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      routes: Seq[LangRoute]): org.apache.spark.sql.DataFrame = {
    require(routes.nonEmpty, "no routes")
    // an empty BLOCKLIST is pass-all (legitimate for a new language);
    // an empty STOPWORD set can never satisfy minStopWords >= 1 — that
    // route would silently discard its whole language at the quality
    // gate, so fail the plan build instead
    routes.foreach { r =>
      require(r.stopWords.nonEmpty || r.minStopWords == 0,
        s"route '${r.lang}': empty stopWords with minStopWords=" +
          s"${r.minStopWords} would fail every document")
    }
    val lang = col(langCol)
    val text = col(textCol)
    def dispatch(f: LangRoute => Column, other: Column): Column =
      routes.foldRight(other) { (r, acc) =>
        when(lang === r.lang, f(r)).otherwise(acc)
      }
    docs.select(col(idCol).as("doc_id"),
      dispatch(r => lit(r.lang), lit("other")).as("route_lang"),
      dispatch(r => containsCount(text, r.blocklist) <= r.maxHits,
        lit(false)).as("blocklist_pass"),
      dispatch(r =>
          size(TextFunctions.tokens(text)).cast(LongType) >= r.minTokens &&
          containsCount(text, r.stopWords) >= r.minStopWords,
        lit(false)).as("quality_pass"))
  }

  /** Per-language funnel counts over [[routedCurationFlags]]:
    * `(route_lang, n_routed, n_blocklist, n_quality)` with the stages
    * cumulative (quality counted among blocklist survivors). One tiny
    * aggregate — output is languages-sized. */
  def multilingualFunnel(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      routes: Seq[LangRoute]): org.apache.spark.sql.DataFrame =
    routedCurationFlags(docs, idCol, textCol, langCol, routes)
      .groupBy(col("route_lang"))
      .agg(count(lit(1)).as("n_routed"),
        sum(col("blocklist_pass").cast(LongType)).as("n_blocklist"),
        sum((col("blocklist_pass") && col("quality_pass"))
          .cast(LongType)).as("n_quality"))

  /** The large-list spelling: explode tokens, broadcast-semi-join the
    * term table, count per doc — the shape for blocklists too big to
    * ride the plan as a literal (10⁵+ terms). Returns
    * `(doc_id, n_hits)`; docs with zero hits are ABSENT (anti-join the
    * ids to apply the C4 drop). One corpus scan, terms broadcast,
    * corpus rows never shuffle. */
  def blocklistHitsJoin(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      terms: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = terms.select(lower(col(terms.columns.head)).as("__term"))
      .distinct()
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .select(col("doc_id"), lower(col("__tok")).as("__term"))
      .join(org.apache.spark.sql.functions.broadcast(t), Seq("__term"),
        "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** C4 line filter: keep lines that (trimmed) end in `.` `!` `?` or
    * `"`, contain at least `minWords` whitespace-separated words, and
    * don't mention "javascript"; re-join survivors with newlines.
    * Returns the cleaned text ("" when nothing survives — callers drop
    * those rows). */
  def c4CleanedText(text: Column, minWords: Int = 3): Column =
    // one compiled pass over the document
    // ([[graft.functions.C4CleanExpr]]): the HOF spelling in
    // [[c4CleanedTextReference]] is an interpreted ArrayFilter whose
    // PER-LINE lambda itself re-runs trim + a regex split + lower —
    // three more interpreted walks per line
    graft.functions.NativeCuration.c4Clean(text, minWords)

  /** The HOF reference spelling of [[c4CleanedText]] (parity tests
    * only — interpreted). */
  private[graft] def c4CleanedTextReference(text: Column,
      minWords: Int = 3): Column = {
    val kept = filter(split(text, "\n", -1), l => {
      val t = trim(l)
      (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
        t.endsWith("\"")) &&
        size(split(t, "\\s+")) >= minWords &&
        !lower(t).contains("javascript")
    })
    concat_ws("\n", kept)
  }

  /** C4 document-level drop: pages containing "lorem ipsum" (template
    * placeholder) or `{` (source code) are removed wholesale. */
  def c4DocDrop(text: Column): Column =
    lower(text).contains("lorem ipsum") || text.contains("{")

  /** The gate stages of [[gateFlags]], in chain order. */
  private val gateStages = Seq("html", "blocklist", "lang", "gopher", "c4")

  /** The pass-flag column of gate stage `stage` in a [[gateFlags]] frame. */
  def gateFlag(stage: String): String = s"__$stage"

  /** THE curation gate chain, shared by the batch funnels and the
    * streaming sinks: optional HTML → text extraction
    * ([[Html.extractText]], replacing `textCol`; an empty extraction
    * fails), optional blocklist (`(terms, maxHits)`,
    * [[blocklistPassed]]), optional language (stopword vote == `lang`),
    * then the Gopher gate ([[gopherGate]]), then C4: the doc-drop rule
    * and line cleaning over `segment(text)`, an empty cleaned text
    * failing. Each stage is a CUMULATIVE pass flag ([[gateFlag]]: a
    * document passes a stage only if it passed every earlier one). The
    * cleaned text of the c4 survivors lands in `clean`, NULL for every
    * dropped document, so a checkpoint of the flags carries text only
    * for the rows a later stage reads. Map-side only: the survivor
    * counts of every stage are one aggregate over this one projection
    * ([[gateCounts]]), never one filtered frame per stage. */
  def gateFlags(docs: DataFrame, textCol: String, minTokens: Long,
      minStopWords: Long, maxTokens: Long = 100000L, html: Boolean = false,
      blocklist: Option[(Seq[String], Long)] = None, lang: Option[String] = None,
      segment: Column => Column = identity, minWords: Int = 3): DataFrame = {
    val text = col(textCol)
    val src = if (html) docs.withColumn(textCol, Html.extractText(text)) else docs
    val gates = Seq(
      Option.when(html)("html" -> (text =!= "")),
      blocklist.map { case (terms, maxHits) =>
        "blocklist" -> blocklistPassed(text, terms, maxHits) },
      lang.map(l => "lang" -> (TextFunctions.langId(text) === l)),
      Some("gopher" ->
        gopherGate(text, minTokens, maxTokens, minStopWords))).flatten
    val gated = gates.foldLeft((src, Option.empty[Column])) {
      case ((df, prev), (stage, pass)) =>
        (df.withColumn(gateFlag(stage), prev.fold(pass)(_ && pass)),
          Some(col(gateFlag(stage))))
    }._1
    gated.withColumn("__seg", segment(text))
      .withColumn("__clean", c4CleanedText(col("__seg"), minWords))
      .withColumn(gateFlag("c4"), col(gateFlag("gopher")) &&
        !c4DocDrop(col("__seg")) && col("__clean") =!= "")
      .withColumn("clean", when(col(gateFlag("c4")), col("__clean")))
      .drop("__seg", "__clean")
  }

  /** The gate stages whose flag a [[gateFlags]] frame carries. */
  def gatesOf(flagged: DataFrame): Seq[String] =
    gateStages.filter(s => flagged.columns.contains(gateFlag(s)))

  /** One row: `total` plus the survivor count of every gate stage
    * present in `flagged` (a [[gateFlags]] frame), named by stage. The
    * stage sums of an empty frame are NULL: read them only when
    * `total > 0`. */
  def gateCounts(flagged: DataFrame): DataFrame =
    flagged.agg(count(lit(1)).as("total"), gatesOf(flagged).map(s =>
      sum(col(gateFlag(s)).cast(LongType)).as(s)): _*)

  /** The committed-model quality gate: the rows of `docs` whose
    * `textCol` the quantized classifier
    * ([[QualityClassifier.scoreQuantized]]) passes. Texts with fewer
    * than two tokens have no features, are absent from scoring, and
    * fail. An inner join on the (unique) ids, not a semi join: the
    * planner may then broadcast either side, where a semi join can only
    * build the scores side, whose size it cannot estimate. */
  def modelGate(docs: DataFrame, idCol: String, textCol: String,
      weightsQ: Seq[(Int, Long)], biasQ: Long, buckets: Int): DataFrame =
    docs.join(
        QualityClassifier.scoreQuantized(docs.select(col(idCol), col(textCol)),
            idCol, textCol, weightsQ, biasQ, buckets)
          .filter(col("clf_pass") === 1).select(col(idCol)),
        Seq(idCol))
      .select(docs.columns.toIndexedSeq.map(col): _*)

  /** One row: the row count of each named frame, in ONE aggregate over
    * a union of stage-tagged rows. count(frame_i) ≡ sum(tag = i), so the
    * frames share one partial-aggregate pass instead of one count
    * subtree (and one final-aggregate exchange) each. */
  def survivorCounts(frames: Seq[(String, DataFrame)]): DataFrame = {
    val tagged = frames.zipWithIndex
      .map { case ((_, df), i) => df.select(lit(i).as("__st")) }
      .reduce(_.union(_))
    val counts = frames.zipWithIndex.map { case ((name, _), i) =>
      coalesce(sum((col("__st") === i).cast(LongType)), lit(0L)).as(name)
    }
    tagged.agg(counts.head, counts.tail: _*)
  }

  /** The stage-count table `(stage_idx, stage, n_docs)` of a one-row
    * frame of counts: column `stages(i)` becomes stage i. */
  def stageTable(counts: DataFrame, stages: Seq[String]): DataFrame =
    counts
      .select(explode(array(stages.zipWithIndex.map { case (name, i) =>
        struct(lit(i).cast("int").as("stage_idx"), lit(name).as("stage"),
          col(name).as("n_docs"))
      }: _*)).as("s"))
      .select(col("s.stage_idx").as("stage_idx"), col("s.stage").as("stage"),
        col("s.n_docs").as("n_docs"))
      .orderBy(col("stage_idx"))

  /** The n-gram half of Gopher A1.2: for each document and each n in
    * `ns`, the most frequent n-token gram, its occurrence count, and
    * the fraction of the document's characters its occurrences span
    * (count × gram length / doc length — the public implementations'
    * convention; overlapping occurrences are not collapsed). Ties
    * break deterministically — higher count, then longer gram, then
    * binary-smallest — so any engine derives the same row. Documents
    * shorter than n tokens have no (doc, n) row.
    *
    * Scale: the mode of a per-row array is a PER-ROW problem — ZERO
    * shuffle, ONE scan. Each n's mode is one compiled hash-map pass
    * per row (the native [[graft.functions.TopNgramExpr]]; the Column
    * HOF spelling — sort + `aggregate` run-length fold — is ~8×
    * slower interpreted, and an explode + (doc, n, gram) count
    * shuffle moves every gram occurrence across the cluster to answer
    * a question each row answers locally). All n explode from the
    * same projection. */
  def topNgramCharFrac(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, ns: Seq[Int] = Seq(2, 3, 4)): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n list: $ns")
    val perN = ns.map { n =>
      struct(lit(n).as("n"),
        graft.functions.NativeText.topNgram(col(textCol), n).as("top"))
    }
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).as("__chars"),
        explode(array(perN: _*)).as("__e"))
      .filter(col("__e")("top").isNotNull)
      .select(col("doc_id"), col("__e")("n").as("n"),
        col("__e")("top")("gram").as("top_gram"),
        col("__e")("top")("cnt").as("occurrences"),
        ((col("__e")("top")("cnt") * length(col("__e")("top")("gram")))
          .cast(DoubleType) / col("__chars")).as("char_frac"))
  }
}
