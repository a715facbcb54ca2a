package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication operators for large-scale corpus curation:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard. Every path is
  * expression-only (no UDFs) and shuffle-bounded:
  *
  *  - exact: one shuffle on the content hash;
  *  - MinHash+LSH: shuffle on (band, bandHash) — candidate pairs only,
  *    never the O(n²) cross product;
  *  - SimHash: shuffle on 16-bit chunks (pigeonhole: hamming ≤ 3 over 4
  *    chunks ⇒ ≥ 1 identical chunk);
  *  - blocked exact Jaccard: shuffle on the block key.
  *
  * At 100 TB the candidate-pair joins dominate; band width / chunk count
  * tune the candidate volume, and verification is a per-pair expression.
  */
object Dedup {

  /** Exact dedup on normalized content: keep the lowest-id row per
    * distinct text (deterministic survivor, unlike `dropDuplicates`
    * whose survivor is partition-order-dependent). */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Cross-snapshot EXACT dedup of an arriving batch against a large
    * historical index, bloom-prefiltered
    * ([[graft.functions.NativeBloom]]): returns the new rows whose
    * content does NOT already exist in the index.
    *
    * Why not a plain anti join: that shuffles BOTH sides by content —
    * at 100 TB the index shuffle is the whole job. Here the index is
    * never shuffled at all:
    *
    *  1. one map-only index pass builds the bloom over
    *     xxhash64(text) (fixed-size mergeable state, one bitset per
    *     partition into a single-row aggregate);
    *  2. the batch probes the broadcast-bound sketch MAP-SIDE — rows
    *     the bloom rejects are definitely new (no false negatives)
    *     and exit with zero join cost;
    *  3. the few bloom-positive hashes (true dups + the fp rate)
    *     collect to the driver (capped) and prefilter a second
    *     map-only index pass via an isin literal;
    *  4. the surviving index slice (small) broadcasts into an exact
    *     anti join ON TEXT — false positives die here, and hash
    *     collisions cannot drop a genuinely-new row.
    *
    * If the candidate-hash set exceeds `maxCandidates` (a batch that
    * is mostly duplicates), the method falls back to the plain
    * shuffle anti join — correct at any volume, just not
    * index-shuffle-free (the d8 pushdown-with-fallback discipline).
    * Result is EXACTLY the anti-join semantics either way — the
    * oracle pins d11 against a plain SQL anti join. */
  def bloomDedupNewVsIndex(newDf: DataFrame, indexDf: DataFrame,
      idCol: String, textCol: String, expectedIndexRows: Long,
      fpp: Double = 0.01, maxCandidates: Int = 100000): DataFrame = {
    import graft.functions.NativeBloom
    val bits = NativeBloom.optimalBits(math.max(1L, expectedIndexRows), fpp)
    val hashes = NativeBloom.optimalHashes(math.max(1L, expectedIndexRows), bits)
    val bloom = indexDf
      .select(NativeBloom.bloomBuild(xxhash64(col(textCol)), bits, hashes)
        .as("b"))
      .head().getAs[Array[Byte]](0)
    val probed = newDf.withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__cand", NativeBloom.bloomContains(col("__h"), bloom))
    val candHashes = probed.filter(col("__cand"))
      .select(col("__h")).distinct()
      .limit(maxCandidates + 1)
      .collect().map(_.getLong(0))
    if (candHashes.length > maxCandidates)
      newDf.join(indexDf.select(col(textCol)).distinct(),
        Seq(textCol), "left_anti")
    else if (candHashes.isEmpty) probed.drop("__h", "__cand")
    else {
      val indexSlice = indexDf
        .filter(xxhash64(col(textCol)).isin(candHashes.toIndexedSeq.map(Long.box): _*))
        .select(col(textCol)).distinct()
      probed.join(broadcast(indexSlice), Seq(textCol), "left_anti")
        .drop("__h", "__cand")
    }
  }

  // ---- MinHash + LSH ----

  /** MLlib's MinHash prime (public constant): < 2^31 so a*h+b stays in
    * a long. */
  val MinHashPrime = 2038074743L

  /** Deterministic (a, b) coefficients for `k` universal hash functions,
    * derived from a fixed seed via splitmix64 (public-domain mixer). */
  def coefficients(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      z
    }
    (0 until k).map { _ =>
      (Math.floorMod(next(), MinHashPrime - 1) + 1, Math.floorMod(next(), MinHashPrime))
    }
  }

  /** MinHash signature per document: (id, sig: array<long>) with
    * sig_i = min over shingles of (a_i·h + b_i mod P). A signature is a
    * pure function of one document's shingle set, so it computes as a
    * PROJECTION (native [[graft.functions.MinHashSigExpr]], all k lanes
    * in one compiled loop) — no explode, no shuffle, map-only scan.
    * Docs with fewer tokens than the shingle size have no signature. */
  /** Candidate probability of the banded-LSH S-curve: with `bands`
    * bands of `rows` rows each, a pair at Jaccard `s` collides in at
    * least one band with P = 1 − (1 − s^rows)^bands. The tuning math
    * behind [[lshParams]], exposed so operators (and tests) can read
    * the recall/candidate-volume trade-off a parameter choice implies. */
  def lshCandidateProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Choose (bands, rowsPerBand) by the textbook rule (Leskovec et al.,
    * MMDS §3.4.3): among the factorizations b·r = `numHashes`, pick
    * the one whose S-curve inflection (1/b)^(1/r) sits closest to the
    * Jaccard `threshold` — the balanced choice that splits false
    * positives and false negatives around the threshold. Driver math
    * over ≤ numHashes factor pairs, no data touched. At (64, 0.8) this
    * resolves to (8, 8); note the standalone dedup queries run the
    * deliberately RECALL-BIASED (16, 4) instead — capture ≈ 0.9998 at
    * s = 0.8 with [[verifyJaccard]] absorbing the extra candidates —
    * which is what [[lshParamsForRecall]] derives. */
  def lshParams(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 2, s"need >= 2 hashes, got $numHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold in (0,1), got $threshold")
    val options = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map { b =>
        val r = numHashes / b
        (b, r, math.pow(1.0 / b, 1.0 / r))
      }
    // distance asc, then bands DESC (recall-favoring tie-break)
    val (b, r, _) = options.minBy { case (bb, _, inflection) =>
      (math.abs(inflection - threshold), -bb)
    }
    (b, r)
  }

  /** The production tuning rule: the FEWEST bands (fewest candidate
    * pairs — band count is the candidate-volume knob) whose S-curve
    * still captures a pair AT the threshold with probability ≥
    * `minRecall`. (64, 0.8, 0.999) resolves to (16, 4) — the banding
    * the standalone queries use. Throws when no factorization reaches
    * the recall (raise numHashes). */
  def lshParamsForRecall(numHashes: Int, threshold: Double,
      minRecall: Double = 0.999): (Int, Int) = {
    require(numHashes >= 2, s"need >= 2 hashes, got $numHashes")
    require(threshold > 0 && threshold < 1,
      s"threshold in (0,1), got $threshold")
    require(minRecall > 0 && minRecall < 1,
      s"minRecall in (0,1), got $minRecall")
    (1 to numHashes)
      .filter(numHashes % _ == 0)
      .collectFirst {
        case b if lshCandidateProbability(threshold, b, numHashes / b)
            >= minRecall =>
          (b, numHashes / b)
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no banding of $numHashes hashes reaches recall $minRecall at " +
        s"threshold $threshold — increase numHashes"))
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64): DataFrame =
    df.select(col(idCol),
        graft.functions.NativeMinHash.signature(
          TextFunctions.tokenShingles(col(textCol), shingleSize),
          coefficients(numHashes), MinHashPrime).as("sig"))
      .filter(col("sig").isNotNull)

  /** Aggregate reference formulation of [[minhashSignatures]] (parity
    * tests): explode shingles → k min-aggregates, one shuffle. */
  def minhashSignaturesReference(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64): DataFrame = {
    val sh = df.select(col(idCol),
      explode(TextFunctions.tokenShingles(col(textCol), shingleSize)).as("__sh"))
      .withColumn("__h", pmod(xxhash64(col("__sh")), lit(MinHashPrime)))
    val aggs = coefficients(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("__h") + lit(b), lit(MinHashPrime))).as(s"__m$i")
    }
    sh.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs from banded signatures: docs sharing any band
    * collide; pairs are deduped. `bands` must divide the signature
    * length `k`. Returns (idA, idB) with idA < idB.
    *
    * `maxBandGroup` guards the hot-band quadratic blowup: a corpus with
    * thousands of byte-identical docs puts them all in the same
    * (band, hash) bucket, and the self-join emits O(n²) pairs per
    * bucket. Groups larger than the cap switch to a STAR topology —
    * every member pairs with the group's minimum id only, O(n) pairs.
    *
    * Recall trade, stated precisely: the star covers every pair that
    * verifies against the group representative (the mass-duplicate case
    * the cap exists for — near-identical docs share ALL bands, so their
    * buckets are near-cliques). A pair of docs that are near-dups of
    * EACH OTHER but not of the representative, whose only shared bucket
    * was capped, is missed. Keep the cap at 0 (off, the default, and
    * what the exact-oracle queries use) for exhaustive enumeration; at
    * scale, run [[exactByContent]] FIRST — it collapses identical docs
    * to one row, which both shrinks hot buckets and removes the main
    * source of non-representative pairs. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String, bands: Int,
      k: Int = 64, maxBandGroup: Int = 0): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide signature length $k")
    val bandedSigs = banded(sigs, idCol, bands, k)
    // self-join: force a shuffled hash join so both sides share ONE
    // identical Exchange subtree → ReuseExchange computes signatures and
    // banding once. AQE's broadcast pick would scan (and re-minhash) the
    // corpus twice — and a self-side broadcast is never right anyway:
    // both sides are the same size at every scale.
    val allPairs = (l: DataFrame, r: DataFrame) =>
      l.as("l").hint("shuffle_hash").join(r.as("r"),
          col("l.__band") === col("r.__band") && col("l.__bh") === col("r.__bh") &&
          col("l.__id") < col("r.__id"))
        .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
    val pairs =
      if (maxBandGroup <= 0) allPairs(bandedSigs, bandedSigs)
      else {
        // one window pass sizes each (band, hash) group — same shuffle
        // key as the join, so no extra exchange shape
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__band"), col("__bh"))
        val sized = bandedSigs
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__rep", min(col("__id")).over(w))
        val small = sized.filter(col("__n") <= maxBandGroup)
          .select(col("__id"), col("__band"), col("__bh"))
        val bigStar = sized.filter(col("__n") > maxBandGroup)
          .filter(col("__id") =!= col("__rep"))
          .select(col("__rep").as("id_a"), col("__id").as("id_b"))
        allPairs(small, small).unionByName(bigStar)
      }
    pairs.distinct()
  }

  /** Banded LSH keys for a signature frame: (__id, __band, __bh). */
  private def banded(sigs: DataFrame, idCol: String, bands: Int,
      k: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col(idCol).as("__id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))): _*))
        .as(Seq("__band", "__bh")))
  }

  /** Incremental near-dup candidates for a GROWING corpus: a new batch
    * is checked against an existing signature index (as written by
    * [[minhashSignatures]] — persist it once, reuse it every increment)
    * without recomputing or re-banding costing O(corpus). Emits
    * canonical candidate pairs among
    * new-vs-old and new-vs-new; OLD-vs-old pairs are deliberately not
    * re-derived — they were resolved when those docs arrived.
    *
    * Scale shape: the index side shuffles on (band, bandHash) exactly
    * once per increment (no signature recompute — reading k longs per
    * doc, not re-shingling text); the new side is typically tiny
    * relative to the corpus. This is the daily-increment workflow at
    * 100 TB: signatures are write-once, candidates cost
    * O(increment + index shuffle). */
  def incrementalCandidatePairs(newSigs: DataFrame, indexSigs: DataFrame,
      idCol: String, bands: Int, k: Int = 64): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide signature length $k")
    val bNew = banded(newSigs, idCol, bands, k)
    val bOld = banded(indexSigs, idCol, bands, k)
    val newOld = bNew.as("l").join(bOld.as("r"),
        col("l.__band") === col("r.__band") && col("l.__bh") === col("r.__bh") &&
        col("l.__id") =!= col("r.__id"))
      .select(least(col("l.__id"), col("r.__id")).as("id_a"),
        greatest(col("l.__id"), col("r.__id")).as("id_b"))
    val newNew = bNew.as("l").hint("shuffle_hash").join(bNew.as("r"),
        col("l.__band") === col("r.__band") && col("l.__bh") === col("r.__bh") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
    newOld.unionByName(newNew).distinct()
  }

  /** Incremental near-dup pipeline: candidates from
    * [[incrementalCandidatePairs]], verified with exact Jaccard against
    * `corpus` (any frame covering both id spaces — the verify step
    * semi-join-narrows it to candidate ids before shingling, so the
    * corpus is scanned once and only candidate docs are re-shingled). */
  def incrementalNearDuplicates(newDocs: DataFrame, indexSigs: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, threshold: Double = 0.8,
      bands: Int = 16, numHashes: Int = 64): DataFrame = {
    // numHashes MUST match the signature length the index was built
    // with — banding reads sig[1..k] and a shorter persisted signature
    // would fail (or silently truncate recall) otherwise
    val newSigs = minhashSignatures(newDocs, idCol, textCol, shingleSize,
      numHashes)
    val cands = incrementalCandidatePairs(newSigs, indexSigs, idCol, bands,
      numHashes)
    verifyJaccard(corpus, cands, idCol, textCol, shingleSize, threshold)
  }

  /** Verify candidate pairs with exact shingle Jaccard; keeps pairs at or
    * above `threshold`. The corpus is first narrowed to docs that appear
    * in some candidate pair via a broadcast SEMI-join on the (small, by
    * LSH design) id set — shingle arrays are then computed only for
    * those rows, not re-materialized for the whole corpus. At 100 TB the
    * scan still touches every row group once, but the shingling CPU (the
    * dominant verify cost) shrinks from O(corpus) to O(candidates). */
  def verifyJaccard(df: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, threshold: Double): DataFrame = {
    val ids = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol)))
      .distinct()
    val sets = df.join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col(idCol).as("__vid"),
        TextFunctions.tokenShingles(col(textCol), shingleSize).as("__set"))
    candidates
      .join(sets.withColumnRenamed("__vid", "id_a").withColumnRenamed("__set", "__sa"), "id_a")
      .join(sets.withColumnRenamed("__vid", "id_b").withColumnRenamed("__set", "__sb"), "id_b")
      .withColumn("jaccard", TextFunctions.jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    * pairs → exact-Jaccard verification. With 16 bands × 4 rows, recall
    * at j≥0.8 is ≈0.9998 (and ≈1−1e-13 at j≈0.98); precision is exact
    * because every candidate is verified. */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, threshold: Double = 0.8): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, shingleSize)
    val cands = lshCandidatePairs(sigs, idCol, bands = 16)
    verifyJaccard(df, cands, idCol, textCol, shingleSize, threshold)
  }

  // ---- SimHash ----

  /** Chunk-blocked hamming pairs over (\_\_id, \_\_sim) signatures:
    * explode into `nChunks` chunks of `chunkBits` bits, equi-join on
    * (chunk index, chunk value) — pigeonhole-complete whenever
    * maxHamming < nChunks — then verify with bit_count(xor). */
  /** `maxChunkGroup` is the hamming twin of [[lshCandidatePairs]]'
    * `maxBandGroup`: a corpus of byte-identical media (blank
    * thumbnails, silence clips) puts every record in the same
    * (chunk, value) bucket and the self-join emits O(n²) pairs per
    * bucket. Over-cap groups switch to the STAR topology — every
    * member pairs with the group's minimum id, O(n). Identical hashes
    * share ALL chunks (hamming 0), so the representative catches every
    * mass-duplicate; the same precisely-stated recall trade as the
    * band cap applies to near-but-not-identical pairs whose only
    * shared bucket was capped. 0 (default) = exhaustive — what the
    * oracle-checked queries use. */
  private[graft] def hammingPairs(sigs: DataFrame, chunkBits: Int, nChunks: Int,
      maxHamming: Int, maxChunkGroup: Int = 0): DataFrame = {
    require(maxHamming < nChunks,
      s"pigeonhole blocking needs maxHamming ($maxHamming) < nChunks ($nChunks)")
    val mask = (1L << chunkBits) - 1
    val chunked = sigs.select(col("__id"), col("__sim"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("__sim"), c * chunkBits).bitwiseAND(mask)): _*))
        .as(Seq("__chunk", "__cv")))
    // shuffle_hash on the self-join → one shared Exchange (signatures
    // computed once); a self-side broadcast double-scans the corpus
    def selfPairs(c: DataFrame): DataFrame =
      c.as("l").hint("shuffle_hash").join(c.as("r"),
          col("l.__chunk") === col("r.__chunk") && col("l.__cv") === col("r.__cv") &&
          col("l.__id") < col("r.__id"))
        .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
          bit_count(col("l.__sim").bitwiseXOR(col("r.__sim"))).cast(LongType)
            .as("hamming"))
    val pairs =
      if (maxChunkGroup <= 0) selfPairs(chunked)
      else {
        // one window pass sizes each (chunk, value) group — the same
        // shuffle key as the join, so no extra exchange shape
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__chunk"), col("__cv"))
        val sized = chunked
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__rep", min(col("__id")).over(w))
        val small = sized.filter(col("__n") <= maxChunkGroup)
          .select(col("__id"), col("__sim"), col("__chunk"), col("__cv"))
        // each over-cap member joins its ONE representative row —
        // O(group) pairs, never the group clique
        val reps = sized.filter(col("__n") > maxChunkGroup &&
            col("__id") === col("__rep"))
          .select(col("__chunk"), col("__cv"),
            col("__id").as("id_a"), col("__sim").as("__sim_a"))
        val bigStar = sized.filter(col("__n") > maxChunkGroup &&
            col("__id") =!= col("__rep"))
          .join(reps, Seq("__chunk", "__cv"))
          .select(col("id_a"), col("__id").as("id_b"),
            bit_count(col("__sim_a").bitwiseXOR(col("__sim")))
              .cast(LongType).as("hamming"))
        selfPairs(small).unionByName(bigStar)
      }
    pairs.distinct().filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs at hamming distance ≤ `maxHamming` (< 16):
    * 4×16-bit chunk blocking (pigeonhole-complete for maxHamming ≤ 3),
    * verified with bit_count(xor). Production path — xxhash64 token
    * hashes, one compiled projection per row. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("__id"),
        TextFunctions.simhash64(col(textCol)).as("__sim")),
      chunkBits = 16, nChunks = 4, maxHamming = maxHamming)

  /** 60-bit SimHash from md5 token hashes (first 15 hex chars → long).
    * Unlike xxhash64, md5 is identical in every engine, so this variant
    * is end-to-end oracle-checkable in DuckDB. MAP-ONLY: the native
    * [[graft.functions.SimHashMd5Expr]] computes all 60 bit votes in one
    * compiled call per row — no explode, no shuffle. Parity with the
    * relational formulation is pinned by
    * [[simhashMd5SignaturesReference]] + DedupSpec. */
  def simhashMd5Signatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.NativeText.simhashMd5(col(textCol)).as("__sim"))

  /** Relational reference formulation of [[simhashMd5Signatures]]
    * (parity tests; identical construction to the DuckDB oracle SQL):
    * explode tokens → `conv(substring(md5(t),1,15),16,10)` → 60
    * partial-aggregated ±1 bit votes → bit assembly. One explode + one
    * groupBy(doc) shuffle. */
  def simhashMd5SignaturesReference(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(TextFunctions.tokens(col(textCol))).as("__t"))
    val votes = (0 until 60).map(b =>
      sum(shiftright(col("__h"), b).bitwiseAND(1L) * 2L - 1L).as(s"__v$b"))
    val assembled = (0 until 60).map(b =>
      when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    toks
      .withColumn("__h",
        conv(substring(md5(col("__t")), 1, 15), 16, 10).cast(LongType))
      .groupBy(col("__id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("__id"), assembled.as("__sim"))
  }

  /** md5-SimHash near-dup pairs: 4×15-bit chunk blocking over the 60-bit
    * signature (pigeonhole-complete for maxHamming ≤ 3). */
  def simhashMd5NearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashMd5Signatures(df, idCol, textCol),
      chunkBits = 15, nChunks = 4, maxHamming = maxHamming)

  // ---- Transitive clustering (connected components) ----

  /** Default edge-count gate for [[connectedComponents]]'s driver-side
    * fast path. The honest cost at the gate is NOT the 8 MB of raw
    * longs: collect() materializes boxed Rows, and the union-find holds
    * hash maps of boxed node ids plus the output row list — roughly
    * 300–500 MB transient driver memory for 500k edges / ~1M nodes.
    * That fits any real driver with headroom; the distributed star
    * rounds take over beyond it. */
  val SmallEdgeThreshold = 500000L

  /** Connected components over canonical near-dup pairs, via alternating
    * large-star / small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — the same algorithm GraphFrames
    * ships). Returns one row per node that appears in `pairs`:
    * (`idCol`, cluster_id) with cluster_id = the component's minimum id.
    *
    * Scale design: state is only the edge list (never adjacency sets on
    * one machine), each round is two node-keyed shuffles + a distinct,
    * and the round count is O(log²) in the largest component — for
    * near-dup graphs (shallow, star-heavy) it converges in a handful of
    * rounds. `localCheckpoint` truncates lineage per round so plans
    * don't grow with iterations. Driver work is only the convergence
    * probe (two empty-checks per round), never edge data.
    *
    * Small-input fast path (same size-gated pattern as
    * `Keys.globalRank`): the verified near-dup edge list is orders of
    * magnitude smaller than the corpus, so increments and moderate
    * corpora often land below [[SmallEdgeThreshold]]. When the
    * canonical edge count is ≤ `smallEdgeThreshold` and ids are
    * integral, one driver union-find pass replaces the O(log²)-round
    * distributed loop (each round = two shuffles + a distinct + a
    * checkpoint). Set `smallEdgeThreshold = 0` to force the distributed
    * path; tests pin both paths against the same expected clustering. */
  def connectedComponents(pairs: DataFrame, idCol: String,
      maxRounds: Int = 25,
      smallEdgeThreshold: Long = SmallEdgeThreshold): DataFrame = {
    // canonical direction: src > dst, so every edge points "downhill"
    var e = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .distinct().localCheckpoint()

    // Neighborhood minima via groupBy + re-join, NOT
    // Window.partitionBy(src): a window buffers a node's ENTIRE
    // neighborhood in one task, and dedup graphs have hubs (a
    // boilerplate-heavy doc near-dup to millions of others) — a
    // 10^7-degree hub would be one task's memory. The aggregate is
    // partial/streamed map-side (per-partition state = one min per
    // distinct src), the re-join streams the edge side, and AQE
    // skew-join can further split a hub's join partition. Identical
    // semantics: every edge row still sees its group minimum.

    // large-star: u's whole neighborhood learns m = min(Γ(u) ∪ {u});
    // emit (v, m) for the neighbors v > u
    def largeStar(edges: DataFrame): DataFrame = {
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy(col("src")).agg(min(col("dst")).as("__gm"))
      und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"),
          least(col("__gm"), col("src")).as("dst"))
    }

    // small-star: u re-points its smaller neighbors (and itself) at
    // m = min of that downhill neighborhood; (u, m) itself comes from
    // the (already-distinct) minima frame rather than once per edge —
    // the same set after the loop's distinct()
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("__m"))
      edges.join(mins, "src")
        .filter(col("dst") =!= col("__m"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .unionByName(mins.select(col("src"), col("__m").as("dst")))
    }

    // convergence = stable edge-multiset fingerprint (count + sum + xor
    // of per-edge hashes): ONE tiny agg job per round instead of two
    // exceptAll joins. A false convergence needs a simultaneous sum+xor
    // hash coincidence (~2^-96); the oracle-checked queries would
    // surface it. Hashes are folded mod 2^32 before summing so the sum
    // cannot overflow under ANSI mode at any realistic edge count.
    def fingerprint(edges: DataFrame): (Long, Long, Long) = {
      val h = xxhash64(col("src"), col("dst"))
      val r = edges.agg(
        count(lit(1)).as("c"),
        coalesce(sum(pmod(h, lit(1L << 32))), lit(0L)).as("s"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var round = 0
    var converged = false
    var fp = fingerprint(e)
    val dt = e.schema("src").dataType
    val integral =
      dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
    if (integral && fp._1 <= smallEdgeThreshold)
      return localUnionFind(e, idCol, dt)
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(e)).distinct().localCheckpoint()
      val nfp = fingerprint(next)
      converged = nfp == fp
      e = next
      fp = nfp
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // at convergence the edge set is a star per component: every
    // non-root points straight at the component minimum
    e.select(col("src").as(idCol), col("dst").as("cluster_id"))
      .unionByName(
        e.select(col("dst").as(idCol), col("dst").as("cluster_id")))
      .distinct()
  }

  /** INCREMENTAL component maintenance: fold `newLinks` into an
    * existing component assignment WITHOUT re-running the closure over
    * history. New links can only MERGE existing components (or mint
    * components for unseen ids) — so the iterative work runs on the
    * ROOT GRAPH induced by the delta:
    *
    *  1. each new link's endpoints map to their current roots (two
    *     broadcast-hash joins of the delta against the assignment —
    *     map passes, no iterative scan of history);
    *  2. [[connectedComponents]] runs over those root-level edges —
    *     a frame ∝ |newLinks|, NOT ∝ |all links ever|;
    *  3. the assignment updates by one broadcast remap (old root →
    *     new root; the map is delta-sized) plus the unseen ids.
    *
    * Output contract identical to [[connectedComponents]] over the
    * UNION of all links ever (min-id roots): merging component minima
    * by min yields the global minimum, and components never split.
    * This is the maintenance path a 10⁹-record MDM golden-record view
    * needs — per-refresh cost ∝ links since the last fold, while the
    * full closure remains the from-scratch/compaction path.
    *
    * Small-delta fast path (round 16, the [[SmallEdgeThreshold]] gate
    * [[connectedComponents]] already uses): when the delta edge count
    * is gated small and every id/cluster column shares one integral
    * type, the root mapping and the root-graph closure run in ONE
    * driver union-find over two collects (the delta, and the
    * delta-touched slice of the assignment) instead of the nested
    * [[connectedComponents]] call with its own checkpoint /
    * fingerprint / distinct pipeline — per-fold job count drops from
    * ~7 to 4 while the remap/new-node application stays the IDENTICAL
    * lazy broadcast-join shape, so the large-assignment scan count is
    * unchanged (one remap scan + the anti-join probe). Large deltas
    * (or non-integral ids) take the distributed path below,
    * byte-identical to round 15. */
  def mergeComponents(existing: DataFrame, newLinks: DataFrame,
      idCol: String, smallEdgeThreshold: Long = SmallEdgeThreshold): DataFrame = {
    val asg = existing.select(col(idCol), col("cluster_id"))
    val e = newLinks
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint() // delta-sized; read twice below
    def integral(dt: DataType): Boolean =
      dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
    val dts = Seq(e.schema("id_a").dataType, e.schema("id_b").dataType,
      asg.schema(idCol).dataType, asg.schema("cluster_id").dataType)
    val fastOk = dts.forall(integral) && dts.distinct.size == 1 &&
      smallEdgeThreshold > 0L && e.count() <= smallEdgeThreshold
    val rootMap: DataFrame = if (fastOk) {
      val dt = dts.head
      val eRows = e.collect()
        .map(r => (asLong(r.get(0)), asLong(r.get(1))))
      val idsLocal = eRows.iterator
        .flatMap(t => Iterator(t._1, t._2)).toArray.distinct
      val spark = e.sparkSession
      val idsDf = spark.createDataFrame(
        java.util.Arrays.asList(idsLocal.map(v =>
          org.apache.spark.sql.Row(backTo(dt, v))): _*),
        StructType(Seq(StructField(idCol, dt, nullable = false))))
      // ONE assignment scan, returning only the delta-touched rows.
      // A NULL cluster_id roots the id to itself — exactly the
      // distributed path's coalesce(__ra, id_a) behavior on a
      // malformed assignment row
      val rootsLocal = asg
        .join(broadcast(idsDf), Seq(idCol), "left_semi").collect()
        .iterator
        .filterNot(_.isNullAt(1))
        .map(r => asLong(r.get(0)) -> asLong(r.get(1))).toMap
      // driver union-find over the root-level delta graph — the SAME
      // MinUnionFind (min-root rule) localUnionFind runs
      val uf = new MinUnionFind
      eRows.foreach { case (a0, b0) =>
        val a = rootsLocal.getOrElse(a0, a0)
        val b = rootsLocal.getOrElse(b0, b0)
        // a == b: both endpoints already share a root — the distributed
        // path's closure drops the rooted self-edge before clustering,
        // so such a root contributes NO rootMap row here either
        if (a != b) uf.union(a, b)
      }
      uf.toDf(spark, idCol, dt)
    } else {
      // root-map each endpoint (ids absent from the assignment root to
      // themselves): ONE scan of the assignment semi-filtered by the
      // broadcast delta ids, then two delta×delta joins
      val ids = e.select(col("id_a").as(idCol))
        .unionByName(e.select(col("id_b").as(idCol))).distinct()
      val roots = asg.join(broadcast(ids), Seq(idCol)).localCheckpoint()
      val rooted = e
        .join(roots.select(col(idCol).as("id_a"),
          col("cluster_id").as("__ra")), Seq("id_a"), "left")
        .join(roots.select(col(idCol).as("id_b"),
          col("cluster_id").as("__rb")), Seq("id_b"), "left")
        .select(coalesce(col("__ra"), col("id_a")).as("id_a"),
          coalesce(col("__rb"), col("id_b")).as("id_b"))
      // closure over the root-level delta graph only; the threshold
      // forwards so smallEdgeThreshold = 0 means fully distributed
      // here too, not just at the merge level
      connectedComponents(rooted, idCol,
        smallEdgeThreshold = smallEdgeThreshold)
    }
    // one map-only remap of the (large) assignment...
    val remap = rootMap
      .select(col(idCol).as("cluster_id"), col("cluster_id").as("__new"))
    val updated = asg.join(broadcast(remap), Seq("cluster_id"), "left")
      .select(col(idCol),
        coalesce(col("__new"), col("cluster_id")).as("cluster_id"))
    // ...plus the ids the assignment has never seen
    val newNodes = rootMap.join(asg.select(col(idCol)), Seq(idCol), "left_anti")
    updated.unionByName(newNodes)
  }

  /** Integral column value → Long (the driver union-find id space). */
  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  /** Long → the caller's integral column type. */
  private def backTo(dt: DataType, v: Long): Any = dt match {
    case LongType => v
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
  }

  /** Driver-side path-compressed min-root union-find — the ONE
    * implementation behind [[localUnionFind]] and the
    * [[mergeComponents]] small-delta fast path, so the min-root rule
    * and the node bookkeeping cannot drift between the two (their
    * parity is also pinned by DedupSpec's fast-vs-distributed test). */
  private final class MinUnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    private val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      nodes += a; nodes += b
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    /** (node, component min) rows in insertion order. */
    def toDf(spark: org.apache.spark.sql.SparkSession, idCol: String,
        dt: DataType): DataFrame = {
      import scala.jdk.CollectionConverters._
      val rows: java.util.List[org.apache.spark.sql.Row] =
        nodes.iterator.map(n =>
          org.apache.spark.sql.Row(backTo(dt, n), backTo(dt, find(n))))
          .toList.asJava
      spark.createDataFrame(rows, StructType(Seq(
        StructField(idCol, dt, nullable = false),
        StructField("cluster_id", dt, nullable = false))))
    }
  }

  /** Driver union-find over a small (gated) canonical edge list: one
    * collect of (src, dst) longs, path-compressed find, min-id root —
    * identical output contract to the distributed star rounds. */
  private def localUnionFind(e: DataFrame, idCol: String,
      dt: DataType): DataFrame = {
    val uf = new MinUnionFind
    e.collect().foreach { row =>
      uf.union(asLong(row.get(0)), asLong(row.get(1)))
    }
    uf.toDf(e.sparkSession, idCol, dt)
  }

  /** Transitive dedup: cluster the pairs with [[connectedComponents]],
    * keep the minimum-id doc of each cluster. Unlike the greedy pairwise
    * [[removeNearDuplicates]], chains A~B~C collapse to ONE survivor
    * even though A~C was never directly verified — the semantics
    * large-corpus curation pipelines standardize on (a duplicate of a
    * duplicate is a duplicate). */
  def removeNearDuplicatesTransitive(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val comp = connectedComponents(pairs, idCol)
    val drop = comp.filter(col(idCol) =!= col("cluster_id")).select(col(idCol))
    df.join(broadcast(drop), Seq(idCol), "left_anti")
  }

  /** Apply near-duplicate pairs to the corpus: every `id_b` of a pair is
    * dropped (pairs are canonical with id_a < id_b, so the lowest id of
    * each duplicate cluster survives — greedy, deterministic). For
    * transitive-closure semantics use
    * [[removeNearDuplicatesTransitive]]; the greedy rule never drops a
    * whole cluster and needs no iteration.
    * The drop side is a broadcast left-anti join: the corpus streams,
    * the pair list broadcasts. The hint is deliberately vetoable: a
    * dedup drop set is corpus-PROPORTIONAL on duplicate-heavy crawls,
    * and its optimizer estimate explodes through the LSH pair cascade
    * — [[graft.plans.SafeBroadcastRule]] strips the hint above the
    * size cap (the bench-log "stripping BROADCAST" warnings on
    * d5/sim_dedup_apply are this guardrail), and AQE then re-selects
    * broadcast at runtime iff the REAL drop set is small. */
  def removeNearDuplicates(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame =
    df.join(broadcast(pairs.select(col("id_b").as(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Quality-aware transitive dedup: per duplicate COMPONENT, keep the
    * row with the highest `scoreCol` (lowest id on ties) instead of the
    * arbitrary lowest-id survivor — "keep the best copy", the curation
    * rule real training pipelines want. Cluster membership comes from
    * [[connectedComponents]]; the per-cluster argmax runs through the
    * bounded-heap top-k operator (k = 1 — no per-cluster sort), and
    * rows outside every cluster pass through untouched via a left-anti
    * on the (small, broadcast) membership list. */
  def removeNearDuplicatesBest(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    removeNearDuplicatesBy(df, pairs, idCol,
      Seq(graft.plans.TopK.desc(scoreCol)))

  /** General survivor-selection tail shared by every "keep one per
    * duplicate component" policy: cluster membership from
    * [[connectedComponents]], the per-cluster winner by `order` (id
    * ascending appended as the deterministic tie-break) through the
    * bounded-heap top-1, non-members pass via broadcast anti-join. */
  def removeNearDuplicatesBy(df: DataFrame, pairs: DataFrame,
      idCol: String, order: Seq[graft.plans.TopK.Sort]): DataFrame = {
    import graft.plans.TopK
    val comp = connectedComponents(pairs, idCol)
    val winners = TopK.perKey(df.join(comp, Seq(idCol)), Seq("cluster_id"),
        order :+ TopK.asc(idCol), 1)
      .drop("rank", "cluster_id")
    val loners = df.join(broadcast(comp.select(col(idCol))),
      Seq(idCol), "left_anti")
    loners.unionByName(winners)
  }

  /** Exact n-gram Jaccard dedup with deterministic blocking (first
    * `blockTokens` tokens): every within-block pair is verified exactly.
    * Fully oracle-replicable — the scale path for when candidate recall
    * must be provable rather than probabilistic. */
  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, blockTokens: Int, threshold: Double): DataFrame = {
    val withBlock = df.select(col(idCol).as("__id"),
      concat_ws(" ", slice(TextFunctions.tokens(col(textCol)), 1, blockTokens)).as("__blk"),
      TextFunctions.tokenShingles(col(textCol), shingleSize).as("__set"))
    withBlock.as("l").hint("shuffle_hash").join(withBlock.as("r"),
        col("l.__blk") === col("r.__blk") && col("l.__id") < col("r.__id"))
      .withColumn("jaccard", TextFunctions.jaccard(col("l.__set"), col("r.__set")))
      .filter(col("jaccard") >= threshold)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"), col("jaccard"))
  }

  /** Corpus-global exact line dedup — the C4/CCNet span-dedup shape at
    * line granularity: every distinct line keeps its FIRST occurrence
    * (lowest (doc id, line index) corpus-wide) and every later
    * occurrence is removed; each doc is reassembled in original line
    * order (possibly to the empty string when nothing survives). The
    * canonical cross-page boilerplate-line removal for web corpora.
    *
    * Scale: explode → ONE shuffle grouping lines by content (the
    * min(struct) is a partial aggregate, so a boilerplate line shared
    * by 10⁷ pages streams through map-side combine instead of
    * buffering one task — deliberately NOT a window, same hub argument
    * as [[connectedComponents]]) → an equi-join of lines to their
    * group minimum on the same key (exchange reuse; popular-line skew
    * rides AQE skew splitting) → one reassembly shuffle on the doc id.
    * Rebuilt docs are bounded by the original row size. */
  def dedupLinesGlobal(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val outCols = df.columns.toSeq
    val lines = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("__idx", "__line")))
    val firsts = lines.groupBy(col("__line"))
      .agg(min(struct(col("__id"), col("__idx"))).as("__first"))
    val kept = lines.join(firsts, Seq("__line"))
      .filter(col("__first") === struct(col("__id"), col("__idx")))
    // compiled re-pack: the interpreted concat_ws(transform(array_sort(…)))
    // spelling ran ArraySort's interpreted struct comparator + a lambda
    // per LINE of the corpus on the post-shuffle side (measured 1.6–1.7×
    // warm, ≤2.4× across windows, at 40× volume / 10.8M lines —
    // SCALE.md); SortedStructConcatExpr is its parity-pinned
    // one-pass twin (SortedStructConcatSpec)
    val rebuilt = kept.groupBy(col("__id"))
      .agg(graft.functions.NativeText.sortedStructConcat(
        collect_list(struct(col("__idx"), col("__line"))), "\n").as("__clean"))
    df.join(rebuilt, col(idCol) === col("__id"), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .select(outCols.map(col): _*)
  }

  /** Cross-source duplicate-overlap matrix: for every source pair, how
    * many distinct content fingerprints appear in BOTH — plus each
    * side's distinct total and the Jaccard overlap — the corpus-
    * composition diagnostic run before mixing sources into a training
    * set (two near-identical crawls must not be weighted as if
    * independent). `fpCol` is any content key: the min-shingle
    * fingerprint, a SimHash, or an exact content hash; NULL
    * fingerprints (docs too short to fingerprint) are excluded.
    *
    * Scale: one distinct-project (shuffle on (source, fp)), one
    * self-equi-join on fp over DISTINCT fingerprints only — corpus rows
    * never join — and a map-side-combined pair aggregation. Sources are
    * a config-sized set, so per-source totals broadcast and the matrix
    * itself is tiny (S² upper bound). */
  def sourceOverlapMatrix(df: DataFrame, sourceCol: String,
      fpCol: String): DataFrame = {
    val fp = df.select(col(sourceCol).as("source"), col(fpCol).as("fp"))
      .filter(col("fp").isNotNull).distinct()
    val totals = fp.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard", col("n_shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_shared")).cast(DoubleType))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
  }
}
