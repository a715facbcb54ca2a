package graft.stress

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-sink stress harness (dev/bench main, the [[TextStress]]
  * pattern): the round-6 sinks are correctness-tested but were never
  * stress-measured; this synthesizes the SAME deterministic 50k-doc
  * corpus as [[TextStress]] (sf1.0 documents volume), splits it into
  * 10 id-ordered micro-batches of 5k, and drives three sinks through
  * real checkpointed Structured Streaming runs:
  *
  *  1. [[graft.streaming.Streams.sftPrepSink]] — 50k serialized
  *     conversations (150k turns), per-batch validity gate + BPE
  *     accounting + response dedup vs the growing key index;
  *  2. [[graft.streaming.Streams.phashDedupSink]] — 50k binary
  *     payloads where every 25th doc of batches 2..10 plants a
  *     byte-identical copy of the doc ONE BATCH EARLIER (cross-batch
  *     duplicates, so the persisted hash index does real work every
  *     batch);
  *  3. [[graft.streaming.Streams.pretrainPipelineSink]] — the round-7
  *     end-to-end streaming flagship over the same corpus, with a
  *     97-doc eval slice so both decontamination passes fire.
  *
  * Records PER-BATCH wall seconds (from the sinks' own LoadResult
  * callbacks), final state-directory sizes (bytes + files), and peak
  * JVM heap, asserting the cross-batch invariants (expected dedup
  * counts, planted copies all dropped, stage counts monotone) so a
  * scale regression fails loudly. One JSON line; numbers land in
  * SCALE.md. Sizing knob: SPARK_GRAFT_STRESS_TEXT_DOCS. */
object StreamStress {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_STRESS_TEXT_DOCS", "50000").toLong
    val nBatches = 10
    val spark = Stress.session()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams

    def dirSize(path: String): (Long, Long) = {
      def walk(f: java.io.File): (Long, Long) =
        if (f.isFile) (f.length, 1L)
        else Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty)
          .map(walk).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) =>
            (b + b2, n + n2)
          }
      val root = new java.io.File(path)
      if (root.exists) walk(root) else (0L, 0L)
    }

    val (docs, _) = Stress.textCorpus(spark, nDocs)

    val batchBound = nDocs / nBatches
    def partsOf[T](rows: Array[T], idOf: T => Long): Seq[Seq[T]] =
      (0 until nBatches).map(b => rows.filter { r =>
        val id = idOf(r)
        id >= b * batchBound &&
          (id < (b + 1) * batchBound || b == nBatches - 1)
      }.toSeq)
    val work = java.nio.file.Files.createTempDirectory("stream_stress").toString
    val walls = scala.collection.mutable.Map.empty[String, Vector[Double]]
    def record(sink: String): graft.core.LoadResult => Unit = r =>
      walls.synchronized {
        walls(sink) = walls.getOrElse(sink, Vector.empty) :+ r.durationSeconds
      }
    def jsonSecs(sink: String): String =
      walls.getOrElse(sink, Vector.empty)
        .map(s => f"$s%.2f").mkString("[", ",", "]")
    // feeds each batch through `input` into the query `start` builds,
    // waiting for the batch to commit before the next
    def drive[T](input: MemoryStream[T], batches: Seq[Seq[T]])(
        start: DataFrame => StreamingQuery): Unit = {
      val q = start(input.toDF())
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        require(q.exception.isEmpty, q.exception.toString)
      } finally q.stop()
    }

    // ——— 1. sftPrepSink: 50k conversations, 10 micro-batches ———
    val toksOf = split(col("text"), "\\s+")
    val convCol = concat(
      lit("""[{"role":"user","content":""""),
      concat_ws(" ", slice(toksOf, 1, 8)),
      lit(""""},{"role":""""),
      when(col("doc_id") % 7 === 0, lit("user")).otherwise(lit("assistant")),
      lit("""","content":""""),
      concat_ws(" ", slice(toksOf, 9, 8)),
      lit(""""},{"role":"user","content":"again """),
      col("doc_id").cast("string"), lit(""""}]"""))
    // global (batch-order-independent) expectation: valid conversations
    // deduped by assistant key, first-wins == streamed with id-ordered
    // batches
    val expSft = {
      val turns = graft.text.Sft.parseTurns(
        docs.withColumn("conv", convCol), "doc_id", "conv")
      val valid = graft.text.Sft.conversationStats(turns)
        .filter(col("valid") === 1).select(col("doc_id"))
      graft.text.Sft.dedupByAssistant(
        turns.join(valid, Seq("doc_id"), "left_semi")).count()
    }
    val sftRows = docs.withColumn("conv", convCol)
      .select(col("doc_id"), col("conv"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    drive(MemoryStream[(Long, String)], partsOf(sftRows, (r: (Long, String)) => r._1)) { in =>
      Streams.sftPrepSink(in.toDF("doc_id", "conv"),
        s"$work/sft/corpus", s"$work/sft/index", s"$work/sft/cp",
        "doc_id", "conv", trig = Streams.trigger(1),
        onLoad = record("sft")).start()
    }
    val sftKept = spark.read.parquet(s"$work/sft/corpus").count()
    require(sftKept == expSft,
      s"sft streamed kept $sftKept != batch expectation $expSft")

    // ——— 2. phashDedupSink: cross-batch planted byte copies ———
    // source ids sit at %25 == 23, one batch earlier — NEVER themselves
    // planted, so every planted doc is a true byte copy of a doc whose
    // own payload landed (and was indexed) in the previous batch
    val planted = docs.filter(col("doc_id") % 25 === 24 &&
      col("doc_id") >= batchBound).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val srcId = when(col("doc_id") % 25 === 24 &&
        col("doc_id") >= batchBound, col("doc_id") - batchBound - 1)
      .otherwise(col("doc_id"))
    val payloadRows = docs.select(col("doc_id"), srcId.as("src_id"))
      .join(docs.select(col("doc_id").as("src_id"),
        col("text").as("src_text")), Seq("src_id"))
      .select(col("doc_id"), col("src_text").cast("binary").as("payload"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    drive(MemoryStream[(Long, Array[Byte])],
        partsOf(payloadRows, (r: (Long, Array[Byte])) => r._1)) { in =>
      Streams.phashDedupSink(in.toDF("doc_id", "payload"),
        s"$work/phash/corpus", s"$work/phash/index", s"$work/phash/cp",
        "doc_id", "payload", maxHamming = 3, trig = Streams.trigger(1),
        onLoad = record("phash")).start()
    }
    val phashKeptIds = spark.read.parquet(s"$work/phash/corpus")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    require(planted.forall(id => !phashKeptIds.contains(id)),
      "every cross-batch planted copy must drop against the hash index")
    require(phashKeptIds.size <= nDocs - planted.size &&
      phashKeptIds.size >= ((nDocs - planted.size) * 9) / 10,
      s"phash kept ${phashKeptIds.size} outside expected band")

    // ——— 3. streaming flagship at sf1.0 volume ———
    val evalSlice = docs.filter(col("doc_id") % 101 === 100)
      .select(col("text")).localCheckpoint()
    val flagRows = docs
      .select(col("doc_id"),
        concat(lit("s"), (col("doc_id") % 4).cast("string")).as("source"),
        col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    drive(MemoryStream[(Long, String, String)],
        partsOf(flagRows, (r: (Long, String, String)) => r._1)) { in =>
      Streams.pretrainPipelineSink(in.toDF("doc_id", "source", "text"),
        s"$work/flag/state", s"$work/flag/cp", "doc_id", "source", "text",
        evalDocs = evalSlice, evalTextCol = "text",
        blocklistTerms = Seq("slow"), maxHits = 8L,
        segment = c => concat(c, lit(".")),
        trig = Streams.trigger(1), onLoad = record("flagship")).start()
    }
    val stages = Streams.pretrainPipelineStages(spark, s"$work/flag/state")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    require(stages("total") == nDocs, s"flagship must see every doc: $stages")
    val order = Seq("total", "blocklist", "lang", "gopher", "c4", "model",
      "exact_dedup", "near_dedup", "decontaminated", "decon_near", "sampled")
    order.sliding(2).foreach { case Seq(a, b) =>
      require(stages(b) <= stages(a), s"stage $b > $a: $stages")
    }
    require(stages("sampled") > 0 && stages("batches") > 0,
      s"flagship produced nothing: $stages")

    // ——— 4. multilingual routed curation at 50k volume ———
    // genuinely language-typical payloads: 80-char sliding windows of
    // the committed profile samples across 6 scripts, so the
    // zero-shuffle detector and the per-language gates do real work;
    // window collisions give the fingerprint index real duplicates
    val mlLangs = Seq("en", "de", "fr", "es", "ru", "ja")
    val mlSamples = graft.text.LangProfile.samples.toMap
    val mlRoutes = Seq(
      graft.text.Curation.LangRoute("en", Seq("and"), Seq("conscience"), minTokens = 5),
      graft.text.Curation.LangRoute("de", Seq("und"), Seq("Gewissen"), minTokens = 5),
      graft.text.Curation.LangRoute("fr", Seq("et"), Seq("conscience"), minTokens = 5),
      graft.text.Curation.LangRoute("es", Seq("como"), Seq("conciencia"), minTokens = 5),
      graft.text.Curation.LangRoute("ru", Seq("и"), Seq("совестью"), minTokens = 5),
      graft.text.Curation.LangRoute("ja", Seq("の"), Seq("自由"), minTokens = 1))
    val mlRows = (0L until nDocs).map { i =>
      val lang = mlLangs((i % 6).toInt)
      val start = (i % 40).toInt
      (i, mlSamples(lang).slice(start, start + 80))
    }.toArray
    drive(MemoryStream[(Long, String)], partsOf(mlRows, (r: (Long, String)) => r._1)) { in =>
      Streams.multilingualCurationSink(in.toDF("doc_id", "text"),
        s"$work/ml/corpus", s"$work/ml/index", s"$work/ml/cp",
        "doc_id", "text", mlRoutes, trig = Streams.trigger(1),
        onLoad = record("ml")).start()
    }
    val mlCorpus = spark.read.parquet(s"$work/ml/corpus")
    val mlKept = mlCorpus.count()
    val mlLangsKept = mlCorpus.select("route_lang").distinct().count()
    // only 6 langs × 40 windows of content exist: the fingerprint index
    // must collapse the 50k stream to at most 240 survivors
    require(mlKept > 0 && mlKept <= 240L,
      s"multilingual dedup must cap survivors at distinct windows: $mlKept")
    require(mlLangsKept >= 5, s"expected >=5 routed languages, got $mlLangsKept")

    // ——— 5. preference-pair sink: 50k candidates over 5k prompts ———
    // candidates for a prompt straddle every batch (prompt = doc_id %
    // (nDocs/10)), so the read-time fold genuinely reduces cross-batch
    // extremes; scores are deterministic per doc
    val nPrompts = math.max(1L, nDocs / 10)
    // ONE definition of the synthesized prompt/score columns: the
    // streamed input and the batch expectation MUST agree or the
    // equality check below tests nothing
    val promptCol = concat(lit("p"), (col("doc_id") % nPrompts).cast("string"))
    val scoreCol = pmod(hash(col("doc_id") * 7919), lit(1000)).cast("long")
    val prefArr = docs.select(col("doc_id"), promptCol, col("text"), scoreCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    drive(MemoryStream[(Long, String, String, Long)],
        partsOf(prefArr, (r: (Long, String, String, Long)) => r._1)) { in =>
      Streams.preferencePairSink(
        in.toDF("doc_id", "prompt", "response", "score").drop("doc_id"),
        s"$work/pref/state", s"$work/pref/cp",
        "prompt", "response", "score", trig = Streams.trigger(1),
        onLoad = record("pref")).start()
    }
    val prefStreamed = Streams.preferencePairsOf(spark, s"$work/pref/state",
      "prompt", "response", "score")
    val prefN = prefStreamed.count()
    val prefBatch = graft.text.Sft.preferencePairs(
      docs.select(promptCol.as("prompt"), col("text").as("response"),
        scoreCol.as("score")),
      "prompt", "response", "score").count()
    require(prefN == prefBatch,
      s"streamed preference fold $prefN != batch pairing $prefBatch")

    // ——— 6. kmvMergeSink: per-key cardinality profile, 10 batches ———
    // 20 keys × 2,500 distinct hashes per key (k = 64 saturates —
    // the approximate regime); streamed fold must equal the one-shot
    // sketch BIT-IDENTICALLY (k-smallest-of-union associativity)
    val kmvCols = docs.select(col("doc_id"),
      concat(lit("src"), (col("doc_id") % 20).cast("string")).as("key"),
      conv(substring(md5(expr("CAST((doc_id DIV 20) % 2500 AS STRING)")),
        1, 15), 16, 10).cast("long").as("h"))
    val kmvArr = kmvCols.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    drive(MemoryStream[(Long, String, Long)],
        partsOf(kmvArr, (r: (Long, String, Long)) => r._1)) { in =>
      Streams.kmvMergeSink(in.toDF("doc_id", "key", "h").drop("doc_id"),
        s"$work/kmv/state", s"$work/kmv/cp", Seq("key"), "h", 64,
        trig = Streams.trigger(1), onLoad = record("kmv")).start()
    }
    def kmvMap(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Long], Long)] =
      df.collect().map(r => r.getAs[String]("key") ->
        ((r.getAs[scala.collection.Seq[Long]]("kmv").toVector.toSeq,
          r.getAs[Long]("n_rows")))).toMap
    val kmvStreamed = kmvMap(spark.read.parquet(s"$work/kmv/state"))
    val kmvOneShot = kmvMap(kmvCols.drop("doc_id").groupBy(col("key"))
      .agg(graft.functions.NativeAgg.kmvMinHashes(col("h"), 64).as("kmv"),
        count(lit(1)).as("n_rows")))
    require(kmvStreamed == kmvOneShot,
      "streamed KMV state diverged from the one-shot sketch")

    // ——— 7. erLinkSink: ~48k-record entity feed, 10 micro-batches ———
    // 40k synthetic base customers + the mod-5 planted duplicates;
    // batches split by rec_id % nBatches so most (base, dup) pairs
    // STRADDLE batches — the incremental new-vs-accumulated path does
    // the work, not in-batch pairing. Gate: read-side golden records
    // equal the one-shot batch ER exactly.
    import graft.er.EntityResolution
    val erCust = spark.range(0, 40000).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (col("id") % 25).cast("int").as("c_nationkey"),
      ((col("id") * 7919 % 1000000) / 100.0).as("c_acctbal"),
      element_at(array(lit("AUTO"), lit("BLD"), lit("FUR"), lit("HH"),
        lit("MCH")), (col("id") % 5 + 1).cast("int")).as("c_mktsegment"))
    val erFeed = EntityResolution.dirtyCustomerFeed(erCust)
      .localCheckpoint()
    val erRows = erFeed
      .select("rec_id", "name", "nationkey", "acctbal", "segment", "src")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3), r.getString(4), r.getString(5)))
    drive(MemoryStream[(Long, String, Int, Double, String, String)],
        (0 until nBatches).map(b => erRows.filter(_._1 % nBatches == b).toSeq)) { in =>
      Streams.erLinkSink(
        in.toDF("rec_id", "name", "nationkey", "acctbal", "segment", "src"),
        s"$work/er/records", s"$work/er/links", s"$work/er/cp",
        "rec_id", "name", "segment", "acctbal", Seq("nationkey"),
        EntityResolution.customerNamePasses,
        trig = Streams.trigger(1), onLoad = record("er")).start()
    }
    val erStreamedGolden = Streams.erGoldenState(spark, s"$work/er/records",
      s"$work/er/links", "rec_id", "name", "segment", "acctbal")
      .localCheckpoint()
    val erBatchGolden = EntityResolution.run(erFeed, "rec_id", "name",
      "segment", "acctbal", Seq("nationkey"),
      EntityResolution.customerNamePasses).localCheckpoint()
    require(erStreamedGolden.exceptAll(erBatchGolden).isEmpty &&
      erBatchGolden.exceptAll(erStreamedGolden).isEmpty,
      "streamed ER golden records diverged from the one-shot batch run")
    val erEntities = erStreamedGolden.count()

    // ——— 8. gramMergeSink: 50k 64-dim vectors, 10 micro-batches ———
    // associative integer scatter fold; gate = streaming PCA equals the
    // batch power iteration EXACTLY
    val vecDf = spark.range(0, nDocs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        // SQL division always widens to double — cast back so the
        // column is a true array<float> for the tuple encoder
        ((pmod(hash(col("id") * 131 + i), lit(2000)) - 1000) / 1000.0)
          .cast("float")).as("embedding")).localCheckpoint()
    val vecRows = vecDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    drive(MemoryStream[(Long, Seq[Float])],
        (0 until nBatches).map(b => vecRows.filter(_._1 % nBatches == b).toSeq)) { in =>
      Streams.gramMergeSink(
        in.toDF("vec_id", "embedding").withColumn("corpus", lit("all")),
        s"$work/gram/state", s"$work/gram/cp", Seq("corpus"),
        "embedding", trig = Streams.trigger(1),
        onLoad = record("gram")).start()
    }
    val pc1Streamed = Streams.pc1State(spark, s"$work/gram/state",
      Seq("corpus"), Seq("all")).collect().toSeq
    val pc1Batch = graft.similarity.Similarity
      .powerIterationPc1(vecDf, "embedding").collect().toSeq
    require(pc1Streamed == pc1Batch,
      "streaming PCA diverged from the batch power iteration")

    // ——— 9. snapshotDiffSink: 10 successive 50k-row FULL snapshots ———
    // each version flips ~1% of statuses and adds nBatches rows; the
    // changelog per batch must be change-sized, never table-sized
    val snapRows = (0 until nBatches).map { v =>
      spark.range(0, nDocs + v * 10).select(
        col("id"),
        when(pmod(col("id") + v, lit(100)) === 0, lit("flipped"))
          .otherwise(lit("base")).as("status"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }
    drive(MemoryStream[(Long, String)], snapRows.map(_.toSeq)) { in =>
      Streams.snapshotDiffSink(in.toDF("id", "status"),
        s"$work/snap/state", s"$work/snap/changelog", s"$work/snap/cp",
        Seq("id"), trig = Streams.trigger(1),
        onLoad = record("snap")).start()
    }
    val snapChanges = (1 until nBatches).map { b =>
      spark.read.parquet(s"$work/snap/changelog/batch=$b").count()
    }
    // per version: ~2% of rows flip status (one mod class in, one out)
    // + 10 added ids — the changelog stays ~1000 rows per 50k snapshot
    require(snapChanges.forall(c => c > 0 && c < nDocs / 20),
      s"changelog must be change-sized, got $snapChanges")

    val (sftB, sftF) = dirSize(s"$work/sft/index")
    val (phB, phF) = dirSize(s"$work/phash/index")
    val (flB, flF) = dirSize(s"$work/flag/state")
    Stress.report("stream_stress", "docs" -> nDocs, "batches" -> nBatches,
      "sft_batch_secs" -> jsonSecs("sft"), "sft_kept" -> sftKept,
      "sft_index_bytes" -> sftB, "sft_index_files" -> sftF,
      "phash_batch_secs" -> jsonSecs("phash"), "phash_kept" -> phashKeptIds.size,
      "phash_index_bytes" -> phB, "phash_index_files" -> phF,
      "flagship_batch_secs" -> jsonSecs("flagship"),
      "flagship_sampled" -> stages("sampled"), "flagship_packs" -> stages("batches"),
      "flagship_state_bytes" -> flB, "flagship_state_files" -> flF,
      "ml_batch_secs" -> jsonSecs("ml"), "ml_kept" -> mlKept,
      "pref_batch_secs" -> jsonSecs("pref"), "pref_pairs" -> prefN,
      "kmv_batch_secs" -> jsonSecs("kmv"), "kmv_keys" -> kmvStreamed.size,
      "er_batch_secs" -> jsonSecs("er"), "er_entities" -> erEntities,
      "gram_batch_secs" -> jsonSecs("gram"),
      "snap_batch_secs" -> jsonSecs("snap"),
      "snap_changelog_rows" -> snapChanges.mkString("[", ",", "]"))
    graft.core.AtomicSwap.deleteRecursively(new java.io.File(work))
    spark.stop()
  }
}
