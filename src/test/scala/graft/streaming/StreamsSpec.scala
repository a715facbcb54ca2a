package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

case class Evt(sourceId: String, tableName: String, changeType: String,
    timestamp: Timestamp, affectedRows: Long)

case class Sale(orderId: Long, amount: Double, ts: Timestamp)

/** Real Structured Streaming runs over MemoryStream — not batch stand-ins:
  * stateful dedup-within-watermark, windowed aggregation with watermark,
  * and the foreachBatch merge sink across multiple micro-batches. */
class StreamsSpec extends AnyFunSuite with SparkSpec {

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // Upper bounds on the Spark jobs of one micro-batch of the sink cases
  // below (job counts follow the plan, not the host). Measured at 13, 29
  // and 40; a sink that reads its batch again per stage count (20, 31
  // and 56 jobs) trips them.
  private val CurationSinkJobs = 16L
  private val NearDupSinkJobs = 30L
  private val PretrainSinkJobs = 46L

  /** `stream` with its Long `idCol` counting every evaluation of a row:
    * a sink that reads each micro-batch once reads as many rows as were
    * fed. */
  private def countingReads(stream: org.apache.spark.sql.DataFrame,
      idCol: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.util.LongAccumulator) = {
    val reads = spark.sparkContext.longAccumulator("rows-read")
    val seen = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
    (stream.withColumn(idCol, seen(col(idCol))), reads)
  }

  /** The Spark jobs `feed` (one micro-batch, fed and processed) runs. */
  private def jobsOf(feed: => Unit): Long =
    graft.TaskTotals.measure(spark)(feed)._2.jobs

  /** The `k=v;k=v` drop accounting of each LoadResult that carries one. */
  private def stageDrops(loads: Seq[graft.core.LoadResult]): Seq[Map[String, Long]] =
    loads.flatMap(_.errorMessage).map { m =>
      m.split(";").map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong
      }.toMap
    }

  test("C2 dedup: exact re-deliveries collapse, fresh timestamps pass") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Evt]
    val deduped = Streams.dedupExactRedeliveries(
      input.toDF(), "timestamp",
      Seq("sourceId", "tableName", "changeType"), "60 minutes")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      val e = Evt("db", "orders", "UPDATE", ts("2024-01-01 10:00:00"), 5)
      input.addData(e, e, e) // exact re-delivery × 3
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1)

      // same logical key, NEW timestamp → passes (reference semantics)
      input.addData(e.copy(timestamp = ts("2024-01-01 10:05:00")))
      // and a re-delivery of the first event in the same batch → dropped
      input.addData(e)
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("windowed aggregation with watermark emits closed windows only (append)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Sale]
    val agg = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum("amount").as("revenue"))
    val q = agg.writeStream.format("memory")
      .queryName("win_out").outputMode("append").start()
    try {
      input.addData(
        Sale(1, 10.0, ts("2024-01-01 10:01:00")),
        Sale(2, 20.0, ts("2024-01-01 10:02:00")),
        Sale(3, 5.0, ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      // nothing closed yet: watermark = 10:06 - 10m = 09:56
      assert(spark.table("win_out").count() == 0)

      // advance event time: watermark 10:20-10m = 10:10 closes BOTH the
      // 10:00-10:05 and 10:05-10:10 windows
      input.addData(Sale(4, 1.0, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .selectExpr("window.start as s", "n", "revenue")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(out.toSet == Set(
        (ts("2024-01-01 10:00:00"), 2L, 30.0),
        (ts("2024-01-01 10:05:00"), 1L, 5.0)))
    } finally q.stop()
  }

  test("foreachBatch merge sink upserts latest-wins across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-stream").toString
    val input = MemoryStream[Sale]
    // counts every evaluation of the micro-batch's plan, row by row
    val evaluated = spark.sparkContext.longAccumulator("stream-rows")
    val seen = udf { (id: Long) => evaluated.add(1); id }.asNondeterministic()
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.mergeSink(
      input.toDF().withColumn("orderId", seen(col("orderId"))), s"$dir/fact", s"$dir/ckpt",
      Seq("orderId"), "ts", Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      input.addData(Sale(1, 10.0, ts("2024-01-01 10:00:00")),
        Sale(2, 20.0, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 2: update order 1 (newer ts), insert order 3
      input.addData(Sale(1, 99.0, ts("2024-01-01 11:00:00")),
        Sale(3, 30.0, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // batch 3: STALE update of order 2 (older ts) must lose
      input.addData(Sale(2, 0.5, ts("2023-12-31 00:00:00")))
      q.processAllAvailable()

      val fact = spark.read.parquet(s"$dir/fact")
        .select("orderId", "amount")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(fact == Set((1L, 99.0), (2L, 20.0), (3L, 30.0)))
      // S8 LoadResult accounting: 5 rows total across micro-batches
      // (batch boundaries can shift under load — totals are the contract)
      val nonEmpty = loads.filter(_.rowsLoaded > 0)
      assert(nonEmpty.map(_.rowsLoaded).sum == 5L, nonEmpty)
      assert(nonEmpty.forall(r => r.success && r.tableName == s"$dir/fact"))
      assert(nonEmpty.forall(_.durationSeconds > 0))
      // the count and the write share one evaluation of each micro-batch
      assert(evaluated.value == 5L)
    } finally q.stop()
  }

  test("merge batch heals a crash between the swap renames from the backup") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("graft-mergeheal").toString
    val path = s"$dir/fact"
    Streams.mergeBatch(spark,
      Seq(Sale(1, 10.0, ts("2024-01-01 10:00:00")),
        Sale(2, 20.0, ts("2024-01-01 10:00:00"))).toDF(),
      path, Seq("orderId"), "ts")
    // simulate the crash window: target renamed aside, replacement never
    // landed — the accumulated table exists ONLY as the backup
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    // next batch must restore the backup and merge INTO it — a
    // fresh-table fallback here would silently drop orders 1 and 2
    Streams.mergeBatch(spark,
      Seq(Sale(3, 30.0, ts("2024-01-01 11:00:00"))).toDF(),
      path, Seq("orderId"), "ts")
    val fact = spark.read.parquet(path).select("orderId", "amount")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(fact == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("stateful change detector: per-key watermark state across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[KeyedEvent]
    val q = Stateful.detectChanges(input.toDS())
      .writeStream.format("memory").queryName("detect_out")
      .outputMode("append").start()
    try {
      input.addData(
        KeyedEvent("orders", ts("2024-01-01 10:00:00")),
        KeyedEvent("orders", ts("2024-01-01 11:00:00")),
        KeyedEvent("customers", ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      val b1 = spark.table("detect_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(b1 == Set(
        ("orders", 2L, ts("2024-01-01 11:00:00")),
        ("customers", 1L, ts("2024-01-01 09:00:00"))))

      // batch 2: one stale (≤ stored watermark — suppressed), one fresh;
      // customers has nothing new → no emission at all
      input.addData(
        KeyedEvent("orders", ts("2024-01-01 10:30:00")),
        KeyedEvent("orders", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val b2 = spark.table("detect_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(b2 == b1 + (("orders", 1L, ts("2024-01-01 12:00:00"))))
    } finally q.stop()
  }

  test("aggregate-merge sink: incremental totals equal a full recompute") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("aggmerge").toString
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]

    val input = MemoryStream[(String, Double)]
    val q = Streams.aggMergeSink(
        input.toDS().toDF("source", "tokens"),
        s"$dir/aggs", s"$dir/ckpt", Seq("source"), "tokens",
        Streams.trigger(1),
        onLoad = r => loads.synchronized { loads += r })
      .start()
    try {
      input.addData(("web", 10.5), ("web", 2.25), ("books", 7.0))
      q.processAllAvailable()
      input.addData(("web", 1.0), ("code", 3.5))
      q.processAllAvailable()

      val stored = spark.read.parquet(s"$dir/aggs")
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_rows"),
          r.getAs[java.math.BigDecimal]("sum_measure").doubleValue))
        .toSet
      // exactly the totals a full recompute over all five rows gives
      assert(stored == Set(
        ("web", 3L, 13.75), ("books", 1L, 7.0), ("code", 1L, 3.5)))
      assert(loads.size == 2 && loads.forall(_.success))
      assert(loads.last.rowsLoaded == 3) // 3 keys in the stored table
    } finally q.stop()
  }

  test("drift monitor: accumulated counts score in-distribution low, shifted high") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    // reference: key "m" uniform over buckets 0..3
    val ref = Seq.tabulate(4)(b => ("m", b.toLong, 0.25)).toDF("k", "b", "p")

    val input = MemoryStream[(String, Long)]
    val q = Streams.driftCountsSink(
        input.toDS().toDF("k", "b"),
        s"$dir/state", s"$dir/ckpt", "k", "b", Streams.trigger(1))
      .start()
    try {
      // two in-distribution batches: 25 observations per bucket each
      for (_ <- 1 to 2) {
        input.addData((0 until 100).map(i => ("m", (i % 4).toLong)): _*)
        q.processAllAvailable()
      }
      val calm = Streams.chi2Against(spark, s"$dir/state", ref, "k", "b", "p")
        .head()
      assert(calm.getAs[Long]("n_obs") == 200L &&
        calm.getAs[Long]("dof") == 3L)
      assert(calm.getAs[Double]("chi2") == 0.0) // exactly uniform stream
      // a shifted batch: everything lands in bucket 0 — and bucket 3
      // VANISHES from the incremental mix going forward
      input.addData((0 until 200).map(_ => ("m", 0L)): _*)
      q.processAllAvailable()
      val drifted = Streams.chi2Against(spark, s"$dir/state", ref, "k", "b", "p")
        .head()
      // 400 obs: o = (250,50,50,50) vs e = 100 each -> chi2 = 300
      assert(drifted.getAs[Double]("chi2") == 300.0)

      // the NUMERIC twin over the same folded state: grid-KS against
      // integer reference counts (uniform 100 per bucket).
      // cum_o = (250,300,350,400), cum_r = (100,200,300,400),
      // n_o = n_r = 400 -> ks_num = max|cum_o - cum_r|*400 = 150*400
      val refC = Seq.tabulate(4)(b => ("m", b.toLong, 100L))
        .toDF("k", "b", "c")
      val ks = Streams.ksAgainst(spark, s"$dir/state", refC, "k", "b", "c")
        .head()
      assert(ks.getAs[Long]("n_ref") == 400L && ks.getAs[Long]("n_obs") == 400L)
      assert(ks.getAs[Long]("ks_num") == 150L * 400L)
      assert(ks.getAs[Double]("ks") == 0.375)
    } finally q.stop()

    // a bucket the reference never declared fails loudly
    val badRef = Seq(("m", 1L, 1.0)).toDF("k", "b", "p")
    val e = intercept[IllegalArgumentException] {
      Streams.chi2Against(spark, s"$dir/state", badRef, "k", "b", "p")
    }
    assert(e.getMessage.contains("absent from the reference"))
  }

  test("per-key equi-depth grid drives the drift monitor: sized " +
      "buckets fold exactly; only the drifted key scores") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("eqdrift").toString
    // reference window: both keys uniform over 1..400 — the equi-depth
    // cuts land at exactly 100/200/300 and every bucket's reference
    // mass is 1/4 BY CONSTRUCTION (the point of sizing the grid from
    // the reference window instead of declaring equi-width bounds)
    val refWin = Seq("a", "b")
      .flatMap(k => (1 to 400).map(i => (k, i.toDouble))).toDF("k", "v")
    val bounds = graft.operators.Quantiles
      .equiDepthBoundsDist(refWin, "k", "v", b = 4).localCheckpoint()
    assert(bounds.collect().map(r =>
      r.getString(0) -> r.getSeq[Double](1).toVector).toMap ==
      Map("a" -> Vector(100.0, 200.0, 300.0),
        "b" -> Vector(100.0, 200.0, 300.0)))
    val ref = Seq("a", "b")
      .flatMap(k => (0 until 4).map(b => (k, b.toLong, 0.25)))
      .toDF("k", "bucket", "p")
    // the stream carries raw (key, value); the bucket is computed
    // in-flight by the stream-static broadcast join against the sized
    // grid, then folded by the exact drift sink
    val input = MemoryStream[(String, Double)]
    val q = Streams.driftCountsSink(
        graft.operators.Quantiles.bucketOfKeyed(
          input.toDS().toDF("k", "v"), "k", "v", bounds),
        s"$dir/state", s"$dir/ckpt", "k", "bucket", Streams.trigger(1))
      .start()
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    try {
      for (_ <- 1 to 2) {
        // "a" stays in-distribution (one full uniform sweep per batch);
        // "b" drifts — everything lands above the last cut
        val batch = (1 to 400).map(i => ("a", i.toDouble)) ++
          (1 to 200).map(i => ("b", 301.0 + (i % 100)))
        streamed ++= batch
        input.addData(batch: _*)
        q.processAllAvailable()
      }
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    // the folded state == a batch recompute over everything streamed
    val stored = spark.read.parquet(s"$dir/state")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("n_rows")).toMap
    val batchTwin = graft.operators.Quantiles.bucketOfKeyed(
        streamed.toSeq.toDF("k", "v"), "k", "v", bounds)
      .groupBy($"k", $"bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(stored == batchTwin)
    // exact scores: the stable key is EXACTLY zero (equi-depth cuts +
    // uniform sweeps), the drifted key 3·e + (400−e)²/e with e = 100
    val scored = Streams
      .chi2Against(spark, s"$dir/state", ref, "k", "bucket", "p")
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Double]("chi2"))
      .toMap
    assert(scored("a") == 0.0)
    assert(scored("b") == 1200.0)
  }

  test("export manifest sink: folded manifest == one-shot; verify passes; replay no-op") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Export, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("exportsink").toString
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val cols = Seq("doc_id", "text", "source")
    def shardify(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("shard", (Sampling.hash60(col("doc_id")) % 4).cast("int"))

    val input = MemoryStream[(Long, String, String)]
    val q = Streams.exportManifestSink(
        shardify(input.toDS().toDF("doc_id", "text", "source")),
        s"$dir/exp", s"$dir/ckpt", "shard", cols, Streams.trigger(1))
      .start()
    try {
      (0 until 2).foreach { b =>
        input.addData(rows.filter(_._1 % 2 == b): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // the folded manifest is BIT-IDENTICAL to a one-shot manifest over
    // everything streamed (sums add, xors xor — associative)
    val folded = spark.read.parquet(s"$dir/exp/_manifest")
      .select("shard", "n_rows", "fp_sum", "fp_xor")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val oneShot = Export.manifest(
        shardify(rows.toDF("doc_id", "text", "source")), "shard", cols)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(folded == oneShot && folded.nonEmpty)
    // the grown export verifies with the unchanged batch verifier
    assert(Export.verifyManifest(spark, s"$dir/exp", "shard", cols).isEmpty)
    // a direct replay of an already-folded batch id is a no-op
    val replay = Streams.manifestMergeBatch(spark,
      shardify(rows.filter(_._1 % 2 == 0).toDF("doc_id", "text", "source")),
      s"$dir/exp", "shard", cols, batchId = 0L)
    assert(replay.success && replay.rowsLoaded == 0L)
    assert(Export.verifyManifest(spark, s"$dir/exp", "shard", cols).isEmpty)

    // BATCH-MODE appends (batchId = -1) ACCUMULATE — a second append
    // must not clobber the first's rows while its fingerprints stay
    // folded (the corruption mode fixed here), and the marker must not
    // regress (a streaming replay after a batch append stays a no-op)
    val extraA = Seq((100001L, "batch append one", "srcX"))
    val extraB = Seq((100002L, "batch append two", "srcX"))
    Streams.manifestMergeBatch(spark,
      shardify(extraA.toDF("doc_id", "text", "source")),
      s"$dir/exp", "shard", cols, batchId = -1L)
    Streams.manifestMergeBatch(spark,
      shardify(extraB.toDF("doc_id", "text", "source")),
      s"$dir/exp", "shard", cols, batchId = -1L)
    val total = spark.read.parquet(s"$dir/exp/data").count()
    assert(total == rows.size + 2L,
      s"both batch-mode appends must survive: $total")
    assert(Export.verifyManifest(spark, s"$dir/exp", "shard", cols).isEmpty,
      "manifest must cover both appends")
    val replay2 = Streams.manifestMergeBatch(spark,
      shardify(rows.filter(_._1 % 2 == 1).toDF("doc_id", "text", "source")),
      s"$dir/exp", "shard", cols, batchId = 1L)
    assert(replay2.rowsLoaded == 0L,
      "batch-mode folds must not regress the streaming replay marker")
    assert(Export.verifyManifest(spark, s"$dir/exp", "shard", cols).isEmpty)
    graft.core.AtomicSwap.deleteRecursively(new java.io.File(dir))
  }

  test("exact-sample sink: streamed fold == one-shot exactSample, nested") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val dir = java.nio.file.Files.createTempDirectory("samplesink").toString
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val input = MemoryStream[(Long, String)]
    val q = Streams.exactSampleSink(
        input.toDS().toDF("doc_id", "source"),
        s"$dir/state", s"$dir/ckpt", "doc_id", n = 25, Streams.trigger(1))
      .start()
    try {
      (0 until 3).foreach { b =>
        input.addData(rows.filter(_._1 % 3 == b): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/state")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val oneShot = Sampling.exactSample(
        rows.toDF("doc_id", "source"), "doc_id", 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == oneShot && streamed.size == 25,
      "fold must equal the one-shot exact sample over all batches")
    // nesting: a 10-row fold over the same feed is a subset
    val smaller = Sampling.exactSample(
        rows.toDF("doc_id", "source"), "doc_id", 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(smaller.subsetOf(streamed))
    // direct replay of an already-folded batch id is a no-op
    val replay = Streams.sampleMergeBatch(spark,
      rows.filter(_._1 % 3 == 0).toDF("doc_id", "source"),
      s"$dir/state", "doc_id", 25, batchId = 0L)
    assert(replay.success && replay.rowsLoaded == 0L)
    assert(spark.read.parquet(s"$dir/state")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == streamed)
    graft.core.AtomicSwap.deleteRecursively(new java.io.File(dir))
  }

  test("forget-keys sink: streamed deletions apply per batch with audit") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("forgetsink").toString
    Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"),
        (4L, "p2", "d"), (5L, "p3", "e"))
      .toDF("user_id", "pt", "v")
      .write.partitionBy("pt").parquet(s"$dir/t")

    val input = MemoryStream[Long]
    val q = Streams.forgetKeysSink(
        input.toDS().toDF("user_id"),
        s"$dir/t", s"$dir/audit", s"$dir/ckpt", "user_id", "pt",
        Streams.trigger(1))
      .start()
    try {
      input.addData(2L)          // touches p1 only
      q.processAllAvailable()
      input.addData(3L, 4L, 9L)  // empties p2; 9 matches nothing
      q.processAllAvailable()

      val left = spark.read.parquet(s"$dir/t")
        .select($"user_id").as[Long].collect().toSet
      assert(left == Set(1L, 5L))
      // p2 fully forgotten → its directory is gone
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/t", "pt=p2")))
      val audit = spark.read.parquet(s"$dir/audit")
        .collect()
        .map(r => (r.getAs[Long]("batch"), r.getAs[String]("pt"),
          r.getAs[Long]("rows_before"), r.getAs[Long]("rows_removed")))
        .toSet
      assert(audit == Set((0L, "p1", 2L, 1L), (1L, "p2", 2L, 2L)))
    } finally q.stop()
  }

  test("kmv-merge sink: streamed sketch == one-shot batch sketch, exactly") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("kmvmerge").toString

    // 400 distinct hashes for "web" (sketch saturates at k=64),
    // 20 for "books" (sub-k: sketch IS the distinct set), sliced into
    // three arbitrary micro-batches with cross-batch duplicates
    val web = (1L to 400L).map(i => ("web", i * 7919L))
    val books = (1L to 20L).map(i => ("books", i * 104729L))
    val all = web ++ books
    val input = MemoryStream[(String, Long)]
    val q = Streams.kmvMergeSink(
        input.toDS().toDF("source", "h"),
        s"$dir/kmv", s"$dir/ckpt", Seq("source"), "h", k = 64,
        Streams.trigger(1))
      .start()
    try {
      input.addData(all.take(150): _*)
      q.processAllAvailable()
      input.addData(all.slice(100, 300): _*) // overlaps batch 1
      q.processAllAvailable()
      input.addData(all.drop(280): _*)
      q.processAllAvailable()

      val stored = spark.read.parquet(s"$dir/kmv")
        .collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[scala.collection.Seq[Long]]("kmv").toVector, r.getAs[Long]("n_rows"))))
        .toMap
      // one-shot over the SAME multiset of rows (dups included)
      val oneShot = (all.take(150) ++ all.slice(100, 300) ++ all.drop(280))
        .toDF("source", "h")
        .groupBy($"source")
        .agg(graft.functions.NativeAgg.kmvMinHashes($"h", 64).as("kmv"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_rows"))
        .collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[scala.collection.Seq[Long]]("kmv").toVector, r.getAs[Long]("n_rows"))))
        .toMap
      assert(stored == oneShot)
      assert(stored("web")._1.length == 64 &&
        stored("web")._1 == (1L to 64L).map(_ * 7919L))
      assert(stored("books")._1.length == 20)
    } finally q.stop()
  }

  test("trending top-k sink: closed windows rank their items via the heap") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("trending").toString

    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.trendingTopKSink(
        input.toDS().toDF("ts", "item"), "ts", "item",
        windowLen = "5 minutes", watermarkDelay = "1 minute", k = 2,
        path = s"$dir/top", checkpoint = s"$dir/ckpt",
        trig = Streams.trigger(1))
      .start()
    try {
      // window [10:00, 10:05): a×3, b×2, c×1 — still open, nothing written
      input.addData(
        (ts("2024-01-01 10:00:10"), "a"), (ts("2024-01-01 10:00:20"), "a"),
        (ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:02:00"), "b"),
        (ts("2024-01-01 10:03:00"), "b"), (ts("2024-01-01 10:04:00"), "c"))
      q.processAllAvailable()
      // advance the watermark past 10:05 + 1min → the window closes
      input.addData((ts("2024-01-01 10:10:00"), "d"))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$dir/top")
        .collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("item"),
          r.getAs[Long]("n_events"), r.getAs[Int]("rank")))
        .toSet
      assert(out == Set(
        (ts("2024-01-01 10:00:00"), "a", 3L, 1),
        (ts("2024-01-01 10:00:00"), "b", 2L, 2)))
      // output landed in a batch=<id> dir — a replayed batch overwrites
      // its own directory instead of appending duplicates
      assert(new java.io.File(s"$dir/top").listFiles()
        .exists(_.getName.startsWith("batch=")))
      val dirsAfterClose = new java.io.File(s"$dir/top").listFiles()
        .count(_.getName.startsWith("batch="))
      // watermark-only data that closes NO window must not mint another
      // batch=<id> directory (the unbounded-tiny-dirs guard) — window
      // [10:10, 10:15) has data but stays open, nothing new closes
      input.addData((ts("2024-01-01 10:11:00"), "e"))
      q.processAllAvailable()
      val dirsAfterIdle = new java.io.File(s"$dir/top").listFiles()
        .count(_.getName.startsWith("batch="))
      assert(dirsAfterIdle == dirsAfterClose,
        s"empty batch minted a directory: $dirsAfterClose -> $dirsAfterIdle")
      // the ranked rows are unchanged
      assert(spark.read.parquet(s"$dir/top").count() == 2)
    } finally q.stop()
  }

  test("trending sink: crash debris without a committed batch still gets the schema write") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("trenddebris").toString
    // simulate a first write that died mid-job: the root exists but the
    // only batch dir holds _temporary debris, no committed files — the
    // replayed (empty) batch must still perform the schema-establishing
    // write instead of treating bare root existence as "already written"
    new java.io.File(s"$dir/top/batch=0/_temporary").mkdirs()
    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.trendingTopKSink(
        input.toDS().toDF("ts", "item"), "ts", "item",
        windowLen = "5 minutes", watermarkDelay = "1 minute", k = 2,
        path = s"$dir/top", checkpoint = s"$dir/ckpt",
        trig = Streams.trigger(1))
      .start()
    try {
      input.addData((ts("2024-01-01 10:00:10"), "a")) // closes no window
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/top") // schema readable
      assert(out.count() == 0)
      assert(out.columns.toSet == Set("window_start", "item", "n_events",
        "rank", "batch"))
    } finally q.stop()
  }

  test("trending output compaction merges closed batch dirs, newest untouched") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("trendcompact").toString

    val input = MemoryStream[(Timestamp, String)]
    val q = Streams.trendingTopKSink(
        input.toDS().toDF("ts", "item"), "ts", "item",
        windowLen = "5 minutes", watermarkDelay = "1 minute", k = 2,
        path = s"$dir/top", checkpoint = s"$dir/ckpt",
        trig = Streams.trigger(1))
      .start()
    try {
      // four micro-batches, each closing the previous window
      input.addData((ts("2024-01-01 10:00:10"), "a")); q.processAllAvailable()
      input.addData((ts("2024-01-01 10:10:00"), "b")); q.processAllAvailable()
      input.addData((ts("2024-01-01 10:20:00"), "c")); q.processAllAvailable()
      input.addData((ts("2024-01-01 10:30:00"), "d")); q.processAllAvailable()
    } finally q.stop()
    def dirs = new java.io.File(s"$dir/top").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    val preCount = dirs.size
    val before = spark.read.parquet(s"$dir/top")
      .drop("batch").collect().map(_.toString).sorted.toSeq
    assert(preCount >= 3, s"fixture needs >=3 batch dirs, got $dirs")

    // an unpublished previous compaction attempt must be discarded
    new java.io.File(s"$dir/top__compactbatches").mkdirs()
    val merged = Streams.compactBatchOutput(spark, s"$dir/top")
    assert(merged == preCount - 1, s"merged $merged of $preCount dirs")
    val after = spark.read.parquet(s"$dir/top")
      .drop("batch").collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the rows")
    assert(dirs.size == 2, s"expected exactly target+newest, got $dirs")
    assert(!new java.io.File(s"$dir/top__compactbatches").exists())
    // idempotent: nothing left worth compacting
    assert(Streams.compactBatchOutput(spark, s"$dir/top") == 0)
  }

  test("compaction heals an interrupted swap from the published manifest") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files.createTempDirectory("compactheal").toString

    def mkFixture(path: String): Seq[String] = {
      (0L to 3L).foreach(i => Seq((i, s"row$i")).toDF("id", "v")
        .write.parquet(s"$path/batch=$i"))
      spark.read.parquet(path).drop("batch")
        .collect().map(_.toString).sorted.toSeq
    }
    // reproduce the exact pre-crash state the protocol can leave behind:
    // merged side dir written, manifest PUBLISHED, no source touched yet
    def publishPendingSwap(path: String): Unit = {
      spark.read.parquet((0L to 2L).map(i => s"$path/batch=$i"): _*)
        .write.parquet(path + "__compactbatches")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_compact_pending"),
        "batch=2\nbatch=0\nbatch=1\nbatch=2".getBytes("UTF-8"))
    }
    def state(path: String) = (
      spark.read.parquet(path).drop("batch")
        .collect().map(_.toString).sorted.toSeq,
      new java.io.File(path).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).sorted.toSeq,
      new java.io.File(path + "__compactbatches").exists() ||
        new java.io.File(s"$path/_compact_pending").exists())

    // crash BEFORE any source delete: heal must finish the whole swap
    val p1 = s"$root/early"
    val rows1 = mkFixture(p1)
    publishPendingSwap(p1)
    assert(Streams.compactBatchOutput(spark, p1) == 0) // heal, then nothing left
    assert(state(p1) == ((rows1, Seq("batch=2", "batch=3"), false)))

    // crash AFTER the rename landed but before residual source deletes:
    // sources are transiently duplicated, heal must retire them
    val p2 = s"$root/late"
    val rows2 = mkFixture(p2)
    publishPendingSwap(p2)
    val fs = new org.apache.hadoop.fs.Path(p2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$p2/batch=2"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(p2 + "__compactbatches"),
      new org.apache.hadoop.fs.Path(s"$p2/batch=2")))
    assert(Streams.compactBatchOutput(spark, p2) == 0)
    assert(state(p2) == ((rows2, Seq("batch=2", "batch=3"), false)))

    // crash BETWEEN deleting the target-named source and the rename —
    // the one state where the target batch's rows live ONLY in the
    // side dir; heal must rename it in, not discard it
    val p3 = s"$root/mid"
    val rows3 = mkFixture(p3)
    publishPendingSwap(p3)
    val fs3 = new org.apache.hadoop.fs.Path(p3).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs3.delete(new org.apache.hadoop.fs.Path(s"$p3/batch=2"), true))
    assert(Streams.compactBatchOutput(spark, p3) == 0)
    assert(state(p3) == ((rows3, Seq("batch=2", "batch=3"), false)))
  }

  test("stats-merge sink: running moments match a batch recompute exactly") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("statsmerge").toString

    val input = MemoryStream[(String, Double)]
    val q = Streams.statsMergeSink(
        input.toDS().toDF("k", "x"), s"$dir/stats", s"$dir/ckpt",
        Seq("k"), "x", Streams.trigger(1))
      .start()
    try {
      input.addData(("a", 2.0), ("a", 4.0), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 6.0))
      q.processAllAvailable()

      val m = spark.read.parquet(s"$dir/stats")
        .collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"),
          r.getAs[java.math.BigDecimal]("sum_x").doubleValue,
          r.getAs[java.math.BigDecimal]("sum_x2").doubleValue))
        .toSet
      // moments over ALL data ever streamed: a{2,4,6}, b{10}
      assert(m == Set(("a", 3L, 12.0, 56.0), ("b", 1L, 10.0, 100.0)))
      // derived stats: mean 4, var (56 - 48)/2 = 4 → std 2
      val a = m.find(_._1 == "a").get
      val mean = a._3 / a._2
      val variance = (a._4 - a._3 * a._3 / a._2) / (a._2 - 1)
      assert(mean == 4.0 && variance == 4.0)
    } finally q.stop()
  }

  test("aggregate-merge batch: replayed batchId is a no-op; crash backup heals") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("aggreplay").toString
    val path = s"$dir/aggs"
    val b0 = Seq(("web", 10.0), ("web", 2.0)).toDF("source", "tokens")

    val r0 = Streams.aggMergeBatch(spark, b0, path, Seq("source"), "tokens", 0L)
    assert(r0.rowsLoaded == 1)
    def webTotal = spark.read.parquet(path)
      .filter(col("source") === "web")
      .select(col("sum_measure").cast("double")).collect().head.getDouble(0)
    assert(webTotal == 12.0)

    // replay of the SAME batch id (checkpoint lost the commit): no-op,
    // totals unchanged — not double-counted
    val replay = Streams.aggMergeBatch(spark, b0, path, Seq("source"), "tokens", 0L)
    assert(replay.success && replay.rowsLoaded == 0)
    assert(webTotal == 12.0)

    // a NEW batch id folds in
    Streams.aggMergeBatch(spark, Seq(("web", 1.0)).toDF("source", "tokens"),
      path, Seq("source"), "tokens", 1L)
    assert(webTotal == 13.0)

    // simulate a crash between the two swap renames: target gone,
    // backup present → next call heals from the backup and applies
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old"))
    Streams.aggMergeBatch(spark, Seq(("web", 5.0)).toDF("source", "tokens"),
      path, Seq("source"), "tokens", 2L)
    assert(webTotal == 18.0)
  }

  test("streaming funnel: stage advances in strict order across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[FunnelEvent]
    val q = Stateful.funnelTrack(input.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views then clicks; user 2's click BEFORE any
      // view must not advance; user 3 purchases without prior steps;
      // a null-timestamp event must be DROPPED, not NPE the query
      input.addData(
        FunnelEvent(1L, ts("2024-01-01 10:00:00"), "view"),
        FunnelEvent(1L, ts("2024-01-01 10:05:00"), "click"),
        FunnelEvent(1L, null, "purchase"),
        FunnelEvent(2L, ts("2024-01-01 09:00:00"), "click"),
        FunnelEvent(3L, ts("2024-01-01 09:30:00"), "purchase"))
      q.processAllAvailable()
      val b1 = spark.table("funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
      assert(b1 == Set((1L, 2, ts("2024-01-01 10:05:00"))))

      // batch 2: user 1 purchases (stage 3); user 2 finally views
      // (stage 1); a user-1 view is stale noise — no double-advance
      input.addData(
        FunnelEvent(1L, ts("2024-01-01 10:10:00"), "purchase"),
        FunnelEvent(1L, ts("2024-01-01 10:11:00"), "view"),
        FunnelEvent(2L, ts("2024-01-01 09:10:00"), "view"))
      q.processAllAvailable()
      val b2 = spark.table("funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
      assert(b2 == b1 ++ Set(
        (1L, 3, ts("2024-01-01 10:10:00")),
        (2L, 1, ts("2024-01-01 09:10:00"))))

      // batch 3: click at the SAME timestamp as user 2's view must NOT
      // advance (strictly-after contract); a later click does
      input.addData(FunnelEvent(2L, ts("2024-01-01 09:10:00"), "click"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() == 3) // no emission
      input.addData(FunnelEvent(2L, ts("2024-01-01 09:20:00"), "click"))
      q.processAllAvailable()
      val b4 = spark.table("funnel_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet
      assert(b4.contains((2L, 2, ts("2024-01-01 09:20:00"))))
    } finally q.stop()
  }

  test("partitioned merge sink: micro-batches rewrite only touched partitions") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-pstream").toString
    val input = MemoryStream[(Long, String, Double, Timestamp)]
    // counts every evaluation of the micro-batch's plan, row by row
    val evaluated = spark.sparkContext.longAccumulator("pstream-rows")
    val seen = udf { (id: Long) => evaluated.add(1); id }.asNondeterministic()
    val stream = input.toDF().toDF("orderId", "dt", "amount", "ts")
      .withColumn("orderId", seen(col("orderId")))
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.partitionedMergeSink(stream, s"$dir/fact", s"$dir/ckpt",
      Seq("orderId"), "ts", "dt", Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      input.addData(
        (1L, "2024-01-01", 10.0, ts("2024-01-01 10:00:00")),
        (2L, "2024-01-02", 20.0, ts("2024-01-02 10:00:00")))
      q.processAllAvailable()
      // second batch touches only 2024-01-01
      input.addData((1L, "2024-01-01", 99.0, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()

      val fact = spark.read.parquet(s"$dir/fact")
        .select("orderId", "amount")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(fact == Set((1L, 99.0), (2L, 20.0)))
      // each micro-batch is evaluated once, not once per sink action
      assert(evaluated.value == 3L)
      assert(loads.map(_.rowsLoaded) == Seq(2L, 1L), loads)
    } finally q.stop()
  }

  test("validated sink: per-batch quarantine split, reasons preserved") {
    import graft.validation.Rules
    import graft.core.Severity
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-vsink").toString
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("id", "amount")
    val rules = Seq(
      Rules.Rule("range", "amount", Severity.Error,
        Rules.range(col("amount"), Some(0.0), Some(100.0))),
      Rules.Rule("not_null", "amount", Severity.Error, col("amount").isNull))
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.validatedSink(stream, s"$dir/t", s"$dir/quarantine",
      s"$dir/ckpt", rules, Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      input.addData((1L, 50.0), (2L, -5.0), (3L, 99.0))
      q.processAllAvailable()
      input.addData((4L, 500.0), (5L, 10.0))
      q.processAllAvailable()

      val valid = spark.read.parquet(s"$dir/t")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(valid == Set(1L, 3L, 5L))
      val rejects = spark.read.parquet(s"$dir/quarantine")
        .select("id", "reasons").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rejects == Map(2L -> "range__amount", 4L -> "range__amount"))
      // S8 LoadResult accounting: 3 valid + 2 quarantined across batches
      // (batch boundaries can shift under load — totals are the contract)
      val nonEmpty = loads.filter(r =>
        r.rowsLoaded > 0 || r.errorMessage.nonEmpty)
      assert(nonEmpty.map(_.rowsLoaded).sum == 3L, nonEmpty)
      val quarantined = nonEmpty.flatMap(_.errorMessage)
        .map(_.stripPrefix("quarantined: ").toLong).sum
      assert(quarantined == 2L, nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows close past the watermark") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Sale]
    val agg = Streams.sessionWindowAgg(input.toDF(), "ts", "orderId",
      gap = "5 minutes", watermarkDelay = "10 minutes")
    val q = agg.writeStream.format("memory")
      .queryName("sess_out").outputMode("append").start()
    try {
      // two events 3 min apart → one session; then advance the watermark
      input.addData(Sale(7, 1.0, ts("2024-01-01 10:00:00")),
        Sale(7, 1.0, ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // session still open
      input.addData(Sale(8, 1.0, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .selectExpr("orderId", "events", "session_start").collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(0) == 7L && rows.head.getLong(1) == 2L)
      assert(rows.head.getTimestamp(2) == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("stream-stream join matches within tolerance, bounded state") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    // orders enriched by payments arriving on their own stream: a match
    // must land within ±10 minutes of the order timestamp
    val orders = MemoryStream[(Long, Timestamp)]
    val payments = MemoryStream[(Long, Double, Timestamp)]
    val joined = Streams.streamJoinWithin(
      orders.toDF().toDF("orderId", "ts"),
      payments.toDF().toDF("orderId", "amount", "pts"),
      key = "orderId", leftTs = "ts", rightTs = "pts",
      tolerance = "10 minutes", watermarkDelay = "5 minutes",
      rightCols = Seq("amount"))
    val q = joined.writeStream.format("memory")
      .queryName("ssj_out").outputMode("append").start()
    try {
      orders.addData((1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      // payment for 1 inside tolerance; payment for 2 an hour late
      payments.addData((1L, 25.0, ts("2024-01-01 10:05:00")),
        (2L, 99.0, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .selectExpr("orderId", "amount").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == Map(1L -> 25.0))
    } finally q.stop()
  }

  test("curation funnel sink: gate, clean, and dedup-on-cleaned across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-csink").toString
    val goodLine = "the cat and the dog run fast together now then."
    val input = MemoryStream[(Long, String)]
    val (stream, reads) = countingReads(input.toDF().toDF("doc_id", "text"), "doc_id")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.curationFunnelSink(stream, s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "text", minTokens = 5L,
      trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      // batch 1: doc 1 kept (junk second line cleaned away); doc 2 fails
      // the Gopher gate (too short); doc 3 passes Gopher but C4-drops
      // (brace); doc 4's CLEANED text duplicates doc 1's → in-batch dup
      input.addData(
        (1L, goodLine + "\nbuy now click here"),
        (2L, "tiny doc."),
        (3L, goodLine + " more words here {"),
        (4L, goodLine + "\ncompletely different junk tail"))
      q.processAllAvailable()
      // batch 2: doc 5's cleaned text duplicates the INDEXED doc 1;
      // doc 6 is fresh and survives
      val jobs = jobsOf {
        input.addData(
          (5L, goodLine + "\nanother junk line"),
          (6L, "that fox and the bird have come with them here too."))
        q.processAllAvailable()
      }
      // one flags scan, one survivor-count aggregate, the dedup and the
      // two writes
      assert(jobs <= CurationSinkJobs, s"jobs per micro-batch: $jobs")
      // each micro-batch is read once, not once per stage count
      assert(reads.value == 6L, s"rows read: ${reads.value}")

      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(corpus.keySet == Set(1L, 6L), corpus)
      // the PERSISTED text is the cleaned one — junk line gone
      assert(corpus(1L) == goodLine)
      val index = spark.read.parquet(s"$dir/index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(index == Set(1L, 6L))
      // stage accounting: batch 1 = gopher 1, c4 1, dup 1, kept 1;
      // batch 2 = dup 1, kept 1
      val nonEmpty = loads.filter(r => r.rowsLoaded > 0 || r.errorMessage.nonEmpty)
      assert(nonEmpty.map(_.rowsLoaded).sum == 2L, nonEmpty)
      val stages = nonEmpty.flatMap(_.errorMessage).map { m =>
        m.split(";").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toLong
        }.toMap
      }
      assert(stages.map(_("gopher")).sum == 1L, stages)
      assert(stages.map(_("c4")).sum == 1L, stages)
      assert(stages.map(_("dup")).sum == 2L, stages)
    } finally q.stop()
  }

  private def pngGradient(perturb: Boolean = false, vertical: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val base = if (vertical) y * 4 else x * 4
      val g = (if (perturb && x < 8 && y < 8) base + 40 else base) & 0xFF
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("sft prep sink: validity gate + response dedup across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def conv(turns: (String, String)*): String =
      turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString("[", ",", "]")
    val dir = Files.createTempDirectory("graft-sftsink").toString
    val input = MemoryStream[(Long, String)]
    val (stream, reads) = countingReads(input.toDF().toDF("doc_id", "conv"), "doc_id")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.sftPrepSink(stream, s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "conv", trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      // batch 1: 1 valid; 2 invalid (assistant-first); 3 repeats 1's
      // RESPONSE with different user phrasing → in-batch dup
      input.addData(
        (1L, conv("user" -> "how do I sort", "assistant" -> "use quicksort")),
        (2L, conv("assistant" -> "hello", "user" -> "hi")),
        (3L, conv("user" -> "sorting help pls", "assistant" -> "use quicksort")))
      q.processAllAvailable()
      // batch 2: 4 repeats the INDEXED response → dup vs index; 5 fresh
      input.addData(
        (4L, conv("user" -> "again", "assistant" -> "use quicksort")),
        (5L, conv("user" -> "what about heaps", "assistant" -> "use heapsort")))
      q.processAllAvailable()

      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "assistant_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(corpus.keySet == Set(1L, 5L), corpus)
      // BPE-exact accounting rode along with the kept rows
      assert(corpus.values.forall(_ > 0L), corpus)
      val index = spark.read.parquet(s"$dir/index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(index == Set(1L, 5L))
      val stages = loads.filter(_.errorMessage.nonEmpty)
        .flatMap(_.errorMessage).map { m =>
          m.split(";").map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toLong
          }.toMap
        }
      assert(stages.map(_("invalid")).sum == 1L, stages)
      assert(stages.map(_("dup")).sum == 2L, stages)
      // each micro-batch is read once
      assert(reads.value == 5L, s"rows read: ${reads.value}")
    } finally q.stop()
  }

  test("phash dedup sink: in-batch and vs-index image near-dups drop") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-phsink").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val (stream, reads) = countingReads(input.toDF().toDF("doc_id", "payload"), "doc_id")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.phashDedupSink(stream, s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "payload", maxHamming = 3,
      trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      // batch 1: gradient (1), its perturbation (2: in-batch near-dup
      // of 1 → drops), a genuinely different vertical gradient (3)
      input.addData(
        (1L, pngGradient()),
        (2L, pngGradient(perturb = true)),
        (3L, pngGradient(vertical = true)))
      q.processAllAvailable()
      // batch 2: byte-identical copy of 1 (4 → drops vs the index),
      // and 5 = a fresh checkerboard that matches nothing
      val checker = {
        val img = new java.awt.image.BufferedImage(
          64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 64; x <- 0 until 64) {
          val g = if ((x / 8 + y / 8) % 2 == 0) 0 else 255
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      input.addData((4L, pngGradient()), (5L, checker))
      q.processAllAvailable()

      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 3L, 5L), corpus)
      // the index holds exactly the survivors' hashes
      val index = spark.read.parquet(s"$dir/index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(index == Set(1L, 3L, 5L), index)
      assert(loads.map(_.rowsLoaded).sum == 3L, loads)
      // one drop per batch: 2 in-batch, 4 against the index
      assert(loads.flatMap(_.errorMessage) == Seq("deduped: 1", "deduped: 1"), loads)
      // each micro-batch is read once
      assert(reads.value == 5L, s"rows read: ${reads.value}")
    } finally q.stop()
  }

  test("curation funnel sink: htmlExtract stage turns raw markup into funnel input") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-csink-html").toString
    val goodLine = "the cat and the dog run fast together now then."
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.curationFunnelSink(stream, s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "text", minTokens = 5L, minStopWords = 1L,
      htmlExtract = true, trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      input.addData(
        // kept: block markup → the good line; script with a BRACE is
        // stripped BEFORE the C4 doc-drop rule can fire on it
        (1L, s"<html><body><script>if(1<2){x=0}</script><p>$goodLine</p></body></html>"),
        // markup-only page: extraction is empty → drops at the html stage
        (2L, "<html><head><style>p{}</style></head><body><div></div></body></html>"),
        // extraction fine, then the Gopher gate drops it (too short)
        (3L, "<p>tiny doc.</p>"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(corpus.keySet == Set(1L), corpus)
      // the persisted text is the EXTRACTED + cleaned one — no markup
      assert(corpus(1L) == goodLine)
      val stages = loads.filter(_.errorMessage.nonEmpty)
        .flatMap(_.errorMessage).map { m =>
          m.split(";").map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toLong
          }.toMap
        }
      assert(stages.map(_("html")).sum == 1L, stages)
      assert(stages.map(_("gopher")).sum == 1L, stages)
    } finally q.stop()
  }

  test("curation funnel sink: optional model gate filters on cleaned text") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-csink-model").toString
    val goodLine = "the cat and the dog run fast together now then."
    val badLine = "the spam and more spam mail spam arrives quickly today."
    // weights: heavy negative on every bigram of the BAD line, zero
    // elsewhere; bias ≥ 0 so everything else passes — computed through
    // the SAME featureBucket spelling the classifier uses
    val buckets = 4096
    def bucketsOf(text: String) = graft.text.Dsir.docFeatures(
        Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text", buckets)
      .select("bucket").distinct().collect().map(_.getLong(0).toInt)
    val badBuckets = bucketsOf(badLine)
    // fixture precondition: no hash collision between the two lines'
    // bigram buckets (deterministic md5 — holds for these strings)
    assert(bucketsOf(goodLine).toSet.intersect(badBuckets.toSet).isEmpty)
    val wq = badBuckets.sorted.map(b => (b, -1000000L)).toSeq
    val input = MemoryStream[(Long, String)]
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.curationFunnelSink(
      input.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "text", minTokens = 5L,
      modelGate = Some((wq, 1000L, buckets)),
      trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      input.addData(
        (1L, goodLine + "\nbuy now click here"),
        (2L, badLine + "\nsome junk tail"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus == Set(1L), corpus)
      val stages = loads.filter(_.errorMessage.nonEmpty)
        .flatMap(_.errorMessage).map { m =>
          m.split(";").map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toLong
          }.toMap
        }
      assert(stages.nonEmpty && stages.head("model") == 1L, stages)
      assert(stages.head("dup") == 0L, stages)
    } finally q.stop()
  }

  test("curation funnel sink: replayed batch keeps its survivors (no self-dedup)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-creplay").toString
    val goodLine = "the cat and the dog run fast together now then."
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    def sink() = Streams.curationFunnelSink(stream, s"$dir/corpus",
      s"$dir/index", s"$dir/ckpt", "doc_id", "text", minTokens = 5L,
      trig = Streams.trigger(1))
    val q = sink().start()
    try {
      input.addData((1L, goodLine))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$dir/corpus").count() == 1L)
    // crash window: batch 0's corpus+index writes committed, but the
    // streaming checkpoint commit didn't happen → restart REPLAYS 0
    val commit = new java.io.File(s"$dir/ckpt/commits/0")
    assert(commit.exists() && commit.delete())
    // the checkpoint FS is checksummed: the stale .crc would make the
    // replay's commit rename look like concurrent modification
    new java.io.File(s"$dir/ckpt/commits/.0.crc").delete()
    val q2 = sink().start()
    try q2.processAllAvailable() finally q2.stop()
    // the replay must not dedup the batch against its own fingerprints:
    // doc 1 survives the rewrite, and its fingerprint stays indexed
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.read.parquet(s"$dir/index")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("streaming near-dup dedup sink: index accumulates across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-dsink").toString
    // 80 distinct tokens → one-word edits keep shingle-Jaccard ≈ 0.88
    val base = (0 until 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace(" tok40 ", " changed ")
    val input = MemoryStream[(Long, String)]
    val (stream, reads) = countingReads(input.toDF().toDF("doc_id", "text"), "doc_id")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.nearDupDedupSink(stream, s"$dir/corpus", s"$dir/index",
      s"$dir/ckpt", "doc_id", "text", trig = Streams.trigger(1),
      onLoad = r => loads.synchronized { loads += r }).start()
    try {
      // batch 1: doc 1 kept; doc 2 is its in-batch near-dup (dropped)
      input.addData((1L, base), (2L, nearDup))
      q.processAllAvailable()
      // batch 2: doc 3 near-dups the INDEXED doc 1 (dropped against the
      // index, not the batch); doc 4 unique; doc 5 too short to sign
      val jobs = jobsOf {
        input.addData(
          (3L, base.replace(" tok10 ", " other ")),
          (4L, "completely different content about databases and shuffles " +
            "with enough tokens to produce a full minhash signature today"),
          (5L, "tiny doc"))
        q.processAllAvailable()
      }
      assert(jobs <= NearDupSinkJobs, s"jobs per micro-batch: $jobs")
      // each micro-batch is read once, not once per count and join
      assert(reads.value == 5L, s"rows read: ${reads.value}")

      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 4L, 5L))
      // index holds signatures for signable survivors only
      val index = spark.read.parquet(s"$dir/index")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(index == Set(1L, 4L))
      val nonEmpty = loads.filter(r => r.rowsLoaded > 0 || r.errorMessage.nonEmpty)
      assert(nonEmpty.map(_.rowsLoaded).sum == 3L, nonEmpty)
      val deduped = nonEmpty.flatMap(_.errorMessage)
        .map(_.stripPrefix("deduped: ").toLong).sum
      assert(deduped == 2L, nonEmpty)

      // batch 3: one more unique doc so index/corpus reach 3 batch dirs
      input.addData((6L, (0 until 80).map(t => s"fresh$t").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()

    // compact both accumulating paths (merges all closed dirs but the
    // newest), then RESUME the same checkpoint: dedup against the
    // compacted index must behave exactly as against the original
    assert(Streams.compactBatchOutput(spark, s"$dir/index") >= 2)
    assert(Streams.compactBatchOutput(spark, s"$dir/corpus") >= 2)
    val q2 = Streams.nearDupDedupSink(stream,
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      trig = Streams.trigger(1)).start()
    try {
      // doc 7 near-dups INDEXED doc 1 (lives in a compacted dir);
      // doc 8 is unique and must survive
      input.addData(
        (7L, base.replace(" tok20 ", " edited ")),
        (8L, (0 until 80).map(t => s"novel$t").mkString(" ")))
      q2.processAllAvailable()
      val corpus2 = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus2 == Set(1L, 4L, 5L, 6L, 8L), corpus2)
    } finally q2.stop()
  }

  test("near-dup sink refuses to clobber history after checkpoint loss") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-dsink-loss").toString
    val mk = (i: Long) => (i, (0 until 80).map(t => s"w${i}x$t").mkString(" "))
    val input = MemoryStream[(Long, String)]
    val q = Streams.nearDupDedupSink(input.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      trig = Streams.trigger(1)).start()
    try {
      input.addData(mk(1)); q.processAllAvailable()
      input.addData(mk(2)); q.processAllAvailable()
    } finally q.stop()
    // lose the checkpoint → batchIds restart at 0; the sink must fail
    // loudly instead of overwriting the oldest committed batch
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/ckpt"))
    val input2 = MemoryStream[(Long, String)]
    val q2 = Streams.nearDupDedupSink(input2.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      trig = Streams.trigger(1)).start()
    try {
      input2.addData(mk(3))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("checkpoint was lost") ||
        Option(ex.getCause).exists(_.getMessage.contains("checkpoint was lost")),
        ex.getMessage)
      // history intact: both original docs still in the corpus
      val corpus = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 2L))
    } finally q2.stop()
  }

  test("batch-directory sinks refuse to clobber history after checkpoint loss") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
    val dir = Files.createTempDirectory("graft-restart").toString
    // one case per sink: run it on a checkpoint, feeding batches by id
    type Run = String => (StreamingQuery, Long => Unit)
    def textRun(cols: (String, String), mk: Long => String)(
        sink: (DataFrame, String) => DataStreamWriter[Row]): Run = { ckpt =>
      val input = MemoryStream[(Long, String)]
      val q = sink(input.toDF().toDF(cols._1, cols._2), ckpt).start()
      (q, i => input.addData((i, mk(i))))
    }
    val doc = textRun(("doc_id", "text"),
      i => (0 until 80).map(t => s"w${i}x$t").mkString(" ")) _
    val cases: Seq[(String, Run)] = Seq(
      "sftPrepSink" -> textRun(("doc_id", "conv"), i =>
          s"""[{"role":"user","content":"q$i"},{"role":"assistant","content":"a$i"}]""") {
        (df, ckpt) => Streams.sftPrepSink(df, s"$dir/sft/corpus",
          s"$dir/sft/index", ckpt, "doc_id", "conv", trig = Streams.trigger(1))
      },
      "phashDedupSink" -> { ckpt =>
        val input = MemoryStream[(Long, Array[Byte])]
        val q = Streams.phashDedupSink(input.toDF().toDF("doc_id", "payload"),
          s"$dir/phash/corpus", s"$dir/phash/index", ckpt, "doc_id", "payload",
          trig = Streams.trigger(1)).start()
        (q, i => input.addData((i, pngGradient(vertical = i % 2 == 0))))
      },
      "curationFunnelSink" -> doc { (df, ckpt) =>
        Streams.curationFunnelSink(df, s"$dir/funnel/corpus",
          s"$dir/funnel/index", ckpt, "doc_id", "text", trig = Streams.trigger(1))
      },
      "multilingualCurationSink" -> doc { (df, ckpt) =>
        Streams.multilingualCurationSink(df, s"$dir/ml/corpus", s"$dir/ml/index",
          ckpt, "doc_id", "text",
          Seq(graft.text.Curation.LangRoute("en", Seq("and"), Nil)),
          trig = Streams.trigger(1))
      },
      "preferencePairSink" -> { ckpt =>
        val input = MemoryStream[(String, String, Long)]
        val q = Streams.preferencePairSink(
          input.toDF().toDF("prompt", "response", "score"), s"$dir/pref/state",
          ckpt, "prompt", "response", "score", trig = Streams.trigger(1)).start()
        (q, i => input.addData((s"p$i", s"r$i", i)))
      })
    cases.foreach { case (sink, run) =>
      val (q, feed) = run(s"$dir/$sink-ckpt1")
      try {
        feed(1); q.processAllAvailable()
        feed(2); q.processAllAvailable()
        assert(q.exception.isEmpty, s"$sink: ${q.exception}")
      } finally q.stop()
      // a fresh checkpoint restarts batch ids at 0 over committed state
      val (q2, feed2) = run(s"$dir/$sink-ckpt2")
      try {
        feed2(3)
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
        assert(msgs.exists(m => m.contains("checkpoint was lost") &&
          m.contains(sink)), s"$sink: $msgs")
      } finally q2.stop()
    }
  }

  test("S6 file source: streaming the events table equals the batch result") {
    import graft.streaming.Windows
    import org.apache.spark.sql.functions.{count => cnt, sum}

    // the real events parquet, read as a STREAM (file-arrival source —
    // which watches a DIRECTORY, so stage the file into one)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = Files.createTempDirectory("graft-file-src")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val batchDf = graft.queries.normalizeEventTs(
      spark.read.parquet(s"$sf/events.parquet"))
    val streamDf = graft.queries.normalizeEventTs(spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(streamDir.toString))

    def kpi(df: org.apache.spark.sql.DataFrame) =
      Windows.tumbling(df, "ts", "1 hour", Seq.empty,
        Seq(cnt(lit(1)).as("n"), sum("value").as("v")))

    val q = kpi(streamDf).writeStream.format("memory")
      .queryName("file_stream_out").outputMode("complete")
      .trigger(Streams.availableNow).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_out")
        .select("window_start", "n")
      val batch = kpi(batchDf).select("window_start", "n")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("quality-gated sink diverts breaching batches whole, passes clean ones") {
    import graft.core.TableSchema
    import graft.validation.QualityThresholds
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-gsink").toString
    val input = MemoryStream[(Long, Option[Double])]
    val stream = input.toDF().toDF("id", "amount")
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val schema = TableSchema(table = "sales", columns = Seq.empty,
      requiredColumns = Seq("amount"))
    val q = Streams.qualityGatedSink(stream, s"$dir/t", s"$dir/reject",
      s"$dir/ckpt", schema,
      QualityThresholds(maxNullPct = 0.25),
      Streams.trigger(1),
      onGate = (id, br) => verdicts.synchronized { verdicts += ((id, br)) }).start()
    try {
      // clean batch → target
      input.addData((1L, Some(10.0)), (2L, Some(20.0)))
      q.processAllAvailable()
      // 50% nulls > 25% threshold → whole batch diverted
      input.addData((3L, None), (4L, Some(5.0)))
      q.processAllAvailable()

      val target = spark.read.parquet(s"$dir/t")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(target == Set(1L, 2L))
      val rejected = spark.read.parquet(s"$dir/reject")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(rejected == Set(3L, 4L))
      val byVerdict = verdicts.toSeq
      assert(byVerdict.exists(_._2.isEmpty))
      assert(byVerdict.exists(_._2.exists(_.contains("null_pct(amount)"))))
    } finally q.stop()
  }

  test("C1: merge sink resumes from checkpoint exactly-once across restarts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-restart").toString
    val input = MemoryStream[Sale]
    def start() = Streams.mergeSink(input.toDF(), s"$dir/fact", s"$dir/ckpt",
      Seq("orderId"), "ts", Streams.trigger(1)).start()

    val q1 = start()
    try {
      input.addData(Sale(1, 10.0, ts("2024-01-01 10:00:00")),
        Sale(2, 20.0, ts("2024-01-01 10:00:00")))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart against the SAME checkpoint: already-committed batch 1
    // must not re-apply; only the new data lands
    input.addData(Sale(3, 30.0, ts("2024-01-01 11:00:00")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val fact = spark.read.parquet(s"$dir/fact")
        .select("orderId", "amount")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(fact == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    } finally q2.stop()
  }

  test("metrics listener counts input rows per query (E6)") {
    // own session = own StreamingQueryManager = own listener bus —
    // isolated from the parallel suites flooding the shared session's
    // bus (which drops events under load)
    val spark2 = spark.newSession()
    import spark2.implicits._
    implicit val sqlCtx = spark2.sqlContext

    val listener = new Streams.MetricsListener
    spark2.streams.addListener(listener)
    val input = MemoryStream[Sale]
    val q = input.toDF().writeStream.format("memory")
      .queryName("metrics_out").outputMode("append").start()
    try {
      input.addData(Sale(1, 1.0, ts("2024-01-01 00:00:00")),
        Sale(2, 2.0, ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      // listener events ride an async bus that DROPS events under
      // full-suite load — keep generating fresh progress events while
      // polling so at least one delivery lands (the accumulation
      // semantics under test are unchanged)
      val deadline = System.currentTimeMillis() + 30000
      var extra = 2
      while (listener.inputRows("metrics_out") < 2 &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        input.addData(Sale(extra.toLong + 1, 1.0, ts("2024-01-01 00:00:02")))
        q.processAllAvailable()
        extra += 1
      }
      assert(listener.inputRows("metrics_out") >= 2,
        s"listener=${listener.inputRows("metrics_out")} " +
          s"progressRows=${q.recentProgress.map(_.numInputRows).toSeq} " +
          s"active=${q.isActive} exception=${q.exception}")
      assert(listener.batchCount("metrics_out") >= 1)
    } finally {
      q.stop()
      spark2.streams.removeListener(listener)
    }
  }

  test("IVF ingest sink: streamed vectors join the index; search == one-shot build") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Similarity
    val dir = Files.createTempDirectory("ivfingest").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val late = emb.filter(col("vec_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val (clustered, cents) = Similarity.kmeansIndex(base, "vec_id",
      "embedding", k = 4)
    Similarity.saveIndex(clustered, cents, s"$dir/idx")

    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIngestSink(
        input.toDS().toDF("vec_id", "embedding"),
        s"$dir/idx", s"$dir/ckpt", "vec_id", "embedding",
        Streams.trigger(1),
        onLoad = r => loads.synchronized { loads += r })
      .start()
    try {
      val (a, b) = late.splitAt(late.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(loads.size == 2 && loads.forall(_.success))
    assert(loads.map(_.rowsLoaded).sum == late.length)

    val (corpus, loadedCents) = Similarity.loadIndex(spark, s"$dir/idx")
    assert(loadedCents == cents)
    assert(corpus.count() == emb.count())
    // streamed rows carry the same assignment the batch path computes
    // (assignment is a pure function of the frozen centroids), so a
    // multiprobe search over the grown index answers EXACTLY like an
    // index holding all vectors from the start
    val queries = emb.filter(col("vec_id") < 5)
    val viaIngest = Similarity.kmeansTopKMultiProbe(
        corpus.select(col("vec_id"), col("embedding"), col("cluster")),
        queries, "vec_id", "embedding", cents, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oneShot = Similarity.kmeansTopKMultiProbe(
        clustered.select(col("vec_id"), col("embedding"), col("cluster"))
          .unionByName(corpus.filter(col("batch") =!= -1L)
            .select(col("vec_id"), col("embedding"), col("cluster"))),
        queries, "vec_id", "embedding", cents, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIngest == oneShot && viaIngest.nonEmpty)

    // replaying a batch overwrites exactly its own directory: rows never
    // double-count
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/idx/corpus"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    assert(batchDirs.toSeq == Seq("batch=-1", "batch=0", "batch=1"))

    // compaction folds the batch dirs into one base; the index answers
    // identically and the swap leaves no temp debris
    val folded = Similarity.compactIndex(spark, s"$dir/idx")
    assert(folded == 3)
    val after = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/idx/corpus"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(after.toSeq == Seq("batch=-1"), after.toSeq)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/corpus.compact.tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/corpus.compact.bak")))
    val (corpus2, cents2) = Similarity.loadIndex(spark, s"$dir/idx")
    assert(cents2 == cents && corpus2.count() == emb.count())
    val viaCompacted = Similarity.kmeansTopKMultiProbe(
        corpus2.select(col("vec_id"), col("embedding"), col("cluster")),
        queries, "vec_id", "embedding", cents, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaCompacted == viaIngest)
    // a second compaction is a no-op
    assert(Similarity.compactIndex(spark, s"$dir/idx") == 0)
  }

  test("IVF ingest into a SPILL index matches the base's multiplicity") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Similarity
    val dir = Files.createTempDirectory("ivfspill").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val late = emb.filter(col("vec_id") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val (clustered, cents) = Similarity.kmeansIndex(base, "vec_id",
      "embedding", k = 4, nAssign = 2)
    Similarity.saveIndex(clustered, cents, s"$dir/idx")

    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIngestSink(
        input.toDS().toDF("vec_id", "embedding"),
        s"$dir/idx", s"$dir/ckpt", "vec_id", "embedding",
        Streams.trigger(1))
      .start()
    try {
      input.addData(late.toSeq); q.processAllAvailable()
    } finally q.stop()

    val (corpus, loadedCents) = Similarity.loadIndex(spark, s"$dir/idx")
    // ingested rows must be replicated x2 like the base — never
    // null-cells rows the dedup predicate would drop from results
    assert(corpus.count() == 2 * emb.count())
    assert(corpus.filter(col("cells").isNull).count() == 0)
    val queries = emb.filter(col("vec_id") < 5)
    val res = Similarity.kmeansTopKMultiProbe(
        corpus.select(col("vec_id"), col("embedding"), col("cluster"),
          col("cells")),
        queries, "vec_id", "embedding", loadedCents, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(res.distinct.length == res.length, "no duplicate pairs")
    // ingested (odd) ids are searchable
    assert(res.exists(_._2 % 2 == 1), "ingested vectors must be findable")
    graft.core.AtomicSwap.deleteRecursively(new java.io.File(dir))
  }

  test("IVF ingest sink: checkpoint loss fails loudly instead of overwriting batch 0") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Similarity
    val dir = Files.createTempDirectory("ivfguard").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(40).localCheckpoint()
    val (clustered, cents) = Similarity.kmeansIndex(emb, "vec_id",
      "embedding", k = 2)
    Similarity.saveIndex(clustered, cents, s"$dir/idx")
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = Streams.ivfIngestSink(
          input.toDS().toDF("vec_id", "embedding"),
          s"$dir/idx", ckpt, "vec_id", "embedding",
          Streams.trigger(1)).start()
      try {
        input.addData(rows.take(5).toSeq); q.processAllAvailable()
        input.addData(rows.slice(5, 10).toSeq); q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception.toString)
      } finally q.stop()
    }
    runOnce(s"$dir/ckpt1") // batches 0 and 1 committed
    // fresh checkpoint = ids restart at 0 while batch=1 exists → the
    // first batch must fail loudly, not silently replace batch=0
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIngestSink(
        input.toDS().toDF("vec_id", "embedding"),
        s"$dir/idx", s"$dir/ckpt2", "vec_id", "embedding",
        Streams.trigger(1)).start()
    try {
      input.addData(rows.take(3).toSeq)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(q.exception.exists(
        _.toString.contains("checkpoint was lost")), q.exception.toString)
    } finally q.stop()
  }

  test("preference-pair sink: streamed extremes fold to the batch pairing exactly") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("pref-sink").toString
    // the global best for prompt A arrives in batch 3, the global worst
    // in batch 1; B's extremes are both in batch 2; C stays a tie
    // (must produce NO pair); D appears in one batch only
    val batches = Seq(
      Seq(("A", "mediocre", 5L), ("A", "terrible", 1L), ("C", "x", 3L)),
      Seq(("B", "good", 8L), ("B", "bad", 2L), ("C", "y", 3L)),
      Seq(("A", "excellent", 9L), ("D", "lonely", 4L)))
    val input = MemoryStream[(String, String, Long)]
    val q = Streams.preferencePairSink(
        input.toDF().toDF("prompt", "response", "score"),
        s"$dir/state", s"$dir/cp", "prompt", "response", "score",
        trig = Streams.trigger(1)).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    val streamed = Streams.preferencePairsOf(spark, s"$dir/state",
        "prompt", "response", "score")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(3), r.getLong(5)))).toMap
    // batch expectation over ALL candidates through the same operator
    val all = batches.flatten.toDF("prompt", "response", "score")
    val expect = graft.text.Sft.preferencePairs(all, "prompt", "response",
        "score")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(3), r.getLong(5)))).toMap
    assert(streamed == expect, s"streamed=$streamed expect=$expect")
    assert(streamed == Map(
      "A" -> (("excellent", "terrible", 8L)),
      "B" -> (("good", "bad", 6L))))
    // state is extremes-only: at most 2 rows per (prompt, batch)
    val state = spark.read.parquet(s"$dir/state")
      .groupBy(col("prompt"), col("batch")).count()
      .collect().map(_.getLong(2))
    assert(state.forall(_ <= 2), state.toSeq)
  }

  test("multilingual curation sink: routing + per-language gates + cross-batch dedup == batch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Curation
    val samples = graft.text.LangProfile.samples.toMap
    val langs = Seq("en", "de", "ru")
    // 60 docs: lang by i%3, an 80-char sample window by i%10 — exactly
    // TWO docs share each (lang, window) text, and the pairs straddle
    // the two micro-batches (i and i+30), so the dedup state does
    // cross-batch work
    val rows = (0 until 60).map { i =>
      val lang = langs(i % 3)
      val start = i % 10
      (i.toLong, samples(lang).slice(start, start + 80))
    }
    val routes = Seq(
      Curation.LangRoute("en", Seq("and"), Seq("conscience"), minTokens = 5),
      Curation.LangRoute("de", Seq("und"), Seq("Gewissen"), minTokens = 5),
      Curation.LangRoute("ru", Seq("и"), Seq("совестью"), minTokens = 5))
    val dir = Files.createTempDirectory("ml-sink").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val input = MemoryStream[(Long, String)]
    val (stream, reads) = countingReads(input.toDF().toDF("doc_id", "text"), "doc_id")
    val q = Streams.multilingualCurationSink(stream,
        s"$dir/corpus", s"$dir/index", s"$dir/cp", "doc_id", "text",
        routes, trig = Streams.trigger(1),
        onLoad = r => results.synchronized { results += r }).start()
    try {
      input.addData(rows.take(30): _*); q.processAllAvailable()
      input.addData(rows.drop(30): _*); q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    // batch expectation from the same operators over the whole fixture
    val docs = rows.toDF("doc_id", "text")
    val detected = docs.withColumn("__lang",
      coalesce(graft.functions.NativeLang.langIdProfile(col("text"))
        .getField("predicted_lang"), lit("unknown")))
    val flags = Curation.routedCurationFlags(detected, "doc_id", "text",
      "__lang", routes)
    val gatedBatch = flags
      .filter(col("blocklist_pass") && col("quality_pass") &&
        col("route_lang") =!= "other")
      .join(docs, Seq("doc_id"))
    val expect = graft.dedup.Dedup.exactByContent(gatedBatch, "doc_id", "text")
      .select(col("doc_id"), col("route_lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val streamed = spark.read.parquet(s"$dir/corpus")
      .select(col("doc_id"), col("route_lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == expect)
    assert(streamed.nonEmpty)
    // every committed route language present; stage drops accounted
    assert(streamed.values.toSet == Set("en", "de", "ru"), streamed.values.toSet)
    val msgs = results.synchronized(results.flatMap(_.errorMessage).toVector)
    assert(msgs.exists(_.contains("dup=")), msgs)
    // the drops of each stage sum to the batch operators' stage counts
    val routedN = flags.filter(col("route_lang") =!= "other").count()
    val gatedN = gatedBatch.count()
    val drops = results.synchronized(stageDrops(results.toSeq))
    assert(drops.map(_("unrouted")).sum == 60L - routedN, drops)
    assert(drops.map(_("gated")).sum == routedN - gatedN, drops)
    assert(drops.map(_("dup")).sum == gatedN - expect.size, drops)
    // each micro-batch is read once
    assert(reads.value == 60L, s"rows read: ${reads.value}")
  }

  test("streaming flagship refuses to clobber history after checkpoint loss") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("flag-loss").toString
    // docs that survive every gate: 60 tokens incl. stopwords, end in '.'
    val mk = (i: Long) => (i, "s",
      (0 until 56).map(t => s"the of and with w${i}x$t word").take(56)
        .mkString(" ") + " tail.")
    val eval = Seq((0L, "unrelated eval text")).toDF("doc_id", "text")
    def sink(input: MemoryStream[(Long, String, String)]) =
      Streams.pretrainPipelineSink(
        input.toDF().toDF("doc_id", "source", "text"),
        s"$dir/state", s"$dir/ckpt", "doc_id", "source", "text",
        evalDocs = eval, evalTextCol = "text",
        blocklistTerms = Seq("zzz"), minTokens = 10L,
        // neutral model gate (empty weights score 0 ≥ 0) and keep-all
        // sample: the test pins the GUARD, not the gates
        modelWeights = Seq.empty, modelBias = 0L,
        sampleFraction = 1.0,
        trig = Streams.trigger(1)).start()
    val input = MemoryStream[(Long, String, String)]
    val q = sink(input)
    try {
      input.addData(mk(1)); q.processAllAvailable()
      input.addData(mk(2)); q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/ckpt"))
    val input2 = MemoryStream[(Long, String, String)]
    val q2 = sink(input2)
    try {
      input2.addData(mk(3))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("checkpoint was lost") ||
        Option(ex.getCause).exists(_.getMessage.contains("checkpoint was lost")),
        ex.getMessage)
      val corpus = spark.read.parquet(s"$dir/state/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 2L))
    } finally q2.stop()
  }

  test("streaming flagship htmlExtract: markup-only batches survive (no NPE), drops accounted") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("flag-html").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val eval = Seq((0L, "zz")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val (stream, reads) = countingReads(
      input.toDF().toDF("doc_id", "source", "text"), "doc_id")
    val q = Streams.pretrainPipelineSink(stream,
        s"$dir/state", s"$dir/cp", "doc_id", "source", "text",
        evalDocs = eval, evalTextCol = "text",
        blocklistTerms = Seq("zzz"), minTokens = 5L,
        modelWeights = Seq.empty, modelBias = 0L, sampleFraction = 1.0,
        htmlExtract = true, trig = Streams.trigger(1),
        onLoad = r => results.synchronized { results += r }).start()
    try {
      // batch 0: every page extracts to EMPTY — the all-markup batch
      // that used to NULL the gate sums; the stream must keep going
      input.addData(
        (1L, "s", "<script>var x = 1;</script><style>p{}</style>"),
        (2L, "s", "<!-- only a comment -->"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
      // batch 1: real content page passes every gate after extraction
      input.addData((3L, "s",
        "<p>the of and with one two three four five six seven eight.</p>"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    val stages = Streams.pretrainPipelineStages(spark, s"$dir/state")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(stages("total") == 3L && stages("sampled") == 1L, stages)
    // html drops surfaced distinctly from gate drops in the accounting
    val msgs = results.synchronized(results.flatMap(_.errorMessage).toVector)
    assert(msgs.exists(_.startsWith("html=2;")), msgs)
    // the markup batch drops nothing past extraction, and says so per stage
    assert(msgs == Seq("html=2;gates=0;dup=0;decon=0;sample=0"), msgs)
    // each micro-batch is read once
    assert(reads.value == 3L, s"rows read: ${reads.value}")
  }

  test("streaming flagship: per-stage drops add up to the stage table, each batch read once") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("flag-drops").toString
    // docs that pass every gate: 336 tokens incl. stopwords, end in '.'
    def text(i: Long) =
      (0 until 56).map(t => s"the of and with w${i}x$t word").mkString(" ") + " tail."
    val eval = Seq((0L, text(100))).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val (stream, reads) = countingReads(
      input.toDF().toDF("doc_id", "source", "text"), "doc_id")
    val loads = scala.collection.mutable.ArrayBuffer.empty[graft.core.LoadResult]
    val q = Streams.pretrainPipelineSink(stream,
        s"$dir/state", s"$dir/cp", "doc_id", "source", "text",
        evalDocs = eval, evalTextCol = "text",
        blocklistTerms = Seq("zzz"), minTokens = 10L,
        modelWeights = Seq.empty, modelBias = 0L,
        trig = Streams.trigger(1),
        onLoad = r => loads.synchronized { loads += r }).start()
    try {
      // batch 1: six keepers, a doc too short for the Gopher gate (7),
      // an exact copy of doc 1 (8)
      input.addData((1L to 6L).map(i => (i, "s", text(i))) ++
        Seq((7L, "s", "tiny doc."), (8L, "s", text(1))): _*)
      q.processAllAvailable()
      // batch 2: four keepers, a copy of the INDEXED doc 2 (13), and a
      // copy of the eval document (14)
      val jobs = jobsOf {
        input.addData((9L to 12L).map(i => (i, "s", text(i))) ++
          Seq((13L, "s", text(2)), (14L, "s", text(100))): _*)
        q.processAllAvailable()
      }
      assert(q.exception.isEmpty, q.exception.toString)
      // one flags scan and one survivor-count aggregate around the
      // stage operators
      assert(jobs <= PretrainSinkJobs, s"jobs per micro-batch: $jobs")
    } finally q.stop()
    val n = Streams.pretrainPipelineStages(spark, s"$dir/state")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val drops = loads.synchronized(stageDrops(loads.toSeq))
    def sum(k: String) = drops.map(_(k)).sum
    assert(n("total") == 14L, n)
    assert(sum("gates") == 1L && sum("gates") == n("total") - n("model"), (drops, n))
    assert(sum("dup") == 2L && sum("dup") == n("model") - n("near_dedup"), (drops, n))
    assert(sum("decon") == 1L &&
      sum("decon") == n("near_dedup") - n("decon_near"), (drops, n))
    assert(sum("sample") > 0L &&
      sum("sample") == n("decon_near") - n("sampled"), (drops, n))
    // each micro-batch is read once
    assert(reads.value == 14L, s"rows read: ${reads.value}")
  }

  test("streaming flagship: 3 micro-batches == batch flagship, stage- and doc-exact") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.text.{Curation, QualityClassifier, QualityModelFixture, TextFunctions}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).localCheckpoint()
    // ——— streamed: the real checkpointed sink, fixture in 3 id-ordered
    // micro-batches
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val parts = Seq(
        docs.filter(col("doc_id") <= maxId / 3),
        docs.filter(col("doc_id") > maxId / 3 && col("doc_id") <= 2 * maxId / 3),
        docs.filter(col("doc_id") > 2 * maxId / 3))
      .map(_.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq)
    assert(parts.forall(_.nonEmpty) && parts.map(_.size).sum == 500)
    val work = Files.createTempDirectory("flagship_stream").toString
    val input = MemoryStream[(Long, String, String)]
    val q = Streams.pretrainPipelineSink(
        input.toDF().toDF("doc_id", "source", "text"),
        s"$work/state", s"$work/cp", "doc_id", "source", "text",
        evalDocs = docs.filter(col("source") === "src0"), evalTextCol = "text",
        blocklistTerms = Seq("slow", "Lorem", "ipsum"),
        segment = graft.queries.segmentLines,
        trig = Streams.trigger(1)).start()
    try {
      parts.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    // ——— stage counts match the committed batch flagship exactly
    val batchStages = graft.queries.TextQueries.txPretrainPipeline(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val streamedStages = Streams.pretrainPipelineStages(spark, s"$work/state")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamedStages == batchStages,
      s"streamed=$streamedStages\nbatch=$batchStages")
    // ——— doc-level: the streamed corpus is exactly the batch
    // pipeline's sampled survivors with the batch pack assignment
    // (the chain recomposed here from the same library operators)
    val terms = Seq("slow", "Lorem", "ipsum")
    val fl = docs
      .withColumn("__s1", Curation.blocklistPassed(col("text"), terms, maxHits = 2L))
      .withColumn("__sL", col("__s1") && (TextFunctions.langId(col("text")) === "en"))
      .withColumn("__s2", col("__sL") && Curation.gopherPassed(
        Curation.gopherFeatures(col("text")), minTokens = 50, minStopWords = 1))
      .withColumn("__t2", graft.queries.segmentLines(col("text")))
      .withColumn("clean", Curation.c4CleanedText(col("__t2"), minWords = 3))
      .filter(col("__s2") && !Curation.c4DocDrop(col("__t2")) && col("clean") =!= "")
      .select(col("doc_id"), col("source"), col("clean")).localCheckpoint()
    val mk = fl.join(QualityClassifier.scoreQuantized(
        fl.select(col("doc_id"), col("clean")), "doc_id", "clean",
        QualityModelFixture.weightsQ, QualityModelFixture.biasQ,
        QualityModelFixture.buckets)
      .filter(col("clf_pass") === 1).select(col("doc_id")), Seq("doc_id"))
    val ex = graft.dedup.Dedup.exactByContent(mk, "doc_id", "clean").localCheckpoint()
    val prs = graft.dedup.Dedup.minhashNearDuplicates(ex, "doc_id", "clean")
    val nd = graft.dedup.Dedup.removeNearDuplicatesTransitive(ex, prs, "doc_id")
    val efp = docs.filter(col("source") === "src0")
      .select(TextFunctions.minShingleFingerprint(col("text"), 5).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    val dec = nd
      .withColumn("__fp", TextFunctions.minShingleFingerprint(col("clean"), 5))
      .join(broadcast(efp), Seq("__fp"), "left_anti").drop("__fp")
    val dn = graft.text.Boilerplate.ngramDecontaminate(dec, "doc_id", "clean",
      docs.filter(col("source") === "src0"), "text", 8)
    val samp = graft.operators.Sampling.deterministicSample(dn, "doc_id", 0.5)
    val packedBatch = graft.operators.Sampling.packSequences(samp, "source",
        "doc_id", TextFunctions.bpeTokenCount(col("clean")), 2048L)
      .select(col("doc_id"), col("batch_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamedCorpus = spark.read.parquet(s"$work/state/corpus")
      .select(col("doc_id"), col("pack_batch"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedCorpus == packedBatch)
    assert(streamedCorpus.nonEmpty)
  }
}
