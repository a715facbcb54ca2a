package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files => NioFiles, Paths, StandardCopyOption}

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

/** The CDC path, open loop: one generator thread drops a JSON file of
  * order-change events into a watched directory every tick, at a fixed
  * offered rate, whether or not the stream keeps up. The stream is
  * file source → `Streams.dedupExactRedeliveries` →
  * `Streams.partitionedMergeSink` into a fact table partitioned by order
  * month. A backfill phase then drains a pre-staged backlog with a fixed
  * `maxFilesPerTrigger`. */
object Cdc {

  /** `rate` events per second in files of `rate * tickMs / 1000` events,
    * measured for `steadyS` seconds; the backlog is `backlogFiles` files
    * of `backlogRows` events. */
  final case class Size(sf: Double, steadyS: Double, rate: Int, tickMs: Int, backlogFiles: Int,
      backlogRows: Int, maxFilesPerTrigger: Int)

  /** Micro-batches published before the measured phase starts: the cold
    * first batch and the catch-up on the files that queued behind it. */
  val WarmBatches = 6

  val ZipfS = 1.1 // key skew over the orders of the newest three months
  val DupShare = 0.05 // exact re-deliveries
  val LateShare = 0.05 // older versions delivered out of order, 5-30 s behind
  val Window = "5 minutes" // dedup window; every late event stays inside it

  final case class Event(key: Long, version: Long, tsMs: Long, status: String, total: Double,
      month: Int, createdMs: Long) {
    def json: String =
      s"""{"o_orderkey":$key,"version":$version,"ts_ms":$tsMs,"o_orderstatus":"$status",""" +
        s""""o_totalprice":$total,"o_month":$month,"created_ms":$createdMs}"""
    def row: Row = Row(key, version, Gen.ts(tsMs), status, total, month, createdMs)
  }

  val FileSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("version", LongType),
    StructField("ts_ms", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_month", IntegerType),
    StructField("created_ms", LongType)))
  val TableSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("version", LongType),
    StructField("ts", TimestampType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_month", IntegerType),
    StructField("created_ms", LongType)))

  /** Seeded event source. Keeps every key's newest version, which is the
    * table the stream must converge to. */
  final class EventGen(seed: Long, orders: Vector[Gen.Order]) {
    private val r = Gen.rng(seed, 200)
    private val month =
      orders.map(o => o.key -> (o.date.getYear * 100 + o.date.getMonthValue)).toMap
    val latest: mutable.Map[Long, Event] = mutable.Map.empty
    orders.foreach(o => latest(o.key) = Event(o.key, 0L, 0L, o.status, o.total, month(o.key), 0L))
    private val hot: Vector[Long] = {
      val newest = orders.filter(!_.date.isBefore(Gen.Recent)).map(_.key).toArray
      for (i <- newest.indices.reverse) { // seeded shuffle: hotness is not recency order
        val j = r.nextInt(i + 1); val t = newest(i); newest(i) = newest(j); newest(j) = t
      }
      newest.toVector
    }
    private val cdf: Array[Double] = {
      val w = hot.indices.map(i => 1.0 / math.pow(i + 1, ZipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val recent = mutable.ArrayBuffer.empty[Event]

    def zipfKey(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      hot(math.min(if (i >= 0) i else -i - 1, hot.size - 1))
    }

    private def record(e: Event): Event = {
      if (e.version > latest(e.key).version) latest(e.key) = e
      recent += e
      if (recent.size > 256) recent.remove(0)
      e
    }

    /** Next event and whether it is an exact re-delivery. */
    def next(tsMs: Long, createdMs: Long, uniformKeys: Boolean = false): (Event, Boolean) = {
      val u = r.nextDouble()
      if (u < DupShare && recent.nonEmpty) (recent(r.nextInt(recent.size)), true)
      else {
        val key = if (uniformKeys) orders(r.nextInt(orders.size)).key else zipfKey()
        val cur = latest(key).version
        val e =
          if (u < DupShare + LateShare && cur >= 2)
            Event(key, cur - 1, tsMs - 5000 - r.nextInt(25000), Gen.Statuses(r.nextInt(3)),
              Gen.money(r, 1000, 500000), month(key), createdMs)
          else
            Event(key, cur + 2, tsMs, Gen.Statuses(r.nextInt(3)), Gen.money(r, 1000, 500000),
              month(key), createdMs)
        (record(e), false)
      }
    }

    def expected(spark: SparkSession): DataFrame =
      Gen.frame(spark, TableSchema, latest.values.map(_.row))
  }

  final case class Prepared(root: String, size: Size, gen: EventGen, backlogRows: Long)

  /** Base table (every order at version 0) and the backlog files. */
  def prepare(spark: SparkSession, seed: Long, size: Size, root: String): Prepared = {
    val orders = Gen.retail(seed, size.sf, Gen.PipelineFrom).orders
    val gen = new EventGen(seed, orders)
    Gen.frame(spark, TableSchema, gen.latest.values.toSeq.sortBy(_.key).map(_.row))
      .write.partitionBy("o_month").parquet(s"$root/table")
    new File(s"$root/in").mkdirs()
    new File(s"$root/backlog").mkdirs()
    val now = System.currentTimeMillis()
    var rows = 0L
    for (i <- 0 until size.backlogFiles) {
      val lines = Seq.fill(size.backlogRows)(gen.next(now, now, uniformKeys = true)._1.json)
      writeFile(new File(s"$root/backlog/b$i.json"), lines)
      rows += lines.size
    }
    Prepared(root, size, gen, rows)
  }

  private def writeFile(f: File, lines: Seq[String]): Unit = {
    val tmp = new File(f.getParentFile, "." + f.getName + ".tmp") // hidden from the file source
    val w = new PrintWriter(tmp, "UTF-8")
    try lines.foreach(w.println) finally w.close()
    NioFiles.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One generator tick: due time (nanos), when its file became visible,
    * and its events with their duplicate flags. */
  final case class Tick(file: String, dueNs: Long, visibleNs: Long, events: Seq[(Event, Boolean)],
      measured: Boolean)

  final case class Result(latencies: Seq[Double], batchesBeyondP90: Int, drainS: Double,
      backfillRowsPerS: Double,
      batches: Int, failedBatches: Int, genLateMaxS: Double, inputLagP90S: Double,
      progress: Seq[StreamingQueryProgress], steadyRunId: String,
      loads: Seq[(Long, Long, Double)], mergeS: Double,
      mergeDeltaRows: Long, filesWritten: Long, partitionsRewritten: Long, errors: Seq[String])

  private def stream(spark: SparkSession, root: String, maxFiles: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(FileSchema)
    val raw = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .json(s"$root/in")
    Streams.dedupExactRedeliveries(
      raw.select(col("o_orderkey"), col("version"), timestamp_millis(col("ts_ms")).as("ts"),
        col("o_orderstatus"), col("o_totalprice"), col("o_month"), col("created_ms")),
      "ts", Seq("o_orderkey", "version"), Window)
  }

  /** Stream the warm-up and steady phases, then drain the backlog.
    * `measure` is called when the measured steady phase begins. */
  def run(spark: SparkSession, probe: Probe, p: Prepared,
      measure: () => Unit = () => ()): Result = {
    val root = p.root
    val size = p.size
    val ckpt = s"$root/checkpoint"
    val errors = mutable.ArrayBuffer.empty[String]
    // (publish time, rows, merge seconds) of successive foreachBatch calls:
    // batch ids run 0, 1, ...
    val loads = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var filesWritten, partitionsRewritten = 0L
    // the table's parquet files after the last merge: micro-batches merge
    // one at a time, so the next merge wrote exactly the files not in it
    val table = new File(s"$root/table")
    var files = if (probe.traced) Files.parquet(table) else Set.empty[(String, Long)]
    def onLoad(r: graft.core.LoadResult): Unit = {
      val now = System.nanoTime()
      if (probe.traced) {
        val (n, parts) = Files.written(table, files)
        filesWritten += n
        partitionsRewritten += parts
        files = Files.parquet(table)
      }
      loads.synchronized(loads += ((now, r.rowsLoaded, r.durationSeconds)))
    }
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (probe.traced) spark.streams.addListener(listener)
    def sink(maxFiles: Option[Int], trig: Trigger) =
      Streams.partitionedMergeSink(stream(spark, root, maxFiles), s"$root/table", ckpt,
        Seq("o_orderkey"), "version", "o_month", trig, onLoad).start()

    // ---- warm-up and steady phase: open-loop generator ----
    // The generator ticks until `stopTick`. The measured phase starts at
    // the first tick after the stream has published `WarmBatches` batches
    // (its cold first batches belong to set-up) and lasts `steadyS`.
    val perTick = math.max(1, size.rate * size.tickMs / 1000)
    val tickNs = size.tickMs * 1000000L
    @volatile var firstMeasured = Int.MaxValue
    @volatile var stopTick = Int.MaxValue
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val q = sink(None, Trigger.ProcessingTime(0L))
    val startNs = System.nanoTime() + 200000000L
    val startMs = System.currentTimeMillis() + 200
    val genThread = new Thread(() => {
      var i = 0
      while (i < stopTick) {
        val dueNs = startNs + i * tickNs
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val dueMs = startMs + i.toLong * size.tickMs
        val evs = Seq.fill(perTick)(p.gen.next(dueMs, dueMs))
        val name = f"t$i%06d.json"
        writeFile(new File(s"$root/in/$name"), evs.map(_._1.json))
        ticks.synchronized(ticks += Tick(name, dueNs, System.nanoTime(), evs, i >= firstMeasured))
        i += 1
      }
    }, "cdc-generator")
    genThread.start()
    while (loads.synchronized(loads.size) < WarmBatches && q.exception.isEmpty) Thread.sleep(5)
    val first = ((System.nanoTime() - startNs) / tickNs + 1).toInt
    firstMeasured = first
    stopTick = first + math.max(1, (size.steadyS * 1000 / size.tickMs).toInt)
    while (System.nanoTime() < startNs + first * tickNs) Thread.sleep(1)
    measure()
    genThread.join()
    var failed = 0
    try q.processAllAvailable() catch {
      case NonFatal(e) => failed += 1; errors += s"steady stream: $e"
    }
    q.stop()
    val steadyBatches = committed(ckpt)
    loads.synchronized(while (loads.size > steadyBatches) loads.remove(loads.size - 1))

    // ---- backfill: drain the pre-staged backlog ----
    for (f <- Option(new File(s"$root/backlog").listFiles()).toSeq.flatten.sortBy(_.getName))
      NioFiles.move(f.toPath, Paths.get(s"$root/in/${f.getName}"))
    val b0 = System.nanoTime()
    val q2 = sink(Some(size.maxFilesPerTrigger), Trigger.AvailableNow())
    try q2.awaitTermination() catch {
      case NonFatal(e) => failed += 1; errors += s"backfill stream: $e"
    }
    val drainS = (System.nanoTime() - b0) / 1e9
    probe.drain()
    if (probe.traced) spark.streams.removeListener(listener)

    // ---- per-event latency: file -> batch (checkpoint logs) -> publish time ----
    val fileLog = sourceLog(ckpt)
    val ends = batchEnds(ckpt)
    val batches = committed(ckpt)
    if (loads.size != batches)
      errors += s"foreachBatch calls ${loads.size} != committed batches $batches"
    def batchOf(file: String): Option[Int] =
      fileLog.get(file).flatMap(l => ends.collectFirst { case (b, end) if end >= l => b })
    val samples = for {
      t <- ticks.toSeq if t.measured
      b <- batchOf(t.file).toSeq if b < loads.size
      (_, dup) <- t.events if !dup
    } yield ((loads(b)._1 - t.dueNs) / 1e9, b)
    if (samples.isEmpty) errors += "no latency samples"
    val lat = samples.map(_._1)
    val p90 = if (lat.isEmpty) 0.0 else Stats.pct(lat, 90)
    val beyond = samples.filter(_._1 > p90).map(_._2).distinct.size
    // input lag: file visible -> start of the trigger that read it
    val startsNs = progress.synchronized(progress.toList).map { pr =>
      val agoMs = System.currentTimeMillis() - java.time.Instant.parse(pr.timestamp).toEpochMilli
      pr.batchId -> (System.nanoTime() - agoMs * 1000000L)
    }.toMap
    val lags = for {
      t <- ticks.toSeq if t.measured
      b <- batchOf(t.file).toSeq; s <- startsNs.get(b.toLong).toSeq
    } yield math.max(0.0, (s - t.visibleNs) / 1e9)
    val genLate = ticks.map(t => (t.visibleNs - t.dueNs) / 1e9).max
    Bench.note("cdc batches (publish s, rows, merge s): " + loads.map { case (at, n, m) =>
      f"${(at - startNs) / 1e9}%.2f/$n/$m%.2f" }.mkString(" ") + f"; drain $drainS%.2f s")
    val (mergeS, mergeRows) = loads.synchronized((loads.map(_._3).sum, loads.map(_._2).sum))
    Result(lat, beyond, drainS, p.backlogRows / drainS, batches, failed, genLate,
      if (lags.isEmpty) 0.0 else Stats.pct(lags, 90), progress.synchronized(progress.toList),
      q.runId.toString, loads.synchronized(loads.toList), mergeS, mergeRows, filesWritten,
      partitionsRewritten, errors.toSeq)
  }

  // ---- checkpoint logs (Structured Streaming's on-disk format) ----

  private def lines(f: File): Seq[String] = {
    val s = Source.fromFile(f, "UTF-8")
    try s.getLines().toList finally s.close()
  }

  private def numbered(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.matches("""\d+(\.compact)?"""))

  /** Committed batch count. */
  private def committed(ckpt: String): Int = numbered(new File(s"$ckpt/commits")).size

  /** File name -> file-source log offset, from the source's metadata log. */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    numbered(new File(s"$ckpt/sources/0")).flatMap(lines).collect {
      case Entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong
    }.toMap
  }

  /** (batch id, last source log offset it covered), in batch order. */
  private def batchEnds(ckpt: String): Seq[(Int, Long)] = {
    val Off = """.*"logOffset":(\d+).*""".r
    numbered(new File(s"$ckpt/offsets")).map(f => f.getName.toInt -> f).sortBy(_._1)
      .map { case (b, f) => b -> lines(f).collectFirst { case Off(n) => n.toLong }.getOrElse(-1L) }
  }

  /** The table must equal the newest version of every key over the base
    * rows and every distinct event generated. */
  def check(spark: SparkSession, p: Prepared): Seq[String] =
    Fingerprint.compare("cdc table", spark.read.parquet(s"${p.root}/table"), p.gen.expected(spark))
}
