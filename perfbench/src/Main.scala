package perfbench

import java.io.{File, PrintWriter}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark JVM. Sets up (session, seeded inputs, a warm-up of the
  * workload's path), times that one path, checks the outputs and writes one
  * JSON result file. A traced run then also runs the other path and two
  * queries once, untimed, so that it reports every per-layer metric.
  * `perfbench/run.py` builds and launches it. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
      out: String, spec: String, cores: Int, launchedMs: Long, selfTest: Boolean)

  val Workloads = Seq("retail_elt", "cdc_stream")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), need("spec"), need("cores").toInt, need("launched-ms").toLong,
      need("self-test") == "1")
  }

  def session(o: Opts): SparkSession =
    SparkSession.builder().master(s"local[${o.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toLong)
      .config("spark.default.parallelism", o.cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.work}/rdd-checkpoint")
    val out =
      try if (o.selfTest) SelfTest.run(spark, o) else Bench.run(spark, o)
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map[String, Any]("correct" -> false, "attempted" -> 1, "failed" -> 1,
            "metrics" -> Map.empty, "errors" -> Seq(s"benchmark crashed: $e"))
      }
    val w = new PrintWriter(o.out, "UTF-8")
    try w.println(Json(out)) finally w.close()
    spark.stop()
  }
}

/** One benchmark run: setup, timed phase, checks, metrics. */
object Bench {
  import Main.Opts

  private val started = System.nanoTime()
  /** Progress line on stderr (the run's log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  /** Sizes. The ELT warm-up is one full load and one delta at `SmallElt`,
    * so that the timed deltas find the delta MERGE path warm. A traced run
    * also runs the other path and a few queries once at the small sizes, so
    * it reports every layer. */
  val TimedElt = Elt.Size(sf = 0.01, deltas = 3)
  val SmallElt = Elt.Size(sf = 0.001, deltas = 1)
  def timedCdc(seconds: Int) = Cdc.Size(sf = 0.01, steadyS = seconds, rate = 250, tickMs = 100,
    backlogFiles = 16, backlogRows = 500, maxFilesPerTrigger = 8)
  val CanaryCdc = Cdc.Size(sf = 0.001, steadyS = 1, rate = 250, tickMs = 100, backlogFiles = 2,
    backlogRows = 200, maxFilesPerTrigger = 2)
  val SmallSf = 0.001

  /** What one path run produced. */
  final case class Runs(elt: Option[Elt.Result] = None, cdc: Option[Cdc.Result] = None,
      mix: Option[Mix.Result] = None, eltP: Option[Elt.Prepared] = None,
      cdcP: Option[Cdc.Prepared] = None) {
    def ++(o: Runs): Runs = Runs(elt.orElse(o.elt), cdc.orElse(o.cdc), mix.orElse(o.mix),
      eltP.orElse(o.eltP), cdcP.orElse(o.cdcP))
    def attempted: Int = elt.map(r => r.runs + r.tasks).getOrElse(0) +
      cdc.map(r => r.batches + r.failedBatches).getOrElse(0) + mix.map(_.attempted).getOrElse(0)
    def failed: Int = elt.map(r => r.failedRuns + r.failedTasks).getOrElse(0) +
      cdc.map(_.failedBatches).getOrElse(0) + mix.map(_.failed).getOrElse(0)
    def errors: Seq[String] = elt.toSeq.flatMap(_.errors) ++ cdc.toSeq.flatMap(_.errors) ++
      mix.toSeq.flatMap(_.errors)
  }

  def run(spark: SparkSession, o: Opts): Map[String, Any] = {
    require(Main.Workloads.contains(o.workload), s"unknown workload '${o.workload}'")
    val probe = new Probe(spark, o.trace)
    val spec = scala.io.Source.fromFile(o.spec, "UTF-8").mkString
    val w = o.work
    val errors = mutable.ArrayBuffer.empty[String]
    var setupS = Double.NaN
    var t0 = 0L
    // set-up ends and the measured phase begins
    def measure(): Unit = {
      setupS = (System.currentTimeMillis() - o.launchedMs) / 1e3
      note(f"set up: $setupS%.2f s")
      probe.timed(true)
      t0 = System.nanoTime()
    }

    val runs = o.workload match {
      case "retail_elt" =>
        // set-up: inputs, then the warm-up: a full load and a delta of the
        // same pipeline on sf0.001, so that the timed runs find the JVM warm
        val p = Elt.prepare(spark, o.seed, TimedElt, s"$w/elt")
        val wp = Elt.prepare(spark, o.seed, SmallElt, s"$w/elt-warm")
        note("inputs ready")
        val warm = Elt.run(spark, new Probe(spark, traced = false), wp, spec, Elt.batches(SmallElt))
        errors ++= warm.errors.map("warm-up: " + _)
        measure()
        Runs(elt = Some(probe.span("phase", o.workload)(
          Elt.run(spark, probe, p, spec, Elt.batches(TimedElt)))), eltP = Some(p))
      case _ =>
        // set-up: inputs, then the stream's first seconds (not measured)
        val p = Cdc.prepare(spark, o.seed, timedCdc(o.seconds), s"$w/cdc")
        Runs(cdc = Some(probe.span("phase", o.workload)(Cdc.run(spark, probe, p, measure _))),
          cdcP = Some(p))
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    probe.timed(false)
    val heapMb = probe.heapAfterGcMb()
    note(f"timed: $timedS%.2f s")
    errors ++= runs.errors ++ checks(spark, runs)
    runs.cdc.foreach { c =>
      if (c.genLateMaxS > 0.5)
        errors += f"generator ran ${c.genLateMaxS}%.3f s late: the open loop is invalid"
    }

    val (ops, bulk) = (runs.elt, runs.cdc) match {
      case (Some(e), _) => (e.deltaS, pct(e.fullLoadS, 50))
      case (_, Some(c)) => (c.latencies, c.drainS)
      case _ => (Nil, Double.NaN)
    }
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "heap_after_gc_mb" -> (heapMb, "MB"),
      "latency_p50_s" -> (pct(ops, 50), "s"),
      "latency_p90_s" -> (pct(ops, 90), "s"),
      "bulk_s" -> (bulk, "s"))
    // the same figures under the path's own names
    val named: Map[String, Double] = (runs.elt.toSeq.flatMap(e => Seq(
        "elt_full_load_s" -> pct(e.fullLoadS, 50), "elt_delta_p50_s" -> pct(e.deltaS, 50))) ++
      runs.cdc.toSeq.flatMap(c => Seq("stream_latency_p50_s" -> pct(c.latencies, 50),
        "stream_latency_p90_s" -> pct(c.latencies, 90),
        "stream_backfill_rows_per_s" -> c.backfillRowsPerS))).toMap

    // ---- traced run: the other path and a few queries once, untimed ----
    val small = s"$w/tables-sf$SmallSf"
    val oracleDir = s"$w/oracle-out"
    val layers = if (!o.trace) Map.empty[String, (Double, String)] else {
      probe.canary(true)
      val others = probe.span("phase.canary", o.workload) {
        (if (runs.elt.isEmpty) {
          val p = Elt.prepare(spark, o.seed, SmallElt, s"$w/elt-canary")
          Runs(elt = Some(Elt.run(spark, probe, p, spec, Elt.batches(SmallElt))), eltP = Some(p))
        } else Runs()) ++ (if (runs.cdc.isEmpty) {
          val p = Cdc.prepare(spark, o.seed, CanaryCdc, s"$w/cdc-canary")
          Runs(cdc = Some(Cdc.run(spark, probe, p)), cdcP = Some(p))
        } else Runs()) ++ {
          Gen.writeQueryTables(spark, o.seed, SmallSf, small)
          val m = Mix.run(spark, probe, small, Mix.Canary, SparkEntry.queries, Some(oracleDir))
          val ow = new PrintWriter(s"$oracleDir/oracle_sql.json", "UTF-8")
          try ow.println(Json(Mix.Canary.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
            .toMap)) finally ow.close()
          Runs(mix = Some(m))
        }
      }
      probe.canary(false)
      errors ++= (others.errors ++ checks(spark, others)).map("canary: " + _)
      note("canaries done")
      Layers(probe, o, runs ++ others, timedS)
    }
    if (o.trace) writeTrace(probe, s"${o.out}.trace.json")
    Map(
      "correct" -> errors.isEmpty,
      "attempted" -> runs.attempted,
      "failed" -> runs.failed,
      "metrics" -> (if (o.trace) layers else e2e).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "end_to_end" -> (e2e.map { case (k, (v, _)) => k -> v } ++ named),
      "counts" -> (Map[String, Any]("operations" -> ops.size) ++ runs.elt.map(e => Map(
          "full_loads" -> e.fullLoadS.size, "deltas" -> e.deltaS.size,
          "pipeline_runs_failed" -> e.failedRuns, "pipeline_tasks" -> e.tasks,
          "pipeline_tasks_failed" -> e.failedTasks))
        .getOrElse(Map.empty) ++ runs.cdc.map(c => Map(
          "micro_batches" -> c.batches, "micro_batches_failed" -> c.failedBatches,
          "batches_beyond_p90" -> c.batchesBeyondP90)).getOrElse(Map.empty)),
      "timed_s" -> timedS,
      "oracle" -> (if (o.trace) Map("tables" -> small, "results" -> oracleDir) else Map.empty),
      "env" -> Map("jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "cores" -> o.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "errors" -> errors.toSeq)
  }

  /** Output checks of whatever paths ran. */
  private def checks(spark: SparkSession, r: Runs): Seq[String] =
    r.eltP.toSeq.flatMap(Elt.check(spark, _)) ++
      r.cdcP.toSeq.flatMap(Cdc.check(spark, _))

  private def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.pct(xs, p)

  private def writeTrace(probe: Probe, path: String): Unit = {
    val spans = probe.allSpans
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val w = new PrintWriter(path, "UTF-8")
    try w.println(Json(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9)),
      "self_time" -> probe.selfTimes.toSeq.sortBy(_._1).map { case (n, (c, tot, self)) =>
        Map("name" -> n, "count" -> c, "total_s" -> tot, "self_s" -> self) })))
    finally w.close()
  }
}

/** The per-layer metrics of a traced run. */
object Layers {
  /** Span names whose self time is reported, in report order. */
  val SpanNames = Seq("elt.run", "elt.ingest", "elt.transform", "elt.merge", "elt.validate",
    "stream.batch", "stream.latestOffset", "stream.getBatch", "stream.queryPlanning",
    "stream.addBatch", "stream.merge", "stream.walCommit", "stream.commitOffsets", "mix.query",
    "mix.build", "mix.exec")

  def apply(probe: Probe, o: Main.Opts, runs: Bench.Runs, timedS: Double)
      : Map[String, (Double, String)] = {
    val (elt, cdc, mix) = (runs.elt.get, runs.cdc.get, runs.mix.get)
    val (ep, cp) = (runs.eltP.get, runs.cdcP.get)
    val MB = 1048576.0
    val t = probe.total
    val streamScope = probe.scope("stream")
    // streaming phases become spans under a per-batch span
    val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    for (p <- cdc.progress if p.durationMs.containsKey("triggerExecution")) {
      val start = nowNs - (nowMs - java.time.Instant.parse(p.timestamp).toEpochMilli) * 1000000L
      val d = (k: String) => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) * 1000000L
      val b = probe.addSpan("stream.batch", start, start + d("triggerExecution"), -1,
        s"batch${p.batchId}")
      var at = start
      for (ph <- phases) {
        val id = probe.addSpan(s"stream.$ph", at, at + d(ph), b, s"batch${p.batchId}")
        if (ph == "addBatch") cdc.loads.lift(p.batchId.toInt).foreach { case (end, _, s) =>
          probe.addSpan("stream.merge", end - (s * 1e9).toLong, end, id, s"batch${p.batchId}")
        }
        at += d(ph)
      }
    }
    val steady = cdc.progress.filter(p => p.runId.toString == cdc.steadyRunId && p.numInputRows > 0)
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*) =
      ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    val states = cdc.progress.flatMap(_.stateOperators.headOption)
    val inputRows = cdc.progress.map(_.numInputRows).sum.toDouble
    val jobsPerBatch = steady.map(p => Option(probe.streamJobsPerBatch.get(p.batchId))
      .map(_.get.toDouble).getOrElse(0.0))
    val mergeRows = elt.merges.rowsWritten + streamScope.outRecords.get
    val deltaRows = elt.merges.deltaRows + cdc.mergeDeltaRows
    val self = probe.selfTimes
    val base = Map[String, (Double, String)](
      "queries.build_s" -> (mix.buildS, "s"),
      "queries.build_jobs" -> (probe.scope("mix.build").jobs.get.toDouble, "count"),
      "queries.exec_s" -> (mix.execS, "s"),
      "queries.exec_jobs" -> (probe.scope("mix.exec").jobs.get.toDouble, "count"),
      "spark.plan_s" -> (probe.planMs.sum / 1e3, "s"),
      "pipeline.ingest_s" -> (elt.ingestS, "s"),
      "pipeline.transform_s" -> (elt.transformS, "s"),
      "pipeline.validate_s" -> (elt.validateS, "s"),
      "pipeline.control_s" -> (elt.controlS, "s"),
      "merge.s" -> (elt.merges.seconds + cdc.mergeS, "s"),
      "merge.rows_written" -> (mergeRows.toDouble, "count"),
      "merge.write_amplification" -> (if (deltaRows > 0) mergeRows.toDouble / deltaRows else 0.0,
        "ratio"),
      "merge.partitions_rewritten" -> ((elt.merges.partitions + cdc.partitionsRewritten).toDouble,
        "count"),
      "merge.files_written" -> ((elt.merges.files + cdc.filesWritten).toDouble, "count"),
      "streaming.jobs_per_batch" -> (medOf(jobsPerBatch), "count"),
      "streaming.sink_s" -> (medOf(steady.map(dur(_, "addBatch"))), "s"),
      "streaming.source_s" -> (medOf(steady.map(dur(_, "latestOffset", "getBatch"))), "s"),
      "streaming.commit_s" -> (medOf(steady.map(dur(_, "walCommit", "commitOffsets"))), "s"),
      "streaming.rows_per_batch" -> (medOf(steady.map(_.numInputRows.toDouble)), "count"),
      "streaming.state_rows" -> ((states.map(_.numRowsTotal) :+ 0L).max.toDouble, "count"),
      "streaming.state_mb" -> ((states.map(_.memoryUsedBytes) :+ 0L).max / MB, "MB"),
      "streaming.state_commit_s" -> (medOf(steady.flatMap(_.stateOperators.headOption)
        .map(_.commitTimeMs / 1e3)), "s"),
      "streaming.dup_drop_ratio" -> (if (inputRows > 0) 1 - cdc.mergeDeltaRows / inputRows
        else 0.0, "ratio"),
      "streaming.input_lag_p90_s" -> (cdc.inputLagP90S, "s"),
      "streaming.gen_late_max_s" -> (cdc.genLateMaxS, "s"),
      "spark.jobs" -> (t.jobs.get.toDouble, "count"),
      "spark.tasks" -> (t.tasks.get.toDouble, "count"),
      "spark.task_s" -> (t.runMs.get / 1e3, "s"),
      "spark.task_cpu_s" -> (t.cpuNs.get / 1e9, "s"),
      "spark.gc_s" -> (probe.gcMs / 1e3, "s"),
      "spark.input_mb" -> (t.inBytes.get / MB, "MB"),
      "spark.output_mb" -> (t.outBytes.get / MB, "MB"),
      "spark.shuffle_write_mb" -> (t.shuffleW.get / MB, "MB"),
      "spark.spill_mb" -> (t.spill.get / MB, "MB"),
      "spark.utilisation" -> (t.runMs.get / 1e3 / (timedS * o.cores), "ratio"),
      "storage.table_mb" -> ((Files.size(new File(s"${ep.root}/warehouse")) +
        Files.size(new File(s"${cp.root}/table"))) / MB, "MB"),
      "storage.checkpoint_mb" -> (Files.size(new File(s"${cp.root}/checkpoint")) / MB, "MB"))
    base ++ SpanNames.map(n => s"self.$n" -> (self.get(n).map(_._3).getOrElse(0.0), "s"))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** The benchmark's own check of its failure accounting: an injected
  * failing query and an injected failing pipeline task must each count
  * as failed, and neither may leave a timing sample. */
object SelfTest {
  def run(spark: SparkSession, o: Main.Opts): Map[String, Any] = {
    val probe = new Probe(spark, traced = false)
    val dir = s"${o.work}/self-test/tables"
    Gen.writeQueryTables(spark, o.seed, Bench.SmallSf, dir)
    val failing: Mix.Fn = (_, _) => throw new IllegalStateException("injected query failure")
    val mix = Mix.run(spark, probe, dir, Seq(Mix.Canary.head, "injected_failure") ++
      Mix.Canary.tail, SparkEntry.queries + ("injected_failure" -> failing))
    val spec = scala.io.Source.fromFile(o.spec, "UTF-8").mkString
    val size = Elt.Size(Bench.SmallSf, 3)
    val ep = Elt.prepare(spark, o.seed, size, s"${o.work}/self-test/elt")
    val elt = Elt.run(spark, probe, ep, spec, Elt.batches(size),
      failTask = Some(("fact_orders", "d2")))
    val checks = Seq(
      "failing query counted as failed" -> (mix.failed == 1),
      "failing query left no timing" -> (mix.times.size == Mix.Canary.size),
      "failing task's delta counted as failed" -> (elt.failedRuns == 1),
      "failing task counted as failed" -> (elt.failedTasks == 2), // the task and its validate
      "failing delta left no latency sample" -> (elt.deltaS.size == 2 && elt.fullLoadS.size == 1))
    checks.foreach { case (what, ok) => println(s"self-test: ${if (ok) "ok  " else "FAIL"} $what") }
    Map("correct" -> checks.forall(_._2), "attempted" -> (mix.attempted + elt.runs + elt.tasks),
      "failed" -> (mix.failed + elt.failedRuns + elt.failedTasks), "metrics" -> Map.empty,
      "errors" -> checks.filterNot(_._2).map(_._1))
  }
}
