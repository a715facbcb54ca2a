package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Driver-side pipeline execution (SURVEY §2.8 O1–O3, §3.1 steps 2–5).
  *
  * The reference runs ingest → transform → validate as Airflow tasks with
  * XCom/subprocess/warehouse hops between them
  * (`dag_generator.py:290-349`, `operators.py:36-333`). Here each hop
  * collapses into a registered temp view: tasks exchange DataFrames by
  * name, lazily — Spark fuses whole chains into single jobs where
  * possible, and the only remaining process boundary is driver →
  * executors.
  *
  * Registries (no reflection — SURVEY §2.4 V6 note):
  *  - `sources`:   source_id → DataFrame provider (ingestion result)
  *  - `models`:    model_name → resolved-deps ⇒ DataFrame transformation
  */
object PipelineRunner {
  /** Ingestion providers straight from the spec's source declarations
    * (`source_type` + `connection_params`) via the pluggable
    * [[graft.sources.SourceFactory]] — the fully config-driven path the
    * reference's factory serves (`data_sources.py:489-517`). Models
    * stay code (they ARE the transformations); sources are config. */
  def sourcesFromSpec(spec: PipelineSpec): Map[String, SparkSession => DataFrame] =
    spec.sources.map(s => s.sourceId ->
      ((spark: SparkSession) =>
        graft.sources.SourceFactory.create(s.sourceType, spark,
          s.connectionParams))).toMap
}

class PipelineRunner(
    spark: SparkSession,
    sources: Map[String, SparkSession => DataFrame],
    models: Map[String, Map[String, DataFrame] => DataFrame],
    asOf: java.sql.Timestamp) {

  // concurrent: independent tasks may build in parallel
  private val built = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** One run's check aggregates, table → field → value ([[checkStats]]). */
  private type Stats = scala.collection.concurrent.TrieMap[String, Map[String, Any]]

  /** O13 structured logging: every task emits one JSON line with the
    * pipeline context (reference `logging.py:50-95`). `var` so tests
    * (or hosts) can inject a sink. */
  private[pipeline] var log = new PipelineLogger("graft.pipeline.runner")

  /** Alert delivery callback (reference `sample_pipeline.yaml:146-148`
    * channel routing): invoked once per fired [[Alert]] with the spec's
    * channels. Default delivery is the severity-routed structured log —
    * actual email/Slack transport is host infrastructure, injected here.
    * `var` for the same injection contract as `log`/`sleeper`. */
  var alertSink: (Alert, Seq[AlertChannel]) => Unit = (a, chs) => {
    val extras = Seq("alert" -> a.rule, "severity" -> a.severity,
      "task_id" -> a.taskId,
      "channels" -> chs.map(c => s"${c.kind}:${c.target}").mkString(","))
    // case-insensitive: severity strings come from user YAML unvalidated
    // ("Critical"/"CRITICAL" must not silently downgrade to warn)
    if (a.severity.equalsIgnoreCase("critical")) log.error(a.message, extras: _*)
    else log.warn(a.message, extras: _*)
  }

  /** Per-task execution history ring across run() calls (reference
    * `task_manager.py:330-345`), capped at [[maxExecutionHistory]]
    * entries per task like the reference's `max_execution_history`.
    * Driver-side control plane: one small record per task execution. */
  var maxExecutionHistory: Int = 100
  private val history =
    scala.collection.mutable.Map.empty[String, Vector[TaskResult]]

  private def record(r: TaskResult): Unit = history.synchronized {
    val cur = history.getOrElse(r.taskId, Vector.empty)
    history(r.taskId) = (cur :+ r).takeRight(maxExecutionHistory)
  }

  /** Most recent executions of `taskId`, oldest first
    * (`task_manager.py:347-354`). */
  def executionHistory(taskId: String, limit: Int = Int.MaxValue): Seq[TaskResult] =
    history.synchronized {
      history.getOrElse(taskId, Vector.empty).takeRight(limit)
    }

  /** Aggregate execution statistics for one task
    * (`task_manager.py:356-388`). */
  def taskStatistics(taskId: String): TaskStats = history.synchronized {
    val h = history.getOrElse(taskId, Vector.empty)
    val ok = h.count(_.status == TaskStatus.Success)
    TaskStats(
      taskId = taskId,
      totalExecutions = h.size,
      successfulExecutions = ok,
      successRate = if (h.isEmpty) 0.0 else ok.toDouble / h.size * 100.0,
      avgDurationSeconds =
        if (h.isEmpty) 0.0 else h.map(_.durationSeconds).sum / h.size,
      lastStatus = h.lastOption.map(_.status))
  }

  /** One [[TaskStats]] row per task ever executed by this runner. */
  def statsReport: Seq[TaskStats] =
    history.synchronized(history.keys.toSeq.sorted).map(taskStatistics)

  /** Execute every task of the spec with trigger-rule gating; returns
    * per-task results. Failed model tests / target validations follow Q6
    * routing: `fail_on_validation_error` true ⇒ task fails, false ⇒
    * warning, task succeeds (`operators.py:258-265`).
    *
    * One pool of `parallelism` threads serves the whole run (E5,
    * reference `extractors.py:289-316`; what Airflow does for ready
    * tasks). A task starts as soon as every upstream has a result: its
    * trigger rule is evaluated on those results, and it runs or is
    * Skipped. Among tasks ready at once, higher priority starts first.
    * Concurrency is driver-side control plane only — each task's data
    * work is still Spark jobs, which the scheduler interleaves across
    * the cluster. `parallelism = 1` runs one task at a time.
    *
    * A task that throws a non-fatal error is a Failed result (retried
    * per the spec); a fatal one stops new starts, and is rethrown once
    * the running tasks have finished and the pool has shut down. */
  def run(spec: PipelineSpec,
      parallelism: Int = spark.sparkContext.defaultParallelism): Map[String, TaskResult] = {
    val graph = TaskGraph.fromSpec(spec)
    val errors = graph.validate
    require(errors.isEmpty, s"invalid pipeline config: ${errors.mkString("; ")}")

    // per-run child logger: sticky context scoped to THIS run, so
    // overlapping run() calls on one runner can't cross-contaminate
    val rlog = log.withContext("pipeline" -> spec.name)
    val t0 = System.nanoTime()
    val stats: Stats = scala.collection.concurrent.TrieMap.empty
    var ctx = Map.empty[String, TaskResult]
    def finish(r: TaskResult): Unit = {
      val extras = Seq("task_id" -> r.taskId, "status" -> r.status,
        "duration_sec" -> f"${r.durationSeconds}%.3f") ++
        r.error.map("error" -> _)
      if (r.status == TaskStatus.Failed) rlog.error(s"task ${r.taskId} failed", extras: _*)
      else rlog.info(s"task ${r.taskId} ${r.status}", extras: _*)
      // skipped tasks never EXECUTED — recording them would skew
      // success rate / avg duration vs the reference's history
      // semantics (task_manager.py records execution results only)
      if (r.status != TaskStatus.Skipped) record(r)
      ctx += r.taskId -> r
    }

    val workers = math.max(1, math.min(parallelism, graph.tasks.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    val ended = new java.util.concurrent.LinkedBlockingQueue[(String, Either[Throwable, TaskResult])]
    var waiting = graph.tasks
    var running = 0
    var fatal = Option.empty[Throwable]
    try {
      while (running > 0 || (fatal.isEmpty && waiting.nonEmpty)) {
        val ready = if (fatal.isDefined) Nil else graph.startable(waiting, ctx)
        val (runnable, blocked) = ready.partition(graph.canExecute(_, ctx))
        val started = runnable.take(workers - running)
        waiting --= blocked ++ started
        blocked.foreach(id => finish(TaskResult(id, TaskStatus.Skipped)))
        started.foreach { id =>
          running += 1
          pool.execute { () =>
            ended.put(id -> (try Right(executeWithRetries(spec, id, stats))
              catch { case t: Throwable => Left(t) }))
          }
        }
        if (blocked.isEmpty && started.isEmpty) {
          if (running == 0) throw new IllegalStateException("pipeline graph stalled")
          val (id, r) = ended.take()
          running -= 1
          r match {
            case Right(result) => finish(result)
            case Left(t) =>
              rlog.error(s"task $id aborted the run", "task_id" -> id, "error" -> t.toString)
              fatal = fatal.orElse(Some(t))
          }
        }
      }
    } finally pool.shutdown()
    fatal.foreach(throw _)

    spec.monitoring.foreach { m =>
      // enable_metrics gates the run-summary metrics entry (reference
      // `monitoring.enable_metrics`); one structured line per run.
      // duration_sec sums the task times; wall_sec is the run's wall
      // time, shorter when tasks overlap
      if (m.enableMetrics) {
        val done = ctx.values
        rlog.info("pipeline metrics",
          "tasks_total" -> done.size.toString,
          "tasks_success" -> done.count(_.status == TaskStatus.Success).toString,
          "tasks_failed" -> done.count(_.status == TaskStatus.Failed).toString,
          "tasks_skipped" -> done.count(_.status == TaskStatus.Skipped).toString,
          "duration_sec" -> f"${done.map(_.durationSeconds).sum}%.3f",
          "wall_sec" -> f"${(System.nanoTime() - t0) / 1e9}%.3f")
      }
      // declarative alert rules over the finished run's results
      // (sample_pipeline.yaml:150-159), routed to the spec's channels
      Alerts.evaluate(m.alertRules, ctx)
        .foreach(a => alertSink(a, m.alertChannels))
    }
    ctx
  }

  /** Honor the spec's per-task `retries` (sources/transformations;
    * reference `sample_pipeline.yaml:34-35,63-64`): a failed attempt
    * reruns up to N times; validation tasks don't retry (their failure
    * is a data fact, not transient). `sleeper` is injected for tests. */
  private[pipeline] var sleeper: Long => Unit = Thread.sleep

  private def executeWithRetries(spec: PipelineSpec, id: String,
      stats: Stats): TaskResult = {
    val (retries, delayMinutes) = id.split("_", 2) match {
      case Array("ingest", sid) =>
        spec.sources.find(_.sourceId == sid)
          .map(s => (s.retries, s.retryDelayMinutes)).getOrElse((0, 0))
      case Array("transform", name) =>
        spec.transformations.find(_.modelName == name)
          .map(t => (t.retries, t.retryDelayMinutes)).getOrElse((0, 0))
      case _ => (0, 0)
    }
    // data-fact failures (model tests / target validations / quality
    // gates) are deterministic — rerunning cannot change them; only
    // execution exceptions retry (quality-gate breach = the reference's
    // NonRetryableError, extractors.py:111-117)
    def retryable(r: TaskResult): Boolean =
      r.status == TaskStatus.Failed &&
        !r.error.exists(e => e.startsWith("tests:") || e.startsWith("quality:"))
    var attempt = 0
    val first = execute(spec, id, stats)
    var result = first
    while (retryable(result) && attempt < retries) {
      sleeper(delayMinutes.toLong * 60000)
      attempt += 1
      result = execute(spec, id, stats)
    }
    result.copy(startNanos = first.startNanos)
  }

  private def execute(spec: PipelineSpec, id: String, stats: Stats): TaskResult = {
    val t0 = System.nanoTime()
    def done(status: String, err: Option[String] = None) = {
      val t1 = System.nanoTime()
      TaskResult(id, status, (t1 - t0) / 1e9, err, t0, t1)
    }
    try {
      id.split("_", 2) match {
        case Array("ingest", sid) =>
          val df = sources(sid)(spark)
          built(sid) = df
          df.createOrReplaceTempView(sid)
          // ingest-time quality gate (reference validators.py:80-84 gates
          // extraction via extractors.py:111-117): one fused validation
          // job, thresholds on the counts. The YAML spec's
          // validation_rules model carries column LISTS only, so the gate
          // covers the list-expressible families (required_columns /
          // not_null / unique via TableSchema); parameterized families
          // (range/pattern/...) gate at the library level —
          // QualityGate.evaluate takes a full Rules seq.
          val srcSpec = spec.sources.find(_.sourceId == sid)
          srcSpec.flatMap(_.qualityThresholds) match {
            case Some(t) =>
              val vr = srcSpec.get.validationRules
              // accept every list-valued family name the reference's
              // sample configs use (sample_pipeline.yaml:31-33,49-50):
              // required_columns / required_fields (presence+not-null),
              // null_checks / not_null (not-null), unique
              val required = Seq("required_columns", "required_fields",
                "not_null", "null_checks").flatMap(vr.getOrElse(_, Seq.empty))
              val schema = graft.core.TableSchema(
                table = sid,
                columns = Seq.empty,
                requiredColumns = required.distinct,
                uniqueColumns = vr.getOrElse("unique", Seq.empty))
              val (_, breaches) =
                graft.validation.QualityGate.evaluate(df, schema, Seq.empty, t)
              if (breaches.nonEmpty && t.failOnBreach)
                done(TaskStatus.Failed, Some("quality: " + breaches.mkString("; ")))
              else done(TaskStatus.Success,
                if (breaches.nonEmpty)
                  Some("WARN quality: " + breaches.mkString("; "))
                else None)
            case None => done(TaskStatus.Success)
          }
        case Array("transform", name) =>
          val t = spec.transformations.find(_.modelName == name)
            .getOrElse(throw new NoSuchElementException(s"model $name"))
          stats.remove(name)
          val deps = t.dependencies.map(d => d -> built(d)).toMap
          val df = models(name)(deps)
          built(name) = df
          df.createOrReplaceTempView(name)
          val failures = runModelTests(spec, t, df, stats)
          if (failures.nonEmpty)
            done(TaskStatus.Failed, Some("tests: " + failures.mkString("; ")))
          else done(TaskStatus.Success)
        case Array("validate", tbl) =>
          val tg = spec.targets.find(_.tableName == tbl)
            .getOrElse(throw new NoSuchElementException(s"target $tbl"))
          val df = built.getOrElse(tbl, spark.table(tbl))
          val failures = runTargetChecks(tg,
            stats.getOrElse(tbl, checkStats(tbl, Nil, Some(tg), df)))
          if (failures.nonEmpty && tg.failOnValidationError)
            done(TaskStatus.Failed, Some(failures.mkString("; ")))
          else done(TaskStatus.Success,
            if (failures.nonEmpty) Some("WARN: " + failures.mkString("; ")) else None)
        case _ =>
          done(TaskStatus.Failed, Some(s"unknown task kind: $id"))
      }
    } catch {
      case NonFatal(e) => done(TaskStatus.Failed, Some(e.toString))
    }
  }

  /** dbt-style model tests (SURVEY §2.6 T4–T6), never a row fetch: a
    * model's `unique`, `not_null` and `relationships` tests read the
    * model's one check aggregate ([[checkStats]]), which the validate
    * task of the same table then reuses. */
  private def runModelTests(spec: PipelineSpec, t: TransformationSpec,
      df: DataFrame, stats: Stats): Seq[String] =
    if (t.tests.isEmpty) Nil
    else {
      // the validator skips absent columns; a test naming one fails the task
      val absent = t.tests.filter(m => m.kind == "unique" || m.kind == "not_null")
        .flatMap(_.columns).distinct.filterNot(df.columns.contains)
      require(absent.isEmpty,
        s"model ${t.modelName} has no column ${absent.mkString(", ")}")
      val row = checkStats(t.modelName, t.tests,
        spec.targets.find(_.tableName == t.modelName), df)
      stats(t.modelName) = row
      def violations(field: String): Long = countOf(row, field)
      t.tests.zipWithIndex.flatMap {
        case (ModelTest("unique", cols, _, _), _) =>
          cols.map(c => c -> violations(s"duplicate_values__$c")).collect {
            case (c, n) if n > 0 => s"unique($c): $n duplicates"
          }
        case (ModelTest("not_null", cols, _, _), _) =>
          cols.map(c => c -> violations(s"null_violations__$c")).collect {
            case (c, n) if n > 0 => s"not_null($c): $n nulls"
          }
        case (ModelTest("relationships", _, Some(to), Some(field)), i) =>
          val orphans = violations(s"orphans__$i")
          if (orphans > 0) Seq(s"relationships($field→${refName(to)}): $orphans orphans")
          else Nil
        case (other, _) => Seq(s"unknown test kind: ${other.kind}")
      }
    }

  /** Target validations (SURVEY §2.7 Q1–Q4) against built tables: the
    * row-count floor, freshness and COUNT-shaped custom checks read the
    * table's check aggregate; any other custom SQL runs as its own
    * query. */
  private def runTargetChecks(tg: TargetSpec, row: Map[String, Any]): Seq[String] = {
    val minRow = tg.minRowCount.flatMap { n =>
      val c = countOf(row, "row_count")
      if (c < n) Some(s"min_row_count: $c < $n") else None
    }
    val freshness = tg.maxAgeHours.zip(row.get("newest")).flatMap { case (h, ts) =>
      val newest = ts.asInstanceOf[java.sql.Timestamp]
      val ageH = (asOf.getTime - newest.getTime) / 3600000.0
      if (ageH > h) Some(f"max_age_hours: ${ageH}%.1f h > $h h") else None
    }
    val customs = tg.customChecks.zipWithIndex.flatMap { case (c, i) =>
      (c.expectedResult, c.expectedRowCount) match {
        case (Some(expected), _) =>
          val actual = row.get(s"custom__$i") match {
            case Some(n: Long) => n
            case _ => spark.sql(c.query).head().getLong(0)
          }
          if (actual != expected)
            Some(s"${c.name}: got $actual, expected $expected")
          else None
        case (_, Some(expectedRows)) =>
          val actual = spark.sql(c.query).count()
          if (actual != expectedRows)
            Some(s"${c.name}: got $actual rows, expected $expectedRows")
          else None
        case _ => None
      }
    }
    minRow.toSeq ++ freshness.toSeq ++ customs
  }

  /** The one check aggregate of `table` in a run, as field → value: the
    * row count and the `unique`/`not_null` counts
    * ([[graft.validation.Validator.constraintAggs]]), one orphan count per
    * `relationships` test (`orphans__<test index>`), the target's
    * freshness max (`newest`), and a `count_if(p)` (`custom__<check
    * index>`) for each `expected_result` check whose parsed plan is
    * exactly `SELECT COUNT(*) FROM <table> WHERE p`. A check whose `p`
    * does not analyze against `df` keeps its own query, and so does every
    * folded check if the fused aggregate fails to run: their errors then
    * surface in the validate task, as they would without folding. Empty
    * when nothing is asked. */
  private def checkStats(table: String, tests: Seq[ModelTest],
      tg: Option[TargetSpec], df: DataFrame): Map[String, Any] = {
    def colsOf(kind: String) =
      tests.filter(_.kind == kind).flatMap(_.columns).distinct
    val counts =
      if (tests.isEmpty && !tg.exists(_.minRowCount.isDefined)) Nil
      else graft.validation.Validator.constraintAggs(df,
        graft.core.TableSchema(table = table, columns = Seq.empty,
          requiredColumns = colsOf("not_null"), uniqueColumns = colsOf("unique")))
    val orphans = tests.zipWithIndex.collect {
      case (ModelTest("relationships", _, Some(to), Some(field)), i) =>
        orphanCount(field, refName(to)).as(s"orphans__$i")
    }
    val newest = tg.flatMap(_.maxAgeHours).flatMap(_ => df.schema.fields.find(f =>
      f.dataType == org.apache.spark.sql.types.TimestampType))
      .map(f => max(col(f.name)).as("newest"))
    val folded = tg.toSeq.flatMap(_.customChecks.zipWithIndex).collect {
      case (c, i) if c.expectedResult.isDefined => countPredicate(c.query, table).collect {
        case p if scala.util.Try(df.where(p)).isSuccess => count_if(p).as(s"custom__$i")
      }
    }.flatten
    def agg(cols: Seq[Column]): Map[String, Any] =
      if (cols.isEmpty) Map.empty
      else {
        val r = df.agg(cols.head, cols.tail: _*).head()
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
    val base = counts ++ orphans ++ newest
    if (folded.isEmpty) agg(base)
    else try agg(base ++ folded) catch { case NonFatal(_) => agg(base) }
  }

  /** `p` when `query` parses to exactly `SELECT COUNT(*) FROM <table>
    * WHERE p` (no subquery in `p`), else None. */
  private def countPredicate(query: String, table: String): Option[Column] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Literal, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    def countsRows(f: UnresolvedFunction) =
      f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("count") &&
        !f.isDistinct && f.filter.isEmpty && (f.arguments match {
          case Seq(Literal(v, _)) => v != null
          case _ => false
        })
    scala.util.Try(spark.sessionState.sqlParser.parsePlan(query)).toOption.collect {
      case Project(Seq(UnresolvedAlias(f: UnresolvedFunction, _)),
          Filter(p, r: UnresolvedRelation))
          if countsRows(f) && r.multipartIdentifier == Seq(table) && !r.isStreaming &&
            !p.exists(_.isInstanceOf[SubqueryExpression]) =>
        org.apache.spark.sql.GraftShims.column(p)
    }
  }

  /** The count of rows whose non-null `field` has no match in the model
    * (or table) `parent`. */
  private def orphanCount(field: String, parent: String): Column = {
    val keys = built.getOrElse(parent, spark.table(parent)).select(col(field))
    count_if(col(field).isNotNull &&
      !col(field).isin(keys.where(col(field).isNotNull)))
  }

  /** `ref('staging_customers')` → `staging_customers`. */
  private def refName(to: String): String =
    "ref\\('([^']+)'\\)".r.findFirstMatchIn(to).map(_.group(1)).getOrElse(to)

  /** A count field of a check aggregate; a sum over zero rows is NULL:
    * no rows, no violations. */
  private def countOf(row: Map[String, Any], field: String): Long =
    row.get(field) match {
      case Some(n: Long) => n
      case _ => 0L
    }
}
