package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  // concurrent: tasks in the same execution level may build in parallel
  private val built = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

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

  /** Execute every task of the spec in topological levels with
    * trigger-rule gating; returns per-task results. Failed model tests /
    * target validations follow Q6 routing: `fail_on_validation_error`
    * true ⇒ task fails, false ⇒ warning, task succeeds
    * (`operators.py:258-265`).
    *
    * `parallelism` > 1 runs the INDEPENDENT tasks of one execution level
    * concurrently on a bounded pool (E5, reference
    * `extractors.py:289-316`; what Airflow does for a level's tasks).
    * Concurrency is driver-side control plane only — each task's data
    * work is still Spark jobs, which the scheduler interleaves across
    * the cluster (fair sharing between concurrent jobs). Levels remain
    * barriers, so dependency semantics are unchanged. */
  def run(spec: PipelineSpec, parallelism: Int = 1): Map[String, TaskResult] = {
    val graph = TaskGraph.fromSpec(spec)
    val errors = graph.validate
    require(errors.isEmpty, s"invalid pipeline config: ${errors.mkString("; ")}")

    // per-run child logger: sticky context scoped to THIS run, so
    // overlapping run() calls on one runner can't cross-contaminate
    val rlog = log.withContext("pipeline" -> spec.name)
    var ctx = Map.empty[String, TaskResult]
    graph.executionLevels.foreach { level =>
      val snapshot = ctx
      def runOne(id: String): TaskResult =
        if (graph.canExecute(id, snapshot)) executeWithRetries(spec, id)
        else TaskResult(id, TaskStatus.Skipped)
      val results: Seq[(String, TaskResult)] =
        if (parallelism <= 1 || level.size <= 1) level.map(id => id -> runOne(id))
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(parallelism, level.size))
          try level.map(id => id -> pool.submit(
              new java.util.concurrent.Callable[TaskResult] {
                override def call(): TaskResult = runOne(id)
              }))
            .map { case (id, f) => id -> f.get() }
          finally pool.shutdown()
        }
      results.foreach { case (id, r) =>
        val extras = Seq("task_id" -> id, "status" -> r.status,
          "duration_sec" -> f"${r.durationSeconds}%.3f") ++
          r.error.map("error" -> _)
        if (r.status == TaskStatus.Failed) rlog.error(s"task $id failed", extras: _*)
        else rlog.info(s"task $id ${r.status}", extras: _*)
        // skipped tasks never EXECUTED — recording them would skew
        // success rate / avg duration vs the reference's history
        // semantics (task_manager.py records execution results only)
        if (r.status != TaskStatus.Skipped) record(r)
        ctx += id -> r
      }
    }
    spec.monitoring.foreach { m =>
      // enable_metrics gates the run-summary metrics entry (reference
      // `monitoring.enable_metrics`); one structured line per run
      if (m.enableMetrics) {
        val done = ctx.values
        rlog.info("pipeline metrics",
          "tasks_total" -> done.size.toString,
          "tasks_success" -> done.count(_.status == TaskStatus.Success).toString,
          "tasks_failed" -> done.count(_.status == TaskStatus.Failed).toString,
          "tasks_skipped" -> done.count(_.status == TaskStatus.Skipped).toString,
          "duration_sec" -> f"${done.map(_.durationSeconds).sum}%.3f")
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

  private def executeWithRetries(spec: PipelineSpec, id: String): TaskResult = {
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
    var result = execute(spec, id)
    while (retryable(result) && attempt < retries) {
      sleeper(delayMinutes.toLong * 60000)
      attempt += 1
      result = execute(spec, id)
    }
    result
  }

  private def execute(spec: PipelineSpec, id: String): TaskResult = {
    val t0 = System.nanoTime()
    def done(status: String, err: Option[String] = None) =
      TaskResult(id, status, (System.nanoTime() - t0) / 1e9, err)
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
          val deps = t.dependencies.map(d => d -> built(d)).toMap
          val df = models(name)(deps)
          built(name) = df
          df.createOrReplaceTempView(name)
          val failures = runModelTests(t, df)
          if (failures.nonEmpty)
            done(TaskStatus.Failed, Some("tests: " + failures.mkString("; ")))
          else done(TaskStatus.Success)
        case Array("validate", tbl) =>
          val tg = spec.targets.find(_.tableName == tbl)
            .getOrElse(throw new NoSuchElementException(s"target $tbl"))
          val failures = runTargetChecks(tg)
          if (failures.nonEmpty && tg.failOnValidationError)
            done(TaskStatus.Failed, Some(failures.mkString("; ")))
          else done(TaskStatus.Success,
            if (failures.nonEmpty) Some("WARN: " + failures.mkString("; ")) else None)
        case _ =>
          done(TaskStatus.Failed, Some(s"unknown task kind: $id"))
      }
    } catch {
      case e: Exception => done(TaskStatus.Failed, Some(e.toString))
    }
  }

  /** dbt-style model tests (SURVEY §2.6 T4–T6), never a row fetch: a
    * model's `unique` and `not_null` tests are counted by ONE fused
    * validator aggregate ([[graft.validation.Validator.countsFrame]]);
    * `relationships` is a left-anti join. */
  private def runModelTests(t: TransformationSpec, df: DataFrame): Seq[String] = {
    def colsOf(kind: String) =
      t.tests.filter(_.kind == kind).flatMap(_.columns).distinct
    val schema = graft.core.TableSchema(table = t.modelName,
      columns = Seq.empty, requiredColumns = colsOf("not_null"),
      uniqueColumns = colsOf("unique"))
    // the validator skips absent columns; a test naming one fails the task
    val absent = (schema.requiredColumns ++ schema.uniqueColumns).distinct
      .filterNot(df.columns.contains)
    require(absent.isEmpty,
      s"model ${t.modelName} has no column ${absent.mkString(", ")}")
    lazy val counts =
      graft.validation.Validator.countsFrame(df, schema, Seq.empty).head()
    // a sum over zero rows is NULL: no rows, no violations
    def violations(field: String): Long =
      if (counts.isNullAt(counts.fieldIndex(field))) 0L
      else counts.getAs[Long](field)
    t.tests.flatMap {
      case ModelTest("unique", cols, _, _) =>
        cols.map(c => c -> violations(s"duplicate_values__$c")).collect {
          case (c, n) if n > 0 => s"unique($c): $n duplicates"
        }
      case ModelTest("not_null", cols, _, _) =>
        cols.map(c => c -> violations(s"null_violations__$c")).collect {
          case (c, n) if n > 0 => s"not_null($c): $n nulls"
        }
      case ModelTest("relationships", _, Some(to), Some(field)) =>
        // ref('staging_customers') → the built model; orphans via
        // left-anti (broadcast the dim side when small — AQE decides)
        val refName = "ref\\('([^']+)'\\)".r.findFirstMatchIn(to)
          .map(_.group(1)).getOrElse(to)
        val parent = built.getOrElse(refName, spark.table(refName))
        val orphans = df.select(col(field)).where(col(field).isNotNull)
          .join(parent.select(col(field)), Seq(field), "left_anti").count()
        if (orphans > 0) Seq(s"relationships($field→$refName): $orphans orphans")
        else Nil
      case other => Seq(s"unknown test kind: ${other.kind}")
    }
  }

  /** Target validations (SURVEY §2.7 Q1–Q4) against built tables. */
  private def runTargetChecks(tg: TargetSpec): Seq[String] = {
    val df = built.getOrElse(tg.tableName, spark.table(tg.tableName))
    val tsCol = tg.maxAgeHours.flatMap(_ => df.schema.fields.find(f =>
      f.dataType == org.apache.spark.sql.types.TimestampType)).map(_.name)
    // one aggregate for the row-count floor and the freshness max
    val aggs = tg.minRowCount.map(_ => count(lit(1)).as("n")).toSeq ++
      tsCol.map(c => max(col(c)).as("newest"))
    lazy val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val minRow = tg.minRowCount.flatMap { n =>
      val c = stats.getAs[Long]("n")
      if (c < n) Some(s"min_row_count: $c < $n") else None
    }
    val freshness = tg.maxAgeHours.zip(tsCol).flatMap { case (h, _) =>
      val newest = stats.getAs[java.sql.Timestamp]("newest")
      val ageH = (asOf.getTime - newest.getTime) / 3600000.0
      if (ageH > h) Some(f"max_age_hours: ${ageH}%.1f h > $h h") else None
    }
    val customs = tg.customChecks.flatMap { c =>
      val res = spark.sql(c.query)
      (c.expectedResult, c.expectedRowCount) match {
        case (Some(expected), _) =>
          val actual = res.head().getLong(0)
          if (actual != expected)
            Some(s"${c.name}: got $actual, expected $expected")
          else None
        case (_, Some(expectedRows)) =>
          val actual = res.count()
          if (actual != expectedRows)
            Some(s"${c.name}: got $actual rows, expected $expectedRows")
          else None
        case _ => None
      }
    }
    minRow.toSeq ++ freshness.toSeq ++ customs
  }
}
