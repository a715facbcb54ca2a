package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class PipelineSpecSpec extends AnyFunSuite {

  test("the reference's LITERAL sample_pipeline.yaml parses whole and builds a valid DAG") {
    // the drop-in claim, tested drop-in: the reference repo's own
    // config file, byte for byte — not a mirrored inline copy
    val path = java.nio.file.Paths.get(
      "/root/reference/config/pipelines/sample_pipeline.yaml")
    assume(java.nio.file.Files.exists(path), "reference checkout not present")
    val spec = PipelineSpec.fromYaml(
      java.nio.file.Files.readString(path), Map("API_TOKEN" -> "tkn"))

    assert(spec.name == "sample_data_pipeline")
    assert(spec.scheduleInterval == "0 */2 * * *")
    assert(spec.sources.map(_.sourceId) == Seq("customer_db", "orders_api"))
    assert(spec.sources.head.changeDetection("method") == "timestamp" &&
      spec.sources.head.changeDetection("watermark_column") == "updated_at")
    // ${API_TOKEN} interpolates inside the nested headers value
    assert(spec.sources(1).connectionParams("headers").contains("Bearer tkn"))
    assert(spec.sources.head.validationRules("required_columns") ==
      Seq("id", "email", "created_at", "updated_at"))

    assert(spec.transformations.map(_.modelName) ==
      Seq("staging_customers", "staging_orders", "dim_customers",
        "fact_orders"))
    val fo = spec.transformations.last
    assert(fo.materialization == "incremental" &&
      fo.incrementalStrategy.contains("merge") &&
      fo.uniqueKey.contains("order_id"))
    assert(spec.transformations(1).tests.exists(t =>
      t.kind == "relationships" &&
        t.relatedModel.contains("ref('staging_customers')") &&
        t.field.contains("customer_id")))

    assert(spec.targets.map(_.tableName) == Seq("dim_customers", "fact_orders"))
    assert(spec.targets.head.minRowCount.contains(1000L) &&
      spec.targets.head.maxAgeHours.contains(4) &&
      spec.targets.head.failOnValidationError)
    assert(!spec.targets(1).failOnValidationError) // warning-only target
    assert(spec.targets.flatMap(_.customChecks).map(_.name) ==
      Seq("email_format_check", "duplicate_email_check",
        "negative_amount_check", "future_order_date_check"))

    assert(spec.dependencies("transform_fact_orders").toSet ==
      Set("transform_staging_orders", "transform_dim_customers"))
    assert(spec.monitoring.exists(m => m.enableMetrics &&
      m.alertChannels.map(_.kind).sorted == Seq("email", "slack") &&
      m.alertRules.map(_.name) ==
        Seq("pipeline_failure", "data_quality_warning", "long_running_task")))

    // 2 ingest + 4 transform + 2 validate tasks; the declared
    // dependency map references them all and contains no cycle
    val g = TaskGraph.fromSpec(spec)
    assert(g.tasks.size == 8)
    assert(g.validate.isEmpty, g.validate.mkString("; "))
  }

  test("the reference's LITERAL layered env configs merge with its semantics") {
    import ConfigMerge._
    val cfgDir = java.nio.file.Paths.get("/root/reference/config")
    assume(java.nio.file.Files.exists(cfgDir), "reference checkout not present")
    def load(f: String): Conf = fromYaml(java.nio.file.Files.readString(
      cfgDir.resolve(f)))
    val base = load("base.yaml")

    // development overlay: env wins where both declare, base-only survives
    val dev = deepMerge(base, load("development.yaml"))
    assert(getPath(dev, "debug").contains(true))               // env wins
    assert(getPath(dev, "logging.level").contains("DEBUG"))    // env wins
    assert(getPath(dev, "logging.format").contains("json"))    // base-only
    assert(getPath(dev, "logging.backup_count").contains(5))   // base-only
    assert(getPath(dev, "snowflake.warehouse").contains("DEV_WH"))
    assert(getPath(dev, "snowflake.role").contains("SYSADMIN")) // base-only
    assert(getPath(dev, "airflow.dags_folder").contains("./airflow/dags"))
    assert(getPath(dev, "databases.postgres_source.port").contains(5432))

    // production overlay: ${VAR} placeholders survive as VALUES until
    // resolution (the reference defers to access time); empty-map
    // override replaces nothing under it
    val prod = deepMerge(base, load("production.yaml"))
    assert(getPath(prod, "snowflake.account")
      .contains("${SNOWFLAKE_ACCOUNT}"))
    assert(getPath(prod, "snowflake.warehouse").contains("PROD_WH"))
    assert(getPath(prod, "snowflake.role").contains("SYSADMIN"))
    assert(getPath(prod, "logging.format").contains("json"))
    assert(getPath(prod, "databases") == Some(Map.empty))
  }

  val yaml: String =
    """name: sample_data_pipeline
      |description: sample
      |schedule_interval: "0 */2 * * *"
      |sources:
      |  - source_id: customer_db
      |    source_type: database
      |    connection_params:
      |      host: localhost
      |      table: customers
      |    change_detection:
      |      method: timestamp
      |      watermark_column: updated_at
      |    validation_rules:
      |      required_columns: [id, email]
      |      null_checks: [id]
      |    retries: 3
      |  - source_id: orders_api
      |    source_type: api
      |    connection_params:
      |      url: https://api.example.com/orders
      |      headers: '{"Authorization": "Bearer ${API_TOKEN}"}'
      |transformations:
      |  - model_name: staging_orders
      |    model_type: staging
      |    dependencies: [orders_api]
      |    materialization: table
      |    tests:
      |      - unique: [order_id]
      |      - not_null: [order_id, customer_id]
      |      - relationships:
      |          to: ref('staging_customers')
      |          field: customer_id
      |  - model_name: fact_orders
      |    model_type: mart
      |    dependencies: [staging_orders]
      |    materialization: incremental
      |    incremental_strategy: merge
      |    unique_key: order_id
      |targets:
      |  - table_name: fact_orders
      |    validation_rules:
      |      min_row_count: 5000
      |      max_age_hours: 2
      |      custom_checks:
      |        - name: negative_amount_check
      |          query: "SELECT COUNT(*) FROM fact_orders WHERE total_amount < 0"
      |          expected_result: 0
      |    fail_on_validation_error: false
      |dependencies:
      |  transform_staging_orders: [ingest_orders_api]
      |  transform_fact_orders: [transform_staging_orders]
      |  validate_fact_orders: [transform_fact_orders]
      |""".stripMargin

  test("parses the reference YAML shape into a typed spec") {
    val spec = PipelineSpec.fromYaml(yaml, Map("API_TOKEN" -> "t0ken"))
    assert(spec.name == "sample_data_pipeline")
    assert(spec.sources.map(_.sourceId) == Seq("customer_db", "orders_api"))
    assert(spec.sources.head.changeDetection("method") == "timestamp")
    assert(spec.sources.head.validationRules("required_columns") == Seq("id", "email"))
    assert(spec.sources(1).connectionParams("headers").contains("Bearer t0ken"))
    val fact = spec.transformations.find(_.modelName == "fact_orders").get
    assert(fact.incrementalStrategy.contains("merge"))
    assert(fact.uniqueKey.contains("order_id"))
    val so = spec.transformations.head
    assert(so.tests.map(_.kind) == Seq("unique", "not_null", "relationships"))
    assert(so.tests.last.relatedModel.contains("ref('staging_customers')"))
    val tg = spec.targets.head
    assert(tg.minRowCount.contains(5000L) && tg.maxAgeHours.contains(2))
    assert(!tg.failOnValidationError)
    assert(tg.customChecks.head.expectedResult.contains(0L))
    assert(spec.taskIds.toSet == Set(
      "ingest_customer_db", "ingest_orders_api", "transform_staging_orders",
      "transform_fact_orders", "validate_fact_orders"))
  }

  test("dependency validation catches missing tasks and cycles") {
    val g = TaskGraph(Set("a", "b", "c"),
      Map("a" -> Seq("b"), "b" -> Seq("c"), "c" -> Seq("a", "x")))
    val errs = g.validate
    assert(errs.exists(_.contains("Missing upstream task: x")))
    assert(errs.exists(_.contains("Circular dependency")))
    assert(g.findCycle.isDefined)
    val cyc = g.findCycle.get
    assert(cyc.head == cyc.last && cyc.size == 4) // a->b->c->a shape
  }

  test("topological levels order ingest before transform before validate") {
    val spec = PipelineSpec.fromYaml(yaml)
    val levels = TaskGraph.fromSpec(spec).executionLevels
    def levelOf(t: String) = levels.indexWhere(_.contains(t))
    assert(levelOf("ingest_orders_api") < levelOf("transform_staging_orders"))
    assert(levelOf("transform_staging_orders") < levelOf("transform_fact_orders"))
    assert(levelOf("transform_fact_orders") < levelOf("validate_fact_orders"))
  }

  test("trigger rules gate execution like the reference") {
    val g = TaskGraph(Set("up1", "up2", "down"),
      Map("down" -> Seq("up1", "up2")),
      triggerRules = Map("down" -> "one_success"))
    val ok = Map("up1" -> TaskResult("up1", TaskStatus.Failed),
      "up2" -> TaskResult("up2", TaskStatus.Success))
    assert(g.canExecute("down", ok))
    val allFail = Map("up1" -> TaskResult("up1", TaskStatus.Failed),
      "up2" -> TaskResult("up2", TaskStatus.Failed))
    assert(!g.canExecute("down", allFail))
    val noneFailed = g.copy(triggerRules = Map("down" -> "none_failed"))
    assert(!noneFailed.canExecute("down", allFail))
    assert(noneFailed.canExecute("down",
      Map("up1" -> TaskResult("up1", TaskStatus.Success))))
    val allDone = g.copy(triggerRules = Map("down" -> "all_done"))
    assert(allDone.canExecute("down", ok))
    assert(!allDone.canExecute("down",
      Map("up1" -> TaskResult("up1", TaskStatus.Success))))
  }

  test("ready set excludes blocked and already-run tasks") {
    val g = TaskGraph(Set("a", "b", "c"), Map("b" -> Seq("a"), "c" -> Seq("b")))
    assert(g.readyTasks(Map.empty) == Seq("a"))
    val after = Map("a" -> TaskResult("a", TaskStatus.Success))
    assert(g.readyTasks(after) == Seq("b"))
  }

  test("startable: a task waits for every upstream's result, higher priority first") {
    val g = TaskGraph(Set("a", "b", "c", "d"), Map("c" -> Seq("a", "b")),
      triggerRules = Map("c" -> "one_success"), priorities = Map("d" -> 5))
    assert(g.startable(g.tasks, Map.empty) == Seq("d", "a", "b"))
    val aDone = Map("a" -> TaskResult("a", TaskStatus.Success))
    // one_success could already fire, but b has no result yet
    assert(g.startable(Set("b", "c"), aDone) == Seq("b"))
    assert(g.startable(Set("c"), aDone + ("b" -> TaskResult("b", TaskStatus.Failed))) == Seq("c"))
  }

  test("ready set orders by priority desc, id within a tie (task_manager.py:336-341)") {
    val g = TaskGraph(Set("a", "b", "c", "d"), Map.empty,
      priorities = Map("c" -> 9, "d" -> 9, "a" -> 2)) // b defaults to 1
    assert(g.readyTasks(Map.empty) == Seq("c", "d", "a", "b"))
  }

  test("per-task priority parses from YAML into the graph") {
    val spec = PipelineSpec.fromYaml(
      """name: prio
        |sources:
        |  - source_id: hot
        |    source_type: file
        |    priority: 5
        |  - source_id: cold
        |    source_type: file
        |transformations: []
        |targets:
        |  - table_name: t
        |    priority: 3
        |""".stripMargin)
    assert(spec.priorities == Map(
      "ingest_hot" -> 5, "ingest_cold" -> 1, "validate_t" -> 3))
    assert(TaskGraph.fromSpec(spec).readyTasks(Map.empty) ==
      Seq("ingest_hot", "validate_t", "ingest_cold"))
    // the runner starts ready tasks in this order (TaskGraph.startable),
    // and the levels order tasks by priority within each level too
    assert(TaskGraph.fromSpec(spec).executionLevels ==
      Seq(Seq("ingest_hot", "validate_t", "ingest_cold")))
  }
}

class SchedulesSpec extends AnyFunSuite {
  import java.time.LocalDateTime

  test("interval parser: 30s/30m/1h/2d; rejects junk") {
    assert(Schedules.parseInterval("30s").getSeconds == 30)
    assert(Schedules.parseInterval("30m").toMinutes == 30)
    assert(Schedules.parseInterval("1h").toHours == 1)
    assert(Schedules.parseInterval("2d").toDays == 2)
    intercept[IllegalArgumentException](Schedules.parseInterval("2w"))
    intercept[IllegalArgumentException](Schedules.parseInterval("h1"))
  }

  test("cron matching: the reference's '0 */2 * * *' every-2-hours") {
    val expr = "0 */2 * * *"
    assert(Schedules.cronMatches(expr, LocalDateTime.of(2024, 1, 1, 2, 0)))
    assert(Schedules.cronMatches(expr, LocalDateTime.of(2024, 1, 1, 0, 0)))
    assert(!Schedules.cronMatches(expr, LocalDateTime.of(2024, 1, 1, 3, 0)))
    assert(!Schedules.cronMatches(expr, LocalDateTime.of(2024, 1, 1, 2, 1)))
    assert(Schedules.nextCron(expr, LocalDateTime.of(2024, 1, 1, 2, 0))
      .contains(LocalDateTime.of(2024, 1, 1, 4, 0)))
  }

  test("cron day-of-week: 0 is Sunday") {
    // 2024-01-07 was a Sunday
    assert(Schedules.cronMatches("0 9 * * 0", LocalDateTime.of(2024, 1, 7, 9, 0)))
    assert(!Schedules.cronMatches("0 9 * * 0", LocalDateTime.of(2024, 1, 8, 9, 0)))
    // ranges + lists
    assert(Schedules.cronMatches("15 8-17 * * 1-5", LocalDateTime.of(2024, 1, 8, 9, 15)))
    assert(Schedules.cronMatches("0,30 * * * *", LocalDateTime.of(2024, 1, 8, 9, 30)))
  }

  test("catchup: runsBetween enumerates owed cron firings oldest-first, capped") {
    import java.time.LocalDateTime
    val from = LocalDateTime.of(2024, 1, 1, 0, 30)
    val to = LocalDateTime.of(2024, 1, 1, 6, 0)
    val runs = Schedules.runsBetween("0 */2 * * *", from, to)
    assert(runs == Seq(
      LocalDateTime.of(2024, 1, 1, 2, 0),
      LocalDateTime.of(2024, 1, 1, 4, 0),
      LocalDateTime.of(2024, 1, 1, 6, 0))) // (from, to] — boundary included
    assert(Schedules.runsBetween("0 */2 * * *", from, to, max = 2).size == 2)
    assert(Schedules.runsBetween("0 */2 * * *", to, to).isEmpty)
  }

  test("interval schedule: first run immediate, then last+interval") {
    val now = LocalDateTime.of(2024, 1, 1, 12, 0)
    assert(Schedules.nextInterval("30m", None, now) == now)
    assert(Schedules.nextInterval("30m", Some(now), now) == now.plusMinutes(30))
  }
}

class ConfigMergeSpec extends AnyFunSuite {
  import ConfigMerge._

  test("deep merge: nested maps merge, scalars override") {
    val base = Map[String, Any]("a" -> 1,
      "db" -> Map[String, Any]("host" -> "localhost", "port" -> 5432))
    val over = Map[String, Any]("a" -> 2,
      "db" -> Map[String, Any]("host" -> "prod"), "extra" -> true)
    val merged = deepMerge(base, over)
    assert(merged("a") == 2)
    assert(getPath(merged, "db.host").contains("prod"))
    assert(getPath(merged, "db.port").contains(5432))
    assert(merged("extra") == true)
  }

  test("env overrides land at dotted paths with boolean coercion") {
    val conf = Map[String, Any]("logging" -> Map[String, Any]("level" -> "INFO"))
    val out = applyOverrides(conf,
      Map("LOG_LEVEL" -> "logging.level", "DEBUG" -> "debug",
        "MISSING" -> "nope.nothere"),
      Map("LOG_LEVEL" -> "DEBUG", "DEBUG" -> "true"))
    assert(getPath(out, "logging.level").contains("DEBUG"))
    assert(getPath(out, "debug").contains(true))
    assert(getPath(out, "nope.nothere").isEmpty)
  }
}
