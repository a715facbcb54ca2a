package graft.pipeline

import graft.SparkSpec
import graft.operators.Models
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline over the driver's testdata: ingest parquet →
  * staging/dim/fact models with dbt-style tests → target validation,
  * ordered by the task graph — SURVEY §3.1 compressed into one driver. */
class PipelineRunnerSpec extends AnyFunSuite with SparkSpec {

  val yaml: String =
    """name: retail_pipeline
      |schedule_interval: "0 */2 * * *"
      |sources:
      |  - source_id: orders_src
      |    source_type: file
      |  - source_id: customer_src
      |    source_type: file
      |transformations:
      |  - model_name: staging_orders
      |    model_type: staging
      |    dependencies: [orders_src]
      |    tests:
      |      - unique: [order_id]
      |      - not_null: [order_id, customer_id]
      |  - model_name: staging_customers
      |    model_type: staging
      |    dependencies: [customer_src]
      |    tests:
      |      - unique: [customer_id]
      |  - model_name: dim_customers
      |    model_type: mart
      |    dependencies: [staging_customers]
      |    tests:
      |      - unique: [customer_key]
      |      - not_null: [customer_key]
      |  - model_name: fact_orders
      |    model_type: mart
      |    dependencies: [staging_orders, dim_customers]
      |    tests:
      |      - unique: [order_id]
      |      - relationships:
      |          to: ref('dim_customers')
      |          field: customer_key
      |targets:
      |  - table_name: fact_orders
      |    validation_rules:
      |      min_row_count: 100
      |      max_age_hours: 876000
      |      custom_checks:
      |        - name: negative_amount_check
      |          query: "SELECT COUNT(*) FROM fact_orders WHERE total_amount < 0"
      |          expected_result: 0
      |        - name: dup_order_check
      |          query: "SELECT order_id, COUNT(*) FROM fact_orders GROUP BY order_id HAVING COUNT(*) > 1"
      |          expected_row_count: 0
      |    fail_on_validation_error: true
      |dependencies:
      |  transform_staging_orders: [ingest_orders_src]
      |  transform_staging_customers: [ingest_customer_src]
      |  transform_dim_customers: [transform_staging_customers]
      |  transform_fact_orders: [transform_staging_orders, transform_dim_customers]
      |  validate_fact_orders: [transform_fact_orders]
      |""".stripMargin

  def runner: PipelineRunner = new PipelineRunner(
    spark,
    sources = Map(
      "orders_src" -> (s => s.read.parquet(s"$sf/orders.parquet")),
      "customer_src" -> (s => s.read.parquet(s"$sf/customer.parquet"))),
    models = Map(
      "staging_orders" -> (deps => Models.stagingOrders(deps("orders_src"))),
      "staging_customers" -> (deps => Models.stagingCustomers(deps("customer_src"))),
      "dim_customers" -> (deps => Models.dimCustomers(deps("staging_customers"))),
      "fact_orders" -> (deps =>
        Models.factOrders(deps("staging_orders"),
          deps("staging_orders").limit(0), deps("dim_customers")))),
    asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))

  test("full pipeline run: every task succeeds in dependency order") {
    val spec = PipelineSpec.fromYaml(yaml)
    val results = runner.run(spec)
    assert(results.size == 7)
    val failed = results.values.filter(_.status != TaskStatus.Success)
    assert(failed.isEmpty, failed.map(r => s"${r.taskId}: ${r.error}").mkString("; "))
  }

  test("sources come straight from the spec's connection params") {
    val configDriven = yaml
      .replace("  - source_id: orders_src\n    source_type: file\n",
        s"""  - source_id: orders_src
           |    source_type: file
           |    connection_params:
           |      path: $sf/orders.parquet
           |""".stripMargin)
      .replace("  - source_id: customer_src\n    source_type: file\n",
        s"""  - source_id: customer_src
           |    source_type: file
           |    connection_params:
           |      path: $sf/customer.parquet
           |""".stripMargin)
    val spec = PipelineSpec.fromYaml(configDriven)
    val fromSpec = new PipelineRunner(
      spark,
      sources = PipelineRunner.sourcesFromSpec(spec),
      models = Map(
        "staging_orders" -> (deps => Models.stagingOrders(deps("orders_src"))),
        "staging_customers" -> (deps => Models.stagingCustomers(deps("customer_src"))),
        "dim_customers" -> (deps => Models.dimCustomers(deps("staging_customers"))),
        "fact_orders" -> (deps =>
          Models.factOrders(deps("staging_orders"),
            deps("staging_orders").limit(0), deps("dim_customers")))),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val results = fromSpec.run(spec)
    val failed = results.values.filter(_.status != TaskStatus.Success)
    assert(failed.isEmpty, failed.map(r => s"${r.taskId}: ${r.error}").mkString("; "))
  }

  test("failing model test fails the task; downstream is skipped") {
    val badYaml = yaml.replace("- unique: [order_id]\n",
      "- unique: [order_status]\n") // order_status is massively duplicated
    val spec = PipelineSpec.fromYaml(badYaml)
    val results = runner.run(spec)
    assert(results("transform_staging_orders").status == TaskStatus.Failed)
    assert(results("transform_staging_orders").error.get.contains("duplicates"))
    // downstream of the failed task must not run (all_success default)
    assert(results("transform_fact_orders").status == TaskStatus.Skipped)
    assert(results("validate_fact_orders").status == TaskStatus.Skipped)
  }

  test("transient task failures retry per the spec; data-fact failures don't") {
    // a source that fails twice then succeeds — retries: 3 in the spec
    var calls = 0
    val flaky = new PipelineRunner(
      spark,
      sources = Map(
        "orders_src" -> (s => {
          calls += 1
          if (calls < 3) throw new RuntimeException("connection reset")
          s.read.parquet(s"$sf/orders.parquet")
        }),
        "customer_src" -> (s => s.read.parquet(s"$sf/customer.parquet"))),
      models = Map(
        "staging_orders" -> (deps => Models.stagingOrders(deps("orders_src"))),
        "staging_customers" -> (deps => Models.stagingCustomers(deps("customer_src"))),
        "dim_customers" -> (deps => Models.dimCustomers(deps("staging_customers"))),
        "fact_orders" -> (deps =>
          Models.factOrders(deps("staging_orders"),
            deps("staging_orders").limit(0), deps("dim_customers")))),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val delays = Seq.newBuilder[Long]
    flaky.sleeper = delays += _
    val withRetries = yaml.replace("  - source_id: orders_src\n    source_type: file\n",
      "  - source_id: orders_src\n    source_type: file\n    retries: 3\n    retry_delay_minutes: 5\n")
    val results = flaky.run(PipelineSpec.fromYaml(withRetries))
    assert(results("ingest_orders_src").status == TaskStatus.Success)
    assert(calls == 3)
    assert(delays.result() == Seq(300000L, 300000L))

    // model-test (data-fact) failures must NOT retry
    var modelBuilds = 0
    val counting = new PipelineRunner(
      spark,
      sources = Map(
        "orders_src" -> (s => s.read.parquet(s"$sf/orders.parquet")),
        "customer_src" -> (s => s.read.parquet(s"$sf/customer.parquet"))),
      models = Map(
        "staging_orders" -> (deps => {
          modelBuilds += 1
          Models.stagingOrders(deps("orders_src"))
        }),
        "staging_customers" -> (deps => Models.stagingCustomers(deps("customer_src"))),
        "dim_customers" -> (deps => Models.dimCustomers(deps("staging_customers"))),
        "fact_orders" -> (deps =>
          Models.factOrders(deps("staging_orders"),
            deps("staging_orders").limit(0), deps("dim_customers")))),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    counting.sleeper = _ => ()
    val badYaml = yaml.replace("- unique: [order_id]\n", "- unique: [order_status]\n")
    val r2 = counting.run(PipelineSpec.fromYaml(badYaml))
    assert(r2("transform_staging_orders").status == TaskStatus.Failed)
    assert(modelBuilds == 1) // built once, not retried
  }

  test("unique and not_null tests report per column; an absent column fails the task") {
    // order_id stays unique and non-null; customer_id is blanked on even
    // orders and order_status repeats
    def blanked(orders: org.apache.spark.sql.DataFrame) =
      Models.stagingOrders(orders).withColumn("customer_id",
        when(col("order_id") % 2 === 0, lit(null)).otherwise(col("customer_id")))
    val withNulls = new PipelineRunner(
      spark,
      sources = Map("orders_src" -> (s => s.read.parquet(s"$sf/orders.parquet")),
        "customer_src" -> (s => s.read.parquet(s"$sf/customer.parquet"))),
      models = Map("staging_orders" -> (deps => blanked(deps("orders_src")))),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    withNulls.sleeper = _ => ()
    val model = blanked(spark.read.parquet(s"$sf/orders.parquet"))
    val nulls = model.filter(col("customer_id").isNull).count()
    val dups = model.count() - model.select("order_status").distinct().count()
    assert(nulls > 0 && dups > 0)
    def run(tests: String) = withNulls.run(PipelineSpec.fromYaml(
      s"""name: model_tests
         |sources:
         |  - source_id: orders_src
         |    source_type: file
         |transformations:
         |  - model_name: staging_orders
         |    model_type: staging
         |    dependencies: [orders_src]
         |    tests:
         |$tests
         |dependencies:
         |  transform_staging_orders: [ingest_orders_src]
         |""".stripMargin))("transform_staging_orders")
    val r = run("""      - not_null: [order_id, customer_id]
                  |      - unique: [order_id, order_status]""".stripMargin)
    assert(r.status == TaskStatus.Failed)
    assert(r.error.contains(s"tests: not_null(customer_id): $nulls nulls; " +
      s"unique(order_status): $dups duplicates"), r.error)
    val absent = run("      - not_null: [order_id, no_such_column]")
    assert(absent.status == TaskStatus.Failed)
    assert(absent.error.exists(_.contains("no_such_column")), absent.error)
  }

  test("target validation failure with fail_on_validation_error=false warns") {
    val warnYaml = yaml
      .replace("min_row_count: 100", "min_row_count: 999999999")
      .replace("fail_on_validation_error: true", "fail_on_validation_error: false")
    val results = runner.run(PipelineSpec.fromYaml(warnYaml))
    val v = results("validate_fact_orders")
    assert(v.status == TaskStatus.Success)
    assert(v.error.exists(e => e.startsWith("WARN") && e.contains("min_row_count")))
  }

  test("target validation failure with fail_on_validation_error=true fails") {
    val failYaml = yaml.replace("min_row_count: 100", "min_row_count: 999999999")
    val results = runner.run(PipelineSpec.fromYaml(failYaml))
    assert(results("validate_fact_orders").status == TaskStatus.Failed)
  }

  test("parallelism runs a level's independent ingests concurrently") {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val highWater = new java.util.concurrent.atomic.AtomicInteger(0)
    // `meet`: both ingests must be inside their source at once (parallel
    // half only); the timeout turns a missing overlap into a failure
    def tracked(path: String, meet: Option[java.util.concurrent.CountDownLatch])
        : org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame =
      s => {
        highWater.accumulateAndGet(active.incrementAndGet(), math.max)
        try {
          meet.foreach { l =>
            l.countDown()
            assert(l.await(30, java.util.concurrent.TimeUnit.SECONDS), "ingests never overlapped")
          }
          s.read.parquet(path)
        } finally active.decrementAndGet()
      }
    def make(meet: Option[java.util.concurrent.CountDownLatch]) = new PipelineRunner(
      spark,
      sources = Map(
        "orders_src" -> tracked(s"$sf/orders.parquet", meet),
        "customer_src" -> tracked(s"$sf/customer.parquet", meet)),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val yaml2 =
      """name: par
        |sources:
        |  - source_id: orders_src
        |    source_type: file
        |  - source_id: customer_src
        |    source_type: file
        |""".stripMargin
    val spec = PipelineSpec.fromYaml(yaml2)

    val seq = make(None).run(spec, parallelism = 1)
    assert(seq.values.forall(_.status == TaskStatus.Success))
    assert(highWater.get == 1, s"sequential run overlapped: ${highWater.get}")

    highWater.set(0)
    val par = make(Some(new java.util.concurrent.CountDownLatch(2))).run(spec, parallelism = 2)
    assert(par.values.forall(_.status == TaskStatus.Success), par)
    assert(highWater.get == 2, s"parallel run never overlapped: ${highWater.get}")
  }

  /** `body` under a deadline, so a run that hangs fails the test. */
  private def within[T](seconds: Int)(body: => T): T = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future(body), scala.concurrent.duration.Duration(seconds, "s"))
  }

  private val twoIngests =
    """name: pair
      |sources:
      |  - source_id: a
      |    source_type: file
      |    retries: 0
      |  - source_id: b
      |    source_type: file
      |    retries: 0
      |transformations:
      |  - model_name: m
      |    model_type: staging
      |    dependencies: [a]
      |    retries: 0
      |dependencies:
      |  transform_m: [ingest_a]
      |""".stripMargin

  test("an Error thrown by a task is a Failed result; downstream is skipped") {
    val r = new PipelineRunner(spark,
      sources = Map("a" -> (s => s.range(3).toDF()), "b" -> (s => s.range(3).toDF())),
      // Predef's assert throws java.lang.AssertionError, an Error
      models = Map("m" -> (d => { Predef.assert(d("a").isEmpty, "model invariant"); d("a") })),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => ()
    val spec = PipelineSpec.fromYaml(twoIngests.replace(
      "  transform_m: [ingest_a]\n",
      "  transform_m: [ingest_a]\n  validate_t: [transform_m]\n") +
      "targets:\n  - table_name: t\n")
    val results = within(120)(r.run(spec))
    assert(results("transform_m").status == TaskStatus.Failed)
    assert(results("transform_m").error.exists(e =>
      e.startsWith("java.lang.AssertionError") && e.contains("model invariant")),
      results("transform_m").error)
    assert(results("validate_t").status == TaskStatus.Skipped)
    assert(Seq("ingest_a", "ingest_b").forall(results(_).status == TaskStatus.Success))
    assert(r.executionHistory("transform_m").map(_.status) == Seq(TaskStatus.Failed))
  }

  test("a fatal error is rethrown only after the running tasks finish") {
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    @volatile var bFinished = false
    val r = new PipelineRunner(spark,
      sources = Map(
        "a" -> (_ => {
          assert(bStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
          throw new StackOverflowError("fatal in a")
        }),
        "b" -> (s => {
          bStarted.countDown(); Thread.sleep(300); bFinished = true; s.range(1).toDF()
        })),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    // not under `within`: a Future never completes on a fatal error; the
    // latch timeout bounds this run instead
    val e = intercept[StackOverflowError](
      r.run(PipelineSpec.fromYaml(twoIngests), parallelism = 2))
    assert(e.getMessage == "fatal in a")
    assert(bFinished, "run() rethrew while a sibling task was still running")
    // the downstream of the failed ingest never started
    assert(r.executionHistory("transform_m").isEmpty)
  }

  test("task intervals: disjoint at parallelism 1, independent ingests overlap by default") {
    def make(meet: Option[java.util.concurrent.CountDownLatch]) = {
      def src(s: org.apache.spark.sql.SparkSession) = {
        meet.foreach { l =>
          l.countDown(); assert(l.await(30, java.util.concurrent.TimeUnit.SECONDS))
        }
        s.range(3).toDF()
      }
      new PipelineRunner(spark, sources = Map("a" -> src, "b" -> src),
        models = Map("m" -> (d => d("a"))),
        asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    }
    val spec = PipelineSpec.fromYaml(twoIngests)
    def intervals(rs: Map[String, TaskResult]) = {
      assert(rs.values.forall(_.status == TaskStatus.Success), rs)
      rs.values.foreach(t => assert(t.startNanos > 0 && t.startNanos <= t.endNanos, t))
      rs.values.toSeq.sortBy(_.startNanos)
    }
    val seq = intervals(make(None).run(spec, parallelism = 1))
    seq.zip(seq.tail).foreach { case (x, y) =>
      assert(x.endNanos <= y.startNanos, s"$x overlaps $y")
    }
    // a task starts only after its upstream ended
    val m = seq.find(_.taskId == "transform_m").get
    assert(seq.find(_.taskId == "ingest_a").get.endNanos <= m.startNanos)

    assert(spark.sparkContext.defaultParallelism > 1)
    val par = intervals(within(120)(
      make(Some(new java.util.concurrent.CountDownLatch(2))).run(spec)))
    val Seq(a, b) = Seq("ingest_a", "ingest_b").map(id => par.find(_.taskId == id).get)
    assert(a.startNanos < b.endNanos && b.startNanos < a.endNanos, s"$a and $b never overlapped")
  }

  // ---- check messages: model tests and target checks share one aggregate ----

  private val checkYaml =
    """name: checks
      |sources:
      |  - source_id: dim_src
      |    source_type: file
      |  - source_id: fact_src
      |    source_type: file
      |transformations:
      |  - model_name: dim
      |    model_type: mart
      |    dependencies: [dim_src]
      |    tests:
      |      - unique: [c_custkey]
      |  - model_name: fact
      |    model_type: mart
      |    dependencies: [fact_src, dim]
      |    tests:
      |      - unique: [o_orderkey]
      |$TESTS
      |targets:
      |  - table_name: fact
      |    validation_rules:
      |$RULES
      |    fail_on_validation_error: true
      |dependencies:
      |  transform_dim: [ingest_dim_src]
      |  transform_fact: [ingest_fact_src, transform_dim]
      |  validate_fact: [transform_fact]
      |""".stripMargin

  /** dim keys 1–3; fact customers 1, 2, 3, 3, 9, 9, null; two negative
    * amounts; the newest `updated_at` is 24 h before `asOf`. */
  private def runChecks(tests: String = "", rules: String): Map[String, TaskResult] = {
    val s = spark
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    val dim = Seq(1L, 2L, 3L).toDF("c_custkey")
    val fact = Seq[(Long, Option[Long], Double)]((1, Some(1), 5.0), (2, Some(2), -1.0),
      (3, Some(3), 2.0), (4, Some(3), -2.0), (5, Some(9), 1.0), (6, Some(9), 1.0),
      (7, None, 1.0)).toDF("o_orderkey", "c_custkey", "amount")
      .withColumn("updated_at", lit(ts))
    val r = new PipelineRunner(spark,
      sources = Map("dim_src" -> (_ => dim), "fact_src" -> (_ => fact)),
      models = Map("dim" -> (d => d("dim_src")), "fact" -> (d => d("fact_src"))),
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => ()
    r.run(PipelineSpec.fromYaml(
      checkYaml.replace("$TESTS\n", tests).replace("$RULES\n", rules)))
  }

  test("check message: relationships orphans") {
    val rs = runChecks(
      """      - relationships:
        |          to: ref('dim')
        |          field: c_custkey
        |""".stripMargin, "      min_row_count: 1\n")
    assert(rs("transform_fact").status == TaskStatus.Failed)
    assert(rs("transform_fact").error.contains("tests: relationships(c_custkey→dim): 2 orphans"),
      rs("transform_fact").error)
    assert(rs("validate_fact").status == TaskStatus.Skipped)
  }

  test("check messages: min_row_count and max_age_hours") {
    val v = runChecks(rules = "      min_row_count: 8\n      max_age_hours: 1\n")("validate_fact")
    assert(v.status == TaskStatus.Failed)
    assert(v.error.contains("min_row_count: 7 < 8; max_age_hours: 24.0 h > 1 h"), v.error)
  }

  test("check message: a COUNT-shaped custom check") {
    val v = runChecks(rules =
      """      custom_checks:
        |        - name: no_negative_amounts
        |          query: "SELECT COUNT(*) FROM fact WHERE amount < 0"
        |          expected_result: 0
        |        - name: two_unknown_customers
        |          query: "SELECT COUNT(*) FROM fact WHERE c_custkey > 3"
        |          expected_result: 2
        |""".stripMargin)("validate_fact")
    assert(v.status == TaskStatus.Failed)
    assert(v.error.contains("no_negative_amounts: got 2, expected 0"), v.error)
  }

  test("check message: GROUP BY ... HAVING with expected_row_count still runs as SQL") {
    val v = runChecks(rules =
      """      custom_checks:
        |        - name: one_order_per_customer
        |          query: "SELECT c_custkey, COUNT(*) FROM fact GROUP BY c_custkey HAVING COUNT(*) > 1"
        |          expected_row_count: 0
        |""".stripMargin)("validate_fact")
    assert(v.status == TaskStatus.Failed)
    assert(v.error.contains("one_order_per_customer: got 2 rows, expected 0"), v.error)
  }

  test("a custom predicate naming a missing column fails the validate task, not the transform") {
    val rs = runChecks(rules =
      """      max_age_hours: 48
        |      custom_checks:
        |        - name: ok
        |          query: "SELECT COUNT(*) FROM fact WHERE amount < -5"
        |          expected_result: 0
        |        - name: typo
        |          query: "SELECT COUNT(*) FROM fact WHERE no_such_column < 0"
        |          expected_result: 0
        |""".stripMargin)
    assert(rs("transform_fact").status == TaskStatus.Success, rs("transform_fact").error)
    assert(rs("validate_fact").status == TaskStatus.Failed)
    assert(rs("validate_fact").error.exists(_.contains("no_such_column")), rs("validate_fact").error)
  }

  test("a folded predicate that fails at run time fails the validate task, not the transform") {
    // ANSI division by zero: analyzes, then throws once rows are read
    val rs = runChecks(rules =
      """      min_row_count: 1
        |      custom_checks:
        |        - name: boom
        |          query: "SELECT COUNT(*) FROM fact WHERE 1 / (o_orderkey - o_orderkey) > 0"
        |          expected_result: 0
        |""".stripMargin)
    assert(rs("transform_fact").status == TaskStatus.Success, rs("transform_fact").error)
    assert(rs("validate_fact").status == TaskStatus.Failed)
    assert(rs("validate_fact").error.exists(_.contains("DIVIDE_BY_ZERO")), rs("validate_fact").error)
  }

  // ---- ingest-time quality gate (reference validators.py:80-84) ----

  private def gateYaml(thresholds: String,
      required: String = "o_orderkey"): String =
    s"""name: gated
       |sources:
       |  - source_id: gated_src
       |    source_type: file
       |    retries: 2
       |    validation_rules:
       |      required_columns: [$required]
       |      unique: [$required]
       |    quality_thresholds:
       |$thresholds
       |""".stripMargin

  private def gateRunner(table: String, onIngest: () => Unit = () => ()) = {
    val r = new PipelineRunner(
      spark,
      sources = Map("gated_src" -> (s => {
        onIngest(); graft.queries.table(s, sf, table) })),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => () // retries must never wall-clock-sleep in tests
    r
  }

  test("quality gate passes on clean data (defaults)") {
    val spec = PipelineSpec.fromYaml(gateYaml(
      "      min_data_quality_score: 0.8\n"))
    val r = gateRunner("orders").run(spec)("ingest_gated_src")
    assert(r.status == TaskStatus.Success && r.error.isEmpty, r.error)
  }

  test("quality gate breach fails the ingest task and does not retry") {
    var calls = 0
    val spec = PipelineSpec.fromYaml(gateYaml(
      "      min_data_quality_score: 1.01\n")) // unreachable: score ≤ 1.0
    val r = gateRunner("orders", () => calls += 1).run(spec)("ingest_gated_src")
    assert(r.status == TaskStatus.Failed)
    assert(r.error.exists(e => e.startsWith("quality:") && e.contains("quality_score")))
    assert(calls == 1, s"quality breach is a data fact, must not retry (got $calls)")
  }

  test("quality gate breach with enforcement=warn succeeds with warning") {
    val spec = PipelineSpec.fromYaml(gateYaml(
      "      min_data_quality_score: 1.01\n      enforcement: warn\n"))
    val r = gateRunner("orders").run(spec)("ingest_gated_src")
    assert(r.status == TaskStatus.Success)
    assert(r.error.exists(_.startsWith("WARN quality:")))
  }

  // ---- declarative alert rules (sample_pipeline.yaml:144-159) ----

  test("alert rules: each condition fires on its matching task, severity routed") {
    val monYaml =
      """name: mon
        |sources:
        |  - source_id: ok_src
        |    source_type: file
        |    quality_thresholds:
        |      min_data_quality_score: 1.01
        |      enforcement: warn
        |  - source_id: bad_src
        |    source_type: file
        |    retries: 0
        |monitoring:
        |  alert_channels:
        |    - email: data-team@example.com
        |    - slack: "#data-alerts"
        |  alert_rules:
        |    - name: pipeline_failure
        |      condition: task_failed
        |      severity: critical
        |    - name: data_quality_warning
        |      condition: validation_warning
        |      severity: warning
        |    - name: long_running_task
        |      condition: task_duration > 3600
        |      severity: warning
        |    - name: any_duration
        |      condition: task_duration >= 0
        |      severity: info
        |""".stripMargin
    val spec = PipelineSpec.fromYaml(monYaml)
    assert(spec.monitoring.exists(_.alertRules.size == 4))
    val r = new PipelineRunner(
      spark,
      sources = Map(
        "ok_src" -> (s => s.read.parquet(s"$sf/orders.parquet")),
        "bad_src" -> (_ => throw new RuntimeException("boom"))),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => ()
    val fired = Seq.newBuilder[(Alert, Seq[AlertChannel])]
    r.alertSink = (a, chs) => fired += ((a, chs))
    r.run(spec)
    val alerts = fired.result()
    val byRule = alerts.map(_._1).groupBy(_.rule)
    // task_failed → the failing ingest, critical
    assert(byRule("pipeline_failure").map(a => (a.taskId, a.severity)) ==
      Seq(("ingest_bad_src", "critical")))
    assert(byRule("pipeline_failure").head.message.contains("boom"))
    // validation_warning → the succeeded-with-WARN ingest
    assert(byRule("data_quality_warning").map(_.taskId) == Seq("ingest_ok_src"))
    // the 1-hour duration rule must not fire on a test pipeline
    assert(!byRule.contains("long_running_task"))
    // a trivially-true duration rule fires once per executed task
    assert(byRule("any_duration").map(_.taskId).sorted ==
      Seq("ingest_bad_src", "ingest_ok_src"))
    // the spec's channels reach the sink verbatim
    assert(alerts.head._2 == Seq(
      AlertChannel("email", "data-team@example.com"),
      AlertChannel("slack", "#data-alerts")))
  }

  test("default alert sink routes severity case-insensitively") {
    val r = new PipelineRunner(spark, sources = Map.empty, models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    val lines = Seq.newBuilder[String]
    r.log = new PipelineLogger("graft.test.alerts", Some(l => lines += l))
    Seq("critical", "Critical", "CRITICAL", "warning").foreach { sev =>
      r.alertSink(Alert("rule", sev, "t1", s"msg-$sev"),
        Seq(AlertChannel("email", "x@example.com")))
    }
    val levels = lines.result().map { l =>
      (raw""""level":"(\w+)"""".r.findFirstMatchIn(l).get.group(1),
        raw""""message":"msg-(\w+)"""".r.findFirstMatchIn(l).get.group(1))
    }
    // every critical spelling lands at ERROR; warning stays WARN
    assert(levels == Seq("ERROR" -> "critical", "ERROR" -> "Critical",
      "ERROR" -> "CRITICAL", "WARN" -> "warning"), levels)
  }

  test("AlertSinks.routed delivers per channel kind: file, webhook, log fallback") {
    import com.sun.net.httpserver.HttpServer
    val tmp = java.nio.file.Files.createTempDirectory("graft-alerts")
    val alertFile = tmp.resolve("sub/alerts.jsonl").toString
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/hook", ex => {
      received.add(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    // a second endpoint that always fails: delivery must log-and-continue
    server.createContext("/broken", ex => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val logLines = Seq.newBuilder[String]
      val log = new PipelineLogger("graft.test.alertsinks",
        Some(l => logLines += l))
      val fallbackHits = Seq.newBuilder[(Alert, Seq[AlertChannel])]
      val sink = AlertSinks.routed(
        Map("file" -> AlertSinks.file, "webhook" -> AlertSinks.webhook),
        (a, chs) => fallbackHits += ((a, chs)), log)
      val a1 = Alert("pipeline_failure", "critical", "t1", "task t1 failed")
      val a2 = Alert("quality", "warning", "t2", "task t2 warned")
      val channels = Seq(
        AlertChannel("file", alertFile),
        AlertChannel("webhook", s"http://127.0.0.1:$port/hook"),
        AlertChannel("webhook", s"http://127.0.0.1:$port/broken"),
        AlertChannel("email", "data-team@example.com"))
      sink(a1, channels)
      sink(a2, channels)
      // file channel: one parseable JSON line per alert, channel stamped
      val fileLines = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(alertFile))
      assert(fileLines.size == 2)
      assert(fileLines.get(0).contains("\"rule\":\"pipeline_failure\"") &&
        fileLines.get(0).contains("\"channel_kind\":\"file\""))
      assert(fileLines.get(1).contains("\"rule\":\"quality\""))
      // webhook channel: both alerts POSTed to the healthy endpoint
      val posts = received.toArray(Array.empty[String]).toSeq
      assert(posts.size == 2 &&
        posts.exists(_.contains("\"task_id\":\"t1\"")) &&
        posts.exists(_.contains("\"task_id\":\"t2\"")), posts)
      // broken endpoint: swallowed into the log, run uninterrupted
      val failures = logLines.result()
        .filter(_.contains("alert delivery failed"))
      assert(failures.size == 2 && failures.forall(_.contains("/broken")))
      // unmatched kind (email) falls back once per alert with ONLY the
      // unmatched channels
      assert(fallbackHits.result().map { case (a, chs) =>
        (a.rule, chs.map(_.kind)) } ==
        Seq(("pipeline_failure", Seq("email")), ("quality", Seq("email"))))
    } finally server.stop(0)
  }

  test("enable_metrics gates the run-summary metrics log line") {
    def specWith(flag: String) = PipelineSpec.fromYaml(
      s"""name: met
         |sources:
         |  - source_id: src
         |    source_type: file
         |monitoring:
         |  enable_metrics: $flag
         |  alert_rules: []
         |""".stripMargin)
    def runCapturing(flag: String): Seq[String] = {
      val lines = Seq.newBuilder[String]
      val r = new PipelineRunner(
        spark,
        sources = Map("src" -> (s => s.read.parquet(s"$sf/orders.parquet"))),
        models = Map.empty,
        asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      r.log = new PipelineLogger("cap", sink = Some(lines += _))
      r.run(specWith(flag))
      lines.result().filter(_.contains("pipeline metrics"))
    }
    val on = runCapturing("true")
    assert(on.size == 1)
    assert(on.head.contains("\"tasks_total\":\"1\"") &&
      on.head.contains("\"tasks_success\":\"1\""))
    // duration_sec sums the task times; wall_sec is the run's wall time
    assert(on.head.contains("\"duration_sec\":") && on.head.contains("\"wall_sec\":"), on.head)
    assert(runCapturing("false").isEmpty)
  }

  test("alert rules: unknown condition surfaces a config alert, not silence") {
    val alerts = Alerts.evaluate(
      Seq(AlertRule("typo_rule", "task_filed", "critical")),
      Map("t" -> TaskResult("t", TaskStatus.Failed)))
    assert(alerts.map(a => (a.rule, a.message)) ==
      Seq(("typo_rule", "unknown alert condition: task_filed")))
  }

  // ---- task execution history (reference task_manager.py:330-388) ----

  test("execution history and statistics accumulate across runs") {
    val histYaml =
      """name: hist
        |sources:
        |  - source_id: src
        |    source_type: file
        |    retries: 0
        |""".stripMargin
    val spec = PipelineSpec.fromYaml(histYaml)
    var fail = false
    val r = new PipelineRunner(
      spark,
      sources = Map("src" -> (s => {
        if (fail) throw new RuntimeException("down")
        s.read.parquet(s"$sf/orders.parquet")
      })),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => ()
    r.run(spec); fail = true; r.run(spec)
    val h = r.executionHistory("ingest_src")
    assert(h.map(_.status) == Seq(TaskStatus.Success, TaskStatus.Failed))
    assert(r.executionHistory("ingest_src", limit = 1)
      .map(_.status) == Seq(TaskStatus.Failed))
    val stats = r.taskStatistics("ingest_src")
    assert(stats.totalExecutions == 2 && stats.successfulExecutions == 1)
    assert(stats.successRate == 50.0)
    assert(stats.lastStatus.contains(TaskStatus.Failed))
    assert(stats.avgDurationSeconds > 0.0)
    assert(r.statsReport.map(_.taskId) == Seq("ingest_src"))
    // never-executed task → empty stats, not a crash
    assert(r.taskStatistics("nope") ==
      TaskStats("nope", 0, 0, 0.0, 0.0, None))

    // the history ring is capped like the reference's max_execution_history
    r.maxExecutionHistory = 3
    fail = false
    r.run(spec); r.run(spec)
    assert(r.executionHistory("ingest_src").size == 3)
    assert(r.executionHistory("ingest_src").map(_.status) ==
      Seq(TaskStatus.Failed, TaskStatus.Success, TaskStatus.Success))
  }

  test("quality gate null-percentage threshold catches nullable column") {
    // 20% planted nulls breach the default max_null_percentage of 0.1
    val spec = PipelineSpec.fromYaml(gateYaml(
      "      max_null_percentage: 0.1\n", required = "value"))
    val r = new PipelineRunner(
      spark,
      sources = Map("gated_src" -> (s => s.range(100)
        .selectExpr("id", "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS value"))),
      models = Map.empty,
      asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    r.sleeper = _ => ()
    val res = r.run(spec)("ingest_gated_src")
    assert(res.status == TaskStatus.Failed)
    assert(res.error.exists(e => e.contains("null_pct(value)")), res.error)
  }

  // parallelism 1 runs one task at a time; the default lets the two
  // ingests, and dim_customers' MERGE and the orders ingest, overlap
  for ((name, parallelism) <- Seq(
      "ELT canary: both MERGE paths equal a one-shot latest-wins over every batch" -> Some(1),
      "ELT canary at the default parallelism: both MERGE paths equal a one-shot latest-wins" -> None))
  test(name) {
    // dim_customers goes through the whole-table MERGE (Streams.mergeBatch)
    // and fact_orders through the partitioned one (mergeIntoPartitioned);
    // every key stays in its partition
    val s = spark
    import s.implicits._
    val canaryYaml =
      """name: elt_canary
        |sources:
        |  - source_id: customer
        |    source_type: file
        |  - source_id: orders
        |    source_type: file
        |transformations:
        |  - model_name: dim_customers
        |    model_type: mart
        |    dependencies: [customer]
        |    materialization: incremental
        |    incremental_strategy: merge
        |    unique_key: c_custkey
        |    tests:
        |      - unique: [c_custkey]
        |    retries: 0
        |  - model_name: fact_orders
        |    model_type: mart
        |    dependencies: [orders, dim_customers]
        |    materialization: incremental
        |    incremental_strategy: merge
        |    unique_key: o_orderkey
        |    tests:
        |      - unique: [o_orderkey]
        |      - relationships:
        |          to: ref('dim_customers')
        |          field: c_custkey
        |    retries: 0
        |dependencies:
        |  transform_dim_customers: [ingest_customer]
        |  transform_fact_orders: [ingest_orders, transform_dim_customers]
        |""".stripMargin
    // a full load, then two deltas: updates and inserts, a stale version
    // that must lose, and an exact re-delivery of an applied row
    val customers = Seq(
      Seq((1L, "ann", 0L), (2L, "bob", 0L), (3L, "cy", 0L)),
      Seq((2L, "bobby", 1L), (4L, "dee", 1L), (1L, "stale", -1L)),
      Seq((2L, "bobby", 1L), (3L, "cyd", 2L)))
      .map(_.toDF("c_custkey", "c_name", "version"))
    val orders = Seq(
      Seq((10L, 1L, 202401, 5.0, 0L), (11L, 2L, 202401, 7.0, 0L),
        (12L, 3L, 202402, 9.0, 0L)),
      Seq((11L, 2L, 202401, 8.0, 1L), (13L, 4L, 202402, 1.0, 1L),
        (10L, 1L, 202401, -1.0, -1L)),
      Seq((11L, 2L, 202401, 8.0, 1L), (12L, 3L, 202402, 9.5, 2L)))
      .map(_.toDF("o_orderkey", "c_custkey", "o_month", "amount", "version"))
    val root = java.nio.file.Files.createTempDirectory("graft-elt-canary").toString
    val (dimPath, factPath) = (s"$root/dim_customers", s"$root/fact_orders")
    val spec = PipelineSpec.fromYaml(canaryYaml)
    customers.zip(orders).zipWithIndex.foreach { case ((c, o), batch) =>
      val r = new PipelineRunner(spark,
        sources = Map("customer" -> (_ => c), "orders" -> (_ => o)),
        models = Map(
          "dim_customers" -> { d =>
            graft.streaming.Streams.mergeBatch(spark, d("customer"), dimPath,
              Seq("c_custkey"), "version")
            spark.read.parquet(dimPath)
          },
          "fact_orders" -> { d =>
            graft.operators.Merge.mergeIntoPartitioned(spark, factPath,
              d("orders"), Seq("o_orderkey"), col("version"), "o_month")
            spark.read.parquet(factPath)
          }),
        asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      r.sleeper = _ => ()
      val results = parallelism.fold(r.run(spec))(p => r.run(spec, parallelism = p))
      val failed = results.values.filter(_.status != TaskStatus.Success)
      assert(failed.isEmpty, s"batch $batch: " +
        failed.map(t => s"${t.taskId}: ${t.error}").mkString("; "))
    }
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    def oneShot(batches: Seq[org.apache.spark.sql.DataFrame], key: String) = {
      val all = batches.reduce(_ unionByName _)
      graft.operators.Merge.latestWins(all.limit(0), all, Seq(key), col("version"))
    }
    val dimCols = Seq("c_custkey", "c_name", "version")
    val dim = rows(spark.read.parquet(dimPath), dimCols)
    assert(dim == rows(oneShot(customers, "c_custkey"), dimCols))
    assert(dim.map(_.take(2)) == Set(Seq(1L, "ann"), Seq(2L, "bobby"),
      Seq(3L, "cyd"), Seq(4L, "dee")))
    val factCols = Seq("o_orderkey", "c_custkey", "o_month", "amount", "version")
    val fact = rows(spark.read.parquet(factPath), factCols)
    assert(fact == rows(oneShot(orders, "o_orderkey"), factCols))
    assert(fact.map(r => r.head -> r(3)).toMap ==
      Map(10L -> 5.0, 11L -> 8.0, 12L -> 9.5, 13L -> 1.0))
  }
}
