package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, Paths}

import graft.operators.Merge
import graft.pipeline.{PipelineRunner, PipelineSpec, TaskGraph, TaskResult, TaskStatus}
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** The reference's own pipeline through `PipelineRunner.run`: one full
  * load into an empty warehouse, then seeded deltas. Each batch lands as
  * a directory of parquet files that becomes visible by one rename just
  * before its `run()`. */
object Elt {

  /** A full-load batch `f0` and `deltas` batches (`d1`, `d2`, ...), each
    * ~1% of the orders updated (90% of them in the newest three months),
    * ~0.2% new orders and ~1% of the customers changed. */
  final case class Size(sf: Double, deltas: Int)

  /** The batches of `size` in load order: `f0`, `d1`, ... */
  def batches(size: Size): Seq[String] = "f0" +: (1 to size.deltas).map(k => s"d$k")

  final case class Prepared(root: String, sf: Double, deltas: Int,
      orderRows: Map[String, Long], customerRows: Map[String, Long])

  final case class Result(fullLoadS: Seq[Double], deltaS: Seq[Double], runs: Int, failedRuns: Int,
      tasks: Int, failedTasks: Int, ingestS: Double, transformS: Double, validateS: Double,
      controlS: Double, merges: MergeStats, errors: Seq[String])

  /** What the benchmark's own model closures saw of the MERGE calls. */
  final class MergeStats {
    var seconds = 0.0
    var deltaRows = 0L
    var rowsWritten = 0L
    var partitions = 0L
    var files = 0L
  }

  private val T0 = java.sql.Timestamp.valueOf("2001-08-01 00:00:00").getTime
  private def updatedAt(batch: Int) = Gen.ts(T0 + batch * 3600000L)
  private val MonthOf: Column = (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))

  // ---- inputs ----------------------------------------------------------------

  /** Generate the full load and every delta under `root/staging`. */
  def prepare(spark: SparkSession, seed: Long, size: Size, root: String): Prepared = {
    val rt = Gen.retail(seed, size.sf, Gen.PipelineFrom)
    val orders = scala.collection.mutable.LinkedHashMap.empty[Long, Gen.Order]
    rt.orders.foreach(o => orders(o.key) = o)
    var recent = rt.orders.filter(!_.date.isBefore(Gen.Recent)).map(_.key)
    val older = rt.orders.filter(_.date.isBefore(Gen.Recent)).map(_.key)
    val oRows, lRows, cRows = Seq.newBuilder[Row]
    def emit(o: Gen.Order, ls: Seq[Gen.Line], batch: String, version: Int): Unit = {
      oRows += Row(o.key, o.cust, o.status, o.total, Gen.date(o.date), o.priority, version.toLong,
        updatedAt(version), batch)
      ls.foreach(l => lRows += Row(l.order * 8 + l.num, l.order, l.num, l.part, l.qty, l.price,
        l.disc, version.toLong, batch))
    }
    def emitC(c: Gen.Customer, batch: String, version: Int): Unit =
      cRows += Row(c.key, c.name, c.nation, c.acctbal, c.segment, version.toLong,
        updatedAt(version), batch)
    val byOrder = rt.lines.groupBy(_.order)
    val orderCounts = Map.newBuilder[String, Long]; val custCounts = Map.newBuilder[String, Long]
    rt.orders.foreach(o => emit(o, byOrder(o.key), "f0", 0))
    rt.customers.foreach(emitC(_, "f0", 0))
    orderCounts += "f0" -> rt.orders.size.toLong; custCounts += "f0" -> rt.customers.size
    var nextKey = rt.orders.size.toLong
    for (k <- 1 to size.deltas) {
      val r = Gen.rng(seed, 100 + k)
      val nUp = math.max(1, math.round(orders.size * 0.01).toInt)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < nUp) {
        val pool = if (r.nextInt(10) < 9 && recent.nonEmpty) recent else older
        picked += pool(r.nextInt(pool.size))
      }
      picked.foreach { key =>
        val o = orders(key).copy(status = Gen.Statuses(r.nextInt(3)),
          total = Gen.money(r, 1000, 500000))
        orders(key) = o
        emit(o, Gen.lines(r, o, rt.nParts, rt.nSupp), s"d$k", k)
      }
      val nNew = math.max(1, math.round(orders.size * 0.002).toInt)
      for (_ <- 0 until nNew) {
        val o = Gen.order(r, nextKey, rt.customers.size, Gen.LastDay.minusDays(r.nextInt(30)))
        orders(o.key) = o; recent :+= o.key; nextKey += 1
        emit(o, Gen.lines(r, o, rt.nParts, rt.nSupp), s"d$k", k)
      }
      val nCust = math.max(1, math.round(rt.customers.size * 0.01).toInt)
      val custs = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (custs.size < nCust) custs += r.nextInt(rt.customers.size).toLong
      custs.foreach(c => emitC(Gen.customer(r, c), s"d$k", k))
      orderCounts += s"d$k" -> (picked.size + nNew).toLong; custCounts += s"d$k" -> custs.size
    }
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      Gen.frame(spark, schema, rows).write.partitionBy("batch")
        .parquet(s"$root/staging/$name")
    write(oRows.result(), StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
      StructField("version", LongType), StructField("updated_at", TimestampType),
      StructField("batch", StringType))), "orders")
    write(lRows.result(), StructType(Seq(
      StructField("l_key", LongType), StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("version", LongType),
      StructField("batch", StringType))), "lineitem")
    write(cRows.result(), StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType), StructField("version", LongType),
      StructField("updated_at", TimestampType), StructField("batch", StringType))), "customer")
    Prepared(root, size.sf, size.deltas, orderCounts.result(), custCounts.result())
  }

  // ---- models ------------------------------------------------------------------

  def stgOrders(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val perOrder = lineitem.groupBy(col("l_orderkey").as("o_orderkey"), col("version"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("quantity"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 6)))
          .as("revenue"))
    orders.join(perOrder, Seq("o_orderkey", "version"))
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), MonthOf.as("o_month"), col("o_orderpriority"),
        col("n_lines"), col("quantity"), col("revenue"), col("version"), col("updated_at"))
  }

  def stgCustomers(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
      lower(col("c_mktsegment")).as("c_mktsegment"), col("version"), col("updated_at"))

  // ---- run -------------------------------------------------------------------

  /** Run the pipeline once per batch, in order, into one warehouse,
    * timing each `run()`. `failTask` names a model whose closure throws in
    * one batch (the self-test). */
  def run(spark: SparkSession, probe: Probe, p: Prepared, specYaml: String, batches: Seq[String],
      failTask: Option[(String, String)] = None): Result = {
    val scale = p.sf / 0.01
    val yaml = specYaml
      .replace("${MIN_DIM_ROWS}", math.max(1L, math.round(1000 * scale)).toString)
      .replace("${MIN_FACT_ROWS}", math.max(1L, math.round(5000 * scale)).toString)
    val merges = new MergeStats
    var ingest, transform, validate, control = 0.0
    val fullLoads = Seq.newBuilder[Double]
    val deltas = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var failedRuns, tasks, failedTasks = 0

    def merge(table: String, path: String, deltaRows: Long)(body: => Unit): Unit = {
      val (before, files0) = if (probe.traced) {
        probe.drain(); (probe.scope("merge").outRecords.get, Files.parquet(new File(path)))
      } else (0L, Set.empty[(String, Long)])
      val t0 = System.nanoTime()
      probe.span("elt.merge", table, "merge")(body)
      merges.seconds += (System.nanoTime() - t0) / 1e9
      merges.deltaRows += deltaRows
      if (probe.traced) {
        probe.drain()
        merges.rowsWritten += probe.scope("merge").outRecords.get - before
        val (files, partitions) = Files.written(new File(path), files0)
        merges.files += files
        merges.partitions += partitions
      }
    }

    val dimPath = s"${p.root}/warehouse/dim_customers"
    val factPath = s"${p.root}/warehouse/fact_orders"
    for (batch <- batches) {
      val landing = s"${p.root}/landing/$batch"
      val spec = PipelineSpec.fromYaml(yaml, Map("LANDING" -> landing))
      type Model = Map[String, DataFrame] => DataFrame
      val models: Map[String, Model] = Map[String, Model](
        "stg_orders" -> (d => stgOrders(d("orders"), d("lineitem"))),
        "stg_customers" -> (d => stgCustomers(d("customer"))),
        "dim_customers" -> { d =>
          merge("dim_customers", dimPath, p.customerRows(batch)) {
            Streams.mergeBatch(spark, d("stg_customers"), dimPath, Seq("c_custkey"), "version")
          }
          spark.read.parquet(dimPath)
        },
        "fact_orders" -> { d =>
          merge("fact_orders", factPath, p.orderRows(batch)) {
            Merge.mergeIntoPartitioned(spark, factPath, d("stg_orders"), Seq("o_orderkey"),
              col("version"), "o_month")
          }
          spark.read.parquet(factPath)
        }).map { case (name, fn) =>
          name -> (if (failTask.contains((name, batch))) (_: Map[String, DataFrame]) =>
            throw new IllegalStateException(s"injected failure in $name") else fn)
        }
      val runner = new PipelineRunner(spark, PipelineRunner.sourcesFromSpec(spec), models,
        updatedAt(p.deltas + 1))
      // the batch becomes visible: one rename per table out of staging
      val t0 = System.nanoTime()
      new File(landing).mkdirs()
      for (t <- Seq("orders", "lineitem", "customer"))
        NioFiles.move(Paths.get(s"${p.root}/staging/$t/batch=$batch"), Paths.get(s"$landing/$t"))
      val runSpan = probe.addSpan("elt.run", t0, 0L, probe.openSpan, batch)
      val results = try probe.within(runSpan)(runner.run(spec)) catch {
        case NonFatal(e) => errors += s"batch $batch: $e"; Map.empty[String, TaskResult]
      }
      val t1 = System.nanoTime()
      val wall = (t1 - t0) / 1e9
      // task spans laid out in execution order from the TaskResult timings
      val order = TaskGraph.fromSpec(spec).executionLevels.flatten
      var at = t0
      var taskSum = 0.0
      val transforms = Seq.newBuilder[(Int, Long, Long)]
      order.flatMap(results.get).foreach { r =>
        val d = (r.durationSeconds * 1e9).toLong
        val kind = r.taskId.takeWhile(_ != '_')
        val id = probe.addSpan(s"elt.$kind", at, at + d, runSpan, batch)
        if (kind == "transform") transforms += ((id, at, at + d))
        at += d
        taskSum += r.durationSeconds
        kind match {
          case "ingest" => ingest += r.durationSeconds
          case "transform" => transform += r.durationSeconds
          case _ => validate += r.durationSeconds
        }
      }
      probe.setEnd(runSpan, t1)
      // a MERGE ran inside its model's transform task
      for (m <- probe.allSpans if m.name == "elt.merge" && m.parent == runSpan;
           (id, _, _) <- transforms.result().find { case (_, s, e) =>
             s <= (m.start + m.end) / 2 && (m.start + m.end) / 2 <= e })
        probe.setParent(m.id, id)
      control += wall - taskSum
      Bench.note(f"elt batch $batch: $wall%.2f s; " +
        order.flatMap(results.get).map(r => f"${r.taskId}=${r.durationSeconds}%.2f").mkString(" "))
      tasks += spec.taskIds.size
      val bad = spec.taskIds.filter(id => !results.get(id).exists(_.status == TaskStatus.Success))
      failedTasks += bad.size
      if (bad.nonEmpty) {
        failedRuns += 1
        errors += s"batch $batch: " + bad.map(id => s"$id=" +
          results.get(id).map(r => s"${r.status} ${r.error.getOrElse("")}".take(200))
            .getOrElse("missing")).mkString("; ")
      } else if (batch.startsWith("f")) fullLoads += wall
      else deltas += wall
    }
    transform -= merges.seconds
    Result(fullLoads.result(), deltas.result(), batches.size, failedRuns, tasks,
      failedTasks, ingest, transform, validate, control, merges, errors.result())
  }

  // ---- correctness -------------------------------------------------------------

  private def latest(df: DataFrame, key: String): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(col("version").desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** The final `dim_customers` and `fact_orders` must equal a one-shot
    * latest-wins recomputation over every batch loaded. Returns the
    * mismatches (empty when correct). */
  def check(spark: SparkSession, p: Prepared): Seq[String] = {
    val in = (t: String) => spark.read.parquet(s"${p.root}/landing/*/$t")
    val expectFact = stgOrders(latest(in("orders"), "o_orderkey"), in("lineitem"))
    val expectDim = stgCustomers(latest(in("customer"), "c_custkey"))
    Seq("fact_orders" -> expectFact, "dim_customers" -> expectDim).flatMap { case (t, exp) =>
      Fingerprint.compare(t, spark.read.parquet(s"${p.root}/warehouse/$t"), exp)
    }
  }
}

/** Order-free table comparison: row count plus the exact sum of a 64-bit
  * hash of every row, over the columns sorted by name. */
object Fingerprint {
  def of(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def compare(name: String, actual: DataFrame, expected: DataFrame): Seq[String] = {
    val (an, ah) = of(actual)
    val (en, eh) = of(expected)
    if (actual.columns.sorted.toSeq != expected.columns.sorted.toSeq)
      Seq(s"$name: columns ${actual.columns.sorted.mkString(",")} vs " +
        expected.columns.sorted.mkString(","))
    else if (an != en || ah != eh) Seq(s"$name: $an rows hash $ah, expected $en rows hash $eh")
    else Nil
  }
}
