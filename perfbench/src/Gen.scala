package perfbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Seeded input generation. Everything a run reads is derived from the
  * `--seed` argument: the same seed gives the same rows. Tables follow the
  * engine's test-table schemas (one parquet file each, naive microsecond
  * timestamps), so `SparkEntry` queries and their DuckDB twins run
  * unchanged on them. */
object Gen {

  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Array("F", "O", "P")
  val ReturnFlags = Array("A", "N", "R")
  val LineStatuses = Array("F", "O")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Array("click", "signup", "error", "view", "purchase")

  /** First and last order date; the newest three months start at `Recent`. */
  val FirstDay: LocalDate = LocalDate.of(1995, 1, 1)
  val LastDay: LocalDate = LocalDate.of(2001, 8, 1)
  val Recent: LocalDate = LastDay.minusMonths(3)
  /** The pipeline workloads keep two years of orders: 24 month partitions. */
  val PipelineFrom: LocalDate = LastDay.minusMonths(24)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  final case class Customer(key: Long, name: String, nation: Int, acctbal: Double,
      segment: String)
  final case class Order(key: Long, cust: Long, status: String, total: Double,
      date: LocalDate, priority: String)
  final case class Line(order: Long, num: Int, part: Long, supp: Long, qty: Double,
      price: Double, disc: Double, tax: Double, rflag: String, lstatus: String,
      ship: LocalDate)

  /** The retail entities at scale factor `sf` (TPC-H cardinalities). */
  final case class Retail(customers: Vector[Customer], orders: Vector[Order],
      lines: Vector[Line], nParts: Int, nSupp: Int)

  def customer(r: SplittableRandom, key: Long): Customer =
    Customer(key, f"Customer#$key%09d", r.nextInt(25), money(r, -999.99, 9999.99),
      Segments(r.nextInt(Segments.length)))

  def order(r: SplittableRandom, key: Long, nCust: Int, date: LocalDate): Order =
    Order(key, r.nextInt(nCust).toLong, Statuses(r.nextInt(3)), money(r, 1000, 500000),
      date, Priorities(r.nextInt(5)))

  def lines(r: SplittableRandom, o: Order, nParts: Int, nSupp: Int): Vector[Line] =
    Vector.tabulate(1 + r.nextInt(7)) { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      Line(o.key, i + 1, r.nextInt(nParts).toLong, r.nextInt(nSupp).toLong, qty,
        math.round(qty * (900 + r.nextInt(1200)) * 100) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
        o.date.plusDays(1 + r.nextInt(120)))
    }

  def randomDay(r: SplittableRandom, from: LocalDate): LocalDate =
    from.plusDays(r.nextLong(LastDay.toEpochDay - from.toEpochDay + 1))

  /** Orders are dated uniformly from `from` to [[LastDay]]. */
  def retail(seed: Long, sf: Double, from: LocalDate = FirstDay): Retail = {
    val nCust = math.max(150, (150000 * sf).toInt)
    val nOrders = math.max(1500, (1500000 * sf).toInt)
    val nParts = math.max(200, (200000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val rc = rng(seed, 1)
    val customers = Vector.tabulate(nCust)(i => customer(rc, i.toLong))
    val ro = rng(seed, 2)
    val orders = Vector.tabulate(nOrders)(i => order(ro, i.toLong, nCust, randomDay(ro, from)))
    val rl = rng(seed, 3)
    Retail(customers, orders, orders.flatMap(o => lines(rl, o, nParts, nSupp)), nParts, nSupp)
  }

  // ---- writing -----------------------------------------------------------

  def ntz(d: LocalDate): LocalDateTime = d.atStartOfDay()

  def frame(spark: SparkSession, schema: StructType, rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)

  /** Write `df` as ONE parquet file `dir/name.parquet` (the layout both
    * `graft.queries.table` and the DuckDB oracle read). */
  def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = new File(dir, s"_tmp_$name")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    require(part.renameTo(new File(dir, s"$name.parquet")), s"rename $part")
    Files.delete(tmp)
  }

  private def f(name: String, t: DataType) = StructField(name, t)

  /** The tables the traced run's queries read (`lineitem`, `events`) at
    * `sf` under `dir`. */
  def writeQueryTables(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    new File(dir).mkdirs()
    val rt = retail(seed, sf)
    writeSingle(frame(spark, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      rt.lines.map(l => Row(l.order, l.part, l.supp, l.num, l.qty, l.price, l.disc, l.tax,
        l.rflag, l.lstatus, ntz(l.ship)))), dir, "lineitem")
    writeSingle(events(spark, seed, sf), dir, "events")
  }

  def events(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val n = math.max(1000, (1000000 * sf).toInt)
    val users = math.max(15, (15000 * sf).toInt)
    val r = rng(seed, 6)
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val micros = Array.fill(n)(r.nextLong(30L * 86400L * 1000000L)).sorted
    frame(spark, StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      micros.indices.map { i =>
        Row(i.toLong, start.plusNanos(micros(i) * 1000L), r.nextInt(users).toLong,
          EventTypes(r.nextInt(EventTypes.length)),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01,
          s"""{"k": ${r.nextInt(100)}}""")
      })
  }

  def date(d: LocalDate): Date = Date.valueOf(d)
  def ts(ms: Long): Timestamp = new Timestamp(ms)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Total bytes under `f`. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    else f.length()

  /** Regular files under `f` (recursively). */
  def list(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(list) else Seq(f)

  /** The parquet files under `dir`, as (path, modification time). */
  def parquet(dir: File): Set[(String, Long)] =
    list(dir).filter(_.getName.endsWith(".parquet")).map(f => (f.getPath, f.lastModified)).toSet

  /** The parquet files written since `before` was taken, and the distinct
    * partition directories they lie in. */
  def written(dir: File, before: Set[(String, Long)]): (Int, Int) = {
    val fresh = parquet(dir) -- before
    (fresh.size, fresh.map(f => new File(f._1).getParent).size)
  }
}
