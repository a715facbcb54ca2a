package graft.tools

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, TaskTotals}
import graft.stress.Stress
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dev inspector for named `SparkEntry` queries (not library API):
  *
  *  - `plan <q>[,<q>...] [k=v ...] [--run] [<outDir> <tag>]` prints each
  *    query's formatted plan under the given session confs, or writes it
  *    to `<outDir>/<q>_<tag>.txt` (the plans/rNN evidence files). `--run`
  *    also shows 10 rows and the AQE-final executed plan, where
  *    ReusedExchange and skew splits actually appear.
  *  - `shape <q> ...` prints the exchange/scan skeleton: shuffle, broadcast,
  *    reuse and window counts plus the plan lines that carry them.
  *  - `jobs <q> ...` runs each query through the noop sink and prints its
  *    Spark job and stage counts, which unlike wall seconds do not move
  *    with host noise. Under AQE every exchange is its own job, so compare
  *    runs of the same Spark version only.
  *
  * Run with `sbt "Test/runMain graft.tools.Inspect <mode> ..."`. The session
  * matches the bench's: `local[SPARK_GRAFT_CPUS]` (default 32) over the
  * scale-factor directory SPARK_GRAFT_SF_DIR, with the graft extensions
  * installed as they are once any query has installed them. */
object Inspect {
  private val usage = "usage: Inspect plan <q>[,<q>...] [k=v ...] [--run] " +
    "[<outDir> <tag>] | shape <q> ... | jobs <q> ..."

  def main(args: Array[String]): Unit = {
    if (args.length < 2) sys.error(usage)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory"))
    val spark = Stress.session()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.functions.GraftExtensions.install(spark)
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
    args.head match {
      case "plan" => plan(spark, args.tail, query)
      case "shape" => args.tail.foreach(n => shape(n, query(n)))
      case "jobs" =>
        val totals = new TaskTotals
        spark.sparkContext.addSparkListener(totals)
        args.tail.foreach { n =>
          val (t, c) = totals.around(spark)(Stress.timed(
            query(n).write.format("noop").mode("overwrite").save())._2)
          println(f"[jobs] $n%-28s jobs=${c.jobs}%3d stages=${c.stages}%3d wall=$t%.2f")
        }
      case _ => sys.error(usage)
    }
    spark.stop()
  }

  private def plan(spark: SparkSession, args: Seq[String],
      query: String => DataFrame): Unit = {
    val (confs, rest) = args.partition(_.contains("="))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val run = rest.contains("--run")
    val (names, dump) = rest.filterNot(_ == "--run") match {
      case Seq(qs) => (qs.split(','), None)
      case Seq(qs, dir, tag) => (qs.split(','), Some((dir, tag)))
      case _ => sys.error(usage)
    }
    for (n <- names) {
      val df = query(n)
      val text = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      dump match {
        case Some((dir, tag)) =>
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(s"$dir/${n}_$tag.txt"), text)
          println(s"wrote $dir/${n}_$tag.txt")
        case None => println(text)
      }
      if (run) {
        df.show(10, truncate = false)
        println("=== executed (AQE-final) ===")
        println(df.queryExecution.executedPlan.toString)
      }
    }
  }

  private def shape(name: String, df: DataFrame): Unit = {
    println(s"========== $name")
    val plan = df.queryExecution.executedPlan.toString
    // shuffles only — "Exchange " alone would also match Broadcast-
    // and ReusedExchange and overstate the number the design cares about
    println("Shuffles: " +
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllIn(plan).length +
      "  Broadcasts: " + "BroadcastExchange".r.findAllIn(plan).length +
      "  Reused: " + "ReusedExchange".r.findAllIn(plan).length +
      "  Windows: " + "Window".r.findAllIn(plan).length)
    println(plan.linesIterator.filter(l =>
      l.contains("Exchange") || l.contains("Scan parquet") ||
      l.contains("PushedFilters") || l.contains("Window") ||
      l.contains("Expand") || l.contains("Generate")).take(25).mkString("\n"))
  }
}
