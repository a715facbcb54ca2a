package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import scala.util.control.NonFatal

/** The analyst path: `SparkEntry.queries`, one client, closed loop. Each
  * query is built (its function runs, including any eager jobs) and then
  * executed through the `noop` sink; a query that throws is counted as
  * failed and contributes no timing. */
object Mix {

  /** The queries a traced run executes: a retail scan aggregate and a
    * build-heavy quantile descent. */
  val Canary: Seq[String] = Seq("q1_pricing_summary", "v_quantiles_dist")

  final case class Result(times: Seq[Double], buildS: Double, execS: Double,
      attempted: Int, failed: Int, errors: Seq[String])

  type Fn = (SparkSession, String) => DataFrame

  /** Run `names` in order over the tables in `dir`. With `outDir` each
    * result is written as parquet (the oracle pass); otherwise it goes
    * to the `noop` sink. */
  def run(spark: SparkSession, probe: Probe, dir: String, names: Seq[String],
      queries: Map[String, Fn], outDir: Option[String] = None): Result = {
    val times = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var buildS, execS = 0.0
    var failed = 0
    for (name <- names) {
      try {
        val (b, e) = probe.span("mix.query", name) {
          val q0 = System.nanoTime()
          val df = probe.span("mix.build", name, "mix.build")(queries(name)(spark, dir))
          val q1 = System.nanoTime()
          probe.span("mix.exec", name, "mix.exec") {
            outDir match {
              case Some(o) => df.write.mode(SaveMode.Overwrite).parquet(s"$o/$name")
              case None => df.write.format("noop").mode(SaveMode.Overwrite).save()
            }
          }
          ((q1 - q0) / 1e9, (System.nanoTime() - q1) / 1e9)
        }
        buildS += b; execS += e
        times += b + e
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$name: ${e.toString.take(300)}"
      }
    }
    Result(times.result(), buildS, execS, names.size, failed,
      errors.result())
  }
}
