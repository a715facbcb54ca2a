package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (`tools/check_oracle.py`)
  * and failed.json, mapping each query that threw to its message. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev-loop
    // convenience; the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').map(_.trim).toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` and `outDir/failed.json`
    * ({name: message} of the queries that threw); returns that map. Each
    * result directory is deleted before its query runs, so a query that
    * throws before its write leaves no earlier run's result behind. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Bench.Query)]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val failed = queries.flatMap { case (name, fn) =>
      val out = new org.apache.hadoop.fs.Path(outDir, name)
      fs.delete(out, true)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
        None
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: $msg")
        Some(name -> msg)
      }
    }
    Files.writeString(Paths.get(s"$outDir/failed.json"), jsonObject(failed))
    failed.toMap
  }

  private def jsonObject(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle SQL string or an error message would
  // otherwise make the reader's json.load fail and silently zero the
  // correctness check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
