package graft.stress

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the stress mains share: their session, a wall-clock timer, the
  * JVM's peak heap and the one-line JSON report. Run a main with
  * `sbt "Test/runMain graft.stress.<Name>"`; SPARK_GRAFT_CPUS sets the
  * local parallelism (default 32). */
object Stress {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def peakHeapMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)
  }

  /** Prints `{"metric":…, fields…, "peak_heap_mb":…}` on one line.
    * Doubles (seconds) print to one decimal; every other value prints
    * as is, so it must already be a JSON number or array. */
  def report(metric: String, fields: (String, Any)*): Unit = {
    val kvs = ("metric" -> ("\"" + metric + "\"")) +: fields :+
      ("peak_heap_mb" -> peakHeapMb())
    println(kvs.map { case (k, v) =>
      val j = v match {
        case d: Double => f"$d%.1f"
        case x => x.toString
      }
      "\"" + k + "\":" + j
    }.mkString("{", ",", "}"))
  }

  /** The deterministic text corpus of TextStress and StreamStress
    * (`nDocs` = 50k is sf1.0's documents volume): a 100-token word
    * salad per doc (stopwords included so the Gopher gate has real
    * positives), a unique end marker per doc, and a shared 60-token
    * boilerplate prefix on every 7th doc. Returns the checkpointed
    * corpus and the boilerplate. */
  def textCorpus(spark: SparkSession, nDocs: Long): (DataFrame, String) = {
    val words = Seq("the", "be", "to", "of", "and", "that", "have",
      "with", "table", "scan", "row", "filter", "vector", "sort",
      "query", "fast", "group", "agg", "hash", "merge", "batch",
      "value", "part", "spark", "line", "window", "key", "slow",
      "plan", "join", "shuffle", "stage")
    val vocab = array(words.map(lit): _*)
    val boiler = Seq.tabulate(60)(k => words(k % words.size)).mkString(" ")
    val body = concat_ws(" ",
      transform(sequence(lit(0), lit(98)),
        i => element_at(vocab,
          pmod(hash(col("doc_id") * 101 + i), lit(words.size)) + 1)))
    val docs = spark.range(0, nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"),
        concat(
          when(col("doc_id") % 7 === 0, lit(boiler + " ")).otherwise(lit("")),
          body, lit(" endmark"), col("doc_id").cast("string")).as("text"))
      .localCheckpoint() // synthesis must not re-run per downstream pass
    (docs, boiler)
  }
}
