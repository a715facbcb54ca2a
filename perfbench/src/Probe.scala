package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

import Probe.ScopeKey

/** One traced interval: times are epoch nanoseconds of this JVM's
  * monotonic clock, `parent` is another span's id or -1, `request` is the
  * query name, delta index or micro-batch id the span belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int,
    request: String)

/** Measurement for one run, observed from outside the engine: wall clocks
  * around public calls, the heap after a full GC, and — when traced — spans plus
  * Spark's public listener events. Untraced runs install no Spark
  * listener, so the end-to-end numbers carry no listener cost. */
final class Probe(spark: SparkSession, val traced: Boolean) {

  // ---- spans ---------------------------------------------------------------
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def addSpan(name: String, start: Long, end: Long, parent: Int, request: String): Int =
    if (!traced) -1 else spans.synchronized {
      spans += Span(spans.size, name, start, end, parent, request)
      spans.size - 1
    }

  /** Time `body` as a span nested under the calling thread's open span;
    * Spark jobs it fires carry `scope` for attribution. */
  def span[T](name: String, request: String, scope: String = null)(body: => T): T = {
    if (!traced) return body
    val sc = spark.sparkContext
    val prevScope = sc.getLocalProperty(ScopeKey)
    if (scope != null) sc.setLocalProperty(ScopeKey, scope)
    val id = addSpan(name, System.nanoTime(), 0L, openSpan, request)
    try within(id)(body)
    finally {
      setEnd(id, System.nanoTime())
      if (scope != null) sc.setLocalProperty(ScopeKey, prevScope)
    }
  }

  /** Run `body` with span `id` as the calling thread's open span. */
  def within[T](id: Int)(body: => T): T = {
    stack.set(id :: stack.get)
    try body finally stack.set(stack.get.tail)
  }

  def setEnd(id: Int, end: Long): Unit =
    if (id >= 0) spans.synchronized(spans(id) = spans(id).copy(end = end))

  def setParent(id: Int, parent: Int): Unit =
    if (id >= 0) spans.synchronized(spans(id) = spans(id).copy(parent = parent))

  def openSpan: Int = stack.get.headOption.getOrElse(-1)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Per span name: (count, total seconds, self seconds), where self time
    * is the span's duration minus the part its children cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> ((ss.size, total / 1e9, self / 1e9))
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }

  // ---- Spark counters (traced runs only) -------------------------------------
  final class Counters {
    val jobs, tasks, runMs, cpuNs, inBytes, outBytes, outRecords, shuffleW, spill =
      new AtomicLong
  }
  val total = new Counters
  private val scoped = new ConcurrentHashMap[String, Counters]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  /** Jobs per streaming micro-batch id, read from the job description the
    * stream runner sets. */
  val streamJobsPerBatch = new ConcurrentHashMap[Long, AtomicLong]()
  val planMs = new DoubleAdder
  @volatile var counting = false
  @volatile private var countTotals = false

  def scope(name: String): Counters = scoped.computeIfAbsent(name, _ => new Counters)

  private val BatchRe = """batch = (\d+)""".r.unanchored

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
      val props = Option(e.properties)
      val sc = props.flatMap(p => Option(p.getProperty(ScopeKey)))
        .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .map(_ => "stream"))
        .getOrElse("other")
      e.stageIds.foreach(stageScope.put(_, sc))
      if (countTotals) total.jobs.incrementAndGet()
      scope(sc).jobs.incrementAndGet()
      if (sc == "stream")
        props.flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some(BatchRe(b)) =>
            streamJobsPerBatch.computeIfAbsent(b.toLong, _ => new AtomicLong).incrementAndGet()
          case _ => ()
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
      val m = e.taskMetrics
      if (m != null) {
        val sc = Option(stageScope.get(e.stageId)).getOrElse("other")
        for (c <- (if (countTotals) Seq(total) else Nil) :+ scope(sc)) {
          c.tasks.incrementAndGet()
          c.runMs.addAndGet(m.executorRunTime)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.inBytes.addAndGet(m.inputMetrics.bytesRead)
          c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
          c.outRecords.addAndGet(m.outputMetrics.recordsWritten)
          c.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  private object planning extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = if (counting)
      planMs.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planning)
  }

  /** Let the asynchronous listener bus deliver every pending event. */
  def drain(): Unit = if (traced) org.apache.spark.sql.GraftShims.drainListenerBus(spark)

  /** Driver heap still in use after a full GC: the least of three
    * collections 200 ms apart, since Spark's cleaner thread releases blocks
    * of collected broadcasts and shuffles only after a collection. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Start/stop the timed phase: the run's Spark totals and GC time only
    * accumulate inside it. */
  def timed(on: Boolean): Unit = {
    drain()
    counting = on; countTotals = on
    if (on) gcMsAtStart = jvmGcMs else gcMs = jvmGcMs - gcMsAtStart
  }

  /** JVM garbage-collection time of the timed phase (driver and executors
    * share the JVM in local mode). */
  var gcMs = 0L
  private var gcMsAtStart = 0L
  private def jvmGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  /** Start/stop an untimed traced pass: per-layer counters accumulate, the
    * run totals do not. */
  def canary(on: Boolean): Unit = {
    drain()
    counting = on; countTotals = false
  }

}

object Probe {
  /** Local property naming the benchmark call a Spark job belongs to. */
  val ScopeKey = "perfbench.scope"
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
