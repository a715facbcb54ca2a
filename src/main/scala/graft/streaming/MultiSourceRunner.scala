package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import java.util.concurrent.{ConcurrentHashMap, Semaphore}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** C6/E5: bounded multi-source concurrency as CODE, not a design note.
  *
  * The reference's `MultiSourceChangeDetector`
  * (`src/ingestion/change_detection.py:366-501`) runs change detection
  * over N registered sources through a `ThreadPoolExecutor` bounded by
  * `max_concurrent_sources`, isolates per-source failures, and exposes
  * `get_source_status()`. On Spark the unit of per-source work is a
  * StreamingQuery on the shared session; this runner:
  *
  *  - registers named starters (`() => StreamingQuery`) per source;
  *  - `detectAll()` — one bounded detection CYCLE: at most
  *    `maxConcurrent` queries in flight, each awaited to termination
  *    (pair with `Trigger.AvailableNow` for the reference's
  *    drain-then-stop semantics), per-source failures captured, never
  *    propagated to sibling sources;
  *  - `startAll()`/`stopAll()` — continuous mode, all sources live at
  *    once (Spark's scheduler multiplexes micro-batches across the
  *    cluster, so the "pool" for continuous queries is the cluster
  *    itself);
  *  - `status()` — per-source health/rows/batches, the
  *    `get_source_status` twin.
  *
  * Scale note: concurrency here is CONTROL-plane (query lifecycles).
  * Data-plane parallelism stays inside each query's own jobs, so N
  * sources on a 1000-executor cluster share executors fairly via the
  * scheduler — no driver-side data movement in this class.
  */
class MultiSourceRunner(spark: SparkSession, maxConcurrent: Int = 4) {
  require(maxConcurrent >= 1, "maxConcurrent must be >= 1")

  /** Terminal per-source report for one detection cycle / status probe. */
  case class SourceStatus(
      name: String,
      healthy: Boolean,
      state: String, // "running" | "terminated" | "failed" | "registered"
      inputRows: Long,
      batches: Long,
      error: Option[String])

  private val starters =
    mutable.LinkedHashMap.empty[String, () => StreamingQuery]
  private val running = new ConcurrentHashMap[String, StreamingQuery]()
  // high-water mark of simultaneously-active queries (observability +
  // the bounded-pool test hook)
  private val active = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var highWater = 0

  def register(name: String, starter: () => StreamingQuery): Unit =
    synchronized { starters(name) = starter }

  def unregister(name: String): Unit = synchronized { starters -= name }

  def maxObservedConcurrency: Int = highWater

  // running totals per query id, fed by `observe` below — recentProgress
  // is a BOUNDED ring buffer (~100 entries), so summing it silently
  // undercounts any source that outlives the window
  private val rowTotals = new ConcurrentHashMap[java.util.UUID, Long]()
  private val batchTotals = new ConcurrentHashMap[java.util.UUID, Long]()
  private val lastSeenBatch = new ConcurrentHashMap[java.util.UUID, Long]()

  // serializes the check-then-update fold below; without it two
  // concurrent status() probes (or a probe racing detectAll's terminal
  // fold) can both pass the batchId > last check and double-count
  private val observeLock = new Object

  /** Fold a query's new progress entries into the running totals —
    * called on every status probe and at termination. Totals are exact
    * whenever probes happen at least once per ring-buffer window
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100
    * batches); probe sparser than that and the gap's batches age out
    * before they are folded — raise the conf for sparse monitoring.
    * Control-plane only (a handful of entries per probe), so one
    * runner-wide monitor is cheap and race-free. */
  private def observe(q: StreamingQuery): Unit = observeLock.synchronized {
    q.recentProgress.foreach { p =>
      val last = lastSeenBatch.getOrDefault(q.id, -1L)
      if (p.batchId > last) {
        lastSeenBatch.put(q.id, p.batchId)
        rowTotals.merge(q.id, p.numInputRows, (a, b) => a + b)
        batchTotals.merge(q.id, 1L, (a, b) => a + b)
      }
    }
  }

  private def progressTotals(q: StreamingQuery): (Long, Long) = {
    observe(q)
    (rowTotals.getOrDefault(q.id, 0L), batchTotals.getOrDefault(q.id, 0L))
  }

  /** One bounded detection cycle: every registered source runs to
    * termination, at most `maxConcurrent` in flight. Per-source errors
    * (starter throws, query fails) land in that source's status — the
    * reference's error isolation (`change_detection.py:444-449`). */
  def detectAll(timeoutMs: Long = 120000L): Map[String, SourceStatus] = {
    val snapshot = synchronized { starters.toSeq }
    val permits = new Semaphore(maxConcurrent)
    val results = new ConcurrentHashMap[String, SourceStatus]()
    val threads = snapshot.map { case (name, starter) =>
      val t = new Thread(() => {
        permits.acquire()
        val n = active.incrementAndGet()
        synchronized { if (n > highWater) highWater = n }
        try {
          val q = starter()
          running.put(name, q)
          try {
            val finished = q.awaitTermination(timeoutMs)
            if (!finished) q.stop()
            val (rows, batches) = progressTotals(q)
            results.put(name,
              SourceStatus(name, healthy = finished, "terminated",
                rows, batches, if (finished) None else Some("timeout")))
          } finally running.remove(name)
        } catch {
          case e: Throwable =>
            results.put(name,
              SourceStatus(name, healthy = false, "failed", 0L, 0L,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
        } finally {
          active.decrementAndGet()
          permits.release()
        }
      }, s"graft-source-$name")
      t.start(); t
    }
    threads.foreach(_.join())
    snapshot.map { case (name, _) =>
      name -> results.getOrDefault(name,
        SourceStatus(name, healthy = false, "failed", 0L, 0L,
          Some("no result")))
    }.toMap
  }

  /** Continuous mode: start every registered source that is not already
    * running. Returns the live queries by name. `computeIfAbsent` makes
    * the check-and-start atomic — two concurrent callers can never start
    * (and leak) a second live query for the same source. */
  def startAll(): Map[String, StreamingQuery] = {
    val snapshot = synchronized { starters.toSeq }
    snapshot.foreach { case (name, starter) =>
      running.computeIfAbsent(name, _ => starter())
    }
    running.asScala.toMap
  }

  /** Stop every query this runner started. */
  def stopAll(): Unit = {
    running.asScala.values.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
    running.clear()
  }

  /** `get_source_status` twin: live health per source. A source is
    * healthy if its query is active (or cleanly terminated without
    * exception). Sources never started report state "registered". */
  def status(): Map[String, SourceStatus] = {
    val snapshot = synchronized { starters.keys.toSeq }
    snapshot.map { name =>
      val st = Option(running.get(name)) match {
        case Some(q) =>
          val (rows, batches) = progressTotals(q)
          val failed = Option(q.exception).flatten
          if (failed.isDefined)
            SourceStatus(name, healthy = false, "failed", rows, batches,
              failed.map(_.getMessage))
          else if (q.isActive)
            SourceStatus(name, healthy = true, "running", rows, batches, None)
          else
            SourceStatus(name, healthy = true, "terminated", rows, batches, None)
        case None =>
          SourceStatus(name, healthy = false, "registered", 0L, 0L, None)
      }
      name -> st
    }.toMap
  }

  /** Component health (`change_detection.py:404-415`): at least one
    * source healthy. */
  def healthCheck(): Boolean = status().values.exists(_.healthy)
}
