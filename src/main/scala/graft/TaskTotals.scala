package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftShims

/** Running task-metric totals from the listener bus: jobs, stages,
  * shuffle-write bytes and spilled bytes (memory + disk). Each is a
  * pure function of the plan and the data, unlike wall seconds, so
  * they settle plan-shape disputes. [[around]] drains the bus on both
  * sides of a block so the block's own events are all counted before
  * the totals are read. */
final class TaskTotals extends SparkListener {
  private val jobs, stages, shuffleWrite, spill = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def counts: TaskTotals.Counts =
    TaskTotals.Counts(jobs.get, stages.get, shuffleWrite.get, spill.get)

  /** Runs `f` and returns its result with the counts its jobs added.
    * The listener must already be registered on `spark`. */
  def around[A](spark: SparkSession)(f: => A): (A, TaskTotals.Counts) = {
    GraftShims.drainListenerBus(spark)
    val before = counts
    val r = f
    GraftShims.drainListenerBus(spark)
    (r, counts - before)
  }
}

object TaskTotals {
  final case class Counts(jobs: Long, stages: Long,
      shuffleWriteBytes: Long, spillBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  }

  /** A listener registered on `spark` for the duration of `f` only. */
  def measure[A](spark: SparkSession)(f: => A): (A, Counts) = {
    val t = new TaskTotals
    spark.sparkContext.addSparkListener(t)
    try t.around(spark)(f)
    finally spark.sparkContext.removeSparkListener(t)
  }
}
