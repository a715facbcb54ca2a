package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The per-batch directory contract the accumulate-by-batch sinks
  * share: committed probe, restart guard and own-batch exclusion. */
class BatchDirsSpec extends AnyFunSuite with SparkSpec {

  /** A `batch=<id>` directory holding only a `_SUCCESS` marker. */
  private def commit(root: String, id: Long): Unit = {
    val d = Paths.get(root, s"batch=$id")
    Files.createDirectories(d)
    Files.createFile(d.resolve("_SUCCESS"))
  }

  test("debris without _SUCCESS is not a committed batch") {
    val root = Files.createTempDirectory("batchdirs-debris").toString
    Files.createDirectories(Paths.get(root, "batch=2", "_temporary", "0"))
    assert(BatchDirs.committed(spark, root).isEmpty)
    commit(root, 1)
    assert(BatchDirs.committed(spark, root) == Seq(1L))
    // a path that does not exist yet holds nothing
    assert(BatchDirs.committed(spark, s"$root/absent").isEmpty)
  }

  test("restart guard: a genuine replay of batch 0 passes") {
    val root = Files.createTempDirectory("batchdirs-replay").toString
    BatchDirs.guardRestart(spark, "someSink", root, 0L) // nothing committed
    commit(root, 0)
    BatchDirs.guardRestart(spark, "someSink", root, 0L)
  }

  test("restart guard: batch 0 over a committed later batch throws") {
    val root = Files.createTempDirectory("batchdirs-lost").toString
    commit(root, 0)
    commit(root, 3)
    val ex = intercept[IllegalStateException] {
      BatchDirs.guardRestart(spark, "someSink", root, 0L)
    }
    assert(ex.getMessage.contains("someSink"), ex.getMessage)
    assert(ex.getMessage.contains(root), ex.getMessage)
    assert(ex.getMessage.contains("the checkpoint was lost"), ex.getMessage)
    // only batch 0 can be a restart: later ids pass
    BatchDirs.guardRestart(spark, "someSink", root, 4L)
  }

  test("restart guard: an index base build at batch=-1 alone passes") {
    val root = Files.createTempDirectory("batchdirs-base").toString
    commit(root, -1)
    assert(BatchDirs.committed(spark, root) == Seq(-1L))
    BatchDirs.guardRestart(spark, "someSink", root, 0L)
  }

  test("read leaves out the caller's own batch and uncommitted data") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("batchdirs-read").toString
    assert(BatchDirs.read(spark, root, 0L).isEmpty)
    (0L to 3L).foreach(i => BatchDirs.write(Seq(i * 10).toDF("v"), root, i))
    // batch 3's files landed but its commit marker did not
    Files.delete(Paths.get(root, "batch=3", "_SUCCESS"))
    val seen = BatchDirs.read(spark, root, 1L).get
      .select("v").as[Long].collect().toSet
    assert(seen == Set(0L, 20L))
    // the only committed batch is the caller's own: no state
    val solo = Files.createTempDirectory("batchdirs-solo").toString
    BatchDirs.write(Seq(1).toDF("v"), solo, 0L)
    assert(BatchDirs.read(spark, solo, 0L).isEmpty)
    // a replayed write replaces the batch's directory
    BatchDirs.write(Seq(7).toDF("v"), solo, 0L)
    assert(BatchDirs.read(spark, solo, 1L).get
      .select("v").as[Int].collect().toSeq == Seq(7))
  }
}
