package graft.stress

import graft.er.EntityResolution
import graft.er.EntityResolution.{BlockingPass, ErScoring}
import org.apache.spark.sql.functions._

import Stress.timed

/** Scale stress for entity resolution (`sbt "Test/runMain graft.stress.ErStress"`):
  * the full block → score → cluster → survive pipeline at 10× and 40×
  * the bench feed volume, plus the degenerate-block guard.
  *
  * Exactness assertions, not just wall-clock: the synthetic feed
  * plants one duplicate per mod-5 key, so the expected link floor and
  * the per-entity accounting are closed-form — a run that "finishes
  * fast" by dropping pairs fails loudly. Results are recorded in
  * SCALE.md. */
object ErStress {
  def main(args: Array[String]): Unit = {
    val spark = Stress.session()

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val baseN = customer.count()

    // ——— 1. volume scaling: replicate the customer table with key
    // offsets (names re-derived from the shifted key so every replica
    // is a DISTINCT entity, not a planted duplicate of the original) ——
    for (mult <- Seq(10, 40)) {
      // offset 1000001 (not 1000000): replicas of one base differ in at
      // least TWO digit places (millions + units, carries only widen
      // it), so no cross-replica pair sits within the maxEdit=1 band —
      // each replica is a genuinely distinct entity
      val big = (0 until mult).map { r =>
        customer.select(
          (col("c_custkey") + lit(r.toLong * 1000001L)).as("c_custkey"),
          format_string("Customer#%09d",
            col("c_custkey") + lit(r.toLong * 1000001L)).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      }.reduce(_ unionByName _)
      val feed = EntityResolution.dirtyCustomerFeed(big).localCheckpoint()
      val feedN = feed.count()
      val expectedDups = feedN - baseN * mult // one per mod-5 key

      val (links, tLink) = timed {
        EntityResolution.matchLinks(
          EntityResolution.scorePairs(
            EntityResolution.candidatePairs(feed, "rec_id",
              Seq("nationkey"), EntityResolution.customerNamePasses),
            feed, "rec_id", "name", "segment", "acctbal", ErScoring()),
          ErScoring()).localCheckpoint()
      }
      val linkN = links.count()
      val planted = links.filter(col("id_b") === col("id_a") + 1 &&
        col("id_a") % 2 === 0).count()
      require(planted == expectedDups,
        s"x$mult: planted links $planted != expected $expectedDups")

      val (golden, tGolden) = timed {
        EntityResolution.goldenRecords(
          EntityResolution.resolve(feed, links, "rec_id"),
          "rec_id", "name", "segment", "acctbal").localCheckpoint()
      }
      val total = golden.agg(sum("n_records")).head().getLong(0)
      require(total == feedN, s"x$mult: golden covers $total != $feedN")
      println(f"[erstress] x$mult%d: records=$feedN%d links=$linkN%d " +
        f"(planted=$planted%d) link_s=$tLink%.1f golden_s=$tGolden%.1f " +
        f"entities=${golden.count()}%d")
    }

    // ——— 2. degenerate block: 200k records sharing ONE blocking chunk
    // and nation — without the cap this is 2·10^10 pairs; with it, the
    // pass yields zero candidates and the profile reports the skip ———
    val hot = spark.range(200000).select(
      col("id").as("rec_id"),
      lit("Customer#000000000").as("name"),
      lit(7).as("nationkey"),
      (col("id") % 1000).cast("double").as("acctbal"),
      lit("BUILDING").as("segment"))
    val (prof, tHot) = timed {
      EntityResolution.blockProfile(hot, Seq("nationkey"),
          EntityResolution.customerNamePasses)
        .agg(sum("records_skipped")).head().getLong(0)
    }
    val (capPairs, tCap) = timed {
      EntityResolution.candidatePairs(hot, "rec_id", Seq("nationkey"),
        EntityResolution.customerNamePasses).count()
    }
    require(prof == 400000L, s"hot block must report both passes skipped, got $prof")
    require(capPairs == 0L, s"capped hot block must emit no pairs, got $capPairs")
    println(f"[erstress] hot-block 200k: skipped=$prof%d pairs=$capPairs%d " +
      f"profile_s=$tHot%.1f cap_s=$tCap%.1f")

    spark.stop()
  }
}
