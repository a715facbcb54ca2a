package graft.stress

import graft.multimodal.{MediaRecord, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Stress.timed

/** Volume + skew stress for the multimodal tier
  * (`sbt "Test/runMain graft.stress.MultimodalStress"`): 100k payloads with a
  * ≥2,000× size spread (2–8 KB rows, 128 deterministic 12–19 MB
  * outliers ≈ half the corpus mass), proving
  *
  *  1. `repartitionBySizeHint` balances PAYLOAD BYTES — measured
  *     max/mean partition bytes against (a) hash placement (Poisson
  *     outlier clumps) and (b) the naive sort-by-size range layout
  *     (the whole heavy head stacks in partition 0);
  *  2. the batched decode stage runs spill-free at this volume
  *     (task-metric spill counters asserted 0) and the size-hint
  *     layout shortens the decode wall (straggler effect);
  *  3. perceptual-hash dedup stays exact under volume: every planted
  *     byte-identical clone pair (1,000 of them) surfaces through the
  *     pigeonhole hamming join — a run that "finishes fast" by
  *     dropping candidates fails loudly.
  *
  * Exactness first, wall-clock second (the ErStress discipline).
  * Results are recorded in SCALE.md. */
object MultimodalStress {

  private val nSmall = 100000L
  private val nBig = 128
  private val bigBase = 1000000L

  /** Deterministic payload: clones (small id % 100 == 99) reuse the
    * PREVIOUS id's seed byte-for-byte — the planted dedup pairs. */
  private def payloadFor(id: Long): Array[Byte] = {
    val big = id >= bigBase
    val base = if (!big && id % 100 == 99) id - 1 else id
    val rnd = new java.util.Random(base * 0x9E3779B97F4A7C15L + 13)
    val size =
      if (big) (12 << 20) + (rnd.nextInt(8) << 20) // 12–19 MB
      else 2048 + rnd.nextInt(6144) // 2–8 KB
    val b = new Array[Byte](size)
    rnd.nextBytes(b)
    b
  }

  def main(args: Array[String]): Unit = {
    val spark = Stress.session()
    import spark.implicits._

    val parts = 32
    val work = "/tmp/graft-mmstress"
    graft.core.AtomicSwap.deleteRecursively(new java.io.File(work))

    // ——— corpus: generated on executors, landed once as parquet so
    // every layout pass reads the same real file source ———
    val (_, tGen) = timed {
      spark.range(0, nSmall)
        .union(spark.range(bigBase, bigBase + nBig))
        .as[Long]
        .map { id =>
          val p = payloadFor(id)
          MediaRecord(id, p, if (id >= bigBase) "video" else "image", "bin")
        }
        .withColumn("sz", octet_length(col("payload")).cast("long"))
        .write.mode("overwrite").parquet(s"$work/corpus")
    }
    val media = spark.read.parquet(s"$work/corpus")
    val totalBytes = media.agg(sum("sz")).head().getLong(0)
    println(f"generated ${nSmall + nBig} payloads, " +
      f"${totalBytes / 1e9}%.2f GB in $tGen%.1f s")

    def spread(df: DataFrame, label: String): (Double, Long) = {
      val per = df.groupBy(spark_partition_id().as("pid"))
        .agg(sum("sz").as("bytes")).collect().map(_.getLong(1))
      val mean = per.sum.toDouble / parts // empty partitions count
      val mx = per.max
      println(f"$label%-22s partitions=${per.length} " +
        f"max=${mx / 1e6}%.1f MB mean=${mean / 1e6}%.1f MB " +
        f"spread=${mx / mean}%.2f×")
      (mx / mean, mx)
    }

    // ——— 1. layout balance: bytes per partition under three layouts —
    val (hashSpread, _) = spread(
      media.repartition(parts, col("doc_id")), "hash(doc_id)")
    val (naiveSpread, _) = spread(
      media.repartitionByRange(parts, col("sz").desc,
        pmod(hash(col("doc_id")), lit(parts))), "range(sz DESC) [old]")
    val (hintSpread, _) = spread(
      Multimodal.repartitionBySizeHint(media, parts, "sz"), "sizeHint")
    require(hintSpread <= 1.25,
      f"sizeHint spread $hintSpread%.2f× exceeds 1.25×")
    require(hintSpread < hashSpread && hintSpread < naiveSpread,
      f"sizeHint ($hintSpread%.2f×) must beat hash ($hashSpread%.2f×) " +
        f"and the old range layout ($naiveSpread%.2f×)")

    // ——— 2. decode walls + spill-free assertion ———
    def decodeWall(df: DataFrame, label: String): Double = {
      val (n, t) = timed {
        Multimodal.extractFeatures(df.as[MediaRecord]).count()
      }
      require(n == nSmall + nBig, s"$label decoded $n rows")
      println(f"decode[$label%-9s] ${t}%.1f s " +
        f"(${(nSmall + nBig) / t}%.0f rows/s, ${totalBytes / t / 1e6}%.0f MB/s)")
      t
    }
    val ((tHash, tHint), decode) = graft.TaskTotals.measure(spark) {
      (decodeWall(
        media.repartition(parts, col("doc_id")).localCheckpoint(), "hash"),
       decodeWall(
        Multimodal.repartitionBySizeHint(media, parts, "sz").localCheckpoint(),
        "sizeHint"))
    }
    println(f"decode spill: ${decode.spillBytes} bytes " +
      f"(hash ${tHash}%.1f s vs sizeHint ${tHint}%.1f s)")
    require(decode.spillBytes == 0L,
      s"decode stage spilled ${decode.spillBytes} bytes")

    // ——— 3. perceptual-hash dedup exactness under volume ———
    val hinted = Multimodal.repartitionBySizeHint(media, parts, "sz")
    val (pairs, tDedup) = timed {
      val hashes = Multimodal.perceptualHashes(hinted.as[MediaRecord]).toDF()
      Multimodal.imageNearDuplicates(hashes, "doc_id", "dhash")
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
    }
    val planted = (99L until nSmall by 100L).map(id => (id - 1, id)).toSet
    val missing = planted -- pairs
    require(missing.isEmpty,
      s"${missing.size} planted clone pairs missing, e.g. " +
        missing.take(3).mkString(","))
    println(f"phash dedup: ${pairs.size} pairs " +
      f"(${planted.size} planted, all found) in $tDedup%.1f s " +
      f"(${(nSmall + nBig) / tDedup}%.0f rows/s hashed+joined)")

    graft.core.AtomicSwap.deleteRecursively(new java.io.File(work))
    println("MultimodalStress PASS")
    spark.stop()
  }
}
