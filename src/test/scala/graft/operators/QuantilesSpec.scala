package graft.operators

import graft.SparkSpec
import graft.functions.DoubleBitsImpl
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QuantilesSpec extends AnyFunSuite with SparkSpec {

  test("IEEE bit key is monotone and invertible on adversarial doubles") {
    val vs = Seq(Double.NegativeInfinity, -1.7e308, -3.5, -1.0, -1e-300,
      -0.0, 0.0, 4.9e-324, 1e-300, 1.0, 2.5, 1.7e308,
      Double.PositiveInfinity)
    val keys = vs.map(DoubleBitsImpl.key)
    assert(keys == keys.sorted, "key order must equal double order")
    // strictly increasing except the -0.0/+0.0 adjacency
    keys.sliding(2).foreach { case Seq(a, b) => assert(a < b) }
    vs.foreach(v => assert(DoubleBitsImpl.unkey(DoubleBitsImpl.key(v)) == v
      || (v == 0.0 && DoubleBitsImpl.unkey(DoubleBitsImpl.key(v)) == v)))
    // the codegen'd expression matches the driver function
    val s = spark
    import s.implicits._
    val got = vs.filter(v => !v.isNaN).toDF("v")
      .select(graft.functions.NativeDoubleBits.bitsKey(col("v")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == vs.map(DoubleBitsImpl.key))
  }

  test("rankCuts: window route ≡ refinement route on the real price " +
      "domain (schema AND values); bound=0 forces the at-scale plan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cuts = Seq(("p05", 1, 20), ("p50", 1, 2), ("p95", 19, 20))
    val windowed = Quantiles.rankCuts(li, "l_returnflag",
      "l_extendedprice", "cnt", cuts)
    spark.conf.set("graft.median.distinctBound", "0")
    val refined =
      try Quantiles.rankCuts(li, "l_returnflag", "l_extendedprice",
        "cnt", cuts)
      finally spark.conf.unset("graft.median.distinctBound")
    assert(windowed.schema == refined.schema,
      s"${windowed.schema} vs ${refined.schema}")
    assert(windowed.exceptAll(refined).isEmpty &&
      refined.exceptAll(windowed).isEmpty)
    // the refinement route plans no per-group window at all — the
    // at-scale shape has no one-task distinct-set sort to degrade to
    val plan = refined.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("rankCuts: a caller frame already carrying __cum/__n is not " +
      "clobbered (ADVICE r14 — fresh temp names, same guard as " +
      "repartitionBySizeHint)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("cnt"))
    val cuts = Seq(("p50", 1, 2))
    val clean = Quantiles.rankCuts(li, "l_returnflag",
      "l_extendedprice", "cnt", cuts)
    // the same frame with both temp names pre-occupied by junk must
    // produce the same cuts (pre-fix: withColumn silently overwrote
    // the caller's columns and `expr("__n")` bound to the wrong one)
    val dirty = Quantiles.rankCuts(
      li.withColumn("__cum", lit(-1L)).withColumn("__n", lit(-2L)),
      "l_returnflag", "l_extendedprice", "cnt", cuts)
      .select(clean.columns.map(col): _*)
    assert(clean.exceptAll(dirty).isEmpty && dirty.exceptAll(clean).isEmpty)
  }

  test("exactQuantiles == sort-based ranks on random data with " +
      "duplicates, negatives, and infinities") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 3}"
      val v = rng.nextInt(6) match {
        case 0 => rng.nextInt(10).toDouble          // heavy duplicates
        case 1 => -rng.nextDouble() * 1e6
        case 2 => rng.nextDouble() * 1e-9
        case 3 => rng.nextGaussian() * 100
        case 4 => if (i % 500 == 0) Double.PositiveInfinity
                  else rng.nextDouble()
        case _ => rng.nextDouble() * 1e12
      }
      (g, v)
    }
    val df = rows.toDF("g", "v").repartition(7)
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.95, 1.0)
    val got = Quantiles.exactQuantiles(df, "g", "v", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // brute-force reference: sort each group, pick the k-th smallest
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val n = sorted.length.toLong
      qs.foreach { q =>
        val k = math.max(1L, math.ceil(q * n).toLong)
        val (gotN, gotV) = got((g, q))
        assert(gotN == n, s"$g/$q n")
        assert(gotV == sorted((k - 1).toInt), s"$g/$q value")
      }
    }
  }

  test("exactQuantiles shuffles counts, not rows (plan + work audit)") {
    val s = spark
    import s.implicits._
    // 60k continuous values: the distinct-window technique would
    // shuffle ~60k rows; refinement passes shuffle only bucket counts
    val df = s.range(0, 60000).select(lit("k").as("g"),
      (col("id") * 2654435761L % 1000003L).cast("double").as("v"))
    val (r, work) = graft.TaskTotals.measure(s) {
      Quantiles.exactQuantiles(df, "g", "v", Seq(0.5)).collect()
    }
    assert(r.length == 1 && r.head.getLong(2) == 60000L)
    // brute check the median value
    val vals = df.select("v").collect().map(_.getDouble(0)).sorted
    assert(r.head.getDouble(3) == vals(30000 - 1))
    // all passes together move far less than the 480 KB the raw
    // (key) column would cost a row shuffle
    assert(work.shuffleWriteBytes < 200L * 1024,
      s"refinement shuffled ${work.shuffleWriteBytes} bytes")
  }

  test("equiDepthBounds + bucketOf: every bucket's mass ≈ n/b; " +
      "heavy duplicates stay irreducible but isolated") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(21)
    // skewed continuous data + one heavy duplicate (20% of rows)
    val rows = (1 to 5000).map { i =>
      val v = if (i % 5 == 0) 42.0 else math.exp(rng.nextGaussian() * 3)
      ("k", v)
    }
    val df = rows.toDF("g", "v").repartition(6)
    val b = 10
    val bounds = Quantiles.equiDepthBounds(df, "g", "v", b)
      .collect().map(_.getDouble(3)).toSeq
    assert(bounds.size == b - 1 && bounds == bounds.sorted.distinct ||
      bounds == bounds.sorted, s"bounds: $bounds")
    val masses = df
      .groupBy(Quantiles.bucketOf(col("v"), bounds.distinct).as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = rows.size
    // every non-duplicate-dominated bucket holds ≈ n/b; the 42.0 spike
    // (20% of mass, > 1/b) is allowed to exceed — but ONLY the bucket
    // that owns the duplicated value
    val spikeBucket = bounds.distinct.count(42.0 > _).toLong
    masses.foreach { case (bk, m) =>
      if (bk != spikeBucket)
        assert(m <= n / b + n / 50,
          s"bucket $bk mass $m exceeds equi-depth bound")
    }
    assert(masses(spikeBucket) >= n / 5, "the spike owns its bucket")
    // and the masses cover everything
    assert(masses.values.sum == n)
  }

  test("equiDepthBoundsDist + bucketOfKeyed: per-key cuts == the " +
      "driver variant's; keyed bucketing == bucketOf row for row") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(77)
    // 7 keys with different scales + per-key duplicate spikes
    val rows = (1 to 6000).map { i =>
      val k = s"k${i % 7}"
      val v =
        if (i % 6 == 0) 10.0 * (i % 7) else rng.nextGaussian() * (1 + i % 7)
      (k, v)
    }
    val df = rows.toDF("g", "v").repartition(6)
    val b = 8
    val boundsDist = Quantiles.equiDepthBoundsDist(df, "g", "v", b)
      .localCheckpoint()
    val distMap = boundsDist.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toVector).toMap
    val driverMap = Quantiles.equiDepthBounds(df, "g", "v", b).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(3)).sorted.toVector).toMap
    assert(distMap == driverMap,
      "distributed cut points must equal the driver variant's")
    val keyed = Quantiles.bucketOfKeyed(df, "g", "v", boundsDist)
      .groupBy($"g", $"bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val cuts = driverMap(k)
      val expected = rs.groupBy { case (_, v) => cuts.count(v > _).toLong }
        .view.mapValues(_.size.toLong).toMap
      assert(expected.keySet == keyed.keySet.collect { case (`k`, bk) => bk },
        s"key $k bucket set")
      expected.foreach { case (bk, m) =>
        assert(keyed((k, bk)) == m, s"key $k bucket $bk mass")
      }
    }
  }

  test("bucketOfKeyed joins long keys beyond 2^53 exactly (string " +
      "comparison, not the double coercion that collides them)") {
    val s = spark
    import s.implicits._
    // two keys whose DOUBLE images are identical: a numeric-vs-string
    // equi-join coerces both sides through double and cross-matches
    val k1 = 1L << 53
    val k2 = (1L << 53) + 1L
    assert(k1.toDouble == k2.toDouble)
    val df = (Seq.tabulate(40)(i => (k1, i.toDouble)) ++
      Seq.tabulate(40)(i => (k2, 1000.0 + i))).toDF("g", "v")
      .repartition(3)
    val bounds = Quantiles.equiDepthBoundsDist(df, "g", "v", b = 4)
    assert(bounds.count() == 2)
    val keyed = Quantiles.bucketOfKeyed(df, "g", "v", bounds)
    // every row keeps exactly one bounds row — no cross-key fanout
    assert(keyed.count() == 80)
    // and each key buckets against ITS OWN grid: k2's values all sit
    // above k1's cuts, so a misjoin would land them in k1's top bucket
    val perKey = keyed.groupBy($"g", $"bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    Seq(k1, k2).foreach { k =>
      val masses = perKey.collect { case ((`k`, _), m) => m }
      assert(masses.sum == 40L, s"key $k total")
      assert(masses.forall(_ == 10L), s"key $k equi-depth masses: $masses")
    }
    // null keys drop (documented: null never equi-joins)
    val withNull = (Seq((Option(k1), 1.0), (Option.empty[Long], 2.0)))
      .toDF("g", "v")
    assert(Quantiles.bucketOfKeyed(withNull, "g", "v", bounds).count() == 1)
  }

  test("bucketOfKeyed enforces the bounds contract on arbitrary " +
      "producers: unsorted + null-slot bounds bucket exactly as the " +
      "order-independent HOF fold") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 0.5), ("a", 1.5), ("a", 2.5), ("a", 2.0),
      ("b", -1.0), ("b", 0.0), ("b", 10.0)).toDF("k", "v")
    // adversarial public-API producer: descending order, null cuts —
    // the native binary search is undefined over this raw shape; the
    // entry point must normalize it (null cuts contributed 0 in the
    // HOF fold, so drop + sort reproduces the fold for any input)
    val bounds = Seq(
      ("a", Seq[java.lang.Double](2.0, null, 1.0)),
      ("b", Seq[java.lang.Double](null, 0.0))).toDF("k", "bounds")
    val got = Quantiles.bucketOfKeyed(df, "k", "v", bounds)
      .select($"k", $"v", $"bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // the HOF reference evaluated over the RAW (unsorted, null-slot)
    // arrays — order-independent, null-tolerant by construction
    val ref = df
      .join(bounds.withColumnRenamed("k", "bk"), $"k" === $"bk")
      .select($"k", $"v", graft.functions.NativeBucket
        .bucketOfReference($"v".cast("double"), $"bounds").as("bucket"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == ref, s"got $got vs HOF reference $ref")
    assert(got == Set(("a", 0.5, 0L), ("a", 1.5, 1L), ("a", 2.0, 1L),
      ("a", 2.5, 2L), ("b", -1.0, 0L), ("b", 0.0, 0L), ("b", 10.0, 1L)))
  }

  test("weighted quantiles == expanded-row ranks; zero weights excluded") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val rows = (1 to 800).map { i =>
      (s"g${i % 2}", rng.nextGaussian() * 50,
        if (i % 10 == 0) 0L else 1L + rng.nextInt(9).toLong)
    }
    val qs = Seq(0.25, 0.5, 0.9, 1.0)
    val got = Quantiles.exactQuantiles(rows.toDF("g", "v", "w"),
        "g", "v", qs, weightCol = Some("w"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      // brute force: expand each row to `w` copies, sort, take k-th
      val expanded = rs.flatMap { case (_, v, w) =>
        Seq.fill(w.toInt)(v)
      }.sorted
      val total = expanded.length.toLong
      qs.foreach { q =>
        val k = math.max(1L, math.ceil(q * total).toLong)
        val (gotW, gotV) = got((g, q))
        assert(gotW == total, s"$g/$q mass")
        assert(gotV == expanded((k - 1).toInt), s"$g/$q value")
      }
    }
  }

  test("edge groups: single row, all-identical values, q=1.0, bits=16") {
    val s = spark
    import s.implicits._
    val rows = Seq(("solo", 7.25)) ++ Seq.fill(100)(("same", -3.5)) ++
      (1 to 50).map(i => ("mix", i.toDouble))
    val got = Quantiles.exactQuantiles(rows.toDF("g", "v"), "g", "v",
        Seq(0.5, 1.0), bits = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("solo", 0.5)) == (1L, 7.25))
    assert(got(("solo", 1.0)) == (1L, 7.25))
    assert(got(("same", 0.5)) == (100L, -3.5))
    assert(got(("same", 1.0)) == (100L, -3.5))
    assert(got(("mix", 0.5)) == (50L, 25.0))
    assert(got(("mix", 1.0)) == (50L, 50.0))
  }

  test("NULL group keys refine like any other group (driver + dist)") {
    val s = spark
    import s.implicits._
    // the null group MUST have >1 distinct value: the historical bug
    // was the per-pass equi-join dropping null keys mid-refinement
    val rows = Seq((Option("a"), 1.0), (Option("a"), 2.0),
      (Option.empty[String], 10.0), (Option.empty[String], 20.0),
      (Option.empty[String], 30.0), (Option.empty[String], 40.5))
    val df = rows.toDF("g", "v")
    for (res <- Seq(Quantiles.exactQuantiles(df, "g", "v", Seq(0.5, 1.0)),
        Quantiles.exactQuantilesDist(df, "g", "v", Seq(0.5, 1.0)))) {
      val got = res.collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got((Some("a"), 0.5)) == (2L, 1.0))
      assert(got((Some("a"), 1.0)) == (2L, 2.0))
      assert(got((None, 0.5)) == (4L, 20.0))
      assert(got((None, 1.0)) == (4L, 40.5))
    }
  }

  test("fractional weight columns are rejected, not silently truncated") {
    val s = spark
    import s.implicits._
    val df = Seq(("g", 1.0, 0.5), ("g", 2.0, 1.5)).toDF("g", "v", "w")
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactQuantiles(df, "g", "v", Seq(0.5), weightCol = Some("w"))
    }
    assert(e.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Quantiles.exactQuantilesDist(df, "g", "v", Seq(0.5),
        weightCol = Some("w"))
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("exactQuantilesDist == exactQuantiles on adversarial data " +
      "(duplicates, negatives, infinities, weights)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 3}"
      val v = rng.nextInt(6) match {
        case 0 => rng.nextInt(10).toDouble
        case 1 => -rng.nextDouble() * 1e6
        case 2 => rng.nextDouble() * 1e-9
        case 3 => rng.nextGaussian() * 100
        case 4 => if (i % 500 == 0) Double.PositiveInfinity
                  else rng.nextDouble()
        case _ => rng.nextDouble() * 1e12
      }
      (g, v, 1L + rng.nextInt(5).toLong)
    }
    val df = rows.toDF("g", "v", "w").repartition(7)
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 1.0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDouble(1)) -> (r.getLong(2), r.getDouble(3))
    assert(Quantiles.exactQuantilesDist(df, "g", "v", qs).collect()
        .map(key).toMap ==
      Quantiles.exactQuantiles(df, "g", "v", qs).collect().map(key).toMap)
    assert(Quantiles.exactQuantilesDist(df, "g", "v", qs,
        weightCol = Some("w")).collect().map(key).toMap ==
      Quantiles.exactQuantiles(df, "g", "v", qs,
        weightCol = Some("w")).collect().map(key).toMap)
  }

  test("exactQuantilesDist at 100k groups: driver never holds " +
      "histograms, results exact") {
    val s = spark
    import s.implicits._
    val nGroups = 100000
    // 3 continuous values per group — high-cardinality domain stats,
    // the shape the driver-map variant's contract excludes
    val df = s.range(0, 3L * nGroups).select(
      (col("id") % nGroups).cast("string").as("g"),
      ((col("id") * 2654435761L % 1000003L) -
        lit(500000L)).cast("double").as("v"))
    val got = Quantiles.exactQuantilesDist(df, "g", "v", Seq(0.5))
    val rows = got.collect()
    assert(rows.length == nGroups)
    // exact ground truth, computed independently per group
    val byG = df.collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1)
    rows.take(500).foreach { r =>
      val sorted = byG(r.getString(0)).map(_._2).sorted
      assert(r.getLong(2) == 3L)
      assert(r.getDouble(3) == sorted(1), s"median of group ${r.getString(0)}")
    }
    // spot-check the full frame cheaply: every median must be one of
    // its group's values and ranked correctly — verified on the sample
    // above; here assert global invariants
    assert(rows.forall(_.getDouble(1) == 0.5))
  }

  test("gridQuantiles is a single cumulative pass: one WindowExec " +
      "serves every fraction") {
    val s = spark
    import s.implicits._
    val counts = (0 until 10).map(b => ("a", b.toLong, 10L))
      .toDF("k", "b", "n_rows")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    // AQE nests the final plan under QueryStageExec leaves — recurse
    def windows(p: SparkPlan): Seq[WindowExecBase] = {
      val here = p match {
        case w: WindowExecBase => Seq(w)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(windows)
    }
    val df = Quantiles.gridQuantiles(counts, "k", "b",
      Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0))
    df.collect() // materialize so the adaptive plan is final
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.size == 1,
      s"expected ONE WindowExec for all fractions, got ${ws.size}")
    // both sums (cumulative + total) live in that one node
    assert(ws.head.windowExpression.size == 2)
  }

  test("gridQuantiles: bucket containing the true quantile, per key") {
    val s = spark
    import s.implicits._
    // key "a": 100 rows uniform over buckets 0..9 (10 each)
    val counts = (0 until 10).map(b => ("a", b.toLong, 10L))
      .toDF("k", "b", "n_rows")
    val got = Quantiles.gridQuantiles(counts, "k", "b", Seq(0.25, 0.5, 1.0))
      .collect().map(r => (r.getDouble(1), r.getLong(3))).toMap
    // rank 25 → bucket 2 (cum 30 ≥ 25), rank 50 → bucket 4, rank 100 → 9
    assert(got == Map(0.25 -> 2L, 0.5 -> 4L, 1.0 -> 9L))
  }
}
