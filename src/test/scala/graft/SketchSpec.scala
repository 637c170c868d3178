package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The guarantees sketches actually make: bloom filters never produce
  * false negatives, count-min never under-counts, and the k1 pre-filter
  * is a superset of the exact semi join.
  */
class SketchSpec extends AnyFunSuite with SparkTestBase {

  test("bloom pre-filter keeps every true match (no false negatives)") {
    val d = sf("sf0.001")
    val exact = Tables.orders(spark, d)
      .join(Tables.customer(spark, d).filter(col("c_acctbal") > 0)
        .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .count()
    val candidates = graft.operators.Sketches
      .queries("k1_bloom_prefilter")(spark, d)
      .head().getLong(0)
    assert(candidates >= exact) // superset: false positives ok, negatives not
  }

  test("count-min never under-counts") {
    val d = sf("sf0.001")
    val exact = Tables.events(spark, d)
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = graft.operators.Sketches
      .queries("k2_countmin_freq")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"count-min under-counted $t: ${est(t)} < $n")
    }
  }

  test("k3 HLL merge algebra: union of daily sketches ≡ whole-data sketch, near exact") {
    val d = sf("sf0.001")
    val merged = graft.operators.Sketches.queries("k3_hll_merge")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet === exact.keySet)
    for ((k, m) <- merged) {
      // mergeability: building daily and unioning sees the same values
      // as one whole-data sketch — identical estimate
      assert(m === whole(k), s"$k merged=$m whole=${whole(k)}")
      // accuracy: within HLL(lgK=12) error of the exact distinct
      assert(math.abs(m - exact(k)) <= 0.05 * exact(k) + 1,
        s"$k est=$m exact=${exact(k)}")
    }
  }

  test("k7 sketched rolling distinct within HLL error band of w13's exact answer") {
    val exact = graft.operators.Windows
      .queries("w13_rolling_distinct")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = graft.operators.Sketches
      .queries("k7_rolling_distinct_hll")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    assert(est.nonEmpty)
    // lgConfigK=12 → rsd ≈ 1.625%; 3σ band. Fixture cardinalities sit
    // in HLL's near-exact sparse regime, so this is a loose ceiling.
    est.foreach { case (day, e) =>
      val x = exact(day).toDouble
      assert(x > 0 && math.abs(e - x) / x <= 0.05,
        s"day=$day est=$e exact=$x")
    }
    // every estimated day is an exact-spine day with events (the k7
    // report-day contract: days with >=1 event)
    assert(est.keySet.subsetOf(exact.keySet))
  }

  test("k4 KLL merge algebra: union of daily sketches holds every value; quantiles within rank error") {
    val d = sf("sf0.01")
    val ev = Tables.events(spark, d)
    // exact per-type sorted values for rank checks
    val exact = ev.select(col("event_type"), col("value"))
      .na.drop().collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getDouble(1)).sorted
      }
    val got = graft.operators.Sketches
      .queries("k4_kll_quantile_merge")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet === exact.keySet)
    // KLL k=200: ~1.65% two-sided rank error at 99% confidence; assert 3%
    def rankOf(sorted: Array[Double], v: Double): Double = {
      val le = sorted.count(_ <= v)
      le.toDouble / sorted.length
    }
    for ((t, (p50, p95)) <- got) {
      val s = exact(t)
      assert(math.abs(rankOf(s, p50) - 0.5) <= 0.03,
        s"$t p50=$p50 rank=${rankOf(s, p50)}")
      assert(math.abs(rankOf(s, p95) - 0.95) <= 0.03,
        s"$t p95=$p95 rank=${rankOf(s, p95)}")
      // returned quantiles are actual stream values (KLL keeps samples)
      assert(s.contains(p50) && s.contains(p95), s"$t quantile not a sample")
    }
    // merge algebra: the union's total weight is exactly every non-null
    // value — daily sharding + union loses/duplicates nothing
    import graft.functions.SketchOps._
    val mergedBytes = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(kllSketchAgg(col("value")).as("sk"))
      .groupBy(col("event_type")).agg(kllUnionAgg(col("sk")).as("m"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("m")).toMap
    for ((t, bytes) <- mergedBytes) {
      val sk = org.apache.datasketches.kll.KllDoublesSketch
        .heapify(org.apache.datasketches.memory.Memory.wrap(bytes))
      assert(sk.getN === exact(t).length.toLong, s"$t union weight")
    }
  }

  test("k5 theta exact mode: set algebra ≡ exact sets (fixture-scale contract)") {
    import spark.implicits._
    // random two-segment memberships, several seeds: union/intersect/
    // a-not-b over sketches must equal exact set ops while the key
    // count stays under the nominal-entries cap (lgK=12 → 4096)
    for (seed <- 1L to 3L) {
      val rng = new scala.util.Random(seed)
      val rows = (0 until 500).map { _ =>
        (rng.nextInt(300).toLong, if (rng.nextBoolean()) "x" else "y")
      }
      val xs = rows.filter(_._2 == "x").map(_._1).toSet
      val ys = rows.filter(_._2 == "y").map(_._1).toSet
      import graft.functions.SketchOps._
      val byType = rows.toDF("k", "t").groupBy(col("t"))
        .agg(thetaSketchAgg(col("k")).as("sk"))
      val a = byType.filter(col("t") === "x").select(col("sk").as("a"))
      val b = byType.filter(col("t") === "y").select(col("sk").as("b"))
      val r = a.crossJoin(b).select(
        thetaEstimate(col("a")).as("na"),
        thetaEstimate(col("b")).as("nb"),
        thetaEstimate(thetaIntersect(col("a"), col("b"))).as("nboth"),
        thetaEstimate(thetaANotB(col("a"), col("b"))).as("nonly"))
        .head()
      assert(r.getDouble(0) === xs.size.toDouble, s"seed=$seed |x|")
      assert(r.getDouble(1) === ys.size.toDouble, s"seed=$seed |y|")
      assert(r.getDouble(2) === (xs & ys).size.toDouble, s"seed=$seed |x∩y|")
      assert(r.getDouble(3) === (xs -- ys).size.toDouble, s"seed=$seed |x\\y|")
    }
  }

  test("k5 theta estimation mode: 100k-key estimates within bounds; merge ≡ whole-data") {
    import spark.implicits._
    import graft.functions.SketchOps._
    // 100k distinct keys >> 4096 nominal entries forces sampling; the
    // theta guarantee at lgK=12 is ~1.6% RSE — assert 3σ (±5%) and that
    // sharding + union sees exactly the whole-data sketch (hash-order
    // independence: the retained set at a given theta is a pure
    // function of the key set)
    val n = 100000
    val df = (0 until n).map(i => (i.toLong, i % 16)).toDF("k", "shard")
    val whole = df.agg(thetaSketchAgg(col("k")).as("sk"))
      .select(thetaEstimate(col("sk"))).head().getDouble(0)
    assert(math.abs(whole - n) <= 0.05 * n, s"est=$whole exact=$n")
    val merged = df.groupBy(col("shard"))
      .agg(thetaSketchAgg(col("k")).as("sk"))
      .agg(thetaUnionAgg(col("sk")).as("m"))
      .select(thetaEstimate(col("m"))).head().getDouble(0)
    assert(merged === whole, s"merged=$merged whole=$whole")
  }

  test("k6 freq exact regime: top items ≡ exact HAVING set on random keys") {
    import spark.implicits._
    import graft.functions.SketchOps._
    for (seed <- 1L to 3L) {
      val rng = new scala.util.Random(seed)
      // ~40 distinct keys, zipf-ish multiplicities; map 1024 never purges
      val rows = (0 until 2000).map(_ => (rng.nextInt(40) + 1).toLong)
      val df = rows.map(k => (k, k % 8)).toDF("k", "shard")
      val thr = 60L
      val got = df.groupBy(col("shard")).agg(freqSketchAgg(col("k")).as("sk"))
        .agg(freqUnionAgg(col("sk")).as("m"))
        .select(explode(freqTopItems(col("m"), lit(thr))).as("r"))
        .select(col("r.item"), col("r.n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= thr).toMap
      assert(got === want, s"seed=$seed")
    }
  }

  test("k6 freq purge regime: planted heavies found, bounds hold at 50k keys") {
    import spark.implicits._
    import graft.functions.SketchOps._
    // 50k distinct singletons force purging in a 256-slot map; 5 planted
    // keys at 2000 occurrences tower over the N*(3.5/256) ≈ 820 error
    val heavy = (1L to 5L).flatMap(k => Seq.fill(2000)(900000L + k))
    val noise = (1L to 50000L)
    val df = (heavy ++ noise).toDF("k")
    val skBytes = df.agg(freqSketchAgg(col("k"), maxMapSize = 256).as("sk"))
      .head().getAs[Array[Byte]](0)
    val sk = org.apache.datasketches.frequencies.LongsSketch
      .getInstance(org.apache.datasketches.memory.Memory.wrap(skBytes))
    assert(sk.getMaximumError <= ((heavy.size + noise.size) * 3.5 / 256).toLong + 1)
    val rows = sk.getFrequentItems(1000L,
      org.apache.datasketches.frequencies.ErrorType.NO_FALSE_POSITIVES)
    val found = rows.map(_.getItem).toSet
    assert((1L to 5L).forall(k => found.contains(900000L + k)), found.toString)
    // NO_FALSE_POSITIVES: every reported item's true count clears the
    // threshold minus the sketch's own error bound
    rows.foreach { r =>
      val truth = if (r.getItem > 900000L) 2000L else 1L
      assert(r.getLowerBound <= truth && truth <= r.getUpperBound,
        s"item=${r.getItem} lb=${r.getLowerBound} ub=${r.getUpperBound}")
    }
  }

  test("Tuning.recommended applies cleanly to a session builder") {
    // shared session exists; just validate every key/value is accepted
    // by the conf machinery (no typos / removed confs)
    graft.Tuning.recommended.foreach { case (k, v) =>
      spark.conf.isModifiable(k) // must not throw on lookup
      assert(k.startsWith("spark."), k)
      assert(v.nonEmpty)
    }
  }
}
