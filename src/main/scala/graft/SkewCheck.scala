package graft

import java.util.Locale
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Skew-stress gate (VERDICT r8 missing #1, tightened r10 next #1/#2):
  * run the headline queries over the deliberately hot-keyed fixture
  * from `tools/skew_fixture.py` (one user with ~20% of events, one
  * shingle in ~40% of documents, one source with ~90% of rows) and
  * assert no query degenerates onto a single straggler task.
  *
  * Metric: per stage with ≥ `MinTasks` tasks, the max/median task
  * duration. A stage is a VIOLATION when its max task exceeds
  * `FloorMs` (so fixed per-task overhead noise can't flag) AND the
  * ratio exceeds `MaxRatio` — i.e. one task is doing the stage's whole
  * job. r10 changes (VERDICT r9 next #2): MinTasks dropped 4 → 2 so the
  * gate can SEE every multi-task straggler, and the blanket criterion
  * exclusion is replaced by an explicit per-query allowlist — a
  * violating stage in an allowlisted query is recorded in the artifact
  * as `"allowed"` with its justification instead of silently passing.
  * Writes SKEW_r{N}.json (queries, worst stages, per-stage verdicts,
  * pass flag) and exits non-zero on violation, so the round artifact is
  * mechanical.
  *
  * j7/j7b at real width (VERDICT r9 next #1) — measured r10, and the
  * r9 narrative was WRONG in an instructive way: coalescing was never
  * the cause. At fixture scale AQE *broadcasts* the exploded probe side
  * (its measured shuffle bytes sit under the adaptive threshold), so
  * the pair work lands in the streamed side's FILE SCAN stage — and the
  * fixture's events.parquet has ONE parquet row group, so only one scan
  * task ever receives rows (two sibling byte-range splits read zero).
  * The ratio-202 reading was a single-row-group file-layout artifact,
  * unreachable by any shuffle-stage fix. At 100 TB neither limb exists:
  * a fact-scale probe side cannot broadcast, and scans have ~1 row
  * group per 128 MB. The `_wide` variants therefore force the 100 TB
  * plan shape explicitly — broadcast thresholds -1 (shuffled join on
  * (user, bucket)) and coalescing off (full reduce width) — and are
  * asserted with NO exclusion: the hot user's ~1.4k distinct time
  * buckets must hash-spread across the real partition count.
  *
  * Usage: sbt "runMain graft.Diag skew-check [fixtureDir] [outFile]"
  */
object SkewCheck {

  private val MinTasks = 2
  private val FloorMs  = 2000L
  private val MaxRatio = 10.0

  /** Queries whose violating stages are ALLOWED (not silently passed —
    * recorded per-stage in the artifact with this justification).
    * w3: a per-user running sum must serialize the hot user's rows onto
    * one window task — that IS the operator's semantics; the documented
    * scale path for hot/low-cardinality partitions is the m4-family
    * sharded prefix sum, which runs balanced on this same fixture.
    */
  private val Allowlist: Map[String, String] = Map(
    "w3_running_sum" ->
      ("per-user window semantics serialize the hot user onto one task " +
       "by definition; sharded prefix sum (m4/m9/m10) is the scale path"))

  private val Notes =
    "violation = stage with >=2 tasks, max>=2s, max/median>=10; " +
    "allowlisted violations are recorded per-stage with justification, " +
    "never criteria-excluded; _wide variants disable AQE partition " +
    "coalescing so byte-light CPU-dense pair stages run at the real " +
    "shuffle width (the 100 TB shape) and are asserted with no " +
    "exclusion; w4_range_frame is TIME-SHARDED as of r11 (partition " +
    "(user, 24h shard) + fringe replication) - the r10 margin watch " +
    "(ratio 8.5 vs 10) is resolved by construction and w4 is asserted " +
    "with no allowlist entry"

  private def f3(d: Double): String = String.format(Locale.ROOT, "%.3f", d)

  /** (artifact key, SparkEntry query, per-run conf overrides). */
  private case class Run(key: String, query: String,
      confs: Map[String, String] = Map.empty)

  /** Run every headline query over the fixture in `dir`, write the
    * artifact to `out`, return whether no stage violated. */
  def run(spark: SparkSession, dir: String, out: String): Boolean = {

    // task durations per stage, snapshotted between queries
    val durations = new scala.collection.concurrent.TrieMap[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val buf = durations.getOrElseUpdate(te.stageId,
          scala.collection.mutable.ArrayBuffer.empty[Long])
        buf.synchronized { buf += te.taskInfo.duration }
      }
    })

    // the 100 TB pair-join shape: no broadcast (a fact-scale probe side
    // never fits), no coalescing (byte-light CPU-dense reduces keep
    // their width) — the shuffled (user, bucket) join at full width
    val wide = Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

    // the headliners VERDICT names: windowed/sessionized event queries
    // (hot user), the shingle family (hot shingle), the range join at
    // both fixture width and real width, and the sharded prefix sums
    // (hot source)
    val runs = Seq(
      Run("m1_sessionize", "m1_sessionize"),
      Run("w2_lag_lead", "w2_lag_lead"),
      Run("w3_running_sum", "w3_running_sum"),
      Run("w4_range_frame", "w4_range_frame"),
      Run("l2c_shingle_jaccard", "l2c_shingle_jaccard"),
      Run("l2d_containment", "l2d_containment"),
      Run("l2_minhash_dedup", "l2_minhash_dedup"),
      Run("l2e_jaccard_dedup", "l2e_jaccard_dedup"),
      // r12: the pair-completeness expansion (membership joins over the
      // exact-set collapse) rides the same hot-shingle fixture as l2e;
      // a giant identical-set group would concentrate on one rep key
      Run("l24_cross_source_overlap", "l24_cross_source_overlap"),
      Run("l14_dup_passage", "l14_dup_passage"),
      Run("l15_bigram_logprob", "l15_bigram_logprob"),
      Run("m14_zorder_layout", "m14_zorder_layout"),
      Run("j7_range_join", "j7_range_join"),
      Run("j7_range_join_wide", "j7_range_join", wide),
      Run("j7b_range_join_bucketed_wide", "j7b_range_join_bucketed", wide),
      Run("m4_token_budget", "m4_token_budget"),
      Run("m9_sequence_pack", "m9_sequence_pack"),
      Run("m10_mixture_sample", "m10_mixture_sample"),
      Run("m11_global_shuffle", "m11_global_shuffle"),
      // r10 prefix-sum-family additions: m16's budgets concentrate on
      // the 90%-hot source, m17's boundary stream contains the hot
      // user's one giant session
      Run("m16_temperature_mix", "m16_temperature_mix"),
      Run("m17_peak_concurrency", "m17_peak_concurrency"),
      // r11 additions: l16's segment-df groupBy faces hot segment keys
      // on this corpus (every near-dup copy shares every segment — the
      // partial agg must collapse them map-side); j11's cell explode
      // faces the hot user's giant sessionize interval, the exact case
      // the span-stats width guard (ADVICE r10) caps at 1024 cells/row
      Run("l16_line_dedup", "l16_line_dedup"),
      Run("j11_overlap_join", "j11_overlap_join"),
      // r11 late additions: w8's per-user funnel deliberately takes the
      // aggregate formulation so the hot user collapses map-side (the
      // PlanSpec-pinned no-Window shape); j13 faces the hot user's
      // dense click stream — the gate is what exposed the band-join
      // formulation's pair blow-up (54.6 s) and drove the two-pass
      // native as-of rewrite (2.2 s); m21's shingle join faces hot
      // shingles
      Run("w8_funnel", "w8_funnel"),
      Run("j13_nearest_event", "j13_nearest_event"),
      Run("m21_decontaminated_split", "m21_decontaminated_split"),
      // r11 final additions: w10's lag window is the w2 per-key-offset
      // class (hot user's partition holds 20% of rows but lag buffers
      // one row — the aggregate after collapses map-side); w9's cohort
      // cells face every hot-user event joining one signup row
      Run("w10_event_transitions", "w10_event_transitions"),
      Run("w9_cohort_retention", "w9_cohort_retention"),
      // m26's lead window and w11's staged aggregates face the same
      // hot user; l22's (doc, bucket) agg faces the hot-shingle corpus
      // (every near-dup copy hashes the same tokens into the same
      // buckets — the partial agg must collapse them map-side)
      Run("m26_time_weighted_avg", "m26_time_weighted_avg"),
      Run("w11_staged_funnel", "w11_staged_funnel"),
      Run("l22_hashed_features", "l22_hashed_features"),
      // r13: the filtered-top-k BLOCK arm (topKAgainst above its gate,
      // forced via the conf dial) at full width — the 100 TB shape where
      // the candidate side can't broadcast; block-pair hashing on
      // xxhash64(vec_id) must spread the hot-document corpus evenly
      Run("l3f_filtered_topk_block", "l3f_filtered_topk",
        wide + ("spark.graft.topk.broadcastLimit" -> "0")))

    var allPass = true
    val entries = runs.map { r =>
      durations.clear()
      spark.catalog.clearCache()
      val saved = r.confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      r.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t0 = System.nanoTime()
      try SparkEntry.queries(r.query)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // settle listener events for the last stages (bounded drain, not a
      // fixed sleep — ADVICE r9 flagged the race in SpillSpec's twin)
      org.apache.spark.GraftSparkInternals.drainListenerBus(
        spark.sparkContext, 10000)
      val stages = durations.toSeq.map { case (sid, buf) =>
        val ds = buf.synchronized(buf.toArray.sorted)
        (sid, ds.length, ds.last, ds((ds.length - 1) / 2))
      }.filter(_._2 >= MinTasks)
      val worst = stages.sortBy(-_._3).headOption
      // per-stage verdicts: ok / violation / allowed (with reason)
      val verdicts = stages.sortBy(_._1).map { case (sid, n, mx, med) =>
        val ratio = mx.toDouble / math.max(med, 1L)
        val violates = mx >= FloorMs && ratio >= MaxRatio
        val verdict =
          if (!violates) "ok"
          else if (Allowlist.contains(r.query)) "allowed"
          else "violation"
        if (verdict == "violation") allPass = false
        (sid, n, mx, med, ratio, verdict)
      }
      val w = worst.map { case (sid, nT, mx, med) =>
        s""""worst_stage":{"stage":$sid,"tasks":$nT,"max_ms":$mx,""" +
          s""""median_ms":$med,"ratio":${f3(mx.toDouble / math.max(med, 1L))}}"""
      }.getOrElse(""""worst_stage":null""")
      val flagged = verdicts.filter(_._6 != "ok").map { v =>
        val reason = if (v._6 == "allowed")
          s""","reason":"${Allowlist(r.query)}"""" else ""
        s"""{"stage":${v._1},"tasks":${v._2},"max_ms":${v._3},""" +
          s""""median_ms":${v._4},"ratio":${f3(v._5)},""" +
          s""""verdict":"${v._6}"$reason}"""
      }.mkString("[", ",", "]")
      println(f"[skew] ${r.key}%-28s ${sec}%7.2f s  " +
        worst.map(w => s"worst max=${w._3}ms med=${w._4}ms n=${w._2}").getOrElse(""))
      s""""${r.key}":{"sec":${f3(sec)},$w,"stages_seen":${stages.length},""" +
        s""""flagged":$flagged}"""
    }

    val json = s"""{"fixture":"$dir","min_tasks":$MinTasks,""" +
      s""""floor_ms":$FloorMs,"max_ratio":$MaxRatio,""" +
      s""""notes":"$Notes",""" +
      s""""queries":{${entries.mkString(",")}},"pass":$allPass}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    allPass
  }
}
