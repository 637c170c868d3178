package graft.operators

import graft.Exprs._
import graft.Tables
import graft.Tables.Q
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join operators (SURVEY.md §2B J1–J9).
  *
  * Scale notes (100 TB design point):
  *  - dimension tables (region/nation/customer/part/supplier) are
  *    broadcast — J2 hints it explicitly, elsewhere AQE's size-based
  *    selection does it; no fact-table shuffle for dim joins.
  *  - fact-fact joins (J6's orders⋈lineitem) shuffle on the join key once;
  *    at scale these would be bucketed on orderkey to skip the exchange.
  *  - the self range-join J7 pre-filters both sides before the equi-join
  *    on user_id, so the quadratic blow-up is bounded per user; skewed
  *    users are AQE skew-split.
  */
object Joins {

  val queries: Map[String, Q] = Map(
    // J1: inner equi-join, shuffle or broadcast chosen by Catalyst/AQE.
    "j1_inner_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"),
          col("o_totalprice"))
    }),

    // J2: explicit broadcast hash join of the part dimension into the
    // lineitem fact — zero shuffle of the big side.
    "j2_broadcast_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum(col("l_extendedprice")).as("brand_revenue"),
          count(lit(1)).as("n_items"))
    }),

    // J3: left outer — customers with no orders survive with null counts.
    "j3_left_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    }),

    // J4: left semi = EXISTS.
    "j4_left_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // J5: left anti = NOT EXISTS.
    // (r12: the original unfiltered form was VACUOUS — every fixture
    // customer has an order, so the anti join returned zero rows and
    // never exercised keep-the-unmatched; the big-order filter leaves
    // 202 survivors at sf0.01, so both branches of the anti semantics
    // are live in the hash)
    "j5_left_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // J6: 5-way star chain (TPC-H Q5 shape) — revenue per region.
    // Dims broadcast up the chain; the single fact-fact shuffle is
    // orders⋈lineitem on orderkey.
    "j6_multiway" -> ((s, d) => {
      val r = Tables.region(s, d)
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      // the one fact-fact edge: hint the smaller fact (orders) as a
      // shuffled-hash build side — skips sorting 600k lineitem rows
      // (2.2 s → 1.1 s at sf0.1). Sound at scale because the build side
      // per task is |orders| / shuffle-partitions and partition counts
      // scale with data (Tuning sizes them by bytes/128 MB); SMJ remains
      // the fallback when a build side can't be bounded.
      li.join(o.hint("shuffle_hash"), li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          lsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // J7: theta/range self-join — events of the same user within 1 hour
    // after each event, written NAIVELY: equi on user_id plus a bounded
    // interval residual. The session-default RangeJoinRewrite rule
    // (graft.plans) plans this as the bucketed equi join j7b builds by
    // hand — PlanSpec asserts the rewrite fired; the oracle hash pins
    // that results are unchanged.
    "j7_range_join" -> ((s, d) => {
      val e1 = Tables.events(s, d).select(
        col("user_id"), col("event_id").as("e1_id"), col("ts").as("ts1"))
      val e2 = Tables.events(s, d).select(
        col("user_id").as("user_id2"), col("event_id").as("e2_id"), col("ts").as("ts2"))
      e1.join(e2,
          e1("user_id") === e2("user_id2") &&
          e2("ts2") > e1("ts1") &&
          e2("ts2") <= e1("ts1") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // J7b: the same range self-join, time-bucketed BY HAND — the explicit
    // form of the plan RangeJoinRewrite now derives for j7 (kept as the
    // readable reference construction and as the rewrite's oracle twin).
    // Bucketing by the window width (1 h) and probing each event's two
    // overlapping buckets bounds candidates per task to two buckets'
    // worth regardless of user-key cardinality. Result-identical to J7
    // (same oracle SQL). The marker-prefixed bucket name opts this join
    // OUT of the planner rewrite (it is already bucketed).
    "j7b_range_join_bucketed" -> ((s, d) => {
      val bn = graft.plans.RangeJoinRewrite.Marker + "_manual"
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          (unix_timestamp(col("ts")) / 3600L).cast("long").as(bn))
      val probes = ev.select(col("user_id"), col("event_id").as("e1_id"),
          col("ts").as("ts1"),
          explode(array(col(bn), col(bn) + 1)).as(bn))
      val build = ev.select(col("user_id").as("u2"), col("ts").as("ts2"), col(bn))
      probes.join(build,
          probes("user_id") === build("u2") && probes(bn) === build(bn) &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // J11: INTERVAL OVERLAP JOIN — both sides are interval sets and a
    // pair qualifies when the intervals intersect: the two-sided
    // generalization j7's point-in-window rewrite cannot express (no
    // equi key exists, and Spark would plan the raw predicate as a
    // nested-loop cartesian). overlapJoin buckets BOTH sides to
    // fixed-width time cells and joins on cell equality with a
    // canonical-ownership conjunct, so the plan is an equi hash join at
    // any scale (PlanSpec asserts no cartesian/BNLJ). Here: user
    // sessions (m1's sessionization) against 64 synthetic incident
    // windows derived deterministically from the event span — "which
    // sessions were active during each incident", aggregated per
    // incident. At 100 TB both sides may be fact-sized; the bucketed
    // join shuffles on the cell key instead of building any broadcast.
    "j11_overlap_join" -> ((s, d) => {
      val sess = graft.operators.PipelineOps.queries("m1_sessionize")(s, d)
      // incident grid from the EVENT span (cheap scan agg — identical
      // to min(session_start)/max(session_end) by construction, without
      // consuming the session subtree twice)
      val b = Tables.events(s, d)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (t0, t1) = (b.getLong(0), b.getLong(1))
      val step = (t1 - t0) / 64
      val incidents = s.range(64).select(
        col("id").as("incident_id"),
        (lit(t0) + col("id") * lit(step)).as("inc_start"),
        (lit(t0) + col("id") * lit(step) + lit(TwoHoursUs)).as("inc_end"))
      // every interval on either side lives inside the event span, so
      // t1−t0 bounds all spans — overlapJoin's stats pass is skipped and
      // the sessionize window runs exactly ONCE, inside the join itself
      // (r13; this replaces the localCheckpoint that pinned the session
      // frame against the stats pass's second consumption)
      overlapJoin(sess, incidents, "session_start", "session_end",
          "inc_start", "inc_end", TwoHoursUs,
          knownMaxSpanUs = Some(math.max(t1 - t0, TwoHoursUs)))
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // J12: FUZZY KEY JOIN (edit distance ≤ 1) — entity matching across
    // spell variants, the join relational engines don't ship: a naive
    // formulation is a quadratic levenshtein cross product. Blocking is
    // FastSS's deletion neighborhood (Bocek et al. 2007): two strings
    // are within edit distance 1 ONLY IF their {self} ∪ {every
    // single-char deletion} sets intersect (equal → self∩self; one
    // deletion → self∈del; one insertion → del∋self; one substitution
    // → del∩del), so candidates come from an EQUI join on exploded
    // variants — linear × (len+1) per side, shuffled on the variant
    // key — and the intersection admits a few distance-2 pairs (e.g.
    // transposes), which the exact levenshtein residual rejects. The
    // probe side is each part name with one deterministically chosen
    // character deleted, so every probe has at least its own origin
    // within distance 1.
    // The variant join runs over DISTINCT names, never keys: duplicate
    // names are the norm in entity data (this fixture: 64 names across
    // 20k parts) and a key-level variant join squares every duplicated
    // name inside its variant buckets (measured: 14 s vs 1 s at sf0.1
    // — the same dup-collapse lesson as minhashDedup's set clustering).
    // Keys re-enter through a per-name (count, min-key) aggregate
    // joined back after matching; with near-unique names the collapse
    // is a pass-through and the variant join carries the load.
    "j12_fuzzy_join" -> ((s, d) => {
      def variants(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(array(c), transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - lit(1)),
            c.substr(i + lit(1), length(c)))))
      val base = Tables.part(s, d)
        .select(col("p_partkey").as("bkey"), lower(col("p_name")).as("bname"))
      val probe = base.select(col("bkey").as("qkey"),
          ((col("bkey") % length(col("bname"))) + 1).cast(IntegerType).as("pos"),
          col("bname"))
        .select(col("qkey"),
          concat(col("bname").substr(lit(1), col("pos") - lit(1)),
            col("bname").substr(col("pos") + lit(1), length(col("bname"))))
            .as("qname"))
      val baseAgg = base.groupBy(col("bname"))
        .agg(count(lit(1)).as("n_keys"), min(col("bkey")).as("min_bkey"))
      val bv = baseAgg.select(col("bname"),
        explode(variants(col("bname"))).as("v"))
      val qv = probe.select(col("qname")).distinct()
        .select(col("qname"), explode(variants(col("qname"))).as("v"))
      val matches = qv.join(bv, "v")
        .select(col("qname"), col("bname")).distinct()
        .filter(levenshtein(col("qname"), col("bname")) <= 1)
      val perQname = matches.join(baseAgg, "bname")
        .groupBy(col("qname"))
        .agg(sum(col("n_keys")).as("n_matches"),
          min(col("min_bkey")).as("best_key"))
      probe.join(perQname, "qname")
        .select(col("qkey"), col("n_matches"), col("best_key"))
    }),

    // J12b: FUZZY KEY JOIN AT EDIT DISTANCE ≤ 2 (r10 next #5) —
    // distance-1 misses most real entity variants (double typo,
    // transposition+insertion), so this extends j12's FastSS blocking
    // to deletion neighborhoods of DEPTH 2: if lev(a,b) ≤ 2, any
    // optimal alignment touches ≤ 2 positions per side, and deleting
    // those positions from each side yields a COMMON string reachable
    // by ≤ 2 deletions from both — so D≤2(a) ∩ D≤2(b) ≠ ∅
    // (PropertySpec pins the law against the reference DP). Variants
    // per string are O(len²)/2 (~450 at fixture name lengths), still
    // generated over DISTINCT names only (the j12 dup-collapse
    // lesson), and the exact levenshtein ≤ 2 residual rejects the
    // distance-3/4 pairs the depth-2 intersection admits. The probe
    // side deletes TWO deterministically chosen characters, so
    // distance-2 matching is actually exercised.
    "j12b_fuzzy_join2" -> ((s, d) => {
      def del1(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(length(c) > 0,
          transform(sequence(lit(1), length(c)),
            i => concat(c.substr(lit(1), i - lit(1)),
              c.substr(i + lit(1), length(c)))))
          .otherwise(array().cast("array<string>"))
      def variants2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_distinct(concat(array(c), del1(c),
          flatten(transform(del1(c), v => del1(v)))))
      val base = Tables.part(s, d)
        .select(col("p_partkey").as("bkey"), lower(col("p_name")).as("bname"))
      val probe = base
        .select(col("bkey").as("qkey"),
          ((col("bkey") % length(col("bname"))) + 1).cast(IntegerType).as("p1"),
          col("bname"))
        .select(col("qkey"),
          concat(col("bname").substr(lit(1), col("p1") - lit(1)),
            col("bname").substr(col("p1") + lit(1), length(col("bname"))))
            .as("q0"))
        .select(col("qkey"),
          ((col("qkey") % length(col("q0"))) + 1).cast(IntegerType).as("p2"),
          col("q0"))
        .select(col("qkey"),
          concat(col("q0").substr(lit(1), col("p2") - lit(1)),
            col("q0").substr(col("p2") + lit(1), length(col("q0"))))
            .as("qname"))
      val baseAgg = base.groupBy(col("bname"))
        .agg(count(lit(1)).as("n_keys"), min(col("bkey")).as("min_bkey"))
      val bv = baseAgg.select(col("bname"),
        explode(variants2(col("bname"))).as("v"))
      val qv = probe.select(col("qname")).distinct()
        .select(col("qname"), explode(variants2(col("qname"))).as("v"))
      val matches = qv.join(bv, "v")
        .select(col("qname"), col("bname")).distinct()
        .filter(levenshtein(col("qname"), col("bname")) <= 2)
      val perQname = matches.join(baseAgg, "bname")
        .groupBy(col("qname"))
        .agg(sum(col("n_keys")).as("n_matches"),
          min(col("min_bkey")).as("best_key"))
      probe.join(perQname, "qname")
        .select(col("qkey"), col("n_matches"), col("best_key"))
    }),

    // J8: cross join (tiny × tiny only — anything else is a design bug).
    "j8_cross_join" -> ((s, d) => {
      val r = Tables.region(s, d).select(col("r_name"))
      val n = Tables.nation(s, d).select(col("n_name"))
      r.crossJoin(n)
    }),

    // J9: as-of join — for each purchase event, the latest click of the
    // same user at-or-before it. Composed as equi-join + window rank
    // (deterministic via event_id tiebreak); a custom SparkPlan is only
    // warranted if this two-shuffle plan profiles badly (SURVEY §4.3).
    "j9_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("c_ts").desc_nulls_last, col("c_id").desc_nulls_last)
      p.join(c, p("user_id") === c("c_user") && c("c_ts") <= p("p_ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("user_id"), col("c_id"))
    }),

    // J10: as-of join WITH TOLERANCE — the pandas merge_asof(tolerance=)
    // shape: latest click at-or-before the purchase AND within 1 hour,
    // else NULL (a stale match is as useless as none for attribution).
    // Same window-rank formulation as j9 with the band predicate in the
    // join condition, so the bounded-interval RangeJoinRewrite machinery
    // applies to the pair generation at scale; the left join keeps
    // purchases with no in-window click.
    "j10_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("c_ts").desc_nulls_last, col("c_id").desc_nulls_last)
      p.join(c,
          p("user_id") === c("c_user") && c("c_ts") <= p("p_ts") &&
            c("c_ts") >= p("p_ts") - expr("INTERVAL 1 HOUR"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_id"), col("user_id"), col("c_id"))
    }),

    // J9b: the same as-of join through the native operator stack
    // (LogicalPlan + SparkStrategy + sorted-merge SparkPlan,
    // graft.plans.AsOfJoin) — one exchange per side, no pair blow-up,
    // no window shuffle. Same oracle as j9.
    "j9b_asof_native" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOfJoinApi.asofJoin(p, c,
          "user_id", "c_user", "p_ts", "c_ts", "c_id")
        .select(col("p_id"), col("user_id"), col("c_id"))
    }),

    // J9c: composite-key as-of through the native operator's GENERAL
    // path ((long, string) key tuple → key-projection natural-ordering
    // merge): latest same-DAY click per user at or before each
    // purchase. Oracle-checked, so the multi-key merge sits under the
    // same gate as the fast path.
    "j9c_asof_multikey" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          to_date(col("ts")).cast(StringType).as("day"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          to_date(col("ts")).cast(StringType).as("c_day"), col("ts").as("c_ts"))
      graft.plans.AsOfJoinApi.asofJoin(p, c,
          Seq("user_id", "day"), Seq("c_user", "c_day"), "p_ts", "c_ts", "c_id")
        .select(col("p_id"), col("user_id"), col("day"), col("c_id"))
    }),

    // J13: NEAREST-event join — the pandas merge_asof(direction=
    // 'nearest') shape the backward-only as-of family (j9/j10) can't
    // express: each purchase matches the click minimizing |Δt| in
    // EITHER direction within ±1 hour, NULL if none. NOT the band-join
    // + rank-window formulation: on a dense hot key that materializes
    // every (purchase × click-within-±1h) pair — 54 s on the 500k-row
    // hot-user fixture, quadratic in key density at 100 TB. Instead:
    // TWO native sorted merges (graft.plans.AsOfJoin — O(1) memory, no
    // pair blow-up): backward nearest directly, forward nearest as
    // backward on NEGATED clocks (greatest -ts ≤ -p_ts ⟺ smallest
    // ts ≥ p_ts), then a 1:1 combine keyed on the unique p_id picks
    // the nearer side. Per direction, the overall nearest is within
    // the band iff any candidate is, so tolerance is a post-filter.
    // Tiebreak neg_c_id makes each merge prefer the SMALLEST click id
    // at equal ts, and backward wins equal gaps (earlier c_ts) —
    // matching the oracle's (gap, c_ts, c_id) ascending rank. Gaps are
    // exact µs longs.
    "j13_nearest_event" -> ((s, d) => nearestEvent(Tables.events(s, d))),

    // J14: TEMPORAL (point-in-time) join — enrich each event with the
    // dimension VERSION valid at event time, the batch twin of the
    // streaming t14 scenario and the consumer of what m18 builds: an
    // SCD2 dimension with half-open [valid_from, valid_to) intervals
    // (open current = NULL valid_to). The fixture synthesizes a
    // versioned per-user dimension (v1 from day 1 — so day-0 events
    // PREDATE history and keep a NULL version, the t14 drop class —
    // v2 from day 10 for even users, v3 from day 20 for %5 users);
    // valid_to derives from lead() over the key-sized change log. The
    // join is EQUI on user_id with the interval test as a residual —
    // never a nested loop; since each event matches at most one
    // version, no dedup is needed. At 100 TB the dimension is
    // key-cardinality (broadcast or key-clustered SMJ), the fact side
    // shuffles at most once on its own key.
    // J15: NULL-SAFE EQUI JOIN (r12) — `<=>` / IS NOT DISTINCT FROM,
    // the join-key NULL semantics the equality family leaves open: a
    // plain equi join silently DROPS every NULL-keyed row (NULL = NULL
    // is NULL), while null-safe equality matches the NULL group like
    // any other value — the semantics a fact table with an "unknown"
    // dimension key needs to keep its unknowns visible instead of
    // vanishing from the report. The fixture has no NULL keys, so the
    // 'en' majority is NULLIF'd into one (the biggest group becomes the
    // NULL group — the drop would be maximally visible if it happened).
    // Spark plans EqualNullSafe as a HASH join key (coalesce-wrapped
    // internally), so the plan is the same broadcast/shuffled hash join
    // as a plain equi join — no nested loop, scale shape unchanged.
    // J17: COST-BASED JOIN REORDER (r14) — the statistics discipline a
    // 100 TB warehouse runs on: catalog tables carry ANALYZE'd row/
    // column statistics, and with CBO enabled Catalyst reorders an
    // inner-join chain by estimated cardinality instead of executing
    // the user's textual order. The entry materializes the fact and two
    // dims as catalog tables, runs ANALYZE TABLE … COMPUTE STATISTICS
    // FOR COLUMNS on the join keys (metadata-sized: one stats pass per
    // table, stored in the catalog), and executes the 3-way join
    // WRITTEN worst-order-first (fact ⋈ fact-sized dim first, selective
    // dim last). Correctness is order-independent — the oracle pins the
    // result; PlanSpec owns the plan property (with CBO + stats the
    // optimized join tree starts from the selective side; without CBO
    // it follows the text). Stats collection is the knob that keeps
    // broadcast/reorder decisions honest when estimates would lie.
    "j17_cbo_reorder" -> ((s, d) => {
      // one chain: reset the entry's table, write it, ANALYZE its keys
      def save(entry: String, df: org.apache.spark.sql.DataFrame,
          keys: String): String = {
        val table = Tables.freshTable(s, entry, d)
        df.write.mode("overwrite").option("path", Tables.scratch(entry, d))
          .saveAsTable(table)
        s.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS $keys")
        table
      }
      // The three save→ANALYZE chains are mutually independent (each
      // touches only its own table), so they run overlapped from three
      // driver threads (guide §2.6 "overlap independent jobs"): each
      // chain is ~6 short sequential driver round-trips (DDL, 1-3-task
      // write, commit, two stats jobs) whose latencies otherwise
      // serialize while 32 cores idle — r18 ProfileQuery put the
      // sequential setup at ~1.3 s of 1.7 s steady build. The final
      // 3-way join still starts only after ALL chains complete
      // (Await below), so the stats CBO reads are exactly the same.
      val pipelines: Seq[() => String] = Seq(
        () => save("j17_li", Tables.lineitem(s, d).select(col("l_orderkey"),
            expr("CAST(ROUND(l_extendedprice * 1e2, 0) AS BIGINT)").as("cents")),
          "l_orderkey"),
        () => save("j17_od", Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey")),
          "o_orderkey, o_custkey"),
        () => save("j17_cu", Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment")),
          "c_custkey, c_mktsegment"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val Seq(li, od, cu) = try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            pipelines.map(p => scala.concurrent.Future(p()))),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
      try s.sql(
        s"""SELECT c.c_mktsegment, COUNT(*) AS n,
           |  CAST(SUM(l.cents) AS BIGINT) AS cents_total
           |FROM $li l
           |JOIN $od o ON l.l_orderkey = o.o_orderkey
           |JOIN $cu c ON o.o_custkey = c.c_custkey
           |WHERE c.c_mktsegment = 'BUILDING'
           |GROUP BY c.c_mktsegment""".stripMargin)
      finally
        // ADVICE r14: scope the scratch catalog state to this entry. The
        // returned frame is ANALYZED by now — its LogicalRelations hold
        // the resolved file index plus the stats snapshot CBO reads —
        // and the tables are external, so dropping the catalog entries
        // neither deletes the files nor breaks later execution/PlanSpec.
        Seq(li, od, cu).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }),

    // J16: RUNTIME-FILTERED JOIN (r14) — the bloom semi-join reduction
    // (Catalyst's InjectRuntimeFilter) that makes a selective dim join
    // cheap at 100 TB: the filtered creation side (parts at one size of
    // fifty) builds a bloom filter at runtime, and a might_contain
    // predicate is injected into the FACT-side scan so ~98% of probe
    // rows drop before the shuffle instead of after it. Semantically a
    // plain inner join+agg (the oracle pins that); the runtime filter is
    // plan shape only, governed by the session thresholds Tuning sets —
    // at fixture scale the 10 GB application-side floor correctly leaves
    // the plan unfiltered (the reduction would cost more than it saves),
    // and PlanSpec proves the same query grows the BloomFilterMightContain
    // probe once the thresholds correspond to a 100 TB-shaped probe side.
    "j16_runtime_filter" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"))
      val dim = Tables.part(s, d).filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_brand"))
      li.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(SUM(CAST(ROUND(l_quantity * 1e2, 0) AS BIGINT)) AS BIGINT)")
            .as("qty_cents"))
    }),

    "j15_nullsafe_join" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr("NULLIF(lang, 'en')").as("lk"),
          col("n_chars"))
      val dim = docs.groupBy(col("lk"))
        .agg(count(lit(1)).as("grp_n"),
          expr("CAST(SUM(n_chars) AS BIGINT)").as("grp_chars"))
      docs.join(dim, docs("lk") <=> dim("lk"))
        .select(col("doc_id"), col("grp_n"), col("grp_chars"))
    }),

    "j14_temporal_join" -> ((s, d) => {
      val day = 86400000000L
      val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC, epoch µs
      val ev = Tables.events(s, d).select(col("event_id"),
        col("user_id"), unix_micros(col("ts")).as("us"))
      val users = ev.select(col("user_id")).distinct()
      val log = users
        .select(col("user_id"), lit(1L).as("ver"),
          lit(t0 + 1 * day).as("valid_from"))
        .unionByName(users.filter(col("user_id") % 2 === 0)
          .select(col("user_id"), lit(2L).as("ver"),
            lit(t0 + 10 * day).as("valid_from")))
        .unionByName(users.filter(col("user_id") % 5 === 0)
          .select(col("user_id"), lit(3L).as("ver"),
            lit(t0 + 20 * day).as("valid_from")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
      val dim = log.select(col("user_id").as("d_user"), col("ver"),
        col("valid_from"), lead(col("valid_from"), 1).over(w).as("valid_to"))
      ev.join(dim,
          ev("user_id") === dim("d_user") &&
            col("us") >= col("valid_from") &&
            (col("valid_to").isNull || col("us") < col("valid_to")),
          "left")
        .select(col("event_id"), col("user_id"), col("ver"))
    })
  )

  /** j13's kernel on any (event_id, ts, user_id, event_type) frame —
    * exposed for PropertySpec's brute-force law.
    */
  private[graft] def nearestEvent(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"),
          (-unix_micros(col("ts"))).as("neg_p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          unix_micros(col("ts")).as("c_us"),
          (-unix_micros(col("ts"))).as("neg_c_us"),
          (-col("event_id")).as("neg_c_id"))
      val tol = 3600L * 1000000L
      val back = graft.plans.AsOfJoinApi.asofJoin(p, c,
          "user_id", "c_user", "p_us", "c_us", "neg_c_id")
        .select(col("p_id"), col("user_id"),
          col("c_id").as("b_c_id"), (col("p_us") - col("c_us")).as("b_gap"))
      val fwd = graft.plans.AsOfJoinApi.asofJoin(p, c,
          "user_id", "c_user", "neg_p_us", "neg_c_us", "neg_c_id")
        .select(col("p_id"),
          col("c_id").as("f_c_id"), (col("c_us") - col("p_us")).as("f_gap"))
      def inTol(g: org.apache.spark.sql.Column) = g.isNotNull && g <= tol
      val backWins = inTol(col("b_gap")) &&
        (!inTol(col("f_gap")) || col("b_gap") <= col("f_gap"))
      back.join(fwd, Seq("p_id"))
        .select(col("p_id"), col("user_id"),
          when(backWins, col("b_c_id"))
            .otherwise(when(inTol(col("f_gap")), col("f_c_id"))).as("c_id"),
          when(backWins, col("b_gap"))
            .otherwise(when(inTol(col("f_gap")), col("f_gap"))).as("gap_us"))
  }

  private val TwoHoursUs = 7200000000L

  /** Generic two-sided interval overlap join. Each side explodes its
    * interval into the width-`widthUs` time cells it covers
    * (`sequence(start DIV w, end DIV w)` — integer arithmetic, no
    * float boundary risk) and the join key is CELL EQUALITY, so
    * candidates only arise between intervals co-resident in a cell —
    * never a cartesian. The exact overlap predicate
    * (aS ≤ bE ∧ bS ≤ aE) is the residual, and the CANONICAL-OWNERSHIP
    * conjunct — the cell must be the one containing max(aS, bS), which
    * every overlapping pair covers on both sides — emits each pair
    * exactly once with no downstream distinct. Explode factor is
    * span/width per interval.
    *
    * Width guard (ADVICE r10): the caller's `widthUs` is a LOWER-bound
    * hint near the typical interval length; before exploding, one
    * narrow agg pass over both sides (the s11Buckets derive-from-data
    * pattern) reads the max observed span and WIDENS the cell so no
    * single row fans out past `maxCellsPerRow` cells — a lone
    * long-lived interval (the skew fixture's giant hot-user session
    * against 2-hour cells) would otherwise expand one input row into
    * thousands of cell rows on one task. Widening is always safe:
    * width shapes the plan, never the result (the exact overlap
    * predicate is the residual). Callers with an expensive upstream
    * subtree should materialize it first (see j11) so the stats pass
    * doesn't recompute it.
    */
  def overlapJoin(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      aS: String, aE: String, bS: String, bE: String,
      widthUs: Long, maxCellsPerRow: Int = 1024,
      knownMaxSpanUs: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    // cell width from the max interval span. A caller that KNOWS an
    // upper bound on every span (e.g. the whole dataset's time range)
    // passes it and skips the stats job — which otherwise consumes both
    // inputs a second time, forcing callers to checkpoint expensive
    // subtrees (j11's sessionize paid ~1 s for a pass whose answer the
    // caller could bound for free). Any over-estimate of the span is
    // safe: w only sizes the cells — a wider w means fewer, wider cells
    // (more residual-filter work), never a wrong pair.
    val maxSpan = knownMaxSpanUs.getOrElse {
      val spanRow = a.select((col(aE) - col(aS)).as("__sp"))
        .unionByName(b.select((col(bE) - col(bS)).as("__sp")))
        .agg(max(col("__sp"))).head()
      if (spanRow.isNullAt(0)) 0L else spanRow.getLong(0)
    }
    val w = math.max(widthUs, maxSpan / maxCellsPerRow + 1)
    val ab = a.withColumn("__cell",
      explode(sequence(expr(s"$aS DIV $w"), expr(s"$aE DIV $w"))))
    val bb = b.withColumn("__cell2",
      explode(sequence(expr(s"$bS DIV $w"), expr(s"$bE DIV $w"))))
    ab.join(bb,
        col("__cell") === col("__cell2") &&
        col(aS) <= col(bE) && col(bS) <= col(aE) &&
        col("__cell") === expr(s"GREATEST($aS, $bS) DIV $w"))
      .drop("__cell", "__cell2")
  }

  val oracles: Map[String, String] = Map(
    // j12: identical deletion-neighborhood blocking in SQL — the
    // oracle stays LINEAR like the engine (a quadratic levenshtein
    // cross product would dominate the whole check at bench SF)
    "j12_fuzzy_join" ->
      """WITH base AS (
        |  SELECT p_partkey AS bkey, lower(p_name) AS bname FROM part
        |), probe AS (
        |  SELECT bkey AS qkey,
        |    substr(bname, 1, CAST(bkey % len(bname) AS INT))
        |      || substr(bname, CAST(bkey % len(bname) AS INT) + 2,
        |                len(bname)) AS qname
        |  FROM base
        |), base_agg AS (
        |  SELECT bname, COUNT(*) AS n_keys, MIN(bkey) AS min_bkey
        |  FROM base GROUP BY bname
        |), bv AS (
        |  SELECT bname, unnest(list_prepend(bname,
        |    list_transform(range(1, len(bname) + 1),
        |      i -> substr(bname, 1, i - 1)
        |           || substr(bname, i + 1, len(bname))))) AS v
        |  FROM base_agg
        |), qv AS (
        |  SELECT qname, unnest(list_prepend(qname,
        |    list_transform(range(1, len(qname) + 1),
        |      i -> substr(qname, 1, i - 1)
        |           || substr(qname, i + 1, len(qname))))) AS v
        |  FROM (SELECT DISTINCT qname FROM probe)
        |), matches AS (
        |  SELECT qname, bname FROM (
        |    SELECT DISTINCT qname, bname FROM qv JOIN bv USING (v))
        |  WHERE levenshtein(qname, bname) <= 1
        |), per_qname AS (
        |  SELECT qname, SUM(n_keys) AS n_matches, MIN(min_bkey) AS best_key
        |  FROM matches JOIN base_agg USING (bname) GROUP BY qname
        |)
        |SELECT qkey, CAST(n_matches AS BIGINT) AS n_matches, best_key
        |FROM probe JOIN per_qname USING (qname)""".stripMargin,

    // j12b: identical depth-2 deletion-neighborhood blocking in SQL —
    // like j12's oracle it stays LINEAR in distinct names × len²
    // (a quadratic levenshtein cross product would dominate the check)
    "j12b_fuzzy_join2" ->
      """WITH base AS (
        |  SELECT p_partkey AS bkey, lower(p_name) AS bname FROM part
        |), probe AS (
        |  SELECT qkey,
        |    substr(q0, 1, CAST(qkey % len(q0) AS INT))
        |      || substr(q0, CAST(qkey % len(q0) AS INT) + 2, len(q0)) AS qname
        |  FROM (
        |    SELECT bkey AS qkey,
        |      substr(bname, 1, CAST(bkey % len(bname) AS INT))
        |        || substr(bname, CAST(bkey % len(bname) AS INT) + 2,
        |                  len(bname)) AS q0
        |    FROM base)
        |), base_agg AS (
        |  SELECT bname, COUNT(*) AS n_keys, MIN(bkey) AS min_bkey
        |  FROM base GROUP BY bname
        |), bv AS (
        |  SELECT bname, unnest(list_distinct(flatten([
        |    [bname],
        |    list_transform(range(1, len(bname) + 1),
        |      i -> substr(bname, 1, i - 1) || substr(bname, i + 1, len(bname))),
        |    flatten(list_transform(
        |      list_transform(range(1, len(bname) + 1),
        |        i -> substr(bname, 1, i - 1) || substr(bname, i + 1, len(bname))),
        |      v -> list_transform(range(1, len(v) + 1),
        |        j -> substr(v, 1, j - 1) || substr(v, j + 1, len(v)))))
        |  ]))) AS v
        |  FROM base_agg
        |), qv AS (
        |  SELECT qname, unnest(list_distinct(flatten([
        |    [qname],
        |    list_transform(range(1, len(qname) + 1),
        |      i -> substr(qname, 1, i - 1) || substr(qname, i + 1, len(qname))),
        |    flatten(list_transform(
        |      list_transform(range(1, len(qname) + 1),
        |        i -> substr(qname, 1, i - 1) || substr(qname, i + 1, len(qname))),
        |      v -> list_transform(range(1, len(v) + 1),
        |        j -> substr(v, 1, j - 1) || substr(v, j + 1, len(v)))))
        |  ]))) AS v
        |  FROM (SELECT DISTINCT qname FROM probe)
        |), matches AS (
        |  SELECT qname, bname FROM (
        |    SELECT DISTINCT qname, bname FROM qv JOIN bv USING (v))
        |  WHERE levenshtein(qname, bname) <= 2
        |), per_qname AS (
        |  SELECT qname, SUM(n_keys) AS n_matches, MIN(min_bkey) AS best_key
        |  FROM matches JOIN base_agg USING (bname) GROUP BY qname
        |)
        |SELECT qkey, CAST(n_matches AS BIGINT) AS n_matches, best_key
        |FROM probe JOIN per_qname USING (qname)""".stripMargin,

    // j11: sessions (m1's exact CTE chain) × the same deterministic
    // incident grid, quadratic overlap predicate — fine at oracle
    // scale, never the engine plan (the engine joins on time cells).
    "j11_overlap_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), f AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), s0 AS (
        |  SELECT user_id, us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f
        |), sess AS (
        |  SELECT user_id, session_id,
        |    MIN(us) AS session_start, MAX(us) AS session_end
        |  FROM s0 GROUP BY user_id, session_id
        |), bounds AS (
        |  SELECT MIN(us) AS t0, MAX(us) AS t1 FROM e
        |), inc AS (
        |  SELECT i AS incident_id,
        |    t0 + i * ((t1 - t0) // 64) AS inc_start,
        |    t0 + i * ((t1 - t0) // 64) + 7200000000 AS inc_end
        |  FROM range(64) r(i), bounds
        |)
        |SELECT incident_id, COUNT(*) AS n_sessions,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM sess JOIN inc
        |  ON session_start <= inc_end AND inc_start <= session_end
        |GROUP BY incident_id""".stripMargin,

    "j1_inner_join" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "j2_broadcast_join" ->
      s"""SELECT p_brand, ${sqlDsum("l_extendedprice")} AS brand_revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "j3_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "j4_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin,

    "j5_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "j6_multiway" ->
      s"""SELECT r_name,
        |  ${graft.Exprs.sqlLsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "j7_range_join" ->
      """SELECT e1.user_id, COUNT(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |GROUP BY e1.user_id""".stripMargin,

    "j7b_range_join_bucketed" ->
      """SELECT e1.user_id, COUNT(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |GROUP BY e1.user_id""".stripMargin,

    "j8_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "j9b_asof_native" ->
      """SELECT p_id, user_id, c_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |) WHERE rn = 1""".stripMargin,

    "j10_asof_tolerance" ->
      """SELECT p_id, user_id, c_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND c.ts >= p.ts - INTERVAL 1 HOUR
        |) WHERE rn = 1""".stripMargin,

    "j9_asof_join" ->
      """SELECT p_id, user_id, c_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |) WHERE rn = 1""".stripMargin,

    "j9c_asof_multikey" ->
      """SELECT p_id, user_id, day, c_id FROM (
        |  SELECT p.event_id AS p_id, p.user_id,
        |    CAST(CAST(p.ts AS DATE) AS VARCHAR) AS day, c.event_id AS c_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id
        |   AND CAST(c.ts AS DATE) = CAST(p.ts AS DATE)
        |   AND c.ts <= p.ts
        |) WHERE rn = 1""".stripMargin,

    "j13_nearest_event" ->
      """SELECT p_id, user_id, c_id, gap_us FROM (
        |  SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
        |    abs(epoch_us(c.ts) - epoch_us(p.ts)) AS gap_us,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC NULLS LAST,
        |               c.ts ASC NULLS LAST, c.event_id ASC NULLS LAST) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id
        |   AND c.ts >= p.ts - INTERVAL 1 HOUR
        |   AND c.ts <= p.ts + INTERVAL 1 HOUR
        |) WHERE rn = 1""".stripMargin,

    // j14: 1704067200000000 = 2024-01-01 00:00:00 UTC in epoch µs;
    // 86400000000 = one day
    // j15: IS NOT DISTINCT FROM ≡ Spark's <=>; the NULL group (the
    // NULLIF'd 'en' majority) must appear in the output or the hash
    // breaks — a plain-equality oracle would lose 44% of the rows
    // j17: result is join-order-independent; the oracle recomputes it
    // from the raw tables
    "j17_cbo_reorder" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l.l_extendedprice * 1e2, 0) AS BIGINT))
        |    AS BIGINT) AS cents_total
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY c.c_mktsegment""".stripMargin,

    // j16: the runtime filter is plan-only — the oracle is the plain
    // selective join+agg
    "j16_runtime_filter" ->
      """SELECT p.p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l.l_quantity * 1e2, 0) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size = 1
        |GROUP BY 1""".stripMargin,

    "j15_nullsafe_join" ->
      """WITH d AS (
        |  SELECT doc_id, NULLIF(lang, 'en') AS lk, n_chars FROM documents
        |), g AS (
        |  SELECT lk, COUNT(*) AS grp_n,
        |    CAST(SUM(n_chars) AS BIGINT) AS grp_chars
        |  FROM d GROUP BY lk
        |)
        |SELECT d.doc_id, g.grp_n, g.grp_chars
        |FROM d JOIN g ON d.lk IS NOT DISTINCT FROM g.lk""".stripMargin,

    "j14_temporal_join" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), chlog AS (
        |  SELECT user_id, CAST(1 AS BIGINT) AS ver,
        |    1704067200000000 + 1 * 86400000000 AS valid_from FROM u
        |  UNION ALL
        |  SELECT user_id, 2, 1704067200000000 + 10 * 86400000000
        |  FROM u WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT user_id, 3, 1704067200000000 + 20 * 86400000000
        |  FROM u WHERE user_id % 5 = 0
        |), dim AS (
        |  SELECT user_id AS d_user, ver, valid_from,
        |    LEAD(valid_from) OVER (PARTITION BY user_id
        |                           ORDER BY valid_from) AS valid_to
        |  FROM chlog
        |)
        |SELECT e.event_id, e.user_id, d.ver
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us FROM events) e
        |LEFT JOIN dim d
        |  ON e.user_id = d.d_user
        | AND e.us >= d.valid_from
        | AND (d.valid_to IS NULL OR e.us < d.valid_to)""".stripMargin
  )
}
