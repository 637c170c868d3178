package graft.operators

import graft.Tables
import graft.Tables.Q
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The SQL-string frontend surface (`spark.sql`) plus pivot/unpivot.
  *
  * The sql* queries register the fixture tables as temp views and run
  * ONE dialect-neutral SQL text that is also the DuckDB oracle verbatim
  * — proving the engine's SQL path end to end, not just the DSL.
  */
object SqlFrontend {

  /** Last-registered fixture dir per session. Re-running the frontend
    * re-listed and re-inferred all 10 tables on EVERY invocation (~0.3 s
    * of driver-side file listing per table — 10× the cost of Q3 itself
    * at sf0.1); views are session-scoped state, so register them once
    * and refresh only when the data dir actually changes.
    */
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Pre-register the fixture views for a session+dir (setup, not query
    * work — Bench calls this during warmup so timed sql* entries measure
    * the query, not driver-side file listing).
    */
  def registerViews(s: SparkSession, d: String): Unit = withViews(s, d)

  private def withViews(s: SparkSession, d: String): Unit =
    registeredDir.compute(s, (_, prev) => {
      if (prev != d)
        Tables.names.foreach(n => Tables.load(s, d, n).createOrReplaceTempView(n))
      d
    })

  /** TPC-H Q3 shape (shipping priority), dialect-neutral: revenue summed
    * as an exact scaled long (see graft.Exprs), date literals via
    * TIMESTAMP, unique tiebreak in ORDER BY.
    */
  private val q3Sql =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1e4, 0) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS order_date, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Scalar subquery: orders above the global average price. */
  private val scalarSubSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
      |  AND o_orderstatus = 'F'""".stripMargin

  /** GROUPING SETS: two independent rollup dimensions + grand total in
    * one pass (the reshape rollup/cube can't express).
    */
  private val groupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS DOUBLE) / 1e2 AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** TPC-H Q21 shape (waiting suppliers) — the deep-correlation stress
    * sql1–sql4 don't reach (r10 next #6): an EXISTS and a NOT EXISTS
    * over the SAME fact table, each correlated on the outer lineitem's
    * orderkey, and the NOT EXISTS additionally referencing a SECOND
    * outer table's column (o_orderdate) — two outer tables in one
    * correlated predicate. Catalyst must decorrelate both into
    * semi/anti joins (no per-row subquery); lateness is shipdate > 60
    * days past the order date (the fixture has no commitdate). Unique
    * tiebreak (s_name is unique) pins the LIMIT.
    */
  private val q21Sql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q2 shape (r11): correlated AGGREGATE scalar subquery in
    * WHERE — for each order, keep the lineitems priced at that order's
    * own minimum. Deeper than sql2's uncorrelated scalar: the subquery
    * aggregates PER OUTER ROW, so Catalyst must rewrite it into a
    * grouped aggregate + equi join on the correlation key (never a
    * per-row execution); the %3 residual keeps the output a strict
    * subset so the filter ordering around the rewrite is exercised
    * too. One dialect-neutral text, both engines.
    */
  private val q2Sql =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice
      |FROM lineitem l
      |WHERE l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
      |                           FROM lineitem l2
      |                           WHERE l2.l_orderkey = l.l_orderkey)
      |  AND l.l_orderkey % 3 = 0""".stripMargin

  /** Windowed SQL text (r11) — the frontend's window-planning path
    * (named WINDOW clause shared by three functions + an inline frame),
    * which the DSL w* entries never touch: one text, both engines.
    * Exact scaled-long running sum (graft.Exprs convention) so the
    * frame accumulation is order-free cross-engine; unique (date, key)
    * tiebreak pins every ranked value.
    */
  private val windowSql =
    """SELECT o_custkey, o_orderkey,
      |  ROW_NUMBER() OVER w AS rn,
      |  LAG(o_orderkey) OVER w AS prev_order,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e2
      |    AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Native extension functions FROM SQL TEXT (r11) — the one surface
    * `GraftExtensions` promises that no entry exercised end to end:
    * `rolling_hash` (the codegen'd polynomial-fingerprint Expression
    * l10 uses via the DSL) and `dot_product` called by NAME from a SQL
    * string, resolved through the session FunctionRegistry
    * ([[graft.GraftExtensions.ensureFunctions]] attaches them to
    * plain-built sessions, the same late-attach pattern
    * `RangeJoinRewrite.ensureRegistered` uses). The only sql* entry
    * whose oracle is not the same text: DuckDB has neither function, so
    * the oracle re-expresses them as l10's list_reduce fold and
    * list_dot_product (both conventions already hash-proven by
    * l10/l3). norm2 rounds to 6 digits on both sides — the l3 float
    * convention; fingerprint is exact integer arithmetic.
    */
  private val nativeFnSql =
    """SELECT d.doc_id,
      |  rolling_hash(split(d.text, ' ')) AS fingerprint,
      |  ROUND(dot_product(CAST(e.embedding AS ARRAY<DOUBLE>),
      |                    CAST(e.embedding AS ARRAY<DOUBLE>)), 6) AS norm2
      |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin

  private val nativeFnOracleSql =
    """SELECT d.doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(d.text, ' '),
      |        t -> list_reduce(
      |               list_prepend(CAST(0 AS BIGINT),
      |                 list_transform(string_split(t, ''),
      |                   c -> CAST(ascii(c) AS BIGINT))),
      |               (th, b) -> (th * 131 + b) % 1000000007))),
      |    (h, th) -> (h * 31 + th) % 1000000007) AS fingerprint,
      |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                         CAST(e.embedding AS DOUBLE[])), 6) AS norm2
      |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin

  /** Recursive CTE (r11) — iterative fixpoint queries from plain SQL
    * (Spark 4's WITH RECURSIVE), the frontend capability class that
    * windows/joins cannot express: per-customer "opening streak" — walk
    * the chain of consecutive orders (LEAD-linked, deterministic
    * (date, key) tiebreak) while each gap is ≤ 30 days, report the
    * walk length. The successor pointer makes the recursion LINEAR
    * (one row per customer per iteration — a UNION ALL frontier can
    * never multi-path-explode), termination is structural (strictly
    * increasing dates + the gap cut; fixture max depth 4), and each
    * iteration is one equi join of the frontier against the base.
    * Scale note: Spark's recursion re-plans the referenced CTE per
    * step, so a depth-d walk costs d base evaluations of the windowed
    * `nxt` derivation. r12: the ENGINE path localCheckpoints `nxt`
    * once and lets the recursion join against the materialized blocks
    * — the per-iteration cost drops from window-over-orders to a
    * frontier join (committed median 2.38 s → ~0.9 s at sf0.1). The
    * ORACLE still runs the original one-CTE text verbatim, so the
    * semantics pin is unchanged; the engine-side split is the same
    * "materialize the loop-invariant" move every iterative DSL
    * operator here makes (m5's contraction CC checkpoints likewise).
    * DEEP fixpoints (graph closure over 100 TB) still belong on the
    * DSL's checkpointed iterative operators — d base evaluations
    * become d frontier joins, but the frontier itself stays
    * driver-scheduled per step.
    */
  private[graft] val recursiveSql =
    """WITH RECURSIVE nxt AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS nd,
      |         LEAD(o_orderkey) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS nk,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |), walk AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, nd, nk, 1 AS steps
      |  FROM nxt WHERE rn = 1
      |  UNION ALL
      |  SELECT n.o_custkey, n.o_orderkey, n.o_orderdate, n.nd, n.nk,
      |         w.steps + 1
      |  FROM walk w JOIN nxt n ON n.o_orderkey = w.nk
      |  WHERE w.nd IS NOT NULL
      |    AND w.nd <= w.o_orderdate + INTERVAL 30 DAY
      |)
      |SELECT o_custkey, MAX(steps) AS streak
      |FROM walk GROUP BY o_custkey""".stripMargin

  /** Engine-side split of [[recursiveSql]]: the loop-invariant windowed
    * base, localCheckpointed once, and the recursion over it by view
    * name. Semantics identical to the one-CTE oracle text.
    */
  private val sql8NxtSql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey) AS nd,
      |       LEAD(o_orderkey) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey) AS nk,
      |       ROW_NUMBER() OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey) AS rn
      |FROM orders""".stripMargin

  private val sql8WalkSql =
    """WITH RECURSIVE walk AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, nd, nk, 1 AS steps
      |  FROM sql8_nxt WHERE rn = 1
      |  UNION ALL
      |  SELECT /*+ BROADCAST(w) */
      |         n.o_custkey, n.o_orderkey, n.o_orderdate, n.nd, n.nk,
      |         w.steps + 1
      |  FROM walk w JOIN sql8_nxt n ON n.o_orderkey = w.nk
      |  WHERE w.nd IS NOT NULL
      |    AND w.nd <= w.o_orderdate + INTERVAL 30 DAY
      |)
      |SELECT o_custkey, MAX(steps) AS streak
      |FROM walk GROUP BY o_custkey""".stripMargin

  /** LATERAL correlated derived table (r11) — the top-k-per-outer-row
    * idiom from SQL text: each BUILDING customer's two most expensive
    * orders via a correlated, ordered, limited subquery in the FROM
    * clause. Exercises the frontend path none of sql1–sql8 touch
    * (lateral decorrelation: Catalyst must rewrite the per-row LIMIT
    * into a rank-over-join, never execute the subquery per outer row).
    * The inner (price, key) tiebreak pins the LIMIT deterministically;
    * one dialect-neutral text = the DuckDB oracle verbatim.
    */
  private val lateralSql =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
      |) t
      |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin

  /** Set operations from SQL TEXT (r11) — INTERSECT binds tighter than
    * EXCEPT in both engines (SQL standard), so the chain's grouping is
    * pinned by the standard, not by dialect luck: repeat-1995-and-1996
    * customers minus the big-failed-order ones. The DSL o4b/o5/o5b
    * entries cover the operators; this covers the frontend's set-op
    * PARSING/planning path with one dialect-neutral text.
    */
  private val setOpsSql =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |EXCEPT
      |SELECT o_custkey FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 400000""".stripMargin

  /** Correlated EXISTS — planned as a semi join, not a per-row subquery. */
  private val existsSql =
    """SELECT o_orderkey FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |  AND o_orderstatus = 'F'""".stripMargin

  /** CTAS through the catalog (r11) — the frontend's DDL/write path
    * (s6b/s13 create tables over EXISTING layouts; nothing exercised
    * CREATE TABLE AS SELECT end to end): materialize a per-status
    * order summary into a parquet-backed catalog table, then read it
    * back THROUGH the catalog by name. The oracle
    * recomputes the summary from the source, so the materialization
    * must be value-transparent.
    */
  private def ctas(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    withViews(s, d)
    val tbl = Tables.freshTable(s, "sql11_order_summary", d)
    val path = Tables.scratch("sql11_order_summary", d)
    s.sql(
      s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
         |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS DOUBLE) / 1e2 AS total
         |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
    s.sql(s"SELECT * FROM $tbl")
  }

  /** MERGE INTO as SQL text (r12) — the one DML statement the frontend
    * left open (m2's CDC upsert is DSL-only). The target is a
    * parquet-backed catalog table (sql11's CTAS machinery) seeded from
    * the 'F' orders per customer; the source batch is the 'O' orders
    * aggregated the same way. All four clause classes fire at both
    * fixture SFs: conditional MATCHED DELETE, MATCHED UPDATE,
    * NOT MATCHED INSERT, and conditional NOT MATCHED BY SOURCE DELETE.
    * Executed by [[graft.plans.MergeIntoParquetRewrite]]'s copy-on-write
    * command (vanilla Spark rejects MERGE on non-row-level v1 tables);
    * the oracle recomputes the post-merge state from the source rows
    * with a FULL JOIN + CASE, so the hash pins clause precedence and
    * all three row classes, not just the happy path.
    */
  private def mergeInto(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    withViews(s, d)
    val tbl = Tables.freshTable(s, "sql13_balance", d)
    val path = Tables.scratch("sql13_balance", d)
    s.sql(
      s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
         |SELECT o_custkey AS custkey, COUNT(*) AS n,
         |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents
         |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""".stripMargin)
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_custkey AS custkey, COUNT(*) AS n,
         |         SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents
         |       FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) u
         |ON t.custkey = u.custkey
         |WHEN MATCHED AND u.n >= 5 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET n = t.n + u.n, cents = t.cents + u.cents
         |WHEN NOT MATCHED THEN INSERT (custkey, n, cents)
         |  VALUES (u.custkey, u.n, u.cents)
         |WHEN NOT MATCHED BY SOURCE AND t.n >= 3 THEN DELETE""".stripMargin)
    s.sql(s"SELECT custkey, n, cents FROM $tbl")
  }

  /** Seed a parquet catalog table with the per-customer 'F'-order
    * balance (the sql13 shape), run one DML statement against it, and
    * read the post-state back — the sql14/sql15 harness.
    */
  private def dmlOn(s: SparkSession, d: String, name: String, dml: String => String,
      postSelect: String = "custkey, n, cents")
      : org.apache.spark.sql.DataFrame = {
    withViews(s, d)
    val tbl = Tables.freshTable(s, s"${name}_balance", d)
    val path = Tables.scratch(s"${name}_balance", d)
    s.sql(
      s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
         |SELECT o_custkey AS custkey, COUNT(*) AS n,
         |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents
         |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""".stripMargin)
    s.sql(dml(tbl))
    s.sql(s"SELECT $postSelect FROM $tbl")
  }

  val queries: Map[String, Q] = Map(
    "sql11_ctas" -> ((s, d) => ctas(s, d)),
    "sql13_merge_into" -> ((s, d) => mergeInto(s, d)),

    // SQL14: UPDATE statement on a parquet catalog table (r13) — the
    // backfill-fix DML vanilla Spark rejects on v1 tables; executed by
    // [[graft.plans.DmlParquetRewrite]]'s copy-on-write command. The
    // WHERE hits most but not all rows at every fixture SF (sf0.001:
    // 123 of 145 customers have n >= 2), so both the assignment and the
    // keep-old-value branch are live; the oracle recomputes the
    // post-state from the raw orders.
    "sql14_update" -> ((s, d) => dmlOn(s, d, "sql14", tbl =>
      s"UPDATE $tbl SET cents = cents + n * 100, n = n + 1 WHERE n >= 2")),

    // SQL15: DELETE statement on a parquet catalog table (r13) — the
    // GDPR-scrub DML; same rewrite machinery, pure scan+filter+CoW. The
    // threshold sits below the fixture median so the delete both fires
    // and leaves survivors at every SF.
    "sql15_delete" -> ((s, d) => dmlOn(s, d, "sql15", tbl =>
      s"DELETE FROM $tbl WHERE cents < 50000000")),

    // SQL22 (r16): DELETE WHERE key IN (subquery) — the GDPR-LIST scrub
    // (the erasure-request batch arrives as a TABLE, not a literal
    // predicate). The IN-subquery plans as a join under the DELETE's
    // condition; the file-pruned commit still applies because the
    // touched-file probe and the pruned-relation rebind both preserve
    // the resolved subquery expressions (UpdateDelete's prunedRelation
    // contract). Scrub set = customers with ≥ 5 'O' orders — fires and
    // leaves survivors at every fixture SF.
    "sql22_delete_subquery" -> ((s, d) => dmlOn(s, d, "sql22", tbl =>
      s"""DELETE FROM $tbl WHERE custkey IN (
         |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         |  GROUP BY o_custkey HAVING COUNT(*) >= 5)""".stripMargin)),

    // SQL25 (r17): THE MAINTENANCE STATEMENTS — `OPTIMIZE … ZORDER BY`
    // and `CHECKPOINT TABLE` as SQL, not a Scala API (plans/
    // MaintenanceSql, wired through SparkSessionExtensions
    // .injectParser as a DELEGATING pre-pass: the two statements
    // Spark's grammar lacks short-circuit, every other statement in
    // the engine — all of sql1–sql24 — reaches Spark's parser
    // untouched; this entry passing ALONGSIDE the whole sql surface is
    // itself the delegation proof). The lifecycle: fragmented
    // partitioned seed → OPTIMIZE tbl ZORDER BY (custkey, cents)
    // (metrics row must report ≥1 dir compacted) → UPDATE (a second
    // log version) → CHECKPOINT TABLE tbl (must collapse ≥1 manifest)
    // → hash the full post-state. The operator's nightly cron is two
    // SQL statements, same as Delta's — no pipeline redeploy to adopt
    // a new clustering key.
    "sql25_maintenance_sql" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql25_balance", d)
      val path = Tables.scratch("sql25_balance", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet PARTITIONED BY (yr)
           |LOCATION '$path' AS
           |SELECT /*+ REPARTITION(12) */ o_custkey AS custkey,
           |  COUNT(*) AS n,
           |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
           |  CAST(year(o_orderdate) AS INT) AS yr
           |FROM orders WHERE o_orderstatus = 'F'
           |GROUP BY o_custkey, year(o_orderdate)""".stripMargin)
      val opt = s.sql(s"OPTIMIZE $tbl ZORDER BY (custkey, cents)").head()
      require(opt.getInt(0) >= 1,
        s"sql25: OPTIMIZE must compact the fragmented seed, got $opt")
      s.sql(s"UPDATE $tbl SET cents = cents + n WHERE custkey % 10 = 3")
      val ck = s.sql(s"CHECKPOINT TABLE $tbl").head()
      require(ck.getInt(0) >= 1,
        s"sql25: CHECKPOINT must collapse the optimize manifest, got $ck")
      s.sql(s"SELECT custkey, yr, n, cents FROM $tbl")
    }),

    // SQL23 (r17): UPDATE OF A PARTITION COLUMN, file-pruned — the
    // row-migration CDC shape (re-dating a batch, moving records
    // between tenants) that cost a FULL static overwrite before r17
    // (VERDICT r16 item 7). The pruned commit handles migration
    // natively: only 1995's n>=2 files rewrite, their modified rows
    // land in the MINTED yr=2095 partition through the scratch write's
    // partitionBy, the commit registers it, and 1992–1994/1996–1998
    // stay byte-identical on disk (UpdateDeleteSpec owns the file law;
    // this entry hashes the full post-state, where a lost migration or
    // an unregistered partition surfaces as missing/misplaced rows).
    // At 100 TB: re-dating one day's partition costs O(that day), not
    // O(table).
    "sql23_update_partition_move" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql23_balance", d)
      val path = Tables.scratch("sql23_balance", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet PARTITIONED BY (yr)
           |LOCATION '$path' AS
           |SELECT o_custkey AS custkey, COUNT(*) AS n,
           |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
           |  CAST(year(o_orderdate) AS INT) AS yr
           |FROM orders WHERE o_orderstatus = 'F'
           |GROUP BY o_custkey, year(o_orderdate)""".stripMargin)
      s.sql(s"UPDATE $tbl SET yr = yr + 100 WHERE yr = 1995 AND n >= 2")
      s.sql(s"SELECT custkey, yr, n, cents FROM $tbl")
    }),

    // SQL24 (r17): MAP-KEY UPDATE — `SET m.key = value` on a MAP column
    // (VERDICT r16 item 7's other half), the per-entity counter/feature
    // bag every curation pipeline carries. Upsert semantics via one
    // codegen'd remove-then-append projection (NestedFields.setMapKey):
    // 'orders' exists and UPDATES, 'bonus' is absent and INSERTS, both
    // RHS read the OLD map, and non-matching rows' maps ride through
    // untouched. The post-state is hashed EXPLODED to (custkey, k, v)
    // rows — map column order never touches the hash — and the oracle
    // recomputes every entry from the raw orders with the same CASE.
    "sql24_update_map_key" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql24_counters", d)
      val path = Tables.scratch("sql24_counters", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
           |SELECT o_custkey AS custkey,
           |  map('orders', COUNT(*),
           |      'cents', SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)))
           |    AS counters
           |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""".stripMargin)
      s.sql(
        s"""UPDATE $tbl SET counters.orders = counters.orders + 1,
           |  counters.bonus = counters.cents % 7
           |WHERE custkey % 3 = 0""".stripMargin)
      s.sql(
        s"""SELECT custkey, k, v FROM $tbl
           |LATERAL VIEW explode(counters) x AS k, v""".stripMargin)
    }),

    // SQL16: MERGE WITH SCHEMA EVOLUTION (r14) — the CDC reality where
    // the feed grows a column mid-stream. The source carries
    // max_open_cents, a column the seeded balance table lacks; the
    // evolution path widens the target pre-resolution, ALTERs the
    // catalog schema at commit (metadata-only — untouched files surface
    // the new column as NULL, parquet's missing-column read), and the
    // oracle recomputes the evolved post-state from the raw orders: all
    // three branches are live at every fixture SF (matched rows carry
    // the source value, F-only customers NULL-backfill, O-only
    // customers insert with the value).
    "sql16_merge_evolution" -> ((s, d) => dmlOn(s, d, "sql16", tbl =>
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING (SELECT o_custkey AS custkey, COUNT(*) AS n,
         |         SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
         |         MAX(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS max_open_cents
         |       FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) u
         |ON t.custkey = u.custkey
         |WHEN MATCHED THEN UPDATE SET n = t.n + u.n, cents = t.cents + u.cents,
         |  max_open_cents = u.max_open_cents
         |WHEN NOT MATCHED THEN INSERT (custkey, n, cents, max_open_cents)
         |  VALUES (u.custkey, u.n, u.cents, u.max_open_cents)""".stripMargin,
      postSelect = "custkey, n, cents, max_open_cents")),

    // SQL17: NESTED-FIELD UPDATE (r14) — `SET struct.field = …`, the
    // routine statement on event-shaped schemas (SURVEY §1.3's
    // players.*.rating), executed as an UpdateFields struct rebuild so
    // sibling fields ride through untouched (the hash pins exactly
    // that: status and pri.name are inside the updated struct and must
    // survive). Two-level path exercises the recursion; the WHERE sits
    // on a DIFFERENT nested field, and misses enough rows at every SF
    // that the keep-old branch stays live.
    "sql17_update_nested" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql17_nested", d)
      val path = Tables.scratch("sql17_nested", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
           |SELECT o_orderkey AS okey,
           |  named_struct('status', o_orderstatus,
           |    'pri', named_struct('name', o_orderpriority,
           |      'cents', CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT))) AS meta
           |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin)
      s.sql(s"UPDATE $tbl SET meta.pri.cents = meta.pri.cents + 1000 " +
        "WHERE meta.status = 'F'")
      s.sql(s"""SELECT okey, meta.status AS status, meta.pri.name AS pri_name,
           |  meta.pri.cents AS cents FROM $tbl""".stripMargin)
    }),
    "sql1_tpch_q3" -> ((s, d) => { withViews(s, d); s.sql(q3Sql) }),
    "sql2_scalar_subquery" -> ((s, d) => { withViews(s, d); s.sql(scalarSubSql) }),
    "sql3_grouping_sets" -> ((s, d) => { withViews(s, d); s.sql(groupingSetsSql) }),
    "sql4_exists_subquery" -> ((s, d) => { withViews(s, d); s.sql(existsSql) }),
    "sql5_q21_multi_exists" -> ((s, d) => { withViews(s, d); s.sql(q21Sql) }),
    "sql12_q2_correlated_min" -> ((s, d) => { withViews(s, d); s.sql(q2Sql) }),
    "sql6_window_text" -> ((s, d) => { withViews(s, d); s.sql(windowSql) }),
    "sql8_recursive_cte" -> ((s, d) => {
      withViews(s, d)
      // materialize the loop-invariant base once; the recursion then
      // joins the frontier against checkpointed blocks instead of
      // re-deriving the window per iteration (see recursiveSql scaladoc)
      s.sql(sql8NxtSql).coalesce(8).localCheckpoint()
        .createOrReplaceTempView("sql8_nxt")
      s.sql(sql8WalkSql)
    }),
    "sql9_lateral_topk" -> ((s, d) => { withViews(s, d); s.sql(lateralSql) }),

    // SQL18: SQL SCRIPTING (r14) — Spark 4's procedural BEGIN…END
    // blocks (DECLARE + session-variable SET + a final SELECT), the
    // parameterized-report surface analysts actually write: the script
    // computes a 90th-percentile price cutoff into a variable, then the
    // final statement filters by it. The whole block is ONE spark.sql
    // call; non-final statements execute eagerly in order and the last
    // SELECT's frame is returned — no string interpolation, no driver
    // round-trip between the two statements beyond the scalar variable.
    // DuckDB has no Spark scripting, so the oracle re-expresses the
    // same computation with a scalar subquery (percentile ≡
    // quantile_cont, the a8 convention). Scripting is gated by a conf;
    // set for the call, restored after (the returned frame carries the
    // bound variable as a literal, so later execution is unaffected).
    "sql18_scripting" -> ((s, d) => {
      withViews(s, d)
      val key = "spark.sql.scripting.enabled"
      val prev = s.conf.get(key, "false")
      s.conf.set(key, "true")
      try {
        s.sql(
          """BEGIN
            |  DECLARE cutoff BIGINT;
            |  SET cutoff = (SELECT CAST(ROUND(percentile(o_totalprice, 0.9)
            |    * 1e2, 0) AS BIGINT) FROM orders);
            |  SELECT o_orderpriority, COUNT(*) AS n,
            |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT))
            |      AS BIGINT) AS cents_total
            |  FROM orders
            |  WHERE CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT) > cutoff
            |  GROUP BY o_orderpriority;
            |END""".stripMargin)
      } finally s.conf.set(key, prev)
    }),
    // SQL19 (r15): NAMED-PARAMETER SQL — `spark.sql(text, args)`, the
    // injection-safe report path (VERDICT r14 missing #5): parameter
    // markers bind as TYPED literals (string/int/double here) instead
    // of string-spliced SQL, so a hostile segment name cannot escape
    // its literal and the plan cache can key on the constant text. The
    // oracle is the same text with the literals substituted — binding
    // must be semantically identical to writing the literal.
    "sql19_parameterized" -> ((s, d) => {
      withViews(s, d)
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
          |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
          |    AS cents_total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = :seg
          |  AND year(o_orderdate) >= :min_year
          |  AND o_totalprice > :price_floor
          |GROUP BY o_orderpriority""".stripMargin,
        Map("seg" -> "BUILDING", "min_year" -> 1995,
          "price_floor" -> 1000.0))
    }),

    // SQL20 (r16): OPTIMISTIC-CONCURRENCY RETRY — the two-writer DML
    // race under the external oracle (VERDICT r15 item 3). Writer A
    // reads its base version and writes scratch; writer B slips in
    // between A's read and A's publish (the beforeReserve seam — the
    // deterministic stand-in for a second backfill job) and commits
    // first. A's publish MUST throw GraftConcurrentCommitException with
    // the table holding exactly B's commit (never a silent interleave,
    // never a lost B), and A's RETRY re-reads the new base and applies
    // exactly once. The oracle recomputes B-then-A applied sequentially
    // — a lost update, a double-applied retry, or a torn mix all break
    // the hash. Cost model: conflict detection is one lock-file create
    // (metadata) — retries re-pay only the loser's rewrite, exactly
    // like Delta/Iceberg commit conflicts.
    "sql20_concurrent_retry" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql20_balance", d)
      val path = Tables.scratch("sql20_balance", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
           |SELECT o_custkey AS custkey, COUNT(*) AS n,
           |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents
           |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""".stripMargin)
      val updA = s"UPDATE $tbl SET cents = cents + 100 WHERE n >= 2"
      var fired = false
      // the seam is LENT, never assigned (VERDICT r16 item 6): the
      // lender resets it in finally, so no exception path can leave a
      // hook armed for a later query in the same session to trip over
      val conflicted = graft.plans.TableCommit.withBeforeReserveHook(() => {
        if (!fired) {
          fired = true // guard BEFORE running B: B's own reserve re-enters
          s.sql(s"UPDATE $tbl SET cents = cents * 2 WHERE custkey % 2 = 0")
        }
      }) {
        try { s.sql(updA); false }
        catch { case t: Throwable =>
          val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
          if (chain.exists(
            _.isInstanceOf[graft.plans.GraftConcurrentCommitException])) true
          else throw t
        }
      }
      require(conflicted && fired,
        "sql20: the interleaved writer must force a commit conflict")
      s.sql(updA) // the retry: re-reads B's version, applies exactly once
      s.sql(s"SELECT custkey, n, cents FROM $tbl")
    }),

    // SQL21 (r16): MERGE INTO A PARTITIONED TARGET, file-pruned — the
    // CDC-into-date-partitions shape (the single most common lakehouse
    // merge): the balance table partitions by order year; the source
    // carries 1996's 'O'-order deltas (updates + inserts into the
    // EXISTING 1996 partition) plus a synthetic future-year batch
    // (custkey offset so every row is an insert — it MINTS partition
    // yr=2006, which the commit must also REGISTER or a catalog reader
    // never sees the rows). Only 1996's matched files rewrite; the
    // 1992–1995/1997–1998 partitions stay byte-identical on disk
    // (MergeIntoSpec owns the file-level law; this entry hashes the
    // full post-merge table, where a missed partition registration
    // surfaces as missing rows). At 100 TB: a day's CDC merge costs
    // O(touched files + the new day), never O(table).
    "sql21_merge_partitioned" -> ((s, d) => {
      withViews(s, d)
      val tbl = Tables.freshTable(s, "sql21_balance", d)
      val path = Tables.scratch("sql21_balance", d)
      s.sql(
        s"""CREATE TABLE $tbl USING parquet PARTITIONED BY (yr)
           |LOCATION '$path' AS
           |SELECT o_custkey AS custkey, COUNT(*) AS n,
           |  SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
           |  CAST(year(o_orderdate) AS INT) AS yr
           |FROM orders WHERE o_orderstatus = 'F'
           |GROUP BY o_custkey, year(o_orderdate)""".stripMargin)
      s.sql(
        s"""MERGE INTO $tbl t USING (
           |  WITH u0 AS (
           |    SELECT o_custkey AS custkey, COUNT(*) AS n,
           |      SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
           |      CAST(year(o_orderdate) AS INT) AS yr
           |    FROM orders
           |    WHERE o_orderstatus = 'O' AND year(o_orderdate) = 1996
           |    GROUP BY o_custkey, year(o_orderdate))
           |  SELECT custkey, n, cents, yr FROM u0
           |  UNION ALL
           |  SELECT custkey + 1000000, n, cents, CAST(yr + 10 AS INT) FROM u0
           |) u
           |ON t.custkey = u.custkey AND t.yr = u.yr
           |WHEN MATCHED THEN UPDATE SET n = t.n + u.n, cents = t.cents + u.cents
           |WHEN NOT MATCHED THEN INSERT (custkey, n, cents, yr)
           |  VALUES (u.custkey, u.n, u.cents, u.yr)""".stripMargin)
      s.sql(s"SELECT custkey, yr, n, cents FROM $tbl")
    }),

    "sql10_setops_text" -> ((s, d) => { withViews(s, d); s.sql(setOpsSql) }),
    "sql7_native_fn" -> ((s, d) => {
      withViews(s, d)
      graft.GraftExtensions.ensureFunctions(s)
      s.sql(nativeFnSql)
    }),

    // A10: pivot — event counts per user fanned out by type. Explicit
    // value list pins the output schema on both engines.
    "a10_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
    }),

    // O6: unpivot/melt — the inverse reshape over a wide projection.
    "o6_unpivot" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          col("p_retailprice").as("retail"),
          col("p_size").cast("double").as("size_d"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retail"), col("size_d")), "measure", "value")
    })
  )

  val oracles: Map[String, String] = Map(
    // sql25: the maintenance statements are layout/metadata-only —
    // the relation is the seed with the UPDATE applied; any row
    // OPTIMIZE or CHECKPOINT perturbed breaks the hash
    "sql25_maintenance_sql" ->
      """WITH bal AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS cents,
        |    CAST(year(o_orderdate) AS INT) AS yr
        |  FROM orders WHERE o_orderstatus = 'F'
        |  GROUP BY o_custkey, year(o_orderdate)
        |)
        |SELECT custkey, yr, n,
        |  CAST(CASE WHEN custkey % 10 = 3 THEN cents + n ELSE cents END
        |    AS BIGINT) AS cents
        |FROM bal""".stripMargin,

    "sql1_tpch_q3" -> q3Sql,
    "sql2_scalar_subquery" -> scalarSubSql,
    "sql3_grouping_sets" -> groupingSetsSql,
    "sql4_exists_subquery" -> existsSql,
    "sql5_q21_multi_exists" -> q21Sql,
    "sql12_q2_correlated_min" -> q2Sql,
    "sql6_window_text" -> windowSql,
    "sql7_native_fn" -> nativeFnOracleSql,
    "sql8_recursive_cte" -> recursiveSql,
    "sql9_lateral_topk" -> lateralSql,

    // sql18: the script's computation as one statement — the variable
    // becomes a scalar subquery
    "sql18_scripting" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_total
        |FROM orders
        |WHERE CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT) >
        |  (SELECT CAST(ROUND(quantile_cont(o_totalprice, 0.9) * 1e2, 0)
        |     AS BIGINT) FROM orders)
        |GROUP BY o_orderpriority""".stripMargin,
    // sql19: the identical text with the bound parameters substituted
    // as literals — parameter binding must not change semantics
    "sql19_parameterized" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND year(o_orderdate) >= 1995
        |  AND o_totalprice > 1000.0
        |GROUP BY o_orderpriority""".stripMargin,

    // sql20: the final table after BOTH writers landed — B (the
    // interleaving winner: doubles even customers) applied first, A's
    // retry (the +100 bonus for n >= 2) applied exactly once on top; a
    // lost update or a double-applied retry both break the hash
    "sql20_concurrent_retry" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |)
        |SELECT custkey, n,
        |  CAST(CASE WHEN custkey % 2 = 0 THEN cents * 2 ELSE cents END
        |    + CASE WHEN n >= 2 THEN 100 ELSE 0 END AS BIGINT) AS cents
        |FROM t""".stripMargin,

    // sql21: the post-merge partitioned table recomputed — FULL JOIN of
    // the seeded per-(custkey, year) 'F' balances against the 1996 'O'
    // delta plus its future-year insert batch; a missed partition
    // registration or a touched-file loss both surface as missing rows
    "sql21_merge_partitioned" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(year(o_orderdate) AS INT) AS yr
        |  FROM orders WHERE o_orderstatus = 'F'
        |  GROUP BY o_custkey, year(o_orderdate)
        |), u0 AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(year(o_orderdate) AS INT) AS yr
        |  FROM orders WHERE o_orderstatus = 'O' AND year(o_orderdate) = 1996
        |  GROUP BY o_custkey, year(o_orderdate)
        |), u AS (
        |  SELECT custkey, n, cents, yr FROM u0
        |  UNION ALL
        |  SELECT custkey + 1000000, n, cents, CAST(yr + 10 AS INT) FROM u0
        |)
        |SELECT COALESCE(t.custkey, u.custkey) AS custkey,
        |  CAST(COALESCE(t.yr, u.yr) AS INT) AS yr,
        |  CAST(CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL
        |            THEN t.n + u.n
        |       WHEN t.custkey IS NOT NULL THEN t.n ELSE u.n END AS BIGINT) AS n,
        |  CAST(CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL
        |            THEN t.cents + u.cents
        |       WHEN t.custkey IS NOT NULL THEN t.cents ELSE u.cents END
        |    AS BIGINT) AS cents
        |FROM t FULL JOIN u ON t.custkey = u.custkey AND t.yr = u.yr""".stripMargin,

    "sql10_setops_text" -> setOpsSql,
    "sql11_ctas" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS DOUBLE) / 1e2 AS total
        |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin,

    // sql13: post-merge state recomputed from the raw orders — FULL JOIN
    // of the two per-customer aggregates, clause precedence as CASE
    // order, DELETEs as WHERE exclusions (SUMs cast to BIGINT: DuckDB
    // SUM(BIGINT) is HUGEINT and hashes as float downstream)
    "sql13_merge_into" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |), u AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(t.custkey, u.custkey) AS custkey,
        |    t.custkey IS NOT NULL AS has_t, u.custkey IS NOT NULL AS has_u,
        |    t.n AS tn, t.cents AS tc, u.n AS un, u.cents AS uc
        |  FROM t FULL JOIN u ON t.custkey = u.custkey
        |)
        |SELECT custkey,
        |  CASE WHEN has_t AND has_u THEN tn + un
        |       WHEN has_t THEN tn ELSE un END AS n,
        |  CASE WHEN has_t AND has_u THEN tc + uc
        |       WHEN has_t THEN tc ELSE uc END AS cents
        |FROM j
        |WHERE NOT (has_t AND has_u AND un >= 5)
        |  AND NOT (has_t AND NOT has_u AND tn >= 3)""".stripMargin,

    // sql14/sql15: post-DML state recomputed from the raw orders (SUMs
    // cast to BIGINT — the DuckDB HUGEINT convention)
    "sql14_update" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |)
        |SELECT custkey,
        |  CASE WHEN n >= 2 THEN n + 1 ELSE n END AS n,
        |  CASE WHEN n >= 2 THEN cents + n * 100 ELSE cents END AS cents
        |FROM t""".stripMargin,

    "sql15_delete" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |)
        |SELECT custkey, n, cents FROM t
        |WHERE NOT (cents < 50000000)""".stripMargin,

    // sql22: the seeded balances minus the scrub list — DuckDB ANTI
    // JOIN against the same >=5-'O'-orders customer set
    "sql22_delete_subquery" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |), scrub AS (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  GROUP BY o_custkey HAVING COUNT(*) >= 5
        |)
        |SELECT custkey, n, cents FROM t
        |WHERE custkey NOT IN (SELECT o_custkey FROM scrub)""".stripMargin,

    // sql23: the post-migration partitioned table recomputed — rows
    // matching the WHERE carry yr+100 (the minted partition), everyone
    // else keeps their year; a lost migration, a double-applied move,
    // or an unregistered partition all break the hash
    "sql23_update_partition_move" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(year(o_orderdate) AS INT) AS yr
        |  FROM orders WHERE o_orderstatus = 'F'
        |  GROUP BY o_custkey, year(o_orderdate)
        |)
        |SELECT custkey,
        |  CAST(CASE WHEN yr = 1995 AND n >= 2 THEN yr + 100 ELSE yr END
        |    AS INT) AS yr,
        |  n, cents FROM t""".stripMargin,

    // sql24: every post-update map entry recomputed from the raw
    // orders — 'orders' gets +1 and 'bonus' appears only for the
    // custkey%3 rows, 'cents' rides through; the exploded (k, v) rows
    // make the compare map-order-independent
    "sql24_update_map_key" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |)
        |SELECT custkey, 'orders' AS k,
        |  CAST(CASE WHEN custkey % 3 = 0 THEN n + 1 ELSE n END AS BIGINT) AS v
        |FROM t
        |UNION ALL
        |SELECT custkey, 'cents' AS k, cents AS v FROM t
        |UNION ALL
        |SELECT custkey, 'bonus' AS k, CAST(cents % 7 AS BIGINT) AS v
        |FROM t WHERE custkey % 3 = 0""".stripMargin,

    // sql16: evolved post-state — matched rows combine and carry the
    // source's new column, F-only rows NULL-backfill it, O-only insert
    "sql16_merge_evolution" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |), u AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents,
        |    MAX(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS max_open_cents
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
        |)
        |SELECT COALESCE(t.custkey, u.custkey) AS custkey,
        |  CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL THEN t.n + u.n
        |       WHEN t.custkey IS NOT NULL THEN t.n ELSE u.n END AS n,
        |  CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL THEN t.cents + u.cents
        |       WHEN t.custkey IS NOT NULL THEN t.cents ELSE u.cents END AS cents,
        |  u.max_open_cents AS max_open_cents
        |FROM t FULL JOIN u ON t.custkey = u.custkey""".stripMargin,

    // sql17: nested post-state recomputed flat from the raw orders —
    // the CASE mirrors the WHERE, siblings pass through unchanged
    "sql17_update_nested" ->
      """SELECT o_orderkey AS okey, o_orderstatus AS status,
        |  o_orderpriority AS pri_name,
        |  CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)
        |    + CASE WHEN o_orderstatus = 'F' THEN 1000 ELSE 0 END AS cents
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,

    "a10_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'view') AS view,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "o6_unpivot" ->
      """SELECT p_partkey, 'retail' AS measure, p_retailprice AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'size_d' AS measure, CAST(p_size AS DOUBLE) FROM part""".stripMargin
  )
}
