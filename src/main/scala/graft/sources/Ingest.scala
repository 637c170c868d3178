package graft.sources

import graft.Exprs._
import graft.Tables
import graft.Tables.Q
import graft.pipeline.ChessPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources and sinks (SURVEY.md §2B S1–S8). Round-trip queries write to
  * fixed names under the per-JVM `Tables.scratch` root with mode=overwrite
  * (idempotent under re-run) and re-read through the normal scan path, so
  * the sink, the committer, and the reader are all on the verified path.
  */
object Ingest {

  /** s11 bucket-count law (VERDICT r8 #8): like `hexShardChars`, the
    * count comes from table statistics instead of a fixture-shaped
    * constant — floor 16 (the fixture/oracle shape) doubling until each
    * bucket's share of the larger fact fits ~256 MB, capped at 2^20.
    * 100 TB of lineitem → 2^19 buckets of ~190 MB; a fixed 16 would be
    * 6 TB per bucket file.
    */
  private[graft] def s11Buckets(bytes: BigInt,
      target: Long = 256L << 20, floor: Int = 16): Int = {
    var b = floor
    while (b < (1 << 20) && BigInt(b) * target < bytes) b *= 2
    b
  }

  /** s14's manifest scan: per-file [min,max] of the clustering key over
    * a freshly written layout, filtered to the files whose range
    * intersects [lo, hi). Exposed for IngestSpec's skip assertion. The
    * manifest build reads ONE pruned column; the returned list is the
    * filtered file index (driver-held in Spark regardless).
    */
  private[graft] def manifestMatches(s: org.apache.spark.sql.SparkSession,
      path: String, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): Seq[String] = {
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("l_shipdate")).as("f_lo"), max(col("l_shipdate")).as("f_hi"))
      .filter(col("f_hi") >= lo && col("f_lo") < hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  val queries: Map[String, Q] = Map(
    // S1: parquet scan of every fixture table (vectorized reader).
    "s1_parquet_scan" -> ((s, d) => {
      Tables.names.map { n =>
        Tables.load(s, d, n).select(lit(n).as("tbl"), lit(1).as("one"))
          .groupBy(col("tbl")).agg(count(lit(1)).as("n_rows"))
      }.reduce(_ unionAll _)
    }),

    // S2: NDJSON scan with the fixed Game schema (no inference job).
    "s2_ndjson_scan" -> ((s, _) => {
      ChessPipeline.readGames(s, ChessPipeline.samplePath).select(
        col("id"), col("status"), col("variant"), col("winner"),
        col("players.white.user.name").as("white_name"),
        col("opening.eco").as("eco"),
        size(col("clocks")).as("n_clocks"))
    }),

    // S3: NDJSON scan with inferred schema — must agree with S2 on every
    // field the pipeline touches (SURVEY §1.1's S2≡S3 proof).
    "s3_ndjson_infer" -> ((s, _) => {
      s.read.json(ChessPipeline.samplePath).select(
        col("id"), col("status"), col("variant"), col("winner"),
        col("players.white.user.name").as("white_name"),
        col("opening.eco").as("eco"),
        size(col("clocks")).as("n_clocks"))
    }),

    // S4: CSV round-trip with header + explicit schema.
    "s4_csv_roundtrip" -> ((s, d) => {
      val out = Tables.scratch("graft_s4_nation_csv")
      Tables.nation(s, d).write.mode("overwrite")
        .option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.option("header", "true").schema(schema).csv(out)
    }),

    // S5: NDJSON sink round-trip (Spark writes NDJSON natively).
    "s5_ndjson_roundtrip" -> ((s, d) => {
      val out = Tables.scratch("graft_s5_events_json")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      s.read.schema(schema).json(out)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
    }),

    // S6: partitioned parquet sink — write orders by year, re-read with
    // partition pruning available, aggregate per partition value.
    "s6_partitioned_parquet" -> ((s, d) => {
      val out = Tables.scratch("graft_s6_orders_by_year")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        // co-locate each year before the write: one file per partition
        // value instead of (tasks × years) small files — the small-files
        // problem is the actual 100 TB failure mode for partitioned sinks
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
      s.read.parquet(out)
        .groupBy(col("o_year").cast(IntegerType).as("o_year"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    }),

    // S6b: partition-PRUNED catalog read — the s6 layout registered as
    // an external catalog table (CREATE TABLE … USING parquet LOCATION +
    // RECOVER PARTITIONS, the exact shape a 100 TB lake table has), then
    // read through the catalog with a partition predicate. The scan must
    // list ONE year directory, not the table (PlanSpec asserts
    // PartitionFilters; PLANS.md carries the committed plan — VERDICT r4
    // item 8). Oracle: the same 1997 slice recomputed from the source.
    // S13: DYNAMIC partition pruning — s6b prunes on a literal; here
    // the partition filter is only knowable AT RUNTIME (the fact joins
    // a dim filtered on a NON-partition attribute), which is the shape
    // partitioned fact scans actually take at 100 TB: Spark broadcasts
    // the filtered dim, turns its partition-key values into an
    // InSubquery partition filter on the scan, and reads one year
    // instead of seven. PlanSpec asserts the `dynamicpruning`
    // expression reached the scan's PartitionFilters.
    "s13_dynamic_pruning" -> ((s, d) => {
      // table/path names derive from the data dir like s11's (ADVICE r8:
      // fixed names let sessions over different fixtures clobber)
      val tag = s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24)
      val tbl = s"s13_orders_by_year_$tag"
      val out = Tables.scratch(s"graft_s13_orders_by_year_$tag")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$out'")
      s.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
      val dim = s.range(1992, 1999)
        .select(col("id").cast(IntegerType).as("d_year"))
        .withColumn("label", concat(lit("Y"), col("d_year")))
      s.table(tbl)
        .join(dim.filter(col("label") === "Y1997"),
          col("o_year") === col("d_year"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    }),

    "s6b_partition_pruned_read" -> ((s, d) => {
      val out = Tables.scratch("graft_s6b_orders_by_year")
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
      s.sql("DROP TABLE IF EXISTS s6b_orders_by_year")
      s.sql(s"CREATE TABLE s6b_orders_by_year USING parquet LOCATION '$out'")
      s.sql("ALTER TABLE s6b_orders_by_year RECOVER PARTITIONS")
      s.table("s6b_orders_by_year")
        .filter(col("o_year") === 1997)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    }),

    // S11: BUCKETED co-located join — the table layout a 100 TB lake
    // uses for repeated fact-fact joins: both sides written
    // bucketBy(orderkey)+sortBy (one file per bucket via pre-
    // repartition), registered in the catalog, then joined. The join
    // reads bucket-aligned scans and plans with NO shuffle exchange on
    // either side (PlanSpec asserts it) — at scale that deletes the two
    // full-fact shuffles every vanilla orders⋈lineitem pays, per query,
    // forever. The merge hint keeps the demonstration on the sort-merge
    // path (a broadcast would also skip the shuffle, but only below the
    // threshold — bucketing is the answer when BOTH sides are big).
    // Oracle recomputes from the raw tables: layout must not change
    // values. NOTE: timings of this entry measure layout BUILD + join —
    // both bucketed tables are written per invocation; table/path names
    // derive from the data dir, so sessions over different fixtures
    // don't clobber each other (ADVICE r8).
    "s11_bucketed_join" -> ((s, d) => {
      val buckets = s11Buckets(Tables.lineitem(s, d)
        .queryExecution.optimizedPlan.stats.sizeInBytes)
      val tag = s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24)
      def bucketed(df: org.apache.spark.sql.DataFrame, key: String,
          table: String, path: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $table")
        df.repartition(buckets, col(key)) // one file per bucket → sorted scans
          .write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", path).saveAsTable(table)
      }
      bucketed(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey", s"s11_orders_b_$tag", Tables.scratch(s"graft_s11_orders_b_$tag"))
      bucketed(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice")),
        "l_orderkey", s"s11_lineitem_b_$tag", Tables.scratch(s"graft_s11_lineitem_b_$tag"))
      s.table(s"s11_orders_b_$tag").hint("merge")
        .join(s.table(s"s11_lineitem_b_$tag"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total"))
    }),

    // S12: corrupt-record-TOLERANT NDJSON ingestion — web-scale raw data
    // always contains malformed lines, and a 100 TB job must quarantine
    // them, not die (FAILFAST) or silently drop them (DROPMALFORMED).
    // The fixture dirties its own NDJSON deterministically (docs with
    // doc_id % 7 == 0 are written as truncated JSON), then reads it
    // back in PERMISSIVE mode with a corrupt-record column and audits
    // the partition: every line accounted for, corrupt lines counted,
    // valid-row aggregates unpolluted. Corrupt rows come in two shapes
    // (PropertySpec pins both): structurally broken lines parse to
    // all-null data fields, while well-formed lines with a type
    // mismatch keep PARTIAL results (the other fields survive) — so
    // validity is judged on `_corrupt_record IS NULL`, never on a data
    // field being non-null. Per-line work only — corrupt handling adds
    // no shuffle and scales with the scan.
    "s12_corrupt_ndjson" -> ((s, d) => {
      val tag = s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24)
      val out = Tables.scratch(s"graft_s12_dirty_json_$tag")
      Tables.documents(s, d)
        .select(when(col("doc_id") % 7 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id").cast(StringType),
              lit(", \"lang\": \"")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("_corrupt_record", StringType)))
      val ok = col("_corrupt_record").isNull
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .agg(count(lit(1)).as("n_lines"),
          count(col("_corrupt_record")).as("n_corrupt"),
          count(when(ok, 1)).as("n_valid"),
          sum(when(ok, col("n_chars"))).as("valid_chars"),
          countDistinct(when(ok, col("lang"))).as("n_langs"))
    }),

    // S7: the paper's batch run on the sample (golden-file spec owns the
    // exact bytes; here the written dir is re-read and game blocks counted).
    "s7_pgn_sink" -> ((s, _) => {
      val out = Tables.scratch("graft_s7_pgn")
      ChessPipeline.run(s, ChessPipeline.samplePath, out)
      s.read.text(out)
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("value").startsWith("[" + Pgn.tags.head._2), 1).otherwise(0))
            .as("n_games"))
    }),

    // S7b: PGN DSv2 ROUND TRIP — write format("pgn"), read it back
    // through the PGN reader (block parser, one partition per file,
    // column pruning pushed into the scan). "?" tags round-trip to NULL.
    "s7b_pgn_roundtrip" -> ((s, _) => {
      val out = Tables.scratch("graft_s7b_pgn_dsv2")
      ChessPipeline.puzzleGames(s, ChessPipeline.samplePath).toDF()
        .write.format("pgn").mode("overwrite").save(out)
      s.read.format("pgn").load(out)
        .select(col("game_id"), col("white_name"), col("winner"),
          col("opening_eco"))
        .orderBy(col("game_id"))
    }),

    // S9: ORC round-trip — the third columnar container Spark ships a
    // vectorized reader for. Values-level oracle: the re-read aggregate
    // must equal the same aggregate computed from the parquet source
    // (DuckDB has no ORC reader, so fidelity is checked through values).
    "s9_orc_roundtrip" -> ((s, d) => {
      val out = Tables.scratch("graft_s9_lineitem_orc")
      // fanOut BEFORE the write: a one-split source serializes the ORC
      // encode onto 1-2 tasks AND leaves 1-2 files for the re-read to
      // parse serially — writing from N tasks parallelizes both halves
      // of the round-trip. Identity at scale (documents()' guard).
      Tables.fanOut(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
          col("l_orderkey"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // S10: schema evolution — two parquet batches with different column
    // sets (the second adds o_year) read back through mergeSchema; rows
    // from the old batch surface the new column as NULL. The append-only
    // reality of long-lived datasets: schemas grow, readers must cope.
    "s10_schema_merge" -> ((s, d) => {
      val out = Tables.scratch("graft_s10_evolving")
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(out)
      base.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          year(col("o_orderdate")).as("o_year"))
        .write.mode("append").parquet(out)
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(col("o_year")).as("n_with_year"),
          min(col("o_year")).as("min_year"))
    }),

    // S14: FILE-LEVEL DATA SKIPPING via a min/max manifest — the
    // Delta/Iceberg stats-pruning pattern on plain parquet. Partition
    // pruning (s6b/s13) skips whole directories; at 100 TB the next
    // order of magnitude comes from skipping FILES inside a partition
    // using per-file column stats. Layout: range-cluster lineitem by
    // l_shipdate so each file owns a narrow date slice, then build a
    // manifest of (file, min, max) — one column-pruned pass at write
    // time (parquet footers already hold these stats; a footer-reading
    // manifest builder changes the constant, not the shape). Query: the
    // date predicate filters the MANIFEST first, and only intersecting
    // files are handed to the scan — the same driver-side role Spark's
    // own file index plays, so the collected file list is no new scale
    // risk (it IS the file index, filtered). A 3-month predicate over
    // 7 years of data reads ~1/28th of the files; the residual filter
    // stays on the scan so results never depend on manifest precision.
    // IngestSpec asserts the skip actually happened (matched < total).
    "s14_stats_skipping" -> ((s, d) => {
      val tag = s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24)
      val out = Tables.scratch(s"graft_s14_lineitem_skip_$tag")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate"))
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(out)
      val lo = lit("1995-06-01 00:00:00").cast(TimestampType)
      val hi = lit("1995-09-01 00:00:00").cast(TimestampType)
      val matched = manifestMatches(s, out, lo, hi)
      s.read.parquet(matched: _*)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("total"))
    }),

    // S15: SCHEMA EVOLUTION read (r12) — a lake table whose later
    // generations added a column, read back as ONE frame. Writers
    // upgrade; the reader must not (the daily 100 TB reality Tables'
    // events-timestamp canonicalization already handles for types —
    // this pins the ADDED-column case). Two generations are written
    // under one root (gen1: key + cents; gen2: + priority), then read
    // with mergeSchema=true: parquet footers are reconciled per file,
    // gen1 rows surface the new column as NULL — no rewrite of old
    // data, which at 100 TB is the entire point (a backfill would cost
    // a full-table pass). The merged-footer read costs one extra
    // footer parse per file vs the first-file default; data pages are
    // untouched. Oracle recomputes both generations from the source
    // table, so the hash pins the NULL-fill semantics exactly.
    "s15_schema_evolution" -> ((s, d) => {
      val tag = s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24)
      val out = Tables.scratch(s"graft_s15_evolved_$tag")
      val orders = Tables.orders(s, d)
        .withColumn("cents",
          expr("CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)"))
      orders.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("cents"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      orders.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), col("cents"),
          col("o_orderpriority").as("priority"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/gen=1", s"$out/gen=2")
        .select(col("o_orderkey"), col("cents"), col("priority"))
    }),

    // S16: XML PARSING (r14) — Spark 4's built-in XML surface, the
    // enterprise feed format the scan family hadn't covered: each order
    // is serialized to an XML record, then parsed back BOTH ways the
    // engine offers — from_xml into a typed struct (schema-directed,
    // the ingestion path) and xpath_string (the ad-hoc extraction
    // path) — and the parsed fields must round-trip to the original
    // columns, which the oracle pins by recomputing them from the raw
    // table (any truncation, entity mishandling, or type-coercion drift
    // in either parser breaks the hash; the status field exercises
    // non-ASCII-free text, priority carries spaces and '-'). Scan-local
    // codegen: serialize + parse live in one projection, no shuffle at
    // any scale.
    "s16_xml" -> ((s, d) => {
      // fanOut BEFORE the serialize+parse projection: the filtered
      // orders slice is one parquet split at fixture scale, so the
      // CPU-dense from_xml/xpath stage ran as a single task on an idle
      // 32-core session (profiled: 3.2 s of single-task CPU). Identity
      // at scale (s9's guard — a multi-split scan fans out already).
      val orders = Tables.fanOut(
        Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        col("o_orderkey"))
      val xml = concat(
        lit("<rec><id>"), col("o_orderkey"),
        lit("</id><status>"), col("o_orderstatus"),
        lit("</status><priority>"), col("o_orderpriority"),
        lit("</priority><total>"),
        expr("CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)"),
        lit("</total></rec>"))
      orders.select(col("o_orderkey"), xml.as("x"))
        .select(col("o_orderkey"),
          expr("from_xml(x, 'id BIGINT, status STRING, priority STRING, total BIGINT')")
            .as("p"),
          expr("xpath_string(x, '/rec/priority')").as("xp_priority"))
        .select(col("o_orderkey"), col("p.id").as("id"),
          col("p.status").as("status"), col("p.total").as("total_cents"),
          col("xp_priority"))
    }),

    // S8: in-memory source (unit-test seam).
    "s8_inmemory" -> ((s, _) => {
      import s.implicits._
      Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", 3.5))
        .toDF("id", "name", "score")
    })
  )

  // The expected projection of the checked-in sample as literals — no
  // filesystem dependence in the oracle SQL (the DuckDB side must work
  // wherever the driver runs it). Values cross-checked against DuckDB's
  // own read_json of the same file.
  private val ndjsonSelect =
    """SELECT * FROM (VALUES
      |  ('game0001', 'mate', 'standard', 'white', 'alice', 'C20', 7),
      |  ('game0002', 'mate', 'standard', 'black', 'carol', 'A00', 4),
      |  ('game0003', 'resign', 'standard', 'white', 'erin', 'D20', 4),
      |  ('game0004', 'outoftime', 'standard', 'black', 'gary', 'A07', 4),
      |  ('game0005', 'draw', 'standard', NULL, 'ivan', 'C68', 8),
      |  ('game0006', 'mate', 'atomic', 'white', 'kate', 'B01', 4),
      |  ('game0007', 'mate', 'standard', 'black', NULL, 'B56', 14),
      |  ('game0008', 'mate', 'standard', 'white', 'nina', NULL, 5),
      |  ('game0009', 'resign', 'atomic', 'black', 'pete', 'C20', 2),
      |  ('game0010', 'mate', 'standard', 'black', 'rosa', 'A51', NULL)
      |) t(id, status, variant, winner, white_name, eco, n_clocks)""".stripMargin

  val oracles: Map[String, String] = Map(
    // s16: the parsed fields must round-trip to the raw columns the XML
    // was synthesized from
    "s16_xml" ->
      """SELECT o_orderkey, o_orderkey AS id, o_orderstatus AS status,
        |  CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT) AS total_cents,
        |  o_orderpriority AS xp_priority
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,

    "s1_parquet_scan" -> Tables.names
      .map(n => s"SELECT '$n' AS tbl, COUNT(*) AS n_rows FROM $n")
      .mkString("\nUNION ALL\n"),

    "s2_ndjson_scan" -> ndjsonSelect,
    "s3_ndjson_infer" -> ndjsonSelect,

    "s4_csv_roundtrip" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "s5_ndjson_roundtrip" ->
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |  ${sqlDsum("value")} AS sum_value
         |FROM events""".stripMargin,

    "s6_partitioned_parquet" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |  COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY 1""".stripMargin,

    "s6b_partition_pruned_read" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE year(o_orderdate) = 1997
         |GROUP BY o_orderstatus""".stripMargin,

    "s13_dynamic_pruning" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE year(o_orderdate) IN (
         |  SELECT y FROM range(1992, 1999) r(y) WHERE 'Y' || y = 'Y1997')
         |GROUP BY o_orderstatus""".stripMargin,

    "s11_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${sqlDsum("l_extendedprice")} AS total
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority""".stripMargin,

    // s12: the oracle recomputes the audit from the CLEAN table — the
    // dirty-line set is deterministic (doc_id % 7), so agreement means
    // the PERMISSIVE reader quarantined exactly the corrupted lines.
    "s12_corrupt_ndjson" ->
      """SELECT COUNT(*) AS n_lines,
        |  COUNT(*) FILTER (WHERE doc_id % 7 = 0) AS n_corrupt,
        |  COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS n_valid,
        |  CAST(SUM(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
        |    AS valid_chars,
        |  COUNT(DISTINCT lang) FILTER (WHERE doc_id % 7 <> 0) AS n_langs
        |FROM documents""".stripMargin,

    "s7b_pgn_roundtrip" ->
      """SELECT * FROM (VALUES
        |  ('game0001', 'alice', 'white', 'C20'),
        |  ('game0002', 'carol', 'black', 'A00'),
        |  ('game0007', NULL, 'black', 'B56'),
        |  ('game0008', 'nina', 'white', NULL),
        |  ('game0010', 'rosa', 'black', 'A51')
        |) t(game_id, white_name, winner, opening_eco)
        |ORDER BY game_id""".stripMargin,

    "s10_schema_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_year,
        |  CAST(MIN(CASE WHEN o_orderkey % 2 = 1
        |    THEN year(o_orderdate) END) AS INT) AS min_year
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "s9_orc_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  COUNT(DISTINCT l_orderkey) AS n_orders
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "s8_inmemory" ->
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'alpha', 1.5),
        |  (2, 'beta', 2.5), (3, 'gamma', 3.5)) t(id, name, score)""".stripMargin,

    // s15: both generations recomputed straight from the source table;
    // agreement pins mergeSchema's NULL-fill of the added column
    "s15_schema_evolution" ->
      """SELECT o_orderkey,
        |  CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT) AS cents,
        |  CASE WHEN year(o_orderdate) = 1996 THEN o_orderpriority END
        |    AS priority
        |FROM orders WHERE year(o_orderdate) IN (1995, 1996)""".stripMargin,

    // s14: the oracle scans the whole table — agreement proves the
    // manifest never skipped a file containing a matching row.
    "s14_stats_skipping" ->
      s"""SELECT COUNT(*) AS n_items, ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS total
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1995-09-01 00:00:00'""".stripMargin
  )
}
