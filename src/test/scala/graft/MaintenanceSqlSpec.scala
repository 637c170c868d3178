package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws of the OPTIMIZE / CHECKPOINT TABLE SQL surface (sql25, r17):
  * statement forms and options parse, metrics rows report truthfully,
  * oversized ZORDER lists reject loudly, and — the load-bearing one —
  * everything else delegates to Spark's parser untouched.
  */
class MaintenanceSqlSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0

  /** Unpartitioned 10-file table. */
  private def freshTable(): String = {
    n += 1
    val tbl = s"maint_sql_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (1L to 100L).map(k => (k, k % 7)).toDF("k", "v").repartition(10)
      .write.option("path", path).saveAsTable(tbl)
    tbl
  }

  test("OPTIMIZE with options: ZORDER BY pair + MAX FILES threshold; " +
      "metrics row reports the rewrite; statement is case-insensitive") {
    val tbl = freshTable()
    val r = spark.sql(s"optimize $tbl zorder by (k, v) max files 3").head()
    assert(r.getInt(0) === 1 && r.getInt(1) === 10 && r.getInt(2) <= 3)
    assert(spark.table(tbl).count() === 100)
    // already healthy at the default threshold: a clean no-op
    val r2 = spark.sql(s"OPTIMIZE $tbl").head()
    assert((r2.getInt(0), r2.getInt(1), r2.getInt(2)) === ((0, 0, 0)))
  }

  test("CHECKPOINT TABLE with RETAIN; metrics row reports the collapse") {
    val tbl = freshTable()
    spark.sql(s"OPTIMIZE $tbl MAX FILES 3")          // v1
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k <= 5") // v2
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k <= 2") // v3
    assert(spark.sql(s"CHECKPOINT TABLE $tbl RETAIN 2").head().getInt(0) === 1)
    assert(spark.sql(s"checkpoint table $tbl").head().getInt(0) === 1)
    // the table still answers exactly after two checkpoints
    assert(spark.table(tbl).selectExpr("sum(v)").head().getLong(0) ===
      (1L to 100L).map(k => k % 7 + (if (k <= 2) 2L else if (k <= 5) 1L else 0L)).sum)
  }

  test("ZORDER BY with three columns clusters through the n-lane " +
      "interleave; beyond six rejects loudly") {
    val tbl = freshTable()
    val r = spark.sql(s"OPTIMIZE $tbl ZORDER BY (k, v, k) MAX FILES 3").head()
    assert(r.getInt(0) === 1 && r.getInt(1) === 10)
    assert(spark.table(tbl).count() === 100)
    val e = intercept[Exception](
      spark.sql(s"OPTIMIZE $tbl ZORDER BY (k, v, k, v, k, v, k)").collect())
    assert(e.getMessage.contains("up to 6"))
  }

  test("everything else delegates: ordinary SQL, near-miss statements, " +
      "and genuine syntax errors all behave as vanilla Spark") {
    val tbl = freshTable()
    assert(spark.sql(s"SELECT COUNT(*) AS c FROM $tbl").head().getLong(0) === 100)
    // near-miss token as an identifier still parses through Spark
    assert(spark.sql("SELECT 1 AS optimize").head().getInt(0) === 1)
    // a malformed statement is Spark's parse error, not a silent match
    intercept[Exception](spark.sql("OPTIMIZE").collect())
    // parameterized SQL routes through parsePlanWithParameters, which
    // the trait DEFAULTS to dropping the bindings — the wrapper must
    // delegate it explicitly (caught live by sql19 in r17)
    assert(spark.sql(s"SELECT COUNT(*) AS c FROM $tbl WHERE k <= :cut",
      Map("cut" -> 10)).head().getLong(0) === 10)
  }
}
