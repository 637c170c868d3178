package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftConcurrentCommitException, GraftInjectedCrash, TableCommit}

/** Fault-injection and concurrency laws for the TableCommit manifest
  * protocol under the DML copy-on-write paths (VERDICT r15 items 2+3).
  *
  * Atomicity contract: the `status=applied` manifest write is THE
  * commit point. A crash at any protocol point before it must leave
  * the table byte-identical to the pre-statement state; a crash at any
  * point after it must leave the post-commit state fully served by the
  * manifest-aware read and fully recoverable into the plain directory.
  * Mid-apply, a plain-directory reader may see duplicated rows
  * (rename-in happens before delete-old), NEVER missing ones — the
  * failure mode the r15 delete-then-rename order had.
  *
  * Concurrency contract: a writer whose base version moved between its
  * read and its publish throws [[GraftConcurrentCommitException]]
  * without damaging the winner's commit; re-running the loser applies
  * it exactly once on the new base (sql20 puts the same loop under the
  * DuckDB oracle).
  */
class CommitAtomicitySpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0

  /** Fresh 4-file catalog parquet table: k 1..100 range-packed so a
    * `k <= 10` predicate provably touches ONE file (the pruned path).
    */
  private def freshTable(): (String, java.io.File) = {
    n += 1
    val tbl = s"commit_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.parquet(path)
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT) " +
      s"USING parquet LOCATION '$path'")
    (tbl, new java.io.File(path))
  }

  private def catalogTable(tbl: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))

  private def rows(tbl: String): Seq[(Long, Long)] =
    spark.sql(s"SELECT k, v FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def dataFiles(dir: java.io.File): Set[String] = {
    def walk(f: java.io.File, prefix: String): Seq[String] =
      Option(f.listFiles).toSeq.flatten.flatMap { c =>
        if (c.getName.startsWith(".") || c.getName.startsWith("_")) Nil
        else if (c.isDirectory) walk(c, s"$prefix${c.getName}/")
        else Seq(s"$prefix${c.getName}")
      }
    walk(dir, "").toSet
  }

  private val pre: Seq[(Long, Long)] =
    (1L to 100L).map(k => (k, k * 10L)).sorted
  private def bump(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
    s.map { case (k, v) => if (k <= 10) (k, v + 1) else (k, v) }
  private def updateSql(tbl: String): String =
    s"UPDATE $tbl SET v = v + 1 WHERE k <= 10"

  private def assertInjected(t: Throwable): Unit = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[GraftInjectedCrash]),
      s"expected the injected crash, got: $t")
  }

  test("crash BEFORE the commit point: pre-commit table survives byte-identical") {
    val (tbl, dir) = freshTable()
    val before = dataFiles(dir)
    for (point <- Seq("beforeReserve", "beforePublish")) {
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](spark.sql(updateSql(tbl))))
      }
      assert(dataFiles(dir) === before,
        s"crash at $point must leave the data-file set untouched")
      assert(rows(tbl) === pre, s"crash at $point must leave every row")
    }
    // the statement reruns cleanly after either rollback
    spark.sql(updateSql(tbl))
    assert(rows(tbl) === bump(pre))
  }

  test("crash AFTER the commit point: readLive is exact, recover converges") {
    for (point <- Seq("afterPublish", "betweenMoveAndDelete")) {
      val (tbl, dir) = freshTable()
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](spark.sql(updateSql(tbl))))
      }
      val table = catalogTable(tbl)
      // the manifest-aware read serves EXACTLY the committed state even
      // while the directory is torn (unmoved renames resolve to scratch)
      val live = TableCommit.readLive(spark, table)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(live === bump(pre), s"readLive after $point crash")
      // a plain-directory reader may see the touched rows twice
      // (betweenMoveAndDelete) or still old (afterPublish) — but NEVER
      // a missing row: every pre-image key is present
      assert(rows(tbl).map(_._1).toSet === pre.map(_._1).toSet,
        s"no row may vanish mid-apply ($point)")
      // roll forward: the plain directory converges to the manifest
      TableCommit.recover(spark, table)
      assert(rows(tbl) === bump(pre), s"recovered state after $point")
      val m = TableCommit.latestManifest(
        TableCommit.fsOf(spark, table)._1, TableCommit.fsOf(spark, table)._2)
      assert(m.isDefined)
      assert(dataFiles(dir) === m.get.live.toSet,
        "directory must equal the manifest's live set after recovery")
      assert(!dir.listFiles.exists(_.getName.startsWith(".graft_cow_")),
        "recovery must drop the scratch dir")
      // and the NEXT statement both self-heals and commits a new version
      spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k <= 10")
      assert(rows(tbl) === bump(bump(pre)))
    }
  }

  test("FULL REWRITE is the same swap: crash injection on a WHERE-less UPDATE " +
      "leaves pre- or post-state, never torn, and version history survives") {
    // pre-commit points: the table (and its commit history) survive
    val (tbl, dir) = freshTable()
    spark.sql(updateSql(tbl)) // v1, so the history has something to lose
    val afterV1 = bump(pre)
    val before = dataFiles(dir)
    for (point <- Seq("beforeReserve", "beforePublish")) {
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](
          spark.sql(s"UPDATE $tbl SET v = v + 1"))) // no WHERE: full rewrite
      }
      assert(dataFiles(dir) === before, s"full rewrite, crash at $point")
      assert(rows(tbl) === afterV1)
    }
    // post-commit points: readLive exact, recover converges, and the
    // prior version's manifest is STILL THERE (the retired INSERT
    // OVERWRITE path recursively deleted _graft_commits — ADVICE r16)
    for (point <- Seq("afterPublish", "betweenMoveAndDelete")) {
      val (tbl2, dir2) = freshTable()
      spark.sql(updateSql(tbl2)) // v1
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](
          spark.sql(s"UPDATE $tbl2 SET v = v + 1")))
      }
      val table = catalogTable(tbl2)
      val (fs, loc) = TableCommit.fsOf(spark, table)
      val expected = afterV1.map { case (k, v) => (k, v + 1) }
      val live = TableCommit.readLive(spark, table)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(live === expected, s"full-rewrite readLive after $point")
      assert(rows(tbl2).map(_._1).toSet === pre.map(_._1).toSet,
        s"no row may vanish mid-apply ($point, full rewrite)")
      TableCommit.recover(spark, table)
      assert(rows(tbl2) === expected, s"full-rewrite recovery after $point")
      assert(dataFiles(dir2) ===
        TableCommit.latestManifest(fs, loc).get.live.toSet)
      // version history: v1's manifest and v2's both present
      assert(TableCommit.readManifest(fs, loc, 1).isDefined,
        "the full rewrite must not erase prior commit manifests")
      assert(TableCommit.currentVersion(fs, loc) === 2)
    }
  }

  test("NOT MATCHED BY SOURCE merge rides the swap: crash injection never tears") {
    def mergeSql(tbl: String) =
      s"""MERGE INTO $tbl t USING src_caspec_nmbs s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin
    import spark.implicits._
    Seq.range(1L, 51L).map(k => (k, k * 1000L)).toDF("k", "v")
      .createOrReplaceTempView("src_caspec_nmbs")
    val expected: Seq[(Long, Long)] =
      (1L to 50L).map(k => (k, k * 1000L)).sorted
    for (point <- Seq("beforeReserve", "beforePublish")) {
      val (tbl, _) = freshTable()
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](spark.sql(mergeSql(tbl))))
      }
      assert(rows(tbl) === pre, s"NMBS merge, crash at $point: pre-state")
      spark.sql(mergeSql(tbl)) // reruns cleanly
      assert(rows(tbl) === expected)
    }
    for (point <- Seq("afterPublish", "betweenMoveAndDelete")) {
      val (tbl, _) = freshTable()
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](spark.sql(mergeSql(tbl))))
      }
      val table = catalogTable(tbl)
      val live = TableCommit.readLive(spark, table)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(live === expected, s"NMBS merge readLive after $point")
      TableCommit.recover(spark, table)
      assert(rows(tbl) === expected, s"NMBS merge recovery after $point")
    }
  }

  test("two writers on the pruned path: loser throws, winner survives, retry applies once") {
    val (tbl, _) = freshTable()
    var fired = false
    val t = TableCommit.withBeforeReserveHook(() => {
      if (!fired) {
        fired = true
        // writer B slips in AFTER A read its base and wrote scratch,
        // BEFORE A claims its version — B commits first and must win
        spark.sql(s"UPDATE $tbl SET v = v * 2 WHERE k <= 50")
      }
    }) { intercept[Throwable](spark.sql(updateSql(tbl))) }
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[GraftConcurrentCommitException]),
      s"loser must throw the conflict, got: $t")
    // winner applied EXACTLY once, loser not at all
    val afterB = pre.map { case (k, v) => if (k <= 50) (k, v * 2) else (k, v) }
    assert(rows(tbl) === afterB)
    // retry the loser: re-reads the new base, applies exactly once
    spark.sql(updateSql(tbl))
    assert(rows(tbl) === bump(afterB))
  }

  test("two writers on the full-rewrite path: conflict detected BEFORE any mutation") {
    val (tbl, _) = freshTable()
    var fired = false
    // WHERE-less UPDATE takes the full-rewrite swap, whose version
    // reservation happens before the first target byte moves
    val t = TableCommit.withBeforeReserveHook(() => {
      if (!fired) {
        fired = true
        spark.sql(s"UPDATE $tbl SET v = v * 2 WHERE k <= 50")
      }
    }) { intercept[Throwable](spark.sql(s"UPDATE $tbl SET v = v + 1")) }
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[GraftConcurrentCommitException]))
    val afterB = pre.map { case (k, v) => if (k <= 50) (k, v * 2) else (k, v) }
    assert(rows(tbl) === afterB, "the full path must not touch the table on conflict")
    spark.sql(s"UPDATE $tbl SET v = v + 1")
    assert(rows(tbl) === afterB.map { case (k, v) => (k, v + 1) })
  }

  test("partitioned target: pruned-commit crash recovery preserves partition subdirs") {
    n += 1
    val tbl = s"commit_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (1L to 100L).map(k => (k, k * 10L, (k % 4).toString))
      .toDF("k", "v", "p")
      .write.partitionBy("p").parquet(path)
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT, p STRING) " +
      s"USING parquet PARTITIONED BY (p) LOCATION '$path'")
    spark.sql(s"MSCK REPAIR TABLE $tbl")
    val prePart: Seq[(Long, Long)] =
      (1L to 100L).map(k => (k, k * 10L)).sorted
    def bumpP(s: Seq[(Long, Long)]) =
      s.map { case (k, v) => if (k % 4 == 1 && k <= 10) (k, v + 1) else (k, v) }
    // the WHERE pins one partition AND a k-range, so the commit's adds
    // and dels both live under the p=1 subdirectory
    val upd = s"UPDATE $tbl SET v = v + 1 WHERE p = '1' AND k <= 10"
    TableCommit.withCrashPoint("betweenMoveAndDelete") {
      assertInjected(intercept[Throwable](spark.sql(upd)))
    }
    val table = catalogTable(tbl)
    val live = TableCommit.readLive(spark, table)
      .select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(live === bumpP(prePart), "partition-aware readLive mid-tear")
    TableCommit.recover(spark, table)
    assert(rows(tbl) === bumpP(prePart))
    // manifest live paths carry the partition subdir and match disk
    val (fs, loc) = TableCommit.fsOf(spark, table)
    val m = TableCommit.latestManifest(fs, loc).get
    assert(m.live.forall(_.matches("p=./.*")),
      s"live paths must be partition-relative: ${m.live.take(3)}")
    assert(TableCommit.listDataFiles(fs, loc).toSet === m.live.toSet)
    // recover is idempotent: a second run changes nothing
    TableCommit.recover(spark, table)
    assert(rows(tbl) === bumpP(prePart))
  }

  test("MERGE rides the same protocol: versions advance, recover is a no-op when converged") {
    val (tbl, _) = freshTable()
    import spark.implicits._
    Seq((1L, 999L), (101L, 1010L)).toDF("k", "v").createOrReplaceTempView("src_caspec")
    spark.sql(
      s"""MERGE INTO $tbl t USING src_caspec s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val table = catalogTable(tbl)
    val (fs, loc) = TableCommit.fsOf(spark, table)
    assert(TableCommit.currentVersion(fs, loc) === 1)
    val expected = (pre.filterNot(_._1 == 1L) ++ Seq((1L, 999L), (101L, 1010L))).sorted
    assert(rows(tbl) === expected)
    TableCommit.recover(spark, table) // converged: must change nothing
    assert(rows(tbl) === expected)
    spark.sql(s"DELETE FROM $tbl WHERE k = 101")
    assert(TableCommit.currentVersion(fs, loc) === 2)
    assert(rows(tbl) === (pre.filterNot(_._1 == 1L) ++ Seq((1L, 999L))).sorted)
  }
}
