package graft

import graft.operators.PipelineOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level laws of the snapshot family (m32/m33/m37/m38) that the
  * entries' hashed aggregates cannot see directly: which files exist,
  * which are referenced, and that untouched files stay byte-identical.
  */
class SnapshotSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def parquetFiles(dir: String): Set[String] = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) Set.empty
    else fs.map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("m37: the post-expire directory is exactly the retained manifest " +
      "(shared files kept, expired-only files deleted)") {
    val d = sf("sf0.001")
    val dir = Tables.scratch("m37_table", d)
    PipelineOps.queries("m37_snapshot_expire")(spark, d).collect()
    // construction: v1 = 2 files (A, shared with v3), B = 2 files
    // (expired-only, must be deleted), C = 1 compacted file → the
    // post-expire directory is exactly A∪C = 3 files
    val after = parquetFiles(dir)
    assert(after.size === 3, s"expected A(2)∪C(1), got $after")
    // every remaining file is referenced: the plain directory read is
    // the full clean 2-year state (B surviving would double 1996;
    // deleting shared A would lose 1995)
    val total = spark.read.parquet(dir)
      .groupBy(col("yr")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = Tables.orders(spark, d)
      .select(year(col("o_orderdate")).as("yr"))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("yr")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(total === want, s"directory ≠ retained snapshot: $total vs $want")
  }

  test("m38: rollback hides the corrupt delta while its files remain on " +
      "disk (metadata undo, not a data rewrite)") {
    val d = sf("sf0.001")
    val dir = Tables.scratch("m38_table", d)
    val out = PipelineOps.queries("m38_snapshot_rollback")(spark, d)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the rolled-back read sees ONLY 1995
    assert(out.keySet === Set(1995), out.keySet.toString)
    // but the corrupt 1996 files are still present in the directory
    // (rollback is a manifest write; GC is m37's separate concern)
    val dirYears = spark.read.parquet(dir)
      .select(col("yr")).distinct().collect().map(_.getInt(0)).toSet
    assert(dirYears === Set(1995, 1996),
      s"expected the corrupt delta to remain on disk: $dirYears")
  }

  test("m39: the torn generation exists on disk but no commit names it — " +
      "the reader serves the last committed version of BOTH tables") {
    val d = sf("sf0.001")
    val base = Tables.scratch("m39", d)
    val out = PipelineOps.queries("m39_multi_table_commit")(spark, d).collect()
    // snapshot consistency: re-aggregated base equals stored rollup in
    // every segment (a torn or mixed read breaks one side)
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), r.toString) // n_cust
      assert(r.getLong(2) === r.getLong(4), r.toString) // cents
    }
    // the torn balances generation is physically present…
    val gens = new java.io.File(s"$base/balances").listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).toSet
    assert(gens === Set("gen=1", "gen=2", "gen=3"), gens.toString)
    // …but only v1/v2 were ever published (the TableCommit manifests:
    // one lock + one manifest per committed version, nothing for the
    // torn generation, which never reserved)
    val commits = new java.io.File(s"$base/_graft_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet // drop FS .crc sidecars
    assert(commits === Set("v1.lock", "v1.txt", "v2.lock", "v2.txt"),
      commits.toString)
  }

  test("m33: the appended delta never rewrites base files (byte-identical " +
      "v1 across the append)") {
    val d = sf("sf0.001")
    val dir = freshPath("m33_probe")
    val orders = Tables.orders(spark, d).select(
      year(col("o_orderdate")).as("yr"),
      expr("CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)").as("cents"))
    orders.filter(col("yr") === 1995)
      .repartition(2).write.mode("overwrite").parquet(dir)
    def digests(): Map[String, String] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> java.util.Base64.getEncoder.encodeToString(
            java.security.MessageDigest.getInstance("MD5").digest(bytes))
        }.toMap
    val before = digests()
    orders.filter(col("yr") === 1996)
      .repartition(2).write.mode("append").parquet(dir)
    val after = digests()
    assert(before.keySet.subsetOf(after.keySet))
    before.foreach { case (name, md5) =>
      assert(after(name) === md5, s"append rewrote base file $name")
    }
    assert((after.keySet -- before.keySet).nonEmpty)
  }

  test("m39 commit publish: two writers racing one version — exactly one wins, " +
      "the winner's content survives byte-identical") {
    import graft.plans.{SnapshotTable, TableCommit}
    val dir = freshDir("m39_race").toString
    val (fs, loc) = SnapshotTable.fsOf(spark, dir)
    // writer A claims and publishes v1 (the unified TableCommit cycle)
    val vA = TableCommit.reserve(fs, loc, 0)
    TableCommit.publish(fs, loc, TableCommit.Manifest(
      vA, None, Nil, Nil, Seq("balances/gen=A", "rollup/gen=A")))
    // writer B, having read the same base, loses the reserve race
    val t = intercept[graft.plans.GraftConcurrentCommitException](
      TableCommit.reserve(fs, loc, 0))
    assert(t.getMessage.contains("version"))
    // the winner's commit is intact, byte-identical
    assert(TableCommit.readManifest(fs, loc, 1).get.live ===
      Seq("balances/gen=A", "rollup/gen=A"))
    // the loser re-reads the new base and lands on the NEXT version
    val base2 = TableCommit.begin(fs, loc)
    assert(base2 === 1)
    val vB = TableCommit.reserve(fs, loc, base2)
    TableCommit.publish(fs, loc, TableCommit.Manifest(
      vB, None, Nil, Nil, Seq("balances/gen=B", "rollup/gen=B")))
    assert(TableCommit.latestManifest(fs, loc).get.live ===
      Seq("balances/gen=B", "rollup/gen=B"))
  }

  test("snapshot commit crash injection: a pre-publish crash leaves the " +
      "table at the prior version with no scratch debris (r17)") {
    import graft.plans.{GraftInjectedCrash, SnapshotTable, TableCommit}
    import spark.implicits._
    val dir = freshDir("snap_crash").toString + "/t"
    val snap = SnapshotTable
    val v1 = snap.commit(spark, dir,
      Some(Seq((1L, "base")).toDF("k", "who")), (_, nw) => nw)
    for (point <- Seq("beforeReserve", "beforePublish")) {
      val t = TableCommit.withCrashPoint(point) {
        intercept[Throwable](snap.commit(spark, dir,
          Some(Seq((2L, "crash")).toDF("k", "who")), (prev, nw) => prev ++ nw))
      }
      def causes(x: Throwable): Seq[Throwable] =
        Iterator.iterate(x)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes(t).exists(_.isInstanceOf[GraftInjectedCrash]))
      val (fs, loc) = snap.fsOf(spark, dir)
      assert(TableCommit.latestManifest(fs, loc).get.version === v1,
        s"crash at $point must not publish a new version")
      assert(snap.readLatest(spark, dir)
        .collect().map(_.getString(1)).toSeq === Seq("base"))
      assert(!new java.io.File(dir).listFiles()
        .exists(_.getName.startsWith(".graft_snap_")),
        s"crash at $point must clean the loser's scratch")
    }
    // the table still accepts the next commit cleanly; the
    // beforePublish crash happened AFTER its reserve, so that claim
    // BURNS its version number (a crashed reservation holds its slot —
    // TableCommit.currentVersion counts locks — so later writers can
    // never collide with it) and the next commit takes v1 + 2
    val v2 = snap.commit(spark, dir,
      Some(Seq((2L, "ok")).toDF("k", "who")), (prev, nw) => prev ++ nw)
    assert(v2 === v1 + 2)
    assert(snap.readLatest(spark, dir)
      .collect().map(_.getString(1)).toSet === Set("base", "ok"))
  }

  test("two snapshot appends racing one version (m32-style table): the " +
      "loser throws, the winner's snapshot is intact, a retry lands (r17)") {
    import graft.plans.{GraftConcurrentCommitException, SnapshotTable}
    import spark.implicits._
    val dir = freshDir("snap_race").toString + "/t"
    val snap = SnapshotTable
    val v1 = snap.commit(spark, dir,
      Some(Seq((1L, "base")).toDF("k", "who")), (_, nw) => nw)
    assert(v1 === 1)
    // both writers read base v1; B commits between A's read and A's
    // reserve (simulated by ordering: B's commit first against the
    // same recorded base is exactly the lost-update interleave)
    val (fs, loc) = snap.fsOf(spark, dir)
    val base = graft.plans.TableCommit.begin(fs, loc) // A reads its base
    snap.commit(spark, dir, Some(Seq((2L, "B")).toDF("k", "who")),
      (prev, nw) => prev ++ nw) // B commits v2 first
    // A now tries to commit against the stale base: scratch writes,
    // then the reserve must throw without touching B's commit
    val t = intercept[GraftConcurrentCommitException] {
      val df = Seq((3L, "A")).toDF("k", "who")
      val scratchProbe = base // A believes the table is at `base`
      snap.commitAt(spark, dir, Some(df), (prev, nw) => prev ++ nw, scratchProbe)
    }
    assert(t.getMessage.contains("version") || t.getMessage.contains("moved"))
    // winner intact: latest snapshot holds base + B, no trace of A
    val who = snap.readLatest(spark, dir)
      .collect().map(_.getString(1)).toSet
    assert(who === Set("base", "B"))
    // no stray scratch dir from the loser
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft_snap_")))
    // the retry re-reads the new base and applies exactly once
    val v3 = snap.commit(spark, dir, Some(Seq((3L, "A")).toDF("k", "who")),
      (prev, nw) => prev ++ nw)
    assert(v3 === 3)
    assert(snap.readLatest(spark, dir).collect().map(_.getString(1)).toSet ===
      Set("base", "B", "A"))
  }
}
