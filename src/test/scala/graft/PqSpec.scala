package graft

import graft.operators.{Pq, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization guarantees: compression ratio, planted-duplicate
  * recovery through the PQ pre-rank (not just the exact re-rank), and
  * recall against the exact baseline on fixture embeddings.
  */
class PqSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("codes are m bytes: 32x compression of a 64-float embedding") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val cb = Pq.train(emb, m = 8, ksub = 16).get
    assert(cb.m === 8 && cb.dsub === 8)
    val codes = Pq.encode(emb, cb).collect()
    assert(codes.nonEmpty)
    codes.foreach(r => assert(r.getAs[Array[Byte]]("code").length === 8))
  }

  test("planted near-duplicate survives the PQ pre-rank into top-1") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val copy = base.map(x => x + rng.nextGaussian().toFloat * 0.02f)
    val rows = Seq(0L -> base.toSeq, 1L -> copy.toSeq) ++
      (2L until 60L).map(i => i -> Seq.fill(64)(rng.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    // rerank=4 << corpus: the duplicate must win on PQ scores alone to
    // even reach the exact re-rank stage
    val top1 = Pq.pqTopK(df, k = 1, rerank = 4)
      .filter($"vec_id" === 0L).select("neighbor").head().getLong(0)
    assert(top1 === 1L)
  }

  test("PQ+rerank recall@3 vs exact brute force on sf0.001") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteTopK(emb, 3))
    val pq = asSet(Pq.pqTopK(emb, 3)) // ships ksub=256, rerank=64
    val recall = (pq & exact).size.toDouble / exact.size
    // floor pinned just below the measured value (round 5: byte-wide
    // codebooks ksub=256 + rerank=64 → 0.993 at sf0.01, vs 0.69 for the
    // round-3 ksub=16) so a codebook/ADC regression fails rather than
    // degrading silently
    assert(recall >= 0.95, s"PQ recall@3 regressed: $recall (floor 0.95)")
  }

  test("sharded-index path equals the broadcast path (gate forced both ways)") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaBroadcast = asSet(Pq.pqTopK(emb, 3, rerank = 32,
      broadcastLimit = Long.MaxValue))
    // a gate of 0 forces the sharded cogroup path; PQ scores and the
    // exact re-rank are identical, so results must match exactly
    val viaShards = asSet(Pq.pqTopK(emb, 3, rerank = 32,
      broadcastLimit = 0L, nBlocks = 4))
    assert(viaShards === viaBroadcast)
  }

  test("IVF-PQ: planted near-duplicate routes to the probed cell and " +
      "survives the ADC pre-rank into top-1") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val copy = base.map(x => x + rng.nextGaussian().toFloat * 0.02f)
    val rows = Seq(0L -> base.toSeq, 1L -> copy.toSeq) ++
      (2L until 60L).map(i => i -> Seq.fill(64)(rng.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    // rerank=4 << corpus and nprobe=4 < nlist: the duplicate must (a)
    // land in a cell the query probes and (b) win on ADC scores alone
    val top1 = Pq.ivfPqTopK(df, k = 1, nlist = 8, nprobe = 4, rerank = 4)
      .filter($"vec_id" === 0L).select("neighbor").head().getLong(0)
    assert(top1 === 1L)
  }

  test("IVF-PQ recall@3 vs exact brute force on sf0.001") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteTopK(emb, 3))
    val got = asSet(Pq.ivfPqTopK(emb, 3)) // ships nlist=16, nprobe=12
    assert(got.groupBy(_._1).values.forall(_.size <= 3))
    val recall = (got & exact).size.toDouble / exact.size
    // compound floor: routing (l3c ≥.94) × ADC (l3d ≥.95) — pinned just
    // below measured so a quantizer regression fails loudly
    assert(recall >= 0.88, s"IVF-PQ recall@3 regressed: $recall (floor 0.88)")
  }

  test("empty corpus yields an empty typed result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Pq.pqTopK(empty, 3).count() === 0)
  }

  test("int8 SQ: per-element reconstruction error ≤ scale/2; ranking holds") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val raw = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / math.max(n, 1e-12))
    }
    val rows = operators.Pq.sqCodes(emb).collect()
    assert(rows.length === raw.size)
    val deq = rows.map { r =>
      val id = r.getLong(0)
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(",").map(_.toLong)
      val u = unit(raw(id))
      // reconstruction bound: |code·scale − v_i| ≤ scale/2 (+ the 1e-9
      // scale-rounding slack) — the defining property of HALF_UP SQ
      codes.zip(u).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-7,
          s"vec $id: |$c*$scale - $x| > scale/2")
      }
      id -> codes.map(_ * scale)
    }.toMap
    // ranking fidelity: int8-dot top-3 vs exact top-3, recall ≥ 0.9 on
    // the fixture (int8 at 64 dims loses little)
    val ids = raw.keys.toSeq.sorted
    def top3(vecs: Map[Long, Array[Double]], q: Long): Set[Long] =
      ids.filter(_ != q).map { c =>
        val (a, b) = (vecs(q), vecs(c))
        (a.zip(b).map { case (x, y) => x * y }.sum, c)
      }.sortBy { case (s, c) => (-s, c) }.take(3).map(_._2).toSet
    val units = raw.map { case (k, v) => k -> unit(v) }
    val hit = ids.map(q => (top3(units, q) & top3(deq, q)).size).sum
    val recall = hit.toDouble / (ids.size * 3)
    assert(recall >= 0.9, s"int8 ranking recall@3 regressed: $recall")
  }

  test("sqTopK (the distributed int8-dot retrieval kernel) holds the " +
      "0.9 recall floor vs exact") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(operators.Similarity.bruteTopK(emb, 3))
    val got = pairs(operators.Pq.sqTopK(emb, 3))
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"sqTopK recall@3 regressed: $recall")
  }

  test("codebooks train once, persist, and reload bit-identically") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    // cache transparency: a cached train returns the same centroids a
    // fresh train would (the deterministic trainer makes this exact)
    val fresh = Pq.train(emb, m = 8, ksub = 16).get
    val cached = Pq.cachedTrain(emb, "pqspec-key", m = 8, ksub = 16).get
    val cached2 = Pq.cachedTrain(emb, "pqspec-key", m = 8, ksub = 16).get
    assert(cached2 eq cached) // second call is a cache HIT, no retrain
    def flat(cb: Pq.Codebook): Seq[Double] =
      cb.centroids.flatten.flatten.toSeq
    assert(flat(cached) === flat(fresh))
    // dump → reload round-trip (the fresh-process read path): every
    // centroid double survives parquet bit-for-bit
    val path = freshPath("pqspec_cb")
    Pq.dumpCodebook(spark, fresh, path)
    val loaded = Pq.loadCodebook(spark, path)
    assert(loaded.m === fresh.m && loaded.ksub === fresh.ksub &&
      loaded.dsub === fresh.dsub)
    assert(flat(loaded) === flat(fresh))
  }
}
