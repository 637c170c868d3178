package graft

import graft.operators.Dedup
import graft.sources.{Pgn, PuzzleGame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based laws (SURVEY §5.2 item 3): filter ≡ predicate, dedup
  * idempotence, window running sum ≡ prefix sums, NDJSON round-trip,
  * PGN rendering totality on arbitrary (incl. null-heavy) games.
  * Raw scalacheck generators driven from fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache), so runs are exactly
  * reproducible.
  */
class PropertySpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val tokenGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val docGen = for {
    n <- Gen.choose(3, 12)
    toks <- Gen.listOfN(n, tokenGen)
  } yield toks.mkString(" ")

  test("chunk_spans ≡ scala reference on random tokens/sizes/strides (F19 law)") {
    import spark.implicits._
    graft.GraftExtensions.ensureFunctions(spark)
    def reference(toks: List[String], size: Int, stride: Int): Seq[(Long, String)] = {
      val n = toks.length
      val chunks = (n + stride - 1) / stride
      (0 until chunks).map(i =>
        (i.toLong, toks.slice(i * stride, math.min(i * stride + size, n)).mkString(" ")))
    }
    for (seed <- 1L to 8L) {
      val toks = sample(Gen.listOfN(sample(Gen.choose(0, 25), seed), tokenGen), seed)
      val stride = sample(Gen.choose(1, 6), seed + 100)
      val size = stride + sample(Gen.choose(0, 5), seed + 200)
      Seq((1L, toks)).toDF("id", "t").createOrReplaceTempView("prop_chunks")
      val got = spark.sql(
        s"""SELECT chunk_idx, chunk FROM prop_chunks
           |LATERAL VIEW chunk_spans(t, $size, $stride) AS chunk_idx, chunk""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(got === reference(toks, size, stride),
        s"seed=$seed size=$size stride=$stride toks=$toks")
    }
  }

  test("exact dedup is idempotent (L1 law)") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val texts = sample(Gen.listOfN(20, docGen), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = docs.dropDuplicates("text")
      val twice = once.dropDuplicates("text")
      assert(once.count() === twice.count(), s"seed=$seed")
      assert(once.except(twice).count() === 0, s"seed=$seed")
    }
  }

  test("thresholdJoin ≡ all-pairs on random embeddings (exactness law)") {
    import spark.implicits._
    // clustered + uniform random vectors across several seeds and
    // thresholds: the triangle-inequality pruning must never drop a
    // qualifying pair regardless of how (badly) the quantizer fits
    val dimGen = Gen.choose(4, 16)
    for (seed <- 1L to 3L) {
      val dim = sample(dimGen, seed)
      val rng = new scala.util.Random(seed)
      def noisy(base: Array[Float]): Seq[Float] =
        base.map(x => x + rng.nextGaussian().toFloat * 0.15f).toSeq
      val centers = Seq.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat))
      val rows = (0 until 60).map { i =>
        val v = if (i % 4 == 3) Seq.fill(dim)(rng.nextGaussian().toFloat)
                else noisy(centers(i % 3))
        (i.toLong, v)
      }
      val df = rows.toDF("vec_id", "embedding")
      for (tau <- Seq(0.3, 0.7, 0.95)) {
        def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val brute = asSet(graft.operators.Similarity.pairSims(df)
          .filter($"id_a" < $"id_b" && $"sim" >= tau))
        val pruned = asSet(graft.operators.Similarity
          .thresholdJoin(df, tau, nlist = 4, trainPerList = 8,
            broadcastLimit = 0)) // force the cell path
        assert(pruned === brute, s"seed=$seed tau=$tau dim=$dim")
        // gate default on a 60-row input → broadcast kernel; also exact
        val bcast = asSet(graft.operators.Similarity.thresholdJoin(df, tau))
        assert(bcast === brute, s"seed=$seed tau=$tau dim=$dim (brute path)")
      }
    }
  }

  test("TopK aggregator == global sort-take under arbitrary merge splits") {
    for (seed <- 1L to 5L) {
      val rng = new scala.util.Random(seed)
      val xs = Seq.fill(200)((rng.nextInt(50).toDouble / 10.0, rng.nextInt(100).toLong))
      val k = 1 + rng.nextInt(8)
      val agg = new graft.functions.TopK(k)
      val want = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      // single-buffer reduce
      val one = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
      assert(one === want, s"seed=$seed k=$k (reduce)")
      // random partition split + pairwise merge
      val parts = xs.grouped(1 + rng.nextInt(40)).toSeq
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = agg.finish(parts.foldLeft(agg.zero)(agg.merge))
      assert(merged === want, s"seed=$seed k=$k (merge)")
    }
  }

  test("connected components agree with union-find on random graphs (both paths)") {
    import spark.implicits._
    for (seed <- 1L to 2L) {
      val rng = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(50)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val want = touched.map(x => x -> find(x)).toMap
      val df = edges.toDF("src", "dst")
      val gated = graft.operators.Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gated === want, s"seed=$seed (gated)")
      val dist = graft.operators.Dedup
        .connectedComponents(df, driverEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist === want, s"seed=$seed (distributed)")
    }
  }

  test("minhash dedup never removes the smallest doc_id of a cluster") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      val texts = sample(Gen.listOfN(10, docGen), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val survivors = Dedup.minhashDedup(docs, 0.9)
        .select("doc_id").as[Long].collect().toSet
      assert(survivors.contains(0L), s"seed=$seed")
    }
  }

  test("l13 quality score is a proper probability; keep ⇔ score ≥ 0.5") {
    val scored = operators.TextAnalysis.queries("l13_quality_score")(
      spark, sf("sf0.001"))
    val bad = scored.filter(
      col("quality_score") <= 0.0 || col("quality_score") >= 1.0 ||
        (col("keep") =!= (col("quality_score") >= 0.5))).count()
    assert(bad === 0)
    // both classes occur on the fixture — the boundary actually cuts
    val classes = scored.select(col("keep")).distinct().count()
    assert(classes === 2)
  }

  test("m11 shuffle is a permutation: every doc once, shard positions contiguous") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val shuf = operators.PipelineOps.queries("m11_global_shuffle")(
      spark, sf("sf0.001"))
    assert(shuf.count() === docs.count())
    assert(shuf.select("doc_id").distinct().count() === docs.count())
    // per-shard positions are exactly 1..n_shard (window assigned densely)
    val holes = shuf.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"), min(col("pos")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(holes === 0)
    // determinism: same seed → identical assignment on a re-run
    val again = operators.PipelineOps.queries("m11_global_shuffle")(
      spark, sf("sf0.001"))
    assert(shuf.except(again).count() === 0)
  }

  test("filter ≡ its predicate (P-law)") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val xs = sample(Gen.listOfN(50, Gen.choose(-100.0, 100.0)), seed)
      val got = xs.toDF("x").filter($"x" > 10.0).as[Double].collect().sorted.toSeq
      val want = xs.filter(_ > 10.0).sorted
      assert(got === want, s"seed=$seed")
    }
  }

  test("w13 range expansion ≡ brute-force rolling distinct on random visit sets") {
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val visits = sample(Gen.listOfN(80, for {
        u <- Gen.choose(1L, 8L); d <- Gen.choose(0L, 30L)
      } yield (u, d)), seed).distinct
      // the entry's exact algorithm, run on this grid (same expressions)
      val ud = visits.toDF("user_id", "day_no")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"day_no")
      val contrib = ud.withColumn("pd", lag($"day_no", 1).over(w))
        .select(explode(expr(
          """sequence(CASE WHEN pd IS NULL THEN day_no
            |         ELSE GREATEST(day_no, pd + 7) END,
            |         day_no + 6)""".stripMargin)).as("day_no"))
        .groupBy($"day_no").agg(count(lit(1)).as("au7"))
      val spine = ud.agg(min($"day_no").as("lo"), max($"day_no").as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("day_no"))
      val got = spine.join(contrib, Seq("day_no"), "left")
        .select($"day_no", coalesce($"au7", lit(0L)).as("au7"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lo = visits.map(_._2).min; val hi = visits.map(_._2).max
      (lo to hi).foreach { day =>
        val want = visits.filter { case (_, d) => d >= day - 6 && d <= day }
          .map(_._1).distinct.size.toLong
        assert(got(day) === want, s"seed=$seed day=$day")
      }
    }
  }

  test("l25 span corruption is lossless: input + target reassemble the doc") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val docs = sample(Gen.listOfN(15, Gen.choose(8, 60)
        .flatMap(n => Gen.listOfN(n, tokenGen).map(_.mkString(" ")))), seed)
      val rows = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // run the SHIPPED entry against a scratch fixture dir so the law
      // covers the real expressions, not a copy of them
      val dir = freshDir(s"l25_law_$seed")
      rows.withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.operators.TextAnalysis
        .queries("l25_span_corruption")(spark, dir.toString)
        .collect().map(r => (r.getLong(0),
          (r.getInt(2), r.getString(3), r.getString(4)))).toMap
      docs.zipWithIndex.foreach { case (text, i) =>
        val (nMasked, input, target) = got(i.toLong)
        // parse target into sentinel -> span tokens
        val spans = scala.collection.mutable.Map.empty[String, List[String]]
        var cur: String = null
        target.split(" ").filter(_.nonEmpty).foreach { tok =>
          if (tok.startsWith("<extra_id_")) { cur = tok; spans(cur) = Nil }
          else spans(cur) = spans(cur) :+ tok
        }
        val rebuilt = input.split(" ").filter(_.nonEmpty).flatMap { tok =>
          if (tok.startsWith("<extra_id_")) spans(tok) else Seq(tok)
        }.mkString(" ")
        assert(rebuilt === text, s"seed=$seed doc=$i")
        assert(nMasked === spans.values.map(_.size).sum, s"seed=$seed doc=$i")
        assert(nMasked > 0, s"seed=$seed doc=$i (n>=8 must mask)")
      }
    }
  }

  test("l23 repetition stats ≡ scala brute force (mode fold + bigram distinct)") {
    import spark.implicits._
    for (seed <- 1L to 8L) {
      val docs = sample(Gen.listOfN(20, docGen), seed)
      // evaluate the SAME fold/zip_with expressions the entry uses
      val cols = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          expr("""CAST(aggregate(array_sort(t),
                 |  struct(CAST(NULL AS STRING) AS prev,
                 |         CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS best),
                 |  (acc, x) -> struct(x AS prev,
                 |    CAST(IF(acc.prev IS NOT NULL AND x = acc.prev,
                 |            acc.run + 1, 1) AS BIGINT) AS run,
                 |    GREATEST(acc.best,
                 |      CAST(IF(acc.prev IS NOT NULL AND x = acc.prev,
                 |              acc.run + 1, 1) AS BIGINT)) AS best),
                 |  acc -> acc.best) AS LONG)""".stripMargin).as("mode_cnt"),
          expr("""size(array_distinct(
                 |  zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
                 |    (a, b) -> concat(a, ' ', b))))""".stripMargin).as("d2"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ").toSeq
        val wantMode = toks.groupBy(identity).values.map(_.size).max.toLong
        val wantD2 = toks.sliding(2).map(_.mkString(" ")).toSet.size
        assert(cols(i.toLong) === ((wantMode, wantD2)), s"seed=$seed doc=$i")
      }
    }
  }

  test("window running sum ≡ scala prefix sums (W3 law)") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val xs = sample(Gen.listOfN(30, Gen.choose(-50, 50)), seed)
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }
        .toDF("i", "v")
      val w = org.apache.spark.sql.expressions.Window.orderBy($"i")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val got = df.withColumn("run", sum($"v").over(w))
        .orderBy($"i").select("run").as[Long].collect().toSeq
      val want = xs.map(_.toLong).scanLeft(0L)(_ + _).tail
      assert(got === want, s"seed=$seed")
    }
  }

  test("l14 dup-passage counts ≡ brute force on random corpora (incl. hot passage)") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      // small vocab + a planted passage shared by many docs + a doc that
      // repeats its own passage — the within-doc duplication case
      val hot = "p q r s t"
      val base = sample(Gen.listOfN(30, docGen), seed)
      val texts = base.zipWithIndex.map {
        case (t, i) if i % 3 == 0 => s"$t $hot"      // hot passage in ~1/3 of docs
        case (t, _) => t
      } :+ s"$hot $hot $hot"                          // self-repeating doc
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val k = 5
      val got = graft.operators.TextAnalysis.dupPassage(docs, k)
        .orderBy("doc_id")
        .select($"doc_id", $"n_grams", $"dup_grams")
        .as[(Long, Long, Long)].collect().toSeq
      // brute force over gram strings
      val grams = texts.zipWithIndex.flatMap { case (t, i) =>
        val tk = t.split(" ")
        if (tk.length < k) Seq.empty
        else tk.sliding(k).map(w => (i.toLong, w.mkString(" "))).toSeq
      }
      val total = grams.groupBy(_._2).view.mapValues(_.size).toMap
      val want = grams.groupBy(_._1).map { case (id, gs) =>
        (id, gs.size.toLong, gs.count(g => total(g._2) >= 2).toLong)
      }.toSeq.sortBy(_._1)
      assert(got === want, s"seed=$seed")
    }
  }

  test("m13 split is deterministic, exhaustive, and ~80/10/10") {
    val q = graft.operators.PipelineOps.queries("m13_split")
    val a = q(spark, sf("sf0.001")).collect()
    val b = q(spark, sf("sf0.001")).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
    val bydoc = a.groupBy(_.getLong(0))
    assert(bydoc.forall(_._2.length == 1), "a doc in two splits")
    val counts = a.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(counts.keySet === Set("train", "val", "test"), counts.toString)
    val n = a.length.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9, counts.toString)
    assert(counts("val") / n < 0.2 && counts("test") / n < 0.2, counts.toString)
  }

  test("s12 pin: PERMISSIVE corrupt-row shapes (why ok = corrupt-is-null)") {
    // Two distinct corrupt shapes exist and BOTH must set the corrupt
    // column: a structurally broken line (unterminated string — nothing
    // parseable, all data fields null) and a well-formed line with a
    // type mismatch (Spark keeps PARTIAL results: lang survives while
    // doc_id is null). The second shape is why s12 judges validity on
    // `_corrupt_record IS NULL`, never on a data field being non-null.
    val dir = freshDir("prop_s12").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part.json"),
      """{"doc_id": 1, "lang": "en"}
        |{"doc_id": 2, "lang": "
        |{"doc_id": "notanumber", "lang": "fr"}
        |""".stripMargin)
    val got = spark.read
      .schema("doc_id BIGINT, lang STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    val rows = got.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows.length === 3)
    assert(rows.contains((Some(1L), Some("en"), None)))
    val corrupt = rows.filter(_._3.nonEmpty)
    assert(corrupt.length === 2, rows.toString)
    // truncated line: no data fields survive
    assert(corrupt.exists(r => r._1.isEmpty && r._2.isEmpty), rows.toString)
    // type-mismatch line: PARTIAL result — lang parsed, row still corrupt
    assert(corrupt.exists(r => r._2 === Some("fr")), rows.toString)
  }

  test("zValue16 ≡ reference bit interleave; z-locality bounds both dims") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) |
                            (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(graft.operators.PipelineOps.zValue16(col("x"), col("y")).as("z"))
      .as[Long].collect()
    assert(got.toSeq === pts.map { case (x, y) => ref(x, y) })
    // locality law: within a z-interval of length 4^k aligned at its own
    // size, both dims vary by < 2^k — the row-group-boundedness property
    // m14's pruning relies on
    for (k <- Seq(4, 8)) {
      val grouped = pts.map { case (x, y) => (ref(x, y) >> (2 * k), (x, y)) }
        .groupBy(_._1).values
      for (g <- grouped if g.size > 1) {
        val xs = g.map(_._2._1); val ys = g.map(_._2._2)
        assert(xs.max - xs.min < (1L << k), s"k=$k x-spread")
        assert(ys.max - ys.min < (1L << k), s"k=$k y-spread")
      }
    }
  }

  test("NDJSON round-trip law (S5): write∘read = id on flat rows") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      val rows = sample(Gen.listOfN(10,
        Gen.zip(Gen.choose(0L, 1000L), Gen.alphaStr)), seed)
      val df = rows.toDF("id", "s")
      val dir = freshDir("prop_s5").toString
      df.write.mode("overwrite").json(dir)
      val back = spark.read.schema("id BIGINT, s STRING").json(dir)
      assert(back.count() === rows.length, s"seed=$seed")
      assert(df.except(back).count() === 0, s"seed=$seed")
    }
  }

  test("overlapJoin ≡ brute-force overlap, each pair exactly once (J11 law)") {
    import spark.implicits._
    // random closed intervals; width deliberately OFF the interval
    // length scale so intervals span 0..many cells — the ownership
    // conjunct must still emit every overlapping pair exactly once
    val ivGen = for {
      s <- Gen.choose(0L, 100000L)
      len <- Gen.choose(0L, 30000L)
    } yield (s, s + len)
    for (seed <- 1L to 5L) {
      val as = sample(Gen.listOfN(25, ivGen), seed)
        .zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      val bs = sample(Gen.listOfN(25, ivGen), seed + 100)
        .zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      val got = graft.operators.Joins.overlapJoin(
          as.toDF("aid", "s1", "e1"), bs.toDF("bid", "s2", "e2"),
          "s1", "e1", "s2", "e2", 7000L)
        .select($"aid", $"bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (ai, s1, e1) <- as; (bi, s2, e2) <- bs
        if s1 <= e2 && s2 <= e1
      } yield (ai, bi)).sorted
      // SEQUENCE equality, not set: proves exactly-once emission (a
      // broken ownership conjunct would duplicate co-resident pairs)
      assert(got === want, s"seed=$seed")
    }
  }

  test("m16 temperature mix ≡ scala brute force on random corpora") {
    import spark.implicits._
    val srcGen = Gen.oneOf("src0", "src1", "src2", "src3")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    for (seed <- 1L to 3L) {
      val docs = sample(Gen.listOfN(60, Gen.zip(docGen, srcGen)), seed)
        .zipWithIndex.map { case ((t, src), i) => (i.toLong, t, "en", src,
          t.length.toLong) }
      val dir = freshDir("prop_m16").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.operators.PipelineOps
        .queries("m16_temperature_mix")(spark, dir)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      // independent mirror: α=0.7 weights over per-source token totals,
      // budgets = floor(0.3·Σn·wᵢ/Σw + 1e-6), take each source's
      // md5-priority prefix while the running token sum fits
      val toks = docs.map { case (id, t, _, src, _) =>
        (id, src, t.split(" ").length.toLong) }
      val bySrc = toks.groupBy(_._2)
      val allToks = toks.map(_._3).sum
      val wsum = bySrc.values.map(g => math.pow(g.map(_._3).sum.toDouble, 0.7)).sum
      val want = bySrc.flatMap { case (src, g) =>
        val budget = math.floor(0.3 * allToks *
          math.pow(g.map(_._3).sum.toDouble, 0.7) / wsum + 1e-6).toLong
        var cum = 0L
        g.map { case (id, _, n) => (md5hex(s"tmix:$id"), id, n) }
          .sortBy(t => (t._1, t._2))
          .flatMap { case (_, id, n) =>
            cum += n; if (cum <= budget) Some(id) else None }
      }.toSet
      assert(got === want, s"seed=$seed")
    }
  }

  test("m18 SCD2 invariants: one current row per key, contiguous version ranges") {
    val out = graft.operators.PipelineOps
      .queries("m18_scd2_history")(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3),
        r.getBoolean(4)))
    val byKey = out.groupBy(_._1)
    byKey.foreach { case (k, rows) =>
      assert(rows.count(_._4) === 1, s"key $k: exactly one is_current")
      val sorted = rows.sortBy(_._2)
      assert(sorted.last._3 === Long.MaxValue, s"key $k: open-ended tail")
      sorted.sliding(2).foreach {
        case Array((_, _, to1, _), (_, from2, _, _)) =>
          assert(to1 + 1 === from2, s"key $k: ranges contiguous")
        case _ => ()
      }
    }
    assert(byKey.nonEmpty)
  }

  test("deletion-neighborhood blocking covers every levenshtein≤1 pair (J12 law)") {
    // FastSS soundness for the fuzzy join's candidate generation: if
    // lev(a,b) ≤ 1 then their {self}∪{single-char deletions} sets
    // intersect — tested exhaustively-ish on a tiny alphabet (which
    // maximizes near-pairs) against a reference DP levenshtein
    def dels(s: String): Set[String] =
      s.indices.map(i => s.take(i) + s.drop(i + 1)).toSet + s
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strGen = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    for (seed <- 1L to 10L) {
      val xs = sample(Gen.listOfN(40, strGen), seed).distinct
      for (a <- xs; b <- xs if lev(a, b) <= 1)
        assert(dels(a).intersect(dels(b)).nonEmpty,
          s"seed=$seed: blocking missed ($a, $b)")
    }
  }

  test("depth-2 deletion-neighborhood blocking covers every levenshtein≤2 pair (J12b law)") {
    // FastSS soundness at k=2: if lev(a,b) ≤ 2 then their ≤2-deletion
    // neighborhoods intersect (delete the ≤2 aligned edit positions
    // from each side). Same exhaustive-ish tiny-alphabet setup as the
    // k=1 law; also pins the CONVERSE guard the engine relies on — the
    // residual filter — by checking a distance-3 pair the blocking may
    // admit is rejected by exact levenshtein.
    def del1(s: String): Set[String] =
      s.indices.map(i => s.take(i) + s.drop(i + 1)).toSet
    def dels2(s: String): Set[String] =
      del1(s).flatMap(del1) ++ del1(s) + s
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strGen = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    for (seed <- 1L to 10L) {
      val xs = sample(Gen.listOfN(40, strGen), seed).distinct
      for (a <- xs; b <- xs if lev(a, b) <= 2)
        assert(dels2(a).intersect(dels2(b)).nonEmpty,
          s"seed=$seed: depth-2 blocking missed ($a, $b)")
    }
    assert(lev("abcabc", "cbacba") === 4) // blocked-but-rejected class exists
    assert(dels2("aabb").intersect(dels2("bbaa")).nonEmpty && lev("aabb", "bbaa") > 2)
  }

  test("sql8 recursive streak ≡ scala brute force on random order histories") {
    import spark.implicits._
    def streak(dates: Seq[Long]): Int = {
      // walk the sorted dates from the first while each gap <= 30 days
      val sorted = dates.sorted
      var n = 1
      while (n < sorted.length &&
        sorted(n) - sorted(n - 1) <= 30L * 86400000L) n += 1
      n
    }
    for (seed <- 1L to 3L) {
      val gen = Gen.listOfN(120, Gen.zip(Gen.choose(1L, 12L), Gen.choose(0L, 400L)))
      val rows = sample(gen, seed).zipWithIndex.map { case ((cust, day), i) =>
        (cust, i.toLong, new java.sql.Timestamp(day * 86400000L))
      }
      // dates are unique per customer? not necessarily — ties are fine:
      // the SQL tiebreak is (date, key); the brute force must mirror it
      val byCust = rows.groupBy(_._1).map { case (c, rs) =>
        val sorted = rs.map(r => (r._3.getTime, r._2)).sortBy(identity)
        var n = 1
        while (n < sorted.length &&
          sorted(n)._1 - sorted(n - 1)._1 <= 30L * 86400000L) n += 1
        c -> n
      }
      rows.toDF("o_custkey", "o_orderkey", "o_orderdate")
        .createOrReplaceTempView("prop_sql8_orders")
      val got = spark.sql(graft.operators.SqlFrontend.recursiveSql
          .replace("FROM orders", "FROM prop_sql8_orders"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === byCust, s"seed=$seed")
    }
  }

  test("URL canonicalization: mess-invariant + idempotent (L17 law)") {
    import spark.implicits._
    // a logical URL = (scheme, host, path segs, param set); a "mess" =
    // case-shuffled host, optional default port, optional trailing
    // slash, shuffled param order, utm noise, optional fragment. Any
    // two messes of the same logical URL must canonicalize identically,
    // and canon must be a fixpoint.
    val logical = for {
      scheme <- Gen.oneOf("http", "https")
      host <- Gen.oneOf("example.com", "a.b.example.org", "x1.net")
      segs <- Gen.listOfN(2, Gen.choose(0, 99))
      ps <- Gen.someOf(Seq("id=7", "ref=home", "q=a+b", "page=3"))
    } yield (scheme, host, segs.mkString("/p/", "/", ""), ps.toSeq)
    def mess(u: (String, String, String, Seq[String]), seed: Long): String = {
      val (scheme, host, path, ps) = u
      val r = new scala.util.Random(seed)
      val h = host.map(c => if (r.nextBoolean()) c.toUpper else c)
      val port = if (r.nextBoolean()) (if (scheme == "https") ":443" else ":80") else ""
      val slash = if (r.nextBoolean()) "/" else ""
      val params = r.shuffle(ps ++ (if (r.nextBoolean())
        Seq(s"utm_source=s${r.nextInt(9)}", "utm_medium=m") else Nil))
      val qs = if (params.nonEmpty) "?" + params.mkString("&") else ""
      val frag = if (r.nextBoolean()) "#sec" + r.nextInt(5) else ""
      s"$scheme://$h$port$path$slash$qs$frag"
    }
    for (seed <- 1L to 3L) {
      val urls = sample(Gen.listOfN(40, logical), seed)
      val pairs = urls.zipWithIndex.map { case (u, i) =>
        (i.toLong, mess(u, seed * 1000 + i), mess(u, seed * 2000 + i))
      }
      val df = pairs.toDF("id", "u1", "u2")
        .select(col("id"),
          Dedup.canonicalUrl(col("u1")).as("c1"),
          Dedup.canonicalUrl(col("u2")).as("c2"))
        .withColumn("cc", Dedup.canonicalUrl(col("c1")))
      val rows = df.collect()
      rows.foreach { r =>
        assert(r.getString(1) === r.getString(2),
          s"mess-variant: ${r.getLong(0)} seed=$seed")
        assert(r.getString(3) === r.getString(1),
          s"not idempotent: ${r.getLong(0)} seed=$seed")
      }
      // distinct logical URLs must NOT collapse together
      val distinctLogical = urls.map(u => (u._1, u._2.toLowerCase, u._3, u._4.sorted)).distinct.size
      assert(rows.map(_.getString(1)).distinct.length === distinctLogical)
    }
  }

  test("j13 nearest-event ≡ brute force incl. equidistant tiebreaks (J13 law)") {
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    for (seed <- 1L to 3L) {
      // coarse 10-min grid over ±3 h so exact forward/backward ties and
      // out-of-tolerance gaps both arise; duplicate timestamps too
      val gen = Gen.listOfN(80, Gen.zip(
        Gen.choose(1L, 4L), Gen.choose(0L, 36L),
        Gen.oneOf("purchase", "click", "view")))
      val rows = sample(gen, seed).zipWithIndex.map { case ((u, slot, t), i) =>
        (i.toLong, new java.sql.Timestamp(slot * 600000L), u, t)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.operators.Joins.nearestEvent(df).collect()
        .map(r => r.getLong(0) -> (
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val clicks = rows.filter(_._4 == "click")
      val want = rows.filter(_._4 == "purchase").map { p =>
        val cand = clicks.filter(c => c._3 == p._3 &&
          math.abs(c._2.getTime - p._2.getTime) * 1000L <= hourUs)
        if (cand.isEmpty) p._1 -> (None, None)
        else {
          val best = cand.minBy(c => (
            math.abs(c._2.getTime - p._2.getTime), c._2.getTime, c._1))
          p._1 -> (Some(best._1),
            Some(math.abs(best._2.getTime - p._2.getTime) * 1000L))
        }
      }.toMap
      assert(got === want, s"seed=$seed")
    }
  }

  test("w8 funnel ≡ brute force incl. the 7-day boundary (W8 law)") {
    import spark.implicits._
    val weekMs = 7L * 86400000L
    for (seed <- 1L to 3L) {
      // hourly grid over 20 days so conversions straddle the inclusive
      // 7-day boundary; users without signups / without purchases arise
      val gen = Gen.listOfN(100, Gen.zip(
        Gen.choose(1L, 5L), Gen.choose(0L, 480L),
        Gen.oneOf("purchase", "signup", "click")))
      val rows = sample(gen, seed).zipWithIndex.map { case ((u, hr, t), i) =>
        (i.toLong, new java.sql.Timestamp(hr * 3600000L), u, t)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.operators.Windows.funnel(df).collect()
        .map(r => r.getLong(0) -> (r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3), r.getLong(4))).toMap
      val want = rows.groupBy(_._3).flatMap { case (u, evs) =>
        val signups = evs.filter(_._4 == "signup").map(_._2.getTime)
        if (signups.isEmpty) None
        else {
          val fs = signups.min
          val purch = evs.filter(e => e._4 == "purchase" &&
            e._2.getTime >= fs && e._2.getTime <= fs + weekMs)
          if (purch.isEmpty) None
          else {
            val conv = purch.map(_._2.getTime).min
            Some(u -> (fs, conv, purch.size.toLong, (conv - fs) * 1000L))
          }
        }
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("m19 expectations count every planted violation exactly once") {
    import spark.implicits._
    // planted: 1 duplicate key, 1 null date, 2 bad statuses (one on a
    // dup row), 1 out-of-range qty, 2 FK orphans, 1 bad value, 1 length
    // mismatch — each rule must see exactly its own violations.
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val o = Seq(
      (1L, "O", Option(ts0)), (2L, "F", Option(ts0)),
      (2L, "P", Option(ts0)),                 // dup key + bad status
      (3L, "X", Option(ts0)),                 // bad status
      (4L, "O", None: Option[java.sql.Timestamp])) // null date
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
    val l = Seq(
      (1L, 10.0), (2L, 46.0),                 // qty out of [1,45]
      (98L, 5.0), (99L, 5.0))                 // FK orphans
      .toDF("l_orderkey", "l_quantity")
    val e = Seq((1L, 50.0), (2L, 101.0)).toDF("event_id", "value")
    val doc = Seq((1L, "abc", 3), (2L, "abcd", 3)) // mismatch on doc 2
      .toDF("doc_id", "text", "n_chars")
    val got = operators.PipelineOps.expectations(o, l, e, doc)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got("orders.o_orderkey is unique") === ((1L, 5L, false)))
    assert(got("orders.o_orderdate is not null") === ((1L, 5L, false)))
    assert(got("orders.o_orderstatus in (O,F)") === ((2L, 5L, false)))
    assert(got("lineitem.l_quantity in [1,45]") === ((1L, 4L, false)))
    assert(got("lineitem.l_orderkey references orders") === ((2L, 4L, false)))
    assert(got("events.value in [0,100]") === ((1L, 2L, false)))
    assert(got("documents.n_chars = length(text)") === ((1L, 2L, false)))
    assert(got.size === 7)
    // and a clean table set reports all-passed
    val clean = operators.PipelineOps.expectations(
      Seq((1L, "O", Option(ts0))).toDF("o_orderkey", "o_orderstatus", "o_orderdate"),
      Seq((1L, 10.0)).toDF("l_orderkey", "l_quantity"),
      Seq((1L, 50.0)).toDF("event_id", "value"),
      Seq((1L, "abc", 3)).toDF("doc_id", "text", "n_chars"))
      .collect()
    assert(clean.forall(_.getBoolean(3)))
    assert(clean.forall(_.getLong(1) == 0L))
  }

  test("hostRank ≡ scala integer fixed-point walk on random graphs (L20 law)") {
    import spark.implicits._
    for (seed <- 1L to 4L) {
      val nV = 12
      val raw = sample(Gen.listOfN(40, for {
        a <- Gen.choose(0, nV - 1); b <- Gen.choose(0, nV - 1)
      } yield (s"h$a", s"h$b")), seed)
      val edges = raw.filter(p => p._1 != p._2).distinct
      assert(edges.nonEmpty, s"seed=$seed produced no edges")
      val got = operators.TextAnalysis
        .hostRank(edges.toDF("src", "dst"), iters = 3)
        .as[(String, Long)].collect().toMap
      // reference: the same three sweeps in plain Long arithmetic
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val r0 = 1000000000000L / verts.size
      val base = 15L * r0 / 100L
      val out = edges.groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
      var r = verts.map(_ -> r0).toMap
      for (_ <- 1 to 3) {
        val inc = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        for ((a, b) <- edges) inc(b) += r(a) / out(a)
        r = verts.map(v => v -> (base + 85L * inc(v) / 100L)).toMap
      }
      assert(got === r, s"seed=$seed")
    }
  }

  test("w10 transitions ≡ brute-force pair walk (W10 law)") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      // small user pool + coarse clock so same-user runs and ts ties
      // (broken by event_id) both arise
      val gen = Gen.listOfN(120, Gen.zip(
        Gen.choose(1L, 4L), Gen.choose(0L, 40L),
        Gen.oneOf("a", "b", "c")))
      val rows = sample(gen, seed).zipWithIndex.map { case ((u, hr, t), i) =>
        (i.toLong, new java.sql.Timestamp(hr * 3600000L), u, t)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.operators.Windows.transitions(df).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val pairs = rows.groupBy(_._3).toSeq.flatMap { case (u, evs) =>
        evs.sortBy(e => (e._2.getTime, e._1)).sliding(2).collect {
          case Seq(p, n) => (p._4, n._4, u)
        }
      }
      val want = pairs.groupBy(p => (p._1, p._2)).map { case (k, v) =>
        k -> (v.size.toLong, v.map(_._3).distinct.size.toLong)
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("a15 weighted median ≡ brute-force crossing scan (A15 law)") {
    import spark.implicits._
    for (seed <- 1L to 4L) {
      // duplicate values per group arise (value range 1..8), exercising
      // the (group, value) pre-collapse; even/odd totals and exact-half
      // crossings arise from small integer weights
      val gen = Gen.listOfN(60, Gen.zip(
        Gen.oneOf("x", "y", "z"), Gen.choose(1, 8), Gen.choose(1L, 9L)))
      val rows = sample(gen, seed)
      val df = rows.toDF("g", "v", "w")
      val got = graft.operators.Aggregates
        .weightedMedian(df.select(col("g"), col("v"), col("w")), "g", "v")
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2)))
        .toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val byV = rs.groupBy(_._2).view
          .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
        val tot = byV.map(_._2).sum
        val med = byV.scanLeft((0, 0L)) { case ((_, c), (v, w)) =>
          (v, c + w) }.drop(1).find(p => 2 * p._2 >= tot).get._1
        g -> (med, tot)
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("m24 gap fill carries exactly the last observed cell (M24 law)") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      // sparse observations over a 30-slot range per type: leading
      // unobserved cells (NULL fill), interior gaps, adjacent runs
      val gen = Gen.listOfN(18, Gen.zip(
        Gen.oneOf("p", "q"), Gen.choose(5L, 34L),
        Gen.choose(1L, 50L), Gen.choose(-300L, 300L)))
      val cells = sample(gen, seed)
        .groupBy(c => (c._1, c._2)).toSeq.map { case ((t, hr), cs) =>
          (t, hr, cs.map(_._3).sum, cs.map(_._4).sum)
        }
      val grid = cells.toDF("event_type", "hr", "n_events", "sv")
      val got = graft.operators.PipelineOps.gapFill(grid).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4)))
        .toMap
      val byType = cells.groupBy(_._1)
      val want = byType.flatMap { case (t, cs) =>
        val obs = cs.map(c => c._2 -> (c._3, c._4)).toMap
        val (mn, mx) = (cs.map(_._2).min, cs.map(_._2).max)
        (mn to mx).map { hr =>
          val lastSv = (mn to hr).reverse.collectFirst {
            case h if obs.contains(h) => obs(h)._2 }
          (t, hr) -> (obs.get(hr).map(_._1).getOrElse(0L),
            lastSv.map(_ / 100.0), obs.contains(hr))
        }
      }
      assert(got === want, s"seed=$seed")
      // spine is dense by construction: one row per (type, slot in range)
      assert(got.size === byType.map { case (_, cs) =>
        cs.map(_._2).max - cs.map(_._2).min + 1 }.sum)
    }
  }

  test("w11 staged funnel ≡ brute-force ordered 3-stage walk (W11 law)") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      // coarse clock + small user pool: orderings where the only click
      // precedes the first view (stage fails) and purchases between
      // view and click (must NOT count) both arise
      val gen = Gen.listOfN(150, Gen.zip(
        Gen.choose(1L, 5L), Gen.choose(0L, 60L),
        Gen.oneOf("view", "click", "purchase")))
      val rows = sample(gen, seed).zipWithIndex.map { case ((u, hr, t), i) =>
        (i.toLong, new java.sql.Timestamp(hr * 3600000L), u, t, 1.0)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.operators.Windows.stagedFunnel(df)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = rows.groupBy(_._3).flatMap { case (u, evs) =>
        def us(t: java.sql.Timestamp) = t.getTime * 1000L
        val views = evs.filter(_._4 == "view").map(e => us(e._2))
        if (views.isEmpty) None else {
          val v = views.min
          val clicks = evs.filter(e => e._4 == "click" && us(e._2) > v)
            .map(e => us(e._2))
          if (clicks.isEmpty) None else {
            val c = clicks.min
            val purch = evs.filter(e => e._4 == "purchase" && us(e._2) > c)
              .map(e => us(e._2))
            if (purch.isEmpty) None
            else Some(u -> (v, c, purch.min, purch.min - v))
          }
        }
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("m26 time-weighted average ≡ brute-force interval sum (M26 law)") {
    import spark.implicits._
    for (seed <- 1L to 3L) {
      // second-grained clock with ts TIES per user (tie broken by
      // event_id; the tied row holds for 0 s) and sub-second gaps that
      // must floor away identically
      val gen = Gen.listOfN(80, Gen.zip(
        Gen.choose(1L, 4L), Gen.choose(0L, 4000L), Gen.choose(-300, 300)))
      val rows = sample(gen, seed).zipWithIndex.map { case ((u, ds, v), i) =>
        (i.toLong, new java.sql.Timestamp(ds * 250L), u, v / 4.0)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "value")
      val kernelGot = graft.operators.PipelineOps.timeWeightedAvg(df)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
        .toMap
      val want = rows.groupBy(_._3).flatMap { case (u, evs) =>
        val ord = evs.sortBy(e => (e._2.getTime, e._1))
        val pairs = ord.sliding(2).collect { case Seq(a, b) =>
          val durS = (b._2.getTime - a._2.getTime) * 1000L / 1000000L
          (math.round(a._4 * 100), durS)
        }.toSeq
        val tot = pairs.map(_._2).sum
        if (tot <= 0) None
        else Some(u -> (pairs.map(p => p._1 * p._2).sum.toDouble / 100.0 / tot,
          tot))
      }
      assert(kernelGot === want, s"seed=$seed")
    }
  }

  test("m25 dynamic overwrite rewrites ONLY the delta's partitions (file law)") {
    import spark.implicits._
    val path = freshDir("m25_spec").toString
    Seq((1L, 0L, 1.0), (2L, 1L, 2.0), (3L, 2L, 3.0), (4L, 1L, 4.0))
      .toDF("id", "day_no", "v")
      .write.mode("overwrite").partitionBy("day_no").parquet(path)
    def files(day: Long): Set[String] = {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(path, s"day_no=$day")
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val before = Map(0L -> files(0), 1L -> files(1), 2L -> files(2))
    // backfill day 1 only: fewer rows, bumped values
    Seq((9L, 1L, 20.0)).toDF("id", "day_no", "v")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day_no").parquet(path)
    // untouched partitions keep their exact files; day 1 was replaced
    assert(files(0) === before(0) && files(2) === before(2))
    assert(files(1).nonEmpty && files(1) != before(1))
    val got = spark.read.parquet(path)
      .select(col("id"), col("day_no").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 0L, 1.0), (3L, 2L, 3.0), (9L, 1L, 20.0)))
  }

  test("l21 per-host triangles ≡ brute-force enumeration (L21 law)") {
    import spark.implicits._
    for (seed <- 1L to 4L) {
      val nV = 10
      val raw = sample(Gen.listOfN(45, for {
        a <- Gen.choose(0, nV - 1); b <- Gen.choose(0, nV - 1)
      } yield (s"h$a", s"h$b")), seed)
      val edges = raw.filter(p => p._1 != p._2)
        .map(p => if (p._1 < p._2) p else p.swap).distinct
      val df = edges.toDF("a", "b")
      val got = graft.operators.TextAnalysis.hostTriangles(df)
        .as[(String, Long)].collect().toMap
      val es = edges.toSet
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val tris = for {
        i <- verts; j <- verts if i < j && es((i, j))
        k <- verts if j < k && es((j, k)) && es((i, k))
      } yield (i, j, k)
      val want = tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (h, xs) => h -> xs.size.toLong }
      assert(got === want, s"seed=$seed tris=${tris.size}")
    }
  }

  test("m28 vacuum leaves EXACTLY the manifest's files; values intact (file law)") {
    import spark.implicits._
    val dir = freshDir("m28_spec").resolve("t").toString
    val df = (1L to 300L).map(i => (i, i % 7, i / 4.0))
      .toDF("event_id", "user_id", "value")
    val got = graft.operators.PipelineOps.vacuumed(df, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // values: post-vacuum read ≡ the source rows, no dups, no losses
    assert(got === (1L to 300L).map(i => (i, i % 7, i / 4.0)).toSet)
    // file law: only the compacted generation (2 part files) remains
    val left = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(left.length === 2, left.mkString(","))
    // idempotence: vacuuming an already-clean layout changes nothing
    val again = graft.operators.PipelineOps.vacuumed(df, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again === got)
  }

  test("m23 merged rollup ≡ cold recompute at ANY cutoff (boundary law)") {
    val events = Tables.events(spark, sf("sf0.001"))
    val snap = freshDir("m23_spec").toString
    val usBounds = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (lo, hi) = (usBounds.getLong(0), usBounds.getLong(1))
    // cold recompute = cutoff below every row (empty snapshot)
    val cold = operators.PipelineOps
      .incrementalRollup(events, lo, s"$snap/cold")
      .collect().map(r => r.toSeq).sortBy(_.toString)
    // the boundary must be unobservable wherever it falls: interior
    // cutoffs (25/50/75%) and one above every row (empty delta)
    for (frac <- Seq(0.25, 0.5, 0.75, 1.1)) {
      val cut = lo + ((hi - lo + 1) * frac).toLong
      val got = operators.PipelineOps
        .incrementalRollup(events, cut, s"$snap/f$frac")
        .collect().map(r => r.toSeq).sortBy(_.toString)
      assert(got === cold, s"cutoff frac=$frac")
    }
  }

  test("PGN rendering is total on arbitrary games (R10 law)") {
    val optStr = Gen.option(Gen.oneOf(Gen.alphaNumStr,
      Gen.const("with \"quotes\" and\nnewlines")))
    val gameGen = for {
      id <- Gen.identifier
      w <- optStr; b <- optStr; eco <- optStr; on <- optStr
      win <- optStr; mv <- optStr
    } yield PuzzleGame(id, w, b, eco, on, win, mv)
    for (seed <- 1L to 20L) {
      val g = sample(gameGen, seed)
      val s = Pgn.render(g, 1)
      assert(s.contains(s"""[Game ID "${g.game_id}"]"""), s"seed=$seed")
      assert(s.startsWith("[Game 1]"), s"seed=$seed")
      assert(s.linesIterator.size >= 9, s"seed=$seed")
    }
  }
}
