package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the near-dup machinery (L2 family): planted
  * near-dups are caught, dissimilar docs are never merged.
  */
class DedupSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 38).map(i => s"tok$i") ++ Seq("x1", "x2")).mkString(" ")
  private val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")

  test("minhash LSH dedup drops planted near-dup, keeps unrelated (L2)") {
    val docs = docsDF(Seq((1L, base), (2L, nearDup), (3L, unrelated)))
    val survivors = Dedup.minhashDedup(docs, threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors === Array(1L, 3L)) // 2 removed as near-dup of 1
  }

  test("incrementalDedup keeps only batch docs new to the corpus (M12, both arms)") {
    val corpus = docsDF(Seq((1L, "a b c"), (2L, "x y z")))
    // 10/11: corpus dup (drop both); 12/13: within-batch dup (keep 12,
    // multiplicity 2); 14: singleton (keep)
    val batch = docsDF(Seq((10L, "a b c"), (11L, "a b c"),
      (12L, "new doc"), (13L, "new doc"), (14L, "unique")))
    val expected = Set((12L, 2L), (14L, 1L))
    def got(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_batch_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // default gate → broadcast semi-join arm (tiny batch)
    assert(got(Dedup.incrementalDedup(corpus, batch)) === expected)
    // forced bloom arm: bloom negatives skip the join, positives verify
    assert(got(Dedup.incrementalDedup(corpus, batch, broadcastLimit = 0))
      === expected)
  }

  test("no false pair below 0.5 jaccard (L2 precision)") {
    val docs = docsDF(Seq((1L, base), (3L, unrelated)))
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(docs))
    val falsePairs = Dedup.verifyJaccard(docs, cand)
      .filter(col("jaccard") < 0.5).count()
    assert(falsePairs === 0)
  }

  test("exact jaccard verifier computes the true value") {
    // 30 shared tokens, each side 40 → jaccard = 30/50 = 0.6
    val a = (1 to 40).map(i => s"t$i").mkString(" ")
    val b = (11 to 60).map(i => s"t$i").mkString(" ")
    val docs = docsDF(Seq((1L, a), (2L, b)))
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    val j = Dedup.verifyJaccard(docs, pairs).select("jaccard").head().getDouble(0)
    assert(math.abs(j - 30.0 / 60.0) < 1e-9)
  }

  test("simhash of near-identical docs is hamming-close, unrelated far") {
    import spark.implicits._
    def simhash(text: String): Long = {
      val th = xxhash64(col("tok"))
      val votes = (0 until 64).map { j =>
        sum(when(shiftright(th, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$j")
      }
      val bits = (0 until 64).map { j =>
        when(col(s"v_$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
      }
      Dedup.docTokens(Seq((1L, text)).toDF("doc_id", "text"))
        .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
        .select(bits.reduce(_ + _).as("sh")).head().getLong(0)
    }
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hBase = simhash(base)
    assert(hamming(hBase, simhash(nearDup)) <= 16)
    assert(hamming(hBase, simhash(unrelated)) > 16)
  }

  test("simhash banded dedup finds all pairs within hamming 3 (pigeonhole)") {
    // exhaustive check at sf0.001: banded candidates ∪ verify must equal
    // the brute-force set of hamming≤3 pairs
    val d = sf("sf0.001")
    val sh = graft.operators.Dedup.queries("l2b_simhash")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, h1) <- sh; (d2, h2) <- sh
      if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield d2).toSet
    val survivors = graft.operators.Dedup.queries("l2b2_simhash_dedup")(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert((sh.map(_._1).toSet -- survivors) == brute,
      "removed set must equal exactly the larger-id docs of hamming<=3 pairs")
  }

  test("simhashBandPairs: exact below the window; removal survives hot buckets") {
    import spark.implicits._
    // (a) planted near-dup groups (each member ≤2 bit-flips off its
    // group base, so in-group pairs span hamming 0..4 — some adjacent,
    // some not), buckets far below the 64-row window → the kernel must
    // equal the quadratic definition (all band-colliding hamming<=3
    // pairs) exactly
    val rnd = new scala.util.Random(7)
    val hashes = (0 until 40).flatMap { g =>
      val bse = rnd.nextLong()
      (0 until 8).map { j =>
        val flips = (0 until rnd.nextInt(3)).map(_ => 1L << rnd.nextInt(64))
        (g * 8L + j) -> flips.foldLeft(bse)(_ ^ _)
      }
    }
    val got = Dedup.simhashBandPairs(hashes.toDF("doc_id", "simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandsOf(h: Long) = (0 until 4).map(b => (b, (h >>> (b * 16)) & 0xFFFFL))
    val want = (for {
      (d1, h1) <- hashes; (d2, h2) <- hashes
      if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
      if bandsOf(h1).intersect(bandsOf(h2)).nonEmpty
    } yield (d1, d2)).toSet
    assert(got === want)
    // (b) hot bucket: 200 identical hashes blow past the window, so the
    // pair set is banded (bounded, not all-pairs) — but every doc except
    // the min keeps a smaller partner, so the dedup REMOVAL set is intact
    val hot = (0L until 200L).map(i => i -> 0x1234abcd5678ef90L)
    val pairs = Dedup.simhashBandPairs(hot.toDF("doc_id", "simhash")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 200 * 199 / 2, "hot bucket must not emit all pairs")
    assert(pairs.map(_._2).distinct.sorted === (1L until 200L).toArray,
      "every non-min doc must still pair with a smaller neighbor")
  }

  test("connected components: long chain converges within maxIter (pointer-jumped moves)") {
    import spark.implicits._
    // a 400-node path exceeds maxIter=20 under one-step contraction; the
    // pointer-jumped moves must collapse it to a single min-labeled
    // component within the default round budget
    val edges = (0L until 399L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = Dedup.connectedComponents(edges, driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === 400)
    assert(labels.forall(_._2 == 0L), "all 400 chain nodes must reach label 0")
  }

  test("connected components: chain merges, triangle+tail, isolated pair") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), // chain -> one component
      (10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L), // triangle + tail
      (20L, 21L)) // isolated pair
      .toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    val got = graft.operators.Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // a zero driver budget forces the distributed label-propagation loop
    val gotDist = graft.operators.Dedup
      .connectedComponents(edges, driverEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist === want)
  }

  test("m5 dedup clusters partition the corpus; component = transitive closure") {
    val d = sf("sf0.001")
    val out = graft.operators.PipelineOps.queries("m5_dedup_clusters")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val corpus = Tables.documents(spark, d).count()
    assert(out.map(_._2).sum === corpus) // sizes partition the corpus
    out.foreach { case (cluster, _, rep) => assert(cluster === rep) } // min-id reps
    // transitive closure of the hamming<=3 graph, computed brute-force
    val sh = graft.operators.Dedup.queries("l2b_simhash")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map(sh.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for { (d1, h1) <- sh; (d2, h2) <- sh
          if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 3 } {
      val (r1, r2) = (find(d1), find(d2))
      if (r1 != r2) parent(math.max(r1, r2)) = math.min(r1, r2)
    }
    val wantSizes = sh.map(x => find(x._1)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val gotSizes = out.map(c => c._1 -> c._2).toMap
    assert(gotSizes === wantSizes)
  }

  /** Brute-force mirror of shingleJaccardTopK's semantics: distinct
    * word-3-gram sets, corpus-DF filter on the intersection side only,
    * FULL set sizes in the denominator, (jaccard desc, d1, d2) order.
    */
  private def bruteTopPairs(rows: Seq[(Long, String)], k: Int,
      maxDf: Int = 100): Seq[(Long, Long, Double)] = {
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val df = sets.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val kept = sets.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }
    val ids = rows.map(_._1).sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d1 = ids(i); d2 = ids(j)
      inter = (kept(d1) intersect kept(d2)).size
      if inter > 0
      jac = inter.toDouble / (sets(d1).size + sets(d2).size - inter)
    } yield (d1, d2, jac))
      .sortBy { case (d1, d2, j) => (-j, d1, d2) }.take(k)
  }

  test("l2d containment: boilerplate-wrapped doc is caught, jaccard misses it") {
    // doc 2 = doc 1's full text wrapped in heavy boilerplate: every
    // 3-gram of doc 1 appears in doc 2 (containment 1.0) while the
    // union is dominated by the wrapper (jaccard << 0.9 — l2c's
    // symmetric cut would never pair them)
    val inner = (1 to 30).map(i => s"body$i").mkString(" ")
    val wrapper =
      (1 to 120).map(i => s"nav$i").mkString(" ") + " " + inner + " " +
        (200 to 320).map(i => s"foot$i").mkString(" ")
    val rows = Seq(1L -> inner, 2L -> wrapper, 3L -> unrelated)
    val dir = freshDir("l2d_spec").toString
    docsDF(rows).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.containmentTopK(spark, dir, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.contains((1L, 2L, 1.0)), got.mkString(", "))
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L),
      "wrapper is NOT contained in the body — asymmetry must hold")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  private def runL2c(rows: Seq[(Long, String)], k: Int): Seq[(Long, Long, Double)] = {
    val dir = freshDir("l2c_spec").toString
    docsDF(rows).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.shingleJaccardTopK(spark, dir, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("l2c certificate path matches brute force (>= k pairs above T)") {
    // 25 near-identical docs (pairwise jaccard ~1) guarantee >= 20 pairs
    // >= 0.9, so the prefix-filter candidate top-k is certified exact
    val common = (1 to 50).map(i => s"w$i").mkString(" ")
    val rows = (1L to 25L).map(i => i -> s"$common tail$i a b") ++
      Seq(100L -> unrelated, 101L -> (200 to 240).map(i => s"z$i").mkString(" "))
    val got = runL2c(rows, 20)
    val want = bruteTopPairs(rows, 20)
    assert(got.map(p => (p._1, p._2)) === want.map(p => (p._1, p._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }

  test("l2c fallback path matches brute force (< k pairs above T)") {
    // every pair shares a 9-word prefix (7 common 3-grams, jaccard ~0.14)
    // then diverges: 66 candidate pairs, none near 0.9 — the certificate
    // fails and the exact full co-occurrence join produces the answer
    val prefix = (1 to 9).map(i => s"p$i").mkString(" ")
    val rows = (1L to 12L).map { i =>
      i -> (prefix + " " + (1 to 20).map(j => s"u${i}_$j").mkString(" "))
    }
    val got = runL2c(rows, 20)
    val want = bruteTopPairs(rows, 20)
    assert(want.nonEmpty && want.head._3 < 0.9) // really the fallback regime
    assert(got.size === want.size)
    assert(got.map(p => (p._1, p._2)) === want.map(p => (p._1, p._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }

  test("hot-shingle corpus: l2c matches brute force through the df drop (r9)") {
    // one boilerplate 3-gram planted in 120 docs — corpus DF >> maxDf=100,
    // exactly the input whose every occurrence the r8 window form shipped
    // to a single task before filtering. The partial-agg groupBy form must
    // drop it and still produce the brute-force answer (here: only the
    // planted near-dup pair survives the df filter with any overlap).
    val hot = "hot1 hot2 hot3"
    val rows: Seq[(Long, String)] =
      (1L to 120L).map(i =>
        i -> s"$hot h$i ${(1 to 12).map(j => s"u${i}_$j").mkString(" ")}") ++
        Seq(500L -> base, 501L -> nearDup)
    val got = runL2c(rows, 10)
    val want = bruteTopPairs(rows, 10)
    assert(want.nonEmpty && want.forall { case (d1, d2, _) => d1 >= 500L && d2 >= 500L },
      "fixture broken: only the planted pair should survive the df filter")
    assert(got.map(p => (p._1, p._2)) === want.map(p => (p._1, p._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }

  test("l2d candidate prefix covers containment exactly at t (integer prefix law, r9)") {
    // kept(a) has exactly 10 shingles, 9 of them inside b → C(a→b) = 0.9,
    // the threshold itself. The prefix must then be 10 − ⌈0.9·10⌉ + 1 = 2
    // elements; the float form ⌊10·(1−0.9)⌋+1 evaluated to 1 (0.0999…98)
    // and the single rarest shingle (a10 a11 a12, df=1, NOT in b) missed
    // the candidate join while verify and the oracle both accept the pair
    // (ADVICE r8 medium).
    val aToks = (1 to 12).map(i => s"a$i")
    val a = aToks.mkString(" ")
    val b = (aToks.take(11) ++ (1 to 30).map(i => s"f$i")).mkString(" ")
    val rows = Seq(1L -> a, 2L -> b, 3L -> unrelated)
    val dir = freshDir("l2d_edge").toString
    docsDF(rows).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.containmentTopK(spark, dir, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.contains((1L, 2L, 0.9)), got.mkString(", "))
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L), "b is not contained in a")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("lshCandidatesFromSig: exact below the window; hot buckets keep pairing (r9)") {
    import spark.implicits._
    // (a) random 16-long signatures in small planted groups: every pair
    // sharing at least one 4-slice band must be emitted — the kernel is
    // the all-pairs band-collision definition while buckets fit the ring
    val rnd = new scala.util.Random(11)
    val sigs = (0 until 30).flatMap { g =>
      val bse = Array.fill(16)(rnd.nextLong())
      (0 until 4).map { j =>
        val s = bse.clone()
        // perturb one band so in-group pairs share only SOME bands
        s(rnd.nextInt(16)) = rnd.nextLong()
        (g * 4L + j) -> s.toSeq
      }
    }
    val df = sigs.toDF("doc_id", "sig")
    val got = Dedup.lshCandidatesFromSig(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bands(s: Seq[Long]) = (0 until 4).map(b => (b, s.slice(b * 4, b * 4 + 4)))
    val want = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs
      if d1 < d2 && bands(s1).intersect(bands(s2)).nonEmpty
    } yield (d1, d2)).toSet
    assert(got === want)
    // (b) hot bucket: 300 identical signatures blow past the ring — the
    // pair set is banded (bounded), but every doc except the min still
    // pairs with a smaller neighbor, so dedup removal survives (the r8
    // form dropped the bucket whole and emitted NOTHING)
    val hot = (0L until 300L).map(i => i -> Seq.fill(16)(7L))
    val pairs = Dedup.lshCandidatesFromSig(hot.toDF("doc_id", "sig")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length < 300 * 299 / 2, "hot bucket must not emit all pairs")
    assert(pairs.map(_._2).distinct.sorted === (1L until 300L).toArray,
      "every non-min doc must still pair with a smaller neighbor")
  }

  test("minhash dedup: identical-token-set docs never co-survive (set-cluster law, r9)") {
    // r9 find: signature-keyed clustering hid true dups behind colliding
    // reps — two docs with IDENTICAL distinct-token sets both survived.
    // The set-keyed first layer makes this impossible by construction;
    // assert it on the real fixture corpus (small vocab = collision-rich).
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"))) {
      val surv = Dedup.queries("l2_minhash_dedup")(spark, d)
      val dup = Dedup.docTokenSets(Tables.documents(spark, d))
        .join(surv.select("doc_id"), Seq("doc_id"))
        .select(xxhash64(col("toks")).as("k"))
        .groupBy("k").count().filter(col("count") > 1).count()
      assert(dup === 0, s"$d: identical-set survivors remain")
    }
  }

  test("l2e exact-threshold dedup matches brute force (r9)") {
    // base↔nearDup share 38 of 42 distinct tokens (j ≈ 0.905 ≥ 0.9 →
    // larger id removed); doc 4 duplicates unrelated exactly (removed);
    // doc 5 shares nothing (survives)
    val rows = Seq(1L -> base, 2L -> nearDup, 3L -> unrelated,
      4L -> unrelated, 5L -> (300 to 340).map(i => s"q$i").mkString(" "))
    val dir = freshDir("l2e_spec").toString
    docsDF(rows).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.jaccardDedup(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // brute-force reference over distinct string-token sets
    val sets = rows.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val ids = rows.map(_._1).sorted
    val want = ids.filter { b =>
      !ids.exists { a =>
        a < b && {
          val inter = (sets(a) intersect sets(b)).size.toDouble
          inter / (sets(a).size + sets(b).size - inter) >= 0.9
        }
      }
    }
    assert(got.toSeq === want)
  }

  test("lang-id picks the marker language on real text") {
    import spark.implicits._
    val samples = Seq(
      ("the cat is on the mat and the dog", "en"),
      ("el perro de la casa que los gatos una", "es"),
      ("le chat est dans les maisons des une", "fr"),
      ("der hund ist ein und das haus", "de"),
      ("我 不 是 在 了 的", "zh"))
    val got = samples.map(_._1).toDF("text")
      .select(TextAnalysis.langIdCol(col("text")).as("lang"))
      .collect().map(_.getString(0)).toSeq
    assert(got === samples.map(_._2))
  }

  test("policy-oracle twins match their real entries (l2g≡l2, l2h≡l2b2, m5b≡m5)") {
    // l2g/l2h/m5b hash-check the REMOVAL/CLUSTERING policy cross-engine
    // from a dumped pair set (VERDICT r9 next #4); this ties them back:
    // the twin must reproduce the real entry's survivors/clusters
    // exactly, so a drift between the dump and the production path
    // can't pass unnoticed either.
    val d = sf("sf0.001")
    def ids(name: String) =
      graft.SparkEntry.queries(name)(spark, d)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids("l2g_minhash_policy") === ids("l2_minhash_dedup"))
    assert(ids("l2h_simhash_policy") === ids("l2b2_simhash_dedup"))
    def clusters(name: String) =
      graft.SparkEntry.queries(name)(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(clusters("m5b_cluster_policy") === clusters("m5_dedup_clusters"))
    // r17: l24b (the linear-oracle dump twin) must reproduce l24's
    // overlap matrix exactly — same pairs, same labels, same counts
    def matrix(name: String) =
      graft.SparkEntry.queries(name)(spark, d)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(matrix("l24b_overlap_matrix_dump") === matrix("l24_cross_source_overlap"))
  }

  test("l16 line dedup drops only segments shared by >= 3 docs, rebuilds in order (L16)") {
    import spark.implicits._
    // 4-word segments; "a b c d" appears in 3 docs (dropped), "x y z w"
    // in 2 (kept); doc 4 is pure boilerplate and survives as ''
    val docs = Seq(
      (1L, "a b c d x y z w p q r s"),
      (2L, "k l m n a b c d"),
      (3L, "x y z w u v"),
      (4L, "a b c d"),
      (5L, "a b c e")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(docs, segWords = 4, maxDf = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("x y z w p q r s", 2L))) // dropped head, order kept
    assert(out(2L) === (("k l m n", 1L)))
    assert(out(3L) === (("x y z w u v", 2L)))    // df=2 segment survives
    assert(out(4L) === (("", 0L)))               // fully boilerplate
    assert(out(5L) === (("a b c e", 1L)))        // near-miss segment kept
  }
}
