package graft.operators

import graft.Tables
import graft.Tables.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search (SURVEY.md §2B L3/L4 + ANN scale path).
  *
  * Numerics: cosine is computed in DOUBLE with an explicit left-to-right
  * fold (`aggregate(zip_with(...))`) and mirrored term-for-term in the
  * DuckDB oracle (`list_dot_product` over `DOUBLE[]` casts), then rounded
  * to 6dp *before* ranking so both engines rank identical values —
  * cross-engine float drift can't flip a top-k boundary.
  *
  * Scale: no query entry reaches a CartesianProduct or an unbounded
  * driver-side collect. Exact top-k is corpus-size-gated ([[exactTopK]]:
  * broadcast kernel under the gate, block-pair equi-join above it);
  * the exact threshold join prunes cell pairs with a triangle-inequality
  * bound ([[thresholdJoin]]); the sublinear paths are the LSH (l3b) and
  * IVF (l3c) ANN variants, whose cost is bounded by bucket/list
  * occupancy — every join is an equi-shuffle on a bucket key.
  */
object Similarity {

  private def dotCol(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotProduct(a, b)

  /** (vec_id, emb ARRAY<DOUBLE>, norm DOUBLE) */
  def vecs(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("emb"))
      .withColumn("norm", sqrt(dotCol(col("emb"), col("emb"))))

  /** All-pairs cosine (a.vec_id, b.vec_id, sim rounded to 6dp).
    *
    * O(n²) cross join — spec-only reference implementation used to
    * cross-check [[thresholdJoin]] and the ANN recall specs. NOT wired
    * into any `queries` entry: the production threshold path is the
    * cell-pruned [[thresholdJoin]] and the production top-k path is
    * [[exactTopK]].
    */
  def pairSims(embeddings: DataFrame): DataFrame = {
    val a = vecs(embeddings).select(col("vec_id").as("id_a"), col("emb").as("ea"), col("norm").as("na"))
    val b = vecs(embeddings).select(col("vec_id").as("id_b"), col("emb").as("eb"), col("norm").as("nb"))
    a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
  }

  /** Deterministic random hyperplanes for the LSH signatures: enough
    * for `tables × bits` sign tests at 64 dims (seeded — reruns and the
    * recall spec see identical buckets).
    */
  private def planes(n: Int): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(n)(Seq.fill(64)(rng.nextGaussian()))
  }

  /** One embedding row for the broadcast kernel (public: Catalyst's
    * generated deserializer can't touch private classes).
    */
  case class VecRow(vec_id: Long, emb: Array[Double], norm: Double)
  /** One LSH signature row: table id, bucket id, vector id. */
  case class Sig(t: Int, bucket: Int, vec_id: Long)
  case class Scored(vec_id: Long, neighbor: Long, sim: Double, rn: Int)
  /** A vector tagged with its IVF list (cogroup key). */
  case class ListedVec(list: Int, vec_id: Long, emb: Array[Double], norm: Double)
  case class Hit(vec_id: Long, neighbor: Long, sim: Double)

  /** Brute-force exact top-k, broadcast-side design: the candidate corpus
    * (small side — an index that must fit in executor memory for ANY
    * brute-force scheme) is broadcast once; queries stream through
    * mapPartitions, each partition scanning the shared primitive arrays.
    * No 4M-row cross join materializing two 512-byte arrays per pair —
    * that array copying, not the FLOPs, dominated the naive plan
    * (31 s → ~1 s at sf0.1). Ranking matches the SQL oracle: rounded sim
    * desc, neighbor id asc.
    */
  def bruteTopK(embeddings: DataFrame, k: Int): DataFrame =
    bruteTopKAgainst(embeddings, embeddings, k)

  /** Exact top-k of CANDIDATES for every QUERY vector — the asymmetric
    * form [[bruteTopK]] is the self-join special case of. This is the
    * vector-database "filtered search" primitive: the candidate side is
    * typically a metadata-filtered subset (lang, license, date), which
    * makes it the SMALLER side — broadcast it, fan the queries out.
    * Filter-then-search, not search-then-filter: post-filtering a
    * full-corpus top-k returns fewer than k (possibly zero) survivors
    * under a selective predicate, the classic filtered-ANN bug.
    *
    * BROADCAST KERNEL ONLY — the candidate collect is unbounded here,
    * so production entries go through [[topKAgainst]], which gates this
    * kernel on the candidate side's plan statistics and falls back to
    * the block-pair equi-join ([[blockTopKAgainst]]) when the filtered
    * side can't be proven index-sized (a weakly-selective metadata
    * filter — lang='en' is ~half a real web corpus — would otherwise
    * broadcast a corpus-sized side: VERDICT r12 finding 1).
    */
  private[graft] def bruteTopKAgainst(queries: DataFrame, candidates: DataFrame,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val v = vecs(queries)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val bc = spark.sparkContext.broadcast(vecs(candidates)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow].collect())
    // HALF_UP (away from zero) at 6dp without per-pair BigDecimal churn —
    // same convention as Spark's round() and DuckDB's round().
    def round6(x: Double): Double =
      math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
    // fanOut: the probe side does n·|corpus| dot products; a one-split
    // fixture file would run them on ONE task (measured: 28 s serial at
    // the sf1 scale run vs ~3 s fanned out) — same guard annTopK carries.
    Tables.fanOut(v.toDF(), col("vec_id")).as[VecRow].mapPartitions { qs =>
      val cand = bc.value
      qs.flatMap { q =>
        val best = new java.util.ArrayList[(Double, Long)](k + 1)
        var i = 0
        while (i < cand.length) {
          val c = cand(i)
          if (c.vec_id != q.vec_id) {
            var dot = 0.0
            var j = 0
            val n = math.min(q.emb.length, c.emb.length)
            while (j < n) { dot += q.emb(j) * c.emb(j); j += 1 }
            val sim = round6(dot / (q.norm * c.norm))
            // insert into the running top-k (sim desc, id asc)
            var pos = best.size()
            while (pos > 0 && {
              val (ps, pid) = best.get(pos - 1)
              ps < sim || (ps == sim && pid > c.vec_id)
            }) pos -= 1
            if (pos < k) {
              best.add(pos, (sim, c.vec_id))
              if (best.size() > k) best.remove(k)
            }
          }
          i += 1
        }
        (0 until best.size()).map { r =>
          val (s, id) = best.get(r)
          Scored(q.vec_id, id, s, r + 1)
        }
      }
    }.toDF("vec_id", "neighbor", "sim", "rn")
  }

  val queries: Map[String, Q] = Map(
    // L3: exact cosine top-5 neighbors per vector. Corpus-size-gated:
    // broadcast kernel for index-sized corpora, block-pair equi-join
    // beyond that — no unbounded driver collect on either path.
    "l3_cosine_topk" -> ((s, d) => exactTopK(Tables.embeddings(s, d), 5)),

    // L4: similarity self-join with threshold (unordered pairs) — exact
    // via IVF cells + triangle-inequality cell-pair pruning; the plan is
    // broadcast + equi-joins, never a CartesianProduct (PlanSpec asserts).
    "l4_cosine_threshold" -> ((s, d) => {
      thresholdJoin(Tables.embeddings(s, d), 0.45)
        .select(col("id_a"), col("id_b"), col("sim"))
    }),

    // L3E: INCREMENTAL INDEX MAINTENANCE — how a 100 TB ANN index
    // actually lives: the coarse quantizer is trained ONCE on the
    // standing corpus and FROZEN; each day's delta embeddings are
    // assigned to existing cells by nearest-centroid (one broadcast +
    // one map pass — no retraining, no all-pairs anything), and the
    // index grows by appending the delta's postings. This entry is the
    // assignment step's dump-and-recompute oracle (the l2g pattern
    // applied to ANN): the engine dumps the frozen centroids to
    // parquet, assigns the delta (vec_id % 10 — ~10% of the corpus),
    // and DuckDB recomputes every assignment from the dumped centroids
    // (argmax cosine, exact-tie → smaller cell) — hash-checked, so the
    // quantizer-application math the whole IVF family rides (l3c's
    // search probes the same cells) faces a cross-engine check.
    "l3e_incremental_index" -> ((s, d) =>
      incrementalIndex(Tables.embeddings(s, d))),

    // L12: SemDeDup — cluster-scoped semantic dedup over the embedding
    // space (vs l4b's exact global near-dup removal). Seeded k-means,
    // not SQL-expressible → rows-only + planted-duplicate spec
    // (SimilaritySpec pins min-id-survives and cluster-scoping laws).
    "l12_semdedup" -> ((s, d) =>
      semDedup(Tables.embeddings(s, d), 0.45)
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")),

    // L12b: removal-POLICY oracle for SemDeDup (VERDICT r10 next #2 —
    // the last dedup-family entry with no cross-engine check; same
    // dump-and-recompute pattern as l2g/l2h/m5b). The engine dumps the
    // full within-cluster cosine-≥τ edge graph, then recomputes the
    // greedy min-id-first removal set FROM THAT DUMP; the DuckDB oracle
    // recomputes the same removals from the same dump via a
    // synchronous-fixpoint recursive CTE (the greedy kept set is the
    // UNIQUE fixpoint of kept(v) = "no kept smaller neighbor" on the
    // id-ordered DAG, reached in ≤ max-chain-depth rounds), so any
    // drift in the greedy policy — or in the edge graph itself —
    // breaks the hash. Candidate/cluster quality stays spec-owned
    // (SimilaritySpec); the spec additionally pins l12b's survivor set
    // ≡ l12's.
    "l12b_semdedup_policy" -> ((s, d) => {
      val path = Dedup.policyDumpPath("l12b_edges")
      semClusterEdges(Tables.embeddings(s, d), 0.45)
        .write.mode("overwrite").parquet(path) // multi-part ok: the oracle globs *.parquet
      val removed = greedyRemovedFromEdges(s.read.parquet(path))
      Tables.embeddings(s, d).join(removed, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),

    // L3b: ANN — random-hyperplane LSH buckets, then exact top-3 within
    // bucket. Not SQL-expressible (seeded hyperplanes) → rows-only +
    // recall spec against the l3 baseline.
    // L3F: METADATA-FILTERED exact top-k (r12; gate r13) — every
    // vector's 3 nearest neighbors among ONLY the English documents'
    // embeddings (the vector-database "filtered search" pattern:
    // restrict by lang/license/date, then search). Filter-then-search
    // semantics — see bruteTopKAgainst's scaladoc for why
    // post-filtering a full-corpus top-k is wrong. The candidate side
    // is a LEFT SEMI join so its plan statistics carry the corpus
    // upper bound, and topKAgainst's gate broadcasts only when that
    // bound fits an in-memory index — a weakly-selective filter can no
    // longer force a corpus-sized broadcast (VERDICT r12 finding 1).
    "l3f_filtered_topk" -> ((s, d) => {
      val en = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      topKAgainst(Tables.embeddings(s, d),
        Tables.embeddings(s, d).join(en, Seq("vec_id"), "left_semi"), 3)
    }),

    "l3b_ann_lsh" -> ((s, d) => annTopK(Tables.embeddings(s, d), 3)),

    // L3c: IVF ANN — learned coarse quantizer + probed exact re-rank.
    // Seeded/deterministic but not SQL-expressible → rows-only + recall
    // spec against the brute-force baseline.
    "l3c_ann_ivf" -> ((s, d) => ivfTopK(Tables.embeddings(s, d), 3)),

    // L4b: embedding-cosine near-dup REMOVAL — of each pair with cosine
    // ≥ 0.45 (fixture max is ~0.51; a real corpus would use ~0.95),
    // drop the larger vec_id; survivors keep deterministic min-id
    // representatives. Pair source is the cell-pruned exact
    // [[thresholdJoin]] — same results as all-pairs, no cartesian.
    "l4b_embedding_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val removed = thresholdJoin(emb, 0.45)
        .select(col("id_b").as("vec_id")).distinct()
      emb.join(removed, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),

    // L4C (r17): l4b's LINEAR-ORACLE dump twin (VERDICT r16 item 8) —
    // l4b's oracle recomputes the ≥0.45 pair set with an all-pairs
    // cosine join, quadratic in the embedding corpus (one of the three
    // pinned members excluded from the sf1 DuckDB denominator:
    // >80 CPU-minutes unfinished at sf1). The twin moves the hash to
    // the l2g/l12b policy-dump pattern: the engine dumps its verified
    // id pairs (integers — no float drift surface) and BOTH engines
    // recompute the drop-the-larger-id survivors FROM THE DUMP, linear
    // in |pairs| + |vectors|, so the sf1 spot-gate hashes this row
    // where l4b's oracle cannot run. Pair completeness itself stays
    // pinned by l4b at gate scale; SimilaritySpec pins l4c ≡ l4b.
    "l4c_embedding_dedup_policy" -> ((s, d) => {
      val path = graft.operators.Dedup.policyDumpPath("l4c_pairs")
      val emb = Tables.embeddings(s, d)
      thresholdJoin(emb, 0.45).select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(path)
      val removed = s.read.parquet(path)
        .select(col("id_b").as("vec_id")).distinct()
      emb.join(removed, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    })
  )

  // -- shared primitive-array kernels (object-level statics: no closure
  //    capture, reused by the quantizer, assignment, and probe stages)
  private[operators] def cosine(a: Array[Double], na: Double, c: Array[Double], nc: Double): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, c.length)
    while (i < n) { d += a(i) * c(i); i += 1 }
    d / (na * nc)
  }
  private def normOf(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  /** Deterministic mini-kmeans coarse quantizer, trained driver-side on a
    * bounded deterministic sample (first `nlist*trainPerList` rows by
    * vec_id — kmeans needs a sample, not the corpus, so this holds at any
    * scale). Returns (centroids, centroid norms).
    */
  private[operators] def trainQuantizer(v: org.apache.spark.sql.Dataset[VecRow],
      nlist: Int, iters: Int, trainPerList: Int): Option[(Array[Array[Double]], Array[Double])] = {
    val train = v.orderBy(col("vec_id")).limit(nlist * trainPerList).collect()
    if (train.isEmpty) return None // empty corpus: no quantizer to fit
    var centroids = Array.tabulate(nlist)(i =>
      train((i.toLong * train.length / nlist).toInt).emb.clone())
    var cNorms = centroids.map(normOf)
    for (_ <- 0 until iters) {
      val dim = centroids(0).length
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      train.foreach { r =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < nlist) {
          val s = cosine(r.emb, r.norm, centroids(c), cNorms(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += r.emb(j); j += 1 }
      }
      centroids = Array.tabulate(nlist)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else centroids(c))
      cNorms = centroids.map(normOf)
    }
    Some((centroids, cNorms))
  }

  /** l3e kernel: train the quantizer on the standing corpus (vec_id %
    * 10 ≠ 0), dump it, assign the delta (vec_id % 10 = 0) to frozen
    * cells. Assignment = argmax raw cosine with first-cell-wins on
    * exact ties (the oracle's DESC-then-cell-ASC rank is the same
    * rule); both engines evaluate the identical left-to-right dot /
    * (‖a‖·‖c‖) expression over the identical parquet doubles, so the
    * raw argmax agrees bit-for-bit and only the REPORTED sim is
    * rounded (the l3 6-dp float convention).
    */
  private[graft] def incrementalIndex(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val standing = vecs(embeddings.filter(col("vec_id") % 10 =!= 0))
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val trained = trainQuantizer(standing, nlist = 16, iters = 5,
      trainPerList = 64)
    if (trained.isEmpty) return emptyHits(spark)
    val (centroids, cNorms) = trained.get
    val path = Dedup.policyDumpPath("l3e_centroids")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val bcC = spark.sparkContext.broadcast((centroids, cNorms))
    vecs(embeddings.filter(col("vec_id") % 10 === 0))
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
      .mapPartitions { it =>
        val (cs, ns) = bcC.value
        it.map { r =>
          var best = 0; var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val s = cosine(r.emb, r.norm, cs(c), ns(c))
            if (s > bestSim) { bestSim = s; best = c }
            c += 1
          }
          (r.vec_id, best, bestSim)
        }
      }
      .toDF("vec_id", "cell", "sim")
      .select(col("vec_id"), col("cell"), round(col("sim"), 6).as("sim"))
  }

  private def emptyHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double, Int)].toDF("vec_id", "neighbor", "sim", "rn")
  }

  /** Broadcast threshold kernel for index-sized corpora — the
    * [[thresholdJoin]] analogue of [[bruteTopK]]: the corpus is
    * broadcast once as primitive arrays, probes stream through
    * mapPartitions emitting each qualifying unordered pair exactly once
    * (candidate id > probe id — no distinct pass needed). One job, no
    * quantizer training / radii collect / cache materialization — the
    * five sequential driver jobs the cell path pays before its first
    * executor task, which dominate index-sized inputs.
    */
  private def bruteThreshold(embeddings: DataFrame, minSim: Double): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = vecs(embeddings)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val bc = spark.sparkContext.broadcast(v.collect())
    def round6(x: Double): Double =
      math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
    // fanOut: n·|corpus| dot products on a one-split fixture file would
    // run on ONE task — same guard bruteTopK carries.
    Tables.fanOut(v.toDF(), col("vec_id")).as[VecRow].mapPartitions { qs =>
      val cand = bc.value
      qs.flatMap { q =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
        var i = 0
        while (i < cand.length) {
          val c = cand(i)
          if (c.vec_id > q.vec_id) {
            var dot = 0.0; var j = 0
            val n = math.min(q.emb.length, c.emb.length)
            while (j < n) { dot += q.emb(j) * c.emb(j); j += 1 }
            val sim = round6(dot / (q.norm * c.norm))
            if (sim >= minSim) out += Hit(q.vec_id, c.vec_id, sim)
          }
          i += 1
        }
        out
      }
    }.toDF()
      .select(col("vec_id").as("id_a"), col("neighbor").as("id_b"), col("sim"))
  }

  /** Production exact-threshold entry: broadcast kernel when the corpus
    * fits an in-memory index, the cell-pruned join beyond that — the
    * same plan-time statistics gate as [[exactTopK]] (bytes/64 only ever
    * OVER-estimates rows, erring toward the distributed path; both paths
    * are exact, so a misestimate costs efficiency, never correctness).
    */
  def thresholdJoin(embeddings: DataFrame, minSim: Double, nlist: Int = 16,
      iters: Int = 5, trainPerList: Int = 64,
      broadcastLimit: Long = 2000000L): DataFrame = {
    val stats = embeddings.queryExecution.optimizedPlan.stats
    val n = stats.rowCount.map(_.toLong)
      .getOrElse(stats.sizeInBytes.toLong / 64L)
    if (n <= broadcastLimit) bruteThreshold(embeddings, minSim)
    else cellThresholdJoin(embeddings, minSim, nlist, iters, trainPerList)
  }

  /** Exact cosine-threshold self-join WITHOUT a cartesian: IVF cells +
    * triangle-inequality cell-pair pruning.
    *
    * Every vector joins its nearest coarse-quantizer cell; each cell's
    * radius r_c is the max distance from a member (unit-normalized) to
    * the centroid. For unit vectors cos(x,y) ≥ t ⇔ ‖x̂−ŷ‖ ≤ √(2−2t), and
    * by the triangle inequality a pair in cells (c1,c2) has
    * ‖x̂−ŷ‖ ≥ ‖c1−c2‖ − r1 − r2, so any cell pair violating the bound
    * provably contains no qualifying pair and is skipped. Surviving cell
    * pairs (≤ nlist² rows, computed driver-side from nlist radii) drive
    * two broadcast joins plus one equi-join on the cell-pair id — a
    * shuffled hash/sort-merge join, never a CartesianProduct. Exactness
    * does NOT depend on quantizer quality: a bad clustering only weakens
    * pruning. On clustered real corpora cost approaches
    * Σ_admissible |c1|·|c2| instead of n²; worst case degrades to
    * distributed exact with bounded task memory.
    */
  def cellThresholdJoin(embeddings: DataFrame, minSim: Double, nlist: Int = 16,
      iters: Int = 5, trainPerList: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = vecs(embeddings)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val trained = trainQuantizer(v, nlist, iters, trainPerList)
    if (trained.isEmpty) // empty corpus: no pairs by definition
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "sim")
    val (centroids, cNorms) = trained.get
    val bcC = spark.sparkContext.broadcast((centroids, cNorms))
    val assigned = v.mapPartitions { it =>
      val (cs, ns) = bcC.value
      it.map { r =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val s = cosine(r.emb, r.norm, cs(c), ns(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        // ‖x̂ − c‖ for the unit-normalized member: √(1 + ‖c‖² − 2·sim·‖c‖)
        val d = math.sqrt(math.max(0.0,
          1.0 + ns(best) * ns(best) - 2.0 * bestSim * ns(best)))
        (best, d, r.vec_id, r.emb, r.norm)
      }
    }.toDF("cell", "cdist", "vec_id", "emb", "norm").cache()
    // per-cell radii: one aggregate, ≤ nlist rows to the driver (bounded)
    val radii = Array.fill(nlist)(0.0)
    assigned.groupBy(col("cell")).agg(max(col("cdist")).as("r"))
      .collect().foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    val dTau = math.sqrt(math.max(0.0, 2.0 - 2.0 * minSim)) + 1e-9
    def cdist(i: Int, j: Int): Double = {
      val a = centroids(i); val b = centroids(j)
      var s = 0.0; var k = 0
      while (k < a.length) { val d = a(k) - b(k); s += d * d; k += 1 }
      math.sqrt(s)
    }
    val admissible = for {
      i <- 0 until nlist; j <- i until nlist
      if cdist(i, j) - radii(i) - radii(j) <= dTau
    } yield (i, j, i * nlist + j)
    // each cell's pair-id roles, shipped as a broadcast map: cell →
    // (pids where it is the A side, pids where it is the B side)
    val aRoles = admissible.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._3) }
    val bRoles = admissible.groupBy(_._2).map { case (c, ps) => c -> ps.map(_._3) }
    val bcRoles = spark.sparkContext.broadcast((aRoles, bRoles))
    val typed = assigned
      .select(col("cell"), col("vec_id"), col("emb"), col("norm"))
      .withColumnRenamed("cell", "list").as[ListedVec]
    val aSide = typed.mapPartitions { it =>
      val (ar, _) = bcRoles.value
      it.flatMap(x => ar.getOrElse(x.list, Nil)
        .map(pid => ListedVec(pid, x.vec_id, x.emb, x.norm)))
    }
    val bSide = typed.mapPartitions { it =>
      val (_, br) = bcRoles.value
      it.flatMap(x => br.getOrElse(x.list, Nil)
        .map(pid => ListedVec(pid, x.vec_id, x.emb, x.norm)))
    }
    // cogroup per admissible cell pair: build the A block once, stream
    // the B side through a primitive kernel, emit ONLY pairs at/above
    // the threshold. (A DataFrame equi-join on the pair id materializes
    // every candidate pair with both embedding arrays attached — pure
    // memcpy; the cogroup ships each vector once per role instead.)
    val survivors = aSide.groupByKey(_.list).cogroup(bSide.groupByKey(_.list)) {
      (_, as, bs) =>
        val aArr = as.toArray
        bs.flatMap { q =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Hit]
          var i = 0
          while (i < aArr.length) {
            val c = aArr(i)
            if (c.vec_id != q.vec_id) {
              var dot = 0.0; var j = 0
              val n = math.min(q.emb.length, c.emb.length)
              while (j < n) { dot += q.emb(j) * c.emb(j); j += 1 }
              val raw = dot / (q.norm * c.norm)
              // HALF_UP at 6dp, same convention as the SQL oracle's round()
              val sim = math.signum(raw) * math.floor(math.abs(raw) * 1e6 + 0.5) / 1e6
              if (sim >= minSim)
                out += Hit(math.min(c.vec_id, q.vec_id),
                  math.max(c.vec_id, q.vec_id), sim)
            }
            i += 1
          }
          out
        }
    }
    survivors.toDF()
      .select(col("vec_id").as("id_a"), col("neighbor").as("id_b"), col("sim"))
      .distinct() // same-cell pairs arrive in both orientations
  }

  /** L12 kernel: SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540) — k-means-cluster the embedding space with the
    * same coarse quantizer the IVF index trains, then WITHIN each
    * cluster greedily drop every vector whose cosine to an already-kept
    * smaller-vec_id member is ≥ `minSim`. Cross-cluster near-dups are
    * out of scope BY CONSTRUCTION — that is the algorithm's contract
    * (and why it scales): the paper runs k ∝ n so cluster occupancy
    * stays O(1) and the per-cluster quadratic never grows; the exact
    * alternative is l4b's triangle-pruned [[thresholdJoin]]. Each
    * cluster is one task (groupByKey on the cell id — an equi-shuffle);
    * the greedy scan holds only the KEPT prefix in memory, ≤ occupancy,
    * the same bound the IVF cogroup kernel already assumes. Seeded
    * quantizer → deterministic; keep-min-id → order-independent output.
    */
  /** Assign every vector to its nearest coarse-quantizer cell (the
    * cluster key semDedup and its l12b policy twin group by). None on
    * an empty corpus.
    */
  private def cellAssign(v: org.apache.spark.sql.Dataset[VecRow], nlist: Int,
      iters: Int, trainPerList: Int): Option[org.apache.spark.sql.Dataset[ListedVec]] = {
    implicit val enc: org.apache.spark.sql.Encoder[ListedVec] =
      org.apache.spark.sql.Encoders.product[ListedVec]
    trainQuantizer(v, nlist, iters, trainPerList).map { t =>
      val bcC = v.sparkSession.sparkContext.broadcast(t)
      v.mapPartitions { it =>
        val (cs, ns) = bcC.value
        it.map { r =>
          var best = 0; var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val s = cosine(r.emb, r.norm, cs(c), ns(c))
            if (s > bestSim) { bestSim = s; best = c }
            c += 1
          }
          ListedVec(best, r.vec_id, r.emb, r.norm)
        }
      }
    }
  }

  def semDedup(embeddings: DataFrame, minSim: Double = 0.45, nlist: Int = 16,
      iters: Int = 5, trainPerList: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = vecs(embeddings)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val assignedOpt = cellAssign(v, nlist, iters, trainPerList)
    if (assignedOpt.isEmpty) // empty corpus: nothing to keep or drop
      return Seq.empty[(Long, Int)].toDF("vec_id", "cell")
    assignedOpt.get.groupByKey(_.list).flatMapGroups { (cell, it) =>
      val members = it.toArray.sortBy(_.vec_id)
      val kept = scala.collection.mutable.ArrayBuffer.empty[ListedVec]
      members.foreach { m =>
        val dup = kept.exists { k =>
          var dot = 0.0; var j = 0
          val n = math.min(m.emb.length, k.emb.length)
          while (j < n) { dot += m.emb(j) * k.emb(j); j += 1 }
          dot / (m.norm * k.norm) >= minSim
        }
        if (!dup) kept += m
      }
      kept.map(k => (k.vec_id, cell))
    }.toDF("vec_id", "cell")
  }

  /** l12b support: the FULL within-cluster similarity graph at ≥
    * `minSim` — every pair (src < dst by vec_id) in the same quantizer
    * cell with cosine ≥ minSim, tagged with its cell. The dot/norm
    * arithmetic runs in the same accumulation order as [[semDedup]]'s
    * kept-prefix scan (elementwise products over the ascending dim
    * index; IEEE multiplication commutes bit-exactly), so an edge
    * exists exactly where semDedup's lazy scan would have compared ≥
    * minSim. Per-cell cost is occupancy² sims — the same class as the
    * greedy scan's worst case, bounded because SemDeDup runs k ∝ n
    * (occupancy O(1)); this is an audit query, cost documented like
    * l2g's.
    */
  def semClusterEdges(embeddings: DataFrame, minSim: Double = 0.45,
      nlist: Int = 16, iters: Int = 5, trainPerList: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = vecs(embeddings)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    cellAssign(v, nlist, iters, trainPerList) match {
      case None => Seq.empty[(Int, Long, Long)].toDF("cell", "src", "dst")
      case Some(assigned) =>
        assigned.groupByKey(_.list).flatMapGroups { (cell, it) =>
          val members = it.toArray.sortBy(_.vec_id)
          for {
            j <- members.indices.iterator.drop(1)
            i <- (0 until j).iterator
            if {
              val (a, b) = (members(j), members(i))
              var dot = 0.0; var t = 0
              val n = math.min(a.emb.length, b.emb.length)
              while (t < n) { dot += a.emb(t) * b.emb(t); t += 1 }
              dot / (a.norm * b.norm) >= minSim
            }
          } yield (cell, members(i).vec_id, members(j).vec_id)
        }.toDF("cell", "src", "dst")
    }
  }

  /** l12b support: replay the greedy min-id-first removal policy from a
    * dumped edge set alone — vertex v is removed iff it has an
    * in-neighbor (smaller id, sim ≥ τ) that was KEPT; vertices absent
    * from the edge set are trivially kept and need not appear. Grouped
    * by cell (edges never cross cells), so per-task state is one
    * cluster's edges — occupancy² longs, the same O(1)-occupancy bound
    * the semDedup kernel assumes.
    */
  def greedyRemovedFromEdges(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("cell").cast(IntegerType), col("src"), col("dst"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1).flatMapGroups { (_, it) =>
        val inAdj = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        val ids = scala.collection.mutable.SortedSet.empty[Long]
        it.foreach { case (_, s0, d0) =>
          inAdj.getOrElseUpdate(d0,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += s0
          ids += s0; ids += d0
        }
        val kept = scala.collection.mutable.HashSet.empty[Long]
        val removed = scala.collection.mutable.ArrayBuffer.empty[Long]
        ids.foreach { v =>
          if (inAdj.get(v).exists(_.exists(kept.contains))) removed += v
          else kept += v
        }
        removed
      }.toDF("vec_id")
  }

  /** Exact top-k for corpora too large to broadcast: block-pair
    * equi-join. Both sides hash into nBlocks buckets; every
    * (query-block, candidate-block) id drives a shuffled equi-join, so
    * the n² pair evaluations spread across the cluster with bounded task
    * memory and zero driver materialization (contrast [[bruteTopK]]'s
    * broadcast index). Still O(n²) compute — that is what exact
    * all-corpus top-k costs; this bounds memory, not work. For sublinear
    * work use the ANN paths ([[annTopK]]/[[ivfTopK]]).
    */
  def blockTopK(embeddings: DataFrame, k: Int, nBlocks: Int = 16): DataFrame =
    blockTopKAgainst(embeddings, embeddings, k, nBlocks)

  /** Asymmetric block-pair form: exact top-k of CANDIDATES for every
    * QUERY vector when the candidate side is too large to broadcast —
    * [[blockTopK]] is the self-join special case. Both sides hash into
    * nBlocks buckets; every (query-block, candidate-block) id drives a
    * shuffled equi-join with bounded task memory (see [[blockTopK]]'s
    * scaladoc). This is [[topKAgainst]]'s above-the-gate arm.
    */
  def blockTopKAgainst(queries: DataFrame, candidates: DataFrame, k: Int,
      nBlocks: Int = 16): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    def blocked(df: DataFrame): DataFrame = vecs(df)
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast(IntegerType))
    val pairIds = (for { i <- 0 until nBlocks; j <- 0 until nBlocks }
      yield (i, j, i * nBlocks + j)).toDF("ba", "bb", "pid")
    val a = blocked(queries).join(broadcast(pairIds), col("blk") === col("ba"))
      .select(col("pid"), col("vec_id").as("ia"), col("emb").as("ea"), col("norm").as("na"))
    val b = blocked(candidates).join(broadcast(pairIds), col("blk") === col("bb"))
      .select(col("pid"), col("vec_id").as("ib"), col("emb").as("eb"), col("norm").as("nb"))
    // partial top-k aggregation instead of a window: the TopK Aggregator
    // keeps k candidates per query map-side, so the shuffle after the
    // pair join carries n·k rows, not every candidate sim — the window
    // formulation re-shuffles the whole n² candidate set.
    val topkAgg = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    a.join(b, "pid").filter(col("ia") =!= col("ib"))
      .select(col("ia").as("vec_id"), col("ib").as("neighbor"),
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
      .groupBy(col("vec_id")).agg(topkAgg(col("sim"), col("neighbor")).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col._2").as("neighbor"),
        col("col._1").as("sim"), (col("pos") + 1).cast(IntegerType).as("rn"))
  }

  /** Production exact-top-k entry: the broadcast kernel when the corpus
    * fits an in-memory index (a BOUNDED collect — the gate guarantees it),
    * the block-partitioned join beyond that. No unbounded driver-side
    * materialization is reachable on either path.
    */
  def exactTopK(embeddings: DataFrame, k: Int,
      broadcastLimit: Long = 2000000L): DataFrame = {
    // Plan-time gate, not a per-invocation count job: Catalyst statistics
    // give an exact rowCount when the catalog has one (CBO/ANALYZE, or a
    // materialized in-memory relation) and the scan's file-listing byte
    // size otherwise. The byte fallback divides by 64 B/row — far below
    // any real (vec_id, embedding) row — so it only ever OVER-estimates
    // the row count and errs toward blockTopK, which is still exact,
    // just not broadcast. Strategy choice never affects the result, so a
    // misestimate costs efficiency, never correctness.
    val stats = embeddings.queryExecution.optimizedPlan.stats
    val n = clampedRowEstimate(stats)
    if (n <= broadcastLimit) bruteTopK(embeddings, k)
    else blockTopK(embeddings, k)
  }

  /** Production FILTERED-search entry: exact top-k of `candidates` for
    * every `queries` vector, gated on the CANDIDATE side's plan-time
    * statistics exactly like [[exactTopK]] — broadcast kernel when the
    * candidate index provably fits executor memory, block-pair
    * equi-join otherwise. Both arms are exact, so a misestimate costs
    * efficiency, never correctness.
    *
    * The gate's conservatism is the point (VERDICT r12 finding 1): a
    * metadata filter's selectivity is unknowable at plan time, so the
    * candidate plan should EXPRESS its upper bound. Build the filtered
    * side as `embeddings.join(ids, Seq("vec_id"), "left_semi")`: Catalyst
    * sizes a LeftSemi join by its LEFT side, i.e. the full corpus — the
    * true "filter can only shrink" bound — where an inner-join shape
    * would estimate the PRODUCT of the sides and spuriously force the
    * block path. Under the gate a weakly-selective filter (lang='en' at
    * ~half a web corpus) still broadcasts only if the WHOLE corpus
    * would; beyond it the block arm shuffles block pairs with bounded
    * task memory and zero driver materialization.
    */
  def topKAgainst(queries: DataFrame, candidates: DataFrame, k: Int,
      broadcastLimit: Long = 2000000L): DataFrame = {
    // session-conf override for the gate (ops dial + how the skew gate
    // forces the block arm through a normal query entry); an explicit
    // caller argument still applies when the conf is unset
    val limit = queries.sparkSession.conf
      .getOption("spark.graft.topk.broadcastLimit")
      .map(_.toLong).getOrElse(broadcastLimit)
    val stats = candidates.queryExecution.optimizedPlan.stats
    val n = clampedRowEstimate(stats)
    if (n <= limit) bruteTopKAgainst(queries, candidates, k)
    else blockTopKAgainst(queries, candidates, k)
  }

  /** Row estimate for the broadcast gates, overflow-safe: sizeInBytes is
    * a BigInt that estimate inflation can push past Long.MaxValue, and a
    * bare `.toLong` TRUNCATES (possibly negative), which would make
    * `n <= limit` spuriously true and pick the driver-collecting
    * broadcast arm for a corpus-sized side — the exact failure mode the
    * gates exist to prevent (ADVICE r13). Divide in BigInt, then clamp.
    */
  private def clampedRowEstimate(
      stats: org.apache.spark.sql.catalyst.plans.logical.Statistics): Long =
    stats.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse(
      (stats.sizeInBytes / 64).min(BigInt(Long.MaxValue)).toLong)

  /** ANN top-k via MULTI-TABLE, MULTI-PROBE random-hyperplane LSH
    * (public for specs): `tables` independent `bits`-bit signatures; a
    * pair is a candidate when a query PROBE co-buckets with a candidate
    * signature in ANY table, deduped once, then exact-cosine scored and
    * top-k ranked. Probing is the standard multiprobe refinement (Lv et
    * al., "Multi-Probe LSH", VLDB 2007): besides its own bucket, each
    * query probes the buckets reached by flipping the `probeFlips`
    * sign tests with the smallest |dot| margin — exactly the planes a
    * true neighbor most plausibly lands on the other side of — so one
    * probe set buys what ~2^probeFlips extra tables would, without
    * extra signatures on the indexed side.
    *
    * Recall on the fixture's near-orthogonal embeddings (RECALL_r{N},
    * sf0.01, recall@3): one 12-bit table ≈ 0.004 (rounds 1-2 — a
    * candidate FILTER, not a search structure); 16×8 multi-table 0.30
    * (round 3); + 2-flip multiprobe 0.70 (round 4); 32 tables × 3 flips
    * reaches 0.98 (round 5 default; in the measured dial sweep
    * 16×8×4-flip hits 0.97 at ~2.6× the candidate volume, so more
    * tables beat more flips here). Quality gates live in
    * SimilaritySpec (pinned floor) and RECALL_r{N}.json.
    *
    * Scale shape: candidate generation is an equi-shuffle on
    * (table, bucket) — probe rows ≤ 2^probeFlips per (query, table) and
    * the indexed side keeps exactly one signature per (vector, table);
    * `bits` GROWS WITH log(corpus) to keep per-bucket width flat
    * (bits ≤ 0 auto-sizes from plan statistics: ~4 vectors/bucket,
    * clamped to [8, 20] — at sf0.01 that resolves to the measured 8, at
    * 20k vectors to 12, without which probing covers the whole corpus
    * and the "index" degenerates to an all-pairs join: measured
    * 109 s → 8.6 s at the sf1 scale run, BASELINE §8);
    * `tables`/`probeFlips` buy recall. The dedup'd candidate set (≪ n²
    * by construction) re-joins embeddings by id — two id-keyed
    * shuffles — so full vectors never ride the bucket explosion.
    */
  def annTopK(embeddings: DataFrame, k: Int, bits: Int = 0,
      tables: Int = 32, probeFlips: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bits0 = if (bits > 0) bits else {
      // rowCount when the catalog has one; otherwise bytes/512 — chosen
      // ABOVE the measured on-disk row width (~400 B for a 64-float
      // embedding + id + label on the fixture parquet) so the fallback
      // UNDER-estimates n. The error direction matters and is the
      // opposite of exactTopK's gate: under-estimating rows yields
      // fewer bits → wider buckets → more candidates, which costs time
      // but never recall; over-estimating silently thins the index.
      // Measured r11: the former /384 divisor estimated n=2080 against
      // the sf0.1 corpus's true 2000, crossing the 512-bucket boundary
      // (bits 9→10, 2/bucket) and dropping LSH recall@3 0.949→0.851;
      // /512 restores the documented direction on every fixture shape
      // (sf0.01→bits 8, sf0.1→9, sf1→12 — the measured sweeps below).
      val st = embeddings.queryExecution.optimizedPlan.stats
      val n = st.rowCount.map(_.toLong).getOrElse(st.sizeInBytes.toLong / 512L)
      // ~4 vectors/bucket — the point the measured recall sweeps support on
      // BOTH fixture shapes: recall@3 0.985 at sf0.01 (resolves to
      // bits=8), 0.949 at sf0.1 (bits=9, the hard near-orthogonal
      // corpus), 1.000 at the 20k-vector sf1 run (bits=12) where fixed
      // bits=8 degenerated to an all-pairs join (109 s -> ~10 s). Wider
      // buckets only buy candidates the verifier must reject; a finer
      // 2/bucket dropped sf0.1 recall to 0.85. The [8,20] clamp bounds
      // bucket count at a billion vectors.
      math.min(20, math.max(8,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 4L))))
    }
    val hp: Array[Array[Double]] = planes(tables * bits0).map(_.toArray).toArray
    val bcH = spark.sparkContext.broadcast(hp)
    val v = vecs(embeddings)
    // fanOut: both hashing kernels below cost tables×bits dot products
    // per vector; a one-split fixture file would run them on ONE task
    // (measured 0.6 s serial at sf0.1) — same guard documents() gets.
    val typed = Tables.fanOut(v.select(col("vec_id"), col("emb"), col("norm")),
      col("vec_id")).as[VecRow]

    // indexed side: one signature per (vector, table)
    val sigs = typed.mapPartitions { it =>
      val h = bcH.value
      it.flatMap { r =>
        (0 until tables).map { t =>
          var bucket = 0; var j = 0
          while (j < bits0) {
            val p = h(t * bits0 + j)
            var d = 0.0; var i = 0
            val n = math.min(r.emb.length, p.length)
            while (i < n) { d += r.emb(i) * p(i); i += 1 }
            if (d > 0) bucket |= (1 << j)
            j += 1
          }
          Sig(t, bucket, r.vec_id)
        }
      }
    }

    // probe side: own bucket + every combination of flipping the
    // probeFlips lowest-|margin| planes (≤ 2^probeFlips buckets/table)
    val probes = typed.mapPartitions { it =>
      val h = bcH.value
      it.flatMap { r =>
        (0 until tables).flatMap { t =>
          val margins = new Array[Double](bits0)
          var bucket = 0; var j = 0
          while (j < bits0) {
            val p = h(t * bits0 + j)
            var d = 0.0; var i = 0
            val n = math.min(r.emb.length, p.length)
            while (i < n) { d += r.emb(i) * p(i); i += 1 }
            if (d > 0) bucket |= (1 << j)
            margins(j) = math.abs(d)
            j += 1
          }
          val flips = margins.zipWithIndex.sortBy(_._1)
            .take(math.min(probeFlips, bits0)).map(_._2)
          var buckets = List(bucket)
          flips.foreach(f => buckets = buckets ++ buckets.map(_ ^ (1 << f)))
          buckets.map(bk => Sig(t, bk, r.vec_id))
        }
      }
    }

    // The bucket join's reduce side does the real candidate-pair work
    // (bucket-width² emissions + the distinct's partial agg); its ~MB
    // shuffle makes AQE coalesce it to 2 partitions, serializing ~1.5
    // CPU-s behind 2 tasks at sf0.1. Under the same plan-stats gate every
    // other small-input guard uses, an explicit repartition pins the
    // exchange (REPARTITION_BY_NUM is exempt from coalescing) at a width
    // that matches the work, not the bytes. Above the gate the session's
    // natural shuffle planning stands — a fixed 16 would serialize the
    // pair emission behind 16 tasks at any corpus size (ADVICE r4).
    val smallEmb = Tables.isSmall(embeddings)
    val probesKeyed = probes.toDF()
      .select(col("t"), col("bucket"), col("vec_id").as("id_a"))
    val cand = (if (smallEmb) probesKeyed.repartition(16, col("t"), col("bucket"))
                else probesKeyed)
      .join(sigs.toDF()
        .select(col("t"), col("bucket"), col("vec_id").as("id_b")),
        Seq("t", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val a = v.select(col("vec_id").as("id_a"), col("emb").as("ea"), col("norm").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("emb").as("eb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("sim").desc, col("id_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        round(dotCol(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a").as("vec_id"), col("id_b").as("neighbor"),
        col("sim"), col("rn"))
  }

  /** IVF (inverted-file) ANN — the learned-bucket scale path next to the
    * hyperplane LSH variant. A deterministic mini-kmeans coarse
    * quantizer is trained driver-side on a bounded, deterministic sample
    * (first `nlist*trainPerList` rows by vec_id — kmeans needs a sample,
    * not the corpus, so this holds at any scale); assignment and search
    * are fully distributed: vectors land in their nearest-centroid list,
    * queries probe the `nprobe` nearest lists via an equi-join on the
    * list id, exact cosine re-ranks within the probed lists. Cost:
    * ~corpus·nprobe/nlist pair evaluations instead of corpus².
    *
    * nprobe is the recall/cost dial (measured sweep, recall@3 vs exact):
    * 4/16 lists → 0.62, 10/16 → 0.90, 12/16 → 0.94 at sf0.01 on the
    * fixture's near-orthogonal embeddings — a deliberately hard case
    * (no cluster structure, so the quantizer's lists carry little
    * signal and high recall genuinely requires probing most of them).
    * Clustered real-world corpora sit far above this floor at the same
    * nprobe/nlist ratio; at scale grow nlist with the corpus (and with
    * cluster cores) and keep nprobe/nlist ≈ what the recall target needs.
    */
  def ivfTopK(embeddings: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 12, iters: Int = 5, trainPerList: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = vecs(embeddings)
      .select(col("vec_id"), col("emb"), col("norm")).as[VecRow]
    val trained = trainQuantizer(v, nlist, iters, trainPerList)
    if (trained.isEmpty) return emptyHits(spark) // empty corpus
    val (centroids, cNorms) = trained.get
    val bcC = spark.sparkContext.broadcast((centroids, cNorms))

    // --- distributed assignment: each vector to its nearest list
    val assigned = v.mapPartitions { it =>
      val (cs, ns) = bcC.value
      it.map { r =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          val s = cosine(r.emb, r.norm, cs(c), ns(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        ListedVec(best, r.vec_id, r.emb, r.norm)
      }
    }

    // --- queries probe their nprobe nearest lists
    val probes = v.mapPartitions { it =>
      val (cs, ns) = bcC.value
      it.flatMap { r =>
        val sims = Array.tabulate(cs.length)(c =>
          (cosine(r.emb, r.norm, cs(c), ns(c)), c))
        sims.sortBy(-_._1).take(nprobe)
          .map { case (_, c) => ListedVec(c, r.vec_id, r.emb, r.norm) }
      }
    }

    // --- per-list search: cogroup on the list id builds each list's
    // candidate block ONCE per task and streams the probes through a
    // primitive-array kernel, emitting only each probe's local top-k.
    // (A DataFrame equi-join probes×assigned on the list id materializes
    // every candidate PAIR as a row carrying both embedding arrays —
    // ~6M rows × 1 KB of memcpy at sf0.1, 3 s of pure copying; the
    // cogroup ships each vector once per side and shuffles ≤ nprobe·k
    // rows per query onward. Parallelism is bounded by nlist — size
    // nlist ≥ cluster cores at scale, exactly as a real IVF index does.)
    // A candidate lives in exactly one list, so no cross-probe dedup is
    // needed before the global merge.
    val localHits = assigned.groupByKey(_.list)
      .cogroup(probes.groupByKey(_.list)) { (_, cands, qs) =>
        val cArr = cands.toArray
        qs.flatMap { q =>
          val best = new java.util.ArrayList[(Double, Long)](k + 1)
          var i = 0
          while (i < cArr.length) {
            val c = cArr(i)
            if (c.vec_id != q.vec_id) {
              var dot = 0.0; var j = 0
              val n = math.min(q.emb.length, c.emb.length)
              while (j < n) { dot += q.emb(j) * c.emb(j); j += 1 }
              // HALF_UP at 6dp, same convention as bruteTopK/the oracle
              val raw = dot / (q.norm * c.norm)
              val sim = math.signum(raw) * math.floor(math.abs(raw) * 1e6 + 0.5) / 1e6
              var pos = best.size()
              while (pos > 0 && {
                val (ps, pid) = best.get(pos - 1)
                ps < sim || (ps == sim && pid > c.vec_id)
              }) pos -= 1
              if (pos < k) {
                best.add(pos, (sim, c.vec_id))
                if (best.size() > k) best.remove(k)
              }
            }
            i += 1
          }
          (0 until best.size()).map { r2 =>
            val (s2, id2) = best.get(r2)
            Hit(q.vec_id, id2, s2)
          }
        }
      }

    // --- global top-k merge over the ≤ nprobe·k local hits per query
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("neighbor"))
    localHits.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("neighbor"), col("sim"), col("rn"))
  }

  private val simSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                          CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |), p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS sim
      |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "l3_cosine_topk" ->
      s"""$simSql
         |SELECT id_a AS vec_id, id_b AS neighbor, sim, rn FROM (
         |  SELECT id_a, id_b, sim,
         |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
         |  FROM p) WHERE rn <= 5""".stripMargin,

    "l4_cosine_threshold" ->
      s"""$simSql
         |SELECT id_a, id_b, sim FROM p
         |WHERE id_a < id_b AND sim >= 0.45""".stripMargin,

    // l3f: same pair CTE restricted to lang='en' candidates; ranking
    // convention identical to l3 (sim desc, id asc, rounded 6dp)
    "l3f_filtered_topk" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), c AS (
        |  SELECT v.* FROM v JOIN documents d ON d.doc_id = v.vec_id
        |  WHERE d.lang = 'en'
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS sim
        |  FROM v a JOIN c b ON a.vec_id <> b.vec_id
        |)
        |SELECT id_a AS vec_id, id_b AS neighbor, sim, rn FROM (
        |  SELECT id_a, id_b, sim,
        |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
        |  FROM p) WHERE rn <= 3""".stripMargin,

    // l3e: recompute every delta assignment from the engine's dumped
    // frozen centroids — argmax cosine, exact-tie toward the smaller
    // cell; sim rounded 6 (the l3 float convention)
    "l3e_incremental_index" ->
      s"""WITH c AS (
         |  SELECT cell, centroid,
         |    sqrt(list_dot_product(centroid, centroid)) AS cnrm
         |  FROM read_parquet('${Dedup.policyDumpPath("l3e_centroids")}/*.parquet')
         |), v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings WHERE vec_id % 10 = 0
         |), s AS (
         |  SELECT v.vec_id, c.cell,
         |    list_dot_product(v.emb, c.centroid) / (v.nrm * c.cnrm) AS rawsim,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_dot_product(v.emb, c.centroid)
         |                 / (v.nrm * c.cnrm) DESC, c.cell) AS rn
         |  FROM v, c
         |)
         |SELECT vec_id, cell, round(rawsim, 6) AS sim
         |FROM s WHERE rn = 1""".stripMargin,

    "l4b_embedding_dedup" ->
      s"""$simSql
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (
         |  SELECT id_b FROM p WHERE id_a < id_b AND sim >= 0.45)""".stripMargin,

    // l4c: survivors recomputed from the engine's own dumped pair set
    // (linear — the sf1-hashable twin of l4b's quadratic oracle)
    "l4c_embedding_dedup_policy" ->
      s"""SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id_b FROM
         |  read_parquet('${graft.operators.Dedup.policyDumpPath("l4c_pairs")}/*.parquet'))""".stripMargin,

    // l12b: greedy min-id-first survivors recomputed from the engine's
    // dumped within-cluster edge graph (written earlier in the same
    // Verify pass — see l2g's note in Dedup.oracles). The recursive CTE
    // runs the synchronous fixpoint of kept(v) = "no kept in-neighbor":
    // round i settles every vertex of greedy-dependency depth ≤ i, the
    // per-row global EXISTS guard stops the recursion at the first
    // unchanged round, and the unique fixpoint on the id-ordered DAG is
    // exactly the greedy keep set.
    "l12b_semdedup_policy" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT src, dst FROM
         |    read_parquet('${Dedup.policyDumpPath("l12b_edges")}/*.parquet')
         |), st(iter, vec_id, kept) AS (
         |  SELECT 0, vec_id, TRUE FROM embeddings
         |  UNION ALL
         |  SELECT s.iter + 1, s.vec_id,
         |    NOT EXISTS (SELECT 1 FROM e JOIN st s2
         |                ON s2.vec_id = e.src AND s2.kept
         |                WHERE e.dst = s.vec_id)
         |  FROM st s
         |  WHERE EXISTS (
         |    SELECT 1 FROM st x
         |    WHERE x.kept <> (NOT EXISTS (SELECT 1 FROM e JOIN st y
         |                                 ON y.vec_id = e.src AND y.kept
         |                                 WHERE e.dst = x.vec_id)))
         |)
         |SELECT vec_id, label FROM st JOIN embeddings USING (vec_id)
         |WHERE iter = (SELECT MAX(iter) FROM st) AND kept""".stripMargin
  )
}
