package graft.operators

import graft.Tables
import graft.Tables.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2B L1/L2;
  * builder-prompt dedup inventory: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard).
  *
  * Scale design (100 TB): every path is explode → hash-aggregate →
  * equi-join on a bucket key. Nothing is quadratic in the corpus: LSH
  * band signatures (minhash) and hamming-band keys (simhash) bound
  * candidate generation, and the exact-jaccard verifier only runs on
  * candidate pairs. The only O(n²)-flavored query, the shingle-jaccard
  * top-k, is blocked on shared low-DF shingles, which is the standard
  * prefix/DF-filter trick from similarity-join literature.
  */
object Dedup {

  /** Distinct word tokens per doc: (doc_id, tok). */
  def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** Distinct token-HASH set per doc, computed in the scan projection by
    * the native [[graft.functions.TokenHashes]] kernel — no explode, no
    * shuffle. The 8-byte/token array feeds minhash/simhash derivation and
    * the exact `array_intersect` jaccard verifier.
    */
  def docTokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TokenHashKernels.tokenHashes(split(col("text"), " ")).as("toks"))

  private val NumPerm = 16 // minhash permutations
  private val Bands = 4    // LSH bands (4 rows each: ~0.99 recall at j=0.9,
                           // ~4× fewer false candidates than 2-row bands)

  /** MinHash signature columns mh_0..mh_{NumPerm-1} per doc. Since round 5
    * this is a per-row native kernel (one pass over the distinct
    * token-hash set, no explode/aggregation/shuffle — see
    * [[graft.functions.MinHashSig]]); the round-4 form shuffled the whole
    * token explode into 16 min-aggregates.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sig = docTokenSets(docs).select(col("doc_id"),
      graft.functions.TokenHashKernels.minhashSig(col("toks"), NumPerm).as("sig"))
    sig.select(col("doc_id") +:
      (0 until NumPerm).map(i => element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** LSH candidate pairs (d1 < d2) from band-signature collisions, over
    * mh_0..mh_{NumPerm-1} signature columns. Spec-facing wrapper around
    * [[lshCandidatesFromSig]].
    */
  def lshCandidates(sig: DataFrame, maxBucket: Int = 50): DataFrame =
    lshCandidatesFromSig(
      sig.select(col("doc_id"),
        array((0 until NumPerm).map(i => col(s"mh_$i")): _*).as("sig")),
      maxBucket)

  /** Candidate pairs from an (doc_id, sig ARRAY<BIGINT>) relation.
    *
    * Within a (band, band-signature) bucket, pairing is the SORTED
    * SLIDING WINDOW kernel (the [[simhashBandPairs]] machinery): rows
    * hash-partition by bucket, sort (band, sig, doc_id), and a linear
    * per-partition pass pairs each row with its `maxBucket` bucket
    * predecessors. Buckets of width ≤ maxBucket+1 — every bucket on a
    * healthy corpus — get exactly the all-pairs result; hot buckets
    * (near-duplicate-heavy or low-entropy corpora) degrade gracefully
    * to banded pairing, where the r8 form dropped them WHOLE and lost
    * every pair they contained (and sized them with a count window on
    * the skew-prone bucket key — the same shape the l2c/l2d df stage
    * shed this round; here the window, its cache, and the O(width²)
    * bucket self-join all collapse into one sort + linear scan).
    */
  def lshCandidatesFromSig(sig: DataFrame, maxBucket: Int = 50,
      pinPartitions: Option[Int] = None): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val perBand = NumPerm / Bands
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * perBand + 1, perBand)).as("sig_h"))
    }
    val buckets = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.sig_h").as("sig"), col("doc_id"))
    // Small-input callers pin the shuffle width (REPARTITION_BY_NUM is
    // exempt from AQE coalescing, which would serialize the scan behind
    // 1-2 tasks); at scale the hash repartition plans its own width.
    val parted = pinPartitions match {
      case Some(n) => buckets.repartition(n, col("band"), col("sig"))
      case None    => buckets.repartition(col("band"), col("sig"))
    }
    val w = maxBucket
    parted.sortWithinPartitions(col("band"), col("sig"), col("doc_id"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        val buf = new Array[Long](w)
        var n = 0; var pos = 0; var curB = -1; var curSig = 0L
        it.flatMap { case (b, sg, id) =>
          if (b != curB || sg != curSig) { curB = b; curSig = sg; n = 0; pos = 0 }
          var out: List[(Long, Long)] = Nil
          var i = 0
          while (i < n) {
            var j = pos - 1 - i
            if (j < 0) j += w
            val a = buf(j)
            out = (math.min(a, id), math.max(a, id)) :: out
            i += 1
          }
          buf(pos) = id
          pos = (pos + 1) % w
          if (n < w) n += 1
          out
        }
      }
      .toDF("d1", "d2").distinct()
  }

  /** Exact token-set jaccard for the given (d1, d2) pairs. */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame): DataFrame =
    verifyJaccardFromTokens(docTokens(docs).cache(), pairs)

  /** Verifier over an already-exploded (cached) (doc_id, tok) relation. */
  def verifyJaccardFromTokens(toks: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val t1 = toks.select(col("doc_id").as("d1"), col("tok"))
    val t2 = toks.select(col("doc_id").as("d2"), col("tok").as("tok2"))
    pairs
      .join(t1, "d1")
      .join(t2, pairs("d2") === t2("d2") && col("tok") === col("tok2"))
      .drop(t2("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n_toks").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_toks").as("n2")), "d2")
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
  }

  /** Full near-dup removal: signature-cluster first, then LSH between
    * cluster representatives, exact-jaccard verify, drop the larger
    * doc_id. Deterministic.
    *
    * The cluster step is the skew guard that makes this survive scale:
    * when many documents share one minhash signature (exact/near-exact
    * duplicates — the common case in web corpora, and extreme in this
    * fixture's small-vocab synthetic text), naive band-bucket pairing is
    * O(cluster²). Grouping identical signatures to a min-doc_id
    * representative makes that part linear (member↔rep verification),
    * and only distinct-signature representatives enter the band join.
    * 112 s → ~2 s at sf0.1 for identical output policy.
    *
    * Signature equality does NOT imply set equality: a member whose
    * exact verify against its rep fails is a signature COLLISION, and
    * (since r9) re-enters the band join as its own representative —
    * without that, true dup pairs inside a collided cluster were
    * unreachable by any candidate path and silently survived.
    */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val removed = minhashVerifiedPairs(docs, threshold)
      .select(col("d2").as("doc_id")).distinct()
    docs.join(removed, Seq("doc_id"), "left_anti")
  }

  /** The verified near-dup pair set (d1 < d2, exact jaccard ≥
    * threshold) that [[minhashDedup]] derives its removals from —
    * exposed separately so the REMOVAL POLICY can be hash-checked
    * cross-engine from a dump of these pairs (l2g, VERDICT r9 next #4)
    * while candidate generation stays spec/RECALL-owned. Eager
    * (localCheckpoints the tiny pair set and releases the caches).
    */
  def minhashVerifiedPairs(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    // One native-kernel pass over the scan computes the distinct
    // token-hash set AND the full minhash signature per row — no token
    // explode, no signature shuffle (see TokenHashKernels). The cached
    // base relation is 1 row/doc and feeds the cluster groupBy, the band
    // join, and both sides of the exact verifier.
    // Small-input gate (plan-time statistics): below ~32 MB of source
    // bytes the cached relation is compacted to 8 partitions, so the
    // downstream stages schedule 8 tasks instead of 32 — with ~150 ms/task
    // of fixed plan-closure cost at fixture scale, that overhead (not
    // data) dominated every stage. Above the gate the natural partitioning
    // stands, and the verifier dims join by shuffle instead of broadcast.
    val small = Tables.isSmall(docs)
    def compact(df: DataFrame): DataFrame = if (small) df.coalesce(8) else df
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val base = compact(docTokenSets(docs)
        .select(col("doc_id"), col("toks"),
          graft.functions.TokenHashKernels.minhashSig(col("toks"), NumPerm).as("sig")))
      .cache()
    // Materialize before fan-out: the downstream joins' map stages are
    // submitted concurrently, and against a cold cache each would race to
    // evaluate the scan+kernel projection itself (the same measured
    // pattern as shingleJaccardTopK's docSets).
    base.count()
    // Exact jaccard via array_intersect over the cached token-hash sets —
    // runs only on candidate pairs, replacing the round-4 double
    // explode-join + pair groupBy. Both dims are the SAME subtree, so
    // under the broadcast hint the two builds collapse into one exchange.
    val dim = hint(base.select(col("doc_id"), col("toks")))
    def verifyPairs(cand: DataFrame): DataFrame = cand
      .join(dim, cand("d1") === dim("doc_id"))
      .select(col("d1"), col("d2"), col("toks").as("k1"))
      .join(dim, col("d2") === dim("doc_id"))
      .select(col("d1"), col("d2"),
        graft.functions.TokenHashKernels.intersectCount(col("k1"), col("toks"))
          .cast(DoubleType).as("inter"),
        size(col("k1")).as("n1"), size(col("toks")).as("n2"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
    // (a) SET-exact clustering: key = hash of the full sorted token-hash
    // array, so a cluster means IDENTICAL distinct-token sets (jaccard
    // 1.0 by construction — the verify is a hash-collision safety net,
    // not a filter). The r8 form clustered on the minhash SIGNATURE
    // instead; signature equality does not imply set equality, and on a
    // collision the member↔rep verify rejected the pair while no other
    // path could reach the true dups inside the cluster — identical-set
    // docs silently co-survived (r9 find). Set-keying makes the
    // exact-dup collapse unconditional.
    val withKey = base.select(col("doc_id"), col("sig"),
      xxhash64(col("toks")).as("set_key"))
    val setReps = withKey.groupBy(col("set_key"))
      .agg(min(col("doc_id")).as("rep_id"))
    val setMembers = withKey.join(setReps, "set_key")
    val setPairs = setMembers.filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("d1"), col("doc_id").as("d2"))
    // (b) signature clustering over the set-distinct reps — the skew
    // guard for NEAR-exact families whose members often share a full
    // 16-minima signature. Members verify exactly against their sig-rep;
    // a failed member is a signature COLLISION (same minima, genuinely
    // different set) and re-enters the band join as its own rep instead
    // of hiding behind a dissimilar one. The checkpoint is one slim row
    // per sig-cluster member — same order as the removed-id set.
    val sigKeyed = withKey
      .join(setReps.select(col("rep_id").as("doc_id")), "doc_id")
      .select(col("doc_id"), col("sig"), xxhash64(col("sig")).as("sig_key"))
    val sigReps = sigKeyed.groupBy(col("sig_key"))
      .agg(min(col("doc_id")).as("rep_id"))
    val sigPairs = sigKeyed.join(sigReps, "sig_key")
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("d1"), col("doc_id").as("d2"))
    // both cluster layers verify in ONE pass (one dim join instead of
    // two — the dim carries the full token arrays, the heaviest shuffle
    // here); a failure from EITHER layer is a detected collision
    val clusterV = verifyPairs(setPairs.unionByName(sigPairs))
      .localCheckpoint()
    val collided = clusterV.filter(col("jaccard") < threshold)
      .select(col("d2").as("doc_id"))
    // (c) LSH band join across sig-representatives + collision-failed
    // members.
    val repSigs = sigKeyed.join(
      sigReps.select(col("rep_id").as("doc_id")).unionByName(collided), "doc_id")
    // ring 16, not the API default 50: REMOVAL only needs each doc to
    // find ONE smaller similar partner, and within a hot band bucket
    // (a near-dup family) any of the 16 nearest preceding members
    // serves — a wider ring multiplies verify volume on dup-dense
    // corpora (measured 31 s → ~12 s at sf1's 100-way-cluster fixture)
    // without changing the removed set beyond stragglers the other
    // three bands re-find.
    val repPairs = lshCandidatesFromSig(
      repSigs.select(col("doc_id"), col("sig")), maxBucket = 16,
      pinPartitions = if (small) Some(8) else None)
    val verified = clusterV.filter(col("jaccard") >= threshold)
      .unionByName(verifyPairs(repPairs).filter(col("jaccard") >= threshold))
    // The verified pair set is tiny (near-dup pairs only);
    // localCheckpoint pins it so the intermediates can be released — the
    // round-4 caches leaked into executor storage for the session
    // (ADVICE r4). NOTE: this makes the query constructor EAGER (it runs
    // jobs); plan-only tooling should prefer the stateless operators.
    val pairs = verified.select(col("d1"), col("d2")).distinct()
      .localCheckpoint()
    base.unpersist()
    pairs
  }

  /** Verified hamming-neighbor pairs (src < dst, distinct) over a
    * (doc_id, simhash) relation, by pigeonhole banding: hashes within
    * hamming `maxHamming` ≤ 3 share at least one of their four 16-bit
    * bands exactly, so candidates only arise inside equal-(band, bits)
    * buckets.
    *
    * Within a bucket, pairing is a SORTED SLIDING WINDOW, not a self-join:
    * rows are hash-partitioned by bucket, sorted (bucket, simhash, id),
    * and a per-partition linear pass compares each row against its
    * `window` predecessors. Buckets of width ≤ window+1 — every bucket at
    * fixture scale — get exactly the all-pairs result; wider (hot)
    * buckets degrade gracefully to banded pairing instead of the O(width²)
    * blow-up that made the join form unrunnable on duplicate-heavy
    * corpora (measured: 488 s CPU at sf1, ~15 s for this kernel).
    * Identical-hash runs sort adjacently, so every member of a hot
    * bucket still pairs with a smaller neighbor — removal/connectivity
    * semantics survive truncation; only far-apart same-bucket pairs
    * (already rare at hamming ≤ 3, and re-findable via their other three
    * bands) can be missed. mapPartitions is deliberate: Spark has no
    * bounded-window SELF-pairing operator, and the DataFrame encodings
    * (join or collect_list) are quadratic in bucket width — this is the
    * per-partition imperative case the design notes reserve it for.
    */
  def simhashBandPairs(sh: DataFrame, maxHamming: Int = 3,
      window: Int = 64, pinPartitions: Option[Int] = None): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*)).as("bk"))
      .select(col("bk.b").as("b"), col("bk.bits").as("bits"),
        col("simhash"), col("doc_id"))
    val parted = pinPartitions match {
      case Some(n) => bands.repartition(n, col("b"), col("bits"))
      case None    => bands.repartition(col("b"), col("bits"))
    }
    val (maxH, w) = (maxHamming, window)
    parted.sortWithinPartitions(col("b"), col("bits"), col("simhash"), col("doc_id"))
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        // ring buffer of the last `w` (simhash, id) rows of the current bucket
        val bufSh = new Array[Long](w)
        val bufId = new Array[Long](w)
        var n = 0; var pos = 0; var curB = -1; var curBits = 0L
        it.flatMap { case (b, bits, shv, id) =>
          if (b != curB || bits != curBits) {
            curB = b; curBits = bits; n = 0; pos = 0
          }
          var out: List[(Long, Long)] = Nil
          var i = 0
          while (i < n) {
            var j = pos - 1 - i
            if (j < 0) j += w
            if (java.lang.Long.bitCount(bufSh(j) ^ shv) <= maxH) {
              val a = bufId(j)
              out = (math.min(a, id), math.max(a, id)) :: out
            }
            i += 1
          }
          bufSh(pos) = shv; bufId(pos) = id
          pos = (pos + 1) % w
          if (n < w) n += 1
          out
        }
      }
      .toDF("src", "dst").distinct()
  }

  /** Eager checkpoint that also RESETS derived statistics — the
    * materialization primitive every iterative DataFrame fixpoint here
    * must use instead of bare `localCheckpoint`.
    *
    * `Dataset.localCheckpoint` truncates lineage but PROPAGATES the
    * origin plan's Catalyst statistics into the resulting LogicalRDD,
    * and the size-only estimator MULTIPLIES child sizes at every join.
    * In a loop whose round builds the next state from several joins over
    * the previous checkpoint, the `sizeInBytes` BigInt therefore
    * compounds by a constant factor per round — after ~8 rounds the
    * driver sits in BigInteger.multiply on numbers with millions of
    * digits and planning time, not execution, is the hang (measured:
    * the CC loop froze hard inside Toom-Cook multiplication). Rebuilding
    * the frame from the checkpointed RDD discards the poisoned stats
    * (fresh default estimate) at the cost of one row re-encoding pass
    * over a small relation; runtime join planning is AQE's job anyway.
    */
  private def pinned(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Connected components over an undirected edge list by iterative
    * CONTRACTION: each round every node adopts the smallest id among
    * itself and its neighbors, the full node→label mapping composes with
    * those moves, and the edge list is rewritten onto the new labels
    * (self-loops dropped, duplicates merged). Every label converges to
    * the smallest node id reachable from it. The dedup-cluster
    * primitive — pairwise near-dup survivorship (drop the larger id of
    * each PAIR) under-merges transitive chains A~B~C where A≁C;
    * clustering first, then keeping one representative per component, is
    * the policy large corpora actually want.
    *
    * Scale: the work per round is proportional to the CURRENT edge set,
    * which shrinks geometrically — a clique collapses to nothing in one
    * round, and even a pure path collapses in one round because the
    * moves relation is pointer-jumped to fixpoint first — where round-4's
    * label-propagation loop re-joined the FULL edge list every round
    * (measured at sf1:
    * 15 rounds × 2×110 MB shuffles; this form touches the full list
    * once). The improving-moves relation is usually small enough that
    * AQE broadcasts the rewrites. `localCheckpoint` truncates lineage
    * each round; convergence = the contracted edge set is empty, so the
    * only driver-side value is an isEmpty probe.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Long = 5000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Materialize the edge list ONCE before symmetrizing: the union's two
    // branches would otherwise each re-evaluate the (possibly expensive)
    // candidate-join plan that produced it — measured as the two heaviest
    // stages of m5 (the band self-join ran twice).
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint()
    val sym = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    // Size gate: a near-dup edge list (post rep-collapse) is orders of
    // magnitude smaller than its corpus — when it fits the driver
    // budget, union-find with path compression answers in microseconds
    // where each distributed round costs seconds of task scheduling
    // (measured: 6 rounds × ~1.5 s for a 7k-edge graph). The iterative
    // path remains for graphs that genuinely exceed driver memory.
    if (sym.count() <= driverEdgeLimit) {
      val es = sym.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "label")
    }
    val nodes = sym.select(col("src").as("node")).distinct()
    // The contracted graph: edges between CURRENT labels, kept symmetric
    // (the rewrite maps both directions through the same moves). Each
    // round's move relation is retained; the full node→label mapping is
    // folded ONCE after the loop instead of re-joined every round.
    val moveRounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var g = sym
    var iter = 0
    while (iter < maxIter && !g.isEmpty) {
      // improving moves: each current label's new label is the min of
      // itself and its neighbors ...
      var m = pinned(g.groupBy(col("src")).agg(min(col("dst")).as("nl"))
        .filter(col("nl") < col("src")))
      // ... POINTER-JUMPED over the move forest TO FIXPOINT: composing
      // the mapping with itself doubles chain hops per step, so a move
      // chain of depth d flattens onto its root in ⌈log₂ d⌉ small
      // self-joins and the contraction below then swallows the whole
      // chain in THIS round. (A fixed jump count is not enough: k jumps
      // only shift a path by 2^k nodes per round — subtractive, so a
      // long chain would outrun any fixed round budget.) The probe runs
      // BEFORE composing, so the common shallow round (no chained moves
      // — any pair of merged cliques) costs one semi-join and no jump.
      def chained(mm: DataFrame): Boolean =
        !mm.select(col("nl")).join(mm.select(col("src").as("nl")),
          Seq("nl"), "left_semi").isEmpty
      while (chained(m)) {
        val m2 = m.select(col("src").as("j_src"), col("nl").as("j_nl"))
        m = pinned(m.join(m2, m("nl") === m2("j_src"), "left")
          .select(col("src"), coalesce(col("j_nl"), col("nl")).as("nl")))
      }
      moveRounds += m
      // contract: rewrite both endpoints through the moves, drop
      // self-loops (bulk of a merged clique) BEFORE the distinct shuffle
      g = pinned(g
        .join(m, Seq("src"), "left")
        .select(coalesce(col("nl"), col("src")).as("src"), col("dst"))
        .join(m.withColumnRenamed("src", "dst").withColumnRenamed("nl", "nl2"),
          Seq("dst"), "left")
        .select(col("src"), coalesce(col("nl2"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
      iter += 1
    }
    // fold the per-round moves into the node→label mapping, in round
    // order (round r's targets are round-r labels, exactly what round
    // r+1's moves are keyed by). Checkpointed move relations keep this
    // one plan shallow; the caller decides materialization.
    moveRounds.foldLeft(nodes.withColumn("label", col("node"))) { (lab, m) =>
      lab.join(m.withColumnRenamed("src", "label"), Seq("label"), "left")
        .select(col("node"), coalesce(col("nl"), col("label")).as("label"))
    }
  }

  /** M12: incremental exact dedup — dedup an INCOMING batch against an
    * already-deduplicated corpus. The 100 TB shape this models: a daily
    * shard lands next to a petabyte corpus, and re-running l1 over
    * corpus+batch would reshuffle the corpus on every append. Here the
    * corpus is only ever SCANNED, never shuffled:
    *
    *  1. within-batch dedup: groupBy digest, keep the min doc_id — a
    *     shuffle of the batch only.
    *  2. batch digests small enough to broadcast (the common case — a
    *     shard is GBs against a PB corpus): one corpus scan, semi-joined
    *     against the broadcast batch digests, yields the set of digests
    *     the corpus already holds; the batch anti-joins that set. No
    *     corpus shuffle, no bloom needed.
    *  3. batch too large to broadcast (`broadcastLimit`): a bloom filter
    *     over the corpus digests (one corpus scan, fixed-size partial
    *     aggregate) prefilters the batch — bloom negatives are PROVABLY
    *     new (no false negatives) and skip the join entirely; only the
    *     bloom-positive sliver (true dups + fpp of the batch) pays the
    *     exact anti join against the corpus digests. With the corpus
    *     digest table bucketed on digest that join is co-located.
    *
    * Both arms are exact; the gate (plan-time statistics, same
    * convention as [[graft.operators.Similarity.thresholdJoin]]) only
    * moves cost. Returns (doc_id, text_md5, n_batch_copies) — the batch
    * survivors, with their within-batch multiplicity.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      broadcastLimit: Long = 4000000L, bloomFpp: Double = 0.01): DataFrame = {
    val dg = md5(col("text").cast(BinaryType))
    val firsts = batch
      .groupBy(dg.as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_batch_copies"))
    val corpusDg = corpus.select(dg.as("text_md5"))
    val stats = batch.queryExecution.optimizedPlan.stats
    val batchEst = stats.rowCount.map(_.toLong)
      .getOrElse(stats.sizeInBytes.toLong / 256L)
    if (batchEst <= broadcastLimit) {
      val present = corpusDg
        .join(broadcast(firsts.select(col("text_md5"))), Seq("text_md5"), "left_semi")
        .distinct()
      firsts.join(present, Seq("text_md5"), "left_anti")
        .select(col("doc_id"), col("text_md5"), col("n_batch_copies"))
    } else {
      // corpus digests are 128-bit strings; the codegen'd bloom probe
      // (BloomFilterMightContain) works on xxhash64 longs, so both the
      // build side and the probe hash the digest first — same function,
      // same seed, exact agreement.
      val cStats = corpus.queryExecution.optimizedPlan.stats
      val cEst = cStats.rowCount.map(_.toLong)
        .getOrElse(cStats.sizeInBytes.toLong / 256L)
        .max(1024L).min(500000000L)
      val bloom = corpusDg.select(xxhash64(col("text_md5")).as("h"))
        .stat.bloomFilter("h", cEst, bloomFpp)
      val might = graft.functions.SketchOps
        .bloomMightContain(bloom, xxhash64(col("text_md5")))
      val fresh = firsts.filter(!might)
      val maybe = firsts.filter(might)
      val kept = maybe.join(corpusDg.distinct(), Seq("text_md5"), "left_anti")
      fresh.unionByName(kept)
        .select(col("doc_id"), col("text_md5"), col("n_batch_copies"))
    }
  }

  val queries: Map[String, Q] = Map(
    // M12: incremental exact dedup — the ~10% batch (doc_id % 10 == 0)
    // deduped against the other 90% standing corpus. See
    // [[incrementalDedup]]; the fixture takes the broadcast arm, the
    // bloom arm is spec-forced (DedupSpec) and exact either way, so the
    // oracle is a plain anti join.
    "m12_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      incrementalDedup(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }),

    // L1: exact dedup by content hash — keep the smallest doc_id per
    // md5(text). groupBy on the hash = one shuffle keyed by digest; at
    // 100 TB the digest groupBy is the canonical exact-dedup plan.
    // The fixture corpus contains ZERO byte-identical texts (checked
    // r12 — every n_copies was 1, so the collapse semantics never
    // fired: a vacuous pin), so exact duplicates are SYNTHESIZED
    // deterministically, the m2 updates precedent: every doc_id % 10
    // == 0 doc re-enters under id + 2^40 (an offset no fixture SF can
    // reach, so synthetic ids can never collide with real doc_ids —
    // ADVICE r12; m20/m22 use the same offset). The hash pins
    // multi-copy groups (min-id winner, true copy counts) at every SF.
    "l1_exact_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1099511627776L).as("doc_id"), col("text"))
      docs.unionByName(copies)
        .groupBy(md5(col("text").cast(BinaryType)).as("text_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("text_md5"), col("n_copies"))
    }),

    // L2: MinHash+LSH near-dup removal — shingle→minhash→band→bucket-join
    // →exact-verify(≥0.9)→drop the larger doc_id of each verified pair.
    // Survivor set is deterministic (pair removal keyed on doc_id order).
    "l2_minhash_dedup" -> ((s, d) => {
      minhashDedup(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // L2b: SimHash — 64-bit locality-sensitive fingerprint per doc,
    // computed per row by the native SimHash64 kernel (bit-identical to
    // the round-3 explode + 64-conditional-sums aggregation, with no
    // explode, no aggregation, no shuffle).
    "l2b_simhash" -> ((s, d) => {
      docTokenSets(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.TokenHashKernels.simhash64(col("toks")).as("simhash"))
    }),

    // L2b2: SimHash dedup — pigeonhole banding: if two 64-bit simhashes
    // differ in ≤ 3 bits, at least one of their four 16-bit bands is
    // identical, so an equi-join on (band_idx, band_bits) finds every
    // such pair without any pairwise scan; exact popcount(xor) verifies.
    // Drop the larger doc_id of each verified pair.
    "l2b2_simhash_dedup" -> ((s, d) => {
      // small-input gate: compact the tiny fingerprint cache (1 row/doc)
      // so downstream band-join stages stop paying 32 tasks of fixed cost
      val small = Tables.isSmall(Tables.documents(s, d))
      val sh0 = queries("l2b_simhash")(s, d)
      val sh = (if (small) sh0.coalesce(8) else sh0).cache() // (doc_id, simhash)
      sh.count() // materialize once: both band-join map stages launch
                 // concurrently and would race the cold cache otherwise
      // verified hamming<=3 pairs via the sorted sliding-window band
      // kernel (see simhashBandPairs): linear in bucket width, and every
      // doc with a smaller near-identical neighbor still pairs with one,
      // so the removed set survives hot-bucket truncation
      val removed = simhashBandPairs(sh,
          pinPartitions = if (small) Some(8) else None)
        .select(col("dst").as("doc_id")).distinct()
        .localCheckpoint() // pin the tiny id set, release the cache
      sh.unpersist()
      Tables.documents(s, d)
        .join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
    }),

    // L2c: exact n-gram jaccard similarity join — top-20 most-similar doc
    // pairs by word-3-gram jaccard, candidates blocked on a shared
    // shingle with corpus DF ≤ 100 (drops non-discriminative shingles,
    // the standard scale guard for exact similarity joins).
    "l2c_shingle_jaccard" -> ((s, d) => shingleJaccardTopK(s, d, 20)),

    // L2e: EXACT jaccard-threshold dedup — the deterministic twin of l2
    // with recall 1.0 by construction: candidates from the token-level
    // prefix filter (provably complete at the ≥ t cut, no LSH, no
    // truncation), exact verify, drop the larger doc of every pair at
    // jaccard ≥ 0.9. Oracle-checked against DuckDB's quadratic pair
    // join — the hash-checked exactness probe for the dedup family's
    // shared verify kernel (token-hash-set array_intersect ≡ string
    // token-set intersection), which the probabilistic l2/l2b2 entries
    // could never pin (VERDICT r8 #6).
    "l2e_jaccard_dedup" -> ((s, d) => {
      jaccardDedup(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // L24: CROSS-SOURCE CONTAMINATION MATRIX (r12) — the corpus-
    // governance report over l2e's exact pair machinery: for every
    // unordered source pair, how many near-duplicate (token-jaccard ≥
    // 0.9) doc pairs cross it. The diagonal is within-source redundancy;
    // off-diagonal mass is inter-source contamination — the number a
    // data-mixture owner checks before weighting sources as if they
    // were independent. Pairs come COMPLETE from the prefix-filtered
    // verify (recall 1.0 at the cut; the exact-set collapse is expanded
    // back, see jaccardVerifiedPairsComplete), sources attach by two
    // broadcastable id joins, and the matrix aggregate is |sources|²-
    // bounded — the only corpus-sized stages are the ones l2e already
    // carries. Oracle: DuckDB's quadratic pair join (the blow-up the
    // prefix filter refuses), so the hash pins pair COMPLETENESS, not
    // just the survivor policy.
    "l24_cross_source_overlap" -> ((s, d) => {
      val pairs = jaccardVerifiedPairsComplete(s, d, 0.9)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
        .groupBy(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // L24B (r17): l24's LINEAR-ORACLE twin (VERDICT r16 item 8) — the
    // same overlap matrix, but hash-checked through the l2g/l2h
    // policy-dump pattern: the engine dumps its verified ≥0.9 pairs to
    // a parquet side table and aggregates per source pair FROM THE
    // DUMP; the oracle joins the SAME dump against documents and
    // re-aggregates — linear in |pairs| + |docs|, removing the
    // oracle-side quadratic blow-up (ratio_table.QUADRATIC_ORACLE)
    // entirely. On the §8 SCALE FIXTURE the sf1 row still can't run —
    // but for the fixture's own reason, not the oracle's: its 99-way
    // near-dup cliques make the ≥0.9 pair set itself ~25M rows
    // (BASELINE §8.8 — an OUTPUT property no exact algorithm avoids);
    // at real corpus near-dup density (1–10%) l24b hashes at any
    // scale, and l4c (the embedding twin, whose pair set IS tractable
    // at sf1) carries the sf1-hashed proof of the pattern. Division of
    // labor: l24 pins pair COMPLETENESS at gate scale; l24b pins the
    // label-join + matrix-aggregate layer wherever the pair set fits.
    // DedupSpec pins l24b ≡ l24 on the fixture.
    "l24b_overlap_matrix_dump" -> ((s, d) => {
      val path = policyDumpPath("l24b_pairs")
      jaccardVerifiedPairsComplete(s, d, 0.9)
        .select(col("d1"), col("d2"))
        .write.mode("overwrite").parquet(path)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      s.read.parquet(path)
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
        .groupBy(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // L2d: asymmetric CONTAINMENT dedup — C(a→b) = |kept(a)∩kept(b)| /
    // |kept(a)|: "how much of a is inside b". Catches what symmetric
    // jaccard (l2c) structurally misses: a short document wrapped in
    // boilerplate, a quoted passage, a subset page — jaccard divides by
    // the UNION, so a 100-shingle doc fully contained in a 10k-shingle
    // doc scores 0.01 jaccard but 1.0 containment.
    "l2d_containment" -> ((s, d) => containmentTopK(s, d, 20)),

    // L2G: survivor-POLICY oracle for the MinHash family (VERDICT r9
    // next #4). The probabilistic candidate generation stays spec-owned
    // (RECALL_r{N} covers its quality); what hash-checks here is the
    // REMOVAL layer — the layer where r9 found l2's real bug. The
    // engine dumps its verified pairs to a parquet side table, then
    // recomputes the survivor set FROM THAT DUMP; the DuckDB oracle
    // recomputes the same survivors from the same dump, so any drift in
    // the drop-the-larger-id policy (or in the dump itself) breaks the
    // hash. DedupSpec additionally pins l2g's survivors ≡ l2's.
    "l2g_minhash_policy" -> ((s, d) => {
      val path = policyDumpPath("l2g_pairs")
      minhashVerifiedPairs(Tables.documents(s, d))
        .write.mode("overwrite").parquet(path) // multi-part ok: the oracle globs *.parquet
      val removed = s.read.parquet(path)
        .select(col("d2").as("doc_id")).distinct()
      Tables.documents(s, d).join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
    }),

    // L2H: the same policy oracle for the SimHash family — verified
    // hamming≤3 pairs dumped, survivors recomputed from the dump by
    // both engines. DedupSpec pins l2h ≡ l2b2.
    "l2h_simhash_policy" -> ((s, d) => {
      val path = policyDumpPath("l2h_pairs")
      // same small-input stats gate as the production twin l2b2 (ADVICE
      // r10): unconditional coalesce(8) would serialize the band joins
      // onto 8 partitions on a big fixture, diverging from the scale
      // posture the twin is meant to mirror
      val small = Tables.isSmall(Tables.documents(s, d))
      val sh0 = queries("l2b_simhash")(s, d)
      val sh = if (small) sh0.coalesce(8) else sh0
      simhashBandPairs(sh, pinPartitions = if (small) Some(8) else None)
        .write.mode("overwrite").parquet(path) // multi-part ok: the oracle globs *.parquet
      val removed = s.read.parquet(path)
        .select(col("dst").as("doc_id")).distinct()
      Tables.documents(s, d).join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
    }),

    // L17: URL-level dedup — the FIRST dedup pass every web-crawl
    // curation recipe runs (CCNet, C4, RefinedWeb): canonicalize each
    // record's URL, keep one record per canonical URL. Canonicalization
    // is the standard normal form: strip the fragment, lowercase the
    // host, drop the scheme-default port, drop tracking params
    // (utm_*), sort the surviving query params, strip the trailing
    // slash. The fixture derives a deterministically MESSY url per doc
    // (case-shuffled host, optional :443, optional trailing slash,
    // shuffled param order, utm noise, fragment — the f11 derived-url
    // convention) where every doc_id % 500 group collapses to ONE
    // canonical URL. Everything canonicalizes per-row inside the scan
    // projection (codegen'd regexp/array ops, no UDF); the dedup is one
    // groupBy keyed on the canonical URL — the l1 exact-dedup plan
    // shape, one shuffle at any corpus size.
    "l17_url_dedup" -> ((s, d) => {
      // g collides at EVERY fixture SF (r12: % 500 left each article id
      // unique below 5000 docs, so the canon collapse never merged at
      // the sf0.001/sf0.01 correctness gates — vacuous there)
      val g = (col("doc_id") % 20).cast(StringType)
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, "Crawl.Example.COM")
          .when(col("doc_id") % 3 === 1, "crawl.example.com")
          .otherwise("CRAWL.EXAMPLE.COM"),
        when(col("doc_id") % 2 === 0, ":443").otherwise(""),
        lit("/articles/"), g,
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        lit("?"),
        when(col("doc_id") % 4 < 2, concat(lit("id="), g, lit("&ref=home")))
          .otherwise(concat(lit("ref=home&id="), g)),
        when(col("doc_id") % 2 === 1,
            concat(lit("&utm_source=feed&utm_campaign=c"),
              (col("doc_id") % 9).cast(StringType)))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, "#frag").otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), canonicalUrl(url).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dupes"))
    })
  )

  /** Canonical normal form of an absolute http(s) URL — l17's kernel,
    * all codegen'd regexp/array built-ins, no UDF: strip the fragment,
    * lowercase scheme and host, drop the scheme-default port (:443 for
    * https, :80 for http), drop tracking params (utm_*), sort the
    * surviving query params, strip the trailing slash. Idempotent and
    * mess-invariant by construction (PropertySpec law: any two messy
    * spellings of the same logical URL collapse to one string, and
    * canon ∘ canon = canon).
    */
  private[graft] def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rawHost = lower(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(rawHost, ":443$", ""))
      .when(scheme === "http", regexp_replace(rawHost, ":80$", ""))
      .otherwise(rawHost)
    val path = regexp_replace(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1), "/$", "")
    val params = array_join(sort_array(filter(
      split(regexp_extract(noFrag, "\\?([^#]*)", 1), "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(length(params) > 0, concat(lit("?"), params)).otherwise(lit("")))
  }

  /** Deterministic tmp location for a policy-oracle pair dump — shared
    * by the engine entry (writer) and its DuckDB oracle SQL (reader).
    * Within one Verify/check pass the write strictly precedes the read,
    * so the path is race-free; the working-directory hash tag keeps two
    * CHECKOUTS on one host from clobbering each other's dumps (the s11
    * cross-session lesson, ADVICE r8) while staying identical between
    * the entry and its oracle string (both interpolate at class init).
    *
    * The per-JVM nonce (ADVICE r10) is the freshness marker: the entry
    * and its oracle SQL interpolate the SAME nonce because they live in
    * one JVM, but a dump left by an OLDER run (or written concurrently
    * by a second session in the same checkout — bench alongside verify)
    * lands at a different path, so a stale or mid-overwrite read fails
    * loudly (no such file) instead of silently validating pairs
    * produced by other code. Nonce'd dumps from runs >6 h old are
    * pruned here (concurrent sessions are minutes apart; prior rounds'
    * dumps would otherwise accumulate in tmp forever).
    */
  private val policyRunNonce: String = java.lang.Long.toHexString(
    ProcessHandle.current().pid() * 1000003L ^
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  private[graft] def policyDumpPath(name: String): String = {
    val tag = Integer.toHexString(System.getProperty("user.dir").hashCode)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    val prefix = s"graft_${tag}_"
    try {
      val it = java.nio.file.Files.list(tmp).iterator()
      while (it.hasNext) {
        val p = it.next()
        val fn = p.getFileName.toString
        if (fn.startsWith(prefix) && fn.endsWith(s"_$name.parquet") &&
            !fn.contains(s"_${policyRunNonce}_") &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    } catch { case _: java.io.IOException => () } // pruning is best-effort
    tmp.resolve(s"${prefix}${policyRunNonce}_$name.parquet").toString
  }

  /** Exact top-k doc pairs by word-3-gram jaccard, via PREFIX FILTERING
    * (Chaudhuri et al., "A Primitive Operator for Similarity Joins",
    * ICDE 2006): with kept shingles in a fixed global order (rarest
    * first by corpus DF, ties by hash), any pair with
    * jaccard_kept ≥ T must share a shingle inside each side's first
    * ⌊(1−T)·n⌋+1 shingles — so only those short prefixes enter the
    * candidate self-join, instead of every co-shingle occurrence
    * feeding a pair groupBy (1.27M pair rows → ~tens of k at sf0.1).
    * Survivors are verified EXACTLY with array_intersect over the full
    * kept sets, and the reported score uses the full (pre-DF-filter)
    * set sizes, so score ≤ jaccard_kept and the prefix bound applies.
    *
    * Top-k needs a threshold to prune against, so the result is
    * CERTIFIED adaptively: if the k-th candidate score ≥ T, every
    * non-candidate pair scores < T ≤ s_k and the candidate top-k IS the
    * global top-k (exact, not approximate). Otherwise fall back to the
    * full co-occurrence join. The certificate is a bounded k-row
    * collect — the work is done either way and the returned frame is
    * the localized result, so downstream writes don't recompute.
    */
  def shingleJaccardTopK(s: SparkSession, d: String, k: Int,
      prefixT: Double = 0.9, maxDf: Int = 100): DataFrame = {
    // shingles travel as 64-bit hashes, not strings: same distinct set
    // (collision odds ~1e-10 at this vocabulary), half the explode/
    // shuffle bytes of the string form the oracle SQL uses — computed by
    // the one-node native ShingleHash expression (primitive loop, no
    // interpreted HOF lambdas, and a plan tree small enough that per-task
    // closure deserialization stops dominating the stage; see its doc).
    // fanOut: the shingle transform is the CPU-heavy part — without it
    // a one-row-group fixture file serializes it onto a single task.
    //
    // The per-doc array frame is CACHED (1 row/doc, 8 bytes/shingle):
    // both the corpus-DF aggregation and the occurrence probe side
    // consume it, and re-running the scan+kernel pipeline per consumer
    // was the measured triple-evaluation pattern of round 3.
    // Small-corpus gate (plan-time statistics, no count job — the
    // exactTopK pattern): under ~32 MB of scanned document bytes
    // (≈ 100k docs) the prefix explode and the kept-set dims are a few
    // MB, so broadcasting them turns the candidate self-join and both
    // verify joins into broadcast-hash joins, and the caches can compact
    // to modest parallelism. Above the gate the sides grow with the
    // corpus, so the equi-shuffle shape (what scales) is kept.
    val smallCorpus = Tables.isSmall(Tables.documents(s, d))
    def hint(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val arrs0 = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleHash.shingleHashes(split(col("text"), " ")).as("arr"))
      .select(col("doc_id"), size(col("arr")).as("n_sh"), col("arr"))
    val arrs = (if (smallCorpus) arrs0.coalesce(8) else arrs0).cache()
    arrs.count() // serialize the cache build across its two consumers
    val sh = arrs.select(col("doc_id"), col("n_sh"), explode(col("arr")).as("sh"))
    // Corpus DF per shingle as a partial-aggregating groupBy, NOT a
    // count window over the explode (the round-8 form): a window needs
    // every occurrence of one key on one task, and hot shingles
    // (boilerplate n-grams in a large fraction of a web corpus) are
    // precisely the rows this stage exists to drop — at 100 TB one task
    // would receive billions of rows before the filter ran, the only
    // skew-unsafe shuffle in the engine (VERDICT r8 #1). The groupBy's
    // map-side combine collapses even a 40%-of-corpus shingle to ONE row
    // per upstream partition before the shuffle, and the surviving
    // df ≤ maxDf table is rare-shingles-only: under the gate it
    // broadcasts (hot occurrences then drop map-side in the join, never
    // shuffling at all); above it the equi-join's probe shuffle is
    // AQE-skew-splittable — which a window, needing whole keys
    // colocated, never is.
    val dfTab = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val shF = sh.join(hint(dfTab), "sh")
    // per-doc kept set in global (df, sh) order; prefix = the slice the
    // theorem needs for threshold prefixT. n_sh (FULL distinct-shingle
    // count) rides along for the score denominator, nk = |kept| for the
    // length/positional filters. Prefix length via integer arithmetic:
    // nk − ⌈T·nk⌉ + 1 ≡ ⌊(1−T)·nk⌋ + 1 exactly, where the floating
    // float form under-counted by one whenever nk·(1−T) was a whole
    // number (1−0.9 = 0.09999…98, so nk=10 sliced 1 instead of 2 —
    // boundary-exact pairs could silently miss candidacy; ADVICE r8).
    // The 1e-9 slack guards ⌈⌉ against upward float error in T·nk; an
    // over-long prefix only ever ADDS candidates, never drops one.
    val docSets0 = shF
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("doc_id"), col("n_sh"),
        transform(col("ord"), x => x.getField("sh")).as("kept"))
      .select(col("doc_id"), col("n_sh"), col("kept"),
        size(col("kept")).as("nk"),
        slice(col("kept"), lit(1),
          (size(col("kept")) - ceil(size(col("kept")) * prefixT - lit(1e-9)) + 1)
            .cast(IntegerType))
          .as("pfx"))
    // Under the gate, store the cache in 8 partitions (coalesce, no extra
    // shuffle): every downstream stage over the cache then schedules 8
    // tasks instead of 32, and with ~150 ms/task of fixed plan-closure
    // deserialization cost that's most of the candidate stage's measured
    // 5-7 CPU-s gone. At scale the aggregation's own partitioning stands.
    val docSets = (if (smallCorpus) docSets0.coalesce(8) else docSets0)
      .cache() // feeds candidate gen, both verify sides, and the fallback
    // Materialize the cache BEFORE the joins consume it: the candidate
    // job launches its broadcast builds concurrently (pfx self-join side
    // plus both verify dims), and against a cold cache each future races
    // to evaluate the full scan→shingle→df pipeline itself — measured
    // three concurrent evaluations of the heaviest stage (~9+7+3 CPU-s at
    // sf0.1) before this count. One tiny job serializes it to exactly one.
    docSets.count()
    arrs.unpersist() // everything downstream reads docSets only
    // candidate generation with the two standard exact prunes on top of
    // the prefix theorem (cuts 118k → ~3k candidate pairs at sf0.1):
    //  - length filter: J_kept ≥ T ⇒ min(nk1,nk2) ≥ T·max(nk1,nk2)
    //  - positional filter: if the first shared element sits at 1-based
    //    positions (p1,p2), inter ≤ 1 + min(nk1−p1, nk2−p2), and
    //    J_kept ≥ T ⇒ inter ≥ T/(1+T)·(nk1+nk2). The 1e-9 slack keeps a
    //    boundary-exact candidate from being dropped by double rounding;
    //    it can never admit a false "maybe" below the true bound because
    //    adjacent feasible values differ by ≥ 1/(1+T).
    val pfx = docSets.select(col("doc_id"), col("nk"),
      posexplode(col("pfx")).as(Seq("pos0", "sh")))
    val tt = prefixT / (1 + prefixT)
    val cand = pfx.select(col("sh"), col("doc_id").as("d1"),
        col("nk").as("nk1"), (col("pos0") + 1).as("p1"))
      .join(hint(pfx.select(col("sh"), col("doc_id").as("d2"),
        col("nk").as("nk2"), (col("pos0") + 1).as("p2"))), "sh")
      .filter(col("d1") < col("d2"))
      .filter(col("nk1") >= lit(prefixT) * col("nk2") - lit(1e-9) &&
              col("nk2") >= lit(prefixT) * col("nk1") - lit(1e-9))
      .filter(lit(1) + least(col("nk1") - col("p1"), col("nk2") - col("p2"))
        >= lit(tt) * (col("nk1") + col("nk2")) - lit(1e-9))
      .select(col("d1"), col("d2")).distinct()
    // Both verify dims are the SAME subtree (no per-side aliasing inside
    // the broadcast): canonically-equal BroadcastExchanges collapse into
    // one build + a ReusedExchange, where the aliased form built the same
    // 5000-row relation twice.
    // kept rides VALUE-SORTED into the verify dim (r18): the cached kept
    // arrays are df-ordered (the prefix theorem's order), so
    // IntersectCount's sortIfNeeded re-sorted BOTH sides on EVERY
    // candidate pair — one sort_array per DOC here replaces two
    // ~|kept|·log sorts per PAIR there (O(docs) vs O(candidates) sorts;
    // the set-intersection count is order-invariant, so the verified
    // pair set is unchanged).
    val dim = hint(docSets.select(col("doc_id"), col("n_sh"),
      sort_array(col("kept")).as("kept")))
    val candTop = cand
      .join(dim, col("d1") === dim("doc_id"))
      .select(col("d1"), col("d2"), col("n_sh").as("n1"), col("kept").as("k1"))
      .join(dim, col("d2") === dim("doc_id"))
      .select(col("d1"), col("d2"),
        graft.functions.TokenHashKernels.intersectCount(col("k1"), col("kept"))
          .as("inter"),
        col("n1"), col("n_sh").as("n2"))
      .select(col("d1"), col("d2"),
        (col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(k)
    val top = candTop.collect() // bounded: ≤ k rows (the certificate)
    if (top.length == k && top.map(_.getDouble(2)).min >= prefixT) {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(top.toSeq.asJava, candTop.schema)
    } else {
      // certificate failed (corpus has < k pairs above prefixT): exact
      // full co-occurrence join, pair groupBy keyed on (d1,n1,d2,n2) so
      // jaccard divides in place with no sizes re-join. The kept-shingle
      // explode is re-derived from the already-cached docSets (kept
      // arrays carry exactly the DF-filtered shingles), so this branch
      // re-reads a 1-row-per-doc cache instead of re-running the
      // scan+shingle pipeline — and the certificate path pays no cache
      // for an input only this rare branch would reuse.
      val f = docSets.select(col("doc_id"), col("n_sh"),
        explode(col("kept")).as("sh"))
      f.select(col("sh"), col("doc_id").as("d1"), col("n_sh").as("n1"))
        .join(f.select(col("sh"), col("doc_id").as("d2"), col("n_sh").as("n2")), "sh")
        .filter(col("d1") < col("d2"))
        .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("inter"))
        .select(col("d1"), col("d2"),
          (col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("d1"), col("d2"))
        .limit(k)
    }
  }

  /** Top-k ordered pairs by shingle CONTAINMENT C(a→b) =
    * |kept(a)∩kept(b)| / |kept(a)| among pairs with C ≥ `t`, kept =
    * corpus-DF ≤ `maxDf` word-3-gram hashes (the same kept space and
    * kernels as [[shingleJaccardTopK]]).
    *
    * Prefix filter, asymmetric form: order each doc's kept shingles
    * rarest-first; if C(a→b) ≥ t, then a's first ⌊(1−t)·|kept(a)|⌋+1
    * shingles must intersect kept(b) — so candidates come from joining
    * a-PREFIXES against the full kept occurrence list (not prefix ×
    * prefix: containment's bound constrains only the contained side).
    * Unlike l2c's global top-k, the ≥ t cut makes the candidate set
    * provably complete by construction — no certificate or fallback
    * join is needed. One length prune applies: |kept(b)| ≥ t·|kept(a)|.
    * Verification is exact (array_intersect over cached kept arrays);
    * at scale every stage is a shuffle or broadcast the corpus size
    * justifies (the gates mirror l2c's).
    */
  def containmentTopK(s: SparkSession, d: String, k: Int,
      t: Double = 0.9, maxDf: Int = 100): DataFrame = {
    val smallCorpus = Tables.isSmall(Tables.documents(s, d))
    def hint(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val arrs0 = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleHash.shingleHashes(split(col("text"), " ")).as("arr"))
    val arrs = (if (smallCorpus) arrs0.coalesce(8) else arrs0).cache()
    arrs.count() // serialize the cache build across its two consumers
    val sh = arrs.select(col("doc_id"), explode(col("arr")).as("sh"))
    // corpus DF via partial-agg groupBy + join-back, not a count window —
    // the skew-safe form; rationale in [[shingleJaccardTopK]]
    val dfTab = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val shF = sh.join(hint(dfTab), "sh")
    // prefix length nk − ⌈t·nk⌉ + 1: the exact integer form of
    // ⌊(1−t)·nk⌋ + 1 (the float form lost one element whenever nk·(1−t)
    // was whole — ADVICE r8 medium: nk=10, t=0.9 sliced 1 instead of 2,
    // so pairs at containment exactly t could miss candidacy while the
    // verify filter and the oracle both accept them)
    val docSets0 = shF.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("sh")).as("kept"))
      .select(col("doc_id"), col("kept"), size(col("kept")).as("nk"),
        slice(col("kept"), lit(1),
          (size(col("kept")) - ceil(size(col("kept")) * t - lit(1e-9)) + 1)
            .cast(IntegerType)).as("pfx"))
    val docSets = (if (smallCorpus) docSets0.coalesce(8) else docSets0).cache()
    docSets.count() // serialize the cache build (see shingleJaccardTopK)
    arrs.unpersist() // everything downstream reads docSets only
    // b-side kept occurrences re-derived from the CACHED kept arrays —
    // one cache read instead of re-running the scan→shingle→window
    // pipeline a second time (same trick as l2c's fallback branch)
    val cand = hint(docSets.select(col("doc_id").as("d1"), explode(col("pfx")).as("sh")))
      .join(docSets.select(col("doc_id").as("d2"), explode(col("kept")).as("sh")), "sh")
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // value-sorted verify dim — the shingleJaccardTopK r18 rationale:
    // one sort per doc instead of two per candidate pair
    val dim = hint(docSets.select(col("doc_id"), col("nk"),
      sort_array(col("kept")).as("kept")))
    cand
      .join(dim, col("d1") === dim("doc_id"))
      .select(col("d1"), col("d2"), col("nk").as("nk1"), col("kept").as("k1"))
      .join(dim, col("d2") === dim("doc_id"))
      .filter(col("nk") >= col("nk1") * t - lit(1e-9))
      .select(col("d1"), col("d2"), col("nk1"),
        graft.functions.TokenHashKernels.intersectCount(col("k1"), col("kept"))
          .as("inter"))
      .filter(col("inter") >= col("nk1") * t - lit(1e-9))
      .select(col("d1"), col("d2"),
        round(col("inter").cast(DoubleType) / col("nk1"), 6).as("containment"))
      .orderBy(col("containment").desc, col("d1"), col("d2"))
      .limit(k)
  }

  /** Survivors of EXACT jaccard-threshold dedup over distinct unigram
    * token sets: doc b is removed iff some a < b has
    * |toks(a)∩toks(b)| / |toks(a)∪toks(b)| ≥ t. Same candidate
    * machinery as [[shingleJaccardTopK]] (df-rarest-first global order,
    * per-side prefix of n−⌈t·n⌉+1 elements, length + positional
    * prunes, exact array_intersect verify) applied to TOKEN hashes with
    * no df cut — the prefix theorem needs a consistent total order, and
    * rarest-first keeps the prefix join selective; every stage is the
    * skew-safe partial-agg/join shape l2c uses. Unlike l2's LSH path
    * this is deterministic and complete at the threshold, so it carries
    * the dedup family's DuckDB oracle.
    */
  def jaccardDedup(s: SparkSession, d: String, t: Double = 0.9): DataFrame = {
    val (repPairs, members) = jaccardRepLevel(s, d, t)
    // removal policy: doc b goes iff some a < b with jaccard ≥ t —
    // rep-level pair targets (d2 is never the smaller of its pair) plus
    // every non-rep member of an identical-set group (its rep is the
    // group min, hence a smaller exact duplicate)
    val removed = repPairs.select(col("d2").as("doc_id"))
      .unionByName(members.filter(col("rep") =!= col("doc_id"))
        .select(col("doc_id")))
      .distinct()
    Tables.documents(s, d).join(removed, Seq("doc_id"), "left_anti")
  }

  /** All verified token-set-jaccard ≥ t pairs (smaller doc_id first),
    * COMPLETE over the corpus: [[jaccardRepLevel]]'s rep-level verify
    * (recall 1.0 at the ≥t cut) expanded back through the exact-set
    * collapse — every member of an identical-token-set group inherits
    * each pair of its rep (identical sets ⇒ identical jaccard to any
    * third doc), and each group contributes its internal pairs (jaccard
    * exactly 1). The two unions are disjoint by construction (expanded
    * pairs cross set groups, internal pairs stay within one), so no
    * distinct is needed. Expansion joins are membership-keyed equi
    * joins — group-count-sized, never corpus-quadratic.
    */
  def jaccardVerifiedPairsComplete(s: SparkSession, d: String,
      t: Double = 0.9): DataFrame = {
    val (repPairs, members) = jaccardRepLevel(s, d, t)
    val expanded = repPairs
      .join(members.select(col("rep").as("d1"), col("doc_id").as("m1")), "d1")
      .join(members.select(col("rep").as("d2"), col("doc_id").as("m2")), "d2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"))
    val within = members.select(col("rep"), col("doc_id").as("m1"))
      .join(members.select(col("rep"), col("doc_id").as("m2")), "rep")
      .filter(col("m1") < col("m2"))
      .select(col("m1").as("d1"), col("m2").as("d2"))
    expanded.unionByName(within)
  }

  /** Shared engine of [[jaccardDedup]] / [[jaccardVerifiedPairsComplete]]:
    * exact jaccard-threshold verify over set-distinct representatives.
    * Returns (repPairs, members): repPairs = verified (d1 < d2, both
    * reps, jaccard ≥ t); members = (rep, doc_id) for EVERY doc — a rep
    * is its own member, so the map is total.
    */
  private def jaccardRepLevel(s: SparkSession, d: String,
      t: Double): (DataFrame, DataFrame) = {
    val smallCorpus = Tables.isSmall(Tables.documents(s, d))
    def hint(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val arrs0 = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TokenHashKernels.tokenHashes(split(col("text"), " ")).as("arr"))
    val arrsAll = (if (smallCorpus) arrs0.coalesce(8) else arrs0).cache()
    arrsAll.count()
    // SET-EXACT pre-collapse (the minhashDedup layering applied here):
    // docs with identical distinct-token sets are duplicates at any
    // t ≤ 1 — keep the min doc_id per set, mark the rest removed, and
    // run the prefix join over set-distinct reps only. Semantics are
    // unchanged: a removed member's rep has the same jaccard to every
    // other doc, so any "smaller similar partner" witness survives the
    // collapse. On exact-dup-heavy corpora this deletes the quadratic
    // within-group candidate mass before it exists. Array equality is
    // checked exactly — the hash only buckets.
    val keyed = arrsAll.select(col("doc_id"), col("arr"),
      xxhash64(col("arr")).as("k"))
    val setReps = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
    val repArr = keyed.join(setReps.select(col("rep")), col("doc_id") === col("rep"))
      .select(col("k"), col("rep"), col("arr").as("rep_arr"))
    val membership = keyed.join(hint(repArr), "k")
      .filter(col("arr") === col("rep_arr"))
      .select(col("rep"), col("doc_id"))
    val arrs = keyed.join(hint(setReps.select(col("rep").as("doc_id"))), "doc_id")
      .select(col("doc_id"), col("arr"))
    val tk = arrs.select(col("doc_id"), explode(col("arr")).as("tok"))
    val dfTab = tk.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val docSets0 = tk.join(hint(dfTab), "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"),
        transform(col("ord"), x => x.getField("tok")).as("kept"))
      .select(col("doc_id"), col("kept"), size(col("kept")).as("nk"),
        slice(col("kept"), lit(1),
          (size(col("kept")) - ceil(size(col("kept")) * t - lit(1e-9)) + 1)
            .cast(IntegerType)).as("pfx"))
    val docSets = (if (smallCorpus) docSets0.coalesce(8) else docSets0).cache()
    docSets.count()
    // pin the membership map (slim two-long-column frame) before
    // releasing the array cache both it and docSets derive from
    val membershipCk = membership.localCheckpoint()
    arrsAll.unpersist()
    val pfx = docSets.select(col("doc_id"), col("nk"),
      posexplode(col("pfx")).as(Seq("pos0", "tok")))
    val tt = t / (1 + t)
    val candPairs = pfx.select(col("tok"), col("doc_id").as("d1"),
        col("nk").as("nk1"), (col("pos0") + 1).as("p1"))
      .join(hint(pfx.select(col("tok"), col("doc_id").as("d2"),
        col("nk").as("nk2"), (col("pos0") + 1).as("p2"))), "tok")
      .filter(col("d1") < col("d2"))
      .filter(col("nk1") >= lit(t) * col("nk2") - lit(1e-9) &&
              col("nk2") >= lit(t) * col("nk1") - lit(1e-9))
      .filter(lit(1) + least(col("nk1") - col("p1"), col("nk2") - col("p2"))
        >= lit(tt) * (col("nk1") + col("nk2")) - lit(1e-9))
      .select(col("d1"), col("d2"))
    // Verify width pin: on the broadcast path the exact-intersect stage
    // runs in the SAME stage as the candidate-distinct final aggregate,
    // so it inherits that exchange's AQE-coalesced width — and AQE
    // coalesces by BYTES while verify cost is CPU per pair (sf0.1: the
    // ~4 MB id-pair shuffle coalesced to 3 tasks burning 13-26 s of
    // CPU). Pinning must happen ON the distinct's exchange itself — a
    // repartition AFTER the distinct has the identical partitioning and
    // EnsureRequirements elides it. REPARTITION_BY_NUM is exempt from
    // coalescing (the l3b bucket-join pattern); the distinct reuses it
    // with no extra exchange. On the large-corpus path the dim joins
    // shuffle by key themselves, so nothing is pinned there.
    val candD = candPairs.distinct()
    val cand = if (smallCorpus)
        candD.repartition(s.sparkContext.defaultParallelism, col("d1"))
      else candD
    // value-sorted verify dim — the shingleJaccardTopK r18 rationale:
    // one sort per doc instead of two per candidate pair
    val dim = hint(docSets.select(col("doc_id"), col("nk"),
      sort_array(col("kept")).as("kept")))
    val repPairs = cand
      .join(dim, col("d1") === dim("doc_id"))
      .select(col("d1"), col("d2"), col("nk").as("n1"), col("kept").as("k1"))
      .join(dim, col("d2") === dim("doc_id"))
      .select(col("d1"), col("d2"),
        graft.functions.TokenHashKernels.intersectCount(col("k1"), col("kept"))
          .cast(DoubleType).as("inter"),
        col("n1"), col("nk").as("n2"))
      .filter(col("inter") / (col("n1") + col("n2") - col("inter")) >= t)
      .select(col("d1"), col("d2"))
    (repPairs, membershipCk)
  }

  val oracles: Map[String, String] = Map(
    // l2g/l2h: the oracle consumes the ENGINE's verified-pair dump (see
    // policyDumpPath — written by the same query earlier in the same
    // Verify pass) and independently recomputes the survivor set, so
    // the removal policy is hash-checked while candidate generation
    // stays spec-owned.
    "l2g_minhash_policy" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT d2 FROM
         |  read_parquet('${policyDumpPath("l2g_pairs")}/*.parquet'))""".stripMargin,

    "l2h_simhash_policy" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT dst FROM
         |  read_parquet('${policyDumpPath("l2h_pairs")}/*.parquet'))""".stripMargin,

    // l2d: the quadratic co-occurrence CTE is the blow-up the engine's
    // prefix filter avoids — fine as an oracle at gate scale, never the
    // engine plan (same stance as l2c's oracle note).
    "l2d_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh
        |  FROM toks WHERE len(t) >= 3
        |), keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100
        |), shf AS (
        |  SELECT sh.doc_id, sh.sh FROM sh JOIN keep USING (sh)
        |), ksz AS (
        |  SELECT doc_id, COUNT(*) AS nk FROM shf GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2,
        |  ROUND(CAST(inter AS DOUBLE) / nk, 6) AS containment
        |FROM pairs JOIN ksz ON ksz.doc_id = d1
        |WHERE CAST(inter AS DOUBLE) / nk >= 0.9
        |ORDER BY containment DESC, d1, d2 LIMIT 20""".stripMargin,

    "m12_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id, md5(text) AS text_md5
        |  FROM documents WHERE doc_id % 10 = 0
        |), firsts AS (
        |  SELECT min(doc_id) AS doc_id, text_md5,
        |    COUNT(*) AS n_batch_copies
        |  FROM batch GROUP BY text_md5
        |), corpus AS (
        |  SELECT DISTINCT md5(text) AS text_md5
        |  FROM documents WHERE doc_id % 10 <> 0
        |)
        |SELECT f.doc_id, f.text_md5, f.n_batch_copies
        |FROM firsts f LEFT JOIN corpus c USING (text_md5)
        |WHERE c.text_md5 IS NULL""".stripMargin,

    "l1_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, text FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT min(doc_id) AS doc_id, md5(text) AS text_md5,
        |  COUNT(*) AS n_copies
        |FROM all_docs GROUP BY md5(text)""".stripMargin,

    // l24b: the LINEAR twin — the oracle aggregates the engine's own
    // pair dump (l2g/l2h's pattern), so it runs at any corpus size;
    // completeness of the dump itself stays pinned by l24 at gate scale
    "l24b_overlap_matrix_dump" ->
      s"""SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  COUNT(*) AS n_pairs
         |FROM read_parquet('${policyDumpPath("l24b_pairs")}/*.parquet') p
         |JOIN documents a ON p.d1 = a.doc_id
         |JOIN documents b ON p.d2 = b.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // l24: same quadratic-oracle stance as l2e, aggregated per source
    // pair — agreement proves the engine's expanded pair set is exactly
    // the ≥t pair set, source labels included
    "l24_cross_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents
        |), pairs AS (
        |  SELECT least(a.source, b.source) AS source_a,
        |         greatest(a.source, b.source) AS source_b
        |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |        / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
        |        >= 0.9
        |)
        |SELECT source_a, source_b, COUNT(*) AS n_pairs
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    // l2e: the quadratic pair join is the oracle-side blow-up the
    // engine's prefix filter refuses at scale (same stance as l2c/l2d's
    // oracles). Both sides compute inter/(n1+n2-inter) in IEEE double
    // against the same 0.9 literal, so the threshold cut is identical.
    "l2e_jaccard_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    len(list_intersect(a.tk, b.tk)) AS inter,
        |    len(a.tk) AS n1, len(b.tk) AS n2
        |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        |), removed AS (
        |  SELECT DISTINCT d2 FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.9
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d LEFT JOIN removed r ON d.doc_id = r.d2
        |WHERE r.d2 IS NULL""".stripMargin,

    "l2c_shingle_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS sh
        |  FROM toks WHERE len(t) >= 3
        |), keep AS (
        |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100
        |), shf AS (
        |  SELECT sh.doc_id, sh.sh FROM sh JOIN keep USING (sh)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2,
        |  CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard
        |FROM pairs
        |  JOIN sizes s1 ON s1.doc_id = d1
        |  JOIN sizes s2 ON s2.doc_id = d2
        |ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin,

    // l17: DuckDB re-derives the same messy url and canonicalizes with
    // its own regexp/list functions (list_filter + starts_with instead
    // of Spark's filter + startsWith; LIKE would wildcard the '_').
    "l17_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE doc_id % 3 WHEN 0 THEN 'Crawl.Example.COM'
        |         WHEN 1 THEN 'crawl.example.com'
        |         ELSE 'CRAWL.EXAMPLE.COM' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
        |    '/articles/' || (doc_id % 20) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || '?' ||
        |    CASE WHEN doc_id % 4 < 2 THEN 'id=' || (doc_id % 20) || '&ref=home'
        |         ELSE 'ref=home&id=' || (doc_id % 20) END ||
        |    CASE WHEN doc_id % 2 = 1
        |         THEN '&utm_source=feed&utm_campaign=c' || (doc_id % 9)
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents
        |), nf AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u
        |), c AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(u, '^https://([^/?#]+)', 1)),
        |      ':443$', '') AS host,
        |    regexp_replace(regexp_extract(u, '^https://[^/?#]+(/[^?#]*)', 1),
        |      '/$', '') AS path,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(u, '\?([^#]*)', 1), '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') AS params
        |  FROM nf
        |)
        |SELECT 'https://' || host || path ||
        |    CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon_url,
        |  min(doc_id) AS doc_id, COUNT(*) AS n_dupes
        |FROM c GROUP BY 1""".stripMargin
  )
}
