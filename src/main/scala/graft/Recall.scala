package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall artifact for the approximate-similarity entries (VERDICT r2
  * stretch #8): the l3b/l3c/l3d queries are declared rows-only in the
  * driver's correctness gate (no SQL oracle can express them), so this
  * artifact makes their QUALITY machine-checkable per round — recall@k of
  * each ANN variant against the exact brute-force top-k over the same
  * embeddings, exactly as SimilaritySpec/PqSpec pin it, but emitted as
  * a JSON artifact (RECALL_r{N}.json) instead of a pass/fail assert.
  *
  *   sbt "runMain graft.Diag recall /root/testdata/sf0.01 RECALL_r03.json"
  */
object Recall {
  /** Compute the recall artifact on an existing session (shared with
    * [[Verify.dump]], which regenerates it every driver round). */
  def run(spark: SparkSession, sfDir: String, out: String): Unit = {
    val k = 3
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("vec_id"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val emb = Tables.embeddings(spark, sfDir)
    val exact = pairs(operators.Similarity.bruteTopK(emb, k))
    // the same invocations SparkEntry.queries ships (k pinned there too)
    val variants: Seq[(String, DataFrame)] = Seq(
      "l3b_ann_lsh" -> operators.Similarity.annTopK(emb, k),
      "l3c_ann_ivf" -> operators.Similarity.ivfTopK(emb, k),
      "l3d_pq_topk" -> operators.Pq.pqTopK(emb, k),
      // int8-dot re-rank (r14): the SQ quartet row — ranking by the
      // quantized dot must stay near the exact float ranking
      "l3h_sq_rerank" -> operators.Pq.sqTopK(emb, k),
      // IVF-PQ (r14): coarse routing × PQ scoring compound — the
      // at-scale layout's recall rides both quantizers at once
      "l3i_ivfpq" -> operators.Pq.ivfPqTopK(emb, k))

    val entries = variants.map { case (name, df) =>
      val got = pairs(df)
      val recall = if (exact.isEmpty) 0.0 else (got & exact).size.toDouble / exact.size
      // Locale.ROOT: f"%.4f" under a comma-decimal default locale
      // (de_DE etc.) would emit invalid JSON
      val r4 = String.format(java.util.Locale.ROOT, "%.4f", Double.box(recall))
      s""""$name":{"recall_at_$k":$r4,"hits":${(got & exact).size},"returned":${got.size}}"""
    }
    val json = s"""{"sf":"$sfDir","k":$k,"exact_pairs":${exact.size},""" +
      entries.mkString("", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
  }
}
