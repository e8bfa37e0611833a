package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/**
 * Sparse lexical retrieval over the `documents` corpus — BM25 (Robertson/
 * Sparck Jones, k1 = 1.2, b = 0.75), the standard quality-retrieval pass a
 * training-data pipeline runs for corpus search, hard-negative mining, and
 * retrieval-based decontamination.
 *
 * Exactness discipline: idf is the UN-LOGGED Robertson odds ratio
 * ((N - df + 0.5) / (df + 0.5)) held on a 2^20 integer grid — floating log is
 * not cross-engine exact, and the integer floor-log2 idiom collapses to 0 bits
 * on corpora whose words all sit above df = N/2 (this fixture: 31-word vocab,
 * df 25..402 of 500). The odds ratio is strictly monotone in df, so per-term
 * ranking is preserved; rare terms weigh more than the logged form — that is
 * this engine's documented scoring spec. The tf saturation term is a chain of
 * single correctly-rounded IEEE ops evaluated in a textually identical tree in
 * the DuckDB twin; each per-term contribution is dyadically quantized to a
 * BIGINT BEFORE the per-doc sum, so the score sum is order-independent integer
 * arithmetic.
 *
 * Scale posture: the posting-list tf aggregation is the one corpus-wide
 * shuffle (map-side combined, keyed by (doc, word)); document frequencies
 * reduce to one row per word; the query-term table (queries x terms) and the
 * corpus scalars (N, sum dl) broadcast back onto the postings, so scoring is
 * a broadcast-hash join + integer rollup keyed by (query, doc) — no cartesian,
 * no driver loop, the same plan at 10^12 docs.
 */
object Retrieval {

  /** (doc_id, dl, w, tf) posting list + per-doc length over the whitespace tokens. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    Dedup.docs(spark, dir).select("doc_id", "text")
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .withColumn("dl", size(col("ws")))
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))

  /**
   * q_bm25: the first `nQueries` docs act as queries; each query's terms are
   * its `nTerms` rarest distinct words (df asc, then w asc — the highest-idf
   * terms the doc offers, never empty on any vocabulary). Top-k docs per query
   * by quantized BM25 score (ties: doc_id asc). On the fixture's 31-word vocab
   * every doc holds most words, so ranking is driven by rare-term tf x length
   * normalization (self-retrieval is NOT guaranteed — query docs carry tf = 1
   * of their own rare terms); the spec pins the scoring function, not a
   * relevance judgment.
   */
  def bm25Query(spark: SparkSession, dir: String,
      nQueries: Int = 5, nTerms: Int = 3, k: Int = 5): DataFrame = {
    val tf = postings(spark, dir)
    val stats = Dedup.docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("ws"))).as("sum_dl"))
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qterms = tf.where(col("doc_id") < nQueries)
      .join(dfT, Seq("w"))
      .withColumn("tr", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("w"))))
      .where(col("tr") <= nTerms)
      .select(col("doc_id").as("query_id"), col("w"), col("df"))
    val scored = tf.join(broadcast(qterms), Seq("w"))
      .crossJoin(broadcast(stats))
      // odds-ratio idf on the 2^20 grid: ((N - df) * 2 + 1) / (df * 2 + 1)
      // is (N - df + 0.5) / (df + 0.5) — pure integers, full resolution.
      .withColumn("idf_q", expr("(((n_docs - df) * 2 + 1) * 1048576) div (df * 2 + 1)"))
      // tf saturation: every op below is one correctly-rounded IEEE double op
      // on bit-identical inputs; the DuckDB twin shares the exact tree.
      .withColumn("contrib_q", expr(graft.exprs.Kernels.gridSql(
        "CAST(idf_q AS DOUBLE) * " +
          "(CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * " +
          "(CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))")))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib_q").as("score_q"), count(lit(1)).as("n_terms_hit"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("score_q"), asc("doc_id"))))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_q", "n_terms_hit")
  }
}
