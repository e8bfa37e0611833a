package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines over the `documents` table:
 * quality scoring (length / punctuation / stopword ratios), token counting
 * (whitespace + a BPE-ish piece estimate), language-ID (stopword-list n-gram
 * heuristic) and document fingerprinting (rolling polynomial hash).
 *
 * All metrics are deterministic expression pipelines; ratios are integer-ratio
 * divisions so the oracle matches bit-for-bit.
 */
object TextAnalysis {

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "of", "to", "and", "in", "is", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "den", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "des", "du"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "en", "que"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"))

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Quality metrics per doc. */
  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars"),
        size(col("ws")).as("n_words"),
        expr("if(size(ws) = 0, CAST(null AS DOUBLE), " +
          "aggregate(ws, 0L, (a, w) -> a + length(w)) / CAST(size(ws) AS DOUBLE))").as("mean_word_len"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("n_punct"),
        expr(s"size(filter(ws, w -> w IN ${inList(Stopwords("en"))}))").as("n_stopwords"),
        expr(s"if(size(ws) = 0, CAST(null AS DOUBLE), " +
          s"size(filter(ws, w -> w IN ${inList(Stopwords("en"))})) / CAST(size(ws) AS DOUBLE))").as("stopword_ratio"))

  /** Token counts: whitespace tokens + a BPE-ish subword piece estimate:
   * pieces(w) = ceil(length(w) / 4) (4 chars/piece), the standard rough estimator. */
  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_tokens_ws"),
        expr("aggregate(ws, 0L, (a, w) -> a + CAST(ceil(length(w) / 4.0) AS BIGINT))").as("n_pieces_bpe"),
        length(col("text")).as("n_chars"))

  /** Language-ID heuristic: argmax over languages of stopword hits; ties break by
   * language code ascending. (The corpus text is synthetic, so this checks the
   * *pipeline*, not linguistic accuracy.) */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .withColumn("scores", expr(
        "array(" + Stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"struct('$l' AS lang, size(filter(ws, w -> w IN ${inList(ws)})) AS hits)"
        }.mkString(", ") + ")"))
      // argmax: keep max (hits, reversed-lang) via array_max over struct ordering —
      // struct compares fieldwise, so order (hits, lang_desc_proxy) picks hits desc,
      // then lang asc via negated comparison trick: sort and take last with max hits.
      .withColumn("best", expr(
        "element_at(filter(scores, s -> s.hits = array_max(transform(scores, x -> x.hits))), 1)"))
    scored.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        expr("best.lang").as("predicted_lang"),
        expr("best.hits").as("hits"))
  }

  /** Rolling polynomial fingerprint over word hashes: acc = (acc * 131 + h60(w)) mod 1e15. */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .select(
        col("doc_id"),
        expr("aggregate(ws, 0L, (acc, w) -> pmod(acc * 131 + " +
          graft.dedup.Dedup.h60("w") + ", 1000000000000000))").as("fingerprint"),
        size(col("ws")).as("n_words"))

  /**
   * Composed corpus-curation pass (q_corpus_filter) — the actual shape of a
   * training-data filter: exact-dedup keepers x quality thresholds (n_words >= 5,
   * defined stopword ratio) x predicted language, rolled up per language. Each
   * leg is its own gate-checked operator; this gate checks the COMPOSITION — all
   * three joins are doc_id-keyed hash joins on already-reduced frames, so at
   * 10^12 docs the pass is one shuffle per leg plus the final tiny aggregation.
   */
  def corpusFilterQuery(spark: SparkSession, dir: String): DataFrame = {
    val quality = qualityQuery(spark, dir)
      .select("doc_id", "n_words", "n_chars", "stopword_ratio")
    val lang = langIdQuery(spark, dir).select("doc_id", "predicted_lang")
    val keepers = graft.dedup.Dedup.exactQuery(spark, dir)
      .select(col("keep_doc_id").as("doc_id")).distinct()
    quality.join(lang, Seq("doc_id")).join(keepers, Seq("doc_id"))
      .where(col("n_words") >= 5 && col("stopword_ratio").isNotNull)
      .groupBy("predicted_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("words_sum"),
        sum("n_chars").as("chars_sum"),
        sum(expr(graft.exprs.Kernels.q6Sql("stopword_ratio")))
          .as("stop_ratio_sum_q"))
  }

  /**
   * Per-source vocabulary statistics (the Zipf/Heaps audit a corpus report
   * ships): type and token counts, hapax legomena, top-10-word mass, and their
   * parts-per-million ratios — all integer division, so the twin is exact.
   *
   * Scale: one (source, word) hash aggregation with map-side combine; the
   * top-10 rank is a per-source window over the TYPE frame (types per source
   * ~10^7 even at web scale — a bounded partition, unlike the doc stream).
   */
  def vocabStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    val wc = docs(spark, dir)
      .select(col("source"),
        explode(expr("filter(split(lower(text), ' '), w -> w != '')")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    wc.withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(desc("cnt"), asc("w"))))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_types"),
        sum("cnt").as("n_tokens"),
        sum(expr("CAST(cnt = 1 AS BIGINT)")).as("n_hapax"),
        sum(expr("IF(rn <= 10, cnt, 0L)")).as("top10_mass"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"), col("top10_mass"),
        expr("(n_types * 1000000) div n_tokens").as("ttr_ppm"),
        expr("(top10_mass * 1000000) div n_tokens").as("top10_ppm"),
        expr("(n_hapax * 1000000) div n_types").as("hapax_ppm"))
  }
}
