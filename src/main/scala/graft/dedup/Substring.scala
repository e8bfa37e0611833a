package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Substring-level duplication analysis — the companion to document-level
 * dedup: how much of each document's token stream is covered by K-gram spans
 * that occur elsewhere in the corpus (the signal exact-substring dedup tools
 * remove from training data; doc-level MinHash can't see a duplicated
 * paragraph inside an otherwise unique page).
 *
 * Shape: positional K-gram hashes -> corpus-wide multiplicity -> per-doc
 * interval union of the duplicated spans. All arithmetic is integer, so the
 * DuckDB twin is exact.
 *
 * Scale: the positional-shingle frame is ~n_words rows per doc; the
 * multiplicity pass is one map-side-combined hash aggregation keyed by the
 * 60-bit span hash, and the join back is an equi-join on the same key — the
 * one genuinely corpus-wide shuffle, exactly as in suffix-array-based
 * dedup's merge step. The interval union is a per-doc window (narrow after
 * the doc_id shuffle). Duplicated-hash set size is proportional to the
 * duplicated mass, not the corpus.
 */
object Substring {

  import Dedup.{augmented, h60}

  /** Span length in words (13 in production substring dedup; 8 because the
   * fixture docs are ~40 words). */
  val SubK = 8

  def dupMassQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = augmented(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .where(size(col("ws")) >= SubK)
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n_words"))
    val pos = base
      .select(col("doc_id"), col("n_words"),
        posexplode(expr(
          s"transform(sequence(0, size(ws) - $SubK), i -> concat_ws(' ', slice(ws, i + 1, $SubK)))"))
          .as(Seq("i", "g")))
      .withColumn("h", expr(h60("g")))
      .select("doc_id", "n_words", "i", "h")
    val dupH = pos.groupBy("h").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("h")
    val dupPos = pos.join(dupH, Seq("h")).select("doc_id", "i")
    val win = Window.partitionBy("doc_id").orderBy("i")
    val per = dupPos
      .withColumn("nx", lead("i", 1).over(win))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_pos"),
        sum(expr(s"least($SubK, coalesce(nx - i, $SubK))")).as("dup_mass"))
    base.select("doc_id", "n_words")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("dup_mass"), lit(0L)).as("dup_mass"))
      .withColumn("dup_frac_q",
        expr(graft.exprs.Kernels.gridSql("dup_mass * 1.0E6 / n_words")))
      .withColumn("dup_heavy", expr("CAST(dup_frac_q >= 500000 AS BIGINT)"))
  }
}
