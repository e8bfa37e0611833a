package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures

/**
 * Explicit skew-salted equi-join — the north rule's "salted range-partitioned
 * sort-merge with explicit AQE skew splitting for dense orbit tracks". When one
 * join key (a dense orbit track: a scene_id holding a disproportionate share of
 * the media spans) concentrates the fact volume, a plain shuffled join puts that
 * key's entire volume in one task and the stage runs at the speed of its hottest
 * key. Salting splits it EXPLICITLY (independent of AQE, which this composes
 * with): the fact side gets a deterministic per-row salt in [0, S); the dimension
 * side replicates S ways; the join key becomes (key, salt), spreading each hot
 * key over S tasks. Semantics-preserving — the gate's DuckDB oracle is the plain
 * UNSALTED join.
 */
object SkewJoin {

  val Salts = 8

  /** Join `facts` to `dims` on `keys`, salting the fact side `salts` ways.
   * `saltSrc` must be a deterministic per-row column (hashed to the salt). The
   * dim side is hinted into a sort-merge join so the salted shuffle is the real
   * plan under test (a tiny dim would otherwise auto-broadcast and hide it). */
  def salted(facts: DataFrame, dims: DataFrame, keys: Seq[String], salts: Int,
      saltSrc: Column): DataFrame = {
    val f = facts.withColumn("_salt", pmod(xxhash64(saltSrc), lit(salts)).cast("int"))
    val d = dims.withColumn("_salt", explode(expr(s"sequence(0, ${salts - 1})")))
    f.join(d.hint("merge"), keys :+ "_salt").drop("_salt")
  }

  /** q_salted_join: media spans (fact; only ~a dozen distinct scene_id keys — every
   * key is a dense track) salted-joined to the scenes dimension, then rolled up
   * per scene. Output equals the unsalted join exactly. */
  def saltedJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val facts = Spans.parseMediaRef(Spans.explodeSpans(Fixtures.table(spark, sfDir, "docs")))
      .where(col("kind") === "media")
      .select(col("doc_id"), col("pos"), col("scene_id"), col("offset"))
    val dims = Fixtures.table(spark, sfDir, "scenes")
      .select(col("scene_id"), col("lon0"), col("lat0"))
    salted(facts, dims, Seq("scene_id"), Salts, concat_ws("|", col("doc_id"), col("pos")))
      .groupBy("scene_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("offset").cast("long")).as("offset_sum"),
        sum(expr(graft.exprs.Kernels.q6Sql("lon0 + lat0"))).as("geo_sum_q"))
  }
}
