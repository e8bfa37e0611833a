package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Several exact distinct counts per group, in one fixed plan.
 *
 * Spark plans two or more `countDistinct`s over different keys as an `Expand`
 * whose column order follows a hash of expression ids, so it changes from one
 * build of the query to the next and each order compiles its own classes. Here
 * every row is tagged once per key instead, `explode(array(struct(k = 0, key0),
 * struct(k = 1, key1), ...))`, the tagged rows are reduced on (group, k, key)
 * with a map-side combine, and one more aggregation counts the reduced rows of
 * each tag per group. The plan is two exchanges, no `Expand`, and the same on
 * every build. A window partitioned by the group key would put a group's whole
 * distinct set into one task; this reduction spreads it over the (group, k, key)
 * hash.
 */
object Distinct {

  /** Per group of `df`: its row count as `rows`, and for each `name -> parts`
   * the number of distinct `parts` tuples, as `countDistinct(parts)` counts them
   * (a tuple with a null part is skipped). Columns: `group`, `rows`, the key
   * names, in that order. */
  def counts(df: DataFrame, group: Seq[String], rows: String,
      keys: (String, Seq[String])*): DataFrame = {
    // every key part gets a slot of its own; a tag fills its own key's slots
    // and leaves the others null, so all tags share one struct type
    val slots = for ((parts, i) <- keys.map(_._2).zipWithIndex; (part, j) <- parts.zipWithIndex)
      yield (i, s"_d${i}_$j", part)
    val tags = keys.indices.map { i =>
      struct(lit(i).as("_k") +: slots.map { case (owner, slot, part) =>
        (if (owner == i) col(part) else lit(null).cast(df.schema(part).dataType)).as(slot)
      }: _*)
    }
    val g = group.map(col)
    def filled(i: Int) = slots.collect { case (`i`, slot, _) => col(slot).isNotNull }.reduce(_ && _)
    df.select(g :+ explode(array(tags: _*)).as("_t"): _*)
      .select(g :+ col("_t.*"): _*)
      .groupBy(g ++ (col("_k") +: slots.map(s => col(s._2))): _*)
      .agg(count(lit(1)).as("_c"))
      .groupBy(g: _*)
      .agg(sum(when(col("_k") === 0, col("_c"))).as(rows), keys.zipWithIndex.map {
        case ((name, _), i) => count(when(col("_k") === i && filled(i), true)).as(name)
      }: _*)
  }
}
