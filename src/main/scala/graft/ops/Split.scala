package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.geom.Geo
import graft.gen.Fixtures

/**
 * TOPSAR-Split semantics (reference TOPSARSplitOp.java:53-550): select the bursts of
 * each subswath whose footprint intersects an AOI, contiguity by the min..max rule
 * (reference :304-305), then burst-range tile pruning.
 *
 * Spark shape: two-phase spatial join — cheap cell-cover equi-join (partition-prunable,
 * broadcastable) followed by the exact convex SAT predicate. At 10^12-doc scale the AOI
 * side is tiny (broadcast) and the burst dimension table is cell-bucketed; the expensive
 * doc-side join happens only against the *selected* bursts.
 */
object Split {

  private def burstXs = Seq(col("lon1"), col("lon2"), col("lon3"), col("lon4"))
  private def burstYs = Seq(col("lat1"), col("lat2"), col("lat3"), col("lat4"))

  /** Query: burst selection per (aoi, scene, subswath) with min..max contiguity.
   * The cover-cell duplicates are collapsed INSIDE the aggregation (distinct
   * burst_idx per group) rather than by a standalone .distinct(): one exchange
   * instead of two back-to-back (distinct's on the 4-col key, then the
   * groupBy's on 3 of the same columns) — min/max are duplicate-insensitive
   * and n_hit = distinct bursts per group, so the result is unchanged. */
  def topsarSplitQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val aoi = Fixtures.table(spark, sfDir, "aoi")
    val bursts = Fixtures.table(spark, sfDir, "bursts")
    val burstCells = bursts
      .withColumn("blon_min", least(burstXs: _*))
      .withColumn("blon_max", greatest(burstXs: _*))
      .withColumn("blat_min", least(burstYs: _*))
      .withColumn("blat_max", greatest(burstYs: _*))
      .withColumn("cell", explode(CellIndex.coverCol(
        col("blon_min"), col("blat_min"), col("blon_max"), col("blat_max"))))
    val aoiCells = aoi
      .withColumn("cell", explode(CellIndex.coverCol(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))))
    val (rx, ry) = Geo.rectCorners(col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))
    burstCells.join(broadcast(aoiCells), Seq("cell"))
      .where(Geo.quadIntersectsSAT(rx, ry, burstXs, burstYs))
      .groupBy("aoi_id", "scene_id", "subswath")
      .agg(
        min("burst_idx").as("first_burst"),
        max("burst_idx").as("last_burst"),
        countDistinct("burst_idx").as("n_hit"))
  }

  /**
   * The minimum end-to-end slice (SURVEY.md §7.2): AOI -> selected bursts -> the doc
   * media spans that land in them, with tile y-range pruning
   * ((first-1)*linesPerBurst .. last*linesPerBurst, reference :186-191).
   */
  def aoiDocTilesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val sel = topsarSplitQuery(spark, sfDir)
      .select("aoi_id", "scene_id", "subswath", "first_burst", "last_burst")
    // parsed media spans WITHOUT the burst geolocation join: this query consumes
    // only the tiling key, so the former extra broadcast-hash probe of every
    // span against the burst table bought nothing — the join against `sel`
    // (itself derived from the burst table) already constrains (scene,
    // subswath, burst), and the oracle's own derivation joins the raw media
    // spans straight to sel
    val spans = Spans.parseMediaRef(Spans.explodeSpans(Fixtures.table(spark, sfDir, "docs")))
      .where(col("kind") === "media")
    val hit = spans.join(broadcast(sel),
        spans("scene_id") === sel("scene_id") &&
        spans("subswath") === sel("subswath") &&
        spans("burst_idx").between(col("first_burst"), col("last_burst")))
      .select(col("aoi_id"), spans("scene_id").as("scene_id"),
        spans("subswath").as("subswath"), col("doc_id"),
        col("burst_idx"), col("tile_y"), col("tile_x"))
    // two distinct counts on DIFFERENT keys: a single agg with two
    // countDistincts over the raw span stream plans as an Expand (x2 row
    // multiplication of 10^12 spans feeding the shuffle). Instead reduce ONCE
    // to the finest key (group x doc x tile) — ONE scan of the join output,
    // map-side combine collapsing repeated (doc, tile) hits — and run both
    // distinct counts on the reduced frame: the Expand still happens, but on
    // post-combine distinct combos (orders of magnitude fewer than raw spans),
    // and the span stream is scanned exactly once (a two-legged restatement
    // would recompute the broadcast join per leg).
    val g = Seq("aoi_id", "scene_id", "subswath")
    hit
      .groupBy((g ++ Seq("doc_id", "burst_idx", "tile_y", "tile_x")).map(col): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(g.map(col): _*)
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum("c").as("n_spans"),
        countDistinct(col("burst_idx"), col("tile_y"), col("tile_x")).as("n_tiles"))
      .select(col("aoi_id"), col("scene_id"), col("subswath"),
        col("n_docs"), col("n_spans"), col("n_tiles"))
  }
}
