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
   * A (burst, AOI) pair whose covers share k cells meets k times in the cell
   * equi-join; the join keeps only the row at the pair's reference cell
   * (`CellIndex.referenceCellCol`), so every intersecting pair reaches the SAT
   * refine and the aggregation exactly once. The selection is then one plain
   * aggregation: min, max and the pair count, which is the number of bursts
   * hit (`n_hit`), with no distinct aggregate. */
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
      .where(col("cell") === CellIndex.referenceCellCol(
        col("blon_min"), col("blat_min"), col("lon_min"), col("lat_min")))
      .where(Geo.quadIntersectsSAT(rx, ry, burstXs, burstYs))
      .groupBy("aoi_id", "scene_id", "subswath")
      .agg(
        min("burst_idx").as("first_burst"),
        max("burst_idx").as("last_burst"),
        count(lit(1)).as("n_hit"))
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
    // n_docs and n_tiles are distinct counts on different keys: one fixed plan
    // (`Distinct.counts`), with no Expand over the span stream
    Distinct.counts(hit, Seq("aoi_id", "scene_id", "subswath"), "n_spans",
        "n_docs" -> Seq("doc_id"), "n_tiles" -> Seq("burst_idx", "tile_y", "tile_x"))
      .select(col("aoi_id"), col("scene_id"), col("subswath"),
        col("n_docs"), col("n_spans"), col("n_tiles"))
  }
}
