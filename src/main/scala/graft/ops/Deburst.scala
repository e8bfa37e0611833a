package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.KernelExprs
import graft.gen.Fixtures
import graft.model.Layout

/**
 * TOPSAR-Deburst line assignment (reference TOPSARDeburstOp.java:168-232, 1152-1183):
 * the output azimuth grid spans [min firstLineTime, max lastLineTime] at
 * azimuthTimeInterval; each target line t maps to the burst whose interval contains it,
 * overlaps resolved by the midTime rule — take burst i if t <= mid(last_i, first_{i+1})
 * else burst i+1 (:1176-1181).
 *
 * Spark shape: turn the midTime rule into per-burst half-open *effective* ownership
 * windows (lag/lead over the tiny burst dimension table), generate target lines, then a
 * broadcast interval join — at most one burst matches each line, so no dedup pass.
 */
object Deburst {

  def query(spark: SparkSession, sfDir: String): DataFrame =
    fromBursts(spark, sfDir, Fixtures.table(spark, sfDir, "bursts"))

  /** Input-driven deburst over a caller-provided bursts frame (the chain
   * TOPSAR-Deburst node): the output grid span and the midTime ownership
   * windows derive from the SELECTED bursts — exactly the reference behavior
   * when deburst follows a Split (the split product's burst list IS the
   * product, TOPSARDeburstOp computing targetFirstLineTime from it). */
  def fromBursts(spark: SparkSession, sfDir: String, burstsIn: DataFrame): DataFrame = {
    val bursts = TerrainCorrection.burstOwnership(burstsIn)
    val grid = burstsIn
      .groupBy("scene_id", "subswath")
      .agg(min("burst_first_line_time").as("t0"), max("burst_last_line_time").as("t1"))
      .join(Fixtures.table(spark, sfDir, "scenes").select("scene_id", "azimuth_time_interval"), Seq("scene_id"))
      .withColumn("line", explode(expr("sequence(0, CAST(round((t1 - t0) / azimuth_time_interval, 0) AS INT))")))
      .withColumn("t", col("t0") + col("line") * col("azimuth_time_interval"))

    grid.join(broadcast(bursts), Seq("scene_id", "subswath"))
      .where(col("t") > col("own_from") && col("t") <= col("own_to") &&
        col("t") >= col("burst_first_line_time") - col("azimuth_time_interval") / 2 &&
        col("t") <= col("burst_last_line_time") + col("azimuth_time_interval") / 2)
      .select(col("scene_id"), col("subswath"), col("line"), col("burst_idx"),
        expr("CAST(round((t - burst_first_line_time) / azimuth_time_interval, 0) AS INT)").as("local_line"))
  }

  /** WSS deburst margin, scaled to the fixture's 128-sample swath (reference
   * DeburstWSSOp.java:69 uses margin=50 on the full-resolution WSS width; the
   * ratio ~4% of width maps to 4 samples here). Columns x < Margin or
   * x > width - Margin are set to no-data (:656-690). */
  val WssMargin = 4

  /**
   * DeburstWSS (reference DeburstWSSOp.java:429-706): ASAR WSS bursts are merged
   * onto a uniform zero-Doppler timeline; where several burst lines share (to within
   * the line interval) the same zero-Doppler time, each output sample takes the
   * PEAK-intensity sample among the candidate lines (strictly-greater update, so the
   * earliest burst wins ties, :630-636), or the mean of valid intensities in
   * `average` mode (:637-646). Edge columns inside `margin` become no-data.
   *
   * Spark shape: the fixture's burst grid is time-aligned (burst pitch = 56 lines,
   * 8-line overlap), so contention exists ONLY on the 8 overlap lines between
   * consecutive bursts — the same strip-join shape as ESD: the last-8-row strips of
   * burst b meet the first-8-row strips of burst b+1 in one narrow equi-join, and
   * every other line passes through with no shuffle of its pixels at all. Per-line
   * sums are folded INSIDE the tile arrays (no pixel explode); the only shuffled
   * volume is (overlap strips) + (per-line partial sums). At 100 TB the overlap is
   * ~12% of rows and the partial-sum shuffle is 1/32 of pixel volume.
   *
   * Output: per (scene, subswath, pol, target line): valid count + quantized sums of
   * the peak intensity, the peak-winner I channel, and the average-mode intensity.
   */
  def wssQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val W = Layout.TileW
    val ov = Layout.BurstOverlapLines // 8
    val pitch = Layout.LinesPerBurst - ov // 56
    val lastTy = Layout.TilesY - 1
    val m = WssMargin
    val wTotal = Layout.SamplesPerBurst
    val q = 1.0e6

    // per-pixel dyadic intensity + dyadic i channel (same snap as the oracle)
    val tiles = Raster.intensityTiles(spark, sfDir)
      .withColumn("id", expr(s"transform(i, a -> if(a = ${Raster.ND} or isnan(a), ${Raster.ND}, floor(a * ${Raster.Dyadic}) / ${Raster.Dyadic}))"))
    val maxBurst = Layout.BurstsPerSubswath

    // ---- overlap strips: last `ov` rows of burst b (tile_y = lastTy) vs first
    // `ov` rows of burst b+1 (tile_y = 0), per tile_x ----
    val top = tiles.where(col("tile_y") === lastTy && col("burst_idx") < maxBurst)
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx").as("burst_a"),
        col("tile_x"), col("v").as("va"), col("id").as("ia"))
    val bot = tiles.where(col("tile_y") === 0 && col("burst_idx") > 1)
      .select(col("scene_id"), col("subswath"), col("pol"), (col("burst_idx") - 1).as("burst_a"),
        col("tile_x"), col("v").as("vb"), col("id").as("ib"))
    // per overlap row j (0..ov-1): fold peak/avg sums over the margin-valid
    // columns — ONE compiled kernel call per tile pair (the interpreted
    // aggregate-lambda version of this fold cost 311 s of the verify surface)
    val overlap = top.join(bot, Seq("scene_id", "subswath", "pol", "burst_a", "tile_x"))
      .withColumn("flat", KernelExprs.wssOverlap(col("va"), col("ia"), col("vb"), col("ib"),
        col("tile_x"), W, Layout.TileH, ov, m, wTotal, q))
      .withColumn("row", expr(
        s"""transform(sequence(0, ${ov - 1}), j -> struct(
           |  element_at(flat, j * 4 + 1) AS n, element_at(flat, j * 4 + 2) AS pk,
           |  element_at(flat, j * 4 + 3) AS pki, element_at(flat, j * 4 + 4) AS av))""".stripMargin))
      .select(col("scene_id"), col("subswath"), col("pol"),
        (col("burst_a") * pitch).as("line0"), posexplode(col("row")).as(Seq("j", "rs")))
      .select(col("scene_id"), col("subswath"), col("pol"),
        (col("line0") + col("j")).as("line"),
        col("rs.n").as("n"), col("rs.pk").as("pk"), col("rs.pki").as("pki"), col("rs.av").as("av"))

    // ---- pass-through rows: every burst line NOT in a shared overlap ----
    val pass = tiles
      .withColumn("flat", KernelExprs.wssPass(col("v"), col("id"), col("tile_x"),
        W, Layout.TileH, m, wTotal, q))
      .withColumn("row", expr(
        s"""transform(sequence(0, ${Layout.TileH - 1}), r -> struct(
           |  element_at(flat, r * 4 + 1) AS n, element_at(flat, r * 4 + 2) AS pk,
           |  element_at(flat, r * 4 + 3) AS pki, element_at(flat, r * 4 + 4) AS av))""".stripMargin))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"), col("tile_y"),
        posexplode(col("row")).as(Seq("r", "rs")))
      .withColumn("l", col("tile_y") * Layout.TileH + col("r")) // burst-local line
      // drop lines owned by an overlap pair: l >= pitch for b < max, l < ov for b > 1
      .where(!(col("l") >= pitch && col("burst_idx") < maxBurst) &&
             !(col("l") < ov && col("burst_idx") > 1))
      .select(col("scene_id"), col("subswath"), col("pol"),
        ((col("burst_idx") - 1) * pitch + col("l")).as("line"),
        col("rs.n").as("n"), col("rs.pk").as("pk"), col("rs.pki").as("pki"), col("rs.av").as("av"))

    overlap.unionByName(pass)
      .groupBy("scene_id", "subswath", "pol", "line")
      .agg(sum("n").as("n_valid"), sum("pk").as("peak_sum_q"),
        sum("pki").as("peak_i_sum_q"), sum("av").as("avg_sum_q"))
  }

  // ---- ETAD-Deburst (reference ETADDeburstOp.java:140-232) ----

  /** ETAD correction-grid geometry, scaled to the fixture: each burst carries a
   * coarse GridRows x GridCols correction layer (the real ETAD grid posting is
   * ~200 m); the deterministic layer value is a pure integer function of
   * (burst, row, col) that both engines restate exactly. */
  val EtadGridRows = 8
  val EtadGridCols = 16
  /** grid rows per burst pitch: bursts overlap by 1 grid row (56 lines / 8 = 7). */
  val EtadRowPitch = 7
  /** swath x-offsets on the merged grid (ETADDeburstOp.computeX0Y0: x0 from the
   * range-time offset between the swath and the merged coverage). */
  val EtadColPitch = 12

  /**
   * ETAD-Deburst, "All"-swath mode: every burst's correction layer is scattered
   * onto one merged (azimuth-time x range-time) grid; where bursts or subswaths
   * overlap, the LAST-filled value wins (the reference fills sIndex 1..3 then
   * burst asc and overwrites in place, ETADDeburstOp.java:147-196).
   *
   * Spark shape: the burst dimension table (tiny) explodes to grid cells
   * (GridRows x GridCols per burst), each cell maps to merged coordinates, and one
   * hash aggregation takes max_by(value, fill ordinal). Data volume is the
   * correction grid (~10^-4 of pixel volume), so this shuffles almost nothing at
   * any scale.
   */
  def etadDeburstQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bursts = Fixtures.table(spark, sfDir, "bursts")
      .select("scene_id", "subswath", "burst_idx")
      .withColumn("sw_ord", expr("CAST(substring(subswath, 3, 1) AS INT)"))
    bursts
      .withColumn("rc", explode(expr(
        s"""flatten(transform(sequence(0, ${EtadGridRows - 1}), r ->
           |  transform(sequence(0, ${EtadGridCols - 1}), c -> struct(r AS r, c AS c))))""".stripMargin)))
      .select(col("scene_id"), col("sw_ord"), col("burst_idx"),
        ((col("burst_idx") - 1) * EtadRowPitch + col("rc.r")).as("y"),
        ((col("sw_ord") - 1) * EtadColPitch + col("rc.c")).as("x"),
        // deterministic integer layer value (exact in both engines)
        ((col("burst_idx") * 7919 + col("rc.r") * 131 + col("rc.c") * 17) % 997).as("val_u"),
        (col("sw_ord") * 1000 + col("burst_idx")).as("ord"))
      .groupBy("scene_id", "y", "x")
      .agg(max_by(col("val_u"), col("ord")).as("v"), count(lit(1)).as("n_writers"))
      .groupBy("scene_id", "y")
      .agg(count(lit(1)).as("n_cells"), sum("v").as("val_sum"),
        sum("n_writers").as("writers_sum"))
  }
}
