package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.KernelExprs
import graft.exprs.Kernels.q6Sql
import graft.gen.Fixtures
import graft.model.Layout

/**
 * GRD preprocessing chain (reference Remove-GRD-Border-Noise,
 * RemoveGRDBorderNoiseOp.java:54, and the IPF >= 2.9 azimuth thermal-noise
 * vectors, Sentinel1RemoveThermalNoiseOp.java:54).
 *
 * Spark shape of the border scan: the inward per-row threshold walk is a
 * DISTRIBUTED two-phase min/max — each tile emits its per-row first/last
 * above-threshold column from one compiled pass (Kernels.rowScan), a narrow
 * per-row combine takes min/max across the row's tiles, and the bounds broadcast
 * back onto the tiles. No pixel array ever crosses a shuffle.
 */
object Grd {

  /** Border-noise threshold (fixture noise sits at <= 0.05, signal >= ~100). */
  val BorderThr = 0.5

  private val keys = Seq("scene_id", "subswath", "pol", "burst_idx")

  def borderNoiseQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val W = Layout.TileW; val H = Layout.TileH
    val tiles = Fixtures.table(spark, sfDir, "tiles_grd")
    val scans = tiles
      .withColumn("rs", KernelExprs.rowScan(col("v"), W, H, BorderThr))
      .select((keys ++ Seq("tile_y", "tile_x")).map(col) :+
        posexplode(expr("zip_with(rs.firsts, rs.lasts, (f, l) -> struct(f AS f, l AS l))"))
          .as(Seq("pos", "rc")): _*)
    // per-row global bounds across the row's tiles (gy is the burst-raster line)
    val bounds = scans
      .select(keys.map(col) :+
        (col("tile_y") * H + col("pos")).as("gy") :+
        when(col("rc.f") >= 0, col("tile_x") * W + col("rc.f")).as("fg") :+
        when(col("rc.l") >= 0, col("tile_x") * W + col("rc.l")).as("lg"): _*)
      .groupBy((keys :+ "gy").map(col): _*)
      .agg(min("fg").as("lb"), max("lg").as("rb"))
    // kept pixels per (tile, row) from pure bound arithmetic + one in-array slice sum
    tiles
      .withColumn("r", explode(sequence(lit(0), lit(H - 1))))
      .withColumn("gy", col("tile_y") * H + col("r"))
      .join(broadcast(bounds), keys :+ "gy")
      .withColumn("a", greatest(col("lb") - col("tile_x") * W, lit(0)))
      .withColumn("b", least(col("rb") - col("tile_x") * W, lit(W - 1)))
      .withColumn("n_row", when(col("lb").isNull || col("b") < col("a"), lit(0L))
        .otherwise((col("b") - col("a") + 1).cast("long")))
      .withColumn("sum_row", when(col("n_row") === 0, lit(0L)).otherwise(expr(
        s"aggregate(slice(v, r * $W + a + 1, b - a + 1), 0L, (s, x) -> s + ${q6Sql("x")})")))
      .groupBy((keys ++ Seq("tile_y", "tile_x")).map(col): _*)
      .agg(sum("n_row").as("n_kept"), sum("sum_row").as("kept_sum_q"))
  }

  /**
   * ThermalNoiseRemoval with azimuth noise vectors (IPF >= 2.9): subtracted noise
   * = rangeLUT(line, px) * azimuthGain(line), the azimuth gain 1-D lerped between
   * the per-line knots of noise_az_vectors (identical lerp staged in the oracle).
   */
  def thermalNoiseAzQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val azLut = Fixtures.table(spark, sfDir, "noise_az_vectors")
      .groupBy("scene_id", "subswath", "pol")
      .agg(expr("transform(array_sort(collect_list(struct(line, value))), e -> e.value)").as("azlut"))
    val lp = Layout.LinesPerBurst
    val withRg = Calibration.withLutA(Raster.intensityTiles(spark, sfDir), Calibration.noiseLutTable(spark, sfDir))
      .join(broadcast(azLut), Seq("scene_id", "subswath", "pol"))
    // compiled lerp-subtract map (Kernels.noiseAzMap) — replaces the interpreted
    // transform(sequence(...)) HOF; pure +,-,*,/ so bit-identical (RasterOpsSpec)
    Raster.rollup(withRg.withColumn("out", KernelExprs.noiseAzMap(
      col("v"), col("lut_a"), col("azlut"), col("burst_idx"), col("tile_y"),
      lp, Layout.TileW, Layout.TileH)))
  }

  /** GRD-Post (GRDPostProcessOp.java:37-116): the SLC->GRD finalization step —
   * validate the "detected, single merged swath" preconditions and re-label the
   * product (name SLC_ -> GRDH_, type GRD), carrying every band through. Output:
   * per-scene band inventory + precondition flags + the renamed identifiers. */
  def grdPostQuery(spark: SparkSession, sfDir: String): DataFrame =
    Distinct.counts(Fixtures.table(spark, sfDir, "tiles_grd"), Seq("scene_id"), "n_tiles",
        "n_swaths" -> Seq("subswath"), "n_bands" -> Seq("pol"))
      .select("scene_id", "n_swaths", "n_bands", "n_tiles")
      .withColumn("swaths_merged", col("n_swaths") === 1)
      .withColumn("product", expr("replace(concat('SLC_', scene_id), 'SLC_', 'GRDH_')"))
      .withColumn("product_type", lit("GRD"))
}
