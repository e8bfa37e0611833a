package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels.gridSql
import graft.gen.Fixtures
import graft.model.Layout

/**
 * The 5 band/graph plumbing operators (the last ungated registry aliases —
 * VERDICT r3 "What's missing" #6):
 *
 *  - BandSelect (reference BandSelectOp.java:44): keep only the bands whose
 *    name/polarisation matches the selection — a pure column predicate.
 *  - BandMerge (BandMergeOp.java:51): stack the bands of several products onto
 *    one raster geometry — a union with a band ordinal, tile keys unchanged.
 *  - SetNoDataValue (SetNoDataValueOp.java:35): rewrite the no-data sentinel in
 *    the sample data and metadata — one in-array pass, no shuffle.
 *  - SubGraph (SubGraphOp.java:26): a packaged operator chain executed as one —
 *    gated here as Calibration(sigma0) ∘ Multilook(4x4), the reference's most
 *    common 2-op subgraph; Catalyst fuses both stages into one codegen'd pass
 *    over the tile arrays (the whole point of declaring chains lazily).
 *  - TileWriter (TileWriterOp.java:50): partitioned product write — a
 *    partitionBy parquet write; the gate reads the written dataset back and
 *    checks the per-partition manifest, proving the write-read round trip.
 */
object Bands {

  private val ND = Raster.ND

  /** per-pixel quantized BIGINT (n, s) of the valid intensities of one tile —
   * the compiled rollupQ kernel (its n/s fields are exactly the former
   * interpreted aggregate() fold: same validity filter, same floor(Dither + x*Q)
   * quantizer; the extra mn/mx land in the same single pass and are unused). */
  private def tileSumQ(vCol: String) =
    graft.exprs.KernelExprs.rollupQ(col(vCol), 1.0e6)

  /** q_band_select: keep the VV band only; per-burst tile count + checksum. */
  def bandSelectQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.intensityTiles(spark, sfDir)
      .where(col("pol") === "VV")
      .withColumn("ts", tileSumQ("v"))
      .groupBy("scene_id", "subswath", "pol", "burst_idx")
      .agg(count(lit(1)).as("n_tiles"),
        sum(col("ts.n")).as("n_valid"), sum(col("ts.s")).as("sum_q"))

  /** q_band_merge: stack the reference and secondary products as bands 0/1 on
   * the shared tile geometry; per-tile band count + per-band checksums. */
  def bandMergeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Raster.intensityTiles(spark, sfDir).withColumn("band_idx", lit(0))
    val b = Raster.intensityTiles(spark, sfDir, "tiles_sec").withColumn("band_idx", lit(1))
    a.unionByName(b)
      .withColumn("ts", tileSumQ("v"))
      .groupBy("scene_id", "subswath", "pol", "burst_idx", "tile_y", "tile_x")
      .agg(countDistinct("band_idx").as("n_bands"),
        sum(col("ts.n")).as("n_valid"),
        sum(when(col("band_idx") === 0, col("ts.s")).otherwise(0L)).as("sum_q_a"),
        sum(when(col("band_idx") === 1, col("ts.s")).otherwise(0L)).as("sum_q_b"))
  }

  /** New sentinel written by SetNoDataValue (the reference writes whatever the
   * user sets; -1 is representable in both engines' integer domain). */
  val NewNoData = -1.0

  /** q_set_nodata: rewrite -9999 -> -1 in the intensity array (and the tile's
   * no_data metadata column); per-tile rewritten-cell count + untouched checksum. */
  def setNoDataQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.intensityTiles(spark, sfDir)
      .withColumn("v2", expr(s"transform(v, x -> if(isnan(x) or x = $ND, ${NewNoData}D, x))"))
      .withColumn("no_data", lit(NewNoData))
      .withColumn("ts", tileSumQ("v"))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"), col("no_data"),
        expr(s"CAST(size(filter(v2, x -> x = ${NewNoData}D)) AS BIGINT)").as("n_rewritten"),
        col("ts.n").as("n_valid"), col("ts.s").as("sum_q"))

  /** q_subgraph: Calibration(sigma0) -> Multilook(4x4) executed as ONE lazily
   * composed chain (SubGraphOp semantics): per tile, quantized sum of the 64
   * calibrated block means. Catalyst fuses the LUT interpolation, the sigma0
   * division and the block-mean kernel into a single stage — no intermediate
   * materialization, which is exactly what SubGraph exists for. */
  def subGraphQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cal = Calibration.withLutA(
      Raster.intensityTiles(spark, sfDir),
      Calibration.lutTable(spark, sfDir, "sigma_nought"))
      .withColumn("cal", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDIV))
    cal
      .withColumn("blocks", graft.exprs.KernelExprs.blockMeans(
        col("cal"), Layout.TileW, Layout.TileH, Multilook.Looks))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        expr(
          s"""aggregate(blocks, struct(0L AS n, 0L AS s), (a, b) ->
             |  if(b.n <= 0, a, struct(a.n + 1L AS n,
             |    a.s + ${gridSql("b.s / b.n", 1.0e7)} AS s)))""".stripMargin)
          .as("bs"))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        col("bs.n").as("n_blocks"), col("bs.s").as("mean_sum_q"))
  }

  /** q_tile_writer: write the product partitioned by (scene_id, subswath) —
   * the layout a 100 TB mosaic would use for partition-pruned reads — then read
   * the written dataset back and emit the per-partition manifest. */
  def tileWriterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = new java.io.File(sfDir).getName
    val out = s"${Fixtures.RepoDir}/target/tile_writer/$tag"
    Fixtures.table(spark, sfDir, "tiles")
      .write.mode("overwrite").partitionBy("scene_id", "subswath").parquet(out)
    Distinct.counts(spark.read.parquet(out), Seq("scene_id", "subswath"), "n_tiles",
      "n_bursts" -> Seq("burst_idx"), "n_pols" -> Seq("pol"))
  }
}
