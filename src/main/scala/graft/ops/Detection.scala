package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Detection / stack operators:
 *  - Change-Detection (reference ChangeDetectionOp.java:50): per-pixel log10-ratio of
 *    two epochs joined on pixel key.
 *  - Stack-Averaging / Multitemporal-Compositing (StackAveragingOp.java:39,
 *    MultitemporalCompositingOp.java:46): per-pixel mean over the epoch stack.
 *  - AdaptiveThresholding two-parameter CFAR (AdaptiveThresholdingOp.java:59-148):
 *    background ring statistics (9x9 minus the 3x3 guard) around each pixel,
 *    t = (cp - bgMean) / bgStd, detection when t > threshold. Margin-4 halo exchange.
 */
object Detection {

  private val ND = Raster.ND
  val CfarThreshold = 3.5

  private def epochJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e1 = Raster.intensityTiles(spark, sfDir, "tiles")
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_x"), col("tile_y"), col("v").as("v1"))
    val e2 = Raster.intensityTiles(spark, sfDir, "tiles_sec")
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_x"), col("tile_y"), col("v").as("v2"))
    e1.join(e2, Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y"))
  }

  /** Per-tile rollup of the log-ratio image 10*log10(v2/v1). */
  def changeDetectionQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(epochJoin(spark, sfDir)
      .withColumn("out", expr(
        s"zip_with(v2, v1, (b, a) -> if(b = $ND or a = $ND or a <= 0D or b <= 0D, $ND, 10D * log10(b / a)))")))

  /** Per-tile rollup of the 2-epoch stack mean. */
  def stackAverageQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(epochJoin(spark, sfDir)
      .withColumn("out", expr(
        s"""zip_with(v1, v2, (a, b) ->
           |  if(a = $ND and b = $ND, $ND,
           |    if(a = $ND, b, if(b = $ND, a, (a + b) / 2D))))""".stripMargin)))

  /** CFAR: per-tile detection count + max test statistic. The background ring
   * (9x9 minus the 3x3 guard) comes from one compiled Kernels.cfar pass over one
   * margin-4 halo — full minus guard, with EXACT dyadic sums (the previous 320-term
   * HOF expression blew past the codegen size limit once CollapseProject inlined it,
   * falling back to hours of interpreted eval). */
  def cfarQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 4
    val haloed = Raster.withHaloMulti(
      Raster.intensityTiles(spark, sfDir).where(col("pol") === "VV"), Seq("v"), m)
      .withColumnRenamed("halo_v", "halo")
    haloed
      .withColumn("c", graft.exprs.KernelExprs.cfar(col("halo"),
        Raster.W, Raster.H, m, 1, CfarThreshold))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        col("c.n_detect").as("n_detect"),
        round(col("c.max_t"), 4).as("max_t"))
  }
}
