package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.KernelExprs
import graft.gen.Fixtures
import graft.model.Layout

/**
 * FFT-domain operators (reference OversamplingOp.java:46, jlinda RangeFilter /
 * AzimuthFilter, GoldsteinFilterOp.java:330-826). Oversampling and the azimuth
 * spectrum run commons-math FFTs verified against independent closed-form
 * oracles (periodic-sinc interpolation, direct DFT with dyadic-staged inputs);
 * the Goldstein block pipeline and the two jlinda filters run the in-house
 * deterministic radix-2 FFT whose butterflies the DuckDB twins replay verbatim
 * (bit-exact cross-engine). One compiled static call per burst raster inside
 * whole-stage codegen.
 */
object Spectral {

  val GoldsteinAlpha = 0.5

  /** smooth (no-data-free) single-band tiles for the 1-D spectral ops. */
  private def smooth(spark: SparkSession, sfDir: String): DataFrame =
    Fixtures.table(spark, sfDir, "tiles_smooth")
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "i")

  /** Range oversampling x2: per row FFT -> zero-pad (split Nyquist) -> IFFT. */
  def oversampleQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(smooth(spark, sfDir)
      .withColumn("out", KernelExprs.oversample(col("i"), Layout.TileW, Layout.TileH))
      .drop("i"))

  /**
   * Range filter — the FULL jlinda adaptive algorithm (RangeFilter.java:
   * 104-230; replaces the round-3 brick-wall bin zeroing): per burst, the
   * interferometric spectrum |FFT(m * conj(s))|^2 averaged over 15 rows locates
   * the fringe-frequency peak per output line; each line's filter is the
   * Hamming re-centered by half the shift with bandwidth RBW - shift*deltaF,
   * de-weighted by the inverse Hamming of the full RBW, ifftshifted (flipped
   * for negative shifts) and applied to the MASTER row spectra. One compiled
   * kernel call per burst over the (master, cross) raster pair
   * (Kernels.rangeFilter — bit-exact radix-2 FFT). VV, bursts 1-2.
   */
  def bandpassRangeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.ops.Raster.Dyadic
    val nd = Raster.ND
    val master = graft.gen.Fixtures.table(spark, sfDir, "tiles")
      .where(col("pol") === "VV" && col("burst_idx") <= 2)
      .withColumn("iq", expr(s"transform(i, x -> if(isnan(x), CAST($nd AS DOUBLE), floor(x * $d) / $d))"))
      .withColumn("qq", expr(s"transform(q, x -> if(isnan(x), CAST($nd AS DOUBLE), floor(x * $d) / $d))"))
    val cross = InSAR.crossTiles(spark, sfDir)
      .where(col("pol") === "VV" && col("burst_idx") <= 2)
    Raster.explodeTiles(Raster.burstRaster(master, "iq", "qq")
      .join(Raster.burstRaster(cross, "cre", "cim"), Seq("scene_id", "subswath", "pol", "burst_idx"))
      .withColumn("r", KernelExprs.rangeFilter(col("iq_r"), col("qq_r"),
        col("cre_r"), col("cim_r"), Layout.TilesX, Layout.TilesY, Layout.TileW, Layout.TileH)),
      "n_valid" -> "n", "re_sum_q" -> "re_q", "im_sum_q" -> "im_q")
  }

  /** Fixture processed azimuth bandwidth (Hz) and jlinda's default Hamming
   * alpha (AzimuthFilterOp hammingAlpha default 0.75). */
  val AzBw = 300.0
  val AzHammingAlpha = 0.75
  /** Constant slave-minus-master Doppler-centroid offset (Hz) — the fixture's
   * acquisition pair for the const-fDC branch. */
  val AzFdcSlaveOffset = 25.0

  /**
   * Azimuth filter — the FULL jlinda const-fDC algorithm (AzimuthFilter.java:
   * 130-157; replaces the round-3 brick-wall bin zeroing): per burst, the
   * master SLC's azimuth spectrum is de-weighted by the inverse Hamming at its
   * own Doppler centroid and re-weighted by the narrowed Hamming (ABW_new =
   * max(1, 2(ABW/2 - |fDC_m - fDC_mean|))) at the master/slave mean centroid —
   * aligning the azimuth spectra ahead of interferometry. One compiled kernel
   * call per assembled burst raster (Kernels.azFilter, the bit-exact radix-2
   * FFT); fDC from the bursts table, PRF = 1/azimuth_time_interval, the slave
   * centroid the fixture's constant-offset pair. VV, bursts 1-2 (the
   * FFT-twin subset convention).
   */
  def bandpassAzimuthQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val d = graft.ops.Raster.Dyadic
    val nd = Raster.ND
    val bursts = graft.gen.Fixtures.table(spark, sfDir, "bursts")
      .select("scene_id", "subswath", "burst_idx", "doppler_centroid")
    val scenes = graft.gen.Fixtures.table(spark, sfDir, "scenes")
      .select("scene_id", "azimuth_time_interval")
    val tiles = graft.gen.Fixtures.table(spark, sfDir, "tiles")
      .where(col("pol") === "VV" && col("burst_idx") <= 2)
      .withColumn("iq", expr(s"transform(i, x -> if(isnan(x), CAST($nd AS DOUBLE), floor(x * $d) / $d))"))
      .withColumn("qq", expr(s"transform(q, x -> if(isnan(x), CAST($nd AS DOUBLE), floor(x * $d) / $d))"))
    Raster.explodeTiles(Raster.burstRaster(tiles, "iq", "qq")
      .join(broadcast(bursts), Seq("scene_id", "subswath", "burst_idx"))
      .join(broadcast(scenes), Seq("scene_id"))
      .withColumn("r", KernelExprs.azFilter(col("iq_r"), col("qq_r"),
        col("doppler_centroid"), col("doppler_centroid") + AzFdcSlaveOffset,
        expr("1.0 / azimuth_time_interval"),
        Layout.TilesX, Layout.TilesY, Layout.TileW, Layout.TileH, AzBw, AzHammingAlpha)),
      "n_valid" -> "n", "re_sum_q" -> "re_q", "im_sum_q" -> "im_q")
  }

  /** Azimuth-Spectrum (DerampedAzimuthSpectrumOp.java:43-46, 290-296, 371-396):
   * deramp-only rotation exp(+j*phi) of the complex burst signal with
   * phi = -pi * kt * (ta - t_ref)^2 (the derampOnly=true default branch), then a
   * per-column complex FFT power |F|^2 / h^2. ND pixels enter the FFT as 0 (the
   * Goldstein convention); the rotated signal is dyadic-quantized in BOTH engines
   * so the linear DFT runs on bit-identical inputs. Bursts 1-2 bound the
   * oracle's direct-DFT cost. */
  def azimuthSpectrumQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ND = Raster.ND
    val N = Layout.TileW * Layout.TileH
    val d = Raster.Dyadic
    val ta = InSAR.TopsTa
    val phi = s"(-pi() * doppler_rate * ($ta - reference_time) * ($ta - reference_time))"
    Raster.rollup(InSAR.withBurstTiming(spark, sfDir, Fixtures.table(spark, sfDir, "tiles")
      .where(col("pol") === "VV" && col("burst_idx") <= 2))
      .withColumn("iq", expr(s"transform(i, x -> if(x = $ND or isnan(x), 0.0D, floor(x * $d) / $d))"))
      .withColumn("qq", expr(s"transform(q, x -> if(x = $ND or isnan(x), 0.0D, floor(x * $d) / $d))"))
      .withColumn("cphi", expr(s"transform(sequence(0, ${N - 1}), k -> cos($phi))"))
      .withColumn("sphi", expr(s"transform(sequence(0, ${N - 1}), k -> sin($phi))"))
      .withColumn("di", expr(s"transform(sequence(0, ${N - 1}), k -> " +
        s"floor((element_at(iq, k + 1) * element_at(cphi, k + 1) - element_at(qq, k + 1) * element_at(sphi, k + 1)) * $d) / $d)"))
      .withColumn("dq", expr(s"transform(sequence(0, ${N - 1}), k -> " +
        s"floor((element_at(iq, k + 1) * element_at(sphi, k + 1) + element_at(qq, k + 1) * element_at(cphi, k + 1)) * $d) / $d)"))
      .withColumn("out", KernelExprs.azSpectrum(col("di"), col("dq"), Layout.TileW, Layout.TileH))
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_y", "tile_x", "out"))
  }

  /** Goldstein adaptive-alpha clamp bounds (GoldsteinFilterOp.java:72-78). */
  val GoldsteinAlphaMin = 0.2
  val GoldsteinAlphaMax = 1.0

  /**
   * Goldstein phase filtering — the FULL reference block pipeline
   * (GoldsteinFilterOp.java:330-826, replacing the round-3 per-tile fixed-alpha
   * single-FFT form): the burst interferogram raster is assembled per burst
   * (one groupBy shuffle) and the compiled kernel runs 64x64 FFT blocks at 75%
   * overlap with Baran-2003 adaptive alpha, 3x3 valid-bin magnitude smoothing,
   * and triangular-weighted accumulation (Kernels.goldsteinFull — in-house
   * deterministic radix-2 FFT whose butterflies the DuckDB twin replays
   * bit-for-bit). Subset: VV, bursts 1-2 (bounds the twin's staged-FFT cost).
   */
  def goldsteinQuery(spark: SparkSession, sfDir: String): DataFrame =
    goldstein(InSAR.crossTiles(spark, sfDir)
      .where(col("pol") === "VV" && col("burst_idx") <= 2))

  /** The Goldstein pipeline over the cross products of any tile frame; the chain
   * GoldsteinPhaseFiltering node calls it on its upstream Interferogram. */
  def goldstein(cross: DataFrame): DataFrame =
    Raster.explodeTiles(Raster.burstRaster(cross, "cre", "cim")
      .withColumn("r", KernelExprs.goldsteinFull(col("cre_r"), col("cim_r"),
        Layout.TilesX, Layout.TilesY, Layout.TileW, Layout.TileH,
        GoldsteinAlphaMin, GoldsteinAlphaMax, GoldsteinAlpha)),
      "n_valid" -> "n", "phase_sum_q" -> "ph_q")
}
