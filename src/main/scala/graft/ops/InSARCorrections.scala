package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels.q6Sql
import graft.model.Layout

/**
 * InSAR per-pixel phase-correction family:
 *  - IonosphericCorrection (split-spectrum, IonosphericCorrectionOp.java:289-340):
 *    iono = (fL fH)/(fF (fH^2 - fL^2)) * (phiL fH - phiH fL), corrected = wrap(phiF - iono).
 *    The low/high sub-band phases are deterministic offsets of the full-band phase
 *    (planted screens); the reference's Gaussian smoothing and coherence mask are
 *    not reproduced (documented simplification).
 *  - EmpiricalTropoCorrection (EmpiricalTropoCorrectionOp.java:295-365): per-ifg
 *    linear LSQ fit phi = c0 + c1 z on elevation-masked samples, output
 *    phi - (c0 + c1 z). The fit runs on dyadic-quantized (phi, z) samples so the
 *    global normal-equation sums are exact cross-engine; the subtraction uses the
 *    raw values.
 *  - HorizontalVerticalMotion (HorizontalVerticalMotionOp.java:285-356): per-pixel
 *    2x2 solve of (asc, dsc) LOS displacements into horizontal/vertical motion.
 *
 * All three are pure per-pixel maps (plus one tiny per-scene fit aggregate for
 * tropo) — no window machinery, no shuffle beyond the fit and the tile rollup.
 */
object InSARCorrections {

  private val ND = Raster.ND
  private val N = Layout.TileW * Layout.TileH
  private val Pi = math.Pi.toString

  /** SQL shared verbatim with the DuckDB oracle (identical IEEE staging). */
  val FreqL = "5.37E9"
  val FreqH = "5.44E9"
  val FreqF = "5.405E9"
  def ionoSql(phl: String, phh: String): String =
    s"($FreqL * $FreqH) / ($FreqF * ($FreqH * $FreqH - $FreqL * $FreqL)) * (($phl) * $FreqH - ($phh) * $FreqL)"
  // NOTE: divisors are CAST to DOUBLE because Spark types bare decimal literals as
  // DECIMAL and int/decimal division truncates at scale 6 (DuckDB uses double) —
  // the casts force identical double IEEE division in both engines.
  def phlSql(phf: String, gx: String): String =
    s"($phf) + 0.3 * sin(($gx) / CAST(30.0 AS DOUBLE))"
  def phhSql(phf: String, gy: String): String =
    s"($phf) - 0.2 * cos(($gy) / CAST(45.0 AS DOUBLE))"

  val HeadingDsc = "190.0"
  val HeadingAsc = "350.0"
  val WavelengthSql = "0.055465763"
  def radSql(deg: String): String =
    s"(CAST($deg AS DOUBLE) / CAST(180.0 AS DOUBLE) * $Pi)"
  def defoSql(ph: String): String =
    s"(($ph) - 0.0) * $WavelengthSql / CAST(4.0 AS DOUBLE) / $Pi * 1.0E3"
  def incDscSql(gx: String): String =
    s"(20.0 + 20.0 * ($gx) / CAST(128.0 AS DOUBLE))"
  def incAscSql(gx: String): String =
    s"(25.0 + 15.0 * ($gx) / CAST(128.0 AS DOUBLE))"

  private val gxS = s"(tile_x * ${Layout.TileW} + k % ${Layout.TileW})"
  private val gyS = s"(tile_y * ${Layout.TileH} + k div ${Layout.TileW})"

  /** Gaussian smoothing sigma for the iono phase (reference default 81,
   * IonosphericCorrectionOp.java:59-62, kernel = 8*sigma+1 — scaled to the
   * fixture's 128x64 burst raster; a user @Parameter in the reference). */
  val IonoSigma = 3
  /** Coherence threshold (reference default, :66-68). */
  val IonoCohThr = 0.6

  /**
   * q_iono — the FULL split-spectrum pipeline (IonosphericCorrectionOp.java:
   * 289-480): raw iono estimate from the planted sub-band screens, coherence
   * threshold mask, separable weighted-Gaussian smoothing (conv(w*d)/conv(w),
   * zero-padded), corrected = wrap(phiF - filtered). One compiled kernel call
   * per burst raster (8 tiles assembled tile-major); the round-3 per-pixel
   * raw-estimate gate (no smoothing/mask — the documented simplification) is
   * superseded. Scale shape: ONE groupBy(burst) shuffle to assemble rasters,
   * the kernel runs map-side, output explodes back to tile rows.
   */
  def ionoQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.explodeTiles(Raster.burstRaster(InSAR.crossTiles(spark, sfDir), "cre", "cim")
      .withColumn("r", graft.exprs.KernelExprs.ionoSmooth(col("cre_r"), col("cim_r"),
        Layout.TilesX, Layout.TilesY, Layout.TileW, Layout.TileH, IonoSigma, IonoCohThr)),
      "n_valid" -> "n", "iono_sum_q" -> "iono_q", "corr_sum_q" -> "corr_q")

  /** q_tropo: per-ifg linear phase-elevation fit + model subtraction. */
  def tropoQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val phf = "atan2(element_at(cim, k + 1), element_at(cre, k + 1))"
    val valid = s"element_at(cim, k + 1) != $ND AND element_at(cre, k + 1) != $ND"
    val z = s"(100.0 + 50.0 * sin(($gxS) / 40.0) + 40.0 * cos(($gyS) / 25.0))"
    val zq = s"(floor(($z) * CAST(256.0 AS DOUBLE)) / CAST(256.0 AS DOUBLE))"
    val pq = s"(floor(($phf) * CAST(65536.0 AS DOUBLE)) / CAST(65536.0 AS DOUBLE))"
    val use = s"($valid) AND ($z) >= 1.0"
    def fsum(e: String) = s"aggregate(sequence(0, ${N - 1}), 0.0D, (s, k) -> s + if($use, $e, 0.0D))"
    val partials = InSAR.crossTiles(spark, sfDir)
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"), col("cre"), col("cim"),
        expr(fsum("1.0D")).as("fn"),
        expr(fsum(zq)).as("sz"), expr(fsum(s"$zq * $zq")).as("szz"),
        expr(fsum(pq)).as("sp"), expr(fsum(s"$zq * $pq")).as("spz"))
    val fit = partials.groupBy("scene_id", "subswath", "pol")
      .agg(sum("fn").as("fn"), sum("sz").as("sz"), sum("szz").as("szz"),
        sum("sp").as("sp"), sum("spz").as("spz"))
      .withColumn("c1", expr("(fn * spz - sz * sp) / (fn * szz - sz * sz)"))
      .withColumn("c0", expr("(sp - c1 * sz) / fn"))
      .select("scene_id", "subswath", "pol", "c0", "c1")
    val out = s"($phf) - (c0 + c1 * ($z))"
    Raster.rollup(partials.drop("fn", "sz", "szz", "sp", "spz")
      .join(broadcast(fit), Seq("scene_id", "subswath", "pol"))
      .withColumn("out", expr(
        s"transform(sequence(0, ${N - 1}), k -> if($use, $out, $ND))")))
  }

  /** q_hv_motion: ascending/descending LOS pair -> horizontal + vertical motion. */
  def hvMotionQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = InSAR.crossTiles(spark, sfDir).where(col("pol") === "VV")
      .withColumn("scene_idx", expr("CAST(substring(scene_id, 7, 4) AS INT)"))
      .withColumn("pair_idx", expr("CAST(scene_idx / 2 AS INT)"))
    val joinKeys = Seq("pair_idx", "subswath", "pol", "burst_idx", "tile_x", "tile_y")
    val dsc = base.where(col("scene_idx") % 2 === 0)
    val asc = base.where(col("scene_idx") % 2 === 1)
      .select((joinKeys.map(col) :+ col("cre").as("cre2")) :+ col("cim").as("cim2"): _*)
    val phd = "atan2(element_at(cim, k + 1), element_at(cre, k + 1))"
    val pha = "atan2(element_at(cim2, k + 1), element_at(cre2, k + 1))"
    val valid = s"element_at(cim, k + 1) != $ND AND element_at(cre, k + 1) != $ND AND " +
      s"element_at(cim2, k + 1) != $ND AND element_at(cre2, k + 1) != $ND"
    val (dD, dA) = (defoSql(phd), defoSql(pha))
    val a1 = s"(0.0 - cos(${radSql(HeadingDsc)})) * sin(${radSql(incDscSql(gxS))})"
    val a2 = s"(0.0 - cos(${radSql(HeadingAsc)})) * sin(${radSql(incAscSql(gxS))})"
    val b1 = s"cos(${radSql(incDscSql(gxS))})"
    val b2 = s"cos(${radSql(incAscSql(gxS))})"
    val den = s"(($a1) * ($b2) - ($b1) * ($a2))"
    val hm = s"((($dD) * ($b2) - ($b1) * ($dA)) / $den)"
    val vm = s"((($a1) * ($dA) - ($dD) * ($a2)) / $den)"
    dsc.join(asc, joinKeys)
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        expr(s"aggregate(sequence(0, ${N - 1}), 0L, (s, k) -> s + if($valid, 1L, 0L))").as("n_valid"),
        expr(s"aggregate(sequence(0, ${N - 1}), 0L, (s, k) -> s + if($valid, ${q6Sql(hm)}, 0L))").as("h_sum_q"),
        expr(s"aggregate(sequence(0, ${N - 1}), 0L, (s, k) -> s + if($valid, ${q6Sql(vm)}, 0L))").as("v_sum_q"))
  }
}
