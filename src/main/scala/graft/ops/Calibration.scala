package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout

/**
 * Radiometric calibration (reference CalibrationOp.java:43-191 dispatching to
 * Sentinel1Calibrator.java:327-462): per pixel, bracket the calibration vectors by
 * azimuth line (CalibrationInfo.getCalibrationVectorIndex, :586-593), bracket the LUT
 * pixel knots on the first vector's grid (getPixelIndex, :464-477), bilinear-interpolate
 * the LUT A (:412-417, one muX shared by both vector rows), and apply
 * calibrationFactor = 1/A^2 (:419) to dn^2 = i^2 + q^2 (REAL/IMAGINARY branch :433-440).
 *
 * Spark shape: the LUT dimension table collapses to one sorted ARRAY<STRUCT> row per
 * (scene, subswath, pol), broadcast-joined to tiles; bracketing + interpolation are staged
 * array expressions over each tile buffer (batched, UDF-free, codegen'd). No explode.
 */
object Calibration {


  /** One row per (scene, subswath, pol): vectors sorted by line. */
  def lutTable(spark: SparkSession, sfDir: String, lutCol: String): DataFrame =
    vectors(spark, sfDir, "cal_vectors", lutCol)

  /** The noise-vector LUT table (thermal-noise removal, ETAD), lutTable's shape. */
  def noiseLutTable(spark: SparkSession, sfDir: String): DataFrame =
    vectors(spark, sfDir, "noise_vectors", "noise_lut")

  private def vectors(spark: SparkSession, sfDir: String, table: String, lutCol: String): DataFrame =
    Fixtures.table(spark, sfDir, table)
      .groupBy("scene_id", "subswath", "pol")
      .agg(array_sort(collect_list(struct(col("line"), col("pixels"), col(lutCol).as("lut"))))
        .as("vecs"))

  /** Tile df + broadcast LUT -> per-pixel interpolated LUT array column "lut_a".
   * Native codegen'd kernel (KernelExprs.lutInterp -> Kernels.lutInterp): cached
   * binary-search bracketing + bilinear, one static call per tile — the reference's
   * getCalibrationVectorIndex/getPixelIndex interval lookups
   * (Sentinel1Calibrator.java:464-477, 586-593) as a compiled loop. */
  def withLutA(tiles: DataFrame, lut: DataFrame): DataFrame =
    tiles.join(broadcast(lut), Seq("scene_id", "subswath", "pol"))
      .withColumn("lut_a", graft.exprs.KernelExprs.lutInterp(
        col("vecs"), col("burst_idx"), col("tile_x"), col("tile_y"),
        Layout.TileW, Layout.TileH, Layout.LinesPerBurst))
      .drop("vecs")

  /** sigma0 = dn^2 / A^2 per pixel; per-tile rollup scaled by 1e1 (quantum 1e-7: the DuckDB oracle's expression engine contracts multiply-adds, so cross-engine doubles agree only to ~1e-13 relative). */
  def sigma0Query(spark: SparkSession, sfDir: String): DataFrame = {
    val tiles = Raster.intensityTiles(spark, sfDir)
    val lut = lutTable(spark, sfDir, "sigma_nought")
    val out = withLutA(tiles, lut)
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDIV))
    Raster.rollup(out, scale = 1e1)
  }

  /** beta0 = dn^2 / A_beta^2 — the LUT-selection branch of CalibrationOp
   * (Sentinel1Calibrator.java:479-505: sigma/beta/gamma/dn select the LUT column). */
  def beta0Query(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withLutA(Raster.intensityTiles(spark, sfDir), lutTable(spark, sfDir, "beta_nought"))
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDIV))
    Raster.rollup(out, scale = 1e1)
  }

  /** gamma0 = dn^2 / A_gamma^2. */
  def gamma0Query(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withLutA(Raster.intensityTiles(spark, sfDir), lutTable(spark, sfDir, "gamma"))
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDIV))
    Raster.rollup(out, scale = 1e1)
  }

  /** sigma0 in dB (outputImageScaleInDb, Sentinel1Calibrator.java:358-364). */
  def sigma0DbQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withLutA(Raster.intensityTiles(spark, sfDir), lutTable(spark, sfDir, "sigma_nought"))
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDB))
    Raster.rollup(out)
  }

  /** Complex-output calibration (Sentinel1Calibrator.java:450-452): i' = i / A —
   * the phase-preserving branch; the gate rolls up the calibrated real part. */
  def complexCalQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val tiles = Fixtures.table(spark, sfDir, "tiles")
      .withColumn("iq", graft.exprs.KernelExprs.quantize(col("i"), Raster.Dyadic.toDouble))
    val out = withLutA(tiles, lutTable(spark, sfDir, "sigma_nought"))
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("iq"), col("lut_a"), graft.exprs.Kernels.PM_COMPLEXDIV))
    Raster.rollup(out)
  }

  /** Thermal-noise removal (reference Sentinel1RemoveThermalNoiseOp.java:54): subtract the
   * interpolated noise LUT from dn^2, clamp at 0 — same broadcast-LUT shape. */
  def thermalNoiseQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val out = withLutA(Raster.intensityTiles(spark, sfDir), noiseLutTable(spark, sfDir))
      .withColumn("out", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_NOISESUB))
    Raster.rollup(out, scale = 1.0)
  }

  /** q_antenna_pattern: remove the two-way elevation antenna-pattern gain
   * (RemoveAntennaPatternOp.java — out = dn2 / g(theta)^2 with the gain pattern a
   * closed-form elevation profile both engines evaluate from pixel coordinates). */
  def antennaPatternQuery(spark: SparkSession, sfDir: String): DataFrame =
    // compiled twin of transform(v, (x, k) -> x / g(gx)^2) — RasterOpsSpec pins
    // the mode bitwise against the interpreted lambda it replaced
    Raster.rollup(Raster.intensityTiles(spark, sfDir)
      .withColumn("out", graft.exprs.KernelExprs.pixelMapIdx(
        col("v"), col("tile_x"), lit(0.0), graft.exprs.Kernels.PXI_ANTPAT,
        Layout.TileW, Layout.SamplesPerBurst)))

  /** q_eap_phase: Sentinel-1 elevation-antenna-pattern phase correction
   * (EAPPhaseCorrection — wrapped phase minus the elevation phase profile). */
  def eapPhaseQuery(spark: SparkSession, sfDir: String): DataFrame =
    // compiled twin of the former quantize-quantize-atan2-wrap HOF quadruple:
    // ONE pass fusing both input quantizations, the phase and the EAP-profile
    // subtraction (RasterOpsSpec pins the mode bitwise)
    Raster.rollup(Fixtures.table(spark, sfDir, "tiles")
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_x"), col("tile_y"), col("i"), col("q"))
      .withColumn("out", graft.exprs.KernelExprs.phaseSubPair(
        col("i"), col("q"), col("tile_x"), col("tile_y"),
        graft.exprs.Kernels.PS_EAP, Raster.Dyadic.toDouble,
        Layout.TileW, Layout.TileH, Layout.SamplesPerBurst)))

  /** Iceye GRD constant calibration factor — the reference's own synthetic
   * golden case (TestCalibrationOp.java:126-140 sets calibration_factor to
   * exactly this and expects sigma0 = k * dn^2, IceyeCalibrator.java:237). */
  val IceyeK = "1.8627006757903795E-4"

  /** ALOS CEOS-class constant: CF = 27 dB with the -32 dB offset folded to a
   * linear factor 10^((27-32)/10) (ALOSCalibrator.java:121-127: CF -= 32, dB
   * to linear; :241 sigma = dn * factor). Written as the exact decimal literal
   * so both engines parse the identical double — no libm pow in the gate. */
  val AlosK = "0.31622776601683794"

  /** Radarsat-2 LUT-class offset: sigma0 = (dn^2 + offset) / gain with gain a
   * per-range-sample LUT vector and offset a product-metadata scalar
   * (Radarsat2Calibrator: lutInf gains + offset applied per pixel). The
   * per-product metadata value is modeled as an exact fixture literal; the
   * gain reuses the calibration-vector LUT machinery — same broadcast join,
   * DIFFERENT per-pixel formula class (additive offset + straight division,
   * not the S1 dn^2/A^2 square). */
  val Rs2Offset = "33.0"

  /** ASAR/ERS external calibration constant K (ASARCalibrator.java:991:
   * calFactor *= sin(incidence * DTOR) / theCalibrationFactor — the
   * incidence-angle-DEPENDENT class: per-pixel sin(theta) over a constant K,
   * theta from the quadratic tie-point-grid interpolation at :947; the
   * fixture's closed-form linear theta(gx) is that TPG analog). */
  val AsarK = "1120.0"

  /** TerraSAR-X calibration factor Ks (TerraSARXCalibrator.java:192,459-461:
   * sigma = Ks * |dn - noise| * sin(inciAng) — the multiplicative-constant
   * class WITH a subtractive NEBN noise polynomial in range position
   * (computePolynomialValue over slant-range time, :285-287)). */
  val TsxKs = "5.0E-5"

  /** Degrees→radians literal (Constants.DTOR) — spelled as the exact decimal
   * so both engines parse the identical double; no runtime pi()/radians(). */
  val Dtor = "0.017453292519943295"

  /** Shared-text ASAR sigma0: dn2 * sin(theta(gx) * DTOR) / K. `gx` is the
   * global range-sample expression of the calling dialect (engine: index
   * arithmetic inside the transform lambda; oracle: the p2 CTE's gx). */
  def asarSigma(x: String, gx: String): String =
    s"($x * sin((20.0 + 20.0 * ($gx) / ${Layout.SamplesPerBurst}) * $Dtor) / $AsarK)"

  /** Shared-text TerraSAR-X sigma0: Ks * |dn2 - NEBN(u)| * sin(theta(gx) * DTOR)
   * with NEBN a degree-2 polynomial in the normalized range position u —
   * the reference's per-record noise polynomial over slant-range time
   * (TerraSARXCalibrator.java:285-287) collapsed to the fixture's single
   * closed-form record. */
  def tsxSigma(x: String, gx: String): String = {
    val u = s"(($gx) / CAST(${Layout.SamplesPerBurst} AS DOUBLE))"
    s"($TsxKs * abs($x - (0.02 + 0.01 * $u - 0.005 * $u * $u)) * " +
      s"sin((20.0 + 20.0 * ($gx) / ${Layout.SamplesPerBurst}) * $Dtor))"
  }

  /**
   * q_calibration_dispatch: mission-keyed calibrator selection — the
   * CalibrationFactory.createCalibrator shape (CalibrationOp.java:133
   * dispatching over 22 mission calibrators), six formula classes fused into
   * one per-row CASE over the broadcast-LUT join (zero extra shuffles):
   * SENTINEL-1 the vector-LUT bilinear path (Sentinel1Calibrator.java:327-462),
   * ICEYE the constant-factor k*dn^2 (IceyeCalibrator.java:235-237), ALOS the
   * CEOS dB-constant-with-offset linear factor (ALOSCalibrator.java:121-127,
   * 241), RADARSAT-2 the gains-LUT-with-offset class (dn^2 + offset) / gain
   * (Radarsat2Calibrator lutInf application), ASAR the incidence-angle class
   * dn^2 * sin(theta)/K (ASARCalibrator.java:991 with the tie-point-grid
   * interpolated theta, :947), TERRASAR-X the Ks * |dn^2 - NEBN(range)| *
   * sin(theta) class (TerraSARXCalibrator.java:459-461 with the range noise
   * polynomial, :285-287). The mission key is derived deterministically from
   * the (scene ordinal, subswath ordinal) pair — the fixtures are S1-shaped;
   * the DISPATCH is the semantics under test, and the *3+ordinal folding makes
   * every fixture scale (sf0.001's 2 scenes x 3 subswaths up) exercise ALL six
   * branches in the gate.
   */
  val DispatchMission: String =
    "CASE (CAST(substring(scene_id, 7, 4) AS INT) * 3 + CAST(substring(subswath, 3, 1) AS INT) - 1) % 6 " +
      "WHEN 1 THEN 'ICEYE' WHEN 2 THEN 'ALOS' WHEN 3 THEN 'RADARSAT-2' " +
      "WHEN 4 THEN 'ASAR' WHEN 5 THEN 'TERRASAR-X' " +
      "ELSE 'SENTINEL-1' END"
  def dispatchQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // same fused per-row CASE over the broadcast-LUT join, each branch now a
    // compiled kernel instead of an interpreted HOF lambda (CaseWhen still
    // evaluates only the selected branch per row; the mission constants are
    // parsed from the SAME literal strings the SQL branches interpolated, and
    // Double.parseDouble = Catalyst's literal parse, so the doubles and
    // therefore the results are bit-identical — RasterOpsSpec pins each class)
    import graft.exprs.{KernelExprs, Kernels}
    val tw = Layout.TileW; val spb = Layout.SamplesPerBurst
    def idx(mode: Int, k: String) =
      KernelExprs.pixelMapIdx(col("v"), col("tile_x"), lit(k.toDouble), mode, tw, spb)
    val out = withLutA(Raster.intensityTiles(spark, sfDir),
        lutTable(spark, sfDir, "sigma_nought"))
      .withColumn("mission", expr(DispatchMission))
      .withColumn("out",
        when(col("mission") === "ICEYE", idx(Kernels.PXI_SCALE, IceyeK))
          .when(col("mission") === "ALOS", idx(Kernels.PXI_SCALE, AlosK))
          .when(col("mission") === "RADARSAT-2",
            KernelExprs.pixelMap2(col("v"), col("lut_a"), Kernels.PM_RS2OFF, Rs2Offset.toDouble))
          .when(col("mission") === "ASAR", idx(Kernels.PXI_ASAR, AsarK))
          .when(col("mission") === "TERRASAR-X", idx(Kernels.PXI_TSX, TsxKs))
          .otherwise(KernelExprs.pixelMap2(col("v"), col("lut_a"), Kernels.PM_CALDIV)))
    Raster.rollup(out, scale = 1e1)
      .withColumn("mission", expr(DispatchMission))
  }

  /** q_thermal_noise_rcm: RCM/SAOCOM-style per-beam constant noise-floor variant
   * of ThermalNoiseRemoval (the mission calibrators swap the vector LUT for a
   * per-beam scalar floor; RCMCalibrator/SAOCOM noise handling). */
  def thermalNoiseRcmQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(Raster.intensityTiles(spark, sfDir)
      .withColumn("nf", expr("2.0D + 0.25D * burst_idx"))
      .withColumn("out", graft.exprs.KernelExprs.pixelMapIdx(
        col("v"), col("tile_x"), col("nf"), graft.exprs.Kernels.PXI_SUBMAX,
        Layout.TileW, Layout.SamplesPerBurst)))
}
