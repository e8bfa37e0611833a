package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout
import graft.exprs.KernelExprs
import graft.exprs.Kernels.q6Sql

/**
 * InSAR operators over the coregistered (tiles, tiles_sec) pair:
 *  - Interferogram (reference InterferogramOp.java:64-106): ifg = ref * conj(sec)
 *    per pixel — re = i1*i2 + q1*q2, im = q1*i2 - i1*q2, phase = atan2(im, re);
 *    optional flat-earth phase polynomial subtraction (InterferogramOp.java:77-86).
 *  - Coherence (reference CoherenceOp.java:69-87, 722, 752-755): windowed
 *    |sum r*conj(s)| / sqrt(sum |r|^2 * sum |s|^2) over a 3x3 window.
 *  - TOPSAR deramp/demod phase (reference Sentinel1Utils.java:735-805):
 *    phi = -pi*kt*(ta - tref)^2 - 2*pi*fdc*ta, wrapped to (-pi, pi].
 * Hot kernels are native codegen'd expressions (graft.exprs.Kernels): the complex
 * cross products are ONE compiled pass per tile pair, coherence ONE windowed pass
 * over the 4-channel halo.
 */
object InSAR {

  private val ND = Raster.ND

  /** Flat-earth polynomial coefficients (range ramp; shared engine <-> oracle). */
  val FlatC1: Double = 2.0 * math.Pi / 64.0
  val FlatC3: Double = 2.0 * math.Pi / 65536.0
  /** Coherence bias-correction constant 1/sqrt(2*ENL) with ENL = 9 (3x3 window). */
  val CohBiasC: Double = 1.0 / math.sqrt(18.0)
  val CohBiasDen: Double = 1.0 - CohBiasC

  /** Reference and secondary tiles joined per tile key, with the complex-cross
   * per-pixel arrays (cre, cim, p1, p2) from ONE compiled pass per tile pair.
   * The chain Interferogram node calls it on its two source frames. */
  def cross(ref: DataFrame, sec: DataFrame): DataFrame = {
    val keys = Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y")
    ref.select(keys.map(col) ++ Seq(col("i").as("i1"), col("q").as("q1")): _*)
      .join(sec.select(keys.map(col) ++ Seq(col("i").as("i2"), col("q").as("q2")): _*), keys)
      .withColumn("cx", KernelExprs.complexCross(col("i1"), col("q1"), col("i2"), col("q2")))
      .select(keys.map(col) ++ Seq(col("cx.cre").as("cre"), col("cx.cim").as("cim"),
        col("cx.p1").as("p1"), col("cx.p2").as("p2")): _*)
  }

  /** tiles joined with tiles_sec per tile key, with complex-cross per-pixel arrays. */
  def crossTiles(spark: SparkSession, sfDir: String): DataFrame =
    cross(Fixtures.table(spark, sfDir, "tiles"), Fixtures.table(spark, sfDir, "tiles_sec"))

  /** Per-tile interferogram phase rollup. */
  def interferogramQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(crossTiles(spark, sfDir)
      .withColumn("out", KernelExprs.pixelMap2(
        col("cim"), col("cre"), graft.exprs.Kernels.PM_ATAN2)))

  /**
   * Interferogram with flat-earth phase subtraction (InterferogramOp.java:77-86):
   * the flat-earth phase is a degree-2 polynomial in (line, pixel) fitted scene-wide;
   * here the polynomial coefficients come from the scene dimension table analog — a
   * deterministic function of the burst geometry (2*pi/wavelength-scaled slant-range
   * ramp) — and the subtraction is exact per pixel: out = wrap(phase - phi_flat).
   */
  def interferogramFlatEarthQuery(spark: SparkSession, sfDir: String): DataFrame =
    // compiled twin of the atan2 + flat-earth wrapped-subtraction HOF pair
    // (RasterOpsSpec pins the mode bitwise against the interpreted lambda)
    Raster.rollup(crossTiles(spark, sfDir)
      .withColumn("out", KernelExprs.phaseSubPair(
        col("cre"), col("cim"), col("tile_x"), col("tile_y"),
        graft.exprs.Kernels.PS_FLAT, 0.0, Layout.TileW, Layout.TileH,
        Layout.SamplesPerBurst, FlatC1, FlatC3)))

  /** Coherence of the cross products into column `out`: one 4-column halo
   * exchange, one native windowed pass. The chain Coherence node calls it too. */
  def coherence(cross: DataFrame, out: String): DataFrame =
    Raster.withHaloMulti(cross, Seq("cre", "cim", "p1", "p2"), margin = 1)
      .withColumn(out, KernelExprs.coherence(
        col("halo_cre"), col("halo_cim"), col("halo_p1"), col("halo_p2"),
        Raster.W, Raster.H, 1))
      .drop("halo_cre", "halo_cim", "halo_p1", "halo_p2")

  def coherenceQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(coherence(crossTiles(spark, sfDir), "out"))

  /** Coherence with bias correction (CoherenceOp.java:927): coh_corr =
   * max(0, (coh - 1/sqrt(2*ENL)) / (1 - 1/sqrt(2*ENL))) with ENL = window n. */
  def coherenceBiasCorrectedQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(coherence(crossTiles(spark, sfDir), "coh")
      .withColumn("out", KernelExprs.pixelMapIdx(
        col("coh"), lit(0), lit(CohBiasC), graft.exprs.Kernels.PXI_COHBIAS,
        Layout.TileW, Layout.SamplesPerBurst))
      .drop("coh"))

  /** Synthetic topographic phase surface used by TopoPhaseRemoval / PhaseToElevation
   * (the reference computes it from the DEM through the InSAR geometry,
   * TopoPhaseRemovalOp; here the surface is the analytic closed form both the
   * engine and oracle evaluate from pixel coordinates). Ktopo rad per meter. */
  val Ktopo = 0.05
  private def hSql(gx: String, gy: String): String =
    s"(100.0 + 50.0 * sin(($gx) / 40.0) + 40.0 * cos(($gy) / 25.0))"

  /** Shared-text topographic phase f(gx, gy) = Ktopo * h(gx, gy) — the one
   * string both the engine expressions (standalone gate + chain node) and the
   * DuckDB oracles evaluate, so the subtraction stays bit-identical. */
  def topoF(gx: String, gy: String): String = s"($Ktopo * ${hSql(gx, gy)})"

  /** TopoPhaseRemoval: out = wrap(ifg_phase - Ktopo * h(gx, gy)). */
  def topoPhaseRemovalQuery(spark: SparkSession, sfDir: String): DataFrame =
    // compiled twin of the atan2 + topo-surface wrapped-subtraction HOF pair
    Raster.rollup(crossTiles(spark, sfDir)
      .withColumn("out", KernelExprs.phaseSubPair(
        col("cre"), col("cim"), col("tile_x"), col("tile_y"),
        graft.exprs.Kernels.PS_TOPO_PAIR, 0.0, Layout.TileW, Layout.TileH,
        Layout.SamplesPerBurst)))

  /**
   * PhaseToElevation — the FULL reference algorithm (PhaseToElevationOp.java:
   * 454-521 computeTile, 560-651 getRefHeightAndPhase, 655-668 computeLookAngles):
   * height = refHeight + alpha * (phase - refPhase) per pixel, with
   * alpha = -slantRange * sin(inc) / (2 * waveNumber * (Bpar * sin(flatAngle)
   *          + Bperp * cos(flatAngle))),
   * flatAngle = lookAngle(x) - lookAngle(xc), lookAngle from the law of cosines
   * acos((sr^2 + ht^2 - er^2) / (2 sr ht)) (:666 — er/ht are the frame-origin
   * distances of target and sensor, exact in the fixture's local frame where the
   * reference uses the geocentric WGS84 radii), and (refHeight, refPhase) the
   * 2x2 least-squares solve over DEM-seeded pixels (:618-648 — seeds here are
   * pixel 0 of every VV tile, heights from the analytic DEM surface the topo
   * operators share). Bperp/Bpar decompose the fixture's constant secondary-
   * orbit offset (TerrainCorrection.SecBx/SecBz — jlinda's baseline polynomial
   * degenerates to constants for a constant-offset orbit) onto the per-column
   * look direction. Per-seed LS terms are dyadically staged (1e-6) before the
   * scene sum so both engines solve from identical integer moments.
   */
  def phaseToElevationQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val spb = Layout.SamplesPerBurst
    val bx = TerrainCorrection.SecBx; val bz = TerrainCorrection.SecBz
    val orbit0 = TerrainCorrection.orbit0(spark, sfDir).select("scene_id", "orb_x", "orb_z")
    // per-column look geometry (computeLookAngles; slantRangeTime/incidence TPG analogs)
    val alphaSql =
      s"""(-(sr * sin_inc) / (2 * (2 * pi() / $Wavelength)
         |  * (($bx * sx + $bz * sz) * sin(look - look_c) + ($bx * sz - $bz * sx) * cos(look - look_c))))""".stripMargin
    val colGeom = orbit0
      .withColumn("gxg", explode(sequence(lit(0), lit(3 * spb - 1))))
      .withColumn("r0", expr("sqrt(orb_x * orb_x + orb_z * orb_z)"))
      .withColumn("sr", expr(s"r0 + gxg * ${TerrainCorrection.DR}"))
      .withColumn("txg", expr("orb_x + sqrt(greatest(CAST(0 AS DOUBLE), sr * sr - orb_z * orb_z))"))
      .withColumn("look", expr("acos((sr * sr + r0 * r0 - txg * txg) / (2 * sr * r0))"))
      .withColumn("sin_inc", expr("sqrt(greatest(CAST(0 AS DOUBLE), sr * sr - orb_z * orb_z)) / sr"))
      .withColumn("sx", expr("(orb_x - txg) / sr"))
      .withColumn("sz", expr("orb_z / sr"))
    val lookC = colGeom.where(col("gxg") === lit(3 * spb / 2))
      .select(col("scene_id"), col("look").as("look_c"))
    val alphaCol = colGeom.join(broadcast(lookC), Seq("scene_id"))
      .withColumn("alpha", expr(alphaSql))
      .select("scene_id", "gxg", "alpha")
    val px = crossTiles(spark, sfDir)
      .withColumn("gxg", expr(
        s"(CAST(substring(subswath, 3, 1) AS INT) - 1) * $spb + tile_x * ${Layout.TileW}"))
    // seeds: pixel 0 of every VV tile — height from the shared analytic DEM
    // surface, phase from the interferogram (getRefHeightAndPhase:560-617)
    val seeds = px.where(col("pol") === "VV")
      .withColumn("phs", expr(s"if(element_at(cim, 1) = $ND or element_at(cre, 1) = $ND, " +
        s"CAST(null AS DOUBLE), atan2(element_at(cim, 1), element_at(cre, 1)))"))
      .where(col("phs").isNotNull)
      .withColumn("gy0", expr(s"tile_y * ${Layout.TileH}"))
      .withColumn("hseed", expr(hSql(s"tile_x * ${Layout.TileW}", "gy0")))
      .join(broadcast(alphaCol), Seq("scene_id", "gxg"))
      .select(col("scene_id"), col("alpha"), col("hseed"), col("phs"))
    val sums = seeds
      .groupBy("scene_id")
      .agg(count(lit(1)).as("d"),
        sum(expr(q6Sql("-(alpha * alpha)"))).as("aq"),
        sum(expr(q6Sql("alpha"))).as("bq"),
        sum(expr(q6Sql("alpha * (hseed - alpha * phs)"))).as("eq"),
        sum(expr(q6Sql("hseed - alpha * phs"))).as("fq"))
      .withColumn("denom", expr("(aq / 1.0E6) * d - (-(bq / 1.0E6)) * (bq / 1.0E6)"))
      .where(col("d") > 0 && col("denom") =!= 0.0)
      .withColumn("ref_h", expr("((aq / 1.0E6) * (fq / 1.0E6) - (-(bq / 1.0E6)) * (eq / 1.0E6)) / denom"))
      .withColumn("ref_p", expr("((eq / 1.0E6) * d - (bq / 1.0E6) * (fq / 1.0E6)) / denom"))
      .select("scene_id", "ref_h", "ref_p")
    // per-pixel height (computeTile:503-521); alpha varies per range COLUMN, so
    // the tile's value array walks gxg + k % W through the broadcast column table
    val perCol = alphaCol.groupBy("scene_id")
      .agg(map_from_entries(collect_list(struct(col("gxg"), col("alpha")))).as("amap"))
    Raster.rollup(px
      .join(broadcast(sums), Seq("scene_id"))
      .join(broadcast(perCol), Seq("scene_id"))
      .withColumn("out", expr(
        s"""zip_with(zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND, atan2(b, a))),
           |  sequence(0, ${Layout.TileW * Layout.TileH - 1}), (ph, k) ->
           |  if(ph = $ND, $ND,
           |    ref_h + element_at(amap, gxg + k % ${Layout.TileW}) * (ph - ref_p)))""".stripMargin))
      .drop("cre", "cim", "p1", "p2", "amap"))
  }

  /** PhaseToDisplacement: disp = -lambda/(4 pi) * phase (lambda = 0.055465763 m). */
  val Wavelength = 0.055465763
  def phaseToDisplacementQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(crossTiles(spark, sfDir)
      .withColumn("out", expr(
        s"""zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND,
           |  -$Wavelength / (4 * pi()) * atan2(b, a)))""".stripMargin)), scale = 1e3)

  /** PhaseToHeight (jlinda Slant2Height.java:104-230, the Schwabisch method):
   * per range column gx, the reference phase is sampled at NH test heights via
   * the fixture's analytic height->phase model phi(h) = h2ph(gx) (h + C h^2)
   * with h2ph(gx) = Ktopo (1 + 0.2 gx / samplesPerBurst), a degree-2 polynomial
   * h(phi) is fitted by closed-form 3x3 normal equations (the reference's
   * polyFit at :196), and each pixel's observed phase evaluates the polynomial.
   * The SQL text below is SHARED with the DuckDB oracle, so both engines stage
   * bit-identical IEEE arithmetic. */
  val S2hCurve = 2.0e-5
  val S2hHeights = Seq(0.0, 250.0, 500.0, 750.0, 1000.0)

  /** h2ph model and sampled phases as SQL text parameterized by the gx expr.
   * All literal atoms are CAST to DOUBLE so Spark's decimal-literal default and
   * DuckDB's double literals stage the identical IEEE arithmetic. */
  def s2hH2phSql(gx: String): String =
    s"(CAST($Ktopo AS DOUBLE) * (1.0 + 0.2 * CAST($gx AS DOUBLE) / ${Layout.SamplesPerBurst}))"

  /** Closed-form degree-2 LS coefficients (a0, a1, a2) of h(phi) through the
   * sampled (phi_i, h_i), as three SQL expressions in the shared text. */
  def s2hCoefSql(gx: String): (String, String, String) = {
    val h2 = s2hH2phSql(gx)
    val phis = S2hHeights.map(h =>
      s"($h2 * (CAST($h AS DOUBLE) + $S2hCurve * CAST(${h * h} AS DOUBLE)))")
    def pow(p: String, k: Int) = Seq.fill(k)(p).mkString(" * ")
    def sum(k: Int) = phis.map(p => if (k == 0) "CAST(1.0 AS DOUBLE)" else pow(p, k)).mkString("(", " + ", ")")
    def bsum(k: Int) = phis.zip(S2hHeights).map { case (p, h) =>
      if (k == 0) s"CAST($h AS DOUBLE)" else s"${pow(p, k)} * CAST($h AS DOUBLE)"
    }.mkString("(", " + ", ")")
    val (s0, s1, s2, s3, s4) = (sum(0), sum(1), sum(2), sum(3), sum(4))
    val (b0, b1, b2) = (bsum(0), bsum(1), bsum(2))
    val det = s"($s0 * ($s2 * $s4 - $s3 * $s3) - $s1 * ($s1 * $s4 - $s3 * $s2) + $s2 * ($s1 * $s3 - $s2 * $s2))"
    val a0 = s"(($b0 * ($s2 * $s4 - $s3 * $s3) - $s1 * ($b1 * $s4 - $s3 * $b2) + $s2 * ($b1 * $s3 - $s2 * $b2)) / $det)"
    val a1 = s"(($s0 * ($b1 * $s4 - $b2 * $s3) - $b0 * ($s1 * $s4 - $s3 * $s2) + $s2 * ($s1 * $b2 - $b1 * $s2)) / $det)"
    val a2 = s"(($s0 * ($s2 * $b2 - $s3 * $b1) - $s1 * ($s1 * $b2 - $s3 * $b0) + $b0 * ($s1 * $s3 - $s2 * $s2)) / $det)"
    (a0, a1, a2)
  }

  def phaseToHeightQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val W = Layout.TileW
    val (a0, a1, a2) = s2hCoefSql(s"(tile_x * $W + lx)")
    val coef = spark.range(Layout.TilesX)
      .select(col("id").cast("int").as("tile_x"))
      .withColumn("a0v", expr(s"transform(sequence(0, ${W - 1}), lx -> $a0)"))
      .withColumn("a1v", expr(s"transform(sequence(0, ${W - 1}), lx -> $a1)"))
      .withColumn("a2v", expr(s"transform(sequence(0, ${W - 1}), lx -> $a2)"))
    Raster.rollup(crossTiles(spark, sfDir)
      .join(broadcast(coef), Seq("tile_x"))
      .withColumn("out", expr(
        s"""transform(sequence(0, ${W * Layout.TileH - 1}), k ->
           |  if(element_at(cim, k + 1) = $ND or element_at(cre, k + 1) = $ND, $ND,
           |    element_at(a0v, k % $W + 1)
           |    + element_at(a1v, k % $W + 1) * atan2(element_at(cim, k + 1), element_at(cre, k + 1))
           |    + element_at(a2v, k % $W + 1) * atan2(element_at(cim, k + 1), element_at(cre, k + 1))
           |      * atan2(element_at(cim, k + 1), element_at(cre, k + 1))))""".stripMargin)), scale = 1.0)
  }

  /** TOPS burst timing per tile: the bursts' first-line time, Doppler rate and
   * centroid and reference time, and the scene's azimuth time interval, both
   * broadcast-joined onto `df` by burst and scene. */
  def withBurstTiming(spark: SparkSession, sfDir: String, df: DataFrame): DataFrame = {
    val bursts = Fixtures.table(spark, sfDir, "bursts")
      .select("scene_id", "subswath", "burst_idx", "burst_first_line_time",
        "doppler_rate", "doppler_centroid", "reference_time")
    val scenes = Fixtures.table(spark, sfDir, "scenes")
      .select("scene_id", "azimuth_time_interval")
    df.join(broadcast(bursts), Seq("scene_id", "subswath", "burst_idx"))
      .join(broadcast(scenes), Seq("scene_id"))
  }

  /** Azimuth time of pixel k's line in its burst (over withBurstTiming's columns). */
  private[ops] val TopsTa =
    s"(burst_first_line_time + (tile_y * ${Layout.TileH} + k div ${Layout.TileW}) * azimuth_time_interval)"
  /** TOPS deramp/demod phase of pixel k (Sentinel1Utils.java:735-805). */
  private val TopsPhi =
    s"(-pi() * doppler_rate * ($TopsTa - reference_time) * ($TopsTa - reference_time) - 2 * pi() * doppler_centroid * $TopsTa)"

  /** VV tiles with i/q snapped to the dyadic grid (iq, qq). */
  private def vvQuantized(spark: SparkSession, sfDir: String): DataFrame =
    Fixtures.table(spark, sfDir, "tiles").where(col("pol") === "VV")
      .withColumn("iq", KernelExprs.quantize(col("i"), Raster.Dyadic))
      .withColumn("qq", KernelExprs.quantize(col("q"), Raster.Dyadic))

  /** Demodulate (TOPSAR demod, Sentinel1Utils.java:735-805): subtract the deramp
   * phase from the raw signal phase, wrapped. */
  def demodulateQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(withBurstTiming(spark, sfDir, vvQuantized(spark, sfDir))
      .withColumn("out", expr(
        s"""transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k ->
           |  if(element_at(iq, k + 1) = $ND or element_at(qq, k + 1) = $ND, $ND,
           |    atan2(sin(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $TopsPhi),
           |          cos(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $TopsPhi))))""".stripMargin)))

  /** Three-pass DInSAR (double-difference over the epoch stack): per pixel,
   * dd = wrap(ph(0->1) - 0.5 * ph(0->2)) with the baseline ratio pinned to 0.5 —
   * the differential-interferogram combination shape (Three-passDInSAROp). */
  def dinsarQuery(spark: SparkSession, sfDir: String): DataFrame = {
    def epoch(e: Int, ip: String, qp: String) =
      Fixtures.table(spark, sfDir, "tiles_stack").where(col("epoch") === e)
        .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
          col("tile_x"), col("tile_y"),
          graft.exprs.KernelExprs.quantize(col("i"), Raster.Dyadic).as(ip),
          graft.exprs.KernelExprs.quantize(col("q"), Raster.Dyadic).as(qp))
    val keys = Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y")
    val j = epoch(0, "i0", "q0").join(epoch(1, "i1", "q1"), keys)
      .join(epoch(2, "i2", "q2"), keys)
    def ph(ie: String, qe: String, k: String) =
      s"atan2(element_at($qe, $k), element_at($ie, $k))"
    val nd01 = s"element_at(i0, k + 1) = $ND or element_at(i1, k + 1) = $ND or element_at(i2, k + 1) = $ND"
    val d01 = s"atan2(sin(${ph("i1", "q1", "k + 1")} - ${ph("i0", "q0", "k + 1")}), cos(${ph("i1", "q1", "k + 1")} - ${ph("i0", "q0", "k + 1")}))"
    val d02 = s"atan2(sin(${ph("i2", "q2", "k + 1")} - ${ph("i0", "q0", "k + 1")}), cos(${ph("i2", "q2", "k + 1")} - ${ph("i0", "q0", "k + 1")}))"
    Raster.rollup(j.withColumn("out", expr(
      s"""transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k ->
         |  if($nd01, $ND, atan2(sin($d01 - 0.5D * $d02), cos($d01 - 0.5D * $d02))))""".stripMargin)))
  }

  /** Deramp/demod phase per pixel, wrapped; per-tile rollup. */
  def derampQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val tiles = Fixtures.table(spark, sfDir, "tiles").where(col("pol") === "VV")
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y")
    Raster.rollup(withBurstTiming(spark, sfDir, tiles)
      .withColumn("out", expr(
        s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> atan2(sin($TopsPhi), cos($TopsPhi)))")))
  }

  /** Remodulate (inverse of Demodulate, TOPSARDerampDemodOp's backward leg):
   * re-apply the deramp/demod phase ramp to the demodulated signal; the round
   * trip recovers the original phase (both engines stage wrap(phi_d + phi)). */
  def remodulateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val phi = TopsPhi
    Raster.rollup(withBurstTiming(spark, sfDir, vvQuantized(spark, sfDir))
      .withColumn("out", expr(
        s"""transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k ->
           |  if(element_at(iq, k + 1) = $ND or element_at(qq, k + 1) = $ND, $ND,
           |    atan2(sin(atan2(sin(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $phi),
           |                    cos(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $phi)) + $phi),
           |          cos(atan2(sin(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $phi),
           |                    cos(atan2(element_at(qq, k + 1), element_at(iq, k + 1)) - $phi)) + $phi))))""".stripMargin)))
  }

  /** Integer interferogram (jlinda IntegerInterferogramOp shape: the wrapped phase
   * quantized onto an integer lattice for the unwrapper export). */
  def integerIfgQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(crossTiles(spark, sfDir)
      .withColumn("out", expr(
        s"""zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND,
           |  CAST(round(atan2(b, a) * (128 / pi()), 0) AS DOUBLE)))""".stripMargin)))

  /** Phase filter (jlinda phasefilter spatial leg; Goldstein is the spectral one):
   * boxcar on the unit phasor — out = atan2(mean sin, mean cos) over 3x3. */
  def phaseFilterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // unit-phasor components snapped to the 2^-20 dyadic grid: the boxcar window
    // sums are then EXACT (order-free) and match the oracle's SUM bit-for-bit
    val ph = crossTiles(spark, sfDir)
      .withColumn("sg", expr(s"zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND, floor(sin(atan2(b, a)) * 1048576D) / 1048576D))"))
      .withColumn("cg", expr(s"zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND, floor(cos(atan2(b, a)) * 1048576D) / 1048576D))"))
    val haloed = Raster.withHaloMulti(ph, Seq("sg", "cg"), 1)
    Raster.rollup(haloed
      .withColumn("ms", graft.exprs.KernelExprs.speckleFilter(col("halo_sg"), "boxcar",
        Raster.W, Raster.H, 1, lit(Speckle.Enl), lit(Speckle.FrostDamping)))
      .withColumn("mc", graft.exprs.KernelExprs.speckleFilter(col("halo_cg"), "boxcar",
        Raster.W, Raster.H, 1, lit(Speckle.Enl), lit(Speckle.FrostDamping)))
      .withColumn("out", expr(
        s"zip_with(ms, mc, (sm, cm) -> if(sm = $ND or cm = $ND, $ND, atan2(sm, cm)))"))
      .drop("halo_sg", "halo_cg", "ms", "mc"))
  }
}
