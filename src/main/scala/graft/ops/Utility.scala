package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout

/**
 * Utility / detection / tracking operators:
 *  - Data-Analysis (reference DataAnalysisOp.java:56): per-band statistics
 *    (min/max/mean/stddev over valid pixels) — two-moment partials per tile, one
 *    final aggregation (the map-side-combine shape).
 *  - Undersample (UndersamplingOp.java:88): 2x2 decimation per tile.
 *  - Flood-Detection (FloodDetectionOp.java:40): 3x3 boxcar mean below threshold.
 *  - Offset-Tracking (OffsetTrackingOp.java:66-134): xcorr offsets scaled to
 *    velocities by pixel spacing / time baseline, max-velocity validity filter.
 *  - GCP grid (CrossCorrelationOp.addGCPGrid:285-314): the exact pin lattice —
 *    n = sqrt(numPins/ratio), m = ratio*n, pins at (int)(spacing/2 + k*spacing).
 */
object Utility {

  private val ND = Raster.ND

  /** Integer-exact two-moment combine: per-pixel quantized BIGINT partials per tile,
   * exact integer merge across tiles (map-side combine shape; the mean/stddev are
   * recoverable downstream from the exact moments). */
  def dataAnalysisQuery(spark: SparkSession, sfDir: String): DataFrame =
    // ONE compiled pass per tile (rollup2Q) replaces the filter HOF + two
    // interpreted folds + array_min/array_max: n/s/s2 are the identical
    // guards and quantizers, and per-tile min/max commute with the monotone
    // quantizer (floor(off + min(valid)*q) = min over valid of floor(off+x*q),
    // the established rollupQ argument); empty-valid tiles yield null mn/mx
    // exactly like array_min of an empty array, ignored by min()/max()
    Raster.intensityTiles(spark, sfDir)
      .withColumn("ts", graft.exprs.KernelExprs.rollup2Q(col("v"), 1.0e6))
      .groupBy("scene_id", "subswath", "pol")
      .agg(
        sum(col("ts.n")).as("n_px"),
        sum(col("ts.s")).as("sum_q"),
        sum(col("ts.s2")).as("sumsq_q"),
        min(col("ts.mn")).as("min_q"),
        max(col("ts.mx")).as("max_q"))

  /** Undersample target raster size (the reference default ratio 0.5:
   * targetW = (int)(0.5 * srcW + 0.5), UndersamplingOp.java:329-330). */
  val UsSrcW: Int = Layout.TilesX * Layout.TileW
  val UsSrcH: Int = Layout.TilesY * Layout.TileH
  val UsTgtW: Int = (0.5f * UsSrcW + 0.5f).toInt
  val UsTgtH: Int = (0.5f * UsSrcH + 0.5f).toInt
  /** moving-window steps (UndersamplingOp.java:356-357). */
  val UsStepAz: Double = (UsSrcH - 3).toDouble / (UsTgtH - 1).toDouble
  val UsStepRg: Double = (UsSrcW - 3).toDouble / (UsTgtW - 1).toDouble

  /**
   * Undersample — the reference's DEFAULT method, KERNEL FILTERING
   * (UndersamplingOp.java:105-106 defaultValue = KERNEL_FILTERING, :110 LOW_PASS,
   * :114 3x3, getFilteredValue:642-686): per target pixel (tx, ty), the source
   * window anchors at x0 = (int)(tx * stepRange + 0.5), y0 likewise
   * (:644-645), and the output is the kernel-weighted sum of the COMPLEX
   * intensity i^2 + q^2 (:674-676) with weight = kernel/numPixels — the
   * lop_3_3.ker all-ones kernel gives 1/9 everywhere (the reference divides the
   * float kernel by float numPixels; here the weight is the double 1/9 — a
   * documented deviation). The reference applies NO no-data guard in this path
   * (raw buffer values enter the sum) — mirrored. The burst raster is assembled
   * per burst (8 tiles, sorted tile-major) and all target pixels compute in one
   * array pass; the 9 window terms sum in the reference's (y, x) loop order so
   * both engines walk one IEEE chain. Sub-sampling (the other reference method,
   * :181-183) stays as its own gate, q_undersample_subsample.
   */
  def undersampleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 1.0 / 9
    val terms = (for (dy <- 0 to 2; dx <- 0 to 2) yield {
      val ti = s"CAST(((y0 + $dy) div ${Layout.TileH}) * ${Layout.TilesX} + ((x0 + $dx) div ${Layout.TileW}) + 1 AS INT)"
      val px = s"CAST(((y0 + $dy) % ${Layout.TileH}) * ${Layout.TileW} + (x0 + $dx) % ${Layout.TileW} + 1 AS INT)"
      s"(element_at(element_at(ts, $ti).iq, $px) * element_at(element_at(ts, $ti).iq, $px) + " +
        s"element_at(element_at(ts, $ti).qq, $px) * element_at(element_at(ts, $ti).qq, $px)) * $w"
    }).mkString("(", " + ", ")")
    Fixtures.table(spark, sfDir, "tiles")
      .withColumn("iq", graft.exprs.KernelExprs.quantize(col("i"), Raster.Dyadic))
      .withColumn("qq", graft.exprs.KernelExprs.quantize(col("q"), Raster.Dyadic))
      .transform(Raster.burstTiles(_, "iq", "qq"))
      .withColumn("out", expr(
        s"""transform(sequence(0, ${UsTgtW * UsTgtH - 1}), t ->
           |  aggregate(array(struct(
           |      CAST(floor((t div $UsTgtW) * $UsStepAz + 0.5) AS INT) AS y0,
           |      CAST(floor((t % $UsTgtW) * $UsStepRg + 0.5) AS INT) AS x0)),
           |    CAST(0 AS DOUBLE),
           |    (acc, c) -> acc + ${terms.replace("y0", "c.y0").replace("x0", "c.x0")}))""".stripMargin))
      .withColumn("tile_y", lit(0)).withColumn("tile_x", lit(0))
      .drop("ts", "iq", "qq")
      .transform(Raster.rollup(_))
  }

  /** Sub-Sampling undersample (UndersamplingOp.java:181-183, 2x2 decimation). */
  def undersampleSubsampleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val w2 = Layout.TileW / 2
    val d = Raster.Dyadic; val dv = Raster.DyadicV
    // decimate the RAW i/q arrays and snap per kept pixel: referencing the derived
    // `v` array 256x per tile made Catalyst inline the full 1024-element zip_with
    // into every element_at (O(W*H) per kept pixel — a 500x interpreted blowup
    // that stalled the gate ~9 min on this one query)
    val idx = s"CAST((j div $w2) * 2 * ${Layout.TileW} + (j % $w2) * 2 + 1 AS INT)"
    Raster.rollup(Fixtures.table(spark, sfDir, "tiles")
      .withColumn("out", expr(
        s"""transform(sequence(0, ${w2 * Layout.TileH / 2 - 1}), j ->
           |  if(element_at(i, $idx) = $ND or element_at(q, $idx) = $ND
           |       or isnan(element_at(i, $idx)) or isnan(element_at(q, $idx)), $ND,
           |     floor(((floor(element_at(i, $idx) * $d) / $d) * (floor(element_at(i, $idx) * $d) / $d)
           |            + (floor(element_at(q, $idx) * $d) / $d) * (floor(element_at(q, $idx) * $d) / $d)) * $dv) / $dv))""".stripMargin)))
  }

  val FloodThreshold = 80.0

  def floodDetectionQuery(spark: SparkSession, sfDir: String): DataFrame =
    Speckle.filterOver(Speckle.haloTiles(spark, sfDir), "mean", 1)
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        expr(s"CAST(size(filter(out, x -> x != $ND and x < $FloodThreshold)) AS BIGINT)")
          .as("n_flooded"))

  val RangeSpacingM = 10.0 // m/px
  val TimeBaselineDays = 6.0

  def offsetTrackingQuery(spark: SparkSession, sfDir: String): DataFrame =
    Coregistration.xcorrOffsetsQuery(spark, sfDir)
      .select(col("gcp_id"), col("scene_id"),
        round(col("est_dx") * RangeSpacingM / TimeBaselineDays, 6).as("vx_m_day"),
        round(col("est_dy") * RangeSpacingM / TimeBaselineDays, 6).as("vy_m_day"),
        round(sqrt((col("est_dx") * RangeSpacingM / TimeBaselineDays) * (col("est_dx") * RangeSpacingM / TimeBaselineDays)
          + (col("est_dy") * RangeSpacingM / TimeBaselineDays) * (col("est_dy") * RangeSpacingM / TimeBaselineDays)), 6).as("v_mag"),
        (abs(col("est_dx") * RangeSpacingM / TimeBaselineDays) <= 5.0 &&
          abs(col("est_dy") * RangeSpacingM / TimeBaselineDays) <= 5.0).as("valid"))

  val FillRadius = 4 // OffsetTrackingOp.java:122

  /** Offset-Tracking hole filling (OffsetTrackingOp.java:526, 603-652 fillHoles):
   * each HOLE grid GCP takes the 1/chebyshev-distance weighted mean of the
   * valid GCPs within radius 4 on the (azimuth, range) GCP grid. Grid indices are
   * dense ranks of the global-line/sample pin coordinates per (scene, subswath,
   * pol). The fixture's SSD matches never fail, so the hole set is PLANTED by
   * grid parity ((gi + gj) even), the same device as the planted shifts — the
   * weighted-fill mechanism is what the gate verifies. Weights are staged x12 —
   * {12, 6, 4, 3} exact integers — so the weighted sums are order-independent
   * integer arithmetic in both engines. */
  def offsetTrackingFillQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scale = s"$RangeSpacingM / $TimeBaselineDays"
    val grp = Window.partitionBy("scene_id", "subswath", "pol")
    val est = Coregistration.xcorrOffsetsQuery(spark, sfDir)
      .join(Fixtures.table(spark, sfDir, "gcps")
          .select("gcp_id", "subswath", "pol", "burst_idx", "cx", "cy"),
        Seq("gcp_id"))
      .withColumn("gy", expr(s"(burst_idx - 1) * ${Layout.LinesPerBurst} + cy"))
      .withColumn("gi", dense_rank().over(grp.orderBy("gy")))
      .withColumn("gj", dense_rank().over(grp.orderBy("cx")))
      .withColumn("valid", expr("(gi + gj) % 2 = 1"))
    val holes = est.where(!col("valid"))
      .select(col("scene_id"), col("subswath"), col("pol"), col("gcp_id"),
        col("gi").as("hi"), col("gj").as("hj"))
    val valids = est.where(col("valid"))
      .select(col("scene_id"), col("subswath"), col("pol"),
        col("gi"), col("gj"), col("est_dx"), col("est_dy"))
    holes.join(valids, Seq("scene_id", "subswath", "pol"))
      .where(expr(s"greatest(abs(gi - hi), abs(gj - hj)) <= $FillRadius"))
      .withColumn("w12", expr("12 div greatest(abs(gi - hi), abs(gj - hj))"))
      .groupBy("scene_id", "subswath", "pol", "gcp_id")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(expr("w12 * CAST(est_dx AS BIGINT)")).as("sdx"),
        sum(expr("w12 * CAST(est_dy AS BIGINT)")).as("sdy"),
        sum("w12").as("sw"))
      .select(col("scene_id"), col("subswath"), col("pol"), col("gcp_id"), col("n_neighbors"),
        expr(s"round(CAST(sdx AS DOUBLE) / CAST(sw AS DOUBLE) * $scale, 6)").as("vx_fill"),
        expr(s"round(CAST(sdy AS DOUBLE) / CAST(sw AS DOUBLE) * $scale, 6)").as("vy_fill"))
  }

  /** The reference pin lattice per (width, height) = subswath raster, numPins = 24. */
  def gcpGridQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Layout.SamplesPerBurst
    val h = Layout.LinesPerBurst * Layout.BurstsPerSubswath
    val numPins = 24
    val ratio = w / h.toDouble
    val n = math.sqrt(numPins / ratio)
    val m = ratio * n
    val spacingX = w / m
    val spacingY = h / n
    Fixtures.table(spark, sfDir, "scenes").select("scene_id")
      .withColumn("subswath", explode(array(Layout.Subswaths.map(lit(_)): _*)))
      .withColumn("iy", explode(sequence(lit(0), lit((h / spacingY).toInt))))
      .withColumn("ix", explode(sequence(lit(0), lit((w / spacingX).toInt))))
      .withColumn("py", lit(spacingY / 2f) + col("iy") * spacingY)
      .withColumn("px", lit(spacingX / 2f) + col("ix") * spacingX)
      .where(col("py") < h && col("px") < w)
      .select(col("scene_id"), col("subswath"),
        expr("CAST(px AS INT)").as("pin_x"), expr("CAST(py AS INT)").as("pin_y"))
  }
}
