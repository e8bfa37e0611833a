package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels.q6Sql

/**
 * Full-fidelity Back-Geocoding / DEM-assisted coregistration
 * (BackGeocodingOp.java:1383-1512): for every DEM cell, the zero-Doppler position
 * is solved in BOTH geometries — the master orbit and the secondary orbit (the
 * master's state vectors displaced by the (SecBx, 0, SecBz) baseline) — on the
 * CURVED orbit with Lagrange interpolation and 40-round bisection. The difference
 * of the two fractional (line, sample) positions is the per-cell azimuth/range
 * offset field; the secondary image (the paired odd scene's raster) is then
 * DERAMPED per corner (TOPS deramp/demod phase from the burst Doppler metadata),
 * BILINEAR-resampled at the secondary fractional position, and the remodulation
 * phase at the interpolated azimuth time is reported alongside (the reference's
 * deramp -> interpolate -> remodulate sandwich, BackGeocodingOp.java:1476-1512).
 *
 * Spark shape: two broadcast geometry solves over the distributed cell grid, one
 * broadcast-corners gather join against the secondary tiles — the pixel volume
 * never shuffles; every per-corner term is integer-quantized before the per-cell
 * sum so the combine is order-independent and exact.
 */
object BackGeocoding {

  private val tc = TerrainCorrection

  /** TOPS deramp/demod phase at azimuth time t (shared text with the oracle):
   * phi = -pi kt (t - t_ref)^2 - 2 pi fdc t (TOPSARDerampDemodOp). */
  def phaseSql(t: String): String =
    s"(0.0 - pi() * doppler_rate * (($t) - reference_time) * (($t) - reference_time) " +
      s"- 2 * pi() * doppler_centroid * ($t))"

  def query(spark: SparkSession, sfDir: String): DataFrame = {
    val m = tc.resolveCells(spark, sfDir, useDem = true, perturb = false, ciMax = tc.GeoVarCiMax)
      .withColumnRenamed("subswath", "m_subswath").withColumnRenamed("burst_idx", "m_burst_idx")
      .select("scene_id", "ci", "cj", "m_subswath", "m_burst_idx", "lf", "xf")
      .withColumnRenamed("lf", "lf_m").withColumnRenamed("xf", "xf_m")
    val s = tc.resolveCells(spark, sfDir, useDem = true, perturb = true, ciMax = tc.GeoVarCiMax)
      .withColumnRenamed("lf", "lf_s").withColumnRenamed("xf", "xf_s")
    // master scenes = even indices; the paired odd scene provides the secondary image
    val j = m.join(s, Seq("scene_id", "ci", "cj"))
      .withColumn("scene_idx", expr("CAST(substring(scene_id, 7, 4) AS INT)"))
      .where(col("scene_idx") % 2 === 0)
      .withColumn("sec_scene_id", format_string("scene_%04d", col("scene_idx") + 1))
    // deramp metadata of the secondary position's burst (master scene timeline)
    val withMeta = InSAR.withBurstTiming(spark, sfDir, j)
      .withColumn("t_s", expr("burst_first_line_time + lf_s * azimuth_time_interval"))
      .withColumn("remod_ph", expr(
        s"atan2(sin(0.0 - ${phaseSql("t_s")}), cos(0.0 - ${phaseSql("t_s")}))"))
    val resolved = withMeta.select(
      col("scene_id"), col("sec_scene_id"), col("ci"), col("cj"),
      col("m_subswath"), col("m_burst_idx"),
      col("subswath"), col("burst_idx"), col("l0"), col("x0"), col("wl"), col("wx"),
      col("lf_m"), col("xf_m"), col("lf_s"), col("xf_s"),
      col("burst_first_line_time"), col("doppler_rate"), col("doppler_centroid"),
      col("reference_time"), col("azimuth_time_interval"), col("remod_ph"))
    // 4 bilinear corners over the DERAMPED secondary complex image
    val corners = tc.bilinearCorners(resolved, _
        .withColumn("t_c", expr("burst_first_line_time + line * azimuth_time_interval"))
        .withColumn("ph_c", expr(phaseSql("t_c"))))
      .select("sec_scene_id", "subswath", "burst_idx", "tile_x", "tile_y",
        "scene_id", "ci", "cj", "m_subswath", "m_burst_idx", "px", "w", "ph_c",
        "lf_m", "xf_m", "lf_s", "xf_s", "remod_ph")
    val secTiles = tc.vvTiles(spark, sfDir).withColumnRenamed("scene_id", "sec_scene_id")
    val d = Raster.Dyadic
    secTiles
      .join(broadcast(corners), Seq("sec_scene_id", "subswath", "burst_idx", "tile_x", "tile_y"))
      .withColumn("pa", expr(s"floor(element_at(i, px + 1) * $d) / $d"))
      .withColumn("pb", expr(s"floor(element_at(q, px + 1) * $d) / $d"))
      .withColumn("re_t", expr(
        s"""if(element_at(i, px + 1) = -9999.0D or element_at(q, px + 1) = -9999.0D, CAST(null AS BIGINT),
           |   ${q6Sql("w * (pa * cos(ph_c) + pb * sin(ph_c))")})""".stripMargin))
      .withColumn("im_t", expr(
        s"""if(element_at(i, px + 1) = -9999.0D or element_at(q, px + 1) = -9999.0D, CAST(null AS BIGINT),
           |   ${q6Sql("w * (pb * cos(ph_c) - pa * sin(ph_c))")})""".stripMargin))
      .groupBy("scene_id", "ci", "cj", "m_subswath", "m_burst_idx")
      .agg(count(col("re_t")).as("n_corners"),
        sum(col("re_t")).as("re_q"), sum(col("im_t")).as("im_q"),
        first(expr(q6Sql("lf_s - lf_m"))).as("az_off_q"),
        first(expr(q6Sql("xf_s - xf_m"))).as("rg_off_q"),
        first(expr(q6Sql("remod_ph"))).as("remod_q"))
  }
}
