package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.Utility

/** DuckDB oracles for the utility / detection / tracking operators. */
object SarOracles3 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  private val pxCte: String =
    s"""px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}),
       |px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px0)""".stripMargin

  val dataAnalysis: String =
    s"""WITH $pxCte
       |SELECT scene_id, subswath, pol,
       |       count(*) FILTER (v <> -9999.0) AS n_px,
       |       CAST(coalesce(sum(CAST(floor(0.031415926535897934 + v * 1.0E6) AS BIGINT)) FILTER (v <> -9999.0), 0) AS BIGINT) AS sum_q,
       |       CAST(coalesce(sum(CAST(floor(0.031415926535897934 + v * v * 1.0E6) AS BIGINT)) FILTER (v <> -9999.0), 0) AS BIGINT) AS sumsq_q,
       |       min(CAST(floor(0.031415926535897934 + v * 1.0E6) AS BIGINT)) FILTER (v <> -9999.0) AS min_q,
       |       max(CAST(floor(0.031415926535897934 + v * 1.0E6) AS BIGINT)) FILTER (v <> -9999.0) AS max_q
       |FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Undersample twin — the reference-DEFAULT kernel-filtering path
   * (UndersamplingOp.java:105-114, 642-686): burst raster assembled row-major,
   * per-target 3x3 all-ones lowpass over complex intensity at the fractional
   * stride anchors; the 9 terms sum in the reference's (y, x) loop order with
   * expression text identical to ops.Utility.undersampleQuery. */
  val undersample: String = {
    val u = Utility
    val w = 1.0 / 9
    val terms = (for (dy <- 0 to 2; dx <- 0 to 2) yield {
      val li = s"list_extract(li, (y0 + $dy) * ${u.UsSrcW} + (x0 + $dx) + 1)"
      val lq = s"list_extract(lq, (y0 + $dy) * ${u.UsSrcW} + (x0 + $dx) + 1)"
      s"($li * $li + $lq * $lq) * $w"
    }).mkString("(", " + ", ")")
    s"""WITH uq0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
       |  FROM ${fx("tiles")}),
       |uq AS (
       |  SELECT *, tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy
       |  FROM uq0),
       |rs AS MATERIALIZED (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |         list(iv ORDER BY gy, gx) AS li, list(qv ORDER BY gy, gx) AS lq
       |  FROM uq GROUP BY 1, 2, 3, 4),
       |tg AS MATERIALIZED (
       |  SELECT r.scene_id, r.subswath, r.pol, r.burst_idx, r.li, r.lq, g.t,
       |    CAST(floor((g.t // ${u.UsTgtW}) * ${u.UsStepAz} + 0.5) AS INT) AS y0,
       |    CAST(floor((g.t % ${u.UsTgtW}) * ${u.UsStepRg} + 0.5) AS INT) AS x0
       |  FROM rs r, (SELECT unnest(range(${u.UsTgtW * u.UsTgtH})) AS t) g),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, 0 AS tile_y, 0 AS tile_x,
       |         $terms AS out
       |  FROM tg)
       |${SarOracles.rollupSql(1.0)}""".stripMargin
  }

  /** Sub-Sampling undersample (the other reference method, UndersamplingOp.java:181-183). */
  val undersampleSubsample: String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, v AS out
       |      FROM px WHERE gx % 2 = 0 AND gy % 2 = 0)
       |${SarOracles.rollupSql(1.0)}""".stripMargin

  val floodDetection: String =
    s"""WITH $pxCte,
       |d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS n,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS s1
       |  FROM px c CROSS JOIN d
       |  LEFT JOIN px n ON n.scene_id = c.scene_id AND n.subswath = c.subswath AND n.pol = c.pol
       |    AND n.burst_idx = c.burst_idx AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       count(*) FILTER (n > 0 AND s1 / n < ${Utility.FloodThreshold}) AS n_flooded
       |FROM st GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin

  val offsetTracking: String =
    s"""SELECT gcp_id, scene_id,
       |       round(true_dx * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}, 6) AS vx_m_day,
       |       round(true_dy * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}, 6) AS vy_m_day,
       |       round(sqrt((true_dx * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}) * (true_dx * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays})
       |                  + (true_dy * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}) * (true_dy * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays})), 6) AS v_mag,
       |       abs(true_dx * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}) <= 5.0
       |         AND abs(true_dy * ${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}) <= 5.0 AS valid
       |FROM ${fx("gcps")} ORDER BY gcp_id""".stripMargin

  /** q_offset_tracking_fill (OffsetTrackingOp.java:526, 603-652 fillHoles twin):
   * 1/chebyshev-weighted mean of valid neighbor shifts (radius 4) at each
   * invalid grid GCP; weights x12 = exact integers, planted truth as shifts. */
  val offsetTrackingFill: String = {
    val scale = s"${Utility.RangeSpacingM} / ${Utility.TimeBaselineDays}"
    s"""WITH est AS (
       |  SELECT gcp_id, scene_id, subswath, pol,
       |    dense_rank() OVER (PARTITION BY scene_id, subswath, pol
       |                       ORDER BY (burst_idx - 1) * ${Layout.LinesPerBurst} + cy) AS gi,
       |    dense_rank() OVER (PARTITION BY scene_id, subswath, pol ORDER BY cx) AS gj,
       |    true_dx AS dx, true_dy AS dy
       |  FROM ${fx("gcps")}),
       |est2 AS (SELECT *, (gi + gj) % 2 = 1 AS valid FROM est),
       |holes AS (SELECT scene_id, subswath, pol, gcp_id, gi AS hi, gj AS hj FROM est2 WHERE NOT valid),
       |valids AS (SELECT scene_id, subswath, pol, gi, gj, dx, dy FROM est2 WHERE valid),
       |j AS (
       |  SELECT h.scene_id, h.subswath, h.pol, h.gcp_id,
       |    12 // greatest(abs(v.gi - h.hi), abs(v.gj - h.hj)) AS w12, v.dx, v.dy
       |  FROM holes h JOIN valids v USING (scene_id, subswath, pol)
       |  WHERE greatest(abs(v.gi - h.hi), abs(v.gj - h.hj)) <= ${Utility.FillRadius})
       |SELECT scene_id, subswath, pol, gcp_id, count(*) AS n_neighbors,
       |  round(CAST(sum(w12 * dx) AS DOUBLE) / CAST(sum(w12) AS DOUBLE) * $scale, 6) AS vx_fill,
       |  round(CAST(sum(w12 * dy) AS DOUBLE) / CAST(sum(w12) AS DOUBLE) * $scale, 6) AS vy_fill
       |FROM j GROUP BY 1, 2, 3, 4""".stripMargin
  }

  val gcpGrid: String = {
    val w = Layout.SamplesPerBurst
    val h = Layout.LinesPerBurst * Layout.BurstsPerSubswath
    val ratio = w / h.toDouble
    val n = math.sqrt(24 / ratio)
    val m = ratio * n
    val spacingX = w / m
    val spacingY = h / n
    s"""WITH s AS (SELECT scene_id FROM ${fx("scenes")}),
       |sw AS (SELECT unnest(['IW1', 'IW2', 'IW3']) AS subswath),
       |iy AS (SELECT unnest(range(${(h / spacingY).toInt + 1})) AS iy),
       |ix AS (SELECT unnest(range(${(w / spacingX).toInt + 1})) AS ix)
       |SELECT s.scene_id, sw.subswath,
       |       CAST(floor(${spacingX / 2f} + ix.ix * $spacingX) AS INT) AS pin_x,
       |       CAST(floor(${spacingY / 2f} + iy.iy * $spacingY) AS INT) AS pin_y
       |FROM s, sw, iy, ix
       |WHERE ${spacingY / 2f} + iy.iy * $spacingY < $h AND ${spacingX / 2f} + ix.ix * $spacingX < $w
       |ORDER BY 1, 2, 4, 3""".stripMargin
  }
}
