package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.{Detection, TerrainCorrection}

/**
 * Independent DuckDB derivations for the geometric / coregistration / InSAR /
 * detection operators. The coregistration oracles read the generator's planted
 * ground truth (gcps.true_dx/true_dy) which the engine never sees — recall of the
 * planted shifts is the check. Geometry oracles recompute the closed forms from the
 * same dimension tables.
 */
object SarOracles2 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  /** pixels of a tile table with per-burst raster coords, i/q kept. i/q are snapped
   * to the dyadic 2^-12 grid (Raster.Dyadic) so all downstream sums are exact in
   * double — the sentinel -9999 is itself dyadic and passes through unchanged. */
  private[graft] def pxCte(table: String, name: String): String =
    s"""${name}0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx(table)}),
       |${name}1 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |         floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv
       |  FROM ${name}0),
       |$name AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         iv, qv,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM ${name}1)""".stripMargin

  private def rollupSql(scale: Double): String = SarOracles.rollupSql(scale)

  val terrainCorrection: String = {
    val dr = TerrainCorrection.DR
    s"""WITH orb AS (
       |  SELECT scene_id, t_sec AS orb_t, x AS orb_x, y AS orb_y, z AS orb_z, vy AS orb_vy
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1),
       |grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, s.azimuth_time_interval, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${TerrainCorrection.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${TerrainCorrection.CellDeg} AS lat
       |  FROM ${fx("scenes")} s,
       |       (SELECT unnest(range(${TerrainCorrection.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${TerrainCorrection.GridNy})) AS cj) cj),
       |g2 AS (
       |  SELECT g.*, d.height, o.orb_t, o.orb_x, o.orb_y, o.orb_z, o.orb_vy
       |  FROM grid g
       |  JOIN ${fx("dem")} d ON d.scene_id = g.scene_id
       |    AND d.lat_idx = CAST(round((g.lat - g.lat0) / ${TerrainCorrection.DemStep}, 0) AS INT)
       |    AND d.lon_idx = CAST(round((g.lon - g.lon0) / ${TerrainCorrection.DemStep}, 0) AS INT)
       |  JOIN orb o ON o.scene_id = g.scene_id),
       |g3 AS (
       |  SELECT *,
       |    (lon - lon0) * ${TerrainCorrection.XMetersPerDeg} AS tx_m,
       |    (lat - lat0) * ${TerrainCorrection.YMetersPerDeg} AS ty_m
       |  FROM g2),
       |g4 AS (
       |  SELECT *,
       |    orb_t + (ty_m - orb_y) / orb_vy AS t_zd,
       |    sqrt((orb_x - tx_m) * (orb_x - tx_m) + (orb_z - height) * (orb_z - height)) AS slant,
       |    sqrt(orb_x * orb_x + orb_z * orb_z) AS r0
       |  FROM g3),
       |g5 AS (
       |  SELECT *, CAST(floor((slant - r0) / $dr) AS INT) AS s_idx FROM g4),
       |g6 AS (
       |  SELECT *, 'IW' || CAST(s_idx // ${Layout.SamplesPerBurst} + 1 AS VARCHAR) AS subswath,
       |         CAST(s_idx % ${Layout.SamplesPerBurst} AS INT) AS x_in_sw
       |  FROM g5 WHERE s_idx >= 0 AND s_idx < ${3 * Layout.SamplesPerBurst}),
       |b AS (
       |  SELECT scene_id, subswath, burst_idx, burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |g7 AS (
       |  SELECT g6.scene_id, g6.ci, g6.cj, g6.subswath, b.burst_idx, g6.x_in_sw,
       |         CAST(round((g6.t_zd - b.bft) / g6.azimuth_time_interval, 0) AS INT) AS local_line
       |  FROM g6 JOIN b ON b.scene_id = g6.scene_id AND b.subswath = g6.subswath
       |  WHERE g6.t_zd > coalesce((b.prev_last + b.bft) / 2, -1e18)
       |    AND g6.t_zd <= coalesce((b.blt + b.next_first) / 2, 1e18)
       |    AND g6.t_zd >= b.bft - g6.azimuth_time_interval / 2
       |    AND g6.t_zd <= b.blt + g6.azimuth_time_interval / 2),
       |g8 AS (SELECT * FROM g7 WHERE local_line >= 0 AND local_line < ${Layout.LinesPerBurst}),
       |${pxCte("tiles", "px")}
       |SELECT g8.scene_id, g8.ci, g8.cj, g8.subswath, g8.burst_idx, g8.local_line, g8.x_in_sw,
       |       round(CASE WHEN px.v = -9999.0 THEN -9999.0 ELSE px.v END, 6) AS value
       |FROM g8 JOIN px ON px.scene_id = g8.scene_id AND px.subswath = g8.subswath
       |  AND px.pol = 'VV' AND px.burst_idx = g8.burst_idx
       |  AND px.gx = g8.x_in_sw AND px.gy = g8.local_line
       |ORDER BY 1, 2, 3""".stripMargin
  }

  val xcorrOffsets: String =
    s"""SELECT gcp_id, scene_id, true_dx AS est_dx, true_dy AS est_dy, 0.0 AS ssd_min
       |FROM ${fx("gcps")} ORDER BY gcp_id""".stripMargin

  val warpFit: String =
    s"""SELECT scene_id, count(*) AS n_gcps,
       |       round(avg(true_dx), 6) AS warp_dx, round(avg(true_dy), 6) AS warp_dy,
       |       0.0 AS rms_dx_dev
       |FROM ${fx("gcps")} GROUP BY 1 ORDER BY 1""".stripMargin

  val coregStack: String =
    s"""WITH sh AS (SELECT scene_id, min(true_dx) AS dx, min(true_dy) AS dy FROM ${fx("gcps")} GROUP BY 1),
       |keys AS (SELECT DISTINCT scene_id, subswath, pol, burst_idx FROM ${fx("tiles")})
       |SELECT k.scene_id, k.subswath, k.pol, k.burst_idx,
       |       CAST((${Layout.SamplesPerBurst} - abs(sh.dx)) * (${Layout.LinesPerBurst} - abs(sh.dy)) AS BIGINT) AS n_px,
       |       0.0 AS max_abs_diff
       |FROM keys k JOIN sh USING (scene_id) ORDER BY 1, 2, 3, 4""".stripMargin

  /** cross-product CTEs shared by interferogram/coherence: per-pixel cre/cim/p1/p2. */
  private[graft] val crossCte: String =
    s"""${pxCte("tiles", "pa")},
       |${pxCte("tiles_sec", "pb")},
       |cx AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x, a.gx, a.gy,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.iv * b.iv + a.qv * b.qv END AS cre,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.qv * b.iv - a.iv * b.qv END AS cim,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.iv * a.iv + a.qv * a.qv END AS p1,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE b.iv * b.iv + b.qv * b.qv END AS p2
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy)""".stripMargin

  val interferogram: String =
    s"""WITH $crossCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN cim = -9999.0 OR cre = -9999.0 THEN -9999.0 ELSE atan2(cim, cre) END AS out
       |      FROM cx)
       |${rollupSql(1.0)}""".stripMargin

  val coherence: String =
    s"""WITH $crossCte,
       |d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    count(*) FILTER (n.p1 IS NOT NULL AND n.p1 <> -9999.0) AS n,
       |    coalesce(sum(n.cre) FILTER (n.p1 <> -9999.0), 0) AS sre,
       |    coalesce(sum(n.cim) FILTER (n.p1 <> -9999.0), 0) AS sim,
       |    coalesce(sum(n.p1) FILTER (n.p1 <> -9999.0), 0) AS sp1,
       |    coalesce(sum(n.p2) FILTER (n.p1 <> -9999.0), 0) AS sp2
       |  FROM cx c CROSS JOIN d
       |  LEFT JOIN cx n ON n.scene_id = c.scene_id AND n.subswath = c.subswath AND n.pol = c.pol
       |    AND n.burst_idx = c.burst_idx AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN n = 0 OR sp1 <= 0 OR sp2 <= 0 THEN -9999.0
       |                  ELSE sqrt(sre * sre + sim * sim) / sqrt(sp1 * sp2) END AS out
       |      FROM st)
       |${rollupSql(1.0)}""".stripMargin

  val deramp: String =
    s"""WITH ${pxCte("tiles", "px")},
       |j AS (
       |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |         b.burst_first_line_time + p.gy * s.azimuth_time_interval AS ta,
       |         b.doppler_rate AS kt, b.doppler_centroid AS fdc, b.reference_time AS tref
       |  FROM px p
       |  JOIN ${fx("bursts")} b ON b.scene_id = p.scene_id AND b.subswath = p.subswath AND b.burst_idx = p.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = p.scene_id
       |  WHERE p.pol = 'VV'),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             atan2(sin(-pi() * kt * (ta - tref) * (ta - tref) - 2 * pi() * fdc * ta),
       |                   cos(-pi() * kt * (ta - tref) * (ta - tref) - 2 * pi() * fdc * ta)) AS out
       |      FROM j)
       |${rollupSql(1.0)}""".stripMargin

  val changeDetection: String =
    s"""WITH ${pxCte("tiles", "pa")},
       |${pxCte("tiles_sec", "pb")},
       |o AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |    CASE WHEN b.v = -9999.0 OR a.v = -9999.0 OR a.v <= 0 OR b.v <= 0 THEN -9999.0
       |         ELSE 10 * log10(b.v / a.v) END AS out
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy)
       |${rollupSql(1.0)}""".stripMargin

  val stackAverage: String =
    s"""WITH ${pxCte("tiles", "pa")},
       |${pxCte("tiles_sec", "pb")},
       |o AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |    CASE WHEN a.v = -9999.0 AND b.v = -9999.0 THEN -9999.0
       |         WHEN a.v = -9999.0 THEN b.v
       |         WHEN b.v = -9999.0 THEN a.v
       |         ELSE (a.v + b.v) / 2 END AS out
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy)
       |${rollupSql(1.0)}""".stripMargin

  val cfar: String = {
    val m = 4
    s"""WITH ${pxCte("tiles", "px")},
       |p2 AS (SELECT * FROM px WHERE pol = 'VV'),
       |d AS (SELECT dx.dx, dy.dy
       |      FROM (SELECT unnest(range(-$m, ${m + 1})) AS dx) dx,
       |           (SELECT unnest(range(-$m, ${m + 1})) AS dy) dy
       |      WHERE NOT (abs(dx.dx) <= 1 AND abs(dy.dy) <= 1)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    c.v AS cp,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS n,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS s1,
       |    coalesce(sum(n.v * n.v) FILTER (n.v <> -9999.0), 0) AS s2
       |  FROM p2 c CROSS JOIN d
       |  LEFT JOIN p2 n ON n.scene_id = c.scene_id AND n.subswath = c.subswath AND n.pol = c.pol
       |    AND n.burst_idx = c.burst_idx AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |t AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN cp = -9999.0 OR n < 2 THEN NULL
       |         WHEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) <= 0 THEN NULL
       |         ELSE (cp - s1 / n) / sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) END AS tv
       |  FROM st)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       count(*) FILTER (tv > ${Detection.CfarThreshold}) AS n_detect,
       |       round(max(tv), 4) AS max_t
       |FROM t GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  val mosaic: String =
    s"""WITH ${pxCte("tiles", "px")},
       |j AS (
       |  SELECT p.scene_id,
       |    CAST(floor((b.lon1 + ((p.gx + 0.5) / ${Layout.SamplesPerBurst}) * (b.lon2 - b.lon1)
       |                + ((p.gy + 0.5) / ${Layout.LinesPerBurst}) * (b.lon4 - b.lon1) - s.lon0) / ${graft.ops.Geocode.MosaicCell}) AS INT) AS cell_x,
       |    CAST(floor((b.lat1 + ((p.gy + 0.5) / ${Layout.LinesPerBurst}) * (b.lat4 - b.lat1) - s.lat0) / ${graft.ops.Geocode.MosaicCell}) AS INT) AS cell_y,
       |    p.v
       |  FROM px p
       |  JOIN ${fx("bursts")} b ON b.scene_id = p.scene_id AND b.subswath = p.subswath AND b.burst_idx = p.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = p.scene_id
       |  WHERE p.pol = 'VV' AND p.v <> -9999.0)
       |SELECT scene_id, cell_x, cell_y, count(*) AS n_px,
       |       CAST(sum(CAST(floor(0.031415926535897934 + v * 1.0E6) AS BIGINT)) AS BIGINT) AS sum_q
       |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val srgr: String =
    s"""WITH orb AS (
       |  SELECT scene_id, x AS orb_x, z AS orb_z
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1)
       |SELECT scene_id, s.s_idx,
       |       round(sqrt(orb_x * orb_x + orb_z * orb_z) + s.s_idx * ${TerrainCorrection.DR}, 4) AS slant_r,
       |       round(orb_x + sqrt((sqrt(orb_x * orb_x + orb_z * orb_z) + s.s_idx * ${TerrainCorrection.DR})
       |                          * (sqrt(orb_x * orb_x + orb_z * orb_z) + s.s_idx * ${TerrainCorrection.DR})
       |                          - orb_z * orb_z), 4) AS ground_x_r
       |FROM orb, (SELECT unnest(range(${3 * Layout.SamplesPerBurst})) AS s_idx) s
       |ORDER BY 1, 2""".stripMargin

  val baseline: String =
    s"""WITH s AS (SELECT scene_id, first_line_time, lon0, lat0 FROM ${fx("scenes")})
       |SELECT a.scene_id AS scene_a, b.scene_id AS scene_b,
       |       round(b.first_line_time - a.first_line_time, 6) AS temporal_baseline_s,
       |       round(sqrt((b.lon0 - a.lon0) * (b.lon0 - a.lon0) + (b.lat0 - a.lat0) * (b.lat0 - a.lat0)), 6) AS origin_dist_deg
       |FROM s a JOIN s b ON a.scene_id < b.scene_id ORDER BY 1, 2""".stripMargin

  val rvi: String =
    s"""WITH ${pxCte("tiles", "px")},
       |o AS (
       |  SELECT a.scene_id, a.subswath, 'DP' AS pol, a.burst_idx, a.tile_y, a.tile_x,
       |    CASE WHEN a.v = -9999.0 OR b.v = -9999.0 OR a.v + b.v <= 0 THEN -9999.0
       |         ELSE 4 * b.v / (a.v + b.v) END AS out
       |  FROM px a JOIN px b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy
       |    AND a.pol = 'VV' AND b.pol = 'VH')
       |${rollupSql(1.0)}""".stripMargin

  val dualPolEntropy: String =
    s"""WITH ${pxCte("tiles", "px")},
       |c AS (
       |  SELECT a.scene_id, a.subswath, 'DP' AS pol, a.burst_idx, a.tile_y, a.tile_x, a.gx, a.gy,
       |    CASE WHEN a.iv = -9999.0 OR b.iv = -9999.0 THEN -9999.0
       |         ELSE a.iv * a.iv + a.qv * a.qv END AS c11,
       |    CASE WHEN a.iv = -9999.0 OR b.iv = -9999.0 THEN -9999.0
       |         ELSE b.iv * b.iv + b.qv * b.qv END AS c22,
       |    CASE WHEN a.iv = -9999.0 OR b.iv = -9999.0 THEN -9999.0
       |         ELSE a.iv * b.iv + a.qv * b.qv END AS c12r,
       |    CASE WHEN a.iv = -9999.0 OR b.iv = -9999.0 THEN -9999.0
       |         ELSE a.qv * b.iv - a.iv * b.qv END AS c12i
       |  FROM px a JOIN px b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy
       |    AND a.pol = 'VV' AND b.pol = 'VH'),
       |d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c0.scene_id, c0.subswath, c0.pol, c0.burst_idx, c0.tile_y, c0.tile_x, c0.gx, c0.gy,
       |    count(*) FILTER (n.c11 IS NOT NULL AND n.c11 <> -9999.0) AS n,
       |    coalesce(sum(n.c11) FILTER (n.c11 <> -9999.0), 0) AS m11,
       |    coalesce(sum(n.c22) FILTER (n.c11 <> -9999.0), 0) AS m22,
       |    coalesce(sum(n.c12r) FILTER (n.c11 <> -9999.0), 0) AS mr,
       |    coalesce(sum(n.c12i) FILTER (n.c11 <> -9999.0), 0) AS mi
       |  FROM c c0 CROSS JOIN d
       |  LEFT JOIN c n ON n.scene_id = c0.scene_id AND n.subswath = c0.subswath
       |    AND n.burst_idx = c0.burst_idx AND n.gx = c0.gx + d.dx AND n.gy = c0.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |e AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    n, m11 + m22 AS tr, m11 * m22 - mr * mr - mi * mi AS det
       |  FROM st),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n = 0 OR tr <= 0 THEN -9999.0
       |         WHEN tr * tr - 4 * det < 0 THEN 0.0
       |         ELSE -1 * (
       |           CASE WHEN (tr + sqrt(tr * tr - 4 * det)) / (2 * tr) > 0
       |                THEN ((tr + sqrt(tr * tr - 4 * det)) / (2 * tr)) * log2((tr + sqrt(tr * tr - 4 * det)) / (2 * tr)) ELSE 0 END
       |           + CASE WHEN (tr - sqrt(tr * tr - 4 * det)) / (2 * tr) > 0
       |                  THEN ((tr - sqrt(tr * tr - 4 * det)) / (2 * tr)) * log2((tr - sqrt(tr * tr - 4 * det)) / (2 * tr)) ELSE 0 END)
       |    END AS out
       |  FROM e)
       |${rollupSql(1.0)}""".stripMargin
}
