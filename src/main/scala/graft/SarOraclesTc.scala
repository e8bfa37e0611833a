package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.TerrainCorrection

/**
 * DuckDB oracle for the FULL Range-Doppler terrain correction
 * (RangeDopplerGeocodingOp.java:923-1177 + SARGeocoding.java:64-359 twin): the
 * 40-round zero-Doppler bisection is UNROLLED into 40 chained CTEs, each staging
 * the identical IEEE arithmetic as Kernels.zeroDopplerBisect (mid = (lo+hi)/2,
 * uniform-grid bracket floor((t-ts0)/dt)+1 clamped to [2, n-2], degree-3 Lagrange
 * weights, f = V·(S-P), branch on f < 0), so both engines walk bit-identical
 * bisection trajectories on the curved orbit.
 */
object SarOraclesTc {

  /** One Lagrange interpolation block: from a relation carrying (lo, hi | tzd) +
   * the sv lists, compute xv/yv/zv/vxv/vyv/vzv at time `ttExpr`. */
  private def interpStages(src: String, ttExpr: String, sv: String = "sv2"): String = {
    val chans = Seq("x" -> "xs", "y" -> "ys", "z" -> "zs", "vx" -> "vxs", "vy" -> "vys", "vz" -> "vzs")
    val extracts = (Seq("t" -> "ts") ++ chans).flatMap { case (o, l) =>
      (1 to 4).map(j => s"list_extract($l, kq + ${j - 2}) AS ${o}$j")
    }.mkString(",\n          ")
    val combines = chans.map { case (o, _) =>
      s"w1 * ${o}1 + w2 * ${o}2 + w3 * ${o}3 + w4 * ${o}4 AS ${o}v"
    }.mkString(",\n        ")
    s"""      SELECT *,
       |        $combines
       |      FROM (
       |        SELECT *,
       |          ((tt - t2) * (tt - t3) * (tt - t4)) / ((t1 - t2) * (t1 - t3) * (t1 - t4)) AS w1,
       |          ((tt - t1) * (tt - t3) * (tt - t4)) / ((t2 - t1) * (t2 - t3) * (t2 - t4)) AS w2,
       |          ((tt - t1) * (tt - t2) * (tt - t4)) / ((t3 - t1) * (t3 - t2) * (t3 - t4)) AS w3,
       |          ((tt - t1) * (tt - t2) * (tt - t3)) / ((t4 - t1) * (t4 - t2) * (t4 - t3)) AS w4
       |        FROM (
       |          SELECT *,
       |          $extracts
       |          FROM (
       |            SELECT *, greatest(2, least(nsv - 2, CAST(floor((tt - ts0v) / dtt) AS INT) + 1)) AS kq
       |            FROM (SELECT p.*, s.ts, s.xs, s.ys, s.zs, s.vxs, s.vys, s.vzs, s.ts0v, s.dtt, s.nsv,
       |                         $ttExpr AS tt
       |                  FROM $src p JOIN $sv s USING (scene_id))
       |          )
       |        )
       |      )""".stripMargin
  }

  private def bisectStep(i: Int, pfx: String = "b", sv: String = "sv2"): String =
    s"""$pfx$i AS MATERIALIZED (
       |  SELECT scene_id, ci, cj, tx_m, ty_m, height,
       |    CASE WHEN ff < 0 THEN mid ELSE lo END AS lo,
       |    CASE WHEN ff < 0 THEN hi ELSE mid END AS hi
       |  FROM (
       |    SELECT *, tt AS mid, vxv * (xv - tx_m) + vyv * (yv - ty_m) + vzv * (zv - height) AS ff
       |    FROM (
       |${interpStages(s"$pfx${i - 1}", "(p.lo + p.hi) / 2", sv)}
       |    )
       |  ))""".stripMargin

  val terrainCorrectionFull: String = rdGeocodeSql(useDem = true)

  /** q_chain_tc twin: the normalized Range-Doppler geocoding restated in full,
   * restricted to the chain Split node's declared window (subswath IW1, bursts
   * 1..3 — the engine's Split-pruned input drops every other gather source, so
   * the restriction IS the chain semantics; pol VV is already the oracle's
   * gather filter). */
  val chainTc: String =
    s"""SELECT * FROM (
       |${rdGeocodeSql(useDem = true, ciMax = TerrainCorrection.GeoVarCiMax, normalize = true)}
       |) WHERE subswath = 'IW1' AND burst_idx BETWEEN 1 AND 3""".stripMargin

  /** Resolve chain from a finished bisection (fin relation with tzd + sv lists)
   * to fractional (subswath, burst, l0, x0, wl, wx, lf, xf) positions, prefix-named. */
  private def resolveStages(p: String, binPfx: String, sv: String): String = {
    val tc = TerrainCorrection
    s"""${p}fin0 AS MATERIALIZED (SELECT *, (lo + hi) / 2 AS tzd FROM ${binPfx}40),
       |${p}fin AS MATERIALIZED (
       |  SELECT scene_id, ci, cj, tzd,
       |    sqrt((xv - tx_m) * (xv - tx_m) + (yv - ty_m) * (yv - ty_m) + (zv - height) * (zv - height)) AS slant,
       |    sqrt(list_extract(xs, 1) * list_extract(xs, 1) + list_extract(zs, 1) * list_extract(zs, 1)) AS r0
       |  FROM (
       |${interpStages(s"${p}fin0", "p.tzd", sv)}
       |  )),
       |${p}g5 AS (
       |  SELECT f.*, s.azimuth_time_interval, (f.slant - f.r0) / ${tc.DR} AS xf
       |  FROM ${p}fin f JOIN ${fx("scenes")} s USING (scene_id)),
       |${p}g6 AS (
       |  SELECT *, CAST(floor(xf) AS INT) AS s0 FROM ${p}g5
       |  WHERE xf >= 0 AND xf < ${3 * Layout.SamplesPerBurst - 1}),
       |${p}g7 AS (
       |  SELECT *, CAST(s0 % ${Layout.SamplesPerBurst} AS INT) AS x0,
       |         'IW' || CAST(s0 // ${Layout.SamplesPerBurst} + 1 AS VARCHAR) AS subswath,
       |         xf - floor(xf) AS wx
       |  FROM ${p}g6 WHERE CAST(s0 % ${Layout.SamplesPerBurst} AS INT) < ${Layout.SamplesPerBurst - 1}),
       |${p}g8 AS (
       |  SELECT g7.scene_id, g7.ci, g7.cj, g7.subswath, b.burst_idx, g7.x0, g7.wx, g7.xf,
       |         (g7.tzd - b.bft) / g7.azimuth_time_interval AS lf
       |  FROM ${p}g7 g7 JOIN bo b ON b.scene_id = g7.scene_id AND b.subswath = g7.subswath
       |  WHERE g7.tzd > coalesce((b.prev_last + b.bft) / 2, -1e18)
       |    AND g7.tzd <= coalesce((b.blt + b.next_first) / 2, 1e18)),
       |${p}g9 AS (
       |  SELECT *, CAST(floor(lf) AS INT) AS l0, lf - floor(lf) AS wl
       |  FROM ${p}g8 WHERE lf >= 0 AND lf < ${Layout.LinesPerBurst - 1})""".stripMargin
  }

  /** q_back_geocoding: two-geometry solve (master + baseline-offset secondary
   * orbit), per-cell az/rg offsets, and the deramp -> bilinear -> remodulate
   * resampling of the paired secondary image (BackGeocodingOp.java:1383-1512
   * twin; staging mirrors ops.BackGeocoding verbatim). */
  val backGeocoding: String = {
    val tc = TerrainCorrection
    val bg = graft.ops.BackGeocoding
    val mSteps = (1 to 40).map(i => bisectStep(i, "mb", "sv2")).mkString(",\n")
    val sSteps = (1 to 40).map(i => bisectStep(i, "sb", "sv2s")).mkString(",\n")
    def q6(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1.0E6) AS BIGINT)"
    val phTs = bg.phaseSql("t_s")
    val phTc = bg.phaseSql("t_c")
    s"""WITH sv0 AS (
       |  SELECT scene_id, list(t_sec ORDER BY t_sec) AS ts, list(x ORDER BY t_sec) AS xs,
       |         list(y ORDER BY t_sec) AS ys, list(z ORDER BY t_sec) AS zs,
       |         list(vx ORDER BY t_sec) AS vxs, list(vy ORDER BY t_sec) AS vys,
       |         list(vz ORDER BY t_sec) AS vzs,
       |         min(t_sec) AS ts0v, count(*) AS nsv
       |  FROM ${fx("orbit_curved")} GROUP BY 1),
       |sv2 AS (SELECT *, list_extract(ts, 2) - list_extract(ts, 1) AS dtt FROM sv0),
       |sv2s AS (SELECT scene_id, ts, list_transform(xs, v -> v + ${tc.SecBx}) AS xs, ys,
       |         list_transform(zs, v -> v + ${tc.SecBz}) AS zs, vxs, vys, vzs, ts0v, nsv, dtt
       |         FROM sv2),
       |grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${tc.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${tc.CellDeg} AS lat
       |  FROM ${fx("scenes")} s,
       |       (SELECT unnest(range(${tc.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${tc.GridNy})) AS cj) cj
       |  WHERE ci.ci < ${tc.GeoVarCiMax}),
       |g2 AS (
       |  SELECT g.scene_id, g.ci, g.cj, d.height,
       |         (g.lon - g.lon0) * ${tc.XMetersPerDeg} AS tx_m,
       |         (g.lat - g.lat0) * ${tc.YMetersPerDeg} AS ty_m
       |  FROM grid g
       |  JOIN ${fx("dem")} d ON d.scene_id = g.scene_id
       |    AND d.lat_idx = CAST(round((g.lat - g.lat0) / ${tc.DemStep}, 0) AS INT)
       |    AND d.lon_idx = CAST(round((g.lon - g.lon0) / ${tc.DemStep}, 0) AS INT)),
       |bo AS (
       |  SELECT scene_id, subswath, burst_idx, burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |mb0 AS (
       |  SELECT g.scene_id, g.ci, g.cj, g.tx_m, g.ty_m, g.height,
       |         list_extract(s.ts, 1) AS lo, list_extract(s.ts, CAST(s.nsv AS INT)) AS hi
       |  FROM g2 g JOIN sv2 s USING (scene_id)),
       |$mSteps,
       |sb0 AS (
       |  SELECT g.scene_id, g.ci, g.cj, g.tx_m, g.ty_m, g.height,
       |         list_extract(s.ts, 1) AS lo, list_extract(s.ts, CAST(s.nsv AS INT)) AS hi
       |  FROM g2 g JOIN sv2s s USING (scene_id)),
       |$sSteps,
       |${resolveStages("m", "mb", "sv2")},
       |${resolveStages("s", "sb", "sv2s")},
       |jm AS (
       |  SELECT m.scene_id, m.ci, m.cj,
       |    m.subswath AS m_subswath, m.burst_idx AS m_burst_idx, m.lf AS lf_m, m.xf AS xf_m,
       |    s.subswath, s.burst_idx, s.l0, s.x0, s.wl, s.wx, s.lf AS lf_s, s.xf AS xf_s,
       |    CAST(substring(m.scene_id, 7, 4) AS INT) AS scene_idx
       |  FROM mg9 m JOIN sg9 s ON s.scene_id = m.scene_id AND s.ci = m.ci AND s.cj = m.cj),
       |je AS (
       |  SELECT *, 'scene_' || lpad(CAST(scene_idx + 1 AS VARCHAR), 4, '0') AS sec_scene_id
       |  FROM jm WHERE scene_idx % 2 = 0),
       |wm AS (
       |  SELECT j.*, b.doppler_rate, b.doppler_centroid, b.reference_time,
       |    b.burst_first_line_time, sc.azimuth_time_interval
       |  FROM je j
       |  JOIN ${fx("bursts")} b ON b.scene_id = j.scene_id AND b.subswath = j.subswath
       |    AND b.burst_idx = j.burst_idx
       |  JOIN ${fx("scenes")} sc ON sc.scene_id = j.scene_id),
       |wt AS (SELECT *, burst_first_line_time + lf_s * azimuth_time_interval AS t_s FROM wm),
       |wr AS (SELECT *, atan2(sin(0.0 - $phTs), cos(0.0 - $phTs)) AS remod_ph FROM wt),
       |corners AS (
       |  SELECT wr.*, c.cy, c.cx,
       |    (CASE WHEN c.cy = 0 THEN 1.0 - wl ELSE wl END) * (CASE WHEN c.cx = 0 THEN 1.0 - wx ELSE wx END) AS w,
       |    l0 + c.cy AS line, x0 + c.cx AS samp
       |  FROM wr CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(cy, cx)),
       |cph AS (SELECT *, burst_first_line_time + line * azimuth_time_interval AS t_c FROM corners),
       |cph2 AS (SELECT *, $phTc AS ph_c FROM cph),
       |spx0 AS (
       |  SELECT scene_id AS sec_scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |spx AS (
       |  SELECT sec_scene_id, subswath, burst_idx,
       |         tile_x * ${Layout.TileW} + k % ${Layout.TileW} AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // ${Layout.TileW} AS INT) AS gy,
       |         iv0, qv0,
       |         floor(iv0 * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic} AS pa,
       |         floor(qv0 * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic} AS pb
       |  FROM spx0),
       |terms AS (
       |  SELECT c.scene_id, c.ci, c.cj, c.m_subswath, c.m_burst_idx,
       |    c.lf_m, c.xf_m, c.lf_s, c.xf_s, c.remod_ph,
       |    CASE WHEN p.iv0 = -9999.0 OR p.qv0 = -9999.0 THEN NULL
       |         ELSE ${q6("c.w * (p.pa * cos(c.ph_c) + p.pb * sin(c.ph_c))")} END AS re_t,
       |    CASE WHEN p.iv0 = -9999.0 OR p.qv0 = -9999.0 THEN NULL
       |         ELSE ${q6("c.w * (p.pb * cos(c.ph_c) - p.pa * sin(c.ph_c))")} END AS im_t
       |  FROM cph2 c
       |  JOIN spx p ON p.sec_scene_id = c.sec_scene_id AND p.subswath = c.subswath
       |    AND p.burst_idx = c.burst_idx AND p.gx = c.samp AND p.gy = c.line)
       |SELECT scene_id, ci, cj, m_subswath, m_burst_idx,
       |       count(re_t) AS n_corners,
       |       CAST(sum(re_t) AS BIGINT) AS re_q, CAST(sum(im_t) AS BIGINT) AS im_q,
       |       any_value(${q6("lf_s - lf_m")}) AS az_off_q,
       |       any_value(${q6("xf_s - xf_m")}) AS rg_off_q,
       |       any_value(${q6("remod_ph")}) AS remod_q
       |FROM terms GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** Ellipsoid-Correction-RD: identical geometry, height = 0, no DEM join. */
  /** ci-bounded like the other geocoding variants: the identical geometry is
   * already full-grid-verified by q_terrain_correction; the no-DEM branch only
   * needs the height-pinning difference covered. */
  val ellipsoidRd: String = rdGeocodeSql(useDem = false, ciMax = TerrainCorrection.GeoVarCiMax)

  /** q_tc_normalized: TC + radiometric normalization — gathered value / lut^2 at
   * the resolved fractional position (RangeDopplerGeocodingOp.java:1151-1163,
   * Sentinel1Calibrator.applyCalibration:508-535). */
  val terrainCorrectionNormalized: String =
    rdGeocodeSql(useDem = true, ciMax = TerrainCorrection.GeoVarCiMax, normalize = true)

  /** The shared resolve chain (sv0 .. g9): curved-orbit bisection to fractional
   * burst-local (l0, x0, wl, wx) + slant, bounded to ci < ciMax when given. */
  private def resolveCtes(useDem: Boolean, ciMax: Int): String = {
    val tc = TerrainCorrection
    val steps = (1 to 40).map(i => bisectStep(i)).mkString(",\n")
    s"""sv0 AS (
       |  SELECT scene_id, list(t_sec ORDER BY t_sec) AS ts, list(x ORDER BY t_sec) AS xs,
       |         list(y ORDER BY t_sec) AS ys, list(z ORDER BY t_sec) AS zs,
       |         list(vx ORDER BY t_sec) AS vxs, list(vy ORDER BY t_sec) AS vys,
       |         list(vz ORDER BY t_sec) AS vzs,
       |         min(t_sec) AS ts0v, count(*) AS nsv
       |  FROM ${fx("orbit_curved")} GROUP BY 1),
       |sv2 AS (SELECT *, list_extract(ts, 2) - list_extract(ts, 1) AS dtt FROM sv0),
       |grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, s.azimuth_time_interval, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${tc.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${tc.CellDeg} AS lat
       |  FROM ${fx("scenes")} s,
       |       (SELECT unnest(range(${tc.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${tc.GridNy})) AS cj) cj
       |  WHERE ci.ci < $ciMax),
       |g2 AS (
       |  SELECT g.scene_id, g.ci, g.cj, ${if (useDem) "d.height" else "0.0 AS height"},
       |         (g.lon - g.lon0) * ${tc.XMetersPerDeg} AS tx_m,
       |         (g.lat - g.lat0) * ${tc.YMetersPerDeg} AS ty_m
       |  FROM grid g${if (useDem) s"""
       |  JOIN ${fx("dem")} d ON d.scene_id = g.scene_id
       |    AND d.lat_idx = CAST(round((g.lat - g.lat0) / ${tc.DemStep}, 0) AS INT)
       |    AND d.lon_idx = CAST(round((g.lon - g.lon0) / ${tc.DemStep}, 0) AS INT)""" else ""}),
       |b0 AS (
       |  SELECT g.scene_id, g.ci, g.cj, g.tx_m, g.ty_m, g.height,
       |         list_extract(s.ts, 1) AS lo, list_extract(s.ts, CAST(s.nsv AS INT)) AS hi
       |  FROM g2 g JOIN sv2 s USING (scene_id)),
       |$steps,
       |fin0 AS MATERIALIZED (SELECT *, (lo + hi) / 2 AS tzd FROM b40),
       |fin AS MATERIALIZED (
       |  SELECT scene_id, ci, cj, tx_m, ty_m, height, tzd,
       |    sqrt((xv - tx_m) * (xv - tx_m) + (yv - ty_m) * (yv - ty_m) + (zv - height) * (zv - height)) AS slant,
       |    sqrt(list_extract(xs, 1) * list_extract(xs, 1) + list_extract(zs, 1) * list_extract(zs, 1)) AS r0
       |  FROM (
       |${interpStages("fin0", "p.tzd")}
       |  )),
       |g5 AS (
       |  SELECT f.*, s.azimuth_time_interval, (f.slant - f.r0) / ${tc.DR} AS xf
       |  FROM fin f JOIN ${fx("scenes")} s USING (scene_id)),
       |g6 AS (
       |  SELECT *, CAST(floor(xf) AS INT) AS s0 FROM g5
       |  WHERE xf >= 0 AND xf < ${3 * Layout.SamplesPerBurst - 1}),
       |g7 AS (
       |  SELECT *, CAST(s0 % ${Layout.SamplesPerBurst} AS INT) AS x0,
       |         'IW' || CAST(s0 // ${Layout.SamplesPerBurst} + 1 AS VARCHAR) AS subswath,
       |         xf - floor(xf) AS wx
       |  FROM g6 WHERE CAST(s0 % ${Layout.SamplesPerBurst} AS INT) < ${Layout.SamplesPerBurst - 1}),
       |b AS (
       |  SELECT scene_id, subswath, burst_idx, burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |g8 AS (
       |  SELECT g7.scene_id, g7.ci, g7.cj, g7.subswath, b.burst_idx, g7.x0, g7.wx, g7.slant,
       |         (g7.tzd - b.bft) / g7.azimuth_time_interval AS lf
       |  FROM g7 JOIN b ON b.scene_id = g7.scene_id AND b.subswath = g7.subswath
       |  WHERE g7.tzd > coalesce((b.prev_last + b.bft) / 2, -1e18)
       |    AND g7.tzd <= coalesce((b.blt + b.next_first) / 2, 1e18)),
       |g9 AS (
       |  SELECT *, CAST(floor(lf) AS INT) AS l0, lf - floor(lf) AS wl
       |  FROM g8 WHERE lf >= 0 AND lf < ${Layout.LinesPerBurst - 1})""".stripMargin
  }

  private def rdGeocodeSql(useDem: Boolean, ciMax: Int = TerrainCorrection.GridNx,
      normalize: Boolean = false): String = {
    val snorm =
      if (normalize)
        s"500.0 + 0.1 * ((burst_idx - 1) * ${Layout.LinesPerBurst} + l0 + wl) + 0.05 * (x0 + wx)"
      else "1.0"
    val factor = if (normalize) "/ (c.snorm * c.snorm)" else ""
    val quantum = if (normalize) "1E9" else "1E6"
    s"""WITH ${resolveCtes(useDem, ciMax)},
       |corners AS (
       |  SELECT g9.*, c.cy, c.cx, ($snorm) AS snorm,
       |    (CASE WHEN c.cy = 0 THEN 1.0 - wl ELSE wl END) * (CASE WHEN c.cx = 0 THEN 1.0 - wx ELSE wx END) AS w,
       |    l0 + c.cy AS line, x0 + c.cx AS samp
       |  FROM g9 CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(cy, cx)),
       |px0 AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |px AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         tile_x * ${Layout.TileW} + k % ${Layout.TileW} AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // ${Layout.TileW} AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |              ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM px0),
       |terms AS (
       |  SELECT c.scene_id, c.ci, c.cj, c.subswath, c.burst_idx,
       |    CASE WHEN p.v = -9999.0 THEN NULL
       |         ELSE CAST(floor(0.031415926535897934 + c.w * p.v $factor * $quantum) AS BIGINT) END AS term_q
       |  FROM corners c
       |  JOIN px p ON p.scene_id = c.scene_id AND p.subswath = c.subswath
       |    AND p.burst_idx = c.burst_idx AND p.gx = c.samp AND p.gy = c.line)
       |SELECT scene_id, ci, cj, subswath, burst_idx,
       |       count(term_q) AS n_corners, CAST(sum(term_q) AS BIGINT) AS value_q
       |FROM terms GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_terrain_correction_srgr twin: the same resolved cells; the polynomial-
   * SRGR recovery is a planted-truth boolean on the engine side (the q_warp_poly
   * pattern), so the oracle emits the expected TRUE per cell. */
  val srgrTc: String =
    s"""WITH ${resolveCtes(useDem = true, ciMax = TerrainCorrection.GeoVarCiMax)}
       |SELECT scene_id, ci, cj, subswath, burst_idx, TRUE AS ok_srgr FROM g9""".stripMargin

  /** q_update_georef (UpdateGeoRefOp.java:60-71, 315-318 twin): each resolved
   * cell scattered to its nearest source pixel; per-pixel quantized lat/lon sums. */
  val updateGeoRef: String = {
    val tc = TerrainCorrection
    s"""WITH ${resolveCtes(useDem = true, ciMax = tc.GeoVarCiMax)}
       |SELECT g9.scene_id, g9.subswath, g9.burst_idx,
       |       g9.l0 + CASE WHEN g9.wl >= 0.5 THEN 1 ELSE 0 END AS line,
       |       g9.x0 + CASE WHEN g9.wx >= 0.5 THEN 1 ELSE 0 END AS samp,
       |       count(*) AS n_cells,
       |       CAST(sum(CAST(floor(0.031415926535897934 + (s.lat0 + (g9.cj + 0.5) * ${tc.CellDeg}) * 1E6) AS BIGINT)) AS BIGINT) AS lat_sum_q,
       |       CAST(sum(CAST(floor(0.031415926535897934 + (s.lon0 + (g9.ci + 0.5) * ${tc.CellDeg}) * 1E6) AS BIGINT)) AS BIGINT) AS lon_sum_q
       |FROM g9 JOIN ${fx("scenes")} s USING (scene_id)
       |GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_gslc_tc (GSLCGeocodingOp.java:67-90, 208-220 phase-flattened branch twin):
   * TOPS deramp per source corner BEFORE the bilinear combine (performDerampDemod,
   * GSLCGeocodingOp.java:1949-1957, 2223-2250), then complex gather x
   * dyadic-quantized phasor exp(-j 4 pi slant / lambda); both phases
   * range-reduced arithmetically before the trig (identical IEEE staging). */
  val gslcTc: String = {
    val tc = TerrainCorrection
    val lambda = graft.ops.InSAR.Wavelength
    s"""WITH ${resolveCtes(useDem = true, ciMax = tc.GeoVarCiMax)},
       |flt AS (
       |  SELECT *, ph - floor(ph / (2.0 * pi())) * (2.0 * pi()) AS phr
       |  FROM (SELECT g9.*, 4.0 * pi() * slant / $lambda AS ph FROM g9)),
       |flt2 AS (
       |  SELECT *, floor(cos(phr) * 16384) / 16384 AS cq, floor(sin(phr) * 16384) / 16384 AS sq
       |  FROM flt),
       |corners0 AS (
       |  SELECT f.*, c.cy, c.cx,
       |    (CASE WHEN c.cy = 0 THEN 1.0 - wl ELSE wl END) * (CASE WHEN c.cx = 0 THEN 1.0 - wx ELSE wx END) AS w,
       |    l0 + c.cy AS line, x0 + c.cx AS samp
       |  FROM flt2 f CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(cy, cx)),
       |crn1 AS (
       |  SELECT c.*, b.burst_first_line_time + c.line * s.azimuth_time_interval AS ta,
       |    b.doppler_rate, b.doppler_centroid, b.reference_time
       |  FROM corners0 c
       |  JOIN ${fx("bursts")} b ON b.scene_id = c.scene_id AND b.subswath = c.subswath
       |    AND b.burst_idx = c.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = c.scene_id),
       |crn2 AS (
       |  SELECT *, phd - floor(phd / (2.0 * pi())) * (2.0 * pi()) AS phdr
       |  FROM (SELECT *, -pi() * doppler_rate * (ta - reference_time) * (ta - reference_time)
       |                  - 2.0 * pi() * doppler_centroid * ta AS phd FROM crn1)),
       |corners AS (
       |  SELECT *, floor(cos(phdr) * 16384) / 16384 AS cd, floor(sin(phdr) * 16384) / 16384 AS sd
       |  FROM crn2),
       |px0 AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         unnest(i) AS ri, unnest(q) AS rq
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |px AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         tile_x * ${Layout.TileW} + k % ${Layout.TileW} AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // ${Layout.TileW} AS INT) AS gy,
       |         floor(ri * 4096) / 4096 AS iv, floor(rq * 4096) / 4096 AS qv,
       |         (ri = -9999.0 OR rq = -9999.0 OR isnan(ri) OR isnan(rq)) AS bad
       |  FROM px0),
       |terms AS (
       |  SELECT c.scene_id, c.ci, c.cj, c.subswath, c.burst_idx,
       |    CASE WHEN p.bad THEN NULL
       |         ELSE CAST(floor(0.031415926535897934 + c.w * ((p.iv * c.cd - p.qv * c.sd) * c.cq + (p.qv * c.cd + p.iv * c.sd) * c.sq) * 1E6) AS BIGINT) END AS re_q,
       |    CASE WHEN p.bad THEN NULL
       |         ELSE CAST(floor(0.031415926535897934 + c.w * ((p.qv * c.cd + p.iv * c.sd) * c.cq - (p.iv * c.cd - p.qv * c.sd) * c.sq) * 1E6) AS BIGINT) END AS im_q
       |  FROM corners c
       |  JOIN px p ON p.scene_id = c.scene_id AND p.subswath = c.subswath
       |    AND p.burst_idx = c.burst_idx AND p.gx = c.samp AND p.gy = c.line)
       |SELECT scene_id, ci, cj, subswath, burst_idx,
       |       count(re_q) AS n_corners,
       |       CAST(sum(re_q) AS BIGINT) AS re_sum_q, CAST(sum(im_q) AS BIGINT) AS im_sum_q
       |FROM terms GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_sarsim_tc (SARSimTerrainCorrectionOp.java:97-110, 1332-1357 twin): the RD
   * gather against the shifted real image at (line + dy, samp + dx), with the
   * per-scene mean shift read from the planted GCP truth (the engine side must
   * RECOVER it via the SSD xcorr the q_xcorr_offsets gate pins to the truth). */
  val sarSimTc: String = {
    val tc = TerrainCorrection
    s"""WITH ${resolveCtes(useDem = true, ciMax = tc.GeoVarCiMax)},
       |sh AS (SELECT scene_id, CAST(round(avg(true_dx), 0) AS INT) AS sdx,
       |              CAST(round(avg(true_dy), 0) AS INT) AS sdy
       |       FROM ${fx("gcps")} GROUP BY 1),
       |corners AS (
       |  SELECT g9.scene_id, g9.ci, g9.cj, g9.subswath, g9.burst_idx,
       |    (CASE WHEN c.cy = 0 THEN 1.0 - wl ELSE wl END) * (CASE WHEN c.cx = 0 THEN 1.0 - wx ELSE wx END) AS w,
       |    l0 + c.cy + sh.sdy AS line, x0 + c.cx + sh.sdx AS samp
       |  FROM g9 JOIN sh USING (scene_id)
       |  CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(cy, cx)
       |  WHERE l0 + c.cy + sh.sdy >= 0 AND l0 + c.cy + sh.sdy < ${Layout.LinesPerBurst}
       |    AND x0 + c.cx + sh.sdx >= 0 AND x0 + c.cx + sh.sdx < ${Layout.SamplesPerBurst}),
       |px0 AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
       |  FROM ${fx("tiles_sec")} WHERE pol = 'VV'),
       |px AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         tile_x * ${Layout.TileW} + k % ${Layout.TileW} AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // ${Layout.TileW} AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |              ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM px0),
       |terms AS (
       |  SELECT c.scene_id, c.ci, c.cj, c.subswath, c.burst_idx,
       |    CASE WHEN p.v = -9999.0 THEN NULL
       |         ELSE CAST(floor(0.031415926535897934 + c.w * p.v * 1E6) AS BIGINT) END AS term_q
       |  FROM corners c
       |  JOIN px p ON p.scene_id = c.scene_id AND p.subswath = c.subswath
       |    AND p.burst_idx = c.burst_idx AND p.gx = c.samp AND p.gy = c.line)
       |SELECT scene_id, ci, cj, subswath, burst_idx,
       |       count(term_q) AS n_corners, CAST(sum(term_q) AS BIGINT) AS value_q
       |FROM terms GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_layover_shadow (SARSimulationOp.java:951-1037): the three monotone scans as
   * window aggregates over the same analytic steep-ridge scan grid; slant/elev
   * quantized to the dithered 1e6 integer grid before any comparison, so the
   * layover/shadow flags are integer-exact in both engines. */
  /** Shared scan-cell CTE chain (through the flagged `m` relation). */
  private val lsCtes: String =
    s"""WITH orb AS (
       |  SELECT scene_id, x AS orb_x, z AS orb_z
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn
       |        FROM ${fx("orbit")}) WHERE rn = 1),
       |cells AS (SELECT CAST(r1.range AS INT) AS ci, CAST(r2.range AS INT) AS cj
       |          FROM range(${TerrainCorrection.LsNx}) r1, range(${TerrainCorrection.LsNy}) r2),
       |g0 AS (
       |  SELECT o.scene_id, c.ci, c.cj, o.orb_x, o.orb_z,
       |    100.0 + 4000.0 * greatest(0.0, 1.0 - abs(c.ci - 80) / 20.0) + 20.0 * cos(c.cj * 0.3) AS h,
       |    c.ci * 50.0 AS tx,
       |    (c.ci * 7 + c.cj * 3) % 23 != 0 AS valid
       |  FROM cells c CROSS JOIN orb o),
       |g1 AS (
       |  SELECT *, sqrt((orb_x - tx) * (orb_x - tx) + (orb_z - h) * (orb_z - h)) AS slant
       |  FROM g0),
       |g2 AS (
       |  SELECT *,
       |    acos((slant * slant + (orb_x * orb_x + orb_z * orb_z) - (tx * tx + h * h)) / (2.0 * slant * sqrt(orb_x * orb_x + orb_z * orb_z))) * 57.29577951308232 AS elev
       |  FROM g1),
       |q AS (
       |  SELECT scene_id, ci, cj, valid,
       |    CAST(floor(0.031415926535897934 + slant * 1.0E6) AS BIGINT) AS sl_q,
       |    CAST(floor(0.031415926535897934 + elev * 1.0E6) AS BIGINT) AS el_q
       |  FROM g2),
       |w AS (
       |  SELECT *,
       |    max(CASE WHEN valid THEN sl_q END) OVER (PARTITION BY scene_id, cj ORDER BY ci ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax_sl,
       |    max(CASE WHEN valid THEN sl_q END) OVER (PARTITION BY scene_id, cj) AS gmax_sl,
       |    min(CASE WHEN valid THEN sl_q END) OVER (PARTITION BY scene_id, cj ORDER BY ci DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smin_sl,
       |    max(CASE WHEN valid THEN el_q END) OVER (PARTITION BY scene_id, cj ORDER BY ci ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax_el
       |  FROM q),
       |m AS (
       |  SELECT scene_id, ci, cj, valid, sl_q,
       |    valid AND (sl_q <= coalesce(pmax_sl, 0) OR sl_q > coalesce(smin_sl, gmax_sl)) AS layover,
       |    valid AND el_q <= coalesce(pmax_el, 0) AS shadow
       |  FROM w)""".stripMargin

  val layoverShadow: String =
    s"""$lsCtes
       |SELECT scene_id, cj,
       |  count(*) FILTER (valid) AS n_valid,
       |  count(*) FILTER (layover) AS n_layover,
       |  count(*) FILTER (shadow) AS n_shadow,
       |  count(*) FILTER (layover AND shadow) AS n_both,
       |  CAST(coalesce(sum(ci) FILTER (layover), 0) AS BIGINT) AS ci_layover_sum,
       |  CAST(coalesce(sum(ci) FILTER (shadow), 0) AS BIGINT) AS ci_shadow_sum
       |FROM m GROUP BY 1, 2""".stripMargin

  /** q_layover_shadow_scatter: flagged cells painted to (row, 50 m range bucket)
   * SAR pixels, commutative layover(1)|shadow(2) merge (saveLayoverShadow twin,
   * order-independent semantics — see the engine Scaladoc for the deviation). */
  val layoverShadowScatter: String =
    s"""$lsCtes
       |SELECT scene_id, cj, sl_q // 50000000 AS rg,
       |  count(*) AS n_cells,
       |  CAST(max(CASE WHEN layover THEN 1 ELSE 0 END) + max(CASE WHEN shadow THEN 2 ELSE 0 END) AS INT) AS mask
       |FROM m WHERE layover OR shadow
       |GROUP BY 1, 2, 3""".stripMargin
}
