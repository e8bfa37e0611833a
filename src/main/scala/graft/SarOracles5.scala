package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.{Stack, TerrainCorrection}

/**
 * DuckDB oracles for the stack family (CreateStack, compositing, SBAS, REACTIV,
 * SliceAssembly, TOPSAR-Merge, ESD) and the terrain scatter-add operators
 * (Terrain-Flattening, SAR-Simulation). Per-pixel series come from unnest +
 * group-by-pixel (not the engine's array folds); geometry chains are restated
 * from the dimension tables.
 */
object SarOracles5 {

  private val N = Layout.TileW * Layout.TileH

  /** stack pixels with quantized i/q/v and epoch. */
  private val sxCte: String =
    s"""sx0 AS (
       |  SELECT scene_id, subswath, pol, epoch, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles_stack")}),
       |sx1 AS (
       |  SELECT scene_id, subswath, pol, epoch, burst_idx, tile_y, tile_x, k,
       |         floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv
       |  FROM sx0),
       |sx AS (
       |  SELECT *, CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |                 ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM sx1)""".stripMargin

  val createStack: String =
    s"""WITH $sxCte,
       |ts AS (
       |  SELECT scene_id, subswath, pol, epoch, burst_idx, tile_y, tile_x,
       |    CAST(coalesce(sum(CASE WHEN v = -9999.0 THEN 0 ELSE CAST(floor(0.031415926535897934 + v * 1.0E6) AS BIGINT) END), 0) AS BIGINT) AS tsq
       |  FROM sx GROUP BY 1, 2, 3, 4, 5, 6, 7)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       count(*) AS n_epochs,
       |       max(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) = 1 AS in_master_extent,
       |       count(*) = ${Stack.Epochs} AS in_minimum_extent,
       |       CAST(sum(tsq) AS BIGINT) AS sum_q
       |FROM ts GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  val composite: String =
    s"""WITH $sxCte,
       |p AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |    count(*) FILTER (v <> -9999.0) AS n,
       |    coalesce(sum(v) FILTER (v <> -9999.0), 0) AS s
       |  FROM sx GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n = 0 THEN -9999.0 ELSE s / n END AS out
       |  FROM p)
       |${SarOracles.rollupSql(1.0)}""".stripMargin

  val sbasVelocity: String =
    s"""WITH $sxCte,
       |p AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |    CAST(count(*) FILTER (iv <> -9999.0 AND qv <> -9999.0) AS DOUBLE) AS n,
       |    coalesce(sum(epoch) FILTER (iv <> -9999.0 AND qv <> -9999.0), 0) AS se,
       |    coalesce(sum(atan2(qv, iv)) FILTER (iv <> -9999.0 AND qv <> -9999.0), 0) AS sph,
       |    coalesce(sum(epoch * atan2(qv, iv)) FILTER (iv <> -9999.0 AND qv <> -9999.0), 0) AS sep,
       |    coalesce(sum(CAST(epoch AS DOUBLE) * epoch) FILTER (iv <> -9999.0 AND qv <> -9999.0), 0) AS see
       |  FROM sx GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n < 2 OR n * see - se * se = 0 THEN -9999.0
       |         ELSE (n * sep - se * sph) / (n * see - se * se) END AS out
       |  FROM p)
       |${SarOracles.rollupSql(1.0)}""".stripMargin

  /** REACTIV twin — DECLARATIVE restatement of the engine's sequential fold
   * (ReactivOp.java:258-392, 441-555): the running-max raster-scan becomes
   * "first attainment of the max" (records happen exactly at prefix maxima, so
   * the last time-write is the first epoch reaching the global max), and the
   * poison-recovery quirk becomes "poisoned iff the last poison epoch follows
   * the first max attainment (or no positive max exists)". The two-pass
   * threshold asymmetry (never-poisoned pixels only) is a FILTER (WHERE np). */
  val reactiv: String = {
    val E = Stack.Epochs.toDouble
    val EM1 = (Stack.Epochs - 1).toDouble
    val NEG = "-1.7976931348623157E308"
    s"""WITH $sxCte,
       |pv AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x, k, epoch,
       |    max(CASE WHEN pol = 'VV' THEN v END) AS vvv,
       |    max(CASE WHEN pol = 'VH' THEN v END) AS vhh,
       |    bool_or(pol = 'VV') AS has_vv, bool_or(pol = 'VH') AS has_vh
       |  FROM sx GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |ep AS MATERIALIZED (
       |  SELECT *,
       |    (has_vv AND vvv = -9999.0) OR (has_vh AND vhh = -9999.0) AS poison,
       |    greatest(coalesce(vvv, $NEG), coalesce(vhh, $NEG)) AS vmax
       |  FROM pv),
       |px AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x, k,
       |    max(vmax) FILTER (WHERE NOT poison) AS m0,
       |    max(epoch) FILTER (WHERE poison) AS last_poison,
       |    count(*) FILTER (WHERE poison) AS n_poison,
       |    coalesce(sum(vmax) FILTER (WHERE NOT poison), 0) AS smax,
       |    coalesce(sum(vvv) FILTER (WHERE NOT poison AND has_vv), 0) AS svv,
       |    coalesce(sum(vvv * vvv) FILTER (WHERE NOT poison AND has_vv), 0) AS s2vv,
       |    coalesce(sum(vhh) FILTER (WHERE NOT poison AND has_vh), 0) AS svh,
       |    coalesce(sum(vhh * vhh) FILTER (WHERE NOT poison AND has_vh), 0) AS s2vh
       |  FROM ep GROUP BY 1, 2, 3, 4, 5, 6),
       |tm1 AS MATERIALIZED (
       |  SELECT e.scene_id, e.subswath, e.burst_idx, e.tile_y, e.tile_x, e.k,
       |         min(e.epoch) AS tmf
       |  FROM ep e JOIN px p USING (scene_id, subswath, burst_idx, tile_y, tile_x, k)
       |  WHERE NOT e.poison AND e.vmax = p.m0
       |  GROUP BY 1, 2, 3, 4, 5, 6),
       |st AS MATERIALIZED (
       |  SELECT p.*,
       |    CASE WHEN p.m0 IS NULL OR p.m0 <= 0 THEN
       |           (CASE WHEN p.last_poison IS NOT NULL THEN -1.0 ELSE 0.0 END)
       |         WHEN p.last_poison IS NOT NULL AND p.last_poison > t.tmf THEN -1.0
       |         ELSE CAST(t.tmf AS DOUBLE) END AS tm,
       |    CASE WHEN p.m0 IS NULL OR p.m0 <= 0 THEN 0.0 ELSE p.m0 END AS mx
       |  FROM px p LEFT JOIN tm1 t USING (scene_id, subswath, burst_idx, tile_y, tile_x, k)),
       |fin AS MATERIALIZED (
       |  SELECT *,
       |    0.4 * (mx + smax / $E) AS value0,
       |    coalesce(greatest(
       |      CASE WHEN svv / $E = 0 THEN NULL
       |           ELSE sqrt(greatest(CAST(0 AS DOUBLE), s2vv / $E - (svv / $E) * (svv / $E))) / (svv / $E) END,
       |      CASE WHEN svh / $E = 0 THEN NULL
       |           ELSE sqrt(greatest(CAST(0 AS DOUBLE), s2vh / $E - (svh / $E) * (svh / $E))) / (svh / $E) END),
       |      CAST(0 AS DOUBLE)) AS maxvc,
       |    n_poison = 0 AS np
       |  FROM st),
       |thr AS MATERIALIZED (
       |  SELECT scene_id,
       |    count(*) FILTER (WHERE np) AS tn,
       |    coalesce(sum(CAST(floor(0.031415926535897934 + value0 * 1.0E2) AS BIGINT)) FILTER (WHERE np), 0) AS ts,
       |    coalesce(sum(CAST(floor(0.031415926535897934 + value0 * 1.0E2) AS BIGINT)
       |               * CAST(floor(0.031415926535897934 + value0 * 1.0E2) AS BIGINT)) FILTER (WHERE np), 0) AS ts2
       |  FROM fin GROUP BY 1),
       |thr2 AS MATERIALIZED (
       |  SELECT scene_id,
       |    CASE WHEN tn = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE (ts / 1.0E2) / tn + sqrt(greatest(CAST(0 AS DOUBLE),
       |           (ts2 / 1.0E4) / tn - ((ts / 1.0E2) / tn) * ((ts / 1.0E2) / tn))) END AS threshold
       |  FROM thr),
       |outp AS MATERIALIZED (
       |  SELECT f.*, t.threshold FROM fin f JOIN thr2 t USING (scene_id))
       |SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |  count(*) FILTER (WHERE tm <> -1.0) AS n_valid,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + (0.9 * tm / $EM1) * 1.0E6) AS BIGINT)) FILTER (WHERE tm <> -1.0), 0) AS BIGINT) AS hue_sum_q,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), (maxvc - 0.2286) / (10.0 * 0.1616) + 0.25)) * 1.0E6) AS BIGINT)) FILTER (WHERE tm <> -1.0), 0) AS BIGINT) AS sat_sum_q,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + (CASE WHEN threshold > 0 AND value0 < threshold THEN value0 / threshold ELSE CAST(1 AS DOUBLE) END) * 1.0E6) AS BIGINT)) FILTER (WHERE tm <> -1.0), 0) AS BIGINT) AS val_sum_q
       |FROM outp GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  val sliceAssembly: String =
    s"""WITH ps AS (
       |  SELECT scene_id, subswath,
       |         min(burst_first_line_time) AS t0, max(burst_last_line_time) AS t1
       |  FROM ${fx("bursts")} GROUP BY 1, 2),
       |ps2 AS (
       |  SELECT ps.*, s.azimuth_time_interval AS dt
       |  FROM ps JOIN ${fx("scenes")} s USING (scene_id)),
       |ps3 AS (SELECT *, CAST(round((t1 - t0) / dt, 0) AS BIGINT) + 1 AS n_lines FROM ps2)
       |SELECT scene_id, subswath, n_lines,
       |       CAST(coalesce(sum(n_lines) OVER (PARTITION BY subswath ORDER BY t0, scene_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS line_offset
       |FROM ps3""".stripMargin

  val topsarMerge: String =
    s"""SELECT *, (CAST(substring(subswath, 3, 1) AS INT) - 1) * ${Layout.SamplesPerBurst} AS merged_x0
       |FROM (${SarOracles.deburst}) d""".stripMargin

  val esdShift: String = {
    val ovStart = Layout.LinesPerBurst - Layout.BurstOverlapLines
    s"""WITH ${SarOracles2.crossCte},
       |t AS (SELECT * FROM cx WHERE pol = 'VV' AND gy >= $ovStart),
       |b AS (SELECT * FROM cx WHERE pol = 'VV' AND gy < ${Layout.BurstOverlapLines} AND burst_idx > 1),
       |dd AS (
       |  SELECT t.scene_id, t.subswath, t.burst_idx AS burst_a,
       |    count(*) AS n_px,
       |    sum(t.cre * b.cre + t.cim * b.cim) AS sre,
       |    sum(t.cim * b.cre - t.cre * b.cim) AS sim
       |  FROM t JOIN b ON b.scene_id = t.scene_id AND b.subswath = t.subswath
       |    AND b.burst_idx = t.burst_idx + 1 AND b.gx = t.gx AND b.gy = t.gy - $ovStart
       |  WHERE t.cre <> -9999.0 AND b.cre <> -9999.0
       |  GROUP BY 1, 2, 3),
       |df AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx AS burst_a,
       |         b.doppler_centroid - a.doppler_centroid AS dfdc
       |  FROM ${fx("bursts")} a JOIN ${fx("bursts")} b
       |    ON b.scene_id = a.scene_id AND b.subswath = a.subswath
       |   AND b.burst_idx = a.burst_idx + 1)
       |SELECT dd.scene_id, dd.subswath, dd.burst_a, dd.n_px,
       |       CAST(floor(0.031415926535897934 + atan2(sim, sre) * 1.0E6) AS BIGINT) AS phase_q,
       |       CAST(floor(0.031415926535897934 + atan2(sim, sre) / (2 * pi() * dfdc * ${Layout.AzimuthTimeInterval}) * 1.0E6) AS BIGINT) AS az_shift_q
       |FROM dd JOIN df ON df.scene_id = dd.scene_id AND df.subswath = dd.subswath
       |  AND df.burst_a = dd.burst_a""".stripMargin
  }

  /** q_esd_apply (SpectralDiversityOp azimuth-correction leg twin): cumulative
   * overlap phases in burst order, per-pixel wrap(phase - corr_b) for b >= 2. */
  val esdApply: String = {
    val ovStart = Layout.LinesPerBurst - Layout.BurstOverlapLines
    s"""WITH ${SarOracles2.crossCte},
       |t AS (SELECT * FROM cx WHERE pol = 'VV' AND gy >= $ovStart),
       |b AS (SELECT * FROM cx WHERE pol = 'VV' AND gy < ${Layout.BurstOverlapLines} AND burst_idx > 1),
       |dd AS (
       |  SELECT t.scene_id, t.subswath, t.burst_idx AS burst_a,
       |    sum(t.cre * b.cre + t.cim * b.cim) AS sre,
       |    sum(t.cim * b.cre - t.cre * b.cim) AS sim
       |  FROM t JOIN b ON b.scene_id = t.scene_id AND b.subswath = t.subswath
       |    AND b.burst_idx = t.burst_idx + 1 AND b.gx = t.gx AND b.gy = t.gy - $ovStart
       |  WHERE t.cre <> -9999.0 AND b.cre <> -9999.0
       |  GROUP BY 1, 2, 3),
       |cs AS (
       |  SELECT scene_id, subswath, burst_a + 1 AS burst_idx,
       |    sum(atan2(sim, sre)) OVER (PARTITION BY scene_id, subswath ORDER BY burst_a) AS corr
       |  FROM dd),
       |o AS (
       |  SELECT cx.scene_id, cx.subswath, cx.pol, cx.burst_idx, cx.tile_y, cx.tile_x,
       |    CASE WHEN cx.cim = -9999.0 OR cx.cre = -9999.0 THEN -9999.0
       |         ELSE atan2(sin(atan2(cx.cim, cx.cre) - cs.corr), cos(atan2(cx.cim, cx.cre) - cs.corr)) END AS out
       |  FROM cx JOIN cs ON cs.scene_id = cx.scene_id AND cs.subswath = cx.subswath
       |    AND cs.burst_idx = cx.burst_idx
       |  WHERE cx.pol = 'VV')
       |${SarOracles.rollupSql(1.0)}""".stripMargin
  }

  /** TC geometry chain kept through slant/tx_m/orb_x for the scatter-add operators. */
  private val tfChain: String = {
    val tc = TerrainCorrection
    s"""orb AS (
       |  SELECT scene_id, t_sec AS orb_t, x AS orb_x, y AS orb_y, z AS orb_z, vy AS orb_vy
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1),
       |grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, s.azimuth_time_interval, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${tc.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${tc.CellDeg} AS lat
       |  FROM ${fx("scenes")} s,
       |       (SELECT unnest(range(${tc.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${tc.GridNy})) AS cj) cj),
       |g2 AS (
       |  SELECT g.*, d.height, o.orb_t, o.orb_x, o.orb_y, o.orb_z, o.orb_vy
       |  FROM grid g
       |  JOIN ${fx("dem")} d ON d.scene_id = g.scene_id
       |    AND d.lat_idx = CAST(round((g.lat - g.lat0) / ${tc.DemStep}, 0) AS INT)
       |    AND d.lon_idx = CAST(round((g.lon - g.lon0) / ${tc.DemStep}, 0) AS INT)
       |  JOIN orb o ON o.scene_id = g.scene_id),
       |g3 AS (
       |  SELECT *,
       |    (lon - lon0) * ${tc.XMetersPerDeg} AS tx_m,
       |    (lat - lat0) * ${tc.YMetersPerDeg} AS ty_m
       |  FROM g2),
       |g4 AS (
       |  SELECT *,
       |    orb_t + (ty_m - orb_y) / orb_vy AS t_zd,
       |    sqrt((orb_x - tx_m) * (orb_x - tx_m) + (orb_z - height) * (orb_z - height)) AS slant,
       |    sqrt(orb_x * orb_x + orb_z * orb_z) AS r0
       |  FROM g3),
       |g5 AS (
       |  SELECT *, CAST(floor((slant - r0) / ${tc.DR}) AS INT) AS s_idx FROM g4),
       |g6 AS (
       |  SELECT *, 'IW' || CAST(s_idx // ${Layout.SamplesPerBurst} + 1 AS VARCHAR) AS subswath,
       |         CAST(s_idx % ${Layout.SamplesPerBurst} AS INT) AS x_in_sw
       |  FROM g5 WHERE s_idx >= 0 AND s_idx < ${3 * Layout.SamplesPerBurst}),
       |bst AS (
       |  SELECT scene_id, subswath, burst_idx, burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |g7 AS (
       |  SELECT g6.scene_id, g6.subswath, bst.burst_idx, g6.x_in_sw, g6.orb_x, g6.tx_m, g6.slant,
       |         CAST(round((g6.t_zd - bst.bft) / g6.azimuth_time_interval, 0) AS INT) AS local_line
       |  FROM g6 JOIN bst ON bst.scene_id = g6.scene_id AND bst.subswath = g6.subswath
       |  WHERE g6.t_zd > coalesce((bst.prev_last + bst.bft) / 2, -1e18)
       |    AND g6.t_zd <= coalesce((bst.blt + bst.next_first) / 2, 1e18)
       |    AND g6.t_zd >= bst.bft - g6.azimuth_time_interval / 2
       |    AND g6.t_zd <= bst.blt + g6.azimuth_time_interval / 2),
       |g8 AS (SELECT * FROM g7 WHERE local_line >= 0 AND local_line < ${Layout.LinesPerBurst}),
       |f AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         CAST(local_line // ${Layout.TileH} AS INT) AS tile_y,
       |         CAST(x_in_sw // ${Layout.TileW} AS INT) AS tile_x,
       |         abs(orb_x - tx_m) / slant AS sin_inc
       |  FROM g8)
       |""".stripMargin
  }

  /** The fractional-xcorr gate: the engine must recover the planted warp at every
   * GCP to +-0.1 px — expected outcome is all-true booleans. */
  val xcorrFrac: String =
    s"""SELECT gcp_id, scene_id, true AS ok_dx, true AS ok_dy
       |FROM ${fx("gcps_frac")}""".stripMargin

  /** Degree-2 warp: expected outcome — the quadratic fit must recover the planted
   * degree-1 warp (all-true booleans), like warpPoly. */
  val warpPoly2: String =
    s"""SELECT w.scene_id,
       |       (SELECT count(*) FROM ${fx("gcps_frac")} g WHERE g.scene_id = w.scene_id) AS n_gcps,
       |       true AS ok_x, true AS ok_y
       |FROM ${fx("warp_truth")} w""".stripMargin

  /** Polynomial SRGR: expected outcome — the per-scene cubic must track the
   * closed-form slant->ground curve within the tolerance at every probe. */
  val srgrPoly: String =
    s"""SELECT scene_id, ${3 * graft.model.Layout.SamplesPerBurst}::BIGINT AS n_samples, true AS ok_fit
       |FROM ${fx("scenes")}""".stripMargin

  val warpPoly: String =
    s"""SELECT w.scene_id,
       |       (SELECT count(*) FROM ${fx("gcps_frac")} g WHERE g.scene_id = w.scene_id) AS n_gcps,
       |       true AS ok_x, true AS ok_y
       |FROM ${fx("warp_truth")} w""".stripMargin

  /** Terrain-Flattening twin — restates the FULL reference algorithm the engine
   * runs (TerrainFlatteningOp.java:491-716, 1181-1226, 1301-1377): nearest-
   * resampled 4-corner facet heights, corner projection perpendicular to the
   * slant-range unit vector, Heron two-triangle gamma0/sigma0 areas, bilinear
   * 4-neighbour area scatter with pre-sum quantization, and the threshold-guarded
   * beta0 -> gamma0 normalization. Every stage materialized; expression text
   * identical to ops.TerrainCorrection.terrainFlatteningQuery. */
  val terrainFlattening: String = {
    val tc = TerrainCorrection
    val dX = tc.CellDeg * tc.XMetersPerDeg
    val dY = tc.CellDeg * tc.YMetersPerDeg
    def dist(ax: String, ay: String, az: String, bx: String, by: String, bz: String) =
      s"sqrt(($ax - $bx) * ($ax - $bx) + ($ay - $by) * ($ay - $by) + ($az - $bz) * ($az - $bz))"
    val heron = tc.heronSum("e0001", "e0010", "e1101", "e1110", "e1001")
    val heronG = tc.heronSum("g0001", "g0010", "g1101", "g1110", "g1001")
    s"""WITH orb AS MATERIALIZED (
       |  SELECT scene_id, t_sec AS orb_t, x AS orb_x, y AS orb_y, z AS orb_z, vy AS orb_vy
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1),
       |grid AS MATERIALIZED (
       |  SELECT s.scene_id, s.lon0, s.lat0, s.azimuth_time_interval,
       |         o.orb_t, o.orb_x, o.orb_y, o.orb_z, o.orb_vy, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${tc.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${tc.CellDeg} AS lat
       |  FROM ${fx("scenes")} s
       |  JOIN orb o ON o.scene_id = s.scene_id,
       |       (SELECT unnest(range(${tc.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${tc.GridNy})) AS cj) cj),
       |idx AS MATERIALIZED (
       |  SELECT *,
       |    CAST(round((lat - lat0) / ${tc.DemStep}, 0) AS INT) AS li0,
       |    CAST(round((lon - lon0) / ${tc.DemStep}, 0) AS INT) AS lo0,
       |    CAST(round((lat + ${tc.CellDeg} - lat0) / ${tc.DemStep}, 0) AS INT) AS li1,
       |    CAST(round((lon + ${tc.CellDeg} - lon0) / ${tc.DemStep}, 0) AS INT) AS lo1
       |  FROM grid),
       |crn AS MATERIALIZED (
       |  SELECT i.*, d00.height AS h00, d01.height AS h01, d10.height AS h10, d11.height AS h11
       |  FROM idx i
       |  JOIN ${fx("dem")} d00 ON d00.scene_id = i.scene_id AND d00.lat_idx = i.li0 AND d00.lon_idx = i.lo0
       |  JOIN ${fx("dem")} d01 ON d01.scene_id = i.scene_id AND d01.lat_idx = i.li1 AND d01.lon_idx = i.lo0
       |  JOIN ${fx("dem")} d10 ON d10.scene_id = i.scene_id AND d10.lat_idx = i.li0 AND d10.lon_idx = i.lo1
       |  JOIN ${fx("dem")} d11 ON d11.scene_id = i.scene_id AND d11.lat_idx = i.li1 AND d11.lon_idx = i.lo1),
       |pos AS MATERIALIZED (
       |  SELECT *,
       |    (lon - lon0) * ${tc.XMetersPerDeg} AS tx0,
       |    (lat - lat0) * ${tc.YMetersPerDeg} AS ty0
       |  FROM crn),
       |pos2 AS MATERIALIZED (
       |  SELECT *, tx0 + $dX AS tx1, ty0 + $dY AS ty1,
       |    sqrt((orb_x - tx0) * (orb_x - tx0) + (orb_z - h00) * (orb_z - h00)) AS slant
       |  FROM pos),
       |pos3 AS MATERIALIZED (
       |  SELECT *, (orb_x - tx0) / slant AS sx, (orb_z - h00) / slant AS sz FROM pos2),
       |prj AS MATERIALIZED (
       |  SELECT *,
       |    tx0 * sx + h00 * sz AS q00, tx0 * sx + h01 * sz AS q01,
       |    tx1 * sx + h10 * sz AS q10, tx1 * sx + h11 * sz AS q11
       |  FROM pos3),
       |prj2 AS MATERIALIZED (
       |  SELECT *,
       |    tx0 - q00 * sx AS p00x, h00 - q00 * sz AS p00z,
       |    tx0 - q01 * sx AS p01x, h01 - q01 * sz AS p01z,
       |    tx1 - q10 * sx AS p10x, h10 - q10 * sz AS p10z,
       |    tx1 - q11 * sx AS p11x, h11 - q11 * sz AS p11z
       |  FROM prj),
       |edg AS MATERIALIZED (
       |  SELECT *,
       |    ${dist("p00x", "ty0", "p00z", "p01x", "ty1", "p01z")} AS e0001,
       |    ${dist("p00x", "ty0", "p00z", "p10x", "ty0", "p10z")} AS e0010,
       |    ${dist("p11x", "ty1", "p11z", "p01x", "ty1", "p01z")} AS e1101,
       |    ${dist("p11x", "ty1", "p11z", "p10x", "ty0", "p10z")} AS e1110,
       |    ${dist("p10x", "ty0", "p10z", "p01x", "ty1", "p01z")} AS e1001,
       |    ${dist("tx0", "ty0", "h00", "tx0", "ty1", "h01")} AS g0001,
       |    ${dist("tx0", "ty0", "h00", "tx1", "ty0", "h10")} AS g0010,
       |    ${dist("tx1", "ty1", "h11", "tx0", "ty1", "h01")} AS g1101,
       |    ${dist("tx1", "ty1", "h11", "tx1", "ty0", "h10")} AS g1110,
       |    ${dist("tx1", "ty0", "h10", "tx0", "ty1", "h01")} AS g1001
       |  FROM prj2),
       |are AS MATERIALIZED (
       |  SELECT *, $heron AS gamma_area, $heronG AS sigma_area FROM edg),
       |rdx AS MATERIALIZED (
       |  SELECT *, (slant - sqrt(orb_x * orb_x + orb_z * orb_z)) / ${tc.DR} AS xfg,
       |         orb_t + (ty0 - orb_y) / orb_vy AS t_zd
       |  FROM are),
       |rdx2 AS MATERIALIZED (
       |  SELECT *, CAST(floor(xfg) AS INT) AS s0, xfg - floor(xfg) AS wx
       |  FROM rdx WHERE xfg >= 0 AND xfg < ${3 * Layout.SamplesPerBurst - 1}),
       |rdx3 AS MATERIALIZED (
       |  SELECT *, CAST(s0 % ${Layout.SamplesPerBurst} AS INT) AS x0,
       |         'IW' || CAST(s0 // ${Layout.SamplesPerBurst} + 1 AS VARCHAR) AS subswath
       |  FROM rdx2 WHERE CAST(s0 % ${Layout.SamplesPerBurst} AS INT) < ${Layout.SamplesPerBurst - 1}),
       |bst AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx, burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |own AS MATERIALIZED (
       |  SELECT r.*, b.burst_idx, (r.t_zd - b.bft) / r.azimuth_time_interval AS lf
       |  FROM rdx3 r JOIN bst b ON b.scene_id = r.scene_id AND b.subswath = r.subswath
       |  WHERE r.t_zd > coalesce((b.prev_last + b.bft) / 2, -1e18)
       |    AND r.t_zd <= coalesce((b.blt + b.next_first) / 2, 1e18)),
       |own2 AS MATERIALIZED (
       |  SELECT *, CAST(floor(lf) AS INT) AS l0, lf - floor(lf) AS wl
       |  FROM own WHERE lf >= 0 AND lf < ${Layout.LinesPerBurst - 1}),
       |sct AS MATERIALIZED (
       |  SELECT o.*, o.l0 + c.cy AS line, o.x0 + c.cx AS samp,
       |    (CASE WHEN c.cy = 0 THEN 1.0 - wl ELSE wl END) * (CASE WHEN c.cx = 0 THEN 1.0 - wx ELSE wx END) AS w
       |  FROM own2 o CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(cy, cx)),
       |pxs AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx,
       |         CAST(line // ${Layout.TileH} AS INT) AS tile_y,
       |         CAST(samp // ${Layout.TileW} AS INT) AS tile_x,
       |         CAST((line % ${Layout.TileH}) * ${Layout.TileW} + samp % ${Layout.TileW} AS INT) AS px,
       |         count(*) AS n_facets,
       |         CAST(sum(CAST(floor(0.031415926535897934 + w * gamma_area * 1.0E2) AS BIGINT)) AS BIGINT) AS garea_q,
       |         CAST(sum(CAST(floor(0.031415926535897934 + w * sigma_area * 1.0E2) AS BIGINT)) AS BIGINT) AS sarea_q,
       |         any_value(azimuth_time_interval) AS azimuth_time_interval,
       |         any_value(orb_vy) AS orb_vy, any_value(orb_x) AS orb_x, any_value(orb_z) AS orb_z
       |  FROM sct GROUP BY 1, 2, 3, 4, 5, 6),
       |spx AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         unnest(i) AS pa, unnest(q) AS pb
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |nrm AS MATERIALIZED (
       |  SELECT p.*, t.pa, t.pb, p.garea_q / 1.0E2 AS sim_val,
       |         p.orb_vy * p.azimuth_time_interval * ${tc.DR} AS a_beta,
       |         sqrt(p.orb_x * p.orb_x + p.orb_z * p.orb_z) + ((CAST(substring(p.subswath, 3, 1) AS INT) - 1) * ${Layout.SamplesPerBurst} + p.tile_x * ${Layout.TileW} + p.px % ${Layout.TileW}) * ${tc.DR} AS slant_px
       |  FROM pxs p
       |  JOIN spx t ON t.scene_id = p.scene_id AND t.subswath = p.subswath
       |    AND t.burst_idx = p.burst_idx AND t.tile_y = p.tile_y AND t.tile_x = p.tile_x AND t.k = p.px),
       |nrm2 AS MATERIALIZED (
       |  SELECT *, sqrt(greatest(0, slant_px * slant_px - orb_z * orb_z)) / orb_z AS tan_inc FROM nrm),
       |nrm3 AS MATERIALIZED (
       |  SELECT *, CASE WHEN pa = -9999.0 OR pb = -9999.0 OR isnan(pa) OR isnan(pb)
       |                   OR sim_val <= ${tc.TfThreshold} * a_beta / tan_inc THEN NULL
       |            ELSE CAST(floor(0.031415926535897934 +
       |              (floor(((floor(pa * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic}) * (floor(pa * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic})
       |                + (floor(pb * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic}) * (floor(pb * ${graft.ops.Raster.Dyadic}) / ${graft.ops.Raster.Dyadic})) * ${graft.ops.Raster.DyadicV}) / ${graft.ops.Raster.DyadicV})
       |              / (sim_val / a_beta) * 1.0E4) AS BIGINT) END AS g0_q
       |  FROM nrm2)
       |SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |       count(*) AS n_px, CAST(sum(n_facets) AS BIGINT) AS n_facets,
       |       CAST(sum(garea_q) AS BIGINT) AS garea_sum_q,
       |       CAST(sum(sarea_q) AS BIGINT) AS sarea_sum_q,
       |       count(g0_q) AS n_flat, CAST(sum(g0_q) AS BIGINT) AS flat_sum_q
       |FROM nrm3 GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  val sarSimulation: String =
    s"""WITH $tfChain,
       |f2 AS (SELECT *, sqrt(greatest(0, 1 - sin_inc * sin_inc)) AS cos_inc FROM f WHERE sin_inc > 0.0)
       |SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |       count(*) AS n_facets,
       |       CAST(sum(CAST(floor(0.031415926535897934 + (0.0133 * cos_inc / ((sin_inc + 0.1 * cos_inc) * (sin_inc + 0.1 * cos_inc) * (sin_inc + 0.1 * cos_inc))) * 1.0E6) AS BIGINT)) AS BIGINT) AS sim_sum_q
       |FROM f2 GROUP BY 1, 2, 3, 4, 5""".stripMargin
}
