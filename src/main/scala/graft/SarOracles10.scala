package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.exprs.Kernels

/**
 * DuckDB oracles for the round-3 small-operator batch: Range-Shift, Stack-Split,
 * Remodulate, Integer-Interferogram, PhaseFilter (spatial), MuLog (log-domain
 * boxcar pipeline), GaborFilter.
 */
object SarOracles10 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH
  private val rollup = SarOracles.rollupSql(1.0)

  /** Range-Shift estimation: the planted per-scene integer shift is the truth. */
  val rangeShift: String =
    s"""SELECT scene_id, count(*) AS n_gcps, round(avg(true_dx), 6) AS rg_shift_px
       |FROM ${fx("gcps")} GROUP BY 1""".stripMargin

  /** Stack-Split: master (epoch 0) + selected slave per-tile rollups. */
  val stackSplit: String =
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, epoch,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles_stack")} WHERE epoch = 0 OR epoch = ${ops.Stack.SplitEpoch}),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         CASE WHEN epoch = 0 THEN 'master' ELSE 'slave' END AS role,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, role,
       |       count(*) FILTER (v <> -9999.0) AS n_valid,
       |       CAST(coalesce(sum(CAST(floor(0.031415926535897934 + v * 1E6) AS BIGINT)) FILTER (v <> -9999.0), 0) AS BIGINT) AS sum_q
       |FROM p2 GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  /** Remodulate: wrap(demodulated phase + phi) — round trip of the deramp ramp. */
  val remodulate: String = {
    val ta = "(b.burst_first_line_time + p.gy * s.azimuth_time_interval)"
    val phi = s"(-pi() * b.doppler_rate * ($ta - b.reference_time) * ($ta - b.reference_time) - 2 * pi() * b.doppler_centroid * $ta)"
    val phid = s"atan2(sin(atan2(p.qv, p.iv) - $phi), cos(atan2(p.qv, p.iv) - $phi))"
    s"""WITH ${SarOracles2.pxCte("tiles", "p0")},
       |p AS (SELECT * FROM p0 WHERE pol = 'VV'),
       |j AS (
       |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |    CASE WHEN p.iv = -9999.0 OR p.qv = -9999.0 THEN -9999.0
       |         ELSE atan2(sin($phid + $phi), cos($phid + $phi)) END AS out
       |  FROM p
       |  JOIN ${fx("bursts")} b ON b.scene_id = p.scene_id AND b.subswath = p.subswath AND b.burst_idx = p.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = p.scene_id),
       |o AS (SELECT * FROM j)
       |$rollup""".stripMargin
  }

  /** Geolocation-Grid geocoding: footprint-affine inversion + nearest gather. */
  val ggGeocode: String = {
    val tc = ops.TerrainCorrection
    s"""WITH grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, ci.ci, cj.cj,
       |         s.lon0 + (ci.ci + 0.5) * ${tc.CellDeg} AS lon,
       |         s.lat0 + (cj.cj + 0.5) * ${tc.CellDeg} AS lat
       |  FROM ${fx("scenes")} s,
       |       (SELECT unnest(range(${tc.GridNx})) AS ci) ci,
       |       (SELECT unnest(range(${tc.GridNy})) AS cj) cj),
       |uv AS (
       |  SELECT g.scene_id, g.ci, g.cj, b.subswath, b.burst_idx,
       |         (g.lat - b.lat1) / (b.lat4 - b.lat1) AS vv,
       |         (g.lon - b.lon1 - ((g.lat - b.lat1) / (b.lat4 - b.lat1)) * (b.lon4 - b.lon1)) / (b.lon2 - b.lon1) AS u
       |  FROM grid g JOIN ${fx("bursts")} b ON b.scene_id = g.scene_id),
       |hit AS (
       |  SELECT *, row_number() OVER (PARTITION BY scene_id, ci, cj ORDER BY subswath, burst_idx) AS rn
       |  FROM uv WHERE u >= 0 AND u < 1 AND vv >= 0 AND vv < 1),
       |r AS (
       |  SELECT scene_id, ci, cj, subswath, burst_idx,
       |    greatest(0, least(${Layout.SamplesPerBurst - 1}, CAST(round(u * ${Layout.SamplesPerBurst} - 0.5, 0) AS INT))) AS x,
       |    greatest(0, least(${Layout.LinesPerBurst - 1}, CAST(round(vv * ${Layout.LinesPerBurst} - 0.5, 0) AS INT))) AS line
       |  FROM hit WHERE rn = 1),
       |px0 AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |px AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |              ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM px0)
       |SELECT r.scene_id, r.ci, r.cj, r.subswath, r.burst_idx, r.line, r.x,
       |       round(CASE WHEN p.v = -9999.0 THEN -9999.0 ELSE p.v END, 6) AS value
       |FROM r JOIN px p ON p.scene_id = r.scene_id AND p.subswath = r.subswath
       |  AND p.burst_idx = r.burst_idx AND p.gx = r.x AND p.gy = r.line""".stripMargin
  }

  /** ETAD timing correction: corrected fractional range sample from the LUT. */
  val etad: String =
    s"""WITH ${SarOracles2.pxCte("tiles", "p0")},
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |         ELSE gx + (2.0 + 0.01 * ((burst_idx - 1) * ${Layout.LinesPerBurst} + gy) + 0.004 * gx) / ${ops.TerrainCorrection.DR} END AS out
       |  FROM p0)
       |$rollup""".stripMargin

  /** Interferogram pixel CTE (tiles x tiles_sec complex cross, dyadic grid). */
  private val ifgCte: String =
    s"""pa0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")}),
       |pb0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles_sec")}),
       |pa AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |              floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv FROM pa0),
       |pb AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |              floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv FROM pb0),
       |ifg AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x, a.k,
       |    a.tile_x * $W + a.k % $W AS gx,
       |    a.tile_y * ${Layout.TileH} + CAST(a.k // $W AS INT) AS gy,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.iv * b.iv + a.qv * b.qv END AS cre,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.qv * b.iv - a.iv * b.qv END AS cim
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.tile_y = b.tile_y
       |    AND a.tile_x = b.tile_x AND a.k = b.k)""".stripMargin

  /** Integer interferogram: wrapped phase quantized to the integer lattice. */
  val integerIfg: String =
    s"""WITH $ifgCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN cim = -9999.0 OR cre = -9999.0 THEN -9999.0
       |                  ELSE CAST(round(atan2(cim, cre) * (128 / pi()), 0) AS DOUBLE) END AS out
       |      FROM ifg)
       |$rollup""".stripMargin

  /** Spatial phase filter: atan2(boxcar sin, boxcar cos) over 3x3. */
  val phaseFilter: String =
    s"""WITH $ifgCte,
       |sc AS (
       |  SELECT *, CASE WHEN cim = -9999.0 THEN -9999.0 ELSE floor(sin(atan2(cim, cre)) * 1048576.0) / 1048576.0 END AS sg,
       |         CASE WHEN cim = -9999.0 THEN -9999.0 ELSE floor(cos(atan2(cim, cre)) * 1048576.0) / 1048576.0 END AS cg
       |  FROM ifg),
       |d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    count(*) FILTER (n.sg IS NOT NULL AND n.sg <> -9999.0) AS n,
       |    coalesce(sum(n.sg) FILTER (n.sg <> -9999.0), 0) AS ssum,
       |    coalesce(sum(n.cg) FILTER (n.sg <> -9999.0), 0) AS csum
       |  FROM sc c CROSS JOIN d
       |  LEFT JOIN sc n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN n = 0 THEN -9999.0 ELSE atan2(ssum / n, csum / n) END AS out
       |      FROM st)
       |$rollup""".stripMargin

  /** q_speckle_mulog: the reference MuLoG ADMM loop (MuLog.java:126-148), staged
   * exactly as Kernels.mulogTile — per-tile clipped margin-3 halo buffers, per
   * iteration an NLM denoise of (u - w) (patch SSD/count distances, exp(-d/h^2)
   * weights over the clamped 5x5 search window, invalid cells participating at
   * log-seed 0 — the reference quirk), a 5-step Newton proximal update and the
   * Lagrange update w += v - u; finally exp(u). Double precision and 3
   * iterations on BOTH engines (documented deviations from the reference's
   * float32 x10). VV / bursts<=2 bounds the twin's cost. */
  val mulog: String = {
    val sp = ops.Speckle
    val m = sp.MulogMargin
    val tkeys = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
    val ckeys = s"$tkeys, bx, by"
    def newton(i: Int, src: String): String =
      s"""nw${i}_1 AS MATERIALIZED (SELECT *, u0 - (${sp.MulogEnl} * (1.0 - exp(y - u0)) + ${sp.MulogRho} * (u0 - r)) / (${sp.MulogEnl} * exp(y - u0) + ${sp.MulogRho}) AS u1 FROM $src),
         |nw${i}_2 AS MATERIALIZED (SELECT *, u1 - (${sp.MulogEnl} * (1.0 - exp(y - u1)) + ${sp.MulogRho} * (u1 - r)) / (${sp.MulogEnl} * exp(y - u1) + ${sp.MulogRho}) AS u2 FROM nw${i}_1),
         |nw${i}_3 AS MATERIALIZED (SELECT *, u2 - (${sp.MulogEnl} * (1.0 - exp(y - u2)) + ${sp.MulogRho} * (u2 - r)) / (${sp.MulogEnl} * exp(y - u2) + ${sp.MulogRho}) AS u3 FROM nw${i}_2),
         |nw${i}_4 AS MATERIALIZED (SELECT *, u3 - (${sp.MulogEnl} * (1.0 - exp(y - u3)) + ${sp.MulogRho} * (u3 - r)) / (${sp.MulogEnl} * exp(y - u3) + ${sp.MulogRho}) AS u4 FROM nw${i}_3),
         |nw${i}_5 AS MATERIALIZED (SELECT *, u4 - (${sp.MulogEnl} * (1.0 - exp(y - u4)) + ${sp.MulogRho} * (u4 - r)) / (${sp.MulogEnl} * exp(y - u4) + ${sp.MulogRho}) AS u5 FROM nw${i}_4)""".stripMargin
    def iter(i: Int): String = {
      val src = if (i == 1) "st0" else s"st${i - 1}"
      val cck = ckeys.split(", ").map(c => s"c.$c").mkString(", ")
      val ack = ckeys.split(", ").map(c => s"a.$c").mkString(", ")
      s"""in$i AS MATERIALIZED (SELECT $ckeys, invalid, y, u, w, u - w AS inp FROM $src),
         |sh$i AS (
         |  SELECT $cck, o.dx, o.dy,
         |    (c.inp - n.inp) * (c.inp - n.inp) AS ds, n.inp AS sval
         |  FROM in$i c CROSS JOIN offs o
         |  LEFT JOIN in$i n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
         |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx AND n.tile_y = c.tile_y
         |    AND n.tile_x = c.tile_x AND n.bx = c.bx + o.dx AND n.by = c.by + o.dy),
         |bxp$i AS (
         |  SELECT *, sum(ds) OVER wx AS xds, count(ds) OVER wx AS xnc
         |  FROM sh$i
         |  WINDOW wx AS (PARTITION BY scene_id, subswath, pol, burst_idx, tile_y, tile_x, dx, dy, by
         |                ORDER BY bx ROWS BETWEEN ${sp.MulogPatchR} PRECEDING AND ${sp.MulogPatchR} FOLLOWING)),
         |pd$i AS (
         |  SELECT *, sum(xds) OVER wy AS psum, CAST(sum(xnc) OVER wy AS BIGINT) AS pcnt
         |  FROM bxp$i
         |  WINDOW wy AS (PARTITION BY scene_id, subswath, pol, burst_idx, tile_y, tile_x, dx, dy, bx
         |                ORDER BY by ROWS BETWEEN ${sp.MulogPatchR} PRECEDING AND ${sp.MulogPatchR} FOLLOWING)),
         |nl$i AS MATERIALIZED (
         |  SELECT $ckeys,
         |    sum(exp(-(CASE WHEN pcnt > 0 THEN psum / pcnt ELSE 0.0 END) / ${sp.MulogH * sp.MulogH}) * sval)
         |      FILTER (sval IS NOT NULL)
         |    / sum(exp(-(CASE WHEN pcnt > 0 THEN psum / pcnt ELSE 0.0 END) / ${sp.MulogH * sp.MulogH}))
         |      FILTER (sval IS NOT NULL) AS v
         |  FROM pd$i GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
         |pv$i AS MATERIALIZED (
         |  SELECT $ack, a.invalid, a.y, a.w, b.v, b.v + a.w AS r, b.v + a.w AS u0
         |  FROM in$i a JOIN nl$i b USING (scene_id, subswath, pol, burst_idx, tile_y, tile_x, bx, by)),
         |${newton(i, s"pv$i")},
         |st$i AS MATERIALIZED (
         |  SELECT $ckeys, invalid, y, u5 AS u, w + v - u5 AS w FROM nw${i}_5)""".stripMargin
    }
    val iters = (1 to sp.MulogIters).map(iter).mkString(",\n")
    s"""WITH px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")} WHERE subswath = 'IW1' AND pol = 'VV' AND burst_idx <= 2),
       |p2 AS MATERIALIZED (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px0),
       |tk AS (SELECT DISTINCT scene_id, subswath, pol, burst_idx, tile_y, tile_x
       |       FROM ${fx("tiles")} WHERE subswath = 'IW1' AND pol = 'VV' AND burst_idx <= 2),
       |bb AS (SELECT CAST(a.range AS INT) AS bx, CAST(b.range AS INT) AS by
       |       FROM range(${W + 2 * m}) a, range(${Layout.TileH + 2 * m}) b),
       |buf AS MATERIALIZED (
       |  SELECT t.scene_id, t.subswath, t.pol, t.burst_idx, t.tile_y, t.tile_x,
       |         bb.bx, bb.by, p.v
       |  FROM tk t CROSS JOIN bb
       |  JOIN p2 p ON p.scene_id = t.scene_id AND p.subswath = t.subswath
       |    AND p.pol = t.pol AND p.burst_idx = t.burst_idx
       |    AND p.gx = t.tile_x * $W + bb.bx - $m
       |    AND p.gy = t.tile_y * ${Layout.TileH} + bb.by - $m),
       |offs AS (SELECT CAST(a.range AS INT) - ${sp.MulogSearchR} AS dx,
       |                CAST(b.range AS INT) - ${sp.MulogSearchR} AS dy
       |         FROM range(${2 * sp.MulogSearchR + 1}) a, range(${2 * sp.MulogSearchR + 1}) b),
       |st0 AS MATERIALIZED (
       |  SELECT $tkeys, bx, by,
       |    (v = -9999.0 OR v <= 0.0) AS invalid,
       |    CASE WHEN v = -9999.0 OR v <= 0.0 THEN 0.0 ELSE ln(v + 1e-10) END AS y,
       |    CASE WHEN v = -9999.0 OR v <= 0.0 THEN 0.0 ELSE ln(v + 1e-10) END AS u,
       |    0.0 AS w
       |  FROM buf),
       |$iters,
       |o AS (
       |  SELECT $tkeys,
       |    CASE WHEN invalid THEN -9999.0 ELSE exp(u) END AS out
       |  FROM st${sp.MulogIters}
       |  WHERE bx >= $m AND bx < ${W + m} AND by >= $m AND by < ${Layout.TileH + m})
       |$rollup""".stripMargin
  }

  /** Gabor 5x5 convolution; weight table inlined from the kernel's Scala doubles. */
  val gabor: String = {
    val wVals = (for (dy <- -2 to 2; dx <- -2 to 2)
      yield s"($dy, $dx, ${Kernels.gaborW(dy, dx)})").mkString(", ")
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px),
       |d AS (SELECT * FROM (VALUES $wVals) t(dy, dx, w)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v AS cp,
       |    coalesce(sum(floor(d.w * n.v * 1048576.0) / 1048576.0) FILTER (n.v <> -9999.0), 0) AS acc
       |  FROM p2 c CROSS JOIN d
       |  LEFT JOIN p2 n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN cp = -9999.0 THEN -9999.0 ELSE acc END AS out
       |      FROM st)
       |$rollup""".stripMargin
  }
}
