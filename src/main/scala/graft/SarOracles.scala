package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.Speckle

/**
 * Independent DuckDB derivations of the SAR raster operators, over the same fixture
 * parquet. The kernels mirror the reference formulas directly in SQL (not the engine's
 * Catalyst expressions): neighborhoods come from a pixel self-join on (gx+dx, gy+dy)
 * instead of the engine's tile-halo exchange, and LUT values come from the fixtures'
 * closed-form linear surface instead of the engine's general bracketing interpolation —
 * so a bug in either derivation shows up as a mismatch.
 */
object SarOracles {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  /** Unnest tiles to pixels with per-burst raster coords + intensity (nd-propagating). */
  private val pxCte: String =
    s"""px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         (burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gline,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px)""".stripMargin

  /** Tile rollup over per-pixel column `out` in CTE `o`, the integer-exact twin of
   * Raster.rollup: per-pixel quantization to BIGINT before the (exact) integer sum. */
  def rollupSql(scale: Double): String = {
    val q = graft.ops.Raster.quantum(scale)
    s"""SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       count(*) FILTER (out <> -9999.0) AS n_valid,
       |       CAST(coalesce(sum(CAST(floor(0.031415926535897934 + out * $q) AS BIGINT)) FILTER (out <> -9999.0), 0) AS BIGINT) AS sum_q,
       |       min(CAST(floor(0.031415926535897934 + out * $q) AS BIGINT)) FILTER (out <> -9999.0) AS min_q,
       |       max(CAST(floor(0.031415926535897934 + out * $q) AS BIGINT)) FILTER (out <> -9999.0) AS max_q
       |FROM o GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** 3x3 window stats by pixel self-join; m/vr/ci columns for the filter kernels. */
  private val statsCtes: String =
    s"""d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |         c.v AS cp,
       |         count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS n,
       |         coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS s1,
       |         coalesce(sum(n.v * n.v) FILTER (n.v <> -9999.0), 0) AS s2,
       |         list(n.v ORDER BY n.v) FILTER (n.v <> -9999.0) AS sorted
       |  FROM p2 c CROSS JOIN d
       |  LEFT JOIN p2 n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |st2 AS (
       |  SELECT *, CASE WHEN n > 0 THEN s1 / n END AS m,
       |         CASE WHEN n > 1 THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) ELSE 0 END AS vr
       |  FROM st),
       |st3 AS (SELECT *, CASE WHEN m > 0 THEN sqrt(vr) / m END AS ci FROM st2)""".stripMargin

  private def speckleSql(kernel: String): String =
    s"""WITH $pxCte,
       |$statsCtes,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, $kernel AS out FROM st3)
       |${rollupSql(1.0)}""".stripMargin

  private val cu = 1.0 / math.sqrt(Speckle.Enl)
  private val cu2 = cu * cu
  private val cmax = math.sqrt(2) * cu

  val speckleBoxcar: String = speckleSql("CASE WHEN n <= 0 THEN -9999.0 ELSE m END")

  val speckleMedian: String = speckleSql("CASE WHEN n <= 0 THEN -9999.0 ELSE sorted[CAST(n // 2 AS INT) + 1] END")

  val speckleLee: String = speckleSql(
    s"""CASE WHEN n <= 0 THEN -9999.0
       |     WHEN m <= 0 OR vr <= 0 THEN m
       |     WHEN ci < $cu THEN m
       |     ELSE cp * (1 - $cu2 / (ci * ci)) + m * ($cu2 / (ci * ci)) END""".stripMargin)

  val speckleGammaMap: String = speckleSql(
    s"""CASE WHEN n <= 0 THEN -9999.0
       |     WHEN m <= 0 OR vr <= 0 THEN m
       |     WHEN ci <= $cu THEN m
       |     WHEN ci < $cmax THEN
       |       CASE WHEN m * m * (((1 + $cu2) / (ci * ci - $cu2)) - ${Speckle.Enl} - 1) * (((1 + $cu2) / (ci * ci - $cu2)) - ${Speckle.Enl} - 1)
       |                 + 4 * ((1 + $cu2) / (ci * ci - $cu2)) * ${Speckle.Enl} * m * cp < 0 THEN cp
       |            ELSE ((((1 + $cu2) / (ci * ci - $cu2)) - ${Speckle.Enl} - 1) * m
       |                  + sqrt(m * m * (((1 + $cu2) / (ci * ci - $cu2)) - ${Speckle.Enl} - 1) * (((1 + $cu2) / (ci * ci - $cu2)) - ${Speckle.Enl} - 1)
       |                         + 4 * ((1 + $cu2) / (ci * ci - $cu2)) * ${Speckle.Enl} * m * cp))
       |                 / (2 * ((1 + $cu2) / (ci * ci - $cu2))) END
       |     ELSE cp END""".stripMargin)

  /** Calibration: LUT A is the fixtures' closed-form linear surface (FIXTURES.md §3),
   * which the engine's bracketing bilinear interpolation must reproduce exactly. */
  val calibrationSigma0: String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0
       |                  ELSE v / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) END AS out
       |      FROM p2)
       |${rollupSql(1e1)}""".stripMargin

  /** q_calibration_dispatch: the mission-keyed calibrator selection restated
   * per pixel — the same scene-ordinal dispatch rule, the Iceye/ALOS constant
   * factors and the Radarsat-2 offset as exact shared decimal literals, and
   * the S1/RS2 branches' LUT from the fixture's closed-form surface. */
  val calibrationDispatch: String = {
    val key = "(CAST(substring(scene_id, 7, 4) AS INT) * 3 + CAST(substring(subswath, 3, 1) AS INT) - 1) % 6"
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0
       |                  WHEN $key = 1 THEN v * ${ops.Calibration.IceyeK}
       |                  WHEN $key = 2 THEN v * ${ops.Calibration.AlosK}
       |                  WHEN $key = 3 THEN (v + ${ops.Calibration.Rs2Offset}) / (500.0 + 0.1 * gline + 0.05 * gx)
       |                  WHEN $key = 4 THEN ${ops.Calibration.asarSigma("v", "gx")}
       |                  WHEN $key = 5 THEN ${ops.Calibration.tsxSigma("v", "gx")}
       |                  ELSE v / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) END AS out
       |      FROM p2)
       |SELECT *, CASE $key
       |            WHEN 1 THEN 'ICEYE' WHEN 2 THEN 'ALOS' WHEN 3 THEN 'RADARSAT-2'
       |            WHEN 4 THEN 'ASAR' WHEN 5 THEN 'TERRASAR-X'
       |            ELSE 'SENTINEL-1' END AS mission
       |FROM (${rollupSql(1e1)})""".stripMargin
  }

  val thermalNoise: String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0
       |                  ELSE greatest(0, v - (2.0 + 0.01 * gline + 0.004 * gx)) END AS out
       |      FROM p2)
       |${rollupSql(1.0)}""".stripMargin

  val multilook: String =
    s"""WITH $pxCte,
       |b AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CAST(gy % ${Layout.TileH} // ${ops.Multilook.Looks} AS INT) AS block_y,
       |             CAST(gx % $W // ${ops.Multilook.Looks} AS INT) AS block_x,
       |             v
       |      FROM p2)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, block_y, block_x,
       |       count(*) FILTER (v <> -9999.0) AS n_valid,
       |       round(coalesce(avg(v) FILTER (v <> -9999.0), -9999.0), 6) AS ml_intensity,
       |       round(coalesce(sqrt(avg(v) FILTER (v <> -9999.0)), -9999.0), 6) AS ml_amplitude,
       |       round(coalesce(10 * log10(avg(v) FILTER (v <> -9999.0)), -9999.0), 6) AS ml_db
       |FROM b GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin

  /** Deburst restatement over an optionally restricted burst set — `where`
   * lands on BOTH the ownership CTE and the grid-span subquery, because a
   * preceding Split reshapes the deburst product's own timeline (the chain
   * gate's semantics), not just its rows. */
  def deburstSql(where: String): String =
    s"""WITH b AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         burst_first_line_time AS bft, burst_last_line_time AS blt,
       |         lag(burst_last_line_time) OVER w AS prev_last,
       |         lead(burst_first_line_time) OVER w AS next_first
       |  FROM ${fx("bursts")} $where
       |  WINDOW w AS (PARTITION BY scene_id, subswath ORDER BY burst_idx)),
       |g AS (
       |  SELECT b2.scene_id, b2.subswath, s.azimuth_time_interval AS dt, b2.t0, b2.t1
       |  FROM (SELECT scene_id, subswath, min(burst_first_line_time) AS t0,
       |               max(burst_last_line_time) AS t1
       |        FROM ${fx("bursts")} $where GROUP BY 1, 2) b2
       |  JOIN ${fx("scenes")} s USING (scene_id)),
       |lines AS (
       |  SELECT scene_id, subswath, dt,
       |         unnest(generate_series(0, CAST(round((t1 - t0) / dt, 0) AS INT))) AS line,
       |         t0 FROM g),
       |l2 AS (SELECT scene_id, subswath, dt, line, t0 + line * dt AS t FROM lines)
       |SELECT l2.scene_id, l2.subswath, l2.line, b.burst_idx,
       |       CAST(round((l2.t - b.bft) / l2.dt, 0) AS INT) AS local_line
       |FROM l2 JOIN b ON b.scene_id = l2.scene_id AND b.subswath = l2.subswath
       |WHERE l2.t > coalesce((b.prev_last + b.bft) / 2, -1e18)
       |  AND l2.t <= coalesce((b.blt + b.next_first) / 2, 1e18)
       |  AND l2.t >= b.bft - l2.dt / 2 AND l2.t <= b.blt + l2.dt / 2
       |ORDER BY 1, 2, 3""".stripMargin

  val deburst: String = deburstSql("")

  /** q_chain_deburst twin: the same restatement over the chain Split node's
   * declared window. */
  val chainDeburst: String =
    deburstSql("WHERE subswath = 'IW2' AND burst_idx BETWEEN 2 AND 5")
}
