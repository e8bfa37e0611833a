package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.Speckle

/**
 * DuckDB oracles for the declarative-chain gates (graph.ChainGraph): each
 * restates the WHOLE declared DAG as staged CTEs — the chain's parameter
 * choices (scene parities, burst range, subswath/pol selection, looks) appear
 * as literal predicates, so a mis-wired node or dropped filter in the compiler
 * shows up as a row/value mismatch, not just a formula bug.
 */
object ChainOracles {

  private val W = Layout.TileW
  private val H = Layout.TileH
  private val N = W * H
  private val Eps = "0.031415926535897934"

  /** Lagrange orbit interpolation over the split burst range (1..3), shared
   * formula text with ChainGraph.orbitOp / SarOracles7.orbitInterp, kept as
   * doubles for the downstream difference. */
  private val orbitCtes: String =
    s"""ob AS (
       |  SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn
       |  FROM ${fx("orbit")}),
       |bt AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         (burst_first_line_time + burst_last_line_time) / 2 AS tm
       |  FROM ${fx("bursts")} WHERE burst_idx BETWEEN 1 AND 3),
       |nsv AS (SELECT scene_id, count(*) AS n FROM ob GROUP BY 1),
       |kk AS (
       |  SELECT bt.scene_id, bt.subswath, bt.burst_idx, bt.tm,
       |         greatest(2, least(nsv.n - 2,
       |           (SELECT count(*) FROM ob o WHERE o.scene_id = bt.scene_id AND o.t_sec <= bt.tm))) AS k
       |  FROM bt JOIN nsv USING (scene_id)),
       |kn AS (
       |  SELECT kk.*, o.rn - kk.k + 2 AS j, o.t_sec, o.x, o.y, o.z, o.vy
       |  FROM kk JOIN ob o ON o.scene_id = kk.scene_id AND o.rn BETWEEN kk.k - 1 AND kk.k + 2),
       |pv AS (
       |  SELECT scene_id, subswath, burst_idx, tm,
       |    max(CASE WHEN j = 1 THEN t_sec END) AS t1, max(CASE WHEN j = 2 THEN t_sec END) AS t2,
       |    max(CASE WHEN j = 3 THEN t_sec END) AS t3, max(CASE WHEN j = 4 THEN t_sec END) AS t4,
       |    max(CASE WHEN j = 1 THEN x END) AS x1, max(CASE WHEN j = 2 THEN x END) AS x2,
       |    max(CASE WHEN j = 3 THEN x END) AS x3, max(CASE WHEN j = 4 THEN x END) AS x4,
       |    max(CASE WHEN j = 1 THEN y END) AS y1, max(CASE WHEN j = 2 THEN y END) AS y2,
       |    max(CASE WHEN j = 3 THEN y END) AS y3, max(CASE WHEN j = 4 THEN y END) AS y4,
       |    max(CASE WHEN j = 1 THEN z END) AS z1, max(CASE WHEN j = 2 THEN z END) AS z2,
       |    max(CASE WHEN j = 3 THEN z END) AS z3, max(CASE WHEN j = 4 THEN z END) AS z4,
       |    max(CASE WHEN j = 1 THEN vy END) AS v1, max(CASE WHEN j = 2 THEN vy END) AS v2,
       |    max(CASE WHEN j = 3 THEN vy END) AS v3, max(CASE WHEN j = 4 THEN vy END) AS v4
       |  FROM kn GROUP BY 1, 2, 3, 4),
       |wts AS (
       |  SELECT *,
       |    ((tm - t2) * (tm - t3) * (tm - t4)) / ((t1 - t2) * (t1 - t3) * (t1 - t4)) AS w1,
       |    ((tm - t1) * (tm - t3) * (tm - t4)) / ((t2 - t1) * (t2 - t3) * (t2 - t4)) AS w2,
       |    ((tm - t1) * (tm - t2) * (tm - t4)) / ((t3 - t1) * (t3 - t2) * (t3 - t4)) AS w3,
       |    ((tm - t1) * (tm - t2) * (tm - t3)) / ((t4 - t1) * (t4 - t2) * (t4 - t3)) AS w4
       |  FROM pv),
       |iv AS (
       |  SELECT scene_id, CAST(substring(scene_id, 7, 4) AS INT) AS ord, subswath, burst_idx, tm,
       |    w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4 AS ox,
       |    w1 * y1 + w2 * y2 + w3 * y3 + w4 * y4 AS oy,
       |    w1 * z1 + w2 * z2 + w3 * z3 + w4 * z4 AS oz,
       |    w1 * v1 + w2 * v2 + w3 * v3 + w4 * v4 AS ovy
       |  FROM wts)""".stripMargin

  /** q_chain_tops_coreg: the Read x2 -> Split x2 -> Orbit x2 -> Back-Geocoding
   * chain — even/odd scene pairing, per-burst orbit-state differences. */
  val topsCoreg: String =
    s"""WITH $orbitCtes
       |SELECT m.scene_id AS m_scene_id, s.scene_id AS sec_scene_id,
       |       m.subswath, m.burst_idx,
       |       CAST(floor($Eps + (s.tm - m.tm) * 1.0E6) AS BIGINT) AS az_dt_q,
       |       CAST(floor($Eps + (s.ox - m.ox) * 1.0E6) AS BIGINT) AS bx_q,
       |       CAST(floor($Eps + (s.oz - m.oz) * 1.0E6) AS BIGINT) AS bz_q,
       |       CAST(floor($Eps + ((s.oy - m.oy) - m.ovy * (s.tm - m.tm)) * 1.0E6) AS BIGINT) AS ay_resid_q
       |FROM (SELECT * FROM iv WHERE ord % 2 = 0) m
       |JOIN (SELECT * FROM iv WHERE ord % 2 = 1) s
       |  ON m.ord + 1 = s.ord AND m.subswath = s.subswath AND m.burst_idx = s.burst_idx
       |ORDER BY 1, 3, 4""".stripMargin

  private val cu = 1.0 / math.sqrt(Speckle.Enl)
  private val cu2 = cu * cu

  /** Shared chain prefix: Read(tiles) -> Split(IW1, VV, bursts 1..3) with the
   * dyadic intensity and global pixel coordinates. */
  private val splitIntensityCtes: String =
    s"""px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}
       |  WHERE subswath = 'IW1' AND pol = 'VV' AND burst_idx BETWEEN 1 AND 3),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * $H + CAST(k // $W AS INT) AS gy,
       |         (burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * $H + CAST(k // $W AS INT) AS gline,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px)""".stripMargin

  /** Shared chain tail: Lee 3x3 over a `cal(... cv)` stage then Multilook 4x4
   * emitted as integer block statistics (per-pixel quantized at 1e-9 BEFORE
   * the block sum — chained values are not dyadic, so only pre-quantized sums
   * are exact). */
  private val leeMultilookTail: String =
    s"""d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |         c.cv AS cp,
       |         count(*) FILTER (n.cv IS NOT NULL AND n.cv <> -9999.0) AS n,
       |         coalesce(sum(n.cv) FILTER (n.cv <> -9999.0), 0) AS s1,
       |         coalesce(sum(n.cv * n.cv) FILTER (n.cv <> -9999.0), 0) AS s2
       |  FROM cal c CROSS JOIN d
       |  LEFT JOIN cal n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |st2 AS (
       |  SELECT *, CASE WHEN n > 0 THEN s1 / n END AS m,
       |         CASE WHEN n > 1 THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) ELSE 0 END AS vr
       |  FROM st),
       |st3 AS (SELECT *, CASE WHEN m > 0 THEN sqrt(vr) / m END AS ci FROM st2),
       |lee AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |         CASE WHEN n <= 0 THEN -9999.0
       |              WHEN m <= 0 OR vr <= 0 THEN m
       |              WHEN ci < $cu THEN m
       |              ELSE cp * (1 - $cu2 / (ci * ci)) + m * ($cu2 / (ci * ci)) END AS out
       |  FROM st3)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       CAST(gy % $H // 4 AS INT) AS block_y,
       |       CAST(gx % $W // 4 AS INT) AS block_x,
       |       CAST(count(*) FILTER (out <> -9999.0) AS BIGINT) AS n_valid,
       |       CAST(coalesce(sum(CAST(floor($Eps + out * 1.0E9) AS BIGINT)) FILTER (out <> -9999.0), 0) AS BIGINT) AS sum_q
       |FROM lee GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin

  /** q_chain_e2e: Read(tiles) -> Split(IW1, VV, bursts 1..3) -> Calibration
   * (sigma0, closed-form LUT surface) -> Lee 3x3 -> Multilook 4x4. */
  val e2e: String =
    s"""WITH $splitIntensityCtes,
       |cal AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |         CASE WHEN v = -9999.0 THEN -9999.0
       |              ELSE floor(v / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) * 67108864) / 67108864 END AS cv
       |  FROM p2),
       |$leeMultilookTail""".stripMargin

  /** q_chain_grd: the canonical GRD backscatter chain — Read -> Split ->
   * ThermalNoiseRemoval (closed-form noise floor, zero clamp) -> Calibration
   * (sigma0 over the DENOISED intensity) -> Lee 3x3 -> Multilook 4x4. */
  val grd: String =
    s"""WITH $splitIntensityCtes,
       |tn AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy, gline,
       |         CASE WHEN v = -9999.0 THEN -9999.0
       |              ELSE greatest(0, v - (2.0 + 0.01 * gline + 0.004 * gx)) END AS vn
       |  FROM p2),
       |cal AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |         CASE WHEN vn = -9999.0 THEN -9999.0
       |              ELSE floor(vn / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) * 67108864) / 67108864 END AS cv
       |  FROM tn),
       |$leeMultilookTail""".stripMargin
  /** Split-filtered per-pixel CTE pair: i/q snapped to the 2^-12 dyadic grid
   * (the complexCross kernel's own pre-snap — window sums of the resulting
   * products are exact doubles, so association order cannot matter). */
  private def pxSplit(table: String, name: String): String =
    s"""${name}0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx(table)}
       |  WHERE subswath = 'IW1' AND pol = 'VV' AND burst_idx BETWEEN 1 AND 3),
       |$name AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * $H + CAST(k // $W AS INT) AS gy,
       |         floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv
       |  FROM ${name}0)""".stripMargin

  /** q_chain_grd_stream twin: the streamed chain executes the identical
   * per-row prefix (Split -> ThermalNoiseRemoval -> Calibration -> tile
   * rollup), so the oracle is the plain batch restatement — stream/batch
   * equality is the engine-side guarantee (AvailableNow drains the source and
   * no node is stateful), pinned separately in ChainSpec. */
  val grdStream: String =
    s"""WITH $splitIntensityCtes,
       |tn AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy, gline,
       |         CASE WHEN v = -9999.0 THEN -9999.0
       |              ELSE greatest(0, v - (2.0 + 0.01 * gline + 0.004 * gx)) END AS vn
       |  FROM p2),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         CASE WHEN vn = -9999.0 THEN -9999.0
       |              ELSE floor(vn / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) * 67108864) / 67108864 END AS out
       |  FROM tn)
       |${SarOracles.rollupSql(1e1)}""".stripMargin

  /** q_chain_subset twin: the Split window with the pixel-region crop
   * (tiles without overlap dropped at the scan; out-of-region pixels of
   * surviving tiles no-data), then the GRD noise + calibration stages and
   * the standard tile rollup. */
  val subset: String = {
    val x0 = 40; val y0 = 34; val x1 = 119; val y1 = 53
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}
       |  WHERE subswath = 'IW1' AND pol = 'VV' AND burst_idx BETWEEN 1 AND 3
       |    AND tile_x * $W <= $x1 AND (tile_x + 1) * $W > $x0
       |    AND tile_y * $H <= $y1 AND (tile_y + 1) * $H > $y0),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * $H + CAST(k // $W AS INT) AS gy,
       |         (burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * $H + CAST(k // $W AS INT) AS gline,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0
       |                OR NOT (tile_x * $W + k % $W BETWEEN $x0 AND $x1)
       |                OR NOT (tile_y * $H + CAST(k // $W AS INT) BETWEEN $y0 AND $y1)
       |              THEN -9999.0
       |              ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px),
       |tn AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy, gline,
       |         CASE WHEN v = -9999.0 THEN -9999.0
       |              ELSE greatest(0, v - (2.0 + 0.01 * gline + 0.004 * gx)) END AS vn
       |  FROM p2),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         CASE WHEN vn = -9999.0 THEN -9999.0
       |              ELSE floor(vn / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) * 67108864) / 67108864 END AS out
       |  FROM tn)
       |${SarOracles.rollupSql(1e1)}""".stripMargin
  }

  /** q_chain_dinsar: Read x2 -> Split x2 (IW1, VV, bursts 1..3) ->
   * Interferogram (wrapped phase from the dyadic-snapped cross products) ->
   * TopoPhaseRemoval (subtract the closed-form topographic phase — shared
   * text ops.InSAR.topoF — and re-wrap) -> Multilook 4x4 as integer block
   * statistics (per-pixel 1e-9 quantization BEFORE the block sum). */
  val dinsar: String = {
    val f = ops.InSAR.topoF("gx", "gy")
    s"""WITH ${pxSplit("tiles", "pa")},
       |${pxSplit("tiles_sec", "pb")},
       |cph AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x, a.gx, a.gy,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE atan2(a.qv * b.iv - a.iv * b.qv, a.iv * b.iv + a.qv * b.qv) END AS ph
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |         CASE WHEN ph = -9999.0 THEN -9999.0
       |              ELSE atan2(sin(ph - $f), cos(ph - $f)) END AS out
       |  FROM cph)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       CAST(gy % $H // 4 AS INT) AS block_y,
       |       CAST(gx % $W // 4 AS INT) AS block_x,
       |       CAST(count(*) FILTER (out <> -9999.0) AS BIGINT) AS n_valid,
       |       CAST(coalesce(sum(CAST(floor($Eps + out * 1.0E9) AS BIGINT)) FILTER (out <> -9999.0), 0) AS BIGINT) AS sum_q
       |FROM o GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
  }

  /** q_chain_insar: Read x2 -> Split x2 (IW1, VV, bursts 1..3) -> Interferogram
   * (complex cross products) -> Coherence (3x3 window, shared formula text with
   * the q_coherence oracle) -> Multilook 4x4 as integer block statistics
   * (per-pixel 1e-9 quantization BEFORE the block sum). */
  val insar: String =
    s"""WITH ${pxSplit("tiles", "pa")},
       |${pxSplit("tiles_sec", "pb")},
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
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy),
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
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |         CASE WHEN n = 0 OR sp1 <= 0 OR sp2 <= 0 THEN -9999.0
       |              ELSE sqrt(sre * sre + sim * sim) / sqrt(sp1 * sp2) END AS out
       |  FROM st)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       CAST(gy % $H // 4 AS INT) AS block_y,
       |       CAST(gx % $W // 4 AS INT) AS block_x,
       |       CAST(count(*) FILTER (out <> -9999.0) AS BIGINT) AS n_valid,
       |       CAST(coalesce(sum(CAST(floor($Eps + out * 1.0E9) AS BIGINT)) FILTER (out <> -9999.0), 0) AS BIGINT) AS sum_q
       |FROM o GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin
}
