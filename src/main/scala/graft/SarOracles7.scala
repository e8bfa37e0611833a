package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.TerrainCorrection

/**
 * DuckDB oracles for the calibration variants (beta0/gamma0/dB/complex), orbit
 * interpolation, the zero-Doppler solve (closed form vs the engine's bisection),
 * and the dual/compact-pol polarimetric family. Calibration LUTs use the fixtures'
 * closed-form linear surfaces; polarimetric products run on the same dyadic i/q grid.
 */
object SarOracles7 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  private val rollup = SarOracles.rollupSql(1.0)
  private val rollup1 = SarOracles.rollupSql(1e1)

  /** tiles pixels with quantized iv/qv/v and global line for the LUT surfaces. */
  private val pxCte: String =
    s"""px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")}),
       |px1 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
       |         floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv
       |  FROM px0),
       |px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         (burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gline,
       |         iv, qv,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |              ELSE floor((iv * iv + qv * qv) * 16384) / 16384 END AS v
       |  FROM px1)""".stripMargin

  private def calSql(surface: String, scale: String): String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0
       |                  ELSE v / (($surface) * ($surface)) END AS out
       |      FROM px)
       |$scale""".stripMargin

  val beta0: String = calSql("480.0 + 0.08 * gline + 0.04 * gx", rollup1)
  val gamma0: String = calSql("520.0 + 0.12 * gline + 0.06 * gx", rollup1)

  val sigma0Db: String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 OR v <= 0 THEN -9999.0
       |                  ELSE 10 * log10(v / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx))) END AS out
       |      FROM px)
       |$rollup""".stripMargin

  val complexCal: String =
    s"""WITH $pxCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN iv = -9999.0 THEN -9999.0
       |                  ELSE iv / (500.0 + 0.1 * gline + 0.05 * gx) END AS out
       |      FROM px)
       |$rollup""".stripMargin

  // -------------------------------------------------------------- orbit geometry

  val orbitInterp: String =
    s"""WITH ob AS (
       |  SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn
       |  FROM ${fx("orbit")}),
       |bt AS (
       |  SELECT scene_id, subswath, burst_idx,
       |         (burst_first_line_time + burst_last_line_time) / 2 AS tm
       |  FROM ${fx("bursts")}),
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
       |  FROM pv)
       |SELECT scene_id, subswath, burst_idx,
       |       CAST(floor(0.031415926535897934 + (w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4) * 1.0E6) AS BIGINT) AS x_q,
       |       CAST(floor(0.031415926535897934 + (w1 * y1 + w2 * y2 + w3 * y3 + w4 * y4) * 1.0E6) AS BIGINT) AS y_q,
       |       CAST(floor(0.031415926535897934 + (w1 * z1 + w2 * z2 + w3 * z3 + w4 * z4) * 1.0E6) AS BIGINT) AS z_q,
       |       CAST(floor(0.031415926535897934 + (w1 * v1 + w2 * v2 + w3 * v3 + w4 * v4) * 1.0E6) AS BIGINT) AS vy_q
       |FROM wts""".stripMargin

  val zeroDoppler: String = {
    val tc = TerrainCorrection
    s"""WITH orb AS (
       |  SELECT scene_id, t_sec AS orb_t, x AS orb_x, y AS orb_y, z AS orb_z, vy AS orb_vy
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1),
       |grid AS (
       |  SELECT s.scene_id, s.lon0, s.lat0, ci.ci, cj.cj,
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
       |  FROM g2)
       |SELECT scene_id, ci, cj,
       |       CAST(floor(0.031415926535897934 + (orb_t + (ty_m - orb_y) / orb_vy) * 1.0E4) AS BIGINT) AS tzd_q,
       |       CAST(floor(0.031415926535897934 + sqrt((orb_x - tx_m) * (orb_x - tx_m) + (orb_z - height) * (orb_z - height)) * 1.0E2) AS BIGINT) AS slant_q
       |FROM g3""".stripMargin
  }

  // ------------------------------------------------------------ polarimetric family

  /** dual-pol C2 pixel CTE: quantized products of the VV/VH pair — tile-level
   * join + positional unnest (see SarOracleWin on why not a pixel-level join). */
  private[graft] val c2Cte: String =
    s"""tqd AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx, a.tile_y, a.tile_x,
       |         a.i AS a_i, a.q AS a_q, b.i AS b_i, b.q AS b_q
       |  FROM ${fx("tiles")} a
       |  JOIN ${fx("tiles")} b ON b.pol = 'VH' AND b.scene_id = a.scene_id
       |    AND b.subswath = a.subswath AND b.burst_idx = a.burst_idx
       |    AND b.tile_y = a.tile_y AND b.tile_x = a.tile_x
       |  WHERE a.pol = 'VV'),
       |pzd AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         floor(unnest(a_i) * 4096) / 4096 AS aiv, floor(unnest(a_q) * 4096) / 4096 AS aqv,
       |         floor(unnest(b_i) * 4096) / 4096 AS biv, floor(unnest(b_q) * 4096) / 4096 AS bqv
       |  FROM tqd),
       |c2 AS (
       |  SELECT scene_id, subswath, 'DP' AS pol, burst_idx, tile_y, tile_x,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    (aiv <> -9999.0 AND aqv <> -9999.0 AND biv <> -9999.0 AND bqv <> -9999.0) AS valid,
       |    CASE WHEN aiv = -9999.0 OR aqv = -9999.0 OR biv = -9999.0 OR bqv = -9999.0
       |         THEN -9999.0 ELSE aiv * aiv + aqv * aqv END AS c11,
       |    CASE WHEN aiv = -9999.0 OR aqv = -9999.0 OR biv = -9999.0 OR bqv = -9999.0
       |         THEN -9999.0 ELSE biv * biv + bqv * bqv END AS c22,
       |    CASE WHEN aiv = -9999.0 OR aqv = -9999.0 OR biv = -9999.0 OR bqv = -9999.0
       |         THEN -9999.0 ELSE aiv * biv + aqv * bqv END AS c12r,
       |    CASE WHEN aiv = -9999.0 OR aqv = -9999.0 OR biv = -9999.0 OR bqv = -9999.0
       |         THEN -9999.0 ELSE aqv * biv - aiv * bqv END AS c12i
       |  FROM pzd)""".stripMargin

  /** 3x3 windowed C2 sums (separable two-pass, see SarOracleWin). */
  private val winCte: String = SarOracleWin.sepWin("c2", "st", 1, Seq(
    "c11" -> "m11", "c22" -> "m22", "c12r" -> "mr", "c12i" -> "mi"))

  val c2Matrix: String =
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN n <= 0 THEN -9999.0 ELSE m11 / n END AS out
       |      FROM st)
       |$rollup""".stripMargin

  val polSpeckle: String =
    s"""WITH $c2Cte,
       |sp AS (SELECT *, CASE WHEN c11 = -9999.0 THEN -9999.0 ELSE c11 + c22 END AS span FROM c2),
       |${SarOracleWin.sepWin("sp", "st", 1, Seq("span" -> "s1"))},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN n <= 0 THEN -9999.0 ELSE s1 / n END AS out
       |      FROM st)
       |$rollup""".stripMargin

  val stokes: String =
    s"""WITH $c2Cte
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  count(*) FILTER (c11 <> -9999.0) AS n_valid,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + (c11 + c22) * 1.0E6) AS BIGINT)) FILTER (c11 <> -9999.0), 0) AS BIGINT) AS g0_q,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + (c11 - c22) * 1.0E6) AS BIGINT)) FILTER (c11 <> -9999.0), 0) AS BIGINT) AS g1_q,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + 2 * c12r * 1.0E6) AS BIGINT)) FILTER (c11 <> -9999.0), 0) AS BIGINT) AS g2_q,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + -2 * c12i * 1.0E6) AS BIGINT)) FILTER (c11 <> -9999.0), 0) AS BIGINT) AS g3_q
       |FROM c2 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  private val mExpr: String =
    """CASE WHEN n = 0 OR (m11 + m22) <= 0 THEN -9999.0
      |     ELSE sqrt((m11 - m22) * (m11 - m22) + (2 * mr) * (2 * mr) + (-2 * mi) * (-2 * mi)) / (m11 + m22) END""".stripMargin

  val mDelta: String =
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, $mExpr AS out FROM st)
       |$rollup""".stripMargin

  val dprvi: String =
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN ($mExpr) = -9999.0 THEN -9999.0 ELSE 1 - ($mExpr) END AS out
       |      FROM st)
       |$rollup""".stripMargin

  val mChi: String = {
    val m = "(sqrt((m11 - m22) * (m11 - m22) + (2 * mr) * (2 * mr) + (-2 * mi) * (-2 * mi)) / (m11 + m22))"
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  CASE WHEN n = 0 OR (m11 + m22) <= 0 THEN -9999.0
       |       WHEN $m <= 0 THEN -9999.0
       |       ELSE (m11 + m22) * $m * (1.0 + (0.0 - (-2 * mi)) / ($m * (m11 + m22))) / 2.0 END AS out
       |  FROM st)
       |$rollup""".stripMargin
  }

  /** q_dualpol_y3: Y3 surface power on the windowed C2 sums — Uniform-Random
   * volume (volA = volB = 0.5) makes the residual trace |m11 - m22| with the
   * volume-clip branch, surfaced when Re c12 >= 0 (DualPolY3DecompositionOp
   * .java:231-265). Staging mirrors Kernels.c2Window C2_Y3PS exactly. */
  val y3Ps: String = {
    val residTrace =
      "greatest(CASE WHEN m11 - m22 < 0 THEN greatest(m22 - m11, 0.0) ELSE m11 - m22 END, 0.0)"
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  CASE WHEN n = 0 OR (m11 + m22) <= 0 THEN -9999.0
       |       WHEN $residTrace > 0 AND mr >= 0 THEN $residTrace
       |       ELSE 0.0 END AS out
       |  FROM st)
       |$rollup""".stripMargin
  }

  /** q_cprvi: compact-pol RVI (CPRVIOp.java:235-293) — Kennaugh geodesic distance
   * to the ideal depolarizer (trace algebra collapsed to closed form, identical
   * staging to Kernels.c2Window C2_CPRVI), lambda = 1.5*GD, index =
   * (1-lambda)*(minSC_OC/maxSC_OC)^(2*lambda); non-positive powers -> ND. */
  val cpRvi: String = {
    val num3 = "0.25 * ((m11 + m22) * (m11 + m22)) + 0.3125 * ((m11 - m22) * (m11 - m22)) + 0.3125 * ((2 * mr) * (2 * mr)) + 0.25 * ((-2 * mi) * (-2 * mi))"
    val gd = s"2.0 * acos(0.5 * (m11 + m22) / sqrt($num3)) / pi()"
    val sc = "((m11 + m22) - (-2 * mi)) / 2.0"
    val oc = "((m11 + m22) + (-2 * mi)) / 2.0"
    s"""WITH $c2Cte,
       |$winCte,
       |gd AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  n, m11, m22, mr, mi,
       |  least($sc, $oc) AS mn, greatest($sc, $oc) AS mx FROM st),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  CASE WHEN n = 0 OR (m11 + m22) <= 0 THEN -9999.0
       |       WHEN mn <= 0 OR mx <= 0 THEN -9999.0
       |       ELSE (1.0 - 1.5 * ($gd)) * pow(mn / mx, 2.0 * (1.5 * ($gd))) END AS out
       |  FROM gd)
       |$rollup""".stripMargin
  }

  val anisotropy: String =
    s"""WITH $c2Cte,
       |$winCte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  CASE WHEN n = 0 OR (m11 + m22) <= 0 THEN -9999.0
       |       WHEN (m11 + m22) * (m11 + m22) - 4 * (m11 * m22 - mr * mr - mi * mi) < 0 THEN 0.0
       |       ELSE sqrt((m11 + m22) * (m11 + m22) - 4 * (m11 * m22 - mr * mr - mi * mi)) / (m11 + m22) END AS out
       |  FROM st)
       |$rollup""".stripMargin

  val polRatio: String =
    s"""WITH $c2Cte,
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN c11 = -9999.0 OR c22 = -9999.0 OR c11 <= 0 THEN -9999.0
       |                  ELSE c22 / c11 END AS out
       |      FROM c2)
       |$rollup""".stripMargin
}
