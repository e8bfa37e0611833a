package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracles for the soil-moisture family, antenna-pattern/EAP corrections,
 * mission thermal-noise variant, warp-gather resampling (deskew/cross) and the
 * multi-master pair network. Formula text mirrors the ops staging; decimal
 * literals feeding arithmetic that Spark would run in floating point are CAST to
 * DOUBLE so both engines walk identical IEEE sequences.
 */
object SarOraclesSm {

  private val W = Layout.TileW
  private val rollup = SarOracles.rollupSql(1.0)
  private def q6(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1.0E6) AS BIGINT)"

  private def thetaOf(gx: String) = s"(20.0 + 20.0 * ($gx) / ${Layout.SamplesPerBurst})"

  /** q_antenna_pattern */
  val antennaPattern: String = {
    val g = s"(1.0 + 0.2 * cos((${thetaOf("gx")} - 30.0) / CAST(5.0 AS DOUBLE)))"
    s"""WITH ${SarOracles8.pxCte},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0 ELSE v / ($g * $g) END AS out
       |      FROM px)
       |$rollup""".stripMargin
  }

  /** q_eap_phase */
  val eapPhase: String = {
    val e = s"(0.4 * sin((${thetaOf("gx")} - 28.0) / CAST(3.0 AS DOUBLE)))"
    s"""WITH ${SarOracles2.pxCte("tiles", "pa")},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |        CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0
       |             ELSE atan2(sin(atan2(qv, iv) - $e), cos(atan2(qv, iv) - $e)) END AS out
       |      FROM pa)
       |$rollup""".stripMargin
  }

  /** q_thermal_noise_rcm */
  val thermalNoiseRcm: String =
    s"""WITH ${SarOracles8.pxCte},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN v = -9999.0 THEN -9999.0
       |                  ELSE greatest(0, v - (2.0 + 0.25 * burst_idx)) END AS out
       |      FROM px)
       |$rollup""".stripMargin

  // ------------------------------------------------------ warp-gather resampling

  private def warpOracle(coeffs: Seq[Double]): String = {
    def c(i: Int) = s"CAST(${coeffs(i)} AS DOUBLE)"
    val dx = s"CAST(floor(${c(0)} + ${c(1)} * c.gx + ${c(2)} * c.gy + 0.5) AS INT)"
    val dy = s"CAST(floor(${c(3)} + ${c(4)} * c.gx + ${c(5)} * c.gy + 0.5) AS INT)"
    s"""WITH ${SarOracles8.pxCte},
       |sh AS (SELECT *, $dx AS sdx, $dy AS sdy FROM px c),
       |o AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    CASE WHEN abs(c.sdx) > ${ops.Resampling.Margin} OR abs(c.sdy) > ${ops.Resampling.Margin}
       |         THEN -9999.0 ELSE coalesce(s.v, -9999.0) END AS out
       |  FROM sh c
       |  LEFT JOIN px s ON s.scene_id = c.scene_id AND s.subswath = c.subswath
       |    AND s.pol = c.pol AND s.burst_idx = c.burst_idx
       |    AND s.gx = c.gx - c.sdx AND s.gy = c.gy - c.sdy
       |    AND s.gx >= c.tile_x * $W - ${ops.Resampling.Margin}
       |    AND s.gx < (c.tile_x + 1) * $W + ${ops.Resampling.Margin}
       |    AND s.gy >= c.tile_y * ${Layout.TileH} - ${ops.Resampling.Margin}
       |    AND s.gy < (c.tile_y + 1) * ${Layout.TileH} + ${ops.Resampling.Margin})
       |$rollup""".stripMargin
  }

  /** q_bisinc_resampling: 5-tap normalized truncated-sinc along range at the
   * per-burst fractional shift (taps pivoted per center pixel so the weighted
   * sum stages in the kernel's exact left-assoc order; any NULL/ND tap -> ND). */
  val bisincResampling: String = {
    val wj = (0 to 4).map { j =>
      val t = s"(d - (${(j - 2).toDouble}))"
      s"CASE WHEN $t = 0 THEN 1.0 ELSE sin(pi() * $t) / (pi() * $t) END AS w$j"
    }.mkString(",\n       |    ").stripMargin
    val taps = (0 to 4).map { j =>
      s"max(CASE WHEN s.gx = c.gx + ${j - 2} THEN s.v END) AS v$j"
    }.mkString(",\n       |    ").stripMargin
    val ndOrNull = (0 to 4).map(j => s"v$j IS NULL OR v$j = -9999.0").mkString(" OR ")
    s"""WITH ${SarOracles8.pxCte},
       |tap AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy,
       |    $taps
       |  FROM px c
       |  JOIN px s ON s.scene_id = c.scene_id AND s.subswath = c.subswath
       |    AND s.pol = c.pol AND s.burst_idx = c.burst_idx AND s.gy = c.gy
       |    AND s.gx BETWEEN c.gx - 2 AND c.gx + 2
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |wts AS (SELECT *,
       |    $wj
       |  FROM (SELECT *, ((burst_idx * 13) % 17) / CAST(17.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) AS d FROM tap)),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN $ndOrNull THEN -9999.0
       |         ELSE (w0 * v0 + w1 * v1 + w2 * v2 + w3 * v3 + w4 * v4) / (w0 + w1 + w2 + w3 + w4) END AS out
       |  FROM wts)
       |$rollup""".stripMargin
  }

  val deskew: String = warpOracle(Seq(0.0, 0.0, 0.0, 0.0, ops.Resampling.DeskewFrac, 0.0))

  val crossResampling: String = warpOracle(
    ops.Resampling.CrossDx ++ ops.Resampling.CrossDy)

  // ----------------------------------------------------------- multi-master pairs

  /** q_multimaster */
  val multiMaster: String =
    s"""WITH sc AS (SELECT scene_id, first_line_time FROM ${fx("scenes")}),
       |pairs AS (
       |  SELECT a.scene_id AS scene_a, b.scene_id AS scene_b
       |  FROM sc a JOIN sc b ON a.scene_id < b.scene_id
       |    AND b.first_line_time - a.first_line_time <= ${ops.Stack.MultiMasterMaxDt}),
       |${SarOracles2.pxCte("tiles", "pa")},
       |pv AS (SELECT * FROM pa WHERE pol = 'VV'),
       |j AS (
       |  SELECT p.scene_a, p.scene_b, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.iv * b.iv + a.qv * b.qv END AS cre,
       |    CASE WHEN a.iv = -9999.0 OR a.qv = -9999.0 OR b.iv = -9999.0 OR b.qv = -9999.0
       |         THEN -9999.0 ELSE a.qv * b.iv - a.iv * b.qv END AS cim
       |  FROM pairs p
       |  JOIN pv a ON a.scene_id = p.scene_a
       |  JOIN pv b ON b.scene_id = p.scene_b AND b.subswath = a.subswath
       |    AND b.pol = a.pol AND b.burst_idx = a.burst_idx AND b.gx = a.gx AND b.gy = a.gy)
       |SELECT scene_a, scene_b, subswath, pol, burst_idx, tile_y, tile_x,
       |  count(*) FILTER (cre <> -9999.0) AS n_valid,
       |  CAST(coalesce(sum(${q6("cre")}) FILTER (cre <> -9999.0), 0) AS BIGINT) AS cre_sum_q,
       |  CAST(coalesce(sum(${q6("cim")}) FILTER (cre <> -9999.0), 0) AS BIGINT) AS cim_sum_q
       |FROM j GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  // ------------------------------------------------------------ soil moisture

  private val lutKeys = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"

  /** IEM argmin oracle over the px-pair frame `pp(keys, gx, v1, v2)`.
   *
   * Two-pass vectorized argmin (min d, then min row_id among the d-minima, the
   * kernel's first-strictly-lower scan semantics): d is recomputed from the
   * same inputs in both passes so the equality join on `= md` is exact. A
   * single-pass min(struct(...)) aggregate walked interpreted struct compares
   * at ~3 µs/row (59 thread-seconds); the two plain double/int mins are
   * vectorized. sgv is materialized so the pixel chain runs once. */
  private def iemOracle(ppCte: String): String = {
    val s1 = "CASE WHEN v1 = -9999.0 OR v1 <= 0.0 THEN -9999.0 ELSE 10 * log10(v1) END"
    val s2 = "CASE WHEN v2 = -9999.0 OR v2 <= 0.0 THEN -9999.0 ELSE 10 * log10(v2) END"
    val d = "(g.s1px - l.s1) * (g.s1px - l.s1) + (g.s2px - l.s2) * (g.s2px - l.s2)"
    val pxKeys = "g.scene_id, g.subswath, g.pol, g.burst_idx, g.tile_y, g.tile_x, g.gx, g.gy"
    s"""$ppCte,
       |sg AS (SELECT *, $s1 AS s1px, $s2 AS s2px,
       |         floor(${thetaOf("gx")} + 0.5) AS sect
       |       FROM pp),
       |sgv AS MATERIALIZED (SELECT * FROM sg WHERE s1px <> -9999.0 AND s2px <> -9999.0),
       |bd AS MATERIALIZED (
       |  SELECT $pxKeys, min($d) AS md
       |  FROM sgv g JOIN ${fx("sm_lut")} l ON l.theta_idx = g.sect
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |bi AS MATERIALIZED (
       |  SELECT $pxKeys, min(l.row_id) AS rid
       |  FROM sgv g
       |  JOIN ${fx("sm_lut")} l ON l.theta_idx = g.sect
       |  JOIN bd ON bd.scene_id = g.scene_id AND bd.subswath = g.subswath
       |    AND bd.pol = g.pol AND bd.burst_idx = g.burst_idx
       |    AND bd.tile_y = g.tile_y AND bd.tile_x = g.tile_x
       |    AND bd.gx = g.gx AND bd.gy = g.gy AND ($d) = bd.md
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |best AS (SELECT bi.*, l.rms, l.rdc
       |         FROM bi JOIN ${fx("sm_lut")} l ON l.row_id = bi.rid)
       |SELECT $lutKeys,
       |  count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("rms")}), 0) AS BIGINT) AS rms_sum_q,
       |  CAST(coalesce(sum(${q6("rdc")}), 0) AS BIGINT) AS rdc_sum_q
       |FROM best GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_sm_iem_hybrid: four sigma channels (AM VV/VH + PM VV/VH of the even/odd
   * scene pair), argmin over the shared (rms, rdc) grid with the PM sigma pair
   * read from the PM incidence section (theta + offset). Tie-break mirrors the
   * kernel's first-lowest-row_id scan. */
  val iemHybrid: String = {
    def dB(v: String) =
      s"CASE WHEN $v = -9999.0 OR $v <= 0.0 THEN -9999.0 ELSE 10 * log10($v) END"
    val dH = "(g.s1a - la.s1) * (g.s1a - la.s1) + (g.s2a - la.s2) * (g.s2a - la.s2)" +
      " + (g.s1b - lb.s1) * (g.s1b - lb.s1) + (g.s2b - lb.s2) * (g.s2b - lb.s2)"
    val pxKeysH = "g.scene_id, g.subswath, g.pol, g.burst_idx, g.tile_y, g.tile_x, g.gx, g.gy"
    val vOf = (p: String) =>
      s"""CASE WHEN ${p}_iv = -9999.0 OR ${p}_qv = -9999.0 THEN -9999.0
         |         ELSE floor(((floor(${p}_iv * 4096) / 4096) * (floor(${p}_iv * 4096) / 4096)
         |                   + (floor(${p}_qv * 4096) / 4096) * (floor(${p}_qv * 4096) / 4096)) * 16384) / 16384 END""".stripMargin
    // the 4 channels (VV/VH of the even scene x VV/VH of its odd partner) are
    // joined at TILE level and positionally unnested (see SarOracleWin)
    s"""WITH ht AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx, a.tile_y, a.tile_x,
       |         a.i AS a_i, a.q AS a_q, b.i AS b_i, b.q AS b_q,
       |         c.i AS c_i, c.q AS c_q, d.i AS d_i, d.q AS d_q
       |  FROM ${fx("tiles")} a
       |  JOIN ${fx("tiles")} b ON b.pol = 'VH' AND b.scene_id = a.scene_id
       |    AND b.subswath = a.subswath AND b.burst_idx = a.burst_idx
       |    AND b.tile_y = a.tile_y AND b.tile_x = a.tile_x
       |  JOIN ${fx("tiles")} c ON c.pol = 'VV'
       |    AND c.scene_id = 'scene_' || lpad(CAST(CAST(substring(a.scene_id, 7, 4) AS INT) + 1 AS VARCHAR), 4, '0')
       |    AND c.subswath = a.subswath AND c.burst_idx = a.burst_idx
       |    AND c.tile_y = a.tile_y AND c.tile_x = a.tile_x
       |  JOIN ${fx("tiles")} d ON d.pol = 'VH' AND d.scene_id = c.scene_id
       |    AND d.subswath = a.subswath AND d.burst_idx = a.burst_idx
       |    AND d.tile_y = a.tile_y AND d.tile_x = a.tile_x
       |  WHERE a.pol = 'VV' AND a.burst_idx <= ${ops.SoilMoisture.IemMaxBurst}
       |    AND CAST(substring(a.scene_id, 7, 4) AS INT) % 2 = 0),
       |hz AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         unnest(a_i) AS a_iv, unnest(a_q) AS a_qv, unnest(b_i) AS b_iv, unnest(b_q) AS b_qv,
       |         unnest(c_i) AS c_iv, unnest(c_q) AS c_qv, unnest(d_i) AS d_iv, unnest(d_q) AS d_qv
       |  FROM ht),
       |pp AS (
       |  SELECT scene_id, subswath, 'DP' AS pol, burst_idx, tile_y, tile_x,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    ${vOf("a")} AS v1a,
       |    ${vOf("b")} AS v2a,
       |    ${vOf("c")} AS v1b,
       |    ${vOf("d")} AS v2b
       |  FROM hz),
       |sg AS (SELECT *, ${dB("v1a")} AS s1a, ${dB("v2a")} AS s2a,
       |         ${dB("v1b")} AS s1b, ${dB("v2b")} AS s2b,
       |         floor(${thetaOf("gx")} + 0.5) AS sect_a,
       |         floor((${thetaOf("gx")} + ${ops.SoilMoisture.HybridThetaOffset}) + 0.5) AS sect_b
       |       FROM pp),
       |sgv AS MATERIALIZED (
       |  SELECT * FROM sg
       |  WHERE s1a <> -9999.0 AND s2a <> -9999.0 AND s1b <> -9999.0 AND s2b <> -9999.0),
       |-- two-pass vectorized argmin (see iemOracle): min d, then min row_id on d = md
       |bd AS MATERIALIZED (
       |  SELECT $pxKeysH, min($dH) AS md
       |  FROM sgv g
       |  JOIN ${fx("sm_lut")} la ON la.theta_idx = g.sect_a
       |  JOIN ${fx("sm_lut")} lb ON lb.theta_idx = g.sect_b
       |    AND lb.rms = la.rms AND lb.rdc = la.rdc
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |bi AS MATERIALIZED (
       |  SELECT $pxKeysH, min(la.row_id) AS rid
       |  FROM sgv g
       |  JOIN ${fx("sm_lut")} la ON la.theta_idx = g.sect_a
       |  JOIN ${fx("sm_lut")} lb ON lb.theta_idx = g.sect_b
       |    AND lb.rms = la.rms AND lb.rdc = la.rdc
       |  JOIN bd ON bd.scene_id = g.scene_id AND bd.subswath = g.subswath
       |    AND bd.pol = g.pol AND bd.burst_idx = g.burst_idx
       |    AND bd.tile_y = g.tile_y AND bd.tile_x = g.tile_x
       |    AND bd.gx = g.gx AND bd.gy = g.gy AND ($dH) = bd.md
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |best AS (SELECT bi.*, l.rms, l.rdc
       |         FROM bi JOIN ${fx("sm_lut")} l ON l.row_id = bi.rid)
       |SELECT $lutKeys,
       |  count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("rms")}), 0) AS BIGINT) AS rms_sum_q,
       |  CAST(coalesce(sum(${q6("rdc")}), 0) AS BIGINT) AS rdc_sum_q
       |FROM best GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_sm_iem_multipol */
  val iemMultiPol: String = iemOracle(
    s"""WITH ${SarOracles8.pxCte},
       |pva AS (SELECT * FROM px WHERE pol = 'VV' AND burst_idx <= ${ops.SoilMoisture.IemMaxBurst}),
       |pvb AS (SELECT * FROM px WHERE pol = 'VH' AND burst_idx <= ${ops.SoilMoisture.IemMaxBurst}),
       |pp AS (
       |  SELECT a.scene_id, a.subswath, 'DP' AS pol, a.burst_idx, a.tile_y, a.tile_x,
       |         a.gx, a.gy, a.v AS v1, b.v AS v2
       |  FROM pva a JOIN pvb b ON b.scene_id = a.scene_id AND b.subswath = a.subswath
       |    AND b.burst_idx = a.burst_idx AND b.gx = a.gx AND b.gy = a.gy)""".stripMargin)

  /** q_sm_iem_multiangle */
  val iemMultiAngle: String = iemOracle(
    s"""WITH ${SarOracles8.pxCte},
       |pv AS (SELECT *, CAST(substring(scene_id, 7, 4) AS INT) AS scene_idx
       |       FROM px WHERE pol = 'VV' AND burst_idx <= ${ops.SoilMoisture.IemMaxBurst}),
       |pv2 AS (SELECT *, scene_idx // 2 AS pair_idx FROM pv),
       |pp AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |         a.gx, a.gy, a.v AS v1, b.v AS v2
       |  FROM pv2 a JOIN pv2 b ON b.pair_idx = a.pair_idx AND b.subswath = a.subswath
       |    AND b.pol = a.pol AND b.burst_idx = a.burst_idx AND b.gx = a.gx AND b.gy = a.gy
       |    AND b.scene_idx % 2 = 1
       |  WHERE a.scene_idx % 2 = 0)""".stripMargin)

  /** q_sm_dielectric */
  val smDielectric: String = {
    import ops.SoilMoisture.{HkA, HkB, HkC}
    val rdc = "(6.0 + 3.0 * sin((gx) / 20) + 2.0 * cos((gy) / 15))"
    val disc = s"($HkB * $HkB - 4.0 * $HkC * ($HkA - $rdc))"
    val sm = s"((0.0 - $HkB + sqrt($disc)) / (2.0 * $HkC))"
    s"""WITH ${SarOracles8.pxCte},
       |sx AS (SELECT *, CAST(substring(scene_id, 7, 4) AS INT) AS scene_idx
       |       FROM px WHERE pol = 'VV'),
       |tx AS (SELECT *, CAST(30.6 + 2.0 * (scene_idx % 3) AS DOUBLE) AS sand,
       |         CAST(13.5 + 3.0 * (scene_idx % 2) AS DOUBLE) AS clay FROM sx),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN v = -9999.0 OR $disc < 0.0 THEN -9999.0
       |         ELSE least(greatest($sm, 0.0), 0.55) END AS out
       |  FROM tx)
       |$rollup""".stripMargin
  }
}
