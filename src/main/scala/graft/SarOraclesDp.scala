package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracles for the dual-pol backscatter/scattering index family
 * (rstb DPRBIOp / DPRSIOp / DpDecompositionOp / DpFactorizationOp twins).
 *
 * Exactness strategy: C2 window sums and the dyadic slope window sums are exact
 * doubles; the mean divisions, percentile interpolation (reference
 * ComputePercentile association a*(1-f) + b*f at position p*(n-1)) and the final
 * index arithmetic are staged with the SAME IEEE operation order as the compiled
 * kernel (Kernels.dpStokesTile / dpIndexTile). Transcendental stages (ln, log10,
 * atan2, cos) rely on both engines' correctly-rounded libm; the 1e-6 quantization
 * offset absorbs sub-ulp drift.
 */
object SarOraclesDp {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH
  private val Ln2 = math.log(2.0).toString
  private val Pi = math.Pi.toString

  private def q6(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1.0E6) AS BIGINT)"

  /** VV/VH/slope zipped at tile level (bursts 1-3 verification subset, mirrors
   * ops.PolarimetryIndices.DpMaxBurst), then one positional unnest — replaces
   * the per-pol pixel-level join + 25-offset window self-join (SarOracleWin). */
  private val c2sCte: String =
    s"""dtq AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx, a.tile_y, a.tile_x,
       |         a.i AS a_i, a.q AS a_q, b.i AS b_i, b.q AS b_q, sl.s AS s_l
       |  FROM ${fx("tiles")} a
       |  JOIN ${fx("tiles")} b ON b.pol = 'VH' AND b.scene_id = a.scene_id
       |    AND b.subswath = a.subswath AND b.burst_idx = a.burst_idx
       |    AND b.tile_y = a.tile_y AND b.tile_x = a.tile_x
       |  JOIN ${fx("slope")} sl ON sl.scene_id = a.scene_id
       |    AND sl.subswath = a.subswath AND sl.burst_idx = a.burst_idx
       |    AND sl.tile_y = a.tile_y AND sl.tile_x = a.tile_x
       |  WHERE a.pol = 'VV' AND a.burst_idx <= ${graft.ops.PolarimetryIndices.DpMaxBurst}),
       |dpz AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         floor(unnest(a_i) * 4096) / 4096 AS aiv, floor(unnest(a_q) * 4096) / 4096 AS aqv,
       |         floor(unnest(b_i) * 4096) / 4096 AS biv, floor(unnest(b_q) * 4096) / 4096 AS bqv,
       |         unnest(s_l) AS sv
       |  FROM dtq),
       |c2s AS (
       |  SELECT scene_id, subswath, 'DP' AS pol, burst_idx, tile_y, tile_x,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    (aiv <> -9999.0 AND aqv <> -9999.0 AND biv <> -9999.0 AND bqv <> -9999.0) AS valid,
       |    aiv * aiv + aqv * aqv AS c11,
       |    biv * biv + bqv * bqv AS c22,
       |    aiv * biv + aqv * bqv AS c12r,
       |    aqv * biv - aiv * bqv AS c12i,
       |    sv
       |  FROM dpz)""".stripMargin

  /** 5x5 C2 window sums + slope window mean per center pixel (separable; the
   * slope raster is present on every cell so its count/sum are ungated). */
  private val winCte: String = SarOracleWin.sepWin("c2s", "st", 2,
    sums = Seq("c11" -> "m11", "c22" -> "m22", "c12r" -> "mr", "c12i" -> "mi"),
    ungated = Seq("1.0" -> "sc", "sv" -> "ssum"))

  /** Per-pixel pass-A magnitudes (slope-masked |Stokes|) staged as dpStokesTile. */
  private val mgCte =
    s"""mg AS (
       |  SELECT *,
       |    m11 / n - m22 / n AS g1v,
       |    2.0 * (mr / n) AS g2v,
       |    2.0 * (mi / n) AS g3v,
       |    CASE WHEN sc > 0 THEN ssum / sc ELSE 0.0 END AS slope_avg
       |  FROM st WHERE n > 0),
       |mk AS (
       |  SELECT *, CASE WHEN slope_avg > 15.0 THEN 0.0 ELSE 1.0 END AS mask,
       |    abs(g1v) AS g1s_abs
       |  FROM mg),
       |mm AS (
       |  SELECT *, abs(g1v) * mask AS g1a, abs(g2v) * mask AS g2a, abs(g3v) * mask AS g3a
       |  FROM mk)""".stripMargin

  /** Per-(scene, subswath) p5/p95 stats via two order statistics + the reference
   * interpolation (ComputePercentile: a*(1-f) + b*f at p*(n-1)). */
  private val statsCte =
    s"""mgl AS (
       |  SELECT scene_id, subswath, 'g1' AS gname, g1a AS v FROM mm
       |  UNION ALL SELECT scene_id, subswath, 'g2', g2a FROM mm
       |  UNION ALL SELECT scene_id, subswath, 'g3', g3a FROM mm
       |  UNION ALL SELECT scene_id, subswath, 'g1s', g1s_abs FROM mm),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY scene_id, subswath, gname ORDER BY v) - 1 AS rn,
       |    count(*) OVER (PARTITION BY scene_id, subswath, gname) AS nv
       |  FROM mgl),
       |rk2 AS (
       |  SELECT *, CAST(0.05 AS DOUBLE) * CAST(nv - 1 AS DOUBLE) AS pos5,
       |    CAST(0.95 AS DOUBLE) * CAST(nv - 1 AS DOUBLE) AS pos95
       |  FROM rk),
       |rk3 AS (
       |  SELECT *, CAST(floor(pos5) AS BIGINT) AS idx5, CAST(floor(pos95) AS BIGINT) AS idx95
       |  FROM rk2),
       |sx AS (
       |  SELECT scene_id, subswath, gname,
       |    max(CASE WHEN rn = idx5 THEN v END) AS a5,
       |    max(CASE WHEN rn = idx5 + 1 THEN v END) AS b5,
       |    max(CASE WHEN rn = idx95 THEN v END) AS a95,
       |    max(CASE WHEN rn = idx95 + 1 THEN v END) AS b95,
       |    any_value(pos5 - CAST(idx5 AS DOUBLE)) AS f5,
       |    any_value(pos95 - CAST(idx95 AS DOUBLE)) AS f95
       |  FROM rk3 GROUP BY 1, 2, 3),
       |sx2 AS (
       |  SELECT *, a5 * (1.0 - f5) + coalesce(b5, a5) * f5 AS p5,
       |    a95 * (1.0 - f95) + coalesce(b95, a95) * f95 AS p95
       |  FROM sx),
       |stats AS (
       |  SELECT scene_id, subswath,
       |    max(CASE WHEN gname = 'g1' THEN p5 END) AS p5_g1,
       |    max(CASE WHEN gname = 'g1' THEN p95 END) AS p95_g1,
       |    max(CASE WHEN gname = 'g2' THEN p5 END) AS p5_g2,
       |    max(CASE WHEN gname = 'g2' THEN p95 END) AS p95_g2,
       |    max(CASE WHEN gname = 'g3' THEN p5 END) AS p5_g3,
       |    max(CASE WHEN gname = 'g3' THEN p95 END) AS p95_g3,
       |    max(CASE WHEN gname = 'g1s' THEN p5 END) AS p5_g1s,
       |    max(CASE WHEN gname = 'g1s' THEN p95 END) AS p95_g1s
       |  FROM sx2 GROUP BY 1, 2)""".stripMargin

  /** Pass-B per-pixel staging (dpIndexTile): normalized indices + eigen entropy. */
  private val idxCte =
    s"""ix0 AS (
       |  SELECT m.*, t.p5_g1, t.p95_g1, t.p5_g2, t.p95_g2, t.p5_g3, t.p95_g3,
       |    t.p5_g1s, t.p95_g1s,
       |    m.m11 / m.n AS c11m, m.m22 / m.n AS c22m, m.mr / m.n AS mrm, m.mi / m.n AS mim
       |  FROM mm m JOIN stats t ON t.scene_id = m.scene_id AND t.subswath = m.subswath),
       |ix1 AS (
       |  SELECT * FROM ix0
       |  WHERE c11m > 0.0 AND c11m + c22m > 0.0
       |    AND p95_g1 > 0.0 AND p95_g2 > 0.0 AND p95_g3 > 0.0 AND p95_g1s > 0.0),
       |ix2 AS (
       |  SELECT *,
       |    least(greatest(g1a, p5_g1), p95_g1) / p95_g1 AS g1n,
       |    least(greatest(g2a, p5_g2), p95_g2) / p95_g2 AS g2n,
       |    least(greatest(g3a, p5_g3), p95_g3) / p95_g3 AS g3n,
       |    least(greatest(g1s_abs, p5_g1s), p95_g1s) / p95_g1s AS g1ns,
       |    c11m + c22m AS tr2,
       |    c11m * c22m - (mrm * mrm + mim * mim) AS det2
       |  FROM ix1),
       |ix3 AS (
       |  SELECT *, sqrt(g1n * g1n + g2n * g2n + g3n * g3n) / sqrt(3.0) AS dprbi,
       |    sqrt(CASE WHEN tr2 * tr2 - 4.0 * det2 < 0.0 THEN 0.0 ELSE tr2 * tr2 - 4.0 * det2 END) AS sq
       |  FROM ix2),
       |ix4 AS (
       |  SELECT *, (tr2 + sq) / 2.0 AS l1, (tr2 - sq) / 2.0 AS l2 FROM ix3),
       |ix5 AS (
       |  SELECT *, l1 / (l1 + l2) AS prob1, l2 / (l1 + l2) AS prob2 FROM ix4),
       |ix6 AS (
       |  SELECT *,
       |    0.0 - (CASE WHEN prob1 > 0.0 THEN prob1 * (ln(prob1) / $Ln2) ELSE 0.0 END)
       |        - (CASE WHEN prob2 > 0.0 THEN prob2 * (ln(prob2) / $Ln2) ELSE 0.0 END) AS ent,
       |    10.0 * log10(c11m) AS c11db,
       |    sqrt(greatest(0.0, 1.0 - g1ns * g1ns)) AS con1
       |  FROM ix5),
       |ix AS (
       |  SELECT *, CASE WHEN c11db > -16.0 THEN (1.0 - ent) * con1 ELSE con1 END AS dprsi
       |  FROM ix6)""".stripMargin

  private def full(finalSql: String): String =
    s"""WITH $c2sCte,
       |$winCte,
       |$mgCte,
       |$statsCte,
       |$idxCte
       |$finalSql""".stripMargin

  private val keys = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"

  val dprbi: String = full(
    s"""SELECT $keys, count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("dprbi")}), 0) AS BIGINT) AS rbi_sum_q
       |FROM ix GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)

  val dprsi: String = full(
    s"""SELECT $keys, count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("dprsi")}), 0) AS BIGINT) AS rsi_sum_q
       |FROM ix GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)

  val dpPowers: String = full(
    s""", pw0 AS (
       |  SELECT *, c11m + c22m AS g0, (l1 - l2) / (l1 + l2) AS dop, l1 / (l1 + l2) AS beta2,
       |    atan2(dprbi, 1.0 - dprbi) * 180.0 / $Pi AS alpha1,
       |    atan2(1.0 - dprsi, dprsi) * 180.0 / $Pi AS alpha2
       |  FROM ix),
       |pw1 AS (SELECT *, (alpha1 + alpha2) / 2.0 AS alpha_dp FROM pw0),
       |pw AS (
       |  SELECT *, cos(2.0 * alpha_dp / 180.0 * $Pi) AS cos_a, c11db > -16.0 AS vld
       |  FROM pw1)
       |SELECT $keys, count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("CASE WHEN vld THEN (1.0 - dop) * g0 ELSE (1.0 - beta2) * g0 END")}), 0) AS BIGINT) AS pu_sum_q,
       |  CAST(coalesce(sum(${q6("CASE WHEN vld THEN 0.5 * dop * g0 * (1.0 - cos_a) ELSE 0.5 * beta2 * g0 * (1.0 - cos_a) END")}), 0) AS BIGINT) AS pd_sum_q,
       |  CAST(coalesce(sum(${q6("CASE WHEN vld THEN 0.5 * dop * g0 * (1.0 + cos_a) ELSE 0.5 * beta2 * g0 * (1.0 + cos_a) END")}), 0) AS BIGINT) AS ps_sum_q,
       |  CAST(coalesce(sum(${q6("alpha_dp")}), 0) AS BIGINT) AS alpha_sum_q
       |FROM pw GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)

  val dpFactor: String = full(
    s""", fc AS (
       |  SELECT *, c11m + c22m AS g0,
       |    CASE WHEN dprsi > dprbi THEN (c11m + c22m) * dprsi
       |         ELSE (c11m + c22m) * (1.0 - dprbi) * dprsi END AS psf,
       |    CASE WHEN dprsi > dprbi THEN (c11m + c22m) * (1.0 - dprsi) * dprbi
       |         ELSE (c11m + c22m) * dprbi END AS pdf
       |  FROM ix)
       |SELECT $keys, count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("psf")}), 0) AS BIGINT) AS ps_sum_q,
       |  CAST(coalesce(sum(${q6("pdf")}), 0) AS BIGINT) AS pd_sum_q,
       |  CAST(coalesce(sum(${q6("g0 - (psf + pdf)")}), 0) AS BIGINT) AS pr_sum_q
       |FROM fc GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)
}
