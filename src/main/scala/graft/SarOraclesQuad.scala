package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracles for the quad-pol T3 family (rstb PolarimetricMatricesOp /
 * PolarimetricDecompositionOp / PolarimetricClassificationOp twins).
 *
 * Exactness strategy: T3 entries and their 3x3 window sums are EXACT doubles on
 * the dyadic i/q grid (products need <= 48 mantissa bits), so they compare
 * bit-for-bit regardless of association. The transcendental Cardano / eigenvector
 * / Wishart-distance stages are staged with the SAME association order and the
 * SAME inlined double constants as the compiled kernel (Kernels.hAlphaOf /
 * wishartTile), so both engines walk identical IEEE operation sequences.
 */
object SarOraclesQuad {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  // constants inlined from the kernel's Scala doubles (parse-roundtrip exact)
  private val Log3 = math.log(3.0).toString
  private val DegPerRad = (180.0 / math.Pi).toString
  private val TwoPiThird = (2.0 * math.Pi / 3.0).toString

  /** Per-pixel T3 channels of the quad fixture (optionally burst-subset).
   * With `raw = true` the snapped per-pol i/q values ride along for the alias
   * oracles that work on the scattering vector directly (Faraday, SNR, CP-sim).
   *
   * The 4 pol channels are joined at TILE level (hundreds of rows) and then
   * positionally unnested in one pass — the round-3 per-pol pixel-level join
   * fragmented the driver's single DuckDB process (see SarOracleWin). */
  private def t3Cte(maxBurst: Int, raw: Boolean = false): String = {
    val pols = Seq("hh", "hv", "vh", "vv")
    val listCols = pols.map(p => s"${p}0.i AS ${p}_i, ${p}0.q AS ${p}_q").mkString(",\n         ")
    val joins = pols.tail.map { p =>
      s"""JOIN ${fx("tiles_quad")} ${p}0 ON ${p}0.pol = '${p.toUpperCase}'
         |    AND ${p}0.scene_id = hh0.scene_id AND ${p}0.subswath = hh0.subswath
         |    AND ${p}0.burst_idx = hh0.burst_idx AND ${p}0.tile_y = hh0.tile_y
         |    AND ${p}0.tile_x = hh0.tile_x""".stripMargin
    }.mkString("\n  ")
    val unnests = pols.map(p =>
      s"floor(unnest(${p}_i) * 4096) / 4096 AS ${p}r, floor(unnest(${p}_q) * 4096) / 4096 AS ${p}i")
      .mkString(",\n         ")
    val nd = pols.flatMap(p => Seq(s"${p}r = -9999.0", s"${p}i = -9999.0")).mkString(" OR ")
    val rawCols = if (!raw) "" else ",\n    hhr, hhi, hvr, hvi, vhr, vhi, vvr, vvi"
    s"""tq AS (
       |  SELECT hh0.scene_id, hh0.subswath, hh0.burst_idx, hh0.tile_y, hh0.tile_x,
       |         $listCols
       |  FROM ${fx("tiles_quad")} hh0
       |  $joins
       |  WHERE hh0.pol = 'HH' AND hh0.burst_idx <= $maxBurst),
       |pz AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k,
       |         $unnests
       |  FROM tq),
       |t3 AS (
       |  SELECT scene_id, subswath, 'QP' AS pol, burst_idx, tile_y, tile_x,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    NOT ($nd) AS valid,
       |    ((hhr + vvr) * (hhr + vvr) + (hhi + vvi) * (hhi + vvi)) / 2 AS t11,
       |    ((hhr - vvr) * (hhr - vvr) + (hhi - vvi) * (hhi - vvi)) / 2 AS t22,
       |    ((hvr + vhr) * (hvr + vhr) + (hvi + vhi) * (hvi + vhi)) / 2 AS t33,
       |    ((hhr + vvr) * (hhr - vvr) + (hhi + vvi) * (hhi - vvi)) / 2 AS t12r,
       |    ((hhi + vvi) * (hhr - vvr) - (hhr + vvr) * (hhi - vvi)) / 2 AS t12i,
       |    ((hhr + vvr) * (hvr + vhr) + (hhi + vvi) * (hvi + vhi)) / 2 AS t13r,
       |    ((hhi + vvi) * (hvr + vhr) - (hhr + vvr) * (hvi + vhi)) / 2 AS t13i,
       |    ((hhr - vvr) * (hvr + vhr) + (hhi - vvi) * (hvi + vhi)) / 2 AS t23r,
       |    ((hhi - vvi) * (hvr + vhr) - (hhr - vvr) * (hvi + vhi)) / 2 AS t23i$rawCols
       |  FROM pz)""".stripMargin
  }

  private def q6(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1.0E6) AS BIGINT)"

  /** q_pol_t3: per-tile integer-exact sums of the 9 T3 channels. */
  val t3Sums: String =
    s"""WITH ${t3Cte(Layout.BurstsPerSubswath)}
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  count(*) FILTER (valid) AS n_valid,
       |  CAST(coalesce(sum(${q6("t11")}) FILTER (valid), 0) AS BIGINT) AS t11_q,
       |  CAST(coalesce(sum(${q6("t22")}) FILTER (valid), 0) AS BIGINT) AS t22_q,
       |  CAST(coalesce(sum(${q6("t33")}) FILTER (valid), 0) AS BIGINT) AS t33_q,
       |  CAST(coalesce(sum(${q6("t12r")}) FILTER (valid), 0) AS BIGINT) AS t12r_q,
       |  CAST(coalesce(sum(${q6("t12i")}) FILTER (valid), 0) AS BIGINT) AS t12i_q,
       |  CAST(coalesce(sum(${q6("t13r")}) FILTER (valid), 0) AS BIGINT) AS t13r_q,
       |  CAST(coalesce(sum(${q6("t13i")}) FILTER (valid), 0) AS BIGINT) AS t13i_q,
       |  CAST(coalesce(sum(${q6("t23r")}) FILTER (valid), 0) AS BIGINT) AS t23r_q,
       |  CAST(coalesce(sum(${q6("t23i")}) FILTER (valid), 0) AS BIGINT) AS t23i_q
       |FROM t3 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  private val t3SumCols: Seq[(String, String)] = Seq(
    "t11" -> "sw11", "t22" -> "sw22", "t33" -> "sw33",
    "t12r" -> "sw12r", "t12i" -> "sw12i", "t13r" -> "sw13r",
    "t13i" -> "sw13i", "t23r" -> "sw23r", "t23i" -> "sw23i")

  /** 3x3 windowed T3 sums per center pixel (separable two-pass, see SarOracleWin). */
  private val winCte: String = SarOracleWin.sepWin("t3", "win", 1, t3SumCols)

  /** Cardano eigen stages over `win` — staged exactly as Kernels.hAlphaOf. */
  private val cardanoCtes: String =
    s"""cd AS (
       |  SELECT *, sw11 + sw22 + sw33 AS tr,
       |    sw12r * sw12r + sw12i * sw12i + sw13r * sw13r + sw13i * sw13i + sw23r * sw23r + sw23i * sw23i AS p1
       |  FROM win WHERE n > 0),
       |c1 AS (SELECT *, tr / 3.0 AS q3 FROM cd WHERE tr > 0),
       |c2 AS (SELECT *, CASE WHEN p1 = 0 THEN NULL
       |         ELSE sqrt(((sw11 - q3) * (sw11 - q3) + (sw22 - q3) * (sw22 - q3) + (sw33 - q3) * (sw33 - q3) + 2.0 * p1) / 6.0) END AS pp
       |       FROM c1),
       |c3 AS (SELECT *,
       |    (sw11 - q3) / pp AS b11, (sw22 - q3) / pp AS b22, (sw33 - q3) / pp AS b33,
       |    sw12r / pp AS e12r, sw12i / pp AS e12i, sw13r / pp AS e13r, sw13i / pp AS e13i,
       |    sw23r / pp AS e23r, sw23i / pp AS e23i
       |  FROM c2),
       |c4 AS (SELECT *,
       |    b11 * b22 * b33 - b11 * (e23r * e23r + e23i * e23i) - b22 * (e13r * e13r + e13i * e13i) - b33 * (e12r * e12r + e12i * e12i) + 2.0 * ((e12r * e23r - e12i * e23i) * e13r + (e12r * e23i + e12i * e23r) * e13i) AS detb
       |  FROM c3),
       |c5 AS (SELECT *, acos(greatest(-1.0, least(1.0, detb / 2.0))) / 3.0 AS phi FROM c4),
       |lam AS (SELECT *,
       |    CASE WHEN p1 = 0 THEN greatest(sw11, greatest(sw22, sw33)) ELSE q3 + 2.0 * pp * cos(phi) END AS l1,
       |    CASE WHEN p1 = 0 THEN least(sw11, least(sw22, sw33)) ELSE q3 + 2.0 * pp * cos(phi + $TwoPiThird) END AS l3
       |  FROM c5),
       |lam2 AS (SELECT *, tr - l1 - l3 AS l2 FROM lam)""".stripMargin

  /** probability term pk for a lambda expression (clamped at 0 like the kernel). */
  private def pk(l: String) = s"greatest(($l) / tr, 0.0)"

  private def entTerm(l: String) =
    s"CASE WHEN ${pk(l)} > 0 THEN ${pk(l)} * (ln(${pk(l)}) / $Log3) ELSE 0 END"

  /** eigenvector alpha for one lambda (complex cross of two rows of T - l I). */
  private def alphaK(l: String): String = {
    val v1r = s"(sw12r * sw23r - sw12i * sw23i - sw13r * (sw22 - ($l)))"
    val v1i = s"(sw12r * sw23i + sw12i * sw23r - sw13i * (sw22 - ($l)))"
    val v2r = s"(sw13r * sw12r + sw13i * sw12i - (sw11 - ($l)) * sw23r)"
    val v2i = s"(sw13i * sw12r - sw13r * sw12i - (sw11 - ($l)) * sw23i)"
    val v3r = s"((sw11 - ($l)) * (sw22 - ($l)) - (sw12r * sw12r + sw12i * sw12i))"
    val norm2 = s"($v1r * $v1r + $v1i * $v1i + $v2r * $v2r + $v2i * $v2i + $v3r * $v3r)"
    s"""CASE WHEN $norm2 <= 0 THEN 0.0
       |     ELSE acos(least(1.0, sqrt(($v1r * $v1r + $v1i * $v1i) / $norm2))) * $DegPerRad END""".stripMargin
  }

  private def alphaDiagK(l: String) = s"CASE WHEN ($l) = sw11 THEN 0.0 ELSE 90.0 END"

  /** per-pixel H, A, alpha columns over lam2. */
  private val haaCte: String =
    s"""haa AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy, n,
       |    sw11, sw22, sw33, sw12r, sw12i, sw13r, sw13i, sw23r, sw23i, tr, p1, l1, l2, l3,
       |    0 - (${entTerm("l1")}) - (${entTerm("l2")}) - (${entTerm("l3")}) AS hent,
       |    CASE WHEN l2 + l3 > 0 THEN (l2 - l3) / (l2 + l3) ELSE 0.0 END AS anis,
       |    CASE WHEN p1 = 0
       |         THEN ${pk("l1")} * (${alphaDiagK("l1")}) + ${pk("l2")} * (${alphaDiagK("l2")}) + ${pk("l3")} * (${alphaDiagK("l3")})
       |         ELSE ${pk("l1")} * (${alphaK("l1")}) + ${pk("l2")} * (${alphaK("l2")}) + ${pk("l3")} * (${alphaK("l3")}) END AS alpha
       |  FROM lam2)""".stripMargin

  /** q_halpha_quad: per-tile quantized sums of H, A, alpha. */
  val hAlpha: String =
    s"""WITH ${t3Cte(Layout.BurstsPerSubswath)},
       |$winCte,
       |$cardanoCtes,
       |$haaCte
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  count(*) AS n_valid,
       |  CAST(coalesce(sum(${q6("hent")}), 0) AS BIGINT) AS h_sum_q,
       |  CAST(coalesce(sum(${q6("anis")}), 0) AS BIGINT) AS a_sum_q,
       |  CAST(coalesce(sum(${q6("alpha")}), 0) AS BIGINT) AS alpha_sum_q
       |FROM haa GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  // ------------------------------------------------------------------ Wishart

  private def qw(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1000.0) AS BIGINT)"

  /** q_wishart (1 reassignment round on the bursts<=2 subset): H-alpha zone seed,
   * integer cluster-center sums, revised-Wishart argmin, per-tile class counts. */
  val wishart: String =
    s"""WITH ${t3Cte(ops.PolarimetryQuad.WishartMaxBurst)},
       |$winCte,
       |$cardanoCtes,
       |$haaCte,
       |zs AS (
       |  SELECT *,
       |    (CASE WHEN hent < 0.5 THEN 0 WHEN hent < 0.9 THEN 1 ELSE 2 END) * 3 +
       |    (CASE WHEN alpha >= 47.5 THEN 0 WHEN alpha >= 42.5 THEN 1 ELSE 2 END) AS zone
       |  FROM haa),
       |ctr AS (
       |  SELECT zone, count(*) AS cnt,
       |    CAST(sum(${qw("sw11")}) AS BIGINT) AS s11, CAST(sum(${qw("sw22")}) AS BIGINT) AS s22,
       |    CAST(sum(${qw("sw33")}) AS BIGINT) AS s33,
       |    CAST(sum(${qw("sw12r")}) AS BIGINT) AS s12r, CAST(sum(${qw("sw12i")}) AS BIGINT) AS s12i,
       |    CAST(sum(${qw("sw13r")}) AS BIGINT) AS s13r, CAST(sum(${qw("sw13i")}) AS BIGINT) AS s13i,
       |    CAST(sum(${qw("sw23r")}) AS BIGINT) AS s23r, CAST(sum(${qw("sw23i")}) AS BIGINT) AS s23i
       |  FROM zs GROUP BY 1),
       |cz AS (
       |  SELECT zone, cnt,
       |    (s11 / 1000.0) / cnt AS ca, (s22 / 1000.0) / cnt AS cb, (s33 / 1000.0) / cnt AS cc,
       |    (s12r / 1000.0) / cnt AS c12r, (s12i / 1000.0) / cnt AS c12i,
       |    (s13r / 1000.0) / cnt AS c13r, (s13i / 1000.0) / cnt AS c13i,
       |    (s23r / 1000.0) / cnt AS c23r, (s23i / 1000.0) / cnt AS c23i
       |  FROM ctr WHERE cnt > 0),
       |czd AS (
       |  SELECT *,
       |    ca * cb * cc - ca * (c23r * c23r + c23i * c23i) - cb * (c13r * c13r + c13i * c13i) - cc * (c12r * c12r + c12i * c12i) + 2.0 * ((c12r * c23r - c12i * c23i) * c13r + (c12r * c23i + c12i * c23r) * c13i) AS det
       |  FROM cz),
       |czi AS (
       |  SELECT zone, ln(det) AS lndet,
       |    (cb * cc - (c23r * c23r + c23i * c23i)) / det AS i11,
       |    (ca * cc - (c13r * c13r + c13i * c13i)) / det AS i22,
       |    (ca * cb - (c12r * c12r + c12i * c12i)) / det AS i33,
       |    (c13r * c23r + c13i * c23i - c12r * cc) / det AS i12r,
       |    (c13i * c23r - c13r * c23i - c12i * cc) / det AS i12i,
       |    (c12r * c23r - c12i * c23i - c13r * cb) / det AS i13r,
       |    (c12r * c23i + c12i * c23r - c13i * cb) / det AS i13i,
       |    (c13r * c12r + c13i * c12i - ca * c23r) / det AS i23r,
       |    (c13i * c12r - c13r * c12i - ca * c23i) / det AS i23i
       |  FROM czd WHERE det > 0),
       |dist AS (
       |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x, p.gx, p.gy,
       |    z.zone,
       |    z.lndet + (z.i11 * (p.sw11 / p.n) + z.i22 * (p.sw22 / p.n) + z.i33 * (p.sw33 / p.n) +
       |      2.0 * (z.i12r * (p.sw12r / p.n) + z.i12i * (p.sw12i / p.n) + z.i13r * (p.sw13r / p.n) + z.i13i * (p.sw13i / p.n) + z.i23r * (p.sw23r / p.n) + z.i23i * (p.sw23i / p.n))) AS dd
       |  FROM haa p CROSS JOIN czi z),
       |asgn AS (
       |  SELECT *, row_number() OVER (PARTITION BY scene_id, subswath, burst_idx, gx, gy ORDER BY dd, zone) AS rn
       |  FROM dist)
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, zone,
       |       CAST(count(*) AS BIGINT) AS n_px
       |FROM asgn WHERE rn = 1
       |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  /** q_wishart_supervised: centers trained on the burst<=1 H-alpha zone seed only,
   * then one fixed-center classification pass over bursts<=WishartMaxBurst
   * (SupervisedWishartClassificationOp train-then-classify split). */
  val supervisedWishart: String = {
    val trainCtr = "FROM zs WHERE burst_idx <= 1 GROUP BY 1"
    wishart.replace("FROM zs GROUP BY 1", trainCtr)
  }

  // ------------------------------------------------ scalar quad alias oracles

  private val keys = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
  private val Pi = math.Pi.toString
  private val Pi4 = (math.Pi / 4.0).toString
  private val Pi2 = (math.Pi / 2.0).toString
  private val SB = ops.PolarimetryQuad.ScalarMaxBurst

  private def sumQ6(e: String, as: String) =
    s"CAST(coalesce(sum(${q6(e)}), 0) AS BIGINT) AS $as"

  /** q_pol_orientation: theta = (atan2(2 sw23r, sw33 - sw22) + pi)/4 wrapped to
   * (-pi/4, pi/4], on the exact 3x3 window sums (scale-invariant). */
  val orientation: String =
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |th AS (SELECT *, 0.25 * (atan2(2.0 * sw23r, sw33 - sw22) + $Pi) AS th0
       |       FROM win WHERE n > 0),
       |thw AS (SELECT *, CASE WHEN th0 > $Pi4 THEN th0 - $Pi2 ELSE th0 END AS theta FROM th)
       |SELECT $keys, count(*) AS n_valid, ${sumQ6("theta", "theta_sum_q")}
       |FROM thw GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_faraday: omega = -atan2(Im, Re)/4 of the windowed circular cross
   * product Z_rl Z_lr^* (per-pixel products are dyadic-exact). */
  val faraday: String =
    s"""WITH ${t3Cte(SB, raw = true)},
       |fz AS (SELECT *,
       |    (hvr - vhr - hhi - vvi) AS zr01, (hvi - vhi + hhr + vvr) AS zi01,
       |    (vhr - hvr - hhi - vvi) AS zr10, (vhi - hvi + hhr + vvr) AS zi10
       |  FROM t3),
       |fzp AS (SELECT *, zr01 * zr10 + zi01 * zi10 AS zpr, zi01 * zr10 - zr01 * zi10 AS zpi FROM fz),
       |${SarOracleWin.sepWin("fzp", "fw", 1, Seq("zpr" -> "zr", "zpi" -> "zi"))},
       |fo AS (SELECT *, 0.0 - 0.25 * atan2(zi, zr) AS omega FROM fw WHERE n > 0)
       |SELECT $keys, count(*) AS n_valid, ${sumQ6("omega", "omega_sum_q")}
       |FROM fo GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_freeman: generalized Freeman-Durden pv/pd/ps on the windowed T3 means. */
  val freeman: String =
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |fm AS (SELECT *, sw11 / n AS t11m, sw22 / n AS t22m, sw33 / n AS t33m,
       |         sw12r / n AS t12rm, sw12i / n AS t12im
       |       FROM win WHERE n > 0),
       |fd AS (SELECT *, t11m + t22m - 3.0 * t33m AS tmp1,
       |    sqrt((t11m - t22m - t33m) * (t11m - t22m - t33m) + 4.0 * (t12rm * t12rm + t12im * t12im)) AS tmp3
       |  FROM fm)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("4.0 * t33m", "pv_sum_q")},
       |  ${sumQ6("0.5 * (tmp1 - tmp3)", "pd_sum_q")},
       |  ${sumQ6("0.5 * (tmp1 + tmp3)", "ps_sum_q")}
       |FROM fd GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_krogager: sphere/diplane/helix from the windowed-T3 Huynen parameters
   * (Krogager.java:181-198), max(0) rounding guard mirrored from the kernel. */
  val krogager: String =
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |k1 AS (SELECT *, 0.5 * (sw11 / n) AS a0, 0.5 * (sw22 / n + sw33 / n) AS b0,
       |         abs(sw23i / n) AS f
       |       FROM win WHERE n > 0),
       |k2 AS (SELECT *, greatest(b0 - f, 0.0) AS dm FROM k1),
       |k3 AS (SELECT *, sqrt(a0) AS ks, sqrt(dm) AS kd, sqrt(b0 + f) - sqrt(dm) AS kh FROM k2)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("ks", "ks_sum_q")},
       |  ${sumQ6("kd", "kd_sum_q")},
       |  ${sumQ6("kh", "kh_sum_q")}
       |FROM k3 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_touzi: Touzi dominant-eigenvector psi / tau / alpha
   * (Touzi.java:215-280) — Cardano l1 over the window sums, eigenvector by the
   * same complex row-cross as alphaK, unit-normalized, phase-aligned on the
   * first component (EPS = SNAP Constants.EPS = 1e-15), psi rotation, then the
   * |psi| > pi/4 tau sign fold. Staged exactly as Kernels QS_TOUZI. */
  val touzi: String = {
    val HalfPi = (math.Pi / 2.0).toString
    val QuarterPi = (math.Pi / 4.0).toString
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |$cardanoCtes,
       |tz1 AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |    sw12r * sw23r - sw12i * sw23i - sw13r * (sw22 - l1) AS v1r,
       |    sw12r * sw23i + sw12i * sw23r - sw13i * (sw22 - l1) AS v1i,
       |    sw13r * sw12r + sw13i * sw12i - (sw11 - l1) * sw23r AS v2r,
       |    sw13i * sw12r - sw13r * sw12i - (sw11 - l1) * sw23i AS v2i,
       |    (sw11 - l1) * (sw22 - l1) - (sw12r * sw12r + sw12i * sw12i) AS v3r
       |  FROM lam2 WHERE p1 <> 0),
       |tz2 AS (SELECT *, v1r * v1r + v1i * v1i + v2r * v2r + v2i * v2i + v3r * v3r AS norm2
       |  FROM tz1),
       |tz3 AS (SELECT *, 1.0 / sqrt(norm2) AS inv FROM tz2 WHERE norm2 > 0),
       |tz4 AS (SELECT *, v1r * inv AS u1r, v1i * inv AS u1i, v2r * inv AS u2r,
       |         v2i * inv AS u2i, v3r * inv AS u3r, 0.0 AS u3i
       |       FROM tz3),
       |tz5 AS (SELECT *, atan2(u1i, u1r + 1.0E-15) AS ph FROM tz4),
       |tz6 AS (SELECT *, cos(ph) AS cp, sin(ph) AS sp FROM tz5),
       |tz7 AS (SELECT *,
       |    u1r * cp + u1i * sp AS w1r,
       |    u2r * cp + u2i * sp AS w2r, u2i * cp - u2r * sp AS w2i,
       |    u3r * cp + u3i * sp AS w3r, u3i * cp - u3r * sp AS w3i
       |  FROM tz6),
       |tz8 AS (SELECT *, 0.5 * atan2(w3r, w2r + 1.0E-15) AS psi FROM tz7),
       |tz9 AS (SELECT *, cos(2.0 * psi) AS c2p, sin(2.0 * psi) AS s2p FROM tz8),
       |tza AS (SELECT *,
       |    w2r * c2p + w3r * s2p AS x2r, w2i * c2p + w3i * s2p AS x2i,
       |    0.0 - w2i * s2p + w3i * c2p AS x3i
       |  FROM tz9),
       |tzb AS (SELECT *,
       |    0.5 * atan2(0.0 - x3i, w1r + 1.0E-15) AS tau0,
       |    x2r * x2r + x2i * x2i AS num, w1r * w1r + x3i * x3i AS den
       |  FROM tza),
       |tzc AS (SELECT *,
       |    CASE WHEN den > 0 THEN atan(sqrt(num / den))
       |         WHEN num > 0 THEN $HalfPi ELSE 0.0 END AS alpha,
       |    CASE WHEN psi < 0 - $QuarterPi OR psi > $QuarterPi THEN 0.0 - tau0 ELSE tau0 END AS tau
       |  FROM tzb)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("psi", "psi_sum_q")},
       |  ${sumQ6("tau", "tau_sum_q")},
       |  ${sumQ6("alpha", "alpha_sum_q")}
       |FROM tzc GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_pol_cloude: dominant-component coherency diagonal in dB
   * (Cloude.java:120-145) — l1 of the window MEAN T3 times the unit-dominant-
   * eigenvector component magnitudes, 10 log10 with the reference's EPS floor.
   * Staged exactly as Kernels QS_CLOUDE (same v1..v3 row-cross as touzi). */
  val cloude: String =
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |$cardanoCtes,
       |cl1 AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy, n, l1,
       |    sw12r * sw23r - sw12i * sw23i - sw13r * (sw22 - l1) AS v1r,
       |    sw12r * sw23i + sw12i * sw23r - sw13i * (sw22 - l1) AS v1i,
       |    sw13r * sw12r + sw13i * sw12i - (sw11 - l1) * sw23r AS v2r,
       |    sw13i * sw12r - sw13r * sw12i - (sw11 - l1) * sw23i AS v2i,
       |    (sw11 - l1) * (sw22 - l1) - (sw12r * sw12r + sw12i * sw12i) AS v3r
       |  FROM lam2 WHERE p1 <> 0),
       |cl2 AS (SELECT *, v1r * v1r + v1i * v1i + v2r * v2r + v2i * v2i + v3r * v3r AS norm2
       |  FROM cl1),
       |cl3 AS (SELECT *, l1 / n AS l1m, 1.0 / norm2 AS inv2 FROM cl2 WHERE norm2 > 0),
       |cl4 AS (SELECT *,
       |    10.0 * log10(greatest(l1m * ((v1r * v1r + v1i * v1i) * inv2), 1.0E-15)) AS t11_db,
       |    10.0 * log10(greatest(l1m * ((v2r * v2r + v2i * v2i) * inv2), 1.0E-15)) AS t22_db,
       |    10.0 * log10(greatest(l1m * ((v3r * v3r) * inv2), 1.0E-15)) AS t33_db
       |  FROM cl3)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("t11_db", "t11_db_sum_q")},
       |  ${sumQ6("t22_db", "t22_db_sum_q")},
       |  ${sumQ6("t33_db", "t33_db_sum_q")}
       |FROM cl4 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** Windowed T3 means + lexicographic C3 extras (c00 = |HH|^2, cvv = |VV|^2,
   * c13 = HH VV*) shared by the model-based decomposition oracles. */
  private val c3WinCtes: String =
    s"""e3 AS (SELECT *, hhr * hhr + hhi * hhi AS c00px, vvr * vvr + vvi * vvi AS cvvpx,
       |         hhr * vvr + hhi * vvi AS c13rpx, hhi * vvr - hhr * vvi AS c13ipx
       |       FROM t3),
       |${SarOracleWin.sepWin("e3", "w3", 1, Seq(
              "t11" -> "sw11", "t22" -> "sw22", "t33" -> "sw33",
              "t12r" -> "sw12r", "t12i" -> "sw12i", "t23i" -> "sw23i",
              "c00px" -> "sc00", "cvvpx" -> "scvv",
              "c13rpx" -> "sc13r", "c13ipx" -> "sc13i"))},
       |m3 AS (SELECT *, sw11 / n AS t11m, sw22 / n AS t22m, sw33 / n AS t33m,
       |         sw12r / n AS t12rm, sw12i / n AS t12im, sw23i / n AS t23im,
       |         sc00 / n AS c00m, scvv / n AS cvvm,
       |         sc13r / n AS c13rm, sc13i / n AS c13im
       |       FROM w3 WHERE n > 0)""".stripMargin

  /** q_pol_yamaguchi: Yamaguchi 4-component pv/ps/pc with the helix term, the
   * 3-branch volume-model ratio selection, the Freeman-Durden fallback and the
   * negative-power clips — staged EXACTLY as Kernels.quadScalar QS_YAMAGUCHI
   * (guarded divisions; no IEEE infinities on either engine). */
  val yamaguchi: String = {
    val d = (x: Double) => s"CAST($x AS DOUBLE)"
    s"""WITH ${t3Cte(SB, raw = true)},
       |$c3WinCtes,
       |y0 AS (SELECT *, t11m + t22m + t33m AS span, 2.0 * abs(t23im) AS pc0,
       |    CASE WHEN cvvm > 0 AND c00m > 0 THEN
       |           CASE WHEN 10.0 * log10(cvvm / c00m) <= -2.0 THEN 0
       |                WHEN 10.0 * log10(cvvm / c00m) > 2.0 THEN 2 ELSE 1 END
       |         WHEN cvvm <= 0 AND c00m > 0 THEN 0
       |         WHEN c00m <= 0 AND cvvm > 0 THEN 2
       |         ELSE 1 END AS branch
       |  FROM m3),
       |y1 AS (SELECT *,
       |    CASE WHEN branch = 0 THEN ${d(1.0 / 6.0)} WHEN branch = 2 THEN ${d(-1.0 / 6.0)} ELSE 0.0 END AS k1,
       |    CASE WHEN branch = 1 THEN ${d(1.0 / 4.0)} ELSE ${d(7.0 / 30.0)} END AS k2,
       |    CASE WHEN branch = 1 THEN ${d(1.0 / 4.0)} ELSE ${d(4.0 / 15.0)} END AS k3
       |  FROM y0),
       |y2 AS (SELECT *, (t33m - 0.5 * pc0) / k3 AS pv0 FROM y1),
       |-- Freeman-Durden fallback staging (selected when pv0 <= 0)
       |f1 AS (SELECT *, 4.0 * t33m AS ffv FROM y2),
       |f2 AS (SELECT *, c00m - ffv * 3.0 / 8.0 AS fc11, c13rm - ffv / 8.0 AS fc13r0,
       |         c13im AS fc13i0, cvvm - ffv * 3.0 / 8.0 AS fc33
       |       FROM f1),
       |f3 AS (SELECT *, fc11 * fc33 AS a1, fc13r0 * fc13r0 + fc13i0 * fc13i0 AS a2,
       |         NOT (fc11 > 1.0E-15 AND fc33 > 1.0E-15) AS degen
       |       FROM f2),
       |f4 AS (SELECT *,
       |    CASE WHEN NOT degen AND a1 < a2 THEN sqrt(a1) * fc13r0 / sqrt(a2) ELSE fc13r0 END AS fc13r,
       |    CASE WHEN NOT degen AND a1 < a2 THEN sqrt(a1) * fc13i0 / sqrt(a2) ELSE fc13i0 END AS fc13i
       |  FROM f3),
       |f5 AS (SELECT *,
       |    abs((a1 - fc13r * fc13r - fc13i * fc13i) / (fc11 + fc33 - 2.0 * fc13r)) AS fA,
       |    abs((a1 - fc13r * fc13r - fc13i * fc13i) / (fc11 + fc33 + 2.0 * fc13r)) AS fB
       |  FROM f4),
       |f6 AS (SELECT *,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN fA ELSE abs(fc33 - fB) END AS fs,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN abs(fc33 - fA) ELSE fB END AS fd
       |  FROM f5),
       |f7 AS (SELECT *,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN
       |           CASE WHEN fd > 0 THEN (fc13r - fs) / fd ELSE 0.0 END
       |         ELSE -1.0 END AS far,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN
       |           CASE WHEN fd > 0 THEN fc13i / fd ELSE 0.0 END
       |         ELSE 0.0 END AS fai,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN 1.0
       |         ELSE CASE WHEN fs > 0 THEN (fc13r + fd) / fs ELSE 0.0 END END AS fbr,
       |    CASE WHEN degen THEN 0.0 WHEN fc13r < 0 THEN 0.0
       |         ELSE CASE WHEN fs > 0 THEN fc13i / fs ELSE 0.0 END END AS fbi
       |  FROM f6),
       |-- Yamaguchi main-branch staging (selected when pv0 > 0)
       |g1 AS (SELECT *, t11m - 0.5 * pv0 AS sY, t22m - k2 * pv0 - 0.5 * pc0 AS dY,
       |         t12rm - k1 * pv0 AS cR, t12im AS cI,
       |         pv0 + pc0 < span AS inspan,
       |         c13rm - 0.5 * t33m + 0.5 * pc0 AS c0
       |       FROM f7),
       |g2 AS (SELECT *, cR * cR + cI * cI AS num FROM g1),
       |g3 AS (SELECT *,
       |    CASE WHEN c0 < 0 AND dY <> 0 THEN sY - num / dY
       |         WHEN c0 >= 0 AND sY <> 0 THEN sY + num / sY
       |         ELSE -1.0 END AS psraw,
       |    CASE WHEN c0 < 0 AND dY <> 0 THEN dY + num / dY
       |         WHEN c0 >= 0 AND sY <> 0 THEN dY - num / sY
       |         ELSE -1.0 END AS pdraw
       |  FROM g2),
       |g4 AS (SELECT *,
       |    CASE WHEN NOT inspan THEN span - pc0
       |         WHEN psraw < 0 AND pdraw < 0 THEN span - pc0
       |         ELSE pv0 END AS pvy,
       |    CASE WHEN NOT inspan THEN 0.0
       |         WHEN psraw > 0 AND pdraw < 0 THEN span - pv0 - pc0
       |         WHEN psraw < 0 THEN 0.0
       |         ELSE psraw END AS psy
       |  FROM g3),
       |fin AS (SELECT *,
       |    CASE WHEN pv0 <= 0 THEN ffv ELSE pvy END AS pv,
       |    CASE WHEN pv0 <= 0 THEN fs * (1.0 + fbr * fbr + fbi * fbi) ELSE psy END AS ps,
       |    CASE WHEN pv0 <= 0 THEN 0.0 ELSE pc0 END AS pc
       |  FROM g4)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("pv", "pv_sum_q")},
       |  ${sumQ6("ps", "ps_sum_q")},
       |  ${sumQ6("pc", "pc_sum_q")}
       |FROM fin GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_pol_vanzyl: van Zyl eigen 3-component on the windowed C3 means
   * (vanZyl.java:185-227; C22 = t33 by the Pauli identity). */
  val vanZyl: String =
    s"""WITH ${t3Cte(SB, raw = true)},
       |$c3WinCtes,
       |v1 AS (SELECT *, c13rm / c00m AS rhore, c13im / c00m AS rhoim,
       |         t33m / c00m AS eta, cvvm / c00m AS zeta
       |       FROM m3 WHERE c00m > 0),
       |v2 AS (SELECT *, (zeta - 1.0) * (zeta - 1.0) + 4.0 * (rhore * rhore + rhoim * rhoim) AS delta
       |       FROM v1),
       |v3 AS (SELECT *, 0.5 * c00m * (zeta + 1.0 + sqrt(delta)) AS l1,
       |         0.5 * c00m * (zeta + 1.0 - sqrt(delta)) AS l2,
       |         c00m * eta AS l3
       |       FROM v2)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("l3", "pv_sum_q")},
       |  ${sumQ6("CASE WHEN l1 > l2 THEN l2 ELSE l1 END", "pd_sum_q")},
       |  ${sumQ6("CASE WHEN l1 > l2 THEN l1 ELSE l2 END", "ps_sum_q")}
       |FROM v3 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_params: span, pedestal height l3/l1, RVI 4 l3/(l1+l2+l3) from the
   * windowed-T3 eigenvalues (Cardano staged exactly as the kernel/hAlpha). */
  val polParams: String =
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |$cardanoCtes
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("2.0 * tr / n", "span_sum_q")},
       |  ${sumQ6("l3 / l1", "pedestal_sum_q")},
       |  ${sumQ6("4.0 * l3 / (l1 + l2 + l3)", "rvi_sum_q")}
       |FROM lam2 WHERE l1 > 0 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_pol_calibration: Quegan 1-iteration channel-imbalance + crosstalk solve
   * over the exact global covariance, Kronecker D^-1 apply per pixel (staging
   * mirrors Kernels.polCalCovTile / polCalApplyTile and
   * ops.PolarimetryQuad.PolCalStages verbatim). */
  val polCalibration: String = {
    // per-scene exact covariance sums of k = (HH, HV, VH, VV)
    val pairs = Seq( // (name, (ar, ai, br, bi)) for C_ab = sum a * conj(b)
      ("c01", ("hhr", "hhi", "hvr", "hvi")),
      ("c02", ("hhr", "hhi", "vhr", "vhi")),
      ("c03", ("hhr", "hhi", "vvr", "vvi")),
      ("c13", ("hvr", "hvi", "vvr", "vvi")),
      ("c23", ("vhr", "vhi", "vvr", "vvi")))
    val covCols = Seq(
      "coalesce(sum(hhr * hhr + hhi * hhi) FILTER (valid), 0) AS c00",
      "coalesce(sum(vvr * vvr + vvi * vvi) FILTER (valid), 0) AS c33") ++
      pairs.flatMap { case (nm, (ar, ai, br, bi)) => Seq(
        s"coalesce(sum($ar * $br + $ai * $bi) FILTER (valid), 0) AS ${nm}r",
        s"coalesce(sum($ai * $br - $ar * $bi) FILTER (valid), 0) AS ${nm}i")
      }
    val stageCtes = ops.PolarimetryQuad.PolCalStages.zipWithIndex.map {
      case ((name, sql), i) => s"s$i AS (SELECT *, $sql AS $name FROM ${if (i == 0) "cov" else s"s${i - 1}"})"
    }.mkString(",\n")
    val lastStage = s"s${ops.PolarimetryQuad.PolCalStages.size - 1}"
    // Kronecker inverse staged as Kernels.polCalApplyTile
    val dinvCte =
      """dv0 AS (SELECT *,
        |    1.0 - (d2r * d1r - d2i * d1i) AS dettr, 0.0 - (d2r * d1i + d2i * d1r) AS detti,
        |    1.0 - (d4r * d3r - d4i * d3i) AS detrr, 0.0 - (d4r * d3i + d4i * d3r) AS detri
        |  FROM LAST),
        |dv1 AS (SELECT *, dettr * dettr + detti * detti AS mt, detrr * detrr + detri * detri AS mr2 FROM dv0),
        |dv2 AS (SELECT *, dettr / mt AS idtr, 0.0 - detti / mt AS idti,
        |    detrr / mr2 AS idrr, 0.0 - detri / mr2 AS idri FROM dv1),
        |dv3 AS (SELECT *,
        |    idrr AS r00r, idri AS r00i,
        |    idrr * (0.0 - d4r) - idri * (0.0 - d4i) AS r01r, idrr * (0.0 - d4i) + idri * (0.0 - d4r) AS r01i,
        |    idrr * (0.0 - d3r) - idri * (0.0 - d3i) AS r10r, idrr * (0.0 - d3i) + idri * (0.0 - d3r) AS r10i,
        |    idrr AS r11r, idri AS r11i,
        |    idtr AS t00r, idti AS t00i,
        |    idtr * (0.0 - d2r) - idti * (0.0 - d2i) AS t01r, idtr * (0.0 - d2i) + idti * (0.0 - d2r) AS t01i,
        |    idtr * (0.0 - d1r) - idti * (0.0 - d1i) AS t10r, idtr * (0.0 - d1i) + idti * (0.0 - d1r) AS t10i,
        |    idtr AS t11r, idti AS t11i
        |  FROM dv2)""".stripMargin.replace("LAST", lastStage)
    val dinvCols = (for (i <- 0 to 1; j <- 0 to 1; k <- 0 to 1; l <- 0 to 1) yield {
      val (row, colI) = (i * 2 + k, j * 2 + l)
      Seq(s"r$i${j}r * t$k${l}r - r$i${j}i * t$k${l}i AS dv$row${colI}r",
        s"r$i${j}r * t$k${l}i + r$i${j}i * t$k${l}r AS dv$row${colI}i")
    }).flatten.mkString(",\n    ")
    val chans = Seq(("hhr", "hhi"), ("hvr", "hvi"), ("vhr", "vhi"), ("vvr", "vvi"))
    val outSums = chans.zipWithIndex.flatMap { case ((_, _), oi) =>
      val rs = (0 to 3).map(j => s"(dv$oi${j}r * ${chans(j)._1} - dv$oi${j}i * ${chans(j)._2})").mkString(" + ")
      val is = (0 to 3).map(j => s"(dv$oi${j}r * ${chans(j)._2} + dv$oi${j}i * ${chans(j)._1})").mkString(" + ")
      val (nr, ni) = (s"${Seq("hh", "hv", "vh", "vv")(oi)}r_sum_q", s"${Seq("hh", "hv", "vh", "vv")(oi)}i_sum_q")
      Seq(s"CAST(coalesce(sum(${q6(rs)}) FILTER (valid), 0) AS BIGINT) AS $nr",
        s"CAST(coalesce(sum(${q6(is)}) FILTER (valid), 0) AS BIGINT) AS $ni")
    }.mkString(",\n  ")
    s"""WITH ${t3Cte(Layout.BurstsPerSubswath, raw = true)},
       |cov AS (
       |  SELECT scene_id, subswath,
       |    ${covCols.mkString(",\n    ")}
       |  FROM t3 GROUP BY 1, 2),
       |$stageCtes,
       |$dinvCte,
       |dinv AS (SELECT *,
       |    $dinvCols
       |  FROM dv3)
       |SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |  count(*) FILTER (valid) AS n_valid,
       |  $outSums
       |FROM t3 p JOIN dinv d ON d.scene_id = p.scene_id AND d.subswath = p.subswath
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_grvi: geodesic-distance GRVI over the windowed-T3 Kennaugh matrix
   * (Hermitian-reduced K entries, Frobenius inner-product traces, staged exactly
   * as Kernels.quadScalar QS_GRVI; acos args clamped in both engines). */
  val grvi: String = {
    def gdSql(num: String, den: String) =
      s"2.0 * acos(greatest(-1.0, least(1.0, ($num) / ($den)))) * 180.0 / $Pi / 180.0"
    s"""WITH ${t3Cte(SB)},
       |$winCte,
       |gm AS (SELECT *, sw11 / n AS t11, sw22 / n AS t22, sw33 / n AS t33,
       |         sw12r / n AS t12r, sw12i / n AS t12i, sw13r / n AS t13r, sw13i / n AS t13i,
       |         sw23r / n AS t23r, sw23i / n AS t23i
       |       FROM win WHERE n > 0),
       |kt AS (SELECT *,
       |    0.5 * (t11 + t22 + t33) AS k00, t12r AS k01, t13r AS k02, t23i AS k03,
       |    0.5 * (t11 + t22 - t33) AS k11, t23r AS k12, 0.5 * (t23i + t13i) AS k13,
       |    0.5 * (t11 - t22 + t33) AS k22, 0.0 - t12i AS k23,
       |    0.5 * (0.0 - t11 + t22 + t33) AS k33,
       |    0.5 * (t11 + t12r + t12r + t22) AS c11g,
       |    0.5 * (t11 - t12r - t12r + t22) AS c33g
       |  FROM gm),
       |kd AS (SELECT *,
       |    sqrt(abs(k00 * k00 + k11 * k11 + k22 * k22 + k33 * k33 +
       |      2.0 * (k01 * k01 + k02 * k02 + k03 * k03 + k12 * k12 + k13 * k13 + k23 * k23))) AS den1
       |  FROM kt),
       |kg AS (SELECT *, c11g / c33g AS gamma FROM kd
       |       WHERE den1 > 0.0 AND c33g <> 0.0 AND c11g / c33g >= 0.0),
       |kv0 AS (SELECT *, sqrt(gamma) AS sg,
       |         1.0 / ((3.0 / 2.0) * (1.0 + gamma) - 0.5 * sqrt(gamma)) AS r
       |       FROM kg),
       |kv1 AS (SELECT *, r * (0.5 * (1.0 + gamma) + (1.0 / 3.0) * sg) AS av,
       |         r * (0.5 * (gamma - 1.0)) AS bv,
       |         r * (0.5 * (1.0 + gamma) - (1.0 / 3.0) * sg) AS cv
       |       FROM kv0),
       |kv AS (SELECT *, 0.5 * (av + cv + cv) AS rv00, 0.5 * (av + cv - cv) AS rv11,
       |         0.5 * (av - cv + cv) AS rv22, 0.5 * (0.0 - av + cv + cv) AS rv33
       |       FROM kv1),
       |gg0 AS (SELECT *,
       |    sqrt(abs(rv00 * rv00 + 2.0 * (bv * bv) + rv11 * rv11 + rv22 * rv22 + rv33 * rv33)) AS den2
       |  FROM kv),
       |gg AS (SELECT *,
       |    ${gdSql("k00 * rv00 + 2.0 * (k01 * bv) + k11 * rv11 + k22 * rv22 + k33 * rv33", "den1 * den2")} AS gd_rv,
       |    ${gdSql("k00 + k11 - k22 + k33", "den1 * 2.0")} AS gd_d,
       |    ${gdSql("0.625 * k00 + 2.0 * (0.375 * k01) + 0.625 * k11 + -0.5 * k22 + 0.5 * k33", "den1 * 1.25")} AS gd_nd,
       |    ${gdSql("k00 + k11 + k22 - k33", "den1 * 2.0")} AS gd_t,
       |    ${gdSql("0.625 * k00 + 2.0 * (0.375 * k01) + 0.625 * k11 + 0.5 * k22 + -0.5 * k33", "den1 * 1.25")} AS gd_c
       |  FROM gg0),
       |gr0 AS (SELECT *, greatest(greatest(greatest(gd_t, gd_c), gd_nd), gd_d) AS ga,
       |         least(least(least(gd_t, gd_c), gd_nd), gd_d) AS gb
       |       FROM gg),
       |gr AS (SELECT *, (1.0 - gd_rv) * pow((gb / ga) * (gb / ga), gd_rv) AS grvi
       |       FROM gr0 WHERE ga > 0.0 AND den2 > 0.0)
       |SELECT $keys, count(*) AS n_valid, ${sumQ6("grvi", "grvi_sum_q")}
       |FROM gr GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_pol_xchannel_snr: HV scaled by the HV/VH window coherence at valid centers. */
  val xChannelSnr: String =
    s"""WITH ${t3Cte(SB, raw = true)},
       |sp AS (SELECT *, hvr * hvr + hvi * hvi AS c22px, vhr * vhr + vhi * vhi AS c33px,
       |         hvr * vhr + hvi * vhi AS c23rpx, hvi * vhr - hvr * vhi AS c23ipx
       |       FROM t3),
       |${SarOracleWin.sepWin("sp", "sw", 1, Seq(
            "c22px" -> "c22", "c33px" -> "c33",
            "c23rpx" -> "c23r", "c23ipx" -> "c23i"), carry = Seq("hvr", "hvi"))},
       |sg AS (SELECT *, sqrt((c23r * c23r + c23i * c23i) / (c22 * c33)) AS gamma
       |       FROM sw WHERE valid AND c22 > 0 AND c33 > 0)
       |SELECT $keys, count(*) AS n_valid,
       |  ${sumQ6("gamma * hvr", "ihv_sum_q")},
       |  ${sumQ6("gamma * hvi", "qhv_sum_q")}
       |FROM sg GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_cp_simulation: per-tile C2 sums of the simulated RCH compact-pol vector
   * k = ((S_hh + i S_hv), (S_vh + i S_vv))/sqrt2; every tile kept (n may be 0). */
  val cpSimulation: String =
    s"""WITH ${t3Cte(Layout.BurstsPerSubswath, raw = true)},
       |ck AS (SELECT *, (hhr + hvi) AS k0r, (hhi - hvr) AS k0i,
       |         (vhr + vvi) AS k1r, (vhi - vvr) AS k1i
       |       FROM t3)
       |SELECT $keys, count(*) FILTER (valid) AS n_valid,
       |  CAST(coalesce(sum(${q6("(k0r * k0r + k0i * k0i) / 2.0")}) FILTER (valid), 0) AS BIGINT) AS c11_q,
       |  CAST(coalesce(sum(${q6("(k1r * k1r + k1i * k1i) / 2.0")}) FILTER (valid), 0) AS BIGINT) AS c22_q,
       |  CAST(coalesce(sum(${q6("(k0r * k1r + k0i * k1i) / 2.0")}) FILTER (valid), 0) AS BIGINT) AS c12r_q,
       |  CAST(coalesce(sum(${q6("(k0i * k1r - k0r * k1i) / 2.0")}) FILTER (valid), 0) AS BIGINT) AS c12i_q
       |FROM ck GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** 3x3 Hermitian determinant staged as Kernels.det3H over `p`-prefixed mean cols. */
  private def det3(p: String): String = {
    val (t11, t22, t33) = (s"${p}11", s"${p}22", s"${p}33")
    val (t12r, t12i, t13r, t13i, t23r, t23i) =
      (s"${p}12r", s"${p}12i", s"${p}13r", s"${p}13i", s"${p}23r", s"${p}23i")
    s"$t11 * $t22 * $t33 + 2.0 * ($t12r * ($t23r * $t13r + $t23i * $t13i) - $t12i * ($t23i * $t13r - $t23r * $t13i)) " +
      s"- $t11 * ($t23r * $t23r + $t23i * $t23i) - $t22 * ($t13r * $t13r + $t13i * $t13i) - $t33 * ($t12r * $t12r + $t12i * $t12i)"
  }

  private val t3Chans = Seq("11", "22", "33", "12r", "12i", "13r", "13i", "23r", "23i")

  /** q_pol_change: two-epoch omnibus statistic 2 ln det((T1+T2)/2) - ln det T1
   * - ln det T2 per pixel over windowed T3 means; every tile pair kept. */
  val polChange: String = {
    val m1Cols = t3Chans.map(c => s"m1.sw$c / nullif(m1.n, 0) AS ma$c").mkString(", ")
    val m2Cols = t3Chans.map(c => s"m2.sw$c / nullif(m2.n, 0) AS mb$c").mkString(", ")
    val abCols = t3Chans.map(c => s"(ma$c + mb$c) * 0.5 AS mc$c").mkString(", ")
    val cond = "n1 > 0 AND n2 > 0 AND deta > 0 AND detb2 > 0 AND detab > 0"
    s"""WITH ${t3Cte(ops.PolarimetryQuad.ChangeMaxBurst)},
       |$winCte,
       |pw AS (SELECT *, CAST(substring(scene_id, 7, 4) AS INT) AS scene_idx FROM win),
       |pe AS (SELECT *, scene_idx // 2 AS pair_idx FROM pw),
       |j AS (
       |  SELECT m1.scene_id, m1.subswath, m1.pol, m1.burst_idx, m1.tile_y, m1.tile_x,
       |    m1.gx, m1.gy, m1.n AS n1, m2.n AS n2, $m1Cols, $m2Cols
       |  FROM pe m1
       |  JOIN pe m2 ON m2.pair_idx = m1.pair_idx AND m2.subswath = m1.subswath
       |    AND m2.burst_idx = m1.burst_idx AND m2.gx = m1.gx AND m2.gy = m1.gy
       |    AND m2.scene_idx % 2 = 1
       |  WHERE m1.scene_idx % 2 = 0),
       |ab AS (SELECT *, $abCols FROM j),
       |dets AS (SELECT *, ${det3("ma")} AS deta, ${det3("mb")} AS detb2, ${det3("mc")} AS detab FROM ab),
       |st AS (SELECT *, CASE WHEN deta > 0 AND detb2 > 0 AND detab > 0
       |         THEN 2.0 * ln(detab) - ln(deta) - ln(detb2) END AS stat FROM dets)
       |SELECT $keys,
       |  count(*) FILTER ($cond) AS n_valid,
       |  CAST(coalesce(sum(${q6("stat")}) FILTER ($cond), 0) AS BIGINT) AS stat_sum_q
       |FROM st GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_pol_speckle_refined (rstb RefinedLee.java:226-608 twin, FULL reference
   * algorithm): 9 overlapping stride-2 span sub-means, SIGNED 6-sub-mean
   * gradients (first-|max| wins, +4 when positive), the exact 28-pixel
   * directional template shared by b (from span stats) and all 9 T3 channels;
   * windows with any no-data take the per-channel local-statistics path; varY
   * == 0 -> 0.0 (the rstb quirk). (n-1) diff-form variances use per-term
   * dyadic quantization; every double expression tree is textually identical
   * to Kernels.polRefinedLee. Masks live in aggregate FILTERs (hash-join
   * preserving). */
  val polRefinedLee: String = {
    val svs = 1.0 / ops.Speckle.Enl
    val onePlusSvs = 1.0 + svs
    val off = "0.031415926535897934"
    val keys8 = "scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy"
    def jk(a: String, b: String) =
      s"""$b.scene_id = $a.scene_id AND $b.subswath = $a.subswath
         |    AND $b.pol = $a.pol AND $b.burst_idx = $a.burst_idx AND $b.tile_y = $a.tile_y
         |    AND $b.tile_x = $a.tile_x AND $b.gx = $a.gx AND $b.gy = $a.gy""".stripMargin
    val inTmpl =
      """(CASE p.d8 WHEN 0 THEN w.wx >= 3 WHEN 1 THEN w.wx >= w.wy WHEN 2 THEN w.wy <= 3
        |      WHEN 3 THEN w.wx < 7 - w.wy WHEN 4 THEN w.wx <= 3 WHEN 5 THEN w.wx < w.wy + 1
        |      WHEN 6 THEN w.wy >= 3 ELSE w.wx >= 6 - w.wy END)""".stripMargin
    val subAgg = (0 until 9).map { k =>
      val j = k / 3; val i = k % 3
      s"    sum(sv) FILTER (wy BETWEEN ${2 * j} AND ${2 * j + 2} AND wx BETWEEN ${2 * i} AND ${2 * i + 2}) / 9.0 AS s$k"
    }.mkString(",\n")
    val lsAgg = t3Chans.map(c =>
      s"    coalesce(sum(t$c) FILTER (nv), 0) AS ls$c").mkString(",\n")
    val ctCarry = t3Chans.map(c => s"any_value(ct$c) AS ct$c").mkString(", ")
    val lmCols = t3Chans.map(c => s"ls$c / n AS lm$c").mkString(",\n    ")
    // the quantized term is guarded INSIDE a CASE (not just FILTER): DuckDB
    // evaluates aggregate arguments vector-wide before filtering, and the T3
    // values of invalid cells are garbage large enough to overflow the BIGINT
    val lqAgg = t3Chans.map(c =>
      s"""    coalesce(sum(CASE WHEN w.nv
         |      THEN CAST(floor($off + (w.t$c - p.lm$c) * (w.t$c - p.lm$c) * 1.0E6) AS BIGINT) END), 0) AS lq$c""".stripMargin).mkString(",\n")
    val zmAgg = t3Chans.map(c =>
      s"    sum(w.t$c) FILTER ($inTmpl) / 28.0 AS zm$c").mkString(",\n")
    val lvCols = t3Chans.map(c =>
      s"CASE WHEN n > 1 THEN CAST(lq$c AS DOUBLE) / 1.0E6 / (n - 1) ELSE 0.0 END AS lv$c")
      .mkString(",\n    ")
    val outCols = t3Chans.map { c =>
      s"""    CASE WHEN n < 49 THEN
         |      CASE WHEN lv$c = 0.0 THEN 0.0
         |           ELSE lm$c + (CASE WHEN (lv$c - lm$c * lm$c * $svs) / $onePlusSvs < 0 THEN 0.0
         |                             ELSE (lv$c - lm$c * lm$c * $svs) / $onePlusSvs
         |                        END) / lv$c * (ct$c - lm$c) END
         |    WHEN vary28 = 0.0 THEN 0.0
         |    ELSE zm$c + b28 * (ct$c - zm$c) END AS o$c""".stripMargin
    }.mkString(",\n")
    val outs = t3Chans.map(c =>
      s"CAST(coalesce(sum(${q6(s"o$c")}), 0) AS BIGINT) AS t${c}_q").mkString(",\n  ")
    val winT = t3Chans.map(c => s"n.t$c AS t$c").mkString(", ")
    val winCt = t3Chans.map(c => s"c.t$c AS ct$c").mkString(", ")
    s"""WITH ${t3Cte(ops.PolarimetryQuad.PolSpeckleMaxBurst)},
       |sp AS (SELECT *, t11 + t22 + t33 AS sv FROM t3),
       |d AS (SELECT a.dx, b.dy, a.dx + 3 AS wx, b.dy + 3 AS wy
       |      FROM (SELECT unnest(range(-3, 4)) AS dx) a,
       |           (SELECT unnest(range(-3, 4)) AS dy) b),
       |win AS MATERIALIZED (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, d.wx, d.wy, coalesce(n.valid, FALSE) AS nv, n.sv AS sv,
       |    $winT, $winCt
       |  FROM sp c CROSS JOIN d
       |  LEFT JOIN sp n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.burst_idx = c.burst_idx AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  WHERE c.valid),
       |p1 AS MATERIALIZED (
       |  SELECT $keys8, count(*) FILTER (nv) AS n, $ctCarry,
       |$subAgg,
       |$lsAgg
       |  FROM win GROUP BY $keys8),
       |p1b AS (SELECT *,
       |    s2 + s5 + s8 - s0 - s3 - s6 AS g0,
       |    s1 + s2 + s5 - s3 - s6 - s7 AS g1,
       |    s0 + s1 + s2 - s6 - s7 - s8 AS g2,
       |    s0 + s1 + s3 - s5 - s7 - s8 AS g3,
       |    $lmCols
       |  FROM p1),
       |p1c AS (SELECT *, CASE WHEN abs(g0) >= abs(g1) AND abs(g0) >= abs(g2) AND abs(g0) >= abs(g3) THEN 0
       |                       WHEN abs(g1) >= abs(g2) AND abs(g1) >= abs(g3) THEN 1
       |                       WHEN abs(g2) >= abs(g3) THEN 2 ELSE 3 END AS dir FROM p1b),
       |p1d AS (SELECT *, dir + CASE WHEN (CASE dir WHEN 0 THEN g0 WHEN 1 THEN g1 WHEN 2 THEN g2 ELSE g3 END) > 0.0
       |                             THEN 4 ELSE 0 END AS d8 FROM p1c),
       |p2 AS MATERIALIZED (
       |  SELECT w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy,
       |    sum(w.sv) FILTER ($inTmpl) / 28.0 AS meany28,
       |$zmAgg,
       |$lqAgg
       |  FROM p1d p JOIN win w ON ${jk("p", "w")}
       |  GROUP BY w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy),
       |f1 AS (SELECT p.*, ${(Seq("q.meany28") ++ t3Chans.map(c => s"q.zm$c") ++ t3Chans.map(c => s"q.lq$c")).mkString(", ")}
       |  FROM p1d p JOIN p2 q ON ${jk("p", "q")}),
       |p3 AS MATERIALIZED (
       |  SELECT w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy,
       |    coalesce(sum(CASE WHEN p.n = 49 AND $inTmpl
       |      THEN CAST(floor($off + (w.sv - p.meany28) * (w.sv - p.meany28) * 1.0E6) AS BIGINT) END), 0) AS q28
       |  FROM f1 p JOIN win w ON ${jk("p", "w")}
       |  GROUP BY w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy),
       |f2 AS (SELECT p.*, q.q28, CAST(q.q28 AS DOUBLE) / 1.0E6 / 27.0 AS vary28
       |  FROM f1 p JOIN p3 q ON ${jk("p", "q")}),
       |f2b AS (SELECT *,
       |    $lvCols
       |  FROM f2),
       |f2c AS (SELECT *, CASE WHEN vary28 = 0.0 THEN 0.0
       |    ELSE (CASE WHEN (vary28 - meany28 * meany28 * $svs) / $onePlusSvs < 0 THEN 0.0
       |               ELSE (vary28 - meany28 * meany28 * $svs) / $onePlusSvs
       |          END) / vary28 END AS b28 FROM f2b),
       |f3 AS (SELECT *,
       |$outCols
       |  FROM f2c)
       |SELECT $keys, count(*) AS n_valid,
       |  $outs
       |FROM f3 GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }
}
