package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.{InSAR, Speckle}

/**
 * DuckDB oracles for the round-2 speckle family (Frost, Lee Sigma, Refined Lee, IDAN,
 * ENL-estimated Lee, multi-temporal) and the upgraded InSAR products (flat-earth
 * interferogram, bias-corrected coherence). Window neighborhoods come from pixel
 * self-joins (not the engine's halo exchange); kernel formulas are restated in SQL
 * from the reference semantics, so a bug in either derivation shows as a mismatch.
 */
object SarOracles4 {

  private val N = Layout.TileW * Layout.TileH
  private val W = Layout.TileW

  private val rollup = SarOracles.rollupSql(1.0)

  /** pixel CTE (px) over `tiles` with intensity v. */
  private val pxCte: String =
    s"""px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}),
       |px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px0)""".stripMargin

  /** (dx, dy) offsets CTE named `d` for window radius m. */
  private def dCte(m: Int): String =
    s"""d AS (SELECT dx.dx, dy.dy
       |      FROM (SELECT unnest(range(-$m, ${m + 1})) AS dx) dx,
       |           (SELECT unnest(range(-$m, ${m + 1})) AS dy) dy)""".stripMargin

  /** window stats CTE `st` (n, s1, s2, cp per center pixel) via neighbor self-join. */
  private val keysEq: String =
    """n.scene_id = c.scene_id AND n.subswath = c.subswath AND n.pol = c.pol
      |    AND n.burst_idx = c.burst_idx""".stripMargin

  private def stCte: String =
    s"""st AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    c.v AS cp,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS n,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS s1,
       |    coalesce(sum(n.v * n.v) FILTER (n.v <> -9999.0), 0) AS s2
       |  FROM px c CROSS JOIN d
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |st2 AS (
       |  SELECT *, CASE WHEN n > 0 THEN s1 / n END AS m,
       |         CASE WHEN n > 1 THEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) ELSE 0 END AS vr
       |  FROM st)""".stripMargin

  // ------------------------------------------------------------------------- Frost

  val frost: String =
    s"""WITH $pxCte,
       |${dCte(1)},
       |$stCte,
       |fr AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.cp, c.n, c.m, c.vr,
       |    coalesce(sum(CASE WHEN c.m > 0 AND c.vr > 0
       |                      THEN n.v * exp(-(${Speckle.FrostDamping} * (c.vr / (c.m * c.m))) * greatest(abs(d.dx), abs(d.dy)))
       |                      ELSE 0 END) FILTER (n.v <> -9999.0), 0) AS num,
       |    coalesce(sum(CASE WHEN c.m > 0 AND c.vr > 0
       |                      THEN exp(-(${Speckle.FrostDamping} * (c.vr / (c.m * c.m))) * greatest(abs(d.dx), abs(d.dy)))
       |                      ELSE 0 END) FILTER (n.v <> -9999.0), 0) AS den
       |  FROM st2 c CROSS JOIN d
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n <= 0 THEN -9999.0
       |         WHEN cp = -9999.0 THEN -9999.0
       |         WHEN m <= 0 OR vr <= 0 THEN m
       |         WHEN den = 0 THEN m
       |         ELSE num / den END AS out
       |  FROM fr)
       |$rollup""".stripMargin

  // --------------------------------------------------------------------- Lee Sigma

  /** Lee Sigma at the reference defaults (sigma 0.9, numLooks 1, 7x7 filter window,
   * 3x3 target window; LeeSigma.java:134-233, 360-628): per-tile z98 point-target
   * threshold over the tile's valid halo cells (rank (int)(n*0.98)-1 clamped),
   * tile-local point-target cluster marking (fired seeds + their > z98 3x3
   * neighbors pass through; documented deviation: declarative closure instead of
   * the reference's raster-scan-order suppression — Kernels.speckle pre-pass
   * comment), target-window MMSE prior with etaV^2 = 1, sigma range
   * [0.084 prior, 3.941 prior], MMSE with etaVP^2 over the in-range 7x7 pixels.
   * VV / bursts<=2 subset (same kernel on every code path; full-set oracle cost). */
  val leeSigma: String = {
    val etaVP2 = 0.8191 * 0.8191
    val m = 3
    val keys6 = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
    val pxSub = pxCte.replace(s"FROM ${fx("tiles")})",
      s"FROM ${fx("tiles")} WHERE pol = 'VV' AND burst_idx <= 2)")
    s"""WITH $pxSub,
       |${dCte(m)},
       |d1 AS (SELECT dx.dx, dy.dy
       |       FROM (SELECT unnest(range(-1, 2)) AS dx) dx,
       |            (SELECT unnest(range(-1, 2)) AS dy) dy),
       |tk AS (SELECT DISTINCT $keys6 FROM px),
       |hp AS (
       |  SELECT t.scene_id, t.subswath, t.pol, t.burst_idx, t.tile_y, t.tile_x, p.v
       |  FROM tk t JOIN px p ON p.scene_id = t.scene_id AND p.subswath = t.subswath
       |    AND p.pol = t.pol AND p.burst_idx = t.burst_idx
       |  WHERE p.gx BETWEEN t.tile_x * ${Layout.TileW} - $m AND t.tile_x * ${Layout.TileW} + ${Layout.TileW - 1 + m}
       |    AND p.gy BETWEEN t.tile_y * ${Layout.TileH} - $m AND t.tile_y * ${Layout.TileH} + ${Layout.TileH - 1 + m}
       |    AND p.v <> -9999.0),
       |zr AS (SELECT *,
       |         row_number() OVER (PARTITION BY $keys6 ORDER BY v) AS rk,
       |         count(*) OVER (PARTITION BY $keys6) AS tot
       |       FROM hp),
       |z AS (SELECT $keys6, v AS z98 FROM zr
       |      WHERE rk - 1 = greatest(0, least(tot - 1, CAST(floor(tot * 0.98) AS BIGINT) - 1))),
       |pz AS (SELECT p.*, z.z98 FROM px p LEFT JOIN z USING ($keys6)),
       |tw AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v AS cp, c.z98,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS tn,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS ts1,
       |    coalesce(sum(n.v * n.v) FILTER (n.v <> -9999.0), 0) AS ts2,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0 AND n.v > c.z98) AS cluster
       |  FROM pz c CROSS JOIN d1
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d1.dx AND n.gy = c.gy + d1.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10),
       |pr AS (
       |  SELECT *, CASE WHEN tn <= 0 THEN NULL ELSE
       |    CASE WHEN (CASE WHEN tn > 1 THEN (ts2 - tn * (ts1 / tn) * (ts1 / tn)) / (tn - 1) ELSE 0 END) <= 0
       |         THEN ts1 / tn
       |         ELSE (1 - greatest(((CASE WHEN tn > 1 THEN (ts2 - tn * (ts1 / tn) * (ts1 / tn)) / (tn - 1) ELSE 0 END) - (ts1 / tn) * (ts1 / tn) * 1.0) / (1.0 + 1.0), 0) / (CASE WHEN tn > 1 THEN (ts2 - tn * (ts1 / tn) * (ts1 / tn)) / (tn - 1) ELSE 0 END)) * (ts1 / tn)
       |              + (greatest(((CASE WHEN tn > 1 THEN (ts2 - tn * (ts1 / tn) * (ts1 / tn)) / (tn - 1) ELSE 0 END) - (ts1 / tn) * (ts1 / tn) * 1.0) / (1.0 + 1.0), 0) / (CASE WHEN tn > 1 THEN (ts2 - tn * (ts1 / tn) * (ts1 / tn)) / (tn - 1) ELSE 0 END)) * cp
       |    END END AS prior
       |  FROM tw),
       |fired AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy
       |  FROM tw WHERE cp <> -9999.0 AND cp > z98 AND cluster > 5),
       |mk AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    count(f.gx) > 0 AS marked
       |  FROM tw c CROSS JOIN d1
       |  LEFT JOIN fired f ON f.scene_id = c.scene_id AND f.subswath = c.subswath
       |    AND f.pol = c.pol AND f.burst_idx = c.burst_idx AND f.tile_y = c.tile_y
       |    AND f.tile_x = c.tile_x AND f.gx = c.gx + d1.dx AND f.gy = c.gy + d1.dy
       |  WHERE c.cp <> -9999.0 AND c.cp > c.z98
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |fs AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.cp, c.z98, c.tn, c.cluster, c.prior, coalesce(m2.marked, FALSE) AS marked,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0
       |                     AND n.v >= 0.084 * c.prior AND n.v <= 3.941 * c.prior) AS rn,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0
       |                     AND n.v >= 0.084 * c.prior AND n.v <= 3.941 * c.prior), 0) AS rs1,
       |    coalesce(sum(n.v * n.v) FILTER (n.v <> -9999.0
       |                     AND n.v >= 0.084 * c.prior AND n.v <= 3.941 * c.prior), 0) AS rs2
       |  FROM pr c CROSS JOIN d
       |  LEFT JOIN mk m2 ON m2.scene_id = c.scene_id AND m2.subswath = c.subswath
       |    AND m2.pol = c.pol AND m2.burst_idx = c.burst_idx AND m2.tile_y = c.tile_y
       |    AND m2.tile_x = c.tile_x AND m2.gx = c.gx AND m2.gy = c.gy
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12),
       |r2 AS (
       |  SELECT *, CASE WHEN rn > 0 THEN rs1 / rn END AS rm,
       |         CASE WHEN rn > 1 THEN (rs2 - rn * (rs1 / rn) * (rs1 / rn)) / (rn - 1) ELSE 0 END AS rv
       |  FROM fs),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN cp = -9999.0 THEN -9999.0
       |         WHEN marked THEN cp
       |         WHEN tn <= 0 THEN -9999.0
       |         WHEN rn <= 0 THEN cp
       |         WHEN rv <= 0 THEN rm
       |         ELSE (1 - greatest((rv - rm * rm * $etaVP2) / (1.0 + $etaVP2), 0) / rv) * rm
       |              + (greatest((rv - rm * rm * $etaVP2) / (1.0 + $etaVP2), 0) / rv) * cp
       |    END AS out
       |  FROM r2)
       |$rollup""".stripMargin
  }

  // ------------------------------------------------------------------- Refined Lee

  /** Refined Lee (RefinedLee.java:147-551 twin, the FULL reference algorithm):
   * 9 overlapping 3x3 sub-area raw means, data-estimated noise variance (<=5
   * smallest normalized variances of complete sub-areas), local-statistics
   * fallback when the window has any no-data, else 4-gradient first-max edge
   * direction refined to one of the 8 exact 28-pixel templates
   * (getNonEdgeAreaPixelValues:435-525) and MMSE over the template. All (n-1)
   * diff-form variances use per-term dyadic quantization (the kernel's qdev) so
   * Long sums are exact and order-free; every double expression tree is
   * textually identical to Kernels.refinedLeePixel. Masks live in aggregate
   * FILTERs, not join conditions (a non-equi LEFT JOIN predicate forces DuckDB
   * off the hash join). VV/bursts<=2 subset. */
  val refinedLee: String = {
    val off = "0.031415926535897934"
    val keys6 = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
    val pxSub = pxCte.replace(s"FROM ${fx("tiles")})",
      s"FROM ${fx("tiles")} WHERE pol = 'VV' AND burst_idx <= 2)")
    def jk(a: String, b: String) =
      s"""$b.scene_id = $a.scene_id AND $b.subswath = $a.subswath
         |    AND $b.pol = $a.pol AND $b.burst_idx = $a.burst_idx AND $b.tile_y = $a.tile_y
         |    AND $b.tile_x = $a.tile_x AND $b.gx = $a.gx AND $b.gy = $a.gy""".stripMargin
    val subAgg = (0 until 9).map { k =>
      val j = k / 3; val i = k % 3
      s"""    sum(vk) FILTER (wy BETWEEN ${2 * j} AND ${2 * j + 2} AND wx BETWEEN ${2 * i} AND ${2 * i + 2}) / 9.0 AS s$k,
         |    count(*) FILTER (wy BETWEEN ${2 * j} AND ${2 * j + 2} AND wx BETWEEN ${2 * i} AND ${2 * i + 2} AND vk <> -9999.0) AS c$k""".stripMargin
    }.mkString(",\n")
    val qsubAgg = (0 until 9).map { k =>
      val j = k / 3; val i = k % 3
      s"""    coalesce(sum(CAST(floor($off + (w.vk - p.s$k) * (w.vk - p.s$k) * 1.0E6) AS BIGINT))
         |      FILTER (w.wy BETWEEN ${2 * j} AND ${2 * j + 2} AND w.wx BETWEEN ${2 * i} AND ${2 * i + 2}), 0) AS q$k""".stripMargin
    }.mkString(",\n")
    val nvCols = (0 until 9).map { k =>
      s"""    CASE WHEN c$k = 9 THEN
         |      CASE WHEN s$k > 0 THEN CAST(q$k AS DOUBLE) / 1.0E6 / 8.0 / (s$k * s$k) ELSE 0.0 END
         |    END AS nv$k""".stripMargin
    }.mkString(",\n")
    val inTmpl =
      """(CASE p.d8 WHEN 0 THEN w.wx >= 3 WHEN 1 THEN w.wx >= w.wy WHEN 2 THEN w.wy <= 3
        |      WHEN 3 THEN w.wx < 7 - w.wy WHEN 4 THEN w.wx <= 3 WHEN 5 THEN w.wx < w.wy + 1
        |      WHEN 6 THEN w.wy >= 3 ELSE w.wx >= 6 - w.wy END)""".stripMargin
    s"""WITH $pxSub,
       |${dCte(3)},
       |win AS MATERIALIZED (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v AS cp, d.dx + 3 AS wx, d.dy + 3 AS wy,
       |    coalesce(n.v, -9999.0) AS vk
       |  FROM px c CROSS JOIN d
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy),
       |p1 AS MATERIALIZED (
       |  SELECT $keys6, gx, gy, any_value(cp) AS cp,
       |    count(*) FILTER (vk <> -9999.0) AS cnt,
       |    coalesce(sum(vk) FILTER (vk <> -9999.0), 0) AS sumv,
       |$subAgg
       |  FROM win GROUP BY $keys6, gx, gy),
       |p1b AS (SELECT *, CASE WHEN cnt > 0 THEN sumv / cnt END AS meanv,
       |    abs(s3 - s5) AS g0, abs(s2 - s6) AS g1, abs(s1 - s7) AS g2, abs(s0 - s8) AS g3
       |  FROM p1),
       |p1c AS (SELECT *, CASE WHEN g0 >= g1 AND g0 >= g2 AND g0 >= g3 THEN 0
       |                       WHEN g1 >= g2 AND g1 >= g3 THEN 1
       |                       WHEN g2 >= g3 THEN 2 ELSE 3 END AS dir FROM p1b),
       |p1d AS (SELECT *, CASE dir
       |    WHEN 0 THEN CASE WHEN abs(s3 - s4) < abs(s4 - s5) THEN 4 ELSE 0 END
       |    WHEN 1 THEN CASE WHEN abs(s2 - s4) < abs(s4 - s6) THEN 1 ELSE 5 END
       |    WHEN 2 THEN CASE WHEN abs(s1 - s4) < abs(s4 - s7) THEN 2 ELSE 6 END
       |    ELSE CASE WHEN abs(s0 - s4) < abs(s4 - s8) THEN 3 ELSE 7 END END AS d8 FROM p1c),
       |p2 AS MATERIALIZED (
       |  SELECT w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy,
       |    coalesce(sum(CAST(floor($off + (w.vk - p.meanv) * (w.vk - p.meanv) * 1.0E6) AS BIGINT))
       |      FILTER (w.vk <> -9999.0), 0) AS qvarv,
       |    sum(w.vk) FILTER ($inTmpl) / 28.0 AS meany28,
       |$qsubAgg
       |  FROM p1d p JOIN win w ON ${jk("p", "w")}
       |  GROUP BY w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy),
       |f1 AS (SELECT p.*, q.qvarv, q.meany28,
       |    ${(0 until 9).map(k => s"q.q$k").mkString(", ")}
       |  FROM p1d p JOIN p2 q ON ${jk("p", "q")}),
       |f2 AS (SELECT *,
       |$nvCols
       |  FROM f1),
       |f3 AS (SELECT *, list_sort(list_filter([${(0 until 9).map(k => s"nv$k").mkString(", ")}], z -> z IS NOT NULL)) AS lst FROM f2),
       |f4 AS (SELECT *, len(lst) AS nnv, least(5, len(lst)) AS navg FROM f3),
       |f5 AS MATERIALIZED (SELECT *, CASE WHEN nnv < 1 THEN 0.0
       |    ELSE CAST(list_sum(list_transform(list_slice(lst, 1, navg),
       |           z -> CAST(floor($off + z * 1.0E6) AS BIGINT))) AS DOUBLE) / 1.0E6 / navg
       |  END AS sigmav FROM f4),
       |p3 AS MATERIALIZED (
       |  SELECT w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy,
       |    coalesce(sum(CAST(floor($off + (w.vk - p.meany28) * (w.vk - p.meany28) * 1.0E6) AS BIGINT))
       |      FILTER ($inTmpl), 0) AS qvar28
       |  FROM f5 p JOIN win w ON ${jk("p", "w")}
       |  GROUP BY w.scene_id, w.subswath, w.pol, w.burst_idx, w.tile_y, w.tile_x, w.gx, w.gy),
       |f6 AS (SELECT p.*, q.qvar28 FROM f5 p JOIN p3 q ON ${jk("p", "q")}),
       |f7 AS (SELECT *,
       |    CASE WHEN cnt > 1 THEN CAST(qvarv AS DOUBLE) / 1.0E6 / (cnt - 1) ELSE 0.0 END AS varyl,
       |    CAST(qvar28 AS DOUBLE) / 1.0E6 / 27.0 AS vary28
       |  FROM f6),
       |o AS (
       |  SELECT $keys6,
       |    CASE WHEN cp = -9999.0 THEN -9999.0
       |         WHEN cnt < 49 THEN
       |           CASE WHEN cnt <= 0 THEN -9999.0
       |                WHEN varyl = 0.0 THEN meanv
       |                ELSE meanv + (CASE WHEN (varyl - meanv * meanv * sigmav) / (1.0 + sigmav) < 0
       |                                   THEN 0.0
       |                                   ELSE (varyl - meanv * meanv * sigmav) / (1.0 + sigmav)
       |                              END) / varyl * (cp - meanv) END
       |         WHEN vary28 = 0.0 THEN meany28
       |         ELSE meany28 + (CASE WHEN (vary28 - meany28 * meany28 * sigmav) / (1.0 + sigmav) < 0
       |                              THEN 0.0
       |                              ELSE (vary28 - meany28 * meany28 * sigmav) / (1.0 + sigmav)
       |                         END) / vary28 * (cp - meany28)
       |    END AS out
       |  FROM f7)
       |$rollup""".stripMargin
  }

  // -------------------------------------------------------------------------- IDAN

  /** IDAN (IDAN.java:209-467): the reference's two-stage region growing, restated
   * with 49-bit BIGINT window masks — 3x3-median seed, 8-connected growth at
   * threshold50 via 16 fixed bitboard dilation rounds (materialized stages),
   * stage-1 mean seed update, visited-but-rejected re-exam at threshold95, MMSE
   * weight with sample (n-1) variance over a dyadically-quantized second moment.
   * Mask arithmetic is integer-exact; every double expression tree is textually
   * identical to the kernel's (Kernels.idanPixel). VV/bursts<=2 subset. */
  val idan: String = {
    val sigmaV = 1.0 / math.sqrt(Speckle.Enl)
    val svs = sigmaV * sigmaV
    val t50 = 2.0 / 3.0 * sigmaV
    val t95 = 2.0 * sigmaV
    val mask = (1L << 49) - 1
    val cGt0 = (0 until 49).filter(_ % 7 > 0).map(1L << _).sum
    val cLt6 = (0 until 49).filter(_ % 7 < 6).map(1L << _).sum
    def dil8l(a: Long): Long =
      (((a & cLt6) << 1) | ((a & cGt0) >> 1) | (a << 7) | (a >> 7) |
        ((a & cGt0) >> 8) | ((a & cLt6) >> 6) | ((a & cGt0) << 6) | ((a & cLt6) << 8)) & mask
    val seedMask = (1L << 24) | dil8l(1L << 24)
    def dil8(e: String): String =
      s"((((($e) & $cLt6) << 1) | ((($e) & $cGt0) >> 1) | (($e) << 7) | (($e) >> 7) | " +
        s"((($e) & $cGt0) >> 8) | ((($e) & $cLt6) >> 6) | ((($e) & $cGt0) << 6) | " +
        s"((($e) & $cLt6) << 8)) & $mask)"
    val keys6 = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
    val pxSub = pxCte.replace(s"FROM ${fx("tiles")})",
      s"FROM ${fx("tiles")} WHERE pol = 'VV' AND burst_idx <= 2)")
    val joinW = """w.scene_id = x.scene_id AND w.subswath = x.subswath
      |    AND w.pol = x.pol AND w.burst_idx = x.burst_idx AND w.tile_y = x.tile_y
      |    AND w.tile_x = x.tile_x AND w.gx = x.gx AND w.gy = x.gy""".stripMargin
    val stages = (1 to 16).map { i =>
      s"a$i AS MATERIALIZED (SELECT * EXCLUDE (an), (an | (${dil8("an")} & b1)) & $mask AS an FROM a${i - 1})"
    }.mkString(",\n")
    val inA2 = s"""(((x.an >> w.k) & 1) = 1 OR
      |      (((x.bg >> w.k) & 1) = 1 AND abs((w.vk - x.new_seed) / x.new_seed) < $t95))""".stripMargin
    s"""WITH $pxSub,
       |d AS (SELECT dx.dx, dy.dy, (dy.dy + 3) * 7 + (dx.dx + 3) AS k
       |      FROM (SELECT unnest(range(-3, 4)) AS dx) dx,
       |           (SELECT unnest(range(-3, 4)) AS dy) dy),
       |win AS MATERIALIZED (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v AS cp, d.k,
       |    (abs(d.dx) <= 1 AND abs(d.dy) <= 1) AS in3,
       |    coalesce(n.v, -9999.0) AS vk
       |  FROM px c CROSS JOIN d
       |  LEFT JOIN px n ON $keysEq AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy),
       |sd AS MATERIALIZED (
       |  SELECT $keys6, gx, gy, any_value(cp) AS cp,
       |    CASE WHEN count(*) FILTER (in3 AND vk <> -9999.0) > 0
       |         THEN list_sort(list(vk) FILTER (in3 AND vk <> -9999.0))[CAST(count(*) FILTER (in3 AND vk <> -9999.0) // 2 AS INT) + 1]
       |    END AS seed
       |  FROM win GROUP BY $keys6, gx, gy),
       |a0 AS MATERIALIZED (
       |  SELECT x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x,
       |    x.gx, x.gy, any_value(x.cp) AS cp, any_value(x.seed) AS seed,
       |    ($seedMask & coalesce(bit_or(CASE WHEN w.vk <> -9999.0 AND x.seed IS NOT NULL
       |                       AND x.seed <> 0 AND abs((w.vk - x.seed) / x.seed) < $t50
       |                  THEN 1::BIGINT << w.k END), 0)) AS an,
       |    coalesce(bit_or(CASE WHEN w.vk <> -9999.0 AND x.seed IS NOT NULL
       |                       AND x.seed <> 0 AND abs((w.vk - x.seed) / x.seed) < $t50
       |                  THEN 1::BIGINT << w.k END), 0) AS b1
       |  FROM sd x JOIN win w ON $joinW
       |  GROUP BY x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x, x.gx, x.gy),
       |$stages,
       |s1s AS MATERIALIZED (
       |  SELECT x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x,
       |    x.gx, x.gy, any_value(x.cp) AS cp, any_value(x.seed) AS seed,
       |    any_value(x.an) AS an,
       |    count(*) FILTER (((x.an >> w.k) & 1) = 1) AS n1,
       |    coalesce(sum(w.vk) FILTER (((x.an >> w.k) & 1) = 1), 0) AS s1a
       |  FROM a16 x JOIN win w ON $joinW
       |  GROUP BY x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x, x.gx, x.gy),
       |ns AS (
       |  SELECT *, CASE WHEN n1 > 0 THEN s1a / n1 ELSE seed END AS new_seed,
       |    (($seedMask | ${dil8("an")}) & ~an) AS bg
       |  FROM s1s),
       |fs AS MATERIALIZED (
       |  SELECT x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x,
       |    x.gx, x.gy, any_value(x.cp) AS cp, any_value(x.seed) AS seed,
       |    count(*) FILTER ($inA2) AS n2,
       |    coalesce(sum(w.vk) FILTER ($inA2), 0) AS s1b,
       |    coalesce(sum(CAST(floor(0.031415926535897934 + w.vk * w.vk * 1.0E6) AS BIGINT)) FILTER ($inA2), 0) AS s2q
       |  FROM ns x JOIN win w ON $joinW
       |  GROUP BY x.scene_id, x.subswath, x.pol, x.burst_idx, x.tile_y, x.tile_x, x.gx, x.gy),
       |f2 AS (SELECT *, CASE WHEN n2 > 0 THEN s1b / n2 END AS meanY,
       |              CAST(s2q AS DOUBLE) / 1.0E6 AS s2b FROM fs),
       |f3 AS (SELECT *, CASE WHEN n2 > 1 THEN (s2b - n2 * meanY * meanY) / (n2 - 1)
       |                      ELSE 0.0 END AS varY FROM f2),
       |f4 AS (SELECT *, CASE WHEN varY = 0.0 THEN 0.0
       |                      WHEN (varY - meanY * meanY * $svs) / (1.0 + $svs) < 0 THEN 0.0
       |                      ELSE ((varY - meanY * meanY * $svs) / (1.0 + $svs)) / varY
       |                 END AS bw FROM f3),
       |o AS (
       |  SELECT $keys6,
       |    CASE WHEN cp = -9999.0 THEN -9999.0
       |         WHEN seed IS NULL OR seed = 0.0 THEN cp
       |         WHEN n2 <= 0 THEN cp
       |         ELSE meanY + bw * (cp - meanY) END AS out
       |  FROM f4)
       |$rollup""".stripMargin
  }

  // ------------------------------------------------------------- ENL-estimated Lee

  val leeEnlEstimated: String =
    s"""WITH $pxCte,
       |te AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CAST(count(*) FILTER (v <> -9999.0) AS DOUBLE) AS tn,
       |    coalesce(sum(v) FILTER (v <> -9999.0), 0) AS ts1,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + v * v * 1.0E6) AS BIGINT)) FILTER (v <> -9999.0), 0) AS DOUBLE) / 1.0E6 AS ts2
       |  FROM px GROUP BY 1, 2, 3, 4, 5, 6),
       |te2 AS (
       |  SELECT *, ts1 / tn AS tm, ts2 / tn - (ts1 / tn) * (ts1 / tn) AS tvar FROM te),
       |enl AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN tn < 2 THEN 1.0
       |         WHEN tvar <= 0 THEN 100.0
       |         ELSE greatest(1.0, least(100.0, tm * tm / tvar)) END AS enl_est
       |  FROM te2),
       |${dCte(1)},
       |$stCte,
       |j AS (
       |  SELECT c.*, e.enl_est, 1.0 / sqrt(e.enl_est) AS cuv
       |  FROM st2 c JOIN enl e ON e.scene_id = c.scene_id AND e.subswath = c.subswath
       |    AND e.pol = c.pol AND e.burst_idx = c.burst_idx
       |    AND e.tile_y = c.tile_y AND e.tile_x = c.tile_x),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n <= 0 THEN -9999.0
       |         WHEN m <= 0 OR vr <= 0 THEN m
       |         WHEN sqrt(vr) / m < cuv THEN m
       |         ELSE cp * (1 - (cuv * cuv) / ((sqrt(vr) / m) * (sqrt(vr) / m)))
       |              + m * ((cuv * cuv) / ((sqrt(vr) / m) * (sqrt(vr) / m))) END AS out
       |  FROM j)
       |$rollup""".stripMargin

  // ---------------------------------------------------------------- Multi-temporal

  /** q_speckle_mt_stack (MultiTemporalSpeckleFilterOp.java:56-60 twin over the
   * 5-epoch stack): per-epoch 3x3 means, dyadic-quantized ratios, exact
   * cross-epoch sum, J_0 = m_0 * (sum / n). */
  val multiTemporalStack: String =
    s"""WITH spx0 AS (
       |  SELECT epoch, scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range(${Layout.TileW * Layout.TileH})) AS k,
       |         unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles_stack")}),
       |spx AS (
       |  SELECT epoch, scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    tile_x * ${Layout.TileW} + k % ${Layout.TileW} AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // ${Layout.TileW} AS INT) AS gy,
       |    CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 OR isnan(iv0) OR isnan(qv0) THEN -9999.0
       |         ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                   + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM spx0),
       |${dCte(1)},
       |ms AS (
       |  SELECT c.epoch, c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v,
       |    count(*) FILTER (n.v IS NOT NULL AND n.v <> -9999.0) AS nn,
       |    coalesce(sum(n.v) FILTER (n.v <> -9999.0), 0) AS s1
       |  FROM spx c CROSS JOIN d
       |  LEFT JOIN spx n ON n.epoch = c.epoch AND n.scene_id = c.scene_id
       |    AND n.subswath = c.subswath AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10),
       |rt AS (
       |  SELECT *, CASE WHEN nn > 0 THEN s1 / nn ELSE -9999.0 END AS m FROM ms),
       |rt2 AS (
       |  SELECT *, CASE WHEN v = -9999.0 OR m = -9999.0 OR m = 0 THEN NULL
       |            ELSE floor(v / m * 16384) / 16384 END AS r
       |  FROM rt),
       |ag AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy,
       |    count(r) AS cnt, coalesce(sum(r), 0) AS sm
       |  FROM rt2 GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |o AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |    CASE WHEN a.cnt = 0 OR z.m = -9999.0 THEN -9999.0
       |         ELSE z.m * (a.sm / a.cnt) END AS out
       |  FROM ag a JOIN rt2 z ON z.epoch = 0 AND z.scene_id = a.scene_id
       |    AND z.subswath = a.subswath AND z.pol = a.pol AND z.burst_idx = a.burst_idx
       |    AND z.gx = a.gx AND z.gy = a.gy)
       |$rollup""".stripMargin

  val multiTemporal: String =
    s"""WITH ${SarOracles2.pxCte("tiles", "pa")},
       |${SarOracles2.pxCte("tiles_sec", "pb")},
       |j AS (
       |  SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x, a.gx, a.gy,
       |    a.v AS v1,
       |    CASE WHEN a.v = -9999.0 OR b.v = -9999.0 THEN -9999.0 ELSE a.v + b.v END AS vs
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.pol = b.pol AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy),
       |${dCte(1)},
       |ms AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    c.gx, c.gy, c.v1,
       |    count(*) FILTER (n.vs IS NOT NULL AND n.vs <> -9999.0) AS ns,
       |    coalesce(sum(n.vs) FILTER (n.vs <> -9999.0), 0) AS ss,
       |    count(*) FILTER (n.v1 IS NOT NULL AND n.v1 <> -9999.0) AS n1,
       |    coalesce(sum(n.v1) FILTER (n.v1 <> -9999.0), 0) AS s1
       |  FROM j c CROSS JOIN d
       |  LEFT JOIN j n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.pol = c.pol AND n.burst_idx = c.burst_idx
       |    AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9),
       |r AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, v1,
       |    CASE WHEN ns > 0 THEN ss / ns ELSE -9999.0 END AS msum,
       |    CASE WHEN n1 > 0 THEN s1 / n1 ELSE -9999.0 END AS m1
       |  FROM ms),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN msum = -9999.0 OR m1 = -9999.0 OR m1 = 0 OR v1 = -9999.0 THEN -9999.0
       |         ELSE (msum / m1 / 2) * v1 END AS out
       |  FROM r)
       |$rollup""".stripMargin

  // ----------------------------------------------------- InSAR upgraded products

  val interferogramFlatEarth: String =
    s"""WITH ${SarOracles2.crossCte},
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN cim = -9999.0 OR cre = -9999.0 THEN -9999.0
       |         ELSE atan2(sin(atan2(cim, cre) - (${InSAR.FlatC1} * gx + ${InSAR.FlatC3} * gx * gx)),
       |                    cos(atan2(cim, cre) - (${InSAR.FlatC1} * gx + ${InSAR.FlatC3} * gx * gx))) END AS out
       |  FROM cx)
       |$rollup""".stripMargin

  val coherenceBias: String =
    s"""WITH ${SarOracles2.crossCte},
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
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n = 0 OR sp1 <= 0 OR sp2 <= 0 THEN -9999.0
       |         ELSE greatest(0, (sqrt(sre * sre + sim * sim) / sqrt(sp1 * sp2) - ${InSAR.CohBiasC}) / ${InSAR.CohBiasDen}) END AS out
       |  FROM st)
       |$rollup""".stripMargin
}
