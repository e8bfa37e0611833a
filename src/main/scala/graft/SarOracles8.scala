package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.{Detection2, InSAR}

/**
 * DuckDB oracles for the feature-extraction / classification operators and the
 * InSAR phase products (topo removal, phase-to-elevation/-displacement,
 * demodulation, three-pass DInSAR).
 */
object SarOracles8 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  private val rollup = SarOracles.rollupSql(1.0)

  /** quantized-v pixel CTE over tiles (all pols). */
  private[graft] val pxCte: String =
    s"""px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")}),
       |px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 THEN -9999.0
       |              ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                          + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px0)""".stripMargin

  /** px plus the boolean no-data mask the separable window passes gate on. */
  private val pxvCte: String =
    s"$pxCte,\npxv AS (SELECT *, v <> -9999.0 AS valid FROM px)"

  val oilSpill: String =
    s"""WITH $pxvCte,
       |${SarOracleWin.sepWin("pxv", "st", 2, Seq("v" -> "s1"), carry = Seq("v"))}
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       CAST(coalesce(sum(CASE WHEN v <> -9999.0 AND n > 0
       |                               AND v < ${Detection2.OilK} * (s1 / n) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dark
       |FROM st GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  val speckleDivergence: String =
    s"""WITH $pxvCte,
       |${SarOracleWin.sepWin("pxv", "st0", 1, Seq("v" -> "s1", "v * v" -> "s2"))},
       |st AS (SELECT * EXCLUDE (n), CAST(n AS DOUBLE) AS n FROM st0),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN n < 2 THEN -9999.0
       |         WHEN s1 <= 0 THEN -9999.0
       |         ELSE ((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) / ((s1 / n) * (s1 / n)) END AS out
       |  FROM st)
       |$rollup""".stripMargin

  val windField: String =
    s"""WITH $pxCte,
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CASE WHEN v = -9999.0 THEN -9999.0
       |         ELSE pow(v / (150 * sin(radians(20 + 20 * gx / ${Layout.SamplesPerBurst}))), 0.6) END AS out
       |  FROM px WHERE pol = 'VV')
       |$rollup""".stripMargin

  private val pairCte: String =
    s"""pa AS (SELECT * FROM px WHERE pol = 'VV'),
       |pb AS (SELECT * FROM px WHERE pol = 'VH'),
       |pr AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx, a.tile_y, a.tile_x, a.gx, a.gy,
       |         a.v AS va, b.v AS vb
       |  FROM pa a JOIN pb b ON a.scene_id = b.scene_id AND a.subswath = b.subswath
       |    AND a.burst_idx = b.burst_idx AND a.gx = b.gx AND a.gy = b.gy)""".stripMargin

  /** q_forest_class (ForestAreaClassificationOp.java:44-58, 216-330 twin):
   * ratio-bin initial classes, exact per-scene center means, one ML
   * (equal-variance argmin) reassignment, per-tile class counts. */
  val forestClass: String = {
    val fc = ops.Detection2
    val cls2 =
      s"""(CASE WHEN abs(r - c1) <= abs(r - c2) AND abs(r - c1) <= abs(r - c3) THEN 1
         |      WHEN abs(r - c2) <= abs(r - c3) THEN 2 ELSE 3 END)""".stripMargin
    s"""WITH fpx AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x, pol,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")} WHERE pol IN ('VV', 'VH')),
       |fv AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x, pol, k,
       |    CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 OR isnan(iv0) OR isnan(qv0) THEN -9999.0
       |         ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                   + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM fpx),
       |fr AS (
       |  SELECT a.scene_id, a.subswath, a.burst_idx, a.tile_y, a.tile_x, a.k,
       |    CASE WHEN a.v = -9999.0 OR b.v = -9999.0 OR a.v <= 0 THEN NULL
       |         ELSE floor(b.v / a.v * 16384) / 16384 END AS r
       |  FROM fv a JOIN fv b ON b.scene_id = a.scene_id AND b.subswath = a.subswath
       |    AND b.burst_idx = a.burst_idx AND b.tile_y = a.tile_y AND b.tile_x = a.tile_x
       |    AND b.k = a.k AND a.pol = 'VV' AND b.pol = 'VH'),
       |bn AS (
       |  SELECT scene_id,
       |    CASE WHEN r >= ${fc.FcLow} AND r < ${fc.FcHigh} THEN 1
       |         WHEN r < ${fc.FcLow} THEN 2 ELSE 3 END AS cls, r
       |  FROM fr WHERE r IS NOT NULL),
       |ct AS (
       |  SELECT scene_id, cls, count(*) AS nc,
       |         sum(CAST(floor(0.031415926535897934 + r * 16384) AS BIGINT)) AS sq
       |  FROM bn GROUP BY 1, 2),
       |cp AS (
       |  SELECT scene_id,
       |    max(CASE WHEN cls = 1 THEN CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE) / 16384 END) AS c1,
       |    max(CASE WHEN cls = 2 THEN CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE) / 16384 END) AS c2,
       |    max(CASE WHEN cls = 3 THEN CAST(sq AS DOUBLE) / CAST(nc AS DOUBLE) / 16384 END) AS c3
       |  FROM ct GROUP BY 1)
       |SELECT f.scene_id, f.subswath, f.burst_idx, f.tile_y, f.tile_x,
       |  CAST(count(*) FILTER (f.r IS NOT NULL AND $cls2 = 1) AS BIGINT) AS n_class1,
       |  CAST(count(*) FILTER (f.r IS NOT NULL AND $cls2 = 2) AS BIGINT) AS n_class2,
       |  CAST(count(*) FILTER (f.r IS NOT NULL AND $cls2 = 3) AS BIGINT) AS n_class3
       |FROM fr f JOIN cp ON cp.scene_id = f.scene_id
       |GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  val forestArea: String =
    s"""WITH $pxCte,
       |$pairCte
       |SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |  CAST(coalesce(sum(CASE WHEN va <> -9999.0 AND vb <> -9999.0 AND va > 30
       |                          AND vb / va >= 0.3 AND vb / va <= 0.9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_forest
       |FROM pr GROUP BY 1, 2, 3, 4, 5""".stripMargin

  val pca: String =
    s"""WITH $pxCte,
       |$pairCte,
       |mo AS (
       |  SELECT scene_id, subswath,
       |    count(*) FILTER (va <> -9999.0 AND vb <> -9999.0) AS n,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + va * 1.0E4) AS BIGINT)) FILTER (va <> -9999.0 AND vb <> -9999.0), 0) AS BIGINT) AS sa_q,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + vb * 1.0E4) AS BIGINT)) FILTER (va <> -9999.0 AND vb <> -9999.0), 0) AS BIGINT) AS sb_q,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + va * va * 1.0E4) AS BIGINT)) FILTER (va <> -9999.0 AND vb <> -9999.0), 0) AS BIGINT) AS saa_q,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + vb * vb * 1.0E4) AS BIGINT)) FILTER (va <> -9999.0 AND vb <> -9999.0), 0) AS BIGINT) AS sbb_q,
       |    CAST(coalesce(sum(CAST(floor(0.031415926535897934 + va * vb * 1.0E4) AS BIGINT)) FILTER (va <> -9999.0 AND vb <> -9999.0), 0) AS BIGINT) AS sab_q
       |  FROM pr GROUP BY 1, 2),
       |cv AS (
       |  SELECT scene_id, subswath, n,
       |    sa_q / 1.0E4 / n AS ma, sb_q / 1.0E4 / n AS mb,
       |    saa_q / 1.0E4 / n AS raa, sbb_q / 1.0E4 / n AS rbb, sab_q / 1.0E4 / n AS rab
       |  FROM mo),
       |cv2 AS (
       |  SELECT scene_id, subswath, n,
       |    raa - ma * ma AS caa, rbb - mb * mb AS cbb, rab - ma * mb AS cab
       |  FROM cv),
       |cv3 AS (
       |  SELECT *, sqrt((caa - cbb) * (caa - cbb) + 4 * cab * cab) AS disc FROM cv2)
       |SELECT scene_id, subswath, n,
       |       CAST(floor(0.031415926535897934 + (caa + cbb + disc) / 2 * 1.0E3) AS BIGINT) AS lambda1_q,
       |       CAST(floor(0.031415926535897934 + (caa + cbb - disc) / 2 * 1.0E3) AS BIGINT) AS lambda2_q
       |FROM cv3""".stripMargin

  val objectDiscrimination: String =
    s"""SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, n_detect,
       |       CASE WHEN n_detect BETWEEN 2 AND 50 THEN 'target'
       |            WHEN n_detect < 2 THEN 'speck' ELSE 'clutter' END AS class
       |FROM (${SarOracles2.cfar}) c WHERE n_detect > 0""".stripMargin

  val decisionTree: String =
    s"""WITH $pxCte,
       |$pairCte,
       |cl AS (
       |  SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |    CASE WHEN va = -9999.0 OR vb = -9999.0 THEN -1
       |         WHEN va < 60 THEN 0
       |         WHEN vb / va > 0.55 THEN 1 ELSE 2 END AS cls
       |  FROM pr)
       |SELECT scene_id, subswath, burst_idx, tile_y, tile_x,
       |  CAST(coalesce(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_water,
       |  CAST(coalesce(sum(CASE WHEN cls = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_vegetation,
       |  CAST(coalesce(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_urban
       |FROM cl GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // ----------------------------------------------------------- InSAR phase products

  private def hSql(gx: String, gy: String): String =
    s"(100.0 + 50.0 * sin(($gx) / 40.0) + 40.0 * cos(($gy) / 25.0))"

  val topoPhaseRemoval: String = {
    val f = s"(${InSAR.Ktopo} * ${hSql("gx", "gy")})"
    s"""WITH ${SarOracles2.crossCte},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN cim = -9999.0 OR cre = -9999.0 THEN -9999.0
       |                  ELSE atan2(sin(atan2(cim, cre) - $f), cos(atan2(cim, cre) - $f)) END AS out
       |      FROM cx)
       |$rollup""".stripMargin
  }

  /** PhaseToElevation twin — restates the FULL reference chain the engine runs
   * (PhaseToElevationOp.java:454-521, 560-651, 655-668): per-column look-angle
   * geometry, constant-offset baseline decomposition, DEM-seeded 2x2 LS
   * reference solve from dyadically staged integer moments, then
   * height = ref_h + alpha * (phase - ref_p) per pixel. */
  val phaseToElevation: String = {
    val spb = Layout.SamplesPerBurst
    val tc = ops.TerrainCorrection
    val bx = tc.SecBx; val bz = tc.SecBz
    val alphaSql =
      s"""(-(sr * sin_inc) / (2 * (2 * pi() / ${InSAR.Wavelength})
         |  * (($bx * sx + $bz * sz) * sin(look - look_c) + ($bx * sz - $bz * sx) * cos(look - look_c))))""".stripMargin
    s"""WITH ${SarOracles2.crossCte},
       |orb AS MATERIALIZED (
       |  SELECT scene_id, x AS orb_x, z AS orb_z
       |  FROM (SELECT *, row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS rn FROM ${fx("orbit")})
       |  WHERE rn = 1),
       |cg AS MATERIALIZED (
       |  SELECT o.scene_id, g.gxg, o.orb_x, o.orb_z,
       |         sqrt(o.orb_x * o.orb_x + o.orb_z * o.orb_z) AS r0
       |  FROM orb o, (SELECT unnest(range(${3 * spb})) AS gxg) g),
       |cg2 AS MATERIALIZED (
       |  SELECT *, r0 + gxg * ${tc.DR} AS sr FROM cg),
       |cg3 AS MATERIALIZED (
       |  SELECT *,
       |    orb_x + sqrt(greatest(CAST(0 AS DOUBLE), sr * sr - orb_z * orb_z)) AS txg,
       |    sqrt(greatest(CAST(0 AS DOUBLE), sr * sr - orb_z * orb_z)) / sr AS sin_inc
       |  FROM cg2),
       |cg4 AS MATERIALIZED (
       |  SELECT *, acos((sr * sr + r0 * r0 - txg * txg) / (2 * sr * r0)) AS look,
       |         (orb_x - txg) / sr AS sx, orb_z / sr AS sz
       |  FROM cg3),
       |lc AS MATERIALIZED (SELECT scene_id, look AS look_c FROM cg4 WHERE gxg = ${3 * spb / 2}),
       |ac AS MATERIALIZED (
       |  SELECT c.scene_id, c.gxg, $alphaSql AS alpha
       |  FROM cg4 c JOIN lc USING (scene_id)),
       |sd AS MATERIALIZED (
       |  SELECT c.scene_id,
       |    ((CAST(substring(c.subswath, 3, 1) AS INT) - 1) * $spb + c.gx) AS gxg,
       |    atan2(c.cim, c.cre) AS phs,
       |    (100.0 + 50.0 * sin((c.gx) / 40.0) + 40.0 * cos((c.gy) / 25.0)) AS hseed
       |  FROM cx c
       |  WHERE c.pol = 'VV' AND c.gx % ${Layout.TileW} = 0 AND c.gy % ${Layout.TileH} = 0
       |    AND c.cim <> -9999.0 AND c.cre <> -9999.0),
       |sm AS MATERIALIZED (
       |  SELECT s.scene_id, count(*) AS d,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (-(a.alpha * a.alpha)) * 1.0E6) AS BIGINT)) AS BIGINT) AS aq,
       |    CAST(sum(CAST(floor(0.031415926535897934 + a.alpha * 1.0E6) AS BIGINT)) AS BIGINT) AS bq,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (a.alpha * (s.hseed - a.alpha * s.phs)) * 1.0E6) AS BIGINT)) AS BIGINT) AS eq,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (s.hseed - a.alpha * s.phs) * 1.0E6) AS BIGINT)) AS BIGINT) AS fq
       |  FROM sd s JOIN ac a ON a.scene_id = s.scene_id AND a.gxg = s.gxg
       |  GROUP BY 1),
       |rf AS MATERIALIZED (
       |  SELECT *, (aq / 1.0E6) * d - (-(bq / 1.0E6)) * (bq / 1.0E6) AS denom FROM sm),
       |rf2 AS MATERIALIZED (
       |  SELECT scene_id,
       |    ((aq / 1.0E6) * (fq / 1.0E6) - (-(bq / 1.0E6)) * (eq / 1.0E6)) / denom AS ref_h,
       |    ((eq / 1.0E6) * d - (bq / 1.0E6) * (fq / 1.0E6)) / denom AS ref_p
       |  FROM rf WHERE d > 0 AND denom <> 0),
       |o AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x,
       |    CASE WHEN c.cim = -9999.0 OR c.cre = -9999.0 THEN -9999.0
       |         ELSE r.ref_h + a.alpha * (atan2(c.cim, c.cre) - r.ref_p) END AS out
       |  FROM cx c
       |  JOIN rf2 r ON r.scene_id = c.scene_id
       |  JOIN ac a ON a.scene_id = c.scene_id
       |    AND a.gxg = ((CAST(substring(c.subswath, 3, 1) AS INT) - 1) * $spb + c.gx))
       |$rollup""".stripMargin
  }

  /** q_phase_to_height (jlinda Slant2Height.java:104-230 Schwabisch twin): the
   * per-gx degree-2 fit uses the SAME shared SQL text as the engine
   * (InSAR.s2hCoefSql), then each pixel evaluates h(phi_obs). */
  val phaseToHeight: String = {
    val (a0, a1, a2) = InSAR.s2hCoefSql("g.gx")
    s"""WITH ${SarOracles2.crossCte},
       |gxs AS (SELECT unnest(range(${Layout.SamplesPerBurst})) AS gx),
       |cf AS (SELECT g.gx, $a0 AS a0, $a1 AS a1, $a2 AS a2 FROM gxs g),
       |o AS (
       |  SELECT cx.scene_id, cx.subswath, cx.pol, cx.burst_idx, cx.tile_y, cx.tile_x,
       |    CASE WHEN cx.cim = -9999.0 OR cx.cre = -9999.0 THEN -9999.0
       |         ELSE cf.a0 + cf.a1 * atan2(cx.cim, cx.cre)
       |              + cf.a2 * atan2(cx.cim, cx.cre) * atan2(cx.cim, cx.cre) END AS out
       |  FROM cx JOIN cf ON cf.gx = cx.gx)
       |$rollup""".stripMargin
  }

  val phaseToDisplacement: String =
    s"""WITH ${SarOracles2.crossCte},
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |             CASE WHEN cim = -9999.0 OR cre = -9999.0 THEN -9999.0
       |                  ELSE -${InSAR.Wavelength} / (4 * pi()) * atan2(cim, cre) END AS out
       |      FROM cx)
       |${SarOracles.rollupSql(1e3)}""".stripMargin

  val demodulate: String = {
    val ta = "(b.burst_first_line_time + p.gy * s.azimuth_time_interval)"
    val phi = s"(-pi() * b.doppler_rate * ($ta - b.reference_time) * ($ta - b.reference_time) - 2 * pi() * b.doppler_centroid * $ta)"
    s"""WITH ${SarOracles2.pxCte("tiles", "p0")},
       |p AS (SELECT * FROM p0 WHERE pol = 'VV'),
       |j AS (
       |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |    CASE WHEN p.iv = -9999.0 OR p.qv = -9999.0 THEN -9999.0
       |         ELSE atan2(sin(atan2(p.qv, p.iv) - $phi), cos(atan2(p.qv, p.iv) - $phi)) END AS out
       |  FROM p
       |  JOIN ${fx("bursts")} b ON b.scene_id = p.scene_id AND b.subswath = p.subswath AND b.burst_idx = p.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = p.scene_id),
       |o AS (SELECT * FROM j)
       |$rollup""".stripMargin
  }

  val dinsar: String = {
    def ep(e: Int, n: String) =
      s"""${n}0 AS (
         |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
         |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
         |  FROM ${fx("tiles_stack")} WHERE epoch = $e),
         |$n AS (
         |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, k,
         |         floor(iv0 * 4096) / 4096 AS iv, floor(qv0 * 4096) / 4096 AS qv
         |  FROM ${n}0)""".stripMargin
    val d01 = "atan2(sin(atan2(e1.qv, e1.iv) - atan2(e0.qv, e0.iv)), cos(atan2(e1.qv, e1.iv) - atan2(e0.qv, e0.iv)))"
    val d02 = "atan2(sin(atan2(e2.qv, e2.iv) - atan2(e0.qv, e0.iv)), cos(atan2(e2.qv, e2.iv) - atan2(e0.qv, e0.iv)))"
    s"""WITH ${ep(0, "e0c")},
       |${ep(1, "e1c")},
       |${ep(2, "e2c")},
       |j AS (
       |  SELECT e0.scene_id, e0.subswath, e0.pol, e0.burst_idx, e0.tile_y, e0.tile_x,
       |    CASE WHEN e0.iv = -9999.0 OR e1.iv = -9999.0 OR e2.iv = -9999.0 THEN -9999.0
       |         ELSE atan2(sin($d01 - 0.5 * $d02), cos($d01 - 0.5 * $d02)) END AS out
       |  FROM e0c e0
       |  JOIN e1c e1 ON e1.scene_id = e0.scene_id AND e1.subswath = e0.subswath AND e1.pol = e0.pol
       |    AND e1.burst_idx = e0.burst_idx AND e1.tile_y = e0.tile_y AND e1.tile_x = e0.tile_x AND e1.k = e0.k
       |  JOIN e2c e2 ON e2.scene_id = e0.scene_id AND e2.subswath = e0.subswath AND e2.pol = e0.pol
       |    AND e2.burst_idx = e0.burst_idx AND e2.tile_y = e0.tile_y AND e2.tile_x = e0.tile_x AND e2.k = e0.k),
       |o AS (SELECT * FROM j)
       |$rollup""".stripMargin
  }

  /** q_wind_cmod5: full CMOD5 inversion — per-tile mean NRCS, 200-candidate grid
   * search, first strict minimum (staging mirrors Kernels.cmod5/cmod5Tile). */
  val windCmod5: String = {
    val tileKeys = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"
    s"""WITH $pxCte,
       |t AS (
       |  SELECT $tileKeys,
       |    count(*) FILTER (v <> -9999.0) AS n,
       |    coalesce(sum(v) FILTER (v <> -9999.0), 0) AS sv
       |  FROM px WHERE pol = 'VV' GROUP BY 1, 2, 3, 4, 5, 6),
       |tp AS (
       |  SELECT *, sv / n / 16.0 AS nrcs,
       |    CAST(20.0 AS DOUBLE) + CAST(20.0 AS DOUBLE) * (tile_x * $W + ${W / 2}) / CAST(${Layout.SamplesPerBurst} AS DOUBLE) AS theta,
       |    cos((atan2((burst_idx - 5) / 4.0, 1.0) * 57.29577951308232) * 0.017453292519943295) AS cosfi
       |  FROM t WHERE n > 0),
       |cand AS (SELECT unnest(range(200)) AS ci),
       |e0 AS (SELECT tp.*, cand.ci, CAST(cand.ci + 1 AS DOUBLE) * CAST(0.1 AS DOUBLE) AS vv
       |       FROM tp CROSS JOIN cand),
       |e1 AS (SELECT *, (theta - 40.0) / 25.0 AS x FROM e0),
       |e2 AS (SELECT *, x * x AS xx FROM e1),
       |e3 AS (SELECT *,
       |    -0.688 + -0.793 * x + 0.338 * xx + -0.173 * x * xx AS a0,
       |    0.0 + 0.004 * x AS a1,
       |    0.111 + 0.0162 * x AS a2,
       |    6.7329 + 2.7541 * x + -2.2918 * xx AS gam,
       |    0.4 + -0.6 * x AS s0,
       |    8.39 + -3.44 * x + 1.36 * xx AS v0,
       |    5.35 + 1.99 * x + 0.29 * xx AS d1,
       |    3.80 + 1.53 * x AS d2
       |  FROM e2),
       |e4 AS (SELECT *, a2 * vv AS sres FROM e3),
       |e5 AS (SELECT *, 1.0 / (1.0 + exp(0.0 - greatest(sres, s0))) AS a3 FROM e4),
       |e6 AS (SELECT *, CASE WHEN sres < s0 THEN a3 * pow(sres / s0, s0 * (1.0 - a3)) ELSE a3 END AS a3b FROM e5),
       |e7 AS (SELECT *,
       |    pow(a3b, gam) * pow(10.0, a0 + a1 * vv) AS b0,
       |    (0.045 * (1.0 + x) - 0.007 * vv * (0.5 + x - (exp(2.0 * (4.0 * (x + 0.33 + 0.012 * vv))) - 1.0) / (exp(2.0 * (4.0 * (x + 0.33 + 0.012 * vv))) + 1.0))) / (exp(0.34 * (vv - 22.0)) + 1.0) AS b1,
       |    vv / v0 + 1.0 AS v2
       |  FROM e6),
       |e8 AS (SELECT *, CASE WHEN v2 < 1.95
       |         THEN (1.95 - (1.95 - 1.0) / 3.0) + (1.0 / (3.0 * pow(1.95 - 1.0, 2.0))) * pow(v2 - 1.0, 3.0)
       |         ELSE v2 END AS v2b FROM e7),
       |e9 AS (SELECT *, (0.0 - d1 + d2 * v2b) * exp(0.0 - v2b) AS b2 FROM e8),
       |ea AS (SELECT *, b0 * pow(1.0 + b1 * cosfi + b2 * (2.0 * cosfi * cosfi - 1.0), 1.6) AS nrcsm FROM e9),
       |er AS (SELECT *, abs(nrcs - nrcsm) AS err FROM ea),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY $tileKeys ORDER BY err, ci) AS rn FROM er)
       |SELECT $tileKeys, n AS n_valid, CAST(ci AS BIGINT) AS err_min_idx,
       |       CAST(ci + 1 AS DOUBLE) * CAST(0.1 AS DOUBLE) AS wind_speed
       |FROM rk WHERE rn = 1""".stripMargin
  }

  /** q_oil_spill_cluster: connected components over the oil-spill dark mask with
   * the minimum-slick size gate (mirror of Detection2.oilSpillClusterQuery). */
  val oilSpillCluster: String = {
    val iters = Detection2.CcMaxRounds
    val ccKeysEq = "n.scene_id = d.scene_id AND n.subswath = d.subswath AND n.pol = d.pol AND n.burst_idx = d.burst_idx"
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT d.scene_id, d.subswath, d.pol, d.burst_idx, d.gx, d.gy, min(n.label) AS label
         |  FROM l${i - 1} d CROSS JOIN offs o
         |  JOIN l${i - 1} n ON $ccKeysEq AND n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
         |  GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin
    }.mkString(",\n")
    val offVals = (for (dy <- -1 to 1; dx <- -1 to 1) yield s"($dy, $dx)").mkString(", ")
    s"""WITH $pxvCte,
       |${SarOracleWin.sepWin("pxv", "st", 2, Seq("v" -> "s1"), carry = Seq("v"))},
       |l0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, gx, gy,
       |         CAST(gy * ${Layout.SamplesPerBurst} + gx AS BIGINT) AS label
       |  FROM st WHERE v <> -9999.0 AND n > 0 AND v < ${Detection2.OilK} * (s1 / n)),
       |offs AS (SELECT * FROM (VALUES $offVals) t(dy, dx)),
       |$steps
       |SELECT scene_id, subswath, pol, burst_idx, label,
       |       count(*) AS n_px,
       |       min(gx) AS min_gx, max(gx) AS max_gx,
       |       min(gy) AS min_gy, max(gy) AS max_gy
       |FROM l$iters GROUP BY 1, 2, 3, 4, 5
       |HAVING count(*) >= ${Detection2.OilMinClusterPx}""".stripMargin
  }
}
