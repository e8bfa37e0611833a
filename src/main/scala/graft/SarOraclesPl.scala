package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracle for Phase Linking (PhaseLinkingOp.java:87 twin): the K x K
 * windowed coherency matrix (exact dyadic window sums), then 20 UNROLLED power
 * iterations whose matvec / normalization chains are staged exactly as
 * Kernels.phaseLinkTile (f-ascending left-associated accumulation, uniform
 * diagonal terms with I = 0, per-epoch norm grouping) — bit-identical dominant
 * eigenvectors on both engines.
 */
object SarOraclesPl {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH
  private val K = 5
  private val Iters = 20

  private val pairs: Seq[(Int, Int)] = for (a <- 0 until K; b <- a + 1 until K) yield (a, b)
  private val chanCols: Seq[String] =
    (0 until K).map(e => s"d$e") ++ pairs.flatMap { case (a, b) => Seq(s"cr$a$b", s"ci$a$b") }

  /** R_ef / I_ef SQL atoms of the Hermitian matrix. */
  private def rEf(e: Int, f: Int): String =
    if (f == e) s"d$e" else if (f > e) s"cr$e$f" else s"cr$f$e"
  private def iEf(e: Int, f: Int): String =
    if (f == e) "0.0" else if (f > e) s"ci$e$f" else s"(0.0 - ci$f$e)"

  private def urExpr(e: Int): String =
    (0 until K).map(f => s"${rEf(e, f)} * vr$f - ${iEf(e, f)} * vi$f").mkString(" + ")
  private def uiExpr(e: Int): String =
    (0 until K).map(f => s"${rEf(e, f)} * vi$f + ${iEf(e, f)} * vr$f").mkString(" + ")

  private val keyCols = "scene_id, subswath, pol, burst_idx, tile_y, tile_x, gx, gy"

  private def iterStep(i: Int): String = {
    val vOut = (0 until K).map(e => s"ur$e / nrm AS vr$e, ui$e / nrm AS vi$e").mkString(",\n    ")
    val uDefs = (0 until K).map(e => s"${urExpr(e)} AS ur$e, ${uiExpr(e)} AS ui$e").mkString(",\n      ")
    val nrm = (0 until K).map(e => s"(ur$e * ur$e + ui$e * ui$e)").mkString(" + ")
    s"""p$i AS MATERIALIZED (
       |  SELECT $keyCols, ${chanCols.mkString(", ")},
       |    $vOut
       |  FROM (
       |    SELECT *, sqrt($nrm) AS nrm
       |    FROM (
       |      SELECT *,
       |      $uDefs
       |      FROM p${i - 1}
       |    )
       |  ))""".stripMargin
  }

  /** RPCA change detection oracle: exact integer per-tile Gram, 20 unrolled
   * real power iterations (chains staged exactly as Kernels.rpcaTile), per-pixel
   * rank-1 residual threshold counts. */
  val rpca: String = {
    val tau = ops.Stack.RpcaTau
    val gPairs = for (a <- 0 until K; b <- a until K) yield (a, b)
    def mRef(e: Int, f: Int) = s"(g${math.min(e, f)}_${math.max(e, f)} / 1000.0)"
    val gSums = gPairs.map { case (a, b) =>
      s"CAST(coalesce(sum(CAST(floor(0.031415926535897934 + v$a * v$b * 1000.0) AS BIGINT)) FILTER (valid), 0) AS BIGINT) AS g${a}_$b"
    }.mkString(",\n    ")
    val gCols = gPairs.map { case (a, b) => s"g${a}_$b" }.mkString(", ")
    val uInit = (0 until K).map(e => s"1.0 AS u$e").mkString(", ")
    val steps = (1 to Iters).map { i =>
      val wDefs = (0 until K).map { e =>
        (0 until K).map(f => s"${mRef(e, f)} * u$f").mkString(" + ") + s" AS w$e"
      }.mkString(",\n      ")
      val nrm = (0 until K).map(e => s"w$e * w$e").mkString(" + ")
      val uOut = (0 until K).map(e =>
        s"CASE WHEN nrm > 0.0 THEN w$e / nrm ELSE 0.0 END AS u$e").mkString(",\n    ")
      s"""r$i AS MATERIALIZED (
         |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, $gCols,
         |    $uOut
         |  FROM (
         |    SELECT *, sqrt($nrm) AS nrm
         |    FROM (
         |      SELECT *,
         |      $wDefs
         |      FROM r${i - 1}
         |    )
         |  ))""".stripMargin
    }.mkString(",\n")
    val epochCtes = (0 until K).map { e =>
      s"""s$e AS (
         |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
         |         unnest(range($N)) AS k,
         |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
         |  FROM ${fx("tiles_stack")} WHERE epoch = $e AND burst_idx >= $K)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until K).map(e =>
      s"JOIN s$e q$e ON q$e.scene_id = q0.scene_id AND q$e.subswath = q0.subswath AND q$e.pol = q0.pol " +
        s"AND q$e.burst_idx = q0.burst_idx AND q$e.tile_y = q0.tile_y AND q$e.tile_x = q0.tile_x AND q$e.k = q0.k")
      .mkString("\n  ")
    val vCols = (0 until K).map(e =>
      s"CASE WHEN q$e.iv = -9999.0 OR q$e.qv = -9999.0 THEN -9999.0 ELSE floor((q$e.iv * q$e.iv + q$e.qv * q$e.qv) * 16384) / 16384 END AS v$e").mkString(",\n    ")
    val valid = (0 until K).map(e => s"v$e <> -9999.0").mkString(" AND ")
    val proj = (0 until K).map(e => s"p.v$e * u.u$e").mkString(" + ")
    val cnts = (0 until K).map(e =>
      s"count(*) FILTER (p.valid AND abs(p.v$e - ($proj) * u.u$e) > $tau) AS chg_e$e").mkString(",\n  ")
    s"""WITH $epochCtes,
       |px0 AS (
       |  SELECT q0.scene_id, q0.subswath, q0.pol, q0.burst_idx, q0.tile_y, q0.tile_x, q0.k,
       |    $vCols
       |  FROM s0 q0
       |  $joins),
       |px AS (SELECT *, $valid AS valid FROM px0),
       |r0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    $gSums,
       |    $uInit
       |  FROM px GROUP BY 1, 2, 3, 4, 5, 6),
       |$steps
       |SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |  count(*) FILTER (p.valid) AS n_px,
       |  $cnts
       |FROM px p JOIN r$Iters u USING (scene_id, subswath, pol, burst_idx, tile_y, tile_x)
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  val phaseLink: String = {
    val epochCtes = (0 until K).map { e =>
      s"""e$e AS (
         |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
         |         unnest(range($N)) AS k,
         |         floor(unnest(i) * 4096) / 4096 AS iv, floor(unnest(q) * 4096) / 4096 AS qv
         |  FROM ${fx("tiles_stack")} WHERE epoch = $e AND burst_idx >= $K)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until K).map(e =>
      s"JOIN e$e q$e ON q$e.scene_id = q0.scene_id AND q$e.subswath = q0.subswath AND q$e.pol = q0.pol " +
        s"AND q$e.burst_idx = q0.burst_idx AND q$e.tile_y = q0.tile_y AND q$e.tile_x = q0.tile_x AND q$e.k = q0.k")
      .mkString("\n  ")
    val nd = (0 until K).flatMap(e => Seq(s"q$e.iv = -9999.0", s"q$e.qv = -9999.0")).mkString(" OR ")
    val chans = (0 until K).map(e => s"q$e.iv AS a$e, q$e.qv AS b$e").mkString(",\n    ")
    val winSums = ((0 until K).map(e =>
      s"coalesce(sum(n.a$e * n.a$e + n.b$e * n.b$e) FILTER (n.valid), 0) AS d$e") ++
      pairs.flatMap { case (a, b) => Seq(
        s"coalesce(sum(n.a$a * n.a$b + n.b$a * n.b$b) FILTER (n.valid), 0) AS cr$a$b",
        s"coalesce(sum(n.b$a * n.a$b - n.a$a * n.b$b) FILTER (n.valid), 0) AS ci$a$b")
      }).mkString(",\n    ")
    val trace = (0 until K).map(e => s"d$e").mkString(" + ")
    val vInit = (0 until K).map(e => s"1.0 AS vr$e, 0.0 AS vi$e").mkString(", ")
    val steps = (1 to Iters).map(iterStep).mkString(",\n")
    val phases = (1 until K).map { e =>
      s"""CAST(sum(CAST(floor(0.031415926535897934 +
         |  atan2(vi$e * vr0 - vr$e * vi0, vr$e * vr0 + vi$e * vi0) * 1.0E6) AS BIGINT)) AS BIGINT) AS ph${e}_sum_q""".stripMargin
    }.mkString(",\n  ")
    s"""WITH $epochCtes,
       |px AS (
       |  SELECT q0.scene_id, q0.subswath, q0.pol, q0.burst_idx, q0.tile_y, q0.tile_x,
       |    q0.tile_x * $W + q0.k % $W AS gx,
       |    q0.tile_y * ${Layout.TileH} + CAST(q0.k // $W AS INT) AS gy,
       |    NOT ($nd) AS valid,
       |    $chans
       |  FROM e0 q0
       |  $joins),
       |d AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx), (VALUES (-1), (0), (1)) b(dy)),
       |win AS (
       |  SELECT c.scene_id, c.subswath, c.pol, c.burst_idx, c.tile_y, c.tile_x, c.gx, c.gy,
       |    count(*) FILTER (n.valid) AS n,
       |    $winSums
       |  FROM px c CROSS JOIN d
       |  LEFT JOIN px n ON n.scene_id = c.scene_id AND n.subswath = c.subswath
       |    AND n.burst_idx = c.burst_idx AND n.gx = c.gx + d.dx AND n.gy = c.gy + d.dy
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |p0 AS (
       |  SELECT $keyCols, ${chanCols.mkString(", ")}, $vInit
       |  FROM win WHERE n > 0 AND $trace > 0),
       |$steps
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |  count(*) AS n_valid,
       |  $phases
       |FROM p$Iters GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }
}
