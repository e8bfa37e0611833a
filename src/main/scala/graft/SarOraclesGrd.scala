package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracles for the GRD preprocessing chain: Remove-GRD-Border-Noise
 * (per-row inward threshold scan bounds, RemoveGRDBorderNoiseOp.java:54) and
 * ThermalNoiseRemoval with azimuth noise vectors (IPF >= 2.9,
 * Sentinel1RemoveThermalNoiseOp.java:54 — range LUT x azimuth gain, the 1-D lerp
 * staged exactly as the engine expression).
 */
object SarOraclesGrd {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  val borderNoise: String =
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(v) AS v
       |  FROM ${fx("tiles_grd")}),
       |p2 AS (
       |  SELECT *, tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy
       |  FROM px),
       |bounds AS (
       |  SELECT scene_id, subswath, pol, burst_idx, gy,
       |         min(gx) FILTER (v > ${ops.Grd.BorderThr}) AS lb,
       |         max(gx) FILTER (v > ${ops.Grd.BorderThr}) AS rb
       |  FROM p2 GROUP BY 1, 2, 3, 4, 5)
       |SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |  count(*) FILTER (b.lb IS NOT NULL AND p.gx >= b.lb AND p.gx <= b.rb) AS n_kept,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + p.v * 1.0E6) AS BIGINT))
       |    FILTER (b.lb IS NOT NULL AND p.gx >= b.lb AND p.gx <= b.rb), 0) AS BIGINT) AS kept_sum_q
       |FROM p2 p JOIN bounds b USING (scene_id, subswath, pol, burst_idx, gy)
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** Connected-component clustering oracle: 8 unrolled rounds of 8-connected
   * min-label propagation (mirror of Detection2.objectClusterQuery). */
  val objectCluster: String = {
    val thr = ops.Detection2.ClusterThr
    val iters = ops.Detection2.CcMaxRounds
    val keysEq = "n.scene_id = d.scene_id AND n.subswath = d.subswath AND n.pol = d.pol AND n.burst_idx = d.burst_idx"
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT d.scene_id, d.subswath, d.pol, d.burst_idx, d.gx, d.gy, min(n.label) AS label
         |  FROM l${i - 1} d CROSS JOIN offs o
         |  JOIN l${i - 1} n ON $keysEq AND n.gx = d.gx + o.dx AND n.gy = d.gy + o.dy
         |  GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin
    }.mkString(",\n")
    val offVals = (for (dy <- -1 to 1; dx <- -1 to 1) yield s"($dy, $dx)").mkString(", ")
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |         tile_x * $W + k % $W AS gx,
       |         tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px),
       |l0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, gx, gy,
       |         CAST(gy * ${Layout.SamplesPerBurst} + gx AS BIGINT) AS label
       |  FROM p2 WHERE v <> -9999.0 AND v > $thr),
       |offs AS (SELECT * FROM (VALUES $offVals) t(dy, dx)),
       |$steps
       |SELECT scene_id, subswath, pol, burst_idx, label,
       |       count(*) AS n_px,
       |       min(gx) AS min_gx, max(gx) AS max_gx,
       |       min(gy) AS min_gy, max(gy) AS max_gy
       |FROM l$iters GROUP BY 1, 2, 3, 4, 5
       |HAVING count(*) >= ${ops.Detection2.MinClusterPx} AND count(*) <= ${ops.Detection2.MaxClusterPx}""".stripMargin
  }

  val thermalNoiseAz: String = {
    val lp = Layout.LinesPerBurst
    val b = s"CAST(gline // $lp AS INT)"
    val az = s"(list_extract(azlut, $b + 1) + ((gline - $b * $lp) / $lp.0) * (list_extract(azlut, $b + 2) - list_extract(azlut, $b + 1)))"
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")}),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         tile_x * $W + k % $W AS gx,
       |         (burst_idx - 1) * $lp + tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gline,
       |         CASE WHEN iv = -9999.0 OR qv = -9999.0 THEN -9999.0 ELSE floor(((floor(iv * 4096) / 4096) * (floor(iv * 4096) / 4096) + (floor(qv * 4096) / 4096) * (floor(qv * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px),
       |azl AS (SELECT scene_id, subswath, pol, list(value ORDER BY line) AS azlut
       |        FROM ${fx("noise_az_vectors")} GROUP BY 1, 2, 3),
       |o AS (
       |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.tile_y, p.tile_x,
       |         CASE WHEN p.v = -9999.0 THEN -9999.0
       |              ELSE greatest(0, p.v - (2.0 + 0.01 * gline + 0.004 * gx) * $az) END AS out
       |  FROM p2 p JOIN azl USING (scene_id, subswath, pol))
       |${SarOracles.rollupSql(1.0)}""".stripMargin
  }

  /** q_grd_post (GRDPostProcessOp.java:37-116 twin): per-scene band inventory,
   * single-swath precondition flag, SLC_ -> GRDH_ relabel. */
  val grdPost: String =
    s"""SELECT scene_id,
       |       count(DISTINCT subswath) AS n_swaths,
       |       count(DISTINCT pol) AS n_bands,
       |       count(*) AS n_tiles,
       |       count(DISTINCT subswath) = 1 AS swaths_merged,
       |       replace('SLC_' || scene_id, 'SLC_', 'GRDH_') AS product,
       |       'GRD' AS product_type
       |FROM ${fx("tiles_grd")} GROUP BY 1""".stripMargin
}
