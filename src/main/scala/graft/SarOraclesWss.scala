package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.{Deburst, Raster}

/**
 * DuckDB oracles for the WSS / ETAD deburst variants. Both are restated at PIXEL
 * granularity (unnest + group-by output key), independent of the engine's
 * strip-join / array-fold shapes, so an indexing bug in either derivation shows
 * up as a mismatch.
 */
object SarOraclesWss {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH
  private val Q = Raster.quantum(1.0)
  private val Eps = "0.031415926535897934"

  /** q_deburst_wss: per-pixel restatement of DeburstWSSOp.java:429-706 — every
   * burst line maps to target line (burst-1)*pitch + local line; coincident
   * lines resolve per column by PEAK intensity (ties -> earliest burst, the
   * strictly-greater update), `average` mode by the mean of valid intensities;
   * margin columns are dropped. Quantization staged exactly as the engine. */
  val wss: String = {
    val pitch = Layout.LinesPerBurst - Layout.BurstOverlapLines
    val m = Deburst.WssMargin
    val wTotal = Layout.SamplesPerBurst
    s"""WITH px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")}),
       |p2 AS (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |         tile_x * $W + k % $W AS gx,
       |         (burst_idx - 1) * $pitch + tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS line,
       |         CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 OR isnan(iv0) OR isnan(qv0) THEN -9999.0
       |              ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                        + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v,
       |         floor(iv0 * 4096) / 4096 AS ivq
       |  FROM px),
       |pk AS (
       |  SELECT scene_id, subswath, pol, line, gx,
       |         max(v) AS peak,
       |         arg_max(ivq, CAST(v * 16384 AS BIGINT) * 16 - burst_idx) AS peak_i,
       |         avg(v) AS avgv
       |  FROM p2
       |  WHERE v <> -9999.0 AND gx >= $m AND gx <= ${wTotal - m}
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT scene_id, subswath, pol, line,
       |       count(*) AS n_valid,
       |       CAST(sum(CAST(floor($Eps + peak * $Q) AS BIGINT)) AS BIGINT) AS peak_sum_q,
       |       CAST(sum(CAST(floor($Eps + peak_i * $Q) AS BIGINT)) AS BIGINT) AS peak_i_sum_q,
       |       CAST(sum(CAST(floor($Eps + avgv * $Q) AS BIGINT)) AS BIGINT) AS avg_sum_q
       |FROM pk GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** q_etad_deburst: ETADDeburstOp.java:140-232 "All" mode — burst correction
   * grids scattered to the merged grid, overlap resolved by fill order
   * (sIndex asc, burst asc; later overwrites), restated as arg_max(value, ord). */
  val etadDeburst: String = {
    val gr = Deburst.EtadGridRows
    val gc = Deburst.EtadGridCols
    val rp = Deburst.EtadRowPitch
    val cp = Deburst.EtadColPitch
    s"""WITH b AS (
       |  SELECT scene_id, burst_idx, CAST(substring(subswath, 3, 1) AS INT) AS sw
       |  FROM ${fx("bursts")}),
       |cells AS (
       |  SELECT scene_id, sw, burst_idx,
       |         (burst_idx - 1) * $rp + r.r AS y,
       |         (sw - 1) * $cp + c.c AS x,
       |         (burst_idx * 7919 + r.r * 131 + c.c * 17) % 997 AS val_u,
       |         sw * 1000 + burst_idx AS ord
       |  FROM b
       |  CROSS JOIN (SELECT unnest(range($gr)) AS r) r
       |  CROSS JOIN (SELECT unnest(range($gc)) AS c) c),
       |win AS (
       |  SELECT scene_id, y, x, arg_max(val_u, ord) AS v, count(*) AS nw
       |  FROM cells GROUP BY 1, 2, 3)
       |SELECT scene_id, y, count(*) AS n_cells, CAST(sum(v) AS BIGINT) AS val_sum,
       |       CAST(sum(nw) AS BIGINT) AS writers_sum
       |FROM win GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
