package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout

/**
 * DuckDB oracles for the 5 band/graph plumbing aliases (ops.Bands — reference
 * BandSelectOp.java:44, BandMergeOp.java:51, SetNoDataValueOp.java:35,
 * SubGraphOp.java:26, TileWriterOp.java:50). All checksums are the shared
 * integer-exact quantized-BIGINT sums over the dyadic intensity grid.
 */
object SarOraclesUtil {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH
  private def q6(e: String) = s"CAST(floor(0.031415926535897934 + ($e) * 1.0E6) AS BIGINT)"
  private val keys6 = "scene_id, subswath, pol, burst_idx, tile_y, tile_x"

  /** per-tile (n, sum_q) checksum CTE over a tiles-shaped table. */
  private def sumCte(table: String, name: String): String =
    s"""${name}0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx(table)}),
       |${name}1 AS (
       |  SELECT *, CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 THEN -9999.0
       |       ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                 + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM ${name}0),
       |$name AS (
       |  SELECT $keys6,
       |    count(*) FILTER (v <> -9999.0) AS n,
       |    CAST(coalesce(sum(${q6("v")}) FILTER (v <> -9999.0), 0) AS BIGINT) AS s,
       |    count(*) FILTER (v = -9999.0) AS nd
       |  FROM ${name}1 GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin

  val bandSelect: String =
    s"""WITH ${sumCte("tiles", "ta")}
       |SELECT scene_id, subswath, pol, burst_idx,
       |       count(*) AS n_tiles, CAST(sum(n) AS BIGINT) AS n_valid,
       |       CAST(sum(s) AS BIGINT) AS sum_q
       |FROM ta WHERE pol = 'VV' GROUP BY 1, 2, 3, 4""".stripMargin

  val bandMerge: String =
    s"""WITH ${sumCte("tiles", "ta")},
       |${sumCte("tiles_sec", "tb")}
       |SELECT a.scene_id, a.subswath, a.pol, a.burst_idx, a.tile_y, a.tile_x,
       |       CAST(2 AS BIGINT) AS n_bands,
       |       CAST(a.n + b.n AS BIGINT) AS n_valid,
       |       a.s AS sum_q_a, b.s AS sum_q_b
       |FROM ta a JOIN tb b ON b.scene_id = a.scene_id AND b.subswath = a.subswath
       |  AND b.pol = a.pol AND b.burst_idx = a.burst_idx
       |  AND b.tile_y = a.tile_y AND b.tile_x = a.tile_x""".stripMargin

  val setNoData: String =
    s"""WITH ${sumCte("tiles", "ta")}
       |SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |       CAST(-1.0 AS DOUBLE) AS no_data,
       |       CAST(nd AS BIGINT) AS n_rewritten,
       |       CAST(n AS BIGINT) AS n_valid, s AS sum_q
       |FROM ta""".stripMargin

  /** Calibration(sigma0, closed-form linear LUT surface) -> 4x4 block means,
   * quantized at 1e-7 (the calibration family's cross-engine quantum). */
  val subGraph: String = {
    val looks = ops.Multilook.Looks
    s"""WITH px0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")}),
       |px AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    CAST((k // $W) // $looks AS INT) AS by, CAST((k % $W) // $looks AS INT) AS bx,
       |    tile_x * $W + k % $W AS gx,
       |    (burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gline,
       |    CASE WHEN iv0 = -9999.0 OR qv0 = -9999.0 THEN -9999.0
       |         ELSE floor(((floor(iv0 * 4096) / 4096) * (floor(iv0 * 4096) / 4096)
       |                   + (floor(qv0 * 4096) / 4096) * (floor(qv0 * 4096) / 4096)) * 16384) / 16384 END AS v
       |  FROM px0),
       |cal AS (
       |  SELECT *, CASE WHEN v = -9999.0 THEN NULL
       |       ELSE v / ((500.0 + 0.1 * gline + 0.05 * gx) * (500.0 + 0.1 * gline + 0.05 * gx)) END AS c
       |  FROM px),
       |blk AS (
       |  SELECT $keys6, by, bx, count(c) AS n, sum(c) AS s
       |  FROM cal GROUP BY 1, 2, 3, 4, 5, 6, 7, 8)
       |SELECT $keys6,
       |  count(*) FILTER (n > 0) AS n_blocks,
       |  CAST(coalesce(sum(CAST(floor(0.031415926535897934 + (s / n) * 1.0E7) AS BIGINT)) FILTER (n > 0), 0) AS BIGINT) AS mean_sum_q
       |FROM blk GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  val tileWriter: String =
    s"""SELECT scene_id, subswath, count(*) AS n_tiles,
       |       count(DISTINCT burst_idx) AS n_bursts, count(DISTINCT pol) AS n_pols
       |FROM ${fx("tiles")} GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------ fixture fingerprint gate

  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
  private def fq(x: String) = s"CAST(floor(($x) * 4096) AS BIGINT)"

  /** q_fixture_fingerprint twin of ops.Fingerprint.query: identical canonical
   * strings, identical 60-bit md5 fold, identical bit_xor rollup — green iff
   * both engines read bit-identical fixture parquet (mismatch attribution). */
  val fixtureFingerprint: String = {
    def ck(table: String, keyExpr: String) =
      s"""SELECT '$table' AS tbl, count(*) AS n_rows,
         |  CAST(bit_xor(${h60(keyExpr)}) AS BIGINT) AS ck
         |FROM ${fx(table)}""".stripMargin
    val bursts = ck("bursts",
      s"concat_ws('|', scene_id, subswath, burst_idx, ${fq("burst_first_line_time")}, ${fq("burst_last_line_time")})")
    val scenes = ck("scenes",
      s"concat_ws('|', scene_id, mission, acq_mode, num_subswaths, ${fq("first_line_time")}, ${fq("lon0")}, ${fq("lat0")})")
    val orbit = ck("orbit",
      s"concat_ws('|', scene_id, ${fq("t_sec")}, ${fq("x")}, ${fq("y")}, ${fq("z")})")
    val gcps = ck("gcps",
      "concat_ws('|', gcp_id, scene_id, subswath, pol, burst_idx, cx, cy, true_dx, true_dy)")
    val tiles =
      s"""SELECT 'tiles' AS tbl, count(*) AS n_rows, CAST(bit_xor(xor(xor(
         |    ${h60("concat_ws('|', scene_id, subswath, pol, burst_idx, tile_y, tile_x)")},
         |    list_aggregate(list_transform(i, (x, j) -> ${fq("x")} * 1000003 + (j - 1)), 'bit_xor')),
         |    list_aggregate(list_transform(q, (x, j) -> ${fq("x")} * 999983 + (j - 1)), 'bit_xor'))
         |  ) AS BIGINT) AS ck
         |FROM ${fx("tiles")}""".stripMargin
    Seq(bursts, scenes, orbit, gcps, tiles).mkString("\nUNION ALL\n")
  }
}
