package graft

import graft.gen.OracleFixtures.fx

/**
 * DuckDB twins for the spatial-join-engine gates (geom/Spatial.scala,
 * lineage/Checkpoint.scala). All four are integer-exact or identical-IEEE
 * derivations: the kNN oracle is a plain brute-force cross join (a genuinely
 * different algorithm from the engine's certified ring expansion), the
 * compaction oracle an unrolled per-level CTE chain, the zonal oracle a full
 * pixel unnest + inequality join (no cell prefilter — independent derivation),
 * and the lineage manifest the same md5-60-bit checksum the library helper
 * defines.
 */
object GeoOracles {

  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** q_spatial_knn: brute-force exact kNN (integer microdegree metric). */
  val spatialKnn: String =
    s"""WITH qc AS (SELECT aoi_id,
       |  CAST(floor((lon_min + lon_max) / 2 * 1e6) AS BIGINT) AS qx,
       |  CAST(floor((lat_min + lat_max) / 2 * 1e6) AS BIGINT) AS qy
       |  FROM ${fx("aoi")}),
       |pc AS (SELECT scene_id, subswath, burst_idx,
       |  CAST(floor((lon1 + lon2 + lon3 + lon4) / 4 * 1e6) AS BIGINT) AS px,
       |  CAST(floor((lat1 + lat2 + lat3 + lat4) / 4 * 1e6) AS BIGINT) AS py
       |  FROM ${fx("bursts")}),
       |d AS (SELECT aoi_id, scene_id, subswath, burst_idx,
       |        (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2,
       |        row_number() OVER (PARTITION BY aoi_id
       |          ORDER BY (px - qx) * (px - qx) + (py - qy) * (py - qy),
       |                   scene_id, subswath, burst_idx) AS rank
       |      FROM qc, pc)
       |SELECT aoi_id, rank, scene_id, subswath, burst_idx, d2
       |FROM d WHERE rank <= 5 ORDER BY aoi_id, rank""".stripMargin

  /** q_cell_compact: unrolled full-quad -> parent promotion, levels 11 -> 8. */
  val cellCompact: String = {
    val mask = (1L << 29) - 1
    def step(lvl: Int): String = {
      val prev = if (lvl == 11) "c11" else s"c${lvl + 1}x"
      s"""p$lvl AS (SELECT aoi_id, cell,
         |  (${lvl - 1}::BIGINT << 58) | ((((cell >> 29) & $mask) >> 1) << 29) | ((cell & $mask) >> 1) AS parent
         |  FROM $prev WHERE (cell >> 58) = $lvl),
         |f$lvl AS (SELECT aoi_id, parent FROM p$lvl GROUP BY 1, 2 HAVING count(*) = 4),
         |c${lvl}x AS (
         |  SELECT aoi_id, cell FROM $prev WHERE (cell >> 58) <> $lvl
         |  UNION ALL SELECT aoi_id, parent AS cell FROM f$lvl
         |  UNION ALL SELECT p.aoi_id, p.cell FROM p$lvl p ANTI JOIN f$lvl f USING (aoi_id, parent))""".stripMargin
    }
    s"""WITH b AS (SELECT aoi_id,
       |  CAST(least(2047, greatest(0, floor((lon_min + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS x0,
       |  CAST(least(2047, greatest(0, floor((lon_max + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS x1,
       |  CAST(least(2047, greatest(0, floor((lat_min + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS y0,
       |  CAST(least(2047, greatest(0, floor((lat_max + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS y1
       |  FROM ${fx("aoi")}),
       |ys AS (SELECT aoi_id, x0, x1, unnest(generate_series(y0, y1)) AS yy FROM b),
       |xs AS (SELECT aoi_id, yy, unnest(generate_series(x0, x1)) AS xx FROM ys),
       |c11 AS (SELECT aoi_id, (11::BIGINT << 58) | (yy << 29) | xx AS cell FROM xs),
       |${step(11)},
       |${step(10)},
       |${step(9)}
       |SELECT aoi_id, (cell >> 58) AS level, cell FROM c9x
       |ORDER BY aoi_id, level, cell""".stripMargin
  }

  /** q_zonal_stats: full pixel unnest + inequality join (no prefilter). */
  val zonalStats: String =
    s"""WITH t AS (SELECT scene_id, subswath, burst_idx, tile_x, tile_y, no_data,
       |  unnest(i) AS iv, unnest(q) AS qv, unnest(generate_series(0, 1023)) AS k
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |g AS (SELECT t.*, b.lon1, b.lat1, b.lon2, b.lat2, b.lon4, b.lat4
       |      FROM t JOIN ${fx("bursts")} b USING (scene_id, subswath, burst_idx)
       |      WHERE iv <> no_data),
       |px AS (SELECT *,
       |         (tile_x * 32 + k % 32 + 0.5) / 128 AS u,
       |         (tile_y * 32 + floor(k / 32) + 0.5) / 64 AS v
       |       FROM g),
       |geo AS (SELECT *, lon1 + u * (lon2 - lon1) + v * (lon4 - lon1) AS lon,
       |               lat1 + v * (lat4 - lat1) AS lat FROM px)
       |SELECT a.aoi_id, count(*) AS n_px,
       |       count(DISTINCT (scene_id, subswath, burst_idx, tile_x, tile_y)) AS n_tiles,
       |       CAST(sum(CAST(floor(0.031415926535897934 + (iv * iv + qv * qv) * 1e6) AS BIGINT)) AS BIGINT) AS pow_q
       |FROM geo, ${fx("aoi")} a
       |WHERE lon BETWEEN a.lon_min AND a.lon_max AND lat BETWEEN a.lat_min AND a.lat_max
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_within_dist: brute-force within-distance pair self-join (no grid). */
  val withinDist: String = withinDistSql(graft.geom.Spatial.PairDistUs)

  private def withinDistSql(dUs: Long): String =
    s"""WITH pc AS (SELECT scene_id, subswath, burst_idx,
       |  CAST(floor((lon1 + lon2 + lon3 + lon4) / 4 * 1e6) AS BIGINT) AS px,
       |  CAST(floor((lat1 + lat2 + lat3 + lat4) / 4 * 1e6) AS BIGINT) AS py
       |  FROM ${fx("bursts")})
       |SELECT a.scene_id AS scene_a, a.subswath AS subswath_a, a.burst_idx AS burst_a,
       |       b.scene_id AS scene_b, b.subswath AS subswath_b, b.burst_idx AS burst_b,
       |       (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py) AS d2
       |FROM pc a, pc b
       |WHERE (a.scene_id, a.subswath, a.burst_idx) < (b.scene_id, b.subswath, b.burst_idx)
       |  AND (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
       |      <= ${dUs * dUs}
       |ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_footprint_intersects: brute-force exact convex quad x rect intersects
   * join — same integer three-clause predicate, NO bbox/cell prefilter (an
   * independent candidate derivation). */
  val footprintIntersects: String = {
    def cross(ax: String, ay: String, bx: String, by: String, px: String, py: String) =
      s"(($bx - $ax) * ($py - $ay) - ($by - $ay) * ($px - $ax))"
    val vs = (1 to 4).map(i => (s"x$i", s"y$i"))
    val rcs = Seq(("rx0", "ry0"), ("rx1", "ry0"), ("rx1", "ry1"), ("rx0", "ry1"))
    val quadEdges = vs.zip(vs.tail :+ vs.head)
    val rectEdges = rcs.zip(rcs.tail :+ rcs.head)
    val vertexInRect = vs.map { case (x, y) =>
      s"($x BETWEEN rx0 AND rx1 AND $y BETWEEN ry0 AND ry1)"
    }.mkString("(", " OR ", ")")
    val cornerInQuad = rcs.map { case (px, py) =>
      quadEdges.map { case ((ax, ay), (bx, by)) =>
        s"${cross(ax, ay, bx, by, px, py)} >= 0"
      }.mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
    def proper(c1: String, c2: String) =
      s"(($c1 > 0 AND $c2 < 0) OR ($c1 < 0 AND $c2 > 0))"
    val edgeCross = (for {
      ((ax, ay), (bx, by)) <- quadEdges
      ((cx, cy), (dx, dy)) <- rectEdges
    } yield s"(${proper(cross(ax, ay, bx, by, cx, cy), cross(ax, ay, bx, by, dx, dy))}" +
            s" AND ${proper(cross(cx, cy, dx, dy, ax, ay), cross(cx, cy, dx, dy, bx, by))})"
    ).mkString("(", " OR ", ")")
    val qCorners = (1 to 4).map(i =>
      s"CAST(floor(lon$i * 1e6) AS BIGINT) AS x$i, CAST(floor(lat$i * 1e6) AS BIGINT) AS y$i"
    ).mkString(", ")
    s"""WITH q AS (SELECT scene_id, subswath, burst_idx, $qCorners FROM ${fx("bursts")}),
       |r AS (SELECT aoi_id,
       |  CAST(floor(lon_min * 1e6) AS BIGINT) AS rx0, CAST(floor(lat_min * 1e6) AS BIGINT) AS ry0,
       |  CAST(floor(lon_max * 1e6) AS BIGINT) AS rx1, CAST(floor(lat_max * 1e6) AS BIGINT) AS ry1
       |  FROM ${fx("aoi")})
       |SELECT aoi_id, scene_id, subswath, burst_idx,
       |  CASE WHEN $vertexInRect THEN 'vertex_in_rect'
       |       WHEN $cornerInQuad THEN 'corner_in_quad'
       |       ELSE 'edge_cross' END AS via
       |FROM q, r
       |WHERE $vertexInRect OR $cornerInQuad OR $edgeCross
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** q_track_cells: the identical fixed-point column-scan rasterization,
   * restated as an unrolled chain of unnests over the same integer lattice
   * (2^25 x 2^24 fixed point, exact floor division via sign-corrected mod). */
  val trackCells: String = {
    def fpx(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpy(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    val edgeLegs = (1 to 4).map { i =>
      val j = i % 4 + 1
      s"SELECT scene_id, subswath, burst_idx, $i AS edge, fx$i AS ax, fy$i AS ay, fx$j AS bx, fy$j AS by FROM c"
    }.mkString("\n UNION ALL ")
    // exact floor division p/q (q > 0): subtract the sign-corrected mod first
    def fdiv(p: String, q: String) = s"((($p) - (((($p) % ($q)) + ($q)) % ($q))) // ($q))"
    def yAt(x: String) = s"(y0 + ${fdiv(s"(($x) - x0) * dy", "dx")})"
    s"""WITH c AS (SELECT scene_id, subswath, burst_idx,
       |  ${(1 to 4).map(i => s"${fpx(s"lon$i")} AS fx$i, ${fpy(s"lat$i")} AS fy$i").mkString(", ")}
       |  FROM ${fx("bursts")}),
       |e AS ($edgeLegs),
       |o AS (SELECT scene_id, subswath, burst_idx, edge,
       |  CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN bx ELSE ax END AS x0,
       |  CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN by ELSE ay END AS y0,
       |  CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN ax ELSE bx END AS x1,
       |  CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN ay ELSE by END AS y1
       |  FROM e),
       |o2 AS (SELECT *, x1 - x0 AS dx, y1 - y0 AS dy FROM o),
       |cols AS (SELECT *, unnest(generate_series(x0 >> 14, x1 >> 14)) AS ix FROM o2),
       |sp AS (SELECT *, greatest(x0, ix * 16384) AS xe, least(x1, (ix + 1) * 16384 - 1) AS xx FROM cols),
       |yy AS (SELECT *,
       |  CASE WHEN dx = 0 THEN least(y0, y1) ELSE ${yAt("xe")} END AS ye,
       |  CASE WHEN dx = 0 THEN greatest(y0, y1) ELSE ${yAt("xx")} END AS yx
       |  FROM sp),
       |rows_ AS (SELECT *, unnest(generate_series(least(ye, yx) >> 13, greatest(ye, yx) >> 13)) AS iy FROM yy)
       |SELECT scene_id, subswath, burst_idx, edge,
       |  (11::BIGINT << 58) | (iy << 29) | ix AS cell
       |FROM rows_ ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_manifest_prune: full-scan recomputation of the per-partition stats AND
   * the exact predicate count — the engine computes n_match only from the
   * partitions its manifest planner kept, so equality here proves the pruning
   * lost no matching row. */
  val manifestPrune: String = {
    val (lo, hi) = (graft.lineage.Checkpoint.PruneLo, graft.lineage.Checkpoint.PruneHi)
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, s.media_ref AS mr, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT p[3] AS scene_id,
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |q AS (SELECT scene_id, CAST(floor(lon * 1e6) AS BIGINT) AS lon_q FROM m)
       |SELECT scene_id AS part_key, count(*) AS n_rows,
       |       min(lon_q) AS min_q, max(lon_q) AS max_q,
       |       CAST(CASE WHEN min(lon_q) <= $hi AND max(lon_q) >= $lo THEN 1 ELSE 0 END AS BIGINT) AS scanned,
       |       CAST(sum(CASE WHEN lon_q BETWEEN $lo AND $hi THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_polyfill: the identical exact integer polyfill restated over a full
   * generate_series cell grid (no Spark plan shared — same fp lattice, same
   * three-clause convex predicate, pure BIGINT arithmetic). */
  val polyfill: String =
    s"""$polyfillCtes
       |SELECT scene_id, subswath, burst_idx,
       |  (13::BIGINT << 58) | (iy << 29) | ix AS cell, kind
       |FROM k WHERE kind IS NOT NULL ORDER BY 1, 2, 3, 4""".stripMargin

  /** Shared polyfill CTE chain (fp-lattice corners, bbox cell grid, exact
   * classification) — the suffix of both the polyfill and buffer oracles. */
  private lazy val polyfillCtes: String = {
    def fpx(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpy(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    def cross(ax: String, ay: String, bx: String, by: String, px: String, py: String) =
      s"(($bx - $ax) * ($py - $ay) - ($by - $ay) * ($px - $ax))"
    val vs = (1 to 4).map(i => (s"fx$i", s"fy$i"))
    val quadEdges = vs.zip(vs.tail :+ vs.head)
    val rcs = Seq(("cx0", "cy0"), ("cx1", "cy0"), ("cx1", "cy1"), ("cx0", "cy1"))
    val rectEdges = rcs.zip(rcs.tail :+ rcs.head)
    val interior = rcs.map { case (px, py) =>
      quadEdges.map { case ((ax, ay), (bx, by)) =>
        s"${cross(ax, ay, bx, by, px, py)} > 0"
      }.mkString("(", " AND ", ")")
    }.mkString("(", " AND ", ")")
    val vertexInRect = vs.map { case (x, y) =>
      s"($x BETWEEN cx0 AND cx1 AND $y BETWEEN cy0 AND cy1)"
    }.mkString("(", " OR ", ")")
    val cornerInQuad = rcs.map { case (px, py) =>
      quadEdges.map { case ((ax, ay), (bx, by)) =>
        s"${cross(ax, ay, bx, by, px, py)} >= 0"
      }.mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
    def proper(c1: String, c2: String) =
      s"(($c1 > 0 AND $c2 < 0) OR ($c1 < 0 AND $c2 > 0))"
    val edgeCross = (for {
      ((ax, ay), (bx, by)) <- quadEdges
      ((cx, cy), (dx, dy)) <- rectEdges
    } yield s"(${proper(cross(ax, ay, bx, by, cx, cy), cross(ax, ay, bx, by, dx, dy))}" +
            s" AND ${proper(cross(cx, cy, dx, dy, ax, ay), cross(cx, cy, dx, dy, bx, by))})"
    ).mkString("(", " OR ", ")")
    s"""WITH q AS (SELECT scene_id, subswath, burst_idx,
       |  ${(1 to 4).map(i => s"${fpx(s"lon$i")} AS fx$i, ${fpy(s"lat$i")} AS fy$i").mkString(", ")}
       |  FROM ${fx("bursts")}),
       |cols AS (SELECT *, unnest(generate_series(
       |  least(fx1, fx2, fx3, fx4) >> 12, greatest(fx1, fx2, fx3, fx4) >> 12)) AS ix FROM q),
       |cand AS (SELECT *, unnest(generate_series(
       |  least(fy1, fy2, fy3, fy4) >> 11, greatest(fy1, fy2, fy3, fy4) >> 11)) AS iy FROM cols),
       |rect AS (SELECT *, ix * 4096 AS cx0, (ix + 1) * 4096 - 1 AS cx1,
       |                   iy * 2048 AS cy0, (iy + 1) * 2048 - 1 AS cy1 FROM cand),
       |k AS (SELECT scene_id, subswath, burst_idx, ix, iy,
       |  CASE WHEN $interior THEN 'in'
       |       WHEN $vertexInRect OR $cornerInQuad OR $edgeCross THEN 'bd' END AS kind
       |  FROM rect)""".stripMargin
  }

  /** q_cell_buffer: the same morphological dilation restated over the shared
   * polyfill CTE chain (9-offset cross join, DISTINCT, ANTI JOIN provenance). */
  val cellBuffer: String = {
    val offs = (for (dy <- -1 to 1; dx <- -1 to 1) yield s"($dy, $dx)").mkString(", ")
    s"""$polyfillCtes,
       |fill AS (SELECT scene_id, subswath, burst_idx,
       |  (13::BIGINT << 58) | (iy << 29) | ix AS cell, ix, iy
       |  FROM k WHERE kind IS NOT NULL),
       |off AS (SELECT * FROM (VALUES $offs) t(dy, dx)),
       |dil AS (SELECT DISTINCT scene_id, subswath, burst_idx,
       |  (13::BIGINT << 58) | ((iy + dy) << 29) | (ix + dx) AS cell
       |  FROM fill CROSS JOIN off
       |  WHERE ix + dx BETWEEN 0 AND 8191 AND iy + dy BETWEEN 0 AND 8191),
       |ring AS (SELECT d.scene_id, d.subswath, d.burst_idx, d.cell FROM dil d
       |         ANTI JOIN fill f USING (scene_id, subswath, burst_idx, cell))
       |SELECT scene_id, subswath, burst_idx, cell, 'fill' AS kind FROM fill
       |UNION ALL
       |SELECT scene_id, subswath, burst_idx, cell, 'ring' AS kind FROM ring
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** q_union_area: the same half-open scanline union, restated as DuckDB
   * windows over the identical deterministic total order. */
  val unionArea: String =
    s"""WITH r AS (SELECT scene_id, subswath, burst_idx,
       |  CAST(floor(least(lon1, lon2, lon3, lon4) * 1e6) AS BIGINT) AS x0,
       |  CAST(floor(greatest(lon1, lon2, lon3, lon4) * 1e6) AS BIGINT) AS x1,
       |  CAST(floor(least(lat1, lat2, lat3, lat4) * 1e6) AS BIGINT) AS y0,
       |  CAST(floor(greatest(lat1, lat2, lat3, lat4) * 1e6) AS BIGINT) AS y1
       |  FROM ${fx("bursts")}),
       |xs AS (SELECT DISTINCT scene_id, x FROM (
       |  SELECT scene_id, x0 AS x FROM r UNION ALL SELECT scene_id, x1 FROM r)),
       |sl AS (SELECT scene_id, x AS xs,
       |         lead(x) OVER (PARTITION BY scene_id ORDER BY x) AS xe FROM xs),
       |cov AS (SELECT s.scene_id, s.xs, s.xe, r.y0, r.y1, r.subswath, r.burst_idx
       |        FROM sl s JOIN r USING (scene_id)
       |        WHERE s.xe IS NOT NULL AND r.x0 <= s.xs AND r.x1 >= s.xe),
       |w AS (SELECT *, max(y1) OVER (PARTITION BY scene_id, xs
       |        ORDER BY y0, y1, subswath, burst_idx
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax FROM cov),
       |isl AS (SELECT *, sum(CASE WHEN runmax IS NULL OR y0 > runmax THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY scene_id, xs
       |            ORDER BY y0, y1, subswath, burst_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM w),
       |im AS (SELECT scene_id, xs, xe, island, max(y1) - min(y0) AS ylen
       |       FROM isl GROUP BY 1, 2, 3, 4),
       |sm AS (SELECT scene_id, xs, xe, sum(ylen) AS ymass FROM im GROUP BY 1, 2, 3),
       |a AS (SELECT scene_id, CAST(sum(ymass * (xe - xs)) AS BIGINT) AS area,
       |        count(*) AS n_slabs FROM sm GROUP BY 1),
       |n AS (SELECT scene_id, count(*) AS n_rects FROM r GROUP BY 1)
       |SELECT scene_id, n_rects, n_slabs, area
       |FROM a JOIN n USING (scene_id) ORDER BY 1""".stripMargin

  /** q_shoelace: exact integer shoelace area + centroid, re-based to the
   * first corner, sign-corrected floor division (pure BIGINT throughout). */
  val shoelace: String = {
    def fdiv(p: String, q: String) = s"((($p) - (((($p) % ($q)) + ($q)) % ($q))) // ($q))"
    def xi(i: Int) = s"(CAST(floor(lon$i * 1e6) AS BIGINT) - CAST(floor(lon1 * 1e6) AS BIGINT))"
    def yi(i: Int) = s"(CAST(floor(lat$i * 1e6) AS BIGINT) - CAST(floor(lat1 * 1e6) AS BIGINT))"
    def cr(i: Int) = { val j = i % 4 + 1; s"(${xi(i)} * ${yi(j)} - ${xi(j)} * ${yi(i)})" }
    val area2 = (1 to 4).map(cr).mkString(" + ")
    val cxNum = (1 to 4).map { i => val j = i % 4 + 1; s"(${xi(i)} + ${xi(j)}) * ${cr(i)}" }.mkString(" + ")
    val cyNum = (1 to 4).map { i => val j = i % 4 + 1; s"(${yi(i)} + ${yi(j)}) * ${cr(i)}" }.mkString(" + ")
    s"""WITH m AS (SELECT scene_id, subswath, burst_idx,
       |  CAST(floor(lon1 * 1e6) AS BIGINT) AS ox, CAST(floor(lat1 * 1e6) AS BIGINT) AS oy,
       |  ($area2) AS area2, ($cxNum) AS cx_num, ($cyNum) AS cy_num
       |  FROM ${fx("bursts")})
       |SELECT scene_id, subswath, burst_idx, area2,
       |  ox + ${fdiv("cx_num", "3 * area2")} AS cx,
       |  oy + ${fdiv("cy_num", "3 * area2")} AS cy
       |FROM m ORDER BY 1, 2, 3""".stripMargin
  }

  /** q_zorder: 22-bit Morton interleave + Z-range bucket rollup (unrolled bit
   * terms, pure integer). */
  val zorder: String = {
    val z = (0 until 11).map(b =>
      s"(((ix >> $b) & 1) << ${2 * b}) + (((iy >> $b) & 1) << ${2 * b + 1})").mkString(" + ")
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |        CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |      FROM m),
       |zz AS (SELECT ix, iy, ($z) AS z FROM pt)
       |SELECT z >> ${graft.geom.Spatial.ZBucketShift} AS bucket,
       |       count(*) AS n_pts, count(DISTINCT (iy << 11) | ix) AS n_cells,
       |       min(z) AS zmin, max(z) AS zmax
       |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Shared xy2d Hilbert CTE chain (11 chained rewrite rounds, DuckDB xor()
   * — `^` is exponent there; pure BIGINT); final CTE `r0` carries (cell, hd). */
  private lazy val hilbertCtes: String = {
    val rounds = (0 until 11).reverse.map { k =>
      val s = 1L << k
      val prev = if (k == 10) "r11" else s"r${k + 1}"
      s"""r$k AS (SELECT cell,
         |  hd + ${s * s} * xor(3 * rx, ry) AS hd,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy
         |  FROM (SELECT cell, hd, hx, hy,
         |    CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM $prev) t)""".stripMargin
    }.mkString(",\n")
    s"""sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |        CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |      FROM m),
       |r11 AS (SELECT (11::BIGINT << 58) | (iy << 29) | ix AS cell,
       |        ix AS hx, iy AS hy, 0::BIGINT AS hd FROM pt),
       |$rounds""".stripMargin
  }

  /** q_hilbert: Hilbert layout-planning rollup over the shared CTE chain. */
  val hilbert: String =
    s"""WITH $hilbertCtes
       |SELECT hd >> ${graft.geom.Spatial.ZBucketShift} AS bucket,
       |       count(*) AS n_pts, count(DISTINCT cell) AS n_cells,
       |       min(hd) AS hmin, max(hd) AS hmax
       |FROM r0 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_spatial_partition: balanced Hilbert range partitioning — exact
   * cumulative point mass over the cell frame, greedy contiguous assignment
   * to P ranges, per-partition load audit in ppm of the P-way ideal. */
  val spatialPartition: String = {
    val p = graft.geom.Spatial.RangeParts
    s"""WITH $hilbertCtes,
       |cells AS (SELECT hd, CAST(count(*) AS BIGINT) AS n_pts FROM r0 GROUP BY 1),
       |cum AS (SELECT hd, n_pts,
       |          CAST(sum(n_pts) OVER (ORDER BY hd
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |        FROM cells),
       |tot AS (SELECT CAST(sum(n_pts) AS BIGINT) AS total FROM cells)
       |SELECT least(${p - 1}, ((cum - 1) * $p) // total) AS part,
       |  count(*) AS n_cells, CAST(sum(n_pts) AS BIGINT) AS n_pts,
       |  min(hd) AS hmin, max(hd) AS hmax,
       |  (CAST(sum(n_pts) AS BIGINT) * $p * 1000000) // max(total) AS load_ppm
       |FROM cum, tot GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_coverage_gap: AOI fp-lattice grid anti-joined against the shared
   * polyfill CTE chain's covered cells (NOT EXISTS form). */
  val coverageGap: String = {
    def fpx(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpy(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    s"""$polyfillCtes,
       |cov AS (SELECT DISTINCT ix, iy FROM k WHERE kind IS NOT NULL),
       |ab AS (SELECT aoi_id,
       |  ${fpx("lon_min")} AS fx0, ${fpx("lon_max")} AS fx1,
       |  ${fpy("lat_min")} AS fy0, ${fpy("lat_max")} AS fy1
       |  FROM ${fx("aoi")}),
       |ac AS (SELECT aoi_id, fy0, fy1,
       |         unnest(generate_series(fx0 >> 12, fx1 >> 12)) AS ix FROM ab),
       |ag AS (SELECT aoi_id, ix,
       |         unnest(generate_series(fy0 >> 11, fy1 >> 11)) AS iy FROM ac),
       |j AS (SELECT g.aoi_id, g.ix, g.iy,
       |        EXISTS (SELECT 1 FROM cov c WHERE c.ix = g.ix AND c.iy = g.iy) AS hit
       |      FROM ag g)
       |SELECT aoi_id, count(*) AS n_cells,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |       CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_gap,
       |       CAST(sum(CASE WHEN hit THEN 0 ELSE iy * 8192 + ix END) AS BIGINT) AS gap_sum
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_tile_pyramid: the identical quadtree rollup as a per-level chained
   * CTE cascade (pure integer id arithmetic). */
  val tilePyramid: String = {
    val mask = (1L << 29) - 1
    def step(lvl: Int): String = {
      val prev = if (lvl == 10) "l11" else s"l${lvl + 1}"
      s"""l$lvl AS (SELECT ($lvl::BIGINT << 58) | ((((cell >> 29) & $mask) >> 1) << 29) | (((cell & $mask) >> 1)) AS cell,
         |  CAST(sum(n) AS BIGINT) AS n FROM $prev GROUP BY 1)""".stripMargin
    }
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |        CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |      FROM m),
       |l11 AS (SELECT (11::BIGINT << 58) | (iy << 29) | ix AS cell,
       |        CAST(count(*) AS BIGINT) AS n FROM pt GROUP BY 1),
       |${step(10)},
       |${step(9)},
       |${step(8)}
       |SELECT (cell >> 58) AS level, cell, n FROM (
       |  SELECT * FROM l11 UNION ALL SELECT * FROM l10
       |  UNION ALL SELECT * FROM l9 UNION ALL SELECT * FROM l8)
       |ORDER BY 1, 2""".stripMargin
  }

  /** q_dbscan: grid DBSCAN recomputed with a genuinely different clustering
   * algorithm — WITH RECURSIVE transitive closure over the core-cell adjacency
   * graph (reachability + min-reachable-id), vs the engine's iterative
   * convergence-checked min-label propagation. Same integer lattice, same
   * density rule, independent fixpoint computation. */
  val dbscan: String = {
    val minPts = graft.geom.Dbscan.MinPts
    val offs = (for (dy <- -1 to 1; dx <- -1 to 1) yield s"($dy, $dx)").mkString(", ")
    s"""WITH RECURSIVE sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, s."offset" AS o, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT doc_id, o,
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT doc_id, o,
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |        CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |      FROM m),
       |cnt AS (SELECT ix, iy, count(*) AS n FROM pt GROUP BY 1, 2),
       |off AS (SELECT * FROM (VALUES $offs) t(dy, dx)),
       |dens AS (SELECT c.ix + o.dx AS ix, c.iy + o.dy AS iy, sum(c.n) AS nbr_n
       |         FROM cnt c CROSS JOIN off o
       |         WHERE c.ix + o.dx BETWEEN 0 AND 2047 AND c.iy + o.dy BETWEEN 0 AND 2047
       |         GROUP BY 1, 2),
       |core AS (SELECT d.ix, d.iy FROM dens d JOIN cnt USING (ix, iy)
       |         WHERE d.nbr_n >= $minPts),
       |edge AS (SELECT a.ix AS ax, a.iy AS ay, b.ix AS bx, b.iy AS by
       |         FROM core a JOIN core b
       |           ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1),
       |r AS (SELECT ix, iy, (11::BIGINT << 58) | (iy << 29) | ix AS lbl FROM core
       |      UNION
       |      SELECT e.ax AS ix, e.ay AS iy, r.lbl FROM r JOIN edge e
       |        ON e.bx = r.ix AND e.by = r.iy),
       |lab AS (SELECT ix, iy, min(lbl) AS label FROM r GROUP BY 1, 2),
       |bord AS (SELECT c.ix, c.iy, min(l.label) AS blabel
       |         FROM cnt c CROSS JOIN off o
       |         JOIN lab l ON l.ix = c.ix + o.dx AND l.iy = c.iy + o.dy
       |         GROUP BY 1, 2),
       |cellrole AS (SELECT c.ix, c.iy,
       |    CASE WHEN l.label IS NOT NULL THEN 'core'
       |         WHEN b.blabel IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
       |    coalesce(l.label, b.blabel) AS cluster
       |  FROM cnt c LEFT JOIN lab l USING (ix, iy) LEFT JOIN bord b USING (ix, iy))
       |SELECT p.doc_id, p.o AS "offset", cr.role, cr.cluster
       |FROM pt p JOIN cellrole cr USING (ix, iy)
       |ORDER BY 1, 2""".stripMargin
  }

  /** q_geofence: planted-position containment restated as a plain inequality
   * join (no cell prefilter — independent candidate derivation; identical-IEEE
   * position arithmetic, same op order as the engine). */
  val geofence: String =
    s"""WITH pos AS (SELECT event_type, value,
       |    -30.0 + CAST(h % 1000000 AS DOUBLE) / 1e6 * 10.0 AS lon,
       |    10.0 + CAST((h // 1000000) % 1000000 AS DOUBLE) / 1e6 * 2.0 AS lat
       |  FROM (SELECT event_type, value,
       |          ${h60("'g:' || CAST(event_id AS VARCHAR)")} AS h FROM events))
       |SELECT a.aoi_id, p.event_type, count(*) AS n_events,
       |       CAST(sum(CAST(floor(p.value * 100) AS BIGINT)) AS BIGINT) AS value_c
       |FROM pos p JOIN ${fx("aoi")} a
       |  ON p.lon BETWEEN a.lon_min AND a.lon_max
       | AND p.lat BETWEEN a.lat_min AND a.lat_max
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_heatmap: the DIRECT 2-D 25-term binomial scatter — deliberately the
   * other factorization of the separable kernel the engine runs as two 1-D
   * passes; agreement checks the algebra, not the plan. */
  val heatmap: String = {
    val w = Seq(1, 4, 6, 4, 1)
    val offs = (for (dy <- -2 to 2; dx <- -2 to 2)
      yield s"($dy, $dx, ${w(dy + 2) * w(dx + 2)})").mkString(", ")
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |        CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |      FROM m),
       |cnt AS (SELECT ix, iy, count(*) AS n FROM pt GROUP BY 1, 2),
       |off AS (SELECT * FROM (VALUES $offs) t(dy, dx, w))
       |SELECT (11::BIGINT << 58) | ((c.iy + o.dy) << 29) | (c.ix + o.dx) AS cell,
       |       CAST(sum(c.n * o.w) AS BIGINT) AS density
       |FROM cnt c CROSS JOIN off o
       |WHERE c.ix + o.dx BETWEEN 0 AND 2047 AND c.iy + o.dy BETWEEN 0 AND 2047
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_lineage_manifest: per-scene semantic manifest (rows + md5-60 checksum). */
  val lineageManifest: String =
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |m AS (SELECT doc_id, s."offset" AS o, s.media_ref AS mr,
       |             string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media')
       |SELECT p[3] AS part_key, count(*) AS n_rows,
       |       CAST(sum(${h60("doc_id || '|' || o::VARCHAR || '|' || mr")} % 1099511627776) AS BIGINT) AS checksum
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_bucketed_join: per-span cell density self-enrichment, per-scene
   * rollup (bucketing is physical — the oracle checks the SEMANTICS from the
   * raw tables; the no-shuffle physical plan is pinned by PlanSpec). */
  val bucketedJoin: String =
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT p[3] AS scene_id,
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT)),
       |pt AS (SELECT scene_id, (11::BIGINT << 58) |
       |        (CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) << 29) |
       |        CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS cell
       |      FROM m),
       |dens AS (SELECT cell, count(*) AS n_in_cell FROM pt GROUP BY 1)
       |SELECT scene_id, count(*) AS n_spans, CAST(sum(n_in_cell) AS BIGINT) AS density_mass
       |FROM pt JOIN dens USING (cell) GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_triangles: degree-ordered triangle counting over the withinDist
   * oracle's pair graph (same orientation rule, wedge + canonical closure). */
  val triangles: String =
    s"""WITH e AS MATERIALIZED (SELECT
       |    scene_a || '/' || subswath_a || '/' || CAST(burst_a AS VARCHAR) AS u,
       |    scene_b || '/' || subswath_b || '/' || CAST(burst_b AS VARCHAR) AS v
       |  FROM (${withinDistSql(graft.geom.Spatial.TriDistUs)})),
       |deg AS MATERIALIZED (SELECT n, count(*) AS d
       |  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
       |o AS MATERIALIZED (SELECT
       |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
       |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
       |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
       |w AS MATERIALIZED (SELECT a.src, a.dst AS w1, b.dst AS w2
       |  FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst),
       |c AS MATERIALIZED (SELECT least(src, dst) AS w1, greatest(src, dst) AS w2 FROM o),
       |t AS (SELECT src, w1, w2 FROM w
       |      WHERE EXISTS (SELECT 1 FROM c WHERE c.w1 = w.w1 AND c.w2 = w.w2)),
       |x AS (SELECT unnest([src, w1, w2]) AS n FROM t)
       |SELECT n, count(*) AS n_triangles FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_snapshot_diff: FULL OUTER diff of the two semantic manifests (earlier
   * snapshot = IW2 complete + IW1 minus the h60%5 batch + IW3 absent). */
  val snapshotDiff: String =
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |m AS (SELECT doc_id, p[4] AS sw, p[3] || '/' || p[4] AS part,
       |        ${h60("doc_id || '|' || s.\"offset\"::VARCHAR || '|' || s.media_ref")} % 1099511627776 AS h
       |      FROM (SELECT doc_id, s, string_split(s.media_ref, '/') AS p
       |            FROM sp WHERE s.kind = 'media') t),
       |a AS (SELECT part, count(*) AS n_a, CAST(sum(h) AS BIGINT) AS cs_a FROM m
       |      WHERE sw = 'IW2' OR (sw = 'IW1' AND ${h60("doc_id")} % 5 != 0) GROUP BY 1),
       |b AS (SELECT part, count(*) AS n_b, CAST(sum(h) AS BIGINT) AS cs_b FROM m GROUP BY 1)
       |SELECT coalesce(a.part, b.part) AS part_key,
       |  CASE WHEN n_a IS NULL THEN 'added' WHEN n_b IS NULL THEN 'removed'
       |       WHEN n_a = n_b AND cs_a = cs_b THEN 'unchanged' ELSE 'changed' END AS status,
       |  coalesce(n_a, 0) AS n_a, coalesce(cs_a, 0) AS cs_a,
       |  coalesce(n_b, 0) AS n_b, coalesce(cs_b, 0) AS cs_b
       |FROM a FULL OUTER JOIN b ON a.part = b.part ORDER BY 1""".stripMargin

  /** q_spatial_card: every leg re-aggregates the corresponding standalone
   * oracle's own derivation (declaration order matters — this val embeds the
   * others, so it stays at the END of the object). */
  val spatialCard: String = {
    def leg(metric: String, agg: String, sub: String) =
      s"SELECT '$metric' AS metric, CAST(($agg) AS BIGINT) AS value FROM ($sub) t"
    Seq(
      leg("n_bursts", "count(*)", s"SELECT * FROM ${fx("bursts")}"),
      leg("n_scenes", "count(DISTINCT scene_id)", s"SELECT * FROM ${fx("bursts")}"),
      leg("union_area_total", "sum(area)", unionArea),
      leg("footprint_area2_total", "sum(area2)", shoelace),
      leg("fill_cells", "count(*)", polyfill),
      leg("fill_interior_cells", "count(*)", s"SELECT * FROM ($polyfill) p WHERE kind = 'in'"),
      leg("gap_cells_total", "sum(n_gap)", coverageGap),
      leg("dbscan_clusters", "count(DISTINCT cluster)", dbscan),
      leg("dbscan_noise_pts", "count(*)", s"SELECT * FROM ($dbscan) d WHERE role = 'noise'"),
      leg("pyramid_l8_cells", "count(*)", s"SELECT * FROM ($tilePyramid) q WHERE level = 8"),
      leg("zorder_buckets", "count(*)", zorder),
      leg("hilbert_buckets", "count(*)", hilbert)
    ).mkString("\nUNION ALL\n")
  }

  /** One Sutherland–Hodgman half-plane clip stage over a polygon list column
   * `p`, arithmetic in the exact textual order of the engine kernel
   * (t = (bound-p)/(c-p); o = po + (co-po)*t; floor(o*256)/256 snap).
   * MATERIALIZED is load-bearing: each stage references `p` ~12 times, so
   * default CTE inlining would raise the expression tree to the 4th power
   * (a planner/memory blowup, the round-3 oracle-OOM failure class). */
  private def clipStage(name: String, src: String, axis: String,
      bound: String, ge: Boolean): String = {
    val prevIdx = "CASE WHEN i = 1 THEN len(p) ELSE i - 1 END"
    val op = if (ge) ">=" else "<="
    val cur = "p[i]"
    val prv = s"p[$prevIdx]"
    val cIn = s"$cur.$axis $op $bound"
    val pIn = s"$prv.$axis $op $bound"
    val inter =
      if (axis == "x")
        s"{'x': CAST($bound AS DOUBLE), 'y': floor(($prv.y + ($cur.y - $prv.y) * (($bound - $prv.x) / ($cur.x - $prv.x))) * 256.0) / 256.0}"
      else
        s"{'x': floor(($prv.x + ($cur.x - $prv.x) * (($bound - $prv.y) / ($cur.y - $prv.y))) * 256.0) / 256.0, 'y': CAST($bound AS DOUBLE)}"
    s"""$name AS MATERIALIZED (SELECT * REPLACE(flatten(list_transform(range(1, len(p) + 1), i ->
       |  CASE WHEN $cIn AND $pIn THEN [$cur]
       |       WHEN $cIn AND NOT ($pIn) THEN [$inter, $cur]
       |       WHEN NOT ($cIn) AND $pIn THEN [$inter]
       |       ELSE []::STRUCT(x DOUBLE, y DOUBLE)[] END)) AS p) FROM $src)""".stripMargin
  }

  /** Quantized |shoelace| of the clipped polygon list column `p` (x 2^16). */
  private val clipShoelace: String = {
    val nextIdx = "CASE WHEN i = len(p) THEN 1 ELSE i + 1 END"
    s"""CASE WHEN len(p) < 3 THEN 0
       |  ELSE CAST(abs(list_sum(list_transform(range(1, len(p) + 1), i ->
       |    p[i].x * p[$nextIdx].y - p[$nextIdx].x * p[i].y))) * 65536.0 AS BIGINT) END""".stripMargin
  }

  /** q_clip_area: Sutherland–Hodgman quad-x-rect clip area as four chained
   * list-rewrite CTE stages (one per rect half-plane). Candidates come from
   * a plain bbox-overlap join (independent of the engine's cell-cover
   * prune); the area > 0 filter equalizes both sides. */
  val clipArea: String = {
    def fpx(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpy(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    val shoelace = clipShoelace
    val corners = (1 to 4).map(i =>
      s"{'x': CAST(fx$i - ox AS DOUBLE), 'y': CAST(fy$i - oy AS DOUBLE)}").mkString(", ")
    val burstArea2 = (1 to 4).map { i =>
      val j = i % 4 + 1
      s"(fx$i - ox) * (fy$j - oy) - (fx$j - ox) * (fy$i - oy)"
    }.mkString(" + ")
    s"""WITH b AS (SELECT scene_id, subswath, burst_idx,
       |    ${(1 to 4).map(i => s"${fpx(s"lon$i")} AS fx$i, ${fpy(s"lat$i")} AS fy$i").mkString(", ")}
       |  FROM ${fx("bursts")}),
       |a AS (SELECT aoi_id, ${fpx("lon_min")} AS rfx0, ${fpy("lat_min")} AS rfy0,
       |    ${fpx("lon_max")} AS rfx1, ${fpy("lat_max")} AS rfy1 FROM ${fx("aoi")}),
       |pr AS (SELECT a.aoi_id, b.*, a.rfx0, a.rfy0, a.rfx1, a.rfy1,
       |    least(fx1, fx2, fx3, fx4) AS ox, least(fy1, fy2, fy3, fy4) AS oy
       |  FROM a JOIN b
       |    ON least(fx1, fx2, fx3, fx4) <= a.rfx1 AND greatest(fx1, fx2, fx3, fx4) >= a.rfx0
       |   AND least(fy1, fy2, fy3, fy4) <= a.rfy1 AND greatest(fy1, fy2, fy3, fy4) >= a.rfy0),
       |p0 AS (SELECT aoi_id, scene_id, subswath, burst_idx,
       |    CAST(rfx0 - ox AS DOUBLE) AS bx0, CAST(rfy0 - oy AS DOUBLE) AS by0,
       |    CAST(rfx1 - ox AS DOUBLE) AS bx1, CAST(rfy1 - oy AS DOUBLE) AS by1,
       |    abs($burstArea2) AS burst_area2,
       |    [$corners] AS p
       |  FROM pr),
       |${clipStage("s1", "p0", "x", "bx0", ge = true)},
       |${clipStage("s2", "s1", "x", "bx1", ge = false)},
       |${clipStage("s3", "s2", "y", "by0", ge = true)},
       |${clipStage("s4", "s3", "y", "by1", ge = false)},
       |ar AS (SELECT aoi_id, scene_id, subswath, burst_idx, burst_area2,
       |    $shoelace AS area_q
       |  FROM s4)
       |SELECT aoi_id, scene_id, subswath, burst_idx, area_q, burst_area2,
       |  ((area_q // 256) * 1000000) // (burst_area2 * 256) AS cov_ppm
       |FROM ar WHERE area_q > 0 ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** q_zonal_area: areal interpolation — per-burst mean q6 power weighted by
   * the clip-area overlap (the clipArea oracle as a derived table), per-AOI. */
  val zonalArea: String =
    s"""WITH ca AS (SELECT aoi_id, scene_id, subswath, burst_idx,
       |    area_q // 16777216 AS w FROM ($clipArea)),
       |t AS (SELECT scene_id, subswath, burst_idx, no_data,
       |    unnest(i) AS iv, unnest(q) AS qv
       |  FROM ${fx("tiles")} WHERE pol = 'VV'),
       |pw AS (SELECT scene_id, subswath, burst_idx, count(*) AS n_px,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (iv * iv + qv * qv) * 1e6) AS BIGINT)) AS BIGINT) AS pow_q
       |  FROM t WHERE iv <> no_data GROUP BY 1, 2, 3),
       |m AS (SELECT *, pow_q // n_px AS mean_pq FROM pw)
       |SELECT aoi_id, count(*) AS n_bursts,
       |  CAST(sum(w) AS BIGINT) AS area_sum,
       |  CAST(sum(w * mean_pq) AS BIGINT) AS wpow_sum,
       |  CASE WHEN CAST(sum(w) AS BIGINT) = 0 THEN 0
       |       ELSE CAST(sum(w * mean_pq) AS BIGINT) // CAST(sum(w) AS BIGINT) END AS wmean_pq
       |FROM ca JOIN m USING (scene_id, subswath, burst_idx)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_span_align: interleaved caption pairing — per-media nearest
   * preceding/following text span via IGNORE-NULLS windows over document
   * order, per-doc rollup ("offset" is reserved in DuckDB — quoted). */
  val spanAlign: String =
    s"""WITH sp AS (SELECT doc_id, s.kind AS kind, s.text AS text, s."offset" AS off
       |  FROM (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")})),
       |tk AS (SELECT doc_id, kind, off,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INT) AS tok
       |  FROM sp),
       |al AS (SELECT doc_id, kind, off,
       |    last_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS) OVER wb AS prev_off,
       |    last_value(CASE WHEN kind = 'text' THEN tok END IGNORE NULLS) OVER wb AS prev_tok,
       |    first_value(CASE WHEN kind = 'text' THEN off END IGNORE NULLS) OVER wa AS next_off,
       |    first_value(CASE WHEN kind = 'text' THEN tok END IGNORE NULLS) OVER wa AS next_tok
       |  FROM tk
       |  WINDOW wb AS (PARTITION BY doc_id ORDER BY off
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |         wa AS (PARTITION BY doc_id ORDER BY off
       |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       |  CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       |  CAST(sum(CAST(kind = 'media' AND prev_off = off - 1 AS INT)) AS BIGINT) AS n_prev_adj,
       |  CAST(sum(CAST(kind = 'media' AND next_off = off + 1 AS INT)) AS BIGINT) AS n_next_adj,
       |  CAST(sum(CAST(kind = 'media' AND prev_off IS NULL AND next_off IS NULL AS INT)) AS BIGINT) AS n_orphan,
       |  CAST(sum(CASE WHEN kind = 'media' THEN
       |    CASE WHEN prev_off IS NOT NULL THEN prev_tok
       |         WHEN next_off IS NOT NULL THEN next_tok ELSE 0 END ELSE 0 END) AS BIGINT) AS cap_tok_sum,
       |  CAST(sum(CASE WHEN kind = 'media' THEN
       |    CASE WHEN prev_off IS NOT NULL THEN off - prev_off
       |         WHEN next_off IS NOT NULL THEN next_off - off ELSE 0 END ELSE 0 END) AS BIGINT) AS cap_gap_sum
       |FROM al GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_simplify: Douglas–Peucker on the curved-orbit x-y tracks as an
   * unrolled chain of split rounds (same round count as the engine's loop
   * cap), exact HUGEINT deviation compare. Every CTE is MATERIALIZED —
   * each round references the previous 2-4 times, so default inlining would
   * grow the plan 3^rounds. */
  val simplify: String = {
    val eps2 = graft.geom.Spatial.SimplifyEps2
    val rounds = (1 to graft.geom.Spatial.SimplifyRounds).map { k =>
      val prev = s"r${k - 1}"
      s"""e$k AS MATERIALIZED (SELECT s.scene_id, s.a, s.b,
         |    pa.px AS xa, pa.py AS ya, pb.px AS xb, pb.py AS yb
         |  FROM $prev s
         |  JOIN pts pa ON pa.scene_id = s.scene_id AND pa.idx = s.a
         |  JOIN pts pb ON pb.scene_id = s.scene_id AND pb.idx = s.b),
         |d$k AS MATERIALIZED (SELECT e.scene_id, e.a, e.b, e.xa, e.ya, e.xb, e.yb, p.idx,
         |    CAST((e.xb - e.xa) * (p.py - e.ya) - (e.yb - e.ya) * (p.px - e.xa) AS HUGEINT) AS cr
         |  FROM e$k e JOIN pts p
         |    ON p.scene_id = e.scene_id AND p.idx > e.a AND p.idx < e.b),
         |m$k AS MATERIALIZED (SELECT scene_id, a, b, idx AS m, cr * cr AS dev,
         |    CAST($eps2 AS HUGEINT) *
         |      (CAST(xb - xa AS HUGEINT) * CAST(xb - xa AS HUGEINT) +
         |       CAST(yb - ya AS HUGEINT) * CAST(yb - ya AS HUGEINT)) AS thr,
         |    row_number() OVER (PARTITION BY scene_id, a, b ORDER BY cr * cr DESC, idx) AS rn
         |  FROM d$k),
         |r$k AS MATERIALIZED (
         |  SELECT s.scene_id, s.a, s.b FROM $prev s
         |  WHERE NOT EXISTS (SELECT 1 FROM m$k m
         |    WHERE m.scene_id = s.scene_id AND m.a = s.a AND m.b = s.b
         |      AND m.rn = 1 AND m.dev > m.thr)
         |  UNION ALL
         |  SELECT scene_id, a, m FROM m$k WHERE rn = 1 AND dev > thr
         |  UNION ALL
         |  SELECT scene_id, m, b FROM m$k WHERE rn = 1 AND dev > thr)""".stripMargin
    }.mkString(",\n")
    val last = s"r${graft.geom.Spatial.SimplifyRounds}"
    s"""WITH pts AS MATERIALIZED (SELECT scene_id,
       |    row_number() OVER (PARTITION BY scene_id ORDER BY t_sec) AS idx,
       |    CAST(floor(x) AS BIGINT) AS px, CAST(floor(y) AS BIGINT) AS py
       |  FROM ${fx("orbit_curved")}),
       |r0 AS MATERIALIZED (SELECT scene_id, min(idx) AS a, max(idx) AS b
       |  FROM pts GROUP BY 1),
       |$rounds,
       |kept AS (SELECT DISTINCT scene_id, a AS idx FROM $last
       |         UNION SELECT DISTINCT scene_id, b FROM $last)
       |SELECT p.scene_id, p.idx, p.px, p.py
       |FROM kept k JOIN pts p USING (scene_id, idx) ORDER BY 1, 2""".stripMargin
  }

  /** q_vector_tiles: per-zoom-cell feature clipping via the shared
   * Sutherland–Hodgman stage chain, candidate cells from each feature's own
   * bbox (generate_series), one leg per zoom level. */
  val vectorTiles: String = {
    def fpxS(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpyS(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    def ixS(c: String, lvl: Int) =
      s"CAST(least(${(1L << lvl) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << lvl).toDouble}))) AS BIGINT)"
    def iyS(c: String, lvl: Int) =
      s"CAST(least(${(1L << lvl) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << lvl).toDouble}))) AS BIGINT)"
    val corners = (1 to 4).map(i =>
      s"{'x': CAST(fx$i - ox AS DOUBLE), 'y': CAST(fy$i - oy AS DOUBLE)}").mkString(", ")
    val lonLo = "least(lon1, lon2, lon3, lon4)"
    val lonHi = "greatest(lon1, lon2, lon3, lon4)"
    val latLo = "least(lat1, lat2, lat3, lat4)"
    val latHi = "greatest(lat1, lat2, lat3, lat4)"
    val legs = graft.geom.Spatial.VectorTileLevels.map { lvl =>
      val sx = 25 - lvl; val sy = 24 - lvl
      s"""b$lvl AS MATERIALIZED (SELECT scene_id, subswath, burst_idx,
         |    ${(1 to 4).map(i => s"${fpxS(s"lon$i")} AS fx$i, ${fpyS(s"lat$i")} AS fy$i").mkString(", ")},
         |    ${ixS(lonLo, lvl)} AS ix0, ${ixS(lonHi, lvl)} AS ix1,
         |    ${iyS(latLo, lvl)} AS iy0, ${iyS(latHi, lvl)} AS iy1
         |  FROM ${fx("bursts")}),
         |o$lvl AS (SELECT *, least(fx1, fx2, fx3, fx4) AS ox, least(fy1, fy2, fy3, fy4) AS oy
         |  FROM b$lvl),
         |cx$lvl AS (SELECT *, unnest(generate_series(ix0, ix1)) AS cix FROM o$lvl),
         |cy$lvl AS (SELECT *, unnest(generate_series(iy0, iy1)) AS ciy FROM cx$lvl),
         |p0$lvl AS MATERIALIZED (SELECT scene_id, subswath, burst_idx, cix, ciy,
         |    CAST((cix << $sx) - ox AS DOUBLE) AS bx0, CAST((ciy << $sy) - oy AS DOUBLE) AS by0,
         |    CAST(((cix + 1) << $sx) - ox AS DOUBLE) AS bx1, CAST(((ciy + 1) << $sy) - oy AS DOUBLE) AS by1,
         |    [$corners] AS p
         |  FROM cy$lvl),
         |${clipStage(s"s1v$lvl", s"p0$lvl", "x", "bx0", ge = true)},
         |${clipStage(s"s2v$lvl", s"s1v$lvl", "x", "bx1", ge = false)},
         |${clipStage(s"s3v$lvl", s"s2v$lvl", "y", "by0", ge = true)},
         |${clipStage(s"s4v$lvl", s"s3v$lvl", "y", "by1", ge = false)},
         |ar$lvl AS (SELECT CAST($lvl AS BIGINT) AS level,
         |    ($lvl::BIGINT << 58) | (ciy << 29) | cix AS cell,
         |    $clipShoelace AS area_q
         |  FROM s4v$lvl)""".stripMargin
    }.mkString(",\n")
    val union = graft.geom.Spatial.VectorTileLevels
      .map(lvl => s"SELECT * FROM ar$lvl").mkString(" UNION ALL ")
    s"""WITH $legs
       |SELECT level, cell, count(*) AS n_features, CAST(sum(area_q) AS BIGINT) AS area_sum
       |FROM ($union) WHERE area_q > 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q_snap_track: brute-force nearest-segment (no cell prune — independent
   * candidate derivation): every 3rd event x all footprint edges, the
   * 1/256-quantized projection, exact HUGEINT scaled-distance argmin. */
  val snapTrack: String = {
    def fpxS(c: String) =
      s"CAST(least(${(1L << 25) - 1}, greatest(0, floor(($c + 180.0) / 360.0 * ${(1L << 25).toDouble}))) AS BIGINT)"
    def fpyS(c: String) =
      s"CAST(least(${(1L << 24) - 1}, greatest(0, floor(($c + 90.0) / 180.0 * ${(1L << 24).toDouble}))) AS BIGINT)"
    val ts = graft.geom.Spatial.SnapTScale
    val edges = (1 to 4).map { i =>
      val j = i % 4 + 1
      s"""SELECT scene_id, subswath, burst_idx, $i AS edge,
         |  ${fpxS(s"lon$i")} AS xa, ${fpyS(s"lat$i")} AS ya,
         |  ${fpxS(s"lon$j")} AS xb, ${fpyS(s"lat$j")} AS yb FROM ${fx("bursts")}""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS MATERIALIZED (SELECT event_id,
       |    ${fpxS("-30.0 + CAST(h % 1000000 AS DOUBLE) / 1e6 * 10.0")} AS ex,
       |    ${fpyS("10.0 + CAST((h // 1000000) % 1000000 AS DOUBLE) / 1e6 * 2.0")} AS ey
       |  FROM (SELECT event_id,
       |          ${h60("'g:' || CAST(event_id AS VARCHAR)")} AS h FROM events)
       |  WHERE event_id % 3 = 0),
       |sg AS MATERIALIZED ($edges),
       |c AS MATERIALIZED (SELECT ev.event_id, sg.scene_id, sg.subswath, sg.burst_idx, sg.edge,
       |    least($ts, (greatest(0, (ex - xa) * (xb - xa) + (ey - ya) * (yb - ya)) * $ts)
       |      // ((xb - xa) * (xb - xa) + (yb - ya) * (yb - ya))) AS tq,
       |    ex, ey, xa, ya, xb, yb
       |  FROM ev, sg
       |  WHERE (xb - xa) * (xb - xa) + (yb - ya) * (yb - ya) > 0),
       |d AS MATERIALIZED (SELECT event_id, scene_id, subswath, burst_idx, edge, tq,
       |    ex * $ts - (xa * $ts + (xb - xa) * tq) AS dx,
       |    ey * $ts - (ya * $ts + (yb - ya) * tq) AS dy
       |  FROM c),
       |r AS MATERIALIZED (SELECT *,
       |    CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT) + CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT) AS d2q,
       |    row_number() OVER (PARTITION BY event_id ORDER BY
       |      CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT) + CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT),
       |      scene_id, subswath, burst_idx, edge) AS rn
       |  FROM d)
       |SELECT event_id, scene_id, subswath, burst_idx, edge, tq,
       |  (abs(dx) // $ts) * (abs(dx) // $ts) + (abs(dy) // $ts) * (abs(dy) // $ts) AS d2
       |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin
  }

  /** Geolocated media-span points in integer microdegrees, as CTE text
   * (shared by the hull / Moran oracles; same arithmetic text as the gates
   * that already pass — heatmap, bucketed_join). */
  private val spanPtsCte: String =
    s"""sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |e AS (SELECT doc_id, string_split(s.media_ref, '/') AS p
       |      FROM sp WHERE s.kind = 'media'),
       |m AS (SELECT p[3] AS scene_id,
       |        b.lon1 + ((CAST(p[8] AS INT) + 0.5) / 4) * (b.lon2 - b.lon1)
       |               + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lon4 - b.lon1) AS lon,
       |        b.lat1 + ((CAST(p[7] AS INT) + 0.5) / 2) * (b.lat4 - b.lat1) AS lat
       |      FROM e JOIN ${fx("bursts")} b
       |        ON b.scene_id = p[3] AND b.subswath = p[4] AND b.burst_idx = CAST(p[6] AS INT))""".stripMargin

  /** q_convex_hull: K-direction extreme-point hull, restated with a window
   * argmax + lead-with-wrap shoelace (the engine uses a max-struct aggregate
   * + array fold — different formulation, same integers). */
  val convexHull: String = {
    val dirVals = graft.geom.Analytics.Dirs.zipWithIndex
      .map { case ((dx, dy), i) => s"($i, $dx, $dy)" }.mkString(", ")
    s"""WITH $spanPtsCte,
       |pt AS (SELECT scene_id,
       |         CAST(floor(lon * 1e6) AS BIGINT) AS px,
       |         CAST(floor(lat * 1e6) AS BIGINT) AS py FROM m),
       |np AS (SELECT scene_id, count(*) AS n_points FROM pt GROUP BY 1),
       |dir AS (SELECT * FROM (VALUES $dirVals) t(di, dx, dy)),
       |ranked AS (SELECT scene_id, di, px, py,
       |    row_number() OVER (PARTITION BY scene_id, di
       |                       ORDER BY dx * px + dy * py DESC, px, py) AS rn
       |  FROM pt CROSS JOIN dir),
       |ext AS MATERIALIZED (SELECT scene_id, di, px, py FROM ranked WHERE rn = 1),
       |sh AS (SELECT scene_id, px, py,
       |    coalesce(lead(px) OVER w, first_value(px) OVER w2) AS nx,
       |    coalesce(lead(py) OVER w, first_value(py) OVER w2) AS ny
       |  FROM ext
       |  WINDOW w AS (PARTITION BY scene_id ORDER BY di),
       |         w2 AS (PARTITION BY scene_id ORDER BY di
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |hull AS (SELECT scene_id,
       |    abs(CAST(sum(px * ny - nx * py) AS BIGINT)) AS area2 FROM sh GROUP BY 1),
       |nh AS (SELECT scene_id,
       |    count(DISTINCT CAST(px AS VARCHAR) || ',' || CAST(py AS VARCHAR)) AS n_hull
       |  FROM ext GROUP BY 1)
       |SELECT np.scene_id, np.n_points, nh.n_hull, hull.area2
       |FROM np JOIN nh USING (scene_id) JOIN hull USING (scene_id)
       |ORDER BY 1""".stripMargin
  }

  /** q_idw: brute-force inequality join (no bbox prune — independent
   * candidate derivation), identical integer weight/divide arithmetic. */
  val idw: String = {
    val r = graft.geom.Analytics.IdwRadiusUs
    s"""WITH dem AS (SELECT
       |    CAST(floor(lon * 1e6) AS BIGINT) AS px,
       |    CAST(floor(lat * 1e6) AS BIGINT) AS py,
       |    CAST(floor(height * 1000) AS BIGINT) AS hq
       |  FROM ${fx("dem")}),
       |q AS (SELECT aoi_id,
       |    CAST(floor((lon_min + lon_max) / 2 * 1e6) AS BIGINT) AS qx,
       |    CAST(floor((lat_min + lat_max) / 2 * 1e6) AS BIGINT) AS qy
       |  FROM ${fx("aoi")}),
       |nb AS (SELECT aoi_id, hq,
       |    CAST(floor(1.0e12 / CAST(greatest(
       |      (px - qx) * (px - qx) + (py - qy) * (py - qy), 1000000) AS DOUBLE)) AS BIGINT) AS w
       |  FROM dem CROSS JOIN q
       |  WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy) <= ${r * r})
       |SELECT aoi_id, count(*) AS n_nbrs, CAST(sum(w) AS BIGINT) AS w_sum,
       |       CAST((CAST(sum(w * hq) AS BIGINT) * 1000) // CAST(sum(w) AS BIGINT) AS BIGINT) AS idw_milli
       |FROM nb GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_moran: rook-contiguity Moran's I sufficient statistics over the
   * level-11 occupied-cell counts; the double index reuses the gate's exact
   * IEEE expression text. */
  val moran: String =
    s"""WITH $spanPtsCte,
       |pt AS (SELECT
       |    CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |    CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |  FROM m),
       |cnt AS MATERIALIZED (SELECT ix, iy, count(*) AS x FROM pt GROUP BY 1, 2),
       |off AS (SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) t(dx, dy)),
       |nbr AS (SELECT a.x AS xa, b.x AS xb
       |  FROM cnt a CROSS JOIN off o
       |  JOIN cnt b ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy),
       |pairs AS (SELECT count(*) AS w_sum, CAST(sum(xa * xb) AS BIGINT) AS cross_sum,
       |                 CAST(sum(xa) AS BIGINT) AS deg_x_sum FROM nbr),
       |base AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_x,
       |                CAST(sum(x * x) AS BIGINT) AS sum_x2 FROM cnt)
       |SELECT n, w_sum, sum_x, sum_x2, cross_sum, deg_x_sum,
       |       ${graft.geom.Analytics.MoranIndexExpr} AS moran_q
       |FROM base CROSS JOIN pairs""".stripMargin

  /** Symmetric proximity-graph edge CTE text (node = scene/subswath/burst). */
  private val symEdgesCte: String =
    s"""ed AS MATERIALIZED (SELECT
       |    scene_a || '/' || subswath_a || '/' || CAST(burst_a AS VARCHAR) AS u,
       |    scene_b || '/' || subswath_b || '/' || CAST(burst_b AS VARCHAR) AS v
       |  FROM (${withinDistSql(graft.geom.Spatial.TriDistUs)})),
       |es AS MATERIALIZED (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed)""".stripMargin

  /** q_kcore: the peel loop over the occupied-cell king-adjacency lattice,
   * unrolled to MaxRounds MATERIALIZED rounds per k (rounds past the
   * fixpoint are no-ops; the spec asserts the engine converges strictly
   * inside the cap). Materialization is forced: an inlined
   * self-referencing CTE chain would re-expand exponentially. */
  val kcore: String = {
    val rounds = graft.geom.GraphOps.MaxRounds
    val ks = graft.geom.GraphOps.CoreKs
    def perK(k: Int): String = {
      val sb = new StringBuilder
      sb.append(s"k${k}_e0 AS MATERIALIZED (SELECT u, v FROM ces),\n")
      for (i <- 1 to rounds) {
        sb.append(s"k${k}_n$i AS MATERIALIZED (SELECT u FROM k${k}_e${i - 1} GROUP BY u HAVING count(*) >= $k),\n")
        sb.append(s"k${k}_e$i AS MATERIALIZED (SELECT e.u, e.v FROM k${k}_e${i - 1} e " +
          s"JOIN k${k}_n$i a ON a.u = e.u JOIN k${k}_n$i b ON b.u = e.v),\n")
      }
      sb.toString
    }
    val fins = ks.map(k =>
      s"SELECT CAST($k AS BIGINT) AS k, u AS cell, count(*) AS core_deg " +
        s"FROM k${k}_e$rounds GROUP BY u").mkString("\n  UNION ALL\n  ")
    s"""WITH $spanPtsCte,
       |pt AS (SELECT
       |    CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |    CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |  FROM m),
       |occ AS MATERIALIZED (SELECT ix, iy FROM pt GROUP BY 1, 2),
       |koff AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) t(dx, dy)),
       |ces AS MATERIALIZED (SELECT
       |    (11::BIGINT << 58) | (a.iy << 29) | a.ix AS u,
       |    (11::BIGINT << 58) | (b.iy << 29) | b.ix AS v
       |  FROM occ a CROSS JOIN koff o
       |  JOIN occ b ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy),
       |${perK(ks.head)}${perK(ks.last)}
       |fin AS (
       |  $fins)
       |SELECT k, cell, core_deg FROM fin ORDER BY 1, 2""".stripMargin
  }

  /** q_bfs_hops: frontier expansion unrolled to BfsHops rounds; seeds = burst
   * centers inside the lexicographically first AOI bbox. */
  val bfsHops: String = {
    val sb = new StringBuilder
    for (h <- 1 to graft.geom.GraphOps.BfsHops) {
      sb.append(s"f$h AS MATERIALIZED (SELECT DISTINCT es.v AS node FROM es " +
        s"JOIN f${h - 1} f ON es.u = f.node " +
        s"WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} d WHERE d.node = es.v)),\n")
      sb.append(s"d$h AS MATERIALIZED (SELECT node, hop FROM d${h - 1} " +
        s"UNION ALL SELECT node, CAST($h AS BIGINT) AS hop FROM f$h),\n")
    }
    val hh = graft.geom.GraphOps.BfsHops
    s"""WITH $symEdgesCte,
       |a1 AS (SELECT aoi_id,
       |    CAST(floor(lon_min * 1e6) AS BIGINT) AS x0, CAST(floor(lat_min * 1e6) AS BIGINT) AS y0,
       |    CAST(floor(lon_max * 1e6) AS BIGINT) AS x1, CAST(floor(lat_max * 1e6) AS BIGINT) AS y1
       |  FROM ${fx("aoi")} ORDER BY aoi_id LIMIT 1),
       |d0 AS MATERIALIZED (SELECT
       |    scene_id || '/' || subswath || '/' || CAST(burst_idx AS VARCHAR) AS node,
       |    CAST(0 AS BIGINT) AS hop
       |  FROM ${fx("bursts")} CROSS JOIN a1
       |  WHERE CAST(floor((lon1 + lon2 + lon3 + lon4) / 4 * 1e6) AS BIGINT) BETWEEN x0 AND x1
       |    AND CAST(floor((lat1 + lat2 + lat3 + lat4) / 4 * 1e6) AS BIGINT) BETWEEN y0 AND y1),
       |f0 AS (SELECT node FROM d0),
       |${sb}fin AS (SELECT node, hop FROM d$hh)
       |SELECT node, hop FROM fin ORDER BY 1""".stripMargin
  }

  /** q_sssp: multi-seed weighted Bellman-Ford, unrolled to SsspMaxRounds
   * MATERIALIZED relaxation rounds (rounds past the fixpoint are no-ops;
   * the spec asserts the engine converges strictly inside the cap).
   * Weight = the exact integer squared distance from the pair join. */
  val sssp: String = {
    val rounds = graft.geom.GraphOps.SsspMaxRounds
    val sb = new StringBuilder
    for (i <- 1 to rounds) {
      sb.append(s"s$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT node, dist FROM s${i - 1} " +
        s"UNION ALL SELECT es.v AS node, s.dist + es.w AS dist " +
        s"FROM wes es JOIN s${i - 1} s ON es.u = s.node) GROUP BY node),\n")
    }
    s"""WITH wed AS MATERIALIZED (SELECT
       |    scene_a || '/' || subswath_a || '/' || CAST(burst_a AS VARCHAR) AS u,
       |    scene_b || '/' || subswath_b || '/' || CAST(burst_b AS VARCHAR) AS v,
       |    d2 AS w
       |  FROM (${withinDistSql(graft.geom.Spatial.TriDistUs)})),
       |wes AS MATERIALIZED (SELECT u, v, w FROM wed UNION ALL SELECT v AS u, u AS v, w FROM wed),
       |a1 AS (SELECT aoi_id,
       |    CAST(floor(lon_min * 1e6) AS BIGINT) AS x0, CAST(floor(lat_min * 1e6) AS BIGINT) AS y0,
       |    CAST(floor(lon_max * 1e6) AS BIGINT) AS x1, CAST(floor(lat_max * 1e6) AS BIGINT) AS y1
       |  FROM ${fx("aoi")} ORDER BY aoi_id LIMIT 1),
       |s0 AS MATERIALIZED (SELECT
       |    scene_id || '/' || subswath || '/' || CAST(burst_idx AS VARCHAR) AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM ${fx("bursts")} CROSS JOIN a1
       |  WHERE CAST(floor((lon1 + lon2 + lon3 + lon4) / 4 * 1e6) AS BIGINT) BETWEEN x0 AND x1
       |    AND CAST(floor((lat1 + lat2 + lat3 + lat4) / 4 * 1e6) AS BIGINT) BETWEEN y0 AND y1),
       |${sb}fin AS (SELECT node, dist FROM s$rounds)
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM fin ORDER BY 1""".stripMargin
  }

  /** q_knn_join: brute-force radius-bounded kNN (cross join + window rank —
   * an independent candidate derivation, no cell prefilter), identical
   * integer distance arithmetic and the same total tie order. */
  val knnJoin: String = {
    val r = graft.geom.Analytics.KnnRadiusUs
    val k = graft.geom.Analytics.KnnK
    s"""WITH q AS (SELECT
       |    scene_id || '/' || subswath || '/' || CAST(burst_idx AS VARCHAR) AS node,
       |    CAST(floor((lon1 + lon2 + lon3 + lon4) / 4 * 1e6) AS BIGINT) AS qx,
       |    CAST(floor((lat1 + lat2 + lat3 + lat4) / 4 * 1e6) AS BIGINT) AS qy
       |  FROM ${fx("bursts")}),
       |dem AS (SELECT
       |    CAST(floor(lon * 1e6) AS BIGINT) AS px,
       |    CAST(floor(lat * 1e6) AS BIGINT) AS py,
       |    CAST(floor(height * 1000) AS BIGINT) AS hq
       |  FROM ${fx("dem")}),
       |cand AS (SELECT node,
       |    (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2, px, py, hq
       |  FROM q CROSS JOIN dem
       |  WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy) <= ${r * r}),
       |rk AS (SELECT node, d2, px, py, hq,
       |    row_number() OVER (PARTITION BY node ORDER BY d2, px, py, hq) AS rk
       |  FROM cand)
       |SELECT node, d2, px, py, hq, CAST(rk AS BIGINT) AS rk
       |FROM rk WHERE rk <= $k ORDER BY 1, 6""".stripMargin
  }

  /** q_gi_star: Getis-Ord Gi* per occupied level-11 cell — queen 3x3
   * self-inclusive neighborhood statistics from the lattice equi-join; the
   * z-score reuses the gate's exact IEEE expression text. */
  val giStar: String =
    s"""WITH $spanPtsCte,
       |pt AS (SELECT
       |    CAST(least(2047, greatest(0, floor((lon + 180.0) / 360.0 * 2048.0))) AS BIGINT) AS ix,
       |    CAST(least(2047, greatest(0, floor((lat + 90.0) / 180.0 * 2048.0))) AS BIGINT) AS iy
       |  FROM m),
       |cnt AS MATERIALIZED (SELECT ix, iy, count(*) AS x FROM pt GROUP BY 1, 2),
       |qoff AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) t(dx, dy)),
       |loc AS (SELECT a.ix, a.iy, count(*) AS n_local, CAST(sum(b.x) AS BIGINT) AS s_local
       |  FROM cnt a CROSS JOIN qoff o
       |  JOIN cnt b ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy
       |  GROUP BY 1, 2),
       |base AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_x,
       |                CAST(sum(x * x) AS BIGINT) AS sum_x2 FROM cnt)
       |SELECT c.ix, c.iy, c.x, l.n_local, l.s_local,
       |       ${graft.geom.Analytics.GiStarExpr} AS gi_q
       |FROM cnt c JOIN loc l ON l.ix = c.ix AND l.iy = c.iy
       |CROSS JOIN base ORDER BY 1, 2""".stripMargin

  /** q_compaction_plan: per-partition sorted prefix-sum bin packing of the
   * per-burst file manifest (metadata only, no bursts join needed). */
  val compactionPlan: String = {
    val t = graft.lineage.Checkpoint.CompactionTargetRows
    s"""WITH sp AS (SELECT doc_id, unnest(spans) AS s FROM ${fx("docs")}),
       |mm AS (SELECT string_split(s.media_ref, '/') AS p FROM sp WHERE s.kind = 'media'),
       |f AS (SELECT p[3] AS scene_id, p[4] AS subswath, CAST(p[6] AS INT) AS burst_idx,
       |        count(*) AS n_rows
       |      FROM mm GROUP BY 1, 2, 3),
       |w AS (SELECT scene_id, subswath, burst_idx, n_rows,
       |        CAST(sum(n_rows) OVER (PARTITION BY scene_id, subswath ORDER BY burst_idx
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
       |      FROM f)
       |SELECT scene_id, subswath, CAST((prefix - n_rows) // $t AS BIGINT) AS bin,
       |       count(*) AS n_files, CAST(sum(n_rows) AS BIGINT) AS rows_total,
       |       min(burst_idx) AS burst_min, max(burst_idx) AS burst_max
       |FROM w GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }
}
