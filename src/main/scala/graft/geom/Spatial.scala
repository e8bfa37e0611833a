package graft.geom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cells.CellIndex
import graft.exprs.KernelExprs
import graft.gen.Fixtures
import Geo.microdeg

/**
 * Spatial-join engine depth beyond the SAR operator chain — the north rule's
 * own vocabulary (H3/S2-style cell index, point-in-polygon, kNN, raster<->vector):
 *
 *  - spatialKnnQuery: distributed k-nearest-neighbour join with a CERTIFIED
 *    ring-expansion radius (the classic grid-kNN-join construction: candidates
 *    from a bounded bbox cell cover, a query is final only once its k-th
 *    distance is <= the radius that bounds every unseen point). All geometry is
 *    integer microdegrees so the result is bit-exact cross-engine.
 *  - cellCompactQuery: quadtree cover compaction (the H3 `compact` analog) —
 *    any full 4-child quad is replaced by its parent, iterated over levels.
 *    At 10^12-doc scale this is how AOI cover sets stay small enough to
 *    broadcast while still partition-pruning a cell-bucketed table.
 *  - zonalStatsQuery: raster->vector zonal statistics — per-polygon pixel
 *    count/power over the calibrated tile table, with the tile-level cell join
 *    pruning tiles BEFORE any pixel explode (the raster side never expands
 *    except for candidate (tile, polygon) pairs).
 *
 * Reference frame: the toolbox's AOI selection does the same two phases
 * (cheap bbox test then exact geometry, TOPSARSplitOp.java:261-306); these
 * queries generalize that shape to the three remaining spatial-join primitives.
 */
object Spatial {

  /** k for the kNN join gate. */
  val K = 5

  /** Start radius (microdegrees) for ring expansion — about 1.1 cell heights. */
  val StartRadiusUs = 100000L

  /** Max radius: covers the whole lon/lat plane; loop is guaranteed to certify. */
  val MaxRadiusUs = 1L << 30

  /** Query points: AOI centers, integer microdegrees (+ double lon/lat for cells). */
  private def aoiCenters(spark: SparkSession, sfDir: String): DataFrame =
    Fixtures.table(spark, sfDir, "aoi").select(
      col("aoi_id"),
      ((col("lon_min") + col("lon_max")) / 2).as("qlon"),
      ((col("lat_min") + col("lat_max")) / 2).as("qlat"),
      microdeg((col("lon_min") + col("lon_max")) / 2).as("qx"),
      microdeg((col("lat_min") + col("lat_max")) / 2).as("qy"))

  /** Data points: burst footprint centers with their level-11 cell (shuffle key). */
  private def burstCenters(spark: SparkSession, sfDir: String): DataFrame = {
    val lonC = (col("lon1") + col("lon2") + col("lon3") + col("lon4")) / 4
    val latC = (col("lat1") + col("lat2") + col("lat3") + col("lat4")) / 4
    Fixtures.table(spark, sfDir, "bursts").select(
      col("scene_id"), col("subswath"), col("burst_idx"),
      microdeg(lonC).as("px"), microdeg(latC).as("py"),
      CellIndex.cellCol(lonC, latC).as("cell"))
  }

  /**
   * Certified grid kNN join: per AOI center, the K nearest burst centers under
   * squared Euclidean microdegree distance, ties broken by (scene, subswath,
   * burst). Ring expansion doubles the candidate radius until the k-th best
   * distance is certified: a point outside the radius-r bbox has |dx| or |dy|
   * >= r+1, so d2 > r^2 — if the k-th candidate distance is <= r^2 nothing
   * unseen can displace it. Integer arithmetic end to end; the cell cover join
   * is the only join (equi on cell, data side pre-bucketed — at corpus scale
   * the points table is cell-partitioned parquet and each round touches only
   * the covered buckets; queries certify early where density is high, so the
   * expensive wide rings run for a vanishing residue of queries).
   */
  /** Cover level for a ring radius: coarsen so the bbox cover stays <= ~64
   * cells per axis (wide rings never explode into millions of level-11 cells —
   * the data side's key is re-derived by bit-shifting its packed cell). */
  private def levelFor(radiusUs: Long): Int = {
    val rdeg = radiusUs / 1e6
    var lvl = CellIndex.DefaultLevel
    while (lvl > 1 && 2 * rdeg / (180.0 / (1L << lvl)) > 64) lvl -= 1
    lvl
  }

  /** Re-pack a DefaultLevel cell at a coarser level (parent of depth d). */
  private def coarsenCol(cell: Column, lvl: Int): Column = {
    val d = CellIndex.DefaultLevel - lvl
    if (d == 0) cell
    else lit(lvl.toLong << 58).bitwiseOR(
      shiftleft(shiftright(shiftright(cell, 29).bitwiseAND(IdxMask), d), 29)
        .bitwiseOR(shiftright(cell.bitwiseAND(IdxMask), d)))
  }

  def spatialKnnQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val points = burstCenters(spark, sfDir)
    var remaining = aoiCenters(spark, sfDir)
    var radius = StartRadiusUs
    var done: DataFrame = null
    while (radius <= MaxRadiusUs && !remaining.isEmpty) {
      val rdeg = radius / 1e6
      val lvl = levelFor(radius)
      val cand = remaining
        .withColumn("cell", explode(CellIndex.coverCol(
          col("qlon") - rdeg, col("qlat") - rdeg, col("qlon") + rdeg, col("qlat") + rdeg, lvl)))
        .join(points.withColumn("cell", coarsenCol(col("cell"), lvl)), Seq("cell"))
        .where(abs(col("px") - col("qx")) <= radius && abs(col("py") - col("qy")) <= radius)
        .withColumn("d2",
          (col("px") - col("qx")) * (col("px") - col("qx")) +
          (col("py") - col("qy")) * (col("py") - col("qy")))
      val ranked = cand.withColumn("rank", row_number().over(
          Window.partitionBy("aoi_id")
            .orderBy(col("d2"), col("scene_id"), col("subswath"), col("burst_idx"))))
        .where(col("rank") <= K)
        .select("aoi_id", "rank", "scene_id", "subswath", "burst_idx", "d2")
      // certified: K candidates found and the k-th distance is inside the ring bound
      val certified = ranked.groupBy("aoi_id")
        .agg(count(lit(1)).as("n"), max("d2").as("kd2"))
        .where(col("n") === K && col("kd2") <= radius * radius)
        .select("aoi_id")
      val newDone = ranked.join(certified, Seq("aoi_id"), "left_semi")
        .select("aoi_id", "rank", "scene_id", "subswath", "burst_idx", "d2")
      done = if (done == null) newDone else done.unionByName(newDone)
      // localCheckpoint: cuts the per-round lineage so the (rare) wide rings
      // don't replan the whole expansion history
      done = done.localCheckpoint()
      remaining = remaining.join(certified, Seq("aoi_id"), "left_anti").localCheckpoint()
      radius *= 2
    }
    done
  }

  /** Max distance (microdegrees) for the within-distance pair join: 0.3 deg. */
  val PairDistUs = 300000L

  /** Grid level for the pair join: both cell edges at level 9 (0.703 deg lon,
   * 0.352 deg lat) exceed PairDistUs/1e6, so a point's 3x3 cell neighborhood is
   * a COMPLETE candidate set for its within-distance partners — the classic
   * grid self-join bound (any pair within D spans at most one cell boundary
   * per axis when D <= min cell edge). */
  val PairLevel = 9

  /**
   * Within-distance spatial self-join: all unordered burst-center pairs with
   * squared microdegree distance <= PairDistUs^2 — the dense-orbit-track pair
   * problem (consecutive bursts overlap, neighboring orbit tracks run close).
   * Plan shape: each point keys its HOME level-9 cell; the probe side explodes
   * to the (clamped) 3x3 neighborhood, so the ONLY join is an equi-join on the
   * packed cell id with fan-out exactly 9 — no cartesian, no range join, and at
   * corpus scale the shuffle volume is 9x points, independent of pair density.
   * Each qualifying pair is found exactly once (the partner's home cell is
   * unique), so no post-join dedup is needed; the (scene, subswath, burst)
   * tuple order keeps one row per unordered pair.
   */
  def withinDistQuery(spark: SparkSession, sfDir: String): DataFrame =
    withinDistPairs(spark, sfDir, PairDistUs, PairLevel)

  /** Parameterized grid pair join — the level must satisfy the completeness
   * bound (both cell edges >= dUs), asserted here. */
  def withinDistPairs(spark: SparkSession, sfDir: String,
      dUs: Long, level: Int): DataFrame = {
    require(dUs <= (180.0 / (1L << level)) * 1e6,
      s"level $level cell edge below distance $dUs — 3x3 probe incomplete")
    val lonC = (col("lon1") + col("lon2") + col("lon3") + col("lon4")) / 4
    val latC = (col("lat1") + col("lat2") + col("lat3") + col("lat4")) / 4
    val base = Fixtures.table(spark, sfDir, "bursts").select(
      col("scene_id"), col("subswath"), col("burst_idx"),
      microdeg(lonC).as("px"), microdeg(latC).as("py"),
      CellIndex.ixCol(lonC, level).as("ix"),
      CellIndex.iyCol(latC, level).as("iy"))
    val n = (1L << level) - 1
    val probe = base.withColumn("cell", explode(flatten(transform(
        sequence(greatest(lit(0L), col("iy") - 1), least(lit(n), col("iy") + 1)), yy =>
          transform(
            sequence(greatest(lit(0L), col("ix") - 1), least(lit(n), col("ix") + 1)), xx =>
              CellIndex.packCol(level, yy, xx))))))
      .drop("ix", "iy")
    val home = base
      .withColumn("cell", CellIndex.packCol(level, col("iy"), col("ix")))
      .drop("ix", "iy")
    val a = probe.select(col("cell"), col("scene_id").as("scene_a"),
      col("subswath").as("subswath_a"), col("burst_idx").as("burst_a"),
      col("px").as("pxa"), col("py").as("pya"))
    val b = home.select(col("cell"), col("scene_id").as("scene_b"),
      col("subswath").as("subswath_b"), col("burst_idx").as("burst_b"),
      col("px").as("pxb"), col("py").as("pyb"))
    val d2 = (col("pxa") - col("pxb")) * (col("pxa") - col("pxb")) +
             (col("pya") - col("pyb")) * (col("pya") - col("pyb"))
    a.join(b, Seq("cell"))
      .where(struct(col("scene_a"), col("subswath_a"), col("burst_a")) <
             struct(col("scene_b"), col("subswath_b"), col("burst_b")))
      .where(d2 <= dUs * dUs)
      .select(col("scene_a"), col("subswath_a"), col("burst_a"),
        col("scene_b"), col("subswath_b"), col("burst_b"), d2.as("d2"))
  }

  /**
   * Triangle counting (q_triangles) on the within-distance proximity graph —
   * the classic distributed graph analytic (clustering-coefficient numerator;
   * here: triples of mutually-overlapping bursts, the redundant-coverage
   * detector). Uses the DEGREE-ORDERED edge-iterator algorithm: orient every
   * edge from its (degree, id)-smaller endpoint to the larger, build wedges
   * by joining oriented edges on their shared SOURCE, close each wedge
   * against the oriented edge set. Orientation is the scale lever — wedge
   * count is bounded by sum of out-degree², and out-degrees are O(sqrt(m))
   * under this orientation (the m^1.5 guarantee), so no hub node ever
   * explodes the join. Output: per-node triangle counts.
   */
  /** Triangle radius: 0.4 deg (denser graph than the pair gate's 0.3 — the
   * fixture's proximity graph has no 3-cliques at 0.3); level 8 keeps the
   * 3x3 completeness bound (cell edges 1.406/0.703 deg >= 0.4). */
  val TriDistUs = 400000L

  def trianglesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val nid = (s: String, w: String, b: String) =>
      concat_ws("/", col(s), col(w), col(b).cast("string"))
    val edges = withinDistPairs(spark, sfDir, TriDistUs, 8)
      .select(nid("scene_a", "subswath_a", "burst_a").as("u"),
        nid("scene_b", "subswath_b", "burst_b").as("v"))
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val oriented = edges.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val e1 = oriented.select(col("src"), col("dst").as("w1"))
    val e2 = oriented.select(col("src"), col("dst").as("w2"))
    val wedges = e1.join(e2, Seq("src")).where(col("w1") < col("w2"))
    // close the wedge: the {w1, w2} edge exists — canonicalized to the
    // lexical (min, max) pair so the closure is a plain EQUI-join (an OR of
    // both orientations would plan as a nested-loop join)
    val closure = oriented.select(
      least(col("src"), col("dst")).as("w1"), greatest(col("src"), col("dst")).as("w2"))
    val tris = wedges.join(closure, Seq("w1", "w2"), "left_semi")
      .select(col("src"), col("w1"), col("w2"))
    tris.select(explode(array(col("src"), col("w1"), col("w2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
  }

  /** Integer cross product (B-A) x (P-A) of microdegree points, as a Column.
   * Magnitudes: coords < 2^28, so each product term < 2^56 — exact in LONG. */
  private def crossC(ax: Column, ay: Column, bx: Column, by: Column,
      px: Column, py: Column): Column =
    (bx - ax) * (py - ay) - (by - ay) * (px - ax)

  /**
   * Exact polygon-polygon intersects join: burst footprint quadrilateral
   * (sheared parallelogram, ring BL,BR,TR,TL — CCW) x AOI rectangle, in integer
   * microdegrees. The exact convex-convex test is the standard three-clause
   * decomposition: (A) a quad vertex lies in the rect (closed), (B) a rect
   * corner lies in the quad (closed, CCW cross >= 0 per edge), or (C) some quad
   * edge PROPERLY crosses some rect edge (strict straddle both ways). For
   * convex sets this is complete: disjoint boundaries + no contained vertex
   * implies disjoint regions. A bbox-overlap candidate prune runs first (cell
   * cover equi-join, AOI side broadcast), and the exact predicate runs
   * map-side on candidates only — the same cheap-bbox-then-exact two-phase
   * shape the reference uses for AOI selection (TOPSARSplitOp.java:261-306),
   * with the exact leg upgraded from point-in-polygon to polygon-polygon.
   */
  def footprintIntersectsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bRaw = Fixtures.table(spark, sfDir, "bursts")
    val cornerCols = (1 to 4).flatMap(i => Seq(
      microdeg(col(s"lon$i")).as(s"x$i"), microdeg(col(s"lat$i")).as(s"y$i")))
    val bursts = bRaw.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++ cornerCols ++ Seq(
        explode(CellIndex.coverCol(
          least(col("lon1"), col("lon2"), col("lon3"), col("lon4")),
          least(col("lat1"), col("lat2"), col("lat3"), col("lat4")),
          greatest(col("lon1"), col("lon2"), col("lon3"), col("lon4")),
          greatest(col("lat1"), col("lat2"), col("lat3"), col("lat4")))).as("cell")): _*)
    val aoi = Fixtures.table(spark, sfDir, "aoi").select(
      col("aoi_id"),
      microdeg(col("lon_min")).as("rx0"), microdeg(col("lat_min")).as("ry0"),
      microdeg(col("lon_max")).as("rx1"), microdeg(col("lat_max")).as("ry1"),
      explode(CellIndex.coverCol(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))).as("cell"))
    val pairs = bursts.join(broadcast(aoi), Seq("cell")).drop("cell").distinct()

    val vs = (1 to 4).map(i => (col(s"x$i"), col(s"y$i")))
    val rcs = Seq((col("rx0"), col("ry0")), (col("rx1"), col("ry0")),
      (col("rx1"), col("ry1")), (col("rx0"), col("ry1")))
    val quadEdges = vs.zip(vs.tail :+ vs.head)
    val rectEdges = rcs.zip(rcs.tail :+ rcs.head)
    val vertexInRect = vs.map { case (x, y) =>
      x >= col("rx0") && x <= col("rx1") && y >= col("ry0") && y <= col("ry1")
    }.reduce(_ || _)
    val cornerInQuad = rcs.map { case (px, py) =>
      quadEdges.map { case ((ax, ay), (bx, by)) =>
        crossC(ax, ay, bx, by, px, py) >= 0
      }.reduce(_ && _)
    }.reduce(_ || _)
    def proper(c1: Column, c2: Column): Column =
      (c1 > 0 && c2 < 0) || (c1 < 0 && c2 > 0)
    val edgeCross = (for {
      ((ax, ay), (bx, by)) <- quadEdges
      ((cx, cy), (dx, dy)) <- rectEdges
    } yield proper(crossC(ax, ay, bx, by, cx, cy), crossC(ax, ay, bx, by, dx, dy)) &&
            proper(crossC(cx, cy, dx, dy, ax, ay), crossC(cx, cy, dx, dy, bx, by))
    ).reduce(_ || _)
    pairs
      .where(vertexInRect || cornerInQuad || edgeCross)
      .select(col("aoi_id"), col("scene_id"), col("subswath"), col("burst_idx"),
        when(vertexInRect, "vertex_in_rect")
          .when(cornerInQuad, "corner_in_quad")
          .otherwise("edge_cross").as("via"))
  }

  /**
   * Exact-area polygon clip join (q_clip_area) — the ST_Intersection →
   * ST_Area composition: for every (AOI rectangle, burst footprint quad) pair
   * that overlaps with positive area, the area of the intersection polygon by
   * Sutherland–Hodgman half-plane clipping, plus the burst coverage fraction
   * in ppm. This is the area-weighting primitive behind area-interpolated
   * zonal statistics and coverage accounting (the toolbox's AOI selection
   * stops at boolean intersects; area weighting is what a mosaic/coverage
   * report needs).
   *
   * Geometry runs in pair-local fp-lattice coordinates (2^25 x 2^24 grid,
   * translated to the burst bbox corner so every vertex magnitude stays under
   * 2^18) with each computed intersection ordinate snapped to the 2^-8 dyadic
   * grid — all IEEE-double steps evaluated in identical order by the compiled
   * kernel (Kernels.clipAreaQ) and the DuckDB staged-CTE twin, so the
   * quantized area is bit-exact cross-engine. Candidates come from the same
   * broadcast cell-cover equi-join as footprintIntersectsQuery (cheap bbox
   * phase), and the clip kernel runs map-side on candidates only; the > 0
   * area filter makes the candidate superset immaterial.
   */
  def clipAreaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bRaw = Fixtures.table(spark, sfDir, "bursts")
    val cornerCols = (1 to 4).flatMap(i => Seq(
      fpx(col(s"lon$i")).as(s"fx$i"), fpy(col(s"lat$i")).as(s"fy$i")))
    val bursts = bRaw.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++ cornerCols ++ Seq(
        explode(CellIndex.coverCol(
          least(col("lon1"), col("lon2"), col("lon3"), col("lon4")),
          least(col("lat1"), col("lat2"), col("lat3"), col("lat4")),
          greatest(col("lon1"), col("lon2"), col("lon3"), col("lon4")),
          greatest(col("lat1"), col("lat2"), col("lat3"), col("lat4")))).as("cell")): _*)
    val aoi = Fixtures.table(spark, sfDir, "aoi").select(
      col("aoi_id"),
      fpx(col("lon_min")).as("rfx0"), fpy(col("lat_min")).as("rfy0"),
      fpx(col("lon_max")).as("rfx1"), fpy(col("lat_max")).as("rfy1"),
      explode(CellIndex.coverCol(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))).as("cell"))
    val pairs = bursts.join(broadcast(aoi), Seq("cell")).drop("cell").distinct()
      .withColumn("ox", least(col("fx1"), col("fx2"), col("fx3"), col("fx4")))
      .withColumn("oy", least(col("fy1"), col("fy2"), col("fy3"), col("fy4")))
    val args = (1 to 4).flatMap(i => Seq(
      (col(s"fx$i") - col("ox")).cast("double"),
      (col(s"fy$i") - col("oy")).cast("double"))) ++ Seq(
      (col("rfx0") - col("ox")).cast("double"), (col("rfy0") - col("oy")).cast("double"),
      (col("rfx1") - col("ox")).cast("double"), (col("rfy1") - col("oy")).cast("double"))
    val burstArea2 = abs((1 to 4).map { i =>
      val j = i % 4 + 1
      (col(s"fx$i") - col("ox")) * (col(s"fy$j") - col("oy")) -
        (col(s"fx$j") - col("ox")) * (col(s"fy$i") - col("oy"))
    }.reduce(_ + _))
    pairs
      .withColumn("area_q", graft.exprs.KernelExprs.clipAreaQ(args))
      .withColumn("burst_area2", burstArea2)
      .where(col("area_q") > 0)
      .select(col("aoi_id"), col("scene_id"), col("subswath"), col("burst_idx"),
        col("area_q"), col("burst_area2"),
        expr("((area_q div 256) * 1000000) div (burst_area2 * 256)").as("cov_ppm"))
  }

  /**
   * Area-weighted zonal statistics (q_zonal_area) — areal interpolation, the
   * composition the clip-area primitive exists for: each overlapping burst
   * contributes its mean pixel power weighted by the EXACT overlap area with
   * the AOI (the census-block / coverage-report standard), rather than
   * zonalStatsQuery's per-pixel point-in-rect test. Per-AOI rollup reports
   * burst count, total overlap area, and the area-weighted mean power.
   *
   * Exactness: weights are the clip kernel's quantized areas descaled by 2^24
   * (resolution ~2^8 lattice units² — keeps every product and sum far inside
   * BIGINT); mean power is the shared q6 pixel quantization with integer
   * division. Scale: the per-burst power rollup is one map-side-combined
   * aggregation of the tile stream; the weight frame is the (already tiny)
   * clip-pair frame; the join is burst-keyed hash, the final rollup per-AOI.
   */
  def zonalAreaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val power = Fixtures.table(spark, sfDir, "tiles").where(col("pol") === "VV")
      .select(col("scene_id"), col("subswath"), col("burst_idx"),
        col("no_data"), posexplode(col("i")).as(Seq("k", "iv")),
        col("q"))
      .withColumn("qv", element_at(col("q"), col("k") + 1))
      .where(col("iv") =!= col("no_data"))
      .groupBy("scene_id", "subswath", "burst_idx")
      .agg(count(lit(1)).as("n_px"),
        sum(KernelExprs.grid(col("iv") * col("iv") + col("qv") * col("qv"), 1e6)).as("pow_q"))
      .withColumn("mean_pq", expr("pow_q div n_px"))
    val weights = clipAreaQuery(spark, sfDir)
      .withColumn("w", expr("area_q div 16777216"))
    weights.join(power, Seq("scene_id", "subswath", "burst_idx"))
      .groupBy("aoi_id")
      .agg(count(lit(1)).as("n_bursts"),
        sum(col("w")).as("area_sum"),
        sum(col("w") * col("mean_pq")).as("wpow_sum"))
      .withColumn("wmean_pq",
        expr("CASE WHEN area_sum = 0 THEN 0L ELSE wpow_sum div area_sum END"))
  }

  /** Zoom levels for the vector-tile generation gate. */
  val VectorTileLevels = Seq(10, 11)

  /** Projection parameter resolution for q_snap_track: 1/256 of a segment. */
  val SnapTScale = 256L

  /**
   * Snap-to-track (q_snap_track) — the point→line nearest-neighbor join that
   * completes the kNN family (point→point = spatialKnn, point→polygon = PIP;
   * this is ST_ClosestPoint / map-matching): every 3rd event's planted
   * position snapped to the nearest burst-footprint edge segment. The
   * closest point is taken on the 1/256-subdivided segment (projection
   * parameter floor-quantized to t/256 — a DEFINED, reproducible semantics
   * like the clip kernel's dyadic snap), distances compared EXACTLY in
   * DECIMAL(38) scaled squared units with (segment key) tie-break.
   *
   * Ring expansion with the same certification as spatialKnnQuery: segment
   * cells (bbox cover) are equi-joined against the event's expanding box
   * cover; once the best candidate's scaled distance is within the ring
   * bound, no unseen segment (provably outside the box) can beat it. The
   * min is a groupBy min-struct aggregate (map-side combined; duplicate
   * candidates from shared cells collapse in the min for free).
   */
  def snapTrackQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val fpPerDeg = (1L << RasterXBits).toDouble / 360.0
    val bursts = Fixtures.table(spark, sfDir, "bursts").select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++
      (1 to 4).flatMap(i => Seq(
        col(s"lon$i"), col(s"lat$i"),
        fpx(col(s"lon$i")).as(s"fx$i"), fpy(col(s"lat$i")).as(s"fy$i"))): _*)
    val segs = bursts.withColumn("e", explode(array((1 to 4).map { i =>
        val j = i % 4 + 1
        struct(lit(i).as("edge"),
          col(s"fx$i").as("xa"), col(s"fy$i").as("ya"),
          col(s"fx$j").as("xb"), col(s"fy$j").as("yb"),
          col(s"lon$i").as("lona"), col(s"lat$i").as("lata"),
          col(s"lon$j").as("lonb"), col(s"lat$j").as("latb"))
      }: _*)))
      .select(col("scene_id"), col("subswath"), col("burst_idx"), col("e.*"))
      .where((col("xb") - col("xa")) * (col("xb") - col("xa")) +
             (col("yb") - col("ya")) * (col("yb") - col("ya")) > 0)
    val segCells = segs.withColumn("cell", explode(CellIndex.coverCol(
        least(col("lona"), col("lonb")), least(col("lata"), col("latb")),
        greatest(col("lona"), col("lonb")), greatest(col("lata"), col("latb")))))
      .drop("lona", "lata", "lonb", "latb")
    var remaining = Geofence.positioned(spark, sfDir)
      .where(col("event_id") % 3 === 0)
      .select(col("event_id"), col("lon"), col("lat"),
        fpx(col("lon")).as("ex"), fpy(col("lat")).as("ey"))
    var rFp = 1L << 14
    var done: DataFrame = null
    while (rFp <= (1L << 26) && !remaining.isEmpty) {
      val rdeg = rFp / fpPerDeg
      val lvl = levelFor((rdeg * 1e6).toLong)
      val cand = remaining
        .withColumn("cell", explode(CellIndex.coverCol(
          col("lon") - rdeg, col("lat") - rdeg, col("lon") + rdeg, col("lat") + rdeg, lvl)))
        .join(segCells.withColumn("cell", coarsenCol(col("cell"), lvl)), Seq("cell"))
        .withColumn("tnum",
          (col("ex") - col("xa")) * (col("xb") - col("xa")) +
          (col("ey") - col("ya")) * (col("yb") - col("ya")))
        .withColumn("len2",
          (col("xb") - col("xa")) * (col("xb") - col("xa")) +
          (col("yb") - col("ya")) * (col("yb") - col("ya")))
        .withColumn("tq", least(lit(SnapTScale),
          expr(s"(greatest(0L, tnum) * $SnapTScale) div len2")))
        .withColumn("dx", col("ex") * SnapTScale -
          (col("xa") * SnapTScale + (col("xb") - col("xa")) * col("tq")))
        .withColumn("dy", col("ey") * SnapTScale -
          (col("ya") * SnapTScale + (col("yb") - col("ya")) * col("tq")))
        .withColumn("d2q",
          col("dx").cast("decimal(38,0)") * col("dx").cast("decimal(38,0)") +
          col("dy").cast("decimal(38,0)") * col("dy").cast("decimal(38,0)"))
      val best = cand.groupBy("event_id")
        .agg(min(struct(col("d2q"), col("scene_id"), col("subswath"),
          col("burst_idx"), col("edge"), col("tq"), col("dx"), col("dy"))).as("b"))
      // certify against (rFp - 2): an unseen segment shares no cell with the
      // box cover, so it lies outside the degree box, whose fp half-width is
      // at least rFp minus 2 units of floor-quantization slack
      val bound = lit((rFp - 2) * SnapTScale).cast("decimal(38,0)") *
        lit((rFp - 2) * SnapTScale).cast("decimal(38,0)")
      val certified = best.where(col("b.d2q") <= bound)
        .select(col("event_id"),
          col("b.scene_id").as("scene_id"), col("b.subswath").as("subswath"),
          col("b.burst_idx").as("burst_idx"), col("b.edge").as("edge"),
          col("b.tq").as("tq"),
          (expr(s"abs(b.dx) div $SnapTScale") * expr(s"abs(b.dx) div $SnapTScale") +
           expr(s"abs(b.dy) div $SnapTScale") * expr(s"abs(b.dy) div $SnapTScale")).as("d2"))
      done = if (done == null) certified.localCheckpoint()
             else done.unionByName(certified).localCheckpoint()
      remaining = remaining.join(certified.select("event_id"),
        Seq("event_id"), "left_anti").localCheckpoint()
      rFp *= 2
    }
    // fail loudly (like kcore/sssp) instead of silently dropping events whose
    // nearest segment is not certified by the 2^26 ring cap
    require(remaining.isEmpty,
      s"snapTrack: ${remaining.count()} event(s) not certified within the max search ring")
    // empty input: no ring ever produced a frame — return an empty result with
    // the output schema rather than null (NPE downstream)
    if (done == null)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("scene_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("subswath", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("burst_idx", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("edge", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("tq", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("d2", org.apache.spark.sql.types.LongType))))
    else done
  }

  /**
   * Vector-tile generation (q_vector_tiles) — the distributed tiler shape
   * behind every web-map vector pipeline: each feature (burst footprint) is
   * clipped against every zoom-cell rectangle it overlaps, per zoom level,
   * and each tile rolls up its clipped feature count and total clipped area.
   * Reuses the Sutherland–Hodgman kernel (Kernels.clipAreaQ) with the cell
   * rectangle as the clip window.
   *
   * Scale posture: ZERO joins — candidate cells come from each feature's own
   * bbox (a bounded explode: a footprint covers a handful of cells per
   * level), the clip kernel is a map-side compiled expression, and the only
   * shuffle is the per-(level, cell) rollup. This is the plan a 10^12-feature
   * tiler needs: tile assignment never touches a second table.
   */
  def vectorTilesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bRaw = Fixtures.table(spark, sfDir, "bursts")
    val base = bRaw.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++
      (1 to 4).flatMap(i => Seq(
        fpx(col(s"lon$i")).as(s"fx$i"), fpy(col(s"lat$i")).as(s"fy$i"))) ++ Seq(
        least(col("lon1"), col("lon2"), col("lon3"), col("lon4")).as("lon_lo"),
        greatest(col("lon1"), col("lon2"), col("lon3"), col("lon4")).as("lon_hi"),
        least(col("lat1"), col("lat2"), col("lat3"), col("lat4")).as("lat_lo"),
        greatest(col("lat1"), col("lat2"), col("lat3"), col("lat4")).as("lat_hi")): _*)
      .withColumn("ox", least(col("fx1"), col("fx2"), col("fx3"), col("fx4")))
      .withColumn("oy", least(col("fy1"), col("fy2"), col("fy3"), col("fy4")))
    val perLevel = VectorTileLevels.map { lvl =>
      val sx = RasterXBits - lvl
      val sy = RasterYBits - lvl
      val withCells = base
        .withColumn("cix", explode(sequence(
          CellIndex.ixCol(col("lon_lo"), lvl), CellIndex.ixCol(col("lon_hi"), lvl))))
        .withColumn("ciy", explode(sequence(
          CellIndex.iyCol(col("lat_lo"), lvl), CellIndex.iyCol(col("lat_hi"), lvl))))
      val args = (1 to 4).flatMap(i => Seq(
        (col(s"fx$i") - col("ox")).cast("double"),
        (col(s"fy$i") - col("oy")).cast("double"))) ++ Seq(
        (shiftleft(col("cix"), sx) - col("ox")).cast("double"),
        (shiftleft(col("ciy"), sy) - col("oy")).cast("double"),
        (shiftleft(col("cix") + 1, sx) - col("ox")).cast("double"),
        (shiftleft(col("ciy") + 1, sy) - col("oy")).cast("double"))
      withCells
        .withColumn("area_q", graft.exprs.KernelExprs.clipAreaQ(args))
        .where(col("area_q") > 0)
        .select(lit(lvl.toLong).as("level"),
          CellIndex.packCol(lvl, col("ciy"), col("cix")).as("cell"),
          col("area_q"))
    }
    perLevel.reduce(_ unionByName _)
      .groupBy("level", "cell")
      .agg(count(lit(1)).as("n_features"), sum(col("area_q")).as("area_sum"))
  }

  /** q_simplify epsilon: 2 metres of perpendicular deviation. */
  val SimplifyEps2 = 4L

  /** Max split rounds for q_simplify — matched EXACTLY by the oracle's
   * unrolled CTE rounds; the spec asserts convergence inside the cap. */
  val SimplifyRounds = 16

  /**
   * Polyline simplification (q_simplify) — Douglas–Peucker, the ST_Simplify
   * analog, on the curved-orbit ground tracks (x-y ECEF projection, integer
   * metres): recursively keep the interior vertex of maximum perpendicular
   * deviation while it exceeds eps, drop everything else. The deviation test
   * is EXACT integer arithmetic — cross((b-a),(p-a))² > eps²·|b-a|² compared
   * in DECIMAL(38) (cross ≤ 2^36, its square ≤ 2^72 — far inside both
   * Spark's DECIMAL(38) and DuckDB's HUGEINT).
   *
   * Execution is the iterative split frontier: a frame of active segments
   * (scene, a, b), each round joining interior candidates (an equi-join on
   * the polyline key; a polyline is bounded at any archive size), taking the
   * per-segment argmax by (dev, idx), splitting where the max exceeds
   * threshold, retiring segments with none. Rounds ≤ SimplifyRounds, matched
   * by the oracle's unrolled CTE chain round for round.
   */
  def simplifyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Fixtures.table(spark, sfDir, "orbit_curved")
      .select(col("scene_id"), col("t_sec"),
        floor(col("x")).cast("long").as("px"), floor(col("y")).cast("long").as("py"))
      .withColumn("idx", row_number().over(
        Window.partitionBy("scene_id").orderBy("t_sec")))
      .select("scene_id", "idx", "px", "py")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pa = pts.select(col("scene_id"), col("idx").as("a"),
      col("px").as("xa"), col("py").as("ya"))
    val pb = pts.select(col("scene_id"), col("idx").as("b"),
      col("px").as("xb"), col("py").as("yb"))
    var segs = pts.groupBy("scene_id").agg(min("idx").as("a"), max("idx").as("b"))
    var finals = segs.limit(0)
    var round = 0
    var done = false
    while (!done && round < SimplifyRounds) {
      val withEnds = segs.join(pa, Seq("scene_id", "a")).join(pb, Seq("scene_id", "b"))
      val cand = withEnds.join(pts, Seq("scene_id"))
        .where(col("idx") > col("a") && col("idx") < col("b"))
        .withColumn("cross",
          (col("xb") - col("xa")) * (col("py") - col("ya")) -
          (col("yb") - col("ya")) * (col("px") - col("xa")))
        .withColumn("dev",
          col("cross").cast("decimal(38,0)") * col("cross").cast("decimal(38,0)"))
        .withColumn("thr",
          (lit(SimplifyEps2) * ((col("xb") - col("xa")) * (col("xb") - col("xa")) +
            (col("yb") - col("ya")) * (col("yb") - col("ya")))).cast("decimal(38,0)"))
      val top = cand.withColumn("rn", row_number().over(
          Window.partitionBy("scene_id", "a", "b").orderBy(desc("dev"), asc("idx"))))
        .where(col("rn") === 1)
      val splits = top.where(col("dev") > col("thr"))
        .select(col("scene_id"), col("a"), col("b"), col("idx").as("m"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = splits.count()
      val retired = segs.join(splits.select("scene_id", "a", "b"),
        Seq("scene_id", "a", "b"), "left_anti")
      finals = finals.unionByName(retired).localCheckpoint(true)
      if (n == 0) done = true
      else segs = splits.selectExpr("scene_id", "a", "m AS b")
        .unionByName(splits.selectExpr("scene_id", "m AS a", "b"))
        .localCheckpoint(true)
      splits.unpersist()
      round += 1
    }
    require(done, s"q_simplify did not converge in $SimplifyRounds rounds")
    val kept = finals.select(col("scene_id"), col("a").as("idx"))
      .unionByName(finals.select(col("scene_id"), col("b").as("idx")))
      .distinct()
    val out = kept.join(pts, Seq("scene_id", "idx"))
      .select("scene_id", "idx", "px", "py")
    pts.unpersist()
    out
  }

  /** Fixed-point bits for the line rasterizer: lon on a 2^25 grid, lat on 2^24,
   * so a DefaultLevel(11) cell spans exactly 2^14 x 2^13 subunits. Floor
   * composition makes the fixed-point cell index identical to CellIndex's:
   * floor(floor(t*2^25)/2^14) == floor(t*2^11). */
  val RasterXBits = 25
  val RasterYBits = 24
  private val SubX = 1L << (RasterXBits - CellIndex.DefaultLevel) // 2^14

  private def fpx(lon: Column): Column =
    least(lit((1L << RasterXBits) - 1), greatest(lit(0L),
      floor((lon + 180.0) / 360.0 * (1L << RasterXBits).toDouble).cast("long")))
  private def fpy(lat: Column): Column =
    least(lit((1L << RasterYBits) - 1), greatest(lit(0L),
      floor((lat + 90.0) / 180.0 * (1L << RasterYBits).toDouble).cast("long")))

  /** Exact floor division p/q for q > 0, as a Column. p is bounded by
   * 2^25 * 2^24 = 2^49, so the intermediate double division of the exactly
   * divisible (p - pmod(p, q)) is exact (both operands and the integral
   * quotient sit far below 2^53). */
  private def floorDiv(p: Column, q: Column): Column =
    floor((p - pmod(p, q)) / q).cast("long")

  /**
   * Vector->raster line rasterization: the level-11 cell supercover of every
   * burst-footprint boundary edge (the sheared parallelogram's 4 sides) — the
   * polygon-outline pass of any distributed rasterizer, and the track->tile
   * assignment primitive for orbit ground tracks. The segment is quantized to
   * a 2^25 x 2^24 fixed-point lattice, canonically oriented, and traversed by
   * COLUMN SCAN: per crossed cell column, the row span between the edge's
   * entry and exit y (exact integer floor division — y is monotone along the
   * segment, so the span is exactly the rows touched). Everything after the
   * one fixed-point conversion is integer arithmetic, so the rasterization is
   * bit-exact cross-engine and orientation-independent by construction. The
   * plan is a pure per-row explode chain — zero joins, zero shuffles; at
   * corpus scale it is embarrassingly parallel map work.
   */
  def trackCellsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Fixtures.table(spark, sfDir, "bursts")
    val corners = b.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++
        (1 to 4).flatMap(i => Seq(
          fpx(col(s"lon$i")).as(s"fx$i"), fpy(col(s"lat$i")).as(s"fy$i"))): _*)
    val edges = corners.select(
      col("scene_id"), col("subswath"), col("burst_idx"),
      explode(array((1 to 4).map { i =>
        val j = i % 4 + 1
        struct(lit(i).as("edge"), col(s"fx$i").as("ax"), col(s"fy$i").as("ay"),
          col(s"fx$j").as("bx"), col(s"fy$j").as("by"))
      }: _*)).as("e"))
      .select(col("scene_id"), col("subswath"), col("burst_idx"), col("e.*"))
    // canonical orientation: ascending x, ties by ascending y — the cell set
    // cannot depend on which way the edge was listed
    val swap = col("ax") > col("bx") || (col("ax") === col("bx") && col("ay") > col("by"))
    val o = edges
      .withColumn("x0", when(swap, col("bx")).otherwise(col("ax")))
      .withColumn("y0", when(swap, col("by")).otherwise(col("ay")))
      .withColumn("x1", when(swap, col("ax")).otherwise(col("bx")))
      .withColumn("y1", when(swap, col("ay")).otherwise(col("by")))
      .withColumn("dx", col("x1") - col("x0"))
      .withColumn("dy", col("y1") - col("y0"))
    val cols = o.withColumn("ix",
      explode(sequence(shiftright(col("x0"), RasterXBits - CellIndex.DefaultLevel),
        shiftright(col("x1"), RasterXBits - CellIndex.DefaultLevel))))
      .withColumn("xe", greatest(col("x0"), col("ix") * SubX))
      .withColumn("xx", least(col("x1"), (col("ix") + 1) * SubX - 1))
    def yAt(x: Column): Column = col("y0") + floorDiv((x - col("x0")) * col("dy"), col("dx"))
    val spans = cols
      .withColumn("ye", when(col("dx") === 0, least(col("y0"), col("y1"))).otherwise(yAt(col("xe"))))
      .withColumn("yx", when(col("dx") === 0, greatest(col("y0"), col("y1"))).otherwise(yAt(col("xx"))))
    spans.withColumn("iy",
        explode(sequence(
          shiftright(least(col("ye"), col("yx")), RasterYBits - CellIndex.DefaultLevel),
          shiftright(greatest(col("ye"), col("yx")), RasterYBits - CellIndex.DefaultLevel))))
      .select(col("scene_id"), col("subswath"), col("burst_idx"), col("edge"),
        CellIndex.packCol(CellIndex.DefaultLevel, col("iy"), col("ix")).as("cell"))
  }

  /** Compaction floor: 3 rounds, level 11 -> 8 (cells grow 8x per axis). */
  val CompactFloorLevel = 8

  private val IdxMask = (1L << 29) - 1

  /**
   * Quadtree cover compaction (H3/S2 `compact`): per AOI, the level-11 bbox
   * cover set with every full 4-child quad replaced by its parent, iterated
   * down to CompactFloorLevel. Pure integer bit arithmetic on packed cell ids;
   * each round is one (aoi, parent) aggregation — no joins on raw data, the
   * frame only shrinks. Output: (aoi_id, level, cell) of the minimal mixed-
   * level set.
   */
  def cellCompactQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val aoi = Fixtures.table(spark, sfDir, "aoi")
    var cur = aoi.select(col("aoi_id"), explode(CellIndex.coverCol(
      col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))).as("cell"))
    for (lvl <- CellIndex.DefaultLevel until CompactFloorLevel by -1) {
      val atLvl = cur.where(shiftright(col("cell"), 58) === lvl)
        .withColumn("parent",
          lit((lvl - 1).toLong << 58).bitwiseOR(
            shiftleft(shiftright(shiftright(col("cell"), 29).bitwiseAND(IdxMask), 1), 29)
              .bitwiseOR(shiftright(col("cell").bitwiseAND(IdxMask), 1))))
      val full = atLvl.groupBy("aoi_id", "parent")
        .agg(count(lit(1)).as("n")).where(col("n") === 4)
        .select(col("aoi_id"), col("parent"))
      cur = cur.where(shiftright(col("cell"), 58) =!= lvl)
        .unionByName(full.select(col("aoi_id"), col("parent").as("cell")))
        .unionByName(atLvl.join(full, Seq("aoi_id", "parent"), "left_anti")
          .select("aoi_id", "cell"))
    }
    cur.select(col("aoi_id"), shiftright(col("cell"), 58).as("level"), col("cell"))
  }

  /**
   * Raster->vector zonal statistics: per AOI polygon, the pixel count, tile
   * count, and quantized total power of all VV pixels whose geodetic position
   * (the same burst-bilinear geolocation the span pipeline uses,
   * ops/Spans.scala:53-57) falls inside the polygon. Plan shape for 100 TB:
   * tile bbox cover x AOI cover equi-join picks candidate (tile, aoi) PAIRS
   * first (tile arrays untouched), pixels explode only for candidates, and
   * the exact point-in-polygon filter runs map-side on the exploded rows.
   */
  def zonalStatsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val w = graft.model.Layout.SamplesPerBurst // 128
    val h = graft.model.Layout.LinesPerBurst   // 64
    val tw = graft.model.Layout.TileW
    val th = graft.model.Layout.TileH
    val aoiCells = Fixtures.table(spark, sfDir, "aoi")
      .withColumn("cell", explode(CellIndex.coverCol(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))))
    val bursts = Fixtures.table(spark, sfDir, "bursts")
      .select("scene_id", "subswath", "burst_idx",
        "lon1", "lat1", "lon2", "lat2", "lon4", "lat4")
    val tiles = Fixtures.table(spark, sfDir, "tiles").where(col("pol") === "VV")
    // tile corner geolocation -> bbox -> cell cover (corners at u in {x0/w, x1/w},
    // v in {y0/h, y1/h}; the bilinear map is monotone in u and v so corner
    // extrema bound the tile)
    def lonAt(u: Column, v: Column): Column =
      col("lon1") + u * (col("lon2") - col("lon1")) + v * (col("lon4") - col("lon1"))
    def latAt(v: Column): Column = col("lat1") + v * (col("lat4") - col("lat1"))
    val u0 = col("tile_x") * tw / lit(w.toDouble)
    val u1 = (col("tile_x") + 1) * tw / lit(w.toDouble)
    val v0 = col("tile_y") * th / lit(h.toDouble)
    val v1 = (col("tile_y") + 1) * th / lit(h.toDouble)
    val tileKeyed = tiles.select("scene_id", "subswath", "burst_idx", "tile_x", "tile_y")
      .join(broadcast(bursts), Seq("scene_id", "subswath", "burst_idx"))
    val tileCells = tileKeyed.withColumn("cell", explode(CellIndex.coverCol(
      least(lonAt(u0, v0), lonAt(u1, v0), lonAt(u0, v1), lonAt(u1, v1)),
      least(latAt(v0), latAt(v1)),
      greatest(lonAt(u0, v0), lonAt(u1, v0), lonAt(u0, v1), lonAt(u1, v1)),
      greatest(latAt(v0), latAt(v1)))))
    // candidate (tile, aoi) pairs — distinct BEFORE touching pixel arrays
    val pairs = tileCells.join(broadcast(aoiCells.select(
        col("cell"), col("aoi_id"), col("lon_min"), col("lat_min"),
        col("lon_max"), col("lat_max"))), Seq("cell"))
      .select("aoi_id", "lon_min", "lat_min", "lon_max", "lat_max",
        "scene_id", "subswath", "burst_idx", "tile_x", "tile_y",
        "lon1", "lat1", "lon2", "lat2", "lon4", "lat4")
      .distinct()
    val px = pairs.join(tiles.select("scene_id", "subswath", "burst_idx",
        "tile_x", "tile_y", "i", "q", "no_data"),
        Seq("scene_id", "subswath", "burst_idx", "tile_x", "tile_y"))
      .select(col("*"), posexplode(col("i")).as(Seq("k", "iv")))
      .withColumn("qv", element_at(col("q"), col("k") + 1))
      .where(col("iv") =!= col("no_data"))
      .withColumn("u", (col("tile_x") * tw + col("k") % tw + 0.5) / w)
      .withColumn("v", (col("tile_y") * th + floor(col("k") / tw) + 0.5) / h)
      .withColumn("lon", lonAt(col("u"), col("v")))
      .withColumn("lat", latAt(col("v")))
      .where(col("lon").between(col("lon_min"), col("lon_max")) &&
             col("lat").between(col("lat_min"), col("lat_max")))
    px.groupBy("aoi_id").agg(
      count(lit(1)).as("n_px"),
      countDistinct(col("scene_id"), col("subswath"), col("burst_idx"),
        col("tile_x"), col("tile_y")).as("n_tiles"),
      sum(KernelExprs.grid(col("iv") * col("iv") + col("qv") * col("qv"), 1e6)).as("pow_q"))
  }

  /** Polyfill grid level: 13 on the 2^25 x 2^24 fixed-point lattice — cell
   * edges are 2^12 x 2^11 fp units (0.044 deg lon, 0.022 deg lat), so a burst
   * quad (0.78 x 0.22 deg) spans ~200 cells: enough interior cells that the
   * interior/boundary split is exercised, small enough that the explode stays
   * bounded per row. */
  val FillLevel = 13
  private val FillSubX = 1L << (RasterXBits - FillLevel) // 2^12
  private val FillSubY = 1L << (RasterYBits - FillLevel) // 2^11

  /**
   * Exact polygon polyfill (the H3 `polyfill` / S2 `RegionCoverer` primitive):
   * the level-13 cells covering each burst-footprint quadrilateral, each cell
   * classified `in` (cell rect wholly inside the quad — strict cross > 0 on
   * all four CCW edges for all four rect corners) or `bd` (intersects the
   * boundary: the three-clause convex intersects test minus interior). The
   * whole computation sits on the 2^25 x 2^24 fixed-point lattice, where cell
   * rect bounds are exact integers (ix*2^12 .. (ix+1)*2^12 - 1), so every
   * cross product is exact LONG arithmetic (coords < 2^25, products < 2^51)
   * and the fill is bit-identical cross-engine. This is how an AOI or scene
   * footprint becomes the cell set that partition-prunes a cell-bucketed
   * 10^12-doc table: `in` cells need no further geometry test downstream,
   * only `bd` cells pay the exact per-row predicate — the standard
   * interior/may-intersect covering split. Plan: candidate cells from the
   * quad's own bbox (bounded per-row explode), predicate map-side — zero
   * joins, zero shuffles, embarrassingly parallel at corpus scale.
   */
  def polyfillQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Fixtures.table(spark, sfDir, "bursts")
    val q = b.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx")) ++
        (1 to 4).flatMap(i => Seq(
          fpx(col(s"lon$i")).as(s"fx$i"), fpy(col(s"lat$i")).as(s"fy$i"))): _*)
    val fxs = (1 to 4).map(i => col(s"fx$i"))
    val fys = (1 to 4).map(i => col(s"fy$i"))
    val cand = q
      .withColumn("ix", explode(sequence(
        shiftright(least(fxs: _*), RasterXBits - FillLevel),
        shiftright(greatest(fxs: _*), RasterXBits - FillLevel))))
      .withColumn("iy", explode(sequence(
        shiftright(least(fys: _*), RasterYBits - FillLevel),
        shiftright(greatest(fys: _*), RasterYBits - FillLevel))))
      .withColumn("cx0", col("ix") * FillSubX)
      .withColumn("cx1", (col("ix") + 1) * FillSubX - 1)
      .withColumn("cy0", col("iy") * FillSubY)
      .withColumn("cy1", (col("iy") + 1) * FillSubY - 1)
    val vs = (1 to 4).map(i => (col(s"fx$i"), col(s"fy$i")))
    val quadEdges = vs.zip(vs.tail :+ vs.head)
    val rcs = Seq((col("cx0"), col("cy0")), (col("cx1"), col("cy0")),
      (col("cx1"), col("cy1")), (col("cx0"), col("cy1")))
    // materialize each cross product ONCE as a column: the three clauses share
    // the same 16 quad-edge x rect-corner crosses (and the straddle clause the
    // 16 rect-edge x quad-vertex crosses); inlining every use re-emits the
    // arithmetic and the filter blows the 64 KB whole-stage-codegen method
    // limit (observed: janino "Code grows beyond 64 KB" -> interpreted fallback)
    val withQc = quadEdges.zipWithIndex.foldLeft(cand) {
      case (df, (((ax, ay), (bx, by)), e)) =>
        rcs.zipWithIndex.foldLeft(df) { case (d, ((px, py), c)) =>
          d.withColumn(s"qc_${e}_$c", crossC(ax, ay, bx, by, px, py))
        }
    }
    val rectEdgeIdx = Seq((0, 1), (1, 2), (2, 3), (3, 0))
    val withRc = rectEdgeIdx.zipWithIndex.foldLeft(withQc) {
      case (df, ((c1, c2), r)) =>
        val (px, py) = rcs(c1); val (qx, qy) = rcs(c2)
        vs.zipWithIndex.foldLeft(df) { case (d, ((x, y), v)) =>
          d.withColumn(s"rc_${r}_$v", crossC(px, py, qx, qy, x, y))
        }
    }
    def qc(e: Int, c: Int) = col(s"qc_${e}_$c")
    def rc(r: Int, v: Int) = col(s"rc_${r}_$v")
    val interior = (for (e <- 0 until 4; c <- 0 until 4) yield qc(e, c) > 0).reduce(_ && _)
    val vertexInRect = vs.map { case (x, y) =>
      x >= col("cx0") && x <= col("cx1") && y >= col("cy0") && y <= col("cy1")
    }.reduce(_ || _)
    val cornerInQuad = (0 until 4).map { c =>
      (0 until 4).map(e => qc(e, c) >= 0).reduce(_ && _)
    }.reduce(_ || _)
    def proper(c1: Column, c2: Column): Column =
      (c1 > 0 && c2 < 0) || (c1 < 0 && c2 > 0)
    // quad edge e (quad vertices e -> e+1) properly crosses rect edge r
    // (rect corners rc1 -> rc2): each segment's endpoints strictly straddle
    // the other's supporting line
    val edgeCross = (for { e <- 0 until 4; r <- 0 until 4 } yield {
      val (rc1, rc2) = rectEdgeIdx(r)
      proper(qc(e, rc1), qc(e, rc2)) && proper(rc(r, e), rc(r, (e + 1) % 4))
    }).reduce(_ || _)
    withRc
      .withColumn("kind", when(interior, lit("in"))
        .when(vertexInRect || cornerInQuad || edgeCross, lit("bd")))
      .where(col("kind").isNotNull)
      .select(col("scene_id"), col("subswath"), col("burst_idx"),
        CellIndex.packCol(FillLevel, col("iy"), col("ix")).as("cell"), col("kind"))
  }

  /**
   * Per-scene footprint dissolve: the exact area of the UNION of the scene's
   * burst bounding boxes (microdegree^2), by grouped coordinate-compression
   * scanline — the ST_Union/dissolve primitive re-expressed as windows:
   * distinct rect x-bounds per scene cut the plane into slabs, a rect either
   * covers a slab fully or misses it (slab edges include every rect x-bound),
   * and per slab the covered y-mass is the classic gaps-and-islands merge
   * (running max of y1 over a DETERMINISTIC total order — (y0, y1, subswath,
   * burst_idx) is unique per scene, so the row frame is engine-independent).
   * Rects are half-open [x0,x1) x [y0,y1) so no boundary double-counts.
   * Everything after the microdegree floor is LONG arithmetic — bit-exact
   * cross-engine. Plan shape: ONE shuffle on scene_id drives both the
   * slab-rect equi-join (per-scene fan-out is bursts x slabs, bounded by the
   * scene's own burst count — never a global cartesian) and the windows; at
   * corpus scale per-key dissolve is embarrassingly parallel across scenes,
   * and a pathologically dense scene is a salting candidate, not a plan change.
   */
  /**
   * Exact polygon measures (ST_Area / ST_Centroid): twice the signed shoelace
   * area and the exact centroid of every burst footprint quad, in integer
   * microdegrees. Coordinates are re-based to each quad's own first corner
   * before any product so every intermediate stays within LONG (rel coords
   * < 2^21, cross < 2^42, centroid numerator < 2^63) — the standard
   * fixed-point robustness trick; the centroid is then origin + exact floor
   * division of the shoelace moment by 3*area2. Pure per-row map work — zero
   * joins, zero shuffles.
   */
  def shoelaceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Fixtures.table(spark, sfDir, "bursts")
    val based = b.select(
      Seq(col("scene_id"), col("subswath"), col("burst_idx"),
        microdeg(col("lon1")).as("ox"), microdeg(col("lat1")).as("oy")) ++
      (1 to 4).flatMap(i => Seq(
        (microdeg(col(s"lon$i")) - microdeg(col("lon1"))).as(s"x$i"),
        (microdeg(col(s"lat$i")) - microdeg(col("lat1"))).as(s"y$i"))): _*)
    def x(i: Int) = col(s"x${(i - 1) % 4 + 1}")
    def y(i: Int) = col(s"y${(i - 1) % 4 + 1}")
    val crosses = (1 to 4).map(i => x(i) * y(i + 1) - x(i + 1) * y(i))
    val area2 = crosses.reduce(_ + _)
    val cxNum = (1 to 4).map(i => (x(i) + x(i + 1)) * crosses(i - 1)).reduce(_ + _)
    val cyNum = (1 to 4).map(i => (y(i) + y(i + 1)) * crosses(i - 1)).reduce(_ + _)
    // centroid numerators reach ~2^61 — beyond the double-exact floorDiv
    // helper's 2^53 domain, so divide in pure LONG arithmetic: subtract the
    // positive modulus (pmod), then integral `div` of the exactly divisible
    // remainder (floor division for the positive denominator; area2 > 0 CCW)
    based
      .withColumn("area2", area2)
      .withColumn("den", lit(3L) * col("area2"))
      .withColumn("cx_num", cxNum).withColumn("cy_num", cyNum)
      .selectExpr("scene_id", "subswath", "burst_idx", "area2",
        "ox + ((cx_num - pmod(cx_num, den)) div den) AS cx",
        "oy + ((cy_num - pmod(cy_num, den)) div den) AS cy")
  }

  /** Z-block shift for the layout gate: 64 level-11 cells per Z-range bucket
   * (the target-file granularity). */
  val ZBucketShift = 6

  /**
   * Z-order (Morton) space-filling-curve layout planning — the Iceberg
   * z-ordering primitive: interleave the level-11 cell's (ix, iy) bits into a
   * 22-bit Z index, bucket by Z range (zindex >> 6 — 64-cell blocks), and
   * report per-bucket point/cell counts and Z extent. This is exactly the
   * file-assignment question for spatially clustering a 10^12-doc table:
   * contiguous Z ranges become target files, so spatially close cells land in
   * the same file and an AOI scan touches O(perimeter) files. The interleave
   * is 22 unrolled bit terms — pure integer, bit-identical cross-engine; the
   * plan is one map pass plus one rollup shuffle.
   */
  def zorderQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir).select(col("cell"))
    val mask = (1L << 29) - 1
    val ix = col("cell").bitwiseAND(mask)
    val iy = shiftright(col("cell"), 29).bitwiseAND(mask)
    val z = (0 until CellIndex.DefaultLevel).map { b =>
      shiftleft(shiftright(ix, b).bitwiseAND(1), 2 * b) +
      shiftleft(shiftright(iy, b).bitwiseAND(1), 2 * b + 1)
    }.reduce(_ + _)
    pts.withColumn("z", z)
      .groupBy(shiftright(col("z"), ZBucketShift).as("bucket"))
      .agg(count(lit(1)).as("n_pts"), countDistinct(col("cell")).as("n_cells"),
        min(col("z")).as("zmin"), max(col("z")).as("zmax"))
  }

  /**
   * Hilbert-curve layout planning — the companion to zorderQuery with the
   * strictly stronger locality guarantee: CONSECUTIVE Hilbert indices are
   * always 4-adjacent cells (Manhattan distance 1 — false for Z-order, which
   * jumps at every quadrant boundary), so range-partitioned files have no
   * discontinuities at all. The classic xy2d state machine (flip + transpose
   * per level) is unrolled into 11 rounds of integer column rewrites — each
   * round a handful of CASE/AND/SHIFT ops, codegen-friendly, bit-identical to
   * the DuckDB CTE chain. Aligned 64-index buckets are exact 8x8 subsquares
   * (4^3-aligned Hilbert ranges are aligned subsquares), the target-file
   * granularity. One map pass + one rollup shuffle.
   */
  /** Append the Hilbert index `hd` (xy2d flip+transpose state machine,
   * unrolled into 11 integer column-rewrite rounds) to a frame bearing a
   * packed level-11 `cell`. Shared by the layout-planning and balanced-
   * partitioning gates; pure per-row integer ops, bit-identical to the DuckDB
   * CTE chain. */
  def withHilbertIdx(pts: DataFrame): DataFrame = {
    val mask = (1L << 29) - 1
    var df = pts
      .withColumn("hx", col("cell").bitwiseAND(mask))
      .withColumn("hy", shiftright(col("cell"), 29).bitwiseAND(mask))
      .withColumn("hd", lit(0L))
    for (k <- (0 until CellIndex.DefaultLevel).reverse) {
      val s = 1L << k
      val rx = when(col("hx").bitwiseAND(s) > 0, 1L).otherwise(0L)
      val ry = when(col("hy").bitwiseAND(s) > 0, 1L).otherwise(0L)
      df = df
        .withColumn(s"rx_$k", rx).withColumn(s"ry_$k", ry)
        .withColumn("hd", col("hd") +
          lit(s * s) * (lit(3L) * col(s"rx_$k")).bitwiseXOR(col(s"ry_$k")))
        // ry==0: flip when rx==1, then transpose; ry==1: unchanged
        .withColumn("nx", when(col(s"ry_$k") === 0,
            when(col(s"rx_$k") === 1, lit(s - 1) - col("hy")).otherwise(col("hy")))
          .otherwise(col("hx")))
        .withColumn("ny", when(col(s"ry_$k") === 0,
            when(col(s"rx_$k") === 1, lit(s - 1) - col("hx")).otherwise(col("hx")))
          .otherwise(col("hy")))
        .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
        .drop("nx", "ny", s"rx_$k", s"ry_$k")
    }
    df
  }

  def hilbertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir).select(col("cell"))
    withHilbertIdx(pts)
      .groupBy(shiftright(col("hd"), ZBucketShift).as("bucket"))
      .agg(count(lit(1)).as("n_pts"), countDistinct(col("cell")).as("n_cells"),
        min(col("hd")).as("hmin"), max(col("hd")).as("hmax"))
  }

  /** Target partition count for the balanced range-partitioner gate. */
  val RangeParts = 8

  /**
   * Balanced spatial range partitioning (q_spatial_partition) — the planner
   * behind `repartitionByRange`-style spatial layout and an Iceberg
   * write-distribution/sort-order: assign contiguous Hilbert-key ranges to P
   * partitions so each carries ~1/P of the POINT mass (not the cell count —
   * density skew is the whole problem). Spark's own RangePartitioner samples
   * nondeterministically; this gate computes the boundaries EXACTLY from the
   * aggregated cell frame, which is both deterministic (gateable) and the
   * stronger guarantee: greedy cumulative assignment bounds every partition by
   * target + heaviest-single-cell.
   *
   * Scale posture: the only point-level pass is the groupBy(hd) reduction
   * (map-side combined). The cumulative window runs on the CELL frame —
   * bounded by 4^11 rows regardless of corpus size (a once-per-snapshot
   * planning pass), so the single-partition window is a deliberate,
   * documented choice, not a scale bug. Totals broadcast back.
   */
  def spatialPartitionQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir).select(col("cell"))
    val cells = withHilbertIdx(pts).groupBy("hd").agg(count(lit(1)).as("n_pts"))
    val cum = cells.withColumn("cum",
      sum(col("n_pts")).over(Window.orderBy("hd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = cells.agg(sum(col("n_pts")).as("total"))
    cum.crossJoin(broadcast(total))
      .withColumn("part",
        least(lit(RangeParts - 1L), expr(s"((cum - 1) * $RangeParts) div total")))
      .groupBy("part")
      .agg(count(lit(1)).as("n_cells"), sum(col("n_pts")).as("n_pts"),
        min(col("hd")).as("hmin"), max(col("hd")).as("hmax"))
      .crossJoin(broadcast(total))
      .withColumn("load_ppm", expr(s"(n_pts * $RangeParts * 1000000) div total"))
      .drop("total")
  }

  /**
   * Cell-granular polygon buffer (the ST_Buffer analog at covering
   * granularity): dilate each burst's polyfill cover by one ring of level-13
   * cells — morphological dilation on the cell lattice, the standard way a
   * covering-based engine widens a footprint before a conservative join
   * (buffer-then-intersect finds every geometry within one cell of the
   * polygon, with false positives only at ring granularity). Output keeps the
   * provenance split: `fill` cells (from the polyfill — interior or boundary)
   * vs `ring` cells (added by the dilation only). Plan: the polyfill explode
   * chain feeding a bounded 3x3 explode + one distinct + one anti join on
   * (burst, cell) — no cartesian, fan-out exactly 9.
   */
  def cellBufferQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val n13 = 1L << FillLevel
    val mask = (1L << 29) - 1
    val keys = Seq(col("scene_id"), col("subswath"), col("burst_idx"))
    val fill = polyfillQuery(spark, sfDir).select(keys :+ col("cell"): _*)
    val offs = expr("explode(array(" +
      (for (dy <- -1 to 1; dx <- -1 to 1) yield s"struct(${dy}L AS dy, ${dx}L AS dx)")
        .mkString(", ") + "))")
    val dilated = fill.withColumn("o", offs)
      .withColumn("nix", col("cell").bitwiseAND(mask) + col("o.dx"))
      .withColumn("niy", shiftright(col("cell"), 29).bitwiseAND(mask) + col("o.dy"))
      .where(col("nix") >= 0 && col("nix") < n13 && col("niy") >= 0 && col("niy") < n13)
      .select(keys :+ CellIndex.packCol(FillLevel, col("niy"), col("nix")).as("cell"): _*)
      .distinct()
    val ring = dilated.join(fill,
      Seq("scene_id", "subswath", "burst_idx", "cell"), "left_anti")
    fill.withColumn("kind", lit("fill"))
      .unionByName(ring.withColumn("kind", lit("ring")))
  }

  /**
   * Acquisition coverage-gap analysis: which level-13 cells of each AOI are
   * NOT covered by any burst footprint — the planning query behind "where do
   * we lack data". The AOI rasterizes to its fp-lattice cell grid (same
   * lattice as the polyfill so covered/gap is exact, no edge disagreement),
   * the burst side is the polyfill's distinct covered-cell set, and the gap is
   * one LEFT ANTI equi-join on the cell id. Per-AOI rollup reports total /
   * covered / gap cell counts plus an order-independent integer checksum of
   * the gap set (sum of iy*8192+ix — verifiable cross-engine without shipping
   * the cells). At scale the covered-cell set is the compacted cover of the
   * whole archive — exactly what the manifest/compact operators maintain.
   */
  def coverageGapQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val aoiGrid = Fixtures.table(spark, sfDir, "aoi")
      .select(col("aoi_id"),
        fpx(col("lon_min")).as("fx0"), fpx(col("lon_max")).as("fx1"),
        fpy(col("lat_min")).as("fy0"), fpy(col("lat_max")).as("fy1"))
      .withColumn("ix", explode(sequence(
        shiftright(col("fx0"), RasterXBits - FillLevel),
        shiftright(col("fx1"), RasterXBits - FillLevel))))
      .withColumn("iy", explode(sequence(
        shiftright(col("fy0"), RasterYBits - FillLevel),
        shiftright(col("fy1"), RasterYBits - FillLevel))))
      .select(col("aoi_id"), col("ix"), col("iy"),
        CellIndex.packCol(FillLevel, col("iy"), col("ix")).as("cell"))
    val covered = polyfillQuery(spark, sfDir).select("cell").distinct()
    aoiGrid
      .join(covered.withColumn("hit", lit(1L)), Seq("cell"), "left")
      .groupBy("aoi_id")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_covered"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_gap"),
        sum(when(col("hit").isNull, col("iy") * 8192L + col("ix")).otherwise(0L)).as("gap_sum"))
  }

  def unionAreaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val lons = (1 to 4).map(i => col(s"lon$i"))
    val lats = (1 to 4).map(i => col(s"lat$i"))
    val rects = Fixtures.table(spark, sfDir, "bursts").select(
      col("scene_id"), col("subswath"), col("burst_idx"),
      microdeg(least(lons: _*)).as("x0"), microdeg(greatest(lons: _*)).as("x1"),
      microdeg(least(lats: _*)).as("y0"), microdeg(greatest(lats: _*)).as("y1"))
    val xs = rects.select(col("scene_id"), col("x0").as("x"))
      .union(rects.select(col("scene_id"), col("x1").as("x"))).distinct()
    val slabW = Window.partitionBy("scene_id").orderBy("x")
    val slabs = xs
      .withColumn("xe", lead(col("x"), 1).over(slabW))
      .where(col("xe").isNotNull)
      .select(col("scene_id"), col("x").as("xs"), col("xe"))
    val covered = slabs.join(rects, Seq("scene_id"))
      .where(col("x0") <= col("xs") && col("x1") >= col("xe"))
    val ord = Window.partitionBy("scene_id", "xs")
      .orderBy("y0", "y1", "subswath", "burst_idx")
    val runMax = max(col("y1")).over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = covered
      .withColumn("new_island", when(runMax.isNull || col("y0") > runMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
    val slabMass = islands.groupBy(col("scene_id"), col("xs"), col("xe"), col("island"))
      .agg((max(col("y1")) - min(col("y0"))).as("ylen"))
      .groupBy(col("scene_id"), col("xs"), col("xe"))
      .agg(sum(col("ylen")).as("ymass"))
    slabMass.groupBy(col("scene_id"))
      .agg(sum(col("ymass") * (col("xe") - col("xs"))).as("area"),
        count(lit(1)).as("n_slabs"))
      .join(rects.groupBy("scene_id").agg(count(lit(1)).as("n_rects")), Seq("scene_id"))
      .select(col("scene_id"), col("n_rects"), col("n_slabs"), col("area"))
  }
}
