package graft.geom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.exprs.Kernels.gridSql
import graft.gen.Fixtures
import Geo.microdeg

/**
 * Spatial analytics beyond joins: convex hulls, surface interpolation and
 * spatial autocorrelation — the ST_ConvexHull / IDW / Moran's-I trio every
 * geospatial warehouse ships next to its join engine. All three follow the
 * repo's exactness discipline (integer microdegrees, BIGINT sums, identical
 * IEEE formula text where a double ratio is emitted) so the DuckDB twins are
 * bit-exact.
 *
 * Scale posture:
 *  - convex hull: the K-direction extreme-point hull is the DISTRIBUTED hull
 *    construction — argmax per direction is an associative aggregate (one
 *    map-side combine per partition, K rows per group survive), unlike the
 *    sequential Graham scan which needs all points on one node. K=16 bounds
 *    the hull approximation error at cos(pi/K) of the support width; the
 *    reference's AOI/footprint handling needs exactly this bounding-hull
 *    shape (SAR scene outlines are ~quadrilaterals, so 16 directions
 *    recover them exactly).
 *  - IDW: the query side (AOI centers) is tiny and BROADCAST; the field side
 *    (DEM posts) streams map-side through the bbox prune + exact radius
 *    test, then one partial-aggregated rollup per query point. No shuffle of
 *    the big side at any scale.
 *  - Moran's I: occupied-cell frame (already reduced from points) self-joined
 *    on the 4 rook offsets — an equi-join on (ix±1, iy) keys with fan-out 4,
 *    never a cartesian; the output is the SUFFICIENT-STATISTICS row, so the
 *    gate compares exact integers and the double index is derived from them
 *    in one identical IEEE expression.
 */
object Analytics {

  /** 16 support directions in strictly increasing angle order (CCW from +x).
   * Integer components keep every dot product exact in LONG. */
  val Dirs: Seq[(Int, Int)] = Seq(
    (1, 0), (2, 1), (1, 1), (1, 2), (0, 1), (-1, 2), (-1, 1), (-2, 1),
    (-1, 0), (-2, -1), (-1, -1), (-1, -2), (0, -1), (1, -2), (1, -1), (2, -1))

  /** Geolocated media-span points in integer microdegrees, keyed by scene. */
  private def scenePoints(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .select(col("scene_id"), microdeg(col("lon")).as("px"), microdeg(col("lat")).as("py"))

  /**
   * q_convex_hull: per-scene K-direction extreme-point convex hull of the
   * geolocated media spans. For each of the 16 integer directions d the
   * extreme point argmax_p <d, p> is found by ONE associative max aggregate
   * (ties broken toward the (px, py)-smallest point, encoded by negating the
   * coordinates inside the max struct); the extremes ordered by direction
   * index form a convex polygon inscribed in the true hull, whose doubled
   * shoelace area is exact in LONG (coords < 2^28, products < 2^56).
   * Output per scene: point count, distinct hull vertices, doubled area.
   */
  def convexHullQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = scenePoints(spark, sfDir)
    val dirs = expr("explode(array(" +
      Dirs.zipWithIndex.map { case ((dx, dy), i) => s"struct(${i}L AS di, ${dx}L AS dx, ${dy}L AS dy)" }
        .mkString(", ") + "))")
    val ext = pts.withColumn("d", dirs)
      .groupBy(col("scene_id"), col("d.di").as("di"))
      // max over (dot, -px, -py, px, py): lexicographic max picks the largest
      // dot, then the smallest px, then the smallest py — deterministic
      .agg(max(struct((col("d.dx") * col("px") + col("d.dy") * col("py")).as("dot"),
        (-col("px")).as("npx"), (-col("py")).as("npy"),
        col("px"), col("py"))).as("m"))
      .select(col("scene_id"), col("di"), col("m.px").as("px"), col("m.py").as("py"))
    val n = pts.groupBy("scene_id").agg(count(lit(1)).as("n_points"))
    val hull = ext.groupBy("scene_id")
      .agg(sort_array(collect_list(struct(col("di"), col("px"), col("py")))).as("vs"))
      .select(col("scene_id"),
        expr("size(array_distinct(transform(vs, v -> struct(v.px, v.py))))").as("n_hull"),
        expr(s"""abs(aggregate(sequence(0, ${Dirs.size - 1}), 0L, (acc, i) ->
                 |  acc + element_at(vs, i + 1).px * element_at(vs, (i + 1) % ${Dirs.size} + 1).py
                 |      - element_at(vs, (i + 1) % ${Dirs.size} + 1).px * element_at(vs, i + 1).py))"""
          .stripMargin).as("area2"))
    n.join(hull, Seq("scene_id"))
      .select("scene_id", "n_points", "n_hull", "area2")
  }

  /** IDW search radius (microdegrees): 0.5 deg. */
  val IdwRadiusUs = 500000L

  /** Height quantum: millimeters-of-height style fixed point (1e-3). */
  private val HeightScale = 1000L

  /**
   * q_idw: inverse-distance-weighted interpolation of the DEM height field at
   * each AOI center — the geostatistical gridding primitive (the reference
   * resamples DEM posts onto SAR geometry the same gather-neighborhood way,
   * SARGeocoding.java getLocalDEM). Exactness: weights are the INTEGER
   * floor(1e12 / d2) with d2 clamped to >= 1e6, heights quantized to integer
   * millis, the estimate emitted as the integer floor-division
   * (sum w*h) * 1000 / (sum w) — no floating point anywhere, so cross-engine
   * equality is structural. Neighbors beyond the radius are excluded by the
   * exact integer d2 test; AOIs with no DEM post in range produce no row.
   */
  def idwQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dem = Fixtures.table(spark, sfDir, "dem").select(
      microdeg(col("lon")).as("px"), microdeg(col("lat")).as("py"),
      floor(col("height") * HeightScale).cast("long").as("hq"))
    val q = Fixtures.table(spark, sfDir, "aoi").select(
      col("aoi_id"),
      microdeg((col("lon_min") + col("lon_max")) / 2).as("qx"),
      microdeg((col("lat_min") + col("lat_max")) / 2).as("qy"))
    val r = IdwRadiusUs
    val d2 = (col("px") - col("qx")) * (col("px") - col("qx")) +
             (col("py") - col("qy")) * (col("py") - col("qy"))
    dem.join(broadcast(q),
        abs(col("px") - col("qx")) <= r && abs(col("py") - col("qy")) <= r && d2 <= r * r)
      .withColumn("w", floor(lit(1.0e12) / greatest(d2, lit(1000000L)).cast("double")).cast("long"))
      .groupBy("aoi_id")
      .agg(count(lit(1)).as("n_nbrs"), sum("w").as("w_sum"),
        sum(col("w") * col("hq")).as("wh_sum"))
      .select(col("aoi_id"), col("n_nbrs"), col("w_sum"),
        // explicit floor division (`div` truncates toward zero, DuckDB's `//`
        // floors): subtract pmod first so both engines divide an exact
        // multiple — hq (hence wh_sum) can be negative on real DEMs even
        // though the fixture generator emits heights in [10,190]
        expr(s"((wh_sum * $HeightScale) - pmod(wh_sum * $HeightScale, w_sum)) div w_sum")
          .as("idw_milli"))
  }

  /**
   * q_moran: global Moran's I spatial autocorrelation of the level-11
   * occupied-cell media-span counts under rook (4-neighbor) contiguity,
   * emitted as ONE row of integer sufficient statistics
   * (n, W, sum_x, sum_x2, cross_sum, deg_x_sum) plus the index assembled
   * from them in a single textually-shared IEEE expression:
   *   mu  = sum_x / n
   *   num = cross_sum - 2*mu*deg_x_sum + mu*mu*W     (= sum_ij w_ij (x_i-mu)(x_j-mu))
   *   den = sum_x2 - n*mu*mu                          (= sum_i (x_i-mu)^2)
   *   I   = (n / W) * (num / den)
   * The integer statistics pin exactness; the derived double is shared-text.
   */
  def moranQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val idxMask = (1L << 29) - 1
    val cnt = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .groupBy("cell").agg(count(lit(1)).as("x"))
      .withColumn("ix", col("cell").bitwiseAND(idxMask))
      .withColumn("iy", shiftright(col("cell"), 29).bitwiseAND(idxMask))
      .select("ix", "iy", "x")
    val offs = expr("explode(array(struct(1L AS dx, 0L AS dy), struct(-1L AS dx, 0L AS dy), " +
      "struct(0L AS dx, 1L AS dy), struct(0L AS dx, -1L AS dy)))")
    // ordered neighbor pairs: probe side explodes to its 4 rook offsets and
    // equi-joins the occupied-cell frame — fan-out 4, no cartesian
    val nbr = cnt.withColumn("o", offs)
      .select((col("ix") + col("o.dx")).as("ix"), (col("iy") + col("o.dy")).as("iy"),
        col("x").as("xa"))
      .join(cnt.select(col("ix"), col("iy"), col("x").as("xb")), Seq("ix", "iy"))
    val pairs = nbr.agg(
      count(lit(1)).as("w_sum"),
      sum(col("xa") * col("xb")).as("cross_sum"),
      sum(col("xa")).as("deg_x_sum"))
    val base = cnt.agg(count(lit(1)).as("n"), sum("x").as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2"))
    base.crossJoin(pairs)
      .withColumn("moran_q", expr(MoranIndexExpr))
      .select("n", "w_sum", "sum_x", "sum_x2", "cross_sum", "deg_x_sum", "moran_q")
  }

  /** kNN join: neighbors kept per query point. */
  val KnnK = 3

  /** kNN join search radius (microdegrees): 0.15 deg — must stay <= the
   * level-10 lat cell edge (0.1758 deg) for 3x3 candidate completeness. */
  val KnnRadiusUs = 150000L

  /** kNN join grid level (cell edges 0.352/0.176 deg >= the radius). */
  val KnnLevel = 10

  /**
   * q_knn_join: bounded-radius spatial kNN join — for every burst footprint
   * center, the KnnK nearest DEM posts within KnnRadiusUs, ranked by the
   * exact integer squared distance with a total (d2, px, py, hq) tie order.
   * The canonical distributed kNN-join shape: both sides key by their
   * level-10 grid cell, the QUERY side probes its 3x3 neighborhood (radius
   * <= cell edge makes the candidate set provably complete), candidates
   * equi-join on the cell key — fan-out 9 on the small side, the DEM side
   * shuffles ONCE by cell — and a per-query window keeps the k best. The
   * radius bound is what makes kNN a lattice EQUI-join instead of a
   * cartesian; unbounded exact kNN degrades to the brute-force scan
   * (q_ann_topk is that documented baseline for embeddings).
   */
  def knnJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val lonC = (col("lon1") + col("lon2") + col("lon3") + col("lon4")) / 4
    val latC = (col("lat1") + col("lat2") + col("lat3") + col("lat4")) / 4
    val q = Fixtures.table(spark, sfDir, "bursts").select(
      concat_ws("/", col("scene_id"), col("subswath"), col("burst_idx").cast("string")).as("node"),
      microdeg(lonC).as("qx"), microdeg(latC).as("qy"),
      CellIndex.ixCol(lonC, KnnLevel).as("ix"), CellIndex.iyCol(latC, KnnLevel).as("iy"))
    val n = (1L << KnnLevel) - 1
    val probe = q.withColumn("cell", explode(flatten(transform(
        sequence(greatest(lit(0L), col("iy") - 1), least(lit(n), col("iy") + 1)), yy =>
          transform(
            sequence(greatest(lit(0L), col("ix") - 1), least(lit(n), col("ix") + 1)), xx =>
              CellIndex.packCol(KnnLevel, yy, xx))))))
      .drop("ix", "iy")
    val dem = Fixtures.table(spark, sfDir, "dem").select(
      microdeg(col("lon")).as("px"), microdeg(col("lat")).as("py"),
      floor(col("height") * 1000).cast("long").as("hq"),
      CellIndex.cellCol(col("lon"), col("lat"), KnnLevel).as("cell"))
    val d2 = (col("px") - col("qx")) * (col("px") - col("qx")) +
             (col("py") - col("qy")) * (col("py") - col("qy"))
    val w = Window.partitionBy("node").orderBy(col("d2"), col("px"), col("py"), col("hq"))
    probe.join(dem, Seq("cell"))
      .where(d2 <= KnnRadiusUs * KnnRadiusUs)
      .select(col("node"), d2.as("d2"), col("px"), col("py"), col("hq"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= KnnK)
  }

  /**
   * q_gi_star: Getis–Ord Gi* hot-spot statistic — the LOCAL complement to
   * q_moran's global index — over the level-11 occupied-cell media-span
   * counts with binary 3x3 (queen, self-inclusive) weights. Per occupied
   * cell: the neighborhood count n_local and sum s_local (exact BIGINTs from
   * the fan-out-9 lattice equi-join), plus the z-score assembled from
   * (s_local, n_local) and the global (n, sum_x, sum_x2) in ONE shared-text
   * IEEE expression quantized to 1e-6 — the standard Gi* form
   *   z = (S - mu·n_i) / (sd · sqrt((n·n_i - n_i²)/(n-1))).
   * Scale shape identical to q_moran: the statistics run on the REDUCED cell
   * frame, never the points, and the global row broadcasts onto it.
   */
  def giStarQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val idxMask = (1L << 29) - 1
    val cnt = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .groupBy("cell").agg(count(lit(1)).as("x"))
      .withColumn("ix", col("cell").bitwiseAND(idxMask))
      .withColumn("iy", shiftright(col("cell"), 29).bitwiseAND(idxMask))
      .select("ix", "iy", "x")
    val offs = expr("explode(transform(sequence(0, 8), i -> " +
      "struct(CAST(i % 3 - 1 AS BIGINT) AS dx, CAST(i div 3 - 1 AS BIGINT) AS dy)))")
    // explode the PROBE side to its 9 self-inclusive queen offsets, carrying
    // the probe key, and equi-join the occupied frame — fan-out 9, no cartesian
    val probe = cnt.select(col("ix").as("cx"), col("iy").as("cy"))
      .withColumn("o", offs)
      .select(col("cx"), col("cy"), (col("cx") + col("o.dx")).as("ix"),
        (col("cy") + col("o.dy")).as("iy"))
    val local = probe.join(cnt, Seq("ix", "iy"))
      .groupBy(col("cx").as("ix"), col("cy").as("iy"))
      .agg(count(lit(1)).as("n_local"), sum("x").as("s_local"))
    val base = cnt.agg(count(lit(1)).as("n"), sum("x").as("sum_x"),
      sum(col("x") * col("x")).as("sum_x2"))
    cnt.join(local.withColumnRenamed("ix", "jx").withColumnRenamed("iy", "jy"),
        col("ix") === col("jx") && col("iy") === col("jy"))
      .drop("jx", "jy")
      .crossJoin(broadcast(base))
      .withColumn("gi_q", expr(GiStarExpr))
      .select("ix", "iy", "x", "n_local", "s_local", "gi_q")
  }

  /** The shared-text IEEE assembly of the Gi* z-score from the integer
   * statistics (embedded verbatim in the DuckDB oracle), quantized to 1e-6
   * with the repo's standard irrational dither against boundary landing. */
  val GiStarExpr: String =
    // degenerate-data guard, shared-text in BOTH engines: zero variance (all
    // occupied cells equal) or n<=1 makes the denominator 0 -> NaN/Inf, which
    // Spark CASTs to 0/Long.MaxValue but DuckDB errors on CAST to BIGINT
    "CASE WHEN CAST(n AS BIGINT) <= 1 " +
      "OR (CAST(sum_x2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.0 " +
      "OR (CAST(n AS DOUBLE) * CAST(n_local AS DOUBLE) - CAST(n_local AS DOUBLE) * CAST(n_local AS DOUBLE)) <= 0.0 " +
      "THEN CAST(0 AS BIGINT) ELSE " +
    gridSql(
      "((CAST(s_local AS DOUBLE) - (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(n_local AS DOUBLE)) / " +
      "(sqrt(CAST(sum_x2 AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE))) * " +
      "sqrt((CAST(n AS DOUBLE) * CAST(n_local AS DOUBLE) - CAST(n_local AS DOUBLE) * CAST(n_local AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)))) " +
      "* 1.0E6") + " END"

  /** The shared-text IEEE assembly of Moran's I from the integer statistics
   * (also embedded verbatim in the DuckDB oracle). */
  val MoranIndexExpr: String =
    // same degenerate-data guard class as GiStarExpr: w_sum=0 (no contiguous
    // pairs) or zero variance -> 0, identically in both engines
    "CASE WHEN CAST(w_sum AS BIGINT) <= 0 OR CAST(n AS BIGINT) <= 1 " +
      "OR (CAST(sum_x2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.0 " +
      "THEN CAST(0 AS BIGINT) ELSE " +
    gridSql(
      "(CAST(n AS DOUBLE) / CAST(w_sum AS DOUBLE)) * " +
      "((CAST(cross_sum AS DOUBLE) - 2.0 * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(deg_x_sum AS DOUBLE) " +
      "+ (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(w_sum AS DOUBLE)) / " +
      "(CAST(sum_x2 AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE)))) " +
      "* 1.0E6") + " END"
}
