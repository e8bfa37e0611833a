package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout

/**
 * Shared raster machinery. One row = one tile (w x h row-major DOUBLE arrays), the direct
 * Spark analog of the reference's Tile dataflow unit (SURVEY.md §1.4). Per-pixel kernels
 * run INSIDE the array domain as Catalyst higher-order functions — no explode, no shuffle —
 * mirroring the reference's computeTile loops (e.g. Sentinel1Calibrator.java:327-462) while
 * staying whole-stage-codegen friendly. Neighborhood operators get their halo via a single
 * self-join on neighbor tile keys (the explicit halo exchange that replaces the reference's
 * implicit getSourceTile overlap reads, SpeckleFilter.java:50-58).
 */
object Raster {

  val W: Int = Layout.TileW
  val H: Int = Layout.TileH
  val HW = W + 2 // halo width/height for 3x3 windows
  val ND = s"${Layout.NoData}D"

  /** Ingestion quantization grid: i/q are snapped to multiples of 2^-12 so every
   * derived window/tile sum fits in 53 mantissa bits and is EXACT in double —
   * bit-identical across engines regardless of summation order (the independent
   * DuckDB oracle sums in arbitrary order). v = i^2+q^2 of 21-significant-bit dyadics
   * is 42 bits; 9-49-term window sums stay under 48 bits. The sentinel -9999 is
   * itself dyadic, so no-data propagates unchanged. */
  val Dyadic = 4096

  /** v is re-snapped to 2^-14 (<= 23 significant bits) so v^2 is exact (46 bits) and
   * window sums of v^2 (up to 49 terms) stay exact too. */
  val DyadicV = 16384

  /** Tiles with a derived intensity array v = i^2+q^2 (complex no-data propagates),
   * exactly the complex branch of SpeckleFilter.getNeighborValues (reference :96-117). */
  def intensityTiles(spark: SparkSession, sfDir: String, table: String = "tiles"): DataFrame =
    withIntensity(Fixtures.table(spark, sfDir, table))

  /** The frame's i/q with the derived intensity `v` (the chain nodes' pre-snap:
   * products of 2^-12-grid values land on the 2^-14-snapped DyadicV grid). */
  def withIntensity(tiles: DataFrame): DataFrame =
    // compiled kernel (was an interpreted zip_with lambda — a CodegenFallback
    // HOF that also knocked the whole projection out of whole-stage codegen)
    tiles.withColumn("v", graft.exprs.KernelExprs.intensity(
      col("i"), col("q"), Dyadic.toDouble, DyadicV.toDouble))

  /**
   * Generalized halo exchange over several per-pixel value arrays at once. Plan shape
   * (the scale-critical path — every windowed operator rides on it):
   *  1. each tile emits 9 contribution rows, but neighbors are SLICED to the
   *     margin-wide strip the target actually needs (compiled KernelExprs.haloStrip) — the
   *     shuffle carries ~(1 + 2m(W+H)/(WH))x the pixel volume, not 9x;
   *  2. ONE aggregation per target key collects the strips (partial-aggregated
   *     map-side like any collect_list);
   *  3. one compiled KernelExprs.haloAssemble call per tile per column builds the
   *     (W+2m)x(H+2m) halo array `halo_c` — no interpreted per-element lambdas.
   * Out-of-raster cells hold the no-data sentinel (reference getNeighborValues
   * semantics: out-of-image -> noDataValue, SpeckleFilter.java:95-144). Valid for
   * margin m <= tile size (only the 8-neighbor ring is exchanged).
   */
  def withHaloMulti(tiles: DataFrame, cols: Seq[String], margin: Int): DataFrame = {
    require(margin >= 1 && margin <= W && margin <= H)
    val contributions = tiles
      .select((Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y") ++ cols)
        .map(col): _*)
      .withColumn("d", explode(expr(
        "transform(sequence(0, 8), r -> struct(r % 3 - 1 AS dx, CAST(r / 3 AS INT) - 1 AS dy))")))
      .withColumn("ttx", col("tile_x") + col("d.dx"))
      .withColumn("tty", col("tile_y") + col("d.dy"))
      .where(col("ttx").between(0, Layout.TilesX - 1) && col("tty").between(0, Layout.TilesY - 1))
      // role index of this source array seen from the target: 0..8 row-major (dy+1)*3+(dx+1)
      .withColumn("role", (lit(1) - col("d.dy")) * 3 + (lit(1) - col("d.dx")))
    val stripped = cols.foldLeft(contributions) { (df, c) =>
      df.withColumn(c, graft.exprs.KernelExprs.haloStrip(col(c), col("role"), W, H, margin))
    }
    val aggs = cols.map(c =>
      collect_list(struct(col("role"), col(c).as("strip"))).as(s"contrib_$c"))
    val grouped = stripped
      .groupBy(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("ttx").as("tile_x"), col("tty").as("tile_y"))
      .agg(aggs.head, aggs.tail: _*)
    cols.foldLeft(grouped) { (df, c) =>
      df.withColumn(s"halo_$c",
        graft.exprs.KernelExprs.haloAssemble(col(s"contrib_$c"), W, H, margin))
    }.drop(cols.map(c => s"contrib_$c"): _*)
  }

  /** Burst raster assembly: ONE groupBy(burst) shuffle collecting each burst's
   * tiles as `ts`, the (tile_y, tile_x, fields...) structs sorted tile-major. */
  def burstTiles(tiles: DataFrame, fields: String*): DataFrame =
    tiles.groupBy("scene_id", "subswath", "pol", "burst_idx")
      .agg(sort_array(collect_list(struct(col("tile_y") +: col("tile_x") +: fields.map(col): _*))).as("ts"))

  /** burstTiles with each field flattened to one tile-major burst array
   * `<field>_r`, the input of the per-burst kernels. */
  def burstRaster(tiles: DataFrame, fields: String*): DataFrame =
    fields.foldLeft(burstTiles(tiles, fields: _*)) { (df, f) =>
      df.withColumn(s"${f}_r", expr(s"flatten(transform(ts, t -> t.$f))"))
    }.drop("ts")

  /** Per-tile explode of a per-burst kernel result `r`: tile index ti runs
   * tile-major (tile_y = ti div TilesX, tile_x = ti % TilesX), and each output
   * column (name -> r's field) takes that tile's element of the field. */
  def explodeTiles(bursts: DataFrame, outs: (String, String)*): DataFrame = {
    val tilesX = Layout.TilesX; val tilesY = Layout.TilesY
    bursts.withColumn("ti", explode(sequence(lit(0), lit(tilesX * tilesY - 1))))
      .select(Seq(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        expr(s"CAST(ti div $tilesX AS INT)").as("tile_y"),
        expr(s"CAST(ti % $tilesX AS INT)").as("tile_x")) ++
        outs.map { case (name, f) => expr(s"element_at(r.$f, ti + 1)").as(name) }: _*)
  }

  /** element_at into the margin-1 halo at window offset (dy, dx) of pixel k. */
  def haloEl(dy: Int, dx: Int): String =
    s"element_at(halo, CAST((k div $W + 1 + $dy) * $HW + (k % $W + 1 + $dx) + 1 AS INT))"

  /** Quantum literal used identically in the Spark plan and the DuckDB oracle SQL
   * (exponent notation parses as DOUBLE in both engines). */
  def quantum(scale: Double): String = graft.exprs.Kernels.sqlDouble(scale * 1e6)

  /** Per-tile rollup of a filtered array named `out` (no-data excluded). The compared
   * quantities are INTEGER-EXACT: each per-pixel value (a deterministic double both
   * engines compute identically) is quantized to BIGINT at quantum 1e-6/scale BEFORE
   * aggregation, so the tile sum is an exact integer sum — independent of float
   * association order, unlike a rounded mean which can land on a rounding boundary
   * (the round-1 q_interferogram/q_change_detection hash failures). `scale` keeps
   * small-magnitude outputs (e.g. sigma0 ~1e-4) well above the quantization floor. */
  def rollup(df: DataFrame, scale: Double = 1.0): DataFrame =
    // one compiled pass (quantize + n/sum/min/max) — value-identical to the former
    // interpreted filter+aggregate SQL; min/max commute with the monotone quantizer
    df.withColumn("rq", graft.exprs.KernelExprs.rollupQ(col("out"), scale * 1e6))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        col("rq.n").as("n_valid"), col("rq.s").as("sum_q"),
        col("rq.mn").as("min_q"), col("rq.mx").as("max_q"))
}
