package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.gen.Fixtures
import graft.geom.Geo
import graft.ops.{Raster, Spans, Speckle, Split, TerrainCorrection}

/** The workloads, each a list of `SparkEntry.queries` names run once per pass.
 * `Staged` is not a workload of its own: its queries go through the checkpoint
 * write and resume in the stage probe of every traced run. */
object Workloads {
  val Docs: Seq[String] = Seq("q_span_cells", "q_topsar_split", "q_aoi_doc_tiles")
  val RasterQs: Seq[String] = Seq("q_calibration_sigma0", "q_speckle_lee", "q_multilook",
    "q_terrain_correction", "q_chain_grd")
  val Staged: Seq[String] = Seq("q_span_cells", "q_multilook", "q_terrain_correction")

  val all: Map[String, Seq[String]] = Map("docs" -> Docs, "raster" -> RasterQs)

  /** Queries whose layer trees carry a per-layer metric; a traced run decomposes
   * these too when its own workload does not run them. */
  val layerProbes: Seq[String] = Seq("q_span_cells", "q_topsar_split", "q_aoi_doc_tiles",
    "q_speckle_lee", "q_terrain_correction", "q_chain_grd")
}

/** One layer of a query: a cumulative prefix of the query, timed to the noop sink.
 * `children` are the prefixes it consumes; its self time is its own time minus
 * theirs, so the self times of a tree sum to the root's time. */
final case class Node(name: String, build: (SparkSession, String) => DataFrame,
    children: Seq[Node] = Nil)

/** Layer trees of each workload query, rebuilt from the engine's public functions.
 * The root is the whole query (`SparkEntry.queries`); the checksum sink on top of
 * it is the `lineage.checksum` layer, added by the runner.
 *
 * The cell-cover and join prefixes of `Split` have no public function of their own,
 * so they are copies of the steps in `Split.topsarSplitQuery` and
 * `Split.aoiDocTilesQuery`. `prefixChecks` completes each copy with the engine's
 * remaining steps; a traced run requires the result to equal the engine query's
 * pin and reports whether the plan is still the engine's plan. */
object Layers {
  private def q(name: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(name)
  private def table(t: String): (SparkSession, String) => DataFrame =
    (s, sf) => Fixtures.table(s, sf, t)

  private def scan(t: String) = Node(s"gen.scan.$t", table(t))

  private val parsed: (SparkSession, String) => DataFrame =
    (s, sf) => Spans.parseMediaRef(Spans.explodeSpans(Fixtures.table(s, sf, "docs")))
  private val spansParse = Node("spans.parse", parsed, Seq(scan("docs")))

  private val burstXs = Seq(col("lon1"), col("lon2"), col("lon3"), col("lon4"))
  private val burstYs = Seq(col("lat1"), col("lat2"), col("lat3"), col("lat4"))

  /** Burst cell cover (one row per burst x cell), as q_topsar_split builds it. */
  def burstCover(s: SparkSession, sf: String): DataFrame =
    Fixtures.table(s, sf, "bursts")
      .withColumn("blon_min", least(burstXs: _*))
      .withColumn("blon_max", greatest(burstXs: _*))
      .withColumn("blat_min", least(burstYs: _*))
      .withColumn("blat_max", greatest(burstYs: _*))
      .withColumn("cell", explode(CellIndex.coverCol(
        col("blon_min"), col("blat_min"), col("blon_max"), col("blat_max"))))

  def aoiCover(s: SparkSession, sf: String): DataFrame =
    Fixtures.table(s, sf, "aoi")
      .withColumn("cell", explode(CellIndex.coverCol(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))))

  /** Cell-join candidates of q_topsar_split, before the exact SAT test. */
  def cellCandidates(s: SparkSession, sf: String): DataFrame =
    burstCover(s, sf).join(broadcast(aoiCover(s, sf)), Seq("cell"))

  def satSurvivors(s: SparkSession, sf: String): DataFrame = {
    val (rx, ry) = Geo.rectCorners(col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))
    cellCandidates(s, sf).where(Geo.quadIntersectsSAT(rx, ry, burstXs, burstYs))
  }

  private val splitSelect = Node("split.select", q("q_topsar_split"), Seq(
    Node("cells.sat", satSurvivors, Seq(
      Node("cells.join", cellCandidates, Seq(
        Node("cells.cover", burstCover)))))))

  /** The media-span x selected-burst join of q_aoi_doc_tiles, before its rollup. */
  def docTileHits(s: SparkSession, sf: String): DataFrame = {
    val sel = Split.topsarSplitQuery(s, sf)
      .select("aoi_id", "scene_id", "subswath", "first_burst", "last_burst")
    val spans = parsed(s, sf).where(col("kind") === "media")
    spans.join(broadcast(sel),
        spans("scene_id") === sel("scene_id") &&
        spans("subswath") === sel("subswath") &&
        spans("burst_idx").between(col("first_burst"), col("last_burst")))
      .select(col("aoi_id"), spans("scene_id").as("scene_id"),
        spans("subswath").as("subswath"), col("doc_id"),
        col("burst_idx"), col("tile_y"), col("tile_x"))
  }

  /** `satSurvivors` grouped as `Split.topsarSplitQuery` groups them: must give
   * q_topsar_split. */
  def topsarFromSurvivors(s: SparkSession, sf: String): DataFrame =
    satSurvivors(s, sf)
      .groupBy("aoi_id", "scene_id", "subswath")
      .agg(
        min("burst_idx").as("first_burst"),
        max("burst_idx").as("last_burst"),
        countDistinct("burst_idx").as("n_hit"))

  /** `docTileHits` rolled up as `Split.aoiDocTilesQuery` rolls them up: must give
   * q_aoi_doc_tiles. */
  def aoiDocTilesFromHits(s: SparkSession, sf: String): DataFrame = {
    val g = Seq("aoi_id", "scene_id", "subswath")
    docTileHits(s, sf)
      .groupBy((g ++ Seq("doc_id", "burst_idx", "tile_y", "tile_x")).map(col): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(g.map(col): _*)
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum("c").as("n_spans"),
        countDistinct(col("burst_idx"), col("tile_y"), col("tile_x")).as("n_tiles"))
      .select(col("aoi_id"), col("scene_id"), col("subswath"),
        col("n_docs"), col("n_spans"), col("n_tiles"))
  }

  /** Layer nodes built from the copies above rather than from engine functions. */
  val copied: Seq[String] = Seq("cells.cover", "cells.join", "cells.sat", "split.join")

  /** (check name, engine query, the copied prefix completed to that query). */
  val prefixChecks: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("cells.sat", "q_topsar_split", topsarFromSurvivors),
    ("split.join", "q_aoi_doc_tiles", aoiDocTilesFromHits))

  private val intensity = Node("raster.tiles", (s, sf) => Raster.intensityTiles(s, sf))
  private val halo = Node("raster.halo", (s, sf) => Speckle.haloTiles(s, sf),
    Seq(intensity.copy(children = Seq(scan("tiles")))))

  /** Queries whose root node itself carries a per-layer metric. */
  def rootMetric(q: String): Boolean =
    Set("q_topsar_split", "q_terrain_correction", "q_chain_grd").contains(q)

  /** Root node of each query's layer tree. */
  val trees: Map[String, Node] = Map(
    "q_span_cells" -> Node("cells.geolocate", q("q_span_cells"), Seq(spansParse)),
    "q_topsar_split" -> splitSelect,
    "q_aoi_doc_tiles" -> Node("split.rollup", q("q_aoi_doc_tiles"), Seq(
      // the burst selection is the join's broadcast side and stays inside the join layer
      Node("split.join", docTileHits, Seq(
        Node("spans.media", (s, sf) => parsed(s, sf).where(col("kind") === "media")))))),
    "q_calibration_sigma0" -> Node("calibration.sigma0", q("q_calibration_sigma0"), Seq(intensity)),
    "q_speckle_lee" -> Node("speckle.lee", q("q_speckle_lee"), Seq(halo)),
    "q_multilook" -> Node("multilook", q("q_multilook"), Seq(intensity)),
    "q_terrain_correction" -> Node("tc.gather", q("q_terrain_correction"), Seq(
      Node("tc.resolve", (s, sf) => TerrainCorrection.resolveCellsProbe(s, sf)))),
    "q_chain_grd" -> Node("chain.grd", q("q_chain_grd")))
}
