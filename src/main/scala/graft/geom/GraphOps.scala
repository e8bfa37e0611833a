package graft.geom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import Geo.microdeg

/**
 * Iterative graph analytics over the burst proximity graph (the
 * within-distance pair join of Spatial.withinDistPairs): k-core decomposition
 * and multi-source BFS hop distance — the degeneracy / reachability pair that
 * complements the already-gated triangle count and connected components.
 *
 * Scale posture: both are frontier/peel loops of BOUNDED equi-joins on node
 * ids — per round one hash join + one partial-aggregated degree count, with
 * localCheckpoint cutting lineage so round R never replans rounds 1..R-1
 * (the round-2 lesson). The DuckDB twins unroll the same rounds as
 * MATERIALIZED CTEs (materialization forced: an inlined self-referencing
 * chain would re-expand exponentially).
 */
object GraphOps {

  /** Peel round cap (k-core): specs assert convergence strictly below it, and
   * the SQL twin unrolls exactly this many rounds (extra rounds past the
   * fixpoint are no-ops, so equality is safe at any true convergence <= cap).
   * Bounded by the PEEL DEPTH, which is small on lattice-like graphs. */
  val MaxRounds = 24

  /** SSSP round cap — deliberately SEPARATE from the k-core cap: Bellman-Ford
   * needs up to (longest weighted-shortest-path hop count) rounds, which is
   * bounded by V-1 and can exceed a peel-depth-sized cap on denser fixtures.
   * The DuckDB twin unrolls exactly this constant (GeoOracles.sssp reads it),
   * and the engine `require`s convergence within it, so oracle and engine stay
   * in lockstep and fail loudly together rather than silently diverging. */
  val SsspMaxRounds = 32

  /** BFS hop cap: the gate explores this many rounds exactly on both sides. */
  val BfsHops = 6

  private def nid(s: String, w: String, b: String) =
    concat_ws("/", col(s), col(w), col(b).cast("string"))

  /** Undirected edge list (u, v) of the 0.4-degree proximity graph. */
  private[geom] def edges(spark: SparkSession, sfDir: String): DataFrame =
    Spatial.withinDistPairs(spark, sfDir, Spatial.TriDistUs, 8)
      .select(nid("scene_a", "subswath_a", "burst_a").as("u"),
        nid("scene_b", "subswath_b", "burst_b").as("v"))

  /** Weighted undirected edge list (u, v, w) — weight = the exact integer
   * squared distance in microdegrees² (already computed by the pair join). */
  private[geom] def wedges(spark: SparkSession, sfDir: String): DataFrame =
    Spatial.withinDistPairs(spark, sfDir, Spatial.TriDistUs, 8)
      .select(nid("scene_a", "subswath_a", "burst_a").as("u"),
        nid("scene_b", "subswath_b", "burst_b").as("v"), col("d2").as("w"))

  /** Symmetric (directed both ways) edge view. */
  private def sym(e: DataFrame): DataFrame =
    e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

  /** The k values the k-core gate decomposes at (king-adjacency lattice:
   * interior cells have degree 8, so 3 and 4 both peel multiple waves —
   * 7 and 10 rounds on the sf0.01 fixture — without emptying). */
  val CoreKs: Seq[Int] = Seq(3, 4)

  /** Symmetric king-adjacency (8-neighbor) edges between OCCUPIED level-11
   * cells of the media-span density frame: u = packed cell id, v = occupied
   * neighbor. Built the repo's standard lattice-join way — the probe side
   * explodes to its 8 offsets and equi-joins the occupied frame (fan-out 8,
   * no cartesian; at corpus scale the cell frame is already reduced from the
   * points, so this is a bounded-metadata graph). */
  private[geom] def cellEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val idxMask = (1L << 29) - 1
    val occ = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .withColumn("ix", col("cell").bitwiseAND(idxMask))
      .withColumn("iy", shiftright(col("cell"), 29).bitwiseAND(idxMask))
      .select("ix", "iy")
    val offs = expr("explode(flatten(transform(array(-1L, 0L, 1L), dx -> " +
      "filter(transform(array(-1L, 0L, 1L), dy -> struct(dx, dy)), " +
      "o -> o.dx != 0 OR o.dy != 0))))")
    occ.withColumn("o", offs)
      .select((col("ix") + col("o.dx")).as("ix"), (col("iy") + col("o.dy")).as("iy"),
        graft.cells.CellIndex.packCol(graft.cells.CellIndex.DefaultLevel,
          col("iy"), col("ix")).as("u"))
      .join(occ, Seq("ix", "iy"))
      .select(col("u"),
        graft.cells.CellIndex.packCol(graft.cells.CellIndex.DefaultLevel,
          col("iy"), col("ix")).as("v"))
  }

  /**
   * q_kcore: k-core decomposition of the occupied-cell king-adjacency graph
   * at k in CoreKs — iteratively peel nodes of degree < k until fixpoint;
   * output every surviving cell with its in-core degree. Each round filters
   * the symmetric edge frame by the surviving node set (a hash semi-join)
   * and recounts degrees map-side, with localCheckpoint cutting the lineage;
   * convergence is detected by the surviving-node count reaching a fixpoint.
   * The round structure is the standard distributed peel (Montresor et al.) —
   * round count is bounded by the peel depth, not the node count.
   */
  def kcoreQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = cellEdges(spark, sfDir).localCheckpoint()
    val perK = CoreKs.map { k =>
      var e = e0
      var nNodes = -1L
      var rounds = 0
      var done = false
      while (!done && rounds < MaxRounds) {
        val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
        val keep = deg.where(col("deg") >= k).select("u").localCheckpoint()
        val n = keep.count()
        if (n == nNodes) done = true
        else {
          nNodes = n
          e = e.join(keep, Seq("u"), "left_semi")
            .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
            .localCheckpoint()
          rounds += 1
        }
      }
      require(done, s"k-core k=$k did not converge within $MaxRounds rounds")
      e.groupBy("u").agg(count(lit(1)).as("core_deg"))
        .select(lit(k.toLong).as("k"), col("u").as("cell"), col("core_deg"))
    }
    perK.reduce(_ unionByName _)
  }

  /** BFS seed set: bursts whose footprint center lies in the lexicographically
   * first AOI's bbox (closed bounds, exact integer microdegrees). */
  private[geom] def seeds(spark: SparkSession, sfDir: String): DataFrame = {
    val aoi = Fixtures.table(spark, sfDir, "aoi")
      .select(col("aoi_id"), microdeg(col("lon_min")).as("x0"), microdeg(col("lat_min")).as("y0"),
        microdeg(col("lon_max")).as("x1"), microdeg(col("lat_max")).as("y1"))
      .orderBy("aoi_id").limit(1)
    val lonC = (col("lon1") + col("lon2") + col("lon3") + col("lon4")) / 4
    val latC = (col("lat1") + col("lat2") + col("lat3") + col("lat4")) / 4
    Fixtures.table(spark, sfDir, "bursts")
      .select(nid("scene_id", "subswath", "burst_idx").as("node"),
        microdeg(lonC).as("px"), microdeg(latC).as("py"))
      .crossJoin(broadcast(aoi))
      .where(col("px") >= col("x0") && col("px") <= col("x1") &&
             col("py") >= col("y0") && col("py") <= col("y1"))
      .select("node")
  }

  /**
   * q_bfs_hops: multi-source BFS hop distance from the seed set through the
   * proximity graph, explored for exactly BfsHops rounds (the bounded-radius
   * reachability query: "every acquisition within 6 overlap hops of the
   * AOI"). Classic frontier expansion: each round joins the CURRENT frontier
   * (not the visited set) to the symmetric edge list, anti-joins the visited
   * set, and tags the new nodes with the round number — each node's hop is
   * its first-discovery round, which IS the shortest hop distance.
   */
  def bfsHopsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val e = sym(edges(spark, sfDir)).localCheckpoint()
    var visited = seeds(spark, sfDir).select(col("node"), lit(0L).as("hop")).localCheckpoint()
    var frontier = visited.select("node")
    var h = 1
    while (h <= BfsHops) {
      val next = e.join(frontier.select(col("node").as("u")), Seq("u"), "left_semi")
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint()
      visited = visited.unionByName(next.select(col("node"), lit(h.toLong).as("hop")))
        .localCheckpoint()
      frontier = next
      h += 1
    }
    visited
  }

  /**
   * q_sssp: single-source (multi-seed) WEIGHTED shortest paths through the
   * proximity graph — distributed Bellman-Ford: each round relaxes every edge
   * out of the current distance frame (dist(v) <- min(dist(v), dist(u) + w))
   * as ONE equi-join + ONE min aggregation, iterated to fixpoint (no distance
   * changes) with localCheckpoint cutting lineage per round. Edge weight is
   * the exact integer squared distance, so path costs are exact BIGINTs and
   * the min is deterministic. Round count is bounded by the weighted-path
   * hop depth (the spec asserts convergence strictly inside SsspMaxRounds); the
   * DuckDB twin unrolls the same rounds as MATERIALIZED CTEs — rounds past
   * the fixpoint are no-ops, so equality holds at any true convergence
   * <= cap. Scale shape: per round one hash join on node ids over the
   * REDUCED node/edge frames (never the raw data), the same round structure
   * as q_pagerank / q_kcore.
   */
  def ssspQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val w0 = wedges(spark, sfDir)
    val e = w0.unionAll(w0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .localCheckpoint()
    var dist = seeds(spark, sfDir).select(col("node"), lit(0L).as("dist")).localCheckpoint()
    var rounds = 0
    var done = false
    while (!done && rounds < SsspMaxRounds) {
      val relaxed = e.join(dist.select(col("node").as("u"), col("dist")), Seq("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist")).localCheckpoint()
      val changed = next.join(dist.withColumnRenamed("dist", "old"), Seq("node"), "left_outer")
        .where(col("old").isNull || col("old") =!= col("dist")).count()
      if (changed == 0) done = true
      else { dist = next; rounds += 1 }
    }
    require(done, s"SSSP did not converge within $SsspMaxRounds rounds")
    dist
  }
}
