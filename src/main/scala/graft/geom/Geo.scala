package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.WKTReader
import graft.exprs.KernelExprs

/**
 * Spatial predicates, exposed as Column expressions (codegen'd, UDF-free) for the
 * hot join paths, plus a JTS oracle for tests (the reference's own exactness authority:
 * TOPSARSplitOp.java:261-306 builds JTS polygons per burst and tests aoi.intersects).
 *
 * Convex-quad representation in fixture tables: 8 scalar columns (x1,y1..x4,y4) in ring
 * order, which keeps the predicates plain arithmetic (no geometry objects on the hot path).
 */
object Geo {

  /** Point-in-convex-quad via unrolled ray casting (4 edges). Boundary behavior follows
   * the standard crossing rule; fixtures avoid exact-touch degeneracies. */
  def pointInQuad(px: Column, py: Column,
      xs: Seq[Column], ys: Seq[Column]): Column = {
    require(xs.size == 4 && ys.size == 4)
    val edges = (0 until 4).map(i => (xs(i), ys(i), xs((i + 1) % 4), ys((i + 1) % 4)))
    val crossings = edges.map { case (x1, y1, x2, y2) =>
      val cond = ((y1 > py) =!= (y2 > py)) &&
        (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
      when(cond, 1).otherwise(0)
    }.reduce(_ + _)
    crossings % 2 === 1
  }

  /**
   * Exact convex-quad x convex-quad intersection by the separating-axis theorem:
   * the quads are disjoint iff some edge normal (8 candidate axes) separates the
   * projected corner intervals. Exact for convex shapes, pure arithmetic, compiled
   * as one kernel call (Kernels.quadIntersectsSAT); a null corner gives null.
   */
  def quadIntersectsSAT(ax: Seq[Column], ay: Seq[Column],
      bx: Seq[Column], by: Seq[Column]): Column = {
    require(ax.size == 4 && bx.size == 4)
    KernelExprs.quadIntersectsSAT(ax ++ ay ++ bx ++ by)
  }

  /** A coordinate in integer microdegrees: floor(c * 1e6) as a BIGINT, the
   * undithered grid of the exact spatial predicates and the spans' lon keys. */
  def microdeg(c: Column): Column = floor(c * 1e6).cast("long")

  /** Axis-aligned-rect convenience: corners of (lonMin,latMin,lonMax,latMax). */
  def rectCorners(lonMin: Column, latMin: Column, lonMax: Column, latMax: Column)
      : (Seq[Column], Seq[Column]) =
    (Seq(lonMin, lonMax, lonMax, lonMin), Seq(latMin, latMin, latMax, latMax))

  // -------- JTS oracle (driver/test side only; not on distributed hot paths) --------
  def wkt(s: String): Geometry = new WKTReader().read(s)
  def intersectsWkt(a: String, b: String): Boolean = wkt(a).intersects(wkt(b))
  def containsPoint(polyWkt: String, lon: Double, lat: Double): Boolean =
    wkt(polyWkt).contains(
      new org.locationtech.jts.geom.GeometryFactory()
        .createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat)))
}
