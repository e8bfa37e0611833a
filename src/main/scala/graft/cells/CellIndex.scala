package graft.cells

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Hierarchical lon/lat cell index (H3/S2 role per the north rule; own implementation —
 * no H3/S2 jar ships with this environment, SURVEY.md §7.4).
 *
 * A cell at `level` is one square of the 2^level x 2^level grid over
 * lon in [-180,180), lat in [-90,90). Cell ids pack (level, iy, ix) into one long:
 *   id = level << 58 | iy << 29 | ix
 * which keeps ids unique across levels (children of a cell never collide with it).
 *
 * Everything is exposed twice:
 *  - as pure Column expressions (batched, codegen'd, UDF-free — the encoding pipeline
 *    required by the north rule), and
 *  - as plain Scala for driver-side dimension-table prep and test oracles.
 */
object CellIndex {

  /** Default level: cell edge ~0.17 deg lon — about one burst footprint (0.2 deg). */
  val DefaultLevel = 11

  // ----- scala side -----
  def ix(lon: Double, level: Int): Long =
    math.min((1L << level) - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * (1L << level)).toLong))
  def iy(lat: Double, level: Int): Long =
    math.min((1L << level) - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * (1L << level)).toLong))
  def pack(level: Int, iyv: Long, ixv: Long): Long = (level.toLong << 58) | (iyv << 29) | ixv
  def cell(lon: Double, lat: Double, level: Int = DefaultLevel): Long =
    pack(level, iy(lat, level), ix(lon, level))

  /** All cells overlapping a lon/lat bbox (driver-side; used to cover small polygon sets). */
  def cover(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
      level: Int = DefaultLevel): Seq[Long] = {
    for {
      yy <- iy(latMin, level) to iy(latMax, level)
      xx <- ix(lonMin, level) to ix(lonMax, level)
    } yield pack(level, yy, xx)
  }

  // ----- column side (pure, codegen'd) -----
  private def clampIdx(c: Column, level: Int): Column =
    least(lit((1L << level) - 1), greatest(lit(0L), floor(c).cast("long")))

  def ixCol(lon: Column, level: Int = DefaultLevel): Column =
    clampIdx((lon + 180.0) / 360.0 * (1L << level).toDouble, level)
  def iyCol(lat: Column, level: Int = DefaultLevel): Column =
    clampIdx((lat + 90.0) / 180.0 * (1L << level).toDouble, level)
  def packCol(level: Int, iyc: Column, ixc: Column): Column =
    lit(level.toLong << 58).bitwiseOR(shiftleft(iyc, 29).bitwiseOR(ixc))
  def cellCol(lon: Column, lat: Column, level: Int = DefaultLevel): Column =
    packCol(level, iyCol(lat, level), ixCol(lon, level))

  /** Column form of bbox cover: ARRAY<LONG> of all cells overlapping the bbox. */
  def coverCol(lonMin: Column, latMin: Column, lonMax: Column, latMax: Column,
      level: Int = DefaultLevel): Column = {
    val x0 = ixCol(lonMin, level); val x1 = ixCol(lonMax, level)
    val y0 = iyCol(latMin, level); val y1 = iyCol(latMax, level)
    flatten(transform(sequence(y0, y1), yy =>
      transform(sequence(x0, x1), xx => packCol(level, yy, xx))))
  }

  /** Reference cell of two bbox covers: the minimum corner of their intersection,
   * in the clamped indices `coverCol` uses. Each cover is an index rectangle, so
   * when the covers share a cell this one is shared, and it is unique: a
   * cover-cell equi-join that keeps only the rows whose `cell` equals it keeps
   * exactly one row per intersecting pair, with no distinct pass (the
   * reference-point rule of partition-based spatial joins). */
  def referenceCellCol(aLonMin: Column, aLatMin: Column, bLonMin: Column, bLatMin: Column,
      level: Int = DefaultLevel): Column =
    packCol(level, greatest(iyCol(aLatMin, level), iyCol(bLatMin, level)),
      greatest(ixCol(aLonMin, level), ixCol(bLonMin, level)))
}
