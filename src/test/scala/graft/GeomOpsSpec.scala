package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.Fixtures
import graft.model.Layout
import graft.ops.{Coregistration, Deburst, TerrainCorrection}

/** Geometric operators: planted-shift recovery, TC geometry vs a scala oracle,
 * partitioning invariance of the gather join. */
class GeomOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  test("xcorr recovers every planted shift exactly with SSD = 0") {
    val est = Coregistration.xcorrOffsetsQuery(spark, sf)
      .select("gcp_id", "est_dx", "est_dy", "ssd_min")
      .as[(String, Int, Int, Double)].collect().map(t => t._1 -> t).toMap
    val truth = Fixtures.table(spark, sf, "gcps")
      .select("gcp_id", "true_dx", "true_dy").as[(String, Int, Int)].collect()
    assert(truth.nonEmpty)
    for ((id, dx, dy) <- truth) {
      val (_, edx, edy, ssd) = est(id)
      assert((edx, edy) == (dx, dy), s"gcp $id")
      assert(ssd == 0.0)
    }
  }

  test("terrain correction geometry matches a scala oracle on sampled cells") {
    val rows = TerrainCorrection.nearestNeighborQuery(spark, sf)
      .select("scene_id", "ci", "cj", "subswath", "burst_idx", "local_line", "x_in_sw")
      .as[(String, Int, Int, String, Int, Int, Int)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5, r._6, r._7)).toMap
    val dem = Fixtures.table(spark, sf, "dem")
      .select("scene_id", "lat_idx", "lon_idx", "height")
      .as[(String, Int, Int, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val scenes = Fixtures.table(spark, sf, "scenes")
      .select("scene_id", "lon0", "lat0", "azimuth_time_interval")
      .as[(String, Double, Double, Double)].collect()
    val bursts = Fixtures.table(spark, sf, "bursts")
      .select("scene_id", "subswath", "burst_idx", "burst_first_line_time", "burst_last_line_time")
      .as[(String, String, Int, Double, Double)].collect()
      .groupBy(b => (b._1, b._2))

    for ((scene, lon0, lat0, azInt) <- scenes; ci <- Seq(3, 77, 141); cj <- Seq(5, 50, 93)) {
      // scala oracle of the same closed-form chain
      val sIdx0 = math.floor((math.sqrt(
        math.pow(-400000.0 - (lon0 + (ci + 0.5) * TerrainCorrection.CellDeg - lon0) * TerrainCorrection.XMetersPerDeg, 2)
          + math.pow(700000.0 - dem((scene,
            math.round((((cj + 0.5) * TerrainCorrection.CellDeg) / TerrainCorrection.DemStep)).toInt,
            math.round((((ci + 0.5) * TerrainCorrection.CellDeg) / TerrainCorrection.DemStep)).toInt)), 2))
        - math.sqrt(400000.0 * 400000.0 + 700000.0 * 700000.0)) / TerrainCorrection.DR).toInt
      if (sIdx0 >= 0 && sIdx0 < 3 * Layout.SamplesPerBurst) {
        val sw = s"IW${sIdx0 / Layout.SamplesPerBurst + 1}"
        // azimuth: zero-Doppler from the first orbit state vector (linear ephemeris)
        val firstT = Fixtures.table(spark, sf, "orbit").where(col("scene_id") === scene)
          .orderBy("t_sec").select("t_sec", "y", "vy").as[(Double, Double, Double)].head()
        val tyM = ((cj + 0.5) * TerrainCorrection.CellDeg) * TerrainCorrection.YMetersPerDeg
        val tz = firstT._1 + (tyM - firstT._2) / firstT._3
        val cands = bursts((scene, sw)).sortBy(_._3)
        val owned = cands.zipWithIndex.find { case ((_, _, b, ft, lt), i) =>
          val from = if (i == 0) Double.NegativeInfinity else (cands(i - 1)._5 + ft) / 2
          val to = if (i == cands.length - 1) Double.PositiveInfinity else (lt + cands(i + 1)._4) / 2
          tz > from && tz <= to && tz >= ft - azInt / 2 && tz <= lt + azInt / 2
        }
        owned.foreach { case ((_, _, b, ft, _), _) =>
          val localLine = math.round((tz - ft) / azInt).toInt
          if (localLine >= 0 && localLine < Layout.LinesPerBurst) {
            val got = rows.get((scene, ci, cj))
            assert(got.contains((sw, b, localLine, sIdx0 % Layout.SamplesPerBurst)),
              s"cell ($scene,$ci,$cj): got $got")
          }
        }
      }
    }
  }

  test("gather-join invariance: TC result identical at different shuffle partitioning") {
    val a = TerrainCorrection.query(spark, sf)
    val b = TerrainCorrection.query(spark, sf).repartition(17)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("bilinear corners key tile seams and keep dyadic weights summing to 1") {
    val (tw, th) = (Layout.TileW, Layout.TileH)
    // (l0, x0, wl, wx): range seam, azimuth seam, both, and one interior position
    val positions = Seq(
      (5, tw - 1, 0.25, 0.5), (th - 1, 7, 0.75, 0.125),
      (th - 1, tw - 1, 0.5, 0.0625), (10, 20, 0.375, 0.875))
    val rows = TerrainCorrection.bilinearCorners(positions.toDF("l0", "x0", "wl", "wx"))
      .select("l0", "x0", "cyx.cy", "cyx.cx", "tile_y", "tile_x", "px", "w")
      .as[(Int, Int, Int, Int, Long, Long, Int, Double)].collect()
    assert(rows.length == 4 * positions.length)
    for ((l0, x0, wl, wx) <- positions) {
      val corners = rows.filter(r => r._1 == l0 && r._2 == x0)
      assert(corners.map(r => (r._3, r._4)).toSet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
      for ((_, _, cy, cx, tileY, tileX, px, _) <- corners) {
        val (line, samp) = (l0 + cy, x0 + cx)
        assert((tileY, tileX, px) == ((line / th).toLong, (samp / tw).toLong, (line % th) * tw + samp % tw),
          s"corner ($cy, $cx) of ($l0, $x0)")
      }
      val ws = corners.sortBy(r => (r._3, r._4)).map(_._8)
      assert(ws.toSeq == Seq((1 - wl) * (1 - wx), (1 - wl) * wx, wl * (1 - wx), wl * wx))
      assert(ws.sum == 1.0, s"weights of ($l0, $x0)")
    }
  }

  test("deburst + TC agree on burst ownership rule") {
    // every (scene, subswath, global line) the deburst op assigns must be the burst TC picks
    val d = Deburst.query(spark, sf).select("scene_id", "subswath", "line", "burst_idx")
    val dup = d.groupBy("scene_id", "subswath", "line").count().where(col("count") =!= 1)
    assert(dup.count() == 0)
  }
}
