package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.geom.Geo
import graft.cells.CellIndex

/** Property tests: the engine's pure-arithmetic spatial predicates vs the JTS oracle
 * (the reference's own exactness authority, TOPSARSplitOp.java:261-306). */
class GeoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Random convex quad: a rectangle sheared+rotated — generated as center + two
   * non-collinear edge vectors. Ring order guaranteed. */
  private val quadGen: Gen[Array[(Double, Double)]] = for {
    cx <- Gen.choose(-10.0, 10.0); cy <- Gen.choose(-10.0, 10.0)
    w <- Gen.choose(0.5, 4.0); h <- Gen.choose(0.5, 4.0)
    theta <- Gen.choose(0.0, math.Pi / 2 * 0.9)
    shear <- Gen.choose(-0.5, 0.5)
  } yield {
    val ux = (w * math.cos(theta), w * math.sin(theta))
    val vx = (-h * math.sin(theta) + shear * w, h * math.cos(theta))
    Array(
      (cx, cy), (cx + ux._1, cy + ux._2),
      (cx + ux._1 + vx._1, cy + ux._2 + vx._2), (cx + vx._1, cy + vx._2))
  }

  private def asWkt(c: Array[(Double, Double)]): String = graft.gen.Fixtures.cornersToWkt(c)

  test("quadIntersectsSAT matches JTS intersects on random convex quads") {
    val pairs = Gen.listOfN(200, Gen.zip(quadGen, quadGen)).pureApply(Gen.Parameters.default, Seed(42L))
    val df = pairs.map { case (a, b) =>
      (a(0)._1, a(0)._2, a(1)._1, a(1)._2, a(2)._1, a(2)._2, a(3)._1, a(3)._2,
        b(0)._1, b(0)._2, b(1)._1, b(1)._2, b(2)._1, b(2)._2, b(3)._1, b(3)._2)
    }.toDF("ax1", "ay1", "ax2", "ay2", "ax3", "ay3", "ax4", "ay4",
      "bx1", "by1", "bx2", "by2", "bx3", "by3", "bx4", "by4")
    val got = df.withColumn("hit", Geo.quadIntersectsSAT(
      Seq(col("ax1"), col("ax2"), col("ax3"), col("ax4")),
      Seq(col("ay1"), col("ay2"), col("ay3"), col("ay4")),
      Seq(col("bx1"), col("bx2"), col("bx3"), col("bx4")),
      Seq(col("by1"), col("by2"), col("by3"), col("by4"))))
      .select("hit").as[Boolean].collect()
    val expected = pairs.map { case (a, b) => Geo.intersectsWkt(asWkt(a), asWkt(b)) }
    assert(got.toSeq == expected.toSeq)
  }

  /** The Column-tree SAT test that Kernels.quadIntersectsSAT replaced, verbatim:
   * the reference the kernel must reproduce bit for bit. */
  private def satTree(ax: Seq[Column], ay: Seq[Column],
      bx: Seq[Column], by: Seq[Column]): Column = {
    require(ax.size == 4 && bx.size == 4)
    def axes(xs: Seq[Column], ys: Seq[Column]): Seq[(Column, Column)] =
      (0 until 4).map { i =>
        val j = (i + 1) % 4
        (ys(j) - ys(i)) * -1 -> (xs(j) - xs(i)) // normal of edge i->j: (-(dy), dx)
      }
    val allAxes = axes(ax, ay) ++ axes(bx, by)
    val separated = allAxes.map { case (nx, ny) =>
      def proj(xs: Seq[Column], ys: Seq[Column]): Seq[Column] =
        (0 until 4).map(i => nx * xs(i) + ny * ys(i))
      val pa = proj(ax, ay); val pb = proj(bx, by)
      val aMin = least(pa: _*); val aMax = greatest(pa: _*)
      val bMin = least(pb: _*); val bMax = greatest(pb: _*)
      (aMax < bMin) || (bMax < aMin)
    }.reduce(_ || _)
    !separated
  }

  test("the compiled SAT kernel equals the Column SAT tree, NaN and signed zeros included; a null corner gives null") {
    val names = Seq("ax", "ay", "bx", "by").flatMap(p => (1 to 4).map(i => s"$p$i"))
    def row(a: Array[(Double, Double)], b: Array[(Double, Double)]): Seq[java.lang.Double] =
      Seq(a.map(_._1), a.map(_._2), b.map(_._1), b.map(_._2)).flatten.map(Double.box)
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      Array((x0, y0), (x1, y0), (x1, y1), (x0, y1))
    val random = Gen.listOfN(2000, Gen.zip(quadGen, quadGen))
      .pureApply(Gen.Parameters.default, Seed(11L)).map { case (a, b) => row(a, b) }
    // arbitrary (also non-convex, degenerate) corners on a coarse grid, where
    // projections tie and touch exactly
    val gridPt = Gen.zip(Gen.choose(-3, 3).map(_.toDouble), Gen.choose(-3, 3).map(_.toDouble))
    val grid = Gen.listOfN(500, Gen.zip(Gen.listOfN(4, gridPt), Gen.listOfN(4, gridPt)))
      .pureApply(Gen.Parameters.default, Seed(12L)).map { case (a, b) => row(a.toArray, b.toArray) }
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val edges = Seq(
      row(rect(0, 0, 1, 1), rect(1, 0, 2, 1)), // shared edge
      row(rect(0, 0, 1, 1), rect(1, 1, 2, 2)), // shared vertex
      row(rect(0, 0, 1, 1), rect(1.5, 0, 2, 1)), // disjoint
      row(rect(-5, -5, 5, 5), rect(-1, -1, 1, 1)), // containment
      row(rect(-1, -1, 1, 1), rect(-5, -5, 5, 5)),
      row(rect(0, 0.5, 2, 0.5), rect(1, 0, 3, 1)), // zero-height rect (lat_min = lat_max)
      row(rect(0, 2.5, 2, 2.5), rect(1, 0, 3, 1)),
      row(rect(0, 0, 1, 1), Array((nan, 0.0), (2.0, 0.0), (2.0, 1.0), (0.5, 1.0))), // NaN corner
      row(Array((0.0, nan), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)), rect(3, 3, 4, 4)),
      row(Array.fill(4)((nan, nan)), rect(0, 0, 1, 1)),
      row(rect(0, 0, 1, 1), Array((inf, 0.0), (2.0, 0.0), (2.0, 1.0), (0.5, 1.0))),
      row(rect(-0.0, -0.0, 1, 1), rect(-1, -1, 0.0, 0.0)), // -0.0 / 0.0 corners
      row(rect(0.0, 0.0, 1, 1), rect(-1, -1, -0.0, -0.0)),
      row(rect(-0.0, 0.0, -0.0, 1), rect(0.0, 0.0, 1, -0.0)))
    val nullCorner = row(rect(0, 0, 1, 1), rect(0.5, 0.5, 2, 2)).updated(9, null)
    val rows = (random ++ grid ++ edges :+ nullCorner).map(r => Row.fromSeq(r))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, DoubleType))))
    val cs = names.map(col).grouped(4).toSeq
    TestSpark.onBothEvalPaths {
      val got = df.select(satTree(cs(0), cs(1), cs(2), cs(3)).as("tree"),
        Geo.quadIntersectsSAT(cs(0), cs(1), cs(2), cs(3)).as("kernel"))
        .as[(Option[Boolean], Option[Boolean])].collect()
      assert(got.length == rows.length)
      val (pairs, Array(nullRow)) = got.splitAt(rows.length - 1)
      val diff = pairs.zipWithIndex.collect { case ((t, k), i) if t != k => s"row $i: tree $t, kernel $k" }
      assert(diff.isEmpty, diff.take(10).mkString("\n"))
      assert(pairs.forall(_._2.isDefined))
      assert(pairs.exists(_._2.contains(true)) && pairs.exists(_._2.contains(false)))
      assert(nullRow._2.isEmpty, s"null corner: kernel gave ${nullRow._2}")
    }
  }

  test("pointInQuad matches JTS contains on random points") {
    val cases = Gen.listOfN(300, Gen.zip(quadGen,
      Gen.zip(Gen.choose(-12.0, 14.0), Gen.choose(-12.0, 14.0)))).pureApply(Gen.Parameters.default, Seed(42L))
    val df = cases.map { case (a, (px, py)) =>
      (a(0)._1, a(0)._2, a(1)._1, a(1)._2, a(2)._1, a(2)._2, a(3)._1, a(3)._2, px, py)
    }.toDF("x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4", "px", "py")
    val got = df.withColumn("hit", Geo.pointInQuad(col("px"), col("py"),
      Seq(col("x1"), col("x2"), col("x3"), col("x4")),
      Seq(col("y1"), col("y2"), col("y3"), col("y4"))))
      .select("hit").as[Boolean].collect()
    val expected = cases.map { case (a, (px, py)) => Geo.containsPoint(asWkt(a), px, py) }
    assert(got.toSeq == expected.toSeq)
  }

  test("cell column form equals scala form and packs uniquely") {
    val pts = Gen.listOfN(200, Gen.zip(Gen.choose(-179.0, 179.0), Gen.choose(-89.0, 89.0))).pureApply(Gen.Parameters.default, Seed(42L))
    val df = pts.toDF("lon", "lat")
    val got = df.withColumn("c", CellIndex.cellCol(col("lon"), col("lat"))).select("c").as[Long].collect()
    val exp = pts.map { case (lon, lat) => CellIndex.cell(lon, lat) }
    assert(got.toSeq == exp.toSeq)
    // level is encoded: cells at different levels never collide
    assert(CellIndex.cell(0, 0, 5) != CellIndex.cell(0, 0, 11))
  }

  test("coverCol covers exactly the bbox cell range") {
    val got = TestSpark.spark.range(1).select(
      CellIndex.coverCol(lit(-0.5), lit(-0.3), lit(0.4), lit(0.2)).as("c"))
      .select(explode(col("c"))).as[Long].collect().sorted
    val exp = CellIndex.cover(-0.5, -0.3, 0.4, 0.2).sorted
    assert(got.toSeq == exp)
  }
}
