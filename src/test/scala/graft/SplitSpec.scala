package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cells.CellIndex
import graft.geom.Geo
import graft.gen.Fixtures
import graft.ops.{Distinct, Spans, Split}

/** TOPSAR-Split semantics vs a JTS brute-force oracle (reference TOPSARSplitOp.java:261-306)
 * plus the two engine invariants: span-sequence preservation and partitioning invariance. */
class SplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  test("burst selection matches JTS brute force with min..max contiguity") {
    val aoi = Fixtures.table(spark, sf, "aoi")
      .select("aoi_id", "wkt").as[(String, String)].collect()
    val bursts = Fixtures.table(spark, sf, "bursts")
      .select("scene_id", "subswath", "burst_idx", "footprint_wkt")
      .as[(String, String, Int, String)].collect()
    val expected = (for {
      (aid, awkt) <- aoi
      ((scene, sw), group) <- bursts.groupBy(b => (b._1, b._2))
      hit = group.filter(b => Geo.intersectsWkt(awkt, b._4)).map(_._3)
      if hit.nonEmpty
    } yield (aid, scene, sw, hit.min, hit.max, hit.length.toLong)).toSet

    val got = Split.topsarSplitQuery(spark, sf)
      .as[(String, String, String, Int, Int, Long)].collect().toSet
    assert(got == expected)
  }

  test("span-sequence invariant: exploded output reconstructs the exact input sequences") {
    val docs = Fixtures.table(spark, sf, "docs")
    val original = docs.select(col("doc_id"),
      expr("transform(spans, s -> concat(s.kind, '#', s.text, '#', s.media_ref, '#', s.offset))").as("seq"))
    val rebuilt = Spans.spanCellsQuery(spark, sf)
      .join(Spans.explodeSpans(docs).select(col("doc_id"), col("offset"), col("text")), Seq("doc_id", "offset"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(offset, kind, text, media_ref))), " +
        "s -> concat(s.kind, '#', s.text, '#', s.media_ref, '#', s.offset))").as("seq"))
    val diff = original.join(rebuilt, Seq("doc_id"))
      .where(original("seq") =!= rebuilt("seq"))
    assert(diff.count() == 0)
    assert(rebuilt.count() == original.count())
  }

  test("partitioning invariance: identical result sets at different shuffle partitioning") {
    val a = Split.aoiDocTilesQuery(spark, sf)
    val b = Split.aoiDocTilesQuery(spark, sf).repartition(13)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
    assert(a.count() > 0)
  }

  test("the reference-cell rule keeps one cover-join row per pair of covers that share a cell") {
    val level = CellIndex.DefaultLevel
    val cw = 360.0 / (1 << level) // cell edges -180 + k * cw are exact doubles
    val ch = 180.0 / (1 << level)
    val r = new scala.util.Random(17)
    def edge(c: Double, lo: Double) = lo + r.nextInt(1 << level) * c
    /** (lonMin, latMin, lonMax, latMax), at most a few cells wide */
    def box(): (Double, Double, Double, Double) = {
      val lon = edge(cw, -180.0) + r.nextDouble() * cw
      val lat = edge(ch, -90.0) + r.nextDouble() * ch
      r.nextInt(3) match {
        case 0 => (lon, lat, lon, lat) // a point
        case 1 => (lon, lat, lon + r.nextDouble() * 4 * cw, lat + r.nextDouble() * 4 * ch)
        case _ => // past the world's edge on each axis: clamped indices
          val dx = r.nextDouble() * 3 * cw; val dy = r.nextDouble() * 3 * ch
          val (x0, x1) = if (r.nextBoolean()) (180.0 - dx, 180.0 + r.nextDouble()) else (-180.5, -180.0 + dx)
          val (y0, y1) = if (r.nextBoolean()) (90.0 - dy, 90.0 + r.nextDouble()) else (-90.5, -90.0 + dy)
          (x0, y0, x1, y1)
      }
    }
    /** a box near `a`: overlapping, touching its max cell edges, or just short of them */
    def near(a: (Double, Double, Double, Double)) = {
      val (x1, y1) = (math.min(a._3, 180.0), math.min(a._4, 90.0))
      val ex = -180.0 + math.ceil((x1 + 180.0) / cw) * cw // first cell edge at or past a's max
      val ey = -90.0 + math.ceil((y1 + 90.0) / ch) * ch
      r.nextInt(4) match {
        case 0 => (x1 - r.nextDouble() * 3 * cw, y1 - r.nextDouble() * 3 * ch, x1 + r.nextDouble() * cw, y1)
        case 1 => (ex, ey, ex + r.nextDouble() * 2 * cw, ey + r.nextDouble() * 2 * ch) // edge on edge
        case 2 => (Math.nextUp(ex), ey, Math.nextUp(ex), ey) // a point just inside the next cell
        case _ => box()
      }
    }
    val pairs = (0 until 600).map { i =>
      val a = box()
      (i, a, if (i % 5 == 4) box() else near(a))
    }
    // a box whose max lies exactly on a cell edge covers the cell beyond that edge
    val edgePairs = (600 until 640).map { i =>
      val x = edge(cw, -180.0); val y = edge(ch, -90.0)
      (i, (x - cw / 2, y - ch / 2, x, y), (x, y, x + cw / 2, y + ch / 2))
    }
    val all = pairs ++ edgePairs
    val df = all.map { case (i, a, b) => (i, a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4) }
      .toDF("id", "alon0", "alat0", "alon1", "alat1", "blon0", "blat0", "blon1", "blat1")
    def cover(p: String) = df.select(col("id"), col(s"${p}lon0"), col(s"${p}lat0"),
      explode(CellIndex.coverCol(col(s"${p}lon0"), col(s"${p}lat0"),
        col(s"${p}lon1"), col(s"${p}lat1"), level)).as("cell"))
    val kept = cover("a").join(cover("b"), Seq("id", "cell"))
      .where(col("cell") === CellIndex.referenceCellCol(
        col("alon0"), col("alat0"), col("blon0"), col("blat0"), level))
      .groupBy("id").count().as[(Int, Long)].collect().toMap
    val expected = all.map { case (i, a, b) =>
      val shared = CellIndex.cover(a._1, a._2, a._3, a._4, level).toSet
        .intersect(CellIndex.cover(b._1, b._2, b._3, b._4, level).toSet)
      i -> (if (shared.nonEmpty) 1L else 0L)
    }
    val wrong = expected.filter { case (i, n) => kept.getOrElse(i, 0L) != n }
    assert(wrong.isEmpty, wrong.take(5).map { case (i, n) =>
      s"pair $i ${all(i)}: kept ${kept.getOrElse(i, 0L)} rows, expected $n" }.mkString("\n"))
    // the seeds reach both outcomes
    assert(expected.count(_._2 == 1L) > 150 && expected.count(_._2 == 0L) > 150)
    assert(edgePairs.forall { case (i, _, _) => kept.get(i).contains(1L) })
  }

  test("distinct counts per group in one fixed plan equal countDistinct, nulls and duplicates included") {
    val r = new scala.util.Random(29)
    def opt[T](v: T) = if (r.nextInt(6) == 0) None else Some(v)
    // groups 0..3 have many rows with duplicates; 100.. have one row each; a
    // null group key is a group of its own
    val rows = (0 until 400).map { i =>
      val g = if (i < 300) r.nextInt(4) else 100 + i
      (opt("s" + g % 2), g, opt("d" + r.nextInt(12)), opt(r.nextInt(3)), opt(r.nextInt(4)))
    }
    val df = (rows ++ rows.take(40)).toDF("g1", "g2", "a", "b", "c")
    assert(df.where(col("a").isNull).count() > 0 && df.where(col("b").isNull).count() > 0 &&
      df.where(col("c").isNull).count() > 0 && df.where(col("g1").isNull).count() > 0)
    val got = Distinct.counts(df, Seq("g1", "g2"), "n", "na" -> Seq("a"), "nbc" -> Seq("b", "c"))
    val want = df.groupBy("g1", "g2").agg(count(lit(1)).as("n"),
      countDistinct(col("a")).as("na"), countDistinct(col("b"), col("c")).as("nbc"))
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    assert(!got.queryExecution.optimizedPlan.toString.contains("Expand"))
    def sorted(df: DataFrame) =
      df.as[(Option[String], Int, Long, Long, Long)].collect().toSeq.sortBy(_.toString)
    TestSpark.onBothEvalPaths {
      val w = sorted(want)
      assert(sorted(got) == w)
      // one-row groups, and groups whose only key values have a null part
      assert(w.exists(_._3 == 1L) && w.exists(_._4 == 0L) && w.exists(_._5 == 0L))
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
