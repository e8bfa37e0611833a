package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.Fixtures
import graft.model.Layout
import graft.ops.{Multilook, Raster, Speckle}

/**
 * Golden tests for the raster kernels against an independent single-threaded Scala oracle
 * (a direct port of the reference loops), plus the reference's pinned pure-math constants
 * (TestSpeckleFilter.java:48-170, TestCalibrationOp.java:126-140).
 */
class RasterOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf
  val ND = Layout.NoData

  // ---- scala oracle: reference formulas, straight loops --------------------------
  def isNd(v: Double): Boolean = v.isNaN || v == ND

  /** Raster for one (scene, subswath, pol, burst): (H*TilesY) x (W*TilesX) intensity. */
  def burstRaster(scene: String, sw: String, pol: String, burst: Int): Array[Array[Double]] = {
    val rows = Fixtures.table(spark, sf, "tiles")
      .where(col("scene_id") === scene && col("subswath") === sw &&
        col("pol") === pol && col("burst_idx") === burst)
      .select("tile_x", "tile_y", "i", "q")
      .as[(Int, Int, Array[Double], Array[Double])].collect()
    val hTot = Layout.TileH * Layout.TilesY
    val wTot = Layout.TileW * Layout.TilesX
    val r = Array.fill(hTot, wTot)(ND)
    for ((tx, ty, i, q) <- rows; k <- 0 until Layout.TileW * Layout.TileH) {
      val y = ty * Layout.TileH + k / Layout.TileW
      val x = tx * Layout.TileW + k % Layout.TileW
      // same dyadic-grid snap as Raster.intensityTiles
      def qz(v: Double) = math.floor(v * 4096.0) / 4096.0
      r(y)(x) = if (isNd(i(k)) || isNd(q(k))) ND
        else math.floor((qz(i(k)) * qz(i(k)) + qz(q(k)) * qz(q(k))) * 16384.0) / 16384.0
    }
    r
  }

  /** Per-pixel window stats exactly as SpeckleFilter.getNeighborValues + mean/variance. */
  def windowStats(r: Array[Array[Double]], x: Int, y: Int): (Int, Double, Double, Double) = {
    val h = r.length; val w = r(0).length
    var n = 0; var s1 = 0.0; var s2 = 0.0
    var cp = ND
    for (dy <- -1 to 1; dx <- -1 to 1) {
      val yy = y + dy; val xx = x + dx
      val v = if (yy < 0 || yy >= h || xx < 0 || xx >= w) ND else r(yy)(xx)
      if (dy == 0 && dx == 0) cp = v
      if (!isNd(v)) { n += 1; s1 += v; s2 += v * v }
    }
    (n, s1, s2, cp)
  }

  def leeOracle(r: Array[Array[Double]], x: Int, y: Int): Double = {
    val (n, s1, s2, cp) = windowStats(r, x, y)
    if (n <= 0) return ND
    val m = s1 / n
    val vr = if (n > 1) (s2 - n * m * m) / (n - 1) else 0.0
    if (m <= 0 || vr <= 0) return m
    val cu = 1.0 / math.sqrt(Speckle.Enl); val cu2 = cu * cu
    val ci = math.sqrt(vr) / m
    if (ci < cu) m
    else cp * (1.0 - cu2 / (ci * ci)) + m * (cu2 / (ci * ci))
  }

  def boxcarOracle(r: Array[Array[Double]], x: Int, y: Int): Double = {
    val (n, s1, _, _) = windowStats(r, x, y)
    if (n <= 0) ND else s1 / n
  }

  def rollupOracle(r: Array[Array[Double]], f: (Array[Array[Double]], Int, Int) => Double,
      tx: Int, ty: Int): (Long, Long, Long, Long) = {
    val outs = for {
      k <- 0 until Layout.TileW * Layout.TileH
      y = ty * Layout.TileH + k / Layout.TileW
      x = tx * Layout.TileW + k % Layout.TileW
      v = f(r, x, y) if !isNd(v)
    } yield v
    // same +1/32-quantum boundary offset as Raster.rollup
    def q(v: Double) = math.floor(0.031415926535897934 + v * 1e6).toLong
    (outs.size.toLong, outs.map(q).sum, q(outs.min), q(outs.max))
  }

  // ---------------------------------------------------------------------------------

  test("boxcar + lee per-tile rollups match the scala oracle (burst raster, halo seams)") {
    val (scene, sw, pol, burst) = ("scene_0001", "IW2", "VH", 3)
    val r = burstRaster(scene, sw, pol, burst)
    def engineRows(df: org.apache.spark.sql.DataFrame) = df
      .where(col("scene_id") === scene && col("subswath") === sw &&
        col("pol") === pol && col("burst_idx") === burst)
      .select("tile_y", "tile_x", "n_valid", "sum_q", "min_q", "max_q")
      .as[(Int, Int, Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5, t._6)).toMap
    val eBox = engineRows(Speckle.boxcar(spark, sf))
    val eLee = engineRows(Speckle.lee(spark, sf))
    for (ty <- 0 until Layout.TilesY; tx <- 0 until Layout.TilesX) {
      assert(eBox((ty, tx)) == rollupOracle(r, boxcarOracle, tx, ty), s"boxcar tile ($ty,$tx)")
      assert(eLee((ty, tx)) == rollupOracle(r, leeOracle, tx, ty), s"lee tile ($ty,$tx)")
    }
  }

  test("pinned kernel constants from TestSpeckleFilter (variance n-1, no-data mean)") {
    // variance of {1..5} = 2.5, mean 3.0 (TestSpeckleFilter.java:92-97)
    val df = Seq((Seq(1.0, 2.0, 3.0, 4.0, 5.0), 3.0)).toDF("valid", "cp")
      .withColumn("st0", expr("array(struct(valid AS valid, cp AS cp))"))
      .withColumn("st0", expr(
        """transform(st0, s -> struct(size(s.valid) AS n,
          |aggregate(s.valid, 0D, (a, x) -> a + x) AS s1,
          |aggregate(s.valid, 0D, (a, x) -> a + x * x) AS s2, s.cp AS cp))""".stripMargin))
      .withColumn("m", expr("element_at(st0, 1).s1 / element_at(st0, 1).n"))
      .withColumn("vr", expr(
        "(element_at(st0, 1).s2 - element_at(st0, 1).n * m * m) / (element_at(st0, 1).n - 1)"))
    val (m, vr) = df.select("m", "vr").as[(Double, Double)].head()
    assert(m == 3.0 && vr == 2.5)
    // no-data mean of {1, nd, 3, nd, 5} = 3.0 over n=3 (TestSpeckleFilter.java:115-119)
    val nd = Seq(Seq(1.0, ND, 3.0, ND, 5.0)).toDF("vals")
      .withColumn("valid", expr(s"filter(vals, v -> not(isnan(v) or v = ${ND}D))"))
      .withColumn("m", expr("aggregate(valid, 0D, (a, x) -> a + x) / size(valid)"))
      .select("m").as[Double].head()
    assert(nd == 3.0)
  }

  test("synthesized constant-LUT calibration: sigma0 = k * dn^2 (TestCalibrationOp.java:126-140)") {
    val k = 1.8627006757903795e-4 // the Iceye test's calibration factor
    val a = 1.0 / math.sqrt(k) // constant LUT value so 1/A^2 = k
    val tiles = Seq((
      "s", "IW1", "VV", 1, 0, 0, Array.fill(Layout.TileW * Layout.TileH)(1.0),
      Array.fill(Layout.TileW * Layout.TileH)(0.0)))
      .toDF("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "i", "q")
      .withColumn("v", expr("zip_with(i, q, (x, y) -> x * x + y * y)"))
    val lut = Seq(
      ("s", "IW1", "VV", 0, Seq(0, 200), Seq(a, a)),
      ("s", "IW1", "VV", 1000, Seq(0, 200), Seq(a, a)))
      .toDF("scene_id", "subswath", "pol", "line", "pixels", "lut")
      .groupBy("scene_id", "subswath", "pol")
      .agg(array_sort(collect_list(struct(col("line"), col("pixels"), col("lut")))).as("vecs"))
    val out = ops.Calibration.withLutA(tiles, lut)
      .withColumn("sig", expr("zip_with(v, lut_a, (dn2, aa) -> dn2 / (aa * aa))"))
      .select(explode(col("sig"))).as[Double].collect()
    assert(out.forall(v => math.abs(v - k) < 1e-12))
  }

  test("multilook matches oracle rule sqrt(mean(amp^2)) and db rule") {
    val got = Multilook.query(spark, sf)
      .where(col("n_valid") > 0)
      .withColumn("ok_amp", abs(col("ml_amplitude") - round(sqrt(col("ml_intensity")), 6)) < 1e-5)
      .where(!col("ok_amp"))
    assert(got.count() == 0)
  }

  test("deburst: every target line maps to exactly one burst, local_line within bounds") {
    val d = ops.Deburst.query(spark, sf)
    val dup = d.groupBy("scene_id", "subswath", "line").count().where(col("count") > 1)
    assert(dup.count() == 0)
    assert(d.where(col("local_line") < 0 || col("local_line") >= Layout.LinesPerBurst).count() == 0)
    // overlap rule: lines exist that map to a burst other than the earliest containing one
    assert(d.count() > 0)
  }

  test("compiled per-pixel maps are bit-identical to the interpreted HOF lambdas they replaced") {
    import graft.exprs.{KernelExprs, Kernels}
    val nd = Raster.ND // "-9999.0D" literal for SQL
    val r = new scala.util.Random(41)
    def randArr(n: Int, lo: Double, hi: Double): Array[Double] = Array.fill(n) {
      val u = r.nextDouble()
      if (u < 0.06) ND
      else if (u < 0.08) 0.0
      else lo + r.nextDouble() * (hi - lo)
    }
    val n = 257
    val rows = (1 to 8).map { _ =>
      (randArr(n, -300.0, 300.0), randArr(n, -300.0, 300.0),
        Array.fill(n)(400.0 + r.nextDouble() * 400.0))
    }
    val df = rows.toDF("a", "b", "lut")
    def check(kernel: org.apache.spark.sql.Column, sql: String): Unit = TestSpark.onBothEvalPaths {
      val out = df.select(kernel.as("k"), expr(sql).as("s")).collect()
      out.foreach { row =>
        val k = row.getSeq[Double](0); val s = row.getSeq[Double](1)
        assert(k.length == s.length)
        k.zip(s).zipWithIndex.foreach { case ((x, y), i) =>
          assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y),
            s"mismatch at $i: $x vs $y")
        }
      }
    }
    check(KernelExprs.intensity(col("a"), col("b"), 4096.0, 16384.0),
      s"""zip_with(a, b, (x, y) -> if(x = $nd or y = $nd or isnan(x) or isnan(y), $nd,
         |  floor(((floor(x * 4096) / 4096) * (floor(x * 4096) / 4096)
         |         + (floor(y * 4096) / 4096) * (floor(y * 4096) / 4096)) * 16384) / 16384))""".stripMargin)
    check(KernelExprs.pixelMap2(col("a"), col("lut"), Kernels.PM_CALDIV),
      s"zip_with(a, lut, (dn2, v) -> if(dn2 = $nd, $nd, dn2 / (v * v)))")
    check(KernelExprs.pixelMap2(col("a"), col("lut"), Kernels.PM_CALDB),
      s"zip_with(a, lut, (dn2, v) -> if(dn2 = $nd or dn2 <= 0D, $nd, 10D * log10(dn2 / (v * v))))")
    check(KernelExprs.pixelMap2(col("a"), col("b"), Kernels.PM_NOISESUB),
      s"zip_with(a, b, (dn2, nz) -> if(dn2 = $nd, $nd, greatest(0D, dn2 - nz)))")
    check(KernelExprs.pixelMap2(col("a"), col("lut"), Kernels.PM_COMPLEXDIV),
      s"zip_with(a, lut, (x, v) -> if(x = $nd, $nd, x / v))")
    check(KernelExprs.pixelMap2(col("a"), col("b"), Kernels.PM_ATAN2),
      s"zip_with(a, b, (y, x) -> if(y = $nd or x = $nd, $nd, atan2(y, x)))")
    check(KernelExprs.pixelMap2(col("a"), col("lut"), Kernels.PM_CALDIV_SNAP, 67108864.0),
      s"zip_with(a, lut, (dn2, v) -> if(dn2 = $nd, $nd, floor(dn2 / (v * v) * 67108864) / 67108864))")
    check(KernelExprs.quantize(col("a"), 4096.0),
      "transform(a, x -> floor(x * 4096) / 4096)")
  }

  test("compiled indexed pixel maps and phase-subtraction kernels match their HOF twins (pure modes bit-exact; trig modes within the JIT few-ulp band and quantizer-exact)") {
    import graft.exprs.{KernelExprs, Kernels}
    import graft.ops.{Calibration, InSAR}
    val nd = Raster.ND // "-9999.0D" literal for SQL
    val r = new scala.util.Random(47)
    def randArr(n: Int, lo: Double, hi: Double): Array[Double] = Array.fill(n) {
      val u = r.nextDouble()
      if (u < 0.06) ND
      else if (u < 0.08) 0.0
      else lo + r.nextDouble() * (hi - lo)
    }
    // full-tile arrays so the SQL twins' sequence(0, n-1) zips align
    val n = Layout.TileW * Layout.TileH
    val rows = (0 until 8).map { rr =>
      (randArr(n, -300.0, 300.0), randArr(n, -300.0, 300.0),
        Array.fill(n)(400.0 + r.nextDouble() * 400.0), rr % 4, rr % 2)
    }
    val df = rows.toDF("a", "b", "lut", "tile_x", "tile_y")
    // ulpTol = 0: bit-exact (pure-arithmetic modes). ulpTol > 0: modes whose
    // lambda calls java.lang.Math trig — HotSpot serves Math.sin/cos from the
    // fdlibm method OR the C2 intrinsic stub depending on JIT phase; each is
    // within 1 ulp of the true result but they can land on opposite sides, and
    // the surrounding multiplies/divides round once more (a latitude the
    // INTERPRETED HOF path had too — the same closure call site crosses the
    // same JIT phases). The gate's integer quantizer (1e6 buckets over O(1)
    // values) sits ~11 orders of magnitude above this few-ulp band; a second
    // assertion pins that no element moves across a quantizer boundary.
    def check(kernel: org.apache.spark.sql.Column, sql: String, ulpTol: Int = 0): Unit = TestSpark.onBothEvalPaths {
      val out = df.select(kernel.as("k"), expr(sql).as("s")).collect()
      out.foreach { row =>
        val k = row.getSeq[Double](0); val s = row.getSeq[Double](1)
        assert(k.length == s.length)
        k.zip(s).zipWithIndex.foreach { case ((x, y), i) =>
          val exact = java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
          // the band is ABSOLUTE at the operand scale: a 1-ulp trig difference
          // inside a large surface term (f_topo ~ 5) lands as ~ulp(f) absolute
          // error in the wrapped angle, independent of the output's magnitude
          val close = ulpTol > 0 && math.abs(x - y) <= ulpTol * math.ulp(16.0)
          assert(exact || close,
            s"mismatch at $i: $x vs $y [sql: ${sql.take(70)}]")
          // gate-level exactness: the few-ulp trig band must never move a value
          // across a 1e-6 quantizer boundary — the bar the DuckDB oracle enforces
          def q(v: Double) = math.floor(0.031415926535897934 + v * 1.0e6).toLong
          assert(q(x) == q(y), s"quantized mismatch at $i: $x vs $y")
        }
      }
    }
    val tw = Layout.TileW; val th = Layout.TileH; val spb = Layout.SamplesPerBurst
    val gx = s"(tile_x * $tw + k % $tw)"
    val gy = s"(tile_y * $th + k div $tw)"
    val theta = s"(20.0 + 20.0 * ($gx) / $spb)"
    // indexed pixel maps (Calibration.antennaPatternQuery / dispatch branches /
    // thermalNoiseRcmQuery lambdas, verbatim)
    val g = s"(1.0 + 0.2 * cos(($theta - 30.0) / CAST(5.0 AS DOUBLE)))"
    check(KernelExprs.pixelMapIdx(col("a"), col("tile_x"), lit(0.0), Kernels.PXI_ANTPAT, tw, spb),
      s"transform(a, (x, k) -> if(x = $nd, $nd, x / ($g * $g)))", ulpTol = 8)
    check(KernelExprs.pixelMapIdx(col("a"), col("tile_x"),
        lit(Calibration.AsarK.toDouble), Kernels.PXI_ASAR, tw, spb),
      s"transform(a, (x, k) -> if(x = $nd, $nd, ${Calibration.asarSigma("x", gx)}))", ulpTol = 8)
    check(KernelExprs.pixelMapIdx(col("a"), col("tile_x"),
        lit(Calibration.TsxKs.toDouble), Kernels.PXI_TSX, tw, spb),
      s"transform(a, (x, k) -> if(x = $nd, $nd, ${Calibration.tsxSigma("x", gx)}))", ulpTol = 8)
    check(KernelExprs.pixelMapIdx(col("a"), col("tile_x"),
        lit(Calibration.IceyeK.toDouble), Kernels.PXI_SCALE, tw, spb),
      s"transform(a, x -> if(x = $nd, $nd, x * ${Calibration.IceyeK}))")
    check(KernelExprs.pixelMapIdx(col("a"), col("tile_x"), lit(3.25), Kernels.PXI_SUBMAX, tw, spb),
      s"transform(a, x -> if(x = $nd, $nd, greatest(0D, x - 3.25D)))")
    check(KernelExprs.pixelMap2(col("a"), col("lut"), Kernels.PM_RS2OFF,
        Calibration.Rs2Offset.toDouble),
      s"zip_with(a, lut, (dn2, v) -> if(dn2 = $nd, $nd, (dn2 + ${Calibration.Rs2Offset}) / v))")
    check(KernelExprs.pixelMap2(col("a"), col("b"), Kernels.PM_RVI),
      s"zip_with(a, b, (x, y) -> if(x = $nd or y = $nd or x + y <= 0D, $nd, 4D * y / (x + y)))")
    check(KernelExprs.pixelMapIdx(col("a"), lit(0), lit(InSAR.CohBiasC),
        Kernels.PXI_COHBIAS, tw, spb),
      s"transform(a, c -> if(c = $nd, $nd, greatest(0D, (c - ${InSAR.CohBiasC}) / ${InSAR.CohBiasDen})))")
    check(KernelExprs.etadMap(col("a"), col("lut"), col("tile_x"),
        graft.ops.TerrainCorrection.DR, tw),
      s"""transform(sequence(0, ${n - 1}), k ->
         |  if(element_at(a, k + 1) = $nd, $nd,
         |    $gx + element_at(lut, k + 1) / ${graft.ops.TerrainCorrection.DR}))""".stripMargin)
    // wrapped phase-subtraction maps (InSAR.topoPhaseRemovalQuery /
    // interferogramFlatEarthQuery / Calibration.eapPhaseQuery / chain topoPhaseOp)
    def wrapSql(src: String, f: String) =
      s"""zip_with($src,
         |         sequence(0, ${n - 1}), (ph, k) ->
         |  if(ph = $nd, $nd, atan2(sin(ph - $f), cos(ph - $f))))""".stripMargin
    val atanAb = s"zip_with(b, a, (b, a) -> if(b = $nd or a = $nd, $nd, atan2(b, a)))"
    val ftopo = InSAR.topoF(gx, gy)
    check(KernelExprs.phaseSubPair(col("a"), col("b"), col("tile_x"), col("tile_y"),
        Kernels.PS_TOPO_PAIR, 0.0, tw, th, spb),
      wrapSql(atanAb, ftopo), ulpTol = 8)
    val fflat = s"(${InSAR.FlatC1} * $gx + ${InSAR.FlatC3} * $gx * $gx)"
    check(KernelExprs.phaseSubPair(col("a"), col("b"), col("tile_x"), col("tile_y"),
        Kernels.PS_FLAT, 0.0, tw, th, spb, InSAR.FlatC1, InSAR.FlatC3),
      wrapSql(atanAb, fflat), ulpTol = 8)
    val d = Raster.Dyadic
    val eapE = s"(0.4 * sin(($theta - 28.0) / CAST(3.0 AS DOUBLE)))"
    val atanQuant =
      s"""zip_with(transform(b, x -> floor(x * $d) / $d), transform(a, x -> floor(x * $d) / $d),
         |  (b, a) -> if(b = $nd or a = $nd, $nd, atan2(b, a)))""".stripMargin
    check(KernelExprs.phaseSubPair(col("a"), col("b"), col("tile_x"), col("tile_y"),
        Kernels.PS_EAP, d.toDouble, tw, th, spb),
      wrapSql(atanQuant, eapE), ulpTol = 8)
    check(KernelExprs.phaseSubV(col("a"), col("tile_x"), col("tile_y"), tw, th),
      s"transform(a, (ph, k) -> if(ph = $nd, $nd, atan2(sin(ph - $ftopo), cos(ph - $ftopo))))", ulpTol = 8)
    check(KernelExprs.subsetMask(col("a"), col("tile_x"), col("tile_y"), 17, 90, 5, 50, tw, th),
      s"""transform(a, (x, k) -> if(($gx) BETWEEN 17 AND 90
         |  AND ($gy) BETWEEN 5 AND 50, x, $nd))""".stripMargin)
    // quantized-sum fold kernels (stokes g0..g3, exact)
    val sq = df.select(
      KernelExprs.sumQ(col("a"), col("b"), Kernels.SQ_PAIR_ADD).as("k0"),
      expr(s"aggregate(zip_with(a, b, (x, y) -> if(x = $nd, 0D, x + y)), 0L, (s, x) -> s + CAST(floor(0.031415926535897934 + x * 1.0E6) AS BIGINT))").as("s0"),
      KernelExprs.sumQ(col("a"), col("b"), Kernels.SQ_PAIR_SUB).as("k1"),
      expr(s"aggregate(zip_with(a, b, (x, y) -> if(x = $nd, 0D, x - y)), 0L, (s, x) -> s + CAST(floor(0.031415926535897934 + x * 1.0E6) AS BIGINT))").as("s1"),
      KernelExprs.sumQ(col("a"), col("a"), Kernels.SQ_SCALED, k = -2.0).as("k2"),
      expr(s"aggregate(a, 0L, (s, x) -> s + if(x = $nd, 0L, CAST(floor(0.031415926535897934 + -2D * x * 1.0E6) AS BIGINT)))").as("s2"),
      KernelExprs.sumQ(col("a"), col("a"), Kernels.SQ_SCALED, k = 2.0).as("k3"),
      expr(s"aggregate(a, 0L, (s, x) -> s + if(x = $nd, 0L, CAST(floor(0.031415926535897934 + 2D * x * 1.0E6) AS BIGINT)))").as("s3")).collect()
    sq.foreach { row =>
      assert(row.getLong(0) == row.getLong(1) && row.getLong(2) == row.getLong(3) &&
        row.getLong(4) == row.getLong(5) && row.getLong(6) == row.getLong(7))
    }
    // rollup2Q = the data-analysis per-tile partials (filter + two folds + min/max)
    val r2 = df.select(KernelExprs.rollup2Q(col("a"), 1.0e6).as("k"),
      expr(s"filter(a, x -> not(isnan(x) or x = $nd))").as("valid")).collect()
    r2.foreach { row =>
      val k = row.getStruct(0); val valid = row.getSeq[Double](1)
      def q(v: Double) = math.floor(0.031415926535897934 + v * 1.0e6).toLong
      def q2(v: Double) = math.floor(0.031415926535897934 + v * v * 1.0e6).toLong
      assert(k.getLong(0) == valid.size)
      assert(k.getLong(1) == valid.map(q).sum && k.getLong(2) == valid.map(q2).sum)
      if (valid.nonEmpty) assert(k.getLong(3) == q(valid.min) && k.getLong(4) == q(valid.max))
      else assert(k.isNullAt(3) && k.isNullAt(4))
    }
    // rollupQ's (n, s) = the former interpreted tile-sum fold (Bands.tileSumQ)
    val sums = df.select(KernelExprs.rollupQ(col("a"), 1.0e6).as("k"),
      expr(s"""aggregate(a, struct(0L AS n, 0L AS s), (acc, x) ->
         |  if(isnan(x) or x = $nd, acc,
         |     struct(acc.n + 1L AS n, acc.s + CAST(floor(0.031415926535897934 + x * 1.0E6) AS BIGINT) AS s)))""".stripMargin).as("s")).collect()
    sums.foreach { row =>
      val k = row.getStruct(0); val s = row.getStruct(1)
      assert(k.getLong(0) == s.getLong(0) && k.getLong(1) == s.getLong(1))
    }
  }

  test("burst raster is tile-major and the per-tile explode maps ti back to its own tile") {
    val tx = Layout.TilesX; val ty = Layout.TilesY; val n = Layout.TileW * Layout.TileH
    // one burst, a distinct value per pixel: tile (y, x) holds (y * TilesX + x) * n + p
    def px(y: Int, x: Int): Array[Double] = Array.tabulate(n)(p => ((y * tx + x) * n + p).toDouble)
    val tiles = new scala.util.Random(7).shuffle(
      for (y <- 0 until ty; x <- 0 until tx) yield ("s1", "IW1", "VV", 1, y, x, px(y, x), px(y, x).map(-_)))
    val df = tiles.toDF("scene_id", "subswath", "pol", "burst_idx", "tile_y", "tile_x", "a", "b")
    val raster = Raster.burstRaster(df, "a", "b")
    val Array((a, b)) = raster.select("a_r", "b_r").as[(Array[Double], Array[Double])].collect()
    assert(a.toSeq == (0 until tx * ty * n).map(_.toDouble))
    assert(b.toSeq == a.toSeq.map(-_))
    // a per-burst result with one element per tile in tile-major order: the first
    // and last pixel of each tile
    val r = raster.withColumn("r", expr(
      s"struct(transform(sequence(0, ${tx * ty - 1}), ti -> element_at(a_r, ti * $n + 1)) AS lo, " +
        s"transform(sequence(0, ${tx * ty - 1}), ti -> element_at(b_r, ti * $n + $n)) AS hi)"))
    val out = Raster.explodeTiles(r, "first_a" -> "lo", "last_b" -> "hi")
      .select("tile_y", "tile_x", "first_a", "last_b").as[(Int, Int, Double, Double)].collect()
    assert(out.map(t => (t._1, t._2)).toSet ==
      (for (y <- 0 until ty; x <- 0 until tx) yield (y, x)).toSet)
    assert(out.length == tx * ty)
    out.foreach { case (y, x, lo, hi) =>
      assert(lo == px(y, x).head, s"tile ($y, $x)")
      assert(hi == -px(y, x).last, s"tile ($y, $x)")
    }
  }

  test("compiled cosine and shingle-h60 kernels equal their interpreted SQL twins") {
    import graft.exprs.KernelExprs
    val r = new scala.util.Random(43)
    val vecs = (1 to 12).map { _ =>
      (Array.fill(64)(r.nextFloat() * 2f - 1f), Array.fill(64)(r.nextFloat() * 2f - 1f))
    }
    // float x float (search), float x double (corpus x trained centroids, as in
    // semantic dedup) and double x double
    val pairs = Seq(vecs.toDF("va", "vb"),
      vecs.map { case (a, b) => (a, b.map(_.toDouble * 0.75)) }.toDF("va", "vb"),
      vecs.map { case (a, b) => (a.map(_.toDouble / 3), b.map(_.toDouble)) }.toDF("va", "vb"))
    pairs.foreach { df =>
      val cosOut = df.select(KernelExprs.cosine(col("va"), col("vb")).as("k"),
        expr(graft.ann.Ann.cosSql).as("s")).collect()
      cosOut.foreach { row =>
        assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(row.getDouble(1)), df.schema.simpleString)
      }
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b c d e f g", "x y z", "repeat repeat repeat repeat repeat")
    val tdf = texts.map(Tuple1(_)).toDF("text")
      .withColumn("ws", split(lower(col("text")), " "))
    val hOut = tdf.select(KernelExprs.shingleH60(col("ws")).as("k"),
      expr("transform(transform(sequence(0, size(ws) - 3), i -> " +
        "concat_ws(' ', element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3))), " +
        "g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))").as("s")).collect()
    hOut.foreach { row =>
      assert(row.getSeq[Long](0) == row.getSeq[Long](1))
    }
  }

  test("compiled GRD azimuth-noise lerp map matches its HOF twin bit-exactly") {
    import graft.exprs.KernelExprs
    val r = new scala.util.Random(53)
    val n = Layout.TileW * Layout.TileH
    val lp = Layout.LinesPerBurst
    def randArr(k: Int): Array[Double] = Array.fill(k) {
      val u = r.nextDouble()
      if (u < 0.06) ND else if (u < 0.08) 0.0 else r.nextDouble() * 900.0
    }
    val rows = (0 until 12).map { rr =>
      (randArr(n), Array.fill(n)(400.0 + r.nextDouble() * 400.0),
        Array.fill(4)(r.nextDouble() * 2.0), rr % 3 + 1, rr % 2)
    }
    val df = rows.toDF("v", "lut_a", "azlut", "burst_idx", "tile_y")
    // the HOF twin is Grd.thermalNoiseAzQuery's pre-optimization expression, verbatim
    val gline = s"((burst_idx - 1) * $lp + tile_y * ${Layout.TileH} + k div ${Layout.TileW})"
    val b = s"CAST($gline div $lp AS INT)"
    val az = s"(element_at(azlut, $b + 1) + (($gline - $b * $lp) / $lp.0D) * (element_at(azlut, $b + 2) - element_at(azlut, $b + 1)))"
    val sql =
      s"""transform(sequence(0, ${n - 1}), k ->
         |  if(element_at(v, k + 1) = ${Raster.ND}, ${Raster.ND},
         |    greatest(0D, element_at(v, k + 1) - element_at(lut_a, k + 1) * $az)))""".stripMargin
    val out = df.select(
      KernelExprs.noiseAzMap(col("v"), col("lut_a"), col("azlut"),
        col("burst_idx"), col("tile_y"), lp, Layout.TileW, Layout.TileH).as("k"),
      expr(sql).as("s")).collect()
    out.foreach { row =>
      val kArr = row.getSeq[Double](0); val sArr = row.getSeq[Double](1)
      assert(kArr.length == sArr.length)
      kArr.zip(sArr).zipWithIndex.foreach { case ((x, y), i) =>
        assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y),
          s"mismatch at $i: $x vs $y")
      }
    }
  }
}
