package graft

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.exprs.Kernels
import scala.jdk.CollectionConverters._

/**
 * Direct property tests of the compiled kernel layer (exprs/Kernels.scala) against
 * independent straight-loop Scala oracles — no Spark session, seeded deterministic
 * inputs with no-data holes. These pin the bit-identity claims the kernels make:
 * window accumulation in (dy, dx) row-major order, exact integer rollups, exact
 * halo assembly, and the one-md5 universal-hash minhash family.
 */
class KernelSpec extends AnyFunSuite {

  val ND = Kernels.ND
  def isNd(v: Double): Boolean = v.isNaN || v == ND

  /** Seeded tile with ~8% ND holes on the dyadic 2^-12 grid. */
  def tile(seed: Long, n: Int): Array[Double] = {
    val r = new scala.util.Random(seed)
    Array.fill(n) {
      if (r.nextDouble() < 0.08) ND
      else math.floor(r.nextDouble() * 8.0 * 4096.0) / 4096.0
    }
  }
  def arr(a: Array[Double]): UnsafeArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  val W = 12; val H = 10; val M = 2

  /** Oracle window stats at (x,y) over a (W+2m)x(H+2m) halo, row-major (dy,dx). */
  def winStats(a: Array[Double], x: Int, y: Int, m: Int): (Int, Double, Double, Array[Double]) = {
    val hw = W + 2 * m
    var n = 0; var s1 = 0.0; var s2 = 0.0
    val vs = Array.newBuilder[Double]
    for (dy <- -m to m; dx <- -m to m) {
      val v = a((y + m + dy) * hw + (x + m + dx))
      if (!isNd(v)) { n += 1; s1 += v; s2 += v * v; vs += v }
    }
    (n, s1, s2, vs.result())
  }

  test("speckle boxcar/median/lee/gammamap/frost match straight-loop oracles bit-for-bit") {
    for (seed <- 1L to 5L) {
      val halo = tile(seed, (W + 2 * M) * (H + 2 * M))
      val hw = W + 2 * M
      val enl = 4.0; val damping = 2.0
      val cu = 1.0 / math.sqrt(enl); val cu2 = cu * cu
      val cmax = math.sqrt(2.0) * cu
      val got = Map(
        Kernels.MODE_BOXCAR -> Kernels.speckle(arr(halo), Kernels.MODE_BOXCAR, W, H, M, enl, damping).toDoubleArray(),
        Kernels.MODE_MEDIAN -> Kernels.speckle(arr(halo), Kernels.MODE_MEDIAN, W, H, M, enl, damping).toDoubleArray(),
        Kernels.MODE_LEE -> Kernels.speckle(arr(halo), Kernels.MODE_LEE, W, H, M, enl, damping).toDoubleArray(),
        Kernels.MODE_GAMMA_MAP -> Kernels.speckle(arr(halo), Kernels.MODE_GAMMA_MAP, W, H, M, enl, damping).toDoubleArray(),
        Kernels.MODE_FROST -> Kernels.speckle(arr(halo), Kernels.MODE_FROST, W, H, M, enl, damping).toDoubleArray())
      for (y <- 0 until H; x <- 0 until W) {
        val k = y * W + x
        val cp = halo((y + M) * hw + (x + M))
        val (n, s1, s2, vs) = winStats(halo, x, y, M)
        val mean = if (n > 0) s1 / n else ND
        val vr = if (n > 1) (s2 - n * mean * mean) / (n - 1) else 0.0
        // boxcar
        assert(got(Kernels.MODE_BOXCAR)(k) == (if (n <= 0) ND else mean))
        // median
        val med = if (n <= 0) ND else { val s = vs.sorted; s(s.length / 2) }
        assert(got(Kernels.MODE_MEDIAN)(k) == med)
        // lee (Lee.java:168-187 shape)
        val lee =
          if (n <= 0) ND
          else if (mean <= 0.0 || vr <= 0.0) mean
          else {
            val ci = math.sqrt(vr) / mean
            if (ci < cu) mean else cp * (1.0 - cu2 / (ci * ci)) + mean * (cu2 / (ci * ci))
          }
        assert(got(Kernels.MODE_LEE)(k) == lee)
        // gamma-map (GammaMap.java:166-199 shape)
        val gm =
          if (n <= 0) ND
          else if (mean <= 0.0 || vr <= 0.0) mean
          else {
            val ci = math.sqrt(vr) / mean
            if (ci <= cu) mean
            else if (ci < cmax) {
              val alpha = (1.0 + cu2) / (ci * ci - cu2)
              val dd = mean * mean * (alpha - enl - 1.0) * (alpha - enl - 1.0) + 4.0 * alpha * enl * mean * cp
              if (dd < 0.0) cp else ((alpha - enl - 1.0) * mean + math.sqrt(dd)) / (2.0 * alpha)
            } else cp
          }
        assert(got(Kernels.MODE_GAMMA_MAP)(k) == gm)
        // frost: Chebyshev ring distance (Frost.java:153-163)
        val fr =
          if (n <= 0) ND
          else if (isNd(cp)) ND
          else if (mean <= 0.0 || vr <= 0.0) mean
          else {
            val b = damping * (vr / (mean * mean))
            var num = 0.0; var den = 0.0
            for (dy <- -M to M; dx <- -M to M) {
              val v = halo((y + M + dy) * hw + (x + M + dx))
              if (!isNd(v)) {
                val kk = math.exp(-b * math.max(math.abs(dx), math.abs(dy)))
                num += v * kk; den += kk
              }
            }
            if (den == 0.0) mean else num / den
          }
        assert(got(Kernels.MODE_FROST)(k) == fr)
      }
    }
  }

  test("haloStrip + haloAssemble reproduce the directly-built halo of a 3x3 tile grid") {
    val r = new scala.util.Random(42)
    // 3x3 grid of WxH tiles; center tile's halo built two ways
    val tiles = Array.fill(3, 3)(tile(r.nextLong(), W * H))
    // direct halo from the 3Wx3H mosaic
    val mw = 3 * W; val mosaic = new Array[Double](3 * W * 3 * H)
    for (ty <- 0 until 3; tx <- 0 until 3; y <- 0 until H; x <- 0 until W)
      mosaic((ty * H + y) * mw + tx * W + x) = tiles(ty)(tx)(y * W + x)
    val hw = W + 2 * M
    val want = new Array[Double](hw * (H + 2 * M))
    for (y <- 0 until H + 2 * M; x <- 0 until hw)
      want(y * hw + x) = mosaic((H - M + y) * mw + (W - M + x))
    // strips: neighbor (ny,nx) contributes role (1-(ny-1))*3 + (1-(nx-1)) relative to center?
    // Role convention: role = (sry+1)*3 + (srx+1) where (srx,sry) is the OFFSET of the
    // neighbor from the center, and haloStrip extracts the strip of that neighbor
    // facing the center. Verify by construction for every neighbor incl. center.
    val contribs = for (ny <- 0 until 3; nx <- 0 until 3) yield {
      val srx = nx - 1; val sry = ny - 1
      val role = (sry + 1) * 3 + (srx + 1)
      val strip = Kernels.haloStrip(arr(tiles(ny)(nx)), role, W, H, M)
      org.apache.spark.sql.catalyst.InternalRow(role, strip)
    }
    val got = Kernels.haloAssemble(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(contribs.toArray[Any]),
      W, H, M).toDoubleArray()
    assert(got.toSeq == want.toSeq)
  }

  test("rollupQ equals direct filter/quantize/aggregate, incl. all-invalid tiles") {
    for (seed <- 10L to 14L) {
      val a = tile(seed, W * H)
      val q = 16384.0
      val row = Kernels.rollupQ(arr(a), q)
      val qs = a.filterNot(isNd).map(v => math.floor(0.031415926535897934 + v * q).toLong)
      if (qs.isEmpty) {
        assert(row.getLong(0) == 0L && row.isNullAt(2) && row.isNullAt(3))
      } else {
        assert(row.getLong(0) == qs.length.toLong)
        assert(row.getLong(1) == qs.sum)
        assert(row.getLong(2) == qs.min && row.getLong(3) == qs.max)
      }
    }
    val allNd = Kernels.rollupQ(arr(Array.fill(8)(ND)), 16384.0)
    assert(allNd.getLong(0) == 0L && allNd.isNullAt(2))
  }

  test("cfar full-minus-guard equals the direct background-ring oracle") {
    val g = 1; val thr = 3.0
    val halo = tile(21L, (W + 2 * M) * (H + 2 * M))
    val row = Kernels.cfar(arr(halo), W, H, M, g, thr)
    val hw = W + 2 * M
    var nDet = 0L; var maxT = Double.NegativeInfinity; var any = false
    for (y <- 0 until H; x <- 0 until W) {
      val cp = halo((y + M) * hw + (x + M))
      if (!isNd(cp)) {
        var n = 0.0; var s1 = 0.0; var s2 = 0.0
        for (dy <- -M to M; dx <- -M to M; if math.abs(dy) > g || math.abs(dx) > g) {
          val v = halo((y + M + dy) * hw + (x + M + dx))
          if (!isNd(v)) { n += 1; s1 += v; s2 += v * v }
        }
        if (n >= 2) {
          val vr = (s2 - n * (s1 / n) * (s1 / n)) / (n - 1)
          if (vr > 0.0) {
            val t = (cp - s1 / n) / math.sqrt(vr)
            any = true; if (t > maxT) maxT = t; if (t > thr) nDet += 1
          }
        }
      }
    }
    assert(row.getLong(0) == nDet)
    if (any) assert(row.getDouble(1) == maxT) else assert(row.isNullAt(1))
  }

  test("minhash16 equals the documented universal-hash formula per permutation") {
    val r = new scala.util.Random(99)
    val hs = Array.fill(40)(r.nextLong().abs & Kernels.MinhashMask)
    val got = Kernels.minhash16(UnsafeArrayData.fromPrimitiveArray(hs)).toLongArray()
    for (k <- 0 until 16) {
      val want = hs.map { h =>
        val hi = h >>> 30; val lo = h & ((1L << 30) - 1)
        (hi * Kernels.MinhashA(k) + lo * Kernels.MinhashB(k) + Kernels.MinhashC(k)) & Kernels.MinhashMask
      }.min
      assert(got(k) == want, s"permutation $k")
    }
  }

  test("blockMeans equals the direct per-block loop") {
    val looks = 2
    val a = tile(33L, W * H)
    val got = Kernels.blockMeans(arr(a), W, H, looks)
    val bx = W / looks
    for (b <- 0 until bx * (H / looks)) {
      val y0 = (b / bx) * looks; val x0 = (b % bx) * looks
      var n = 0L; var s = 0.0
      for (dy <- 0 until looks; dx <- 0 until looks) {
        val v = a((y0 + dy) * W + (x0 + dx))
        if (v != ND) { n += 1; s += v }
      }
      val row = got.getStruct(b, 2)
      assert(row.getLong(0) == n && row.getDouble(1) == s)
    }
  }

  test("wssOverlap/wssPass match straight-loop quantized fold oracles") {
    val w = W; val h = H; val ov = 3; val margin = 2; val wTotal = 4 * w; val q = 1.0e6
    val off = 0.031415926535897934
    for (seed <- 11L to 13L; tileX <- 0 to 3) {
      val va = tile(seed, w * h); val ia = tile(seed + 100, w * h)
      val vb = tile(seed + 200, w * h); val ib = tile(seed + 300, w * h)
      val got = Kernels.wssOverlap(arr(va.clone), arr(ia.clone), arr(vb.clone), arr(ib.clone),
        tileX, w, h, ov, margin, wTotal, q).toLongArray()
      val topOff = w * (h - ov)
      for (j <- 0 until ov) {
        var n = 0L; var pk = 0L; var pki = 0L; var av = 0L
        for (c <- 0 until w) {
          val gx = tileX * w + c
          if (gx >= margin && gx <= wTotal - margin) {
            val a = va(topOff + j * w + c); val b = vb(j * w + c)
            if (!(a == ND && b == ND)) {
              n += 1
              if (b == ND) {
                pk += math.floor(off + a * q).toLong
                pki += math.floor(off + ia(topOff + j * w + c) * q).toLong
                av += math.floor(off + a * q).toLong
              } else if (a == ND) {
                pk += math.floor(off + b * q).toLong
                pki += math.floor(off + ib(j * w + c) * q).toLong
                av += math.floor(off + b * q).toLong
              } else {
                pk += math.floor(off + math.max(a, b) * q).toLong
                pki += math.floor(off + (if (a >= b) ia(topOff + j * w + c) else ib(j * w + c)) * q).toLong
                av += math.floor(off + ((a + b) / 2.0) * q).toLong
              }
            }
          }
        }
        assert(got(j * 4) == n && got(j * 4 + 1) == pk && got(j * 4 + 2) == pki && got(j * 4 + 3) == av)
      }
      val gp = Kernels.wssPass(arr(va.clone), arr(ia.clone), tileX, w, h, margin, wTotal, q).toLongArray()
      for (r <- 0 until h) {
        var n = 0L; var pk = 0L; var pki = 0L
        for (c <- 0 until w) {
          val gx = tileX * w + c
          if (gx >= margin && gx <= wTotal - margin) {
            val x = va(r * w + c)
            if (x != ND) { n += 1; pk += math.floor(off + x * q).toLong; pki += math.floor(off + ia(r * w + c) * q).toLong }
          }
        }
        assert(gp(r * 4) == n && gp(r * 4 + 1) == pk && gp(r * 4 + 2) == pki && gp(r * 4 + 3) == pk)
      }
    }
  }

  test("azSpectrum equals the direct column DFT power within 1e-9 (and exactly for impulses)") {
    val w = 8; val h = 8
    val r = new scala.util.Random(77)
    val di = Array.fill(w * h)(r.nextDouble() * 2 - 1)
    val dq = Array.fill(w * h)(r.nextDouble() * 2 - 1)
    val got = Kernels.azSpectrum(arr(di.clone), arr(dq.clone), w, h).toDoubleArray()
    for (x <- 0 until w; k <- 0 until h) {
      var fr = 0.0; var fi = 0.0
      for (y <- 0 until h) {
        val th = 2.0 * math.Pi * k * y / h
        fr += di(y * w + x) * math.cos(th) + dq(y * w + x) * math.sin(th)
        fi += dq(y * w + x) * math.cos(th) - di(y * w + x) * math.sin(th)
      }
      // the kernel dyadically snaps per-bin power (2^-12) before the gate's 1e-6
      // rollup (ADVICE r3 flaky-floor guard); the direct DFT lands within one
      // quantum of the snapped FFT power
      val exp = math.floor((fr * fr + fi * fi) / (h * h) * 4096.0) / 4096.0
      assert(math.abs(got(k * w + x) - exp) <= 1.0 / 4096 + 1e-15, s"x=$x k=$k")
    }
    // impulse at row 0 of a column -> flat spectrum 1/h^2 exactly
    val imp = new Array[Double](w * h); imp(3) = 1.0
    val gi = Kernels.azSpectrum(arr(imp.clone), arr(new Array[Double](w * h)), w, h).toDoubleArray()
    for (k <- 0 until h) assert(gi(k * w + 3) == 1.0 / (h * h))
  }

  test("polRefinedLee: zero-variance span windows return 0.0 (the rstb quirk); noisy spans blend toward the template mean") {
    // flat (constant) channels: full-valid window -> edge path, span varY == 0 ->
    // computePixelValueUsingEdgeDetection returns 0.0 for EVERY channel (rstb
    // RefinedLee.java:386-388 — not meanZ); all quantized sums are zero
    val w = 8; val h = 8; val m = 3; val n = (w + 2 * m) * (h + 2 * m)
    def const(v: Double) = Array.fill(n)(v)
    val row = Kernels.polRefinedLee(
      arr(const(1.0)), arr(const(0.5)), arr(const(0.25)), arr(const(0.1)),
      arr(const(0.25)), arr(const(0.1)), arr(const(-0.5)), arr(const(0.3)),
      w, h, m, 16.0)
    assert(row.getLong(0) == (w * h).toLong)
    for (j <- 1 to 9) assert(row.getLong(j) == 0L, s"channel $j must be 0 on a zero-variance span")
    // checkerboard perturbation of HH -> span varY > 0 on every window -> the
    // template-mean MMSE path runs and the T11 rollup lands strictly between
    // the all-smoothing (b = 0) and passthrough (b = 1) extremes
    val hhI = Array.tabulate(n)(k => 1.0 + 0.25 * ((k % (w + 2 * m) + k / (w + 2 * m)) % 2))
    val row2 = Kernels.polRefinedLee(
      arr(hhI), arr(const(0.5)), arr(const(0.25)), arr(const(0.1)),
      arr(const(0.25)), arr(const(0.1)), arr(const(-0.5)), arr(const(0.3)),
      w, h, m, 16.0)
    assert(row2.getLong(0) == (w * h).toLong)
    assert(row2.getLong(1) > 0L, "noisy span must produce nonzero filtered T11 sums")
  }

  test("complexCross equals the dyadic-snapped per-pixel formula") {
    val n = 64
    val r = new scala.util.Random(55)
    def ch() = Array.fill(n)(if (r.nextDouble() < 0.05) ND else r.nextDouble() * 4 - 2)
    val (i1, q1, i2, q2) = (ch(), ch(), ch(), ch())
    val row = Kernels.complexCross(arr(i1.clone), arr(q1.clone), arr(i2.clone), arr(q2.clone))
    val cre = row.getArray(0).toDoubleArray(); val cim = row.getArray(1).toDoubleArray()
    val p1 = row.getArray(2).toDoubleArray(); val p2 = row.getArray(3).toDoubleArray()
    def qz(v: Double) = math.floor(v * 4096.0) / 4096.0
    for (k <- 0 until n) {
      val (a, b, c, d) = (qz(i1(k)), qz(q1(k)), qz(i2(k)), qz(q2(k)))
      if (isNd(a) || isNd(b) || isNd(c) || isNd(d)) assert(cre(k) == ND && cim(k) == ND)
      else {
        assert(cre(k) == a * c + b * d)
        assert(cim(k) == b * c - a * d)
        assert(p1(k) == a * a + b * b && p2(k) == c * c + d * d)
      }
    }
  }

  test("bisincRange matches the straight-loop normalized truncated-sinc oracle") {
    for (seed <- 11L to 13L) {
      val halo = tile(seed, (W + 2 * M) * (H + 2 * M))
      val hw = W + 2 * M
      val d = 0.3 - 0.05 * seed
      val got = Kernels.bisincRange(arr(halo), W, H, M, d).toDoubleArray()
      val wts = (0 until 5).map { j =>
        val t = d - (j - 2)
        if (t == 0.0) 1.0 else math.sin(math.Pi * t) / (math.Pi * t)
      }
      val sw = wts.foldLeft(0.0)(_ + _)
      for (y <- 0 until H; x <- 0 until W) {
        val taps = (0 until 5).map(k => halo((y + M) * hw + (x + M + k - 2)))
        if (taps.exists(isNd)) assert(got(y * W + x) == ND)
        else {
          var acc = 0.0
          for (k <- 0 until 5) acc += wts(k) * taps(k)
          assert(got(y * W + x) == acc / sw)
        }
      }
    }
  }

  test("coherence returns ND (not NaN/Inf) for zero-power windows") {
    val m = 1; val hw = W + 2 * m; val n = hw * (H + 2 * m)
    // all-zero signal: valid (non-ND) but zero power everywhere
    val zeros = Array.fill(n)(0.0)
    val out = Kernels.coherence(arr(zeros.clone), arr(zeros.clone),
      arr(zeros.clone), arr(zeros.clone), W, H, m).toDoubleArray()
    assert(out.forall(_ == ND), "zero-power window must be ND")
    // one-sided zero power (sp2 = 0) must also be ND, never +Infinity
    val ones = Array.fill(n)(1.0)
    val out2 = Kernels.coherence(arr(ones.clone), arr(zeros.clone),
      arr(ones.clone), arr(zeros.clone), W, H, m).toDoubleArray()
    assert(out2.forall(_ == ND), "one-sided zero power must be ND")
  }

  test("lutInterp survives degenerate LUTs (duplicate lines / pixel knots) without NaN") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def vec(line: Int, pixels: Array[Int], lut: Array[Double]): InternalRow =
      InternalRow(line, UnsafeArrayData.fromPrimitiveArray(pixels),
        UnsafeArrayData.fromPrimitiveArray(lut))
    // duplicate vector lines AND a duplicate pixel knot
    val vecs = new GenericArrayData(Array[Any](
      vec(0, Array(0, 8, 8, 24), Array(10.0, 20.0, 20.0, 40.0)),
      vec(0, Array(0, 8, 8, 24), Array(30.0, 60.0, 60.0, 80.0))))
    val out = Kernels.lutInterp(vecs, 1, 0, 0, W, H, 64).toDoubleArray()
    assert(out.forall(v => !v.isNaN && !v.isInfinite), "degenerate LUT must not produce NaN/Inf")
    // muY pinned to 0 on equal lines: output is the FIRST vector's surface
    assert(out(0) == 10.0)
  }

  test("noiseAzMap names the azlut knot invariant instead of reading past the knots") {
    val tw = 4; val th = 2; val lp = 4
    val v = arr(Array.fill(tw * th)(1.0)); val lutA = arr(Array.fill(tw * th)(0.5))
    // burst 2, tile row 1: lines 6..7 lie in burst index 1, so knots 0..2 are read
    assert(Kernels.noiseAzMap(v, lutA, arr(Array(1.0, 2.0, 3.0)), 2, 1, lp, tw, th)
      .numElements() == tw * th)
    val e = intercept[IllegalArgumentException] {
      Kernels.noiseAzMap(v, lutA, arr(Array(1.0, 2.0)), 2, 1, lp, tw, th)
    }
    assert(e.getMessage.contains(
      "azlut needs one more knot than the last burst index reached (1), so 3 knots; got 2"),
      e.getMessage)
  }

  test("windowed kernels name the halo layout invariant for a short channel") {
    val m = 2; val n = (W + 2 * m) * (H + 2 * m)
    val ok = arr(tile(41L, n)); val short = arr(tile(42L, n - 1))
    def named(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(s"halo length ${n - 1} != (w + 2m) x (h + 2m) = $n"), e.getMessage)
    }
    named(Kernels.c2Window(ok, ok, ok, short, W, H, m, Kernels.C2_ENTROPY))
    named(Kernels.coherence(ok, short, ok, ok, W, H, m))
    named(Kernels.darkKs(short, W, H, m, 0.5))
    named(Kernels.dpIndexTile(ok, ok, ok, ok, short, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0,
      W, H, m, Kernels.DP_RBI))
    named(Kernels.cfar(short, W, H, m, 1, 2.0))
    named(Kernels.bisincRange(short, W, H, m, 0.25))
    named(Kernels.warpGather(short, W, H, m, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    named(Kernels.mulogTile(short, W, H, m, 0, 0, 1, 1, 4.4, 0.5, 1, 1, 1, 0.5))
    // the 8 quad-pol channels share one length, which each windowed quad-pol
    // kernel checks against its layout
    val s = short
    named(Kernels.hAlphaTile(s, s, s, s, s, s, s, s, W, H, m))
    named(Kernels.wishartTile(s, s, s, s, s, s, s, s, arr(Array.empty[Double]), W, H, m))
    named(Kernels.polRefinedLee(s, s, s, s, s, s, s, s, W, H, m, 4.4))
    named(Kernels.quadScalar(s, s, s, s, s, s, s, s, W, H, m, Kernels.QS_ORIENT))
    val lens = (Seq.fill(7)(n) :+ (n - 1)).mkString(", ")
    for (run <- Seq[() => Any](() => Kernels.t3Sums(ok, ok, ok, ok, ok, ok, ok, short),
        () => Kernels.hAlphaTile(ok, ok, ok, ok, ok, ok, ok, short, W, H, m))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(s"quad-pol channel lengths $lens differ"), e.getMessage)
    }
  }

  test("zeroDopplerBisect reads the orbit in place: bit-identical to the copying solve") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.functions.col
    import graft.exprs.KernelExprs
    /** The solve as written over copied arrays (the copying form it replaced). */
    def copying(ts: Array[Double], xs: Array[Double], ys: Array[Double], zs: Array[Double],
        vxs: Array[Double], vys: Array[Double], vzs: Array[Double],
        tx: Double, ty: Double, h: Double): (Double, Double) = {
      val n = ts.length; val ts0 = ts(0); val dt = ts(1) - ts(0)
      val s = new Array[Double](6)
      def interp(t: Double): Unit = {
        var k = math.floor((t - ts0) / dt).toInt + 1
        if (k < 2) k = 2
        if (k > n - 2) k = n - 2
        val t1 = ts(k - 2); val t2 = ts(k - 1); val t3 = ts(k); val t4 = ts(k + 1)
        val w1 = ((t - t2) * (t - t3) * (t - t4)) / ((t1 - t2) * (t1 - t3) * (t1 - t4))
        val w2 = ((t - t1) * (t - t3) * (t - t4)) / ((t2 - t1) * (t2 - t3) * (t2 - t4))
        val w3 = ((t - t1) * (t - t2) * (t - t4)) / ((t3 - t1) * (t3 - t2) * (t3 - t4))
        val w4 = ((t - t1) * (t - t2) * (t - t3)) / ((t4 - t1) * (t4 - t2) * (t4 - t3))
        for ((a, j) <- Seq(xs, ys, zs, vxs, vys, vzs).zipWithIndex)
          s(j) = w1 * a(k - 2) + w2 * a(k - 1) + w3 * a(k) + w4 * a(k + 1)
      }
      var lo = ts(0); var hi = ts(n - 1)
      for (_ <- 0 until 40) {
        val mid = (lo + hi) / 2
        interp(mid)
        val f = s(3) * (s(0) - tx) + s(4) * (s(1) - ty) + s(5) * (s(2) - h)
        if (f < 0.0) lo = mid else hi = mid
      }
      val tzd = (lo + hi) / 2
      interp(tzd)
      (tzd, math.sqrt((s(0) - tx) * (s(0) - tx) + (s(1) - ty) * (s(1) - ty) + (s(2) - h) * (s(2) - h)))
    }
    val r = new scala.util.Random(31)
    val spark = TestSpark.spark
    import spark.implicits._
    // circular-ish orbits of 8..16 state vectors, targets inside and outside the span
    val cases = (0 until 60).map { _ =>
      val n = 8 + r.nextInt(9); val w = 1.0e-3 * (1 + r.nextDouble())
      val ts = Array.tabulate(n)(i => 5000.0 + 10.0 * i)
      val rad = 7.0e6 + r.nextDouble() * 1.0e4
      val xs = ts.map(t => rad * math.cos(w * t)); val ys = ts.map(t => rad * math.sin(w * t))
      val zs = ts.map(t => 1.0e3 * (t - 5000.0) + r.nextDouble())
      val vxs = ts.map(t => -rad * w * math.sin(w * t)); val vys = ts.map(t => rad * w * math.cos(w * t))
      val vzs = Array.fill(n)(1.0e2 + r.nextDouble())
      val i = r.nextInt(n)
      (ts, xs, ys, zs, vxs, vys, vzs,
        xs(i) * 0.9 + r.nextGaussian() * 1.0e5, ys(i) * 0.9 + r.nextGaussian() * 1.0e5, r.nextDouble() * 1.0e3)
    }
    def bits(t: (Double, Double)) = (java.lang.Double.doubleToRawLongBits(t._1),
      java.lang.Double.doubleToRawLongBits(t._2))
    val want = cases.map(c => bits(copying(c._1, c._2, c._3, c._4, c._5, c._6, c._7, c._8, c._9, c._10)))
    // direct calls, on both array layouts a kernel is handed
    for (layout <- Seq[Array[Double] => org.apache.spark.sql.catalyst.util.ArrayData](
        arr, a => new GenericArrayData(a.toArray[Any]))) {
      val got = cases.map { c =>
        val o = Kernels.zeroDopplerBisect(layout(c._1), layout(c._2), layout(c._3), layout(c._4),
          layout(c._5), layout(c._6), layout(c._7), c._8, c._9, c._10)
        bits((o.getDouble(0), o.getDouble(1)))
      }
      assert(got == want)
    }
    val df = cases.toDF("ts", "xs", "ys", "zs", "vxs", "vys", "vzs", "tx", "ty", "h")
      .select(KernelExprs.zeroDoppler(col("ts"), col("xs"), col("ys"), col("zs"), col("vxs"),
        col("vys"), col("vzs"), col("tx"), col("ty"), col("h")).as("zd"))
      .select(col("zd.tzd"), col("zd.slant"))
    TestSpark.onBothEvalPaths {
      assert(df.as[(Double, Double)].collect().toSeq.map(bits) == want)
    }
  }

  test("the SQL, Column and kernel forms of the quantization grid give the same Long") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.DecimalType
    import graft.exprs.KernelExprs
    val spark = TestSpark.spark
    import spark.implicits._
    // every scale the engine's grid sites pass, the Int DyadicV included
    val scales = Seq(1.0e2, 1.0e3, 1.0e4, 1.0e6, 1.0e7, 1.0e9, graft.ops.Raster.DyadicV.toDouble)
    val r = new scala.util.Random(23)
    // the DECIMAL literals of the analyzed plan: the dither text is one (Spark SQL
    // parses it as DECIMAL(18,18) and casts it to DOUBLE), the scale must not be
    def decimals(df: DataFrame): Seq[String] = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case l: Literal if l.dataType.isInstanceOf[DecimalType] => l.toString })
    assert(decimals(Seq(1.0).toDF("x").select(expr("x * 1000000.0"))) == Seq("1000000.0"),
      "a plain 1000000.0 is a DECIMAL literal")
    for (scale <- scales) {
      // negatives and random reals; exact grid points k / scale; the floor
      // boundaries (k - Dither) / scale; and each of those one ulp either side
      val ks = Seq.fill(60)((r.nextInt(2000001) - 1000000).toDouble)
      val points = Seq.fill(60)((r.nextDouble() - 0.5) * 200.0) ++ ks.map(_ / scale) ++
        ks.map(k => (k - 0.031415926535897934) / scale)
      val xs = points.flatMap(x => Seq(Math.nextDown(x), x, Math.nextUp(x))).filterNot(isNd)
      val expected = xs.map(x => Kernels.rollupQ(arr(Array(x)), scale).getLong(1))
      val df = xs.toDF("x").select(
        expr(Kernels.gridSql(s"x * ${Kernels.sqlDouble(scale)}")).as("base"),
        expr(Kernels.gridSql("x", scale)).as("scaled"),
        KernelExprs.grid(col("x"), scale).as("column"))
      assert(decimals(df).forall(_ == "0.031415926535897934"), s"scale $scale: ${df.queryExecution.analyzed}")
      TestSpark.onBothEvalPaths {
        val got = df.as[(Long, Long, Long)].collect().toSeq
        val diff = xs.zip(expected).zip(got).collect {
          case ((x, e), g) if g != ((e, e, e)) => s"x=$x: kernel $e, (base, scaled, column) $g"
        }
        assert(diff.isEmpty, s"scale $scale:\n" + diff.take(10).mkString("\n"))
      }
    }
  }

  test("the standard dither is written only in Kernels, the oracles and SparkEntry") {
    val root = java.nio.file.Paths.get(graft.gen.Fixtures.RepoDir, "src", "main", "scala")
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally w.close()
    }
    assert(files.exists(_.endsWith("graft/exprs/Kernels.scala")), s"no sources under $root")
    val allowed = (f: java.nio.file.Path) => {
      val name = f.getFileName.toString
      f.endsWith("graft/exprs/Kernels.scala") || name.contains("Oracle") || name == "SparkEntry.scala"
    }
    val offenders = files.filterNot(allowed).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("0.031415926535897934") => s"${root.relativize(f)}:${i + 1}"
      }
    }
    assert(offenders.isEmpty, "quantize through Kernels.gridSql / KernelExprs.grid:\n" +
      offenders.mkString("\n"))
  }

  test("the shared Cardano step matches the eigenvalues of the real 6x6 embedding") {
    import org.apache.commons.math3.linear.{Array2DRowRealMatrix, EigenDecomposition, MatrixUtils,
      QRDecomposition}
    // win(1..9) = (t11, t22, t33, t12r, t12i, t13r, t13i, t23r, t23i) of H = A + iB;
    // [[A, -B], [B, A]] has each eigenvalue of H twice
    def reference(w: Array[Double]): Array[Double] = {
      val a = Array(Array(w(1), w(4), w(6)), Array(w(4), w(2), w(8)), Array(w(6), w(8), w(3)))
      val b = Array(Array(0.0, w(5), w(7)), Array(-w(5), 0.0, w(9)), Array(-w(7), -w(9), 0.0))
      val emb = Array.tabulate(6, 6) { (i, j) =>
        val (ii, jj) = (i % 3, j % 3)
        if (i / 3 == j / 3) a(ii)(jj) else if (i / 3 == 1) b(ii)(jj) else -b(ii)(jj)
      }
      val e = new EigenDecomposition(new Array2DRowRealMatrix(emb)).getRealEigenvalues.sorted.reverse
      Array(e(0), e(2), e(4))
    }
    val r = new scala.util.Random(19)
    // H = D Q diag(l) Q^T D^* for a random rotation Q and a random diagonal
    // phase D = diag(exp(i th)): a complex Hermitian matrix with eigenvalues l
    def withEigenvalues(l: Array[Double]): Array[Double] = {
      val q = new QRDecomposition(MatrixUtils.createRealMatrix(Array.fill(3, 3)(r.nextGaussian()))).getQ
      val s = q.multiply(MatrixUtils.createRealDiagonalMatrix(l)).multiply(q.transpose)
      val th = Array.fill(3)(r.nextDouble() * 2 * math.Pi)
      def re(i: Int, j: Int) = s.getEntry(i, j) * math.cos(th(i) - th(j))
      def im(i: Int, j: Int) = s.getEntry(i, j) * math.sin(th(i) - th(j))
      Array(0.0, s.getEntry(0, 0), s.getEntry(1, 1), s.getEntry(2, 2),
        re(0, 1), im(0, 1), re(0, 2), im(0, 2), re(1, 2), im(1, 2))
    }
    val ev = new Array[Double](3)
    def check(kind: String, w: Array[Double], rel: Double): Unit = {
      val p1 = Kernels.eig3H(w, ev)
      val exp = reference(w)
      val scale = exp.map(math.abs).max
      for (k <- 0 until 3)
        assert(math.abs(ev(k) - exp(k)) <= rel * scale, s"$kind l${k + 1}: ${ev(k)} vs ${exp(k)}")
      assert(ev(0) >= ev(1) - rel * scale && ev(1) >= ev(2) - rel * scale, s"$kind order: ${ev.toSeq}")
      val offDiag = (4 to 9).exists(w(_) != 0.0)
      assert((p1 == 0.0) == !offDiag, s"$kind p1 = $p1")
    }
    for (_ <- 0 until 500) {
      val l = Array.fill(3)(r.nextDouble() * 10)
      check("random entries", Array(0.0) ++ Array.fill(3)(5 + 5 * r.nextDouble()) ++
        Array.fill(6)(r.nextGaussian()), 1e-9)
      check("random eigenvalues", withEigenvalues(l), 1e-9)
      check("diagonal", Array(0.0, l(0), l(1), l(2), 0, 0, 0, 0, 0, 0), 1e-9)
      check("diagonal, repeated", Array(0.0, l(0), l(1), l(0), 0, 0, 0, 0, 0, 0), 1e-9)
      check("triple", withEigenvalues(Array(l(0), l(0), l(0))), 1e-9)
      // at a double root the cubic's acos argument sits at +-1, where acos
      // turns a rounding error of the argument into its square root: the
      // simple eigenvalue is then good to about 1e-8 of the scale
      check("double, upper", withEigenvalues(Array(l(0), l(0), l(1))), 3e-8)
      check("double, lower", withEigenvalues(Array(l(0), l(1), l(1))), 3e-8)
    }
  }

  test("rpcaTile returns the valid-pixel count and one change count per channel, for any channel count") {
    val tau = 0.5
    for (k <- Seq(2, 5, 7)) {
      val chs = (0 until k).map(e => tile(100L + e, W * H))
      val row = Kernels.rpcaTile(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(chs.map(arr).toArray[Any]), tau)
      assert(row.numFields == k + 1, s"$k channels")
      val valid = (0 until W * H).count(i => chs.forall(c => !isNd(c(i))))
      assert(row.getLong(0) == valid.toLong, s"$k channels")
      for (e <- 1 to k) {
        val c = row.getLong(e)
        assert(c >= 0 && c <= valid, s"$k channels: count $e = $c of $valid")
      }
    }
  }

  test("pqEncode/pqDistTable match the straight-loop argmin/table oracles") {
    val r = new scala.util.Random(77)
    val cb = Array.fill(8 * 16 * 8)(r.nextDouble() * 2 - 1)
    val v = Array.fill(64)(r.nextDouble() * 2 - 1)
    val codes = Kernels.pqEncode(arr(v.clone), arr(cb.clone)).toLongArray()
    val dt = Kernels.pqDistTable(arr(v.clone), arr(cb.clone)).toDoubleArray()
    for (s <- 0 until 8) {
      var best = 0; var bd = Double.MaxValue
      for (c <- 0 until 16) {
        var d = 0.0
        for (j <- 0 until 8) { val t = v(s * 8 + j) - cb((s * 16 + c) * 8 + j); d += t * t }
        assert(dt(s * 16 + c) == d)
        if (d < bd) { bd = d; best = c }
      }
      assert(codes(s) == best)
    }
  }

  test("c2Window CPRVI matches the closed-form Kennaugh geodesic oracle") {
    val m = 1
    def ch(seed: Long) = tile(seed, (W + 2 * m) * (H + 2 * m))
    val (c11, c22, cr, ci) = (ch(21), ch(22), ch(23), ch(24))
    val got = Kernels.c2Window(arr(c11.clone), arr(c22.clone), arr(cr.clone), arr(ci.clone),
      W, H, m, Kernels.C2_CPRVI).toDoubleArray()
    val hw = W + 2 * m
    for (y <- 0 until H; x <- 0 until W) {
      var n = 0; var m11 = 0.0; var m22 = 0.0; var mr = 0.0; var mi = 0.0
      for (dy <- -m to m; dx <- -m to m) {
        val idx = (y + m + dy) * hw + (x + m + dx)
        if (!isNd(c11(idx))) { n += 1; m11 += c11(idx); m22 += c22(idx); mr += cr(idx); mi += ci(idx) }
      }
      val exp =
        if (n == 0 || m11 + m22 <= 0.0) ND
        else {
          val g0 = m11 + m22; val g1 = m11 - m22; val g2 = 2.0 * mr; val g3 = -2.0 * mi
          val num3 = 0.25 * (g0 * g0) + 0.3125 * (g1 * g1) + 0.3125 * (g2 * g2) + 0.25 * (g3 * g3)
          val gd = 2.0 * math.acos(0.5 * g0 / math.sqrt(num3)) / math.Pi
          val sc = (g0 - g3) / 2.0; val oc = (g0 + g3) / 2.0
          val mn = math.min(sc, oc); val mx = math.max(sc, oc)
          if (mn <= 0.0 || mx <= 0.0) ND
          else { val lam = 1.5 * gd; (1.0 - lam) * math.pow(mn / mx, 2.0 * lam) }
        }
      assert(got(y * W + x) == exp, s"($x,$y)")
    }
  }

  /** Independent set-based restatement of the two-stage IDAN (IDAN.java:209-467):
   * plain visited/frontier collections instead of the kernel's 49-bit bitboards,
   * same window bound and the same fixed 16 dilation rounds. */
  def idanOracle(halo: Array[Double], hw: Int, x: Int, y: Int, m: Int, enl: Double): Double = {
    val cp = halo((y + m) * hw + (x + m))
    if (isNd(cp)) return ND
    val sigmaV = 1.0 / math.sqrt(enl); val svs = sigmaV * sigmaV
    val t50 = 2.0 / 3.0 * sigmaV; val t95 = 2.0 * sigmaV
    def v(dy: Int, dx: Int): Double = halo((y + m + dy) * hw + (x + m + dx))
    val s9 = (for (dy <- -1 to 1; dx <- -1 to 1; w = v(dy, dx); if !isNd(w)) yield w).sorted
    if (s9.isEmpty) return cp
    val seed = s9(s9.length / 2)
    if (seed == 0.0) return cp
    def inB1(c: (Int, Int)): Boolean = {
      val w = v(c._1, c._2); !isNd(w) && math.abs((w - seed) / seed) < t50
    }
    def n8(s: Set[(Int, Int)]): Set[(Int, Int)] = s.flatMap { case (dy, dx) =>
      for (ey <- -1 to 1; ex <- -1 to 1; if (ey, ex) != (0, 0);
           ny = dy + ey; nx = dx + ex; if math.abs(ny) <= 3 && math.abs(nx) <= 3)
        yield (ny, nx)
    }
    val center = Set((0, 0))
    var an = (center ++ n8(center)).filter(inB1)
    for (_ <- 1 to 16) an = an ++ n8(an).filter(inB1)
    // stage-1 mean in k ascending order (exact for the dyadic fixture grid anyway)
    val anOrdered = an.toSeq.sortBy { case (dy, dx) => (dy + 3) * 7 + (dx + 3) }
    val newSeed = if (an.nonEmpty) anOrdered.map(c => v(c._1, c._2)).sum / an.size else seed
    val bg = (center ++ n8(center) ++ n8(an)) -- an
    val a2 = an ++ bg.filter(c => math.abs((v(c._1, c._2) - newSeed) / newSeed) < t95)
    if (a2.isEmpty) return cp
    val vs = a2.toSeq.sortBy { case (dy, dx) => (dy + 3) * 7 + (dx + 3) }.map(c => v(c._1, c._2))
    val n2 = vs.length
    val meanY = vs.sum / n2
    val s2b = vs.map(w => math.floor(0.031415926535897934 + w * w * 1.0e6).toLong).sum.toDouble / 1.0e6
    val varY = if (n2 > 1) (s2b - n2 * meanY * meanY) / (n2 - 1) else 0.0
    val b =
      if (varY == 0.0) 0.0
      else { val varX = (varY - meanY * meanY * svs) / (1.0 + svs); if (varX < 0.0) 0.0 else varX / varY }
    meanY + b * (cp - meanY)
  }

  test("IDAN two-stage region growing matches the set-based restatement; barriers block growth") {
    val m = 3; val enl = 16.0 // sigmaV 0.25 -> t50 = 1/6, t95 = 0.5
    val hw = W + 2 * m
    // random tiles: kernel == independent restatement, every pixel, bit-for-bit
    for (seed <- 1L to 5L) {
      val halo = tile(seed, hw * (H + 2 * m))
      val got = Kernels.speckle(arr(halo), Kernels.MODE_IDAN, W, H, m, enl, 2.0).toDoubleArray()
      for (y <- 0 until H; x <- 0 until W)
        assert(got(y * W + x) == idanOracle(halo, hw, x, y, m, enl), s"($x,$y) seed=$seed")
    }
    // connectivity: an out-of-band ring (Chebyshev distance 2, value 100) isolates the
    // in-band outer ring (distance 3, 1.0625): a non-connected in-band scan would
    // average it in; true region growing must not reach it -> AN = the 3x3 of 1.0
    val cx = 6; val cy = 5
    def planted(barrier: Double): Array[Double] = {
      val halo = Array.fill(hw * (H + 2 * m))(1.0)
      for (dy <- -3 to 3; dx <- -3 to 3) {
        val d = math.max(math.abs(dx), math.abs(dy))
        if (d == 2) halo((cy + m + dy) * hw + (cx + m + dx)) = barrier
        if (d == 3) halo((cy + m + dy) * hw + (cx + m + dx)) = 1.0625
      }
      halo
    }
    val blocked = Kernels.speckle(arr(planted(100.0)), Kernels.MODE_IDAN, W, H, m, enl, 2.0)
      .toDoubleArray()(cy * W + cx)
    assert(blocked == 1.0, "barrier ring must isolate the outer in-band island (AN = 3x3 of 1.0, var 0 -> mean)")
    // two-stage re-exam: a 1.3125 ring fails threshold50 (0.3125 > 1/6) but passes
    // threshold95 (< 0.5) against the stage-1 mean -> joins the AN in stage 2
    val reexam = Kernels.speckle(arr(planted(1.3125)), Kernels.MODE_IDAN, W, H, m, enl, 2.0)
      .toDoubleArray()(cy * W + cx)
    assert(reexam == idanOracle(planted(1.3125), hw, cx, cy, m, enl))
    assert(reexam > 1.0 && reexam < 1.3125, "stage-2 additions must pull the MMSE value off the 3x3 mean")
  }

  test("Refined Lee: vertical edge selects the uncontaminated 28-pixel template; no-data falls back to local statistics") {
    // halo columns < 6 are 1.0, >= 6 are 9.0; for center (6,5) the 7x7 window spans
    // tile cols 3..9 so sub-means give g0 = g1 = g3 = 8 (the FIRST max must win ->
    // direction 0) and the refinement picks d = 0 (x >= 3, the all-9.0 side):
    // meanY = 9, varY = 0 -> out = 9.0 exactly (RefinedLee.java:380-427 template path)
    val m = 3; val hw = W + 2 * m
    val halo = Array.tabulate(hw * (H + 2 * m)) { k => if (k % hw - m < 6) 1.0 else 9.0 }
    val out = Kernels.speckle(arr(halo), Kernels.MODE_REFINED_LEE, W, H, m, 4.0, 2.0).toDoubleArray()
    assert(out(5 * W + 6) == 9.0, "edge path must average only the bright-side template")
    // poke one no-data cell into a NOISY window (checkerboard quarter-steps keep
    // every sub-area variance > 0, so the estimated sigmaV > 0 and b < 1) ->
    // numSamples < 49 -> local-statistics path (RefinedLee.java:151-152): an MMSE
    // blend strictly between the window mean and the center value
    val halo2 = Array.tabulate(hw * (H + 2 * m)) { k =>
      val col = k % hw - m; val row = k / hw - m
      (if (col < 6) 1.0 else 9.0) + 0.25 * ((col + row + 600) % 2)
    }
    halo2((5 + m - 2) * hw + (6 + m - 2)) = Kernels.ND
    val out2 = Kernels.speckle(arr(halo2), Kernels.MODE_REFINED_LEE, W, H, m, 4.0, 2.0).toDoubleArray()
    val cp2 = halo2((5 + m) * hw + (6 + m))
    assert(out2(5 * W + 6) > 1.0 && out2(5 * W + 6) < cp2,
      "local-statistics fallback must blend strictly toward the window mean")
  }

  test("Lee Sigma cluster marking: a fired seed's >z98 3x3 cohort passes through raw") {
    // 3x2 bright block (6 cells of 50 on a 1.0 background): z98 = 1.0 (282 of 288
    // halo cells are 1.0, the clamped 98th-percentile index lands below the block),
    // the two block-middle cells see 6 > targetSize(5) bright 3x3 cells and FIRE;
    // the four block corners see only 4 — non-seeds, but inside a seed's 3x3, so
    // markClusterPixels (LeeSigma.java:585-604) passes them through raw too.
    val m = 3; val hw = W + 2 * m
    val halo = Array.fill(hw * (H + 2 * m))(1.0)
    val bright = for (dx <- 0 to 2; dy <- 0 to 1) yield (5 + dx, 4 + dy)
    bright.foreach { case (x, y) => halo((y + m) * hw + (x + m)) = 50.0 }
    val out = Kernels.speckle(arr(halo), Kernels.MODE_LEE_SIGMA, W, H, m, 1.0, 2.0).toDoubleArray()
    for ((x, y) <- bright) assert(out(y * W + x) == 50.0, s"($x,$y) must pass through raw")
  }

  test("in-house radix-2 FFT (the Goldstein butterfly sequence) matches commons-math") {
    import org.apache.commons.math3.transform.{DftNormalization, FastFourierTransformer, TransformType}
    val n = Kernels.GoldFft
    val r = new scala.util.Random(77)
    val re = Array.fill(n)(r.nextDouble() * 200 - 100)
    val im = Array.fill(n)(r.nextDouble() * 200 - 100)
    val br = Kernels.bitRev(n); val tw = Kernels.twiddles(n)
    val gr = re.clone; val gi = im.clone
    Kernels.fftOne(gr, gi, 0, n, br, tw, inverse = false)
    val t = new FastFourierTransformer(DftNormalization.STANDARD)
    val exp = t.transform(re.zip(im).map { case (a, b) =>
      new org.apache.commons.math3.complex.Complex(a, b) }, TransformType.FORWARD)
    var i = 0
    while (i < n) {
      assert(math.abs(gr(i) - exp(i).getReal) < 1e-8, s"re bin $i: ${gr(i)} vs ${exp(i).getReal}")
      assert(math.abs(gi(i) - exp(i).getImaginary) < 1e-8, s"im bin $i")
      i += 1
    }
    // unscaled inverse round-trip: ifft(fft(x)) = n * x (complexInverse(_, false))
    Kernels.fftOne(gr, gi, 0, n, br, tw, inverse = true)
    i = 0
    while (i < n) {
      assert(math.abs(gr(i) / n - re(i)) < 1e-9, s"roundtrip re $i")
      assert(math.abs(gi(i) / n - im(i)) < 1e-9, s"roundtrip im $i")
      i += 1
    }
  }

  test("goldsteinFull preserves a constant-phase interferogram (DC-only spectrum)") {
    // a noise-free constant-phase interferogram concentrates the whole spectrum
    // at DC; smoothing^alpha rescales but cannot move the phase, and the
    // triangular block blend of identical phases stays that phase
    val tilesX = 4; val tilesY = 2; val tw = 32; val th = 32
    val phi = 0.73
    val n = tilesX * tilesY * tw * th
    val cre = Array.fill(n)(40.0 * math.cos(phi))
    val cim = Array.fill(n)(40.0 * math.sin(phi))
    val row = Kernels.goldsteinFull(arr(cre), arr(cim), tilesX, tilesY, tw, th, 0.2, 1.0, 0.5)
    val nArr = row.getArray(0).toLongArray()
    val phArr = row.getArray(1).toLongArray()
    var t = 0
    while (t < tilesX * tilesY) {
      assert(nArr(t) == tw * th, s"tile $t: ${nArr(t)} valid")
      val meanPhase = phArr(t).toDouble / 1e6 / nArr(t)
      assert(math.abs(meanPhase - phi) < 1e-4, s"tile $t: mean phase $meanPhase vs $phi")
      t += 1
    }
  }
}
