package graft.exprs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}

/**
 * Compiled kernel loops for the hot per-tile operators. Each method is invoked from a
 * Catalyst StaticInvoke (KernelExprs) as ONE static call per row, so the plan stays
 * inside whole-stage codegen and the inner loop runs as JIT-compiled scalar code over
 * primitive arrays — replacing the interpreted higher-order-function path (the round-1
 * GC bottleneck: boxed structs per pixel).
 *
 * The arithmetic ORDER inside each kernel mirrors the previous Catalyst HOF
 * implementations exactly (window accumulation in (dy, dx) row-major order), so results
 * are bit-identical to the reference implementations they replace — property-tested in
 * KernelSpec.
 *
 * Reference semantics: SpeckleFilter.getNeighborValues/getMeanValue/getVarianceValue
 * (reference sar-op-sar-processing/.../SpeckleFilter.java:78-211), kernel formulas
 * Lee.java:168-187, GammaMap.java:166-199, Frost.java:45-189, LeeSigma.java,
 * RefinedLee.java; LUT bilinear Sentinel1Calibrator.java:412-477.
 */
object Kernels {

  val ND = -9999.0
  @inline private def isNd(v: Double): Boolean = java.lang.Double.isNaN(v) || v == ND

  // ------------------------------------------------------------ quantization grid

  /** The standard dither of every integer quantization grid: an irrational
   * offset that keeps dyadic values off the floor boundaries. */
  private[exprs] final val Dither = 0.031415926535897934

  /** x on the integer grid of quantum 1 / scale: floor(Dither + x * scale). Sums
   * of grid values are exact, so they do not depend on summation order. */
  @inline private def quant(x: Double, scale: Double): Long =
    math.floor(Dither + x * scale).toLong

  /** The 1e-6 grid, the quantum of the per-tile gate rollups. */
  @inline private def q6l(v: Double): Long = quant(v, 1.0e6)

  /** `d` as a SQL DOUBLE literal, in exponent notation: a plain `1000000.0`
   * parses as DECIMAL in Spark SQL (and DuckDB), which changes the plan. */
  def sqlDouble(d: Double): String = {
    val s = d.toString
    if (s.contains("E")) s else s + "E0"
  }

  /** SQL text of the grid over the SQL expression `e` that already carries its
   * scale: CAST(floor(Dither + e) AS BIGINT), for the engine's SQL stages that
   * quantize before an aggregate. */
  def gridSql(e: String): String = s"CAST(floor($Dither + $e) AS BIGINT)"

  /** SQL text of the grid of quantum 1 / scale over the SQL expression `e`:
   * the SQL form of quant(e, scale). */
  def gridSql(e: String, scale: Double): String = gridSql(s"($e) * ${sqlDouble(scale)}")

  /** SQL text of the 1e-6 grid over the SQL expression `e`. */
  def q6Sql(e: String): String = gridSql(e, 1.0e6)

  // ------------------------------------------------------------------ speckle filters

  val MODE_BOXCAR = 0
  val MODE_MEDIAN = 1
  val MODE_LEE = 2
  val MODE_GAMMA_MAP = 3
  val MODE_FROST = 4
  val MODE_LEE_SIGMA = 5
  val MODE_REFINED_LEE = 6
  val MODE_IDAN = 7
  val MODE_MEAN_WINDOW = 8 // windowed mean exposed for flood detection etc.
  val MODE_SPECKLE_DIV = 9 // windowed var/mean^2 (Speckle-Divergence texture)
  val MODE_GABOR = 10 // Gabor texture convolution (GaborFilterOp.java:39)
  val MODE_MULOG = 11 // log-domain boxcar + exp back (MuLog.java:18 pipeline shape)

  /** Gabor kernel parameters (one orientation theta = 0; the weight table is
   * inlined as literals into the DuckDB oracle, so both engines share the exact
   * same doubles). */
  val GaborSigma = 1.5
  val GaborFreq = 0.25
  def gaborW(dy: Int, dx: Int): Double =
    math.exp(-(dx * dx + dy * dy) / (2.0 * GaborSigma * GaborSigma)) *
      math.cos(2.0 * math.Pi * GaborFreq * dx)

  def modeId(name: String): Int = name match {
    case "boxcar" => MODE_BOXCAR
    case "median" => MODE_MEDIAN
    case "lee" => MODE_LEE
    case "gammamap" => MODE_GAMMA_MAP
    case "frost" => MODE_FROST
    case "leesigma" => MODE_LEE_SIGMA
    case "refinedlee" => MODE_REFINED_LEE
    case "idan" => MODE_IDAN
    case "mean" => MODE_MEAN_WINDOW
    case "specklediv" => MODE_SPECKLE_DIV
    case "gabor" => MODE_GABOR
    case "mulog" => MODE_MULOG
    case other => throw new IllegalArgumentException(s"unknown speckle mode: $other")
  }

  /**
   * Windowed speckle filter over a (w+2m)x(h+2m) halo array -> w*h output array.
   * Window = (2m+1)^2 centered; out-of-halo never happens by construction.
   * enl: equivalent number of looks (cu = 1/sqrt(enl)); dampingFactor: Frost only.
   */
  def speckle(halo: ArrayData, mode: Int, w: Int, h: Int, m: Int,
      enl: Double, damping: Double): ArrayData = {
    val hw = w + 2 * m
    val hh = h + 2 * m
    val a = haloChannel(halo, w, h, m)
    val out = new Array[Double](w * h)
    val win = new Array[Double]((2 * m + 1) * (2 * m + 1))
    val cu = 1.0 / math.sqrt(enl)
    val cu2 = cu * cu
    val cmax = math.sqrt(2.0) * cu
    // Lee Sigma only: the 98th-percentile point-target threshold over the tile's
    // valid halo cells (computeZ98Values, LeeSigma.java:459-488; we exclude the
    // no-data sentinel from the sort — the reference sorts it in, a quirk that only
    // matters at image borders — and use its clamped (int)(n*0.98)-1 index).
    val z98: Double =
      if (mode != MODE_LEE_SIGMA) 0.0
      else {
        val valid = new Array[Double](a.length)
        var nv0 = 0
        var i = 0
        while (i < a.length) { if (!isNd(a(i))) { valid(nv0) = a(i); nv0 += 1 }; i += 1 }
        if (nv0 == 0) Double.PositiveInfinity
        else {
          java.util.Arrays.sort(valid, 0, nv0)
          valid(math.max(0, math.min(nv0 - 1, (nv0 * 0.98).toInt - 1)))
        }
      }
    // Lee Sigma only: tile-local point-target CLUSTER MARKING (markClusterPixels,
    // LeeSigma.java:585-604): a SEED is a tile pixel with v > z98 and more than
    // targetSize(=5) bright valid cells in its halo-extended 3x3; every tile pixel
    // > z98 within a seed's 3x3 passes through raw. DEVIATION (documented): the
    // reference marks in raster-scan order and a marked pixel SKIPS its own seed
    // test (checkPointTarget fast path, LeeSigma.java:424-427), so cells whose only
    // seed was itself suppressed stay unmarked there; this declarative closure marks
    // them too — order-independent and parallel-safe. Marks stay tile-local in both
    // engines (the reference's isPointTarget spans its processing tile, :409).
    val leeSigmaMarked: Array[Boolean] =
      if (mode != MODE_LEE_SIGMA) null
      else {
        val fired = new Array[Boolean](w * h)
        var yy = 0
        while (yy < h) {
          var xx = 0
          while (xx < w) {
            val c = a((yy + m) * hw + (xx + m))
            if (!isNd(c) && c > z98) {
              var cl = 0
              var dy2 = -1
              while (dy2 <= 1) {
                var dx2 = -1
                while (dx2 <= 1) {
                  val v = a((yy + m + dy2) * hw + (xx + m + dx2))
                  if (!isNd(v) && v > z98) cl += 1
                  dx2 += 1
                }
                dy2 += 1
              }
              if (cl > 5) fired(yy * w + xx) = true
            }
            xx += 1
          }
          yy += 1
        }
        val mk = new Array[Boolean](w * h)
        var y2 = 0
        while (y2 < h) {
          var x2 = 0
          while (x2 < w) {
            val c = a((y2 + m) * hw + (x2 + m))
            if (!isNd(c) && c > z98) {
              var hit = false
              var dy2 = -1
              while (dy2 <= 1 && !hit) {
                var dx2 = -1
                while (dx2 <= 1 && !hit) {
                  val sy = y2 + dy2; val sx = x2 + dx2
                  if (sy >= 0 && sy < h && sx >= 0 && sx < w && fired(sy * w + sx)) hit = true
                  dx2 += 1
                }
                dy2 += 1
              }
              mk(y2 * w + x2) = hit
            }
            x2 += 1
          }
          y2 += 1
        }
        mk
      }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // gather window stats in (dy, dx) row-major order (matches the HOF reference)
        var n = 0; var s1 = 0.0; var s2 = 0.0
        val cp = a((y + m) * hw + (x + m))
        var nv = 0
        var dy = -m
        while (dy <= m) {
          var dx = -m
          while (dx <= m) {
            val v = a((y + m + dy) * hw + (x + m + dx))
            if (!isNd(v)) {
              n += 1; s1 += v; s2 += v * v
              win(nv) = v; nv += 1
            }
            dx += 1
          }
          dy += 1
        }
        out(y * w + x) = mode match {
          case MODE_BOXCAR | MODE_MEAN_WINDOW =>
            if (n <= 0) ND else s1 / n
          case MODE_SPECKLE_DIV =>
            // Speckle-Divergence (SpeckleDivergenceOp): var / mean^2
            if (n < 2) ND
            else if (s1 <= 0.0) ND
            else ((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) / ((s1 / n) * (s1 / n))
          case MODE_MEDIAN =>
            if (n <= 0) ND
            else { java.util.Arrays.sort(win, 0, nv); win(nv / 2) }
          case MODE_LEE =>
            if (n <= 0) ND
            else {
              val mean = s1 / n
              val vr = if (n > 1) (s2 - n * mean * mean) / (n - 1) else 0.0
              if (mean <= 0.0 || vr <= 0.0) mean
              else {
                val ci = math.sqrt(vr) / mean
                if (ci < cu) mean
                else cp * (1.0 - cu2 / (ci * ci)) + mean * (cu2 / (ci * ci))
              }
            }
          case MODE_GAMMA_MAP =>
            if (n <= 0) ND
            else {
              val mean = s1 / n
              val vr = if (n > 1) (s2 - n * mean * mean) / (n - 1) else 0.0
              if (mean <= 0.0 || vr <= 0.0) mean
              else {
                val ci = math.sqrt(vr) / mean
                if (ci <= cu) mean
                else if (ci < cmax) {
                  val alpha = (1.0 + cu2) / (ci * ci - cu2)
                  val dd = mean * mean * (alpha - enl - 1.0) * (alpha - enl - 1.0) +
                    4.0 * alpha * enl * mean * cp
                  if (dd < 0.0) cp
                  else ((alpha - enl - 1.0) * mean + math.sqrt(dd)) / (2.0 * alpha)
                } else cp
              }
            }
          case MODE_FROST =>
            // Frost.java:124-189: exponentially damped kernel weighted by local
            // coefficient of variation: k = exp(-damping * (vr/m^2) * dist).
            if (n <= 0) ND
            else if (isNd(cp)) ND
            else {
              val mean = s1 / n
              val vr = if (n > 1) (s2 - n * mean * mean) / (n - 1) else 0.0
              if (mean <= 0.0 || vr <= 0.0) mean
              else {
                val b = damping * (vr / (mean * mean))
                var num = 0.0; var den = 0.0
                var dy = -m
                while (dy <= m) {
                  var dx = -m
                  while (dx <= m) {
                    val v = a((y + m + dy) * hw + (x + m + dx))
                    if (!isNd(v)) {
                      // Chebyshev ring distance (getFrostMask, Frost.java:153-163)
                      val dist = math.max(math.abs(dx), math.abs(dy))
                      val k = math.exp(-b * dist)
                      num += v * k; den += k
                    }
                    dx += 1
                  }
                  dy += 1
                }
                if (den == 0.0) mean else num / den
              }
            }
          case MODE_LEE_SIGMA =>
            leeSigmaPixel(a, hw, x, y, m, cp, enl, z98, leeSigmaMarked(y * w + x))
          case MODE_REFINED_LEE =>
            refinedLeePixel(a, hw, x, y, m, cp, enl)
          case MODE_IDAN =>
            idanPixel(a, hw, hh, x, y, m, cp, enl)
          case MODE_GABOR =>
            // unnormalized convolution with the Gabor weight table; center-invalid
            // pixels stay ND, invalid neighbors contribute 0 (mirrored in SQL)
            if (isNd(cp)) ND
            else {
              var acc = 0.0
              var dy = -m
              while (dy <= m) {
                var dx = -m
                while (dx <= m) {
                  val v = a((y + m + dy) * hw + (x + m + dx))
                  // per-term dyadic snap -> the convolution sum is exact/order-free
                  if (!isNd(v)) acc += math.floor(gaborW(dy, dx) * v * 1048576.0) / 1048576.0
                  dx += 1
                }
                dy += 1
              }
              acc
            }
          case MODE_MULOG =>
            // log-domain boxcar: out = exp(mean(ln v)) over valid positive
            // neighbors (the MuLog pipeline shape: transform, denoise, transform
            // back; the deep-prior denoiser is stubbed by the boxcar)
            if (isNd(cp)) ND
            else {
              var n = 0; var s1 = 0.0
              var dy = -m
              while (dy <= m) {
                var dx = -m
                while (dx <= m) {
                  val v = a((y + m + dy) * hw + (x + m + dx))
                  // ln snapped to the 2^-20 dyadic grid so the window sum is EXACT
                  // (order-free) and the DuckDB oracle reproduces it bit-for-bit
                  if (!isNd(v) && v > 0.0) {
                    n += 1; s1 += math.floor(math.log(v) * 1048576.0) / 1048576.0
                  }
                  dx += 1
                }
                dy += 1
              }
              if (n == 0) ND else math.exp(s1 / n)
            }
        }
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sigma-0.9 intensity table, indexed by numLooks 1..4 (LeeSigma.java:134-233
   * setSigmaRange, sigma == 9 rows): (I1, I2, IEtaVP). */
  private val LeeSigma09: Array[(Double, Double, Double)] = Array(
    (0.084, 3.941, 0.8191), // 1 look
    (0.221, 2.744, 0.5699), // 2 looks
    (0.313, 2.320, 0.4624), // 3 looks
    (0.378, 2.094, 0.3991)) // 4 looks

  /** MMSE estimate (computeMMSEEstimate/computeMMSEWeight, LeeSigma.java:629-680,
   * two-moment variance form): b = max(0, (varY - mean^2 eta2)/(1+eta2))/varY. */
  @inline private def leeSigmaMmse(cp: Double, mean: Double, varY: Double,
      eta2: Double): Double = {
    if (varY <= 0.0) return mean
    val b = mmseVarX(varY, mean, eta2) / varY
    (1.0 - b) * mean + b * cp
  }

  /**
   * Lee Sigma at the reference DEFAULTS (SpeckleFilterOp.java:61-66 — sigma 0.9,
   * 7x7 filter window = margin 3, 3x3 target window, numLooks from `enl` clamped to
   * the 1..4 table rows of LeeSigma.java:134-233; etaV = 1/sqrt(numLooks) :103):
   *  1. point-target exclusion with CLUSTER MARKING (checkPointTarget +
   *     markClusterPixels, LeeSigma.java:557-604): seeds (center > z98 with >
   *     targetSize(=5) bright 3x3 cells) pass through raw, and so does every
   *     > z98 tile pixel within a seed's 3x3 — the `marked` map is built by the
   *     tile-level pre-pass in speckle() (declarative closure; the remaining
   *     scan-order suppression difference is documented there).
   *  2. prior = MMSE over the 3x3 target window with etaV^2 (computeSigmaRange :606).
   *  3. sigma range [prior*I1, prior*I2]; MMSE with etaVP^2 over the in-range valid
   *     pixels of the 7x7 window; empty selection -> passthrough (:613-628).
   *  DEVIATION (documented): image-border pixels use the same path over the valid
   *  halo cells (the reference's filterPixelWithAllValidPixels edge branch :429-436
   *  applies only within halfSize of the image border).
   */
  private def leeSigmaPixel(a: Array[Double], hw: Int, x: Int, y: Int, m: Int,
      cp: Double, enl: Double, z98: Double, marked: Boolean): Double = {
    if (isNd(cp)) return ND
    if (marked) return cp // point-target cluster passthrough (targetSize = 5, :67)
    val looks = math.max(1, math.min(4, math.round(enl).toInt))
    val (i1f, i2f, etaVP) = LeeSigma09(looks - 1)
    val etaV2 = 1.0 / looks
    // 3x3 target window stats
    var tn = 0; var ts1 = 0.0; var ts2 = 0.0
    var dy = -1
    while (dy <= 1) {
      var dx = -1
      while (dx <= 1) {
        val v = a((y + m + dy) * hw + (x + m + dx))
        if (!isNd(v)) {
          tn += 1; ts1 += v; ts2 += v * v
        }
        dx += 1
      }
      dy += 1
    }
    if (tn <= 0) return ND
    val tMean = ts1 / tn
    val tVar = if (tn > 1) (ts2 - tn * tMean * tMean) / (tn - 1) else 0.0
    val prior = leeSigmaMmse(cp, tMean, tVar, etaV2)
    val lo = i1f * prior
    val hi = i2f * prior
    // sigma-range-restricted MMSE over the full filter window
    var rn = 0; var rs1 = 0.0; var rs2 = 0.0
    dy = -m
    while (dy <= m) {
      var dx = -m
      while (dx <= m) {
        val v = a((y + m + dy) * hw + (x + m + dx))
        if (!isNd(v) && v >= lo && v <= hi) { rn += 1; rs1 += v; rs2 += v * v }
        dx += 1
      }
      dy += 1
    }
    if (rn <= 0) return cp
    val rm = rs1 / rn
    val rv = if (rn > 1) (rs2 - rn * rm * rm) / (rn - 1) else 0.0
    leeSigmaMmse(cp, rm, rv, etaVP * etaVP)
  }

  /** Per-term dyadically-quantized squared deviation (the diff-form variance of
   * SpeckleFilter.getVarianceValue, snapped so Long sums are exact/order-free in
   * both engines — documented deviation: 1e-6 term quantization). */
  @inline private def qdev(v: Double, mean: Double): Long = q6l((v - mean) * (v - mean))

  // ------------------------------------------------------ Refined Lee steps
  // Shared by the scalar filter (refinedLeePixel, RefinedLee.java) and the
  // polarimetric one (polRefinedLee, rstb RefinedLee.java). A 7x7 window is read
  // as a(base + wy * stride + wx) for wy, wx in 0..6.

  /** Raw means of the 9 overlapping stride-2 3x3 sub-areas of the window
   * (computeSubAreaMeans), indexed sj * 3 + si, and the count of valid cells of
   * each. The means take every cell, no-data included. */
  private def rlSubMeans(a: Array[Double], base: Int, stride: Int,
      sub: Array[Double], subValid: Array[Int]): Unit = {
    var sj = 0
    while (sj < 3) {
      var si = 0
      while (si < 3) {
        var s = 0.0; var k9 = 0
        var yy = 2 * sj
        while (yy < 2 * sj + 3) {
          var xx = 2 * si
          while (xx < 2 * si + 3) {
            val v = a(base + yy * stride + xx)
            s += v
            if (!isNd(v)) k9 += 1
            xx += 1
          }
          yy += 1
        }
        sub(sj * 3 + si) = s / 9.0
        subValid(sj * 3 + si) = k9
        si += 1
      }
      sj += 1
    }
  }

  /** Whether window cell (wy, wx) is in the 28-pixel non-edge template of edge
   * direction d in 0..7 (getNonEdgeAreaPixelValues). */
  private def inTmpl(d: Int, wy: Int, wx: Int): Boolean = d match {
    case 0 => wx >= 3
    case 1 => wx >= wy
    case 2 => wy <= 3
    case 3 => wx < 7 - wy
    case 4 => wx <= 3
    case 5 => wx < wy + 1
    case 6 => wy >= 3
    case 7 => wx >= 6 - wy
  }

  /** Mean of the window over the template of direction d. */
  private def tmplMean(a: Array[Double], base: Int, stride: Int, d: Int): Double = {
    var s28 = 0.0
    var wy = 0
    while (wy < 7) {
      var wx = 0
      while (wx < 7) { if (inTmpl(d, wy, wx)) s28 += a(base + wy * stride + wx); wx += 1 }
      wy += 1
    }
    s28 / 28.0
  }

  /** (n - 1) variance of the window over the template of direction d about its
   * mean, from per-term quantized squared deviations (qdev). */
  private def tmplVar(a: Array[Double], base: Int, stride: Int, d: Int, meanY: Double): Double = {
    var q28 = 0L
    var wy = 0
    while (wy < 7) {
      var wx = 0
      while (wx < 7) { if (inTmpl(d, wy, wx)) q28 += qdev(a(base + wy * stride + wx), meanY); wx += 1 }
      wy += 1
    }
    q28.toDouble / 1.0e6 / 27.0
  }

  /** The signal variance of the Lee MMSE estimate, clamped at 0:
   * max(0, (varY - meanY^2 sigma2) / (1 + sigma2)) for noise variance sigma2
   * (LeeSigma.java computeMMSEWeight, RefinedLee.java
   * computePixelValueUsingLocalStatistics). */
  @inline private def mmseVarX(varY: Double, meanY: Double, sigma2: Double): Double = {
    val varX = (varY - meanY * meanY * sigma2) / (1.0 + sigma2)
    if (varX < 0.0) 0.0 else varX
  }

  /**
   * Refined Lee (reference RefinedLee.java:147-551), the FULL reference algorithm:
   *  - 9 OVERLAPPING 3x3 sub-areas at offsets (2j, 2i) in the 7x7 window, raw means
   *    over all 9 cells (computeSubAreaMeans:340-362 — no validity check there; the
   *    edge path only runs on fully-valid windows).
   *  - noise variance ESTIMATED from the data (getLocalNoiseVarianceValue:383-426):
   *    normalized sample variance var/mean^2 of each COMPLETE (9-valid) sub-area,
   *    ascending sort, mean of the <= 5 smallest. No ENL parameter.
   *  - any no-data in the window (numSamples < 49) -> LOCAL-STATISTICS path
   *    (computePixelValueUsingLocalStatistics:178-208): MMSE over all valid window
   *    pixels with the estimated noise variance.
   *  - full window -> EDGE path: 4 gradients over the sub-means
   *    (computeGradients:366-372, first max wins), direction refined to one of 8 by
   *    center-adjacency (computePixelValueUsingEdgeDetection:380-427), then MMSE
   *    over the reference's exact 28-pixel directional template
   *    (getNonEdgeAreaPixelValues:435-525).
   *  - out = meanY + b (cp - meanY), b = max(0, (varY - meanY^2 sigmaV)/(1+sigmaV))
   *    / varY; varY == 0 -> meanY. Variances use the (n-1) diff form with per-term
   *    dyadic quantization (qdev) so both engines sum exactly.
   * `enl` is accepted but unused — the reference estimates noise from the data.
   */
  private def refinedLeePixel(a: Array[Double], hw: Int, x: Int, y: Int, m: Int,
      cp: Double, enl: Double): Double = {
    if (isNd(cp)) return ND
    // window values in (wy, wx) 0..6 coords; the 7x7 template layout requires m = 3
    val wv = new Array[Double](49)
    var cnt = 0; var sumV = 0.0
    var wy = 0
    while (wy < 7) {
      var wx = 0
      while (wx < 7) {
        val v = a((y + m + wy - 3) * hw + (x + m + wx - 3))
        wv(wy * 7 + wx) = v
        if (!isNd(v)) { cnt += 1; sumV += v }
        wx += 1
      }
      wy += 1
    }
    val sub = new Array[Double](9)
    val subValid = new Array[Int](9)
    rlSubMeans(wv, 0, 7, sub, subValid)
    // estimated noise variance: <=5 smallest normalized variances of complete areas
    val nvs = new Array[Double](9)
    var nNv = 0
    var k = 0
    while (k < 9) {
      if (subValid(k) == 9) {
        val mSub = sub(k)
        if (mSub > 0) {
          var qs = 0L
          val j3 = k / 3; val i3 = k % 3
          var yy = 2 * j3
          while (yy < 2 * j3 + 3) {
            var xx = 2 * i3
            while (xx < 2 * i3 + 3) { qs += qdev(wv(yy * 7 + xx), mSub); xx += 1 }
            yy += 1
          }
          nvs(nNv) = (qs.toDouble / 1.0e6 / 8.0) / (mSub * mSub)
        } else nvs(nNv) = 0.0
        nNv += 1
      }
      k += 1
    }
    val sigmaV =
      if (nNv < 1) 0.0
      else {
        java.util.Arrays.sort(nvs, 0, nNv)
        val navg = math.min(5, nNv)
        var qs = 0L
        var t = 0
        while (t < navg) { qs += q6l(nvs(t)); t += 1 }
        (qs.toDouble / 1.0e6) / navg
      }
    if (cnt < 49) {
      // local-statistics fallback
      if (cnt <= 0) return ND
      val meanY = sumV / cnt
      var qv = 0L
      k = 0
      while (k < 49) { val v = wv(k); if (!isNd(v)) qv += qdev(v, meanY); k += 1 }
      val varY = if (cnt > 1) qv.toDouble / 1.0e6 / (cnt - 1) else 0.0
      if (varY == 0.0) return meanY
      return meanY + mmseVarX(varY, meanY, sigmaV) / varY * (cp - meanY)
    }
    // edge path: gradients (first max wins), direction refined by center adjacency
    val g0 = math.abs(sub(3) - sub(5))
    val g1 = math.abs(sub(2) - sub(6))
    val g2 = math.abs(sub(1) - sub(7))
    val g3 = math.abs(sub(0) - sub(8))
    val dir =
      if (g0 >= g1 && g0 >= g2 && g0 >= g3) 0
      else if (g1 >= g2 && g1 >= g3) 1
      else if (g2 >= g3) 2
      else 3
    val d = dir match {
      case 0 => if (math.abs(sub(3) - sub(4)) < math.abs(sub(4) - sub(5))) 4 else 0
      case 1 => if (math.abs(sub(2) - sub(4)) < math.abs(sub(4) - sub(6))) 1 else 5
      case 2 => if (math.abs(sub(1) - sub(4)) < math.abs(sub(4) - sub(7))) 2 else 6
      case 3 => if (math.abs(sub(0) - sub(4)) < math.abs(sub(4) - sub(8))) 3 else 7
    }
    val meanY = tmplMean(wv, 0, 7, d)
    val varY = tmplVar(wv, 0, 7, d, meanY)
    if (varY == 0.0) return meanY
    meanY + mmseVarX(varY, meanY, sigmaV) / varY * (cp - meanY)
  }

  // 49-bit (7x7) bitboard layout for IDAN region growing: bit k = (dy+3)*7 + (dx+3)
  private val IdanMask49: Long = (1L << 49) - 1
  private val IdanColGt0: Long = (0 until 49).filter(_ % 7 > 0).map(1L << _).sum
  private val IdanColLt6: Long = (0 until 49).filter(_ % 7 < 6).map(1L << _).sum
  private val IdanCenterBit: Long = 1L << 24
  private val IdanRounds = 16

  /** One 8-connected dilation of a 49-bit window mask (bitboard shifts with column
   * guards so col 0/6 cells do not wrap into the neighboring row). */
  private def idanDil8(a: Long): Long =
    (((a & IdanColLt6) << 1) | ((a & IdanColGt0) >> 1) |
      (a << 7) | (a >> 7) |
      ((a & IdanColGt0) >> 8) | ((a & IdanColLt6) >> 6) |
      ((a & IdanColGt0) << 6) | ((a & IdanColLt6) << 8)) & IdanMask49

  private val IdanSeedMask: Long = IdanCenterBit | idanDil8(IdanCenterBit)

  /**
   * IDAN (Intensity-Driven Adaptive Neighborhood, reference IDAN.java:209-467): the
   * reference's TWO-STAGE region growing:
   *  - seed = median of the valid 3x3 around the center (getInitialSeed,
   *    IDAN.java:209-240: ascending sort, element [k/2]); seed no-data or 0 ->
   *    single-pixel AN, filtered value = center (IDAN.java:261-264).
   *  - stage 1: 8-connected growth from the center through pixels with
   *    |(v - seed)/seed| < threshold50 = (2/3)*sigmaV (IDAN.java:268,324-333),
   *    sigmaV = 1/sqrt(numLooks) (IDAN.java:62); the frontier starts at the center
   *    even when the center itself is rejected (IDAN.java:330-336).
   *  - seed update: mean over the stage-1 AN, else keep (IDAN.java:272-281).
   *  - stage 2: visited-but-rejected pixels re-examined against the new seed with
   *    threshold95 = 2*sigmaV (reExamBackgroundPixels, IDAN.java:283-289,396-417 —
   *    NO validity re-check there, mirrored: a no-data sentinel always fails the
   *    relative band test for a positive seed).
   *  - filtered = meanY + b*(cp - meanY), b = MMSE weight over the final AN with
   *    sample (n-1) variance (SpeckleFilter.computeMMSEWeight:418-431).
   * Deviations (identical in the DuckDB twin, documented): growth is bounded to the
   * 7x7 window (the reference bounds it by tile+margin with an anSize=50 pixel cap a
   * 49-cell window cannot reach) and runs a FIXED 16 dilation rounds instead of
   * iterating to frontier exhaustion (16 rounds reach any in-window 8-connected path
   * of length <= 17). Reachability is a 49-bit mask with bitboard dilation and the
   * second moment is dyadically quantized (the leeEnl idiom) — every arithmetic step
   * is either integer-exact or the identical IEEE expression tree in both engines.
   */
  private def idanPixel(a: Array[Double], hw: Int, hh: Int, x: Int, y: Int, m: Int,
      cp: Double, enl: Double): Double = {
    if (isNd(cp)) return ND
    // the 49-bit layout requires the 7x7 window (margin 3) — the single call site
    val sigmaV = 1.0 / math.sqrt(enl)
    val svs = sigmaV * sigmaV
    val t50 = 2.0 / 3.0 * sigmaV
    val t95 = 2.0 * sigmaV
    // window values in bit order k = (dy+3)*7 + (dx+3)
    val w = new Array[Double](49)
    var dy = -3
    while (dy <= 3) {
      var dx = -3
      while (dx <= 3) {
        w((dy + 3) * 7 + (dx + 3)) = a((y + m + dy) * hw + (x + m + dx))
        dx += 1
      }
      dy += 1
    }
    // seed: ascending-sorted valid 3x3, element [nv/2]
    val s9 = new Array[Double](9)
    var nv = 0
    var j = 0
    while (j < 9) {
      val v = w((j / 3 + 2) * 7 + (j % 3 + 2))
      if (!isNd(v)) { s9(nv) = v; nv += 1 }
      j += 1
    }
    if (nv == 0) return cp
    java.util.Arrays.sort(s9, 0, nv)
    val seed = s9(nv / 2)
    if (seed == 0.0) return cp
    // stage-1 band mask (valid + threshold50 around the 3x3-median seed)
    var b1 = 0L
    var k = 0
    while (k < 49) {
      val v = w(k)
      if (!isNd(v) && math.abs((v - seed) / seed) < t50) b1 |= 1L << k
      k += 1
    }
    // stage 1: fixed-round bitboard dilation from the center
    var an = IdanSeedMask & b1
    var r = 0
    while (r < IdanRounds) { an = (an | (idanDil8(an) & b1)) & IdanMask49; r += 1 }
    // updated seed = stage-1 AN mean (exact: values are dyadic with few bits)
    var n1 = 0; var s1a = 0.0
    k = 0
    while (k < 49) { if (((an >> k) & 1L) == 1L) { n1 += 1; s1a += w(k) }; k += 1 }
    val newSeed = if (n1 > 0) s1a / n1 else seed
    // stage 2: visited-but-rejected cells re-examined at threshold95
    val bg = ((IdanSeedMask | idanDil8(an)) & IdanMask49) & ~an
    var a2 = an
    k = 0
    while (k < 49) {
      if (((bg >> k) & 1L) == 1L && math.abs((w(k) - newSeed) / newSeed) < t95)
        a2 |= 1L << k
      k += 1
    }
    // MMSE over the final AN
    var n2 = 0; var s1b = 0.0; var s2q = 0L
    k = 0
    while (k < 49) {
      if (((a2 >> k) & 1L) == 1L) {
        val v = w(k)
        n2 += 1; s1b += v
        s2q += q6l(v * v)
      }
      k += 1
    }
    if (n2 <= 0) return cp
    val meanY = s1b / n2
    val s2b = s2q.toDouble / 1.0e6
    val varY = if (n2 > 1) (s2b - n2 * meanY * meanY) / (n2 - 1) else 0.0
    val b =
      if (varY == 0.0) 0.0
      else {
        val varX = (varY - meanY * meanY * svs) / (1.0 + svs)
        if (varX < 0.0) 0.0 else varX / varY
      }
    meanY + b * (cp - meanY)
  }

  // ------------------------------------------------------------------ halo assembly

  /**
   * Extract the strip of a source tile that a neighboring target tile's halo needs.
   * `role` is the source position seen from the target, 0..8 row-major:
   * (srx, sry) = (role % 3 - 1, role / 3 - 1); role 4 = the tile itself (full array).
   * A west neighbor (srx = -1) contributes its EASTERN m columns, etc. Strips are
   * row-major (sh x sw) with sw = (srx == 0 ? w : m), sh = (sry == 0 ? h : m).
   * Shrinks the halo-exchange shuffle from 9x the pixel volume to ~(1 + 2m(w+h)/wh)x.
   */
  def haloStrip(arrD: ArrayData, role: Int, w: Int, h: Int, m: Int): ArrayData = {
    if (role == 4) return arrD
    val a = arrD.toDoubleArray()
    val srx = role % 3 - 1; val sry = role / 3 - 1
    val sw = if (srx == 0) w else m
    val sh = if (sry == 0) h else m
    val x0 = if (srx == -1) w - m else 0
    val y0 = if (sry == -1) h - m else 0
    val out = new Array[Double](sw * sh)
    var y = 0
    while (y < sh) {
      System.arraycopy(a, (y0 + y) * w + x0, out, y * sw, sw)
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Assemble a (w+2m)x(h+2m) halo from collected neighbor strips
   * array<struct<role:int, strip:array<double>>> (order-independent: placement is by
   * role). Missing neighbors (raster edge) stay at the no-data sentinel — identical
   * output to the former per-element SQL assembly (Raster.haloSql), in one compiled
   * copy pass instead of an interpreted (w+2m)^2-element lambda.
   */
  def haloAssemble(contribs: ArrayData, w: Int, h: Int, m: Int): ArrayData = {
    val hw = w + 2 * m
    val hh = h + 2 * m
    val out = new Array[Double](hw * hh)
    java.util.Arrays.fill(out, ND)
    val n = contribs.numElements()
    var i = 0
    while (i < n) {
      val r = contribs.getStruct(i, 2)
      val role = r.getInt(0)
      val strip = r.getArray(1).toDoubleArray()
      val srx = role % 3 - 1; val sry = role / 3 - 1
      val sw = if (srx == 0) w else m
      val sh = if (sry == 0) h else m
      val dx0 = if (srx == -1) 0 else if (srx == 0) m else m + w
      val dy0 = if (sry == -1) 0 else if (sry == 0) m else m + h
      var y = 0
      while (y < sh) {
        System.arraycopy(strip, y * sw, out, (dy0 + y) * hw + dx0, sw)
        y += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------------------ rollup kernel

  // ----------------------------------------------------------------- cosine

  /** cosine(va, vb) accumulated in double in index order — the exact fold the
   * interpreted aggregate(zip_with(...)) SQL performed, one compiled call per
   * scored pair. aFloat/bFloat say whether each child is ARRAY<FLOAT> (raw
   * embeddings) or ARRAY<DOUBLE> (cast embeddings / trained centroids) — the
   * SQL upcast CAST(x AS DOUBLE) is reproduced per element. */
  def cosine(aD: ArrayData, bD: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val a: Array[Double] = if (aFloat) {
      val f = aD.toFloatArray(); val d = new Array[Double](f.length)
      var i = 0; while (i < f.length) { d(i) = f(i).toDouble; i += 1 }; d
    } else aD.toDoubleArray()
    val b: Array[Double] = if (bFloat) {
      val f = bD.toFloatArray(); val d = new Array[Double](f.length)
      var i = 0; while (i < f.length) { d(i) = f(i).toDouble; i += 1 }; d
    } else bD.toDoubleArray()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // -------------------------------------------------------------- shingle hashing

  /** 3-word shingle h60 hashes straight from the words array: for each window,
   * md5("w1 w2 w3"), first 15 hex chars parsed base-16 (= the SQL
   * CAST(conv(substring(md5(g),1,15),16,10) AS BIGINT)) — one compiled loop
   * replacing two interpreted HOFs (the concat_ws shingle transform and the
   * per-shingle md5 transform). Duplicates are NOT removed: the only consumer
   * is the minhash min-fold, which is duplicate-insensitive. */
  def shingleH60(wsD: ArrayData): ArrayData = {
    val n = wsD.numElements()
    val words = new Array[String](n)
    var i = 0
    while (i < n) { words(i) = wsD.getUTF8String(i).toString; i += 1 }
    val out = new Array[Long](math.max(0, n - 2))
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n - 2) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ').append(words(i + 2))
      md.reset()
      val dig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = top 60 bits of the digest
      var h = 0L
      var b = 0
      while (b < 8) {
        val v = dig(b) & 0xFF
        if (b < 7) h = (h << 8) | v
        else h = (h << 4) | (v >>> 4) // 15th hex char is the high nibble of byte 7
        b += 1
      }
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------------- per-pixel maps

  // Compiled twins of the per-pixel zip_with/transform lambdas on the hot tile
  // path. Catalyst higher-order functions are CodegenFallback: every pixel walks
  // an interpreted expression tree (boxing each element) AND the containing
  // Project is excluded from whole-stage codegen. Each mode below mirrors its
  // SQL lambda's arithmetic ORDER and null/sentinel handling exactly (SQL FLOOR
  // on DOUBLE returns BIGINT, hence the .toLong round-trips; Spark's Atan2 adds
  // 0.0 to both args to normalize negative zero), so results are bit-identical —
  // pinned by the KernelSpec HOF-equality properties.
  val PM_CALDIV = 0 // (dn2, a) -> dn2 / a^2                       [sigma0/beta0/gamma0]
  val PM_CALDB = 1 // (dn2, a) -> 10*log10(dn2 / a^2), ND if <= 0 [sigma0 dB]
  val PM_NOISESUB = 2 // (dn2, nz) -> max(0, dn2 - nz)               [thermal noise]
  val PM_COMPLEXDIV = 3 // (x, a)   -> x / a                           [complex cal]
  val PM_ATAN2 = 4 // (b, a)   -> atan2(b, a)                     [interferogram]
  val PM_CALDIV_SNAP = 5 // (dn2, a) -> floor(dn2/a^2 * p)/p            [chain calibration]
  val PM_RS2OFF = 6 // (dn2, a) -> (dn2 + p) / a                   [RS2 gains-LUT+offset]
  val PM_RVI = 7 // (vv, vh) -> 4*vh / (vv + vh), ND if sum<=0  [dual-pol RVI]

  def pixelMap2(aD: ArrayData, bD: ArrayData, mode: Int, p: Double): ArrayData = {
    val a = aD.toDoubleArray(); val b = bD.toDoubleArray()
    val n = a.length
    val out = new Array[Double](n)
    var k = 0
    mode match {
      case PM_CALDIV =>
        while (k < n) {
          val x = a(k)
          out(k) = if (x == ND) ND else x / (b(k) * b(k)); k += 1
        }
      case PM_CALDB =>
        while (k < n) {
          val x = a(k)
          // StrictMath: Spark's Log10 evaluates via StrictMath.log10
          out(k) = if (x == ND || x <= 0.0) ND else 10.0 * StrictMath.log10(x / (b(k) * b(k)))
          k += 1
        }
      case PM_NOISESUB =>
        while (k < n) {
          val x = a(k)
          out(k) = if (x == ND) ND else math.max(0.0, x - b(k)); k += 1
        }
      case PM_COMPLEXDIV =>
        while (k < n) {
          val x = a(k)
          out(k) = if (x == ND) ND else x / b(k); k += 1
        }
      case PM_ATAN2 =>
        while (k < n) {
          val x = a(k); val y = b(k)
          out(k) = if (x == ND || y == ND) ND else math.atan2(x + 0.0, y + 0.0); k += 1
        }
      case PM_CALDIV_SNAP =>
        while (k < n) {
          val x = a(k)
          out(k) = if (x == ND) ND else math.floor(x / (b(k) * b(k)) * p).toLong.toDouble / p
          k += 1
        }
      case PM_RS2OFF =>
        while (k < n) {
          val x = a(k)
          out(k) = if (x == ND) ND else (x + p) / b(k); k += 1
        }
      case PM_RVI =>
        while (k < n) {
          val x = a(k); val y = b(k)
          out(k) = if (x == ND || y == ND || x + y <= 0.0) ND else 4.0 * y / (x + y)
          k += 1
        }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Dyadic intensity v = i^2 + q^2 on the d-snapped grid, re-snapped to dv
   * (Raster.intensityTiles' zip_with, compiled; NaN or sentinel in either
   * channel propagates the sentinel). */
  def intensity(iD: ArrayData, qD: ArrayData, d: Double, dv: Double): ArrayData = {
    val ia = iD.toDoubleArray(); val qa = qD.toDoubleArray()
    val n = ia.length
    val out = new Array[Double](n)
    var k = 0
    while (k < n) {
      val a = ia(k); val b = qa(k)
      out(k) =
        if (a == ND || b == ND || java.lang.Double.isNaN(a) || java.lang.Double.isNaN(b)) ND
        else {
          val ai = math.floor(a * d).toLong.toDouble / d
          val bi = math.floor(b * d).toLong.toDouble / d
          math.floor((ai * ai + bi * bi) * dv).toLong.toDouble / dv
        }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-element dyadic snap x -> floor(x*d)/d (no sentinel guard: the sentinel
   * is itself dyadic so it round-trips unchanged, exactly like the SQL). */
  def quantize(aD: ArrayData, d: Double): ArrayData = {
    val a = aD.toDoubleArray()
    val out = new Array[Double](a.length)
    var k = 0
    while (k < a.length) {
      out(k) = math.floor(a(k) * d).toLong.toDouble / d; k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ---- indexed per-pixel maps: the lambda depends on the pixel's GLOBAL range
  // sample gx = tileX*tw + (k % tw) (antenna/incidence-angle formula classes).
  // Trig goes through java.lang.Math — exactly what Spark's Cos/Sin/Atan2
  // evaluate (UnaryMathExpression binds scala.math.* = java.lang.Math); the
  // arithmetic ORDER of every mode mirrors its SQL lambda so results are
  // bit-identical (RasterOpsSpec pins each mode).
  val PXI_ANTPAT = 0 // x / g(gx)^2, g = 1 + 0.2 cos((theta-30)/5)      [antenna pattern]
  val PXI_ASAR = 1 // x * sin(theta*DTOR) / p                         [ASAR/ERS class]
  val PXI_TSX = 2 // p * |x - NEBN(u)| * sin(theta*DTOR)             [TerraSAR-X class]
  val PXI_SCALE = 3 // x * p                                           [ICEYE/ALOS class]
  val PXI_SUBMAX = 4 // max(0, x - p)                                   [RCM noise floor]
  val PXI_COHBIAS = 5 // max(0, (x - p) / (1 - p))                 [coherence bias corr]

  private val Dtor = 0.017453292519943295

  /** theta(gx): the shared linear elevation-angle profile (Calibration.thetaOf). */
  @inline private def thetaOf(gx: Int, spb: Int): Double = 20.0 + 20.0 * gx / spb

  def pixelMapIdx(vD: ArrayData, tileX: Int, p: Double, mode: Int, tw: Int, spb: Int): ArrayData = {
    val v = vD.toDoubleArray()
    val n = v.length
    val out = new Array[Double](n)
    var k = 0
    mode match {
      case PXI_ANTPAT =>
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND else {
            val g = 1.0 + 0.2 * Math.cos((thetaOf(tileX * tw + k % tw, spb) - 30.0) / 5.0)
            x / (g * g)
          }
          k += 1
        }
      case PXI_ASAR =>
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND
            else x * Math.sin(thetaOf(tileX * tw + k % tw, spb) * Dtor) / p
          k += 1
        }
      case PXI_TSX =>
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND else {
            val gx = tileX * tw + k % tw
            val u = gx / spb.toDouble
            p * Math.abs(x - (0.02 + 0.01 * u - 0.005 * u * u)) *
              Math.sin(thetaOf(gx, spb) * Dtor)
          }
          k += 1
        }
      case PXI_SCALE =>
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND else x * p; k += 1
        }
      case PXI_SUBMAX =>
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND else math.max(0.0, x - p); k += 1
        }
      case PXI_COHBIAS =>
        // (1.0 - p) reproduces the SQL's interpolated denominator literal
        // exactly: CohBiasDen is defined as 1.0 - CohBiasC, the same op
        val den = 1.0 - p
        while (k < n) {
          val x = v(k)
          out(k) = if (x == ND) ND else math.max(0.0, (x - p) / den); k += 1
        }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** S1-ETAD timing correction: corrected fractional range sample
   * gx + dR/DR (pure arithmetic — exact; dr passed as the same double the SQL
   * interpolated). */
  def etadMap(vD: ArrayData, lutD: ArrayData, tileX: Int, dr: Double, tw: Int): ArrayData = {
    val v = vD.toDoubleArray(); val lut = lutD.toDoubleArray()
    val out = new Array[Double](v.length)
    var k = 0
    while (k < v.length) {
      out(k) = if (v(k) == ND) ND else (tileX * tw + k % tw) + lut(k) / dr
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** GRD azimuth thermal-noise subtraction (Grd.thermalNoiseAzQuery's HOF, verbatim):
   * per pixel k, gline = (burstIdx-1)*lp + tileY*th + k div tw, b = gline div lp,
   * az = azlut(b) + ((gline - b*lp)/lp) * (azlut(b+1) - azlut(b)),
   * out = greatest(0, v - lutA(k)*az) with the ND passthrough. Pure +,-,*,/ — exact.
   * azlut must hold one more knot than the last burst index b the tile reaches
   * (checked at entry; the replaced SQL's element_at read NULL there and degraded
   * to 0). */
  def noiseAzMap(vD: ArrayData, lutAD: ArrayData, azD: ArrayData,
      burstIdx: Int, tileY: Int, lp: Int, tw: Int, th: Int): ArrayData = {
    val v = vD.toDoubleArray(); val lutA = lutAD.toDoubleArray(); val az = azD.toDoubleArray()
    val out = new Array[Double](v.length)
    val base = (burstIdx - 1) * lp + tileY * th
    if (v.length > 0) {
      require(base >= 0, s"noiseAzMap: first line index $base < 0 (burst_idx must be >= 1)")
      val lastB = (base + (v.length - 1) / tw) / lp
      require(az.length >= lastB + 2,
        s"noiseAzMap: azlut needs one more knot than the last burst index reached " +
          s"($lastB), so ${lastB + 2} knots; got ${az.length}")
    }
    var k = 0
    while (k < v.length) {
      val x = v(k)
      if (x == ND) out(k) = ND
      else {
        val gline = base + k / tw
        val b = gline / lp
        val azv = az(b) + ((gline - b * lp) / lp.toDouble) * (az(b + 1) - az(b))
        out(k) = math.max(0.0, x - lutA(k) * azv)
      }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ---- wrapped phase-subtraction maps: out = atan2(sin(ph - f), cos(ph - f))
  // with ph from the (a, b) pair (zip_with(b, a, atan2) order) and f the
  // closed-form surface at the pixel's global coordinates.
  val PS_TOPO_PAIR = 0 // ph = atan2(b, a);   f = Ktopo * h(gx, gy)   [topo phase removal]
  val PS_EAP = 1 // ph = atan2(qb, qa) on d-quantized inputs; f = eap(gx) [EAP phase]
  val PS_FLAT = 2 // ph = atan2(b, a);   f = p1*gx + p2*gx^2        [flat-earth phase]

  /** f_topo(gx, gy) = 0.05 * (100 + 50 sin(gx/40) + 40 cos(gy/25)) (InSAR.topoF). */
  @inline private def topoF(gx: Int, gy: Int): Double =
    0.05 * (100.0 + 50.0 * Math.sin(gx / 40.0) + 40.0 * Math.cos(gy / 25.0))

  @inline private def wrapSub(ph: Double, f: Double): Double =
    Math.atan2(Math.sin(ph - f) + 0.0, Math.cos(ph - f) + 0.0)

  def phaseSubPair(aD: ArrayData, bD: ArrayData, tileX: Int, tileY: Int,
      mode: Int, d: Double, tw: Int, th: Int, spb: Int,
      p1: Double, p2: Double): ArrayData = {
    val a = aD.toDoubleArray(); val b = bD.toDoubleArray()
    val n = a.length
    val out = new Array[Double](n)
    var k = 0
    mode match {
      case PS_TOPO_PAIR =>
        while (k < n) {
          val av = a(k); val bv = b(k)
          out(k) = if (bv == ND || av == ND) ND else {
            val ph = Math.atan2(bv + 0.0, av + 0.0)
            wrapSub(ph, topoF(tileX * tw + k % tw, tileY * th + k / tw))
          }
          k += 1
        }
      case PS_EAP =>
        while (k < n) {
          // inputs are d-quantized FIRST (the SQL's transform pair), so a raw
          // value that snaps onto the sentinel lattice is treated as no-data
          val av = math.floor(a(k) * d).toLong.toDouble / d
          val bv = math.floor(b(k) * d).toLong.toDouble / d
          out(k) = if (bv == ND || av == ND) ND else {
            val ph = Math.atan2(bv + 0.0, av + 0.0)
            val e = 0.4 * Math.sin((thetaOf(tileX * tw + k % tw, spb) - 28.0) / 3.0)
            wrapSub(ph, e)
          }
          k += 1
        }
      case PS_FLAT =>
        while (k < n) {
          val av = a(k); val bv = b(k)
          out(k) = if (bv == ND || av == ND) ND else {
            val gx = tileX * tw + k % tw
            val ph = Math.atan2(bv + 0.0, av + 0.0)
            wrapSub(ph, p1 * gx + p2 * gx * gx)
          }
          k += 1
        }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Chain TopoPhaseRemoval over an already-computed wrapped-phase array. */
  def phaseSubV(vD: ArrayData, tileX: Int, tileY: Int, tw: Int, th: Int): ArrayData = {
    val v = vD.toDoubleArray()
    val out = new Array[Double](v.length)
    var k = 0
    while (k < v.length) {
      val ph = v(k)
      out(k) = if (ph == ND) ND
        else wrapSub(ph, topoF(tileX * tw + k % tw, tileY * th + k / tw))
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Chain Subset pixel-exact crop mask: pixels outside the burst-local region
   * [x0..x1]x[y0..y1] go to the no-data sentinel (pure comparisons — exact). */
  def subsetMask(vD: ArrayData, tileX: Int, tileY: Int,
      x0: Int, x1: Int, y0: Int, y1: Int, tw: Int, th: Int): ArrayData = {
    val v = vD.toDoubleArray()
    val out = new Array[Double](v.length)
    var k = 0
    while (k < v.length) {
      val gx = tileX * tw + k % tw
      val gy = tileY * th + k / tw
      out(k) = if (gx >= x0 && gx <= x1 && gy >= y0 && gy <= y1) v(k) else ND
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Integer-exact per-tile rollup of a filtered `out` array in ONE compiled pass:
   * each valid (non-NaN, non-ND) pixel is quantized to floor(offset + v*q) BIGINT
   * and n/sum/min/max of the quantized values are returned. Identical to the
   * former interpreted filter+aggregate SQL (min/max commute with the monotone
   * quantizer, so quantize-then-min equals min-then-quantize). min/max are null
   * for an all-invalid tile, matching the SQL's CASE.
   */
  def rollupQ(arrD: ArrayData, q: Double): InternalRow = {
    val a = arrD.toDoubleArray()
    var n = 0L; var s = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var i = 0
    while (i < a.length) {
      val v = a(i)
      if (!isNd(v)) {
        val qq = quant(v, q)
        n += 1; s += qq
        if (qq < mn) mn = qq
        if (qq > mx) mx = qq
      }
      i += 1
    }
    if (n == 0) InternalRow(0L, 0L, null, null)
    else InternalRow(n, s, mn, mx)
  }

  /** Two-moment variant of rollupQ: (n, s, s2, mn, mx) with s2 the quantized
   * sum of squares floor(off + x*x*q) — the Data-Analysis per-tile partials,
   * one compiled pass instead of a filter HOF + two interpreted folds +
   * array_min/array_max. Same validity guard and monotone-quantizer argument
   * as rollupQ. */
  def rollup2Q(arrD: ArrayData, q: Double): InternalRow = {
    val a = arrD.toDoubleArray()
    var n = 0L; var s = 0L; var s2 = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var i = 0
    while (i < a.length) {
      val v = a(i)
      if (!isNd(v)) {
        val qq = quant(v, q)
        n += 1; s += qq
        s2 += quant(v * v, q)
        if (qq < mn) mn = qq
        if (qq > mx) mx = qq
      }
      i += 1
    }
    if (n == 0) InternalRow(0L, 0L, 0L, null, null)
    else InternalRow(n, s, s2, mn, mx)
  }

  // quantized-sum folds over one or two pixel arrays (the bespoke per-tile
  // aggregate() lambdas of the stack/polarimetry queries, compiled; each mode
  // mirrors its SQL fold's guard and arithmetic order exactly)
  val SQ_PAIR_ADD = 0 // sum floor(off + (a+b)*q), a=ND contributes floor(off) = 0
  val SQ_PAIR_SUB = 1 // sum floor(off + (a-b)*q), same guard
  val SQ_SCALED = 2 // sum over a: x=ND -> 0 else floor(off + (k*x)*q)

  def sumQ(aD: ArrayData, bD: ArrayData, mode: Int, k: Double, q: Double): Long = {
    val a = aD.toDoubleArray()
    var s = 0L
    var i = 0
    mode match {
      case SQ_PAIR_ADD =>
        val b = bD.toDoubleArray()
        while (i < a.length) {
          val x = if (a(i) == ND) 0.0 else a(i) + b(i)
          s += quant(x, q); i += 1
        }
      case SQ_PAIR_SUB =>
        val b = bD.toDoubleArray()
        while (i < a.length) {
          val x = if (a(i) == ND) 0.0 else a(i) - b(i)
          s += quant(x, q); i += 1
        }
      case SQ_SCALED =>
        while (i < a.length) {
          val x = a(i)
          if (x != ND) s += quant(k * x, q)
          i += 1
        }
    }
    s
  }

  // ------------------------------------------------------------------ minhash family

  /** Universal-hash family deriving all 16 minhash permutations from ONE md5-based
   * 60-bit hash per shingle: h_k = ((hi30 * A_k) + (lo30 * B_k) + C_k) & (2^60-1),
   * split at bit 30 so every intermediate stays < 2^62 (exact in int64 on both
   * engines — no overflow, no float). The constants are fixed odd multipliers
   * generated from Knuth/xxhash primes; they are inlined as literals into the
   * DuckDB oracle SQL, so engine and oracle agree bit-for-bit. Replaces the
   * round-2 16-md5-calls-per-shingle signature (VERDICT r2 bench table). */
  val MinhashMask: Long = (1L << 60) - 1
  val MinhashA: Array[Long] =
    Array.tabulate(16)(k => ((2654435761L * (2 * k + 1)) & 0x3FFFFFFEL) | 1L)
  val MinhashB: Array[Long] =
    Array.tabulate(16)(k => ((2246822519L * (2 * k + 3)) & 0x3FFFFFFEL) | 1L)
  val MinhashC: Array[Long] =
    Array.tabulate(16)(k => (1181783497276652981L * (k + 1)) & MinhashMask)

  /** All 16 minhash values over a doc's base-hash array in one compiled pass. */
  def minhash16(hsD: ArrayData): ArrayData = {
    val hs = hsD.toLongArray()
    val out = new Array[Long](16)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      val hi = h >>> 30
      val lo = h & 0x3FFFFFFFL
      var k = 0
      while (k < 16) {
        val v = (hi * MinhashA(k) + lo * MinhashB(k) + MinhashC(k)) & MinhashMask
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Two-parameter CFAR over one margin-m halo (AdaptiveThresholdingOp.java:59-148):
   * background ring = (2m+1)^2 window minus the (2g+1)^2 guard, t = (cp - mean)/std,
   * returns struct(n_detect:long, max_t:double|null) for the tile. All sums are exact
   * on the dyadic grid, so full-minus-guard equals the oracle's direct ring sums. */
  def cfar(halo: ArrayData, w: Int, h: Int, m: Int, g: Int, thr: Double): InternalRow = {
    val hw = w + 2 * m
    val a = haloChannel(halo, w, h, m)
    var nDetect = 0L
    var maxT = Double.NegativeInfinity
    var any = false
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cp = a((y + m) * hw + (x + m))
        if (!isNd(cp)) {
          var n = 0.0; var s1 = 0.0; var s2 = 0.0
          var dy = -m
          while (dy <= m) {
            var dx = -m
            while (dx <= m) {
              if (math.abs(dy) > g || math.abs(dx) > g) {
                val v = a((y + m + dy) * hw + (x + m + dx))
                if (!isNd(v)) { n += 1; s1 += v; s2 += v * v }
              }
              dx += 1
            }
            dy += 1
          }
          if (n >= 2) {
            val vr = (s2 - n * (s1 / n) * (s1 / n)) / (n - 1)
            if (vr > 0.0) {
              val t = (cp - s1 / n) / math.sqrt(vr)
              any = true
              if (t > maxT) maxT = t
              if (t > thr) nDetect += 1
            }
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(nDetect, if (any) maxT else null)
  }

  // ------------------------------------------------------- windowed halo steps

  /** A halo channel of a margin-m windowed kernel as a primitive array, checked
   * against the (w + 2m) x (h + 2m) layout that every window read assumes. */
  private def haloChannel(d: ArrayData, w: Int, h: Int, m: Int): Array[Double] = {
    val a = d.toDoubleArray()
    requireHalo(a.length, w, h, m)
    a
  }

  private def requireHalo(length: Int, w: Int, h: Int, m: Int): Unit = {
    val len = (w + 2 * m) * (h + 2 * m)
    require(length == len,
      s"halo length $length != (w + 2m) x (h + 2m) = $len for w=$w, h=$h, m=$m")
  }

  /** Window sums of four halo channels at pixel (x, y) over the cells where the
   * first channel is valid, in (dy, dx) row-major order: fills s with the four
   * sums and returns the cell count. The dual-pol C2 window (c11, c22, c12r,
   * c12i; PolarimetricMatricesOp.java window estimation) and the coherence
   * window (p1, p2, re, im; CoherenceOp.java:722) are this step. */
  private def windowSums4(k: Array[Double], b: Array[Double], c: Array[Double],
      d: Array[Double], hw: Int, x: Int, y: Int, m: Int, s: Array[Double]): Int = {
    var n = 0; var sk = 0.0; var sb = 0.0; var sc = 0.0; var sd = 0.0
    var dy = -m
    while (dy <= m) {
      var dx = -m
      while (dx <= m) {
        val idx = (y + m + dy) * hw + (x + m + dx)
        if (!isNd(k(idx))) {
          n += 1; sk += k(idx); sb += b(idx); sc += c(idx); sd += d(idx)
        }
        dx += 1
      }
      dy += 1
    }
    s(0) = sk; s(1) = sb; s(2) = sc; s(3) = sd
    n
  }

  /** Whether pixel (x, y) of a margin-m halo is dark: valid and below k times
   * the mean of the valid cells of its window (OilSpillDetectionOp.java, the
   * threshold below the background). */
  private def isDark(a: Array[Double], hw: Int, x: Int, y: Int, m: Int, k: Double): Boolean = {
    val cp = a((y + m) * hw + (x + m))
    if (isNd(cp)) return false
    var n = 0; var s1 = 0.0
    var dy = -m
    while (dy <= m) {
      var dx = -m
      while (dx <= m) {
        val v = a((y + m + dy) * hw + (x + m + dx))
        if (!isNd(v)) { n += 1; s1 += v }
        dx += 1
      }
      dy += 1
    }
    n > 0 && cp < k * (s1 / n)
  }

  // -------------------------------------------------------- windowed C2 polarimetry

  val C2_MDELTA = 0
  val C2_DPRVI = 1
  val C2_ANISOTROPY = 2
  val C2_ENTROPY = 3
  val C2_MCHI = 4 // m-chi surface power ps (CP decomposition; pv/pd share the pass)
  val C2_Y3PS = 5 // dual-pol Y3 surface power (DualPolY3DecompositionOp.java:231-265)
  val C2_CPRVI = 6 // compact-pol RVI, Mandal GD index (CPRVIOp.java:235-293)

  /**
   * Windowed dual-pol C2 products over 4 margin-m halo channels (c11, c22, c12r,
   * c12i) in ONE compiled pass — replaces the interpreted winSum expansion that made
   * q_dualpol_anisotropy take minutes (round-2 verdict #2). Validity marker = c11
   * channel (all four channels share the ND mask by construction). Window sums are
   * exact on the dyadic grid; the final per-pixel arithmetic stages exactly as the
   * DuckDB oracles (SarOracles7.mDelta/dprvi/anisotropy, SarOracles2.dualPolEntropy).
   * Reference semantics: rstb CP decompositions / dual-pol H-alpha
   * (PolarimetricMatricesOp.java:48 window estimation; m-delta, DpRVI, eigenvalue
   * anisotropy/entropy of the 2x2 Hermitian C2).
   */
  def c2Window(c11H: ArrayData, c22H: ArrayData, c12rH: ArrayData, c12iH: ArrayData,
      w: Int, h: Int, m: Int, mode: Int): ArrayData = {
    val hw = w + 2 * m
    val c11 = haloChannel(c11H, w, h, m); val c22 = haloChannel(c22H, w, h, m)
    val cr = haloChannel(c12rH, w, h, m); val ci = haloChannel(c12iH, w, h, m)
    val out = new Array[Double](w * h)
    val ln2 = math.log(2.0)
    val s = new Array[Double](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val n = windowSums4(c11, c22, cr, ci, hw, x, y, m, s)
        val m11 = s(0); val m22 = s(1); val mr = s(2); val mi = s(3)
        out(y * w + x) = if (n == 0 || m11 + m22 <= 0.0) ND else mode match {
          case C2_MDELTA | C2_DPRVI =>
            val g1 = m11 - m22; val g2 = 2.0 * mr; val g3 = -2.0 * mi
            val dop = math.sqrt(g1 * g1 + g2 * g2 + g3 * g3) / (m11 + m22)
            if (mode == C2_MDELTA) dop else 1.0 - dop
          case C2_ANISOTROPY =>
            val tr = m11 + m22
            val disc = tr * tr - 4.0 * (m11 * m22 - mr * mr - mi * mi)
            if (disc < 0.0) 0.0 else math.sqrt(disc) / tr
          case C2_MCHI =>
            // m-chi surface power ps = g0 m (1 + sin2chi)/2 with
            // sin2chi = -g3 / (m g0) over the windowed Stokes (Raney m-chi CP
            // decomposition; the pv/pd channels share the identical pass).
            val g0 = m11 + m22
            val g1 = m11 - m22; val g2 = 2.0 * mr; val g3 = -2.0 * mi
            val mdop = math.sqrt(g1 * g1 + g2 * g2 + g3 * g3) / g0
            if (mdop <= 0.0) ND
            else {
              val s2x = (0.0 - g3) / (mdop * g0)
              g0 * mdop * (1.0 + s2x) / 2.0
            }
          case C2_Y3PS =>
            // Y3 dual-pol model-based decomposition, Uniform-Random volume
            // (volA = volB = 0.5, DualPolY3DecompositionOp.java:144-147): volume
            // amplitude from the cross-pol diagonal, clipped when over-estimated,
            // residual trace to surface or double-bounce by sign(Re c12)
            // (:231-265). Window sums stand in for the window means — the powers
            // scale by the shared valid count, identically in the DuckDB twin.
            var residCo = m11 - m22 // c11 - fv*volA with fv = c22/volB
            var residCross = 0.0 // c22 - fv*volB = 0 by construction
            if (residCo < 0.0) { // volume over-estimated: clip fv to c11/volA
              residCo = 0.0
              residCross = m22 - m11
              if (residCross < 0.0) residCross = 0.0 // pure-volume pixel
            }
            val residTrace = math.max(0.0, residCo + residCross)
            if (residTrace > 0.0 && mr >= 0.0) residTrace else 0.0
          case C2_ENTROPY =>
            val tr = m11 + m22
            val det = m11 * m22 - mr * mr - mi * mi
            val disc = tr * tr - 4.0 * det
            if (disc < 0.0) 0.0
            else {
              val sq = math.sqrt(disc)
              val p1 = (tr + sq) / (2.0 * tr)
              val p2 = (tr - sq) / (2.0 * tr)
              val t1 = if (p1 > 0.0) p1 * (math.log(p1) / ln2) else 0.0
              val t2 = if (p2 > 0.0) p2 * (math.log(p2) / ln2) else 0.0
              -1.0 * (t1 + t2)
            }
          case C2_CPRVI =>
            // Compact-pol RVI (Mandal et al. 2020; CPRVIOp.java:235-293): geodesic
            // distance between the window Kennaugh matrix (built from Stokes g0..g3
            // with the reference's halved lower triangle: K00=.5g0, K02=.5g2,
            // K13=.5g1, K20=.25g2, K31=.25g1, K33=.5g3) and the ideal depolarizer
            // diag(1,0,0,0); trace algebra collapses to closed form. Guard: non-
            // positive SC/OC powers -> ND (the reference emits NaN there).
            val g0 = m11 + m22
            val g1 = m11 - m22; val g2 = 2.0 * mr; val g3 = -2.0 * mi
            val num3 = 0.25 * (g0 * g0) + 0.3125 * (g1 * g1) +
              0.3125 * (g2 * g2) + 0.25 * (g3 * g3)
            val gd = 2.0 * math.acos(0.5 * g0 / math.sqrt(num3)) / math.Pi
            val sc = (g0 - g3) / 2.0; val oc = (g0 + g3) / 2.0
            val mn = math.min(sc, oc); val mx = math.max(sc, oc)
            if (mn <= 0.0 || mx <= 0.0) ND
            else {
              val lam = 1.5 * gd
              (1.0 - lam) * math.pow(mn / mx, 2.0 * lam)
            }
        }
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Dark-pixel count of a tile: center < k * (window mean) over a margin-m halo
   * (OilSpillDetectionOp threshold-below-background). One compiled call per tile. */
  def darkCount(halo: ArrayData, w: Int, h: Int, m: Int, k: Double): Long = {
    val hw = w + 2 * m
    val a = haloChannel(halo, w, h, m)
    var cnt = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (isDark(a, hw, x, y, m, k)) cnt += 1
        x += 1
      }
      y += 1
    }
    cnt
  }

  // ------------------------------------------------- in-array multilook / mosaic

  /** Per-tile multilook block sums: blocks of looks x looks pixels, row-major block
   * order, struct(n:long, s:double) per block. Replaces the round-2 posexplode +
   * hash-aggregate plan whose shuffle keys never crossed tiles (MultilookOp.java:
   * 499-554 block mean; the unit rules are applied by the caller). */
  def blockMeans(vD: ArrayData, w: Int, h: Int, looks: Int): ArrayData = {
    val v = vD.toDoubleArray()
    val bx = w / looks; val by = h / looks
    val rows = new Array[InternalRow](bx * by)
    var b = 0
    while (b < bx * by) {
      val y0 = (b / bx) * looks; val x0 = (b % bx) * looks
      var n = 0L; var s = 0.0
      var dy = 0
      while (dy < looks) {
        var dx = 0
        while (dx < looks) {
          val p = v((y0 + dy) * w + (x0 + dx))
          if (p != ND) { n += 1; s += p }
          dx += 1
        }
        dy += 1
      }
      rows(b) = InternalRow(n, s)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  /** Chain-multilook block statistics with per-pixel integer quantization
   * BEFORE the block sum (floor(dither + v * q)): chained values are no longer
   * dyadic-exact, so only pre-quantized integer sums are association-order-
   * independent across engines. ONE evaluation of the input array per tile —
   * the chain's upstream per-pixel lambda stack is computed exactly once here;
   * the expression-composed form (aggregate + element_at inside HOF lambdas)
   * defeats Spark's subexpression elimination and re-evaluated the entire
   * upstream chain per element reference. */
  def blockStatsQ(vD: ArrayData, w: Int, h: Int, looks: Int, q: Double): ArrayData = {
    val v = vD.toDoubleArray()
    val bx = w / looks
    val nB = bx * (h / looks)
    val ns = new Array[Long](nB); val ss = new Array[Long](nB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = v(y * w + x)
        if (p != ND) {
          val b = (y / looks) * bx + (x / looks)
          ns(b) += 1
          ss(b) += quant(p, q)
        }
        x += 1
      }
      y += 1
    }
    val rows = new Array[InternalRow](nB)
    var b = 0
    while (b < nB) { rows(b) = InternalRow(ns(b), ss(b)); b += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  /** Per-tile mosaic partial aggregation: geolocate each valid pixel through the
   * burst-footprint affine (staged exactly as the gate oracle: u/vv half-pixel
   * centers, left-associated lon/lat), quantize to map cells, and emit ONE row per
   * touched cell struct(cell_x, cell_y, n_px, sum_q) — the shuffle then carries
   * ~cells-per-tile rows instead of every pixel (MosaicOp.java:54 scatter + mean,
   * partial-aggregated tile-side). sum_q is the exact integer-quantized sum, so
   * partial + final sums equal the oracle's single-pass sum. */
  def mosaicCells(vD: ArrayData, tileX: Int, tileY: Int,
      lon1: Double, lat1: Double, lon2: Double, lon4: Double, lat4: Double,
      lon0: Double, lat0: Double, w: Int, h: Int,
      samplesPerBurst: Int, linesPerBurst: Int, cell: Double): ArrayData = {
    val v = vD.toDoubleArray()
    val acc = new java.util.TreeMap[Long, Array[Long]]()
    var y = 0
    while (y < h) {
      val gy = tileY * h + y
      val vv = (gy + 0.5) / linesPerBurst
      val lat = lat1 + vv * (lat4 - lat1)
      val cellY = math.floor((lat - lat0) / cell).toInt
      var x = 0
      while (x < w) {
        val p = v(y * w + x)
        if (p != ND) {
          val gx = tileX * w + x
          val u = (gx + 0.5) / samplesPerBurst
          val lon = lon1 + u * (lon2 - lon1) + vv * (lon4 - lon1)
          val cellX = math.floor((lon - lon0) / cell).toInt
          val key = (cellX.toLong << 32) | (cellY.toLong & 0xffffffffL)
          var a = acc.get(key)
          if (a == null) { a = new Array[Long](2); acc.put(key, a) }
          a(0) += 1L
          a(1) += q6l(p)
        }
        x += 1
      }
      y += 1
    }
    val rows = new Array[Any](acc.size())
    var i = 0
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey
      rows(i) = InternalRow((key >> 32).toInt, key.toInt, e.getValue()(0), e.getValue()(1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  // ---------------------------------------------------------------- LUT interpolation

  /**
   * Per-pixel bilinear LUT interpolation over bracketing calibration vectors
   * (Sentinel1Calibrator.java:412-477 with cached-index binary search :464-477).
   * vecs: array<struct<line:int, pixels:array<int>, lut:array<double>>> sorted by line.
   * Returns the w*h interpolated LUT array for the tile at (burstIdx, tileX, tileY).
   *
   * Bracket semantics mirror the staged-HOF reference implementation exactly:
   * vi = clamp(#{line <= gl}, 1, nVecs-1) (1-based upper vector), pixel knot index on
   * v0's grid, one muX shared by both rows.
   */
  def lutInterp(vecs: ArrayData, burstIdx: Int, tileX: Int, tileY: Int,
      w: Int, h: Int, linesPerBurst: Int): ArrayData = {
    val nVec = vecs.numElements()
    // unpack vectors once per tile row
    val lines = new Array[Int](nVec)
    val pixelArr = new Array[Array[Int]](nVec)
    val lutArr = new Array[Array[Double]](nVec)
    var vi = 0
    while (vi < nVec) {
      val r = vecs.getStruct(vi, 3)
      lines(vi) = r.getInt(0)
      pixelArr(vi) = r.getArray(1).toIntArray()
      lutArr(vi) = r.getArray(2).toDoubleArray()
      vi += 1
    }
    val out = new Array[Double](w * h)
    val gline0 = (burstIdx - 1) * linesPerBurst + tileY * h
    val gx0 = tileX * w
    var yy = 0
    while (yy < h) {
      val gl = gline0 + yy
      // vector bracket: count of line <= gl, clamped to [1, nVec-1] (binary search)
      var lo = 0; var hi = nVec // upper_bound on lines
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lines(mid) <= gl) lo = mid + 1 else hi = mid
      }
      val vIdx = math.max(1, math.min(nVec - 1, lo)) // 1-based upper vector
      val v0p = pixelArr(vIdx - 1); val v0l = lutArr(vIdx - 1); val v1l = lutArr(vIdx)
      val line0 = lines(vIdx - 1); val line1 = lines(vIdx)
      // degenerate-LUT guard: duplicate vector lines would divide by zero (the
      // reference's cached-index lookup validates vector spacing) — pin to mu = 0
      val muY = if (line1 == line0) 0.0 else (gl.toDouble - line0) / (line1 - line0)
      var xx = 0
      while (xx < w) {
        val gx = gx0 + xx
        var plo = 0; var phi = v0p.length // upper_bound on pixels
        while (plo < phi) {
          val mid = (plo + phi) >>> 1
          if (v0p(mid) <= gx) plo = mid + 1 else phi = mid
        }
        val pIdx = math.max(1, math.min(v0p.length - 1, plo)) // 1-based upper knot
        val p0 = v0p(pIdx - 1); val p1 = v0p(pIdx)
        val muX = if (p1 == p0) 0.0 else (gx.toDouble - p0) / (p1 - p0)
        val l00 = v0l(pIdx - 1); val l01 = v0l(pIdx)
        val l10 = v1l(pIdx - 1); val l11 = v1l(pIdx)
        out(yy * w + xx) =
          (1.0 - muY) * ((1.0 - muX) * l00 + muX * l01) +
            muY * ((1.0 - muX) * l10 + muX * l11)
        xx += 1
      }
      yy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------------------ spectral kernels

  /** Complex FFT of one signal, any power-of-2 length, through commons-math3
   * (standard normalization: the inverse divides by the length). */
  private def fft1d(re: Array[Double], im: Array[Double], inverse: Boolean): (Array[Double], Array[Double]) = {
    import org.apache.commons.math3.transform.{DftNormalization, FastFourierTransformer, TransformType}
    val t = new FastFourierTransformer(DftNormalization.STANDARD)
    val dir = if (inverse) TransformType.INVERSE else TransformType.FORWARD
    val c = t.transform(re.zip(im).map { case (a, b) => new org.apache.commons.math3.complex.Complex(a, b) }, dir)
    (c.map(_.getReal), c.map(_.getImaginary))
  }

  /**
   * Range oversampling x2 via frequency-domain zero-padding (reference
   * OversamplingOp.java:46): per image row, FFT(w) -> spectrum split with halved
   * Nyquist bin -> IFFT(2w). Equivalent to trigonometric interpolation with the
   * periodic-sinc kernel sin(pi u)/(w tan(pi u/w)) — the independent oracle form.
   * Returns a (2w x h) row-major array.
   */
  def oversampleRange(arrD: ArrayData, w: Int, h: Int): ArrayData = {
    val a = arrD.toDoubleArray()
    val out = new Array[Double](2 * w * h)
    val zero = new Array[Double](w)
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(a, y * w, (y + 1) * w)
      val (fr, fi) = fft1d(row, zero, inverse = false)
      val gr = new Array[Double](2 * w); val gi = new Array[Double](2 * w)
      var k = 0
      while (k < w / 2) { gr(k) = fr(k); gi(k) = fi(k); k += 1 }
      // split Nyquist
      gr(w / 2) = fr(w / 2) / 2.0; gi(w / 2) = fi(w / 2) / 2.0
      gr(2 * w - w / 2) = fr(w / 2) / 2.0; gi(2 * w - w / 2) = fi(w / 2) / 2.0
      k = w / 2 + 1
      while (k < w) { gr(w + k) = fr(k); gi(w + k) = fi(k); k += 1 }
      val (or_, _) = fft1d(gr, gi, inverse = true)
      var x = 0
      while (x < 2 * w) { out(y * 2 * w + x) = 2.0 * or_(x); x += 1 }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * MuLoG speckle filter — the reference's ADMM loop (MuLog.java:126-148), not
   * the round-3 boxcar stand-in: log-transform y = ln(v + 1e-10), then `iters`
   * rounds of [NLM Gaussian denoising of (u - w) (:189-218), proximal Newton
   * update u (solveProximal :262-276, 5 steps), Lagrange update w += v - u],
   * finally exp(u). Deviations, both documented and mirrored exactly by the
   * DuckDB twin: double precision instead of the reference's float32 buffers,
   * and 3 iterations instead of 10 (the loop structure is what the gate pins).
   *
   * The working buffer is the tile + margin-`m` halo CLIPPED to the burst
   * raster (the reference's effectiveSourceRect clipping, :84-86); invalid
   * samples (no-data/NaN/<=0) seed the log arrays at 0 and PARTICIPATE in the
   * NLM sums (:100-123 reference quirk), and output no-data.
   *
   * Returns the w*h tile region of exp(u), ND where invalid.
   */
  def mulogTile(haloD: ArrayData, w: Int, h: Int, m: Int,
      tileX: Int, tileY: Int, tilesX: Int, tilesY: Int,
      enl: Double, rho: Double, iters: Int,
      searchR: Int, patchR: Int, nlmH: Double): ArrayData = {
    val halo = haloChannel(haloD, w, h, m)
    val hw = w + 2 * m
    // clipped buffer extent in halo coords: columns bx with 0 <= tileX*w+bx-m < tilesX*w
    val bx0 = math.max(0, m - tileX * w)
    val bx1 = math.min(hw - 1, tilesX * w - 1 - tileX * w + m)
    val by0 = math.max(0, m - tileY * h)
    val by1 = math.min(h + 2 * m - 1, tilesY * h - 1 - tileY * h + m)
    val sw = bx1 - bx0 + 1; val sh = by1 - by0 + 1
    val len = sw * sh
    val yA = new Array[Double](len); val uA = new Array[Double](len)
    val wA = new Array[Double](len); val vA = new Array[Double](len)
    val inp = new Array[Double](len)
    val invalid = new Array[Boolean](len)
    var k = 0
    while (k < len) {
      val hx = bx0 + k % sw; val hy = by0 + k / sw
      val x = halo(hy * hw + hx)
      if (x.isNaN || x == ND || x <= 0.0) { invalid(k) = true }
      else { val lv = math.log(x + 1e-10); yA(k) = lv; uA(k) = lv }
      k += 1
    }
    val h2 = nlmH * nlmH
    var it = 0
    while (it < iters) {
      k = 0
      while (k < len) { inp(k) = uA(k) - wA(k); k += 1 }
      // NLM: v = Denoise(u - w)
      var y0 = 0
      while (y0 < sh) {
        var x0 = 0
        while (x0 < sw) {
          var sumW = 0.0; var sumV = 0.0
          val minSy = math.max(0, y0 - searchR); val maxSy = math.min(sh - 1, y0 + searchR)
          val minSx = math.max(0, x0 - searchR); val maxSx = math.min(sw - 1, x0 + searchR)
          var sy = minSy
          while (sy <= maxSy) {
            var sx = minSx
            while (sx <= maxSx) {
              // patch SSD / count over positions where BOTH patches are in-buffer
              var dist = 0.0; var cnt = 0
              var dy = -patchR
              while (dy <= patchR) {
                var dx = -patchR
                while (dx <= patchR) {
                  val yy1 = y0 + dy; val xx1 = x0 + dx
                  val yy2 = sy + dy; val xx2 = sx + dx
                  if (yy1 >= 0 && yy1 < sh && xx1 >= 0 && xx1 < sw &&
                      yy2 >= 0 && yy2 < sh && xx2 >= 0 && xx2 < sw) {
                    val d = inp(yy1 * sw + xx1) - inp(yy2 * sw + xx2)
                    dist += d * d; cnt += 1
                  }
                  dx += 1
                }
                dy += 1
              }
              val dd = if (cnt > 0) dist / cnt else 0.0
              val wgt = math.exp(-dd / h2)
              sumW += wgt; sumV += wgt * inp(sy * sw + sx)
              sx += 1
            }
            sy += 1
          }
          vA(y0 * sw + x0) = sumV / sumW
          x0 += 1
        }
        y0 += 1
      }
      // proximal Newton + Lagrange update
      k = 0
      while (k < len) {
        val r = vA(k) + wA(k)
        var u = r
        var i = 0
        while (i < 5) {
          val e = math.exp(yA(k) - u)
          u = u - (enl * (1.0 - e) + rho * (u - r)) / (enl * e + rho)
          i += 1
        }
        wA(k) = wA(k) + vA(k) - u
        uA(k) = u
        k += 1
      }
      it += 1
    }
    val out = new Array[Double](w * h)
    var p = 0
    while (p < w * h) {
      val hx = p % w + m; val hy = p / w + m
      val bk = (hy - by0) * sw + (hx - bx0)
      out(p) = if (invalid(bk)) ND else math.exp(uA(bk))
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * WSS deburst overlap-strip fold (reference DeburstWSSOp.java:43 ownership
   * rules): for each of the ov overlap rows j between burst b (last ov rows,
   * offset w*(h-ov)) and burst b+1 (first ov rows), fold the margin-valid
   * columns into quantized (n, peak, peak-i, avg) sums — peak keeps the
   * higher-power pixel (and ITS i channel), avg is the two-burst mean, single
   * sided where one burst is no-data. Returns a flat Long array of ov*4
   * (n, pk, pki, av) per row. Replaces a ~10-element_at-per-step interpreted
   * aggregate lambda that cost 311 s of the sf0.01 verify surface.
   */
  def wssOverlap(vaD: ArrayData, iaD: ArrayData, vbD: ArrayData, ibD: ArrayData,
      tileX: Int, w: Int, h: Int, ov: Int, margin: Int, wTotal: Int, q: Double): ArrayData = {
    val va = vaD.toDoubleArray(); val ia = iaD.toDoubleArray()
    val vb = vbD.toDoubleArray(); val ib = ibD.toDoubleArray()
    val topOff = w * (h - ov)
    val out = new Array[Long](ov * 4)
    var j = 0
    while (j < ov) {
      var n = 0L; var pk = 0L; var pki = 0L; var av = 0L
      var c = 0
      while (c < w) {
        val gx = tileX * w + c
        if (gx >= margin && gx <= wTotal - margin) {
          val a = va(topOff + j * w + c); val b = vb(j * w + c)
          if (!(a == ND && b == ND)) {
            n += 1
            if (b == ND) {
              pk += quant(a, q)
              pki += quant(ia(topOff + j * w + c), q)
              av += quant(a, q)
            } else if (a == ND) {
              pk += quant(b, q)
              pki += quant(ib(j * w + c), q)
              av += quant(b, q)
            } else {
              pk += quant(math.max(a, b), q)
              pki += quant(if (a >= b) ia(topOff + j * w + c) else ib(j * w + c), q)
              av += quant((a + b) / 2.0, q)
            }
          }
        }
        c += 1
      }
      out(j * 4) = n; out(j * 4 + 1) = pk; out(j * 4 + 2) = pki; out(j * 4 + 3) = av
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** WSS deburst pass-through fold: per burst-local row r, quantized
   * (n, pk, pki, av) sums over the margin-valid non-ND columns (pk = av = v
   * here — no pairing). Flat Long array of h*4. */
  def wssPass(vD: ArrayData, idD: ArrayData, tileX: Int, w: Int, h: Int,
      margin: Int, wTotal: Int, q: Double): ArrayData = {
    val v = vD.toDoubleArray(); val id = idD.toDoubleArray()
    val out = new Array[Long](h * 4)
    var r = 0
    while (r < h) {
      var n = 0L; var pk = 0L; var pki = 0L; var av = 0L
      var c = 0
      while (c < w) {
        val gx = tileX * w + c
        if (gx >= margin && gx <= wTotal - margin) {
          val x = v(r * w + c)
          if (x != ND) {
            n += 1
            val xq = quant(x, q)
            pk += xq; av += xq
            pki += quant(id(r * w + c), q)
          }
        }
        c += 1
      }
      out(r * 4) = n; out(r * 4 + 1) = pk; out(r * 4 + 2) = pki; out(r * 4 + 3) = av
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Azimuth power spectrum of the deramped complex signal (reference
   * DerampedAzimuthSpectrumOp.java:371-396): per image column, complex forward
   * FFT over the h azimuth lines, output |F|^2 / h^2 per bin. The deramp
   * rotation happens upstream (dyadic-quantized in both engines), so the kernel
   * is a pure linear transform on bit-identical inputs; the DuckDB oracle
   * restates it as a direct O(h^2) column DFT.
   */
  def azSpectrum(diD: ArrayData, dqD: ArrayData, w: Int, h: Int): ArrayData = {
    val di = diD.toDoubleArray(); val dq = dqD.toDoubleArray()
    val out = new Array[Double](w * h)
    val h2 = h.toDouble * h
    var x = 0
    while (x < w) {
      val cr = new Array[Double](h); val ci = new Array[Double](h)
      var y = 0
      while (y < h) { cr(y) = di(y * w + x); ci(y) = dq(y * w + x); y += 1 }
      val (fr, fi) = fft1d(cr, ci, inverse = false)
      y = 0
      // per-bin power is dyadically quantized (2^-12) BEFORE the gate's 1e-6
      // rollup: the oracle's direct O(h^2) DFT agrees with the FFT only to
      // ~1e-12, and without this snap a power landing within that drift of a
      // rollup quantum boundary flips the floor on one side (ADVICE r3)
      while (y < h) {
        out(y * w + x) = math.floor(((fr(y) * fr(y) + fi(y) * fi(y)) / h2) * 4096.0) / 4096.0
        y += 1
      }
      x += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------------ coregistration kernels

  /** Assemble a patch [y0, y0+ph) x [x0, x0+pw) in burst-local raster coords from a
   * collected set of tile rows struct(tile_x:int, tile_y:int, arr:array<double>).
   * Out-of-provided-tiles cells -> NaN marker (caller decides semantics). */
  private def assemble(tiles: ArrayData, x0: Int, y0: Int, pw: Int, ph: Int,
      tw: Int, th: Int): Array[Double] = {
    val out = Array.fill(pw * ph)(Double.NaN)
    val n = tiles.numElements()
    var i = 0
    while (i < n) {
      val r = tiles.getStruct(i, 3)
      val tx = r.getInt(0); val ty = r.getInt(1)
      val arr = r.getArray(2)
      val gx0 = tx * tw; val gy0 = ty * th
      var yy = math.max(y0, gy0)
      val yEnd = math.min(y0 + ph, gy0 + th)
      while (yy < yEnd) {
        var xx = math.max(x0, gx0)
        val xEnd = math.min(x0 + pw, gx0 + tw)
        while (xx < xEnd) {
          out((yy - y0) * pw + (xx - x0)) = arr.getDouble((yy - gy0) * tw + (xx - gx0))
          xx += 1
        }
        yy += 1
      }
      i += 1
    }
    out
  }

  /** In-place 2-D FFT (power-of-2 sides) as fft1d row then column passes. */
  private def fft2d(re: Array[Double], im: Array[Double], n: Int, inverse: Boolean): Unit = {
    val rowR = new Array[Double](n); val rowI = new Array[Double](n)
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) { rowR(x) = re(y * n + x); rowI(x) = im(y * n + x); x += 1 }
      val (cr, ci) = fft1d(rowR, rowI, inverse)
      x = 0
      while (x < n) { re(y * n + x) = cr(x); im(y * n + x) = ci(x); x += 1 }
      y += 1
    }
    var x = 0
    while (x < n) {
      var yy = 0
      while (yy < n) { rowR(yy) = re(yy * n + x); rowI(yy) = im(yy * n + x); yy += 1 }
      val (cr, ci) = fft1d(rowR, rowI, inverse)
      yy = 0
      while (yy < n) { re(yy * n + x) = cr(yy); im(yy * n + x) = ci(yy); yy += 1 }
      x += 1
    }
  }

  /**
   * FFT cross-correlation tie-point match with subpixel peak (the Spark-side analog
   * of jlinda CoregistrationUtils.java:186-288 + the CrossCorrelationOp iteration
   * loop :935-990 and coherence gate :891-907).
   *
   * refTiles/secTiles: collected covering tiles of the two images. (cx, cy):
   * burst-local GCP center. half: imagette half-size. searchR: max shift searched.
   * Returns struct(est_dx, est_dy, peak_ncc):
   *  1. zero-mean reference imagette (2*half)^2 and secondary window (+2R margin);
   *  2. raw cross-correlation surface via zero-padded 2-D FFTs (conj multiply);
   *  3. per-lag normalization -> NCC on the [-R, R]^2 lattice;
   *  4. iterative shrink loop: integer argmax, re-centered +-1 neighborhood,
   *     3-point parabolic subpixel interpolation per axis;
   *  5. peak NCC below threshold -> invalid (NaN estimates).
   */
  def fftXcorrMatch(refTiles: ArrayData, secTiles: ArrayData, cx: Int, cy: Int,
      half: Int, searchR: Int, tw: Int, th: Int): InternalRow = {
    val w = 2 * half

    def zeroMean(a: Array[Double]): Unit = {
      var s = 0.0; var n = 0; var i = 0
      while (i < a.length) { if (!a(i).isNaN) { s += a(i); n += 1 }; i += 1 }
      val m = if (n == 0) 0.0 else s / n
      i = 0
      while (i < a.length) { a(i) = if (a(i).isNaN) 0.0 else a(i) - m; i += 1 }
    }

    /** one FFT-NCC pass: sec window re-centered at (cx+offX, cy+offY), search +-r.
     * Returns (intDy, intDx, subDy, subDx, peakNcc). */
    def nccPass(offX: Int, offY: Int, r: Int): (Int, Int, Double, Double, Double) = {
      val sw = w + 2 * r
      val ref = assemble(refTiles, cx - half, cy - half, w, w, tw, th)
      val sec = assemble(secTiles, cx + offX - half - r, cy + offY - half - r, sw, sw, tw, th)
      zeroMean(ref); zeroMean(sec)
      var fn = 1
      while (fn < sw) fn <<= 1
      val aRe = new Array[Double](fn * fn); val aIm = new Array[Double](fn * fn)
      val bRe = new Array[Double](fn * fn); val bIm = new Array[Double](fn * fn)
      var y = 0
      while (y < w) { var x = 0; while (x < w) { aRe(y * fn + x) = ref(y * w + x); x += 1 }; y += 1 }
      y = 0
      while (y < sw) { var x = 0; while (x < sw) { bRe(y * fn + x) = sec(y * sw + x); x += 1 }; y += 1 }
      fft2d(aRe, aIm, fn, inverse = false)
      fft2d(bRe, bIm, fn, inverse = false)
      // C = conj(A) .* B -> ifft -> corr(u, v) = sum ref(y,x) sec(y+u, x+v)
      val cRe = new Array[Double](fn * fn); val cIm = new Array[Double](fn * fn)
      var i = 0
      while (i < fn * fn) {
        cRe(i) = aRe(i) * bRe(i) + aIm(i) * bIm(i)
        cIm(i) = aRe(i) * bIm(i) - aIm(i) * bRe(i)
        i += 1
      }
      fft2d(cRe, cIm, fn, inverse = true)
      val nl = 2 * r + 1
      val ncc = new Array[Double](nl * nl)
      var refNorm = 0.0
      i = 0
      while (i < ref.length) { refNorm += ref(i) * ref(i); i += 1 }
      var u = 0
      while (u < nl) {
        var v = 0
        while (v < nl) {
          var secNorm = 0.0
          var yy = 0
          while (yy < w) {
            var xx = 0
            while (xx < w) { val sv = sec((yy + u) * sw + (xx + v)); secNorm += sv * sv; xx += 1 }
            yy += 1
          }
          val c = cRe(u * fn + v)
          ncc(u * nl + v) =
            if (refNorm <= 0.0 || secNorm <= 0.0) 0.0 else c / math.sqrt(refNorm * secNorm)
          v += 1
        }
        u += 1
      }
      var bu = 0; var bv = 0; var best = Double.NegativeInfinity
      u = 0
      while (u < nl) {
        var v = 0
        while (v < nl) { if (ncc(u * nl + v) > best) { best = ncc(u * nl + v); bu = u; bv = v }; v += 1 }
        u += 1
      }
      def parab(cm: Double, c0: Double, cp: Double): Double = {
        val den = cm + cp - 2.0 * c0
        if (den >= 0.0) 0.0 else math.max(-0.5, math.min(0.5, (cm - cp) / (2.0 * den)))
      }
      val du = if (bu == 0 || bu == nl - 1) 0.0
        else parab(ncc((bu - 1) * nl + bv), ncc(bu * nl + bv), ncc((bu + 1) * nl + bv))
      val dv = if (bv == 0 || bv == nl - 1) 0.0
        else parab(ncc(bu * nl + (bv - 1)), ncc(bu * nl + bv), ncc(bu * nl + (bv + 1)))
      (bu - r, bv - r, du, dv, best)
    }

    /** periodic trigonometric resampling (the exact FFT-shift for even N, split
     * Nyquist): out(y, x) = b(y + sy, x + sx), separable row/column passes with
     * K(u) = sin(pi u)/(N tan(pi u / N)). */
    def shiftPeriodic(b: Array[Double], n: Int, sx: Double, sy: Double): Array[Double] = {
      def kern(u: Double, nn: Int): Double = {
        val r = u - math.rint(u)
        if (math.abs(r) < 1e-12) { if (math.floorMod(math.rint(u).toLong, nn.toLong) == 0L) 1.0 else 0.0 }
        else math.sin(math.Pi * u) / (nn * math.tan(math.Pi * u / nn))
      }
      val tmp = new Array[Double](n * n)
      var y = 0
      while (y < n) { // rows: sample at x + sx
        var x = 0
        while (x < n) {
          var s = 0.0
          var j = 0
          while (j < n) { s += b(y * n + j) * kern(x + sx - j, n); j += 1 }
          tmp(y * n + x) = s
          x += 1
        }
        y += 1
      }
      val out = new Array[Double](n * n)
      var x = 0
      while (x < n) { // columns: sample at y + sy
        var yy = 0
        while (yy < n) {
          var s = 0.0
          var j = 0
          while (j < n) { s += tmp(j * n + x) * kern(yy + sy - j, n); j += 1 }
          out(yy * n + x) = s
          yy += 1
        }
        x += 1
      }
      out
    }

    /** +-1 NCC + parabola of ref against a pre-shifted secondary window. */
    def refinePass(sec: Array[Double], sw: Int): (Int, Int, Double, Double, Double) = {
      val ref = assemble(refTiles, cx - half, cy - half, w, w, tw, th)
      zeroMean(ref)
      var sm = 0.0; var sn = 0
      var i = 0
      while (i < sec.length) { if (!sec(i).isNaN) { sm += sec(i); sn += 1 }; i += 1 }
      val mean = if (sn == 0) 0.0 else sm / sn
      val b = sec.map(v => if (v.isNaN) 0.0 else v - mean)
      val off = searchR - 1 // center the 3x3 lag lattice inside the sw window
      val ncc = new Array[Double](9)
      var refNorm = 0.0
      i = 0
      while (i < ref.length) { refNorm += ref(i) * ref(i); i += 1 }
      var u = 0
      while (u < 3) {
        var v = 0
        while (v < 3) {
          var c = 0.0; var bn = 0.0
          var yy = 0
          while (yy < w) {
            var xx = 0
            while (xx < w) {
              val bv = b((yy + off + u) * sw + (xx + off + v))
              c += ref(yy * w + xx) * bv
              bn += bv * bv
              xx += 1
            }
            yy += 1
          }
          ncc(u * 3 + v) = if (refNorm <= 0.0 || bn <= 0.0) 0.0 else c / math.sqrt(refNorm * bn)
          v += 1
        }
        u += 1
      }
      var bu = 0; var bv = 0; var best = Double.NegativeInfinity
      u = 0
      while (u < 3) {
        var v = 0
        while (v < 3) { if (ncc(u * 3 + v) > best) { best = ncc(u * 3 + v); bu = u; bv = v }; v += 1 }
        u += 1
      }
      def parab(cm: Double, c0: Double, cp: Double): Double = {
        val den = cm + cp - 2.0 * c0
        if (den >= 0.0) 0.0 else math.max(-0.5, math.min(0.5, (cm - cp) / (2.0 * den)))
      }
      val du = if (bu == 0 || bu == 2) 0.0 else parab(ncc(bv), ncc(3 + bv), ncc(6 + bv))
      val dv = if (bv == 0 || bv == 2) 0.0 else parab(ncc(bu * 3), ncc(bu * 3 + 1), ncc(bu * 3 + 2))
      (bu - 1, bv - 1, du, dv, best)
    }

    // pass 1: FFT NCC over the full search lattice + parabolic subpixel; then <= 5
    // refinement rounds re-sampling the secondary window at the running FRACTIONAL
    // estimate (periodic trig resampling == FFT shift) and re-correlating +-1 —
    // the oversampled-peak iteration of CoregistrationUtils.java:186-288 /
    // CrossCorrelationOp.java:935-990. Converges to ~0.03 px on the smooth fixtures.
    val sw = w + 2 * searchR
    val sec0 = assemble(secTiles, cx - half - searchR, cy - half - searchR, sw, sw, tw, th)
      .map(v => if (v.isNaN) Double.NaN else v)
    val (idy0, idx0, du0, dv0, p0) = nccPass(0, 0, searchR)
    var estX = idx0 + dv0
    var estY = idy0 + du0
    var peak = p0
    var iter = 0; var done = false
    while (iter < 5 && !done) {
      val shifted = shiftPeriodic(sec0.map(v => if (v.isNaN) 0.0 else v), sw, estX, estY)
      val (idy, idx, du, dv, p) = refinePass(shifted, sw)
      val stepX = idx + dv; val stepY = idy + du
      estX += stepX; estY += stepY
      peak = p
      done = math.abs(stepX) < 2e-3 && math.abs(stepY) < 2e-3
      iter += 1
    }
    val coherent = peak >= 0.3 // coherence gate (CrossCorrelationOp.java:891-907)
    InternalRow(
      if (coherent) estX else Double.NaN,
      if (coherent) estY else Double.NaN,
      peak)
  }

  /** Integer-lattice SSD match (the degenerate planted-translation case): argmin of
   * sum((ref - shifted sec)^2) over [-R, R]^2, ties broken by (dy, dx) ascending.
   * Returns struct(est_dx:int, est_dy:int, ssd_min:double). */
  def ssdMatch(refTiles: ArrayData, secTiles: ArrayData, cx: Int, cy: Int,
      half: Int, searchR: Int, tw: Int, th: Int): InternalRow = {
    val w = 2 * half
    val sw = w + 2 * searchR
    val ref = assemble(refTiles, cx - half, cy - half, w, w, tw, th)
    val sec = assemble(secTiles, cx - half - searchR, cy - half - searchR, sw, sw, tw, th)
    var bdx = 0; var bdy = 0; var bssd = Double.PositiveInfinity
    var dy = -searchR
    while (dy <= searchR) {
      var dx = -searchR
      while (dx <= searchR) {
        var ssd = 0.0
        var y = 0
        while (y < w) {
          var x = 0
          while (x < w) {
            val r = ref(y * w + x)
            val s = sec((y + searchR + dy) * sw + (x + searchR + dx))
            if (!r.isNaN && !s.isNaN) { val d = r - s; ssd += d * d }
            x += 1
          }
          y += 1
        }
        if (ssd < bssd) { bssd = ssd; bdx = dx; bdy = dy }
        dx += 1
      }
      dy += 1
    }
    InternalRow(bdx, bdy, bssd)
  }

  /** Aligned-stack diff for one reference tile: gather sec pixels at (gx+sdx, gy+sdy)
   * from the provided covering sec tiles; returns struct(n:long, max_abs:double) over
   * pixels whose shifted partner exists (within the provided tiles = within burst). */
  def alignDiff(refArr: ArrayData, secTiles: ArrayData, tileX: Int, tileY: Int,
      sdx: Int, sdy: Int, tw: Int, th: Int): InternalRow = {
    val ref = refArr.toDoubleArray()
    val x0 = tileX * tw + sdx
    val y0 = tileY * th + sdy
    val sec = assemble(secTiles, x0, y0, tw, th, tw, th)
    var n = 0L; var mx = 0.0
    var i = 0
    while (i < ref.length) {
      val s = sec(i)
      if (!s.isNaN) {
        n += 1
        val d = math.abs(ref(i) - s)
        if (d > mx) mx = d
      }
      i += 1
    }
    InternalRow(n, mx)
  }

  // -------------------------------------------------------------- complex cross kernels

  /** Complex cross products of two complex tiles: returns struct of 4 arrays
   * (cre, cim, p1, p2) with no-data propagation — the native twin of
   * InSAR.crossTiles' four HOF passes in ONE pass. */
  def complexCross(i1d: ArrayData, q1d: ArrayData, i2d: ArrayData, q2d: ArrayData): InternalRow = {
    @inline def qz(a: Array[Double]): Array[Double] = {
      var j = 0
      while (j < a.length) { a(j) = math.floor(a(j) * 4096.0) / 4096.0; j += 1 }
      a
    }
    // snap i/q to the dyadic 2^-12 grid (Raster.Dyadic): downstream window sums stay
    // exact in double, bit-identical to the oracle's arbitrary-order SQL sums.
    val i1 = qz(i1d.toDoubleArray()); val q1 = qz(q1d.toDoubleArray())
    val i2 = qz(i2d.toDoubleArray()); val q2 = qz(q2d.toDoubleArray())
    val n = i1.length
    val cre = new Array[Double](n); val cim = new Array[Double](n)
    val p1 = new Array[Double](n); val p2 = new Array[Double](n)
    var k = 0
    while (k < n) {
      if (isNd(i1(k)) || isNd(q1(k)) || isNd(i2(k)) || isNd(q2(k))) {
        cre(k) = ND; cim(k) = ND; p1(k) = ND; p2(k) = ND
      } else {
        cre(k) = i1(k) * i2(k) + q1(k) * q2(k)
        cim(k) = q1(k) * i2(k) - i1(k) * q2(k)
        p1(k) = i1(k) * i1(k) + q1(k) * q1(k)
        p2(k) = i2(k) * i2(k) + q2(k) * q2(k)
      }
      k += 1
    }
    InternalRow(
      UnsafeArrayData.fromPrimitiveArray(cre), UnsafeArrayData.fromPrimitiveArray(cim),
      UnsafeArrayData.fromPrimitiveArray(p1), UnsafeArrayData.fromPrimitiveArray(p2))
  }

  /** Windowed coherence over 4 halo channels (cre, cim, p1, p2):
   * |sum c| / sqrt(sum p1 * sum p2), window sums in (dy, dx) row-major order
   * (CoherenceOp.java:722, 752-755). */
  def coherence(creH: ArrayData, cimH: ArrayData, p1H: ArrayData, p2H: ArrayData,
      w: Int, h: Int, m: Int): ArrayData = {
    val hw = w + 2 * m
    val cre = haloChannel(creH, w, h, m); val cim = haloChannel(cimH, w, h, m)
    val p1 = haloChannel(p1H, w, h, m); val p2 = haloChannel(p2H, w, h, m)
    val out = new Array[Double](w * h)
    val s = new Array[Double](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val n = windowSums4(p1, p2, cre, cim, hw, x, y, m, s)
        val sp1 = s(0); val sp2 = s(1); val sre = s(2); val sim = s(3)
        // zero-power guard: an all-zero window would give 0/0 = NaN (or +Inf with
        // one-sided zero power) — return ND like the n == 0 branch (ADVICE r2)
        out(y * w + x) =
          if (n == 0 || sp1 <= 0.0 || sp2 <= 0.0) ND
          else math.sqrt(sre * sre + sim * sim) / math.sqrt(sp1 * sp2)
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The channels of an array<array<double>> kernel argument as primitive arrays,
   * or null when any channel is null (the kernel then returns a null row). */
  private def channels(chD: ArrayData): Array[Array[Double]] = {
    val out = new Array[Array[Double]](chD.numElements())
    var c = 0
    while (c < out.length) {
      if (chD.isNullAt(c)) return null
      out(c) = chD.getArray(c).toDoubleArray()
      c += 1
    }
    out
  }

  // --------------------------------------------------------- RPCA change detection

  /** RPCA quantization grid for the per-tile Gram matrix (exact integer sums). */
  val RpcaQ = 1.0e3
  val RpcaIters = 20

  /**
   * RPCA-style change detection over a K-epoch intensity stack (reference
   * RPCAOp.java:45 low-rank + sparse split, one alternation): per TILE, the K x K
   * Gram matrix M = sum_px v v^T accumulated on an exact integer grid, the
   * dominant eigenvector u by RpcaIters power iterations (all-ones start, chains
   * staged exactly as the unrolled SQL oracle), then per pixel the rank-1
   * low-rank part L = (v·u) u and the sparse residual S = v - L; output = count
   * of |S_e| > tau per epoch (+ valid pixel count). The Gram entries are exact
   * integers, so both engines iterate on identical doubles.
   */
  def rpcaTile(chD: ArrayData, tau: Double): InternalRow = {
    val ch = channels(chD)
    if (ch == null) return null
    val K = ch.length
    val len = ch(0).length
    val g = Array.ofDim[Long](K, K)
    var i = 0
    while (i < len) {
      var ok = true
      var c = 0
      while (c < K) { if (isNd(ch(c)(i))) ok = false; c += 1 }
      if (ok) {
        var a = 0
        while (a < K) {
          var b = a
          while (b < K) {
            g(a)(b) += quant(ch(a)(i) * ch(b)(i), RpcaQ)
            b += 1
          }
          a += 1
        }
      }
      i += 1
    }
    val m = Array.ofDim[Double](K, K)
    var a = 0
    while (a < K) {
      var b = 0
      while (b < K) { m(a)(b) = g(math.min(a, b))(math.max(a, b)) / RpcaQ; b += 1 }
      a += 1
    }
    val u = Array.fill(K)(1.0)
    val w = new Array[Double](K)
    var it = 0
    while (it < RpcaIters) {
      var e = 0
      while (e < K) {
        var acc = 0.0
        var f = 0
        while (f < K) { acc = acc + m(e)(f) * u(f); f += 1 }
        w(e) = acc
        e += 1
      }
      var s = 0.0
      var e2 = 0
      while (e2 < K) { s = s + w(e2) * w(e2); e2 += 1 }
      val nrm = math.sqrt(s)
      var e3 = 0
      while (e3 < K) { u(e3) = if (nrm > 0.0) w(e3) / nrm else 0.0; e3 += 1 }
      it += 1
    }
    var n = 0L
    val cnt = new Array[Long](K)
    i = 0
    while (i < len) {
      var ok = true
      var c = 0
      while (c < K) { if (isNd(ch(c)(i))) ok = false; c += 1 }
      if (ok) {
        n += 1
        var proj = 0.0
        var e = 0
        while (e < K) { proj = proj + ch(e)(i) * u(e); e += 1 }
        var e2 = 0
        while (e2 < K) {
          if (math.abs(ch(e2)(i) - proj * u(e2)) > tau) cnt(e2) += 1
          e2 += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](K + 1)
    out(0) = n
    var e = 0
    while (e < K) { out(e + 1) = cnt(e); e += 1 }
    new GenericInternalRow(out)
  }

  // ----------------------------------------------------------- sparse detection

  /** Indices of above-threshold pixels in one compiled pass — the sparse
   * extraction that keeps connected-components clustering from exploding the full
   * pixel volume into rows. */
  def aboveThr(vD: ArrayData, thr: Double): ArrayData = {
    val v = vD.toDoubleArray()
    var n = 0
    var i = 0
    while (i < v.length) { if (!isNd(v(i)) && v(i) > thr) n += 1; i += 1 }
    val out = new Array[Int](n)
    var j = 0
    i = 0
    while (i < v.length) { if (!isNd(v(i)) && v(i) > thr) { out(j) = i; j += 1 }; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ---------------------------------------------------------- GRD border noise

  /** Per-tile per-row first/last above-threshold column index (-1 = none) — the
   * distributed partial of the GRD border-noise inward scan
   * (RemoveGRDBorderNoiseOp.java:54): per-row global bounds then combine as
   * min/max over the row's tiles. */
  def rowScan(vD: ArrayData, w: Int, h: Int, thr: Double): InternalRow = {
    val v = vD.toDoubleArray()
    val first = new Array[Int](h); val last = new Array[Int](h)
    var y = 0
    while (y < h) {
      var f = -1; var l = -1
      var x = 0
      while (x < w) {
        if (v(y * w + x) > thr) { if (f < 0) f = x; l = x }
        x += 1
      }
      first(y) = f; last(y) = l
      y += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(first),
      UnsafeArrayData.fromPrimitiveArray(last))
  }

  // ------------------------------------------------------------ phase linking

  /**
   * Phase Linking over a K-epoch SLC stack (reference PhaseLinkingOp.java:87,
   * docs/Phase-Linking-Explained.md): per pixel, the K x K sample coherency matrix
   * C_ef = sum over the (2m+1)^2 window of z_e * conj(z_f) (exact dyadic window
   * sums), then the dominant eigenvector by 20 power iterations from the all-ones
   * start vector; the linked phase history is arg(v_e * conj(v_0)). Returns
   * per-tile (n, sum_q(ph_1..ph_{K-1})) at quantum 1e6. The matvec/normalization
   * accumulation chains are staged EXACTLY as the unrolled SQL oracle
   * (left-associated f-ascending sums, uniform diagonal terms with I = 0).
   */
  val PhaseLinkEpochs = 5
  val PhaseLinkIters = 20

  def phaseLinkTile(chD: ArrayData, w: Int, h: Int, m: Int): InternalRow = {
    val K = PhaseLinkEpochs
    val hw = w + 2 * m
    val ch = channels(chD) // i0, q0, i1, q1, ...
    if (ch == null) return null
    // window-summed Hermitian C per pixel: diag(K) + upper-triangle complex
    val d = new Array[Double](K)
    val cr = Array.ofDim[Double](K, K)
    val ci = Array.ofDim[Double](K, K)
    val vr = new Array[Double](K); val vi = new Array[Double](K)
    val ur = new Array[Double](K); val ui = new Array[Double](K)
    var n = 0L
    val sums = new Array[Long](K) // index 1..K-1 used
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        java.util.Arrays.fill(d, 0.0)
        var e = 0
        while (e < K) { java.util.Arrays.fill(cr(e), 0.0); java.util.Arrays.fill(ci(e), 0.0); e += 1 }
        var cnt = 0
        var dy = -m
        while (dy <= m) {
          var dx = -m
          while (dx <= m) {
            val idx = (y + m + dy) * hw + (x + m + dx)
            var ok = true
            var c = 0
            while (c < 2 * K) { if (isNd(ch(c)(idx))) ok = false; c += 1 }
            if (ok) {
              cnt += 1
              var a = 0
              while (a < K) {
                val ar = ch(2 * a)(idx); val ai = ch(2 * a + 1)(idx)
                d(a) += ar * ar + ai * ai
                var b = a + 1
                while (b < K) {
                  val br = ch(2 * b)(idx); val bi = ch(2 * b + 1)(idx)
                  cr(a)(b) += ar * br + ai * bi
                  ci(a)(b) += ai * br - ar * bi
                  b += 1
                }
                a += 1
              }
            }
            dx += 1
          }
          dy += 1
        }
        val trace = (((d(0) + d(1)) + d(2)) + d(3)) + d(4)
        if (cnt > 0 && trace > 0.0) {
          java.util.Arrays.fill(vr, 1.0); java.util.Arrays.fill(vi, 0.0)
          var it = 0
          while (it < PhaseLinkIters) {
            var e2 = 0
            while (e2 < K) {
              var accR = 0.0; var accI = 0.0
              var f = 0
              while (f < K) {
                // R_ef / I_ef of the Hermitian matrix (I = 0 on the diagonal)
                val rEf = if (f == e2) d(e2) else if (f > e2) cr(e2)(f) else cr(f)(e2)
                val iEf = if (f == e2) 0.0 else if (f > e2) ci(e2)(f) else -ci(f)(e2)
                accR = accR + rEf * vr(f)
                accR = accR - iEf * vi(f)
                accI = accI + rEf * vi(f)
                accI = accI + iEf * vr(f)
                f += 1
              }
              ur(e2) = accR; ui(e2) = accI
              e2 += 1
            }
            var s2 = 0.0
            var e3 = 0
            while (e3 < K) { s2 = s2 + (ur(e3) * ur(e3) + ui(e3) * ui(e3)); e3 += 1 }
            val nrm = math.sqrt(s2)
            var e4 = 0
            while (e4 < K) { vr(e4) = ur(e4) / nrm; vi(e4) = ui(e4) / nrm; e4 += 1 }
            it += 1
          }
          n += 1
          var e5 = 1
          while (e5 < K) {
            val wr = vr(e5) * vr(0) + vi(e5) * vi(0)
            val wi = vi(e5) * vr(0) - vr(e5) * vi(0)
            val ph = math.atan2(wi, wr)
            sums(e5) += q6l(ph)
            e5 += 1
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(n, sums(1), sums(2), sums(3), sums(4))
  }

  // ------------------------------------------------ zero-Doppler bisection (TC)

  /**
   * General zero-Doppler solve on an interpolated orbit (SARGeocoding.java:64-107
   * getEarthPointZeroDopplerTime + ApplyOrbitFileOp.java:60-101 Lagrange): 40-round
   * bisection of f(t) = V(t)·(S(t) - P) over the state-vector time span, with
   * degree-3 Lagrange interpolation over the 4 bracketing SVs at every evaluation.
   * Returns (t_zd, slant = |S(t_zd) - P|). The identical iteration arithmetic
   * (mid = (lo+hi)/2, branch on f < 0, uniform-grid bracket index
   * floor((t-ts0)/dt)+1 clamped to [2, n-2]) is unrolled in the DuckDB oracle —
   * bit-identical trajectories on both engines. The orbit arrays are read in
   * place: the kernel runs once per target cell, and copying the seven per-scene
   * arrays out on every call was most of its allocation.
   */
  def zeroDopplerBisect(ts: ArrayData, xs: ArrayData, ys: ArrayData, zs: ArrayData,
      vxs: ArrayData, vys: ArrayData, vzs: ArrayData,
      tx: Double, ty: Double, h: Double): InternalRow = {
    val n = ts.numElements()
    val ts0 = ts.getDouble(0)
    val dt = ts.getDouble(1) - ts.getDouble(0)
    // Lagrange-interpolated (X, Y, Z, VX, VY, VZ) at t into out(0..5)
    val s = new Array[Double](6)
    def interp(t: Double): Unit = {
      var k = math.floor((t - ts0) / dt).toInt + 1
      if (k < 2) k = 2
      if (k > n - 2) k = n - 2
      val t1 = ts.getDouble(k - 2); val t2 = ts.getDouble(k - 1)
      val t3 = ts.getDouble(k); val t4 = ts.getDouble(k + 1)
      val w1 = ((t - t2) * (t - t3) * (t - t4)) / ((t1 - t2) * (t1 - t3) * (t1 - t4))
      val w2 = ((t - t1) * (t - t3) * (t - t4)) / ((t2 - t1) * (t2 - t3) * (t2 - t4))
      val w3 = ((t - t1) * (t - t2) * (t - t4)) / ((t3 - t1) * (t3 - t2) * (t3 - t4))
      val w4 = ((t - t1) * (t - t2) * (t - t3)) / ((t4 - t1) * (t4 - t2) * (t4 - t3))
      def lerp(a: ArrayData): Double =
        w1 * a.getDouble(k - 2) + w2 * a.getDouble(k - 1) + w3 * a.getDouble(k) + w4 * a.getDouble(k + 1)
      s(0) = lerp(xs); s(1) = lerp(ys); s(2) = lerp(zs)
      s(3) = lerp(vxs); s(4) = lerp(vys); s(5) = lerp(vzs)
    }
    var lo = ts0
    var hi = ts.getDouble(n - 1)
    var it = 0
    while (it < 40) {
      val mid = (lo + hi) / 2
      interp(mid)
      val f = s(3) * (s(0) - tx) + s(4) * (s(1) - ty) + s(5) * (s(2) - h)
      if (f < 0.0) lo = mid else hi = mid
      it += 1
    }
    val tzd = (lo + hi) / 2
    interp(tzd)
    val slant = math.sqrt((s(0) - tx) * (s(0) - tx) + (s(1) - ty) * (s(1) - ty) + (s(2) - h) * (s(2) - h))
    InternalRow(tzd, slant)
  }

  // --------------------------------------------------- quad-pol T3 family (rstb)

  /**
   * Quad-pol coherency-matrix family (reference rstb PolarimetricMatricesOp.java:48
   * T3 generation; PolarimetricDecompositionOp.java:47 H-A-alpha via the 3x3
   * Hermitian eigen problem; PolarimetricClassificationOp.java:43 H-alpha Wishart).
   *
   * Scattering vector in the UNnormalized Pauli basis p = (HH+VV, HH-VV, HV+VH)
   * (the 1/sqrt2 factors fold into T = p p^H / 2, exact on the dyadic grid), so
   * per-pixel T3 entries and their 3x3 window sums are exact doubles that DuckDB
   * reproduces bit-for-bit. Eigenvalues by the closed-form Cardano solve,
   * eigenvectors by the complex cross product of two rows of (T - lambda I); the
   * identical formula text is staged in the SarOraclesQuad SQL.
   *
   * Channel order everywhere: t11, t22, t33, t12r, t12i, t13r, t13i, t23r, t23i.
   */
  @inline private def t3Px(ihh: Double, qhh: Double, ihv: Double, qhv: Double,
      ivh: Double, qvh: Double, ivv: Double, qvv: Double, out: Array[Double]): Unit = {
    val p1r = ihh + ivv; val p1i = qhh + qvv
    val p2r = ihh - ivv; val p2i = qhh - qvv
    val p3r = ihv + ivh; val p3i = qhv + qvh
    out(0) = (p1r * p1r + p1i * p1i) / 2
    out(1) = (p2r * p2r + p2i * p2i) / 2
    out(2) = (p3r * p3r + p3i * p3i) / 2
    out(3) = (p1r * p2r + p1i * p2i) / 2
    out(4) = (p1i * p2r - p1r * p2i) / 2
    out(5) = (p1r * p3r + p1i * p3i) / 2
    out(6) = (p1i * p3r - p1r * p3i) / 2
    out(7) = (p2r * p3r + p2i * p3i) / 2
    out(8) = (p2i * p3r - p2r * p3i) / 2
  }

  /** The 8 quad-pol channels (i/q x HH, HV, VH, VV) as primitive arrays, in the
   * order that quadValid, t3Px and every quad-pol kernel index them, checked to
   * share one length. */
  private def quadChannels(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData): Array[Array[Double]] = {
    val ch = Array(hhI.toDoubleArray(), hhQ.toDoubleArray(), hvI.toDoubleArray(),
      hvQ.toDoubleArray(), vhI.toDoubleArray(), vhQ.toDoubleArray(),
      vvI.toDoubleArray(), vvQ.toDoubleArray())
    require(ch.forall(_.length == ch(0).length),
      s"quad-pol channel lengths ${ch.map(_.length).mkString(", ")} differ")
    ch
  }

  /** quadChannels of a margin-m windowed quad-pol kernel, checked against the
   * (w + 2m) x (h + 2m) layout that its window reads assume. */
  private def quadHalo(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      w: Int, h: Int, m: Int): Array[Array[Double]] = {
    val ch = quadChannels(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ)
    requireHalo(ch(0).length, w, h, m)
    ch
  }

  @inline private def quadValid(a: Array[Array[Double]], idx: Int): Boolean = {
    var c = 0
    while (c < 8) { if (isNd(a(c)(idx))) return false; c += 1 }
    true
  }

  /** Per-tile integer-exact sums of the 9 per-pixel T3 entries (+ valid count) —
   * the T3 matrix-generation gate (quantum 1e6). Inputs: 8 tile arrays
   * (i/q x HH,HV,VH,VV), dyadic-snapped by the caller. */
  def t3Sums(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData): InternalRow = {
    val ch = quadChannels(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ)
    val t = new Array[Double](9)
    val s = new Array[Long](9)
    var n = 0L
    var i = 0
    while (i < ch(0).length) {
      if (quadValid(ch, i)) {
        t3Px(ch(0)(i), ch(1)(i), ch(2)(i), ch(3)(i), ch(4)(i), ch(5)(i), ch(6)(i), ch(7)(i), t)
        n += 1
        var j = 0
        while (j < 9) { s(j) += q6l(t(j)); j += 1 }
      }
      i += 1
    }
    InternalRow(n, s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7), s(8))
  }

  /** Windowed-T3 sums for pixel (x, y) of a margin-m halo set; fills win(0)=n and
   * win(1..9) = the 9 channel sums. */
  private def t3Win(ch: Array[Array[Double]], hw: Int, x: Int, y: Int, m: Int,
      t: Array[Double], win: Array[Double]): Unit = {
    java.util.Arrays.fill(win, 0.0)
    var dy = -m
    while (dy <= m) {
      var dx = -m
      while (dx <= m) {
        val idx = (y + m + dy) * hw + (x + m + dx)
        if (quadValid(ch, idx)) {
          t3Px(ch(0)(idx), ch(1)(idx), ch(2)(idx), ch(3)(idx), ch(4)(idx), ch(5)(idx),
            ch(6)(idx), ch(7)(idx), t)
          win(0) += 1
          var j = 0
          while (j < 9) { win(j + 1) += t(j); j += 1 }
        }
        dx += 1
      }
      dy += 1
    }
  }

  private val Log3 = math.log(3.0)
  private val TwoPiThird = 2.0 * math.Pi / 3.0

  /**
   * Eigenvalues ev(0) >= ev(1) >= ev(2) of the 3x3 Hermitian matrix in win(1..9)
   * (t11, t22, t33, t12r, t12i, t13r, t13i, t23r, t23i, at any positive scale)
   * by Cardano's trigonometric solve of the characteristic cubic, staged exactly
   * as the SarOraclesQuad SQL. It stands in for the EigenDecomposition of the
   * reference's H-A-alpha, Touzi, Cloude and parameter operators
   * (PolarimetricDecompositionOp.java:47, PolarimetricParametersOp.java).
   * Returns p1, the squared norm of the off-diagonal entries: p1 == 0 means the
   * matrix is diagonal and ev holds its diagonal, largest and smallest exact.
   */
  private[graft] def eig3H(win: Array[Double], ev: Array[Double]): Double = {
    val a = win(1); val b = win(2); val c = win(3)
    val d12r = win(4); val d12i = win(5); val d13r = win(6); val d13i = win(7)
    val d23r = win(8); val d23i = win(9)
    val tr = a + b + c
    val p1 = d12r * d12r + d12i * d12i + d13r * d13r + d13i * d13i + d23r * d23r + d23i * d23i
    if (p1 == 0.0) {
      ev(0) = math.max(a, math.max(b, c))
      ev(2) = math.min(a, math.min(b, c))
    } else {
      val q = tr / 3.0
      val p2 = (a - q) * (a - q) + (b - q) * (b - q) + (c - q) * (c - q) + 2.0 * p1
      val p = math.sqrt(p2 / 6.0)
      val b11 = (a - q) / p; val b22 = (b - q) / p; val b33 = (c - q) / p
      val e12r = d12r / p; val e12i = d12i / p
      val e13r = d13r / p; val e13i = d13i / p
      val e23r = d23r / p; val e23i = d23i / p
      val detB = b11 * b22 * b33 - b11 * (e23r * e23r + e23i * e23i) -
        b22 * (e13r * e13r + e13i * e13i) - b33 * (e12r * e12r + e12i * e12i) +
        2.0 * ((e12r * e23r - e12i * e23i) * e13r + (e12r * e23i + e12i * e23r) * e13i)
      var r = detB / 2.0
      if (r < -1.0) r = -1.0
      if (r > 1.0) r = 1.0
      val phi = math.acos(r) / 3.0
      ev(0) = q + 2.0 * p * math.cos(phi)
      ev(2) = q + 2.0 * p * math.cos(phi + TwoPiThird)
    }
    ev(1) = tr - ev(0) - ev(2)
    p1
  }

  /** Eigenvector of the win(1..9) Hermitian matrix for its eigenvalue lk, as
   * the H-A-alpha angle and Touzi.java:215-280 read it: the cross product of
   * rows 1 and 2 of T - lk I, unnormalized (the reference's EigenDecomposition
   * returns unit vectors; callers divide by the norm). Fills
   * v = (v1r, v1i, v2r, v2i, v3r), v3 being real, and returns the squared norm,
   * 0 when the two rows are parallel. */
  private def eigVec3H(win: Array[Double], lk: Double, v: Array[Double]): Double = {
    val a = win(1); val b = win(2)
    val d12r = win(4); val d12i = win(5); val d13r = win(6); val d13i = win(7)
    val d23r = win(8); val d23i = win(9)
    // r1 = (a-l, d12, d13); r2 = (conj(d12), b-l, d23)
    val v1r = d12r * d23r - d12i * d23i - d13r * (b - lk)
    val v1i = d12r * d23i + d12i * d23r - d13i * (b - lk)
    val v2r = d13r * d12r + d13i * d12i - (a - lk) * d23r
    val v2i = d13i * d12r - d13r * d12i - (a - lk) * d23i
    val v3r = (a - lk) * (b - lk) - (d12r * d12r + d12i * d12i)
    v(0) = v1r; v(1) = v1i; v(2) = v2r; v(3) = v2i; v(4) = v3r
    v1r * v1r + v1i * v1i + v2r * v2r + v2i * v2i + v3r * v3r
  }

  /** Cardano H-A-alpha of one windowed T3 (win as from t3Win, win(0)=n > 0).
   * Fills haa = (entropy, anisotropy, alphaDeg); ev and v are eig3H / eigVec3H
   * scratch. Formula staged EXACTLY as the SarOraclesQuad SQL (same association
   * order). */
  private def hAlphaOf(win: Array[Double], ev: Array[Double], v: Array[Double],
      haa: Array[Double]): Unit = {
    val a = win(1)
    val tr = a + win(2) + win(3)
    if (tr <= 0.0) { haa(0) = ND; haa(1) = ND; haa(2) = ND; return }
    val p1 = eig3H(win, ev)
    val l1 = ev(0); val l2 = ev(1); val l3 = ev(2)
    // probabilities (clamped), entropy base 3
    var h = 0.0
    var k = 0
    while (k < 3) {
      val l = if (k == 0) l1 else if (k == 1) l2 else l3
      var pk = l / tr
      if (pk < 0.0) pk = 0.0
      if (pk > 0.0) h -= pk * (math.log(pk) / Log3)
      k += 1
    }
    val anis = if (l2 + l3 > 0.0) (l2 - l3) / (l2 + l3) else 0.0
    // mean alpha from the eigenvectors
    var alpha = 0.0
    if (p1 == 0.0) {
      // diagonal T: eigenvectors are the unit axes; alpha = 0 for the t11 axis,
      // 90 deg otherwise
      var kk = 0
      while (kk < 3) {
        val l = if (kk == 0) l1 else if (kk == 1) l2 else l3
        var pk = l / tr
        if (pk < 0.0) pk = 0.0
        alpha += pk * (if (l == a) 0.0 else 90.0)
        kk += 1
      }
    } else {
      var kk = 0
      while (kk < 3) {
        val l = if (kk == 0) l1 else if (kk == 1) l2 else l3
        var pk = l / tr
        if (pk < 0.0) pk = 0.0
        val norm2 = eigVec3H(win, l, v)
        val ak =
          if (norm2 <= 0.0) 0.0
          else {
            var cosA = math.sqrt((v(0) * v(0) + v(1) * v(1)) / norm2)
            if (cosA > 1.0) cosA = 1.0
            math.acos(cosA) * (180.0 / math.Pi)
          }
        alpha += pk * ak
        kk += 1
      }
    }
    haa(0) = h; haa(1) = anis; haa(2) = alpha
  }

  /** Per-tile H-A-alpha rollup over margin-m windowed T3: returns (n_valid,
   * sum_q(H), sum_q(A), sum_q(alphaDeg)) with quantum 1e6. A pixel is valid when
   * its window has at least one valid quad-pol sample and tr > 0 (mirrors the C2
   * window gates). */
  def hAlphaTile(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      w: Int, h: Int, m: Int): InternalRow = {
    val hw = w + 2 * m
    val ch = quadHalo(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ, w, h, m)
    val t = new Array[Double](9)
    val win = new Array[Double](10)
    val haa = new Array[Double](3)
    val ev = new Array[Double](3); val v = new Array[Double](5)
    var n = 0L; var hs = 0L; var as = 0L; var als = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        t3Win(ch, hw, x, y, m, t, win)
        if (win(0) > 0) {
          hAlphaOf(win, ev, v, haa)
          if (!isNd(haa(0))) {
            n += 1
            hs += q6l(haa(0))
            as += q6l(haa(1))
            als += q6l(haa(2))
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(n, hs, as, als)
  }

  /** H-alpha plane zone 0..8 (3 entropy bands x 3 alpha bands; the reference's
   * 9-zone plane, PolarimetricClassificationOp.java:43 — infeasible-zone merging
   * is a documented deviation). */
  @inline private def zoneOf(hEnt: Double, alphaDeg: Double): Int = {
    val hb = if (hEnt < 0.5) 0 else if (hEnt < 0.9) 1 else 2
    val ab = if (alphaDeg >= 47.5) 0 else if (alphaDeg >= 42.5) 1 else 2
    hb * 3 + ab
  }

  /** Wishart quantization grid for the windowed-T3 channel sums accumulated into
   * cluster centers: coarse (1e3) so global integer sums stay far from overflow. */
  val WishartQ = 1.0e3

  /**
   * One Wishart pass over a tile. centers == null: SEED mode is keyed by the
   * H-alpha zone of each pixel; centers != null: pixels are keyed by the argmin
   * revised-Wishart distance d_z = ln det(C_z) + tr(C_z^-1 Tbar) over the 9
   * centers (flat 10 longs per zone: cnt + 9 quantized channel sums; cnt == 0 =
   * dead zone). Returns 9 rows of (zone, cnt, 9 quantized windowed-sum channel
   * sums) — per-tile partials that a global groupBy folds into the next centers
   * (so the iteration is one narrow shuffle per round at any scale).
   */
  def wishartTile(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      centersD: ArrayData, w: Int, h: Int, m: Int): ArrayData = {
    val hw = w + 2 * m
    val ch = quadHalo(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ, w, h, m)
    val centers =
      if (centersD == null || centersD.numElements() == 0) null else centersD.toLongArray()
    // precompute per-zone ln det + inverse entries from the exact integer centers
    val zinv = new Array[Array[Double]](9) // (lndet, i11,i22,i33,i12r,i12i,i13r,i13i,i23r,i23i)
    if (centers != null) {
      var z = 0
      while (z < 9) {
        val cnt = centers(z * 10)
        if (cnt > 0) {
          val cs = new Array[Double](9)
          var j = 0
          while (j < 9) { cs(j) = centers(z * 10 + 1 + j) / WishartQ / cnt; j += 1 }
          val a = cs(0); val b = cs(1); val c = cs(2)
          val d12r = cs(3); val d12i = cs(4); val d13r = cs(5); val d13i = cs(6)
          val d23r = cs(7); val d23i = cs(8)
          val det = a * b * c - a * (d23r * d23r + d23i * d23i) -
            b * (d13r * d13r + d13i * d13i) - c * (d12r * d12r + d12i * d12i) +
            2.0 * ((d12r * d23r - d12i * d23i) * d13r + (d12r * d23i + d12i * d23r) * d13i)
          if (det > 0.0) {
            // Hermitian inverse by adjugate: diag cofactors real, off-diag complex
            val i11 = (b * c - (d23r * d23r + d23i * d23i)) / det
            val i22 = (a * c - (d13r * d13r + d13i * d13i)) / det
            val i33 = (a * b - (d12r * d12r + d12i * d12i)) / det
            // (C^-1)_12 = (d13 * conj(d23) - d12 * c) / det
            val i12r = (d13r * d23r + d13i * d23i - d12r * c) / det
            val i12i = (d13i * d23r - d13r * d23i - d12i * c) / det
            // (C^-1)_13 = (d12 * d23 - d13 * b) / det
            val i13r = (d12r * d23r - d12i * d23i - d13r * b) / det
            val i13i = (d12r * d23i + d12i * d23r - d13i * b) / det
            // (C^-1)_23 = (d13 * conj(d12) - a * d23) / det
            val i23r = (d13r * d12r + d13i * d12i - a * d23r) / det
            val i23i = (d13i * d12r - d13r * d12i - a * d23i) / det
            zinv(z) = Array(math.log(det), i11, i22, i33, i12r, i12i, i13r, i13i, i23r, i23i)
          }
        }
        z += 1
      }
    }
    val t = new Array[Double](9)
    val win = new Array[Double](10)
    val haa = new Array[Double](3)
    val ev = new Array[Double](3); val v = new Array[Double](5)
    val cnt = new Array[Long](9)
    val sums = Array.ofDim[Long](9, 9)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        t3Win(ch, hw, x, y, m, t, win)
        if (win(0) > 0) {
          val n = win(0)
          var zone = -1
          if (centers == null) {
            hAlphaOf(win, ev, v, haa)
            if (!isNd(haa(0))) zone = zoneOf(haa(0), haa(2))
          } else if (win(1) + win(2) + win(3) > 0.0) { // tr > 0, mirrors the seed path
            // mean coherency of the pixel (same division staged in the oracle)
            val m11 = win(1) / n; val m22 = win(2) / n; val m33 = win(3) / n
            val w12r = win(4) / n; val w12i = win(5) / n
            val w13r = win(6) / n; val w13i = win(7) / n
            val w23r = win(8) / n; val w23i = win(9) / n
            var best = Double.PositiveInfinity
            var z = 0
            while (z < 9) {
              val zi = zinv(z)
              if (zi != null) {
                // tr(C^-1 T) for Hermitian C^-1, T: diag + 2 Re(sum of off-diag products)
                val trv = zi(1) * m11 + zi(2) * m22 + zi(3) * m33 +
                  2.0 * (zi(4) * w12r + zi(5) * w12i + zi(6) * w13r + zi(7) * w13i +
                    zi(8) * w23r + zi(9) * w23i)
                val d = zi(0) + trv
                if (d < best) { best = d; zone = z }
              }
              z += 1
            }
          }
          if (zone >= 0) {
            cnt(zone) += 1
            var j = 0
            while (j < 9) {
              sums(zone)(j) += quant(win(j + 1), WishartQ)
              j += 1
            }
          }
        }
        x += 1
      }
      y += 1
    }
    val rows = new Array[Any](9)
    var z = 0
    while (z < 9) {
      rows(z) = InternalRow(z, cnt(z), sums(z)(0), sums(z)(1), sums(z)(2), sums(z)(3),
        sums(z)(4), sums(z)(5), sums(z)(6), sums(z)(7), sums(z)(8))
      z += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  // --------------------------------------------- quad-pol scalar alias family

  val QS_ORIENT = 0 // orientation angle (OrientationAngleCorrectionOp.java:311-315)
  val QS_FARADAY = 1 // Faraday rotation, Lee window method (FaradayRotationCorrectionOp.java:311-348)
  val QS_FREEMAN = 2 // generalized Freeman-Durden (GeneralizedFreemanDurden.java:34-53)
  val QS_PARAMS = 3 // span / pedestal height / RVI (PolarimetricParametersOp.java computePolarimetricParameters)
  val QS_SNR = 4 // cross-channel SNR correction (CrossChannelSNRCorrectionOp.java:197-211)
  val QS_GRVI = 5 // generalized RVI via Kennaugh geodesic distances (GRVIOp.java:260-410)
  val QS_YAMAGUCHI = 6 // Yamaguchi 4-component w/ helix + FD fallback (Yamaguchi.java:164-237)
  val QS_VANZYL = 7 // van Zyl eigen 3-component (vanZyl.java:185-227)
  val QS_KROGAGER = 8 // Krogager sphere/diplane/helix (Krogager.java:181-198)
  val QS_TOUZI = 9 // Touzi dominant-eigenvector psi/tau/alpha (Touzi.java:215-280)
  val QS_CLOUDE = 10 // Cloude dominant-component T diag, dB (Cloude.java:120-145)

  /** SNAP's Constants.EPS (org.esa.snap.engine_utilities.eo.Constants), the
   * degenerate-channel guard of the Freeman-Durden solve. */
  private val SnapEps = 1e-15

  /**
   * Polarimetric Refined Lee speckle filter (reference rstb RefinedLee.java:
   * 226-608 — the operator's T3 path, FULL reference algorithm): per pixel,
   * the edge direction and the filter gain b come from the SPAN image
   * (t11+t22+t33) — 9 OVERLAPPING stride-2 3x3 sub-means (:452-470), SIGNED
   * 6-sub-mean gradients with first-|max|-wins and +4 on a positive gradient
   * (getDirection:478-516), then the reference's exact 28-pixel non-edge
   * template (getNonEdgeAreaPixelValues:520-608); every one of the 9 T3
   * channels is filtered with the SAME template and gain:
   * out_j = meanZ_j + b (z_j - meanZ_j), b = varX / varY,
   * varX = max(0, (varY - meanY^2 sigmaV^2) / (1 + sigmaV^2)), sigmaV^2 =
   * 1/enl; varY == 0 -> 0.0 (the rstb quirk, :357,388). Windows with any
   * no-data (n < 49) take the per-channel LOCAL-STATISTICS path (:329-363).
   * Variances are (n-1) diff-form with per-term dyadic quantization (qdev) so
   * both engines sum exactly. Returns per-tile quantized sums (n + 9 channels,
   * quantum 1e6).
   */
  def polRefinedLee(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      w: Int, h: Int, m: Int, enl: Double): InternalRow = {
    val hw = w + 2 * m; val hh2 = h + 2 * m
    val ch = quadHalo(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ, w, h, m)
    val nPix = hw * hh2
    val t = new Array[Double](9)
    val t3 = Array.ofDim[Double](9, nPix)
    val span = new Array[Double](nPix)
    var i = 0
    while (i < nPix) {
      if (quadValid(ch, i)) {
        t3Px(ch(0)(i), ch(1)(i), ch(2)(i), ch(3)(i), ch(4)(i), ch(5)(i), ch(6)(i), ch(7)(i), t)
        var j = 0
        while (j < 9) { t3(j)(i) = t(j); j += 1 }
        span(i) = t(0) + t(1) + t(2)
      } else span(i) = ND
      i += 1
    }
    val sigmaVSqr = 1.0 / enl
    val sub = new Array[Double](9); val subValid = new Array[Int](9)
    val sums = new Array[Long](9)
    var nOut = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c0 = (y + m) * hw + (x + m)
        if (span(c0) != ND) {
          nOut += 1
          // the 7x7 window's top-left cell
          val base = (y + m - 3) * hw + (x + m - 3)
          @inline def sidx(wyT: Int, wxT: Int): Int = base + wyT * hw + wxT
          // valid count over the 7x7 span window (getLocalData's n)
          var n = 0
          var wy = 0
          while (wy < 7) {
            var wx = 0
            while (wx < 7) { if (!isNd(span(sidx(wy, wx)))) n += 1; wx += 1 }
            wy += 1
          }
          if (n < 49) {
            // per-channel LOCAL-STATISTICS path (refinedLeeFilterC3T3C4T4:329-332 +
            // computePixelValueUsingLocalStatistics:348-363): valid-only mean, (k-1)
            // diff-form variance (per-term quantized), varY == 0 -> 0.0 (the rstb
            // quirk); k < 2 -> varY 0 in both engines (the reference would divide
            // by zero there — documented guard)
            var j = 0
            while (j < 9) {
              var s = 0.0; var k = 0
              wy = 0
              while (wy < 7) {
                var wx = 0
                while (wx < 7) {
                  val idx = sidx(wy, wx)
                  if (!isNd(span(idx))) { s += t3(j)(idx); k += 1 }
                  wx += 1
                }
                wy += 1
              }
              val meanY = s / k
              var qv = 0L
              wy = 0
              while (wy < 7) {
                var wx = 0
                while (wx < 7) {
                  val idx = sidx(wy, wx)
                  if (!isNd(span(idx))) qv += qdev(t3(j)(idx), meanY)
                  wx += 1
                }
                wy += 1
              }
              val varY = if (k > 1) qv.toDouble / 1.0e6 / (k - 1) else 0.0
              val out =
                if (varY == 0.0) 0.0
                else meanY + mmseVarX(varY, meanY, sigmaVSqr) / varY * (t3(j)(c0) - meanY)
              sums(j) += q6l(out)
              j += 1
            }
          } else {
            // EDGE path: 9 OVERLAPPING stride-2 3x3 sub-means of the span
            // (computeSubAreaMeans:452-470, filterSize 7 -> subWindow 3 stride 2)
            rlSubMeans(span, base, hw, sub, subValid)
            // SIGNED gradients (getDirection:478-516): first |max| wins, +4 if positive
            val g = new Array[Double](4)
            g(0) = sub(2) + sub(5) + sub(8) - sub(0) - sub(3) - sub(6)
            g(1) = sub(1) + sub(2) + sub(5) - sub(3) - sub(6) - sub(7)
            g(2) = sub(0) + sub(1) + sub(2) - sub(6) - sub(7) - sub(8)
            g(3) = sub(0) + sub(1) + sub(3) - sub(5) - sub(7) - sub(8)
            var dir = 0
            var maxG = -1.0
            var gi = 0
            while (gi < 4) {
              val ag = math.abs(g(gi))
              if (maxG < ag) { maxG = ag; dir = gi }
              gi += 1
            }
            val d = if (g(dir) > 0.0) dir + 4 else dir
            // b from the span template (computePixelValueUsingEdgeDetection:371-394);
            // varY == 0 -> ALL channels 0.0 (the rstb quirk)
            val meanY = tmplMean(span, base, hw, d)
            val varY = tmplVar(span, base, hw, d, meanY)
            if (varY == 0.0) {
              var j = 0
              while (j < 9) { sums(j) += q6l(0.0); j += 1 }
            } else {
              val b = mmseVarX(varY, meanY, sigmaVSqr) / varY
              var j = 0
              while (j < 9) {
                val meanZ = tmplMean(t3(j), base, hw, d)
                val out = meanZ + b * (t3(j)(c0) - meanZ)
                sums(j) += q6l(out)
                j += 1
              }
            }
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(nOut, sums(0), sums(1), sums(2), sums(3), sums(4), sums(5), sums(6), sums(7), sums(8))
  }

  /**
   * Per-tile rollup of the scalar quad-pol aliases over margin-m windowed T3/C4:
   * one compiled pass, struct(n, s1, s2, s3) of 1e6-quantized per-pixel sums.
   * Angle stages (atan2) run on the EXACT integer-grid window sums (the angles are
   * scale-invariant, so sums == means); power stages divide by the window count
   * with the same staging as the DuckDB oracle.
   */
  def quadScalar(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      w: Int, h: Int, m: Int, mode: Int): InternalRow = {
    val hw = w + 2 * m
    val ch = quadHalo(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ, w, h, m)
    val t = new Array[Double](9)
    val win = new Array[Double](10)
    val ev = new Array[Double](3); val v = new Array[Double](5)
    var n = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L
    val Pi4 = math.Pi / 4.0
    val Pi2 = math.Pi / 2.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        mode match {
          case QS_ORIENT =>
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              // theta = 0.25 (atan2(2 t23r, t33 - t22) + pi), wrapped to (-pi/4, pi/4]
              var theta = 0.25 * (math.atan2(2.0 * win(8), win(3) - win(2)) + math.Pi)
              if (theta > Pi4) theta -= Pi2
              n += 1; s1 += q6l(theta)
            }
          case QS_FARADAY =>
            // window sums of the per-pixel circular cross product Z_rl Z_lr^*
            var zr = 0.0; var zi = 0.0; var nw = 0
            var dy = -m
            while (dy <= m) {
              var dx = -m
              while (dx <= m) {
                val idx = (y + m + dy) * hw + (x + m + dx)
                if (quadValid(ch, idx)) {
                  val sHHr = ch(0)(idx); val sHHi = ch(1)(idx)
                  val sHVr = ch(2)(idx); val sHVi = ch(3)(idx)
                  val sVHr = ch(4)(idx); val sVHi = ch(5)(idx)
                  val sVVr = ch(6)(idx); val sVVi = ch(7)(idx)
                  val zr01 = sHVr - sVHr - sHHi - sVVi
                  val zi01 = sHVi - sVHi + sHHr + sVVr
                  val zr10 = sVHr - sHVr - sHHi - sVVi
                  val zi10 = sVHi - sHVi + sHHr + sVVr
                  zr += zr01 * zr10 + zi01 * zi10
                  zi += zi01 * zr10 - zr01 * zi10
                  nw += 1
                }
                dx += 1
              }
              dy += 1
            }
            if (nw > 0) {
              val omega = -0.25 * math.atan2(zi, zr)
              n += 1; s1 += q6l(omega)
            }
          case QS_FREEMAN =>
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              val nw = win(0)
              val t11m = win(1) / nw; val t22m = win(2) / nw; val t33m = win(3) / nw
              val t12rm = win(4) / nw; val t12im = win(5) / nw
              val mv = t33m
              val tmp1 = t11m + t22m - 3.0 * t33m
              val tmp2 = t11m - t22m - t33m
              val tmp3 = math.sqrt(tmp2 * tmp2 + 4.0 * (t12rm * t12rm + t12im * t12im))
              val ps = 0.5 * (tmp1 + tmp3)
              val pd = 0.5 * (tmp1 - tmp3)
              n += 1; s1 += q6l(4.0 * mv); s2 += q6l(pd); s3 += q6l(ps)
            }
          case QS_PARAMS =>
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              val tr = win(1) + win(2) + win(3)
              if (tr > 0.0) {
                // eigenvalues of the exact window sums (the ratios are scale-invariant)
                eig3H(win, ev)
                val l1 = ev(0); val l2 = ev(1); val l3 = ev(2)
                if (l1 > 0.0) {
                  val span = 2.0 * tr / win(0)
                  val pedestal = l3 / l1
                  // published RVI 4*l3/(l1+l2+l3); the reference line sums
                  // lambda1 + alpha2(deg) + lambda3 — read as a typo for lambda2
                  val rvi = 4.0 * l3 / (l1 + l2 + l3)
                  n += 1; s1 += q6l(span); s2 += q6l(pedestal); s3 += q6l(rvi)
                }
              }
            }
          case QS_SNR =>
            // C4 window sums over the HV/VH channels (ratio is scale-invariant)
            val cIdx = (y + m) * hw + (x + m)
            if (quadValid(ch, cIdx)) {
              var c22 = 0.0; var c33 = 0.0; var c23r = 0.0; var c23i = 0.0
              var dy = -m
              while (dy <= m) {
                var dx = -m
                while (dx <= m) {
                  val idx = (y + m + dy) * hw + (x + m + dx)
                  if (quadValid(ch, idx)) {
                    val hvr = ch(2)(idx); val hvi = ch(3)(idx)
                    val vhr = ch(4)(idx); val vhi = ch(5)(idx)
                    c22 += hvr * hvr + hvi * hvi
                    c33 += vhr * vhr + vhi * vhi
                    c23r += hvr * vhr + hvi * vhi
                    c23i += hvi * vhr - hvr * vhi
                  }
                  dx += 1
                }
                dy += 1
              }
              if (c22 > 0.0 && c33 > 0.0) {
                val gamma = math.sqrt((c23r * c23r + c23i * c23i) / (c22 * c33))
                n += 1
                s1 += q6l(gamma * ch(2)(cIdx))
                s2 += q6l(gamma * ch(3)(cIdx))
              }
            }
          case QS_GRVI =>
            // Generalized RVI: geodesic distances between the Kennaugh matrix of
            // the windowed T3 mean and the GVSM volume / canonical target Kennaugh
            // matrices (GRVIOp.java:216-410; Hermitian-reduced K entries, Frobenius
            // inner-product traces; acos args clamped for domain safety).
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              val nw = win(0)
              val t11 = win(1) / nw; val t22 = win(2) / nw; val t33 = win(3) / nw
              val t12r = win(4) / nw; val t12i = win(5) / nw
              val t13r = win(6) / nw; val t13i = win(7) / nw
              val t23r = win(8) / nw; val t23i = win(9) / nw
              val k00 = 0.5 * (t11 + t22 + t33)
              val k01 = t12r; val k02 = t13r; val k03 = t23i
              val k11 = 0.5 * (t11 + t22 - t33)
              val k12 = t23r; val k13 = 0.5 * (t23i + t13i)
              val k22 = 0.5 * (t11 - t22 + t33)
              val k23 = 0.0 - t12i
              val k33 = 0.5 * (0.0 - t11 + t22 + t33)
              val ssT = k00 * k00 + k11 * k11 + k22 * k22 + k33 * k33 +
                2.0 * (k01 * k01 + k02 * k02 + k03 * k03 + k12 * k12 + k13 * k13 + k23 * k23)
              val den1 = math.sqrt(math.abs(ssT))
              val c11g = 0.5 * (t11 + t12r + t12r + t22)
              val c33g = 0.5 * (t11 - t12r - t12r + t22)
              if (den1 > 0.0 && c33g != 0.0 && c11g / c33g >= 0.0) {
                val gamma = c11g / c33g
                val sg = math.sqrt(gamma)
                val r = 1.0 / ((3.0 / 2.0) * (1.0 + gamma) - 0.5 * sg)
                val av = r * (0.5 * (1.0 + gamma) + (1.0 / 3.0) * sg)
                val bv = r * (0.5 * (gamma - 1.0))
                val cv = r * (0.5 * (1.0 + gamma) - (1.0 / 3.0) * sg)
                val rv00 = 0.5 * (av + cv + cv); val rv11 = 0.5 * (av + cv - cv)
                val rv22 = 0.5 * (av - cv + cv); val rv33 = 0.5 * (0.0 - av + cv + cv)
                val numRv = k00 * rv00 + 2.0 * (k01 * bv) + k11 * rv11 + k22 * rv22 + k33 * rv33
                val ssRv = rv00 * rv00 + 2.0 * (bv * bv) + rv11 * rv11 + rv22 * rv22 + rv33 * rv33
                val den2 = math.sqrt(math.abs(ssRv))
                @inline def gd(num: Double, den: Double): Double = {
                  val cl = math.max(-1.0, math.min(1.0, num / den))
                  2.0 * math.acos(cl) * 180.0 / math.Pi / 180.0
                }
                val gdRv = gd(numRv, den1 * den2)
                val gdD = gd(k00 + k11 - k22 + k33, den1 * 2.0)
                val gdNd = gd(0.625 * k00 + 2.0 * (0.375 * k01) + 0.625 * k11 + -0.5 * k22 + 0.5 * k33, den1 * 1.25)
                val gdT = gd(k00 + k11 + k22 - k33, den1 * 2.0)
                val gdC = gd(0.625 * k00 + 2.0 * (0.375 * k01) + 0.625 * k11 + 0.5 * k22 + -0.5 * k33, den1 * 1.25)
                val ga = math.max(math.max(math.max(gdT, gdC), gdNd), gdD)
                val gb = math.min(math.min(math.min(gdT, gdC), gdNd), gdD)
                if (ga > 0.0 && den2 > 0.0) {
                  val ratio = gb / ga
                  val beta = ratio * ratio
                  val grvi = (1.0 - gdRv) * math.pow(beta, gdRv)
                  n += 1; s1 += q6l(grvi)
                }
              }
            }
          case QS_KROGAGER =>
            // Krogager sphere/diplane/helix from the windowed-T3 Huynen
            // parameters A0 = t11/2, B0 = (t22+t33)/2, F = Im T23
            // (Krogager.java:181-198). B0 - |F| >= 0 for any valid coherency
            // matrix; the max(0) guard absorbs last-ulp rounding so neither
            // engine takes sqrt of a tiny negative.
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              val nw = win(0)
              val a0 = 0.5 * (win(1) / nw)
              val b0 = 0.5 * (win(2) / nw + win(3) / nw)
              val f = math.abs(win(9) / nw)
              val dm = math.max(b0 - f, 0.0)
              val ks = math.sqrt(a0)
              val kd = math.sqrt(dm)
              val kh = math.sqrt(b0 + f) - kd
              n += 1; s1 += q6l(ks); s2 += q6l(kd); s3 += q6l(kh)
            }
          case QS_TOUZI | QS_CLOUDE =>
            // Touzi scattering-vector-model parameters of the DOMINANT
            // eigenvector (Touzi.java:215-280): Cardano l1 over the window T3
            // sums (eigenvectors are scale-invariant), eigenvector by complex
            // cross of two rows of T - l1 I, unit-normalized then phase-aligned
            // on the first component (the reference's EigenDecomposition returns
            // unit vectors, making the EPS phase guards scale-consistent), then
            // the psi rotation, tau/phi/alpha extraction and the |psi| > pi/4
            // sign fold. Pixels with an exactly diagonal window T3 or a
            // degenerate cross product are skipped in BOTH engines.
            t3Win(ch, hw, x, y, m, t, win)
            if (win(0) > 0) {
              val tr = win(1) + win(2) + win(3)
              if (tr > 0.0 && eig3H(win, ev) != 0.0) {
                val l1 = ev(0)
                val norm2 = eigVec3H(win, l1, v)
                val v1r = v(0); val v1i = v(1); val v2r = v(2); val v2i = v(3); val v3r = v(4)
                if (norm2 > 0.0 && mode == QS_CLOUDE) {
                  // Cloude: dominant eigenvalue of the window MEAN coherency
                  // matrix times the unit-eigenvector component magnitudes,
                  // dB with the reference's EPS floor (Cloude.java:120-145)
                  val nw = win(0)
                  val l1m = l1 / nw
                  val inv2 = 1.0 / norm2
                  @inline def db(v: Double): Double =
                    10.0 * math.log10(math.max(v, SnapEps))
                  val t11c = l1m * ((v1r * v1r + v1i * v1i) * inv2)
                  val t22c = l1m * ((v2r * v2r + v2i * v2i) * inv2)
                  val t33c = l1m * ((v3r * v3r) * inv2)
                  n += 1; s1 += q6l(db(t11c)); s2 += q6l(db(t22c)); s3 += q6l(db(t33c))
                } else if (norm2 > 0.0) {
                  val inv = 1.0 / math.sqrt(norm2)
                  val u1r = v1r * inv; val u1i = v1i * inv
                  val u2r = v2r * inv; val u2i = v2i * inv
                  val u3r = v3r * inv; val u3i = 0.0
                  val phase = math.atan2(u1i, u1r + SnapEps)
                  val cp = math.cos(phase); val sp = math.sin(phase)
                  val w1r = u1r * cp + u1i * sp
                  val w2r = u2r * cp + u2i * sp; val w2i = u2i * cp - u2r * sp
                  val w3r = u3r * cp + u3i * sp; val w3i = u3i * cp - u3r * sp
                  val psi = 0.5 * math.atan2(w3r, w2r + SnapEps)
                  val c2p = math.cos(2.0 * psi); val s2p = math.sin(2.0 * psi)
                  val x2r = w2r * c2p + w3r * s2p; val x2i = w2i * c2p + w3i * s2p
                  val x3i = 0.0 - w2i * s2p + w3i * c2p
                  var tau = 0.5 * math.atan2(0.0 - x3i, w1r + SnapEps)
                  val num = x2r * x2r + x2i * x2i
                  val den = w1r * w1r + x3i * x3i
                  val alpha =
                    if (den > 0.0) math.atan(math.sqrt(num / den))
                    else if (num > 0.0) math.Pi / 2.0
                    else 0.0
                  if (psi < -math.Pi / 4.0 || psi > math.Pi / 4.0) tau = 0.0 - tau
                  n += 1; s1 += q6l(psi); s2 += q6l(tau); s3 += q6l(alpha)
                }
              }
            }
          case QS_YAMAGUCHI | QS_VANZYL =>
            // Window means of the Pauli T3 plus the lexicographic C3 extras the
            // model-based solves read: c00 = |HH|^2, cvv = |VV|^2, c13 = HH VV*
            // (C22 = t33 by the (HV+VH) Pauli identity). Divisions are guarded
            // (zero denominator -> degenerate clip) because the DuckDB twin
            // cannot stage IEEE infinities; the guards are dead on real data.
            var nw = 0
            var s11 = 0.0; var s22 = 0.0; var s33 = 0.0
            var s12r = 0.0; var s12i = 0.0; var s23i = 0.0
            var sc00 = 0.0; var scvv = 0.0; var sc13r = 0.0; var sc13i = 0.0
            var dy = -m
            while (dy <= m) {
              var dx = -m
              while (dx <= m) {
                val idx = (y + m + dy) * hw + (x + m + dx)
                if (quadValid(ch, idx)) {
                  t3Px(ch(0)(idx), ch(1)(idx), ch(2)(idx), ch(3)(idx), ch(4)(idx),
                    ch(5)(idx), ch(6)(idx), ch(7)(idx), t)
                  nw += 1
                  s11 += t(0); s22 += t(1); s33 += t(2)
                  s12r += t(3); s12i += t(4); s23i += t(8)
                  val ihh = ch(0)(idx); val qhh = ch(1)(idx)
                  val ivv = ch(6)(idx); val qvv = ch(7)(idx)
                  sc00 += ihh * ihh + qhh * qhh
                  scvv += ivv * ivv + qvv * qvv
                  sc13r += ihh * ivv + qhh * qvv
                  sc13i += qhh * ivv - ihh * qvv
                }
                dx += 1
              }
              dy += 1
            }
            if (nw > 0) {
              val t11m = s11 / nw; val t22m = s22 / nw; val t33m = s33 / nw
              val t12rm = s12r / nw; val t12im = s12i / nw; val t23im = s23i / nw
              val c00m = sc00 / nw; val cvvm = scvv / nw
              val c13rm = sc13r / nw; val c13im = sc13i / nw
              if (mode == QS_VANZYL) {
                // van Zyl 1993 eigen 3-component (vanZyl.java:185-227); C22 = t33m
                if (c00m > 0.0) {
                  val rhoRe = c13rm / c00m; val rhoIm = c13im / c00m
                  val eta = t33m / c00m; val zeta = cvvm / c00m
                  val rho2 = rhoRe * rhoRe + rhoIm * rhoIm
                  val delta = (zeta - 1.0) * (zeta - 1.0) + 4.0 * rho2
                  val l1 = 0.5 * c00m * (zeta + 1.0 + math.sqrt(delta))
                  val l2 = 0.5 * c00m * (zeta + 1.0 - math.sqrt(delta))
                  val l3 = c00m * eta
                  val ps = if (l1 > l2) l1 else l2
                  val pd = if (l1 > l2) l2 else l1
                  n += 1; s1 += q6l(l3); s2 += q6l(pd); s3 += q6l(ps)
                }
              } else {
                // Yamaguchi 4-component with helix + Freeman-Durden fallback
                // (Yamaguchi.java:164-237)
                val span = t11m + t22m + t33m
                val pc0 = 2.0 * math.abs(t23im)
                // guarded ratio branch: cvvm/c00m = 0 -> -inf branch, /0 -> +inf
                val branch = // 0 = low (<= -2 dB), 1 = mid, 2 = high (> 2 dB)
                  if (cvvm > 0.0 && c00m > 0.0) {
                    val ratio = 10.0 * math.log10(cvvm / c00m)
                    if (ratio <= -2.0) 0 else if (ratio > 2.0) 2 else 1
                  } else if (cvvm <= 0.0 && c00m > 0.0) 0
                  else if (c00m <= 0.0 && cvvm > 0.0) 2
                  else 1
                val k1 = if (branch == 0) 1.0 / 6.0 else if (branch == 2) -1.0 / 6.0 else 0.0
                val k2 = if (branch == 1) 1.0 / 4.0 else 7.0 / 30.0
                val k3 = if (branch == 1) 1.0 / 4.0 else 4.0 / 15.0
                var pc = pc0
                var pv = (t33m - 0.5 * pc) / k3
                var ps = 0.0; var pd = 0.0
                if (pv <= 0.0) {
                  // Freeman-Durden 3-component fallback (FreemanDurden.java:184-239)
                  pc = 0.0
                  val fv = 4.0 * t33m
                  val fc11 = c00m - fv * 3.0 / 8.0
                  var fc13r = c13rm - fv / 8.0
                  var fc13i = c13im
                  val fc33 = cvvm - fv * 3.0 / 8.0
                  val a1 = fc11 * fc33
                  var fs = 0.0; var fd = 0.0
                  var ar = 0.0; var ai = 0.0; var br = 0.0; var bi = 0.0
                  if (fc11 > SnapEps && fc33 > SnapEps) {
                    val a2 = fc13r * fc13r + fc13i * fc13i
                    if (a1 < a2) {
                      val c13 = math.sqrt(a2)
                      fc13r = math.sqrt(a1) * fc13r / c13
                      fc13i = math.sqrt(a1) * fc13i / c13
                    }
                    if (fc13r < 0.0) {
                      br = 1.0; bi = 0.0
                      fs = math.abs((a1 - fc13r * fc13r - fc13i * fc13i) / (fc11 + fc33 - 2.0 * fc13r))
                      fd = math.abs(fc33 - fs)
                      if (fd > 0.0) { ar = (fc13r - fs) / fd; ai = fc13i / fd }
                    } else {
                      ar = -1.0; ai = 0.0
                      fd = math.abs((a1 - fc13r * fc13r - fc13i * fc13i) / (fc11 + fc33 + 2.0 * fc13r))
                      fs = math.abs(fc33 - fd)
                      if (fs > 0.0) { br = (fc13r + fd) / fs; bi = fc13i / fs }
                    }
                  }
                  ps = fs * (1.0 + br * br + bi * bi)
                  pd = fd * (1.0 + ar * ar + ai * ai)
                  pv = fv
                } else {
                  val sY = t11m - 0.5 * pv
                  val dY = t22m - k2 * pv - 0.5 * pc
                  val cR = t12rm - k1 * pv
                  val cI = t12im
                  if (pv + pc < span) {
                    val c0 = c13rm - 0.5 * t33m + 0.5 * pc
                    if (c0 < 0.0 && dY != 0.0) {
                      ps = sY - (cR * cR + cI * cI) / dY
                      pd = dY + (cR * cR + cI * cI) / dY
                    } else if (c0 >= 0.0 && sY != 0.0) {
                      ps = sY + (cR * cR + cI * cI) / sY
                      pd = dY - (cR * cR + cI * cI) / sY
                    } else { // zero-denominator degenerate clip
                      ps = -1.0; pd = -1.0
                    }
                    if (ps > 0.0 && pd < 0.0) { pd = 0.0; ps = span - pv - pc }
                    else if (ps < 0.0 && pd > 0.0) { ps = 0.0; pd = span - pv - pc }
                    else if (ps < 0.0 && pd < 0.0) { ps = 0.0; pd = 0.0; pv = span - pc }
                  } else { ps = 0.0; pd = 0.0; pv = span - pc }
                }
                n += 1; s1 += q6l(pv); s2 += q6l(ps); s3 += q6l(pc)
              }
            }
          case _ => throw new IllegalArgumentException(s"quadScalar mode $mode")
        }
        x += 1
      }
      y += 1
    }
    InternalRow(n, s1, s2, s3)
  }

  /**
   * Compact-pol data simulation, RCH (right-circular transmit, H/V receive) mode:
   * per-pixel C2 of the projected scattering vector k = ((S_hh + i S_hv),
   * (S_vh + i S_vv)) / sqrt2 (CompactPolDataSimulationOp.java:537-541). The 1/sqrt2
   * cancels into an exact /2 in every C2 product, so the per-pixel values stay
   * dyadic-exact and the per-tile quantized sums are integer-exact cross-engine.
   */
  def cpC2Sums(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData): InternalRow = {
    val ch = quadChannels(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ)
    var n = 0L; var s11 = 0L; var s22 = 0L; var s12r = 0L; var s12i = 0L
    var i = 0
    while (i < ch(0).length) {
      if (quadValid(ch, i)) {
        val k0r = ch(0)(i) + ch(3)(i) // (sHHr + sHVi)
        val k0i = ch(1)(i) - ch(2)(i) // (sHHi - sHVr)
        val k1r = ch(4)(i) + ch(7)(i) // (sVHr + sVVi)
        val k1i = ch(5)(i) - ch(6)(i) // (sVHi - sVVr)
        n += 1
        s11 += q6l((k0r * k0r + k0i * k0i) / 2.0)
        s22 += q6l((k1r * k1r + k1i * k1i) / 2.0)
        s12r += q6l((k0r * k1r + k0i * k1i) / 2.0)
        s12i += q6l((k0i * k1r - k0r * k1i) / 2.0)
      }
      i += 1
    }
    InternalRow(n, s11, s22, s12r, s12i)
  }

  /** det of a 3x3 Hermitian matrix given as the 9-channel flat layout, staged as
   * PolarimetricChangeDetectionOp.java:324-339. */
  @inline private def det3H(t11: Double, t22: Double, t33: Double,
      t12r: Double, t12i: Double, t13r: Double, t13i: Double,
      t23r: Double, t23i: Double): Double = {
    val abs12 = t12r * t12r + t12i * t12i
    val abs13 = t13r * t13r + t13i * t13i
    val abs23 = t23r * t23r + t23i * t23i
    val c13t23r = t23r * t13r + t23i * t13i
    val c13t23i = t23i * t13r - t23r * t13i
    val tripleRe = t12r * c13t23r - t12i * c13t23i
    t11 * t22 * t33 + 2.0 * tripleRe - t11 * abs23 - t22 * abs13 - t33 * abs12
  }

  /**
   * Two-epoch polarimetric change statistic per pixel: s = 2 ln det((T1+T2)/2)
   * - ln det T1 - ln det T2 over the margin-m windowed T3 means of each epoch
   * (the omnibus likelihood-ratio core of PolarimetricChangeDetectionOp.java:316-351).
   * Returns per-tile struct(n, s_q sum).
   */
  def polChangeTile(chD: ArrayData, w: Int, h: Int, m: Int): InternalRow = {
    val hw = w + 2 * m
    val ch = channels(chD) // 8 channels of epoch 1, then 8 of epoch 2
    if (ch == null) return null
    val (ch1, ch2) = ch.splitAt(8)
    val t = new Array[Double](9)
    val w1 = new Array[Double](10)
    val w2 = new Array[Double](10)
    var n = 0L; var s = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        t3Win(ch1, hw, x, y, m, t, w1)
        t3Win(ch2, hw, x, y, m, t, w2)
        if (w1(0) > 0 && w2(0) > 0) {
          val n1 = w1(0); val n2 = w2(0)
          val detA = det3H(w1(1) / n1, w1(2) / n1, w1(3) / n1, w1(4) / n1, w1(5) / n1,
            w1(6) / n1, w1(7) / n1, w1(8) / n1, w1(9) / n1)
          val detB = det3H(w2(1) / n2, w2(2) / n2, w2(3) / n2, w2(4) / n2, w2(5) / n2,
            w2(6) / n2, w2(7) / n2, w2(8) / n2, w2(9) / n2)
          val detAB = det3H(
            (w1(1) / n1 + w2(1) / n2) * 0.5, (w1(2) / n1 + w2(2) / n2) * 0.5,
            (w1(3) / n1 + w2(3) / n2) * 0.5, (w1(4) / n1 + w2(4) / n2) * 0.5,
            (w1(5) / n1 + w2(5) / n2) * 0.5, (w1(6) / n1 + w2(6) / n2) * 0.5,
            (w1(7) / n1 + w2(7) / n2) * 0.5, (w1(8) / n1 + w2(8) / n2) * 0.5,
            (w1(9) / n1 + w2(9) / n2) * 0.5)
          if (detA > 0.0 && detB > 0.0 && detAB > 0.0) {
            val stat = 2.0 * math.log(detAB) - math.log(detA) - math.log(detB)
            n += 1; s += q6l(stat)
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(n, s)
  }

  // ------------------------------------------- warp-gather resampling (deskew / cross)

  /**
   * Nearest-neighbor gather at a degree-1 polynomial source offset: out(x, y) =
   * halo(x - round(a0 + a1 gx + a2 gy), y - round(b0 + b1 gx + b2 gy)) with
   * round = floor(v + 0.5) (Java Math.round staging, mirrored in SQL). Offsets
   * beyond the margin produce ND. Covers ALOS-Deskewing (a = 0, b = fracShift * gx,
   * ALOSDeskewingOp.java computeTileStack MapReady branch) and CrossResampling
   * (jlinda CrossResamplingOp polynomial grid transfer, nearest-neighbor kernel).
   */
  // ------------------------------------------------------- product quantization

  /** PQ geometry: 64-dim vectors as 8 subspaces x 8 dims, 16 codewords each. */
  val PqS = 8; val PqD = 8; val PqK = 16

  /** PQ encode: per subspace, the index of the L2-nearest codeword (strict <, so
   * ties keep the lowest code). `cb` is the flattened (s, c, j) codebook. */
  def pqEncode(v: ArrayData, cb: ArrayData): ArrayData = {
    val x = v.toDoubleArray(); val w = cb.toDoubleArray()
    val out = new Array[Long](PqS)
    var s = 0
    while (s < PqS) {
      var best = 0L; var bd = Double.MaxValue
      var c = 0
      while (c < PqK) {
        var d = 0.0; var j = 0
        while (j < PqD) {
          val t = x(s * PqD + j) - w((s * PqK + c) * PqD + j)
          d += t * t; j += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      out(s) = best; s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ ADC distance table: dt[s*K + c] = ||v_sub(s) - codeword(s, c)||^2. */
  def pqDistTable(v: ArrayData, cb: ArrayData): ArrayData = {
    val x = v.toDoubleArray(); val w = cb.toDoubleArray()
    val out = new Array[Double](PqS * PqK)
    var s = 0
    while (s < PqS) {
      var c = 0
      while (c < PqK) {
        var d = 0.0; var j = 0
        while (j < PqD) {
          val t = x(s * PqD + j) - w((s * PqK + c) * PqD + j)
          d += t * t; j += 1
        }
        out(s * PqK + c) = d; c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 5-point truncated-sinc (BiSinc) resampling along range at constant fractional
   * shift d per tile — the textbook normalized-sinc kernel behind the reference's
   * default BISINC_5_POINT resampling (BackGeocodingOp.java:91-94; the SNAP core
   * class is not in the reference tree, so the public formula is restated:
   * w_j = sinc(d - j), j = -2..2, output = sum(w_j v_{x+j}) / sum(w_j)). Any ND
   * tap makes the output ND; taps read the margin-m halo. */
  def bisincRange(halo: ArrayData, w: Int, h: Int, m: Int, d: Double): ArrayData = {
    val hw = w + 2 * m
    val a = haloChannel(halo, w, h, m)
    val out = new Array[Double](w * h)
    val wts = new Array[Double](5)
    var sw = 0.0
    var j = 0
    while (j < 5) {
      val t = d - (j - 2)
      val wj = if (t == 0.0) 1.0 else math.sin(math.Pi * t) / (math.Pi * t)
      wts(j) = wj; sw += wj; j += 1
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = 0.0
        var nd = false
        var k = 0
        while (k < 5) {
          val v = a((y + m) * hw + (x + m + k - 2))
          if (isNd(v)) nd = true else acc += wts(k) * v
          k += 1
        }
        out(y * w + x) = if (nd) ND else acc / sw
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def warpGather(halo: ArrayData, w: Int, h: Int, m: Int, tileX: Int, tileY: Int,
      a0: Double, a1: Double, a2: Double, b0: Double, b1: Double, b2: Double): ArrayData = {
    val hw = w + 2 * m
    val a = haloChannel(halo, w, h, m)
    val out = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val gx = tileX * w + x
        val gy = tileY * h + y
        val dx = math.floor(a0 + a1 * gx + a2 * gy + 0.5).toInt
        val dy = math.floor(b0 + b1 * gx + b2 * gy + 0.5).toInt
        out(y * w + x) =
          if (math.abs(dx) > m || math.abs(dy) > m) ND
          else a((y + m - dy) * hw + (x + m - dx))
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------------- IEM soil-moisture inversion

  /**
   * IEM LUT nearest-neighbor inversion per tile (IEMInverBase.java:724-860 KD-tree
   * search re-expressed as an exact argmin over the broadcast per-angle-section
   * LUT): for each pixel, find the LUT row of the pixel's integer-degree incidence
   * section minimizing the Euclidean distance in (sigma1, sigma2) dB space; roll up
   * quantized sums of the winning rms and RDC. Ties break to the lowest row index
   * (stable first minimum). lut is the flat broadcast array
   * [theta_idx, rms, rdc, s1, s2] * nRows.
   */
  def iemInvertTile(s1Arr: ArrayData, s2Arr: ArrayData, thetaArr: ArrayData,
      lutArr: ArrayData): InternalRow = {
    val s1 = s1Arr.toDoubleArray(); val s2 = s2Arr.toDoubleArray()
    val th = thetaArr.toDoubleArray()
    val lut = lutArr.toDoubleArray()
    val nRows = lut.length / 5
    var n = 0L; var sRms = 0L; var sRdc = 0L
    var p = 0
    while (p < s1.length) {
      if (!isNd(s1(p)) && !isNd(s2(p))) {
        val sect = math.floor(th(p) + 0.5) // round(theta) section (IEMInverBase.java:327)
        var best = -1; var bestD = Double.MaxValue
        var r = 0
        while (r < nRows) {
          if (lut(r * 5) == sect) {
            val d1 = s1(p) - lut(r * 5 + 3)
            val d2 = s2(p) - lut(r * 5 + 4)
            val d = d1 * d1 + d2 * d2
            if (d < bestD) { bestD = d; best = r }
          }
          r += 1
        }
        if (best >= 0) {
          n += 1
          sRms = sRms + q6l(lut(best * 5 + 1))
          sRdc = sRdc + q6l(lut(best * 5 + 2))
        }
      }
      p += 1
    }
    InternalRow(n, sRms, sRdc)
  }

  /** IEM Hybrid inversion (IEMHybridInverOp.java:54-65): the AM/PM image pair
   * contributes FOUR sigma channels; the LUT argmin runs over the shared
   * (rms, rdc) parameter grid with each image's sigma pair read from its own
   * incidence-angle section. Sections are paired by the LUT's canonical
   * theta-major row order (row = (sect-20) + 21*(param combo), Fixtures
   * .writeSmLut) with an explicit validation + linear-scan fallback, so a
   * re-ordered LUT still inverts correctly. */
  def iemHybridTile(s1aArr: ArrayData, s2aArr: ArrayData, s1bArr: ArrayData,
      s2bArr: ArrayData, thAArr: ArrayData, thBArr: ArrayData,
      lutArr: ArrayData): InternalRow = {
    val s1a = s1aArr.toDoubleArray(); val s2a = s2aArr.toDoubleArray()
    val s1b = s1bArr.toDoubleArray(); val s2b = s2bArr.toDoubleArray()
    val thA = thAArr.toDoubleArray(); val thB = thBArr.toDoubleArray()
    val lut = lutArr.toDoubleArray()
    val nRows = lut.length / 5
    var n = 0L; var sRms = 0L; var sRdc = 0L
    var p = 0
    while (p < s1a.length) {
      if (!isNd(s1a(p)) && !isNd(s2a(p)) && !isNd(s1b(p)) && !isNd(s2b(p))) {
        val sectA = math.floor(thA(p) + 0.5)
        val sectB = math.floor(thB(p) + 0.5)
        val off = (sectB - sectA).toInt
        var best = -1; var bestD = Double.MaxValue
        var r = 0
        while (r < nRows) {
          if (lut(r * 5) == sectA) {
            // paired PM row: same (rms, rdc) at the PM section
            var r2 = r + off
            if (r2 < 0 || r2 >= nRows || lut(r2 * 5) != sectB ||
                lut(r2 * 5 + 1) != lut(r * 5 + 1) || lut(r2 * 5 + 2) != lut(r * 5 + 2)) {
              r2 = -1
              var s = 0
              while (s < nRows && r2 < 0) {
                if (lut(s * 5) == sectB && lut(s * 5 + 1) == lut(r * 5 + 1) &&
                    lut(s * 5 + 2) == lut(r * 5 + 2)) r2 = s
                s += 1
              }
            }
            if (r2 >= 0) {
              val d1 = s1a(p) - lut(r * 5 + 3)
              val d2 = s2a(p) - lut(r * 5 + 4)
              val d3 = s1b(p) - lut(r2 * 5 + 3)
              val d4 = s2b(p) - lut(r2 * 5 + 4)
              val d = d1 * d1 + d2 * d2 + d3 * d3 + d4 * d4
              if (d < bestD) { bestD = d; best = r }
            }
          }
          r += 1
        }
        if (best >= 0) {
          n += 1
          sRms = sRms + q6l(lut(best * 5 + 1))
          sRdc = sRdc + q6l(lut(best * 5 + 2))
        }
      }
      p += 1
    }
    InternalRow(n, sRms, sRdc)
  }

  // ------------------------------------------------- Quegan polarimetric calibration

  /** Per-tile exact covariance sums of the scattering vector k = (HH, HV, VH, VV):
   * the 12 real components the Quegan solve needs (C00r, C33r, C01, C02, C13, C23,
   * C03) plus the valid count. Sums are exact on the dyadic grid, so the global
   * per-scene accumulation is order-independent cross-engine
   * (PolarimetricCalibrationOp.java:201-246 collectCovariance/accumulateOuter). */
  def polCalCovTile(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData): InternalRow = {
    val ch = quadChannels(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ)
    var n = 0L
    var c00 = 0.0; var c33 = 0.0
    var c01r = 0.0; var c01i = 0.0; var c02r = 0.0; var c02i = 0.0
    var c03r = 0.0; var c03i = 0.0; var c13r = 0.0; var c13i = 0.0
    var c23r = 0.0; var c23i = 0.0
    var p = 0
    while (p < ch(0).length) {
      if (quadValid(ch, p)) {
        val hr = ch(0)(p); val hi = ch(1)(p) // HH
        val xr = ch(2)(p); val xi = ch(3)(p) // HV
        val yr = ch(4)(p); val yi = ch(5)(p) // VH
        val vr = ch(6)(p); val vi = ch(7)(p) // VV
        n += 1
        c00 += hr * hr + hi * hi
        c33 += vr * vr + vi * vi
        c01r += hr * xr + hi * xi; c01i += hi * xr - hr * xi
        c02r += hr * yr + hi * yi; c02i += hi * yr - hr * yi
        c03r += hr * vr + hi * vi; c03i += hi * vr - hr * vi
        c13r += xr * vr + xi * vi; c13i += xi * vr - xr * vi
        c23r += yr * vr + yi * vi; c23i += yi * vr - yr * vi
      }
      p += 1
    }
    InternalRow(n, c00, c33, c01r, c01i, c02r, c02i, c03r, c03i, c13r, c13i, c23r, c23i)
  }

  /**
   * Quegan (1-iteration) distortion apply per tile: given the per-scene crosstalk
   * deltas (d1..d4, estimated from the global covariance after the channel-imbalance
   * fold — PolarimetricCalibrationOp.java:176-199), build the Kronecker inverse
   * D^-1 = R^-1 (x) T^-1 in closed form (2x2 complex inverses — algebraically the
   * reference's invert4x4Complex of R (x) T) and apply S = D^-1 M per pixel.
   * Returns per-tile quantized sums of the 8 corrected channels.
   */
  def polCalApplyTile(hhI: ArrayData, hhQ: ArrayData, hvI: ArrayData, hvQ: ArrayData,
      vhI: ArrayData, vhQ: ArrayData, vvI: ArrayData, vvQ: ArrayData,
      d1r: Double, d1i: Double, d2r: Double, d2i: Double,
      d3r: Double, d3i: Double, d4r: Double, d4i: Double): InternalRow = {
    val ch = quadChannels(hhI, hhQ, hvI, hvQ, vhI, vhQ, vvI, vvQ)
    // det T = 1 - d2*d1, det R = 1 - d4*d3 (f folded to 1 in the Quegan path)
    val detTr = 1.0 - (d2r * d1r - d2i * d1i)
    val detTi = 0.0 - (d2r * d1i + d2i * d1r)
    val detRr = 1.0 - (d4r * d3r - d4i * d3i)
    val detRi = 0.0 - (d4r * d3i + d4i * d3r)
    val mT = detTr * detTr + detTi * detTi
    val mR = detRr * detRr + detRi * detRi
    val idTr = detTr / mT; val idTi = 0.0 - detTi / mT
    val idRr = detRr / mR; val idRi = 0.0 - detRi / mR
    // Rinv = idetR * [[1, -d4], [-d3, 1]]; Tinv = idetT * [[1, -d2], [-d1, 1]]
    @inline def cmul(ar: Double, ai: Double, br: Double, bi: Double): (Double, Double) =
      (ar * br - ai * bi, ar * bi + ai * br)
    val r = Array(
      (idRr, idRi), cmul(idRr, idRi, 0.0 - d4r, 0.0 - d4i),
      cmul(idRr, idRi, 0.0 - d3r, 0.0 - d3i), (idRr, idRi))
    val t = Array(
      (idTr, idTi), cmul(idTr, idTi, 0.0 - d2r, 0.0 - d2i),
      cmul(idTr, idTi, 0.0 - d1r, 0.0 - d1i), (idTr, idTi))
    // Dinv[(i,k),(j,l)] = Rinv[i][j] * Tinv[k][l]
    val dr = new Array[Double](16); val di = new Array[Double](16)
    var i = 0
    while (i < 2) {
      var j = 0
      while (j < 2) {
        var k = 0
        while (k < 2) {
          var l = 0
          while (l < 2) {
            val (rr, ri) = r(i * 2 + j)
            val (tr2, ti2) = t(k * 2 + l)
            val row = i * 2 + k; val colI = j * 2 + l
            dr(row * 4 + colI) = rr * tr2 - ri * ti2
            di(row * 4 + colI) = rr * ti2 + ri * tr2
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    var n = 0L
    val s = new Array[Long](8)
    val kr = new Array[Double](4); val ki = new Array[Double](4)
    var p = 0
    while (p < ch(0).length) {
      if (quadValid(ch, p)) {
        n += 1
        kr(0) = ch(0)(p); ki(0) = ch(1)(p)
        kr(1) = ch(2)(p); ki(1) = ch(3)(p)
        kr(2) = ch(4)(p); ki(2) = ch(5)(p)
        kr(3) = ch(6)(p); ki(3) = ch(7)(p)
        var oi = 0
        while (oi < 4) {
          var rs = 0.0; var is = 0.0
          var j = 0
          while (j < 4) {
            rs += dr(oi * 4 + j) * kr(j) - di(oi * 4 + j) * ki(j)
            is += dr(oi * 4 + j) * ki(j) + di(oi * 4 + j) * kr(j)
            j += 1
          }
          s(oi * 2) += q6l(rs); s(oi * 2 + 1) += q6l(is)
          oi += 1
        }
      }
      p += 1
    }
    InternalRow(n, s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7))
  }

  // ----------------------------------------------------------------- CMOD5 wind field

  /** CMOD5 NRCS forward model (Hersbach 2003, ECMWF Tech Memo 395; reference
   * WindFieldEstimationOp.java:1029-1122 CMOD5.compute), staged exactly as the
   * DuckDB oracle restates it. */
  private def cmod5(v: Double, cosFi: Double, theta: Double): Double = {
    val x = (theta - 40.0) / 25.0
    val xx = x * x
    val a0 = -0.688 + -0.793 * x + 0.338 * xx + -0.173 * x * xx
    val a1 = 0.0 + 0.004 * x
    val a2 = 0.111 + 0.0162 * x
    val gam = 6.7329 + 2.7541 * x + -2.2918 * xx
    val s0 = 0.4 + -0.6 * x
    val s = a2 * v
    var a3 = 1.0 / (1.0 + math.exp(0.0 - math.max(s, s0)))
    if (s < s0) a3 = a3 * math.pow(s / s0, s0 * (1.0 - a3))
    val b0 = math.pow(a3, gam) * math.pow(10.0, a0 + a1 * v)
    // tanh via the exp identity (DuckDB has no tanh; identical staging both engines)
    val th = {
      val e2 = math.exp(2.0 * (4.0 * (x + 0.33 + 0.012 * v)))
      (e2 - 1.0) / (e2 + 1.0)
    }
    val b1a = 0.007 * v * (0.5 + x - th)
    val b1 = (0.045 * (1.0 + x) - b1a) / (math.exp(0.34 * (v - 22.0)) + 1.0)
    val v0 = 8.39 + -3.44 * x + 1.36 * xx
    val d1 = 5.35 + 1.99 * x + 0.29 * xx
    val d2 = 3.80 + 1.53 * x
    var v2 = v / v0 + 1.0
    if (v2 < 1.95) {
      val ac = 1.95 - (1.95 - 1.0) / 3.0
      val bc = 1.0 / (3.0 * math.pow(1.95 - 1.0, 2.0))
      v2 = ac + bc * math.pow(v2 - 1.0, 3.0)
    }
    val b2 = (0.0 - d1 + d2 * v2) * math.exp(0.0 - v2)
    b0 * math.pow(1.0 + b1 * cosFi + b2 * (2.0 * cosFi * cosFi - 1.0), 1.6)
  }

  /**
   * CMOD5 wind-speed inversion per tile (WindFieldEstimationOp.java:885-912
   * estimateWindSpeed): tile-mean NRCS (the reference's 20-km block mean),
   * 200-candidate grid search v = 0.1..20.0 step 0.1, first strict minimum wins.
   * Returns (n_valid, err_min_idx); speed = (idx + 1) * 0.1.
   */
  def cmod5Tile(vArr: ArrayData, theta: Double, cosFi: Double): InternalRow = {
    val v = vArr.toDoubleArray()
    var n = 0L; var s = 0.0
    var i = 0
    while (i < v.length) {
      if (!isNd(v(i))) { n += 1; s += v(i) }
      i += 1
    }
    if (n == 0) InternalRow(0L, -1L)
    else {
      val nrcs = s / n / 16.0
      var best = 0
      var bestErr = math.abs(nrcs - cmod5((0 + 1) * 0.1, cosFi, theta))
      var j = 1
      while (j < 200) {
        val e = math.abs(nrcs - cmod5((j + 1) * 0.1, cosFi, theta))
        if (e < bestErr) { bestErr = e; best = j }
        j += 1
      }
      InternalRow(n, best.toLong)
    }
  }

  /** Per-tile indices (k) of dark pixels: center < k * (margin-m window mean)
   * (OilSpillDetectionOp criterion; feeds the clustering stage). */
  def darkKs(halo: ArrayData, w: Int, h: Int, m: Int, kf: Double): ArrayData = {
    val hw = w + 2 * m
    val a = haloChannel(halo, w, h, m)
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (isDark(a, hw, x, y, m, kf)) out += y * w + x
        x += 1
      }
      y += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  // ------------------------------------- dual-pol radar backscatter/scattering indices

  val DP_RBI = 0 // DPRBIOp.java:425-505 (slope-masked normalized Stokes magnitude)
  val DP_RSI = 1 // DPRSIOp.java:345-400 (entropy-gated sqrt(1 - g1_norm^2))
  val DP_POWERS = 2 // DpDecompositionOp.java:500-560 (Pu/Pd/Ps + alpha_dp)
  val DP_FACT = 3 // DpFactorizationOp.java:465-540 (Ps/Pd/Pr factorization)

  /** Mean of the valid slope cells of the margin-m window at pixel (x, y), 0
   * when none is valid: the terrain mask input of the dual-pol index family
   * (DPRBIOp.java:425-505). */
  private def slopeMean(sl: Array[Double], hw: Int, x: Int, y: Int, m: Int): Double = {
    var sc = 0; var ss = 0.0
    var dy = -m
    while (dy <= m) {
      var dx = -m
      while (dx <= m) {
        val idx = (y + m + dy) * hw + (x + m + dx)
        if (!isNd(sl(idx))) { sc += 1; ss += sl(idx) }
        dx += 1
      }
      dy += 1
    }
    if (sc > 0) ss / sc else 0.0
  }

  /** Pass-A step of one pixel from its C2 window sums s over n > 0 cells: the
   * window-mean Stokes g1 = c11 - c22, g2 = 2 Re c12, g3 = 2 Im c12, and
   * g = (|g1|, |g2|, |g3| masked to 0 where the mean slope is over 15 degrees,
   * then unmasked |g1|) (DPRBIOp.java:425-505). */
  private def dpStokesPx(n: Int, s: Array[Double], slopeAvg: Double, g: Array[Double]): Unit = {
    val g1 = s(0) / n - s(1) / n
    val g2 = 2.0 * (s(2) / n)
    val g3 = 2.0 * (s(3) / n)
    val mask = if (slopeAvg > 15.0) 0.0 else 1.0
    g(0) = math.abs(g1) * mask
    g(1) = math.abs(g2) * mask
    g(2) = math.abs(g3) * mask
    g(3) = math.abs(g1)
  }

  /**
   * Pass A of the DPRBI/DPRSI/Dp-Decomposition/Factorization family: per-pixel
   * slope-masked |Stokes| magnitudes over the margin-m windowed C2 (reference
   * windowSize 5 => m=2), feeding the per-scene 5th/95th percentile stage.
   * Returns struct of 4 per-pixel double arrays (g1a, g2a, g3a, g1s); ND where
   * the window is empty. Window sums are exact on the dyadic grid; the mean
   * divisions and slope average stage exactly as the DuckDB oracle.
   */
  def dpStokesTile(c11H: ArrayData, c22H: ArrayData, c12rH: ArrayData, c12iH: ArrayData,
      slH: ArrayData, w: Int, h: Int, m: Int): InternalRow = {
    val hw = w + 2 * m
    val c11 = haloChannel(c11H, w, h, m); val c22 = haloChannel(c22H, w, h, m)
    val cr = haloChannel(c12rH, w, h, m); val ci = haloChannel(c12iH, w, h, m)
    val sl = haloChannel(slH, w, h, m)
    val g1a = new Array[Double](w * h); val g2a = new Array[Double](w * h)
    val g3a = new Array[Double](w * h); val g1s = new Array[Double](w * h)
    val s = new Array[Double](4); val g = new Array[Double](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val n = windowSums4(c11, c22, cr, ci, hw, x, y, m, s)
        val o = y * w + x
        if (n == 0) { g1a(o) = ND; g2a(o) = ND; g3a(o) = ND; g1s(o) = ND }
        else {
          dpStokesPx(n, s, slopeMean(sl, hw, x, y, m), g)
          g1a(o) = g(0); g2a(o) = g(1); g3a(o) = g(2); g1s(o) = g(3)
        }
        x += 1
      }
      y += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(g1a), UnsafeArrayData.fromPrimitiveArray(g2a),
      UnsafeArrayData.fromPrimitiveArray(g3a), UnsafeArrayData.fromPrimitiveArray(g1s))
  }

  private val Ln2 = math.log(2.0)

  /**
   * Pass B: per-tile quantized rollup of the dual-pol index family given the
   * per-scene percentile stats (p5/p95 of the pass-A magnitudes). One compiled
   * pass per tile; per-pixel staging mirrors the reference op order exactly and
   * the DuckDB oracle restates it verbatim. Shared guard: window nonempty,
   * c11 mean > 0 (log10 domain), positive eigen trace, positive p95 normalizers.
   */
  def dpIndexTile(c11H: ArrayData, c22H: ArrayData, c12rH: ArrayData, c12iH: ArrayData,
      slH: ArrayData, p5g1: Double, p95g1: Double, p5g2: Double, p95g2: Double,
      p5g3: Double, p95g3: Double, p5g1s: Double, p95g1s: Double,
      w: Int, h: Int, m: Int, mode: Int): InternalRow = {
    val hw = w + 2 * m
    val c11 = haloChannel(c11H, w, h, m); val c22 = haloChannel(c22H, w, h, m)
    val cr = haloChannel(c12rH, w, h, m); val ci = haloChannel(c12iH, w, h, m)
    val sl = haloChannel(slH, w, h, m)
    val s = new Array[Double](4); val g = new Array[Double](4)
    var cnt = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L; var s4 = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val n = windowSums4(c11, c22, cr, ci, hw, x, y, m, s)
        if (n > 0) {
          val c11m = s(0) / n; val c22m = s(1) / n
          val mrm = s(2) / n; val mim = s(3) / n
          val tr = c11m + c22m
          if (c11m > 0.0 && tr > 0.0 && p95g1 > 0.0 && p95g2 > 0.0 && p95g3 > 0.0 && p95g1s > 0.0) {
            dpStokesPx(n, s, slopeMean(sl, hw, x, y, m), g)
            val g1A = g(0); val g2A = g(1); val g3A = g(2); val g1sAbs = g(3)
            // outlier clamp + p95 normalization (reference MANDATORY stage)
            val g1n = math.min(math.max(g1A, p5g1), p95g1) / p95g1
            val g2n = math.min(math.max(g2A, p5g2), p95g2) / p95g2
            val g3n = math.min(math.max(g3A, p5g3), p95g3) / p95g3
            val g1ns = math.min(math.max(g1sAbs, p5g1s), p95g1s) / p95g1s
            val dpRbi = math.sqrt(g1n * g1n + g2n * g2n + g3n * g3n) / math.sqrt(3.0)
            // closed-form 2x2 Hermitian eigenvalues (descending)
            val det = c11m * c22m - (mrm * mrm + mim * mim)
            val disc = tr * tr - 4.0 * det
            val sq = math.sqrt(if (disc < 0.0) 0.0 else disc)
            val l1 = (tr + sq) / 2.0; val l2 = (tr - sq) / 2.0
            val su = l1 + l2
            val prob1 = l1 / su; val prob2 = l2 / su
            val e1 = if (prob1 > 0.0) prob1 * (math.log(prob1) / Ln2) else 0.0
            val e2 = if (prob2 > 0.0) prob2 * (math.log(prob2) / Ln2) else 0.0
            val ent = 0.0 - e1 - e2
            val c11Db = 10.0 * math.log10(c11m)
            val con1 = math.sqrt(math.max(0.0, 1.0 - g1ns * g1ns))
            val dpRsi = if (c11Db > -16.0) (1.0 - ent) * con1 else con1
            mode match {
              case DP_RBI => cnt += 1; s1 += q6l(dpRbi)
              case DP_RSI => cnt += 1; s1 += q6l(dpRsi)
              case DP_POWERS =>
                val g0 = c11m + c22m
                val dop = (l1 - l2) / su
                val beta = l1 / su
                val alpha1 = math.atan2(dpRbi, 1.0 - dpRbi) * 180.0 / math.Pi
                val alpha2 = math.atan2(1.0 - dpRsi, dpRsi) * 180.0 / math.Pi
                val alphaDp = (alpha1 + alpha2) / 2.0
                val cosA = math.cos(2.0 * alphaDp / 180.0 * math.Pi)
                val valid = c11Db > -16.0
                val pu = if (valid) (1.0 - dop) * g0 else (1.0 - beta) * g0
                val pd = if (valid) 0.5 * dop * g0 * (1.0 - cosA) else 0.5 * beta * g0 * (1.0 - cosA)
                val ps = if (valid) 0.5 * dop * g0 * (1.0 + cosA) else 0.5 * beta * g0 * (1.0 + cosA)
                cnt += 1; s1 += q6l(pu); s2 += q6l(pd); s3 += q6l(ps); s4 += q6l(alphaDp)
              case DP_FACT =>
                val g0 = c11m + c22m
                val ps = if (dpRsi > dpRbi) g0 * dpRsi else g0 * (1.0 - dpRbi) * dpRsi
                val pd = if (dpRsi > dpRbi) g0 * (1.0 - dpRsi) * dpRbi else g0 * dpRbi
                val pr = g0 - (ps + pd)
                cnt += 1; s1 += q6l(ps); s2 += q6l(pd); s3 += q6l(pr)
              case _ => throw new IllegalArgumentException(s"dpIndexTile mode $mode")
            }
          }
        }
        x += 1
      }
      y += 1
    }
    InternalRow(cnt, s1, s2, s3, s4)
  }

  // ------------------------------------------------- Goldstein (full block pipeline)

  /** Bit-reversal permutation table for an n-point radix-2 FFT. */
  private[graft] def bitRev(n: Int): Array[Int] = {
    val bits = Integer.numberOfTrailingZeros(n)
    Array.tabulate(n)(i => Integer.reverse(i) >>> (32 - bits))
  }

  /** Twiddle tables w(len, j) = exp(-2 pi i j / len) for the DIT stages, laid
   * out per stage (len = 2, 4, ..., n; j < len/2). The DuckDB twin interpolates
   * THESE values as literals, so both engines multiply identical doubles. */
  private[graft] def twiddles(n: Int): Array[(Int, Array[Double], Array[Double])] = {
    var len = 2
    val out = scala.collection.mutable.ArrayBuffer[(Int, Array[Double], Array[Double])]()
    while (len <= n) {
      val wr = Array.tabulate(len / 2)(j => math.cos(-2.0 * math.Pi * j / len))
      val wi = Array.tabulate(len / 2)(j => math.sin(-2.0 * math.Pi * j / len))
      out += ((len, wr, wi))
      len *= 2
    }
    out.toArray
  }

  /** In-place iterative radix-2 FFT over one length-n complex signal, inverse =
   * conjugated twiddles, NO scaling (the reference's complexInverse(_, false)).
   * Butterfly formula order is what the SQL twin replays verbatim:
   * pos < half:  out = a[c] + (wr*b_re - wi*b_im, wr*b_im + wi*b_re), b = a[c+half]
   * pos >= half: out = a[c-half] - (wr*v_re - wi*v_im, ...), v = a[c]. */
  private[graft] def fftOne(re: Array[Double], im: Array[Double], off: Int, n: Int,
      br: Array[Int], tw: Array[(Int, Array[Double], Array[Double])], inverse: Boolean): Unit = {
    val tr = new Array[Double](n); val ti = new Array[Double](n)
    var i = 0
    while (i < n) { tr(i) = re(off + br(i)); ti(i) = im(off + br(i)); i += 1 }
    var s = 0
    while (s < tw.length) {
      val (len, wrA, wiA) = tw(s)
      val half = len / 2
      val or_ = new Array[Double](n); val oi = new Array[Double](n)
      var c = 0
      while (c < n) {
        val pos = c % len
        if (pos < half) {
          val wr = wrA(pos); val wi = if (inverse) -wiA(pos) else wiA(pos)
          val bRe = tr(c + half); val bIm = ti(c + half)
          or_(c) = tr(c) + (wr * bRe - wi * bIm)
          oi(c) = ti(c) + (wr * bIm + wi * bRe)
        } else {
          val j = pos - half
          val wr = wrA(j); val wi = if (inverse) -wiA(j) else wiA(j)
          val vRe = tr(c); val vIm = ti(c)
          or_(c) = tr(c - half) - (wr * vRe - wi * vIm)
          oi(c) = ti(c - half) - (wr * vIm + wi * vRe)
        }
        c += 1
      }
      System.arraycopy(or_, 0, tr, 0, n); System.arraycopy(oi, 0, ti, 0, n)
      s += 1
    }
    i = 0
    while (i < n) { re(off + i) = tr(i); im(off + i) = ti(i); i += 1 }
  }

  /** Goldstein FFT block size / step / smoothing half-window (the reference
   * defaults: FFTSizeString=64, step = size/4, windowSize=3 -> half 1). */
  val GoldFft = 64
  val GoldStep = GoldFft / 4
  val GoldHw = 1

  /**
   * Goldstein phase filtering — the FULL reference block pipeline
   * (GoldsteinFilterOp.java:330-380, 590-686, 700-745, 806-826):
   * 64x64 FFT blocks stepping by 16 (75% overlap; blockOrigins always reaches
   * the far edge), no-data samples masked to ZERO on input (:608-615), all-no-
   * data blocks skipped; per block — rows-then-cols forward FFT, magnitude
   * spectrum sqrt(I^2+Q^2) (:664-676), Baran-2003 ADAPTIVE alpha = clamp(1 -
   * mean(coherence over the block), [alphaMin, alphaMax]) (:67-78, 697-705;
   * the fixture's analytic coherence surface 0.2 + 0.8|sin(gx/17)cos(gy/13)|
   * stands in for the coherence band, per-sample dyadic-staged so the block
   * means are exact cross-engine), 3x3 VALID-bin (non-zero) mean smoothing of
   * the magnitude then ^alpha (getFilteredPowerSpectrum:708-745), spectrum
   * multiply, cols-then-rows UNSCALED inverse FFT (:741-783 complexInverse(_,
   * false); an engineering 1/(64*64) renormalization is applied identically in
   * both engines so the quantized accumulators stay in BIGINT range — phase is
   * scale-invariant), and TRIANGULAR-weighted accumulation into the raster,
   * masked pixels skipped (:806-826). Output per pixel: phase of the
   * accumulated complex sum (each block contribution dyadic-quantized pre-sum
   * -> exact order-independent combine); source-no-data pixels stay ND.
   * The FFT itself is the in-house deterministic radix-2 above, whose butterfly
   * sequence and twiddle constants the DuckDB twin replays VERBATIM — the two
   * engines agree bit-for-bit, closing the FFT-vs-DFT low-bit flaky-gate class
   * (ADVICE r3). Returns per-tile (n, phase_q-sum) Long arrays, tile-major.
   */
  def goldsteinFull(creD: ArrayData, cimD: ArrayData, tilesX: Int, tilesY: Int,
      tileW: Int, tileH: Int, alphaMin: Double, alphaMax: Double, alphaDef: Double): InternalRow = {
    val cre = creD.toDoubleArray(); val cim = cimD.toDoubleArray()
    val w = tilesX * tileW; val h = tilesY * tileH
    val tileSz = tileW * tileH; val nTiles = tilesX * tilesY
    val F = GoldFft; val step = GoldStep
    val br = bitRev(F); val tw = twiddles(F)
    // row-major rasters; ND -> 0 with mask
    val ire = new Array[Double](w * h); val iim = new Array[Double](w * h)
    val mask = new Array[Boolean](w * h)
    val cohQ = new Array[Long](w * h) // dyadic-staged coherence (1e-6)
    var t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        val a = cre(t * tileSz + k); val b = cim(t * tileSz + k)
        val valid = a != ND && b != ND
        mask(p) = valid
        ire(p) = if (valid) a else 0.0
        iim(p) = if (valid) b else 0.0
        val coh = 0.2 + 0.8 * math.abs(math.sin(gx / 17.0) * math.cos(gy / 13.0))
        cohQ(p) = q6l(coh)
        k += 1
      }
      t += 1
    }
    def origins(max: Int): Array[Int] = {
      if (max <= 0) return Array(0)
      val n0 = max / step + 1
      val base = Array.tabulate(n0)(_ * step)
      if (base(n0 - 1) < max) base :+ max else base
    }
    val accReQ = new Array[Long](w * h); val accImQ = new Array[Long](w * h)
    val touched = new Array[Boolean](w * h)
    val bre = new Array[Double](F * F); val bim = new Array[Double](F * F)
    for (y0 <- origins(h - F); x0 <- origins(w - F)) {
      // gather block + all-no-data check
      var any = false
      var r = 0
      while (r < F) {
        var c = 0
        while (c < F) {
          val p = (y0 + r) * w + (x0 + c)
          bre(r * F + c) = ire(p); bim(r * F + c) = iim(p)
          if (mask(p)) any = true
          c += 1
        }
        r += 1
      }
      if (any) {
        // adaptive alpha from the dyadic-staged block coherence mean
        var cs = 0L; var cn = 0
        r = 0
        while (r < F) {
          var c = 0
          while (c < F) { cs += cohQ((y0 + r) * w + (x0 + c)); cn += 1; c += 1 }
          r += 1
        }
        val aRaw = 1.0 - (cs / 1.0e6) / cn
        val alpha = if (cn == 0) alphaDef
          else if (aRaw < alphaMin) alphaMin else if (aRaw > alphaMax) alphaMax else aRaw
        // forward: rows then columns
        r = 0
        while (r < F) { fftOne(bre, bim, r * F, F, br, tw, inverse = false); r += 1 }
        transpose(bre, F); transpose(bim, F)
        r = 0
        while (r < F) { fftOne(bre, bim, r * F, F, br, tw, inverse = false); r += 1 }
        // (spectrum is col-major now: index r*F+c holds bin (row=c, col=r) — the
        // smoothing window is symmetric so neighborhood semantics are unchanged)
        // 3x3 valid-bin mean, SEPARABLE association (per-row partial sums added
        // row-ascending — the exact float association the twin's two window
        // passes produce; the reference's strictly sequential 9-term chain is
        // value-equal up to association, and the staged form is what both
        // engines share)
        val pwr = Array.tabulate(F * F)(i => math.sqrt(bre(i) * bre(i) + bim(i) * bim(i)))
        val hSum = new Array[Double](F * F); val hCnt = new Array[Int](F * F)
        r = 0
        while (r < F) {
          var c = 0
          while (c < F) {
            var s = 0.0; var k2 = 0
            var i2 = math.max(0, c - GoldHw)
            val iMax = math.min(F - 1, c + GoldHw)
            while (i2 <= iMax) {
              val v = pwr(r * F + i2)
              if (v != 0.0) { s += v; k2 += 1 }
              i2 += 1
            }
            hSum(r * F + c) = s; hCnt(r * F + c) = k2
            c += 1
          }
          r += 1
        }
        val flt = new Array[Double](F * F)
        r = 0
        while (r < F) {
          var c = 0
          while (c < F) {
            var s = 0.0; var k2 = 0
            var j = math.max(0, r - GoldHw)
            val jMax = math.min(F - 1, r + GoldHw)
            while (j <= jMax) { s += hSum(j * F + c); k2 += hCnt(j * F + c); j += 1 }
            flt(r * F + c) = if (k2 != 0) math.pow(s / k2, alpha) else 0.0
            c += 1
          }
          r += 1
        }
        var i = 0
        while (i < F * F) { bre(i) *= flt(i); bim(i) *= flt(i); i += 1 }
        // inverse: we are col-major, so invert columns first (= rows here),
        // transpose back, invert rows — the reference's cols-then-rows order
        r = 0
        while (r < F) { fftOne(bre, bim, r * F, F, br, tw, inverse = true); r += 1 }
        transpose(bre, F); transpose(bim, F)
        r = 0
        while (r < F) { fftOne(bre, bim, r * F, F, br, tw, inverse = true); r += 1 }
        // triangular accumulate (1/(F*F) renormalization shared with the twin)
        r = 0
        while (r < F) {
          val wy = 1.0 - math.abs(r - F / 2 + 0.5) / (F / 2)
          var c = 0
          while (c < F) {
            val p = (y0 + r) * w + (x0 + c)
            if (mask(p)) {
              val wt = (1.0 - math.abs(c - F / 2 + 0.5) / (F / 2)) * wy
              accReQ(p) += quant(wt * (bre(r * F + c) / (F * F).toDouble), 1.0e2)
              accImQ(p) += quant(wt * (bim(r * F + c) / (F * F).toDouble), 1.0e2)
              touched(p) = true
            }
            c += 1
          }
          r += 1
        }
      }
    }
    val n = new Array[Long](nTiles); val phQ = new Array[Long](nTiles)
    t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        if (mask(p) && touched(p)) {
          n(t) += 1
          phQ(t) += q6l(math.atan2(accImQ(p) / 1.0e2, accReQ(p) / 1.0e2))
        }
        k += 1
      }
      t += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(n), UnsafeArrayData.fromPrimitiveArray(phQ))
  }

  // ------------------------------------------------- jlinda range filter (full)

  /** Range-filter defaults (RangeFilter.java:32-34) + fixture spectral
   * constants (RSR/RBW in the fixture's MHz analog). */
  val RfNlMean = 15
  val RfAlpha = 0.75
  val RfRsr = 100.0
  val RfRbw = 70.0

  /**
   * Range filter — the jlinda adaptive fringe-frequency algorithm
   * (RangeFilter.java:104-230): per row, the interferometric spectrum power
   * |FFT(master * conj(slave))|^2 is averaged over nlMean=15 rows, the peak bin
   * gives the fringe SHIFT (first-max argmax; shifts above fftLength/2 fold
   * negative and FLIP the final filter), and each output line's filter is the
   * Hamming window re-centered by 0.5*shift*deltaF with bandwidth
   * RBW - shift*deltaF, de-weighted by the inverse Hamming of the original RBW
   * (defineFilterVector:184-199), ifftshifted, then applied to the MASTER row
   * spectra (applyFilterMaster:218-225, unscaled-inverse/nCols). Only output
   * lines [ (nlMean-1)/2, nRows - (nlMean+1)/2 ] carry a filter (the walking-
   * mean support); other rows are unfiltered and excluded from the gate sums.
   * Deviations shared verbatim with the DuckDB twin: FRESH 15-row integer sums
   * instead of the reference's walking update (value-equal up to float
   * association — the power terms are floor-staged to BIGINT first), and the
   * reference's SNR-below-threshold branch is mirrored as the no-op it
   * literally is (lastShift is reassigned from the current line's fold before
   * the test, :140-157 — only the notFiltered counter observes it).
   * Returns per-tile (n, re_q, im_q) sums of the filtered master signal.
   */
  def rangeFilter(mreD: ArrayData, mimD: ArrayData, xreD: ArrayData, ximD: ArrayData,
      tilesX: Int, tilesY: Int, tileW: Int, tileH: Int): InternalRow = {
    val mre0 = mreD.toDoubleArray(); val mim0 = mimD.toDoubleArray()
    val xre0 = xreD.toDoubleArray(); val xim0 = ximD.toDoubleArray()
    val w = tilesX * tileW; val h = tilesY * tileH
    val tileSz = tileW * tileH; val nTiles = tilesX * tilesY
    val br = bitRev(w); val tw = twiddles(w)
    val mre = new Array[Double](w * h); val mim = new Array[Double](w * h)
    val xre = new Array[Double](w * h); val xim = new Array[Double](w * h)
    val mask = new Array[Boolean](w * h)
    var t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        val a = mre0(t * tileSz + k); val b = mim0(t * tileSz + k)
        val validM = a != ND && b != ND
        mask(p) = validM
        mre(p) = if (validM) a else 0.0
        mim(p) = if (validM) b else 0.0
        val c = xre0(t * tileSz + k); val d = xim0(t * tileSz + k)
        val validX = c != ND && d != ND
        xre(p) = if (validX) c else 0.0
        xim(p) = if (validX) d else 0.0
        k += 1
      }
      t += 1
    }
    // 1. per-row interferometric power, floor-staged to exact integers
    val rowRe = new Array[Double](w); val rowIm = new Array[Double](w)
    val pq = Array.ofDim[Long](h, w)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) { rowRe(c) = xre(r * w + c); rowIm(c) = xim(r * w + c); c += 1 }
      fftOne(rowRe, rowIm, 0, w, br, tw, inverse = false)
      c = 0
      while (c < w) {
        pq(r)(c) = math.floor(rowRe(c) * rowRe(c) + rowIm(c) * rowIm(c)).toLong
        c += 1
      }
      r += 1
    }
    // 2. per-line fringe shift from the fresh 15-row mean (exact integer sums)
    val firstLine = (RfNlMean - 1) / 2
    val lastLine = h - 1 - firstLine
    val deltaF = RfRsr / w
    val shiftArr = new Array[Int](h); val negArr = new Array[Boolean](h)
    r = firstLine
    while (r <= lastLine) {
      var best = Long.MinValue; var bestK = 0; var total = 0L
      var c = 0
      while (c < w) {
        var s = 0L
        var j = r - firstLine
        while (j <= r + firstLine) { s += pq(j)(c); j += 1 }
        total += s
        if (s > best) { best = s; bestK = c }
        c += 1
      }
      var shift = bestK
      var neg = false
      if (shift > w / 2) { shift = w - shift; neg = true }
      shiftArr(r) = shift; negArr(r) = neg
      r += 1
    }
    // 3. per-line filter vector: shifted/narrowed Hamming x inverse Hamming,
    // ifftshift, fliplr on negative shifts; apply to the master row spectra
    def ham(f: Double, brW: Double): Double =
      if (math.abs(f / brW) < 0.5) RfAlpha + (1 - RfAlpha) * math.cos((2 * math.Pi / RfRsr) * f)
      else 0.0
    val start = (w + 1) / 2
    r = 0
    while (r < h) {
      var c = 0
      while (c < w) { rowRe(c) = mre(r * w + c); rowIm(c) = mim(r * w + c); c += 1 }
      fftOne(rowRe, rowIm, 0, w, br, tw, inverse = false)
      if (r >= firstLine && r <= lastLine) {
        val shift = shiftArr(r); val neg = negArr(r)
        c = 0
        while (c < w) {
          val j = if (neg) ((w - 1 - c) + start) % w else (c + start) % w
          val f = -RfRsr / 2 + j * deltaF
          val hv = ham(f - 0.5 * shift * deltaF, RfRbw - shift * deltaF)
          val iv = ham(f, RfRbw)
          val fv = if (iv != 0.0) hv * (1.0 / iv) else 0.0
          rowRe(c) *= fv; rowIm(c) *= fv
          c += 1
        }
      } else {
        c = 0
        while (c < w) { rowRe(c) = 0.0; rowIm(c) = 0.0; c += 1 }
      }
      fftOne(rowRe, rowIm, 0, w, br, tw, inverse = true)
      c = 0
      while (c < w) { mre(r * w + c) = rowRe(c) / w; mim(r * w + c) = rowIm(c) / w; c += 1 }
      r += 1
    }
    val n = new Array[Long](nTiles)
    val reQ = new Array[Long](nTiles); val imQ = new Array[Long](nTiles)
    t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        if (mask(p) && gy >= firstLine && gy <= lastLine) {
          n(t) += 1
          reQ(t) += quant(mre(p), 1.0e2)
          imQ(t) += quant(mim(p), 1.0e2)
        }
        k += 1
      }
      t += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(n),
      UnsafeArrayData.fromPrimitiveArray(reQ), UnsafeArrayData.fromPrimitiveArray(imQ))
  }

  // ------------------------------------------------- jlinda azimuth filter (full)

  /**
   * Azimuth filter — the jlinda CONST-fDC branch in full (AzimuthFilter.java:
   * 130-157 defineConstFilter + 91 deltaF + 258-263 defineFrequencyAxis;
   * WeightWindows.hamming/inverseHamming:56-111; LinearAlgebraUtils.
   * wshift_inplace:242-266; SpectralUtils.ifftshift:198-212): the master
   * spectrum is DE-weighted by the inverse Hamming centered at the master
   * Doppler centroid, re-weighted by a NEW Hamming of bandwidth
   * ABW_new = max(1, 2(ABW/2 - |fDC_m - fDC_mean|)) centered at the mean
   * centroid fDC_mean = (fDC_m + fDC_s)/2, the filter vector ifftshifted, and
   * each azimuth column filtered FFT -> multiply -> unscaled-inverse/nRows.
   * Deviations, both documented and replayed identically by the DuckDB twin:
   * floor(x + 0.5) stands in for Math.rint in the two wshift amounts (identical
   * everywhere except exact half-integers, which the fixture's centroids never
   * produce), no-data samples enter the FFT as zero (jlinda has no no-data
   * concept; the gate sums only source-valid pixels), and the slave centroid is
   * the master's plus the fixture's constant offset (a constant-offset
   * acquisition pair — the const-fDC branch's own assumption). The FFT is the
   * deterministic radix-2 above (bit-exact cross-engine). Returns per-tile
   * (n, re_q, im_q) sums of the filtered complex signal.
   */
  def azFilter(creD: ArrayData, cimD: ArrayData, tilesX: Int, tilesY: Int,
      tileW: Int, tileH: Int, fdcM: Double, fdcS: Double, prf: Double,
      abw: Double, alpha: Double): InternalRow = {
    val cre = creD.toDoubleArray(); val cim = cimD.toDoubleArray()
    val w = tilesX * tileW; val h = tilesY * tileH
    val tileSz = tileW * tileH; val nTiles = tilesX * tilesY
    val br = bitRev(h); val tw = twiddles(h)
    val re = new Array[Double](w * h); val im = new Array[Double](w * h)
    val mask = new Array[Boolean](w * h)
    var t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        val a = cre(t * tileSz + k); val b = cim(t * tileSz + k)
        val valid = a != ND && b != ND
        mask(p) = valid
        re(p) = if (valid) a else 0.0
        im(p) = if (valid) b else 0.0
        k += 1
      }
      t += 1
    }
    // filter vector over the azimuth frequency axis [-prf/2 : prf/nRows : ...)
    val deltaF = prf / h
    def ham(f: Double, brW: Double): Double =
      if (math.abs(f / brW) < 0.5) alpha + (1 - alpha) * math.cos((2 * math.Pi / prf) * f)
      else 0.0
    val freq = Array.tabulate(h)(i => -prf / 2 + i * deltaF)
    val inv = freq.map { f => val v = ham(f, abw); if (v != 0.0) 1.0 / v else 0.0 }
    val fdcMean = 0.5 * (fdcM + fdcS)
    val abwNew = math.max(1.0, 2.0 * (0.5 * abw - math.abs(fdcM - fdcMean)))
    val newHam = freq.map(f => ham(f, abwNew))
    val m1 = math.floor(h * fdcM / prf + 0.5).toInt // wshift(-m1): right-shift by m1
    val m2 = math.floor(h * fdcMean / prf + 0.5).toInt
    def rshift(v: Array[Double], m: Int): Array[Double] =
      Array.tabulate(h)(i => v(((i - m) % h + h) % h))
    val filt0 = rshift(newHam, m2).zip(rshift(inv, m1)).map { case (a, b) => a * b }
    // ifftshift: out[i] = v[(i + ceil(n/2)) mod n]
    val start = (h + 1) / 2
    val filt = Array.tabulate(h)(i => filt0((i + start) % h))
    // per azimuth column: FFT -> multiply -> inverse, scaled 1/nRows
    val colRe = new Array[Double](h); val colIm = new Array[Double](h)
    var c = 0
    while (c < w) {
      var r = 0
      while (r < h) { colRe(r) = re(r * w + c); colIm(r) = im(r * w + c); r += 1 }
      fftOne(colRe, colIm, 0, h, br, tw, inverse = false)
      r = 0
      while (r < h) { colRe(r) *= filt(r); colIm(r) *= filt(r); r += 1 }
      fftOne(colRe, colIm, 0, h, br, tw, inverse = true)
      r = 0
      while (r < h) {
        re(r * w + c) = colRe(r) / h
        im(r * w + c) = colIm(r) / h
        r += 1
      }
      c += 1
    }
    val n = new Array[Long](nTiles)
    val reQ = new Array[Long](nTiles); val imQ = new Array[Long](nTiles)
    t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        if (mask(p)) {
          n(t) += 1
          reQ(t) += quant(re(p), 1.0e2)
          imQ(t) += quant(im(p), 1.0e2)
        }
        k += 1
      }
      t += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(n),
      UnsafeArrayData.fromPrimitiveArray(reQ), UnsafeArrayData.fromPrimitiveArray(imQ))
  }

  /** In-place square transpose of a row-major n x n array. */
  private def transpose(a: Array[Double], n: Int): Unit = {
    var r = 0
    while (r < n) {
      var c = r + 1
      while (c < n) {
        val tmp = a(r * n + c); a(r * n + c) = a(c * n + r); a(c * n + r) = tmp
        c += 1
      }
      r += 1
    }
  }

  // ------------------------------------------------- ionospheric correction (full)

  /**
   * Split-spectrum ionospheric correction — the FULL reference pipeline
   * (IonosphericCorrectionOp.java:289-480): raw iono phase per pixel from the
   * planted low/high sub-band screens (:329-331), coherence THRESHOLD mask
   * (:342-346, coh < thr -> weight 0), separable weighted GAUSSIAN smoothing
   * (filter:393-418 + convolveWithGaussian2D/1D:424-475 — conv(w*d)/conv(w),
   * kernel exp(-r^2/(2 sigma^2)), size 8*sigma+1, zero padding = the
   * BORDER_ZERO source extension :268), then corrected = wrap(phiF - filtered)
   * (:351-354, 385). Zero normalization -> ND (the reference's 0/0 NaN,
   * documented as the sentinel here). The burst raster arrives tile-major
   * (sorted tile structs flattened); sums are per tile, 1e6-quantized.
   * The fixture coherence surface is the analytic
   * coh = 0.2 + 0.8 |sin(gx/17) cos(gy/13)| (restated verbatim in the oracle).
   * Returns (n, iono_q, corr_q) Long arrays indexed by tile (tile-major).
   */
  def ionoSmooth(creD: ArrayData, cimD: ArrayData, tilesX: Int, tilesY: Int,
      tileW: Int, tileH: Int, sigma: Int, thr: Double): InternalRow = {
    val cre = creD.toDoubleArray(); val cim = cimD.toDoubleArray()
    val w = tilesX * tileW; val h = tilesY * tileH
    val tileSz = tileW * tileH; val nTiles = tilesX * tilesY
    val phf = new Array[Double](w * h)
    val valid = new Array[Boolean](w * h)
    val wd = new Array[Double](w * h) // weight * raw iono
    val wg = new Array[Double](w * h) // thresholded coherence weight
    var t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        val a = cre(t * tileSz + k); val b = cim(t * tileSz + k)
        if (a != ND && b != ND) {
          valid(p) = true
          val ph = math.atan2(b, a)
          phf(p) = ph
          val phl = ph + 0.3 * math.sin(gx / 30.0)
          val phh = ph - 0.2 * math.cos(gy / 45.0)
          val iono = (5.37e9 * 5.44e9) / (5.405e9 * (5.44e9 * 5.44e9 - 5.37e9 * 5.37e9)) *
            (phl * 5.44e9 - phh * 5.37e9)
          val coh = 0.2 + 0.8 * math.abs(math.sin(gx / 17.0) * math.cos(gy / 13.0))
          val wgt = if (coh < thr) 0.0 else coh
          wg(p) = wgt
          wd(p) = wgt * iono
        }
        k += 1
      }
      t += 1
    }
    // separable weighted Gaussian (x then y), zero-padded; ascending-r sums so
    // the oracle's lag/lead chain walks the identical IEEE order
    val hw = (8 * sigma + 1) / 2
    val ker = Array.tabulate(2 * hw + 1)(i => {
      val r = i - hw; math.exp(-(r * r) / (2.0 * sigma * sigma))
    })
    def convX(src: Array[Double]): Array[Double] = {
      val out = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var s = 0.0; var r = -hw
          while (r <= hw) {
            val xx = x + r
            if (xx >= 0 && xx < w) s += ker(r + hw) * src(y * w + xx)
            r += 1
          }
          out(y * w + x) = s
          x += 1
        }
        y += 1
      }
      out
    }
    def convY(src: Array[Double]): Array[Double] = {
      val out = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var s = 0.0; var r = -hw
          while (r <= hw) {
            val yy = y + r
            if (yy >= 0 && yy < h) s += ker(r + hw) * src(yy * w + x)
            r += 1
          }
          out(y * w + x) = s
          x += 1
        }
        y += 1
      }
      out
    }
    val cwd = convY(convX(wd))
    val cw = convY(convX(wg))
    val n = new Array[Long](nTiles)
    val ionoQ = new Array[Long](nTiles)
    val corrQ = new Array[Long](nTiles)
    t = 0
    while (t < nTiles) {
      var k = 0
      while (k < tileSz) {
        val gy = (t / tilesX) * tileH + k / tileW
        val gx = (t % tilesX) * tileW + k % tileW
        val p = gy * w + gx
        if (valid(p) && cw(p) != 0.0) {
          val filtered = cwd(p) / cw(p)
          val d = phf(p) - filtered
          val corr = math.atan2(math.sin(d), math.cos(d))
          n(t) += 1
          ionoQ(t) += q6l(filtered)
          corrQ(t) += q6l(corr)
        }
        k += 1
      }
      t += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(n),
      UnsafeArrayData.fromPrimitiveArray(ionoQ),
      UnsafeArrayData.fromPrimitiveArray(corrQ))
  }

  /**
   * Sutherland–Hodgman clip of a convex quad by an axis-aligned rectangle,
   * in pair-local fp-lattice coordinates (the q_clip_area ST_Intersection →
   * ST_Area analog). Returns |doubled shoelace area| scaled by 2^16 as a
   * BIGINT — exact: inputs are integers translated to the burst-bbox origin
   * (|coord| < 2^18), every computed intersection ordinate is snapped to the
   * 2^-8 dyadic grid, so shoelace products carry ≤ (18+8)*2 = 52 significant
   * bits and the 2^16 scaling is a pure exponent shift. The intersection
   * arithmetic (t = (bound-p)/(c-p); o = po + (co-po)*t; floor(o*256)/256)
   * is evaluated in textually identical order by the DuckDB staged-CTE twin,
   * so results are bit-identical cross-engine.
   */
  def clipAreaQ(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double,
      rx0: Double, ry0: Double, rx1: Double, ry1: Double): Long = {
    var pxs = Array(x1, x2, x3, x4)
    var pys = Array(y1, y2, y3, y4)
    var n = 4
    // clip by one half-plane: keepGE ? coord >= bound : coord <= bound
    def stage(axis: Int, bound: Double, keepGE: Boolean): Unit = {
      val nx = new Array[Double](n * 2); val ny = new Array[Double](n * 2)
      var m = 0; var i = 0
      while (i < n) {
        val j = if (i == 0) n - 1 else i - 1
        val cx = pxs(i); val cy = pys(i)
        val px = pxs(j); val py = pys(j)
        val cc = if (axis == 0) cx else cy
        val pc = if (axis == 0) px else py
        val cIn = if (keepGE) cc >= bound else cc <= bound
        val pIn = if (keepGE) pc >= bound else pc <= bound
        if (cIn != pIn) {
          val t = (bound - pc) / (cc - pc)
          if (axis == 0) {
            nx(m) = bound
            ny(m) = math.floor((py + (cy - py) * t) * 256.0) / 256.0
          } else {
            nx(m) = math.floor((px + (cx - px) * t) * 256.0) / 256.0
            ny(m) = bound
          }
          m += 1
        }
        if (cIn) { nx(m) = cx; ny(m) = cy; m += 1 }
        i += 1
      }
      pxs = nx; pys = ny; n = m
    }
    stage(0, rx0, keepGE = true)
    stage(0, rx1, keepGE = false)
    stage(1, ry0, keepGE = true)
    stage(1, ry1, keepGE = false)
    if (n < 3) return 0L
    var s = 0.0; var i = 0
    while (i < n) {
      val j = if (i == n - 1) 0 else i + 1
      s += pxs(i) * pys(j) - pxs(j) * pys(i)
      i += 1
    }
    val a = if (s < 0) -s else s
    (a * 65536.0).toLong
  }

  /**
   * Exact convex-quad x convex-quad intersection by the separating-axis theorem
   * (the TOPSAR-Split refine, Geo.quadIntersectsSAT): the quads are disjoint iff
   * one of the 8 edge normals (-(dy), dx) separates their projected corner
   * intervals. Corners in ring order: a's x then y, then b's x then y.
   *
   * Bit-identical to the Column tree it replaced, NaN included: each normal and
   * projection is computed in that tree's operation order, and least, greatest
   * and `<` follow Spark's double order (compareDoubles: NaN is the largest
   * value, -0.0 equals 0.0).
   */
  def quadIntersectsSAT(
      ax1: Double, ax2: Double, ax3: Double, ax4: Double,
      ay1: Double, ay2: Double, ay3: Double, ay4: Double,
      bx1: Double, bx2: Double, bx3: Double, bx4: Double,
      by1: Double, by2: Double, by3: Double, by4: Double): Boolean = {
    def separates(xi: Double, yi: Double, xj: Double, yj: Double): Boolean = {
      val nx = (yj - yi) * -1.0
      val ny = xj - xi
      val pa1 = nx * ax1 + ny * ay1; val pa2 = nx * ax2 + ny * ay2
      val pa3 = nx * ax3 + ny * ay3; val pa4 = nx * ax4 + ny * ay4
      val pb1 = nx * bx1 + ny * by1; val pb2 = nx * bx2 + ny * by2
      val pb3 = nx * bx3 + ny * by3; val pb4 = nx * bx4 + ny * by4
      compareDoubles(greatest4(pa1, pa2, pa3, pa4), least4(pb1, pb2, pb3, pb4)) < 0 ||
        compareDoubles(greatest4(pb1, pb2, pb3, pb4), least4(pa1, pa2, pa3, pa4)) < 0
    }
    !(separates(ax1, ay1, ax2, ay2) || separates(ax2, ay2, ax3, ay3) ||
      separates(ax3, ay3, ax4, ay4) || separates(ax4, ay4, ax1, ay1) ||
      separates(bx1, by1, bx2, by2) || separates(bx2, by2, bx3, by3) ||
      separates(bx3, by3, bx4, by4) || separates(bx4, by4, bx1, by1))
  }

  /** Spark's `least` over four non-null doubles: a later value replaces the
   * running one only when strictly smaller in Spark's double order. */
  private def least4(p1: Double, p2: Double, p3: Double, p4: Double): Double = {
    var r = p1
    if (compareDoubles(r, p2) > 0) r = p2
    if (compareDoubles(r, p3) > 0) r = p3
    if (compareDoubles(r, p4) > 0) r = p4
    r
  }

  /** Spark's `greatest` over four non-null doubles (see least4). */
  private def greatest4(p1: Double, p2: Double, p3: Double, p4: Double): Double = {
    var r = p1
    if (compareDoubles(p2, r) > 0) r = p2
    if (compareDoubles(p3, r) > 0) r = p3
    if (compareDoubles(p4, r) > 0) r = p4
    r
  }
}
