package graft.exprs

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.GraftColumn
import org.apache.spark.sql.types._

/**
 * Columns for the hot tile kernels (SURVEY.md §7.3). Each one is a Catalyst
 * StaticInvoke of one graft.exprs.Kernels method: it codegens to a single static
 * call, so the expression stays inside whole-stage codegen and the per-pixel loop
 * is JIT-compiled scalar code (replacing the round-1 interpreted
 * higher-order-function path); its interpreted eval calls the same method by
 * reflection.
 */
object KernelExprs {
  import GraftColumn.{column => toCol, expression => toExpr}

  /**
   * `Kernels.fn(args)`. Arguments follow the method's parameter order; constants
   * (mode ids, tile sizes, thresholds) are literals.
   *
   * Null rule: any null argument gives a null result, and the result is nullable
   * exactly when an argument is. For noiseAzMap this differs from the `transform`
   * HOF it replaced: there a null argument made each pixel's term null, which
   * `greatest(0D, ...)` turned into 0, so the HOF returned an array of 0 (and ND)
   * values where the kernel returns null.
   *
   * barrier: expensive kernels opt out of optimizer duplication by reporting
   * nondeterminism. Catalyst freely substitutes a Project's expressions into
   * pushed-down filters and join conditions (and infers size()>0 filters below
   * Generate), re-evaluating the kernel once per reference — measured as the
   * zero-Doppler bisection running 3x inside a join condition in the
   * terrain-correction plan, and blockMeans running twice in multilook's inferred
   * pre-Generate filter. The kernels ARE pure (a retried task recomputes identical
   * values), so the flag only pins single evaluation; it does not change results.
   */
  private def invoke(fn: String, dataType: DataType, args: Seq[Expression],
      barrier: Boolean = false, returnNullable: Boolean = false): Expression =
    StaticInvoke(Kernels.getClass, dataType, fn, args, propagateNull = true,
      returnNullable = returnNullable, isDeterministic = !barrier)

  /** invoke over Column arguments and Int/Double/Boolean constants. Pass constants
   * one by one or in a Seq[Any]: a Seq(...) literal mixing Int and Double widens
   * the Ints to Double, and the Kernels method is then not found at run time. */
  private def kernel(fn: String, dataType: DataType, barrier: Boolean = false)(args: Any*): Column =
    toCol(invoke(fn, dataType, args.map {
      case c: Column => toExpr(c)
      case v => Literal(v)
    }, barrier))

  /**
   * The one custom Expression left. A Column is built before analysis, so it
   * cannot state a StaticInvoke whose arguments or nullability depend on resolved
   * child types: cosine's float/double element flags (Ann.cosCol runs over both
   * FLOAT and DOUBLE vectors, and the SQL CAST-to-double upcast must be reproduced
   * per side), and the channel-stack kernels' nullability, which follows their
   * channels'. Once the children resolve, the optimizer (ReplaceExpressions)
   * swaps in `build(children)`, a plain StaticInvoke.
   */
  private[exprs] case class ResolvedKernel(children: Seq[Expression],
      build: Seq[Expression] => Expression) extends Expression with RuntimeReplaceable {
    override lazy val replacement: Expression = build(children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(children = c)
  }

  /** A kernel over a stack of channels passed as one array<array<double>>. The
   * kernel returns null when a channel is null, so the result is nullable exactly
   * when a channel is (the null rule above). */
  private def channelKernel(fn: String, dataType: DataType)(chs: Seq[Column], consts: Any*): Column =
    toCol(ResolvedKernel(chs.map(toExpr), cs =>
      invoke(fn, dataType, CreateArray(cs) +: consts.map(Literal(_)),
        returnNullable = cs.exists(_.nullable))))

  private val Doubles = ArrayType(DoubleType, containsNull = false)
  /** Per-pixel maps (their HOF twins produced nullable elements). */
  private val Pixels = ArrayType(DoubleType, containsNull = true)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val T3 = Seq("s11", "s22", "s33", "s12r", "s12i", "s13r", "s13i", "s23r", "s23i")
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def longs(names: String*): StructType = struct(names.map(_ -> LongType): _*)
  private def nullableStruct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Convex-quad x axis-aligned-rect Sutherland–Hodgman clip area (q_clip_area):
   * 12 doubles (4 quad corners + rect bounds, pair-local fp lattice) → quantized
   * |2·area|·2^16. */
  def clipAreaQ(chs: Seq[Column]): Column = kernel("clipAreaQ", LongType)(chs: _*)

  /** Separating-axis convex-quad x convex-quad intersection (the TOPSAR-Split
   * refine): 16 doubles, a's x and y corners then b's, in ring order → boolean. */
  def quadIntersectsSAT(chs: Seq[Column]): Column = kernel("quadIntersectsSAT", BooleanType)(chs: _*)

  /** Pass A of the dual-pol index family: per-pixel slope-masked |Stokes| arrays
   * over the margin-m windowed C2 (feeds the per-scene percentile stage). */
  def dpStokes(chs: Seq[Column], w: Int, h: Int, m: Int): Column = {
    require(chs.size == 5)
    kernel("dpStokesTile", struct(Seq("g1a", "g2a", "g3a", "g1s").map(_ -> Doubles): _*))(
      chs ++ Seq(w, h, m): _*)
  }

  /** Pass B of the dual-pol index family: per-tile quantized rollup of
   * DPRBI/DPRSI/powers/factorization given the per-scene percentile stats. */
  def dpIndex(chs: Seq[Column], w: Int, h: Int, m: Int, mode: Int): Column = {
    require(chs.size == 13) // 5 halo arrays + 8 stat doubles
    kernel("dpIndexTile", longs("n", "s1", "s2", "s3", "s4"))(chs ++ Seq(w, h, m, mode): _*)
  }

  /** Per-tile quantized-sum rollup of one scalar quad-pol alias (orientation angle,
   * Faraday rotation, Freeman-Durden, span/pedestal/RVI, cross-channel SNR). */
  def quadScalar(chs: Seq[Column], w: Int, h: Int, m: Int, mode: Int): Column =
    kernel("quadScalar", longs("n", "s1", "s2", "s3"))(chs ++ Seq(w, h, m, mode): _*)

  /** Per-tile integer-exact C2 sums of the simulated RCH compact-pol scattering vector. */
  def cpC2Sums(chs: Seq[Column]): Column =
    kernel("cpC2Sums", longs("n", "s11", "s22", "s12r", "s12i"))(chs: _*)

  /** Two-epoch polarimetric change statistic rollup: 16 halo channels (8 per epoch). */
  def polChange(chs: Seq[Column], w: Int, h: Int, m: Int): Column = {
    require(chs.size == 16)
    channelKernel("polChangeTile", longs("n", "s_q"))(chs, w, h, m)
  }

  /** Per-tile exact covariance sums for the Quegan polarimetric calibration solve. */
  def polCalCov(chs: Seq[Column]): Column = {
    require(chs.size == 8)
    kernel("polCalCovTile", struct(("n" -> LongType) +: Seq("c00", "c33", "c01r", "c01i",
      "c02r", "c02i", "c03r", "c03i", "c13r", "c13i", "c23r", "c23i").map(_ -> DoubleType): _*))(
      chs: _*)
  }

  /** Nearest-neighbor polynomial warp gather over a margin-m halo (deskew / cross). */
  def warpGather(halo: Column, tileX: Column, tileY: Column,
      w: Int, h: Int, m: Int, coeffs: Seq[Double]): Column = {
    require(coeffs.size == 6)
    kernel("warpGather", Doubles)(Seq(halo, w, h, m, tileX, tileY) ++ coeffs: _*)
  }

  /** 5-point truncated-sinc range resample at per-row fractional shift d. */
  def bisincRange(halo: Column, d: Column, w: Int, h: Int, m: Int): Column =
    kernel("bisincRange", Doubles)(halo, w, h, m, d)

  /** PQ encode: argmin codeword id per subspace over the flattened codebook. */
  def pqEncode(v: Column, cb: Column): Column = kernel("pqEncode", Longs)(v, cb)

  /** PQ ADC distance table dt[s*K + c] per query vector. */
  def pqDistTable(v: Column, cb: Column): Column = kernel("pqDistTable", Doubles)(v, cb)

  /** IEM LUT nearest-neighbor inversion rollup per tile. */
  def iemInvert(s1: Column, s2: Column, theta: Column, lut: Column): Column =
    kernel("iemInvertTile", longs("n", "rms_q", "rdc_q"))(s1, s2, theta, lut)

  /** IEM Hybrid LUT inversion rollup: AM/PM sigma pairs + per-image theta. */
  def iemHybrid(chs: Seq[Column]): Column = {
    require(chs.size == 7)
    kernel("iemHybridTile", longs("n", "rms_q", "rdc_q"))(chs: _*)
  }

  /** Quegan distortion-inverse apply: 8 channel arrays + 8 crosstalk-delta doubles. */
  def polCalApply(chs: Seq[Column]): Column = {
    require(chs.size == 16)
    kernel("polCalApplyTile", longs("n" +: Seq("hhr", "hhi", "hvr", "hvi", "vhr", "vhi", "vvr",
      "vvi").map("s_" + _): _*))(chs: _*)
  }

  /** Windowed speckle filter: halo (w+2m)x(h+2m) -> filtered w*h array. enl/damping are
   * columns so a data-estimated per-tile ENL can drive the kernel
   * (SpeckleFilter.java:227-321 estimateENL mode). */
  def speckleFilter(halo: Column, mode: String, w: Int, h: Int, margin: Int,
      enl: Column, damping: Column): Column =
    kernel("speckle", Doubles)(halo, Kernels.modeId(mode), w, h, margin, enl, damping)

  /** MuLoG ADMM filter over a clipped halo buffer (Kernels.mulogTile). */
  def mulog(halo: Column, tileX: Column, tileY: Column, w: Int, h: Int, margin: Int,
      tilesX: Int, tilesY: Int, enl: Double, rho: Double, iters: Int,
      searchR: Int, patchR: Int, nlmH: Double): Column =
    kernel("mulogTile", Doubles)(halo, w, h, margin, tileX, tileY, tilesX, tilesY,
      enl, rho, iters, searchR, patchR, nlmH)

  /** Neighbor-strip slice for the halo exchange: only the margin-wide band a neighbor
   * actually contributes is shuffled (role 4 = the full tile itself). */
  def haloStrip(arr: Column, role: Column, w: Int, h: Int, m: Int): Column =
    kernel("haloStrip", Doubles)(arr, role, w, h, m)

  /** Halo assembly from collected neighbor strips (one compiled copy pass). */
  def haloAssemble(contribs: Column, w: Int, h: Int, m: Int): Column =
    kernel("haloAssemble", Doubles)(contribs, w, h, m)

  /** Windowed dual-pol C2 product (m-delta / DpRVI / anisotropy / entropy). */
  def c2Window(c11: Column, c22: Column, c12r: Column, c12i: Column,
      w: Int, h: Int, m: Int, mode: Int): Column =
    kernel("c2Window", Doubles)(c11, c22, c12r, c12i, w, h, m, mode)

  /** Per-tile dark-pixel count (oil-spill detection). */
  def darkCount(halo: Column, w: Int, h: Int, m: Int, k: Double): Column =
    kernel("darkCount", LongType)(halo, w, h, m, k)

  /** Per-tile multilook block sums (array<struct<n:long, s:double>>, row-major blocks). */
  def blockMeans(v: Column, w: Int, h: Int, looks: Int): Column =
    kernel("blockMeans", ArrayType(struct("n" -> LongType, "s" -> DoubleType),
      containsNull = false), barrier = true)(v, w, h, looks)

  /** Chain-multilook block statistics: per-pixel quantize-to-long then block sum,
   * one compiled pass referencing the (possibly deeply chained) input array
   * exactly once (array<struct<n:long, s:long>>). */
  def blockStatsQ(v: Column, w: Int, h: Int, looks: Int, q: Double): Column =
    kernel("blockStatsQ", ArrayType(longs("n", "s"), containsNull = false))(v, w, h, looks, q)

  /** Per-tile mosaic partial aggregation (array<struct<cell_x,cell_y,n_px,sum_q>>). */
  def mosaicCells(v: Column, tileX: Column, tileY: Column, lon1: Column, lat1: Column,
      lon2: Column, lon4: Column, lat4: Column, lon0: Column, lat0: Column,
      w: Int, h: Int, samplesPerBurst: Int, linesPerBurst: Int, cell: Double): Column =
    kernel("mosaicCells", ArrayType(struct("cell_x" -> IntegerType, "cell_y" -> IntegerType,
      "n_px" -> LongType, "sum_q" -> LongType), containsNull = false))(
      v, tileX, tileY, lon1, lat1, lon2, lon4, lat4, lon0, lat0,
      w, h, samplesPerBurst, linesPerBurst, cell)

  /** 16-entry minhash signature from a doc's base-hash array (one compiled pass). */
  def minhash16(hs: Column): Column = kernel("minhash16", Longs)(hs)

  /** The Column form of the quantization grid: floor(Dither + c * scale) as a
   * BIGINT, the tree that Kernels.gridSql(e, scale) parses to. */
  def grid(c: Column, scale: Double): Column =
    functions.floor(functions.lit(Kernels.Dither) + c * scale).cast("long")

  /** Integer-exact rollup struct (n, s, mn, mx) of a filtered array (one compiled pass). */
  def rollupQ(arr: Column, q: Double): Column =
    kernel("rollupQ", StructType(longs("n", "s").fields ++
      nullableStruct("mn" -> LongType, "mx" -> LongType).fields))(arr, q)

  /** Two-moment rollup (n, s, s2, mn, mx) — Data-Analysis per-tile partials. */
  def rollup2Q(arr: Column, q: Double): Column =
    kernel("rollup2Q", StructType(longs("n", "s", "s2").fields ++
      nullableStruct("mn" -> LongType, "mx" -> LongType).fields))(arr, q)

  /** Quantized-sum fold over one or two pixel arrays (Kernels.sumQ modes). */
  def sumQ(a: Column, b: Column, mode: Int, k: Double = 0.0, q: Double = 1.0e6): Column =
    kernel("sumQ", LongType)(a, b, mode, k, q)

  /** Compiled per-pixel binary map (Kernels.pixelMap2): the hot zip_with lambdas
   * (calibration apply, noise subtraction, interferogram phase) as one static
   * call per tile — bit-identical to the interpreted HOF they replace
   * (RasterOpsSpec pins the equality per mode). */
  def pixelMap2(a: Column, b: Column, mode: Int, p: Double = 0.0): Column =
    kernel("pixelMap2", Pixels)(a, b, mode, p)

  /** Compiled dyadic intensity v = i^2+q^2 (Raster.intensityTiles' zip_with). */
  def intensity(i: Column, q: Column, d: Double, dv: Double): Column =
    kernel("intensity", Pixels)(i, q, d, dv)

  /** Compiled index-dependent per-pixel map (Kernels.pixelMapIdx): the lambda
   * reads the pixel's global range sample gx = tile_x*tw + k%tw (antenna-pattern
   * gain, incidence-angle calibrator classes, per-row noise floor). `p` is a
   * column so a per-row scalar (noise floor) or a parsed mission constant can
   * drive the same kernel. */
  def pixelMapIdx(v: Column, tileX: Column, p: Column, mode: Int, tw: Int, spb: Int): Column =
    kernel("pixelMapIdx", Pixels)(v, tileX, p, mode, tw, spb)

  /** S1-ETAD timing-correction map: gx + dR/DR (pure arithmetic — exact). */
  def etadMap(v: Column, lut: Column, tileX: Column, dr: Double, tw: Int): Column =
    kernel("etadMap", Pixels)(v, lut, tileX, dr, tw)

  /** Compiled wrapped phase-subtraction over an (a, b) channel pair
   * (Kernels.phaseSubPair): ph = atan2(b, a) (d-quantized first in EAP mode),
   * out = atan2(sin(ph - f), cos(ph - f)) with f the closed-form surface at the
   * pixel's global coordinates (topo surface / EAP elevation profile). */
  def phaseSubPair(a: Column, b: Column, tileX: Column, tileY: Column,
      mode: Int, d: Double, tw: Int, th: Int, spb: Int,
      p1: Double = 0.0, p2: Double = 0.0): Column =
    kernel("phaseSubPair", Pixels)(a, b, tileX, tileY, mode, d, tw, th, spb, p1, p2)

  /** Chain TopoPhaseRemoval map over an already-computed wrapped-phase array —
   * unary so a deeply chained upstream `v` expression is referenced exactly once. */
  def phaseSubV(v: Column, tileX: Column, tileY: Column, tw: Int, th: Int): Column =
    kernel("phaseSubV", Pixels)(v, tileX, tileY, tw, th)

  /** GRD azimuth thermal-noise lerp-subtract map (pure arithmetic — exact). */
  def noiseAzMap(v: Column, lutA: Column, azlut: Column, burstIdx: Column,
      tileY: Column, lp: Int, tw: Int, th: Int): Column =
    kernel("noiseAzMap", Pixels)(v, lutA, azlut, burstIdx, tileY, lp, tw, th)

  /** Chain Subset pixel-exact crop mask (pure comparisons — exact). */
  def subsetMask(v: Column, tileX: Column, tileY: Column,
      x0: Int, x1: Int, y0: Int, y1: Int, tw: Int, th: Int): Column =
    kernel("subsetMask", Pixels)(v, tileX, tileY, x0, x1, y0, y1, tw, th)

  /** Compiled per-element dyadic snap x -> floor(x*d)/d. */
  def quantize(a: Column, d: Double): Column = kernel("quantize", Pixels)(a, d)

  /** Compiled 3-word-shingle h60 hashes from a words array (Kernels.shingleH60). */
  def shingleH60(ws: Column): Column = kernel("shingleH60", Longs)(ws)

  /** Compiled cosine over two FLOAT or DOUBLE embedding arrays (Kernels.cosine);
   * each side's element type is read from its resolved type, so the SQL
   * CAST-to-double upcast is reproduced exactly. */
  def cosine(a: Column, b: Column): Column = {
    def isFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"cosine over $t")
    }
    toCol(ResolvedKernel(Seq(toExpr(a), toExpr(b)), cs =>
      invoke("cosine", DoubleType, cs ++ cs.map(c => Literal(isFloat(c))))))
  }

  /** Full split-spectrum ionospheric correction over one burst raster (coherence
   * threshold + separable weighted Gaussian + wrap(phiF - filtered)); per-tile
   * (n, iono_q, corr_q) sums (IonosphericCorrectionOp.java:289-480). */
  def ionoSmooth(cre: Column, cim: Column, tilesX: Int, tilesY: Int,
      tileW: Int, tileH: Int, sigma: Int, thr: Double): Column =
    kernel("ionoSmooth", struct(Seq("n", "iono_q", "corr_q").map(_ -> Longs): _*))(
      cre, cim, tilesX, tilesY, tileW, tileH, sigma, thr)

  /** Full Goldstein block pipeline over one burst raster (75%-overlap 64x64 FFT
   * blocks, adaptive alpha, smoothed-magnitude^alpha, triangular accumulation);
   * per-tile (n, phase_q) sums (GoldsteinFilterOp.java:330-826). */
  def goldsteinFull(cre: Column, cim: Column, tilesX: Int, tilesY: Int,
      tileW: Int, tileH: Int, alphaMin: Double, alphaMax: Double, alphaDef: Double): Column =
    kernel("goldsteinFull", struct("n" -> Longs, "ph_q" -> Longs))(
      cre, cim, tilesX, tilesY, tileW, tileH, alphaMin, alphaMax, alphaDef)

  /** jlinda const-fDC azimuth filter over one burst raster (inverse-Hamming
   * de-weight at fDC_m, new-Hamming re-weight at fDC_mean, per-column FFT);
   * per-tile (n, re_q, im_q) sums (AzimuthFilter.java:130-157). */
  def azFilter(cre: Column, cim: Column, fdcM: Column, fdcS: Column, prf: Column,
      tilesX: Int, tilesY: Int, tileW: Int, tileH: Int, abw: Double, alpha: Double): Column =
    kernel("azFilter", struct(Seq("n", "re_q", "im_q").map(_ -> Longs): _*))(
      cre, cim, tilesX, tilesY, tileW, tileH, fdcM, fdcS, prf, abw, alpha)

  /** jlinda adaptive range filter over one burst raster pair (fringe shift from
   * the 15-row-mean interferometric spectrum peak, shifted/narrowed Hamming x
   * inverse Hamming per line, applied to the master rows); per-tile (n, re_q,
   * im_q) sums (RangeFilter.java:104-230). */
  def rangeFilter(mre: Column, mim: Column, xre: Column, xim: Column,
      tilesX: Int, tilesY: Int, tileW: Int, tileH: Int): Column =
    kernel("rangeFilter", struct(Seq("n", "re_q", "im_q").map(_ -> Longs): _*))(
      mre, mim, xre, xim, tilesX, tilesY, tileW, tileH)

  /** Quad-pol per-tile T3 integer sums: (n, s11..s23i) from the 8 i/q channels. */
  def t3Sums(chs: Seq[Column]): Column = kernel("t3Sums", longs("n" +: T3: _*))(chs: _*)

  /** Sparse above-threshold pixel indices of one tile. */
  def aboveThr(v: Column, thr: Double): Column = kernel("aboveThr", Ints)(v, thr)

  /** CMOD5 wind-speed grid-search inversion per tile (tile-mean NRCS). */
  def cmod5(v: Column, theta: Column, cosFi: Column): Column =
    kernel("cmod5Tile", longs("n", "idx"))(v, theta, cosFi)

  /** Dark-pixel indices of a tile (center below k * window mean, margin-m halo). */
  def darkKs(halo: Column, w: Int, h: Int, m: Int, k: Double): Column =
    kernel("darkKs", Ints)(halo, w, h, m, k)

  /** RPCA change detection per tile: (n, count |S_e| > tau per epoch). */
  def rpca(chs: Seq[Column], tau: Double): Column =
    channelKernel("rpcaTile", longs("n" +: chs.indices.map(e => s"c$e"): _*))(chs, tau)

  /** Per-tile per-row first/last above-threshold column (GRD border-noise scan). */
  def rowScan(v: Column, w: Int, h: Int, thr: Double): Column =
    kernel("rowScan", struct("firsts" -> Ints, "lasts" -> Ints))(v, w, h, thr)

  /** Phase Linking per tile: (n, sum_q of linked phases vs epoch 0). */
  def phaseLink(chs: Seq[Column], w: Int, h: Int, m: Int): Column =
    channelKernel("phaseLinkTile",
      longs("n" +: (1 until Kernels.PhaseLinkEpochs).map(e => s"ph${e}_q"): _*))(chs, w, h, m)

  /** Zero-Doppler bisection on a Lagrange-interpolated orbit: (t_zd, slant). */
  def zeroDoppler(ts: Column, xs: Column, ys: Column, zs: Column,
      vxs: Column, vys: Column, vzs: Column, tx: Column, ty: Column, h: Column): Column =
    kernel("zeroDopplerBisect", struct("tzd" -> DoubleType, "slant" -> DoubleType),
      barrier = true)(ts, xs, ys, zs, vxs, vys, vzs, tx, ty, h)

  /** Polarimetric Refined Lee: span-driven edge window applied to all 9 T3 channels. */
  def polRefinedLee(chs: Seq[Column], w: Int, h: Int, m: Int, enl: Double): Column =
    kernel("polRefinedLee", longs("n" +: T3: _*))(chs ++ Seq[Any](w, h, m, enl): _*)

  /** Quad-pol per-tile H-A-alpha rollup over margin-m windowed T3. */
  def hAlpha(chs: Seq[Column], w: Int, h: Int, m: Int): Column =
    kernel("hAlphaTile", longs("n", "h_q", "a_q", "al_q"))(chs ++ Seq(w, h, m): _*)

  /** One Wishart pass per tile: 9 rows (zone, cnt, 9 quantized channel sums);
   * empty `centers` array = H-alpha seed mode, else argmin-distance assignment. */
  def wishart(chs: Seq[Column], centers: Column, w: Int, h: Int, m: Int): Column =
    kernel("wishartTile", ArrayType(struct(Seq("zone" -> IntegerType, "cnt" -> LongType) ++
      T3.map(_ -> LongType): _*), containsNull = false))(chs ++ Seq(centers, w, h, m): _*)

  /** Per-pixel bilinear LUT interpolation from bracketing calibration vectors. */
  def lutInterp(vecs: Column, burstIdx: Column, tileX: Column, tileY: Column,
      w: Int, h: Int, linesPerBurst: Int): Column =
    kernel("lutInterp", Doubles)(vecs, burstIdx, tileX, tileY, w, h, linesPerBurst)

  /** Complex cross products (cre, cim, p1, p2) of two complex tiles, one pass. */
  def complexCross(i1: Column, q1: Column, i2: Column, q2: Column): Column =
    kernel("complexCross", struct(Seq("cre", "cim", "p1", "p2").map(_ -> Doubles): _*))(
      i1, q1, i2, q2)

  /** Windowed coherence from 4 halo channels. */
  def coherence(cre: Column, cim: Column, p1: Column, p2: Column,
      w: Int, h: Int, margin: Int): Column =
    kernel("coherence", Doubles)(cre, cim, p1, p2, w, h, margin)

  /** Whole-tile CFAR: one static call -> struct(n_detect, max_t). */
  def cfar(halo: Column, w: Int, h: Int, m: Int, g: Int, thr: Double): Column =
    kernel("cfar", StructType(Seq(StructField("n_detect", LongType, nullable = false),
      StructField("max_t", DoubleType))))(halo, w, h, m, g, thr)

  /** Frequency-domain range oversampling x2. */
  def oversample(arr: Column, w: Int, h: Int): Column =
    kernel("oversampleRange", Doubles)(arr, w, h)

  /** Azimuth power spectrum of the deramped complex tile (per-column FFT). */
  def azSpectrum(di: Column, dq: Column, w: Int, h: Int): Column =
    kernel("azSpectrum", Doubles)(di, dq, w, h)

  /** WSS deburst overlap-strip fold: flat (n, pk, pki, av) x ov rows. */
  def wssOverlap(va: Column, ia: Column, vb: Column, ib: Column, tileX: Column,
      w: Int, h: Int, ov: Int, margin: Int, wTotal: Int, q: Double): Column =
    kernel("wssOverlap", Longs)(va, ia, vb, ib, tileX, w, h, ov, margin, wTotal, q)

  /** WSS deburst pass-through fold: flat (n, pk, pki, av) x h rows. */
  def wssPass(v: Column, id: Column, tileX: Column, w: Int, h: Int,
      margin: Int, wTotal: Int, q: Double): Column =
    kernel("wssPass", Longs)(v, id, tileX, w, h, margin, wTotal, q)

  /** FFT-NCC tie-point match with iterative subpixel refinement. */
  def fftXcorr(refTiles: Column, secTiles: Column, cx: Column, cy: Column,
      half: Int, searchR: Int, tw: Int, th: Int): Column =
    kernel("fftXcorrMatch", nullableStruct("est_dx" -> DoubleType, "est_dy" -> DoubleType,
      "peak_ncc" -> DoubleType))(refTiles, secTiles, cx, cy, half, searchR, tw, th)

  /** Integer SSD lattice match. */
  def ssdMatch(refTiles: Column, secTiles: Column, cx: Column, cy: Column,
      half: Int, searchR: Int, tw: Int, th: Int): Column =
    kernel("ssdMatch", nullableStruct("est_dx" -> IntegerType, "est_dy" -> IntegerType,
      "ssd_min" -> DoubleType))(refTiles, secTiles, cx, cy, half, searchR, tw, th)

  /** Aligned-stack per-tile diff against gathered covering secondary tiles. */
  def alignDiff(refArr: Column, secTiles: Column, tileX: Column, tileY: Column,
      sdx: Column, sdy: Column, tw: Int, th: Int): Column =
    kernel("alignDiff", nullableStruct("n" -> LongType, "max_abs" -> DoubleType))(
      refArr, secTiles, tileX, tileY, sdx, sdy, tw, th)
}
