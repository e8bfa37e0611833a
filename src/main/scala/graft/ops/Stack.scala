package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout
import graft.exprs.Kernels.{gridSql, q6Sql}

/**
 * Stack-family operators over the K-epoch coregistered stack fixture (tiles_stack):
 *  - CreateStack (reference CreateStackOp.java:74-122): re-key all epochs onto the
 *    master grid; extent rules Master / Minimum / Maximum differ because per-epoch
 *    coverage varies (epoch e covers bursts 1+e..9).
 *  - Multitemporal-Compositing (MultitemporalCompositingOp.java): per-pixel temporal
 *    mean across epochs.
 *  - SBAS velocity inversion (SBASInversionOp.java:76): per-pixel least-squares
 *    phase-rate solve across the epoch series — the groupBy(pixel).agg(small solve)
 *    shape; fixtures plant a linear phase rate, so LS recovers it.
 *  - REACTIV-style change detection (REACTIVOp.java): per-pixel temporal coefficient
 *    of variation of intensity.
 *  - SliceAssembly (SliceAssemblyOp.java:176-178): time-sorted azimuth concatenation
 *    bookkeeping — cumulative line offsets per slice.
 *  - TOPSAR-Merge (TOPSARMergeOp.java:47): subswath -> merged-grid sample re-key on
 *    the deburst line timeline.
 *  - Enhanced-Spectral-Diversity (SpectralDiversityOp.java:104): per burst-overlap
 *    double-difference interferogram aggregate -> azimuth shift estimate.
 *
 * All per-pixel folds run inside the array domain (no pixel explode); cross-epoch
 * grouping is a tile-key shuffle — the partition key a 100-TB stack would use.
 */
object Stack {

  private val ND = Raster.ND
  private val N = Layout.TileW * Layout.TileH
  val Epochs: Int = Fixtures.StackEpochs

  /** tiles_stack with quantized intensity v (same dyadic grid as Raster). */
  def stackTiles(spark: SparkSession, sfDir: String): DataFrame =
    Raster.intensityTiles(spark, sfDir, "tiles_stack")

  private val keys = Seq("scene_id", "subswath", "pol", "burst_idx", "tile_y", "tile_x")

  /** CreateStack: master-grid union with extent-rule flags per tile key. */
  def createStackQuery(spark: SparkSession, sfDir: String): DataFrame =
    // compiled rollupQ.s: identical quantizer; the SQL fold's ND branch adds
    // 0L and the kernel's skip adds nothing — same sum (NaN likewise: the
    // SQL's floor(NaN)->CAST is 0L, the kernel skips)
    stackTiles(spark, sfDir)
      .withColumn("tile_sum_q",
        graft.exprs.KernelExprs.rollupQ(col("v"), 1.0e6).getField("s"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_epochs"),
        expr("max(if(epoch = 0, 1, 0)) = 1").as("in_master_extent"),
        expr(s"count(*) = $Epochs").as("in_minimum_extent"),
        sum("tile_sum_q").as("sum_q"))

  /** per-tile-key epoch series (sorted struct array of (epoch, i, q, v)). */
  private def collected(spark: SparkSession, sfDir: String): DataFrame =
    stackTiles(spark, sfDir)
      .withColumn("iq", graft.exprs.KernelExprs.quantize(col("i"), Raster.Dyadic))
      .withColumn("qq", graft.exprs.KernelExprs.quantize(col("q"), Raster.Dyadic))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("epoch"), col("iq"), col("qq"), col("v")))).as("es"))

  /** Multitemporal compositing: per-pixel mean of v across valid epochs. */
  def compositeQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(collected(spark, sfDir)
      .withColumn("out", expr(
        s"""transform(sequence(0, ${N - 1}), k ->
           |  aggregate(es, struct(0 AS n, 0D AS s),
           |    (acc, t) -> if(element_at(t.v, k + 1) = $ND, acc,
           |      struct(acc.n + 1 AS n, acc.s + element_at(t.v, k + 1) AS s)),
           |    acc -> if(acc.n = 0, $ND, acc.s / acc.n)))""".stripMargin))
      .drop("es"))

  /** SBAS: per-pixel LS slope of phase vs epoch (rad/epoch). */
  def sbasVelocityQuery(spark: SparkSession, sfDir: String): DataFrame =
    Raster.rollup(collected(spark, sfDir)
      .withColumn("out", expr(
        s"""transform(sequence(0, ${N - 1}), k ->
           |  aggregate(es, struct(0D AS n, 0D AS se, 0D AS sph, 0D AS sep, 0D AS see),
           |    (acc, t) -> if(element_at(t.iq, k + 1) = ${ND} or element_at(t.qq, k + 1) = $ND, acc,
           |      struct(acc.n + 1D AS n,
           |             acc.se + t.epoch AS se,
           |             acc.sph + atan2(element_at(t.qq, k + 1), element_at(t.iq, k + 1)) AS sph,
           |             acc.sep + t.epoch * atan2(element_at(t.qq, k + 1), element_at(t.iq, k + 1)) AS sep,
           |             acc.see + CAST(t.epoch AS DOUBLE) * t.epoch AS see)),
           |    acc -> if(acc.n < 2D or acc.n * acc.see - acc.se * acc.se = 0D, $ND,
           |      (acc.n * acc.sep - acc.se * acc.sph) / (acc.n * acc.see - acc.se * acc.se))))""".stripMargin))
      .drop("es"))

  /**
   * REACTIV change detection — the FULL reference algorithm (ReactivOp.java:
   * 258-392, 441-555; Koeniguer et al. "Colored visualization of multitemporal
   * SAR data"): per pixel, epochs traversed in date order with vMax = the
   * max intensity over the selected POLARISATIONS at that epoch (getMaxValue,
   * :557-577); an epoch where any PRESENT pol reads no-data POISONS the pixel
   * (time := -1, :334-337) but a LATER record-beating epoch re-validates it —
   * the raster-scan recovery quirk; a pol absent at an epoch (null dataBuffer,
   * :563-566 — the fixture's VH-less last epoch) is simply skipped. Outputs:
   *  - hue  = 0.9 * (timeOfMax - timeMin) / (timeMax - timeMin)   (:375)
   *  - sat  = clamp((maxPolCV - 0.2286) / (10 * 0.1616) + 0.25, 0, 1)  (:377-379)
   *    with maxPolCV the max over pols of std/mean (computeMaxVarianceCoefficient,
   *    divisors = numOfProducts, zero-mean pols skipped, all-skipped -> 0)
   *  - val  = min(value / threshold, 1), value = 0.4 * (max + sumMax/numOfProducts)
   *    (:382-385); threshold = mean + std of value over the scene (:520-552),
   *    computed in a FIRST pass whose validity rule differs from the main pass —
   *    a pixel is dropped at its FIRST poison epoch and never recovers
   *    (invalid[], :492-500) — the reference's two-pass asymmetry, mirrored.
   * Per-pixel running max folds use init max = 0 / time = 0 (the Java array
   * defaults, so an all-nonpositive pixel emits hue 0 — reference quirk kept).
   * value is dyadically staged (1e-2) before the scene aggregation so the
   * threshold is an exact integer-sum derivation in both engines (documented
   * deviation; v itself is already 2^-14 dyadic so per-pol sums are exact).
   */
  def reactivQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val E = Epochs.toDouble
    val EM1 = (Epochs - 1).toDouble
    val NEG = "-1.7976931348623157E308"
    val pe = stackTiles(spark, sfDir)
      .groupBy("scene_id", "subswath", "burst_idx", "tile_y", "tile_x", "epoch")
      .agg(first(when(col("pol") === "VV", col("v")), ignoreNulls = true).as("vv"),
        first(when(col("pol") === "VH", col("v")), ignoreNulls = true).as("vh"))
    val folded = pe
      .groupBy("scene_id", "subswath", "burst_idx", "tile_y", "tile_x")
      .agg(sort_array(collect_list(struct(col("epoch"), col("vv"), col("vh")))).as("es"))
      .withColumn("st", expr(
        s"""transform(sequence(0, ${N - 1}), k ->
           |  aggregate(es,
           |    struct(CAST(0 AS DOUBLE) AS mx, CAST(0 AS DOUBLE) AS tm, true AS np,
           |           CAST(0 AS DOUBLE) AS smax, CAST(0 AS DOUBLE) AS svv, CAST(0 AS DOUBLE) AS s2vv,
           |           CAST(0 AS DOUBLE) AS svh, CAST(0 AS DOUBLE) AS s2vh),
           |    (acc, t) -> if(
           |      (t.vv IS NOT NULL AND element_at(t.vv, k + 1) = $ND)
           |        OR (t.vh IS NOT NULL AND element_at(t.vh, k + 1) = $ND),
           |      struct(acc.mx AS mx, CAST(-1 AS DOUBLE) AS tm, false AS np, acc.smax AS smax,
           |             acc.svv AS svv, acc.s2vv AS s2vv, acc.svh AS svh, acc.s2vh AS s2vh),
           |      struct(
           |        if(acc.mx < greatest(coalesce(element_at(t.vv, k + 1), ${NEG}D), coalesce(element_at(t.vh, k + 1), ${NEG}D)),
           |           greatest(coalesce(element_at(t.vv, k + 1), ${NEG}D), coalesce(element_at(t.vh, k + 1), ${NEG}D)), acc.mx) AS mx,
           |        if(acc.mx < greatest(coalesce(element_at(t.vv, k + 1), ${NEG}D), coalesce(element_at(t.vh, k + 1), ${NEG}D)),
           |           CAST(t.epoch AS DOUBLE), acc.tm) AS tm,
           |        acc.np AS np,
           |        acc.smax + greatest(coalesce(element_at(t.vv, k + 1), ${NEG}D), coalesce(element_at(t.vh, k + 1), ${NEG}D)) AS smax,
           |        acc.svv + coalesce(element_at(t.vv, k + 1), CAST(0 AS DOUBLE)) AS svv,
           |        acc.s2vv + coalesce(element_at(t.vv, k + 1) * element_at(t.vv, k + 1), CAST(0 AS DOUBLE)) AS s2vv,
           |        acc.svh + coalesce(element_at(t.vh, k + 1), CAST(0 AS DOUBLE)) AS svh,
           |        acc.s2vh + coalesce(element_at(t.vh, k + 1) * element_at(t.vh, k + 1), CAST(0 AS DOUBLE)) AS s2vh)),
           |    acc -> struct(acc.mx AS mx, acc.tm AS tm, acc.np AS np,
           |      0.4 * (acc.mx + acc.smax / ${E}) AS value0,
           |      coalesce(greatest(
           |        if(acc.svv / ${E} = CAST(0 AS DOUBLE), CAST(null AS DOUBLE),
           |          sqrt(greatest(CAST(0 AS DOUBLE), acc.s2vv / ${E} - (acc.svv / ${E}) * (acc.svv / ${E}))) / (acc.svv / ${E})),
           |        if(acc.svh / ${E} = CAST(0 AS DOUBLE), CAST(null AS DOUBLE),
           |          sqrt(greatest(CAST(0 AS DOUBLE), acc.s2vh / ${E} - (acc.svh / ${E}) * (acc.svh / ${E}))) / (acc.svh / ${E}))),
           |        CAST(0 AS DOUBLE)) AS maxvc)))""".stripMargin))
      .drop("es")
    // pass 1 (computeThreshold, :441-555): per-scene mean + std of the dyadically
    // staged value over pixels never poisoned at ANY epoch
    val v2 = gridSql("p.value0", 1.0e2)
    val thr = folded
      .withColumn("tp", expr(
        s"""aggregate(st, struct(0L AS n, 0L AS s, 0L AS s2),
           |  (acc, p) -> if(NOT p.np, acc,
           |    struct(acc.n + 1L AS n,
           |      acc.s + $v2 AS s,
           |      acc.s2 + $v2 * $v2 AS s2)))""".stripMargin))
      .groupBy("scene_id")
      .agg(sum(expr("tp.n")).as("tn"), sum(expr("tp.s")).as("ts"), sum(expr("tp.s2")).as("ts2"))
      .withColumn("threshold", expr(
        """if(tn = 0, CAST(0 AS DOUBLE),
          |  (ts / 1.0E2) / tn + sqrt(greatest(CAST(0 AS DOUBLE),
          |    (ts2 / 1.0E4) / tn - ((ts / 1.0E2) / tn) * ((ts / 1.0E2) / tn))))""".stripMargin))
      .select("scene_id", "threshold")
    // pass 2: hue / saturation / normalized value per pixel, rolled up per tile
    folded
      .join(broadcast(thr), Seq("scene_id"))
      .withColumn("rq", expr(
        s"""aggregate(st, struct(0L AS n, 0L AS hq, 0L AS sq, 0L AS vq),
           |  (acc, p) -> if(p.tm = CAST(-1 AS DOUBLE), acc,
           |    struct(acc.n + 1L AS n,
           |      acc.hq + ${q6Sql(s"0.9 * p.tm / ${EM1}")} AS hq,
           |      acc.sq + ${q6Sql("least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), (p.maxvc - 0.2286) / (10.0 * 0.1616) + 0.25))")} AS sq,
           |      acc.vq + ${q6Sql("if(threshold > CAST(0 AS DOUBLE) AND p.value0 < threshold, p.value0 / threshold, CAST(1 AS DOUBLE))")} AS vq)))""".stripMargin))
      .select(col("scene_id"), col("subswath"), col("burst_idx"), col("tile_y"), col("tile_x"),
        expr("rq.n").as("n_valid"), expr("rq.hq").as("hue_sum_q"),
        expr("rq.sq").as("sat_sum_q"), expr("rq.vq").as("val_sum_q"))
  }

  /** SliceAssembly: cumulative azimuth line offsets of time-sorted slices. */
  def sliceAssemblyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val perSlice = Fixtures.table(spark, sfDir, "bursts")
      .groupBy("scene_id", "subswath")
      .agg(min("burst_first_line_time").as("t0"), max("burst_last_line_time").as("t1"))
      .join(broadcast(Fixtures.table(spark, sfDir, "scenes")
        .select("scene_id", "azimuth_time_interval")), Seq("scene_id"))
      .withColumn("n_lines", expr(
        "CAST(round((t1 - t0) / azimuth_time_interval, 0) AS BIGINT) + 1"))
    val w = Window.partitionBy("subswath").orderBy("t0", "scene_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    perSlice
      .withColumn("line_offset", coalesce(sum("n_lines").over(w), lit(0L)))
      .select("scene_id", "subswath", "n_lines", "line_offset")
  }

  /** TOPSAR-Merge: deburst timeline + merged-grid range offset per subswath. */
  def topsarMergeQuery(spark: SparkSession, sfDir: String): DataFrame =
    Deburst.query(spark, sfDir)
      .withColumn("merged_x0",
        (expr("CAST(substring(subswath, 3, 1) AS INT)") - 1) * Layout.SamplesPerBurst)

  /** ESD: per burst-overlap double-difference interferogram -> azimuth shift. */
  /** Shared ESD overlap sums: per (scene, subswath, burst_a) coherent
   * double-difference re/im totals over the burst_a/burst_a+1 overlap strip. */
  private def esdDdSums(spark: SparkSession, sfDir: String): DataFrame = {
    val ov = Layout.BurstOverlapLines
    val w = Layout.TileW
    val rowsTop = w * (Layout.TileH - ov) // k offset of the last `ov` rows
    val cx = InSAR.crossTiles(spark, sfDir).where(col("pol") === "VV")
    val top = cx.where(col("tile_y") === Layout.TilesY - 1)
      .select(col("scene_id"), col("subswath"), col("burst_idx").as("burst_a"), col("tile_x"),
        col("cre").as("cre_a"), col("cim").as("cim_a"))
    val bot = cx.where(col("tile_y") === 0 && col("burst_idx") > 1)
      .select(col("scene_id"), col("subswath"), (col("burst_idx") - 1).as("burst_a"), col("tile_x"),
        col("cre").as("cre_b"), col("cim").as("cim_b"))
    top.join(bot, Seq("scene_id", "subswath", "burst_a", "tile_x"))
      .withColumn("dd", expr(
        s"""aggregate(sequence(0, ${ov * w - 1}), struct(0L AS n, 0D AS re, 0D AS im),
           |  (acc, j) -> if(element_at(cre_a, $rowsTop + j + 1) = $ND
           |                 or element_at(cre_b, j + 1) = $ND, acc,
           |    struct(acc.n + 1L AS n,
           |      acc.re + (element_at(cre_a, $rowsTop + j + 1) * element_at(cre_b, j + 1)
           |                + element_at(cim_a, $rowsTop + j + 1) * element_at(cim_b, j + 1)) AS re,
           |      acc.im + (element_at(cim_a, $rowsTop + j + 1) * element_at(cre_b, j + 1)
           |                - element_at(cre_a, $rowsTop + j + 1) * element_at(cim_b, j + 1)) AS im)))""".stripMargin))
      .groupBy("scene_id", "subswath", "burst_a")
      .agg(sum(col("dd.n")).as("n_px"), sum(col("dd.re")).as("sre"), sum(col("dd.im")).as("sim"))
  }

  def esdShiftQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val fdc = Fixtures.table(spark, sfDir, "bursts")
      .select(col("scene_id"), col("subswath"), col("burst_idx"), col("doppler_centroid"))
    val dfdc = fdc.as("a").join(fdc.as("b"),
        col("a.scene_id") === col("b.scene_id") && col("a.subswath") === col("b.subswath") &&
          col("a.burst_idx") + 1 === col("b.burst_idx"))
      .select(col("a.scene_id").as("scene_id"), col("a.subswath").as("subswath"),
        col("a.burst_idx").as("burst_a"),
        (col("b.doppler_centroid") - col("a.doppler_centroid")).as("dfdc"))
    esdDdSums(spark, sfDir)
      .join(broadcast(dfdc), Seq("scene_id", "subswath", "burst_a"))
      .select(col("scene_id"), col("subswath"), col("burst_a"), col("n_px"),
        expr(q6Sql("atan2(sim, sre)")).as("phase_q"),
        expr(q6Sql(s"atan2(sim, sre) / (2 * pi() * dfdc * ${Layout.AzimuthTimeInterval})"))
          .as("az_shift_q"))
  }

  /** ESD shift APPLICATION (SpectralDiversityOp's azimuth-shift correction leg):
   * the per-overlap double-difference phases accumulate along the burst timeline
   * (cumulative window sum in burst order — deterministic in both engines), and
   * each burst b >= 2 of the interferogram is re-aligned per pixel by its
   * cumulative correction: out = wrap(phase - corr_b). The tiny per-burst
   * correction frame broadcasts back onto the tiles — estimation shuffles only
   * overlap strips, application is map-side. */
  def esdApplyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val grp = Window.partitionBy("scene_id", "subswath").orderBy("burst_a")
    val corr = esdDdSums(spark, sfDir)
      .withColumn("phase", expr("atan2(sim, sre)"))
      .withColumn("corr", sum("phase").over(grp))
      .select(col("scene_id"), col("subswath"), (col("burst_a") + 1).as("burst_idx"), col("corr"))
    val cx = InSAR.crossTiles(spark, sfDir).where(col("pol") === "VV")
    Raster.rollup(cx.join(broadcast(corr), Seq("scene_id", "subswath", "burst_idx"))
      .withColumn("out", expr(
        s"""zip_with(cim, cre, (b, a) -> if(b = $ND or a = $ND, $ND,
           |  atan2(sin(atan2(b, a) - corr), cos(atan2(b, a) - corr))))""".stripMargin)))
  }

  /** RPCA sparse-residual threshold. */
  val RpcaTau = 50.0

  /**
   * RPCA-style change detection (reference RPCAOp.java:45): per tile, the rank-1
   * low-rank component of the (pixels x epochs) matrix via the K x K Gram +
   * power iteration (exact integer Gram sums -> identical doubles on both
   * engines), sparse residual S = v - (v·u)u, per-epoch change counts. Runs on
   * the full-coverage bursts (>= K) so the epoch vector is complete.
   */
  def rpcaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    def epochV(e: Int) =
      stackTiles(spark, sfDir)
        .where(col("epoch") === e && col("burst_idx") >= Epochs)
        .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
          col("tile_x"), col("tile_y"), col("v").as(s"v_e$e"))
    val joined = (1 until Epochs).foldLeft(epochV(0)) { (df, e) =>
      df.join(epochV(e), Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y"))
    }
    joined
      .withColumn("r", graft.exprs.KernelExprs.rpca(
        (0 until Epochs).map(e => col(s"v_e$e")), RpcaTau))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"), col("r.n").as("n_px"),
        col("r.c0").as("chg_e0"), col("r.c1").as("chg_e1"), col("r.c2").as("chg_e2"),
        col("r.c3").as("chg_e3"), col("r.c4").as("chg_e4"))
  }

  /** Stack-Split (reference StackSplitOp): split the coregistered stack into the
   * master product and one selected slave; per-tile rollups of both roles. */
  val SplitEpoch = 2
  def stackSplitQuery(spark: SparkSession, sfDir: String): DataFrame =
    stackTiles(spark, sfDir)
      .where(col("epoch") === 0 || col("epoch") === SplitEpoch)
      .withColumn("role", when(col("epoch") === 0, lit("master")).otherwise(lit("slave")))
      .select((keys :+ "role").map(col) :+ col("v"): _*)
      .withColumn("rq", graft.exprs.KernelExprs.rollupQ(col("v"), 1e6))
      .select((keys :+ "role").map(col) :+
        col("rq.n").as("n_valid") :+ col("rq.s").as("sum_q"): _*)

  /**
   * Phase Linking (reference PhaseLinkingOp.java:87): per pixel, the K x K sample
   * coherency matrix over the epoch stack (3x3 window) and the dominant
   * eigenvector's phase history via power iteration, all in ONE compiled kernel
   * call per tile. Bursts where every epoch exists (burst_idx >= K) so the K x K
   * matrix is full; the fixture's planted per-pixel linear phase history is what
   * the linked phases recover. Output: per-tile quantized sums of the linked
   * phases vs epoch 0.
   */
  def phaseLinkQuery(spark: SparkSession, sfDir: String): DataFrame = {
    def epochBand(e: Int) =
      Fixtures.table(spark, sfDir, "tiles_stack")
        .where(col("epoch") === e && col("burst_idx") >= Epochs)
        .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
          col("tile_x"), col("tile_y"),
          graft.exprs.KernelExprs.quantize(col("i"), Raster.Dyadic).as(s"i_e$e"),
          graft.exprs.KernelExprs.quantize(col("q"), Raster.Dyadic).as(s"q_e$e"))
    val chCols = (0 until Epochs).flatMap(e => Seq(s"i_e$e", s"q_e$e"))
    val joined = (1 until Epochs).foldLeft(epochBand(0)) { (df, e) =>
      df.join(epochBand(e), Seq("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y"))
    }
    val haloed = Raster.withHaloMulti(joined, chCols, 1)
    haloed
      .withColumn("pl", graft.exprs.KernelExprs.phaseLink(
        chCols.map(c => col(s"halo_$c")), Raster.W, Raster.H, 1))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        col("pl.n").as("n_valid"),
        col("pl.ph1_q").as("ph1_sum_q"), col("pl.ph2_q").as("ph2_sum_q"),
        col("pl.ph3_q").as("ph3_sum_q"), col("pl.ph4_q").as("ph4_sum_q"))
  }

  /** Maximum temporal baseline (s) for multi-master pair selection. */
  val MultiMasterMaxDt = 250.0

  /**
   * Multi-master InSAR pair network (MultiMasterInSAROp.java / MultiMasterOp.java):
   * every scene pair within the temporal-baseline window forms an interferogram;
   * per-pair, per-tile integer-exact sums of the complex cross product. The pair
   * enumeration is a self-join of the (tiny) scenes dimension; the pixel volume
   * joins once per admissible pair on the co-partitioned tile key.
   */
  def multiMasterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = Fixtures.table(spark, sfDir, "scenes").select("scene_id", "first_line_time")
    val pairs = sc.select(col("scene_id").as("scene_a"), col("first_line_time").as("ta"))
      .join(sc.select(col("scene_id").as("scene_b"), col("first_line_time").as("tb")),
        col("scene_a") < col("scene_b") &&
          col("tb") - col("ta") <= MultiMasterMaxDt)
      .select("scene_a", "scene_b")
    def snap(c: String) =
      expr(s"transform($c, x -> floor(x * ${Raster.Dyadic}) / ${Raster.Dyadic})")
    val tiles = Fixtures.table(spark, sfDir, "tiles").where(col("pol") === "VV")
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_x"), col("tile_y"), snap("i").as("iv"), snap("q").as("qv"))
    val gridKeys = Seq("subswath", "pol", "burst_idx", "tile_x", "tile_y")
    val a = tiles.withColumnRenamed("scene_id", "scene_a")
    val b = tiles.withColumnRenamed("scene_id", "scene_b")
      .withColumnRenamed("iv", "iv2").withColumnRenamed("qv", "qv2")
    a.join(broadcast(pairs), Seq("scene_a"))
      .join(b, gridKeys :+ "scene_b")
      .withColumn("cx", graft.exprs.KernelExprs.complexCross(
        col("iv"), col("qv"), col("iv2"), col("qv2")))
      // compiled rollupQ replaces the filter-size + two interpreted folds;
      // NaN cannot appear in cre/cim (the dyadic snap floors NaN to 0.0
      // before complexCross), so n = the former size(filter(x != ND)) and
      // the fold's ND-adds-0L equals the kernel's skip
      .withColumn("rc", graft.exprs.KernelExprs.rollupQ(col("cx.cre"), 1.0e6))
      .withColumn("ri", graft.exprs.KernelExprs.rollupQ(col("cx.cim"), 1.0e6))
      .select(col("scene_a"), col("scene_b"), col("subswath"), col("pol"),
        col("burst_idx"), col("tile_y"), col("tile_x"),
        col("rc.n").as("n_valid"),
        col("rc.s").as("cre_sum_q"),
        col("ri.s").as("cim_sum_q"))
  }
}
