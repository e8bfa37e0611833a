package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exprs.Kernels.q6Sql
import graft.gen.Fixtures
import graft.model.Layout
import graft.ops.{Calibration, InSAR, Raster, Spectral, Speckle, TerrainCorrection}

/**
 * Declarative processing-chain runner — the analog of the reference's GPF graph
 * XML (GraphProcessor over `<graph><node><operator>/<sources>/<parameters>`
 * documents, e.g. microwavetbx-benchmark/.../graphs/Sentinel1-TOPS-
 * Coregistration.xml: Read x2 -> TOPSAR-Split x2 -> Apply-Orbit-File x2 ->
 * Back-Geocoding -> Write). A chain is DATA (parsed from the same XML node
 * structure), compiled to ONE fused DataFrame: every node is a genuine
 * frame-to-frame transformation, so Catalyst sees the whole DAG as a single
 * logical plan — filters from a Split node push into the upstream scan,
 * broadcast joins from Orbit/Calibration nodes fuse with downstream kernels,
 * and NOTHING materializes between stages (the opposite of the reference's
 * per-operator tile materialization, and the reason a declared chain costs the
 * same as the hand-written composition).
 *
 * Scale posture: compilation is pure plan construction (driver-side, O(nodes));
 * execution inherits each operator's own shape — the chain adds zero shuffles
 * beyond what its operators declare.
 */
object ChainGraph {

  final case class Node(id: String, operator: String,
      params: Map[String, String], sources: Seq[String])
  final case class Spec(nodes: Seq[Node]) {
    def byId: Map[String, Node] = nodes.map(n => n.id -> n).toMap
  }

  // ------------------------------------------------------------------ parsing

  /** Parse the reference's graph XML shape (the subset every shipped graph
   * uses: node id / operator / sources refids / flat parameter elements).
   * Presentation blocks (`applicationData`) are ignored like the reference. */
  def parseXml(xml: String): Spec = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = f.newDocumentBuilder()
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    val graph = doc.getDocumentElement
    require(graph.getTagName == "graph", s"expected <graph>, got <${graph.getTagName}>")
    val nodes = mutable.ArrayBuffer.empty[Node]
    val nl = graph.getChildNodes
    for (i <- 0 until nl.getLength) nl.item(i) match {
      case e: org.w3c.dom.Element if e.getTagName == "node" =>
        val op = childText(e, "operator").getOrElse(
          sys.error(s"node ${e.getAttribute("id")} has no <operator>"))
        val sources = childElem(e, "sources").toSeq.flatMap { s =>
          elems(s).filter(_.getTagName.startsWith("sourceProduct")).map(_.getAttribute("refid"))
        }
        val params = childElem(e, "parameters").toSeq.flatMap { p =>
          elems(p).map(el => el.getTagName -> el.getTextContent.trim)
        }.toMap
        nodes += Node(e.getAttribute("id"), op, params, sources)
      case _ => () // applicationData, version, whitespace
    }
    Spec(nodes.toSeq)
  }

  private def elems(e: org.w3c.dom.Element): Seq[org.w3c.dom.Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).collect { case i if nl.item(i).isInstanceOf[org.w3c.dom.Element] =>
      nl.item(i).asInstanceOf[org.w3c.dom.Element] }
  }
  private def childElem(e: org.w3c.dom.Element, tag: String): Option[org.w3c.dom.Element] =
    elems(e).find(_.getTagName == tag)
  private def childText(e: org.w3c.dom.Element, tag: String): Option[String] =
    childElem(e, tag).map(_.getTextContent.trim)

  // ---------------------------------------------------------------- compiling

  /** Operator compiler: (session, fixture dir, node params, compiled source
   * frames) => frame. Every compiler is a pure plan transformation. */
  type OpCompiler = (SparkSession, String, Map[String, String], Seq[DataFrame]) => DataFrame

  /** Read: parameterized source-table scan. `table` picks the fixture table
   * (bursts for geometry chains, tiles for raster chains); `scenes` narrows to
   * the even (master) or odd (secondary) scene parity — the two-Read shape of
   * the coregistration graphs. Column pruning/pushdown happens downstream. */
  private def readOp: OpCompiler = (spark, sfDir, params, _) => {
    val table = params.getOrElse("table", "bursts")
    val frame = Fixtures.table(spark, sfDir, table)
      .withColumn("scene_ord", expr("CAST(substring(scene_id, 7, 4) AS INT)"))
    params.getOrElse("scenes", "all") match {
      case "even" => frame.where(col("scene_ord") % 2 === 0)
      case "odd"  => frame.where(col("scene_ord") % 2 === 1)
      case _      => frame
    }
  }

  /** TOPSAR-Split: burst-range + subswath (+ polarisation, when the frame has
   * one) selection — pure filters, pushed into the source scan by Catalyst. */
  private def splitOp: OpCompiler = (_, _, params, srcs) => {
    val in = srcs.head
    val first = params.getOrElse("firstBurstIndex", "1").toInt
    val last = params.getOrElse("lastBurstIndex", "9999").toInt
    val bySwath = params.get("subswath").filter(_.nonEmpty)
      .fold(in)(sw => in.where(col("subswath") === sw))
    val byPol = params.get("selectedPolarisations").filter(_.nonEmpty)
      .filter(_ => in.columns.contains("pol"))
      .fold(bySwath)(p => bySwath.where(col("pol") === p))
    byPol.where(col("burst_idx").between(first, last))
  }

  /** Apply-Orbit-File: attach the degree-3 Lagrange-interpolated orbit state
   * (position + along-track velocity) at each burst mid-time
   * (ApplyOrbitFileOp.java:60-101); the node calls TerrainCorrection's
   * lagrangeKnots and lagrangeSql, as orbitInterpQuery does. */
  private def orbitOp: OpCompiler = (spark, sfDir, params, srcs) => {
    require(params.getOrElse("polyDegree", "3") == "3", "only degree-3 orbit interpolation is implemented")
    val at = srcs.head
      .withColumn("tm", (col("burst_first_line_time") + col("burst_last_line_time")) / 2)
    def interp(f: String) = expr(TerrainCorrection.lagrangeSql(f))
    TerrainCorrection.lagrangeKnots(spark, sfDir, at)
      .withColumn("ox", interp("x"))
      .withColumn("oy", interp("y"))
      .withColumn("oz", interp("z"))
      .withColumn("ovy", interp("vy"))
      .drop("svs", "kk", "k1", "k2", "k3", "k4", "w1", "w2", "w3", "w4")
  }

  /** Back-Geocoding (two sources: master chain, secondary chain): pair master
   * scene 2k with secondary scene 2k+1 per (subswath, burst), and report the
   * per-burst two-geometry registration summary from the frames' interpolated
   * orbit states — azimuth mid-time offset, the orbit baseline components, and
   * the along-track residual after removing the epoch motion (oy difference
   * minus master-velocity x time-offset). One hash equi-join on the REDUCED
   * burst frames (the pixel volume never enters the chain), quantized at 1e-6
   * with the repo's standard dither. */
  private def backGeocodingOp: OpCompiler = (_, _, _, srcs) => {
    val m = srcs(0).select(
      col("scene_ord").as("pair"), col("scene_id").as("m_scene_id"),
      col("subswath"), col("burst_idx"), col("tm").as("tm_m"),
      col("ox").as("ox_m"), col("oy").as("oy_m"), col("oz").as("oz_m"), col("ovy").as("ovy_m"))
    val s = srcs(1).select(
      (col("scene_ord") - 1).as("pair"), col("scene_id").as("sec_scene_id"),
      col("subswath"), col("burst_idx"), col("tm").as("tm_s"),
      col("ox").as("ox_s"), col("oy").as("oy_s"), col("oz").as("oz_s"))
    m.join(s, Seq("pair", "subswath", "burst_idx"))
      .select(col("m_scene_id"), col("sec_scene_id"), col("subswath"), col("burst_idx"),
        expr(q6Sql("tm_s - tm_m")).as("az_dt_q"),
        expr(q6Sql("ox_s - ox_m")).as("bx_q"),
        expr(q6Sql("oz_s - oz_m")).as("bz_q"),
        expr(q6Sql("(oy_s - oy_m) - ovy_m * (tm_s - tm_m)")).as("ay_resid_q"))
  }

  /** ThermalNoiseRemoval (ThermalNoiseRemovalOp — noise-LUT subtraction with
   * the zero clamp): derive the dyadic intensity, broadcast-join the noise
   * vectors, interpolate the noise floor per pixel and subtract; emits the
   * denoised intensity in `v` for a downstream Calibration node. */
  private def thermalNoiseOp: OpCompiler = (spark, sfDir, _, srcs) =>
    Calibration.withLutA(Raster.withIntensity(srcs.head), Calibration.noiseLutTable(spark, sfDir))
      .withColumn("v", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_NOISESUB))
      .drop("lut_a", "i", "q")

  /** Calibration: sigma0 LUT calibration as a frame transformation — derive
   * the dyadic intensity from the frame's i/q (or take the intensity already
   * in `v` when an upstream node such as ThermalNoiseRemoval produced one),
   * broadcast-join the calibration vectors, interpolate the LUT per pixel
   * (the compiled bracketing kernel), and emit the calibrated array back in
   * `v` for the next stage. */
  private def calibrationOp: OpCompiler = (spark, sfDir, _, srcs) => {
    val withV =
      if (srcs.head.columns.contains("i")) Raster.withIntensity(srcs.head) else srcs.head
    // calibrated values re-snap to the 2^-26 dyadic grid: sigma0 = dn2/A^2 with
    // A >= 500 stays below 2^-6, so the snapped value carries <= 20 mantissa
    // bits, its square <= 40, and the downstream 3x3 window sums (s1, s2) are
    // EXACT doubles — without this, cross-engine association order flips the
    // last bit and the multilook quantizer straddles (the DyadicV rationale)
    Calibration.withLutA(withV, Calibration.lutTable(spark, sfDir, "sigma_nought"))
      .withColumn("v", graft.exprs.KernelExprs.pixelMap2(
        col("v"), col("lut_a"), graft.exprs.Kernels.PM_CALDIV_SNAP, 67108864.0))
      .drop("lut_a", "i", "q")
  }

  /** Speckle-Filter: halo exchange + the named compiled kernel over whatever
   * array the chain carries in `v` (here: calibrated sigma0) — the identical
   * operator shape as the standalone gates, just input-driven. */
  private def speckleOp: OpCompiler = (_, _, params, srcs) => {
    val mode = params.getOrElse("filter", "Lee").toLowerCase match {
      case "lee" => "lee"; case "boxcar" => "boxcar"; case "median" => "median"
      case other => other
    }
    Raster.withHaloMulti(srcs.head, Seq("v"), 1)
      .withColumnRenamed("halo_v", "halo")
      .withColumn("v", graft.exprs.KernelExprs.speckleFilter(
        col("halo"), mode, Raster.W, Raster.H, 1,
        lit(Speckle.Enl), lit(Speckle.FrostDamping)))
      .drop("halo")
  }

  /** Multilook: per-block mean over Looks x Looks blocks (blocks never cross
   * tiles -> zero shuffle), emitted as INTEGER sufficient statistics: the
   * chained values are no longer dyadic-exact, so each pixel is quantized
   * (1e-9 quantum, standard dither) BEFORE the block sum — the sum is then an
   * exact BIGINT both engines agree on regardless of association order.
   * Runs as ONE compiled kernel pass (Kernels.blockStatsQ) that references the
   * chained `v` expression exactly once: the former aggregate/element_at HOF
   * form re-evaluated the whole upstream per-pixel lambda chain per element
   * reference (subexpression elimination is disabled inside lambda bodies),
   * which made deep projection-only chains like DInSAR quadratically slow. */
  private def multilookOp: OpCompiler = (_, _, params, srcs) => {
    val looks = params.getOrElse("nRgLooks", "4").toInt
    val w = Layout.TileW; val h = Layout.TileH
    val bx = w / looks
    srcs.head
      .withColumn("blocks",
        graft.exprs.KernelExprs.blockStatsQ(col("v"), w, h, looks, 1.0e9))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"), posexplode(col("blocks")).as(Seq("b", "st")))
      .select(col("scene_id"), col("subswath"), col("pol"), col("burst_idx"),
        col("tile_y"), col("tile_x"),
        expr(s"CAST(b div $bx AS INT)").as("block_y"),
        expr(s"CAST(b % $bx AS INT)").as("block_x"),
        col("st.n").as("n_valid"), col("st.s").as("sum_q"))
  }

  /** Interferogram (two sources: master chain, secondary chain —
   * InterferogramOp.java:64-106): InSAR.cross equi-joins the two frames on the
   * tile key and runs the compiled complex-cross kernel in ONE pass; emits the
   * cre/cim/p1/p2 cross-product arrays for a downstream Coherence node plus the
   * wrapped phase in `v` so the node can also feed raster stages directly. */
  private def interferogramOp: OpCompiler = (_, _, _, srcs) =>
    InSAR.cross(srcs(0), srcs(1))
      .withColumn("v", graft.exprs.KernelExprs.pixelMap2(
        col("cim"), col("cre"), graft.exprs.Kernels.PM_ATAN2))

  /** Coherence (CoherenceOp.java:69-87, 722, 752-755): InSAR.coherence over the
   * chain's cross products (ONE 4-channel halo exchange + one compiled windowed
   * pass); emits the coherence array in `v` for the next raster stage. */
  private def coherenceOp: OpCompiler = (_, _, _, srcs) => InSAR.coherence(srcs.head, "v")

  /** TopoPhaseRemoval (TopoPhaseRemovalOp: subtract the DEM-derived
   * topographic phase from the interferometric phase and re-wrap — the
   * three-pass DInSAR step after Interferogram): per-pixel closed-form topo
   * surface shared by text with the standalone q_topo_phase_removal gate
   * (InSAR.topoF), consumes the upstream node's wrapped phase in `v`,
   * zero shuffles added. */
  private def topoPhaseOp: OpCompiler = (_, _, _, srcs) =>
    // compiled twin of the wrapped topo-phase subtraction transform; unary, so
    // the (possibly deeply chained) upstream `v` expression is referenced once
    srcs.head.withColumn("v", graft.exprs.KernelExprs.phaseSubV(
      col("v"), col("tile_x"), col("tile_y"), Layout.TileW, Layout.TileH))

  /** Subset (SubsetOp pixel-region crop): tiles overlapping the declared
   * burst-local pixel region pass through with their out-of-region pixels
   * masked to no-data (pixel-EXACT, not tile-aligned), tiles with no overlap
   * drop entirely — pure per-row masking + a scan-pushable tile filter, zero
   * shuffles. Masks whichever pixel arrays the upstream frame carries (raw
   * i/q before an intensity-producing node, the chained v after one); the
   * no-data sentinel then propagates through every downstream kernel. */
  private def subsetOp: OpCompiler = (_, _, params, srcs) => {
    val x0 = params.getOrElse("regionX", "0").toInt
    val y0 = params.getOrElse("regionY", "0").toInt
    val rw = params.getOrElse("regionW", Layout.SamplesPerBurst.toString).toInt
    val rh = params.getOrElse("regionH", Layout.LinesPerBurst.toString).toInt
    val x1 = x0 + rw - 1; val y1 = y0 + rh - 1
    val tw = Layout.TileW; val th = Layout.TileH
    val in = srcs.head
    val kept = in.where(
      col("tile_x") * tw <= x1 && (col("tile_x") + 1) * tw > x0 &&
      col("tile_y") * th <= y1 && (col("tile_y") + 1) * th > y0)
    val targets = if (in.columns.contains("v")) Seq("v") else Seq("i", "q")
    // compiled crop mask (pure comparisons — exact); one kernel pass per array
    targets.foldLeft(kept) { (df, c) =>
      df.withColumn(c, graft.exprs.KernelExprs.subsetMask(
        col(c), col("tile_x"), col("tile_y"), x0, x1, y0, y1, tw, th))
    }
  }

  /** TOPSAR-Deburst (TOPSARDeburstOp.java:168-232, 1152-1183): the midTime-
   * rule line assignment, input-driven over the upstream bursts frame — the
   * output grid and ownership windows derive from the SELECTED bursts, so a
   * preceding Split genuinely reshapes the deburst product. */
  private def deburstOp: OpCompiler = (spark, sfDir, _, srcs) =>
    graft.ops.Deburst.fromBursts(spark, sfDir, srcs.head)

  /** GoldsteinPhaseFiltering (GoldsteinFilterOp.java:330-826): Spectral.goldstein,
   * the FULL 75%-overlap 64x64 block pipeline with Baran-2003 adaptive alpha,
   * input-driven over the upstream Interferogram node's cross products. Per-burst
   * raster assembly is ONE groupBy shuffle, and the collect_list aggregation
   * materializes the chained cre/cim expressions exactly once per tile (the
   * same reason the chain Multilook runs a compiled kernel). */
  private def goldsteinOp: OpCompiler = (_, _, _, srcs) => Spectral.goldstein(srcs.head)

  /** Terrain-Correction (RangeDopplerGeocodingOp.java:923-1177 +
   * SARGeocoding.java:64-359): the full curved-orbit Range-Doppler geocoding
   * — DEM height, Lagrange orbit, bisection zero-Doppler, bilinear gather —
   * over the UPSTREAM tile frame instead of the raw table, so declared Split
   * pruning reaches the gather's scan. applyRadiometricNormalization=true
   * applies the calibration LUT at the resolved fractional source position
   * (the reference's nested calibrator, RangeDopplerGeocodingOp.java:
   * 1151-1163) — the Calibration+TC fusion every production geocoding graph
   * runs. */
  private def terrainCorrectionOp: OpCompiler = (spark, sfDir, params, srcs) => {
    val normalize = params.get("applyRadiometricNormalization").exists(_.toBoolean)
    graft.ops.TerrainCorrection.rdGeocodeFrom(spark, sfDir, srcs.head,
      useDem = true, ciMax = graft.ops.TerrainCorrection.GeoVarCiMax,
      normalize = normalize)
  }

  /** Write: the chain sink. With a non-empty `file` param the frame commits
   * through the resumable checkpoint layer (parquet + per-partition lineage
   * manifest, replayed on rerun); with the empty `file` of the benchmark
   * graphs it is the identity and the caller owns the action. */
  private def writeOp: OpCompiler = (spark, _, params, srcs) =>
    params.get("file").filter(_.nonEmpty) match {
      case Some(dir) =>
        graft.lineage.Checkpoint.stage(spark, dir,
          params.getOrElse("name", "write"), params.getOrElse("config", "v1"))(srcs.head).df
      case None => srcs.head
    }

  val registry: Map[String, OpCompiler] = Map(
    "Read" -> readOp,
    "TOPSAR-Split" -> splitOp,
    "Apply-Orbit-File" -> orbitOp,
    "Back-Geocoding" -> backGeocodingOp,
    "ThermalNoiseRemoval" -> thermalNoiseOp,
    "Calibration" -> calibrationOp,
    "Speckle-Filter" -> speckleOp,
    "Multilook" -> multilookOp,
    "Interferogram" -> interferogramOp,
    "Coherence" -> coherenceOp,
    "TopoPhaseRemoval" -> topoPhaseOp,
    "Terrain-Correction" -> terrainCorrectionOp,
    "GoldsteinPhaseFiltering" -> goldsteinOp,
    "TOPSAR-Deburst" -> deburstOp,
    "Subset" -> subsetOp,
    "Write" -> writeOp)

  /** Compile a spec to the single sink frame: memoized post-order walk, so a
   * node referenced twice compiles once and the result is ONE fused plan.
   *
   * `sourceOverrides` substitutes a caller-provided frame for a node id
   * (bypassing that node's own compiler) — the injection point that lets the
   * SAME declared chain run over a different source, e.g. a `readStream`
   * frame: every per-row node is a pure frame transformation, so the chain's
   * stateless prefix is stream-capable for free (broadcast LUT joins become
   * stream-static joins). The caller owns any semantics the bypassed node
   * would have added (e.g. Read's scene-parity filter). */
  def compile(spark: SparkSession, sfDir: String, spec: Spec,
      sourceOverrides: Map[String, DataFrame] = Map.empty): DataFrame = {
    val byId = spec.byId
    val memo = mutable.Map.empty[String, DataFrame]
    val inFlight = mutable.Set.empty[String]
    def eval(id: String): DataFrame = memo.getOrElseUpdate(id,
      sourceOverrides.getOrElse(id, {
        require(inFlight.add(id), s"cycle through node '$id'")
        val n = byId.getOrElse(id, sys.error(s"unknown node ref '$id'"))
        val op = registry.getOrElse(n.operator, sys.error(s"unknown operator '${n.operator}'"))
        val out = op(spark, sfDir, n.params, n.sources.map(eval))
        inFlight.remove(id)
        out
      }))
    val referenced = spec.nodes.flatMap(_.sources).toSet
    val sinks = spec.nodes.filterNot(n => referenced.contains(n.id))
    require(sinks.size == 1, s"expected exactly one sink node, got ${sinks.map(_.id)}")
    eval(sinks.head.id)
  }

  // ------------------------------------------------------- the declared chains

  /** The TOPS coregistration graph, declared in the reference's own XML node
   * structure (mirrors microwavetbx-benchmark/.../Sentinel1-TOPS-
   * Coregistration-Ifg.xml: Read x2 -> Split x2 (bursts 1..3) -> Orbit x2 ->
   * Back-Geocoding -> Write; the two Reads select the master/secondary scene
   * parities of the fixture constellation). */
  val topsCoregXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>bursts</table><scenes>even</scenes></parameters>
      |  </node>
      |  <node id="Read(2)">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>bursts</table><scenes>odd</scenes></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath/><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="TOPSAR-Split(2)">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read(2)"/></sources>
      |    <parameters><subswath/><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="Apply-Orbit-File">
      |    <operator>Apply-Orbit-File</operator>
      |    <sources><sourceProduct refid="TOPSAR-Split"/></sources>
      |    <parameters><polyDegree>3</polyDegree></parameters>
      |  </node>
      |  <node id="Apply-Orbit-File(2)">
      |    <operator>Apply-Orbit-File</operator>
      |    <sources><sourceProduct refid="TOPSAR-Split(2)"/></sources>
      |    <parameters><polyDegree>3</polyDegree></parameters>
      |  </node>
      |  <node id="Back-Geocoding">
      |    <operator>Back-Geocoding</operator>
      |    <sources>
      |      <sourceProduct refid="Apply-Orbit-File"/>
      |      <sourceProduct.1 refid="Apply-Orbit-File(2)"/>
      |    </sources>
      |    <parameters/>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Back-Geocoding"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_tops_coreg: the declared coregistration DAG, compiled + fused. */
  def topsCoregQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(topsCoregXml))

  /** The end-to-end raster validation chain (SURVEY §5.2 shape 4; the analog
   * of the reference's validation YAML cases + the FeatureExtractors graphs):
   * Read(tiles) -> TOPSAR-Split(IW1, VV, bursts 1..3) -> Calibration(sigma0)
   * -> Speckle-Filter(Lee) -> Multilook(4x4) -> Write. One declared document,
   * one fused plan, end values pinned by gate + spec. */
  val e2eChainXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles</table></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="Calibration">
      |    <operator>Calibration</operator>
      |    <sources><sourceProduct refid="TOPSAR-Split"/></sources>
      |    <parameters><outputSigmaBand>true</outputSigmaBand></parameters>
      |  </node>
      |  <node id="Speckle-Filter">
      |    <operator>Speckle-Filter</operator>
      |    <sources><sourceProduct refid="Calibration"/></sources>
      |    <parameters><filter>Lee</filter></parameters>
      |  </node>
      |  <node id="Multilook">
      |    <operator>Multilook</operator>
      |    <sources><sourceProduct refid="Speckle-Filter"/></sources>
      |    <parameters><nRgLooks>4</nRgLooks></parameters>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Multilook"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_e2e: the declared Split->Calibrate->Lee->Multilook chain. */
  def e2eChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(e2eChainXml))

  /** The TOPS InSAR chain, declared in the same XML node structure (the
   * topology of the reference's shipped InSAR graphs, e.g.
   * Sentinel1-TOPS-Coregistration-Ifg.xml continued through coherence:
   * Read x2 -> Split x2 -> Interferogram -> Coherence -> Multilook -> Write;
   * the two Reads are the coregistered master/secondary tile tables). */
  val insarChainXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles</table></parameters>
      |  </node>
      |  <node id="Read(2)">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles_sec</table></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="TOPSAR-Split(2)">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read(2)"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="Interferogram">
      |    <operator>Interferogram</operator>
      |    <sources>
      |      <sourceProduct refid="TOPSAR-Split"/>
      |      <sourceProduct.1 refid="TOPSAR-Split(2)"/>
      |    </sources>
      |    <parameters/>
      |  </node>
      |  <node id="Coherence">
      |    <operator>Coherence</operator>
      |    <sources><sourceProduct refid="Interferogram"/></sources>
      |    <parameters/>
      |  </node>
      |  <node id="Multilook">
      |    <operator>Multilook</operator>
      |    <sources><sourceProduct refid="Coherence"/></sources>
      |    <parameters><nRgLooks>4</nRgLooks></parameters>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Multilook"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_insar: the declared two-source InSAR DAG, compiled + fused. */
  def insarChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(insarChainXml))

  /** The differential-InSAR graph (the reference's three-pass DInSAR topology
   * after coregistration: Interferogram -> TopoPhaseRemoval -> Multilook —
   * TopoPhaseRemovalOp following InterferogramOp in the shipped InSAR
   * tutorials' graphs), declared over the same two-source prefix as the
   * InSAR chain. */
  val dinsarChainXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles</table></parameters>
      |  </node>
      |  <node id="Read(2)">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles_sec</table></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="TOPSAR-Split(2)">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read(2)"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="Interferogram">
      |    <operator>Interferogram</operator>
      |    <sources>
      |      <sourceProduct refid="TOPSAR-Split"/>
      |      <sourceProduct.1 refid="TOPSAR-Split(2)"/>
      |    </sources>
      |    <parameters/>
      |  </node>
      |  <node id="TopoPhaseRemoval">
      |    <operator>TopoPhaseRemoval</operator>
      |    <sources><sourceProduct refid="Interferogram"/></sources>
      |    <parameters/>
      |  </node>
      |  <node id="Multilook">
      |    <operator>Multilook</operator>
      |    <sources><sourceProduct refid="TopoPhaseRemoval"/></sources>
      |    <parameters><nRgLooks>4</nRgLooks></parameters>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Multilook"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_dinsar: the declared DInSAR DAG, compiled + fused. */
  def dinsarChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(dinsarChainXml))

  /** The canonical geocoded-backscatter production graph (the most-run shipped
   * shape: Read -> Subset/Split -> Terrain-Correction with radiometric
   * normalization — RangeDopplerGeocodingOp applying the calibrator at the
   * resolved source position), declared in the same XML node structure. */
  val tcChainXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles</table></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="Terrain-Correction">
      |    <operator>Terrain-Correction</operator>
      |    <sources><sourceProduct refid="TOPSAR-Split"/></sources>
      |    <parameters><applyRadiometricNormalization>true</applyRadiometricNormalization></parameters>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Terrain-Correction"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_tc: the declared Split -> Terrain-Correction DAG, compiled + fused. */
  def tcChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(tcChainXml))

  /** The Goldstein-filtered InSAR graph (the reference's standard phase-
   * filtering topology before unwrapping: Interferogram ->
   * GoldsteinPhaseFiltering), declared over the same two-source prefix as the
   * InSAR chain with the Split window bursts 1..2 (bounding the oracle's
   * staged-FFT cost, as the standalone gate does). */
  val goldsteinChainXml: String =
    insarChainXml
      .replace("<firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex>",
        "<firstBurstIndex>1</firstBurstIndex><lastBurstIndex>2</lastBurstIndex>")
      .replace(
        """<node id="Coherence">
          |    <operator>Coherence</operator>
          |    <sources><sourceProduct refid="Interferogram"/></sources>
          |    <parameters/>
          |  </node>
          |  <node id="Multilook">
          |    <operator>Multilook</operator>
          |    <sources><sourceProduct refid="Coherence"/></sources>
          |    <parameters><nRgLooks>4</nRgLooks></parameters>
          |  </node>
          |  <node id="Write">
          |    <operator>Write</operator>
          |    <sources><sourceProduct refid="Multilook"/></sources>""".stripMargin,
        """<node id="GoldsteinPhaseFiltering">
          |    <operator>GoldsteinPhaseFiltering</operator>
          |    <sources><sourceProduct refid="Interferogram"/></sources>
          |    <parameters/>
          |  </node>
          |  <node id="Write">
          |    <operator>Write</operator>
          |    <sources><sourceProduct refid="GoldsteinPhaseFiltering"/></sources>""".stripMargin)

  /** q_chain_goldstein: the declared Goldstein-filtered InSAR DAG. */
  def goldsteinChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(goldsteinChainXml))

  /** The stream-capable GRD prefix (Read -> Split -> ThermalNoiseRemoval ->
   * Calibration): every node is a pure per-row frame transformation, so the
   * declared chain compiles unchanged over a streaming source. */
  val grdStreamXml: String =
    """<graph id="Graph">
      |  <node id="Read"><operator>Read</operator><sources/><parameters><table>tiles</table></parameters></node>
      |  <node id="TOPSAR-Split"><operator>TOPSAR-Split</operator><sources><sourceProduct refid="Read"/></sources><parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters></node>
      |  <node id="ThermalNoiseRemoval"><operator>ThermalNoiseRemoval</operator><sources><sourceProduct refid="TOPSAR-Split"/></sources><parameters/></node>
      |  <node id="Calibration"><operator>Calibration</operator><sources><sourceProduct refid="ThermalNoiseRemoval"/></sources><parameters/></node>
      |  <node id="Write"><operator>Write</operator><sources><sourceProduct refid="Calibration"/></sources><parameters><file></file></parameters></node>
      |</graph>""".stripMargin

  /** The Split -> Deburst geometry graph (TOPSARSplit + TOPSARDeburst, the
   * standard pre-merge step of every TOPS chain), over a burst window that no
   * other declared chain uses so the param flow is independently exercised. */
  val deburstChainXml: String =
    """<graph id="Graph">
      |  <node id="Read"><operator>Read</operator><sources/><parameters><table>bursts</table></parameters></node>
      |  <node id="TOPSAR-Split"><operator>TOPSAR-Split</operator><sources><sourceProduct refid="Read"/></sources><parameters><subswath>IW2</subswath><firstBurstIndex>2</firstBurstIndex><lastBurstIndex>5</lastBurstIndex></parameters></node>
      |  <node id="TOPSAR-Deburst"><operator>TOPSAR-Deburst</operator><sources><sourceProduct refid="TOPSAR-Split"/></sources><parameters/></node>
      |  <node id="Write"><operator>Write</operator><sources><sourceProduct refid="TOPSAR-Deburst"/></sources><parameters><file></file></parameters></node>
      |</graph>""".stripMargin

  /** q_chain_deburst: the declared Split -> Deburst DAG, compiled + fused. */
  def deburstChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(deburstChainXml))

  /** The Subset-cropped GRD graph (the reference's standard Read -> Subset
   * prefix): region (40, 34) 80x20 in burst-local pixel coords — chosen so
   * one tile column and one tile row drop entirely while the surviving tiles
   * are partially masked, exercising both Subset behaviors. */
  val subsetChainXml: String =
    """<graph id="Graph">
      |  <node id="Read"><operator>Read</operator><sources/><parameters><table>tiles</table></parameters></node>
      |  <node id="TOPSAR-Split"><operator>TOPSAR-Split</operator><sources><sourceProduct refid="Read"/></sources><parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters></node>
      |  <node id="Subset"><operator>Subset</operator><sources><sourceProduct refid="TOPSAR-Split"/></sources><parameters><regionX>40</regionX><regionY>34</regionY><regionW>80</regionW><regionH>20</regionH></parameters></node>
      |  <node id="ThermalNoiseRemoval"><operator>ThermalNoiseRemoval</operator><sources><sourceProduct refid="Subset"/></sources><parameters/></node>
      |  <node id="Calibration"><operator>Calibration</operator><sources><sourceProduct refid="ThermalNoiseRemoval"/></sources><parameters/></node>
      |  <node id="Write"><operator>Write</operator><sources><sourceProduct refid="Calibration"/></sources><parameters><file></file></parameters></node>
      |</graph>""".stripMargin

  /** q_chain_subset: the Subset-cropped GRD prefix, rolled up per tile. */
  def subsetChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Raster.rollup(
      compile(spark, sfDir, parseXml(subsetChainXml)).withColumn("out", col("v")),
      scale = 1e1)

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Runs a declared chain with its Read node over a `readStream` parquet source
   * of the tiles table (sourceOverrides injection), `finish` applied to the
   * compiled frame, drained by Trigger.AvailableNow into a memory sink whose
   * table is returned. */
  private def streamed(spark: SparkSession, sfDir: String, xml: String, name: String)(
      finish: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val batchTiles = Fixtures.table(spark, sfDir, "tiles")
    val src = spark.readStream.schema(batchTiles.schema)
      .parquet(new java.io.File(batchTiles.inputFiles.head).getParent)
    val table = s"${name}_${streamSeq.incrementAndGet()}"
    val q = finish(compile(spark, sfDir, parseXml(xml), Map("Read" -> src)))
      .writeStream.format("memory").queryName(table)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(table)
  }

  /** q_chain_dinsar_stream: the DInSAR DAG with the MASTER Read streamed —
   * the two-source Interferogram node becomes a stream-STATIC equi-join (the
   * secondary Read stays a batch frame), TopoPhaseRemoval is per-row and the
   * chain Multilook is a per-row compiled kernel + Generate, so the whole
   * declared two-source DAG executes as one unwatermarked append stream.
   * Shares q_chain_dinsar's oracle verbatim: stream/batch equality is the
   * engine-side guarantee, pinned in ChainSpec. */
  def dinsarStreamQuery(spark: SparkSession, sfDir: String): DataFrame =
    streamed(spark, sfDir, dinsarChainXml, "chain_dinsar_stream")(identity)

  /** q_chain_grd_stream: the declared GRD prefix executed AS a structured
   * stream end-to-end under the driver gate — the chain compiles over a
   * `readStream` parquet source (sourceOverrides injection; the broadcast
   * noise/calibration LUT joins run stream-static), the per-tile rollup is a
   * per-ROW compiled pass (no stateful operator anywhere), and the drained
   * memory-sink result is the gate frame. Deterministic: Trigger.AvailableNow
   * drains the full source and every row's value is independent of batch
   * boundaries, so the result equals the batch chain row-for-row (pinned in
   * ChainSpec) and matches the same DuckDB oracle as any batch gate. */
  def grdStreamQuery(spark: SparkSession, sfDir: String): DataFrame =
    streamed(spark, sfDir, grdStreamXml, "chain_grd_stream")(chained =>
      graft.ops.Raster.rollup(chained.withColumn("out", col("v")), scale = 1e1))

  /** The canonical Sentinel-1 GRD backscatter chain (the most-used shipped
   * graph shape: Read -> ThermalNoiseRemoval -> Calibration -> Speckle-Filter
   * -> Multilook -> Write, with the Split node standing in for the subset
   * step), declared in the same XML node structure. */
  val grdChainXml: String =
    """<graph id="Graph">
      |  <version>1.0</version>
      |  <node id="Read">
      |    <operator>Read</operator>
      |    <sources/>
      |    <parameters><table>tiles</table></parameters>
      |  </node>
      |  <node id="TOPSAR-Split">
      |    <operator>TOPSAR-Split</operator>
      |    <sources><sourceProduct refid="Read"/></sources>
      |    <parameters><subswath>IW1</subswath><selectedPolarisations>VV</selectedPolarisations><firstBurstIndex>1</firstBurstIndex><lastBurstIndex>3</lastBurstIndex></parameters>
      |  </node>
      |  <node id="ThermalNoiseRemoval">
      |    <operator>ThermalNoiseRemoval</operator>
      |    <sources><sourceProduct refid="TOPSAR-Split"/></sources>
      |    <parameters/>
      |  </node>
      |  <node id="Calibration">
      |    <operator>Calibration</operator>
      |    <sources><sourceProduct refid="ThermalNoiseRemoval"/></sources>
      |    <parameters><outputSigmaBand>true</outputSigmaBand></parameters>
      |  </node>
      |  <node id="Speckle-Filter">
      |    <operator>Speckle-Filter</operator>
      |    <sources><sourceProduct refid="Calibration"/></sources>
      |    <parameters><filter>Lee</filter></parameters>
      |  </node>
      |  <node id="Multilook">
      |    <operator>Multilook</operator>
      |    <sources><sourceProduct refid="Speckle-Filter"/></sources>
      |    <parameters><nRgLooks>4</nRgLooks></parameters>
      |  </node>
      |  <node id="Write">
      |    <operator>Write</operator>
      |    <sources><sourceProduct refid="Multilook"/></sources>
      |    <parameters><file></file></parameters>
      |  </node>
      |</graph>""".stripMargin

  /** q_chain_grd: the declared GRD backscatter chain, compiled + fused. */
  def grdChainQuery(spark: SparkSession, sfDir: String): DataFrame =
    compile(spark, sfDir, parseXml(grdChainXml))
}
