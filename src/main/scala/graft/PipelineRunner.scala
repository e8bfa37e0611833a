package graft

import graft.lineage.Checkpoint

/**
 * spark-submit entry point for the full processing chain with resumable checkpoints
 * (north rule): each stage commits a parquet snapshot + per-partition lineage metrics
 * + manifest; a rerun replays completed stages and continues from the first missing
 * one. Usage: PipelineRunner <sfDir> <runDir> [cpus] [chainSpecFile]
 *
 * The chain is DATA, not code (the GPF-graph discipline, graph.ChainGraph):
 * the default spec below can be overridden by a spec file — one
 * `stageName=registryQuery` line per stage, where registryQuery is any
 * SparkEntry.queries key — so a deployment composes its pipeline without
 * recompiling, exactly as the reference's users compose graph XMLs.
 */
object PipelineRunner {

  /** The default chain spec: the SAR leg then the corpus-curation leg. */
  val DefaultChainSpec: String =
    """split=q_topsar_split
      |span_cells=q_span_cells
      |calibration=q_calibration_sigma0
      |speckle_lee=q_speckle_lee
      |terrain_correction=q_terrain_correction
      |mosaic=q_mosaic
      |dedup_clusters=q_dedup_clusters
      |corpus_filter=q_corpus_filter
      |seq_packing=q_seq_packing""".stripMargin

  /** Parse a chain spec: `stage=queryKey` lines; '#' comments and blanks skipped. */
  def parseChainSpec(text: String): Seq[(String, String)] =
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"bad chain-spec line: '$l' (want stage=queryKey)")
        (l.take(i).trim, l.drop(i + 1).trim)
      }.toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val runDir = if (args.length > 1) args(1) else "/tmp/graft_run"
    val cpus = (if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).toInt
    val specText =
      if (args.length > 3) java.nio.file.Files.readString(java.nio.file.Paths.get(args(3)))
      else DefaultChainSpec
    val spark = Bench.builder(cpus, cpus)
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = s"sf=${gen.Fixtures.scale(sfDir).tag}|v1"
    val stages = parseChainSpec(specText).map { case (name, key) =>
      val fn = SparkEntry.queries.getOrElse(key,
        sys.error(s"chain stage '$name' references unknown query '$key'"))
      (name, key, fn)
    }

    stages.foreach { case (name, key, fn) =>
      val t0 = System.nanoTime()
      val r = Checkpoint.stage(spark, runDir, name, s"$cfg|$key")(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[pipeline] $name%-20s ${if (r.resumed) "RESUMED" else "COMPUTED"}%-9s $sec%8.2fs  rows=${r.df.count()}")
    }
    spark.stop()
  }
}
