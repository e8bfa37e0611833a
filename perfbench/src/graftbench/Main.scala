package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.gen.Fixtures
import graft.lineage.Checkpoint

/**
 * JVM side of the benchmark. Two modes:
 *  - `prepare`: generate (or verify) the fixture tables under `<work>/fixtures`.
 *  - `run`: one workload as a closed loop with one client, writing every raw
 *    sample (passes, spans, counts) as one JSON file; `run.py` turns the samples
 *    into metrics and checks them against the pins.
 */
object Main {

  /** The one scale the benchmark runs and pins (`perfbench/pins.json`). */
  val Sf = "sf0.001"

  /** Rounds of each layer decomposition in a traced run. A layer's time is its
   * best over the rounds, so the first round, which also warms the JVM and
   * generates the code of each new prefix, does not count. */
  val LayerReps = 2

  final case class Args(mode: String, work: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, threads: Int, out: String)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("mode"), kv("work"), kv.getOrElse("workload", "docs"),
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("threads", "4").toInt,
      kv.getOrElse("out", ""))
    FixtureRoot.redirect(s"${a.work}/fixtures", Sf)
    a.mode match {
      case "prepare" => prepare(a)
      case "run" => new Runner(a, t0).run()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Fixture dir argument for the engine: only its last path element (the scale
   * tag) matters to `Fixtures`; the directory itself does not exist, so a query
   * that read a table outside the fixtures would fail instead of reading stray data. */
  def sfDir(a: Args): String = s"${a.work}/no-such-dir/$Sf"

  def session(a: Args, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def prepare(a: Args): Unit = {
    val spark = session(a, a.threads)
    try {
      val t = System.nanoTime()
      val dir = Fixtures.ensure(spark, sfDir(a))
      System.err.println(f"[perfbench] fixtures ready in $dir (${(System.nanoTime() - t) / 1e9}%.1f s)")
    } finally spark.stop()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** (bytes, files) under a directory. */
  def treeSize(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes = 0L; var files = 0L
      s.filter(x => Files.isRegularFile(x)).forEach { x => bytes += Files.size(x); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}

/** One in-memory span: a timed call into a layer, kept until the run ends. */
final case class Span(id: Int, name: String, parent: Int, pass: String,
    startNs: Long, endNs: Long, counts: Snap, note: String = "", rep: Int = 0)

final class Runner(a: Main.Args, t0: Long) {
  import Main._

  private val sf = sfDir(a)
  private val queries = Workloads.all.getOrElse(a.workload,
    throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
  private val rng = new Random(a.seed)
  private var spark: SparkSession = _
  private var probe: Probe = _
  private val passes = ArrayBuffer.empty[Seq[(String, Any)]]
  private val spans = ArrayBuffer.empty[Span]
  private var nPass = 0

  private def secs(ns: Long): Double = ns / 1e9

  private def start(threads: Int): Unit = {
    spark = session(a, threads)
    probe = Probe.attach(spark)
  }

  // ------------------------------------------------------------------ passes

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Run `f`, recording a span with the counter deltas of its interval. */
  private def span[T](name: String, parent: Int, pass: String)(f: Int => T): T = {
    val id = spans.length
    spans += null
    val s0 = probe.snap()
    val r = f(id)
    val s1 = probe.snap()
    spans(id) = Span(id, name, parent, pass, s0.wallNs, s1.wallNs, s1.minus(s0))
    r
  }

  private def qres(name: String, rows: Long, cs: Long, sec: Double, extra: (String, Any)*) =
    Json.obj(Seq("name" -> name, "rows" -> rows, "checksum" -> cs.toString, "sec" -> sec) ++ extra: _*)

  /** One query through the checksum sink. */
  private def checksumQuery(name: String): Seq[(String, Any)] = {
    val t = System.nanoTime()
    try {
      val (rows, cs) = Checkpoint.datasetChecksum(query(name))
      qres(name, rows, cs, secs(System.nanoTime() - t))
    } catch {
      case e: Exception => qres(name, -1L, 0L, secs(System.nanoTime() - t), "error" -> e.toString)
    }
  }

  /** `staged`: write through `Checkpoint.stage` into a fresh run dir, resume with the
   * same config hash, checksum the resumed frame; the run dir is removed after. */
  private def stagedQuery(name: String, runDir: Path): Seq[(String, Any)] = {
    val cfg = s"perfbench-$Sf-$name"
    val t = System.nanoTime()
    try {
      val w = Checkpoint.stage(spark, runDir.toString, name, cfg)(query(name))
      val tw = System.nanoTime()
      val r = Checkpoint.stage(spark, runDir.toString, name, cfg)(
        throw new IllegalStateException(s"$name: resume recomputed the stage"))
      val (rows, cs) = Checkpoint.datasetChecksum(r.df)
      val tr = System.nanoTime()
      val (bytes, files) = treeSize(runDir.resolve(name))
      require(!w.resumed && r.resumed, s"$name: stage/resume flags ${w.resumed}/${r.resumed}")
      qres(name, rows, cs, secs(tr - t), "write_s" -> secs(tw - t), "resume_s" -> secs(tr - tw),
        "stage_bytes" -> bytes, "stage_files" -> files)
    } catch {
      case e: Exception => qres(name, -1L, 0L, secs(System.nanoTime() - t), "error" -> e.toString)
    }
  }

  /** One pass: every workload query once, in a seeded order. */
  private def pass(kind: String, threads: Int = a.threads,
      staged: Boolean = false, qs: Seq[String] = queries): Seq[(String, Any)] = {
    nPass += 1
    val id = s"$kind-$nPass"
    val order = rng.shuffle(qs)
    val s0 = probe.snap()
    val (heap0, gc0) = probe.heapState()
    val results =
      if (staged) {
        val runDir = Paths.get(a.work, "staged", f"run-${a.seed}-$nPass-${rng.nextInt() & 0xffffff}%06x")
        try order.map(q => stagedQuery(q, runDir)) finally deleteTree(runDir)
      } else order.map(checksumQuery)
    val (heap1, gc1) = probe.heapState()
    val d = probe.snap().minus(s0)
    val rec = Json.obj("id" -> id, "kind" -> kind, "threads" -> threads,
      "heap_start" -> heap0, "heap_end" -> heap1, "gc_counts_start" -> gc0, "gc_counts_end" -> gc1,
      "wall_s" -> d.wallS, "cpu_s" -> d.cpuS, "gc_ms" -> d.gcMs, "stages" -> d.stages,
      "tasks" -> d.tasks, "task_run_ms" -> d.taskRunMs,
      "shuffle_write_bytes" -> d.shuffleWriteBytes, "spill_bytes" -> d.spillBytes,
      "steal_frac" -> d.stealFrac, "load1" -> d.load1, "queries" -> results)
    passes += rec
    rec
  }

  // ------------------------------------------------------------------ layers

  /** Time a query's layer tree once (round `rep`): every prefix to the noop sink,
   * children first, then the whole query through the checksum sink, which is the
   * traced run of the query. A probe of another workload's query times only the
   * nodes that carry a per-layer metric, without the sink. */
  private def layers(q: String, rep: Int, probeOnly: Boolean = false): Unit = {
    val pass = s"layers:$q"
    def go(n: Node, parent: Int): Unit = {
      val id = spans.length
      span(n.name, parent, pass) { _ => () } // reserves the id the children point at
      n.children.foreach(c => go(c, id))
      val s0 = probe.snap()
      noop(n.build(spark, sf))
      val s1 = probe.snap()
      spans(id) = Span(id, n.name, parent, pass, s0.wallNs, s1.wallNs, s1.minus(s0), rep = rep)
    }
    val tree = Layers.trees(q)
    if (probeOnly) {
      if (Layers.rootMetric(q)) go(tree, -1) else tree.children.foreach(go(_, -1))
    } else {
      val root = spans.length
      span("lineage.checksum", -1, pass) { _ => () }
      go(tree, root)
      val s0 = probe.snap()
      val (rows, cs) = Checkpoint.datasetChecksum(query(q))
      val s1 = probe.snap()
      spans(root) = Span(root, "lineage.checksum", -1, pass, s0.wallNs, s1.wallNs, s1.minus(s0),
        s"$q $rows $cs", rep)
    }
  }

  private def counts(): Seq[(String, Any)] = Json.obj(
    "spans_rows" -> graft.ops.Spans.explodeSpans(Fixtures.table(spark, sf, "docs")).count(),
    "cover_rows" -> (Layers.burstCover(spark, sf).count() + Layers.aoiCover(spark, sf).count()),
    "cell_candidates" -> Layers.cellCandidates(spark, sf).count(),
    "sat_survivors" -> Layers.satSurvivors(spark, sf).count(),
    "split_join_rows" -> Layers.docTileHits(spark, sf).count())

  /** Each copied prefix completed to its engine query: its (rows, checksum), which
   * must equal that query's pin, and whether its analyzed plan is still the same
   * as the engine query's. Analyzed, not optimized: the optimizer's rewrite of
   * several distinct counts orders its groups by expression ids, which differ
   * between two builds of the same query. */
  private def prefixChecks(): Seq[Seq[(String, Any)]] = Layers.prefixChecks.map { case (name, q, build) =>
    val df = build(spark, sf)
    val (rows, cs) = Checkpoint.datasetChecksum(df)
    val samePlan = df.queryExecution.analyzed.sameResult(query(q).queryExecution.analyzed)
    Json.obj("name" -> name, "query" -> q, "rows" -> rows, "checksum" -> cs.toString,
      "same_plan" -> samePlan)
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    val hostBefore = Json.obj("load1" -> Probe.load1(), "proc_stat" -> Probe.procStat().productIterator.toSeq)
    start(a.threads)
    // the prepare step of this build has checked the fixture fingerprints; the
    // check is timed on its own below, in traced runs
    FixtureRoot.markVerified(Fixtures.dir(sf))
    val extra = ArrayBuffer.empty[(String, Any)]
    if (!a.trace) {
      pass("setup")
      extra += "setup_s" -> secs(System.nanoTime() - t0)
      // the first two passes after set-up still run up to 20 % slower than the
      // ones after them, so they are run untimed
      pass("warm")
      pass("warm")
      // timed passes until they add up to the measuring time, each after a full
      // collection, untimed, so that no pass pays for the garbage of the one
      // before it
      var measured = 0.0
      var n = 0
      while (n < 2 || measured < a.seconds) {
        System.gc()
        val t = System.nanoTime()
        pass("timed")
        measured += secs(System.nanoTime() - t)
        n += 1
      }
    } else {
      // no set-up pass: the first round warms the JVM, and a layer's time is its
      // best round. In each round every workload query is decomposed and then run
      // untraced, back to back, so both see the same JIT and host state.
      val order = rng.shuffle(queries)
      for (r <- 1 to LayerReps) {
        for (q <- order) {
          layers(q, r)
          pass("timed", qs = Seq(q))
        }
        for (q <- Workloads.layerProbes.filterNot(queries.contains)) layers(q, r, probeOnly = true)
      }
      // driver-side cost of each workload query: build and physical planning
      for (q <- order) span("driver.plan", -1, s"plan:$q")(_ => query(q).queryExecution.executedPlan)
      pass("stage-probe", staged = true, qs = Workloads.Staged)
      extra += "counts" -> counts()
      extra += "prefix_checks" -> prefixChecks()
      extra += "kernels" -> KernelBench.run(reps = 5, batchNs = 40000000L)
      FixtureRoot.forgetVerified()
      val tg = System.nanoTime()
      Fixtures.ensure(spark, sf)
      extra += "gen_ensure_s" -> secs(System.nanoTime() - tg)
      // the workload on one thread, for the scaling ratio and output identity
      spark.stop()
      start(1)
      pass("scaling", threads = 1)
    }
    spark.stop()
    val hostAfter = Json.obj("load1" -> Probe.load1(), "proc_stat" -> Probe.procStat().productIterator.toSeq)
    val out = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "threads" -> a.threads,
      "sf" -> Sf, "layer_reps" -> LayerReps, "queries" -> queries, "copied_layers" -> Layers.copied,
      "collections" -> probe.collections,
      "host_before" -> hostBefore, "host_after" -> hostAfter,
      "passes" -> passes.toSeq,
      "spans" -> spans.toSeq.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
        "stages" -> s.counts.stages, "tasks" -> s.counts.tasks,
        "shuffle_write_bytes" -> s.counts.shuffleWriteBytes, "input_bytes" -> s.counts.inputBytes,
        "broadcast_bytes" -> s.counts.broadcastBytes, "note" -> s.note, "rep" -> s.rep))) ++ extra
    Files.writeString(Paths.get(a.out), Json.write(out))
  }
}
