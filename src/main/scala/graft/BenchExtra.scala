package graft

import java.nio.file.{Files, Paths}

/**
 * Optimization-round instrumentation main (guide §1: measure first; §1.4 noop
 * sink). NOT part of the frozen driver contract — Bench.scala is the graded
 * harness; this main exists so plan shapes and isolated timings can be captured
 * without touching it.
 *
 * Usage:
 *   sbt "runMain graft.BenchExtra explain <outDir> [q1 q2 ...]"
 *     dumps .explain("formatted") of each named query (default: every declared
 *     query) to <outDir>/<name>.txt
 *   sbt "runMain graft.BenchExtra time <reps> [q1 q2 ...]"
 *     times each named query (default: the Bench headline) with the noop sink —
 *     full evaluation of every column, no sink cost — and prints one JSON line
 *     {"name": [secs...]} per query.
 */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus, s"graft-benchextra-$cpus")
    gen.Fixtures.ensure(spark, sfDir)
    val mode = if (args.nonEmpty) args(0) else "explain"

    mode match {
      case "explain" =>
        val outDir = Paths.get(if (args.length > 1) args(1) else "/tmp/plans")
        Files.createDirectories(outDir)
        val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            // execute THIS QueryExecution once so AQE finalizes every stage:
            // the pre-execution formatted plan omits codegen ids and AQE
            // rewrites for stages behind a pending exchange (a noop write
            // would execute a separate QueryExecution and leave this one
            // unfinalized)
            df.queryExecution.toRdd.count()
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(outDir.resolve(s"$name.txt"), plan)
          } catch {
            case e: Exception =>
              Files.writeString(outDir.resolve(s"$name.ERROR.txt"), e.toString)
          }
        }
        println(s"""{"explained":${names.length},"out":"$outDir"}""")

      case "time" =>
        val reps = if (args.length > 1) args(1).toInt else 3
        val names = if (args.length > 2) args.drop(2).toSeq else Bench.Headline
        import scala.jdk.CollectionConverters._
        def gcMillis(): Long = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        names.foreach { name =>
          spark.sparkContext.setJobDescription(name)
          def run(): (Double, Long) = {
            val g0 = gcMillis(); val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
          }
          val (warm, gw) = run()
          val runs = (1 to reps).map(_ => run())
          val ts = runs.map(_._1).mkString(",")
          val gs = runs.map(_._2).mkString(",")
          println(s"""{"$name":{"warm":$warm,"warm_gc_ms":$gw,"times":[$ts],"gc_ms":[$gs]}}""")
        }

      // phase split per query: DataFrame build (analysis), physical planning
      // (executedPlan force), then first/second execution — separates driver-side
      // plan+codegen cost from executor work (guide §7.3).
      case "phases" =>
        val names = if (args.length > 1) args.drop(1).toSeq else Bench.Headline
        names.foreach { name =>
          def t[T](f: => T): (Double, T) = {
            val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
          }
          val (tBuild, df) = t(SparkEntry.queries(name)(spark, sfDir))
          val (tPlan, _) = t(df.queryExecution.executedPlan)
          def exec() = df.write.format("noop").mode("overwrite").save()
          val (tE1, _) = t(exec())
          val (tE2, _) = t(exec())
          val (tE3, _) = t(exec())
          // a REBUILT identical query (fresh plan objects, codegen cache warm):
          // what a repeat Bench pass actually pays
          val (tRebuild, _) = t {
            SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          println(f"""{"$name":{"build":$tBuild%.3f,"plan":$tPlan%.3f,"exec1":$tE1%.3f,"exec2":$tE2%.3f,"exec3":$tE3%.3f,"rebuild_exec":$tRebuild%.3f}}""")
        }

      // decompose q_terrain_correction: time the resolve stage alone vs the
      // full resolve+gather+rollup query (both noop-sunk, 2nd-run numbers)
      case "tcprobe" =>
        def t(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val resolve = () => ops.TerrainCorrection.resolveCellsProbe(spark, sfDir)
        val full = () => SparkEntry.queries("q_terrain_correction")(spark, sfDir)
        val r1 = t(noop(resolve())); val r2 = t(noop(resolve()))
        val f1 = t(noop(full())); val f2 = t(noop(full()))
        println(f"""{"resolve":[$r1%.3f,$r2%.3f],"full":[$f1%.3f,$f2%.3f]}""")

      // decompose q_aoi_doc_tiles: selection side, span side, join, full
      case "aoiprobe" =>
        import org.apache.spark.sql.functions.{col, broadcast}
        def t(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        def sel() = ops.Split.topsarSplitQuery(spark, sfDir)
        def spans() = ops.Spans.parseMediaRef(ops.Spans.explodeSpans(
          gen.Fixtures.table(spark, sfDir, "docs"))).where(col("kind") === "media")
        def joined() = {
          val s = sel().select("aoi_id", "scene_id", "subswath", "first_burst", "last_burst")
          val sp = spans()
          sp.join(broadcast(s), sp("scene_id") === s("scene_id") &&
            sp("subswath") === s("subswath") &&
            sp("burst_idx").between(col("first_burst"), col("last_burst")))
        }
        def full() = SparkEntry.queries("q_aoi_doc_tiles")(spark, sfDir)
        Seq("sel" -> (() => noop(sel())), "spans" -> (() => noop(spans())),
          "joined" -> (() => noop(joined())), "full" -> (() => noop(full()))).foreach {
          case (n, f) =>
            val a = t(f()); val b = t(f()); val c = t(f())
            println(f"""{"$n":[$a%.3f,$b%.3f,$c%.3f]}""")
        }

      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
