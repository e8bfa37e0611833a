package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan

/**
 * Optimization-round instrumentation main (guide §1: measure first; §1.4 noop
 * sink). NOT part of the frozen driver contract — Bench.scala is the graded
 * harness; this main exists so plan shapes and isolated timings can be captured
 * without touching it.
 *
 * Usage:
 *   sbt "runMain graft.BenchExtra explain <outDir> [q1 q2 ...]"
 *     dumps .explain("formatted") of each named query (default: every declared
 *     query) to <outDir>/<name>.txt, and its canonicalized optimized logical
 *     plan (expression ids normalized, no codegen ids, commutative operands in
 *     text order) to <outDir>/<name>.canon.txt, so plans diff across builds
 *     without id noise; the closing JSON line lists as "materialized" the
 *     queries whose canonical plan cannot be compared that way
 *   sbt "runMain graft.BenchExtra time <reps> [q1 q2 ...]"
 *     times each named query (default: the Bench headline) with the noop sink —
 *     full evaluation of every column, no sink cost — and prints one JSON line
 *     {"name": [secs...]} per query.
 *   sbt "runMain graft.BenchExtra phases <reps> [q1 q2 ...]"
 *     splits each named query (default: the Bench headline) into its DataFrame
 *     build, physical planning and execution of that plan, after one untimed
 *     run, and prints one JSON line per query: the median seconds of each phase
 *     over <reps> runs and the distinct stage counts of the executions, taken
 *     from a listener.
 */
object BenchExtra {

  /** Puts the operands of every commutative expression of a canonicalized plan
   * in text order. Canonicalization orders them by hashCode, and some
   * expressions hash by identity (a StaticInvoke's target class, for one), so
   * that order can change from one JVM to the next for the same plan. */
  private def textOrdered(plan: LogicalPlan): LogicalPlan = plan.transform { case node =>
    def outOfOrder(a: Expression, b: Expression) = a.toString > b.toString
    node.transformExpressionsUp {
      case e @ (_: MultiCommutativeOp | _: Add | _: Multiply | _: And | _: Or | _: BitwiseAnd |
          _: BitwiseOr | _: BitwiseXor | _: Greatest | _: Least | _: EqualTo | _: EqualNullSafe) =>
        e.withNewChildren(e.children.sortBy(_.toString))
      case e: In => e.copy(list = e.list.sortBy(_.toString))
      case GreaterThan(l, r) if outOfOrder(l, r) => LessThan(r, l)
      case LessThan(l, r) if outOfOrder(l, r) => GreaterThan(r, l)
      case GreaterThanOrEqual(l, r) if outOfOrder(l, r) => LessThanOrEqual(r, l)
      case LessThanOrEqual(l, r) if outOfOrder(l, r) => GreaterThanOrEqual(r, l)
    }
  }

  /** A query's optimized plan, canonicalized (expression ids normalized) with
   * commutative operands in text order: equal for two builds of one plan. */
  private[graft] def canonical(df: DataFrame): LogicalPlan =
    textOrdered(df.queryExecution.optimizedPlan.canonicalized)

  private[graft] def canonText(plan: LogicalPlan): String =
    plan.treeString(verbose = true, maxFields = Int.MaxValue)

  /** Whether a canonical plan only reads a result computed before the query
   * returned (a checkpointed RDD, a local relation or a memory sink), under at
   * most Projects. Its `.canon.txt` then shows none of the query's work, so a
   * plan diff cannot tell two builds of it apart. */
  private def materialized(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => materialized(child)
    case _: LogicalRDD | _: LocalRelation | _: MemoryPlan => true
    case _ => false
  }

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
        val materializedQueries = names.filter { name =>
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
            val canon = canonical(df)
            Files.writeString(outDir.resolve(s"$name.canon.txt"), canonText(canon))
            materialized(canon)
          } catch {
            case e: Exception =>
              Files.writeString(outDir.resolve(s"$name.ERROR.txt"), e.toString)
              false
          }
        }
        val listed = materializedQueries.map(n => s""""$n"""").mkString(",")
        println(s"""{"explained":${names.length},"out":"$outDir","materialized":[$listed]}""")

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

      case "phases" =>
        val reps = if (args.length > 1) args(1).toInt else 3
        val names = if (args.length > 2) args.drop(2).toSeq else Bench.Headline
        val sc = spark.sparkContext
        val marker = "graft.phases.marker"
        val stages = new AtomicInteger
        @volatile var flushed = new CountDownLatch(0)
        sc.addSparkListener(new SparkListener {
          private def marked(p: java.util.Properties) =
            p != null && p.getProperty(marker) != null
          override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
            if (!marked(e.properties)) stages.incrementAndGet()
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (marked(e.properties)) flushed.countDown()
        })
        // the listener bus delivers events in order, so once a marker job's
        // start has arrived, so has every stage submitted before it
        def stageCount(): Int = {
          flushed = new CountDownLatch(1)
          sc.setLocalProperty(marker, "1")
          try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
          require(flushed.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
          stages.get
        }
        def t[T](f: => T): (Double, T) = {
          val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
        }
        def median(xs: Seq[Double]): Double = {
          val s = xs.sorted; val n = s.length
          if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
        }
        names.foreach { name =>
          // one untimed run first: the first build of a query compiles its code
          val runs = (0 to reps).map { _ =>
            val (build, df) = t(SparkEntry.queries(name)(spark, sfDir))
            val (plan, _) = t(df.queryExecution.executedPlan)
            val before = stageCount()
            val (exec, _) = t(df.queryExecution.toRdd.foreach(_ => ()))
            (build, plan, exec, stageCount() - before)
          }.tail
          val ss = runs.map(_._4).distinct.mkString(",")
          println(f"""{"$name":{"reps":$reps,"build_s":${median(runs.map(_._1))}%.3f,""" +
            f""""plan_s":${median(runs.map(_._2))}%.3f,"exec_s":${median(runs.map(_._3))}%.3f,""" +
            s""""stages":[$ss]}}""")
        }

      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
