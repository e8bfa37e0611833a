package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Runs `f` on both expression eval paths: whole-stage codegen, then interpreted
   * (no whole-stage codegen, NO_CODEGEN projections). Both exclude
   * ConvertToLocalRelation, which would otherwise evaluate a projection over a
   * local Seq in the optimizer, interpreted, whatever the codegen settings. The
   * shared session's conf is restored afterwards. */
  def onBothEvalPaths(f: => Unit): Unit = {
    val local = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    val paths = Seq("codegen" -> Seq(local),
      "interpreted" -> Seq(local, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((path, conf) <- paths) {
      val saved = conf.map { case (k, _) => k -> spark.conf.getAll.get(k) }
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        org.scalatest.Assertions.withClue(s"[$path eval] ")(f)
      } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
