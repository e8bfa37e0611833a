package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.Fixtures

/** Fixture reads: each table's schema is inferred once per JVM and path, its
 * relation is resolved once per session and path, and a regeneration of the
 * fixture dir drops both. */
class FixturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Mark = "graft.test.jobsDuring"

  /** Spark jobs started while `f` runs. Listener events arrive asynchronously but
   * in order, so two marked jobs, run before and after `f`, bound the count. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val begun = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Mark))) match {
          case Some("begin") => begun.countDown()
          case Some("end") => ended.countDown()
          case _ => if (begun.getCount == 0 && ended.getCount == 1) jobs.incrementAndGet()
        }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(Mark, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Mark, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      f
      marker("end")
      assert(begun.await(60, TimeUnit.SECONDS) && ended.await(60, TimeUnit.SECONDS),
        "listener never saw the marker jobs")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** What the benchmark does by reflection (perfbench FixtureRoot): forget that
   * a dir was verified in this JVM, so the next `ensure` checks it again. */
  private def forgetVerified(dir: String): Unit = {
    val f = Fixtures.getClass.getDeclaredField("verifiedDirs")
    f.setAccessible(true)
    f.set(null, f.get(null).asInstanceOf[Set[String]] - dir)
  }

  test("a fixture table's schema is inferred once per JVM; regeneration drops it") {
    // a copy of the test fixtures under a scale tag of its own (unknown tags are
    // sf0.001-sized), so the first read of its docs table is the first in this JVM
    val src = Paths.get(Fixtures.ensure(spark, TestSpark.Sf))
    val sf = "/tmp/sf_schema_probe"
    val dir = Paths.get(Fixtures.dir(sf))
    def rmDir(): Unit = if (Files.exists(dir)) FileUtils.deleteDirectory(dir.toFile)
    rmDir()
    FileUtils.copyDirectory(src.toFile, dir.toFile)
    try {
      Fixtures.ensure(spark, sf) // the copy's fingerprints match: no regeneration
      assert(jobsDuring(Fixtures.table(spark, sf, "docs")) == 1) // the inference job
      var docs: DataFrame = null
      assert(jobsDuring { docs = Fixtures.table(spark, sf, "docs") } == 0)
      assert(docs.schema == spark.read.parquet(s"$dir/docs.parquet").schema)
      // re-verifying the fingerprints keeps the schemas
      forgetVerified(dir.toString)
      Fixtures.ensure(spark, sf)
      assert(jobsDuring(Fixtures.table(spark, sf, "docs")) == 0)
      // a marker that no longer matches regenerates the dir, which drops them
      Files.list(dir).iterator.asScala.filter(_.getFileName.toString.startsWith("_COMPLETE"))
        .foreach(Files.writeString(_, "stale"))
      forgetVerified(dir.toString)
      Fixtures.ensure(spark, sf)
      assert(jobsDuring(Fixtures.table(spark, sf, "docs")) == 1)
      assert(jobsDuring(Fixtures.table(spark, sf, "docs")) == 0)
    } finally {
      rmDir()
      forgetVerified(dir.toString)
    }
  }

  test("a fixture table's relation is resolved once per session; regeneration drops it") {
    def relation(df: DataFrame) =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }.get
    val src = Paths.get(Fixtures.ensure(spark, TestSpark.Sf))
    val sf = "/tmp/sf_relation_probe"
    val dir = Paths.get(Fixtures.dir(sf))
    def rmDir(): Unit = if (Files.exists(dir)) FileUtils.deleteDirectory(dir.toFile)
    rmDir()
    FileUtils.copyDirectory(src.toFile, dir.toFile)
    try {
      val a = Fixtures.table(spark, sf, "docs")
      val b = Fixtures.table(spark, sf, "docs")
      assert(relation(a) eq relation(b))
      // each read is a plan of its own, with fresh attribute ids: a self-join resolves
      assert(a.queryExecution.analyzed.output.map(_.exprId).intersect(
        b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
      val n = a.count()
      assert(a.join(b, a("doc_id") === b("doc_id")).count() == n)
      assert(relation(Fixtures.table(spark, sf, "aoi")) ne relation(a))
      // re-verifying the fingerprints keeps the relation
      forgetVerified(dir.toString)
      Fixtures.ensure(spark, sf)
      assert(relation(Fixtures.table(spark, sf, "docs")) eq relation(a))
      // a marker that no longer matches regenerates the dir, which drops it
      Files.list(dir).iterator.asScala.filter(_.getFileName.toString.startsWith("_COMPLETE"))
        .foreach(Files.writeString(_, "stale"))
      forgetVerified(dir.toString)
      Fixtures.ensure(spark, sf)
      val c = Fixtures.table(spark, sf, "docs")
      assert(relation(c) ne relation(a))
      assert(relation(Fixtures.table(spark, sf, "docs")) eq relation(c))
      assert(c.count() == n) // a frame built before the regeneration lists deleted files
    } finally {
      rmDir()
      forgetVerified(dir.toString)
    }
  }

  test("the generator hash ignores line numbers but not code") {
    import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, Label, MethodVisitor, Opcodes}
    val bytes = {
      val in = Fixtures.getClass.getResourceAsStream("/graft/gen/Fixtures$.class")
      try in.readAllBytes() finally in.close()
    }
    /** `bytes` copied with each method's visitor wrapped by `f`. */
    def rewrite(f: MethodVisitor => MethodVisitor): Array[Byte] = {
      val w = new ClassWriter(0)
      new ClassReader(bytes).accept(new ClassVisitor(Opcodes.ASM9, w) {
        override def visitMethod(access: Int, name: String, desc: String, sig: String,
            exceptions: Array[String]): MethodVisitor =
          f(super.visitMethod(access, name, desc, sig, exceptions))
      }, 0)
      w.toByteArray
    }
    def md5(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
    val copy = rewrite(identity)
    val shifted = rewrite(mv => new MethodVisitor(Opcodes.ASM9, mv) {
      override def visitLineNumber(line: Int, start: Label): Unit = super.visitLineNumber(line + 7, start)
    })
    val recoded = rewrite(mv => new MethodVisitor(Opcodes.ASM9, mv) {
      override def visitLdcInsn(v: Any): Unit = v match {
        case d: java.lang.Double => super.visitLdcInsn(java.lang.Double.valueOf(d + 1.0))
        case _ => super.visitLdcInsn(v)
      }
    })
    assert(md5(shifted) != md5(copy)) // the whole class file changes with its line numbers
    assert(Fixtures.classHash(shifted) == Fixtures.classHash(copy))
    assert(Fixtures.classHash(copy) == Fixtures.classHash(bytes))
    assert(Fixtures.classHash(recoded) != Fixtures.classHash(copy))
  }
}
