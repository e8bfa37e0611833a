package graftbench

import graft.gen.Fixtures

/**
 * Points the engine's fixture root (`Fixtures.Root`, a constant today) at a
 * directory of the benchmark's own, so generated tables stay inside the checkout
 * the benchmark runs from. The constant is a static final field, so it is
 * rewritten through `sun.misc.Unsafe` before any query reads it; the result is
 * checked, and the run stops if the redirect did not take.
 */
object FixtureRoot {
  private lazy val unsafe: sun.misc.Unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }

  private def static(name: String): java.lang.reflect.Field =
    Fixtures.getClass.getDeclaredField(name)

  def redirect(root: String, sf: String): Unit = {
    val f = static("Root")
    require(java.lang.reflect.Modifier.isStatic(f.getModifiers), "Fixtures.Root is no longer a static field")
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), root)
    val probe = Fixtures.dir(sf)
    require(probe == s"$root/$sf", s"fixture root redirect failed: Fixtures.dir gives $probe")
  }

  /** Record a fixture dir as verified for this JVM, as `Fixtures.ensure` does
   * after checking its fingerprints. Untimed runs use this: the prepare step of
   * the same build has already checked them, and the check is timed on its own
   * (`gen.ensure_s`) in traced runs. */
  def markVerified(dir: String): Unit = {
    val f = static("verifiedDirs")
    f.setAccessible(true)
    f.set(null, f.get(null).asInstanceOf[Set[String]] + dir)
  }

  /** Drop the once-per-JVM verification record, so the next `Fixtures.ensure`
   * checks the fingerprints again. */
  def forgetVerified(): Unit = {
    val f = static("verifiedDirs")
    f.setAccessible(true)
    f.set(null, Set.empty[String])
  }
}
