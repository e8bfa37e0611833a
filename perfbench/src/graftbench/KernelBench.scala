package graftbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.exprs.Kernels
import graft.model.Layout
import graft.ops.{Multilook, Raster, Speckle}

/** Direct calls into the compiled per-pixel kernels the `raster` workload uses, on
 * primitive arrays of one fixture tile (Layout.TileW x Layout.TileH), no Spark.
 * Inputs are fixed (not seeded): the same pixels on every run. */
object KernelBench {
  private val W = Layout.TileW
  private val H = Layout.TileH
  private val Px = W * H

  private def pixels(n: Int, salt: Int): Array[Double] =
    Array.tabulate(n) { k =>
      val h = (k * 0x9E3779B1 + salt * 0x85EBCA6B) >>> 8
      ((h % 20000) - 10000) / 1024.0
    }

  private def arr(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  /** (name, call on one tile). */
  private lazy val cases: Seq[(String, () => AnyRef)] = {
    val i = arr(pixels(Px, 1)); val q = arr(pixels(Px, 2))
    val v = Kernels.intensity(i, q, Raster.Dyadic.toDouble, Raster.DyadicV.toDouble)
    val lut = arr(Array.tabulate(Px)(k => 500.0 + 0.1 * (k / W) + 0.05 * (k % W)))
    val hw = W + 2; val hh = H + 2
    val halo = arr(Array.tabulate(hw * hh)(k => v.getDouble((k % Px))))
    val lee = Kernels.modeId("lee")
    Seq(
      ("intensity", () => Kernels.intensity(i, q, Raster.Dyadic.toDouble, Raster.DyadicV.toDouble)),
      ("caldiv", () => Kernels.pixelMap2(v, lut, Kernels.PM_CALDIV, 0.0)),
      ("speckle_lee", () => Kernels.speckle(halo, lee, W, H, 1, Speckle.Enl, Speckle.FrostDamping)),
      ("halo_strip", () => Kernels.haloStrip(v, 0, W, H, 1)),
      ("block_means", () => Kernels.blockMeans(v, W, H, Multilook.Looks)))
  }

  /** ns per pixel of each kernel: `reps` timed batches of `batchNs` each after one
   * warm-up batch; the median batch is reported. */
  def run(reps: Int, batchNs: Long): Seq[(String, Double)] = cases.map { case (name, f) =>
    var sink = 0
    def batch(): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < batchNs) {
        var j = 0
        while (j < 64) { sink ^= System.identityHashCode(f()); j += 1 }
        n += 64
      }
      (System.nanoTime() - t0).toDouble / (n * Px)
    }
    batch()
    val xs = (1 to reps).map(_ => batch()).sorted
    if (sink == 42) print("")
    name -> xs(xs.length / 2)
  }
}
