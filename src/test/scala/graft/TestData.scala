package graft

import breeze.linalg.{DenseMatrix, DenseVector}

/** Deterministic fixture generators for the numeric specs: a tiny explicit
  * LCG (no JVM RNG dependence) so golden values are stable across machines
  * and Scala/JDK versions.
  */
object TestData {
  final class Lcg(seed: Long) {
    private var s = seed
    /** Uniform in [-1, 1). */
    def next(): Double = {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    def gaussian(): Double = {
      // Box–Muller on two uniforms mapped to (0,1).
      val u1 = (next() + 1.0) / 2.0 max 1e-12
      val u2 = (next() + 1.0) / 2.0
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
  }

  /** A fresh, existing directory under [[Scratch]]'s root, which is
    * deleted at JVM exit.
    */
  def scratchDir(prefix: String): java.io.File = {
    val d = new java.io.File(Scratch.path(prefix))
    d.mkdirs()
    d
  }

  def matrix(rows: Int, cols: Int, seed: Long): DenseMatrix[Double] = {
    val g = new Lcg(seed)
    DenseMatrix.tabulate(rows, cols)((_, _) => g.gaussian())
  }

  def vector(n: Int, seed: Long): DenseVector[Double] = {
    val g = new Lcg(seed)
    DenseVector.tabulate(n)(_ => g.gaussian())
  }

  /** Simulated stationary AR(1): y_t = phi·y_{t−1} + ε_t (FIXTURES.md
    * `ar1_sim` analog).
    */
  def ar1Series(n: Int, phi: Double, seed: Long): DenseVector[Double] = {
    val g = new Lcg(seed)
    val y = DenseVector.zeros[Double](n)
    var prev = 0.0
    var i = 0
    while (i < n) {
      prev = phi * prev + g.gaussian()
      y(i) = prev
      i += 1
    }
    y
  }

  /** Random walk (unit root), FIXTURES.md `unit_root_sim` analog. */
  def randomWalk(n: Int, seed: Long): DenseVector[Double] = {
    val g = new Lcg(seed)
    val y = DenseVector.zeros[Double](n)
    var level = 0.0
    var i = 0
    while (i < n) {
      level += g.gaussian()
      y(i) = level
      i += 1
    }
    y
  }
}
