package perfbench

import java.util.SplittableRandom

/** Seeded clustered corpus in the geometry of AnnBench's "clustered"
  * generator: `centers` latent centres uniform in [-1, 1]^dim, each row its
  * centre plus uniform ±0.1 noise per component. Row i has primary key
  * i + 1 and a `Label` in 0..9. Everything derives from `seed`. */
final class Corpus(seed: Long, val n: Int, val dim: Int, centers: Int = 128) {
  private val rng = new SplittableRandom(seed)
  private val cents: Array[Array[Double]] =
    Array.fill(centers, dim)(rng.nextDouble() * 2 - 1)
  val labels: Array[Int] = new Array[Int](n)
  val vecs: Array[Array[Float]] = Array.tabulate(n) { i =>
    val c = cents(rng.nextInt(centers))
    labels(i) = rng.nextInt(10)
    Array.tabulate(dim)(j => (c(j) + rng.nextDouble() * 0.2 - 0.1).toFloat)
  }

  def pk(i: Int): Long = i + 1L

  /** `q` query vectors: existing rows plus ±0.01 noise per component. */
  def queries(q: Int): Array[Array[Float]] = {
    val r = new SplittableRandom(seed * 31 + 1)
    Array.fill(q) {
      val base = vecs(r.nextInt(n))
      base.map(x => (x + r.nextDouble() * 0.02 - 0.01).toFloat)
    }
  }
}

object Corpus {
  /** A written row's vector: every component in [50, 51), far outside the
    * queried region, so no write can change an oracle answer. */
  def farVector(r: SplittableRandom, dim: Int): Array[Float] =
    Array.fill(dim)((50.0 + r.nextDouble()).toFloat)

  def vecJson(v: Array[Float]): String = {
    val sb = new java.lang.StringBuilder("[")
    var i = 0
    while (i < v.length) {
      if (i > 0) sb.append(',')
      sb.append(v(i))
      i += 1
    }
    sb.append(']').toString
  }
}
