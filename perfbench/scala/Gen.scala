package perfbench

import java.util.SplittableRandom

/** Seeded inputs: a power-law directed multigraph in the paper's edge
  * schema, and Zipf-skewed key draws for the read mix. Everything here is
  * a function of the seed alone. */
object Gen {

  /** Cumulative weights (rank + 1)^-alpha over `n` ranks. */
  private def cdf(n: Int, alpha: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += math.pow(r + 1.0, -alpha); c(r) = acc; r += 1 }
    c
  }

  private def draw(c: Array[Double], rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(c, rng.nextDouble() * c(c.length - 1))
    if (i >= 0) i else -i - 1
  }

  /** Vertex ids 1..n in a seeded random order: rank r maps to ids(r). */
  private def shuffledIds(n: Int, rng: SplittableRandom): Array[Long] = {
    val a = Array.tabulate(n)(i => i + 1L)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Samples ids with probability ∝ (rank + 1)^-alpha, ranks shuffled. */
  final class Skewed(n: Int, alpha: Double, rng: SplittableRandom) {
    private val ids = shuffledIds(n, rng)
    private val c = cdf(n, alpha)
    def next(r: SplittableRandom): Long = ids(draw(c, r))
  }

  /** `nE` edges over ids 1..nV: out- and in-degree follow independent
    * power laws (Chung–Lu weights (rank + 1)^-0.75), no self-loops,
    * parallel edges allowed. etype 0..14, ts increasing, weight an exact
    * float. */
  def graph(seed: Long, nV: Int, nE: Int): Array[Edge] = {
    val rng = new SplittableRandom(seed)
    val srcs = new Skewed(nV, 0.75, rng)
    val dsts = new Skewed(nV, 0.75, rng)
    Array.tabulate(nE) { i =>
      val s = srcs.next(rng)
      var d = dsts.next(rng)
      while (d == s) d = dsts.next(rng)
      edge(rng, s, d, i)
    }
  }

  def edge(rng: SplittableRandom, s: Long, d: Long, seq: Long): Edge =
    Edge(s, d, rng.nextInt(15).toByte, 1700000000000L + seq * 1000L + rng.nextInt(1000),
      rng.nextInt(1 << 16) / 256f)
}
