package graft.perfbench

import java.util.SplittableRandom

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent), by
  * inverse CDF over precomputed cumulative weights. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    a
  }

  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble() * cdf(n - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(-i - 1, n - 1)
  }

  /** A rank below `limit` (rejection: `limit` may shrink below n). */
  def sampleBelow(rng: SplittableRandom, limit: Int): Int = {
    var r = sample(rng)
    while (r >= limit) r = sample(rng)
    r
  }
}

object Gen {
  /** Seeded Fisher-Yates shuffle. */
  def shuffle[T](rng: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    var i = a.size - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}

/** A set of live keys with O(1) insert, remove and index access, so a
  * Zipf rank maps to a live key. */
final class LiveKeys {
  private val keys = scala.collection.mutable.ArrayBuffer[Long]()
  private val pos = scala.collection.mutable.LongMap[Int]()

  def size: Int = keys.size
  def apply(i: Int): Long = keys(i)
  def contains(k: Long): Boolean = pos.contains(k)

  def add(k: Long): Unit = if (!pos.contains(k)) {
    pos(k) = keys.size; keys += k
  }

  def remove(k: Long): Unit = pos.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; pos(last) = i }
  }
}
