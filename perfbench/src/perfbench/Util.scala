package perfbench

/** Seeded hashing: every generated value is a pure function of the run
  * seed and its coordinates, so the same seed gives the same inputs and
  * the driver-side model, Derby and Spark all see identical rows. */
object Hash {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((acc, x) => mix(acc ^ x))
  /** Uniform in [0, n). */
  def below(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)
  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] =
    xs.zipWithIndex.sortBy { case (_, i) => mix(seed ^ i) }.map(_._1)
}

/** An order-insensitive fingerprint of a multiset of changed keys: each
  * item hashes to 64 bits and the fingerprint is their wrapping sum, so
  * the generator's expectation and the diff's rows compare without
  * sorting. */
final class KeySetHash {
  private var sum = 0L
  private var n = 0L
  def add(item: String): Unit = {
    import scala.util.hashing.MurmurHash3.stringHash
    sum += Hash(0x5eedL, stringHash(item, 1).toLong, stringHash(item, 2).toLong)
    n += 1
  }
  def count: Long = n
  override def toString: String = f"$n%d keys, fp $sum%016x"
  override def equals(o: Any): Boolean = o match {
    case k: KeySetHash => k.sum == sum && k.n == n
    case _ => false
  }
  override def hashCode: Int = sum.hashCode
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample, at percentile 100·(n−10)/n. With fewer than 11
    * samples it is the maximum (percentile 100), and the caller prints n
    * beside it. Returns (value, percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** JSON for the result and trace files, through the Jackson that ships
  * with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
