package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SplitMix64: every seeded choice the harness makes comes from one of
  * these, keyed by (seed, stream), so a seed fixes all inputs.
  */
final class Rng(seed: Long, stream: Long) {
  private var s = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def below(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def between(lo: Long, hi: Long): Long = lo + ((nextLong() >>> 1) % (hi - lo + 1))
}

/** Zipf(s) draws over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double, rng: Rng) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def draw(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A closed-form tick tape: symbol `s` has its `i`-th tick at
  * `t0 + i` seconds, with price and volume fixed functions of
  * (s, i). Any prefix of it is known exactly, so every read answer can
  * be checked without a second store.
  */
final case class Tape(seed: Long, symbols: Int) {
  private val r = new Rng(seed, 1)
  val t0: Long = 1600000000L + r.between(0, 1000000) * 60L
  private val a = r.between(1000, 9000)
  private val b = r.between(1000, 9000)
  def sym(s: Int): String = f"S$s%03d"
  def ts(i: Long): Long = t0 + i
  /** Price in cents: printed `%.2f` prices are exact. */
  def cents(s: Int, i: Long): Long = 5000L + s * 10L + Math.floorMod(i * a + s * 131L, 10007L)
  def volume(s: Int, i: Long): Long = 100L + Math.floorMod(i * b + s * 17L, 9901L)

  /** Ticks [from, until) of every symbol as a Spark DataFrame in the
    * store's (symbol, ts, price, volume) shape.
    */
  def frame(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val n = until - from
    val sIdx = (col("id") / lit(n)).cast("int")
    val i = pmod(col("id"), lit(n)) + lit(from)
    spark.range(symbols.toLong * n).select(
      format_string("S%03d", sIdx).as("symbol"),
      timestamp_seconds(lit(t0) + i).as("ts"),
      ((lit(5000L) + sIdx * 10L + pmod(i * lit(a) + sIdx * 131L, lit(10007L)))
        / 100.0).as("price"),
      (lit(100L) + pmod(i * lit(b) + sIdx * 17L, lit(9901L))).as("volume"))
  }
}

/** Seeded command panels for the serve protocol. */
object Panels {
  val Terms: Vector[String] = ("big small fast slow spark stream batch table " +
    "row column key value data query join merge sort hash group agg " +
    "filter scan window order line part customer vector dup").split(" ").toVector

  /** `n` ANN query ids, term lists and hybrid pairs from `rng`. */
  def retrieval(rng: Rng, n: Int, nVecs: Int)
      : (Vector[Long], Vector[Seq[String]], Vector[(Long, Seq[String])]) = {
    def terms(): Seq[String] =
      Seq.fill(1 + rng.below(3))(Terms(rng.below(Terms.size))).distinct
    val ids = Vector.fill(n)(rng.below(nVecs).toLong).distinct
    val qs = Vector.fill(n)(terms()).distinct
    val hy = Vector.tabulate(n)(k => (ids(k % ids.size), qs((k * 3 + 1) % qs.size)))
    (ids, qs, hy)
  }
}
