package graft.perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.length)

  /** Order-insensitive 64-bit digest of rows rendered as strings. */
  def digest(rows: Iterable[String]): (Long, Long) = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r).toLong * 0x9E3779B97F4A7C15L +
        r.length
      sum += h; xor ^= java.lang.Long.rotateLeft(h, 17)
    }
    (sum, xor)
  }
}

/** A seeded operation mix of fixed composition: every round of
  * `counts.map(_._2).sum` draws holds each kind its stated number of times,
  * in an order drawn from `rnd`, so runs on different seeds do the same
  * work in a different order.
  */
final class Deck(rnd: scala.util.Random, counts: Seq[(Int, Int)]) {
  private var left: List[Int] = Nil
  def next(): Int = {
    if (left.isEmpty)
      left = rnd.shuffle(counts.flatMap { case (k, n) => Seq.fill(n)(k) }).toList
    val k = left.head
    left = left.tail
    k
  }
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit =
    m(name) = (value, unit)
  def ++=(xs: Seq[(String, Double, String)]): Unit =
    xs.foreach { case (n, v, u) => put(n, v, u) }
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def entries: Seq[(String, Double, String)] =
    m.toSeq.map { case (k, (v, u)) => (k, v, u) }
  def toJson: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
    "\"" + k + "\":{\"value\":" + num + ",\"unit\":\"" + u + "\"}"
  }.mkString("{", ",", "}")
}

/** What a workload run returns: operations attempted and failed (wrong,
  * errored or out of retries), its metrics and the latencies of the
  * operations that completed.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Metrics,
    notes: Seq[String] = Nil, latencies: Seq[Double] = Nil)
