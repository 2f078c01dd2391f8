package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Pure helpers the harness reports with: order statistics, the tail
  * percentile rule, the failure ratio and the order-independent output
  * digest. No Spark here, so `SelfTest` checks them without data. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Quartiles (q1, q2, q3) by the "exclusive" method, the default of
    * Python's `statistics.quantiles(xs, n=4)`: the j-th cut sits at
    * position j·(n+1)/4 of the sorted samples, interpolated. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    def cut(j: Int): Double = {
      val m = n + 1
      val i = math.min(math.max(j * m / 4, 1), n - 1)
      val delta = j * m - 4 * i
      (s(i - 1) * (4 - delta) + s(i) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Highest whole percentile p in [50, 99] that still has at least
    * `beyond` samples above its nearest-rank value: (p, value, n). None when
    * even the median has fewer than `beyond` samples above it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double, Int)] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    def rank(p: Int): Int = math.ceil(p * n / 100.0).toInt.max(1)
    (99 to 50 by -1).find(p => n - rank(p) >= beyond)
      .map(p => (p, s(rank(p) - 1), n))
  }

  def failedRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "failed_ratio needs at least one attempted operation")
    require(failed >= 0 && failed <= attempted, s"failed=$failed of attempted=$attempted")
    failed.toDouble / attempted
  }

  private def rowHash(row: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(row.getBytes(UTF_8))
    h.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** Multiset digest: the wrapping sum of per-row MD5 prefixes plus the row
    * count, so any row order gives the same digest and any changed,
    * missing or duplicated row changes it. */
  def digest(rows: Iterable[String]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(r); n += 1 }
    f"$n%d:${sum}%016x"
  }

  /** Scores enter digests rounded half-up to 6 decimals. */
  def round6(x: Double): String = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
}

/** Minimal JSON writer for records: strings, numbers, booleans, options
  * (None is null), sequences and `Obj` (fields in insertion order). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in record: $d")
      d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${write(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
