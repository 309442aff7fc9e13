package graft.perfbench

/** The benchmark's own reference code: statistics and the partition
  * hash the workload outputs are checked against. Nothing here calls the
  * program under test.
  */
object Reference {

  // ------------------------------------------------------------ statistics

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail figure: the highest percentile that has at least 10 samples
    * beyond it. Sorted ascending, that is the sample at 1-based rank n-10,
    * and its percentile is 100*(n-10)/n. None when that percentile would be
    * below the median (n < 20): a "tail" under the median is not one, and
    * the caller reports the median instead.
    */
  final case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n < 2 * beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n, beyond))
    }
  }

  // ------------------------------------------------- partition hash (§4)

  /** FIXTURES.md §4: `hash = seed; foreach byte: hash ^= b; hash % n`,
    * over the raw bytes of the field (quotes included).
    */
  def xorFold(bytes: Array[Byte], seed: Int, n: Int): Int = {
    var h = seed
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xff); i += 1 }
    h % n
  }

  /** Raw bytes of CSV field `idx` of one line (FIXTURES.md §3 dialect:
    * comma delimiter, `"` quoting; the slice is returned verbatim). None
    * when the line has fewer fields.
    */
  def csvField(line: Array[Byte], idx: Int): Option[Array[Byte]] = {
    var field = 0
    var start = 0
    var inQuote = false
    var i = 0
    while (i <= line.length) {
      val end = i == line.length
      if (!end && line(i) == '"') inQuote = !inQuote
      if (end || (!inQuote && line(i) == ',')) {
        if (field == idx) return Some(java.util.Arrays.copyOfRange(line, start, i))
        field += 1
        start = i + 1
      }
      i += 1
    }
    None
  }
}
