package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same bytes; nothing
  * here calls the program under test.
  */
object Inputs {

  /** One stream of randomness per (seed, purpose, index). */
  def rng(seed: Long, purpose: Int, index: Long = 0): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (purpose.toLong << 48) ^ index)

  // ------------------------------------------------ FIXTURES.md §1 logs

  private val activityPool: Array[String] =
    Array.tabulate(25)(i => java.util.UUID.nameUUIDFromBytes(s"perfbench-activity-$i".getBytes(UTF_8)).toString)

  private val baseEpoch = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC)
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Headerless CSV log lines with Ids `firstId until firstId + rows`:
    * Id, Timestamp (one second per Id, so unique), Level (60/30/10),
    * Node (`Machine` + [0,25)), ActivityId (a pool of 25), Text
    * (lowercase and space, 30 to 150 characters). Each line ends in `\n`.
    */
  def logLines(r: SplittableRandom, firstId: Long, rows: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows * 180)
    var id = firstId
    val end = firstId + rows
    while (id < end) {
      val ts = java.time.LocalDateTime.ofEpochSecond(baseEpoch + id, 0, java.time.ZoneOffset.UTC)
      val lv = r.nextInt(100)
      sb.append(id).append(',')
      tsFormat.formatTo(ts, sb)
      sb.append(',').append(if (lv < 60) "Information" else if (lv < 90) "Warning" else "Error")
      sb.append(",Machine").append(r.nextInt(25))
      sb.append(',').append(activityPool(r.nextInt(25))).append(',')
      var n = 30 + r.nextInt(121)
      while (n > 0) {
        val c = r.nextInt(27)
        sb.append(if (c == 26) ' ' else ('a' + c).toChar)
        n -= 1
      }
      sb.append('\n')
      id += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  // ------------------------------------------------------------ digests

  /** SHA-256 over everything added so far; reading it does not end it. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(bytes: Array[Byte]): this.type = { md.update(bytes); this }
    def add(s: String): this.type = add(s.getBytes(UTF_8))
    def hex: String =
      md.clone().asInstanceOf[java.security.MessageDigest].digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
