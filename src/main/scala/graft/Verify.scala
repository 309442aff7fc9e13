package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession(cpus)
    new java.io.File(outDir).mkdirs()
    // Output dir MUST be the bare query name: the driver's correctness gate
    // keys its report by output-directory name and looks that key up in
    // oracle_sql.json — any suffix here desynchronizes the two and zeroes
    // the round's correctness signal (round-1 lesson: all 58 "no_oracle").
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop the query's localCheckpoint blocks now (fully consumed by the
      // write above) instead of letting them pile up across 160+ queries
      // waiting on the async ContextCleaner
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(
      s"[verify] failed ${failed.size}/${selected.size}: ${failed.mkString(" ")}")
  }
}
