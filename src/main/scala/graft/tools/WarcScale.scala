package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe behind the WARC ingestion path (x100/x101): throughput of
  *   records  WarcSource.warcTable      (gzip member walk + record grammar)
  *   text     WarcSource.warcTextTable  (+ HTTP sub-parse + HTML extraction)
  * over a realistically-sized corpus: n archives of ~r records each, page
  * bodies padded to ~bodyKB of token-shaped filler so the gzip ratio and
  * per-record cost sit in the web-crawl band (Common Crawl averages
  * ~1 MB/page uncompressed, ~15 pages/member-group). Archives are written
  * once to parquet; each path is timed on the identical input with a noop
  * write. Run OUTSIDE sbt (no build lock):
  *   java -cp "target/scala-2.13/classes:<spark jars>"
  *     <add-opens flags> graft.tools.WarcScale 20000 12 24
  */
object WarcScale {

  /** `--single` mode: the r15 verdict's pressure-bound proof that the
    * walk is O(largest record), not O(file). Synthesizes TWO ~1 GB+
    * `.warc.gz` archives (member-per-record, bodies LCG-hex so gzip
    * cannot shrink them much — the on-disk size is real), then runs
    * `warcFiles` + full HTML extraction over both concurrently under
    * whatever -Xmx the caller set. The old `pds.toArray()` +
    * all-records-ArrayBuffer path needed ~(file + decompressed + 2×
    * decompressed-as-UTF-16) ≈ 7–8 GB PER TASK at this shape; the
    * streaming walk needs one record (~8 MB) + feed windows, so e.g.
    *   java -Xmx1g -cp "target/scala-2.13/classes:<spark jars>"
    *     <add-opens flags> graft.tools.WarcScale --single
    * completing is the proof. A heap sampler reports the true peak.
    */
  private def runSingle(rest: Array[String]): Unit = {
    val records = rest.headOption.map(_.toInt).getOrElse(280)
    val bodyMB = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
    val dir = new java.io.File(s"/tmp/graft-warcsingle-$records-$bodyMB")
    if (!dir.exists()) {
      dir.mkdirs()
      val t0 = System.nanoTime()
      (0 until 2).foreach { f =>
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(new java.io.File(dir, s"f$f.warc.gz")),
          1 << 20)
        (0 until records).foreach { j =>
          // ~bodyMB of 8-hex-digit tokens off an LCG: ~4 bits/char of
          // entropy, so deflate only halves it — the archive stays GB-sized
          val sb = new java.lang.StringBuilder(bodyMB * (1 << 20) + 64)
          sb.append("<html><body><p>")
          var s = (f * 1000003L + j * 2654435761L) | 1L
          while (sb.length < bodyMB * (1 << 20)) {
            s = s * 6364136223846793005L + 1442695040888963407L
            sb.append(java.lang.Long.toHexString(s >>> 32)).append(' ')
          }
          sb.append("</p></body></html>")
          val body = sb.toString.getBytes("UTF-8")
          val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++ body
          val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://big.example/$f/$j\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++
            http ++ "\r\n\r\n".getBytes("ISO-8859-1")
          out.write(graft.sources.WarcSource.gzipOne(rec))
        }
        out.close()
      }
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val files = dir.listFiles().filter(_.getName.endsWith(".warc.gz"))
    val fileBytes = files.map(_.length()).sum
    println(f"corpus: ${files.length} archives, largest ${files.map(_.length()).max / 1e9}%.2f GB, " +
      f"total ${fileBytes / 1e9}%.2f GB on disk; -Xmx=${Runtime.getRuntime.maxMemory() / 1e9}%.2f GB")

    // heap sampler: true peak of (total - free), 20 Hz
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (true) {
        val rt = Runtime.getRuntime
        val used = rt.totalMemory() - rt.freeMemory()
        var p = peak.get()
        while (used > p && !peak.compareAndSet(p, used)) p = peak.get()
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()

    val spark = graft.GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val agg = graft.sources.WarcSource
      .warcFiles(spark, dir.getAbsolutePath + "/*.warc.gz")
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"extract: ${agg.getLong(0)} pages, ${agg.getLong(1) / 1e9}%.2f G chars, " +
      f"$secs%.1f s, ${fileBytes / secs / 1e6}%.1f MB/s (on-disk bytes)")
    println(f"peak heap: ${peak.get() / 1e6}%.0f MB (walk is O(record): " +
      f"${files.length} concurrent ~${files.map(_.length()).max / 1e9}%.1f GB tasks fit)")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--single")) { runSingle(args.drop(1)); return }
    val n = args.headOption.map(_.toLong).getOrElse(20000L)
    val recs = args.drop(1).headOption.map(_.toInt).getOrElse(12)
    val bodyKB = args.drop(2).headOption.map(_.toInt).getOrElse(24)
    val spark = graft.GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val words = Array("the", "fast", "key", "order", "sort", "table",
      "scan", "merge", "part", "window", "small", "hash", "join", "batch",
      "stream", "spark", "value", "agg", "row", "filter")
    def page(id: Long, j: Int): String = {
      val sb = new StringBuilder
      var w = 0
      val target = bodyKB * 1024
      while (sb.length < target) {
        sb.append(words(((id * 31 + j * 7 + w) % words.length).toInt)).append(' ')
        w += 1
      }
      sb.toString
    }

    val corpus = s"/tmp/graft-warcscale-$n-$recs-$bodyKB"
    if (!new java.io.File(corpus).exists()) {
      val t0 = System.nanoTime()
      spark.range(n).select(col("id").as("doc_id")).as[Long]
        .repartition(64)
        .map { id =>
          // one multi-response archive per row: reuse the fixture writer
          // record shape but at probe size (recs responses, ~bodyKB each)
          val out = new java.io.ByteArrayOutputStream()
          (0 until recs).foreach { j =>
            // keep the sub-id parity equal to the archive's: a file must
            // be all-gzip-members or all-plain, never a mix
            out.write(graft.sources.WarcSource.warcOf(
              (id * recs + j) * 2 + id % 2, page(id, j)))
          }
          graft.operators.Multimodal.ImageRow(id, out.toByteArray)
        }
        .toDF().write.mode("overwrite").parquet(corpus)
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val media = spark.read.parquet(corpus)
    val bytes = media.agg(sum(length(col("content")))).as[Long].first()
    println(f"corpus: $n archives, ${bytes / 1e9}%.2f GB encoded (compressed+plain mix)")

    def time(label: String)(df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-8s ${s}%8.1f s  ${n / s}%9.0f arch/s  ${bytes / s / 1e6}%7.1f MB/s")
      s
    }
    val tr = time("records")(graft.sources.WarcSource.warcTable(spark, media))
    // text path extracts EVERY response (warcFiles semantics), not just
    // the gate's first-response-per-archive
    val allText = media.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bs) =>
        graft.sources.WarcSource.parseWarc(bs).records.iterator
          .filter(_.warcType == "response")
          .map(r => (id, r.targetUri, graft.sources.WarcSource.htmlText(r.body)))
      }
      .toDF("doc_id", "uri", "text")
    val tt = time("text")(allText)
    println(f"html extraction costs ${tt / tr}%.2fx the container walk")
    spark.stop()
  }
}
