package graft.tools

import org.apache.spark.sql.functions._

/** Measured counterfactual for the CDX random-access arm (x119):
  * selective refetch through the index vs walking the archive. One
  * ~2 GB `.warc.gz` (member-per-record, LCG-hex bodies so the on-disk
  * size is real) is written together with its measured CDX index; the
  * probe times (a) the full `warcFiles` walk + extraction and (b)
  * fetching a 1-in-N sample through `fetchByIndex`. At the 100 TB
  * crawl shape the ratio IS the argument: per-URL audits, revisit
  * resolution, and recrawl candidate pulls touch rows-fetched bytes,
  * not archive bytes. Run OUTSIDE sbt:
  *   java -Xmx1g -cp "target/scala-2.13/classes:<spark jars>"
  *     <add-opens flags> graft.tools.CdxScale [records] [bodyKB] [every]
  */
object CdxScale {
  def main(args: Array[String]): Unit = {
    val records = args.headOption.map(_.toInt).getOrElse(2000)
    val bodyKB = args.drop(1).headOption.map(_.toInt).getOrElse(1024)
    val every = args.drop(2).headOption.map(_.toInt).getOrElse(100)
    val dir = new java.io.File(s"/tmp/graft-cdxscale-$records-$bodyKB")
    if (!dir.exists()) {
      dir.mkdirs()
      val t0 = System.nanoTime()
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, "big.warc.gz")),
        1 << 20)
      val cdx = new java.io.PrintWriter(new java.io.File(dir, "big.cdx"),
        "UTF-8")
      var off = 0L
      (0 until records).foreach { j =>
        val sb = new java.lang.StringBuilder(bodyKB * 1024 + 64)
        sb.append("<html><body><p>")
        var s = (j * 2654435761L) | 1L
        while (sb.length < bodyKB * 1024) {
          s = s * 6364136223846793005L + 1442695040888963407L
          sb.append(java.lang.Long.toHexString(s >>> 32)).append(' ')
        }
        sb.append("</p></body></html>")
        val body = sb.toString.getBytes("UTF-8")
        val uri = s"http://big.example/$j"
        val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
          body
        val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          "WARC-Date: 2026-01-01T00:00:00Z\r\n" + // mandatory per ISO 28500;
          // index GENERATION derives its timestamp from it
          "Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++
          http ++ "\r\n\r\n".getBytes("ISO-8859-1")
        val member = graft.sources.WarcSource.gzipOne(rec)
        out.write(member)
        cdx.println(graft.sources.CdxSource.surt(uri) + " 20260101000000 " +
          "{\"url\": \"" + uri + "\", \"status\": \"200\", " +
          "\"length\": \"" + member.length + "\", " +
          "\"offset\": \"" + off + "\", \"filename\": \"big.warc.gz\"}")
        off += member.length
      }
      out.close(); cdx.close()
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val archiveBytes = new java.io.File(dir, "big.warc.gz").length()
    println(f"archive: $records records, ${archiveBytes / 1e9}%.2f GB on disk; " +
      f"-Xmx=${Runtime.getRuntime.maxMemory() / 1e9}%.2f GB")

    val spark = graft.GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")

    // (a) the full walk: every record decoded + extracted
    val tWalk0 = System.nanoTime()
    val walked = graft.sources.WarcSource
      .warcFiles(spark, dir.getAbsolutePath + "/*.warc.gz")
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    val walkS = (System.nanoTime() - tWalk0) / 1e9
    println(f"full walk:  ${walked.getLong(0)} pages, $walkS%6.1f s, " +
      f"${archiveBytes / walkS / 1e6}%7.1f MB/s")

    // (b) selective: every `every`-th record through the index
    val sample = graft.sources.CdxSource
      .cdxFiles(spark, dir.getAbsolutePath + "/*.cdx")
      .filter(
        expr(s"CAST(substring_index(url, '/', -1) AS BIGINT) % $every = 0"))
    val tF0 = System.nanoTime()
    val fetched = graft.sources.CdxSource
      .fetchByIndex(spark, dir.getAbsolutePath, sample)
      .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    val fetchS = (System.nanoTime() - tF0) / 1e9
    val n = fetched.getLong(0)
    println(f"cdx fetch:  $n pages (1 in $every), $fetchS%6.1f s, " +
      f"${fetchS / n * 1000}%6.1f ms/fetch")
    println(f"counterfactual: walking costs ${walkS / fetchS}%.1fx the " +
      f"sample fetch — selective refetch scales with rows fetched, " +
      f"not archive bytes")

    // (c) x122 generation: the streaming iterator's measured-boundary
    // walk emitting one pointer per record — the producing side's MB/s
    val tG0 = System.nanoTime()
    val gen = graft.sources.CdxSource
      .warcIndexFiles(spark, dir.getAbsolutePath + "/*.warc.gz")
      .agg(count(lit(1))).collect()(0).getLong(0)
    val genS = (System.nanoTime() - tG0) / 1e9
    println(f"index gen:  $gen pointers, $genS%6.1f s, " +
      f"${archiveBytes / genS / 1e6}%7.1f MB/s")

    // (d) x124 zipnum: cluster build over the sorted index + per-lookup
    // cost through the binary search + one-member inflate
    val znDir = new java.io.File(dir, "zn").getAbsolutePath
    val sorted = new java.io.File(dir, "sorted.cdx")
    if (!sorted.exists()) {
      val lines = scala.io.Source.fromFile(
        new java.io.File(dir, "big.cdx"), "UTF-8").getLines().toArray.sorted
      java.nio.file.Files.write(sorted.toPath,
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val tZ0 = System.nanoTime()
    graft.sources.CdxSource.writeZipnumFiles(spark,
      sorted.getAbsolutePath, znDir, blockSize = 50)
    val buildS = (System.nanoTime() - tZ0) / 1e9
    val tL0 = System.nanoTime()
    val probes = 200
    var found = 0
    (0 until probes).foreach { i =>
      val j = (i * 97) % records
      if (graft.sources.CdxSource.zipnumLookupDir(spark, znDir,
        s"http://big.example/$j").nonEmpty) found += 1
    }
    val lookS = (System.nanoTime() - tL0) / 1e9
    println(f"zipnum:     build $buildS%5.1f s; $found/$probes lookups, " +
      f"${lookS / probes * 1000}%6.2f ms/lookup (index resident, one " +
      f"member inflate each)")
    spark.stop()
  }
}
