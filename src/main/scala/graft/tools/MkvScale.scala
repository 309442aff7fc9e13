package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe behind the x102/x103 Matroska rows: throughput of the
  * EBML walk over realistically-sized files — `clusters` clusters of
  * `blocks` SimpleBlocks with `frameKB` payloads per file (defaults ≈
  * 7.4 MB/file, the short-web-clip band). Measures the full walk
  * (mkvTable facts) and the per-frame flatten feeding x103's segment
  * window. Run OUTSIDE sbt:
  *   java -cp "target/scala-2.13/classes:<spark jars>"
  *     <add-opens flags> graft.tools.MkvScale 600 60 30 4
  */
object MkvScale {

  /** `--single` mode: pressure-bound proof that the EBML walk is
    * O(largest leaf), not O(file) — the r16 verdict flagged `mkvFiles`'
    * `pds.toArray()` as the OOM shape at real multi-GB Matroska media.
    * Synthesizes TWO >1 GB `.mkv` files STREAMED to disk in the
    * MediaRecorder shape (unknown-size Segment, sized clusters — the
    * only form writable without knowing the total size upfront, and
    * exactly the shape live-captured WebM has), LCG-filled frames so
    * the on-disk size is real, then walks both concurrently under
    * whatever -Xmx the caller set:
    *   java -Xmx1g -cp "target/scala-2.13/classes:<spark jars>"
    *     <add-opens flags> graft.tools.MkvScale --single
    * completing is the proof; a heap sampler reports the true peak.
    */
  private def runSingle(rest: Array[String]): Unit = {
    import graft.sources.MkvSource
    val clusters = rest.headOption.map(_.toInt).getOrElse(170)
    val blocks = rest.drop(1).headOption.map(_.toInt).getOrElse(4)
    val frameMB = rest.drop(2).headOption.map(_.toInt).getOrElse(2)
    val dir = new java.io.File(s"/tmp/graft-mkvsingle-$clusters-$blocks-$frameMB")
    if (!dir.exists()) {
      dir.mkdirs()
      val t0 = System.nanoTime()
      (0 until 2).foreach { f =>
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(new java.io.File(dir, s"f$f.mkv")),
          1 << 20)
        out.write(MkvSource.el(0x1A45DFA3L,
          MkvSource.elS(0x4282L, "matroska")))
        // unknown-size Segment: ID + 0xFF size VINT, then stream clusters
        out.write(MkvSource.idBytes(0x18538067L)); out.write(0xff)
        out.write(MkvSource.el(0x1654AE6BL, MkvSource.el(0xAEL,
          MkvSource.elU(0xD7L, 1) ++ MkvSource.elU(0x83L, 1) ++
            MkvSource.elS(0x86L, "V_VP9") ++
            MkvSource.elU(0x23E383L, 40000000L) ++
            MkvSource.el(0xE0L,
              MkvSource.elU(0xB0L, 1920) ++ MkvSource.elU(0xBAL, 1080)))))
        (0 until clusters).foreach { i =>
          val bs = (0 until blocks).flatMap { j =>
            val frame = new Array[Byte](frameMB * (1 << 20))
            var s = (f * 1000003L + i * 8191L + j * 2654435761L) | 1L
            var k = 0
            while (k < frame.length) {
              s = s * 6364136223846793005L + 1442695040888963407L
              frame(k) = (s >>> 56).toByte; k += 1
            }
            MkvSource.el(0xA3L,
              Array((0x80 | 1).toByte, ((j * 33 >> 8) & 0xff).toByte,
                ((j * 33) & 0xff).toByte,
                (if (j == 0) 0x80 else 0x00).toByte) ++ frame)
          }
          out.write(MkvSource.el(0x1F43B675L,
            MkvSource.elU(0xE7L, i * 1000L) ++ bs.toArray))
        }
        out.close()
      }
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val files = dir.listFiles().filter(_.getName.endsWith(".mkv"))
    val fileBytes = files.map(_.length()).sum
    println(f"corpus: ${files.length} files, largest " +
      f"${files.map(_.length()).max / 1e9}%.2f GB, total ${fileBytes / 1e9}%.2f GB " +
      f"on disk; -Xmx=${Runtime.getRuntime.maxMemory() / 1e9}%.2f GB")

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
    val agg = graft.sources.MkvSource
      .mkvFiles(spark, dir.getAbsolutePath + "/*.mkv")
      .agg(sum(col("n_clusters")), sum(col("n_blocks")),
        sum(col("n_keyframes"))).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"walk: ${agg.getLong(0)} clusters, ${agg.getLong(1)} blocks, " +
      f"${agg.getLong(2)} keyframes, $secs%.1f s, " +
      f"${fileBytes / secs / 1e6}%.1f MB/s (on-disk bytes)")
    println(f"peak heap: ${peak.get() / 1e6}%.0f MB (walk is O(leaf): " +
      f"${files.length} concurrent ~${files.map(_.length()).max / 1e9}%.1f GB tasks fit)")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--single")) { runSingle(args.drop(1)); return }
    val n = args.headOption.map(_.toLong).getOrElse(600L)
    val clusters = args.drop(1).headOption.map(_.toInt).getOrElse(60)
    val blocks = args.drop(2).headOption.map(_.toInt).getOrElse(30)
    val frameKB = args.drop(3).headOption.map(_.toInt).getOrElse(4)
    val spark = graft.GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.sources.MkvSource

    def mkvBig(id: Long): Array[Byte] = {
      // same element vocabulary as the fixture writer, probe-sized
      val hdr = MkvSource.el(0x1A45DFA3L, MkvSource.elS(0x4282L, "matroska"))
      val track = MkvSource.el(0xAEL,
        MkvSource.elU(0xD7L, 1) ++ MkvSource.elU(0x83L, 1) ++
          MkvSource.elS(0x86L, "V_VP9") ++ MkvSource.elU(0x23E383L, 40000000L) ++
          MkvSource.el(0xE0L,
            MkvSource.elU(0xB0L, 1280) ++ MkvSource.elU(0xBAL, 720)))
      val cl = (0 until clusters).flatMap { i =>
        val bs = (0 until blocks).flatMap { j =>
          MkvSource.el(0xA3L,
            Array((0x80 | 1).toByte, ((j * 33 >> 8) & 0xff).toByte,
              ((j * 33) & 0xff).toByte,
              (if (j % 10 == 0) 0x80 else 0x00).toByte) ++
              Array.fill(frameKB * 1024)(((id + i + j) % 256).toByte))
        }
        MkvSource.el(0x1F43B675L,
          MkvSource.elU(0xE7L, i * 1000L) ++ bs.toArray)
      }.toArray
      hdr ++ MkvSource.el(0x18538067L,
        MkvSource.el(0x1654AE6BL, track) ++ cl)
    }

    val corpus = s"/tmp/graft-mkvscale-$n-$clusters-$blocks-$frameKB"
    if (!new java.io.File(corpus).exists()) {
      val t0 = System.nanoTime()
      spark.range(n).select(col("id").as("doc_id")).as[Long]
        .repartition(64)
        .map(id => graft.operators.Multimodal.ImageRow(id, mkvBig(id)))
        .toDF().write.mode("overwrite").parquet(corpus)
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val media = spark.read.parquet(corpus)
    val bytes = media.agg(sum(length(col("content")))).as[Long].first()
    println(f"corpus: $n files, ${bytes / 1e9}%.2f GB " +
      f"(${bytes / n / 1e6}%.1f MB/file, ${clusters * blocks} frames each)")

    def time(label: String)(df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-9s ${s}%8.1f s  ${n / s}%8.0f files/s  ${bytes / s / 1e6}%7.1f MB/s")
      s
    }
    time("meta")(MkvSource.mkvTable(spark, media))
    time("segments")(MkvSource.mkvSegments(spark, media))
    spark.stop()
  }
}
