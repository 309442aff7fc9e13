package graft.tools

import org.apache.spark.sql.functions._

/** Pressure-bound probe for the streaming Avro OCF walk (the WarcScale
  * `--single` discipline): the r16 verdict flagged `avroRows` as one of
  * the last two `pds.toArray()` whole-file readers — multi-GB Avro
  * shards × 32 concurrent tasks is an OOM at the 100 TB lake shape.
  * This probe synthesizes TWO >1 GB `.avro` containers with the
  * OFFICIAL writer (null codec, LCG-hex payloads, so the on-disk size
  * is real and the bytes are a third-party producer's), then runs
  * `avroRows` over both concurrently under whatever -Xmx the caller
  * set:
  *   java -Xmx1g -cp "target/scala-2.13/classes:<spark jars>"
  *     <add-opens flags> graft.tools.AvroScale
  * completing is the proof that the walk is O(largest block), not
  * O(file); a heap sampler reports the true peak.
  */
object AvroScale {
  def main(args: Array[String]): Unit = {
    val records = args.headOption.map(_.toInt).getOrElse(150)
    val nameMB = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val dir = new java.io.File(s"/tmp/graft-avrosingle-$records-$nameMB")
    if (!dir.exists()) {
      dir.mkdirs()
      val t0 = System.nanoTime()
      val schema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"doc","fields":[
          |{"name":"id","type":"long"},{"name":"name","type":"string"}]}"""
          .stripMargin)
      (0 until 2).foreach { f =>
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.create(schema, new java.io.File(dir, s"f$f.avro"))
        (0 until records).foreach { j =>
          val sb = new java.lang.StringBuilder(nameMB * (1 << 20) + 16)
          var s = (f * 1000003L + j * 2654435761L) | 1L
          while (sb.length < nameMB * (1 << 20)) {
            s = s * 6364136223846793005L + 1442695040888963407L
            sb.append(java.lang.Long.toHexString(s >>> 32))
          }
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("id", f * 1000000L + j)
          rec.put("name", sb.toString)
          w.append(rec)
          w.sync() // block per record: block size == the O() bound probed
        }
        w.close()
      }
      println(f"synthesize: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val files = dir.listFiles().filter(_.getName.endsWith(".avro"))
    val fileBytes = files.map(_.length()).sum
    println(f"corpus: ${files.length} containers, largest " +
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
    val agg = graft.sources.AvroContainer
      .avroRows(spark, dir.getAbsolutePath + "/*.avro")
      .agg(sum(col("n_rows")), sum(col("name_chars"))).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"decode: ${agg.getLong(0)} rows, ${agg.getLong(1) / 1e9}%.2f G name " +
      f"chars, $secs%.1f s, ${fileBytes / secs / 1e6}%.1f MB/s (on-disk bytes)")
    println(f"peak heap: ${peak.get() / 1e6}%.0f MB (walk is O(block): " +
      f"${files.length} concurrent ~${files.map(_.length()).max / 1e9}%.1f GB tasks fit)")
    spark.stop()
  }
}
