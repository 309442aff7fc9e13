package graft.perfbench

import graft.operators.{PartitionConfig, PrePartition}
import graft.sources.Readers
import graft.streaming.{NotifyQueue, StreamingPrePartition}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.io.File
import java.nio.file.Files
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One workload: seeded inputs, a pass of timed calls into the program,
  * and independent checks of what the program produced.
  */
trait Workload {
  /** Fresh inputs under `dir`, then untimed warm-up calls. */
  def setup(dir: File, h: Harness): Unit
  def pass(h: Harness): Unit
  /** Output checks after the timed loop; failures from per-call checks
    * are collected in `problems` as the passes run.
    */
  def verify(): Unit = ()
  val problems = ArrayBuffer[String]()
  /** Input megabytes one pass processes (the throughput numerator). */
  def passInputMb: Double
  def inputs: Map[String, Any]
  def digests: Map[String, String]
  /** Workload-specific per-layer figures from the traced passes. */
  def layerMetrics(h: Harness): Map[String, Double]
  def close(): Unit = ()

  protected def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

object Workloads {
  val names = Seq("prepartition_batch", "prepartition_stream")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "prepartition_batch" => new PrePartitionBatch(spark, seed)
    case "prepartition_stream" => new PrePartitionStream(spark, seed)
  }

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Reference.median(xs)

  /** Median over traced passes of the summed seconds of the named calls. */
  def tracedCallSeconds(h: Harness, call: String): Double =
    medianOf(h.tracedPasses.map(p => h.callsIn(p).filter(_.call == call).map(_.seconds).sum))

  def sha256Files(files: Seq[File]): String = {
    val d = new Inputs.Digest
    files.sortBy(_.getName).foreach(f => d.add(Files.readAllBytes(f.toPath)))
    d.hex
  }

  /** Order-independent hash of a multiset of lines: the exact sum of
    * their xxhash64 values.
    */
  val hashSum = sum(xxhash64(col("value")).cast("decimal(38,0)"))

  def multiset(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), hashSum).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** True where a line of partitioned output (`pid=` directories) sits
    * under another id than the benchmark's own xor-fold of its field.
    */
  def pidMismatch(cfg: PartitionConfig) = {
    val expected = udf { (v: String) =>
      Reference.csvField(v.getBytes("UTF-8"), cfg.columnIndex)
        .map(f => Reference.xorFold(f, cfg.seed, cfg.maxPartitionCount)).getOrElse(-1)
    }
    expected(col("value")) =!= col("pid").cast("int")
  }
}

import Workloads._

// ============================================================ batch

/** `PrePartition.run` over seeded headerless CSV (FIXTURES.md §1),
  * partitioned on column 3 (`Node`) into 32 partitions.
  */
final class PrePartitionBatch(spark: SparkSession, seed: Long) extends Workload {
  val files = 20
  val rowsPerFile = 12000
  /** Untimed runs before the first timed one: pass times still fall for
    * about the first ten runs, as the JIT settles.
    */
  val WarmUps = 12
  val cfg = PartitionConfig(3, 32, 17)
  private var dir: File = _
  private var bytes = 0L
  private def landing = new File(dir, "landing")
  private def staging = new File(dir, "staging")
  private def glob = s"${landing.getPath}/*.csv"

  def setup(d: File, h: Harness): Unit = {
    dir = d
    landing.mkdirs()
    bytes = java.util.stream.IntStream.range(0, files).parallel().mapToLong { f =>
      val b = Inputs.logLines(Inputs.rng(seed, 1, f), f.toLong * rowsPerFile + 1, rowsPerFile)
      Files.write(new File(landing, f"part-$f%03d.csv").toPath, b)
      b.length.toLong
    }.sum()
    for (_ <- 1 to WarmUps) PrePartition.run(spark, glob, staging.getPath, cfg)
  }

  def pass(h: Harness): Unit = {
    if (h.traceRun) {
      // layer probes, in every pass of a traced run so that traced and
      // untraced passes differ only in tracing: the scan alone, then the
      // scan plus the pid expressions
      h.call("sources.Readers.textLines", "sources", probe = true) {
        Readers.textLines(spark, glob).write.format("noop").mode("overwrite").save()
      }
      h.call("functions.withPartitionId", "functions", probe = true) {
        PrePartition.withPartitionId(Readers.textLines(spark, glob), cfg)
          .write.format("noop").mode("overwrite").save()
      }
    }
    h.call("operators.PrePartition.run", "operators") {
      PrePartition.run(spark, glob, staging.getPath, cfg)
    }
  }

  override def verify(): Unit = {
    val (nIn, hIn) = multiset(spark.read.text(glob))
    check(nIn == files.toLong * rowsPerFile, s"input has $nIn rows, generated ${files * rowsPerFile}")
    val out = spark.read.text(staging.getPath)
    val f = split(col("value"), ",")
    val r = out.agg(count(lit(1)), hashSum, sum(when(pidMismatch(cfg), 1).otherwise(0)),
      countDistinct(f.getItem(0)), countDistinct(f.getItem(1)), countDistinct(f.getItem(2))).head()
    val nOut = r.getLong(0)
    check(nOut == nIn && BigDecimal(r.getDecimal(1)) == hIn,
      s"output multiset differs from input: $nOut rows vs $nIn")
    check(r.getLong(2) == 0, s"${r.getLong(2)} output lines sit in a pid= directory other than their xor-fold")
    check(nOut == r.getLong(3) && nOut == r.getLong(4),
      s"RowCount $nOut, distinct Id ${r.getLong(3)}, distinct Timestamp ${r.getLong(4)}")
    check(r.getLong(5) == 3, s"${r.getLong(5)} distinct Levels, expected 3")
  }

  def passInputMb: Double = bytes / 1e6
  def inputs: Map[String, Any] = ListMap("files" -> files, "rows" -> files * rowsPerFile,
    "bytes" -> bytes, "partition" -> ListMap("column" -> 3, "partitions" -> 32, "seed" -> 17))
  def digests: Map[String, String] = Map("landing_csv" -> sha256Files(landing.listFiles().toSeq))

  def layerMetrics(h: Harness): Map[String, Double] = {
    val scan = tracedCallSeconds(h, "sources.Readers.textLines")
    val pid = tracedCallSeconds(h, "functions.withPartitionId")
    val run = tracedCallSeconds(h, "operators.PrePartition.run")
    Map("sources.scan_s" -> scan, "sources.scan_mb_s" -> passInputMb / scan,
      "functions.pid_self_s" -> (pid - scan),
      "operators.prepartition_write_self_s" -> (run - pid))
  }
}

// =========================================================== stream

/** The event-driven path: one client lands a blob, publishes it
  * (`NotifyQueue.publish`), waits until the micro-batch of
  * `StreamingPrePartition.startNotified` that holds it commits, then
  * lands the next. A pass is one blob.
  */
final class PrePartitionStream(spark: SparkSession, seed: Long) extends Workload {
  val rowsPerBlob = 5800
  /** Blobs landed and committed in set-up, before the first timed one:
    * commit latency still falls over about the first eight blobs.
    */
  val WarmUps = 8
  val cfg = PartitionConfig(3, 32, 17)
  private val commitTimeoutS = 60L
  private var dir: File = _
  private var query: StreamingQuery = _
  private var nextBlob = 0
  private var blobBytes = 0L
  private val landed = new Inputs.Digest

  private def sub(n: String) = new File(dir, n).getPath

  /** The next blob, written to the landing directory (not timed). */
  private def landBlob(): File = {
    val b = Inputs.logLines(Inputs.rng(seed, 2, nextBlob), nextBlob.toLong * rowsPerBlob + 1, rowsPerBlob)
    val f = new File(sub("landing"), f"blob-$nextBlob%05d.csv")
    Files.write(f.toPath, b)
    nextBlob += 1
    blobBytes = b.length
    landed.add(b)
    f
  }

  /** Publish one landed blob and block until its batch commits. */
  private def publishAndWait(h: Harness, f: File): Unit = {
    h.streams.committed.clear()
    NotifyQueue.publish(spark, sub("queue"), Seq(f.getPath))
    val ev = h.streams.committed.poll(commitTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
    if (ev == null) {
      Option(query.exception.orNull).foreach(e => throw e)
      throw new java.util.concurrent.TimeoutException(s"no commit within $commitTimeoutS s")
    }
    if (ev.rows != rowsPerBlob)
      throw new IllegalStateException(s"batch ${ev.batchId} committed ${ev.rows} rows, landed $rowsPerBlob")
  }

  def setup(d: File, h: Harness): Unit = {
    dir = d
    new File(sub("landing")).mkdirs()
    spark.streams.addListener(h.streams)
    // a streaming query plans its batches in a clone of the session, which
    // copies the query listeners present at start: in a traced run the plan
    // listener rides along (its figures are read for traced passes only)
    if (h.traceRun) spark.listenerManager.register(h.plans)
    query = StreamingPrePartition.startNotified(spark, sub("queue"), sub("staging"),
      sub("checkpoint"), cfg, Trigger.ProcessingTime(0L), maxFilesPerTrigger = 1)
    if (h.traceRun) spark.listenerManager.unregister(h.plans)
    for (_ <- 1 to WarmUps) publishAndWait(h, landBlob())
  }

  def pass(h: Harness): Unit = {
    val f = landBlob()
    h.call("streaming.blob_commit", "streaming")(publishAndWait(h, f))
  }

  override def verify(): Unit = {
    query.stop()
    val landedDf = spark.read.text(sub("landing"))
    val committed = spark.read.text(sub("staging") + "/data")
    val (nIn, hIn) = multiset(landedDf)
    val (nOut, hOut) = multiset(committed.select("value"))
    check(nIn == nextBlob.toLong * rowsPerBlob, s"landed $nIn rows, generated ${nextBlob * rowsPerBlob}")
    check(nOut == nIn && hOut == hIn,
      s"committed batches hold $nOut rows; the landed blobs hold $nIn (or their lines differ)")
    val bad = committed.filter(pidMismatch(cfg)).count()
    check(bad == 0, s"$bad committed lines sit in a pid= directory other than their xor-fold")
  }

  override def close(): Unit = if (query != null) query.stop()

  def passInputMb: Double = blobBytes / 1e6
  def inputs: Map[String, Any] = ListMap("rows_per_blob" -> rowsPerBlob, "blob_bytes" -> blobBytes,
    "blobs_landed" -> nextBlob, "blobs_per_pass" -> 1, "trigger" -> "ProcessingTime(0)",
    "max_files_per_trigger" -> 1, "client" -> "closed loop, one client",
    "partition" -> ListMap("column" -> 3, "partitions" -> 32, "seed" -> 17))
  def digests: Map[String, String] = Map("landed_blobs" -> landed.hex)

  def layerMetrics(h: Harness): Map[String, Double] = {
    val batches = h.streams.progress.toSeq.filter(b => b.rows > 0 &&
      h.tracedPasses.exists(p => h.clock.msToUs(b.startMs) >= p.startUs - 1e3 &&
        h.clock.msToUs(b.startMs) <= p.endUs))
    def ms(b: ProgressEv, k: String) = b.durationMs.getOrElse(k, 0L).toDouble / 1e3
    Map("streaming.add_batch_s" -> medianOf(batches.map(ms(_, "addBatch"))),
      "streaming.trigger_overhead_s" ->
        medianOf(batches.map(b => ms(b, "triggerExecution") - ms(b, "addBatch"))),
      "streaming.source_s" -> medianOf(batches.map(b => ms(b, "latestOffset") + ms(b, "getBatch"))))
  }
}
