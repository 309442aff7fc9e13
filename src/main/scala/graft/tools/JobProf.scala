package graft.tools

import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe (r21 measure-first): per-query Spark-machinery accounting.
  * For each named query, runs it once warm and reports wall time next to
  * the listener-observed job/stage/task counts, summed task run time,
  * GC time, and the scheduling gap (wall − Σtask/cores) — separating
  * "the kernel is slow" from "the harness launches 1500 tiny tasks".
  * `runMain graft.tools.JobProf <query ...>`
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession(cpus)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val deserMs = new AtomicLong
    val shuffleFetchMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          deserMs.addAndGet(m.executorDeserializeTime)
          if (m.shuffleReadMetrics != null)
            shuffleFetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        }
        ()
      }
    })

    def runOne(name: String): Unit = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); gcMs.set(0); deserMs.set(0); shuffleFetchMs.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; let it drain before reading counters
      Thread.sleep(300)
      val tms = taskMs.get / 1000.0
      println(f"[jobprof] $name%-28s wall=$wall%7.2fs jobs=${jobs.get}%4d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%6d " +
        f"taskSum=$tms%8.2fs taskSum/cores=${tms / cpus}%6.2fs " +
        f"gc=${gcMs.get / 1000.0}%5.2fs deser=${deserMs.get / 1000.0}%6.2fs " +
        f"fetchWait=${shuffleFetchMs.get / 1000.0}%5.2fs")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    args.foreach(runOne)
    spark.stop()
  }
}
