package graft.tools

/** Dev probe (r21): PAIRED A/B of runtime SQL confs on this box's noisy
  * co-tenancy. For each query, alternates arm A and arm B in one JVM
  * (A B A B A B), so both arms sample the same contention weather;
  * reports per-arm medians and the pairwise ratio. Arms are `k=v`
  * lists separated by `--`:
  *   runMain graft.tools.AbProf k1=v1,k2=v2 -- q1 q2 ...
  * Arm A is the session default (no overrides); arm B applies the
  * given conf pairs before each B run and reverts after.
  */
object AbProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sep = args.indexOf("--")
    require(sep > 0, "usage: AbProf k=v[,k=v...] -- query...")
    val confs = args(0).split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(sep + 1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession(cpus)
    // custom (spark.graft.*) keys have no registered default — treat
    // "absent" as the default and revert by unsetting
    val defaults = confs.map { case (k, _) =>
      k -> spark.conf.getOption(k)
    }
    def revert(): Unit = defaults.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    def drain(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      org.apache.spark.sql.graft.Shims.drainBroadcasts(spark.sparkContext)
      ()
    }
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      dt
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    var sumA = 0.0; var sumB = 0.0
    names.foreach { name =>
      timeOne(name) // warm (arm A confs)
      val as = scala.collection.mutable.ArrayBuffer[Double]()
      val bs = scala.collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to 3) {
        revert()
        as += timeOne(name)
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        bs += timeOne(name)
      }
      revert()
      val (ma, mb) = (med(as.toSeq), med(bs.toSeq))
      sumA += ma; sumB += mb
      println(f"[ab] $name%-30s A=$ma%7.3f B=$mb%7.3f B/A=${mb / ma}%5.2f")
    }
    println(f"[ab] TOTAL A=$sumA%8.3f B=$sumB%8.3f B/A=${sumB / sumA}%5.2f")
    spark.stop()
  }
}
