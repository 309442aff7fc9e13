package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: `local[cpus]` with
  * shuffle partitions = cpus, UTC session time zone, AQE on, no UI, WARN
  * logging, and every graft function and planner hook installed
  * (`GraftExtensions.install`). `configure` runs last on the builder, so
  * a caller can override the master or add confs of its own.
  */
object GraftSession {
  def apply(cpus: Int,
            configure: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(s)
    s
  }
}
