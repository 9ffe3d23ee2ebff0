package graft

import org.apache.spark.sql.SparkSession

/** The session the dev mains run on: `GraftExtensions`, `local[cpus]`
  * with as many shuffle partitions, UTC, no UI. Adaptive execution is
  * on by Spark's default.
  */
private[graft] object LocalSession {
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
