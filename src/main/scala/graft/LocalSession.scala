package graft

import org.apache.spark.sql.SparkSession

/** The session the dev mains run on: `GraftExtensions`, `local[cpus]`
  * with as many shuffle partitions, UTC, no UI. Adaptive execution is
  * on by Spark's default. The extension also sizes the generated-class
  * cache and keeps stage ids out of class names (see
  * [[graft.functions.GraftExtensions]]); the cache size holds only if
  * no query ran in the JVM before this session, as in every dev main.
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
