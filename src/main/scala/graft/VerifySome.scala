package graft

/** Dev tool: Verify restricted to named queries (`runMain
  * graft.VerifySome <outDir> <sfDir> q67_ivf_assign …`) — writes the
  * same parquet + oracle_sql.json layout scripts/compare.py consumes,
  * for a fast single-query correctness loop while iterating.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.drop(2).toSet
    val qs = SparkEntry.allQueries.filter(q => names(q.name))
    qs.foreach { q =>
      q.run(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oj = qs
      .flatMap(q => q.oracle.map(o =>
        "\"" + q.name + "\": " + mapper.writeValueAsString(o)))
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), oj.getBytes)
    spark.stop()
  }
}
