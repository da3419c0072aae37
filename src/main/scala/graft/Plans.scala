package graft

/** Measurement tool (optimization rounds): dumps `explain("formatted")`
  * for every declared query to one file per query, so plan claims
  * (Exchange counts, join strategies, PushedFilters/ReadSchema) are
  * auditable without running Spark. Output dir = args(0) (default
  * plans/r21), suffix = args(1) (default "before"). Queries whose
  * CONSTRUCTION runs jobs (streaming demos, bloom builds) pay that
  * cost here too — the dump captures the plan of the returned frame,
  * which is what Bench ultimately counts. `SPARK_GRAFT_ONLY` filters
  * the set like Bench. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = if (args.length > 0) args(0) else "plans/r21"
    val suffix = if (args.length > 1) args(1) else "before"
    val spark = Fixtures.localSession()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plans] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
