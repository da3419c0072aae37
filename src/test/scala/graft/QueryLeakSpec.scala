package graft

/** No query keeps storage past [[QueryScope.release]]: whatever a query
  * caches or checkpoints for its result is registered with the scope,
  * and an iterative loop frees each round it supersedes. */
class QueryLeakSpec extends SparkSpec {

  test("q_graph_bfs frees superseded rounds; release frees the last") {
    val sc = spark.sparkContext
    def checkpointed = sc.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
    QueryScope.release()
    assert(QueryScope.held == 0)
    val before = checkpointed
    // 10 hops, one checkpoint per hop (visited)
    assert(queries.AnalyticsQueries.graphBfs(spark, sfDir).count() > 0)
    val grown = checkpointed -- before
    assert(grown.size <= 1, s"checkpoint block sets left pinned: $grown")
    // the sweep above is a lower bound (getPersistentRDDs holds its RDDs
    // weakly); the scope's own count is exact: the last round's blocks
    assert(QueryScope.held == 1, s"scope holds ${QueryScope.held}")
    QueryScope.release()
    assert(QueryScope.held == 0)
    val left = checkpointed -- before
    assert(left.isEmpty, s"retained checkpoints not freed: $left")
  }

  test("every query leaves no persisted RDD behind after QueryScope.release") {
    val sc = spark.sparkContext
    QueryScope.release()
    // storage an earlier suite in this JVM kept for itself is not a
    // query's to free
    val before = sc.getPersistentRDDs.keySet
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sfDir).count()
      QueryScope.release()
      val left = sc.getPersistentRDDs.keySet -- before
      if (left.nonEmpty) { // clean up so the next query starts clean
        spark.catalog.clearCache()
        left.flatMap(sc.getPersistentRDDs.get).foreach(_.unpersist(blocking = true))
      }
      if (left.isEmpty) None else Some(s"$name: ${left.size} RDDs")
    }
    assert(leaks.isEmpty, leaks.mkString("leaked past release: ", "; ", ""))
  }
}
