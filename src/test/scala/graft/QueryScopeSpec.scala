package graft

/** The one owner of query-pinned storage: a memo lives until
  * [[QueryScope.release]], and freeing one checkpoint early frees
  * exactly its own blocks. */
class QueryScopeSpec extends SparkSpec {

  test("memo returns the same frame for a key until release, then rebuilds it") {
    val s = spark
    import s.implicits._
    QueryScope.release()
    var builds = 0
    def get() = QueryScope.memo(("QueryScopeSpec", "memo")) {
      builds += 1
      QueryScope.cache((1L to 50L).toDF("x"))
    }
    val first = get()
    assert(first.count() == 50)
    assert(get() eq first)
    assert(builds == 1)
    assert(first.storageLevel.useMemory, "memoized frame not cached")
    QueryScope.release()
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release left the memoized frame cached")
    val second = get()
    assert(!(second eq first))
    assert(builds == 2)
    assert(second.count() == 50)
    QueryScope.release()
  }

  test("an early checkpoint free unpersists only that checkpoint, never a cache the same job materialized") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    QueryScope.release()
    val before = sc.getPersistentRDDs.keySet
    // the checkpoint job is the first action over `cached`, so it
    // materializes the cache's blocks too
    val cached = QueryScope.cache((1L to 200L).toDF("x").filter($"x" % 3 =!= 0))
    val (cp, handle) = QueryScope.checkpoint(cached.select(($"x" * 2).as("y")))
    val grown = sc.getPersistentRDDs -- before
    val (cpRdds, cacheRdds) = grown.values.partition(_.isCheckpointed)
    assert(cpRdds.size == 1, s"checkpoint blocks: $grown")
    assert(cacheRdds.size == 1, s"cache blocks: $grown")
    assert(cp.count() == 134)
    handle.free()
    val left = sc.getPersistentRDDs -- before
    assert(left.keySet == cacheRdds.map(_.id).toSet,
      s"early free touched more than its checkpoint: $left")
    assert(cached.storageLevel.useMemory)
    assert(cached.count() == 134)
    QueryScope.release()
    assert((sc.getPersistentRDDs -- before).isEmpty)
  }

  test("an RDD checkpoint keeps its partitioner, so a co-partitioned join stays narrow") {
    val sc = spark.sparkContext
    QueryScope.release()
    val part = new org.apache.spark.HashPartitioner(4)
    val rdd = sc.parallelize(1L to 100L).map(x => (x, x)).partitionBy(part)
    val handle = QueryScope.checkpoint(rdd)
    assert(QueryScope.held == 1)
    assert(rdd.count() == 100)
    assert(rdd.isCheckpointed && rdd.partitioner.contains(part))
    // the lineage is truncated, so any shuffle left would be the join's
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => 1
      case d => shuffles(d.rdd)
    }.sum
    val joined = rdd.join(rdd.mapValues(_ + 1), part)
    assert(shuffles(joined) == 0, joined.toDebugString)
    assert(joined.values.map { case (a, b) => b - a }.sum() == 100.0)
    handle.free()
    assert(QueryScope.held == 0)
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
