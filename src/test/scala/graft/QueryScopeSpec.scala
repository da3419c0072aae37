package graft

/** The one owner of query-pinned storage: a memo lives until
  * [[QueryScope.release]], and freeing one checkpoint early frees
  * exactly its own blocks, even while another thread's loop runs. */
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
    val doubled = cached.as[Long].rdd.map(_ * 2)
    val handle = QueryScope.checkpoint(doubled)
    assert(doubled.count() == 134)
    val grown = sc.getPersistentRDDs -- before
    val (cpRdds, cacheRdds) = grown.values.partition(_.isCheckpointed)
    assert(cpRdds.map(_.id).toSeq == Seq(doubled.id), s"checkpoint blocks: $grown")
    assert(cacheRdds.size == 1, s"cache blocks: $grown")
    handle.free()
    val left = sc.getPersistentRDDs -- before
    assert(left.keySet == cacheRdds.map(_.id).toSet,
      s"early free touched more than its checkpoint: $left")
    assert(cached.storageLevel.useMemory)
    assert(cached.count() == 134)
    QueryScope.release()
    assert((sc.getPersistentRDDs -- before).isEmpty)
  }

  test("two threads' loops on one session each free only their own checkpoints") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val s = spark
    import s.implicits._
    QueryScope.release()
    // a 40-node chain (six rounds) and a random graph on other ids
    val chain = (0L until 40L).sliding(2).map(p => (p(0), p(1))).toSeq
    val rnd = new scala.util.Random(37)
    val random = (1 to 150).map(_ =>
      (100L + rnd.nextInt(80), 100L + rnd.nextInt(80))).filter(e => e._1 != e._2)
    val graphs = Seq(chain, random).map(_.toDF("src", "dst"))
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val serial = graphs.map { g =>
      val l = labels(graph.ConnectedComponents.run(g))
      QueryScope.release()
      l
    }
    assert(QueryScope.held == 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new java.util.concurrent.CyclicBarrier(2)
      val runs = graphs.map(g => Future { start.await(); graph.ConnectedComponents.run(g) })
      val results = runs.map(Await.result(_, 5.minutes))
      // both loops are done: every free() either ran has happened, and
      // each result still reads its own final checkpoint's blocks
      assert(QueryScope.held == 2, s"scope holds ${QueryScope.held}")
      assert(results.map(labels) == serial)
      QueryScope.release()
      assert(QueryScope.held == 0)
    } finally pool.shutdown()
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
