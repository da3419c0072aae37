package graft

import graft.graph.ConnectedComponents

/** Connected-components label propagation: planted components of
  * different shapes (chain, star, triangle+tail, singleton pair) all
  * converge to their min-id label, in the distributed loop that
  * q_dedup_clusters runs and in the driver-local union-find. */
class ClusterSpec extends SparkSpec {

  test("min-label propagation finds planted components exactly") {
    val s = spark
    import s.implicits._
    // components: chain 1-2-3-4-5 (diameter 4), star 10-{11,12,13},
    // triangle 20-21-22 with tail 23, pair 30-31
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L),
      (30L, 31L))
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L)
    val got = ConnectedComponents.run(pairs.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got")
    val local = ConnectedComponents.runLocal(pairs)
    assert(local == want, s"runLocal got $local")
    QueryScope.release()
  }

  test("cluster loop keeps O(1) checkpoint blocks and rebuilds after cache eviction") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.count(_._2.isCheckpointed)
    val rows = graft.queries.DedupQueries.dedupClusters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per-round blocks must be unpersisted as rounds supersede them:
    // only the FINAL round's labels may remain (pre-fix: one block set
    // leaked per iteration plus pairs/edges)
    val after = sc.getPersistentRDDs.count(_._2.isCheckpointed)
    assert(after - before <= 1, s"leaked checkpoint block sets: $before -> $after")

    // release drops the memoized shingle frames and the next call
    // rebuilds them from scratch
    QueryScope.release()
    assert(graft.queries.PipelineQueries.keptShingles(spark, sfDir).count() > 0)

    // release frees the retained final-round blocks of every call made
    // so far (results consumed above)
    QueryScope.release()
    val released = sc.getPersistentRDDs.count(_._2.isCheckpointed)
    assert(released == 0, s"retained cluster checkpoints not freed: $released")
  }

  test("q_dedup_clusters labels are min-reachable and cover exactly paired docs") {
    val out = graft.queries.DedupQueries.dedupClusters(spark, sfDir).collect()
    val pairDocs = graft.queries.PipelineQueries.dedupNgram(spark, sfDir)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(out.map(_.getLong(0)).toSet == pairDocs)
    out.foreach(r => assert(r.getLong(1) <= r.getLong(0), "cluster label must be a min id"))
  }
}
