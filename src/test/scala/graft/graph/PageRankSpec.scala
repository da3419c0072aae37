package graft.graph

import graft.{QueryScope, SparkSpec}
import graft.queries.AnalyticsQueries

/** PageRank correctness: closed-form graphs, exact equality with a
  * single-machine reference on random graphs (incl. dangling nodes),
  * the Σrank = 1 conservation law, and the query's fixture shape. */
class PageRankSpec extends SparkSpec {

  /** Driver-side reference replica of the same power iteration. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      damping: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val out = e.groupBy(_._1).map { case (s, es) => (s, es.length) }
    var ranks = nodes.map(v => (v, 1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(ranks).sum
      val base = (1.0 - damping) / n + damping * dangling / n
      val in = e.groupBy(_._2).map { case (d, es) =>
        (d, es.map { case (s, _) => ranks(s) / out(s) }.sum)
      }
      ranks = nodes.map(v => (v, base + damping * in.getOrElse(v, 0.0))).toMap
    }
    ranks
  }

  private def runPairs(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    PageRank.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
  }

  test("2-node cycle converges to the uniform fixed point exactly") {
    val ranks = runPairs(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(math.abs(ranks(1L) - 0.5) < 1e-12)
    assert(math.abs(ranks(2L) - 0.5) < 1e-12)
  }

  test("random graph with dangling nodes matches the reference; ranks sum to 1") {
    val rnd = new scala.util.Random(19)
    // node 40..49 get no out-edges → genuine dangling mass every round
    val edges = (1 to 200).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(50).toLong)
    }.filter(e => e._1 != e._2)
    val got = runPairs(edges, iters = 10)
    val want = reference(edges, iters = 10, damping = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: $r vs ${want(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("hub attracts rank: star graph center outranks every leaf") {
    val leaves = (2L to 9L)
    val edges = leaves.flatMap(l => Seq((l, 1L), (1L, l)))
    val ranks = runPairs(edges, iters = 10)
    leaves.foreach(l => assert(ranks(1L) > ranks(l)))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }

  test("runLocal equals the distributed operator (dangling + cyclic graphs)") {
    val rnd = new scala.util.Random(23)
    val edges = ((1 to 120).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(30).toLong)
    } ++ Seq((0L, 1L), (1L, 0L))).filter(e => e._1 != e._2).distinct
    val dist = runPairs(edges, iters = 10)
    val local = PageRank.runLocal(edges, iters = 10)
    assert(local.keySet == dist.keySet)
    local.foreach { case (v, r) =>
      assert(math.abs(r - dist(v)) < 1e-9, s"node $v: $r vs ${dist(v)}")
    }
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
  }

  test("superseded rounds free their checkpoints; release frees the last") {
    import spark.implicits._
    val sc = spark.sparkContext
    def checkpointed = sc.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
    QueryScope.release()
    assert(QueryScope.held == 0)
    val before = checkpointed
    // a 200-node ring plus chords: no dangling node; 10 iterations
    // checkpoint every round (10 checkpoints)
    val rnd = new scala.util.Random(29)
    val edges = (0L until 200L).map(v => (v, (v + 1) % 200)) ++
      (1 to 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val ranks = PageRank.run(edges.toDF("src", "dst"), iters = 10).collect()
    assert(ranks.length == 200)
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

  /** The dangling-free 200-node ring plus chords. */
  private def ring: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(29)
    (0L until 200L).map(v => (v, (v + 1) % 200)) ++
      (1 to 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
  }

  test("one job per iteration: the setup count, one per round, plus the consumer's collect") {
    import spark.implicits._
    // the jobs outside the loop: one that counts the nodes and the
    // dangling nodes before the first round, and the collect that
    // reads the final round's ranks
    val setupJobs = 1
    val consumerJobs = 1
    PageRank.run(ring.toDF("src", "dst"), iters = 10).collect() // warm-up
    QueryScope.release()
    var got: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { got = PageRank.run(ring.toDF("src", "dst"), iters = 10).collect() }
    assert(got.length == 200)
    assert(jobs == setupJobs + 10 + consumerJobs, s"$jobs jobs for 10 iterations")
    QueryScope.release()
  }

  test("ranks are equal within 1e-12 at 1 and 4 shuffle partitions, with AQE on and off") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // nodes 60..69 have no out-edges: the dangling mass moves every round
    val edges = (1 to 250).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(70).toLong))
      .filter(e => e._1 != e._2)
    def ranks(parts: Int, aqe: Boolean): Map[Long, Double] = {
      val out = withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        PageRank.run(edges.toDF("src", "dst"), iters = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      }
      QueryScope.release()
      out
    }
    val want = ranks(4, aqe = true)
    assert(want.keySet == (edges.map(_._1) ++ edges.map(_._2)).toSet)
    assert(want.keySet.exists(_ >= 60))
    for ((parts, aqe) <- Seq((1, true), (1, false), (4, false))) {
      val got = ranks(parts, aqe)
      assert(got.keySet == want.keySet, s"shuffle partitions $parts, AQE $aqe")
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-12,
          s"shuffle partitions $parts, AQE $aqe, node $v: $r vs ${want(v)}")
      }
    }
  }

  test("q_graph_pagerank: 20 rows, rank-ordered, sane node encoding") {
    val rows = AnalyticsQueries.graphPagerank(spark, sfDir).collect()
    assert(rows.length == 20)
    val ranks = rows.map(_.getDouble(2))
    assert(ranks.toSeq == ranks.sorted(Ordering[Double].reverse).toSeq)
    rows.foreach { r =>
      assert(Set("part", "supplier").contains(r.getString(0)))
      assert(r.getLong(1) >= 0L)
      assert(r.getDouble(2) > 0.0)
    }
  }
}
