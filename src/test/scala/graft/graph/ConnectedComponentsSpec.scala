package graft.graph

import graft.{QueryScope, SparkSpec}
import graft.queries.{AnalyticsQueries, DedupQueries}

/** Generic connected-components laws + the entity-resolution
  * composition pinned against brute force. */
class ConnectedComponentsSpec extends SparkSpec {

  /** Driver reference: union-find over the edge list. */
  private def ccRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => (k, find(k))).toMap
  }

  test("random graph: labels equal union-find, label = component min") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val got = ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = ccRef(edges)
    assert(got == want)
    // the label IS the min node of the component
    got.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min)
    }
  }

  test("runLocal equals the distributed operator (random + chain graphs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val dist = ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ConnectedComponents.runLocal(edges) == dist)
    assert(ConnectedComponents.runLocal(edges) == ccRef(edges))
    val chain = (10L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(ConnectedComponents.runLocal(chain) ==
      ConnectedComponents.run(chain.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("chain component converges (pointer jumping shortcuts the diameter)") {
    import spark.implicits._
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = ConnectedComponents.run(chain.toDF("src", "dst")).collect()
    assert(got.length == 40)
    assert(got.forall(_.getLong(1) == 0L), "one component labeled by node 0")
  }

  test("superseded rounds free their checkpoints; release frees the last") {
    import spark.implicits._
    val sc = spark.sparkContext
    def checkpointed = sc.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
    QueryScope.release()
    assert(QueryScope.held == 0)
    val before = checkpointed
    // a 40-node chain takes 6 rounds (5 that move a label, 1 that
    // confirms), each with its own label checkpoint
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = ConnectedComponents.run(chain.toDF("src", "dst")).collect()
    assert(got.forall(_.getLong(1) == 0L))
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

  /** Rounds the loop runs on `edges`: min-label adoption plus one
    * pointer jump per round, until a round changes no label (that last
    * round counts). */
  private def rounds(edges: Seq[(Long, Long)]): Int = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var labels = nbrs.keys.map(v => v -> v).toMap
    var r = 0
    var changed = true
    while (changed) {
      val adopted = labels.map { case (v, c) => v -> math.min(c, nbrs(v).map(labels).min) }
      val next = adopted.map { case (v, c) => v -> math.min(c, adopted(c)) }
      changed = next != labels
      labels = next
      r += 1
    }
    r
  }

  test("one job per round: a chain taking r rounds runs r jobs, plus the consumer's collect") {
    import spark.implicits._
    // the one job outside the loop: the collect that reads the final
    // round's labels (building the edges and the initial labels, and
    // the returned frame, run nothing)
    val consumerJobs = 1
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val r = rounds(chain)
    assert(r == 6)
    ConnectedComponents.run(chain.toDF("src", "dst")).collect() // warm-up
    QueryScope.release()
    var got: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { got = ConnectedComponents.run(chain.toDF("src", "dst")).collect() }
    assert(got.length == 40 && got.forall(_.getLong(1) == 0L))
    assert(jobs == r + consumerJobs, s"$jobs jobs for $r rounds")
    QueryScope.release()
  }

  test("labels are identical at 1 and 4 shuffle partitions, with AQE on and off") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (1 to 150).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    def labels(parts: Int, aqe: Boolean): (Map[Long, Long], Seq[(Long, Long)]) = {
      QueryScope.release() // rebuild the memoized shingles under these confs
      val out = withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        (ConnectedComponents.run(edges.toDF("src", "dst"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap,
          DedupQueries.dedupClusters(spark, sfDir)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }
      QueryScope.release()
      out
    }
    val want = labels(4, aqe = true)
    assert(want._1 == ccRef(edges))
    assert(want._2.nonEmpty)
    for ((parts, aqe) <- Seq((1, true), (1, false), (4, false)))
      assert(labels(parts, aqe) == want, s"shuffle partitions $parts, AQE $aqe")
  }

  test("q_entity_resolve equals brute-force components of brute-force pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val vocab = graft.Fixtures.documents(spark, sfDir)
      .select(explode(expr(
        "filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)"))
        .as("term")).distinct().as[String].collect().sorted
    val ids = vocab.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }.toMap
    val pairEdges = for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 2
    } yield (ids(a), ids(b))
    val comp = ccRef(pairEdges)
    val wantGroups = vocab
      .map(t => (comp.getOrElse(ids(t), ids(t)), t))
      .groupBy(_._1).values
      .map(_.map(_._2).sorted)
      .filter(_.length > 1)
      .map(g => (g.head, g.length.toLong, g.mkString(",")))
      .toSet
    val got = AnalyticsQueries.entityResolve(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == wantGroups, s"got=$got\nwant=$wantGroups")
    assert(got.nonEmpty, "the fixture vocabulary has lev<=2 variant groups")
  }
}
