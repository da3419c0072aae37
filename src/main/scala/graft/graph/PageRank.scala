package graft.graph

import graft.QueryScope
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Distributed PageRank by power iteration — the link-quality signal
  * web-scale curation pipelines rank crawl domains with (Common
  * Crawl's domain ranking, OPIC-style crawl prioritization; Page et
  * al. 1998, public).
  *
  * An RDD loop over ONE hash partitioner, shaped like
  * [[ConnectedComponents.run]]: every node's distinct out-neighbours
  * are grouped by node and cached once, and every round's ranks leave
  * the round partitioned the same way, so the rank join onto the
  * adjacency and the join of the summed contributions back onto the
  * ranks are narrow. A round is one job: the contributions
  * `reduceByKey` is its one exchange, and the sum of the dangling mass
  * (the rank on nodes with no out-edges, redistributed uniformly next
  * round — one double to the driver, never node-scale) is its only
  * action. Each round's ranks are local-checkpointed — an RDD
  * checkpoint keeps its partitioner — and freed as soon as the next
  * round supersedes them.
  *
  * Iteration count is fixed (power iteration converges geometrically
  * at rate `damping`; 10 rounds ≈ 0.85¹⁰ ≈ 20% residual on the slowest
  * mode, plenty for ranking). Exactness vs a single-machine reference
  * and the Σrank = 1 invariant are pinned in PageRankSpec. */
object PageRank {

  /** Ranks after `iters` power iterations over directed `edges(src,
    * dst)`. Returns (node, rank) for every node appearing as a src or
    * dst; ranks sum to 1. `edges` is read exactly once. The loop's
    * partitioner has `parts` partitions, by default the shuffle width
    * of `edges`' session. The returned frame reads the final round's
    * checkpoint blocks, which stay pinned until [[QueryScope.release]]. */
  def run(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
      parts: Option[Int] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(
      parts.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // every node keyed once with its distinct out-neighbours, in the
    // partition its id hashes to; a node that is only ever a dst keys
    // an empty array (dangling). Each input partition groups its own
    // edges into primitive arrays first, so the one setup shuffle moves
    // (Long, Array[Long]) records, which Spark serializes with Kryo,
    // rather than one boxed record per edge
    val adj: RDD[(Long, Array[Long])] = edges
      .select($"src".cast("long"), $"dst".cast("long")).as[(Long, Long)].rdd
      .mapPartitions { it =>
        val out = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
        it.foreach { case (s, d) =>
          out.getOrElseUpdate(s, new mutable.ArrayBuilder.ofLong) += d
          out.getOrElseUpdate(d, new mutable.ArrayBuilder.ofLong)
        }
        out.iterator.map { case (v, ds) => (v, ds.result()) }
      }
      .reduceByKey(part, _ ++ _)
      .mapValues(_.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the one job before the loop: node count and dangling count
    val (nodes, danglingNodes) = adj.values
      .map(ds => (1L, if (ds.isEmpty) 1L else 0L))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    require(nodes > 0, "pagerank needs a non-empty graph")
    val n = nodes.toDouble
    // (node, (out-degree, rank)): the degree rides along so the round's
    // action finds the dangling nodes without another join
    var ranks: RDD[(Long, (Int, Double))] = adj.mapValues(ds => (ds.length, 1.0 / n))
    var dangling = danglingNodes / n
    var prev: QueryScope.Checkpoint = null
    for (_ <- 1 to iters) {
      val base = (1.0 - damping) / n + damping * dangling / n
      // each partition sums its edges' contributions per destination
      // in a primitive-keyed map before the round's one exchange
      val sums = adj.join(ranks, part).values
        .mapPartitions { it =>
          val acc = mutable.LongMap.empty[Double]
          it.foreach { case (ds, (_, r)) =>
            val m = r / ds.length
            ds.foreach(d => acc(d) = acc.getOrElse(d, 0.0) + m)
          }
          acc.iterator
        }
        .reduceByKey(part, _ + _)
      // a node no edge points at gets no sum and keeps the base alone
      val next = ranks.leftOuterJoin(sums, part)
        .mapValues { case ((deg, _), s) => (deg, base + damping * s.getOrElse(0.0)) }
      val cp = QueryScope.checkpoint(next)
      dangling = next.values.map { case (deg, r) => if (deg == 0) r else 0.0 }.sum()
      // next is materialized: nothing reads the previous round's blocks
      if (prev != null) prev.free()
      prev = cp
      ranks = next
    }
    adj.unpersist(blocking = false)
    ranks.mapValues(_._2).toDF("node", "rank")
  }

  /** Driver-local power method for METADATA-SCALE graphs — the
    * domains/hosts case (a link graph aggregated to host level is
    * domains²-bounded, thousands of nodes at web scale, ≪ executor
    * task overhead). Identical math to [[run]]: same initialization,
    * damping, dangling redistribution, and iteration count — pinned
    * equal to the distributed operator at 1e-9 in PageRankSpec.
    * Callers that already hold the aggregated edge list (e.g. the
    * crawl pipeline's collected host-pair matrix) rank it here in
    * microseconds instead of paying one distributed job per iteration. */
  def runLocal(edges: Seq[(Long, Long)], iters: Int = 10,
      damping: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    require(e.nonEmpty, "pagerank needs a non-empty graph")
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val out = e.groupBy(_._1).map { case (s, es) => (s, es.length) }
    var ranks = nodes.map(v => (v, 1.0 / n)).toMap
    var it = 0
    while (it < iters) {
      val dangling = nodes.iterator
        .filterNot(out.contains).map(ranks).sum
      val base = (1.0 - damping) / n + damping * dangling / n
      val in = e.groupBy(_._2).map { case (d, es) =>
        (d, es.iterator.map { case (s, _) => ranks(s) / out(s) }.sum)
      }
      ranks = nodes.iterator
        .map(v => (v, base + damping * in.getOrElse(v, 0.0))).toMap
      it += 1
    }
    ranks
  }
}
