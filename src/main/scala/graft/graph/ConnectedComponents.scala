package graft.graph

import graft.QueryScope
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Connected components by min-label propagation + pointer jumping —
  * the one distributed loop behind near-dup clustering
  * (`DedupQueries.dedupClusters`) and the fuzzy-term graph of entity
  * resolution past its driver-local gate.
  *
  * An RDD loop over ONE hash partitioner: the bidirected edges are
  * partitioned by src and cached once, and every round's labels leave
  * the round partitioned the same way, so the label join onto the
  * edges and the adoption join are narrow. A round is one job: the
  * neighbour-min `reduceByKey`, the pointer jump's re-key by label and
  * the return to the node partitioning are its three shuffles, and
  * the count of changed labels is its only action. Each round's labels
  * are local-checkpointed — an RDD checkpoint keeps its partitioner,
  * so the next round joins them without an exchange — and freed as
  * soon as the next round supersedes them. Labels only decrease, so
  * jumping to the label's label is always sound; convergence = a round
  * that changes no label, O(diameter/2) rounds. */
object ConnectedComponents {

  /** Round cap: far above any component diameter the callers produce
    * (pointer jumping roughly halves the rounds a chain needs). */
  private val MaxRounds = 50

  /** (node, cluster) for every node in `edges(src, dst)`; cluster is
    * the MIN node id of the component — deterministic. Repeated edges
    * give the same labels. `edges` is read exactly once. The returned
    * frame reads the final round's checkpoint blocks, which stay pinned
    * until [[QueryScope.release]]. */
  def run(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val e = edges.select($"src", $"dst").as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // bidirected, so every node is a src, in the partition its id
    // hashes to: each node labels itself with no distinct shuffle
    var labels: RDD[(Long, Long)] = e.mapPartitions(
      _.map(_._1).distinct.map(n => (n, n)), preservesPartitioning = true)
    var prev: QueryScope.Checkpoint = null
    var changed = 1L
    var round = 0
    while (changed > 0 && round < MaxRounds) {
      // each node adopts the min label among itself and its neighbours
      // (every node is a dst too, so the join misses none)
      val nbrMin = e.join(labels, part).values.reduceByKey(part, math.min(_, _))
      val adopted = labels.join(nbrMin, part)
        .mapValues { case (c, m) => (c, math.min(c, m)) }
      // pointer jump (label compression): cluster := label(cluster);
      // every label is a node id, so the join misses none
      val next = adopted.map { case (n, (old, c)) => (c, (n, old)) }
        .join(adopted.mapValues(_._2), part)
        .map { case (c, ((n, old), jump)) => (n, (old, math.min(c, jump))) }
        .partitionBy(part)
      val cp = QueryScope.checkpoint(next)
      // the convergence test is the round's one job, a count over the
      // checkpointed labels — deliberately not an accumulator folded
      // into the jump: accumulators on transformations are not
      // exactly-once under task retry, and an over-counted "changed"
      // merely wastes a round while an UNDER-count would terminate
      // early and return wrong components
      changed = next.filter { case (_, (old, c)) => old != c }.count()
      // next is materialized: the previous round's label blocks are
      // unreachable from here on — O(1) storage across rounds
      if (prev != null) prev.free()
      prev = cp
      labels = next.mapValues(_._2)
      round += 1
    }
    e.unpersist(blocking = false)
    labels.toDF("node", "cluster")
  }

  /** Driver-local components for METADATA-SCALE edge lists — the
    * crawl-links gate pattern (PageRank.runLocal precedent): path-
    * compressed union-find that always attaches the LARGER root under
    * the smaller, so every tree's root is the component's min id —
    * identical labels to [[run]] (cluster = min node id reachable),
    * pinned equal on random graphs in ConnectedComponentsSpec.
    * Callers gate on a MEASURED edge count (e.g. collect at most
    * maxLocal+1 edges; past the gate the identical math runs
    * distributed) — a vocabulary-variant graph is bounded by real
    * spelling variation, thousands of edges at web scale, ≪ one task's
    * scheduling overhead per distributed round. */
  def runLocal(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }
}
