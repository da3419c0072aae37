package graft.graph

import graft.QueryScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by min-label propagation + pointer jumping —
  * the one distributed loop behind near-dup clustering
  * (`DedupQueries.dedupClusters`) and the fuzzy-term graph of entity
  * resolution past its driver-local gate.
  *
  * Same iterative discipline as [[PageRank]]: edges bidirected and
  * cached ONCE, pre-partitioned on the join key; each round is one
  * join + one groupBy (min over neighbor labels) plus a self-join
  * pointer jump that shortcuts chain components (labels only decrease,
  * so jumping to the label's label is always sound); `localCheckpoint`
  * per round keeps lineage O(1), and each round's checkpoint blocks are
  * freed as soon as the next round supersedes them; convergence = zero
  * label changes, O(diameter/2) rounds. */
object ConnectedComponents {

  /** Round cap: far above any component diameter the callers produce
    * (pointer jumping roughly halves the rounds a chain needs). */
  private val MaxRounds = 50

  /** (node, cluster) for every node in `edges(src, dst)`; cluster is
    * the MIN node id of the component — deterministic. Repeated edges
    * give the same labels. The returned frame reads the final round's
    * checkpoint blocks, which stay pinned until [[QueryScope.release]]. */
  def run(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // edges: a CACHE pre-partitioned on the per-round join key (r22,
    // the PageRank discipline) — cache preserves hashpartitioning(src)
    // where an eager checkpoint drops it, so every round's label join
    // runs shuffled-hash with NO exchange on the edge side (the hint
    // below keeps the planner off broadcast — node-scale labels cannot
    // broadcast at real graph sizes — and off sort-merge's per-round
    // edge re-sort). A caller passing a checkpointed frame must keep
    // its blocks pinned until this returns: the lazy cache
    // materializes on the first round's action and reads them —
    // truncated lineage cannot recompute a freed block.
    val e = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .repartition($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r22 NOTE: the PageRank-style AQE-off loop was tried here and
    // paired-measured SLOWER on q_dedup_clusters (0/4, +0.77 s; with
    // data-sized shuffle partitions still 2/4, +0.23 s —
    // BENCH_r22_paired_batch3*.json): on that pair graph AQE's runtime
    // coalescing (≈1 post-shuffle partition for ~1k edges) beats any
    // statically chosen count, and unlike pagerank the loop's plans are
    // join-heavy node-scale frames where per-stage scheduling is not
    // the dominant term. Reverted; AQE stays ON for this loop.
    var (labels, prevBlocks) = QueryScope.checkpoint(
      e.select($"src".as("node")).distinct()
        .withColumn("cluster", $"node"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxRounds) {
      // each node adopts the min label among itself and its neighbors
      val msgs = e
        .join(labels.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .groupBy($"dst".as("node"))
        .agg(min($"cluster").as("nbr_min"))
      // cached within the round, not checkpointed: the pointer-jump
      // self-join references `adopted` twice, which cache() serves
      // without running the edge join + min-agg twice, while its
      // lineage stays one round deep (labels is a checkpoint); an eager
      // checkpoint here paid a THIRD action per round
      val adopted = labels.join(msgs, Seq("node"), "left")
        .select($"node", $"cluster".as("old"),
          least($"cluster", coalesce($"nbr_min", $"cluster")).as("cluster"))
        .cache()
      // pointer-jump (label compression): cluster := label(cluster)
      val (next, nextBlocks) = QueryScope.checkpoint(adopted
        .join(adopted.select($"node".as("cluster"), $"cluster".as("jump")),
          Seq("cluster"), "left")
        .select($"node", $"old",
          least($"cluster", coalesce($"jump", $"cluster")).as("cluster")))
      // convergence test is a SEPARATE count() job per round, over the
      // just-checkpointed (cached) blocks — deliberately not an
      // accumulator folded into the jump pass: accumulators on
      // transformations are not exactly-once under task retry, and an
      // over-counted "changed" merely wastes a round while an
      // UNDER-count would terminate early and return wrong components.
      // The count scans O(nodes) in-memory rows; immaterial next to
      // the two joins per round.
      changed = next.filter($"cluster" =!= $"old").count()
      adopted.unpersist(blocking = false)
      // next is materialized: the previous round's label blocks are
      // unreachable from here on — O(1) storage across rounds
      prevBlocks.free()
      prevBlocks = nextBlocks
      labels = next.select($"node", $"cluster")
      iter += 1
    }
    // the returned DF reads only the FINAL round's blocks, which MUST
    // stay persisted for the consumer (truncated lineage); they wait
    // for QueryScope.release()
    e.unpersist(blocking = false)
    labels
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
