package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** The one owner of what a query pins past its own return: every
  * frame a query caches for a consumer downstream of it, every RDD
  * checkpoint an iterative loop leaves behind,
  * and the memoized frames several queries share (the shingle
  * universe). One [[release]] returns all of it — the reference's
  * rule of keeping a chunk level only until the next one replaces it
  * (ccog/ccog.py: 618-621), applied once instead of per operator.
  *
  * A query whose result reads pinned storage (a cached frame, or a
  * checkpoint whose lineage is truncated and cannot recompute) leaves
  * it registered here; the caller calls [[release]] once that result
  * is consumed. Bench, Verify, graftbench and the specs run one query
  * at a time, so one process-wide scope is enough: [[release]] frees
  * what every query so far has pinned. */
object QueryScope {

  /** The blocks of one [[checkpoint]] call. A loop frees them as soon
    * as the next round's checkpoint has materialized and nothing reads
    * them again; blocks not freed this way wait for [[release]]. */
  final class Checkpoint private[QueryScope] (rdd: RDD[_]) {
    def free(): Unit = {
      pinned.remove(rdd)
      rdd.unpersist(blocking = false)
    }
  }

  // cached Datasets and checkpointed RDDs, unpersisted by release()
  private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
  private val memos = new java.util.concurrent.ConcurrentHashMap[Any, AnyRef]()

  /** `ds.cache()`, registered for [[release]]. Lineage stays intact, so
    * a consumer that runs after the release just recomputes. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    pinned.add(ds)
    ds.cache()
  }

  /** Marks `rdd` for `localCheckpoint` and registers its blocks for
    * [[release]]. This is lazy: the next action over `rdd` (or over
    * anything derived from it) materializes the blocks and truncates
    * the lineage, so a loop's plan stops growing round by round. An
    * RDD checkpoint keeps its partitioner, so a join against a
    * co-partitioned RDD stays narrow. The handle names only `rdd`'s
    * blocks: freeing it never touches storage that some other query
    * or thread pinned, even one the same job materialized. */
  def checkpoint(rdd: RDD[_]): Checkpoint = {
    rdd.localCheckpoint()
    pinned.add(rdd)
    new Checkpoint(rdd)
  }

  /** The value memoized under `key`, built on first use and dropped by
    * [[release]]. Frames the build caches go through [[cache]], so the
    * release that forgets the memo also unpersists them. */
  def memo[V <: AnyRef](key: Any)(build: => V): V =
    memos.computeIfAbsent(key, _ => build).asInstanceOf[V]

  /** How many frames and checkpointed RDDs are registered now. The
    * scope holds them strongly, so unlike a count over the
    * SparkContext's persistent-RDD map (weak values, which GC may
    * clear) this figure is exact. */
  private[graft] def held: Int = pinned.size

  /** Unpersist everything registered and forget every memo. Call ONLY
    * once the results read from it are consumed — a checkpoint's
    * lineage is truncated and cannot recompute. */
  def release(): Unit = {
    memos.clear()
    var p = pinned.poll()
    while (p != null) {
      p match {
        case ds: Dataset[_] => ds.unpersist(blocking = false)
        case r: RDD[_] => r.unpersist(blocking = false)
      }
      p = pinned.poll()
    }
  }
}
