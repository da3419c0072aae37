package graft.text

import graft.QueryScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate mining — the scalable path the
  * exact n-gram Jaccard join (q_dedup_ngram) is the small-SF oracle
  * for. Pair work under LSH is Σ(bucket size)² over band buckets
  * instead of Σ(docs per shingle)² over shingles: buckets collide only
  * on r-row signature agreement, so the quadratic term collapses to
  * near-duplicate clusters — the shape that survives a 10^9-document
  * corpus (SURVEY §2.2 near-dedup row; VERDICT r1 §perf).
  *
  * Parameters: k=192 minhashes in b=64 bands of r=3 rows. Collision
  * probability at Jaccard J is 1-(1-J³)⁶⁴: ≈0.94 at J=0.35, ≈0.9987
  * at J=0.5 — tuned for the 0.35 threshold the oracle uses. All hashes
  * are splitmix64-derived and seed-fixed, so results are deterministic
  * across runs and partitionings (still engine-specific → NATIVE, no
  * DuckDB oracle; recall vs the exact path is asserted in MinHashSpec).
  */
object MinHashLSH {

  val NumHashes = 192
  val Rows = 3
  val Bands = 64 // NumHashes / Rows

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF-16 code units, splitmix-finalized. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    mix(h)
  }

  // permutation i: h -> a(i)*h + b(i)  (odd multiplier => bijection mod 2^64)
  private val permA = Array.tabulate(NumHashes)(i => mix(0xa5eed00dL + 2L * i) | 1L)
  private val permB = Array.tabulate(NumHashes)(i => mix(0xb16b00b5L + 2L * i + 1L))

  /** k-minhash signature of a shingle-hash set (unsigned min per perm). */
  def signature(shingleHashes: Iterable[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(-1L) // unsigned max
    shingleHashes.foreach { h =>
      var i = 0
      while (i < NumHashes) {
        val v = permA(i) * h + permB(i)
        if (java.lang.Long.compareUnsigned(v, sig(i)) < 0) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Bucket key for band b of a signature: mix-chain over its r rows. */
  def bandKey(sig: Array[Long], b: Int): Long = {
    var h = mix(0xbadc0de + b.toLong)
    var r = 0
    while (r < Rows) {
      h = mix(h ^ sig(b * Rows + r))
      r += 1
    }
    h
  }

  /** Candidate pairs + exact-verified Jaccard over a (doc_id, shingle)
    * universe. Output: (id_a, id_b, jaccard) with J >= `threshold`,
    * id_a < id_b — a subset of the exact join's pairs (identical
    * universe + verification), short of only LSH misses.
    *
    * Plan shape: one groupBy(doc) to build sets, a narrow map to
    * signatures, a flatMap to 64 band rows/doc, one self-equi-join on
    * (band, key), distinct, then two small joins back to the sets for
    * exact verification. Every shuffle is keyed — nothing quadratic in
    * corpus size. */
  def nearDupPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val spark = shingles.sparkSession
    import spark.implicits._
    // cached frames stay pinned until QueryScope.release()
    val docSets = QueryScope.cache(shingles.groupBy($"doc_id")
      .agg(collect_set($"shingle").as("sh")))

    // cache the SIGNATURE output too: the self-join consumes bandRows
    // on both sides, and the 192-permutation signature pass is the
    // dominant CPU cost — without the cache it runs twice
    val bandRows = QueryScope.cache(
      docSets.select($"doc_id", $"sh").as[(Long, Seq[String])]
        .flatMap { case (id, sh) =>
          val sig = signature(sh.map(hash64))
          (0 until Bands).iterator.map(b => (b, bandKey(sig, b), id))
        }
        .toDF("band", "bkey", "doc_id"))

    val cands = bandRows.as("x")
      .join(bandRows.as("y"),
        $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .distinct()

    cands
      .join(docSets.select($"doc_id".as("id_a"), $"sh".as("sh_a")), Seq("id_a"))
      .join(docSets.select($"doc_id".as("id_b"), $"sh".as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("uni", size($"sh_a") + size($"sh_b") - $"inter")
      .filter($"inter".cast("double") / $"uni" >= threshold)
      .withColumn("jaccard", round($"inter".cast("double") / $"uni", 4))
      .select($"id_a", $"id_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }
}
