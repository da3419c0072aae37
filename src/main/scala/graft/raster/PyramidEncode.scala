package graft.raster

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The COG writer's pyramid and tile encode as one pass — the
  * reference's chunk-local overview build, which rechunks only when
  * chunks get small (reference ccog/ccog.py:558-666): every task
  * encodes the tiles it builds, and only 2×-shrunk quadrants cross the
  * wire.
  *
  *  - Step 0, narrow over `level0`'s own partitions: each tile emits its
  *    encoded pages and its quadrant of level 1. Full-resolution pixels
  *    never leave their task, whatever the input partitioning.
  *  - Round r, one exchange of the quadrants of level L, keyed by block
  *    (2^j × 2^j level-L tiles; block id mod n picks the partition).
  *    Each partition is sorted by block, so a task holds one block at a
  *    time: it stitches the block's level-L tiles, downsamples them in
  *    memory through level L+j, encodes every level it builds, and
  *    emits the quadrants of level L+j+1 for the next round.
  *
  * j is derived, never an option ([[blockLog]]): the largest j that
  * still leaves spark.sql.shuffle.partitions blocks; a level with fewer
  * tiles than that goes into one block with the rest of the pyramid.
  * Both are capped at [[MaxBlockLog]], so a task's memory does not grow
  * with the raster.
  *
  * Each step's output — encoded pages and quadrants, never a raw level
  * — is persisted once, and one action over the pages is one job with
  * one stage per exchange. The shuffle carries at most 1/4 + 1/64 + …
  * of the source volume. Tiles equal [[Pyramid.build]]'s bit for bit:
  * both run [[Pyramid.quadrant]] and [[Pyramid.stitch]].
  *
  * Halo kernels need their neighbours' pixels, so they keep the
  * per-level [[Pyramid.build]] ([[HaloExchange]]) and encode its levels.
  */
private[raster] object PyramidEncode {

  /** log2 of the largest block edge: a block is at most 4×4 tiles. */
  val MaxBlockLog = 2

  /** Every page of a pyramid, encoded once. `free` unpersists what the
    * pages are read from; call it after the last action on them. */
  final case class Encoded(pages: RDD[EncodedTile], free: () => Unit)

  /** A step's output: an encoded page, or a quadrant for the next round. */
  private type Piece = Either[EncodedTile, Quadrant]

  def encode(level0: Dataset[Tile], profile: RasterProfile): Encoded =
    if (Kernels.haloWidth(profile.resampling) > 0) perLevel(level0, profile)
    else fused(level0, profile)

  /** The data page of `t`, plus its mask page under `maskPages` — the
    * reference's data+mask interleave (ccog/ccog.py:409-422). */
  def pagesOf(t: Tile, profile: RasterProfile): Seq[EncodedTile] =
    if (profile.maskPages) Seq(TileCodec.encode(t, profile), TileCodec.encodeMask(t, profile))
    else Seq(TileCodec.encode(t, profile))

  /** log2 of the block edge of the round that starts at `level`. */
  def blockLog(profile: RasterProfile, level: Int, parts: Int): Int = {
    val (gw, gh) = profile.gridDims(level)
    def blocks(j: Int): Long = ((gw + (1 << j) - 1) >> j).toLong * ((gh + (1 << j) - 1) >> j)
    val cap = math.min(MaxBlockLog, profile.maxLevel - level)
    if (blocks(0) < parts) cap
    else (0 to cap).filter(blocks(_) >= parts).max
  }

  private def fused(level0: Dataset[Tile], profile: RasterProfile): Encoded = {
    val parts = level0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val steps = ArrayBuffer(persist(level0.rdd.flatMap(t => buildUp(Seq(t), 0, profile)), 0))
    var level = 1
    while (level <= profile.maxLevel) {
      val j = blockLog(profile, level, parts)
      steps += persist(round(steps.last, profile, level, j, parts), level)
      level += j + 1
    }
    val pages = steps.head.context.union(steps.map(_.collect { case Left(p) => p }).toSeq)
    Encoded(pages, () => steps.foreach(_.unpersist(blocking = false)))
  }

  private def persist(step: RDD[Piece], level: Int): RDD[Piece] =
    step.setName(s"pyramid from level $level").persist(StorageLevel.MEMORY_AND_DISK)

  /** One exchange of level-`level` quadrants into blocks of 2^j × 2^j tiles. */
  private def round(prev: RDD[Piece], profile: RasterProfile, level: Int, j: Int,
      parts: Int): RDD[Piece] = {
    val (gw, gh) = profile.gridDims(level)
    val across = (gw + (1 << j) - 1) >> j
    val nBlocks = across * ((gh + (1 << j) - 1) >> j)
    prev
      .collect { case Right(q) => ((q.ty >> j) * across + (q.tx >> j), q) }
      // an Int's hash is itself: block id mod n, exactly
      .repartitionAndSortWithinPartitions(new HashPartitioner(math.min(parts, nBlocks)))
      .mapPartitions(blocks(_).flatMap(qs => buildUp(stitchAll(level, qs, profile), j, profile)))
  }

  /** Consecutive runs of one key: the blocks of a partition sorted by block. */
  private def blocks(it: Iterator[(Int, Quadrant)]): Iterator[Seq[Quadrant]] = {
    val in = it.buffered
    new Iterator[Seq[Quadrant]] {
      def hasNext: Boolean = in.hasNext
      def next(): Seq[Quadrant] = {
        val id = in.head._1
        val qs = ArrayBuffer.empty[Quadrant]
        while (in.hasNext && in.head._1 == id) qs += in.next()._2
        qs.toSeq
      }
    }
  }

  /** The tiles of `level` that `qs` cover, each stitched from its quadrants. */
  private def stitchAll(level: Int, qs: Seq[Quadrant], profile: RasterProfile): Seq[Tile] =
    qs.groupBy(q => (q.ty, q.tx)).toSeq.map { case ((ty, tx), g) =>
      Pyramid.stitch(level, ty, tx, g.iterator, profile)
    }

  /** Encode `tiles` (one level of one block) and the `up` levels above
    * them, built in memory; the quadrants of the level after that go
    * to the next round. */
  private def buildUp(tiles: Seq[Tile], up: Int, profile: RasterProfile): Iterator[Piece] = {
    val out = ArrayBuffer.empty[Piece]
    var cur = tiles
    var k = 0
    while (cur.nonEmpty) {
      cur.foreach(t => pagesOf(t, profile).foreach(out += Left(_)))
      val level = cur.head.level
      if (level == profile.maxLevel) cur = Nil
      else {
        val qs = cur.map(Pyramid.quadrant(_, profile))
        if (k == up) { qs.foreach(out += Right(_)); cur = Nil }
        else cur = stitchAll(level + 1, qs, profile)
      }
      k += 1
    }
    out.iterator
  }

  /** Halo kernels: [[Pyramid.build]]'s persisted levels, encoded once. */
  private def perLevel(level0: Dataset[Tile], profile: RasterProfile): Encoded = {
    val levels = Pyramid.build(level0, profile)
    val pages = level0.sparkSession.sparkContext
      .union(levels.map(_.rdd.flatMap(pagesOf(_, profile))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Encoded(pages, () => {
      pages.unpersist(blocking = false)
      levels.foreach(_.unpersist())
    })
  }
}
