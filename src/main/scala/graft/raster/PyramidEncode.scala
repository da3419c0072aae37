package graft.raster

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** The pyramid as one pass — the reference's chunk-local overview
  * build, which rechunks only when chunks get small and takes halos
  * from `map_overlap` (reference ccog/ccog.py:558-666, 614-616): every
  * task emits the rows of the tiles it builds (the COG writer's encoded
  * pages, a raster query's per-tile facts), and only 2×-shrunk
  * quadrants — plus, for a halo kernel, level 0 and the strips the
  * neighbours' halos need — cross the wire.
  *
  *  - Step 0, narrow over `level0`'s own partitions: each tile emits its
  *    rows. A halo-free tile then emits its quadrant of level 1; a halo
  *    kernel's tile is sent whole to its own frame and, as strips, to
  *    its neighbours' halo rings ([[HaloExchange.spread]]).
  *  - Round r, one exchange of the patches of level L, keyed by block
  *    (2^j × 2^j level-L tiles; block id mod n picks the partition).
  *    Each partition is sorted by block, so a task holds one block at a
  *    time: it pastes the block's level-L tiles, downsamples them in
  *    memory through level L+j, emits every level it builds, and sends
  *    the quadrants of level L+j+1 to the next round. A halo kernel's
  *    quadrant also sends its crops to the halo rings it fills.
  *
  * j is derived, never an option ([[blockLog]]). A halo kernel builds
  * one level per round (j = 0): a padded tile needs its neighbours'
  * pixels, which arrive only through the exchange. Otherwise j is the
  * largest that still leaves spark.sql.shuffle.partitions blocks; a
  * level with fewer tiles than that goes into one block with the rest
  * of the pyramid. Both are capped at [[MaxBlockLog]], so a task's
  * memory does not grow with the raster.
  *
  * Each step's output — emitted rows and patches, never a raw level —
  * is persisted once, and one action over the rows is one job with one
  * stage per exchange. Tiles equal the per-level reference's
  * ([[Pyramid]]) bit for bit: both run [[Pyramid.quadrant]],
  * [[HaloExchange.spread]] and [[Pyramid.paste]].
  */
private[graft] object PyramidEncode {

  /** log2 of the largest block edge: a block is at most 4×4 tiles. */
  val MaxBlockLog = 2

  /** Every tile's rows, emitted once. `free` unpersists what the rows
    * are read from; call it after the last action on them. */
  final case class Built[T](rows: RDD[T], free: () => Unit)

  /** A step's output: an emitted row, or a patch for the next round. */
  private type Piece[T] = Either[T, Patch]

  /** Every page of the COG, encoded once. */
  def encode(level0: Dataset[Tile], profile: RasterProfile): Built[EncodedTile] =
    build(level0, profile)(pagesOf(_, profile).iterator)

  /** The data page of `t`, plus its mask page under `maskPages` — the
    * reference's data+mask interleave (ccog/ccog.py:409-422). */
  def pagesOf(t: Tile, profile: RasterProfile): Seq[EncodedTile] =
    if (profile.maskPages) Seq(TileCodec.encode(t, profile), TileCodec.encodeMask(t, profile))
    else Seq(TileCodec.encode(t, profile))

  /** log2 of the block edge of the round that starts at `level`. */
  def blockLog(profile: RasterProfile, level: Int, parts: Int): Int =
    if (Kernels.haloWidth(profile.resampling) > 0) 0
    else {
      val (gw, gh) = profile.gridDims(level)
      def blocks(j: Int): Long = ((gw + (1 << j) - 1) >> j).toLong * ((gh + (1 << j) - 1) >> j)
      val cap = math.min(MaxBlockLog, profile.maxLevel - level)
      if (blocks(0) < parts) cap
      else (0 to cap).filter(blocks(_) >= parts).max
    }

  /** The halo a level's tiles are pasted with: the kernel's width where
    * they are downsampled, none at the top. */
  private def pad(profile: RasterProfile, level: Int): Int =
    if (level < profile.maxLevel) Kernels.haloWidth(profile.resampling) else 0

  /** Levels 0..maxLevel of `level0`, each tile passed once to `emit`. */
  def build[T: ClassTag](level0: Dataset[Tile], profile: RasterProfile)(
      emit: Tile => Iterator[T]): Built[T] = {
    val parts = level0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val k0 = pad(profile, 0)
    val step0 = level0.rdd.flatMap { t =>
      val next: Iterator[Piece[T]] =
        if (k0 == 0) buildUp(Seq(t), 0, profile, emit)
        else HaloExchange.spread(HaloExchange.whole(t), k0, profile).map(Right(_))
      emit(t).map(Left(_): Piece[T]) ++ next
    }
    val steps = ArrayBuffer(persist(step0, 0))
    var level = if (k0 == 0) 1 else 0
    while (level <= profile.maxLevel) {
      val j = blockLog(profile, level, parts)
      steps += persist(round(steps.last, profile, level, j, parts, emit), level)
      level += j + 1
    }
    val rows = steps.head.context.union(steps.map(_.collect { case Left(r) => r }).toSeq)
    Built(rows, () => steps.foreach(_.unpersist(blocking = false)))
  }

  private def persist[T](step: RDD[Piece[T]], level: Int): RDD[Piece[T]] =
    step.setName(s"pyramid from level $level").persist(StorageLevel.MEMORY_AND_DISK)

  /** One exchange of level-`level` patches into blocks of 2^j × 2^j tiles. */
  private def round[T](prev: RDD[Piece[T]], profile: RasterProfile, level: Int, j: Int,
      parts: Int, emit: Tile => Iterator[T]): RDD[Piece[T]] = {
    val (gw, gh) = profile.gridDims(level)
    val across = (gw + (1 << j) - 1) >> j
    val nBlocks = across * ((gh + (1 << j) - 1) >> j)
    prev
      .collect { case Right(p) => ((p.ty >> j) * across + (p.tx >> j), p) }
      // an Int's hash is itself: block id mod n, exactly
      .repartitionAndSortWithinPartitions(new HashPartitioner(math.min(parts, nBlocks)))
      .mapPartitions(blocks(_).flatMap(ps => buildUp(pasteAll(level, ps, profile), j, profile, emit)))
  }

  /** Consecutive runs of one key: the blocks of a partition sorted by block. */
  private def blocks(it: Iterator[(Int, Patch)]): Iterator[Seq[Patch]] = {
    val in = it.buffered
    new Iterator[Seq[Patch]] {
      def hasNext: Boolean = in.hasNext
      def next(): Seq[Patch] = {
        val id = in.head._1
        val ps = ArrayBuffer.empty[Patch]
        while (in.hasNext && in.head._1 == id) ps += in.next()._2
        ps.toSeq
      }
    }
  }

  /** The tiles of `level` that `ps` cover, each pasted from its patches. */
  private def pasteAll(level: Int, ps: Seq[Patch], profile: RasterProfile): Seq[Tile] =
    ps.groupBy(p => (p.ty, p.tx)).toSeq.map { case ((ty, tx), g) =>
      Pyramid.paste(level, ty, tx, pad(profile, level), g.iterator, profile)
    }

  /** Emit `tiles` (one level of one block, padded for the kernel; level 0
    * was emitted in step 0) and the `up` levels above them, built in
    * memory; the patches of the level after that go to the next round. */
  private def buildUp[T](tiles: Seq[Tile], up: Int, profile: RasterProfile,
      emit: Tile => Iterator[T]): Iterator[Piece[T]] = {
    val out = ArrayBuffer.empty[Piece[T]]
    var cur = tiles
    var n = 0
    while (cur.nonEmpty) {
      val level = cur.head.level
      if (level > 0)
        cur.foreach(t => emit(HaloExchange.core(t, pad(profile, level))).foreach(out += Left(_)))
      if (level == profile.maxLevel) cur = Nil
      else {
        val qs = cur.map(Pyramid.quadrant(_, profile))
        if (n == up) {
          qs.foreach(HaloExchange.spread(_, pad(profile, level + 1), profile).foreach(out += Right(_)))
          cur = Nil
        } else cur = pasteAll(level + 1, qs, profile)
      }
      n += 1
    }
    out.iterator
  }
}
