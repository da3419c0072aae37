package graft.raster

import graft.sink.Blob
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Global byte-offset assignment — the reference's prefix-sum over
  * parts in (level desc, row-major) order (reference
  * ccog/ccog.py:717-773, R25).
  *
  * The header needs every tile's offset anyway (its TileOffsets /
  * TileByteCounts arrays), so the prefix sum is a driver function over
  * the collected per-tile sizes — grid×~20 B, no pixel bytes — and
  * costs no shuffle: [[layout]] walks the grids in file order and
  * returns the header-shaped offset arrays; executors look each tile's
  * offset up in a broadcast of those arrays, a narrow map over the
  * persisted encoded tiles ([[placedWith]], or [[blobs]] for the
  * writer's RDD sink). The encoded tiles are computed once and never
  * cross the wire before the sink.
  *
  * Sparse tiles contribute 0 bytes and keep offset 0 in the header
  * (reference ccog/ccog.py:754).
  */
object Offsets {

  /** `placed` streams every tile with its absolute file offset;
    * `cached` is the persisted encoded frame the caller must
    * unpersist after its last action on `placed`. */
  case class Placement(placed: Dataset[PlacedTile], cached: Dataset[EncodedTile])

  /** The one per-tile fact placement needs, as collected to the driver. */
  case class TileSize(level: Int, ty: Int, tx: Int, page: Int, nbytes: Int)

  /** Every tile's absolute offset and stored size, one row-major
    * (ty * gridWidth + tx) array per (level, page) — the shape of the
    * header's TileOffsets / TileByteCounts. Sparse and absent tiles
    * read 0 in both. `fileLen` is the header plus every tile's bytes. */
  case class Layout(gridWidths: Map[Int, Int], offsets: Map[(Int, Int), Array[Long]],
      counts: Map[(Int, Int), Array[Long]], fileLen: Long)

  /** Exclusive prefix sum from `headerLen` in file order (level desc,
    * ty, tx, page). `gridDims(level)` = (tiles across, tiles down). */
  def layout(sizes: Iterable[TileSize], headerLen: Long,
      gridDims: Int => (Int, Int)): Layout = {
    val counts = scala.collection.mutable.Map.empty[(Int, Int), Array[Long]]
    sizes.foreach { s =>
      val (gw, gh) = gridDims(s.level)
      require(s.tx >= 0 && s.tx < gw && s.ty >= 0 && s.ty < gh,
        s"tile (${s.level}, ${s.ty}, ${s.tx}) outside the ${gw}x$gh grid")
      val arr = counts.getOrElseUpdate((s.level, s.page), Array.fill(gw * gh)(-1L))
      val i = s.ty * gw + s.tx
      require(arr(i) < 0, s"tile (${s.level}, ${s.ty}, ${s.tx}) page ${s.page} appears twice")
      arr(i) = s.nbytes
    }
    val keys = counts.keys.toSeq.sorted
    val offsets = keys.map(k => k -> new Array[Long](counts(k).length)).toMap
    var off = headerLen
    for (level <- keys.map(_._1).distinct.reverse) {
      val pages = keys.filter(_._1 == level).map(k => (counts(k), offsets(k)))
      var i = 0
      while (i < pages.head._1.length) {
        pages.foreach { case (n, o) =>
          if (n(i) > 0) { o(i) = off; off += n(i) }
          else n(i) = 0L
        }
        i += 1
      }
    }
    Layout(keys.map(k => k._1 -> gridDims(k._1)._1).toMap, offsets, counts.toMap, off)
  }

  /** Narrow map: each tile finds its offset in a broadcast of the
    * layout's offset arrays (no larger than the header itself). */
  def placedWith(cached: Dataset[EncodedTile], layout: Layout): Dataset[PlacedTile] = {
    val spark = cached.sparkSession
    import spark.implicits._
    val at = offsetOf(spark.sparkContext, layout)
    cached.map(e => PlacedTile(e.level, e.ty, e.tx, e.page, at(e), e.nbytes, e.bytes))
  }

  /** The non-sparse tiles of `pages` as blobs at their file offsets —
    * [[placedWith]]'s narrow map over an RDD, for the RDD sink. */
  def blobs(pages: RDD[EncodedTile], layout: Layout): RDD[Blob] = {
    val at = offsetOf(pages.sparkContext, layout)
    pages.filter(_.nbytes > 0).map(e => Blob(at(e), e.bytes))
  }

  /** A tile's offset, looked up in one broadcast of the offset arrays. */
  private def offsetOf(sc: SparkContext, layout: Layout): EncodedTile => Long = {
    val bc = sc.broadcast((layout.gridWidths, layout.offsets))
    e => {
      val (gw, offs) = bc.value
      offs((e.level, e.page))(e.ty * gw(e.level) + e.tx)
    }
  }

  /** Persist `encoded`, collect its tile sizes, place on the driver.
    * Without a profile the grid of each level is the tiles present. */
  def place(encoded: Dataset[EncodedTile], headerLen: Long): Placement = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val cached = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = cached.select($"level", $"ty", $"tx", $"page", $"nbytes").as[TileSize].collect()
    val dims = sizes.groupBy(_.level).map { case (l, ts) =>
      l -> (ts.map(_.tx).max + 1, ts.map(_.ty).max + 1)
    }
    Placement(placedWith(cached, layout(sizes, headerLen, dims)), cached)
  }
}

/** A tile with its absolute byte offset in the assembled file (sparse:
  * offset 0, nbytes 0, no bytes). page: 0 = data, 1 = mask. */
case class PlacedTile(level: Int, ty: Int, tx: Int, page: Int, offset: Long,
    nbytes: Int, bytes: Array[Byte])
