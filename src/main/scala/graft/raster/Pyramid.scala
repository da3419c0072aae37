package graft.raster

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.storage.StorageLevel

/** Per-level resolution pyramid — the reference's core dataflow loop
  * (reference ccog/ccog.py:558-666) one level at a time: every tile is
  * downsampled 2× (narrow map), then the four shrunken quadrants that
  * land in the same next-level tile meet in one grouping (a single
  * shuffle per level — the analog of the reference's mosaic+rechunk,
  * ccog/ccog.py:652-657).
  *
  * Each level is persisted before deriving the next so the source is
  * read once per level, not re-derived through the whole lineage — the
  * materialization decision the reference makes with
  * `to_delayed(optimize_graph=False)` (ccog/ccog.py:618-621, SURVEY
  * §4.1); Spark expresses it as persist/unpersist.
  *
  * [[build]] is the reference form of the pyramid, which the specs and
  * graftbench check [[PyramidEncode]] against: the COG writer and the
  * raster queries build their tiles there, from the same [[quadrant]]
  * and [[paste]], without caching any raw level.
  *
  * Scale shape: the shuffle payload at level L+1 is 1/4 of level L's
  * pixel volume, so total shuffle over the whole pyramid is bounded by
  * 1/3 of the source volume regardless of depth.
  */
object Pyramid {

  /** Tile `t` shrunk 2× by the profile's kernel, addressed to its
    * quadrant of the next-level tile. For a halo kernel `t` is padded
    * by the kernel's halo width ([[HaloExchange.padded]]). */
  def quadrant(t: Tile, profile: RasterProfile): Patch = {
    val k = Kernels.haloWidth(profile.resampling)
    val (px, mk) =
      if (k > 0) HaloKernels.downsample2x(profile.resampling, t, k, profile.nodata)
      else if (TileCodec.isComplex(profile.dtype))
        Kernels.downsampleComplex2x(profile.resampling, t, profile.nodata)
      else Kernels.downsample2x(profile.resampling, t, profile.nodata)
    val half = profile.blockSize / 2
    Patch(t.level + 1, t.ty / 2, t.tx / 2, t.ty % 2 * half, t.tx % 2 * half,
      (t.h + 1) / 2, (t.w + 1) / 2, px, mk)
  }

  /** Tile (level, ty, tx) padded by `k`, pasted from the patches
    * addressed to it: the one mosaic loop of every pyramid path (at
    * k = 0, the tile stitched from its quadrants). Cells no patch covers
    * stay nodata and masked out; a patch without a mask is all valid.
    * The tile's h and w are the unpadded dims. */
  def paste(level: Int, ty: Int, tx: Int, k: Int, ps: Iterator[Patch],
      profile: RasterProfile): Tile = {
    val bands = profile.bands
    // complex planes carry (re, im) pairs — paste moves sample UNITS
    val spu = if (TileCodec.isComplex(profile.dtype)) 2 else 1
    val (th, tw) = profile.tileDims(level, ty, tx)
    val (fh, fw) = (th + 2 * k, tw + 2 * k)
    val pixels = new Array[Double](bands * fh * fw * spu)
    java.util.Arrays.fill(pixels, profile.nodata)
    val mask = new Array[Byte](fh * fw)
    ps.foreach { p =>
      var b = 0
      while (b < bands) {
        val srcBase = b * p.h * p.w * spu
        val dstBase = b * fh * fw * spu
        var y = 0
        while (y < p.h) {
          System.arraycopy(p.pixels, srcBase + y * p.w * spu,
            pixels, dstBase + ((p.oy + y) * fw + p.ox) * spu, p.w * spu)
          y += 1
        }
        b += 1
      }
      var y = 0
      while (y < p.h) {
        val at = (p.oy + y) * fw + p.ox
        if (p.mask == null) java.util.Arrays.fill(mask, at, at + p.w, 1.toByte)
        else System.arraycopy(p.mask, y * p.w, mask, at, p.w)
        y += 1
      }
    }
    Tile(level, ty, tx, th, tw, pixels, mask)
  }

  /** Downsample + regroup one level: tiles at `level` → tiles at
    * `level+1`. Pure function of the input Dataset — no persist here. */
  def nextLevel(tiles: Dataset[Tile], profile: RasterProfile, level: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    require(Kernels.haloWidth(profile.resampling) == 0,
      s"halo kernel '${profile.resampling}' must go through HaloExchange.nextLevel")
    regroup(tiles.map(quadrant(_, profile)), profile, level + 1)
  }

  /** Mosaic step shared by the halo-free and halo paths: group the ≤4
    * quadrants of each tile at `level` (one shuffle) and paste them. */
  def regroup(quads: Dataset[Patch], profile: RasterProfile,
      level: Int): Dataset[Tile] = {
    val spark = quads.sparkSession
    import spark.implicits._
    byTile(quads, profile, level)
      .mapGroups { (key: (Int, Int, Int), qs: Iterator[Patch]) =>
        paste(key._1, key._2, key._3, 0, qs, profile)
      }
  }

  /** Rows addressed to the tiles of `level`, grouped by tile
    * (level, ty, tx) in one shuffle sized to the level: level L holds
    * 1/4^L of the raster's pixels, so it gets 1/4^L of the session's
    * shuffle width, and never more partitions than it has tiles. */
  private[raster] def byTile[T: Encoder](rows: Dataset[T], profile: RasterProfile,
      level: Int): KeyValueGroupedDataset[(Int, Int, Int), T] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (gw, gh) = profile.gridDims(level)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.min(gw.toLong * gh, math.ceil(width / math.pow(4, level)).toLong).toInt
    rows.repartition(parts, $"level", $"ty", $"tx")
      .groupBy($"level", $"ty", $"tx").as[(Int, Int, Int), T]
  }

  /** Build levels 0..profile.maxLevel; every returned Dataset is
    * persisted (MEMORY_AND_DISK). Caller owns unpersist. */
  def build(level0: Dataset[Tile], profile: RasterProfile): Seq[Dataset[Tile]] = {
    val levels = Seq.newBuilder[Dataset[Tile]]
    var cur = level0.persist(StorageLevel.MEMORY_AND_DISK)
    levels += cur
    var l = 0
    while (l < profile.maxLevel) {
      cur =
        (if (Kernels.haloWidth(profile.resampling) == 0) nextLevel(cur, profile, l)
         else HaloExchange.nextLevel(cur, profile, l))
          .persist(StorageLevel.MEMORY_AND_DISK)
      levels += cur
      l += 1
    }
    levels.result()
  }
}

/** A rectangle of pixels (band-major, shared mask; null = all valid)
  * addressed to tile (level, ty, tx): it fills rows oy until oy+h and
  * columns ox until ox+w of the tile's frame, which a halo of k px
  * widens by k on every side. A quadrant is a patch of its next-level
  * tile; a strip is a patch of a neighbour's halo ring. */
case class Patch(level: Int, ty: Int, tx: Int, oy: Int, ox: Int,
    h: Int, w: Int, pixels: Array[Double], mask: Array[Byte])
