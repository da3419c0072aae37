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
  * [[build]] is the reference form of the pyramid: the raster queries
  * and the specs read its levels, and [[CogWriter]] takes it for halo
  * kernels ([[HaloExchange]]). Halo-free COG writes go through
  * [[PyramidEncode]], which builds the same tiles from the same
  * [[quadrant]] and [[stitch]] without caching any raw level.
  *
  * Scale shape: the shuffle payload at level L+1 is 1/4 of level L's
  * pixel volume, so total shuffle over the whole pyramid is bounded by
  * 1/3 of the source volume regardless of depth.
  */
object Pyramid {

  /** Tile `t` shrunk 2× by the profile's halo-free kernel, addressed to
    * its quadrant of the next-level tile. */
  def quadrant(t: Tile, profile: RasterProfile): Quadrant = {
    val (px, mk) =
      if (TileCodec.isComplex(profile.dtype))
        Kernels.downsampleComplex2x(profile.resampling, t, profile.nodata)
      else Kernels.downsample2x(profile.resampling, t, profile.nodata)
    Quadrant(t.level + 1, t.ty / 2, t.tx / 2, t.ty % 2, t.tx % 2,
      (t.h + 1) / 2, (t.w + 1) / 2, px, mk)
  }

  /** Mosaic the ≤4 quadrants of tile (level, ty, tx) into that tile:
    * the one stitch loop of every pyramid path. Cells no quadrant
    * covers stay nodata and masked out. */
  def stitch(level: Int, ty: Int, tx: Int, qs: Iterator[Quadrant],
      profile: RasterProfile): Tile = {
    val half = profile.blockSize / 2
    val bands = profile.bands
    // complex planes carry (re, im) pairs — stitch moves sample UNITS
    val spu = if (TileCodec.isComplex(profile.dtype)) 2 else 1
    val (th, tw) = profile.tileDims(level, ty, tx)
    val pixels = new Array[Double](bands * th * tw * spu)
    java.util.Arrays.fill(pixels, profile.nodata)
    val mask = new Array[Byte](th * tw)
    qs.foreach { q =>
      val offY = q.qy * half
      val offX = q.qx * half
      var b = 0
      while (b < bands) {
        val srcBase = b * q.h * q.w * spu
        val dstBase = b * th * tw * spu
        var y = 0
        while (y < q.h) {
          System.arraycopy(q.pixels, srcBase + y * q.w * spu,
            pixels, dstBase + ((offY + y) * tw + offX) * spu, q.w * spu)
          y += 1
        }
        b += 1
      }
      if (q.mask != null) {
        var y = 0
        while (y < q.h) {
          System.arraycopy(q.mask, y * q.w, mask, (offY + y) * tw + offX, q.w)
          y += 1
        }
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
    * quadrants of each tile at `level` (one shuffle) and stitch. */
  def regroup(quads: Dataset[Quadrant], profile: RasterProfile,
      level: Int): Dataset[Tile] = {
    val spark = quads.sparkSession
    import spark.implicits._
    byTile(quads, profile, level)
      .mapGroups { (key: (Int, Int, Int), qs: Iterator[Quadrant]) =>
        stitch(key._1, key._2, key._3, qs, profile)
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

/** A downsampled tile block addressed to quadrant (qy,qx) of next-level
  * tile (level,ty,tx). */
case class Quadrant(level: Int, ty: Int, tx: Int, qy: Int, qx: Int,
    h: Int, w: Int, pixels: Array[Double], mask: Array[Byte])
