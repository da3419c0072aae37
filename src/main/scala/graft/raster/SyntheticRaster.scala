package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded, fully-deterministic synthetic raster as a Dataset[Tile] —
  * the engine's stand-in for the reference's ingest of a chunked
  * dask/xarray array (reference ccog/ccog.py:936). /root/testdata is
  * read-only and has no raster fixtures, so raster tests and NATIVE
  * queries generate their input in-engine, over defaultParallelism
  * partitions — the width the writer's level-0 encode inherits. */
object SyntheticRaster {

  /** splitmix64 — tiny, seedable, high-quality mixer; value depends
    * only on (seed, global y, global x), never on partitioning. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Pixel value at (y,x): [0, 100) with ~1/16 of pixels = nodata and a
    * smooth deterministic gradient component (so downsampled levels are
    * visually and statistically plausible, not white noise). */
  def pixelAt(seed: Long, y: Long, x: Long, nodata: Double): Double = {
    val h = mix(mix(seed ^ (y * 0x100000001b3L)) ^ x)
    if ((h & 15) == 0) nodata
    else {
      val noise = ((h >>> 11).toDouble / (1L << 53).toDouble) * 20.0
      val grad = 40.0 + 20.0 * math.sin(y / 97.0) + 20.0 * math.cos(x / 131.0)
      grad + noise
    }
  }

  /** Validity-mask bit at (y,x): ~1/32 of pixels masked invalid,
    * independent of the nodata pattern (exercises both invalidity
    * paths of `fullmask`, reference ccog/ccog.py:534-537). */
  def maskAt(seed: Long, y: Long, x: Long): Byte = {
    val h = mix(mix((seed + 0x51ed2701) ^ (x * 0x100000001b3L)) ^ y)
    if ((h & 31) == 0) 0 else 1
  }

  /** Level-0 tile grid, one row per tile in defaultParallelism
    * partitions (`spark.range`'s default); band-major planes
    * (band b uses seed+1000003*b so bands differ but stay coupled to
    * the shared mask). Partitioning stays at defaultParallelism ON
    * PURPOSE: the downstream per-tile ENCODE (deflate) inherits this
    * width, and shrinking it to "a few tiles per task" serialized the
    * CPU-heavy codec (q_cog_write_bytes 3.2 s → 9.4 s measured).
    * The writer encodes level 0 in the task that generated it, with no
    * shuffle in between, so this width is the encode's width too. */
  def generate(spark: SparkSession, profile: RasterProfile, seed: Long,
      withMask: Boolean = true): Dataset[Tile] = {
    import spark.implicits._
    val (gw, gh) = profile.gridDims(0)
    val bs = profile.blockSize
    val nodata = profile.nodata
    val bands = profile.bands
    spark.range(gw.toLong * gh).map { idx =>
      val ty = (idx / gw).toInt
      val tx = (idx % gw).toInt
      val (h, w) = profile.tileDims(0, ty, tx)
      val pixels = new Array[Double](bands * h * w)
      val mask = if (withMask) new Array[Byte](h * w) else null
      var b = 0
      while (b < bands) {
        val bSeed = seed + 1000003L * b
        var y = 0
        while (y < h) {
          val gy = ty.toLong * bs + y
          var x = 0
          while (x < w) {
            val gx = tx.toLong * bs + x
            pixels(b * h * w + y * w + x) = pixelAt(bSeed, gy, gx, nodata)
            x += 1
          }
          y += 1
        }
        b += 1
      }
      if (mask != null) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            mask(y * w + x) = maskAt(seed, ty.toLong * bs + y, tx.toLong * bs + x)
            x += 1
          }
          y += 1
        }
      }
      Tile(0, ty, tx, h, w, pixels, mask)
    }
  }
}
