package graft.raster

import graft.SparkSpec

/** Halo-exchange property tests on a 3×3 tile grid (SURVEY §5.2-2):
  * the padded frame must hold exactly the neighbors' edge strips with
  * raster-border sides unavailable (mask 0 — the reference's `None`
  * slices, ccog/ccog.py:503-508), and the tiled bilinear pyramid step
  * must equal a single-array reference computation bit-for-bit. */
class HaloSpec extends SparkSpec {

  val ND = -9999.0

  /** global value encodes its coordinates: v(y,x) = y*1000 + x */
  def coded(p: RasterProfile): IndexedSeq[Tile] = {
    val (gw, gh) = p.gridDims(0)
    for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      val px = Array.tabulate(h * w) { i =>
        (ty * p.blockSize + i / w) * 1000.0 + (tx * p.blockSize + i % w)
      }
      Tile(0, ty, tx, h, w, px, null)
    }
  }

  test("padded frame holds neighbor strips; border sides are mask 0") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(48, 48, blockSize = 16, nodata = ND, resampling = "bilinear")
    val k = 2
    val padded = HaloExchange.padded(s.createDataset(coded(p)), p, k, level = 0)
      .collect().map(t => (t.ty, t.tx) -> t).toMap
    assert(padded.size == 9)

    for (((ty, tx), t) <- padded) {
      val W = t.w + 2 * k
      for (py <- -k until t.h + k; px <- -k until t.w + k) {
        val gy = ty * 16 + py
        val gx = tx * 16 + px
        val i = (py + k) * W + (px + k)
        if (gy < 0 || gy >= 48 || gx < 0 || gx >= 48) {
          assert(t.mask(i) == 0, s"tile($ty,$tx) padded($py,$px): border must be unavailable")
          assert(t.pixels(i) == ND)
        } else {
          assert(t.mask(i) == 1, s"tile($ty,$tx) padded($py,$px): interior must be available")
          assert(t.pixels(i) == gy * 1000.0 + gx, s"tile($ty,$tx) padded($py,$px)")
        }
      }
    }
  }

  /** Single-array bilinear 2× reference (same tap order as the kernel). */
  def bilinearRef(g: Array[Double], valid: Array[Boolean], h: Int, w: Int): (Array[Double], Array[Boolean]) = {
    val oh = (h + 1) / 2
    val ow = (w + 1) / 2
    val out = new Array[Double](oh * ow)
    val ov = new Array[Boolean](oh * ow)
    val wt = Array(0.25, 0.75, 0.75, 0.25)
    for (oy <- 0 until oh; ox <- 0 until ow) {
      var sum = 0.0
      var wsum = 0.0
      for (iy <- 0 until 4; ix <- 0 until 4) {
        val sy = 2 * oy - 1 + iy
        val sx = 2 * ox - 1 + ix
        if (sy >= 0 && sy < h && sx >= 0 && sx < w && valid(sy * w + sx)) {
          sum += wt(iy) * wt(ix) * g(sy * w + sx)
          wsum += wt(iy) * wt(ix)
        }
      }
      val oi = oy * ow + ox
      if (wsum == 0) { out(oi) = ND; ov(oi) = false }
      else { out(oi) = sum / wsum; ov(oi) = true }
    }
    (out, ov)
  }

  /** Independent weight tables (hand-derived, not shared with the
    * engine code): tent, gauss σ=0.6, Catmull-Rom, B-spline, Lanczos-3
    * at the 2×-downsample tap distances. */
  val kernelTables: Map[String, (Int, Array[Double])] = {
    def lz(x: Double) = if (x == 0) 1.0
      else 3 * math.sin(math.Pi * x) * math.sin(math.Pi * x / 3) / (math.Pi * x * math.Pi * x)
    Map(
      "bilinear" -> ((-1, Array(0.25, 0.75, 0.75, 0.25))),
      "gauss" -> ((-1, Array(math.exp(-2.25 / 0.72), math.exp(-0.25 / 0.72),
        math.exp(-0.25 / 0.72), math.exp(-2.25 / 0.72)))),
      "cubic" -> ((-1, Array(-1.0 / 16, 9.0 / 16, 9.0 / 16, -1.0 / 16))),
      "cubicspline" -> ((-1, Array(0.125 / 6, 2.875 / 6, 2.875 / 6, 0.125 / 6))),
      "lanczos" -> ((-2, Array(lz(2.5), lz(1.5), lz(0.5), lz(0.5), lz(1.5), lz(2.5)))))
  }

  /** Single-array separable 2× reference with renormalization. */
  def sepRef(g: Array[Double], valid: Array[Boolean], h: Int, w: Int,
      s: Int, wt: Array[Double]): (Array[Double], Array[Boolean]) = {
    val oh = (h + 1) / 2
    val ow = (w + 1) / 2
    val out = new Array[Double](oh * ow)
    val ov = new Array[Boolean](oh * ow)
    for (oy <- 0 until oh; ox <- 0 until ow) {
      var sum = 0.0
      var wsum = 0.0
      for (iy <- wt.indices; ix <- wt.indices) {
        val sy = 2 * oy + s + iy
        val sx = 2 * ox + s + ix
        if (sy >= 0 && sy < h && sx >= 0 && sx < w && valid(sy * w + sx)) {
          sum += wt(iy) * wt(ix) * g(sy * w + sx)
          wsum += wt(iy) * wt(ix)
        }
      }
      val oi = oy * ow + ox
      if (math.abs(wsum) < 1e-9) { out(oi) = ND; ov(oi) = false }
      else { out(oi) = sum / wsum; ov(oi) = true }
    }
    (out, ov)
  }

  test("every halo kernel: tiled step == single-array reference; constants preserved") {
    val s = spark
    import s.implicits._
    val (hG, wG) = (44, 37)
    val g = Array.tabulate(hG * wG) { i =>
      if (SyntheticRaster.pixelAt(7L, i / wG, i % wG, ND) == ND) ND
      else math.sin(i * 0.7) * 50 + (i % 13)
    }
    val valid = g.map(_ != ND)
    for (kernel <- kernelTables.keys) {
      val p = RasterProfile(wG, hG, blockSize = 16, nodata = ND, resampling = kernel)
      val (gw, gh) = p.gridDims(0)
      val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
        val (h, w) = p.tileDims(0, ty, tx)
        val px = Array.tabulate(h * w)(i => g((ty * 16 + i / w) * wG + tx * 16 + i % w))
        Tile(0, ty, tx, h, w, px, null)
      }
      val got = HaloExchange.nextLevel(s.createDataset(tiles), p, level = 0)
        .collect().map(t => (t.ty, t.tx) -> t).toMap
      val (tapS, wt) = kernelTables(kernel)
      val (refPx, refV) = sepRef(g, valid, hG, wG, tapS, wt)
      val (w1, _) = p.levelDims(1)
      for (((ty, tx), t) <- got; y <- 0 until t.h; x <- 0 until t.w) {
        val gi = (ty * 16 + y) * w1 + tx * 16 + x
        val gotV = t.pixels(y * t.w + x)
        assert(math.abs(gotV - refPx(gi)) < 1e-9 || (gotV == ND && refPx(gi) == ND),
          s"$kernel level1 (${ty * 16 + y},${tx * 16 + x}): got $gotV want ${refPx(gi)}")
        assert((t.mask(y * t.w + x) == 1) == refV(gi), s"$kernel mask at $gi")
      }
      // constant raster through the full pyramid stays constant
      val pc = RasterProfile(96, 64, blockSize = 16, nodata = ND,
        resampling = kernel, minOverviewSize = 16)
      val (cgw, cgh) = pc.gridDims(0)
      val ctiles = for (ty <- 0 until cgh; tx <- 0 until cgw) yield {
        val (h, w) = pc.tileDims(0, ty, tx)
        Tile(0, ty, tx, h, w, Array.fill(h * w)(4.5), null)
      }
      val levels = Pyramid.build(s.createDataset(ctiles), pc)
      for (ds <- levels.tail; t <- ds.collect())
        assert(t.pixels.forall(v => math.abs(v - 4.5) < 1e-12), s"$kernel constant drift")
      levels.foreach(_.unpersist())
    }
  }

  test("lanczos (k=6) with 1-px trailing tiles == single-array reference") {
    // 33×17, bs 16 → trailing column width 1 and trailing row height 1:
    // the reference merges such chunks (min_chunk_dim=12,
    // ccog/ccog.py:481-496) because dask halos can't cross two chunk
    // boundaries; our regular grid never places a narrow tile in the
    // interior, so 8-neighbor strips + border-mask renormalization
    // already reproduce the single-array result exactly.
    val s = spark
    import s.implicits._
    val (hG, wG) = (17, 33)
    val p = RasterProfile(wG, hG, blockSize = 16, nodata = ND, resampling = "lanczos")
    val g = Array.tabulate(hG * wG)(i => math.cos(i * 0.31) * 40 + (i % 7))
    val (gw, gh) = p.gridDims(0)
    assert(gw == 3 && gh == 2) // 16+16+1, 16+1
    val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      val px = Array.tabulate(h * w)(i => g((ty * 16 + i / w) * wG + tx * 16 + i % w))
      Tile(0, ty, tx, h, w, px, null)
    }
    val got = HaloExchange.nextLevel(s.createDataset(tiles), p, level = 0)
      .collect().map(t => (t.ty, t.tx) -> t).toMap
    val (tapS, wt) = kernelTables("lanczos")
    val (refPx, _) = sepRef(g, g.map(_ => true), hG, wG, tapS, wt)
    val (w1, _) = p.levelDims(1)
    for (((ty, tx), t) <- got; y <- 0 until t.h; x <- 0 until t.w) {
      val gi = (ty * 16 + y) * w1 + tx * 16 + x
      assert(math.abs(t.pixels(y * t.w + x) - refPx(gi)) < 1e-9,
        s"(${ty * 16 + y},${tx * 16 + x})")
    }
  }

  test("tiled bilinear step == single-array reference (incl. nodata holes, odd edge)") {
    val s = spark
    import s.implicits._
    // 44×37 with blockSize 16 → 3×3 grid with clipped edges
    val (hG, wG) = (44, 37)
    val p = RasterProfile(wG, hG, blockSize = 16, nodata = ND, resampling = "bilinear")
    // deterministic pattern with nodata holes
    val g = Array.tabulate(hG * wG) { i =>
      if (SyntheticRaster.pixelAt(7L, i / wG, i % wG, ND) == ND) ND
      else math.sin(i * 0.7) * 50 + (i % 13)
    }
    val valid = g.map(_ != ND)
    val (gw, gh) = p.gridDims(0)
    val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      val px = Array.tabulate(h * w)(i => g((ty * 16 + i / w) * wG + tx * 16 + i % w))
      Tile(0, ty, tx, h, w, px, null)
    }
    val got = HaloExchange.nextLevel(s.createDataset(tiles), p, level = 0)
      .collect().map(t => (t.ty, t.tx) -> t).toMap

    val (refPx, refV) = bilinearRef(g, valid, hG, wG)
    val (w1, h1) = p.levelDims(1) // (19, 22)
    val (gw1, gh1) = p.gridDims(1)
    assert(got.size == gw1 * gh1)
    for (ty <- 0 until gh1; tx <- 0 until gw1) {
      val t = got((ty, tx))
      for (y <- 0 until t.h; x <- 0 until t.w) {
        val gy = ty * 16 + y
        val gx = tx * 16 + x
        val want = refPx(gy * w1 + gx)
        val gotV = t.pixels(y * t.w + x)
        assert(gotV == want, s"level1 ($gy,$gx): got $gotV want $want")
        assert((t.mask(y * t.w + x) == 1) == refV(gy * w1 + gx))
      }
    }
  }
}
