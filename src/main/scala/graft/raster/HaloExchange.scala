package graft.raster

import org.apache.spark.sql.Dataset

/** Halo (stencil) exchange — the engine form of the reference's
  * dask overlap step (reference ccog/ccog.py:614-616; widths per kernel
  * ccog/ccog.py:43-53). Wide resampling kernels read up to `k` source
  * pixels beyond the 2×2 block, so each tile needs a k-px border from
  * its 8 neighbors before downsampling.
  *
  * Spark-first shape: [[spread]] sends each patch of a tile to its own
  * frame plus, cropped, to the halo ring of each of the 8 neighbours it
  * borders, and ONE grouping by tile pastes the padded tiles — a single
  * shuffle whose extra payload is the strips only (≈ 8k/blockSize of
  * the raster volume, e.g. 1.6% at k=2, bs=256), never a replication of
  * whole tiles. [[PyramidEncode]] spreads its quadrants the same way, so
  * each of its halo rounds stays one exchange.
  *
  * Raster-border sides have no neighbor: those padded cells stay
  * mask=0 and the kernel renormalizes over the weights that exist —
  * the engine-native analog of the reference's `None` border slices
  * (ccog/ccog.py:503-508).
  *
  * The reference additionally merges trailing chunks narrower than
  * min_chunk_dim=12 (`_chunk_adjuster`, ccog/ccog.py:481-496) because
  * a dask halo cannot cross two chunk boundaries. Our grid never
  * places a narrow tile in the interior — trailing tiles are always
  * the last row/column, so any tap beyond them is past the raster
  * border, which mask-0 renormalization already handles: no merge
  * step needed (proven for k=6 lanczos over 1-px trailing tiles in
  * HaloSpec). Neither does a quadrant: blockSize is a multiple of 16,
  * so an interior quadrant is at least 8 px, wider than any halo.
  */
object HaloExchange {

  /** Patch `p`, addressed to its tile's unpadded frame, re-addressed to
    * that tile's frame padded by `k`, plus its crop into the halo ring of
    * each neighbour it borders. k < blockSize, so no crop reaches past
    * the 8 neighbours. Real-valued planes only: the halo kernels refuse
    * complex dtypes. */
  def spread(p: Patch, k: Int, profile: RasterProfile): Iterator[Patch] =
    if (k == 0) Iterator(p)
    else {
      val bs = profile.blockSize
      val (gw, gh) = profile.gridDims(p.level)
      for {
        dy <- Iterator(-1, 0, 1)
        dx <- Iterator(-1, 0, 1)
        (ny, nx) = (p.ty + dy, p.tx + dx)
        if ny >= 0 && ny < gh && nx >= 0 && nx < gw
        // the neighbour's padded frame, in this tile's coordinates
        (nh, nw) = profile.tileDims(p.level, ny, nx)
        (fy, fx) = (dy * bs - k, dx * bs - k)
        y0 = math.max(p.oy, fy)
        x0 = math.max(p.ox, fx)
        y1 = math.min(p.oy + p.h, fy + nh + 2 * k)
        x1 = math.min(p.ox + p.w, fx + nw + 2 * k)
        if y0 < y1 && x0 < x1
      } yield
        if (dy == 0 && dx == 0) p.copy(oy = p.oy + k, ox = p.ox + k)
        else {
          val (px, mk) = crop(p.pixels, p.mask, p.h, p.w, y0 - p.oy, x0 - p.ox, y1 - y0, x1 - x0)
          Patch(p.level, ny, nx, y0 - fy, x0 - fx, y1 - y0, x1 - x0, px, mk)
        }
    }

  /** Tile `t` as the one patch that fills its unpadded frame. */
  def whole(t: Tile): Patch = Patch(t.level, t.ty, t.tx, 0, 0, t.h, t.w, t.pixels, t.mask)

  /** The unpadded tile inside `t`, a tile padded by `k`. */
  def core(t: Tile, k: Int): Tile =
    if (k == 0) t
    else {
      val (px, mk) = crop(t.pixels, t.mask, t.h + 2 * k, t.w + 2 * k, k, k, t.h, t.w)
      t.copy(pixels = px, mask = mk)
    }

  /** Copy the rectangle [y0,y0+ch)×[x0,x0+cw) out of the h×w planes
    * `px` (band-major) and the shared mask plane `mk`. */
  private def crop(px: Array[Double], mk: Array[Byte], h: Int, w: Int,
      y0: Int, x0: Int, ch: Int, cw: Int): (Array[Double], Array[Byte]) = {
    val planes = px.length / (h * w)
    val out = new Array[Double](planes * ch * cw)
    var b = 0
    while (b < planes) {
      var y = 0
      while (y < ch) {
        System.arraycopy(px, b * h * w + (y0 + y) * w + x0, out, (b * ch + y) * cw, cw)
        y += 1
      }
      b += 1
    }
    val omk = if (mk == null) null else new Array[Byte](ch * cw)
    if (mk != null) {
      var y = 0
      while (y < ch) {
        System.arraycopy(mk, (y0 + y) * w + x0, omk, y * cw, cw)
        y += 1
      }
    }
    (out, omk)
  }

  /** Padded tiles of `level`: (h+2k)×(w+2k) arrays; `mask` is
    * authoritative for availability (0 = no data there: border-of-raster
    * or invalid). */
  def padded(tiles: Dataset[Tile], profile: RasterProfile, k: Int,
      level: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    Pyramid.byTile(tiles.flatMap(t => spread(whole(t), k, profile)), profile, level)
      .mapGroups { (key: (Int, Int, Int), ps: Iterator[Patch]) =>
        Pyramid.paste(key._1, key._2, key._3, k, ps, profile)
      }
  }

  /** Halo path of the pyramid step from tiles at `level`: pad with k,
    * run the wide kernel, regroup quadrants exactly like the halo-free
    * path. */
  def nextLevel(tiles: Dataset[Tile], profile: RasterProfile, level: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val k = Kernels.haloWidth(profile.resampling)
    require(k > 0, s"${profile.resampling} is halo-free; use Pyramid.nextLevel")
    Pyramid.regroup(padded(tiles, profile, k, level).map(Pyramid.quadrant(_, profile)),
      profile, level + 1)
  }
}

/** Wide (halo-needing) 2× downsample kernels over PADDED tiles: all
  * separable filters. Output (oy,ox) is centred at source
  * (2oy+.5, 2ox+.5); per-axis taps sit at 2o+s .. 2o+s+T-1 with weight
  * table `wt`. Weights of unavailable taps (masked, nodata, or beyond
  * the raster border) are dropped and the rest renormalized;
  * all-unavailable (or degenerate weight sum, possible with negative
  * cubic/lanczos lobes) → nodata. Semantics are engine-defined and
  * golden-tested, not GDAL-byte-identical (SURVEY §7.4.3; the reference
  * concedes non-identical layouts are valid COGs, README.md:69). */
object HaloKernels {

  /** sinc(x)·sinc(x/a) Lanczos weight. */
  private def lanczosW(x: Double, a: Double): Double =
    if (x == 0) 1.0
    else {
      val px = math.Pi * x
      a * math.sin(px) * math.sin(px / a) / (px * px)
    }

  /** (tapStart s, per-axis weights at distances |2o+s+i - (2o+0.5)|). */
  private def tapTable(kernel: String): (Int, Array[Double]) = kernel match {
    // tent at d = 1.5, 0.5, 0.5, 1.5
    case "bilinear" => (-1, Array(0.25, 0.75, 0.75, 0.25))
    // gaussian σ=0.6 at the same taps
    case "gauss" =>
      val s2 = 2 * 0.6 * 0.6
      (-1, Array(math.exp(-2.25 / s2), math.exp(-0.25 / s2),
        math.exp(-0.25 / s2), math.exp(-2.25 / s2)))
    // Catmull-Rom at d = 1.5, 0.5 (negative outer lobes)
    case "cubic" => (-1, Array(-0.0625, 0.5625, 0.5625, -0.0625))
    // cubic B-spline at the same taps (all-positive, smoothing)
    case "cubicspline" => (-1, Array(0.125 / 6, 2.875 / 6, 2.875 / 6, 0.125 / 6))
    // Lanczos a=3, taps at d = 2.5, 1.5, 0.5 mirrored
    case "lanczos" =>
      (-2, Array(lanczosW(2.5, 3), lanczosW(1.5, 3), lanczosW(0.5, 3),
        lanczosW(0.5, 3), lanczosW(1.5, 3), lanczosW(2.5, 3)))
    case other => throw new IllegalArgumentException(s"unsupported halo kernel $other")
  }

  def downsample2x(kernel: String, padded: Tile, k: Int, nodata: Double): (Array[Double], Array[Byte]) = {
    val (s, wt) = tapTable(kernel)
    val taps = wt.length
    val h = padded.h
    val w = padded.w
    val H = h + 2 * k
    val W = w + 2 * k
    val bands = padded.pixels.length / (H * W)
    val oh = (h + 1) / 2
    val ow = (w + 1) / 2
    val out = new Array[Double](bands * oh * ow)
    val omask = new Array[Byte](oh * ow)
    var b = 0
    while (b < bands) {
      val base = b * H * W
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var sum = 0.0
          var wsum = 0.0
          var iy = 0
          while (iy < taps) {
            val sy = 2 * oy + s + iy
            var ix = 0
            while (ix < taps) {
              val sx = 2 * ox + s + ix
              val pi = (sy + k) * W + (sx + k)
              // taps reach at most |s| resp. s+T-1 px outside the tile:
              // within the padded frame for every k in Kernels.haloWidth
              if (padded.mask(pi) != 0 && padded.pixels(base + pi) != nodata) {
                val wgt = wt(iy) * wt(ix)
                sum += wgt * padded.pixels(base + pi)
                wsum += wgt
              }
              ix += 1
            }
            iy += 1
          }
          val oi = b * oh * ow + oy * ow + ox
          if (math.abs(wsum) < 1e-9) out(oi) = nodata
          else { out(oi) = sum / wsum; omask(oy * ow + ox) = 1 }
          ox += 1
        }
        oy += 1
      }
      b += 1
    }
    (out, omask)
  }
}
