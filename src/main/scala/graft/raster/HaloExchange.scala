package graft.raster

import org.apache.spark.sql.Dataset

/** Halo (stencil) exchange — the engine form of the reference's
  * dask overlap step (reference ccog/ccog.py:614-616; widths per kernel
  * ccog/ccog.py:43-53). Wide resampling kernels read up to `k` source
  * pixels beyond the 2×2 block, so each tile needs a k-px border from
  * its 8 neighbors before downsampling.
  *
  * Spark-first shape: a `flatMap` emits each tile once whole (to its own
  * key) plus up to 8 edge strips (each ≤ k·blockSize px, addressed to
  * the neighbor's key), and ONE grouping by tile reassembles the padded
  * tiles — a single shuffle whose payload is the strips only
  * (≈ 8k/blockSize of the raster volume, e.g. 1.6% at k=2, bs=256),
  * never a replication of whole tiles.
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
  * HaloSpec).
  */
object HaloExchange {

  /** One piece of a padded tile: `slot` = (dy+1)*3+(dx+1) names which
    * neighbor direction the piece fills (4 = the tile itself). */
  case class Piece(level: Int, ty: Int, tx: Int, slot: Int,
      h: Int, w: Int, pixels: Array[Double], mask: Array[Byte])

  /** Copy the rectangle [y0,y0+ph)×[x0,x0+pw) out of tile t —
    * band-major planes + the shared mask plane. */
  private def crop(t: Tile, y0: Int, x0: Int, ph: Int, pw: Int): (Array[Double], Array[Byte]) = {
    val bands = t.bands
    val plane = t.h * t.w
    val px = new Array[Double](bands * ph * pw)
    val mk = if (t.mask == null) null else new Array[Byte](ph * pw)
    var b = 0
    while (b < bands) {
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          px(b * ph * pw + y * pw + x) = t.pixels(b * plane + (y0 + y) * t.w + (x0 + x))
          x += 1
        }
        y += 1
      }
      b += 1
    }
    if (mk != null) {
      var y = 0
      while (y < ph) {
        var x = 0
        while (x < pw) {
          mk(y * pw + x) = t.mask((y0 + y) * t.w + (x0 + x))
          x += 1
        }
        y += 1
      }
    }
    (px, mk)
  }

  /** Padded tiles of `level`: (h+2k)×(w+2k) arrays; `mask` is
    * authoritative for availability (0 = no data there: border-of-raster
    * or invalid). */
  def padded(tiles: Dataset[Tile], profile: RasterProfile, k: Int,
      level: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val nodata = profile.nodata

    val bands = profile.bands
    val pieces = tiles.flatMap { t =>
      val (gw, gh) = profile.gridDims(t.level)
      val out = Seq.newBuilder[Piece]
      out += Piece(t.level, t.ty, t.tx, 4, t.h, t.w, t.pixels,
        if (t.mask == null) Array.fill[Byte](t.h * t.w)(1) else t.mask)
      var dy = -1
      while (dy <= 1) {
        var dx = -1
        while (dx <= 1) {
          if ((dy != 0 || dx != 0)
              && t.ty + dy >= 0 && t.ty + dy < gh
              && t.tx + dx >= 0 && t.tx + dx < gw) {
            // strip of THIS tile adjacent to that neighbor; in the
            // neighbor's padded frame it fills the OPPOSITE slot
            val ph = if (dy == 0) t.h else math.min(k, t.h)
            val pw = if (dx == 0) t.w else math.min(k, t.w)
            val y0 = if (dy == 1) t.h - ph else 0
            val x0 = if (dx == 1) t.w - pw else 0
            val (px, mk) = crop(t, y0, x0, ph, pw)
            val slot = (-dy + 1) * 3 + (-dx + 1)
            out += Piece(t.level, t.ty + dy, t.tx + dx, slot, ph, pw, px,
              if (mk == null) Array.fill[Byte](ph * pw)(1) else mk)
          }
          dx += 1
        }
        dy += 1
      }
      out.result()
    }

    Pyramid.byTile(pieces, profile, level)
      .mapGroups { (key: (Int, Int, Int), ps: Iterator[Piece]) =>
        val (level, ty, tx) = key
        val (th, tw) = profile.tileDims(level, ty, tx)
        val H = th + 2 * k
        val W = tw + 2 * k
        val pixels = new Array[Double](bands * H * W)
        java.util.Arrays.fill(pixels, nodata)
        val mask = new Array[Byte](H * W) // 0 = unavailable
        ps.foreach { p =>
          val dy = p.slot / 3 - 1 // sender's position relative to this tile
          val dx = p.slot % 3 - 1
          // destination origin in the padded frame
          val oy = if (dy == -1) k - p.h else if (dy == 0) k else k + th
          val ox = if (dx == -1) k - p.w else if (dx == 0) k else k + tw
          var b = 0
          while (b < bands) {
            val srcBase = b * p.h * p.w
            val dstBase = b * H * W
            var y = 0
            while (y < p.h) {
              var x = 0
              while (x < p.w) {
                pixels(dstBase + (oy + y) * W + (ox + x)) = p.pixels(srcBase + y * p.w + x)
                x += 1
              }
              y += 1
            }
            b += 1
          }
          var y = 0
          while (y < p.h) {
            var x = 0
            while (x < p.w) {
              mask((oy + y) * W + (ox + x)) = p.mask(y * p.w + x)
              x += 1
            }
            y += 1
          }
        }
        Tile(level, ty, tx, th, tw, pixels, mask)
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
    val nodata = profile.nodata
    val kernel = profile.resampling
    val quads = padded(tiles, profile, k, level).map { p =>
      // p: padded tile; p.h/p.w are the UNPADDED dims by construction
      val (px, mk) = HaloKernels.downsample2x(kernel, p, k, nodata)
      Quadrant(p.level + 1, p.ty / 2, p.tx / 2, p.ty % 2, p.tx % 2,
        (p.h + 1) / 2, (p.w + 1) / 2, px, mk)
    }
    Pyramid.regroup(quads, profile, level + 1)
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
