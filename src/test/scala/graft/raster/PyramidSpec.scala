package graft.raster

import graft.SparkSpec

/** Pyramid-driver invariants (SURVEY §5.2-2/3): depth table matches the
  * reference's loop semantics (reference ccog/ccog.py:56-100), level
  * dims halve with ceil, a constant raster stays constant through every
  * level, and full-valid even-dim average preserves the mean exactly. */
class PyramidSpec extends SparkSpec {

  test("maxLevel matches the reference depth-loop semantics") {
    def depth(w: Int, h: Int, minsize: Int = 256, count: Option[Int] = None) =
      RasterProfile(w, h, blockSize = 16, minOverviewSize = minsize,
        overviewCount = count).maxLevel
    // minsize mode: halve (floor) until BOTH dims <= minsize
    assert(depth(2048, 2048) == 3)
    assert(depth(512, 512) == 1)
    assert(depth(513, 513) == 1)  // 513//2 = 256, not > 256
    assert(depth(100, 100) == 0)
    assert(depth(257, 16) == 1)
    assert(depth(4096, 256) == 4)
    // fixed-count mode: stop at count or when max dim reaches 1
    assert(depth(1 << 20, 16, count = Some(2)) == 2)
    assert(depth(8, 8, count = Some(10)) == 3) // 8//8 = 1 stops the loop
  }

  test("levelDims ceil-halve and grid/tile dims are consistent") {
    val p = RasterProfile(1000, 600, blockSize = 256)
    assert(p.levelDims(0) == (1000, 600))
    assert(p.levelDims(1) == (500, 300))
    assert(p.levelDims(2) == (250, 150))
    assert(p.gridDims(0) == (4, 3))
    assert(p.tileDims(0, 0, 3) == (256, 232))  // (h, w): right edge clips w
    assert(p.tileDims(0, 2, 0) == (88, 256))   // bottom edge clips h
    // per level, clipped tile dims must sum to the level dims
    for (l <- 0 to p.maxLevel) {
      val (w, h) = p.levelDims(l)
      val (gw, gh) = p.gridDims(l)
      assert((0 until gw).map(tx => p.tileDims(l, 0, tx)._2).sum == w)
      assert((0 until gh).map(ty => p.tileDims(l, ty, 0)._1).sum == h)
    }
  }

  test("each level is grouped in one shuffle sized to its share of the width and its tiles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // 1024x768 in 128-px tiles: 48, 12, 4 and 1 tiles at levels 0-3
    val p = RasterProfile(1024, 768, blockSize = 128, minOverviewSize = 128)
    val lanczos = p.copy(resampling = "lanczos")
    def widths(ds: org.apache.spark.sql.Dataset[Tile]) =
      ds.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e.numPartitions }
    withConf("spark.sql.shuffle.partitions" -> "32", "spark.sql.adaptive.enabled" -> "false") {
      val level0 = SyntheticRaster.generate(spark, p, seed = 1L)
      // level 1 holds a quarter of the pixels: a quarter of the width
      assert(widths(Pyramid.nextLevel(level0, p, 0)) == Seq(8))
      // the halo pad groups level 0 at the whole width, the regroup level 1
      assert(widths(HaloExchange.nextLevel(level0, lanczos, 0)).sorted == Seq(8, 32))
      val levels = Pyramid.build(level0, p)
      try assert(levels.tail.map(_.rdd.getNumPartitions) == Seq(8, 2, 1))
      finally levels.foreach(_.unpersist())
    }
    withConf("spark.sql.shuffle.partitions" -> "64", "spark.sql.adaptive.enabled" -> "false") {
      // a quarter of 64 is 16, but level 1 has 12 tiles
      val level0 = SyntheticRaster.generate(spark, p, seed = 1L)
      assert(widths(Pyramid.nextLevel(level0, p, 0)) == Seq(12))
    }
  }

  def fullPyramid(profile: RasterProfile, value: Double): Seq[org.apache.spark.sql.Dataset[Tile]] = {
    val s = spark
    import s.implicits._
    val (gw, gh) = profile.gridDims(0)
    val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (h, w) = profile.tileDims(0, ty, tx)
      Tile(0, ty, tx, h, w, Array.fill(h * w)(value), null)
    }
    Pyramid.build(s.createDataset(tiles), profile)
  }

  test("constant raster stays constant at every level (average)") {
    val p = RasterProfile(100, 80, blockSize = 16, minOverviewSize = 16)
    assert(p.maxLevel == 3)
    val levels = fullPyramid(p, 7.25)
    for ((ds, l) <- levels.zipWithIndex) {
      val ts = ds.collect()
      val (gw, gh) = p.gridDims(l)
      assert(ts.length == gw * gh, s"level $l tile count")
      for (t <- ts) {
        val (eh, ew) = p.tileDims(l, t.ty, t.tx)
        assert(t.h == eh && t.w == ew, s"level $l tile (${t.ty},${t.tx}) dims")
        assert(t.pixels.forall(_ == 7.25), s"level $l not constant")
      }
    }
    levels.foreach(_.unpersist())
  }

  test("average preserves the mean exactly on full-valid even dims") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(64, 64, blockSize = 16, minOverviewSize = 16)
    val tiles = for (ty <- 0 until 4; tx <- 0 until 4) yield {
      val px = Array.tabulate(16 * 16)(i => ((ty * 16 + i / 16) * 64 + tx * 16 + i % 16).toDouble)
      Tile(0, ty, tx, 16, 16, px, null)
    }
    val levels = Pyramid.build(s.createDataset(tiles), p)
    val means = levels.map { ds =>
      val all = ds.collect().flatMap(_.pixels)
      all.sum / all.length
    }
    for (m <- means.tail)
      assert(math.abs(m - means.head) < 1e-9, s"means $means")
    levels.foreach(_.unpersist())
  }

  test("synthetic raster pyramid: masked/nodata pixels never leak values") {
    val p = RasterProfile(200, 120, blockSize = 16, nodata = -9999.0, minOverviewSize = 32)
    val levels = Pyramid.build(SyntheticRaster.generate(spark, p, seed = 42L), p)
    // level 0's mask and nodata are independent inputs; from level 1 on
    // the kernel fuses them: mask=0 ⟺ value=nodata
    for ((ds, l) <- levels.zipWithIndex.drop(1); t <- ds.collect(); i <- 0 until t.h * t.w) {
      if (t.mask(i) == 0)
        assert(t.pixels(i) == p.nodata, s"level $l: invalid pixel with a value")
      else
        assert(t.pixels(i) != p.nodata, s"level $l: valid pixel holding nodata")
    }
    levels.foreach(_.unpersist())
  }

  test("q_raster_pyramid_lanczos rollup == independent driver-side replica, bit-exact") {
    val ND = -9999.0
    val got = graft.queries.RasterQueries.pyramidRollup(spark, sfDir, "lanczos")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

    // independent multi-level replica on the full array: same 512×384
    // synthetic raster (seed 5), same Lanczos-3 taps and validity rule,
    // same PER-TILE double accumulation then decimal(38,10)
    // quantization — so the comparison is EXACT equality, no tolerance
    val prof = RasterProfile(512, 384, blockSize = 128, nodata = ND,
      resampling = "lanczos", minOverviewSize = 128)
    def lz(x: Double) = {
      val px = math.Pi * x
      3 * math.sin(px) * math.sin(px / 3) / (px * px)
    }
    val wt = Array(lz(2.5), lz(1.5), lz(0.5), lz(0.5), lz(1.5), lz(2.5))
    val s = -2
    var w = 512
    var h = 384
    var px = Array.tabulate(h * w)(i =>
      SyntheticRaster.pixelAt(5L, i / w, i % w, ND))
    var avail = Array.tabulate(h * w)(i =>
      SyntheticRaster.maskAt(5L, i / w, i % w) != 0 && px(i) != ND)

    def rollup(level: Int): (Long, Long, Double) = {
      val bs = 128
      val (gw, gh) = ((w + bs - 1) / bs, (h + bs - 1) / bs)
      var valid = 0L
      var sumDec = BigDecimal(0)
      for (ty <- 0 until gh; tx <- 0 until gw) {
        var tileSum = 0.0 // per-tile DOUBLE accumulation, row-major
        val (th, tw) = (math.min(bs, h - ty * bs), math.min(bs, w - tx * bs))
        for (y <- 0 until th; x <- 0 until tw) {
          val gi = (ty * bs + y) * w + tx * bs + x
          if (avail(gi)) { valid += 1; tileSum += px(gi) }
        }
        sumDec += BigDecimal(java.math.BigDecimal.valueOf(tileSum)
          .setScale(10, java.math.RoundingMode.HALF_UP))
      }
      val mean = java.math.BigDecimal.valueOf(sumDec.toDouble / valid)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      (gw.toLong * gh, valid, mean)
    }

    def next(): Unit = {
      val (oh, ow) = ((h + 1) / 2, (w + 1) / 2)
      val out = new Array[Double](oh * ow)
      val oav = new Array[Boolean](oh * ow)
      for (oy <- 0 until oh; ox <- 0 until ow) {
        var sum = 0.0
        var wsum = 0.0
        for (iy <- 0 until 6; ix <- 0 until 6) { // engine tap order
          val sy = 2 * oy + s + iy
          val sx = 2 * ox + s + ix
          if (sy >= 0 && sy < h && sx >= 0 && sx < w && avail(sy * w + sx)) {
            val wgt = wt(iy) * wt(ix)
            sum += wgt * px(sy * w + sx)
            wsum += wgt
          }
        }
        val oi = oy * ow + ox
        if (math.abs(wsum) < 1e-9) { out(oi) = ND; oav(oi) = false }
        else { out(oi) = sum / wsum; oav(oi) = true }
      }
      px = out; avail = oav; h = oh; w = ow
    }

    assert(got.keySet == (0 to prof.maxLevel).toSet)
    for (l <- 0 to prof.maxLevel) {
      val want = rollup(l)
      assert(got(l) == want,
        s"level $l: got ${got(l)}, replica $want — the stencil-join " +
          "pyramid must reproduce the single-array lanczos exactly")
      if (l < prof.maxLevel) next()
    }
  }
}
