package graft.raster

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.Dataset

/** The fused pyramid-and-encode write ([[PyramidEncode]]) against the
  * per-level reference ([[Pyramid.build]]): every page it stores is the
  * encode of the reference tile, every tile read back through
  * [[CogReader]] equals the reference tile, and the object's bytes do
  * not depend on the input partitioning or on the shuffle width (which
  * sets the block edge). */
class PyramidEncodeSpec extends SparkSpec {

  val ND = -9999.0

  /** 2 bands, mask pages, 3 overview levels; tile (0, 0) blanked so one
    * tile of every level is sparse or partly empty. */
  val base = RasterProfile(150, 130, blockSize = 16, bands = 2, nodata = ND,
    resampling = "average", minOverviewSize = 32, maskPages = true)

  def synthetic(prof: RasterProfile, seed: Long): Dataset[Tile] = {
    val s = spark
    import s.implicits._
    val nd = ND
    SyntheticRaster.generate(spark, prof, seed).map { t =>
      if (t.ty == 0 && t.tx == 0) t.copy(pixels = Array.fill(t.pixels.length)(nd)) else t
    }
  }

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def write(level0: Dataset[Tile], prof: RasterProfile): Array[Byte] =
    CogWriter.writeBytes(level0, prof, Files.createTempDirectory("graft-fused").toString)._1

  /** Write `level0` and check every page and every decoded tile of
    * every level against the per-level reference pyramid. */
  def assertMatchesReference(level0: Dataset[Tile], prof: RasterProfile): Array[Byte] = {
    val levels = Pyramid.build(level0, prof)
    val ref = try levels.flatMap(_.collect()).map(t => (t.level, t.ty, t.tx) -> t).toMap
      finally levels.foreach(_.unpersist(blocking = true))
    assert(ref.size == prof.totalTiles)
    val bytes = write(level0, prof)

    // stored pages: byte-identical to the encode of the reference tile
    for ((pg, spec) <- BigTiff.readPages(bytes).zip(BigTiff.pageSpecs(prof))) {
      val (gw, _) = prof.gridDims(spec.level)
      for (i <- pg.offsets.indices) {
        val t = ref((spec.level, i / gw, i % gw))
        val want = if (spec.isMask) TileCodec.encodeMask(t, prof) else TileCodec.encode(t, prof)
        assert(pg.counts(i) == want.nbytes, s"page $spec tile $i size")
        assert(java.util.Arrays.equals(
          bytes.slice(pg.offsets(i).toInt, (pg.offsets(i) + pg.counts(i)).toInt), want.bytes),
          s"page $spec tile $i bytes")
      }
    }

    // decoded tiles: the reference's pixels where valid, nodata where
    // not, bit for bit; the mask plane is the any-band validity
    val f = Files.createTempFile("graft-fused", ".tif")
    Files.write(f, bytes)
    val spu = if (TileCodec.isComplex(prof.dtype)) 2 else 1
    for (l <- 0 to prof.maxLevel) {
      val got = CogReader.read(spark, "file://" + f, prof, l).collect()
      assert(got.length == prof.tilesPerLevel(l), s"level $l tile count")
      for (t <- got) {
        val e = ref((l, t.ty, t.tx))
        val plane = e.h * e.w
        assert(t.h == e.h && t.w == e.w, s"level $l tile (${t.ty}, ${t.tx}) dims")
        def valid(b: Int, i: Int): Boolean =
          if (spu == 1) e.valid(b * plane + i, ND)
          else (e.mask == null || e.mask(i) != 0) &&
            (0 until 2).exists(c => e.pixels((b * plane + i) * 2 + c) != ND)
        for (b <- 0 until prof.bands; i <- 0 until plane; c <- 0 until spu) {
          val k = (b * plane + i) * spu + c
          val want = if (valid(b, i)) e.pixels(k) else ND
          assert(java.lang.Double.doubleToRawLongBits(t.pixels(k)) ==
            java.lang.Double.doubleToRawLongBits(want),
            s"level $l tile (${t.ty}, ${t.tx}) band $b px $i comp $c")
        }
        if (prof.maskPages)
          for (i <- 0 until plane)
            assert((t.mask(i) != 0) == (0 until prof.bands).exists(valid(_, i)),
              s"level $l tile (${t.ty}, ${t.tx}) mask $i")
      }
    }
    Files.delete(f)
    bytes
  }

  // bilinear is a halo kernel: the writer's per-level path
  for (kernel <- Seq("average", "nearest", "mode", "rms", "bilinear"))
    test(s"$kernel: every page and decoded tile equals Pyramid.build's") {
      val prof = base.copy(resampling = kernel)
      val bytes = assertMatchesReference(synthetic(prof, seed = 5L), prof)
      // tile (0, 0) of level 0 is blank: stored sparse, data and mask
      val pages = BigTiff.readPages(bytes)
      assert(pages.head.counts(0) == 0 && pages(prof.maxLevel + 1).counts(0) == 0)
    }

  test("complex128: every page and decoded tile equals Pyramid.build's") {
    val s = spark
    import s.implicits._
    val prof = RasterProfile(72, 56, blockSize = 16, nodata = ND, dtype = "complex128",
      minOverviewSize = 16, resampling = "average")
    val (gw, gh) = prof.gridDims(0)
    val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (th, tw) = prof.tileDims(0, ty, tx)
      val px = Array.tabulate(th * tw * 2) { k =>
        val (y, x) = (ty * 16 + k / 2 / tw, tx * 16 + k / 2 % tw)
        // a nodata hole so average blocks see partial validity
        if (y >= 10 && y < 14 && x >= 20 && x < 27) ND
        else if (k % 2 == 0) (x * 31 + y * 7) % 211 - 20.5 else -((x * 13 + y * 17) % 97) + 8.25
      }
      Tile(0, ty, tx, th, tw, px, null)
    }
    assert(prof.maxLevel == 3)
    assertMatchesReference(spark.createDataset(tiles), prof)
  }

  test("a deep overview_count: one round spans three levels, and all levels match") {
    val prof = base.copy(width = 300, height = 260, bands = 1, overviewCount = Some(5))
    assert(prof.maxLevel == 5)
    // level 1 is 10x9 tiles: 4x4-tile blocks still leave 9 >= 4 blocks,
    // so the first round builds levels 1-3; level 4 (2x2 tiles) gets
    // its own round, level 5 the last
    assert(PyramidEncode.blockLog(prof, 1, 4) == 2)
    assert(PyramidEncode.blockLog(prof, 4, 4) == 0)
    assert(PyramidEncode.blockLog(prof, 5, 4) == 0)
    assertMatchesReference(synthetic(prof, seed = 23L), prof)
  }

  test("block edge: the largest that leaves a block per shuffle partition, capped") {
    // level 1 of the base profile is 5x5 tiles, level 3 is 2x2
    assert(PyramidEncode.blockLog(base, 1, 1) == 2) // cap: 4x4 tiles
    assert(PyramidEncode.blockLog(base, 1, 4) == 2) // 2x2 blocks of 4x4
    assert(PyramidEncode.blockLog(base, 1, 8) == 1) // 3x3 blocks of 2x2
    assert(PyramidEncode.blockLog(base, 1, 25) == 0)
    // fewer tiles than partitions: the rest of the pyramid, one block
    assert(PyramidEncode.blockLog(base, 1, 32) == 2)
    assert(PyramidEncode.blockLog(base, 3, 8) == 0) // the top level
    // a big level never exceeds the tile budget
    val big = RasterProfile(1 << 14, 1 << 14, blockSize = 16)
    assert(PyramidEncode.blockLog(big, 1, 1) == PyramidEncode.MaxBlockLog)
  }

  test("sha256 does not depend on input partitioning or shuffle width") {
    val prof = base
    val level0 = synthetic(prof, seed = 7L)
    val want = sha256(write(level0, prof))
    for (n <- Seq(1, 3, 7))
      assert(sha256(write(level0.repartition(n), prof)) == want, s"$n input partitions")
    for (p <- Seq(1, 4, 8)) {
      val got = withConf("spark.sql.shuffle.partitions" -> p.toString) {
        sha256(write(level0, prof))
      }
      assert(got == want, s"$p shuffle partitions")
    }
  }
}
