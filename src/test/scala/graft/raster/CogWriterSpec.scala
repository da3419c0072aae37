package graft.raster

import graft.SparkSpec
import java.nio.file.Files

/** Golden end-to-end (SURVEY §5.2-3/4): seeded synthetic raster →
  * pyramid → encode → offsets → BigTIFF header → ordered multipart sink
  * → assembled bytes; then the file is parsed back with the minimal
  * BigTiff reader and every tile decoded and compared pixel-for-pixel
  * with the source — the engine's answer to the reference's
  * GDAL-oracle stance (reference README.md:69). */
class CogWriterSpec extends SparkSpec {

  val ND = -9999.0

  def tmpDir(): String =
    Files.createTempDirectory("graft-cog").toString

  /** 260×300, bs 16 → ragged edges both dims, 5 pyramid levels,
    * external offset arrays in the header. */
  val prof = RasterProfile(260, 300, blockSize = 16, nodata = ND,
    resampling = "average", minOverviewSize = 32, dtype = "float64")

  lazy val level0 = SyntheticRaster.generate(spark, prof, seed = 11L)
  lazy val written = CogWriter.writeBytes(level0, prof, tmpDir())

  test("assembled length = header + sum of part lengths; receipts contiguous") {
    val (bytes, res) = written
    assert(res.headerLen == BigTiff.headerLength(prof))
    assert(bytes.length.toLong == res.totalLen)
    assert(res.totalLen == res.headerLen + res.tileBytes)
    assert(res.nTiles == prof.totalTiles)
    assert(res.receipts.map(_.size).sum == res.totalLen)
  }

  test("header parses: one page per level, full-res first, dims/tags right") {
    val (bytes, res) = written
    val pages = BigTiff.readPages(bytes)
    assert(pages.length == prof.maxLevel + 1)
    for ((pg, l) <- pages.zipWithIndex) {
      val (w, h) = prof.levelDims(l)
      assert(pg.width == w && pg.height == h, s"level $l dims")
      assert(pg.tileW == 16 && pg.tileH == 16)
      assert(pg.compression == 8) // deflate
      assert(pg.bits == 64 && pg.sampleFormat == 3)
      assert(pg.offsets.length == prof.tilesPerLevel(l))
      assert(pg.counts.length == prof.tilesPerLevel(l))
    }
  }

  test("non-sparse offsets are in-bounds, non-overlapping, level-desc ordered") {
    val (bytes, res) = written
    val pages = BigTiff.readPages(bytes)
    val all = for {
      (pg, l) <- pages.zipWithIndex
      i <- pg.offsets.indices
      if pg.counts(i) > 0
    } yield (l, pg.offsets(i), pg.counts(i))
    for ((l, off, cnt) <- all) {
      assert(off >= res.headerLen, s"level $l tile inside header")
      assert(off + cnt <= bytes.length, s"level $l tile past EOF")
    }
    val sorted = all.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, o1, c1), (_, o2, _)) => assert(o1 + c1 <= o2, "overlap")
      case _ => ()
    }
    // file body order is (level desc, row-major): levels must be
    // non-increasing along ascending offsets (reference ccog/ccog.py:747)
    sorted.map(_._1).sliding(2).foreach {
      case Seq(l1, l2) => assert(l1 >= l2, "level order in body")
      case _ => ()
    }
  }

  test("decode-and-compare: every level-0 pixel round-trips exactly") {
    val (bytes, _) = written
    val pg = BigTiff.readPages(bytes).head
    val (gw, _) = prof.gridDims(0)
    var checked = 0
    for (ti <- pg.offsets.indices) {
      val ty = ti / gw
      val tx = ti % gw
      val (th, tw) = prof.tileDims(0, ty, tx)
      if (pg.counts(ti) > 0) {
        val comp = java.util.Arrays.copyOfRange(bytes,
          pg.offsets(ti).toInt, (pg.offsets(ti) + pg.counts(ti)).toInt)
        val px = TileCodec.decode(comp, prof)
        for (y <- 0 until th; x <- 0 until tw) {
          val want = {
            val v = SyntheticRaster.pixelAt(11L, ty * 16L + y, tx * 16L + x, ND)
            if (SyntheticRaster.maskAt(11L, ty * 16L + y, tx * 16L + x) == 0) ND else v
          }
          assert(px(y * 16 + x) == want, s"tile($ty,$tx) px($y,$x)")
          checked += 1
        }
        // padding beyond the clipped region is nodata
        for (y <- th until 16; x <- 0 until 16)
          assert(px(y * 16 + x) == ND)
      }
    }
    assert(checked > 50000) // sanity: we actually compared the raster
  }

  test("sparse region: all-nodata tiles get offset 0, count 0, no bytes") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(64, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 16, dtype = "float64")
    // left half constant 5.0, right half all nodata → 8 sparse tiles at L0
    val tiles = for (ty <- 0 until 4; tx <- 0 until 4) yield
      Tile(0, ty, tx, 16, 16,
        Array.fill(256)(if (tx < 2) 5.0 else ND), null)
    val (bytes, res) = CogWriter.writeBytes(s.createDataset(tiles), p, tmpDir())
    assert(res.nSparse >= 8)
    val pages = BigTiff.readPages(bytes)
    val pg0 = pages.head
    for (ti <- pg0.offsets.indices) {
      val sparse = pg0.counts(ti) == 0
      assert(sparse == (ti % 4 >= 2), s"tile $ti sparsity")
      if (sparse) assert(pg0.offsets(ti) == 0)
    }
    // overview of the valid half keeps the constant value
    val pgTop = pages.last
    val nonSparse = pgTop.counts.indices.filter(pgTop.counts(_) > 0)
    assert(nonSparse.nonEmpty)
  }

  test("fused stats equal a relational aggregation over the same pixels") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val (_, res) = written
    val nd = ND // local copy: the lambda must not capture the suite
    val rel = level0
      .flatMap(t => t.pixels.indices.map(i =>
        (t.pixels(i), (t.mask == null || t.mask(i) != 0) && t.pixels(i) != nd)))
      .toDF("v", "valid")
      .agg(count(lit(1)), sum(when($"valid", 1L).otherwise(0L)),
        avg(when($"valid", $"v")), stddev_pop(when($"valid", $"v")),
        min(when($"valid", $"v")), max(when($"valid", $"v")))
      .head()
    val st = res.stats.head
    assert(st.pxTotal == rel.getLong(0))
    assert(st.pxValid == rel.getLong(1))
    assert(math.abs(st.mean - rel.getDouble(2)) < 1e-9)
    assert(math.abs(st.stddev - rel.getDouble(3)) < 1e-6)
    assert(st.min == rel.getDouble(4))
    assert(st.max == rel.getDouble(5))
  }

  test("mask pages: 2 pages/level, 1-bit tiles round-trip the validity plane") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(96, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 32, dtype = "float64", maskPages = true)
    val level0 = SyntheticRaster.generate(s, p, seed = 23L)
    val src = level0.collect().map(t => (t.ty, t.tx) -> t).toMap
    val (bytes, res) = CogWriter.writeBytes(level0, p, tmpDir())
    val pages = BigTiff.readPages(bytes)
    assert(pages.length == 2 * (p.maxLevel + 1))
    val (dataPages, maskPgs) = pages.partition(!_.isMask)
    assert(maskPgs.length == p.maxLevel + 1)
    for (pg <- maskPgs) {
      assert(pg.bits == 1 && pg.photometric == 4)
      assert((pg.subfileType & 4L) != 0)
    }
    // level-0 mask tiles decode to exactly the source validity plane
    val mp = maskPgs.head
    val (gw, _) = p.gridDims(0)
    for (ti <- mp.offsets.indices if mp.counts(ti) > 0) {
      val ty = ti / gw; val tx = ti % gw
      val t = src((ty, tx))
      val bits = TileCodec.decodeMask(java.util.Arrays.copyOfRange(bytes,
        mp.offsets(ti).toInt, (mp.offsets(ti) + mp.counts(ti)).toInt), p)
      for (y <- 0 until t.h; x <- 0 until t.w) {
        val want = if (t.valid(y * t.w + x, ND)) 1 else 0
        assert(bits(y * 16 + x) == want, s"mask tile($ty,$tx) ($y,$x)")
      }
    }
    // data+mask bytes interleave per tile in the body: for each (l,ty,tx)
    // the mask tile sits directly after its data tile
    val placedPairs = for {
      (dp, l) <- dataPages.zipWithIndex
      i <- dp.offsets.indices
      if dp.counts(i) > 0 && maskPgs(l).counts(i) > 0
    } yield (dp.offsets(i), dp.counts(i), maskPgs(l).offsets(i))
    placedPairs.foreach { case (doff, dcnt, moff) =>
      assert(doff + dcnt == moff, "mask tile must directly follow its data tile")
    }
    assert(res.totalLen == bytes.length.toLong)
  }

  test("overview compression override (R16) + band metadata tags (R23)") {
    val s = spark
    val p = RasterProfile(64, 64, blockSize = 16, nodata = ND,
      minOverviewSize = 16,
      overviewCompression = Some("none"),
      bandMeta = Seq(BandMeta(description = "reflectance", unit = "dn",
        scale = 0.01, offset = -5.0)))
    val (bytes, _) = CogWriter.writeBytes(
      SyntheticRaster.generate(s, p, seed = 41L), p, tmpDir())
    val pages = BigTiff.readPages(bytes)
    assert(pages.head.compression == 8, "L0 stays deflate")
    for (pg <- pages.tail) assert(pg.compression == 1, "overviews uncompressed")
    // an overview tile decodes through the per-level codec (raw bytes)
    val ov = pages(1)
    val ti = ov.counts.indexWhere(_ > 0)
    val px = TileCodec.decode(java.util.Arrays.copyOfRange(bytes,
      ov.offsets(ti).toInt, (ov.offsets(ti) + ov.counts(ti)).toInt), p, level = 1)
    assert(px.length == 16 * 16)
    assert(ov.counts(ti) == 16 * 16 * 8, "uncompressed tile is exactly bs*bs*8 bytes")
    // R23 items present with role attributes
    val xml = pages.head.metadataXml
    assert(xml.contains("""role="description">reflectance<"""))
    assert(xml.contains("""role="unittype">dn<"""))
    assert(xml.contains("""role="scale">0.01<"""))
    assert(xml.contains("""role="offset">-5.0<"""))
  }

  test("golden byte hash: the fixed 512² write reproduces its committed sha256") {
    // SURVEY §5.2-4: byte hash of the assembled file committed as a
    // golden. Everything upstream is partition-independent (seeded
    // pixels, per-tile deflate, decimal-accumulated header stats,
    // arithmetic part packing), verified byte-identical across 4- vs
    // 7-thread sessions before pinning. Changes to any codec/header
    // byte legitimately move this value — update deliberately.
    val df = graft.queries.RasterQueries.cogWriteBytes(spark, sfDir)
    val row = df.head()
    assert(row.getAs[String]("sha256") ==
      // re-pinned r5: the r4 GDAL_NODATA NUL-terminator change
      // (BigTiff.scala writeAscii) legitimately moved the header bytes;
      // decode-and-compare specs confirmed the pixel payload unchanged.
      "110bd3be71b2c311fa201d1f8a4052986f4ee282204f33e8bc6b1c3e87514d30")
    assert(row.getAs[Long]("file_len") == 2440285L)
    assert(row.getAs[Long]("header_len") == 2699L)
  }

  test("multi-part write: identical bytes at 1 and 4 shuffle partitions, reads back") {
    // partTarget 0 packs at the 5 MiB + maxBlob floor: >= 2 parts, so
    // at 4 shuffle partitions the sink runs several slices
    val p = RasterProfile(1024, 1024, blockSize = 128, nodata = ND,
      resampling = "average", minOverviewSize = 128, dtype = "float64")
    val src = SyntheticRaster.generate(spark, p, seed = 8L)
    def written(parts: String) = withConf("spark.sql.shuffle.partitions" -> parts) {
      CogWriter.writeBytes(src, p, tmpDir(), partTarget = 0L)
    }
    val (one, oneRes) = written("1")
    val (four, fourRes) = written("4")
    assert(fourRes.nParts >= 2, fourRes.receipts)
    assert(oneRes.receipts == fourRes.receipts)
    assert(java.util.Arrays.equals(one, four), "bytes differ between 1 and 4 partitions")

    val f = Files.createTempFile(Files.createTempDirectory("graft-cog"), "multi", ".tif")
    Files.write(f, four)
    // masked pixels are stored as nodata
    val want = src.collect().map(t => (t.ty, t.tx) -> t.pixels.indices.map(i =>
      if (t.mask(i) == 0) ND else t.pixels(i))).toMap
    val got = CogReader.read(spark, "file://" + f, p).collect()
    assert(got.length == want.size)
    for (t <- got) assert(t.pixels.toSeq == want((t.ty, t.tx)), s"tile (${t.ty}, ${t.tx})")
  }

  test("int16 with predictor: integer-valued raster round-trips exactly") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(96, 80, blockSize = 16, nodata = -999,
      minOverviewSize = 32, dtype = "int16", resampling = "nearest")
    val tiles = for (ty <- 0 until 5; tx <- 0 until 6) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      Tile(0, ty, tx, h, w,
        Array.tabulate(h * w)(i => (((ty * 7 + tx) * 131 + i * 13) % 30000 - 15000).toDouble), null)
    }
    val (bytes, _) = CogWriter.writeBytes(s.createDataset(tiles), p, tmpDir())
    val pg = BigTiff.readPages(bytes).head
    assert(pg.predictor == 2 && pg.bits == 16 && pg.sampleFormat == 2)
    val (gw, _) = p.gridDims(0)
    for (ti <- pg.offsets.indices if pg.counts(ti) > 0) {
      val ty = ti / gw; val tx = ti % gw
      val (th, tw) = p.tileDims(0, ty, tx)
      val px = TileCodec.decode(java.util.Arrays.copyOfRange(bytes,
        pg.offsets(ti).toInt, (pg.offsets(ti) + pg.counts(ti)).toInt), p)
      val src = tiles.find(t => t.ty == ty && t.tx == tx).get
      for (y <- 0 until th; x <- 0 until tw)
        assert(px(y * 16 + x) == src.pixels(y * tw + x), s"tile($ty,$tx) ($y,$x)")
    }
  }
}
