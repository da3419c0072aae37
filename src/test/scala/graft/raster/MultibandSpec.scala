package graft.raster

import graft.SparkSpec

/** Multi-band (band, y, x) support — the reference's 3-D data model
  * with the band dim in one chunk (ccog/ccog.py:938-946), mask shared
  * across bands (ccog/ccog.py:352-353), pixel-interleaved TIFF layout,
  * per-component predictor, per-band statistics (ccog/ccog.py:540). */
class MultibandSpec extends SparkSpec {

  val ND = -9999.0
  val prof = RasterProfile(96, 80, blockSize = 16, bands = 3, nodata = ND,
    resampling = "average", minOverviewSize = 32, dtype = "float64",
    maskPages = true)

  test("3-band e2e: header tags, per-band exact decode, shared mask page") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-mb").toString
    val level0 = SyntheticRaster.generate(s, prof, seed = 77L)
    val src = level0.collect().map(t => (t.ty, t.tx) -> t).toMap
    val (bytes, res) = CogWriter.writeBytes(level0, prof, dir)

    val pages = BigTiff.readPages(bytes)
    val dp = pages.head
    assert(dp.bits == 64 && dp.sampleFormat == 3)
    val (gw, _) = prof.gridDims(0)
    for (i <- dp.offsets.indices if dp.counts(i) > 0) {
      val ty = i / gw; val tx = i % gw
      val t = src((ty, tx))
      val px = TileCodec.decode(java.util.Arrays.copyOfRange(bytes,
        dp.offsets(i).toInt, (dp.offsets(i) + dp.counts(i)).toInt), prof)
      for (b <- 0 until 3; y <- 0 until t.h; x <- 0 until t.w) {
        val si = b * t.h * t.w + y * t.w + x
        val want = if (t.valid(si, ND)) t.pixels(si) else ND
        assert(px(b * 16 * 16 + y * 16 + x) == want, s"band $b tile($ty,$tx) ($y,$x)")
      }
    }
    // mask page decodes the SHARED any-band validity plane
    val mp = pages.find(_.isMask).get
    for (i <- mp.offsets.indices if mp.counts(i) > 0) {
      val ty = i / gw; val tx = i % gw
      val t = src((ty, tx))
      val bits = TileCodec.decodeMask(java.util.Arrays.copyOfRange(bytes,
        mp.offsets(i).toInt, (mp.offsets(i) + mp.counts(i)).toInt), prof)
      for (y <- 0 until t.h; x <- 0 until t.w) {
        val anyValid = (0 until 3).exists(b => t.valid(b * t.h * t.w + y * t.w + x, ND))
        assert((bits(y * 16 + x) == 1) == anyValid, s"mask tile($ty,$tx) ($y,$x)")
      }
    }

    // per-band stats: 3 entries, distinct means, each matching a direct
    // driver-side computation
    assert(res.stats.length == 3)
    for (b <- 0 until 3) {
      val vals = src.values.flatMap { t =>
        (0 until t.h * t.w).collect {
          case i if t.valid(b * t.h * t.w + i, ND) => t.pixels(b * t.h * t.w + i)
        }
      }.toSeq
      assert(res.stats(b).pxValid == vals.size)
      assert(math.abs(res.stats(b).mean - vals.sum / vals.size) < 1e-9, s"band $b mean")
      assert(res.stats(b).min == vals.min && res.stats(b).max == vals.max)
    }
    assert(res.stats.map(_.mean).distinct.size == 3, "bands should differ")
    assert(bytes.length.toLong == res.totalLen)

    // STATISTICS_* band tags in GDAL_METADATA carry the fused stats
    val xml = dp.metadataXml
    assert(xml.contains("<GDALMetadata>"))
    for (b <- 0 until 3) {
      val re = ("""name="STATISTICS_MEAN\s*" sample="""" + b + """">([^<]+)<""").r
      val got = re.findFirstMatchIn(xml).map(_.group(1).trim.toDouble)
      assert(got.isDefined, s"band $b mean tag missing")
      assert(math.abs(got.get - res.stats(b).mean) < 1e-6, s"band $b mean tag value")
    }
  }

  test("3-band pyramid: per-band constants preserved independently") {
    val s = spark
    import s.implicits._
    val p = RasterProfile(64, 64, blockSize = 16, bands = 3, nodata = ND,
      minOverviewSize = 16)
    val tiles = for (ty <- 0 until 4; tx <- 0 until 4) yield {
      val px = new Array[Double](3 * 256)
      for (b <- 0 until 3) java.util.Arrays.fill(px, b * 256, (b + 1) * 256, 10.0 + b)
      Tile(0, ty, tx, 16, 16, px, null)
    }
    val levels = Pyramid.build(s.createDataset(tiles), p)
    for (ds <- levels.tail; t <- ds.collect(); b <- 0 until 3;
         i <- 0 until t.h * t.w)
      assert(t.pixels(b * t.h * t.w + i) == 10.0 + b, s"band $b drift at level ${t.level}")
    levels.foreach(_.unpersist())
  }

  test("3-band bilinear halo step matches per-band single-array reference") {
    val s = spark
    import s.implicits._
    val (hG, wG) = (40, 33)
    val p = RasterProfile(wG, hG, blockSize = 16, bands = 2, nodata = ND,
      resampling = "bilinear")
    val g = Array.tabulate(2, hG * wG)((b, i) => math.sin(i * 0.3 + b) * 20 + b * 100)
    val (gw, gh) = p.gridDims(0)
    val tiles = for (ty <- 0 until gh; tx <- 0 until gw) yield {
      val (h, w) = p.tileDims(0, ty, tx)
      val px = new Array[Double](2 * h * w)
      for (b <- 0 until 2; y <- 0 until h; x <- 0 until w)
        px(b * h * w + y * w + x) = g(b)((ty * 16 + y) * wG + tx * 16 + x)
      Tile(0, ty, tx, h, w, px, null)
    }
    val got = HaloExchange.nextLevel(s.createDataset(tiles), p, level = 0)
      .collect().map(t => (t.ty, t.tx) -> t).toMap
    // per-band separable reference
    val wt = Array(0.25, 0.75, 0.75, 0.25)
    val (w1, h1) = p.levelDims(1)
    for (b <- 0 until 2; oy <- 0 until h1; ox <- 0 until w1) {
      var sum = 0.0; var wsum = 0.0
      for (iy <- 0 until 4; ix <- 0 until 4) {
        val sy = 2 * oy - 1 + iy; val sx = 2 * ox - 1 + ix
        if (sy >= 0 && sy < hG && sx >= 0 && sx < wG) {
          sum += wt(iy) * wt(ix) * g(b)(sy * wG + sx)
          wsum += wt(iy) * wt(ix)
        }
      }
      val t = got((oy / 16, ox / 16))
      val gotV = t.pixels(b * t.h * t.w + (oy % 16) * t.w + (ox % 16))
      assert(math.abs(gotV - sum / wsum) < 1e-9, s"band $b ($oy,$ox)")
    }
  }

  test("photometric + ExtraSamples matrix: RGB for uint8 color, tag 338 for surplus bands") {
    // TIFF 6.0 requires ExtraSamples (338) for samples beyond the
    // photometric's count — without it readers GUESS (the JDK read a
    // tag-less 2-band gray file as gray+ALPHA); GDAL writes photometric
    // RGB for 3/4-band Byte imagery, so gray there would surface as
    // Gray+Undefined bands in its toolchain
    def pagesOf(prof0: RasterProfile, seed: Long): Seq[BigTiff.PageMeta] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-exs").toString
      val lvl = SyntheticRaster.generate(spark, prof0, seed, withMask = false)
      val (bytes, _) = CogWriter.writeBytes(lvl, prof0, dir)
      BigTiff.readPages(bytes)
    }
    def p(bands: Int, dtype: String, bigtiff: Boolean = true) =
      RasterProfile(48, 32, blockSize = 16, bands = bands, nodata = 0.0,
        dtype = dtype, compression = "deflate", minOverviewSize = 16,
        resampling = "average", bigtiff = bigtiff)

    // uint8 3-band: true RGB, no surplus — and on EVERY pyramid page
    val rgb = pagesOf(p(3, "uint8"), 81L)
    assert(rgb.forall(pg => pg.photometric == 2 && pg.extraSamples.isEmpty))
    // uint8 4-band: RGB + one unspecified extra
    val rgba = pagesOf(p(4, "uint8"), 82L).head
    assert(rgba.photometric == 2 && rgba.extraSamples.toSeq == Seq(0))
    // 2-band non-uint8: gray + one unspecified extra (inline value slot)
    val g2 = pagesOf(p(2, "uint16"), 83L)
    assert(g2.forall(pg => pg.photometric == 1 && pg.extraSamples.toSeq == Seq(0)))
    // 4-band float32 CLASSIC: three extras exceed the 4-byte value
    // slot — the values live in the shared external band area
    val g4 = pagesOf(p(4, "float32", bigtiff = false), 84L).head
    assert(g4.photometric == 1 && g4.extraSamples.toSeq == Seq(0, 0, 0))
    // single band: no tag at all
    val g1 = pagesOf(p(1, "uint8"), 85L).head
    assert(g1.photometric == 1 && g1.extraSamples.isEmpty)
  }

  test("GDAL_METADATA blob is well-formed XML with one item per band stat") {
    // the blob is hand-built string concatenation — GDAL parses it as
    // XML, so validate with the JDK's parser (an independent
    // implementation), not just our own tag reader
    val md = BigTiff.gdalMetadata(prof,
      Seq.fill(3)((0.25, 0.75, 0.5, 0.1, 100.0)))
    // a TIFF reader strips the ASCII tag's NUL terminator before
    // handing the value to its XML parser — do the same
    val xml = new String(md, "US-ASCII").takeWhile(_ != '\u0000')
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(
        xml.getBytes("US-ASCII"))) // throws if malformed
    val items = doc.getElementsByTagName("Item")
    // 5 STATISTICS_* per band + per-band COLORINTERP-style extras are
    // format details; the invariant is at least bands x 5 stat items
    // and every item carrying a sample attribute that is a valid band
    var statItems = 0
    for (i <- 0 until items.getLength) {
      val it = items.item(i).getAttributes
      val name = it.getNamedItem("name").getNodeValue
      if (name.startsWith("STATISTICS_")) {
        statItems += 1
        val b = it.getNamedItem("sample").getNodeValue.toInt
        assert(b >= 0 && b < 3, s"item $name band $b")
      }
    }
    assert(statItems == 3 * 5, s"expected 15 stat items, got $statItems")
  }
}
