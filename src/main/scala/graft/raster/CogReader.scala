package graft.raster

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.sources.SessionConf

/** Distributed COG read-back: the source-side complement of CogWriter
  * (the reference is write-only; an engine that can't re-read its own
  * output can't chain pipelines). The header is tiny and parsed on the
  * driver; tile BYTES are fetched and decoded on executors via ranged
  * reads — one seek per tile, the access pattern COG exists to enable.
  *
  * Works through the Hadoop FileSystem API, so file:// now and
  * hdfs://s3a:// on a real cluster (ranged GET). Sparse tiles
  * (count 0) reconstruct as all-nodata/mask-0 without touching the
  * file. Mask pages, when present, restore each tile's validity plane;
  * otherwise nodata alone drives the mask (all-valid mask = null). */
object CogReader {

  /** Parse the header (driver-side; ~KBs) — needs only the first
    * `headerLength` bytes but reads whole files below 4 MiB for
    * simplicity. Foreign TIFFs whose IFD trails the pixel data (a
    * legal non-COG layout common for non-GDAL writers) overflow the
    * 4 MiB probe: modest files (≤64 MiB) transparently re-read whole;
    * larger ones surface BigTiff's clear beyond-the-probe error
    * instead of a raw index crash. The Hadoop conf is the active
    * session's under `confEntries` ([[SessionConf]]). */
  def readMeta(uri: String, confEntries: Map[String, String] = Map.empty): Seq[BigTiff.PageMeta] =
    readHeader(uri, SessionConf.hadoop(
      SessionConf.active.fold(Map.empty[String, String])(SessionConf.entries), confEntries))

  /** [[readMeta]] over an already-built Hadoop conf. */
  private[graft] def readHeader(uri: String, conf: Configuration): Seq[BigTiff.PageMeta] = {
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    // growing probe ladder (GDAL reads 16 KiB first and grows the same
    // way): typical COG headers are KBs, so the 64 KiB rung answers
    // almost every file — at a 10k-file mosaic that is ~640 MB of
    // planning transfer instead of the 40 GB a flat 4 MiB probe costs.
    // Headers with big external offset arrays climb to 4 MiB, then the
    // whole file (bounded: a >64 MiB "header" is rejected as before).
    def attempt(probe: Long): Seq[BigTiff.PageMeta] =
      BigTiff.readPages(readRange(fs, path, 0L, math.min(len, probe).toInt))
    try attempt(64L << 10)
    catch {
      case _: BigTiff.HeaderProbeTooSmall if len > (64L << 10) =>
        try attempt(4L << 20)
        catch {
          case _: BigTiff.HeaderProbeTooSmall if len > (4L << 20) && len <= (64L << 20) =>
            attempt(len)
        }
    }
  }

  private def readRange(fs: FileSystem, path: Path, offset: Long,
      length: Int): Array[Byte] = {
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](length)
      in.readFully(offset, buf, 0, length)
      buf
    } finally in.close()
  }

  /** Close `in` at TASK completion (limit/take abandons iterators
    * before exhaustion — exhaustion-only close leaks the handle).
    * Outside a task (direct invocation) close on exhaustion, with a
    * GC-time cleaner covering partially-consumed abandoned iterators
    * so the stream cannot leak indefinitely there either. */
  private lazy val cleaner = java.lang.ref.Cleaner.create()
  private def taskBoundIterator[T](in: org.apache.hadoop.fs.FSDataInputStream,
      out: Iterator[T]): Iterator[T] = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      tc.addTaskCompletionListener[Unit](_ => in.close())
      out
    } else {
      val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
      // must not capture the iterator itself, or it never becomes
      // phantom-reachable and the cleaner never runs
      val closeOnce: Runnable =
        () => if (closed.compareAndSet(false, true)) in.close()
      val it = new Iterator[T] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) closeOnce.run()
          h
        }
        def next(): T = out.next()
      }
      cleaner.register(it, closeOnce)
      it
    }
  }

  /** Decode one planned tile entry into a [[Tile]] (clip to edge dims,
    * restore the mask plane); sparse entries (count 0) reconstruct as
    * all-nodata without touching the stream. Shared by the library
    * read path and the DSv2 partition reader (graft.sources.cog). */
  /** Planar (PlanarConfiguration=2) tile: one compressed blob PER
    * BAND, decoded with a single-band view of the profile and laid
    * straight into the band-major pixel array — planar planes ARE our
    * native layout, so no interleave pass exists at all. An absent
    * plane (count 0) fills with nodata, matching sparse semantics. */
  def materializeTilePlanar(in: org.apache.hadoop.fs.FSDataInputStream,
      profile: RasterProfile, level: Int, gw: Int, ti: Int,
      pOff: Seq[Long], pCnt: Seq[Long], mOff: Long, mCnt: Long): Tile = {
    val ty = ti / gw
    val tx = ti % gw
    val (th, tw) = profile.tileDims(level, ty, tx)
    val bs = profile.blockSize
    val bands = pOff.length
    val planeProfile = profile.copy(bands = 1)
    // complex samples are (re, im) double PAIRS in every pixel plane
    val spu = if (TileCodec.isComplex(profile.dtype)) 2 else 1
    val px = new Array[Double](bands * th * tw * spu)
    var b = 0
    while (b < bands) {
      if (pCnt(b) == 0) {
        java.util.Arrays.fill(px, b * th * tw * spu, (b + 1) * th * tw * spu,
          profile.nodata)
      } else {
        val comp = new Array[Byte](pCnt(b).toInt)
        in.readFully(pOff(b), comp, 0, pCnt(b).toInt)
        val full = TileCodec.decode(comp, planeProfile, level) // bs*bs padded
        var y = 0
        while (y < th) {
          System.arraycopy(full, y * bs * spu,
            px, (b * th * tw + y * tw) * spu, tw * spu)
          y += 1
        }
      }
      b += 1
    }
    val mask =
      if (mCnt > 0) {
        val mComp = new Array[Byte](mCnt.toInt)
        in.readFully(mOff, mComp, 0, mCnt.toInt)
        val bits = TileCodec.decodeMask(mComp, profile)
        val mk = new Array[Byte](th * tw)
        var y = 0
        while (y < th) {
          System.arraycopy(bits, y * bs, mk, y * tw, tw)
          y += 1
        }
        mk
      } else null
    Tile(level, ty, tx, th, tw, px, mask)
  }

  /** Strip layout of a strip-organized page, with the consistency
    * checks BOTH strip consumers (readStrips and the DSv2 planner)
    * need: effective rows-per-strip (the TIFF 6.0 2^32-1 "whole image
    * in one strip" sentinel clamps to the image height instead of
    * truncating negative), spatial strip count derived from the
    * geometry — NOT from the offsets array, so a truncated offsets
    * array fails loudly here instead of silently shifting plane base
    * offsets — and the planar plane count. */
  def stripLayout(pg: BigTiff.PageMeta): (Int, Int, Int) = {
    val height = pg.height.toInt
    val rps = math.min(pg.rowsPerStrip, pg.height).toInt
    require(rps > 0, s"invalid RowsPerStrip ${pg.rowsPerStrip}")
    val nStrips = (height + rps - 1) / rps
    val planes = if (pg.planar == 2 && pg.samplesPerPixel > 1)
      pg.samplesPerPixel else 1
    require(pg.offsets.length == planes * nStrips,
      s"strip count ${pg.offsets.length} != $planes planes x $nStrips strips " +
        s"(height ${pg.height}, RowsPerStrip ${pg.rowsPerStrip})")
    require(pg.counts.length == pg.offsets.length,
      s"StripByteCounts has ${pg.counts.length} entries vs " +
        s"${pg.offsets.length} StripOffsets")
    (nStrips, planes, rps)
  }

  /** GDAL_NODATA tag value, or the dtype-conventional default the
    * profile inference uses (uint → 0, signed int → -1, float → NaN). */
  def nodataOf(pg: BigTiff.PageMeta, dtype: String): Double =
    if (pg.nodataAscii.nonEmpty) pg.nodataAscii.toDouble
    else if (dtype.startsWith("uint")) 0.0
    else if (TileCodec.isInteger(dtype)) -1.0
    else Double.NaN

  /** Planar STRIP gather: one compressed chunk per band, each decoded
    * as a single-band strip straight into the band-major pixel array
    * (the strip analog of [[materializeTilePlanar]]). An absent plane
    * (count 0) fills with nodata, matching sparse-tile semantics.
    * Shared by the library readStrips path and the DSv2 strip
    * partition reader. */
  def materializeStripPlanar(in: org.apache.hadoop.fs.FSDataInputStream,
      offs: Seq[Long], cnts: Seq[Long], rows: Int, width: Int,
      codec: String, predictor: Int, dtype: String,
      bigEndian: Boolean, nodata: Double): Array[Double] = {
    val bands = offs.length
    val spu = if (TileCodec.isComplex(dtype)) 2 else 1
    val out = new Array[Double](bands * rows * width * spu)
    var b = 0
    while (b < bands) {
      if (cnts(b) == 0) {
        java.util.Arrays.fill(out, b * rows * width * spu,
          (b + 1) * rows * width * spu, nodata)
      } else {
        val comp = new Array[Byte](cnts(b).toInt)
        in.readFully(offs(b), comp, 0, cnts(b).toInt)
        val plane = TileCodec.decodeStrip(comp, codec, predictor, rows,
          width, 1, dtype, bigEndian)
        System.arraycopy(plane, 0, out, b * rows * width * spu,
          rows * width * spu)
      }
      b += 1
    }
    out
  }

  def materializeTile(in: org.apache.hadoop.fs.FSDataInputStream,
      profile: RasterProfile, level: Int, gw: Int,
      ti: Int, off: Long, cnt: Long, mOff: Long, mCnt: Long): Tile = {
    val ty = ti / gw
    val tx = ti % gw
    val (th, tw) = profile.tileDims(level, ty, tx)
    val bs = profile.blockSize
    val bands = profile.bands
    // complex samples are (re, im) double PAIRS in every pixel plane
    val spu = if (TileCodec.isComplex(profile.dtype)) 2 else 1
    if (cnt == 0) {
      // sparse: all nodata, all invalid — no file access
      val px = new Array[Double](bands * th * tw * spu)
      java.util.Arrays.fill(px, profile.nodata)
      Tile(level, ty, tx, th, tw, px, new Array[Byte](th * tw))
    } else {
      val comp = new Array[Byte](cnt.toInt)
      in.readFully(off, comp, 0, cnt.toInt)
      val full = TileCodec.decode(comp, profile, level) // bs*bs padded
      val px = new Array[Double](bands * th * tw * spu)
      var b = 0
      while (b < bands) {
        var y = 0
        while (y < th) {
          System.arraycopy(full, (b * bs * bs + y * bs) * spu,
            px, (b * th * tw + y * tw) * spu, tw * spu)
          y += 1
        }
        b += 1
      }
      val mask =
        if (mCnt > 0) {
          val mComp = new Array[Byte](mCnt.toInt)
          in.readFully(mOff, mComp, 0, mCnt.toInt)
          val bits = TileCodec.decodeMask(mComp, profile)
          val mk = new Array[Byte](th * tw)
          var y = 0
          while (y < th) {
            System.arraycopy(bits, y * bs, mk, y * tw, tw)
            y += 1
          }
          mk
        } else null
      Tile(level, ty, tx, th, tw, px, mask)
    }
  }

  /** Geo-referencing from a page's pixel-scale + tiepoint + GeoKey
    * tags (the read-side answer to the reference's R4 source sniffing,
    * ccog/ccog.py:922-925); None when any is absent. */
  def inferGeo(p0: BigTiff.PageMeta): Option[GeoRef] =
    if (p0.pixelScale.length >= 2 && p0.tiepoint.length >= 6 && p0.geoKeys.length >= 4) {
      // GeoKeyDirectory: [ver, rev, minor, nKeys, then (id, loc, cnt, value)*]
      val keys = p0.geoKeys.drop(4).grouped(4)
        .collect { case Array(id, 0, 1, v) => id -> v }.toMap
      val modelType = keys.getOrElse(1024, 0)
      val epsg = keys.get(if (modelType == 2) 2048 else 3072)
      epsg.map(code => GeoRef(p0.pixelScale(0), p0.pixelScale(1),
        p0.tiepoint(3), p0.tiepoint(4), code,
        geographic = Some(modelType == 2)))
    } else None

  /** Engine dtype name for a (BitsPerSample, SampleFormat) tag pair. */
  def dtypeOf(bits: Int, sampleFormat: Int): String =
    (bits, sampleFormat) match {
      case (8, 1) => "uint8"
      case (8, 2) => "int8"
      case (16, 1) => "uint16"
      case (16, 2) => "int16"
      case (32, 1) => "uint32"
      case (32, 2) => "int32"
      case (32, 3) => "float32"
      case (64, 3) => "float64"
      case (64, 5) => "complex64"   // SAR/interferometry (GDAL CFloat32)
      case (128, 5) => "complex128" // GDAL CFloat64
      case (b, s) => sys.error(s"unsupported bits/sampleFormat $b/$s")
    }

  /** The codec name of a TIFF Compression tag value. Strips never
    * decode JPEG, so a `striped` page refuses it with the rest of the
    * unknown codes. */
  def codecOf(compression: Int, striped: Boolean = false): String =
    compression match {
      case 1 => "none"
      case 5 => "lzw"
      case 7 if !striped => "jpeg"
      // 8 = Adobe deflate; 32946 = legacy old-style Deflate (the JDK
      // writer's "Deflate" type, pre-TIFF-TechNote files) — both are
      // the same zlib stream, only the tag value differs
      case 8 | 32946 => "deflate"
      case 32773 => "packbits"
      case 50000 => "zstd"
      case c => sys.error(
        s"unsupported ${if (striped) "strip " else ""}compression code $c")
    }

  /** Reconstruct a read-capable [[RasterProfile]] from the parsed
    * header alone — the DSv2 path needs no writer-side profile. Fields
    * that only affect WRITING (resampling kernel, zlevel, jpegQuality,
    * sparseOk) take defaults; everything decode needs (dims, block
    * size, bands, dtype, codec per level, nodata, mask presence) comes
    * from tags. */
  def inferProfile(pages: Seq[BigTiff.PageMeta]): RasterProfile = {
    val data = pages.filter(!_.isMask)
    require(data.nonEmpty, "no data pages in header")
    val p0 = data.head
    val dtype = dtypeOf(p0.bits, p0.sampleFormat)
    require(!p0.isStriped,
      "strip-organized TIFF (no tiles): use CogReader.readStrips")
    // materializeTile strides rows by the profile's single blockSize:
    // rectangular or per-level-varying tile sizes (legal TIFF) would
    // decode with wrong strides — fail loudly instead of corrupting
    require(p0.tileW == p0.tileH && p0.tileW > 0,
      s"unsupported non-square tiles ${p0.tileW}x${p0.tileH}")
    data.foreach(pg => require(pg.tileW == p0.tileW && pg.tileH == p0.tileH,
      s"mixed tile sizes across pages: ${pg.tileW}x${pg.tileH} vs ${p0.tileW}x${p0.tileH}"))
    val comp = codecOf(p0.compression)
    val ovComp = data.lift(1).map(pg => codecOf(pg.compression)).filter(_ != comp)
    // decode applies ONE codec + predictor to every overview level: a
    // foreign file mixing codecs (or deflate predictors) per level
    // would decode deeper overviews wrongly — reject loudly
    data.drop(1).foreach { pg =>
      require(codecOf(pg.compression) == ovComp.getOrElse(comp),
        s"mixed overview compressions: ${pg.compression} vs first overview")
    }
    // predictor only applies under deflate/lzw/zstd (jpeg/none/packbits
    // pages always tag 1); all predicted pages must agree since decode
    // undoes one value
    val deflatePreds = data
      .filter(pg => Set(5, 8, 50000).contains(pg.compression))
      .map(_.predictor).distinct
    require(deflatePreds.length <= 1,
      s"mixed predictors across predicted pages: $deflatePreds")
    // planar layout must be uniform across levels: decode picks the
    // plane recipe per page from this one profile's band count
    data.foreach(pg => require(pg.planar == p0.planar,
      s"mixed PlanarConfiguration across pages: ${pg.planar} vs ${p0.planar}"))
    // planar jpeg (round 11): each plane is an independent grayscale
    // JPEG, so the per-plane decode path handles it — EXCEPT planar
    // YCbCr (photometric 6), where the planes are color components
    // needing a cross-plane conversion no per-plane decode can do
    // (not a combination GDAL emits) — reject rather than mis-decode.
    // Checked PER PAGE: a jpeg-compressed YCbCr OVERVIEW under a
    // deflate base level must not slip through.
    data.foreach(pg => require(
      pg.planar == 1 || codecOf(pg.compression) != "jpeg" || pg.photometric != 6,
      "planar YCbCr jpeg pages are unsupported"))
    val nodata = nodataOf(p0, dtype)
    // geo-referencing back from the tags (the read-side answer to the
    // reference's R4 source sniffing, ccog/ccog.py:922-925): pixel
    // scale + (0,0)-anchored tiepoint + the EPSG code from whichever
    // GeoKey the model type selects
    val geo = inferGeo(p0)
    RasterProfile(p0.width.toInt, p0.height.toInt,
      blockSize = p0.tileW, bands = p0.samplesPerPixel, nodata = nodata,
      resampling = "nearest", overviewCount = Some(data.length - 1),
      dtype = dtype, compression = comp, overviewCompression = ovComp,
      geo = geo, maskPages = pages.exists(_.isMask),
      // honor the file's Predictor tag: GDAL legitimately writes
      // predictor 1 for integer deflate; assuming dtype-derived would
      // un-difference bytes that were never differenced. Taken from the
      // deflate pages (predictor is meaningless under jpeg/none)
      predictorOverride = Some(deflatePreds.headOption.getOrElse(p0.predictor)),
      // foreign jpeg COGs (GDAL) share tables via tag 347 with
      // abbreviated per-tile streams; spliced at decode
      jpegTables = Some(p0.jpegTables).filter(_.nonEmpty),
      // "MM" files carry big-endian samples — swapped at decode
      bigEndianData = p0.bigEndian)
  }

  /** STRIP-organized (non-tiled) foreign TIFF as a Dataset[Tile] — one
    * tile per strip, (ty = strip index, tx = 0, h = strip rows, w =
    * image width). GDAL's default layout for plain TIFFs, so "read any
    * GeoTIFF someone hands you" needs it even though COGs are tiled.
    * Pure header-driven: codec/dtype/predictor/nodata come from the
    * page tags; executors do one ranged read + decode per strip. */
  def readStrips(spark: SparkSession, uri: String,
      confEntries: Map[String, String] = Map.empty): Dataset[Tile] = {
    import spark.implicits._
    val session = SessionConf.broadcast(spark)
    val pages = readHeader(uri, SessionConf.hadoop(session.value, confEntries))
    // only the first page would be read — reject extra IFDs loudly
    // rather than silently dropping their rows
    require(pages.length == 1, s"striped TIFF has ${pages.length} IFDs — " +
      "multi-page striped files are unsupported")
    val pg = pages.head
    require(pg.isStriped, s"not strip-organized (tileW=${pg.tileW})")
    val codec = codecOf(pg.compression, striped = true)
    val dtype = dtypeOf(pg.bits, pg.sampleFormat)
    val width = pg.width.toInt
    val height = pg.height.toInt
    val bands = pg.samplesPerPixel
    val pred = pg.predictor
    val mm = pg.bigEndian
    val nodata = nodataOf(pg, dtype)
    // planar (=2) pages: offsets hold bands consecutive plane arrays
    // (all plane-0 strips, then plane-1, ... — TIFF 6.0 §14); one
    // OUTPUT strip gathers its per-plane chunks, each decoding as a
    // single-band strip straight into the band-major pixel array.
    val (nStrips, planes, rps) = stripLayout(pg)
    val plan = (0 until nStrips).map { si =>
      (si,
        Array.tabulate(planes)(b => pg.offsets(b * nStrips + si)).toSeq,
        Array.tabulate(planes)(b => pg.counts(b * nStrips + si)).toSeq,
        math.min(rps, height - si * rps)) // last strip may be short
    }
    spark.createDataset(plan)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val path = new Path(uri)
        val in = path.getFileSystem(SessionConf.hadoop(session.value, confEntries))
          .open(path)
        val out = it.map { case (si, offs, cnts, rows) =>
          val px =
            if (planes == 1) {
              if (cnts.head == 0) { // sparse strip: all nodata
                val a = new Array[Double](bands * rows * width)
                java.util.Arrays.fill(a, nodata)
                a
              } else {
                val comp = new Array[Byte](cnts.head.toInt)
                in.readFully(offs.head, comp, 0, cnts.head.toInt)
                TileCodec.decodeStrip(comp, codec, pred, rows, width,
                  bands, dtype, bigEndian = mm)
              }
            } else materializeStripPlanar(in, offs, cnts, rows, width,
              codec, pred, dtype, bigEndian = mm, nodata = nodata)
          Tile(0, si, 0, rows, width, px, null)
        }
        taskBoundIterator(in, out)
      }
  }

  /** Level `level` of the COG at `uri` as a Dataset[Tile]. `profile`
    * must match the written file (CogWriter's input profile); dims and
    * page structure are cross-checked against the parsed header. The
    * driver and every task see the session's Hadoop conf under
    * `confEntries` ([[SessionConf]]). */
  def read(spark: SparkSession, uri: String, profile: RasterProfile,
      level: Int = 0, confEntries: Map[String, String] = Map.empty): Dataset[Tile] = {
    import spark.implicits._
    val session = SessionConf.broadcast(spark)
    val pages = readHeader(uri, SessionConf.hadoop(session.value, confEntries))
    val data = pages.filter(!_.isMask)
    require(level < data.length, s"level $level beyond ${data.length} pages")
    val pg = data(level)
    // planar foreign files read through the DSv2 source (whose planner
    // carries per-plane offsets); this writer-profile path assumes the
    // chunky layout CogWriter emits
    require(pg.planar == 1,
      "planar TIFF: read via spark.read.format(\"cog\") instead")
    val (lw, lh) = profile.levelDims(level)
    require(pg.width == lw && pg.height == lh,
      s"header dims (${pg.width}x${pg.height}) != profile level dims (${lw}x$lh)")
    val maskPg = pages.filter(_.isMask).lift(level)
    val (gw, _) = profile.gridDims(level)

    // plan rows are tiny: (tileIdx, offset, count, maskOffset, maskCount)
    val plan = pg.offsets.indices.map { i =>
      (i, pg.offsets(i), pg.counts(i),
        maskPg.map(_.offsets(i)).getOrElse(0L),
        maskPg.map(_.counts(i)).getOrElse(0L))
    }

    spark.createDataset(plan)
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        // one FileSystem handle per partition, ranged reads per tile
        val path = new Path(uri)
        val in = path.getFileSystem(SessionConf.hadoop(session.value, confEntries))
          .open(path)
        val out = it.map { case (ti, off, cnt, mOff, mCnt) =>
          materializeTile(in, profile, level, gw, ti, off, cnt, mOff, mCnt)
        }
        taskBoundIterator(in, out)
      }
  }
}
