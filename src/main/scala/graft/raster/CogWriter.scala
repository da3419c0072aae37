package graft.raster

import org.apache.spark.sql.Dataset
import graft.sink.{Blob, LocalMultipartSink, MultipartSink, OrderedMultipartWriter, PartReceipt}

/** End-to-end COG write — the engine form of the reference's only
  * public API, `write_ccog` (reference ccog/ccog.py:801-971):
  *
  *   pyramid and per-tile encode in one pass ([[PyramidEncode]]):
  *     each task encodes the tiles it builds, every page ONCE, with
  *     fused stats partials; only 2×-shrunk quadrants cross the wire
  *   → ONE collect: every tile's size plus exact per-partition band
  *     stats partials (grid×~20 B + bands×~100 B per partition)
  *   → driver layout (Offsets.layout, R25: the prefix sum IS the
  *     header's TileOffsets array) and header emit (BigTiff, R22)
  *   → narrow placement map over the persisted pages (broadcast
  *     offsets) → ordered multipart sink (OrderedMultipartWriter,
  *     R28/R36), an RDD job outside the SQL planner.
  *
  * A halo-free write is two jobs: the collect (one stage per
  * quadrant exchange, a few for the whole pyramid), then the sink's
  * one shuffle, whose tasks pack and upload the parts. Encoded bytes
  * cross the wire once, into their parts.
  */
object CogWriter {

  case class BandStats(pxTotal: Long, pxValid: Long, mean: Double,
      stddev: Double, min: Double, max: Double, validPct: Double)

  case class Result(headerLen: Long, totalLen: Long, tileBytes: Long,
      nTiles: Long, nSparse: Long, nParts: Int, levels: Int,
      stats: Seq[BandStats], receipts: Seq[PartReceipt])

  /** Header chunk cap: keeps single blobs comfortably under the packing
    * target so parts stay near-target-sized. */
  private val HeaderChunk = 8 << 20

  /** `resume = true` adopts an in-flight multipart upload of the
    * target key instead of restarting from byte 0 (the sink must be a
    * [[graft.sink.ResumableMultipartSink]]): the whole encode pipeline
    * is deterministic (fixed tile loops, decimal stats, deflate), so a
    * restarted writer re-derives byte-identical parts and the resume
    * path ([[OrderedMultipartWriter.writeResuming]]) verifies + skips
    * the ones the store already holds. `partTarget` is the packing
    * target passed through to the part planner — the default matches
    * [[OrderedMultipartWriter.write]]'s; a resume must use the SAME
    * value as the crashed attempt or no part verifies. */
  def write(level0: Dataset[Tile], profile: RasterProfile,
      sink: MultipartSink, resume: Boolean = false,
      partTarget: Long = 16L << 20): Result = {
    // fail in milliseconds, not after the full distributed encode:
    // a non-resumable sink can never honor resume=true
    require(!resume || sink.isInstanceOf[graft.sink.ResumableMultipartSink],
      s"cog resume requested but sink ${sink.getClass.getName} cannot " +
        "adopt in-flight uploads (ResumableMultipartSink)")
    val spark = level0.sparkSession

    // 1-2. pyramid + encode of every page, ONCE, persisted
    val encoded = PyramidEncode.encode(level0, profile)

    try {
      // 3. one collect of metadata only (the bytes stay on the
      // executors): per partition, its tiles' sizes and the masked
      // PER-BAND stats partials of its level-0 data pages — no second
      // pass over pixels (the reference pays a full extra pass,
      // ccog/ccog.py:38,511-541)
      val perPartition = encoded.pages
        .mapPartitions { it =>
          val sizes = Array.newBuilder[Offsets.TileSize]
          var stats = Seq.empty[BandPartial]
          it.foreach { m =>
            sizes += Offsets.TileSize(m.level, m.ty, m.tx, m.page, m.nbytes)
            if (m.level == 0 && m.page == TileCodec.PageData)
              stats = BandPartial.merge(stats, m.bandValid.indices.map(BandPartial.of(m, _)))
          }
          Iterator((sizes.result(), stats))
        }
        .collect()
      val sizes = perPartition.flatMap(_._1)
      val stats = perPartition.map(_._2).foldLeft(Seq.empty[BandPartial])(BandPartial.merge)
        .map(_.result)

      // 4. absolute offsets: driver prefix sum in file order, already
      // shaped as the header's per-page arrays
      val headerLen = BigTiff.headerLength(profile)
      val layout = Offsets.layout(sizes, headerLen, profile.gridDims)
      val nTiles = sizes.length.toLong
      val nSparse = sizes.count(_.nbytes == 0).toLong
      val tileBytes = layout.fileLen - headerLen
      val maxTile = sizes.foldLeft(0L)((m, t) => math.max(m, t.nbytes.toLong))
      val nLevels = profile.maxLevel + 1
      // ghost layout: stored bytes are leader(4)+payload+trailer(4);
      // TileOffsets point at the payload, TileByteCounts exclude the
      // decoration (GDAL convention; reference ccog/ccog.py:430-441)
      val ghostPad = if (profile.ghost) 4L else 0L
      def pageArrays(arrays: Map[(Int, Int), Array[Long]], pad: Long) =
        BigTiff.pageSpecs(profile).map { pg =>
          val page = if (pg.isMask) TileCodec.PageMask else TileCodec.PageData
          arrays.get((pg.level, page))
            .fold(new Array[Long](profile.tilesPerLevel(pg.level)))(
              _.map(v => if (v == 0) 0L else v + pad))
        }

      // 5. header bytes (driver) → chunked blobs at offsets [0, headerLen).
      // Per-band STATISTICS_* tags ride along (fixed-width, so the
      // length was already known to the layout)
      val headerBytes = BigTiff.header(profile, pageArrays(layout.offsets, ghostPad),
        pageArrays(layout.counts, -2 * ghostPad),
        stats.map(s => (s.min, s.max, s.mean, s.stddev, s.validPct)))
      val headerBlobs = headerBytes.grouped(HeaderChunk).zipWithIndex
        .map { case (chunk, i) => Blob(i.toLong * HeaderChunk, chunk) }
        .toSeq
      val maxBlob = math.max(maxTile, headerBlobs.map(_.bytes.length.toLong).max)

      // 6. one ordered blob stream: header ++ non-sparse tiles, each
      // placed by a narrow map over the persisted pages; the sink packs
      // it in one RDD job
      val blobs = spark.sparkContext.parallelize(headerBlobs, headerBlobs.size)
        .union(Offsets.blobs(encoded.pages, layout))
      val totalLen = layout.fileLen
      val receipts = OrderedMultipartWriter.writeBlobs(blobs, totalLen, maxBlob, sink,
        partTarget, OrderedMultipartWriter.shufflePartitions(spark), resume)

      Result(headerLen, totalLen, tileBytes, nTiles, nSparse,
        receipts.size, nLevels, stats, receipts)
    } finally encoded.free()
  }

  /** Bytes-in-memory path for small outputs / tests — the reference's
    * store=None mode (ccog/ccog.py:970,973-978). */
  def writeBytes(level0: Dataset[Tile], profile: RasterProfile,
      dir: String, partTarget: Long = 16L << 20): (Array[Byte], Result) = {
    val sink = new LocalMultipartSink(dir)
    val res = write(level0, profile, sink, partTarget = partTarget)
    (sink.assembled, res)
  }
}

/** Exact partial of one band's level-0 stats. Per-tile partials are
  * deterministic (fixed row-major loops); the cross-tile reduction must
  * be too — double sums are order-dependent at the last ulp, which
  * would leak into the fixed-width header stats and make the assembled
  * bytes vary between runs. Each double sum is rounded the way Spark's
  * double → decimal(38,12) cast does (its Double.toString value, HALF_UP
  * to scale 12) and summed exactly, so merging is associative and
  * commutative and the result equals a decimal(38,12) SQL sum. Invalid
  * tiles carry min +inf / max −inf, so they never win. */
private[raster] case class BandPartial(total: Long, valid: Long,
    sum: java.math.BigDecimal, sumSq: java.math.BigDecimal, min: Double, max: Double) {

  def +(o: BandPartial): BandPartial = BandPartial(total + o.total, valid + o.valid,
    sum.add(o.sum), sumSq.add(o.sumSq), if (o.min < min) o.min else min,
    if (o.max > max) o.max else max)

  def result: CogWriter.BandStats =
    if (valid == 0) CogWriter.BandStats(total, 0, 0, 0, 0, 0, 0)
    else {
      val mean = sum.doubleValue / valid
      val varp = sumSq.doubleValue / valid - mean * mean
      CogWriter.BandStats(total, valid, mean, math.sqrt(math.max(0, varp)),
        min, max, 100.0 * valid / total)
    }
}

private[raster] object BandPartial {
  /** A non-finite sum casts to NULL in SQL, which the sum skips. */
  def decimal(d: Double): java.math.BigDecimal =
    if (!java.lang.Double.isFinite(d)) java.math.BigDecimal.ZERO
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** Band-wise sum; a side with no level-0 data tiles is empty. */
  def merge(a: Seq[BandPartial], b: Seq[BandPartial]): Seq[BandPartial] =
    if (a.isEmpty) b else if (b.isEmpty) a else a.zip(b).map { case (x, y) => x + y }

  def of(m: EncodedTile, b: Int): BandPartial = {
    val valid = m.bandValid(b) > 0
    BandPartial(m.pxTotal, m.bandValid(b), decimal(m.bandSum(b)), decimal(m.bandSumSq(b)),
      if (valid) m.bandMin(b) else Double.PositiveInfinity,
      if (valid) m.bandMax(b) else Double.NegativeInfinity)
  }
}
