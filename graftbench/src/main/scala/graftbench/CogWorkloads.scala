package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.raster._
import graft.sink.{Blob, MockS3Server, OrderedMultipartWriter, S3MultipartSink}
import graft.sources.{CogInputPartition, HttpRangeFileSystem}

/** What both raster workloads share: the profile of q_cog_write_bytes
  * (float64, blocksize 128, average kernel, deflate, mask pages; the
  * writer always computes band stats) at a given edge, the object store,
  * and the per-tile reference sums. */
object Raster {
  val ND = -9999.0
  def profile(edge: Int): RasterProfile = RasterProfile(edge, edge, blockSize = 128,
    nodata = ND, resampling = "average", minOverviewSize = 128,
    maskPages = true)
  val Bucket = "bench"
  val Mib: Double = 1024.0 * 1024.0
  val fsConf = Map("fs.http.impl" -> classOf[HttpRangeFileSystem].getName)

  /** (valid count, sum of valid values) of one tile, in row-major order. */
  def tileSums(t: Tile): (Long, Double) = {
    var valid = 0L
    var sum = 0.0
    var i = 0
    while (i < t.h * t.w * t.bands) {
      if (t.valid(i, ND)) { valid += 1; sum += t.pixels(i) }
      i += 1
    }
    (valid, sum)
  }

  /** (level, ty, tx) -> (valid, sum) over every tile of `levels`. */
  def tileStats(levels: Seq[Dataset[Tile]]): Map[(Int, Int, Int), (Long, Double)] =
    levels.flatMap { ds =>
      val spark = ds.sparkSession
      val session = spark
    import session.implicits._
      ds.map { t =>
        val (v, s) = tileSums(t)
        (t.level, t.ty, t.tx, v, s)
      }.collect().toSeq
    }.map { case (l, y, x, v, s) => (l, y, x) -> (v, s) }.toMap

  /** level -> (tiles, valid, sum), summing tiles in (ty, tx) order so
    * both sides of a comparison add in the same order. */
  def perLevel(m: Map[(Int, Int, Int), (Long, Double)]): Map[Int, (Int, Long, Double)] =
    m.toSeq.groupBy(_._1._1).map { case (l, ts) =>
      val sorted = ts.sortBy { case ((_, y, x), _) => (y, x) }
      l -> (sorted.size, sorted.map(_._2._1).sum,
        sorted.foldLeft(0.0)((acc, t) => acc + t._2._2))
    }

  /** The reference pyramid of seed `seed`, reduced to per-tile sums. */
  def referenceTiles(spark: SparkSession, profile: RasterProfile,
      seed: Long): Map[(Int, Int, Int), (Long, Double)] = {
    val levels = Pyramid.build(SyntheticRaster.generate(spark, profile, seed), profile)
    try tileStats(levels)
    finally levels.foreach(_.unpersist(blocking = true))
  }

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString
}

/** cog_write: one op is `CogWriter.write` of the seeded 1024x1024 raster
  * into an `S3MultipartSink` talking to the in-process `MockS3Server`
  * over loopback HTTP. Every op writes the same key. */
final class CogWrite extends Workload {
  import Raster._
  type Out = Array[Byte]

  private val profile = Raster.profile(1024)
  private val RawBytes = profile.width.toLong * profile.height * 8

  private val Key = "out.tif"
  private var spark: SparkSession = _
  private var srv: MockS3Server = _
  private var seed = 0L
  private var expected: Map[Int, (Int, Long, Double)] = Map.empty
  private var verifiedSha: String = null
  private var stored = 0L
  private var raw = 0L

  def workUnit = "MiB"
  def nominalOpMs = 2000.0

  def setup(s: SparkSession, sd: Long, scratch: Path): Unit = {
    spark = s
    seed = sd
    srv = new MockS3Server
    expected = perLevel(referenceTiles(spark, profile, seed))
    verifiedSha = null
  }

  private def uri = s"${srv.endpoint}/$Bucket/$Key"
  private def sink = new S3MultipartSink(srv.endpoint, Bucket, Key)

  def op(i: Int): Array[Byte] = {
    CogWriter.write(SyntheticRaster.generate(spark, profile, seed), profile, sink)
    srv.storedObject(Bucket, Key).get
  }

  /** The first object of a set-up is read back through `CogReader` level
    * by level; later objects must have its sha256. */
  def check(out: Array[Byte]): Option[String] = {
    val sha = sha256(out)
    val err =
      if (verifiedSha != null)
        if (sha == verifiedSha) None else Some(s"object sha256 $sha != $verifiedSha")
      else {
        val back = perLevel(tileStats((0 to profile.maxLevel).map(l =>
          CogReader.read(spark, uri, profile, l, fsConf))))
        if (back == expected) { verifiedSha = sha; None }
        else Some(s"read-back per-level (tiles, valid, sum) $back != input pyramid $expected")
      }
    if (err.isEmpty) { stored += out.length; raw += RawBytes }
    err
  }

  def work(out: Array[Byte]): Double = RawBytes / Mib

  override def ratios: Map[String, Double] =
    if (raw == 0) Map.empty
    else Map("stored_bytes_per_pixel_byte" -> stored.toDouble / raw)

  /** `CogWriter.write` restaged: generate, pyramid, encode, placement,
    * header (with the band stats it embeds), multipart sink. The stages
    * follow the writer's own steps; the sha256 check proves the staged
    * object is byte-identical to the untraced one. */
  def traced(i: Int, stage: Stager): (Array[Byte], Map[String, Double]) = {
    val session = spark
    import session.implicits._
    val level0 = stage("gen") {
      val d = SyntheticRaster.generate(spark, profile, seed)
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val levels = stage("pyramid") {
      val ls = Pyramid.build(level0, profile)
      ls.foreach(_.count())
      ls
    }
    val (encoded, nTiles, nSparse, encBytes) = stage("encode") {
      val prof = profile // a local, so the task closure does not capture this workload
      val e = levels
        .map(_.flatMap(t => Seq(TileCodec.encode(t, prof), TileCodec.encodeMask(t, prof))))
        .reduce(_ union _)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (n, sparse, bytes) = e.map(t => (1L, if (t.nbytes == 0) 1L else 0L, t.nbytes.toLong))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      (e, n, sparse, bytes)
    }
    val headerLen = BigTiff.headerLength(profile)
    val putsBefore = srv.partUploads.size
    try {
      val (placement, meta) = stage("offsets") {
        val p = Offsets.place(encoded, headerLen)
        (p, p.placed.map(q => (q.level, q.ty, q.tx, q.page, q.offset, q.nbytes)).collect())
      }
      try {
        val (header, maxBlob) = stage("header") {
          val pages = BigTiff.pageSpecs(profile)
          val byPage = meta.groupBy(m => (m._1, m._4 == TileCodec.PageMask))
          def arrays(f: ((Int, Int, Int, Int, Long, Int)) => Long) = pages.map { pg =>
            val (gw, _) = profile.gridDims(pg.level)
            val arr = new Array[Long](profile.tilesPerLevel(pg.level))
            byPage.getOrElse((pg.level, pg.isMask), Array.empty)
              .foreach(m => arr(m._2 * gw + m._3) = if (m._6 == 0) 0L else f(m))
            arr
          }
          val stats = bandStats(placement.cached)
          val h = BigTiff.header(profile, arrays(_._5), arrays(_._6.toLong), stats)
          (h, math.max(h.length.toLong, meta.map(_._6.toLong).foldLeft(0L)(math.max)))
        }
        val receipts = stage("sink") {
          val blobs = spark.createDataset(Seq(Blob(0L, header)))
            .union(placement.placed.filter(_.nbytes > 0).map(p => Blob(p.offset, p.bytes)))
          OrderedMultipartWriter.write(blobs, headerLen + encBytes, maxBlob, sink)
        }
        val out = srv.storedObject(Bucket, Key).get
        val puts = srv.partUploads.size - putsBefore
        (out, Map(
          "raster.gen_ms" -> stage.ms("gen"),
          "pyramid.build_ms" -> stage.ms("pyramid"),
          "pyramid.shuffle_mb" -> stage.shuffleMb("pyramid"),
          "tilecodec.encode_ms" -> stage.ms("encode"),
          "tilecodec.tiles" -> nTiles.toDouble,
          "tilecodec.tiles_sparse" -> nSparse.toDouble,
          "tilecodec.encoded_mb" -> encBytes / Mib,
          "offsets.place_ms" -> stage.ms("offsets"),
          "bigtiff.header_ms" -> stage.ms("header"),
          "bigtiff.header_bytes" -> header.length.toDouble,
          "sink.write_ms" -> stage.ms("sink"),
          "sink.parts" -> receipts.size.toDouble,
          "sink.part_mb" -> receipts.map(_.size).sum / Mib / receipts.size,
          "sink.put_requests" -> puts.toDouble,
          "sink.retries" -> (puts - receipts.size).toDouble,
          "trace.stage_ms" -> stage.ms.values.sum))
      } finally placement.cached.unpersist(blocking = true)
    } finally {
      encoded.unpersist(blocking = true)
      levels.foreach(_.unpersist(blocking = true))
    }
  }

  /** The writer's per-band header stats, as `CogWriter.write` computes
    * them: exact decimal sums over the level-0 data pages. */
  private def bandStats(cached: Dataset[EncodedTile]): Seq[(Double, Double, Double, Double, Double)] = {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, sum => fsum, when}
    cached
      .filter(e => e.level == 0 && e.page == TileCodec.PageData)
      .flatMap(e => e.bandValid.indices.map(b =>
        (b, e.pxTotal, e.bandValid(b), e.bandSum(b), e.bandSumSq(b), e.bandMin(b), e.bandMax(b))))
      .toDF("band", "total", "valid", "s", "ss", "mn", "mx")
      .groupBy(col("band"))
      .agg(fsum(col("total")), fsum(col("valid")),
        fsum(col("s").cast("decimal(38,12)")).cast("double"),
        fsum(col("ss").cast("decimal(38,12)")).cast("double"),
        fmin(when(col("valid") > 0, col("mn"))),
        fmax(when(col("valid") > 0, col("mx"))))
      .orderBy(col("band"))
      .collect().toSeq
      .map { r =>
        val total = r.getLong(1)
        val valid = r.getLong(2)
        if (valid == 0) (0.0, 0.0, 0.0, 0.0, 0.0)
        else {
          val mean = r.getDouble(3) / valid
          val sd = math.sqrt(math.max(0, r.getDouble(4) / valid - mean * mean))
          (r.getDouble(5), r.getDouble(6), mean, sd, 100.0 * valid / total)
        }
      }
  }

  override def teardown(): Unit = if (srv != null) srv.stop()
}

/** cog_read: set-up stores one 512x512 COG of the same profile; one op
  * reads a window of at most 2x2 tiles at a seeded level and position
  * through `spark.read.format("cog")` over http:// and collects each
  * tile's valid count and sum. */
final class CogRead extends Workload {
  import Raster._

  private val profile = Raster.profile(512)

  import CogRead._
  type Out = Read

  private val Key = "in.tif"
  private var spark: SparkSession = _
  private var srv: MockS3Server = _
  private var seed = 0L
  private var expected: Map[(Int, Int, Int), (Long, Double)] = Map.empty
  private var fetched = 0L
  private var decoded = 0L

  def workUnit = "window"
  def nominalOpMs = 200.0

  def setup(s: SparkSession, sd: Long, scratch: Path): Unit = {
    spark = s
    seed = sd
    srv = new MockS3Server
    val levels = Pyramid.build(SyntheticRaster.generate(spark, profile, seed), profile)
    try {
      expected = tileStats(levels)
      CogWriter.write(levels.head, profile, new S3MultipartSink(srv.endpoint, Bucket, Key))
    } finally levels.foreach(_.unpersist(blocking = true))
  }

  private def uri = s"${srv.endpoint}/$Bucket/$Key"

  /** Window `i` of this seed: levels take turns, so every run reads the
    * same mix of levels; the top-left tile is seeded, and the window
    * takes the next row and column where the level has them. */
  def window(i: Int): Window = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    val level = Math.floorMod(i, profile.maxLevel + 1)
    val (gw, gh) = profile.gridDims(level)
    val ty = r.nextInt(math.max(1, gh - 1))
    val tx = r.nextInt(math.max(1, gw - 1))
    Window(level, ty, math.min(ty + 1, gh - 1), tx, math.min(tx + 1, gw - 1))
  }

  private def query(w: Window): Dataset[(Int, Int, Int, Int, Long, Double)] = {
    val session = spark
    import session.implicits._
    spark.read.format("cog").load(uri)
      .filter(col("level") === w.level && col("ty").between(w.ty0, w.ty1) &&
        col("tx").between(w.tx0, w.tx1))
      .select("level", "ty", "tx", "h", "w", "pixels", "mask")
      .as[(Int, Int, Int, Int, Int, Array[Double], Array[Byte])]
      .map { case (l, ty, tx, h, wd, px, mk) =>
        val (v, s) = tileSums(Tile(l, ty, tx, h, wd, px, mk))
        (ty, tx, h, wd, v, s)
      }
  }

  def op(i: Int): Read = {
    val w = window(i)
    Read(w, query(w).collect())
  }

  override def isolate(s: SparkSession): Unit = {
    super.isolate(s)
    srv.resetReadAccounting()
  }

  def check(out: Read): Option[String] = {
    val w = out.win
    val want = (for (y <- w.ty0 to w.ty1; x <- w.tx0 to w.tx1)
      yield (y, x) -> expected((w.level, y, x))).toMap
    val got = out.tiles.map(t => (t._1, t._2) -> (t._5, t._6)).toMap
    val err =
      if (srv.unboundedGets != 0) Some(s"${srv.unboundedGets} unbounded GETs")
      else if (out.tiles.length != want.size || got != want)
        Some(s"window $w: tiles ${got.toSeq.sorted} != reference ${want.toSeq.sorted}")
      else None
    if (err.isEmpty) {
      fetched += srv.rangedGetSizes.sum
      decoded += out.tiles.map(t => t._3.toLong * t._4 * 8).sum
    }
    err
  }

  def work(out: Read): Double = 1.0

  override def ratios: Map[String, Double] =
    if (decoded == 0) Map.empty
    else Map("fetched_bytes_per_pixel_byte" -> fetched.toDouble / decoded)

  /** Planning (header probe and tile pruning, forced by asking for the
    * executed plan and its input partitions), then the scan. */
  def traced(i: Int, stage: Stager): (Read, Map[String, Double]) = {
    val w = window(i)
    val (ds, planned) = stage("plan") {
      val d = query(w)
      val plan = d.queryExecution.executedPlan
      val tiles = plan.collect { case b: BatchScanExec =>
        b.batch.planInputPartitions().map(_.asInstanceOf[CogInputPartition].tiles.size).sum
      }.sum
      (d, tiles)
    }
    val tiles = stage("scan")(ds.collect())
    val gets = srv.rangedGetSizes
    (Read(w, tiles), Map(
      "cog.plan_ms" -> stage.ms("plan"),
      "cog.scan_ms" -> stage.ms("scan"),
      "cog.tiles_planned" -> planned.toDouble,
      "cog.tiles_returned" -> tiles.length.toDouble,
      "http.range_gets" -> gets.size.toDouble,
      "http.bytes_fetched" -> gets.sum.toDouble,
      "http.unbounded_gets" -> srv.unboundedGets.toDouble,
      "trace.stage_ms" -> stage.ms.values.sum))
  }

  override def teardown(): Unit = if (srv != null) srv.stop()
}

object CogRead {
  final case class Window(level: Int, ty0: Int, ty1: Int, tx0: Int, tx1: Int)
  /** Per returned tile: (ty, tx, h, w, valid, sum). */
  final case class Read(win: Window, tiles: Array[(Int, Int, Int, Int, Long, Double)])
}
