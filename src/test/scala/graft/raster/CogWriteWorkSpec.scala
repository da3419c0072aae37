package graft.raster

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Pins the Spark work of one `CogWriter.write`: the encode runs once,
  * the encoded bytes cross the shuffle once (into their parts), all
  * driver-sized facts (tile sizes, band stats) arrive in one collect,
  * and the band stats stay exact. */
class CogWriteWorkSpec extends SparkSpec {

  val ND = -9999.0

  /** 2 bands, 4 levels, data + mask pages; tile (0, 0) blanked so
    * sparse tiles take the offset-0 path. */
  val prof = RasterProfile(150, 130, blockSize = 16, bands = 2, nodata = ND,
    resampling = "average", minOverviewSize = 32, maskPages = true)

  def level0 = {
    val s = spark
    import s.implicits._
    val nd = ND
    SyntheticRaster.generate(spark, prof, seed = 5L).map { t =>
      if (t.ty == 0 && t.tx == 0) t.copy(pixels = Array.fill(t.pixels.length)(nd)) else t
    }
  }

  /** A started job: its stages' RDD scopes, outermost last. */
  case class Job(id: Int, scopes: Seq[String]) {
    // the tile encode is the union of the per-level encodes: every job
    // before the first one that reads it belongs to the pyramid
    def readsEncode: Boolean = scopes.contains("Union")
  }

  /** Jobs started and shuffle bytes written while `f` runs. */
  def traced[A](f: => A): (A, Seq[Job], Long) = {
    val jobs = ArrayBuffer.empty[Job]
    var shuffleWrite = 0L
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId, e.stageInfos.sortBy(_.stageId).flatMap(_.rddInfos.sortBy(_.id))
          .map(r => r.scope.map(_.name).getOrElse(r.name)).distinct)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        if (e.taskMetrics != null) shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.synchronized((a, jobs.sortBy(_.id).toSeq, shuffleWrite))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  def write(): CogWriter.Result =
    CogWriter.write(level0, prof,
      new graft.sink.LocalMultipartSink(Files.createTempDirectory("graft-work").toString))

  lazy val pyramidShuffle: Long = traced {
    val levels = Pyramid.build(level0, prof)
    levels.foreach(_.count())
    levels.foreach(_.unpersist(blocking = true))
  }._3

  lazy val (result, jobs, shuffleWrite) = {
    write() // warm-up: first-use planning must not change the counts below
    traced(write())
  }

  test("encoded bytes cross the shuffle once: beyond the pyramid, <= 1.25x tile bytes") {
    assert(pyramidShuffle > 0)
    val beyond = shuffleWrite - pyramidShuffle
    assert(beyond <= 1.25 * result.tileBytes,
      s"shuffle write $shuffleWrite B - pyramid $pyramidShuffle B = $beyond B " +
        s"vs ${result.tileBytes} tile bytes")
  }

  test("one write runs an exact job count once the pyramid is built") {
    val (pyramid, writer) = jobs.span(!_.readsEncode)
    def show = jobs.map(j => s"job ${j.id}: ${j.scopes.mkString(" <- ")}").mkString("\n")
    // the pyramid, unchanged by the writer: under AQE each level's cache
    // is built by its own job (4) and each quadrant shuffle's map side is
    // one more (3); when two query stages reach one level's cache at once
    // both submit its build job, a race, so up to one duplicate per level
    assert(prof.maxLevel == 3)
    assert(pyramid.size >= 7 && pyramid.size <= 11, show)
    // the writer's own jobs, exactly:
    //   1. encode every tile once, into the persisted frame (cache build)
    //   2. the one collect: tile sizes + band-stats partials
    //   3. the sink's byte shuffle, map side (header + placed tiles)
    //   4. part packing + upload, receipts back to the driver
    assert(writer.size == 4, show)
    assert(writer.forall(_.readsEncode), show)
  }

  test("band stats equal a driver-side BigDecimal reference and the decimal(38,12) SQL") {
    val tiles = level0.collect().map(TileCodec.encode(_, prof))
    def dec(d: Double) = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(12, java.math.RoundingMode.HALF_UP)
    assert(result.stats.size == prof.bands)
    for (b <- 0 until prof.bands) {
      val valid = tiles.map(_.bandValid(b)).sum
      val total = tiles.map(_.pxTotal).sum
      val s = tiles.map(t => dec(t.bandSum(b))).reduce(_ add _).doubleValue
      val ss = tiles.map(t => dec(t.bandSumSq(b))).reduce(_ add _).doubleValue
      val mean = s / valid
      val live = tiles.filter(_.bandValid(b) > 0)
      val want = CogWriter.BandStats(total, valid, mean,
        math.sqrt(math.max(0, ss / valid - mean * mean)),
        live.map(_.bandMin(b)).min, live.map(_.bandMax(b)).max, 100.0 * valid / total)
      assert(result.stats(b) == want, s"band $b")
    }

    // the relational form the stats had before they were folded into
    // the writer's collect: exact decimal(38,12) sums, cast back
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val sql = s.createDataset(tiles.toSeq)
      .flatMap(e => e.bandValid.indices.map(b => (b, e.bandSum(b), e.bandSumSq(b))))
      .toDF("band", "s", "ss")
      .groupBy($"band")
      .agg(sum($"s".cast("decimal(38,12)")).cast("double"),
        sum($"ss".cast("decimal(38,12)")).cast("double"))
      .orderBy($"band").collect()
    for (r <- sql) {
      val st = result.stats(r.getInt(0))
      assert(st.mean == r.getDouble(1) / st.pxValid)
      val mean = r.getDouble(1) / st.pxValid
      assert(st.stddev == math.sqrt(math.max(0, r.getDouble(2) / st.pxValid - mean * mean)))
    }
  }

  test("layout: file order, sparse tiles at 0, partition-independent") {
    val sizes = Seq(
      Offsets.TileSize(1, 0, 0, 0, 5), Offsets.TileSize(1, 0, 0, 1, 2),
      Offsets.TileSize(0, 0, 1, 0, 7), Offsets.TileSize(0, 0, 0, 0, 0),
      Offsets.TileSize(0, 1, 0, 0, 3))
    val dims = Map(0 -> (2, 2), 1 -> (1, 1))
    val l = Offsets.layout(sizes, 100L, dims)
    assert(l.fileLen == 117L)
    assert(l.offsets((1, 0)).toSeq == Seq(100L))
    assert(l.offsets((1, 1)).toSeq == Seq(105L))
    assert(l.offsets((0, 0)).toSeq == Seq(0L, 107L, 114L, 0L)) // (0,0) sparse, (1,1) absent
    assert(l.counts((0, 0)).toSeq == Seq(0L, 7L, 3L, 0L))
    assert(Offsets.layout(sizes.reverse, 100L, dims).offsets((0, 0)).toSeq ==
      l.offsets((0, 0)).toSeq)
    intercept[IllegalArgumentException](Offsets.layout(sizes :+ sizes.head, 100L, dims))
    intercept[IllegalArgumentException](
      Offsets.layout(Seq(Offsets.TileSize(1, 0, 1, 0, 1)), 0L, dims))
  }
}
