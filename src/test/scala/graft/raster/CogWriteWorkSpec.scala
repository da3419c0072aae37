package graft.raster

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Pins the Spark work of one `CogWriter.write`: two jobs, the
  * pyramid's quadrants cross the wire once per round and the encoded
  * bytes once (into their parts), all driver-sized facts (tile sizes,
  * band stats) arrive in one collect, and the band stats stay exact. */
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

  /** A started job: its stage ids, their RDD names and scopes, the
    * stages that ran tasks (a stage whose shuffle output is reused is
    * listed but skipped), and the shuffle bytes its tasks wrote. (No
    * default arguments: the listener thread must not initialize the
    * companion while the test thread holds the suite's lock in a lazy
    * val.) */
  case class Job(id: Int, stages: Seq[Int], scopes: Seq[String], var ran: Set[Int],
      var shuffleWrite: Long)

  /** Jobs started while `f` runs, in id order. */
  def traced[A](f: => A): (A, Seq[Job]) = {
    val jobs = ArrayBuffer.empty[Job]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId, e.stageIds, e.stageInfos.sortBy(_.stageId)
          .flatMap(_.rddInfos.sortBy(_.id))
          .map(r => r.scope.map(_.name).getOrElse(r.name)).distinct, Set.empty, 0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        if (e.taskMetrics != null) jobs.find(_.stages.contains(e.stageId)).foreach { j =>
          j.ran += e.stageId
          j.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.synchronized((a, jobs.sortBy(_.id).toSeq))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  def write(p: RasterProfile = prof): CogWriter.Result =
    CogWriter.write(level0, p,
      new graft.sink.LocalMultipartSink(Files.createTempDirectory("graft-work").toString))

  /** Shuffle bytes the per-level reference pyramid writes. */
  lazy val perLevelShuffle: Long = traced {
    val levels = Pyramid.build(level0, prof)
    levels.foreach(_.count())
    levels.foreach(_.unpersist(blocking = true))
  }._2.map(_.shuffleWrite).sum

  lazy val (result, jobs) = {
    write() // warm-up: first-use planning must not change the counts below
    traced(write())
  }

  /** The jobs of the same write under the widest halo kernel. */
  lazy val lanczosJobs = {
    val lanczos = prof.copy(resampling = "lanczos")
    write(lanczos)
    traced(write(lanczos))._2
  }

  def show: String = jobs.map(j => s"job ${j.id}: ${j.stages.size} stages " +
    s"(${j.ran.size} ran), " +
    s"${j.shuffleWrite} B shuffled: ${j.scopes.mkString(" <- ")}").mkString("\n")

  test("encoded bytes cross the shuffle once: beyond the pyramid, <= 1.25x tile bytes") {
    // the pyramid's quadrants cross in the collect's job, the encoded
    // bytes in the sink's; the quadrants are under the per-level
    // pyramid's traffic (1/4 + 1/64 + ... of the source, not 1/3)
    val pyramid = jobs.head.shuffleWrite
    val beyond = jobs.tail.map(_.shuffleWrite).sum
    assert(pyramid > 0 && pyramid < perLevelShuffle,
      s"quadrants $pyramid B vs per-level pyramid $perLevelShuffle B\n$show")
    assert(beyond <= 1.25 * result.tileBytes,
      s"sink shuffle $beyond B vs ${result.tileBytes} tile bytes\n$show")
  }

  test("one write runs exactly two jobs") {
    // 150x130 at 16 px: level 1 is 5x5 tiles, so at 4 shuffle
    // partitions one round of 4x4-tile blocks builds levels 1-3
    assert(prof.maxLevel == 3)
    assert(PyramidEncode.blockLog(prof, 1, 4) == 2)
    //   1. the one collect: step 0 (encode level 0, emit quadrants),
    //      the one round's exchange, then tile sizes + band-stats partials
    //   2. the sink: its one byte shuffle (header + placed tiles), then
    //      part packing + upload, receipts back to the driver — an RDD
    //      job, so no AQE map-stage job runs before it
    assert(jobs.size == 2, show)
    assert(jobs.head.stages.size == 2, show)
    assert(jobs(1).ran.size == 2, show)
    // a halo kernel builds one level per round, each round one
    // exchange: level 0's tiles and strips, then one per overview
    assert(lanczosJobs.size == 2, lanczosJobs)
    assert(lanczosJobs.head.stages.size == prof.maxLevel + 2, lanczosJobs)
    assert(lanczosJobs(1).ran.size == 2, lanczosJobs)
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
