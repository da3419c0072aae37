package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
}

/** Metric names and units, as BENCHMARK.json lists them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "throughput" -> "work/s",
    "op_p50_ms" -> "ms",
    "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.gc_ms" -> "ms", "spark.stage_skew" -> "ratio",
    "spark.storage_peak_mb" -> "MiB",
    "raster.gen_ms" -> "ms", "pyramid.build_ms" -> "ms", "pyramid.shuffle_mb" -> "MiB",
    "tilecodec.encode_ms" -> "ms", "tilecodec.tiles" -> "count",
    "tilecodec.tiles_sparse" -> "count", "tilecodec.encoded_mb" -> "MiB",
    "offsets.place_ms" -> "ms", "bigtiff.header_ms" -> "ms", "bigtiff.header_bytes" -> "bytes",
    "sink.write_ms" -> "ms", "sink.parts" -> "count", "sink.part_mb" -> "MiB",
    "sink.put_requests" -> "count", "sink.retries" -> "count",
    "stored_bytes_per_pixel_byte" -> "ratio",
    "cog.plan_ms" -> "ms", "cog.scan_ms" -> "ms", "cog.tiles_planned" -> "count",
    "cog.tiles_returned" -> "count", "http.range_gets" -> "count",
    "http.bytes_fetched" -> "bytes", "http.unbounded_gets" -> "count",
    "fetched_bytes_per_pixel_byte" -> "ratio",
    "pipeline.shingle_ms" -> "ms", "pipeline.kept_shingles" -> "count",
    "pipeline.pair_work" -> "count", "pipeline.pairs_ms" -> "ms",
    "pipeline.kept_pairs" -> "count", "dedup.cc_ms" -> "ms", "dedup.cc_rounds" -> "count",
    "trace.overhead_pct" -> "%", "trace.stage_sum_ratio" -> "ratio")
}

/** The ops of one kind in a run: latency samples of the ops that checked
  * out, their work, the wall time of every op attempted, and (staged ops)
  * their layer metrics. */
final class Loop {
  val samplesMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val layers: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer.empty
  var work = 0.0
  var wallMs = 0.0
  def throughput: Double = work / (wallMs / 1000.0)
}

/** Set-up, warm-up and the measuring loop of one run. */
final class Harness(w: Workload, seed: Long, cores: Int, scratch: Path) {
  private var spark: SparkSession = _
  private var rec: Recorder = _
  var attempted = 0
  var failed = 0

  /** A fresh session with a fresh recorder; stops the previous one. */
  private def newSession(): Unit = {
    if (spark != null) {
      w.teardown()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = graft.Fixtures.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.fs.http.impl", classOf[graft.sources.HttpRangeFileSystem].getName))
      .getOrCreate()
    rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
  }

  /** `reps` complete set-ups, each in a fresh session: the seeded inputs
    * and the expected answers. The first also pays the JVM start. The
    * last set-up stays live and runs one checked warm-up op, which no
    * set-up time includes. Returns (set-up seconds, warm-up op ms). */
  def setups(reps: Int, jvmStartMs: Long): (Seq[Double], Double) = {
    val times = (0 until reps).map { rep =>
      val t0 = if (rep == 0) jvmStartMs else System.currentTimeMillis
      newSession()
      val dir = scratch.resolve(s"setup-$rep")
      Files.createDirectories(dir)
      w.setup(spark, seed, dir)
      (System.currentTimeMillis - t0) / 1000.0
    }
    w.isolate(spark)
    val (warmMs, _) = runOne(-1, traced = false)
    (times, warmMs)
  }

  private var nextOp = 0

  /** `n` ops, one after another (a closed loop with one client). With
    * `trace`, ops alternate plain and staged, plain first, so both halves
    * see the same JIT warm-up. Returns (plain, staged). */
  def measure(n: Int, trace: Boolean): (Loop, Loop) = {
    val plain = new Loop
    val staged = new Loop
    (0 until n).foreach { k =>
      val traced = trace && k % 2 == 1
      val into = if (traced) staged else plain
      w.isolate(spark)
      val (ms, ok) = runOne(nextOp, traced)
      nextOp += 1
      into.wallMs += ms
      ok.foreach { case (units, layer) =>
        into.samplesMs += ms
        into.work += units
        if (traced) into.layers += layer
      }
    }
    (plain, staged)
  }

  /** One op: (wall ms, Some((work units, layer metrics)) when it ran and
    * its output checked out). A failed op counts against `attempted` and
    * its time against the wall, but never enters a latency sample. */
  private def runOne(i: Int, traced: Boolean): (Double, Option[(Double, Map[String, Double])]) = {
    val sc = spark.sparkContext
    val stager = new Stager(sc, rec, s"op$i/")
    if (traced) {
      BenchBus.drain(sc)
      rec.clearTrace()
      rec.tracing = true
    }
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val res = Try(if (traced) w.traced(i, stager) else (w.op(i), Map.empty[String, Double]))
    val ms = (System.nanoTime - t0) / 1e6
    val endMs = System.currentTimeMillis
    val engine =
      if (!traced) Map.empty[String, Double]
      else {
        BenchBus.drain(sc)
        rec.tracing = false
        rec.engine(stager.prefix, startMs, endMs)
      }
    attempted += 1
    val ok = res match {
      case Failure(e) =>
        System.err.println(s"[graftbench] op $i threw: $e")
        None
      case Success((out, layer)) =>
        Try(w.check(out)) match {
          case Success(None) => Some((w.work(out), layer ++ engine))
          case Success(Some(msg)) =>
            System.err.println(s"[graftbench] op $i output check failed: $msg")
            None
          case Failure(e) =>
            System.err.println(s"[graftbench] op $i output check threw: $e")
            None
        }
    }
    if (ok.isEmpty) failed += 1
    (ms, ok)
  }

  def close(): Unit = {
    w.teardown()
    if (spark != null) spark.stop()
  }
}

object Harness {
  /** Blocking-unpersist every RDD the context still holds, so frees issued
    * without blocking by the previous op do not land in the next one. */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}
