package graft

import org.apache.spark.sql.SparkSession

/** Measured evidence for WARC within-file splitting
  * ([[graft.sources.WarcSplit]]): one LARGE multi-member shard scanned
  * twice — once forced unsplit (split.size above the file length) and
  * once split at member boundaries via its sidecar — with a
  * payload-decoding aggregation, so the gzip-inflate + parse work the
  * split parallelizes is actually on the path. The unsplit scan is ONE
  * task however many cores exist; the split scan fans across the
  * member-aligned ranges. This is the feature's whole claim (a corpus
  * of few large shards must not idle the cluster) turned into a
  * wall-clock ratio instead of a plan-shape argument.
  *
  * Prints one JSON line:
  *   {"metric":"warc_split_speedup","shard_mb":…,"records":…,
  *    "unsplit_sec":…,"split_sec":…,"partitions":…,"speedup":…}
  *
  * Usage: runMain graft.SplitEvidence [records] [bodyKiB] [splitMiB]
  * (defaults 6144 × 96 KiB ≈ 576 MB raw, split.size 32 MiB). Timing
  * is min-of-2 per mode after a warm-up of the staged file, matching
  * graft.Bench's discipline. */
object SplitEvidence {

  def main(args: Array[String]): Unit = {
    val records = if (args.length > 0) args(0).toInt else 6144
    val bodyKiB = if (args.length > 1) args(1).toInt else 96
    val splitMiB = if (args.length > 2) args(2).toInt else 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-split-evidence")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // stage ONE shard of crawl-text-like compressible bodies, written
    // from the executors through the production sink so the sidecar is
    // the real artifact, not a hand-built one
    val dir = TmpDirs.create("graft_split_ev")
    val kib = bodyKiB // avoid capturing `args` in the task closure
    val rows = spark.range(0, records.toLong).as[Long].map { id =>
      // TEXT-like bodies, not random bytes: incompressible data
      // deflates to STORED blocks whose inflation is a memcpy — no
      // decode work to parallelize and the measurement would be
      // vacuous. Random words compress ~2-3× like real crawl text,
      // so the split actually parallelizes LZ inflation + parse.
      val rnd = new java.util.Random(id * 2654435761L)
      val sb = new java.lang.StringBuilder(kib << 10)
      while (sb.length < (kib << 10)) {
        sb.append("word").append(rnd.nextInt(50000)).append(' ')
      }
      (s"https://big.example/d/$id", sb.toString.getBytes("UTF-8"))
    }.toDF("url", "body")
    rows.repartition(1)
      .write.format("warc")
      .option("shard.capacity", records.toString)
      .mode("overwrite").save(dir)
    val shard = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    val shardMb = shard.length / (1 << 20)

    def run(splitSize: Long): (Double, Int) = {
      // a FRESH DataFrame per timed execution: re-collecting the same
      // Dataset instance reuses AQE's already-materialized result
      // stages and times ~nothing (observed 2.45 s → 0.02 s on the
      // identical scan) — min-of-2 is only honest over fresh plans
      def df() = spark.read.format("warc")
        .option("split.size", splitSize.toString)
        .load(dir)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length($"body")).as("bytes"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
      // partitions actually planned at this split.size (separate
      // instance; never executed)
      val parts =
        QueryScope.withConf(spark, "spark.sql.adaptive.enabled", "false") {
          df().queryExecution.executedPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.toBatch.planInputPartitions().length
          }.getOrElse(-1)
        }
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        val r = df().collect()
        require(r.head.getLong(1) == records.toLong,
          s"short corpus: ${r.head.getLong(1)} of $records")
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[split-evidence] run split=$splitSize: " +
          f"$dt%.3f s, bytes=${r.head.getLong(0)}, n=${r.head.getLong(1)}")
        dt
      }
      (times.min, parts)
    }

    // warm-up (page cache + JIT), one untimed pass — not the full
    // min-of-2 routine, which would pay a redundant extra scan
    spark.read.format("warc")
      .option("split.size", (shard.length + 1).toString).load(dir)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()
    val (unsplitSec, p1) = run(shard.length + 1)
    val (splitSec, pN) = run(splitMiB.toLong << 20)
    require(p1 == 1 && pN > 1, s"expected 1 vs many partitions, got $p1/$pN")
    println(f"""{"metric":"warc_split_speedup","shard_mb":$shardMb,""" +
      f""""records":$records,"unsplit_sec":$unsplitSec%.3f,""" +
      f""""split_sec":$splitSec%.3f,"partitions":$pN,""" +
      f""""speedup":${unsplitSec / splitSec}%.2f}""")
    spark.stop()
  }
}
