package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement tool (optimization rounds, guide §1): runs ONE declared
  * query end-to-end (same `.count()` action as Bench) with a
  * SparkListener attached and prints the EXECUTED job/stage/shuffle
  * totals — jobs launched, stages run, shuffle bytes written/read,
  * records shuffled, spill. `explain("formatted")` dumps cannot see
  * inside iterative operators (pagerank/CC materialize per round and
  * the final frame plans as one ExistingRDD scan); this reports what
  * actually ran. args(0) = query name; SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS as in Bench. Read-only: touches nothing timed. */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ShuffleProbe <query_name>")
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Fixtures.localSession()
    val fn = SparkEntry.queries(name)
    // warmup exactly like Bench so JIT/footers don't skew the timing
    Fixtures.warmUp(spark, sfDir)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    @volatile var shufRecs = 0L
    @volatile var spill = 0L
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          val m = sc.stageInfo.taskMetrics
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufRecs += m.shuffleWriteMetrics.recordsWritten
          spill += m.diskBytesSpilled
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // the listener bus is async — give queued stage events a beat to
    // drain before reading the counters
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(listener)
    println(f"""{"query":"$name","rows":$n,"sec":$sec%.3f,"jobs":$jobs,"stages":$stages,"shuffle_write_bytes":$shufWrite,"shuffle_read_bytes":$shufRead,"shuffle_records":$shufRecs,"disk_spill_bytes":$spill}""")
    spark.stop()
  }
}
