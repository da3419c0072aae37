package graftbench

import java.nio.file.{Files, Paths}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --scratch <dir>` (run through run.py, which
  * builds the classpath). Prints the metrics one per line, then one JSON
  * result as the last line of standard output. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w: Workload = opts("workload") match {
      case "cog_write" => new CogWrite
      case "cog_read" => new CogRead
      case "dedup" => new Dedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced = opts("trace") == "1"
    // A fixed op count, not a deadline: every run of a workload times the
    // same op sequence after the same warm-up, so the JIT's warm-up drift
    // over that sequence is the same on every run and on both commits of
    // a comparison.
    val ops = math.max(if (traced) 2 else 1,
      math.round(opts("seconds").toDouble * 1000 / w.nominalOpMs).toInt)
    val scratch = Paths.get(opts("scratch")).toAbsolutePath
    Files.createDirectories(scratch)
    val h = new Harness(w, opts("seed").toLong, opts("cores").toInt, scratch)
    val code =
      try {
        val (setupS, warmMs) = h.setups(SetupReps, jvmStartMs)
        line("warm_up_op_ms", warmMs, "ms", "one op, untimed, not in setup_s")
        val (plain, staged) = h.measure(ops, traced)
        val metrics =
          if (!traced) endToEnd(h, w, plain, setupS)
          else perLayer(w, plain, staged)
        val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
        val body = metrics.map { case (k, v) =>
          require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
          s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "${units(k)}"}"""
        }.mkString(", ")
        println(s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
          s""""failed": ${h.failed}, "metrics": {$body}}""")
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] run failed: $e")
          e.printStackTrace()
          1
      } finally h.close()
    System.out.flush()
    sys.exit(code) // the mock store's HTTP worker threads are not daemons
  }

  private def line(name: String, value: Double, unit: String, note: String = ""): Unit =
    println(f"$name%-30s $value%14.4f $unit%-8s $note")

  private def endToEnd(h: Harness, w: Workload, run: Loop,
      setupS: Seq[Double]): Seq[(String, Double)] = {
    val n = run.samplesMs.size
    val p50 = Stats.median(run.samplesMs.toSeq)
    println(s"op samples (ms): ${run.samplesMs.map(x => f"$x%.1f").mkString(" ")}")
    line("throughput", run.throughput, s"${w.workUnit}/s",
      f"${run.work}%.1f ${w.workUnit} in ${run.wallMs / 1000}%.3f s")
    line("op_p50_ms", p50, "ms", s"n=$n")
    // a percentile is reported only with at least ten samples beyond it
    if (n >= 100) line("op_p90_ms", Stats.quantile(run.samplesMs.toSeq, 0.9), "ms", s"n=$n")
    else println(s"op_p90_ms: not reported, $n samples leave fewer than 10 beyond p90")
    line("setup_s", Stats.median(setupS), "s",
      s"median of ${setupS.map(s => f"$s%.2f").mkString(", ")}")
    line("error_rate", h.failed.toDouble / h.attempted, "ratio", s"${h.failed}/${h.attempted} ops")
    w.ratios.foreach { case (k, v) => line(k, v, "ratio") }
    Seq("throughput" -> run.throughput, "op_p50_ms" -> p50, "setup_s" -> Stats.median(setupS))
  }

  /** Each layer metric is its median over the staged ops; a layer the
    * workload never calls reads 0. The tracing overhead compares the
    * throughput of the staged ops with that of the plain ops they
    * alternate with. */
  private def perLayer(w: Workload, plain: Loop, staged: Loop): Seq[(String, Double)] = {
    val keys = staged.layers.flatMap(_.keys).toSet
    val medians = keys.map(k => k -> Stats.median(staged.layers.flatMap(_.get(k)).toSeq)).toMap
    val derived = Map(
      "trace.overhead_pct" -> (plain.throughput / staged.throughput - 1) * 100,
      "trace.stage_sum_ratio" -> medians("trace.stage_ms") / Stats.median(plain.samplesMs.toSeq))
    val all = medians ++ w.ratios ++ derived
    val units = Metrics.PerLayer.toMap
    val out = Metrics.PerLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }
    out.foreach { case (k, v) => line(k, v, units(k)) }
    out
  }
}
