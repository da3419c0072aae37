package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One workload: its seeded inputs, its op, and the op's output check.
  * The harness calls `setup` in a fresh session, then ops one at a time
  * (a closed loop with one client), with `isolate` and `check` outside
  * the timer around each. */
trait Workload {
  type Out

  /** Unit of one piece of work in `throughput` (per second). */
  def workUnit: String

  /** Typical op time on a 4-core host: a run times
    * round(seconds / nominalOpMs) ops. */
  def nominalOpMs: Double

  /** Generate the inputs and the expected answers from `seed`. */
  def setup(spark: SparkSession, seed: Long, scratch: Path): Unit

  /** The timed op. `i` numbers the ops of a run from 0; the warm-up op
    * is -1. */
  def op(i: Int): Out

  /** The op restaged through graft's public calls, one bench stage per
    * layer, with that layer's counts. Same output as `op`. */
  def traced(i: Int, stage: Stager): (Out, Map[String, Double])

  /** What is wrong with an op's output, or None. Untimed. */
  def check(out: Out): Option[String]

  /** Work units one correct op completed. */
  def work(out: Out): Double

  /** Free what the previous op left behind. Untimed. */
  def isolate(spark: SparkSession): Unit = Harness.unpersistAll(spark)

  /** Exact workload ratios over the checked ops so far (name -> value),
    * printed with the end-to-end metrics and reported per layer. */
  def ratios: Map[String, Double] = Map.empty

  def teardown(): Unit = ()
}

/** Runs the bench stages of one traced op: each stage is a Spark job
  * group `<op>/<stage>` and a wall-clock span. Stages never nest, so a
  * stage's self time is its span. */
final class Stager(sc: SparkContext, rec: Recorder, val prefix: String) {
  val ms: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def group(name: String): String = prefix + name

  def apply[T](name: String)(body: => T): T = {
    sc.setJobGroup(group(name), name, interruptOnCancel = false)
    val t0 = System.nanoTime
    try body
    finally {
      ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime - t0) / 1e6
      sc.clearJobGroup()
    }
  }

  /** Shuffle MiB written by one finished stage. */
  def shuffleMb(name: String): Double = {
    org.apache.spark.BenchBus.drain(sc)
    rec.shuffleWriteBytes(group(name)) / (1024.0 * 1024.0)
  }
}
