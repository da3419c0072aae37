package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Which Hadoop settings an I/O call sees — one rule for every read and
  * write, on the driver and in tasks: the SparkContext's
  * `hadoopConfiguration` entries, with the call's own options on top
  * (options win). Custom filesystems (`fs.http.impl`), endpoints and
  * `fs.<scheme>.sigv4.*` keys set once on the session therefore reach
  * `spark.read`, `df.write`, [[graft.raster.CogReader]] and every
  * executor-side FileSystem alike; a bare `new Configuration()` in a
  * task would silently drop them.
  *
  * Tasks get the session entries through ONE channel, [[broadcast]];
  * the call's (tiny) option map rides the closure or the partition. */
private[graft] object SessionConf {

  /** The one builder: `session` entries, then `options` over them. */
  def hadoop(session: Map[String, String],
      options: Map[String, String]): Configuration = {
    val c = new Configuration()
    session.foreach { case (k, v) => c.set(k, v) }
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Driver side: the live session entries under `options`. */
  def hadoop(spark: SparkSession, options: Map[String, String]): Configuration =
    hadoop(entries(spark), options)

  /** The live `hadoopConfiguration` entries of `spark`'s context. */
  def entries(spark: SparkSession): Map[String, String] =
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap

  /** The active (else default) session, for driver calls that take
    * none; None outside Spark or inside a task. Every session of one
    * context shares its `hadoopConfiguration`. */
  def active: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  private final case class Snap(conf: Map[String, String],
      bc: Broadcast[Map[String, String]])
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Snap]()

  /** [[entries]] as a broadcast for tasks. Memoized per SparkCONTEXT,
    * not per session: the conf object is context-level state shared by
    * every session clone (each streaming query's foreachBatch runs in
    * a cloned session — keying by session would rebuild the broadcast
    * per stream and pin every clone forever), so the map stays bounded
    * at one entry per LIVE context — stopped contexts are swept on the
    * next call, so a JVM that cycles contexts (test suites) never
    * accumulates dead ones. The LIVE conf is snapshotted and compared
    * on EVERY call — building the map is trivial; only the broadcast
    * is skipped when nothing changed — so a caller that mutates the
    * conf between queries (credentials rotation, a test pointing at a
    * fresh mock endpoint) always ships current values, while the
    * steady-state per-micro-batch cost drops from a multi-hundred-entry
    * broadcast to a map comparison. On the driver, `.value` is the
    * snapshot itself. */
  def broadcast(spark: SparkSession): Broadcast[Map[String, String]] = {
    val sc = spark.sparkContext
    // sweep entries whose context has STOPPED: a long-lived JVM that
    // cycles SparkContexts (test suites, repeated local runs) must not
    // strongly retain each dead context and its broadcast forever
    memo.keySet.removeIf(k => (k ne sc) && k.isStopped)
    val snap = entries(spark)
    val cur = memo.get(sc)
    // FULL equality, not a hash: a collision would silently ship
    // rotated-out credentials. A superseded broadcast is left to the
    // driver GC / ContextCleaner — destroy() could kill an in-flight
    // query still holding it in its partitions.
    if (cur != null && cur.conf == snap) cur.bc
    else {
      val bc = sc.broadcast(snap)
      memo.put(sc, Snap(snap, bc))
      bc
    }
  }
}
