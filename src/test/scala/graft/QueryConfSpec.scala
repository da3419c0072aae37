package graft

import graft.queries.{RasterQueries, WindowQueries}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** No query changes session state that another query on the same
  * session can see: raster queries run at the session's width, and a
  * streaming demo runs in a child session of its own. */
class QueryConfSpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"

  test("a raster pyramid and a streaming demo run side by side; the session width stays 4") {
    assert(spark.conf.get(Width) == "4")
    def pyramid() = RasterQueries.rasterPyramid(spark, sfDir).collect().toSeq
    def stream() = WindowQueries.streamWatermark(spark, sfDir).collect().toSeq
    QueryScope.release()
    val (serialPyramid, serialStream) = (pyramid(), stream())
    QueryScope.release()
    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    val sampler = new Thread(() =>
      while (!done.get) { seen.add(spark.conf.get(Width)); Thread.sleep(1) })
    sampler.start()
    val pool = Executors.newFixedThreadPool(2)
    try {
      val p = pool.submit(() => pyramid())
      val s = pool.submit(() => stream())
      assert(p.get(5, TimeUnit.MINUTES) == serialPyramid)
      assert(s.get(5, TimeUnit.MINUTES) == serialStream)
    } finally {
      done.set(true)
      sampler.join()
      pool.shutdown()
      QueryScope.release()
    }
    assert(seen.asScala == Set("4"), s"widths seen while the queries ran: $seen")
  }

  test("a streaming demo keeps its width and its sink view out of the caller's session") {
    val before = spark.conf.getAll
    // the rows graft.Verify dumps for q_stream_dedup: 300 distinct
    // event ids, every third one a doc
    val result = WindowQueries.streamDedup(spark, sfDir)
    // the result is planned and run in the caller's session, under its conf
    assert(result.sparkSession eq spark)
    assert(result.collect().toSeq == Seq(Row("doc", 100L), Row("img", 200L)))
    assert(spark.conf.getAll == before)
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("q_stream_") && n.endsWith("_out"))
    assert(views.isEmpty, views.mkString(", "))
  }

  test("the demo session follows the caller's runtime conf and sets its own width") {
    val tz = "spark.sql.session.timeZone"
    val aqeSkew = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    withConf(tz -> "America/New_York", Width -> "7", aqeSkew -> "9.0") {
      val child = WindowQueries.demoSession(spark)
      assert(child.conf.get(tz) == "America/New_York")
      assert(child.conf.get(aqeSkew) == "9.0")
      assert(child.conf.get(Width) == "4")
      assert(spark.conf.get(Width) == "7")
      // a bare child starts from the SparkContext's conf, not the
      // caller's runtime settings
      assert(spark.newSession().conf.get(tz) != "America/New_York")
    }
    // one child per caller: the next call re-syncs it, including the
    // key the caller unset
    val child = WindowQueries.demoSession(spark)
    assert(child eq WindowQueries.demoSession(spark))
    assert(child.conf.get(tz) == "UTC")
    assert(child.conf.get(aqeSkew) != "9.0")
    assert(spark.conf.get(tz) == "UTC")
  }
}
