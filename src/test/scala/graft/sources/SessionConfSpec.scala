package graft.sources

import graft.SparkSpec
import graft.raster.{CogReader, RasterProfile, SyntheticRaster}
import graft.sink.{MockS3Server, SigV4}

/** One Hadoop-conf rule for reads and writes alike: settings made once
  * on the session's `hadoopConfiguration` (the filesystem, its SigV4
  * keys) reach `df.write.format("cog")` and `CogReader.read` with no
  * per-call options, and a per-call option still beats a session value
  * for the same key. The mock store refuses every unsigned or wrongly
  * signed request, so a call that ignored the session conf fails. */
class SessionConfSpec extends SparkSpec {

  val ND = -9999.0
  val prof = RasterProfile(64, 48, blockSize = 16, nodata = ND,
    minOverviewSize = 16)
  val creds = SigV4.Credentials("AKIDSESSION", "session-secret")

  /** Signed mock store + session-level HTTP filesystem and SigV4 keys,
    * all removed again afterwards. */
  def withSessionConf(f: MockS3Server => Unit): Unit = {
    val srv = new MockS3Server
    srv.requireSigV4(creds)
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Map(
      "fs.http.impl" -> classOf[HttpRangeFileSystem].getName,
      "fs.http.impl.disable.cache" -> "true",
      "fs.http.sigv4.access.key" -> creds.accessKey,
      "fs.http.sigv4.secret.key" -> creds.secretKey)
    keys.foreach { case (k, v) => hc.set(k, v) }
    try f(srv)
    finally {
      keys.keys.foreach(hc.unset)
      srv.stop()
    }
  }

  def write(uri: String, seed: Long,
      opts: Map[String, String] = Map.empty): Map[(Int, Int), graft.raster.Tile] = {
    val tiles = SyntheticRaster.generate(spark, prof, seed)
    opts.foldLeft(tiles.toDF().write.format("cog")
        .option("nodata", ND.toString).option("minoverviewsize", "16")) {
      case (w, (k, v)) => w.option(k, v)
    }.mode("append").save(uri)
    tiles.collect().map(t => (t.ty, t.tx) -> t).toMap
  }

  test("df.write.format(\"cog\") signs with session conf and no fs options") {
    withSessionConf { srv =>
      write(s"${srv.endpoint}/b/k.tif", seed = 501L)
      assert(srv.storedObject("b", "k.tif").isDefined,
        "the MPU complete must commit the object")
      assert(srv.verifiedRequestCount > 0, "write requests must be signed")
    }
  }

  test("CogReader.read with no confEntries reads it back pixel-exact, ranged") {
    withSessionConf { srv =>
      val uri = s"${srv.endpoint}/b/k.tif"
      val expected = write(uri, seed = 502L)
      srv.resetReadAccounting()
      val back = CogReader.read(spark, uri, prof).collect()
      assert(back.length == expected.size)
      for (t <- back) {
        val e = expected((t.ty, t.tx))
        for (i <- 0 until e.h * e.w) {
          val want = if (e.valid(i, ND)) e.pixels(i) else ND
          assert(t.pixels(i) == want, s"tile(${e.ty},${e.tx}) px $i")
        }
      }
      assert(srv.unboundedGets == 0, "reads must stay ranged")
    }
  }

  test("a per-call option beats a wrong session value for the same key") {
    withSessionConf { srv =>
      val uri = s"${srv.endpoint}/b/k.tif"
      write(uri, seed = 503L)
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.http.sigv4.secret.key", "wrong")
      val right = Map("fs.http.sigv4.secret.key" -> creds.secretKey)
      // the wrong session value is really consulted: no option, 403
      val ex = intercept[Exception] { CogReader.readMeta(uri) }
      assert(ex.getMessage.contains("403"), ex.getMessage)
      // and each path's option overrides it
      assert(CogReader.readMeta(uri, right).nonEmpty)
      assert(CogReader.read(spark, uri, prof, 0, right).count() == 12)
      val df = spark.read.format("cog")
        .option("fs.http.sigv4.secret.key", creds.secretKey).load(uri)
      assert(df.where("level = 0").count() == 12)
      write(s"${srv.endpoint}/b/k2.tif", seed = 504L, right)
      assert(srv.storedObject("b", "k2.tif").isDefined)
    }
  }
}
