package graft.raster

import graft.SparkSpec
import graft.sources.CogInputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Runtime filtering (SupportsRuntimeFiltering) on the cog DSv2:
  * joining the tile table against a small AOI/file table must prune
  * files and tiles at EXECUTION time the way bbox/tile-key literals
  * prune at planning — same values as the unpruned join, fewer
  * partitions planned, un-joined files' headers never fetched. */
class RuntimeFilterSpec extends SparkSpec {

  val ND = -9999.0

  /** 4-file geo mosaic staged once per suite. */
  lazy val mosaicDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    for ((name, originX, seed) <- Seq(
        ("a.tif", 500000.0, 81L), ("b.tif", 500640.0, 82L),
        ("c.tif", 501280.0, 83L), ("d.tif", 501920.0, 84L))) {
      val p = RasterProfile(64, 48, blockSize = 16, nodata = ND,
        minOverviewSize = 32,
        geo = Some(GeoRef(10.0, 10.0, originX, 6400000.0, 32633)))
      val bytes = CogWriter.writeBytes(
        SyntheticRaster.generate(spark, p, seed), p,
        java.nio.file.Files.createTempDirectory("graft-dpp-w").toString)._1
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    dir
  }

  def cogScans(p: SparkPlan): Seq[BatchScanExec] =
    p.collect { case b: BatchScanExec if b.scan.description().startsWith("cog") => b }

  /** Dim tables must come from storage: a literal LocalRelation gets
    * its selective filter constant-folded away, and DPP only triggers
    * on a filtering side that still HAS a selective predicate. */
  def dimTable(rows: Seq[(String, String)], cols: (String, String)): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    rows.toDF(cols._1, cols._2).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("file-table join prunes whole files at runtime (src In filter)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      val fact = spark.read.format("cog").load(mosaicDir)
      val allSrc = fact.select("src").distinct().as[String].collect().sorted
      assert(allSrc.length == 4)
      val keep = allSrc.head

      val dim = dimTable(allSrc.toSeq.map(s =>
        (s, if (s == keep) "keep" else "drop")), ("file_src", "tag"))
      val joined = fact.join(broadcast(dim.where($"tag" === "keep")),
        $"src" === $"file_src")

      // execute THIS df (not a derived one): the runtime-filter subquery
      // only runs — and partitions only re-plan — in the executed plan
      val rows = joined.collect()
      val viaJoin = rows.map(r => Seq(r.getAs[String]("src"),
        r.getAs[Int]("level"), r.getAs[Int]("ty"), r.getAs[Int]("tx"))).toSet
      val static = fact.where($"src" === keep)
        .select("src", "level", "ty", "tx").collect().map(_.toSeq).toSet
      assert(viaJoin == static && viaJoin.nonEmpty)

      // the scan carries a runtime filter...
      val scan = cogScans(joined.queryExecution.executedPlan).head
      assert(scan.runtimeFilters.nonEmpty,
        s"no runtime filter reached the cog scan:\n${joined.queryExecution.executedPlan}")
      // ...the EXECUTED partitions (inputRDD is what doExecute read;
      // scan.inputPartitions memoizes the pre-filter listing) cover
      // ONLY the joined file — partition COUNT can stay equal because
      // the pruned file re-splits into defaultParallelism slices
      val executedUris = scan.inputRDD.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions.map(_.asInstanceOf[CogInputPartition].uri)
      }.toSet
      assert(executedUris == Set(keep),
        s"executed scan read $executedUris, expected only $keep")
      assert(scan.inputPartitions
        .map(_.asInstanceOf[CogInputPartition].uri).toSet.size == 4,
        "pre-filter listing should cover the whole mosaic")
      // ...and re-planning after the delivered filter agrees
      val plannedUris = scan.scan.toBatch.planInputPartitions()
        .map(_.asInstanceOf[CogInputPartition].uri).toSet
      assert(plannedUris == Set(keep),
        s"runtime pruning planned $plannedUris, expected only $keep")
    }
  }

  test("tile-key join prunes tiles within files (level In filter)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      val fact = spark.read.format("cog").load(mosaicDir)
      val levels = {
        val path = java.nio.file.Files.createTempDirectory("graft-dpp-lvl").toString
        Seq((0, "drop"), (1, "keep"), (2, "drop")).toDF("lvl", "tag")
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      val joined = fact.join(broadcast(levels.where($"tag" === "keep")),
        $"level" === $"lvl")

      val rows = joined.collect()
      val viaJoin = rows.map(r => Seq(r.getAs[String]("src"),
        r.getAs[Int]("level"), r.getAs[Int]("ty"), r.getAs[Int]("tx"))).toSet
      val static = fact.where($"level" === 1)
        .select("src", "level", "ty", "tx").collect().map(_.toSeq).toSet
      assert(viaJoin == static && viaJoin.nonEmpty)

      val scan = cogScans(joined.queryExecution.executedPlan).head
      assert(scan.runtimeFilters.nonEmpty)
      val planned = scan.scan.toBatch.planInputPartitions()
        .map(_.asInstanceOf[CogInputPartition])
      val plannedTiles = planned.map(_.tiles.size).sum
      val allTiles = scan.inputPartitions
        .map(_.asInstanceOf[CogInputPartition].tiles.size).sum
      assert(plannedTiles < allTiles,
        s"level join planned $plannedTiles of $allTiles tiles — no runtime pruning")
      // every planned tile is level 1
      assert(planned.flatMap(_.tiles).forall(_.level == 1))
    }
  }

  test("the STRIPED planner honors runtime filters too (ty In from a join)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      // a strip-organized plain TIFF (GDAL's default layout) routed
      // through the same DSv2 source: runtime ty pruning must flow
      // through planStriped's shared inBounds path
      val width = 40; val height = 25; val rps = 8
      val nStrips = (height + rps - 1) / rps
      val strips = (0 until nStrips).map { si =>
        val rows = math.min(rps, height - si * rps)
        TileCodec.deflate(Array.tabulate(rows * width)(i => (i % 251).toByte))
      }.toArray
      val f = java.nio.file.Files.createTempDirectory("graft-dpp-strip")
        .resolve("s.tif")
      java.nio.file.Files.write(f, ClassicTiff.emitStripped(width, height, rps, 8, strips))
      val fact = spark.read.format("cog").load("file://" + f)

      val dim = dimTable(
        (0 until nStrips).map(i => (i.toString, if (i == 1) "keep" else "drop")),
        ("sid", "tag"))
      val joined = fact.join(
        broadcast(dim.where($"tag" === "keep").withColumn("sid_i", $"sid".cast("int"))),
        $"ty" === $"sid_i")
      val rows2 = joined.collect()
      assert(rows2.map(_.getAs[Int]("ty")).toSeq == Seq(1))

      val scan = cogScans(joined.queryExecution.executedPlan).head
      if (scan.runtimeFilters.nonEmpty) {
        val planned = scan.scan.toBatch.planInputPartitions()
          .map(_.asInstanceOf[CogInputPartition])
        assert(planned.flatMap(_.tiles).map(_.ti).toSeq == Seq(1),
          s"striped runtime pruning planned strips ${planned.flatMap(_.tiles).map(_.ti).toSeq}")
      }
    }
  }

  test("under AQE (the default), the runtime-filtered join stays correct") {
    // AQE wraps stages so the scan node isn't directly inspectable the
    // same way; what must hold regardless is correctness under the
    // default config the cluster actually runs with
    withConf("spark.sql.adaptive.enabled" -> "true") {
      import spark.implicits._
      val fact = spark.read.format("cog").load(mosaicDir)
      val allSrc = fact.select("src").distinct().as[String].collect().sorted
      val keep = allSrc.last
      val dim = dimTable(allSrc.toSeq.map(s =>
        (s, if (s == keep) "keep" else "drop")), ("file_src", "tag"))
      val joined = fact.join(broadcast(dim.where($"tag" === "keep")),
        $"src" === $"file_src")
      val viaJoin = joined.select("src", "level", "ty", "tx").collect()
        .map(_.toSeq).toSet
      val static = fact.where($"src" === keep)
        .select("src", "level", "ty", "tx").collect().map(_.toSeq).toSet
      assert(viaJoin == static && viaJoin.nonEmpty)
    }
  }

  test("a column-pruned projection still joins (filterAttributes ⊆ readSchema)") {
    // regression: filterAttributes() must only advertise columns that
    // survived column pruning — advertising a pruned-away column (src
    // here) makes Spark's PartitionPruning fail resolution at planning
    // with 'Unable to resolve src given [level, h]'
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      val fact = spark.read.format("cog").load(mosaicDir).select("level", "h")
      val dim = dimTable(Seq(("1", "keep"), ("0", "drop")), ("lvl", "tag"))
      val joined = fact.join(
        broadcast(dim.where($"tag" === "keep").withColumn("lvl_i", $"lvl".cast("int"))),
        $"level" === $"lvl_i")
      val rows = joined.collect()   // planning itself was the failure mode
      assert(rows.nonEmpty && rows.forall(_.getAs[Int]("level") == 1))
      // and the surviving column may still be runtime-filtered
      val scan = cogScans(joined.queryExecution.executedPlan).head
      if (scan.runtimeFilters.nonEmpty) {
        val planned = scan.scan.toBatch.planInputPartitions()
          .map(_.asInstanceOf[CogInputPartition])
        assert(planned.flatMap(_.tiles).forall(_.level == 1))
      }
    }
  }

  test("a join key matching nothing plans zero partitions, returns zero rows") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      val fact = spark.read.format("cog").load(mosaicDir)
      val dim = dimTable(Seq(("no/such/file.tif", "keep")), ("file_src", "tag"))
      val joined = fact.join(broadcast(dim.where($"tag" === "keep")),
        $"src" === $"file_src")
      assert(joined.collect().isEmpty)
      val scan = cogScans(joined.queryExecution.executedPlan).head
      if (scan.runtimeFilters.nonEmpty) {
        assert(scan.inputRDD.getNumPartitions == 0,
          "empty runtime match must execute zero partitions")
        assert(scan.scan.toBatch.planInputPartitions().isEmpty,
          "empty runtime match must plan zero partitions")
      }
    }
  }
}
