package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.raster._

/** NATIVE raster operator surface (SURVEY §2.2 rows 34-36 + the sink
  * row): the reference's actual capability — pyramid, halo, offset
  * assembly, ordered single-file write (reference ccog/ccog.py:558-666,
  * 614-616, 717-773; aws_tools.py:181-245) — exposed as `queries`
  * entries returning small deterministic DataFrames (no oracleSql:
  * byte/raster ops aren't DuckDB-expressible; correctness lives in the
  * graft.raster ScalaTest invariants + decode-and-compare golden,
  * CogWriterSpec/HaloSpec/PyramidSpec).
  *
  * Inputs are seeded synthetic rasters (fixtures dir is read-only and
  * holds no rasters); `sfDir` is ignored. Sizes are chosen so Bench's
  * .count() exercises the full distributed path in ~a second. */
object RasterQueries {

  private val ND = -9999.0

  /** Raster edge length scaled to the fixture SF so the bench measures
    * pixel throughput, not just stage-orchestration overhead:
    * sf0.001 → 512², sf0.01 → 1024², sf0.1 → 2048² (32 MB float64). */
  private def edge(sfDir: String): Int =
    // "sfx4" = the ScaleEvidence 4x replica of sf0.1: raster inputs
    // are synthetic (not fixture-derived), so the scale-gate runs them
    // at the sf0.1 edge — cap/flatness evidence, not a data curve
    if (sfDir.contains("sf0.1") || sfDir.contains("sfx4")) 2048
    else if (sfDir.contains("sf0.01")) 1024
    else 512

  /** 1024×768, 3 pyramid levels, average kernel. Per level: tile count,
    * valid-pixel count, mean of valid pixels (rounded) — stable under
    * partitioning because kernels are pure and the grid is fixed. */
  def rasterPyramid(spark: SparkSession, sfDir: String): DataFrame =
    pyramidRollup(spark, sfDir, "average")

  /** The same pyramid under the WIDEST kernel (lanczos, halo k=6):
    * every level is one halo round — tiles pasted with the strips of
    * their neighbours (one exchange) + 6-tap separable filter — so the
    * reference's SLOW resampling path (ccog/ccog.py:43-53 calls these
    * out; dask pays `overlap` exchanges exactly here) sits on the
    * measured bench surface, not only inside HaloSpec. NATIVE
    * (HaloSpec: tiled step ≡ single-array reference per kernel;
    * PyramidSpec: this query's full rollup ≡ an independent
    * driver-side multi-level replica, bit-exact). */
  def rasterPyramidLanczos(spark: SparkSession, sfDir: String): DataFrame =
    pyramidRollup(spark, sfDir, "lanczos")

  /** Per level of the pyramid: tiles, valid pixels and their mean. Each
    * tile's double sum is quantized the way a decimal(38,10) cast does
    * (its Double.toString value, HALF_UP) and the per-level sums are
    * exact, so the mean does not depend on the partitioning; it is
    * rounded like SQL's round(x, 4). The partials of the few hundred
    * tiles are summed on the driver. */
  private[graft] def pyramidRollup(spark: SparkSession, sfDir: String,
      kernel: String): DataFrame = {
    val e = edge(sfDir)
    val prof = RasterProfile(e, e * 3 / 4, blockSize = 128, nodata = ND,
      resampling = kernel, minOverviewSize = 128)
    val built = PyramidEncode.build(SyntheticRaster.generate(spark, prof, seed = 5L), prof) { t =>
      var valid = 0L
      var sum = 0.0
      var i = 0
      while (i < t.h * t.w) {
        if (t.valid(i, ND)) { valid += 1; sum += t.pixels(i) }
        i += 1
      }
      Iterator((t.level, valid, java.math.BigDecimal.valueOf(sum)
        .setScale(10, java.math.RoundingMode.HALF_UP)))
    }
    val tiles = try built.rows.collect() finally built.free()
    val rows = tiles.groupBy(_._1).toSeq.sortBy(_._1).map { case (level, ts) =>
      val valid = ts.map(_._2).sum
      val sum = ts.map(_._3).reduce(_ add _)
      Row(level, ts.length.toLong, valid, java.math.BigDecimal.valueOf(sum.doubleValue / valid)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("level", IntegerType, nullable = false),
      StructField("n_tiles", LongType), StructField("valid_px", LongType),
      StructField("mean_valid", DoubleType))))
  }

  /** Halo exchange on a 6×4 grid, k=2 (bilinear width): per tile, how
    * many padded border cells arrived vs stayed unavailable — the
    * border/interior accounting the reference's None-slices encode
    * (ccog/ccog.py:503-508). */
  def rasterHalo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = edge(sfDir)
    val prof = RasterProfile(e * 3 / 4, e / 2, blockSize = 128, nodata = ND,
      resampling = "bilinear")
    val k = Kernels.haloWidth("bilinear")
    val tiles = SyntheticRaster.generate(spark, prof, seed = 9L, withMask = false)
    HaloExchange.padded(tiles, prof, k, level = 0)
      .map { t =>
        val W = t.w + 2 * k
        val H = t.h + 2 * k
        var borderAvail = 0L
        var borderMissing = 0L
        var i = 0
        while (i < H * W) {
          val y = i / W
          val x = i % W
          val inCore = y >= k && y < k + t.h && x >= k && x < k + t.w
          if (!inCore) {
            if (t.mask(i) != 0) borderAvail += 1 else borderMissing += 1
          }
          i += 1
        }
        (t.ty, t.tx, borderAvail, borderMissing)
      }
      .toDF("ty", "tx", "halo_px", "missing_px")
      .orderBy($"ty", $"tx")
  }

  /** Encode + prefix-sum placement WITHOUT the sink: the
    * (level, ty, tx, offset, nbytes) plan rows, file-ordered — directly
    * the reference's parts_info table (ccog/ccog.py:717-773). The sizes
    * are collected and laid out on the driver, as the writer does. */
  def rasterAssemble(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = edge(sfDir)
    val prof = RasterProfile(e, e, blockSize = 128, nodata = ND,
      resampling = "average", minOverviewSize = 128)
    val built = PyramidEncode.build(SyntheticRaster.generate(spark, prof, seed = 3L), prof) { t =>
      val p = TileCodec.encode(t, prof)
      Iterator(Offsets.TileSize(p.level, p.ty, p.tx, p.page, p.nbytes))
    }
    val sizes = try built.rows.collect() finally built.free()
    val layout = Offsets.layout(sizes, BigTiff.headerLength(prof), prof.gridDims)
    (for {
      level <- prof.maxLevel to 0 by -1
      (gw, gh) = prof.gridDims(level)
      i <- 0 until gw * gh
    } yield (level, i / gw, i % gw, layout.offsets((level, TileCodec.PageData))(i),
      layout.counts((level, TileCodec.PageData))(i).toInt))
      .toDF("level", "ty", "tx", "offset", "nbytes")
  }

  /** Full write_ccog analog: synthetic raster → assembled COG bytes via
    * the local multipart sink; returns the file's structural fingerprint
    * (deflate is deterministic, so sha256 is a golden). */
  def cogWriteBytes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = edge(sfDir)
    val prof = RasterProfile(e, e, blockSize = 128, nodata = ND,
      resampling = "average", minOverviewSize = 128, maskPages = true)
    val dir = graft.TmpDirs.create("graft-cog-q")
    val (bytes, res) = CogWriter.writeBytes(
      SyntheticRaster.generate(spark, prof, seed = 17L), prof, dir)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString
    Seq((bytes.length.toLong, res.headerLen, res.nParts.toLong, res.nTiles,
      res.nSparse, math.round(res.stats.head.mean * 10000) / 10000.0, sha))
      .toDF("file_len", "header_len", "n_parts", "n_tiles", "n_sparse",
        "mean_valid", "sha256")
  }

  /** The fixed 512² sf-independent COG both read-back queries target
    * (shared so the two stay byte-identical): returns its file URI and
    * profile. */
  // written ONCE per JVM: four read-side queries (read, dsv2,
  // dsv2_write, inventory) share this fixture, and re-running the
  // write pipeline per invocation timed fixture provisioning, not the
  // read path under test — the write-throughput story lives in
  // q_cog_write_bytes by design (scaladoc below). Deterministic
  // (seed 29, SF-independent 512²), file swept at JVM exit.
  private var readbackCog: (String, RasterProfile) = null
  private def writeReadbackCog(spark: SparkSession): (String, RasterProfile) =
    synchronized {
      if (readbackCog != null) readbackCog
      else {
        val prof = RasterProfile(512, 512, blockSize = 64, nodata = ND,
          resampling = "average", minOverviewSize = 64, maskPages = true)
        val dir = graft.TmpDirs.create("graft-read-q")
        val (bytes, _) = CogWriter.writeBytes(
          SyntheticRaster.generate(spark, prof, seed = 29L), prof, dir)
        val f = java.nio.file.Paths.get(dir, "assembled.tif")
        java.nio.file.Files.write(f, bytes)
        readbackCog = ("file://" + f, prof)
        readbackCog
      }
    }

  /** (valid count, valid sum) over one tile plane — the per-tile half
    * of the read-back invariant, shared by both read queries. */
  private def validAndSum(h: Int, w: Int, px: Array[Double],
      mask: Array[Byte]): (Long, Double) = {
    var valid = 0L
    var s = 0.0
    var i = 0
    while (i < h * w) {
      if (mask == null || mask(i) != 0) { valid += 1; s += px(i) }
      i += 1
    }
    (valid, s)
  }

  /** Per-level roll-up of (level, n_tiles, valid_px, sum_v) rows —
    * the shared final aggregation of both read queries. */
  private def perLevelStats(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    import org.apache.spark.sql.functions._
    df.groupBy($"level")
      .agg(sum($"n_tiles").as("n_tiles"), sum($"valid_px").as("valid_px"),
        round(sum($"sum_v".cast("decimal(38,10)")).cast("double") /
          sum($"valid_px"), 4).as("mean_valid"))
      .orderBy($"level")
  }

  /** Write a small COG then read it back distributed (CogReader ranged
    * reads): per-level tile counts and valid-pixel sums equal on both
    * sides of the round trip. Fixed 512² regardless of SF — the write
    * throughput story lives in q_cog_write_bytes. */
  def rasterRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (uri, prof) = writeReadbackCog(spark)
    // levels 0 and max exercise both ends of the page chain without
    // one read job per level
    val perLevel = Seq(0, prof.maxLevel).distinct.map { l =>
      CogReader.read(spark, uri, prof, l)
        .map { t =>
          val (valid, s) = validAndSum(t.h, t.w, t.pixels, t.mask)
          (t.level, 1L, valid, s)
        }
        .toDF("level", "n_tiles", "valid_px", "sum_v")
    }.reduce(_ union _)
    perLevelStats(perLevel)
  }

  /** The DSv2 face of the read path: `spark.read.format("cog")` with
    * header-inferred profile and a level-pruned scan (the predicate
    * prunes tiles at PLANNING — CogReaderSpec asserts the pruned scan
    * description). Same per-level invariants as q_raster_read, driven
    * through the SQL surface instead of the library call. */
  def rasterDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (uri, prof) = writeReadbackCog(spark)
    // predicate prunes the middle levels at PLANNING; the per-tile
    // invariant is a typed map (HOF lambdas are interpreted per
    // element — the measured 15x trap this repo already avoids)
    val perTile = spark.read.format("cog").load(uri)
      .where($"level" === 0 || $"level" === prof.maxLevel)
      .select($"level", $"h", $"w", $"pixels", $"mask")
      .as[(Int, Int, Int, Array[Double], Array[Byte])]
      .map { case (level, h, w, px, mask) =>
        val (valid, s) = validAndSum(h, w, px, mask)
        (level, 1L, valid, s)
      }
      .toDF("level", "n_tiles", "valid_px", "sum_v")
    perLevelStats(perTile)
  }

  /** The write-side DSv2 face (`df.write.format("cog")`): level-0 rows
    * of the shared read-back COG flow through the full CogWriter
    * pipeline via the SQL surface (geometry inferred from the tile
    * columns), then the new file is read back and rolled up with the
    * same per-level invariant as the read queries. */
  def rasterDsv2Write(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (uri, prof) = writeReadbackCog(spark)
    val dir = graft.TmpDirs.create("graft-dsv2w")
    val out = s"$dir/out.tif"
    spark.read.format("cog").load(uri).where($"level" === 0)
      .write.format("cog")
      .option("nodata", prof.nodata.toString)
      .option("minoverviewsize", prof.minOverviewSize.toString)
      .option("maskpages", "true")
      .mode("overwrite").save(out)
    val perTile = spark.read.format("cog").load("file://" + out)
      .where($"level" === 0 || $"level" === prof.maxLevel)
      .select($"level", $"h", $"w", $"pixels", $"mask")
      .as[(Int, Int, Int, Array[Double], Array[Byte])]
      .map { case (level, h, w, px, mask) =>
        val (valid, s) = validAndSum(h, w, px, mask)
        (level, 1L, valid, s)
      }
      .toDF("level", "n_tiles", "valid_px", "sum_v")
    perLevelStats(perTile)
  }

  /** Streaming COG ingest (graft.streaming.CogStreamIngest): tile
    * micro-batches arrive over a real MemoryStream run — each batch
    * encoded at STREAM time and appended to a parquet stage, including
    * a re-delivered sub-batch (restart semantics, last write wins) —
    * then one finalize assembles the pyramid + single file. NATIVE
    * (streaming runtime isn't DuckDB-comparable; exact pixel equality
    * pinned in StreamingSpec). */
  def rasterStreamIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val prof = RasterProfile(96, 80, blockSize = 16, nodata = ND,
      minOverviewSize = 32)
    // demo-assembly collect, NOT a scale pattern: MemoryStream is fed
    // from the driver by design (it exists to simulate a source in
    // tests/demos). A production ingest replaces this with a real
    // streaming source (Kafka/files); everything downstream of the
    // stream is identical.
    val rows = SyntheticRaster.generate(spark, prof, seed = 43L)
      .collect().sortBy(t => (t.ty, t.tx))
      .map(t => (t.ty, t.tx, t.h, t.w, t.pixels, t.mask))
    val stage = graft.TmpDirs.create("graft-qstream") + "/stage"
    val work = graft.TmpDirs.create("graft-qstream-w")
    val mem = MemoryStream[(Int, Int, Int, Int, Array[Double], Array[Byte])]
    val q = mem.toDF().toDF("ty", "tx", "h", "w", "pixels", "mask")
      .writeStream
      .foreachBatch(graft.streaming.CogStreamIngest.stageBatch(prof, stage) _)
      .start()
    try {
      val half = rows.length / 2
      mem.addData(rows.take(half): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(half): _*)
      q.processAllAvailable()
      mem.addData(rows.take(3): _*) // re-delivery: dedup at finalize
      q.processAllAvailable()
    } finally q.stop()
    val (bytes, res) = graft.streaming.CogStreamIngest.finalizeCog(
      spark, prof, stage, work)
    Seq((res.nTiles, bytes.length.toLong, res.levels.toLong,
      math.round(res.stats.head.mean * 10000) / 10000.0))
      .toDF("n_tiles", "file_len", "levels", "mean_valid")
  }

  /** Mosaic read (the realistic 100 TB raster layout — many COGs, not
    * one): two geo-referenced COGs side by side in world space read as
    * ONE DSv2 table from their directory; a bbox predicate that only
    * intersects the second file must plan zero partitions for the
    * first (per-file pruning asserted structurally in CogReaderSpec).
    * Rolled up per source file. */
  // same once-per-JVM staging as the read-back COG: the query under
  // test is the mosaic READ (multi-file pruning + rollup), not the two
  // fixture writes
  private var mosaicFixtureDir: String = null
  private def writeMosaicFixture(spark: SparkSession): String = synchronized {
    if (mosaicFixtureDir != null) mosaicFixtureDir
    else {
      val dir = graft.TmpDirs.create("graft-qmosaic")
      for ((name, originX, seed) <- Seq(("a.tif", 500000.0, 71L), ("b.tif", 500640.0, 72L))) {
        val p = RasterProfile(64, 48, blockSize = 16, nodata = ND,
          minOverviewSize = 32,
          geo = Some(GeoRef(10.0, 10.0, originX, 6400000.0, 32633)))
        val bytes = CogWriter.writeBytes(
          SyntheticRaster.generate(spark, p, seed), p,
          graft.TmpDirs.create("graft-qmosaic-w"))._1
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
      }
      mosaicFixtureDir = dir
      dir
    }
  }

  def rasterMosaic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = writeMosaicFixture(spark)
    spark.read.format("cog").load(dir)
      .where($"level" === 0 && $"maxx" > 500000.0)
      .groupBy(element_at(split($"src", "/"), -1).as("file"))
      .agg(count(lit(1)).as("n_tiles"),
        round(min($"minx"), 2).as("minx"), round(max($"maxx"), 2).as("maxx"))
      .orderBy($"file")
  }

  // the mosaic-write INPUT staged once per (session, sfDir) as parquet:
  // each region sub-write re-filters its source on purpose (at 100 TB
  // that re-scan is a pruned parquet/cog read — the right trade), and
  // staging gives the generated frame real storage to prune against,
  // so every region job and geometry probe is a tx-pushdown parquet
  // read instead of a generator re-run. Same convention as the other
  // staged fixtures: the first invocation pays staging, min-of-2
  // measures the WRITE — which is the operator under test.
  private val mosaicInputStage =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private def ensureMosaicInput(spark: SparkSession, sfDir: String): String =
    graft.TmpDirs.stagedMemo(mosaicInputStage, (spark, sfDir)) { case (s, d) =>
      val dir = graft.TmpDirs.create("graft-qmwrite-in")
      val e = edge(d)
      val prof = RasterProfile(e, e * 3 / 4, blockSize = 128, nodata = ND,
        minOverviewSize = 128,
        geo = Some(GeoRef(10.0, 10.0, 500000.0, 6400000.0, 32633)))
      SyntheticRaster.generate(s, prof, seed = 83L).toDF()
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** Partitioned mosaic WRITE (the write-side half of q_raster_mosaic):
    * a generated raster's level-0 tiles go through
    * `df.write.format("cog")` with `mosaic.grid`, producing one COG per
    * region under a directory (per-file geo origins shifted so world
    * coordinates are preserved), then the directory mosaic-reads back
    * and rolls up per file. Region count stays 2×2 across SFs (the
    * per-file size grows instead) so the bench measures pixel
    * throughput, not job-launch overhead. The write arrives in TWO
    * batches — western regions create the mosaic, eastern regions
    * APPEND to it in place (round 9) — the incremental-ingest shape:
    * each batch of new spatial regions lands as new immutable COG
    * files, and appends carry explicit geometry because inference
    * would clip to the partial extent (CogWriteSupport scaladoc). */
  def rasterMosaicWrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = edge(sfDir)
    val grid = e / 256 // regions of grid×grid 128px tiles → 2×2 files
    val dir = graft.TmpDirs.create("graft-qmwrite") + "/mosaic"
    val tiles = spark.read.parquet(ensureMosaicInput(spark, sfDir))
    for (pred <- Seq(col("tx") < grid, col("tx") >= grid)) {
      tiles.filter(pred)
        .write.format("cog")
        .option("mosaic.grid", grid.toString)
        .option("blocksize", "128")
        .option("width", e.toString).option("height", (e * 3 / 4).toString)
        .option("nodata", ND.toString)
        .option("minoverviewsize", "128")
        .option("epsg", "32633")
        .option("pixelw", "10.0").option("pixelh", "10.0")
        .option("originx", "500000.0").option("originy", "6400000.0")
        .mode("append").save(dir)
    }
    val perTile = spark.read.format("cog").load(dir).where($"level" === 0)
      .select($"src", $"h", $"w", $"pixels")
      .as[(String, Int, Int, Array[Double])]
      .map { case (src, h, w, px) =>
        var valid = 0L
        var s = 0.0
        var i = 0
        while (i < h * w) {
          if (px(i) != ND) { valid += 1; s += px(i) }
          i += 1
        }
        (src.split("/").last, 1L, valid, s)
      }
      .toDF("file", "n_tiles", "valid_px", "sum_v")
    perTile.groupBy($"file")
      .agg(sum($"n_tiles").as("n_tiles"), sum($"valid_px").as("valid_px"),
        round(sum($"sum_v".cast("decimal(38,10)")).cast("double") /
          sum($"valid_px"), 4).as("mean_valid"))
      .orderBy($"file")
  }

  /** Header-only mosaic inventory through the COMPLETE aggregate
    * pushdown path (round 9): global count/min/max over the cog
    * table's metadata columns are computed at PLANNING from the parsed
    * headers (`CogAggScan` — one precomputed row, zero tile IO), both
    * unfiltered and composed with an exactly-pushed level predicate.
    * This is the "how big is this 100k-file mosaic" query a catalog
    * runs constantly; it must never read pixel bytes. NATIVE
    * (AggPushdownSpec pins the plan shape + value equality with the
    * row scan). */
  def rasterInventory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (uri, _) = writeReadbackCog(spark)
    val t = spark.read.format("cog").load(uri)
    val all = t.agg(count(lit(1)).as("n_tiles"),
      min($"level").as("min_level"), max($"level").as("max_level"),
      max($"ty").as("max_ty"), max($"tx").as("max_tx"))
      .withColumn("slice", lit("all"))
    // the GROUPED pushdown form: one row per level, still header-only
    val byLevel = t.groupBy($"level")
      .agg(count(lit(1)).as("n_tiles"),
        min($"level").as("min_level"), max($"level").as("max_level"),
        max($"ty").as("max_ty"), max($"tx").as("max_tx"))
      .withColumn("slice", concat(lit("level_"), $"level"))
      .drop("level")
    all.unionByName(byLevel)
      .select($"slice", $"n_tiles", $"min_level", $"max_level",
        $"max_ty", $"max_tx")
      .orderBy($"slice")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_raster_inventory" -> rasterInventory,
    "q_raster_pyramid" -> rasterPyramid,
    "q_raster_pyramid_lanczos" -> rasterPyramidLanczos,
    "q_raster_halo" -> rasterHalo,
    "q_raster_assemble" -> rasterAssemble,
    "q_raster_read" -> rasterRead,
    "q_raster_dsv2" -> rasterDsv2,
    "q_raster_dsv2_write" -> rasterDsv2Write,
    "q_raster_mosaic" -> rasterMosaic,
    "q_raster_mosaic_write" -> rasterMosaicWrite,
    "q_stream_cog" -> rasterStreamIngest,
    "q_cog_write_bytes" -> cogWriteBytes)

  /** NATIVE — no DuckDB oracle (SURVEY §2.2). */
  def oracle: Map[String, String] = Map.empty
}
