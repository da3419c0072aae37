package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.raster.{BigTiff, CogReader, CogWriter, RasterProfile, Tile}
import graft.sink.HadoopMultipartSink

/** `spark.read.format("cog")` — the COG reader as a DataSource V2
  * table (the catalog-integrated face of [[graft.raster.CogReader]];
  * SURVEY §2.2 sources, VERDICT r4 stretch item).
  *
  * One row per tile, ALL pyramid levels (a `level` column
  * distinguishes), schema below. The profile is inferred from each
  * file's header alone — no writer-side profile object needed — so
  * any file our writer produced (or a foreign uint8..float64
  * none/deflate/lzw/zstd/packbits/jpeg tiled TIFF, classic or
  * BigTIFF) reads back. The path may be a single file, a DIRECTORY
  * (every .tif or .tiff inside), or a glob — a MOSAIC of COGs, the
  * realistic 100 TB layout; a `src` column says which file each tile
  * came from, and bbox pruning plans zero partitions for
  * non-intersecting files.
  *
  * Scale shape: the header (KBs) parses once on the DRIVER at
  * planning; tile ranges are split into `defaultParallelism` input
  * partitions read via positioned reads on executors — the COG access
  * pattern. Predicates on (level, ty, tx) prune TILES AT PLANNING
  * (equality + ranges): a `level = 2 AND ty < 4` query never plans,
  * reads, or decodes the excluded tiles. Spark still re-applies the
  * filters on rows, so pruning is pure optimization, never semantics. */
class CogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CogTable.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // `load(a, b, …)` arrives as a JSON array under "paths" (Spark's
    // multi-path convention); `load(a)` as plain "path". Multi-path is
    // how a mosaic spread over explicit object-store URIs reads when
    // the endpoint has no directory listing (e.g. http://).
    val pathsJson = properties.get("paths")
    val paths: Seq[String] =
      if (pathsJson != null && pathsJson.nonEmpty)
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(pathsJson, classOf[Array[String]]).toSeq
      else {
        val p = properties.get("path")
        require(p != null && p.nonEmpty, "cog source requires a path")
        Seq(p)
      }
    require(paths.nonEmpty, "cog source requires at least one path")
    new CogTable(paths, properties.asScala.toMap - "path" - "paths")
  }
}

object CogTable {
  /** Band-major pixels exactly like [[graft.raster.Tile]]; mask is the
    * per-pixel validity plane (1 valid / 0 invalid), null = all valid.
    * minx/miny/maxx/maxy are the tile's WORLD-coordinate bounds from
    * the file's geo-referencing (pixel scale + tiepoint, inferred from
    * the header) — null when the file carries none. Range predicates
    * on them prune tiles at PLANNING, so a bbox query touches only
    * intersecting tiles. */
  val schema: StructType = StructType(Seq(
    StructField("level", IntegerType, nullable = false),
    StructField("ty", IntegerType, nullable = false),
    StructField("tx", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("pixels", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("mask", BinaryType, nullable = true),
    StructField("minx", DoubleType, nullable = true),
    StructField("miny", DoubleType, nullable = true),
    StructField("maxx", DoubleType, nullable = true),
    StructField("maxy", DoubleType, nullable = true),
    StructField("src", StringType, nullable = false)))

  /** World bounds of tile (level, ty, tx) with actual dims th×tw:
    * origin is the upper-left corner, pixel size doubles per overview
    * level. Returns (minx, miny, maxx, maxy). */
  def tileBounds(geo: graft.raster.GeoRef, blockSize: Int, level: Int,
      ty: Int, tx: Int, th: Int, tw: Int): (Double, Double, Double, Double) = {
    val sx = geo.pixelW * (1L << level)
    val sy = geo.pixelH * (1L << level)
    val x0 = geo.originX + tx.toDouble * blockSize * sx
    val yTop = geo.originY - ty.toDouble * blockSize * sy
    (x0, yTop - th * sy, x0 + tw * sx, yTop)
  }
}

class CogTable(paths: Seq[String], conf: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"cog:${paths.mkString(",")}"
  override def schema(): StructType = CogTable.schema
  override def capabilities(): util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: writes take the MINIMAL tile columns
    // (ty/tx/h/w/pixels [+mask +level]), not the full 12-column read
    // schema — CogWriteSupport validates the required columns itself
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CogScanBuilder(paths, conf)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1,
      s"cog write takes exactly one target path, got ${paths.size}")
    new CogWriteBuilder(paths.head, conf ++ info.options.asScala.toMap)
  }
}

/** `df.write.format("cog")` — the write-side symmetry of the source
  * (VERDICT r5 item 5): level-0 tile rows in (a subset of) the read
  * schema go through the SAME CogWriter pipeline as the library call
  * (pyramid → encode → distributed offsets → ordered part packing),
  * so a DSv2 write IS the scale path, not a driver funnel. The part
  * stream lands in a temp dir next to the target via
  * [[HadoopMultipartSink]] and is then stream-concatenated (ordered,
  * bounded buffer) into the single .tif — on a real object store the
  * sink would be the MPU itself and the concat disappears.
  *
  * Input: columns ty/tx/h/w/pixels (+ optional mask; + optional level,
  * only 0 is taken). Profile via options — width/height/blocksize/
  * bands are INFERRED from the tile metadata columns when omitted;
  * dtype (default float64), compression (deflate), nodata (-9999),
  * resampling (average), maskpages (false) by option.
  *
  * V1Write/InsertableRelation deliberately: COG assembly is a
  * multi-stage job (global prefix-sum, ordered concat), not a
  * per-partition DataWriter protocol. `SaveMode.Append` creates
  * (errors if the file exists — a COG is immutable) for single-file
  * targets; for a MOSAIC target (`mosaic.grid` set) append adds NEW
  * region COGs to the existing directory — the incremental-ingest
  * path (each batch of new spatial regions lands as new files, the
  * many-file layout growing in place) — and errors if any incoming
  * region collides with an existing file (region COGs are immutable
  * too). `Overwrite` replaces the whole target. */
class CogWriteBuilder(path: String, opts: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ow: Boolean): Unit =
          CogWriteSupport.insert(path, opts, overwrite || ow, data)
      }
  }
}

object CogWriteSupport {
  /** Mosaic part-file naming — the ONE definition shared by the
    * writer format, the collision check, and append validation. */
  private val PartName = raw"part-(\d+)-(\d+)\.tif".r
  /** Dispatch: `mosaic.grid` = N routes to the partitioned DIRECTORY
    * write (one COG per N×N-tile region — the write-side half of the
    * mosaic read, producing the realistic many-file 100 TB layout a
    * single ≤5 TiB object cannot hold); otherwise the single-file
    * path. */
  def insert(path: String, opts: Map[String, String], overwrite: Boolean,
      data: DataFrame): Unit = {
    // the write's Hadoop view — filesystem, S3 dialect and credentials
    // alike: session conf under the write options ([[SessionConf]])
    val hconf = SessionConf.hadoop(data.sparkSession, opts)
    if (opts.contains("mosaic.grid")) insertMosaic(path, opts, hconf, overwrite, data)
    else insertSingle(path, opts, hconf, overwrite, data)
  }

  /** An http(s) write target is an S3 object: the writer speaks the
    * real multipart protocol straight to the endpoint — no staging
    * filesystem anywhere. Path-style (`/bucket/key`) or virtual-hosted
    * (`fs.<scheme>.s3.virtual.host=true`: the bucket rides the
    * authority, the whole path is the key). */
  private[sources] final case class S3Dest(endpoint: String, bucket: String,
      key: String, virtualHost: Boolean, scheme: String)

  private[sources] def s3Target(path: String,
      hconf: Configuration): Option[S3Dest] = {
    val u = java.net.URI.create(path)
    val scheme = u.getScheme
    if (scheme != "http" && scheme != "https") None
    else {
      val vh = Option(hconf.get(s"fs.$scheme.s3.virtual.host")).exists(_.toBoolean)
      val p = Option(u.getPath).getOrElse("").stripPrefix("/")
      if (vh) {
        require(p.nonEmpty, s"S3 write target needs a key: $path")
        Some(S3Dest(s"$scheme://${u.getAuthority}", "", p, true, scheme))
      } else {
        val seg = p.split("/", 2)
        require(seg.length == 2 && seg(1).nonEmpty,
          s"S3 write target needs /bucket/key: $path")
        Some(S3Dest(s"$scheme://${u.getAuthority}", seg(0), seg(1), false, scheme))
      }
    }
  }

  /** Credentials and region resolve from `hconf` exactly as the
    * read-side FileSystem resolves them. */
  private def s3Sink(d: S3Dest, hconf: Configuration, opts: Map[String, String],
      ifNoneMatch: Boolean): graft.sink.S3MultipartSink = {
    val r = graft.sink.S3CredentialResolver.resolveHadoop(hconf, d.scheme)
    new graft.sink.S3MultipartSink(d.endpoint, d.bucket, d.key,
      credentials = r.credentials, region = r.region,
      virtualHost = d.virtualHost,
      crc32c = opts.get("s3.crc32c").exists(_.toBoolean),
      ifNoneMatch = ifNoneMatch)
  }

  /** Single-COG write straight to S3: the MPU complete IS the atomic
    * commit (the local path's temp+rename has no object-store
    * equivalent), and mode semantics map to conditional creates —
    * errorIfExists/append ride `If-None-Match: *` so a concurrent
    * writer of the same key loses with a loud 412 instead of silently
    * clobbering; overwrite completes unconditionally (atomic
    * last-writer-wins, S3's native replace). */
  private def insertSingleS3(d: S3Dest, hconf: Configuration,
      opts: Map[String, String], overwrite: Boolean, data: DataFrame): Unit = {
    val (profile, tiles) = buildProfileAndTiles(opts, data)
    // crash-resume (`s3.resume=true`): adopt the key's in-flight MPU
    // and re-upload only unverified parts — the restarted-ingest path
    // for multi-TiB objects. The encode pipeline is deterministic, so
    // a changed INPUT simply fails verification part-by-part and
    // re-uploads; a same-input restart moves only the missing bytes.
    // HARD PRECONDITION: single writer per key — resume only after
    // the prior writer is known dead (S3 cannot distinguish a crashed
    // writer's MPU from a live one under the same principal; see
    // S3MultipartSink.startOrResume). A live-writer race is on the
    // caller, exactly like pointing two Spark jobs at one output path.
    val resume = opts.get("s3.resume").exists(_.toBoolean)
    try CogWriter.write(tiles, profile,
      s3Sink(d, hconf, opts, ifNoneMatch = !overwrite), resume = resume)
    catch {
      case e: Exception if !overwrite &&
          Option(e.getMessage).exists(m =>
            m.contains("412") || m.contains("PreconditionFailed")) =>
        throw new IllegalArgumentException(
          s"cog target exists: ${d.endpoint}/${if (d.bucket.isEmpty) ""
            else d.bucket + "/"}${d.key} (COGs are immutable — use " +
            "mode(\"overwrite\"); refused atomically by If-None-Match)", e)
    }
  }

  /** One COG per `mosaic.grid`×`mosaic.grid` block of level-0 tiles,
    * written as `part-<ry>-<rx>.tif` under the target DIRECTORY and
    * readable back through the existing mosaic reader. Scale shape:
    * no persist of the input — each region's sub-write re-filters the
    * source with ty/tx RANGE predicates, which push down to planning
    * for a cog-source input (and to row groups for parquet), so a
    * region job reads only its own tiles. Region writes overlap on a
    * bounded driver pool (each is itself a distributed CogWriter job).
    * Geo-referencing shifts per region (origin moves by the region's
    * world offset) so world coordinates are preserved across the
    * mosaic — bbox pruning on the read side keeps working. The whole
    * directory assembles under a temp name and swaps in only on full
    * success. */
  private def insertMosaic(path: String, opts: Map[String, String],
      hconf: Configuration, overwrite: Boolean, data: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, floor => ffloor}
    val grid = opts("mosaic.grid").toInt
    require(grid > 0, s"mosaic.grid must be positive (got $grid)")

    val target = new Path(path)
    // direct-S3 mosaics: regions are conditional creates straight to
    // their final keys (If-None-Match — the atomic no-clobber an
    // object store offers instead of rename); the listing FileSystem
    // below is still needed for append detection, the collision
    // fast-fail, and manifest validation
    val s3 = s3Target(path, hconf)
    if (s3.isDefined) require(!overwrite,
      "cog mosaic overwrite is not supported on object-store targets — " +
        "there is no atomic directory swap: write the rebuilt mosaic to a " +
        "fresh prefix and repoint readers")
    val fs =
      try target.getFileSystem(hconf)
      catch {
        case e: Exception if s3.isDefined =>
          throw new IllegalArgumentException(
            s"S3 mosaic writes need the listing filesystem: pass " +
              s"fs.${s3.get.scheme}.impl=graft.sources.HttpRangeFileSystem " +
              "(and credentials/virtual-host conf) as write options or " +
              "session Hadoop conf", e)
      }
    // append-into-existing: new regions join the directory as new
    // files. NOTE geometry inference sees only the appended frame — an
    // append that doesn't span the full raster must pass width/height
    // (and blocksize) explicitly or region edge-clipping would use the
    // partial extent.
    val appendInto = fs.exists(target) && !overwrite
    if (appendInto) require(fs.getFileStatus(target).isDirectory,
      s"cog mosaic append target is not a directory: $path")

    val cols = data.columns.toSet
    Seq("ty", "tx", "h", "w", "pixels").foreach(c =>
      require(cols.contains(c), s"cog write needs column '$c'"))
    val level0 = if (cols.contains("level")) data.filter(col("level") === 0) else data

    // region keys actually present FIRST (so an empty input fails with
    // the zero-tiles message, not an opaque NPE out of the geometry
    // head() probes), then global geometry (explicit options skip the
    // inference jobs, exactly like the single-file path). The keys
    // collect is bounded by the number of output COGs — metadata-scale.
    val keys = level0.select(
        ffloor(col("ty") / grid).cast(IntegerType).as("ry"),
        ffloor(col("tx") / grid).cast(IntegerType).as("rx"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).sortBy(identity).toSeq
    require(keys.nonEmpty, "cog mosaic write got zero level-0 tiles")
    // mosaic crash-RESUME (`s3.resume=true`, object-store targets):
    // regions the dead writer COMPLETED persist as whole, valid COGs
    // at their final keys (MPU complete is atomic — whole-or-absent),
    // so a resumed append SKIPS them instead of 412-colliding; the
    // region it died INSIDE still has a live MPU, which the per-region
    // insertSingleS3 adopts part-by-part (verified, zero re-upload);
    // never-started regions write fresh. Same contract as the
    // single-object path: the INPUT must be unchanged (the encode
    // pipeline is deterministic, so completed regions' bytes are the
    // reran plan's bytes) and single-writer-per-mosaic is a hard
    // precondition.
    val resume = s3.isDefined && opts.get("s3.resume").exists(_.toBoolean)
    val existing: Set[(Int, Int)] =
      if (!appendInto) Set.empty
      else fs.listStatus(target).map(_.getPath.getName).collect {
        case PartName(ry, rx) => (ry.toInt, rx.toInt)
      }.toSet
    if (appendInto && !resume) {
      val collide = keys.filter(existing)
      require(collide.isEmpty,
        s"mosaic append would overwrite existing regions ${collide.take(5).mkString(",")}" +
          " — region COGs are immutable; use mode(\"overwrite\") to rebuild the mosaic")
    }
    val pending = if (resume) keys.filterNot(existing) else keys
    val (bs, width, height, bands) = inferGeometry(level0, opts)
    val regionPx = grid.toLong * bs
    require(regionPx < Int.MaxValue, s"mosaic region too large: $regionPx px")
    if (appendInto)
      validateAppendGeometry(fs, target, opts, bs, width, height, bands, regionPx)

    val tmpDir = new Path(target.getParent,
      s".${target.getName}._cog_mosaic_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    if (s3.isEmpty) fs.mkdirs(tmpDir)
    // S3: regions land at their FINAL keys (there is no rename); each
    // region file is whole-or-absent thanks to MPU-complete atomicity,
    // and If-None-Match turns a concurrent duplicate append into a
    // loud 412 for the loser
    val regionParent = if (s3.isDefined) path else tmpDir.toString
    // concurrent region jobs: each is itself a distributed CogWriter
    // job, so the pool bounds DRIVER-side job submission, not work.
    // Tunable because the sweet spot depends on cluster size vs region
    // count (a 1000-executor cluster digesting a 64-region append
    // wants more in-flight jobs than a laptop).
    val maxConcurrent = opts.get("mosaic.maxconcurrentfiles").map(_.toInt)
      .getOrElse(4)
    require(maxConcurrent > 0,
      s"mosaic.maxConcurrentFiles must be positive (got $maxConcurrent)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, pending.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(pending.map { case (ry, rx) =>
          scala.concurrent.Future {
            require(ry >= 0 && rx >= 0, s"negative tile index in region ($ry,$rx)")
            val rw = math.min(regionPx, width - rx * regionPx).toInt
            val rh = math.min(regionPx, height - ry * regionPx).toInt
            require(rw > 0 && rh > 0,
              s"region ($ry,$rx) outside the raster ${width}x$height")
            // RANGE predicates (not floor-equality) so a cog/parquet
            // source prunes at planning; rebase to region-local tiles
            val sub = level0
              .filter(col("ty") >= ry * grid && col("ty") < (ry + 1) * grid &&
                col("tx") >= rx * grid && col("tx") < (rx + 1) * grid)
              .withColumn("ty", col("ty") - ry * grid)
              .withColumn("tx", col("tx") - rx * grid)
            val geoShift =
              if (opts.contains("epsg")) {
                val pw = opts.get("pixelw").map(_.toDouble).getOrElse(1.0)
                val ph = opts.get("pixelh").map(_.toDouble).getOrElse(1.0)
                val ox = opts.get("originx").map(_.toDouble).getOrElse(0.0)
                val oy = opts.get("originy").map(_.toDouble).getOrElse(0.0)
                Map("originx" -> (ox + rx * regionPx * pw).toString,
                  "originy" -> (oy - ry * regionPx * ph).toString)
              } else Map.empty[String, String]
            insertSingle(f"$regionParent%s/part-$ry%03d-$rx%03d.tif",
              (opts - "mosaic.grid") ++ Map("blocksize" -> bs.toString,
                "width" -> rw.toString, "height" -> rh.toString,
                "bands" -> bands.toString) ++ geoShift,
              hconf, overwrite = false, sub)
          }
        }), scala.concurrent.duration.Duration.Inf)
      if (s3.isDefined) {
        // regions already committed at their final keys; the sidecar
        // rides a plain PUT (idempotent rewrite — no If-None-Match)
        val d = s3.get
        s3Sink(d.copy(key = s"${d.key.stripSuffix("/")}/$ManifestName"), hconf,
          opts, ifNoneMatch = false)
          .putObject(manifestBytes(opts, bs, width, height, bands))
      } else if (appendInto) {
        // all region COGs staged complete — move each into the live
        // directory. A failure BEFORE this point leaves the mosaic
        // byte-identical; the move loop itself is per-file atomic (a
        // crash mid-loop leaves a prefix of whole, valid region files,
        // never a torn one).
        for ((ry, rx) <- pending) {
          val name = f"part-$ry%03d-$rx%03d.tif"
          require(fs.rename(new Path(tmpDir, name), new Path(target, name)),
            s"rename $tmpDir/$name -> $target/$name failed")
        }
        fs.delete(tmpDir, true)
        // (re)write the geometry sidecar: idempotent for mosaics that
        // already carry one (the append just validated against it) and
        // an in-place upgrade for legacy directories that pre-date it
        writeMosaicManifest(fs, target, opts, bs, width, height, bands)
      } else {
        writeMosaicManifest(fs, tmpDir, opts, bs, width, height, bands)
        // success: replace the old directory only now (a failed write
        // leaves the previous mosaic untouched)
        if (fs.exists(target)) fs.delete(target, true)
        require(fs.rename(tmpDir, target), s"rename $tmpDir -> $target failed")
      }
    } catch {
      case e: Throwable =>
        // Await rethrows on the FIRST failed region; sibling writes may
        // still be in flight. Stop and drain the pool BEFORE deleting
        // tmpDir, or a surviving insertSingle could recreate files under
        // it and orphan a ._cog_mosaic_tmp_* directory.
        pool.shutdownNow()
        pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
        if (s3.isEmpty)
          try fs.delete(tmpDir, true) catch { case _: Exception => () }
        else
          // object stores have no staging dir: regions that completed
          // before the failure persist at their final keys as WHOLE,
          // valid COGs. Say so — the operator reruns the append (the
          // committed regions 412 and can be skipped) or deletes them.
          throw new java.io.IOException(
            "S3 mosaic write failed part-way: regions committed before the " +
              "failure remain at their final keys (each is a whole, valid " +
              "COG); rerun the SAME write with s3.resume=true to skip them " +
              "and adopt the in-flight region's upload, or remove the " +
              "partial set", e)
        throw e
    } finally pool.shutdown()
  }

  /** Sidecar manifest recording the mosaic's global geometry exactly,
    * written at mosaic-write time and validated on every append. The
    * header-probe gate below it is best-effort (it can only check the
    * edge clips the extreme parts happen to carry); the manifest makes
    * the global extent an exact check even when every extreme part is
    * interior or unclipped. Dot-prefixed so neither the part-name
    * pattern nor the read side's .tif listing ever sees it. */
  private[sources] val ManifestName = ".graft_mosaic"

  private def manifestBytes(opts: Map[String, String], bs: Int, width: Int,
      height: Int, bands: Int): Array[Byte] = {
    val p = new java.util.Properties()
    p.setProperty("blocksize", bs.toString)
    p.setProperty("width", width.toString)
    p.setProperty("height", height.toString)
    p.setProperty("bands", bands.toString)
    p.setProperty("dtype", opts.getOrElse("dtype", "float64"))
    opts.get("epsg").foreach { e =>
      p.setProperty("epsg", e)
      p.setProperty("originx", opts.getOrElse("originx", "0.0"))
      p.setProperty("originy", opts.getOrElse("originy", "0.0"))
      p.setProperty("pixelw", opts.getOrElse("pixelw", "1.0"))
      p.setProperty("pixelh", opts.getOrElse("pixelh", "1.0"))
    }
    val bos = new java.io.ByteArrayOutputStream()
    p.store(bos, "graft mosaic global geometry")
    bos.toByteArray
  }

  private def writeMosaicManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, opts: Map[String, String], bs: Int, width: Int,
      height: Int, bands: Int): Unit = {
    val out = fs.create(new Path(dir, ManifestName), true)
    try out.write(manifestBytes(opts, bs, width, height, bands))
    finally out.close()
  }

  private def readMosaicManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[java.util.Properties] = {
    val f = new Path(dir, ManifestName)
    if (!fs.exists(f)) None
    else {
      val p = new java.util.Properties()
      val in = fs.open(f)
      try p.load(in) finally in.close()
      Some(p)
    }
  }

  /** Append-time geometry gate: an append whose (possibly inferred)
    * geometry contradicts the files already in the mosaic would write
    * region COGs whose world coordinates disagree with their
    * neighbours, silently corrupting bbox pruning on read-back.
    *
    * Two layers: when the [[ManifestName]] sidecar exists (every mosaic
    * this writer produces), the incoming global geometry must match it
    * EXACTLY. For legacy directories without a sidecar, fall back to
    * parsing the extreme existing part headers (KBs, driver-side) and
    * requiring blocksize/bands/dtype/extent/geo-referencing
    * consistency — best-effort: the bottom-most (max ry) part carries
    * the height edge clip and the right-most (max rx) the width clip,
    * so a wrong global extent is caught only when those parts are
    * actually edge-clipped (an extent that is an exact multiple of the
    * region size, or an incomplete mosaic whose extreme parts are
    * interior, passes the probe — hence the manifest). */
  private def validateAppendGeometry(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, opts: Map[String, String], bs: Int, width: Int,
      height: Int, bands: Int, regionPx: Long): Unit =
    readMosaicManifest(fs, target) match {
      case Some(m) =>
      def ctx = s"mosaic append geometry mismatch vs $ManifestName manifest"
      def chk(key: String, incoming: String): Unit = {
        val have = m.getProperty(key)
        require(have == null || have == incoming,
          s"$ctx: $key $have != incoming $incoming — pass options matching " +
            "the existing mosaic")
      }
      chk("blocksize", bs.toString)
      chk("width", width.toString)
      chk("height", height.toString)
      chk("bands", bands.toString)
      chk("dtype", opts.getOrElse("dtype", "float64"))
      (Option(m.getProperty("epsg")), opts.get("epsg")) match {
        case (Some(have), Some(incoming)) =>
          require(have == incoming, s"$ctx: epsg $have != incoming $incoming")
          def dchk(key: String, incoming: Double): Unit = {
            val have = m.getProperty(key).toDouble
            require(math.abs(have - incoming) <=
                1e-9 * math.max(1.0, math.abs(have)),
              s"$ctx: $key $have != incoming $incoming")
          }
          dchk("originx", opts.get("originx").map(_.toDouble).getOrElse(0.0))
          dchk("originy", opts.get("originy").map(_.toDouble).getOrElse(0.0))
          dchk("pixelw", opts.get("pixelw").map(_.toDouble).getOrElse(1.0))
          dchk("pixelh", opts.get("pixelh").map(_.toDouble).getOrElse(1.0))
        case (Some(have), None) => throw new IllegalArgumentException(
          s"$ctx: existing mosaic is geo-referenced (EPSG $have) but the " +
            "append passes no epsg option")
        case (None, Some(e)) => throw new IllegalArgumentException(
          s"$ctx: append passes epsg=$e but the existing mosaic has no " +
            "geo-referencing")
        case (None, None) => ()
      }
      // manifest is authoritative; skip the header probe
      case None => probeAppendGeometry(fs, target, opts, bs, width, height,
        bands, regionPx)
    }

  /** Legacy fallback for [[validateAppendGeometry]]: best-effort
    * extreme-part header probe (see the caller's scaladoc for what it
    * can and cannot catch). */
  private def probeAppendGeometry(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, opts: Map[String, String], bs: Int, width: Int,
      height: Int, bands: Int, regionPx: Long): Unit = {
    val existing = fs.listStatus(target).flatMap { st =>
      st.getPath.getName match {
        case PartName(ry, rx) => Some(((ry.toInt, rx.toInt), st.getPath))
        case _ => None
      }
    }
    if (existing.isEmpty) return // nothing to contradict
    def near(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    // bottom-most part pins height; right-most pins width (often the
    // same file — the Set dedups the header parse)
    for (((ry, rx), part) <- Set(existing.maxBy(_._1),
        existing.maxBy { case ((ry, rx), _) => (rx, ry) })) {
      val prof =
        try CogReader.inferProfile(CogReader.readHeader(part.toString, fs.getConf))
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"mosaic append could not parse existing part '$part': " +
              s"${e.getMessage}", e)
        }
      def ctx = s"mosaic append geometry mismatch vs existing ${part.getName}"
      require(prof.blockSize == bs,
        s"$ctx: blocksize ${prof.blockSize} != incoming $bs")
      require(prof.bands == bands, s"$ctx: bands ${prof.bands} != incoming $bands")
      val dtype = opts.getOrElse("dtype", "float64")
      require(prof.dtype == dtype, s"$ctx: dtype ${prof.dtype} != incoming $dtype")
      val expW = math.min(regionPx, width - rx * regionPx)
      val expH = math.min(regionPx, height - ry * regionPx)
      require(prof.width == expW && prof.height == expH,
        s"$ctx: region ($ry,$rx) is ${prof.width}x${prof.height} but global " +
          s"${width}x$height implies ${expW}x$expH — pass width/height/blocksize " +
          "options matching the existing mosaic")
      (prof.geo, opts.get("epsg")) match {
        case (Some(g), Some(e)) =>
          val pw = opts.get("pixelw").map(_.toDouble).getOrElse(1.0)
          val ph = opts.get("pixelh").map(_.toDouble).getOrElse(1.0)
          val ox = opts.get("originx").map(_.toDouble).getOrElse(0.0)
          val oy = opts.get("originy").map(_.toDouble).getOrElse(0.0)
          require(g.epsg == e.toInt, s"$ctx: EPSG ${g.epsg} != incoming $e")
          require(near(g.pixelW, pw) && near(g.pixelH, ph),
            s"$ctx: pixel scale (${g.pixelW},${g.pixelH}) != incoming ($pw,$ph)")
          val expOx = ox + rx * regionPx * pw
          val expOy = oy - ry * regionPx * ph
          require(near(g.originX, expOx) && near(g.originY, expOy),
            s"$ctx: region ($ry,$rx) origin (${g.originX},${g.originY}) != " +
              s"($expOx,$expOy) implied by incoming origin ($ox,$oy)")
        case (Some(g), None) => throw new IllegalArgumentException(
          s"$ctx: existing mosaic is geo-referenced (EPSG ${g.epsg}) but the " +
            "append passes no epsg option")
        case (None, Some(e)) => throw new IllegalArgumentException(
          s"$ctx: append passes epsg=$e but the existing mosaic has no " +
            "geo-referencing")
        case (None, None) => ()
      }
    }
  }

  /** Global write geometry (blockSize, width, height, bands): explicit
    * options win; otherwise inferred from tile METADATA columns only
    * (header-only for a cog-source input). */
  private def inferGeometry(level0: DataFrame,
      opts: Map[String, String]): (Int, Int, Int, Int) = {
    import org.apache.spark.sql.functions.{col, max => fmax}
    def opt(k: String): Option[String] = opts.get(k)
    val (bs, width, height) = {
      if (opt("blocksize").isDefined && opt("width").isDefined &&
        opt("height").isDefined)
        (opts("blocksize").toInt, opts("width").toInt, opts("height").toInt)
      else {
        val g = level0.agg(fmax(col("h")), fmax(col("w"))).head()
        val inferredBs = {
          val m = math.max(g.getInt(0), g.getInt(1))
          ((m + 15) / 16) * 16 // tile dims never exceed blockSize
        }
        val bsv = opt("blocksize").map(_.toInt).getOrElse(inferredBs)
        val g2 = level0.agg(
          fmax(col("tx") * bsv + col("w")), fmax(col("ty") * bsv + col("h"))).head()
        (bsv,
          opt("width").map(_.toInt).getOrElse(g2.getInt(0)),
          opt("height").map(_.toInt).getOrElse(g2.getInt(1)))
      }
    }
    val bands = opt("bands").map(_.toInt).getOrElse(
      level0.select((org.apache.spark.sql.functions.size(col("pixels")) /
        (col("h") * col("w"))).cast(IntegerType)).head().getInt(0))
    (bs, width, height, bands)
  }

  /** Column checks + profile (explicit options win; geometry infers
    * from tile METADATA columns only — header-only for a cog-source
    * input) + the typed level-0 tile Dataset. Shared by the staging
    * (Hadoop) and direct-S3 write paths. */
  private def buildProfileAndTiles(opts: Map[String, String],
      data: DataFrame): (RasterProfile, Dataset[Tile]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = data.sparkSession
    import spark.implicits._
    val cols = data.columns.toSet
    Seq("ty", "tx", "h", "w", "pixels").foreach(c =>
      require(cols.contains(c), s"cog write needs column '$c'"))
    val level0 = if (cols.contains("level")) data.filter(col("level") === 0) else data
    def opt(k: String): Option[String] = opts.get(k)
    val (bs, width, height, bands) = inferGeometry(level0, opts)
    val profile = RasterProfile(width, height, blockSize = bs, bands = bands,
      nodata = opt("nodata").map(_.toDouble).getOrElse(-9999.0),
      resampling = opt("resampling").getOrElse("average"),
      overviewCount = opt("overviews").map(_.toInt),
      minOverviewSize = opt("minoverviewsize").map(_.toInt).getOrElse(256),
      dtype = opt("dtype").getOrElse("float64"),
      compression = opt("compression").getOrElse("deflate"),
      maskPages = opt("maskpages").exists(_.toBoolean),
      bigtiff = opt("bigtiff").forall(_.toBoolean),
      geo = opt("epsg").map(e => graft.raster.GeoRef(
        opt("pixelw").map(_.toDouble).getOrElse(1.0),
        opt("pixelh").map(_.toDouble).getOrElse(1.0),
        opt("originx").map(_.toDouble).getOrElse(0.0),
        opt("originy").map(_.toDouble).getOrElse(0.0),
        e.toInt, geographic = opt("geographic").map(_.toBoolean))))
    val tiles: Dataset[Tile] = {
      val maskCol = if (cols.contains("mask")) col("mask")
        else lit(null).cast(BinaryType)
      level0.select(col("ty").cast(IntegerType), col("tx").cast(IntegerType),
        col("h").cast(IntegerType), col("w").cast(IntegerType),
        col("pixels").cast(ArrayType(DoubleType)), maskCol.as("mask"))
        .as[(Int, Int, Int, Int, Array[Double], Array[Byte])]
        .map { case (ty, tx, h, w, px, mk) => Tile(0, ty, tx, h, w, px, mk) }
    }
    (profile, tiles)
  }

  private def insertSingle(path: String, opts: Map[String, String],
      hconf: Configuration, overwrite: Boolean, data: DataFrame): Unit = {
    s3Target(path, hconf) match {
      case Some(d) => return insertSingleS3(d, hconf, opts, overwrite, data)
      case None => ()
    }
    val target = new Path(path)
    val fs = target.getFileSystem(hconf)
    // existence is checked up front, but the OLD file is only deleted
    // after the replacement fully assembles (temp + rename below): a
    // failed overwrite leaves the previous COG intact
    if (fs.exists(target) && !overwrite) throw new IllegalArgumentException(
      s"cog target exists: $path (COGs are immutable — use mode(\"overwrite\"))")

    val (profile, tiles) = buildProfileAndTiles(opts, data)

    // parts → temp dir beside the target, then ordered stream-concat
    // into a TEMP file (the local/HDFS stand-in for S3 MPU complete;
    // bounded 1 MiB copy buffer, no whole-file buffering) that renames
    // over the target only on success — an overwrite that fails midway
    // leaves the OLD file intact, and no half-concatenated TIFF is
    // ever visible under the target name
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val partDir = new Path(target.getParent, s".${target.getName}._cog_parts_$uid")
    val tmp = new Path(target.getParent, s".${target.getName}._cog_tmp_$uid")
    val sink = new HadoopMultipartSink(partDir.toString, opts)
    try {
      val res = CogWriter.write(tiles, profile, sink)
      val out = fs.create(tmp, true)
      try {
        val buf = new Array[Byte](1 << 20)
        res.receipts.sortBy(_.partNumber).foreach { r =>
          val in = fs.open(new Path(partDir, f"part-${r.partNumber}%05d.bin"))
          try {
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        }
      } finally out.close()
      if (fs.exists(target)) fs.delete(target, false)
      require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw e
    } finally fs.delete(partDir, true)
  }
}

/** Accepts equality/range predicates on level/ty/tx for planning-time
  * tile pruning and column pruning — a scan that needs neither
  * `pixels` nor `mask` never opens the file: tile geometry is fully
  * determined by the header. Integer tile-key predicates
  * (level/ty/tx) are EXACT at the planner (each row IS a tile with
  * those key values), so they are consumed outright — no residual
  * re-filter — which is also what unlocks AGGREGATE pushdown: global
  * `count(*)` / `min` / `max` over metadata columns are answered
  * entirely at planning time from the already-parsed headers
  * ([[CogAggScan]] — one precomputed row, zero tile IO, a 100k-file
  * mosaic inventory without launching real work). Geo (bbox)
  * predicates stay residual: strict bounds tighten to their inclusive
  * hull and un-georeferenced files can't prune, so Spark re-evaluates
  * them row-level. */
class CogScanBuilder(paths: Seq[String], conf: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var required: StructType = CogTable.schema

  // one output row == one planned tile/strip spec, and tile-key
  // predicates are consumed EXACTLY at planning, so truncating the
  // post-filter spec stream yields exactly min(limit, available) rows:
  // `load(mosaic).limit(5)` stops planning after 5 tiles instead of
  // planning a 10k-file mosaic. Spark only offers the limit when every
  // operator below it was fully pushed (residual geo filters block it).
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // inclusive bounds + allowed-value sets per pruning column;
  // absent = unconstrained
  private var bounds = Map.empty[String, (Option[Int], Option[Int])]
  private var sets = Map.empty[String, Set[Int]]
  // inclusive DOUBLE bounds for the geo columns (bbox pruning);
  // strict predicates tighten to their inclusive hull — pruning only
  // ever keeps extra tiles, Spark re-filters rows
  private var dbounds = Map.empty[String, (Option[Double], Option[Double])]
  private var pushed = Array.empty[Filter]

  private def tighten(col: String, lo: Option[Int], hi: Option[Int]): Unit = {
    val (clo, chi) = bounds.getOrElse(col, (None, None))
    bounds += col -> (
      Seq(clo, lo).flatten.reduceOption(math.max).map(identity),
      Seq(chi, hi).flatten.reduceOption(math.min).map(identity))
  }

  private def tightenD(col: String, lo: Option[Double], hi: Option[Double]): Unit = {
    val (clo, chi) = dbounds.getOrElse(col, (None, None))
    dbounds += col -> ((
      Seq(clo, lo).flatten.reduceOption((a, b) => math.max(a, b)),
      Seq(chi, hi).flatten.reduceOption((a, b) => math.min(a, b))))
  }

  private def asD(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case _ => None
  }

  private def tightenSet(col: String, vs: Set[Int]): Unit =
    sets += col -> sets.get(col).map(_ intersect vs).getOrElse(vs)

  /** `level = a OR level = b [OR ...]` — same-column equality
    * disjunctions collapse to an allowed-value set. */
  private def orEqualities(f: Filter): Option[(String, Set[Int])] = f match {
    case EqualTo(c, v: Int) => Some((c, Set(v)))
    case Or(l, r) =>
      for {
        (cl, sl) <- orEqualities(l)
        (cr, sr) <- orEqualities(r)
        if cl == cr
      } yield (cl, sl ++ sr)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val prunable = Seq("level", "ty", "tx")
    val geoCols = Seq("minx", "miny", "maxx", "maxy")
    // integer tile-key predicates are EXACT at the planner → consumed
    // (no residual); geo hulls and everything else stay residual
    val residual = Array.newBuilder[Filter]
    val accepted = filters.filter {
      case EqualTo(c, v: Int) if prunable.contains(c) =>
        tighten(c, Some(v), Some(v)); true
      case GreaterThan(c, v: Int) if prunable.contains(c) =>
        tighten(c, Some(v + 1), None); true
      case GreaterThanOrEqual(c, v: Int) if prunable.contains(c) =>
        tighten(c, Some(v), None); true
      case LessThan(c, v: Int) if prunable.contains(c) =>
        tighten(c, None, Some(v - 1)); true
      case LessThanOrEqual(c, v: Int) if prunable.contains(c) =>
        tighten(c, None, Some(v)); true
      // bbox: strict and non-strict collapse to the inclusive hull —
      // residual (hull over-keeps on strict bounds; geo-less files
      // can't prune and their rows carry nulls)
      case f @ GreaterThan(c, v) if geoCols.contains(c) && asD(v).isDefined =>
        tightenD(c, asD(v), None); residual += f; true
      case f @ GreaterThanOrEqual(c, v) if geoCols.contains(c) && asD(v).isDefined =>
        tightenD(c, asD(v), None); residual += f; true
      case f @ LessThan(c, v) if geoCols.contains(c) && asD(v).isDefined =>
        tightenD(c, None, asD(v)); residual += f; true
      case f @ LessThanOrEqual(c, v) if geoCols.contains(c) && asD(v).isDefined =>
        tightenD(c, None, asD(v)); residual += f; true
      case In(c, vs) if prunable.contains(c) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Int]) =>
        tightenSet(c, vs.map(_.asInstanceOf[Int]).toSet); true
      case f @ Or(_, _) =>
        orEqualities(f).filter(e => prunable.contains(e._1)) match {
          case Some((c, vs)) => tightenSet(c, vs); true
          case None => false
        }
      case _ => false
    }
    pushed = accepted
    residual ++= filters.filterNot(accepted.contains)
    residual.result()
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- aggregate pushdown (complete): header-answerable inventory ----

  private var pushedAgg
      : Option[(StructType, Seq[String], Seq[AggregateFunc])] = None

  private def aggField(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }

  private val aggIntCols = Set("level", "ty", "tx", "h", "w")
  private val aggGeoCols = Set("minx", "miny", "maxx", "maxy")

  /** count(*) / min / max over header-derived columns translate
    * completely, optionally grouped by integer tile-key columns
    * (GROUP BY level → the per-level inventory); anything else stays
    * with Spark. Output schema = group columns then agg columns, the
    * order Spark expects from a completely-pushed aggregate. */
  private def translateAgg(agg: Aggregation)
      : Option[(StructType, Seq[String])] = {
    val groupCols = agg.groupByExpressions.toSeq.foldLeft(
      Option(Seq.empty[String])) { (acc, e) =>
      for { a <- acc; c <- aggField(e) if aggIntCols(c) } yield a :+ c
    }
    def minMaxField(prefix: String, col: Option[String]): Option[StructField] =
      col.collect {
        case c if aggIntCols(c) => StructField(s"${prefix}_$c", IntegerType)
        case c if aggGeoCols(c) => StructField(s"${prefix}_$c", DoubleType)
      }
    groupCols.flatMap { gcs =>
      val fields = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(StructField("count_star", LongType, nullable = false))
        case m: Min => minMaxField("min", aggField(m.column))
        case m: Max => minMaxField("max", aggField(m.column))
        case _ => None
      }
      if (fields.contains(None)) None
      else Some((StructType(
        gcs.map(c => StructField(c, IntegerType, nullable = false)) ++
          fields.flatten), gcs))
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translateAgg(agg) match {
      case Some((schema, gcs)) =>
        pushedAgg = Some((schema, gcs, agg.aggregateExpressions.toSeq)); true
      case None => false
    }

  override def build(): Scan = pushedAgg match {
    case Some((schema, gcs, funcs)) =>
      new CogAggScan(paths, conf, bounds, sets, dbounds, schema, gcs, funcs)
    case None =>
      new CogScan(paths, conf, bounds, sets, dbounds, required, limit)
  }
}

/** One planned tile: everything the executor needs to decode it.
  * `pOff`/`pCnt` are non-empty only for PLANAR pages (tag 284 = 2):
  * one (offset, count) per band plane, decoded via
  * [[CogReader.materializeTilePlanar]]. */
case class CogTileSpec(level: Int, gw: Int, ti: Int,
    off: Long, cnt: Long, mOff: Long, mCnt: Long,
    pOff: Seq[Long] = Nil, pCnt: Seq[Long] = Nil)

/** Decode recipe for a STRIP-organized (non-tiled) file — GDAL's
  * default for plain TIFFs; rows surface as (level=0, ty=stripIdx,
  * tx=0, h=stripRows, w=width) so any GeoTIFF reads through the one
  * DSv2 source. */
case class StripSource(codec: String, dtype: String, predictor: Int,
    width: Int, height: Int, rowsPerStrip: Int, bands: Int,
    bigEndian: Boolean, geo: Option[graft.raster.GeoRef],
    nodata: Double)

case class CogInputPartition(uri: String,
    conf: org.apache.spark.broadcast.Broadcast[Map[String, String]],
    profile: RasterProfile, schema: StructType,
    tiles: Seq[CogTileSpec],
    strips: Option[StripSource] = None,
    // the table's own (tiny) option map — rides the partition itself
    // while the session conf rides the memoized broadcast; options WIN
    // over session entries when merged task-side ([[SessionConf]])
    tableOpts: Map[String, String] = Map.empty) extends InputPartition

class CogScan(paths: Seq[String], conf: Map[String, String],
    bounds: Map[String, (Option[Int], Option[Int])],
    sets: Map[String, Set[Int]],
    dbounds: Map[String, (Option[Double], Option[Double])],
    required: StructType,
    limit: Option[Int] = None) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Post-pruning statistics to the optimizer. Rows are EXACT — tile
    * keys are exact at planning, one output row per planned tile (or
    * strip), so the count is a fact, not an estimate. Bytes are the
    * planned compressed tile bytes for pixel reads (what the scan will
    * actually fetch), or the in-memory row estimate for a scan pruned
    * to metadata columns — which is what lets a mosaic INVENTORY
    * (src/level/ty/tx/bbox, thousands of rows, ~100 B each) BROADCAST
    * when joined against an AOI or catalog table instead of shuffling
    * the other side. */
  override def estimateStatistics(): Statistics = {
    val parts = planInputPartitions().map(_.asInstanceOf[CogInputPartition])
    var rows = 0L
    var ioBytes = 0L
    parts.foreach { p =>
      // one output row per planned spec — strip partitions carry their
      // planned strips in `tiles` too (one CogTileSpec per surviving
      // strip, per-strip byte counts included), so BOTH layouts count
      // the actual post-pruning plan, never the whole file
      rows += p.tiles.size
      ioBytes += p.tiles.iterator.map(t => t.cnt + t.mCnt + t.pCnt.sum).sum
    }
    val needPayload = required.fieldNames.exists(Set("pixels", "mask"))
    val size =
      if (needPayload) math.max(ioBytes, rows * math.max(required.defaultSize, 1))
      else rows * math.max(required.defaultSize, 1)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  // ---- runtime filtering (dynamic "partition" pruning, DSv2) ----
  // joining the tile table against a small AOI/file table prunes at
  // EXECUTION time the way bbox/tile-key literals prune at planning:
  // Spark collects the build side of the broadcast join, hands the
  // joined key's values here as In filters, and re-plans the scan.
  // `src` prunes whole FILES (their headers are never even fetched);
  // level/ty/tx prune tiles within files through the same allowed-set
  // mechanism the static pushdown uses. Unhandled runtime filters are
  // advisory — the join re-filters rows, pruning is pure optimization.
  private var runtimeSets: Map[String, Set[Int]] = Map.empty
  private var runtimeSrc: Option[Set[String]] = None

  // Only advertise columns that survived column pruning: Spark resolves
  // these against readSchema(), and a reference to a pruned-away column
  // fails the whole query at planning time.
  override def filterAttributes(): Array[NamedReference] =
    Array("src", "level", "ty", "tx")
      .filter(required.fieldNames.contains)
      .map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
    case In("src", vs) =>
      val s = vs.filter(_ != null).map(_.toString).toSet
      runtimeSrc = Some(runtimeSrc.fold(s)(_ intersect s))
    case In(c, vs) if Seq("level", "ty", "tx").contains(c) &&
        vs.forall(_.isInstanceOf[Int]) =>
      val s = vs.map(_.asInstanceOf[Int]).toSet
      runtimeSets += c -> runtimeSets.get(c).fold(s)(_ intersect s)
    case EqualTo("src", v: String) =>
      runtimeSrc = Some(runtimeSrc.fold(Set(v))(_ intersect Set(v)))
    case _ => ()
    }
  }
  override def description(): String = {
    val b = bounds.map { case (c, (lo, hi)) =>
      s"$c in [${lo.getOrElse("-inf")},${hi.getOrElse("inf")}]" } ++
      sets.map { case (c, vs) => s"$c in {${vs.toSeq.sorted.mkString(",")}}" } ++
      dbounds.map { case (c, (lo, hi)) =>
        s"$c in [${lo.getOrElse("-inf")},${hi.getOrElse("inf")}]" }
    s"cog ${paths.mkString(",")}${if (b.nonEmpty) s" pruned(${b.mkString(", ")})" else ""}" +
      s" columns(${required.fieldNames.mkString(",")})" +
      limit.map(l => s" limit=$l").getOrElse("")
  }

  private def inBounds(col: String, v: Int): Boolean = {
    val (lo, hi) = bounds.getOrElse(col, (None, None))
    lo.forall(v >= _) && hi.forall(v <= _) &&
      sets.get(col).forall(_.contains(v)) &&
      runtimeSets.get(col).forall(_.contains(v))
  }

  /** World bounds vs every pushed geo range (shared by the tiled and
    * striped planners). */
  private def bboxOk(b: (Double, Double, Double, Double)): Boolean =
    Seq("minx" -> b._1, "miny" -> b._2, "maxx" -> b._3, "maxy" -> b._4)
      .forall { case (c, v) =>
        val (lo, hi) = dbounds.getOrElse(c, (None, None))
        lo.forall(v >= _) && hi.forall(v <= _)
      }

  // the static (no-runtime-filter) plan memoized: estimateStatistics,
  // Spark's own repeated planInputPartitions calls, and the aggregate
  // scan's inner re-plan all share ONE header-parsing pass per query
  // instead of re-fetching every file's header each time; a runtime
  // filter arriving later re-plans from scratch (it prunes further)
  private lazy val staticPartitions: Array[InputPartition] = computePartitions()

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeSets.isEmpty && runtimeSrc.isEmpty) staticPartitions
    else computePartitions()

  private def computePartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    // the SESSION's Hadoop configuration under the datasource options
    // (options win): spark.hadoop.* credentials/endpoints must reach
    // the executors' FileSystem creation, exactly as they do for the
    // built-in sources — otherwise s3a:// works for parquet but not for
    // this source. Session conf rides the ONE memoized broadcast per
    // context (a fresh multi-hundred-entry broadcast per scan/re-plan
    // was pure waste); the table's tiny option map rides each partition
    val bcConf = SessionConf.broadcast(spark)
    val hc = SessionConf.hadoop(bcConf.value, conf)

    // expand each path: single file, directory (its *.tif/*.tiff), or
    // glob — a MOSAIC of many COGs is the realistic 100 TB raster
    // layout (one 5 TiB object is the S3 ceiling), and per-file geo
    // pruning below means a bbox query plans zero partitions for
    // non-intersecting files. Multiple paths (`load(a, b, …)`) expand
    // independently and concatenate — the listing-free mosaic shape
    // for endpoints with no directory contract (http://)
    def isTif(n: String): Boolean = {
      val l = n.toLowerCase(java.util.Locale.ROOT)
      l.endsWith(".tif") || l.endsWith(".tiff")
    }
    def expandOne(one: String): Seq[String] = {
      val p = new Path(one)
      val fs = p.getFileSystem(hc)
      // one getFileStatus decides file-vs-directory (on an S3-listing
      // FileSystem a prefix probe is max-keys=1, not a full listing;
      // separate exists() calls would repeat it)
      val status =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status match {
        case Some(st) if st.isDirectory =>
          fs.listStatus(p).filter(s => s.isFile && isTif(s.getPath.getName))
            .map(_.getPath.toString).sorted.toSeq
        case Some(_) => Seq(one)
        case None =>
          val g = fs.globStatus(p)
          require(g != null && g.nonEmpty, s"no cog files match $one")
          g.filter(_.isFile).map(_.getPath.toString).sorted.toSeq
      }
    }
    // runtime src pruning happens BEFORE header fetches: a 10k-file
    // mosaic joined to a 3-file AOI table reads 3 headers, not 10k.
    // An empty post-filter set is legal (join key matched nothing).
    val allFiles: Seq[String] = paths.flatMap(expandOne).distinct
    require(allFiles.nonEmpty, s"no .tif files under ${paths.mkString(",")}")
    val files: Seq[String] =
      runtimeSrc.fold(allFiles)(keep => allFiles.filter(keep.contains))
    if (files.isEmpty) return Array.empty

    // headers are KB-scale but possibly numerous: parse in parallel on
    // a bounded pool (object stores serve these as ranged GETs). A
    // corrupt member must fail NAMING ITS FILE — the parser's own
    // message (bad magic, truncated IFD, illegal field type) is
    // useless against a 10k-file mosaic without the path
    def metaOf(f: String): (String, Seq[BigTiff.PageMeta]) =
      try (f, CogReader.readHeader(f, hc))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"cog mosaic planning failed to parse '$f': ${e.getMessage}", e)
      }
    val metas: Seq[(String, Seq[BigTiff.PageMeta])] =
      if (files.size == 1) files.map(metaOf)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, files.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(files.map(f =>
            scala.concurrent.Future(metaOf(f)))),
          scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }

    // NOTE (scale): the InputPartitions necessarily hold one
    // CogTileSpec per surviving tile on the driver (~40 B each — a few
    // GB at a 50M-tile grid, the same inherent-to-TIFF driver ceiling
    // as the header offset arrays, SCALE.md). Per-file iterators
    // stream specs straight into the round-robin groups so no SECOND
    // fully-realized copy ever exists.
    val slicesPerFile = math.max(1,
      spark.sparkContext.defaultParallelism / files.size)

    // strip-organized file: surface strips as (level 0, ty=stripIdx,
    // tx=0) rows so ANY GeoTIFF — COG or plain — reads through the one
    // source; prune on ty and world bounds like tiles
    // pushed-limit budget across files: planners truncate their spec
    // streams and later files stop planning entirely once satisfied
    var remaining = limit.getOrElse(Int.MaxValue)

    def planStriped(uri: String, pg: BigTiff.PageMeta): Seq[InputPartition] = {
      val codec = CogReader.codecOf(pg.compression, striped = true)
      // shared layout derivation: strip count from the geometry (not
      // the offsets array), 2^32-1 RowsPerStrip sentinel clamped,
      // offsets/counts lengths cross-checked
      val (nStrips, planes, rps) = CogReader.stripLayout(pg)
      val dtype = CogReader.dtypeOf(pg.bits, pg.sampleFormat)
      val ss = StripSource(codec, dtype,
        pg.predictor, pg.width.toInt, pg.height.toInt, rps,
        pg.samplesPerPixel, pg.bigEndian, CogReader.inferGeo(pg),
        CogReader.nodataOf(pg, dtype))
      // placeholder profile: the reader branches to the strip recipe
      // before ever consulting it (schema/geometry all come from ss)
      val placeholder = RasterProfile(ss.width, ss.height, blockSize = 16,
        nodata = Double.NaN)
      def stripKeep(si: Int): Boolean = {
        val rows = math.min(ss.rowsPerStrip, ss.height - si * ss.rowsPerStrip)
        inBounds("level", 0) && inBounds("ty", si) && inBounds("tx", 0) &&
          (dbounds.isEmpty || ss.geo.forall(g => bboxOk(CogTable.tileBounds(
            g, ss.rowsPerStrip, 0, si, 0, rows, ss.width))))
      }
      // planar striped pages carry bands consecutive plane arrays —
      // one spec per SPATIAL strip, per-plane offsets in pOff/pCnt
      // (same shape as the tiled planar path)
      val specs = (0 until nStrips).iterator.filter(stripKeep)
        .map(si => CogTileSpec(0, 1, si, pg.offsets(si), pg.counts(si), 0L, 0L,
          pOff = if (planes > 1)
            (0 until planes).map(b => pg.offsets(b * nStrips + si)) else Nil,
          pCnt = if (planes > 1)
            (0 until planes).map(b => pg.counts(b * nStrips + si)) else Nil))
      val taken = specs.take(remaining).toSeq
      remaining -= taken.length
      chunkContiguous(taken, slicesPerFile)
        .map(g => CogInputPartition(uri, bcConf, placeholder, required,
          g, Some(ss), tableOpts = conf): InputPartition)
    }

    // CONTIGUOUS byte-balanced grouping (replaced round-robin in r13):
    // specs arrive in file-layout order, so giving each partition a
    // contiguous run of roughly-equal bytes (a) keeps every partition
    // inside one contiguous byte span of its file — the shape range
    // coalescing and object-store readahead both want — and (b)
    // balances work by BYTES, not tile count, so a partition of big
    // level-0 tiles doesn't straggle behind one of tiny overview
    // tiles. The 4 KiB floor keeps a run of sparse (0-byte) tiles from
    // collapsing into one partition: their decode cost is real.
    def chunkContiguous(specs: Seq[CogTileSpec], n: Int): Seq[Seq[CogTileSpec]] = {
      if (specs.isEmpty) return Seq.empty
      def sizeOf(s: CogTileSpec): Long = 4096L + s.cnt + s.mCnt + s.pCnt.sum
      val slices = math.max(1, math.min(n, specs.length))
      val target = math.max(1L, (specs.map(sizeOf).sum + slices - 1) / slices)
      val out = Seq.newBuilder[Seq[CogTileSpec]]
      var cur = Seq.newBuilder[CogTileSpec]
      var acc = 0L
      var made = 0
      specs.foreach { s =>
        if (acc >= target && made < slices - 1) {
          out += cur.result(); cur = Seq.newBuilder; acc = 0L; made += 1
        }
        cur += s
        acc += sizeOf(s)
      }
      out += cur.result()
      out.result()
    }

    def planTiled(uri: String, pages: Seq[BigTiff.PageMeta]): Seq[InputPartition] = {
      val profile = CogReader.inferProfile(pages)
      val data = pages.filter(!_.isMask)
      val masks = pages.filter(_.isMask)
      // overview selection (GDAL's read-at-resolution pattern): the
      // `resolution` option picks, PER FILE, the coarsest pyramid
      // level whose pixel size still meets the requested world units
      // per pixel — the fewest bytes that are at least as sharp. A
      // mixed-resolution mosaic therefore answers one query at one
      // nominal resolution with a different level per file.
      // Geo-less files carry no pixel size and ignore the option.
      val resLevel: Option[Int] =
        conf.get("resolution").map(_.toDouble).flatMap { target =>
          profile.geo.map { g =>
            (0 until data.length)
              .filter(l => g.pixelW * (1L << l) <= target)
              .lastOption.getOrElse(0)
          }
        }
      // bbox pruning: a tile survives only if its world bounds can
      // satisfy every pushed geo range. Files without geo-referencing
      // can't prune (bounds unknown — keep everything; the row-level
      // re-filter then sees nulls and drops as SQL semantics dictate).
      def geoKeep(level: Int, ty: Int, tx: Int): Boolean =
        dbounds.isEmpty || profile.geo.forall { g =>
          val (th, tw) = profile.tileDims(level, ty, tx)
          bboxOk(CogTable.tileBounds(g, profile.blockSize, level, ty, tx, th, tw))
        }
      val specs = data.indices.iterator
        .filter(l => inBounds("level", l) && resLevel.forall(_ == l))
        .flatMap { level =>
          val pg = data(level)
          val (gw, _) = profile.gridDims(level)
          // planar pages carry bands× tile arrays (plane-major); the
          // spatial grid iterates tilesPerPlane and each spec collects
          // its per-plane offsets
          val perPlane = pg.tilesPerPlane
          val planes = if (pg.planar == 2) pg.samplesPerPixel else 1
          (0 until perPlane).iterator
            .filter(ti => inBounds("ty", ti / gw) && inBounds("tx", ti % gw) &&
              geoKeep(level, ti / gw, ti % gw))
            .map(ti => CogTileSpec(level, gw, ti, pg.offsets(ti), pg.counts(ti),
              masks.lift(level).map(_.offsets(ti)).getOrElse(0L),
              masks.lift(level).map(_.counts(ti)).getOrElse(0L),
              pOff = if (planes > 1)
                (0 until planes).map(b => pg.offsets(b * perPlane + ti)) else Nil,
              pCnt = if (planes > 1)
                (0 until planes).map(b => pg.counts(b * perPlane + ti)) else Nil))
        }
      val taken = specs.take(remaining).toSeq
      remaining -= taken.length
      chunkContiguous(taken, slicesPerFile)
        .map(g => CogInputPartition(uri, bcConf, profile, required, g,
          tableOpts = conf): InputPartition)
    }

    metas.flatMap { case (uri, pages) =>
      if (remaining <= 0) Seq.empty // pushed limit satisfied: later files never plan
      else if (pages.headOption.exists(_.isStriped)) {
        // a multi-image striped file (extra IFDs) would silently drop
        // every page after the first — fail loudly instead, matching
        // the reject-unsupported-layouts rule used for tiles
        require(pages.length == 1, s"striped TIFF $uri has ${pages.length} " +
          "IFDs — multi-page striped files are unsupported (only the first " +
          "page would be read)")
        planStriped(uri, pages.head)
      } else planTiled(uri, pages)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CogPartitionReaderFactory()
}

/** Completely-pushed aggregate over the COG table: the values are
  * computed ON THE DRIVER at planning time from the same pruned tile
  * specs the row scan would have planned (headers only — tile bytes
  * are never touched; the only "task" emits the precomputed rows).
  * `SELECT count(*), max(level) FROM cog` over a 100k-file mosaic is
  * a header sweep, not a cluster job; `GROUP BY level` yields the
  * per-level inventory the same way. Empty pruned input follows SQL
  * semantics: one count-0/null row for the global form, zero rows for
  * the grouped form. */
class CogAggScan(paths: Seq[String], conf: Map[String, String],
    bounds: Map[String, (Option[Int], Option[Int])],
    sets: Map[String, Set[Int]],
    dbounds: Map[String, (Option[Double], Option[Double])],
    aggSchema: StructType, groupCols: Seq[String], funcs: Seq[AggregateFunc])
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"cog ${paths.mkString(",")} AGG-PUSHED(${aggSchema.fieldNames.mkString(",")})"

  private class Stats {
    var count = 0L
    val mins = scala.collection.mutable.Map.empty[String, Double]
    val maxs = scala.collection.mutable.Map.empty[String, Double]
    def see(col: String, v: Double): Unit = {
      mins.get(col) match {
        case Some(m) => if (v < m) mins(col) = v
        case None => mins(col) = v
      }
      maxs.get(col) match {
        case Some(m) => if (v > m) maxs(col) = v
        case None => maxs(col) = v
      }
    }
  }

  // reuse the row scan's planner verbatim: same pruning, same specs —
  // held as a FIELD so repeated (re-)plans of this agg scan hit the
  // inner scan's memoized staticPartitions instead of re-fetching
  // every file header per call
  private lazy val inner =
    new CogScan(paths, conf, bounds, sets, dbounds, StructType(Nil))

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = inner.planInputPartitions().map(_.asInstanceOf[CogInputPartition])

    // one driver pass over the (already driver-resident) specs,
    // bucketed by the group key (Nil = the single global group)
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Int], Stats]
    def statsFor(key: Seq[Int]): Stats =
      groups.getOrElseUpdate(key, new Stats)
    def record(level: Int, ty: Int, tx: Int, h: Int, w: Int,
        geoB: Option[(Double, Double, Double, Double)]): Unit = {
      val meta = Map("level" -> level, "ty" -> ty, "tx" -> tx, "h" -> h, "w" -> w)
      val st = statsFor(groupCols.map(meta))
      st.count += 1
      meta.foreach { case (c, v) => st.see(c, v.toDouble) }
      geoB.foreach { b =>
        st.see("minx", b._1); st.see("miny", b._2)
        st.see("maxx", b._3); st.see("maxy", b._4)
      }
    }
    for (p <- parts; s <- p.tiles) {
      p.strips match {
        case Some(ss) =>
          val rows = math.min(ss.rowsPerStrip, ss.height - s.ti * ss.rowsPerStrip)
          record(0, s.ti, 0, rows, ss.width, ss.geo.map(g =>
            CogTable.tileBounds(g, ss.rowsPerStrip, 0, s.ti, 0, rows, ss.width)))
        case None =>
          val ty = s.ti / s.gw
          val tx = s.ti % s.gw
          val (th, tw) = p.profile.tileDims(s.level, ty, tx)
          record(s.level, ty, tx, th, tw, p.profile.geo.map(g =>
            CogTable.tileBounds(g, p.profile.blockSize, s.level, ty, tx, th, tw)))
      }
    }
    // the global form aggregates over empty input to one row
    if (groupCols.isEmpty && groups.isEmpty) groups(Nil) = new Stats

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e match { case f: NamedReference => f.fieldNames.head }
    def value(src: scala.collection.Map[String, Double], col: String,
        dt: DataType): Any =
      src.get(col) match {
        case None => null // empty input or geo-less file set
        case Some(v) => dt match {
          case IntegerType => v.toInt
          case DoubleType => v
          case _ => null
        }
      }
    val aggFields = aggSchema.fields.drop(groupCols.length)
    val rows: Array[Array[Any]] = groups.toSeq
      .sortBy(_._1)(scala.math.Ordering.Implicits.seqOrdering)
      .map { case (key, st) =>
        val aggVals = funcs.zip(aggFields).map {
          case (_: CountStar, _) => java.lang.Long.valueOf(st.count)
          case (m: Min, f) => value(st.mins, colOf(m.column), f.dataType)
          case (m: Max, f) => value(st.maxs, colOf(m.column), f.dataType)
          case _ => null
        }
        (key.map(Int.box).toArray[Any] ++ aggVals).toArray[Any]
      }.toArray
    Array(CogAggResultPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CogAggReaderFactory()
}

case class CogAggResultPartition(rows: Array[Array[Any]]) extends InputPartition

class CogAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[CogAggResultPartition].rows.iterator
      private var row: Array[Any] = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = new GenericInternalRow(row)
      override def close(): Unit = ()
    }
}

class CogPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CogPartitionReader(partition.asInstanceOf[CogInputPartition])
}

class CogPartitionReader(part: CogInputPartition)
    extends PartitionReader[InternalRow] {

  private val hconf = SessionConf.hadoop(part.conf.value, part.tableOpts)
  private val fsPath = new Path(part.uri)
  // opened only becomes true AFTER fs.open succeeds: a lazy val that
  // flipped the flag first would make close() re-attempt (and re-throw)
  // a failed open
  private var opened = false
  private var inVar: org.apache.hadoop.fs.FSDataInputStream = _
  private def in = {
    if (!opened) {
      val raw = fsPath.getFileSystem(hconf).open(fsPath)
      // coalesce this partition's planned ranges (data + mask + planar
      // planes) into merged fetch spans: one positioned read per span
      // instead of one per tile — the request-count lever on object
      // stores. `range.gap` tunes merging (-1 disables),
      // `range.maxspan` caps the buffer.
      val ranges = part.tiles.flatMap(s =>
        Seq((s.off, s.cnt), (s.mOff, s.mCnt)) ++ s.pOff.zip(s.pCnt))
      inVar = CoalescingInput.wrap(raw, ranges,
        hconf.getLong("range.gap", CoalescingInput.DefaultGap),
        hconf.getLong("range.maxspan", CoalescingInput.DefaultMaxSpan))
      opened = true
    }
    inVar
  }
  private val it = part.tiles.iterator
  private var row: InternalRow = _

  private val names = part.schema.fieldNames
  // a scan needing neither pixels nor mask is header-only: geometry
  // comes from the profile, so the tile bytes are NEVER read
  private val needsTileBytes =
    names.contains("pixels") || names.contains("mask")

  override def next(): Boolean =
    if (!it.hasNext) false
    else if (part.strips.isDefined) { nextStrip(); true }
    else {
      val s = it.next()
      val ty = s.ti / s.gw
      val tx = s.ti % s.gw
      val (th, tw) = part.profile.tileDims(s.level, ty, tx)
      // world bounds are header-derived like the geometry columns —
      // never a reason to touch tile bytes; null without geo-referencing
      val geoB = part.profile.geo.map(g =>
        CogTable.tileBounds(g, part.profile.blockSize, s.level, ty, tx, th, tw))
      def geoVal(name: String): Any = (name, geoB) match {
        case ("minx", Some((v, _, _, _))) => v
        case ("miny", Some((_, v, _, _))) => v
        case ("maxx", Some((_, _, v, _))) => v
        case ("maxy", Some((_, _, _, v))) => v
        case ("src", _) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(part.uri)
        case _ => null
      }
      row =
        if (needsTileBytes) {
          val t =
            if (s.pOff.nonEmpty)
              CogReader.materializeTilePlanar(in, part.profile, s.level, s.gw,
                s.ti, s.pOff, s.pCnt, s.mOff, s.mCnt)
            else CogReader.materializeTile(in, part.profile, s.level, s.gw,
              s.ti, s.off, s.cnt, s.mOff, s.mCnt)
          new GenericInternalRow(names.map[Any] {
            case "level" => t.level
            case "ty" => t.ty
            case "tx" => t.tx
            case "h" => t.h
            case "w" => t.w
            case "pixels" => ArrayData.toArrayData(t.pixels)
            case "mask" => t.mask
            case g => geoVal(g)
          })
        } else {
          new GenericInternalRow(names.map[Any] {
            case "level" => s.level
            case "ty" => ty
            case "tx" => tx
            case "h" => th
            case "w" => tw
            case g => geoVal(g)
          })
        }
      true
    }

  /** Strip-organized branch: one row per strip, (level 0, ty =
    * stripIdx, tx = 0); geometry + geo bounds header-derived, pixels
    * decoded via the strip recipe only when the scan needs them. */
  private def nextStrip(): Unit = {
    val ss = part.strips.get
    val s = it.next()
    val si = s.ti
    val rows = math.min(ss.rowsPerStrip, ss.height - si * ss.rowsPerStrip)
    val geoB = ss.geo.map(g =>
      CogTable.tileBounds(g, ss.rowsPerStrip, 0, si, 0, rows, ss.width))
    def geoVal(name: String): Any = (name, geoB) match {
      case ("minx", Some((v, _, _, _))) => v
      case ("miny", Some((_, v, _, _))) => v
      case ("maxx", Some((_, _, v, _))) => v
      case ("maxy", Some((_, _, _, v))) => v
      case ("src", _) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(part.uri)
      case _ => null
    }
    lazy val pixels =
      if (s.pOff.nonEmpty) {
        // planar: one chunk per band, decoded band-major by the shared
        // gather (same kernel as the library readStrips path)
        CogReader.materializeStripPlanar(in, s.pOff, s.pCnt, rows,
          ss.width, ss.codec, ss.predictor, ss.dtype, ss.bigEndian, ss.nodata)
      } else if (s.cnt == 0) { // sparse strip: all nodata
        val a = new Array[Double](ss.bands * rows * ss.width)
        java.util.Arrays.fill(a, ss.nodata)
        a
      } else {
        val comp = new Array[Byte](s.cnt.toInt)
        in.readFully(s.off, comp, 0, s.cnt.toInt)
        graft.raster.TileCodec.decodeStrip(comp, ss.codec, ss.predictor,
          rows, ss.width, ss.bands, ss.dtype, ss.bigEndian)
      }
    row = new GenericInternalRow(names.map[Any] {
      case "level" => 0
      case "ty" => si
      case "tx" => 0
      case "h" => rows
      case "w" => ss.width
      case "pixels" => ArrayData.toArrayData(pixels)
      case "mask" => null
      case g => geoVal(g)
    })
  }

  override def get(): InternalRow = row

  override def close(): Unit =
    if (opened) try in.close() catch { case _: Exception => () }
}
