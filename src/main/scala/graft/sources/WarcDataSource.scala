package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.text.{HtmlExtract, Warc}

/** `spark.read.format("warc")` — crawl archives as a DataSource V2
  * table. At 100 TB a web corpus IS WARC files (the CommonCrawl
  * layout [[graft.text.Warc]] reads/writes: ISO 28500 records, one
  * gzip member per record); before this source, WARC parsing lived
  * inside a query's typed `flatMap` — now it is a first-class source
  * with the two scan optimizations that matter at that scale:
  *
  *  - COLUMN PRUNING reaches the DECODE work, not just the row width:
  *    `text` (the boilerplate-shedding [[HtmlExtract]] pass) is only
  *    computed when the query asks for it, and the HTTP payload split
  *    only runs when status/content_type/body/text are required — a
  *    `count of urls per host` query does WARC framing and nothing
  *    else.
  *  - RECORD FILTERS short-circuit the same way: pushed host / url /
  *    warc_type predicates are evaluated on the cheap framing columns
  *    BEFORE any payload work, so filtered-out records never pay
  *    HTTP-split or extraction. Filters stay residual (Spark re-applies
  *    them on rows) — the skip is pure optimization, never semantics,
  *    the same contract as the COG source's planning-time pruning.
  *
  * Scale unit: one InputPartition per shard file — OR per
  * member-aligned byte range of it when the shard is large and its
  * sidecar member index exists ([[WarcSplit]]: both engine sinks
  * write one), so parallelism scales with BYTES, not file count: a
  * million-file corpus plans a million cheap partitions AND a corpus
  * of few 1 GiB shards still fans ~8-wide per shard. The reader
  * walks its range's gzip members INCREMENTALLY
  * ([[Warc.streamRecords]]) so task memory is O(one record), never
  * O(file): a foreign multi-gigabyte shard scans in a bounded heap.
  * Paths may be a file, a directory (its
  * *.warc.gz), or a glob; the session's Hadoop conf merges under the
  * options so s3a:// / the ranged-HTTP filesystem work exactly as for
  * parquet. Malformed framing stays LOUD (the [[Warc]] contract):
  * a corrupt shard fails naming its file and byte range, never a
  * short corpus. */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcTable.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val pathsJson = properties.get("paths")
    val paths: Seq[String] =
      if (pathsJson != null && pathsJson.nonEmpty)
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(pathsJson, classOf[Array[String]]).toSeq
      else {
        val p = properties.get("path")
        require(p != null && p.nonEmpty, "warc source requires a path")
        Seq(p)
      }
    require(paths.nonEmpty, "warc source requires at least one path")
    new WarcTable(paths, properties.asScala.toMap - "path" - "paths")
  }
}

object WarcTable {
  /** One row per WARC record. `host` is derived from the target URI
    * (scheme stripped, authority up to the first '/': the same rule
    * the crawl queries use); `status` is the HTTP status line and
    * `content_type` the HTTP Content-Type header, both null for
    * records whose payload is not an HTTP response; `body` is the raw
    * HTTP body; `text` is the [[HtmlExtract]] extraction of it. */
  val schema: StructType = StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("record_id", StringType, nullable = true),
    StructField("warc_type", StringType, nullable = false),
    StructField("status", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("body", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true)))

  def hostOf(url: String): String = {
    val rest = url.indexOf("://") match {
      case -1 => url
      case i => url.substring(i + 3)
    }
    rest.takeWhile(_ != '/')
  }
}

class WarcTable(paths: Seq[String], conf: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc:${paths.mkString(",")}"
  override def schema(): StructType = WarcTable.schema
  override def capabilities(): util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: writes take (url, body|text) rows, not the
    // full 9-column read schema — WarcWriteSupport validates itself
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(paths, conf)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.size == 1,
      s"warc write takes exactly one target directory, got ${paths.size}")
    new WarcWriteBuilder(paths.head, conf ++ info.options.asScala.toMap)
  }
}

/** `df.write.format("warc")` — re-shard a (filtered, deduped,
  * re-mixed) corpus back into the CommonCrawl layout. Input rows are
  * `url` (string) plus `body` (binary) or `text` (string, UTF-8
  * encoded on write); optional `record_id`. Each task writes its
  * partition as `part-<pid>-<seq>.warc.gz` files of at most
  * `shard.capacity` records (default 128) — the standard per-task
  * file-writer contract (parquet does the same), so a petabyte write
  * is embarrassingly parallel and task memory stays one-shard-bounded.
  * Overwrite clears only this source's own part files; append onto an
  * existing layout is refused loudly (a half-merged corpus is the
  * silent-corruption shape the loud-refusal discipline exists for). */
class WarcWriteBuilder(path: String, opts: Map[String, String])
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var overwrite = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              ow: Boolean): Unit =
            WarcWriteSupport.insert(path, opts, overwrite || ow, data)
        }
    }
}

object WarcWriteSupport {
  def insert(path: String, opts: Map[String, String], overwrite: Boolean,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val fields = data.schema.fieldNames.toSet
    require(fields.contains("url"), "warc write requires a 'url' column")
    require(fields.contains("body") || fields.contains("text"),
      "warc write requires a 'body' (binary) or 'text' (string) column")
    val capacity = opts.get("shard.capacity").map(_.toInt).getOrElse(128)
    require(capacity > 0, s"shard.capacity must be positive, got $capacity")
    val contentType = opts.getOrElse("content.type", "text/html")

    val dirPath = new Path(path)
    val fs = dirPath.getFileSystem(SessionConf.hadoop(spark, opts))
    // refusal/overwrite operate on EVERY readable warc file (both the
    // batch writer's part-* and the streaming ingest's b*-p*-* names,
    // and foreign *.warc.gz) — counting only our own pattern would let
    // an append silently merge two layouts into one corpus. ONE
    // listing serves every suffix class in one RPC (listStatus throws
    // FileNotFoundException for a missing directory — no exists
    // pre-probe, the expandOne pattern)
    val listed: Option[Array[org.apache.hadoop.fs.FileStatus]] =
      try Some(fs.listStatus(dirPath).filter(_.isFile))
      catch { case _: java.io.FileNotFoundException => None }
    listed match {
      case Some(entries) =>
        def bySuffix(suffixes: String*) = entries.filter { s =>
          val n = s.getPath.getName.toLowerCase(java.util.Locale.ROOT)
          suffixes.exists(n.endsWith)
        }
        val existing = bySuffix(".warc.gz", ".warc")
        val idxs = bySuffix(".warc.gz.idx", ".warc.idx")
        if (overwrite) {
          // sidecar member indexes delete FIRST: a crash mid-overwrite
          // then leaves shards without indexes (benign — they scan
          // unsplit), never an orphaned index whose stale bytes would
          // abort a later same-named commit with a misleading
          // concurrent-writer refusal. Dot-prefixed commit tmp litter
          // (a killed attempt's leftovers) sweeps with them.
          entries.filter { s =>
            val n = s.getPath.getName
            n.startsWith(".") &&
              n.toLowerCase(java.util.Locale.ROOT).endsWith(".tmp")
          }.foreach(s => fs.delete(s.getPath, false))
          idxs.foreach(s => fs.delete(s.getPath, false))
          existing.foreach(s => fs.delete(s.getPath, false))
        } else {
          require(existing.isEmpty,
            s"warc target $path already holds ${existing.length} warc files — " +
              "appending onto an existing layout is refused; use overwrite")
          // orphaned sidecars block too: a fresh write would collide
          // with their stale bytes at the index commit, far from the
          // cause — refuse here, naming the real problem
          require(idxs.isEmpty,
            s"warc target $path holds ${idxs.length} orphaned sidecar " +
              "index files (a previously interrupted overwrite?) — use " +
              "overwrite, or delete them")
        }
      case None => fs.mkdirs(dirPath)
    }

    import org.apache.spark.sql.functions.{coalesce, col, encode, lit, md5, when}
    val normalized = data.select(
      col("url").cast(StringType).as("url"),
      (if (fields.contains("body")) col("body")
       else encode(col("text"), "UTF-8")).as("body"),
      // record_id is nullable on the READ side (records without a
      // WARC-Record-ID header surface null) — coalesce to the md5(url)
      // fallback whether the column is absent OR null-valued, so a
      // read→write round trip of such a corpus writes cleanly instead
      // of dying on a bare NPE
      (if (fields.contains("record_id"))
        coalesce(col("record_id").cast(StringType), md5(col("url")))
      else md5(col("url"))).as("record_id"),
      lit(contentType).as("ct"))
      .select(col("url"),
        when(col("body").isNull, lit(Array.empty[Byte])).otherwise(col("body"))
          .as("body"),
        col("record_id"), col("ct"))
      // a shuffle's within-partition arrival order is NOT stable across
      // task attempts; shard bytes must be a pure function of the
      // partition's row SET or a speculative/retried attempt would
      // commit differently-grouped records — the total order below
      // makes every attempt byte-identical, which the commit protocol
      // then verifies
      .sortWithinPartitions("url", "record_id", "body")

    val bcConf = SessionConf.broadcast(spark)
    normalized.foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // opts: small map, closure-shipped
        val tfs = new Path(path).getFileSystem(SessionConf.hadoop(bcConf.value, opts))
        var seq = 0
        it.grouped(capacity).foreach { group =>
          val records = group.map { row =>
            // the READER surfaces record_id as the raw header value
            // ('<urn:uuid:...>') and writeRecord wraps again — unwrap
            // a wrapped id so read->write round trips keep identity
            val rid0 = row.getString(2)
            val rid =
              if (rid0.startsWith("<urn:uuid:") && rid0.endsWith(">"))
                rid0.substring("<urn:uuid:".length, rid0.length - 1)
              else rid0
            Warc.writeRecord(row.getString(0), rid,
              row.getAs[Array[Byte]](1), row.getString(3))
          }
          val (shard, offsets) = Warc.writeShardWithIndex(records)
          // the sortWithinPartitions above makes `shard` a pure
          // function of the partition's row set, so EVERY attempt
          // produces the same bytes — [[WarcCommit.commit]] verifies
          // that instead of assuming it (a zombie attempt racing a
          // non-deterministic input is the silent duplicate/drop shape
          // this guards). Job-LEVEL atomicity is the append-refusal's
          // job: a died-midway write leaves part files that force an
          // explicit overwrite on retry, never a silent half-merge.
          val fin = new Path(path, f"part-$pid%05d-$seq%05d.warc.gz")
          val tmp = new Path(path,
            f".part-$pid%05d-$seq%05d.warc.gz.${java.util.UUID.randomUUID}%s.tmp")
          WarcCommit.commit(tfs, tmp, fin, shard, "warc write",
            "a concurrent writer or a non-deterministic input")
          // the sidecar member index — shared size-gated commit
          // ([[WarcSplit.commitIndex]])
          WarcSplit.commitIndex(tfs, new Path(path), fin,
            shard.length.toLong, offsets, "warc write (member index)",
            "a concurrent writer or a non-deterministic input")
          seq += 1
        }
    }
  }
}

class WarcScanBuilder(paths: Seq[String], conf: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var required: StructType = WarcTable.schema
  private var pushed = Array.empty[Filter]
  private var limit = -1

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT reaches the reader: the incremental member walk is lazy,
    * so "peek at 10 records of a petabyte corpus" decompresses ~10
    * records per task instead of whole shards. PARTIALLY pushed —
    * each partition stops after `limit` rows but the union of
    * partitions can exceed it, so Spark keeps the global limit
    * operator (semantics never move). */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** Accept predicates the reader can evaluate on the cheap framing
    * columns — plus `src` predicates, which prune whole FILES at
    * planning (src IS the file path, so an equality/prefix/contains
    * constraint decides a partition's fate before any IO; the COG
    * source's strongest optimization, here for free). EVERYTHING
    * stays residual (the returned array), so Spark re-applies each
    * filter on the emitted rows — the planner's and reader's
    * short-circuits are optimizations with no correctness surface. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      WarcRecordFilter.supported(f) || WarcSrcFilter.supported(f))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WarcScan(paths, conf, required, pushed, limit)
}

/** `src` predicates the PLANNER evaluates against candidate file
  * paths — a rejected file plans no partition and costs zero IO.
  * Conservative: an unsupported shape keeps every file (Spark's
  * residual evaluation keeps semantics either way). */
object WarcSrcFilter {
  def supported(f: Filter): Boolean = f match {
    case EqualTo("src", _: String) => true
    case In("src", vs) => vs.forall(_.isInstanceOf[String])
    case StringStartsWith("src", _) => true
    case StringContains("src", _) => true
    case And(l, r) => supported(l) && supported(r)
    // Or of supported shapes — the common "this shard or that shard"
    // query; keep() is a may-satisfy test so disjunction stays
    // conservative (either side keeping the file keeps it)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  /** true = the file at `uri` may satisfy the filter (keep it). */
  def keep(f: Filter, uri: String): Boolean = f match {
    case EqualTo("src", v: String) => uri == v
    case In("src", vs) => vs.exists(_ == uri)
    case StringStartsWith("src", p) => uri.startsWith(p)
    case StringContains("src", s) => uri.contains(s)
    case And(l, r) => keep(l, uri) && keep(r, uri)
    case Or(l, r) => keep(l, uri) || keep(r, uri)
    case _ => true
  }
}

/** The subset of [[org.apache.spark.sql.sources.Filter]] the reader
  * evaluates early, against (url, host, warc_type) only. Unsupported
  * shapes are simply not pushed — Spark's residual evaluation keeps
  * semantics. */
object WarcRecordFilter {
  private val cheapCols = Set("url", "host", "warc_type")

  def supported(f: Filter): Boolean = f match {
    case EqualTo(c, _: String) => cheapCols(c)
    case In(c, vs) => cheapCols(c) && vs.forall(_.isInstanceOf[String])
    case StringStartsWith(c, _) => cheapCols(c)
    case IsNotNull(c) => cheapCols(c)
    case And(l, r) => supported(l) && supported(r)
    // Or of supported shapes: `host = 'a' OR host = 'b'` — the common
    // multi-host query — short-circuits the payload work exactly like
    // an IN-list (exact evaluation on cheap columns, still residual)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  def eval(f: Filter, url: String, host: String, warcType: String): Boolean = {
    def v(c: String): String = c match {
      case "url" => url
      case "host" => host
      case _ => warcType
    }
    f match {
      case EqualTo(c, x: String) => v(c) == x
      case In(c, vs) => vs.exists(_ == v(c))
      case StringStartsWith(c, p) => v(c).startsWith(p)
      case IsNotNull(_) => true
      case And(l, r) => eval(l, url, host, warcType) && eval(r, url, host, warcType)
      case Or(l, r) => eval(l, url, host, warcType) || eval(r, url, host, warcType)
      case _ => true // never skip on a shape we don't understand
    }
  }
}

class WarcScan(paths: Seq[String], conf: Map[String, String],
    required: StructType, pushed: Array[Filter], limit: Int)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"warc ${paths.mkString(",")} PushedFilters: [${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" PushedLimit: $limit" else "")

  // ---- runtime filtering (dynamic file pruning, DSv2) ----
  // joining the corpus against a small shard-manifest/selection table
  // prunes whole FILES at EXECUTION time the way a literal src
  // predicate prunes at planning: Spark collects the broadcast build
  // side, hands the join key's values here as an In filter, and
  // re-plans the scan — a million-shard corpus joined to a 100-shard
  // manifest reads 100 files. Unhandled shapes are advisory (the join
  // re-filters rows); same contract as the COG source.
  private var runtimeSrc: Option[Set[String]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array("src").filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("src", vs) =>
      val s = vs.filter(_ != null).map(_.toString).toSet
      runtimeSrc = Some(runtimeSrc.fold(s)(_ intersect s))
    case EqualTo("src", v: String) =>
      runtimeSrc = Some(runtimeSrc.fold(Set(v))(_ intersect Set(v)))
    case _ => ()
  }

  /** One candidate shard: qualified path, byte length, and whether a
    * sidecar member index is KNOWN present/absent from the same
    * listing that found the shard (None = not listed — direct-file
    * and glob loads — so the split planner probes only then).
    * Presence is as-of THAT listing: a sidecar deleted afterwards
    * degrades to the unsplit scan (ranges() treats the vanished file
    * as absent), one added afterwards is seen on the next listing. */
  private case class Candidate(path: String, len: Long,
      idxKnown: Option[Boolean])

  /** The candidate file list after planning-time `src` pruning. ONE
    * listing feeds the partition plan, the statistics report, AND
    * sidecar presence — a directory of N large shards must not pay N
    * extra exists-probes at planning (4 RPCs/file on an object
    * store). */
  private lazy val prunedFiles: Seq[Candidate] = {
    val hc = SessionConf.hadoop(org.apache.spark.sql.SparkSession.active, conf)
    def isWarc(n: String): Boolean = {
      val l = n.toLowerCase(java.util.Locale.ROOT)
      l.endsWith(".warc.gz") || l.endsWith(".warc")
    }
    // what is NEVER a shard, whatever its suffix: hidden/marker names
    // (dot-prefixed commit tmp litter holds the SAME record bytes as
    // its committed shard — planning both would silently DUPLICATE it;
    // _SUCCESS-style job markers aren't data) and our own sidecar/tmp
    // suffixes. ONE predicate for both load styles, so `dir` and
    // `dir/*` can never disagree about litter. Skips are COUNTED and
    // logged below (r20 ADVICE): a foreign corpus whose data files
    // happen to be `_`-prefixed would otherwise silently scan short —
    // the shrunken-corpus outcome this module's header promises to
    // make diagnosable.
    def neverAShard(n: String): Boolean = {
      val l = n.toLowerCase(java.util.Locale.ROOT)
      n.startsWith(".") || n.startsWith("_") ||
        l.endsWith(".idx") || l.endsWith(".tmp")
    }
    def logSkipped(where: String, names: Iterable[String]): Unit = {
      val hidden = names.filter(n => n.startsWith(".") || n.startsWith("_"))
      if (hidden.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"warc planning skipped ${hidden.size} hidden/marker file(s) " +
            s"under $where (dot/underscore-prefixed are never shards): " +
            hidden.take(5).mkString(", ") +
            (if (hidden.size > 5) ", ..." else ""))
    }
    def expandOne(one: String): Seq[Candidate] = {
      val p = new Path(one)
      val fs = p.getFileSystem(hc)
      val status =
        try Some(fs.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status match {
        case Some(st) if st.isDirectory =>
          val listed = fs.listStatus(p).filter(_.isFile)
          val names = listed.map(_.getPath.getName).toSet
          logSkipped(one, names.filter(isWarc))
          listed.filter { s =>
            val n = s.getPath.getName
            isWarc(n) && !neverAShard(n)
          }
            .map(s => Candidate(s.getPath.toString, s.getLen,
              idxKnown = Some(names.contains(s.getPath.getName + ".idx"))))
            .sortBy(_.path).toSeq
        // qualify the direct-file form too (directory/glob expansion
        // already yields fully-qualified paths): the `src` column — and
        // what a pushed src predicate must match — must not change form
        // with load style, or `filter($"src" === "file:/...")` after a
        // direct-path load silently returns zero rows
        case Some(st) =>
          Seq(Candidate(fs.makeQualified(p).toString, st.getLen, None))
        case None =>
          val g = fs.globStatus(p)
          // an explicit glob keeps the user's selection — including
          // foreign names like CommonCrawl's *.warc.wet.gz that the
          // directory branch's extension filter would not list — minus
          // the shared never-a-shard litter classes
          val matched =
            if (g == null) Array.empty[org.apache.hadoop.fs.FileStatus]
            else {
              logSkipped(one,
                g.filter(_.isFile).map(_.getPath.getName).toSeq)
              g.filter(s => s.isFile && !neverAShard(s.getPath.getName))
            }
          require(matched.nonEmpty, s"no warc files match $one")
          matched.map(s => Candidate(s.getPath.toString, s.getLen, None))
            .sortBy(_.path).toSeq
      }
    }
    val all = paths.flatMap(expandOne).distinctBy(_.path)
    require(all.nonEmpty, s"no .warc.gz files under ${paths.mkString(",")}")
    // planning-time file pruning: a pushed src predicate decides each
    // file's fate before any IO (an empty plan is legal — the filter
    // matched nothing)
    val srcPushed = pushed.filter(WarcSrcFilter.supported)
    all.filter(c => srcPushed.forall(WarcSrcFilter.keep(_, c.path)))
  }

  /** Post-pruning size to the optimizer: a small (or src-pruned-small)
    * crawl corpus joined against a big table gets broadcast instead of
    * shuffled — the join-side payoff of honest source statistics.
    * Gzipped files are scaled by `spark.sql.sources.fileCompressionFactor`
    * (the FileScan convention, default 1.0): crawl text inflates ~5-10×
    * in memory, and a corpus just under the broadcast threshold on disk
    * must not blow past it after decode. Row count is unknowable
    * without decoding, so it stays empty. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = {
      val factor = org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
      java.util.OptionalLong.of(prunedFiles.map { c =>
        if (c.path.toLowerCase(java.util.Locale.ROOT).endsWith(".gz"))
          math.ceil(c.len * factor).toLong
        else c.len
      }.sum)
    }
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    // runtime src pruning layers on top of the static (pushed-literal)
    // pruning; an empty post-filter plan is legal — the join key
    // matched nothing
    val files = runtimeSrc.fold(prunedFiles)(keep =>
      prunedFiles.filter(c => keep.contains(c.path)))
    // session conf rides the memoized broadcast; the table's own (tiny)
    // option map rides the partition itself
    val bcConf = SessionConf.broadcast(spark)
    // within-file splitting: a shard larger than split.size whose
    // sidecar member index exists fans out across tasks at member
    // boundaries ([[WarcSplit]]) — parallelism scales with BYTES, not
    // file count, on corpora of few large shards; sidecar-less files
    // plan one partition exactly as before. Sidecar PRESENCE rides the
    // directory listing that found the shard (idxKnown), so the common
    // case pays zero extra planning RPCs; only direct-file/glob loads
    // of oversize files probe, and only the present indexes are read.
    val splitSize = conf.get("split.size").map(_.toLong)
      .getOrElse(WarcSplit.DefaultSplitSize)
    require(splitSize > 0, s"split.size must be positive, got $splitSize")
    val hc = SessionConf.hadoop(bcConf.value, conf)
    files.flatMap { c =>
      WarcSplit.ranges(new Path(c.path), c.len, splitSize, hc, c.idxKnown)
        .map { case (s, e) =>
          WarcInputPartition(c.path, s, e, bcConf, conf): InputPartition
        }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // only RECORD-level filters reach the reader: src filters are
    // consumed at planning, and the record evaluator's column routing
    // must never see them
    new WarcReaderFactory(required.fieldNames,
      pushed.filter(WarcRecordFilter.supported), limit)
}

/** Reads at most `limit` bytes of `in`, then reports EOF — the
  * split-partition reader's range bound (the range end is a gzip
  * member boundary, so the member walker sees a clean EOF there, and
  * a LYING index turns into its loud truncation refusal instead of a
  * silent short read). Closing closes `in`. */
private[graft] final class BoundedRangeStream(in: java.io.InputStream,
    limit: Long) extends java.io.InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (remaining <= 0) return -1
    val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
    if (n > 0) remaining -= n
    n
  }
  override def close(): Unit = in.close()
}

/** One scan task: byte range [start, end) of `uri` — the whole file,
  * or one member-aligned slice of it when a sidecar index let the
  * planner split ([[WarcSplit]]). */
case class WarcInputPartition(uri: String, start: Long, end: Long,
    conf: org.apache.spark.broadcast.Broadcast[Map[String, String]],
    tableOpts: Map[String, String])
  extends InputPartition

class WarcReaderFactory(cols: Array[String], pushed: Array[Filter],
    limit: Int = -1)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[WarcInputPartition]
    new PartitionReader[InternalRow] {
      private val needPayload =
        cols.exists(Set("status", "content_type", "body", "text"))
      private val needText = cols.contains("text")

      private var in: java.io.InputStream = _
      private var raw: Iterator[Warc.Record] = _

      private val records: Iterator[Warc.Record] = {
        val p = new Path(part.uri)
        val fs = p.getFileSystem(SessionConf.hadoop(part.conf.value, part.tableOpts))
        // incremental member-walk ([[Warc.streamRecords]]): task memory
        // is O(one record), never O(file) or O(member), so a foreign
        // multi-gigabyte CommonCrawl shard scans in a bounded task
        // heap — the same reason the COG source reads ranged. A
        // split partition seeks to its member-aligned start and reads
        // exactly its range (the range END is a member boundary by
        // [[WarcSplit]] construction, so the bounded stream ends on a
        // clean record edge — anything else refuses loudly below).
        // Every violation stays LOUD and is re-raised naming the file
        // and byte range (corruption surfaces mid-iteration here, not
        // at open).
        val opened = fs.open(p)
        // if the seek throws (a split planned against a file that was
        // since replaced shorter), the stream must not leak — close()
        // is never called on a reader whose construction failed
        try {
          if (part.start > 0) opened.seek(part.start)
          in = new BoundedRangeStream(opened, part.end - part.start)
        } catch {
          case e: Throwable =>
            // a close() failure on the now-broken stream must not
            // mask the informative seek error
            try opened.close()
            catch { case c: Throwable => e.addSuppressed(c) }
            throw e
        }
        raw = Warc.streamRecords(in)
        new Iterator[Warc.Record] {
          private def naming[T](f: => T): T =
            try f
            catch {
              case e: Exception => throw new IllegalArgumentException(
                s"warc scan failed to parse '${part.uri}' " +
                  s"(bytes ${part.start}-${part.end}): ${e.getMessage}", e)
            }
          override def hasNext: Boolean = naming(raw.hasNext)
          override def next(): Warc.Record = naming(raw.next())
        }
      }

      private var current: InternalRow = _
      private var emitted = 0

      override def next(): Boolean = {
        current = null
        // pushed per-partition limit: the record stream is LAZY, so
        // stopping here means the rest of the shard is never even
        // decompressed (Spark's global limit stays on top — partial
        // push, semantics unmoved)
        if (limit >= 0 && emitted >= limit) return false
        while (current == null && records.hasNext) {
          val r = records.next()
          val url = r.targetUri
          val host = WarcTable.hostOf(url)
          val wtype = r.recordType
          // cheap-column short-circuit: a pushed filter that rejects
          // here skips the HTTP split and extraction entirely
          if (pushed.forall(WarcRecordFilter.eval(_, url, host, wtype))) {
            // the HTTP split runs at most once per surviving record.
            // LOUD on a response record whose payload is malformed
            // (the module's refusal contract — a silently-nulled row
            // would mask corruption that survived the gzip layer);
            // non-response records (warcinfo, request, metadata)
            // legitimately carry non-HTTP payloads and yield nulls.
            val http: Option[(String, Array[Byte])] =
              if (needPayload && wtype == "response")
                try Some(Warc.httpBody(r.payload))
                catch {
                  case e: IllegalArgumentException =>
                    throw new IllegalArgumentException(
                      s"warc scan: response record '$url' in " +
                        s"'${part.uri}' has a malformed HTTP payload: " +
                        e.getMessage, e)
                }
              else None
            // the HTTP header block = payload up to the CRLFCRLF
            // separator (bounded; never scans into the body)
            lazy val httpHead: String = {
              val p = r.payload
              var i = 0
              while (i + 3 < p.length &&
                  !(p(i) == '\r' && p(i + 1) == '\n' &&
                    p(i + 2) == '\r' && p(i + 3) == '\n')) i += 1
              new String(p, 0, math.min(i, p.length), "ISO-8859-1")
            }
            val values: Array[Any] = cols.map {
              case "src" => UTF8String.fromString(part.uri)
              case "url" => UTF8String.fromString(url)
              case "host" => UTF8String.fromString(host)
              case "record_id" =>
                r.headers.get("WARC-Record-ID")
                  .map(UTF8String.fromString).orNull
              case "warc_type" => UTF8String.fromString(wtype)
              case "status" =>
                http.map(h => UTF8String.fromString(h._1)).orNull
              case "content_type" =>
                http.flatMap { _ =>
                  httpHead.linesIterator
                    .find(_.toLowerCase.startsWith("content-type:"))
                    .map(l => UTF8String.fromString(
                      l.substring(l.indexOf(':') + 1).trim))
                }.orNull
              case "body" => http.map(_._2).orNull
              case "text" =>
                http.map { case (_, b) => UTF8String.fromString(
                  HtmlExtract.extract(new String(b, "UTF-8")))
                }.orNull
              case other => throw new IllegalStateException(
                s"warc scan asked for unknown column '$other'")
            }
            // needText documents the intent; the match above only runs
            // the extractor when "text" is in cols
            val _ = needText
            current = new GenericInternalRow(values)
            emitted += 1
          }
        }
        current != null
      }

      override def get(): InternalRow = current
      override def close(): Unit = {
        // release the walker's in-flight native Inflater FIRST — a
        // pushed LIMIT abandons the iterator mid-member, and the
        // stream close below can't reach it
        raw match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
        if (in != null) in.close()
      }
    }
  }
}
